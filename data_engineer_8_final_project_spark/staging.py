"""Scratch dirs for streaming replays.

A streaming replay stages a deterministic, chunked copy of a fixture
under ``$TMPDIR/spark_graft_<family>_<pid>_<key>`` and feeds it to a
file stream source one chunk per micro-batch. :func:`stage_replay` owns
that protocol; a stager supplies only its chunk recipe.

Lifetime rules, all enforced by :func:`scratch_dir`:

- The dir name carries the pid, so two concurrent processes (e.g. two
  test runs at once) never rmtree or append under each other, and no
  later process reuses the dir.
- Every dir is removed at process exit by one ``atexit`` hook.
- A process that dies before its hook runs leaks its dirs, so each
  allocation first sweeps its family's dirs older than a day
  (:func:`sweep_stale_stage_dirs`).
"""

from __future__ import annotations

import atexit
import hashlib
import json
import os
import shutil
import tempfile
import time

#: Reap horizon: a day. Far above any real staging lifetime (seconds)
#: so a paused-under-debugger process is safe, far below "forever".
STALE_STAGE_AGE_S = 24 * 3600

#: Written last into a finished replay dir; holds the stager's JSON meta.
MARKER = "_staged_ok"

#: Dirs allocated by this process, each removed once at exit.
_allocated: set[str] = set()


def _reap() -> None:
    for d in _allocated:
        shutil.rmtree(d, ignore_errors=True)


atexit.register(_reap)


def sweep_stale_stage_dirs(prefix: str, max_age_s: int = STALE_STAGE_AGE_S) -> None:
    """Best-effort removal of ``$TMPDIR/<prefix>*`` dirs whose mtime is
    older than ``max_age_s`` seconds.

    The dir mtime is refreshed by its final write (the ``_staged_ok``
    marker), so age = time since staging finished. Races are benign:
    a concurrent sweep of the same orphan makes one rmtree a no-op,
    and a dir created between listdir and stat is younger than the
    gate by construction. Hygiene never fails a query: every error is
    ignored.
    """
    root = tempfile.gettempdir()
    now = time.time()
    try:
        names = os.listdir(root)
    except OSError:
        return
    for name in names:
        if not name.startswith(prefix):
            continue
        path = os.path.join(root, name)
        try:
            if os.path.isdir(path) and now - os.stat(path).st_mtime > max_age_s:
                shutil.rmtree(path, ignore_errors=True)
        except OSError:
            continue


def scratch_dir(family: str, *key_parts) -> str:
    """This process's ``$TMPDIR/spark_graft_<family>_<pid>_<key>`` path
    for ``key_parts``, reaped at exit.

    Sweeps the family's day-old orphans first. The path is not created;
    whatever sits there before this process first asks for it belongs
    to a dead process that had the same pid, and is removed.
    """
    prefix = f"spark_graft_{family}_"
    sweep_stale_stage_dirs(prefix)
    pid = os.getpid()
    key = hashlib.md5(repr((family, *key_parts, pid)).encode()).hexdigest()[:12]
    path = os.path.join(tempfile.gettempdir(), f"{prefix}{pid}_{key}")
    if path not in _allocated:
        shutil.rmtree(path, ignore_errors=True)
        _allocated.add(path)
    return path


def stage_replay(family: str, src: str, build, *key_parts) -> tuple[str, dict]:
    """Stage a chunked replay of fixture ``src``; return ``(dir, meta)``.

    ``build()`` returns the chunk frames in replay order, or a
    ``(chunks, meta)`` pair whose JSON-able ``meta`` dict is recorded
    in the marker and returned by every later call. Each chunk is
    appended as written (``coalesce(1)`` it for a one-file chunk) and
    its files get the whole-second mtime ``mtime(src) + 1 + i``, so the
    file source replays chunk ``i`` in micro-batch order.

    The dir is keyed on ``src``'s absolute path, mtime and size plus
    ``key_parts``: a changed fixture restages. A later call in the same
    process with the same key reuses the finished dir without running
    a job.
    """
    st = os.stat(src)
    stage = scratch_dir(family, os.path.abspath(src), st.st_mtime_ns, st.st_size, *key_parts)
    marker = os.path.join(stage, MARKER)
    if not os.path.exists(marker):
        shutil.rmtree(stage, ignore_errors=True)
        out = build()
        chunks, meta = out if isinstance(out, tuple) else (out, {})
        pinned: set[str] = set()
        for i, chunk in enumerate(chunks):
            chunk.write.mode("append").parquet(stage)
            pin_new_file_mtimes(stage, st.st_mtime + 1 + i, pinned)
        with open(marker, "w") as f:
            json.dump(meta, f)
    with open(marker) as f:
        return stage, json.load(f)


def pin_new_file_mtimes(stage: str, t: float, staged: set[str]) -> None:
    """Pin EXPLICIT mtime ``t`` on stage part-files not yet in ``staged``.

    The file stream source feeds micro-batches in mtime order. On
    filesystems with coarse mtime granularity two sequential writes can
    tie, and the source's tiebreak over random part-file names could
    replay a later chunk first. Callers pass a strictly increasing
    whole-second ``t`` per chunk and the shared ``staged`` set
    accumulates files already pinned.
    """
    for name in sorted(os.listdir(stage)):
        p = os.path.join(stage, name)
        if name.endswith(".parquet") and p not in staged:
            os.utime(p, (t, t))
            staged.add(p)
