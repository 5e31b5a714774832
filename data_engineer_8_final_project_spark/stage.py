"""Frame staging: materialize a frame once, with a conf-selectable sink.

Stage a frame when two or more consumers (or the next round of a loop)
would otherwise re-evaluate an expensive lineage. The staged frame is
lineage-free, so a loop that stages every generation keeps a flat plan
however many rounds it runs. Locally the right sink is
``localCheckpoint(eager=True)`` (executor block storage, blocks freed by
GC); at cluster scale it is a parquet write plus read-back (off
block-manager memory, survives executor loss, and the read-back scan
re-splits to cluster parallelism).

Sink selection (runtime confs, settable per session/submit):

- ``spark.graft.stage.sink`` = ``localCheckpoint`` (default) | ``parquet``;
  any other value raises.
- ``spark.graft.stage.dir``  = parquet-sink base dir. Defaults to $TMPDIR
  on a ``local`` master; required on any other master, because a
  driver-local tmp dir is not storage the executors share.

Scalar facts about a staged frame (its row count, a loop's convergence
sum) come from :func:`stage_observed`: the staging job computes them as
it materializes the frame, so no separate count/collect job re-scans it.

Not a cross-run cache: every call materializes the frame it is given,
inside the calling query's own invocation. A parquet dir is unique per
(pid, call), never keyed on an input path; :func:`release` deletes it
once a loop has superseded the frame, and the rest are reaped at process
exit.
"""

from __future__ import annotations

import atexit
import itertools
import os
import shutil
import tempfile
import weakref

from pyspark.sql import Column, DataFrame, Observation

SINK_CONF = "spark.graft.stage.sink"
DIR_CONF = "spark.graft.stage.dir"

_seq = itertools.count()
_created: set[str] = set()
# parquet-sink frame -> its dir, so release() can find what to delete
_dirs: weakref.WeakKeyDictionary[DataFrame, str] = weakref.WeakKeyDictionary()


def _reap() -> None:
    for d in _created:
        shutil.rmtree(d, ignore_errors=True)


atexit.register(_reap)


def _parquet_base(spark) -> str:
    base = spark.conf.get(DIR_CONF, None)
    if base:
        return base
    if not spark.sparkContext.master.startswith("local"):
        raise ValueError(
            f"{SINK_CONF}=parquet on master {spark.sparkContext.master!r} "
            f"needs {DIR_CONF} set to storage every executor can reach"
        )
    return tempfile.gettempdir()


def stage_frame(df: DataFrame) -> DataFrame:
    """Materialize ``df`` once and return a lineage-free frame of it.

    Use when >= 2 consumers would otherwise re-evaluate an EXPENSIVE
    lineage: staging a cheap lineage measures slower, because the
    materialize + re-read cost must stay under the recompute cost.
    """
    spark = df.sparkSession
    sink = spark.conf.get(SINK_CONF, "localCheckpoint")
    if sink == "localCheckpoint":
        return df.localCheckpoint(eager=True)
    if sink != "parquet":
        raise ValueError(f"{SINK_CONF}={sink!r}: expected 'localCheckpoint' or 'parquet'")
    path = os.path.join(_parquet_base(spark), f"spark_graft_stage_{os.getpid()}_{next(_seq)}")
    _created.add(path)
    df.write.mode("overwrite").parquet(path)
    out = spark.read.parquet(path)
    _dirs[out] = path
    return out


def stage_observed(df: DataFrame, *aggs: Column) -> tuple[DataFrame, dict]:
    """:func:`stage_frame` ``df`` and return it with the aggregates
    ``aggs`` (aliased ``Column`` s) evaluated over its rows by the same
    job, as a ``{alias: value}`` dict. Over an empty frame a ``count``
    is 0 and a ``sum`` is ``None``."""
    obs = Observation()
    return stage_frame(df.observe(obs, *aggs)), obs.get


def release(df: DataFrame) -> None:
    """Free a staged frame that nothing will read again.

    Deletes a parquet-sink frame's dir, so a loop that stages every
    generation holds at most two on disk. A no-op for a
    ``localCheckpoint`` frame, whose blocks GC frees.
    """
    path = _dirs.pop(df, None)
    if path is not None:
        _created.discard(path)
        shutil.rmtree(path, ignore_errors=True)
