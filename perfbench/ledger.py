"""Per-query execution ledger read from outside the engine.

Every traced query runs under two Spark job groups (``<tag>:build``
around ``fn(spark, sf)`` and ``<tag>:exec`` around the sink action).
Micro-batch jobs run on the stream thread under the stream's run id
instead, which only the :class:`StreamListener` sees. Right after the
query ends, :func:`read_query` collects those jobs and their stages from
the status store: it keeps only ``spark.ui.retainedJobs`` /
``retainedStages`` (1000 each), so a ledger read at the end of a run
would miss most of it.
"""

from __future__ import annotations

from datetime import datetime

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

MB = 1024 * 1024

#: Job class by callsite prefix (the status store's ``JobData.name``);
#: first match wins, anything else is ``other``.
JOB_CLASSES = (
    ("save", "sink"),
    ("$anonfun$withThreadLocalCaptured", "aqe"),
    ("localCheckpoint", "stage"),
    ("parquet", "parquet"),
    ("start", "stream"),
    ("collect", "probe"),
    ("count", "probe"),
    ("take", "probe"),
    ("first", "probe"),
    ("head", "probe"),
    ("toPandas", "probe"),
)


def job_class(callsite: str) -> str:
    for prefix, cls in JOB_CLASSES:
        if callsite.startswith(prefix):
            return cls
    return "other"


class StreamListener(StreamingQueryListener):
    """Collects micro-batch progress; read after each query ends."""

    def __init__(self) -> None:
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.progress.append(
            {
                "run_id": str(p.runId),
                "batch": p.batchId,
                "start_ms": int(datetime.fromisoformat(p.timestamp).timestamp() * 1000),
                "rows": p.numInputRows,
                "trigger_ms": p.durationMs.get("triggerExecution", 0),
                "add_batch_ms": p.durationMs.get("addBatch", 0),
                "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
            }
        )

    def onQueryTerminated(self, event) -> None:
        pass


def _opt_ms(opt) -> int | None:
    return opt.get().getTime() if opt.isDefined() else None


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def read_query(sc, groups: list[str], window_ms: tuple[int, int]) -> dict:
    """Jobs and stages of one query (``groups``: its build and exec job
    groups plus its streams' run ids), summed into one ledger row.
    ``window_ms`` is the query's wall-clock interval, for the driver
    gap: the time inside it during which none of its jobs ran."""
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    row = {
        "jobs": 0,
        "build_jobs": 0,
        "stages": 0,
        "tasks": 0,
        "run_ms": 0,
        "cpu_ns": 0,
        "gc_ms": 0,
        "input_bytes": 0,
        "input_rows": 0,
        "shuffle_read_bytes": 0,
        "shuffle_write_bytes": 0,
        "spill_bytes": 0,
        "busy_ms": {},
        "by_class": {},
        "job_spans": [],
    }
    intervals = []
    seen_stages: set[int] = set()
    for group in groups:
        ids = sorted(tracker.getJobIdsForGroup(group))
        if not group.endswith(":exec"):  # fn's own jobs and its streams'
            row["build_jobs"] += len(ids)
        for jid in ids:
            job = store.job(jid)
            callsite = job.name()
            cls = job_class(callsite)
            start, end = _opt_ms(job.submissionTime()), _opt_ms(job.completionTime())
            row["jobs"] += 1
            row["by_class"][cls] = row["by_class"].get(cls, 0) + 1
            if start is not None and end is not None:
                intervals.append((start, end))
                row["busy_ms"][cls] = row["busy_ms"].get(cls, 0) + end - start
                row["job_spans"].append((jid, cls, callsite, start, end))
            for sid in job.stageIds().mkString(",").split(","):
                if sid and int(sid) not in seen_stages:
                    seen_stages.add(int(sid))
                    _add_stage(store, int(sid), row)
    lo, hi = window_ms
    clipped = [(max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi]
    row["gap_ms"] = max(0, (hi - lo) - _union_ms(clipped))
    return row


def _add_stage(store, sid: int, row: dict) -> None:
    try:
        st = store.lastStageAttempt(sid)
    except Py4JJavaError:  # NoSuchElementException: evicted or never submitted
        return
    if st.status().toString() == "SKIPPED":
        return
    row["stages"] += 1
    row["tasks"] += st.numCompleteTasks()
    row["run_ms"] += st.executorRunTime()
    row["cpu_ns"] += st.executorCpuTime()
    row["gc_ms"] += st.jvmGcTime()
    row["input_bytes"] += st.inputBytes()
    row["input_rows"] += st.inputRecords()
    row["shuffle_read_bytes"] += st.shuffleReadBytes()
    row["shuffle_write_bytes"] += st.shuffleWriteBytes()
    row["spill_bytes"] += st.diskBytesSpilled()


def pinned_mb(sc) -> float:
    """RDD storage (memory plus disk) the block managers hold now."""
    infos = sc._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / MB


def release_persisted(sc) -> None:
    """Drop every persisted RDD. Safe between passes because every query
    builds its frames inside its own ``fn`` call and the sink consumes
    them before the pass ends."""
    for rdd in sc._jsc.getPersistentRDDs().values():
        rdd.unpersist()
