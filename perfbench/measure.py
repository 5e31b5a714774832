"""The benchmark's measuring code, loaded by worker.py once the session is
up (so ``setup_s`` holds none of it): the passes, the fingerprint check,
the end-to-end and per-layer figures, the span tree, and the ``record``
and ``selftest`` modes.

Each query execution is ``registry.all_queries()[name].fn(spark, sf)``
(build) followed by a ``noop`` sink write (execute). Tracing only
labels job groups, listens to streams and reads the status store; it
changes nothing inside the package.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import time
import traceback

from data_engineer_8_final_project_spark import parity, registry

import fingerprint
import ledger
from workloads import SETTLE_PASSES, TRACED_WARM_PASSES, WARM_PASSES, WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))

MB = ledger.MB
#: Fixed query of the self-tests: AQE, localCheckpoint and sink jobs,
#: with a double column to perturb.
SELFTEST_QUERY = "brand_affinity_pairs"


def tmp_usage(path: str) -> tuple[float, int]:
    """(MB under ``path``, directories directly under it)."""
    total, dirs = 0, 0
    for entry in os.scandir(path):
        dirs += entry.is_dir(follow_symlinks=False)
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(root, f)).st_size
            except FileNotFoundError:
                pass
    return total / MB, dirs


def jvm_peak_rss_mb(sc) -> float:
    with open(f"/proc/{sc._gateway.proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


class Bench:
    def __init__(self, spark, workload: str, seed: int, data_dir: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.queries = registry.all_queries()
        self.names = WORKLOADS[workload]
        self.rng = random.Random(seed)
        self.data_dir = data_dir
        self.tmp_dir = os.environ["TMPDIR"]
        self.listener = ledger.StreamListener()
        self.listening = False
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def _fail(self, msg: str) -> None:
        self.failed += 1
        self.errors.append(msg[:400])

    def _listen(self, on: bool) -> None:
        if on != self.listening:
            (self.spark.streams.addListener if on else self.spark.streams.removeListener)(
                self.listener
            )
            self.listening = on

    def execute(self, name: str, tag: str, traced: bool) -> dict:
        """Build plus execute one query; with ``traced``, also its ledger."""
        rec: dict = {"query": name}
        self.attempted += 1
        n_progress = len(self.listener.progress)
        if traced:
            self.sc.setJobGroup(f"{tag}:build", name)
        w0, t0 = time.time(), time.perf_counter()
        try:
            df = self.queries[name].fn(self.spark, self.data_dir)
            t1 = time.perf_counter()
            if traced:
                self.sc.setJobGroup(f"{tag}:exec", name)
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
        except Exception as e:  # counted in failed_ratio; the run goes on
            traceback.print_exc()
            self._fail(f"{name}: {e!r}")
            rec["error"] = True
            return rec
        finally:
            if traced:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
        rec.update(start=w0, build_s=t1 - t0, exec_s=t2 - t1, latency_s=t2 - t0)
        if traced:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
            progress = self.listener.progress[n_progress:]
            groups = [f"{tag}:build", f"{tag}:exec"]
            groups += sorted({p["run_id"] for p in progress})
            window = (int(w0 * 1000), int((w0 + t2 - t0) * 1000))
            rec["ledger"] = ledger.read_query(self.sc, groups, window)
            rec["progress"] = progress
        return rec

    def run_pass(self, kind: str, index: int, traced: bool) -> dict:
        # The cold pass keeps the listed order: which query pays the
        # session's first-use costs moves cold_pass_s by ~10%.
        order = self.names if kind == "cold" else self.rng.sample(self.names, len(self.names))
        self._listen(traced)
        w0, t0 = time.time(), time.perf_counter()
        recs = [self.execute(n, f"p{index}:{n}", traced) for n in order]
        wall = time.perf_counter() - t0
        # Outside the timed region: what the pass left behind, then the
        # release of its persisted blocks.
        pinned = ledger.pinned_mb(self.sc)
        tmp_mb, tmp_dirs = tmp_usage(self.tmp_dir)
        ledger.release_persisted(self.sc)
        return {
            "kind": kind,
            "traced": traced,
            "start": w0,
            "wall_s": wall,
            "queries": recs,
            "pinned_mb": pinned,
            "tmp_mb": tmp_mb,
            "tmp_dirs": tmp_dirs,
        }

    def check(self, expected: dict) -> None:
        """Fingerprint every query's output once, after the timed passes."""
        self._listen(False)
        for name in self.rng.sample(self.names, len(self.names)):
            self.attempted += 1
            try:
                got = fingerprint.fingerprint(self.queries[name].fn(self.spark, self.data_dir).toPandas())
            except Exception as e:
                traceback.print_exc()
                self._fail(f"{name} (check): {e!r}")
                continue
            if not fingerprint.matches(got, expected[name]):
                self._fail(f"{name}: fingerprint {got} != expected {expected[name]}")


def end_to_end(passes: list[dict]) -> tuple[dict, dict]:
    """End-to-end figures from the warm passes. ``query_p50_s`` is the
    median over queries of each query's median latency; the tail is the
    median over passes of each pass's slowest execution, and the note
    says which query that was and how many executions there were."""
    warm = [p for p in passes if p["kind"] == "warm"]
    ok = [[r for r in p["queries"] if "error" not in r] for p in warm]
    per_query: dict[str, list[float]] = {}
    for r in (r for rs in ok for r in rs):
        per_query.setdefault(r["query"], []).append(r["latency_s"])
    slowest = [max(rs, key=lambda r: r["latency_s"]) for rs in ok if rs]
    metrics = {
        "cold_pass_s": passes[0]["wall_s"],
        "wall_s": statistics.median(p["wall_s"] for p in warm),
        "query_p50_s": statistics.median(statistics.median(v) for v in per_query.values()),
        "query_tail_s": statistics.median(r["latency_s"] for r in slowest),
    }
    names = [r["query"] for r in slowest]
    note = {"slowest": max(set(names), key=names.count), "executions": sum(map(len, ok))}
    return metrics, note


def pass_layers(p: dict, cores: int) -> dict:
    """Per-layer figures of one traced pass, summed over its queries."""
    recs = [r for r in p["queries"] if "ledger" in r]
    rows = [r["ledger"] for r in recs]
    prog = [e for r in recs for e in r["progress"]]

    def total(key: str) -> float:
        return sum(row[key] for row in rows)

    def jobs(cls: str) -> int:
        return sum(row["by_class"].get(cls, 0) for row in rows)

    def busy_s(cls: str) -> float:
        return sum(row["busy_ms"].get(cls, 0) for row in rows) / 1000

    trigger_s = sum(e["trigger_ms"] for e in prog) / 1000
    add_batch_s = sum(e["add_batch_ms"] for e in prog) / 1000
    run_s = total("run_ms") / 1000
    return {
        "queries.build_s": sum(r["build_s"] for r in recs),
        "queries.exec_s": sum(r["exec_s"] for r in recs),
        "queries.build_jobs": total("build_jobs"),
        "operators.sync_actions": jobs("probe"),
        "operators.sync_busy_s": busy_s("probe"),
        "stage.jobs": jobs("stage"),
        "stage.busy_s": busy_s("stage"),
        "stage.pinned_mb": p["pinned_mb"],
        "staging.parquet_write_jobs": jobs("parquet"),
        "staging.tmp_mb_left": p["tmp_mb"],
        "staging.tmp_dirs_left": p["tmp_dirs"],
        "streaming.batches": len(prog),
        "streaming.input_rows": sum(e["rows"] for e in prog),
        "streaming.trigger_s": trigger_s,
        "streaming.add_batch_s": add_batch_s,
        "streaming.overhead_s": trigger_s - add_batch_s,
        "streaming.state_rows_peak": max((e["state_rows"] for e in prog), default=0),
        "sources.input_mb": total("input_bytes") / MB,
        "sources.input_rows": total("input_rows"),
        "spark.jobs": total("jobs"),
        "spark.aqe_stage_jobs": jobs("aqe"),
        "spark.stages": total("stages"),
        "spark.tasks": total("tasks"),
        "spark.executor_run_s": run_s,
        "spark.executor_cpu_s": total("cpu_ns") / 1e9,
        "spark.gc_s": total("gc_ms") / 1000,
        "spark.core_util": run_s / (cores * p["wall_s"]),
        "spark.driver_gap_s": total("gap_ms") / 1000,
        "spark.shuffle_read_mb": total("shuffle_read_bytes") / MB,
        "spark.shuffle_write_mb": total("shuffle_write_bytes") / MB,
        "spark.spill_disk_mb": total("spill_bytes") / MB,
    }


def per_layer(passes: list[dict], cores: int) -> dict:
    """Median over the traced warm passes of each per-pass figure, plus
    the traced/untraced warm-pass wall ratio."""
    warm = [p for p in passes if p["kind"] == "warm"]
    traced = [pass_layers(p, cores) for p in warm if p["traced"]]
    metrics = {k: statistics.median(t[k] for t in traced) for k in traced[0]}
    metrics["trace.overhead_ratio"] = statistics.median(
        p["wall_s"] for p in warm if p["traced"]
    ) / statistics.median(p["wall_s"] for p in warm if not p["traced"])
    return metrics


def spans(workload: str, passes: list[dict]) -> list[dict]:
    """run -> pass -> query -> {build, execute, job, micro_batch} spans of
    the traced passes, times in epoch milliseconds."""
    out: list[dict] = []

    def add(kind, name, parent, start_ms, end_ms, **attrs):
        out.append(
            {"id": len(out), "parent": parent, "kind": kind, "name": name,
             "start_ms": start_ms, "end_ms": end_ms, **attrs}
        )
        return len(out) - 1

    ms = lambda s: int(s * 1000)  # noqa: E731
    run = add("run", workload, None, ms(passes[0]["start"]), None)
    for p in passes:
        if not p["traced"]:
            continue
        pid = add("pass", p["kind"], run, ms(p["start"]), ms(p["start"] + p["wall_s"]))
        for r in p["queries"]:
            if "ledger" not in r:
                continue
            s = r["start"]
            qid = add("query", r["query"], pid, ms(s), ms(s + r["latency_s"]))
            add("build", r["query"], qid, ms(s), ms(s + r["build_s"]))
            add("execute", r["query"], qid, ms(s + r["build_s"]), ms(s + r["latency_s"]))
            for jid, cls, callsite, a, b in r["ledger"]["job_spans"]:
                add("job", callsite, qid, a, b, job_id=jid, job_class=cls)
            for e in r["progress"]:
                add("micro_batch", e["run_id"], qid, e["start_ms"], e["start_ms"] + e["trigger_ms"],
                    batch=e["batch"], rows=e["rows"])
    last = passes[-1]
    out[run]["end_ms"] = ms(last["start"] + last["wall_s"])
    return out


def bench(spark, get_spark_s: float, workload: str, seed: int, seconds: float, trace: bool,
          data_dir: str, spans_path: str | None, out_path: str) -> int:
    """Cold pass, ``SETTLE_PASSES`` unmeasured warm passes, a fixed number
    of measured warm passes and the fingerprint check; writes the figures
    to ``out_path``."""
    sc = spark.sparkContext
    with open(os.path.join(HERE, "expected.json")) as f:
        expected = json.load(f)
    b = Bench(spark, workload, seed, data_dir)
    passes = [b.run_pass("cold", 0, trace)]
    for _ in range(SETTLE_PASSES):
        passes.append(b.run_pass("settle", len(passes), trace))
    # Every run measures the same pass positions. ``seconds`` only stops
    # the measured passes early on a host so slow that the run would
    # overrun its time limit. Traced runs interleave untraced and traced
    # passes (U T T U) so the overhead ratio compares like with like.
    t0 = time.perf_counter()
    for k in range(TRACED_WARM_PASSES if trace else WARM_PASSES):
        if k >= 2 and time.perf_counter() - t0 > 4 * seconds:
            break
        passes.append(b.run_pass("warm", len(passes), trace and k % 4 in (1, 2)))
    b.check(expected)
    tmp_mb, tmp_dirs = tmp_usage(b.tmp_dir)
    result = {
        "attempted": b.attempted,
        "failed": b.failed,
        "errors": b.errors,
        "warm_walls": [round(p["wall_s"], 4) for p in passes if p["kind"] == "warm"],
        "before_exit": {"pinned_mb": ledger.pinned_mb(sc), "tmp_mb": tmp_mb, "tmp_dirs": tmp_dirs},
    }
    if trace:
        layers = per_layer(passes, sc.defaultParallelism)
        layers["session.get_spark_s"] = get_spark_s
        layers["session.jvm_peak_rss_mb"] = jvm_peak_rss_mb(sc)
        result["metrics"] = layers
        if spans_path:
            with open(spans_path, "w") as f:
                json.dump({"workload": workload, "seed": seed, "spans": spans(workload, passes)}, f)
    else:
        result["metrics"], result["tail"] = end_to_end(passes)
    with open(out_path, "w") as f:
        json.dump(result, f)
    return 0


def record(spark, data_dir: str, expected_path: str) -> int:
    """Record each workload query's fingerprint, only from output that
    matches the query's DuckDB oracle (row count only without one)."""
    queries = registry.all_queries()
    names = sorted({n for names in WORKLOADS.values() for n in names})
    expected, bad = {}, []
    for name in names:
        q = queries[name]
        if q.oracle is not None:
            res = parity.compare(q.fn(spark, data_dir), parity.run_oracle(data_dir, q.oracle))
            if not res.ok:
                bad.append(f"{name}: {res.detail}")
                continue
        fp = fingerprint.fingerprint(q.fn(spark, data_dir).toPandas())
        expected[name] = fp if q.oracle is not None else {"rows": fp["rows"]}
        print(name, expected[name], flush=True)
    if bad:
        print("oracle mismatch, nothing recorded:\n" + "\n".join(bad))
        return 1
    with open(expected_path, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


def selftest(spark, data_dir: str, expected_path: str) -> int:
    """A one-row change fails the fingerprint; two reps of one query
    (after a warm-up rep) give the same job and stage counts."""
    with open(expected_path) as f:
        want = json.load(f)[SELFTEST_QUERY]
    checks = []

    pdf = registry.all_queries()[SELFTEST_QUERY].fn(spark, data_dir).toPandas()
    fp = fingerprint.fingerprint
    checks.append(("recorded fingerprint matches", fingerprint.matches(fp(pdf), want)))
    shuffled = pdf.sample(frac=1.0, random_state=7)
    checks.append(("row order ignored", fingerprint.matches(fp(shuffled), want)))
    changed = pdf.copy()
    col = next(c for c in changed.columns if changed[c].dtype.kind in "if")
    changed.loc[changed.index[0], col] += 1
    checks.append(("one changed row caught", not fingerprint.matches(fp(changed), want)))
    checks.append(("one dropped row caught", not fingerprint.matches(fp(pdf.iloc[1:]), want)))

    b = Bench(spark, "corpus_loops", 0, data_dir)
    b._listen(True)
    reps = [b.execute(SELFTEST_QUERY, f"selftest{i}", True)["ledger"] for i in range(3)]
    counts = [(r["jobs"], r["stages"], r["by_class"]) for r in reps[1:]]
    checks.append((f"two reps, same job and stage counts {counts}", counts[0] == counts[1]))
    for name, ok in checks:
        print("PASS" if ok else "FAIL", name)
    return 0 if all(ok for _, ok in checks) else 1
