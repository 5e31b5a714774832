"""Benchmark entry point: one workload, one seed, a fresh session.

    python3 perfbench/run.py --workload corpus_loops --seed 1 --seconds 10 --trace 0

Run from the repository root. The input tables are the engine's sf0.01
parquet fixtures under ``perfbench/data/``; every run gets its own
``TMPDIR``, ``SPARK_LOCAL_DIRS`` and JVM temp dir under
``.bench_work/run-<pid>/``, removed at exit, and the repository root on
the Python workers' path. With ``--trace 0`` it prints the end-to-end
metrics, with ``--trace 1`` the per-layer ones (and dumps the span tree
to ``.bench_work/spans/``). The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. README.md explains
every metric.
"""

from __future__ import annotations

import argparse
import json
import os
import select
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
PACKAGE = "data_engineer_8_final_project_spark"

#: Fresh sessions timed per untraced run (the benchmark session plus
#: set-up-only ones); ``setup_s`` is their median.
SETUP_SAMPLES = 2
#: Hard limit for one whole run.
DEADLINE_S = 170.0


def data_dir() -> str:
    from workloads import DATA_DIR

    path = os.path.join(ROOT, DATA_DIR)
    if not os.path.isfile(os.path.join(path, "lineitem.parquet")):
        raise SystemExit(f"input tables not found in {path}")
    return path


def isolated_env(run_dir: str) -> dict:
    env = dict(os.environ)
    for sub in ("tmp", "java_tmp", "local"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    env.update(
        TMPDIR=os.path.join(run_dir, "tmp"),
        PERFBENCH_JAVA_TMP=os.path.join(run_dir, "java_tmp"),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
    )
    env.pop("OMP_NUM_THREADS", None)
    return env


def _stop_group(proc: subprocess.Popen) -> None:
    """Kill a session that did not end by itself: the worker, its JVM and
    the JVM's Python workers share one process group."""
    if proc.poll() is None:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()


class Worker:
    """worker.py in its own process group."""

    def __init__(self, args: list[str], env: dict, cwd: str, log: str):
        self.log = log
        self.t0 = time.perf_counter()
        with open(log, "ab") as err:
            self.proc = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "worker.py"), *args],
                env=env,
                cwd=cwd,
                stdin=subprocess.DEVNULL,
                stdout=subprocess.PIPE,
                stderr=err,
                text=True,
                start_new_session=True,
            )

    def wait_ready(self, deadline: float) -> float:
        """Seconds from spawn until the worker printed READY."""
        while select.select([self.proc.stdout], [], [], max(0.0, deadline - time.perf_counter()))[0]:
            line = self.proc.stdout.readline()
            if not line:
                break
            if line.strip() == "READY":
                return time.perf_counter() - self.t0
        raise RuntimeError(f"worker not READY (log: {self.log})")

    def finish(self, deadline: float) -> None:
        """Wait for the worker to exit cleanly before ``deadline``; the
        worker stops its JVM and waits for it before it exits."""
        try:
            code = self.proc.wait(timeout=max(1.0, deadline - time.perf_counter()))
        except subprocess.TimeoutExpired:
            code = "timeout"
        _stop_group(self.proc)
        if code != 0:
            raise RuntimeError(f"worker failed ({code}); log: {self.log}")


def run(args) -> dict:
    deadline = time.perf_counter() + DEADLINE_S
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    env = isolated_env(run_dir)
    log = os.path.join(WORK, f"worker-{os.getpid()}.log")
    workers: list[Worker] = []

    def session(mode_args: list[str], out: str | None = None) -> tuple[float, dict]:
        """Start one fresh session; (its set-up time, its result)."""
        workers.append(Worker(mode_args + ([out] if out else []), env, run_dir, log))
        ready_s = workers[-1].wait_ready(deadline)
        workers[-1].finish(deadline)
        if out is None:
            return ready_s, {}
        with open(out) as f:
            return ready_s, json.load(f)

    try:
        bench_args = ["bench", args.workload, str(args.seed), str(args.seconds),
                      str(args.trace), data_dir()]
        if args.trace:
            os.makedirs(os.path.join(WORK, "spans"), exist_ok=True)
            bench_args.append(os.path.join(WORK, "spans", f"{args.workload}-seed{args.seed}.json"))
        setup_s, result = session(bench_args, os.path.join(run_dir, "result.json"))
        if not args.trace:
            setups = [setup_s] + [session(["setup"])[0] for _ in range(SETUP_SAMPLES - 1)]
            result["metrics"]["setup_s"] = statistics.median(setups)
            result["setup_samples"] = setups
        os.remove(log)
        return result
    finally:
        for w in workers:
            _stop_group(w.proc)
        shutil.rmtree(run_dir, ignore_errors=True)


def main() -> int:
    from workloads import WORKLOADS

    # A terminated run still stops its sessions (run()'s finally).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE}/ not found beside perfbench/: run from a full checkout", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    result = run(args)
    metrics = result["metrics"]
    for name in sorted(metrics):
        print(f"{name:32s} {metrics[name]:14.4f} {units[name]}")
    if not args.trace:
        t = result["tail"]
        print(f"{'failed_ratio':32s} {result['failed'] / result['attempted']:14.4f} ratio")
        print(f"query_tail_s: slowest query per pass, mostly {t['slowest']};"
              f" {t['executions']} warm executions;"
              f" setup samples {[round(x, 3) for x in result['setup_samples']]};"
              f" warm passes {result['warm_walls']}")
    print("before exit: " + ", ".join(f"{k} {v:.4f}" for k, v in result["before_exit"].items()))
    for e in result["errors"]:
        print("error:", e)
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
