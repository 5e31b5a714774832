"""One benchmark session, in a fresh process started by run.py or record.py.

Every mode first builds the session with ``session.get_spark``, runs one
trivial action and prints ``READY``: run.py times that as set-up. Only
then does it load the benchmark's measuring code (measure.py), so the
set-up window holds interpreter start, the ``session`` import,
``get_spark`` and the action, and nothing of the benchmark's own.

Modes (argv[1]):

- ``setup``: only the set-up; run.py times it for another ``setup_s``
  sample.
- ``bench <workload> <seed> <seconds> <trace> <data_dir> [<spans_json>]
  <out_json>``: the passes and the check (``measure.bench``).
- ``record <data_dir> <expected_json>``: check every workload query
  against its DuckDB oracle and record its output fingerprint.
- ``selftest <data_dir> <expected_json>``: the fingerprint and
  status-store self-tests.

At the end the session is stopped and the worker waits for its JVM to
exit, so nothing it started outlives it.
"""

from __future__ import annotations

import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

from data_engineer_8_final_project_spark import session  # noqa: E402


def start_session():
    """``get_spark`` plus one trivial action; prints ``READY`` when done."""
    jtmp = os.environ["PERFBENCH_JAVA_TMP"]
    t0 = time.perf_counter()
    spark = session.get_spark(
        app_name="perfbench",
        cpus=len(os.sched_getaffinity(0)),
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={jtmp} -XX:-UsePerfData",
        },
    )
    get_spark_s = time.perf_counter() - t0
    spark.range(1).count()
    print("READY", flush=True)
    return spark, get_spark_s


def stop_session(spark) -> None:
    """Stop Spark, close the gateway's stdin (the JVM exits on EOF) and
    wait for the JVM."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def main(mode: str, args: list[str]) -> int:
    spark, get_spark_s = start_session()
    try:
        if mode == "setup":
            return 0
        import measure

        if mode == "bench":
            return measure.bench(spark, get_spark_s, args[0], int(args[1]), float(args[2]),
                                 args[3] == "1", args[4], args[5] if len(args) > 6 else None,
                                 args[-1])
        if mode == "record":
            return measure.record(spark, args[0], args[1])
        if mode == "selftest":
            return measure.selftest(spark, args[0], args[1])
        print(f"unknown mode {mode!r}", file=sys.stderr)
        return 2
    finally:
        sys.stdout.flush()
        stop_session(spark)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2:]))
