"""Quick in-process repeat timer for registry queries (noop sink).

Usage::

    python scripts/time_query.py <query> [...] [--reps 3] [--jobs]

Times each named query with the bench methodology (warmup standings,
host+shuffle probes, noop sink) in ONE process — faster turnaround than
isolated_query_ab.py for the tight optimize/measure loop; final
adjudication still uses the bench / isolated protocol.

``--jobs`` runs each rep under its own Spark job group and prints the
rep's job count and a callsite → job-count table, read from Spark's
status store — e.g. whether a query still runs a ``count``/``collect``
probe.
"""

from __future__ import annotations

import argparse
import collections
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def print_jobs(sc, group: str) -> None:
    """Print the job count and callsite table of one job group."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    sites = collections.Counter(
        store.job(j).name() for j in sc.statusTracker().getJobIdsForGroup(group)
    )
    print(f"  {group}: {sum(sites.values())} jobs")
    for site, n in sites.most_common():
        print(f"    {n:4d}  {site}")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--jobs", action="store_true", help="print each rep's jobs by callsite")
    args = ap.parse_args()

    from bench import (
        PROBE_REFERENCE_SEC,
        SHUFFLE_REFERENCE_SEC,
        _host_probe,
        _shuffle_probe,
    )
    from data_engineer_8_final_project_spark.registry import all_queries
    from data_engineer_8_final_project_spark.session import get_spark

    spark = get_spark(app_name="time-query")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    queries = all_queries()
    queries["standings"].fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
    hp, _ = _host_probe(spark)
    sp, _ = _shuffle_probe(spark)
    print(
        f"host_factor {hp / PROBE_REFERENCE_SEC:.3f} "
        f"shuffle_factor {sp / SHUFFLE_REFERENCE_SEC:.3f}"
    )
    for name in args.queries:
        ts = []
        for rep in range(args.reps):
            group = f"{name}:{rep}"
            if args.jobs:
                sc.setJobGroup(group, group)
            t0 = time.perf_counter()
            queries[name].fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            ts.append(time.perf_counter() - t0)
            if args.jobs:
                sc.setLocalProperty("spark.jobGroup.id", None)
                print_jobs(sc, group)
            for rdd in sc._jsc.getPersistentRDDs().values():
                rdd.unpersist()
        print(
            f"{name}: median {statistics.median(ts):.3f}  "
            f"reps {[round(t, 3) for t in ts]}"
        )
    hp2, _ = _host_probe(spark)
    sp2, _ = _shuffle_probe(spark)
    print(
        f"end host_factor {hp2 / PROBE_REFERENCE_SEC:.3f} "
        f"shuffle_factor {sp2 / SHUFFLE_REFERENCE_SEC:.3f}"
    )
    spark.stop()


if __name__ == "__main__":
    main()
