"""stage_frame: the conf-selectable staging sink.

Pins both sinks' value-equality, the default sink, the parquet sink's
hygiene (unique per-call dir, no input-keyed naming = no cross-run
caching, superseded loop generations released), loud failure on bad
sink confs, and the scalars ``stage_observed`` collects in the staging
job itself.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from data_engineer_8_final_project_spark import stage
from data_engineer_8_final_project_spark.operators import clusters


@pytest.fixture
def sink(request, spark, tmp_path):
    """Run the test under the sink named by the parametrized value."""
    spark.conf.set(stage.SINK_CONF, request.param)
    spark.conf.set(stage.DIR_CONF, str(tmp_path))
    yield request.param
    spark.conf.unset(stage.SINK_CONF)
    spark.conf.unset(stage.DIR_CONF)


def _stage_dirs(path) -> list[str]:
    return [d for d in os.listdir(path) if d.startswith("spark_graft_stage_")]


def test_default_sink_is_local_checkpoint(spark):
    df = spark.range(100).select("id", (F.col("id") * 2).alias("v"))
    out = stage.stage_frame(df)
    # localCheckpoint yields a lineage-free frame with identical rows
    assert out.exceptAll(df).count() == 0 and df.exceptAll(out).count() == 0
    assert "ExistingRDD" in out._jdf.queryExecution().optimizedPlan().toString() or (
        out.count() == 100
    )


def test_parquet_sink_roundtrips_and_uses_unique_dirs(spark, tmp_path):
    df = spark.range(50).select(
        "id", F.md5(F.col("id").cast("string")).alias("h")
    )
    spark.conf.set(stage.SINK_CONF, "parquet")
    spark.conf.set(stage.DIR_CONF, str(tmp_path))
    try:
        a = stage.stage_frame(df)
        b = stage.stage_frame(df)
        assert a.exceptAll(df).count() == 0 and df.exceptAll(a).count() == 0
        dirs = _stage_dirs(tmp_path)
        assert len(dirs) == 2, "each call must stage into its own dir"
        # dir names key on (pid, seq) only — never on any input path
        for d in dirs:
            assert str(os.getpid()) in d
        assert b.count() == 50
        stage.release(a)
        assert len(_stage_dirs(tmp_path)) == 1, "release deletes the frame's dir"
    finally:
        spark.conf.unset(stage.SINK_CONF)
        spark.conf.unset(stage.DIR_CONF)


def test_unknown_sink_raises(spark):
    spark.conf.set(stage.SINK_CONF, "localcheckpoint")  # wrong case
    try:
        with pytest.raises(ValueError, match="localcheckpoint"):
            stage.stage_frame(spark.range(3))
    finally:
        spark.conf.unset(stage.SINK_CONF)


def test_parquet_sink_needs_dir_on_non_local_master(spark, monkeypatch):
    # $TMPDIR on the driver is not storage a cluster's executors share
    monkeypatch.setattr(spark.sparkContext, "master", "spark://head:7077")
    spark.conf.set(stage.SINK_CONF, "parquet")
    try:
        with pytest.raises(ValueError, match=stage.DIR_CONF):
            stage.stage_frame(spark.range(3))
    finally:
        spark.conf.unset(stage.SINK_CONF)


@pytest.mark.parametrize("sink", ["localCheckpoint", "parquet"], indirect=True)
def test_observed_metrics_match_separate_aggregate(spark, sink):
    df = spark.range(200).select("id", (F.col("id") % 13).alias("v"))
    out, seen = stage.stage_observed(
        df, F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")
    )
    want = df.agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")).collect()[0]
    assert seen == {"n": want["n"], "s": want["s"]}
    assert out.count() == 200
    # empty frame: count 0, sum NULL — connected_components stops its
    # loop on an empty edge set because two NULL label sums compare equal
    _, seen = stage.stage_observed(
        df.filter("id < 0"), F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")
    )
    assert seen == {"n": 0, "s": None}


@pytest.mark.parametrize("sink", ["parquet"], indirect=True)
def test_ten_generation_loops_keep_at_most_two_stage_dirs(spark, sink, tmp_path):
    # a 12-vertex path: min-label CC cannot converge in 10 rounds, so
    # all 10 generations are staged; LPA with iters=10 stages 10 too
    n = 12
    verts = spark.range(n).select(F.col("id").alias("doc_id"))
    edges = spark.range(n - 1).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
    )
    cc = clusters.connected_components(verts, edges, max_iters=10)
    # after 10 rounds vertex i holds max(0, i - 10)
    assert sorted(r.cluster_id for r in cc.collect()) == [0] * 11 + [1]
    cc_dirs = set(_stage_dirs(tmp_path))
    assert len(cc_dirs) <= 2
    lpa = clusters.label_propagation_fixed(
        verts.withColumnRenamed("doc_id", "id"),
        edges.toDF("src", "dst"),
        iters=10,
    )
    assert lpa.count() == n
    assert len(set(_stage_dirs(tmp_path)) - cc_dirs) <= 2


def test_lpa_until_stable_stops_on_unchanged_round(spark, monkeypatch):
    """Triangle 0-1-2: round 1 → labels (1, 0, 0), round 2 → all 0,
    round 3 changes nothing, so the loop stages exactly three label
    generations (plus the undirected edge list) and stops."""
    staged = []

    def counting(df):
        staged.append(df)
        return stage.stage_frame(df)

    monkeypatch.setattr(clusters, "stage_frame", counting)
    verts = spark.createDataFrame([(0,), (1,), (2,)], "id long")
    edges = spark.createDataFrame([(0, 1), (1, 2), (0, 2)], "src long, dst long")
    out = clusters.label_propagation_fixed(verts, edges, until_stable=True, max_iters=50)
    assert {r.id: r.community for r in out.collect()} == {0: 0, 1: 0, 2: 0}
    assert len(staged) == 1 + 3


def test_stream_drains_hash_identical_under_both_sinks(spark, sf_dir, tmp_path):
    """Both drains copy their sink out through stage_frame, so the
    staging sink governs them: a memory-sink drain (events_hourly_stream)
    and a spilled drain (user_totals_stateful) return the same rows
    under either sink."""
    from data_engineer_8_final_project_spark.registry import all_queries

    queries = all_queries()

    def rows() -> dict[str, list[str]]:
        return {
            name: sorted(map(repr, queries[name].fn(spark, sf_dir).collect()))
            for name in ("events_hourly_stream", "user_totals_stateful")
        }

    want = rows()
    spark.conf.set(stage.SINK_CONF, "parquet")
    spark.conf.set(stage.DIR_CONF, str(tmp_path))
    try:
        got = rows()
        assert len(_stage_dirs(tmp_path)) >= 2, "drains must stage through the parquet sink"
    finally:
        spark.conf.unset(stage.SINK_CONF)
        spark.conf.unset(stage.DIR_CONF)
    assert all(want.values()) and got == want
