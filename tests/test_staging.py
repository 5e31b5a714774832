"""Replay-dir staging: the ``stage_replay`` protocol and stage-dir
hygiene. A crashed pid's orphaned pid-scoped stage dir must be reaped
by the NEXT process's entry sweep, while live (recent) stages are never
touched."""

from __future__ import annotations

import glob
import os
import time

from data_engineer_8_final_project_spark import staging


def _make_stage(tmp_path_root: str, name: str, age_s: float) -> str:
    path = os.path.join(tmp_path_root, name)
    os.makedirs(path, exist_ok=True)
    open(os.path.join(path, "_staged_ok"), "w").close()
    t = time.time() - age_s
    os.utime(path, (t, t))
    return path


def test_sweep_removes_day_old_orphan_keeps_live(monkeypatch, tmp_path):
    monkeypatch.setattr(staging.tempfile, "gettempdir", lambda: str(tmp_path))
    stale = _make_stage(str(tmp_path), "spark_graft_funnel_deadpid1", 2 * 86400)
    live = _make_stage(str(tmp_path), "spark_graft_funnel_livepid2", 60)
    other = _make_stage(str(tmp_path), "spark_graft_docs_stream_x", 2 * 86400)

    staging.sweep_stale_stage_dirs("spark_graft_funnel_")

    assert not os.path.exists(stale), "day-old orphan must be reaped"
    assert os.path.exists(live), "recent (live) stage must survive"
    assert os.path.exists(other), "other families are out of scope for this prefix"


def test_sweep_ignores_files_and_missing_root(monkeypatch, tmp_path):
    monkeypatch.setattr(staging.tempfile, "gettempdir", lambda: str(tmp_path))
    f = os.path.join(str(tmp_path), "spark_graft_funnel_notadir")
    open(f, "w").close()
    t = time.time() - 2 * 86400
    os.utime(f, (t, t))
    staging.sweep_stale_stage_dirs("spark_graft_funnel_")
    assert os.path.exists(f), "plain files are never touched"

    monkeypatch.setattr(
        staging.tempfile, "gettempdir", lambda: str(tmp_path / "missing")
    )
    staging.sweep_stale_stage_dirs("spark_graft_funnel_")  # must not raise


def test_stage_replay_writes_pins_reuses_and_sweeps(spark, monkeypatch, tmp_path):
    monkeypatch.setattr(staging.tempfile, "gettempdir", lambda: str(tmp_path))
    src = tmp_path / "fixture.bin"
    src.write_text("x")
    stale = _make_stage(str(tmp_path), "spark_graft_unit_1_deadbeef0000", 2 * 86400)
    fresh = _make_stage(str(tmp_path), "spark_graft_unit_2_livelive0000", 60)
    calls = []

    def build():
        calls.append(1)
        chunks = [spark.range(10 * i, 10 * i + 10).coalesce(1) for i in range(3)]
        return chunks, {"delay_us": 7}

    stage, meta = staging.stage_replay("unit", str(src), build, 3)
    assert calls == [1] and meta == {"delay_us": 7}
    name = os.path.basename(stage)
    assert name.startswith(f"spark_graft_unit_{os.getpid()}_"), name
    assert stage in staging._allocated, "the dir must be reaped at exit"
    assert not os.path.exists(stale), "day-old sibling must be swept"
    assert os.path.exists(fresh), "recent sibling must survive"

    files = sorted(glob.glob(os.path.join(stage, "*.parquet")), key=os.path.getmtime)
    assert len(files) == 3, "one parquet file per chunk"
    mtimes = [os.path.getmtime(f) for f in files]
    assert all(a < b for a, b in zip(mtimes, mtimes[1:])), mtimes
    for i, f in enumerate(files):
        ids = sorted(r.id for r in spark.read.parquet(f).collect())
        assert ids == list(range(10 * i, 10 * i + 10)), "chunk i replays i-th"

    assert staging.stage_replay("unit", str(src), build, 3) == (stage, meta)
    assert calls == [1], "a finished dir is reused without running build"

    other, other_meta = staging.stage_replay(
        "unit", str(src), lambda: [spark.range(2).coalesce(1)], 4
    )
    assert other != stage and other_meta == {}, "key parts select the dir"


def test_wmdrop_stager_rejects_short_span_fixture(spark, tmp_path):
    """On a fixture whose time span cannot put every
    planted copy behind the watermark (~under 2.5h for the 1h delay +
    1h window), staging must fail loudly with the span requirement —
    not let the query die later as an unexplained oracle mismatch."""
    import datetime as dt

    import pytest

    from data_engineer_8_final_project_spark.schemas import EVENTS
    from data_engineer_8_final_project_spark.streaming import events as ev

    d = tmp_path / "short"
    d.mkdir()
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (i, t0 + dt.timedelta(minutes=6 * i), i % 5, "view", 1.0, "{}")
        for i in range(20)  # ~2h span < the ~2.5h the design needs
    ]
    prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try:
        spark.createDataFrame(rows, EVENTS).coalesce(1).write.parquet(str(d / "events.parquet"))
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
    with pytest.raises(AssertionError, match="span"):
        ev._stage_wmdrop_replay(spark, str(d))


def test_wmdedup_stager_rejects_duplicate_event_ids(spark, tmp_path):
    """The wmdedup oracle models one emit per original + one per
    aged-out replay, which requires event_id be unique in the source —
    a fixture violating that must fail at staging with the cause."""
    import datetime as dt

    import pytest

    from data_engineer_8_final_project_spark.schemas import EVENTS
    from data_engineer_8_final_project_spark.streaming import events as ev

    d = tmp_path / "dupids"
    d.mkdir()
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (i % 10, t0 + dt.timedelta(days=i), i, "view", 1.0, "{}")  # ids repeat
        for i in range(30)
    ]
    prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try:
        spark.createDataFrame(rows, EVENTS).coalesce(1).write.parquet(str(d / "events.parquet"))
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
    with pytest.raises(AssertionError, match="unique"):
        ev._stage_wmdedup_replay(spark, str(d))
