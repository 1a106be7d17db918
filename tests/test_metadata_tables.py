"""Metadata frames + timestamp time travel (lake/metadata.py,
LakeTable.version_at / read(as_of=...))."""

import time

import pytest

from oregonwaterdataportal_etl_spark.cdc import generate_changes
from oregonwaterdataportal_etl_spark.cdc.changegen import TRANSCRIPT_SCHEMA
from oregonwaterdataportal_etl_spark.lake import LakeTable


def _table(tmp_path):
    return LakeTable.create(
        str(tmp_path / "t"), TRANSCRIPT_SCHEMA,
        key_cols=["conv_id", "turn_idx"], num_buckets=4,
    )


def test_metadata_frames_match_stats(spark, tmp_path):
    t = _table(tmp_path)
    t.merge(generate_changes(spark, 800, 20, seed=1, delete_rate=0.2))
    t.merge(
        generate_changes(spark, 400, 20, seed=2, lsn_start=800), mode="mor"
    )
    stats = t.stats()

    files = t.metadata_df(spark, "files")
    by_kind = {r["kind"]: r["n"] for r in files.groupBy("kind").count()
               .withColumnRenamed("count", "n").collect()}
    assert by_kind.get("base", 0) == stats["base_files"]
    assert by_kind.get("delta", 0) == stats["delta_files"]
    assert by_kind.get("tombstone", 0) == stats["tombstone_files"]
    assert files.filter("size_bytes IS NULL").count() == 0  # all on disk

    hist = t.metadata_df(spark, "history").orderBy("version").collect()
    assert [r["version"] for r in hist] == [0, 1, 2]
    assert [r["operation"] for r in hist] == ["create", "merge", "merge-mor"]
    ts = [r["committed_at"] for r in hist]
    assert all(ts[i] <= ts[i + 1] for i in range(len(ts) - 1))

    parts = t.metadata_df(spark, "partitions")
    assert parts.count() == 4
    assert sum(r["rows_base"] for r in parts.collect()) == stats["rows_base"]

    with pytest.raises(ValueError):
        t.metadata_df(spark, "nope")


def test_timestamp_time_travel(spark, tmp_path):
    t = _table(tmp_path)
    t.merge(generate_changes(spark, 300, 10, seed=3))
    t_after_v1 = time.time()
    time.sleep(0.05)
    t.merge(generate_changes(spark, 300, 10, seed=4, lsn_start=300))

    assert t.version_at(t_after_v1) == 1
    assert t.version_at(time.time()) == t.current_version() == 2
    v1_rows = t.read(spark, version=1).count()
    assert t.read(spark, as_of=t_after_v1).count() == v1_rows
    with pytest.raises(ValueError):
        t.version_at(t.snapshot(0)["committed_at"] - 100)
    with pytest.raises(ValueError):
        t.read(spark, version=1, as_of=t_after_v1)


def test_clone_is_deep_and_independent(spark, tmp_path):
    """clone_to exports one snapshot as an independent table: the
    cloned state (including MOR deltas + tombstones) resolves
    identically, and source-side merge + zero-grace vacuum afterwards
    cannot disturb it."""
    t = _table(tmp_path)
    t.merge(generate_changes(spark, 600, 15, seed=5, delete_rate=0.2))
    t.merge(
        generate_changes(spark, 300, 15, seed=6, lsn_start=600), mode="mor"
    )
    v = t.current_version()
    want = sorted(map(tuple, t.read(spark).collect()))

    clone = t.clone_to(str(tmp_path / "clone"), version=v)
    assert sorted(map(tuple, clone.read(spark).collect())) == want
    assert clone.snapshot()["summary"]["operation"] == "clone"
    assert clone.snapshot()["summary"]["cloned_version"] == v

    # source moves on and vacuums aggressively; the clone is untouched
    t.merge(generate_changes(spark, 300, 15, seed=7, lsn_start=900))
    t.compact(spark)
    t.vacuum(keep_last=1, orphan_grace_seconds=0.0)
    assert sorted(map(tuple, clone.read(spark).collect())) == want
    # and the clone is writable on its own chain
    clone.merge(generate_changes(spark, 100, 15, seed=8, lsn_start=2000))
    assert clone.current_version() == 2


def test_delete_where_retention_sweep(spark, tmp_path):
    """Bulk predicate delete: matching keys go, tombstones block
    resurrection by stale lower-LSN events, and the sweep is
    idempotent."""
    from pyspark.sql import functions as F

    t = _table(tmp_path)
    t.merge(generate_changes(spark, 600, 15, seed=9, delete_rate=0.0))
    before = t.read(spark)
    n_before = before.count()
    n_user = before.filter(F.col("role") == "user").count()
    assert 0 < n_user < n_before

    res = t.delete_where(spark, F.col("role") == "user")
    assert res.rows_deleted == n_user
    assert t.snapshot()["summary"]["operation"] == "delete-where"
    after = t.read(spark)
    assert after.count() == n_before - n_user
    assert after.filter(F.col("role") == "user").count() == 0

    # idempotent
    res2 = t.delete_where(spark, "role = 'user'")
    assert res2.rows_deleted == 0

    # a stale replay (low LSN) of a deleted key cannot resurrect it
    victim = before.filter(F.col("role") == "user").limit(1).collect()[0]
    stale = spark.createDataFrame(
        [(victim["conv_id"], victim["turn_idx"], "user", "ghost", None, None,
          "insert", 0)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp, op string, lsn long",
    )
    t.merge(stale)
    assert (
        t.read(spark)
        .filter(
            (F.col("conv_id") == victim["conv_id"])
            & (F.col("turn_idx") == victim["turn_idx"])
        )
        .count()
        == 0
    )
