"""Policy-driven auto-maintenance (lake/maintenance.py)."""

from pyspark.sql import functions as F

from oregonwaterdataportal_etl_spark.cdc import (
    OffsetLog,
    generate_changes,
)
from oregonwaterdataportal_etl_spark.cdc.changegen import TRANSCRIPT_SCHEMA
from oregonwaterdataportal_etl_spark.lake import (
    LakeTable,
    MaintenancePolicy,
    maintain,
    plan_maintenance,
)


def _table(tmp_path, name="t", buckets=4):
    return LakeTable.create(
        str(tmp_path / name), TRANSCRIPT_SCHEMA,
        key_cols=["conv_id", "turn_idx"], num_buckets=buckets,
    )


def _state(spark, t):
    return sorted(
        (r["conv_id"], r["turn_idx"], r["text"]) for r in t.read(spark).collect()
    )


def test_healthy_table_plans_nothing(spark, tmp_path):
    t = _table(tmp_path)
    t.merge(generate_changes(spark, 500, 20, seed=1))
    pol = MaintenancePolicy(max_files_per_bucket=8, keep_snapshots=5)
    assert plan_maintenance(t, pol) == {}
    assert maintain(spark, t, pol) == {}


def test_compact_trigger_and_convergence(spark, tmp_path):
    t = _table(tmp_path)
    # fragment the base files the way a size-capped production writer
    # does (maxRecordsPerFile bounds file size; small cap -> many files)
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "40")
    try:
        t.merge(generate_changes(spark, 1200, 20, seed=1))
    finally:
        spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    assert max(len(fl) for fl in t.snapshot()["files"].values()) > 3
    before = _state(spark, t)
    pol = MaintenancePolicy(max_files_per_bucket=3)
    report = maintain(spark, t, pol)
    assert "compact" in report
    assert _state(spark, t) == before
    assert maintain(spark, t, pol) == {}  # converged
    snap = t.snapshot()
    assert max(len(fl) for fl in snap["files"].values()) == 1


def test_delta_fold_trigger(spark, tmp_path):
    t = _table(tmp_path)
    t.merge(generate_changes(spark, 400, 20, seed=9))
    for i in range(5):
        t.merge(
            generate_changes(spark, 200, 20, seed=20 + i, lsn_start=400 + 200 * i),
            mode="mor",
        )
    pol = MaintenancePolicy(
        max_files_per_bucket=None, max_delta_files_per_bucket=3
    )
    before = _state(spark, t)
    report = maintain(spark, t, pol)
    assert "compact" in report and "delta" in report["compact"]
    assert not t.snapshot().get("deltas")
    assert _state(spark, t) == before
    assert maintain(spark, t, pol) == {}


def test_rebucket_trigger_scales_to_power_of_two_multiple(spark, tmp_path):
    t = _table(tmp_path, buckets=2)
    t.merge(generate_changes(spark, 4000, 50, seed=3))
    before = _state(spark, t)
    rows = sum(t.snapshot()["row_counts"].values())
    pol = MaintenancePolicy(max_rows_per_bucket=rows // 7)  # needs 2 doublings
    report = maintain(spark, t, pol)
    assert "rebucket" in report
    assert t.snapshot()["num_buckets"] == 8
    assert _state(spark, t) == before
    assert "rebucket" not in plan_maintenance(t, pol)


def test_tombstone_expiry_under_watermark(spark, tmp_path):
    t = _table(tmp_path)
    ch = generate_changes(spark, 800, 20, seed=4, delete_rate=0.3)
    t.merge(ch)
    assert t.snapshot().get("tombstones")
    off = OffsetLog(str(tmp_path / "off"), "s")
    off.commit(799, "b1")
    pol = MaintenancePolicy(
        max_files_per_bucket=None,
        max_delta_files_per_bucket=None,
        expire_tombstones_with_offsets=off,
    )
    report = maintain(spark, t, pol)
    assert "expire_tombstones" in report
    assert not t.snapshot().get("tombstones")
    assert maintain(spark, t, pol) == {}


def test_vacuum_trigger_bounds_history(spark, tmp_path):
    t = _table(tmp_path)
    for i in range(5):
        t.merge(generate_changes(spark, 200, 10, seed=i, lsn_start=200 * i))
    pol = MaintenancePolicy(
        max_files_per_bucket=None,
        max_delta_files_per_bucket=None,
        keep_snapshots=2,
        orphan_grace_seconds=0.0,
    )
    report = maintain(spark, t, pol)
    assert "vacuum" in report
    assert len(t.history()) <= 3  # kept 2 + current counting semantics
    assert t.read(spark).count() > 0


def test_runner_drives_policy_maintenance(spark, tmp_path):
    """CdcRunner(maintenance_policy=...) runs policy upkeep on the
    compaction cadence: MOR deltas fold, the bucket count grows when
    the per-bucket row bound is crossed, and the final state equals a
    plain one-shot LWW apply of the whole stream."""
    from oregonwaterdataportal_etl_spark.cdc import (
        CdcRunner,
        ManifestLog,
        lww_dedup,
    )

    stream = generate_changes(spark, 3000, 40, seed=7)
    stream_dir = str(tmp_path / "stream")
    stream.write.parquet(stream_dir)
    t = _table(tmp_path, buckets=2)
    pol = MaintenancePolicy(
        max_delta_files_per_bucket=0,   # always fold on cadence
        max_rows_per_bucket=400,
        keep_snapshots=4,
        orphan_grace_seconds=0.0,
    )
    runner = CdcRunner(
        t,
        OffsetLog(str(tmp_path / "off"), "s"),
        ManifestLog(str(tmp_path / "mf")),
        lambda: spark.read.parquet(stream_dir),
        mode="mor",
        compact_every=2,
        maintenance_policy=pol,
    )
    # 4 windows with cadence 2 -> maintenance fires after windows 2 and
    # 4, so the final snapshot carries no unfolded deltas
    runner.run_available(window_size=750)
    assert not t.snapshot().get("deltas")          # folded on cadence
    assert t.snapshot()["num_buckets"] > 2         # rebucket triggered
    control = lww_dedup(stream).filter(F.col("op") != "delete").drop("op", "lsn")
    got = t.read(spark)
    assert got.exceptAll(control).count() == 0
    assert control.exceptAll(got).count() == 0
