"""Write-audit-publish staging (lake/wap.py).

Staged invisibility in both commit modes, metadata-only publish,
single-job audits gating publish, conflict refusal, eager abort
cleanup, vacuum protection of open stages, crash re-attach."""

import os

import pytest
from pyspark.sql import functions as F

from oregonwaterdataportal_etl_spark.cdc import generate_changes
from oregonwaterdataportal_etl_spark.cdc.changegen import TRANSCRIPT_SCHEMA
from oregonwaterdataportal_etl_spark.lake import (
    ExprHolds,
    LakeTable,
    NotNull,
    RowBounds,
    UniqueKeys,
    WapAuditError,
    WapConflictError,
    run_audits,
)


def _table(tmp_path, name="t", commit_mode="pointer"):
    return LakeTable.create(
        str(tmp_path / name),
        TRANSCRIPT_SCHEMA,
        key_cols=["conv_id", "turn_idx"],
        num_buckets=4,
        commit_mode=commit_mode,
    )


def _state(spark, table):
    return {
        (r["conv_id"], r["turn_idx"]): r["text"]
        for r in table.read(spark).collect()
    }


@pytest.mark.parametrize("commit_mode", ["pointer", "rename-free"])
def test_staged_commits_invisible_until_publish(spark, tmp_path, commit_mode):
    table = _table(tmp_path, commit_mode=commit_mode)
    b1 = generate_changes(spark, 800, 20, seed=1)
    table.merge(b1)
    v_main = table.current_version()
    before = _state(spark, table)

    stage = table.begin_wap("nightly")
    b2 = generate_changes(spark, 800, 20, seed=2, lsn_start=800)
    stage.merge(b2)

    # main: untouched (version AND data), in both commit modes
    assert table.current_version() == v_main
    assert _state(spark, table) == before
    # stage: sees base + staged work
    staged_state = _state(spark, stage)
    assert staged_state != before

    v_pub = stage.publish()
    assert v_pub == v_main + 1
    assert table.current_version() == v_pub
    assert _state(spark, table) == staged_state
    assert table.snapshot()["summary"]["operation"] == "wap-publish"
    assert table.snapshot()["summary"]["wap_id"] == "nightly"
    # staged manifests cleaned up
    assert not [
        n for n in os.listdir(table.meta_dir) if n.startswith("wap-")
    ]


def test_multi_commit_stage_publishes_once(spark, tmp_path):
    table = _table(tmp_path)
    control = _table(tmp_path, "control")
    b1 = generate_changes(spark, 600, 15, seed=3)
    b2 = generate_changes(spark, 600, 15, seed=4, lsn_start=600)
    table.merge(b1)
    control.merge(b1)

    stage = table.begin_wap("w2")
    stage.merge(b2, mode="mor")
    stage.compact(spark)  # fold the MOR deltas inside the stage
    assert len(stage.staged_versions()) == 2
    v_main = table.current_version()
    v_pub = stage.publish()
    assert v_pub == v_main + 1  # one main version for the whole stage
    assert table.snapshot()["summary"]["staged_commits"] == 2
    assert not table.snapshot().get("deltas")

    control.merge(b2)
    assert _state(spark, table) == _state(spark, control)


def test_audit_failure_keeps_stage_and_main(spark, tmp_path):
    table = _table(tmp_path)
    table.merge(generate_changes(spark, 400, 10, seed=5))
    v_main = table.current_version()

    stage = table.begin_wap("audited")
    bad = spark.createDataFrame(
        [("conv_x", -1, "user", None, None, None, "insert", 10_000)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp, op string, lsn long",
    )
    stage.merge(bad)
    audits = [
        NotNull("text"),
        ExprHolds("turn_idx>=0", F.col("turn_idx") >= 0),
        UniqueKeys(["conv_id", "turn_idx"]),
        RowBounds(min_rows=1),
    ]
    with pytest.raises(WapAuditError) as exc:
        stage.publish(spark, audits=audits)
    assert "not_null(text)" in exc.value.report
    assert "holds(turn_idx>=0)" in exc.value.report
    assert len(exc.value.report) == 2  # unique/bounds green
    # nothing moved, the stage is inspectable
    assert table.current_version() == v_main
    assert stage.staged_versions()
    assert ("conv_x", -1) in _state(spark, stage)
    # the fix: audits that pass publish the same stage
    v_pub = stage.publish(spark, audits=[UniqueKeys(["conv_id", "turn_idx"])])
    assert v_pub == v_main + 1


def test_publish_conflict_and_eager_abort(spark, tmp_path):
    table = _table(tmp_path)
    table.merge(generate_changes(spark, 400, 10, seed=6))
    before = _state(spark, table)

    stage = table.begin_wap("loser")
    stage.merge(generate_changes(spark, 400, 10, seed=7, lsn_start=400))
    staged_only = {
        f
        for v in stage.staged_versions()
        for f in stage._snap_files(stage.snapshot(v))
    } - stage._snap_files(table.snapshot())
    assert staged_only and all(os.path.exists(f) for f in staged_only)

    # main commits while the stage is open -> publish must refuse
    table.merge(generate_changes(spark, 200, 10, seed=8, lsn_start=900))
    with pytest.raises(WapConflictError):
        stage.publish()
    removed = stage.abort()
    assert removed == len(staged_only)
    assert not any(os.path.exists(f) for f in staged_only)
    assert not [n for n in os.listdir(table.meta_dir) if n.startswith("wap-")]
    # main unharmed: every file of its current snapshot intact, reads fine
    assert all(os.path.exists(f) for f in table._snap_files(table.snapshot()))
    assert table.read(spark).count() > 0
    assert before  # (the second main batch may delete keys; no containment)


def test_vacuum_protects_open_stage(spark, tmp_path):
    table = _table(tmp_path)
    table.merge(generate_changes(spark, 400, 10, seed=9))
    stage = table.begin_wap("held")
    stage.merge(generate_changes(spark, 400, 10, seed=10, lsn_start=400))
    staged_state = _state(spark, stage)
    # zero grace: without wap-awareness this would sweep the staged files
    table.vacuum(keep_last=1, orphan_grace_seconds=0.0)
    assert _state(spark, stage) == staged_state  # files survived
    stage.publish()
    assert _state(spark, table) == staged_state


def test_stage_reattach_after_crash(spark, tmp_path):
    table = _table(tmp_path)
    table.merge(generate_changes(spark, 300, 8, seed=11))
    stage = table.begin_wap("crashy")
    stage.merge(generate_changes(spark, 300, 8, seed=12, lsn_start=300))
    expect = _state(spark, stage)
    del stage  # "crash": the process forgets the object, manifests persist

    again = table.begin_wap("crashy")
    assert again.staged_versions()
    assert _state(spark, again) == expect
    v = again.publish()
    assert table.current_version() == v


def test_run_audits_is_one_job(spark):
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") % 10).alias("v")
    )
    audits = [
        NotNull("k", "v"),
        UniqueKeys(["k"]),
        RowBounds(min_rows=1, max_rows=1000),
        ExprHolds("v<10", F.col("v") < 10),
    ]
    before = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    assert run_audits(df, audits) == {}
    after = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    assert len(after) - len(before) <= 2  # one agg (AQE may add a stage job)


def test_runner_ingests_into_wap_stage(spark, tmp_path):
    """Audited ingest by composition: a WapStage IS a LakeTable, so
    CdcRunner pointed at a stage applies its windows invisibly; the
    whole ingest run then publishes as ONE audited main-line commit."""
    from oregonwaterdataportal_etl_spark.cdc import (
        CdcRunner,
        ManifestLog,
        OffsetLog,
        lww_dedup,
    )

    stream = generate_changes(spark, 2000, 30, seed=17)
    stream_dir = str(tmp_path / "stream")
    stream.write.parquet(stream_dir)
    table = _table(tmp_path)
    table.merge(generate_changes(spark, 500, 30, seed=16, lsn_start=-500))
    v_main = table.current_version()

    stage = table.begin_wap("ingest")
    runner = CdcRunner(
        stage,
        OffsetLog(str(tmp_path / "off"), "s"),
        ManifestLog(str(tmp_path / "mf")),
        lambda: spark.read.parquet(stream_dir),
        mode="mor",
        compact_every=2,
    )
    results = runner.run_available(window_size=500)
    assert len(results) == 4
    assert table.current_version() == v_main       # nothing leaked to main
    assert len(stage.staged_versions()) >= 4

    v_pub = stage.publish(
        spark, audits=[UniqueKeys(["conv_id", "turn_idx"]), NotNull("conv_id")]
    )
    assert v_pub == v_main + 1                      # one audited commit
    # final state equals main-batch + stream folded directly
    control = _table(tmp_path, "control")
    control.merge(generate_changes(spark, 500, 30, seed=16, lsn_start=-500))
    control.merge(stream)
    assert _state(spark, table) == _state(spark, control)


def test_change_audit_delta_bounds(spark, tmp_path):
    """Change-level audits see the staged CHANGELOG: a stage that
    deletes most of the table is refused by a deleted-fraction cap
    that state audits cannot express; a modest stage passes."""
    from oregonwaterdataportal_etl_spark.lake import DeltaBounds

    table = _table(tmp_path)
    table.merge(generate_changes(
        spark, 800, 20, seed=20, update_rate=0.0, delete_rate=0.0))
    base_rows = table.read(spark).count()

    # a "truncating" upstream: delete every base key
    wipe = table.read(spark).select(
        "conv_id", "turn_idx",
        F.lit("user").alias("role"), F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.lit(None).cast("timestamp").alias("ts"),
        F.lit("delete").alias("op"), (F.lit(10_000) + F.monotonically_increasing_id()).alias("lsn"),
    )
    stage = table.begin_wap("wipe")
    stage.merge(wipe)
    with pytest.raises(WapAuditError) as exc:
        stage.publish(spark, audits=[DeltaBounds(max_deleted_frac=0.5)])
    assert "base rows" in str(exc.value)
    stage.abort()

    # a modest incremental stage passes the same audit
    stage2 = table.begin_wap("ok")
    stage2.merge(generate_changes(
        spark, 200, 20, seed=21, lsn_start=800, delete_rate=0.05))
    v = stage2.publish(
        spark,
        audits=[
            DeltaBounds(max_deleted_frac=0.5, max_inserted=base_rows),
            UniqueKeys(["conv_id", "turn_idx"]),  # state + change mix
        ],
    )
    assert v == table.current_version()
