"""Round-6 correctness fixes, on a time-partitioned table: a WAP
publish that crashes before or after its main commit resumes or
aborts cleanly, an in-stage partition drop publishes without leaving
staged manifests, and drop_partitions retries a commit race on a fresh
snapshot."""

import datetime
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import types as T

from oregonwaterdataportal_etl_spark.lake import LakeTable
from oregonwaterdataportal_etl_spark.lake.table import CommitConflictError

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("v", T.StringType()),
    ]
)


def _ts(day: int, hour: int = 0):
    return datetime.datetime(2024, 1, day, hour)


def _events(spark, rows):
    """rows: (id, day, lsn, op, v)"""
    return spark.createDataFrame(
        [Row(id=i, ts=_ts(d), lsn=lsn, op=op, v=v) for i, d, lsn, op, v in rows],
        T.StructType(
            SCHEMA.fields[:2]
            + [
                T.StructField("lsn", T.LongType()),
                T.StructField("op", T.StringType()),
                T.StructField("v", T.StringType()),
            ]
        ),
    )


def _create(tmp_path, **kw):
    return LakeTable.create(
        str(tmp_path / "pt"), SCHEMA, key_cols=["id"],
        partition_col="ts", num_buckets=4, **kw,
    )


def _state(t, spark, **kw):
    return {
        (r["id"], r["ts"].day): r["v"] for r in t.read(spark, **kw).collect()
    }


class _Crash(BaseException):
    """Simulated process death: NOT an Exception, so no except-clause
    in the publish path can catch it (like a real crash)."""


def _wap_manifests(table_dir: str, wap_id: str) -> list[str]:
    md = os.path.join(table_dir, "_meta")
    return [n for n in os.listdir(md) if n.startswith(f"wap-{wap_id}-")]


def test_tree_publish_crash_before_root_commit_resumes(
    spark, tmp_path, monkeypatch
):
    """Crash in the main commit of a publish whose stage merged into
    several partitions over several staged commits: main stays at its
    base version, and the re-attached stage publishes every staged
    partition in one commit."""
    t = _create(tmp_path)
    t.merge(_events(spark, [(1, 1, 1, "insert", "a"), (2, 2, 2, "insert", "b")]))
    base = t.current_version()

    stage = t.begin_wap("crashpub")
    stage.merge(_events(spark, [(1, 1, 10, "update", "a2")]))
    stage.merge(_events(spark, [(3, 1, 11, "insert", "c")]))
    stage.merge(_events(spark, [(4, 2, 12, "insert", "d")]))

    def crash_commit(self, snap):
        raise _Crash()

    monkeypatch.setattr(LakeTable, "_commit", crash_commit)
    with pytest.raises(_Crash):
        stage.publish(spark)
    monkeypatch.undo()
    assert t.current_version() == base

    assert t.begin_wap("crashpub").publish(spark) == base + 1
    assert _state(t, spark) == {
        (1, 1): "a2", (2, 2): "b", (3, 1): "c", (4, 2): "d",
    }
    assert _wap_manifests(str(tmp_path / "pt"), "crashpub") == []


def test_tree_publish_crash_after_root_commit_is_idempotent(
    spark, tmp_path, monkeypatch
):
    """Crash AFTER the main commit but BEFORE cleanup: the re-attached
    publish must recognize its OWN completed commit and finish the
    cleanup instead of raising 'main moved'."""
    t = _create(tmp_path)
    t.merge(_events(spark, [(1, 1, 1, "insert", "a")]))
    base = t.current_version()

    stage = t.begin_wap("latecrash")
    stage.merge(_events(spark, [(2, 1, 10, "insert", "b")]))

    real_commit = LakeTable._commit

    def commit_then_crash(self, snap):
        real_commit(self, snap)
        raise _Crash()

    monkeypatch.setattr(LakeTable, "_commit", commit_then_crash)
    with pytest.raises(_Crash):
        stage.publish(spark)
    monkeypatch.undo()
    assert t.current_version() == base + 1  # main commit landed

    again = t.begin_wap("latecrash")
    assert again.publish(spark) == base + 1  # idempotent, no conflict
    assert _state(t, spark) == {(1, 1): "a", (2, 1): "b"}
    assert _wap_manifests(str(tmp_path / "pt"), "latecrash") == []


def test_tree_abort_rolls_back_crashed_publish_children(
    spark, tmp_path, monkeypatch
):
    """abort() after a publish that crashed before its main commit
    leaves main at the stage's base, and no staged row leaks into a
    later main merge of the same partition."""
    t = _create(tmp_path)
    t.merge(_events(spark, [(1, 1, 1, "insert", "a")]))
    base_state, base = _state(t, spark), t.current_version()

    stage = t.begin_wap("crashabort")
    stage.merge(_events(spark, [(1, 1, 10, "update", "STAGED")]))
    monkeypatch.setattr(
        LakeTable, "_commit", lambda self, snap: (_ for _ in ()).throw(_Crash()),
    )
    with pytest.raises(_Crash):
        stage.publish(spark)
    monkeypatch.undo()

    t.begin_wap("crashabort").abort()
    assert t.current_version() == base
    assert _state(t, spark) == base_state
    t.merge(_events(spark, [(2, 1, 20, "insert", "real")]))
    assert _state(t, spark) == {(1, 1): "a", (2, 1): "real"}


def test_tree_publish_sweeps_in_stage_dropped_child(spark, tmp_path):
    """A partition merged and then dropped INSIDE the stage is absent
    from the published state, and the publish leaves no staged
    manifest behind."""
    t = _create(tmp_path)
    t.merge(_events(spark, [(1, 2, 1, "insert", "keep")]))

    stage = t.begin_wap("dropper")
    stage.merge(_events(spark, [(9, 1, 10, "insert", "ephemeral"),
                                (2, 2, 11, "insert", "kept2")]))
    stage.drop_partitions(before="2024-01-02")
    stage.publish(spark)

    assert t.partitions() == ["2024-01-02"]
    assert _state(t, spark) == {(1, 2): "keep", (2, 2): "kept2"}
    assert _wap_manifests(str(tmp_path / "pt"), "dropper") == []


def test_drop_partitions_retry_takes_fresh_drop_marks(spark, tmp_path):
    """A CommitConflictError retry inside drop_partitions works on the
    FRESH snapshot: rows a concurrent merge added to the dropped
    partition between the drop's read and its commit are dropped too,
    and a re-created partition holds only its new rows."""
    t = _create(tmp_path)
    t.merge(_events(spark, [(1, 1, 1, "insert", "old")]))

    t2 = LakeTable(str(tmp_path / "pt"))  # concurrent writer
    calls = {"n": 0}
    real_commit = LakeTable._commit

    def racing_commit(snap):
        calls["n"] += 1
        if calls["n"] == 1:
            # between t's snapshot read and its commit, a concurrent
            # merge lands rows in the partition being dropped; then t's
            # own commit attempt loses and retries on the fresh snapshot
            t2.merge(_events(spark, [(2, 1, 2, "insert", "concurrent")]))
            raise CommitConflictError("simulated lost race")
        return real_commit(t, snap)

    t._commit = racing_commit
    dropped = t.drop_partitions(before="2024-01-02")
    del t._commit
    assert dropped == ["2024-01-01"] and calls["n"] == 2
    assert _state(t, spark) == {}

    t.merge(_events(spark, [(3, 1, 10, "insert", "fresh")]))
    assert _state(t, spark) == {(3, 1): "fresh"}
