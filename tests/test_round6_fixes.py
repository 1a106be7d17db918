"""Round-6 correctness fixes: crash-safe tree WAP publish (intent
marker, idempotent re-attach, foreign-commit guard, in-stage-drop
sweep) and drop_partitions' fresh-vector drop marks under commit
retry."""

import datetime
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import types as T

from oregonwaterdataportal_etl_spark.lake import (
    LakeTable,
    PartitionedLakeTable,
    WapConflictError,
)
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
    return PartitionedLakeTable.create(
        str(tmp_path / "pt"), SCHEMA, key_cols=["id"],
        partition_col="ts", num_buckets=4, **kw,
    )


def _state(t, spark, **kw):
    return {
        (r["id"], r["ts"].day): r["v"] for r in t.read(spark, **kw).collect()
    }


class _Crash(BaseException):
    """Simulated process death: NOT an Exception, so no except-clause
    in the publish protocol can catch it (like a real crash)."""


def _wap_manifests(child_dir: str, wap_id: str) -> list[str]:
    md = os.path.join(child_dir, "_meta")
    if not os.path.isdir(md):
        return []
    return [n for n in os.listdir(md) if n.startswith(f"wap-{wap_id}-")]


def test_tree_publish_crash_before_root_commit_resumes(
    spark, tmp_path, monkeypatch
):
    """Crash AFTER the child-publish loop but BEFORE the root commit:
    the re-attached publish must pin the children's PUBLISHED main
    versions (from the intent marker), not the staged chain numbers —
    with >1 staged commits per child the staged numbers do not even
    exist on the main chain (pre-fix: FileNotFoundError or silently
    wrong pins)."""
    t = _create(tmp_path)
    t.merge(_events(spark, [(1, 1, 1, "insert", "a"), (2, 2, 2, "insert", "b")]))
    base_root = t.current_version()

    stage = t.begin_wap("crashpub")
    # TWO staged commits into the same child: staged tip = pre+2,
    # published main version = pre+1 — the numbers must diverge
    stage.merge(_events(spark, [(1, 1, 10, "update", "a2")]))
    stage.merge(_events(spark, [(3, 1, 11, "insert", "c")]))
    stage.merge(_events(spark, [(4, 2, 12, "insert", "d")]))

    def crash_commit(self, snap):
        raise _Crash()

    monkeypatch.setattr(PartitionedLakeTable, "_commit", crash_commit)
    with pytest.raises(_Crash):
        stage.publish(spark)
    monkeypatch.undo()

    # children are published on their main chains; root still at base
    assert t.current_version() == base_root

    again = t.begin_wap("crashpub")
    v = again.publish(spark)
    assert v == base_root + 1
    # every pinned child version must exist and read cleanly
    assert _state(t, spark) == {
        (1, 1): "a2", (2, 2): "b", (3, 1): "c", (4, 2): "d",
    }
    # stage fully cleaned up: no staged manifests, no intent marker
    assert _wap_manifests(str(tmp_path / "pt"), "crashpub") == []
    for name in os.listdir(str(tmp_path / "pt")):
        if name.startswith("p="):
            assert _wap_manifests(str(tmp_path / "pt" / name), "crashpub") == []


def test_tree_publish_crash_after_root_commit_is_idempotent(
    spark, tmp_path, monkeypatch
):
    """Crash AFTER the root commit but BEFORE cleanup: the re-attached
    publish must recognize its OWN completed commit and finish the
    cleanup instead of raising 'main moved'."""
    t = _create(tmp_path)
    t.merge(_events(spark, [(1, 1, 1, "insert", "a")]))
    base_root = t.current_version()

    stage = t.begin_wap("latecrash")
    stage.merge(_events(spark, [(2, 1, 10, "insert", "b")]))

    real_commit = PartitionedLakeTable._commit

    def commit_then_crash(self, snap):
        real_commit(self, snap)
        raise _Crash()

    monkeypatch.setattr(PartitionedLakeTable, "_commit", commit_then_crash)
    with pytest.raises(_Crash):
        stage.publish(spark)
    monkeypatch.undo()
    assert t.current_version() == base_root + 1  # root commit landed

    again = t.begin_wap("latecrash")
    assert again.publish(spark) == base_root + 1  # idempotent, no conflict
    assert _state(t, spark) == {(1, 1): "a", (2, 1): "b"}
    assert _wap_manifests(str(tmp_path / "pt"), "latecrash") == []


def test_tree_abort_rolls_back_crashed_publish_children(
    spark, tmp_path, monkeypatch
):
    """abort() after a mid-protocol publish crash must un-publish the
    children recorded in the intent marker, so no staged row leaks
    into later main merges."""
    t = _create(tmp_path)
    t.merge(_events(spark, [(1, 1, 1, "insert", "a")]))
    base = _state(t, spark)
    base_root = t.current_version()

    stage = t.begin_wap("crashabort")
    stage.merge(_events(spark, [(1, 1, 10, "update", "STAGED")]))

    monkeypatch.setattr(
        PartitionedLakeTable, "_commit",
        lambda self, snap: (_ for _ in ()).throw(_Crash()),
    )
    with pytest.raises(_Crash):
        stage.publish(spark)
    monkeypatch.undo()

    t.begin_wap("crashabort").abort()
    assert t.current_version() == base_root
    assert _state(t, spark) == base
    # a later main merge into the same partition sees no staged rows
    t.merge(_events(spark, [(2, 1, 20, "insert", "real")]))
    st = _state(t, spark)
    assert st == {(1, 1): "a", (2, 1): "real"}


def test_tree_abort_refuses_foreign_commit_on_published_child(
    spark, tmp_path, monkeypatch
):
    """If a concurrent MAIN merge lands on a child that a crashed
    publish had published, rollback would silently drop that writer's
    rows — abort must fail loudly instead (operator repair)."""
    t = _create(tmp_path)
    t.merge(_events(spark, [(1, 1, 1, "insert", "a")]))

    stage = t.begin_wap("foreign")
    stage.merge(_events(spark, [(1, 1, 10, "update", "STAGED")]))
    monkeypatch.setattr(
        PartitionedLakeTable, "_commit",
        lambda self, snap: (_ for _ in ()).throw(_Crash()),
    )
    with pytest.raises(_Crash):
        stage.publish(spark)
    monkeypatch.undo()

    # a foreign main merge builds on the (published, unaudited) child
    t.merge(_events(spark, [(2, 1, 20, "insert", "foreign-row")]))

    with pytest.raises(WapConflictError, match="operator repair"):
        t.begin_wap("foreign").abort()


def test_tree_publish_rejects_unexpected_child_version(
    spark, tmp_path, monkeypatch
):
    """The intent marker records pub = pre + 1 before each child
    publish; a child that publishes any other version must stop the
    publish with an explicit error (not a bare assert, which python -O
    strips)."""
    from oregonwaterdataportal_etl_spark.lake.wap import WapStage

    t = _create(tmp_path)
    t.merge(_events(spark, [(1, 1, 1, "insert", "a")]))
    stage = t.begin_wap("skew")
    stage.merge(_events(spark, [(1, 1, 10, "update", "STAGED")]))

    publish = WapStage.publish
    monkeypatch.setattr(
        WapStage, "publish", lambda self, *a, **k: publish(self, *a, **k) + 1
    )
    with pytest.raises(RuntimeError, match="published version") as ei:
        stage.publish(spark)
    assert ei.type is RuntimeError


def test_tree_publish_sweeps_in_stage_dropped_child(spark, tmp_path):
    """A child merged and then drop_partitions'd INSIDE the stage is
    absent from the published vector; publish must still abort its
    staged chain so the wap manifests (and the staged data files they
    pin) do not linger forever."""
    t = _create(tmp_path)
    t.merge(_events(spark, [(1, 2, 1, "insert", "keep")]))

    stage = t.begin_wap("dropper")
    stage.merge(_events(spark, [(9, 1, 10, "insert", "ephemeral"),
                                (2, 2, 11, "insert", "kept2")]))
    stage.drop_partitions(before="2024-01-02")
    stage.publish(spark)

    assert sorted(t.partitions()) == ["2024-01-02"]
    assert _state(t, spark) == {(1, 2): "keep", (2, 2): "kept2"}
    # the dropped child's staged chain must be gone
    assert _wap_manifests(str(tmp_path / "pt" / "p=2024-01-01"), "dropper") == []


def test_drop_partitions_retry_takes_fresh_drop_marks(spark, tmp_path):
    """A CommitConflictError retry inside drop_partitions must take
    the drop mark from the FRESH root read: a concurrent merge that
    advanced the child between the pre-commit mark read and the retry
    would otherwise leave dropped_at stale, the reincarnation truncate
    would be skipped (child version > dropped_at), and the dropped
    rows would resurrect through the next merge."""
    t = _create(tmp_path)
    t.merge(_events(spark, [(1, 1, 1, "insert", "old")]))

    t2 = PartitionedLakeTable(str(tmp_path / "pt"))  # concurrent writer
    calls = {"n": 0}
    real_commit = PartitionedLakeTable._commit

    def racing_commit(snap):
        calls["n"] += 1
        if calls["n"] == 1:
            # between t's mark read and its root commit, a concurrent
            # merge advances the child AND the root vector; then t's
            # own commit attempt loses (conflict) and retries mutate
            # against the fresh root
            t2.merge(_events(spark, [(2, 1, 2, "insert", "concurrent")]))
            raise CommitConflictError("simulated lost race")
        return real_commit(t, snap)

    t._commit = racing_commit
    dropped = t.drop_partitions(before="2024-01-02")
    del t._commit
    assert dropped == ["2024-01-01"]
    assert _state(t, spark) == {}

    # re-create the partition: the truncate must fire, so neither the
    # original nor the concurrent rows resurrect
    t.merge(_events(spark, [(3, 1, 10, "insert", "fresh")]))
    assert _state(t, spark) == {(3, 1): "fresh"}
