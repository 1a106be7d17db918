"""PartitionedLakeTable: days(ts) x bucket(key) — routing, pruning,
snapshot-consistent vector reads, retention drops, changelog, runner
integration."""

import datetime
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from conftest import recorded_writes

from oregonwaterdataportal_etl_spark.lake import (
    LakeTable,
    PartitionedLakeTable,
)

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
        (r["id"], r["ts"].day): r["v"]
        for r in t.read(spark, **kw).collect()
    }


def test_merge_routes_and_reads_back(spark, tmp_path):
    t = _create(tmp_path)
    res = t.merge(_events(spark, [
        (1, 1, 10, "insert", "a"),
        (2, 1, 11, "insert", "b"),
        (1, 2, 12, "insert", "c"),   # same key, different day = DIFFERENT row
        (3, 3, 13, "insert", "d"),
    ]))
    assert res.rows_inserted == 4
    assert sorted(res.partitions) == ["2024-01-01", "2024-01-02", "2024-01-03"]
    assert _state(t, spark) == {
        (1, 1): "a", (2, 1): "b", (1, 2): "c", (3, 3): "d",
    }
    # LWW update + delete route to the right day
    t.merge(_events(spark, [
        (1, 1, 20, "update", "a2"),
        (2, 1, 5, "update", "stale"),   # lower LSN than base -> no-op
        (3, 3, 21, "delete", None),
    ]))
    assert _state(t, spark) == {(1, 1): "a2", (2, 1): "b", (1, 2): "c"}


def test_untouched_partitions_not_rewritten(spark, tmp_path):
    t = _create(tmp_path)
    t.merge(_events(spark, [(1, 1, 1, "insert", "a"), (2, 2, 2, "insert", "b")]))
    v_day2 = t.partitions()["2024-01-02"]
    t.merge(_events(spark, [(1, 1, 3, "update", "a2")]))
    # day-2 child untouched: pinned version unchanged
    assert t.partitions()["2024-01-02"] == v_day2


def test_read_partition_pruning_is_metadata_only(spark, tmp_path):
    t = _create(tmp_path)
    t.merge(_events(spark, [
        (1, 1, 1, "insert", "a"), (2, 2, 2, "insert", "b"),
        (3, 3, 3, "insert", "c"), (4, 4, 4, "insert", "d"),
    ]))
    pruned = t.read(spark, between=("2024-01-02", "2024-01-03"))
    files = pruned.inputFiles()
    assert files, "expected a parquet-backed plan"
    assert all(("p=2024-01-02" in f) or ("p=2024-01-03" in f) for f in files)
    assert {r["id"] for r in pruned.collect()} == {2, 3}
    # values= list form
    only4 = t.read(spark, values=["2024-01-04"])
    assert {r["id"] for r in only4.collect()} == {4}


def test_root_snapshot_consistency_time_travel(spark, tmp_path):
    t = _create(tmp_path)
    t.merge(_events(spark, [(1, 1, 1, "insert", "a"), (2, 2, 2, "insert", "b")]))
    v1 = t.current_version()
    t.merge(_events(spark, [(1, 1, 3, "update", "a2"), (3, 2, 4, "insert", "c")]))
    # old root version = old vector = pre-merge state in EVERY partition
    assert _state(t, spark, version=v1) == {(1, 1): "a", (2, 2): "b"}
    assert _state(t, spark) == {(1, 1): "a2", (2, 2): "b", (3, 2): "c"}
    # timestamp time travel rides the same committed_at stamps
    ts1 = t.snapshot(v1)["committed_at"]
    assert t.version_at(ts1) == v1


def test_null_partition_value_is_an_error(spark, tmp_path):
    t = _create(tmp_path)
    bad = spark.createDataFrame(
        [Row(id=1, ts=None, lsn=1, op="insert", v="a")],
        _events(spark, [(1, 1, 1, "insert", "a")]).schema,
    )
    with pytest.raises(ValueError, match="null"):
        t.merge(bad)


def test_idempotent_replay(spark, tmp_path):
    t = _create(tmp_path)
    batch = [(1, 1, 1, "insert", "a"), (2, 2, 2, "insert", "b")]
    t.merge(_events(spark, batch))
    before = _state(t, spark)
    res = t.merge(_events(spark, batch))  # replay: LSN guard no-ops
    assert _state(t, spark) == before
    assert res.rows_inserted == 0


def test_drop_partitions_metadata_only_then_vacuum(spark, tmp_path):
    t = _create(tmp_path)
    t.merge(_events(spark, [
        (1, 1, 1, "insert", "a"), (2, 2, 2, "insert", "b"),
        (3, 3, 3, "insert", "c"),
    ]))
    v_pre = t.current_version()

    def tables():
        return {x.name for x in spark.catalog.listTables()
                if x.name.startswith("zxr_")}

    before = tables()
    t.read_changes(spark, 0, v_pre).collect()  # registers in every child
    assert tables() - before
    dropped = t.drop_partitions(before="2024-01-03")
    assert dropped == ["2024-01-01", "2024-01-02"]
    assert _state(t, spark) == {(3, 3): "c"}
    # metadata-only: the child dirs still exist (time travel works)
    assert os.path.isdir(t.partition_dir("2024-01-01"))
    assert _state(t, spark, version=v_pre) == {
        (1, 1): "a", (2, 2): "b", (3, 3): "c",
    }
    # vacuum with keep_last=1 reaps the dropped children
    removed = t.vacuum(keep_last=1, orphan_grace_seconds=0.0)
    assert removed > 0
    assert not os.path.isdir(t.partition_dir("2024-01-01"))
    assert not os.path.isdir(t.partition_dir("2024-01-02"))
    assert os.path.isdir(t.partition_dir("2024-01-03"))
    assert _state(t, spark) == {(3, 3): "c"}
    # the reaped children's catalog entries went with their dirs
    assert tables() - before == set()


def test_drop_noop_when_nothing_matches(spark, tmp_path):
    t = _create(tmp_path)
    t.merge(_events(spark, [(1, 5, 1, "insert", "a")]))
    v = t.current_version()
    assert t.drop_partitions(before="2024-01-01") == []
    assert t.current_version() == v  # no empty commit


def test_read_changes_vector_diff(spark, tmp_path):
    t = _create(tmp_path)
    t.merge(_events(spark, [(1, 1, 1, "insert", "a"), (2, 2, 2, "insert", "b")]))
    v1 = t.current_version()
    t.merge(_events(spark, [
        (1, 1, 3, "update", "a2"),          # changed partition
        (3, 3, 4, "insert", "c"),           # NEW partition
    ]))
    ch = {
        (r["id"], r["_change_type"]): r["v"]
        for r in t.read_changes(spark, v1).collect()
    }
    # day-2 untouched -> contributes nothing; update + insert emitted
    assert ch == {(1, "update"): "a2", (3, "insert"): "c"}


def test_read_changes_through_partition_drop_emits_deletes(spark, tmp_path):
    t = _create(tmp_path)
    t.merge(_events(spark, [
        (1, 1, 1, "insert", "a"), (2, 1, 2, "insert", "b"),
        (3, 2, 3, "insert", "c"),
        (2, 1, 4, "delete", None),  # already gone pre-drop: must NOT reappear
    ]))
    v1 = t.current_version()
    t.drop_partitions(before="2024-01-02")
    rows = t.read_changes(spark, v1).collect()
    assert {(r["id"], r["_change_type"]) for r in rows} == {(1, "delete")}
    # NULL commit lsn = the expired-tombstone convention: the consumer
    # substitutes its watermark so the delete WINS the replica's LWW
    # (the row's own lsn would TIE against the already-applied row)
    assert rows[0]["_commit_lsn"] is None


def test_mor_mode_and_compact_fanout(spark, tmp_path):
    t = _create(tmp_path)
    t.merge(_events(spark, [(1, 1, 1, "insert", "a"), (2, 2, 2, "insert", "b")]))
    t.merge(_events(spark, [
        (1, 1, 3, "update", "a2"), (2, 2, 4, "delete", None),
    ]), mode="mor")
    assert _state(t, spark) == {(1, 1): "a2"}  # MOR read-path resolve
    t.compact(spark)
    assert _state(t, spark) == {(1, 1): "a2"}
    # deltas folded everywhere
    for v in t.partitions():
        assert not t.partition_table(v).snapshot().get("deltas")


def test_rebucket_fanout_updates_root_config(spark, tmp_path):
    t = _create(tmp_path)
    t.merge(_events(spark, [(i, 1 + i % 2, i, "insert", f"v{i}") for i in range(1, 9)]))
    before = _state(t, spark)
    t.rebucket(spark, 8)
    assert t.snapshot()["num_buckets"] == 8
    assert _state(t, spark) == before
    # new partitions created after the rebucket use the new count
    t.merge(_events(spark, [(100, 9, 100, "insert", "x")]))
    assert t.partition_table("2024-01-09").snapshot()["num_buckets"] == 8


def test_identity_transform_and_validation(spark, tmp_path):
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("tenant", T.StringType()),
            T.StructField("v", T.StringType()),
        ]
    )
    t = PartitionedLakeTable.create(
        str(tmp_path / "ident"), schema, key_cols=["id"],
        partition_col="tenant", transform="identity", num_buckets=2,
    )
    df = spark.createDataFrame(
        [Row(id=1, tenant="acme", lsn=1, op="insert", v="a"),
         Row(id=1, tenant="globex", lsn=2, op="insert", v="b")],
    )
    t.merge(df)
    assert sorted(t.partitions()) == ["acme", "globex"]
    bad = spark.createDataFrame([Row(id=2, tenant="../evil", lsn=3,
                                     op="insert", v="x")])
    with pytest.raises(ValueError, match="unsafe"):
        t.merge(bad)


def test_create_validation(tmp_path):
    with pytest.raises(ValueError, match="not in schema"):
        PartitionedLakeTable.create(
            str(tmp_path / "x"), SCHEMA, ["id"], partition_col="nope")
    with pytest.raises(ValueError, match="timestamp"):
        PartitionedLakeTable.create(
            str(tmp_path / "y"), SCHEMA, ["id"], partition_col="v")


def test_cdc_runner_drop_in(spark, tmp_path):
    """The runner drives a PartitionedLakeTable unchanged: windows,
    duplicate-batch no-op replay, compact cadence."""
    from oregonwaterdataportal_etl_spark.cdc import CdcRunner, ManifestLog, OffsetLog

    t = _create(tmp_path)
    events = _events(spark, [
        (1, 1, 1, "insert", "a"),
        (2, 2, 2, "insert", "b"),
        (1, 1, 3, "update", "a2"),
        (2, 2, 4, "delete", None),
        (3, 3, 5, "insert", "c"),
    ]).localCheckpoint(eager=True)
    runner = CdcRunner(
        table=t,
        offsets=OffsetLog(str(tmp_path / "off"), "src"),
        manifests=ManifestLog(str(tmp_path / "man")),
        source=lambda: events,
        mode="mor",
        compact_every=2,
    )
    runner.run_window(1, 2)
    runner.run_window(3, 5)
    assert runner.run_window(3, 5) is None  # replay -> committed no-op
    assert _state(t, spark) == {(1, 1): "a2", (3, 3): "c"}
    for v in t.partitions():
        assert not t.partition_table(v).snapshot().get("deltas")


def test_schema_evolution_reaches_every_partition(spark, tmp_path):
    t = _create(tmp_path)
    t.merge(_events(spark, [(1, 1, 1, "insert", "a"), (2, 2, 2, "insert", "b")]))
    widened = _events(spark, [(3, 1, 3, "insert", "c")]).withColumn(
        "extra", F.lit(7).cast("int")
    )
    t.merge(widened)
    out = t.read(spark)
    assert "extra" in out.columns
    vals = {r["id"]: r["extra"] for r in out.collect()}
    # old rows (day-1 pre-evolution AND untouched day-2) read as null
    assert vals == {1: None, 2: None, 3: 7}


def test_policy_maintenance_partitioned(spark, tmp_path):
    """Retention + per-child upkeep + root history GC through ONE
    policy call — and via the shared lake.maintenance.maintain router."""
    from oregonwaterdataportal_etl_spark.lake import MaintenancePolicy, maintain

    t = _create(tmp_path)
    # day-1..day-4 history; day-4 gets MOR delta debt
    t.merge(_events(spark, [(i, d, i * 10 + d, "insert", f"v{i}{d}")
                            for i in range(1, 5) for d in range(1, 5)]))
    for j in range(3):
        t.merge(_events(spark, [(1, 4, 1000 + j, "update", f"u{j}")]),
                mode="mor")
    pol = MaintenancePolicy(
        max_files_per_bucket=None,
        max_delta_files_per_bucket=2,
        keep_partitions=3,
        keep_snapshots=2,
        orphan_grace_seconds=0.0,
    )
    report = maintain(spark, t, pol)  # routes to t.maintain
    assert report["drop_partitions"] == ["2024-01-01"]
    assert "p=2024-01-04" in report  # the delta-debt child compacted
    assert not t.partition_table("2024-01-04").snapshot().get("deltas")
    assert "vacuum" in report
    # state after: days 2-4, LWW winner on (1, day4)
    assert _state(t, spark)[(1, 4)] == "u2"
    assert sorted(t.partitions()) == ["2024-01-02", "2024-01-03", "2024-01-04"]
    # dropped child reaped by the root vacuum (grace 0)
    assert not os.path.isdir(t.partition_dir("2024-01-01"))
    # converged: a second call is a full no-op
    assert maintain(spark, t, pol) == {}


def test_runner_policy_cadence_partitioned(spark, tmp_path):
    """CdcRunner(maintenance_policy=...) drives the partitioned tree:
    retention happens ON the ingest cadence, no integration code."""
    from oregonwaterdataportal_etl_spark.cdc import CdcRunner, ManifestLog, OffsetLog
    from oregonwaterdataportal_etl_spark.lake import MaintenancePolicy

    t = _create(tmp_path)
    events = _events(spark, [
        (i, d, d * 100 + i, "insert", f"v{i}")
        for d in range(1, 5) for i in range(1, 4)
    ]).localCheckpoint(eager=True)
    runner = CdcRunner(
        table=t,
        offsets=OffsetLog(str(tmp_path / "off"), "src"),
        manifests=ManifestLog(str(tmp_path / "man")),
        source=lambda: events,
        compact_every=1,
        maintenance_policy=MaintenancePolicy(
            max_files_per_bucket=None,
            max_delta_files_per_bucket=None,
            keep_partitions=2,
            orphan_grace_seconds=0.0,
        ),
    )
    runner.run_window(101, 199)   # day 1
    runner.run_window(200, 399)   # days 2-3
    runner.run_window(400, 499)   # day 4
    # each cadence kept only the newest 2 partition values
    assert sorted(t.partitions()) == ["2024-01-03", "2024-01-04"]
    assert {k[1] for k in _state(t, spark)} == {3, 4}


from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["insert", "update", "delete"]),
            st.integers(1, 5),            # key id
            st.integers(0, 3),            # day index
            st.text(alphabet="abcxyz", min_size=0, max_size=6),
        ),
        min_size=1, max_size=50,
    ),
    st.lists(st.sampled_from(["cow", "mor"]), min_size=2, max_size=4),
    st.lists(
        st.sampled_from(["none", "compact", "drop0", "drop1", "drop2",
                         "vacuum"]),
        min_size=2, max_size=4,
    ),
    st.sampled_from(["pointer", "rename-free"]),
)
def test_partitioned_chaos_schedule_equals_oracle_fold(
    spark, tmp_path_factory, raw, modes, maint, cmode
):
    """Partition-tree chaos property: ANY interleaving of cow merges,
    mor appends, fan-out compacts, METADATA-ONLY retention drops and
    vacuums over an arbitrary (day, key) event list must leave the
    tree in exactly the state of a sequential oracle that replays the
    same schedule (LWW per (day, key); a drop permanently removes the
    days below its cutoff, later events re-create those partitions
    with only later rows). One schedule, both commit modes."""
    import shutil

    tmp = tmp_path_factory.mktemp("chaos_pt")
    rows = [
        (i, d, idx, op, txt)  # (id, day, lsn, op, v) for _events
        for idx, (op, i, d, txt) in enumerate(raw, start=1)
    ]
    t = PartitionedLakeTable.create(
        str(tmp / "pt"), SCHEMA, key_cols=["id"], partition_col="ts",
        num_buckets=2, commit_mode=cmode,
    )
    # sequential oracle over the SAME schedule
    state: dict = {}
    n, nb = len(rows), len(modes)
    step = max(n // nb, 1)
    for bi, mode in enumerate(modes):
        lo = bi * step
        hi = (bi + 1) * step if bi < nb - 1 else n
        if lo >= n:
            break
        batch = rows[lo:hi]
        t.merge(_events(spark, [(i, d + 1, lsn, op, v)
                                for i, d, lsn, op, v in batch]),
                mode=mode)
        for i, d, lsn, op, v in batch:
            k = (i, d)
            cur = state.get(k)
            if cur is None or lsn > cur[0]:
                state[k] = (lsn, None if op == "delete" else v,
                            op == "delete")
        m = maint[bi % len(maint)]
        if m == "compact":
            t.compact(spark)
        elif m.startswith("drop"):
            day = int(m[4:])
            cutoff = f"2024-01-0{day + 1}"
            t.drop_partitions(before=cutoff)
            state = {k: s for k, s in state.items() if k[1] >= day}
        elif m == "vacuum":
            t.vacuum(keep_last=1, orphan_grace_seconds=1e9)
    expected = sorted(
        (k[0], k[1] + 1, s[1]) for k, s in state.items() if not s[2]
    )
    got = sorted((r["id"], r["ts"].day, r["v"])
                 for r in t.read(spark).collect())
    assert got == expected
    shutil.rmtree(str(tmp), ignore_errors=True)


def test_partitioned_wal_zero_exchange_merge(spark, tmp_path):
    """The at-scale steady state composed: day-routed WAL + per-day
    zero-exchange resolve. Final state == the ordinary merge path, and
    NO Exchange appears in any per-day resolve plan."""
    from oregonwaterdataportal_etl_spark.lake import write_partitioned_wal

    rows1 = [(i, 1 + i % 3, i, "insert", f"v{i}") for i in range(1, 10)]
    rows2 = [(1, 1, 20, "update", "x"), (4, 1, 21, "delete", None),
             (2, 2, 22, "update", "y"), (100, 4, 23, "insert", "new")]
    t = _create(tmp_path)
    t.merge(_events(spark, rows1))
    wal = write_partitioned_wal(_events(spark, rows2), str(tmp_path / "wal"), t)
    with recorded_writes(spark) as writes:
        res = t.merge_prebucketed(spark, wal)
    assert sorted(res.partitions) == ["2024-01-01", "2024-01-02", "2024-01-04"]
    assert len(writes) == 3, writes  # one per day, child applies on pool threads
    for tree, details in writes:
        assert "Exchange" not in tree, tree
        assert "Bucketed: true" in details
    # oracle: ordinary merge path on a twin table
    t2 = PartitionedLakeTable.create(
        str(tmp_path / "twin"), SCHEMA, key_cols=["id"],
        partition_col="ts", num_buckets=4,
    )
    t2.merge(_events(spark, rows1))
    t2.merge(_events(spark, rows2))
    assert _state(t, spark) == _state(t2, spark)
    # replayed WAL merge is a no-op under the LSN guard
    before = _state(t, spark)
    t.merge_prebucketed(spark, wal)
    assert _state(t, spark) == before


def test_runner_zero_exchange_partitioned_wal(spark, tmp_path):
    """The full production loop composed: CdcRunner windows over a
    PartitionedWalSource apply through the tree's merge_prebucketed
    (time-routed AND exchange-free); final state equals the plain
    thunk-source runner; replay no-ops."""
    from oregonwaterdataportal_etl_spark.cdc import (
        CdcRunner,
        ManifestLog,
        OffsetLog,
        PartitionedWalSource,
    )
    from oregonwaterdataportal_etl_spark.lake import write_partitioned_wal

    rows = (
        [(i, 1 + i % 3, i, "insert", f"v{i}") for i in range(1, 13)]
        + [(1, 1, 20, "update", "x"), (5, 2, 21, "delete", None),
           (30, 4, 22, "insert", "n")]
    )
    t = _create(tmp_path)
    wal_dir = str(tmp_path / "wal")
    write_partitioned_wal(_events(spark, [r for r in rows if r[2] < 10]),
                          wal_dir, t)
    write_partitioned_wal(_events(spark, [r for r in rows if r[2] >= 10]),
                          wal_dir, t)
    runner = CdcRunner(
        table=t,
        offsets=OffsetLog(str(tmp_path / "off"), "src"),
        manifests=ManifestLog(str(tmp_path / "man")),
        source=PartitionedWalSource(spark, wal_dir),
    )
    runner.run_window(1, 9)
    runner.run_window(10, 22)
    assert runner.run_window(10, 22) is None   # committed replay no-op
    # windows went through the zero-exchange tree path
    ops = [t.snapshot(v)["summary"]["operation"]
           for v in range(1, t.current_version() + 1)]
    assert ops.count("merge_prebucketed") == 2, ops
    # oracle: plain-source runner on a twin tree
    t2 = PartitionedLakeTable.create(
        str(tmp_path / "twin"), SCHEMA, key_cols=["id"],
        partition_col="ts", num_buckets=4,
    )
    ev = _events(spark, rows).localCheckpoint(eager=True)
    r2 = CdcRunner(
        table=t2,
        offsets=OffsetLog(str(tmp_path / "off2"), "src"),
        manifests=ManifestLog(str(tmp_path / "man2")),
        source=lambda: ev,
    )
    r2.run_window(1, 9)
    r2.run_window(10, 22)
    assert _state(t, spark) == _state(t2, spark)


def test_wal_misconfiguration_guards(spark, tmp_path):
    """Review fixes: a flat WAL into a partitioned tree fails loudly
    (never a silent zero-row commit); a payload column named 'p' is
    refused by the WAL writer; a failed pruned_dir build leaks nothing."""
    from oregonwaterdataportal_etl_spark.cdc import PartitionedWalSource
    from oregonwaterdataportal_etl_spark.lake import (
        write_bucketed_wal,
        write_partitioned_wal,
    )

    t = _create(tmp_path)
    flat = str(tmp_path / "flatwal")
    write_bucketed_wal(_events(spark, [(1, 1, 1, "insert", "a")]), flat, 4,
                       ["id"])
    with pytest.raises(ValueError, match="flat WAL"):
        t.merge_prebucketed(spark, flat)
    with pytest.raises(ValueError, match="reserved"):
        write_partitioned_wal(
            _events(spark, [(1, 1, 1, "insert", "a")]).withColumn(
                "p", F.lit("x")),
            str(tmp_path / "w2"), t)
    # flat files under a PartitionedWalSource: loud error, no leaked dir
    src = PartitionedWalSource(spark, flat)
    with pytest.raises(ValueError, match="p=<value>"):
        src.pruned_dir(1, 1)
    assert not [d for d in os.listdir(flat) if d.startswith(".pwalwin")]


def test_months_transform(spark, tmp_path):
    t = PartitionedLakeTable.create(
        str(tmp_path / "m"), SCHEMA, key_cols=["id"],
        partition_col="ts", transform="months", num_buckets=2,
    )
    t.merge(spark.createDataFrame(
        [Row(id=1, ts=datetime.datetime(2024, 1, 5), lsn=1, op="insert", v="a"),
         Row(id=2, ts=datetime.datetime(2024, 2, 20), lsn=2, op="insert", v="b"),
         Row(id=1, ts=datetime.datetime(2024, 2, 9), lsn=3, op="insert", v="c")],
    ))
    assert sorted(t.partitions()) == ["2024-01", "2024-02"]
    assert t.drop_partitions(before="2024-02") == ["2024-01"]
    assert {r["id"] for r in t.read(spark).collect()} == {1, 2}


def test_concurrent_writers_different_partitions(spark, tmp_path):
    """Two writers racing root commits on DIFFERENT days both land:
    the vector max-merge retry composes their updates (the losing
    writer re-reads and re-applies its pin on the fresh root)."""
    import threading

    t = _create(tmp_path)
    t.merge(_events(spark, [(1, 1, 1, "insert", "a"), (2, 2, 2, "insert", "b")]))
    errs = []

    def writer(day, lsn, val):
        try:
            t.merge(_events(spark, [(9, day, lsn, "insert", val)]))
        except Exception as e:  # pragma: no cover
            errs.append(e)

    th1 = threading.Thread(target=writer, args=(1, 10, "x"))
    th2 = threading.Thread(target=writer, args=(2, 11, "y"))
    th1.start(); th2.start(); th1.join(); th2.join()
    assert not errs
    st = _state(t, spark)
    assert st[(9, 1)] == "x" and st[(9, 2)] == "y"
    assert st[(1, 1)] == "a" and st[(2, 2)] == "b"


def test_recreated_partition_does_not_resurrect_dropped_rows(spark, tmp_path):
    """Regression (found by the chaos property): merging into a day
    that was DROPPED but not yet vacuumed must start a fresh
    incarnation — the stale child dir's rows may not resurrect.
    Pre-drop root time travel still sees the old incarnation."""
    t = _create(tmp_path)
    t.merge(_events(spark, [(5, 3, 1, "update", "yz"),
                            (5, 1, 2, "update", "bxzacy")]))
    t.merge(_events(spark, [(1, 1, 3, "insert", ""), (1, 1, 4, "insert", "")]))
    v_pre = t.current_version()
    t.drop_partitions(before="2024-01-03")   # drops day 1 (and day 2)
    # re-create day 1: only the NEW rows may exist there
    t.merge(_events(spark, [(1, 1, 5, "insert", ""), (1, 1, 6, "insert", "")]))
    assert _state(t, spark) == {(1, 1): "", (5, 3): "yz"}
    # old incarnation still readable at the pre-drop root version
    assert _state(t, spark, version=v_pre) == {
        (1, 1): "", (5, 1): "bxzacy", (5, 3): "yz",
    }
    # zx route re-creates through the same guard
    from oregonwaterdataportal_etl_spark.lake import write_partitioned_wal

    t.drop_partitions(before="2024-01-02")
    wal = write_partitioned_wal(
        _events(spark, [(2, 1, 7, "insert", "fresh")]), str(tmp_path / "w"), t)
    t.merge_prebucketed(spark, wal)
    assert _state(t, spark) == {(2, 1): "fresh", (5, 3): "yz"}


def test_metadata_frames_tree(spark, tmp_path):
    t = _create(tmp_path)
    t.merge(_events(spark, [(1, 1, 1, "insert", "a"), (2, 2, 2, "insert", "b")]))
    t.merge(_events(spark, [(3, 2, 3, "insert", "c")]), mode="mor")
    parts = {r["partition"]: r for r in
             t.metadata_df(spark, "partitions").collect()}
    assert set(parts) == {"2024-01-01", "2024-01-02"}
    assert parts["2024-01-01"]["rows_base"] == 1
    assert parts["2024-01-02"]["delta_files"] >= 1  # pending MOR delta
    assert parts["2024-01-02"]["pinned_version"] == t.partitions()["2024-01-02"]
    files = t.metadata_df(spark, "files").collect()
    assert all(f"p={r['partition']}" in r["path"] for r in files)
    assert {r["kind"] for r in files} == {"base", "delta"}
    hist = {r["version"]: r for r in t.metadata_df(spark, "history").collect()}
    assert hist[2]["operation"] == "merge"
    assert hist[2]["touched_partitions"] == "2024-01-02"
    assert hist[2]["num_partitions"] == 2
    with pytest.raises(ValueError, match="unknown metadata"):
        t.metadata_df(spark, "nope")


def test_delete_where_cross_partition(spark, tmp_path):
    """GDPR-shaped erasure: one subject's rows live on many days."""
    t = _create(tmp_path)
    t.merge(_events(spark, [
        (7, 1, 1, "insert", "subj"), (7, 2, 2, "insert", "subj"),
        (8, 1, 3, "insert", "keep"), (7, 3, 4, "insert", "subj"),
    ]))
    res = t.delete_where(spark, F.col("id") == 7)
    assert sorted(res) == ["2024-01-01", "2024-01-02", "2024-01-03"]
    assert _state(t, spark) == {(8, 1): "keep"}
    # stale replay of an erased row cannot resurrect (tombstones)
    t.merge(_events(spark, [(7, 1, 1, "insert", "subj")]))
    assert _state(t, spark) == {(8, 1): "keep"}
    # idempotent: second call touches nothing
    assert t.delete_where(spark, F.col("id") == 7) == {}


def test_clone_tree_is_deep_and_independent(spark, tmp_path):
    t = _create(tmp_path)
    t.merge(_events(spark, [(1, 1, 1, "insert", "a"), (2, 2, 2, "insert", "b")]))
    t.merge(_events(spark, [(1, 1, 3, "update", "a2")]), mode="mor")  # pending delta
    t.drop_partitions(values=["2024-01-02"])
    snap_state = _state(t, spark)
    c = t.clone_to(str(tmp_path / "clone"))
    assert _state(c, spark) == snap_state == {(1, 1): "a2"}
    assert sorted(c.partitions()) == ["2024-01-01"]  # dropped day not cloned
    # independence: mutate + vacuum the source — clone unaffected
    t.merge(_events(spark, [(1, 1, 9, "update", "zz")]))
    t.compact(spark)
    t.vacuum(keep_last=1, orphan_grace_seconds=0.0)
    assert _state(c, spark) == snap_state
    # clone is writable on its own chain
    c.merge(_events(spark, [(5, 5, 10, "insert", "new")]))
    assert _state(c, spark) == {(1, 1): "a2", (5, 5): "new"}
    assert _state(t, spark) == {(1, 1): "zz"}


def test_replica_converges_through_partition_drop(spark, tmp_path):
    """The review's headline finding, fixed: dropped-partition deletes
    ride the changelog with NULL commit LSN and the follower's
    watermark+1 fallback, so they WIN the replica's LWW outright —
    every dropped row disappears from the replica, never a tie."""
    from oregonwaterdataportal_etl_spark.cdc import OffsetLog, replicate_available

    t = _create(tmp_path)
    # dropped-day rows carry the HIGHEST lsns (the adversarial case:
    # the surviving files' watermark is below them)
    t.merge(_events(spark, [(i, 3, i, "insert", f"keep{i}") for i in (1, 2)]
                    + [(i, 1, 100 + i, "insert", f"old{i}")
                       for i in range(1, 7)]))
    replica = LakeTable.create(
        str(tmp_path / "replica"),
        T.StructType(SCHEMA.fields), key_cols=["id", "ts"], num_buckets=2,
    )
    off = OffsetLog(str(tmp_path / "foff"), "f")
    replicate_available(spark, t, replica, off)
    assert replica.read(spark).count() == 8
    t.drop_partitions(before="2024-01-02")
    replicate_available(spark, t, replica, off)
    got = {(r["id"], r["ts"].day) for r in replica.read(spark).collect()}
    assert got == {(1, 3), (2, 3)}  # every dropped row erased


def test_empty_merge_commits_nothing(spark, tmp_path):
    t = _create(tmp_path)
    t.merge(_events(spark, [(1, 1, 1, "insert", "a")]))
    v = t.current_version()
    t.merge(_events(spark, [(1, 1, 0, "insert", "x")]).filter("id < 0"))
    assert t.current_version() == v  # no root-history churn


def test_keep_partitions_zero_drops_all(spark, tmp_path):
    from oregonwaterdataportal_etl_spark.lake import MaintenancePolicy

    t = _create(tmp_path)
    t.merge(_events(spark, [(1, 1, 1, "insert", "a"), (2, 2, 2, "insert", "b")]))
    report = t.maintain(spark, MaintenancePolicy(
        max_files_per_bucket=None, max_delta_files_per_bucket=None,
        keep_partitions=0))
    assert sorted(report["drop_partitions"]) == ["2024-01-01", "2024-01-02"]
    assert t.partitions() == {}


def test_reincarnation_arbitration_under_stale_root(spark, tmp_path):
    """A writer holding a PRE-reincarnation root snapshot must not
    truncate a chain another writer already reincarnated (the
    concurrent-recreate race, closed by the dropped_at record)."""
    t = _create(tmp_path)
    t.merge(_events(spark, [(1, 1, 1, "insert", "old")]))
    t.drop_partitions(values=["2024-01-01"])
    stale_root = t.snapshot()  # both writers start from this root
    # writer B reincarnates and lands its rows + root commit
    t.merge(_events(spark, [(2, 1, 5, "insert", "bnew")]))
    child = t.partition_table("2024-01-01")
    v_after_b = child.current_version()
    # writer A, still holding the stale root, routes into the same day:
    # it must observe B's incarnation (chain advanced past dropped_at)
    # and NOT truncate B's committed rows
    t._ensure_partition("2024-01-01", stale_root)
    assert child.current_version() == v_after_b
    assert {r["v"] for r in child.read(spark).collect()} == {"bnew"}


def test_reincarnated_child_carries_config_and_starts_empty(spark, tmp_path):
    """The truncate-reincarnate child commit is built by the shared
    snapshot envelope: the table config carries forward, the file maps
    start empty, and only the new incarnation's rows read back."""
    t = _create(tmp_path, dict_cols={"v": ["old", "new"]},
                tiebreak_family="md5", commit_mode="rename-free")
    t.merge(_events(spark, [(1, 1, 1, "insert", "old"),
                            (2, 1, 2, "insert", "old")]))
    t.drop_partitions(values=["2024-01-01"])
    t.merge(_events(spark, [(3, 1, 3, "insert", "new")]))
    child = t.partition_table("2024-01-01")
    hist = child.history()
    (trunc,) = [s for s in hist
                if s["summary"]["operation"] == "truncate-reincarnate"]
    prior = next(s for s in hist if s["version"] == trunc["parent"])
    assert prior["files"]  # the old incarnation held data
    for k in ("schema", "key_cols", "num_buckets", "dict_cols",
              "tiebreak_family", "commit_mode"):
        assert trunc[k] == prior[k], k
    assert trunc["dict_cols"] == {"v": ["old", "new"]}
    assert trunc["tiebreak_family"] == "md5"
    assert trunc["commit_mode"] == "rename-free"
    for k in ("files", "deltas", "tombstones", "row_counts"):
        assert trunc[k] == {}, k
    assert _state(t, spark) == {(3, 1): "new"}
    assert [r["v"] for r in child.read(spark).collect()] == ["new"]


def test_single_partition_batch_routes_from_one_evaluation(spark, tmp_path):
    """A batch whose rows all fall in ONE partition, from a source that
    evaluates differently each time, must still land every row: the
    routing list and the child's filtered slice have to come from the
    same evaluation. The UDF routes each row to day 1 on its first
    evaluation and to day 2 on every later one."""
    marks = str(tmp_path / "marks")
    os.makedirs(marks)

    def drifting_ts(i):
        try:
            os.close(os.open(os.path.join(marks, str(i)),
                             os.O_CREAT | os.O_EXCL))
            return datetime.datetime(2024, 1, 1)
        except FileExistsError:
            return datetime.datetime(2024, 1, 2)

    drift = F.udf(drifting_ts, T.TimestampType()).asNondeterministic()
    t = _create(tmp_path)
    batch = _events(spark, [(i, 1, i, "insert", f"v{i}") for i in range(1, 9)])
    t.merge(batch.withColumn("ts", drift("id")))
    assert sorted(t.partitions()) == ["2024-01-01"]
    assert _state(t, spark) == {(i, 1): f"v{i}" for i in range(1, 9)}


def test_tree_rebucket_is_root_level_under_policy(spark, tmp_path):
    """max_rows_per_bucket acts on the WHOLE tree (never one child):
    every child and the root agree on the new count afterwards."""
    from oregonwaterdataportal_etl_spark.lake import MaintenancePolicy

    t = _create(tmp_path)  # num_buckets=4
    t.merge(_events(spark, [(i, 1 + i % 2, i, "insert", f"v{i}")
                            for i in range(1, 41)]))
    report = t.maintain(spark, MaintenancePolicy(
        max_files_per_bucket=None, max_delta_files_per_bucket=None,
        max_rows_per_bucket=2))
    assert "rebucket" in report
    nb = t.snapshot()["num_buckets"]
    assert nb > 4
    for v in t.partitions():
        assert t.partition_table(v).snapshot()["num_buckets"] == nb


def test_incremental_view_over_tree_with_drop(spark, tmp_path):
    """IncrementalAggView maintains itself from the TREE's changelog
    unchanged — including a retention drop, whose per-row deletes fold
    the dropped rows OUT of the aggregates (a retention-aware
    materialized view for free)."""
    from oregonwaterdataportal_etl_spark.lake import AggSpec, IncrementalAggView

    t = _create(tmp_path)
    view = IncrementalAggView(
        str(tmp_path / "view"), "id",
        [AggSpec("n_days", "count"), AggSpec("chars", "sum", "length(v)")],
    )
    t.merge(_events(spark, [
        (1, 1, 1, "insert", "aa"), (1, 2, 2, "insert", "bbb"),
        (2, 1, 3, "insert", "cccc"),
    ]))
    view.refresh(spark, t)
    got = {r["id"]: (r["n_days"], r["chars"]) for r in view.read(spark).collect()}
    assert got == {1: (2, 5), 2: (1, 4)}
    t.merge(_events(spark, [(1, 2, 4, "update", "b")]))   # 3 chars -> 1
    t.drop_partitions(values=["2024-01-01"])              # removes (1,d1),(2,d1)
    view.refresh(spark, t)
    got = {r["id"]: (r["n_days"], r["chars"]) for r in view.read(spark).collect()}
    assert got == {1: (1, 1)}  # id 2's group deleted entirely


def test_tree_to_tree_replication(spark, tmp_path):
    """replicate_available with BOTH sides partitioned: the changelog
    carries ts, so the replica tree routes by day on its own."""
    from oregonwaterdataportal_etl_spark.cdc import OffsetLog, replicate_available

    src = _create(tmp_path)
    src.merge(_events(spark, [(1, 1, 1, "insert", "a"), (2, 2, 2, "insert", "b")]))
    replica = PartitionedLakeTable.create(
        str(tmp_path / "rep"), SCHEMA, key_cols=["id"],
        partition_col="ts", num_buckets=2,  # bucket counts may differ
    )
    off = OffsetLog(str(tmp_path / "o"), "f")
    replicate_available(spark, src, replica, off)
    assert _state(replica, spark) == _state(src, spark)
    assert sorted(replica.partitions()) == ["2024-01-01", "2024-01-02"]
    src.merge(_events(spark, [(1, 1, 3, "delete", None), (3, 3, 4, "insert", "c")]))
    src.drop_partitions(values=["2024-01-02"])
    replicate_available(spark, src, replica, off)
    assert _state(replica, spark) == _state(src, spark) == {(3, 3): "c"}


def test_tree_wap_stage_publish_abort(spark, tmp_path):
    """Write-audit-publish over the tree: staged merges invisible to
    main (root AND children), audits gate, publish is one atomic
    vector pin, abort leaks nothing into later main merges."""
    from oregonwaterdataportal_etl_spark.lake import (
        NotNull,
        RowBounds,
        WapAuditError,
    )

    t = _create(tmp_path)
    t.merge(_events(spark, [(1, 1, 1, "insert", "a"), (2, 2, 2, "insert", "b")]))
    base = _state(t, spark)
    v_base = t.current_version()

    stage = t.begin_wap("audit1")
    stage.merge(_events(spark, [
        (1, 1, 10, "update", "a2"),
        (3, 3, 11, "insert", "c"),   # NEW partition born in-stage
    ]))
    # stage sees its own work; main sees nothing
    assert _state(stage, spark) == {(1, 1): "a2", (2, 2): "b", (3, 3): "c"}
    assert _state(t, spark) == base and t.current_version() == v_base
    assert "2024-01-03" not in t.partitions()
    # failing audit keeps both stage and main
    with pytest.raises(WapAuditError):
        stage.publish(spark, audits=[RowBounds(min_rows=99)])
    assert _state(t, spark) == base
    # passing audits -> one atomic publish
    stage.publish(spark, audits=[NotNull("v"), RowBounds(min_rows=3)])
    assert _state(t, spark) == {(1, 1): "a2", (2, 2): "b", (3, 3): "c"}
    assert sorted(t.partitions()) == ["2024-01-01", "2024-01-02", "2024-01-03"]

    # abort path: staged rows must never reach main, even via a later
    # main merge into the same partitions
    stage2 = t.begin_wap("audit2")
    stage2.merge(_events(spark, [(9, 1, 20, "insert", "ghost"),
                                 (8, 4, 21, "insert", "ghost4")]))
    stage2.abort()
    t.merge(_events(spark, [(5, 1, 30, "insert", "real"),
                            (6, 4, 31, "insert", "real4")]))
    st = _state(t, spark)
    assert (9, 1) not in st and (8, 4) not in st
    assert st[(5, 1)] == "real" and st[(6, 4)] == "real4"


def test_tree_wap_conflict_rolls_children_back(spark, tmp_path):
    """Main moving while a tree stage is open refuses the publish and
    leaves main's children exactly as main committed them."""
    from oregonwaterdataportal_etl_spark.lake import WapConflictError

    t = _create(tmp_path)
    t.merge(_events(spark, [(1, 1, 1, "insert", "a")]))
    stage = t.begin_wap("race")
    stage.merge(_events(spark, [(1, 1, 10, "update", "staged")]))
    t.merge(_events(spark, [(2, 1, 11, "insert", "mainline")]))  # main moves
    with pytest.raises(WapConflictError):
        stage.publish(spark)
    assert _state(t, spark) == {(1, 1): "a", (2, 1): "mainline"}
    # the stage survives for abort
    assert stage.abort() >= 0
    t.merge(_events(spark, [(3, 1, 12, "insert", "after")]))
    st = _state(t, spark)
    assert st == {(1, 1): "a", (2, 1): "mainline", (3, 1): "after"}


def test_tree_wap_runner_composition(spark, tmp_path):
    """Audited ingest by composition: CdcRunner pointed AT a tree
    stage, publish once at the end — zero integration code."""
    from oregonwaterdataportal_etl_spark.cdc import CdcRunner, ManifestLog, OffsetLog
    from oregonwaterdataportal_etl_spark.lake import UniqueKeys

    t = _create(tmp_path)
    events = _events(spark, [
        (i, 1 + i % 2, i, "insert", f"v{i}") for i in range(1, 9)
    ]).localCheckpoint(eager=True)
    stage = t.begin_wap("ingest")
    runner = CdcRunner(
        table=stage,
        offsets=OffsetLog(str(tmp_path / "off"), "s"),
        manifests=ManifestLog(str(tmp_path / "man")),
        source=lambda: events,
    )
    runner.run_window(1, 4)
    runner.run_window(5, 8)
    assert _state(t, spark) == {}  # invisible until published
    stage.publish(spark, audits=[UniqueKeys(["id", "ts"])])
    assert len(_state(t, spark)) == 8
