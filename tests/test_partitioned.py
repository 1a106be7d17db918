"""Time-partitioned LakeTable: days(ts) x bucket(key) — routing,
pruning, time travel, retention drops, changelog, runner integration,
and the converter for partition trees already on disk."""

import datetime
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from conftest import recorded_writes

from oregonwaterdataportal_etl_spark.lake import LakeTable, write_bucketed_wal
from oregonwaterdataportal_etl_spark.lake.table import retry_on_conflict

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


def _create(tmp_path, name="pt", **kw):
    kw.setdefault("num_buckets", 4)
    return LakeTable.create(
        str(tmp_path / name), SCHEMA, key_cols=["id"], partition_col="ts", **kw,
    )


def _touched_parts(res) -> list[str]:
    """The partitions of a merge result's touched (partition, bucket)
    groups."""
    return sorted({str(g).split("/")[0] for g in res.touched_buckets})


def _files_of(t, value: str, version=None) -> list[str]:
    """The data files of one partition value in a snapshot."""
    snap = t.snapshot(version)
    return sorted(
        f for side in ("files", "deltas", "tombstones")
        for g, fl in (snap.get(side) or {}).items()
        if g.split("/")[0] == value for f in fl
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
    assert _touched_parts(res) == ["2024-01-01", "2024-01-02", "2024-01-03"]
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
    day2 = _files_of(t, "2024-01-02")
    res = t.merge(_events(spark, [(1, 1, 3, "update", "a2")]))
    # day-2 groups untouched: their file lists carry forward verbatim
    assert _touched_parts(res) == ["2024-01-01"]
    assert _files_of(t, "2024-01-02") == day2


def test_read_partition_pruning_is_metadata_only(spark, tmp_path):
    t = _create(tmp_path)
    t.merge(_events(spark, [
        (1, 1, 1, "insert", "a"), (2, 2, 2, "insert", "b"),
        (3, 3, 3, "insert", "c"), (4, 4, 4, "insert", "d"),
    ]))
    pruned = t.read(spark, between=("2024-01-02", "2024-01-03"))
    files = pruned.inputFiles()
    assert files, "expected a parquet-backed plan"
    kept = set(_files_of(t, "2024-01-02") + _files_of(t, "2024-01-03"))
    assert {f.removeprefix("file://") for f in files} <= kept
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
    # metadata-only: the dropped files still exist (time travel works)
    gone = _files_of(t, "2024-01-01", v_pre) + _files_of(t, "2024-01-02", v_pre)
    assert gone and all(os.path.exists(f) for f in gone)
    assert _state(t, spark, version=v_pre) == {
        (1, 1): "a", (2, 2): "b", (3, 3): "c",
    }
    # vacuum with keep_last=1 reaps the dropped partitions' files
    removed = t.vacuum(keep_last=1, orphan_grace_seconds=0.0)
    assert removed >= len(gone)
    assert not any(os.path.exists(f) for f in gone)
    assert all(os.path.exists(f) for f in _files_of(t, "2024-01-03"))
    assert _state(t, spark) == {(3, 3): "c"}
    # the registrations' catalog entries went with their dirs
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
    assert not t.snapshot().get("deltas")  # folded everywhere


def test_rebucket_fanout_updates_root_config(spark, tmp_path):
    t = _create(tmp_path)
    t.merge(_events(spark, [(i, 1 + i % 2, i, "insert", f"v{i}") for i in range(1, 9)]))
    before = _state(t, spark)
    t.rebucket(spark, 8)
    assert t.snapshot()["num_buckets"] == 8
    assert _state(t, spark) == before
    # partitions created after the rebucket use the new count
    t.merge(_events(spark, [(100, 9, 100, "insert", "x")]))
    groups = [g for g in t.snapshot()["files"] if g.startswith("2024-01-09/")]
    assert groups and all(int(g.split("/")[1]) < 8 for g in groups)
    assert _state(t, spark)[(100, 9)] == "x"


def test_identity_transform_and_validation(spark, tmp_path):
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("tenant", T.StringType()),
            T.StructField("v", T.StringType()),
        ]
    )
    t = LakeTable.create(
        str(tmp_path / "ident"), schema, key_cols=["id"],
        partition_col="tenant", transform="identity", num_buckets=2,
    )
    df = spark.createDataFrame(
        [Row(id=1, tenant="acme", lsn=1, op="insert", v="a"),
         Row(id=1, tenant="globex", lsn=2, op="insert", v="b")],
    )
    t.merge(df)
    assert t.partitions() == ["acme", "globex"]
    bad = spark.createDataFrame([Row(id=2, tenant="../evil", lsn=3,
                                     op="insert", v="x")])
    with pytest.raises(ValueError, match="unsafe"):
        t.merge(bad)


def test_create_validation(tmp_path):
    with pytest.raises(ValueError, match="not in schema"):
        LakeTable.create(
            str(tmp_path / "x"), SCHEMA, ["id"], partition_col="nope")
    with pytest.raises(ValueError, match="timestamp"):
        LakeTable.create(
            str(tmp_path / "y"), SCHEMA, ["id"], partition_col="v")
    with pytest.raises(ValueError, match="unknown transform"):
        LakeTable.create(
            str(tmp_path / "z"), SCHEMA, ["id"], partition_col="ts",
            transform="hours")


def test_cdc_runner_drop_in(spark, tmp_path):
    """The runner drives a partitioned table unchanged: windows,
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
    assert not t.snapshot().get("deltas")


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
    """Retention + delta-debt compaction + history GC through ONE
    policy call (lake.maintenance.maintain)."""
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
    day1 = _files_of(t, "2024-01-01")
    report = maintain(spark, t, pol)
    assert report["drop_partitions"] == ["2024-01-01"]
    assert "compact" in report  # the delta-debt group folded
    assert not t.snapshot().get("deltas")
    assert "vacuum" in report
    # state after: days 2-4, LWW winner on (1, day4)
    assert _state(t, spark)[(1, 4)] == "u2"
    assert t.partitions() == ["2024-01-02", "2024-01-03", "2024-01-04"]
    # the dropped partition's files reaped by the vacuum (grace 0)
    assert day1 and not any(os.path.exists(f) for f in day1)
    # converged: a second call is a full no-op
    assert maintain(spark, t, pol) == {}


def test_runner_policy_cadence_partitioned(spark, tmp_path):
    """CdcRunner(maintenance_policy=...) drives a partitioned table:
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
    assert t.partitions() == ["2024-01-03", "2024-01-04"]
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
    """Partitioned-table chaos property: ANY interleaving of cow merges,
    mor appends, compacts, METADATA-ONLY retention drops and vacuums
    over an arbitrary (day, key) event list must leave the table in
    exactly the state of a sequential oracle that replays the
    same schedule (LWW per (day, key); a drop permanently removes the
    days below its cutoff, later events re-create those partitions
    with only later rows). One schedule, both commit modes."""
    import shutil

    tmp = tmp_path_factory.mktemp("chaos_pt")
    rows = [
        (i, d, idx, op, txt)  # (id, day, lsn, op, v) for _events
        for idx, (op, i, d, txt) in enumerate(raw, start=1)
    ]
    t = _create(tmp, num_buckets=2, commit_mode=cmode)
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
    """The at-scale steady state composed: a bucketed WAL of events on
    several days applies through ONE zero-exchange resolve+write job,
    which touches only the WAL days' groups. Final state == the
    ordinary merge path."""
    rows1 = [(i, 1 + i % 3, i, "insert", f"v{i}") for i in range(1, 10)]
    rows2 = [(1, 1, 20, "update", "x"), (4, 1, 21, "delete", None),
             (2, 2, 22, "update", "y"), (100, 4, 23, "insert", "new")]
    t = _create(tmp_path)
    t.merge(_events(spark, rows1))
    day3 = _files_of(t, "2024-01-03")
    wal = write_bucketed_wal(_events(spark, rows2), str(tmp_path / "wal"), 4, ["id"])
    with recorded_writes(spark) as writes:
        res = t.merge_prebucketed(spark, wal)
    assert set(_touched_parts(res)) <= {"2024-01-01", "2024-01-02", "2024-01-04"}
    assert _files_of(t, "2024-01-03") == day3  # outside the WAL's day range
    assert len(writes) == 1, writes  # one job for all days
    for tree, details in writes:
        assert "Exchange" not in tree, tree
        assert "Bucketed: true" in details
    # oracle: ordinary merge path on a twin table
    t2 = _create(tmp_path, "twin")
    t2.merge(_events(spark, rows1))
    t2.merge(_events(spark, rows2))
    assert _state(t, spark) == _state(t2, spark)
    # replayed WAL merge is a no-op under the LSN guard
    before = _state(t, spark)
    t.merge_prebucketed(spark, wal)
    assert _state(t, spark) == before


def test_runner_zero_exchange_partitioned_wal(spark, tmp_path):
    """The full production loop composed: CdcRunner windows over a
    BucketedWalSource apply through the partitioned table's
    merge_prebucketed (time-pruned AND exchange-free); final state
    equals the plain thunk-source runner; replay no-ops."""
    from oregonwaterdataportal_etl_spark.cdc import (
        BucketedWalSource,
        CdcRunner,
        ManifestLog,
        OffsetLog,
    )

    rows = (
        [(i, 1 + i % 3, i, "insert", f"v{i}") for i in range(1, 13)]
        + [(1, 1, 20, "update", "x"), (5, 2, 21, "delete", None),
           (30, 4, 22, "insert", "n")]
    )
    t = _create(tmp_path)
    wal_dir = str(tmp_path / "wal")
    for part in ([r for r in rows if r[2] < 10], [r for r in rows if r[2] >= 10]):
        write_bucketed_wal(_events(spark, part), wal_dir, 4, ["id"])
    runner = CdcRunner(
        table=t,
        offsets=OffsetLog(str(tmp_path / "off"), "src"),
        manifests=ManifestLog(str(tmp_path / "man")),
        source=BucketedWalSource(spark, wal_dir),
    )
    runner.run_window(1, 9)
    runner.run_window(10, 22)
    assert runner.run_window(10, 22) is None   # committed replay no-op
    ops = [t.snapshot(v)["summary"]["operation"]
           for v in range(1, t.current_version() + 1)]
    assert ops.count("merge-prebucketed") == 2, ops
    # oracle: plain-source runner on a twin table
    t2 = _create(tmp_path, "twin")
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
    """A WAL that cannot route into a partitioned table fails loudly
    (never a silent zero-row commit): one without the partition
    column, and one whose key type differs from the stored one."""
    t = _create(tmp_path)
    no_ts = str(tmp_path / "nots")
    write_bucketed_wal(
        _events(spark, [(1, 1, 1, "insert", "a")]).drop("ts"), no_ts, 4, ["id"]
    )
    with pytest.raises(ValueError, match="partition column ts"):
        t.merge_prebucketed(spark, no_ts)
    int_key = str(tmp_path / "intkey")
    write_bucketed_wal(
        _events(spark, [(1, 1, 1, "insert", "a")]).withColumn(
            "id", F.col("id").cast("int")),
        int_key, 4, ["id"],
    )
    with pytest.raises(ValueError, match="WAL key column id"):
        t.merge_prebucketed(spark, int_key)
    assert t.current_version() == 0


def test_months_transform(spark, tmp_path):
    t = _create(tmp_path, "m", transform="months", num_buckets=2)
    t.merge(spark.createDataFrame(
        [Row(id=1, ts=datetime.datetime(2024, 1, 5), lsn=1, op="insert", v="a"),
         Row(id=2, ts=datetime.datetime(2024, 2, 20), lsn=2, op="insert", v="b"),
         Row(id=1, ts=datetime.datetime(2024, 2, 9), lsn=3, op="insert", v="c")],
    ))
    assert t.partitions() == ["2024-01", "2024-02"]
    assert t.drop_partitions(before="2024-02") == ["2024-01"]
    assert {r["id"] for r in t.read(spark).collect()} == {1, 2}


def test_concurrent_writers_different_partitions(spark, tmp_path):
    """Two writers racing commits on DIFFERENT days both land under the
    engine's retry policy: the loser of the commit race re-reads the
    winner's snapshot and re-merges (a no-op for rows already applied)
    on top of it."""
    import threading

    t = _create(tmp_path)
    t.merge(_events(spark, [(1, 1, 1, "insert", "a"), (2, 2, 2, "insert", "b")]))
    errs = []

    def writer(day, lsn, val):
        try:
            retry_on_conflict(
                lambda: t.merge(_events(spark, [(9, day, lsn, "insert", val)]))
            )
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
    that was DROPPED but not yet vacuumed must start it afresh — the
    dropped rows may not resurrect. Pre-drop time travel still sees
    them."""
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
    # the zero-exchange route re-creates it the same way
    t.drop_partitions(before="2024-01-02")
    wal = write_bucketed_wal(
        _events(spark, [(2, 1, 7, "insert", "fresh")]), str(tmp_path / "w"), 4, ["id"])
    t.merge_prebucketed(spark, wal)
    assert _state(t, spark) == {(2, 1): "fresh", (5, 3): "yz"}


def test_metadata_frames_tree(spark, tmp_path):
    t = _create(tmp_path)
    t.merge(_events(spark, [(1, 1, 1, "insert", "a"), (2, 2, 2, "insert", "b")]))
    t.merge(_events(spark, [(3, 2, 3, "insert", "c")]), mode="mor")
    groups = t.metadata_df(spark, "partitions").collect()
    parts: dict = {}
    for r in groups:  # one row per (partition, bucket) group
        agg = parts.setdefault(r["partition"], {"rows_base": 0, "delta_files": 0})
        agg["rows_base"] += r["rows_base"]
        agg["delta_files"] += r["delta_files"]
    assert set(parts) == {"2024-01-01", "2024-01-02"}
    assert parts["2024-01-01"]["rows_base"] == 1
    assert parts["2024-01-02"]["delta_files"] >= 1  # pending MOR delta
    files = t.metadata_df(spark, "files").collect()
    assert all(r["path"] in _files_of(t, r["partition"]) for r in files)
    assert {r["kind"] for r in files} == {"base", "delta"}
    hist = {r["version"]: r for r in t.metadata_df(spark, "history").collect()}
    assert hist[1]["operation"] == "merge"
    assert hist[2]["operation"] == "merge-mor"
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
    assert res.rows_deleted == 3
    assert _touched_parts(res) == ["2024-01-01", "2024-01-02", "2024-01-03"]
    assert _state(t, spark) == {(8, 1): "keep"}
    # stale replay of an erased row cannot resurrect (tombstones)
    t.merge(_events(spark, [(7, 1, 1, "insert", "subj")]))
    assert _state(t, spark) == {(8, 1): "keep"}
    # idempotent: second call touches nothing
    v = t.current_version()
    assert t.delete_where(spark, F.col("id") == 7).empty
    assert t.current_version() == v


def test_clone_tree_is_deep_and_independent(spark, tmp_path):
    t = _create(tmp_path)
    t.merge(_events(spark, [(1, 1, 1, "insert", "a"), (2, 2, 2, "insert", "b")]))
    t.merge(_events(spark, [(1, 1, 3, "update", "a2")]), mode="mor")  # pending delta
    t.drop_partitions(values=["2024-01-02"])
    snap_state = _state(t, spark)
    c = t.clone_to(str(tmp_path / "clone"))
    assert _state(c, spark) == snap_state == {(1, 1): "a2"}
    assert c.partitions() == ["2024-01-01"]  # dropped day not cloned
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
    from oregonwaterdataportal_etl_spark.lake import MaintenancePolicy, maintain

    t = _create(tmp_path)
    t.merge(_events(spark, [(1, 1, 1, "insert", "a"), (2, 2, 2, "insert", "b")]))
    report = maintain(spark, t, MaintenancePolicy(
        max_files_per_bucket=None, max_delta_files_per_bucket=None,
        keep_partitions=0))
    assert sorted(report["drop_partitions"]) == ["2024-01-01", "2024-01-02"]
    assert t.partitions() == []


def test_reincarnation_arbitration_under_stale_root(spark, tmp_path):
    """A writer holding a snapshot from before another writer re-created
    a dropped partition cannot commit over it: the commit race
    arbitrates, and the re-created partition keeps that writer's
    rows."""
    from oregonwaterdataportal_etl_spark.lake.table import (
        CommitConflictError,
        _next_snapshot,
    )

    t = _create(tmp_path)
    t.merge(_events(spark, [(1, 1, 1, "insert", "old")]))
    t.drop_partitions(values=["2024-01-01"])
    stale = t.snapshot()  # both writers start from this snapshot
    # writer B re-creates the day and commits its rows
    t.merge(_events(spark, [(2, 1, 5, "insert", "bnew")]))
    # writer A, still holding the stale snapshot, loses the race
    with pytest.raises(CommitConflictError):
        t._commit(_next_snapshot(stale, {"operation": "merge"}))
    assert _state(t, spark) == {(2, 1): "bnew"}


def test_reincarnated_child_carries_config_and_starts_empty(spark, tmp_path):
    """Merging into a dropped partition value keeps the table's config
    (every commit is built by the shared snapshot envelope) and only
    the new rows read back."""
    t = _create(tmp_path, dict_cols={"v": ["old", "new"]},
                tiebreak_family="md5", commit_mode="rename-free")
    t.merge(_events(spark, [(1, 1, 1, "insert", "old"),
                            (2, 1, 2, "insert", "old")]))
    prior = t.snapshot()
    t.drop_partitions(values=["2024-01-01"])
    assert t.snapshot()["files"] == {} and t.snapshot()["row_counts"] == {}
    t.merge(_events(spark, [(3, 1, 3, "insert", "new")]))
    snap = t.snapshot()
    for k in ("schema", "key_cols", "num_buckets", "dict_cols",
              "tiebreak_family", "commit_mode", "partition_col", "transform"):
        assert snap[k] == prior[k], k
    assert snap["dict_cols"] == {"v": ["old", "new"]}
    assert snap["tiebreak_family"] == "md5"
    assert snap["commit_mode"] == "rename-free"
    assert _state(t, spark) == {(3, 1): "new"}


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
    assert t.partitions() == ["2024-01-01"]
    assert _state(t, spark) == {(i, 1): f"v{i}" for i in range(1, 9)}


def test_tree_rebucket_is_root_level_under_policy(spark, tmp_path):
    """max_rows_per_bucket counts rows per (partition, bucket) group
    and rebuckets the whole table: every group is laid out for the new
    count afterwards, and the rows are unchanged."""
    from oregonwaterdataportal_etl_spark.lake import MaintenancePolicy, maintain

    t = _create(tmp_path)  # num_buckets=4
    t.merge(_events(spark, [(i, 1 + i % 2, i, "insert", f"v{i}")
                            for i in range(1, 41)]))
    before = _state(t, spark)
    report = maintain(spark, t, MaintenancePolicy(
        max_files_per_bucket=None, max_delta_files_per_bucket=None,
        max_rows_per_bucket=2))
    assert "rebucket" in report
    nb = t.snapshot()["num_buckets"]
    assert nb > 4
    assert all(int(g.split("/")[1]) < nb for g in t.snapshot()["files"])
    assert _state(t, spark) == before


def test_incremental_view_over_tree_with_drop(spark, tmp_path):
    """IncrementalAggView maintains itself from a partitioned table's
    changelog unchanged — including a retention drop, whose per-row deletes fold
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
    carries ts, so the replica routes by day on its own."""
    from oregonwaterdataportal_etl_spark.cdc import OffsetLog, replicate_available

    src = _create(tmp_path)
    src.merge(_events(spark, [(1, 1, 1, "insert", "a"), (2, 2, 2, "insert", "b")]))
    replica = _create(tmp_path, "rep", num_buckets=2)  # bucket counts may differ
    off = OffsetLog(str(tmp_path / "o"), "f")
    replicate_available(spark, src, replica, off)
    assert _state(replica, spark) == _state(src, spark)
    assert replica.partitions() == ["2024-01-01", "2024-01-02"]
    src.merge(_events(spark, [(1, 1, 3, "delete", None), (3, 3, 4, "insert", "c")]))
    src.drop_partitions(values=["2024-01-02"])
    replicate_available(spark, src, replica, off)
    assert _state(replica, spark) == _state(src, spark) == {(3, 3): "c"}


def test_tree_wap_stage_publish_abort(spark, tmp_path):
    """Write-audit-publish over a partitioned table: staged merges
    invisible to main, audits gate, publish is one atomic commit, abort
    leaks nothing into later main merges."""
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
    assert t.partitions() == ["2024-01-01", "2024-01-02", "2024-01-03"]

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
    """Main moving while a stage of a partitioned table is open refuses
    the publish and leaves main exactly as main committed it."""
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
    """Audited ingest by composition: CdcRunner pointed AT a stage of a
    partitioned table, publish once at the end — zero integration
    code."""
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


def test_routing_is_utc_whatever_the_session_time_zone(spark, tmp_path):
    """A key merged under a UTC session and again under a
    America/Los_Angeles session lands in ONE partition (the UTC day),
    so the table holds one live row for it: routing is integer UTC
    arithmetic, not a session-zone date format. 2024-01-02 03:00 UTC is
    still 2024-01-01 in Los Angeles."""
    t = _create(tmp_path)
    ts = datetime.datetime(2024, 1, 2, 3, tzinfo=datetime.timezone.utc)
    schema = "id long, ts timestamp, lsn long, op string, v string"
    prior = spark.conf.get("spark.sql.session.timeZone")
    try:
        for lsn, zone in ((1, "UTC"), (2, "America/Los_Angeles")):
            spark.conf.set("spark.sql.session.timeZone", zone)
            t.merge(spark.createDataFrame(
                [Row(id=1, ts=ts, lsn=lsn, op="upsert", v=zone)], schema
            ))
    finally:
        spark.conf.set("spark.sql.session.timeZone", prior)
    rows = t.read(spark).collect()
    assert [r["v"] for r in rows] == ["America/Los_Angeles"]
    assert t.partitions() == ["2024-01-02"]


def test_merge_spanning_days_is_one_job_and_one_commit(spark, tmp_path):
    """One merge() of a batch spanning three days runs ONE write job
    (the resolve+write) and makes ONE manifest commit, whatever the
    number of partitions it touches."""
    t = _create(tmp_path)
    t.merge(_events(spark, [(i, 1 + i % 3, i, "insert", f"v{i}") for i in range(1, 13)]))
    v = t.current_version()
    batch = _events(spark, [(i, 1 + i % 3, 100 + i, "update", f"u{i}")
                            for i in range(1, 13)])
    with recorded_writes(spark) as writes:
        res = t.merge(batch)
    assert len(writes) == 1, writes
    assert _touched_parts(res) == ["2024-01-01", "2024-01-02", "2024-01-03"]
    assert t.current_version() == v + 1
    assert [s["version"] for s in t.history()][-2:] == [v, v + 1]


def test_convert_partition_tree_reads_equal(spark, tmp_path):
    """A partition tree on disk — real child LakeTables under p=<value>/
    plus a hand-written root snap- manifest pinning their versions —
    converts into one partitioned LakeTable that reads equal to the
    tree, without rewriting a data file, and merges on correctly."""
    import json

    from oregonwaterdataportal_etl_spark.lake import convert_partition_tree

    root = tmp_path / "tree"
    pinned = {}
    for day, rows in (
        (1, [(1, 1, 1, "insert", "a"), (2, 1, 2, "insert", "b")]),
        (2, [(1, 2, 3, "insert", "c"), (3, 2, 4, "insert", "d")]),
    ):
        value = f"2024-01-0{day}"
        child = LakeTable.create(str(root / f"p={value}"), SCHEMA, ["id"], num_buckets=4)
        child.merge(_events(spark, rows))
        # a pending delete tombstone and a pending MOR delta
        child.merge(_events(spark, [(rows[1][0], day, 10 + day, "delete", None)]))
        child.merge(_events(spark, [(rows[0][0], day, 20 + day, "update", f"m{day}")]),
                    mode="mor")
        pinned[value] = child.current_version()
        # a later child commit no root pins: not part of the tree's state
        child.merge(_events(spark, [(9, day, 30 + day, "insert", "unpinned")]))
    os.makedirs(root / "_meta")
    manifest = {
        "version": 3, "parent": 2, "schema": SCHEMA.json(), "key_cols": ["id"],
        "partition_col": "ts", "transform": "days", "num_buckets": 4,
        "dict_cols": {}, "tiebreak_family": "xxhash64", "commit_mode": "pointer",
        "partitions": pinned, "dropped_at": {}, "summary": {"operation": "merge"},
    }
    (root / "_meta" / "snap-00000003.json").write_text(json.dumps(manifest))
    (root / "_meta" / "CURRENT").write_text("3")
    tree_state = {
        (r["id"], r["ts"].day): r["v"]
        for value, cv in pinned.items()
        for r in LakeTable(str(root / f"p={value}")).read(spark, version=cv).collect()
    }
    assert tree_state == {(1, 1): "m1", (1, 2): "m2"}
    child_inodes = {
        os.stat(f).st_ino
        for value, cv in pinned.items()
        for f in LakeTable._snap_files(LakeTable(str(root / f"p={value}")).snapshot(cv))
    }

    t = convert_partition_tree(str(root))
    assert t.current_version() == 4
    assert _state(t, spark) == tree_state
    assert t.partitions() == ["2024-01-01", "2024-01-02"]
    assert {os.stat(f).st_ino for f in LakeTable._snap_files(t.snapshot())} == child_inodes
    # merges go on with the tree's identity: a key's row per day
    t.merge(_events(spark, [(1, 1, 40, "update", "x"), (2, 2, 41, "insert", "y")]))
    assert _state(t, spark) == {(1, 1): "x", (1, 2): "m2", (2, 2): "y"}
    t.compact(spark)
    assert _state(t, spark) == {(1, 1): "x", (1, 2): "m2", (2, 2): "y"}
