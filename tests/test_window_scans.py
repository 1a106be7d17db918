"""What one apply scans: an empty batch commits nothing on every merge
path and every runner route, the runner never probes its batch itself
(the apply reports emptiness from the scans it runs anyway), a
zero-exchange window lists its files once and builds no batch frame, a
MOR window reads its change files once and a cow window twice, and a
lookup builds its frame without a Spark job."""

import os
import uuid

import pytest
from pyspark.sql import Row
from pyspark.sql import types as T

from oregonwaterdataportal_etl_spark.cdc import (
    BucketedWalSource,
    CdcRunner,
    LsnRangedParquetSource,
    ManifestLog,
    OffsetLog,
)
from oregonwaterdataportal_etl_spark.lake import (
    LakeTable,
    write_bucketed_wal,
)

SCHEMA = T.StructType(
    [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
)
EVENT_SCHEMA = T.StructType(
    SCHEMA.fields
    + [T.StructField("lsn", T.LongType()), T.StructField("op", T.StringType())]
)
NB = 4


def _events(spark, rows):
    """rows: (id, lsn, op, v)"""
    return spark.createDataFrame(
        [Row(id=i, v=v, lsn=lsn, op=op) for i, lsn, op, v in rows], EVENT_SCHEMA
    )


def _inserts(spark, ids, lsn0):
    return _events(spark, [(i, lsn0 + k, "insert", f"v{i}") for k, i in enumerate(ids)])


def _write_dirs(t) -> list[str]:
    return sorted(os.listdir(t.data_dir))


def _manifest(manifests: ManifestLog, lo: int, hi: int, source_id: str) -> dict:
    from oregonwaterdataportal_etl_spark.cdc.manifests import batch_id_for_window

    return manifests.read(batch_id_for_window(source_id, lo, hi))


@pytest.fixture
def no_batch_probe(spark, monkeypatch):
    """The runner must not scan its batch just to learn it is empty."""

    def probe(self):
        raise AssertionError("the batch was probed with isEmpty()")

    monkeypatch.setattr(type(spark.range(0)), "isEmpty", probe)


def _check_empty_window(runner, table, lo, hi, source_id):
    v = table.current_version()
    assert runner.run_window(lo, hi) is None
    assert table.current_version() == v  # no table snapshot
    assert runner.offsets.last_lsn() == hi  # the watermark advances
    m = _manifest(runner.manifests, lo, hi, source_id)
    assert m["status"] == "committed" and m["metrics"] == {"empty": True}, m


@pytest.mark.parametrize("case", ["cow", "cow-first-load", "mor"])
def test_empty_merge_commits_nothing(spark, tmp_path, case):
    """A flat merge of an empty batch reports empty, commits no version
    and leaves no write dir under data/ (the mirror of
    test_partitioned.py::test_empty_merge_commits_nothing)."""
    t = LakeTable.create(str(tmp_path / "t"), SCHEMA, ["id"], num_buckets=NB)
    if case != "cow-first-load":
        t.merge(_inserts(spark, range(20), 1))
    v, dirs = t.current_version(), _write_dirs(t)
    mode = "mor" if case == "mor" else "cow"
    r = t.merge(_inserts(spark, [1], 100).filter("id < 0"), mode=mode)
    assert r.empty and r.version == v
    assert t.current_version() == v
    assert _write_dirs(t) == dirs
    # a non-empty batch still commits
    r = t.merge(_inserts(spark, [7], 200), mode=mode)
    assert not r.empty and t.current_version() == v + 1


def test_prebucketed_window_without_rows_commits_nothing(spark, tmp_path):
    """merge_prebucketed over WAL files that straddle the LSN range but
    hold no row inside it commits nothing and leaves no write dir."""
    t = LakeTable.create(str(tmp_path / "t"), SCHEMA, ["id"], num_buckets=NB)
    t.merge(_inserts(spark, range(20), 1))
    wal = str(tmp_path / "wal")
    write_bucketed_wal(
        _events(spark, [(1, 100, "update", "a"), (2, 130, "update", "b")]),
        wal, NB, ["id"],
    )
    v, dirs = t.current_version(), _write_dirs(t)
    r = t.merge_prebucketed(spark, wal, lsn_range=(110, 120))
    assert r.empty and t.current_version() == v
    assert _write_dirs(t) == dirs
    r = t.merge_prebucketed(spark, wal, lsn_range=(100, 120))
    assert not r.empty and r.rows_updated == 1


def test_empty_window_over_straddling_parquet_files(spark, tmp_path, no_batch_probe):
    """Files whose footer LSN range straddles the window hold no row in
    it: cow and mor windows advance the offsets, write the empty
    manifest and no snapshot, without probing the batch."""
    log = str(tmp_path / "log")
    _events(spark, [(1, 1, "insert", "a"), (2, 50, "insert", "b")]).coalesce(1) \
        .write.parquet(os.path.join(log, "f1"))
    for mode in ("cow", "mor"):
        t = LakeTable.create(str(tmp_path / f"t-{mode}"), SCHEMA, ["id"], num_buckets=NB)
        src = LsnRangedParquetSource(spark, log)
        assert src.files_for(10, 20)[0]  # the file straddles the window
        runner = CdcRunner(
            t, OffsetLog(str(tmp_path / f"off-{mode}"), "s"),
            ManifestLog(str(tmp_path / f"man-{mode}")), src, mode=mode,
        )
        assert runner.run_window(1, 9) is not None
        _check_empty_window(runner, t, 10, 20, "s")
        assert runner.run_window(21, 60).version == t.current_version()


def test_empty_windows_over_bucketed_wal(spark, tmp_path, no_batch_probe):
    """Zero-exchange route: a window whose WAL files straddle it without
    a row inside, and a window no file intersects, are both empty."""
    wal = str(tmp_path / "wal")
    write_bucketed_wal(
        _events(spark, [(i, lsn, "insert", "x") for i, lsn in ((1, 1), (2, 2), (1, 50))]),
        wal, NB, ["id"],
    )
    t = LakeTable.create(str(tmp_path / "t"), SCHEMA, ["id"], num_buckets=NB)
    src = BucketedWalSource(spark, wal)
    runner = CdcRunner(
        t, OffsetLog(str(tmp_path / "off"), "s"), ManifestLog(str(tmp_path / "man")), src,
    )
    assert runner.run_window(1, 2) is not None
    assert src.files_for(10, 20)[0]  # straddling files
    _check_empty_window(runner, t, 10, 20, "s")
    assert not src.files_for(60, 70)[0]  # no file at all
    _check_empty_window(runner, t, 60, 70, "s")
    assert not [e for e in os.listdir(wal) if e.startswith(".walwin-")]
    assert sorted(r["id"] for r in t.read(spark).collect()) == [1, 2]


def test_empty_window_over_partition_tree(spark, tmp_path, no_batch_probe):
    """A time-partitioned table over a BucketedWalSource: an empty
    window (straddling the day's file) commits no snapshot; the table's
    merge_prebucketed reports it empty."""
    import datetime

    schema = T.StructType(SCHEMA.fields + [T.StructField("ts", T.TimestampType())])
    t = LakeTable.create(
        str(tmp_path / "pt"), schema, key_cols=["id"], partition_col="ts",
        num_buckets=NB,
    )
    day = datetime.datetime(2024, 1, 1)
    rows = spark.createDataFrame(
        [Row(id=1, v="x", ts=day, lsn=lsn, op="insert") for lsn in (1, 50)],
    )
    wal = str(tmp_path / "wal")
    batch_dir = write_bucketed_wal(rows, wal, NB, ["id"])
    src = BucketedWalSource(spark, wal)
    runner = CdcRunner(
        t, OffsetLog(str(tmp_path / "off"), "s"), ManifestLog(str(tmp_path / "man")), src,
    )
    assert runner.run_window(1, 9) is not None
    assert src.files_for(10, 20)[0]  # the day file straddles the window
    child_v = t.partitions()
    _check_empty_window(runner, t, 10, 20, "s")
    assert t.partitions() == child_v
    v = t.current_version()
    r = t.merge_prebucketed(spark, batch_dir, lsn_range=(10, 20))
    assert r.empty and t.current_version() == v and t.partitions() == child_v


def _counting(source_cls):
    """A source subclass that records its ``__call__`` and ``files_for``
    calls."""

    class Counting(source_cls):
        def __init__(self, *a, **kw):
            super().__init__(*a, **kw)
            self.calls, self.listings = [], []

        def __call__(self, lo=None, hi=None):
            self.calls.append((lo, hi))
            return super().__call__(lo, hi)

        def files_for(self, lo, hi):
            self.listings.append((lo, hi))
            return super().files_for(lo, hi)

    return Counting


def test_zero_exchange_window_lists_its_files_once(spark, tmp_path):
    """A zero-exchange window never builds the batch frame: it asks the
    source for the window's files once (pruned_dir) and merges them."""
    wal = str(tmp_path / "wal")
    write_bucketed_wal(
        _events(spark, [(i, 100 + i, "insert", f"v{i}") for i in range(20)]),
        wal, NB, ["id"],
    )
    t = LakeTable.create(str(tmp_path / "t"), SCHEMA, ["id"], num_buckets=NB)
    src = _counting(BucketedWalSource)(spark, wal)
    runner = CdcRunner(
        t, OffsetLog(str(tmp_path / "off"), "s"), ManifestLog(str(tmp_path / "man")), src,
    )
    r = runner.run_window(100, 119)
    assert r is not None and r.rows_inserted == 20
    assert src.calls == []
    assert src.listings == [(100, 119)]


def test_ranged_window_builds_its_batch_once(spark, tmp_path):
    """The merge() route asks an LsnRangedParquetSource for the window's
    frame exactly once."""
    log = str(tmp_path / "log")
    _inserts(spark, range(10), 100).coalesce(1).write.parquet(log)
    t = LakeTable.create(str(tmp_path / "t"), SCHEMA, ["id"], num_buckets=NB)
    src = _counting(LsnRangedParquetSource)(spark, log)
    runner = CdcRunner(
        t, OffsetLog(str(tmp_path / "off"), "s"), ManifestLog(str(tmp_path / "man")), src,
    )
    r = runner.run_window(100, 109)
    assert r is not None and r.rows_inserted == 10
    assert src.calls == [(100, 109)]


def _input_records(spark, group: str) -> int:
    """Rows the stages of a job group read from files."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    ids = {s for j in st.getJobIdsForGroup(group) for s in st.getJobInfo(j).stageIds}
    jvm = spark._jvm
    stages = jvm.scala.jdk.javaapi.CollectionConverters.asJava(
        jsc.statusStore().stageList(
            None, False, False, sc._gateway.new_array(jvm.double, 0),
            jvm.java.util.ArrayList(),
        )
    )
    return sum(s.inputRecords() for s in stages if s.stageId() in ids)


@pytest.mark.parametrize("mode,scans", [("mor", 1), ("cow", 2)])
def test_window_scans_its_change_files(spark, tmp_path, mode, scans):
    """A MOR window reads its change files once (the resolve+write job);
    a cow window twice (the touched-bucket pass, then the write, which
    also reads the touched buckets' base files)."""
    t = LakeTable.create(str(tmp_path / "t"), SCHEMA, ["id"], num_buckets=NB)
    t.merge(_inserts(spark, range(100), 1))
    n = 40
    log = str(tmp_path / "log")
    _inserts(spark, range(50, 50 + n), 1000).coalesce(1).write.parquet(log)
    runner = CdcRunner(
        t, OffsetLog(str(tmp_path / "off"), "s"), ManifestLog(str(tmp_path / "man")),
        LsnRangedParquetSource(spark, log), mode=mode,
    )
    group = f"window-{uuid.uuid4().hex}"
    spark.sparkContext.setJobGroup(group, "one window")
    try:
        r = runner.run_window(1000, 1000 + n - 1)
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    base = 0
    if mode == "cow":
        row_counts = t.snapshot(r.version - 1)["row_counts"]
        base = sum(row_counts.get(str(b), 0) for b in r.touched_buckets)
    assert _input_records(spark, group) == scans * n + base


def test_lookup_builds_its_frame_without_a_job(spark, tmp_path):
    """The lookup's bucket probe is a literal select that Spark folds on
    the driver: building the frame runs no job, and it still finds the
    key in its bucket, a null key included; a key deleted by a pending
    MOR delta stays deleted."""
    t = LakeTable.create(str(tmp_path / "t"), SCHEMA, ["id"], num_buckets=NB)
    t.merge(_events(
        spark, [(i, i, "insert", f"v{i}") for i in range(1, 30)] + [(None, 40, "insert", "n")]
    ))
    t.merge(_events(spark, [(3, 50, "update", "w")]), mode="mor")
    t.merge(_events(spark, [(5, 51, "delete", None)]), mode="mor")
    sc = spark.sparkContext
    group = f"lookup-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "lookup build")
    try:
        frames = {k: t.lookup(spark, id=k) for k in (3, 5, 17, None, 99)}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert not sc.statusTracker().getJobIdsForGroup(group)
    got = {k: [r["v"] for r in f.collect()] for k, f in frames.items()}
    assert got == {3: ["w"], 5: [], 17: ["v17"], None: ["n"], 99: []}
