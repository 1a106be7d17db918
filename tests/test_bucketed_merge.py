"""Zero-exchange pre-bucketed merge (lake/bucketed.py +
LakeTable.merge_prebucketed).

The claim under test: a change log written in Spark's native bucketed
layout (same keys, same bucket count, same Murmur3 bucket function as
the table) merges with NO Exchange anywhere in the resolve plan, and
the result is bit-identical to the ordinary window-resolve merge()
— including deletes/tombstones, replays, additive schema evolution and
LSN-window filtering.
"""

import os

import pytest
from pyspark.sql import functions as F

from conftest import recorded_writes

from oregonwaterdataportal_etl_spark.cdc.changegen import (
    TRANSCRIPT_SCHEMA,
    generate_changes_pdf,
)
from oregonwaterdataportal_etl_spark.lake import LakeTable
from oregonwaterdataportal_etl_spark.lake.bucketed import (
    wal_touched_buckets,
    write_bucketed_wal,
)

KEYS = ["conv_id", "turn_idx"]
NB = 4


def _stream(spark, n, seed, lsn_start=0):
    pdf = generate_changes_pdf(
        n, max(n // 40, 10), seed=seed, out_of_order=0.3, delete_rate=0.08
    )
    df = spark.createDataFrame(pdf)
    if lsn_start:
        df = df.withColumn("lsn", F.col("lsn") + lsn_start)
    return df


def _twins(spark, tmp_path, name="t"):
    a = LakeTable.create(
        str(tmp_path / f"{name}_win"), TRANSCRIPT_SCHEMA, KEYS, num_buckets=NB
    )
    b = LakeTable.create(
        str(tmp_path / f"{name}_zx"), TRANSCRIPT_SCHEMA, KEYS, num_buckets=NB
    )
    return a, b


def _state(spark, t):
    cols = ["conv_id", "turn_idx", "role", "text", "tool"]
    return sorted(map(tuple, t.read(spark).select(*cols).collect()))


def test_prebucketed_merge_equals_window_merge(spark, tmp_path):
    """Two batches (the second replaying part of the first and carrying
    deletes) through merge() and merge_prebucketed(): identical final
    states, identical action metrics, tombstones honored."""
    twin, zx = _twins(spark, tmp_path)
    b1 = _stream(spark, 3000, seed=31).localCheckpoint()
    b2 = _stream(spark, 2000, seed=32, lsn_start=3000).localCheckpoint()
    wal1 = str(tmp_path / "wal1")
    wal2 = str(tmp_path / "wal2")
    write_bucketed_wal(b1, wal1, NB, KEYS)
    write_bucketed_wal(b2, wal2, NB, KEYS)
    assert wal_touched_buckets(wal1) == list(range(NB))

    r1w = twin.merge(b1)
    r1z = zx.merge_prebucketed(spark, wal1, validate_layout=True)
    assert _state(spark, twin) == _state(spark, zx)
    for f in ("rows_inserted", "rows_updated", "rows_deleted", "rows_noop",
              "rows_dropped"):
        assert getattr(r1w, f) == getattr(r1z, f), f

    # second batch: zx table now has base files AND tombstones
    assert zx.stats()["tombstone_files"] > 0
    r2w = twin.merge(b2)
    r2z = zx.merge_prebucketed(spark, wal2)
    assert _state(spark, twin) == _state(spark, zx)
    for f in ("rows_inserted", "rows_updated", "rows_deleted", "rows_noop",
              "rows_dropped"):
        assert getattr(r2w, f) == getattr(r2z, f), f

    # replaying an already-applied WAL is a pure no-op on state
    zx.merge_prebucketed(spark, wal2)
    assert _state(spark, twin) == _state(spark, zx)


def test_prebucketed_plan_has_zero_exchanges(spark, tmp_path):
    """THE pin for the storage-partitioned merge: batch dedup window +
    full-outer join against base resolve entirely from bucketed scans —
    no Exchange of any kind in the executed plan."""
    twin, zx = _twins(spark, tmp_path)
    b1 = _stream(spark, 2000, seed=41).localCheckpoint()
    b2 = _stream(spark, 1500, seed=42, lsn_start=2000).localCheckpoint()
    wal1, wal2 = str(tmp_path / "w1"), str(tmp_path / "w2")
    write_bucketed_wal(b1, wal1, NB, KEYS)
    write_bucketed_wal(b2, wal2, NB, KEYS)
    zx.merge_prebucketed(spark, wal1)
    with recorded_writes(spark) as writes:
        zx.merge_prebucketed(spark, wal2)
    ((tree, details),) = writes
    assert "Exchange" not in tree, tree
    assert "Bucketed: true" in details
    assert "BatchEvalPython" not in tree and "ArrowEvalPython" not in tree


def test_prebucketed_schema_evolution(spark, tmp_path):
    """A WAL batch carrying a new additive column evolves the table at
    merge time exactly like merge() (old rows null-fill)."""
    twin, zx = _twins(spark, tmp_path)
    b1 = _stream(spark, 1500, seed=51).localCheckpoint()
    b2 = (
        _stream(spark, 800, seed=52, lsn_start=1500)
        .withColumn("tool_meta", F.concat(F.lit("m-"), F.col("conv_id")))
        .localCheckpoint()
    )
    wal1, wal2 = str(tmp_path / "w1"), str(tmp_path / "w2")
    write_bucketed_wal(b1, wal1, NB, KEYS)
    write_bucketed_wal(b2, wal2, NB, KEYS)
    for t, how in ((twin, "win"), (zx, "zx")):
        if how == "win":
            t.merge(b1); t.merge(b2)
        else:
            t.merge_prebucketed(spark, wal1)
            t.merge_prebucketed(spark, wal2)
    assert "tool_meta" in [f.name for f in zx.schema().fields]
    cols = ["conv_id", "turn_idx", "text", "tool_meta"]
    got = sorted(map(tuple, zx.read(spark).select(*cols).collect()))
    want = sorted(map(tuple, twin.read(spark).select(*cols).collect()))
    assert got == want


def test_prebucketed_lsn_range_matches_filtered_merge(spark, tmp_path):
    twin, zx = _twins(spark, tmp_path)
    b = _stream(spark, 2000, seed=61).localCheckpoint()
    wal = str(tmp_path / "w")
    write_bucketed_wal(b, wal, NB, KEYS)
    twin.merge(b.filter("lsn between 0 and 999"))
    zx.merge_prebucketed(spark, wal, lsn_range=(0, 999))
    assert _state(spark, twin) == _state(spark, zx)


def test_prebucketed_rejects_bad_layouts(spark, tmp_path):
    t = LakeTable.create(
        str(tmp_path / "t"), TRANSCRIPT_SCHEMA, KEYS, num_buckets=NB
    )
    b = _stream(spark, 500, seed=71).localCheckpoint()
    # wrong bucket count: ids beyond num_buckets are rejected outright
    wal8 = str(tmp_path / "wal8")
    write_bucketed_wal(b, wal8, 8, KEYS)
    with pytest.raises(ValueError, match="different spec"):
        t.merge_prebucketed(spark, wal8)
    # same count but wrong keys: only validate_layout catches it
    walk = str(tmp_path / "walk")
    write_bucketed_wal(b, walk, NB, ["conv_id"])
    with pytest.raises(ValueError, match="layout invalid"):
        t.merge_prebucketed(spark, walk, validate_layout=True)
    # key-type mismatch (int vs the stored long/int pairing)
    t2 = LakeTable.create(
        str(tmp_path / "t2"), TRANSCRIPT_SCHEMA, KEYS, num_buckets=NB
    )
    narrow = b.withColumn("turn_idx", F.col("turn_idx").cast("long"))
    waln = str(tmp_path / "waln")
    write_bucketed_wal(narrow, waln, NB, KEYS)
    with pytest.raises(ValueError, match="stored key types|stores"):
        t2.merge_prebucketed(spark, waln)


def test_runner_uses_zero_exchange_path_over_bucketed_wal(spark, tmp_path):
    """A CdcRunner tailing a BucketedWalSource applies cow windows
    through merge_prebucketed: exactly-once across crash/resume, replay
    no-op, final state == clean one-shot merge — and every window's
    snapshot records operation=merge-prebucketed (the zero-exchange
    path actually ran, not the fallback)."""
    from oregonwaterdataportal_etl_spark.cdc import (
        BucketedWalSource,
        CdcRunner,
        ManifestLog,
        OffsetLog,
    )

    n = 6000
    stream = _stream(spark, n, seed=81).localCheckpoint()
    wal = str(tmp_path / "wal")
    # two producer appends -> multiple files per bucket in one log
    write_bucketed_wal(stream.filter("lsn < 3000"), wal, NB, KEYS)
    write_bucketed_wal(stream.filter("lsn >= 3000"), wal, NB, KEYS)

    table = LakeTable.create(
        str(tmp_path / "t"), TRANSCRIPT_SCHEMA, KEYS, num_buckets=NB
    )
    def mk_runner():
        return CdcRunner(
            table,
            OffsetLog(str(tmp_path / "off"), "s1"),
            ManifestLog(str(tmp_path / "man")),
            source=BucketedWalSource(spark, wal),
            mode="cow",
        )

    r1 = mk_runner()
    first = r1.run_window(0, 1999)
    assert first is not None
    # "crash": new runner resumes and drains the rest
    r2 = mk_runner()
    results = r2.run_available(window_size=2000)
    assert len(results) == 2
    assert r2.offsets.last_lsn() == n - 1
    assert r2.run_window(0, 1999) is None  # committed replay no-op
    ops = [
        s.get("summary", {}).get("operation")
        for s in table.history()
        if s["version"] > 0
    ]
    assert ops == ["merge-prebucketed"] * 3, ops

    clean = LakeTable.create(
        str(tmp_path / "clean"), TRANSCRIPT_SCHEMA, KEYS, num_buckets=NB
    )
    clean.merge(stream)
    assert _state(spark, table) == _state(spark, clean)
    # the pruned-window hardlink dirs are cleaned up
    assert not [e for e in os.listdir(wal) if e.startswith(".walwin-")]


def test_mor_read_matches_oracle_fold(spark, tmp_path):
    """Zero-exchange serving read: a MOR table with base rows,
    multiple delta batches, deletes AND tombstones reads exactly the
    sequential oracle fold of its batches — and the read plan contains
    no Exchange. Repeated reads reuse one registration dir per
    snapshot version."""
    from oregonwaterdataportal_etl_spark.cdc import oracle_fold

    t = LakeTable.create(
        str(tmp_path / "t"), TRANSCRIPT_SCHEMA, KEYS, num_buckets=NB
    )
    b1 = _stream(spark, 2500, seed=91).localCheckpoint()
    b2 = _stream(spark, 1500, seed=92, lsn_start=2500).localCheckpoint()
    b3 = _stream(spark, 1500, seed=93, lsn_start=4000).localCheckpoint()
    t.merge(b1)  # cow: base files + tombstones from b1's deletes
    assert t.stats()["tombstone_files"] > 0
    t.merge(b2, mode="mor")
    t.merge(b3, mode="mor")
    assert t.stats()["delta_files"] > 0

    cols = ["conv_id", "turn_idx", "role", "text", "tool"]
    events = [r.asDict() for b in (b1, b2, b3) for r in b.collect()]
    want = sorted(
        tuple(v[c] for c in cols)
        for v in oracle_fold(
            events, columns=[f.name for f in TRANSCRIPT_SCHEMA.fields]
        ).values()
    )
    zx = t.read(spark)
    got = sorted(map(tuple, zx.select(*cols).collect()))
    assert got == want and len(got) > 0

    plan = zx._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "Bucketed: true" in plan

    # second read of the same version reuses the registration dir
    t.read(spark).count()
    regs = [
        e for e in os.listdir(os.path.join(str(tmp_path / "t"), "_bucketed"))
        if e.startswith("read-v")
    ]
    assert len(regs) == 1, regs
    # column projection sugar works on the bucketed path too
    assert sorted(
        t.read(spark, columns=["conv_id", "text"]).columns
    ) == ["conv_id", "text"]


def test_vacuum_sweeps_orphaned_registration_dirs(spark, tmp_path):
    """A registration dir orphaned by a crashed merge_prebucketed (or a
    superseded read registration) is grace-swept by vacuum; a fresh one
    inside the grace window survives."""
    t = LakeTable.create(
        str(tmp_path / "t"), TRANSCRIPT_SCHEMA, KEYS, num_buckets=NB
    )
    t.merge(_stream(spark, 500, seed=95))
    breg = os.path.join(str(tmp_path / "t"), "_bucketed")
    os.makedirs(os.path.join(breg, "reg-deadbeef"))
    with open(os.path.join(breg, "reg-deadbeef", "x"), "w") as f:
        f.write("orphan")
    t.vacuum(keep_last=1, orphan_grace_seconds=3600.0)
    assert os.path.isdir(os.path.join(breg, "reg-deadbeef")), "fresh reg swept"
    t.vacuum(keep_last=1, orphan_grace_seconds=0.0)
    assert not os.path.isdir(os.path.join(breg, "reg-deadbeef"))


def test_prebucketed_merge_folds_pending_mor_deltas(spark, tmp_path):
    """merge() and merge_prebucketed() share the delta-fold contract:
    a table carrying MOR deltas (multiple batches, overlapping keys,
    deletes, equal-LSN replays of delta rows in the WAL) absorbs
    touched buckets' deltas into the copy-on-write resolve — identical
    final state AND identical action metrics, with zero exchanges."""
    twin, zx = _twins(spark, tmp_path, name="df")
    b1 = _stream(spark, 2500, seed=101).localCheckpoint()
    b2 = _stream(spark, 1500, seed=102, lsn_start=2500).localCheckpoint()
    # b3 replays half of b2 verbatim (same key, lsn AND payload: the
    # delta copy vs WAL copy have identical tie-break values) plus new
    # higher-LSN events contesting delta keys
    b3 = (
        b2.sample(0.5, seed=7)
        .unionByName(_stream(spark, 1500, seed=103, lsn_start=4000))
        .localCheckpoint()
    )
    for t in (twin, zx):
        t.merge(b1)           # cow: base + tombstones
        t.merge(b2, mode="mor")
        assert t.stats()["delta_files"] > 0
    wal3 = str(tmp_path / "wal3")
    write_bucketed_wal(b3, wal3, NB, KEYS)

    rw = twin.merge(b3)       # window path folds touched deltas
    with recorded_writes(spark) as writes:
        rz = zx.merge_prebucketed(spark, wal3)
    assert _state(spark, twin) == _state(spark, zx)
    for f in ("rows_inserted", "rows_updated", "rows_deleted", "rows_noop",
              "rows_dropped"):
        assert getattr(rw, f) == getattr(rz, f), f
    # touched buckets' deltas were absorbed (this WAL touches all)
    assert zx.stats()["delta_files"] == 0
    ((tree, details),) = writes
    assert "Exchange" not in tree, tree
    assert "Bucketed: true" in details


def test_prebucketed_delta_fold_keeps_untouched_buckets(spark, tmp_path):
    """A WAL touching a strict subset of buckets folds ONLY those
    buckets' deltas; untouched buckets keep theirs (merge() contract),
    and the resolved states still agree with the window path."""
    twin, zx = _twins(spark, tmp_path, name="ub")
    b1 = _stream(spark, 2000, seed=111).localCheckpoint()
    b2 = _stream(spark, 1200, seed=112, lsn_start=2000).localCheckpoint()
    for t in (twin, zx):
        t.merge(b1)
        t.merge(b2, mode="mor")
    bexpr = zx._bucket_expr()
    b3 = (
        _stream(spark, 1200, seed=113, lsn_start=4000)
        .filter(bexpr.isin(0, 1))
        .localCheckpoint()
    )
    wal3 = str(tmp_path / "wal3")
    write_bucketed_wal(b3, wal3, NB, KEYS)
    assert wal_touched_buckets(wal3) == [0, 1]

    twin.merge(b3)
    zx.merge_prebucketed(spark, wal3)
    assert _state(spark, twin) == _state(spark, zx)
    snap = zx.snapshot()
    kept = sorted(int(b) for b in snap.get("deltas", {}))
    assert kept and all(b in (2, 3) for b in kept), kept
    # the fold is equivalent to compact-then-read on the survivors too
    zx.compact(spark)
    assert _state(spark, twin) == _state(spark, zx)


def test_zx_delta_fold_equals_oracle_fold(spark, tmp_path):
    """compact()'s zero-exchange delta fold reaches exactly the
    sequential oracle fold of the three batches (same rows, no pending
    deltas, tombstones preserved), and the fold plan itself carries
    zero Exchange. Covers base+delta overlap, delta-only keys, deletes
    and two stacked delta layers."""
    from oregonwaterdataportal_etl_spark.cdc import oracle_fold

    zx = LakeTable.create(
        str(tmp_path / "fold_zx"), TRANSCRIPT_SCHEMA, KEYS, num_buckets=NB
    )
    b1 = _stream(spark, 3000, seed=61).localCheckpoint()
    b2 = _stream(spark, 1500, seed=62, lsn_start=3000).localCheckpoint()
    b3 = _stream(spark, 1200, seed=63, lsn_start=4500).localCheckpoint()
    zx.merge(b1)              # cow base
    zx.merge(b2, mode="mor")  # pending deltas on top
    zx.merge(b3, mode="mor")  # second delta layer
    assert zx.snapshot().get("deltas")

    events = [r.asDict() for b in (b1, b2, b3) for r in b.collect()]
    cols = ["conv_id", "turn_idx", "role", "text", "tool"]
    expected = sorted(
        tuple(v[c] for c in cols)
        for v in oracle_fold(
            events, columns=[f.name for f in TRANSCRIPT_SCHEMA.fields]
        ).values()
    )

    fold_buckets = set(zx.snapshot()["deltas"])
    with recorded_writes(spark) as writes:
        zx._fold_deltas_zx(spark, fold_buckets)
    zx.compact(spark)  # bin-pack only: deltas already folded

    assert not zx.snapshot().get("deltas")
    assert _state(spark, zx) == expected
    # tombstones survive the fold
    assert zx.stats()["tombstone_files"] > 0
    ((tree, details),) = writes
    assert "Exchange" not in tree, tree
    assert "Bucketed: true" in details

    # replay: folding again with no deltas is a metadata no-op
    v = zx.snapshot()["version"]
    zx.compact(spark)
    assert zx.snapshot()["version"] == v

    # and a later ordinary merge on the folded table behaves (LWW guard
    # still wins over stale replays of already-folded LSNs)
    zx.merge(b2)
    assert _state(spark, zx) == expected


def test_runner_mor_cadence_uses_zx_fold(spark, tmp_path):
    """CdcRunner(mode='mor', compact_every=2): the maintenance cycle's
    compact now folds via the zero-exchange path by default; final
    state equals a clean one-shot window merge of the whole stream."""
    from oregonwaterdataportal_etl_spark.cdc import (
        CdcRunner, ManifestLog, OffsetLog,
    )

    stream = _stream(spark, 6000, seed=71).localCheckpoint()
    stream_dir = str(tmp_path / "rstream")
    stream.write.parquet(stream_dir)
    t = LakeTable.create(
        str(tmp_path / "rt"), TRANSCRIPT_SCHEMA, KEYS, num_buckets=NB
    )
    runner = CdcRunner(
        t,
        OffsetLog(str(tmp_path / "roff"), "s1"),
        ManifestLog(str(tmp_path / "rman")),
        source=lambda: spark.read.parquet(stream_dir),
        mode="mor",
        compact_every=2,
    )
    results = runner.run_available(window_size=1500)
    assert len(results) == 4
    assert not t.snapshot().get("deltas")
    clean = LakeTable.create(
        str(tmp_path / "rclean"), TRANSCRIPT_SCHEMA, KEYS, num_buckets=NB
    )
    clean.merge(spark.read.parquet(stream_dir))
    assert _state(spark, t) == _state(spark, clean)
    ops = [t.snapshot(v)["summary"]["operation"]
           for v in range(1, t.snapshot()["version"] + 1)]
    assert "compact-fold" in ops
