"""Round-2 regression tests for the judge/advisor findings:

- 128-bit exact-dedup fingerprint (64-bit limb collisions disambiguated)
- merge aborts when a non-deterministic batch strays outside the
  collected touched-bucket set (instead of silently dropping base rows)
- vacuum never deletes fresh unreferenced files (in-flight writers)
- expire_tombstones clamps its horizon to the committed offset watermark
- CdcRunner advances offsets when replaying an already-committed window
- CdcRunner expires dead tombstones on its compaction cycle
- harvest turn_idx is collision-free (epoch-derived, not a 31-bit hash)
"""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from oregonwaterdataportal_etl_spark.cdc import CdcRunner, ManifestLog, OffsetLog
from oregonwaterdataportal_etl_spark.cdc.changegen import (
    CHANGE_SCHEMA,
    TRANSCRIPT_SCHEMA,
    generate_changes_pdf,
)
from oregonwaterdataportal_etl_spark.cdc.manifests import batch_id_for_window
from oregonwaterdataportal_etl_spark.lake import LakeTable, write_bucketed_wal
from oregonwaterdataportal_etl_spark.operators.dedup import exact_dedup

KEYS = ["conv_id", "turn_idx"]


def make(tmp_path, name="t", nb=4):
    return LakeTable.create(str(tmp_path / name), TRANSCRIPT_SCHEMA, KEYS, num_buckets=nb)


# ------------------------------------------------------------- dedup
def test_exact_dedup_second_limb_disambiguates(spark):
    """Force a first-limb 'collision' (constant limb) and prove the
    second limb keeps distinct texts apart — the 128-bit rationale."""
    df = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "alpha")], ["doc_id", "text"]
    )
    t = F.trim(F.col("text"))
    # first limb collides for EVERYTHING; only the second limb separates
    out = exact_dedup(df, fingerprints=[F.lit(0).cast("long"), F.xxhash64(t, F.lit(1))])
    kept = sorted(r["doc_id"] for r in out.collect())
    assert kept == [1, 2], "distinct texts merged under a colliding first limb"
    # default (dual-limb) path still dedups true duplicates
    kept2 = sorted(r["doc_id"] for r in exact_dedup(df).collect())
    assert kept2 == [1, 2]


# ------------------------------------------------- merge stray guard
def _flipping_batch(spark, tmp_path):
    """A one-row batch whose key lands in a different bucket on every
    evaluation after the first (nb=4, turn_idx=0): the merge's touched
    scan sees one bucket, its write another."""
    cands = spark.createDataFrame([(f"c{i}",) for i in range(32)], ["conv_id"]).select(
        "conv_id", F.pmod(F.hash("conv_id", F.lit(0)), F.lit(4)).alias("b")
    ).collect()
    by_bucket = {}
    for r in cands:
        by_bucket.setdefault(r["b"], r["conv_id"])
    (b1, conv_a), (b2, conv_b) = list(by_bucket.items())[:2]
    assert b1 != b2

    marker = str(tmp_path / "evalcount")
    names = CHANGE_SCHEMA.fieldNames()

    def gen(batches):
        n = 0
        if os.path.exists(marker):
            with open(marker) as f:
                n = int(f.read())
        with open(marker, "w") as f:
            f.write(str(n + 1))
        conv = conv_a if n == 0 else conv_b  # different key per evaluation
        for _ in batches:
            pass
        yield pd.DataFrame({
            "op": ["insert"], "lsn": [5], "conv_id": [conv], "turn_idx": [0],
            "role": ["user"], "text": ["y"], "tool": [None],
            "ts": [pd.Timestamp("2024-01-01")],
        })[list(names)]

    return spark.range(1).repartition(1).mapInPandas(gen, schema=CHANGE_SCHEMA)


def test_merge_rejects_nondeterministic_batch(spark, tmp_path):
    """A source that re-evaluates to different keys must abort the merge
    BEFORE commit (silent base-row loss otherwise — advisor finding)."""
    t = make(tmp_path)
    t.merge(spark.createDataFrame(
        [("insert", 1, "base", 0, "user", "x", None, None)], schema=CHANGE_SCHEMA))
    v = t.current_version()
    base_rows = t.read(spark).count()

    with pytest.raises(RuntimeError, match="non-deterministic"):
        t.merge(_flipping_batch(spark, tmp_path))
    # nothing committed, base intact
    assert t.current_version() == v
    assert t.read(spark).count() == base_rows


def test_cow_merges_leave_no_registration_behind(spark, tmp_path):
    """Every copy-on-write merge registers the touched buckets' files
    as a session catalog table over a hardlink dir under
    ``<table>/_bucketed/``. Both must be gone after the merge, whether
    it committed or aborted on the stray guard."""
    t = make(tmp_path)
    t.merge(spark.createDataFrame(generate_changes_pdf(400, 30, seed=4)))
    t.merge(spark.createDataFrame(
        generate_changes_pdf(200, 30, seed=5, lsn_start=400)), mode="mor")
    t.merge(spark.createDataFrame(
        generate_changes_pdf(200, 30, seed=6, lsn_start=600)))
    with pytest.raises(RuntimeError, match="non-deterministic"):
        t.merge(_flipping_batch(spark, tmp_path))
    t.merge(spark.createDataFrame(
        generate_changes_pdf(200, 30, seed=7, lsn_start=800)))
    assert t.snapshot()["summary"]["operation"] == "merge"
    assert os.listdir(os.path.join(t.path, "_bucketed")) == []
    leaked = [x.name for x in spark.catalog.listTables() if x.name.startswith("zx_")]
    assert leaked == []


@pytest.mark.parametrize("via", ["merge", "merge_prebucketed"])
def test_cow_merge_matches_null_keys_null_safely(spark, tmp_path, via):
    """Null key values are ordinary keys (lookup and the changelog match
    them null-safely): a cow update, replay or delete of a key such as
    (None, 7) must resolve against its stored row, never leave a second
    live copy beside it or a delete that does nothing. Each batch also
    carries non-null keys, so both kinds of row share one merge."""
    t = make(tmp_path)
    t.merge(spark.createDataFrame(generate_changes_pdf(400, 30, seed=4)))

    def merge(*events):
        rows = [(op, lsn, conv, ti, "user", text, None, None)
                for op, lsn, conv, ti, text in events]
        lsn = events[0][1]
        batch = spark.createDataFrame(
            rows + [("insert", lsn + 1, f"nn{lsn}", 0, "user", "x", None, None)],
            schema=CHANGE_SCHEMA)
        if via == "merge":
            t.merge(batch)
        else:
            wal = str(tmp_path / f"wal{lsn}")
            write_bucketed_wal(batch, wal, 4, KEYS)
            t.merge_prebucketed(spark, wal)

    def null_rows():
        rows = t.read(spark).filter(F.col("conv_id").isNull()).collect()
        return sorted(((r["turn_idx"], r["text"]) for r in rows), key=str)

    merge(("insert", 1000, None, 7, "v1"), ("insert", 1000, None, None, "w1"))
    assert null_rows() == [(7, "v1"), (None, "w1")]
    merge(("update", 1010, None, 7, "v2"))
    assert null_rows() == [(7, "v2"), (None, "w1")]
    # replayed insert: lower LSN than the stored row, a no-op
    merge(("insert", 1000, None, 7, "v1"), ("insert", 1000, None, None, "w1"))
    assert null_rows() == [(7, "v2"), (None, "w1")]
    # a pending merge-on-read delta for the key folds in null-safely and
    # outranks the batch's older update of the same key
    t.merge(spark.createDataFrame(
        [("update", 1030, None, 7, "user", "v3", None, None)],
        schema=CHANGE_SCHEMA), mode="mor")
    merge(("update", 1025, None, 7, "older"), ("update", 1040, None, None, "w2"))
    assert null_rows() == [(7, "v3"), (None, "w2")]
    merge(("delete", 1050, None, 7, None), ("delete", 1050, None, None, None))
    assert null_rows() == []
    # the tombstones keep a stale insert from resurrecting the keys
    merge(("insert", 1020, None, 7, "stale"), ("insert", 1020, None, None, "stale"))
    assert null_rows() == []
    assert t.read(spark).count() == t.read(spark).dropDuplicates(KEYS).count()


# --------------------------------------------------------- vacuum
def test_vacuum_grace_protects_inflight_files(spark, tmp_path):
    t = make(tmp_path)
    t.merge(spark.createDataFrame(
        [("insert", 1, "c1", 0, "user", "a", None, None)], schema=CHANGE_SCHEMA))
    t.merge(spark.createDataFrame(
        [("update", 2, "c1", 0, "user", "b", None, None)], schema=CHANGE_SCHEMA))
    # simulate an in-flight writer: a fresh unreferenced data file
    inflight_dir = os.path.join(t.data_dir, "w-inflight")
    os.makedirs(inflight_dir)
    orphan = os.path.join(inflight_dir, "part-00000.parquet")
    with open(orphan, "wb") as f:
        f.write(b"PAR1")
    removed = t.vacuum(keep_last=1)
    assert removed >= 1, "expired-snapshot files were not collected"
    assert os.path.exists(orphan), "vacuum deleted an in-flight writer's file"
    # past the grace window the orphan IS collectable
    t.vacuum(keep_last=1, orphan_grace_seconds=0.0)
    assert not os.path.exists(orphan)
    rows = t.read(spark).collect()
    assert len(rows) == 1 and rows[0]["text"] == "b"


# ------------------------------------------- tombstone horizon clamp
def test_expire_tombstones_clamped_to_offsets(spark, tmp_path):
    t = make(tmp_path)
    offsets = OffsetLog(str(tmp_path / "off"))
    for r in [
        ("insert", 1, "c1", 0, "user", "a", None, None),
        ("insert", 2, "c2", 0, "user", "b", None, None),
        ("delete", 3, "c1", 0, None, None, None, None),
        ("delete", 9, "c2", 0, None, None, None, None),
    ]:
        t.merge(spark.createDataFrame([r], schema=CHANGE_SCHEMA))
    offsets.commit(5, "w1")  # committed watermark = 5
    # caller asks for a reckless horizon; the offsets clamp wins
    removed = t.expire_tombstones(spark, below_lsn=10_000, offsets=offsets)
    assert removed == 1, "clamp failed: expired a tombstone above the watermark"
    # the above-watermark tombstone still guards its key
    t.merge(spark.createDataFrame(
        [("update", 8, "c2", 0, "user", "zombie", None, None)], schema=CHANGE_SCHEMA))
    assert t.read(spark).count() == 0
    with pytest.raises(ValueError):
        t.expire_tombstones(spark)


# ----------------------------------------------------- runner fixes
def _runner(spark, tmp_path, n_events=100, **kw):
    t = make(tmp_path)
    offsets = OffsetLog(str(tmp_path / "off"))
    manifests = ManifestLog(str(tmp_path / "mf"))
    pdf = generate_changes_pdf(n_events, 20, seed=1)
    spark.createDataFrame(pdf).write.parquet(str(tmp_path / "s"))
    src = lambda: spark.read.parquet(str(tmp_path / "s"))  # noqa: E731
    return t, offsets, manifests, CdcRunner(t, offsets, manifests, src, **kw)


def test_committed_manifest_replay_advances_offsets(spark, tmp_path):
    """Crash between manifest commit and offset commit: the replay must
    advance the offset watermark instead of stalling it forever."""
    t, offsets, manifests, runner = _runner(spark, tmp_path)
    assert runner.run_window(0, 49) is not None
    assert offsets.last_lsn() == 49
    # simulate the crash: window (50,99) manifest-committed, offsets not
    bid = batch_id_for_window(offsets.source_id, 50, 99)
    manifests.begin(bid, 50, 99)
    manifests.commit(bid, {"simulated_crash": True})
    assert runner.run_window(50, 99) is None  # replay is still a no-op
    assert offsets.last_lsn() == 99, "offset watermark stayed stale"


def test_runner_expires_tombstones_on_compact_cycle(spark, tmp_path):
    """compact_every=N also expires dead (sub-watermark) tombstones."""
    t = make(tmp_path)
    offsets = OffsetLog(str(tmp_path / "off"))
    manifests = ManifestLog(str(tmp_path / "mf"))
    from datetime import datetime

    dt = datetime(2024, 1, 1)
    rows = [
        ("insert", 0, "c1", 0, "user", "a", None, dt),
        ("delete", 1, "c1", 0, None, None, None, dt),
        ("insert", 2, "c2", 0, "user", "b", None, dt),
    ]
    spark.createDataFrame(rows, schema=CHANGE_SCHEMA).write.parquet(str(tmp_path / "s"))
    src = lambda: spark.read.parquet(str(tmp_path / "s"))  # noqa: E731
    runner = CdcRunner(t, offsets, manifests, src, mode="mor", compact_every=1)
    runner.run_window(0, 1)  # insert + delete -> tombstone, then compact+expire
    runner.run_window(2, 2)
    # tombstone lsn=1 is below the committed watermark -> expired
    tombs = t.snapshot().get("tombstones", {})
    assert sum(len(fl) for fl in tombs.values()) == 0, "dead tombstone survived"
    rows = t.read(spark).collect()
    assert len(rows) == 1 and rows[0]["conv_id"] == "c2"


# ------------------------------------------------- snapshot lineage
def _assert_lineage(spark, t, created, version=None):
    """Per-bucket row_counts equal the base files' parquet footer rows;
    with no pending deltas they also sum to the rows read; and the
    create-time settings ride every snapshot."""
    import pyarrow.parquet as pq

    snap = t.snapshot(version)
    footers = {
        b: sum(pq.ParquetFile(f).metadata.num_rows for f in fl)
        for b, fl in snap["files"].items()
    }
    assert snap["row_counts"] == footers, snap["summary"]["operation"]
    if not snap.get("deltas"):
        rows = t.read(spark, version=snap["version"]).count()
        assert sum(snap["row_counts"].values()) == rows
    for k, v in created.items():
        assert snap[k] == v, (snap["summary"]["operation"], k)


def test_snapshot_lineage_carries_through_every_commit(spark, tmp_path):
    """Every commit path carries the snapshot envelope forward: row-count
    lineage stays exact and dict_cols, tiebreak_family and commit_mode
    survive cow and mor merges, compaction (fold and bin-pack),
    tombstone expiry, rebucket, rollback and clone."""
    from oregonwaterdataportal_etl_spark.cdc import oracle_fold
    from oregonwaterdataportal_etl_spark.cdc.changegen import TRANSCRIPT_DICT_COLS

    created = {
        "dict_cols": TRANSCRIPT_DICT_COLS,
        "tiebreak_family": "md5",
        "commit_mode": "rename-free",
    }
    t = LakeTable.create(
        str(tmp_path / "t"), TRANSCRIPT_SCHEMA, KEYS, num_buckets=4, **created
    )
    base_pdf = generate_changes_pdf(400, 40, seed=6)
    batch = [
        ("update", 10**6, "conv_00000001", 0, "user", "upd", None, None),
        ("delete", 10**6 + 1, "conv_00000002", 0, None, None, None, None),
        ("update", -5, "conv_00000003", 0, "user", "stale", None, None),
        ("insert", 10**6 + 2, "brand_new", 0, "user", "new", None, None),
    ]
    t.merge(spark.createDataFrame(base_pdf))
    _assert_lineage(spark, t, created)
    t.merge(spark.createDataFrame(batch, schema=CHANGE_SCHEMA))
    _assert_lineage(spark, t, created)
    events = base_pdf.to_dict("records") + [
        dict(zip(CHANGE_SCHEMA.names, r)) for r in batch
    ]
    expected = sorted(
        (k[0], k[1], v["text"]) for k, v in oracle_fold(events).items()
    )
    state = sorted(
        (r["conv_id"], r["turn_idx"], r["text"]) for r in t.read(spark).collect()
    )
    assert state == expected
    v_cow = t.current_version()

    mor = generate_changes_pdf(300, 40, seed=7, lsn_start=2 * 10**6)
    t.merge(spark.createDataFrame(mor), mode="mor")
    assert t.snapshot()["deltas"]
    _assert_lineage(spark, t, created)
    v_mor = t.current_version()
    t.compact(spark, target_files_per_bucket=0)  # fold, then rewrite all
    assert t.current_version() == v_mor + 2
    assert t.snapshot(v_mor + 1)["summary"]["operation"] == "compact-fold"
    assert t.snapshot()["summary"]["operation"] == "compact"
    assert not t.snapshot().get("deltas")
    _assert_lineage(spark, t, created, version=v_mor + 1)
    _assert_lineage(spark, t, created)
    assert t.expire_tombstones(spark, below_lsn=10**7) > 0
    _assert_lineage(spark, t, created)
    t.rebucket(spark, 8)
    assert t.snapshot()["num_buckets"] == 8
    _assert_lineage(spark, t, created)

    t.rollback(v_cow)
    assert t.snapshot()["row_counts"] == t.snapshot(v_cow)["row_counts"]
    assert t.snapshot()["num_buckets"] == 4
    _assert_lineage(spark, t, created)
    assert sorted(
        (r["conv_id"], r["turn_idx"], r["text"]) for r in t.read(spark).collect()
    ) == expected

    clone = t.clone_to(str(tmp_path / "clone"))
    assert clone.snapshot()["version"] == 1
    _assert_lineage(spark, clone, created)


# ------------------------------------------------------- dict columns
def test_dict_cols_roundtrip_all_paths(spark, tmp_path):
    """Declared dictionary columns ride the shuffle as codes but must
    round-trip EXACTLY: known values, values outside the declared set
    (lossless fallback), and nulls — through cow merge, mor deltas,
    read-resolve, compaction and the zero-exchange merge_prebucketed."""
    dicts = {"role": ["user", "assistant"], "tool": ["bash", "python"]}
    t = LakeTable.create(
        str(tmp_path / "t"), TRANSCRIPT_SCHEMA, KEYS, num_buckets=4, dict_cols=dicts
    )
    rows1 = [
        ("insert", 1, "c1", 0, "user", "a", "bash", None),
        ("insert", 2, "c1", 1, "narrator", "b", "awk", None),   # outside dict
        ("insert", 3, "c1", 2, None, "c", None, None),          # nulls
    ]
    t.merge(spark.createDataFrame(rows1, schema=CHANGE_SCHEMA))
    rows2 = [
        ("update", 10, "c1", 0, "assistant", "a2", "python", None),
        ("insert", 11, "c2", 0, "oracle", "d", "sed", None),    # outside dict
    ]
    t.merge(spark.createDataFrame(rows2, schema=CHANGE_SCHEMA), mode="mor")
    got = {
        (r["conv_id"], r["turn_idx"]): (r["role"], r["tool"])
        for r in t.read(spark).collect()
    }
    expected = {
        ("c1", 0): ("assistant", "python"),
        ("c1", 1): ("narrator", "awk"),
        ("c1", 2): (None, None),
        ("c2", 0): ("oracle", "sed"),
    }
    assert got == expected
    t.compact(spark)
    got2 = {
        (r["conv_id"], r["turn_idx"]): (r["role"], r["tool"])
        for r in t.read(spark).collect()
    }
    assert got2 == expected
    # zero-exchange leg: a bucketed WAL with in-dictionary values,
    # values outside the dictionary, and nulls
    rows3 = [
        ("update", 20, "c1", 1, "user", "b3", "python", None),   # in dict
        ("update", 21, "c2", 0, "critic", "d3", "grep", None),   # outside dict
        ("insert", 22, "c3", 0, None, "e", None, None),          # nulls
        ("update", 23, "c1", 0, "assistant", "a3", "perl", None),  # mixed
    ]
    wal = str(tmp_path / "wal")
    write_bucketed_wal(
        spark.createDataFrame(rows3, schema=CHANGE_SCHEMA), wal, 4, KEYS
    )
    t.merge_prebucketed(spark, wal)
    expected.update({
        ("c1", 0): ("assistant", "perl"),
        ("c1", 1): ("user", "python"),
        ("c2", 0): ("critic", "grep"),
        ("c3", 0): (None, None),
    })
    got3 = {
        (r["conv_id"], r["turn_idx"]): (r["role"], r["tool"])
        for r in t.read(spark).collect()
    }
    assert got3 == expected
    # dict_cols survive snapshot lineage
    assert t.snapshot()["dict_cols"] == dicts


def test_dict_cols_validation(spark, tmp_path):
    with pytest.raises(ValueError, match="key column"):
        LakeTable.create(str(tmp_path / "a"), TRANSCRIPT_SCHEMA, KEYS,
                         dict_cols={"conv_id": ["x"]})
    with pytest.raises(ValueError, match="string column"):
        LakeTable.create(str(tmp_path / "b"), TRANSCRIPT_SCHEMA, KEYS,
                         dict_cols={"nope": ["x"]})


# -------------------------------------------------------------- stats
def test_stats_metadata_only(spark, tmp_path):
    t = make(tmp_path)
    t.merge(spark.createDataFrame(generate_changes_pdf(1000, 50, seed=2)))
    t.merge(spark.createDataFrame(
        [("insert", 10**6, "x", 0, "user", "d", None, None)], schema=CHANGE_SCHEMA),
        mode="mor")
    s = t.stats()
    assert s["rows_base"] == sum(s["rows_per_bucket"].values()) > 0
    assert s["rows_base"] == t.read(spark).count() - 1  # the MOR delta row
    assert s["delta_files"] == 1 and s["base_files"] >= 1
    assert s["version"] == t.current_version()


# ---------------------------------------------------------- rollback
def test_rollback_restores_state_and_guards_vacuumed(spark, tmp_path):
    t = make(tmp_path)
    t.merge(spark.createDataFrame(
        [("insert", 1, "c1", 0, "user", "v1", None, None)], schema=CHANGE_SCHEMA))
    v1 = t.current_version()
    t.merge(spark.createDataFrame(
        [("update", 2, "c1", 0, "user", "v2", None, None)], schema=CHANGE_SCHEMA))
    assert t.read(spark).collect()[0]["text"] == "v2"
    t.rollback(v1)
    assert t.read(spark).collect()[0]["text"] == "v1"
    # history moved FORWARD (new snapshot), old versions still readable
    assert t.current_version() == v1 + 2
    assert t.read(spark, version=v1 + 1).collect()[0]["text"] == "v2"
    # vacuumed target -> loud failure, not silent corruption
    t.merge(spark.createDataFrame(
        [("update", 3, "c1", 0, "user", "v3", None, None)], schema=CHANGE_SCHEMA))
    t.vacuum(keep_last=1, orphan_grace_seconds=0.0)
    with pytest.raises(ValueError, match="vacuumed"):
        t.rollback(v1 + 1)


# ------------------------------------------------------- point lookup
def test_lookup_point_read_prunes_to_one_bucket(spark, tmp_path):
    t = make(tmp_path, nb=8)
    t.merge(spark.createDataFrame(generate_changes_pdf(2000, 100, seed=3)))
    t.merge(spark.createDataFrame(
        generate_changes_pdf(500, 100, seed=4, lsn_start=2000)), mode="mor")
    full = {(r["conv_id"], r["turn_idx"]): r["text"] for r in t.read(spark).collect()}
    key = next(iter(full))
    rows = t.lookup(spark, conv_id=key[0], turn_idx=key[1]).collect()
    assert len(rows) == 1 and rows[0]["text"] == full[key]
    # a key that LWW-deleted or never existed -> empty
    assert t.lookup(spark, conv_id="no_such_conv", turn_idx=0).count() == 0
    with pytest.raises(ValueError, match="key columns"):
        t.lookup(spark, conv_id="x")
    # null key values are legal table contents: null-safe lookup finds them
    t.merge(spark.createDataFrame(
        [("insert", 10**7, None, 7, "user", "nullkey", None, None)],
        schema=CHANGE_SCHEMA))
    got = t.lookup(spark, conv_id=None, turn_idx=7).collect()
    assert len(got) == 1 and got[0]["text"] == "nullkey"
    # pruning: only one bucket's base files are referenced by the scan
    snap = t.snapshot()
    total_base_files = sum(len(fl) for fl in snap["files"].values())
    df = t.lookup(spark, conv_id=key[0], turn_idx=key[1])
    n_input = len(df.inputFiles())
    assert n_input < total_base_files, (
        f"lookup read {n_input} files of {total_base_files} — no bucket pruning"
    )


# ------------------------------------------------- read column pruning
def test_read_column_pruning_through_mor_resolve(spark, tmp_path):
    """read(columns=[...]) must push the projection BELOW the MOR
    resolve: results equal the full read's projection, and the resolve's
    parquet scans never read the pruned text column."""
    t = make(tmp_path)
    t.merge(spark.createDataFrame(generate_changes_pdf(2000, 100, seed=3)))
    t.merge(spark.createDataFrame(
        generate_changes_pdf(500, 100, seed=4, lsn_start=2000)), mode="mor")
    full = {(r["conv_id"], r["turn_idx"]): r["role"]
            for r in t.read(spark).collect()}
    narrow_df = t.read(spark, columns=["conv_id", "turn_idx", "role"])
    assert narrow_df.columns == ["conv_id", "turn_idx", "role"]
    narrow = {(r["conv_id"], r["turn_idx"]): r["role"] for r in narrow_df.collect()}
    assert narrow == full
    import re

    plan = narrow_df._jdf.queryExecution().executedPlan().toString()
    for m in re.finditer(r"ReadSchema: ([^\n]*)", plan):
        assert "text" not in m.group(1), "pruned column still read:\n" + m.group(1)
    # pruning without keys in the projection still resolves correctly
    roles = sorted(r["role"] for r in t.read(spark, columns=["role"]).collect())
    assert roles == sorted(full.values())
    with pytest.raises(ValueError, match="unknown columns"):
        t.read(spark, columns=["nope"])


# ----------------------------------------------------- full-loop soak
def test_windowed_mor_loop_equals_single_cow_merge(spark, tmp_path):
    """200k events with skew/out-of-order/deletes, applied three ways:
    (a) one COW merge, (b) windowed MOR runner with compaction +
    offset-clamped tombstone expiry every 2 windows, (c) the same
    runner crash-resumed mid-stream. All three final states must be
    identical row-for-row — the reference's run-twice/replay invariant
    at loop scale, exercising every round-2 code path together."""
    pdf_dir = str(tmp_path / "s")
    spark.createDataFrame(
        generate_changes_pdf(200_000, 4_000, seed=11, out_of_order=0.3, zipf_a=1.1)
    ).repartition(8).write.parquet(pdf_dir)
    src = lambda: spark.read.parquet(pdf_dir)  # noqa: E731

    def state(t):
        return sorted(tuple(r) for r in t.read(spark).collect())

    cow = make(tmp_path, "cow", nb=8)
    cow.merge(src())
    want = state(cow)

    mor = make(tmp_path, "mor", nb=8)
    runner = CdcRunner(
        mor, OffsetLog(str(tmp_path / "o1")), ManifestLog(str(tmp_path / "m1")),
        src, mode="mor", compact_every=2,
    )
    runner.run_available(window_size=50_000)
    assert state(mor) == want

    crash = make(tmp_path, "crash", nb=8)
    off2 = OffsetLog(str(tmp_path / "o2"))
    r2 = CdcRunner(crash, off2, ManifestLog(str(tmp_path / "m2")),
                   src, mode="mor", compact_every=2)
    r2.run_window(0, 49_999)
    r2.run_window(50_000, 99_999)  # "crash" here
    r3 = CdcRunner(crash, off2, ManifestLog(str(tmp_path / "m2")),
                   src, mode="mor", compact_every=2)
    r3.run_available(window_size=50_000)
    assert state(crash) == want


# --------------------------------------------------- harvest turn_idx
def test_harvest_turn_idx_is_epoch_derived(spark, tmp_path):
    from oregonwaterdataportal_etl_spark.plans.harvest import harvest_observations

    t = make(tmp_path, "lake")
    from datetime import datetime

    obs = spark.createDataFrame(
        [
            ("s1", "flow", datetime(2024, 3, 1, 10, 0, 0), 1.5),
            ("s1", "flow", datetime(2024, 3, 1, 10, 0, 15), 2.5),
        ],
        ["station_id", "property", "ts", "value"],
    )
    ds = spark.createDataFrame([("s1", "flow", "d1")], ["station_id", "property", "ds_id"])
    harvest_observations(t, obs, ds)
    out = t.read(spark).orderBy("turn_idx").collect()
    assert len(out) == 2, "adjacent observations collided into one turn_idx"
    epochs = sorted(
        int(pd.Timestamp(ts).timestamp()) % 2_147_483_648
        for ts in ["2024-03-01 10:00:00", "2024-03-01 10:00:15"]
    )
    assert [r["turn_idx"] for r in out] == epochs
