"""Round-4 regression tests for the judge/advisor findings:

- versioned_commit publishes manifests COMPLETE (link-after-fsync):
  a half-written rival manifest can no longer be pointed at by the
  orphan roll-forward (the round-3 high-severity race)
- rename-free (object-store-safe) commit mode across every versioned
  store: LakeTable, WatermarkStore, AnnIndex, OffsetLog, ManifestLog —
  no os.replace anywhere on the commit path, CURRENT derived from the
  published-manifest set
- AnnIndex.stale() inverted to a file-churn allowlist (unknown or
  missing operation labels now count as data changes)
- LsnRangedParquetSource pruned reads carry the DIRECTORY-level schema
  (schema-evolving logs + hive-partitioned logs return the same
  columns pruned or not)
- oracle_fold takes an explicit tie-break column order (event-dict
  insertion order no longer silently diverges from the engine)
- WatermarkStore cleanup sweeps superseded legacy v- data dirs
"""

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from oregonwaterdataportal_etl_spark.cdc import (
    CdcRunner,
    ManifestLog,
    OffsetLog,
    oracle_fold,
)
from oregonwaterdataportal_etl_spark.cdc.changegen import (
    CHANGE_SCHEMA,
    TRANSCRIPT_SCHEMA,
    generate_changes_pdf,
)
from oregonwaterdataportal_etl_spark.cdc.source import LsnRangedParquetSource
from oregonwaterdataportal_etl_spark.cdc.watermarks import WatermarkStore
from oregonwaterdataportal_etl_spark.lake import LakeTable
from oregonwaterdataportal_etl_spark.lake.table import (
    CommitConflictError,
    latest_manifest_version,
    versioned_commit,
)

KEYS = ["conv_id", "turn_idx"]
COLS = ["op", "lsn", "conv_id", "turn_idx", "role", "text", "tool", "ts"]


def _stream(spark, n=4000, convs=120, seed=11):
    return spark.createDataFrame(
        generate_changes_pdf(n, convs, seed=seed, out_of_order=0.3, delete_rate=0.05)
    )


# --------------------------------------------------- commit completeness
def test_incomplete_manifest_conflicts_without_pointer_swing(spark, tmp_path):
    """A half-written (empty) rival manifest at the next version must
    produce a plain CommitConflictError — NOT a pointer swing onto the
    incomplete file (which made readers crash with JSONDecodeError) and
    NOT a crash in the committer."""
    t = LakeTable.create(str(tmp_path / "t"), TRANSCRIPT_SCHEMA, KEYS, num_buckets=2)
    t.merge(_stream(spark, 500, 30))
    v = t.current_version()
    # simulate a pre-upgrade writer that died between O_EXCL create and
    # the JSON write: the manifest name exists but holds no JSON
    with open(os.path.join(t.meta_dir, f"snap-{v + 1:08d}.json"), "w"):
        pass
    with pytest.raises(CommitConflictError, match="not a complete manifest"):
        t.merge(_stream(spark, 500, 30, seed=12))
    assert t.current_version() == v, "pointer was swung onto an incomplete manifest"
    # current snapshot still loads fine (no JSONDecodeError anywhere)
    assert t.snapshot()["version"] == v


def test_orphaned_complete_manifest_still_rolls_forward(spark, tmp_path):
    """The legitimate crash-recovery path survives the completeness
    check: a COMPLETE orphan manifest (crash between manifest fsync and
    pointer swing) is still rolled forward."""
    t = LakeTable.create(str(tmp_path / "t"), TRANSCRIPT_SCHEMA, KEYS, num_buckets=2)
    t.merge(_stream(spark, 500, 30))
    v = t.current_version()
    orphan = dict(t.snapshot())
    orphan["version"] = v + 1
    orphan["parent"] = v
    with open(os.path.join(t.meta_dir, f"snap-{v + 1:08d}.json"), "w") as f:
        json.dump(orphan, f)
    with pytest.raises(CommitConflictError, match="crashed writer"):
        t.merge(_stream(spark, 500, 30, seed=12))
    assert t.current_version() == v + 1


def test_commit_leaves_no_tmp_files(spark, tmp_path):
    t = LakeTable.create(str(tmp_path / "t"), TRANSCRIPT_SCHEMA, KEYS, num_buckets=2)
    t.merge(_stream(spark, 500, 30))
    t.merge(_stream(spark, 500, 30, seed=12), mode="mor")
    leftovers = [n for n in os.listdir(t.meta_dir) if ".tmp-" in n]
    assert leftovers == []


# ------------------------------------------------------ rename-free mode
def test_rename_free_table_matches_pointer_table(spark, tmp_path):
    """Same stream through a pointer-mode and a rename-free table:
    identical final state, identical replay idempotency — and the
    rename-free table never creates a CURRENT pointer."""
    s1 = _stream(spark, 3000, 100).localCheckpoint()
    s2 = _stream(spark, 3000, 100, seed=13).localCheckpoint()
    tp = LakeTable.create(str(tmp_path / "p"), TRANSCRIPT_SCHEMA, KEYS, num_buckets=4)
    tr = LakeTable.create(
        str(tmp_path / "r"), TRANSCRIPT_SCHEMA, KEYS, num_buckets=4,
        commit_mode="rename-free",
    )
    for t in (tp, tr):
        t.merge(s1)
        t.merge(s2, mode="mor")
        t.merge(s2, mode="mor")  # replay: LWW no-op
        t.compact(spark)
    assert not os.path.exists(os.path.join(tr.meta_dir, "CURRENT"))
    assert tr.current_version() == tp.current_version()
    cols = ["conv_id", "turn_idx", "text", "role"]
    got = sorted(map(tuple, tr.read(spark).select(*cols).collect()))
    want = sorted(map(tuple, tp.read(spark).select(*cols).collect()))
    assert got == want and len(got) > 0
    # time travel + rollback + vacuum all work without a pointer
    assert tr.snapshot(1)["version"] == 1
    tr.rollback(tr.current_version() - 1)
    tr.vacuum(keep_last=2, orphan_grace_seconds=0.0)
    assert tr.read(spark).count() == len(got)


def test_rename_free_commit_conflict_arbitration(tmp_path):
    """Two committers racing on the same version in rename-free mode:
    exactly one wins; the loser sees CommitConflictError and a re-read
    CURRENT that includes the winner."""
    d = str(tmp_path / "meta")
    os.makedirs(d)
    versioned_commit(d, "snap-00000000.json", 0, {"v": 0}, pointer_name=None)
    versioned_commit(d, "snap-00000001.json", 1, {"v": 1, "who": "a"}, pointer_name=None)
    with pytest.raises(CommitConflictError, match="concurrently"):
        versioned_commit(
            d, "snap-00000001.json", 1, {"v": 1, "who": "b"}, pointer_name=None
        )
    assert latest_manifest_version(d, "snap-") == 1
    with open(os.path.join(d, "snap-00000001.json")) as f:
        assert json.load(f)["who"] == "a"  # winner's content intact
    assert [n for n in os.listdir(d) if ".tmp-" in n] == []


def test_rename_free_runner_end_to_end(spark, tmp_path):
    """A full CdcRunner pipeline with EVERY versioned store in
    rename-free mode: windows apply exactly-once, resume works, replay
    is a no-op — and no store ever wrote a CURRENT pointer or used a
    rename."""
    stream_dir = str(tmp_path / "stream")
    n = 12_000
    spark.createDataFrame(
        generate_changes_pdf(n, 400, seed=7, out_of_order=0.3, delete_rate=0.05)
    ).repartition(4).write.parquet(stream_dir)
    table = LakeTable.create(
        str(tmp_path / "t"), TRANSCRIPT_SCHEMA, KEYS, num_buckets=4,
        commit_mode="rename-free",
    )
    off = OffsetLog(str(tmp_path / "off"), "s1", commit_mode="rename-free")
    man = ManifestLog(str(tmp_path / "man"), commit_mode="rename-free")
    runner = CdcRunner(
        table, off, man,
        source=lambda: spark.read.parquet(stream_dir), mode="mor",
    )
    results = runner.run_available(window_size=4_000)
    assert len(results) == 3
    assert off.last_lsn() == n - 1
    assert runner.run_window(0, 3_999) is None  # committed window replays as no-op
    clean = LakeTable.create(
        str(tmp_path / "clean"), TRANSCRIPT_SCHEMA, KEYS, num_buckets=4
    )
    clean.merge(spark.read.parquet(stream_dir))
    cols = ["conv_id", "turn_idx", "text", "role"]
    got = sorted(map(tuple, table.read(spark).select(*cols).collect()))
    want = sorted(map(tuple, clean.read(spark).select(*cols).collect()))
    assert got == want and len(got) > 0
    for store_dir in (str(tmp_path / "t" / "_meta"), str(tmp_path / "off")):
        assert not any(
            name.startswith("CURRENT") for name in os.listdir(store_dir)
        ), f"{store_dir} wrote a pointer in rename-free mode"


def test_rename_free_watermark_store(spark, tmp_path):
    ws = WatermarkStore(
        str(tmp_path / "wm"), compact_every=2, commit_mode="rename-free",
        cleanup_grace_seconds=0.0, keep_last_versions=1,
    )
    for hi in (5, 9, 3):  # third batch is stale: max must hold at 9
        ws.update(spark.createDataFrame([("c1", hi), ("c2", hi + 1)], "conv_id string, wm int"))
    got = {r["conv_id"]: r["wm"] for r in ws.read(spark).collect()}
    assert got == {"c1": 9, "c2": 10}
    assert not os.path.exists(os.path.join(str(tmp_path / "wm"), "CURRENT"))


def test_rename_free_offset_and_manifest_logs(tmp_path):
    off = OffsetLog(str(tmp_path / "off"), "s1", commit_mode="rename-free")
    assert off.last_lsn() == -1
    off.commit(99, "b1")
    off.commit(199, "b2")
    off.commit(199, "b2")  # replayed commit: idempotent
    assert off.last_lsn() == 199 and off.resume_lsn() == 200
    assert len(off.history()) == 3

    man = ManifestLog(str(tmp_path / "man"), commit_mode="rename-free")
    man.begin("abc", 0, 99)
    assert man.status("abc") == "pending" and not man.is_committed("abc")
    man.commit("abc", {"rows": 5})
    man.begin("abc", 0, 99)  # replayed begin must NOT regress the status
    assert man.is_committed("abc")
    assert man.read("abc")["metrics"] == {"rows": 5}
    assert [d["status"] for d in man.all()] == ["committed"]


# ------------------------------------------------------- AnnIndex.stale
def test_ann_index_stale_on_unknown_operation(spark, tmp_path):
    """Snapshots with a missing or unrecognized operation label must be
    treated as data changes (conservative rebuild), not file churn."""
    from oregonwaterdataportal_etl_spark.operators.ann_index import AnnIndex

    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType()),
            T.StructField("turn_idx", T.IntegerType()),
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    t = LakeTable.create(str(tmp_path / "emb"), schema, KEYS, num_buckets=2)
    rows = [("c%d" % i, 0, i, [float(i), 1.0, 0.0]) for i in range(20)]
    df = spark.createDataFrame(rows, schema).withColumns(
        {"op": F.lit("insert"), "lsn": F.monotonically_increasing_id()}
    )
    t.merge(df)
    ix = AnnIndex(str(tmp_path / "ix"), t, kind="lsh", bits=4)
    ix.build(spark)
    assert not ix.stale()
    # craft a snapshot whose summary has NO operation label (older
    # format / future op): stale() must flip to True
    snap = dict(t.snapshot())
    snap["version"] += 1
    snap["parent"] = snap["version"] - 1
    snap["summary"] = {}
    t._commit(snap)
    assert ix.stale(), "unknown snapshot operation treated as file churn"


# ------------------------------------- pruned-read schema consistency
def test_pruned_source_carries_directory_schema(spark, tmp_path):
    """A schema-evolving change log: the pruned window that only
    touches PRE-evolution files must still return the directory-level
    schema (new column null-filled), matching the unpruned fallback."""
    log = str(tmp_path / "log")
    spark.createDataFrame(
        [(i, "c%d" % i) for i in range(100)], "lsn long, conv_id string"
    ).coalesce(1).write.mode("append").parquet(log)
    spark.createDataFrame(
        [(i, "c%d" % i, "t") for i in range(100, 200)],
        "lsn long, conv_id string, tool_meta string",
    ).coalesce(1).write.mode("append").parquet(log)
    src = LsnRangedParquetSource(spark, log)
    pruned = src(0, 50)
    full = src()
    # THE contract: the pruned read returns the same schema as the
    # unpruned fallback — even when the pruned file subset alone would
    # infer fewer columns. (Which columns that is follows plain
    # spark.read.parquet schema inference; mergeSchema superset
    # semantics would break the equivalence in the other direction.)
    assert pruned.schema == full.schema
    assert pruned.filter(F.col("lsn") <= 50).count() == 51


def test_pruned_source_keeps_hive_partition_columns(spark, tmp_path):
    log = str(tmp_path / "plog")
    spark.createDataFrame(
        [(i, i % 2, "x") for i in range(200)], "lsn long, shard int, text string"
    ).write.partitionBy("shard").mode("append").parquet(log)
    src = LsnRangedParquetSource(spark, log)
    pruned = src(0, 199)
    assert "shard" in pruned.columns
    assert pruned.select("shard").distinct().count() == 2


# ------------------------------------------------ oracle_fold ordering
def test_oracle_fold_explicit_column_order(spark):
    """Equal-LSN ties: event dicts built in DIFFERENT key orders must
    pick the same winner when the schema column order is passed — and
    that winner must match the engine on an md5-family table."""
    rows = [
        ("update", 7, "c1", 0, "user", "payload-A", None, None),
        ("update", 7, "c1", 0, "user", "payload-B", None, None),
    ]
    schema_order = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    ev_schema = [dict(zip(COLS, r)) for r in rows]
    # same events, dict keys inserted in a scrambled order
    scramble = ["text", "role", "ts", "tool", "conv_id", "turn_idx", "op", "lsn"]
    ev_scrambled = [{k: dict(zip(COLS, r))[k] for k in scramble} for r in rows]
    w1 = oracle_fold(ev_schema, columns=schema_order)[("c1", 0)]["text"]
    w2 = oracle_fold(ev_scrambled, columns=schema_order)[("c1", 0)]["text"]
    assert w1 == w2
    # engine parity (md5 family hashes in schema order)
    from oregonwaterdataportal_etl_spark.cdc import lww_dedup

    df = spark.createDataFrame(rows, schema=CHANGE_SCHEMA)
    got = lww_dedup(df, tiebreak_family="md5").collect()
    assert [r["text"] for r in got] == [w1]


# -------------------------------------------- legacy v- data dir sweep
def test_watermark_legacy_vdir_swept_after_supersession(spark, tmp_path):
    """A migrated round-2 'v-<hex>' data dir must be garbage-collected
    once compaction folds supersede it (it used to leak forever because
    the sweep only matched b-/d- prefixes)."""
    store = str(tmp_path / "wm")
    os.makedirs(store)
    legacy = "v-deadbeef"
    spark.createDataFrame(
        [("c1", 3)], "conv_id string, wm int"
    ).coalesce(1).write.parquet(os.path.join(store, legacy))
    with open(os.path.join(store, "CURRENT"), "w") as f:
        f.write(legacy)
    ws = WatermarkStore(
        store, compact_every=2, cleanup_grace_seconds=0.0, keep_last_versions=1
    )
    # migration adopts the legacy dir; these updates trigger a fold
    for hi in (5, 7, 9, 11):
        ws.update(spark.createDataFrame([("c1", hi)], "conv_id string, wm int"))
    assert {r["wm"] for r in ws.read(spark).collect()} == {11}
    assert not os.path.isdir(os.path.join(store, legacy)), "legacy v- dir leaked"


def test_rebucket_preserves_state_and_serves_new_layout(spark, tmp_path):
    """Bucket-count evolution: rebucket(4 -> 8) must preserve the
    resolved row set bit-exactly WITH pending MOR deltas and tombstones
    in flight, re-home every stored artifact (lsn, tie-break, delta ops)
    into the new layout, keep lookup() and the zero-exchange paths
    working at the new count, reject a stale-count WAL loudly, and read
    as file churn (not a data change) to ANN staleness."""
    import os

    from pyspark.sql import functions as F

    from oregonwaterdataportal_etl_spark.cdc import oracle_fold
    from oregonwaterdataportal_etl_spark.cdc.changegen import (
        TRANSCRIPT_SCHEMA,
        generate_changes_pdf,
    )
    from oregonwaterdataportal_etl_spark.lake import LakeTable, write_bucketed_wal

    KEYS = ["conv_id", "turn_idx"]

    def stream(n, seed, lsn_start=0):
        pdf = generate_changes_pdf(n, max(n // 30, 8), seed=seed,
                                   out_of_order=0.3, delete_rate=0.1)
        df = spark.createDataFrame(pdf)
        return (df.withColumn("lsn", F.col("lsn") + lsn_start)
                if lsn_start else df).localCheckpoint()

    def state(t):
        cols = ["conv_id", "turn_idx", "role", "text", "tool"]
        return sorted(map(tuple, t.read(spark).select(*cols).collect()))

    t = LakeTable.create(str(tmp_path / "t"), TRANSCRIPT_SCHEMA, KEYS,
                         num_buckets=4)
    b1 = stream(2500, seed=121)
    b2 = stream(1200, seed=122, lsn_start=2500)
    t.merge(b1)                      # base + tombstones
    t.merge(b2, mode="mor")          # pending deltas
    assert t.stats()["delta_files"] > 0 and t.stats()["tombstone_files"] > 0
    before = state(t)

    v = t.rebucket(spark, 8)
    assert t.snapshot()["version"] == v
    assert t.stats()["num_buckets"] == 8
    assert state(t) == before
    # deltas and tombstones were re-homed, not dropped
    snap = t.snapshot()
    assert snap["deltas"] and snap["tombstones"]
    assert all(int(b) < 8 for b in
               list(snap["files"]) + list(snap["deltas"]) + list(snap["tombstones"]))
    # row_counts lineage matches the real per-bucket footprint: the
    # footer row counts of each bucket's base files (deltas excluded)
    import pyarrow.parquet as pq

    assert t.stats()["rows_per_bucket"] == {
        int(b): sum(pq.ParquetFile(f).metadata.num_rows for f in fl)
        for b, fl in snap["files"].items()
    }
    # same-count rebucket is a no-op commit-wise
    assert t.rebucket(spark, 8) == v

    # point lookup prunes against the NEW layout
    k = before[0]
    got = t.lookup(spark, conv_id=k[0], turn_idx=k[1]).collect()
    assert len(got) == 1 and got[0]["text"] == k[3]

    # zero-exchange serving read at the new count, against the
    # sequential oracle fold of both batches
    events = [r.asDict() for b in (b1, b2) for r in b.collect()]
    zx = t.read(spark)
    cols = ["conv_id", "turn_idx", "role", "text", "tool"]
    assert sorted(map(tuple, zx.select(*cols).collect())) == sorted(
        tuple(v[c] for c in cols)
        for v in oracle_fold(
            events, columns=[f.name for f in TRANSCRIPT_SCHEMA.fields]
        ).values()
    )
    plan = zx._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan

    # an old-count WAL is rejected loudly; a new-count WAL merges
    # zero-exchange and folds the surviving deltas
    b3 = stream(1000, seed=123, lsn_start=8000)
    wal4 = str(tmp_path / "wal4")
    write_bucketed_wal(b3, wal4, 4, KEYS)
    with pytest.raises(ValueError, match="layout invalid|different spec"):
        t.merge_prebucketed(spark, wal4, validate_layout=True)
    wal8 = str(tmp_path / "wal8")
    write_bucketed_wal(b3, wal8, 8, KEYS)
    t.merge_prebucketed(spark, wal8)
    assert not t.snapshot().get("deltas")

    # twin equivalence: same three batches through plain merge()
    twin = LakeTable.create(str(tmp_path / "twin"), TRANSCRIPT_SCHEMA, KEYS,
                            num_buckets=4)
    twin.merge(b1); twin.merge(b2, mode="mor"); twin.merge(b3)
    assert state(t) == state(twin)

    # rebucket is file churn to ANN staleness (like compact)
    from oregonwaterdataportal_etl_spark.operators.ann_index import (
        _FILE_CHURN_OPS,
    )
    assert "rebucket" in _FILE_CHURN_OPS


def test_dup_span_stats_flags_boilerplate(spark):
    """Duplicated-span hygiene: a boilerplate sentence shared across
    docs is flagged at every position it occupies, unique text is not,
    within-doc repetition counts per position, and short docs (< k
    words) get (0, 0, 0.0)."""
    from oregonwaterdataportal_etl_spark.operators import dedup

    boiler = "subscribe to our newsletter today"
    rows = [
        (1, f"alpha beta gamma. {boiler}"),
        (2, f"{boiler} delta epsilon zeta"),
        (3, "totally unique text with no shared spans at all"),
        (4, "tiny doc"),                       # < k words -> no grams
        (5, f"{boiler} {boiler}"),             # within-doc repetition
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in dedup.dup_span_stats(df, k=3, min_docs=2).collect()
    }
    # doc 3 shares nothing
    assert out[3]["dup_grams"] == 0 and out[3]["dup_fraction"] == 0.0
    # doc 4 has no trigrams at all
    assert out[4] and (out[4]["n_grams"], out[4]["dup_grams"]) == (0, 0)
    assert out[4]["dup_fraction"] == 0.0
    # the boilerplate trigrams appear in docs 1, 2 and 5 -> flagged
    assert out[1]["dup_grams"] >= 3 and out[2]["dup_grams"] >= 3
    assert 0 < out[1]["dup_fraction"] < 1
    # every position of doc 5 is boilerplate-derived (all grams occur in
    # other docs or repeat within the doubled sentence)
    assert out[5]["dup_fraction"] > out[1]["dup_fraction"]
    # md5 family gives the same counts (hash family must not change
    # semantics, only shuffle-key representation)
    out_md5 = {
        r["doc_id"]: r
        for r in dedup.dup_span_stats(df, k=3, min_docs=2,
                                      hash_family="md5").collect()
    }
    for i in out:
        assert (out[i]["n_grams"], out[i]["dup_grams"]) == (
            out_md5[i]["n_grams"], out_md5[i]["dup_grams"]
        )


def test_repetition_fractions_within_doc(spark):
    """Within-doc repetition metrics (expression-only, no shuffle):
    exact fractions on crafted docs, 0.0 below k words, plan stays
    fully codegen (no exchange, no Python eval)."""
    from oregonwaterdataportal_etl_spark.functions import text as X

    rows = [
        (1, "a b c a b c a b c"),            # 7 grams, 3 distinct, top=3
        (2, "all words here are different ones"),  # 4 grams, all unique
        (3, "x y"),                          # < k words
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = df.select(
        "doc_id",
        X.dup_gram_fraction("text").alias("dup"),
        X.top_gram_fraction("text").alias("top"),
    )
    got = {r["doc_id"]: (r["dup"], r["top"]) for r in out.collect()}
    assert got[1] == (4 / 7, 3 / 7)
    assert got[2] == (0.0, 1 / 4)
    assert got[3] == (0.0, 0.0)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_decontaminate_flags_benchmark_overlap(spark):
    """Decontamination: docs sharing a 13-gram with the benchmark are
    flagged (verbatim copies and superstring leaks), clean docs are
    not, short docs cannot match, and the benchmark gram side rides a
    broadcast join (no corpus-side gram shuffle)."""
    from oregonwaterdataportal_etl_spark.operators import dedup

    leak = " ".join(f"w{i}" for i in range(15))         # 15-word passage
    docs = spark.createDataFrame(
        [
            (1, f"intro text then the leak {leak} and an outro"),
            (2, leak),                                   # verbatim copy
            (3, " ".join(f"z{i}" for i in range(30))),   # clean
            (4, "too short to hold any thirteen gram"),  # < 13 words
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame([(100, leak)], ["doc_id", "text"])
    out = dedup.decontaminate(docs, bench, k=13)
    got = {r["doc_id"]: (r["contaminated"], r["contaminated_grams"])
           for r in out.collect()}
    assert got[1][0] is True and got[1][1] == 3   # 15-word window -> 3 grams
    assert got[2][0] is True and got[2][1] == 3
    assert got[3] == (False, 0) and got[4] == (False, 0)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_hash_split_deterministic_and_leakage_safe(spark):
    """Deterministic splits: same key -> same label across runs and
    DataFrames (no train/eval leakage for keyed rows), fractions land
    near their targets at n=2000, repartitioning changes nothing,
    hash_sample(f) subsets nest (kept at 0.3 => kept at 0.6), and bad
    fractions raise."""
    import pytest as _pt

    from oregonwaterdataportal_etl_spark.functions import scalar as S

    df = spark.range(2000).withColumnRenamed("id", "k")
    lab = df.select(
        "k", S.hash_split("k", {"train": 0.8, "val": 0.1, "test": 0.1})
    )
    a = {r["k"]: r["split"] for r in lab.collect()}
    b = {r["k"]: r["split"]
         for r in df.repartition(17).select(
             "k", S.hash_split("k", {"train": 0.8, "val": 0.1, "test": 0.1})
         ).collect()}
    assert a == b
    from collections import Counter
    c = Counter(a.values())
    assert abs(c["train"] / 2000 - 0.8) < 0.05
    assert abs(c["val"] / 2000 - 0.1) < 0.03
    assert abs(c["test"] / 2000 - 0.1) < 0.03
    k3 = {r["k"] for r in df.filter(S.hash_sample("k", 0.3)).collect()}
    k6 = {r["k"] for r in df.filter(S.hash_sample("k", 0.6)).collect()}
    assert k3 < k6  # bands nest: smaller fraction is a subset
    assert abs(len(k6) / 2000 - 0.6) < 0.05
    with _pt.raises(ValueError, match="sum to 1"):
        S.hash_split("k", {"a": 0.5, "b": 0.4})
    with _pt.raises(ValueError, match="fraction"):
        S.hash_sample("k", 1.5)


def test_conversation_ops_order_independent(spark):
    """The conversation fingerprint is delivery-order independent (struct
    sort inside the row), collapses identical conversations
    and separates a one-character difference, stats detect turn gaps,
    and the plan has exactly one exchange (the groupBy) — no global
    sort."""
    from oregonwaterdataportal_etl_spark.operators import transcripts

    turns = [
        ("c1", 0, "hello", "user", None),
        ("c1", 1, "hi there", "assistant", None),
        ("c1", 2, "run it", "user", "bash"),
        ("c2", 0, "hello", "user", None),       # same content as c1...
        ("c2", 1, "hi there", "assistant", None),
        ("c2", 2, "run it", "user", "bash"),
        ("c3", 0, "hello", "user", None),       # ...c3 differs by 1 char
        ("c3", 1, "hi there", "assistant", None),
        ("c3", 2, "run it!", "user", "bash"),
        ("c4", 0, "solo", "user", None),
        ("c4", 5, "gap", "user", None),         # missing turns 1-4
    ]
    cols = ["conv_id", "turn_idx", "text", "role", "tool"]
    df = spark.createDataFrame(turns, cols)
    shuffled = spark.createDataFrame(list(reversed(turns)), cols).repartition(7)

    fp = {r["conv_id"]: r["fingerprint"]
          for r in transcripts.conversation_fingerprint(df).collect()}
    assert fp["c1"] == fp["c2"] and fp["c1"] != fp["c3"]
    fp2 = {r["conv_id"]: r["fingerprint"]
           for r in transcripts.conversation_fingerprint(shuffled).collect()}
    assert fp == fp2  # delivery order must not matter

    st = {r["conv_id"]: r for r in transcripts.conversation_stats(df).collect()}
    assert st["c1"]["n_turns"] == 3 and st["c1"]["tool_calls"] == 1
    assert st["c1"]["n_roles"] == 2
    assert st["c4"]["max_turn_idx"] + 1 > st["c4"]["n_turns"]  # gap

    out = transcripts.conversation_fingerprint(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1 and "Sort" not in plan.split("Exchange")[0]


def test_redact_pii_masks_common_shapes(spark):
    """PII scrub: emails (plus-addressing, subdomains), SSNs, IPv4s and
    spaced/parenthesized phone numbers are masked; clean prose and
    short digit runs survive; the chain is pure expression (no UDF)."""
    from oregonwaterdataportal_etl_spark.functions import text as X

    rows = [
        (1, "mail bob.smith+x@corp.example.org now"),
        (2, "call +1 (503) 555-0142 today"),
        (3, "ssn 123-45-6789 leaked"),
        (4, "host 10.0.255.7 up"),
        (5, "clean prose with the year 2024 and room 12 only"),
    ]
    df = spark.createDataFrame(rows, ["id", "t"])
    out = df.select("id", X.redact_pii("t").alias("r"))
    got = {r["id"]: r["r"] for r in out.collect()}
    assert got[1] == "mail [EMAIL] now"
    assert got[2] == "call [PHONE] today"
    assert got[3] == "ssn [SSN] leaked"
    assert got[4] == "host [IPV4] up"
    assert got[5] == rows[4][1]  # untouched
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
