"""The data-file layout every writer produces, and the manifest reads of
one merge.

Layout: after each writing operation every file the snapshot lists
exists, is listed once, stores exactly the payload, _lsn and the one
tie-break value _tb, plus the op column exactly when it is a delta file,
holds only rows whose bucket (the table's own bucket expression) is the
bucket it is listed under, is zstd in every column chunk although the
session asks for snappy, and no bucket lists a key both as a base row
and as a tombstone.

Legacy files, which store the tie-break as two limbs _tb1/_tb2, still
resolve under the same order: their rows read the limbs' XOR."""

import hashlib

import os
from urllib.parse import urlparse

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from oregonwaterdataportal_etl_spark.cdc import oracle_fold
from oregonwaterdataportal_etl_spark.cdc.changegen import (
    CHANGE_SCHEMA,
    TRANSCRIPT_SCHEMA,
    generate_changes_pdf,
)
from oregonwaterdataportal_etl_spark.lake import LakeTable
from oregonwaterdataportal_etl_spark.lake.bucketed import write_bucketed_wal
from oregonwaterdataportal_etl_spark.lake.table import (
    ManifestChain,
    snapshot_files,
    tiebreak_py,
)

KEYS = ["conv_id", "turn_idx"]
SIDES = {"b": "files", "t": "tombstones", "d": "deltas"}
PAYLOAD = TRANSCRIPT_SCHEMA.fieldNames()


@pytest.fixture
def snappy_session(spark):
    """A session whose parquet codec is snappy, which every lake writer
    overrides with its own."""
    key = "spark.sql.parquet.compression.codec"
    old = spark.conf.get(key)
    spark.conf.set(key, "snappy")
    yield spark
    spark.conf.set(key, old)


def _assert_zstd(path: str, step: str) -> None:
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    codecs = {
        md.row_group(g).column(c).compression
        for g in range(md.num_row_groups)
        for c in range(md.num_columns)
    }
    assert codecs == {"ZSTD"}, f"{step}: {path} is {codecs}"


def _assert_files_zstd(root: str, step: str) -> None:
    files = [
        os.path.join(d, f)
        for d, _dirs, names in os.walk(root)
        for f in names
        if f.endswith(".parquet")
    ]
    assert files, f"{step}: no file under {root}"
    for f in files:
        _assert_zstd(f, step)


def _check_layout(spark, t: LakeTable, step: str) -> None:
    import pyarrow.parquet as pq

    snap = t.snapshot()
    n = snap["num_buckets"]
    listed: dict[str, tuple[str, int]] = {}
    for side, key in SIDES.items():
        for b, fl in (snap.get(key) or {}).items():
            for f in fl:
                assert os.path.exists(f), f"{step}: listed file missing: {f}"
                assert f not in listed, f"{step}: {f} listed twice"
                listed[f] = (side, int(b))
                stored = pq.ParquetFile(f).schema_arrow.names
                want = PAYLOAD + ["_lsn", "_tb"] + (["_op"] if side == "d" else [])
                assert sorted(stored) == sorted(want), (
                    f"{step}: {side} file {f} stores {stored}"
                )
                _assert_zstd(f, step)
    if not listed:
        return
    key_schema = T.StructType(
        [f for f in TRANSCRIPT_SCHEMA.fields if f.name in KEYS]
    )
    rows = (
        spark.read.schema(key_schema).parquet(*listed)
        .select(
            F.input_file_name().alias("f"),
            F.pmod(F.hash(*KEYS), F.lit(n)).alias("b"),
            *KEYS,
        )
        .distinct()
        .collect()
    )
    keys_by = {}
    for r in rows:
        side, b = listed[urlparse(r["f"]).path]
        assert r["b"] == b, (
            f"{step}: a row of bucket {r['b']} sits in {side} file of bucket {b}"
        )
        keys_by.setdefault((side, b), set()).add((r["conv_id"], r["turn_idx"]))
    for b in range(n):
        both = keys_by.get(("b", b), set()) & keys_by.get(("t", b), set())
        assert not both, f"{step}: bucket {b} keys both live and tombstoned"


def _batch(spark, tmp_path, name, pdf):
    path = str(tmp_path / name)
    spark.createDataFrame(pdf).write.parquet(path)
    return spark.read.parquet(path)


def test_every_writer_keeps_the_layout(snappy_session, tmp_path):
    spark = snappy_session
    t = LakeTable.create(
        str(tmp_path / "t"), TRANSCRIPT_SCHEMA, KEYS, num_buckets=4
    )
    first = generate_changes_pdf(600, 60, seed=21, delete_rate=0.0)
    t.overwrite(
        spark.createDataFrame(first)
        .filter("op != 'delete'")
        .select(*[f.name for f in TRANSCRIPT_SCHEMA.fields], F.col("lsn").alias("_lsn"))
        .dropDuplicates(KEYS)
    )
    _check_layout(spark, t, "overwrite")

    t.merge(_batch(spark, tmp_path, "b1", generate_changes_pdf(
        600, 60, seed=22, delete_rate=0.2, lsn_start=1000,
    )))
    _check_layout(spark, t, "cow merge")

    t.merge(_batch(spark, tmp_path, "b2", generate_changes_pdf(
        300, 60, seed=23, delete_rate=0.2, lsn_start=2000,
    )), mode="mor")
    _check_layout(spark, t, "mor merge")

    wal = str(tmp_path / "wal")
    write_bucketed_wal(spark.createDataFrame(generate_changes_pdf(
        300, 60, seed=24, delete_rate=0.2, lsn_start=3000,
    )), wal, 4, KEYS)
    _assert_files_zstd(wal, "write_bucketed_wal")
    t.merge_prebucketed(spark, wal)
    _check_layout(spark, t, "merge_prebucketed")

    t.merge(_batch(spark, tmp_path, "b3", generate_changes_pdf(
        300, 60, seed=25, delete_rate=0.2, lsn_start=4000,
    )), mode="mor")
    # target 0 rewrites every bucket, so the bin-pack writer runs too
    t.compact(spark, target_files_per_bucket=0)
    ops = [s["summary"]["operation"] for s in t.history()[-2:]]
    assert ops == ["compact-fold", "compact"], ops
    _check_layout(spark, t, "compact")

    tomb_lsns = sorted(
        r[0] for r in spark.read.parquet(
            *[f for fl in t.snapshot()["tombstones"].values() for f in fl]
        ).select("_lsn").collect()
    )
    assert tomb_lsns[0] < tomb_lsns[-1]
    assert t.expire_tombstones(spark, below_lsn=tomb_lsns[len(tomb_lsns) // 2]) > 0
    assert t.snapshot()["tombstones"]
    _check_layout(spark, t, "expire_tombstones")

    t.delete_where(spark, "turn_idx % 3 = 0")
    _check_layout(spark, t, "delete_where")

    t.merge(_batch(spark, tmp_path, "b4", generate_changes_pdf(
        300, 60, seed=26, delete_rate=0.2, lsn_start=9000,
    )), mode="mor")
    before = sorted(map(tuple, t.read(spark).collect()))
    t.rebucket(spark, 8)
    assert t.snapshot()["deltas"]
    _check_layout(spark, t, "rebucket")
    assert sorted(map(tuple, t.read(spark).collect())) == before


def test_partitioned_wal_writes_zstd(snappy_session, tmp_path):
    """A time-partitioned table's bucketed WAL (the ordinary
    write_bucketed_wal) and the (partition, bucket) files its
    zero-exchange merge writes are zstd under a snappy session too."""
    spark = snappy_session
    t = LakeTable.create(
        str(tmp_path / "pt"), TRANSCRIPT_SCHEMA, KEYS,
        partition_col="ts", num_buckets=4,
    )
    wal = write_bucketed_wal(
        spark.createDataFrame(generate_changes_pdf(300, 30, seed=27)),
        str(tmp_path / "pwal"), 4, KEYS,
    )
    _assert_files_zstd(wal, "write_bucketed_wal")
    t.merge_prebucketed(spark, wal)
    _assert_files_zstd(t.data_dir, "merge_prebucketed")


def test_side_store_writers_write_zstd(snappy_session, tmp_path):
    """The writers beside the lake tables are zstd under a snappy
    session too: the envelope stream's DLQ batch and pending state,
    replay_dlq's amended state and consolidated quarantine,
    WatermarkStore's delta and base dirs, and the LSH and IVF
    partitioned corpora."""
    import numpy as np

    from oregonwaterdataportal_etl_spark.cdc import ManifestLog, WatermarkStore
    from oregonwaterdataportal_etl_spark.cdc.envelope import wrap_envelopes
    from oregonwaterdataportal_etl_spark.operators import similarity
    from oregonwaterdataportal_etl_spark.streaming import (
        replay_dlq,
        start_envelope_stream,
    )

    spark = snappy_session
    # one transaction that never completes (held pending) and one
    # unparseable row (quarantined)
    changes = spark.createDataFrame(generate_changes_pdf(200, 10, seed=41))
    raw = wrap_envelopes(
        changes.withColumn(
            "txn_id", F.when(F.col("lsn") == 5, F.lit("open")).cast("string")
        ).withColumn(
            "txn_event_count", F.when(F.col("lsn") == 5, F.lit(2)).cast("long")
        ),
        txn_id_col="txn_id", txn_event_count_col="txn_event_count",
    ).unionByName(spark.createDataFrame([("{not json",)], "value string"))
    wire = str(tmp_path / "wire")
    raw.coalesce(1).write.parquet(wire)
    t = LakeTable.create(str(tmp_path / "t"), TRANSCRIPT_SCHEMA, KEYS, num_buckets=2)
    dlq, pend = str(tmp_path / "dlq"), str(tmp_path / "pend")
    mf = ManifestLog(str(tmp_path / "mf"))
    start_envelope_stream(
        spark, wire, t, str(tmp_path / "ckpt"), mf, TRANSCRIPT_SCHEMA,
        dlq_dir=dlq, pending_dir=pend,
    ).awaitTermination(120)
    _assert_files_zstd(os.path.join(dlq, "batch-0"), "DLQ batch")
    _assert_files_zstd(os.path.join(pend, "state-0"), "pending state")
    stats = replay_dlq(spark, t, dlq, TRANSCRIPT_SCHEMA, pending_dir=pend, manifests=mf)
    assert stats["held"] and stats["still_dead"]
    _assert_files_zstd(os.path.join(pend, "state-0"), "replay_dlq amended state")
    _assert_files_zstd(dlq, "replay_dlq quarantine")

    ws = WatermarkStore(str(tmp_path / "wm"), compact_every=2)
    for hi in (5, 9):  # the second update folds the deltas into a base
        ws.update(spark.createDataFrame([("c1", hi)], "conv_id string, wm int"))
        _assert_files_zstd(ws.path, f"WatermarkStore.update #{hi}")
    assert any(d.startswith("b-") for d in os.listdir(ws.path))

    rng = np.random.default_rng(3)
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(64)],
        ["vec_id", "embedding"],
    )
    similarity.write_lsh_partitioned(corpus, str(tmp_path / "lsh"), bits=2)
    _assert_files_zstd(str(tmp_path / "lsh"), "write_lsh_partitioned")
    similarity.write_ivf_partitioned(corpus, str(tmp_path / "ivf"), n_centroids=2)
    _assert_files_zstd(str(tmp_path / "ivf"), "write_ivf_partitioned")


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_merge_reads_its_manifest_once(spark, tmp_path, monkeypatch, mode):
    """merge() pins one snapshot and evolves the schema against it, so
    the hot apply path parses the manifest once."""
    t = LakeTable.create(
        str(tmp_path / "t"), TRANSCRIPT_SCHEMA, KEYS, num_buckets=4
    )
    t.merge(_batch(spark, tmp_path, "b1", generate_changes_pdf(
        300, 30, seed=31,
    )))
    batch = _batch(spark, tmp_path, "b2", generate_changes_pdf(
        200, 30, seed=32, lsn_start=1000,
    ))
    reads = []
    real = ManifestChain.read

    def counting(self, version):
        reads.append(version)
        return real(self, version)

    monkeypatch.setattr(ManifestChain, "read", counting)
    t.merge(batch, mode=mode)
    assert len(reads) == 1, reads


# ------------------------------------------------ legacy two-limb files
# events as (op, lsn, conv_id, turn_idx, role, text): c0..c5 stay live,
# c6 and c7 end as tombstones
LEGACY_EVENTS = [("insert", 10 + i, f"c{i}", 0, "user", f"t{i}") for i in range(8)] + [
    ("delete", 30, "c6", 0, None, None),
    ("delete", 31, "c7", 0, None, None),
]


def _event(op, lsn, conv_id, turn_idx, role, text) -> dict:
    return {"op": op, "lsn": lsn, "conv_id": conv_id, "turn_idx": turn_idx,
            "role": role, "text": text, "tool": None, "ts": None}


def _changes_df(spark, events: list[dict]):
    return spark.createDataFrame(
        [tuple(ev[c] for c in CHANGE_SCHEMA.fieldNames()) for ev in events],
        CHANGE_SCHEMA,
    )


def _hash_values(ev: dict) -> list:
    """The md5 family's hash input of an event: the payload in schema
    order, then the op."""
    return [ev[c] for c in PAYLOAD] + [ev["op"]]


def _legacy_limbs(values: list) -> tuple[int, int]:
    """The two 60-bit md5 limbs that legacy files stored; tiebreak_py is
    their XOR."""
    canon = "\x1f".join("\x00" if v is None else str(v) for v in values)
    h = hashlib.md5(canon.encode("utf-8")).hexdigest()
    limbs = int(h[0:15], 16), int(h[16:31], 16)
    assert limbs[0] ^ limbs[1] == tiebreak_py(values)
    return limbs


def _tie(ev: dict, win: bool) -> dict:
    """An event of ``ev``'s key and LSN with another payload, chosen to
    win (or lose) the tie against ``ev``."""
    tb = tiebreak_py(_hash_values(ev))
    for i in range(100):
        cand = {**ev, "op": "update", "role": "assistant", "text": f"tie-{i}"}
        if (tiebreak_py(_hash_values(cand)) > tb) == win:
            return cand
    raise AssertionError("no tie candidate")


def _legacy_table(spark, path: str) -> LakeTable:
    """An md5-family table whose base and tombstone files store the
    legacy limbs _tb1/_tb2 in place of _tb."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = LakeTable.create(path, TRANSCRIPT_SCHEMA, KEYS, num_buckets=2,
                         tiebreak_family="md5")
    events = [_event(*e) for e in LEGACY_EVENTS]
    t.merge(_changes_df(spark, events))
    by_row = {(ev["conv_id"], ev["turn_idx"], ev["lsn"]): ev for ev in events}
    files = [f for side, *_g, f in snapshot_files(t.snapshot())]
    assert {side for side, *_ in snapshot_files(t.snapshot())} == {"b", "t"}
    for f in files:
        tbl = pq.read_table(f)
        limbs = []
        for conv_id, turn_idx, lsn, tb in zip(*(
            tbl.column(c).to_pylist() for c in ("conv_id", "turn_idx", "_lsn", "_tb")
        )):
            l1, l2 = _legacy_limbs(_hash_values(by_row[(conv_id, turn_idx, lsn)]))
            assert l1 ^ l2 == tb
            limbs.append((l1, l2))
        tbl = tbl.drop_columns(["_tb"])
        for i, name in enumerate(("_tb1", "_tb2")):
            tbl = tbl.append_column(name, pa.array([lb[i] for lb in limbs], pa.int64()))
        pq.write_table(tbl, f + ".tmp", compression="zstd")
        os.replace(f + ".tmp", f)
        # the local filesystem's checksum of the file Spark wrote
        crc = os.path.join(os.path.dirname(f), f".{os.path.basename(f)}.crc")
        if os.path.exists(crc):
            os.remove(crc)
    return t


def _ties() -> list[dict]:
    """Same-(key, LSN) different-payload events against legacy rows: a
    base row and a tombstone the new event beats, and one of each that
    beats it."""
    ev = {(e[2], e[1]): _event(*e) for e in LEGACY_EVENTS}
    return [_tie(ev[("c0", 10)], True), _tie(ev[("c1", 11)], False),
            _tie(ev[("c6", 30)], True), _tie(ev[("c7", 31)], False)]


def _oracle(events: list[dict]) -> dict:
    state = oracle_fold(events, KEYS, columns=PAYLOAD)
    return {k: tuple(row[c] for c in PAYLOAD) for k, row in state.items()}


def _rows(df) -> dict:
    return {(r["conv_id"], r["turn_idx"]): tuple(r[c] for c in PAYLOAD)
            for r in df.collect()}


def test_legacy_limb_files_resolve_like_one_tiebreak(spark, tmp_path):
    """A table whose base and tombstone files store the two legacy limbs
    takes same-(key, LSN) events by a mor append, a cow merge and a
    zero-exchange merge. read, lookup, read_changes, compact and
    merge_prebucketed all equal the oracle fold, which ranks by the
    limbs' XOR; rewritten files store _tb alone."""
    import pyarrow.parquet as pq

    base = [_event(*e) for e in LEGACY_EVENTS]
    ties = _ties()
    before, after = _oracle(base), _oracle(base + ties)
    # the ties really decide: two keys change, two do not
    assert after[("c0", 0)][3] == ties[0]["text"] and after[("c1", 0)] == before[("c1", 0)]
    assert after[("c6", 0)][3] == ties[2]["text"] and ("c7", 0) not in after

    # mor append: the legacy base and tombstones resolve against deltas
    t = _legacy_table(spark, str(tmp_path / "mor"))
    assert _rows(t.read(spark)) == before
    t.merge(_changes_df(spark, ties), mode="mor")
    assert _rows(t.read(spark)) == after
    for k in after:
        assert _rows(t.lookup(spark, conv_id=k[0], turn_idx=k[1])) == {k: after[k]}
    assert _rows(t.lookup(spark, conv_id="c7", turn_idx=0)) == {}
    # from the empty origin every live row is an insert
    changes = t.read_changes(spark, 0)
    assert {r["_change_type"] for r in changes.collect()} == {"insert"}
    assert _rows(changes) == after
    t.compact(spark, target_files_per_bucket=0)
    assert not t.snapshot()["deltas"]
    assert _rows(t.read(spark)) == after
    for f in (f for fl in t.snapshot()["files"].values() for f in fl):
        assert "_tb1" not in pq.read_schema(f).names, f

    # cow merge and zero-exchange merge: the legacy rows meet the batch
    t = _legacy_table(spark, str(tmp_path / "cow"))
    t.merge(_changes_df(spark, ties))
    assert _rows(t.read(spark)) == after
    t = _legacy_table(spark, str(tmp_path / "zx"))
    wal = write_bucketed_wal(_changes_df(spark, ties), str(tmp_path / "wal"), 2, KEYS)
    t.merge_prebucketed(spark, wal)
    assert _rows(t.read(spark)) == after
    _check_layout(spark, t, "merge_prebucketed over legacy files")
