"""The data-file layout every writer produces, and the manifest reads of
one merge.

Layout: after each writing operation every file the snapshot lists
exists, is listed once, carries the op column exactly when it is a
delta file, holds only rows whose bucket (the table's own bucket
expression) is the bucket it is listed under, is zstd in every column
chunk although the session asks for snappy, and no bucket lists a key
both as a base row and as a tombstone."""

import os
from urllib.parse import urlparse

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from oregonwaterdataportal_etl_spark.cdc.changegen import (
    TRANSCRIPT_SCHEMA,
    generate_changes_pdf,
)
from oregonwaterdataportal_etl_spark.lake import LakeTable
from oregonwaterdataportal_etl_spark.lake.bucketed import write_bucketed_wal
from oregonwaterdataportal_etl_spark.lake.table import ManifestChain

KEYS = ["conv_id", "turn_idx"]
SIDES = {"b": "files", "t": "tombstones", "d": "deltas"}


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
                has_op = "_op" in pq.ParquetFile(f).schema_arrow.names
                assert has_op == (side == "d"), (
                    f"{step}: {side} file {f} has_op={has_op}"
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
