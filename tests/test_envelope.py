"""Envelope front-end: parse/quarantine/gate (cdc/envelope.py).

Wire-format fidelity (wrap -> parse roundtrip at microsecond ts
precision), DLQ reason precedence, transaction-boundary gating with
cross-window pending carry, and the no-per-row-Python plan pin."""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from oregonwaterdataportal_etl_spark.cdc import (
    generate_changes,
    gate_transactions,
    ingest_envelopes,
    lww_dedup,
    parse_envelopes,
    split_dlq,
    wrap_envelopes,
)
from oregonwaterdataportal_etl_spark.cdc.changegen import TRANSCRIPT_SCHEMA


def _sorted_pdf(df, cols):
    return (
        df.select(*cols)
        .toPandas()
        .sort_values(cols)
        .reset_index(drop=True)
    )


def test_wrap_parse_roundtrip(spark):
    """Encoder -> decoder is lossless on clean change streams,
    including microsecond timestamps and null tool columns."""
    changes = generate_changes(spark, 2000, 40, seed=11)
    raw = wrap_envelopes(changes)
    clean, dlq = split_dlq(parse_envelopes(raw, TRANSCRIPT_SCHEMA))
    assert dlq.count() == 0
    cols = ["lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts"]
    back = _sorted_pdf(
        clean.drop("txn_id", "txn_total_order", "txn_event_count"), cols
    )
    orig = _sorted_pdf(changes, cols)
    pd.testing.assert_frame_equal(back, orig)


def test_dlq_reasons_and_precedence(spark):
    """Each malformation lands in the DLQ with its reason; clean rows
    pass; deletes read the before image."""
    rows = [
        # clean create
        ('{"op":"c","after":{"conv_id":"a","turn_idx":1,"role":"user","text":"hi"},"source":{"lsn":1}}',),
        # clean delete via before image
        ('{"op":"d","before":{"conv_id":"a","turn_idx":1,"role":"user","text":"hi"},"source":{"lsn":2}}',),
        # truncated JSON
        ('{"op":"c","after":{"conv',),
        # no source.lsn
        ('{"op":"c","after":{"conv_id":"b","turn_idx":0,"role":"user","text":"x"},"source":{}}',),
        # unknown op (precedence: lsn present, so bad_op not missing_image)
        ('{"op":"z","source":{"lsn":4}}',),
        # delete without before image
        ('{"op":"d","after":{"conv_id":"c","turn_idx":0,"role":"user","text":"y"},"source":{"lsn":5}}',),
    ]
    raw = spark.createDataFrame(rows, "value string")
    parsed = parse_envelopes(raw, TRANSCRIPT_SCHEMA)
    clean, dlq = split_dlq(parsed)
    got = {r["value"]: r["_dlq_reason"] for r in dlq.collect()}
    assert got[rows[2][0]] == "malformed_json"
    assert got[rows[3][0]] == "missing_lsn"
    assert got[rows[4][0]] == "bad_op"
    assert got[rows[5][0]] == "missing_image"
    reasons = sorted(r["_dlq_reason"] for r in dlq.collect())
    assert reasons == ["bad_op", "malformed_json", "missing_image", "missing_lsn"]
    out = {(r["lsn"], r["op"]): r for r in clean.collect()}
    assert set(out) == {(1, "insert"), (2, "delete")}
    assert out[(2, "delete")]["conv_id"] == "a"


def test_txn_gate_completeness(spark):
    """Only fully-arrived transactions pass; null-txn rows always pass."""
    rows = [
        ("t1", 2, 1), ("t1", 2, 2),          # complete pair
        ("t2", 3, 3), ("t2", 3, 4),          # incomplete (1 of 3 missing)
        (None, None, 5), (None, None, 6),    # non-transactional
    ]
    df = spark.createDataFrame(
        rows, "txn_id string, txn_event_count long, lsn long"
    )
    ready, still = gate_transactions(df)
    assert sorted(r["lsn"] for r in ready.collect()) == [1, 2, 5, 6]
    assert sorted(r["lsn"] for r in still.collect()) == [3, 4]


def test_txn_gate_pending_carry(spark):
    """A transaction split across two windows is held in window 1 and
    released whole in window 2 — gating is a pure function of the
    accumulated rows, so replaying the pending frame is idempotent."""
    schema = "txn_id string, txn_event_count long, lsn long"
    w1 = spark.createDataFrame([("tx", 3, 1), ("tx", 3, 2)], schema)
    ready1, still1 = gate_transactions(w1)
    assert ready1.count() == 0 and still1.count() == 2
    w2 = spark.createDataFrame([("tx", 3, 3)], schema)
    ready2, still2 = gate_transactions(w2, pending=still1)
    assert sorted(r["lsn"] for r in ready2.collect()) == [1, 2, 3]
    assert still2.count() == 0
    # replay (crash between windows): same pending in again -> same result
    ready2b, _ = gate_transactions(w2, pending=still1)
    assert sorted(r["lsn"] for r in ready2b.collect()) == [1, 2, 3]


def test_ingest_chain_feeds_lww(spark):
    """End-to-end: wire envelopes (with a txn block and a corrupt row)
    -> ingest -> lww_dedup equals the same fold over the clean subset
    delivered directly."""
    changes = generate_changes(spark, 3000, 50, seed=7)
    # every event its own 1-row txn except conv-level grouping is not
    # needed; tag a third of rows into 2-row txns split by parity
    tagged = changes.withColumn(
        "txn_id",
        F.when(F.col("lsn") % 3 == 0, F.concat(F.lit("t"), (F.col("lsn") / 6).cast("long"))),
    ).withColumn(
        "txn_event_count", F.when(F.col("txn_id").isNotNull(), F.lit(2)).cast("long")
    )
    raw = wrap_envelopes(
        tagged,
        txn_id_col="txn_id",
        txn_total_order_col=None,
        txn_event_count_col="txn_event_count",
    )
    # corrupt ~1/17 of the wire rows deterministically
    raw = raw.withColumn(
        "value",
        F.when(
            F.pmod(F.xxhash64("value"), F.lit(17)) == 0, F.substring("value", 1, 9)
        ).otherwise(F.col("value")),
    )
    ready, dlq, still = ingest_envelopes(raw, TRANSCRIPT_SCHEMA)
    n_raw = raw.count()
    assert dlq.count() > 0
    assert ready.count() + dlq.count() + still.count() == n_raw
    # the gate may hold some 2-row txns whose sibling got corrupted;
    # LWW over ready must equal LWW over the same surviving rows
    folded = lww_dedup(ready, tiebreak_family="md5")
    assert folded.count() == folded.select("conv_id", "turn_idx").distinct().count()


def test_no_python_in_parse_plan(spark):
    changes = generate_changes(spark, 100, 10, seed=3)
    ready, dlq, still = ingest_envelopes(wrap_envelopes(changes), TRANSCRIPT_SCHEMA)
    for df in (ready, dlq, still):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


# ------------------------------------------------------- streaming
def _wire_files(spark, tmp_path, n=2400, convs=40):
    """Two wire parquet files: 2-row transactions split so some txns
    straddle the file boundary, plus deterministic corruption."""
    changes = generate_changes(spark, n, convs, seed=21)
    tagged = changes.withColumn(
        "txn_id",
        F.when(
            F.col("lsn") % 3 == 0,
            F.concat(F.lit("t"), (F.col("lsn") / 6).cast("long")),
        ),
    ).withColumn(
        "txn_event_count",
        F.when(F.col("txn_id").isNotNull(), F.lit(2)).cast("long"),
    )
    raw = wrap_envelopes(
        tagged, txn_id_col="txn_id", txn_event_count_col="txn_event_count"
    ).withColumn(
        "value",
        F.when(
            F.pmod(F.xxhash64("value"), F.lit(29)) == 0,
            F.substring("value", 1, 8),
        ).otherwise(F.col("value")),
    )
    wire_dir = str(tmp_path / "wire")
    # split by re-parsing the lsn back out of the value is overkill;
    # wrap order isn't stable, so just split the frame in half
    half = raw.limit(n // 2)
    rest = raw.subtract(half)
    half.coalesce(1).write.parquet(os.path.join(wire_dir, "f1"))
    rest.coalesce(1).write.parquet(os.path.join(wire_dir, "f2"))
    return wire_dir, raw


def _expected_state(spark, raw_union):
    ready, dlq, still = ingest_envelopes(raw_union, TRANSCRIPT_SCHEMA)
    folded = lww_dedup(ready).filter(F.col("op") != "delete").drop("op", "lsn")
    return folded, dlq, still


def test_envelope_stream_end_to_end(spark, tmp_path):
    """availableNow tail through parse -> DLQ -> gate -> merge; final
    table state equals the whole-wire batch path, the quarantine is
    persisted per batch, and the pending store survives for replay."""
    from oregonwaterdataportal_etl_spark.cdc import ManifestLog
    from oregonwaterdataportal_etl_spark.lake import LakeTable
    from oregonwaterdataportal_etl_spark.streaming import (
        read_dlq,
        start_envelope_stream,
    )

    wire_dir, raw = _wire_files(spark, tmp_path)
    table = LakeTable.create(
        str(tmp_path / "t"), TRANSCRIPT_SCHEMA,
        key_cols=["conv_id", "turn_idx"], num_buckets=4,
    )
    q = start_envelope_stream(
        spark,
        os.path.join(wire_dir, "*"),
        table,
        str(tmp_path / "ckpt"),
        ManifestLog(str(tmp_path / "mf")),
        TRANSCRIPT_SCHEMA,
        dlq_dir=str(tmp_path / "dlq"),
        pending_dir=str(tmp_path / "pend"),
        max_files_per_trigger=1,
    )
    q.awaitTermination(180)

    expect, dlq_expect, still_expect = _expected_state(
        spark, spark.read.parquet(os.path.join(wire_dir, "*"))
    )
    got = table.read(spark)
    assert got.exceptAll(expect).count() == 0
    assert expect.exceptAll(got).count() == 0
    # quarantine: same rows as the batch path, across per-batch dirs
    dlq_stream = read_dlq(spark, str(tmp_path / "dlq"))
    assert sorted(
        (r["value"], r["_dlq_reason"]) for r in dlq_stream.collect()
    ) == sorted((r["value"], r["_dlq_reason"]) for r in dlq_expect.collect())
    # pending store: latest state holds exactly the still-open tail
    states = sorted(os.listdir(tmp_path / "pend"))
    assert states, "pending store must persist"
    latest = spark.read.parquet(str(tmp_path / "pend" / states[-1]))
    assert latest.count() == still_expect.count()


def test_envelope_stream_restart_releases_split_txn(spark, tmp_path):
    """A transaction whose events arrive in a LATER stream run is held
    by the pending store across the restart and released whole."""
    from oregonwaterdataportal_etl_spark.cdc import ManifestLog
    from oregonwaterdataportal_etl_spark.lake import LakeTable
    from oregonwaterdataportal_etl_spark.streaming import start_envelope_stream

    import pyspark.sql.types as T2
    payload = T2.StructType([
        T2.StructField("conv_id", T2.StringType()),
        T2.StructField("turn_idx", T2.IntegerType()),
        T2.StructField("text", T2.StringType()),
    ])
    wire_dir = tmp_path / "wire2"

    def env(op, conv, turn, text, lsn, txn=None, total=None):
        import json as _json
        e = {"op": op, "after": {"conv_id": conv, "turn_idx": turn, "text": text},
             "source": {"lsn": lsn}}
        if txn:
            e["transaction"] = {"id": txn, "event_count": total}
        return _json.dumps(e)

    f1 = [
        (env("c", "a", 0, "solo", 1),),
        (env("c", "b", 0, "txA-1of2", 2, "A", 2),),  # half of txn A
    ]
    f2 = [
        (env("c", "b", 1, "txA-2of2", 3, "A", 2),),  # completes txn A
    ]
    spark.createDataFrame(f1, "value string").coalesce(1).write.parquet(
        str(wire_dir / "f1")
    )
    table = LakeTable.create(
        str(tmp_path / "t2"), payload, key_cols=["conv_id", "turn_idx"],
        num_buckets=2,
    )
    mf = ManifestLog(str(tmp_path / "mf2"))
    args = dict(
        dlq_dir=str(tmp_path / "dlq2"), pending_dir=str(tmp_path / "pend2")
    )
    q = start_envelope_stream(
        spark, str(wire_dir / "*"), table, str(tmp_path / "ckpt2"), mf,
        payload, **args,
    )
    q.awaitTermination(120)
    keys1 = {(r["conv_id"], r["turn_idx"]) for r in table.read(spark).collect()}
    assert keys1 == {("a", 0)}  # txn A held

    spark.createDataFrame(f2, "value string").coalesce(1).write.parquet(
        str(wire_dir / "f2")
    )
    q2 = start_envelope_stream(
        spark, str(wire_dir / "*"), table, str(tmp_path / "ckpt2"), mf,
        payload, **args,
    )
    q2.awaitTermination(120)
    keys2 = {(r["conv_id"], r["turn_idx"]) for r in table.read(spark).collect()}
    assert keys2 == {("a", 0), ("b", 0), ("b", 1)}  # released whole


def test_parse_op_aliases(spark):
    """Engine-spelling wire ops are bad_op by default, accepted with
    op_aliases; aliased deletes are image-lenient."""
    rows = [
        ('{"op":"insert","after":{"conv_id":"a","turn_idx":0,"role":"u","text":"x"},"source":{"lsn":1}}',),
        ('{"op":"delete","after":{"conv_id":"a","turn_idx":0,"role":"u","text":"x"},"source":{"lsn":2}}',),
    ]
    raw = spark.createDataFrame(rows, "value string")
    strict = parse_envelopes(raw, TRANSCRIPT_SCHEMA)
    assert {r["_dlq_reason"] for r in strict.collect()} == {"bad_op"}
    lax = parse_envelopes(
        raw, TRANSCRIPT_SCHEMA,
        op_aliases={"insert": "insert", "delete": "delete"},
    )
    got = {(r["lsn"], r["op"]): r["_dlq_reason"] for r in lax.collect()}
    assert got == {(1, "insert"): None, (2, "delete"): None}
    with pytest.raises(ValueError):
        parse_envelopes(raw, TRANSCRIPT_SCHEMA, op_aliases={"x": "upsert"})


def test_replay_dlq_recovers_after_contract_fix(spark, tmp_path):
    """Stream quarantines engine-spelling ops as bad_op; replay with
    op_aliases merges them, malformed rows stay dead, and a second
    replay is a no-op."""
    from oregonwaterdataportal_etl_spark.cdc import ManifestLog
    from oregonwaterdataportal_etl_spark.lake import LakeTable
    from oregonwaterdataportal_etl_spark.streaming import (
        read_dlq,
        replay_dlq,
        start_envelope_stream,
    )

    changes = generate_changes(spark, 1200, 30, seed=31)
    wire = wrap_envelopes(changes)
    # every 5th wire row switches to the engine spelling (c -> insert);
    # every 41st is truncated garbage
    wire = wire.withColumn(
        "value",
        F.when(
            F.pmod(F.xxhash64("value"), F.lit(41)) == 0,
            F.substring("value", 1, 8),
        )
        .when(
            F.pmod(F.xxhash64("value"), F.lit(5)) == 1,
            F.regexp_replace("value", '^\\{"op":"c"', '{"op":"insert"'),
        )
        .otherwise(F.col("value")),
    )
    wire_dir = str(tmp_path / "wire")
    wire.coalesce(1).write.parquet(os.path.join(wire_dir, "f1"))
    table = LakeTable.create(
        str(tmp_path / "t"), TRANSCRIPT_SCHEMA,
        key_cols=["conv_id", "turn_idx"], num_buckets=4,
    )
    mf = ManifestLog(str(tmp_path / "mf"))
    q = start_envelope_stream(
        spark, os.path.join(wire_dir, "*"), table, str(tmp_path / "ckpt"),
        mf, TRANSCRIPT_SCHEMA,
        dlq_dir=str(tmp_path / "dlq"), pending_dir=str(tmp_path / "pend"),
    )
    q.awaitTermination(120)
    dlq0 = read_dlq(spark, str(tmp_path / "dlq"))
    by_reason = {
        r["_dlq_reason"]: r["n"]
        for r in dlq0.groupBy("_dlq_reason").agg(F.count("*").alias("n")).collect()
    }
    assert by_reason.get("bad_op", 0) > 0 and by_reason.get("malformed_json", 0) > 0
    rows_before = table.read(spark).count()

    stats = replay_dlq(
        spark, table, str(tmp_path / "dlq"), TRANSCRIPT_SCHEMA,
        pending_dir=str(tmp_path / "pend"), manifests=mf,
        op_aliases={"insert": "insert"},
    )
    assert stats["recovered"] == by_reason["bad_op"]
    assert stats["still_dead"] == by_reason["malformed_json"]
    assert table.read(spark).count() >= rows_before
    # quarantine rewritten: only the malformed remain
    assert read_dlq(spark, str(tmp_path / "dlq")).count() == stats["still_dead"]
    # idempotent: nothing left to recover
    stats2 = replay_dlq(
        spark, table, str(tmp_path / "dlq"), TRANSCRIPT_SCHEMA,
        pending_dir=str(tmp_path / "pend"), manifests=mf,
        op_aliases={"insert": "insert"},
    )
    assert stats2["recovered"] == 0
    assert stats2["still_dead"] == stats["still_dead"]


def test_envelope_stream_additive_schema_evolution(spark, tmp_path):
    """Mid-stream additive columns, the Debezium schema-registry flow:
    restart the stream with the widened payload schema. Old envelopes
    parse with the new column null; the merge evolves the table schema
    additively; pre-evolution rows read back as null."""
    import pyspark.sql.types as T2

    from oregonwaterdataportal_etl_spark.cdc import ManifestLog
    from oregonwaterdataportal_etl_spark.lake import LakeTable
    from oregonwaterdataportal_etl_spark.streaming import start_envelope_stream

    import json as _json

    def env(conv, turn, text, lsn, extra=None):
        after = {"conv_id": conv, "turn_idx": turn, "text": text}
        if extra is not None:
            after["tool_meta"] = extra
        return _json.dumps({"op": "c", "after": after, "source": {"lsn": lsn}})

    v1 = T2.StructType([
        T2.StructField("conv_id", T2.StringType()),
        T2.StructField("turn_idx", T2.IntegerType()),
        T2.StructField("text", T2.StringType()),
    ])
    v2 = T2.StructType(list(v1.fields) + [T2.StructField("tool_meta", T2.StringType())])

    wire_dir = tmp_path / "wire3"
    spark.createDataFrame(
        [(env("a", 0, "old", 1),)], "value string"
    ).coalesce(1).write.parquet(str(wire_dir / "f1"))
    table = LakeTable.create(
        str(tmp_path / "t3"), v1, key_cols=["conv_id", "turn_idx"], num_buckets=2
    )
    mf = ManifestLog(str(tmp_path / "mf3"))
    common = dict(dlq_dir=str(tmp_path / "dlq3"), pending_dir=str(tmp_path / "pend3"))
    q = start_envelope_stream(
        spark, str(wire_dir / "*"), table, str(tmp_path / "ckpt3"), mf, v1, **common
    )
    q.awaitTermination(120)
    assert table.read(spark).columns == ["conv_id", "turn_idx", "text"]

    # upstream adds tool_meta; restart with the widened schema
    spark.createDataFrame(
        [(env("a", 1, "new", 2, extra="m1"),)], "value string"
    ).coalesce(1).write.parquet(str(wire_dir / "f2"))
    q2 = start_envelope_stream(
        spark, str(wire_dir / "*"), table, str(tmp_path / "ckpt3"), mf, v2, **common
    )
    q2.awaitTermination(120)
    got = {
        (r["conv_id"], r["turn_idx"]): r["tool_meta"]
        for r in table.read(spark).collect()
    }
    assert got == {("a", 0): None, ("a", 1): "m1"}


def test_envelope_plan_shape(spark):
    """Plan pins for the decode path: parse + DLQ split are pure maps
    (ZERO Exchange — decode parallelism is free), and the transaction
    gate adds exactly ONE Exchange (the txn_id window shuffle)."""
    changes = generate_changes(spark, 200, 10, seed=5)
    raw = wrap_envelopes(changes)
    clean, dlq = split_dlq(parse_envelopes(raw, TRANSCRIPT_SCHEMA))
    for df in (clean, dlq):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
    ready, still = gate_transactions(clean)
    for df in (ready, still):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 1


def test_envelope_stream_partitioned_tree(spark, tmp_path):
    """The whole wire->lake pipeline onto a TIME-PARTITIONED table:
    ready rows route through the table's merge into several days; state
    equals the batch path on a twin table."""
    from oregonwaterdataportal_etl_spark.cdc import ManifestLog
    from oregonwaterdataportal_etl_spark.lake import LakeTable
    from oregonwaterdataportal_etl_spark.streaming import start_envelope_stream

    changes = generate_changes(spark, 600, 60, seed=41).withColumn(
        "ts", F.expr("timestampadd(DAY, int(crc32(conv_id) % 3), ts)")
    )
    raw = wrap_envelopes(changes)
    wire_dir = str(tmp_path / "wire")
    raw.coalesce(1).write.parquet(os.path.join(wire_dir, "f1"))

    tree = LakeTable.create(
        str(tmp_path / "t"), TRANSCRIPT_SCHEMA,
        key_cols=["conv_id", "turn_idx"], partition_col="ts", num_buckets=4,
    )
    q = start_envelope_stream(
        spark,
        os.path.join(wire_dir, "*"),
        tree,
        str(tmp_path / "ckpt"),
        ManifestLog(str(tmp_path / "mf")),
        TRANSCRIPT_SCHEMA,
        dlq_dir=str(tmp_path / "dlq"),
        pending_dir=str(tmp_path / "pend"),
    )
    q.awaitTermination(180)
    assert len(tree.partitions()) >= 2

    twin = LakeTable.create(
        str(tmp_path / "twin"), TRANSCRIPT_SCHEMA,
        key_cols=["conv_id", "turn_idx"], partition_col="ts", num_buckets=4,
    )
    ready, _dlq, _still = ingest_envelopes(
        spark.read.parquet(os.path.join(wire_dir, "*")), TRANSCRIPT_SCHEMA
    )
    twin.merge(ready)
    a = tree.read(spark).orderBy("conv_id", "turn_idx", "ts").collect()
    b = twin.read(spark).orderBy("conv_id", "turn_idx", "ts").collect()
    assert a == b and len(a) > 0


def test_envelope_ingest_job_rejects_malformed_arguments(monkeypatch):
    """jobs/envelope_ingest.py exits with the usage line, before any
    SparkSession starts, when it gets fewer than three positional
    arguments or an --op-alias value without a colon (neither may die
    in an unpacking ValueError)."""
    import importlib.util
    import sys

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "jobs", "envelope_ingest.py",
    )
    spec = importlib.util.spec_from_file_location("envelope_ingest", path)
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)
    monkeypatch.setattr(job, "SparkSession", None)  # building one raises
    for argv in (
        ["envelope_ingest.py", "w"],
        ["envelope_ingest.py", "w", "t", "s", "--op-alias=insert"],
    ):
        monkeypatch.setattr(sys, "argv", argv)
        with pytest.raises(SystemExit, match="usage: envelope_ingest.py"):
            job.main()
