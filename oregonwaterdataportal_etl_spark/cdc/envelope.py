"""Debezium-style change-envelope front-end: parse -> quarantine -> gate.

The open binlog-connector wire convention — one JSON envelope per
change event with ``op`` (c=create, u=update, d=delete, r=snapshot
read), ``before``/``after`` row images, ``source.lsn``, and an
optional ``transaction`` block — decoded into the engine's flat
change schema with pure pyspark.sql built-ins: ONE ``from_json`` per
row batch, zero per-row Python (SURVEY.md 2.10 policy).

Three stages, each independently usable:

* :func:`parse_envelopes` — decode + validate. Instead of failing
  the window on a bad record, every input row is tagged with a
  machine-readable ``_dlq_reason`` (null = clean). The reference
  tolerates and logs per-record upstream failures rather than
  aborting the run (userCode/helper_classes.py:94-129,
  userCode/awqms/dag.py:155-187); the dead-letter frame is that
  discipline recast so quarantined rows stay queryable.
* :func:`split_dlq` — (clean changes, dead letters).
* :func:`gate_transactions` — transaction-boundary gating: hold
  back events of transactions that have not fully arrived, so a lake
  snapshot never exposes half a transaction. Incomplete tails carry
  across windows via the returned ``still_pending`` frame (persist
  it next to the offset log and union it into the next window).

:func:`wrap_envelopes` is the matching encoder (change rows ->
envelope JSON), used by tests/benches to synthesize wire traffic
deterministically — no external data.

At 100 TB: parsing is embarrassingly parallel (no shuffle, whole
-stage codegen — from_json/to_json are JVM expressions); the gate is
ONE hash shuffle on txn_id whose group size is bounded by the
transaction size (small, by construction of any OLTP upstream), so
it carries no skew risk; the DLQ split is a filter, not a shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

# wire op -> engine op (lake.table._op_code's accepted surface)
_WIRE_OPS = ("c", "u", "d", "r")

#: from_json/to_json options that make timestamps roundtrip at full
#: microsecond precision (Spark's default JSON timestampFormat keeps
#: only milliseconds, which would silently violate the per-turn
#: equality invariant on ``ts``).
JSON_OPTS = {"timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"}


#: field capturing the raw text of unparseable envelopes (PERMISSIVE
#: from_json fills every schema field with null on bad input rather
#: than nulling the struct — the corrupt-record column is the
#: documented way to distinguish "malformed" from "all fields absent")
CORRUPT_COL = "_corrupt_envelope"


def envelope_schema(payload_schema: T.StructType) -> T.StructType:
    """The envelope struct for a given payload row schema."""
    return T.StructType(
        [
            T.StructField(CORRUPT_COL, T.StringType(), True),
            T.StructField("op", T.StringType(), True),
            T.StructField("before", payload_schema, True),
            T.StructField("after", payload_schema, True),
            T.StructField(
                "source",
                T.StructType(
                    [
                        T.StructField("lsn", T.LongType(), True),
                        T.StructField("ts_ms", T.LongType(), True),
                        T.StructField("table", T.StringType(), True),
                    ]
                ),
                True,
            ),
            # Debezium puts (id, total_order, data_collection_order) on
            # each event and announces totals via END markers on a
            # separate metadata topic; a single-stream tailer has no
            # second topic, so the expected event_count rides on each
            # event instead (same information, self-contained stream).
            T.StructField(
                "transaction",
                T.StructType(
                    [
                        T.StructField("id", T.StringType(), True),
                        T.StructField("total_order", T.LongType(), True),
                        T.StructField("event_count", T.LongType(), True),
                    ]
                ),
                True,
            ),
        ]
    )


def parse_envelopes(
    raw: DataFrame,
    payload_schema: T.StructType,
    value_col: str = "value",
    json_options: dict | None = None,
    op_aliases: dict[str, str] | None = None,
) -> DataFrame:
    """Decode envelope JSON into flat change rows, tagging bad input.

    Output columns: the payload columns (from ``after`` for c/u/r,
    ``before`` for d), ``op`` (engine spelling insert/update/delete),
    ``lsn``, ``txn_id``/``txn_total_order``/``txn_event_count`` (null
    for non-transactional events), the raw ``value_col`` (kept for
    the DLQ), and ``_dlq_reason``:

    * ``malformed_json`` — not parseable as an envelope object
    * ``missing_lsn`` — no ``source.lsn`` (nothing to order by)
    * ``bad_op`` — ``op`` outside c/u/d/r
    * ``missing_image`` — no row image on the side the op requires

    Reason precedence is exactly that order; a row gets the FIRST
    failing check (deterministic, mirrored by oracle SQL).

    ``op_aliases`` maps additional accepted wire spellings to engine
    ops (e.g. ``{"insert": "insert"}`` for producers that emit engine
    spellings instead of c/u/d) — the tolerance knob a DLQ replay uses
    after an upstream contract fix. Aliased ops are image-lenient
    (either row image accepted), canonical c/u/d/r stay strict.
    """
    aliases = dict(op_aliases or {})
    bad = [v for v in aliases.values() if v not in ("insert", "update", "delete")]
    if bad:
        raise ValueError(f"op_aliases values must be engine ops, got {bad}")
    opts = dict(JSON_OPTS)
    opts.update(json_options or {})
    opts.setdefault("mode", "PERMISSIVE")
    opts.setdefault("columnNameOfCorruptRecord", CORRUPT_COL)
    env = F.from_json(F.col(value_col), envelope_schema(payload_schema), opts)
    aliased = F.lit(False)
    if aliases:
        aliased = env["op"].isin(*aliases.keys())
    # row image: deletes describe the row that vanished (before);
    # creates/updates/snapshot-reads describe the row that exists
    # (after); aliased ops take whichever image the producer sent
    op = F.when(env["op"] == "d", F.lit("delete")).when(
        env["op"] == "u", F.lit("update")
    )
    for wire, engine in aliases.items():
        op = op.when(env["op"] == wire, F.lit(engine))
    op = op.otherwise(F.lit("insert"))
    image = (
        F.when(env["op"] == "d", env["before"])
        .when(
            aliased,
            F.when(op == "delete", F.coalesce(env["before"], env["after"]))
            .otherwise(F.coalesce(env["after"], env["before"])),
        )
        .otherwise(env["after"])
    )
    reason = (
        F.when(env.isNull() | env[CORRUPT_COL].isNotNull(), F.lit("malformed_json"))
        .when(env["source"]["lsn"].isNull(), F.lit("missing_lsn"))
        .when(
            ~env["op"].isin(*_WIRE_OPS) & ~aliased,
            F.lit("bad_op"),
        )
        .when(image.isNull(), F.lit("missing_image"))
    )
    cols = [F.col(c) for c in raw.columns if c != value_col]
    cols += [image[f.name].alias(f.name) for f in payload_schema.fields]
    cols += [
        op.alias("op"),
        env["source"]["lsn"].alias("lsn"),
        env["transaction"]["id"].alias("txn_id"),
        env["transaction"]["total_order"].alias("txn_total_order"),
        env["transaction"]["event_count"].alias("txn_event_count"),
        F.col(value_col),
        reason.alias("_dlq_reason"),
    ]
    return raw.select(*cols)


def split_dlq(
    parsed: DataFrame, value_col: str = "value"
) -> tuple[DataFrame, DataFrame]:
    """(clean change rows, dead letters). Clean rows drop the raw
    value and the reason; dead letters keep the raw value + reason so
    the quarantine is replayable after an upstream fix."""
    clean = parsed.filter(F.col("_dlq_reason").isNull()).drop("_dlq_reason", value_col)
    dlq = parsed.filter(F.col("_dlq_reason").isNotNull()).select(
        value_col, "_dlq_reason"
    )
    return clean, dlq


def gate_transactions(
    changes: DataFrame,
    pending: DataFrame | None = None,
    txn_col: str = "txn_id",
    count_col: str = "txn_event_count",
) -> tuple[DataFrame, DataFrame]:
    """(ready, still_pending) under transaction-boundary gating.

    Non-transactional rows (``txn_col`` null) are always ready. A
    transaction is complete when the number of its rows seen so far
    (this window plus ``pending`` carried from earlier windows)
    reaches its announced ``count_col``. One window-function shuffle
    on ``txn_col`` — no join, and per-group state is one transaction
    (bounded by upstream transaction size, so skew-free at any corpus
    scale).

    The caller persists ``still_pending`` alongside the offset log
    and passes it back as ``pending`` next window; a crash between
    windows replays the same pending frame — gating is idempotent
    (pure function of the accumulated rows).
    """
    df = (
        changes
        if pending is None
        else changes.unionByName(pending, allowMissingColumns=True)
    )
    # Partitioning the window by txn_col alone would funnel EVERY
    # non-transactional row (txn_col null) into one partition — a
    # skew bomb when most traffic is non-transactional. Salt nulls
    # across 4096 deterministic groups instead (their readiness is
    # decided by the isNull() arm, so group membership is irrelevant);
    # real txn ids keep their own group. "\x00nt:" cannot collide
    # with JSON-sourced txn ids (JSON strings never carry NUL).
    grp = F.coalesce(
        F.col(txn_col),
        F.concat(
            F.lit("\x00nt:"),
            F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(4096)),
        ),
    )
    w = Window.partitionBy(grp)
    counted = df.withColumn(
        "__txn_ready",
        F.col(txn_col).isNull()
        | (F.count(F.lit(1)).over(w) >= F.max(count_col).over(w)),
    )
    ready = counted.filter(F.col("__txn_ready")).drop("__txn_ready")
    still = counted.filter(~F.col("__txn_ready")).drop("__txn_ready")
    return ready, still


def ingest_envelopes(
    raw: DataFrame,
    payload_schema: T.StructType,
    pending: DataFrame | None = None,
    value_col: str = "value",
    json_options: dict | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Full front-end: (ready changes, dead letters, still_pending).

    ``ready`` carries the payload columns + op/lsn (txn_* dropped) —
    directly consumable by LakeTable.merge;
    feed ``still_pending`` back in next window."""
    clean, dlq = split_dlq(
        parse_envelopes(raw, payload_schema, value_col, json_options), value_col
    )
    ready, still = gate_transactions(clean, pending)
    return (
        ready.drop("txn_id", "txn_total_order", "txn_event_count"),
        dlq,
        still,
    )


def wrap_envelopes(
    changes: DataFrame,
    lsn_col: str = "lsn",
    op_col: str = "op",
    txn_id_col: str | None = None,
    txn_total_order_col: str | None = None,
    txn_event_count_col: str | None = None,
    json_options: dict | None = None,
) -> DataFrame:
    """Encode flat change rows into envelope JSON (column ``value``).

    Inverse of :func:`parse_envelopes` for clean input: engine ops
    map to c/u/d, deletes carry a ``before`` image, everything else
    an ``after`` image. Pure to_json — the deterministic wire-traffic
    synthesizer for tests and benches."""
    opts = dict(JSON_OPTS)
    opts.update(json_options or {})
    meta = {lsn_col, op_col, txn_id_col, txn_total_order_col, txn_event_count_col}
    payload = [c for c in changes.columns if c not in meta]
    img = F.struct(*[F.col(c) for c in payload])
    wire_op = (
        F.when(F.col(op_col) == "delete", F.lit("d"))
        .when(F.col(op_col) == "update", F.lit("u"))
        .otherwise(F.lit("c"))
    )
    fields = [
        wire_op.alias("op"),
        F.when(F.col(op_col) == "delete", img).alias("before"),
        F.when(F.col(op_col) != "delete", img).alias("after"),
        F.struct(F.col(lsn_col).cast("long").alias("lsn")).alias("source"),
    ]
    if txn_id_col is not None:
        fields.append(
            F.struct(
                F.col(txn_id_col).cast("string").alias("id"),
                (
                    F.col(txn_total_order_col).cast("long")
                    if txn_total_order_col
                    else F.lit(None).cast("long")
                ).alias("total_order"),
                (
                    F.col(txn_event_count_col).cast("long")
                    if txn_event_count_col
                    else F.lit(None).cast("long")
                ).alias("event_count"),
            ).alias("transaction")
        )
    return changes.select(F.to_json(F.struct(*fields), opts).alias("value"))
