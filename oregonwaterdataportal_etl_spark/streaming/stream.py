"""Structured Streaming surface of the CDC engine.

The reference's cron micro-batches (T1, userCode/wrd/dag.py:375-394)
map to Trigger.AvailableNow / processingTime over a file-source change
stream; the offset log maps to the checkpointLocation; the MERGE runs
in foreachBatch (the standard lakehouse CDC pattern — streaming MERGE
needs foreachBatch because MERGE is a batch op in every engine).

Exactly-once: Spark's checkpoint gives at-least-once foreachBatch
invocations; idempotence comes from our ManifestLog (batch-id no-op
replay) + the LakeTable per-row LSN guard — the same two layers the
batch runner uses, so crash/replay semantics are identical. Every
stream applies a micro-batch the same way: ``table.merge`` behind that
manifest gate (``_gated_merge``).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cdc.manifests import ManifestLog, batch_id_for_window
from ..lake.table import DATA_FILE_CODEC, LakeTable


def _gated_merge(
    table: LakeTable,
    df: DataFrame,
    manifests: ManifestLog | None,
    tag: str,
    mode: str = "cow",
) -> int:
    """The manifest-gated apply every stream and the DLQ replay run:
    one bounds job over ``df`` (LSN window and row count), the window's
    batch id under ``tag``, a no-op if the manifest log holds that id
    committed, else begin -> ``table.merge`` -> commit. Without
    ``manifests`` the merge runs ungated and the per-row LSN guard is
    the only replay layer. Returns the row count (0: nothing to apply).

    ``tag`` is part of the batch id, so it must never change for a
    stream: existing manifest logs match replayed windows by it."""
    bounds = df.agg(
        F.min("lsn").alias("lo"), F.max("lsn").alias("hi"), F.count("*").alias("n")
    ).collect()[0]
    if bounds["lo"] is None:
        return 0  # empty: the bounds job already says so
    if manifests is None:
        table.merge(df, mode=mode)
        return bounds["n"]
    bid = batch_id_for_window(tag, bounds["lo"], bounds["hi"])
    if not manifests.is_committed(bid):
        manifests.begin(bid, bounds["lo"], bounds["hi"])
        manifests.commit(bid, table.merge(df, mode=mode).as_dict())
    return bounds["n"]


def _overwrite(df: DataFrame, path: str) -> None:
    """Write a side store (DLQ batch, pending-transaction state) over
    ``path`` in the engine's data-file codec."""
    df.write.mode("overwrite").option("compression", DATA_FILE_CODEC).parquet(path)


def _start(src: DataFrame, apply_batch, checkpoint_dir: str,
           available_now: bool, processing_time: str):
    """Run ``apply_batch`` per micro-batch of ``src`` under
    ``checkpoint_dir``: one AvailableNow catch-up pass, or a live
    processing-time trigger. Returns the StreamingQuery."""
    writer = src.writeStream.foreachBatch(apply_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def start_cdc_stream(
    spark: SparkSession,
    stream_dir: str,
    table: LakeTable,
    checkpoint_dir: str,
    manifests: ManifestLog,
    schema=None,
    available_now: bool = True,
    processing_time: str = "10 seconds",
):
    """Tail a parquet change-stream directory into the lake table
    (a LakeTable, flat or partitioned).

    Each micro-batch: LSN-window id -> manifest no-op check -> MERGE ->
    manifest commit. Returns the StreamingQuery.

    Migration from the removed bucketed-WAL stream route: its manifest
    ids carry the ``stream-zx`` tag. A window its checkpoint replays here finds no ``stream`` id
    committed and merges once more; the per-row LSN guard makes that
    merge a no-op on table state. Leftover ``wal/batch-*`` dirs of such
    runs are plain disk and can be removed.
    """
    if schema is None:
        schema = spark.read.parquet(stream_dir).schema

    src = spark.readStream.schema(schema).parquet(stream_dir)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        _gated_merge(table, batch_df, manifests, "stream")

    return _start(src, apply_batch, checkpoint_dir, available_now, processing_time)


def start_envelope_stream(
    spark: SparkSession,
    stream_dir: str,
    table: LakeTable,
    checkpoint_dir: str,
    manifests: ManifestLog,
    payload_schema,
    dlq_dir: str,
    pending_dir: str,
    available_now: bool = True,
    processing_time: str = "10 seconds",
    json_options: dict | None = None,
    max_files_per_trigger: int | None = None,
    mode: str = "cow",
):
    """Tail a directory of raw change ENVELOPES (parquet files with a
    ``value`` string column — the shape a Kafka value column or a
    binlog-connector file dump lands in) through the full front-end:
    parse -> dead-letter quarantine -> transaction gate -> LWW merge.

    Crash/replay discipline (Spark's file-source checkpoint replays a
    micro-batch with the SAME input files, so every derived frame is
    deterministic per batch id):

    * DLQ rows land in ``dlq_dir/batch-<id>`` with overwrite — a
      replayed batch rewrites its own quarantine instead of
      duplicating it. Read the whole quarantine with
      :func:`read_dlq`.
    * The pending-transaction tail is a VERSIONED store:
      ``pending_dir/state-<id>`` holds the tail after batch ``id``,
      computed from the previous state + this batch's clean rows.
      Overwrite-idempotent on replay; states older than the previous
      one are swept after commit. A transaction split across
      micro-batches is held until its last event arrives, then
      released whole into the merge.
    * The merge itself is manifest-gated exactly like the other
      streams: side stores are (re)written FIRST (idempotent
      overwrites), then the manifest no-op check decides whether the
      merge runs — a crash anywhere replays into the same state.

    At 100 TB: parse/quarantine are shuffle-free; the gate is one
    window shuffle on txn_id (bounded groups); the merge is the
    engine's normal one-exchange apply. The DLQ and pending stores
    write O(bad + in-flight) rows, not O(batch).
    """
    from ..cdc.envelope import gate_transactions, parse_envelopes, split_dlq

    src_reader = spark.readStream.schema("value string")
    if max_files_per_trigger is not None:
        src_reader = src_reader.option(
            "maxFilesPerTrigger", str(max_files_per_trigger)
        )
    src = src_reader.parquet(stream_dir)

    def _latest_state(before_id: int) -> str | None:
        try:
            entries = os.listdir(pending_dir)
        except FileNotFoundError:
            return None
        best = None
        for e in entries:
            if e.startswith("state-"):
                mid = e[len("state-"):]
                if mid.isdigit() and int(mid) < before_id:
                    best = max(best, int(mid)) if best is not None else int(mid)
        return None if best is None else os.path.join(pending_dir, f"state-{best}")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        parsed = parse_envelopes(batch_df, payload_schema, json_options=json_options)
        clean, dlq = split_dlq(parsed)
        prev = _latest_state(batch_id)
        pending = sess.read.parquet(prev) if prev else None
        ready, still = gate_transactions(clean, pending)
        ready = ready.drop("txn_id", "txn_total_order", "txn_event_count")
        # side stores first, overwrite-idempotent under replay
        _overwrite(dlq, os.path.join(dlq_dir, f"batch-{batch_id}"))
        _overwrite(still, os.path.join(pending_dir, f"state-{batch_id}"))
        # manifest-gated merge last
        _gated_merge(table, ready, manifests, "stream-env", mode)
        # sweep states older than the predecessor (kept for replay)
        try:
            for e in os.listdir(pending_dir):
                if e.startswith("state-"):
                    mid = e[len("state-"):]
                    if mid.isdigit() and int(mid) < batch_id - 1:
                        shutil.rmtree(
                            os.path.join(pending_dir, e), ignore_errors=True
                        )
        except FileNotFoundError:
            pass

    return _start(src, apply_batch, checkpoint_dir, available_now, processing_time)


def read_dlq(spark: SparkSession, dlq_dir: str) -> DataFrame:
    """The accumulated dead-letter quarantine (raw value + reason)
    across all processed micro-batches."""
    return spark.read.option("basePath", dlq_dir).parquet(
        os.path.join(dlq_dir, "batch-*")
    )


def replay_dlq(
    spark: SparkSession,
    table: LakeTable,
    dlq_dir: str,
    payload_schema,
    pending_dir: str | None = None,
    manifests: ManifestLog | None = None,
    json_options: dict | None = None,
    op_aliases: dict[str, str] | None = None,
    mode: str = "cow",
) -> dict:
    """Re-ingest the quarantine after a contract fix.

    Runs the stored raw values back through the CURRENT parser (often
    with ``op_aliases`` or new ``json_options`` that encode the fix):
    rows that now parse clean flow through the transaction gate into a
    manifest-gated merge; rows that are still dead REPLACE the
    quarantine (one consolidated ``batch-replay-*`` dir swaps in for
    all prior dirs), so replaying twice is a no-op.

    Pending-tail interaction: when ``pending_dir`` holds stream state,
    the gate runs against the carried tail and the LATEST state is
    amended in place (the stream's next micro-batch reads it by id,
    so a new id would be invisible to it). Without stream state,
    recovered rows of still-incomplete transactions go BACK to the
    quarantine as ``txn_incomplete`` rather than being silently
    dropped. Run from the maintenance process while the envelope
    stream is stopped — this reads and rewrites the stream's side
    stores.

    Returns ``{"quarantined", "recovered", "still_dead", "held"}``
    row counts (``still_dead`` includes ``txn_incomplete`` rows).
    """
    import uuid

    from ..cdc.envelope import gate_transactions, parse_envelopes

    try:
        old_dirs = [
            e for e in os.listdir(dlq_dir) if e.startswith("batch-")
        ]
    except FileNotFoundError:
        old_dirs = []
    if not old_dirs:
        return {"quarantined": 0, "recovered": 0, "still_dead": 0, "held": 0}
    raw = read_dlq(spark, dlq_dir).select("value")
    n0 = raw.count()
    parsed = parse_envelopes(
        raw, payload_schema, json_options=json_options, op_aliases=op_aliases
    )
    clean = parsed.filter(F.col("_dlq_reason").isNull())  # keeps value col
    dead = parsed.filter(F.col("_dlq_reason").isNotNull()).select(
        "value", "_dlq_reason"
    )
    state_ids: list[int] = []
    if pending_dir:
        try:
            state_ids = sorted(
                int(e[len("state-"):])
                for e in os.listdir(pending_dir)
                if e.startswith("state-") and e[len("state-"):].isdigit()
            )
        except FileNotFoundError:
            state_ids = []
    pending = (
        spark.read.parquet(os.path.join(pending_dir, f"state-{state_ids[-1]}"))
        if state_ids
        else None
    )
    ready, still = gate_transactions(clean, pending)
    ready = ready.drop(
        "txn_id", "txn_total_order", "txn_event_count", "value", "_dlq_reason"
    )
    recovered = _gated_merge(table, ready, manifests, "dlq-replay", mode)
    held = 0
    if state_ids:
        # amend the latest state IN PLACE: the pending rows from the
        # stream lack value/_dlq_reason, so strip them for a stable
        # state schema. tmp-write + swap; stream must be stopped.
        new_still = still.drop("value", "_dlq_reason")
        last_dir = os.path.join(pending_dir, f"state-{state_ids[-1]}")
        tmp_dir = last_dir + f".replay-{uuid.uuid4().hex}"
        _overwrite(new_still, tmp_dir)
        held = spark.read.parquet(tmp_dir).count()
        shutil.rmtree(last_dir, ignore_errors=True)
        os.rename(tmp_dir, last_dir)
    else:
        # no stream state to hold them in: incomplete-txn rows return
        # to the quarantine, visibly, instead of vanishing
        dead = dead.unionByName(
            still.select("value", F.lit("txn_incomplete").alias("_dlq_reason"))
        )
    # consolidate the quarantine BEFORE deleting sources (the write is
    # an action; after it the old dirs are no longer inputs)
    new_dir = os.path.join(dlq_dir, f"batch-replay-{uuid.uuid4().hex}")
    _overwrite(dead, new_dir)
    still_dead = spark.read.parquet(new_dir).count()
    for e in old_dirs:
        if os.path.join(dlq_dir, e) != new_dir:
            shutil.rmtree(os.path.join(dlq_dir, e), ignore_errors=True)
    return {
        "quarantined": n0,
        "recovered": recovered,
        "still_dead": still_dead,
        "held": held,
    }

