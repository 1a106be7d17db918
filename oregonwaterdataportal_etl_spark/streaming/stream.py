"""Structured Streaming surface of the CDC engine.

The reference's cron micro-batches (T1, userCode/wrd/dag.py:375-394)
map to Trigger.AvailableNow / processingTime over a file-source change
stream; the offset log maps to the checkpointLocation; the MERGE runs
in foreachBatch (the standard lakehouse CDC pattern — streaming MERGE
needs foreachBatch because MERGE is a batch op in every engine).

Exactly-once: Spark's checkpoint gives at-least-once foreachBatch
invocations; idempotence comes from our ManifestLog (batch-id no-op
replay) + the LakeTable per-row LSN guard — the same two layers the
batch runner uses, so crash/replay semantics are identical.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cdc.manifests import ManifestLog
from ..lake.table import LakeTable


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
    """Tail a parquet change-stream directory into the lake table.

    Each micro-batch: LSN-window id -> manifest no-op check -> MERGE ->
    manifest commit. Returns the StreamingQuery.
    """
    from ..cdc.manifests import batch_id_for_window

    if schema is None:
        schema = spark.read.parquet(stream_dir).schema

    src = spark.readStream.schema(schema).parquet(stream_dir)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        bounds = batch_df.agg(
            F.min("lsn").alias("lo"), F.max("lsn").alias("hi")
        ).collect()[0]
        if bounds["lo"] is None:
            return  # empty micro-batch: the bounds job already says so
        bid = batch_id_for_window("stream", bounds["lo"], bounds["hi"])
        if manifests.is_committed(bid):
            return
        manifests.begin(bid, bounds["lo"], bounds["hi"])
        result = table.merge(batch_df)
        manifests.commit(bid, result.as_dict())

    writer = src.writeStream.foreachBatch(apply_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def _sweep_wal_orphans(wal_dir: str) -> None:
    """Start-of-stream sweep of the WAL route: no batch is in flight
    yet, so every surviving batch-* subdir is a crash orphan (its
    window either committed — data already in the table — or will be
    rewritten fresh by checkpoint replay)."""
    if os.path.isdir(wal_dir):
        for entry in os.listdir(wal_dir):
            if entry.startswith("batch-"):
                shutil.rmtree(os.path.join(wal_dir, entry), ignore_errors=True)


def _merge_via_wal(table, batch_df: DataFrame, wal_dir: str, plan_log: list | None):
    """The WAL route for one micro-batch: write it under ``wal_dir`` as
    a bucketed WAL in the table's layout (day-partitioned for a
    PartitionedLakeTable), apply it with merge_prebucketed, and delete
    the batch's subdir. Once the merge has committed the subdir is only
    disk: a replay writes a fresh one, and a crash before the delete
    leaves an orphan for _sweep_wal_orphans."""
    from ..lake.bucketed import write_bucketed_wal
    from ..lake.partitioned import write_partitioned_wal

    if hasattr(table, "partition_table"):
        batch_dir = write_partitioned_wal(batch_df, wal_dir, table)
    else:
        snap = table.snapshot()
        batch_dir = write_bucketed_wal(
            batch_df, wal_dir, snap["num_buckets"], snap["key_cols"]
        )
    result = table.merge_prebucketed(
        batch_df.sparkSession, batch_dir, _plan_out=plan_log
    )
    shutil.rmtree(batch_dir, ignore_errors=True)
    return result


def start_cdc_stream_zx(
    spark: SparkSession,
    stream_dir: str,
    table: LakeTable,
    checkpoint_dir: str,
    manifests: ManifestLog,
    wal_dir: str,
    schema=None,
    available_now: bool = True,
    processing_time: str = "10 seconds",
    plan_log: list | None = None,
    max_files_per_trigger: int | None = None,
):
    """Streaming apply through a bucketed WAL and the zero-exchange
    resolve — the production steady-state loop.

    Per micro-batch: the batch is written as a Spark-native bucketed
    WAL under ``wal_dir`` (lake.bucketed.write_bucketed_wal, which
    repartitions the batch into the table's own layout: the route's
    one shuffle) and then applied with ``LakeTable.merge_prebucketed``,
    whose resolve plan has ZERO Exchange: the batch LWW dedup window
    and the full-outer join against base + tombstones all read their
    required distribution straight from storage. ``start_cdc_stream``
    (ordinary merge) also shuffles the batch once and joins the base in
    place; the WAL route moves that one shuffle into the WAL write, it
    does not remove it.

    Exactly-once is the same two-layer story as the batch runner:
    Spark's checkpoint replays foreachBatch at-least-once; the
    ManifestLog turns an already-committed LSN window into a no-op, and
    a crash BETWEEN merge-commit and manifest-commit replays a merge
    that the per-row LSN guard resolves to zero row changes. Each
    batch's WAL subdir is deleted after its merge commits; leftovers
    from a crash are swept on the next stream start (never mid-stream —
    a replayed batch rewrites its own fresh subdir, so stale dirs are
    only disk, not state).

    plan_log: optional list; each applied batch appends its executed
    resolve plan string (test hook for the zero-Exchange pin).

    ``table`` may also be a PartitionedLakeTable: each micro-batch is
    then written as a DAY-PARTITIONED bucketed WAL
    (lake.partitioned.write_partitioned_wal) and applied through the
    tree's merge_prebucketed — per-day plans stay Exchange-free and
    the same manifest/LSN-guard exactly-once story holds.
    """
    from ..cdc.manifests import batch_id_for_window

    _sweep_wal_orphans(wal_dir)

    if schema is None:
        schema = spark.read.parquet(stream_dir).schema

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    src = reader.parquet(stream_dir)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        bounds = batch_df.agg(
            F.min("lsn").alias("lo"), F.max("lsn").alias("hi")
        ).collect()[0]
        if bounds["lo"] is None:
            return  # empty micro-batch: the bounds job already says so
        bid = batch_id_for_window("stream-zx", bounds["lo"], bounds["hi"])
        if manifests.is_committed(bid):
            return
        manifests.begin(bid, bounds["lo"], bounds["hi"])
        result = _merge_via_wal(table, batch_df, wal_dir, plan_log)
        manifests.commit(bid, result.as_dict())

    writer = src.writeStream.foreachBatch(apply_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


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
    zero_exchange: bool = False,
    wal_dir: str | None = None,
    plan_log: list | None = None,
):
    """Tail a directory of raw change ENVELOPES (parquet files with a
    ``value`` string column — the shape a Kafka value column or a
    binlog-connector file dump lands in) through the full front-end:
    parse -> dead-letter quarantine -> transaction gate -> LWW merge.

    ``zero_exchange=True`` routes each micro-batch's ready rows
    through the bucketed-WAL + ``merge_prebucketed`` path (see
    ``start_cdc_stream_zx``): the gate's window shuffle and the WAL
    write's repartition into the table's layout are then the only
    exchanges, and the resolve itself runs with zero Exchange. Requires ``wal_dir``; ``plan_log`` captures each
    batch's executed resolve plan (test hook).

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
    from ..cdc.manifests import batch_id_for_window

    if zero_exchange:
        if wal_dir is None:
            raise ValueError("zero_exchange=True needs wal_dir")
        if mode != "cow":
            raise ValueError("zero_exchange applies to mode='cow'")
        _sweep_wal_orphans(wal_dir)

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
        dlq.write.mode("overwrite").parquet(
            os.path.join(dlq_dir, f"batch-{batch_id}")
        )
        state_dir = os.path.join(pending_dir, f"state-{batch_id}")
        still.write.mode("overwrite").parquet(state_dir)
        # manifest-gated merge last
        bounds = ready.agg(
            F.min("lsn").alias("lo"), F.max("lsn").alias("hi")
        ).collect()[0]
        if bounds["lo"] is not None:
            bid = batch_id_for_window("stream-env", bounds["lo"], bounds["hi"])
            if not manifests.is_committed(bid):
                manifests.begin(bid, bounds["lo"], bounds["hi"])
                if zero_exchange:
                    result = _merge_via_wal(table, ready, wal_dir, plan_log)
                else:
                    result = table.merge(ready, mode=mode)
                manifests.commit(bid, result.as_dict())
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

    writer = src.writeStream.foreachBatch(apply_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


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
    from ..cdc.manifests import batch_id_for_window

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
    recovered = 0
    bounds = ready.agg(
        F.min("lsn").alias("lo"), F.max("lsn").alias("hi"), F.count("*").alias("n")
    ).collect()[0]
    if bounds["n"]:
        recovered = bounds["n"]
        bid = batch_id_for_window("dlq-replay", bounds["lo"], bounds["hi"])
        if manifests is None:
            table.merge(ready, mode=mode)
        elif not manifests.is_committed(bid):
            manifests.begin(bid, bounds["lo"], bounds["hi"])
            result = table.merge(ready, mode=mode)
            manifests.commit(bid, result.as_dict())
    held = 0
    if state_ids:
        # amend the latest state IN PLACE: the pending rows from the
        # stream lack value/_dlq_reason, so strip them for a stable
        # state schema. tmp-write + swap; stream must be stopped.
        new_still = still.drop("value", "_dlq_reason")
        last_dir = os.path.join(pending_dir, f"state-{state_ids[-1]}")
        tmp_dir = last_dir + f".replay-{uuid.uuid4().hex}"
        new_still.write.mode("overwrite").parquet(tmp_dir)
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
    dead.write.mode("overwrite").parquet(new_dir)
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

