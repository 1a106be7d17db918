"""spark-submit entry point: tail raw change envelopes into the lake.

Usage (north_rule packaging surface):

    python package.py   # builds dist/owdp_etl_spark.zip
    spark-submit --master <cluster> --py-files dist/owdp_etl_spark.zip \
        jobs/envelope_ingest.py <wire_glob> <table_dir> <state_dir> \
        [schema_json] [--continuous[=TRIGGER]] [--replay-dlq] \
        [--op-alias=wire:engine ...]

<wire_glob>: parquet files holding one envelope JSON string per row
in a ``value`` column (Kafka-value shape / binlog-connector dump).
<state_dir>: holds the checkpoint, manifest log, dead-letter
quarantine (``dlq/``) and pending-transaction store (``pending/``).
<schema_json>: payload StructType as Spark schema JSON; defaults to
the transcript schema. The table is created on first run.

Default trigger is AvailableNow (one catch-up pass, exit — the cron
shape); --continuous keeps the stream live with an optional
processing-time trigger (default "10 seconds"). Any other --flag,
fewer than three positional arguments or an --op-alias value without
a colon exits with the usage line before a SparkSession starts.

--replay-dlq runs the quarantine back through the current parser
FIRST (see streaming.replay_dlq) — pass --op-alias for contract
fixes like a producer emitting engine op spellings.

Prints one JSON line: applied table version, rows, DLQ count,
pending-transaction count (and replay stats when requested).
"""

import glob as _glob
import json
import os
import sys

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from oregonwaterdataportal_etl_spark.cdc import ManifestLog
from oregonwaterdataportal_etl_spark.cdc.changegen import TRANSCRIPT_SCHEMA
from oregonwaterdataportal_etl_spark.lake import LakeTable
from oregonwaterdataportal_etl_spark.streaming import (
    read_dlq,
    replay_dlq,
    start_envelope_stream,
)

USAGE = (
    "usage: envelope_ingest.py <wire_glob> <table_dir> <state_dir> "
    "[schema_json] [--continuous[=TRIGGER]] [--replay-dlq] "
    "[--op-alias=wire:engine ...]"
)


def main() -> None:
    continuous = None
    do_replay = False
    aliases: dict[str, str] = {}
    args = []
    for a in sys.argv[1:]:
        if a == "--continuous":
            continuous = "10 seconds"
        elif a.startswith("--continuous="):
            continuous = a.split("=", 1)[1]
        elif a == "--replay-dlq":
            do_replay = True
        elif a.startswith("--op-alias="):
            wire, colon, engine = a.split("=", 1)[1].partition(":")
            if not colon:
                raise SystemExit(f"--op-alias needs wire:engine, got {a}\n{USAGE}")
            aliases[wire] = engine
        elif a.startswith("--"):
            raise SystemExit(f"unknown flag {a}\n{USAGE}")
        else:
            args.append(a)
    if len(args) < 3:
        raise SystemExit(USAGE)
    wire_glob, table_dir, state_dir = args[0:3]
    schema = (
        T.StructType.fromJson(json.loads(args[3]))
        if len(args) > 3
        else TRANSCRIPT_SCHEMA
    )
    spark = SparkSession.builder.appName("owdp-envelope-ingest").getOrCreate()
    table = LakeTable(table_dir)
    if not table.exists():
        key_cols = ["conv_id", "turn_idx"]
        missing = [c for c in key_cols if c not in schema.fieldNames()]
        if missing:
            raise SystemExit(
                f"payload schema lacks key columns {missing}; create the "
                f"table first with LakeTable.create for custom keys"
            )
        table = LakeTable.create(table_dir, schema, key_cols=key_cols)
    manifests = ManifestLog(os.path.join(state_dir, "manifests"))
    dlq_dir = os.path.join(state_dir, "dlq")
    pending_dir = os.path.join(state_dir, "pending")
    out: dict = {}
    if do_replay:
        out["replay"] = replay_dlq(
            spark,
            table,
            dlq_dir,
            schema,
            pending_dir=pending_dir,
            manifests=manifests,
            op_aliases=aliases or None,
        )
    q = start_envelope_stream(
        spark,
        wire_glob,
        table,
        os.path.join(state_dir, "checkpoint"),
        manifests,
        schema,
        dlq_dir=dlq_dir,
        pending_dir=pending_dir,
        available_now=continuous is None,
        processing_time=continuous or "10 seconds",
        json_options=None,
    )
    if continuous is None:
        q.awaitTermination()
    else:
        q.awaitTermination()  # runs until externally stopped
        spark.stop()
        return
    dlq_n = (
        read_dlq(spark, dlq_dir).count()
        if _glob.glob(os.path.join(dlq_dir, "batch-*"))
        else 0
    )
    pend_n = 0
    states = sorted(_glob.glob(os.path.join(pending_dir, "state-*")))
    if states:
        pend_n = spark.read.parquet(states[-1]).count()
    out.update(
        {
            "version": table.current_version(),
            "rows": table.read(spark).count(),
            "dlq_rows": dlq_n,
            "pending_txn_rows": pend_n,
        }
    )
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
