"""spark-submit entry point: apply a change-event stream to a lake table.

Usage (north_rule packaging surface):

    python package.py   # builds dist/owdp_etl_spark.zip
    spark-submit --master <cluster> --py-files dist/owdp_etl_spark.zip \
        jobs/apply_changes.py <stream_parquet_dir> <table_dir> \
        <offsets_dir> <manifests_dir> [window_size] [--bucketed-wal]

--bucketed-wal declares the stream a bucketed-layout change log
(written with lake.bucketed.write_bucketed_wal using THIS table's keys
and bucket count): windows then apply through the ZERO-exchange
merge_prebucketed path, which does not shuffle the batch either.

The package arrives on executors via --py-files; this script imports it
exactly as a cluster job would (no sys.path surgery). Prints one JSON
line of per-run metrics (rows, windows, final offset) to stdout.
"""

import json
import sys

from pyspark.sql import SparkSession

from oregonwaterdataportal_etl_spark.cdc import (
    BucketedWalSource,
    CdcRunner,
    LsnRangedParquetSource,
    ManifestLog,
    OffsetLog,
)
from oregonwaterdataportal_etl_spark.cdc.changegen import TRANSCRIPT_SCHEMA
from oregonwaterdataportal_etl_spark.lake import LakeTable


def main() -> None:
    args = [a for a in sys.argv[1:] if a != "--bucketed-wal"]
    bucketed = "--bucketed-wal" in sys.argv[1:]
    stream_dir, table_dir, offsets_dir, manifests_dir = args[:4]
    window = int(args[4]) if len(args) > 4 else 1_000_000
    spark = SparkSession.builder.appName("owdp-apply-changes").getOrCreate()
    table = LakeTable(table_dir)
    if not table.exists():
        table = LakeTable.create(
            table_dir, TRANSCRIPT_SCHEMA, ["conv_id", "turn_idx"], num_buckets=16
        )
    src_cls = BucketedWalSource if bucketed else LsnRangedParquetSource
    runner = CdcRunner(
        table,
        OffsetLog(offsets_dir),
        ManifestLog(manifests_dir),
        # footer-stat file pruning: each window plans only its own
        # files, and the resume loop's high-water mark is metadata-only
        source=src_cls(spark, stream_dir),
    )
    results = runner.run_available(window_size=window)
    print(
        json.dumps(
            {
                "windows_applied": len(results),
                "final_offset": OffsetLog(offsets_dir).last_lsn(),
                "rows_final": table.read(spark).count(),
                "version": table.current_version(),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
