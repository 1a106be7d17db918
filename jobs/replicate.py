"""spark-submit entry point: incrementally replicate one lake table
into another via the changelog follower (table-to-table CDC, no
broker).

Usage (north_rule packaging surface):

    python package.py   # builds dist/owdp_etl_spark.zip
    spark-submit --master <cluster> --py-files dist/owdp_etl_spark.zip \
        jobs/replicate.py <source_table_dir> <replica_table_dir> \
        <follower_offsets_dir>

Each invocation delivers ONE net hop from the follower's recorded
version to the source's current version (AvailableNow semantics) —
run it on a schedule behind the ingest job, exactly like the
reference's dependent cron assets. Crash-safe: a death between the
replica merge and the offset commit redelivers the range next run,
and the replica's per-row LSN guard absorbs the replay. The replica
is created on first run with the source's schema, keys and partition
spec (its own bucket count — replication is logical).

Prints one JSON line of hop metrics to stdout.
"""

import json
import sys

from pyspark.sql import SparkSession

from oregonwaterdataportal_etl_spark.cdc import OffsetLog, replicate_available
from oregonwaterdataportal_etl_spark.lake import LakeTable


def main() -> None:
    source_dir, replica_dir, offsets_dir = sys.argv[1:4]
    num_buckets = int(sys.argv[4]) if len(sys.argv) > 4 else 16
    spark = SparkSession.builder.appName("owdp-replicate").getOrCreate()
    source = LakeTable(source_dir)
    replica = LakeTable(replica_dir)
    if not replica.exists():
        # the replica keeps the source's row identity: its keys and, for
        # a time-partitioned source, its partition spec
        snap = source.snapshot()
        replica = LakeTable.create(
            replica_dir,
            source.schema(),
            snap["key_cols"],
            num_buckets=num_buckets,
            partition_col=snap.get("partition_col"),
            transform=snap.get("transform") or "days",
        )
    hops = replicate_available(
        spark, source, replica, OffsetLog(offsets_dir, "follower")
    )
    print(
        json.dumps(
            {
                "hops": hops,
                "replica_rows": replica.read(spark).count(),
                "replica_version": replica.current_version(),
                "source_version": source.current_version(),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
