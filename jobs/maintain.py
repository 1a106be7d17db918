"""spark-submit entry point: lake-table maintenance in one pass.

Usage:

    spark-submit --master <cluster> --py-files dist/owdp_etl_spark.zip \
        jobs/maintain.py <table_dir> [offsets_dir] [keep_snapshots] \
        [--rebucket=N]

Runs the full maintenance cycle a long-lived CDC table needs (the same
operations CdcRunner(compact_every=N) performs inline, packaged for a
separate scheduled job — the reason LakeTable commits are optimistic
and the runner retries through CommitConflictError):

  1. compact()           — fold MOR deltas into the base, bin-pack
                           small files per bucket;
  2. expire_tombstones() — drop delete-tombstones at or below the
                           committed offset watermark (only when the
                           offsets_dir of the feeding runner is given —
                           the horizon is clamped inside the method);
  3. vacuum()            — expire old snapshots, GC unreferenced data
                           files (age-graced) and writer debris.

--rebucket=N additionally evolves the bucket count before compaction
(LakeTable.rebucket: full-layout rewrite; schedule it like any other
table-rewrite maintenance). No-op when the table already has N.

--auto switches to POLICY-DRIVEN maintenance (lake/maintenance.py):
decisions come from snapshot metadata alone, so a healthy table costs
nothing; thresholds tune via --max-files=N --max-deltas=N
--max-rows-per-bucket=N. The report of actions taken rides in the
output JSON under "policy_actions". Loop the job until that report
comes back empty — each action clears its own trigger.

On a time-partitioned table --keep-partitions=N adds data-relative
retention (newest N partition values stay, the rest drop
metadata-only) to the --auto policy.

Prints one JSON line of before/after metrics to stdout.
"""

import json
import sys

from pyspark.sql import SparkSession

from oregonwaterdataportal_etl_spark.cdc import OffsetLog
from oregonwaterdataportal_etl_spark.lake import (
    LakeTable,
    MaintenancePolicy,
    maintain,
)
from oregonwaterdataportal_etl_spark.lake.table import retry_on_conflict as _retry


def main() -> None:
    rebucket_to = None
    auto = False
    knobs: dict[str, int] = {}
    args = []
    for a in sys.argv[1:]:
        if a.startswith("--rebucket="):
            rebucket_to = int(a.split("=", 1)[1])
        elif a == "--auto":
            auto = True
        elif a.startswith("--max-files="):
            knobs["max_files_per_bucket"] = int(a.split("=", 1)[1])
        elif a.startswith("--max-deltas="):
            knobs["max_delta_files_per_bucket"] = int(a.split("=", 1)[1])
        elif a.startswith("--max-rows-per-bucket="):
            knobs["max_rows_per_bucket"] = int(a.split("=", 1)[1])
        elif a.startswith("--keep-partitions="):
            knobs["keep_partitions"] = int(a.split("=", 1)[1])
        else:
            args.append(a)
    table_dir = args[0]
    offsets_dir = args[1] if len(args) > 1 else None
    keep_last = int(args[2]) if len(args) > 2 else 3
    spark = SparkSession.builder.appName("owdp-maintain").getOrCreate()
    table = LakeTable(table_dir)
    if auto:
        before = table.stats()
        policy = MaintenancePolicy(
            expire_tombstones_with_offsets=(
                OffsetLog(offsets_dir) if offsets_dir else None
            ),
            keep_snapshots=keep_last,
            **knobs,
        )
        report = _retry(lambda: maintain(spark, table, policy))
        after = table.stats()
        print(
            json.dumps(
                {
                    "policy_actions": report,
                    "base_files_before": before["base_files"],
                    "base_files_after": after["base_files"],
                    "delta_files_before": before["delta_files"],
                    "delta_files_after": after["delta_files"],
                    "rows_base": after["rows_base"],
                    "num_buckets": after["num_buckets"],
                }
            )
        )
        spark.stop()
        return
    before = table.stats()
    if rebucket_to is not None:
        _retry(lambda: table.rebucket(spark, rebucket_to))
    version = _retry(lambda: table.compact(spark))
    expired = 0
    if offsets_dir:
        expired = _retry(
            lambda: table.expire_tombstones(spark, offsets=OffsetLog(offsets_dir))
        )
    removed = table.vacuum(keep_last=keep_last)
    after = table.stats()
    print(
        json.dumps(
            {
                "version": version,
                "base_files_before": before["base_files"],
                "base_files_after": after["base_files"],
                "delta_files_before": before["delta_files"],
                "delta_files_after": after["delta_files"],
                "tombstones_expired": expired,
                "files_vacuumed": removed,
                "rows_base": after["rows_base"],
                "num_buckets": after["num_buckets"],
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
