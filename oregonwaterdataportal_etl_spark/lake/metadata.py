"""Queryable table-metadata frames (Iceberg metadata-tables analog).

``SELECT * FROM t.files / t.history / t.partitions`` recast as
``table.metadata_df(spark, kind)``: small driver-built DataFrames a
user joins/filters with ordinary Spark SQL to answer operational
questions ("which buckets carry delta debt", "when did row counts
jump", "how big is the tombstone tail") without touching data files.

Everything comes from snapshot manifests plus os.stat — zero
data-file I/O. Scale note: these frames are bounded by METADATA
cardinality (files, snapshots, buckets), which the maintenance
policy itself keeps bounded; at 100 TB they are thousands of rows,
not billions.
"""

from __future__ import annotations

import os
from collections import Counter

from pyspark.sql import DataFrame, SparkSession

from .table import _group_key, snapshot_files

_KIND = {"b": "base", "d": "delta", "t": "tombstone"}


def _stat(path: str) -> tuple[int | None, float | None]:
    try:
        st = os.stat(path)
        return st.st_size, st.st_mtime
    except OSError:
        return None, None


def build_metadata_df(spark: SparkSession, table, kind: str) -> DataFrame:
    """A partitioned table's "files" and "partitions" frames lead with
    a ``partition`` column; "partitions" then has one row per live
    (partition, bucket) group instead of one per bucket."""
    snap = table.snapshot()
    part = ["partition string"] if snap.get("partition_col") else []

    def lead(p):
        return (p,) if part else ()

    if kind == "files":
        rows = [
            (*lead(p), b, _KIND[side], f, *_stat(f))
            for side, p, b, f in snapshot_files(snap)
        ]
        return spark.createDataFrame(
            rows,
            ", ".join(part + ["bucket int, kind string, path string, "
                              "size_bytes long, modified_at double"]),
        )
    if kind == "history":
        rows = []
        for snap in table.history():
            s = snap.get("summary") or {}
            n = Counter(side for side, *_f in snapshot_files(snap))
            rows.append(
                (
                    snap["version"],
                    snap.get("parent"),
                    snap.get("committed_at"),
                    s.get("operation"),
                    s.get("rows_inserted"),
                    s.get("rows_updated"),
                    s.get("rows_deleted"),
                    snap.get("num_buckets"),
                    n["b"], n["d"], n["t"],
                )
            )
        return spark.createDataFrame(
            rows,
            "version int, parent int, committed_at double, operation string, "
            "rows_inserted long, rows_updated long, rows_deleted long, "
            "num_buckets int, base_files int, delta_files int, "
            "tombstone_files int",
        )
    if kind == "partitions":
        rc = snap.get("row_counts") or {}
        n = Counter((side, p, b) for side, p, b, _f in snapshot_files(snap))
        groups = (
            sorted({(p, b) for _s, p, b in n}) if part
            else [(None, b) for b in range(snap["num_buckets"])]
        )
        rows = [
            (*lead(p), b, rc.get(_group_key(p, b), 0),
             n["b", p, b], n["d", p, b], n["t", p, b])
            for p, b in groups
        ]
        return spark.createDataFrame(
            rows,
            ", ".join(part + ["bucket int, rows_base long, base_files int, "
                              "delta_files int, tombstone_files int"]),
        )
    raise ValueError(
        f"unknown metadata kind {kind!r}: expected files/history/partitions"
    )
