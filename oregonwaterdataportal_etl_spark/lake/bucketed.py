"""Spark-native bucketed layouts: the zero-exchange merge substrate.

The engine's own files are already written one-bucket-per-file with
``pmod(hash(key_cols), n)`` — bit-identical to Spark's
HashPartitioning — but a plain ``spark.read.parquet`` cannot REPORT
that partitioning, so every resolve re-shuffles anyway (DESIGN.md §9's
top remaining lever; the reference analog is its shuffle-free
per-station partition crawl, userCode/wrd/dag.py:68,386-394).

PySpark cannot implement DataSourceV2's SupportsReportPartitioning, but
Spark's CATALOG bucketed tables report exactly the partitioning we
need: a ``CREATE TABLE ... USING PARQUET CLUSTERED BY (keys) INTO n
BUCKETS LOCATION dir`` scan reports HashPartitioning(keys, n), derives
each file's bucket id from the ``_<bucketid>`` file-name suffix, and
uses the SAME Murmur3 bucket function as the engine's layout. So:

- ``write_bucketed_wal`` writes a change-log batch through Spark's own
  bucketBy writer (one file per bucket, proper suffixes) — the
  "pre-bucketed WAL tailer" of a production deployment;
- ``register_bucketed_table`` registers any directory of
  bucket-suffix-named parquet files as an external bucketed table
  (session-scoped catalog entry; DROP leaves the files);
- ``link_files_bucketed`` hardlinks the engine's per-bucket snapshot
  files into a flat directory with synthetic bucket-suffix names, so a
  LakeTable snapshot becomes registrable without copying a byte.

On top of these, ``LakeTable.merge_prebucketed`` runs the full CDC
resolve — batch LWW dedup window + full-outer join against base and
tombstones — with ZERO exchanges (pinned by tests/test_plans.py).
"""

from __future__ import annotations

import os
import re
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .table import DATA_FILE_CODEC

# Spark's BucketingUtils file-name convention: ..._<bucketid>[.suffixes]
_BUCKET_RE = re.compile(r".*_(\d+)(?:\..*)?$")


def bucket_id_of(filename: str) -> int | None:
    m = _BUCKET_RE.match(os.path.basename(filename))
    return int(m.group(1)) if m else None


def write_bucketed_wal(
    df: DataFrame, path: str, num_buckets: int, key_cols: list[str]
) -> str:
    """Append a change batch to ``path`` in Spark's native bucketed
    layout (bucket function = the engine's own layout function). The
    repartition aligns tasks with buckets so each append lands ONE file
    per touched bucket instead of tasks x buckets fragments. This is
    the WAL producer's (one-time, off-merge-path) shuffle; the payoff
    is every downstream merge reading it exchange-free.

    Each append lands in its OWN ``batch-<hex>/`` subdirectory:
    saveAsTable under a fresh table name treats a shared location as
    CTAS and CLOBBERS earlier files (observed on Spark 4.1), and a
    stable catalog name would not survive other sessions appending.
    Readers (BucketedWalSource, merge_prebucketed, wal_touched_buckets)
    scan the WAL recursively and re-link files flat before registering,
    so the nesting is invisible to them. Returns the batch subdir."""
    spark = df.sparkSession
    name = f"wal_write_{uuid.uuid4().hex[:8]}"
    batch_dir = os.path.join(os.path.abspath(path), f"batch-{uuid.uuid4().hex[:12]}")
    (
        df.repartition(num_buckets, *[F.col(c) for c in key_cols])
        .write.bucketBy(num_buckets, *key_cols)
        .option("compression", DATA_FILE_CODEC)
        .option("path", batch_dir)
        .saveAsTable(name)
    )
    spark.sql(f"DROP TABLE IF EXISTS `{name}`")
    return batch_dir


def collect_wal_files(path: str) -> dict[str, list[str]]:
    """{bucket_id: [files]} from a recursive scan of a bucketed WAL
    (skipping _/.-prefixed writer debris) — file names only, no Spark
    job. Accepts both flat dirs and batch-subdir layouts."""
    out: dict[str, list[str]] = {}
    for root, _dirs, names in os.walk(path):
        rel = os.path.relpath(root, path)
        parts = [] if rel == "." else rel.split(os.sep)
        if any(p.startswith(("_", ".")) for p in parts):
            continue
        for n in sorted(names):
            if not n.endswith(".parquet") or n.startswith(("_", ".")):
                continue
            b = bucket_id_of(n)
            if b is not None:
                out.setdefault(str(b), []).append(os.path.join(root, n))
    return out


def register_bucketed_table(
    spark: SparkSession,
    schema: T.StructType,
    location: str,
    key_cols: list[str],
    num_buckets: int,
    name: str | None = None,
    partition_col: str | None = None,
    if_not_exists: bool = False,
) -> str:
    """Register ``location`` as an external bucketed parquet table and
    return the (session-scoped) table name. Caller drops it with
    ``spark.sql(f"DROP TABLE IF EXISTS `{name}`")`` — files survive.

    partition_col: optional hive-style directory partition column
    (``<col>=<value>/`` subdirs each holding bucket-suffixed files);
    buckets and directory partitions compose — the scan still reports
    HashPartitioning(key_cols, n) and groups files by bucket id across
    partition dirs. Run ``ALTER TABLE ... RECOVER PARTITIONS`` after
    registration (external partitioned tables start with an empty
    partition list)."""
    name = name or f"zx_{uuid.uuid4().hex[:12]}"
    cols = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields
    )
    keys = ", ".join(f"`{c}`" for c in key_cols)
    part = f"PARTITIONED BY (`{partition_col}`) " if partition_col else ""
    ine = "IF NOT EXISTS " if if_not_exists else ""
    spark.sql(
        f"CREATE TABLE {ine}`{name}` ({cols}) USING PARQUET "
        f"{part}"
        f"CLUSTERED BY ({keys}) INTO {num_buckets} BUCKETS "
        f"LOCATION '{os.path.abspath(location)}'"
    )
    return name


def link_files_bucketed(
    files_by_bucket: dict[str, list[str]],
    reg_dir: str,
    buckets: list[int] | None = None,
) -> int:
    """Hardlink the engine's per-bucket snapshot files into ``reg_dir``
    under Spark bucket-suffix names (part-<i>-link_<bucket>.parquet).
    Metadata-only (no data copied); returns files linked. The links are
    plain extra names for the same inodes — deleting reg_dir later
    never touches the snapshot's own paths."""
    os.makedirs(reg_dir, exist_ok=True)
    n = 0
    for b, flist in files_by_bucket.items():
        if buckets is not None and int(b) not in buckets:
            continue
        for f in flist:
            dst = os.path.join(reg_dir, f"part-{n:05d}-link_{int(b):05d}.parquet")
            try:
                os.link(f, dst)
            except OSError:
                # EXDEV (source on another filesystem): a symlink still
                # registers fine for local reads
                os.symlink(os.path.abspath(f), dst)
            n += 1
    return n


def wal_touched_buckets(path: str) -> list[int]:
    """Buckets present in a bucketed WAL directory (recursive) — file
    names only, no Spark job (the merge's partition-pruning input)."""
    return sorted(int(b) for b in collect_wal_files(path))
