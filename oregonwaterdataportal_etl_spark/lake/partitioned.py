"""PartitionedLakeTable — a second, time-valued partition dimension
over LakeTable: ``days(ts) x bucket(N, key)``, the Iceberg
partition-spec shape (``PARTITIONED BY (days(ts), bucket(N, id))``).

Why a second dimension at 100 TB: the bucket-only layout spreads keys
uniformly, so EVERY merge touches every hot bucket's full history and
retention must rewrite files (``delete_where``). With a leading
time partition, a CDC batch whose events span the last two days opens
two partitions' buckets — merge cost scales with the ACTIVE time
range, not table age — and retention becomes a metadata-only
whole-partition drop (the economics ``delete_where`` cannot offer:
zero rewrite, files reaped later by vacuum, exactly Iceberg's
``DROP PARTITION`` + ``expire_snapshots`` split).

Design: each day partition is an independent ``LakeTable`` (every
measured merge / MOR / compact / changelog / tombstone mechanism
reused verbatim), and a ROOT versioned manifest pins a per-partition
version VECTOR ``{day: child_version}``. Root commits go through the
same ``versioned_commit`` discipline as everything else, so:

- a root read at version V reads every child at its PINNED version —
  snapshot-consistent across partitions even while writers advance
  individual children;
- a crash between child merges and the root commit leaves readers on
  the old consistent vector; the replayed window re-merges (the LSN
  guard makes applied children no-ops) and pins the final vector;
- concurrent writers to DIFFERENT partitions both succeed: the root
  commit retries through ``CommitConflictError`` by re-reading and
  max-merging version vectors (children are monotone, so max is the
  correct join).

Routing contract (Hudi's NON-GLOBAL index semantics, the scalable
choice): the partition column is an attribute of the ROW'S IDENTITY —
the same key in two different partitions is two different rows, and
delete events must carry the partition column. A "global index"
(key unique across all partitions, updates may move rows between
partitions) requires an all-partition key lookup per batch and is
deliberately not offered; model mutable-time entities by keying on
(entity, day) downstream instead.

Reference analog: the reference scopes every harvest to a
station/dataset perimeter and prunes work to the touched perimeter
(userCode/awqms/dag.py per-station partitions; SURVEY.md 2.1 S6);
this generalizes that to a first-class time dimension on the lake.
"""

from __future__ import annotations

import json
import os
import re
import shutil
from concurrent.futures import ThreadPoolExecutor
from collections import Counter
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .table import (
    DATA_FILE_CODEC, ChainedTable, LakeTable, _next_snapshot, retry_on_conflict,
    snapshot_files,
)

def write_partitioned_wal(
    df: DataFrame, path: str, table: "PartitionedLakeTable"
) -> str:
    """Append a change batch to ``path`` as a PARTITIONED bucketed WAL:
    ``p=<transform(ts)>/`` hive subdirs, each holding files in the
    tree's own bucket layout (Spark's partitionBy + bucketBy writer,
    one file per touched (day, bucket)). The producer pays its one-time
    routing shuffle here — exactly like ``write_bucketed_wal`` — so
    every downstream ``PartitionedLakeTable.merge_prebucketed`` runs
    exchange-free per day. Config (keys, bucket count, transform) is
    taken FROM the table so layout mismatches cannot be authored.
    Returns the batch subdirectory."""
    import uuid

    snap = table.snapshot()
    if "p" in df.columns:
        # the routing column would silently overwrite (and partitionBy
        # would then strip) a payload column of the same name; the
        # ordinary merge() route has no such reservation
        raise ValueError(
            "the change frame carries a column named 'p', which is "
            "reserved for WAL partition routing — rename it or use the "
            "ordinary merge() path"
        )
    spark = df.sparkSession
    name = f"pwal_write_{uuid.uuid4().hex[:8]}"
    batch_dir = os.path.join(os.path.abspath(path), f"batch-{uuid.uuid4().hex[:12]}")
    keys = snap["key_cols"]
    nb = snap["num_buckets"]
    (
        df.withColumn("p", table._partition_expr(snap))
        .repartition(nb, *[F.col(c) for c in keys])
        .write.partitionBy("p")
        .bucketBy(nb, *keys)
        .option("compression", DATA_FILE_CODEC)
        .option("path", batch_dir)
        .saveAsTable(name)
    )
    spark.sql(f"DROP TABLE IF EXISTS `{name}`")
    return batch_dir


_TRANSFORMS = ("days", "months", "identity")
# identity partition values become directory names; keep them safe
_SAFE_VALUE = re.compile(r"^[A-Za-z0-9._\-]{1,128}$")
_ROW_COUNTERS = ("rows_inserted", "rows_updated", "rows_deleted",
                 "rows_noop", "rows_dropped", "rows_delta")


@dataclass
class PartitionedMergeResult:
    """Aggregate of one multi-partition MERGE: the new ROOT version,
    per-partition child results, and summed row counters (north_rule:
    per-partition lineage and row-count metrics, here literally).
    ``empty``: no child took a row, so no root snapshot was written."""

    version: int
    partitions: dict[str, dict] = field(default_factory=dict)
    rows_inserted: int = 0
    rows_updated: int = 0
    rows_deleted: int = 0
    rows_noop: int = 0
    rows_dropped: int = 0
    rows_delta: int = 0
    empty: bool = False

    def as_dict(self) -> dict:
        return {
            "version": self.version,
            **{k: getattr(self, k) for k in _ROW_COUNTERS},
            "partitions": self.partitions,
        }


class PartitionedLakeTable(ChainedTable):
    """Directory layout::

        <root>/_meta/snap-NNNNNNNN.json   root manifests (version vector)
        <root>/_meta/CURRENT              pointer (pointer commit mode)
        <root>/p=<value>/                 one LakeTable per partition

    ``<value>`` is the transform output: ``yyyy-MM-dd`` for days,
    ``yyyy-MM`` for months, the raw string for identity. All values
    sort lexicographically in time order, so range pruning is a plain
    string comparison against the manifest's partition list — no data
    I/O to plan a time-sliced read.
    """

    def _commit(self, snap: dict) -> None:
        snap.pop("committed_at", None)  # fresh stamp per root commit
        super()._commit(snap)

    def _commit_root(self, mutate) -> dict:
        """Commit-with-retry: ``mutate(snap) -> snap`` is re-applied to
        a FRESH read of the root on every conflict, so two writers
        touching different partitions both land (their vector updates
        compose — children are monotone, mutate pins current child
        versions)."""

        def attempt():
            snap = self.snapshot()
            new = mutate(dict(snap))
            new["version"] = snap["version"] + 1
            new["parent"] = snap["version"]
            self._commit(new)
            return new

        return retry_on_conflict(attempt)

    def _pin_commit(
        self,
        pinned: dict[str, int],
        summary: dict,
        add_missing: bool = False,
        schema_fields: dict | None = None,
    ) -> dict:
        """THE vector-pin commit, shared by every fan-out operation:
        max-merge ``pinned`` child versions into a fresh root read
        (children are monotone, so max is the correct join under
        concurrent-writer retries). ``add_missing`` (merge routes)
        also re-adds values absent from the vector and clears their
        drop records; maintenance routes only update present values.
        ``schema_fields`` appends unseen payload fields to the root
        schema (additive child evolution)."""

        def mutate(s):
            parts = dict(s.get("partitions") or {})
            dropped_at = dict(s.get("dropped_at") or {})
            for v, ver in pinned.items():
                if add_missing or v in parts:
                    parts[v] = max(ver, parts.get(v, -1))
                    if add_missing:
                        dropped_at.pop(v, None)
            s["partitions"] = parts
            s["dropped_at"] = dropped_at
            if schema_fields:
                root_schema = T.StructType.fromJson(json.loads(s["schema"]))
                have = {f.name for f in root_schema.fields}
                new = [f for n, f in schema_fields.items() if n not in have]
                if new:
                    s["schema"] = json.dumps(
                        T.StructType(root_schema.fields + new).jsonValue()
                    )
            s["summary"] = summary
            return s

        return self._commit_root(mutate)

    # ------------------------------------------------------ children
    def partition_dir(self, value: str) -> str:
        return os.path.join(self.path, f"p={value}")

    def partition_table(self, value: str) -> LakeTable:
        return LakeTable(self.partition_dir(value))

    def _ensure_partition(self, value: str, snap: dict) -> LakeTable:
        child = self.partition_table(value)
        if not child.exists():
            self._create_child(child, snap)
            # re-look-up: a WAP stage's partition_table returns the
            # STAGED view once the child exists, so even a partition
            # born inside a stage routes its data commits through the
            # child's wap chain
            return self.partition_table(value)
        elif value not in (snap.get("partitions") or {}):
            # The child DIR exists but the partition is not in the
            # current vector: it was DROPPED and not yet vacuumed. This
            # merge starts a NEW INCARNATION — the child chain gets a
            # truncate commit (empty file maps) so the dropped rows
            # cannot resurrect through the re-created partition, while
            # the old versions stay on the chain for pre-drop root time
            # travel (found by the chaos-schedule property: a
            # drop -> re-merge sequence read back the dropped rows).
            #
            # ARBITRATION between concurrent re-creators: drop records
            # the child version at drop time (dropped_at); only a chain
            # still parked AT that version needs the truncate. A chain
            # already beyond it was reincarnated by another writer —
            # truncating again would wipe THAT writer's committed rows
            # (review finding). The truncate commit itself arbitrates
            # the remaining tie: both racers target the same version
            # name and the loser gets CommitConflictError.
            cs = child.snapshot()
            da = (snap.get("dropped_at") or {}).get(value)
            if da is not None:
                need = cs["version"] <= da
            else:
                # no drop record (pre-upgrade manifest): fall back to
                # the populated-chain heuristic
                need = any(snapshot_files(cs))
            if need:
                new = _next_snapshot(
                    cs,
                    {"operation": "truncate-reincarnate"},
                    files={},
                    deltas={},
                    tombstones={},
                    row_counts={},
                )
                try:
                    child._commit(new)
                except Exception:
                    fresh = child.snapshot()
                    advanced = (
                        fresh["version"] > da
                        if da is not None
                        else not any(snapshot_files(fresh))
                    )
                    if not advanced:
                        raise
        return child

    @staticmethod
    def _create_child(child: LakeTable, snap: dict) -> None:
        try:
            LakeTable.create(
                child.path,
                T.StructType.fromJson(json.loads(snap["schema"])),
                key_cols=snap["key_cols"],
                num_buckets=snap["num_buckets"],
                dict_cols=snap.get("dict_cols") or None,
                tiebreak_family=snap.get("tiebreak_family", "xxhash64"),
                commit_mode=snap.get("commit_mode", "pointer"),
            )
        except ValueError:
            # two writers raced to create the same partition: losing
            # is fine as long as the winner finished (same
            # tolerate-concurrent-duplicate-create semantics as the
            # reference, userCode/wrd/test_frost.py:28-53)
            if not child.exists():
                raise

    def _partition_expr(self, snap: dict | None = None):
        snap = snap or self.snapshot()
        c, tr = snap["partition_col"], snap["transform"]
        if tr == "days":
            return F.date_format(F.col(c).cast("timestamp"), "yyyy-MM-dd")
        if tr == "months":
            return F.date_format(F.col(c).cast("timestamp"), "yyyy-MM")
        return F.col(c).cast("string")

    # ---------------------------------------------------------- DDL
    @staticmethod
    def create(
        path: str,
        schema: T.StructType,
        key_cols: list[str],
        partition_col: str,
        transform: str = "days",
        num_buckets: int = 16,
        dict_cols: dict[str, list[str]] | None = None,
        tiebreak_family: str = "xxhash64",
        commit_mode: str = "pointer",
    ) -> "PartitionedLakeTable":
        if transform not in _TRANSFORMS:
            raise ValueError(f"unknown transform {transform!r}; one of {_TRANSFORMS}")
        names = {f.name: f for f in schema.fields}
        if partition_col not in names:
            raise ValueError(f"partition_col {partition_col!r} not in schema")
        if transform in ("days", "months") and not isinstance(
            names[partition_col].dataType, (T.TimestampType, T.DateType, T.LongType)
        ):
            raise ValueError(
                f"{transform} transform needs a timestamp/date column, "
                f"got {names[partition_col].dataType}"
            )
        if transform == "identity" and not isinstance(
            names[partition_col].dataType, T.StringType
        ):
            raise ValueError("identity transform needs a string column")
        t = PartitionedLakeTable(path)
        if t.exists():
            raise ValueError(f"table already exists at {path}")
        t._commit(
            {
                "version": 0,
                "parent": None,
                "schema": json.dumps(schema.jsonValue()),
                "key_cols": key_cols,
                "partition_col": partition_col,
                "transform": transform,
                "num_buckets": num_buckets,
                "dict_cols": dict_cols or {},
                "tiebreak_family": tiebreak_family,
                "commit_mode": commit_mode,
                "partitions": {},
                "summary": {"operation": "create"},
            }
        )
        return t

    # --------------------------------------------------------- write
    def _apply_children(
        self, values: list[str], fn
    ) -> tuple[PartitionedMergeResult, dict[str, int]]:
        """Run ``fn(value)`` for every touched child, overlapping
        independent children from a small driver thread pool.

        Children are independent tables (own chain, own data dir) and
        the root vector pins ONCE after all of them, so child applies
        need no mutual ordering. Running 2-4 at a time lets Spark's
        FIFO scheduler back-fill executors idled by one child's task
        tail (and the driver-side commit/manifest work) with the next
        child's tasks — the overlap-independent-jobs pattern. A
        365-day backfill otherwise serializes 365 small jobs.

        ``SPARK_GRAFT_TREE_PARALLELISM`` overrides the in-flight count
        (1 = strictly sequential, the pre-r6 behavior). Results come
        back keyed by value; any child failure re-raises before the
        root commit, exactly like a mid-loop crash in the sequential
        path (committed-but-unpinned children are re-pinned by the
        replayed window's no-op merges).

        Returns the children's results folded for the caller's root
        commit: each child's committed version (the vector to pin), its
        per-partition result, and the summed row counters. A child whose
        merge was empty committed nothing and is left out."""
        env = os.environ.get("SPARK_GRAFT_TREE_PARALLELISM")
        par = max(1, min(int(env) if env else 4, len(values)))
        if par == 1:
            results = {v: fn(v) for v in values}
        else:
            with ThreadPoolExecutor(max_workers=par) as pool:
                futs = {v: pool.submit(fn, v) for v in values}
                results = {v: futs[v].result() for v in values}
        out = PartitionedMergeResult(version=-1)
        pinned: dict[str, int] = {}
        for v in values:
            res = results[v]
            if res.empty:
                continue
            pinned[v] = res.version
            out.partitions[v] = res.as_dict()
            for k in _ROW_COUNTERS:
                setattr(out, k, getattr(out, k) + getattr(res, k))
        return out, pinned

    def merge(
        self,
        updates: DataFrame,
        op_col: str = "op",
        lsn_col: str = "lsn",
        mode: str = "cow",
        **merge_kwargs,
    ) -> PartitionedMergeResult:
        """Route the batch to its partitions and MERGE each slice.

        One cheap routing pass (groupBy the transform expression —
        the exact analog of LakeTable's touched-bucket scan) finds the
        touched partitions; at steady state that is 1-2 recent days,
        so apply cost is O(active days' touched buckets) regardless of
        how many years the table holds. Null partition values are an
        ERROR — an unroutable event must fail loudly, not land in a
        default partition where retention would never find it.
        """
        snap = self.snapshot()
        pexpr = self._partition_expr(snap)
        # Pin the batch BEFORE routing: the routing list and every
        # child's filtered slice then come from the same materialized
        # rows, so a non-deterministic source can neither route a row
        # to a value missing from the list (the child filters would
        # silently drop it, even with a single touched partition) nor
        # route it twice, and the source is scanned once.
        updates = updates.localCheckpoint(eager=True)
        pstats = updates.groupBy(pexpr.alias("__p")).count().collect()
        if not pstats:
            # empty batch: no child changed, so no root snapshot either
            # (repeated empty applies must not churn root history)
            return PartitionedMergeResult(version=snap["version"], empty=True)
        if any(r["__p"] is None for r in pstats):
            n = sum(r["count"] for r in pstats if r["__p"] is None)
            raise ValueError(
                f"{n} update rows have a null/invalid {snap['partition_col']!r}; "
                "change events must carry a routable partition value"
            )
        values = sorted(r["__p"] for r in pstats)
        if snap["transform"] == "identity":
            bad = [v for v in values if not _SAFE_VALUE.match(v)]
            if bad:
                raise ValueError(f"unsafe identity partition values: {bad[:5]}")

        def apply_one(v: str):
            child = self._ensure_partition(v, snap)
            return child.merge(
                updates.filter(pexpr == F.lit(v)),
                op_col=op_col,
                lsn_col=lsn_col,
                mode=mode,
                **merge_kwargs,
            )
        out, pinned = self._apply_children(values, apply_one)

        # root schema evolves additively with its children: append any
        # field a touched child now carries that the root hasn't seen
        # (child evolution is append-only, so name-union preserves order)
        evolved_fields = {}
        for v in values:
            # public schema only — engine columns (_lsn, tie limbs) must
            # never leak into the root payload schema
            for f in self.partition_table(v).schema().fields:
                evolved_fields.setdefault(f.name, f)

        out.version = self._pin_commit(
            pinned,
            {
                "operation": "merge",
                "mode": mode,
                "touched_partitions": values,
                **{k: getattr(out, k) for k in _ROW_COUNTERS},
            },
            add_missing=True,
            schema_fields=evolved_fields,
        )["version"]
        return out

    def merge_prebucketed(
        self,
        spark: SparkSession,
        source_path: str,
        op_col: str = "op",
        lsn_col: str = "lsn",
        lsn_range: tuple[int, int] | None = None,
    ) -> PartitionedMergeResult:
        """Zero-exchange apply into the partition tree: ``source_path``
        is a PARTITIONED bucketed WAL (``write_partitioned_wal`` —
        ``p=<value>/`` day subdirs, each in this tree's bucket layout),
        and every day slice resolves through the child's
        ``merge_prebucketed`` with no Exchange in any per-day plan.
        This is the at-scale steady state composed: time routing
        bounds WHICH base files participate (O(active days)), the
        bucketed layout removes the resolve shuffle on top of that.
        One root commit pins the final vector. Days whose slice holds no
        row inside ``lsn_range`` commit nothing and are not pinned; if
        no day took a row, no root snapshot is written either
        (``empty=True``)."""
        snap = self.snapshot()
        try:
            names = sorted(os.listdir(source_path))
        except FileNotFoundError:
            names = []
        values = [n[2:] for n in names if n.startswith("p=")]
        if any(v.startswith("__HIVE_DEFAULT") for v in values):
            raise ValueError(
                f"WAL carries a null/default {snap['partition_col']!r} "
                "partition; change events must carry a routable value"
            )
        if snap["transform"] == "identity":
            # the same gate merge() enforces: an unsafe identity value
            # reaches the WAL hive-ESCAPED (e.g. p=a%2Fb), and adopting
            # the escaped spelling as the partition value would split
            # routing between two spellings forever — '%' is outside
            # the safe charset, so escapes are rejected here too
            bad = [v for v in values if not _SAFE_VALUE.match(v)]
            if bad:
                raise ValueError(f"unsafe identity partition values: {bad[:5]}")
        if not values:
            from .bucketed import collect_wal_files

            if collect_wal_files(source_path):
                # a FLAT bucketed WAL pointed at a partitioned tree:
                # silently treating it as empty would commit a zero-row
                # success and the runner would advance offsets past
                # unapplied data (review finding — the mirror of
                # PartitionedWalSource's no-p= error)
                raise ValueError(
                    f"{source_path} holds bucketed files but no p=<value> "
                    "subdirs — a flat WAL cannot route into a partitioned "
                    "tree (produce it with write_partitioned_wal)"
                )

        def apply_one(v: str):
            child = self._ensure_partition(v, snap)
            return child.merge_prebucketed(
                spark, os.path.join(source_path, f"p={v}"),
                op_col=op_col, lsn_col=lsn_col, lsn_range=lsn_range,
            )
        out, pinned = self._apply_children(values, apply_one)

        if not pinned:
            return PartitionedMergeResult(version=snap["version"], empty=True)
        out.version = self._pin_commit(
            pinned,
            {"operation": "merge_prebucketed",
             "touched_partitions": sorted(pinned)},
            add_missing=True,
        )["version"]
        return out

    # ---------------------------------------------------------- read
    def partitions(self, version: int | None = None) -> dict[str, int]:
        """The pinned version vector at a root snapshot."""
        return dict(self.snapshot(version).get("partitions") or {})

    def _select_values(
        self,
        vector: dict[str, int],
        between: tuple[str, str] | None,
        values: list[str] | None,
    ) -> list[str]:
        out = sorted(vector)
        if values is not None:
            want = set(values)
            out = [v for v in out if v in want]
        if between is not None:
            lo, hi = between
            out = [v for v in out if (lo is None or v >= lo) and (hi is None or v <= hi)]
        return out

    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        between: tuple[str, str] | None = None,
        values: list[str] | None = None,
        columns: list[str] | None = None,
        as_of: float | None = None,
    ) -> DataFrame:
        """Snapshot-consistent read: every child at its PINNED version.

        ``between=(lo, hi)`` / ``values=[...]`` prune whole partitions
        from the MANIFEST (string compare on transform values — no
        file listing, no data I/O for excluded days). The partition
        filter composes with each child's own bucket/file pruning.
        """
        if as_of is not None:
            if version is not None:
                raise ValueError("pass either version or as_of, not both")
            version = self.version_at(as_of)
        snap = self.snapshot(self.current_version() if version is None else version)
        vector = snap.get("partitions") or {}
        chosen = self._select_values(vector, between, values)
        frames = [
            self.partition_table(v).read(
                spark, version=vector[v], columns=columns
            )
            for v in chosen
        ]
        if not frames:
            schema = T.StructType.fromJson(json.loads(snap["schema"]))
            if columns is not None:
                schema = T.StructType([f for f in schema.fields if f.name in columns])
            return spark.createDataFrame([], schema)
        # allowMissingColumns: additive schema evolution lands in a
        # child when a batch touches it, so siblings can trail — their
        # missing columns read as null, exactly like old files inside
        # one LakeTable
        return reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), frames
        )

    def read_changes(
        self,
        spark: SparkSession,
        from_version: int,
        to_version: int | None = None,
        include_preimages: bool = False,
    ) -> DataFrame:
        """Root-level incremental changelog: diff the two version
        VECTORS, emit each changed child's own read_changes (cost
        scales with changed partitions, not table age). A partition
        present in from and absent in to was DROPPED by retention: its
        net surviving rows are emitted as deletes with a NULL
        ``_commit_lsn`` — the expired-tombstone convention, so a
        consumer substitutes its watermark (ChangelogFollower's
        fallback_lsn) and the delete WINS the replica's LWW merge.
        (Carrying the row's own LSN would tie against the already-
        applied row and lose for ~half the keys via the op-aware
        tie-break — review finding.) The Iceberg changelog-scan
        contract for dropped partitions: a downstream replica
        converges through retention sweeps too."""
        v2 = self.current_version() if to_version is None else to_version
        vec1 = {} if from_version == 0 else (
            self.snapshot(from_version).get("partitions") or {}
        )
        vec2 = self.snapshot(v2).get("partitions") or {}
        frames: list[DataFrame] = []
        for v in sorted(set(vec1) | set(vec2)):
            child = self.partition_table(v)
            if v in vec1 and v in vec2:
                if vec1[v] != vec2[v]:
                    frames.append(
                        child.read_changes(
                            spark, vec1[v], vec2[v],
                            include_preimages=include_preimages,
                        )
                    )
            elif v in vec2:
                frames.append(
                    child.read_changes(
                        spark, 0, vec2[v], include_preimages=include_preimages
                    )
                )
            else:
                net = child.read_changes(spark, 0, vec1[v])
                frames.append(
                    net.filter(F.col("_change_type") != "delete")
                    .withColumn("_change_type", F.lit("delete"))
                    .withColumn("_commit_lsn", F.lit(None).cast("long"))
                )
        if not frames:
            schema = T.StructType.fromJson(json.loads(self.snapshot(v2)["schema"]))
            schema = T.StructType(
                schema.fields
                + [
                    T.StructField("_change_type", T.StringType()),
                    T.StructField("_commit_lsn", T.LongType()),
                ]
            )
            return spark.createDataFrame([], schema)
        return reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), frames
        )

    # ----------------------------------------------------- retention
    def drop_partitions(
        self,
        before: str | None = None,
        values: list[str] | None = None,
    ) -> list[str]:
        """Metadata-only retention: remove partitions from the root
        vector (``before`` = all values strictly below, lexicographic =
        chronological for days/months). O(1) per partition — NO data
        rewrite, NO per-row tombstones; time travel to pre-drop root
        versions still works, and vacuum() reaps the unreferenced
        child directories later. This is the retention ECONOMICS
        ``delete_where`` can't offer (it rewrites surviving buckets)."""
        if (before is None) == (values is None):
            raise ValueError("pass exactly one of before= / values=")
        snap = self.snapshot()
        vector = snap.get("partitions") or {}
        if before is not None:
            dropped = sorted(v for v in vector if v < before)
        else:
            dropped = sorted(v for v in vector if v in set(values))
        if not dropped:
            return []

        # record the child version at drop time (the pin, or the
        # chain's actual CURRENT if a crashed writer advanced it) —
        # the reincarnation arbitration point (_ensure_partition)
        drop_marks = {}
        for v in dropped:
            try:
                drop_marks[v] = max(
                    vector[v], self.partition_table(v).current_version()
                )
            except (OSError, ValueError):
                drop_marks[v] = vector[v]

        def mutate(s):
            parts = dict(s.get("partitions") or {})
            dropped_at = dict(s.get("dropped_at") or {})
            for v in dropped:
                # the mark must come from the FRESH root read too: on a
                # CommitConflictError retry a concurrent merge may have
                # advanced the child and the vector past the pre-commit
                # drop_marks read; re-applying the stale mark would let
                # _ensure_partition skip the reincarnation truncate
                # (child version > dropped_at) and resurrect the rows
                dropped_at[v] = max(drop_marks[v], parts.get(v, -1))
                parts.pop(v, None)
            s["partitions"] = parts
            s["dropped_at"] = dropped_at
            s["summary"] = {"operation": "drop_partitions", "dropped": dropped}
            return s

        self._commit_root(mutate)
        return dropped

    def vacuum(self, keep_last: int = 1, orphan_grace_seconds: float = 86400.0) -> int:
        """Two-level GC. (1) Child directories referenced by NO
        retained root manifest are removed whole (the dropped-partition
        reap). (2) Live children vacuum their own history, keeping
        every version any retained root manifest pins (so root time
        travel within keep_last stays valid). (3) Expired root
        manifests are deleted. Returns files+dirs removed."""
        current = self.current_version()
        history = self.history()
        kept = [s for s in history if s["version"] > current - keep_last]
        expired = [s for s in history if s["version"] <= current - keep_last]
        removed = 0
        # which children, and which child versions, do retained roots pin?
        pinned: dict[str, list[int]] = {}
        for s in kept:
            for v, ver in (s.get("partitions") or {}).items():
                pinned.setdefault(v, []).append(ver)
        import time as _time

        now = _time.time()
        for name in sorted(os.listdir(self.path)):
            if not name.startswith("p="):
                continue
            value = name[2:]
            full = os.path.join(self.path, name)
            if value not in pinned:
                # unreferenced by every retained root — but ALWAYS
                # age-gated: a concurrent merge may be re-creating this
                # very partition (child committed, root commit in
                # flight), and reaping it would wedge that writer's
                # vector on a deleted directory (review finding — the
                # expired-manifest shortcut that skipped the gate is
                # gone). Same in-flight-writer contract as
                # LakeTable.vacuum's orphan grace.
                try:
                    # _meta mtime moves on every child commit; the top
                    # dir's does not — gate on the freshest of the two
                    mt = os.path.getmtime(full)
                    try:
                        mt = max(mt, os.path.getmtime(os.path.join(full, "_meta")))
                    except OSError:
                        pass
                    age = now - mt
                except OSError:
                    continue
                if age >= orphan_grace_seconds:
                    removed += sum(len(fs) for _, _, fs in os.walk(full))
                    # the child's kept registrations go with it
                    breg = os.path.join(full, "_bucketed")
                    if os.path.isdir(breg):
                        LakeTable._drop_registrations(
                            [os.path.join(breg, e) for e in os.listdir(breg)]
                        )
                    shutil.rmtree(full, ignore_errors=True)
                continue
            child = self.partition_table(value)
            child_current = child.current_version()
            keep_child = child_current - min(pinned[value]) + 1
            removed += child.vacuum(
                keep_last=max(1, keep_child),
                orphan_grace_seconds=orphan_grace_seconds,
            )
        removed += self._chain.expire(s["version"] for s in expired)
        return removed

    # -------------------------------------------------- maintenance
    def _fanout(self, label: str, fn) -> dict[str, int]:
        """Run ``fn(child)`` over live partitions and pin the resulting
        child versions in one root commit. Returns {value: fn result}
        (NOTE: for compact/rebucket the child result is the child's new
        snapshot VERSION — never sum these; roll up counts from stats()
        or the root version instead)."""
        snap = self.snapshot()
        vector = snap.get("partitions") or {}
        results: dict[str, int] = {}
        pinned: dict[str, int] = {}
        for v in sorted(vector):
            child = self.partition_table(v)
            results[v] = fn(child)
            pinned[v] = child.current_version()
        if any(pinned[v] != vector.get(v) for v in pinned):
            self._pin_commit(pinned, {"operation": label, "results": results})
        return results

    def compact(self, spark: SparkSession, **kw) -> int:
        """Fan-out compaction; returns the ROOT version after the pass
        (mirrors LakeTable.compact returning the new snapshot version)."""
        self._fanout("compact", lambda c: c.compact(spark, **kw))
        return self.current_version()

    def expire_tombstones(self, spark: SparkSession, below_lsn: int | None = None,
                          offsets=None) -> int:
        """Returns tombstone rows removed across all partitions."""
        return sum(
            self._fanout(
                "expire_tombstones",
                lambda c: c.expire_tombstones(spark, below_lsn=below_lsn,
                                              offsets=offsets),
            ).values()
        )

    def rebucket(self, spark: SparkSession, new_num_buckets: int, **kw) -> int:
        """Fan-out bucket-count evolution; returns the ROOT version
        after the layout commit (mirrors LakeTable.rebucket)."""
        self._fanout(
            "rebucket", lambda c: c.rebucket(spark, new_num_buckets, **kw)
        )

        def mutate(s):
            s["num_buckets"] = new_num_buckets
            s["summary"] = {"operation": "rebucket", "num_buckets": new_num_buckets}
            return s

        self._commit_root(mutate)
        return self.current_version()

    def maintain(self, spark: SparkSession, policy) -> dict:
        """Policy-driven upkeep for the whole partition tree — what a
        maintenance job (or CdcRunner's cadence) calls:

        1. RETENTION first (``policy.keep_partitions``): newest K
           partition values stay, the rest drop metadata-only — no
           point compacting a partition about to be dropped.
        2. Per-child plan/act via lake.maintenance (decisions from
           each child's manifest only; healthy children cost zero
           Spark jobs). Child-level vacuum is STRIPPED from the
           policy: only the root vacuum may expire child history,
           because it alone knows which child versions retained root
           manifests still pin.
        3. Root vacuum under ``policy.keep_snapshots`` (also reaps
           dropped children past the orphan grace).

        Returns {concern: detail} for actions taken; {} = healthy.
        Idempotent like the flat maintain: every action clears its
        own trigger."""
        from dataclasses import replace

        from .maintenance import maintain as _maintain

        report: dict = {}
        if policy.keep_partitions is not None:
            live = sorted(self.partitions())
            if len(live) > policy.keep_partitions:
                # slice, not live[-K] (K=0 would index live[0] and
                # silently invert "retain zero" into "retain all")
                to_drop = live[: len(live) - policy.keep_partitions]
                dropped = self.drop_partitions(values=to_drop)
                if dropped:
                    report["drop_partitions"] = dropped
        # the bucket count is a ROOT-level layout property: a child
        # rebucketing alone would diverge from write_partitioned_wal's
        # root-derived bucketing and silently mis-route zero-exchange
        # merges (review finding) — so max_rows_per_bucket is decided
        # HERE for the whole tree and stripped from the child policy
        if policy.max_rows_per_bucket:
            worst_rows = 0
            for v in sorted(self.partitions()):
                s = self.partition_table(v).stats()
                worst_rows = max(worst_rows, s["rows_base"])
            nb = self.snapshot()["num_buckets"]
            if nb and worst_rows / nb > policy.max_rows_per_bucket:
                target = nb
                while worst_rows / target > policy.max_rows_per_bucket:
                    target *= 2
                self.rebucket(spark, target)
                report["rebucket"] = (
                    f"worst partition holds {worst_rows} rows; "
                    f"{nb} -> {target} buckets tree-wide"
                )
        child_policy = replace(
            policy, keep_snapshots=None, max_rows_per_bucket=None
        )
        vector = self.partitions()
        pinned: dict[str, int] = {}
        for v in sorted(vector):
            child = self.partition_table(v)
            acted = _maintain(spark, child, child_policy)
            if acted:
                report[f"p={v}"] = acted
            pinned[v] = child.current_version()
        if any(pinned[v] != vector.get(v) for v in pinned):
            self._pin_commit(
                pinned, {"operation": "maintain", "concerns": sorted(report)}
            )
        if policy.keep_snapshots is not None:
            current = self.current_version()
            n = sum(1 for s in self.history() if s["version"] <= current)
            if n > policy.keep_snapshots:
                removed = self.vacuum(
                    keep_last=policy.keep_snapshots,
                    orphan_grace_seconds=policy.orphan_grace_seconds,
                )
                report["vacuum"] = f"{n} root snapshots > {policy.keep_snapshots}; removed {removed} files"
        return report

    def begin_wap(self, wap_id: str):
        """Open (or re-attach to) a write-audit-publish stage on the
        tree (lake/wap.py PartitionedWapStage): root chain staged,
        touched children staged per child, publish pins the whole
        vector atomically."""
        from .wap import PartitionedWapStage

        return PartitionedWapStage(self.path, wap_id)

    def clone_to(self, dest: str, version: int | None = None) -> "PartitionedLakeTable":
        """Deep snapshot export of the whole tree (same contract as
        LakeTable.clone_to): every partition pinned by the chosen ROOT
        version is deep-cloned at its pinned child version, and the
        clone's root chain starts fresh at v0+v1 with the cloned
        children pinned at their own CURRENT (= cloned) versions.
        Dropped partitions are not cloned (they are not state at that
        root version); the clone shares no files with the source, so
        source vacuums cannot disturb it."""
        v = self.current_version() if version is None else version
        snap = self.snapshot(v)
        clone = PartitionedLakeTable(dest)
        if clone.exists():
            raise ValueError(f"table already exists at {dest}")
        base = {
            k: snap[k]
            for k in (
                "schema", "key_cols", "partition_col", "transform",
                "num_buckets", "dict_cols", "tiebreak_family", "commit_mode",
            )
        }
        vector = snap.get("partitions") or {}
        pinned: dict[str, int] = {}
        for val, child_v in sorted(vector.items()):
            cloned = self.partition_table(val).clone_to(
                clone.partition_dir(val), version=child_v
            )
            pinned[val] = cloned.current_version()
        clone._commit(
            {**base, "version": 0, "parent": None, "partitions": {},
             "summary": {"operation": "create"}}
        )
        clone._commit(
            {**base, "version": 1, "parent": 0, "partitions": pinned,
             "summary": {"operation": "clone",
                         "source": self.path, "source_version": v}}
        )
        return clone

    def delete_where(self, spark: SparkSession, condition) -> dict[str, dict]:
        """Cross-partition predicate delete — the erasure case
        ``drop_partitions`` cannot serve (a GDPR subject's rows live on
        MANY days; whole-day drops are the wrong shape). Fans the
        condition out to every live child (each child resolves its own
        matches and merges tombstoned deletes at footer-derived
        max_lsn+1 — LakeTable.delete_where semantics exactly), then
        pins the new vector in one root commit. Children with no
        matching rows commit nothing. Returns {partition: merge counts}
        for partitions that changed."""
        vector = self.partitions()
        results: dict[str, dict] = {}
        pinned: dict[str, int] = {}
        for v in sorted(vector):
            child = self.partition_table(v)
            res = child.delete_where(spark, condition)
            if res.rows_deleted or res.rows_dropped:
                results[v] = res.as_dict()
            pinned[v] = child.current_version()
        if any(pinned[v] != vector.get(v) for v in pinned):
            self._pin_commit(
                pinned,
                {"operation": "delete-where",
                 "touched_partitions": sorted(results)},
            )
        return results

    def metadata_df(self, spark: SparkSession, kind: str) -> DataFrame:
        """Tree-level metadata frames (Iceberg metadata-tables analog,
        same contract as LakeTable.metadata_df — manifests + os.stat
        only, zero data I/O):

        - "partitions": one row per partition VALUE (pinned child
          version + summed child stats) — the operational view a
          retention/maintenance decision reads;
        - "files": union of every live child's files frame, prefixed
          with its partition value;
        - "history": the ROOT commit chain (operation, touched
          partitions, partition count).
        """
        vector = self.partitions()
        if kind == "partitions":
            rows = []
            for v in sorted(vector):
                # stats from the PINNED child snapshot, not the child's
                # CURRENT — a concurrent writer's not-yet-root-committed
                # child version must not leak into a root-consistent
                # view (review finding)
                cs = self.partition_table(v).snapshot(vector[v])
                rc = cs.get("row_counts") or {}
                n = Counter(side for side, _b, _f in snapshot_files(cs))
                rows.append((
                    v, vector[v], sum(rc.values()),
                    n["b"], n["d"], n["t"], cs["num_buckets"],
                ))
            return spark.createDataFrame(
                rows,
                "partition string, pinned_version int, rows_base long, "
                "base_files int, delta_files int, tombstone_files int, "
                "num_buckets int",
            )
        if kind == "files":
            frames = [
                self.partition_table(v)
                .metadata_df(spark, "files")
                .select(F.lit(v).alias("partition"), "*")
                for v in sorted(vector)
            ]
            if not frames:
                return spark.createDataFrame(
                    [],
                    "partition string, bucket int, kind string, path string, "
                    "size_bytes long, modified_at double",
                )
            return reduce(DataFrame.unionByName, frames)
        if kind == "history":
            rows = []
            for snap in self.history():
                s = snap.get("summary") or {}
                touched = s.get("touched_partitions") or s.get("dropped")
                rows.append((
                    snap["version"], snap.get("parent"),
                    snap.get("committed_at"), s.get("operation"),
                    len(snap.get("partitions") or {}),
                    ",".join(touched) if touched else None,
                ))
            return spark.createDataFrame(
                rows,
                "version int, parent int, committed_at double, "
                "operation string, num_partitions int, "
                "touched_partitions string",
            )
        raise ValueError(
            f"unknown metadata kind {kind!r}: expected "
            "files/history/partitions"
        )

    def max_lsn(self, spark: SparkSession) -> int:
        vector = self.partitions()
        if not vector:
            return 0
        return max(
            self.partition_table(v).max_lsn(spark) for v in vector
        )

    def stats(self) -> dict:
        vector = self.partitions()
        per = {v: self.partition_table(v).stats() for v in sorted(vector)}
        return {
            "version": self.current_version(),
            "num_partitions": len(vector),
            "partitions": per,
        }
