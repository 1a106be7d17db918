"""CdcRunner — the AvailableNow-style incremental batch loop.

Reference analog: the Dagster cron schedules (T1, SURVEY.md 2.9 —
userCode/wrd/dag.py:375-394 et al.) replaced by a loop over offset
windows: read watermark -> filter the change source to
(last_lsn, last_lsn + window] -> manifest begin -> MERGE -> manifest
commit -> offset commit. Resume-from-checkpoint and duplicate-batch
no-op replay come from OffsetLog + ManifestLog (T2/T3/T6).

The change source is any DataFrame-producing callable (parquet dir,
generated stream, Kafka-backed readStream in foreachBatch on a real
cluster) — the runner only requires a monotonic ``lsn`` column.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..lake.table import CommitConflictError, LakeTable, MergeResult
from .manifests import ManifestLog, batch_id_for_window
from .offsets import OffsetLog


class CdcRunner:
    def __init__(
        self,
        table: LakeTable,
        offsets: OffsetLog,
        manifests: ManifestLog,
        source: Callable[[], DataFrame],
        lsn_col: str = "lsn",
        op_col: str = "op",
        mode: str = "cow",
        compact_every: int = 0,
        commit_retries: int = 3,
        ann_indexes: list | None = None,
        maintenance_policy=None,
    ):
        """mode='mor' + compact_every=N is the high-rate configuration:
        append delta files per window (apply cost independent of table
        size) and fold them into the base every N committed windows —
        the Hudi-style MOR ingest loop.

        commit_retries: how many times a window's merge is retried
        through a snapshot-version race (CommitConflictError) before
        failing the window. A runner sharing its table with a
        maintenance process (compact/expire/vacuum job) WILL
        occasionally lose the optimistic-commit race; the merge is
        idempotent by the LSN guard, so re-reading the new snapshot and
        re-merging is always safe — the reference's tolerate-concurrent
        -duplicate-create semantics (userCode/wrd/test_frost.py:28-53)
        recast for snapshot commits.

        ann_indexes: operators.ann_index.AnnIndex instances bound to
        this table; they are refresh_if_stale()'d on the compaction
        cycle so index and corpus move together (the versioned-index
        maintenance hook).

        maintenance_policy: a lake.maintenance.MaintenancePolicy.
        When set, every compact_every committed windows the runner
        calls policy-driven ``maintain()`` (metadata-only decisions:
        compact / rebucket / tombstone expiry / vacuum as the table's
        own stats demand) instead of the fixed compact+expire pair;
        the runner's own offset log is wired in as the tombstone
        watermark unless the policy names another."""
        self.table = table
        self.offsets = offsets
        self.manifests = manifests
        self.source = source
        self.lsn_col = lsn_col
        self.op_col = op_col
        self.mode = mode
        self.compact_every = compact_every
        self.commit_retries = commit_retries
        self.ann_indexes = list(ann_indexes or [])
        self.maintenance_policy = maintenance_policy
        self._windows_since_compact = 0

    def run_window(self, lsn_lo: int, lsn_hi: int) -> MergeResult | None:
        """Apply one offset window [lsn_lo, lsn_hi] exactly once.

        Returns None when the window is already committed
        (duplicate-batch replay -> no-op, the reference's run-twice
        invariant, userCode/wrd/dag_test.py:113-216) or empty (the
        offset watermark still advances; no table snapshot is written).

        The runner never scans the batch itself: the apply reports an
        empty batch (``result.empty``) from the scans it runs anyway
        (DESIGN.md §4, "What a window runs"). So a MOR window reads its
        change files once and a cow window twice.
        """
        batch_id = batch_id_for_window(self.offsets.source_id, lsn_lo, lsn_hi)
        if self.manifests.is_committed(batch_id):
            # a crash BETWEEN manifest commit and offset commit leaves the
            # manifest ahead of the watermark; advance the offset here so
            # the stall isn't permanent (otherwise every restart replays
            # this no-op and the tombstone-expiry horizon never moves)
            if lsn_hi > self.offsets.last_lsn():
                self.offsets.commit(lsn_hi, batch_id)
            return None
        self.manifests.begin(batch_id, lsn_lo, lsn_hi)
        result = self._apply(lsn_lo, lsn_hi)
        if result.empty:
            # sparse LSN space: advance the watermark without churning
            # a table snapshot per empty window
            self.manifests.commit(batch_id, {"empty": True})
            self.offsets.commit(lsn_hi, batch_id)
            return None
        self.manifests.commit(batch_id, result.as_dict())
        self.offsets.commit(lsn_hi, batch_id)
        if self.compact_every:
            self._windows_since_compact += 1
            if self._windows_since_compact >= self.compact_every:
                spark = SparkSession.active()

                def maintain():
                    # idempotent against the current snapshot: a
                    # replayed compact finds nothing left to fold /
                    # bin-pack and commits a metadata no-op; tombstones
                    # expire up to the committed offset watermark (the
                    # offsets log clamps the bound inside the method)
                    if self.maintenance_policy is not None:
                        from dataclasses import replace

                        from ..lake.maintenance import maintain as _maintain

                        pol = self.maintenance_policy
                        if pol.expire_tombstones_with_offsets is None:
                            pol = replace(
                                pol,
                                expire_tombstones_with_offsets=self.offsets,
                            )
                        _maintain(spark, self.table, pol)
                        return
                    if self.mode == "mor":
                        self.table.compact(spark)
                    self.table.expire_tombstones(spark, offsets=self.offsets)

                self._with_commit_retry(maintain)
                for ix in self.ann_indexes:
                    # a concurrent builder can make the index commit
                    # race too — same bounded retry
                    self._with_commit_retry(lambda ix=ix: ix.refresh_if_stale(spark))
                self._windows_since_compact = 0
        return result

    def _apply(self, lsn_lo: int, lsn_hi: int) -> MergeResult:
        """One window's merge. A ``prebucketed`` source (cdc.source.
        BucketedWalSource — a change log written in the table's own
        bucketed layout) routes cow windows through the ZERO-EXCHANGE
        ``merge_prebucketed`` path: footer-pruned window files hardlink
        into a bucket-layout dir, and the resolve runs with no shuffle
        at all (DESIGN.md §11). Pending MOR deltas fold into the
        zero-exchange resolve (they live one-bucket-per-file and
        register into the same bucketed table — _zx_base_tomb_side), so
        a runner switching from mor to cow needs no compact() first;
        only mor-mode windows themselves fall back to the ordinary
        append path. A zero-exchange window with no file in range is
        empty by its footers alone: no job runs, and the window's files
        are listed once (``pruned_dir``); only the ``merge()`` path
        builds the batch frame."""
        use_zx = (
            getattr(self.source, "prebucketed", False)
            and self.mode == "cow"
        )
        if use_zx:
            def apply():
                reg = self.source.pruned_dir(lsn_lo, lsn_hi)
                if reg is None:
                    return MergeResult(version=self.table.current_version(), empty=True)
                import shutil

                try:
                    return self.table.merge_prebucketed(
                        self.source.spark, reg,
                        op_col=self.op_col, lsn_col=self.lsn_col,
                        lsn_range=(lsn_lo, lsn_hi),
                    )
                finally:
                    shutil.rmtree(reg, ignore_errors=True)
        else:
            # range-capable sources (cdc.source.LsnRangedParquetSource)
            # hand back only the FILES whose footer lsn stats intersect
            # the window — O(files-in-window) per window instead of K
            # scans of the whole log. The row filter below still applies
            # either way (footer pruning is an optimization, not a
            # correctness dependency).
            if getattr(self.source, "supports_range", False):
                src = self.source(lsn_lo, lsn_hi)
            else:
                src = self.source()
            batch = src.filter(
                (F.col(self.lsn_col) >= lsn_lo) & (F.col(self.lsn_col) <= lsn_hi)
            )

            def apply():
                return self.table.merge(
                    batch, op_col=self.op_col, lsn_col=self.lsn_col, mode=self.mode,
                )
        # retry through snapshot-version races with concurrent
        # maintenance commits: each attempt re-reads CURRENT inside the
        # merge, and the loser's orphaned write dir is age-gated
        # vacuum-safe. Safe to repeat — the LSN guard makes a replayed
        # merge a no-op for rows the winner already applied.
        return self._with_commit_retry(apply)

    def _with_commit_retry(self, fn):
        """The shared lake.table.retry_on_conflict policy, bounded by
        this runner's commit_retries."""
        from ..lake.table import retry_on_conflict

        return retry_on_conflict(fn, attempts=self.commit_retries + 1)

    def run_available(self, window_size: int = 1_000_000) -> list[MergeResult]:
        """Trigger.AvailableNow analog: loop windows from the resume
        LSN until the source is exhausted."""
        results = []
        max_lsn = None
        if getattr(self.source, "supports_range", False):
            # metadata-only high-water mark (parquet footers, no job)
            max_lsn = self.source.max_lsn()
        if max_lsn is None:
            src = self.source()
            max_lsn_row = src.agg(F.max(self.lsn_col).alias("m")).collect()[0]
            max_lsn = max_lsn_row["m"]
        if max_lsn is None:
            return results
        lo = self.offsets.resume_lsn()
        while lo <= max_lsn:
            hi = min(lo + window_size - 1, max_lsn)
            r = self.run_window(lo, hi)
            if r is not None:
                results.append(r)
            lo = hi + 1
        return results

    def metrics(self) -> list[dict]:
        """Per-batch, per-partition lineage + row counts (north_rule
        metrics surface; reference A7 counters)."""
        return self.manifests.all()
