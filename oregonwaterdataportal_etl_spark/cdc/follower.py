"""ChangelogFollower — the downstream consumer loop over
LakeTable.read_changes (table-to-table CDC without a broker).

The ingest side (CdcRunner) tails an external change stream INTO the
lake; this is the mirror: a consumer tails the TABLE's snapshot
history and delivers each version range's net changelog to a sink —
replica tables, index builders, aggregate maintainers. Reference
analog: the sink-delegated downstream query surface
(/root/reference/docker/frost/indices.sql:14-40) recast as incremental
consumption.

Delivery semantics are the runner's two layers inverted:

- the follower's OffsetLog records the last DELIVERED to_version;
  a crash between sink and offset commit redelivers the same range
  (at-least-once);
- exactly-once EFFECT therefore requires an idempotent sink. The
  built-in replica sink is: changelog rows are replayed as ordinary
  change events into the replica's merge, whose per-row LSN guard
  makes redelivery a no-op — identical to how the runner absorbs
  replayed windows.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..lake.table import LakeTable
from .offsets import OffsetLog


def changelog_to_events(
    changes: DataFrame,
    fallback_lsn: int,
    op_col: str = "op",
    lsn_col: str = "lsn",
) -> DataFrame:
    """Turn a read_changes result back into an ordinary change-event
    batch (upsert/delete + LSN) that any LakeTable.merge can apply.

    fallback_lsn replaces a null _commit_lsn (an expired-tombstone
    delete — the source's LSN for it is gone). Any value at or above
    the source's high-watermark is safe: the replica's LWW guard only
    needs it to beat the replica's stored row, and the vanished delete
    by construction beat everything the replica has seen."""
    return changes.select(
        *[c for c in changes.columns if not c.startswith("_change")
          and c != "_commit_lsn"],
        F.when(F.col("_change_type") == "delete", F.lit("delete"))
        .otherwise(F.lit("upsert"))
        .alias(op_col),
        F.coalesce(F.col("_commit_lsn"), F.lit(fallback_lsn)).alias(lsn_col),
    )


class ChangelogFollower:
    def __init__(
        self,
        table: LakeTable,
        offsets: OffsetLog,
        sink: Callable[[DataFrame, int, int], None],
        start_version: int | None = None,
    ):
        """sink(changes_df, from_version, to_version) delivers one
        range; it may be called again with the same range after a
        crash, so it must be idempotent (see module header).
        start_version: where a fresh follower (empty offset log)
        starts; default 0 = the table's empty origin, i.e. the first
        delivery carries the whole current state as inserts."""
        self.table = table
        self.offsets = offsets
        self.sink = sink
        self.start_version = 0 if start_version is None else start_version

    def run_available(self, spark: SparkSession) -> list[tuple[int, int]]:
        """Deliver everything up to the table's current version (one
        net hop — intermediate versions coalesce, like AvailableNow).
        Returns the delivered (from, to) ranges ([] when caught up)."""
        last = self.offsets.last_lsn()
        frm = self.start_version if last < 0 else last
        cur = self.table.current_version()
        if cur <= frm:
            return []
        changes = self.table.read_changes(spark, frm, cur)
        self.sink(changes, frm, cur)
        self.offsets.commit(cur, f"chg-{frm}-{cur}")
        return [(frm, cur)]


def make_replica_sink(
    replica: LakeTable, source: LakeTable
) -> Callable[[DataFrame, int, int], None]:
    """The idempotent built-in sink: replay the changelog as change
    events into a replica table. Redelivery is absorbed by the
    replica's LSN guard."""

    def sink(changes: DataFrame, frm: int, to: int) -> None:
        from .source import LsnRangedParquetSource  # noqa: F401 (docs)
        from ..lake.table import _files_max_lsn, snapshot_files

        snap = source.snapshot(to)
        if snap.get("partition_col"):
            # partitioned source: dropped-partition deletes arrive with
            # null _commit_lsn and must inherit an LSN STRICTLY ABOVE
            # everything the replica has applied — the dropped rows
            # themselves may hold the table's highest LSNs, so the
            # watermark must span the FROM version's files too (the
            # to-version no longer references them), and +1 so the
            # delete wins outright instead of tying into the op-aware
            # tie-break.
            snaps = [snap] + ([source.snapshot(frm)] if frm > 0 else [])
            wm = _files_max_lsn([f for s in snaps for *_g, f in snapshot_files(s)])
            replica.merge(
                changelog_to_events(
                    changes, fallback_lsn=(wm if wm is not None else 0) + 1
                )
            )
            return
        files = [f for *_g, f in snapshot_files(snap)]
        wm = _files_max_lsn(files)
        if wm is None:
            wm = (
                changes.agg(F.max("_commit_lsn").alias("m")).collect()[0]["m"]
                or 0
            )
        replica.merge(changelog_to_events(changes, fallback_lsn=wm))

    return sink


def replicate_available(
    spark: SparkSession,
    source: LakeTable,
    replica: LakeTable,
    offsets: OffsetLog,
) -> list[tuple[int, int]]:
    """One-call table-to-table incremental replication hop."""
    return ChangelogFollower(
        source, offsets, make_replica_sink(replica, source)
    ).run_available(spark)
