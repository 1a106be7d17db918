"""Policy-driven automatic table maintenance.

The reference runs its upkeep on fixed Dagster cron cadences
(userCode/wrd/dag.py:375-394 — crawl every 4h regardless of need);
at 10^10-event scale maintenance must instead be DEMAND-driven: act
when the table's own statistics say read amplification, delta debt,
bucket overload or snapshot debt crossed a threshold, and do nothing
otherwise. ``maintain`` is that single idempotent entry point — the
loop a maintenance job (or the CdcRunner host process between
windows) calls as often as it likes.

Every decision is made from SNAPSHOT METADATA ONLY (file lists,
per-bucket row counts, delta/tombstone maps — all in the manifest
JSON): deciding costs zero Spark jobs and zero data I/O, so calling
``maintain`` on a healthy 100 TB table is microseconds. Only the
chosen actions touch data, and each is the engine's existing
measured primitive (rebucket, compact with zx delta folding,
expire_tombstones under the offset-watermark safety contract,
vacuum with orphan grace).

Ordering: rebucket first (it rewrites everything, so compacting
before it is wasted work), then compact, then tombstone expiry,
then vacuum (which can now collect what the earlier steps
superseded). One action per concern per call; re-run until the
report comes back empty — each action's trigger is cleared by the
action itself, so the loop converges.
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from .table import LakeTable, _snap_partitions, snapshot_files


@dataclass
class MaintenancePolicy:
    """Thresholds; None disables the corresponding concern.

    max_files_per_bucket: compact when any bucket's base-file count
        exceeds this (read amplification bound).
    max_delta_files_per_bucket: fold MOR deltas when any bucket
        carries more than this many delta files (MOR read debt).
    max_rows_per_bucket: double the bucket count (repeatedly, to the
        smallest power-of-two multiple that satisfies the bound on
        CURRENT totals) when the mean per-bucket row count exceeds
        this — per-bucket files otherwise grow without bound and
        merge parallelism caps at num_buckets.
    expire_tombstones_with_offsets: an OffsetLog; tombstones at or
        below its committed watermark are provably unreplayable and
        get expired (the safety contract is enforced by the table).
    keep_snapshots: vacuum to this many newest snapshots.
    orphan_grace_seconds: in-flight-writer grace for vacuum.
    cluster_by: carried into compact (keep the z-order layout on
        maintenance rewrites instead of silently losing it).
    """

    max_files_per_bucket: int | None = 4
    max_delta_files_per_bucket: int | None = 4
    max_rows_per_bucket: int | None = None
    expire_tombstones_with_offsets: object | None = None
    keep_snapshots: int | None = None
    orphan_grace_seconds: float = 86400.0
    cluster_by: list[str] | None = None
    compact_kwargs: dict = field(default_factory=dict)
    # partitioned tables only (ignored for flat tables): retention =
    # keep the newest K partition values, drop the rest METADATA-ONLY
    # (lexicographic order == chronological for days/months transforms);
    # data-relative rather than wall-clock-relative so a paused pipeline
    # never eats its own tail on restart
    keep_partitions: int | None = None


def plan_maintenance(table: LakeTable, policy: MaintenancePolicy) -> dict:
    """The decision half of ``maintain`` — metadata only, no Spark.

    Returns {concern: reason} for every action the policy would take
    now (empty dict = healthy table). Counts are per group: a bucket,
    or a (partition, bucket) pair of a partitioned table. Retention
    (``keep_partitions``) comes first: the plan lists the partition
    values to drop, and nothing is compacted that is about to go."""
    snap = table.snapshot()
    n_buckets = snap["num_buckets"]
    plan: dict[str, str] = {}
    live = _snap_partitions(snap)
    if policy.keep_partitions is not None and len(live) > policy.keep_partitions:
        # slice, not live[-K] (K=0 would index live[0] and silently
        # invert "retain zero" into "retain all")
        plan["drop_partitions"] = live[: len(live) - policy.keep_partitions]
        return plan
    per_group = Counter((side, p, b) for side, p, b, _f in snapshot_files(snap))

    def worst(side: str) -> int:
        return max((n for (s, *_g), n in per_group.items() if s == side), default=0)

    if policy.max_rows_per_bucket:
        rows = snap.get("row_counts", {})
        total = sum(rows.values())
        # a partitioned table spreads each partition over the buckets
        parts = max(len(live), 1)
        mean = total / (n_buckets * parts) if n_buckets else 0
        if mean > policy.max_rows_per_bucket:
            target = n_buckets
            while total / (target * parts) > policy.max_rows_per_bucket:
                target *= 2
            plan["rebucket"] = (
                f"mean rows/bucket {mean:.0f} > {policy.max_rows_per_bucket}; "
                f"{n_buckets} -> {target} buckets"
            )
            plan["_rebucket_target"] = target  # type: ignore[assignment]

    if "rebucket" not in plan:
        if policy.max_files_per_bucket is not None:
            if worst("b") > policy.max_files_per_bucket:
                plan["compact"] = (
                    f"worst bucket has {worst('b')} base files > "
                    f"{policy.max_files_per_bucket}"
                )
        if "compact" not in plan and policy.max_delta_files_per_bucket is not None:
            if worst("d") > policy.max_delta_files_per_bucket:
                plan["compact"] = (
                    f"worst bucket has {worst('d')} delta files > "
                    f"{policy.max_delta_files_per_bucket}"
                )

    if policy.expire_tombstones_with_offsets is not None and worst("t"):
        plan["expire_tombstones"] = (
            "tombstones present; expiring below the committed offset watermark"
        )

    if policy.keep_snapshots is not None:
        n_snaps = len(table.history())
        if n_snaps > policy.keep_snapshots:
            plan["vacuum"] = (
                f"{n_snaps} snapshots > keep_snapshots {policy.keep_snapshots}"
            )
    return plan


def maintain(
    spark: SparkSession, table: LakeTable, policy: MaintenancePolicy
) -> dict:
    """Decide from snapshot metadata, then run the needed actions.

    Returns {concern: reason} for the actions actually taken (the
    ``plan_maintenance`` plan, executed). Idempotent: a second call
    on the resulting table plans nothing for the same concerns. A
    retention drop runs first and the rest is planned after it."""
    plan = plan_maintenance(table, policy)
    if "drop_partitions" in plan:
        table.drop_partitions(values=plan["drop_partitions"])
        plan.update(plan_maintenance(table, policy))
    if "rebucket" in plan:
        table.rebucket(spark, plan.pop("_rebucket_target"))
        # rebucket rewrites every file into the NEW layout — one base
        # file per bucket — but MOR deltas stay deltas (rewritten, not
        # folded), so the compact concern must be re-planned against
        # the post-rebucket snapshot rather than assumed satisfied
        replan = plan_maintenance(table, policy)
        if "compact" in replan:
            plan["compact"] = replan["compact"]
        else:
            plan.pop("compact", None)
    if "compact" in plan:
        kwargs = dict(policy.compact_kwargs)
        if policy.cluster_by:
            kwargs.setdefault("cluster_by", policy.cluster_by)
        if policy.max_delta_files_per_bucket is not None:
            kwargs.setdefault("min_delta_files", 1)
        table.compact(
            spark,
            target_files_per_bucket=1,
            **kwargs,
        )
    if "expire_tombstones" in plan:
        table.expire_tombstones(
            spark, offsets=policy.expire_tombstones_with_offsets
        )
    if "vacuum" in plan:
        table.vacuum(
            keep_last=policy.keep_snapshots,
            orphan_grace_seconds=policy.orphan_grace_seconds,
        )
    return plan
