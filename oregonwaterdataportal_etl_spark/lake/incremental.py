"""Changelog-driven incremental materialized aggregates.

A per-key aggregate over a 100 TB lake table (per-conversation stats,
per-source token totals, ...) cannot be refreshed by re-running the
groupBy — that is a full scan plus a full shuffle per refresh. This
module maintains the aggregate FROM THE CHANGELOG instead: each
refresh reads ``LakeTable.read_changes`` with update pre-images (the
Delta CDF convention), turns every change row into a signed
contribution (+post, -pre/-delete), folds the contributions per
group, and merges the adjusted absolutes into a view that is itself a
LakeTable keyed by the group column.

Cost model (the reason this exists): a refresh touches
  - the source buckets whose file lists changed between the two
    snapshots (read_changes' metadata diff — unchanged buckets are
    never opened), and
  - the VIEW buckets holding changed groups (the view is bucketed by
    the group column, so old values come from a pruned read).
Nothing else. No full source scan, no full view rewrite, and the
aggregate shuffle carries only changed groups.

Correctness discipline:
  - Supported aggregate kinds form a commutative group (sum / count /
    count_if), so old + sum(signed contributions) == recompute. Non-
    invertible aggregates (max, count-distinct) are rejected at
    construction — silently wrong is worse than absent.
  - The refresh watermark (last synced source version) is committed
    IN the view table's snapshot summary (``_summary_extra``), so the
    view data and the watermark advance in one atomic pointer swing:
    a crash before the commit replays the whole refresh (same inputs,
    same absolutes — idempotent), a crash after it is already done.
    There is no window where the deltas were double-applied.
  - A group whose live row count reaches zero is DELETED from the
    view, matching what a recompute would produce.

Reference analog: the sink-side counters the reference keeps per
harvest run (userCode/awqms/dag.py result bookkeeping), generalized to
a queryable, incrementally-maintained table.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .table import LakeTable, _next_snapshot

_KINDS = ("sum", "count", "count_if")
_NROWS = "__nrows"


@dataclass(frozen=True)
class AggSpec:
    """One output column of the view.

    kind='sum':      sum(expr) over the group's live rows
    kind='count':    count(*) of the group's live rows (expr ignored)
    kind='count_if': count of live rows where expr (a boolean SQL
                     expression) is true
    expr is a SQL expression string over the source payload columns.
    """

    name: str
    kind: str
    expr: str | None = None

    def __post_init__(self):
        if self.kind not in _KINDS:
            raise ValueError(
                f"AggSpec {self.name!r}: kind {self.kind!r} is not "
                f"invertible; supported: {_KINDS} (max/min/distinct "
                "cannot be maintained from a changelog without full "
                "group state — recompute those)"
            )
        if self.kind != "count" and not self.expr:
            raise ValueError(f"AggSpec {self.name!r}: kind {self.kind!r} needs expr")

    def contribution(self, sign) -> "F.Column":
        """Signed per-row contribution (a long/double), null-safe:
        sum skips null expr values on both the incremental and the
        recompute path."""
        if self.kind == "count":
            return sign.cast("long")
        e = F.expr(self.expr)
        if self.kind == "count_if":
            return sign.cast("long") * F.when(e, 1).otherwise(0)
        return sign * e

    def recompute(self) -> "F.Column":
        """The full-recompute aggregate this spec must equal (used by
        tests and by callers bootstrapping a view from a snapshot)."""
        if self.kind == "count":
            return F.count("*").cast("long")
        e = F.expr(self.expr)
        if self.kind == "count_if":
            return F.sum(F.when(e, 1).otherwise(0)).cast("long")
        return F.sum(e)


class IncrementalAggView:
    """An incrementally-maintained per-group aggregate view.

    view = IncrementalAggView(path, group_col="conv_id", specs=[...])
    view.refresh(spark, source_table)   # after every source commit(s)
    view.read(spark)                    # (group_col, *spec names)
    """

    def __init__(
        self,
        path: str,
        group_col: str,
        specs: list[AggSpec],
        num_buckets: int = 8,
    ):
        if not specs:
            raise ValueError("at least one AggSpec required")
        names = [s.name for s in specs]
        if len(set(names)) != len(names) or _NROWS in names:
            raise ValueError(f"duplicate/reserved spec names: {names}")
        self.path = path
        self.group_col = group_col
        self.specs = list(specs)
        self.num_buckets = num_buckets
        self._table: LakeTable | None = None

    # -------------------------------------------------- state
    def _view_table(self) -> LakeTable | None:
        if self._table is None:
            t = LakeTable(self.path)
            if t.exists():
                self._table = t
        return self._table

    def synced_version(self) -> int:
        """Source version the view reflects — read from the latest
        refresh commit's summary (atomic with the data)."""
        t = self._view_table()
        if t is None:
            return 0
        for snap in reversed(t.history()):
            v = snap.get("summary", {}).get("synced_source_version")
            if v is not None:
                return int(v)
        return 0

    def read(self, spark: SparkSession) -> DataFrame:
        t = self._view_table()
        if t is None:
            raise ValueError(f"view at {self.path} has no refresh yet")
        return t.read(spark).select(
            self.group_col, *[s.name for s in self.specs]
        )

    # -------------------------------------------------- refresh
    def _contributions(self, ch: DataFrame) -> DataFrame:
        """Signed per-group fold of one changelog read."""
        sign = F.when(
            F.col("_change_type").isin("insert", "update"), F.lit(1)
        ).otherwise(F.lit(-1))
        return ch.groupBy(self.group_col).agg(
            F.sum(sign.cast("long")).alias(f"__d{_NROWS}"),
            *[
                F.sum(s.contribution(sign)).alias(f"__d{s.name}")
                for s in self.specs
            ],
        )

    def refresh(self, spark: SparkSession, source: LakeTable) -> dict:
        """Advance the view to the source's current version. Returns
        {'from': v1, 'to': v2, 'groups_changed': n}. No-op (and no
        commit) when already caught up or when the changelog nets out
        empty."""
        v1 = self.synced_version()
        v2 = source.current_version()
        if v2 == v1:
            return {"from": v1, "to": v2, "groups_changed": 0}
        if v2 < v1:
            raise ValueError(
                f"source at v{v2} is BEHIND the view's synced v{v1} "
                "(source rolled back?); rebuild the view from scratch"
            )
        ch = source.read_changes(spark, v1, v2, include_preimages=True)
        delta = self._contributions(ch).localCheckpoint(eager=True)
        n_groups = delta.count()
        vt = self._view_table()
        if n_groups == 0:
            # maintenance-only churn (compact/rebucket): nothing to
            # apply, but the watermark must still advance — commit a
            # metadata-only snapshot if the view exists (an empty merge
            # commits nothing), else just wait.
            if vt is not None:
                vt._commit(_next_snapshot(
                    vt.snapshot(),
                    {"operation": "incr-refresh", "synced_source_version": v2},
                ))
            return {"from": v1, "to": v2, "groups_changed": 0}

        if vt is None:
            fields = [f for f in delta.schema.fields if f.name == self.group_col]
            schema = T.StructType(
                fields
                + [T.StructField(_NROWS, T.LongType())]
                + [
                    T.StructField(
                        s.name,
                        next(
                            f.dataType
                            for f in delta.schema.fields
                            if f.name == f"__d{s.name}"
                        ),
                    )
                    for s in self.specs
                ]
            )
            vt = LakeTable.create(
                self.path,
                schema,
                key_cols=[self.group_col],
                num_buckets=self.num_buckets,
            )
            self._table = vt
            old = spark.createDataFrame([], schema)
        else:
            # pruned old-value read: the view is bucketed BY the group
            # column, so only buckets holding changed groups are opened
            snap = vt.snapshot()
            probe = delta.select(F.col(self.group_col))
            groups = {
                str(r["b"])
                for r in probe.select(
                    vt._bucket_expr(snap).alias("b")
                ).distinct().collect()
            }
            old = vt._resolved_view(spark, snap["version"], groups)

        gcol = self.group_col
        joined = delta.join(
            old,
            on=delta[gcol].eqNullSafe(old[gcol]),
            how="left",
        )
        new_cols = [
            (
                F.coalesce(old[s.name], F.lit(0).cast("long"))
                + F.col(f"__d{s.name}")
            ).alias(s.name)
            for s in self.specs
        ]
        nrows_new = F.coalesce(old[_NROWS], F.lit(0).cast("long")) + F.col(
            f"__d{_NROWS}"
        )
        batch = joined.select(
            delta[gcol].alias(gcol),
            nrows_new.alias(_NROWS),
            *new_cols,
            F.when(nrows_new <= 0, F.lit("delete"))
            .otherwise(F.lit("upsert"))
            .alias("op"),
            F.lit(v2).cast("long").alias("lsn"),
        )
        vt.merge(
            batch,
            _operation_label="incr-refresh",
            _summary_extra={"synced_source_version": v2},
        )
        return {"from": v1, "to": v2, "groups_changed": n_groups}

    # -------------------------------------------------- oracle helper
    def recompute(self, spark: SparkSession, source: LakeTable) -> DataFrame:
        """The full-scan groupBy this view must always equal — the
        testing oracle and the bootstrap path for pre-existing tables."""
        return source.read(spark).groupBy(self.group_col).agg(
            *[s.recompute().alias(s.name) for s in self.specs]
        )
