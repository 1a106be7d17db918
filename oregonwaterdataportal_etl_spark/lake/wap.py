"""Write-audit-publish (WAP) staging for LakeTable.

The Iceberg WAP pattern: a writer stages one or more commits that are
durable and fully readable by the staging session but INVISIBLE to
every normal reader, runs audits against the staged state, and then
publishes the whole batch atomically as one main-line snapshot (or
aborts, leaving main untouched). The reference gates every sink write
behind validation before the POST (pydantic models + batch helpers,
userCode/helper_classes.py:94-129, userCode/awqms/dag.py:155-187);
WAP is that discipline recast for snapshot commits — validate the
*table state the write produces*, not just the rows going in.

Mechanics on the LakeTable substrate:

* :class:`WapStage` is a LakeTable whose commits are rerouted to its
  ``wap-<id>-NNNN.json`` ManifestChain (lake/table.py): the same
  ``versioned_commit`` publish (fsync + fail-if-exists link), never a
  pointer. Staged manifests sit outside the ``snap-`` namespace, so
  both commit modes ignore them: pointer-mode readers follow CURRENT,
  rename-free readers derive CURRENT from ``snap-`` names only. Every
  LakeTable operation — merge (cow/mor), merge_prebucketed, compact,
  read, read_changes — works unchanged inside a stage because only
  manifest naming differs.
* Data files are written into the table's own data dir, so PUBLISH
  IS METADATA-ONLY: the staged tip manifest (self-contained file
  lists) is renumbered onto the main chain through the normal
  optimistic commit. No data moves, no second write.
* Publish is conflict-checked: it requires main still at the
  stage's recorded base version. A concurrent main commit means the
  staged file-map no longer describes "base + this work" — the stage
  must be aborted and replayed (we refuse to guess a rebase; change
  batches are replayable by construction, CdcRunner replays are
  idempotent).
* Audits run as ONE aggregation job over the staged resolved view
  regardless of how many audits are attached (each audit contributes
  expressions to a shared ``agg``), so auditing a 100 TB staged
  state costs one scan, not one scan per check.
* Abort deletes staged manifests and (optionally, eagerly) the data
  files only the stage references. ``LakeTable.vacuum`` treats files
  referenced by live wap manifests as live, so a crashed stage is
  never swept before it is explicitly aborted or published.

At 100 TB: staging adds zero overhead to the write path (same jobs,
different manifest name), audits are one scan, publish and abort are
O(metadata).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .table import (
    CommitConflictError,
    LakeTable,
    staged_manifests,
    wap_chain,
)


class WapConflictError(RuntimeError):
    """Main advanced past the stage's base version — abort and restage."""


class WapAuditError(RuntimeError):
    """One or more audits failed; the stage is left intact for
    inspection. ``report`` maps audit name -> detail string."""

    def __init__(self, report: dict[str, str]):
        super().__init__(f"WAP audits failed: {report}")
        self.report = report


# ----------------------------------------------------------- audits
class Audit:
    """One declarative check over the staged resolved view.

    ``named_exprs()`` returns (alias, aggregation column) pairs —
    aliases are content-derived so identical measurements collapse and
    distinct ones never collide; ``verdict(row)`` inspects the single
    collected aggregate row and returns (ok, detail). All attached
    audits share ONE agg job."""

    name: str = "audit"

    def named_exprs(self) -> list:  # pragma: no cover - interface
        raise NotImplementedError

    def verdict(self, row) -> tuple[bool, str]:  # pragma: no cover
        raise NotImplementedError


class NotNull(Audit):
    """Named columns must contain no nulls in the staged state."""

    def __init__(self, *cols: str):
        self.cols = list(cols)
        self.name = f"not_null({','.join(cols)})"

    def named_exprs(self):
        return [
            (f"__wap_nn_{c}", F.count(F.when(F.col(c).isNull(), 1)))
            for c in self.cols
        ]

    def verdict(self, row):
        bad = {c: row[f"__wap_nn_{c}"] for c in self.cols if row[f"__wap_nn_{c}"]}
        return (not bad, f"null rows per column: {bad}" if bad else "ok")


class UniqueKeys(Audit):
    """The staged state must hold one row per key (the table invariant
    a buggy custom write path would break first)."""

    def __init__(self, key_cols: list[str]):
        self.key_cols = list(key_cols)
        self.name = f"unique_keys({','.join(key_cols)})"
        self._d = "__wap_uk_d_" + "_".join(self.key_cols)

    def named_exprs(self):
        return [
            ("__wap_count", F.count(F.lit(1))),
            (self._d, F.countDistinct(*[F.col(c) for c in self.key_cols])),
        ]

    def verdict(self, row):
        n, d = row["__wap_count"], row[self._d]
        return (n == d, "ok" if n == d else f"{n} rows but {d} distinct keys")


class RowBounds(Audit):
    """Staged row count within [min_rows, max_rows] — the coarse
    fat-finger guard (e.g. an empty upstream must not publish an
    empty table over a full one)."""

    def __init__(self, min_rows: int = 0, max_rows: int | None = None):
        self.min_rows, self.max_rows = min_rows, max_rows
        self.name = f"row_bounds({min_rows},{max_rows})"

    def named_exprs(self):
        return [("__wap_count", F.count(F.lit(1)))]

    def verdict(self, row):
        n = row["__wap_count"]
        if n < self.min_rows:
            return False, f"{n} rows < min {self.min_rows}"
        if self.max_rows is not None and n > self.max_rows:
            return False, f"{n} rows > max {self.max_rows}"
        return True, "ok"


class ExprHolds(Audit):
    """A boolean expression every staged row must satisfy
    (e.g. ``F.col('turn_idx') >= 0``)."""

    def __init__(self, name: str, cond):
        self.name = f"holds({name})"
        self._alias = f"__wap_eh_{abs(hash(name)) % 10**8}"
        self.cond = cond

    def named_exprs(self):
        return [(self._alias, F.count(F.when(~self.cond, 1)))]

    def verdict(self, row):
        bad = row[self._alias]
        return (bad == 0, "ok" if bad == 0 else f"{bad} violating rows")


class ChangeAudit(Audit):
    """Audit over the STAGED CHANGELOG (stage.read_changes from the
    base version) instead of the staged state — the guard for "how
    much did this publish change", which state audits cannot see.
    ``publish`` routes these to a second single-agg pass over the
    changelog frame (``_change_type`` ∈ insert/update/delete)."""

    wants_changes = True


class DeltaBounds(ChangeAudit):
    """Bound the net change a publish may apply: absolute caps per
    change type and/or a deleted-fraction cap against the base row
    count (metadata-only — no base scan). The classic WAP guard: an
    empty or truncated upstream must not silently delete the table."""

    def __init__(
        self,
        max_inserted: int | None = None,
        max_updated: int | None = None,
        max_deleted: int | None = None,
        max_deleted_frac: float | None = None,
    ):
        self.max_inserted = max_inserted
        self.max_updated = max_updated
        self.max_deleted = max_deleted
        self.max_deleted_frac = max_deleted_frac
        self.name = (
            f"delta_bounds(ins<={max_inserted},upd<={max_updated},"
            f"del<={max_deleted},del_frac<={max_deleted_frac})"
        )
        self._base_rows: int | None = None  # injected by publish

    def named_exprs(self):
        return [
            (
                f"__wap_ct_{t}",
                F.count(F.when(F.col("_change_type") == t, 1)),
            )
            for t in ("insert", "update", "delete")
        ]

    def verdict(self, row):
        ins = row["__wap_ct_insert"]
        upd = row["__wap_ct_update"]
        dele = row["__wap_ct_delete"]
        problems = []
        if self.max_inserted is not None and ins > self.max_inserted:
            problems.append(f"{ins} inserts > {self.max_inserted}")
        if self.max_updated is not None and upd > self.max_updated:
            problems.append(f"{upd} updates > {self.max_updated}")
        if self.max_deleted is not None and dele > self.max_deleted:
            problems.append(f"{dele} deletes > {self.max_deleted}")
        if self.max_deleted_frac is not None and self._base_rows:
            frac = dele / self._base_rows
            if frac > self.max_deleted_frac:
                problems.append(
                    f"deleted {frac:.3f} of {self._base_rows} base rows "
                    f"> {self.max_deleted_frac}"
                )
        return (not problems, "; ".join(problems) or "ok")


def run_audits(df: DataFrame, audits: list[Audit]) -> dict[str, str]:
    """Run all audits in ONE aggregation job; return {name: detail}
    for failures only (empty dict = all green)."""
    if not audits:
        return {}
    exprs: dict[str, object] = {}
    for a in audits:
        for alias, e in a.named_exprs():
            exprs.setdefault(alias, e.alias(alias))
    row = df.agg(*exprs.values()).collect()[0]
    report = {}
    for a in audits:
        ok, detail = a.verdict(row)
        if not ok:
            report[a.name] = detail
    return report


# ------------------------------------------------------------ stage
class WapStage(LakeTable):
    """A LakeTable view whose commits land on a private staged chain:
    the stage's ``wap-<id>-`` chain (``self._staged``) overlaying the
    main chain (``self._chain``, the fallback for every version the
    stage has not committed). A stage over a partitioned table is the
    same stage: partitions are groups of the one chain.

    Create with :func:`begin_wap` (or re-attach to an existing stage
    by constructing with the same ``wap_id`` after a crash — staged
    manifests are durable)."""

    def __init__(self, path: str, wap_id: str):
        super().__init__(path)
        if not wap_id or any(ch in wap_id for ch in "/\\ \t\n"):
            raise ValueError(f"invalid wap_id {wap_id!r}")
        self.wap_id = wap_id
        self._staged = wap_chain(self.meta_dir, wap_id)
        tip = self._staged.latest()
        if tip is not None:
            self._base_version = self._staged.read(tip)["wap"]["base_version"]
        else:
            self._base_version = LakeTable.current_version(self)

    def _staged_tip(self) -> int | None:
        return self._staged.latest()

    def staged_versions(self) -> list[int]:
        return self._staged.versions()

    def current_version(self) -> int:
        tip = self._staged_tip()
        return tip if tip is not None else LakeTable.current_version(self)

    def snapshot(self, version: int | None = None) -> dict:
        v = self.current_version() if version is None else version
        try:
            return self._staged.read(v)
        except FileNotFoundError:
            return self._chain.read(v)

    def _commit(self, snap: dict) -> None:
        """Publish onto the staged chain: same complete-before-named
        manifest discipline, never a pointer, never a snap- name. Two
        sessions staging under the same wap_id arbitrate on the link
        exactly like two main-line committers."""
        snap = dict(snap)
        snap["wap"] = {"id": self.wap_id, "base_version": self._base_version}
        self._staged.commit(snap)

    def _drop_staged_manifests(self) -> None:
        self._staged.expire(self.staged_versions())

    # -- lifecycle -------------------------------------------------
    def publish(
        self,
        spark: SparkSession | None = None,
        audits: list[Audit] | None = None,
    ) -> int:
        """Audit the staged state, then fast-forward main onto it.

        Returns the published main-line version. Raises
        :class:`WapAuditError` (stage kept) on audit failure,
        :class:`WapConflictError` (stage kept) if main moved past the
        base version, ``ValueError`` if nothing was staged."""
        tip = self._staged_tip()
        if tip is None:
            raise ValueError(f"wap stage {self.wap_id!r}: nothing staged")
        if audits:
            if spark is None:
                raise ValueError("publish(audits=...) needs a SparkSession")
            state_audits = [
                a for a in audits if not getattr(a, "wants_changes", False)
            ]
            change_audits = [
                a for a in audits if getattr(a, "wants_changes", False)
            ]
            report = run_audits(self.read(spark), state_audits)
            if change_audits:
                base_rows = sum(
                    (LakeTable.snapshot(self, self._base_version).get(
                        "row_counts"
                    ) or {}).values()
                )
                for a in change_audits:
                    a._base_rows = base_rows
                report.update(
                    run_audits(
                        self.read_changes(spark, self._base_version, tip),
                        change_audits,
                    )
                )
            if report:
                raise WapAuditError(report)
        main = LakeTable(self.path)
        current = main.current_version()
        if current != self._base_version:
            cs = LakeTable.snapshot(self, current)
            s = cs.get("summary") or {}
            if (
                s.get("operation") == "wap-publish"
                and s.get("wap_id") == self.wap_id
                and cs.get("parent") == self._base_version
            ):
                # OUR publish already committed (crash between the main
                # commit and the staged-chain cleanup): finish the
                # cleanup idempotently instead of reporting a conflict
                self._drop_staged_manifests()
                return current
            raise WapConflictError(
                f"main moved {self._base_version} -> {current} while wap "
                f"stage {self.wap_id!r} was open; abort and restage"
            )
        snap = dict(self.snapshot(tip))
        staged_commits = len(self.staged_versions())
        snap["version"] = current + 1
        snap["parent"] = current
        snap.pop("wap", None)
        summary = dict(snap.get("summary") or {})
        snap["summary"] = {
            **summary,
            "operation": "wap-publish",
            "wap_id": self.wap_id,
            "staged_commits": staged_commits,
            "staged_operation": summary.get("operation"),
        }
        try:
            main._commit(snap)
        except CommitConflictError as e:
            raise WapConflictError(
                f"main committed concurrently while publishing wap stage "
                f"{self.wap_id!r}; abort and restage"
            ) from e
        self._drop_staged_manifests()
        return snap["version"]

    def abort(self, drop_data: bool = True) -> int:
        """Discard the stage. With ``drop_data`` (default) the data
        files ONLY this stage references are deleted eagerly; files
        shared with any main snapshot or any other live stage are
        kept. Either way ``vacuum`` would eventually collect them.
        Returns the number of data files removed."""
        staged_files: set[str] = set()
        for v in self.staged_versions():
            staged_files.update(self._snap_files(self.snapshot(v)))
        removed = 0
        if drop_data and staged_files:
            keep: set[str] = set()
            for snap in self.history() + staged_manifests(
                self.meta_dir, but_prefix=self._staged.prefix
            ):
                keep.update(self._snap_files(snap))
            for p in staged_files - keep:
                try:
                    os.remove(p)
                    removed += 1
                except FileNotFoundError:
                    pass
        self._drop_staged_manifests()
        return removed


def begin_wap(table, wap_id: str) -> WapStage:
    """Open (or re-attach to) a write-audit-publish stage on a table."""
    return WapStage(table.path, wap_id)
