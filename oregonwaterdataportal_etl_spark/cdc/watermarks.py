"""Per-stream high-watermark store, incrementally maintained.

Reference analog: FROST's indexed per-stream phenomenonTime range read
(userCode/helper_classes.py:131-162) — the harvest loop asks "what is
the newest observation I already hold for stream X?" before admitting
new rows. Round 1 answered that with an aggregation over the ENTIRE
base table per batch; at a 10^10-row base that is a full scan per
harvest. Round 2 replaced it with a side table — but rewrote the WHOLE
side table per batch (O(n_streams) write per window: a multi-GB
rewrite per minute at 10^8 streams).

Round 3 makes the store itself merge-on-read, reusing the LakeTable
MOR discipline at miniature scale:

- ``update`` writes ONLY the batch's per-key maxima as a delta
  directory — O(batch keys) per window, independent of store size —
  and commits a manifest listing (base, deltas) with the same
  O_EXCL-versioned optimistic concurrency as ``LakeTable._commit``;
- ``read`` resolves base ∪ deltas with one max-per-key aggregation;
- once ``compact_every`` deltas accumulate, ``update`` folds them
  into a new base (one shuffle over the store, amortized);
- concurrent updaters are SAFE, not just absorbed: the loser of a
  version race re-reads the manifest and re-commits with its delta
  appended (watermark merge is max — commutative and associative, so
  replaying the commit in any order yields the same store);
- superseded version directories are removed only past an age grace
  window (``cleanup_grace_seconds``), so a reader still scanning an
  old version never has files deleted under it (the same in-flight
  reader protection as ``LakeTable.vacuum``).
"""

from __future__ import annotations

import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..lake.table import DATA_FILE_CODEC, POINTER, CommitConflictError, ManifestChain


class WatermarkStore:
    def __init__(
        self,
        path: str,
        key_col: str = "conv_id",
        wm_col: str = "wm",
        compact_every: int = 8,
        cleanup_grace_seconds: float = 3600.0,
        keep_last_versions: int = 2,
        commit_mode: str = "pointer",
    ):
        if commit_mode not in ("pointer", "rename-free"):
            raise ValueError(f"unknown commit_mode {commit_mode!r}")
        self.path = path
        self.key_col = key_col
        self.wm_col = wm_col
        self.compact_every = compact_every
        self.cleanup_grace_seconds = cleanup_grace_seconds
        self.keep_last_versions = keep_last_versions
        self.commit_mode = commit_mode
        os.makedirs(path, exist_ok=True)
        # v-<8 digits>.json manifests; legacy v-<hex> DATA dirs never
        # count as versions
        self._chain = ManifestChain(path, "v-")

    # ------------------------------------------------------------ meta
    def _current_version(self) -> int | None:
        try:
            return self._chain.current()
        except ValueError:
            # round-2 stores pointed CURRENT at the data DIRECTORY
            # itself (single full-rewrite layout, no manifests).
            # Migrate transparently: adopt that dir as version 0's base
            # (review finding: int-parsing the legacy pointer crashed
            # every pre-upgrade store with no migration path).
            raw = self._chain.pointer_text()
            if raw is None:  # a concurrent rename-free migration finished
                return self._chain.current()
            if raw.startswith("v-") and os.path.isdir(os.path.join(self.path, raw)):
                try:
                    self._commit({"version": 0, "base": raw, "deltas": []})
                except CommitConflictError:
                    pass  # a concurrent (or crashed) migrator published it
                if self.commit_mode == "rename-free":
                    # a rename-free commit swings no pointer, so the
                    # legacy one goes; the chain then derives version 0
                    try:
                        os.remove(os.path.join(self.path, POINTER))
                    except FileNotFoundError:
                        pass
                return self._chain.current()
            raise

    def _manifest(self, version: int) -> dict:
        return self._chain.read(version)

    def _commit(self, manifest: dict) -> None:
        """The chain's ``versioned_commit`` publish of v-N.json; the
        loser of a concurrent race gets CommitConflictError and retries
        with a re-read parent."""
        self._chain.commit(manifest, rename_free=self.commit_mode == "rename-free")

    def exists(self) -> bool:
        return self._current_version() is not None

    # ------------------------------------------------------------ read
    def _resolved(self, spark: SparkSession, manifest: dict) -> DataFrame:
        dirs = ([manifest["base"]] if manifest.get("base") else []) + manifest["deltas"]
        df = spark.read.parquet(*[os.path.join(self.path, d) for d in dirs])
        return df.groupBy(self.key_col).agg(F.max(self.wm_col).alias(self.wm_col))

    def read(self, spark: SparkSession) -> DataFrame | None:
        """(key, wm) — one row per stream, or None before first update.
        MOR resolve: base ∪ delta dirs, max per key (one tiny shuffle
        over n_streams + recent batch keys)."""
        v = self._current_version()
        if v is None:
            return None
        return self._resolved(spark, self._manifest(v))

    # ---------------------------------------------------------- update
    def update(self, batch_watermarks: DataFrame, max_retries: int = 5) -> None:
        """Fold a batch's per-key maxima into the store: write them as
        ONE delta directory (cost O(batch keys), never O(n_streams))
        and commit a manifest appending it. Every ``compact_every``
        deltas, fold base+deltas into a fresh base instead (amortized
        store-size shuffle — the LakeTable MOR compaction pattern)."""
        spark = batch_watermarks.sparkSession
        ddir = f"d-{uuid.uuid4().hex}"
        (
            batch_watermarks.select(F.col(self.key_col), F.col(self.wm_col))
            .groupBy(self.key_col)
            .agg(F.max(self.wm_col).alias(self.wm_col))
            .write.mode("overwrite")
            .option("compression", DATA_FILE_CODEC)
            .parquet(os.path.join(self.path, ddir))
        )
        for _attempt in range(max_retries):
            v = self._current_version()
            parent = self._manifest(v) if v is not None else {"base": None, "deltas": []}
            new_v = (v if v is not None else -1) + 1
            deltas = parent["deltas"] + [ddir]
            manifest = {"version": new_v, "base": parent.get("base"), "deltas": deltas}
            if len(deltas) >= self.compact_every:
                # fold into a fresh base; the commit race below still
                # protects us — if another updater wins, we recompact
                # against the NEW parent on retry
                bdir = f"b-{uuid.uuid4().hex}"
                self._resolved(spark, manifest).write.mode("overwrite").option(
                    "compression", DATA_FILE_CODEC
                ).parquet(os.path.join(self.path, bdir))
                manifest = {"version": new_v, "base": bdir, "deltas": []}
            try:
                self._commit(manifest)
                break
            except CommitConflictError:
                if manifest["deltas"] == [] and manifest.get("base"):
                    shutil.rmtree(
                        os.path.join(self.path, manifest["base"]), ignore_errors=True
                    )
                continue
        else:
            raise CommitConflictError(
                f"watermark update lost {max_retries} consecutive version races"
            )
        self._cleanup()

    # --------------------------------------------------------- cleanup
    def _cleanup(self) -> None:
        """Remove version dirs/manifests superseded by the newest
        ``keep_last_versions`` manifests, but only once they have been
        unreferenced for the grace window — a reader mid-scan on an old
        version keeps its files.

        The grace clock runs from SUPERSESSION, not from the dir's
        write time (review finding: a long-lived delta's mtime can be
        hours old the moment it leaves the live set, which would make
        an mtime-based grace expire instantly under an active reader).
        First sweep that sees a dir unreferenced drops a ``gc-<dir>``
        marker; the dir is removed only when its marker is older than
        the grace window."""
        v = self._current_version()
        if v is None:
            return
        live: set[str] = set()
        for kv in range(max(0, v - self.keep_last_versions + 1), v + 1):
            try:
                m = self._manifest(kv)
            except FileNotFoundError:
                continue
            if m.get("base"):
                live.add(m["base"])
            live.update(m["deltas"])
        now = time.time()
        for entry in os.listdir(self.path):
            p = os.path.join(self.path, entry)
            # "v-" DIRS are legacy round-2 bases adopted by the pointer
            # migration; once a compaction fold supersedes one it must
            # be swept like any other data dir (review finding: the
            # b-/d- prefix filter leaked it forever). v-N.json manifest
            # FILES never match the isdir check.
            if entry.startswith(("b-", "d-", "v-")) and os.path.isdir(p):
                marker = os.path.join(self.path, f"gc-{entry}")
                if entry in live:
                    # re-referenced (e.g. rollback-style history walk):
                    # clear any stale marker
                    if os.path.exists(marker):
                        try:
                            os.remove(marker)
                        except OSError:
                            pass
                    continue
                try:
                    if not os.path.exists(marker):
                        with open(marker, "w") as f:
                            f.write(str(now))
                    with open(marker) as f:
                        unref_at = float(f.read().strip() or 0)
                    if now - unref_at >= self.cleanup_grace_seconds:
                        shutil.rmtree(p, ignore_errors=True)
                        os.remove(marker)
                except (OSError, ValueError):
                    pass
        for mv in self._chain.versions():
            try:
                if mv <= v - self.keep_last_versions and (
                    now - os.path.getmtime(self._chain.path(mv))
                    >= self.cleanup_grace_seconds
                ):
                    self._chain.expire([mv])
            except OSError:
                pass
        # orphaned markers (their dir is gone)
        for entry in os.listdir(self.path):
            if entry.startswith("gc-") and not os.path.isdir(
                os.path.join(self.path, entry[3:])
            ):
                try:
                    os.remove(os.path.join(self.path, entry))
                except OSError:
                    pass
