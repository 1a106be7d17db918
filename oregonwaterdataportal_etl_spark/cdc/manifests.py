"""Idempotent commit manifests — the exactly-once ledger.

Reference analog: deterministic ids + the sink's duplicate-id
rejection (userCode/util.py:30-37 deterministic_hash;
userCode/wrd/test_frost.py:28-53 duplicate insert -> 500 treated as
"already there", userCode/groundwater/dag.py:62-148). Here the
deterministic id is a content hash of the offset window, and
"replaying a committed batch_id is a no-op" (FIXTURES.md section 4).

Commit ordering for exactly-once across target + metadata without a
cross-table transaction (SURVEY.md section 7.3 hard part (a)):

    1. manifest row -> status=pending            (intent)
    2. LakeTable.merge                           (idempotent: LSN guard)
    3. manifest row -> status=committed + metrics
    4. offset log commit

Crash between 2 and 3/4: restart sees pending -> re-runs the merge,
which the per-row LSN guard makes a no-op. Crash after 4: restart
skips the window entirely (offset filter). Both failure windows are
replay-safe.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
from datetime import datetime, timezone

from ..lake.table import _fsync_dir, durable_link, durable_replace


def batch_id_for_window(source_id: str, lsn_lo: int, lsn_hi: int) -> str:
    """Deterministic id of an offset window (reference: md5-derived
    deterministic ids, userCode/util.py:30-37)."""
    return hashlib.md5(f"{source_id}:{lsn_lo}:{lsn_hi}".encode()).hexdigest()[:18]


class ManifestLog:
    """commit_mode="pointer" (default): one mutable JSON per batch,
    atomically replaced on the pending->committed transition.
    commit_mode="rename-free" (object-store-safe): two IMMUTABLE
    link-published files per batch — manifest-<id>.pending.json then
    manifest-<id>.committed.json; committed shadows pending, and
    re-publishing either name is the idempotent no-op (same batch, same
    content). No rename anywhere on this path."""

    def __init__(self, path: str, commit_mode: str = "pointer"):
        if commit_mode not in ("pointer", "rename-free"):
            raise ValueError(f"unknown commit_mode {commit_mode!r}")
        self.path = path
        self.commit_mode = commit_mode
        os.makedirs(path, exist_ok=True)

    def _file(self, batch_id: str, state: str | None = None) -> str:
        if state is None:
            return os.path.join(self.path, f"manifest-{batch_id}.json")
        return os.path.join(self.path, f"manifest-{batch_id}.{state}.json")

    def _publish(self, path: str, doc: dict) -> None:
        """Link-after-fsync immutable publish; existing name = replay."""
        with contextlib.suppress(FileExistsError):
            durable_link(path, json.dumps(doc))
        _fsync_dir(self.path)

    def _doc(self, batch_id: str) -> dict | None:
        # committed shadows pending shadows the pointer-mode file
        for p in (
            self._file(batch_id, "committed"),
            self._file(batch_id, "pending"),
            self._file(batch_id),
        ):
            if os.path.exists(p):
                with open(p) as f:
                    return json.load(f)
        return None

    def status(self, batch_id: str) -> str | None:
        doc = self._doc(batch_id)
        return doc["status"] if doc else None

    def is_committed(self, batch_id: str) -> bool:
        return self.status(batch_id) == "committed"

    def _write(self, batch_id: str, doc: dict) -> None:
        durable_replace(self._file(batch_id), json.dumps(doc))

    def begin(self, batch_id: str, lsn_lo: int, lsn_hi: int) -> None:
        doc = {
            "batch_id": batch_id,
            "status": "pending",
            "lineage": f"[{lsn_lo},{lsn_hi}]",
            "started_at": datetime.now(timezone.utc).isoformat(),
        }
        if self.commit_mode == "rename-free":
            self._publish(self._file(batch_id, "pending"), doc)
        else:
            self._write(batch_id, doc)

    def commit(self, batch_id: str, metrics: dict) -> None:
        doc = self._doc(batch_id)
        if doc is None:
            raise FileNotFoundError(f"no pending manifest for batch {batch_id}")
        doc.update(
            status="committed",
            metrics=metrics,
            committed_at=datetime.now(timezone.utc).isoformat(),
        )
        if self.commit_mode == "rename-free":
            self._publish(self._file(batch_id, "committed"), doc)
        else:
            self._write(batch_id, doc)

    def read(self, batch_id: str) -> dict | None:
        return self._doc(batch_id)

    def all(self) -> list[dict]:
        docs: dict[str, dict] = {}
        for name in sorted(os.listdir(self.path)):
            if not (name.startswith("manifest-") and name.endswith(".json")):
                continue
            with open(os.path.join(self.path, name)) as f:
                doc = json.load(f)
            prev = docs.get(doc["batch_id"])
            # committed beats pending for the same batch
            if prev is None or prev.get("status") != "committed":
                docs[doc["batch_id"]] = doc
        return sorted(docs.values(), key=lambda d: d["batch_id"])
