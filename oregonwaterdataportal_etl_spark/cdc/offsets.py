"""Checkpointed offset log — the engine's high-watermark store.

Reference analog: per-stream phenomenonTime watermark persisted in the
sink and re-read at start (userCode/helper_classes.py:131-162,
T2 in SURVEY.md), with the exclusive restart bound of
userCode/wrd/dag.py:189-197 (+1 minute past the stored watermark ->
here: resume from last_lsn + 1). Absent stream -> epoch
(START_OF_DATA, userCode/wrd/types.py:290) -> here: LSN -1.

Implemented as an append-only JSONL log with an atomically-replaced
CURRENT pointer — same commit discipline as LakeTable. Tiny metadata,
driver-side by design (it is the analog of a streaming
checkpointLocation, not a data table).
"""

from __future__ import annotations

import contextlib
import json
import os
from datetime import datetime, timezone

from ..lake.table import (
    _fsync_dir,
    durable_link,
    durable_replace,
    latest_manifest_version,
)


class OffsetLog:
    def __init__(
        self, path: str, source_id: str = "default", commit_mode: str = "pointer"
    ):
        if commit_mode not in ("pointer", "rename-free"):
            raise ValueError(f"unknown commit_mode {commit_mode!r}")
        self.path = path
        self.source_id = source_id
        self.commit_mode = commit_mode
        os.makedirs(path, exist_ok=True)

    @property
    def _ptr(self) -> str:
        return os.path.join(self.path, f"CURRENT-{self.source_id}")

    def _entry_prefix(self) -> str:
        return f"off-{self.source_id}-"

    def last_lsn(self) -> int:
        """High-watermark; -1 when no batch has ever committed.
        Pointer mode reads the atomically-replaced CURRENT; rename-free
        mode derives it as the max published per-entry file (entries are
        link-published complete, so any listed name is a real commit —
        the object-store discipline of lake.table.versioned_commit)."""
        if os.path.exists(self._ptr):
            with open(self._ptr) as f:
                return json.load(f)["last_lsn"]
        best = latest_manifest_version(self.path, self._entry_prefix())
        return -1 if best is None else best

    def resume_lsn(self) -> int:
        """Exclusive restart bound: first LSN of the next window."""
        return self.last_lsn() + 1

    def commit(self, last_lsn: int, batch_id: str) -> None:
        entry = {
            "source_id": self.source_id,
            "last_lsn": int(last_lsn),
            "batch_id": batch_id,
            "committed_at": datetime.now(timezone.utc).isoformat(),
        }
        with open(os.path.join(self.path, f"log-{self.source_id}.jsonl"), "a") as f:
            f.write(json.dumps(entry) + "\n")
            f.flush()
            os.fsync(f.fileno())
        if self.commit_mode == "rename-free":
            # one immutable file per committed window, published with
            # link-after-fsync (no rename anywhere). A replayed window
            # re-publishes the same name — FileExistsError IS the
            # idempotency here (same window, same content).
            final = os.path.join(
                self.path, f"{self._entry_prefix()}{int(last_lsn):020d}.json"
            )
            with contextlib.suppress(FileExistsError):
                durable_link(final, json.dumps(entry))
            _fsync_dir(self.path)
            return
        durable_replace(self._ptr, json.dumps(entry))

    def history(self) -> list[dict]:
        log = os.path.join(self.path, f"log-{self.source_id}.jsonl")
        if not os.path.exists(log):
            return []
        with open(log) as f:
            return [json.loads(line) for line in f if line.strip()]
