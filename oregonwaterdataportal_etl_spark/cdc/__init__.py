from .changegen import CHANGE_SCHEMA, TRANSCRIPT_SCHEMA, generate_changes
from .offsets import OffsetLog
from .manifests import ManifestLog
from .apply import lww_dedup, oracle_fold
from .runner import CdcRunner
from .source import BucketedWalSource, LsnRangedParquetSource
from .follower import ChangelogFollower, changelog_to_events, replicate_available
from .watermarks import WatermarkStore
from .envelope import (
    envelope_schema,
    gate_transactions,
    ingest_envelopes,
    parse_envelopes,
    split_dlq,
    wrap_envelopes,
)

__all__ = [
    "WatermarkStore",
    "CHANGE_SCHEMA",
    "TRANSCRIPT_SCHEMA",
    "generate_changes",
    "OffsetLog",
    "ManifestLog",
    "lww_dedup",
    "oracle_fold",
    "CdcRunner",
    "LsnRangedParquetSource",
    "BucketedWalSource",
    "ChangelogFollower",
    "changelog_to_events",
    "replicate_available",
    "envelope_schema",
    "parse_envelopes",
    "split_dlq",
    "gate_transactions",
    "ingest_envelopes",
    "wrap_envelopes",
]
