from .stream import (
    read_dlq,
    replay_dlq,
    start_cdc_stream,
    start_envelope_stream,
)

__all__ = [
    "start_cdc_stream",
    "start_envelope_stream",
    "read_dlq",
    "replay_dlq",
]
