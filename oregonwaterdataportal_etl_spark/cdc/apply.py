"""LWW dedup of a change batch, plus the pure-Python oracle.

lww_dedup is operator W1 (SURVEY.md 2.5): the reference keeps the
first row per deterministic id unless a later "Final"-status record
arrives (userCode/awqms/dag.py:155-187). Recast per north_rule: per
(conv_id, turn_idx) the event with the highest monotonic LSN wins —
the engine's one LWW window (lake.table._lww_top1). Applying a batch
to a table is LakeTable.merge.

oracle_fold is the hypothesis-test oracle from SURVEY.md section 5:
a sequential fold of the change stream into a dict, against which the
distributed LWW reduction must agree exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..lake.table import (
    _lww_top1,
    _op_code,
    _op_decode,
    tiebreak_cols,
    tiebreak_py,
)


def lww_dedup(
    changes: DataFrame,
    key_cols: list[str] = ("conv_id", "turn_idx"),
    lsn_col: str = "lsn",
    op_col: str = "op",
    tiebreak_family: str = "xxhash64",
) -> DataFrame:
    """Per-key last-writer-wins: keep the highest-LSN event per key.

    One ranking-window shuffle, hash-partitioned on the full key
    (conv_id AND turn_idx), so a hot conversation spreads across
    partitions — the window itself never sees conversation-level skew,
    only per-(conv,turn) duplicate fan-in.

    Equal-LSN events get a deterministic payload-hash tie-break
    (lake.table.tiebreak_cols over payload columns + op, matching the
    merge's total order) so replay equality holds even for pathological
    same-(key,lsn) pairs. tiebreak_family="xxhash64" (default) is the
    at-scale choice; "md5" is bit-reproducible by oracle_fold and ANSI
    SQL (use it when asserting tie winners cross-engine).
    """
    # hash-input convention shared with merge/_update_tiebreak and
    # oracle_fold: all non-lsn non-op columns in order (keys included —
    # constant within a window partition, so harmless), then op
    payload = [c for c in changes.columns if c not in (lsn_col, op_col)]
    tb_in = [F.col(c) for c in payload]
    if op_col in changes.columns:
        # normalized op, matching merge's _update_tiebreak and the
        # oracle fold (unknown ops are upserts -> hash as "insert")
        tb_in.append(_op_decode(_op_code(F.col(op_col))))
    tb = tiebreak_cols(tb_in, family=tiebreak_family)
    return _lww_top1(changes, list(key_cols), lsn_col, tb)


def oracle_fold(
    events: list[dict],
    key_cols=("conv_id", "turn_idx"),
    columns: list[str] | None = None,
) -> dict:
    """Sequential LWW fold in pure Python (test oracle only; never in
    the data path). Events are folded in LSN order; highest LSN wins;
    delete removes. Returns {key_tuple: row_dict}.

    Equal-LSN ties are resolved by the SAME deterministic payload-hash
    total order as the engine (lake.table.tiebreak_py over the non-lsn
    non-op values, then op): per key, the event with the
    lexicographically greatest (lsn, tb) wins — an
    engine-independent winner, stable across runs and input orderings.

    columns: EXPLICIT hash-input column order. The engine hashes in
    evolved-SCHEMA order (missing columns hash as null), while a dict
    iterates in insertion order — a test that builds event dicts in any
    other key order would silently diverge from the engine on equal-LSN
    ties (review finding). Pass the table schema's column names
    (lsn/op excluded automatically) whenever tie winners are asserted;
    the insertion-order default is only safe for events built uniformly
    in schema order.
    """

    def tb(ev):
        if columns is not None:
            vals = [ev.get(c) for c in columns if c not in ("lsn", "op")]
        else:
            vals = [v for k, v in ev.items() if k not in ("lsn", "op")]
        # normalize exactly like the engine (_op_decode(_op_code(op)):
        # anything that isn't a known op is an upsert -> "insert"), so
        # md5-family tie winners agree even for exotic op strings
        op = ev["op"]
        vals.append(op if op in ("delete", "update", "tombstone", "base") else "insert")
        return tiebreak_py(vals)

    state: dict = {}
    applied: dict = {}  # key -> (lsn, tb) of the applied event
    for ev in sorted(events, key=lambda e: (e["lsn"], tb(e))):
        key = tuple(ev[k] for k in key_cols)
        rank = (ev["lsn"], tb(ev))
        if key in applied and applied[key] >= rank:
            continue
        applied[key] = rank
        if ev["op"] == "delete":
            state.pop(key, None)
        else:
            state[key] = {k: v for k, v in ev.items() if k != "op"}
    return state
