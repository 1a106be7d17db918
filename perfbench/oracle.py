"""Independent correctness oracle: a DuckDB last-writer-wins fold of
the exact change files the benchmark generated.

Per key (conv_id, turn_idx) the event with the highest LSN at or below
the window's upper bound wins, and a winning delete removes the key.
The generator gives every event its own LSN, so no tie-break is needed.
"""

from __future__ import annotations

import duckdb

PAYLOAD = ("conv_id", "turn_idx", "role", "text", "tool")


class LwwOracle:
    def __init__(self, files: list[str]):
        self.con = duckdb.connect()
        paths = ", ".join("'" + f.replace("'", "''") + "'" for f in files)
        self.con.execute(
            "create table events as select op, lsn, conv_id, turn_idx, role, text, tool, "
            f"epoch_us(ts) as ts_us from read_parquet([{paths}])"
        )

    def close(self) -> None:
        self.con.close()

    def _state_sql(self, hi: int) -> str:
        cols = ", ".join(PAYLOAD)
        return (
            f"select {cols}, ts_us from ("
            f" select *, row_number() over (partition by conv_id, turn_idx order by lsn desc) rn"
            f" from events where lsn <= {int(hi)}) where rn = 1 and op <> 'delete'"
        )

    def live_rows(self, hi: int) -> int:
        return self.con.execute(f"select count(*) from ({self._state_sql(hi)})").fetchone()[0]

    def table_mismatches(self, engine_parquet_dir: str, hi: int) -> int:
        """Rows in the engine's table but not in the fold, plus rows in
        the fold but not in the table (multiset difference both ways).
        The engine's rows are read from parquet with an ``ts_us`` column."""
        cols = ", ".join(PAYLOAD) + ", ts_us"
        eng = f"select {cols} from read_parquet('{engine_parquet_dir}/*.parquet')"
        ora = self._state_sql(hi)
        return self.con.execute(
            f"select (select count(*) from ({eng} except all {ora}))"
            f" + (select count(*) from ({ora} except all {eng}))"
        ).fetchone()[0]

    def lookup_mismatches(self, lookups: list[dict]) -> int:
        """Each lookup is ``{"key": (conv_id, turn_idx), "hi": lsn,
        "rows": [(role, text, tool, ts_us), ...]}``; a lookup counts once
        for every row it got wrong or missed."""
        bad = 0
        for lk in lookups:
            conv_id, turn_idx = lk["key"]
            want = self.con.execute(
                "select op, role, text, tool, ts_us from events where conv_id = ? "
                "and turn_idx = ? and lsn <= ? order by lsn desc limit 1",
                [conv_id, turn_idx, lk["hi"]],
            ).fetchall()
            want = [w[1:] for w in want if w[0] != "delete"]
            got = [tuple(r) for r in lk["rows"]]
            bad += len(set(got) ^ set(want)) + max(0, len(got) - len(set(got)))
        return bad
