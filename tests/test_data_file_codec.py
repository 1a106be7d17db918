"""The codecs of what the engine writes and ships.

The engine's session compresses shuffle blocks with zstd, and the lake
writes its data files with ``DATA_FILE_CODEC`` (zstd; every writer is
pinned in tests/test_data_layout.py). Parquet records the codec per
column chunk, so a table whose older files are snappy keeps merging and
reading beside new zstd files."""

from pyspark.sql import functions as F

from oregonwaterdataportal_etl_spark.cdc import oracle_fold
from oregonwaterdataportal_etl_spark.cdc.changegen import (
    TRANSCRIPT_SCHEMA,
    generate_changes_pdf,
)
from oregonwaterdataportal_etl_spark.lake import (
    LakeTable,
    bucketed,
    table,
    write_bucketed_wal,
)
from oregonwaterdataportal_etl_spark.lake.table import snapshot_files

KEYS = ["conv_id", "turn_idx"]
NB = 4
COLS = [f.name for f in TRANSCRIPT_SCHEMA.fields]


def _batch(spark, n, seed, lsn_start):
    pdf = generate_changes_pdf(
        n, max(n // 25, 8), seed=seed, delete_rate=0.15, lsn_start=lsn_start
    )
    return spark.createDataFrame(pdf).localCheckpoint()


def _codecs(path: str) -> set[str]:
    """The codecs of every column chunk of one parquet file."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    assert md.num_row_groups > 0, path
    return {
        md.row_group(g).column(c).compression
        for g in range(md.num_row_groups)
        for c in range(md.num_columns)
    }


def _assert_all(files, codec: str, step: str) -> None:
    files = list(files)
    assert files, f"{step}: no data file"
    for f in files:
        assert _codecs(f) == {codec}, f"{step}: {f} is {_codecs(f)}"


def _table_files(t) -> list[str]:
    return [f for *_g, f in snapshot_files(t.snapshot())]


def _state(rows) -> list[tuple]:
    return sorted(tuple(r[c] for c in COLS) for r in rows)


def _oracle(batches) -> dict:
    events = [r.asDict() for b in batches for r in b.collect()]
    return oracle_fold(events, columns=COLS)


def test_engine_session_ships_shuffle_blocks_with_zstd(spark):
    assert spark.sparkContext.getConf().get("spark.io.compression.codec") == "zstd"


def test_snappy_table_keeps_merging_and_reading_after_the_switch(
    spark, tmp_path, monkeypatch
):
    """A table whose first versions were written snappy goes on with
    zstd: a cow merge carries the untouched buckets' snappy files
    forward, and the mor append, the bucketed read over mixed-codec
    files, lookup, time travel, the changelog across the switch,
    compaction and the zero-exchange merge all equal the oracle fold."""
    for mod in (table, bucketed):
        monkeypatch.setattr(mod, "DATA_FILE_CODEC", "snappy")
    t = LakeTable.create(
        str(tmp_path / "t"), TRANSCRIPT_SCHEMA, KEYS, num_buckets=NB
    )
    b1 = _batch(spark, 1500, seed=51, lsn_start=0)
    b2 = _batch(spark, 500, seed=52, lsn_start=10_000)
    t.merge(b1)
    t.merge(b2, mode="mor")
    pre = t.current_version()
    pre_snap = t.snapshot()
    assert pre_snap["tombstones"] and pre_snap["deltas"]
    _assert_all(_table_files(t), "SNAPPY", "snappy phase")
    monkeypatch.undo()

    # a cow merge of keys in buckets 0 and 1 only
    b3 = (
        _batch(spark, 400, seed=53, lsn_start=20_000)
        .filter(F.pmod(F.hash(*KEYS), F.lit(NB)).isin(0, 1))
        .localCheckpoint()
    )
    t.merge(b3)
    snap = t.snapshot()
    for side in ("files", "deltas", "tombstones"):
        for b in ("2", "3"):
            assert snap[side].get(b) == pre_snap[side].get(b), (side, b)
            _assert_all(snap[side].get(b, []), "SNAPPY", f"carried {side}")
    touched = [f for s, _p, b, f in snapshot_files(snap) if b in (0, 1)]
    _assert_all(touched, "ZSTD", "rewritten buckets")

    b4 = _batch(spark, 500, seed=54, lsn_start=30_000)
    t.merge(b4, mode="mor")
    codecs = set().union(*map(_codecs, _table_files(t)))
    assert codecs == {"SNAPPY", "ZSTD"}, codecs

    want_pre = _oracle([b1, b2])
    want = _oracle([b1, b2, b3, b4])
    got = t.read(spark)
    assert "Exchange" not in got._jdf.queryExecution().executedPlan().toString()
    assert _state(got.collect()) == _state(want.values())
    assert _state(t.read(spark, version=pre).collect()) == _state(
        want_pre.values()
    )
    for k in sorted(want)[:: max(len(want) // 5, 1)]:
        rows = t.lookup(spark, conv_id=k[0], turn_idx=k[1]).collect()
        assert _state(rows) == _state([want[k]]), k

    # the changelog across the switch takes the pre-switch state to now
    state = {k: tuple(v[c] for c in COLS) for k, v in want_pre.items()}
    kinds: dict[str, set] = {}
    for r in t.read_changes(spark, pre).collect():
        k = (r["conv_id"], r["turn_idx"])
        kinds.setdefault(r["_change_type"], set()).add(k)
        if r["_change_type"] == "delete":
            del state[k]
        else:
            state[k] = tuple(r[c] for c in COLS)
    assert sorted(state.values()) == _state(want.values())
    assert kinds.get("insert", set()) == want.keys() - want_pre.keys()
    assert kinds.get("delete", set()) == want_pre.keys() - want.keys()

    t.compact(spark)
    assert not t.snapshot()["deltas"]
    assert _state(t.read(spark).collect()) == _state(want.values())

    b5 = _batch(spark, 500, seed=55, lsn_start=40_000)
    t.merge_prebucketed(
        spark, write_bucketed_wal(b5, str(tmp_path / "wal"), NB, KEYS)
    )
    want = _oracle([b1, b2, b3, b4, b5])
    assert _state(t.read(spark).collect()) == _state(want.values())
