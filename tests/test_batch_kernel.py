"""The batch kernel (LakeTable._resolve_batch) and what the merges write.

The tie-break a merge persists is a function of the raw change row
(LakeTable._update_tiebreak, and for md5-family tables also the
pure-Python tiebreak_py): however the kernel moves and encodes the batch
before it hashes, the stored _tb must be exactly that value.
And a copy-on-write merge counts each row's action without writing it.
"""

import datetime

import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from oregonwaterdataportal_etl_spark.cdc.changegen import TRANSCRIPT_SCHEMA
from oregonwaterdataportal_etl_spark.lake import LakeTable
from oregonwaterdataportal_etl_spark.lake.table import snapshot_files, tiebreak_py

DICTS = {"role": ["user", "assistant"], "tool": ["search"]}

# (conv_id, turn_idx, role, text, tool, lang, op, lsn): the batch lacks
# the table's ts column and adds lang (an evolved schema); role and tool
# hold in-dictionary, out-of-dictionary and null values; "upsert" is an
# op the engine does not know (it upserts, and hashes as "insert")
BATCH_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("role", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("tool", T.StringType()),
    T.StructField("lang", T.StringType()),
    T.StructField("op", T.StringType()),
    T.StructField("lsn", T.LongType()),
])
BATCH = [
    ("c1", 0, "user", "hi", "search", "en", "insert", 10),
    ("c1", 1, "system", "out of dict", "browse", None, "update", 11),
    ("c1", 2, None, None, None, "de", "upsert", 12),
    ("c2", 0, "assistant", "bye", None, "en", "delete", 13),
    ("c2", 1, "tool", "", "search", None, "UPDATE", 14),
    ("c3", 0, "user", "x\x1fy", "calc", "fr", "insert", 15),
]


def _normalized_op(op: str) -> str:
    return op if op in ("delete", "update", "tombstone", "base") else "insert"


def _persisted_tiebreaks(spark, files: list[str]) -> dict:
    rows = spark.read.parquet(*files).select(
        "conv_id", "turn_idx", "_lsn", "_tb"
    ).collect()
    return {(r[0], r[1], r[2]): r[3] for r in rows}


@pytest.mark.parametrize("family", ["xxhash64", "md5"])
@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_persisted_limbs_equal_the_raw_batch_limbs(spark, tmp_path, family, mode):
    """Every batch row is its key's only event, so each one persists:
    cow writes it to a base or tombstone file, mor to a delta file. Its
    stored _tb equals _update_tiebreak over the raw batch (dict columns
    as strings, ts as a typed null, the op as written), and for md5 also
    tiebreak_py over the same values."""
    t = LakeTable.create(
        str(tmp_path / "t"), TRANSCRIPT_SCHEMA, ["conv_id", "turn_idx"],
        num_buckets=2, dict_cols=DICTS, tiebreak_family=family,
    )
    batch = spark.createDataFrame(BATCH, BATCH_SCHEMA)
    r = t.merge(batch, mode=mode)
    assert not r.empty

    snap = t.snapshot()
    evolved = t.schema()
    assert evolved.fieldNames() == TRANSCRIPT_SCHEMA.fieldNames() + ["lang"]
    sides = {side for side, *_ in snapshot_files(snap)}
    assert sides == ({"d"} if mode == "mor" else {"b", "t"})
    persisted = _persisted_tiebreaks(spark, [f for *_, f in snapshot_files(snap)])

    tb = LakeTable._update_tiebreak(batch.columns, evolved, "op", family)
    expected = {
        (r[0], r[1], r[2]): r[3]
        for r in batch.select("conv_id", "turn_idx", "lsn", tb.alias("tb")).collect()
    }
    assert len(expected) == len(BATCH)
    assert persisted == expected

    if family == "md5":
        names = evolved.fieldNames()
        for row in BATCH:
            raw = dict(zip(BATCH_SCHEMA.fieldNames(), row))
            values = [raw.get(n) for n in names] + [_normalized_op(raw["op"])]
            assert persisted[(raw["conv_id"], raw["turn_idx"], raw["lsn"])] == (
                tiebreak_py(values)
            ), raw


def test_cow_merge_counts_actions_without_writing_them(spark, tmp_path):
    """A copy-on-write merge's base and tombstone files carry no _action
    column, and its MergeResult still counts every action: inserts,
    updates, a delete, a delete of an absent key (dropped), a stale
    event and the untouched base rows of the one bucket (noop)."""
    t = LakeTable.create(
        str(tmp_path / "t"), TRANSCRIPT_SCHEMA, ["conv_id", "turn_idx"],
        num_buckets=1, dict_cols=DICTS,
    )
    ts = datetime.datetime(2024, 1, 1)
    schema = T.StructType(list(TRANSCRIPT_SCHEMA.fields) + [
        T.StructField("op", T.StringType()), T.StructField("lsn", T.LongType()),
    ])
    first = t.merge(spark.createDataFrame(
        [(f"c{i}", 0, "user", f"t{i}", None, ts, "insert", 100 + i) for i in range(10)],
        schema,
    ))
    assert (first.rows_inserted, first.rows_updated, first.rows_deleted,
            first.rows_noop, first.rows_dropped) == (10, 0, 0, 0, 0)

    r = t.merge(spark.createDataFrame(
        [(f"c{i}", 0, "assistant", f"u{i}", None, ts, "update", 200 + i)
         for i in range(3)]
        + [("c3", 0, None, None, None, None, "delete", 203),
           ("c4", 0, "user", "stale", None, ts, "update", 50),
           ("c10", 0, "user", "new", "search", ts, "insert", 210),
           ("c11", 0, "system", "new", None, ts, "insert", 211),
           ("c12", 0, None, None, None, None, "delete", 212)],
        schema,
    ))
    assert (r.rows_inserted, r.rows_updated, r.rows_deleted,
            r.rows_noop, r.rows_dropped) == (2, 3, 1, 6, 1)

    snap = t.snapshot()
    files = [f for *_, f in snapshot_files(snap)]
    assert snap["tombstones"] and snap["files"]
    for f in files:
        names = pq.read_schema(f).names
        assert "_action" not in names, (f, names)
        assert {"_lsn", "_tb"} <= set(names), (f, names)
    assert sorted(
        (r["conv_id"], r["text"]) for r in t.read(spark).collect()
    ) == sorted(
        [("c0", "u0"), ("c1", "u1"), ("c2", "u2"), ("c10", "new"), ("c11", "new")]
        + [(f"c{i}", f"t{i}") for i in range(4, 10)]
    )

