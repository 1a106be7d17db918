"""The manifest chain shared by every versioned store: debris left by a
crashed commit is never read as a version, and the on-disk format
(manifest names, pointer, top-level keys) stays fixed."""

import datetime
import json
import os
import time

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from oregonwaterdataportal_etl_spark.cdc import WatermarkStore
from oregonwaterdataportal_etl_spark.lake import LakeTable
from oregonwaterdataportal_etl_spark.operators.ann_index import AnnIndex

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("v", T.StringType()),
    ]
)
MODES = ["pointer", "rename-free"]


def _events(spark, rows):
    """rows: (id, day, lsn, v) inserts."""
    return spark.createDataFrame(
        [
            Row(id=i, ts=datetime.datetime(2024, 1, d), lsn=lsn, op="insert", v=v)
            for i, d, lsn, v in rows
        ],
        "id long, ts timestamp, lsn long, op string, v string",
    )


def _create(kind, path, mode):
    if kind == "flat":
        return LakeTable.create(
            path, SCHEMA, ["id"], num_buckets=2, commit_mode=mode
        )
    return LakeTable.create(
        path, SCHEMA, ["id"], partition_col="ts", num_buckets=2,
        commit_mode=mode,
    )


@pytest.mark.parametrize("mode", MODES)
@pytest.mark.parametrize("kind", ["flat", "tree"])
def test_tmp_debris_is_not_a_version(spark, tmp_path, kind, mode):
    """A commit that dies mid-write leaves ``snap-N.json.tmp-<hex>``
    debris (truncated, or complete but never linked). history(),
    version_at(), vacuum() and the history metadata frame must list
    only the published manifests."""
    t = _create(kind, str(tmp_path / "t"), mode)
    t.merge(_events(spark, [(1, 1, 1, "a")]))
    with open(os.path.join(t.meta_dir, "snap-00000001.json.tmp-x"), "w") as f:
        f.write('{"version":')  # torn write
    phantom = dict(t.snapshot(1), version=2, parent=1)
    with open(os.path.join(t.meta_dir, "snap-00000002.json.tmp-y"), "w") as f:
        json.dump(phantom, f)  # complete, never linked

    assert [s["version"] for s in t.history()] == [0, 1]
    assert t.current_version() == 1
    assert t.version_at(time.time() + 60) == 1
    frame = t.metadata_df(spark, "history").orderBy("version")
    assert [r["version"] for r in frame.collect()] == [0, 1]
    t.vacuum(keep_last=1, orphan_grace_seconds=3600.0)
    assert [s["version"] for s in t.history()] == [1]
    t.merge(_events(spark, [(2, 1, 2, "b")]))
    assert [s["version"] for s in t.history()] == [1, 2]


def _listing(d, keep=lambda n: True):
    return sorted(n for n in os.listdir(d) if keep(n))


def _keys(d, names):
    out = {}
    for n in names:
        if n.endswith(".json"):
            with open(os.path.join(d, n)) as f:
                out[n] = sorted(json.load(f))
    return out


_TABLE_KEYS = [
    "commit_mode", "committed_at", "deltas", "dict_cols", "files",
    "key_cols", "num_buckets", "parent", "row_counts", "schema",
    "summary", "tiebreak_family", "tombstones", "version",
]
_CREATE_KEYS = [
    "commit_mode", "committed_at", "dict_cols", "files", "key_cols",
    "num_buckets", "parent", "schema", "summary", "tiebreak_family",
    "version",
]


def _with_pointer(mode, names):
    return sorted(names + ["CURRENT"]) if mode == "pointer" else names


@pytest.mark.parametrize("mode", MODES)
def test_on_disk_format_of_tables_and_stages(spark, tmp_path, mode):
    """Manifest names, pointer and top-level keys of the flat table,
    the time-partitioned table and WAP-stage chains after a fixed
    commit sequence: a partitioned table's manifests are a flat one's
    plus the partition spec."""
    flat = _create("flat", str(tmp_path / "flat"), mode)
    flat.merge(_events(spark, [(1, 1, 1, "a")]))
    stage = flat.begin_wap("w1")
    stage.merge(_events(spark, [(2, 1, 2, "b")]))
    names = _listing(flat.meta_dir)
    assert names == _with_pointer(
        mode, ["snap-00000000.json", "snap-00000001.json", "wap-w1-00000002.json"]
    )
    assert _keys(flat.meta_dir, names) == {
        "snap-00000000.json": _CREATE_KEYS,
        "snap-00000001.json": _TABLE_KEYS,
        "wap-w1-00000002.json": sorted(_TABLE_KEYS + ["wap"]),
    }
    stage.publish(spark)
    assert _listing(flat.meta_dir) == _with_pointer(
        mode, ["snap-00000000.json", "snap-00000001.json", "snap-00000002.json"]
    )
    assert _keys(flat.meta_dir, ["snap-00000002.json"]) == {
        "snap-00000002.json": _TABLE_KEYS
    }

    tree = _create("tree", str(tmp_path / "tree"), mode)
    tree.merge(_events(spark, [(1, 1, 1, "a")]))
    names = _listing(tree.meta_dir)
    assert names == _with_pointer(mode, ["snap-00000000.json", "snap-00000001.json"])
    spec = ["partition_col", "transform"]
    assert _keys(tree.meta_dir, names) == {
        "snap-00000000.json": sorted(_CREATE_KEYS + spec),
        "snap-00000001.json": sorted(_TABLE_KEYS + spec),
    }
    # group keys are <partition>/<bucket>
    assert [g.split("/")[0] for g in tree.snapshot()["files"]] == ["2024-01-01"]


@pytest.mark.parametrize("mode", MODES)
def test_on_disk_format_of_watermark_store_and_ann_index(spark, tmp_path, mode):
    """Manifest names, pointer and top-level keys of the watermark store
    and the ANN index after a fixed commit sequence."""
    manifests = lambda n: n.endswith(".json") or n == "CURRENT"  # noqa: E731
    wm_dir = str(tmp_path / "wm")
    ws = WatermarkStore(wm_dir, compact_every=8, commit_mode=mode)
    for hi in (5, 9):
        ws.update(spark.createDataFrame([("c1", hi)], "conv_id string, wm int"))
    names = _listing(wm_dir, manifests)
    assert names == _with_pointer(mode, ["v-00000000.json", "v-00000001.json"])
    assert _keys(wm_dir, names) == {
        n: ["base", "committed_at", "deltas", "version"]
        for n in ["v-00000000.json", "v-00000001.json"]
    }

    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType()),
            T.StructField("turn_idx", T.IntegerType()),
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    emb = LakeTable.create(
        str(tmp_path / "emb"), schema, ["conv_id", "turn_idx"], num_buckets=2
    )
    emb.merge(
        spark.createDataFrame(
            [("c%d" % i, 0, i, [float(i), 1.0]) for i in range(8)], schema
        ).withColumns({"op": F.lit("insert"), "lsn": F.lit(1).cast("long")})
    )
    ix_dir = str(tmp_path / "ix")
    ix = AnnIndex(ix_dir, emb, kind="lsh", bits=2, commit_mode=mode)
    ix.build(spark)
    ix.build(spark)
    names = _listing(ix_dir, manifests)
    assert names == _with_pointer(mode, ["ix-00000000.json", "ix-00000001.json"])
    assert _keys(ix_dir, names) == {
        n: ["committed_at", "dir", "id_col", "kind", "params",
            "table_version", "vec_col", "version"]
        for n in ["ix-00000000.json", "ix-00000001.json"]
    }
