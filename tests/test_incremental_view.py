"""Changelog-driven incremental materialized aggregates
(lake/incremental.py) and the update pre-image changelog rows they
consume (read_changes include_preimages=True).

The invariant under test: after ANY schedule of source merges
(cow/mor/compact/rebucket) with refreshes interleaved at arbitrary
points, the incrementally-maintained view equals the full groupBy
recompute — exactly, including groups that vanish."""

import pytest
from pyspark.sql import functions as F

from oregonwaterdataportal_etl_spark.cdc.changegen import (
    TRANSCRIPT_SCHEMA,
    generate_changes_pdf,
)
from oregonwaterdataportal_etl_spark.lake import LakeTable
from oregonwaterdataportal_etl_spark.lake.incremental import (
    AggSpec,
    IncrementalAggView,
)

KEYS = ["conv_id", "turn_idx"]

SPECS = [
    AggSpec("n_turns", "count"),
    AggSpec("total_chars", "sum", "length(coalesce(text, ''))"),
    AggSpec("tool_calls", "count_if", "tool is not null"),
]


def _stream(spark, n, seed, lsn_start=0, delete_rate=0.08):
    pdf = generate_changes_pdf(
        n, max(n // 40, 8), seed=seed, out_of_order=0.3,
        delete_rate=delete_rate,
    )
    df = spark.createDataFrame(pdf)
    if lsn_start:
        df = df.withColumn("lsn", F.col("lsn") + lsn_start)
    return df.localCheckpoint()


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _assert_view_equals_recompute(spark, view, table):
    got = _rows(view.read(spark))
    want = _rows(view.recompute(spark, table))
    assert got == want, (
        f"view diverged: {len(got)} vs {len(want)} rows; "
        f"first diff {next((a, b) for a, b in zip(got, want) if a != b) if got and want else (got[:2], want[:2])}"
    )


def test_preimage_rows_pair_updates(spark, tmp_path):
    """include_preimages emits exactly one update_preimage per update,
    same key + same _commit_lsn, payload = the from_version values;
    default call is unchanged (no preimage rows)."""
    t = LakeTable.create(str(tmp_path / "t"), TRANSCRIPT_SCHEMA, KEYS,
                         num_buckets=4)
    t.merge(_stream(spark, 1500, seed=11))
    v1 = t.current_version()
    before = {
        (r["conv_id"], r["turn_idx"]): (r["text"], r["role"])
        for r in t.read(spark).collect()
    }
    t.merge(_stream(spark, 800, seed=12, lsn_start=1500))
    v2 = t.current_version()

    plain = t.read_changes(spark, v1, v2).collect()
    assert all(r["_change_type"] != "update_preimage" for r in plain)

    rich = t.read_changes(spark, v1, v2, include_preimages=True).collect()
    posts = {(r["conv_id"], r["turn_idx"]): r for r in rich
             if r["_change_type"] == "update"}
    pres = {(r["conv_id"], r["turn_idx"]): r for r in rich
            if r["_change_type"] == "update_preimage"}
    assert set(posts) == set(pres) and posts  # one pre per post
    for k, pre in pres.items():
        assert pre["_commit_lsn"] == posts[k]["_commit_lsn"]
        assert (pre["text"], pre["role"]) == before[k]
    # inserts/deletes unchanged by the flag
    strip = lambda rows: sorted(
        tuple(r) for r in rows if r["_change_type"] != "update_preimage"
    )
    assert strip(rich) == strip(plain)


def test_view_tracks_chaos_schedule(spark, tmp_path):
    """cow -> refresh -> mor -> mor -> refresh (2-version hop) ->
    compact -> rebucket -> refresh (maintenance-only churn) -> cow ->
    refresh; equality with the recompute oracle after every refresh."""
    t = LakeTable.create(str(tmp_path / "src"), TRANSCRIPT_SCHEMA, KEYS,
                         num_buckets=4)
    view = IncrementalAggView(str(tmp_path / "view"), "conv_id", SPECS)

    t.merge(_stream(spark, 2000, seed=21))
    r = view.refresh(spark, t)
    assert r["groups_changed"] > 0
    _assert_view_equals_recompute(spark, view, t)

    t.merge(_stream(spark, 700, seed=22, lsn_start=2000), mode="mor")
    t.merge(_stream(spark, 700, seed=23, lsn_start=2700), mode="mor")
    view.refresh(spark, t)  # one hop over two commits + pending deltas
    _assert_view_equals_recompute(spark, view, t)

    t.compact(spark)
    t.rebucket(spark, 8)
    r = view.refresh(spark, t)  # maintenance churn: no net change
    assert r["groups_changed"] == 0
    assert view.synced_version() == t.current_version()
    _assert_view_equals_recompute(spark, view, t)

    t.merge(_stream(spark, 900, seed=24, lsn_start=3400, delete_rate=0.2))
    view.refresh(spark, t)
    _assert_view_equals_recompute(spark, view, t)


def test_group_deletion_and_noop_refresh(spark, tmp_path):
    """Deleting every turn of a conversation removes its view row
    (matching the recompute); a caught-up refresh is a no-op that
    commits nothing."""
    t = LakeTable.create(str(tmp_path / "src"), TRANSCRIPT_SCHEMA, KEYS,
                         num_buckets=4)
    base = _stream(spark, 1200, seed=31, delete_rate=0.0)
    t.merge(base)
    view = IncrementalAggView(str(tmp_path / "view"), "conv_id", SPECS)
    view.refresh(spark, t)

    victim = t.read(spark).select("conv_id").first()["conv_id"]
    kill = (
        t.read(spark)
        .filter(F.col("conv_id") == victim)
        .select(
            "conv_id", "turn_idx", "role", "text", "tool", "ts",
            F.lit("delete").alias("op"),
            (F.lit(10_000) + F.col("turn_idx")).cast("long").alias("lsn"),
        )
    )
    t.merge(kill)
    view.refresh(spark, t)
    _assert_view_equals_recompute(spark, view, t)
    assert view.read(spark).filter(F.col("conv_id") == victim).count() == 0

    v_before = LakeTable(view.path).current_version()
    r = view.refresh(spark, t)
    assert r["groups_changed"] == 0
    assert LakeTable(view.path).current_version() == v_before


def test_view_old_values_read_is_bucket_pruned(spark, tmp_path):
    """The refresh's old-value read opens only the view buckets that
    hold changed groups: touching ONE conversation must not scan all
    16 view buckets' files."""
    t = LakeTable.create(str(tmp_path / "src"), TRANSCRIPT_SCHEMA, KEYS,
                         num_buckets=4)
    t.merge(_stream(spark, 2000, seed=41, delete_rate=0.0))
    view = IncrementalAggView(str(tmp_path / "view"), "conv_id", SPECS,
                              num_buckets=16)
    view.refresh(spark, t)

    victim = t.read(spark).select("conv_id").first()["conv_id"]
    touch = (
        t.read(spark)
        .filter(F.col("conv_id") == victim)
        .limit(1)
        .select(
            "conv_id", "turn_idx", "role",
            F.lit("touched!").alias("text"), "tool", "ts",
            F.lit("upsert").alias("op"),
            F.lit(50_000).cast("long").alias("lsn"),
        )
    )
    t.merge(touch)

    vt = LakeTable(view.path)
    snap = vt.snapshot()
    buckets = [
        r["b"]
        for r in spark.createDataFrame([(victim,)], ["conv_id"])
        .select(vt._bucket_expr(snap).alias("b"))
        .collect()
    ]
    pruned = vt._resolved_view(spark, snap["version"], {str(b) for b in buckets})
    full = vt._resolved_view(spark, snap["version"])
    assert len(pruned.inputFiles()) < len(full.inputFiles())

    view.refresh(spark, t)
    _assert_view_equals_recompute(spark, view, t)


def test_rejects_non_invertible_specs():
    with pytest.raises(ValueError, match="not\\s+invertible|invertible"):
        AggSpec("m", "max", "turn_idx")
    with pytest.raises(ValueError, match="needs expr"):
        AggSpec("s", "sum")
