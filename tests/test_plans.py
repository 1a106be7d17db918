"""Physical-plan regression tests: the scale properties (pushdown,
broadcast, single-exchange merge, codegen) must survive refactors.
These are the engine's equivalent of the reference's documented
EXPLAIN plan (docker/frost/indices.sql:14-40)."""

import re

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

import __spark_entry__ as entrymod
from conftest import recorded_writes

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_and_projection_pushdown(spark):
    """P1/P2/P6: predicate + column pruning must reach the parquet scan."""
    df = entrymod.q_filter_project(spark, SF)
    plan = plan_of(df)
    assert "IsNotNull(value)" in plan and "Not(EqualTo(event_type,error))" in plan
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m and "props" not in m.group(1) and "ts" not in m.group(1), (
        "unused columns must be pruned from the scan"
    )


def test_broadcast_join_strategy(spark):
    """J1: dim lookups must be broadcast hash joins (no shuffle of the
    fact side)."""
    plan = plan_of(entrymod.q_broadcast_lookup_join(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_anti_join_strategy(spark):
    plan = plan_of(entrymod.q_anti_join_new_rows(spark, SF))
    assert "LeftAnti" in plan


def test_merge_plan_single_exchange(spark, tmp_path):
    """The merge's dedup+write pipeline must contain exactly ONE
    Exchange (repartition == window distribution == bucket layout)
    and carry the WindowGroupLimit rank pushdown WHEN the rule is
    enabled (the r6 session default disables it — the partial sort
    measured net-negative at local bandwidth — so this pin runs with
    Spark's default threshold to keep the capability pinned)."""
    prior = spark.conf.get("spark.sql.optimizer.windowGroupLimitThreshold")
    spark.conf.set("spark.sql.optimizer.windowGroupLimitThreshold", "1000")
    try:
        changes = spark.read.parquet(f"{SF}/events.parquet").selectExpr(
            "'insert' as op",
            "event_id as lsn",
            "cast(user_id as string) as conv_id",
            "cast(event_id % 50 as int) as turn_idx",
            "event_type as role",
            "props as text",
            "cast(null as string) as tool",
            "ts",
        )
        keys = ["conv_id", "turn_idx"]
        u = changes.repartition(8, *keys)
        w = Window.partitionBy(*keys).orderBy(F.desc("lsn"))
        out = (
            u.select("*", F.row_number().over(w).alias("__rn"))
            .filter("__rn = 1")
            .withColumn("_b", F.pmod(F.hash(*keys), F.lit(8)).cast("int"))
        )
        plan = plan_of(out)
        assert len(re.findall(r"\bExchange\b", plan)) == 1, plan
        assert "WindowGroupLimit" in plan
    finally:
        spark.conf.set("spark.sql.optimizer.windowGroupLimitThreshold", prior)


def test_mor_read_and_lookup_plans_have_no_exchange(spark, tmp_path):
    """Every MOR reader resolves through the one dedup window
    (LakeTable._side_winners) with no Exchange. read() of a version with
    base rows, tombstones and pending deltas: ONE Window over the
    bucketed scan, the tie-break value in its sort, no Python
    evaluation. lookup(): the key's files, unioned and coalesced to one
    partition, with no registration dir and no catalog entry."""
    import os

    from oregonwaterdataportal_etl_spark.cdc.changegen import (
        TRANSCRIPT_SCHEMA,
        generate_changes_pdf,
    )
    from oregonwaterdataportal_etl_spark.lake import LakeTable

    t = LakeTable.create(
        str(tmp_path / "t"), TRANSCRIPT_SCHEMA, ["conv_id", "turn_idx"], num_buckets=4
    )
    t.merge(spark.createDataFrame(
        generate_changes_pdf(2000, 100, seed=1, delete_rate=0.1)
    ))
    pdf = generate_changes_pdf(500, 100, seed=2, lsn_start=2000)
    t.merge(spark.createDataFrame(pdf), mode="mor")
    snap = t.snapshot()
    assert snap["tombstones"] and snap["deltas"]
    breg = os.path.join(t.path, "_bucketed")

    def regs():
        return sorted(os.listdir(breg)) if os.path.isdir(breg) else []

    def tables():
        return {x.name for x in spark.catalog.listTables()
                if x.name.startswith("zxr_")}

    regs0, tables0 = regs(), tables()
    row = pdf.iloc[-1]
    lk = t.lookup(spark, conv_id=row["conv_id"], turn_idx=int(row["turn_idx"]))
    lk.collect()
    plan = plan_of(lk)
    assert "Exchange" not in plan, plan
    assert "Window" in plan, plan  # the key's bucket holds deltas
    assert regs() == regs0 and tables() == tables0

    plan = plan_of(t.read(spark))
    assert "Exchange" not in plan, plan
    windows = [ln for ln in plan.splitlines() if re.search(r"\bWindow\b", ln)]
    assert len(windows) == 1, plan
    assert re.search(r"(?<!_)_tb#", windows[0]), windows[0]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_lww_dedup_plan_one_exchange_one_window(spark):
    """cdc.apply.lww_dedup ranks through the engine's one LWW window
    (lake.table._lww_top1): ONE Exchange on the keys' radix prefix and
    the keys, ONE Window, and the tie-break hashes JVM-side (no
    Python evaluation)."""
    from oregonwaterdataportal_etl_spark.cdc import lww_dedup
    from oregonwaterdataportal_etl_spark.cdc.changegen import generate_changes_pdf

    df = spark.createDataFrame(generate_changes_pdf(500, 20, seed=1))
    plan = plan_of(lww_dedup(df))
    assert len(re.findall(r"\bExchange\b", plan)) == 1, plan
    assert len(re.findall(r"\bWindow\b", plan)) == 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def _subtree(tree: str, node: str) -> list[str]:
    """Lines of ``tree`` below the first line containing ``node``
    (its descendants: the lines indented deeper than it)."""
    def depth(ln: str) -> int:
        m = re.search(r"[+:]- ", ln)
        return m.start() if m else -1

    lines = tree.splitlines()
    top = next(i for i, ln in enumerate(lines) if node in ln)
    below = []
    for ln in lines[top + 1:]:
        if depth(ln) <= depth(lines[top]):
            break
        below.append(ln)
    return below


def _batch_exchange(tree: str, details: str) -> tuple[str, list[str]]:
    """(columns of the plan's one Exchange, detail blocks of the nodes
    below it) of a formatted plan (tree, details)."""
    blocks = {}
    for block in details.split("\n\n"):
        m = re.match(r"\((\d+)\) ", block.strip())
        if m:
            blocks[m.group(1)] = block
    (n,) = set(re.findall(r"\bExchange \((\d+)\)", tree))
    below = [
        blocks[i]
        for ln in _subtree(tree, f"Exchange ({n})")
        for i in re.findall(r"\((\d+)\)", ln)
    ]
    return re.search(r"Input \[\d+\]: \[(.*)\]", blocks[n]).group(1), below


def _assert_exchange_ships_the_payload(tree: str, details: str) -> None:
    """The batch's exchange carries the tagged payload, __lsn and the op
    code, and nothing derived from them: the tie-break and the
    window's radix prefix are hashed above it."""
    shipped, below = _batch_exchange(tree, details)
    assert "__lsn" in shipped and "__op" in shipped, shipped
    for derived in ("__tb", "__kh"):
        assert derived not in shipped, shipped
    for block in below:
        assert "xxhash64(" not in block and "md5(" not in block, block


def test_cow_merge_write_plan_shuffles_only_the_batch(spark, tmp_path):
    """A copy-on-write merge into a non-empty table (base files,
    tombstones and pending MOR deltas in the touched buckets) runs ONE
    exchange, and only the batch is under it: the batch's LWW dedup
    rides a repartition on the keys, and a no-shuffle full-outer
    ShuffledHashJoin resolves it against the bucketed scan of the
    base, which reports the same HashPartitioning. The exchange ships
    the batch's payload, not hashes of it."""
    from oregonwaterdataportal_etl_spark.cdc.changegen import (
        TRANSCRIPT_SCHEMA,
        generate_changes_pdf,
    )
    from oregonwaterdataportal_etl_spark.lake import LakeTable

    t = LakeTable.create(
        str(tmp_path / "t"), TRANSCRIPT_SCHEMA, ["conv_id", "turn_idx"], num_buckets=4
    )
    t.merge(spark.createDataFrame(generate_changes_pdf(2000, 100, seed=1)))
    t.merge(
        spark.createDataFrame(generate_changes_pdf(300, 100, seed=3, lsn_start=2000)),
        mode="mor",
    )
    snap = t.snapshot()
    assert snap["files"] and snap["tombstones"] and snap["deltas"]
    batch_path = str(tmp_path / "batch.parquet")
    spark.createDataFrame(
        generate_changes_pdf(500, 100, seed=2, lsn_start=3000)
    ).write.parquet(batch_path)
    with recorded_writes(spark) as writes:
        r = t.merge(spark.read.parquet(batch_path))
    assert r.version == snap["version"] + 1

    tree, details = writes[-1]
    assert len(set(re.findall(r"\bExchange \((\d+)\)", tree))) == 1, tree
    below = _subtree(tree, "Exchange (")
    assert any("Scan parquet" in ln for ln in below), tree
    assert not any("spark_catalog" in ln for ln in below), tree
    assert "ShuffledHashJoin FullOuter" in tree, tree
    assert "SortMergeJoin" not in tree, tree
    base_scan = re.search(
        r"\(\d+\) Scan parquet spark_catalog\.\S+\n(?:.+\n)*?Bucketed: true",
        details,
    )
    assert base_scan, details
    _assert_exchange_ships_the_payload(tree, details)


def test_partitioned_merge_plans_never_shuffle_the_base(spark, tmp_path):
    """A time-partitioned table (days(ts) x bucket) keeps the flat pins:
    its copy-on-write merge() runs ONE exchange, the batch's, with the
    bucketed base scan joined in place (the partition value joins as a
    residual, so the join keys stay the bucketing keys), and its
    merge_prebucketed of a bucketed WAL runs no Exchange at all."""
    from oregonwaterdataportal_etl_spark.cdc.changegen import (
        TRANSCRIPT_SCHEMA,
        generate_changes_pdf,
    )
    from oregonwaterdataportal_etl_spark.lake import LakeTable, write_bucketed_wal

    keys = ["conv_id", "turn_idx"]
    t = LakeTable.create(
        str(tmp_path / "t"), TRANSCRIPT_SCHEMA, keys, num_buckets=4,
        partition_col="ts",
    )

    def batch(n, seed, lsn_start):
        # events over three days
        return spark.createDataFrame(
            generate_changes_pdf(n, 100, seed=seed, lsn_start=lsn_start)
        ).withColumn("ts", F.expr("timestampadd(DAY, int(lsn % 3), ts)"))

    t.merge(batch(2000, 1, 0))
    t.merge(batch(300, 3, 2000), mode="mor")
    snap = t.snapshot()
    assert snap["files"] and snap["tombstones"] and snap["deltas"]
    assert len(t.partitions()) == 3
    batch_path = str(tmp_path / "batch.parquet")
    batch(500, 2, 3000).write.parquet(batch_path)
    with recorded_writes(spark) as writes:
        t.merge(spark.read.parquet(batch_path))
    (tree, details), = writes
    assert len(set(re.findall(r"\bExchange \((\d+)\)", tree))) == 1, tree
    below = _subtree(tree, "Exchange (")
    assert not any("spark_catalog" in ln for ln in below), tree
    assert "ShuffledHashJoin FullOuter" in tree, tree
    assert re.search(
        r"\(\d+\) Scan parquet spark_catalog\.\S+\n(?:.+\n)*?Bucketed: true", details
    ), details

    wal = write_bucketed_wal(batch(500, 4, 4000), str(tmp_path / "wal"), 4, keys)
    with recorded_writes(spark) as writes:
        t.merge_prebucketed(spark, wal)
    (tree, details), = writes
    assert "Exchange" not in tree, tree
    assert "Bucketed: true" in details


def test_mor_merge_write_plan_ships_only_the_payload(spark, tmp_path):
    """The MOR append's one exchange (the batch's repartition before its
    LWW dedup) carries the tagged payload — declared dict columns as
    codes — __lsn and the op code; the tie-break, the radix prefix and the
    dict decode are computed above it."""
    from oregonwaterdataportal_etl_spark.cdc.changegen import (
        TRANSCRIPT_DICT_COLS,
        TRANSCRIPT_SCHEMA,
        generate_changes_pdf,
    )
    from oregonwaterdataportal_etl_spark.lake import LakeTable

    t = LakeTable.create(
        str(tmp_path / "t"), TRANSCRIPT_SCHEMA, ["conv_id", "turn_idx"],
        num_buckets=4, dict_cols=TRANSCRIPT_DICT_COLS,
    )
    t.merge(spark.createDataFrame(generate_changes_pdf(2000, 100, seed=1)))
    batch_path = str(tmp_path / "batch.parquet")
    spark.createDataFrame(
        generate_changes_pdf(500, 100, seed=2, lsn_start=3000)
    ).write.parquet(batch_path)
    with recorded_writes(spark) as writes:
        r = t.merge(spark.read.parquet(batch_path), mode="mor")
    assert r.rows_delta

    tree, details = writes[-1]
    shipped, _ = _batch_exchange(tree, details)
    assert "__c_role" in shipped and "__f_role" in shipped, shipped
    assert re.search(r"(?<![_\w])role#", shipped) is None, shipped
    _assert_exchange_ships_the_payload(tree, details)


def test_batch_resolve_plans_no_partial_group_limit_below_exchange(spark, tmp_path):
    """With Spark's WindowGroupLimit rule on (threshold 1000; the
    session default turns it off), the batch resolve's rank filter gets
    a Final WindowGroupLimit above the exchange and no Partial one below
    it, so hashing above the exchange forgoes no map-side top-1."""
    from oregonwaterdataportal_etl_spark.cdc.changegen import (
        TRANSCRIPT_SCHEMA,
        generate_changes_pdf,
    )
    from oregonwaterdataportal_etl_spark.lake import LakeTable

    key = "spark.sql.optimizer.windowGroupLimitThreshold"
    prior = spark.conf.get(key)
    spark.conf.set(key, "1000")
    try:
        t = LakeTable.create(
            str(tmp_path / "t"), TRANSCRIPT_SCHEMA, ["conv_id", "turn_idx"],
            num_buckets=4,
        )
        t.merge(spark.createDataFrame(generate_changes_pdf(2000, 100, seed=1)))
        batch_path = str(tmp_path / "batch.parquet")
        spark.createDataFrame(
            generate_changes_pdf(500, 100, seed=2, lsn_start=3000)
        ).write.parquet(batch_path)
        with recorded_writes(spark) as writes:
            t.merge(spark.read.parquet(batch_path))
        tree, details = writes[-1]
    finally:
        spark.conf.set(key, prior)
    assert "WindowGroupLimit" in tree, tree
    assert not any(
        "WindowGroupLimit" in ln for ln in _subtree(tree, "Exchange (")
    ), tree
    assert "Partial" not in "".join(
        b for b in details.split("\n\n") if "WindowGroupLimit" in b
    ), details


def test_cow_merge_null_keys_never_shuffle_the_base(spark, tmp_path):
    """A batch holding a null key value resolves its null-keyed rows
    apart from the join (which never matches null), but the base still
    stays in place: no exchange has the bucketed base scan below it."""
    from oregonwaterdataportal_etl_spark.cdc.changegen import (
        CHANGE_SCHEMA,
        TRANSCRIPT_SCHEMA,
        generate_changes_pdf,
    )
    from oregonwaterdataportal_etl_spark.lake import LakeTable

    t = LakeTable.create(
        str(tmp_path / "t"), TRANSCRIPT_SCHEMA, ["conv_id", "turn_idx"], num_buckets=4
    )
    t.merge(spark.createDataFrame(generate_changes_pdf(2000, 100, seed=1)))
    pdf = generate_changes_pdf(500, 100, seed=2, lsn_start=3000)
    pdf.loc[0, "conv_id"] = None
    batch_path = str(tmp_path / "batch.parquet")
    spark.createDataFrame(pdf, schema=CHANGE_SCHEMA).write.parquet(batch_path)
    with recorded_writes(spark) as writes:
        t.merge(spark.read.parquet(batch_path))

    tree, _ = writes[-1]
    assert "ShuffledHashJoin FullOuter" in tree, tree
    exchanges = set(re.findall(r"\bExchange \((\d+)\)", tree))
    assert exchanges, tree
    for n in exchanges:
        assert not any(
            "spark_catalog" in ln for ln in _subtree(tree, f"Exchange ({n})")
        ), tree


def test_changelog_joins_both_versions_in_place(spark, tmp_path):
    """read_changes joins the two versions' bucketed scans where they
    lie: no Exchange between two compacted versions, none when the
    to-version carries MOR deltas and tombstones, and with a null-keyed
    row only the rows passing the pushed null-key filter cross one.
    Each side sorts once: a side with pending deltas is sorted by its
    dedup window in key order, which the sort-merge join reuses."""
    from oregonwaterdataportal_etl_spark.cdc.changegen import (
        CHANGE_SCHEMA,
        TRANSCRIPT_SCHEMA,
        generate_changes_pdf,
    )
    from oregonwaterdataportal_etl_spark.lake import LakeTable

    def batch(n, seed, lsn_start):
        return spark.createDataFrame(
            generate_changes_pdf(n, 100, seed=seed, lsn_start=lsn_start)
        )

    t = LakeTable.create(
        str(tmp_path / "t"), TRANSCRIPT_SCHEMA, ["conv_id", "turn_idx"], num_buckets=4
    )
    t.merge(batch(2000, 1, 0))
    v1 = t.current_version()
    t.merge(batch(300, 2, 2000), mode="mor")
    t.compact(spark)
    assert not t.snapshot()["deltas"]
    # (a) two compacted versions
    plan = plan_of(t.read_changes(spark, v1))
    assert "Exchange" not in plan, plan
    for side in ("_to[", "_from["):
        scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln and side in ln]
        assert scans and all("Bucketed: true" in ln for ln in scans), plan

    # (b) a to-version carrying MOR deltas and tombstones
    v2 = t.current_version()
    t.merge(batch(300, 3, 3000), mode="mor")
    snap = t.snapshot()
    assert snap["deltas"] and snap["tombstones"]
    ch = t.read_changes(spark, v2)
    assert "Exchange" not in plan_of(ch), plan_of(ch)
    assert len(re.findall(r"\bSort \[", plan_of(ch))) == 2, plan_of(ch)
    assert ch.count() > 0
    # (b') both versions carry pending deltas: still one Sort per side
    v2d = t.current_version()
    t.merge(batch(300, 5, 3500), mode="mor")
    ch = t.read_changes(spark, v2d)
    plan = plan_of(ch)
    assert "Exchange" not in plan and plan.count("Window [") == 2, plan
    assert len(re.findall(r"\bSort \[", plan)) == 2, plan
    assert ch.count() > 0

    # (c) a null-keyed row in both versions, one of them in a MOR delta
    null_row = ("insert", 4000, None, 7, "user", "n", None, None)
    t.merge(spark.createDataFrame([null_row], schema=CHANGE_SCHEMA))
    v3 = t.current_version()
    t.merge(
        spark.createDataFrame(
            [("update", 4001, None, 7, "user", "n2", None, None)], schema=CHANGE_SCHEMA
        ),
        mode="mor",
    )
    ch = t.read_changes(spark, v3)
    lines = plan_of(ch).splitlines()
    exchanges = [i for i, ln in enumerate(lines) if "Exchange" in ln]
    assert exchanges, "\n".join(lines)

    def depth(ln):
        return len(ln) - len(ln.lstrip(" :|+-"))

    for i in exchanges:
        below = []
        for ln in lines[i + 1:]:
            if depth(ln) <= depth(lines[i]):
                break
            below.append(ln)
        scans = [ln for ln in below if "FileScan parquet" in ln]
        assert scans and all(
            "PushedFilters: [Or(IsNull(conv_id),IsNull(turn_idx))" in ln for ln in scans
        ), "\n".join(lines)
    assert [(r["turn_idx"], r["text"], r["_change_type"]) for r in ch.collect()] == [
        (7, "n2", "update")
    ]


def test_pack_documents_single_exchange(spark):
    """Sequence packing must be ONE hash exchange (shard) + window —
    no extra sort-merge machinery, no Python."""
    plan = plan_of(entrymod.q_pack_documents(spark, SF))
    assert len(re.findall(r"\bExchange\b", plan)) == 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_topk_is_take_ordered(spark):
    """O1: global top-k must compile to TakeOrderedAndProject — a
    per-partition top-k + k-row reduce, never a full sort."""
    plan = plan_of(entrymod.q_topk_orders(spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_agg_has_partial_phase(spark):
    """A-family: groupBy aggregates must keep map-side partial
    aggregation (two HashAggregate phases around the shuffle)."""
    plan = plan_of(entrymod.q_tpch1_agg(spark, SF))
    assert len(re.findall(r"HashAggregate", plan)) >= 2


def test_whole_stage_codegen_on_scalar_functions(spark):
    """F-series expressions must stay inside WholeStageCodegen."""
    plan = plan_of(entrymod.q_deterministic_hash(spark, SF))
    # "*(n)" prefixes mark WholeStageCodegen stages in toString output
    assert re.search(r"\*\(\d+\)", plan)
    # and no python UDF anywhere in the scalar path
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_no_python_udf_in_text_functions(spark):
    plan = plan_of(entrymod.q_token_stats(spark, SF))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_partition_pruning_merge_reads_only_touched_buckets(spark, tmp_path):
    """The bucket-file manifest is the engine's partition pruning: a
    1-key batch must scan only that key's bucket file(s)."""
    from oregonwaterdataportal_etl_spark.cdc.changegen import (
        CHANGE_SCHEMA,
        generate_changes_pdf,
    )
    from oregonwaterdataportal_etl_spark.lake import LakeTable
    from oregonwaterdataportal_etl_spark.cdc.changegen import TRANSCRIPT_SCHEMA

    t = LakeTable.create(
        str(tmp_path / "t"), TRANSCRIPT_SCHEMA, ["conv_id", "turn_idx"], num_buckets=16
    )
    t.merge(spark.createDataFrame(generate_changes_pdf(4000, 300, seed=2)))
    one = spark.createDataFrame(
        [("update", 10**7, "conv_00000003", 1, "user", "x", None, None)],
        schema=CHANGE_SCHEMA,
    )
    r = t.merge(one)
    assert len(r.touched_buckets) == 1
