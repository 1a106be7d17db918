"""Regenerate PLANS.md: formatted physical plans of the flagship paths.

Usage: python scripts/dump_plans.py   (writes PLANS.md at the repo root)

The plan TESTS (tests/test_plans.py) are the enforcement; this file is
the human-readable snapshot of what those tests pin — refreshed by
running this script, never hand-edited. Run-specific tokens are
normalised (``normalized``), so ``git diff PLANS.md`` after a rerun
shows only real plan changes.
"""

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__ as em  # noqa: E402
from oregonwaterdataportal_etl_spark.cdc.changegen import (  # noqa: E402
    TRANSCRIPT_DICT_COLS,
    TRANSCRIPT_SCHEMA,
    generate_changes_pdf,
)
from oregonwaterdataportal_etl_spark.lake import LakeTable  # noqa: E402
from oregonwaterdataportal_etl_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.001"


def formatted(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


_UUID = r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"
# write-dir, registration and catalog-table names: 12-32 hex digits
_HEX = r"(?<![0-9a-f])(?=[0-9a-f]*[0-9])[0-9a-f]{12,32}(?![0-9a-f])"


def normalized(plan: str, tmp: str) -> str:
    """``plan`` with its run-specific tokens made stable: the temp dir
    and the input dir become <tmp> and <sf>, Spark's plan ids
    plan_id=N, and each distinct uuid, hex name and expression id a
    token numbered by first appearance (<uuid1>, <hex1>, #1)."""
    plan = plan.replace(tmp, "<tmp>").replace(SF, "<sf>")
    plan = re.sub(r"plan_id=\d+", "plan_id=N", plan)
    for pattern, token in ((_UUID, "<uuid{}>"), (_HEX, "<hex{}>"),
                           (r"(?<=#)\d+", "{}")):
        ids: dict[str, int] = {}
        plan = re.sub(pattern, lambda m: token.format(
            ids.setdefault(m.group(0), len(ids) + 1)
        ), plan)
    return plan


def parquet_batch(spark, tmp, name, pdf):
    """A change batch as the runner reads it: written to parquet and
    read back. An in-memory batch plans differently (Catalyst folds the
    tagging projection into its LocalRelation)."""
    path = os.path.join(tmp, name)
    spark.createDataFrame(pdf).write.parquet(path)
    return spark.read.parquet(path)


def mor_read_plan(spark, tmp):
    """read() of a version with base rows, tombstones and pending MOR
    deltas, plus a lookup() of one of the delta batch's keys."""
    t = LakeTable.create(
        os.path.join(tmp, "t"), TRANSCRIPT_SCHEMA, ["conv_id", "turn_idx"],
        num_buckets=4,
    )
    t.merge(parquet_batch(
        spark, tmp, "mor_b1",
        generate_changes_pdf(2000, 100, seed=1, delete_rate=0.1),
    ))
    pdf = generate_changes_pdf(500, 100, seed=2, lsn_start=2000)
    t.merge(parquet_batch(spark, tmp, "mor_b2", pdf), mode="mor")
    row = pdf.iloc[-1]
    return t.read(spark), t.lookup(
        spark, conv_id=row["conv_id"], turn_idx=int(row["turn_idx"])
    )


def last_write_plan(spark) -> str:
    """The plan the last write executed, from the SQL status store
    (adaptive final plan + initial plan)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    for i in reversed(range(execs.size())):
        desc = execs.apply(i).physicalPlanDescription()
        if "InsertIntoHadoopFsRelationCommand" in desc:
            return desc
    raise RuntimeError("no merge write in the SQL status store")


def cow_merge_plan(spark, tmp) -> str:
    """The plan an ordinary copy-on-write merge() executed."""
    t = LakeTable.create(
        os.path.join(tmp, "cow"), TRANSCRIPT_SCHEMA, ["conv_id", "turn_idx"],
        num_buckets=4,
    )
    t.merge(parquet_batch(
        spark, tmp, "cow_b1", generate_changes_pdf(2000, 100, seed=1)
    ))
    t.merge(parquet_batch(
        spark, tmp, "cow_b2",
        generate_changes_pdf(500, 100, seed=2, lsn_start=2000),
    ))
    return last_write_plan(spark)


def partitioned_cow_merge_plan(spark, tmp) -> str:
    """The plan a copy-on-write merge() into a days(ts) x bucket table
    executed, its batch spanning three days."""
    t = LakeTable.create(
        os.path.join(tmp, "pcow"), TRANSCRIPT_SCHEMA, ["conv_id", "turn_idx"],
        num_buckets=4, partition_col="ts",
    )

    def days(df):
        return df.withColumn("ts", F.expr("timestampadd(DAY, int(lsn % 3), ts)"))

    t.merge(days(parquet_batch(
        spark, tmp, "pcow_b1", generate_changes_pdf(2000, 100, seed=1)
    )))
    t.merge(days(parquet_batch(
        spark, tmp, "pcow_b2",
        generate_changes_pdf(500, 100, seed=2, lsn_start=2000),
    )))
    return last_write_plan(spark)


def mor_append_plan(spark, tmp) -> str:
    """The plan a merge(mode="mor") executed, into a table with declared
    dict columns."""
    t = LakeTable.create(
        os.path.join(tmp, "mor_append"), TRANSCRIPT_SCHEMA,
        ["conv_id", "turn_idx"], num_buckets=4, dict_cols=TRANSCRIPT_DICT_COLS,
    )
    t.merge(parquet_batch(
        spark, tmp, "mora_b1", generate_changes_pdf(2000, 100, seed=1)
    ))
    t.merge(parquet_batch(
        spark, tmp, "mora_b2",
        generate_changes_pdf(500, 100, seed=2, lsn_start=2000),
    ), mode="mor")
    return last_write_plan(spark)


def zero_exchange_plan(spark, tmp) -> str:
    """merge_prebucketed's resolve over a bucketed WAL + base +
    tombstones: zero Exchange; the ShuffledHashJoin sorts nothing, so
    the one per-task Sort is the batch dedup window's."""
    from oregonwaterdataportal_etl_spark.lake.bucketed import write_bucketed_wal

    t = LakeTable.create(
        os.path.join(tmp, "zx"), TRANSCRIPT_SCHEMA, ["conv_id", "turn_idx"],
        num_buckets=4,
    )
    b1 = spark.createDataFrame(
        generate_changes_pdf(2000, 100, seed=3, delete_rate=0.1)
    ).localCheckpoint()
    b2 = spark.createDataFrame(
        generate_changes_pdf(500, 100, seed=4)
    ).withColumn("lsn", F.col("lsn") + 2000).localCheckpoint()
    w1, w2 = os.path.join(tmp, "w1"), os.path.join(tmp, "w2")
    write_bucketed_wal(b1, w1, 4, ["conv_id", "turn_idx"])
    write_bucketed_wal(b2, w2, 4, ["conv_id", "turn_idx"])
    t.merge_prebucketed(spark, w1)
    t.merge_prebucketed(spark, w2)
    return last_write_plan(spark)


def zero_exchange_fold_plan(spark, tmp) -> str:
    """merge_prebucketed with PENDING MOR DELTAS: the base/tomb/delta
    side gains a no-exchange pre-dedup window over the side-partitioned
    bucketed scan; still zero Exchange anywhere."""
    from oregonwaterdataportal_etl_spark.lake.bucketed import write_bucketed_wal

    t = LakeTable.create(
        os.path.join(tmp, "zxf"), TRANSCRIPT_SCHEMA, ["conv_id", "turn_idx"],
        num_buckets=4,
    )
    b1 = spark.createDataFrame(
        generate_changes_pdf(2000, 100, seed=5, delete_rate=0.1)
    ).localCheckpoint()
    b2 = spark.createDataFrame(
        generate_changes_pdf(500, 100, seed=6)
    ).withColumn("lsn", F.col("lsn") + 2000).localCheckpoint()
    b3 = spark.createDataFrame(
        generate_changes_pdf(500, 100, seed=7)
    ).withColumn("lsn", F.col("lsn") + 4000).localCheckpoint()
    t.merge(b1)
    t.merge(b2, mode="mor")
    w3 = os.path.join(tmp, "w3")
    write_bucketed_wal(b3, w3, 4, ["conv_id", "turn_idx"])
    t.merge_prebucketed(spark, w3)
    return last_write_plan(spark)


def zero_exchange_compact_fold_plan(spark, tmp) -> str:
    """compact()'s delta fold: NO update side
    and NO join — base/tomb/delta winners resolve from the bucketed
    scan's own partitioning and pass straight to the write."""
    t = LakeTable.create(
        os.path.join(tmp, "cf"), TRANSCRIPT_SCHEMA, ["conv_id", "turn_idx"],
        num_buckets=4,
    )
    b1 = spark.createDataFrame(
        generate_changes_pdf(2000, 100, seed=8, delete_rate=0.1)
    ).localCheckpoint()
    b2 = spark.createDataFrame(
        generate_changes_pdf(500, 100, seed=9)
    ).withColumn("lsn", F.col("lsn") + 2000).localCheckpoint()
    t.merge(b1)
    t.merge(b2, mode="mor")
    t._fold_deltas_zx(spark, set(t.snapshot()["deltas"]))
    return last_write_plan(spark)


def changelog_plan(spark, tmp):
    """read_changes between two versions: each version's touched
    buckets register as one bucketed table (base, tombstones, pending
    deltas), and the two per-key winner sides join full-outer in place:
    a sort-merge join on plain key equality with no Exchange. The
    to-version carries MOR deltas, so its side shows the dedup window,
    whose key-first sort the join reuses."""
    t = LakeTable.create(
        os.path.join(tmp, "chg"), TRANSCRIPT_SCHEMA, ["conv_id", "turn_idx"],
        num_buckets=4,
    )
    t.merge(spark.createDataFrame(generate_changes_pdf(2000, 100, seed=10)))
    v1 = t.current_version()
    t.merge(
        spark.createDataFrame(generate_changes_pdf(300, 100, seed=11))
        .withColumn("lsn", F.col("lsn") + 2000),
        mode="mor",
    )
    return t.read_changes(spark, v1)


def lww_dedup_plan(spark):
    """cdc.apply.lww_dedup of a raw change batch: one exchange, then the
    engine's one LWW window."""
    from oregonwaterdataportal_etl_spark.cdc import lww_dedup

    return lww_dedup(
        spark.createDataFrame(generate_changes_pdf(2000, 100, seed=12))
    )


def write_plans(spark, tmp: str) -> None:
    """Build every flagship plan over tables under ``tmp`` and write
    PLANS.md."""
    mor_read, mor_lookup = mor_read_plan(spark, tmp)
    sections = [
        (
            "Zero-exchange pre-bucketed merge resolve (round 4)",
            "batch LWW dedup window + full-outer SHUFFLE_HASH join against "
            "base+tombstones, all from catalog bucketed scans: NO Exchange. "
            "The join sorts nothing; the one per-task Sort is the batch "
            "window's. Pinned by test_prebucketed_plan_has_zero_exchanges",
            zero_exchange_plan(spark, tmp),
        ),
        (
            "Zero-exchange merge with MOR delta folding (round 4)",
            "pending deltas register as side=d of the bucketed base/tomb "
            "table; the combined side pre-dedups per key with a window the "
            "bucketed scan's partitioning satisfies — still NO Exchange. "
            "Pinned by test_prebucketed_merge_folds_pending_mor_deltas",
            zero_exchange_fold_plan(spark, tmp),
        ),
        (
            "Zero-exchange compaction delta fold (round 5)",
            "compact() — the fold has no update side and "
            "no join: base/tomb/delta winners resolve from the bucketed "
            "scan's own partitioning. Pinned by "
            "test_zx_delta_fold_equals_oracle_fold",
            zero_exchange_compact_fold_plan(spark, tmp),
        ),
        (
            "Incremental changelog read (zero exchange)",
            "read_changes: the touched buckets of both snapshots as bucketed "
            "scans -> per-key winners -> full-outer sort-merge join on the "
            "keys, which both scans' partitioning satisfies: NO Exchange. "
            "One Sort per side: the to-side's dedup window sorts by the keys "
            "first, and the join reuses that order. "
            "Pinned by test_changelog_joins_both_versions_in_place; scan "
            "pruning by test_changelog_scans_only_touched_buckets",
            changelog_plan(spark, tmp),
        ),
        (
            "Copy-on-write merge (one exchange: the batch)",
            "batch -> ONE repartition on the keys, carrying the payload, "
            "the LSN and the op code -> tie-break hash -> LWW dedup window "
            "-> full-outer SHUFFLE_HASH join (build = the batch) against the "
            "bucketed scan of the touched buckets' base+tombstones+deltas, "
            "which needs no exchange -> bucket-aligned write. Pinned by "
            "test_cow_merge_write_plan_shuffles_only_the_batch",
            cow_merge_plan(spark, tmp),
        ),
        (
            "Copy-on-write merge into a time-partitioned table",
            "days(ts) x bucket(4): the same one exchange (the batch's "
            "repartition on the keys); the partition value _p is computed "
            "above it from ts and joins the keys in the dedup window and, "
            "as a <=/>= residual, in the full-outer SHUFFLE_HASH join, "
            "whose equi-keys stay the bucketing keys, so the bucketed scan "
            "of the touched (day, bucket) groups needs no exchange -> one "
            "write into _p=<day>/_b=<bucket>/ dirs. Pinned by "
            "test_partitioned_merge_plans_never_shuffle_the_base",
            partitioned_cow_merge_plan(spark, tmp),
        ),
        (
            "MOR append (one exchange: the batch)",
            "merge(mode=\"mor\"): batch -> ONE repartition on the keys, "
            "carrying the payload (declared dict columns as codes), the LSN "
            "and the op code -> dict decode + tie-break hash -> LWW dedup "
            "window -> per-bucket delta files, no second exchange. Pinned by "
            "test_mor_merge_write_plan_ships_only_the_payload",
            mor_append_plan(spark, tmp),
        ),
        (
            "MOR read (zero exchange)",
            "read() with pending deltas: the version's base, tombstone and "
            "delta files as one side-partitioned bucketed scan -> ONE LWW "
            "dedup window (tie-break and side in the sort), which the "
            "scan's partitioning satisfies: NO Exchange. Pinned by "
            "test_mor_read_and_lookup_plans_have_no_exchange",
            mor_read,
        ),
        (
            "Point lookup (zero exchange)",
            "lookup(): the key's bucket files, key predicate pushed into each "
            "scan, unioned and coalesced to one partition -> the same dedup "
            "window: NO Exchange, no registration. Pinned by "
            "test_mor_read_and_lookup_plans_have_no_exchange",
            mor_lookup,
        ),
        (
            "Standalone LWW dedup (lww_dedup)",
            "one hash exchange on the keys' xxhash64 radix prefix and the "
            "keys -> the engine's one LWW window (_lww_top1, the window "
            "every resolve ranks with), tie-break hashed JVM-side. "
            "Pinned by test_lww_dedup_plan_one_exchange_one_window",
            lww_dedup_plan(spark),
        ),
        (
            "Grouped aggregate (tpch1_agg)",
            "map-side partial aggregation around one exchange; predicate + "
            "column pruning reach the scan. Pinned by test_agg_has_partial_phase",
            em.q_tpch1_agg(spark, SF),
        ),
        (
            "Broadcast dim join (broadcast_lookup_join)",
            "fact side never shuffles. Pinned by test_broadcast_join_strategy",
            em.q_broadcast_lookup_join(spark, SF),
        ),
        (
            "Global top-k (topk_orders)",
            "TakeOrderedAndProject: per-partition top-k + k-row reduce, no "
            "full sort. Pinned by test_topk_is_take_ordered",
            em.q_topk_orders(spark, SF),
        ),
        (
            "Sequence packing (pack_documents)",
            "one hash exchange (md5 shard) + window cumsum, exact DIV bin "
            "math. Pinned by test_pack_documents_single_exchange",
            em.q_pack_documents(spark, SF),
        ),
    ]
    out = [
        "# PLANS — formatted physical plans of the flagship paths",
        "",
        "Auto-generated by `python scripts/dump_plans.py` (sf0.001 inputs;",
        "operator shapes are scale-independent). The plan TESTS in",
        "tests/test_plans.py are the enforcement; this file is the",
        "human-readable snapshot.",
        "",
    ]
    for title, note, df in sections:
        plan = formatted(df) if hasattr(df, "sparkSession") else df
        out += [f"## {title}", "", note, "", "```",
                normalized(plan.strip(), tmp), "```", ""]
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")


def main() -> None:
    import shutil
    import tempfile

    spark = get_spark(app_name="plans", master="local[4]", shuffle_partitions=4)
    tmp = tempfile.mkdtemp(prefix="plansdump_")
    try:
        write_plans(spark, tmp)
    finally:
        # the tables, WALs and registrations are only plan inputs
        spark.stop()
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
