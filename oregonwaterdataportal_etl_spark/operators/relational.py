"""Relational operator compositions — SURVEY.md 2.2-2.7 parity.

Each helper re-expresses one reference operator as a declarative
DataFrame transform so Catalyst handles pushdown/pruning/join
strategy. Reference citations per function; no reference code reused.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def lookup_join(keys: DataFrame, dim: DataFrame, on: list[str] | str) -> DataFrame:
    """J1 — key lookup against a small dimension: broadcast hash join
    (reference: userCode/wrd/dag.py:106-120 dict lookup per partition
    key). Broadcasting the dim avoids any shuffle of the fact side."""
    return keys.join(F.broadcast(dim), on=on, how="inner")


def vocab_join(
    df: DataFrame,
    vocab: DataFrame,
    on: str,
    mapped_col: str,
    default: Column | None = None,
) -> DataFrame:
    """J3 — ontology/vocabulary mapping. default=None -> miss is an
    error (WRD semantics, userCode/wrd/sta_generation.py:104-112);
    default given -> left join + coalesce fallback (AWQMS semantics,
    userCode/awqms/sta_generation.py:102-124)."""
    joined = df.join(F.broadcast(vocab), on=on, how="left")
    if default is None:
        return joined  # caller asserts no-null (see assert_no_misses)
    return joined.withColumn(mapped_col, F.coalesce(F.col(mapped_col), default))


def assert_no_misses(df: DataFrame, col: str) -> DataFrame:
    """Miss-is-error arm of J3: raise if any mapping is null."""
    misses = df.filter(F.col(col).isNull()).count()
    if misses:
        raise ValueError(f"{misses} rows missed the vocabulary mapping on {col}")
    return df


def new_rows_only(updates: DataFrame, target_keys: DataFrame, on: list[str]) -> DataFrame:
    """J4 — anti-join against the sink's existing keys (reference:
    `iotid not in observations_ids`, userCode/awqms/dag.py:158,171-179).
    target_keys should be a key-only projection so only keys shuffle."""
    return updates.join(target_keys.select(*on), on=on, how="left_anti")


def newer_than_watermark(
    obs: DataFrame, watermarks: DataFrame, key: str, ts_col: str, wm_col: str
) -> DataFrame:
    """J6 — per-key interval/as-of predicate: keep observations strictly
    newer than the key's stored watermark; keys without a watermark
    pass entirely (reference: userCode/wrd/dag.py:171-197 +
    helper_classes.py:131-162). Equi-join on key + range filter —
    the watermark side is small (one row per stream), so broadcast."""
    return (
        obs.join(F.broadcast(watermarks.select(key, wm_col)), on=key, how="left")
        .filter(F.col(wm_col).isNull() | (F.col(ts_col) > F.col(wm_col)))
        .drop(wm_col)
    )


def unpivot_flags(df: DataFrame, id_cols: list[str], flag_cols: list[str],
                  name_col: str = "flag", value_col: str = "value") -> DataFrame:
    """P3 — availability-flag unpivot (reference walks getattr per flag,
    userCode/wrd/dag.py:130-137). stack() is the zero-shuffle unpivot."""
    pairs = ", ".join(f"'{c}', {c}" for c in flag_cols)
    expr = f"stack({len(flag_cols)}, {pairs}) as ({name_col}, {value_col})"
    return df.selectExpr(*id_cols, expr)


def having_count_at_least(df: DataFrame, keys: list[str], n: int,
                          count_col: str = "cnt") -> DataFrame:
    """P4 — HAVING count >= n admission filter (reference: ResultCount
    >= 24, userCode/awqms/types.py:49-52). Partial aggregation is free
    (map-side combine before the shuffle)."""
    return df.groupBy(*keys).agg(F.count("*").alias(count_col)).filter(
        F.col(count_col) >= n
    )


def first_wins_dedup(df: DataFrame, keys: list[str], order_by: list[Column]) -> DataFrame:
    """A2/A4 — ordered first-occurrence dedup (reference: insertion-
    ordered dict, userCode/wrd/lib.py:66-100). Spark has no insertion
    order, so "first" must be defined by an explicit ordering."""
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def argmax_dedup(df: DataFrame, keys: list[str], order_col: str) -> DataFrame:
    """A8/W3 — keep the best duplicate per key (reference: max
    est_horizontal_error wins, userCode/groundwater/wells.py:347-378)."""
    w = Window.partitionBy(*keys).orderBy(F.desc(order_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def latest_per_key(df: DataFrame, keys: list[str], ts_col: str,
                   tiebreak: str | None = None) -> DataFrame:
    """W2 — top-1 latest row per stream (reference: $orderby=
    phenomenonTime desc take-first, userCode/wrd/dag_test.py:97-110)."""
    order = [F.desc(ts_col)] + ([F.desc(tiebreak)] if tiebreak else [])
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def time_range_per_key(df: DataFrame, keys: list[str], ts_col: str) -> DataFrame:
    """A1 — per-stream min/max time range (reference:
    generate_phenomenon_time, userCode/wrd/lib.py:120-128)."""
    return df.groupBy(*keys).agg(
        F.min(ts_col).alias("range_start"), F.max(ts_col).alias("range_end")
    )


def union_distinct(a: DataFrame, b: DataFrame) -> DataFrame:
    """U2/A3 — set-union of two sources (reference:
    list(set(a+b)), userCode/awqms/stations.py:25-33)."""
    return a.unionByName(b, allowMissingColumns=True).distinct()


def assert_ts_in_range(df: DataFrame, ts_col: str, start, end) -> DataFrame:
    """P8 — data-quality range assertion (reference:
    assert_utc_date_in_range, userCode/util.py:52-63). Distributed
    count of violations; raises like the reference's assert."""
    bad = df.filter(~F.col(ts_col).between(start, end)).count()
    if bad:
        raise ValueError(f"{bad} rows outside [{start}, {end}] in {ts_col}")
    return df

