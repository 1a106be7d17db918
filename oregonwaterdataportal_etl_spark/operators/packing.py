"""Sequence packing for training-data pipelines.

Pretraining batches are built by CONCATENATING documents into a token
stream and CUTTING it every ``capacity`` tokens (GPT-style packing) —
documents may straddle a cut. ``pack_documents`` computes, fully
declaratively, where each document lands in that stream:

    (doc_id, shard, start_offset, bin_start, bin_end)

- the corpus is split into ``n_shards`` deterministic shards (60-bit
  md5 of the id modulo n_shards — the cross-engine hash discipline, so
  the DuckDB oracle reproduces the exact assignment);
- within a shard, documents are ordered by id and given their
  EXCLUSIVE running-token offset via ONE window cumsum;
- bin_start/bin_end = which cut bins the document's tokens fall into
  (floor division of the start/last-token offsets).

Scale notes (100 TB): the only shuffle is the per-shard window sort —
shards are hash-uniform, and n_shards is chosen so one shard's token
count fits a task (each shard is an independent stream; training
dataloaders consume shards in parallel anyway). No driver-side state,
no iteration; an entire corpus packs in one stage. There is no
never-split (first-fit) variant: it needs sequential state per bin and
underfills; cut-packing is what large-scale LM pipelines actually do.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .dedup import MD5_PRIME, md5_base_hash


def pack_documents(
    df: DataFrame,
    size_col: str = "n_tokens",
    id_col: str = "doc_id",
    capacity: int = 4096,
    n_shards: int = 16,
) -> DataFrame:
    """Assign every document its place in the concatenate-then-cut
    token stream. Returns (id, size, shard, start_offset, bin_start,
    bin_end); empty documents occupy no tokens and map to the bin at
    their start offset."""
    if capacity <= 0:
        raise ValueError("capacity must be positive")
    if n_shards <= 0:
        raise ValueError("n_shards must be positive")
    shard = (md5_base_hash(F.col(id_col).cast("string")) % MD5_PRIME) % n_shards
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # null sizes would silently corrupt every later offset in the shard
    # (window SUM skips nulls) — fail fast at execution, row-local
    checked_size = F.when(
        F.col(size_col).isNull(),
        F.raise_error(F.lit(f"null {size_col} in pack_documents")),
    ).otherwise(F.col(size_col).cast("long"))
    out = (
        df.select(
            F.col(id_col),
            checked_size.alias("size"),
            shard.cast("int").alias("shard"),
        )
        .withColumn("start_offset", F.coalesce(F.sum("size").over(w), F.lit(0)))
        # integer DIV, not double division: float rounding would corrupt
        # bin ids once offsets pass 2^53 tokens (a real corpus scale)
        .withColumn("bin_start", F.expr(f"start_offset div {capacity}"))
        .withColumn(
            "bin_end",
            F.expr(
                f"(start_offset + greatest(size - 1, 0L)) div {capacity}"
            ),
        )
    )
    return out

