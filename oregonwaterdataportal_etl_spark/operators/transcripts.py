"""Conversation-level operators over turn-grained transcript tables.

The engine's lake rows are TURNS (keyed (conv_id, turn_idx)); training
pipelines and dedup need the CONVERSATION view: ordered assembly of a
conversation's turns into one text, a stable conversation fingerprint
(whole-conversation dedup — near-identical multi-turn sessions are the
dominant duplicate class in agent-transcript corpora), and per-
conversation shape statistics.

Scale shape: ONE groupBy(conv_id) shuffle for everything here —
ordering happens INSIDE the row via array_sort over collected
(turn_idx, text) structs, never a global sort. At 10^10 turns a
conversation is 10s-100s of rows, so per-group state is tiny and
map-side partial aggregation does most of the collection. Struct
sort order (turn_idx leads) makes the assembly deterministic under
any delivery/partition order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import md5_prefix_fingerprint


def _assembled(order_col: str, text_col: str, sep: str) -> Column:
    """Ordered per-group concatenation: collect (order, text) structs,
    array_sort (order leads the struct => lexicographic = numeric
    order), then join the projected texts."""
    pairs = F.collect_list(
        F.struct(F.col(order_col).alias("o"), F.col(text_col).alias("t"))
    )
    return F.array_join(
        F.transform(F.array_sort(pairs), lambda p: p["t"]), sep
    )


def conversation_fingerprint(
    df: DataFrame,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    text_col: str = "text",
    hash_family: str = "xxhash64",
) -> DataFrame:
    """(conv, fingerprint): a stable hash of the order-assembled
    conversation — join two tables on it for whole-conversation exact
    dedup, or groupBy it to collapse re-ingested sessions. 'md5' gives
    the DuckDB-replicable 60-bit form (oracle:
    string_agg(text, sep ORDER BY turn_idx) under the same md5-prefix
    cast); 'xxhash64' is the at-scale default. The separator uses
    \\x1f (unit separator) so turn boundaries cannot be forged by
    newline-bearing turn text."""
    asm = _assembled(order_col, text_col, "\x1f")
    fp = (
        md5_prefix_fingerprint(asm)
        if hash_family == "md5"
        else F.xxhash64(asm)
    )
    return df.groupBy(conv_col).agg(fp.alias("fingerprint"))


def conversation_stats(
    df: DataFrame,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    text_col: str = "text",
    role_col: str = "role",
    tool_col: str = "tool",
) -> DataFrame:
    """Per-conversation shape statistics for curriculum / filtering:
    turn count, total text characters, distinct roles, tool-call count
    (non-null tool turns), and the max turn index (gap detection:
    max_turn_idx + 1 > n_turns means missing turns)."""
    return df.groupBy(conv_col).agg(
        F.count("*").alias("n_turns"),
        F.sum(F.length(F.coalesce(F.col(text_col), F.lit("")))).alias(
            "total_chars"
        ),
        F.count_distinct(F.col(role_col)).alias("n_roles"),
        F.count(F.col(tool_col)).alias("tool_calls"),
        F.max(F.col(order_col)).alias("max_turn_idx"),
    )

# ---------------------------------------------------------------------------
# Training-sample assembly: chat-template rendering and loss masking.
# ---------------------------------------------------------------------------


def render_chat_template(
    df: DataFrame,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    text_col: str = "text",
    role_col: str = "role",
    turn_sep: str = "\x1e",
    role_open: str = "<|",
    role_close: str = "|>",
) -> DataFrame:
    """(conv, rendered): each turn serialized as ``<|role|>text`` and
    the turns joined in turn order with a record separator — the
    string an LLM training sample is tokenized from. Null role/text
    render as empty (a turn never disappears, so char offsets from
    loss_mask_spans stay aligned).

    Scale shape: ONE groupBy(conv) shuffle; ordering is the in-row
    array_sort trick (struct sort, never a global sort), so the plan
    is a single hash aggregate with map-side partial collection.
    """
    block = F.concat(
        F.lit(role_open),
        F.coalesce(F.col(role_col), F.lit("")),
        F.lit(role_close),
        F.coalesce(F.col(text_col), F.lit("")),
    )
    pairs = F.collect_list(
        F.struct(F.col(order_col).alias("o"), block.alias("t"))
    )
    rendered = F.array_join(
        F.transform(F.array_sort(pairs), lambda p: p["t"]), turn_sep
    )
    return df.groupBy(conv_col).agg(rendered.alias("rendered"))


def loss_mask_spans(
    df: DataFrame,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    text_col: str = "text",
    role_col: str = "role",
    train_roles: tuple[str, ...] = ("assistant",),
    turn_sep: str = "\x1e",
    role_open: str = "<|",
    role_close: str = "|>",
) -> DataFrame:
    """Per-turn character spans into the render_chat_template string,
    plus the train-on flag: (conv, turn, start_char, end_char,
    train_on). start/end bound the turn's TEXT portion (role marker
    excluded), 0-based, end-exclusive — exactly what a masking
    tokenizer needs to zero the loss on non-``train_roles`` turns.
    Offsets are consistent with render_chat_template for any
    role/text nulls (both coalesce to empty).

    Scale shape: one shuffle — a window partitioned by conv ordered
    by turn. Per-conversation row counts are 10s-100s, so the
    per-partition sort is a few cache lines; there is no global sort
    and no second pass over the text (lengths only ride the window).
    """
    from pyspark.sql import Window

    marker_len = len(role_open) + len(role_close)
    sep_len = len(turn_sep)
    role = F.coalesce(F.col(role_col), F.lit(""))
    text = F.coalesce(F.col(text_col), F.lit(""))
    block_len = F.length(role) + F.lit(marker_len) + F.length(text)
    w = (
        Window.partitionBy(conv_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    block_start = F.coalesce(
        F.sum(block_len + F.lit(sep_len)).over(w), F.lit(0).cast("long")
    )
    start = block_start + F.length(role) + F.lit(marker_len)
    return df.select(
        F.col(conv_col),
        F.col(order_col),
        start.cast("long").alias("start_char"),
        (start + F.length(text)).cast("long").alias("end_char"),
        F.col(role_col).isin(*train_roles).alias("train_on"),
    )


def role_alternation_stats(
    df: DataFrame,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    role_col: str = "role",
) -> DataFrame:
    """Per-conversation dialogue-shape validation: the opening role,
    the number of adjacent same-role repeats, and whether roles
    strictly alternate — the standard hygiene gate before chat-format
    fine-tuning (consecutive same-role turns usually mean a broken
    ingest or a half-merged retry).

    Scale shape: ONE groupBy(conv); the adjacent-pair comparison runs
    in-row over the sorted role array (zip_with of the array against
    its shift), pure expression, no window, no second shuffle.
    """
    pairs = F.collect_list(
        F.struct(
            F.col(order_col).alias("o"),
            F.coalesce(F.col(role_col), F.lit("")).alias("r"),
        )
    )
    roles = F.transform(F.array_sort(pairs), lambda p: p["r"])
    n = F.size(roles)
    repeats = F.aggregate(
        F.zip_with(
            F.slice(roles, 1, n - 1),
            F.slice(roles, 2, n - 1),
            lambda a, b: F.when(a == b, 1).otherwise(0),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return df.groupBy(conv_col).agg(
        F.element_at(roles, 1).alias("first_role"),
        repeats.alias("same_role_repeats"),
        (repeats == 0).alias("strictly_alternating"),
    )


def truncate_to_token_budget(
    df: DataFrame,
    budget: int,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    text_col: str = "text",
) -> DataFrame:
    """Longest-prefix truncation to a token budget: per turn, the
    whitespace token count, the running total in turn order, and
    ``kept`` = (running total <= budget) — the deterministic
    "keep the head of the conversation that fits the context window"
    cut. Because the running total is monotone, kept is True on a
    prefix and False after, with no per-row branching downstream.

    Scale shape: one shuffle (window by conv ordered by turn); token
    counts are computed once from the text and only the 8-byte count
    rides the window frame.
    """
    from pyspark.sql import Window
    from ..functions.text import token_count

    toks = token_count(F.coalesce(F.col(text_col), F.lit(""))).cast("long")
    w = (
        Window.partitionBy(conv_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = F.sum(toks).over(w)
    return df.select(
        F.col(conv_col),
        F.col(order_col),
        toks.alias("n_tokens"),
        cum.cast("long").alias("cum_tokens"),
        (cum <= F.lit(budget)).alias("kept"),
    )


def boilerplate_turns(
    df: DataFrame,
    conv_col: str = "conv_id",
    text_col: str = "text",
    min_convs: int = 2,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Cross-conversation repeated-turn detection: hash every turn's
    text and keep hashes seen in >= min_convs distinct conversations
    — canned assistant boilerplate ("I'm sorry, but..."), template
    greetings, and retry echoes, the turn-granular duplicate class
    conversation-level fingerprints can't see. Returns (text_hash,
    n_convs, n_occurrences); join back on the hash to flag or drop
    the offending turns.

    Scale shape: the raw text NEVER rides the shuffle — each turn is
    reduced to an 8-byte hash map-side, then one groupBy(hash) with
    partial aggregation. 'md5' selects the DuckDB-replicable 60-bit
    prefix family (oracle parity); 'xxhash64' is the at-scale
    default.
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    h = (
        md5_prefix_fingerprint(t)
        if hash_family == "md5"
        else F.xxhash64(t)
    )
    return (
        df.select(h.alias("text_hash"), F.col(conv_col))
        .groupBy("text_hash")
        .agg(
            F.count_distinct(F.col(conv_col)).alias("n_convs"),
            F.count("*").alias("n_occurrences"),
        )
        .filter(F.col("n_convs") >= F.lit(min_convs))
    )


def conversation_windows(
    df: DataFrame,
    window_turns: int,
    stride: int,
    conv_col: str = "conv_id",
) -> DataFrame:
    """Sliding training windows over long conversations: for a
    conversation with n turns, emit windows of up to ``window_turns``
    turns starting every ``stride`` positions — (conv, window_id,
    start_pos, end_pos), positions 0-based over the conversation's
    turn order, end exclusive, trailing partial window kept. The
    standard long-context chunking step before packing.

    Scale shape: one groupBy(conv) for the count, then a generator
    expression (sequence + explode) — output size is
    sum(ceil(n_i/stride)), no join and no second shuffle.
    """
    n = F.col("__n")
    starts = F.sequence(
        F.lit(0).cast("long"), (n - 1).cast("long"), F.lit(stride).cast("long")
    )
    out = (
        df.groupBy(conv_col)
        .agg(F.count("*").alias("__n"))
        .select(
            F.col(conv_col),
            n,
            F.explode(starts).alias("start_pos"),
        )
    )
    return out.select(
        F.col(conv_col),
        (F.col("start_pos") / stride).cast("long").alias("window_id"),
        F.col("start_pos"),
        F.least(
            F.col("start_pos") + F.lit(window_turns), F.col("__n")
        ).cast("long").alias("end_pos"),
    )
