"""Scalar function library — SURVEY.md 2.8 (F1-F12), Spark-native.

Every function returns a Column built from pyspark.sql.functions
(JVM-side, codegen-friendly); no Python UDFs. Reference locations are
cited per function for parity checking; implementations are
independent re-expressions.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

PACIFIC = "America/Los_Angeles"


def deterministic_hash(col: Column | str, k: int = 10) -> Column:
    """F1 — deterministic integer id from a string: md5 -> int mod 10^k,
    with 0 mapped to 1 (reference: userCode/util.py:30-37; golden
    values pinned in userCode/wrd/lib_test.py:77-102).

    Matches the reference bit-for-bit: Python's int(md5hex, 16) % 10^k
    equals mod-folding the hex digits, which we do in 4 chunks of 8 hex
    chars to stay inside long arithmetic (10^k <= 10^18 requires care;
    we support k <= 9 exactly via chunked modular horner; for the
    engine's own ids use xxhash64 which is cheaper).
    """
    if k > 9:
        raise ValueError("exact md5-mod supported for k <= 9")
    m = F.lit(10**k).cast("decimal(38,0)")
    h = F.md5(F.col(col) if isinstance(col, str) else col)
    # Horner over four 8-hex-digit limbs: ((l0*B + l1)*B + l2)*B + l3 mod m
    # B = 16^8; all intermediates fit in decimal(38,0).
    B = F.lit(4294967296).cast("decimal(38,0)")  # 2^32
    acc = None
    for i in range(4):
        limb = F.conv(F.substring(h, 1 + 8 * i, 8), 16, 10).cast("decimal(38,0)")
        acc = limb if acc is None else F.pmod(acc * B + limb, m)
    out = F.pmod(acc, m).cast("long")
    return F.when(out == 0, F.lit(1)).otherwise(out)


def parse_pacific_to_utc(col: Column | str, formats: tuple[str, ...] = ("MM-dd-yyyy HH:mm", "MM-dd-yyyy")) -> Column:
    """F2 — multi-format local-time parse + Pacific->UTC conversion
    (reference: userCode/wrd/lib.py:131-149, userCode/util.py:66-82).
    coalesce over formats = the reference's try/except fallback chain.
    """
    c = F.col(col) if isinstance(col, str) else col
    # try_to_timestamp: null on mismatch (ANSI-safe), so coalesce is
    # the reference's try/except format-fallback chain.
    parsed = F.coalesce(*[F.try_to_timestamp(c, F.lit(f)) for f in formats])
    return F.to_utc_timestamp(parsed, PACIFIC)


def interval_build(start: Column | str, end: Column | str) -> Column:
    """F4 — phenomenonTime-style "start/end" ISO interval string
    (reference: userCode/wrd/lib.py:120-128)."""
    s = F.col(start) if isinstance(start, str) else start
    e = F.col(end) if isinstance(end, str) else end
    iso = lambda c: F.date_format(c, "yyyy-MM-dd'T'HH:mm:ss'Z'")  # noqa: E731
    return F.concat_ws("/", iso(s), iso(e))


def synth_numeric_id(*cols: Column | str, width: int = 18) -> Column:
    """F5 — deterministic numeric id: concat parts, keep digits only,
    truncate to `width` (reference: userCode/wrd/sta_generation.py:29-46,
    FROST's 18-digit iot.id ceiling)."""
    cs = [F.col(c) if isinstance(c, str) else c for c in cols]
    return F.substring(
        F.regexp_replace(F.concat_ws("", *cs), "[^0-9]", ""), 1, width
    )


def padded_key(prefix: Column | str, num: Column | str, width: int = 7) -> Column:
    """F6 — cross-API join key: prefix + zero-padded number
    (reference: userCode/groundwater/wells.py:78-85)."""
    p = F.col(prefix) if isinstance(prefix, str) else prefix
    n = F.col(num) if isinstance(num, str) else num
    return F.concat(p, F.lpad(n.cast("string"), width, "0"))


def strip_suffix(col: Column | str, *suffixes: str) -> Column:
    """F7 — removesuffix chain (reference:
    userCode/wrd/sta_generation.py:104 '_available'/'_avail')."""
    c = F.col(col) if isinstance(col, str) else col
    pattern = "(" + "|".join(suffixes) + ")$"
    return F.regexp_replace(c, pattern, "")


def unit_from_header(col: Column | str) -> Column:
    """F7 — unit = last '_'-separated token of a header
    (reference: userCode/wrd/lib.py:79)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.element_at(F.split(c, "_"), -1)


def numeric_prefix(col: Column | str) -> Column:
    """F7 — '305m' -> 305 (reference: userCode/xlsx/helpers.py:86-88)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract(c, r"^(\d+)", 1).cast("int")


def json_int_field(col: Column | str, key: str) -> Column:
    """F10 fast path — extract a top-level integer field from a FLAT
    JSON object (no nested objects/arrays, key unique — the engine's
    CDC ``props`` wire shape) without a full JSON parse.

    ``get_json_object`` spins up a Jackson parser per value: measured
    2.1s for 1M tiny objects at local[32]; the regex does the same
    extraction in 0.4s (5x). On flat objects it agrees with
    ``get_json_object(col, "$.<key>")`` cast to int:

    - the key matches literally (``\\Q...\\E``-quoted, so ``.`` in a
      key matches only a dot);
    - the key's opening quote must follow ``{`` or ``,`` (whitespace
      allowed), so ``"key":`` text inside a string value, whose quotes
      are escaped, never matches;
    - the value must be an integer literal not followed by ``.``, a
      digit or an exponent, so ``1.5`` and ``1e3`` yield null instead
      of a truncated prefix;
    - a missing key, a null input or an out-of-range value yields null.

    A quoted number (``"5"``) is a string, so it yields null here.
    NOT valid for nested documents — a nested ``"key":`` after a ``{``
    or ``,`` would match; use ``get_json_object`` there."""
    c = F.col(col) if isinstance(col, str) else col
    quoted = "\\Q" + key.replace("\\E", "\\E\\\\E\\Q") + "\\E"
    pattern = '[{,]\\s*"' + quoted + '"\\s*:\\s*(-?\\d+)(?![.\\deE])'
    return F.regexp_extract(c, pattern, 1).try_cast("int")


def hash_split(col: Column | str, fractions: dict[str, float],
               seed: str = "split", resolution: int = 1_000_000) -> Column:
    """Deterministic train/val/test assignment: md5-hash the key with a
    salt, take it mod `resolution`, and map cumulative fraction bands
    to split labels. Stable across runs, machines and engines (the
    md5-prefix arithmetic is ANSI-replicable), independent of row
    order and partitioning — the properties random() splits lack.
    Fractions must sum to 1 (±1e-9); bands are assigned in dict order.

    100-TB shape: pure expression, no shuffle; downstream writers
    partitionBy the label. Same-keyed rows always land in the same
    split, so keying by document/conversation id prevents
    train/eval leakage of near-identical rows."""
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {total}")
    c = F.col(col) if isinstance(col, str) else col
    h = F.pmod(
        F.conv(F.substring(F.md5(F.concat(c.cast("string"), F.lit(seed))), 1, 15),
               16, 10).cast("long"),
        F.lit(resolution),
    )
    out = None
    cum = 0.0
    items = list(fractions.items())
    for name, frac in items[:-1]:
        cum += frac
        cond = h < F.lit(int(round(cum * resolution)))
        out = F.when(cond, F.lit(name)) if out is None else out.when(cond, F.lit(name))
    last = items[-1][0]
    return (F.lit(last) if out is None else out.otherwise(F.lit(last))).alias("split")


def hash_sample(col: Column | str, fraction: float, seed: str = "sample",
                resolution: int = 1_000_000) -> Column:
    """Deterministic keep/drop predicate for down-sampling: TRUE for
    the stable `fraction` of keys (same salt + md5 machinery as
    hash_split). Use per-group fractions for data-mix rebalancing:
    `df.filter(when(domain == 'web', hash_sample(id, 0.3)).otherwise(
    hash_sample(id, 1.0)))` keeps a deterministic 30% of web docs."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    c = F.col(col) if isinstance(col, str) else col
    h = F.pmod(
        F.conv(F.substring(F.md5(F.concat(c.cast("string"), F.lit(seed))), 1, 15),
               16, 10).cast("long"),
        F.lit(resolution),
    )
    return h < F.lit(int(round(fraction * resolution)))


def zorder_key(
    cols: list,
    mins: list,
    maxs: list,
    bits: int = 16,
) -> Column:
    """Z-order (Morton) key over 2-4 numeric columns — the clustering
    expression behind ``LakeTable.compact(cluster_by=...)`` (Delta
    OPTIMIZE ZORDER analog). Each column is clamped to [min, max],
    normalized to ``bits`` bits, and the bits are interleaved so rows
    close in EVERY dimension sort near each other; parquet row-group
    min/max stats then stay tight on every clustered column at once,
    and a range filter on any of them skips row groups.

    Pure JVM expression tree (shifts/and/or — codegen-friendly, no
    UDF). The normalization is ``floor(((x - min) * (2^bits - 1)) /
    span)`` with IEEE double division, which DuckDB reproduces
    bit-for-bit for spans below 2^53 / (2^bits - 1) — the oracle-parity
    route used by the `zorder_key` entry query."""
    n = len(cols)
    if not 2 <= n <= 4:
        raise ValueError("zorder_key needs 2-4 columns")
    if len(mins) != n or len(maxs) != n:
        raise ValueError("mins/maxs must align with cols")
    if bits * n > 63:
        raise ValueError(f"bits*ncols must fit a long, got {bits * n}")
    scale = (1 << bits) - 1
    norms = []
    for c, m, M in zip(cols, mins, maxs):
        col = (F.col(c) if isinstance(c, str) else c).cast("long")
        lo, hi = int(m), int(M)
        span = max(hi - lo, 1)
        clamped = F.least(F.greatest(col, F.lit(lo)), F.lit(hi))
        norms.append(
            F.floor(((clamped - F.lit(lo)) * F.lit(scale)) / F.lit(span))
            .cast("long")
        )
    z = F.lit(0).cast("long")
    for j in range(bits):
        for i, norm in enumerate(norms):
            pos = j * n + (n - 1 - i)
            bit = F.shiftright(norm, j).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, pos))
    return z
