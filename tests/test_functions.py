"""Scalar + text function tests with golden values (mirrors the
reference's pure-function unit tests, SURVEY.md section 5.1)."""

import hashlib

import pytest
from pyspark.sql import functions as F

from oregonwaterdataportal_etl_spark.functions import scalar, text


def one(spark, col):
    return spark.range(1).select(col.alias("v")).collect()[0]["v"]


def strcol(spark, s, fn):
    return (
        spark.createDataFrame([(s,)], ["s"]).select(fn("s").alias("v")).collect()[0]["v"]
    )


def test_deterministic_hash_golden(spark):
    """Reference golden: deterministic_hash('test', 5) == 28374
    (userCode/wrd/lib_test.py:77-102)."""
    assert strcol(spark, "test", lambda c: scalar.deterministic_hash(c, 5)) == 28374


@pytest.mark.parametrize("s", ["", "a", "hello world", "conv_00000042/t3#999", "ünïcode"])
@pytest.mark.parametrize("k", [3, 5, 9])
def test_deterministic_hash_matches_python(spark, s, k):
    expected = int(hashlib.md5(s.encode()).hexdigest(), 16) % 10**k
    expected = expected if expected != 0 else 1
    assert strcol(spark, s, lambda c: scalar.deterministic_hash(c, k)) == expected


def test_pacific_to_utc(spark):
    """Reference pins '01-15-2024 08:30' Pacific -> 16:30 UTC
    (semantics of userCode/wrd/lib.py:131-149)."""
    v = strcol(spark, "01-15-2024 08:30", scalar.parse_pacific_to_utc)
    assert v.strftime("%Y-%m-%dT%H:%M") == "2024-01-15T16:30"
    # date-only fallback format
    v2 = strcol(spark, "01-15-2024", scalar.parse_pacific_to_utc)
    assert v2.strftime("%Y-%m-%dT%H:%M") == "2024-01-15T08:00"


def test_interval_roundtrip(spark):
    df = spark.createDataFrame(
        [("2024-01-01 00:00:00", "2024-06-01 12:00:00")], ["a", "b"]
    ).select(F.to_timestamp("a").alias("a"), F.to_timestamp("b").alias("b"))
    iv = df.select(scalar.interval_build("a", "b").alias("iv"))
    assert iv.collect()[0]["iv"] == "2024-01-01T00:00:00Z/2024-06-01T12:00:00Z"


def test_synth_numeric_id(spark):
    """F5 — digits-only concat truncated to 18 (userCode/wrd/
    sta_generation.py:29-46)."""
    df = spark.createDataFrame([("stn-123", "2024-01-02T03:04:05Z")], ["a", "b"])
    v = df.select(scalar.synth_numeric_id("a", "b").alias("v")).collect()[0]["v"]
    assert v == "123202401020304" + "05"[:2]
    assert len(v) <= 18 and v.isdigit()


def test_padded_key(spark):
    df = spark.createDataFrame([("26", 1234)], ["cc", "nbr"])
    v = df.select(scalar.padded_key("cc", "nbr").alias("v")).collect()[0]["v"]
    assert v == "260001234"


def test_strip_suffix_and_unit(spark):
    assert (
        strcol(spark, "mean_daily_flow_available", lambda c: scalar.strip_suffix(c, "_available", "_avail"))
        == "mean_daily_flow"
    )
    assert strcol(spark, "instantaneous_flow_cfs", scalar.unit_from_header) == "cfs"
    assert strcol(spark, "305m", scalar.numeric_prefix) == 305


def test_token_counts(spark):
    assert strcol(spark, "the quick brown fox", text.token_count) == 4
    # don / ' / t / stop / , / it / ' / s / 4 / 2 / ! -> 11
    assert strcol(spark, "don't stop, it's 42!", text.bpe_ish_token_count) == 11


def test_detect_lang(spark):
    assert strcol(spark, "The cat and the dog is here to stay", text.detect_lang) == "en"
    assert strcol(spark, "Der Hund ist nicht da und die Katze", text.detect_lang) == "de"
    assert strcol(spark, "zzz 123", text.detect_lang) == "und"


def test_quality_score_bounds(spark):
    vals = [
        strcol(spark, s, text.quality_score)
        for s in ["short", "The cat and the dog played in the garden all day.", "!!!???!!!"]
    ]
    assert all(0.0 <= v <= 1.0 for v in vals)
    assert vals[1] > vals[2]


def test_fingerprints_stable(spark):
    a = strcol(spark, "hello world", text.md5_prefix_fingerprint)
    b = strcol(spark, "hello world", text.md5_prefix_fingerprint)
    expected = int(hashlib.md5(b"hello world").hexdigest()[:15], 16)
    assert a == b == expected


def test_shingles_and_ngrams(spark):
    sh = strcol(spark, "abcdef", lambda c: text.shingles(c, 3))
    assert sh == ["abc", "bcd", "cde", "def"]
    ng = strcol(spark, "a b c d", lambda c: text.word_ngrams(c, 2))
    assert ng == ["a b", "b c", "c d"]


# ------------------------------------------------------ json_int_field
def _json_k(spark, payloads, key="k"):
    df = spark.createDataFrame([(i, p) for i, p in enumerate(payloads)], "i int, s string")
    rows = df.select(
        "i",
        scalar.json_int_field("s", key).alias("fast"),
        F.get_json_object("s", f"$.{key}").try_cast("int").alias("parsed"),
    ).collect()
    return {r["i"]: (r["fast"], r["parsed"]) for r in sorted(rows)}


def test_json_int_field_equals_get_json_object_on_flat_payloads(spark):
    payloads = [
        '{"k":5}',
        '{"k": -7 ,"x":1}',
        '{ "k" : 12 }',
        '{"kk":3,"k":4}',
        '{"x":"a,b","k":0}',
        '{"k":null}',
        "{}",
        None,
        '{"k":99999999999}',
    ]
    got = _json_k(spark, payloads)
    for i, p in enumerate(payloads):
        fast, parsed = got[i]
        assert fast == parsed, (p, fast, parsed)
    # plain cast agrees wherever the value is an in-range integer
    assert [got[i][0] for i in range(5)] == [5, -7, 12, 4, 0]


@pytest.mark.parametrize(
    "payload",
    [
        r'{"m":"\"k\": 9","k":5}',  # "k": text inside a string value
        '{"m":"\"k\": 9","k":5}',  # the same with its escapes dropped
        r'{"\"k":9,"k":5}',  # a key ending in k after an escaped quote
    ],
)
def test_json_int_field_ignores_key_text_inside_strings(spark, payload):
    assert _json_k(spark, [payload])[0][0] == 5


@pytest.mark.parametrize("payload", ['{"k":1.5}', '{"k":1e3}', '{"k":2E1}', '{"x":1}'])
def test_json_int_field_non_integral_or_missing_is_null(spark, payload):
    assert _json_k(spark, [payload])[0] == (None, None)


def test_json_int_field_escapes_the_key(spark):
    """A '.' in the key matches only a dot, not any character."""
    got = _json_k(spark, ['{"aXb":9,"a.b":5}', '{"aXb":9}'], key="a.b")
    assert got[0][0] == 5
    assert got[1][0] is None
