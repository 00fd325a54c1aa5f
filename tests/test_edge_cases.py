"""Edge-case behavior: empty inputs, all-null values, degenerate groups —
the failure modes that surface at scale when some partition/year/group is
empty or null-ridden."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from hbsir_old_spark.functions.dedup import exact_dedup, word_shingles  # noqa: E402
from hbsir_old_spark.functions.text import lang_id, token_count  # noqa: E402
from hbsir_old_spark.operators.quantile import add_decile, weighted_ecdf  # noqa: E402
from hbsir_old_spark.operators.reshape import melt, union_tables  # noqa: E402
from hbsir_old_spark.operators.weighted import weighted_average  # noqa: E402


def test_weighted_average_all_null_column(spark):
    df = spark.createDataFrame(
        [(1, None, 2.0), (1, None, 3.0)], schema="g int, v double, w double"
    )
    out = weighted_average(df, weight_col="w", value_cols=["v"], group_cols=["g"])
    assert out.collect()[0]["v"] is None  # no silent zero


def test_weighted_ecdf_empty_input(spark):
    df = spark.createDataFrame([], schema="g int, v double, w double")
    out = weighted_ecdf(df, "v", "w", group_cols=("g",))
    assert out.count() == 0


def test_weighted_ecdf_single_row_is_one(spark):
    df = spark.createDataFrame([(1, 5.0, 2.5)], schema="g int, v double, w double")
    row = weighted_ecdf(df, "v", "w", group_cols=("g",)).collect()[0]
    assert row["Quantile"] == 1.0


def test_decile_null_values_dropped(spark):
    rows = [(1, float(i), 1.0) for i in range(20)] + [(1, None, 1.0)]
    df = spark.createDataFrame(rows, schema="g int, v double, w double")
    out = add_decile(df, "v", "w", group_cols=("g",))
    assert out.count() == 20  # null value row excluded, like the reference dropna


def test_melt_empty_and_single_column(spark):
    df = spark.createDataFrame([], schema="id int, a double, b double")
    assert melt(df, ["id"], ["a", "b"]).count() == 0
    one = spark.createDataFrame([(1, 2.0)], schema="id int, a double")
    out = melt(one, ["id"], ["a"]).collect()
    assert out[0]["variable"] == "a" and out[0]["value"] == 2.0


def test_union_tables_single_input(spark):
    df = spark.createDataFrame([(1,)], schema="a int")
    assert union_tables([df]).collect()[0]["a"] == 1


def test_union_tables_type_widening(spark):
    a = spark.createDataFrame([(1,)], schema="x int")
    b = spark.createDataFrame([(2.5,)], schema="x double")
    out = union_tables([a, b])
    assert dict(out.dtypes)["x"] == "double"
    assert {r["x"] for r in out.collect()} == {1.0, 2.5}


def test_text_functions_on_empty_and_whitespace(spark):
    df = spark.createDataFrame([("",), ("   ",), ("one two",)], schema="text string")
    rows = df.select(
        token_count("text").alias("n"), lang_id("text").alias("lang")
    ).collect()
    assert [r["n"] for r in rows] == [0, 0, 2]
    assert all(r["lang"] is not None for r in rows)  # deterministic tie-break


def test_word_shingles_short_text(spark):
    df = spark.createDataFrame([("solo",), ("two words",)], schema="text string")
    out = df.select(word_shingles("text", 3).alias("sh")).collect()
    assert out[0]["sh"] == ["solo"]
    assert out[1]["sh"] == ["two words"]


SHINGLE_DOCS = [
    (1, "the cat sat on the mat while the cat slept"),
    (2, "solo"),
    (3, ""),
    (4, None),
    (5, "a b a b a b"),
    (6, "  Weird   WHITESPACE\tand ΣΙΓΜΑΣ  "),
]


def test_exploded_word_shingles_matches_array_form(spark):
    # the codegen'd exploded twin must agree with the array form as a SET
    # per doc (the exploded form skips per-doc distinct by design) across
    # the conventions: short text -> whole-text gram, empty and NULL text
    # -> one '' gram each, repeated grams, unicode normalization
    from hbsir_old_spark.functions.dedup import exploded_word_shingles

    df = spark.createDataFrame(SHINGLE_DOCS, "doc_id int, text string")
    arr = {
        r["doc_id"]: sorted(r["sh"])
        for r in df.select("doc_id", word_shingles("text", 3).alias("sh")).collect()
    }
    expl = {}
    for r in exploded_word_shingles(df, "doc_id", "text", 3).collect():
        expl.setdefault(r["doc_id"], set()).add(r["__g__"])
    assert {k: sorted(v) for k, v in expl.items()} == arr
    # NULL and empty text both fold to one '' gram in BOTH forms
    # (concat_ws folds the NULL slice to the empty string)
    assert arr[3] == [""] and arr[4] == [""]


def test_word_shingles_pinned_output(spark):
    # exact arrays, order included: grams in first-occurrence order, each
    # distinct gram once, '' for NULL and empty text
    expected = {
        1: [
            ["the", "cat", "sat", "on", "mat", "while", "slept"],
            ["solo"],
            [""],
            [""],
            ["a", "b"],
            ["weird", "whitespace", "and", "σιγμασ"],
        ],
        2: [
            ["the cat", "cat sat", "sat on", "on the", "the mat", "mat while", "while the", "cat slept"],
            ["solo"],
            [""],
            [""],
            ["a b", "b a"],
            ["weird whitespace", "whitespace and", "and σιγμασ"],
        ],
        3: [
            ["the cat sat", "cat sat on", "sat on the", "on the mat", "the mat while", "mat while the", "while the cat", "the cat slept"],
            ["solo"],
            [""],
            [""],
            ["a b a", "b a b"],
            ["weird whitespace and", "whitespace and σιγμασ"],
        ],
    }
    df = spark.createDataFrame(SHINGLE_DOCS, "doc_id int, text string")
    for n, want in expected.items():
        rows = df.orderBy("doc_id").select(word_shingles("text", n).alias("sh")).collect()
        assert [r["sh"] for r in rows] == want, n


def test_exact_dedup_empty(spark):
    df = spark.createDataFrame([], schema="doc_id long, text string")
    assert exact_dedup(df).count() == 0
