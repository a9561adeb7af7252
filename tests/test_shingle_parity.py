"""Pin the Python shingle path to the DuckDB oracle's tokenizer.

``shingle_explode_py`` / ``py_words`` are the only Spark tokenizer for
minhash, ngram-jaccard and decontamination; the DuckDB twins of those
operators tokenize with ``shingles_sql``. The two must stay row-identical —
same whitespace class, same lowercasing, same distinct grams — or the
operators' results silently drift from the oracle. This test compares them
over the real sf0.01 corpus AND a curated edge-case set (empty /
whitespace-only / short docs, tabs, vertical tabs, repeated grams, mixed
case, punctuation, and the non-ASCII cases the two engines lowercase
alike). The non-ASCII cases they lowercase differently are pinned as
strict xfails: a later normalisation must flip them."""

from __future__ import annotations

import os

import duckdb
import pandas as pd
import pytest

from safe_zone_spark.operators.dedup import (
    py_words,
    shingle_explode_py,
    shingles_sql,
)

SF = "/root/testdata/sf0.01"

EDGE_TEXTS = [
    "",
    " ",
    "\t\n\r\f\x0b",
    "one",
    "one two",
    "one two three",
    "ONE Two thrEE four",
    "a  b\t\tc\nd\r\ne\ff\x0bg",
    "dup dup dup dup dup",
    "x y z x y z x y z",
    "  leading and trailing  ",
    "punct, marks! kept? as-is; ok.",
    "Tab\tsep\tand  double  space",
    None,
    # non-ASCII that Python and DuckDB lowercase alike
    "Straße GROSS ß ẞ weiß",
    "ﬁnd the ﬂow ﬁ ﬀ",
    "ǅemal ǄEMAL ǆ ǈ",
    "ΑΘΗΝΑ Καλημέρα κόσμε σας ΑΒΓ",
]


def _duck(texts, query):
    """Run ``query`` over table d(doc_id, text) built from ``texts``."""
    con = duckdb.connect()
    d = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    con.register("d", d)
    return con.execute(query).fetchall()


def _duck_shingles(table_sql, n):
    sh, w = shingles_sql(n)
    return f"""
WITH base AS (SELECT doc_id, {w} AS w FROM {table_sql})
SELECT doc_id, unnest({sh}) AS shingle FROM base"""


def _duck_words(texts):
    _, w = shingles_sql(3)
    rows = _duck(texts, f"SELECT doc_id, {w} FROM d")
    return {i: (ws or []) for i, ws in rows}


def _collect_py(df, n):
    out = shingle_explode_py(df, shingle_n=n).collect()
    return sorted((r[0], r[1]) for r in out)


@pytest.mark.parametrize("n", [3, 8])
def test_edge_cases_match(spark, n):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(EDGE_TEXTS)], "doc_id long, text string"
    )
    duck = sorted(_duck(EDGE_TEXTS, _duck_shingles("d", n)))
    assert _collect_py(df, n) == duck


def test_corpus_match(spark):
    path = f"{SF}/documents.parquet"
    if not os.path.exists(path):
        pytest.skip("testdata missing")
    df = spark.read.parquet(path).select("doc_id", "text")
    duck = duckdb.connect().execute(
        _duck_shingles(f"read_parquet('{path}')", 3)
    ).fetchall()
    assert _collect_py(df, 3) == sorted(duck)


def test_py_words_matches_shingles_sql():
    duck = _duck_words(EDGE_TEXTS)
    for i, t in enumerate(EDGE_TEXTS):
        assert py_words(t) == duck[i], f"doc {i}: {t!r}"


@pytest.mark.parametrize(
    "text",
    [
        # Python: İ -> "i" + U+0307 (combining dot); DuckDB: "i"
        pytest.param("İstanbul İZMİR", marks=pytest.mark.xfail(strict=True),
                     id="dotted-capital-i"),
        # Python: word-final Σ -> ς; DuckDB: σ
        pytest.param("ΟΔΥΣΣΕΥΣ ΣΑΣ", marks=pytest.mark.xfail(strict=True),
                     id="word-final-sigma"),
    ],
)
def test_py_words_known_lowercase_divergence(text):
    """Outside the documented domain of ``py_words``: the two engines'
    ``lower`` disagree here. Strict xfail, so normalising both sides (or
    DuckDB changing its casing) shows up as an XPASS failure."""
    assert py_words(text) == _duck_words([text])[0]


def test_with_size_column_is_distinct_gram_count(spark):
    df = spark.createDataFrame(
        [(0, "a b c a b c a b c"), (1, "p q r s")], "doc_id long, text string"
    )
    rows = shingle_explode_py(df, shingle_n=3, with_size=True).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r[0], set()).add((r[1], r[2]))
    # doc 0: grams {a b c, b c a, c a b} -> 3 distinct, n_sh == 3 on each row
    assert {n for n, _ in by_doc[0]} == {3}
    assert len(by_doc[0]) == 3
    assert {n for n, _ in by_doc[1]} == {2}
