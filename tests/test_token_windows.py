"""Token-window paths tokenize each document ONCE per row.

``word_shingles``, the DSIR bigram column and ``with_token_stats`` bind
the token array as a lambda variable (``text._with_tokens``) instead of
capturing the ``tokens()`` expression, which Catalyst inlined into every
lambda element (O(tokens²) per document). These tests pin the outputs
against a pure-Python reference on edge documents, pin MinHash signatures
to constants taken before the rewrite, and guard the plan shape: exactly
one ``split(`` per expression in the optimized plan."""

from __future__ import annotations

import re

import pytest

EDGE_DOCS = [
    (1, ""),
    (2, None),
    (3, "a"),
    (4, "a b"),
    (5, "  a  b c "),
    (6, "a\tb\nc d"),
    (7, "x y x y x y z"),
    (8, "the quick brown fox jumps over the quick brown fox"),
]


def _py_tokens(text):
    # Java's \s is [ \t\n\x0B\f\r]; Python's would also split on unicode spaces
    return [t for t in re.split(r"[ \t\n\x0b\f\r]+", text or "") if t]


def _py_windows(toks, n):
    return [" ".join(toks[i : i + n]) for i in range(max(len(toks) - n, 0) + 1)]


def _py_shingles(text, n):
    return list(dict.fromkeys(_py_windows(_py_tokens(text), n)))


def _py_dsir_grams(text):
    toks = _py_tokens(text)
    return _py_windows(toks, 2) if len(toks) >= 2 else []


@pytest.fixture(scope="module")
def edge_df(spark):
    return spark.createDataFrame(EDGE_DOCS, "doc_id long, text string")


def _split_count(df) -> int:
    return df._jdf.queryExecution().optimizedPlan().toString().count("split(")


@pytest.mark.parametrize("n", [2, 3])
def test_word_shingles_match_python_reference(edge_df, n):
    from pipes_spark.operators.dedup import word_shingles

    got = {
        r.doc_id: r.sh
        for r in edge_df.select("doc_id", word_shingles("text", n).alias("sh")).collect()
    }
    assert got == {i: _py_shingles(t, n) for i, t in EDGE_DOCS}


def test_dsir_grams_match_python_reference(edge_df):
    from pipes_spark.operators.text import _token_ngrams

    got = {
        r.doc_id: r.g
        for r in edge_df.select(
            "doc_id", _token_ngrams("text", 2, short_docs=False).alias("g")
        ).collect()
    }
    # repeated bigrams are kept: DSIR counts every occurrence
    assert got[7] == ["x y", "y x", "x y", "y x", "x y", "y z"]
    assert got == {i: _py_dsir_grams(t) for i, t in EDGE_DOCS}


def test_with_token_stats_match_python_reference(edge_df):
    from pipes_spark.operators.text import with_token_stats

    out = with_token_stats(edge_df)
    assert out.columns == ["doc_id", "text", "n_tokens", "n_chars_actual", "avg_token_len"]
    got = {r.doc_id: tuple(r)[2:] for r in out.collect()}
    want = {}
    for i, t in EDGE_DOCS:
        if t is None:
            want[i] = (None, None, None)
            continue
        toks = _py_tokens(t)
        avg = round(sum(map(len, toks)) / max(len(toks), 1), 6)
        want[i] = (len(toks), len(t), avg)
    assert got == want


def _tokenizing_frame(name, df):
    # aliased: an unnamed column's name would repeat the expression text
    if name == "word_shingles":
        from pipes_spark.operators.dedup import word_shingles

        return df.select(word_shingles("text", 3).alias("g"))
    if name == "dsir_grams":
        from pipes_spark.operators.text import _token_ngrams

        return df.select(_token_ngrams("text", 2, short_docs=False).alias("g"))
    from pipes_spark.operators.text import with_token_stats

    return with_token_stats(df)


@pytest.mark.parametrize("name", ["word_shingles", "dsir_grams", "with_token_stats"])
def test_each_path_tokenizes_once_per_row(edge_df, name):
    assert _split_count(_tokenizing_frame(name, edge_df)) == 1


MINHASH_DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy cat"),
    (3, "a stitch in time saves nine"),
    (4, "a b"),
]

# taken from minhash_signatures before the linear-shingling rewrite
MINHASH_8 = {
    1: [-7526567701951179316, -3852586997419460549, -8867447697322737600,
        -3134887495879601404, -8108882996475918782, -8867486211881703012,
        -8200088960888482637, -4886712486153508225],
    2: [-5802413506945132427, -3852586997419460549, -6221601534664984183,
        -3134887495879601404, -8108882996475918782, -7790663405383987669,
        -7400761947062928291, -3133361094225044761],
    3: [-8383411255148435899, -6942936042989051034, -7473195620999812721,
        3717452244080809930, -9139723842559795149, -4472629798145714510,
        -3363560229849482978, -8488504110773467843],
    4: [8141584615792746819, -8466867976720547159, 5476964219231233200,
        -1114910450491138835, -7172034530928987979, -2761765201115990591,
        -2257813384453700896, 5472018987844327209],
}
# (sum, first three) of the default 64-hash signature
MINHASH_64 = {
    1: (-437743640093403100402, MINHASH_8[1][:3]),
    2: (-434128882921559647127, MINHASH_8[2][:3]),
    3: (-348412204869028063634, MINHASH_8[3][:3]),
    4: (-3750705361996491747, MINHASH_8[4][:3]),
}


def test_minhash_signatures_match_pinned_constants(spark):
    from pipes_spark.operators.dedup import minhash_signatures

    df = spark.createDataFrame(MINHASH_DOCS, "doc_id long, text string")
    got8 = {r.doc_id: r.minhash for r in minhash_signatures(df, num_hashes=8).collect()}
    assert got8 == MINHASH_8
    got64 = {
        r.doc_id: (sum(r.minhash), r.minhash[:3])
        for r in minhash_signatures(df).collect()
    }
    assert got64 == MINHASH_64
