"""Text-analysis operators for large-scale training-data pipelines
(SURVEY.md §2.C extensions; no reference counterpart — pipes users would
write these as MiddleFunc bodies, ref: pipe/node.go:16-19).

All operators are pure ``pyspark.sql.functions`` column expressions — no
Python UDFs — so they stay inside whole-stage codegen and scale linearly
with executors: at 100 TB these are embarrassingly parallel map-side
transforms with zero shuffle.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: Tiny per-language marker-word lists for the n-gram/stopword language
#: heuristic. Counting uses replace-arithmetic so the same logic is
#: expressible in ANSI SQL for the correctness oracle.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of"],
    "es": ["el", "la", "que"],
    "fr": ["le", "les", "des"],
    "de": ["der", "und", "die"],
    "zh": ["de", "shi", "le"],
}


def tokens(col) -> Column:
    """Whitespace tokenization with empty-token removal (BPE-ish regex
    splitting is a drop-in replacement for the pattern)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(c, r"\s+"), lambda t: t != "")


def _with_tokens(col, fn) -> Column:
    """``fn(toks)`` over ``col``'s token array, tokenizing ONCE per row.

    A lambda that references an outer non-attribute expression gets that
    expression inlined into its body, so ``slice(tokens(c), i + 1, n)``
    inside ``transform`` re-splits the document for every element —
    O(tokens²) per row. Routing the array through a one-element
    ``transform(array(tokens), fn)[0]`` makes it a lambda VARIABLE instead:
    evaluated once, shared by every reference in ``fn``."""
    return F.transform(F.array(tokens(col)), fn)[0]


def _token_ngrams(col, n: int, short_docs: bool = True) -> Column:
    """Space-joined n-token windows of ``col``, in order, from one
    tokenization per row. A document with fewer than ``n`` tokens gives
    one window holding all of them (``""`` when it has none, NULL text
    included) when ``short_docs``, else no windows."""

    def windows(toks):
        grams = F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        )
        if short_docs:
            return grams
        return F.when(F.size(toks) >= n, grams).otherwise(F.array().cast("array<string>"))

    return _with_tokens(col, windows)


def token_count(col) -> Column:
    return F.size(tokens(col)).cast("bigint")


def occurrence_count(col, needle: str) -> Column:
    """Number of occurrences of ``needle`` via length/replace arithmetic —
    branch-free, codegen-friendly, and portable to SQL."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        (F.length(c) - F.length(F.replace(c, F.lit(needle), F.lit(""))))
        / F.lit(len(needle))
    ).cast("bigint")


def with_token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """n_tokens / n_chars / avg token length per document."""
    stats = _with_tokens(
        text_col,
        lambda toks: F.struct(
            F.size(toks).cast("bigint").alias("n"),
            F.round(
                F.aggregate(toks, F.lit(0.0), lambda acc, t: acc + F.length(t))
                / F.greatest(F.size(toks), F.lit(1)),
                6,
            ).alias("avg"),
        ),
    )
    return (
        df.withColumn("_tok_stats", stats)
        .withColumns(
            {
                "n_tokens": F.col("_tok_stats.n"),
                "n_chars_actual": F.length(text_col).cast("bigint"),
                "avg_token_len": F.col("_tok_stats.avg"),
            }
        )
        .drop("_tok_stats")
    )


def with_quality_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / character-class / stopword-ratio quality signals, the usual
    first-pass corpus filters (C4/Gopher-style heuristics)."""
    c = F.col(text_col)
    n = F.greatest(F.length(c), F.lit(1))
    alpha = F.length(F.regexp_replace(c, "[^A-Za-z]", ""))
    digit = F.length(F.regexp_replace(c, "[^0-9]", ""))
    space = F.length(F.regexp_replace(c, r"[^\s]", ""))
    stop_hits = sum(occurrence_count(c, f" {w} ") for w in ("the", "and", "a"))
    n_toks = F.greatest(token_count(c), F.lit(1))
    return df.withColumns(
        {
            "alpha_ratio": F.round(alpha / n, 6),
            "digit_ratio": F.round(digit / n, 6),
            "space_ratio": F.round(space / n, 6),
            "stopword_ratio": F.round(stop_hits / n_toks, 6),
        }
    )


def with_lang_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Marker-word-count language ID with a deterministic argmax
    (ties resolved by language-code order)."""
    c = F.col(text_col)
    out = df
    for lang, words in LANG_MARKERS.items():
        score = sum(occurrence_count(c, f" {w} ") for w in words)
        out = out.withColumn(f"score_{lang}", score)
    # deterministic argmax: best score wins, earlier language code on ties
    langs = sorted(LANG_MARKERS)
    best = F.lit(langs[0])
    best_score = F.col(f"score_{langs[0]}")
    for lang in langs[1:]:
        is_better = F.col(f"score_{lang}") > best_score
        best = F.when(is_better, F.lit(lang)).otherwise(best)
        best_score = F.when(is_better, F.col(f"score_{lang}")).otherwise(best_score)
    return out.withColumn("lang_pred", best)


def normalized_fingerprint(col) -> Column:
    """Exact-duplicate fingerprint: md5 of casefolded, whitespace-collapsed
    text. Portable (md5 is identical everywhere) and partitionable: dedup =
    hash-shuffle on the fingerprint."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(F.trim(F.regexp_replace(F.lower(c), r"\s+", " ")))


def tfidf(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Token-level TF-IDF: tf = in-document occurrences, idf = ln(N/df).

    Scale shape: ONE tokenize pass — the (doc, token) TF aggregate is
    persisted (scope-released) and the document frequency is derived from
    it (tf has exactly one row per distinct (doc, token), so a count per
    token IS the distinct-doc count), instead of re-scanning and
    re-exploding the corpus for a second count_distinct aggregation. The
    document count N stays IN-PLAN (1-row aggregate cross-joined
    broadcast, the pmi_pairs / association_rules pattern) — constructing
    the DataFrame fires no Spark job, matching the reference's lazy-build
    contract (nothing runs before Runner.Start, ref: pipe/runner.go:18-22).
    No Python in the data path.
    """
    from ..caching import scoped_persist

    nd = df.agg(F.count(F.lit(1)).cast("double").alias("_n_docs"))
    toks = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("token"))
    tf = scoped_persist(
        toks.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("dfreq"))
    idf = F.log(F.col("_n_docs") / F.col("dfreq").cast("double"))
    return (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(nd))
        .select(
            F.col(id_col),
            "token",
            "tf",
            F.round(idf, 6).alias("idf"),
            F.round(F.col("tf").cast("double") * idf, 6).alias("tfidf"),
        )
    )


def repetition_scores(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition signals per document: duplicate-token
    fraction, most-common-bigram fraction, duplicate-trigram fraction —
    the standard filters for boilerplate / degenerate repetition in
    web-scale corpora (Rae et al. 2021, §A1.1).

    Scale shape: posexplode to (doc, pos, token) rows, derive n-grams with
    ``lead`` over a per-document window (one shuffle keyed by doc id,
    partitions are single documents — never skewed beyond document length),
    then two hash aggregations and a join on the doc id. All integer
    arithmetic until the final rounded divisions, so results are
    cross-engine exact.
    """
    toks = df.select(
        F.col(id_col), F.posexplode_outer(tokens(text_col)).alias("pos", "tok")
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    t1 = F.lead("tok", 1).over(w)
    t2 = F.lead("tok", 2).over(w)
    grams = toks.select(
        F.col(id_col),
        "tok",
        F.when(t1.isNotNull(), F.concat_ws(" ", F.col("tok"), t1)).alias("bg"),
        F.when(t2.isNotNull(), F.concat_ws(" ", F.col("tok"), t1, t2)).alias("tg"),
    )
    base = grams.groupBy(id_col).agg(
        F.count("tok").alias("n_tokens"),
        F.count_distinct(F.col("tok")).alias("n_distinct_tokens"),
        F.count("bg").alias("n_bigrams"),
        F.count("tg").alias("n_trigrams"),
        F.count_distinct(F.col("tg")).alias("n_distinct_trigrams"),
    )
    top_bg = (
        grams.filter(F.col("bg").isNotNull())
        .groupBy(id_col, "bg")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy(id_col)
        .agg(F.max("cnt").alias("max_bg_cnt"))
    )
    one = F.lit(1)
    return base.join(top_bg, id_col, "left").select(
        F.col(id_col),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.round(
            (F.col("n_tokens") - F.col("n_distinct_tokens"))
            / F.greatest(F.col("n_tokens"), one),
            6,
        ).alias("dup_token_frac"),
        F.round(
            F.coalesce(F.col("max_bg_cnt"), F.lit(0))
            / F.greatest(F.col("n_bigrams"), one),
            6,
        ).alias("top_bigram_frac"),
        F.round(
            (F.col("n_trigrams") - F.col("n_distinct_trigrams"))
            / F.greatest(F.col("n_trigrams"), one),
            6,
        ).alias("dup_trigram_frac"),
    )


def unigram_rarity(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus-frequency rarity score per document: mean and min corpus
    occurrence count over the document's tokens — the integer-exact stand-in
    for unigram log-likelihood scoring (rare-token-heavy documents score
    low min / low avg; boilerplate scores high).

    Scale shape: one explode, a token-keyed hash aggregation (map-side
    partial combine — the shuffle carries one row per distinct token per
    partition), a token-keyed join back (AQE broadcasts the frequency table
    when the vocabulary is small; Zipf vocabularies usually are), then a
    doc-keyed aggregation. Integer sums, so cross-engine exact.
    """
    tok_rows = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("tok"))
    counts = tok_rows.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        tok_rows.join(counts, "tok")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.sum("cnt") / F.count(F.lit(1)), 6).alias("avg_token_count"),
            F.min("cnt").alias("min_token_count"),
        )
        .select(
            F.col(id_col),
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            "avg_token_count",
            F.col("min_token_count").cast("bigint").alias("min_token_count"),
        )
    )


#: PII detection patterns (heuristic first-pass, the usual pre-filter before
#: a model-based scrubber). Kept simple enough to be portable to the SQL
#: oracle dialect.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?[0-9][0-9()\-\s]{7,}[0-9]",
    "ipv4": r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}",
}


def with_pii_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document PII hit counts per pattern plus a total — map-side
    regexp work only, no shuffle."""
    c = F.col(text_col)
    out = df
    for name, pat in PII_PATTERNS.items():
        out = out.withColumn(f"n_{name}", F.size(F.regexp_extract_all(c, F.lit(pat), 0)).cast("bigint"))
    total = sum(F.col(f"n_{name}") for name in PII_PATTERNS)
    return out.withColumn("n_pii_total", total.cast("bigint"))


def top_ngrams(
    df: DataFrame,
    n: int = 3,
    k: int = 20,
    text_col: str = "text",
) -> DataFrame:
    """Corpus-level frequent items: the ``k`` most common word ``n``-grams
    by DOCUMENT frequency (each document counts an n-gram once) — the
    vocabulary/boilerplate analysis every corpus pipeline runs before
    choosing dedup and filtering thresholds.

    Scale: explode distinct per-doc shingles → one hash-aggregate with
    map-side partial counts (the shuffle carries (ngram, partial_count),
    not documents) → global top-k via a single ordered limit, which Spark
    executes as per-partition TakeOrdered + driver merge of k·P rows — no
    global sort materialization. Ties break lexicographically so the
    result is deterministic and oracle-portable.
    """
    from .dedup import word_shingles

    grams = df.select(F.explode(word_shingles(F.col(text_col), n)).alias("ngram"))
    return (
        grams.groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy(F.col("n_docs").desc(), F.col("ngram").asc())
        .limit(k)
    )


#: GPT-2-style pre-tokenizer pattern, lookahead-free so the IDENTICAL regex
#: runs in Spark (Java regex) and DuckDB (RE2) for the correctness oracle:
#: contraction suffixes, space-prefixed letter runs, digit runs, punctuation
#: runs. (The original GPT-2 pattern's trailing-whitespace lookahead only
#: affects how whitespace-only tokens group, which token COUNTING ignores.)
BPE_LIKE_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+"


def bpe_like_tokens(col) -> Column:
    """Subword-style pre-tokenization (the BPE pre-pass): splits
    contractions, letter runs, number runs, and punctuation runs the way
    GPT-2-family tokenizers do before merges — the realistic unit for
    training-token budgeting, vs whitespace words which undercount
    punctuation-heavy and code-like text."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(c, F.lit(BPE_LIKE_PATTERN), 0)


def bpe_like_token_count(col) -> Column:
    return F.size(bpe_like_tokens(col)).cast("bigint")


def winnowing_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    w: int = 16,
) -> DataFrame:
    """MOSS-style winnowing fingerprints (the rolling-hash document
    fingerprint): 32-bit hashes of the lowercased char ``k``-grams, the
    minimum kept per sliding window of ``w`` consecutive grams, then
    deduplicated per document. Any two documents sharing a substring of at
    least ``k + w - 1`` chars are GUARANTEED to share a fingerprint — the
    selection-with-recall property plain sampling lacks.

    Scale: the k-gram hash array is built map-side per row (one md5 per
    gram — same explode-an-array shape as MinHash shingling); the window
    minima need ONE shuffle on the doc id. Fingerprint count per doc is
    ~2·n_chars/w, independent of similarity structure.

    Docs shorter than ``k + w - 1`` chars yield no fingerprints (no full
    window).
    """
    norm = F.lower(F.col(text_col))
    base = df.select(F.col(id_col), norm.alias("_t")).filter(
        F.length("_t") >= k + w - 1
    )
    hs = F.transform(
        F.sequence(F.lit(1), F.length("_t") - (k - 1)),
        lambda i: F.conv(
            F.substring(F.md5(F.substring(F.col("_t"), i, F.lit(k))), F.lit(1), F.lit(8)),
            16,
            10,
        ).cast("bigint"),
    )
    g = base.select(F.col(id_col), F.posexplode(hs).alias("_p", "_h"))
    wmin = Window.partitionBy(id_col).orderBy("_p").rowsBetween(0, w - 1)
    wall = Window.partitionBy(id_col)
    m = g.select(
        F.col(id_col),
        F.col("_p"),
        F.min("_h").over(wmin).alias("fingerprint"),
        F.count(F.lit(1)).over(wall).alias("_n"),
    )
    return (
        m.filter(F.col("_p") <= F.col("_n") - w)
        .select(id_col, "fingerprint")
        .distinct()
    )


def char_entropy(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document character-unigram Shannon entropy (bits) — the cheap
    perplexity proxy corpus pipelines bucket on before an LM scorer:
    boilerplate, repeated padding, and encoding garbage sit at the low
    end; natural prose clusters in a narrow band.

    Scale: explode to (doc, char) rows, count per pair, fold the entropy
    sum per doc — two doc-keyed hash aggregates with map-side combine;
    the shuffle carries (doc_id, char, count), never the text.
    """
    chars = df.select(
        F.col(id_col),
        F.length(text_col).alias("_len"),
        F.explode(F.split(F.col(text_col), "")).alias("_c"),
    ).filter(F.col("_c") != "")
    counts = chars.groupBy(id_col, "_len", "_c").agg(F.count(F.lit(1)).alias("_n"))
    p = F.col("_n") / F.col("_len")
    return (
        counts.groupBy(id_col, "_len")
        .agg(F.round(-F.sum(p * F.log2(p)), 6).alias("char_entropy_bits"))
        .select(
            F.col(id_col),
            F.col("_len").cast("bigint").alias("n_chars_actual"),
            "char_entropy_bits",
        )
    )


def top_ngrams_approx(
    df: DataFrame,
    n: int = 3,
    k: int = 20,
    text_col: str = "text",
    max_items_tracked: int = 100_000,
) -> DataFrame:
    """Sketch-based variant of :func:`top_ngrams`: one pass with Spark 4's
    ``approx_top_k`` aggregate instead of a full (ngram, count) hash
    aggregate. The sketch tracks ``max_items_tracked`` candidates per
    partition and merges — bounded memory regardless of n-gram
    cardinality, the right trade when the exact aggregate's shuffle of
    billions of distinct n-grams is itself the bottleneck. Exact when the
    distinct count stays under the budget (pytest-asserted); ranking ties
    are broken arbitrarily by the sketch, so downstream consumers needing
    determinism use the exact operator."""
    from .dedup import word_shingles

    grams = df.select(F.explode(word_shingles(F.col(text_col), n)).alias("ngram"))
    return (
        grams.select(
            F.expr(f"approx_top_k(ngram, {k}, {max_items_tracked})").alias("top")
        )
        .select(F.explode("top").alias("e"))
        .select(F.col("e.item").alias("ngram"), F.col("e.count").alias("n_docs"))
    )


def fuzzy_match(
    df: DataFrame,
    probes: DataFrame,
    col: str,
    probe_col: str,
    max_distance: int = 2,
    out_distance: str = "distance",
) -> DataFrame:
    """Edit-distance fuzzy matching (entity-resolution lite): every (row,
    probe) pair within ``max_distance`` Levenshtein edits.

    Scale: the probe side is broadcast (query lists are small by
    contract); the length pre-filter ``|len(a) − len(b)| ≤ max_distance``
    is applied FIRST in the join condition so the expensive edit-distance
    DP short-circuits on the cheap conjunct (Catalyst evaluates And
    left-to-right). For big×big fuzzy joins, block first (length bucket
    or first-k-char prefix) and run this per block — the same
    candidate-then-verify shape as the dedup operators.
    """
    d = F.levenshtein(F.col(col), F.col(probe_col))
    len_ok = (
        F.abs(F.length(F.col(col)) - F.length(F.col(probe_col))) <= max_distance
    )
    return (
        df.join(F.broadcast(probes), len_ok & (d <= max_distance))
        .withColumn(out_distance, d.cast("bigint"))
    )


def chunk_token_windows(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_tokens: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Split documents into overlapping fixed-token-budget chunks — the
    context-window preparation step of a training pipeline (stride <
    max_tokens gives max_tokens−stride tokens of overlap, the RoBERTa/BERT
    sliding-window convention).

    Output: one row per chunk with (id, chunk_id, start token offset,
    chunk token count, chunk text). The last chunk may be short; a document
    never emits a chunk that starts at/after its token count, and an empty
    document emits nothing.

    Scale: map-side only — tokenize, ``sequence`` of chunk starts (bounded:
    ceil(n/stride) elements, ~10⁴ for a million-token doc), explode,
    ``slice`` + ``array_join``. No shuffle at all; chunking 100 TB is a
    pure scan→write pipeline. Chunk ids are deterministic (start offset
    order), so reruns produce identical chunks.
    """
    if max_tokens < 1 or stride < 1:
        raise ValueError(f"max_tokens and stride must be >= 1, got {max_tokens}, {stride}")
    toks = tokens(F.col(text_col))
    starts = F.sequence(
        F.lit(0), F.greatest(F.col("_n") - 1, F.lit(0)), F.lit(stride)
    )
    out = (
        df.select(F.col(id_col), toks.alias("_tk"), F.size(toks).alias("_n"))
        .filter(F.col("_n") > 0)
        .select(
            F.col(id_col),
            F.col("_tk"),
            F.col("_n"),
            F.posexplode(starts).alias("chunk_id", "start_token"),
        )
        .filter(F.col("start_token") < F.col("_n"))
    )
    piece = F.slice(F.col("_tk"), F.col("start_token") + 1, max_tokens)
    return out.select(
        F.col(id_col),
        F.col("chunk_id").cast("bigint").alias("chunk_id"),
        F.col("start_token").cast("bigint").alias("start_token"),
        F.size(piece).cast("bigint").alias("chunk_tokens"),
        F.array_join(piece, " ").alias("chunk_text"),
    )


def tfidf_cosine_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    max_postings: int = 10_000,
) -> DataFrame:
    """Sparse TF-IDF cosine similarity pairs — document similarity WITHOUT
    embeddings (the classic IR formulation): docs are sparse
    token→weight vectors; cosine is a token-keyed self-join summing
    weight products, normalized by per-doc norms.

    Determinism: weights are the 6-decimal-rounded TF-IDF values, so the
    dot/norm accumulators can be DECIMAL(28,12) — products of two
    6-decimal values are EXACT at 12 decimals, no float summation order
    anywhere; two engines computing this get identical bits.

    Scale: pair volume is Σ_token df(token)² — the Zipf head is the
    hazard, so tokens appearing in more than ``max_postings`` documents
    (stopwords/boilerplate, negligible TF-IDF weight anyway) are dropped
    from pairing AND from the norms, keeping the two sides of the cosine
    consistent. For low thresholds over huge corpora route candidates
    through MinHash-LSH first and use this as the verifier.
    """
    acc = "decimal(28,12)"
    w = tfidf(df, text_col=text_col, id_col=id_col)
    dfreq = w.groupBy("token").agg(F.count(F.lit(1)).alias("_n"))
    keep = dfreq.filter(F.col("_n") <= max_postings).select("token")
    w = w.join(keep, "token").select(F.col(id_col).alias("id"), "token", "tfidf")
    norms = w.groupBy("id").agg(
        F.sqrt(F.sum((F.col("tfidf") * F.col("tfidf")).cast(acc)).cast("double")).alias(
            "_norm"
        )
    )
    a = w.select(F.col("id").alias("id_a"), "token", F.col("tfidf").alias("_wa"))
    b = w.select(F.col("id").alias("id_b"), "token", F.col("tfidf").alias("_wb"))
    dots = (
        a.join(b, "token")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum((F.col("_wa") * F.col("_wb")).cast(acc)).cast("double").alias("_dot"))
    )
    na = norms.select(F.col("id").alias("id_a"), F.col("_norm").alias("_na"))
    nb = norms.select(F.col("id").alias("id_b"), F.col("_norm").alias("_nb"))
    return (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn("cos_sim", F.round(F.col("_dot") / (F.col("_na") * F.col("_nb")), 6))
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def bm25_scores(
    df: DataFrame,
    query_terms: Sequence[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 relevance of every document against a fixed term set —
    the classic sparse-retrieval ranking (the lexical half of hybrid
    search next to the ANN operators).

    score = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·|d|/avgdl)), with
    idf = ln(1 + (N−df+0.5)/(df+0.5)) (the Lucene-standard
    non-negative form). Plan: one explode + per-doc tf aggregate
    restricted to the query terms (map-side filtered — the corpus never
    fully explodes through a shuffle for a short query), tiny df/avgdl
    aggregates broadcast back, one rounded float per (doc, term), summed
    exactly as DECIMAL. N and avgdl stay IN-PLAN (1-row aggregate
    cross-joined broadcast) — construction fires no Spark job, matching
    the reference's lazy-build contract (ref: pipe/runner.go:18-22).
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    nd = df.agg(F.count(F.lit(1)).cast("double").alias("_n_docs"))
    toks = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("token"))
    dl = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("_dl"))
    ad = dl.agg(F.coalesce(F.avg("_dl"), F.lit(1.0)).alias("_avgdl"))
    qt = toks.filter(F.col("token").isin(list(query_terms)))
    tf = qt.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("_tf"))
    dfreq = qt.select(id_col, "token").distinct().groupBy("token").agg(
        F.count(F.lit(1)).alias("_df")
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("_n_docs") - F.col("_df") + 0.5) / (F.col("_df") + 0.5)
    )
    per_term = (
        tf.join(F.broadcast(dfreq), "token")
        .join(dl, id_col)
        .crossJoin(F.broadcast(nd))
        .crossJoin(F.broadcast(ad))
        .withColumn(
            "_s",
            F.round(
                idf
                * (F.col("_tf") * (k1 + 1))
                / (
                    F.col("_tf")
                    + F.lit(k1)
                    * (1 - b + F.lit(b) * F.col("_dl") / F.col("_avgdl"))
                ),
                6,
            ),
        )
    )
    return per_term.groupBy(id_col).agg(
        F.sum(F.col("_s").cast("decimal(28,6)")).cast("double").alias("bm25"),
        F.count(F.lit(1)).cast("bigint").alias("n_matched_terms"),
    )


def fuzzy_join_segments(
    df: DataFrame,
    col: str,
    id_col: str,
    max_distance: int = 1,
) -> DataFrame:
    """Big×big fuzzy self-join for substitution-style typos (dirty IDs,
    OCR'd codes, misspelled SKUs): pairs of equal-length strings within
    Levenshtein ``max_distance``, found WITHOUT the n² cross join that
    :func:`fuzzy_match`'s broadcast-probe contract avoids only for small
    probe sets.

    Blocking is the fixed-position segment pigeonhole: split every string
    into ``max_distance + 1`` contiguous segments; two equal-length
    strings within substitution distance d must agree VERBATIM on at
    least one segment (d substitutions cannot touch all d+1 segments).
    Candidates therefore join on (length, segment index, segment text) —
    an equi-join whose key is selective exactly where a naive prefix
    block degenerates (shared boilerplate prefixes land in different
    segments than the differing characters). Each candidate is verified
    with the exact Levenshtein, short-circuited by the cheap equality
    conjuncts first.

    Contract: equal-length pairs / substitution edits — the dirty-ID
    regime. Insert/delete typos change the length and are out of scope
    (general edit-distance blocking is the PassJoin shifted-segment
    scheme; this operator states the exact semantics its oracle mirrors).
    """
    nseg = max_distance + 1
    base = df.select(
        F.col(id_col).alias("id"), F.col(col).alias("s")
    ).withColumn("_len", F.length("s"))
    # segment i of nseg: fixed positions per length (floor boundaries)
    segs = base.select(
        "id",
        "s",
        "_len",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("seg_i"),
                        F.expr(
                            f"substr(s, cast(_len * {i} / {nseg} as int) + 1, "
                            f"cast(_len * {i + 1} / {nseg} as int) - cast(_len * {i} / {nseg} as int))"
                        ).alias("seg"),
                    )
                    for i in range(nseg)
                ]
            )
        ).alias("_sg"),
    ).select("id", "s", "_len", F.col("_sg.seg_i").alias("seg_i"), F.col("_sg.seg").alias("seg"))
    a = segs.select(
        F.col("id").alias("id_a"), F.col("s").alias("s_a"), "_len", "seg_i", "seg"
    )
    b = segs.select(
        F.col("id").alias("id_b"), F.col("s").alias("s_b"), "_len", "seg_i", "seg"
    )
    cand = (
        a.join(b, ["_len", "seg_i", "seg"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "s_a", "s_b")
        .distinct()
    )
    return (
        cand.withColumn("distance", F.levenshtein("s_a", "s_b"))
        .filter(F.col("distance") <= max_distance)
        .filter(F.col("distance") > 0)
        .select("id_a", "id_b", "s_a", "s_b", F.col("distance").cast("bigint").alias("distance"))
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    col: str,
    id_col: str,
    window: int = 5,
    max_distance: int = 1,
) -> DataFrame:
    """Sorted-neighborhood record-linkage blocking (Hernández & Stolfo
    1995): sort records by the match key and compare each record only to
    its ``window`` successors in sort order — the OTHER classic blocking
    paradigm beside segment pigeonhole (:func:`fuzzy_join_segments`).
    Its strength is tolerance of leading-prefix noise (pigeonhole needs
    equal lengths; sorted-neighborhood just needs near-dups to sort
    close); its cost is missing pairs that sort far apart — the recall
    knob is ``window``.

    Shape: one BUCKET-PARALLEL global rank (``ranks.bucketed_row_number``
    — an unpartitioned ``row_number()`` window moves every record to one
    task no matter how the upstream sort is partitioned; buckets are cut
    on a numeric proxy of the match key: the first 7 UTF-8 bytes as a
    big-endian integer, which is monotone non-strict in Spark's binary
    string order, so proxy-equal prefixes share a bucket and the full
    (key, id) order inside buckets composes to the exact global rank),
    then a self-join on rank distance ∈ [1, window] via an exploded
    rank-offset key (an equi-join, never a theta/nested-loop), then the
    exact Levenshtein verify. Candidates = n·window exactly — blocking
    cost is explicit and tunable, independent of value skew. Records
    with a NULL match key are excluded (they could never produce a
    verified pair — levenshtein(NULL, ·) is NULL — but previously
    consumed rank slots; pair output is identical).

    Skew note: proxy-EQUAL prefixes must share a bucket (the split is
    only monotone, never tie-breaking), so a corpus where one 7-byte key
    prefix dominates degrades that one bucket toward a single sort task
    proportionally to the duplicate share. That is the exact-duplicate
    regime — run exact dedup (one groupBy) BEFORE fuzzy blocking, which
    is the standard ER pipeline order anyway.
    """
    from .ranks import bucketed_row_number

    sel = df.select(F.col(id_col).alias("id"), F.col(col).alias("s")).withColumn(
        "_ord",
        F.expr(
            "cast(conv(substr(rpad(hex(s), 14, '0'), 1, 14), 16, 10) as bigint)"
        ),
    )
    ranked = bucketed_row_number(
        sel, "_ord", [F.col("s").asc(), F.col("id").asc()], "_rk"
    ).drop("_ord")
    # each row claims the ranks of its `window` successors; joining that
    # exploded key to the successors' own rank is a plain equi-join
    probes = ranked.select(
        F.col("id").alias("id_a"),
        F.col("s").alias("s_a"),
        F.explode(
            F.sequence(F.col("_rk") + 1, F.col("_rk") + window)
        ).alias("_rk"),
    )
    cand = probes.join(
        ranked.select(F.col("id").alias("id_b"), F.col("s").alias("s_b"), "_rk"),
        "_rk",
    )
    return (
        cand.withColumn("distance", F.levenshtein("s_a", "s_b"))
        .filter((F.col("distance") > 0) & (F.col("distance") <= max_distance))
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            "distance",
        )
        .withColumn("distance", F.col("distance").cast("bigint"))
        .distinct()
    )


def oov_stats(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    vocab_size: int = 20,
) -> DataFrame:
    """Vocabulary-coverage audit: build the corpus top-``vocab_size``
    token vocabulary (count desc, token asc tie-break) and report each
    group's out-of-vocabulary token rate — the quick "does this source
    speak the corpus's language" screen (a spiking OOV rate flags
    boilerplate, encoding damage, or a domain the tokenizer will
    fragment).

    One explode + count shuffle for the vocabulary (top-k is a bounded
    TakeOrdered, never a global sort), then a broadcast membership join
    flags each token occurrence and one groupBy folds the per-group
    totals. The token stream carries (group, token) pairs only and is
    persisted for the query's lifetime — it feeds BOTH the vocabulary
    build and the membership join, so the corpus tokenizes once.
    """
    from ..caching import scoped_persist

    toks = scoped_persist(
        df.select(
            F.col(group_col).alias("grp"), F.explode(tokens(text_col)).alias("tok")
        )
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("_n"))
        .orderBy(F.col("_n").desc(), F.col("tok").asc())
        .limit(vocab_size)
        .select("tok")
    )
    flagged = toks.join(
        F.broadcast(vocab.withColumn("_in", F.lit(1))), "tok", "left"
    )
    return (
        flagged.groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum(F.when(F.col("_in").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_oov"),
        )
        .withColumn(
            "oov_rate", F.round(F.col("n_oov") / F.col("n_tokens"), 6)
        )
        .withColumnRenamed("grp", group_col)
    )


def zipf_fit(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Zipf-law fit of the corpus token-frequency distribution: OLS of
    ln(frequency) on ln(rank) over the vocabulary — natural language sits
    near slope −1; a flat slope flags synthetic, truncated-vocabulary, or
    boilerplate-dominated text (one of the quickest whole-corpus health
    checks there is).

    One explode+count to the vocabulary, then a TIE-PARALLEL global rank
    built for the Zipfian shape of the type domain itself: the frequency
    column is massively tied (at 10⁸+ types, roughly half the vocabulary
    is hapax legomena, freq=1), so value-bucketing on freq alone would
    dump the whole freq=1 tier into ONE bucket — the same one-task sort
    the rewrite exists to remove. Instead the rank decomposes exactly:

      rank = (#types with strictly higher freq)      — per-TIER offset:
             ``ranks.bucketed_cumsum`` over the compressed distinct-freq
             table (≤ O(√Σfreq) rows — Zipf's own tail bound)
           + (#tier rows in lower token-hash salts)  — per-(tier, salt)
             counts, cumulated by a window partitioned per tier over
             ≤ ``salts`` rows
           + row_number within (tier, salt)          — partitioned window

    Within a tie tier ANY bijection onto the tier's rank interval yields
    the IDENTICAL fit: freq is constant across the tier, the (rank, freq)
    multiset is permutation-invariant, and `profiling.linear_fit`
    quantizes every per-row term to DECIMAL(38,6) before summing, so the
    hash-salted assignment is bit-equal to the lexicographic one. Then
    the closed-form DECIMAL-exact OLS. Returns one row
    ``(n_types, slope, intercept, r2)``."""
    from pyspark.sql import Window

    from .profiling import linear_fit
    from .ranks import bucketed_cumsum

    salts = 1024
    counts = (
        df.select(F.explode(tokens(text_col)).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    tiers = counts.groupBy("freq").agg(F.count(F.lit(1)).alias("_tn"))
    tier_off = bucketed_cumsum(
        tiers, "freq", {"_off": "_tn"}, descending=True, inclusive=False
    ).select("freq", "_off")
    salted = counts.withColumn("_sb", F.pmod(F.xxhash64("tok"), F.lit(salts)))
    w_salt = (
        Window.partitionBy("freq")
        .orderBy("_sb")
        .rowsBetween(Window.unboundedPreceding, -1)
    )  # ≤ `salts` rows per tier: bounded, partitioned
    salt_off = (
        salted.groupBy("freq", "_sb")
        .agg(F.count(F.lit(1)).alias("_sc"))
        .withColumn("_soff", F.coalesce(F.sum("_sc").over(w_salt), F.lit(0)))
        .select("freq", "_sb", "_soff")
    )
    w_in = Window.partitionBy("freq", "_sb").orderBy("tok")
    ranked = (
        salted.join(salt_off, ["freq", "_sb"])
        .join(tier_off, "freq")
        .withColumn(
            "rank",
            (F.col("_off") + F.col("_soff") + F.row_number().over(w_in)).cast(
                "long"
            ),
        )
    )
    fit = linear_fit(
        ranked,
        [],
        F.log(F.col("rank").cast("double")),
        F.log(F.col("freq").cast("double")),
    )
    return fit.select(
        F.col("n_points").alias("n_types"), "slope", "intercept", "r2"
    )


def bigram_perplexity(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document perplexity under an add-one-smoothed bigram language
    model trained on the corpus itself — THE classic statistical quality
    filter (CCNet/C4 lineage): documents whose word sequences the corpus
    model finds surprising (high perplexity) are boilerplate, mangled
    encodings, or wrong-language text.

    P(w₂|w₁) = (C(w₁,w₂)+1)/(C(w₁)+V); ppl = exp(−mean ln P) over the
    document's bigrams. Shape: one posexplode + a per-doc lag window for
    the bigram stream, two corpus-level count aggregates (model training
    — at 100 TB these are the ingest-time artifact you'd persist like
    the MinHash signatures), a bigram-keyed join back, and one per-doc
    aggregate. All counts are exact integers; per-bigram ln terms round
    to 6 then sum DECIMAL, so scores are engine- and order-exact.
    Documents with fewer than 2 tokens have no bigrams and emit no row."""
    toks, big = _bigram_stream(df, text_col, id_col, persist_tokens=True)
    c2 = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("_c2"))
    c1 = c2.groupBy("w1").agg(F.sum("_c2").alias("_c1"))
    v = toks.agg(F.count_distinct("w").alias("_v"))
    lp = F.round(
        F.log(
            (F.col("_c2") + 1).cast("double")
            / (F.col("_c1") + F.col("_v")).cast("double")
        ),
        6,
    )
    scored = (
        big.join(c2, ["w1", "w2"])
        .join(F.broadcast(c1), "w1")
        .crossJoin(F.broadcast(v))
        .select(F.col(id_col), lp.alias("_lp"))
    )
    return _perplexity_agg(scored, id_col, "perplexity")


def _bigram_stream(
    df,
    text_col: str,
    id_col: str,
    persist_tokens: bool = False,
    persist_big: bool = True,
):
    """The posexplode + per-doc lag-window bigram stream shared by the
    bigram-LM scorers. Returns (toks, big); ``big`` is scope-persisted
    when it feeds BOTH the count aggregates and the scored join (the
    in-flight scorers) — single-consumer callers (the persisted-model
    scorer, the ingest model build) pass ``persist_big=False``: the
    persist is pure overhead there, and worse, the cached relation's
    understated stats flipped the scoring join's build side to the
    corpus-sized occurrence stream (r12 measured: BuildLeft broadcast of
    the ~635k-row stream against the ~931-row lp table). ``toks`` is
    persisted only when the caller reads it again (vocab size). Routed
    through ensure_min_partitions: regex tokenization + explode is the
    CPU stage and the single-row-group testdata scans are one task."""
    from pyspark.sql import Window

    from ..caching import scoped_persist
    from .scale import ensure_min_partitions, src_bytes_hint

    toks = ensure_min_partitions(
        df.select(F.col(id_col), F.col(text_col)), src_bytes=src_bytes_hint(df)
    ).select(
        F.col(id_col), F.posexplode(tokens(text_col)).alias("pos", "w")
    )
    if persist_tokens:
        toks = scoped_persist(toks)
    w_doc = Window.partitionBy(id_col).orderBy("pos")
    big = toks.select(
        F.col(id_col),
        F.lag("w").over(w_doc).alias("w1"),
        F.col("w").alias("w2"),
    ).filter(F.col("w1").isNotNull())
    if persist_big:
        big = scoped_persist(big)
    return toks, big


def _perplexity_agg(scored, id_col: str, out_col: str) -> DataFrame:
    """ppl = exp(−mean ln P) with the house round(6)-then-DECIMAL-sum
    convention so scores are engine- and order-exact."""
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        F.round(
            F.exp(
                -F.sum(F.col("_lp").cast("decimal(28,6)")).cast("double")
                / F.count(F.lit(1))
            ),
            6,
        ).alias(out_col),
    )


def augment_token_dropout(
    df: DataFrame,
    rate: float = 0.1,
    salt: str = "aug1",
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "text_aug",
) -> DataFrame:
    """Deterministic token-dropout augmentation: each token is kept or
    dropped by a pure hash of (doc, position, salt) — the
    regularization-style corpus augmentation (a second "view" of every
    document for contrastive training or robustness), REPRODUCIBLE the
    way the sampling operators are: the same (doc, salt) always yields
    the same augmented text across partitionings, retries, engines, and
    re-runs, and distinct salts give independent views.

    Shape: posexplode → hash filter → re-aggregate in position order
    (collect_list of (pos, token) structs, array_sort, join) — one
    shuffle keyed by the doc id. The md5 bucket matches
    ``sampling.hash_bucket`` so the oracle restates it verbatim.
    """
    if not 0.0 <= rate < 1.0:
        raise ValueError(f"rate must be in [0, 1), got {rate}")
    from .sampling import _BUCKETS, hash_bucket
    from .scale import ensure_min_partitions, src_bytes_hint

    thr = int(rate * _BUCKETS)
    toks = ensure_min_partitions(
        df.select(F.col(id_col), F.col(text_col)), src_bytes=src_bytes_hint(df)
    ).select(
        F.col(id_col), F.posexplode(tokens(text_col)).alias("pos", "_w")
    )
    kept = toks.filter(
        hash_bucket(
            F.concat_ws("#", F.col(id_col).cast("string"), F.col("pos").cast("string")),
            salt,
        )
        >= thr
    )
    rebuilt = (
        kept.groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("pos"), F.col("_w")))
            ).alias("_ordered")
        )
        .select(
            F.col(id_col),
            F.array_join(F.transform(F.col("_ordered"), lambda s: s["_w"]), " ").alias(
                out_col
            ),
        )
    )
    return df.join(rebuilt, id_col, "left").withColumn(
        out_col, F.coalesce(F.col(out_col), F.lit(""))  # fully-dropped docs
    )


def augment_span_corruption(
    df: DataFrame,
    rate: float = 0.15,
    mean_span: int = 3,
    salt: str = "span1",
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "text_corrupted",
) -> DataFrame:
    """T5-style span corruption, deterministically: contiguous token
    spans are replaced by numbered sentinel tokens ``<extra_id_k>`` —
    the denoising-objective input view, reproducible like
    :func:`augment_token_dropout` (pure hash of (doc, position, salt);
    same output across partitionings/retries/engines, independent views
    per salt).

    Span starts fire where hash(doc, pos, 'st') < (rate/mean_span)·2³²
    (expected corrupted fraction ≈ rate); each start covers a
    deterministic 1..2·mean_span−1 tokens (mean = mean_span, bounded
    explode); overlapping/adjacent spans merge into one sentinel (the
    gaps-and-islands pos − rank anchor), numbered in document order.

    Shape: posexplode → hash'd starts → bounded cover explode →
    semi-join mask → island grouping → ordered rebuild; two doc-keyed
    shuffles, everything else map-side. Returns the input plus
    ``out_col``, ``n_masked``, ``n_spans``.
    """
    if not 0.0 <= rate < 1.0:
        raise ValueError(f"rate must be in [0, 1), got {rate}")
    if mean_span < 1:
        raise ValueError(f"mean_span must be >= 1, got {mean_span}")
    from pyspark.sql import Window

    from ..caching import scoped_persist
    from .sampling import _BUCKETS, hash_bucket

    from .scale import ensure_min_partitions, src_bytes_hint

    start_thr = int(rate / mean_span * _BUCKETS)
    max_len = 2 * mean_span - 1
    toks = scoped_persist(
        ensure_min_partitions(
        df.select(F.col(id_col), F.col(text_col)), src_bytes=src_bytes_hint(df)
    ).select(
            F.col(id_col), F.posexplode(tokens(text_col)).alias("pos", "_w")
        )
    )
    key = F.concat_ws(
        "#", F.col(id_col).cast("string"), F.col("pos").cast("string")
    )
    starts = toks.filter(hash_bucket(key, "st" + salt) < start_thr).select(
        F.col(id_col),
        F.col("pos").alias("_s"),
        (hash_bucket(key, "ln" + salt) % max_len + 1).cast("int").alias("_len"),
    )
    covered = starts.select(
        F.col(id_col),
        F.explode(
            F.sequence(F.col("_s"), F.col("_s") + F.col("_len") - 1)
        ).alias("pos"),
    ).distinct()
    masked = toks.join(covered, [id_col, "pos"], "left_semi")
    # islands of consecutive masked positions → one sentinel per island
    wi = Window.partitionBy(id_col).orderBy("pos")
    islands = masked.withColumn(
        "_anchor", F.col("pos") - F.row_number().over(wi)
    )
    spans = islands.groupBy(id_col, "_anchor").agg(
        F.min("pos").alias("pos"), F.count(F.lit(1)).alias("_span_n")
    )
    ws = Window.partitionBy(id_col).orderBy("pos")
    sentinels = spans.select(
        F.col(id_col),
        "pos",
        F.concat(
            F.lit("<extra_id_"),
            (F.row_number().over(ws) - 1).cast("string"),
            F.lit(">"),
        ).alias("_w"),
        "_span_n",
    )
    kept = toks.join(covered, [id_col, "pos"], "left_anti").select(
        id_col, "pos", "_w"
    )
    rebuilt = (
        kept.unionByName(sentinels.select(id_col, "pos", "_w"))
        .groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct(F.col("pos"), F.col("_w")))),
                    lambda s: s["_w"],
                ),
                " ",
            ).alias(out_col)
        )
    )
    stats = sentinels.groupBy(id_col).agg(
        F.sum("_span_n").cast("bigint").alias("n_masked"),
        F.count(F.lit(1)).cast("bigint").alias("n_spans"),
    )
    return (
        df.join(rebuilt, id_col, "left")
        .join(stats, id_col, "left")
        .withColumn(out_col, F.coalesce(F.col(out_col), F.lit("")))
        .withColumn("n_masked", F.coalesce(F.col("n_masked"), F.lit(0)))
        .withColumn("n_spans", F.coalesce(F.col("n_spans"), F.lit(0)))
    )


def bpe_word_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The ONE corpus pass of BPE training: lowercase-alpha word counts.

    Classic BPE (Sennrich et al. 2016) trains on the distinct-word
    frequency table, not the raw corpus — at 100 TB this is the whole
    scale story: one map-side tokenize + one (word) shuffle produces a
    vocab-sized table (≪ corpus), and every merge round after that
    touches only the compact table."""
    return (
        df.select(
            F.explode(F.split(F.lower(F.col(text_col)), "[^a-z]+")).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("wc"))
    )


def bpe_learn_merges(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 10,
    min_pair_count: int = 2,
) -> DataFrame:
    """Distributed BPE merge learning (Sennrich et al. 2016, arXiv:1508.07909):
    greedy highest-frequency adjacent-symbol merges over the word-frequency
    table. Returns the learned merge table (rank, left, right, merged,
    pair_count) — the tokenizer model artifact, inherently tiny.

    Scale/laziness contract (the k-means pattern): construction IS the
    training run — each round collects exactly ONE scalar (the argmax
    pair) and re-persists the vocab-sized symbol table, so per-round cost
    is independent of corpus size after the single
    :func:`bpe_word_counts` pass. Ties break lexicographically so the
    merge sequence is deterministic across partitionings and engines."""
    from ..caching import scoped_persist

    spark = df.sparkSession
    words = bpe_word_counts(df, text_col)
    cur = scoped_persist(
        words.select(
            "wc",
            F.concat(
                F.filter(F.split(F.col("word"), ""), lambda ch: ch != ""),
                F.array(F.lit("</w>")),
            ).alias("syms"),
        )
    )
    merges = []
    for rank in range(n_merges):
        pairs = (
            cur.filter(F.size("syms") >= 2)
            .select(
                "wc",
                F.explode(
                    F.expr(
                        "transform(slice(syms, 1, size(syms)-1),"
                        " (s, i) -> struct(s AS l, syms[i+1] AS r))"
                    )
                ).alias("pair"),
            )
            .groupBy(F.col("pair.l").alias("l"), F.col("pair.r").alias("r"))
            .agg(F.sum("wc").alias("cnt"))
        )
        best = pairs.orderBy(F.desc("cnt"), F.asc("l"), F.asc("r")).first()
        if best is None or best["cnt"] < min_pair_count:
            break
        l, r = best["l"], best["r"]
        merges.append((rank, l, r, l + r, int(best["cnt"])))

        def _merge_batch(s, _l=l, _r=r):
            def one(a):
                out, i, n = [], 0, len(a)
                while i < n:
                    if i + 1 < n and a[i] == _l and a[i + 1] == _r:
                        out.append(_l + _r)
                        i += 2
                    else:
                        out.append(a[i])
                        i += 1
                return out

            return s.apply(one)

        mudf = F.pandas_udf(_merge_batch, "array<string>")
        # re-persist each round: the next pair count reads the merged table
        # directly instead of replaying every earlier merge (O(rounds), not
        # O(rounds²)); scope-released like all operator persists
        cur = scoped_persist(cur.withColumn("syms", mudf(F.col("syms"))))
    return spark.createDataFrame(
        merges, "rank int, left string, right string, merged string, pair_count bigint"
    )


def bpe_segment(
    df: DataFrame,
    merges: Sequence[tuple],
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Apply a learned merge table (rank-ordered (left, right) pairs — the
    broadcast-by-closure model artifact from :func:`bpe_learn_merges`) to
    segment each document into BPE tokens. Pure map-side Arrow batches,
    zero shuffle; distinct words are memoized per batch so hot words cost
    one merge walk regardless of frequency."""
    ranked = [(m[1], m[2]) if len(m) >= 3 else tuple(m) for m in merges]

    def _segment_batch(s):
        cache: dict = {}

        def word_tokens(w):
            hit = cache.get(w)
            if hit is not None:
                return hit
            a = list(w) + ["</w>"]
            for l, r in ranked:
                out, i, n = [], 0, len(a)
                while i < n:
                    if i + 1 < n and a[i] == l and a[i + 1] == r:
                        out.append(l + r)
                        i += 2
                    else:
                        out.append(a[i])
                        i += 1
                a = out
            cache[w] = a
            return a

        import re as _re

        return s.apply(
            lambda t: [
                tok
                for w in _re.split(r"[^a-z]+", (t or "").lower())
                if w
                for tok in word_tokens(w)
            ]
        )

    seg = F.pandas_udf(_segment_batch, "array<string>")
    return df.withColumn(out_col, seg(F.col(text_col)))


def boilerplate_ngram_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_doc_frac: float = 0.05,
) -> DataFrame:
    """Template/boilerplate detection by n-gram document frequency (the
    CCNet-style frequent-unit filter, adapted from lines to n-grams for
    unstructured text): an n-gram is *boilerplate* when it appears in more
    than ``min_doc_frac`` of all documents; per document, report how much
    of its distinct n-gram vocabulary is boilerplate. High ratios mark
    templated/scraped shells worth dropping before training.

    Scale shape: one explode of per-doc DISTINCT shingles, one hash
    aggregate for document frequency (map-side partial — the shuffle
    carries (gram-hash, count), not documents), a broadcast of the 1-row
    corpus count, and one join back. The document count N stays IN-PLAN
    (1-row aggregate cross-joined broadcast, the tfidf/pmi_pairs pattern),
    so construction fires no Spark job. Output:
    ``(id, n_grams, boiler_grams, boiler_ratio)``.
    """
    from ..operators.dedup import word_shingles
    from .scale import ensure_min_partitions, src_bytes_hint

    ex = ensure_min_partitions(
        df.select(F.col(id_col), F.col(text_col)), src_bytes=src_bytes_hint(df)
    ).select(
        F.col(id_col), F.explode(word_shingles(text_col, n)).alias("_g")
    )
    # per-doc shingles are already distinct → count(1) IS document frequency
    dfreq = ex.groupBy("_g").agg(F.count(F.lit(1)).alias("_df"))
    nd = df.agg(F.count(F.lit(1)).cast("double").alias("_n_docs"))
    boiler = (
        dfreq.crossJoin(F.broadcast(nd))
        .filter(F.col("_df") >= F.col("_n_docs") * min_doc_frac)
        .select("_g", F.lit(1).alias("_b"))
    )
    # the boiler set is inherently tiny (grams in ≥min_doc_frac of ALL
    # docs); broadcast it so the full gram stream never shuffles here —
    # the op's only shuffles are the two map-side-combined aggregates
    marked = ex.join(F.broadcast(boiler), "_g", "left")
    return (
        marked.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.coalesce(F.sum("_b"), F.lit(0)).cast("bigint").alias("boiler_grams"),
        )
        .withColumn(
            "boiler_ratio",
            F.round(F.col("boiler_grams") / F.col("n_grams"), 6),
        )
    )


def dsir_importance(
    df: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_buckets: int = 4096,
    smoothing: float = 1.0,
) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al. 2023,
    arXiv:2302.03169): score every raw document by how target-like its
    hashed-bigram distribution is — ``log p_target(doc) − log p_raw(doc)``
    under bag-of-hashed-bigrams unigram models with add-``smoothing``
    estimation over ``num_buckets`` hash features. Documents with high
    ``log_importance`` are up-weighted when resampling pretraining data
    toward the target domain.

    Scale shape: the target side collapses to ``num_buckets`` rows
    (bucket, log-prob) and is BROADCAST; the raw corpus aggregates its own
    bucket counts the same way (two hash aggregates, map-side partial),
    then each document folds Σ count·(log p_t − log p_r) over its own
    buckets in one grouped aggregate — the shuffles carry (id, bucket,
    count) triples only. Bucket = portable md5-derived 56-bit hash mod
    ``num_buckets`` (identical in DuckDB, the shard_manifest pattern), so
    the whole computation is oracle-exact. Model totals stay IN-PLAN as
    global windows over the bounded bucket table — construction fires no
    Spark job, and the corpus is tokenized exactly once (the per-doc
    triple table is scope-persisted and feeds both the raw model and the
    final fold).
    """
    from .scale import ensure_min_partitions, src_bytes_hint

    def bucketed(frame: DataFrame, keep_id: bool):
        grams = _token_ngrams(text_col, 2, short_docs=False)
        cols = [F.col(id_col)] if keep_id else []
        ex = ensure_min_partitions(
            frame, src_bytes=src_bytes_hint(frame)
        ).select(*cols, F.explode(grams).alias("_gram"))
        return ex.select(
            *cols,
            (
                F.conv(F.substring(F.md5(F.col("_gram")), 1, 14), 16, 10)
                .cast("decimal(38,0)")
                .cast("bigint")
                % num_buckets
            ).alias("_bucket"),
        )

    # per-document bucket counts — the ONE tokenize+hash pass over the raw
    # corpus, persisted for the scope because BOTH the raw model and the
    # final fold consume it (Spark shares no subplans across branches).
    # Size bound: ≤ n_docs × min(num_buckets, doc_len) 24-byte triples —
    # MEMORY_AND_DISK-safe orders of magnitude under the corpus itself.
    from ..caching import scoped_persist

    doc = scoped_persist(
        bucketed(df, keep_id=True)
        .groupBy(F.col(id_col), F.col("_bucket"))
        .agg(F.count(F.lit(1)).alias("_dc"))
    )
    raw_counts = doc.groupBy("_bucket").agg(F.sum("_dc").alias("_rc"))
    tgt_counts = bucketed(target, keep_id=False).groupBy("_bucket").agg(
        F.count(F.lit(1)).alias("_tc")
    )

    # model totals as global windows over the ≤num_buckets-row bucket
    # table (bounded single-partition window — not a corpus re-scan), and
    # the per-bucket log-ratio scaled to an INTEGER (×1e9): the
    # per-document score then sums exactly in any order — float-summation
    # order, the one thing a distributed groupBy cannot pin, never enters
    # the result
    from pyspark.sql import Window

    sm = F.lit(float(smoothing))
    nb = F.lit(float(num_buckets))
    everything = Window.partitionBy()
    rt = F.sum("_rc").over(everything).cast("double")
    tt = F.sum("_tc").over(everything).cast("double")
    log_ratio = F.log(
        (F.col("_tc").cast("double") + sm) / (tt + sm * nb)
    ) - F.log((F.col("_rc").cast("double") + sm) / (rt + sm * nb))
    # union + re-aggregate instead of a full-outer join (which cannot
    # broadcast): joins vanish from the model entirely, and a target that
    # is NOT a subset of the corpus (DSIR's usual case — an external
    # domain sample) still contributes its whole mass to the totals
    model = (
        raw_counts.select("_bucket", "_rc", F.lit(0).cast("bigint").alias("_tc"))
        .unionByName(
            tgt_counts.select(
                "_bucket", F.lit(0).cast("bigint").alias("_rc"), "_tc"
            )
        )
        .groupBy("_bucket")
        .agg(F.sum("_rc").alias("_rc"), F.sum("_tc").alias("_tc"))
        .select(
            "_bucket",
            F.round(log_ratio * F.lit(1e9)).cast("decimal(38,0)").alias("_sdiff"),
        )
    )

    # the per-document fold against the broadcast model; every document
    # bucket exists in the raw model by construction
    return (
        doc.join(F.broadcast(model), "_bucket")
        .groupBy(id_col)
        .agg(
            F.sum("_dc").cast("bigint").alias("n_bigrams"),
            F.round(
                F.sum(F.col("_dc").cast("decimal(38,0)") * F.col("_sdiff"))
                .cast("double")
                / F.lit(1e9),
                6,
            ).alias("log_importance"),
        )
    )


def redact_pii(df: DataFrame, text_col: str = "text", out_col: str = "redacted") -> DataFrame:
    """PII redaction rewrite: replace every :data:`PII_PATTERNS` match with
    ``<PATTERN>`` placeholders (email → ``<EMAIL>``, …). Map-side
    ``regexp_replace`` chain — zero shuffle, whole-stage codegen, and the
    patterns are the same dialect-portable set `with_pii_counts` counts,
    so the redaction is oracle-exact."""
    c = F.col(text_col)
    for name, pat in PII_PATTERNS.items():
        c = F.regexp_replace(c, F.lit(pat), F.lit(f"<{name.upper()}>"))
    return df.withColumn(out_col, c)


def positional_postings(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Positional inverted-index postings: one (token, doc_id, pos) row per
    token occurrence, positions 0-based over the raw whitespace-split
    array (empty tokens filtered AFTER position assignment, so positions
    are engine-portable regardless of leading/trailing whitespace). The
    ingest artifact behind phrase and proximity search: partitioned/
    bucketed by token at 100 TB, each query touches only the probed
    tokens' postings — the classic IR decomposition (Zobel & Moffat,
    CSUR 2006).

    One map-side posexplode — no shuffle; writing grouped per-token
    posting lists is the sink's bucketing choice, not this operator's.
    """
    from .scale import ensure_min_partitions

    return (
        ensure_min_partitions(df).select(
            F.col(id_col),
            F.posexplode(F.split(F.lower(F.col(text_col)), r"\s+")).alias(
                "pos", "token"
            ),
        )
        .filter(F.col("token") != "")
        .select("token", id_col, F.col("pos").cast("bigint").alias("pos"))
    )


def phrase_search(
    postings: DataFrame,
    phrase: Sequence[str],
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact phrase search over positional postings: documents where the
    phrase tokens appear at CONSECUTIVE positions, with the occurrence
    count. Anchor on the first token's postings and equi-join each
    subsequent token at (doc, pos+i) — every join side is pre-filtered
    to ONE token's posting list (a vanishing fraction of the index), the
    join keys are (doc_id, pos), and rarest-token-first anchoring is the
    standard optimization when term statistics are at hand (left to the
    caller: pass the phrase as given; Catalyst broadcasts the smaller
    posting lists). Never touches raw text.
    """
    if not phrase:
        raise ValueError("phrase must have at least one token")
    from ..caching import scoped_persist

    toks = [t.lower() for t in phrase]
    # each join leg references the postings subtree: materialize the probed
    # slice ONCE (tokens ∈ phrase only — the buckets a real index would
    # read) instead of re-deriving postings per leg
    probe = scoped_persist(
        postings.filter(F.col("token").isin(list(set(toks)))).select(
            "token", id_col, "pos"
        )
    )
    out = probe.filter(F.col("token") == toks[0]).select(
        F.col(id_col), F.col("pos")
    )
    for i, t in enumerate(toks[1:], start=1):
        nxt = probe.filter(F.col("token") == t).select(
            F.col(id_col), (F.col("pos") - i).alias("pos")
        )
        out = out.join(nxt, [id_col, "pos"])
    return out.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_occurrences")
    )


def proximity_search(
    postings: DataFrame,
    term_a: str,
    term_b: str,
    max_distance: int = 5,
    id_col: str = "doc_id",
) -> DataFrame:
    """Proximity search (terms within ``max_distance`` token positions,
    either order) over positional postings: the NEAR operator of classic
    IR engines. Equi-join the two terms' posting slices on the document,
    band the |posA − posB| ≤ d residual — the join fans out only within
    a document's own occurrence lists (occ_a × occ_b per doc, the
    inherent output bound), never across documents. Returns
    (doc_id, n_pairs, min_distance) per matching document.
    """
    a = postings.filter(F.col("token") == term_a.lower()).select(
        F.col(id_col), F.col("pos").alias("_pa")
    )
    b = postings.filter(F.col("token") == term_b.lower()).select(
        F.col(id_col), F.col("pos").alias("_pb")
    )
    d = F.abs(F.col("_pa") - F.col("_pb"))
    return (
        a.join(b, id_col)
        .filter((d <= max_distance) & (d > 0))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.min(d).cast("bigint").alias("min_distance"),
        )
    )


def kneser_ney_perplexity(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    discount: float = 0.75,
) -> DataFrame:
    """Per-document perplexity under an interpolated Kneser-Ney-smoothed
    bigram model trained on the corpus itself — the smoothing actually
    used by the KenLM-style quality filters (CCNet lineage; Kneser &
    Ney 1995, Chen & Goodman 1999), upgrading :func:`bigram_perplexity`'s
    add-one baseline: the backoff mass of a context is weighted by each
    word's CONTINUATION diversity (how many distinct contexts it follows),
    not its raw frequency — "San Francisco" stops inflating P(Francisco)
    in unseen contexts.

        P_KN(w|v) = (c(v,w) − d)/c(v) + d·N1+(v·)/c(v) · N1+(·w)/N1+(··)

    Only observed bigrams are scored (the model is trained on the corpus
    being scored, as in bigram_perplexity), so c(v,w) ≥ 1 > d and the
    max(·,0) clamp is vacuous. Shape: the shared _bigram_stream
    (posexplode + per-doc lag window, min-partition routed); model
    "training" is three count aggregates over the distinct-bigram table
    (c(v), N1+(v·) ride ONE groupBy — N1+(v·) is just the row count per
    v; N1+(·w) is one more; N1+(··) is a 1-row aggregate kept in-plan as
    a broadcast cross join, never collected), and ALL model math runs at
    distinct-bigram granularity — the occurrence stream joins exactly
    once, against the per-bigram lp table. At 100 TB the count tables
    are the persisted ingest artifact, like the MinHash signature table.
    Per-bigram ln terms round to 6 then sum DECIMAL — engine- and
    order-exact. Documents with fewer than 2 tokens emit no row."""
    from ..caching import scoped_persist

    _, big = _bigram_stream(df, text_col, id_col)
    c2 = scoped_persist(big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("_c2")))
    lp_table = kneser_ney_lp_table(c2, discount)
    scored = big.join(lp_table, ["w1", "w2"]).select(F.col(id_col), "_lp")
    return _perplexity_agg(scored, id_col, "kn_perplexity")


def kneser_ney_lp_table(c2: DataFrame, discount: float = 0.75) -> DataFrame:
    """Distinct-bigram counts ``(w1, w2, _c2)`` → the per-bigram KN
    log-prob table ``(w1, w2, _lp)``. Shared by the in-flight scorer
    above and the persisted-model path
    (:func:`kneser_ney_perplexity_from_model`)."""
    from pyspark.sql import Window

    d_ = float(discount)
    if not 0.0 < d_ < 1.0:
        raise ValueError(f"discount must be in (0, 1), got {discount}")
    # one pass per direction as WINDOWS over the distinct-bigram table
    # (r12, guide §2.4/§3.1): context totals + forward type counts ride a
    # w1 partition, backward type counts a w2 partition — same shuffles
    # as the old groupBy+join-back pair (c2 re-keyed by w1, then by w2)
    # but with NO self-joins, so the lp table's size ESTIMATE stays the
    # c2 scan's instead of a join-inflated blowup. That estimate is what
    # the scoring join's planner reads: with joins in the lineage it
    # sized lp ABOVE the raw corpus scan and broadcast the corpus-sized
    # occurrence stream as the build side (measured r12: BuildLeft of
    # ~635k rows vs the 931-row model at sf0.1); windows keep lp the
    # small side locally while a real-vocab model still exceeds the
    # threshold and gets a sort-merge — scale-adaptive either way. The
    # 1-row bigram-type total stays an aggregate + broadcast cross join
    # (a global window would be a one-task sort of the whole model).
    wv = Window.partitionBy("w1")
    ww = Window.partitionBy("w2")
    btypes = c2.agg(F.count(F.lit(1)).alias("_bt"))
    p = (
        (F.col("_c2") - F.lit(d_)).cast("double") / F.col("_c1").cast("double")
        + (F.lit(d_) * F.col("_n1f").cast("double") / F.col("_c1").cast("double"))
        * (F.col("_n1b").cast("double") / F.col("_bt").cast("double"))
    )
    # all model math runs at DISTINCT-bigram granularity, and the
    # occurrence stream then joins ONCE against the per-bigram lp table —
    # never against the vocab aggregates, which would re-shuffle the full
    # corpus by w1 and again by w2
    return (
        c2.withColumn("_c1", F.sum("_c2").over(wv))
        .withColumn("_n1f", F.count(F.lit(1)).over(wv))
        .withColumn("_n1b", F.count(F.lit(1)).over(ww))
        .crossJoin(F.broadcast(btypes))
        .select("w1", "w2", F.round(F.log(p), 6).alias("_lp"))
    )


def kneser_ney_perplexity_from_model(
    df: DataFrame,
    counts: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    discount: float = 0.75,
) -> DataFrame:
    """Score documents against a PERSISTED bigram-count model
    (``warehouse.bigram_model_table``) instead of refitting in-flight —
    the CLAUDE.md MinHash-signature economics applied to the LM: at
    corpus scale the count table is an ingest artifact, and every
    scoring pass reads it rather than re-tokenizing the corpus twice.

    ``counts`` is the append-log count table ``(w1, w2, c2)`` — delta
    batches append rows, so counts are summed per bigram here (the
    standard append-log + read-time-compact contract). Only the SCORED
    documents are tokenized; bigrams absent from the model are skipped
    (same trained-on-observed contract as the in-flight scorer)."""
    from ..caching import scoped_persist

    c2 = scoped_persist(
        counts.groupBy("w1", "w2").agg(F.sum("c2").alias("_c2"))
    )
    lp_table = kneser_ney_lp_table(c2, discount)
    # persist_big=False (r12): the stream feeds ONLY this join here (the
    # counts are read from the model table), and dropping the persist
    # restores file-scan stats — the planner then builds the hash side
    # from the model-derived lp table (tiny here; SMJ at real vocab
    # scale), instead of broadcasting the corpus-sized stream
    _, big = _bigram_stream(df, text_col, id_col, persist_big=False)
    scored = big.join(lp_table, ["w1", "w2"]).select(F.col(id_col), "_lp")
    return _perplexity_agg(scored, id_col, "kn_perplexity")
