"""Deduplication operators for 100 TB training-data pipelines
(SURVEY.md §2.C extensions): exact, MinHash+LSH, SimHash, n-gram Jaccard.

Design for scale:

* exact dedup = one hash-shuffle on a 128-bit fingerprint (no full-row
  comparison, no sort);
* MinHash-LSH = the standard banding scheme: signatures are a map-side
  transform, candidate generation shuffles once on (band, band-hash), and
  only bucket-mates are pair-compared — never the O(n²) cross join;
* SimHash = 32-bit md5-derived bit-vote fingerprint; near-dup = small
  Hamming distance;
* n-gram Jaccard = exact verifier for candidate pairs (shingle-set overlap
  via a shingle-keyed self-join, prefix-limited to bound blowup).

Everything below is built-in-only DataFrame code (no Python UDFs). xxhash64 /
md5 / explode / groupBy are codegen'd JVM-side; shingling and a few
verifiers (simhash votes, signature agreement) use higher-order functions
(``transform``/``aggregate``/``zip_with``), which are CodegenFallback —
interpreted per element. Shingles are cut from ONE tokenization per row
(``text._with_tokens``), so that interpreted work stays linear in the
document length.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..caching import scoped_persist
from .scale import ensure_min_partitions, src_bytes_hint
from .text import _token_ngrams, normalized_fingerprint, tokens


def word_shingles(col, n: int = 3) -> Column:
    """n-word shingles as an array (distinct, order-preserving input),
    linear in the token count: the document is tokenized once per row."""
    return F.array_distinct(_token_ngrams(col, n))


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup on the normalized fingerprint, keeping the smallest id
    (deterministic). One shuffle on the 128-bit hash; row payloads never
    compared."""
    fp = normalized_fingerprint(text_col)
    w = Window.partitionBy("fingerprint").orderBy(F.col(id_col).asc())
    return (
        df.withColumn("fingerprint", fp)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _band_hash_array(num_hashes: int, bands: int) -> F.Column:
    """``array(xxhash64(0, _m0.._m{r-1}), ...)`` — the per-band key array —
    built as ONE SQL string. Identical expression tree to the per-Column
    form (same INT literal seed, same column order), but one py4j round
    trip instead of ~10 per band: the 16-band list cost a measured 0.23 s
    of driver chatter per query CONSTRUCTION (the CLAUDE.md
    wide-but-literal F.expr pattern)."""
    r = num_hashes // bands
    return F.expr(
        "array("
        + ", ".join(
            "xxhash64(0, " + ", ".join(f"_m{b * r + i}" for i in range(r)) + ")"
            for b in range(bands)
        )
        + ")"
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash signature per document: each shingle string is hashed to a
    64-bit int exactly ONCE (xxhash64), then the ``num_hashes`` independent
    hash functions are derived by rehashing that int with the hash index as
    seed material — integer-only work, never a second pass over the string.

    Shape: explode shingles to rows, then ONE hash-aggregate with
    ``num_hashes`` ``min`` columns. Only the shingling itself is a
    higher-order function (``CodegenFallback``, interpreted per element,
    linear in the token count since the document is tokenized once per
    row); the per-hash work (xxhash64, min) is whole-stage-codegen'd over
    exploded rows, never a per-element lambda over ``num_hashes``. The
    groupBy does map-side partial aggregation, so the shuffle carries just
    8·num_hashes bytes per document regardless of document size.
    """
    wide = _minhash_wide(df, id_col, text_col, num_hashes, shingle_n)
    return wide.select(
        F.col(id_col), F.array(*[f"_m{i}" for i in range(num_hashes)]).alias("minhash")
    )


def _minhash_wide(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int, shingle_n: int
) -> DataFrame:
    """Signature as ``num_hashes`` wide long columns ``_m0.._mN`` — the raw
    aggregate output, so downstream band-key derivation works on plain
    columns instead of array element_at."""
    ex = ensure_min_partitions(
        df.select(F.col(id_col), F.col(text_col)), src_bytes=src_bytes_hint(df)
    ).select(
        F.col(id_col), F.explode(word_shingles(text_col, shingle_n)).alias("_s")
    )
    hashed = ex.select(F.col(id_col), F.xxhash64("_s").alias("_h"))
    # one SQL string per aggregate: the same tree as
    # F.min(F.xxhash64(F.lit(i), F.col("_h"))) (INT literal seed material,
    # default xxhash64 seed) in one py4j round trip instead of ~5
    mins = [F.expr(f"min(xxhash64({i}, _h)) AS _m{i}") for i in range(num_hashes)]
    return hashed.groupBy(id_col).agg(*mins)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_bucket: int = 1000,
    sigs: Optional[DataFrame] = None,
) -> DataFrame:
    """Near-duplicate candidate pairs via banded MinHash-LSH.

    rows_per_band = num_hashes // bands; two documents collide when any band
    of their signatures is identical (similarity s collides with prob
    1-(1-s^r)^b). Collisions are verified with the signature-estimated
    Jaccard and filtered at ``threshold``.

    Scale: one shuffle keyed by (band, xxhash64(band slice)); buckets larger
    than ``max_bucket`` are dropped (degenerate content — boilerplate — that
    would otherwise produce O(bucket²) pairs; the cap is logged in the
    result cardinality, standard practice for web-scale dedup).
    """
    sigs, pairs = _lsh_candidate_pairs(
        df, id_col, text_col, num_hashes, bands, shingle_n, max_bucket, sigs
    )
    return _attach_est_jaccard(sigs, pairs, id_col, num_hashes, threshold)


def _attach_est_jaccard(
    sigs: DataFrame,
    pairs: DataFrame,
    id_col: str,
    num_hashes: int,
    threshold: float,
) -> DataFrame:
    """Attach the signature-estimated Jaccard to candidate ``(id_a, id_b)``
    pairs and filter at ``threshold`` — signatures join to the (much
    smaller) surviving pair set only, never travel through the band
    shuffle."""
    sig_arr = F.array(*[f"_m{i}" for i in range(num_hashes)])
    sa = sigs.select(F.col(id_col).alias("id_a"), sig_arr.alias("sig_a"))
    sb = sigs.select(F.col(id_col).alias("id_b"), sig_arr.alias("sig_b"))
    est = (
        F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v))
        / F.lit(num_hashes)
    )
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("est_jaccard", F.round(est, 6))
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


def incremental_signature_ingest(
    existing_sigs: DataFrame,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    shingle_n: int = 3,
) -> DataFrame:
    """Maintain the ingest-time MinHash signature table incrementally:
    hash ONLY the documents not already present (anti-join on id) and
    union their wide signatures onto the existing table — at 100 TB the
    corpus is append-mostly and re-hashing every shingle of every old
    document per ingest batch is the cost you must not pay (signatures
    are written beside the text once; see
    ``warehouse.minhash_signature_table``).

    Returns the combined wide ``_m0.._mN`` table. The delta pass has the
    same shape as the full build (explode → one min-aggregate) but over
    the new batch only; the anti-join keys on ids alone.
    """
    delta = new_docs.join(existing_sigs.select(id_col), id_col, "left_anti")
    return existing_sigs.unionByName(
        _minhash_wide(delta, id_col, text_col, num_hashes, shingle_n)
    )


def minhash_lsh_pairs_delta(
    sigs_all: DataFrame,
    new_ids: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    max_bucket: int = 1000,
) -> DataFrame:
    """LSH near-dup pairs restricted to pairs that TOUCH the ingest delta:
    each new document is banded against the full corpus, but old×old
    pairs — the quadratic bulk that was already resolved by previous
    ingests — are never enumerated. This is the per-batch dedup query of
    an incremental pipeline ("which incoming docs collide with anything
    seen so far, or with each other").

    Shape: band keys over the combined signature table (ids only through
    the shuffle), degenerate buckets dropped at ``max_bucket`` as in the
    full build, then one join of the NEW side's band rows against all
    band rows — cost scales with |delta|·bucket, not |corpus|². Pairs are
    canonicalized ``(least, greatest)`` and verified with the
    signature-estimated Jaccard at ``threshold``.
    """
    banded = sigs_all.select(
        id_col, F.posexplode(_band_hash_array(num_hashes, bands)).alias("band", "band_hash")
    )
    bucket_sizes = banded.groupBy("band", "band_hash").count()
    small = banded.join(
        bucket_sizes.filter(F.col("count") <= max_bucket).drop("count"),
        ["band", "band_hash"],
    )
    new_side = small.join(new_ids.select(id_col), id_col, "left_semi").select(
        "band", "band_hash", F.col(id_col).alias("_id_n")
    )
    all_side = small.select("band", "band_hash", F.col(id_col).alias("_id_o"))
    pairs = (
        new_side.join(all_side, ["band", "band_hash"])
        .filter(F.col("_id_n") != F.col("_id_o"))
        .select(
            F.least("_id_n", "_id_o").alias("id_a"),
            F.greatest("_id_n", "_id_o").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return _attach_est_jaccard(sigs_all, pairs, id_col, num_hashes, threshold)


def _lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    bands: int,
    shingle_n: int,
    max_bucket: int,
    sigs: Optional[DataFrame] = None,
):
    """(signatures, candidate id pairs) for banded MinHash-LSH — the shared
    core of ``minhash_lsh_pairs`` and ``lsh_verified_pairs``.

    ``sigs`` takes a precomputed wide signature table (the ingest-time
    artifact — see ``warehouse.minhash_signature_table``); when absent the
    signatures are computed here and cached for the query's lifetime.
    """
    if sigs is None:
        # Persist the signature table: it is the expensive map-side pass
        # (one string hash per shingle) and every downstream branch needs
        # it. At 8·num_hashes bytes/doc it is the small, cacheable
        # artifact of this algorithm — at corpus scale it is what you
        # write to a table at ingest (warehouse.minhash_signature_table),
        # which callers pass in to skip this pass entirely.
        sigs = scoped_persist(_minhash_wide(df, id_col, text_col, num_hashes, shingle_n))
    # band key per (doc, band) — ids only; the 8·num_hashes-byte signatures
    # do NOT travel through the explode or the self-join shuffle. Band keys
    # hash the r wide columns of each band directly (flat codegen, no
    # array construction or element_at).
    banded = sigs.select(
        id_col, F.posexplode(_band_hash_array(num_hashes, bands)).alias("band", "band_hash")
    )
    # drop degenerate buckets before the self-join
    bucket_sizes = banded.groupBy("band", "band_hash").count()
    small = banded.join(
        bucket_sizes.filter(F.col("count") <= max_bucket).drop("count"),
        ["band", "band_hash"],
    )
    a = small.select("band", "band_hash", F.col(id_col).alias("id_a"))
    b = small.select("band", "band_hash", F.col(id_col).alias("id_b"))
    pairs = (
        a.join(b, ["band", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    return sigs, pairs


def lsh_verified_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    candidate_threshold: float = 0.1,
    threshold: float = 0.2,
    max_bucket: int = 1000,
    sigs: Optional[DataFrame] = None,
) -> DataFrame:
    """The documented scale path for near-dup detection, composed end to
    end: MinHash-LSH candidate generation → exact n-gram Jaccard verify on
    the candidates ONLY.

    The corpus text is never self-joined: LSH restricts pair generation to
    band-bucket mates (one ids-only shuffle), and the exact shingle
    intersection runs only on documents that appear in some candidate pair
    (semi-join against the candidate id set). Output matches
    ``ngram_jaccard_pairs(threshold)`` whenever LSH recall covers every
    true pair at-or-above ``threshold`` — guaranteed in the regime LSH is
    tuned for (near-dups clustered at high similarity); parity with the
    exact verifier is asserted in pytest.

    The candidate set skips ``minhash_lsh_pairs``'s signature re-attach and
    estimated-Jaccard filter entirely (``candidate_threshold`` is accepted
    for signature compatibility but unused): the exact verify decides
    membership anyway, so estimating first would only add two joins and an
    interpreted zip_with. The band-pair subtree is consumed twice (id-set
    build + pair join) and IS persisted (r12, the CLAUDE.md
    persist-decision rule): the id-set consumer prunes to one column per
    union branch, which rewrites the dedup aggregate and structurally
    blocks AQE exchange reuse — the r12 executed plan showed the whole
    banded self-join (two SortMergeJoins, its exchanges) computed TWICE
    without the persist. Interleaved A/B at sf0.1: no-persist 2.23 s vs
    persist 1.42 s, value-identical. (An earlier round measured a persist
    barrier as a 2× slowdown on a prior plan shape; the executed-plan
    evidence above supersedes it.)

    Verification shape (optimization round 1): candidate pairs are verified
    against per-doc shingle-hash ARRAYS with ``array_intersect`` — rows
    stay at CANDIDATE-PAIR count end to end. The former shape re-joined
    candidate pairs against the shingle-level rows (pairs × shingles rows
    through a (id, sh) shuffle, then a pair groupBy, then two more joins to
    attach sizes); that re-join is the documented driver-heap killer at
    duplicate-heavy scale (the prefix_jaccard_pairs pattern in CLAUDE.md)
    and locally cost ~4 extra stages of fixed latency. Value-identical:
    per-doc shingles are DISTINCT (word_shingles wraps array_distinct), so
    matching-row counts equal distinct-intersection counts under the same
    no-xxhash64-collision assumption both shapes already share with the
    string-based oracle.
    """
    _sigs, cand = _lsh_candidate_pairs(
        df, id_col, text_col, num_hashes, bands, shingle_n, max_bucket, sigs
    )
    cand = scoped_persist(cand)
    ids = (
        cand.select(F.col("id_a").alias("id"))
        .unionByName(cand.select(F.col("id_b").alias("id")))
        .distinct()
    )
    # candidate docs only, through a PINNED broadcast semi-join: it keeps
    # the scan's partitioning, which the src_bytes hint below relies on (a
    # shuffled semi would leave shuffle-partition count instead and the
    # estimate would drive a redundant repartition). The broadcast payload
    # is 8 bytes per candidate doc — on duplicate-heavy corpora that is
    # O(corpus) ids, the bound this pin accepts.
    # per-candidate-doc hash array + shingle count in ONE aggregate; the
    # persist sits here (not on the shingle rows) because the two
    # pair-side joins below alias the columns differently, which defeats
    # broadcast-exchange reuse — InMemoryRelation computes the aggregate
    # once for both sides
    arrs = scoped_persist(
        # ensure_min_partitions INSIDE the semi-join: the broadcast semi
        # preserves the scan's partitioning, so on single-row-group inputs
        # the interpreted shingle transform below would run on ONE task
        # (the CLAUDE.md CPU-heavy-operator rule; full-corpus arrs at sf0.1,
        # 4 cores, warm min: 0.58 s one task vs 0.40 s spread)
        ensure_min_partitions(
            df.join(F.broadcast(ids), df[id_col] == ids["id"], "left_semi"),
            # so the scan's byte-size hint stays the exact split count
            # (skips the df.rdd probe, 0.35 s of throwaway planning here)
            src_bytes=src_bytes_hint(df),
        )
        .select(
            F.col(id_col).alias("_vid"),
            F.explode(word_shingles(text_col, shingle_n)).alias("shingle"),
        )
        .select("_vid", F.xxhash64("shingle").alias("sh"))
        .groupBy("_vid")
        .agg(
            F.collect_list("sh").alias("_hs"),
            F.count(F.lit(1)).alias("n_sh"),
        )
    )
    return (
        cand.join(
            arrs.select(
                F.col("_vid").alias("id_a"),
                F.col("_hs").alias("_hs_a"),
                F.col("n_sh").alias("n_a"),
            ),
            "id_a",
        )
        .join(
            arrs.select(
                F.col("_vid").alias("id_b"),
                F.col("_hs").alias("_hs_b"),
                F.col("n_sh").alias("n_b"),
            ),
            "id_b",
        )
        .withColumn("n_common", F.size(F.array_intersect("_hs_a", "_hs_b")))
        # n_common >= 1 reproduces the former inner shingle-join exactly
        # (a zero-overlap candidate pair never appeared in its output),
        # independent of the threshold value
        .filter(F.col("n_common") >= F.lit(1))
        .withColumn(
            "jaccard",
            F.round(F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def benchmark_contamination(
    df: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 5,
) -> DataFrame:
    """Test-set contamination detection: for each corpus document, the
    fraction of its distinct ``shingle_n``-word shingles that occur anywhere
    in the benchmark corpus (the decontamination step every training
    pipeline runs against its eval sets).

    Scale: the benchmark shingle set is tiny relative to the corpus (eval
    sets are ~10⁵ documents), so it is explicitly broadcast and the corpus
    side never shuffles — the whole check is map-side. For benchmark sets
    too large to broadcast, swap in a bloom-filter semi-join (build the
    filter over the benchmark shingles, push it into the corpus scan) and
    verify the survivors with this exact join.
    """
    doc_sh = df.select(
        F.col(id_col), F.explode(word_shingles(F.col(text_col), shingle_n)).alias("sh")
    )
    bench_sh = (
        benchmark.select(
            F.explode(word_shingles(F.col(text_col), shingle_n)).alias("sh")
        )
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    return (
        doc_sh.join(F.broadcast(bench_sh), "sh", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.coalesce(F.sum("_hit"), F.lit(0)).cast("bigint").alias("n_contaminated"),
        )
        .select(
            F.col(id_col),
            F.col("n_shingles").cast("bigint").alias("n_shingles"),
            "n_contaminated",
            F.round(
                F.col("n_contaminated") / F.greatest(F.col("n_shingles"), F.lit(1)), 6
            ).alias("contamination_frac"),
        )
    )


def _token_hashes(col, seed_salt: str = "") -> Column:
    """Array of 32-bit md5-derived token hashes (md5 so the same computation
    is expressible in the SQL oracle)."""
    return F.transform(
        tokens(col),
        lambda t: F.conv(F.substring(F.md5(F.concat(F.lit(seed_salt), t)), 1, 8), 16, 10).cast(
            "bigint"
        ),
    )


def _simhash_from_hashes(th) -> Column:
    """SimHash fingerprint from a token-hash array column: bit i of the
    fingerprint is the sign of the vote sum over tokens of
    (bit i of hash ? +1 : -1).

    Given a column NAME, the 32 bit-vote aggregates are parsed from one
    SQL string — a single py4j round trip instead of ~400 Column-building
    JVM calls (~1 s of driver time per construction; same expression tree,
    bit-identical results). The Column-input path keeps the unrolled
    Python build (bit indexes must be closed over as literal ints)."""
    if isinstance(th, str):
        parts = " + ".join(
            f"CAST(IF(aggregate(`{th}`, 0, (acc, h) -> acc + "
            f"CASE WHEN (shiftright(h, {i}) & 1) = 1 THEN 1 ELSE -1 END) > 0, "
            f"{1 << i}, 0) AS BIGINT)"
            for i in range(32)
        )
        return F.expr(f"CAST(CAST(0 AS BIGINT) + {parts} AS BIGINT)")

    def _vote(i: int):
        def merge(acc, h):
            return acc + F.when(
                F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1
            ).otherwise(-1)

        return merge

    fingerprint = F.lit(0).cast("bigint")
    for i in range(32):
        vote = F.aggregate(th, F.lit(0), _vote(i))
        fingerprint = fingerprint + F.when(vote > 0, F.lit(1 << i).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
    return fingerprint.cast("bigint")


def simhash32(col, seed_salt: str = "") -> Column:
    """32-bit SimHash as a single Column expression. NOTE: the 32 bit-vote
    aggregates each re-evaluate the md5 token-hash array — prefer
    ``simhash_df`` (which materializes the hash array once per row) anywhere
    the input is more than a handful of rows."""
    return _simhash_from_hashes(_token_hashes(col, seed_salt))


def simhash_df(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "simhash",
    seed_salt: str = "",
) -> DataFrame:
    """(id, simhash) per document. The md5 token-hash array is materialized
    in its own projection so the string-hash pass runs once per row; the 32
    bit-vote aggregates then fold over the cached array (Catalyst keeps the
    projections separate because the producer expression is non-cheap)."""
    hashed = ensure_min_partitions(
        df.select(F.col(id_col), F.col(text_col)), src_bytes=src_bytes_hint(df)
    ).select(
        F.col(id_col), _token_hashes(text_col, seed_salt).alias("_th")
    )
    return hashed.select(F.col(id_col), _simhash_from_hashes("_th").alias(out_col))


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ ``max_hamming``.

    Scale: block on the four 8-bit bytes of the fingerprint (pigeonhole: any
    pair within Hamming 3 of a 32-bit hash agrees on ≥1 of 4 bytes), so the
    self-join is per-block, never all-pairs.
    """
    sh = scoped_persist(simhash_df(df, text_col, id_col))
    blocked = sh.select(
        id_col,
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("simhash", 8 * i).bitwiseAND(F.lit(255)).cast("int")
                    for i in range(4)
                ]
            )
        ).alias("block", "block_val"),
    )
    a = blocked.select("block", "block_val", F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"))
    b = blocked.select("block", "block_val", F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"))
    return (
        a.join(b, ["block", "block_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("bigint"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.2,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs sharing ≥1 shingle.

    Scale: this is the exact *verifier*; candidate generation at 100 TB goes
    through ``minhash_lsh_pairs`` first. The shingle-keyed self-join keys on
    xxhash64(shingle), so payloads shuffled are (hash, id) longs only.
    """
    # scanned by both self-join branches and the sizes agg
    sh = scoped_persist(
        ensure_min_partitions(
        df.select(F.col(id_col), F.col(text_col)), src_bytes=src_bytes_hint(df)
    )
        .select(
            F.col(id_col).alias("id"),
            F.explode(word_shingles(text_col, shingle_n)).alias("shingle"),
        )
        .select("id", F.xxhash64("shingle").alias("sh"))
    )
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("id").alias("id_a"), "sh")
    b = sh.select(F.col("id").alias("id_b"), "sh")
    inter = (
        a.join(b, "sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def duplicated_span_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 16,
    min_shared: int = 2,
    max_postings: int = 1000,
) -> DataFrame:
    """Cross-document duplicated-SPAN detection — the practical form of
    exact-substring training-data dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better": repeated long spans, not
    whole-document copies, are the main contamination at web scale; their
    suffix-array machinery is a single-machine structure, while this is
    the same guarantee expressed as a shuffle).

    Built on MOSS winnowing fingerprints (``text.winnowing_fingerprints``):
    any two documents sharing a substring of ≥ ``k + w − 1`` chars (23 by
    default) are GUARANTEED to share a fingerprint, so the fingerprint
    equi-self-join finds every such pair — no n² comparison, one shuffle
    keyed by the 32-bit fingerprint, exactly the LSH banding shape.
    ``min_shared`` requires that many distinct shared fingerprints
    (≈ min_shared·w/2 duplicated chars) before a pair is reported;
    fingerprints appearing in more than ``max_postings`` documents are
    dropped as boilerplate (same degenerate-bucket cap as MinHash-LSH —
    the overflow list is tiny and broadcast into an anti-join).
    """
    from .text import winnowing_fingerprints

    fp = winnowing_fingerprints(df, text_col=text_col, id_col=id_col, k=k, w=w)
    boiler = (
        fp.groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > max_postings)
        .drop("_n")
    )
    ok = fp.join(F.broadcast(boiler), "fingerprint", "left_anti")
    a = ok.select(F.col("fingerprint"), F.col(id_col).alias("id_a"))
    b = ok.select(F.col("fingerprint"), F.col(id_col).alias("id_b"))
    return (
        a.join(b, "fingerprint")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared_fingerprints"))
        .filter(F.col("shared_fingerprints") >= min_shared)
    )


def prefix_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.2,
) -> DataFrame:
    """Exact Jaccard-join with PREFIX FILTERING (AllPairs/PPJoin — Bayardo
    et al. WWW'07, Xiao et al. WWW'08): identical output to
    :func:`ngram_jaccard_pairs`, far fewer candidates.

    The lemma: if ``J(A,B) ≥ t`` then ``|A∩B| ≥ t/(1+t)·(|A|+|B|)`` > 0,
    and two sets whose elements are ranked in ONE global order must then
    share an element among their first ``n − ⌈t·n⌉ + 1`` (their
    "prefix") — so joining only prefix tokens loses no true pair. Ranking
    by ascending document frequency makes prefixes the RAREST tokens:
    common shingles (the degenerate buckets every shingle-join chokes on)
    sit outside most prefixes and generate no candidates — exactness
    without LSH's recall loss and without the full-shingle join's
    boilerplate blowup.

    Plan: one DF-count aggregate over shingles, one window rank per doc,
    prefix self-join on the shingle hash (ids-only payload), then the
    exact verification joins candidate pairs back to the two full shingle
    sets. Every shuffle is keyed by hash or id; no n² stage.

    Regime: the prefix is ``n − ⌈t·n⌉ + 1`` tokens, so the filter's power
    is proportional to the THRESHOLD — at t=0.8 prefixes are ~20% of each
    doc (≈25× fewer candidate products); at t=0.2 they are ~80% and the
    pass degenerates to the full join plus rank overhead (measured in the
    COVERAGE scaling table). Use this operator for high-similarity exact
    dedup; route low-threshold discovery through MinHash-LSH.
    """
    sh = scoped_persist(
        ensure_min_partitions(
        df.select(F.col(id_col), F.col(text_col)), src_bytes=src_bytes_hint(df)
    )
        .select(
            F.col(id_col).alias("id"),
            F.explode(word_shingles(text_col, shingle_n)).alias("shingle"),
        )
        .select("id", F.xxhash64("shingle").alias("sh"))
    )
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    dfreq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("_df"))
    # global rarity rank inside each doc; ties broken by hash for determinism
    ranked = sh.join(dfreq, "sh").withColumn(
        "_rk",
        F.row_number().over(
            Window.partitionBy("id").orderBy(F.col("_df").asc(), F.col("sh").asc())
        ),
    )
    pref_len = F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + 1
    prefix = (
        ranked.join(sizes, "id")
        .filter(F.col("_rk") <= pref_len)
        .select("id", "sh")
    )
    cand = (
        prefix.select(F.col("id").alias("id_a"), "sh")
        .join(prefix.select(F.col("id").alias("id_b"), "sh"), "sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    # exact verification: join each candidate pair to the two per-doc
    # shingle-hash ARRAYS and intersect natively. Row volume stays at the
    # candidate-pair count (each row carries two ~n_sh arrays) — the
    # alternative re-join against the exploded shingle table materializes
    # candidates × shingles rows, which at 10× probe scale is ~10⁸ rows
    # through two shuffles and OOMs a shared-heap local run.
    sets = sh.groupBy("id").agg(
        F.array_sort(F.collect_list("sh")).alias("_set"),
        F.count(F.lit(1)).alias("n_sh"),
    )
    a = sets.select(
        F.col("id").alias("id_a"), F.col("_set").alias("_sa"), F.col("n_sh").alias("n_a")
    )
    b = sets.select(
        F.col("id").alias("id_b"), F.col("_set").alias("_sb"), F.col("n_sh").alias("n_b")
    )
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("n_common", F.size(F.array_intersect("_sa", "_sb")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Asymmetric containment near-dup pairs: ``|A∩B| / |A|`` — the
    one-sided measure that catches a document EMBEDDED inside a larger one
    (quotes, scrapes, concatenations), which symmetric Jaccard dilutes
    toward zero as the container grows. Pairs are reported when EITHER
    direction reaches ``threshold``, with both directions and the Jaccard
    alongside so the caller can distinguish subset-dupes from mutual
    near-dupes.

    Same scale shape as :func:`ngram_jaccard_pairs` (shingle-keyed
    self-join, (hash, id) payloads, candidate-bound): an exact verifier —
    route candidate generation through MinHash-LSH first at corpus scale.
    """
    sh = scoped_persist(
        ensure_min_partitions(
        df.select(F.col(id_col), F.col(text_col)), src_bytes=src_bytes_hint(df)
    )
        .select(
            F.col(id_col).alias("id"),
            F.explode(word_shingles(text_col, shingle_n)).alias("shingle"),
        )
        .select("id", F.xxhash64("shingle").alias("sh"))
    )
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("id").alias("id_a"), "sh")
    b = sh.select(F.col("id").alias("id_b"), "sh")
    inter = (
        a.join(b, "sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    c_ab = F.round(F.col("n_common") / F.col("n_a"), 6)
    c_ba = F.round(F.col("n_common") / F.col("n_b"), 6)
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("containment_a_in_b", c_ab)
        .withColumn("containment_b_in_a", c_ba)
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6
            ),
        )
        .filter(
            (F.col("containment_a_in_b") >= threshold)
            | (F.col("containment_b_in_a") >= threshold)
        )
        .select("id_a", "id_b", "containment_a_in_b", "containment_b_in_a", "jaccard")
    )


def exact_dedup_best(
    df: DataFrame,
    score,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact dedup keeping the BEST group member instead of the smallest
    id: within each normalized-fingerprint group the survivor is the row
    maximizing ``score`` (a column expression — quality score, length,
    freshness), ties broken by smallest id. This is how production
    curation actually resolves duplicate clusters — two scrapes of the
    same page are not interchangeable; you keep the cleaner one.

    Same shape as :func:`exact_dedup`: one shuffle on the 128-bit
    fingerprint, a deterministic per-group row_number, payloads never
    pairwise-compared.
    """
    fp = normalized_fingerprint(text_col)
    w = Window.partitionBy("fingerprint").orderBy(
        score.desc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("fingerprint", fp)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def set_minhash_signatures(
    df: DataFrame,
    set_col: str,
    member_col: str,
    num_hashes: int = 32,
) -> DataFrame:
    """Wide MinHash signatures over arbitrary item SETS (user baskets,
    tag sets, dependency lists) — the text pipeline's signature machinery
    generalized past shingles: member values hash once, seeded re-hashes
    min-aggregate per set (map-side combinable), and the output uses the
    SAME ``_m0.._mN`` wide layout, so every downstream consumer —
    ``minhash_lsh_pairs(sigs=…)`` banding, the estimated-Jaccard attach,
    the warehouse persistence pattern — works unchanged.

    Scale: a signature is ``num_hashes`` longs regardless of set size;
    the only shuffle is the set-keyed min-aggregate over (set, member)
    distinct rows.
    """
    hashed = (
        df.select(F.col(set_col), F.col(member_col))
        .distinct()
        .select(
            F.col(set_col),
            F.xxhash64(F.col(member_col).cast("string")).alias("_h"),
        )
    )
    mins = [
        F.min(F.xxhash64(F.lit(i), F.col("_h"))).alias(f"_m{i}")
        for i in range(num_hashes)
    ]
    return hashed.groupBy(set_col).agg(*mins)


def similar_sets(
    df: DataFrame,
    set_col: str,
    member_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.3,
    max_bucket: int = 1000,
) -> DataFrame:
    """Jaccard-similar set pairs by banded MinHash-LSH over arbitrary
    item sets: :func:`set_minhash_signatures` feeds the SAME banding /
    bucket-capping / estimated-Jaccard pipeline as document dedup —
    "users with similar baskets" at the cost structure of text near-dup
    (ids + band keys through the shuffle, never the sets)."""
    sigs = set_minhash_signatures(df, set_col, member_col, num_hashes)
    return minhash_lsh_pairs(
        df,
        id_col=set_col,
        num_hashes=num_hashes,
        bands=bands,
        threshold=threshold,
        max_bucket=max_bucket,
        sigs=sigs,
    )


def _positional_gram_hashes(df, text_col, id_col, n):
    """(toks, grams): the (doc, pos, token) stream and the per-position
    64-bit n-gram hashes ``(id, _pos, _gh)`` — n-grams derived with lead()
    over the per-doc window (flat codegen, one shuffle keyed by doc id).
    concat_ws skips NULLs (it would silently emit short tail grams), so
    positions past len-n are dropped by the last-lead null check."""
    toks = ensure_min_partitions(
        df.select(F.col(id_col), F.col(text_col)), src_bytes=src_bytes_hint(df)
    ).select(
        F.col(id_col), F.posexplode(tokens(text_col)).alias("_pos", "_t")
    )
    w = Window.partitionBy(id_col).orderBy("_pos")
    parts = [F.col("_t")] + [F.lead("_t", i).over(w) for i in range(1, n)]
    grams = (
        toks.select(
            F.col(id_col),
            F.col("_pos"),
            F.concat_ws(" ", *parts).alias("_g"),
            parts[-1].isNotNull().alias("_full"),
        )
        .filter(F.col("_full"))
        .select(F.col(id_col), F.col("_pos"), F.xxhash64("_g").alias("_gh"))
    )
    return toks, grams


def duplicate_ngram_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """Exact-substring duplication signal per document: the fraction of
    token positions starting an ``n``-gram that occurs MORE THAN ONCE
    corpus-wide — the Spark-friendly form of Lee et al. 2021
    ("Deduplicating Training Data Makes Language Models Better"), whose
    suffix-array substring dedup this approximates with fixed-width
    n-gram hashing. High ratios mark boilerplate/templated/near-copied
    text that exact-doc and MinHash dedup both miss (they judge whole
    documents; this sees shared SPANS inside otherwise-distinct docs).

    Scale shape: posexplode to (doc, pos, token), n-grams from lead()
    over the per-doc window (flat codegen, one shuffle keyed by doc id),
    then ONE count aggregate keyed by the 64-bit gram hash and a
    hash-keyed join back — shuffles carry (id, hash) pairs only, never
    text. Duplicate counting is corpus-global including repeats within
    one document, matching the oracle's window count. 64-bit hashing can
    merge distinct grams at vanishing probability; swap the hash for the
    gram string when bit-exact span attribution is worth the bytes.
    """
    _toks, grams = _positional_gram_hashes(df, text_col, id_col, n)
    grams = scoped_persist(grams)  # feeds the count agg AND the join back
    counts = grams.groupBy("_gh").agg(F.count(F.lit(1)).alias("_cnt"))
    dup = (
        grams.join(counts.filter(F.col("_cnt") > 1), "_gh")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("dup_starts"))
    )
    # token counts as a flat per-row projection on the BASE table — no
    # explode/shuffle, and zero-token documents stay in the output (the
    # exploded stream has no rows for them; the oracle keeps them too)
    ntok = df.select(
        F.col(id_col), F.size(tokens(text_col)).alias("n_tokens")
    )
    n_grams = F.greatest(F.col("n_tokens") - (n - 1), F.lit(0))
    return (
        ntok.join(dup, id_col, "left")
        .select(
            F.col(id_col),
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            n_grams.cast("bigint").alias("n_grams"),
            F.coalesce(F.col("dup_starts"), F.lit(0)).cast("bigint").alias("dup_starts"),
            F.round(
                F.coalesce(F.col("dup_starts"), F.lit(0)).cast("double")
                / F.nullif(n_grams.cast("double"), F.lit(0.0)),
                6,
            ).alias("dup_ratio"),
        )
    )


def remove_duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """Excise corpus-duplicated spans from every document — the cleaning
    step of Lee et al. 2021's substring dedup: any token covered by an
    ``n``-gram occurring more than once corpus-wide is REMOVED (every
    occurrence; keeping exactly one copy would make output order-dependent
    across partitionings). Returns ``(id, n_tokens, n_removed,
    cleaned_text)`` with cleaned_text re-joined on single spaces
    (original whitespace is not preserved — the op's contract is a
    token-stream rewrite).

    Scale shape: reuses the positional gram hashes (one doc-keyed window
    shuffle), ONE count aggregate keyed by gram hash, covered positions
    as a bounded n-per-start explode, an (id, pos)-keyed anti-join to
    drop them, and one final per-doc reassembly — the only stage that
    carries tokens, which a corpus rewrite cannot avoid. Reassembly uses
    sort_array over collected (pos, token) structs, not a window, so the
    order is deterministic under any partitioning.
    """
    toks, grams = _positional_gram_hashes(df, text_col, id_col, n)
    grams = scoped_persist(grams)
    counts = grams.groupBy("_gh").agg(F.count(F.lit(1)).alias("_cnt"))
    dup_starts = grams.join(counts.filter(F.col("_cnt") > 1), "_gh").select(
        id_col, "_pos"
    )
    covered = dup_starts.select(
        F.col(id_col),
        F.explode(F.sequence(F.col("_pos"), F.col("_pos") + (n - 1))).alias("_pos"),
    ).dropDuplicates([id_col, "_pos"])
    kept = toks.join(covered, [id_col, "_pos"], "left_anti")
    # flat per-row token count on the base table (see duplicate_ngram_spans):
    # no extra shuffle, zero-token documents survive the rewrite
    ntok = df.select(
        F.col(id_col), F.size(tokens(text_col)).alias("n_tokens")
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("_n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_t"))),
                lambda s: s["_t"],
            ),
        ).alias("cleaned_text"),
    )
    return (
        ntok.join(rebuilt, id_col, "left")
        .select(
            F.col(id_col),
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            (F.col("n_tokens") - F.coalesce(F.col("_n_kept"), F.lit(0)))
            .cast("bigint")
            .alias("n_removed"),
            F.coalesce(F.col("cleaned_text"), F.lit("")).alias("cleaned_text"),
        )
    )


def prefix_doubling_duplicates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 30,
    cut_lineage: bool = True,
    direct_width: int = 32,
) -> DataFrame:
    """EXACT corpus-wide duplicate-text detection via PREFIX-DOUBLING
    rank tables — the core of distributed suffix-array construction
    (Manber–Myers doubling; the machinery behind Lee et al. 2022's
    exact substring dedup), re-expressed as Spark shuffles.

    A position p in a document is reported duplicated when the EXACT
    ``min_len``-character substring starting there occurs at least
    twice in the corpus. The naive route materializes every L-gram
    (n·L bytes through the shuffle) or hashes them (collision risk =
    silent false merges). Prefix doubling instead computes
    equality-preserving integer ranks for prefixes of length 2^j in
    ⌈log₂ L⌉ rounds — each round one self-join keyed on (doc, pos+2^j)
    plus one DISTINCT over composite rank pairs (new ids via
    monotonically_increasing_id: collision-FREE because ids attach to
    distinct composites, and only equality matters, so no global sort
    is ever needed — no one-task window, no dense_rank). The final key
    is the sparse-table composite (rank_h(p), rank_h(p+L−h)) with h the
    largest power of two ≤ L: the two length-h chunks cover [p, p+L)
    because 2h ≥ L, so key equality IS exact L-prefix equality. Total
    shuffle volume: log₂(L) rounds of fixed-width (doc, pos, rank)
    tuples vs one round of L-byte strings — the 100 TB win, with zero
    false positives.

    RADIX BASE CASE (round-11 optimization, guide §2.3/§2.4 — fewer
    rounds, fewer total bytes shuffled): initial ranks need no
    per-character doubling, because a width-B prefix is directly
    computable as ``substr(text, p+1, B)`` — a bounded-width value whose
    equality IS width-B prefix equality (the standard Manber–Myers
    radix initialization; equality-only, so no sort is needed). Each
    doubling round the old char-base path spent shuffled the whole
    (doc, pos, rank) table three times (partner self-join both sides +
    the rank-assignment distinct) and eagerly checkpointed it; starting
    at B=16 deletes four such rounds for every L. For L ≤
    ``direct_width`` (default 32) the base case covers the whole key:
    the L-char gram itself is the composite — ZERO doubling rounds, no
    joins, one aggregation pass; the ≤32-char key column crosses the
    shuffle once, fewer total bytes than even one doubling round moved.
    Larger L keeps the doubling loop (from h=16), where the n·L-byte
    blowup described above is real.

    Returns one row per document: (doc_id, n_grams, n_duplicated,
    first_dup_pos) — position 0-based, NULL when nothing repeats.
    Iterative contract: each doubling round is localCheckpoint'ed
    (:func:`connected_components` rationale); ``cut_lineage=False`` is
    the plan-audit switch. The direct path has no rounds and stays
    fully lazy."""
    if min_len < 2:
        raise ValueError("min_len must be >= 2")
    spark = docs.sparkSession

    def _cut(df):
        return df.localCheckpoint(eager=True) if cut_lineage else df

    # positions in docs shorter than L never produce a gram, and the rank
    # partner joins are within-document — drop those docs pre-explode
    from .scale import ensure_min_partitions, src_bytes_hint

    base = ensure_min_partitions(
        docs.select(
            F.col(id_col).alias("_d"),
            F.col(text_col).alias("_t"),
            F.length(text_col).alias("_len"),
        ).filter(F.col("_t").isNotNull() & (F.length(text_col) >= min_len)),
        src_bytes=src_bytes_hint(docs),
    )

    if min_len <= direct_width:
        grams = base.select(
            "_d",
            "_len",
            F.explode(F.sequence(F.lit(0), F.col("_len") - min_len)).alias("_p"),
            "_t",
        ).select(
            "_d",
            "_len",
            "_p",
            F.col("_t").substr(F.col("_p") + F.lit(1), F.lit(min_len)).alias("_k1"),
            F.lit(0).alias("_k2"),
        )
        return _prefix_doubling_tail(grams, id_col)

    radix = 16
    while radix > min_len:  # only reachable with direct_width < 16
        radix //= 2
    pos = base.select(
        "_d",
        "_len",
        F.explode(F.sequence(F.lit(0), F.col("_len") - 1)).alias("_p"),
        "_t",
    ).select(
        "_d",
        "_len",
        "_p",
        F.col("_t").substr(F.col("_p") + F.lit(1), F.lit(radix)).alias("_g"),
    )
    # freeze the id assignment BEFORE anything joins against it: the
    # distinct's within-partition output order is not retry-stable, so a
    # stage retry that regenerates an `ids` partition mid-join could in
    # principle hand the same gram two different ids (r11 verdict hardening
    # item) — the checkpoint pins one assignment for all consumers
    ids = _cut(
        pos.select("_g").distinct().withColumn("_nr", F.monotonically_increasing_id())
    )
    ranked = _cut(
        pos.join(ids, "_g").select("_d", "_len", "_p", F.col("_nr").alias("_r"))
    )

    h = radix
    while h * 2 <= min_len:
        k = h  # current prefix length of _r; compose to length 2h
        right = ranked.select(
            F.col("_d").alias("_d2"),
            (F.col("_p") - k).alias("_p2"),
            F.col("_r").alias("_r2"),
        )
        composed = ranked.join(
            right,
            (F.col("_d") == F.col("_d2")) & (F.col("_p") == F.col("_p2")),
            "left",
        ).select(
            "_d",
            "_len",
            "_p",
            F.col("_r").alias("_r1"),
            F.coalesce(F.col("_r2"), F.lit(-1)).alias("_r2"),
        )
        ids = _cut(
            composed.select("_r1", "_r2")
            .distinct()
            .withColumn("_nr", F.monotonically_increasing_id())
        )
        ranked = _cut(
            composed.join(ids, ["_r1", "_r2"]).select(
                "_d", "_len", "_p", F.col("_nr").alias("_r")
            )
        )
        h *= 2

    # final sparse-table composite for EXACT length-L equality
    if h == min_len:
        keyed = ranked.select(
            "_d", "_len", "_p", F.col("_r").alias("_k1"), F.lit(0).alias("_k2")
        )
    else:
        off = min_len - h
        right = ranked.select(
            F.col("_d").alias("_d2"),
            (F.col("_p") - off).alias("_p2"),
            F.col("_r").alias("_k2"),
        )
        keyed = ranked.join(
            right,
            (F.col("_d") == F.col("_d2")) & (F.col("_p") == F.col("_p2")),
        ).select("_d", "_len", "_p", F.col("_r").alias("_k1"), "_k2")
    grams = keyed.filter(F.col("_p") + min_len <= F.col("_len"))
    return _prefix_doubling_tail(grams, id_col)


def _prefix_doubling_tail(grams: DataFrame, id_col: str) -> DataFrame:
    """Shared reporting tail of :func:`prefix_doubling_duplicates`:
    per-key occurrence counts flagged onto the positions, then the
    per-document duplicate summary.

    r12 shape (guide §2.4 — remove shuffles outright): the duplicate
    flag is a WINDOW count over the gram key, not a count-aggregate
    joined back. The join-back — whatever its strategy (the r11 A/B:
    auto-broadcast 9.1 s / shuffle-hash 1.8 s / sort-merge 1.3 s) —
    evaluates the gram subtree TWICE (once per join side; the aggregate
    side's exchange is not canonical-equal, so AQE cannot reuse it) and
    shuffles the full position table plus the counts. The window moves
    the same position rows through ONE exchange, sorts within the
    many-key (k1,k2) partitioning (no one-task hazard: keys ≈ distinct
    grams), and reads the gram subtree once — at 100 TB that is one
    corpus scan instead of two. A/B at sf0.1 (interleaved MINs,
    value-identical 5000-row output): join+duplicated-only-filter
    1.005 s vs window 0.741 s. This deliberately differs from the
    CLAUDE.md minhash bucket-cap verdict (join-back beats window there):
    minhash's join side is ids-only and its partial agg shrinks the
    shuffle, while here the probe side carries the full gram rows either
    way — the window saves the duplicate subtree evaluation instead."""
    w = Window.partitionBy("_k1", "_k2")
    flagged = grams.select(
        "_d", "_p", (F.count(F.lit(1)).over(w) >= 2).alias("_dup")
    )
    return (
        flagged.groupBy("_d")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.col("_dup").cast("long")).alias("n_duplicated"),
            F.min(F.when(F.col("_dup"), F.col("_p"))).cast("int").alias(
                "first_dup_pos"
            ),
        )
        .select(
            F.col("_d").alias(id_col),
            "n_grams",
            "n_duplicated",
            "first_dup_pos",
        )
    )


def prefix_doubling_candidates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 30,
    k: int = 8,
    w: int = 16,
) -> DataFrame:
    """Candidate-document filter for :func:`prefix_doubling_duplicates`
    (round 11, VERDICT r10 ask #4): POSITION-RETAINING winnowing
    (Schleimer et al. 2003) whose recall guarantee is exact — any
    substring of length ≥ k + w − 1 contains a full window, and equal
    content selects the same fingerprint at the same RELATIVE position,
    so every duplicated ``min_len``-gram (k + w − 1 ≤ min_len enforced)
    puts ≥ 2 (doc, position) occurrence records under one fingerprint
    value. This catches WITHIN-document repeats too (two overlapping
    occurrences still select distinct absolute positions — the property
    the per-doc-distinct ``text.winnowing_fingerprints`` loses). Hash
    collisions (56-bit md5 prefix) only ADD candidates; the doubling
    pass that follows is collision-free, so the composition stays exact.

    Returns one row per candidate (id_col) — documents that MAY contain
    a duplicated min_len-gram. Shuffle: (doc, selpos, hash) tuples ≈
    2·n_chars/w rows, then one hash-keyed count — far below the log₂L
    full-width doubling rounds it gates."""
    if k + w - 1 > min_len:
        raise ValueError(
            f"need k + w - 1 <= min_len for the recall guarantee, got "
            f"{k} + {w} - 1 > {min_len}"
        )
    base = docs.select(
        F.col(id_col).alias("_d"), F.col(text_col).alias("_t")
    ).filter(F.col("_t").isNotNull() & (F.length("_t") >= min_len))
    hs = F.transform(
        F.sequence(F.lit(1), F.length("_t") - (k - 1)),
        lambda i: F.conv(
            F.substring(
                F.md5(F.substring(F.col("_t"), i, F.lit(k))), F.lit(1), F.lit(14)
            ),
            16,
            10,
        ).cast("bigint"),
    )
    g = base.select("_d", F.posexplode(hs).alias("_p", "_h"))
    g = ensure_min_partitions(g, src_bytes=src_bytes_hint(docs))
    # leftmost-min-per-window selection: deterministic relative to window
    # content, so equal substrings select equal (relative pos, hash)
    wmin = Window.partitionBy("_d").orderBy("_p").rowsBetween(0, w - 1)
    wall = Window.partitionBy("_d")
    sel = (
        g.select(
            "_d",
            "_p",
            F.min(F.struct("_h", "_p")).over(wmin).alias("_m"),
            F.count(F.lit(1)).over(wall).alias("_n"),
        )
        .filter(F.col("_p") <= F.col("_n") - w)  # full windows only
        .select("_d", F.col("_m._p").alias("_sp"), F.col("_m._h").alias("_h"))
        .distinct()
    )
    hot = (
        sel.groupBy("_h")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= 2)
        .select("_h")
    )
    return (
        sel.join(hot, "_h").select(F.col("_d").alias(id_col)).distinct()
    )


def prefix_doubling_duplicates_gated(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 30,
    cut_lineage: bool = True,
    k: int = 8,
    w: int = 16,
) -> DataFrame:
    """:func:`prefix_doubling_duplicates` behind the winnowing candidate
    gate (round 11, VERDICT r10 ask #4): the exact doubling rounds —
    the expensive part, one row per CHARACTER × log₂L shuffle rounds —
    run only over documents the position-retaining winnowing filter
    (:func:`prefix_doubling_candidates`) marks as possibly containing a
    duplicated ``min_len``-gram; every other document's row is computed
    closed-form (n_grams = len − min_len + 1, zero duplicated). Output
    is IDENTICAL to the ungated operator: the filter's recall guarantee
    means no duplicated gram can live in a pruned document, and false
    candidates merely re-enter the exact path. At 100 TB this turns the
    ~10¹⁴-row-per-round doubling shuffles into candidate-chars-only —
    the exactness tier priced by its true duplicate mass, not the
    corpus."""
    base = docs.select(
        F.col(id_col).alias("_d"),
        F.col(text_col).alias("_t"),
        F.length(text_col).alias("_len"),
    ).filter(F.col("_t").isNotNull() & (F.length("_t") >= min_len))
    cand = prefix_doubling_candidates(
        docs, id_col=id_col, text_col=text_col, min_len=min_len, k=k, w=w
    ).select(F.col(id_col).alias("_d"))
    cand = scoped_persist(cand)  # read twice: semi gate + anti complement
    gated_docs = base.join(cand, "_d", "left_semi").select(
        F.col("_d").alias(id_col), F.col("_t").alias(text_col)
    )
    dup_rows = prefix_doubling_duplicates(
        gated_docs,
        id_col=id_col,
        text_col=text_col,
        min_len=min_len,
        cut_lineage=cut_lineage,
    )
    clean_rows = (
        base.join(cand, "_d", "left_anti")
        .select(
            F.col("_d").alias(id_col),
            (F.col("_len") - min_len + 1).cast("bigint").alias("n_grams"),
            F.lit(0).cast("bigint").alias("n_duplicated"),
            F.lit(None).cast("int").alias("first_dup_pos"),
        )
    )
    return dup_rows.unionByName(clean_rows)
