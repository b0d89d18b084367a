"""Deduplication over the ``documents`` / ``embeddings`` tables:
exact, MinHash+LSH, SimHash, n-gram Jaccard (inverted index), and
embedding-cosine near-dup.

The reference has no dedup surface (SURVEY.md §2.5); these are the
LLM-training-data extension operators. Every variant is deterministic
(md5-derived hashes, fixed literal hyperplanes) so a DuckDB oracle can
replay the identical computation.

Scale notes (100 TB stance):
- no pairwise O(n²) anywhere: every fuzzy variant generates candidate
  pairs through a *bucket join* (LSH band key, SimHash band, inverted
  shingle index with a document-frequency cap) and only verifies
  within buckets. That is the shape that survives 1000 executors.
- all hashing is built-in JVM md5/transform/aggregate lambdas — no
  Python UDFs in any hot path. MinHash takes one md5 per shingle and
  derives its 16 hash functions arithmetically from it.
- the self-joins shuffle on the bucket key; hot buckets (stop-shingle
  skew) are removed by the df-cap filter before the join, and AQE
  skew-join handles the rest.

LSH core: each banded-LSH step has one implementation here, and every
operator that takes the step calls it (similarity.py's ANN included):

- signatures: ``minhash_bands`` (MinHash band rows from a shingle
  posting, one md5 per posting row), ``simhash_bands`` (SimHash
  fingerprint and band rows from text), ``hyperplane_bucket`` and
  ``embedding_signature`` (random-hyperplane bucket over a plane
  matrix the caller owns, on the rows of ``_vectors``, the vector
  loader of similarity.py's vector-search core);
- candidates: ``band_pairs`` (band self-join to distinct canonical
  ``a < b`` pairs) and ``_cosine_bucket_pairs`` (bucket self-join with
  the cosine filter);
- verify: ``jaccard_verify`` (exact Jaccard on per-document shingle
  arrays: ``dedup_minhash_lsh`` passes the row-local shingle sets its
  posting was exploded from, the index probe regroups a posting with
  ``_shingle_arrays``).

Persisted frames: ``band_pairs`` persists its band rows and
``_cosine_bucket_pairs`` its signature rows, because both sides of the
self-join read them. Nothing in this module unpersists them:
``minhash_candidates`` hands ``bands`` to its caller, and the
registry's ``_fresh_cache`` clears the session's cache before the next
registered query runs. The signature builders and ``jaccard_verify``
persist nothing, so the index probe built on them stays cache-free.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from golang_etl_spark.registry import register
from golang_etl_spark.sources.catalog import built_from, load_table

# ---------------------------------------------------------------------------
# Shared text shingling (word 3-grams, distinct), in both dialects.
# ---------------------------------------------------------------------------
_WORDS_SPARK = "split(trim(text), '\\\\s+')"
_WORDS_DUCK = "string_split_regex(trim(text), '\\s+')"

_SHINGLES_SPARK = (
    "CASE WHEN size(w) >= 3 THEN array_distinct(transform(sequence(1, size(w) - 2), "
    "i -> concat_ws(' ', element_at(w, i), element_at(w, i+1), element_at(w, i+2)))) "
    "ELSE array(concat_ws(' ', w)) END"
)
_SHINGLES_DUCK = (
    "CASE WHEN len(w) >= 3 THEN list_distinct(list_transform(range(1, len(w) - 1), "
    "i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) "
    "ELSE [array_to_string(w, ' ')] END"
)

# MinHash parameters: k = b*r hash functions, banded b x r for LSH.
# The s-curve threshold is (1/b)^(1/r) ~= 0.71, matching JACCARD_MIN.
MINHASH_K = 16
LSH_BANDS = 4
LSH_ROWS = 4
JACCARD_MIN = 0.7

# SimHash parameters: 60-bit fingerprint (15 md5 nibbles — stays in
# signed int64), 4 bands of 15 bits for candidate generation, Hamming
# radius 3 for the verify step. 15-bit bands collide randomly at
# 2^-15, so candidate volume stays O(near-dups) even at billions of
# docs; a 32-bit/8-bit-band variant produced ~8% of all pairs as
# candidates on this corpus — useless at scale.
SIMHASH_BITS = 60
SIMHASH_BAND_BITS = 15
HAMMING_MAX = 3

# n-gram inverted index: drop shingles appearing in more than DF_CAP
# docs (stop-shingles) — kills bucket skew, standard recall tradeoff.
DF_CAP = 50


def _pin_partitions(spark: SparkSession) -> int:
    """Partition count for the CPU-heavy text stages.

    The fixture tables are single small parquet files, so the scan is
    one task and AQE's coalescing would shrink a plain
    ``repartition(col)`` back to one post-shuffle partition (these
    stages are heavy per *row*, not per byte — AQE sizes by bytes).
    An explicit count (REPARTITION_BY_NUM) is exempt from coalescing,
    pinning the lambda-evaluation stages at full parallelism. At
    cluster scale the input would arrive in many splits and this
    repartition becomes a cheap rebalance on the same key the
    signature aggregation shuffles on anyway.
    """
    return spark.sparkContext.defaultParallelism


def _shingle_sets(docs: DataFrame) -> DataFrame:
    """(doc_id, text) → (doc_id, shingles): each document's distinct
    word 3-grams, computed row-locally."""
    return docs.selectExpr("doc_id", f"{_WORDS_SPARK} AS w").selectExpr(
        "doc_id", f"{_SHINGLES_SPARK} AS shingles"
    )


def _corpus_shingle_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``_shingle_sets`` of the ``documents`` table, hash-partitioned on
    doc_id at full parallelism (``_pin_partitions``)."""
    return _shingle_sets(
        load_table(spark, sf_dir, "documents").repartition(
            _pin_partitions(spark), "doc_id"
        )
    )


def _shingle_posting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted shingle index: (doc_id, n_shingles, shingle), one row
    per distinct shingle per doc. Shared by the n-gram Jaccard and
    contamination variants and the MinHash index stores; call
    ``.persist()`` at the use site when the posting feeds multiple
    plan branches.

    ``explode_outer``, not ``explode``: a non-outer Generate makes
    Catalyst infer a ``size(shingles) > 0 AND isnotnull(shingles)``
    filter and push it below the repartition Exchange — which inlines
    the whole interpreted shingle lambda (twice!) into the single-task
    scan stage. The shingle array is non-empty by construction (the
    CASE always yields >= 1 element), so outer semantics are identical
    and the inferred filter never exists.
    """
    sh = _corpus_shingle_sets(spark, sf_dir)
    return sh.select(
        "doc_id",
        F.size("shingles").alias("n"),
        F.explode_outer("shingles").alias("shingle"),
    )


def band_pairs(bands: DataFrame) -> DataFrame:
    """Candidate pairs of an LSH band table: the distinct ``(doc_id_a,
    *payload_a, doc_id_b, *payload_b)`` with ``doc_id_a < doc_id_b``
    for every two rows of ``bands`` that share a ``(band_id,
    band_key)``. ``bands`` holds ``doc_id``, ``band_id``, ``band_key``
    and any payload columns, which ride to both sides of the pair.

    Persists ``bands``: both sides of the self-join read it, and
    without the cache each side re-runs the signature aggregation.
    The caller, or the registry's per-query cache clear, releases it.
    Items colliding in several bands give one pair (the distinct)."""
    payload = [c for c in bands.columns if c not in ("doc_id", "band_id", "band_key")]
    bands = bands.persist()
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            *[
                F.col(f"{side}.{c}").alias(f"{c}_{side}")
                for side in "ab"
                for c in ("doc_id", *payload)
            ]
        )
        .distinct()
    )


def _shingle_arrays(posting: DataFrame) -> DataFrame:
    """(doc_id, shingle) posting → (doc_id, sh), each document's sorted
    shingle array. Postings are distinct per document, so ``sh`` is
    the shingle set."""
    return posting.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("shingle")).alias("sh")
    )


def jaccard_verify(
    cand: DataFrame, arrs_a: DataFrame, arrs_b: DataFrame
) -> DataFrame:
    """Verify candidate pairs by exact shingle Jaccard: ``cand`` has
    two id columns (a, b), ``arrs_a`` and ``arrs_b`` are the
    ``(doc_id, sh)`` shingle arrays of each side. Returns ``(a, b,
    jaccard)`` for the pairs with Jaccard >= JACCARD_MIN, rounded to 6
    places. Persists nothing.

    Each candidate document's array rides to the pair and is
    intersected JVM-side: one row per (pair, side), where verifying on
    exploded postings ships one row per (pair, shingle) through a
    (doc, shingle)-keyed exchange and a counting aggregation."""
    a, b = cand.columns
    inter = (
        cand.join(arrs_a.selectExpr(f"doc_id AS {a}", "sh AS sh_a"), a)
        .join(arrs_b.selectExpr(f"doc_id AS {b}", "sh AS sh_b"), b)
        .select(
            a,
            b,
            F.size("sh_a").alias("n_a"),
            F.size("sh_b").alias("n_b"),
            F.size(F.array_intersect("sh_a", "sh_b")).alias("shared"),
        )
    )
    jac = F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared"))
    return inter.filter(jac >= JACCARD_MIN).select(
        a, b, F.round(jac, 6).alias("jaccard")
    )


# ---------------------------------------------------------------------------
# 1. Exact dedup: hash-groupBy on normalized text.
# ---------------------------------------------------------------------------
_EXACT_ORACLE = """
SELECT md5(norm) AS text_hash,
       MIN(doc_id) AS keep_id,
       CAST(COUNT(*) AS BIGINT) AS n_copies
FROM (SELECT doc_id,
             regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
      FROM documents)
GROUP BY md5(norm)
"""


@register("dedup_exact_text", oracle=_EXACT_ORACLE, tags=("dedup", "llm"))
def dedup_exact_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: normalize (lower/trim/collapse-ws), md5, groupBy
    hash keeping the lowest doc_id. One shuffle on the 128-bit hash —
    uniformly distributed, no skew by construction."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    return (
        docs.select("doc_id", F.md5(norm).alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count("*").alias("n_copies"),
        )
    )


# ---------------------------------------------------------------------------
# 2. MinHash + LSH near-dedup.
# ---------------------------------------------------------------------------
# One md5 per shingle: its first 15 hex digits (60 bits) mod the
# Mersenne prime p = 2^31 - 1 give the base hash x, and the K hash
# functions are the universal family h_i(x) = (a_i·x + b_i) mod p —
# the family Spark MLlib's MinHashLSH uses — with a_i in [1, p) and
# b_i in [0, p) drawn once from a fixed seed. a_i, b_i and x are below
# p, so every intermediate stays below 2^63 in both dialects. Numeric
# (not string) on purpose: Spark's MIN over a string falls back to
# SortAggregate (immutable agg buffers — exchange + sort per
# aggregation), while MIN over a long stays in HashAggregate with
# map-side partial min. DuckDB replays the identical value via its
# hex-literal cast, so the oracle still matches bit-for-bit.
MINHASH_PRIME = 2_147_483_647
_MINHASH_A, _MINHASH_B = np.random.default_rng(7).integers(
    (1, 0), MINHASH_PRIME, (MINHASH_K, 2)
).T
_MINHASH_BASE_SPARK = (
    f"cast(conv(substr(md5(shingle), 1, 15), 16, 10) as bigint) % {MINHASH_PRIME}"
)
_MINHASH_BASE_DUCK = f"('0x' || substr(md5(s), 1, 15))::BIGINT % {MINHASH_PRIME}"


def _minhash_fn(i: int) -> str:
    """The i-th hash function of base hash ``x``, in either dialect."""
    return f"({_MINHASH_A[i]} * x + {_MINHASH_B[i]}) % {MINHASH_PRIME}"


def _band_exprs() -> list[str]:
    # Band key = '_'-joined signature slice. concat_ws renders BIGINTs
    # identically in both dialects; no hashing needed for an equi-join
    # key (equality on the joined string == equality on the slice).
    out = []
    for b in range(LSH_BANDS):
        cols = ", ".join(f"h{b * LSH_ROWS + r}" for r in range(LSH_ROWS))
        out.append(f"concat_ws('_', {cols}) AS band_{b}")
    return out


def minhash_bands(posting: DataFrame) -> DataFrame:
    """(doc_id, shingle) posting → (doc_id, band_id, band_key) band
    rows: one base hash per posting row, the MINHASH_K min-hashes as
    grouped MIN aggregates over it, cut into LSH_BANDS band keys. The
    band index stores exactly these rows. Persists nothing."""
    base = posting.selectExpr("doc_id", f"{_MINHASH_BASE_SPARK} AS x")
    sig = base.groupBy("doc_id").agg(
        *[F.min(F.expr(_minhash_fn(i))).alias(f"h{i}") for i in range(MINHASH_K)]
    )
    stack_args = ", ".join(f"{b}, band_{b}" for b in range(LSH_BANDS))
    return sig.selectExpr("doc_id", *_band_exprs()).selectExpr(
        "doc_id", f"stack({LSH_BANDS}, {stack_args}) AS (band_id, band_key)"
    )


def _minhash_bands_duck(where: str) -> str:
    """DuckDB twin of ``_shingle_posting`` + ``minhash_bands`` over
    ``documents{where}``: the sh, sig0, sig and bands CTEs."""
    mins = ",\n    ".join(
        f"list_min(list_transform(xs, x -> {_minhash_fn(i)})) AS h{i}"
        for i in range(MINHASH_K)
    )
    band_union = "\n    UNION ALL\n    ".join(
        f"SELECT doc_id, {b} AS band_id, band_{b} AS band_key FROM sig"
        for b in range(LSH_BANDS)
    )
    return f"""sh AS (
  SELECT doc_id, {_SHINGLES_DUCK} AS shingles
  FROM (SELECT doc_id, {_WORDS_DUCK} AS w FROM documents{where})
),
sig0 AS (
  SELECT doc_id,
    {mins}
  FROM (SELECT doc_id, list_transform(shingles, s -> {_MINHASH_BASE_DUCK}) AS xs FROM sh)
),
sig AS (
  SELECT doc_id, {", ".join(_band_exprs())} FROM sig0
),
bands AS (
    {band_union}
)"""


def _minhash_oracle() -> str:
    return f"""
WITH {_minhash_bands_duck("")},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
)
SELECT c.doc_id_a, c.doc_id_b,
       ROUND(len(list_intersect(sa.shingles, sb.shingles)) * 1.0
             / len(list_distinct(sa.shingles || sb.shingles)), 6) AS jaccard
FROM cand c
JOIN sh sa ON sa.doc_id = c.doc_id_a
JOIN sh sb ON sb.doc_id = c.doc_id_b
WHERE len(list_intersect(sa.shingles, sb.shingles)) * 1.0
      / len(list_distinct(sa.shingles || sb.shingles)) >= {JACCARD_MIN}
"""


def minhash_candidates(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(shingle sets, bands, candidate-pairs) for MinHash LSH —
    candidates are pre-verification. Split out of the query so
    tests/test_dedup_scale.py can measure candidate volume directly —
    the quantity that must grow linearly with the duplicate count for
    the operator to survive 100 TB. The shingle sets ``(doc_id,
    shingles)`` feed both the posting the signatures aggregate and the
    verify arrays; they are not persisted. ``bands`` comes back
    persisted by ``band_pairs``: callers that run many invocations in
    one session should unpersist it when done."""
    sets = _corpus_shingle_sets(spark, sf_dir)
    posting = sets.select("doc_id", F.explode_outer("shingles").alias("shingle"))
    bands = minhash_bands(posting)
    return sets, bands, band_pairs(bands)


@register("dedup_minhash_lsh", oracle=_minhash_oracle(), tags=("dedup", "llm"))
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(k=16) + LSH(4x4 bands) near-duplicate pairs, verified
    with exact shingle Jaccard >= 0.7.

    Pipeline: repartition the single-file scan on doc_id (the fixture
    is one parquet file — without this every downstream stage is one
    task), shingle each document row-locally, explode the shingles to
    postings, take one md5 base hash per posting and the 16 min-hashes
    as grouped MIN aggregates over *numeric* hashes (the posting is
    already partitioned on doc_id, so no exchange; map-side partial min
    in HashAggregate — string mins fall back to SortAggregate) → 4 band
    keys → self-join on band key → Jaccard verify on the same
    per-document shingle arrays, so candidate volume stays
    O(near-dups), never O(n²). Only the band rows are persisted (by
    ``band_pairs``)."""
    sets, _bands, cand = minhash_candidates(spark, sf_dir)
    arrs = sets.withColumnRenamed("shingles", "sh")
    return jaccard_verify(cand, arrs, arrs)


# ---------------------------------------------------------------------------
# 3. SimHash near-dedup (32-bit, banded).
# ---------------------------------------------------------------------------
def _simhash_bit_sum_pairs(dialect: str) -> list[tuple[str, str]]:
    """32 per-bit +-1 sums over the md5 nibbles of each token, as
    (expression, alias) pairs."""
    pos = "instr" if dialect == "spark" else "strpos"
    out = []
    for b in range(SIMHASH_BITS):
        nib, mask = b // 4 + 1, 1 << (b % 4)
        out.append(
            (
                f"SUM(CASE WHEN ({pos}('0123456789abcdef', substr(h, {nib}, 1)) - 1) "
                f"& {mask} != 0 THEN 1 ELSE -1 END)",
                f"s{b}",
            )
        )
    return out


def _simhash_fp() -> str:
    return " + ".join(
        f"(CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END)"
        for b in range(SIMHASH_BITS)
    )


def _simhash_band_exprs(dialect: str) -> list[str]:
    out = []
    for j in range(SIMHASH_BITS // SIMHASH_BAND_BITS):
        shift = j * SIMHASH_BAND_BITS
        mask = (1 << SIMHASH_BAND_BITS) - 1
        if dialect == "spark":
            out.append(f"(shiftright(fp, {shift}) & {mask}) AS band_{j}")
        else:
            out.append(f"((fp >> {shift}) & {mask}) AS band_{j}")
    return out


def simhash_bands(docs: DataFrame) -> DataFrame:
    """(doc_id, text) → (doc_id, fp, band_id, band_key) band rows: the
    60-bit SimHash fingerprint from frequency-weighted ±1 bit votes
    over each token's md5 nibbles, cut into 15-bit band keys.

    The bit votes are one grouped aggregation over exploded tokens
    (map-side partial sums — all-integer, stays in HashAggregate).
    ``explode_outer``, not ``explode``: a non-outer explode's inferred
    filter would push the split below the caller's repartition
    Exchange. Persists nothing."""
    toks = docs.selectExpr("doc_id", f"{_WORDS_SPARK} AS w").select(
        "doc_id", F.explode_outer("w").alias("tok")
    ).selectExpr("doc_id", "md5(tok) AS h")
    sums = toks.groupBy("doc_id").agg(
        *[F.expr(e).alias(a) for e, a in _simhash_bit_sum_pairs("spark")]
    )
    n_bands = SIMHASH_BITS // SIMHASH_BAND_BITS
    stack_args = ", ".join(f"{j}, band_{j}" for j in range(n_bands))
    return (
        sums.selectExpr("doc_id", f"CAST({_simhash_fp()} AS BIGINT) AS fp")
        .selectExpr("doc_id", "fp", *_simhash_band_exprs("spark"))
        .selectExpr(
            "doc_id", "fp",
            f"stack({n_bands}, {stack_args}) AS (band_id, band_key)",
        )
    )


def _simhash_bands_duck() -> str:
    """DuckDB twin of ``simhash_bands`` over ``documents``: the toks,
    sums, fps, banded and bands CTEs."""
    sums = ",\n    ".join(f"{e} AS {a}" for e, a in _simhash_bit_sum_pairs("duck"))
    band_union = "\n    UNION ALL\n    ".join(
        f"SELECT doc_id, fp, {j} AS band_id, band_{j} AS band_val FROM banded"
        for j in range(SIMHASH_BITS // SIMHASH_BAND_BITS)
    )
    return f"""toks AS (
  SELECT doc_id, md5(tok) AS h
  FROM (SELECT doc_id, unnest({_WORDS_DUCK}) AS tok FROM documents)
),
sums AS (
  SELECT doc_id,
    {sums}
  FROM toks GROUP BY doc_id
),
fps AS (
  SELECT doc_id, CAST({_simhash_fp()} AS BIGINT) AS fp FROM sums
),
banded AS (
  SELECT doc_id, fp, {", ".join(_simhash_band_exprs('duck'))} FROM fps
),
bands AS (
    {band_union}
)"""


def _simhash_oracle() -> str:
    return f"""
WITH {_simhash_bands_duck()},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_id_a, a.fp AS fp_a,
                  b.doc_id AS doc_id_b, b.fp AS fp_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_val = b.band_val
   AND a.doc_id < b.doc_id
)
SELECT doc_id_a, doc_id_b,
       CAST(bit_count(xor(fp_a, fp_b)) AS BIGINT) AS hamming
FROM cand
WHERE bit_count(xor(fp_a, fp_b)) <= {HAMMING_MAX}
"""


def simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified SimHash near-dup pairs ``(doc_id_a, doc_id_b,
    hamming)`` — the body of ``dedup_simhash``, factored out so the
    connected-components clustering operator
    (``operators/clustering.py``) can consume the same edge set.

    SimHash near-dup: 60-bit fingerprint (``simhash_bands``),
    candidates from 15-bit band collisions (``band_pairs``), verified
    by Hamming distance <= HAMMING_MAX (3). The band self-join is the
    only shuffle besides the bit-vote aggregation. Same stage-shape
    care as MinHash: pinned repartition (AQE would coalesce the
    tiny-bytes, heavy-CPU token stage to one task), and the band table
    persisted (by ``band_pairs``) so the candidate self-join's two
    sides don't each re-run the 60-sum aggregation."""
    docs = load_table(spark, sf_dir, "documents").repartition(
        _pin_partitions(spark), "doc_id"
    )
    cand = band_pairs(simhash_bands(docs))
    hamming = F.expr("bit_count(fp_a ^ fp_b)")
    return (
        cand.filter(hamming <= HAMMING_MAX)
        .select(
            "doc_id_a",
            "doc_id_b",
            hamming.cast("long").alias("hamming"),
        )
    )


@register("dedup_simhash", oracle=_simhash_oracle(), tags=("dedup", "llm"))
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate pairs (see ``simhash_pairs`` for the
    algorithm and plan-shape notes)."""
    return simhash_pairs(spark, sf_dir)


# ---------------------------------------------------------------------------
# 4. n-gram Jaccard via inverted shingle index (df-capped).
# ---------------------------------------------------------------------------
_NGRAM_ORACLE = f"""
WITH sh AS (
  SELECT doc_id, {_SHINGLES_DUCK} AS shingles
  FROM (SELECT doc_id, {_WORDS_DUCK} AS w FROM documents)
),
posting AS (
  SELECT doc_id, len(shingles) AS n, unnest(shingles) AS shingle FROM sh
),
rare AS (
  SELECT shingle FROM posting GROUP BY shingle HAVING COUNT(*) <= {DF_CAP}
),
pairs AS (
  SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
         a.n AS n_a, b.n AS n_b, COUNT(*) AS shared
  FROM posting a
  JOIN rare r ON a.shingle = r.shingle
  JOIN posting b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id, a.n, b.n
)
SELECT doc_id_a, doc_id_b,
       CAST(shared AS BIGINT) AS shared,
       ROUND(shared * 1.0 / (n_a + n_b - shared), 6) AS jaccard
FROM pairs
WHERE shared * 1.0 / (n_a + n_b - shared) >= {JACCARD_MIN}
"""


def _shared_shingle_pairs(
    spark: SparkSession, sf_dir: str, df_cap: int
) -> DataFrame:
    """(doc_id_a, doc_id_b, n_a, n_b, shared) for every pair of
    documents (doc_id_a < doc_id_b) sharing a shingle that occurs in at
    most ``df_cap`` documents — the inverted-index candidate count
    behind ``dedup_ngram_jaccard`` and ``containment_pairs``. |pairs| =
    Σ_shingle df² over rare shingles only — never O(n²). Persists the
    posting: the document-frequency filter AND both sides of the
    shingle self-join read it (3 references)."""
    posting = _shingle_posting(spark, sf_dir).persist()
    rare = (
        posting.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= df_cap)
        .select("shingle")
    )
    p = posting.join(rare, "shingle")
    a = p.select(
        F.col("shingle"),
        F.col("doc_id").alias("doc_id_a"),
        F.col("n").alias("n_a"),
    )
    b = posting.select(
        F.col("shingle"),
        F.col("doc_id").alias("doc_id_b"),
        F.col("n").alias("n_b"),
    )
    return (
        a.join(b, "shingle")
        .filter(F.col("doc_id_a") < F.col("doc_id_b"))
        .groupBy("doc_id_a", "doc_id_b", "n_a", "n_b")
        .agg(F.count("*").alias("shared"))
    )


@register("dedup_ngram_jaccard", oracle=_NGRAM_ORACLE, tags=("dedup", "llm"))
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard dedup via an inverted shingle index:
    explode distinct shingles to postings, drop stop-shingles with
    document frequency > DF_CAP (skew control — the scalable standard),
    self-join postings on shingle, count shared per pair, keep pairs
    with Jaccard >= 0.7 (see ``_shared_shingle_pairs``)."""
    pairs = _shared_shingle_pairs(spark, sf_dir, DF_CAP)
    jac = F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared"))
    return pairs.filter(jac >= JACCARD_MIN).select(
        "doc_id_a",
        "doc_id_b",
        F.col("shared").cast("long").alias("shared"),
        F.round(jac, 6).alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# 4b. Containment near-dup: the asymmetric overlap Jaccard misses.
# ---------------------------------------------------------------------------
# A short document fully contained in a long one has low Jaccard
# (|A∩B|/|A∪B| is diluted by the long side's extra shingles) but
# containment |A∩B|/min(|A|,|B|) ≈ 1 — the quote/boilerplate/wrapper
# case every corpus-dedup pipeline needs alongside symmetric Jaccard.
# Candidates come from the SAME DF-capped inverted shingle index as
# dedup_ngram_jaccard (MinHash-LSH bands would be WRONG here: band
# collision probability tracks Jaccard, so low-Jaccard containment
# pairs rarely collide); the verify step just swaps the denominator.
CONTAIN_MIN = 0.8

_CONTAIN_ORACLE = f"""
WITH sh AS (
  SELECT doc_id, {_SHINGLES_DUCK} AS shingles
  FROM (SELECT doc_id, {_WORDS_DUCK} AS w FROM documents)
),
posting AS (
  SELECT doc_id, len(shingles) AS n, unnest(shingles) AS shingle FROM sh
),
rare AS (
  SELECT shingle FROM posting GROUP BY shingle HAVING COUNT(*) <= {DF_CAP}
),
pairs AS (
  SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
         a.n AS n_a, b.n AS n_b, COUNT(*) AS shared
  FROM posting a
  JOIN rare r ON a.shingle = r.shingle
  JOIN posting b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id, a.n, b.n
)
SELECT doc_id_a, doc_id_b,
       CAST(shared AS BIGINT) AS shared,
       ROUND(shared / CAST(LEAST(n_a, n_b) AS DOUBLE), 6) AS containment,
       ROUND(shared / CAST(n_a + n_b - shared AS DOUBLE), 6) AS jaccard
FROM pairs
WHERE shared / CAST(LEAST(n_a, n_b) AS DOUBLE) >= {CONTAIN_MIN}
"""


@register(
    "dedup_containment_ngram", oracle=_CONTAIN_ORACLE, tags=("dedup", "llm")
)
def dedup_containment_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dup: pairs where the SMALLER
    shingle set is >= CONTAIN_MIN covered by the intersection —
    catches short-in-long duplication (quotes, wrappers, boilerplate
    plus payload) that symmetric Jaccard dilutes below threshold. The
    jaccard column is emitted alongside so the asymmetric catch is
    visible (containment ~1, jaccard well under JACCARD_MIN).

    Same inverted-index candidate generation as dedup_ngram_jaccard
    (DF-capped postings, Σ df² candidate volume — never O(n²));
    deliberately NOT MinHash-LSH bands, whose collision probability
    tracks Jaccard and therefore misses exactly the low-Jaccard/
    high-containment pairs this operator exists to find. Same recall
    caveat as the Jaccard variant: a pair sharing only stop-shingles
    (df > df_cap) is not surfaced — and the cap is an ABSOLUTE count,
    so it must scale with corpus duplication (a 10x-replicated corpus
    pushes every match-bearing shingle's df 10x higher; at production
    scale set df_cap as a fraction of corpus size, which is what the
    10x smoke in tests/test_scaleup_smoke.py exercises via
    ``containment_pairs``, the cap-parameterized core — the registered
    query surface stays (spark, sf_dir) per the driver contract)."""
    return containment_pairs(spark, sf_dir, DF_CAP)


def containment_pairs(
    spark: SparkSession, sf_dir: str, df_cap: int
) -> DataFrame:
    """Cap-parameterized core of dedup_containment_ngram (see its
    docstring); df_cap is the absolute stop-shingle document-frequency
    ceiling and must grow with corpus duplication."""
    pairs = _shared_shingle_pairs(spark, sf_dir, df_cap)
    contain = F.col("shared") / F.least("n_a", "n_b").cast("double")
    jac = F.col("shared") / (
        F.col("n_a") + F.col("n_b") - F.col("shared")
    ).cast("double")
    return pairs.filter(contain >= CONTAIN_MIN).select(
        "doc_id_a",
        "doc_id_b",
        F.col("shared").cast("long").alias("shared"),
        F.round(contain, 6).alias("containment"),
        F.round(jac, 6).alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# 5. Embedding-cosine near-dup via random-hyperplane LSH buckets.
# ---------------------------------------------------------------------------
# Embedding LSH: fixed random hyperplanes (seed 7), 4 planes → 16
# buckets. More planes = smaller buckets, lower recall; 4 suits the
# fixture's cosine range (max ~0.48). COSINE_MIN is the near-dup bar.
N_PLANES = 4
EMBED_DIM = 64
COSINE_MIN = 0.35

_EMB_DOUBLE_SPARK = "transform(embedding, x -> cast(x AS double))"


def _dot_spark(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"
    )


def hyperplanes(n: int, seed: int) -> np.ndarray:
    """``n`` fixed random hyperplanes over EMBED_DIM dimensions, rounded
    to the 4 decimals both dialects render as literals."""
    return np.round(
        np.random.RandomState(seed).standard_normal((n, EMBED_DIM)), 4
    )


_PLANES = hyperplanes(N_PLANES, 7)


def hyperplane_bucket(planes: np.ndarray, dialect: str) -> str:
    """LSH bucket id of the ``emb`` column: bit i is the sign of
    <emb, planes[i]>, so ``planes`` with n rows give 2^n buckets."""
    terms = []
    for i, plane in enumerate(planes):
        lit = ", ".join(format(float(v), ".4f") for v in plane)
        if dialect == "spark":
            dot = _dot_spark("emb", f"array({lit})")
        else:
            dot = f"list_dot_product(emb, [{lit}])"
        terms.append(f"(CASE WHEN {dot} > 0 THEN {1 << i} ELSE 0 END)")
    return " + ".join(terms)


def _vectors(emb: DataFrame) -> DataFrame:
    """``embeddings`` rows -> the other columns plus (emb, nrm): the
    vector as doubles and its L2 norm. An all-zero vector has no
    direction, so it is dropped; the zero test reads the raw array, so
    the norm is computed once per row. Plain projections: with a
    withColumn/drop chain here, the second run of
    dedup_embedding_cosine in a fresh JVM took 1.23 s against 1.04 s
    (medians of three, perfbench ingest seed-1 inputs, 4 vCPUs)."""
    keep = [c for c in emb.columns if c != "embedding"]
    return (
        emb.filter("exists(embedding, x -> x <> 0)")
        .selectExpr(*keep, f"{_EMB_DOUBLE_SPARK} AS emb")
        .selectExpr(*keep, "emb", f"sqrt({_dot_spark('emb', 'emb')}) AS nrm")
    )


# DuckDB twin of ``_vectors``: the v CTE.
_VECTORS_DUCK = """v AS (
  SELECT * EXCLUDE (embedding), embedding::DOUBLE[] AS emb,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings WHERE len(list_filter(embedding, x -> x <> 0)) > 0
)"""


def embedding_signature(emb: DataFrame, planes: np.ndarray) -> DataFrame:
    """``_vectors`` -> (vec_id, emb, bucket, nrm): the vector's
    ``hyperplane_bucket`` under ``planes`` added. Persists nothing."""
    return _vectors(emb).selectExpr(
        "vec_id", "emb", f"{hyperplane_bucket(planes, 'spark')} AS bucket", "nrm"
    )


def _embedding_signature_duck(planes: np.ndarray) -> str:
    """DuckDB twin of ``embedding_signature``: the v and sig CTEs."""
    return f"""WITH {_VECTORS_DUCK},
sig AS (SELECT *, {hyperplane_bucket(planes, 'duck')} AS bucket FROM v)"""


def _embedding_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``embedding_signature`` of the pinned embeddings scan under this
    module's planes (seed 7)."""
    emb = load_table(spark, sf_dir, "embeddings").repartition(
        _pin_partitions(spark), "vec_id"
    )
    return embedding_signature(emb, _PLANES)


def _cosine_bucket_pairs(
    sig: DataFrame, extra: Column | None = None
) -> tuple[DataFrame, Column]:
    """Self-join of signature rows within a bucket, ``a.vec_id <
    b.vec_id`` (and ``extra``, a condition over the ``a``/``b``
    aliases), kept where the cosine is >= COSINE_MIN. Returns the
    joined frame and its cosine column.

    Persists ``sig``: both sides of the self-join read it; unpersisted,
    each side re-runs the interpreted hyperplane dot products, and the
    join's inferred isnotnull(bucket) filter would push the same
    lambdas into the single-task scan stage. The executed plan is a
    BroadcastHashJoin over the cached partitions (audited r18), so a
    co-partitioning repartition on bucket only adds an exchange the
    join never uses (A/B-ed: a pure ~0.3 s loss)."""
    sig = sig.persist()
    a, b = sig.alias("a"), sig.alias("b")
    cos = F.expr(_dot_spark("a.emb", "b.emb")) / (F.col("a.nrm") * F.col("b.nrm"))
    on = (F.col("a.bucket") == F.col("b.bucket")) & (
        F.col("a.vec_id") < F.col("b.vec_id")
    )
    if extra is not None:
        on = on & extra
    return a.join(b, on).filter(cos >= COSINE_MIN), cos


_EMBED_ORACLE = f"""
{_embedding_signature_duck(_PLANES)}
SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
       ROUND(list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm), 6) AS cosine
FROM sig a JOIN sig b
  ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm) >= {COSINE_MIN}
"""


@register(
    "dedup_embedding_cosine", oracle=_EMBED_ORACLE, tags=("dedup", "llm", "ann")
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup: random-hyperplane LSH (4 fixed planes → 16
    buckets) to generate candidates, exact cosine >= 0.35 to verify.
    Approximate by design — recall is governed by plane count; the
    oracle replays the identical bucketing so results match exactly.

    The bucket self-join is the only shuffle; candidate volume is
    Σ_bucket |bucket|²/2, i.e. ~n²/buckets — scale planes with n."""
    pairs, cos = _cosine_bucket_pairs(_embedding_sig(spark, sf_dir))
    return pairs.select(
        F.col("a.vec_id").alias("vec_id_a"),
        F.col("b.vec_id").alias("vec_id_b"),
        F.round(cos, 6).alias("cosine"),
    )


# ---------------------------------------------------------------------------
# 6. Incremental ingest dedup: new batch vs existing corpus.
# ---------------------------------------------------------------------------
# The daily-ingest shape of a training-data pipeline: documents with
# doc_id < INGEST_SPLIT stand in for the already-ingested corpus,
# doc_id >= INGEST_SPLIT for the incoming batch. Each incoming doc is
# classified: exact_dup (normalized text hash exists in the corpus),
# near_dup (SimHash band collision with a corpus doc verified at
# Hamming <= HAMMING_MAX), else new.
INGEST_SPLIT = 250


def _ingest_oracle() -> str:
    return f"""
WITH norm AS (
  SELECT doc_id,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS h
  FROM documents
),
{_simhash_bands_duck()},
exact_dups AS (
  SELECT DISTINCT i.doc_id
  FROM norm i JOIN norm c
    ON i.h = c.h AND i.doc_id >= {INGEST_SPLIT} AND c.doc_id < {INGEST_SPLIT}
),
near_dups AS (
  SELECT DISTINCT i.doc_id
  FROM bands i JOIN bands c
    ON i.band_id = c.band_id AND i.band_val = c.band_val
   AND i.doc_id >= {INGEST_SPLIT} AND c.doc_id < {INGEST_SPLIT}
  WHERE bit_count(xor(i.fp, c.fp)) <= {HAMMING_MAX}
)
SELECT d.doc_id,
       CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
            WHEN n.doc_id IS NOT NULL THEN 'near_dup'
            ELSE 'new' END AS verdict
FROM (SELECT doc_id FROM documents WHERE doc_id >= {INGEST_SPLIT}) d
LEFT JOIN exact_dups e ON e.doc_id = d.doc_id
LEFT JOIN near_dups n ON n.doc_id = d.doc_id
"""


@register("dedup_incremental_ingest", oracle=_ingest_oracle(), tags=("dedup", "llm"))
def dedup_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classify an incoming document batch against the existing corpus:
    exact_dup / near_dup / new.

    100 TB shape: fingerprints and normalized hashes are computed ONCE
    over the union (one persisted pipeline — in production the corpus
    side's signatures would be a precomputed index table, so only the
    incoming batch pays compute), the exact check is a hash equi-join,
    and the near check is the SimHash band equi-join restricted to
    incoming×corpus — candidate volume stays O(near-dups), never
    |batch|×|corpus|."""
    docs = load_table(spark, sf_dir, "documents").repartition(
        _pin_partitions(spark), "doc_id"
    )
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    hashes = docs.select("doc_id", F.md5(norm).alias("h")).persist()
    bands = simhash_bands(docs).persist()

    is_corpus = F.col("doc_id") < INGEST_SPLIT
    exact = (
        hashes.filter(~is_corpus)
        .join(
            hashes.filter(is_corpus).select(F.col("h").alias("ch")),
            F.col("h") == F.col("ch"),
            "left_semi",
        )
        .select("doc_id")
        .distinct()
        .withColumn("is_exact", F.lit(True))
    )
    inc_b = bands.filter(~is_corpus).selectExpr(
        "doc_id", "fp", "band_id", "band_key"
    )
    cor_b = bands.filter(is_corpus).selectExpr(
        "fp AS c_fp", "band_id AS c_band_id", "band_key AS c_band_key"
    )
    near = (
        inc_b.join(
            cor_b,
            (F.col("band_id") == F.col("c_band_id"))
            & (F.col("band_key") == F.col("c_band_key")),
        )
        .filter(F.expr(f"bit_count(fp ^ c_fp) <= {HAMMING_MAX}"))
        .select("doc_id")
        .distinct()
        .withColumn("is_near", F.lit(True))
    )
    incoming = docs.filter(~is_corpus).select("doc_id")
    return (
        incoming.join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("is_exact"), "exact_dup")
            .when(F.col("is_near"), "near_dup")
            .otherwise("new")
            .alias("verdict"),
        )
    )


# ---------------------------------------------------------------------------
# 7. Benchmark contamination check (n-gram overlap vs a held-out set).
# ---------------------------------------------------------------------------
# Before training, the corpus is screened against evaluation
# benchmarks: any training document sharing a large fraction of a
# benchmark item's n-grams is contaminated and must be dropped. Here
# the "benchmark" is a deterministic ~5% slice of the corpus (md5
# bucket 0 of 20) so the operator is self-contained and replayable;
# in production the bench side is an external (tiny) table and the
# same plan applies verbatim.
BENCH_BUCKETS = 20  # bucket 0 -> benchmark ~= 5% of docs
BENCH_DF_CAP = 50  # drop shingles present in > cap benchmark docs
CONTAMINATION_MIN = 0.1  # report pairs covering >= 10% of a bench doc

_DOCBUCKET_SPARK = (
    "cast(conv(substr(md5(cast(doc_id AS string)), 1, 15), 16, 10) AS bigint)"
    f" % {BENCH_BUCKETS}"
)
_DOCBUCKET_DUCK = (
    f"('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % {BENCH_BUCKETS}"
)

_CONTAMINATION_ORACLE = f"""
WITH sh AS (
  SELECT doc_id, {_DOCBUCKET_DUCK} = 0 AS is_bench, {_SHINGLES_DUCK} AS shingles
  FROM (SELECT doc_id, {_WORDS_DUCK} AS w FROM documents)
),
bench AS (
  SELECT doc_id AS bench_id, len(shingles) AS bench_n,
         unnest(shingles) AS shingle
  FROM sh WHERE is_bench
),
rare AS (
  SELECT shingle FROM bench GROUP BY shingle HAVING COUNT(*) <= {BENCH_DF_CAP}
),
corpus AS (
  SELECT doc_id, unnest(shingles) AS shingle FROM sh WHERE NOT is_bench
),
hits AS (
  SELECT c.doc_id, b.bench_id, b.bench_n, COUNT(*) AS n_shared
  FROM corpus c
  JOIN rare r ON c.shingle = r.shingle
  JOIN bench b ON c.shingle = b.shingle
  GROUP BY c.doc_id, b.bench_id, b.bench_n
)
SELECT doc_id, bench_id,
       CAST(n_shared AS BIGINT) AS n_shared,
       ROUND(n_shared * 1.0 / bench_n, 4) AS contamination
FROM hits
WHERE n_shared * 1.0 / bench_n >= {CONTAMINATION_MIN}
"""


@register(
    "dedup_contamination_check",
    oracle=_CONTAMINATION_ORACLE,
    tags=("dedup", "llm"),
)
def dedup_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination screen: for every (corpus doc, bench
    doc) pair sharing word-3-gram shingles, report the fraction of the
    bench doc's shingles found in the corpus doc; pairs covering >=
    CONTAMINATION_MIN are flagged.

    Scale shape: the bench side is tiny by construction (a benchmark
    suite, ~per-mille of a 100 TB corpus), so the inverted-index join
    fans each corpus shingle out to at most the bench docs containing
    it; shingles hitting > BENCH_DF_CAP bench docs are boilerplate and
    dropped before the join (skew control, same stance as
    dedup_ngram_jaccard's DF_CAP). One aggregation keyed by
    (corpus_doc, bench_doc) — partial-agg'd map-side; candidate volume
    is O(true overlaps), never O(|corpus| x |bench|)."""
    posting = (
        _shingle_posting(spark, sf_dir)
        .withColumn("is_bench", F.expr(f"({_DOCBUCKET_SPARK}) = 0"))
        .persist()
    )
    bench = posting.filter(F.col("is_bench")).select(
        F.col("doc_id").alias("bench_id"),
        F.col("n").alias("bench_n"),
        "shingle",
    )
    rare = (
        bench.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= BENCH_DF_CAP)
        .select("shingle")
    )
    corpus = posting.filter(~F.col("is_bench")).select("doc_id", "shingle")
    hits = (
        corpus.join(rare, "shingle")
        .join(bench, "shingle")
        .groupBy("doc_id", "bench_id", "bench_n")
        .agg(F.count("*").alias("n_shared"))
    )
    contamination = F.col("n_shared") / F.col("bench_n")
    return hits.filter(contamination >= CONTAMINATION_MIN).select(
        "doc_id",
        "bench_id",
        F.col("n_shared").cast("long").alias("n_shared"),
        F.round(contamination, 4).alias("contamination"),
    )


# ---------------------------------------------------------------------------
# Blocked edit-distance similarity join.
# ---------------------------------------------------------------------------
# Levenshtein is the strictest near-dup predicate (character-level
# edits, order-sensitive — catches what shingle-Jaccard treats as
# identical) but is O(len^2) per pair, so the 100 TB formulation is
# blocking: candidate pairs come from an equi-join on a cheap block
# key (here the 12-char text prefix — in production a normalized
# title/URL key), a length-difference guard prunes before the
# quadratic distance, and the distance itself runs over a fixed-width
# prefix window so per-pair cost is bounded. All three stages are
# built-in JVM expressions; the only exchange is the hash shuffle on
# the block key.
EDIT_BLOCK_CHARS = 12
EDIT_WINDOW_CHARS = 40
EDIT_MAX_DIST = 12
EDIT_MAX_LEN_DIFF = 40

_EDIT_ORACLE = f"""
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       CAST(levenshtein(substr(a.text, 1, {EDIT_WINDOW_CHARS}),
                        substr(b.text, 1, {EDIT_WINDOW_CHARS})) AS BIGINT)
         AS edit_dist
FROM documents a
JOIN documents b
  ON substr(a.text, 1, {EDIT_BLOCK_CHARS}) = substr(b.text, 1, {EDIT_BLOCK_CHARS})
 AND a.doc_id < b.doc_id
 AND abs(a.n_chars - b.n_chars) <= {EDIT_MAX_LEN_DIFF}
WHERE levenshtein(substr(a.text, 1, {EDIT_WINDOW_CHARS}),
                  substr(b.text, 1, {EDIT_WINDOW_CHARS})) <= {EDIT_MAX_DIST}
ORDER BY a_id, b_id
"""


@register(
    "dedup_editdistance_blocked",
    oracle=_EDIT_ORACLE,
    tags=("dedup", "llm", "join"),
)
def dedup_editdistance_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level near-dup pairs via blocked Levenshtein: block
    on the 12-char prefix, prune by length difference, verify with
    edit distance over a 40-char window (bounded per-pair cost).

    Both engines implement unit-cost insert/delete/substitute
    Levenshtein, so the distances — and therefore the surviving pair
    set — replay exactly.

    Scale shape: equi-join on the block key (one exchange; blocks are
    title-cardinality sized, and a DF-cap like the n-gram index's
    would drop degenerate hot blocks), length guard before the
    quadratic verify, fixed-width window caps per-pair cost. Never
    all-pairs."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        F.substring("text", 1, EDIT_BLOCK_CHARS).alias("blk"),
        F.substring("text", 1, EDIT_WINDOW_CHARS).alias("win"),
    )
    a, b = docs.alias("a"), docs.alias("b")
    dist = F.levenshtein(F.col("a.win"), F.col("b.win"))
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (
                F.abs(F.col("a.n_chars") - F.col("b.n_chars"))
                <= EDIT_MAX_LEN_DIFF
            ),
        )
        .filter(dist <= EDIT_MAX_DIST)
        .select(
            F.col("a.doc_id").alias("a_id"),
            F.col("b.doc_id").alias("b_id"),
            dist.cast("long").alias("edit_dist"),
        )
        .orderBy("a_id", "b_id")
    )


# ---------------------------------------------------------------------------
# 10. Exact-substring dedup: cross-document k-token window overlap.
# ---------------------------------------------------------------------------
# The distributed analog of suffix-array exact-substring dedup (Lee et
# al., "Deduplicating Training Data Makes Language Models Better"): a
# suffix array is inherently single-node, so at 100 TB the standard
# formulation is a window-hash inverted index — hash every K-token
# sliding window, count distinct documents per window hash, and score
# each document by the fraction of its windows that also appear in
# some OTHER document. Catches copied passages that whole-document
# hashing (dedup_exact_text) and set-similarity (minhash/jaccard,
# which ignore token ORDER) both miss.
SUBSTR_K = 8  # tokens per window; Lee et al. use 50 BPE tokens at web scale


_SUBSTR_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {_WORDS_DUCK} AS t FROM documents
),
win AS (
  SELECT doc_id, md5(array_to_string(t[i:i + {SUBSTR_K} - 1], ' ')) AS h
  FROM toks, UNNEST(generate_series(1, len(t) - {SUBSTR_K} + 1)) AS g(i)
  WHERE len(t) >= {SUBSTR_K}
),
grp AS (
  SELECT doc_id, h, COUNT(*) AS c FROM win GROUP BY doc_id, h
),
nd AS (
  SELECT doc_id, h, c, COUNT(*) OVER (PARTITION BY h) AS n_docs
  FROM grp
)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_windows,
       CAST(SUM(CASE WHEN n_docs >= 2 THEN c ELSE 0 END) AS BIGINT)
         AS n_shared,
       ROUND(SUM(CASE WHEN n_docs >= 2 THEN c ELSE 0 END) * 1.0 / SUM(c), 6)
         AS dup_frac
FROM nd
GROUP BY doc_id
"""


@register("dedup_exact_substring", oracle=_SUBSTR_ORACLE, tags=("dedup", "llm"))
def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-substring fraction via a K-token
    sliding-window hash index (K=8): a window is "shared" when its
    hash occurs in >= 2 distinct documents; dup_frac is the fraction
    of a document's window POSITIONS covered by shared windows — the
    remove-or-keep signal exact-substring pipelines threshold on.

    100 TB shape: three exchanges, no joins — (doc_id, h) partial-agg
    collapses within-doc repeats BEFORE the h-shuffle (map-side
    combine bounds boilerplate hot keys), a count window over h scores
    cross-doc occurrence (one row per doc x distinct-window, never an
    all-pairs candidate set), and the final doc_id agg is pre-reduced.
    Window hashing is O(total tokens); a suffix array would need a
    global sort of every suffix."""
    docs = load_table(spark, sf_dir, "documents").repartition(
        _pin_partitions(spark), "doc_id"
    )
    win = (
        docs.selectExpr("doc_id", f"{_WORDS_SPARK} AS t")
        .filter(F.expr(f"size(t) >= {SUBSTR_K}"))
        .selectExpr(
            "doc_id",
            f"explode(transform(sequence(1, size(t) - {SUBSTR_K} + 1), "
            f"i -> md5(concat_ws(' ', slice(t, i, {SUBSTR_K}))))) AS h",
        )
    )
    grp = win.groupBy("doc_id", "h").agg(F.count("*").alias("c"))
    from pyspark.sql import Window

    nd = grp.withColumn(
        "n_docs", F.count("*").over(Window.partitionBy("h"))
    )
    shared_c = F.when(F.col("n_docs") >= 2, F.col("c")).otherwise(F.lit(0))
    return nd.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_windows"),
        F.sum(shared_c).cast("long").alias("n_shared"),
        F.round(F.sum(shared_c) / F.sum("c"), 6).alias("dup_frac"),
    )


# ---------------------------------------------------------------------------
# 11. Semantic diversity pruning (SemDeDup-style, LSH-bucketed).
# ---------------------------------------------------------------------------
# SemDeDup (Abbas et al. 2023) prunes semantically redundant training
# examples: cluster the embedding space, and within each cluster drop
# members too close to a representative. The paper clusters with
# k-means (iterative — not oracle-expressible); this formulation uses
# the SAME fixed random-hyperplane buckets as dedup_embedding_cosine,
# keeping every arithmetic step deterministic and hash-checkable. The
# trained-k-means analog is similarity_ivf_kmeans's cell assignment.
SEMANTIC_PRUNE_MIN = 0.2  # drop bar: cosine-to-representative


_SEMANTIC_PRUNE_ORACLE = f"""
{_embedding_signature_duck(_PLANES)},
rep AS (
  SELECT bucket, MIN(vec_id) AS rep_id FROM sig GROUP BY bucket
),
repv AS (
  SELECT s.bucket, r.rep_id, s.emb AS rep_emb, s.nrm AS rep_nrm
  FROM sig s JOIN rep r ON s.bucket = r.bucket AND s.vec_id = r.rep_id
)
SELECT s.vec_id, s.bucket,
       CASE WHEN s.vec_id = rv.rep_id THEN 'rep'
            WHEN list_dot_product(s.emb, rv.rep_emb)
                 / (s.nrm * rv.rep_nrm) >= {SEMANTIC_PRUNE_MIN} THEN 'drop'
            ELSE 'keep' END AS verdict,
       ROUND(list_dot_product(s.emb, rv.rep_emb)
             / (s.nrm * rv.rep_nrm), 6) AS cos_to_rep
FROM sig s JOIN repv rv ON s.bucket = rv.bucket
"""


@register(
    "dedup_semantic_prune",
    oracle=_SEMANTIC_PRUNE_ORACLE,
    tags=("dedup", "llm", "ann"),
)
def dedup_semantic_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style diversity pruning: bucket embeddings with the
    fixed hyperplane LSH, pick the min-vec_id member as each bucket's
    representative, and mark members with cosine >= 0.2 to the
    representative as 'drop' (semantically redundant), else 'keep'.

    100 TB shape: representative selection is a partial-aggregated
    groupBy over 2^N_PLANES buckets (map-side combine, tiny result),
    and BOTH joins broadcast the representative table — the corpus is
    scanned once with no bucket-partitioned window (which would cap
    parallelism at bucket count). Scale plane count with corpus size,
    exactly like dedup_embedding_cosine."""
    sig = _embedding_sig(spark, sf_dir).persist()
    rep_ids = sig.groupBy("bucket").agg(F.min("vec_id").alias("rep_id"))
    # rename every repv column so the final sig-vs-repv self-join has
    # no shared attribute names (Spark's ambiguous-self-join check)
    repv = (
        sig.alias("m")
        .join(
            F.broadcast(rep_ids.alias("r")),
            (F.col("m.bucket") == F.col("r.bucket"))
            & (F.col("m.vec_id") == F.col("r.rep_id")),
        )
        .select(
            F.col("m.bucket").alias("rbucket"),
            F.col("r.rep_id").alias("rep_id"),
            F.col("m.emb").alias("rep_emb"),
            F.col("m.nrm").alias("rep_nrm"),
        )
    )
    s = sig.alias("s")
    rv = F.broadcast(repv).alias("rv")
    cos = F.expr(_dot_spark("s.emb", "rv.rep_emb")) / (
        F.col("s.nrm") * F.col("rv.rep_nrm")
    )
    return s.join(rv, F.col("s.bucket") == F.col("rv.rbucket")).select(
        F.col("s.vec_id").alias("vec_id"),
        F.col("s.bucket").alias("bucket"),
        F.when(F.col("s.vec_id") == F.col("rv.rep_id"), F.lit("rep"))
        .when(cos >= SEMANTIC_PRUNE_MIN, F.lit("drop"))
        .otherwise(F.lit("keep"))
        .alias("verdict"),
        F.round(cos, 6).alias("cos_to_rep"),
    )


# ---------------------------------------------------------------------------
# Cross-lingual near-duplicate detection (translation contamination).
# ---------------------------------------------------------------------------
_XLING_ORACLE = f"""
{_embedding_signature_duck(_PLANES)},
lsig AS (SELECT sig.*, d.lang FROM sig JOIN documents d ON d.doc_id = sig.vec_id),
pairs AS (
  SELECT a.lang AS lang_a, b.lang AS lang_b,
         list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm) AS cos
  FROM lsig a JOIN lsig b
    ON a.bucket = b.bucket AND a.vec_id < b.vec_id
   AND a.lang <> b.lang
  WHERE list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm) >= {COSINE_MIN}
)
SELECT LEAST(lang_a, lang_b) AS lang_lo,
       GREATEST(lang_a, lang_b) AS lang_hi,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       ROUND(AVG(cos), 6) AS avg_cosine,
       ROUND(MAX(cos), 6) AS max_cosine
FROM pairs
GROUP BY LEAST(lang_a, lang_b), GREATEST(lang_a, lang_b)
ORDER BY lang_lo, lang_hi
"""


@register(
    "dedup_crosslingual_pairs",
    oracle=_XLING_ORACLE,
    tags=("dedup", "llm", "ann"),
)
def dedup_crosslingual_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Translation-contamination scan: near-duplicate pairs whose two
    documents carry DIFFERENT language tags — the signature of the
    same content entering the corpus twice through translation, which
    monolingual (text-hash / shingle) dedup can never see because the
    surface forms share no tokens. Embedding-space LSH is the only
    family that catches it; the report aggregates per language pair.

    100 TB shape: identical cost envelope to dedup_embedding_cosine
    (one bucket self-join over LSH signatures; the lang tag rides the
    signature row after a broadcast-scale id join), plus a language-
    pair-bounded final aggregate. The lang inequality prunes the
    candidate set map-side — same-language pairs (the vast majority)
    never reach the cosine verify."""
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "lang"
    )
    sig = _embedding_sig(spark, sf_dir).join(docs, "vec_id")
    joined, cos = _cosine_bucket_pairs(sig, F.col("a.lang") != F.col("b.lang"))
    pairs = joined.select(
        F.least(F.col("a.lang"), F.col("b.lang")).alias("lang_lo"),
        F.greatest(F.col("a.lang"), F.col("b.lang")).alias("lang_hi"),
        cos.alias("cos"),
    )
    return (
        pairs.groupBy("lang_lo", "lang_hi")
        .agg(
            F.count("*").alias("n_pairs"),
            F.round(F.avg("cos"), 6).alias("avg_cosine"),
            F.round(F.max("cos"), 6).alias("max_cosine"),
        )
        .orderBy("lang_lo", "lang_hi")
    )


# ---------------------------------------------------------------------------
# PPJoin-style set-similarity join: prefix filtering + exact verify.
# ---------------------------------------------------------------------------
# Jaccard threshold t and the prefix rule: two token sets with
# J(a,b) >= t MUST share a token within each set's first
# (|d| - ceil(t*|d|) + 1) tokens under ANY single global token order —
# the prefix-filtering principle (PPJoin). Ordering rarest-token-first
# makes those prefixes the least common tokens, so the inverted index
# over PREFIX tokens alone is far smaller than the full-postings index
# of dedup_ngram_jaccard while provably missing no qualifying pair.
PPJ_T = 0.95

_PPJ_ORACLE = f"""
WITH toks AS (
  SELECT DISTINCT doc_id, UNNEST(
    list_transform(string_split_regex(trim(text), '\\s+'), x -> lower(x))
  ) AS token
  FROM documents
),
sizes AS (
  SELECT doc_id, COUNT(*) AS d_size FROM toks GROUP BY doc_id
),
freq AS (
  SELECT token, COUNT(*) AS df FROM toks GROUP BY token
),
ranked AS (
  SELECT t.doc_id, t.token, s.d_size,
         ROW_NUMBER() OVER (PARTITION BY t.doc_id
                            ORDER BY f.df, t.token) AS pos
  FROM toks t JOIN freq f ON f.token = t.token
  JOIN sizes s ON s.doc_id = t.doc_id
),
prefix AS (
  SELECT doc_id, token, d_size FROM ranked
  WHERE pos <= d_size - CAST(CEIL({PPJ_T} * d_size) AS INT) + 1
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
         a.d_size AS size_a, b.d_size AS size_b
  FROM prefix a JOIN prefix b
    ON a.token = b.token AND a.doc_id < b.doc_id
  WHERE b.d_size >= CEIL({PPJ_T} * a.d_size)
    AND a.d_size >= CEIL({PPJ_T} * b.d_size)
),
inter AS (
  SELECT c.doc_id_a, c.doc_id_b, c.size_a, c.size_b,
         COUNT(*) AS n_inter
  FROM cand c
  JOIN toks ta ON ta.doc_id = c.doc_id_a
  JOIN toks tb ON tb.doc_id = c.doc_id_b AND tb.token = ta.token
  GROUP BY c.doc_id_a, c.doc_id_b, c.size_a, c.size_b
)
SELECT doc_id_a, doc_id_b,
       ROUND(n_inter * 1.0 / (size_a + size_b - n_inter), 6) AS jaccard
FROM inter
WHERE n_inter * 1.0 / (size_a + size_b - n_inter) >= {PPJ_T}
ORDER BY doc_id_a, doc_id_b
"""


@register(
    "dedup_jaccard_prefix",
    oracle=_PPJ_ORACLE,
    tags=("dedup", "llm", "join"),
)
def dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PPJoin-style exact Jaccard join: index only each document's
    PREFIX tokens (rarest-first global order; prefix length
    |d| - ceil(t|d|) + 1), join candidates on shared prefix tokens
    with the length filter t|a| <= |b|, then verify exact Jaccard.
    Provably complete for J >= t — the prefix-filtering principle —
    while the inverted index holds only the rare heads of each
    document instead of every token (contrast dedup_ngram_jaccard's
    full-postings index with a DF cap: that trades recall for skew
    control; this trades nothing).

    100 TB shape: token-frequency ranking is one agg + one broadcast-
    scale join on the vocab; the candidate join shuffles PREFIX
    postings only (skew-immune by construction — prefixes are rare
    tokens, so no hot posting lists); verification touches candidate
    pairs, never the corpus square."""
    docs = load_table(spark, sf_dir, "documents")
    # referenced 3x (document frequencies, the ranked prefix build,
    # and the verification arrays) — persist once, tokenize once.
    # No .distinct(): array_distinct already dedups tokens WITHIN each
    # doc, so the exploded (doc_id, token) pairs are unique by
    # construction — the former frame-wide distinct re-shuffled the
    # entire posting set through an extra Exchange+HashAggregate to
    # remove nothing (r17, guide §2.4: a distinct on already-unique
    # data is an accidental full shuffle). Postings now materialize
    # map-side straight from the scan.
    toks = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr("transform(split(trim(text), '\\\\s+'), x -> lower(x))")
            )
        ).alias("token"),
    ).persist()
    freq = toks.groupBy("token").agg(F.count("*").alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "token")
    # |d| rides the SAME doc_id window pass that ranks the tokens
    # (unordered count over the partition) — a per-doc sizes table
    # would be corpus-cardinality, so joining it back (let alone
    # broadcasting it) is exactly the shape that dies at 100 TB
    ranked = (
        toks.join(freq, "token")
        .withColumn("pos", F.row_number().over(w))
        .withColumn("d_size", F.count("*").over(Window.partitionBy("doc_id")))
    )
    prefix = ranked.filter(
        F.col("pos")
        <= F.col("d_size") - F.ceil(PPJ_T * F.col("d_size")).cast("int") + 1
    ).select("doc_id", "token", "d_size", "pos").persist()
    a = prefix.selectExpr(
        "token", "doc_id AS doc_id_a", "d_size AS size_a", "pos AS pos_a"
    )
    b = prefix.selectExpr(
        "token AS tok_b", "doc_id AS doc_id_b", "d_size AS size_b",
        "pos AS pos_b",
    )
    # PPJoin's positional upper bound (ubound): a token matched at
    # ranks (pos_a, pos_b) caps the achievable overlap at
    # min(pos_a-1, pos_b-1) shared tokens before it plus
    # min(size_a-pos_a+1, size_b-pos_b+1) at-or-after it. J >= t
    # requires overlap >= ceil(t/(1+t) * (|a|+|b|)), and a truly
    # qualifying pair satisfies the bound at EVERY shared token (the
    # bound always >= the true overlap), so dropping failing posting
    # rows before the distinct loses nothing while shrinking the
    # verification set at high-dup corpora.
    alpha = F.ceil(
        PPJ_T / (1.0 + PPJ_T) * (F.col("size_a") + F.col("size_b"))
    )
    ubound = F.least(F.col("pos_a") - 1, F.col("pos_b") - 1) + F.least(
        F.col("size_a") - F.col("pos_a") + 1,
        F.col("size_b") - F.col("pos_b") + 1,
    )
    cand = (
        a.join(
            b,
            (F.col("token") == F.col("tok_b"))
            & (F.col("doc_id_a") < F.col("doc_id_b"))
            & (F.col("size_b") >= F.ceil(PPJ_T * F.col("size_a")))
            & (F.col("size_a") >= F.ceil(PPJ_T * F.col("size_b")))
            & (ubound >= alpha),
        )
        .select("doc_id_a", "doc_id_b", "size_a", "size_b")
        .distinct()
    )
    # Verification carries each doc's token ARRAY to the candidate
    # pair and intersects JVM-side: vs the exploded alternative
    # (join candidates to per-token postings then count), this ships
    # one row per (pair, side) instead of one per (pair, token) and
    # drops the counting exchange entirely — same O(|a|+|b|) compare
    # per pair, two fewer corpus-width shuffles. PERSISTED (r18, the
    # minhash-verify fix applied here too): toks is not partitioned on
    # doc_id, so each of the two verify joins otherwise rebuilds the
    # whole collect_list aggregate behind its own doc_id exchange (the
    # r17 after-plan carried the build twice); caching the doc-count-
    # sized array table pays it once.
    arrs = toks.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("token")).alias("toks")
    ).persist()
    inter = (
        cand.join(
            arrs.selectExpr("doc_id AS doc_id_a", "toks AS toks_a"), "doc_id_a"
        )
        .join(
            arrs.selectExpr("doc_id AS doc_id_b", "toks AS toks_b"), "doc_id_b"
        )
        .select(
            "doc_id_a",
            "doc_id_b",
            "size_a",
            "size_b",
            F.size(F.array_intersect("toks_a", "toks_b")).alias("n_inter"),
        )
    )
    jac = F.col("n_inter") / (F.col("size_a") + F.col("size_b") - F.col("n_inter"))
    return (
        inter.filter(jac >= PPJ_T)
        .select(
            "doc_id_a",
            "doc_id_b",
            F.round(jac, 6).alias("jaccard"),
        )
        .orderBy("doc_id_a", "doc_id_b")
    )


# ---------------------------------------------------------------------------
# 12. Persistent MinHash band index (the text-dedup mirror of the IVF
# vector index store: build once offline, probe every incoming batch).
# ---------------------------------------------------------------------------
# dedup_incremental_ingest recomputes corpus signatures per run; at
# 100 TB the corpus side must be a PRE-BUILT index on disk that probes
# read but never recompute. Build materializes the corpus band
# postings partitioned by band_id and row-group-sorted by band_key (so
# a probe's band-key equi-join prunes at the footer level); probe
# signatures ONLY the incoming batch, joins it against the store, and
# exact-verifies candidates with shingle Jaccard.
# Corpus/batch split for the index family: a MODULUS rule (batch =
# one doc_id bucket in INGEST_BUCKETS), NOT the fixed doc_id < 250
# threshold the SimHash ingest demo uses — a fixed threshold inverts
# the production ratio as the fixture grows (at sf0.1 it would make
# the "corpus" 250 docs and the "batch" 4750, probing 19x the index's
# own content). The modulus keeps corpus ~90% / batch ~10% at every
# scale factor, which is the shape an incremental ingest actually has.
INGEST_BUCKETS = 10
INGEST_BATCH_BUCKET = 7
_IS_BATCH_SQL = f"(doc_id % {INGEST_BUCKETS}) = {INGEST_BATCH_BUCKET}"

@built_from("documents")
def build_minhash_index(spark: SparkSession, sf_dir: str) -> str:
    """Write the corpus (the non-batch doc_id buckets) band postings
    to parquet once per SparkContext and ``documents`` listing
    (``catalog.built_from``); returns the root.

    100 TB shape: one corpus scan -> signature agg -> 4 rows/doc to a
    partitioned sink. The pay-once cost every later probe amortizes —
    and the batch never touches corpus text until verification."""
    from golang_etl_spark.operators.layout import _layout_dir

    root = _layout_dir("minhash_index", sf_dir)
    posting = _shingle_posting(spark, sf_dir).filter(
        ~F.expr(_IS_BATCH_SQL)
    )
    _write_bands(minhash_bands(posting), root, "overwrite")
    return root


def _write_bands(bands: DataFrame, root: str, mode: str) -> None:
    """Write band rows in the index layout: partitioned by band_id,
    row groups sorted by band_key."""
    (
        bands.repartition("band_id")
        .sortWithinPartitions("band_key")
        .write.mode(mode)
        .partitionBy("band_id")
        .parquet(root)
    )


@built_from("documents")
def build_minhash_corpus_postings(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the CORPUS shingle posting (doc_id, shingle) to
    parquet once per SparkContext and ``documents`` listing, alongside
    the band index.

    The probe needs corpus shingles to exact-verify candidates; a
    per-probe ``persist()`` of that posting accumulates cached
    partitions when the probe runs inside a streaming ``foreachBatch``
    (one leak per micro-batch). Building it once as a file store makes
    every probe a plain parquet read — the same pay-once contract as
    the band index itself."""
    from golang_etl_spark.operators.layout import _layout_dir

    root = _layout_dir("minhash_corpus_postings", sf_dir)
    (
        _shingle_posting(spark, sf_dir)
        .filter(~F.expr(_IS_BATCH_SQL))
        .select("doc_id", "shingle")
        .write.mode("overwrite")
        .parquet(root)
    )
    return root


_INDEX_BUILD_ORACLE = "\nWITH \n" + _minhash_bands_duck(f" WHERE NOT {_IS_BATCH_SQL}") + """
SELECT CAST(band_id AS INT) AS band_id,
       CAST(COUNT(*) AS BIGINT) AS n_postings,
       CAST(COUNT(DISTINCT band_key) AS BIGINT) AS n_keys,
       MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
FROM bands GROUP BY band_id
"""


@register(
    "dedup_index_build",
    oracle=_INDEX_BUILD_ORACLE,
    tags=("dedup", "llm", "sink", "layout"),
)
def dedup_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the persistent MinHash band index, read the FILES back,
    and inventory each band partition. The oracle recomputes the
    postings from raw text, so a green hash proves the materialized
    index is exactly the signature table — the layout loses nothing."""
    root = build_minhash_index(spark, sf_dir)
    idx = spark.read.parquet(root)
    return idx.groupBy(F.col("band_id").cast("int").alias("band_id")).agg(
        F.count("*").alias("n_postings"),
        F.countDistinct("band_key").alias("n_keys"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


# The probe's sh CTE has always read "documents )"; the space is kept so
# the rendered oracle stays byte-identical.
_INDEX_PROBE_ORACLE = "\nWITH \n" + _minhash_bands_duck(" ") + f""",
cand AS (
  SELECT DISTINCT a.doc_id AS batch_doc, b.doc_id AS corpus_doc
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_key = b.band_key
  WHERE (a.doc_id % {INGEST_BUCKETS}) = {INGEST_BATCH_BUCKET}
    AND NOT ((b.doc_id % {INGEST_BUCKETS}) = {INGEST_BATCH_BUCKET})
)
SELECT c.batch_doc, c.corpus_doc,
       ROUND(len(list_intersect(sa.shingles, sb.shingles)) * 1.0
             / len(list_distinct(sa.shingles || sb.shingles)), 6) AS jaccard
FROM cand c
JOIN sh sa ON sa.doc_id = c.batch_doc
JOIN sh sb ON sb.doc_id = c.corpus_doc
WHERE len(list_intersect(sa.shingles, sb.shingles)) * 1.0
      / len(list_distinct(sa.shingles || sb.shingles)) >= {JACCARD_MIN}
"""


@register(
    "dedup_index_probe",
    oracle=_INDEX_PROBE_ORACLE,
    tags=("dedup", "llm", "layout"),
)
def dedup_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe the persisted index with the incoming batch (the batch
    doc_id bucket): signature the BATCH only, equi-join its band keys
    against the store, exact-verify candidates with shingle Jaccard.
    Corpus text is touched only for verification of matched ids —
    the corpus signature pipeline never reruns (plan-gated:
    tests/test_plans.py asserts the probe reads the index files).

    100 TB shape: probe cost is O(batch signatures) + O(candidate
    verifications); the index join shuffles batch band keys against a
    band-partitioned, key-sorted store."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.expr(_IS_BATCH_SQL)
    )
    return probe_minhash_index(spark, docs, sf_dir)


def _posting_from_docs(docs: DataFrame) -> DataFrame:
    """(doc_id, text) → exploded (doc_id, shingle) posting — shared by
    the index probe and the incremental ingest."""
    return _shingle_sets(docs).select(
        "doc_id", F.explode_outer("shingles").alias("shingle")
    )


def ingest_into_minhash_index(
    spark: SparkSession, new_docs: DataFrame, sf_dir: str
) -> int:
    """The WRITE half of the incremental-dedup loop: append new
    documents' band postings and shingle postings into the persisted
    stores, so every later probe sees them as corpus. Typical pipeline
    per arriving batch: probe → route near-dup matches away → ingest
    the survivors.

    O(batch): only the new docs are signatured; the append lands new
    files in the band-partitioned layout without touching existing
    ones (same discipline as similarity_index_incremental). Docs whose
    ids are already in the store are skipped (anti-join against the
    store's doc_id set — an index-metadata-sized read), making a
    retried ingest idempotent; a 100 TB deployment would instead key
    ingest batches like the foreachBatch parquet sink keys batch ids.
    The two stores are appended non-atomically, so idempotence is
    keyed PER STORE: each append anti-joins against its own store's
    doc_ids, not a single shared marker. A crash between the writes
    leaves a doc posting-only; the retry then fills in exactly the
    missing band rows (and vice versa) without ever duplicating rows
    in either store — the loop converges to both stores complete.
    Returns the number of documents newly completed (docs that were
    missing from the band store, which is written last and therefore
    marks a finished ingest)."""
    root = build_minhash_index(spark, sf_dir)
    posting_root = build_minhash_corpus_postings(spark, sf_dir)
    in_bands = spark.read.parquet(root).select("doc_id").distinct()
    in_postings = spark.read.parquet(posting_root).select("doc_id").distinct()
    fresh_bands = new_docs.join(in_bands, "doc_id", "left_anti")
    n_new = fresh_bands.count()  # before the store mutates under the plan
    fresh_postings = new_docs.join(in_postings, "doc_id", "left_anti")
    # posting store FIRST: probing a band-indexed doc with no postings
    # silently drops its candidates (the inner join on sizes_b), while
    # a posting-only doc is merely invisible until the retry lands its
    # band rows.
    _posting_from_docs(fresh_postings).select("doc_id", "shingle").write.mode(
        "append"
    ).parquet(posting_root)
    _write_bands(minhash_bands(_posting_from_docs(fresh_bands)), root, "append")
    return n_new


def incremental_dedup_pipeline(
    spark: SparkSession, batch_docs: DataFrame, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """One arriving batch through the WHOLE incremental-dedup loop:
    probe the persisted index, route matched near-dups out, ingest the
    clean survivors — so the NEXT batch dedups against everything that
    came before, corpus and prior batches alike. Returns
    (clean_docs, matches); the caller sinks the clean side and reports
    the matches (dead-letter discipline, etl_deadletter_routing).

    The probe plan is evaluated twice (match report + the anti-join
    feeding ingest) — batch-sized both times; a caller with a heavy
    batch can persist batch_docs around the call, per the probe's
    cache-free contract. The clean side is eagerly localCheckpointed
    (batch-sized) BEFORE ingest: its lazy plan reads the store this
    function is about to mutate, and a post-ingest re-evaluation
    would otherwise see its own docs as duplicates.

    RETRY-SAFE: the store side is anti-joined against the batch's own
    doc_ids before probing, so probe→route is deterministic whether or
    not this batch's ingest already landed. Without that, a micro-batch
    retried after its ingest (stream restart between ingest and sink
    commit) would see its own docs in the store — every doc self-
    matches at jaccard 1.0, the clean set re-runs empty, and the batch
    silently vanishes from the clean corpus."""
    batch_ids = batch_docs.select("doc_id").distinct()
    matches = probe_minhash_index(
        spark, batch_docs, sf_dir, exclude_ids=batch_ids
    )
    dup_ids = matches.select(F.col("batch_doc").alias("doc_id")).distinct()
    clean = batch_docs.join(dup_ids, "doc_id", "left_anti").localCheckpoint()
    ingest_into_minhash_index(spark, clean, sf_dir)
    return clean, matches


def probe_minhash_index(
    spark: SparkSession,
    batch_docs: DataFrame,
    sf_dir: str,
    exclude_ids: DataFrame | None = None,
) -> DataFrame:
    """Probe the persisted index with ANY (doc_id, text) batch — the
    batch side is signatured from the DataFrame itself (a micro-batch
    in the streaming variant), the corpus side comes from the two file
    stores (band index + corpus shingle postings).

    ``exclude_ids`` (a (doc_id) DataFrame, typically the batch's own
    ids) is anti-joined off the STORE side — both band index and
    postings — before probing. The incremental loop passes it so a
    retried batch whose ingest already landed doesn't self-match at
    jaccard 1.0; batch-sized, so the anti-join is a cheap semi-shuffle
    (broadcast under AQE for any realistic micro-batch).

    Deliberately CACHE-FREE: this runs inside streaming foreachBatch,
    where a per-call persist() accumulates cached partitions for the
    stream's lifetime. The corpus side reads the pay-once parquet
    stores; the batch side re-derives its shingle explode per plan
    branch — batch-sized work, cheaper than a leak. A caller with a
    large batch can persist batch_docs around the terminal action."""
    root = build_minhash_index(spark, sf_dir)
    posting_root = build_minhash_corpus_postings(spark, sf_dir)
    batch_posting = _posting_from_docs(batch_docs)
    batch_bands = minhash_bands(batch_posting).selectExpr(
        "doc_id AS batch_doc", "band_id", "band_key"
    )
    idx = spark.read.parquet(root).selectExpr(
        "doc_id AS corpus_doc",
        "cast(band_id AS int) AS i_band_id",
        "band_key AS i_band_key",
    )
    corpus_posting = spark.read.parquet(posting_root)
    if exclude_ids is not None:
        excl = exclude_ids.select("doc_id").distinct()
        idx = idx.join(
            excl.selectExpr("doc_id AS corpus_doc"), "corpus_doc", "left_anti"
        )
        corpus_posting = corpus_posting.join(excl, "doc_id", "left_anti")
    cand = (
        batch_bands.join(
            idx,
            (F.col("band_id") == F.col("i_band_id"))
            & (F.col("band_key") == F.col("i_band_key")),
        )
        .select("batch_doc", "corpus_doc")
        .distinct()
    )
    # only the candidates' corpus documents are gathered into arrays,
    # so a probe costs O(candidates), not O(corpus)
    corpus_posting = corpus_posting.join(
        cand.select(F.col("corpus_doc").alias("doc_id")), "doc_id", "left_semi"
    )
    return jaccard_verify(
        cand, _shingle_arrays(batch_posting), _shingle_arrays(corpus_posting)
    )


# ---------------------------------------------------------------------------
# 13. Winnowing fingerprints (the MOSS selection rule).
# ---------------------------------------------------------------------------
# text_fingerprint hashes every k-gram; winnowing SELECTS a guaranteed
# -coverage subset: in every window of WINNOW_W consecutive k-gram
# hashes keep the minimum (tie -> leftmost position). Any shared
# substring of length >= W + K - 1 then shares a selected fingerprint
# — the document-fingerprinting standard for plagiarism/overlap
# detection at a fraction of the full hash set's size.
WINNOW_K = 3  # k-gram (word shingle) length — reuses the dedup shingles
WINNOW_W = 4  # winnowing window (hashes per window)

# Spark picks the per-window argmin natively with min(struct(h, pos));
# DuckDB lacks struct-ordered window MIN, so the same total order is
# encoded into one HUGEINT key h * 2^20 + pos (h is 60-bit, pos <
# 2^20 per doc) and decoded after the window MIN — identical
# (h ASC, pos ASC) semantics, different carrier.
#
# RAW k-gram sequence, deliberately NOT the dedup shingle arrays:
# winnowing is positional (window i covers textual positions
# i..i+W-1), so repeated k-grams must keep their places — and the
# dedup arrays' array_distinct/list_distinct don't even agree on
# element order across engines.
_RAW_SHINGLES_SPARK = (
    "CASE WHEN size(w) >= 3 THEN transform(sequence(1, size(w) - 2), "
    "i -> concat_ws(' ', element_at(w, i), element_at(w, i+1), element_at(w, i+2))) "
    "ELSE array(concat_ws(' ', w)) END"
)
_RAW_SHINGLES_DUCK = (
    "CASE WHEN len(w) >= 3 THEN list_transform(range(1, len(w) - 1), "
    "i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) "
    "ELSE [array_to_string(w, ' ')] END"
)

_WINNOW_ORACLE = f"""
WITH sh AS (
  SELECT doc_id, {_RAW_SHINGLES_DUCK} AS shingles
  FROM (SELECT doc_id, {_WORDS_DUCK} AS w FROM documents)
),
hashed AS (
  SELECT doc_id, t.i AS pos,
         ('0x' || substr(md5(shingles[t.i]), 1, 15))::BIGINT AS h
  FROM sh, UNNEST(generate_series(1, len(shingles))) AS t(i)
),
win AS (
  SELECT doc_id,
         MIN(h::HUGEINT * 1048576 + pos) OVER (
           PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN {WINNOW_W - 1} PRECEDING AND CURRENT ROW) AS selkey,
         COUNT(*) OVER (
           PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN {WINNOW_W - 1} PRECEDING AND CURRENT ROW) AS cnt
  FROM hashed
)
SELECT DISTINCT doc_id,
       CAST(selkey % 1048576 AS BIGINT) AS pos,
       CAST(selkey // 1048576 AS BIGINT) AS fingerprint
FROM win WHERE cnt = {WINNOW_W}
"""


@register(
    "dedup_winnowing_fingerprints",
    oracle=_WINNOW_ORACLE,
    tags=("dedup", "llm", "text"),
)
def dedup_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowed fingerprint set per document: the per-window argmin of
    k-gram hashes (h ASC, pos ASC), deduplicated — ~2/(W+1) of the
    full hash set with guaranteed detection of any match of length
    >= W + K - 1. Documents shorter than one window emit nothing (the
    guarantee needs a full window).

    100 TB shape: hashing is a map-side Generate; the selection is ONE
    window per doc over its own hash sequence (partitioned on doc_id —
    thousands of concurrent partitions, no corpus-wide order); the
    fingerprint index this feeds joins like any posting table."""
    docs = load_table(spark, sf_dir, "documents").repartition(
        _pin_partitions(spark), "doc_id"
    )
    hashed = (
        docs.selectExpr("doc_id", f"{_WORDS_SPARK} AS w")
        .selectExpr("doc_id", f"{_RAW_SHINGLES_SPARK} AS shingles")
        .select(
            "doc_id",
            F.posexplode_outer("shingles").alias("pos0", "shingle"),
        )
        .selectExpr(
            "doc_id",
            "pos0 + 1 AS pos",
            "cast(conv(substr(md5(shingle), 1, 15), 16, 10) AS bigint) AS h",
        )
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-(WINNOW_W - 1), Window.currentRow)
    )
    win = hashed.select(
        "doc_id",
        F.min(F.struct(F.col("h"), F.col("pos"))).over(w).alias("sel"),
        F.count("*").over(w).alias("cnt"),
    )
    return (
        win.filter(F.col("cnt") == WINNOW_W)
        .select(
            "doc_id",
            F.col("sel.pos").cast("long").alias("pos"),
            F.col("sel.h").alias("fingerprint"),
        )
        .distinct()
    )


# ---------------------------------------------------------------------------
# 14. Winnow-overlap pairs (fingerprint selection -> detector).
# ---------------------------------------------------------------------------
# The consumer of the winnowed set: documents sharing >=
# WINNOW_MIN_SHARED distinct selected fingerprints. Because winnowing
# guarantees every match of length >= W+K-1 contributes a shared
# fingerprint, this finds substantial copied passages at ~2/(W+1) of
# exact_substring's index volume. Hot fingerprints (boilerplate) are
# DF-capped like the n-gram index — the same skew control.
WINNOW_MIN_SHARED = 5

_WINNOW_OVERLAP_ORACLE = f"""
WITH sel AS ({_WINNOW_ORACLE}),
fps AS (SELECT DISTINCT doc_id, fingerprint FROM sel),
rare AS (
  SELECT fingerprint FROM fps
  GROUP BY fingerprint HAVING COUNT(*) <= {DF_CAP}
),
pairs AS (
  SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
         CAST(COUNT(*) AS BIGINT) AS shared_fp
  FROM fps a
  JOIN rare r ON a.fingerprint = r.fingerprint
  JOIN fps b ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_id_a, doc_id_b, shared_fp
FROM pairs WHERE shared_fp >= {WINNOW_MIN_SHARED}
"""


@register(
    "dedup_winnow_overlap",
    oracle=_WINNOW_OVERLAP_ORACLE,
    tags=("dedup", "llm", "join"),
)
def dedup_winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document pairs sharing >= WINNOW_MIN_SHARED distinct winnowed
    fingerprints — the overlap detector built on the MOSS selection.
    One self-join over the (small) fingerprint posting list, DF-capped
    against boilerplate fingerprints; candidate volume is
    O(shared-fingerprint pairs), never the corpus square."""
    fps = (
        dedup_winnowing_fingerprints(spark, sf_dir)
        .select("doc_id", "fingerprint")
        .distinct()
        .persist()
    )
    rare = (
        fps.groupBy("fingerprint")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= DF_CAP)
        .select("fingerprint")
    )
    a = fps.selectExpr("doc_id AS doc_id_a", "fingerprint")
    b = fps.selectExpr("doc_id AS doc_id_b", "fingerprint AS fp_b")
    return (
        a.join(rare, "fingerprint")
        .join(
            b,
            (F.col("fingerprint") == F.col("fp_b"))
            & (F.col("doc_id_a") < F.col("doc_id_b")),
        )
        .groupBy("doc_id_a", "doc_id_b")
        .agg(F.count("*").alias("shared_fp"))
        .filter(F.col("shared_fp") >= WINNOW_MIN_SHARED)
    )
