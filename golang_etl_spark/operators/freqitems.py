"""Distributed heavy hitters: two-pass exact frequent-token mining.

No reference counterpart (SURVEY.md §2.5 — the reference has no
aggregation surface at all); LLM-pipeline extension. Finding the
tokens that exceed a frequency share of the corpus (boilerplate
markers, stop-phrase candidates, tokenizer-vocabulary seeds) with a
plain groupBy is fine until the token-type count itself is too large
to shuffle comfortably; the classical fix is candidate compression
before the exchange.

Pass 1 runs Misra–Gries(k) INSIDE each partition via mapInPandas —
bounded memory (k counters), no shuffle, Arrow-batched. The union of
per-partition survivors is a PROVEN superset of every global heavy
hitter: if an item's count were below N_p/k in every partition p,
summing gives a global count below N/k. Pass 2 recounts ONLY the
candidate tokens exactly (semi-join against the token stream, then a
hash aggregate over the surviving sliver) and filters to the true
threshold — so the output is exact and deterministic even though the
pass-1 summaries depend on partitioning, and the full-vocabulary
shuffle never happens.

100 TB shape: pass 1 is map-side only and emits at most
k × n_partitions candidate rows; pass 2's broadcast candidate filter
prunes the recount to tokens that can qualify. The oracle is the
direct one-pass SQL (GROUP BY + HAVING count >= N/k) — DuckDB proves
the two-pass compression loses nothing.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from golang_etl_spark.operators.text import (
    _words_expr_duck,
    _words_expr_spark,
)
from golang_etl_spark.registry import register
from golang_etl_spark.sources.catalog import load_table

# heavy-hitter threshold: tokens with count >= N_tokens / HH_K.
# k=400 keeps per-partition state tiny while the fixture corpus still
# yields a stable multi-row result at every SF.
HH_K = 400


def _misra_gries_partition(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Misra–Gries(k) over one partition's token stream: keep at most
    HH_K counters; on overflow decrement all (implemented batched via
    pandas value_counts for Arrow-friendly throughput). Emits the
    surviving candidate tokens. Decremented counts underestimate, but
    survival is all pass 2 needs."""
    counters: dict[str, int] = {}
    for pdf in batches:
        for token, cnt in pdf["token"].value_counts().items():
            counters[token] = counters.get(token, 0) + int(cnt)
        if len(counters) > HH_K:
            # batched decrement, once per Arrow batch: subtract cut =
            # the (len-k-1)-th smallest count from every counter and
            # drop the non-positive. The k+1 counters >= cut each lose
            # the full cut, so every prune removes >= (k+1)*cut mass —
            # the classical MG accounting (any item's total loss
            # <= N_p/(k+1)) holds, just applied in steps of cut
            # instead of 1. Peak state is k + one batch's vocabulary.
            cut = sorted(counters.values())[len(counters) - HH_K - 1]
            counters = {
                t: c - cut for t, c in counters.items() if c > cut
            }
    yield pd.DataFrame(
        {"token": pd.Series(list(counters.keys()), dtype="object")}
    )


_HH_ORACLE = f"""
WITH toks AS (
  SELECT unnest({_words_expr_duck()}) AS token FROM documents
),
tot AS (SELECT COUNT(*) AS n FROM toks)
SELECT token, CAST(COUNT(*) AS BIGINT) AS n_occurrences
FROM toks, tot
GROUP BY token, tot.n
HAVING COUNT(*) >= CAST(tot.n AS DOUBLE) / {HH_K}
"""


@register(
    "text_heavy_hitters_twopass",
    oracle=_HH_ORACLE,
    tags=("text", "sketch", "llm"),
)
def text_heavy_hitters_twopass(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact tokens with count >= N/HH_K: partition-local Misra–Gries
    candidate compression (map-side, bounded memory, provable heavy-
    hitter superset), then an exact recount of candidates only."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.expr(_words_expr_spark())).alias("token"))

    candidates = toks.mapInPandas(
        _misra_gries_partition, schema="token string"
    ).distinct()

    # one scalar: the qualification threshold N/k (bounded collect)
    n_total = toks.count()
    threshold = float(n_total) / HH_K

    # pass 2: recount ONLY candidate tokens. The candidate set is
    # <= k x n_partitions distinct tokens by construction — broadcast-
    # sized for any sane partition count (400 x 10k partitions x ~20 B
    # is tens of MB). If a deployment's partition count pushes past
    # that, coalesce pass 1's input (fewer, larger sweeps) or drop the
    # hint and let the semi join shuffle — correctness is unaffected.
    return (
        toks.join(F.broadcast(candidates), "token", "left_semi")
        .groupBy("token")
        .agg(F.count("*").alias("n_occurrences"))
        .filter(F.col("n_occurrences") >= F.lit(threshold))
    )
