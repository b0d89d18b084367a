"""Canary over the driver contract: runs the CORE queries at
$SPARK_GRAFT_SF_DIR (default sf0.1) on local[$SPARK_GRAFT_CPUS], each
once to warm (plan compile, codegen) and once timed by ``df.count()``,
then prints ONE JSON line as the last line on stdout:

    {"metric": "core_query_wall_clock_total", "value": total_sec,
     "unit": "sec", "sf": ..., "cpus": ..., "master": ...,
     "queries": {core name: sec}}

It shows that the contract's queries still build and run end to end.
Its total is one sample per query with no spread, so it is not
evidence of a performance change: perfbench/ is the benchmark of
record.
"""

from __future__ import annotations

import json
import os
import re
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# One or more queries per operator family: relational core, ETL, every
# dedup variant, similarity, text, as-of, sessionization, multimodal,
# pandas UDF, sketch, streaming and the curation pipelines.
CORE = """
    agg_pricing_summary join_revenue_by_segment join_star_schema
    window_running_sum topk_orders_per_segment agg_cube
    etl_chunked_scan_reassembly dedup_exact_text dedup_minhash_lsh
    dedup_simhash dedup_ngram_jaccard dedup_embedding_cosine
    dedup_cluster_cc text_tfidf_top_terms similarity_topk_bruteforce
    similarity_ann_lsh similarity_ivf_topk pipeline_corpus_curation
    text_quality_stats text_langid asof_join_purchase_click
    sessionize_events multimodal_decode_features
    applyinpandas_rank_orders sketch_approx_distinct
    streaming_tumbling_counts sql_revenue_by_nation sql_market_share
    join_skew_salted sample_split_hash timeseries_gapfill
    pipeline_training_export
""".split()


def main() -> None:
    from golang_etl_spark.registry import queries
    from golang_etl_spark.session import get_spark

    spark = get_spark(app_name="golang_etl_spark_bench")
    contract = queries()
    timings: dict[str, float] = {}
    for name in CORE:
        contract[name](spark, SF_DIR).count()  # warm
        t0 = time.perf_counter()
        contract[name](spark, SF_DIR).count()
        timings[name] = round(time.perf_counter() - t0, 4)
    master = spark.sparkContext.master
    cpus = spark.sparkContext.defaultParallelism
    # Stop first so no teardown output lands after the metric line.
    spark.stop()

    m = re.search(r"sf([\d.]+)", SF_DIR)
    line = {
        "metric": "core_query_wall_clock_total",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "sf": float(m.group(1).rstrip(".")) if m else -1.0,
        "cpus": cpus,
        "master": master,
        "queries": timings,
    }
    print(json.dumps(line), flush=True)


if __name__ == "__main__":
    main()
