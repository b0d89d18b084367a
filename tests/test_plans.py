"""Physical-plan quality gates — the 100 TB design assertions.

Correctness tests prove the small-SF answer; these prove the *plan*
is the one that survives a 1000-executor cluster: filters reach the
parquet scan (PushedFilters), projections prune columns (ReadSchema),
dimension joins broadcast, and no operator degenerates into a
cartesian / broadcast-nested-loop join.
"""

import re

import pytest

from golang_etl_spark.registry import all_queries

SF = None  # filled from fixture


def _plan(spark, sf_dir, name: str) -> str:
    df = all_queries()[name].fn(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "filter_project")
    assert "PushedFilters" in plan
    # both predicates pushed, not just one
    assert "l_shipdate" in plan.split("PushedFilters")[1][:300]
    assert "l_quantity" in plan.split("PushedFilters")[1][:300]


def test_projection_prunes_scan_columns(spark, sf_dir):
    plan = _plan(spark, sf_dir, "filter_project")
    read_schema = plan.split("ReadSchema")[1][:400]
    # 11-column table, 6-column read: pruned columns must be absent
    assert "l_returnflag" not in read_schema
    assert "l_tax" not in read_schema


def test_range_scan_pushdown(spark, sf_dir):
    # the ETL chunk predicate (pk >= lo AND pk < hi) must push down —
    # the parity property of the reference's server-side WHERE
    # (/root/reference/extractor.go:63)
    plan = _plan(spark, sf_dir, "etl_range_scan")
    pushed = plan.split("PushedFilters")[1][:300]
    assert "GreaterThanOrEqual(l_orderkey,1000" in pushed
    assert "LessThan(l_orderkey,3000" in pushed


def test_dimension_joins_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "join_revenue_by_segment")
    assert "BroadcastHashJoin" in plan
    # the fact-side shuffle is allowed; a SortMergeJoin against the
    # tiny customer dim would mean the broadcast hint was lost
    assert "BroadcastNestedLoopJoin" not in plan


@pytest.mark.parametrize(
    "name",
    [
        "dedup_minhash_lsh",
        "dedup_simhash",
        "dedup_ngram_jaccard",
        "dedup_embedding_cosine",
        "dedup_contamination_check",
        "similarity_ann_lsh",
        "asof_join_purchase_click",
        "range_join_bucketed",
        "sessionize_events",
        "dedup_index_probe",
        "dedup_jaccard_prefix",
    ],
)
def test_no_cartesian_or_bnlj_anywhere(spark, sf_dir, name):
    # every fuzzy-dedup / similarity / asof operator must generate
    # candidates through bucket equi-joins — a CartesianProduct or
    # BroadcastNestedLoopJoin in the plan means O(n^2) at scale
    plan = _plan(spark, sf_dir, name)
    assert "CartesianProduct" not in plan, f"{name} degenerated to cartesian"
    assert "BroadcastNestedLoopJoin" not in plan, f"{name} degenerated to BNLJ"


@pytest.mark.parametrize("name", ["dedup_minhash_lsh", "dedup_simhash"])
def test_dedup_aggregates_stay_hash_based(spark, sf_dir, name):
    # the signature aggregations MIN over numeric 60-bit hashes / SUM
    # over int bit-votes so Spark keeps them in HashAggregate with
    # map-side partial aggregation. Round 1 shipped string MINs, which
    # fall back to SortAggregate (immutable agg buffers: exchange +
    # sort per replication) — that was 99% of the bench wall time.
    plan = _plan(spark, sf_dir, name)
    assert "SortAggregate" not in plan, f"{name} fell back to SortAggregate"
    assert "HashAggregate" in plan


@pytest.mark.parametrize(
    "name",
    ["dedup_minhash_lsh", "dedup_simhash", "dedup_ngram_jaccard",
     "dedup_embedding_cosine", "dedup_contamination_check"],
)
def test_dedup_selfjoin_subtrees_cached(spark, sf_dir, name):
    # the candidate self-join references its build subtree from both
    # sides; without persist() each reference re-computes the whole
    # shingle/signature pipeline (round 1: 4x recompute in MinHash).
    # A cached subtree appears as InMemoryTableScan in the plan.
    plan = _plan(spark, sf_dir, name)
    assert "InMemoryTableScan" in plan, f"{name} self-join subtree not cached"


def test_ivf_assignment_partial_aggregates(spark, sf_dir):
    # IVF cell assignment is a struct-max: SortAggregate is expected
    # (struct buffers can't live in HashAggregate) and acceptable ONLY
    # because partial_max reduces the 16 rows/vector map-side — the
    # exchange must carry one row per vector. WindowGroupLimit proves
    # the top-k windows also pre-reduce before their shuffles.
    plan = _plan(spark, sf_dir, "similarity_ivf_topk")
    assert "partial_max(struct" in plan, "map-side partial aggregation lost"
    assert "WindowGroupLimit" in plan, "top-k window limit not pushed down"


def test_curation_pipeline_single_exchange(spark, sf_dir):
    # quality gate + dedup window must compile to ONE exchange (the
    # md5 hash partitioning for the dedup window); the quality signals
    # are narrow projections over the scan
    plan = _plan(spark, sf_dir, "pipeline_corpus_curation")
    assert plan.count("Exchange") == 1


def test_whole_stage_codegen_active(spark, sf_dir):
    # scalar pipelines must stay inside codegen (JVM), not fall back
    # to interpreted row-at-a-time evaluation. In compact plan strings
    # the codegen span marker is the "*(n)" stage prefix. (Queries
    # built on higher-order lambdas — e.g. text_quality_stats — are
    # legitimately non-codegen: Spark evaluates HigherOrderFunctions
    # interpreted, still JVM-side.)
    plan = _plan(spark, sf_dir, "filter_project")
    assert "*(1)" in plan


def test_similarity_bruteforce_broadcasts_queries(spark, sf_dir):
    # the tiny query set must broadcast; the big vector side must NOT
    # shuffle for the join
    plan = _plan(spark, sf_dir, "similarity_topk_bruteforce")
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_maxsim_broadcasts_query_tokens(spark, sf_dir):
    # exact MaxSim is a deliberate broadcast nested-loop over the TINY
    # query-token side (|Q| x MAXSIM_TOKENS rows) — the corpus token
    # table must not shuffle for the scoring join; the two
    # aggregations after it must be hash-based with partials
    plan = _plan(spark, sf_dir, "similarity_maxsim_topk")
    assert "BroadcastExchange" in plan
    assert "partial_max" in plan, "per-token max lost its map-side partial"


def test_salted_join_is_shuffled_hash(spark, sf_dir):
    # the whole point of the salt is spreading the hot key across
    # reducers — a broadcast would silently bypass the demonstrated
    # fix, so the shuffle_hash hint must survive into the plan
    plan = _plan(spark, sf_dir, "join_skew_salted")
    assert "ShuffledHashJoin" in plan, "salted join lost its shuffle plan"
    assert "salt" in plan, "salt column missing from join keys"


def test_gapfill_single_event_scan(spark, sf_dir):
    # calendar bounds, the type set, and the left-join build side must
    # all read the persisted daily aggregate — three InMemoryTableScan
    # references, never a second full pass over events
    plan = _plan(spark, sf_dir, "timeseries_gapfill")
    assert plan.count("InMemoryTableScan") >= 3, (
        "gap-fill grid re-scans the event table instead of reusing "
        "the cached daily aggregate"
    )


def test_profile_exact_shape(spark, sf_dir):
    # r17: the exact profile dropped the fused multi-distinct (whose
    # Expand rewrite replicated the input 7x and whose string-buffered
    # aggregate forced a double SortAggregate sort of the expanded
    # stream) for ONE narrow stats pass + one single-distinct leg per
    # column. Gate the new shape: no Expand anywhere, exactly
    # len(cols)+1 column-pruned scans, and the distinct legs each read
    # ONE column (pruning reaches the parquet scan).
    plan = _plan(spark, sf_dir, "profile_orders")
    assert "Expand" not in plan
    assert plan.count("FileScan parquet") == 7
    import re

    # line-bounded: the plan stringifier truncates long ReadSchema
    # lines without a closing '>', and a multiline match would swallow
    # the next scan's schema
    schemas = re.findall(r"ReadSchema: struct<([^>\n]*)>", plan)
    single_col = [s for s in schemas if len(s.split(",")) == 1]
    assert len(single_col) >= 5, schemas


def test_cluster_cc_truncates_lineage(spark, sf_dir, monkeypatch):
    # each propagation round localCheckpoints its labels: the final
    # plan must read flat checkpointed RDDs, not replay the SimHash
    # pair-generation + N-round join lineage (which grows ~3^rounds
    # and once rendered a 2 GB plan string). The fixture's pair graph
    # is small enough for the driver union-find, so force the rounds.
    from golang_etl_spark.operators import clustering

    monkeypatch.setattr(clustering, "CC_LOCAL_EDGE_THRESHOLD", 0)
    plan = _plan(spark, sf_dir, "dedup_cluster_cc")
    assert "ExistingRDD" in plan, "labels not checkpointed"
    assert "md5" not in plan, "SimHash subtree leaked into final plan"
    assert len(plan) < 20_000, f"plan string blew up: {len(plan)} chars"


def test_cluster_cc_driver_labels_carry_no_lineage(spark, sf_dir):
    # the default path union-finds candidate-scale graphs on the
    # driver: its labels are a local relation, with nothing of the
    # SimHash pair generation left in the final plan
    plan = _plan(spark, sf_dir, "dedup_cluster_cc")
    assert "LocalTableScan" in plan
    assert "md5" not in plan, "SimHash subtree leaked into final plan"
    assert len(plan) < 20_000, f"plan string blew up: {len(plan)} chars"


def test_minhash_hashes_each_shingle_once(spark, sf_dir):
    # one md5 per shingle feeds all 16 min-hashes (it renders once per
    # side of the band self-join, both the same cached subtree), and
    # the verify arrays come from the per-document shingle sets, not
    # from regrouping the exploded posting
    import re

    plan = _plan(spark, sf_dir, "dedup_minhash_lsh")
    assert len(set(re.findall(r"md5\([^)]*\)", plan))) == 1, plan
    assert "collect_list" not in plan, plan


def test_partitioned_sink_prunes(spark, sf_dir):
    # the readback filter must prune partitions at planning time —
    # whole directories skipped, not row-filtered after a full scan
    plan = _plan(spark, sf_dir, "sink_partitioned_pruned")
    pruned = plan.split("PartitionFilters: [")[1][:120]
    assert "event_type" in pruned and "click" in pruned


def test_bucketed_join_is_exchange_free(spark, sf_dir):
    # both sides pre-bucketed on the join key: the SortMergeJoin must
    # consume the bucketed scans directly; the ONLY exchange allowed
    # in the whole plan is the final aggregation's
    plan = _plan(spark, sf_dir, "join_bucketed_colocated")
    assert "SortMergeJoin" in plan
    assert plan.count("Bucketed: true") == 2
    assert plan.count("Exchange") == 1, plan


def test_chunking_is_shuffle_free(spark, sf_dir):
    # chunk explosion is a pure per-row Generate: any Exchange means
    # the operator acquired a shuffle it doesn't need (at 100 TB the
    # chunker must stream map-side only)
    plan = _plan(spark, sf_dir, "text_chunk_documents")
    assert "Exchange" not in plan, plan
    assert "Generate" in plan


def test_language_quota_single_shuffle(spark, sf_dir):
    # quota sampling = one hash partition on lang for the window;
    # a second exchange would mean the rank filter re-shuffled
    plan = _plan(spark, sf_dir, "sample_language_quota")
    assert plan.count("Exchange") == 1, plan


def test_language_quota_partial_topk(spark, sf_dir):
    # scale gate: the rank filter must compile to a two-phase
    # WindowGroupLimit whose Partial pass prunes to <=K rows per lang
    # INSIDE each input partition, before the lang shuffle — at 100 TB
    # this is what keeps a whole language out of a single sort task
    plan = _plan(spark, sf_dir, "sample_language_quota")
    partial, exchange = plan.find("Partial"), plan.find("Exchange")
    assert "WindowGroupLimit" in plan, plan
    assert partial != -1 and exchange != -1
    # physical plans print top-down: the map-side (Partial) pass sits
    # BELOW the exchange, i.e. appears after it in the string
    assert partial > exchange, plan


def test_range_join_is_bucketed_equijoin(spark, sf_dir):
    # the inequality predicate must ride as a residual condition on a
    # bucket equi-join — a hash/merge join keyed on (user_id, bucket),
    # never an inequality-only join
    plan = _plan(spark, sf_dir, "range_join_bucketed")
    assert "bucket" in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )


def test_repetition_filter_is_shuffle_free(spark, sf_dir):
    # per-doc repetition metrics are pure array lambdas: the operator
    # must be a narrow projection over the scan — zero exchanges
    plan = _plan(spark, sf_dir, "text_repetition_filter")
    assert "Exchange" not in plan, plan


def test_pack_sequences_single_bucket_shuffle(spark, sf_dir):
    # packing = ONE hash partition on bucket for the running-sum
    # window; the running frame streams (no WindowGroupLimit/sort
    # beyond the per-bucket order), so the only exchange is the bucket
    # shuffle
    plan = _plan(spark, sf_dir, "text_pack_sequences")
    assert plan.count("Exchange") == 1, plan
    assert "RunningWindowFunction" in plan or "Window" in plan


def test_quantize_int8_is_shuffle_free(spark, sf_dir):
    # symmetric per-vector quantization is a pure array-lambda
    # projection: zero exchanges, runs at scan speed
    plan = _plan(spark, sf_dir, "similarity_quantize_int8")
    assert "Exchange" not in plan, plan


def test_temperature_mix_broadcasts_rates(spark, sf_dir):
    # the |langs|-row rate table must broadcast back onto the corpus
    # scan; a shuffled membership join would move the whole corpus for
    # a 5-row dimension
    plan = _plan(spark, sf_dir, "sample_temperature_mix")
    assert "BroadcastHashJoin" in plan, plan


def test_merge_upsert_no_degenerate_join(spark, sf_dir):
    # the anti-join must stay a hash join (broadcast at fixture scale,
    # SMJ at fact scale) — a BNLJ/cartesian would rescan the snapshot
    # per change row
    plan = _plan(spark, sf_dir, "etl_merge_upsert")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "Union" in plan


def test_normalize_is_shuffle_free(spark, sf_dir):
    # canonical normalization is a pure regexp projection
    plan = _plan(spark, sf_dir, "text_normalize")
    assert "Exchange" not in plan, plan


def test_zscore_window_input_is_preaggregated(spark, sf_dir):
    # the rolling window must consume the hourly aggregate (two
    # HashAggregates for the groupBy partial/final), never raw events:
    # exactly 2 exchanges — the groupBy's and the window's
    plan = _plan(spark, sf_dir, "timeseries_anomaly_zscore")
    assert plan.count("Exchange") <= 2, plan
    assert "HashAggregate" in plan


def test_pq_fixed_broadcasts_codewords_and_partial_encodes(spark, sf_dir):
    # the codeword table (M x K rows) and the per-query LUT broadcast;
    # encoding's argmin is a struct-min whose partial_min reduces the
    # K rows per (vector, subspace) map-side — the exchange carries one
    # row per (vector, subspace), not K. No cartesian anywhere.
    plan = _plan(spark, sf_dir, "similarity_pq_fixed")
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "partial_min(struct" in plan, "map-side partial encoding lost"
    assert "CartesianProduct" not in plan


def test_pii_redact_is_shuffle_free_scan(spark, sf_dir):
    # PII scrubbing must run at scan speed: a narrow per-row regex
    # projection with NO exchange anywhere in the plan
    plan = _plan(spark, sf_dir, "text_pii_redact")
    assert "Exchange" not in plan


def test_sequential_ids_broadcast_offsets_no_global_sort(spark, sf_dir):
    # the bucket-offset table must broadcast, and the only
    # single-partition exchange may carry the tiny per-bucket counts —
    # the big side must never funnel through one reducer (the failure
    # mode of a naive global ROW_NUMBER)
    plan = _plan(spark, sf_dir, "etl_assign_sequential_ids")
    assert "BroadcastHashJoin" in plan
    assert "partial_count" in plan, "per-bucket counts must map-side combine"
    # the big side shuffles on the bucket key, never to one reducer
    assert "Exchange hashpartitioning(chunk" in plan
    # exactly one SinglePartition exchange, and it must feed the tiny
    # per-bucket count window — its subtree aggregates before it (a
    # global-sort formulation would single-partition the raw docs)
    assert plan.count("Exchange SinglePartition") == 1
    after = plan.split("Exchange SinglePartition")[1]
    assert "HashAggregate(keys=[chunk" in after[:300]
    assert "rangepartitioning(doc_id" not in plan


def test_runtime_bloom_filter_available_at_scale(spark, sf_dir):
    # At fixture scale the dim side broadcasts, so Catalyst skips
    # runtime-filter injection (broadcast joins don't need it). At
    # 100 TB neither side broadcasts — this gate simulates that regime
    # (broadcast off, application-side size floor zeroed) and asserts
    # the session still lets Catalyst inject a bloom filter from the
    # selective dim filter into the fact scan: the semi-join reduction
    # that keeps shuffle volume proportional to matching rows.
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        o = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            "o_orderpriority = '1-URGENT'"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, "runtime bloom filter not injected"
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_approx_profile_has_no_expand(spark, sf_dir):
    """The HLL profile exists to avoid exact multi-distinct cost — and
    it must stay ONE pass (mergeable sketch buffers fused with every
    other aggregate, single scan). The exact twin is Expand-free too
    since r17, but via a different shape (split single-distinct legs,
    gated by test_profile_exact_shape); this gate pins that the approx
    side never regresses to Expand AND keeps its single-scan fusion,
    which the exact side deliberately gave up."""
    approx = _plan(spark, sf_dir, "profile_orders_approx")
    assert "Expand" not in approx
    assert approx.count("FileScan parquet") == 1


def test_bounded_profile_prunes_scan_to_its_two_columns(spark, sf_dir):
    """The exact-regime hash gate restricts the pipeline to two
    bounded-cardinality columns; the parquet scan must read ONLY
    those (ReadSchema pruning), stay Expand-free like its full-width
    twin, and keep the single-scan shape."""
    plan = _plan(spark, sf_dir, "profile_orders_approx_bounded")
    assert "Expand" not in plan
    assert plan.count("FileScan") == 1
    import re

    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    read_cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert read_cols == {"o_orderstatus", "o_orderpriority"}, read_cols


def test_rollup_hierarchy_single_scan_single_exchange(spark, sf_dir):
    """All four rollup granularities must come from ONE scan + ONE
    Expand + ONE aggregation exchange — the whole point vs running
    four aggregation jobs."""
    plan = _plan(spark, sf_dir, "timeseries_rollup_hierarchy")
    assert plan.count("FileScan") == 1
    assert plan.count("Expand") == 1
    assert plan.count("Exchange") == 1


def test_scd2_single_exchange(spark, sf_dir):
    """SCD2 interval assembly is one keyed window: exactly one
    exchange (on user_id), no joins."""
    plan = _plan(spark, sf_dir, "etl_scd2_intervals")
    assert plan.count("Exchange") == 1
    assert "Join" not in plan


def test_global_rank_avoids_single_reducer_sort(spark, sf_dir):
    """window_global_rank must range-partition the data and rank within
    partitions; the ONLY SinglePartition exchange allowed is the
    offsets window over #partitions rows (tiny). A naive global window
    would funnel every data row through one task."""
    plan = _plan(spark, sf_dir, "window_global_rank")
    assert "rangepartitioning" in plan, "missing range exchange on the key"
    assert plan.count("Exchange SinglePartition") == 1, plan.count(
        "Exchange SinglePartition"
    )
    # the single-partition subtree must sit above the per-partition
    # count aggregate, never above the raw scan
    single = plan.split("Exchange SinglePartition")[1]
    assert "count" in single[:600].lower()


def test_aqe_splits_skewed_join_partition(spark):
    """The session enables spark.sql.adaptive.skewJoin (session.py) but
    nothing proved AQE actually SPLITS a skewed partition at runtime —
    the difference between configured and working skew handling. A 90%
    hot-key join (thresholds lowered to fixture scale — production
    defaults are 256MB) must show SortMergeJoin(skew=true) and a
    'skewed' AQEShuffleRead in the FINAL adaptive plan.

    Note: the plan must be executed through the SAME QueryExecution
    being inspected (collect, not a write — writes clone the plan and
    leave this one isFinalPlan=false)."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "65536",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16384",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        left = spark.range(100_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(0))
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("pad"),
        )
        right = spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        j = left.join(right, "k")
        assert len(j.collect()) == 100_000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, "AQE did not split the skewed partition"
        assert "skewed" in plan.lower()
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_training_export_two_exchanges_one_scan(spark, sf_dir):
    # the composed pipeline (quality gate -> dedup -> tokens -> split
    # -> budget report) must stay at ONE corpus scan and exactly TWO
    # exchanges: the dedup window on md5(norm) and the final
    # partial-agg'd (split, lang) groupBy
    plan = _plan(spark, sf_dir, "pipeline_training_export")
    assert plan.count("FileScan") == 1
    assert plan.count("Exchange") == 2


def test_editdistance_join_blocks_on_equi_key(spark, sf_dir):
    # the Levenshtein verify must ride an equi-join on the block
    # prefix (Catalyst extracts blk=blk from the mixed condition);
    # a BNLJ/cartesian would mean the blocking key was lost and the
    # verify went all-pairs
    plan = _plan(spark, sf_dir, "dedup_editdistance_blocked")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or (
        "BroadcastHashJoin" in plan
    ), plan


def test_cooccurrence_broadcasts_dim_no_pair_matrix(spark, sf_dir):
    # part dim broadcasts into the fact scan; the pair expansion is an
    # equi self-join on l_orderkey (never a cartesian pair matrix) and
    # the top-20 is a TakeOrdered, not a global sort
    plan = _plan(spark, sf_dir, "agg_brand_cooccurrence")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_snapshot_diff_one_exchange_per_snapshot(spark, sf_dir):
    # full-outer reconciliation: each snapshot hashes once on the join
    # key, classification is map-side, and the 4-row agg is cheap —
    # exchange budget stays small (join sides + tiny agg/sort), with
    # no nested-loop fallback
    plan = _plan(spark, sf_dir, "etl_snapshot_diff")
    import re

    assert re.search(r"SortMergeJoin .*FullOuter", plan), plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert plan.count("Exchange") <= 6, plan


def test_funnel_fold_single_exchange(spark, sf_dir):
    # the ordered-funnel fold must aggregate each user's sequence with
    # ONE hash exchange (collect_list partial -> final) plus the
    # single-row global rollup; the SQL formulation's three fact-table
    # shuffles must not appear
    plan = _plan(spark, sf_dir, "sessionize_funnel_steps")
    assert plan.count("Exchange") <= 2, plan
    assert "Join" not in plan, plan


def test_cohort_join_reuses_user_hash(spark, sf_dir):
    # first-event groupBy and the join back both hash on user_id; no
    # nested-loop fallback, and the distinct collapses before the
    # final tiny count
    plan = _plan(spark, sf_dir, "timeseries_cohort_retention")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "HashAggregate" in plan, plan


def test_incremental_agg_pushes_cutoff_to_scan(spark, sf_dir):
    # both halves' cutoff predicates reach the parquet scan, so the
    # delta side reads only post-cutoff row groups at scale
    plan = _plan(spark, sf_dir, "etl_incremental_agg")
    assert "PushedFilters" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1][:300], plan


def test_runtime_bloom_filter_prunes_application_side(spark, sf_dir):
    """Runtime row-level filtering: a selective predicate on the
    creation side of a shuffle join should inject a bloom filter into
    the application side's scan stage (bloom_filter_agg feeding a
    might_contain predicate). At 100 TB this is the difference between
    scanning all of lineitem and skipping every row group whose keys
    miss the filter — proves the optimizer feature works on this
    session's config, not just that the flag is set.

    Thresholds are fixture-scaled: applicationSideScanSizeThreshold=0
    (default 10GB) lets the tiny fixture qualify; the mechanism is
    identical at production sizes."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        j = (
            li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan, "no bloom filter was created"
        assert "might_contain" in plan, "bloom filter not applied to probe side"
        # the might_contain must guard the APPLICATION side's scan
        # (lineitem), i.e. reference the probe join key
        probe = plan.split("might_contain")[1]
        assert "l_orderkey" in probe[:200], probe[:200]
        # and the result must still be correct with the filter active
        rows = j.collect()
        assert len(rows) == 1 and rows[0]["o_orderpriority"] == "1-URGENT"
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_exact_substring_is_joinless(spark, sf_dir):
    """The window-hash formulation must stay aggregation-only: three
    exchanges (doc repartition, (doc,h) agg + h window, final doc
    agg) and NO join operator — a join-based inverted-index variant
    would materialize doc pairs and die on boilerplate hot keys."""
    plan = _plan(spark, sf_dir, "dedup_exact_substring")
    assert "Join" not in plan, plan
    assert plan.count("Exchange") <= 4, plan


def test_semantic_prune_broadcasts_representatives(spark, sf_dir):
    """Both representative joins must broadcast (the rep table is
    2^N_PLANES rows): a sort-merge or shuffled-hash join here would
    re-shuffle the whole corpus twice at 100 TB."""
    plan = _plan(spark, sf_dir, "dedup_semantic_prune")
    assert plan.count("BroadcastHashJoin") == 2, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_index_search_prunes_postings(spark, sf_dir):
    """The persisted-IVF search must read ONLY the probed inverted
    lists: the postings scan needs a planning-time PartitionFilter on
    cell_id (directory pruning), not a row-level filter after reading
    all 16 lists — at 100 TB that's nprobe/cells of the I/O."""
    plan = _plan(spark, sf_dir, "similarity_index_search")
    parts = [
        seg[:200] for seg in plan.split("PartitionFilters: [")[1:]
    ]
    posting_filters = [p for p in parts if "cell_id" in p]
    assert posting_filters, plan
    # the filter must be a planning-time literal IN list (renders as
    # `cell_id#N IN (100,130,...)`), not a runtime/dynamic expression
    import re

    assert any(
        re.search(r"cell_id#\d+ IN \(\d", p) for p in posting_filters
    ), posting_filters


def test_index_build_assignment_partial_aggregates(spark, sf_dir):
    """Index build must keep the minimal-shuffle assignment: the
    exchange carries one row per vector (partial max over the 16
    centroid candidates runs map-side), and the 16-row centroid join
    broadcasts."""
    from golang_etl_spark.operators import vector_index as VI
    from golang_etl_spark.operators.similarity import (
        _EMB_DOUBLE_SPARK,
        IVF_CENTROID_IDS,
        _dot_spark,
    )
    from golang_etl_spark.sources.catalog import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.selectExpr("vec_id", f"{_EMB_DOUBLE_SPARK} AS emb").selectExpr(
        "vec_id", "emb", f"sqrt({_dot_spark('emb', 'emb')}) AS nrm"
    )
    cent = v.filter(F.col("vec_id").isin(*IVF_CENTROID_IDS)).selectExpr(
        "vec_id AS cell_id", "emb AS c_emb", "nrm AS c_nrm"
    )
    scored = v.join(F.broadcast(cent)).selectExpr(
        "vec_id", "emb", "nrm", "cell_id",
        f"{_dot_spark('emb', 'c_emb')} / (nrm * c_nrm) AS ccos",
    )
    plan = (
        scored.groupBy("vec_id").count()
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_dpp_prunes_fact_partitions(spark, sf_dir):
    """The dim-side category filter must reach the partitioned fact
    scan as a RUNTIME partition filter (dynamicpruningexpression) —
    static planning cannot prune on a predicate that only exists on
    the dim side of the join."""
    plan = _plan(spark, sf_dir, "sink_dpp_join")
    assert "dynamicpruning" in plan, plan
    pf = plan.split("PartitionFilters: [")[1][:250]
    assert "event_type" in pf and "dynamicpruning" in pf


def test_graph_kernels_broadcast_dims_no_cartesian(spark, sf_dir):
    """Triangle counting and PageRank build their edge lists through
    the basket pipeline: the part dim must broadcast onto lineitem and
    nothing in either plan may degenerate into a cartesian /
    broadcast-nested-loop join (the PageRank iteration joins are all
    equi-joins on vertex)."""
    for name in ("graph_triangle_count", "graph_pagerank_fixed"):
        plan = _plan(spark, sf_dir, name)
        assert "BroadcastHashJoin" in plan, name
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_winsorize_broadcasts_bounds(spark, sf_dir):
    """The 5-row per-group percentile bounds must broadcast back onto
    the orders scan — a sort-merge join here would shuffle the whole
    fact table to clip it."""
    plan = _plan(spark, sf_dir, "profile_winsorized_stats")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, plan


def test_epoch_repeat_expansion_is_map_side(spark, sf_dir):
    """Epoch repetition must multiply rows via a Generate AFTER the
    broadcast factor join — the expansion itself adds no exchange (a
    shuffle of the expanded rows would move f x corpus bytes)."""
    plan = _plan(spark, sf_dir, "sample_epoch_repeat")
    assert "Generate" in plan
    assert "SortMergeJoin" not in plan, plan
    gen_pos = plan.index("Generate")
    # no Exchange between the Generate and the scan below it: the
    # segment BELOW the Generate node may contain the broadcast
    # exchange only
    below = plan[gen_pos:]
    assert "Exchange hashpartitioning" not in below.split("Scan parquet")[0], plan


def test_bigram_expansion_is_joinless(spark, sf_dir):
    """Bigram pair expansion is a per-row zip of the token array with
    its own tail: any join (e.g. positions self-join) or more than
    ~3 exchanges means the operator acquired a pair materialization
    it doesn't need."""
    plan = _plan(spark, sf_dir, "text_bigram_lm")
    assert "Join" not in plan, plan
    assert plan.count("Exchange") <= 3, plan


def test_not_in_plans_null_aware_anti_join(spark, sf_dir):
    """NOT IN must plan as a broadcast null-aware anti join (the
    isNullAwareAntiJoin flag is the trailing `true` on the
    BroadcastHashJoin line), NOT the O(n*m) BroadcastNestedLoopJoin
    fallback Catalyst uses for multi-column or non-broadcastable
    NOT IN — at 100 TB that fallback is the difference between a
    map-side probe and a cluster-melting nested loop."""
    plan = _plan(spark, sf_dir, "subquery_not_in_nullaware")
    assert "BroadcastNestedLoopJoin" not in plan
    import re

    assert re.search(r"BroadcastHashJoin .*LeftAnti, BuildRight, true", plan), (
        "null-aware anti join flag missing:\n" + plan
    )


def test_string_agg_sorts_per_group_not_globally(spark, sf_dir):
    """The LISTAGG ordering comes from array_sort on each group's
    aggregated array — there must be NO global Sort/Exchange beyond
    the one hash aggregation (a per-row pre-sort or global ORDER BY
    would shuffle the corpus a second time)."""
    plan = _plan(spark, sf_dir, "agg_string_agg")
    # one hash exchange (the aggregation); the nation side broadcasts
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "BroadcastHashJoin" in plan
    # no SortExec anywhere: ordering lives inside array_sort per group
    assert "Sort [" not in plan, plan


def test_interp_windows_share_one_grid_exchange(spark, sf_dir):
    """Both direction scans (prev/next) of the linear interpolation
    partition on event_type with compatible ordering — Spark must not
    re-exchange the grid between the two Window operators."""
    plan = _plan(spark, sf_dir, "timeseries_interp_linear")
    # all four prev/next expressions share (partitionBy event_type,
    # orderBy hour ASC), so Catalyst must fuse them into a SINGLE
    # Window operator — two Window nodes would mean an extra sort (and
    # with mismatched specs, an extra exchange) over the grid.
    assert plan.count("Window [") == 1, plan


def test_map_in_arrow_filter_precedes_python(spark, sf_dir):
    """The quantity filter and 4-column projection must reach the
    parquet scan — the Python (Arrow) boundary only sees filtered,
    pruned batches. A filter evaluated AFTER mapInArrow would ship the
    whole table through the Python worker."""
    plan = _plan(spark, sf_dir, "udf_map_in_arrow")
    pushed = plan.split("PushedFilters")[1][:300]
    assert "GreaterThanOrEqual(l_quantity,45" in pushed, plan
    read_schema = plan.split("ReadSchema")[1][:300]
    assert "l_shipdate" not in read_schema
    assert "l_tax" not in read_schema


def test_minhash_index_probe_reads_store_not_corpus_signatures(spark, sf_dir):
    """The probe must scan the PERSISTED band index (parquet under
    minhash_index/) — recomputing corpus signatures per probe is
    exactly what the store exists to avoid. Corpus text may appear
    only through the shingle-posting verification subtree."""
    plan = _plan(spark, sf_dir, "dedup_index_probe")
    assert "minhash_index" in plan, "probe does not read the persisted index"


def _ancestors(plan: str, marker: str) -> list[str]:
    """The lines of the plan nodes above the first line holding
    ``marker``, nearest first (in the pre-order tree string a node's
    parent is the nearest line above it that is indented less)."""
    lines = plan.splitlines()
    i = next(n for n, ln in enumerate(lines) if marker in ln)

    def depth(ln):
        return len(ln) - len(ln.lstrip(" :+-|"))

    out, d = [], depth(lines[i])
    for ln in reversed(lines[:i]):
        if depth(ln) < d:
            out.append(ln)
            d = depth(ln)
    return out


def test_minhash_index_probe_gathers_only_candidate_corpus_docs(spark, sf_dir):
    """The probe gathers shingle arrays for the candidates' corpus
    documents only: the corpus-posting store is semi-joined with the
    candidates BELOW the collect_list aggregate, so a probe costs
    O(candidates), not O(corpus)."""
    plan = _plan(spark, sf_dir, "dedup_index_probe")
    # the posting store's scan; its location may be cut short in the plan
    up = _ancestors(plan, "ReadSchema: struct<doc_id:bigint,shingle:string>")
    semi = next((n for n, ln in enumerate(up) if "LeftSemi" in ln), len(up))
    agg = next(n for n, ln in enumerate(up) if "collect_list" in ln)
    assert semi < agg, "corpus postings aggregated before meeting the candidates"


def test_equidepth_bins_avoid_single_reducer_ntile(spark, sf_dir):
    """The decile cut must come from the range-partitioned
    global_row_number formulation — a plain ntile() window would plan
    Exchange SinglePartition and serialize the table through one
    task."""
    plan = _plan(spark, sf_dir, "profile_equidepth_bins")
    assert "rangepartitioning" in plan, plan
    # the only SinglePartition allowed is a scalar count aggregate,
    # never an exchange feeding a Window/Sort over the data
    for chunk in plan.split("Exchange SinglePartition")[1:]:
        head = chunk[:200]
        assert "HashAggregate" in head, (
            "SinglePartition exchange feeds non-aggregate work:\n" + head
        )


def test_jaccard_prefix_ubound_in_join_condition(spark, sf_dir):
    """PPJoin's positional upper bound must live IN the candidate
    join condition (evaluated as rows match, before the distinct) —
    dropping it is invisible to the completeness test (it only prunes
    non-qualifying candidates) but re-inflates the verification set at
    high-dup corpora."""
    plan = _plan(spark, sf_dir, "dedup_jaccard_prefix")
    import re

    joins = [
        ln for ln in plan.splitlines()
        if ("BroadcastHashJoin" in ln or "SortMergeJoin" in ln)
        and "tok_b" in ln
    ]
    assert joins, "candidate join not found in plan"
    assert any(re.search(r"least\(\(?pos_a", ln) for ln in joins), (
        "ubound (least over prefix positions) missing from the "
        "candidate join condition"
    )


def test_heavy_hitters_pass1_mapside_pass2_broadcast(spark, sf_dir):
    """Two-pass heavy hitters: pass 1's Misra-Gries compression must
    run directly over the scan (no exchange below the Python stage —
    shuffling the token stream before compressing it would defeat the
    point), and pass 2's recount must semi-join the bounded candidate
    set as the BROADCAST side, never shuffling the corpus tokens
    against it."""
    plan = _plan(spark, sf_dir, "text_heavy_hitters_twopass")
    # pass 2: candidate filter is a broadcast left-semi hash join
    semi = [
        ln for ln in plan.splitlines()
        if "BroadcastHashJoin" in ln and "LeftSemi" in ln
    ]
    assert semi, "candidate recount is not a broadcast semi join:\n" + plan[:2000]
    # pass 1: the subtree below the Python map stage contains no
    # exchange — compression happens where the tokens are scanned
    below = plan.split("MapInPandas")[-1]
    assert "Exchange" not in below.split("InMemoryTableScan")[0], (
        "exchange below the Misra-Gries stage"
    )


def test_runtime_bloom_filter_injects_for_selective_dim(spark, sf_dir):
    """100 TB data-skipping evidence: when the dim side of a fact join
    is selectively filtered but too large to broadcast (forced SMJ
    here), Spark injects a bloom-filter semi-join reduction into the
    fact scan (might_contain on the join key) once the size thresholds
    admit it. Local fixtures sit under the production 10 GB
    application-side default, so the thresholds are lowered on an
    independent-conf session — the assertion is that the plumbing
    fires, which is config, not data, at scale."""
    from pyspark.sql import functions as F

    s2 = spark.newSession()
    s2.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "0",
    )
    s2.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
        "1GB",
    )
    # model the too-big-to-broadcast dim by disabling broadcast, not
    # with a join hint — an explicit strategy hint suppresses the
    # InjectRuntimeFilter rule
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    orders = s2.read.parquet(f"{sf_dir}/orders.parquet")
    li = s2.read.parquet(f"{sf_dir}/lineitem.parquet")
    dim = orders.filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_totalprice") > 300000)
    )
    j = (
        li.join(dim, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"))
    )
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "might_contain" in plan, (
        "no bloom-filter runtime filter on the fact scan:\n" + plan[:1500]
    )


def test_whole_registry_plan_lint(spark, sf_dir):
    """Every registered query's physical plan, machine-audited for the
    two unconditional scale antipatterns: CartesianProduct (O(n^2)
    pair space — zero legitimate uses in this engine; scalar cross
    joins plan as 1-row BroadcastNestedLoopJoin, not CartesianProduct)
    and BatchEvalPython (row-at-a-time Python in the hot path — the
    only sanctioned uses are the two Python-UDTF surface demos, whose
    per-row evaluation IS the feature shown and which have JVM-side
    twins registered). The hand-written gates above assert per-query
    shapes; this one guarantees no FUTURE query quietly ships either
    antipattern."""
    allow_python_rows = {"udtf_word_positions", "udtf_polymorphic_unpivot"}
    offenders = {"CartesianProduct": [], "BatchEvalPython": []}
    for name, spec in all_queries().items():
        plan = spec.fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        if "CartesianProduct" in plan:
            offenders["CartesianProduct"].append(name)
        if "BatchEvalPython" in plan and name not in allow_python_rows:
            offenders["BatchEvalPython"].append(name)
    assert not offenders["CartesianProduct"], offenders
    assert not offenders["BatchEvalPython"], offenders


def test_sql_tvf_body_inlines_and_pushes_down(spark, sf_dir):
    # the SQL table function's range predicate must survive inlining
    # all the way into the parquet scan — the TVF is a parameterized
    # view, not an optimization barrier
    plan = _plan(spark, sf_dir, "sql_udf_table")
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters")[1][:300]
    assert "o_orderdate" in pushed


def test_sql_scalar_udf_stays_in_codegen(spark, sf_dir):
    # the SQL UDF body inlines as a plain expression: no Python
    # evaluation node, and the charged-amount arithmetic appears
    # directly inside the partial aggregate (proof of inlining —
    # WholeStageCodegen spans only materialize in the post-execution
    # AQE plan, so assert on the expression placement instead)
    plan = _plan(spark, sf_dir, "sql_udf_scalar")
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "partial_sum" in plan and "l_discount" in plan


@pytest.mark.parametrize(
    "name",
    [
        "similarity_topk_bruteforce",
        "similarity_ann_lsh",
        "similarity_ivf_topk",
        "similarity_ivf_kmeans",
        "similarity_ivf_seeded",
        "similarity_pq_topk",
        "similarity_pq_fixed",
        "similarity_pq_seeded",
        "similarity_matryoshka_topk",
        "similarity_funnel_mrl_pq",
        "similarity_hard_negatives",
        "similarity_maxsim_topk",
        "similarity_index_search",
    ],
)
def test_topk_cut_runs_partially_per_partition(spark, sf_dir, name):
    """Every per-query top-k cut (similarity._topk, a row_number window
    partitioned by query_id) must plan as a WindowGroupLimit, and at
    least one cut must run its Partial pass below the candidate
    exchange, so the exchange carries <= k x partitions x queries rows,
    not the whole scored cross product. The broadcast of the tiny query
    side must never degenerate into a cartesian product."""
    plan = _plan(spark, sf_dir, name)
    lines = plan.splitlines()
    cuts = [
        i for i, line in enumerate(lines)
        if "Window [row_number() windowspecdefinition(query_id" in line
    ]
    assert cuts, plan
    for i in cuts:
        assert "WindowGroupLimit" in lines[i + 1], (lines[i], plan)
    assert re.search(r"WindowGroupLimit .*, Partial", plan), plan
    assert "CartesianProduct" not in plan


def test_pq_seeded_runs_the_mapinpandas_pipeline(spark, sf_dir):
    """similarity_pq_seeded exists to hash-gate the PRODUCTION PQ
    pipeline, so its plan must actually contain the Arrow-batched
    mapInPandas scan stage (not a relational re-derivation) plus the
    global ADC window cut."""
    plan = _plan(spark, sf_dir, "similarity_pq_seeded")
    assert "MapInPandas" in plan
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan
