"""Approximate/sketch aggregations + grouped pandas (applyInPandas).

Sketches are the 100 TB answer to exact distincts/percentiles: HLL and
quantile sketches partial-aggregate map-side and merge in O(sketch)
per partition, where exact COUNT(DISTINCT)/percentile shuffle every
distinct value. Every registered query in this module is HASH-checked
against a DuckDB oracle (as of round 10): either the arithmetic is
engine-replayable (the Carter-Wegman Count-Min grid, the equi-width
histogram store) or the sketch is probed in a regime where it is
PROVABLY exact — HLL below its coupon/linear-counting thresholds,
percentile_approx at accuracy >= rows-per-group — so the estimate
must equal the plain exact answer. The approximate production regimes
(wide-domain HLL, low-accuracy quantiles) are exercised by unregist-
ered twins of the same pipelines and accuracy-gated against the exact
answers in tests/test_sketches.py.

applyInPandas (grouped-map pandas UDF) is the remaining UDF surface
(SURVEY.md §2.5: mapInPandas and applyInPandasWithState live in
multimodal/streaming) — demonstrated with an integer ranking whose
results are exact, so it IS oracle-checked.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from golang_etl_spark.registry import register
from golang_etl_spark.sources.catalog import built_from, load_table


_APPROX_DISTINCT_ORACLE = """
SELECT l_linestatus,
       CAST(COUNT(DISTINCT l_returnflag) AS BIGINT) AS approx_flags,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM lineitem
GROUP BY l_linestatus
"""


@register(
    "sketch_approx_distinct",
    oracle=_APPROX_DISTINCT_ORACLE,
    tags=("sketch", "aggregation"),
)
def sketch_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct counts per line status (rsd=2%). The
    shuffle carries one ~kB sketch per (status, partition) instead of
    every distinct key — the only distinct-count that scales to 100 TB.

    HASH-checked since round 9 via HLL's exact-below-threshold regime:
    at rsd=2% the register file is m=4096 and the estimator is linear
    counting (m * ln(m / zero_registers)) for small cardinalities; for
    n distinct values landing in n distinct registers that evaluates
    to n + n^2/2m + O(n^3/m^2) < n + 1, so the truncated long is
    EXACTLY n whenever n << m and no two values share a register —
    both properties hold deterministically for this 3-value column
    (value->register is a fixed hash, verified at every fixture SF),
    so the estimate must equal the plain COUNT(DISTINCT) oracle. The
    same expression on a high-cardinality column degrades gracefully
    to a +-2%-rsd estimate while the shuffle stays O(sketch) —
    tests/test_sketches.py asserts that regime against
    sketch_exact_distinct (l_orderkey, unbounded domain), which stays
    the hash-checked exact pairing.

    Pinned assumption (documented tradeoff, ADVICE r09): the equality
    rests on Spark's internal HLL++ hash/register layout being
    collision-free for this column's 3 fixed values — true on Spark
    4.1.x (the baked-in engine); a Spark upgrade that changes that
    hash would flip THIS row red with no semantic bug. If this row is
    the only casualty after a version bump, re-verify the exact-regime
    claim and move on — the operator is not wrong."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_linestatus").agg(
        F.approx_count_distinct("l_returnflag", rsd=0.02).alias("approx_flags"),
        F.count("*").alias("n_rows"),
    )


# Exact-regime accuracy for the hash-checked percentile probe: the
# quantile summary's worst-case rank error is n/accuracy, so with
# accuracy >= the largest per-group row count (sf0.1: ~200k rows per
# return flag; 2M leaves 10x headroom) the error is < 1 rank and the
# returned value sits at the EXACT target rank. The production setting
# for a 100 TB run is ~10^4 (bounded memory, mergeable partials) —
# that regime is accuracy-gated in tests/test_sketches.py instead.
_PCT_ACCURACY = 2_000_000

# Probe fractions chosen strictly INSIDE a value bucket of the
# 50-value l_quantity domain: bucket k spans cumulative fractions
# ((k-1)/50, k/50], so bucket boundaries are multiples of 0.02 and
# 0.25/0.49/0.75 are each >= 0.01*n ranks away from the nearest
# boundary. That margin absorbs any off-by-one between Spark's
# quantile-summary rank convention and DuckDB's quantile_disc — both
# land inside the same constant-valued bucket, so the VALUES match
# bit-for-bit (verified at every fixture SF, including the sf0.001
# group where the p25 bucket differs from the uniform expectation).
_PCT_FRACTIONS = (0.25, 0.49, 0.75)

_PCT_ORACLE = f"""
SELECT l_returnflag,
       quantile_disc(l_quantity, {_PCT_FRACTIONS[0]}) AS p25,
       quantile_disc(l_quantity, {_PCT_FRACTIONS[1]}) AS p49,
       quantile_disc(l_quantity, {_PCT_FRACTIONS[2]}) AS p75,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM lineitem
GROUP BY l_returnflag
"""


@register(
    "sketch_percentile_approx",
    oracle=_PCT_ORACLE,
    tags=("sketch", "aggregation"),
)
def sketch_percentile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantiles per return flag via Spark's mergeable quantile sketch
    (percentile_approx) — bounded-memory partial aggregates, unlike an
    exact percentile which sorts every partition.

    HASH-checked since round 10 via the sketch's exact regime: at
    accuracy >= rows-per-group the summary's rank error is < 1, so the
    returned value is the exact discrete quantile and must equal
    DuckDB's quantile_disc (see _PCT_ACCURACY / _PCT_FRACTIONS for why
    both the accuracy and the probe fractions make that robust rather
    than lucky). The production low-accuracy regime on an unbounded
    domain (l_extendedprice at accuracy 10^4) stays rank-error-gated in
    tests/test_sketches.py — same discipline as sketch_approx_distinct:
    probe the sketch where it is provably exact, bound it where it is
    not."""
    li = load_table(spark, sf_dir, "lineitem")
    q = li.groupBy("l_returnflag").agg(
        F.percentile_approx(
            "l_quantity", list(_PCT_FRACTIONS), _PCT_ACCURACY
        ).alias("q"),
        F.count("*").alias("n_rows"),
    )
    return q.select(
        "l_returnflag",
        F.element_at("q", 1).alias("p25"),
        F.element_at("q", 2).alias("p49"),
        F.element_at("q", 3).alias("p75"),
        "n_rows",
    )


_EXACT_DISTINCT_ORACLE = """
SELECT l_returnflag,
       CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM lineitem
GROUP BY l_returnflag
"""


@register(
    "sketch_exact_distinct",
    oracle=_EXACT_DISTINCT_ORACLE,
    tags=("sketch", "aggregation"),
)
def sketch_exact_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact COUNT(DISTINCT) twin of sketch_approx_distinct: the same
    grouping and measure, hash-checkable against the DuckDB oracle.
    Proves the aggregation pipeline (scan → partial agg → final agg)
    under the hash gate so the HLL variant's rows-only status isolates
    ONLY the sketch arithmetic; tests/test_sketches.py then bounds the
    HLL estimate against this exact answer per group.

    Scale note: exact distinct shuffles every distinct key — at 100 TB
    the HLL twin is the production path; this is the verification
    pairing."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("exact_orders"),
        F.count("*").alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# applyInPandas: per-group pandas transform with exact (integer) output.
# ---------------------------------------------------------------------------
_RANK_ORACLE = """
SELECT o_orderkey, o_custkey,
       CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
                               ORDER BY o_totalprice DESC, o_orderkey)
            AS BIGINT) AS spend_rank
FROM orders
"""

_RANK_SCHEMA = "o_orderkey long, o_custkey long, spend_rank long"

# Grouping directly on o_custkey would ship one Arrow batch per
# customer — ~15k tiny pandas frames at sf0.1 cost ~17s of pure
# per-group Python overhead, and at 100 TB the per-batch constant
# dominates entirely. Grouping on a hash *bucket* of the key keeps
# every customer's rows together (bucket is a function of custkey)
# while amortizing the Arrow/pandas round-trip over thousands of
# customers per batch; the in-pandas groupby restores per-customer
# semantics. Bucket count trades batch size vs parallelism.
_RANK_BUCKETS = 128


def _rank_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.sort_values(
        ["o_custkey", "o_totalprice", "o_orderkey"],
        ascending=[True, False, True],
    )
    return pd.DataFrame(
        {
            "o_orderkey": pdf["o_orderkey"],
            "o_custkey": pdf["o_custkey"],
            "spend_rank": pdf.groupby("o_custkey").cumcount() + 1,
        }
    )


@register(
    "applyinpandas_rank_orders", oracle=_RANK_ORACLE, tags=("pandas_udf", "window")
)
def applyinpandas_rank_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map pandas UDF (applyInPandas): per-customer spend rank
    computed in pandas over hash-bucketed groups (complete customers
    per bucket, per-customer ranks via pandas groupby.cumcount).
    Integer output with a deterministic tie-break, so it hash-matches
    the ROW_NUMBER oracle exactly.

    Scale note: buckets shuffle once, each bucket must fit in one
    executor's memory (size via _RANK_BUCKETS; NOT the tool for
    whole-table transforms — that's mapInPandas). Prefer the built-in
    Window for this exact query (window_rank_dense_rank); this
    registers the API surface with a checkable result."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    bucketed = orders.withColumn(
        "bucket", F.pmod(F.hash("o_custkey"), F.lit(_RANK_BUCKETS))
    )
    return bucketed.groupBy("bucket").applyInPandas(
        _rank_bucket, schema=_RANK_SCHEMA
    )


# ---------------------------------------------------------------------------
# Mergeable HLL sketch STORE: build per-month sketches once, answer any
# month-range distinct query by merging sketches — never rescanning.
# ---------------------------------------------------------------------------
# sketch_approx_distinct demonstrates the one-shot approximate
# aggregate; this is the production pattern built on top of it: a
# pay-once table of (month, DataSketches-HLL binary) that turns
# "distinct customers over ANY date range" into an O(months) merge of
# kilobyte sketches (hll_union_agg) instead of an O(rows) rescan —
# the only way a 100 TB event history answers ad-hoc range distincts
# interactively. Same store discipline as the IVF / MinHash index
# families (build memoized by catalog.built_from).

# the probe range: 3 months present at every fixture SF (orders span
# 1995-01 .. 2001-08)
HLL_RANGE_MONTHS = ("1996-01", "1996-02", "1996-03")
_HLL_RANGE_LABEL = "1996-01:1996-03"


@built_from("orders")
def build_hll_store(spark: SparkSession, sf_dir: str) -> str:
    """Materialize per-month DataSketches-HLL sketches of orders to
    parquet: ``sketch`` over o_custkey (the wide-domain production
    column) and ``sketch_prio`` over o_orderpriority (a 5-value probe
    column whose estimates are provably exact — see
    sketch_hll_store_merge). Built once per SparkContext and
    ``orders`` listing (``catalog.built_from``); returns the root. One
    scan of orders; the store is O(months) kilobyte rows."""
    from golang_etl_spark.operators.layout import _layout_dir

    root = _layout_dir("hll_store", sf_dir)
    orders = load_table(spark, sf_dir, "orders")
    (
        orders.groupBy(
            F.date_format("o_orderdate", "yyyy-MM").alias("ym")
        )
        .agg(
            F.expr("hll_sketch_agg(o_custkey)").alias("sketch"),
            F.expr("hll_sketch_agg(o_orderpriority)").alias("sketch_prio"),
        )
        .write.mode("overwrite")
        .parquet(root)
    )
    return root


def _hll_store_oracle_sql(months: tuple[str, ...], label: str) -> str:
    """Oracle generator for hll_prio_counts over ANY month subset —
    the registered constant below binds it to HLL_RANGE_MONTHS; the
    fuzz test regenerates it per random range."""
    return f"""
WITH sel AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS ym, o_orderpriority
  FROM orders
  WHERE strftime(o_orderdate, '%Y-%m') IN
        ({", ".join(f"'{m}'" for m in months)})
)
SELECT ym, CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS n_prios
FROM sel GROUP BY ym
UNION ALL
SELECT '{label}' AS ym,
       CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS n_prios
FROM sel
"""


_HLL_STORE_ORACLE = _hll_store_oracle_sql(HLL_RANGE_MONTHS, _HLL_RANGE_LABEL)


@register(
    "sketch_hll_store_merge",
    oracle=_HLL_STORE_ORACLE,
    tags=("sketch", "aggregation", "layout"),
)
def sketch_hll_store_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe the persisted HLL store: per-month distinct-priority
    counts for the probe months plus the RANGE count from
    hll_union_agg over just those sketch rows — the range answer reads
    3 kilobyte rows, not one order row.

    HASH-checked since round 10 via the sketch's exact regime (the
    discipline that converted sketch_approx_distinct in round 9): a
    DataSketches HLL sketch stays in sparse coupon (LIST) mode far
    past 5 distinct values, where hll_sketch_estimate returns the
    exact coupon count as a LONG — and unions of LIST-mode sketches
    stay LIST-mode — so over the fixed 5-value o_orderpriority domain
    every estimate (per-month AND merged range) provably equals the
    plain COUNT(DISTINCT) the oracle computes. Assumes Spark 4.x's
    bundled Apache DataSketches HLL (pinned: a version bump that
    changed coupon promotion thresholds would surface here, not as a
    silent estimate drift). The store's wide-domain o_custkey sketches
    exercise the SAME build/filter/union/estimate pipeline in the
    approximate regime; hll_custkey_estimates() probes them and
    tests/test_sketches.py bounds those estimates (<=5%) against the
    hash-checked exact twin (sketch_hll_exact_twin) plus the union
    algebra (max-month <= range-union <= month-sum)."""
    return hll_prio_counts(spark, sf_dir, HLL_RANGE_MONTHS, _HLL_RANGE_LABEL)


def hll_prio_counts(
    spark: SparkSession,
    sf_dir: str,
    months: tuple[str, ...],
    label: str,
) -> DataFrame:
    """The store probe proper, over ANY month subset (split out so
    tests/test_sketch_store_fuzz.py can replay random ranges against
    freshly generated oracle SQL — the registered query pins one
    range; the fuzz pins the pipeline across the parameter space)."""
    root = build_hll_store(spark, sf_dir)
    sk = spark.read.parquet(root).filter(F.col("ym").isin(*months))
    per_month = sk.select(
        "ym", F.expr("hll_sketch_estimate(sketch_prio)").alias("n_prios")
    )
    merged = sk.agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sketch_prio))").alias(
            "n_prios"
        )
    ).select(F.lit(label).alias("ym"), "n_prios")
    return per_month.unionByName(merged)


def hll_custkey_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-domain probe of the same HLL store: per-month + merged
    range estimates of DISTINCT o_custkey — the production regime,
    where the estimate carries ~1.6% rsd (lgConfigK=12) and therefore
    cannot sit under the driver's hash gate. Accuracy-gated against
    sketch_hll_exact_twin in tests/test_sketches.py instead."""
    root = build_hll_store(spark, sf_dir)
    sk = spark.read.parquet(root).filter(
        F.col("ym").isin(*HLL_RANGE_MONTHS)
    )
    per_month = sk.select(
        "ym", F.expr("hll_sketch_estimate(sketch)").alias("est_custs")
    )
    merged = sk.agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sketch))").alias(
            "est_custs"
        )
    ).select(F.lit(_HLL_RANGE_LABEL).alias("ym"), "est_custs")
    return per_month.unionByName(merged)


_HLL_TWIN_ORACLE = f"""
WITH sel AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS ym, o_custkey
  FROM orders
  WHERE strftime(o_orderdate, '%Y-%m') IN
        ({", ".join(f"'{m}'" for m in HLL_RANGE_MONTHS)})
)
SELECT ym, CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_custs
FROM sel GROUP BY ym
UNION ALL
SELECT '{_HLL_RANGE_LABEL}' AS ym,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_custs
FROM sel
"""


@register(
    "sketch_hll_exact_twin",
    oracle=_HLL_TWIN_ORACLE,
    tags=("sketch", "aggregation"),
)
def sketch_hll_exact_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact twin of the HLL store probes: the same per-month +
    merged-range shape with exact COUNT(DISTINCT o_custkey),
    hash-checked — the accuracy anchor for the store's WIDE-domain
    estimates (hll_custkey_estimates; the registered store probe
    itself has been hash-checked directly since round 10 via the
    exact coupon regime). The mapping is 1:1 by construction:
    identical ym keys (HLL_RANGE_MONTHS + _HLL_RANGE_LABEL), identical
    month filter, and the range row aggregates the same three months
    the store's hll_union_agg merges — see the store docstring for the
    full mapping contract. At 100 TB the exact range query rescans and reshuffles
    every order in the range; the sketch store answers from O(months)
    kilobytes — that asymmetry is the point of the pairing."""
    orders = load_table(spark, sf_dir, "orders")
    sel = orders.select(
        F.date_format("o_orderdate", "yyyy-MM").alias("ym"), "o_custkey"
    ).filter(F.col("ym").isin(*HLL_RANGE_MONTHS))
    per_month = sel.groupBy("ym").agg(
        F.countDistinct("o_custkey").alias("n_custs")
    )
    merged = sel.agg(
        F.countDistinct("o_custkey").alias("n_custs")
    ).select(F.lit(_HLL_RANGE_LABEL).alias("ym"), "n_custs")
    return per_month.unionByName(merged)


# ---------------------------------------------------------------------------
# Mergeable Count-Min sketch STORE: the FREQUENCY counterpart of the
# HLL distinct store above — per-month sketches built once, any
# month-range frequency estimate answered by summing sketches.
# ---------------------------------------------------------------------------
# A CMS is a D x W counter grid: item x increments cell
# (i, hash_i(x) mod W) for each of the D rows; its estimate is the MIN
# over the D cells, always >= the true count and overshooting by at
# most ~range_rows/W per row (min over D rows makes that bound hold
# with high probability). Implemented entirely JVM-side as a SPARSE
# map<bigint,bigint> column (at most D*W entries per month regardless
# of data volume): build = one grouped count per (month, cell), merge
# = explode + sum per cell — counter grids are linear, so a range
# merge equals the sketch of the unioned range EXACTLY (pinned by
# test_sketches.py).
#
# The D independent hashes are a Carter-Wegman family over the prime
# P = 2^31 - 1: h_i(x) = ((x mod P) * A_i + B_i) mod P mod W — pure
# 64-bit integer arithmetic that never overflows ((P-1)*A_i + B_i <
# 2^62) and never leaves codegen. Round 9 switched from xxhash64 to
# this family precisely because BOTH engines can evaluate it
# bit-for-bit: the DuckDB oracle replays the entire sketch pipeline
# (cell layout, counter build, range merge, min-over-depth probe), so
# the CMS store rows are HASH-checked, not rows-only; the exact twin
# below keeps pinning the estimate against true counts.
#
# 100 TB shape: the store is O(months x D*W) kilobyte rows built in
# one scan; any range-frequency probe reads O(months) map rows and
# never rescans orders — same pay-once discipline as the HLL / IVF /
# MinHash stores.
_CMS_DEPTH = 4
_CMS_WIDTH = 512
_CMS_P = 2_147_483_647  # 2^31 - 1 (Mersenne prime)
_CMS_A = (1_299_721, 7_919, 104_729, 15_485_863)
_CMS_B = (104_395_301, 32_452_843, 49_979_687, 67_867_967)

# probe the same 3-month range as the HLL store, and custkeys 1..10
# (present at every fixture SF)
CMS_RANGE_MONTHS = HLL_RANGE_MONTHS
_CMS_PROBE_KEYS = 10

# DuckDB-side VALUES table of the per-depth hash constants, shared by
# every CMS oracle so both engines address the same grid
_CMS_AB_SQL = ", ".join(
    f"({i}, {_CMS_A[i]}, {_CMS_B[i]})" for i in range(_CMS_DEPTH)
)


def _cms_hash_cells(item: str):
    """The D cell keys an item touches, as an array expression:
    cell = i * W + ((x mod P) * A_i + B_i) mod P mod W. Shared by the
    store builder, the probe side, and (as _cms_cell_sql) the DuckDB
    oracles, so all three address the same grid."""
    x = F.pmod(F.col(item).cast("long"), F.lit(_CMS_P))
    return F.array(
        *[
            (
                F.lit(i * _CMS_WIDTH)
                + F.pmod(
                    F.pmod(x * F.lit(_CMS_A[i]) + F.lit(_CMS_B[i]), F.lit(_CMS_P)),
                    F.lit(_CMS_WIDTH),
                )
            )
            for i in range(_CMS_DEPTH)
        ]
    )


def _cms_cell_sql(x: str) -> str:
    """DuckDB twin of one _cms_hash_cells entry, parameterized on the
    depth row ``ab`` (joined from the _CMS_AB_SQL VALUES table);
    ``x`` must be a non-negative integer expression."""
    return (
        f"(ab.i * {_CMS_WIDTH} + "
        f"(((({x} % {_CMS_P}) * ab.a + ab.b) % {_CMS_P}) % {_CMS_WIDTH}))"
    )


def _cms_cells(df: DataFrame, item: str) -> DataFrame:
    """(ym?, item) rows -> one row per touched CMS cell with its
    count; grouping keys = every column of ``df`` except ``item``."""
    others = [c for c in df.columns if c != item]
    return (
        df.select(*others, F.explode(_cms_hash_cells(item)).alias("cell"))
        .groupBy(*others, "cell")
        .agg(F.count("*").alias("cnt"))
    )


@built_from("orders")
def build_cms_store(spark: SparkSession, sf_dir: str) -> str:
    """Materialize (ym, sparse CMS map over o_custkey) for every month
    of orders to parquet, once per SparkContext and ``orders``
    listing (``catalog.built_from``); one scan of orders; each map
    holds <= D*W entries whatever the row count."""
    from golang_etl_spark.operators.layout import _layout_dir

    root = _layout_dir("cms_store", sf_dir)
    orders = load_table(spark, sf_dir, "orders")
    cells = _cms_cells(
        orders.select(
            F.date_format("o_orderdate", "yyyy-MM").alias("ym"), "o_custkey"
        ),
        "o_custkey",
    )
    (
        cells.groupBy("ym")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("cell", "cnt"))
            ).alias("cms")
        )
        .write.mode("overwrite")
        .parquet(root)
    )
    return root


def _cms_estimates(spark: SparkSession, merged: DataFrame) -> DataFrame:
    """Estimate order counts for custkeys 1.._CMS_PROBE_KEYS against a
    merged (cell, cnt) counter table: min over the D probed cells,
    absent cell = 0. The counter table is <= D*W rows — broadcast."""
    probes = spark.range(1, _CMS_PROBE_KEYS + 1).select(
        F.col("id").alias("o_custkey")
    )
    cells = probes.select(
        "o_custkey", F.explode(_cms_hash_cells("o_custkey")).alias("cell")
    )
    return (
        cells.join(F.broadcast(merged), "cell", "left")
        .groupBy("o_custkey")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est_orders"))
        .orderBy("o_custkey")
    )


def _cms_store_oracle_sql(months: tuple[str, ...]) -> str:
    """Oracle generator for cms_range_estimates over ANY month subset:
    rebuilds the counter grid DIRECTLY over the range rows (grid
    linearity makes direct build == month merge) and replays the
    min-over-depth probe. Bound to CMS_RANGE_MONTHS for the registered
    query; regenerated per random range by the fuzz test."""
    return f"""
WITH ab(i, a, b) AS (VALUES {_CMS_AB_SQL}),
cells AS (
  SELECT {_cms_cell_sql("o.o_custkey")} AS cell, COUNT(*) AS cnt
  FROM orders o CROSS JOIN ab
  WHERE strftime(o.o_orderdate, '%Y-%m') IN
        ({", ".join(f"'{m}'" for m in months)})
  GROUP BY 1
),
probe_cells AS (
  SELECT gs.k AS o_custkey, {_cms_cell_sql("gs.k")} AS cell
  FROM (SELECT range AS k FROM range(1, {_CMS_PROBE_KEYS + 1})) gs
  CROSS JOIN ab
)
SELECT p.o_custkey,
       CAST(MIN(COALESCE(c.cnt, 0)) AS BIGINT) AS est_orders
FROM probe_cells p LEFT JOIN cells c ON c.cell = p.cell
GROUP BY p.o_custkey
ORDER BY p.o_custkey
"""


_CMS_STORE_ORACLE = _cms_store_oracle_sql(CMS_RANGE_MONTHS)


@register(
    "sketch_cms_store_freq",
    oracle=_CMS_STORE_ORACLE,
    tags=("sketch", "aggregation", "layout"),
)
def sketch_cms_store_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe the persisted CMS store: estimated order counts for
    custkeys 1..10 over the 3-month probe range, from the element-wise
    SUM of the three month sketches — the range answer reads 3 sparse
    map rows, never an order row. HASH-checked since round 9: the
    Carter-Wegman cell layout is plain 64-bit integer arithmetic, so
    the DuckDB oracle rebuilds the counter grid directly over the
    range rows (by linearity, direct build == month merge — also
    pinned by test_sketches.py) and replays the min-over-depth probe
    exactly. sketch_cms_exact_twin keeps proving est >= exact and the
    collision upper bound against true counts."""
    return cms_range_estimates(spark, sf_dir, CMS_RANGE_MONTHS)


def cms_range_estimates(
    spark: SparkSession, sf_dir: str, months: tuple[str, ...]
) -> DataFrame:
    """The store probe proper, over ANY month subset (split out for
    tests/test_sketch_store_fuzz.py — the counter grid's linearity
    means the merge-then-probe must hash-match the oracle's
    direct-build for every range, not just the registered one)."""
    root = build_cms_store(spark, sf_dir)
    sk = spark.read.parquet(root).filter(F.col("ym").isin(*months))
    merged = (
        sk.select(F.explode("cms").alias("cell", "cnt"))
        .groupBy("cell")
        .agg(F.sum("cnt").alias("cnt"))
    )
    return _cms_estimates(spark, merged)


_CMS_TWIN_ORACLE = f"""
SELECT gs.o_custkey,
       CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders
FROM (SELECT range AS o_custkey FROM range(1, {_CMS_PROBE_KEYS + 1})) gs
LEFT JOIN orders o
  ON o.o_custkey = gs.o_custkey
 AND strftime(o.o_orderdate, '%Y-%m') IN
     ({", ".join(f"'{m}'" for m in CMS_RANGE_MONTHS)})
GROUP BY gs.o_custkey
ORDER BY gs.o_custkey
"""


@register(
    "sketch_cms_exact_twin",
    oracle=_CMS_TWIN_ORACLE,
    tags=("sketch", "aggregation"),
)
def sketch_cms_exact_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact twin of sketch_cms_store_freq: order counts for the SAME
    probe custkeys (1..10, zero-preserving left join) over the SAME
    month range, hash-checked — so the store variant's rows-only
    status isolates only the counter arithmetic. At 100 TB the exact
    probe rescans every order in the range per ad-hoc question; the
    CMS store answers any frequency probe from O(months x D*W)
    kilobytes — the same rescan-vs-merge asymmetry as the HLL twin."""
    orders = load_table(spark, sf_dir, "orders")
    probes = spark.range(1, _CMS_PROBE_KEYS + 1).select(
        F.col("id").alias("o_custkey")
    )
    sel = orders.select(
        "o_custkey",
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM").alias("ym"),
    ).filter(F.col("ym").isin(*CMS_RANGE_MONTHS))
    return (
        probes.join(sel, "o_custkey", "left")
        .groupBy("o_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
        .orderBy("o_custkey")
    )


# ---------------------------------------------------------------------------
# Mergeable equi-width HISTOGRAM store: range quantiles from bin-count
# rows — the fully HASH-CHECKED member of the sketch-store family.
# ---------------------------------------------------------------------------
# HLL (distinct) and CMS (frequency) stores are rows-only because
# their hash arithmetic has no DuckDB twin; a fixed-bin histogram's
# arithmetic is plain integer bucketing, so the ENTIRE store pipeline
# — per-month build, range merge (bin-wise sum: histograms are linear
# like CMS grids), and quantile extraction — replays under the
# driver's hash gate. Store = O(months x B) rows built in one scan;
# any range median/quantile reads O(months x B) integers, never an
# order row.
_HIST_BINS = 64
_HIST_LO = 0.0
_HIST_HI = 600_000.0  # o_totalprice domain; top bin absorbs the tail
_HIST_WIDTH = (_HIST_HI - _HIST_LO) / _HIST_BINS


@built_from("orders")
def build_hist_store(spark: SparkSession, sf_dir: str) -> str:
    """Materialize (ym, bin, c) order-price histogram rows for every
    month to parquet, once per SparkContext and ``orders`` listing
    (``catalog.built_from``); one scan."""
    from golang_etl_spark.operators.layout import _layout_dir

    root = _layout_dir("hist_store", sf_dir)
    orders = load_table(spark, sf_dir, "orders")
    (
        orders.select(
            F.date_format("o_orderdate", "yyyy-MM").alias("ym"),
            F.least(
                F.floor(F.col("o_totalprice") / F.lit(_HIST_WIDTH)).cast("int"),
                F.lit(_HIST_BINS - 1),
            ).alias("bin"),
        )
        .groupBy("ym", "bin")
        .agg(F.count("*").alias("c"))
        .write.mode("overwrite")
        .parquet(root)
    )
    return root


def _hist_oracle_sql(months: tuple[str, ...], label: str) -> str:
    """Oracle generator for hist_range_median over ANY month subset —
    bound to HLL_RANGE_MONTHS for the registered query; regenerated
    per random range by the fuzz test."""
    return f"""
WITH sel AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS ym,
         LEAST(CAST(FLOOR(o_totalprice / {_HIST_WIDTH!r}) AS INT),
               {_HIST_BINS - 1}) AS bin
  FROM orders
  WHERE strftime(o_orderdate, '%Y-%m') IN
        ({", ".join(f"'{m}'" for m in months)})
),
uni AS (
  SELECT ym, bin FROM sel
  UNION ALL
  SELECT '{label}' AS ym, bin FROM sel
),
h AS (SELECT ym, bin, COUNT(*) AS c FROM uni GROUP BY ym, bin),
cum AS (
  SELECT ym, bin, c,
         SUM(c) OVER (PARTITION BY ym ORDER BY bin) AS cum,
         SUM(c) OVER (PARTITION BY ym) AS n
  FROM h
),
med AS (
  SELECT ym,
         MIN(n) AS n,
         MIN_BY(bin, bin) AS med_bin,
         MIN_BY(c, bin) AS med_c,
         MIN_BY(cum, bin) AS med_cum
  FROM cum
  WHERE cum >= CEIL(n / 2.0)
  GROUP BY ym
)
SELECT ym,
       CAST(n AS BIGINT) AS n_rows,
       med_bin,
       ROUND({_HIST_WIDTH!r} * med_bin +
             {_HIST_WIDTH!r} * (CEIL(n / 2.0) - (med_cum - med_c)) / med_c,
             6) AS est_median
FROM med
ORDER BY ym
"""


_HIST_ORACLE = _hist_oracle_sql(HLL_RANGE_MONTHS, _HLL_RANGE_LABEL)


@register(
    "sketch_histogram_range_median",
    oracle=_HIST_ORACLE,
    tags=("sketch", "aggregation", "layout"),
)
def sketch_histogram_range_median(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Probe the persisted histogram store: per-month order-price
    medians for the 3 probe months plus the RANGE median from the
    bin-wise SUM of exactly those month rows — interpolated within the
    median bin (lower-median target CEIL(n/2)). Bucketing, merge, and
    interpolation are identical integer-then-double arithmetic on both
    engines, so unlike the HLL/CMS stores this one is fully
    hash-checked. At 100 TB the store is months x 64 integer rows; an
    exact range median would shuffle every in-range order through a
    percentile sort per ad-hoc probe."""
    return hist_range_median(spark, sf_dir, HLL_RANGE_MONTHS, _HLL_RANGE_LABEL)


def hist_range_median(
    spark: SparkSession,
    sf_dir: str,
    months: tuple[str, ...],
    label: str,
) -> DataFrame:
    """The store probe proper, over ANY month subset (split out for
    tests/test_sketch_store_fuzz.py — bin-wise linearity and the
    in-bin interpolation must hash-match the oracle for every range,
    not just the registered one)."""
    from pyspark.sql import Window

    root = build_hist_store(spark, sf_dir)
    h = spark.read.parquet(root).filter(F.col("ym").isin(*months))
    both = h.unionByName(
        h.select(F.lit(label).alias("ym"), "bin", "c")
    )
    hh = both.groupBy("ym", "bin").agg(F.sum("c").alias("c"))
    w_ord = Window.partitionBy("ym").orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy("ym")
    cum = hh.select(
        "ym",
        "bin",
        "c",
        F.sum("c").over(w_ord).alias("cum"),
        F.sum("c").over(w_all).alias("n"),
    )
    med = (
        cum.filter(F.col("cum") >= F.ceil(F.col("n") / F.lit(2.0)))
        .groupBy("ym")
        .agg(
            F.min("n").alias("n"),
            F.min_by("bin", "bin").alias("med_bin"),
            F.min_by("c", "bin").alias("med_c"),
            F.min_by("cum", "bin").alias("med_cum"),
        )
    )
    return med.select(
        "ym",
        F.col("n").cast("long").alias("n_rows"),
        "med_bin",
        F.round(
            F.lit(_HIST_WIDTH) * F.col("med_bin")
            + F.lit(_HIST_WIDTH)
            * (
                F.ceil(F.col("n") / F.lit(2.0)) - (F.col("med_cum") - F.col("med_c"))
            )
            / F.col("med_c"),
            6,
        ).alias("est_median"),
    ).orderBy("ym")


# ---------------------------------------------------------------------------
# approx_top_k (Spark 4.1 built-in frequent-items sketch).
# ---------------------------------------------------------------------------
_TOPK_K = 3

_APPROX_TOPK_ORACLE = f"""
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events
FROM events GROUP BY event_type
ORDER BY n_events DESC, event_type
LIMIT {_TOPK_K}
"""


@register(
    "sketch_approx_topk",
    oracle=_APPROX_TOPK_ORACLE,
    tags=("sketch", "aggregation"),
)
def sketch_approx_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K event types via the approx_top_k sketch (Spark 4.1
    built-in) — the one-expression alternative to the two-pass
    Misra-Gries pipeline (freqitems.py) when bounded error is
    acceptable. Pinned under the HASH gate by the same trick as the
    BPE fixed-rule twin: the tracked-items capacity (10000) exceeds
    the column's 5-value domain, so the sketch is provably EXACT here
    and must match the plain GROUP BY oracle; at real cardinalities
    the same expression degrades gracefully to approximate counts
    while the mergeable sketch keeps the shuffle O(sketch) per
    partition."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.agg(F.expr(f"approx_top_k(event_type, {_TOPK_K})").alias("tk"))
        .select(F.explode("tk").alias("e"))
        .select(
            F.col("e.item").alias("event_type"),
            F.col("e.count").cast("long").alias("n_events"),
        )
        .orderBy(F.desc("n_events"), "event_type")
    )
