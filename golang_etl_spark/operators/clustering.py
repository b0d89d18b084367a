"""Duplicate-cluster assignment: connected components over the
SimHash near-duplicate pair graph.

Near-dup pairs (``dedup_simhash``) relate documents pairwise, but a
training-data pipeline needs *clusters*: if A~B and B~C, all three are
one duplicate group and the curator keeps exactly one. That closure is
connected components on the pair graph. No reference counterpart
(SURVEY.md §2.5) — LLM-pipeline extension.

Spark formulation: iterative min-label propagation. Each vertex
starts labeled with its own doc_id; every round each vertex takes the
minimum label among itself and its neighbors; converged when no label
changes. Rounds needed = the graph diameter, and near-dup components
are shallow (a duplicated document's copies all pair with each other,
so diameters are small); the loop is capped at MAX_CC_ITERS with a
convergence check — an iterative *algorithm*, not a driver-side
row loop: each round is one distributed join + aggregate, and only the
scalar "how many labels changed" count comes back to the driver.

Scale notes (100 TB stance):
- state per round is one (doc_id, label) row per vertex in a pair —
  |vertices| <= 2·|pairs|, already the dedup-candidate scale, NOT the
  corpus scale. Each round shuffles on doc_id only.
- each round's result is ``localCheckpoint``-ed: persist alone caches
  *data* but leaves the logical lineage intact, and this loop
  references the previous round's frame three times per iteration —
  the analyzed plan grows ~3^rounds and planning time (not execution)
  explodes within a handful of rounds. Checkpointing truncates the
  lineage so every round plans against a flat in-memory relation. On
  a real cluster you would use reliable ``checkpoint`` (HDFS) instead
  of ``localCheckpoint`` for fault tolerance.
- the edge list is checkpointed once and reused every round.

The DuckDB oracle replays the same closure with a recursive CTE
(min reachable doc_id per vertex == min-label fixpoint).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from golang_etl_spark.operators.dedup import _simhash_oracle, simhash_pairs
from golang_etl_spark.registry import register
from golang_etl_spark.sources.catalog import load_table

MAX_CC_ITERS = 20

# Rounds the most recent _cc_label_propagation call took to converge —
# observability for the O(log diameter) claim (tests/test_scaleup_smoke
# asserts round growth is logarithmic in chain depth, not linear).
LAST_CC_ROUNDS: int | None = None

# Below this many (directed) edges the whole graph is union-found in a
# single task instead of the iterative distributed loop: 5M edges is
# ~80 MB of id pairs — one core chews through that in seconds with a
# DSU, while the distributed loop would pay log(diameter) rounds of
# shuffle + materialization latency for no benefit. Near-dup pair
# graphs are candidate-scale, not corpus-scale, so even at 100 TB most
# runs take this path; the loop is the safety net for genuinely huge
# pair sets.
CC_LOCAL_EDGE_THRESHOLD = 5_000_000

# Pointer-jump levels per distributed round, each a join against the
# previous round's MATERIALIZED label table (never the in-flight
# frame, which would recompute the neighbor-min subtree per level).
# Label reach grows ~(JUMPS+1)^round, so rounds ~ log_{JUMPS+1}(diam).
CC_JUMPS_PER_ROUND = 2

_CC_ORACLE = f"""
WITH RECURSIVE pairs AS (
  {_simhash_oracle()}
),
edges AS (
  SELECT doc_id_a AS src, doc_id_b AS dst FROM pairs
  UNION ALL
  SELECT doc_id_b AS src, doc_id_a AS dst FROM pairs
),
reach AS (
  SELECT DISTINCT src AS doc_id, src AS label FROM edges
  UNION
  SELECT e.dst AS doc_id, r.label
  FROM reach r JOIN edges e ON e.src = r.doc_id
),
labels AS (
  SELECT doc_id, MIN(label) AS cluster_id FROM reach GROUP BY doc_id
),
sizes AS (
  SELECT cluster_id, COUNT(*) AS n FROM labels GROUP BY cluster_id
)
SELECT l.doc_id, l.cluster_id, CAST(s.n AS BIGINT) AS cluster_size
FROM labels l JOIN sizes s ON s.cluster_id = l.cluster_id
"""


@register("dedup_cluster_cc", oracle=_CC_ORACLE, tags=("dedup", "llm"))
def dedup_cluster_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over SimHash near-dup pairs: every
    document that appears in at least one pair gets a ``cluster_id``
    (the minimum doc_id in its component — deterministic) and the
    component's ``cluster_size``."""
    from pyspark.sql import Window

    pairs = simhash_pairs(spark, sf_dir).select("doc_id_a", "doc_id_b")
    labels = connected_components(pairs)
    # cluster_size via a full-partition window count: one shuffle on
    # label and the labels subtree evaluates ONCE — the previous
    # groupBy+self-join recomputed the (uncached) union-find task per
    # reference. Label cardinality is candidate-scale, so the window
    # partition is never wide.
    return labels.select(
        "doc_id",
        F.col("label").alias("cluster_id"),
        F.count("*")
        .over(Window.partitionBy("label"))
        .cast("long")
        .alias("cluster_size"),
    )


def connected_components(
    pairs: DataFrame, local_threshold: int = CC_LOCAL_EDGE_THRESHOLD
) -> DataFrame:
    """Connected components over an undirected pair list
    ``(doc_id_a, doc_id_b)`` — returns ``(doc_id, label)`` where label
    is the minimum doc_id reachable from doc_id. The algorithmic core
    of ``dedup_cluster_cc``, factored out so the chain/star unit tests
    (tests/test_clustering_unit.py) can drive it on synthetic graphs
    whose transitive closure is known.

    Two execution paths, picked by a cheap edge count over the
    already-materialized edge list:

    - **small graph** (≤ ``local_threshold`` directed edges): one
      ``mapInPandas`` task runs union-find over the whole edge list.
      No rounds, no shuffles — a single core beats any distributed
      loop at this size, and pair graphs are candidate-scale (bounded
      by the near-dup rate), not corpus-scale.
    - **large graph**: iterative min-label propagation with pointer
      jumping. Each round takes the min label over neighbors, then
      ``CC_JUMPS_PER_ROUND`` times resolves ``label <- label(label)``
      against the previous round's label table, so a label's reach
      grows ~(JUMPS+1)^round → O(log diameter) rounds. The jump joins
      deliberately target the previous round's ``localCheckpoint``-ed
      frame, never the in-flight one: self-joining the un-cached frame
      recomputes the whole neighbor-min subtree once per jump level
      (measured 6× slower at sf0.1), while the checkpointed frame is a
      flat in-memory relation that extra references merely re-scan.
      The convergence check is free — an ``Observation`` counting
      changed labels rides the per-round materialization job.

    Pass ``local_threshold=0`` to force the distributed loop (used by
    the deep-chain tests) or a huge value to force union-find.
    """
    edges = (
        pairs.select(
            F.col("doc_id_a").alias("src"), F.col("doc_id_b").alias("dst")
        )
        .union(
            pairs.select(
                F.col("doc_id_b").alias("src"), F.col("doc_id_a").alias("dst")
            )
        )
        .localCheckpoint()
    )
    if edges.count() <= local_threshold:
        return _cc_union_find(edges)
    return _cc_label_propagation(edges)


def _cc_union_find(edges: DataFrame) -> DataFrame:
    """Single-task DSU over the materialized edge list. Union-by-min
    (larger root attaches under smaller) makes every root the minimum
    id of its component, so ``find`` directly yields the same label
    the distributed loop converges to."""

    def dsu(batches):
        import pandas as pd

        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        for pdf in batches:
            for s, d in zip(
                pdf["src"].to_numpy(), pdf["dst"].to_numpy()
            ):
                s, d = int(s), int(d)
                parent.setdefault(s, s)
                parent.setdefault(d, d)
                rs, rd = find(s), find(d)
                if rs != rd:
                    parent[max(rs, rd)] = min(rs, rd)
        ids = sorted(parent)
        yield pd.DataFrame(
            {"doc_id": ids, "label": [find(x) for x in ids]}
        )

    return edges.coalesce(1).mapInPandas(dsu, "doc_id long, label long")


def _cc_label_propagation(edges: DataFrame) -> DataFrame:
    """Distributed min-label propagation with pointer jumping — see
    ``connected_components`` for the algorithm and why jumps resolve
    against the previous round's materialized table."""
    from pyspark.sql import Observation

    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
        # EAGER (r18, ADVICE r17): round 1's single job touches the
        # seed frame from multiple consumers (the neighbor-min join
        # plus the jump legs), so a lazy checkpoint's concurrent
        # first-touch duplicates the distinct — the same rationale
        # that kept the k-core round checkpoints eager. A/B on a
        # depth-2000 chain (distributed path forced), interleaved:
        # lazy {6.58, 5.64, 4.75}s vs eager {5.94, 4.93, 4.73}s —
        # eager won every pair; the r17 one-fewer-job reasoning
        # never materialized as wall time.
        .localCheckpoint()
    )
    converged = False
    for i in range(MAX_CC_ITERS):
        nbr_min = (
            edges.join(
                labels.select(
                    F.col("doc_id").alias("dst"), F.col("label").alias("nbr")
                ),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("nbr").alias("nbr_min"))
        )
        cur = labels.join(
            nbr_min, labels["doc_id"] == nbr_min["src"], "left"
        ).select(
            "doc_id",
            F.col("label").alias("old_label"),
            F.least(
                F.col("label"),
                F.coalesce(F.col("nbr_min"), F.col("label")),
            ).alias("label"),
        )
        prev = labels.select(
            F.col("doc_id").alias("p_id"), F.col("label").alias("p_label")
        )
        for _ in range(CC_JUMPS_PER_ROUND):
            cur = cur.join(
                prev, cur["label"] == prev["p_id"], "left"
            ).select(
                "doc_id",
                "old_label",
                F.least(
                    F.col("label"),
                    F.coalesce(F.col("p_label"), F.col("label")),
                ).alias("label"),
            )
        obs = Observation(f"cc_round_{i}")
        stepped = cur.observe(
            obs,
            F.count_if(F.col("label") != F.col("old_label")).alias("changed"),
        ).localCheckpoint()  # truncate lineage — see module docstring
        labels = stepped.select("doc_id", "label")
        if obs.get["changed"] == 0:
            converged = True
            global LAST_CC_ROUNDS
            LAST_CC_ROUNDS = i + 1
            break
    if not converged:
        # with jumping, rounds needed ~= log_{JUMPS+1}(diameter) + 1;
        # a component blowing a 20-round cap would be astronomically
        # deep. Failing loudly beats silently-wrong (split) labels.
        raise RuntimeError(
            f"connected_components did not converge in {MAX_CC_ITERS} "
            "rounds — component diameter exceeds the iteration cap"
        )
    return labels


# ---------------------------------------------------------------------------
# Fuzzy-dedup curation: clusters -> keep one -> surviving corpus.
# ---------------------------------------------------------------------------
# The end-to-end act of fuzzy deduplication: MinHash+LSH near-dup
# pairs (dedup_minhash_lsh), transitive closure to clusters, keep the
# minimum doc_id per cluster, drop the rest — then report what
# survived, per language. This is the query a training-data curator
# actually runs; the pair/cluster queries above are its diagnostics.
#
# 100 TB shape: pairs and labels are candidate-scale (bounded by the
# near-dup rate), so the `removed` set broadcasts onto the corpus scan
# — the corpus itself is never shuffled, and the final aggregate
# carries |langs| partial rows.
from golang_etl_spark.operators.dedup import _minhash_oracle, dedup_minhash_lsh  # noqa: E402

_FUZZY_KEEP_ORACLE = f"""
WITH RECURSIVE pairs AS (
  {_minhash_oracle()}
),
edges AS (
  SELECT doc_id_a AS src, doc_id_b AS dst FROM pairs
  UNION ALL
  SELECT doc_id_b AS src, doc_id_a AS dst FROM pairs
),
reach AS (
  SELECT DISTINCT src AS doc_id, src AS label FROM edges
  UNION
  SELECT e.dst AS doc_id, r.label
  FROM reach r JOIN edges e ON e.src = r.doc_id
),
labels AS (
  SELECT doc_id, MIN(label) AS cluster_id FROM reach GROUP BY doc_id
),
removed AS (
  SELECT doc_id FROM labels WHERE doc_id <> cluster_id
)
SELECT d.lang,
       CAST(COUNT(*) - COUNT(r.doc_id) AS BIGINT) AS n_kept,
       CAST(COUNT(r.doc_id) AS BIGINT) AS n_removed
FROM documents d LEFT JOIN removed r ON d.doc_id = r.doc_id
GROUP BY d.lang
"""


@register(
    "dedup_fuzzy_keep_one",
    oracle=_FUZZY_KEEP_ORACLE,
    tags=("dedup", "llm"),
)
def dedup_fuzzy_keep_one(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy dedup end-to-end: near-dup clusters keep exactly their
    minimum doc_id; every other member is dropped. Returns per-language
    kept/removed counts over the WHOLE corpus (docs in no cluster are
    trivially kept)."""
    from golang_etl_spark.sources.catalog import load_table

    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_id_a", "doc_id_b")
    labels = connected_components(pairs)
    removed = labels.filter(F.col("doc_id") != F.col("label")).select(
        "doc_id", F.lit(1).alias("_removed")
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    # no broadcast hint: the removed set is duplicate-proportional
    # (a heavily duplicated corpus removes most of itself), so its
    # size is unknowable at plan time — AQE picks broadcast when the
    # runtime stats say it fits, shuffle-hash when they don't
    return (
        docs.join(removed, "doc_id", "left")
        .groupBy("lang")
        .agg(
            (F.count("*") - F.count("_removed")).cast("long").alias("n_kept"),
            F.count("_removed").cast("long").alias("n_removed"),
        )
    )


# ---------------------------------------------------------------------------
# Cluster-representative selection: keep the LONGEST member per
# near-dup cluster (quality-aware keep policy).
# ---------------------------------------------------------------------------
# dedup_fuzzy_keep_one keeps each cluster's minimum doc_id — the
# cheapest deterministic policy. Real curation pipelines usually keep
# the best member instead (longest text, highest quality score): near
# dups are often truncations or boilerplate-injected copies of one
# canonical document, and keep-min silently prefers whichever copy got
# the smaller id. This query emits each cluster's representative under
# the keep-longest policy (tie -> lowest doc_id) with the cluster size
# — the audit table a curator reviews before applying the drop.
#
# 100 TB shape: pairs and labels are candidate-scale; the doc-metadata
# join touches only clustered ids (AQE broadcasts when small); the
# per-cluster argmax is a struct-max that partial-aggregates map-side,
# so the exchange carries one row per cluster member, and the corpus
# itself is never shuffled.
_KEEP_LONGEST_ORACLE = f"""
WITH RECURSIVE pairs AS (
  {{minhash}}
),
edges AS (
  SELECT doc_id_a AS src, doc_id_b AS dst FROM pairs
  UNION ALL
  SELECT doc_id_b AS src, doc_id_a AS dst FROM pairs
),
reach AS (
  SELECT DISTINCT src AS doc_id, src AS label FROM edges
  UNION
  SELECT e.dst AS doc_id, r.label
  FROM reach r JOIN edges e ON e.src = r.doc_id
),
labels AS (
  SELECT doc_id, MIN(label) AS cluster_id FROM reach GROUP BY doc_id
),
members AS (
  SELECT l.cluster_id, l.doc_id, d.n_chars
  FROM labels l JOIN documents d ON d.doc_id = l.doc_id
),
rep AS (
  SELECT cluster_id, doc_id, n_chars,
         COUNT(*) OVER (PARTITION BY cluster_id) AS n_members,
         ROW_NUMBER() OVER (PARTITION BY cluster_id
                            ORDER BY n_chars DESC, doc_id) AS rn
  FROM members
)
SELECT cluster_id, doc_id AS kept_doc_id,
       CAST(n_members AS BIGINT) AS n_members,
       CAST(n_chars AS BIGINT) AS kept_chars
FROM rep WHERE rn = 1
ORDER BY cluster_id
"""


def _keep_longest_oracle() -> str:
    return _KEEP_LONGEST_ORACLE.format(minhash=_minhash_oracle())


@register(
    "dedup_keep_longest",
    oracle=_keep_longest_oracle(),
    tags=("dedup", "llm"),
)
def dedup_keep_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware cluster representatives: MinHash+LSH near-dup
    pairs -> transitive closure -> per cluster keep the member with
    the MOST characters (tie -> lowest doc_id). Emits one audit row
    per cluster (representative id, member count, its length); the
    companion dedup_fuzzy_keep_one applies the cheaper keep-min policy
    corpus-wide. The per-cluster argmax is a single struct-max
    aggregation ((n_chars, -doc_id) — highest length, then lowest id),
    identical to the oracle's ROW_NUMBER(ORDER BY n_chars DESC,
    doc_id) = 1."""
    from golang_etl_spark.sources.catalog import load_table

    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_id_a", "doc_id_b")
    labels = connected_components(pairs).select(
        "doc_id", F.col("label").alias("cluster_id")
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    members = labels.join(docs, "doc_id")
    best = F.max(
        F.struct(
            F.col("n_chars").alias("n_chars"),
            (-F.col("doc_id")).alias("nid"),
        )
    )
    return (
        members.groupBy("cluster_id")
        .agg(F.count("*").alias("n_members"), best.alias("s"))
        .select(
            "cluster_id",
            (-F.col("s.nid")).alias("kept_doc_id"),
            F.col("n_members").cast("long").alias("n_members"),
            F.col("s.n_chars").cast("long").alias("kept_chars"),
        )
        .orderBy("cluster_id")
    )


# ---------------------------------------------------------------------------
# Shared graph edge builders + triangle counting (graph analytics beyond connected components).
# ---------------------------------------------------------------------------
_TRI_MIN_ORDERS = 40  # brand-edge threshold (PageRank/LPA substrate)


def _brand_edges(spark: SparkSession, sf_dir: str, min_orders: int) -> DataFrame:
    """Undirected brand co-purchase edges (u < v), thresholded at
    ``min_orders`` shared orders: the one-exchange basket pipeline
    (broadcast part dim, collect_set per order, map-side HOF pair
    expansion) shared by the PageRank and LPA kernels. Kept in
    lockstep with the SQL twin CTEs (_PR_EDGE_CTE)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    # explicit repartition on the basket key (r18, the dedup
    # _pin_partitions rationale): the HOF pair expansion downstream is
    # heavy per ROW, not per byte, and the basket aggregate's output
    # is small enough that size-first AQE coalescing collapses it to
    # ~1 post-shuffle task, serializing the explode (interleaved A/B
    # at sf0.1: 2.74s -> 1.40s for the co-occurrence twin). The
    # repartition REPLACES the groupBy's own exchange (same key, so
    # the aggregate reuses the partitioning — exchange count
    # unchanged) and REPARTITION_BY_NUM is exempt from coalescing.
    baskets = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .repartition(spark.sparkContext.defaultParallelism, "l_orderkey")
        .groupBy("l_orderkey")
        .agg(F.collect_set("p_brand").alias("brands"))
    )
    return (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(brands, b1 -> "
                    "transform(filter(brands, b2 -> b2 > b1), "
                    "b2 -> struct(b1 AS u, b2 AS v))))"
                )
            ).alias("e")
        )
        .select("e.u", "e.v")
        .groupBy("u", "v")
        .agg(F.count("*").alias("n_orders"))
        .filter(F.col("n_orders") >= min_orders)
        .select("u", "v")
    )

# Triangle substrate (round 9): the brand graph is COMPLETE at
# sf >= 0.01 (25 brands, every pair co-purchased often), and a clique
# is the worst case for triangle enumeration — wedge cost is
# sum-of-forward-degree^2, which densification blows up with sf (the
# r6->r8 bench regressions). The PART co-purchase graph — the k-core
# kernel's substrate — moves the opposite way: part count grows with
# sf, so co-purchase collisions thin out and the graph gets SPARSER as
# the data grows (sf0.001: 2.3k edges / 3.3k triangles; sf0.1: 3.6k
# edges / ~1 triangle), which is the regime the oriented wedge join is
# built for.
_TRI_PART_MIN_ORDERS = 2  # parts sharing this many orders form an edge


def _part_edges(spark: SparkSession, sf_dir: str, min_orders: int) -> DataFrame:
    """Undirected PART co-purchase edges (u < v), thresholded at
    ``min_orders`` shared orders — the sparse substrate shared by the
    triangle and k-core kernels (same one-exchange basket pipeline as
    _brand_edges, no dimension join needed: l_partkey is the vertex).
    Kept in lockstep with its DuckDB twin _part_edge_cte, the single
    edge-CTE source both _TRI_ORACLE and _KCORE_ORACLE build on."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # no distinct() pre-pass: collect_set dedups partkeys within each
    # order during the basket build, so a separate distinct would just
    # add a second full shuffle of the fact table for nothing. The
    # explicit repartition pins the downstream HOF pair expansion at
    # full parallelism — same rationale as _brand_edges above (the
    # basket output is byte-light but row-heavy, so size-first AQE
    # coalescing would serialize the explode).
    baskets = li.repartition(
        spark.sparkContext.defaultParallelism, "l_orderkey"
    ).groupBy("l_orderkey").agg(
        F.collect_set("l_partkey").alias("parts")
    )
    return (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(parts, p1 -> "
                    "transform(filter(parts, p2 -> p2 > p1), "
                    "p2 -> struct(p1 AS u, p2 AS v))))"
                )
            ).alias("e")
        )
        .select("e.u", "e.v")
        .groupBy("u", "v")
        .agg(F.count("*").alias("n_orders"))
        .filter(F.col("n_orders") >= min_orders)
        .select("u", "v")
    )


def _part_edge_cte(alias: str, min_orders: int) -> str:
    """DuckDB twin of _part_edges, kept in lockstep with it: the same
    DISTINCT (order, part) basket, the same u < v vertex-order
    convention, the same shared-order threshold. The ONE source of
    edge SQL for both graph-kernel oracles (_TRI_ORACLE binds it as
    ``edges``, _KCORE_ORACLE as ``e0``), so the two cannot drift from
    each other or from the Spark substrate independently."""
    return f"""pb AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
{alias} AS MATERIALIZED (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM pb a JOIN pb b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING COUNT(*) >= {min_orders}
)"""


_TRI_ORACLE = f"""
WITH {_part_edge_cte("edges", _TRI_PART_MIN_ORDERS)},
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM edges e1
  JOIN edges e2 ON e2.u = e1.v
  JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
),
per_vertex AS (
  SELECT vertex, COUNT(*) AS n_triangles FROM (
    SELECT a AS vertex FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
  ) GROUP BY vertex
)
SELECT vertex AS l_partkey, CAST(n_triangles AS BIGINT) AS n_triangles
FROM per_vertex
ORDER BY n_triangles DESC, l_partkey
"""


@register(
    "graph_triangle_count",
    oracle=_TRI_ORACLE,
    tags=("join", "aggregation", "analytic"),
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex triangle counts on the part co-purchase graph
    (edges = part pairs sharing >= _TRI_PART_MIN_ORDERS orders) — the
    local clustering-coefficient numerator, and the standard second
    graph kernel after connected components (clustering.py:120).
    Moved off the brand graph in round 9: 25 brands form a clique at
    sf >= 0.01 and wedge cost on a clique grows with density, the
    opposite of how a real co-occurrence graph scales; the part graph
    (k-core's substrate) gets sparser as sf grows.

    100 TB shape: edges build with the same one-exchange basket
    pipeline as agg_brand_cooccurrence; the triangle enumeration is
    the classic oriented edge-edge-edge join (each edge stored once as
    u < v), which shuffles the EDGE table on its endpoints — never the
    fact table. Orienting edges low->high makes each triangle counted
    exactly once and bounds the wedge fan-out by forward-degree; on
    power-law graphs, orient by (degree, id) instead to cap the
    heaviest wedge list (same plan, different comparator).
    """
    edges = _part_edges(spark, sf_dir, _TRI_PART_MIN_ORDERS)
    return (
        triangle_per_vertex(edges)
        .select(F.col("vertex").alias("l_partkey"), "n_triangles")
        .orderBy(F.desc("n_triangles"), "l_partkey")
    )


def triangle_per_vertex(edges: DataFrame) -> DataFrame:
    """Per-vertex triangle counts for ANY oriented undirected edge
    list (one row per edge, u < v) — the kernel body of
    graph_triangle_count, split out so the 10x scale smoke can feed a
    synthetic graph. Cost is the wedge count (sum over vertices of
    forward-degree^2), which grows with EDGES at constant average
    degree — never vertices^2."""
    edges = edges.persist()
    # persisted: consumed three times by the triangle join
    e1 = edges.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = edges.select(F.col("u").alias("b2"), F.col("v").alias("c"))
    e3 = edges.select(F.col("u").alias("a3"), F.col("v").alias("c3"))
    tri = (
        e1.join(e2, F.col("b") == F.col("b2"))
        .join(e3, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")))
        .select("a", "b", "c")
    )
    # each triangle contributes one count to each of its three corners:
    # explode the corner array so the enumeration join runs ONCE (r18,
    # guide §2.4). The former 3-way unionAll of per-corner projections
    # replicated the whole wedge-join subtree three times in the plan —
    # three executions of both joins (ReusedExchange cannot stitch
    # broadcast-join pipelines back together), 3x the probe work for
    # identical output.
    verts = tri.select(
        F.explode(F.array("a", "b", "c")).alias("vertex")
    )
    return verts.groupBy("vertex").agg(F.count("*").alias("n_triangles"))


# ---------------------------------------------------------------------------
# PageRank, fixed iteration count (oracle-checked iterative algorithm).
# ---------------------------------------------------------------------------
_PR_DAMPING = 0.85
_PR_ITERS = 3

_PR_EDGE_CTE = f"""
ob AS (
  SELECT DISTINCT l.l_orderkey, p.p_brand
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
),
und AS (
  SELECT a.p_brand AS u, b.p_brand AS v
  FROM ob a JOIN ob b
    ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
  GROUP BY a.p_brand, b.p_brand
  HAVING COUNT(*) >= {_TRI_MIN_ORDERS}
),
edges AS (
  SELECT u, v FROM und UNION ALL SELECT v, u FROM und
),
deg AS (SELECT u, COUNT(*) AS d FROM edges GROUP BY u),
n AS (SELECT COUNT(*) AS n_v FROM deg)
"""


def _pr_iter_sql(k: int) -> str:
    """One unrolled PageRank step: r{k} from r{k-1}."""
    return f"""
r{k} AS (
  SELECT e.v AS vertex,
         (1 - {_PR_DAMPING}) / MAX(n.n_v) +
         {_PR_DAMPING} * SUM(r.rank / d.d) AS rank
  FROM edges e
  JOIN r{k - 1} r ON r.vertex = e.u
  JOIN deg d ON d.u = e.u
  CROSS JOIN n
  GROUP BY e.v
)"""


_PR_ORACLE = (
    "WITH "
    + _PR_EDGE_CTE.strip()
    + ",\nr0 AS (SELECT u AS vertex, 1.0 / n_v AS rank FROM deg CROSS JOIN n),"
    + ",".join(_pr_iter_sql(k) for k in range(1, _PR_ITERS + 1))
    + f"""
SELECT vertex AS p_brand, ROUND(rank, 8) AS pagerank
FROM r{_PR_ITERS}
ORDER BY pagerank DESC, p_brand
"""
)


@register(
    "graph_pagerank_fixed",
    oracle=_PR_ORACLE,
    tags=("analytic", "join", "aggregation"),
)
def graph_pagerank_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the brand co-purchase graph, exactly
    _PR_ITERS=3 iterations at damping 0.85 — an ITERATIVE algorithm under the
    hash gate: the oracle unrolls the same three steps as chained SQL
    CTEs, so every intermediate rank vector is replayed exactly
    (contrast similarity_ivf_kmeans, whose engine-divergent iteration
    order forces a rows-only check).

    100 TB shape: each step is one join of the rank vector against the
    edge list partitioned on vertex — pre-partition both on vertex and
    the join is exchange-free after the first step. The driver-side
    ``for`` loop builds a 3-step LINEAGE, not 3 jobs; at larger
    iteration counts checkpoint each step (clustering.py:120's
    pointer-jumping does exactly that) to stop plan growth. Ranks stay
    unnormalized by out-degree dangling mass because the undirected
    thresholded graph has none — every vertex has degree >= 1.
    """
    und = _brand_edges(spark, sf_dir, _TRI_MIN_ORDERS)
    ranks = pagerank_fixed_ranks(und)
    return ranks.select(
        F.col("vertex").alias("p_brand"), F.round("rank", 8).alias("pagerank")
    ).orderBy(F.desc("pagerank"), "p_brand")


def pagerank_fixed_ranks(
    und: DataFrame, iters: int = _PR_ITERS, damping: float = _PR_DAMPING
) -> DataFrame:
    """Fixed-iteration PageRank kernel over ANY undirected edge list
    (one row per edge, u < v) — split out of graph_pagerank_fixed so
    the 10x scale smoke can feed a synthetic graph. Per round: one
    rank-vector x edge-list join + one grouped sum, cost O(edges)."""
    edges = und.unionAll(
        und.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).persist()
    deg = edges.groupBy("u").agg(F.count("*").alias("d"))
    n_v = deg.count()  # bounded: vertex count of the thresholded graph
    # r18 (guide §2.4/§3.3): fold the out-degree into the edge list
    # ONCE — every iteration needs rank(u)/d(u) per edge, and the r17
    # loop re-joined deg inside each round (3 extra joins in the
    # unrolled plan). edges_d is lazy on purpose: it reads the cached
    # edge list, and its single broadcast-deg subtree is canonically
    # identical across the unrolled iterations, so the one exchange is
    # built once and ReusedExchange serves the rest.
    edges_d = edges.join(F.broadcast(deg), "u").select("u", "v", "d")
    inv = 1.0 / n_v
    ranks = None
    for i in range(iters):
        if ranks is None:
            # round 1: every seed rank is the SAME literal 1/n_v, so
            # the rank-vector join is an identity — inline the
            # constant and skip both the seed table and the join
            # (identical IEEE doubles: lit(1.0)/lit(n_v) and the
            # Python 1.0/n_v are the same division).
            joined, contrib = edges_d, F.lit(inv) / F.col("d")
        else:
            # rank vector is vertex-cardinality (orders of magnitude
            # below the edge list) — broadcast explicitly like the LPA
            # kernel's label vector (on a billion-vertex graph
            # pre-partition edges AND ranks on the vertex instead)
            joined = edges_d.join(F.broadcast(ranks), edges_d.u == ranks.vertex)
            contrib = F.col("rank") / F.col("d")
        ranks = (
            joined.groupBy(F.col("v").alias("dst"))
            .agg(
                (
                    F.lit((1 - damping) / n_v)
                    + F.lit(damping) * F.sum(contrib)
                ).alias("rank")
            )
            .select(F.col("dst").alias("vertex"), "rank")
        )
    return ranks


# ---------------------------------------------------------------------------
# Label-propagation communities (fixed synchronous iterations).
# ---------------------------------------------------------------------------
# The fourth graph kernel: LPA finds DENSE communities where connected
# components finds mere reachability. Each synchronous round every
# vertex adopts the MOST FREQUENT label among its neighbors, ties
# broken (count DESC, label ASC) so the iteration is a pure function
# of the previous labeling — the oracle unrolls the same
# _LPA_ITERS rounds as chained CTEs and the hash gate replays every
# intermediate labeling exactly.
_LPA_ITERS = 3


def _lpa_iter_sql(k: int) -> str:
    return f"""
l{k} AS (
  SELECT vertex, label FROM (
    SELECT e.v AS vertex, l.label,
           ROW_NUMBER() OVER (PARTITION BY e.v
                              ORDER BY COUNT(*) DESC, l.label) AS rk
    FROM edges e JOIN l{k - 1} l ON l.vertex = e.u
    GROUP BY e.v, l.label
  ) WHERE rk = 1
)"""


_LPA_ORACLE = (
    "WITH "
    + _PR_EDGE_CTE.strip()
    + ",\nl0 AS (SELECT u AS vertex, u AS label FROM deg),"
    + ",".join(_lpa_iter_sql(k) for k in range(1, _LPA_ITERS + 1))
    + f"""
SELECT vertex AS p_brand, label AS community
FROM l{_LPA_ITERS}
ORDER BY p_brand
"""
)


@register(
    "graph_lpa_communities",
    oracle=_LPA_ORACLE,
    tags=("analytic", "join", "aggregation"),
)
def graph_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label propagation on the brand co-purchase graph,
    exactly _LPA_ITERS rounds: every vertex adopts its neighbors'
    modal label with a deterministic (count DESC, label ASC)
    tie-break. Seeds are the vertex names themselves.

    100 TB shape: per round, one join of the label vector against the
    edge list plus one grouped argmax — the same exchange profile as
    the PageRank kernel; pre-partitioning both on vertex makes rounds
    after the first exchange-free. The driver loop builds a 3-round
    lineage (checkpoint per round past ~5 iterations, as the CC
    pointer-jumping loop does)."""
    und = _brand_edges(spark, sf_dir, _TRI_MIN_ORDERS)
    labels = lpa_fixed_labels(und)
    return labels.select(
        F.col("vertex").alias("p_brand"), F.col("label").alias("community")
    ).orderBy("p_brand")


def lpa_fixed_labels(und: DataFrame, iters: int = _LPA_ITERS) -> DataFrame:
    """Fixed-round synchronous LPA kernel over ANY undirected edge
    list (one row per edge, u < v) — split out of
    graph_lpa_communities so the 10x scale smoke can feed a synthetic
    graph. Per round: one label x edge join + one grouped argmax,
    cost O(edges); the round COUNT is fixed, independent of graph
    size."""
    edges = und.unionAll(
        und.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).persist()
    labels = edges.select("u").distinct().select(
        F.col("u").alias("vertex"), F.col("u").alias("label")
    )
    for _ in range(iters):
        # label vector = one row per vertex (brand-bounded here) —
        # broadcast keeps each round's join map-side; on a billion-
        # vertex graph pre-partition edges AND labels on the vertex
        # instead. The modal argmax is mode(label, deterministic=true)
        # — "most frequent, lowest value on ties", exactly the
        # oracle's ROW_NUMBER(ORDER BY COUNT(*) DESC, label) = 1 —
        # which partial-aggregates map-side (per-group label->count
        # maps, bounded by neighbor label diversity), so each round
        # pays ONE dst-keyed exchange. The r17 form spent TWO
        # exchanges per round: a (dst, label) counting aggregate, then
        # a dst-keyed min-of-struct argmax over the counts (the second
        # groupBy can't reuse the first's (dst, label) partitioning).
        labels = (
            edges.join(F.broadcast(labels), edges.u == labels.vertex)
            .groupBy(F.col("v").alias("dst"))
            .agg(F.mode("label", True).alias("label"))
            .select(F.col("dst").alias("vertex"), "label")
        )
    return labels


# ---------------------------------------------------------------------------
# k-core decomposition, fixed peel rounds (the fifth graph kernel).
# ---------------------------------------------------------------------------
# Degeneracy peeling: repeatedly drop vertices of degree < K and the
# edges touching them. The K-core is the fixed point; a FIXED round
# count makes each intermediate subgraph a pure function of the edge
# list, so the oracle unrolls the same peels as chained CTEs and the
# hash gate replays every round exactly (same discipline as the
# PageRank / LPA kernels above). The brand graph is complete at sf>=
# 0.01 (every vertex survives any K<24), so this kernel runs on the
# sparser PART co-purchase graph: parts sharing >= _KCORE_MIN_ORDERS
# orders, where K=3 peeling cascades for several rounds.
_KCORE_K = 3
_KCORE_ROUNDS = 4
_KCORE_MIN_ORDERS = 2

# AS MATERIALIZED on every round CTE: DuckDB inlines plain CTEs, so
# an unrolled peel would re-expand e0 ~3x per round (the same lineage
# fan-out the Spark kernel cuts with localCheckpoint — measured 100s+
# inlined vs sub-second materialized).
_KCORE_EDGE_CTE = _part_edge_cte("e0", _KCORE_MIN_ORDERS)


def _kcore_round_sql(r: int) -> str:
    """One unrolled peel: survivors k{r} from e{r-1} degrees, then the
    induced subgraph e{r}."""
    return f"""
d{r - 1} AS MATERIALIZED (
  SELECT vertex, COUNT(*) AS deg FROM (
    SELECT u AS vertex FROM e{r - 1} UNION ALL SELECT v FROM e{r - 1}
  ) GROUP BY vertex
),
k{r} AS MATERIALIZED (SELECT vertex FROM d{r - 1} WHERE deg >= {_KCORE_K}),
e{r} AS MATERIALIZED (
  SELECT u, v FROM e{r - 1}
  WHERE u IN (SELECT vertex FROM k{r})
    AND v IN (SELECT vertex FROM k{r})
)"""


_KCORE_ORACLE = (
    "WITH "
    + _KCORE_EDGE_CTE.strip()
    + ","
    + ",".join(_kcore_round_sql(r) for r in range(1, _KCORE_ROUNDS + 1))
    + f""",
df AS (
  SELECT vertex, COUNT(*) AS deg FROM (
    SELECT u AS vertex FROM e{_KCORE_ROUNDS}
    UNION ALL SELECT v FROM e{_KCORE_ROUNDS}
  ) GROUP BY vertex
)
SELECT k.vertex AS l_partkey,
       CAST(COALESCE(df.deg, 0) AS BIGINT) AS core_degree
FROM k{_KCORE_ROUNDS} k LEFT JOIN df ON df.vertex = k.vertex
ORDER BY l_partkey
"""
)


@register(
    "graph_kcore_peel",
    oracle=_KCORE_ORACLE,
    tags=("analytic", "join", "aggregation"),
)
def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K=3-core peeling on the part co-purchase graph (parts sharing
    >= _KCORE_MIN_ORDERS orders), exactly _KCORE_ROUNDS=4 synchronous
    peel rounds: each round drops vertices whose degree in the current
    subgraph is < K, then restricts the edge list to survivors. Output
    is the survivor set with its residual degree (COALESCE 0 for a
    survivor whose last neighbors were peeled the same round).

    100 TB shape: per round one edge-partitioned degree aggregation +
    two semi-joins of the edge list against the survivor set — cost
    O(edges) per round with a FIXED round count; the survivor table is
    vertex-sized, orders of magnitude below the edge list, so AQE
    broadcasts it when it fits and shuffle-semi-joins otherwise. Peel
    converges geometrically on sparse graphs; for full coreness
    numbers (not one fixed K) run the same loop per K ascending —
    each K reuses the previous core as its input, never the raw graph.

    Reference parity: /root/reference has no graph surface
    (extractor.go is row-migration only); beyond-reference extension
    per the build brief, same fixed-round oracle discipline as
    graph_pagerank_fixed above.
    """
    edges = _part_edges(spark, sf_dir, _KCORE_MIN_ORDERS)
    survivors, residual = kcore_peel(edges, _KCORE_K, _KCORE_ROUNDS)
    return (
        survivors.join(residual, "vertex", "left")
        .select(
            F.col("vertex").alias("l_partkey"),
            F.coalesce(F.col("deg"), F.lit(0)).cast("long").alias("core_degree"),
        )
        .orderBy("l_partkey")
    )


def kcore_peel(
    edges: DataFrame, k: int, rounds: int
) -> tuple[DataFrame, DataFrame]:
    """Fixed-round K-core peel kernel over ANY oriented undirected
    edge list (one row per edge, u < v) — split out of
    graph_kcore_peel so unit tests / scale smokes can feed synthetic
    graphs. Returns (survivor vertex set after the last round,
    residual (vertex, deg) over the final induced subgraph). Each
    round costs one degree aggregation + two survivor semi-joins,
    O(edges); the round count is fixed, independent of graph size."""

    def degrees(e: DataFrame) -> DataFrame:
        # one pass: each edge contributes a count to BOTH endpoints
        # via an exploded corner array (r18, guide §2.4) — the former
        # unionAll of two projections duplicated e's whole subtree in
        # the plan, executing the per-round semi-joins twice.
        return (
            e.select(F.explode(F.array("u", "v")).alias("vertex"))
            .groupBy("vertex")
            .agg(F.count("*").alias("deg"))
        )

    def restrict(e: DataFrame, surv: DataFrame) -> DataFrame:
        # survivor sets are vertex-sized (orders of magnitude below
        # the edge list) — broadcast both semi-joins. The two
        # broadcasts are NOT shared: the committed plan
        # (plans/r18/graph_kcore_peel_after.txt) has two separate
        # BroadcastExchanges, (4) and (7), each building the survivor
        # set once. On a billion-vertex graph pre-partition edges and
        # survivors on the vertex instead.
        return e.join(
            F.broadcast(surv), e.u == surv.vertex, "left_semi"
        ).join(F.broadcast(surv), F.col("v") == surv.vertex, "left_semi")

    # r18 rewrite (guide §8: decide with small rows, never move the
    # big ones): survivor sets shrink monotonically (a vertex peeled
    # in round r has even fewer neighbors afterwards), so the round-r
    # induced subgraph is e0 restricted to the LATEST survivor set
    # alone — e_r = e0 ⋉ s_r ⋉ s_r, by induction from
    # e_r = e_{r-1} ⋉ s_r and s_r ⊆ s_{r-1}. Each round therefore
    # checkpoints only the VERTEX-sized survivor set (the lineage cut
    # the loop still needs — s_r's plan otherwise nests s_{r-1}'s),
    # and the edge list is materialized exactly once: the r17 loop
    # localCheckpoint-ed the O(edges) induced subgraph every round,
    # a per-round edge-list write/read that at 100 TB dwarfs the
    # degree aggregation itself. Eagerness is deliberate, same
    # rationale as before (the survivor frame has multiple consumers
    # inside the next round's single job; a lazy checkpoint's
    # first-touch materialization lets concurrent consumers race and
    # duplicate the round's compute — r17 A/B on the edge-list
    # variant: eager 4.54s vs lazy 4.86s).
    e0 = edges.localCheckpoint()
    survivors = degrees(e0).filter(F.col("deg") >= k).select("vertex")
    for _ in range(rounds - 1):
        survivors = survivors.localCheckpoint()
        survivors = (
            degrees(restrict(e0, survivors))
            .filter(F.col("deg") >= k)
            .select("vertex")
        )
    survivors = survivors.localCheckpoint()
    return survivors, degrees(restrict(e0, survivors))
