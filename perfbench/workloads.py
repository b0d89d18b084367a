"""The benchmark workloads.

* ``ingest`` — everything that writes through a sink.  The paper's own
  traffic, ``etl.run_jobspec`` over two embedded-Derby JDBC shards into
  snappy parquet (one operation per table job), followed by the
  LLM-corpus path on a corpus with injected exact and near copies: the
  curation pass written via ``sinks.write_parquet``, then MinHash-LSH
  dedup, fuzzy keep-one and embedding-cosine dedup (one operation per
  registered query).
* ``query_mix`` — read-only: a fixed cycle of registered star-schema,
  window, top-k, skew and similarity queries over a generated star
  schema with Zipf-skewed customer keys, each materialised to the
  ``noop`` sink.

Each workload generates its inputs from the seed, registers them during
set-up, verifies every operation once — table jobs against the
generator's checksums, queries against ``oracle.compare_query`` — and
hands the harness the operations, whose outputs are checked again on
every timed run.
"""

from __future__ import annotations

import dataclasses
import threading
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext
from dataclasses import dataclass
from pathlib import Path

import pandas as pd
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

import gen
import stats
from tracing import Tracer, patched

from golang_etl_spark.etl import run_jobspec
from golang_etl_spark.jobspec import JobSpec, TableJob
from golang_etl_spark.oracle import compare_query, duckdb_connection
from golang_etl_spark.registry import all_queries
from golang_etl_spark.sources import catalog, sinks

# Verification runs operations concurrently: it is untimed set-up, and
# most of its cost is each operation's first, cold execution.
VERIFY_THREADS = 8


# ---------------------------------------------------------------------------
# Output checks.
# ---------------------------------------------------------------------------
def observed(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` with an observation of its row count and an order-
    insensitive fingerprint (sum and xor of per-row hashes).  Floating
    columns are hashed at eight significant digits, so a sum that
    merges partials in another order fingerprints the same."""
    cols = []
    for f in df.schema.fields:
        c = F.col(f"`{f.name}`")
        if isinstance(f.dataType, (T.DoubleType, T.FloatType)):
            c = F.format_string("%.7e", c)
        elif isinstance(f.dataType, T.DecimalType):
            c = c.cast("string")
        cols.append(c)
    h = F.xxhash64(*cols)
    obs = Observation()
    out = df.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.pmod(h, F.lit(2**31 - 1))).alias("hsum"),
        F.bit_xor(h).alias("hxor"),
    )
    return out, obs


def fingerprint(obs: Observation) -> tuple[int, int, int]:
    got = obs.get
    return int(got["rows"]), int(got["hsum"] or 0), int(got["hxor"] or 0)


def to_noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def parquet_stats(path: Path) -> dict:
    """Files, bytes and rows (from the footers) of a parquet directory."""
    files = sorted(path.glob("*.parquet"))
    return {
        "files": len(files),
        "bytes": sum(p.stat().st_size for p in files),
        "rows": sum(pq.ParquetFile(p).metadata.num_rows for p in files),
    }


def sink_metrics(sink_stats: list[dict]) -> dict:
    files = sum(s["files"] for s in sink_stats)
    size = sum(s["bytes"] for s in sink_stats)
    rows = sum(s["rows"] for s in sink_stats)
    n = len(sink_stats)
    return {
        "sinks.files": files / n if n else 0.0,
        "sinks.mb_written": size / 1e6 / n if n else 0.0,
        "sinks.mean_file_mb": size / 1e6 / files if files else 0.0,
        "sinks.out_bytes_per_row": size / rows if rows else 0.0,
    }


def mismatch(what: str, got, want) -> str | None:
    return None if got == want else f"{what}: got {got}, want {want}"


def run_all(tasks: list[Callable[[], object]]) -> list:
    """Results of ``tasks`` run on VERIFY_THREADS threads, in order."""
    with ThreadPoolExecutor(VERIFY_THREADS) as pool:
        futures = [pool.submit(t) for t in tasks]
        return [f.result() for f in futures]


@dataclass
class Op:
    name: str  # sample key
    span: str  # ``<layer>.<function>`` of the call the operation makes
    run: Callable[[], object]
    check: Callable[[object], str | None]  # error text, None when correct
    input_rows: int
    probe: Callable[[Tracer], dict] | None = None  # traced runs only


@dataclass
class Context:
    work: Path  # per-run scratch directory
    cache: Path  # generated inputs, kept across runs
    seed: int
    scale: float


class Workload:
    """Set-up, verification and operations of one workload."""

    name = ""
    tables: tuple[str, ...] = ()  # parquet inputs registered as views
    cycle_s = 10.0  # nominal seconds per cycle of operations, on 4 cores
    warm_up_cycles = 1  # untimed cycles between verification and timing

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.spark = None
        self.tracer = Tracer()
        self.ops: list[Op] = []
        self.leaks: list[int] = []  # persisted RDDs left, per released operation
        self.sink_stats: list[dict] = []  # one per timed sink write
        self.input_tables: dict[str, list[str]] = {}  # op -> tables it loads
        self._current = threading.local()  # op a verifying thread runs

    def generate(self) -> float:
        """Make (or reuse) the seed's parquet inputs; return generation
        seconds."""
        self.data, self.truth, gen_s = gen.parquet_inputs(self.ctx.cache, self.ctx.seed, self.ctx.scale)
        self.table_bytes = {t: (self.data / f"{t}.parquet").stat().st_size for t in self.truth["rows"]}
        return gen_s

    def register(self, spark) -> None:
        self.spark = spark
        catalog.register_views(spark, str(self.data), self.tables)

    def verify(self) -> list[str]:
        """Build ``self.ops`` and check each once; return the failures."""
        raise NotImplementedError

    def traced_functions(self, tracer: Tracer) -> list:
        """Layer functions bound to span-recording wrappers during the
        traced run, as ``patched`` targets."""
        return [(catalog, "load_table", lambda f: tracer.wrap(f, "sources.load_table"))]

    def layer_metrics(self, traced: list[dict], probes: list[dict]) -> dict:
        return {"sources.input_mb": stats.mean(self.input_mb(t["op"]) for t in traced)}

    def report(self) -> dict:
        """Workload-only end-to-end figures for the printed summary."""
        return {}

    def close(self) -> None:
        pass

    def release(self) -> None:
        """Drop every cached table and persisted RDD, recording how many
        RDDs the previous operation left persisted."""
        rdds = self.spark.sparkContext._jsc.getPersistentRDDs()
        self.leaks.append(rdds.size())
        for rdd in list(rdds.values()):
            rdd.unpersist(True)
        self.spark.catalog.clearCache()

    # -- verification against the DuckDB oracle --------------------------
    def _record_tables(self):
        """Patch target recording the tables each verified operation
        loads."""

        def wrapper_for(load_table):
            def recording(spark, sf_dir, name):
                tables = self.input_tables.setdefault(self._current.op, [])
                if name not in tables:
                    tables.append(name)
                return load_table(spark, sf_dir, name)

            return recording

        return [(catalog, "load_table", wrapper_for)]

    def compare(self, name: str, fn, oracle: str, con) -> tuple[tuple | None, str | None]:
        """Run ``fn`` once, compare it with ``oracle`` and return its
        fingerprint, or None and the reason it failed.  Thread-safe: the
        oracle runs on a cursor of its own."""
        obs_box = []

        def observed_fn(spark, sf_dir):
            df, obs = observed(fn(spark, sf_dir))
            obs_box.append(obs)
            return df

        self._current.op = name
        cur = con.cursor()
        try:
            res = compare_query(name, self.spark, str(self.data), observed_fn, oracle, cur)
        except Exception as e:  # a raising query is a failed verification
            return None, f"{name}: {type(e).__name__}: {e}"
        finally:
            cur.close()
        if not res.ok:
            return None, f"{name}: {res.detail}"
        fp = fingerprint(obs_box[-1])
        return fp, mismatch(f"{name} observed rows", fp[0], res.spark_rows)

    def input_rows(self, op_name: str) -> int:
        return sum(self.truth["rows"][t] for t in self.input_tables.get(op_name, ()))

    def input_mb(self, op_name: str) -> float:
        return sum(self.table_bytes[t] for t in self.input_tables.get(op_name, ())) / 1e6

    def _query_op(self, spec, ref, span: str, sink: Path | None = None, probe=None) -> Op:
        """One registered query, materialised in full: written with
        ``sinks.write_parquet`` to ``sink``, or to the ``noop`` sink."""
        d = str(self.data)
        build = query_span(spec)

        def run():
            # a query written to a sink gets its own span for the lazy
            # build, so the sink layer's self time excludes it
            with self.tracer.span(build) if build != span else nullcontext():
                df, obs = observed(spec.fn(self.spark, d))
            if sink is None:
                to_noop(df)
            else:
                sinks.write_parquet(df, str(sink))
            return fingerprint(obs)

        def check(fp):
            if ref is None:
                return f"{spec.name}: not verified in set-up"
            err = mismatch(f"{spec.name} fingerprint", fp, ref)
            if sink is not None:
                written = parquet_stats(sink)
                self.sink_stats.append(written)
                err = err or mismatch(f"{spec.name} rows in sink", written["rows"], fp[0])
            return err

        return Op(spec.name, span, run, check, self.input_rows(spec.name), probe)


def query_span(spec) -> str:
    return f"{spec.fn.__module__.rsplit('.', 1)[-1]}.{spec.name}"


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------
# dedup_fuzzy_keep_one's registered oracle closes the MinHash pairs with
# a recursive CTE, which takes seconds per thousand documents.  The
# benchmark checks it against the same final aggregate over cluster
# labels computed from the verified MinHash pairs with a union-find.
_KEEP_ONE_ORACLE = """
SELECT d.lang,
       CAST(COUNT(*) - COUNT(r.doc_id) AS BIGINT) AS n_kept,
       CAST(COUNT(r.doc_id) AS BIGINT) AS n_removed
FROM documents d LEFT JOIN bench_removed r ON d.doc_id = r.doc_id
GROUP BY d.lang
"""


def removed_by_keep_one(pairs) -> list[int]:
    """Documents dropped when every connected component of ``pairs``
    keeps only its lowest id."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return sorted(x for x in parent if find(x) != x)


def recall(found_pairs, injected) -> float:
    found = {tuple(p) for p in found_pairs}
    return sum(tuple(p) in found for p in injected) / len(injected) if injected else 1.0


class Ingest(Workload):
    name = "ingest"
    tables = ("documents", "embeddings")
    cycle_s = 15.0
    # Verification already runs every job and query once, as the timed
    # loop does; a second untimed cycle made the first timed one only
    # about 8 % faster and would cost 13 s a run.
    warm_up_cycles = 0

    def generate(self) -> float:
        self.db_dir, self.shards, derby_s = gen.derby_inputs(self.ctx.cache, self.ctx.seed, self.ctx.scale)
        return derby_s + super().generate()

    def register(self, spark) -> None:
        """Boot each shard's database, load the JDBC driver and register
        the corpus tables."""
        super().register(spark)
        self.spec = JobSpec(
            shards={s: gen.shard_url(self.db_dir, s) for s in self.shards["shards"]},
            source_format="jdbc",
        )
        for url in self.spec.shards.values():
            spark.read.format("jdbc").options(
                url=url, query="SELECT COUNT(*) AS n FROM SYS.SYSTABLES"
            ).load().collect()

    # -- table jobs -------------------------------------------------------
    def _job_op(self, shard: str, table: str) -> Op:
        out = self.ctx.work / "out" / shard / table
        job = TableJob(table=table, output=str(out), primary_key="id", db=shard)
        spec = dataclasses.replace(self.spec, jobs=(job,))
        want = self.shards["shards"][shard][table]
        key = f"{shard}.{table}"

        def run():
            return run_jobspec(self.spark, spec)[key]

        def check(rows_written):
            got = pq.read_table(out, columns=["id", "data"])
            ids = got.column("id").to_numpy()
            self.sink_stats.append(parquet_stats(out))
            return (
                mismatch(f"{key} rows_written", rows_written, want["rows"])
                or mismatch(f"{key} rows in sink", len(ids), want["rows"])
                or mismatch(f"{key} id checksum", gen.id_checksum(ids), want["id_checksum"])
                or mismatch(
                    f"{key} data bytes",
                    pc.sum(pc.binary_length(got.column("data"))).as_py(),
                    want["data_bytes"],
                )
            )

        def probe(tracer: Tracer) -> dict:
            from golang_etl_spark.etl import read_shard_table

            df = read_shard_table(self.spark, spec, job)
            parts = df.rdd.getNumPartitions()
            sizes = [r[1] for r in df.groupBy(F.spark_partition_id()).count().collect()]
            sizes += [0] * (parts - len(sizes))
            with tracer.span("etl.scan_noop") as s:
                to_noop(df)
            return {
                "op": key,
                "partitions": parts,
                "skew": max(sizes) / max(1.0, stats.median(sizes)),
                "scan_s": s.duration,
                "rows": want["rows"],
            }

        return Op(key, "etl.run_jobspec", run, check, want["rows"], probe)

    # -- corpus queries ---------------------------------------------------
    def _corpus_checks(self, con) -> list[tuple]:
        """(spec, oracle SQL) per corpus query; fills the oracle tables
        the MinHash, keep-one and embedding checks read, and the recall
        of the injected duplicates in the oracle's (verified) output."""
        specs = all_queries()
        con.execute(f"CREATE TABLE bench_minhash AS {specs['dedup_minhash_lsh'].oracle}")
        con.execute(f"CREATE TABLE bench_embed AS {specs['dedup_embedding_cosine'].oracle}")
        pairs = con.execute("SELECT doc_id_a, doc_id_b FROM bench_minhash").fetchall()
        con.register("removed", pd.DataFrame({"doc_id": removed_by_keep_one(pairs)}, dtype="int64"))
        con.execute("CREATE TABLE bench_removed AS SELECT * FROM removed")
        con.unregister("removed")
        self.recalls = {
            "near_dup_recall": recall(pairs, self.truth["near_doc_pairs"]),
            "semantic_dup_recall": recall(
                con.execute("SELECT vec_id_a, vec_id_b FROM bench_embed").fetchall(),
                self.truth["near_vec_pairs"],
            ),
        }
        return [
            (specs["pipeline_corpus_curation"], specs["pipeline_corpus_curation"].oracle),
            (specs["dedup_minhash_lsh"], "SELECT * FROM bench_minhash"),
            (specs["dedup_fuzzy_keep_one"], _KEEP_ONE_ORACLE),
            (specs["dedup_embedding_cosine"], "SELECT * FROM bench_embed"),
        ]

    def _curation_probe(self, spec):
        def probe(tracer: Tracer) -> dict:
            with tracer.span("text.curation_noop") as s:
                to_noop(spec.fn(self.spark, str(self.data)))
            return {"op": spec.name, "curation_s": s.duration}

        return probe

    def _candidates_probe(self, tracer: Tracer) -> dict:
        from golang_etl_spark.operators.dedup import minhash_candidates

        posting, bands, cand = minhash_candidates(self.spark, str(self.data))
        n = cand.count()
        posting.unpersist()
        bands.unpersist()
        return {"op": "dedup_minhash_lsh", "candidates": n}

    def verify(self) -> list[str]:
        jobs = [
            self._job_op(shard, table)
            for shard in self.shards["shards"]
            for table in gen.SHARD_TABLES
        ]
        con = duckdb_connection(str(self.data))
        try:
            checks = self._corpus_checks(con)
            with patched(self._record_tables()):
                # the corpus queries are the slowest: start them first
                results = run_all(
                    [lambda c=c: self.compare(c[0].name, c[0].fn, c[1], con) for c in checks]
                    + [lambda op=op: (None, op.check(op.run())) for op in jobs]
                )
        finally:
            con.close()
        self.sink_stats.clear()
        refs = [ref for ref, _err in results[: len(checks)]]
        self.refs = {spec.name: ref for (spec, _o), ref in zip(checks, refs)}
        curation, minhash, fuzzy, embedding = (spec for spec, _o in checks)
        self.ops = jobs + [
            self._query_op(
                curation, self.refs[curation.name], "sinks.write_parquet",
                sink=self.ctx.work / "out" / "curated", probe=self._curation_probe(curation),
            ),
            self._query_op(minhash, self.refs[minhash.name], query_span(minhash), probe=self._candidates_probe),
            self._query_op(fuzzy, self.refs[fuzzy.name], query_span(fuzzy)),
            self._query_op(embedding, self.refs[embedding.name], query_span(embedding)),
        ]
        return [err for _ref, err in results if err]

    def traced_functions(self, tracer: Tracer) -> list:
        from golang_etl_spark import etl
        from golang_etl_spark.operators import clustering, dedup

        def wrap(name):
            return lambda f: tracer.wrap(f, name)

        return super().traced_functions(tracer) + [
            (etl, "extract_table", wrap("etl.extract_table")),
            (etl, "read_shard_table", wrap("etl.read_shard_table")),
            (dedup, "minhash_candidates", wrap("dedup.minhash_candidates")),
            (clustering, "dedup_minhash_lsh", wrap("dedup.dedup_minhash_lsh")),
            (clustering, "connected_components", wrap("clustering.connected_components")),
        ]

    def layer_metrics(self, traced: list[dict], probes: list[dict]) -> dict:
        def op_s(name):
            return stats.mean(t["seconds"] for t in traced if t["op"] == name)

        jobs = [t for t in traced if t["op"].startswith("shard")]
        scans = {p["op"]: p for p in probes if "scan_s" in p}
        curation_s = stats.mean(p["curation_s"] for p in probes if "curation_s" in p)
        candidates = stats.mean(p["candidates"] for p in probes if "candidates" in p)
        # sink time: a job minus its bounds query and its scan; the
        # curation write minus the curation itself
        write = [
            t["seconds"] - t["descendants"].get("etl.read_shard_table", 0.0) - scans[t["op"]]["scan_s"]
            for t in jobs
            if t["op"] in scans
        ] + [op_s("pipeline_corpus_curation") - curation_s]
        scan_s = sum(p["scan_s"] for p in scans.values())
        verified = (self.refs.get("dedup_minhash_lsh") or (0,))[0]
        kept = (self.refs.get("pipeline_corpus_curation") or (0,))[0]
        return {
            **super().layer_metrics(traced, probes),
            "etl.bounds_s": stats.mean(t["descendants"].get("etl.read_shard_table", 0.0) for t in jobs),
            "etl.partitions": stats.mean(p["partitions"] for p in scans.values()),
            "etl.partition_skew": max((p["skew"] for p in scans.values()), default=0.0),
            "etl.scan_s": stats.mean(p["scan_s"] for p in scans.values()),
            "etl.scan_rows_per_s": sum(p["rows"] for p in scans.values()) / scan_s if scan_s else 0.0,
            "sinks.write_s": stats.mean(write),
            **sink_metrics(self.sink_stats),
            "text.curation_s": curation_s,
            "text.kept_ratio": kept / self.truth["rows"]["documents"],
            "dedup.minhash_s": op_s("dedup_minhash_lsh"),
            "dedup.candidates": candidates,
            "dedup.verified_pairs": verified,
            "dedup.candidate_precision": verified / candidates if candidates else 0.0,
            "dedup.embedding_s": op_s("dedup_embedding_cosine"),
            "dedup.near_dup_recall": self.recalls["near_dup_recall"],
            "dedup.semantic_dup_recall": self.recalls["semantic_dup_recall"],
            # keep-one re-derives the MinHash pairs it clusters
            "clustering.keep_one_s": op_s("dedup_fuzzy_keep_one") - op_s("dedup_minhash_lsh"),
        }

    def report(self) -> dict:
        return {
            "out_bytes_per_row": sink_metrics(self.sink_stats)["sinks.out_bytes_per_row"],
            **self.recalls,
        }

    def close(self) -> None:
        """Shut the Derby engine down so its databases close cleanly."""
        if self.spark is None:
            return
        from py4j.protocol import Py4JJavaError

        try:
            self.spark._jvm.java.sql.DriverManager.getConnection("jdbc:derby:;shutdown=true")
        except Py4JJavaError:
            pass  # Derby reports a successful shutdown as an exception


# ---------------------------------------------------------------------------
# query_mix
# ---------------------------------------------------------------------------
QUERY_MIX = (
    "agg_pricing_summary",
    "join_star_schema",
    "join_revenue_by_segment",
    "sql_revenue_by_nation",
    "sql_market_share",
    "window_running_sum",
    "topk_orders_per_segment",
    "join_skew_salted",
    "similarity_ivf_topk",
    "similarity_topk_bruteforce",
)


class QueryMix(Workload):
    name = "query_mix"
    tables = tuple(catalog.TABLES)
    # Every cycle loads ~350 classes of new generated code; the JIT spent
    # 12.6, 8.0, 6.6 and 5.8 s compiling in the second to fifth cycles
    # after verification.  Time the third and fourth.
    warm_up_cycles = 2

    def verify(self) -> list[str]:
        specs = [all_queries()[name] for name in QUERY_MIX]
        con = duckdb_connection(str(self.data))
        try:
            with patched(self._record_tables()):
                checked = run_all(
                    [lambda s=s: self.compare(s.name, s.fn, s.oracle, con) for s in specs]
                )
        finally:
            con.close()
        self.ops = [self._query_op(s, ref, query_span(s)) for s, (ref, _err) in zip(specs, checked)]
        return [err for _ref, err in checked if err]

    def layer_metrics(self, traced: list[dict], probes: list[dict]) -> dict:
        out = super().layer_metrics(traced, probes)
        for spec in (all_queries()[name] for name in QUERY_MIX):
            out[f"{query_span(spec)}_s"] = stats.mean(t["seconds"] for t in traced if t["op"] == spec.name)
        return out


WORKLOADS = {w.name: w for w in (Ingest, QueryMix)}
