"""Seeded input generator for the benchmark workloads.

Every input is a pure function of ``(seed, scale)``:

* ``parquet_inputs`` writes the ten fixture tables (star schema, event
  stream, documents, embeddings) with the schemas and value domains of
  ``FIXTURES.md``, so the registered queries and their DuckDB oracles
  run on them unchanged.  ``scale=1`` is the row count of the sf0.1
  fixture.  Customer keys in ``orders`` and ``events`` are Zipf-skewed.
  The corpus carries a known share of exact copies and of word-edited
  near copies, and the embeddings a known share of near-duplicate
  vectors; the injected pairs are recorded as ground truth.
* ``derby_inputs`` builds two embedded-Derby shard databases in the
  reference ``(id, data)`` schema: one large dense table, one table
  with sparse, gappy keys and three small tables per shard.  The
  expected row count and id checksums of every table are recorded.

Inputs are generated once per ``(seed, scale)`` into a cache directory
and reused by later runs; a directory is only used once its
``truth.json`` exists, which is written last.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import subprocess
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Cached input sets kept per kind; older ones are evicted.
CACHE_KEEP = 12

# -- star schema --------------------------------------------------------
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("large", "hot", "blue", "old", "cold", "small", "red", "new")
PART_NOUN = ("ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "spring")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
ZIPF_S = 1.05  # customer-key skew in orders and events

# -- corpus -------------------------------------------------------------
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("de", "en", "es", "fr", "zh")
EXACT_SHARE = 0.05  # documents that are exact copies of another
NEAR_SHARE = 0.10  # documents that are word-edited copies of another
NEAR_MIN_JACCARD = 0.75  # every injected near copy is at least this similar
EMBED_DIM = 64
EMBED_SIGMA = 0.125
VEC_DUP_SHARE = 0.10  # vectors that are noisy copies of another
VEC_DUP_NOISE = 0.1  # copy noise, relative to EMBED_SIGMA
MIN_VECTORS = 300  # the IVF query needs vec_ids 100..250

# -- extract shards -----------------------------------------------------
SHARDS = 2
DATA_LEN = 20
ALNUM = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz0123456789", dtype=np.uint8)
# table -> rows per shard at scale 1
SHARD_TABLES = {
    "big_table_1": 500_000,
    "sparse_keys": 100_000,
    "small_1k": 1_000,
    "small_10k": 10_000,
    "small_50k": 50_000,
}
SPARSE_SPAN = 100  # sparse_keys ids spread over ~100x their count


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent stream per table, so adding a table leaves the
    others unchanged."""
    digest = hashlib.sha256(stream.encode()).digest()
    return np.random.default_rng([seed, int.from_bytes(digest[:8], "little")])


def _rows(base: int, scale: float, floor: int = 1) -> int:
    return max(floor, int(round(base * scale)))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _zipf_keys(rng, n_keys: int, size: int) -> np.ndarray:
    """Keys 0..n_keys-1 drawn with Zipf(ZIPF_S) popularity; which key is
    hot is itself random."""
    p = 1.0 / np.arange(1, n_keys + 1) ** ZIPF_S
    ranks = rng.choice(n_keys, size=size, p=p / p.sum())
    return rng.permutation(n_keys)[ranks].astype(np.int64)


def _days(start: str, offsets: np.ndarray) -> np.ndarray:
    return np.datetime64(start, "us") + offsets.astype("timedelta64[D]").astype(
        "timedelta64[us]"
    )


# ---------------------------------------------------------------------------
# Parquet inputs: star schema, events, corpus, embeddings.
# ---------------------------------------------------------------------------
def star_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    n_cust = _rows(15_000, scale, 50)
    n_supp = _rows(1_000, scale, 10)
    n_part = _rows(20_000, scale, 50)
    n_orders = _rows(150_000, scale, 200)
    n_events = _rows(100_000, scale, 200)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    region = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": pa.array(REGIONS, s)}
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )

    r = _rng(seed, "customer")
    customer = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], s),
            "c_nationkey": pa.array(r.integers(0, 25, n_cust), i32),
            "c_acctbal": pa.array(_money(r, -999.99, 9999.99, n_cust), f64),
            "c_mktsegment": pa.array(np.array(SEGMENTS)[r.integers(0, 5, n_cust)], s),
        }
    )

    r = _rng(seed, "supplier")
    supplier = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], s),
            "s_nationkey": pa.array(r.integers(0, 25, n_supp), i32),
            "s_acctbal": pa.array(_money(r, -999.99, 9999.99, n_supp), f64),
        }
    )

    r = _rng(seed, "part")
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    part = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), i64),
            "p_name": pa.array(names[r.integers(0, len(names), n_part)], s),
            "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, n_part)], s),
            "p_type": pa.array(np.array(PART_TYPES)[r.integers(0, 6, n_part)], s),
            "p_size": pa.array(r.integers(1, 51, n_part), i32),
            "p_retailprice": pa.array(np.round(900 + r.integers(0, 1000, n_part) / 10, 1), f64),
        }
    )

    r = _rng(seed, "orders")
    order_days = r.integers(0, 2405, n_orders)  # 1995-01-01 .. 2001-08-01
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_orders), i64),
            "o_custkey": pa.array(_zipf_keys(r, n_cust, n_orders), i64),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[r.integers(0, 3, n_orders)], s),
            "o_totalprice": pa.array(_money(r, 1000.0, 500000.0, n_orders), f64),
            "o_orderdate": pa.array(_days("1995-01-01", order_days), ts),
            "o_orderpriority": pa.array(np.array(PRIORITIES)[r.integers(0, 5, n_orders)], s),
        }
    )

    r = _rng(seed, "lineitem")
    lines = r.integers(0, 8, n_orders)  # 0..7 lines per order, mean 3.5
    okey = np.repeat(np.arange(n_orders), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines]) if len(okey) else okey
    n_li = len(okey)
    ship = np.repeat(order_days, lines) + r.integers(1, 96, n_li)
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(okey, i64),
            "l_partkey": pa.array(r.integers(0, n_part, n_li), i64),
            "l_suppkey": pa.array(r.integers(0, n_supp, n_li), i64),
            "l_linenumber": pa.array(lnum, i32),
            "l_quantity": pa.array(r.integers(1, 51, n_li).astype(float), f64),
            "l_extendedprice": pa.array(_money(r, 900.0, 105000.0, n_li), f64),
            "l_discount": pa.array(r.integers(0, 11, n_li) / 100.0, f64),
            "l_tax": pa.array(r.integers(0, 9, n_li) / 100.0, f64),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[r.integers(0, 3, n_li)], s),
            "l_linestatus": pa.array(np.array(["F", "O"])[r.integers(0, 2, n_li)], s),
            "l_shipdate": pa.array(_days("1995-01-01", ship), ts),
        }
    )

    r = _rng(seed, "events")
    micros = np.sort(r.choice(30 * 86_400_000_000, n_events, replace=False))
    events = pa.table(
        {
            "event_id": pa.array(np.arange(n_events), i64),
            "ts": pa.array(np.datetime64("2024-01-01", "us") + micros.astype("timedelta64[us]"), ts),
            "user_id": pa.array(_zipf_keys(r, n_cust, n_events), i64),
            "event_type": pa.array(np.array(EVENT_TYPES)[r.integers(0, 5, n_events)], s),
            "value": pa.array(np.round(r.exponential(40.0, n_events), 2), f64),
            "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n_events)], s),
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
    }


def shingles(words: list[str]) -> set[str]:
    """Distinct word 3-grams, as the MinHash operator builds them."""
    if len(words) < 3:
        return {" ".join(words)}
    return {" ".join(words[i : i + 3]) for i in range(len(words) - 2)}


def jaccard(a: list[str], b: list[str]) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


def _near_copy(r, words: list[str]) -> list[str] | None:
    """One random word edit (substitute, delete or insert) keeping the
    shingle Jaccard at or above NEAR_MIN_JACCARD; None if no try does."""
    for _ in range(8):
        w = list(words)
        pos = int(r.integers(0, len(w)))
        kind = int(r.integers(0, 3))
        if kind == 0:
            w[pos] = VOCAB[(VOCAB.index(w[pos]) + 1 + int(r.integers(0, len(VOCAB) - 1))) % len(VOCAB)]
        elif kind == 1:
            del w[pos]
        else:
            w.insert(pos, VOCAB[int(r.integers(0, len(VOCAB)))])
        if w != words and jaccard(words, w) >= NEAR_MIN_JACCARD:
            return w
    return None


def corpus_tables(seed: int, scale: float) -> tuple[pa.Table, pa.Table, dict]:
    """(documents, embeddings, truth).  ``truth`` lists the injected
    near-copy document pairs, exact-copy pairs and near-duplicate
    vector pairs, each as ``[low_id, high_id]``."""
    r = _rng(seed, "documents")
    n_docs = _rows(5_000, scale, 200)
    n_exact = int(n_docs * EXACT_SHARE)
    n_near = int(n_docs * NEAR_SHARE)
    n_base = n_docs - n_exact - n_near
    texts = [
        [VOCAB[i] for i in r.integers(0, len(VOCAB), int(r.integers(10, 101)))]
        for _ in range(n_base)
    ]
    origin: list[int] = list(range(n_base))  # slot -> slot it copies
    kinds = ["base"] * n_base
    out_texts = [" ".join(w) for w in texts]
    for k in range(n_exact):
        src = int(r.integers(0, n_base))
        # half the exact copies differ only in whitespace, which the
        # curation pass normalizes away
        t = out_texts[src]
        out_texts.append(t if k % 2 else t.replace(" ", "  ", 1) + " ")
        origin.append(src)
        kinds.append("exact")
    long_docs = [i for i, w in enumerate(texts) if len(w) >= 40]
    made = 0
    while made < n_near:
        src = long_docs[int(r.integers(0, len(long_docs)))]
        w = _near_copy(r, texts[src])
        if w is None:
            continue
        out_texts.append(" ".join(w))
        origin.append(src)
        kinds.append("near")
        made += 1
    doc_ids = r.permutation(n_docs).astype(np.int64)  # slot -> doc_id
    lang = np.array(LANGS)[r.integers(0, len(LANGS), n_docs)]
    source = np.array([f"src{i}" for i in range(20)])[r.integers(0, 20, n_docs)]
    order = np.argsort(doc_ids)
    documents = pa.table(
        {
            "doc_id": pa.array(doc_ids[order], pa.int64()),
            "text": pa.array([out_texts[i] for i in order], pa.string()),
            "lang": pa.array(lang[order], pa.string()),
            "source": pa.array(source[order], pa.string()),
            "n_chars": pa.array([len(out_texts[i]) for i in order], pa.int64()),
        }
    )

    def pairs(kind: str) -> list[list[int]]:
        return sorted(
            sorted([int(doc_ids[i]), int(doc_ids[origin[i]])])
            for i in range(n_docs)
            if kinds[i] == kind
        )

    r = _rng(seed, "embeddings")
    n_vec = max(MIN_VECTORS, _rows(2_000, scale))
    n_vdup = int(n_vec * VEC_DUP_SHARE)
    base = r.normal(0.0, EMBED_SIGMA, (n_vec - n_vdup, EMBED_DIM))
    src = r.integers(0, n_vec - n_vdup, n_vdup)
    dups = base[src] + r.normal(0.0, EMBED_SIGMA * VEC_DUP_NOISE, (n_vdup, EMBED_DIM))
    vecs = np.vstack([base, dups]).astype(np.float32)
    labels = r.integers(0, 10, n_vec - n_vdup)
    labels = np.concatenate([labels, labels[src]])
    vperm = r.permutation(n_vec)  # slot -> vec_id
    vorder = np.argsort(vperm)
    embeddings = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vec), pa.int64()),
            "embedding": pa.array(list(vecs[vorder]), pa.list_(pa.float32())),
            "label": pa.array(labels[vorder], pa.int32()),
        }
    )
    base_n = n_vec - n_vdup
    vec_pairs = sorted(
        sorted([int(vperm[base_n + j]), int(vperm[s])]) for j, s in enumerate(src)
    )
    truth = {
        "near_doc_pairs": pairs("near"),
        "exact_doc_pairs": pairs("exact"),
        "near_vec_pairs": vec_pairs,
    }
    return documents, embeddings, truth


def table_fingerprint(t: pa.Table) -> str:
    """Content hash of a table (schema plus every value, in order)."""
    h = hashlib.sha256(str(t.schema).encode())
    for col in t.columns:
        col = col.combine_chunks()
        if pa.types.is_list(col.type):
            col = col.flatten()
        if pa.types.is_string(col.type):
            h.update("\x00".join(col.to_pylist()).encode())
        else:
            h.update(col.to_numpy(zero_copy_only=False).tobytes())
    return h.hexdigest()


# ---------------------------------------------------------------------------
# Derby shards.
# ---------------------------------------------------------------------------
def _alnum(r, n: int) -> np.ndarray:
    return ALNUM[r.integers(0, len(ALNUM), (n, DATA_LEN))].view(f"S{DATA_LEN}").ravel()


def shard_rows(seed: int, scale: float, shard: int, table: str) -> tuple[np.ndarray, np.ndarray]:
    """(ids, data) of one shard table.  Dense tables take disjoint id
    ranges per shard; ``sparse_keys`` puts most ids in a few dense runs
    spread over a key space ~SPARSE_SPAN times the row count."""
    n = _rows(SHARD_TABLES[table], scale, 10)
    r = _rng(seed, f"shard{shard}.{table}")
    if table == "sparse_keys":
        # the layout (8 dense runs at fixed places, 20 % spread thin) is
        # the same for every seed, so the scan's partition skew is too
        span = n * SPARSE_SPAN
        clustered = r.integers(0, 8, n * 4 // 5)
        centers = (np.arange(8) * 2 + 1) * (span - n) // 16
        near = centers[clustered] + r.integers(0, n // 2 + 1, len(clustered))
        spread = r.integers(0, span, n - len(clustered))
        ids = np.unique(np.concatenate([near, spread]))
        while len(ids) < n:  # top up the collisions
            ids = np.unique(np.concatenate([ids, r.integers(0, span, n - len(ids))]))
        ids = np.sort(r.permutation(ids)[:n]) + 1 + shard * span
    else:
        ids = np.arange(1, n + 1, dtype=np.int64) + shard * n
    return ids.astype(np.int64), _alnum(r, n)


def id_checksum(ids: np.ndarray) -> list[int]:
    """Order-insensitive [sum, sum of squares] of the ids, mod 2**64."""
    u = ids.astype(np.uint64)
    with np.errstate(over="ignore"):
        return [int(u.sum(dtype=np.uint64)), int((u * u).sum(dtype=np.uint64))]


def derby_classpath() -> str:
    import pyspark

    jars = sorted(glob.glob(os.path.join(os.path.dirname(pyspark.__file__), "jars", "derby*.jar")))
    if not jars:
        raise RuntimeError("no Derby jars in the pyspark distribution")
    return os.pathsep.join(jars)


def _build_shard(db_dir: Path, csv_dir: Path, seed: int, scale: float, shard: int) -> dict:
    truth = {}
    script = [f"connect 'jdbc:derby:{db_dir};create=true';"]
    for table in SHARD_TABLES:
        ids, data = shard_rows(seed, scale, shard, table)
        csv = csv_dir / f"{shard}_{table}.csv"
        with open(csv, "wb") as f:
            f.write(b"".join(b"%d,%s\n" % (i, d) for i, d in zip(ids.tolist(), data.tolist())))
        script.append(
            f'CREATE TABLE {table} ("id" BIGINT NOT NULL, "data" VARCHAR({DATA_LEN}) NOT NULL);'
        )
        script.append(
            f"CALL SYSCS_UTIL.SYSCS_IMPORT_TABLE(null, '{table.upper()}', '{csv}', ',', null, null, 0);"
        )
        truth[table] = {
            "rows": int(len(ids)),
            "id_checksum": id_checksum(ids),
            "data_bytes": int(len(ids) * DATA_LEN),
        }
    script += ["disconnect;", "exit;"]
    sql = csv_dir / f"shard{shard}.sql"
    sql.write_text("\n".join(script) + "\n")
    proc = subprocess.run(
        [
            "java",
            "-Xmx256m",
            f"-Dderby.stream.error.file={csv_dir / f'derby{shard}.log'}",
            "-Dij.exceptionTrace=true",
            "-cp",
            derby_classpath(),
            "org.apache.derby.tools.ij",
            str(sql),
        ],
        capture_output=True,
        text=True,
        timeout=300,
    )
    if proc.returncode != 0 or "ERROR" in proc.stdout:
        raise RuntimeError(f"Derby import failed for shard {shard}:\n{proc.stdout[-2000:]}")
    return truth


# ---------------------------------------------------------------------------
# Cache.
# ---------------------------------------------------------------------------
def _cached(cache_root: Path, kind: str, seed: int, scale: float, build) -> tuple[Path, dict, float]:
    """Return (dir, truth, generation seconds — 0 when reused).  The
    directory name carries a hash of this file, so inputs made by an
    older generator are never reused."""
    version = hashlib.sha256(Path(__file__).read_bytes()).hexdigest()[:10]
    final = cache_root / f"{kind}-s{seed}-x{scale:g}-{version}"
    truth_path = final / "truth.json"
    if truth_path.exists():
        os.utime(final)
        return final, json.loads(truth_path.read_text()), 0.0
    cache_root.mkdir(parents=True, exist_ok=True)
    t0 = time.perf_counter()
    tmp = Path(tempfile.mkdtemp(prefix=f".{kind}-", dir=cache_root))
    try:
        truth = build(tmp)
        # Derby stores absolute paths nowhere, so the finished directory
        # can be renamed into place
        (tmp / "truth.json").write_text(json.dumps(truth))
        shutil.rmtree(final, ignore_errors=True)
        os.rename(tmp, final)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    _evict(cache_root, kind, keep=final)
    return final, truth, time.perf_counter() - t0


def _evict(cache_root: Path, kind: str, keep: Path) -> None:
    others = sorted(
        (p for p in cache_root.glob(f"{kind}-s*") if p != keep),
        key=lambda p: p.stat().st_mtime,
    )
    for p in others[: max(0, len(others) - (CACHE_KEEP - 1))]:
        shutil.rmtree(p, ignore_errors=True)


def parquet_inputs(cache_root: Path, seed: int, scale: float) -> tuple[Path, dict, float]:
    def build(out: Path) -> dict:
        tables = star_tables(seed, scale)
        documents, embeddings, truth = corpus_tables(seed, scale)
        tables.update(documents=documents, embeddings=embeddings)
        for name, t in tables.items():
            pq.write_table(t, out / f"{name}.parquet")
        truth["rows"] = {name: t.num_rows for name, t in tables.items()}
        truth["fingerprints"] = {name: table_fingerprint(t) for name, t in tables.items()}
        return truth

    return _cached(cache_root, "parquet", seed, scale, build)


def derby_inputs(cache_root: Path, seed: int, scale: float) -> tuple[Path, dict, float]:
    def build(out: Path) -> dict:
        csv_dir = Path(tempfile.mkdtemp(prefix=".csv-", dir=out))
        try:
            with ThreadPoolExecutor(SHARDS) as pool:
                futs = [
                    pool.submit(_build_shard, out / f"shard{s}", csv_dir, seed, scale, s)
                    for s in range(SHARDS)
                ]
                shards = {f"shard{s}": f.result() for s, f in enumerate(futs)}
        finally:
            shutil.rmtree(csv_dir, ignore_errors=True)
        return {"shards": shards}

    return _cached(cache_root, "derby", seed, scale, build)


def shard_url(db_dir: Path, shard: str) -> str:
    return f"jdbc:derby:{db_dir / shard}"
