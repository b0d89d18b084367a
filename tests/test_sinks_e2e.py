"""End-to-end ETL parity tests (SURVEY.md §5.4): run the pipeline on
fixture parquet, assert exported row count == source count, id-set
equality, and schema equality — the assertions the reference never
makes (its scan-error path silently drops rows,
/root/reference/extractor.go:88-91).
"""

import glob

from pyspark.sql import functions as F

from golang_etl_spark.etl import extract_table
from golang_etl_spark.jobspec import JobSpec, TableJob
from golang_etl_spark.sources.catalog import load_table
from golang_etl_spark.sources.sinks import (
    read_csv,
    read_json,
    seed_table,
    write_csv,
    write_json,
    write_parquet,
)


def test_extract_table_end_to_end(spark, sf_dir, tmp_path):
    out = str(tmp_path / "lineitem_out")
    spec = JobSpec(
        shards={"fixtures": sf_dir},
        jobs=(TableJob("lineitem", out, "l_orderkey", "fixtures"),),
        source_format="parquet",
    )
    n = extract_table(spark, spec, spec.jobs[0])

    src = load_table(spark, sf_dir, "lineitem")
    dst = spark.read.parquet(out)
    assert n == src.count()
    assert dst.schema == src.schema
    # id-set equality (order-insensitive): no silent drops, no dupes
    assert dst.count() == src.count()
    diff = src.select("l_orderkey", "l_linenumber").exceptAll(
        dst.select("l_orderkey", "l_linenumber")
    )
    assert diff.count() == 0


def test_max_records_per_file_bounds_files(spark, sf_dir, tmp_path):
    # parity with the reference's 100k-row batch files
    # (extractor.go:119): rows-per-file is bounded, file count follows
    out = str(tmp_path / "bounded")
    li = load_table(spark, sf_dir, "lineitem")  # ~6000 rows at sf0.001
    write_parquet(li.repartition(1), out, max_records_per_file=1000)
    files = glob.glob(f"{out}/*.parquet")
    assert len(files) >= 6
    for f in files:
        assert spark.read.parquet(f).count() <= 1000


def test_csv_json_roundtrip(spark, sf_dir, tmp_path):
    src = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )
    schema = "o_orderkey LONG, o_custkey LONG, o_totalprice DOUBLE, o_orderpriority STRING"

    csv_path = str(tmp_path / "orders_csv")
    write_csv(src, csv_path)
    back = read_csv(spark, csv_path, schema)
    assert back.count() == src.count()
    assert back.exceptAll(src).count() == 0

    json_path = str(tmp_path / "orders_json")
    write_json(src, json_path)
    back_j = read_json(spark, json_path, schema)
    assert back_j.count() == src.count()
    assert back_j.exceptAll(src).count() == 0


def test_seed_table_deterministic_and_distributed(spark):
    df = seed_table(spark, n_rows=1000)
    rows = {r["id"]: r["data"] for r in df.collect()}
    assert len(rows) == 1000
    assert all(len(v) == 20 for v in rows.values())
    # deterministic: second build identical (unlike the reference's
    # wall-clock-seeded generator, tmp/data_seed.go:49)
    rows2 = {r["id"]: r["data"] for r in seed_table(spark, n_rows=1000).collect()}
    assert rows == rows2
    # distributed: the plan is a Range scan, no driver-side loop
    assert "Range" in seed_table(spark)._jdf.queryExecution().executedPlan().toString()


def test_orc_roundtrip(spark, sf_dir, tmp_path):
    from golang_etl_spark.sources.sinks import read_orc, write_orc

    src = load_table(spark, sf_dir, "orders")
    path = str(tmp_path / "orders_orc")
    write_orc(src, path)
    back = read_orc(spark, path)
    assert back.schema == src.schema
    assert back.count() == src.count()
    assert back.exceptAll(src).count() == 0


def test_seed_shard_parquet_roundtrip(spark, tmp_path):
    # the seeder round-trip of /root/reference/tmp/data_seed.go:23-73,
    # jobspec-driven: seed a parquet shard, read it back through the
    # extractor's own shard reader, verify contents
    from golang_etl_spark.etl import read_shard_table
    from golang_etl_spark.sources.sinks import seed_shard

    shard_dir = str(tmp_path / "jerry")
    spec = JobSpec(
        shards={"jerry": shard_dir},
        jobs=(TableJob("big_table_1", str(tmp_path / "out"), "id", "jerry"),),
        source_format="parquet",
    )
    seed_shard(spark, spec, spec.jobs[0], n_rows=2500)
    back = read_shard_table(spark, spec, spec.jobs[0])
    assert back.count() == 2500
    assert back.columns == ["id", "data"]
    assert back.exceptAll(seed_table(spark, n_rows=2500)).count() == 0


def test_compact_dir_preserves_rows_and_bounds_files(spark, sf_dir, tmp_path):
    from golang_etl_spark.sources.catalog import load_table
    from golang_etl_spark.sources.sinks import compact_dir

    out = str(tmp_path / "frag")
    ev = load_table(spark, sf_dir, "events")
    ev.repartition(64).write.parquet(out)
    before = sorted(p.name for p in (tmp_path / "frag").glob("*.parquet"))
    assert len(before) == 64
    want = ev.count()

    compact_dir(spark, out, target_files=4)
    after = sorted(p.name for p in (tmp_path / "frag").glob("*.parquet"))
    assert len(after) <= 4
    back = spark.read.parquet(out)
    assert back.count() == want
    # spot-check content, not just cardinality
    a = back.agg({"value": "sum"}).collect()[0][0]
    b = ev.agg({"value": "sum"}).collect()[0][0]
    assert abs(a - b) < 1e-6


def test_merge_schema_reads_evolved_directory(spark, sf_dir, tmp_path):
    from golang_etl_spark.sources.catalog import load_table
    from golang_etl_spark.sources.sinks import read_parquet_evolved
    from pyspark.sql import functions as F

    out = str(tmp_path / "evolved")
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    ev.limit(100).write.parquet(out)  # v1 schema: 2 columns
    (
        ev.limit(50)
        .withColumn("quality_score", F.lit(0.5))
        .write.mode("append")
        .parquet(out)
    )  # v2 schema: +1 column

    merged = read_parquet_evolved(spark, out)
    assert set(merged.columns) == {"event_id", "user_id", "quality_score"}
    assert merged.count() == 150
    # v1 rows surface NULL for the added column
    assert merged.filter(F.col("quality_score").isNull()).count() == 100


def test_zorder_layout_localizes_both_dimensions(spark, sf_dir, tmp_path):
    """The z-order property: every output file covers a NARROW range
    of BOTH interleaved keys, where a single-dimension sort leaves the
    second key spanning the whole domain per file. Parquet min/max
    footer stats prune on exactly these per-file extents, so narrow
    extents == multi-dimensional data skipping."""
    from pyspark.sql import functions as F

    from golang_etl_spark.operators.layout import ZORDER_FILES, zorder_write
    from golang_etl_spark.sources.catalog import load_table

    zdir = str(tmp_path / "z")
    zorder_write(spark, sf_dir, zdir)

    sdir = str(tmp_path / "s")  # the contrast: sort by l_orderkey only
    (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey", "l_returnflag", "l_extendedprice")
        .repartitionByRange(ZORDER_FILES, "l_orderkey")
        .sortWithinPartitions("l_orderkey")
        .write.mode("overwrite")
        .parquet(sdir)
    )

    def mean_extents(path):
        per_file = (
            spark.read.parquet(path)
            .groupBy(F.input_file_name().alias("f"))
            .agg(
                (F.max("l_orderkey") - F.min("l_orderkey")).alias("ok_ext"),
                (F.max("l_partkey") - F.min("l_partkey")).alias("pk_ext"),
            )
        )
        dom = per_file.agg(F.avg("ok_ext"), F.avg("pk_ext")).first()
        b = (
            spark.read.parquet(path)
            .agg(
                (F.max("l_orderkey") - F.min("l_orderkey")),
                (F.max("l_partkey") - F.min("l_partkey")),
            )
            .first()
        )
        return dom[0] / max(b[0], 1), dom[1] / max(b[1], 1)

    z_ok, z_pk = mean_extents(zdir)
    s_ok, s_pk = mean_extents(sdir)
    # z-order: both dims localized (16 files ≈ 2 prefix bits per dim →
    # ideal extent 0.25; generous margin for range-boundary sampling)
    assert z_ok < 0.6 and z_pk < 0.6, (z_ok, z_pk)
    # single-dim sort: first key tightly localized, second key spans
    # (almost) the whole domain in every file — no skipping possible
    assert s_ok < 0.2, s_ok
    assert s_pk > 0.8, s_pk
    # and the curve's second-dim locality must beat the sort's by a lot
    assert z_pk < s_pk / 2


def test_compaction_reduces_file_count_losslessly(spark, sf_dir, tmp_path):
    """64 fragment files must compact to ceil(n/target) files with
    identical contents (row count + id checksum)."""
    import glob

    from pyspark.sql import functions as F

    from golang_etl_spark.operators.layout import compact_parquet
    from golang_etl_spark.sources.catalog import load_table

    frag = str(tmp_path / "frag")
    ev = load_table(spark, sf_dir, "events")
    ev.repartition(64).write.mode("overwrite").parquet(frag)
    assert len(glob.glob(f"{frag}/part-*.parquet")) == 64

    out = str(tmp_path / "compact")
    n_files = compact_parquet(spark, frag, out, target_rows=100_000)
    got_files = glob.glob(f"{out}/part-*.parquet")
    assert len(got_files) == n_files  # returns the OBSERVED count

    src = ev.agg(F.count("*"), F.sum("event_id")).first()
    dst = spark.read.parquet(out).agg(F.count("*"), F.sum("event_id")).first()
    assert tuple(src) == tuple(dst)


def test_compaction_multifile_respects_target(spark, sf_dir, tmp_path):
    """Multi-file path (target_rows < n): the invariant is rows-per-file
    <= target — coalesce merges unevenly so the exact count may exceed
    the plan, which the returned observed count must reflect."""
    import glob

    from pyspark.sql import functions as F

    from golang_etl_spark.operators.layout import compact_parquet
    from golang_etl_spark.sources.catalog import load_table

    frag = str(tmp_path / "frag")
    ev = load_table(spark, sf_dir, "events")
    n = ev.count()
    target = max(1, n // 7)  # forces >= 7 output files at any fixture SF
    ev.repartition(16).write.mode("overwrite").parquet(frag)

    out = str(tmp_path / "compact")
    n_files = compact_parquet(spark, frag, out, target_rows=target)
    got_files = glob.glob(f"{out}/part-*.parquet")
    assert len(got_files) == n_files
    assert n_files >= 7

    per_file = (
        spark.read.parquet(out)
        .groupBy(F.input_file_name().alias("f"))
        .count()
        .collect()
    )
    assert all(r["count"] <= target for r in per_file)
    assert sum(r["count"] for r in per_file) == n


def test_range_sorted_files_disjoint_and_ordered(spark, sf_dir, tmp_path):
    """The total-order property: per-file (ts, event_id) ranges must be
    pairwise disjoint and concatenate in global order, and within each
    file rows must be sorted — i.e. reading files in range order IS the
    globally sorted table, no re-sort needed."""
    from pyspark.sql import functions as F

    from golang_etl_spark.operators.layout import range_sorted_write

    out = str(tmp_path / "sorted")
    range_sorted_write(spark, sf_dir, out)

    per_file = (
        spark.read.parquet(out)
        .groupBy(F.input_file_name().alias("f"))
        .agg(
            F.min(F.struct("ts", "event_id")).alias("lo"),
            F.max(F.struct("ts", "event_id")).alias("hi"),
        )
        .collect()
    )
    assert len(per_file) > 1
    spans = sorted(
        ((tuple(r["lo"]), tuple(r["hi"])) for r in per_file)
    )
    for (lo, hi), (nlo, nhi) in zip(spans, spans[1:]):
        assert hi <= nlo, f"file ranges overlap: {hi} vs {nlo}"

    # within-file order: event ranked by (ts, event_id) inside its file
    # must equal the file's row order (checked via a per-file window)
    from pyspark.sql import Window as W

    df = spark.read.parquet(out).withColumn("fname", F.input_file_name())
    w = W.partitionBy("fname").orderBy("ts", "event_id")
    # monotonically_increasing_id preserves parquet row order per file
    # read; re-sorting by (ts,event_id) must not change the sequence
    with_order = df.withColumn("phys", F.monotonically_increasing_id())
    ranked = with_order.withColumn("logical", F.row_number().over(w))
    disorder = (
        ranked.groupBy("fname")
        .agg(
            F.corr(F.col("phys").cast("double"), F.col("logical").cast("double")).alias("c")
        )
        .filter((F.col("c") < 0.999999) | F.col("c").isNull())
        .count()
    )
    assert disorder == 0, "rows inside a file are not in sort order"


def test_backfill_rewrites_only_target_partition(spark, sf_dir, tmp_path):
    """Dynamic partition overwrite must leave every non-target
    partition's files byte-identical (same paths, sizes, mtimes) and
    replace — not append to — the target partition's directory."""
    import os

    def _stat_tree(root, skip):
        out = {}
        for dirpath, _, files in os.walk(root):
            if skip in dirpath:
                continue
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(dirpath, f)
                    st = os.stat(p)
                    out[p] = (st.st_size, st.st_mtime_ns)
        return out

    out = str(tmp_path / "events_bf")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type", "value"
    )
    ev.write.mode("overwrite").partitionBy("event_type").parquet(out)
    before = _stat_tree(out, skip="event_type=error")
    n_error_before = spark.read.parquet(out).filter(
        "event_type = 'error'"
    ).count()

    corrected = ev.filter(F.col("event_type") == "error").withColumn(
        "value", F.col("value") * 0.5
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        corrected.write.mode("overwrite").partitionBy("event_type").parquet(out)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    after = _stat_tree(out, skip="event_type=error")
    assert before == after, "non-target partition files were touched"
    # replaced, not appended: row count unchanged, values halved
    err = spark.read.parquet(out).filter("event_type = 'error'")
    assert err.count() == n_error_before


def test_erasure_rewrites_only_target_buckets(spark, sf_dir, tmp_path):
    """Targeted erasure must rewrite ONLY the hash buckets that can
    contain the requested users: every other bucket's files stay
    byte-identical (path, size, mtime), and the target buckets end up
    with zero rows for the erased users and all their other rows
    intact."""
    import os

    from golang_etl_spark.operators.layout import (
        ERASE_BUCKET_EXPR,
        _ERASE_USERS,
    )

    def _stat_tree(root, skip_dirs):
        out = {}
        for dirpath, _, files in os.walk(root):
            if any(s in dirpath for s in skip_dirs):
                continue
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(dirpath, f)
                    st = os.stat(p)
                    out[p] = (st.st_size, st.st_mtime_ns)
        return out

    out = str(tmp_path / "events_erase")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "user_id", "value", f"{ERASE_BUCKET_EXPR} AS user_bucket"
    )
    ev.write.mode("overwrite").partitionBy("user_bucket").parquet(out)
    users = list(_ERASE_USERS)
    targets = sorted(
        r["user_bucket"]
        for r in ev.filter(F.col("user_id").isin(users))
        .select("user_bucket")
        .distinct()
        .collect()
    )
    assert targets, "fixture must contain at least one requested user"
    skip = [f"user_bucket={b}" for b in targets]
    before = _stat_tree(out, skip)
    n_other_before = (
        spark.read.parquet(out)
        .filter(
            F.col("user_bucket").isin(targets)
            & ~F.col("user_id").isin(users)
        )
        .count()
    )

    survivors = ev.filter(
        F.col("user_bucket").isin(targets) & ~F.col("user_id").isin(users)
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        survivors.write.mode("overwrite").partitionBy("user_bucket").parquet(out)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    after = _stat_tree(out, skip)
    assert before == after, "non-target bucket files were touched"
    back = spark.read.parquet(out)
    assert back.filter(F.col("user_id").isin(users)).count() == 0
    assert (
        back.filter(
            F.col("user_bucket").isin(targets)
            & ~F.col("user_id").isin(users)
        ).count()
        == n_other_before
    )


def test_erasure_deletes_fully_erased_bucket(spark, tmp_path):
    """Dynamic partition overwrite cannot delete a partition the new
    data has no rows for: when EVERY row of a bucket belongs to the
    erased users, the operator must remove the directory explicitly
    and still report the bucket with n_rows_after=0 — otherwise the
    forgotten users' files silently survive."""
    from golang_etl_spark.operators.layout import targeted_erasure

    out = str(tmp_path / "erase_all")
    # bucket 0 holds ONLY users 100/101; bucket 1 holds user 200
    rows = [(100, 1.0, 0), (101, 2.0, 0), (200, 3.0, 1), (201, 4.0, 1)]
    ev = spark.createDataFrame(
        rows, "user_id long, value double, user_bucket int"
    )
    report = {
        r["user_bucket"]: r
        for r in targeted_erasure(ev, out, [100, 101]).collect()
    }
    assert report[0]["n_rows_after"] == 0
    assert report[0]["n_erased"] == 2
    assert report[0]["rewritten"] == 1
    assert report[1]["n_rows_after"] == 2
    assert report[1]["rewritten"] == 0
    import os

    assert not os.path.exists(os.path.join(out, "user_bucket=0"))
    back = spark.read.parquet(out)
    assert back.filter("user_id IN (100, 101)").count() == 0
    assert back.count() == 2


def test_shard_manifest_packing_invariants(spark, sf_dir):
    """Replays the virtual byte-offset bucketing sequentially in
    pandas (items end-to-end per type, shard = start_offset // budget)
    and asserts the distributed two-level prefix sum produced the
    identical manifest — coverage, per-shard counts, bytes and doc
    bounds."""
    from golang_etl_spark.operators.multimodal import (
        SHARD_BUDGET_BYTES,
        multimodal_shard_manifest,
        payload_df,
    )

    got = {
        (r["media_type"], r["shard_id"]): (
            r["n_items"], r["shard_bytes"], r["first_doc"], r["last_doc"]
        )
        for r in multimodal_shard_manifest(spark, sf_dir).collect()
    }
    items = (
        payload_df(spark, sf_dir)
        .selectExpr(
            "doc_id",
            "media_type",
            "CASE media_type WHEN 'image' THEN meta.width * meta.height * 3 "
            "WHEN 'audio' THEN meta.duration_s * 32000 "
            "ELSE meta.duration_s * 100000 END AS est_bytes",
        )
        .collect()
    )
    want = {}
    offsets = {}
    for r in sorted(items, key=lambda r: (r["media_type"], r["doc_id"])):
        start = offsets.get(r["media_type"], 0)
        offsets[r["media_type"]] = start + r["est_bytes"]
        key = (r["media_type"], start // SHARD_BUDGET_BYTES)
        n, b, lo, hi = want.get(key, (0, 0, r["doc_id"], r["doc_id"]))
        want[key] = (n + 1, b + r["est_bytes"], min(lo, r["doc_id"]),
                     max(hi, r["doc_id"]))
    assert got == want


def test_shard_manifest_no_single_partition_window(spark, sf_dir):
    """The prefix sum must be the two-level bucket formulation — a
    naive SUM() OVER (ORDER BY) would show an Exchange SinglePartition
    feeding a Window, serializing the corpus through one task."""
    from golang_etl_spark.registry import all_queries

    df = all_queries()["multimodal_shard_manifest"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan, plan
