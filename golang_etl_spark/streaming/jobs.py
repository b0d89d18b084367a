"""Structured Streaming over the ``events`` fixture: watermarked
tumbling/sliding windows, session windows, streaming dedup (unbounded
dropDuplicates AND watermark-bounded dropDuplicatesWithinWatermark),
stream-static + stream-stream interval joins, custom stateful
operators (applyInPandasWithState; transformWithStateInPandas where
its protobuf dependency exists), and an idempotent foreachBatch sink.

The reference is a batch snapshot extractor — zero streaming
(SURVEY.md §2.5). These jobs run the file stream to completion with
``Trigger.AvailableNow`` into a memory sink, so each registry entry
still returns a deterministic DataFrame the DuckDB oracle can check:
the streaming runtime (state store, window merge, watermark tracking)
is fully exercised, while the *results* stay batch-equivalent.

Scale notes (100 TB stance):
- all aggregations are keyed (window/event_type/user_id) so state is
  partitioned across executors by the shuffle; nothing accumulates on
  the driver.
- watermarks bound state for append-mode production runs; the memory
  sink + complete mode here is test scaffolding only (documented where
  used).
- applyInPandasWithState keeps per-key state in the state store and
  crosses to Python via Arrow — the same vectorized boundary as the
  batch pandas UDFs.
"""

from __future__ import annotations

import itertools

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from golang_etl_spark.registry import register

_COUNTER = itertools.count()


def _tracked_tmpdir(prefix: str) -> str:
    import atexit
    import shutil
    import tempfile

    root = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root


# ts declared per the actual fixture vintage (see _events_ts_kind):
# INT64 TIMESTAMP(NANOS) drops read as LONG under nanosAsLong; current
# TIMESTAMP(MICROS) drops read as TIMESTAMP_NTZ.
_EVENTS_SCHEMA_TMPL = (
    "event_id LONG, ts {ts_type}, user_id LONG, event_type STRING, "
    "value DOUBLE, props STRING"
)


def _events_ts_kind(directory: str) -> str:
    """'long' | 'ntz' | 'ltz' from the first parquet footer in the
    monitored directory — the stream source needs a declared schema,
    and declaring the wrong ts type yields nulls, not an error."""
    import glob
    import os

    import pyarrow.parquet as pq

    files = sorted(glob.glob(os.path.join(directory, "*.parquet")))
    if not files:
        raise FileNotFoundError(
            f"no parquet files in monitored stream directory {directory!r} — "
            "stage at least one file before defining the stream (the "
            "declared schema is sniffed from the first footer)"
        )
    t = pq.read_schema(files[0]).field("ts").type
    if str(t) == "int64":
        return "long"
    return "ltz" if getattr(t, "tz", None) else "ntz"


def _stream_dir(sf_dir: str) -> str:
    """Spark's file stream source requires a *directory* to monitor;
    the fixture is a single read-only file. Stage a per-sf_dir temp
    directory holding a symlink to it (no data copy).

    The staging root is keyed by uid (shared /tmp across users), a
    dangling link — detectable only with lexists, exists() follows the
    link — is replaced, and the symlink call tolerates losing the
    create race to a concurrent session (same target either way)."""
    import hashlib
    import os
    import tempfile

    root = os.path.join(
        tempfile.gettempdir(), f"spark_graft_stream_{os.getuid()}"
    )
    d = os.path.join(root, hashlib.md5(sf_dir.encode()).hexdigest()[:12], "events")
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, "events.parquet")
    target = os.path.join(sf_dir, "events.parquet")
    if os.path.lexists(link) and os.path.realpath(link) != os.path.realpath(target):
        try:
            os.remove(link)
        except FileNotFoundError:
            pass  # concurrent session replaced the stale link first
    if not os.path.lexists(link):
        try:
            os.symlink(target, link)
        except FileExistsError:
            pass
    return d


def _stream_events(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
    dir_override: str | None = None,
) -> DataFrame:
    """File-source events stream. ``max_files_per_trigger`` /
    ``dir_override`` exist for tests that force multi-micro-batch
    execution over a split copy of the fixture (AvailableNow on the
    single-file fixture always yields one batch)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    directory = dir_override or _stream_dir(sf_dir)
    kind = _events_ts_kind(directory)
    ts_type = {"long": "LONG", "ntz": "TIMESTAMP_NTZ", "ltz": "TIMESTAMP"}[kind]
    reader = spark.readStream.schema(
        _EVENTS_SCHEMA_TMPL.format(ts_type=ts_type)
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw = reader.parquet(directory)
    if kind == "long":
        return raw.withColumn(
            "ts", F.timestamp_micros(F.expr("ts DIV 1000"))
        )
    # value-preserving under the session's pinned UTC zone; keeps the
    # LTZ TIMESTAMP every watermark/window downstream expects
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


# State-store partition count for the streaming demos. A stateful
# operator creates one state store per shuffle partition, and the
# count is FROZEN into the checkpoint at first start — Spark sizes it
# from spark.sql.shuffle.partitions, which the session tunes for
# batch (~cores). At fixture scale 32 stores are pure fixed overhead
# (measured: the stream-stream join drops 4.8s -> 1.4s going 32 -> 4);
# on a real cluster you size this to state volume/key cardinality
# (thousands), NOT to the batch shuffle width — either way it is a
# deliberate per-workload dial, so set it explicitly at stream start.
STREAM_STATE_PARTITIONS = 8


def _run_to_table(df: DataFrame, name: str, output_mode: str) -> DataFrame:
    """Run a streaming query to completion (AvailableNow) into a
    memory sink; return the materialized result table. The state
    partition count is pinned to STREAM_STATE_PARTITIONS for the
    duration of the run (the conf is read at query start; the batch
    readback after it replans under the session default)."""
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    qname = f"{name}_{next(_COUNTER)}"
    try:
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(STREAM_STATE_PARTITIONS)
        )
        q = (
            df.writeStream.format("memory")
            .queryName(qname)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(qname)


# ---------------------------------------------------------------------------
# 1. Watermarked tumbling window aggregation.
# ---------------------------------------------------------------------------
_TUMBLING_ORACLE = """
SELECT time_bucket(INTERVAL '1 day', ts) AS win_start,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(value), 4) AS total_value
FROM events
GROUP BY win_start, event_type
"""


@register(
    "streaming_tumbling_counts", oracle=_TUMBLING_ORACLE, tags=("streaming",)
)
def streaming_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-day windows per event_type with a 1-hour watermark,
    run through the streaming engine (AvailableNow → memory sink;
    complete mode so the final open window emits — production would
    use append + a real sink, where the watermark expires windows
    incrementally)."""
    ev = _stream_events(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("win"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    return _run_to_table(agg, "tumbling_counts", "complete")


# ---------------------------------------------------------------------------
# 2. Sliding window average.
# ---------------------------------------------------------------------------
_SLIDING_ORACLE = """
WITH assigned AS (
  SELECT time_bucket(INTERVAL '30 minutes', ts) AS b, value FROM events
),
expanded AS (
  SELECT b AS win_start, value FROM assigned
  UNION ALL
  SELECT b - INTERVAL '30 minutes' AS win_start, value FROM assigned
)
SELECT win_start,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(value), 4) AS total_value
FROM expanded
GROUP BY win_start
"""


@register("streaming_sliding_avg", oracle=_SLIDING_ORACLE, tags=("streaming",))
def streaming_sliding_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1-hour windows every 30 minutes (each event lands in 2
    windows). The oracle expands the two bucket assignments explicitly
    — same algebra the streaming engine applies.

    SUM rather than AVG: the fixture values have 2 decimals, so sums
    round(4) bit-stably across accumulation orders; AVG(…) divides
    onto arbitrary reals and flipped the 4th decimal vs the oracle at
    3/1441 rows."""
    ev = _stream_events(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("win"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(F.col("win.start").alias("win_start"), "n_events", "total_value")
    )
    return _run_to_table(agg, "sliding_avg", "complete")


# ---------------------------------------------------------------------------
# 3. Session windows (30-minute gap), streaming-native.
# ---------------------------------------------------------------------------
_SESSION_ORACLE = """
WITH flagged AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN lag(ts) OVER w IS NULL
              OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id, ts, value,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM flagged
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL '30 minutes' AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(value), 4) AS total_value
FROM sessions
GROUP BY user_id, session_idx
"""


@register(
    "streaming_session_window", oracle=_SESSION_ORACLE, tags=("streaming",)
)
def streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F.session_window(ts, '30 minutes') per user through the
    streaming session-merge state store. Session semantics: an event
    at exactly start+gap opens a NEW session (window end is
    exclusive), hence the oracle's >= gap flag — one of the two
    half-open conventions; the batch sessionize_events operator
    implements the other (>), both documented."""
    return session_window_pipeline(_stream_events(spark, sf_dir))


def session_window_pipeline(ev: DataFrame) -> DataFrame:
    """Transformation body of ``streaming_session_window``, split out
    so the multi-batch test can feed a stream whose sessions span
    micro-batch boundaries (the session-merge state store is only
    exercised when a user's session arrives in pieces)."""
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(
            F.session_window("ts", "30 minutes").alias("win"), "user_id"
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )
    return _run_to_table(agg, "session_window", "complete")


# ---------------------------------------------------------------------------
# 4. Streaming dedup: dropDuplicates over a doubled stream.
# ---------------------------------------------------------------------------
_DEDUP_ORACLE = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events
FROM events
GROUP BY event_type
"""


@register("streaming_dedup", oracle=_DEDUP_ORACLE, tags=("streaming",))
def streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dropDuplicates on event_id: the input stream is
    unioned with itself (every event duplicated), the dedup state
    store removes the copies, and per-type counts must equal the plain
    batch counts. Production would add withWatermark so dedup state
    expires; finite AvailableNow input keeps it bounded here."""
    ev = _stream_events(spark, sf_dir)
    return dedup_counts_pipeline(ev.unionByName(ev))


def dedup_counts_pipeline(ev: DataFrame) -> DataFrame:
    """dropDuplicates + per-type counts, split out so the multi-batch
    test can feed a stream whose duplicate copies arrive in DIFFERENT
    micro-batches — only then is the cross-batch dedup state store
    (not intra-batch dropDuplicates) what removes them."""
    agg = (
        ev.dropDuplicates(["event_id"])
        .groupBy("event_type")
        .agg(F.count("*").alias("n_events"))
    )
    return _run_to_table(agg, "dedup", "complete")


_DEDUP_TTL_ORACLE = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events
FROM events
GROUP BY event_type
"""


@register(
    "streaming_dedup_watermarked", oracle=_DEDUP_TTL_ORACLE, tags=("streaming",)
)
def streaming_dedup_watermarked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-grade streaming dedup: ``dropDuplicatesWithinWatermark``
    on event_id over a doubled stream. Unlike plain dropDuplicates
    (whose key state grows forever), within-watermark dedup EXPIRES a
    key's state once the watermark passes its event time — the only
    formulation whose state is bounded on an unbounded stream. The
    duplicate copies here share their original's timestamp, so they
    always fall inside the 1-hour window and per-type counts still
    equal the batch counts."""
    ev = _stream_events(spark, sf_dir)
    return dedup_ttl_counts_pipeline(ev.unionByName(ev))


def dedup_ttl_counts_pipeline(ev: DataFrame) -> DataFrame:
    """Transformation body of ``streaming_dedup_watermarked`` (split
    for the multi-batch test, like the plain-dedup pipeline)."""
    agg = (
        ev.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .groupBy("event_type")
        .agg(F.count("*").alias("n_events"))
    )
    return _run_to_table(agg, "dedup_ttl", "complete")


# ---------------------------------------------------------------------------
# 5. Custom stateful operator: applyInPandasWithState.
# ---------------------------------------------------------------------------
_STATEFUL_ORACLE = """
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(MAX(value), 4) AS max_value,
       ROUND(SUM(value), 4) AS total_value
FROM events
GROUP BY user_id
"""

_STATE_SCHEMA = "n BIGINT, mx DOUBLE, total DOUBLE"
_STATEFUL_OUT_SCHEMA = (
    "user_id LONG, n_events LONG, max_value DOUBLE, total_value DOUBLE"
)


def _user_stats_with_state(key, pdfs, state: GroupState):
    """Per-user running (count, max, sum) kept in the state store;
    emits the updated totals each trigger."""
    n, mx, total = state.get if state.exists else (0, float("-inf"), 0.0)
    for pdf in pdfs:
        n += len(pdf)
        mx = max(mx, float(pdf["value"].max()))
        total += float(pdf["value"].sum())
    state.update((n, mx, total))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "max_value": [round(mx, 4)],
            "total_value": [round(total, 4)],
        }
    )


@register(
    "streaming_stateful_user_stats",
    oracle=_STATEFUL_ORACLE,
    tags=("streaming", "pandas_udf"),
)
def streaming_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    per-user running stats held in the partitioned state store,
    crossing to Python over Arrow. With AvailableNow the single
    trigger emits the final state, which must equal the batch GROUP
    BY — the same code incrementally updates on a live stream.

    Rounding note: total_value sums doubles in arrival order; the
    oracle sums in scan order — equal after round(4) because the
    fixture values have 2 decimals."""
    return stateful_user_stats_pipeline(_stream_events(spark, sf_dir))


def stateful_user_stats_pipeline(ev: DataFrame) -> DataFrame:
    """The stateful pipeline on any events stream — shared by the
    registered query and the multi-batch regression test
    (tests/test_streaming_multibatch.py)."""
    out = ev.groupBy("user_id").applyInPandasWithState(
        _user_stats_with_state,
        outputStructType=_STATEFUL_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    tbl = _run_to_table(out, "stateful_user_stats", "update")
    # The update-mode memory sink APPENDS each micro-batch's emissions;
    # a multi-file events directory leaves several rows per user. Keep
    # the LAST emission only: the running n_events strictly increases
    # per emission, so the struct max picks it.
    latest = F.max(F.struct("n_events", "max_value", "total_value"))
    return tbl.groupBy("user_id").agg(latest.alias("s")).select(
        "user_id",
        F.col("s.n_events").alias("n_events"),
        F.col("s.max_value").alias("max_value"),
        F.col("s.total_value").alias("total_value"),
    )


# ---------------------------------------------------------------------------
# 6. Stream-static join.
# ---------------------------------------------------------------------------
_SS_JOIN_ORACLE = """
SELECT c.c_mktsegment, e.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(e.value), 4) AS total_value
FROM events e
JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment, e.event_type
"""


@register("streaming_join_static", oracle=_SS_JOIN_ORACLE, tags=("streaming",))
def streaming_join_static(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the events stream enriched against the
    static customer dimension (broadcast — each micro-batch joins
    in-memory, no stream-side shuffle for the join), then a keyed
    streaming aggregation per (segment, event_type).

    At scale the static side is re-broadcast per batch at its current
    snapshot; for a mutable dimension you would instead feed it as a
    second stream (stream-stream join with watermarks). Complete mode
    + memory sink is the usual test scaffolding; production would use
    update mode into a keyed sink."""
    from golang_etl_spark.sources.catalog import load_table

    ev = _stream_events(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    joined = ev.join(F.broadcast(cust), ev["user_id"] == cust["c_custkey"])
    agg = joined.groupBy("c_mktsegment", "event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )
    return _run_to_table(agg, "streaming_join_static", "complete")


# ---------------------------------------------------------------------------
# 7. Stream-stream interval join.
# ---------------------------------------------------------------------------
_SS_INTERVAL_ORACLE = """
WITH c AS (
  SELECT user_id, ts AS click_ts FROM events WHERE event_type = 'click'
),
p AS (
  SELECT user_id, ts AS purchase_ts FROM events WHERE event_type = 'purchase'
)
SELECT c.user_id, CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM c JOIN p ON p.user_id = c.user_id
 AND p.purchase_ts >= c.click_ts
 AND p.purchase_ts <= c.click_ts + INTERVAL 10 MINUTE
GROUP BY c.user_id
"""


@register(
    "streaming_stream_stream_join",
    oracle=_SS_INTERVAL_ORACLE,
    tags=("streaming",),
)
def streaming_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: clicks joined to purchases by the
    same user within the following 10 minutes. Both sides carry
    watermarks so the state store can evict rows once the other
    stream's event time passes the join window — the condition that
    makes an unbounded two-stream join run in bounded state.

    The streaming part is the join itself (append mode); the per-user
    pair count is a batch aggregation over the materialized sink,
    keeping the streamed rows verifiable against the batch oracle."""
    return stream_stream_join_pipeline(_stream_events(spark, sf_dir))


def stream_stream_join_pipeline(ev: DataFrame) -> DataFrame:
    """Join body of ``streaming_stream_stream_join``, split out so the
    multi-batch test can feed time-chunked batches where a click and
    its matching purchase arrive in different micro-batches — pairs
    then only form through the two-stream join state store."""
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("p_user_id") == F.col("user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr("INTERVAL 10 MINUTES")
        ),
    )
    tbl = _run_to_table(joined, "stream_stream_join", "append")
    return tbl.groupBy("user_id").agg(F.count("*").alias("n_pairs"))


def foreachbatch_parquet_sink(
    ev: DataFrame, out_dir: str
) -> None:
    """Production sink pattern: ``foreachBatch`` writing each
    micro-batch to a batch-id-keyed parquet subdirectory with
    overwrite semantics. A retried batch (same batch_id after a
    failure) overwrites its own directory instead of appending
    duplicates — per-batch idempotence, which is what exactly-once
    file output reduces to without a transactional table format.
    Aggregate-free passthrough: watermarking/state belong to the
    transformation, not the sink."""

    def _write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            f"{out_dir}/batch_id={batch_id}"
        )

    q = (
        ev.writeStream.foreachBatch(_write_batch)
        .option("checkpointLocation", f"{out_dir}/_checkpoints")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


# ---------------------------------------------------------------------------
# 5b. transformWithStateInPandas — the Spark 4 arbitrary-state API.
# ---------------------------------------------------------------------------
# Same per-user running-stats semantics as the applyInPandasWithState
# query above, on the successor API: a StatefulProcessor class with
# typed state handles (ValueState here; the API adds ListState /
# MapState / timers / TTL that GroupState never had). Registering both
# keeps the old surface covered while proving the engine tracks the
# current one.
def _tws_available() -> bool:
    """transformWithStateInPandas needs Spark >= 4.0 AND the protobuf
    python package (its state-server wire protocol). This container
    ships neither pip nor protobuf, so the query registers only where
    the dependency exists — gate-behind-import, not a fake."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


try:  # Spark >= 4.0
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class _UserStatsProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._stats = handle.getValueState("stats", _STATE_SCHEMA)

        def handleInputRows(self, key, rows, timer_values):
            if self._stats.exists():
                n, mx, total = self._stats.get()
            else:
                n, mx, total = 0, float("-inf"), 0.0
            for pdf in rows:
                n += len(pdf)
                mx = max(mx, float(pdf["value"].max()))
                total += float(pdf["value"].sum())
            self._stats.update((n, mx, total))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "max_value": [round(mx, 4)],
                    "total_value": [round(total, 4)],
                }
            )

        def close(self) -> None:
            pass

    _HAS_TWS = True
except ImportError:  # pragma: no cover - older Spark
    _HAS_TWS = False


def streaming_tws_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running stats via ``transformWithStateInPandas`` —
    the arbitrary-stateful successor to applyInPandasWithState (typed
    state handles, timers, TTL). Must equal the batch GROUP BY, same
    as the GroupState variant. Registered only where the protobuf
    dependency exists (see _tws_available)."""
    if not (_HAS_TWS and _tws_available()):
        raise NotImplementedError(
            "transformWithStateInPandas needs Spark >= 4.0 and protobuf"
        )
    return tws_user_stats_pipeline(_stream_events(spark, sf_dir))


if _HAS_TWS and _tws_available():  # pragma: no cover - env-dependent
    register(
        "streaming_tws_user_stats",
        oracle=_STATEFUL_ORACLE,
        tags=("streaming", "pandas_udf"),
    )(streaming_tws_user_stats)


def tws_user_stats_pipeline(ev: DataFrame) -> DataFrame:
    """The transformWithStateInPandas pipeline on any events stream —
    shared by the registered query and the multi-batch test."""
    out = ev.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_UserStatsProcessor(),
        outputStructType=_STATEFUL_OUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )
    tbl = _run_to_table(out, "tws_user_stats", "update")
    # same last-emission dedup as the GroupState variant: the memory
    # sink appends per-batch emissions; running n_events is strictly
    # increasing so the struct max keeps the final one
    latest = F.max(F.struct("n_events", "max_value", "total_value"))
    return tbl.groupBy("user_id").agg(latest.alias("s")).select(
        "user_id",
        F.col("s.n_events").alias("n_events"),
        F.col("s.max_value").alias("max_value"),
        F.col("s.total_value").alias("total_value"),
    )


# ---------------------------------------------------------------------------
# 9. Streaming CDC apply: last-writer-wins upsert materialization.
# ---------------------------------------------------------------------------
# The incremental successor to etl_merge_upsert (etl.py): treat the
# event stream as a change feed keyed by user_id and maintain a
# materialized "current state per key" snapshot via foreachBatch.
# Last-writer-wins on the total order (ts, event_id) makes the merge
# ARRIVAL-ORDER-INDEPENDENT — a row only ever loses to a strictly
# newer version — so any micro-batching of the same events converges
# to the same snapshot (asserted against a 3-batch split in
# tests/test_streaming_multibatch.py), and the batch oracle is a
# plain per-key argmax over the whole feed. Each batch writes a new
# immutable snapshot version keyed by batch_id and reads the highest
# PRIOR version, so a retried batch rebuilds its own version from the
# same inputs — per-batch idempotence, same contract as
# foreachbatch_parquet_sink above.
_CDC_APPLY_ORACLE = """
SELECT user_id, event_type AS last_event_type, ts AS last_ts
FROM (
  SELECT user_id, event_type, ts,
         ROW_NUMBER() OVER (
           PARTITION BY user_id ORDER BY ts DESC, event_id DESC
         ) AS rn
  FROM events
) latest
WHERE rn = 1
"""


def _lww_winners(df: DataFrame) -> DataFrame:
    """One surviving row per user_id: max (ts, event_id)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def cdc_apply_pipeline(ev: DataFrame, out_root: str) -> DataFrame:
    """Run the CDC-apply stream over ``ev`` materializing versioned
    snapshots under ``out_root``; return the final snapshot as
    (user_id, last_event_type, last_ts). Shared by the registered
    query and the multi-batch convergence test."""
    import glob
    import os

    spark = ev.sparkSession

    def _prior_snapshot(batch_id: int) -> str | None:
        versions = []
        for d in glob.glob(os.path.join(out_root, "v*")):
            name = os.path.basename(d)
            if os.path.exists(os.path.join(d, "_SUCCESS")):
                v = int(name[1:])
                if v < batch_id:
                    versions.append(v)
        if not versions:
            return None
        return os.path.join(out_root, f"v{max(versions):09d}")

    def _apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        batch_win = _lww_winners(
            batch_df.select("user_id", "event_type", "ts", "event_id")
        )
        prior = _prior_snapshot(batch_id)
        if prior is not None:
            merged = s.read.parquet(prior).unionByName(batch_win)
            batch_win = _lww_winners(merged)
        batch_win.write.mode("overwrite").parquet(
            os.path.join(out_root, f"v{batch_id:09d}")
        )

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(STREAM_STATE_PARTITIONS)
        )
        q = (
            ev.writeStream.foreachBatch(_apply_batch)
            .option(
                "checkpointLocation", os.path.join(out_root, "_checkpoints")
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)

    final = _prior_snapshot(10**9)
    if final is None:  # empty stream -> empty snapshot
        return spark.createDataFrame(
            [], "user_id LONG, last_event_type STRING, last_ts TIMESTAMP"
        )
    return spark.read.parquet(final).select(
        "user_id",
        F.col("event_type").alias("last_event_type"),
        F.col("ts").alias("last_ts"),
    )


@register(
    "streaming_cdc_apply",
    oracle=_CDC_APPLY_ORACLE,
    tags=("streaming", "etl-parity"),
)
def streaming_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming upsert materialization: the events change feed folds
    into a current-state-per-user snapshot, one immutable version per
    micro-batch, merge rule = last-writer-wins on (ts, event_id).

    Scale shape: per batch, one window rank over the batch (batch-
    sized) plus one over prior-snapshot ∪ batch winners — both hash-
    partitioned on the key, state lives in the snapshot files rather
    than the state store, so key cardinality is unbounded by executor
    memory. On a cluster the snapshot would be a keyed table format
    (Delta/Iceberg MERGE) with the identical LWW join; versioned
    directories + batch-id idempotence are the plain-parquet
    equivalent."""
    out_root = _tracked_tmpdir("spark_graft_cdc_")
    ev = _stream_events(spark, sf_dir)
    return cdc_apply_pipeline(ev, out_root)


# ---------------------------------------------------------------------------
# 7b. Stream-stream LEFT OUTER interval join (watermark-gated nulls).
# ---------------------------------------------------------------------------
# Outer rows only become final when the watermark passes the end of
# their join window: a click can emit (click, NULL) only once no
# matching purchase can still arrive. Clicks younger than
# min-across-streams max(ts) - (watermark 60min + window 10min) are
# therefore still
# pending in state when an AvailableNow run drains — not wrong, not
# yet final. Both engines restrict to finalized clicks (71min guard:
# one minute of slack keeps the boundary strict) so the hash compares
# settled results only. This cutoff IS the outer-join semantics under
# watermarking, not a workaround.
_SS_LEFT_OUTER_ORACLE = """
WITH cutoff AS (
  -- the global watermark is the MIN across both streams' maxima
  SELECT LEAST(
    (SELECT MAX(ts) FROM events WHERE event_type = 'click'),
    (SELECT MAX(ts) FROM events WHERE event_type = 'purchase')
  ) - INTERVAL 71 MINUTE AS lim
),
c AS (
  SELECT user_id, ts AS click_ts FROM events, cutoff
  WHERE event_type = 'click' AND ts <= cutoff.lim
),
p AS (
  SELECT user_id, ts AS purchase_ts FROM events WHERE event_type = 'purchase'
),
j AS (
  SELECT c.user_id, c.click_ts, p.purchase_ts
  FROM c LEFT JOIN p ON p.user_id = c.user_id
   AND p.purchase_ts >= c.click_ts
   AND p.purchase_ts <= c.click_ts + INTERVAL 10 MINUTE
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN purchase_ts IS NULL THEN 0 ELSE 1 END) AS BIGINT)
         AS n_matched,
       CAST(SUM(CASE WHEN purchase_ts IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_unmatched
FROM j GROUP BY user_id
"""


@register(
    "streaming_stream_stream_left_outer",
    oracle=_SS_LEFT_OUTER_ORACLE,
    tags=("streaming",),
)
def streaming_stream_stream_left_outer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Watermarked LEFT OUTER stream-stream join: every click pairs
    with its following-10-minute purchases, and clicks with none emit
    a NULL-padded row — but only after the watermark proves no match
    can still arrive (state eviction = outer-row emission, the part an
    inner join never exercises). Per-user matched/unmatched counts
    over finalized clicks; the batch oracle applies the same
    finality cutoff.

    100 TB shape: identical state bound to the inner variant (both
    sides watermarked, interval-bounded); the outer rows add no state
    — they ARE the evictions."""
    ev = _stream_events(spark, sf_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("p_user_id") == F.col("user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr("INTERVAL 10 MINUTES")
        ),
        "leftOuter",
    )
    tbl = _run_to_table(joined, "stream_stream_left_outer", "append")
    # finality filter over the materialized sink (batch): keep only
    # clicks whose outer verdict was settle-able before the stream
    # drained. The cutoff comes from the same fixture the stream read.
    # Attached as a broadcast one-row cross join (r18, guide §5 — the
    # r17 text_perplexity pattern): the former .collect() forced a
    # separate blocking job for one scalar; now the cutoff rides the
    # final aggregation job.
    from golang_etl_spark.sources.catalog import load_table

    lim = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type")
        .agg(F.max("ts").alias("mx"))
        .agg(
            (F.min("mx") - F.expr("INTERVAL 71 MINUTES")).alias("lim")
        )
    )
    return (
        tbl.crossJoin(F.broadcast(lim))
        .filter(F.col("click_ts") <= F.col("lim"))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(
                F.when(F.col("purchase_ts").isNull(), 0).otherwise(1)
            ).alias("n_matched"),
            F.sum(
                F.when(F.col("purchase_ts").isNull(), 1).otherwise(0)
            ).alias("n_unmatched"),
        )
    )


# ---------------------------------------------------------------------------
# 10. Streaming probe of the persisted MinHash dedup index.
# ---------------------------------------------------------------------------
# The production incremental-dedup loop: documents arrive as a file
# stream, each micro-batch is signatured and probed against the
# OFFLINE-BUILT band index (operators/dedup.py), matches append to a
# batch-id-keyed parquet sink (idempotent on retry). The corpus
# signature pipeline never runs inside the stream — the store was
# built once, which is the entire point of persisting it.
_DOCS_SCHEMA = (
    "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"
)


def _stream_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source documents stream (same symlink staging as the
    events stream — the source needs a monitored directory)."""
    import hashlib
    import os
    import tempfile

    root = os.path.join(
        tempfile.gettempdir(), f"spark_graft_stream_{os.getuid()}"
    )
    d = os.path.join(
        root, hashlib.md5(sf_dir.encode()).hexdigest()[:12], "documents"
    )
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, "documents.parquet")
    target = os.path.join(sf_dir, "documents.parquet")
    if os.path.lexists(link) and os.path.realpath(link) != os.path.realpath(
        target
    ):
        try:
            os.remove(link)
        except FileNotFoundError:
            pass
    if not os.path.lexists(link):
        try:
            os.symlink(target, link)
        except FileExistsError:
            pass
    return spark.readStream.schema(_DOCS_SCHEMA).parquet(d)


from golang_etl_spark.operators.dedup import (  # noqa: E402
    _INDEX_PROBE_ORACLE,
    _IS_BATCH_SQL,
    build_minhash_index,
    probe_minhash_index,
)


@register(
    "streaming_dedup_index_probe",
    oracle=_INDEX_PROBE_ORACLE,
    tags=("streaming", "dedup", "llm", "layout"),
)
def streaming_dedup_index_probe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream the incoming documents (the batch doc_id bucket), probe
    each micro-batch against the persisted MinHash band index, append
    verified near-dup pairs to a batch-keyed parquet sink. The final
    table hash-matches the BATCH probe's oracle — streaming arrival
    changes nothing about the answer, which is the exactly-once
    contract this job demonstrates.

    Scale shape: per micro-batch cost is O(batch signatures) +
    O(candidates); corpus-side work happened once at index build."""
    build_minhash_index(spark, sf_dir)  # offline step, not per batch
    out_root = _tracked_tmpdir("spark_graft_dedup_probe_")

    docs = _stream_docs(spark, sf_dir).filter(F.expr(_IS_BATCH_SQL))
    return index_probe_pipeline(docs, sf_dir, out_root)


def index_probe_pipeline(
    docs: DataFrame, sf_dir: str, out_root: str
) -> DataFrame:
    """Probe body of ``streaming_dedup_index_probe``, split out so the
    multi-batch test can feed chunked incoming docs — matches must
    then form with the store regardless of which micro-batch a doc
    arrived in."""
    spark = docs.sparkSession

    def _probe_batch(batch_df, batch_id: int) -> None:
        pairs = probe_minhash_index(
            batch_df.sparkSession, batch_df, sf_dir
        )
        pairs.write.mode("overwrite").parquet(
            f"{out_root}/batch_id={batch_id}"
        )

    q = (
        docs.writeStream.foreachBatch(_probe_batch)
        .option("checkpointLocation", f"{out_root}/_checkpoints")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out_root).select(
        "batch_doc", "corpus_doc", "jaccard"
    )


def stream_incremental_dedup(
    docs: DataFrame, sf_dir: str, out_root: str
) -> tuple[DataFrame, DataFrame]:
    """The incremental-dedup LOOP under streaming arrival: every
    micro-batch runs probe -> route matches -> ingest survivors
    (operators/dedup.incremental_dedup_pipeline), so a document is
    deduplicated against the offline corpus AND every earlier
    micro-batch. Clean docs and match reports land in batch-keyed
    parquet (idempotent per batch, same contract as
    foreachbatch_parquet_sink); the ingest side is idempotent by the
    store's doc_id anti-join. Returns (clean, matches) batch tables
    read back from the sinks — the always-on corpus-builder shape."""
    from golang_etl_spark.operators.dedup import incremental_dedup_pipeline

    spark = docs.sparkSession

    def _loop_batch(batch_df, batch_id: int) -> None:
        clean, matches = incremental_dedup_pipeline(
            batch_df.sparkSession, batch_df, sf_dir
        )
        matches.write.mode("overwrite").parquet(
            f"{out_root}/matches/batch_id={batch_id}"
        )
        clean.select("doc_id").write.mode("overwrite").parquet(
            f"{out_root}/clean/batch_id={batch_id}"
        )

    q = (
        docs.writeStream.foreachBatch(_loop_batch)
        .option("checkpointLocation", f"{out_root}/_checkpoints")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.parquet(f"{out_root}/clean"),
        spark.read.parquet(f"{out_root}/matches"),
    )


# ---------------------------------------------------------------------------
# Streaming CMS maintenance: the Count-Min frequency store
# (operators/sketches.py) kept fresh under micro-batch arrival.
# ---------------------------------------------------------------------------
# Counter grids are linear, so incremental maintenance is pure
# append: each micro-batch contributes its own (cell, cnt) delta —
# computed from ONLY the batch's rows — to a batch-id-keyed delta
# store (overwrite per batch id = idempotent on retry, same contract
# as foreachbatch_parquet_sink). A probe sums store + deltas
# cell-wise; by linearity the answer is EXACTLY the sketch of
# everything ingested, independent of how arrival was chunked —
# pinned by tests/test_streaming_multibatch.py. No read-modify-write
# of the store inside the stream, so concurrent probes never see a
# torn grid and the per-batch cost is O(batch), not O(history).
_CMS_STREAM_PROBE_USERS = 10


def stream_cms_ingest(ev: DataFrame, out_root: str) -> DataFrame:
    """Ingest body: per micro-batch, write the batch's CMS cell-count
    delta over user_id. Returns the merged (cell, cnt) counter table
    read back from the delta store."""
    from golang_etl_spark.operators.sketches import _cms_cells

    spark = ev.sparkSession

    def _delta_batch(batch_df, batch_id: int) -> None:
        delta = _cms_cells(batch_df.select("user_id"), "user_id")
        delta.write.mode("overwrite").parquet(
            f"{out_root}/batch_id={batch_id}"
        )

    q = (
        ev.writeStream.foreachBatch(_delta_batch)
        .option("checkpointLocation", f"{out_root}/_checkpoints")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.parquet(out_root)
        .groupBy("cell")
        .agg(F.sum("cnt").alias("cnt"))
    )


def _cms_stream_oracle() -> str:
    from golang_etl_spark.operators.sketches import (
        _CMS_AB_SQL,
        _cms_cell_sql,
    )

    return f"""
WITH ab(i, a, b) AS (VALUES {_CMS_AB_SQL}),
cells AS (
  SELECT {_cms_cell_sql("e.user_id")} AS cell, COUNT(*) AS cnt
  FROM events e CROSS JOIN ab
  GROUP BY 1
),
probe_cells AS (
  SELECT gs.k AS user_id, {_cms_cell_sql("gs.k")} AS cell
  FROM (SELECT range AS k
        FROM range(1, {_CMS_STREAM_PROBE_USERS + 1})) gs
  CROSS JOIN ab
)
SELECT p.user_id,
       CAST(MIN(COALESCE(c.cnt, 0)) AS BIGINT) AS est_events
FROM probe_cells p LEFT JOIN cells c ON c.cell = p.cell
GROUP BY p.user_id
ORDER BY p.user_id
"""


@register(
    "streaming_cms_ingest",
    oracle=_cms_stream_oracle(),
    tags=("streaming", "sketch", "aggregation", "layout"),
)
def streaming_cms_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream the events table through the CMS delta ingest, then
    answer per-user event-count estimates for user_ids 1..10 from the
    merged deltas. HASH-checked since round 9: counter grids are
    linear, so the merged micro-batch deltas equal the batch sketch of
    everything ingested no matter how arrival was chunked
    (multi-batch-tested in tests/test_streaming_multibatch.py), and
    the Carter-Wegman cell arithmetic (operators/sketches.py) lets the
    DuckDB oracle rebuild that batch sketch over the whole events
    table and replay the min-over-depth probe exactly."""
    from golang_etl_spark.operators.sketches import _cms_hash_cells

    out_root = _tracked_tmpdir("spark_graft_cms_stream_")

    ev = _stream_events(spark, sf_dir)
    merged = stream_cms_ingest(ev, out_root)
    probes = spark.range(1, _CMS_STREAM_PROBE_USERS + 1).select(
        F.col("id").alias("user_id")
    )
    cells = probes.select(
        "user_id", F.explode(_cms_hash_cells("user_id")).alias("cell")
    )
    return (
        cells.join(F.broadcast(merged), "cell", "left")
        .groupBy("user_id")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est_events"))
        .orderBy("user_id")
    )
