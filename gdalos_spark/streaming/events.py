"""Structured Streaming operators (SURVEY §2 #41).

`streaming_event_counts` runs a REAL Structured Streaming query — file
source -> event-time tumbling window with watermark -> memory sink,
trigger=availableNow — and returns the sink table as a batch DataFrame.
Because complete-mode output over the full file set equals the batch
computation, the result is checked against the SAME DuckDB oracle as its
batch twin (relational.events_windowed_agg), making this a full
hash-gated entry rather than rows-only.

At production scale the identical query runs continuously against a
growing directory/Kafka topic: the watermark bounds state (windows older
than max(event_time) - 1h are finalized and evicted in append mode), and
the windowed aggregation shuffles once on (window, event_type) with
partial aggregation map-side — the same plan shape as the batch twin.

Every query in this module starts through `_start_stream`, the one
place that owns a query's start-time session state. It stops any
active query of the same name, sets `trigger(availableNow=True)`, and
for the START only sets two kinds of conf, restoring both in a
`finally` whether the start succeeds or fails:

* the state partition rule: `spark.sql.shuffle.partitions` is lowered
  to `min(session value, sparkContext.defaultParallelism)`. A stateful
  query fixes its state-store partition count from that conf when it
  first starts, and AQE never coalesces streaming shuffles, so a
  session tuned for batch (32 partitions, or Spark's default 200) would
  otherwise run that many near-empty state tasks per micro-batch on a
  few cores. The count comes from the session itself: `local[32]`
  keeps 32, a cluster gets its total executor cores;
* `heavy_state=True` (the stream-stream joins) flips the state store to
  RocksDB plus its tuning confs (see `_state_provider`).

The query clones the session at start, so the DataFrames returned here
(the memory-sink tables, the sink read-backs) still run under the
caller's own shuffle setting.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..datamodel import epoch_micros, epoch_micros_sql, source_fingerprint

# Per-query state-store metrics captured after every completed run:
# query name -> [{batch_id, operator, n_rows, mem_bytes, shuffle_partitions,
# custom}, ...].
# This is the observability the 100-TB design needs — "state is bounded"
# must be a NUMBER per batch, not an assertion (tools/stream_state_ab.py
# records it in BASELINE.md).
LAST_STATE_METRICS: dict[str, list[dict]] = {}

_STATE_PROVIDER_CONF = "spark.sql.streaming.stateStore.providerClass"
_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def _state_provider() -> str | None:
    """The heavy-state joins default to the RocksDB state store: the
    72h-horizon outer joins hold O(rate x horizon) rows, and the default
    HDFS-backed provider keeps ALL of it on the executor heap — at
    100 TB/day that is an OOM, while RocksDB spills to local SSD with
    bounded memtables. SPARK_GRAFT_STATE_STORE=hdfs forces the heap
    provider (the A/B arm)."""
    choice = os.environ.get("SPARK_GRAFT_STATE_STORE", "rocksdb").strip().lower()
    if choice not in ("rocksdb", "hdfs"):
        raise ValueError(
            f"SPARK_GRAFT_STATE_STORE must be rocksdb|hdfs, got {choice!r}"
        )
    return _ROCKSDB_PROVIDER if choice == "rocksdb" else None


def _rocksdb_tuning() -> dict:
    """RocksDB knobs that ride along with the provider flip.

    Changelog checkpointing commits per-batch row-level deltas instead
    of copying changed SST files every batch. Measured 3-arm A/B at 10M
    events (BASELINE 'RocksDB changelog checkpointing A/B'): it zeroes
    the per-batch SST copies (rocksdbFilesCopied 64 -> 0) but costs
    +28% wall and ~4x the rocksdbTotalMemoryUsage metric on LOCAL
    checkpoints — serializing 4.4M state puts as changelog rows is
    pure overhead when the file copy is a local rename. So the DEFAULT
    is OFF (snapshot mode, the measured local winner); flip
    SPARK_GRAFT_ROCKSDB_CHANGELOG=true when the checkpoint location is
    an object store, where per-batch SST uploads — not correctness —
    become the binding cost. (Unlike the heap-vs-RocksDB default, both
    modes are CORRECT at scale, so the local measurement decides.)
    SPARK_GRAFT_ROCKSDB_WRITEBUF_MB optionally sizes the memtable
    (engine default 64 MB) for write-heavy state."""
    confs = {}
    if os.environ.get("SPARK_GRAFT_ROCKSDB_CHANGELOG", "false").strip().lower() == "true":
        confs[
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
        ] = "true"
    wb = os.environ.get("SPARK_GRAFT_ROCKSDB_WRITEBUF_MB", "").strip()
    if wb:
        confs["spark.sql.streaming.stateStore.rocksdb.writeBufferSizeMB"] = wb
    track = os.environ.get("SPARK_GRAFT_ROCKSDB_TRACK_ROWS", "").strip().lower()
    if track in ("true", "false"):
        # numRowsTotal maintenance costs one RocksDB get per put; for the
        # write-heavy stream-stream joins (every event buffered once) the
        # documented perf remedy is turning it off. A/B knob — see
        # BASELINE.md for the measured arms before changing any default.
        confs["spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows"] = track
    return confs


_SHUFFLE_PARTITIONS_CONF = "spark.sql.shuffle.partitions"


def _start_stream(spark: SparkSession, writer, name: str, heavy_state: bool = False):
    """Start `writer` as the availableNow query `name` (see the module
    docstring): stop a stale query of that name, size the state
    partitions to the session's cores, and with `heavy_state` flip the
    state store to RocksDB. The confs are read when the query starts,
    so they are restored as soon as `.start()` returns or raises."""
    for q in spark.streams.active:
        if q.name == name:
            q.stop()
    cores = spark.sparkContext.defaultParallelism
    confs = {
        _SHUFFLE_PARTITIONS_CONF:
            str(min(int(spark.conf.get(_SHUFFLE_PARTITIONS_CONF)), cores)),
    }
    prov = _state_provider() if heavy_state else None
    if prov is not None:
        confs.update({_STATE_PROVIDER_CONF: prov, **_rocksdb_tuning()})
    prevs = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        return writer.queryName(name).trigger(availableNow=True).start()
    finally:
        for k, prev in prevs.items():
            if prev is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, prev)


def _floor_div(expr: str, w: int) -> str:
    """SQL for floor(expr / w) in exact integer arithmetic (`div` alone
    truncates toward zero, which differs for negative, pre-1970 epochs)."""
    return f"(({expr}) - pmod({expr}, {w})) div {w}"


def _await_done(q) -> None:
    """Block until the availableNow query commits its final batch.

    A fixed small guard here is a CORRECTNESS hazard, not a tuning knob:
    the old 300s+60s pattern silently returned the (empty) memory table
    when one micro-batch ran longer — seen at the 100x events upscale,
    where the 72h-watermark stream-stream join needs >5 min in its one
    batch. A timeout must fail loudly, never emit empty results. Budget
    via SPARK_GRAFT_STREAM_TIMEOUT_S (default 3600 s).
    """
    budget = float(os.environ.get("SPARK_GRAFT_STREAM_TIMEOUT_S", "3600"))
    if not q.awaitTermination(budget):  # pragma: no cover - needs a hang
        q.stop()
        raise TimeoutError(f"streaming query {q.name} exceeded {budget}s")
    rows = []
    for p in q.recentProgress:
        for op in p.get("stateOperators") or []:
            rows.append({
                "batch_id": p.get("batchId"),
                "operator": op.get("operatorName"),
                "n_rows": op.get("numRowsTotal"),
                "mem_bytes": op.get("memoryUsedBytes"),
                "shuffle_partitions": op.get("numShufflePartitions"),
                "custom": {
                    k: v for k, v in (op.get("customMetrics") or {}).items()
                    if k in ("rocksdbSstFileSize", "rocksdbTotalMemoryUsage",
                             "loadedMapCacheHitCount", "rocksdbFilesCopied")
                },
            })
    LAST_STATE_METRICS[q.name] = rows


QUERY_NAME = "gdalos_stream_event_counts"


def _stage_dir(path: str) -> str:
    """The file-stream source only accepts directories; stage the single
    parquet file into a stable temp dir via symlink (hardlink/copy are
    equivalent — in production the source IS a directory or Kafka)."""
    d = os.path.join(
        tempfile.gettempdir(), "gdalos_stream", path.strip("/").replace("/", "_")
    )
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, "events.parquet")
    # a dangling link (testdata regenerated) makes os.path.exists False but
    # os.symlink still raise; a link to a different path is stale data
    if os.path.islink(link) and os.readlink(link) != path:
        os.unlink(link)
    if not os.path.islink(link) and not os.path.exists(link):
        os.symlink(path, link)
    return d


def streaming_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time window counts per event_type, computed
    by Structured Streaming (availableNow) and materialized through the
    memory sink."""
    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema

    stream = spark.readStream.schema(schema).parquet(_stage_dir(path))
    ev = stream.withColumn("ts", F.timestamp_micros(epoch_micros(stream)))
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
    )
    writer = agg.writeStream.format("memory").outputMode("complete")
    _await_done(_start_stream(spark, writer, QUERY_NAME))
    return spark.table(QUERY_NAME).select(
        F.col("w").getField("start").cast("long").alias("window_start"),
        "event_type",
        "n",
        "total_value",
    )


SESSION_GAP_S = 1800
SESSIONIZE_OUT_SCHEMA = (
    "user_id bigint, session_id bigint, n_events bigint, session_value double"
)
SESSIONIZE_STATE_SCHEMA = "last_ts bigint, session_id bigint, n_events bigint, value_cents bigint"
SESSIONIZE_QUERY_NAME = "gdalos_stream_sessionize"


def _sessionize_state_fn(key, pdfs, state):
    """Custom stateful operator: per-user gap sessionization. State =
    (last event second, open session id, open session event count, open
    session value sum in integer cents). Emits a session row whenever the
    gap closes it; the open tail session stays in state (append
    semantics). Values accumulate as integer cents (`value` is an exact
    2-decimal double) so the emitted double is bit-identical to the batch
    twin's exact DECIMAL(18,2) sum cast to double."""
    import pandas as pd

    (user_id,) = key
    if state.exists:
        last_ts, sess_id, n_ev, cents = state.get
    else:
        last_ts, sess_id, n_ev, cents = None, 1, 0, 0
    closed: list[tuple] = []
    # one micro-batch may deliver a user's events split across several
    # Arrow chunks; sorting each chunk independently is NOT a global time
    # order, so materialize and sort once before gap detection
    chunks = [pdf for pdf in pdfs if len(pdf)]
    if chunks:
        pdf = (
            chunks[0]
            if len(chunks) == 1
            else pd.concat(chunks, ignore_index=True)
        ).sort_values(["ts_sec", "event_id"])
        for tsec, val in zip(pdf["ts_sec"], pdf["value"]):
            tsec = int(tsec)
            if last_ts is not None and tsec - last_ts > SESSION_GAP_S:
                closed.append((user_id, sess_id, n_ev, cents / 100.0))
                sess_id += 1
                n_ev = 0
                cents = 0
            n_ev += 1
            cents += int(round(float(val) * 100))
            last_ts = tsec
    state.update((last_ts, sess_id, n_ev, cents))
    if closed:
        yield pd.DataFrame(
            closed, columns=["user_id", "session_id", "n_events", "session_value"]
        )


def streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization as a REAL custom stateful streaming
    operator (applyInPandasWithState): per-user state carries the open
    session across micro-batches; closed sessions are emitted in append
    mode. The batch twin (relational.events_sessionize) computes the same
    sessions with windows; this stream emits exactly the batch sessions
    minus each user's final (still-open) session, which IS expressible in
    SQL — so since round 3 this entry is fully oracle-gated
    (STREAMING_SESSIONIZE_SQL = batch sessionization with each user's max
    session_id filtered out). At scale this runs continuously with
    event-time timeouts evicting idle users' state."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema

    stream = spark.readStream.schema(schema).parquet(_stage_dir(path))
    # epoch seconds computed Spark-side so the pandas stage sees plain
    # int64 (no timezone semantics anywhere near the state function)
    ev = stream.select(
        "user_id",
        "event_id",
        F.expr(f"({epoch_micros_sql(stream)}) div 1000000").cast("bigint").alias("ts_sec"),
        "value",
    )
    sessions = ev.groupBy("user_id").applyInPandasWithState(
        _sessionize_state_fn,
        outputStructType=SESSIONIZE_OUT_SCHEMA,
        stateStructType=SESSIONIZE_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    writer = sessions.writeStream.format("memory").outputMode("append")
    _await_done(_start_stream(spark, writer, SESSIONIZE_QUERY_NAME))
    return spark.table(SESSIONIZE_QUERY_NAME)


# append-mode closed sessions == batch sessionization (the events_sessionize
# oracle) minus each user's final, still-open-in-state session
STREAMING_SESSIONIZE_SQL = """
WITH flagged AS (
  SELECT user_id, event_id, ts, value,
    CASE WHEN CAST(FLOOR(epoch(ts)) AS BIGINT) - LAG(CAST(FLOOR(epoch(ts)) AS BIGINT)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800
           OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
         THEN 1 ELSE 0 END AS new_sess
  FROM events
), sess AS (
  SELECT user_id, value,
    CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM flagged
), sessions AS (
  SELECT user_id, session_id, COUNT(*) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
  FROM sess
  GROUP BY user_id, session_id
)
SELECT user_id, session_id, n_events, session_value
FROM (
  SELECT *, MAX(session_id) OVER (PARTITION BY user_id) AS max_sid
  FROM sessions
)
WHERE session_id < max_sid
"""


# identical semantics to the batch twin -> same oracle
STREAMING_EVENT_COUNTS_SQL = """
SELECT
  CAST(FLOOR(epoch(ts) / 3600) * 3600 AS BIGINT) AS window_start,
  event_type,
  COUNT(*) AS n,
  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
"""


SLIDING_QUERY_NAME = "gdalos_stream_sliding_counts"


def streaming_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows (1 hour long, 30 minute slide) per
    event_type, computed by Structured Streaming with a watermark and
    materialized through the memory sink. Every event lands in exactly
    two overlapping windows; the oracle reproduces that with a 2-row
    offset cross join on the batch data. Complete mode over availableNow
    equals the batch computation, so this is a full hash-gated entry."""
    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema

    stream = spark.readStream.schema(schema).parquet(_stage_dir(path))
    ev = stream.withColumn("ts", F.timestamp_micros(epoch_micros(stream)))
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
    )
    writer = agg.writeStream.format("memory").outputMode("complete")
    _await_done(_start_stream(spark, writer, SLIDING_QUERY_NAME))
    return spark.table(SLIDING_QUERY_NAME).select(
        F.col("w").getField("start").cast("long").alias("window_start"),
        "event_type",
        "n",
        "total_value",
    )


# batch twin: each event belongs to the two 30-min-aligned windows
# covering it
STREAMING_SLIDING_COUNTS_SQL = """
SELECT
  CAST(FLOOR(FLOOR(epoch(ts)) / 1800) * 1800 - o AS BIGINT) AS window_start,
  event_type,
  COUNT(*) AS n,
  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events CROSS JOIN (VALUES (0), (1800)) offs(o)
GROUP BY 1, 2
"""


DEDUP_QUERY_NAME = "gdalos_stream_dedup"


def streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication — the streaming twin of dedup_exact: a
    running dropDuplicates on (user_id, event_type, day_bucket) emits
    each key the first time it is seen (append mode), so the completed
    availableNow run equals batch SELECT DISTINCT and the entry is fully
    hash-gated. The key includes an integer day bucket computed from the
    epoch micros (pure integer division — no timestamp codec in the gated
    values). In production the same query runs with
    dropDuplicatesWithinWatermark so state stays bounded to the
    watermark horizon; state here is O(distinct keys)."""
    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema

    stream = spark.readStream.schema(schema).parquet(_stage_dir(path))
    keys = stream.select(
        "user_id",
        "event_type",
        F.expr(f"({epoch_micros_sql(stream)}) div {86400 * 1_000_000}").cast("bigint").alias("day_bucket"),
    ).dropDuplicates(["user_id", "event_type", "day_bucket"])
    writer = keys.writeStream.format("memory").outputMode("append")
    _await_done(_start_stream(spark, writer, DEDUP_QUERY_NAME))
    return spark.table(DEDUP_QUERY_NAME)


STREAMING_DEDUP_SQL = f"""
SELECT DISTINCT user_id, event_type,
       CAST(epoch_ns(ts) // {86400 * 1_000_000_000} AS BIGINT) AS day_bucket
FROM events
"""


# ---------------------------------------------------------------------------
# 75. streaming_enrich_join — stream-static dimension enrichment
# ---------------------------------------------------------------------------

ENRICH_QUERY_NAME = "gdalos_stream_enrich"
ENRICH_KEY_MULT = 11  # user_id*11 reaches past max(c_custkey) -> real misses


def streaming_enrich_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static LEFT OUTER join: the events stream enriched with the
    static customer dimension (key = user_id * 11, chosen so some keys
    miss and the outer side matters). Stream-static joins are STATELESS
    in Structured Streaming — no watermark, no state store; each
    micro-batch hash-joins against the (broadcastable) static side, so at
    100 TB/day the stream never shuffles and the dim is rebroadcast per
    batch. Append output over availableNow is row-for-row the batch LEFT
    JOIN — full hash gate."""
    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema

    stream = spark.readStream.schema(schema).parquet(_stage_dir(path))
    cust = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .select("c_custkey", "c_nationkey", "c_mktsegment")
    )
    joined = (
        stream.withColumn("join_key", F.col("user_id") * ENRICH_KEY_MULT)
        .join(F.broadcast(cust), F.col("join_key") == F.col("c_custkey"), "left")
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.coalesce(F.col("c_nationkey").cast("int"), F.lit(-1)).alias("nation"),
            F.coalesce("c_mktsegment", F.lit("NONE")).alias("mktsegment"),
            F.col("value").cast("decimal(18,2)").cast("double").alias("val"),
        )
    )
    writer = joined.writeStream.format("memory").outputMode("append")
    _await_done(_start_stream(spark, writer, ENRICH_QUERY_NAME))
    return spark.table(ENRICH_QUERY_NAME)


STREAMING_ENRICH_JOIN_SQL = f"""
SELECT e.event_id, e.user_id, e.event_type,
       COALESCE(CAST(c.c_nationkey AS INTEGER), -1) AS nation,
       COALESCE(c.c_mktsegment, 'NONE') AS mktsegment,
       CAST(CAST(e.value AS DECIMAL(18,2)) AS DOUBLE) AS val
FROM events e
LEFT JOIN customer c ON e.user_id * {ENRICH_KEY_MULT} = c.c_custkey
"""


# ---------------------------------------------------------------------------
# 106. streaming_stream_join — stream-stream event-time range join
# ---------------------------------------------------------------------------

SSJOIN_QUERY_NAME = "gdalos_stream_ssjoin"
SSJOIN_RANGE_H = 4  # purchase matches clicks in the preceding 4 hours


def _ssjoin_plan(read) -> DataFrame:
    """streaming_stream_join's bucketed range join over the events frames
    `read()` returns — streaming in the operator; a batch read runs the
    same plan (withWatermark is a no-op there)."""
    w_us = SSJOIN_RANGE_H * 3600 * 1_000_000

    def side(name: str, typ: str) -> DataFrame:
        s = read()
        us = F.expr(epoch_micros_sql(s)).cast("bigint")
        return (
            s.filter(F.col("event_type") == typ)
            .select(
                F.col("user_id").alias(f"{name}_user"),
                F.col("event_id").alias(f"{name}_id"),
                F.timestamp_micros(us).alias(f"{name}_ts"),
            )
            .withWatermark(f"{name}_ts", "60 days")
        )

    clicks = side("c", "click").withColumn(
        "c_bk", F.expr(_floor_div("unix_micros(c_ts)", w_us))
    )
    pb = _floor_div("unix_micros(p_ts)", w_us)
    buys = side("p", "purchase").select(
        "*", F.explode(F.array(F.expr(pb), F.expr(f"{pb} - 1"))).alias("p_bk"),
    )
    return clicks.join(
        buys,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("c_bk") == F.col("p_bk"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {SSJOIN_RANGE_H} HOURS")),
        "inner",
    ).select(
        F.col("c_user").alias("user_id"),
        F.col("c_id").alias("click_id"),
        F.col("p_id").alias("buy_id"),
        (
            (F.expr("unix_micros(p_ts)") - F.expr("unix_micros(c_ts)"))
            / F.lit(1_000_000)
        ).cast("bigint").alias("gap_sec"),
    )


def streaming_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream INNER join with an event-time range condition — the
    attribution query (purchase joined to the same user's clicks in the
    preceding SSJOIN_RANGE_H hours) as two Structured Streaming sides of
    the same source. Both sides carry a watermark and the join condition
    bounds event time, which is exactly what lets Spark expire buffered
    rows: a click older than (click watermark - range) can never match a
    future purchase, so join state is O(rate x range), not O(stream).
    Here the watermark is set beyond the dataset's span so the completed
    availableNow run is row-for-row the batch range join regardless of
    how the file source batches its input (watermarks only advance
    between micro-batches) — the full hash gate; production uses a tight
    watermark and the same plan. Only integer-derived columns are
    emitted.

    Round-13 (guide §2.5 — the hot-key probe): with user_id as the ONLY
    equality key, the symmetric hash join fetches EVERY buffered
    purchase of the user for each click and post-filters the 4-hour
    range — O(clicks x purchases) state probes per user per batch
    (~2.7e9 RocksDB value reads at the 10x events upscale, where the
    corpus densifies to ~1.3k events/user/side; the r12 sweep walls of
    450-600 s are exactly this term). The range is 4 h wide, so bucket
    event time by the range width and add the bucket to the equality
    key: a matching pair always satisfies floor(c_us/W) IN
    {floor(p_us/W) - 1 + 1 range} — concretely cb ∈ {pb-1, pb} — so
    emitting each purchase under TWO bucket keys (pb and pb-1) and
    joining on c_bk == p_bk makes every matching pair meet under
    EXACTLY ONE key (the two replica keys differ), while each probe now
    scans only the user's purchases within one bucket width:
    O(rate x range) probes — proportional to the output — instead of
    O(rate^2). The time predicates are unchanged, so row content, the
    watermark arithmetic, and state eviction bounds are untouched; the
    purchase side buffers 2x rows (both replicas carry the original
    p_ts). Measured at the 100x events upscale: the probe term
    collapses ~180x (one month / 4 h of per-user purchases per probe).
    The buffered rows are also projected to the minimum: the epoch-us
    bigints stay out of state — unix_micros(ts) reproduces them exactly
    (ts IS timestamp_micros(us)) for the gap arithmetic after the
    join."""
    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema
    joined = _ssjoin_plan(
        lambda: spark.readStream.schema(schema).parquet(_stage_dir(path))
    )
    writer = joined.writeStream.format("memory").outputMode("append")
    _await_done(_start_stream(spark, writer, SSJOIN_QUERY_NAME, heavy_state=True))
    return spark.table(SSJOIN_QUERY_NAME)


STREAMING_STREAM_JOIN_SQL = f"""
SELECT c.user_id AS user_id,
       c.event_id AS click_id,
       p.event_id AS buy_id,
       CAST((epoch_ns(p.ts) // 1000 - epoch_ns(c.ts) // 1000) // 1000000 AS BIGINT) AS gap_sec
FROM (SELECT * FROM events WHERE event_type = 'click') c
JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id
 AND c.ts <= p.ts
 AND c.ts >= p.ts - INTERVAL {SSJOIN_RANGE_H} HOUR
"""


# ---------------------------------------------------------------------------
# streaming_stream_outer_join — the OTHER half of attribution: clicks
# that never converted within the horizon (VERDICT r09 item 7)
# ---------------------------------------------------------------------------

SSOJ_QUERY_NAME = "gdalos_stream_ssoj"
SSOJ_RANGE_H = SSJOIN_RANGE_H   # same 4-hour attribution horizon
SSOJ_DELAY_H = 72               # watermark delay: leaves a real state tail


def _ssj_outer_run(
    spark: SparkSession, sf_dir: str, how: str, query_name: str
) -> DataFrame:
    """Shared body of the left-/full-outer stream-stream range joins:
    one place owns the side builder, watermark delay, range condition,
    sentinel encoding, and sink block, so the two keys cannot drift on
    their shared rows.

    Round-13 (guide §2.5): same range-bucketed equality key as
    streaming_stream_join — user_id alone made every probe scan the
    user's ENTIRE buffered other side (O(rate^2) RocksDB reads per user
    per batch at densifying upscales; the r12 sf10 sweep walls of
    510/598 s are this term). The range width W = SSOJ_RANGE_H buckets
    event time, and for any matching pair floor(c_us/W) and
    floor(p_us/W) differ by at most one, so replicating ONE side under
    its two possible bucket keys and adding bk-equality to the join
    makes each pair meet under exactly one key while probes touch only
    one bucket width of state. Outer-join null semantics pick WHICH
    side replicates: a replicated side would emit its unmatched-null
    row once per replica, so the side that emits nulls must stay
    un-replicated. leftOuter therefore replicates the purchase side
    only (clicks emit nulls exactly once; purchases never emit nulls).
    fullOuter decomposes into TWO concurrent leftOuter arms over the
    same staged source: arm L = the leftOuter above (matched rows +
    unmatched-click nulls), arm R = purchases leftOuter
    click-replicas, post-filtered to its null rows only (the orphan
    purchases) — matched rows surface once (arm L), each null tail
    surfaces from the arm where its side is un-replicated, and the
    union is row-for-row the single fullOuter. Eviction bounds are
    derived from the unchanged time predicates, and both arms see the
    same min-across-nodes watermark (both carry one click + one
    purchase watermark node with the same delay), so the pinned
    watermark arithmetic in the oracle is untouched. State rows grow
    1.5x (one side doubled per arm); probe reads drop by the
    events-per-user-horizon / events-per-user-range ratio (~180x at
    the upscales). Buffered rows are projected to the minimum — epoch
    micros stay out of state; unix_micros(ts) re-derives them exactly
    for the gap arithmetic."""
    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema

    arm_l, arm_r = f"{query_name}_l", f"{query_name}_r"
    w_us = SSOJ_RANGE_H * 3600 * 1_000_000

    def side(name: str, typ: str) -> DataFrame:
        s = spark.readStream.schema(schema).parquet(_stage_dir(path))
        us = F.expr(epoch_micros_sql(s)).cast("bigint")
        return (
            s.filter(F.col("event_type") == typ)
            .select(
                F.col("user_id").alias(f"{name}_user"),
                F.col("event_id").alias(f"{name}_id"),
                F.timestamp_micros(us).alias(f"{name}_ts"),
            )
            .withWatermark(f"{name}_ts", f"{SSOJ_DELAY_H} hours")
        )

    def single(name: str, typ: str) -> DataFrame:
        return side(name, typ).withColumn(
            f"{name}_bk", F.expr(_floor_div(f"unix_micros({name}_ts)", w_us))
        )

    def replicated(name: str, typ: str, ahead: bool) -> DataFrame:
        # a purchase matches clicks in [p_ts - W, p_ts] -> replicas at
        # {pb, pb-1}; a click matches purchases in [c_ts, c_ts + W] ->
        # replicas at {cb, cb+1}
        delta = 1 if ahead else -1
        bk = _floor_div(f"unix_micros({name}_ts)", w_us)
        return side(name, typ).select(
            "*",
            F.explode(F.array(F.expr(bk), F.expr(f"{bk} + {delta}"))).alias(f"{name}_bk"),
        )

    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("c_bk") == F.col("p_bk"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr(f"INTERVAL {SSOJ_RANGE_H} HOURS"))
    )
    gap = (
        (F.expr("unix_micros(p_ts)") - F.expr("unix_micros(c_ts)"))
        / F.lit(1_000_000)
    ).cast("bigint")
    # -1 sentinels for the unmatched-null sides: event ids are
    # non-negative, and the driver's value compare sorts rows —
    # NULLs don't order against integers there
    out_cols = [
        F.coalesce(F.col("c_user"), F.col("p_user")).alias("user_id"),
        F.coalesce(F.col("c_id"), F.lit(-1)).cast("bigint").alias("click_id"),
        F.coalesce(F.col("p_id"), F.lit(-1)).cast("bigint").alias("buy_id"),
        F.coalesce(gap, F.lit(-1)).alias("gap_sec"),
    ]

    left_arm = single("c", "click").join(
        replicated("p", "purchase", ahead=False), cond, "leftOuter"
    ).select(*out_cols)
    if how == "leftOuter":
        writer = left_arm.writeStream.format("memory").outputMode("append")
        _await_done(_start_stream(spark, writer, query_name, heavy_state=True))
        return spark.table(query_name)

    assert how == "fullOuter", how
    orphan_arm = (
        single("p", "purchase")
        .join(replicated("c", "click", ahead=True), cond, "leftOuter")
        .filter(F.col("c_id").isNull())
        .select(*out_cols)
    )
    # both arms run concurrently; if either fails to start or finish,
    # stop the other too rather than leave it running in the session
    started = []
    try:
        for arm, df in ((arm_l, left_arm), (arm_r, orphan_arm)):
            writer = df.writeStream.format("memory").outputMode("append")
            started.append(_start_stream(spark, writer, arm, heavy_state=True))
        for q in started:
            _await_done(q)
    except BaseException:
        for q in started:
            q.stop()
        raise
    LAST_STATE_METRICS[query_name] = [
        {**row, "arm": arm}
        for arm, qn in (("l", arm_l), ("r", arm_r))
        for row in LAST_STATE_METRICS.pop(qn, [])
    ]
    return spark.table(arm_l).unionByName(spark.table(arm_r))


def streaming_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join with an event-time range condition —
    the unconverted-click report (click with no purchase by the same
    user within the following SSOJ_RANGE_H hours). Outer semantics are
    where streaming differs from batch: a matched row emits immediately,
    but a NULL row for an unmatched click emits only when the watermark
    proves no future purchase can match (state eviction at
    click_ts + range < watermark), and clicks inside the final
    watermark tail sit in state forever awaiting more data — they are
    never emitted. All data arrives in ONE micro-batch (watermarks only
    advance between batches, so nothing is ever dropped late and the
    run is batch-schedule independent); the trailing no-data batch then
    evicts with the final watermark max(ts) - 72h. The oracle is the
    batch LEFT JOIN with exactly that tail filter on the null side —
    the same closed-form watermark arithmetic streaming_watermark_audit
    pins for append-mode aggregation, here pinned for outer-join state
    eviction. At 100 TB the identical plan runs unbounded with join
    state bounded to O(rate x horizon)."""
    return _ssj_outer_run(spark, sf_dir, "leftOuter", SSOJ_QUERY_NAME).select(
        "user_id", "click_id", "buy_id", "gap_sec"
    )


# Oracle: matched rows are the plain range join; null rows are the
# unmatched clicks whose join-state eviction bound (click ts + range)
# falls strictly under the final GLOBAL watermark. Two pinned Spark
# mechanics (measured, then encoded exactly):
#   * each withWatermark node tracks ITS stream's max event time, and
#     the global watermark is the MIN across nodes (multipleWatermark
#     policy 'min') — here min(max click ts, max purchase ts) - delay,
#     NOT max(all events) - delay;
#   * watermarks are tracked in epoch MILLISECONDS (the max event time
#     floors to ms before the delay subtracts), so the oracle floors
#     the anchor to ms too.
# The eviction predicate is strict (<); an exact tie would need a click
# landing on the ms-floored boundary to the microsecond, which the
# micro-timestamped corpus never produces (the watermark_audit
# precedent).
# NULL guard: DuckDB's LEAST ignores NULL arguments, but Spark's
# min-across-nodes watermark never advances while one side is EMPTY
# (that node stays at epoch 0) — so a one-sided corpus must yield a
# NULL anchor here (eviction predicates then evaluate NULL -> no tail
# rows), matching the engine, not LEAST's skip-the-NULL behavior.
_SSOJ_WM_US = (
    f"(SELECT CASE WHEN MAX(CASE WHEN event_type = 'click' THEN epoch_ns(ts) END) IS NULL"
    f" OR MAX(CASE WHEN event_type = 'purchase' THEN epoch_ns(ts) END) IS NULL"
    f" THEN NULL ELSE"
    f" (FLOOR(LEAST(MAX(CASE WHEN event_type = 'click' THEN epoch_ns(ts) END),"
    f" MAX(CASE WHEN event_type = 'purchase' THEN epoch_ns(ts) END)) // 1000 / 1000)"
    f" - {SSOJ_DELAY_H * 3600 * 1000}) * 1000 END FROM events)"
)




# ---------------------------------------------------------------------------
# streaming_stream_full_outer_join — both unmatched tails at once
# ---------------------------------------------------------------------------

SSFOJ_QUERY_NAME = "gdalos_stream_ssfoj"


def streaming_stream_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER range join: the left-outer key's
    unconverted clicks PLUS the orphan purchases (no prior click by the
    same user within the preceding SSOJ_RANGE_H hours). The two null
    tails evict on DIFFERENT bounds, both functions of the one global
    watermark: a click is provably unmatched when click_ts + range <
    wm (no future purchase can land in its window), while a purchase is
    provably unmatched as soon as purchase_ts < wm (any future click
    arrives with event time >= wm, and the condition needs click_ts <=
    purchase_ts). The oracle encodes exactly those two strict bounds
    against the ms-floored min-across-nodes watermark the left-outer
    key pinned. Same bounded state at 100 TB: O(rate x horizon) rows
    per side."""
    return _ssj_outer_run(spark, sf_dir, "fullOuter", SSFOJ_QUERY_NAME)


# shared oracle text: matched rows + the unmatched-click tail (the
# left-outer result; the full-outer adds the orphan-purchase tail)
_SSOJ_SQL_BASE = f"""
WITH c AS (SELECT * FROM events WHERE event_type = 'click'),
p AS (SELECT * FROM events WHERE event_type = 'purchase'),
wm AS (SELECT CAST({_SSOJ_WM_US} AS BIGINT) AS w_us)
SELECT c.user_id AS user_id,
       c.event_id AS click_id,
       p.event_id AS buy_id,
       CAST((epoch_ns(p.ts) // 1000 - epoch_ns(c.ts) // 1000) // 1000000 AS BIGINT) AS gap_sec
FROM c JOIN p
  ON c.user_id = p.user_id
 AND p.ts >= c.ts
 AND p.ts <= c.ts + INTERVAL {SSOJ_RANGE_H} HOUR
UNION ALL
SELECT c.user_id, c.event_id, CAST(-1 AS BIGINT), CAST(-1 AS BIGINT)
FROM c, wm
WHERE epoch_ns(c.ts) // 1000 + {SSOJ_RANGE_H * 3600 * 1000000} < wm.w_us
  AND NOT EXISTS (
    SELECT 1 FROM p
    WHERE p.user_id = c.user_id
      AND p.ts >= c.ts
      AND p.ts <= c.ts + INTERVAL {SSOJ_RANGE_H} HOUR
  )"""

STREAMING_STREAM_OUTER_JOIN_SQL = _SSOJ_SQL_BASE

STREAMING_STREAM_FULL_OUTER_JOIN_SQL = _SSOJ_SQL_BASE + f"""
UNION ALL
SELECT p.user_id, CAST(-1 AS BIGINT), p.event_id, CAST(-1 AS BIGINT)
FROM p, wm
WHERE epoch_ns(p.ts) // 1000 < wm.w_us
  AND NOT EXISTS (
    SELECT 1 FROM c
    WHERE c.user_id = p.user_id
      AND p.ts >= c.ts
      AND p.ts <= c.ts + INTERVAL {SSOJ_RANGE_H} HOUR
  )
"""



# ---------------------------------------------------------------------------
# 114. streaming_session_window — built-in session windows (JVM state)
# ---------------------------------------------------------------------------

SW_QUERY_NAME = "gdalos_stream_session_window"
SW_GAP_SEC = 1800  # same 30-minute gap as the sessionize family


def streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap sessionization via Spark's BUILT-IN session_window — the
    declarative JVM-state twin of streaming_sessionize's
    applyInPandasWithState: merging, state layout, and eviction all
    happen inside the native streaming aggregation (no Python in the
    loop), which is the first choice at 100 TB; the custom-state op
    remains for semantics session_window can't express. Append mode
    emits a session once the watermark passes its end (last event +
    gap); with a zero watermark over availableNow that is every session
    whose end <= max event time, which the oracle reproduces as a
    gaps-and-islands aggregation with the same tail filter. Only
    integer-epoch and exact-decimal columns are emitted."""
    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema

    stream = spark.readStream.schema(schema).parquet(_stage_dir(path))
    ev = stream.select(
        "user_id",
        "value",
        F.timestamp_micros(epoch_micros(stream)).alias("ts"),
    ).withWatermark("ts", "0 seconds")
    agg = ev.groupBy(
        F.session_window("ts", f"{SW_GAP_SEC} seconds"), "user_id"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("session_value"),
    ).select(
        "user_id",
        F.expr("unix_micros(session_window.start) div 1000000").cast("bigint").alias("start_sec"),
        F.expr("unix_micros(session_window.end) div 1000000").cast("bigint").alias("end_sec"),
        "n_events",
        "session_value",
    )
    writer = agg.writeStream.format("memory").outputMode("append")
    _await_done(_start_stream(spark, writer, SW_QUERY_NAME))
    return spark.table(SW_QUERY_NAME)


STREAMING_SESSION_WINDOW_SQL = f"""
WITH e AS (
  SELECT user_id, value, CAST(epoch_ns(ts) // 1000 AS BIGINT) AS us FROM events
),
flagged AS (
  SELECT user_id, value, us,
    CASE WHEN us - LAG(us) OVER (PARTITION BY user_id ORDER BY us) > {SW_GAP_SEC} * 1000000
           OR LAG(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
         THEN 1 ELSE 0 END AS new_sess
  FROM e
),
sess AS (
  SELECT user_id, value, us,
    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged
),
sessions AS (
  SELECT user_id,
         MIN(us) // 1000000 AS start_sec,
         (MAX(us) + {SW_GAP_SEC} * 1000000) // 1000000 AS end_sec,
         MAX(us) + {SW_GAP_SEC} * 1000000 AS end_us,
         COUNT(*) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
  FROM sess GROUP BY user_id, sid
),
horizon AS (SELECT MAX(us) AS max_us FROM e)
SELECT user_id, CAST(start_sec AS BIGINT) AS start_sec,
       CAST(end_sec AS BIGINT) AS end_sec, n_events, session_value
FROM sessions CROSS JOIN horizon
WHERE end_us <= max_us
"""


TOPK_QUERY_NAME = "gdalos_stream_tumbling_topk"
TOPK_K = 3


def streaming_tumbling_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day top-K event types by count — the streaming leaderboard.
    The STREAMING part is the watermarked tumbling (day, type) count
    (state bounded to one day of open windows, partial agg map-side);
    the top-K rank over each FINALIZED window is a batch window
    function on the sink table, because rank needs the window complete
    — exactly how production leaderboards split the work (the stream
    maintains counts, the reader ranks). availableNow over the full
    file set ≡ the batch groupBy, so the oracle gates values fully."""
    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema
    stream = spark.readStream.schema(schema).parquet(_stage_dir(path))
    # tz-free day bucket from epoch micros (calendar day windows shift
    # with the session zone; the leaderboard day must not)
    ev = stream.withColumn(
        "day_start",
        F.expr(f"(({epoch_micros_sql(stream)}) div 86400000000) * 86400"),
    )
    agg = ev.groupBy("day_start", "event_type").agg(F.count(F.lit(1)).alias("n"))
    writer = agg.writeStream.format("memory").outputMode("complete")
    _await_done(_start_stream(spark, writer, TOPK_QUERY_NAME))
    from pyspark.sql.window import Window

    sink = spark.table(TOPK_QUERY_NAME).select("day_start", "event_type", "n")
    w = Window.partitionBy("day_start").orderBy(F.desc("n"), "event_type")
    return (
        sink.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= TOPK_K)
        .orderBy("day_start", "rk")
    )


STREAMING_TUMBLING_TOPK_SQL = f"""
WITH counts AS (
  SELECT CAST(FLOOR(epoch(ts) / 86400) * 86400 AS BIGINT) AS day_start,
         event_type, COUNT(*) AS n
  FROM events GROUP BY 1, 2
),
ranked AS (
  SELECT day_start, event_type, n,
         CAST(ROW_NUMBER() OVER (PARTITION BY day_start ORDER BY n DESC, event_type) AS INTEGER) AS rk
  FROM counts
)
SELECT day_start, event_type, n, rk FROM ranked WHERE rk <= {TOPK_K}
ORDER BY day_start, rk
"""


CUSUM_QUERY_NAME = "gdalos_stream_cusum"
CUSUM_TARGET_CENTS = 4_000  # monitored reference level ($40, below the ~$50 mean)
CUSUM_STREAM_H_CENTS = 100_000  # alarm threshold ($1000 cumulative positive drift)
CUSUM_OUT_SCHEMA = "user_id bigint, event_id bigint, cusum_value double"
CUSUM_STATE_SCHEMA = "s_cents bigint"


def _cusum_state_fn(key, pdfs, state):
    """Custom stateful operator #2: per-user one-sided CUSUM against a
    fixed reference level. State = one BIGINT (the running statistic in
    cents) — the smallest possible state, updated in arrival-time order
    and emitted whenever the drift statistic exceeds the threshold
    (no reset, so the availableNow run is bit-equal to the batch
    prefix-window twin)."""
    import pandas as pd

    (user_id,) = key
    s_cents = state.get[0] if state.exists else 0
    alarms: list[tuple] = []
    chunks = [pdf for pdf in pdfs if len(pdf)]
    if chunks:
        pdf = (
            chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
        ).sort_values(["ts_sec", "event_id"])
        for eid, val in zip(pdf["event_id"], pdf["value"]):
            d = int(round(float(val) * 100)) - CUSUM_TARGET_CENTS
            s_cents = max(0, s_cents + d)
            if s_cents > CUSUM_STREAM_H_CENTS:
                alarms.append((user_id, int(eid), s_cents / 100.0))
    state.update((s_cents,))
    if alarms:
        yield pd.DataFrame(alarms, columns=["user_id", "event_id", "cusum_value"])


def streaming_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online CUSUM drift monitoring as the second custom stateful
    streaming operator (applyInPandasWithState): one BIGINT of state per
    user, alarm rows emitted the moment the statistic crosses the
    threshold — the alerting path of events_cusum_alarm's batch report.
    No reset after alarm, so availableNow output is EXACTLY the batch
    prefix-window derivation and the oracle gates every value (unlike
    sessionize there is no open-tail asymmetry to filter)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema

    stream = spark.readStream.schema(schema).parquet(_stage_dir(path))
    ev = stream.select(
        "user_id",
        "event_id",
        F.expr(f"({epoch_micros_sql(stream)}) div 1000000").cast("bigint").alias("ts_sec"),
        "value",
    )
    alarms = ev.groupBy("user_id").applyInPandasWithState(
        _cusum_state_fn,
        outputStructType=CUSUM_OUT_SCHEMA,
        stateStructType=CUSUM_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    writer = alarms.writeStream.format("memory").outputMode("append")
    _await_done(_start_stream(spark, writer, CUSUM_QUERY_NAME))
    return spark.table(CUSUM_QUERY_NAME)


STREAMING_CUSUM_SQL = f"""
WITH ev AS (
  SELECT user_id, event_id,
         CAST(FLOOR(epoch(ts)) AS BIGINT) AS ts_s,
         CAST(ROUND(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT) - {CUSUM_TARGET_CENTS} AS d
  FROM events
),
w1 AS (
  SELECT *, CAST(SUM(d) OVER (PARTITION BY user_id ORDER BY ts_s, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS p
  FROM ev
),
w2 AS (
  SELECT user_id, event_id,
         p - LEAST(CAST(0 AS BIGINT),
                   CAST(MIN(p) OVER (PARTITION BY user_id ORDER BY ts_s, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)) AS s
  FROM w1
)
SELECT user_id, event_id, CAST(s AS DOUBLE) / 100.0 AS cusum_value
FROM w2
WHERE s > {CUSUM_STREAM_H_CENTS}
"""


# ---------------------------------------------------------------------------
# streaming_ohlc_bars — the hypertable OHLC rollup as a streaming window agg
# ---------------------------------------------------------------------------

OHLC_QUERY_NAME = "gdalos_stream_ohlc"


def streaming_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The continuous-aggregate version of events_ohlc_bars: the same
    1-hour OHLC bars computed by Structured Streaming with a watermark —
    open/close ride the windowed shuffle as total-order struct min/max,
    exactly like the batch twin, so the driver gate hashes this against
    the SAME oracle (temporal.EVENTS_OHLC_BARS_SQL). This is the
    TimescaleDB-style continuous aggregate: at production scale the
    memory sink becomes a Delta/parquet sink the serving layer reads."""
    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema
    stream = spark.readStream.schema(schema).parquet(_stage_dir(path))
    ev = stream.withColumn("ts", F.timestamp_micros(epoch_micros(stream)))
    base = ev.select(
        "event_type",
        "ts",
        F.expr("unix_micros(ts)").alias("us"),
        "event_id",
        F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)").alias("cents"),
    )
    agg = (
        base.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.min(F.struct("us", "event_id", "cents")).alias("o"),
            F.max(F.struct("us", "event_id", "cents")).alias("c"),
            F.max("cents").alias("high_c"),
            F.min("cents").alias("low_c"),
            F.sum("cents").alias("vol_c"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
        )
    )
    writer = agg.writeStream.format("memory").outputMode("complete")
    _await_done(_start_stream(spark, writer, OHLC_QUERY_NAME))
    return spark.table(OHLC_QUERY_NAME).select(
        "event_type",
        F.col("w").getField("start").cast("long").alias("bar_start_s"),
        (F.col("o.cents").cast("double") / 100.0).alias("open"),
        (F.col("high_c").cast("double") / 100.0).alias("high"),
        (F.col("low_c").cast("double") / 100.0).alias("low"),
        (F.col("c.cents").cast("double") / 100.0).alias("close"),
        (F.col("vol_c").cast("double") / 100.0).alias("volume"),
        "n_events",
    )


# ---------------------------------------------------------------------------
# streaming_watermark_audit — REAL late-data drop semantics, made
# deterministic by a three-file staged stream
# ---------------------------------------------------------------------------

WATERMARK_QUERY_NAME = "gdalos_stream_watermark_audit"
WM_DELAY_S = 4 * 3600  # watermark delay
WM_WINDOW_S = 3600     # tumbling window


def _stage_three_batches(spark: SparkSession, sf_dir: str) -> tuple[str, StructType]:
    """Stage events as THREE parquet files — event_id mod 3 = 0, 1, 2 —
    with strictly increasing mtimes, so maxFilesPerTrigger=1 processes
    them as three deterministic micro-batches. Three, not two, because
    Spark intentionally lags the LATE-EVENT watermark one batch behind
    the EVICTION watermark (SPARK-24634: a row must not be dropped
    before the eviction that finalized its window has actually run), so
    the first batch whose rows can be dropped as late is the third. In
    production the batches are whatever the source delivers; here
    determinism is what lets the result be oracle-gated. Returns the
    staged directory and the source schema."""
    import shutil

    from gdalos_spark.datamodel import publish_staged_dir

    src = f"{sf_dir}/events.parquet"
    ev = spark.read.parquet(src)

    def build(d: str) -> None:
        # one write job: a single task holds every residue class, so the
        # partitioned write leaves exactly one file per class
        tmp = os.path.join(d, "_tmp")
        (
            ev.withColumn("cls", F.col("event_id") % 3)
            .coalesce(1)
            .write.partitionBy("cls")
            .parquet(tmp)
        )
        t0 = 1_600_000_000
        for i, tag in enumerate(("batch_a", "batch_b", "batch_c")):
            cls_dir = os.path.join(tmp, f"cls={i}")
            if not os.path.isdir(cls_dir):  # an empty class still gets its batch
                ev.limit(0).coalesce(1).write.parquet(cls_dir)
            part = [f for f in os.listdir(cls_dir) if f.endswith(".parquet")][0]
            os.replace(os.path.join(cls_dir, part), os.path.join(d, f"{tag}.parquet"))
            os.utime(os.path.join(d, f"{tag}.parquet"), (t0 + 100 * i, t0 + 100 * i))
        shutil.rmtree(tmp)

    staged = publish_staged_dir(
        build,
        os.path.join(
            tempfile.gettempdir(), "gdalos_stream_wm",
            sf_dir.strip("/").replace("/", "_"),
        ),
        source_fingerprint(src),
    )
    return staged, ev.schema


def streaming_watermark_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-window counts per event_type through a REAL three-micro-batch
    Structured Streaming run with a 4-hour watermark, append mode — the
    one operator whose OUTPUT differs from its batch twin precisely by
    watermark semantics, all of which are deterministic here:

    * end of batch 2 evicts (emits) every window closed under the
      watermark established by batch 1's data — max(ts of event_id%3=0)
      minus 4h;
    * batch 3's rows falling in those evicted windows are DROPPED late
      data (Spark's late-event watermark is the previous batch's
      eviction watermark, so batch 3 is the first batch that can drop);
    * windows past the final watermark (global max ts - 4h) are never
      emitted in append mode — they sit in state awaiting more data.

    The same query pointed at a growing directory/Kafka topic runs
    unbounded with state bounded to the watermark horizon; the audit's
    oracle reproduces the batch-schedule watermark arithmetic in SQL, so
    this is a hash-gated certification that the engine's late-data
    behavior matches the declared semantics."""
    staged, schema = _stage_three_batches(spark, sf_dir)

    # fresh in-memory state per invocation: the memory sink accumulates
    # across runs if the checkpoint is reused
    ckpt = tempfile.mkdtemp(prefix="gdalos_wm_ckpt_")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staged)
    )
    ev = stream.withColumn("ts", F.timestamp_micros(epoch_micros(stream)))
    agg = (
        ev.withWatermark("ts", f"{WM_DELAY_S} seconds")
        .groupBy(F.window("ts", f"{WM_WINDOW_S} seconds").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    writer = (
        agg.writeStream.format("memory")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
    )
    _await_done(_start_stream(spark, writer, WATERMARK_QUERY_NAME))
    return (
        spark.table(WATERMARK_QUERY_NAME)
        .select(
            F.col("w").getField("start").cast("long").alias("window_start"),
            "event_type",
            F.col("n").cast("bigint").alias("n"),
        )
        .orderBy("window_start", "event_type")
    )


# Oracle: the three-batch watermark arithmetic in closed form. Watermarks
# compare in event-time microseconds against hour-aligned window ends, so
# floor-second arithmetic is exactly equivalent (we <= x - 4h  <=>
# we <= floor(x) - 4h for integer-second we); equality at the boundary
# would need an exactly hour-aligned max timestamp, which the micro-
# timestamped corpus never produces.
STREAMING_WATERMARK_AUDIT_SQL = f"""
WITH ev AS (
  SELECT event_id, event_type, CAST(FLOOR(epoch(ts)) AS BIGINT) AS t FROM events
),
w AS (
  SELECT event_type, event_id,
         CAST(FLOOR(t / {WM_WINDOW_S}) * {WM_WINDOW_S} AS BIGINT) AS ws,
         CAST(FLOOR(t / {WM_WINDOW_S}) * {WM_WINDOW_S} + {WM_WINDOW_S} AS BIGINT) AS we
  FROM ev
),
wm AS (
  SELECT MAX(CASE WHEN event_id % 3 = 0 THEN t END) - {WM_DELAY_S} AS w_late,
         MAX(t) - {WM_DELAY_S} AS w_final
  FROM ev
),
kept AS (
  SELECT w.* FROM w WHERE event_id % 3 IN (0, 1)
  UNION ALL
  SELECT w.* FROM w, wm WHERE event_id % 3 = 2 AND we > w_late
)
SELECT ws AS window_start, event_type, CAST(COUNT(*) AS BIGINT) AS n
FROM kept, wm
WHERE we <= w_final
GROUP BY 1, 2
ORDER BY 1, 2
"""


# ---------------------------------------------------------------------------
# streaming_parquet_sink — the SINK side of the streaming story: append
# parquet file sink with the exactly-once commit log
# ---------------------------------------------------------------------------

SINK_QUERY_NAME = "gdalos_stream_parquet_sink"


def streaming_parquet_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream the three staged event micro-batches through a stateless
    projection into a real PARQUET FILE SINK (append mode + checkpoint),
    then read the sink directory back and report per-type counts and
    exact-cents sums.

    What this certifies that the memory-sink operators can't: the file
    sink's _spark_metadata commit log. Files become visible to readers
    only when their batch commits, a re-run against the same checkpoint
    processes nothing (no duplicate files — asserted in tests), and a
    crashed batch's orphan files are invisible because they never enter
    the log. That commit protocol IS the exactly-once contract a 100-TB
    pipeline relies on when a thousand executors write a landing zone;
    the batch oracle over the original events certifies no row was
    dropped or duplicated on the way through.

    The staged inputs, sink, and checkpoint all re-key on the source
    fingerprint, so regenerated testdata restages instead of appending
    to a stale sink."""
    staged, schema = _stage_three_batches(spark, sf_dir)
    src = f"{sf_dir}/events.parquet"
    fp = source_fingerprint(src).replace(":", "_")
    base = os.path.join(
        tempfile.gettempdir(), "gdalos_stream_sink",
        sf_dir.strip("/").replace("/", "_"), fp,
    )
    out_dir = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")
    os.makedirs(base, exist_ok=True)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staged)
    )
    rows = stream.select(
        "event_id",
        "user_id",
        "event_type",
        F.round(F.col("value").cast("decimal(18,2)") * 100).cast("bigint").alias("cents"),
    )
    writer = (
        rows.writeStream.format("parquet")
        .outputMode("append")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
    )
    _await_done(_start_stream(spark, writer, SINK_QUERY_NAME))
    sunk = spark.read.parquet(out_dir)
    return (
        sunk.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("cents"),
            F.countDistinct("event_id").alias("n_distinct"),
        )
        .select(
            "event_type",
            "n",
            (F.col("cents").cast("double") / F.lit(100.0)).alias("total_value"),
            "n_distinct",
        )
        .orderBy("event_type")
    )


STREAMING_PARQUET_SINK_SQL = """
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(ROUND(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT)) AS DOUBLE)
         / 100.0 AS total_value,
       COUNT(DISTINCT event_id) AS n_distinct
FROM events
GROUP BY event_type
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# streaming_upsert_sink — foreachBatch MERGE into a keyed store
# (last-writer-wins), the production streaming-merge idiom
# ---------------------------------------------------------------------------

UPSERT_QUERY_NAME = "gdalos_stream_upsert"


def streaming_upsert_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintain a per-user LATEST-EVENT table from the staged three-batch
    stream via foreachBatch: each micro-batch merges into the keyed store
    (new key -> insert, existing key -> keep whichever row has the later
    (ts, event_id)). The merged table is written to a NEW versioned
    directory per batch and a _CURRENT pointer flips on success — the
    swap pattern that stands in for MERGE INTO on plain parquet (no
    self-overwrite of the directory being read, torn batches never
    become visible; with a Delta/Iceberg table the foreachBatch body
    would be a single MERGE statement).

    Last-writer-wins over a total (ts, event_id) order is
    batch-schedule-independent, so the final state equals the batch
    argmax and the entry is fully oracle-gated."""
    staged, schema = _stage_three_batches(spark, sf_dir)
    src = f"{sf_dir}/events.parquet"
    fp = source_fingerprint(src).replace(":", "_")
    base = os.path.join(
        tempfile.gettempdir(), "gdalos_stream_upsert",
        sf_dir.strip("/").replace("/", "_"), fp,
    )
    ckpt = os.path.join(base, "ckpt")
    cur_ptr = os.path.join(base, "_CURRENT")
    os.makedirs(base, exist_ok=True)

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql.window import Window as W

        # full-microsecond event time in the store: the winner must be
        # chosen on the same total (ts, event_id) order the oracle uses —
        # second-truncated ordering would pick a different same-second row
        news = batch_df.select(
            "user_id",
            "event_id",
            F.unix_micros("ts").alias("ts_us"),
            F.round(F.col("value").cast("decimal(18,2)") * 100).cast("bigint").alias("cents"),
        )
        if os.path.exists(cur_ptr):
            with open(cur_ptr) as f:
                cur = batch_df.sparkSession.read.parquet(f.read().strip())
            merged = cur.unionByName(news)
        else:
            merged = news
        w = W.partitionBy("user_id").orderBy(F.desc("ts_us"), F.desc("event_id"))
        latest = (
            merged.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        # a NEW directory per (batch, attempt): a checkpoint-replayed
        # batch must never overwrite the _CURRENT directory it is
        # reading (mkdtemp makes the name collision-proof; superseded
        # version dirs stay on disk until the fingerprint rotates)
        vdir = tempfile.mkdtemp(prefix=f"v{batch_id}_", dir=base)
        latest.write.mode("overwrite").parquet(vdir)
        tmp = cur_ptr + ".tmp"
        with open(tmp, "w") as f:
            f.write(vdir)
        os.replace(tmp, cur_ptr)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staged)
    )
    ev = stream.withColumn("ts", F.timestamp_micros(epoch_micros(stream)))
    writer = ev.writeStream.foreachBatch(merge_batch).option("checkpointLocation", ckpt)
    _await_done(_start_stream(spark, writer, UPSERT_QUERY_NAME))
    with open(cur_ptr) as f:
        final = spark.read.parquet(f.read().strip())
    return final.select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.expr("ts_us div 1000000").cast("bigint").alias("ts_s"),
        (F.col("cents").cast("double") / F.lit(100.0)).alias("last_value"),
    ).orderBy("user_id")


STREAMING_UPSERT_SINK_SQL = """
SELECT user_id, event_id AS last_event_id,
       CAST(FLOOR(epoch(ts)) AS BIGINT) AS ts_s,
       CAST(CAST(ROUND(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT) AS DOUBLE)
         / 100.0 AS last_value
FROM events
QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# streaming_dedup_watermark — dropDuplicatesWithinWatermark, the BOUNDED-
# STATE production dedup (streaming_dedup's state grows with distinct
# keys forever; this one's state is capped at the watermark horizon —
# the only viable shape at 100 TB/day).
# ---------------------------------------------------------------------------

DWM_QUERY_NAME = "gdalos_stream_dedup_wm"
DWM_DELAY_US = 2 * 86400 * 1_000_000  # 2-day dedup horizon
DWM_WINDOW_DAYS = 10                  # batch = 10-day slice of event time
DWM_STRAGGLER_MOD = 5                 # user_id % 5 == 0 keys re-send batch-1 rows


def _stage_dedup_wm_batches(spark: SparkSession, sf_dir: str) -> str:
    """Stage three mtime-ordered batch files for the watermarked dedup:
    batch k holds ONE row per (user_id, event_type) key — the key's min
    event time inside the k-th 10-day slice — so the timestamp that
    creates dedup state is a deterministic per-key value, not whichever
    physical row a partition happened to deliver first. Batch 3 also
    re-sends the batch-1 rows of user_id%5==0 keys, restricted to rows
    at-or-under the batch-2 late watermark (the staging computes the
    same wm arithmetic the oracle does), so the run exercises genuine
    late-row drops alongside state-alive drops and post-eviction
    re-emissions."""
    import shutil

    from gdalos_spark.datamodel import publish_staged_dir

    src = f"{sf_dir}/events.parquet"

    def build(d: str) -> None:
        os.makedirs(d, exist_ok=True)
        ev = spark.read.parquet(src)
        us = F.expr(epoch_micros_sql(ev)).alias("us")
        base = ev.select("user_id", "event_type", us)
        day0 = base.agg(F.min(F.expr("us div 86400000000"))).collect()[0][0]
        keyed = (
            base.withColumn(
                "w",
                F.least(
                    F.expr(
                        f"((us div 86400000000) - {day0}) div {DWM_WINDOW_DAYS}"
                    ),
                    F.lit(2),
                ).cast("int"),
            )
            .groupBy("user_id", "event_type", "w")
            .agg(F.min("us").alias("t_us"))
            .persist()
        )
        # wm_1: watermark established by batch 1's data (max staged t - delay)
        wm1 = (
            keyed.filter(F.col("w") == 0).agg(F.max("t_us")).collect()[0][0]
            - DWM_DELAY_US
        )
        stragglers = keyed.filter(
            (F.col("w") == 0)
            & (F.col("user_id") % DWM_STRAGGLER_MOD == 0)
            & (F.col("t_us") <= wm1)  # guaranteed late in batch 3 (t <= wm lag)
        )
        t0 = 1_600_000_000
        for i, tag in enumerate(("batch_a", "batch_b", "batch_c")):
            part_df = keyed.filter(F.col("w") == i)
            if i == 2:
                part_df = part_df.unionByName(stragglers)
            out = part_df.select(
                "user_id", "event_type", F.timestamp_micros("t_us").alias("ts")
            )
            tmp = os.path.join(d, f"_tmp_{tag}")
            out.coalesce(1).write.mode("overwrite").parquet(tmp)
            part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
            os.replace(os.path.join(tmp, part), os.path.join(d, f"{tag}.parquet"))
            shutil.rmtree(tmp)
            os.utime(os.path.join(d, f"{tag}.parquet"), (t0 + 100 * i, t0 + 100 * i))
        keyed.unpersist()

    return publish_staged_dir(
        build,
        os.path.join(
            tempfile.gettempdir(), "gdalos_stream_dwm",
            sf_dir.strip("/").replace("/", "_"),
        ),
        source_fingerprint(src),
    )


def streaming_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark over a real three-micro-batch run —
    the bounded-state streaming dedup (SURVEY §2 #60's production note,
    now exercised): state for a key lives only until the watermark
    passes its event time + delay, so at 100 TB/day the state store
    holds the horizon's keys, not history's.

    Every emission/drop is deterministic and oracle-reproduced from the
    empirically pinned Spark semantics (verified on synthetic batches,
    17/17 boundary observations):
      * wm_k = max event time through batch k-1, minus delay (monotone);
      * the LATE filter in batch k drops rows with t <= wm_(k-1) —
        one batch behind eviction (SPARK-24634);
      * a first-seen key emits and records expiry t + delay (duplicates
        do NOT refresh it);
      * end of batch k evicts state with expiry <= wm_k.
    The staged corpus yields all four behaviors: batch-2 duplicates
    dropped against live state, batch-3 re-emissions after eviction,
    batch-3 duplicates still held by live state, and genuine late drops
    of the straggler rows. Output: (user_id, event_type, t_us) of every
    emitted row."""
    staged = _stage_dedup_wm_batches(spark, sf_dir)

    ckpt = tempfile.mkdtemp(prefix="gdalos_dwm_ckpt_")

    stream = (
        spark.readStream.schema("user_id long, event_type string, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(staged)
    )
    out = stream.withWatermark(
        "ts", f"{DWM_DELAY_US // 1_000_000} seconds"
    ).dropDuplicatesWithinWatermark(["user_id", "event_type"])
    writer = (
        out.writeStream.format("memory")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
    )
    _await_done(_start_stream(spark, writer, DWM_QUERY_NAME))
    return (
        spark.table(DWM_QUERY_NAME)
        .select(
            "user_id",
            "event_type",
            F.unix_micros("ts").alias("t_us"),
        )
        .orderBy("user_id", "event_type", "t_us")
    )


# Oracle: the staged-batch construction + the pinned dedup semantics in
# closed form. b0 always emits; b1 emits only keys absent from b0 (no
# state evicts before b1: wm_0 = 0); b2 emits keys that are NOT b1-new
# (their state is always alive: t_1 + D >= window-1 start + D > wm_1)
# and whose b0 state, if any, was evicted at end of b1 (t_0 + D <=
# wm_1); stragglers all arrive at-or-under b2's late watermark (wm_1,
# one-batch lag) by construction and are dropped.
STREAMING_DEDUP_WATERMARK_SQL = f"""
WITH ev AS (
  SELECT user_id, event_type, epoch_ns(ts) // 1000 AS us FROM events
),
day0 AS (SELECT MIN(us // 86400000000) AS d0 FROM ev),
keyed AS (
  SELECT user_id, event_type,
         LEAST(CAST(((us // 86400000000) - d0) // {DWM_WINDOW_DAYS} AS INTEGER), 2) AS w,
         MIN(us) AS t_us
  FROM ev, day0
  GROUP BY 1, 2, 3
),
wm1 AS (
  SELECT MAX(t_us) - {DWM_DELAY_US} AS wm FROM keyed WHERE w = 0
),
b0 AS (SELECT user_id, event_type, t_us FROM keyed WHERE w = 0),
b1 AS (SELECT user_id, event_type, t_us FROM keyed WHERE w = 1),
b2 AS (SELECT user_id, event_type, t_us FROM keyed WHERE w = 2),
emitted AS (
  SELECT * FROM b0
  UNION ALL
  SELECT b1.* FROM b1
  WHERE NOT EXISTS (SELECT 1 FROM b0 WHERE b0.user_id = b1.user_id
                      AND b0.event_type = b1.event_type)
  UNION ALL
  SELECT b2.* FROM b2, wm1
  WHERE NOT EXISTS (  -- b1-new keys: state always alive at b2
          SELECT 1 FROM b1
          WHERE b1.user_id = b2.user_id AND b1.event_type = b2.event_type
            AND NOT EXISTS (SELECT 1 FROM b0 WHERE b0.user_id = b2.user_id
                              AND b0.event_type = b2.event_type))
    AND NOT EXISTS (  -- b0 state still alive at end of b1
          SELECT 1 FROM b0
          WHERE b0.user_id = b2.user_id AND b0.event_type = b2.event_type
            AND b0.t_us + {DWM_DELAY_US} > wm1.wm)
)
SELECT user_id, event_type, t_us FROM emitted
ORDER BY user_id, event_type, t_us
"""
