"""Event-time windowing over the `events` table (extension scope,
SURVEY.md §2.10/§7 — the reference is batch-only; recency there is
re-running jobs on a schedule, RUNME.py:184-276).

Every window shape is implemented with the REAL Spark operator
(`F.window`, `F.session_window`) evaluated in batch mode — identical
semantics to the streaming run — plus one true Structured Streaming
query (memory sink, complete mode) whose result provably equals the
batch plan because it shares the tumbling oracle.

Scale: windowed aggregation shuffles on (window, keys); watermarking
bounds state. Timestamps are exported as epoch seconds (BIGINT) so the
DuckDB comparison is timezone-proof.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from propensity_spark.io import load_table
from propensity_spark.session import run_overlapped

GAP_MIN = 30


def _epoch(col) -> F.Column:
    return F.unix_timestamp(col).cast("bigint")


def q_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows per event_type: count + value sum."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value") + 1e-6, 2).alias("sum_value"),
        )
        .select(
            _epoch("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def q_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows: 2-hour length, 1-hour slide — every event lands
    in exactly two windows."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value") + 1e-6, 2).alias("sum_value"),
        )
        .select(
            _epoch("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows with a 30-minute inactivity gap —
    Spark's native session_window operator (usable in batch AND
    streaming). Oracle reproduces it with lag + gap-flag cumsum."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.session_window("ts", f"{GAP_MIN} minutes").alias("w"), "user_id"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value") + 1e-6, 2).alias("sum_value"),
        )
        .select(
            "user_id",
            _epoch("w.start").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )


def _stream_window_agg(
    spark: SparkSession, sf_dir: str, duration: str, slide: str | None = None
) -> DataFrame:
    """TRUE Structured Streaming window aggregate: readStream over the
    events parquet, watermark + (tumbling or sliding) window agg,
    memory sink in complete mode, drained synchronously. With `slide`
    each event lands in duration/slide overlapping windows — assignment
    happens in the stream operator's state, not by a batch explode."""
    import uuid

    from propensity_spark.io import _normalize_ts

    name = f"stream_out_{uuid.uuid4().hex[:8]}"
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Take the file-embedded schema (nanos→long under the legacy conf,
    # micros→timestamp[_ntz]) so the stream matches whatever resolution
    # the fixture generator used, then normalize like the batch reader.
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")  # source dirs hold all tables
        .parquet(sf_dir)
        .withColumn("ts", _normalize_ts(raw_schema["ts"].dataType))
        .withWatermark("ts", "1 day")
    )
    win = F.window("ts", duration, slide) if slide else F.window("ts", duration)
    agg = (
        stream.groupBy(win.alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value") + 1e-6, 2).alias("sum_value"),
        )
        .select(
            _epoch("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    # A streaming agg allocates one state store per shuffle partition,
    # fixed at FIRST start from this conf — 32 stores for a
    # bounded-cardinality (window x event_type) aggregate is pure
    # startup cost. Size state parallelism to the agg's key space (a
    # production stream sets this to its own throughput before start);
    # restore the session value afterwards.
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
            rows = spark.table(name).collect()
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    out = spark.createDataFrame(rows, agg.schema)
    return out


def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming tumbling windows; result equals the batch tumbling
    plan — same oracle — proving batch/stream semantic parity."""
    return _stream_window_agg(spark, sf_dir, "1 hour")


def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SLIDING windows (2 h window every 1 h): each event is
    assigned to two open windows by the stateful stream operator; the
    oracle mirrors it with the two-offset union (same as the batch
    sliding twin), pinning overlap semantics end to end."""
    return _stream_window_agg(spark, sf_dir, "2 hours", "1 hour")


def q_batch_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling + sliding + session windows in one tagged union — each
    computed by its real Spark operator (`F.window`, `F.session_window`)
    with its own shuffle; the union concatenates the three independent
    plans. Normalized shape: (win_kind, window_start, grp, n_events,
    sum_value) where grp is event_type for time windows and user_id for
    sessions."""

    def norm(df, kind: str, start_col: str, grp_col) -> DataFrame:
        return df.select(
            F.lit(kind).alias("win_kind"),
            F.col(start_col).alias("window_start"),
            grp_col.cast("string").alias("grp"),
            "n_events",
            "sum_value",
        )

    return (
        norm(q_tumbling_window(spark, sf_dir), "tumbling", "window_start", F.col("event_type"))
        .unionByName(
            norm(q_sliding_window(spark, sf_dir), "sliding", "window_start", F.col("event_type"))
        )
        .unionByName(
            norm(q_session_window(spark, sf_dir), "session", "session_start", F.col("user_id"))
        )
    )


_TUMBLING_SQL = """
    SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS window_start,
           event_type,
           count(*) AS n_events,
           round(1e-6 + sum(value), 2) AS sum_value
    FROM events
    GROUP BY 1, 2
"""

_SLIDING_SQL = """
    WITH assigned AS (
        SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS window_start,
               event_type, value FROM events
        UNION ALL
        SELECT CAST(floor(epoch(ts) / 3600) * 3600 - 3600 AS BIGINT) AS window_start,
               event_type, value FROM events
    )
    SELECT window_start, event_type,
           count(*) AS n_events,
           round(1e-6 + sum(value), 2) AS sum_value
    FROM assigned
    GROUP BY 1, 2
"""

# Gap-split CTEs shared by the batch session oracle and the streaming
# suite's closed-session oracle — ONE copy so the gap convention
# (`>= GAP_MIN`, matching Spark's session_window split) cannot drift
# between the two entries.
_SESSION_CTES = f"""ordered AS (
        SELECT user_id, ts, value,
               CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) >= {GAP_MIN * 60}
                    OR lag(ts) OVER w IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sessions AS (
        SELECT user_id, ts, value,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts) AS session_id
        FROM ordered
    )"""

_SESSION_SQL = f"""
    WITH {_SESSION_CTES}
    SELECT user_id,
           CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
           count(*) AS n_events,
           round(1e-6 + sum(value), 2) AS sum_value
    FROM sessions
    GROUP BY user_id, session_id
"""

ORACLES = {
    "batch_windows": f"""
        SELECT 'tumbling' AS win_kind, window_start, event_type AS grp,
               n_events, sum_value
        FROM ({_TUMBLING_SQL}) t
        UNION ALL
        SELECT 'sliding', window_start, event_type, n_events, sum_value
        FROM ({_SLIDING_SQL}) sl
        UNION ALL
        SELECT 'session', session_start, CAST(user_id AS VARCHAR), n_events, sum_value
        FROM ({_SESSION_SQL}) se
    """,
}

QUERIES = {
    "batch_windows": q_batch_windows,
}


def _event_stream(spark: SparkSession, sf_dir: str):
    """Shared readStream over the events fixture with normalized ts —
    the same type-adaptive read as q_stream_tumbling."""
    from propensity_spark.io import _normalize_ts

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    return (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .withColumn("ts", _normalize_ts(raw_schema["ts"].dataType))
    )


def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication: dropDuplicatesWithinWatermark on the
    event id — the streaming ingestion guard against at-least-once
    sources replaying events. The replay is SIMULATED by unioning the
    stream with itself (every event arrives twice), so the operator
    provably drops duplicates rather than passing a dup-free fixture
    through; identical full rows make the kept-copy choice immaterial.
    State holds one entry per id inside the watermark horizon and is
    evicted beyond it, so state size is bounded by the id arrival rate
    x watermark, not the stream length. Drained to completion and
    returned as a batch frame for assertion."""
    import uuid

    name = f"dedup_out_{uuid.uuid4().hex[:8]}"
    once = _event_stream(spark, sf_dir)
    deduped = (
        once.union(_event_stream(spark, sf_dir))  # at-least-once replay
        .withWatermark("ts", "1 day")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type")
    )
    q = deduped.writeStream.outputMode("append").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
        rows = spark.table(name).collect()
    finally:
        q.stop()
    return spark.createDataFrame(rows, deduped.schema)


def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the event stream joined to the
    STATIC customer dimension (user_id = c_custkey), then a windowed
    per-market-segment aggregate — the canonical streaming enrichment
    shape (dim lookups against a slowly-changing table). The static
    side is broadcast and, per Structured Streaming semantics,
    re-planned each micro-batch (so a refreshed dim snapshot is picked
    up without restarting); no state is held for the join itself —
    only the downstream windowed agg keeps state. Drained to
    completion and returned as a batch frame."""
    import uuid

    from propensity_spark.io import load_table

    name = f"enrich_out_{uuid.uuid4().hex[:8]}"
    static = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    enriched = (
        _event_stream(spark, sf_dir)
        .withWatermark("ts", "1 day")
        .join(F.broadcast(static), "user_id")
    )
    agg = (
        enriched.groupBy(F.window("ts", "1 hour").alias("w"), "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value") + 1e-6, 2).alias("sum_value"),
        )
        .select(
            _epoch("w.start").alias("window_start"),
            "c_mktsegment",
            "n_events",
            "sum_value",
        )
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
            rows = spark.table(name).collect()
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.createDataFrame(rows, agg.schema)


def stream_stream_join(spark: SparkSession, sf_dir: str, within: str = "1 hour") -> DataFrame:
    """Stream-stream inner join with event-time bounds: each user's
    events joined to their LATER events within `within` (the
    click->conversion attribution shape). Both sides carry watermarks
    and the join has a time-range predicate, so Spark can evict state
    for rows past the horizon — the only way a stream-stream join is
    bounded at scale. The watermark delay is DERIVED from `within`
    (interval + 1h slack): a fixed watermark smaller than the join
    interval would evict state still inside the match horizon and
    silently drop matches the equivalent batch self-join produces.
    Returns the drained result as a batch frame."""
    import uuid

    # Parse "<n> <unit>" into a delay covering the join horizon.
    _SECS = {"second": 1, "minute": 60, "hour": 3600, "day": 86400, "week": 604800}
    qty, unit = within.strip().split()
    within_secs = int(qty) * _SECS[unit.rstrip("s")]
    watermark = f"{within_secs + 3600} seconds"

    name = f"ssj_out_{uuid.uuid4().hex[:8]}"
    left = (
        _event_stream(spark, sf_dir)
        .withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("l_user"),
            F.col("event_id").alias("l_event"),
            F.col("ts").alias("l_ts"),
        )
    )
    right = (
        _event_stream(spark, sf_dir)
        .withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("r_user"),
            F.col("event_id").alias("r_event"),
            F.col("ts").alias("r_ts"),
        )
    )
    joined = left.join(
        right,
        F.expr(
            f"l_user = r_user AND r_ts > l_ts AND r_ts <= l_ts + INTERVAL {within}"
        ),
    ).select("l_user", "l_event", "r_event", "l_ts", "r_ts")
    q = joined.writeStream.outputMode("append").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
        rows = spark.table(name).collect()
    finally:
        q.stop()
    return spark.createDataFrame(rows, joined.schema)


# ---------------------------------------------------------------------------
# stream_ops_suite: ONE tagged-union gate entry for every TRUE
# Structured Streaming operator (each drained synchronously against its
# batch-SQL twin — the batch/stream-parity proof, per section):
#   tumbling — q_stream_tumbling (watermark + windowed agg)
#   dedup    — stream_dedup (replayed stream, dropDuplicatesWithinWatermark)
#   ssjoin   — stream_stream_join (two-sided watermark interval join)
#   feat     — feature_updates.stream_user_features (epoch-keyed
#              idempotent foreachBatch MERGE into the feature store)
# Normalized shape: (section, k1 BIGINT, k2 STRING, n BIGINT, v DOUBLE).
# ---------------------------------------------------------------------------

SSJ_WITHIN = "1 hour"
FEAT_DAY = "2024-06-01"


def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE Structured Streaming SESSION windows: watermark-driven gap
    merging with append-mode finalization — the hard half of the
    session story (batch session_window is in q_batch_windows). A
    session is emitted exactly when the watermark passes its end + gap,
    so with a 0-second watermark over a finite source the emitted set
    is precisely the CLOSED sessions: last_event + GAP <= max event
    time (the one still-open tail session per live user stays in
    state) — the predicate the stream_ops_suite oracle mirrors.
    State is bounded: one open session per active user, evicted at
    emission."""
    import uuid

    from propensity_spark.io import _normalize_ts

    name = f"stream_sess_{uuid.uuid4().hex[:8]}"
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .withColumn("ts", _normalize_ts(raw_schema["ts"].dataType))
        .withWatermark("ts", "0 seconds")
    )
    agg = (
        stream.groupBy(
            F.session_window("ts", f"{GAP_MIN} minutes").alias("w"), "user_id"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value") + 1e-6, 2).alias("sum_value"),
        )
        .select(
            _epoch("w.start").alias("session_start"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = agg.writeStream.outputMode("append").format("memory").queryName(name).start()
        try:
            q.processAllAvailable()
            rows = spark.table(name).collect()
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.createDataFrame(rows, agg.schema)


def q_stream_ops_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from propensity_spark.streaming.feature_updates import stream_user_features

    def _tumbling() -> DataFrame:
        return q_stream_tumbling(spark, sf_dir).select(
            F.lit("tumbling").alias("section"),
            F.col("window_start").alias("k1"),
            F.col("event_type").alias("k2"),
            F.col("n_events").alias("n"),
            F.col("sum_value").alias("v"),
        )

    def _dedup() -> DataFrame:
        return stream_dedup(spark, sf_dir).select(
            F.lit("dedup").alias("section"),
            F.col("event_id").alias("k1"),
            F.col("event_type").alias("k2"),
            F.col("user_id").alias("n"),
            F.lit(0.0).alias("v"),
        )

    def _ssj() -> DataFrame:
        return stream_stream_join(spark, sf_dir, within=SSJ_WITHIN).select(
            F.lit("ssjoin").alias("section"),
            F.col("l_event").alias("k1"),
            F.col("l_user").cast("string").alias("k2"),
            F.col("r_event").alias("n"),
            (F.unix_timestamp("r_ts") - F.unix_timestamp("l_ts"))
            .cast("double")
            .alias("v"),
        )

    def _feat() -> DataFrame:
        tmp = tempfile.mkdtemp(prefix="stream_ops_")
        try:
            table = stream_user_features(spark, sf_dir, tmp, FEAT_DAY)
            # explicit k1/n/v types: the sequential version coerced its
            # collected rows through tumbling.schema (bigint/bigint/
            # double) — pin the same types here so the union schema is
            # unchanged.
            out = table.read().select(
                F.lit("feat").alias("section"),
                F.col("user_id").cast("bigint").alias("k1"),
                F.lit(FEAT_DAY).alias("k2"),
                F.col("n_events").cast("bigint").alias("n"),
                F.round(F.col("sum_value") + 1e-6, 2).cast("double").alias("v"),
            )
            # materialize before the store dir is removed
            return spark.createDataFrame(out.collect(), out.schema)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    def _sliding() -> DataFrame:
        return q_stream_sliding(spark, sf_dir).select(
            F.lit("sliding").alias("section"),
            F.col("window_start").alias("k1"),
            F.col("event_type").alias("k2"),
            F.col("n_events").alias("n"),
            F.col("sum_value").alias("v"),
        )

    def _enrich() -> DataFrame:
        return stream_static_join(spark, sf_dir).select(
            F.lit("enrich").alias("section"),
            F.col("window_start").alias("k1"),
            F.col("c_mktsegment").alias("k2"),
            F.col("n_events").alias("n"),
            F.col("sum_value").alias("v"),
        )

    def _session() -> DataFrame:
        return q_stream_session(spark, sf_dir).select(
            F.lit("session").alias("section"),
            F.col("session_start").alias("k1"),
            F.col("user_id").cast("string").alias("k2"),
            F.col("n_events").alias("n"),
            F.col("sum_value").alias("v"),
        )

    # Overlap the independent streaming sections (guide §2.6): each
    # drained stream pays 1-2 s of fixed machinery (source listing,
    # state-store allocation, epoch commits) regardless of data volume,
    # and a sequential suite is 7x that fixed cost. Sections are
    # independent queries with unique memory-sink names, so they run
    # concurrently with unchanged results. Two waves keep every
    # section's shuffle-partition conf identical to a sequential run:
    # wave 1 = sections that leave the conf alone (session default);
    # wave 2 = the stateful window aggs, which each set/restore 8 — the
    # suite pins 8 around the wave so their inner set/restore is a
    # no-op (8 -> 8) instead of a leaky cross-thread race. Measured at
    # sf0.1 (r09): sequential suite 30.7 s, two overlapped waves 15.4 s.
    dedup, ssj, feat = run_overlapped(spark, [_dedup, _ssj, _feat])
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        tumbling, sliding, enrich, session = run_overlapped(
            spark, [_tumbling, _sliding, _enrich, _session]
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return (
        tumbling.unionByName(sliding)
        .unionByName(dedup)
        .unionByName(ssj)
        .unionByName(feat)
        .unionByName(session)
        .unionByName(enrich)
    )


ORACLES["stream_ops_suite"] = f"""
    SELECT 'tumbling' AS section, window_start AS k1, event_type AS k2,
           n_events AS n, sum_value AS v
    FROM ({_TUMBLING_SQL}) t
    UNION ALL
    -- streaming sliding windows: the stateful operator assigns each
    -- event to its two open 2h/1h windows; the batch two-offset union
    -- is the exact mirror.
    SELECT 'sliding', window_start, event_type, n_events, sum_value
    FROM ({_SLIDING_SQL}) sl
    UNION ALL
    -- streaming session windows emit exactly the CLOSED sessions:
    -- last event + gap <= the final watermark (= max event time at
    -- 0s delay); the per-user tail session stays open in state.
    SELECT 'session', session_start, CAST(user_id AS VARCHAR), n_events, sum_value
    FROM (
        WITH {_SESSION_CTES},
        rolled AS (
            SELECT user_id,
                   CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
                   max(ts) AS last_ts,
                   count(*) AS n_events,
                   round(1e-6 + sum(value), 2) AS sum_value
            FROM sessions
            GROUP BY user_id, session_id
        )
        SELECT r.* FROM rolled r, (SELECT max(ts) AS m FROM events) mx
        WHERE r.last_ts + INTERVAL {GAP_MIN} MINUTE <= mx.m
    ) closed
    UNION ALL
    SELECT 'dedup', event_id, event_type, user_id, 0.0 FROM events
    UNION ALL
    SELECT 'ssjoin', a.event_id, CAST(a.user_id AS VARCHAR), b.event_id,
           -- Spark's unix_timestamp truncates to whole seconds; floor
           -- both epochs so the diff matches bit-for-bit.
           CAST(floor(epoch(b.ts)) - floor(epoch(a.ts)) AS DOUBLE)
    FROM events a JOIN events b
      ON a.user_id = b.user_id AND b.ts > a.ts
     AND b.ts <= a.ts + INTERVAL 1 HOUR
    UNION ALL
    SELECT 'feat', user_id, '{FEAT_DAY}', count(*),
           round(1e-6 + sum(value), 2)
    FROM events GROUP BY user_id
    UNION ALL
    -- stream-static enrichment: events joined to the static customer
    -- dim, windowed per market segment — the batch join is the twin.
    SELECT 'enrich', CAST(floor(epoch(e.ts) / 3600) * 3600 AS BIGINT),
           c.c_mktsegment, count(*), round(1e-6 + sum(e.value), 2)
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 2, 3
"""

QUERIES["stream_ops_suite"] = q_stream_ops_suite
