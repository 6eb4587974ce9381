"""Sources & sinks (SURVEY.md §2.1).

The reference ingests CSVs with schema inference and writes Delta tables
(01_Data_Prep.py:56-82). Our engine reads the driver's parquet fixtures
with their embedded schemas and offers explicit-schema CSV/JSON readers
for production paths (inferSchema is banned on correctness-checked
paths, SURVEY.md §1). Delta is not on the classpath in this image, so
the managed-table surface (overwrite / append / merge / insert-overwrite
promotion) is implemented over parquet `saveAsTable` with a documented
MERGE fallback in feature_store.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Explicit schemas for the fixture tables (FIXTURES.md §B). Used to
# validate reads and as the reference for CSV/JSON ingest of the same
# shapes; parquet reads keep the file-embedded schema.
SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}


def as_date(d):
    """Normalize a date-ish value (datetime.date or 'Y-m-d' string,
    zero-padded or not) to datetime.date. The single shared parser for
    every day argument in the package — string comparison of day
    values sorts '2024-3-3' after '2024-03-05', so any path that
    compares days must normalize through here first."""
    import datetime

    # datetime is a date subclass: strip the time part first, or a
    # datetime smuggled through here breaks date-vs-datetime
    # comparisons downstream (e.g. drift baseline selection).
    if isinstance(d, datetime.datetime):
        return d.date()
    if isinstance(d, datetime.date):
        return d
    return datetime.datetime.strptime(str(d), "%Y-%m-%d").date()


# Scan-definition memo: `spark.read.parquet` costs ~100 ms of DRIVER
# time per call (py4j round trip + DataSource resolution + footer
# schema read) — q_tpch_join_suite's 64 load_table calls measured 6.6 s
# of pure driver-side build, dwarfing its 5.4 s of execution (r10,
# guide §7.3 "planning/listing is driver-side, single-process work").
# Memoized on (path, size, mtime) in a dict held by the session itself:
# this caches the LAZY scan definition — a logical plan handle, like a
# catalog table resolution — never data or results; every action still
# reads the parquet. Another session (own catalog and confs) never gets
# this session's DataFrame, and the entries die with the session.


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan of a fixture table (S2). Columnar read; Catalyst
    pushes filters and prunes columns at the scan.

    `events.ts` may arrive as TIMESTAMP(NANOS) (vectorized reader
    rejects it — read as raw nanos via the legacy conf and truncate to
    micros, same as DuckDB), TIMESTAMP_NTZ (micros, no zone — cast to
    session-zone TIMESTAMP; session TZ is pinned UTC so epoch values are
    preserved), or plain TIMESTAMP (pass through). Branching on the
    file-embedded type keeps the engine fixture-generation-proof."""
    import os

    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        # Deliberately NOT restored: the returned DataFrame is lazy, and
        # the conf must still hold when a downstream action executes the
        # scan. It only widens NANOS (otherwise unreadable) to long.
        # Re-set even on a memo hit: a caller may have flipped it back.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    memo = spark.__dict__.setdefault("_propensity_scan_memo", {})
    try:
        st = os.stat(path)
        key = (path, st.st_size, st.st_mtime_ns)
    except OSError:
        key = None
    if key is not None and key in memo:
        return memo[key]
    if name == "events":
        raw = spark.read.parquet(path)
        df = raw.withColumn("ts", _normalize_ts(raw.schema["ts"].dataType))
    else:
        df = spark.read.parquet(path)
    if key is not None:
        memo[key] = df
    return df


# Scan-parallelism floor (guide §2.5 "input skew: one huge unsplittable
# file ... repartition immediately after the read"): a parquet file is
# splittable only at ROW-GROUP boundaries, and the bench fixtures are
# written as ONE file with ONE row group per table — so every scan, and
# every map-side operator fused above it, runs as a single task on one
# core of local[32]. A BLANKET repartition in load_table was built and
# then REJECTED by measurement: the bench's count action prunes most
# map-side expression work, so for 38 of 42 queries the added exchange
# was pure cost (min-of-2x2 interleaved sweeps: total 41.9 s -> 51.6 s).
# Only operators whose per-row CPU survives column pruning — the text
# shingle+md5 pipelines — win from it (dsir_select 2.82 -> 1.70 s,
# minhash_band_pairs 1.87 -> 1.47 s). Those call sites ask for a target
# via `scan_floor_target` and repartition their own NARROW projection,
# so the exchange carries only the columns the operator needs.
# Scale-adaptive by construction: the trigger is the FILE's own layout
# (row groups < cores, from the parquet footer — metadata only), so
# production tables (row groups every ~128 MB) never trigger it, and
# the target follows the session's core count, not a constant.
# Always on: without the floor minhash_band_pairs at sf1 measured
# 2.03 -> 4.45 s (r10), and the footer check already keeps it off
# every well-laid-out table.
_FOOTER_MEMO: dict[tuple[str, int, int], tuple[int, int]] = {}

# Only files at least this large are worth an exchange: below it the
# single-task map work is cheaper than the shuffle round-trip.
_FLOOR_MIN_BYTES = 512 * 1024


def _parquet_layout(path: str) -> tuple[int, int]:
    """(num_rows, num_row_groups) from the parquet footer, memoized on
    (path, size, mtime) — metadata only, never data."""
    import os

    st = os.stat(path)
    key = (path, st.st_size, st.st_mtime_ns)
    if key not in _FOOTER_MEMO:
        import pyarrow.parquet as pq

        md = pq.ParquetFile(path).metadata
        _FOOTER_MEMO[key] = (md.num_rows, md.num_row_groups)
    return _FOOTER_MEMO[key]


def scan_floor_target(spark: SparkSession, sf_dir: str, name: str) -> int | None:
    """Partition target for a CPU-dense operator over `name`, or None.

    Returns defaultParallelism when the table's parquet layout starves
    the scan (fewer row groups than cores) and the table is big enough
    to be worth an exchange; callers `repartition(target, xxhash64(PK))`
    their own narrow projection. xxhash64 of the PK (not the raw PK):
    deterministic under retry with no local sort (a keyless
    repartition(n) pays sortBeforeRepartition, SPARK-23207 — measured
    +3 s on the one task holding all rows), and the hashed expression
    can never alias a downstream join/agg distribution."""
    import os

    path = f"{sf_dir}/{name}.parquet"
    try:
        if os.stat(path).st_size < _FLOOR_MIN_BYTES:
            return None
        rows, row_groups = _parquet_layout(path)
    except OSError:
        return None
    target = spark.sparkContext.defaultParallelism
    if row_groups >= target or rows < 8 * target:
        return None
    return target


def _normalize_ts(dtype: T.DataType):
    """Expression converting an `events.ts` column of the given physical
    type to a session-zone microsecond TIMESTAMP."""
    from pyspark.sql import functions as F

    if isinstance(dtype, T.LongType):  # nanos read as raw long
        return F.timestamp_micros(F.expr("ts div 1000"))
    if isinstance(dtype, T.TimestampNTZType):
        return F.col("ts").cast("timestamp")
    return F.col("ts")


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for the SQL API."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def read_csv(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """CSV scan with an explicit schema (S1). The reference uses
    header+inferSchema (01_Data_Prep.py:56-64); production paths here
    require a StructType — inference double-scans the data and can
    flip types between runs."""
    return spark.read.csv(path, header=True, schema=schema)


def read_csv_inferred(spark: SparkSession, path: str) -> DataFrame:
    """Reference-parity CSV scan (01_Data_Prep.py:56-64). Bronze-only."""
    return spark.read.csv(path, header=True, inferSchema=True)


def read_json(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    return spark.read.json(path, schema=schema)


CORRUPT_COL = "_corrupt_record"


def read_csv_capturing_corrupt(
    spark: SparkSession, path: str, schema: T.StructType
) -> DataFrame:
    """CSV scan that quarantines malformed rows instead of silently
    nulling them (PERMISSIVE default) or dropping the whole job
    (FAILFAST): rows that don't parse land with their raw text in
    `_corrupt_record` and NULL data columns, so the pipeline can route
    them to a dead-letter table and alert — the production ingest
    posture for multi-TB third-party feeds where one bad row must
    neither kill nor silently poison the load."""
    full = T.StructType(
        list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType())]
    )
    return (
        spark.read.option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .csv(path, header=True, schema=full)
    )


def write_table(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """Parquet table write (S3/S4 stand-in for Delta overwrite/append).

    `partition_by` gives partition pruning on the named columns — at
    100 TB, feature tables are partitioned by `day` so point-in-time
    reads touch one partition (SURVEY.md §4 pushdown row).
    """
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def insert_overwrite(spark: SparkSession, src_path: str, dst_path: str) -> None:
    """Atomic-ish promotion of a staged table to prod (S11 semantics,
    04c_Task__Propensity_Estimation.py:248-249): read staged parquet,
    rewrite the destination. With Delta on the classpath this becomes
    `INSERT OVERWRITE`; the parquet fallback rewrites the directory."""
    df = spark.read.parquet(src_path)
    df.write.mode("overwrite").parquet(dst_path)


def zorder_key(df: DataFrame, cols: list[str], bits: int = 16):
    """Morton (Z-order) interleaved-bit key over `cols` — the
    data-skipping clustering technique Delta's OPTIMIZE ZORDER BY
    applies: sorting by the interleaved key co-locates rows that are
    close in EVERY dimension, so parquet row-group min/max statistics
    become selective for filters on ANY of the columns, not just the
    leading sort key.

    Built entirely from Catalyst expressions: per-column bounds come
    from ONE 1-row aggregate (a bounded driver collect, the C4
    pattern), values rank-normalize to [0, 2^bits) and the bit
    interleave unrolls to shift/and/or terms — no UDF, map-side only.
    NULLs normalize to 0 (sort first). Returns a Column.

    Total over column types: each column is first mapped to a numeric
    ordering proxy — numerics/booleans cast to double, dates and
    timestamps to epoch seconds, strings to a two-leading-codepoint
    prefix code (coarse but locality-preserving: equal values always
    share a bucket, so min/max stats stay selective for the equality
    filters string keys get), anything else to a stable hash bucket
    (no locality, but a valid total order for the interleave). A
    column whose partition slice is all NULL or single-valued
    quantizes to the constant 0 instead of dividing by a zero span."""
    dtypes = dict(df.dtypes)
    proxies = []
    for c in cols:
        t = dtypes[c]
        if t in ("tinyint", "smallint", "int", "bigint", "float", "double",
                 "boolean") or t.startswith("decimal"):
            proxies.append(f"cast(`{c}` as double)")
        elif t in ("date", "timestamp", "timestamp_ntz"):
            proxies.append(f"cast(cast(`{c}` as timestamp) as double)")
        elif t == "string":
            proxies.append(
                f"(coalesce(ascii(substring(`{c}`, 1, 1)), 0) * 1024.0"
                f" + least(coalesce(ascii(substring(`{c}`, 2, 1)), 0), 1023))"
            )
        else:
            proxies.append(f"cast(pmod(abs(hash(`{c}`)), {1 << bits}) as double)")
    bounds = df.agg(
        *[F.expr(f"min({p})").alias(f"mn_{i}") for i, p in enumerate(proxies)],
        *[F.expr(f"max({p})").alias(f"mx_{i}") for i, p in enumerate(proxies)],
    ).collect()[0]
    n = len(cols)
    quantized = []
    top = (1 << bits) - 1
    for i, p in enumerate(proxies):
        mn, mx = bounds[f"mn_{i}"], bounds[f"mx_{i}"]
        if mn is None or mx is None or float(mx) == float(mn):
            quantized.append("cast(0 as bigint)")
            continue
        span = float(mx) - float(mn)
        quantized.append(
            f"coalesce(cast(floor(({p} - {float(mn)!r})"
            f" / {span!r} * {top}) as bigint), 0)"
        )
    terms = []
    for b in range(bits):
        for i in range(n):
            terms.append(
                f"shiftleft(shiftright({quantized[i]}, {b}) & 1, {b * n + i})"
            )
    return F.expr(" + ".join(terms))


def sorted_export(
    df: DataFrame, path: str, sort_cols: list[str], n_files: int
) -> None:
    """Range-partitioned, within-file-sorted parquet export — the
    data-layout write for hand-off to downstream engines. Rows are
    range-partitioned on `sort_cols` (Spark samples the key
    distribution to pick balanced split points — no manual histogram)
    and sorted inside each partition, so every output file covers a
    DISJOINT key range and carries tight parquet min/max stats: a
    reader filtering on the sort key prunes whole files (the same
    mechanism FeatureTable.compact uses for Z-order multi-column
    locality, io.py:261; use this one for single-dimension range
    predicates and merge-join-friendly layout).

    At 100 TB: one range-exchange shuffle (sampling pass + shuffle);
    the per-partition sort spills. Pick n_files so each file lands
    near the HDFS/S3 sweet spot (~128-1024 MB)."""
    (
        df.repartitionByRange(n_files, *[F.col(c) for c in sort_cols])
        .sortWithinPartitions(*sort_cols)
        .write.mode("overwrite")
        .parquet(path)
    )


def write_bucketed(
    df: DataFrame,
    table_name: str,
    key: str,
    n_buckets: int,
    path: str | None = None,
) -> None:
    """Persist `df` as a Hive-bucketed, bucket-sorted parquet table:
    rows are hash-partitioned into `n_buckets` files per write task by
    `key` and sorted by it within each bucket. The payoff is at read
    time: a join (or aggregation) on `key` between two tables bucketed
    with the SAME bucket count satisfies the join's distribution
    requirement straight off the scan — Catalyst plans a SortMergeJoin
    with ZERO Exchange on either side (asserted in
    tests/test_plans.py). At 100 TB this is the difference between
    re-shuffling the fact table on every run of a recurring join and
    shuffling it ONCE at ingest; bucket-pruning also serves point
    lookups on `key` from a single bucket file.

    `path` makes the table external (data at `path`, metadata in the
    session catalog); bucketing metadata lives in the catalog, which
    is why this is saveAsTable and not parquet(path)."""
    w = df.write.mode("overwrite").bucketBy(n_buckets, key).sortBy(key)
    if path is not None:
        w = w.option("path", path)
    w.format("parquet").saveAsTable(table_name)


def read_xml(
    spark: SparkSession,
    path: str,
    row_tag: str = "row",
    schema: T.StructType | None = None,
) -> DataFrame:
    """XML ingestion via Spark 4's built-in xml source (S1 family —
    the reference ingests CSV only; XML joins CSV/JSON/ORC as a
    first-class feed format here). Explicit schema recommended in
    production for the same reason as read_csv: inference scans the
    data twice and drifts with it."""
    r = spark.read.format("xml").option("rowTag", row_tag)
    if schema is not None:
        r = r.schema(schema)
    return r.load(path)


def write_xml(df: DataFrame, path: str, row_tag: str = "row") -> None:
    """XML export (row-per-record under `row_tag`)."""
    df.write.format("xml").option("rowTag", row_tag).mode(
        "overwrite"
    ).save(path)
