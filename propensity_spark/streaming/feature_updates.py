"""Streaming feature maintenance: incremental MERGE of event-derived
features into the feature store via foreachBatch — the continuous
version of the reference's daily batch job (its 'streaming story' is a
daily re-run, RUNME.py:184-235; this is what replaces it when events
arrive as a stream).

Each micro-batch computes per-user partial aggregates for the users
PRESENT in the batch only — so per-batch work scales with batch size,
not table size.

Idempotency: foreachBatch is AT-LEAST-once (a batch replayed after a
crash between sink write and checkpoint commit runs again), so the
sink write must be idempotent. A read-modify-write increment is NOT
(replay double-counts). Instead each batch MERGE-upserts its own
partial keyed by ``(user_id, day, epoch_id)``: a replay of epoch N
rewrites exactly the same PK rows with the same values. The final
per-(user, day) features are the epoch-summed view (`read_features`),
or a compaction of it once the stream is quiesced.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from propensity_spark.feature_store import FeatureTable
from propensity_spark.io import _normalize_ts

PARTIALS_TABLE = "user_stream_features_partials"
FEATURES_TABLE = "user_stream_features"


def _raw_event_schema(spark, sf_dir: str) -> T.StructType:
    """File-embedded events schema (nanos→long under the legacy conf,
    micros→timestamp[_ntz]) so the stream reads whatever resolution the
    fixture generator produced."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet(f"{sf_dir}/events.parquet").schema


def read_features(partials: FeatureTable, day=None) -> DataFrame:
    """Final per-(user, day) features from the per-epoch partials: sum
    out the idempotency key. One partial row per (user, epoch) — the
    aggregate is proportional to users-with-activity, not raw events."""
    return (
        partials.read(day)
        .groupBy("user_id", "day")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_value").alias("sum_value"),
        )
    )


def stream_user_features(
    spark: SparkSession, sf_dir: str, store_base: str, day
) -> FeatureTable:
    """Run the events stream to completion (synchronously, for tests /
    backfills; in production the query simply stays up), maintaining a
    (user_id, day)-keyed feature table of event counts and value sums.

    A checkpoint under `store_base` makes restarts resume from the last
    committed file offset; replays of an uncommitted epoch are absorbed
    by the epoch-keyed idempotent MERGE (see module docstring). After
    the stream quiesces, the partials are compacted into the final
    feature table that is returned."""
    partials = FeatureTable(
        spark, PARTIALS_TABLE, ["user_id", "day", "epoch_id"], store_base
    )
    stamp = F.lit(day).cast("date")

    def merge_batch(batch_df: DataFrame, epoch_id: int) -> None:
        partial = (
            batch_df.groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum("value").alias("sum_value"),
            )
            .withColumn("day", stamp)
            .withColumn("epoch_id", F.lit(epoch_id).cast("long"))
        )
        # the first epoch creates the table; replay-safe: same epoch ->
        # same PK rows
        partials.merge(partial)

    raw_schema = _raw_event_schema(spark, sf_dir)
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .option("maxFilesPerTrigger", 1)
        .parquet(sf_dir)
        .withColumn("ts", _normalize_ts(raw_schema["ts"].dataType))
    )
    q = (
        stream.writeStream.option("checkpointLocation", f"{store_base}/_checkpoint")
        .foreachBatch(merge_batch)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    final = FeatureTable(spark, FEATURES_TABLE, ["user_id", "day"], store_base)
    final.create(read_features(partials))
    return final
