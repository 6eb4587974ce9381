"""End-to-end pipeline orchestration + stateful streaming + catalog."""

import datetime

import pytest
from pyspark.sql import functions as F


def test_pipeline_init_daily_roundtrip(spark, sf_dir, tmp_path):
    from propensity_spark.pipeline import Pipeline

    p = Pipeline(spark, sf_dir, str(tmp_path / "pipe"))
    day = datetime.date(2024, 2, 1)
    manifest = p.run_init(day, n_commodities=2)
    assert manifest.count() == 2
    assert {r["stage"] for r in manifest.collect()} == {"Production"}
    unpivoted_path, pivoted_path = p.run_daily(day, manifest)

    unpivoted = spark.read.parquet(unpivoted_path)
    assert unpivoted.where(~F.col("prediction").between(0, 1)).count() == 0
    pivoted = spark.read.parquet(pivoted_path)
    score_cols = [c for c in pivoted.columns if c not in ("household_key", "day")]
    assert len(score_cols) == 2  # one column per trained commodity (M8)
    # unpivoted grain: one row per (household, day, commodity)
    assert unpivoted.count() == pivoted.count() * 2


def test_publish_incremental_adds_commodity_without_rebuild(spark, sf_dir, tmp_path):
    """S6 schema evolution: a new commodity between two dailies extends
    the pivoted table with one column; existing scores stay bit-equal
    and an overlapping commodity takes the incoming value."""
    from propensity_spark.pipeline import Pipeline

    p = Pipeline(spark, sf_dir, str(tmp_path / "pipe"))
    day = datetime.date(2024, 2, 1)

    def scores(rows):
        return spark.createDataFrame(
            [(hh, day, c, v) for hh, c, v in rows],
            "household_key int, day date, commodity_desc string, prediction double",
        )

    # daily #1: two commodities
    path = p.publish_incremental(
        scores([(1, "Brand#1", 0.5), (1, "Brand#2", 0.25), (2, "Brand#1", 0.75)])
    )
    first = spark.read.parquet(path)
    assert set(first.columns) == {"household_key", "day", "Brand_1", "Brand_2"}

    # between dailies: an 11th commodity appears + Brand#1 re-scored for hh 1
    p.publish_incremental(scores([(1, "Brand#3", 0.9), (1, "Brand#1", 0.6)]))
    got = {
        r["household_key"]: (r["Brand_1"], r["Brand_2"], r["Brand_3"])
        for r in spark.read.parquet(path).collect()
    }
    assert got[1] == (0.6, 0.25, 0.9)  # updated, untouched, added
    assert got[2] == (0.75, None, None)  # never re-scored: rides along


def test_published_scores_day_partitioned_and_pruned(spark, sf_dir, tmp_path):
    """Published score tables are day-partitioned: a daily publish
    rewrites ONLY its own day (history files untouched on disk), a new
    day adds a partition, and a scoring-day read prunes to one
    partition (PartitionFilters in the scan)."""
    import contextlib
    import io

    from propensity_spark.pipeline import Pipeline

    p = Pipeline(spark, sf_dir, str(tmp_path / "pipe"))
    d1, d2 = datetime.date(2024, 2, 1), datetime.date(2024, 2, 2)

    def scores(day, rows):
        return spark.createDataFrame(
            [(hh, day, c, v) for hh, c, v in rows],
            "household_key int, day date, commodity_desc string, prediction double",
        )

    p.publish(scores(d1, [(1, "Brand#1", 0.5), (2, "Brand#1", 0.3)]))
    unpiv = tmp_path / "pipe" / "out" / "propensities_unpivoted"
    day1 = unpiv / "day=2024-02-01"
    assert day1.is_dir()
    before = {f: f.stat().st_mtime_ns for f in day1.rglob("*.parquet")}

    p.publish(scores(d2, [(1, "Brand#1", 0.7)]))
    after = {f: f.stat().st_mtime_ns for f in day1.rglob("*.parquet")}
    assert before == after  # day-2 publish never rewrote day-1 files
    assert (unpiv / "day=2024-02-02").is_dir()

    pruned = p.read_published("unpivoted", day=d2)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pruned.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "2024-02-02" in plan, plan
    rows = pruned.collect()
    assert [(r["household_key"], r["prediction"]) for r in rows] == [(1, 0.7)]
    # full-history read still sees both days with day typed as date
    assert p.read_published("unpivoted").count() == 3


def test_apply_in_pandas_with_state(spark, sf_dir):
    """applyInPandasWithState: per-user running event count emitted per
    micro-batch — the custom stateful operator surface (SURVEY.md §7)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema

    def running_count(key, pdfs, state: GroupState):
        n = state.get[0] if state.exists else 0
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        import pandas as pd

        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    out = stream.groupBy("user_id").applyInPandasWithState(
        running_count,
        outputStructType="user_id bigint, n_events bigint",
        stateStructType="n bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    q = out.writeStream.format("memory").queryName("stateful_out").outputMode("update").start()
    try:
        q.processAllAvailable()
        got = {
            r["user_id"]: r["n_events"]
            for r in spark.sql(
                "SELECT user_id, max(n_events) AS n_events FROM stateful_out GROUP BY user_id"
            ).collect()
        }
    finally:
        q.stop()

    from propensity_spark.io import load_table

    expected = {
        r["user_id"]: r["n"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == expected


def test_catalog_ops(spark, sf_dir, tmp_path):
    """S12/S13: saveAsTable + SHOW TABLES + DESCRIBE + DROP.
    (warehouse.dir is static; uses the default ./spark-warehouse)"""
    from propensity_spark.io import load_table

    load_table(spark, sf_dir, "region").write.mode("overwrite").saveAsTable("t_region")
    tables = {r["tableName"] for r in spark.sql("SHOW TABLES").collect()}
    assert "t_region" in tables
    cols = {r["col_name"] for r in spark.sql("DESCRIBE TABLE t_region").collect()}
    assert {"r_regionkey", "r_name"} <= cols
    spark.sql("DROP TABLE t_region")
    assert "t_region" not in {r["tableName"] for r in spark.sql("SHOW TABLES").collect()}


def test_stream_static_join_and_foreach_batch(spark, sf_dir, tmp_path):
    """Stream-static broadcast join + foreachBatch exactly-once-style
    sink (the two remaining streaming surfaces from the guide)."""
    from propensity_spark.io import load_table

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    static_users = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("lifetime_events"))
    )
    out_dir = str(tmp_path / "sink")
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .join(F.broadcast(static_users), "user_id")  # stream-static join
    )

    def write_batch(df, epoch_id):
        df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"), F.max("lifetime_events").alias("max_lifetime")
        ).write.mode("overwrite").parquet(out_dir)

    q = stream.writeStream.foreachBatch(write_batch).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r["event_type"]: r["n"] for r in spark.read.parquet(out_dir).collect()}
    expected = {
        r["event_type"]: r["n"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == expected


def test_ivf_recall_against_brute_force(spark, sf_dir):
    """IVF ANN should recover most of the exact top-k (recall check);
    the gate entry's own bound flags must all come out true."""
    from propensity_spark.vector.similarity import ivf_topk, q_ann_cosine_topk, q_ann_ivf

    exact = {(r["query_id"], r["vec_id"]) for r in q_ann_cosine_topk(spark, sf_dir).collect()}
    approx = {(r["query_id"], r["vec_id"]) for r in ivf_topk(spark, sf_dir).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"IVF recall too low: {recall}"
    flags = [
        r["v"]
        for r in q_ann_ivf(spark, sf_dir).collect()
        if r["section"] in ("recall_ok", "mean_ok")
    ]
    assert flags and all(f == 1.0 for f in flags)


def test_streaming_feature_merge_equals_batch(spark, sf_dir, tmp_path):
    """Incremental foreachBatch MERGE of streamed event features must
    converge to exactly the batch aggregate."""
    import datetime

    from propensity_spark.io import load_table
    from propensity_spark.streaming.feature_updates import stream_user_features

    day = datetime.date(2024, 3, 1)
    table = stream_user_features(spark, sf_dir, str(tmp_path / "stream_fs"), day)
    got = {
        r["user_id"]: (r["n_events"], round(r["sum_value"], 4))
        for r in table.read(day).collect()
    }
    expected = {
        r["user_id"]: (r["n"], round(r["s"], 4))
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert got == expected


def test_stream_dedup_drops_replayed_ids(spark, sf_dir):
    """dropDuplicatesWithinWatermark: unique fixture ids pass through
    1:1 (the fixture has no dup event_ids, so count == distinct count
    == batch count)."""
    from propensity_spark.io import load_table
    from propensity_spark.streaming.windows import stream_dedup

    out = stream_dedup(spark, sf_dir)
    n_batch = load_table(spark, sf_dir, "events").select("event_id").distinct().count()
    assert out.count() == n_batch
    assert out.select("event_id").distinct().count() == n_batch


def test_stream_stream_join_matches_batch_self_join(spark, sf_dir):
    """Watermarked stream-stream interval join == the batch theta self
    join with identical predicates."""
    from propensity_spark.io import load_table
    from propensity_spark.streaming.windows import stream_stream_join

    got = {
        (r["l_event"], r["r_event"])
        for r in stream_stream_join(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    a = ev.select(
        F.col("user_id").alias("l_user"),
        F.col("event_id").alias("l_event"),
        F.col("ts").alias("l_ts"),
    )
    b = ev.select(
        F.col("user_id").alias("r_user"),
        F.col("event_id").alias("r_event"),
        F.col("ts").alias("r_ts"),
    )
    want = {
        (r["l_event"], r["r_event"])
        for r in a.join(
            b,
            F.expr(
                "l_user = r_user AND r_ts > l_ts AND r_ts <= l_ts + INTERVAL 1 HOUR"
            ),
        ).collect()
    }
    assert got == want and len(want) > 0


def test_stream_checkpoint_restart_exactly_once(spark, tmp_path):
    """Durability semantics the production stream relies on: a file-
    source → file-sink stream with a checkpoint, stopped and restarted
    with trigger(availableNow), processes each input file EXACTLY once
    — the restart resumes from the checkpointed offsets (no
    reprocessing of batch 1) and picks up files that arrived while the
    stream was down."""
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    spark.range(0, 100).selectExpr("id", "id * 2 AS v").coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)
    schema = spark.read.parquet(src).schema

    def run_once():
        q = (
            spark.readStream.schema(schema)
            .parquet(src)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    assert spark.read.parquet(out).count() == 100

    # second batch lands while the stream is down
    spark.range(100, 150).selectExpr("id", "id * 2 AS v").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run_once()
    got = spark.read.parquet(out)
    assert got.count() == 150  # batch 1 NOT reprocessed, batch 2 picked up
    assert got.select("id").distinct().count() == 150


def test_backfill_anchors_windows_at_backfill_day(spark, sf_dir, tmp_path):
    """Reference parity with 04a:82: a historical backfill computes
    features from facts <= the backfill day only. The backfilled day's
    rows must equal the single-day engine over the filtered facts and
    differ from the final day's rows (previously every backfill day
    silently cloned features anchored at the data max)."""
    import datetime

    from propensity_spark.feature_store import FeatureTable
    from propensity_spark.operators.features import _spark_features
    from propensity_spark.operators.relational import silver_transactions
    from propensity_spark.pipeline import Pipeline

    silver = silver_transactions(spark, sf_dir)
    days = sorted(r[0] for r in silver.select("day").distinct().collect())
    d_max, d_mid = days[-1], days[len(days) // 2]

    p = Pipeline(spark, sf_dir, str(tmp_path / "pipe"))
    p.engineer_features(d_mid)
    p.engineer_features(d_max)

    hh = FeatureTable(spark, "household", ["household_key", "day"], p.store)
    mid_rows = {r["household_key"]: r for r in hh.read(d_mid).drop("day").collect()}
    max_rows = {r["household_key"]: r for r in hh.read(d_max).drop("day").collect()}
    assert mid_rows != max_rows  # backfill no longer clones the final day

    want = {
        r["household_key"]: r
        for r in _spark_features(
            silver.where(F.col("day") <= F.lit(d_mid)), ["household_key"]
        ).collect()
    }
    assert set(mid_rows) == set(want)
    sample = list(want)[:25]
    for k in sample:
        assert mid_rows[k].asDict() == want[k].asDict(), k


def test_cli_init_and_daily_dispatch(spark, sf_dir, tmp_path):
    """`python -m propensity_spark` subcommands: init trains and exits 0,
    daily publishes and reports metrics + drift, drift reports, and a
    failed manifest row flips the exit code for schedulers."""
    import json

    from propensity_spark.__main__ import build_parser, run

    base = str(tmp_path / "cli")
    ap = build_parser()

    args = ap.parse_args(
        ["init", "--sf-dir", sf_dir, "--base", base, "--backfill-days", "0",
         "--commodities", "1", "--model-type", "lr"]
    )
    assert run(args, spark=spark) == 0

    # init persisted the manifest where daily looks for it: the
    # documented init -> daily scheduler flow needs NO manual glue, and
    # daily reuses init's lr/1-commodity models instead of retraining
    from propensity_spark.pipeline import Pipeline

    p = Pipeline(spark, sf_dir, base)
    stored = spark.read.parquet(str(p.base / "manifest"))
    assert stored.count() == 1

    args = ap.parse_args(["daily", "--sf-dir", sf_dir, "--base", base])
    assert run(args, spark=spark) == 0
    assert spark.read.parquet(str(p.base / "manifest")).count() == 1  # not retrained

    args = ap.parse_args(["drift", "--sf-dir", sf_dir, "--base", base])
    assert run(args, spark=spark) == 0


def test_cli_drift_exit_code_pages_on_psi_break(spark, sf_dir, tmp_path):
    """`daily`/`drift` exit 2 when PSI exceeds --psi-threshold (default
    0.25) so schedulers alert without parsing output; a negative
    threshold disables the alert."""
    import datetime

    from propensity_spark.__main__ import build_parser, run
    from propensity_spark.pipeline import Pipeline

    base = str(tmp_path / "cli_drift")
    p = Pipeline(spark, sf_dir, base)

    def scores(day, shift):
        rows = [
            (h, day, "Brand#1", min(0.999, 0.05 + (h % 10) / 20.0 + shift))
            for h in range(200)
        ]
        return spark.createDataFrame(
            rows, "household_key int, day date, commodity_desc string, prediction double"
        )

    d1, d2 = datetime.date(2024, 3, 1), datetime.date(2024, 3, 2)
    p.publish(scores(d1, 0.0))
    p.publish(scores(d2, 0.4))  # broken distribution
    ap = build_parser()
    common = ["--sf-dir", sf_dir, "--base", base, "--day", str(d2)]
    assert run(ap.parse_args(["drift", *common]), spark=spark) == 2
    assert (
        run(ap.parse_args(["drift", *common, "--psi-threshold", "-1"]), spark=spark)
        == 0
    )
    # stable day -> no page
    assert (
        run(
            ap.parse_args(["drift", "--sf-dir", sf_dir, "--base", base, "--day", str(d1)]),
            spark=spark,
        )
        == 0
    )


def test_cli_weekly_tune_records_trial_breadth(spark, sf_dir, tmp_path):
    """--tune switches to the seeded random search; --n-trials controls
    the breadth and lands in the manifest's n_trials column (reference
    parity default is 50 — asserted on the parser, trained here at 3 to
    stay inside the test budget)."""
    from propensity_spark.__main__ import build_parser, run
    from propensity_spark.pipeline import Pipeline

    ap = build_parser()
    assert ap.parse_args(["weekly", "--sf-dir", "x", "--base", "y"]).n_trials == 50

    base = str(tmp_path / "cli_tune")
    assert (
        run(
            ap.parse_args(
                ["init", "--sf-dir", sf_dir, "--base", base, "--backfill-days", "0",
                 "--commodities", "1", "--model-type", "lr"]
            ),
            spark=spark,
        )
        == 0
    )
    args = ap.parse_args(
        ["weekly", "--sf-dir", sf_dir, "--base", base, "--commodities", "1",
         "--model-type", "lr", "--tune", "--n-trials", "3"]
    )
    assert run(args, spark=spark) == 0
    p = Pipeline(spark, sf_dir, base)
    rows = spark.read.parquet(str(p.base / "manifest")).collect()
    assert [r["n_trials"] for r in rows] == [3]


def test_as_date_normalizes_datetime(spark):
    """datetime.datetime is a date subclass — as_date must strip the
    time part or downstream date-vs-datetime comparisons raise."""
    import datetime

    from propensity_spark.io import as_date

    dt = datetime.datetime(2024, 3, 3, 14, 30)
    out = as_date(dt)
    assert type(out) is datetime.date and out == datetime.date(2024, 3, 3)
    assert out < datetime.date(2024, 3, 5)  # comparable with plain dates
    assert as_date("2024-3-3") == datetime.date(2024, 3, 3)


def test_cli_run_op_lists_and_runs(spark, sf_dir, tmp_path, capsys):
    """run-op exposes the registry from the CLI: list mode names every
    entry, a run samples rows, --out writes full parquet, unknown op
    exits 1."""
    import json

    from propensity_spark.__main__ import build_parser, run

    ap = build_parser()
    assert run(ap.parse_args(["run-op"]), spark) == 0
    ops = json.loads(capsys.readouterr().out)["ops"]
    assert "trend_fit" in ops and len(ops) >= 111

    assert run(
        ap.parse_args(["run-op", "km_retention", "--sf-dir", sf_dir]), spark
    ) == 0
    out = json.loads(capsys.readouterr().out)
    assert out["sample_rows"] >= 1
    assert {"t", "n_at_risk", "survival"} <= set(out["sample"][0])

    dest = str(tmp_path / "res")
    assert run(
        ap.parse_args(
            ["run-op", "hill_tail_index", "--sf-dir", sf_dir, "--out", dest]
        ),
        spark,
    ) == 0
    assert json.loads(capsys.readouterr().out)["rows"] == 2
    assert spark.read.parquet(dest).count() == 2

    assert run(ap.parse_args(["run-op", "nope"]), spark) == 1


def test_parameterized_sql_binding(spark, sf_dir):
    """sql.query binds :params server-side — values with quotes/SQL
    metacharacters are data, not syntax."""
    from propensity_spark.sql import query, register_views

    register_views(spark, sf_dir)
    n = query(
        spark,
        "SELECT count(*) AS n FROM orders WHERE o_orderstatus = :c",
        c="definitely'; DROP TABLE x --",
    ).collect()[0]["n"]
    assert n == 0  # treated as a literal string, parses and runs

    rows = query(
        spark,
        "SELECT count(*) AS n FROM orders WHERE o_totalprice > :lo",
        lo=0.0,
    ).collect()
    assert rows[0]["n"] > 0


def test_stream_ops_suite_overlap_restores_conf_and_sections(spark, sf_dir):
    """r09 guide-§2.6 overlap: the suite's seven independent streaming
    sections run concurrently in two waves. The wave-2 conf pin
    (shuffle partitions = 8 around the stateful window aggs) must
    restore the session value afterwards, and every section must still
    ship rows — the value-level parity with the batch SQL twin is owned
    by the oracle gate."""
    from propensity_spark.streaming.windows import q_stream_ops_suite

    before = spark.conf.get("spark.sql.shuffle.partitions")
    out = q_stream_ops_suite(spark, sf_dir)
    sections = {r["section"]: r["n"] for r in out.groupBy("section").count()
                .withColumnRenamed("count", "n").collect()}
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    assert set(sections) == {
        "tumbling", "sliding", "dedup", "ssjoin", "feat", "session", "enrich"
    }
    assert all(n > 0 for n in sections.values())


def test_run_overlapped_jobs_keep_caller_job_group(spark):
    """Overlapped fns start their jobs under the caller's job group, so
    per-phase attribution survives the overlap (a plain thread pool
    drops the thread-local group: the group then lists no jobs)."""
    from propensity_spark.session import run_overlapped

    sc = spark.sparkContext
    sc.setJobGroup("overlap-group-test", "caller")
    try:
        counts = run_overlapped(
            spark, [lambda: spark.range(10).count(), lambda: spark.range(20).count()]
        )
        jobs = sc.statusTracker().getJobIdsForGroup("overlap-group-test")
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert counts == [10, 20]
    assert len(jobs) >= 2


def test_run_overlapped_job_description_stays_per_fn(spark):
    """Each fn gets its own copy of the caller's local properties: a
    setJobDescription inside one fn is invisible to the others and to
    the caller, even while all of them are in flight."""
    import threading

    from propensity_spark.session import run_overlapped

    sc = spark.sparkContext
    barrier = threading.Barrier(2, timeout=60)

    def described(label):
        def fn():
            sc.setJobDescription(label)
            barrier.wait()  # both labels are set before either is read
            return sc.getLocalProperty("spark.job.description")

        return fn

    sc.setJobDescription("caller")
    try:
        seen = run_overlapped(spark, [described("a"), described("b")])
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setJobDescription(None)
    assert seen == ["a", "b"]


def test_run_overlapped_order_errors_and_inline_width(spark):
    """Results in input order whatever the finishing order; the first
    failure in input order is re-raised, like pool.map; width 1 (or a
    single fn) runs on the calling thread."""
    import threading
    import time

    from propensity_spark.session import run_overlapped

    def slow(i, delay):
        def fn():
            time.sleep(delay)
            return i

        return fn

    def boom(msg, delay):
        def fn():
            time.sleep(delay)
            raise ValueError(msg)

        return fn

    assert run_overlapped(spark, [slow(0, 0.3), slow(1, 0.1), slow(2, 0.0)]) == [0, 1, 2]
    with pytest.raises(ValueError, match="first"):
        run_overlapped(spark, [slow(0, 0.0), boom("first", 0.3), boom("second", 0.0)])
    me = threading.get_ident()
    assert run_overlapped(spark, [threading.get_ident] * 3, width=1) == [me] * 3
    assert run_overlapped(spark, [threading.get_ident]) == [me]
    assert run_overlapped(spark, []) == []


def test_default_driver_mem_is_half_the_host_capped(tmp_path):
    """Without SPARK_DRIVER_MEM the driver heap is half of MemTotal,
    capped at 48g; an unreadable meminfo keeps 48g."""
    from propensity_spark.session import default_driver_mem

    small = tmp_path / "small"
    small.write_text("MemTotal:       16003452 kB\nMemFree:  1 kB\n")
    assert default_driver_mem(str(small)) == f"{16003452 // 1024 // 2}m"
    big = tmp_path / "big"
    big.write_text("MemTotal:       264000000 kB\n")
    assert default_driver_mem(str(big)) == f"{48 * 1024}m"
    assert default_driver_mem(str(tmp_path / "missing")) == "48g"
    garbled = tmp_path / "garbled"
    garbled.write_text("MemTotal: lots\n")
    assert default_driver_mem(str(garbled)) == "48g"


def test_single_overlap_and_env_seams():
    """One seam per concern: in the package, ThreadPoolExecutor appears
    only inside session.run_overlapped, and environment reads only in
    session.py, which reads the two deployment settings and nothing
    else."""
    import ast
    import re
    from pathlib import Path

    pkg = Path(__file__).resolve().parents[1] / "propensity_spark"
    session_py = pkg / "session.py"
    fn = next(
        n for n in ast.parse(session_py.read_text()).body
        if isinstance(n, ast.FunctionDef) and n.name == "run_overlapped"
    )
    for path in sorted(pkg.rglob("*.py")):
        for no, line in enumerate(path.read_text().splitlines(), 1):
            if "ThreadPoolExecutor" in line:
                assert path == session_py and fn.lineno <= no <= fn.end_lineno, (
                    f"{path.name}:{no}"
                )
            if "os.environ" in line or "getenv" in line:
                assert path == session_py, f"{path.name}:{no}"
    text = session_py.read_text()
    reads = re.findall(r'os\.(?:environ\.get\(|environ\[|getenv\()"(\w+)"', text)
    assert sorted(reads) == ["SPARK_DRIVER_MEM", "SPARK_GRAFT_CPUS"]
    assert text.count("os.environ") + text.count("getenv") == len(reads)
