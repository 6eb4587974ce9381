"""Operator-level invariants for the relational library (the DuckDB
hash-compare in tools/local_verify.py is the value-level gate; these
pin semantics that a hash can't explain when it breaks)."""

import pytest
from pyspark.sql import functions as F

from propensity_spark.operators import relational as R


def test_silver_null_to_zero_and_signs(spark, sf_dir):
    df = R.silver_transactions(spark, sf_dir)
    row = df.agg(
        F.count(F.when(F.col("amount_list").isNull(), 1)).alias("nulls"),
        F.min("amount_list").alias("min_amount"),
        F.count(F.when(F.col("total_coupon_discount") < 0, 1)).alias("neg_coupon"),
    ).collect()[0]
    assert row["nulls"] == 0  # COALESCE(...,0.0) at ingest (01:151-163)
    assert row["min_amount"] >= 0
    assert row["neg_coupon"] == 0


def test_case_branches_partition_lines(spark, sf_dir):
    """campaign vs manuf coupon split is exhaustive and exclusive (P3)."""
    df = R.silver_transactions(spark, sf_dir)
    both = df.where(
        (F.col("campaign_coupon_discount") > 0) & (F.col("manuf_coupon_discount") > 0)
    ).count()
    assert both == 0
    total = df.select(
        F.round(
            F.sum("campaign_coupon_discount") + F.sum("manuf_coupon_discount"), 2
        ).alias("split"),
        F.round(F.sum("total_coupon_discount"), 2).alias("total"),
    ).collect()[0]
    assert abs(total["split"] - total["total"]) < 0.05


def test_topk_is_deterministic_and_k_rows(spark, sf_dir):
    a = [r["commodity_desc"] for r in R.top_commodities(spark, sf_dir).collect()]
    b = [r["commodity_desc"] for r in R.top_commodities(spark, sf_dir).collect()]
    assert a == b and len(a) == R.TOP_K


def test_labels_universe_complete_and_binary(spark, sf_dir):
    labels = R.q_labels(spark, sf_dir)
    hh = R.q_distinct_entities(spark, sf_dir).count()
    assert labels.count() == hh * R.TOP_K  # full cross-join universe (J6)
    vals = {r[0] for r in labels.select("purchased").distinct().collect()}
    assert vals <= {0, 1}


def test_class_ratios_sum_to_one(spark, sf_dir):
    ratios = R.q_class_ratios(spark, sf_dir)
    sums = (
        ratios.groupBy("commodity_desc")
        .agg(F.round(F.sum("class_ratio"), 4).alias("s"))
        .collect()
    )
    assert all(abs(r["s"] - 1.0) < 1e-3 for r in sums)


def test_pivot_unpivot_roundtrip(spark, sf_dir):
    """The melt keeps the pivot's padded zeros: full grid, zero-filled."""
    tall = R.q_pivot_unpivot_scores(spark, sf_dir)
    n_hh = R.q_distinct_entities(spark, sf_dir).count()
    assert tall.count() == n_hh * len(R.BRANDS_CLEAN)
    assert tall.where(F.col("prediction").isNull()).count() == 0
    spent = R._scored_spend(spark, sf_dir).agg(F.sum("amount_list")).collect()[0][0]
    total_tall = tall.agg(F.sum("prediction")).collect()[0][0]
    assert abs(spent - total_tall) < 0.5


def test_left_join_preserves_all_anchors(spark, sf_dir):
    out = R.q_left_join_fillna(spark, sf_dir)
    from propensity_spark.io import load_table

    assert out.count() == load_table(spark, sf_dir, "customer").count()
    assert out.where(F.col("amount_list").isNull()).count() == 0


def test_spark_sql_api_matches_dataframe_plans(spark, sf_dir):
    """The engine's SQL surface: registered views + the dialect-portable
    oracle texts run through spark.sql itself must equal the DataFrame
    plans (a reference user can keep writing SQL)."""
    from propensity_spark.io import register_views
    from propensity_spark.operators.relational import ORACLES, q_tpch_q1, q_set_ops_suite

    register_views(spark, sf_dir)
    for q_fn, sql in [
        (q_tpch_q1, ORACLES["tpch_q1"]),
        (q_set_ops_suite, ORACLES["set_ops_suite"]),
    ]:
        # dialect shims: VARCHAR->STRING; DuckDB's integer division
        # `//` -> Spark's `div` (both exact on BIGINT — the r07 rule-2
        # money-sum rework made tpch_q1's aggregates integer-exact);
        # bare decimal literals -> D-suffixed so Spark computes DOUBLE
        # like DuckDB instead of DECIMAL (GATE_CONTRACT rule 5).
        shimmed = (
            sql.replace("VARCHAR", "STRING")
            .replace("//", " div ")
            .replace("100.0", "100.0D")
        )
        via_sql = {tuple(r) for r in spark.sql(shimmed).collect()}
        via_df = {tuple(r) for r in q_fn(spark, sf_dir).collect()}
        assert via_sql == via_df and len(via_df) > 0


def test_corrupt_csv_rows_are_quarantined_not_dropped(spark, tmp_path):
    from pyspark.sql import types as T

    from propensity_spark.io import CORRUPT_COL, read_csv_capturing_corrupt

    p = tmp_path / "feed.csv"
    p.write_text("id,amount\n1,10.5\nnot_an_int,oops\n3,7.25\n")
    schema = T.StructType(
        [T.StructField("id", T.IntegerType()), T.StructField("amount", T.DoubleType())]
    )
    df = read_csv_capturing_corrupt(spark, str(p), schema).cache()
    good = df.where(F.col(CORRUPT_COL).isNull())
    bad = df.where(F.col(CORRUPT_COL).isNotNull())
    assert df.count() == 3  # nothing silently dropped
    assert {r["id"] for r in good.collect()} == {1, 3}
    assert [r[CORRUPT_COL] for r in bad.collect()] == ["not_an_int,oops"]
    df.unpersist()


def test_control_memo_keyed_by_application_id(spark, sf_dir):
    """The control-table memo is keyed by applicationId (unique per
    SparkContext), not id(spark): a GC'd-then-reallocated session object
    can alias a stale id() entry across sequential sessions."""
    from propensity_spark.operators import relational as R

    R.commodities_control(spark, sf_dir)
    app_id = spark.sparkContext.applicationId
    assert any(k[0] == app_id for k in R._CONTROL_ROWS)
    assert all(isinstance(k[0], str) for k in R._CONTROL_ROWS)


def test_scan_memo_is_bound_to_its_session(spark, sf_dir):
    """load_table's scan memo belongs to the calling session: another
    session (own catalog and confs) gets a DataFrame bound to itself,
    never the memoized one of the first session; the same session
    still hits its memo."""
    from propensity_spark.io import load_table

    first = load_table(spark, sf_dir, "nation")
    assert load_table(spark, sf_dir, "nation") is first
    other = spark.newSession()
    df = load_table(other, sf_dir, "nation")
    assert df.sparkSession is other
    assert df is not first
    assert load_table(other, sf_dir, "nation") is df
    assert df.count() == first.count()


def test_register_views_sql_surface_parity(spark, sf_dir, tmp_path):
    """A SQL-first reference user's queries run verbatim against the
    reference-named temp views (01:171, 02:40, 04a:76)."""
    from propensity_spark.sql import register_views

    names = register_views(spark, sf_dir)
    for expected in (
        "transactions_adj",
        "products",
        "commodities_to_score",
        "household_features",
        "household_commodity_features",
    ):
        assert expected in names

    # the reference's own sanity query (01_Data_Prep.py:171)
    assert spark.sql("SELECT * FROM transactions_adj LIMIT 100").count() == 100
    # the 02:40-47 top-k re-expressed as plain SQL over the views
    # matches the Python API result
    from propensity_spark.operators.relational import top_commodities

    via_sql = spark.sql(
        """
        SELECT p.commodity_desc, count(DISTINCT t.basket_id) AS baskets
        FROM transactions_adj t JOIN products p USING (product_id)
        GROUP BY 1 ORDER BY baskets DESC, commodity_desc LIMIT 10
        """
    ).collect()
    via_api = top_commodities(spark, sf_dir).select("commodity_desc", "baskets").collect()
    assert [(r[0], r[1]) for r in via_sql] == [(r[0], r[1]) for r in via_api]
    # feature views are lazy and queryable
    assert spark.sql(
        "SELECT count(*) FROM household_features"
    ).collect()[0][0] > 0


def test_multi_day_backfill_matches_per_day_runs(spark, sf_dir):
    """One-pass multi-anchor backfill == the single-day engine run once
    per anchor (for anchors with transactions, where both definitions
    of the window upper bound coincide)."""
    from propensity_spark.operators.features import (
        _spark_features,
        multi_day_features,
    )
    from propensity_spark.operators.relational import silver_transactions

    silver = spark.createDataFrame(
        silver_transactions(spark, sf_dir).collect()
    )  # materialized once so both paths see identical input
    days = sorted(r[0] for r in silver.select("day").distinct().collect())
    anchors = [days[-1], days[len(days) // 2]]

    multi = multi_day_features(silver, ["household_key"], anchors)
    got = {
        (r["household_key"], str(r["day"])): r.asDict()
        for r in multi.collect()
    }
    for a in anchors:
        single = _spark_features(
            silver.where(F.col("day") <= F.lit(a)), ["household_key"]
        )
        for r in single.collect():
            want = r.asDict()
            have = got[(r["household_key"], str(a))]
            for k, v in want.items():
                if k == "household_key":
                    continue
                assert have[k] == v, (a, r["household_key"], k, have[k], v)


def test_bloom_semijoin_never_drops_true_matches(spark, tmp_path, sf_dir):
    """Bloom property tests: (1) on a corpus where EVERY fact row joins
    a build key, n_passed == n_true exactly — any gap would be a false
    negative, which a bloom filter must never produce; (2) on the real
    fixture the false-positive count stays under 5% of the non-matching
    rows (sizing: 14.4 bits/key, k=3 -> ~0.7% expected)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from propensity_spark.operators.extended import q_bloom_semijoin

    sf = tmp_path / "sf"
    sf.mkdir()
    orders = [
        {"o_orderkey": k, "o_orderpriority": "1-URGENT"} for k in range(1, 31)
    ]
    lineitem = [
        {"l_orderkey": k, "l_linenumber": n, "l_returnflag": "N"}
        for k in range(1, 31)
        for n in (1, 2)
    ]
    pq.write_table(pa.Table.from_pylist(orders), sf / "orders.parquet")
    pq.write_table(pa.Table.from_pylist(lineitem), sf / "lineitem.parquet")
    out = {
        (r["section"], r["k"]): r["v"]
        for r in q_bloom_semijoin(spark, str(sf)).collect()
    }
    assert out[("summary", "n_true")] == 60.0
    assert out[("summary", "n_passed")] == 60.0  # zero false negatives
    assert out[("summary", "false_pos")] == 0.0

    real = {
        (r["section"], r["k"]): r["v"]
        for r in q_bloom_semijoin(spark, sf_dir).collect()
    }
    n_total = sum(v for (s, _), v in real.items() if s == "passed_by_flag")
    assert n_total == real[("summary", "n_passed")]
    assert real[("summary", "n_passed")] >= real[("summary", "n_true")]
    # fp bound: false_pos / non-matching rows << 5%
    from propensity_spark.io import load_table

    n_fact = load_table(spark, sf_dir, "lineitem").count()
    assert real[("summary", "false_pos")] <= 0.05 * (
        n_fact - real[("summary", "n_true")]
    )


def test_pagerank_ranks_hub_above_leaves_and_conserves_mass(spark):
    """Power-iteration PageRank on a hand-built star graph (hub h
    connected to 4 leaves, undirected): the hub must out-rank every
    leaf, leaves tie exactly, and total rank mass stays ~1 (the
    damped random surfer conserves probability when no node dangles)."""
    from propensity_spark.operators.graph import pagerank

    pairs = [("h", leaf) for leaf in ("a", "b", "c", "d")]
    edges = spark.createDataFrame(
        [(s, t) for s, t in pairs] + [(t, s) for s, t in pairs],
        "src string, dst string",
    )
    out = {r["node"]: r for r in pagerank(edges).collect()}
    assert out["h"]["out_deg"] == 4
    leaf_ranks = {out[x]["rank"] for x in "abcd"}
    assert len(leaf_ranks) == 1  # symmetry -> exact tie
    assert out["h"]["rank"] > max(leaf_ranks) * 2
    assert abs(sum(r["rank"] for r in out.values()) - 1.0) < 1e-6


def test_iterative_graph_ops_reliable_checkpoint_bit_identical(
    spark, tmp_path
):
    """checkpoint_dir= switches the per-iteration lineage cut from
    localCheckpoint to reliable df.checkpoint(); results must be
    bit-identical in both modes for pagerank AND connected
    components — only failure-recovery behavior differs."""
    from propensity_spark.operators.graph import pagerank
    from propensity_spark.text.dedup import connected_components

    pairs = [("h", x) for x in "abcd"] + [("a", "b"), ("c", "d")]
    edges = spark.createDataFrame(
        pairs + [(t, s) for s, t in pairs], "src string, dst string"
    )
    local = sorted(map(tuple, pagerank(edges).collect()))
    reliable = sorted(map(tuple, pagerank(
        edges, checkpoint_dir=str(tmp_path / "ckpt_pr")
    ).collect()))
    assert local == reliable  # bit-identical, not approximately

    cc_edges = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8), (9, 9)], "u: long, v: long"
    )
    cc_local = sorted(map(tuple, connected_components(cc_edges).collect()))
    cc_rel = sorted(map(tuple, connected_components(
        cc_edges, checkpoint_dir=str(tmp_path / "ckpt_cc")
    ).collect()))
    assert cc_local == cc_rel
    comp = dict(cc_local)
    assert comp[2] == 1 and comp[3] == 1 and comp[8] == 7
    assert (tmp_path / "ckpt_pr").exists()  # reliable files really wrote


def test_connected_components_raises_when_not_converged(spark):
    """r07 review: exhausting max_rounds without a verified fixpoint
    must raise, never silently return wrong component labels; and a
    graph that DOES converge within max_rounds (even without hitting
    the every-3rd-round signature check) must still succeed via the
    post-loop verification round."""
    import pytest as _pytest

    from propensity_spark.text.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "u: long, v: long"
    )
    with _pytest.raises(RuntimeError, match="not converged"):
        connected_components(chain, max_rounds=1)
    # a small star converges in one round; max_rounds=1 exits the loop
    # unconverged but the verification round proves the fixpoint
    star = spark.createDataFrame([(1, 2), (1, 3)], "u: long, v: long")
    comp = dict(map(tuple, connected_components(star, max_rounds=1).collect()))
    assert comp[2] == 1 and comp[3] == 1


def test_hll_rollup_flags_and_exactness(spark, sf_dir):
    """Mergeable-sketch rollup: exact distinct counts match a direct
    computation, the merged-daily estimate is within the error bound,
    and daily-merge vs direct-month sketches agree within
    HLL_MERGE_BOUND — on every (month, event_type) group."""
    from pyspark.sql import functions as F

    from propensity_spark.io import load_table
    from propensity_spark.operators.extended import q_hll_rollup

    out = q_hll_rollup(spark, sf_dir).collect()
    assert out, "no groups"
    assert all(r["est_ok"] == 1 for r in out)
    assert all(r["rollup_consistent"] == 1 for r in out)

    events = load_table(spark, sf_dir, "events")
    exact = {
        (r["month"], r["event_type"]): r["n"]
        for r in events.groupBy(
            F.date_trunc("month", "ts").cast("date").alias("month"), "event_type"
        )
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for r in out:
        assert exact[(r["month"], r["event_type"])] == r["exact_users"]


def test_scd2_history_collapses_noops_and_chains_validity(spark, tmp_path):
    """SCD2 fold on a hand-built change log: consecutive same-value
    updates collapse, valid_to of version N equals valid_from of
    version N+1, exactly one current row per entity, versions dense."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime

    from propensity_spark.operators.extended import q_scd2_history

    def ev(eid, uid, t, val):
        return {"event_id": eid, "ts": datetime(2024, 1, t, 12, 0, 0),
                "user_id": uid, "event_type": "upd", "value": val,
                "props": "{}"}

    rows = [
        ev(1, 7, 1, 10.0), ev(2, 7, 2, 10.0),  # no-op update collapses
        ev(3, 7, 3, 20.0), ev(4, 7, 4, 30.0),
        ev(5, 8, 1, 5.0),
    ]
    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(pa.Table.from_pylist(rows), sf / "events.parquet")

    out = sorted(
        q_scd2_history(spark, str(sf)).collect(),
        key=lambda r: (r["user_id"], r["version"]),
    )
    u7 = [r for r in out if r["user_id"] == 7]
    assert [r["value"] for r in u7] == [10.0, 20.0, 30.0]
    assert [r["version"] for r in u7] == [1, 2, 3]
    assert u7[0]["valid_to"] == u7[1]["valid_from"]
    assert u7[1]["valid_to"] == u7[2]["valid_from"]
    assert [r["is_current"] for r in u7] == [0, 0, 1]
    u8 = [r for r in out if r["user_id"] == 8]
    assert len(u8) == 1 and u8[0]["is_current"] == 1 and u8[0]["valid_to"] is None


def test_funnel_requires_strict_stage_ordering(spark, tmp_path):
    """A click BEFORE the user's first view must not convert; a
    purchase only counts after a qualifying click."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime

    from propensity_spark.operators.behavior import q_funnel_conversion

    def ev(eid, uid, day, typ):
        return {"event_id": eid, "ts": datetime(2024, 1, day, 12),
                "user_id": uid, "event_type": typ, "value": 1.0, "props": "{}"}

    rows = [
        # user 1: full ordered funnel
        ev(1, 1, 1, "view"), ev(2, 1, 2, "click"), ev(3, 1, 3, "purchase"),
        # user 2: click precedes the only view -> no click conversion
        ev(4, 2, 1, "click"), ev(5, 2, 2, "view"), ev(6, 2, 3, "purchase"),
        # user 3: view+click but purchase BEFORE click -> no purchase
        ev(7, 3, 1, "view"), ev(8, 3, 3, "click"), ev(9, 3, 2, "purchase"),
    ]
    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(pa.Table.from_pylist(rows), sf / "events.parquet")

    out = {r["stage"]: r for r in q_funnel_conversion(spark, str(sf)).collect()}
    assert out["view"]["n_users"] == 3
    assert out["click"]["n_users"] == 2  # users 1 and 3
    assert out["purchase"]["n_users"] == 1  # only user 1
    assert abs(out["purchase"]["conversion"] - 0.5) < 1e-6


def test_cohort_retention_matrix(spark, tmp_path):
    """Two cohorts with known comeback weeks produce the exact
    retention matrix (weeks_since 0 is always rate 1.0)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime

    from propensity_spark.operators.behavior import q_cohort_retention

    def ev(eid, uid, day):
        return {"event_id": eid, "ts": datetime(2024, 1, day, 12),
                "user_id": uid, "event_type": "view", "value": 1.0,
                "props": "{}"}

    rows = [
        # cohort week 0: users 1, 2; user 1 returns in week 1
        ev(1, 1, 2), ev(2, 2, 3), ev(3, 1, 9),
        # cohort week 1: user 3, never returns
        ev(4, 3, 10),
    ]
    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(pa.Table.from_pylist(rows), sf / "events.parquet")

    out = {
        (r["cohort_week"], r["weeks_since"]): r
        for r in q_cohort_retention(spark, str(sf)).collect()
    }
    assert out[(0, 0)]["n_active"] == 2 and out[(0, 0)]["retention"] == 1.0
    assert out[(0, 1)]["n_active"] == 1 and abs(out[(0, 1)]["retention"] - 0.5) < 1e-6
    assert out[(1, 0)]["n_active"] == 1
    assert (1, 1) not in out


def test_gapfill_forward_fills_interior_gaps_only(spark, tmp_path):
    """Missing days get the last observed value; days before a brand's
    first observation stay NULL; observed days are not flagged."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime

    from propensity_spark.operators.timeseries import q_gapfill_revenue

    def li(pk, day, price):
        return {"l_partkey": pk, "l_shipdate": datetime(2024, 1, day),
                "l_extendedprice": price, "l_discount": 0.0}

    # brand A sells on days 1 and 4 (gap 2-3); brand B only on day 3
    rows = [li(1, 1, 10.0), li(1, 4, 40.0), li(2, 3, 30.0)]
    parts = [{"p_partkey": 1, "p_brand": "A"}, {"p_partkey": 2, "p_brand": "B"}]
    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(pa.Table.from_pylist(rows), sf / "lineitem.parquet")
    pq.write_table(pa.Table.from_pylist(parts), sf / "part.parquet")

    out = {
        (r["brand"], r["day"].isoformat()): r
        for r in q_gapfill_revenue(spark, str(sf)).collect()
    }
    assert len(out) == 8  # 2 brands x 4-day span
    a2 = out[("A", "2024-01-02")]
    assert a2["is_gap"] == 1 and a2["revenue"] is None
    assert abs(a2["filled_revenue"] - 10.0) < 1e-6
    assert abs(out[("A", "2024-01-04")]["filled_revenue"] - 40.0) < 1e-6
    assert out[("A", "2024-01-04")]["is_gap"] == 0
    # B has no observation before day 3: leading gap stays NULL
    b1 = out[("B", "2024-01-01")]
    assert b1["is_gap"] == 1 and b1["filled_revenue"] is None
    assert abs(out[("B", "2024-01-03")]["filled_revenue"] - 30.0) < 1e-6


def test_attribution_picks_latest_strictly_prior_click(spark, tmp_path):
    """Two prior clicks -> the later one wins; a click after the
    purchase never attributes; no prior click -> unattributed."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime

    from propensity_spark.operators.timeseries import q_attribution_last_touch

    def ev(eid, uid, hour, typ):
        return {"event_id": eid, "ts": datetime(2024, 1, 1, hour),
                "user_id": uid, "event_type": typ, "value": 1.0,
                "props": "{}"}

    rows = [
        # user 1: clicks at 1h and 3h, purchase at 5h -> attributed to 3h
        ev(1, 1, 1, "click"), ev(2, 1, 3, "click"), ev(3, 1, 5, "purchase"),
        # user 2: purchase at 2h, click only afterwards at 4h -> unattributed
        ev(4, 2, 2, "purchase"), ev(5, 2, 4, "click"),
    ]
    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(pa.Table.from_pylist(rows), sf / "events.parquet")

    out = {r["purchase_id"]: r
           for r in q_attribution_last_touch(spark, str(sf)).collect()}
    assert out[3]["attributed"] == 1
    assert out[3]["secs_to_convert"] == 2 * 3600
    assert out[4]["attributed"] == 0 and out[4]["last_click_t"] is None


def test_rfm_scores_rank_best_customers_highest(spark, tmp_path):
    """With 5 customers of strictly increasing recency/frequency/spend,
    ntile(5) puts exactly one per bucket and the best customer scores
    555."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime

    from propensity_spark.operators.behavior import q_rfm_segments

    rows = []
    oid = 0
    # customer k (1..5): last order on day 2k (later = more recent is
    # customer 5), k orders, total spend 100*k
    for k in range(1, 6):
        for i in range(k):
            oid += 1
            rows.append({
                "o_orderkey": oid, "o_custkey": k,
                "o_orderdate": datetime(2024, 1, 2 * k - (1 if i else 0)),
                "o_totalprice": 100.0 * k / k,
            })
    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(pa.Table.from_pylist(rows), sf / "orders.parquet")

    out = {r["custkey"]: r for r in q_rfm_segments(spark, str(sf)).collect()}
    assert out[5]["rfm"] == 555 and out[5]["recency_days"] == 0
    assert out[1]["r_score"] == 1 and out[1]["f_score"] == 1
    assert sorted(r["m_score"] for r in out.values()) == [1, 2, 3, 4, 5]


def test_profile_one_pass_nulls_distincts_ranges(spark):
    """profile() counts nulls/distincts per column and bounds numeric
    columns only; approx default stays within HLL error of exact."""
    from propensity_spark.operators.profiling import profile

    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "a", None), (3, None, -2.0), (3, "b", 0.0)],
        "id: int, tag: string, x: double",
    )
    exact = {r["col_name"]: r for r in profile(df, exact=True).collect()}
    assert exact["id"]["n_nulls"] == 0 and exact["id"]["n_distinct"] == 3
    assert exact["tag"]["n_nulls"] == 1 and exact["tag"]["n_distinct"] == 2
    assert exact["tag"]["min_num"] is None
    assert exact["x"]["min_num"] == -2.0 and exact["x"]["max_num"] == 1.5
    approx = {r["col_name"]: r for r in profile(df).collect()}
    for c in ("id", "tag", "x"):
        assert abs(approx[c]["n_distinct"] - exact[c]["n_distinct"]) <= 1


def test_record_linkage_respects_blocks_and_threshold(spark):
    """Pairs link only within the same first-token block and within
    the edit-distance threshold; occurrence counts ride along."""
    from propensity_spark.operators.profiling import record_linkage

    df = spark.createDataFrame(
        [("small ring",)] * 2 + [("small king",), ("small widget",),
                                 ("big ring",)],
        "name: string",
    )
    out = {(r["name_a"], r["name_b"]): r
           for r in record_linkage(df, "name", 3).collect()}
    # dist("small king","small ring")=1 -> linked, counts 1 and 2
    pair = out[("small king", "small ring")]
    assert pair["dist"] == 1 and pair["n_b"] == 2 and pair["n_a"] == 1
    # "small widget" is 5 edits from "small ring" -> filtered
    assert not any("widget" in a or "widget" in b for a, b in out)
    # "big ring" is 4 edits from "small ring" but in another block:
    # never even compared
    assert not any("big" in a or "big" in b for a, b in out)
    assert len(out) == 1


def test_record_linkage_mega_block_guard(spark):
    """A stop-word first-token block larger than max_block is first
    sub-blocked (second token + length) and then hard-capped, so the
    in-block self-join pair count stays bounded at C(max_block, 2)
    per block instead of C(|block|, 2)."""
    from propensity_spark.operators.profiling import (
        _blocked_names,
        record_linkage,
    )

    # 50 distinct names sharing first token, second token AND length:
    # sub-blocking cannot split them, so the hard cap must bite.
    df = spark.createDataFrame(
        [(f"the xx {i:03d}",) for i in range(50)], "name: string"
    )
    blocked = _blocked_names(df, "name", max_block=10)
    assert blocked.groupBy("block").count().agg(
        {"count": "max"}
    ).collect()[0][0] == 10
    out = record_linkage(df, "name", max_dist=3, max_block=10)
    assert out.count() == 45  # C(10,2); unguarded would be C(50,2)=1225

    # Sub-blocking (not just capping) preserves recall: names that
    # share the refined key (second token + length) still link even
    # when their first-token block overflows max_block.
    rows = [(f"new {c} thing",) for c in "abcdefghijklm"]
    rows += [("new a widge",), ("new a widgf",)]
    df2 = spark.createDataFrame(rows, "name: string")
    pairs = {(r["name_a"], r["name_b"])
             for r in record_linkage(df2, "name", 3, max_block=10).collect()}
    assert ("new a widge", "new a widgf") in pairs


def test_cdc_apply_latest_wins_and_deletes_drop(spark, tmp_path):
    """Per key, the highest-sequence change wins; a trailing delete
    removes the key; a delete followed by a later upsert resurrects."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime

    from propensity_spark.operators.extended import q_cdc_apply

    def ev(eid, uid, hour, typ, val):
        return {"event_id": eid, "ts": datetime(2024, 1, 1, hour),
                "user_id": uid, "event_type": typ, "value": val,
                "props": "{}"}

    rows = [
        # user 1: two upserts -> latest value survives
        ev(1, 1, 1, "view", 10.0), ev(2, 1, 2, "view", 20.0),
        # user 2: upsert then delete -> gone
        ev(3, 2, 1, "view", 30.0), ev(4, 2, 2, "purchase", 0.0),
        # user 3: delete then later upsert -> resurrected
        ev(5, 3, 1, "purchase", 0.0), ev(6, 3, 2, "view", 50.0),
    ]
    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(pa.Table.from_pylist(rows), sf / "events.parquet")

    out = {r["user_id"]: r for r in q_cdc_apply(spark, str(sf)).collect()}
    assert set(out) == {1, 3}
    assert out[1]["value"] == 20.0 and out[1]["event_id"] == 2
    assert out[3]["value"] == 50.0


def test_chi_square_cells_sum_to_statistic(spark, sf_dir):
    """Expected counts reproduce the independence formula and the
    contribution column sums to the chi-square statistic computed
    from the contingency table in Python."""
    from propensity_spark.operators.stats import q_chi_square_assoc

    rows = q_chi_square_assoc(spark, sf_dir).collect()
    obs = {(r["segment"], r["priority"]): r["observed"] for r in rows}
    n = sum(obs.values())
    row_t = {}
    col_t = {}
    for (s, p), o in obs.items():
        row_t[s] = row_t.get(s, 0) + o
        col_t[p] = col_t.get(p, 0) + o
    chi2 = sum(
        (o - row_t[s] * col_t[p] / n) ** 2 / (row_t[s] * col_t[p] / n)
        for (s, p), o in obs.items()
    )
    got = sum(r["contrib"] for r in rows)
    assert abs(got - chi2) < 1e-2
    for r in rows:
        exp = row_t[r["segment"]] * col_t[r["priority"]] / n
        assert abs(r["expected"] - exp) < 1e-3


def test_quantile_bucket_deciles_are_balanced(spark, sf_dir):
    """Decile assignment puts ~10% of rows in every bucket and is
    monotone in the value."""
    from propensity_spark.operators.stats import q_quantile_bucket

    rows = q_quantile_bucket(spark, sf_dir).collect()
    n = len(rows)
    from collections import Counter

    sizes = Counter(r["bucket"] for r in rows)
    assert set(sizes) == set(range(1, 11))
    for b, c in sizes.items():
        assert abs(c - n / 10) <= n * 0.02, (b, c)
    by_val = sorted(rows, key=lambda r: r["o_totalprice"])
    buckets = [r["bucket"] for r in by_val]
    assert buckets == sorted(buckets)
    # the production default is the percentile_approx sketch: still
    # 10 buckets, near-balanced within sketch error
    from propensity_spark.io import load_table
    from propensity_spark.operators.stats import quantile_bucket

    approx = quantile_bucket(
        load_table(spark, sf_dir, "orders").select("o_totalprice"),
        "o_totalprice",
    ).collect()
    sizes_a = Counter(r["bucket"] for r in approx)
    assert set(sizes_a) == set(range(1, 11))
    for c in sizes_a.values():
        assert abs(c - n / 10) <= n * 0.05


def test_key_skew_flags_hot_key(spark, tmp_path):
    """An injected hot key dominates rank 1 with the right share and
    skew ratio."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from propensity_spark.operators.stats import key_skew

    # key 7: 90 extra + 1 from the 1..10 run = 91 of 100 rows, 10 keys
    rows = [{"l_partkey": 7}] * 90 + [{"l_partkey": k} for k in range(1, 11)]
    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(pa.Table.from_pylist(rows), sf / "lineitem.parquet")
    df = spark.read.parquet(str(sf / "lineitem.parquet"))

    out = key_skew(df, "l_partkey", top_k=3).collect()
    top = out[0]
    assert top["rank"] == 1 and top["key"] == 7 and top["cnt"] == 91
    assert abs(top["share"] - 0.91) < 1e-6
    # mean load = 100/10 keys = 10 -> ratio 9.1
    assert abs(top["skew_ratio"] - 9.1) < 1e-3


def test_path_analysis_splits_sessions_on_gap(spark, tmp_path):
    """Events 30+ minutes apart start a new session; paths preserve
    in-session event order."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime, timedelta

    from propensity_spark.operators.behavior import q_path_analysis

    base = datetime(2024, 1, 1, 12)

    def ev(eid, uid, mins, typ):
        return {"event_id": eid, "ts": base + timedelta(minutes=mins),
                "user_id": uid, "event_type": typ, "value": 1.0,
                "props": "{}"}

    rows = [
        # user 1, session 1: view>click (5 min apart); session 2 after
        # a 60-min gap: purchase alone
        ev(1, 1, 0, "view"), ev(2, 1, 5, "click"), ev(3, 1, 65, "purchase"),
        # user 2: one session view>click
        ev(4, 2, 0, "view"), ev(5, 2, 10, "click"),
    ]
    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(pa.Table.from_pylist(rows), sf / "events.parquet")

    out = {r["path"]: r["n_sessions"]
           for r in q_path_analysis(spark, str(sf)).collect()}
    assert out == {"view>click": 2, "purchase": 1}


def test_stratified_sample_exact_n_and_append_stable(spark):
    """Each stratum yields exactly n rows; adding rows to ANOTHER
    stratum never changes this stratum's picks."""
    from propensity_spark.operators.stats import stratified_sample

    base = [("A", k) for k in range(20)] + [("B", k) for k in range(100, 110)]
    df = spark.createDataFrame(base, "seg: string, key: long")
    out1 = stratified_sample(df, "seg", "key", 3).collect()
    by_seg = {}
    for r in out1:
        by_seg.setdefault(r["seg"], set()).add(r["key"])
    assert len(by_seg["A"]) == 3 and len(by_seg["B"]) == 3

    grown = df.union(
        spark.createDataFrame([("C", k) for k in range(500, 560)],
                              "seg: string, key: long")
    )
    out2 = stratified_sample(grown, "seg", "key", 3).collect()
    by_seg2 = {}
    for r in out2:
        by_seg2.setdefault(r["seg"], set()).add(r["key"])
    assert by_seg2["A"] == by_seg["A"] and by_seg2["B"] == by_seg["B"]
    assert len(by_seg2["C"]) == 3


def test_anomaly_mad_flags_injected_outlier(spark, tmp_path):
    """A 100x revenue spike is flagged; ordinary days are not; a
    constant series (MAD=0) yields NULL z and no flags."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime

    from propensity_spark.operators.stats import q_anomaly_mad

    def li(pk, day, price):
        return {"l_partkey": pk, "l_shipdate": datetime(2024, 1, day),
                "l_extendedprice": price, "l_discount": 0.0}

    rows = (
        # brand A: 10 steady days around 100, one 10000 spike
        [li(1, d, 100.0 + d) for d in range(1, 11)]
        + [li(1, 11, 10000.0)]
        # brand B: constant 50 -> MAD 0
        + [li(2, d, 50.0) for d in range(1, 6)]
    )
    parts = [{"p_partkey": 1, "p_brand": "A"}, {"p_partkey": 2, "p_brand": "B"}]
    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(pa.Table.from_pylist(rows), sf / "lineitem.parquet")
    pq.write_table(pa.Table.from_pylist(parts), sf / "part.parquet")

    out = q_anomaly_mad(spark, str(sf)).collect()
    a = [r for r in out if r["brand"] == "A"]
    flagged = [r for r in a if r["is_anomaly"] == 1]
    assert len(flagged) == 1 and flagged[0]["revenue"] == 10000.0
    b = [r for r in out if r["brand"] == "B"]
    assert all(r["robust_z"] is None and r["is_anomaly"] == 0 for r in b)


def test_triangle_count_star_vs_clique(spark):
    """A star graph has zero triangles; in a 4-clique every node sits
    in C(3,2)=3 triangles."""
    from propensity_spark.operators.graph import triangle_count

    star = spark.createDataFrame(
        [(0, k) for k in range(1, 5)], "ia: long, ib: long"
    )
    out = {r["node"]: r["n_triangles"] for r in triangle_count(star).collect()}
    assert set(out) == {0, 1, 2, 3, 4} and all(v == 0 for v in out.values())

    clique = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(a + 1, 4)],
        "ia: long, ib: long",
    )
    out = {r["node"]: r["n_triangles"]
           for r in triangle_count(clique).collect()}
    assert out == {0: 3, 1: 3, 2: 3, 3: 3}


def test_triangle_wedges_are_degree_ordered_not_hub_quadratic(spark):
    """Star-plus-clique: a degree-20 hub must contribute ZERO wedges
    (its edges all orient inward under the degree order), so the
    wedge-side row count tracks Σ C(out_deg, 2) of the min-degree
    orientation — 10 for the K5 — not the Σ d² = C(20,2) + ... an
    id-ordered enumeration would produce with the hub first by id."""
    from propensity_spark.operators.graph import (
        _oriented,
        _wedges,
        triangle_count,
    )

    # Hub named to sort FIRST by id ("a_hub" < "z.."), so an id-ordered
    # a<b<c scheme would put all 20 star edges out of the hub.
    star = [("a_hub", f"z{k:02d}") for k in range(20)]
    k5 = [(f"k{a}", f"k{b}") for a in range(5) for b in range(a + 1, 5)]
    pairs = spark.createDataFrame(star + k5, "ia: string, ib: string")

    wedges = _wedges(_oriented(pairs))
    # K5 degree-ordered out-degrees are 4,3,2,1,0 -> 6+3+1+0+0 wedges;
    # hub and leaves contribute none. id-ordered would add C(20,2)=190.
    assert wedges.count() == 10
    assert wedges.where(F.col("u") == "a_hub").count() == 0

    out = {r["node"]: r["n_triangles"]
           for r in triangle_count(pairs).collect()}
    assert all(out[f"k{i}"] == 6 for i in range(5))  # C(4,2) per K5 node
    assert out["a_hub"] == 0
    assert all(out[f"z{k:02d}"] == 0 for k in range(20))


def test_moving_average_range_frame_spans_calendar_days(spark, tmp_path):
    """The RANGE frame covers 7 calendar days, not 7 observations:
    a sparse series with a gap keeps the gap out of the window count."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime

    from propensity_spark.operators.timeseries import q_moving_average

    def li(day, price):
        return {"l_partkey": 1, "l_shipdate": datetime(1992, 1, day),
                "l_extendedprice": price, "l_discount": 0.0}

    # brand A: days 1, 2, then a jump to day 20 (outside any 7d frame)
    rows = [li(1, 10.0), li(2, 20.0), li(20, 40.0)]
    parts = [{"p_partkey": 1, "p_brand": "A"}]
    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(pa.Table.from_pylist(rows), sf / "lineitem.parquet")
    pq.write_table(pa.Table.from_pylist(parts), sf / "part.parquet")

    # day_num is days since 1992-01-01: Jan 1 -> 0, Jan 2 -> 1, Jan 20 -> 19
    out = {r["day_num"]: r for r in q_moving_average(spark, str(sf)).collect()}
    assert set(out) == {0, 1, 19}
    assert out[0]["days_in_window"] == 1 and abs(out[0]["sum_7d"] - 10.0) < 1e-6
    assert out[1]["days_in_window"] == 2 and abs(out[1]["sum_7d"] - 30.0) < 1e-6
    # day 20 is alone again: the gap evicted days 1-2 from the frame
    assert out[19]["days_in_window"] == 1
    assert abs(out[19]["avg_7d"] - 40.0) < 1e-4


def test_ri_check_counts_injected_orphans(spark, tmp_path):
    """Orphan FK rows are counted per edge, with distinct orphan keys
    separated from orphan row multiplicity."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime

    from propensity_spark.operators.profiling import q_ri_check

    lineitem = [
        {"l_orderkey": 1, "l_partkey": 1},
        {"l_orderkey": 1, "l_partkey": 99},  # orphan part, twice
        {"l_orderkey": 2, "l_partkey": 99},
        {"l_orderkey": 7, "l_partkey": 1},   # orphan order
    ]
    orders = [
        {"o_orderkey": 1, "o_custkey": 10},
        {"o_orderkey": 2, "o_custkey": 11},  # orphan customer
    ]
    part = [{"p_partkey": 1}]
    customer = [{"c_custkey": 10}]
    sf = tmp_path / "sf"
    sf.mkdir()
    for name, rows in [("lineitem", lineitem), ("orders", orders),
                       ("part", part), ("customer", customer)]:
        pq.write_table(pa.Table.from_pylist(rows), sf / f"{name}.parquet")

    out = {r["edge"]: r for r in q_ri_check(spark, str(sf)).collect()}
    lo = out["lineitem->orders"]
    assert (lo["child_rows"], lo["orphan_rows"], lo["orphan_keys"]) == (4, 1, 1)
    lp = out["lineitem->part"]
    assert (lp["child_rows"], lp["orphan_rows"], lp["orphan_keys"]) == (4, 2, 1)
    oc = out["orders->customer"]
    assert (oc["child_rows"], oc["orphan_rows"], oc["orphan_keys"]) == (2, 1, 1)


def test_incremental_agg_state_matches_full_recompute(spark):
    """Materialized-view delta maintenance: folding each day's partial
    aggregates into the state, one day at a time, yields exactly the
    totals of a from-scratch aggregation over all days — for every
    aggregate in the state (count/sum/min/max) plus derived avg."""
    from datetime import date

    from propensity_spark.operators.maintenance import (
        combine_agg_state,
        partial_agg_state,
    )

    rows = []
    for d, vals in [
        (date(2024, 1, 1), [1.0, 5.0, -2.0]),
        (date(2024, 1, 2), [10.0]),
        (date(2024, 1, 3), [0.5, 0.5]),
    ]:
        rows += [("click", d, v) for v in vals]
        rows += [("view", d, v * 2) for v in vals]
    df = spark.createDataFrame(rows, "event_type string, day date, value double")

    # day-at-a-time state accumulation (what the nightly job does)
    state = None
    for d in [date(2024, 1, 1), date(2024, 1, 2), date(2024, 1, 3)]:
        delta = partial_agg_state(
            df.where(F.col("day") == d), ["event_type"], "day", "value"
        )
        state = delta if state is None else state.unionByName(delta)
    incr = {r["event_type"]: r for r in combine_agg_state(state, ["event_type"]).collect()}

    full = {
        r["event_type"]: r
        for r in combine_agg_state(
            partial_agg_state(df, ["event_type"], "day", "value"),
            ["event_type"],
        ).collect()
    }
    assert incr == full
    assert incr["click"]["n_events"] == 6
    assert incr["click"]["min_value"] == -2.0 + 1e-9 or abs(incr["click"]["min_value"] - -2.0) < 1e-6
    assert abs(incr["click"]["total_value"] - 15.0) < 1e-6
    assert abs(incr["click"]["avg_value"] - 2.5) < 1e-6


def test_table_fingerprint_order_insensitive_and_change_sensitive(spark):
    """The fingerprint is invariant to row order and partitioning,
    changes when any hashed cell changes, and distinguishes NULL
    position ((NULL,'a') vs ('a',NULL))."""
    from propensity_spark.operators.maintenance import table_fingerprint

    rows = [(1, "a"), (2, "b"), (3, None)]
    df = spark.createDataFrame(rows, "k long, s string")

    def fp(frame):
        r = table_fingerprint(frame, ["k", "s"], "t").collect()[0]
        return (r["n_rows"], r["hash_sum"], r["hash_xor"])

    base = fp(df)
    shuffled = fp(
        spark.createDataFrame(list(reversed(rows)), "k long, s string")
        .repartition(7)
    )
    assert base == shuffled

    changed = fp(spark.createDataFrame(
        [(1, "a"), (2, "B"), (3, None)], "k long, s string"
    ))
    assert changed != base

    a = fp(spark.createDataFrame([(None, "a")], "k string, s string"))
    b = fp(spark.createDataFrame([("a", None)], "k string, s string"))
    assert a != b


def test_column_histogram_bins_cover_and_count(spark):
    """Equi-width histogram: all bins present (empty ones at 0), counts
    sum to the non-null row count, the max value lands in the LAST bin
    (not an overflow bin), and degenerate min==max collapses safely."""
    from propensity_spark.operators.profiling import column_histogram

    df = spark.createDataFrame(
        [(float(v),) for v in [0, 1, 2, 5, 9, 9, 10]] + [(None,)],
        "x double",
    )
    out = {r["bin_id"]: r for r in column_histogram(df, "x", n_bins=5).collect()}
    assert sorted(out) == [0, 1, 2, 3, 4]  # full spine, width 2
    assert sum(r["cnt"] for r in out.values()) == 7  # NULL excluded
    assert out[4]["cnt"] == 3  # 9, 9, and the max value 10 clamped in
    assert out[0]["cnt"] == 2 and out[1]["cnt"] == 1  # [0,2): 0,1; [2,4): 2
    assert out[3]["cnt"] == 0  # empty bin reported, not dropped
    assert abs(out[0]["lo"] - 0.0) < 1e-6 and abs(out[4]["hi"] - 10.0) < 1e-6

    flat = column_histogram(
        spark.createDataFrame([(3.0,), (3.0,)], "x double"), "x", n_bins=4
    ).collect()
    assert sum(r["cnt"] for r in flat) == 2
    assert all(r["cnt"] == 0 for r in flat if r["bin_id"] > 0)


def test_event_transitions_counts_and_row_normalization(spark, tmp_path):
    """Markov transitions: consecutive pairs counted in (ts, event_id)
    order per user, rows never pair across users, and probabilities
    row-normalize to 1 within each from_type."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime

    from propensity_spark.operators.behavior import q_event_transitions

    def ev(eid, uid, minute, etype):
        return {"event_id": eid, "user_id": uid,
                "ts": datetime(2024, 1, 1, 0, minute), "event_type": etype}

    rows = [
        # user 1: view > click > purchase  (two pairs)
        ev(0, 1, 0, "view"), ev(1, 1, 1, "click"), ev(2, 1, 2, "purchase"),
        # user 2: view > click             (one pair; no cross-user pair)
        ev(3, 2, 0, "view"), ev(4, 2, 5, "click"),
        # user 3: view > view              (self-transition)
        ev(5, 3, 0, "view"), ev(6, 3, 1, "view"),
    ]
    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(pa.Table.from_pylist(rows), sf / "events.parquet")

    out = {(r["from_type"], r["to_type"]): r
           for r in q_event_transitions(spark, str(sf)).collect()}
    assert out[("view", "click")]["n"] == 2
    assert out[("click", "purchase")]["n"] == 1
    assert out[("view", "view")]["n"] == 1
    assert ("click", "view") not in out  # no backwards or cross-user pair
    assert abs(out[("view", "click")]["prob"] - 2 / 3) < 1e-5
    assert abs(out[("view", "view")]["prob"] - 1 / 3) < 1e-5
    assert abs(out[("click", "purchase")]["prob"] - 1.0) < 1e-5


def test_ewma_matches_python_reference_and_renormalizes_head(spark):
    """ewma == the truncated-kernel formula computed in plain Python:
    leading rows (fewer than EWMA_TERMS lags) renormalize over the
    weights present, so row 0's ewma equals its own value."""
    from propensity_spark.operators.timeseries import (
        EWMA_TERMS,
        EWMA_WEIGHTS,
        ewma,
    )

    series = [10.0, 20.0, 15.0, 40.0, 5.0, 30.0, 25.0, 35.0, 50.0, 45.0]
    df = spark.createDataFrame(
        [("k", i, v) for i, v in enumerate(series)],
        "key string, t int, revenue double",
    )
    out = {r["t"]: r["ewma"] for r in ewma(df, "key", "t", "revenue").collect()}

    for t in range(len(series)):
        num = den = 0.0
        for j, w in enumerate(EWMA_WEIGHTS):
            if t - j >= 0:
                num += w * series[t - j]
                den += w
        assert abs(out[t] - num / den) < 1e-3, (t, out[t], num / den)
    assert abs(out[0] - series[0]) < 1e-3  # head renormalization
    assert EWMA_TERMS == len(EWMA_WEIGHTS)
    # recency bias: after the 40.0 spike at t=3, ewma(3) > ewma(2)
    assert out[3] > out[2]


def test_cv_fold_audit_partitions_customers(spark, tmp_path):
    """Fold audit: every customer lands in exactly one fold, so
    distinct-customer counts sum to the global distinct total and
    order counts sum to the table size."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from propensity_spark.operators.stats import CV_FOLDS_K, q_cv_fold_audit

    rows = [
        {"o_orderkey": i, "o_custkey": i % 37, "o_totalprice": float(i)}
        for i in range(300)
    ]
    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(pa.Table.from_pylist(rows), sf / "orders.parquet")

    out = q_cv_fold_audit(spark, str(sf)).collect()
    assert 1 < len(out) <= CV_FOLDS_K
    assert sum(r["n_orders"] for r in out) == 300
    assert sum(r["n_customers"] for r in out) == 37  # disjoint partition


def test_corr_matrix_single_pass_and_known_values(spark):
    """corr_matrix: values match known correlations (perfectly
    correlated, anti-correlated, and independent-ish columns), the
    output enumerates each unordered pair once, and the whole matrix
    plans as ONE aggregation over the input (single-pass claim)."""
    from propensity_spark.operators.profiling import corr_matrix

    rows = [(float(i), 2.0 * i, -3.0 * i, float((i * 7) % 5)) for i in range(50)]
    df = spark.createDataFrame(rows, "a double, b double, c double, d double")
    out = {(r["col_a"], r["col_b"]): r for r in corr_matrix(df, ["a", "b", "c", "d"]).collect()}

    assert len(out) == 6  # 4 choose 2, each pair once
    assert abs(out[("a", "b")]["corr"] - 1.0) < 1e-5
    assert abs(out[("a", "c")]["corr"] + 1.0) < 1e-5
    assert abs(out[("b", "c")]["corr"] + 1.0) < 1e-5
    assert abs(out[("a", "d")]["corr"]) < 0.3  # decorrelated mod pattern
    assert all(r["n"] == 50 for r in out.values())

    # single aggregation: exactly one HashAggregate pair (partial+final)
    plan = corr_matrix(df, ["a", "b", "c", "d"])._jdf.queryExecution().executedPlan().toString()
    n_aggs = plan.count("HashAggregate") + plan.count("SortAggregate") + plan.count("ObjectHashAggregate")
    assert n_aggs <= 2, plan


def test_feature_scaling_formulas(spark, tmp_path):
    """feature_scaling: zscore standardizes (mean 0, known extremes),
    minmax hits [0,1] at the bounds, winsorized clips at p01/p99."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from propensity_spark.operators.stats import q_feature_scaling

    vals = [float(v) for v in range(1, 100)] + [1000.0]  # outlier at the top
    rows = [{"c_custkey": i, "c_acctbal": v} for i, v in enumerate(vals)]
    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(pa.Table.from_pylist(rows), sf / "customer.parquet")

    out = {r["c_custkey"]: r for r in q_feature_scaling(spark, str(sf)).collect()}
    assert len(out) == 100
    # min-max bounds
    assert abs(out[0]["minmax"] - 0.0) < 1e-6
    assert abs(out[99]["minmax"] - 1.0) < 1e-6
    # z-scores average to ~0
    assert abs(sum(r["zscore"] for r in out.values()) / 100) < 1e-6
    # the outlier is clipped to p99, the minimum to p01
    assert out[99]["winsorized"] < 1000.0
    assert out[0]["winsorized"] > 1.0
    # winsorized stays within [p01, p99] for every row
    ws = [r["winsorized"] for r in out.values()]
    assert max(ws) == out[99]["winsorized"] and min(ws) == out[0]["winsorized"]


def test_salted_join_row_identical_and_spreads_hot_key(spark):
    """salted_join == plain join row-for-row on a skewed input, and
    the hot key's rows actually land in multiple salt buckets (the
    point of the operator)."""
    from propensity_spark.operators.extended import salted_join

    # key 1 is hot: 500 of 520 fact rows
    fact = spark.createDataFrame(
        [(1, float(i)) for i in range(500)]
        + [(k, float(k)) for k in range(2, 22)],
        "k int, v double",
    )
    dim = spark.createDataFrame(
        [(k, f"d{k}") for k in range(1, 22)], "k int, name string"
    )

    out = salted_join(fact, dim, "k", n_salt=8)
    plain = fact.join(dim, "k")
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, plain.collect()))
    assert out.columns == plain.columns  # salt column dropped

    # the hot key's 500 rows occupy >1 salt bucket
    from pyspark.sql import functions as FF

    salted = fact.withColumn(
        "__salt", FF.pmod(FF.hash(*[FF.col(c) for c in fact.columns]), FF.lit(8))
    )
    n_buckets = (
        salted.where(FF.col("k") == 1).select("__salt").distinct().count()
    )
    assert n_buckets > 1, "hot key not spread across salt buckets"


def test_active_users_windows_hand_computed(spark, tmp_path):
    """DAU/WAU/MAU: a user active on day D counts toward WAU for the
    next 7 calendar days (clamped at the data's max day), distinct
    within each (window, day), multiple same-day events count once."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import date, datetime

    from propensity_spark.operators.behavior import q_active_users

    def ev(eid, uid, day, hour=0):
        return {"event_id": eid, "user_id": uid,
                "ts": datetime(2024, 1, day, hour), "event_type": "view"}

    rows = [
        ev(0, 1, 1), ev(1, 1, 1, 5),   # user 1 twice on day 1 -> counts once
        ev(2, 2, 1),                    # user 2 on day 1
        ev(3, 1, 5),                    # user 1 again on day 5
        ev(4, 3, 9),                    # user 3 on day 9 (last day)
    ]
    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(pa.Table.from_pylist(rows), sf / "events.parquet")

    out = {(r["win"], r["day"]): r["n_active"]
           for r in q_active_users(spark, str(sf)).collect()}

    # DAU: only days with activity, dedup within day
    assert out[("dau", date(2024, 1, 1))] == 2
    assert out[("dau", date(2024, 1, 5))] == 1
    assert out[("dau", date(2024, 1, 9))] == 1
    assert ("dau", date(2024, 1, 2)) not in out
    # WAU on day 5: users 1,2 active in [day -6, day] window projected
    # forward — day-1 activity covers days 1..7, day-5 covers 5..9(max)
    assert out[("wau", date(2024, 1, 5))] == 2
    assert out[("wau", date(2024, 1, 7))] == 2   # day-1 activity still in
    assert out[("wau", date(2024, 1, 8))] == 1   # day-1 aged out; user 1 via day 5
    assert out[("wau", date(2024, 1, 9))] == 2   # user 1 (day 5) + user 3
    # MAU covers everything up to the clamp
    assert out[("mau", date(2024, 1, 9))] == 3


def test_sorted_export_disjoint_file_ranges_and_roundtrip(spark, tmp_path):
    """sorted_export: files carry pairwise-DISJOINT sort-key ranges
    (parquet footer min/max — what lets a range predicate prune whole
    files), rows are sorted within each file, and the round-trip loses
    nothing."""
    import pyarrow.parquet as pq

    from propensity_spark.io import sorted_export

    df = spark.createDataFrame(
        [((i * 37) % 1000, f"v{i}") for i in range(1000)], "k int, v string"
    )
    out = str(tmp_path / "out")
    sorted_export(df, out, ["k"], n_files=4)

    ranges = []
    total = 0
    for f in sorted((tmp_path / "out").glob("part-*.parquet")):
        pf = pq.ParquetFile(f)
        total += pf.metadata.num_rows
        if pf.metadata.num_rows == 0:
            continue
        ks = pf.read(columns=["k"]).column("k").to_pylist()
        assert ks == sorted(ks), f"{f.name} not sorted within file"
        ranges.append((min(ks), max(ks)))
    assert total == 1000
    assert len(ranges) >= 3  # range partitioner actually split
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, f"overlapping file ranges {(lo1, hi1)} {(lo2, hi2)}"

    back = spark.read.parquet(out)
    assert back.count() == 1000
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_seasonality_dow_profile(spark, tmp_path):
    """Seasonality: a series where one weekday is systematically 2x
    gets a dow_mean 2x the others, and each day's deviation vs its own
    weekday mean is ~1.0 (the seasonal component fully explains it)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import date

    from propensity_spark.operators.timeseries import q_seasonality_dow

    rows = []
    oid = 0
    # 4 weeks: Mondays get 200, everything else 100 (one order per day)
    for d in range(1, 29):
        day = date(2024, 1, d)
        price = 200.0 if day.isoweekday() == 1 else 100.0
        rows.append({"o_orderkey": oid, "o_custkey": 1,
                     "o_orderdate": day, "o_totalprice": price})
        oid += 1
    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(pa.Table.from_pylist(rows), sf / "orders.parquet")

    out = q_seasonality_dow(spark, str(sf)).collect()
    assert len(out) == 28
    for r in out:
        if r["dow"] == 1:
            assert abs(r["dow_mean"] - 200.0) < 1e-6
        else:
            assert abs(r["dow_mean"] - 100.0) < 1e-6
        assert abs(r["deviation"] - 1.0) < 1e-4  # pure seasonality
        assert r["n_days"] == 4
    mon = next(r for r in out if r["dow"] == 1)
    # Monday's share: 200 / (200 + 6*100) = 0.25
    assert abs(mon["dow_share"] - 0.25) < 1e-5


def test_benford_audit_digits_and_chi2(spark, tmp_path):
    """Benford audit: first significant digits counted correctly
    (ignores leading sign/decimals), fractions sum to 1, and a
    constructed all-1s dataset concentrates mass on digit 1."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from propensity_spark.operators.stats import q_benford_audit

    vals = [1.23, 19.99, 150.0, 2.5, 29.01, 3.14, 0.5]  # 0.5 filtered (<1)
    rows = [{"o_orderkey": i, "o_custkey": 1, "o_orderdate": None,
             "o_totalprice": v} for i, v in enumerate(vals)]
    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(pa.Table.from_pylist(rows), sf / "orders.parquet")

    out = {r["digit"]: r for r in q_benford_audit(spark, str(sf)).collect()}
    assert out[1]["observed"] == 3  # 1.23, 19.99, 150.0
    assert out[2]["observed"] == 2  # 2.5, 29.01
    assert out[3]["observed"] == 1  # 3.14
    assert abs(sum(r["obs_frac"] for r in out.values()) - 1.0) < 1e-4
    assert abs(out[1]["benford_frac"] - 0.30103) < 1e-9
    assert all(r["chi2_contrib"] >= 0 for r in out.values())


def test_feature_scaling_constant_column_nulls(spark, tmp_path):
    """A constant column (sd = 0, hi = lo) yields NULL zscore/minmax
    rather than inf/error — same in the oracle via nullif."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from propensity_spark.operators.stats import q_feature_scaling

    rows = [{"c_custkey": i, "c_acctbal": 42.0} for i in range(5)]
    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(pa.Table.from_pylist(rows), sf / "customer.parquet")

    out = q_feature_scaling(spark, str(sf)).collect()
    assert len(out) == 5
    for r in out:
        assert r["zscore"] is None and r["minmax"] is None
        assert abs(r["winsorized"] - 42.0) < 1e-6  # clip still well-defined


def test_sessionize_gap_splits_and_session_metrics(spark, tmp_path):
    """30-min gap splits sessions; metrics roll up per session:
    bounds, duration, purchase revenue, bounce flag."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime, timedelta

    from propensity_spark.operators.behavior import q_sessionize

    t0 = datetime(2024, 1, 1, 12, 0, 0)

    def ev(eid, uid, offset_s, etype="view", value=None):
        return {"event_id": eid, "user_id": uid,
                "ts": t0 + timedelta(seconds=offset_s),
                "event_type": etype, "value": value}

    rows = [
        # user 1: session 1 = events at 0s, 600s (purchase), 1200s;
        # gap of 1801s after 1200s -> session 2 = single event (bounce)
        ev(0, 1, 0),
        ev(1, 1, 600, "purchase", 10.5),
        ev(2, 1, 1200),
        ev(3, 1, 1200 + 1801),
        # user 2: exactly-1800s gap does NOT split (strict >)
        ev(4, 2, 0),
        ev(5, 2, 1800),
    ]
    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(pa.Table.from_pylist(rows), sf / "events.parquet")

    out = {(r["user_id"], r["session_seq"]): r
           for r in q_sessionize(spark, str(sf)).collect()}
    assert len(out) == 3
    s11 = out[(1, 1)]
    assert s11["n_events"] == 3 and s11["duration_s"] == 1200
    assert s11["n_purchases"] == 1 and abs(s11["revenue"] - 10.5) < 1e-6
    assert s11["is_bounce"] == 0
    s12 = out[(1, 2)]
    assert s12["n_events"] == 1 and s12["is_bounce"] == 1
    assert s12["revenue"] == 0.0
    assert out[(2, 1)]["n_events"] == 2  # 1800s gap keeps one session


def test_multi_touch_attribution_credit_schedules(spark, tmp_path):
    """Clicks credit the NEXT purchase; linear = 1/n; position-based
    = 1.0 / 0.5+0.5 / 0.4,0.2/(n-2)...,0.4; trailing clicks after the
    last purchase are unattributed; credits sum to 1 per purchase."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime, timedelta

    from propensity_spark.operators.behavior import q_attribution_multi_touch

    t0 = datetime(2024, 1, 1)

    def ev(eid, uid, offset_s, etype):
        return {"event_id": eid, "user_id": uid,
                "ts": t0 + timedelta(seconds=offset_s),
                "event_type": etype, "value": None}

    rows = [
        # user 1: 3 clicks then purchase 100 -> 0.4 / 0.2 / 0.4
        ev(1, 1, 10, "click"), ev(2, 1, 20, "click"), ev(3, 1, 30, "click"),
        ev(100, 1, 40, "purchase"),
        # then 1 click then purchase 101 -> full credit
        ev(4, 1, 50, "click"), ev(101, 1, 60, "purchase"),
        # trailing click: no later purchase -> dropped
        ev(5, 1, 70, "click"),
        # user 2: 2 clicks -> 0.5 / 0.5; view events are ignored
        ev(6, 2, 10, "click"), ev(7, 2, 15, "view"), ev(8, 2, 20, "click"),
        ev(200, 2, 30, "purchase"),
    ]
    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(pa.Table.from_pylist(rows), sf / "events.parquet")

    out = {r["click_id"]: r
           for r in q_attribution_multi_touch(spark, str(sf)).collect()}
    assert set(out) == {1, 2, 3, 4, 6, 8}
    assert out[1]["purchase_id"] == 100 and out[4]["purchase_id"] == 101
    assert abs(out[1]["credit_position"] - 0.4) < 1e-6
    assert abs(out[2]["credit_position"] - 0.2) < 1e-6
    assert abs(out[3]["credit_position"] - 0.4) < 1e-6
    assert abs(out[1]["credit_linear"] - 1 / 3) < 1e-5
    assert out[4]["credit_position"] == 1.0 and out[4]["credit_linear"] == 1.0
    assert out[6]["credit_position"] == 0.5 and out[8]["credit_position"] == 0.5
    # credits sum to ~1 per purchase under both schedules
    for pid in (100, 101, 200):
        path = [r for r in out.values() if r["purchase_id"] == pid]
        assert abs(sum(r["credit_linear"] for r in path) - 1.0) < 1e-5
        assert abs(sum(r["credit_position"] for r in path) - 1.0) < 1e-5


def test_trend_fit_recovers_known_line(spark):
    """regr_slope/intercept/r2 on an exact line recover it with r2=1;
    a noisy series gives r2<1 and numpy-polyfit-matching slope."""
    import numpy as np

    from propensity_spark.operators.timeseries import trend_fit

    xs = list(range(20))
    exact = [("a", x, 3.5 * x + 7.0) for x in xs]
    rng = np.random.RandomState(0)
    noisy_y = [2.0 * x + 5.0 + float(rng.uniform(-3, 3)) for x in xs]
    noisy = [("b", x, y) for x, y in zip(xs, noisy_y)]
    df = spark.createDataFrame(
        exact + noisy, "key string, x int, y double"
    )
    out = {r["key"]: r for r in trend_fit(df, "key", "x", "y").collect()}
    assert abs(out["a"]["slope"] - 3.5) < 1e-6
    assert abs(out["a"]["intercept"] - 7.0) < 1e-4
    assert abs(out["a"]["r2"] - 1.0) < 1e-6
    np_slope, np_icept = np.polyfit(xs, noisy_y, 1)
    assert abs(out["b"]["slope"] - np_slope) < 1e-5
    assert abs(out["b"]["intercept"] - np_icept) < 1e-3
    assert out["b"]["r2"] < 1.0


def test_cusum_peaks_at_injected_level_shift(spark):
    """A series that steps up at t=50 has its |CUSUM| peak exactly at
    the last pre-shift point (t=49), and the peak is flagged."""
    from propensity_spark.operators.timeseries import cusum_series

    rows = [(t, 10.0 if t < 50 else 20.0) for t in range(100)]
    df = spark.createDataFrame(rows, "t int, v double")
    out = cusum_series(df, "t", "v").collect()
    peak = [r for r in out if r["is_peak"] == 1]
    assert len(peak) == 1 and peak[0]["t"] == 49
    # D_t returns to ~0 at the end (deviations sum to zero)
    last = max(out, key=lambda r: r["t"])
    assert abs(last["cusum"]) < 0.05


def test_mutual_information_independent_vs_dependent(spark):
    """MI ~ 0 for independent columns; ln(2) for a perfect copy of a
    uniform binary column; cell terms match the analytic formula."""
    import math

    from propensity_spark.operators.stats import mutual_information

    dep = [(i % 2, i % 2) for i in range(100)]
    ind = [(i % 2, (i // 2) % 2) for i in range(100)]
    for rows, want in ((dep, math.log(2)), (ind, 0.0)):
        df = spark.createDataFrame(rows, "x int, y int")
        cells = mutual_information(df, "x", "y").collect()
        total = sum(r["mi_contrib"] for r in cells)
        assert abs(total - want) < 1e-5, (total, want)


def test_km_survival_matches_textbook_example(spark):
    """Classic hand-computed life table: 10 subjects, deaths at t=2
    (2), t=4 (1, after 1 censored at t=3), censored tail. S follows
    the product-limit formula exactly; censored-only times don't
    change S."""
    from propensity_spark.operators.behavior import km_survival

    #        duration, event (1=death, 0=censored)
    spans = [(2, 1), (2, 1), (3, 0), (4, 1), (5, 0), (5, 0),
             (6, 1), (7, 0), (8, 0), (8, 0)]
    df = spark.createDataFrame(spans, "duration_d int, churned int")
    out = {r["t"]: r for r in km_survival(df, "duration_d", "churned").collect()}
    # t=2: n=10, d=2 -> S = 8/10
    assert out[2]["n_at_risk"] == 10 and out[2]["d_events"] == 2
    assert abs(out[2]["survival"] - 0.8) < 1e-6
    # t=3: censored only -> S unchanged
    assert out[3]["d_events"] == 0 and abs(out[3]["survival"] - 0.8) < 1e-6
    # t=4: n=7, d=1 -> S = 0.8 * 6/7
    assert out[4]["n_at_risk"] == 7
    assert abs(out[4]["survival"] - 0.8 * 6 / 7) < 1e-5
    # t=6: n=4, d=1 -> S = 0.8 * 6/7 * 3/4
    assert abs(out[6]["survival"] - 0.8 * (6 / 7) * 0.75) < 1e-5
    # t=8: censored tail, S flat
    assert abs(out[8]["survival"] - 0.8 * (6 / 7) * 0.75) < 1e-5


def test_km_survival_drops_to_zero_when_risk_set_dies(spark):
    """If everyone at risk dies at the last time, S hits exactly 0
    (no ln(0) NULL leak)."""
    from propensity_spark.operators.behavior import km_survival

    spans = [(1, 1), (2, 1), (2, 1)]
    df = spark.createDataFrame(spans, "duration_d int, churned int")
    out = {r["t"]: r["survival"]
           for r in km_survival(df, "duration_d", "churned").collect()}
    assert abs(out[1] - 2 / 3) < 1e-5
    assert out[2] == 0.0


def test_ab_test_zscore_formula_and_assignment_stability(spark, tmp_path):
    """Variant assignment is deterministic (same users -> same split
    across two reads); z matches the hand-computed pooled formula."""
    import math

    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime

    from propensity_spark.operators.stats import q_ab_test_ztest

    rows = []
    for uid in range(200):
        rows.append({"event_id": uid * 2, "user_id": uid,
                     "ts": datetime(2024, 1, 1), "event_type": "view",
                     "value": None})
        if uid % 3 == 0:  # every third user converts
            rows.append({"event_id": uid * 2 + 1, "user_id": uid,
                         "ts": datetime(2024, 1, 2),
                         "event_type": "purchase", "value": 1.0})
    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(pa.Table.from_pylist(rows), sf / "events.parquet")

    r1 = q_ab_test_ztest(spark, str(sf)).collect()[0]
    r2 = q_ab_test_ztest(spark, str(sf)).collect()[0]
    assert r1 == r2  # hash assignment is stable
    assert r1["n_a"] + r1["n_b"] == 200
    p = (r1["conv_a"] + r1["conv_b"]) / 200
    se = math.sqrt(p * (1 - p) * (1 / r1["n_a"] + 1 / r1["n_b"]))
    z = (r1["conv_a"] / r1["n_a"] - r1["conv_b"] / r1["n_b"]) / se
    assert abs(r1["z_score"] - z) < 1e-3
    # conversion is a user property independent of the hash: an A/A-
    # style split should not be significant
    assert r1["significant"] == 0


def test_hill_alpha_recovers_pareto_exponent(spark):
    """Counts drawn from a discrete Pareto with alpha=2.5 give a Hill
    estimate near 2.5; a uniform (light-tail) distribution estimates
    much higher."""
    import numpy as np

    from propensity_spark.operators.stats import hill_alpha

    rng = np.random.RandomState(7)
    # continuous Pareto x = xmin * U^(-1/(alpha-1)) has tail index alpha
    xs = (10 * rng.uniform(size=4000) ** (-1 / 1.5)).astype(int)
    rows = []
    key = 0
    for x in xs:
        rows.extend([(key,)] * int(x))
        key += 1
    df = spark.createDataFrame(rows, "k long")
    est = hill_alpha(df, "k", "pareto", xmin=10).collect()[0]
    assert est["n_tail"] > 3000
    assert 2.3 < est["alpha"] < 2.7, est["alpha"]


def test_cohort_ltv_cumulative_curve(spark, tmp_path):
    """LTV accumulates per cohort over weeks-since; non-purchase
    events contribute 0; per-user LTV divides by ORIGINAL cohort
    size."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime

    from propensity_spark.operators.behavior import q_cohort_ltv

    def ev(eid, uid, day, etype, value=None):
        return {"event_id": eid, "user_id": uid,
                "ts": datetime(2024, 1, day), "event_type": etype,
                "value": value}

    rows = [
        # cohort week 0: users 1, 2 (first activity day 1-7)
        ev(0, 1, 1, "purchase", 10.0),
        ev(1, 2, 2, "view"),
        ev(2, 1, 9, "purchase", 5.0),    # week 1 -> weeks_since 1
        ev(3, 2, 10, "purchase", 20.0),  # week 1
        # cohort week 1: user 3
        ev(4, 3, 9, "purchase", 7.0),
    ]
    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(pa.Table.from_pylist(rows), sf / "events.parquet")

    out = {(r["cohort_week"], r["weeks_since"]): r
           for r in q_cohort_ltv(spark, str(sf)).collect()}
    c0w0 = out[(0, 0)]
    assert abs(c0w0["week_revenue"] - 10.0) < 1e-6
    assert abs(c0w0["ltv_per_user"] - 5.0) < 1e-6   # 10.0 / 2 users
    c0w1 = out[(0, 1)]
    assert abs(c0w1["week_revenue"] - 25.0) < 1e-6
    assert abs(c0w1["cum_revenue"] - 35.0) < 1e-6
    assert abs(c0w1["ltv_per_user"] - 17.5) < 1e-6
    assert abs(out[(1, 0)]["ltv_per_user"] - 7.0) < 1e-6


def test_forecast_linear_extrapolates_trend(spark, sf_dir):
    """7 horizon rows per brand, monotone along a fitted slope, PI
    brackets the forecast and widens with horizon distance."""
    from propensity_spark.operators.timeseries import (
        FORECAST_H,
        q_forecast_linear,
    )

    rows = q_forecast_linear(spark, sf_dir).collect()
    by_brand = {}
    for r in rows:
        by_brand.setdefault(r["brand"], []).append(r)
    for brand, rs in by_brand.items():
        assert len(rs) == FORECAST_H
        rs.sort(key=lambda r: r["day_num"])
        for r in rs:
            assert r["pi_low"] < r["forecast"] < r["pi_high"]
        # PI half-width grows with distance from the sample mean
        w0 = rs[0]["pi_high"] - rs[0]["pi_low"]
        w6 = rs[-1]["pi_high"] - rs[-1]["pi_low"]
        assert w6 >= w0


def test_ks_statistic_known_answers(spark):
    """Identical samples give D=0; disjoint samples give D=1; a
    half-shifted sample matches the scipy-style hand computation."""
    from propensity_spark.operators.stats import ks_statistic

    a = spark.createDataFrame([(float(i),) for i in range(100)], "v double")
    same = ks_statistic(a, a, "v").collect()[0]
    assert same["ks_d"] == 0.0 and same["n_a"] == 100

    b = spark.createDataFrame(
        [(float(i + 1000),) for i in range(50)], "v double"
    )
    disjoint = ks_statistic(a, b, "v").collect()[0]
    assert disjoint["ks_d"] == 1.0

    # b = a shifted by 50: ECDFs diverge maximally at the overlap edge
    c = spark.createDataFrame(
        [(float(i + 50),) for i in range(100)], "v double"
    )
    d = ks_statistic(a, c, "v").collect()[0]
    assert abs(d["ks_d"] - 0.5) < 1e-6


def test_cuped_theta_on_correlated_metric(spark, tmp_path):
    """With post = 2*pre + noise, theta ~ 2 and variance_reduction is
    high; with independent pre/post the reduction is near zero."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime

    from propensity_spark.operators.stats import q_cuped_adjustment

    rng = np.random.RandomState(3)
    rows = []
    eid = 0
    for uid in range(300):
        pre = float(rng.uniform(10, 100))
        post = 2 * pre + float(rng.uniform(-5, 5))
        rows.append({"event_id": eid, "user_id": uid,
                     "ts": datetime(2024, 1, 5), "event_type": "purchase",
                     "value": round(pre, 2)}); eid += 1
        rows.append({"event_id": eid, "user_id": uid,
                     "ts": datetime(2024, 1, 25), "event_type": "purchase",
                     "value": round(post, 2)}); eid += 1
    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(pa.Table.from_pylist(rows), sf / "events.parquet")
    out = q_cuped_adjustment(spark, str(sf)).collect()[0]
    assert abs(out["theta"] - 2.0) < 0.05, out["theta"]
    assert out["variance_reduction"] > 0.95
    assert out["n_users"] == 300


def test_mann_whitney_matches_scipy_formula(spark, tmp_path):
    """U and the tie-corrected z match a plain-Python rank-sum
    computation on the same per-user metrics."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime

    from propensity_spark.operators.stats import q_mann_whitney

    rows = []
    for uid in range(120):
        # heavy-tailed-ish metric with ties
        val = float((uid * 7) % 13) * (3.0 if uid % 9 == 0 else 1.0)
        rows.append({"event_id": uid, "user_id": uid,
                     "ts": datetime(2024, 1, 2), "event_type": "purchase",
                     "value": val})
    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(pa.Table.from_pylist(rows), sf / "events.parquet")

    out = q_mann_whitney(spark, str(sf)).collect()[0]

    # reference computation with the same md5 bucketing
    metrics = {}
    for r in rows:
        metrics[r["user_id"]] = round(r["value"] + 1e-6, 2)
    got = spark.sql(
        "SELECT id, cast(conv(substr(md5(cast(cast(id as string) as binary)),"
        " 1, 8), 16, 10) as bigint) % 2 AS b FROM range(120)"
    ).collect()
    variant = {r["id"]: ("a" if r["b"] == 0 else "b") for r in got}
    vals = sorted((metrics[u], variant[u]) for u in metrics)
    # average ranks with ties
    ranks, i = {}, 0
    while i < len(vals):
        j = i
        while j < len(vals) and vals[j][0] == vals[i][0]:
            j += 1
        avg = (i + 1 + j) / 2.0
        for k in range(i, j):
            ranks[k] = avg
        i = j
    r_a = sum(ranks[k] for k, (v, s) in enumerate(vals) if s == "a")
    n_a = sum(1 for _, s in vals if s == "a")
    n_b = len(vals) - n_a
    u_ref = r_a - n_a * (n_a + 1) / 2
    assert out["n_a"] == n_a and out["n_b"] == n_b
    assert abs(out["u_stat"] - u_ref) < 1e-6
    # tie-corrected z
    from collections import Counter
    n = n_a + n_b
    tie = sum(t * (t * t - 1) for t in Counter(v for v, _ in vals).values())
    var = n_a * n_b / 12 * ((n + 1) - tie / (n * (n - 1)))
    z_ref = (u_ref - n_a * n_b / 2) / var ** 0.5
    assert abs(out["z_score"] - z_ref) < 1e-3


def test_sessionize_parity_with_native_session_window(spark, tmp_path):
    """Batch sessionize (lag + running sum) and Spark's native
    session_window agree on session boundaries for non-boundary gaps:
    same number of sessions per user, same event counts per session."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime, timedelta

    from propensity_spark.operators.behavior import q_sessionize

    t0 = datetime(2024, 1, 1, 8, 0, 0)
    rows, eid = [], 0
    # user 1: bursts separated by 45 min; user 2: one long session of
    # 10-min steps; user 3: single event
    for burst in range(3):
        base = t0 + timedelta(minutes=45 * burst + (5 * burst))
        for k in range(4):
            rows.append({"event_id": eid, "user_id": 1,
                         "ts": base + timedelta(minutes=2 * k),
                         "event_type": "view", "value": None}); eid += 1
    for k in range(6):
        rows.append({"event_id": eid, "user_id": 2,
                     "ts": t0 + timedelta(minutes=10 * k),
                     "event_type": "view", "value": None}); eid += 1
    rows.append({"event_id": eid, "user_id": 3, "ts": t0,
                 "event_type": "view", "value": None})
    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(pa.Table.from_pylist(rows), sf / "events.parquet")

    mine = {(r["user_id"], r["session_seq"]): r["n_events"]
            for r in q_sessionize(spark, str(sf)).collect()}
    native = (
        spark.read.parquet(str(sf / "events.parquet"))
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .collect()
    )
    from collections import Counter
    mine_per_user = Counter(u for (u, _) in mine)
    native_per_user = Counter(r["user_id"] for r in native)
    assert mine_per_user == native_per_user == Counter({1: 3, 2: 1, 3: 1})
    assert sorted(mine.values()) == sorted(r["n_events"] for r in native)


def test_hierarchy_rollup_hand_computed_tree(spark, tmp_path):
    """10-ary closure on a tiny key set: node 1's subtree contains
    10..19 (their parent floor(k/10)=1) plus itself; subtree revenue
    sums descendants' orders; leaves roll up only themselves."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from propensity_spark.operators.graph import q_hierarchy_rollup

    customers = [{"c_custkey": k, "c_mktsegment": "X"}
                 for k in [1, 2, 10, 11, 19, 25, 110]]
    orders = [{"o_orderkey": i, "o_custkey": k, "o_totalprice": float(p)}
              for i, (k, p) in enumerate([(1, 5.0), (10, 7.0), (11, 3.0),
                                          (110, 2.0), (25, 11.0)])]
    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(pa.Table.from_pylist(customers), sf / "customer.parquet")
    pq.write_table(pa.Table.from_pylist(orders), sf / "orders.parquet")

    out = {r["custkey"]: r for r in q_hierarchy_rollup(spark, str(sf)).collect()}
    # node 1: itself + 10, 11, 19 + 110 (child of 11)
    assert out[1]["subtree_size"] == 5
    assert abs(out[1]["subtree_revenue"] - (5.0 + 7.0 + 3.0 + 2.0)) < 1e-6
    # node 11: itself + 110
    assert out[11]["subtree_size"] == 2
    assert abs(out[11]["subtree_revenue"] - 5.0) < 1e-6
    # node 2: subtree of one, with 25 NOT a child (floor(25/10)=2 — it IS)
    assert out[2]["subtree_size"] == 2  # 2 and 25
    assert abs(out[2]["subtree_revenue"] - 11.0) < 1e-6
    # leaf 19: only itself, no orders
    assert out[19]["subtree_size"] == 1 and out[19]["subtree_revenue"] == 0.0


def test_variant_drift_profile_and_missing_keys(spark, tmp_path):
    """VARIANT ingestion absorbs schema drift: producers adding keys
    or sending malformed-but-parsable values don't break extraction
    — missing paths are NULL, schema_of_variant_agg reports the
    merged shape for drift monitoring."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime

    from propensity_spark.operators.extended import q_variant_extract

    rows = [
        {"event_id": 0, "user_id": 1, "ts": datetime(2024, 1, 1),
         "event_type": "view", "value": None, "props": '{"k": 3}'},
        # drifted producer: extra key, k still present
        {"event_id": 1, "user_id": 1, "ts": datetime(2024, 1, 1),
         "event_type": "view", "value": None,
         "props": '{"k": 5, "new_field": "x"}'},
        # k missing entirely -> NULL, row still counted
        {"event_id": 2, "user_id": 2, "ts": datetime(2024, 1, 1),
         "event_type": "click", "value": None, "props": '{"other": 1}'},
    ]
    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(pa.Table.from_pylist(rows), sf / "events.parquet")

    out = {r["event_type"]: r for r in q_variant_extract(spark, str(sf)).collect()}
    assert out["view"]["n"] == 2 and out["view"]["n_with_k"] == 2
    assert out["view"]["sum_k"] == 8
    assert out["click"]["n"] == 1 and out["click"]["n_with_k"] == 0
    assert out["click"]["sum_k"] is None

    sch = (
        spark.read.parquet(str(sf / "events.parquet"))
        .selectExpr("schema_of_variant_agg(parse_json(props)) AS s")
        .collect()[0]["s"]
    )
    assert "k: BIGINT" in sch and "new_field" in sch, sch


def test_xml_roundtrip_preserves_rows_and_types(spark, sf_dir, tmp_path):
    """Spark 4 native XML source: orders sample exports to XML and
    reads back row-identical under an explicit schema (S1 family,
    beside the CSV/JSON/ORC round-trips)."""
    from pyspark.sql import types as T

    from propensity_spark.io import load_table, read_xml, write_xml

    src = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    ).limit(500)
    dest = str(tmp_path / "orders_xml")
    write_xml(src, dest, row_tag="order")

    schema = T.StructType([
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_custkey", T.LongType()),
        T.StructField("o_orderstatus", T.StringType()),
        T.StructField("o_totalprice", T.DoubleType()),
    ])
    back = read_xml(spark, dest, row_tag="order", schema=schema)
    assert back.count() == src.count()
    assert back.exceptAll(src.select(schema.fieldNames())).count() == 0
    assert src.select(schema.fieldNames()).exceptAll(back).count() == 0


def test_target_encode_loo_semantics(spark, tmp_path):
    """LOO encoding: a row's own label is excluded; smoothing pulls
    rare categories toward the prior; hand-computed on a tiny frame."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime

    from propensity_spark.operators.stats import TE_SMOOTHING, q_target_encode

    # cat A: 3 pos, 1 neg; cat B: 1 pos, 5 neg
    rows = []
    for i, (cat, status) in enumerate(
        [("A", "F")] * 3 + [("A", "O")] + [("B", "F")] + [("B", "O")] * 5
    ):
        rows.append({"o_orderkey": i, "o_custkey": 1,
                     "o_orderstatus": status, "o_totalprice": 1.0,
                     "o_orderdate": datetime(2024, 1, 1),
                     "o_orderpriority": cat})
    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(pa.Table.from_pylist(rows), sf / "orders.parquet")

    out = {(r["cat"], r["y"]): r for r in q_target_encode(spark, str(sf)).collect()}
    prior = 4 / 10
    m = TE_SMOOTHING
    # cat A, y=1 rows: (3 - 1 + m*prior) / (4 - 1 + m)
    assert abs(out[("A", 1)]["encoded"] - (2 + m * prior) / (3 + m)) < 1e-6
    # cat A, y=0 rows: (3 - 0 + m*prior) / (4 - 1 + m)
    assert abs(out[("A", 0)]["encoded"] - (3 + m * prior) / (3 + m)) < 1e-6
    # own-label exclusion: the two values differ by exactly 1/(n-1+m)
    gap = out[("A", 0)]["encoded"] - out[("A", 1)]["encoded"]
    assert abs(gap - 1 / (3 + m)) < 1e-6


def test_woe_iv_matches_hand_computation(spark, tmp_path):
    """WoE and IV contributions match the textbook formulas; a
    category with equal class shares gets WoE ~ 0."""
    import math

    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime

    from propensity_spark.operators.stats import q_woe_iv

    rows = []
    spec = {"HI": (8, 2), "LO": (2, 8), "EQ": (5, 5)}
    i = 0
    for cat, (pos, neg) in spec.items():
        for _ in range(pos):
            rows.append({"o_orderkey": i, "o_custkey": 1,
                         "o_orderstatus": "F", "o_totalprice": 1.0,
                         "o_orderdate": datetime(2024, 1, 1),
                         "o_orderpriority": cat}); i += 1
        for _ in range(neg):
            rows.append({"o_orderkey": i, "o_custkey": 1,
                         "o_orderstatus": "O", "o_totalprice": 1.0,
                         "o_orderdate": datetime(2024, 1, 1),
                         "o_orderpriority": cat}); i += 1
    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(pa.Table.from_pylist(rows), sf / "orders.parquet")

    out = {r["cat"]: r for r in q_woe_iv(spark, str(sf)).collect()}
    tot_pos, tot_neg = 15, 15
    for cat, (pos, neg) in spec.items():
        woe = math.log((pos / tot_pos) / (neg / tot_neg))
        assert abs(out[cat]["woe"] - woe) < 1e-5, cat
        iv = (pos / tot_pos - neg / tot_neg) * woe
        assert abs(out[cat]["iv_contrib"] - iv) < 1e-5
    assert abs(out["EQ"]["woe"]) < 1e-9
    assert out["HI"]["iv_contrib"] > 0 and out["LO"]["iv_contrib"] > 0


def test_psm_match_picks_nearest_control(spark, tmp_path):
    """Hand-built arms: each treated user matches the control with
    minimal |score gap| (ties prefer the preceding in (score, id)
    order); matching is with replacement; att_contrib = outcome gap."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime

    from propensity_spark.operators.stats import q_psm_match

    # find which small user_ids hash to treated (A) vs control (B)
    got = spark.sql(
        "SELECT id, cast(conv(substr(md5(cast(cast(id as string) as binary)),"
        " 1, 8), 16, 10) as bigint) % 2 AS b FROM range(40)"
    ).collect()
    treated_ids = [r["id"] for r in got if r["b"] == 0]
    control_ids = [r["id"] for r in got if r["b"] == 1]
    assert len(treated_ids) >= 2 and len(control_ids) >= 2

    # engineer scores: user makes `p` purchases out of 10 events
    def user_events(uid, n_purch, value):
        evs = []
        for k in range(10):
            et = "purchase" if k < n_purch else "view"
            evs.append({"event_id": uid * 100 + k, "user_id": uid,
                        "ts": datetime(2024, 1, 1 + k), "event_type": et,
                        "value": value if et == "purchase" else None})
        return evs

    t1, t2 = treated_ids[0], treated_ids[1]
    c1, c2 = control_ids[0], control_ids[1]
    rows = (
        user_events(t1, 2, 10.0)   # treated score .2
        + user_events(t2, 8, 30.0)  # treated score .8
        + user_events(c1, 3, 4.0)   # control score .3
        + user_events(c2, 7, 5.0)   # control score .7
    )
    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(pa.Table.from_pylist(rows), sf / "events.parquet")

    out = {r["user_id"]: r for r in q_psm_match(spark, str(sf)).collect()}
    assert set(out) == {t1, t2}
    assert out[t1]["control_id"] == c1  # .2 -> nearest is .3
    assert out[t2]["control_id"] == c2  # .8 -> nearest is .7
    assert abs(out[t1]["score_gap"] - 0.1) < 1e-6
    # outcome gap: treated t1 spent 2*10, control c1 spent 3*4
    assert abs(out[t1]["att_contrib"] - (20.0 - 12.0)) < 1e-6


def test_diff_in_diff_nets_out_shared_trend(spark, tmp_path):
    """Constructed arms share a +d time trend; treatment adds e on top
    for the treated arm only. DiD recovers e exactly and ignores d."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime

    from propensity_spark.operators.stats import q_diff_in_diff

    got = spark.sql(
        "SELECT id, cast(conv(substr(md5(cast(cast(id as string) as binary)),"
        " 1, 8), 16, 10) as bigint) % 2 AS b FROM range(60)"
    ).collect()
    treated = [r["id"] for r in got if r["b"] == 0][:10]
    control = [r["id"] for r in got if r["b"] == 1][:10]
    d, e = 5.0, 3.0
    rows, eid = [], 0

    def purchase(uid, day, value):
        nonlocal eid
        rows.append({"event_id": eid, "user_id": uid,
                     "ts": datetime(2024, 1, day), "event_type": "purchase",
                     "value": value})
        eid += 1

    for uid in treated:
        purchase(uid, 5, 10.0)            # pre
        purchase(uid, 25, 10.0 + d + e)   # post: trend + effect
    for uid in control:
        purchase(uid, 5, 20.0)            # different baseline is fine
        purchase(uid, 25, 20.0 + d)       # post: trend only
    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(pa.Table.from_pylist(rows), sf / "events.parquet")

    out = q_diff_in_diff(spark, str(sf)).collect()
    assert len(out) == 4
    assert all(abs(r["did_estimate"] - e) < 1e-6 for r in out)
    cells = {(r["arm"], r["period"]): r["mean_y"] for r in out}
    assert abs(cells[("treated", "pre")] - 10.0) < 1e-6
    assert abs(cells[("control", "post")] - 25.0) < 1e-6


def test_kcore_peel_depths_and_fixpoint(spark):
    """Onion peel on a hand-built graph: a 4-clique (3-core) with a
    pendant path hanging off it. At k=3 the path peels outside-in —
    depth 1 for the leaf-ward nodes, clique survives with core degree
    3 — and an extra peel round past the fixpoint changes nothing."""
    from propensity_spark.operators.graph import KCORE_ITERS, kcore_peel

    clique = [(a, b) for a in range(4) for b in range(4) if a != b]
    #  4-5-6 path: 4 hangs off clique node 0
    path = [(0, 4), (4, 0), (4, 5), (5, 4), (5, 6), (6, 5)]
    edges = spark.createDataFrame(clique + path, ["src", "dst"])
    out = {r.node: (r.peeled_round, r.core_deg) for r in kcore_peel(edges, k=3).collect()}
    # path nodes all have degree < 3 from the start -> peeled round 1
    assert out[6] == (1, None) and out[5] == (1, None) and out[4] == (1, None)
    for n in range(4):
        assert out[n] == (None, 3)
    # fixpoint: one extra round leaves every annotation unchanged
    more = {
        r.node: (r.peeled_round, r.core_deg)
        for r in kcore_peel(edges, k=3, iters=KCORE_ITERS + 1).collect()
    }
    assert more == out


def test_kcore_peel_is_monotone_chain(spark):
    """A 6-node path at k=2 peels strictly outside-in: endpoints at
    round 1, next pair at round 2, inner pair at round 3 — the depth
    really is a cohesion ordering, not just membership."""
    from propensity_spark.operators.graph import kcore_peel

    und = [(i, i + 1) for i in range(5)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], ["src", "dst"]
    )
    out = {r.node: r.peeled_round for r in kcore_peel(edges, k=2).collect()}
    assert out == {0: 1, 5: 1, 1: 2, 4: 2, 2: 3, 3: 3}


def test_acf_matches_brute_force_and_flags_periodicity(spark):
    """ACF against a literal-Python brute force on a gappy series, and
    a period-2 alternating series shows acf(1) < 0 < acf(2)."""
    from propensity_spark.operators.timeseries import acf

    rows = [("a", t, float(v)) for t, v in
            [(0, 5), (1, 9), (2, 4), (4, 8), (5, 3), (6, 10), (7, 2)]]
    rows += [("b", t, 10.0 if t % 2 == 0 else 0.0) for t in range(12)]
    df = spark.createDataFrame(rows, ["k", "t", "x"])
    got = {(r.k, r.lag): (r.n_pairs, r.acf) for r in acf(df, "k", "t", "x").collect()}

    by_key = {}
    for k, t, x in rows:
        by_key.setdefault(k, {})[t] = x
    for k, series in by_key.items():
        mu = round(sum(series.values()) / len(series) + 1e-9, 4)
        dev = {t: x - mu for t, x in series.items()}
        ss = sum(d * d for d in dev.values())
        for lag in range(1, 8):
            pairs = [(dev[t], dev[t + lag]) for t in dev if t + lag in dev]
            if not pairs:
                assert (k, lag) not in got
                continue
            want = round(sum(a * b for a, b in pairs) / ss + 1e-9, 6)
            n, r = got[(k, lag)]
            assert n == len(pairs)
            assert abs(r - want) < 1e-9
    assert got[("b", 1)][1] < -0.8 and got[("b", 2)][1] > 0.7


def test_quantile_normalize_grain_form_equals_row_windows(spark):
    """The grain-weighted ECDF table must agree with row-level
    percent_rank / cume_dist applied to the expanded rows (ties
    included)."""
    from propensity_spark.operators.stats import quantile_normalize

    rows = [("a", v) for v in [1.0, 1.0, 2.0, 5.0, 5.0, 5.0, 9.0]]
    rows += [("b", v) for v in [3.0, 3.0, 3.0]]
    df = spark.createDataFrame(rows, ["k", "value"])
    row_level = {
        (r.k, r.value): (r.pct_rank, r.ecdf)
        for r in quantile_normalize(df, "k", "value").collect()
    }
    from pyspark.sql import functions as F
    grains = df.groupBy("k", F.round("value", 4).alias("value")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    from pyspark.sql import Window
    w = Window.partitionBy("k").orderBy("value")
    tot = Window.partitionBy("k")
    run = F.sum("n_rows").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    total = F.sum("n_rows").over(tot)
    grain_level = {
        (r.k, r.value): (r.pct_rank, r.ecdf)
        for r in grains.select(
            "k", "value",
            F.round((run - F.col("n_rows")) / (total - 1) + 1e-9, 6).alias("pct_rank"),
            F.round(run / total + 1e-9, 6).alias("ecdf"),
        ).collect()
    }
    assert grain_level == row_level


def test_item_cf_matches_brute_force_cosine(spark):
    """Top-k CF neighbours equal a literal-Python cosine over the
    user-item count matrix, including rank tie-breaks."""
    import math

    from propensity_spark.operators.behavior import item_cf

    rows = [
        (1, "a", 3), (1, "b", 1), (2, "a", 2), (2, "b", 2), (2, "c", 1),
        (3, "b", 4), (3, "c", 2), (4, "a", 1), (4, "c", 5), (5, "d", 2),
    ]
    df = spark.createDataFrame(rows, ["user", "item", "cnt"])
    got = {(r.item, r.rec_rank): (r.rec, r.dot, r.cosine)
           for r in item_cf(df, top_k=2).collect()}

    vecs = {}
    for u, i, c in rows:
        vecs.setdefault(i, {})[u] = c
    want = {}
    for i in vecs:
        scored = []
        for j in vecs:
            if i == j:
                continue
            dot = sum(vecs[i][u] * vecs[j].get(u, 0) for u in vecs[i])
            if dot == 0:
                continue
            na = math.sqrt(sum(v * v for v in vecs[i].values()))
            nb = math.sqrt(sum(v * v for v in vecs[j].values()))
            scored.append((round(dot / (na * nb) + 1e-9, 6), j, dot))
        scored.sort(key=lambda t: (-t[0], t[1]))
        for rank, (cos, j, dot) in enumerate(scored[:2], 1):
            want[(i, rank)] = (j, dot, cos)
    assert got == want


def test_open_orders_matches_naive_interval_join(spark, sf_dir):
    """The sweep-line open count equals the naive 'count intervals
    covering each day' join on the smoke fixture."""
    from pyspark.sql import functions as F

    from propensity_spark.io import load_table
    from propensity_spark.operators.timeseries import q_open_orders_daily

    got = {r.day: r.open_orders for r in q_open_orders_daily(spark, sf_dir).collect()}
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    spans = (
        li.groupBy("l_orderkey").agg(F.max(F.to_date("l_shipdate")).alias("c0"))
        .join(orders.select("o_orderkey", F.to_date("o_orderdate").alias("o0")),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .select(F.least("o0", "c0").alias("o"), F.greatest("o0", "c0").alias("c"))
    )
    days = spark.createDataFrame([(d,) for d in got], ["day"])
    naive = {
        r.day: r.n
        for r in days.join(
            spans, (F.col("o") <= F.col("day")) & (F.col("c") >= F.col("day"))
        ).groupBy("day").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    for d, n in got.items():
        assert naive.get(d, 0) == n


def test_negative_sample_stable_and_leak_free(spark):
    """Negatives never collide with positives, per-user counts are
    bounded by k, and re-running (or appending an unrelated user)
    never changes an existing user's draws."""
    from propensity_spark.ml.training import negative_sample

    pos_rows = [(1, "a"), (1, "b"), (2, "c"), (3, "a")]
    cat_rows = [(x,) for x in "abcdefgh"]
    pos = spark.createDataFrame(pos_rows, ["user", "item"])
    cat = spark.createDataFrame(cat_rows, ["item"])
    out = negative_sample(pos, cat, k=3).collect()
    pset = set(pos_rows)
    negs = {(r.user, r.item) for r in out if r.label == 0}
    assert not (negs & pset)
    from collections import Counter
    per_user = Counter(u for u, _ in negs)
    assert all(v <= 3 for v in per_user.values())
    # append-stability: adding user 9 leaves users 1-3 draws unchanged
    pos2 = spark.createDataFrame(pos_rows + [(9, "d")], ["user", "item"])
    out2 = {(r.user, r.item, r.label) for r in negative_sample(pos2, cat, k=3).collect()
            if r.user != 9}
    assert out2 == {(r.user, r.item, r.label) for r in out}


def test_negative_sample_degenerate_inputs_raise(spark):
    """r07 review: k <= 0 must not silently emit sequence(0,-1)'s two
    draw slots, and an empty catalog must not turn `% 0` into all-NULL
    idx (positives-only output in Spark, an error in the oracle) —
    both fail loudly instead."""
    import pytest as _pytest

    from propensity_spark.ml.training import negative_sample

    pos = spark.createDataFrame([(1, "a")], ["user", "item"])
    cat = spark.createDataFrame([("a",)], ["item"])
    with _pytest.raises(ValueError, match="k must be >= 1"):
        negative_sample(pos, cat, k=0)
    empty_cat = cat.where("item IS NULL")
    with _pytest.raises(ValueError, match="empty item catalog"):
        negative_sample(pos, empty_cat, k=3)


def test_shapley_attribution_efficiency_and_known_case(spark, tmp_path):
    """Shapley credits must satisfy efficiency: sum over channels =
    v(full) - v(empty); and a channel whose presence never changes
    conversion gets zero credit."""
    from pyspark.sql import functions as F

    from propensity_spark.operators.behavior import q_shapley_attribution

    rows = []
    eid = 0
    # conversions happen ONLY in click-only exposures, so 'error'
    # unlocks nothing and must earn exactly zero (a click+error
    # converter would be genuinely ambiguous and split credit)
    for u in range(40):
        types = []
        if u % 2 == 0 and u % 3 == 0:
            types = ["click", "error"]          # exposed to both, no sale
        elif u % 2 == 0:
            types = ["click", "purchase"]        # click alone converts
        elif u % 3 == 0:
            types = ["error"]                    # error alone, no sale
        for t in types:
            rows.append((eid, "2024-01-01 00:00:00", u, t, 1.0, "{}"))
            eid += 1
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    sf = tmp_path / "sf"
    sf.mkdir()
    df.write.parquet(str(sf / "events.parquet"))
    out = {r.channel: r for r in q_shapley_attribution(spark, str(sf)).collect()}
    total = sum(r.shapley_credit for r in out.values())
    any_row = next(iter(out.values()))
    assert abs(total - (any_row.v_full - any_row.v_empty)) < 1e-4
    assert abs(out["error"].shapley_credit) < 1e-6
    assert out["click"].shapley_credit > 0.3


def test_money_overflow_guard_fires(spark):
    """r08 ADVICE: the BIGINT micro-dollar accumulator bound must be
    ENFORCED, not just documented. A group whose max(|row micro|) x
    row-count crosses 2^62 must raise, not silently wrap."""
    from pyspark.sql import functions as F

    from propensity_spark.operators.features import _spark_features

    base = {
        "household_key": 1,
        "basket_id": 1,
        "product_id": 1,
        "instore_discount": 0.0,
        "campaign_coupon_discount": 0.0,
        "manuf_coupon_discount": 0.0,
        "manuf_coupon_match_discount": 0.0,
        "total_coupon_discount": 0.0,
    }
    # ~9.2e12 dollars/row -> 9.2e18 micro ~= 2^63: one row puts
    # max_abs * n_rows past the 2^62 guard line.
    hot = [
        dict(base, day="2024-01-0%d" % (i + 1), amount_list=9.2e12,
             amount_paid=9.2e12)
        for i in range(3)
    ]
    df = spark.createDataFrame(hot).withColumn("day", F.col("day").cast("date"))
    with pytest.raises(Exception, match="DECIMAL"):
        _spark_features(df, ["household_key"]).collect()
    # and a sane frame still aggregates (guard quiet)
    ok = spark.createDataFrame(
        [dict(base, day="2024-01-01", amount_list=12.34, amount_paid=10.0)]
    ).withColumn("day", F.col("day").cast("date"))
    rows = _spark_features(ok, ["household_key"]).collect()
    assert len(rows) == 1 and abs(rows[0]["amount_list_1yr"] - 12.34) < 1e-9
