"""The feature engine (04a_Task__Feature_Engineering.py:116-561).

The reference runs `get_features` 12 times — 4 time windows x 3
grouping grains — and each call re-scans transactions, re-collects
min/max(day) to the driver, runs a filter->groupBy->agg pass, a second
days-since agg, and left-joins everything back to a distinct anchor
(SURVEY.md §3 entry point 1, §4 anti-pattern row). Semantics are
preserved here but re-architected Spark-first:

* ONE aggregation pass per grain computes all four windows as
  conditional aggregates: ``sum(CASE WHEN day >= max_day - (w-1) THEN x
  END)``. 1 shuffle instead of 8 per grain; the anchor left-join
  disappears because the unfiltered pass already emits every key the
  anchor would contribute (04a:549-553 + fillna 04a:595 == COALESCE on
  the conditional aggregates).
* Window bounds come from a broadcast 1-row min/max agg joined into the
  plan instead of a driver `collect()` (04a:138-146, C4) — keeps the
  whole thing lazy and cluster-side.
* Every feature is cast DOUBLE and null-filled 0.0, matching
  04a:556-558 and 04a:595 exactly; column names carry the window
  suffix (`<metric>_<30d|60d|90d|1yr>`, 04a:559). Days-since metrics
  (04a:528-546) are window-invariant (the reference recomputes the same
  value once per window) and are emitted once, unsuffixed.

Scale: naively the per-window `count(DISTINCT CASE ...)` grid (56
distinct-aggregate groups) plans as a Catalyst Expand that multiplies
EVERY input row ~57x before the first shuffle (SURVEY.md §7 hazard) —
measured 22s/grain at sf0.01 and unbounded at 100 TB. The engine
instead decomposes each distinct family exactly: pre-aggregate at the
(keys, entity) grain — entity in {day, basket_id, product_id} — into
per-window/per-kind existence flags (`max(CASE WHEN inw AND kind>0
THEN 1 END)`), then `sum(flag)` at the keys grain. `count(DISTINCT x)`
== number of distinct-entity rows whose flag fired, so values are
bit-identical to the DuckDB oracle's DISTINCT form, but the plan has
NO Catalyst Expand: since r09, ONE explode(0,1,2)-tagged pre-agg pass
covers all three entity grains at once (20 narrow flag states), joined
to the non-distinct base pass on the shared keys hash-partitioning —
2 scans and 1 join instead of r08's 4 and 3 (see _feature_core).

Both the Spark plan and the DuckDB oracle are generated from ONE metric
spec below, so engine and oracle cannot drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from propensity_spark.operators.relational import (
    SILVER_SQL,
    brand_dim,
    fact_days,
    silver_transactions,
)

WINDOWS: list[tuple[str, int]] = [("30d", 30), ("60d", 60), ("90d", 90), ("1yr", 365)]

# The three feature-store grains (04a:573-595, 655-677, 729-751) as
# (table name, group keys); each table's PK is its keys plus `day`. The
# pipeline writes them and training looks them up in this order, which
# fixes the training set's feature column order.
GRAINS: list[tuple[str, list[str]]] = [
    ("household", ["household_key"]),
    ("commodity", ["commodity_desc"]),
    ("household_commodity", ["household_key", "commodity_desc"]),
]

_MONEY = [
    "amount_list",
    "instore_discount",
    "campaign_coupon_discount",
    "manuf_coupon_discount",
    "manuf_coupon_match_discount",
    "total_coupon_discount",
    "amount_paid",
]

# The reference's four discount kinds (04a:202-255).
_KINDS = [
    "instore_discount",
    "campaign_coupon_discount",
    "manuf_coupon_discount",
    "total_coupon_discount",
]


def _base_metrics(inw: str) -> list[tuple[str, str]]:
    """(name, aggregate SQL) pairs for one window; `inw` is the
    dialect-specific in-window predicate. Mirrors the reference's
    summary block (04a:183-255) in FULL: activity counts, the seven
    monetary sums (incl. manuf_coupon_match_discount from the silver
    unpack, 01:160), and the complete 4-kind x 4-measure 'with
    activity' conditional grid (days / baskets / products /
    line_items x instore / campaign / manuf / total, 04a:202-255)."""
    m: list[tuple[str, str]] = [
        ("days", f"count(DISTINCT CASE WHEN {inw} THEN day END)"),
        ("baskets", f"count(DISTINCT CASE WHEN {inw} THEN basket_id END)"),
        ("products", f"count(CASE WHEN {inw} THEN product_id END)"),
        ("line_items", f"sum(CASE WHEN {inw} THEN 1 END)"),
    ]
    # GATE_CONTRACT rule 2: the money sums are the one SF-growing float
    # reduction in the engine — at sf1 the commodity grain sums ~240k
    # rows to ~1.7e9 and the cross-order float error (ulp 2.4e-7 at that
    # magnitude, x addends) crosses 2dp half-cent boundaries (observed:
    # one cent of divergence in the r08 sf1 sweep). Every silver money
    # column is an exact multiple of 1e-6 per row (price 2dp x tax/2 3dp
    # or x tax/4 4dp), so sum exact BIGINT micro-dollars instead:
    # bit-identical regardless of summation order or engine. Bounds:
    # ~1.8e15 per group at sf1, 50x headroom to 2^63 at sf100; past
    # that, promote the accumulator to DECIMAL (Spark BIGINT sum wraps
    # silently with ANSI off).
    m += [
        (c, f"sum(CASE WHEN {inw} THEN CAST(round({c} * 1000000, 0) AS BIGINT) END)")
        for c in _MONEY
    ]
    for kind in _KINDS:
        m += [
            (
                f"days_with_{kind}",
                f"count(DISTINCT CASE WHEN {inw} AND {kind} > 0 THEN day END)",
            ),
            (
                f"baskets_with_{kind}",
                f"count(DISTINCT CASE WHEN {inw} AND {kind} > 0 THEN basket_id END)",
            ),
            (
                f"products_with_{kind}",
                f"count(DISTINCT CASE WHEN {inw} AND {kind} > 0 THEN product_id END)",
            ),
            (
                f"line_items_with_{kind}",
                f"sum(CASE WHEN {inw} AND {kind} > 0 THEN 1 END)",
            ),
        ]
    return m


def _ratio_metrics(sfx: str, days_in_window: int) -> list[tuple[str, str]]:
    """Derived ratio features — the reference's denominator families
    applied in full (04a:258-524): per-day (04a:259-310),
    per-days-in-set with the constant window-length denominator
    (04a:313-368), per-basket (04a:371-418), per-product (04a:421-464),
    per-line-item (04a:467-506), and amount_list shares (04a:509-524),
    plus the per-kind activity ratios of each family. Division by zero
    -> NULL -> 0.0, the reference's exact algebra. ~64 ratios x 4
    windows + 27 base metrics x 4 + 5 days-since ~= 369 feature columns
    per grain — the reference's full ~90-metrics-per-window surface."""
    a = f"amount_list_{sfx}"
    out: list[tuple[str, str]] = []
    for m in _MONEY:
        mc = f"{m}_{sfx}"
        # The inner money aggregates are exact BIGINT micro-dollars
        # (see _base_metrics); count-denominator ratios scale the
        # numerator back to dollars (one double division, identical in
        # both engines), while money/money shares divide micro by micro
        # directly — the units cancel and no precision is spent.
        dollars = f"({mc} / 1000000.0)"
        out += [
            (f"{m}_per_day_{sfx}", f"{dollars} / days_{sfx}"),
            (f"{m}_per_days_in_set_{sfx}", f"{dollars} / {days_in_window}"),
            (f"{m}_per_basket_{sfx}", f"{dollars} / baskets_{sfx}"),
            (f"{m}_per_product_{sfx}", f"{dollars} / products_{sfx}"),
            (f"{m}_per_line_item_{sfx}", f"{dollars} / line_items_{sfx}"),
        ]
        if m != "amount_list":
            out.append((f"{m}_share_{sfx}", f"{mc} / {a}"))
    out += [
        (f"days_per_days_in_set_{sfx}", f"days_{sfx} / {days_in_window}"),
        (f"baskets_per_day_{sfx}", f"baskets_{sfx} / days_{sfx}"),
        (f"products_per_day_{sfx}", f"products_{sfx} / days_{sfx}"),
        (f"line_items_per_day_{sfx}", f"line_items_{sfx} / days_{sfx}"),
        (f"products_per_basket_{sfx}", f"products_{sfx} / baskets_{sfx}"),
        (f"line_items_per_basket_{sfx}", f"line_items_{sfx} / baskets_{sfx}"),
        (f"line_items_per_product_{sfx}", f"line_items_{sfx} / products_{sfx}"),
    ]
    for kind in _KINDS:
        out += [
            (
                f"days_with_{kind}_per_days_in_set_{sfx}",
                f"days_with_{kind}_{sfx} / {days_in_window}",
            ),
            (
                f"baskets_with_{kind}_per_baskets_{sfx}",
                f"baskets_with_{kind}_{sfx} / baskets_{sfx}",
            ),
            (
                f"products_with_{kind}_per_product_{sfx}",
                f"products_with_{kind}_{sfx} / products_{sfx}",
            ),
            (
                f"line_items_with_{kind}_share_{sfx}",
                f"line_items_with_{kind}_{sfx} / line_items_{sfx}",
            ),
        ]
    return out


def _days_since_metrics(diff) -> list[tuple[str, str]]:
    """A7 (04a:528-546): min over conditional date-diff for each of the
    reference's four discount kinds; no-activity keys fall back to the
    dataset span. `diff(end, start)` renders the dialect's date
    difference."""
    def since(cond: str) -> str:
        return "min({})".format(
            diff("max_day", f"CASE WHEN {cond} THEN day ELSE min_day END")
        )

    return [("days_since_purchase", f"min({diff('max_day', 'day')})")] + [
        (f"days_since_{kind}", since(f"{kind} > 0")) for kind in _KINDS
    ]


def _plan(dialect: str, keys: list[str]) -> tuple[list[str], list[str]]:
    """Returns (inner aggregate select items, outer select items) in the
    given dialect ('spark' | 'duckdb'). The inner layer is the single
    hash-agg pass; the outer layer derives ratios, rounds with the
    epsilon nudge, casts DOUBLE, and COALESCEs to 0.0."""
    if dialect == "spark":
        cutoff = lambda w: f"date_sub(max_day, {w - 1})"  # noqa: E731
        diff = lambda end, start: f"datediff({end}, {start})"  # noqa: E731
        idiv = "div"
    else:
        cutoff = lambda w: f"max_day - {w - 1}"  # noqa: E731
        diff = lambda end, start: f"date_diff('day', {start}, {end})"  # noqa: E731
        idiv = "//"

    inner: list[str] = list(keys)
    outer: list[str] = list(keys)
    if dialect == "spark":
        # Overflow guard for the BIGINT micro-dollar accumulators (r08
        # ADVICE): DuckDB widens sum(BIGINT) to HUGEINT but Spark's stays
        # BIGINT and, with ANSI off, wraps SILENTLY — at ~1.8e15 per group
        # at sf1 (growing linearly with SF) the documented bound crosses
        # 2^63 around sf5000, and a skewed 100 TB deployment could cross
        # far sooner. Enforce it: per group, |sum(micro)| and every
        # partial sum are bounded by max(|row micro|) * n_rows, so guard
        # that product (in DOUBLE — the product itself could overflow
        # BIGINT) against 2^62 for 2x headroom. Two extra agg states
        # (max + count, both non-distinct, map-side combined) and the
        # check rides the first money output column so Catalyst cannot
        # prune it. The oracle side needs no guard.
        abs_micros = ", ".join(
            f"abs(CAST(round({c} * 1000000, 0) AS BIGINT))" for c in _MONEY
        )
        inner.append(f"max(greatest({abs_micros})) AS __money_abs_max")
        inner.append("count(*) AS __money_rows")
    guard_armed = dialect == "spark"
    for sfx, w in WINDOWS:
        inw = f"day >= {cutoff(w)}"
        for name, agg in _base_metrics(inw):
            col = f"{name}_{sfx}"
            inner.append(f"{agg} AS {col}")
            if name in _MONEY:
                # Half-up cents from the exact micro-dollar BIGINT sum
                # via pure integer arithmetic — round() on the float
                # quotient would reintroduce the scaled-double boundary
                # hazard this conversion exists to kill (money is
                # non-negative here, so floor division IS half-up).
                expr = f"(({col} + 5000) {idiv} 10000) / 100.0"
                if guard_armed:
                    expr = (
                        "IF(CAST(__money_abs_max AS DOUBLE) * __money_rows"
                        f" >= 4.6e18, CAST(raise_error('money BIGINT"
                        " accumulator within 2x of 2^63 overflow — promote"
                        " the micro-dollar sums to DECIMAL(38,0) in BOTH"
                        " engines (operators/features.py _base_metrics)')"
                        f" AS DOUBLE), {expr})"
                    )
                    guard_armed = False
            else:
                expr = col
            outer.append(f"coalesce(CAST({expr} AS DOUBLE), 0.0) AS {col}")
        for name, expr in _ratio_metrics(sfx, w):
            outer.append(
                f"coalesce(CAST(round(1e-9 + {expr}, 6) AS DOUBLE), 0.0) AS {name}"
            )
    for name, agg in _days_since_metrics(diff):
        inner.append(f"{agg} AS {name}")
        outer.append(f"coalesce(CAST({name} AS DOUBLE), 0.0) AS {name}")
    return inner, outer


def _spark_features(
    df: DataFrame,
    keys: list[str],
    floor: int | None = None,
    bounds: DataFrame | None = None,
) -> DataFrame:
    """Run the plan on a silver-shaped DataFrame: one non-distinct
    aggregation pass + one exploded distinct decomposition (see module
    docstring), joined on the shared keys partitioning.

    `floor` (scan_floor_target) fans the aggregation input out to that
    many partitions. The bounds agg is computed from the UN-floored
    frame: it needs only min/max(day) — a map-side-combined 1-row agg —
    and hanging it below the repartition would make every broadcast
    build pay the full exchange (measured: +3s on the commodity grains
    at sf0.1). Callers that know a cheaper equivalent source for the
    global day bounds (the q_* grains: fact_days under the
    lineitem→orders FK, a one-column scan instead of re-running the
    silver join Catalyst cannot dedupe) pass it via `bounds` — a 1-row
    (min_day, max_day) frame."""
    if bounds is None:
        bounds = df.agg(F.min("day").alias("min_day"), F.max("day").alias("max_day"))
    if floor:
        df = df.repartition(floor, F.xxhash64("basket_id", "product_id"))
    return _feature_core(df.join(F.broadcast(bounds)), keys)


def multi_day_features(df: DataFrame, keys: list[str], anchors: list) -> DataFrame:
    """Historical backfill for N anchor days in ONE pass.

    The reference backfills by looping the whole feature notebook once
    per day (02_Initialize_Solution.py:78-101) — N scans of the fact
    table and 8N shuffles. Here each fact row fans out to the anchor
    days at-or-after it (broadcast join against the N-row literal
    anchor frame, planned as a BroadcastNestedLoopJoin on a bounded
    side) and every window condition evaluates against the row's
    anchor: ONE scan of the facts and one shared (keys, anchor)
    aggregation pipeline, at the price of each row being aggregated
    once per later anchor — the same total aggregate input as the loop,
    minus N-1 scans and N-1 job schedules. Map-side partial aggregation
    collapses the fan-out before the shuffle.

    Implementation rides the single-day engine unchanged. The window
    upper bound for each anchor is the EFFECTIVE max fact day at or
    before it — max(day <= anchor), exactly what the single-day engine
    (and the reference, which computes max(day) over the day-filtered
    facts, 04a:138-146) uses — derived from the distinct fact-day list
    joined to the anchor frame (both tiny), NOT the literal anchor, so
    an anchor falling on a quiet day produces bit-identical rows to a
    per-day run. `min_day` stays the GLOBAL minimum so the days-since
    no-purchase fallback matches too. Returns one row per
    (keys, day=anchor); anchors with no facts at-or-before them emit
    nothing, like the per-day engine over an empty slice."""
    from propensity_spark.io import as_date

    spark = df.sparkSession
    anchor_df = spark.createDataFrame(
        [(as_date(a),) for a in anchors], "anchor date"
    )
    eff = (
        df.select("day")
        .distinct()
        .join(F.broadcast(anchor_df), F.col("day") <= F.col("anchor"))
        .groupBy("anchor")
        .agg(F.max("day").alias("max_day"))
    )
    gmin = df.agg(F.min("day").alias("min_day"))
    src = (
        df.join(F.broadcast(eff), F.col("day") <= F.col("anchor"))
        .join(F.broadcast(gmin))
    )
    # max_day is functionally dependent on anchor but must still be a
    # group key for the metric expressions to reference it un-aggregated
    out = _feature_core(src, keys + ["anchor", "max_day"])
    return out.drop("max_day").withColumnRenamed("anchor", "day")


def _feature_core(src: DataFrame, keys: list[str]) -> DataFrame:
    inner, outer = _plan("spark", keys)

    # Pass 1 — every non-distinct aggregate (counts, the money sums,
    # conditional line_items grid, days-since): plain hash agg, one
    # shuffle, map-side combine, no Expand.
    non_distinct = [F.expr(e) for e in inner[len(keys):] if "DISTINCT" not in e]
    base = src.groupBy(*keys).agg(*non_distinct)

    # Pass 2 — ALL distinct families in ONE branch (r09, guide §2.4).
    # count(DISTINCT CASE WHEN inw [AND kind>0] THEN entity END)
    #   == sum over distinct-entity rows of max(CASE ... THEN 1 END):
    # the pre-agg dedupes the entity, the flag records whether ANY line
    # of that entity fired for the (window, kind) cell.
    #
    # r08 ran this decomposition as THREE branches (day / basket_id /
    # product_id), each re-scanning the silver join — Catalyst does not
    # dedupe common subtrees, so with the base pass the physical plan
    # re-scanned the facts 4x and merged through 3 keys-grain SMJs
    # (plans/r09/household_commodity_features_before.txt: 48 Scan
    # nodes). Here each source row explodes into the three entity
    # grains with a __gid tag and ONE narrow pre-agg computes the 20
    # per-(window, kind) existence flags for every grain at once —
    # `inw` and `kind > 0` read row values, not grouping columns, so
    # one flag set serves all three grains and the keys-grain fold
    # picks each family from its grain by gid. 2 scans and 1 join
    # instead of 4 and 3; the 3x explode multiplies only the flag
    # branch's map-side CPU (20 tinyint states), which measured far
    # cheaper than the extra scans+joins. (The tempting next step —
    # folding the ~70 non-distinct partials into the same exploded agg
    # for a true single-scan plan — was built, oracle-verified, and
    # REJECTED on measurement: ~90 states per exploded row and ~750B
    # mostly-NULL shuffle rows made the widest grain 2.4x slower; see
    # OPTIMIZATION_r09.md.)
    def in_window(sfx: str) -> str:
        w = dict(WINDOWS)[sfx]
        return f"day >= date_sub(max_day, {w - 1})"

    expanded = src.withColumn(
        "__gid", F.explode(F.array(F.lit(0), F.lit(1), F.lit(2)))
    ).withColumn(
        "__ent",
        F.expr(
            "CASE __gid WHEN 0 THEN unix_date(day) WHEN 1 THEN basket_id "
            "ELSE product_id END"
        ),
    )
    fam = {0: "days", 1: "baskets", 2: "products"}
    flags, counts = [], []
    for sfx, _ in WINDOWS:
        inw = in_window(sfx)
        cells = [("any", inw)] + [(k, f"{inw} AND {k} > 0") for k in _KINDS]
        for cell, cond in cells:
            flag = f"__f_{cell}_{sfx}"
            flags.append(F.expr(f"max(CASE WHEN {cond} THEN 1 END)").alias(flag))
            for gid, name in fam.items():
                if cell == "any" and gid == 2:
                    # plain `products_*` is a non-distinct count
                    # (04a:205) computed in the base pass.
                    continue
                out_col = (
                    f"{name}_{sfx}" if cell == "any" else f"{name}_with_{cell}_{sfx}"
                )
                counts.append(
                    F.expr(f"sum(CASE WHEN __gid = {gid} THEN {flag} END)").alias(
                        out_col
                    )
                )
    pre = expanded.groupBy(*keys, "__gid", "__ent").agg(*flags)
    distincts = pre.groupBy(*keys).agg(*counts)
    aggregated = base.join(distincts, keys)
    return aggregated.selectExpr(*outer)


def _duckdb_features(source_sql: str, keys: list[str]) -> str:
    inner, outer = _plan("duckdb", keys)
    key_list = ", ".join(keys)
    return f"""
        WITH src AS ({source_sql}),
             b AS (SELECT min(day) AS min_day, max(day) AS max_day FROM src),
             agg AS (
                 SELECT {", ".join(inner)}
                 FROM src CROSS JOIN b
                 GROUP BY {key_list}
             )
        SELECT {", ".join(outer)} FROM agg
    """


# --- the three grains (04a:573, 04a:655, 04a:729) -----------------------

_COMMODITY_SRC_SQL = f"""
    SELECT s.*, p.commodity_desc
    FROM ({SILVER_SQL}) s
    JOIN (SELECT p_partkey AS product_id, p_brand AS commodity_desc FROM part) p
      ON s.product_id = p.product_id
"""


def _feature_floor(spark: SparkSession, sf_dir: str) -> int | None:
    """Targeted scan-parallelism floor for the feature engine
    (io.scan_floor_target, guide §2.5 "input skew: one huge
    unsplittable file"): the engine is the most CPU-dense consumer of
    silver (~6-8 s of aggregation at sf0.1 over a one-row-group file =
    one core of local[32]), so when the parquet layout starves the
    scan, fan the aggregation input out once. Production layouts (row
    groups every ~128 MB) never trigger it."""
    from propensity_spark.io import scan_floor_target

    return scan_floor_target(spark, sf_dir, "lineitem")


def _fact_day_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-row (min_day, max_day) for the q_* grains, from the bare
    lineitem scan (fact_days: FK join elimination — identical values,
    one-column scan instead of a second silver join)."""
    return fact_days(spark, sf_dir).agg(
        F.min("day").alias("min_day"), F.max("day").alias("max_day")
    )


def _with_commodity(spark: SparkSession, sf_dir: str) -> DataFrame:
    silver = silver_transactions(spark, sf_dir)
    return silver.join(F.broadcast(brand_dim(spark, sf_dir)), "product_id", "inner")


def q_household_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Household-grain feature table (04a:573-595): PK household_key
    (+ day stamp at write time, §2.1 S7)."""
    return _spark_features(
        silver_transactions(spark, sf_dir),
        ["household_key"],
        floor=_feature_floor(spark, sf_dir),
        bounds=_fact_day_bounds(spark, sf_dir),
    )


def q_commodity_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Commodity-grain feature table (04a:655-677)."""
    return _spark_features(
        _with_commodity(spark, sf_dir),
        ["commodity_desc"],
        floor=_feature_floor(spark, sf_dir),
        bounds=_fact_day_bounds(spark, sf_dir),
    )


def q_household_commodity_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Household x commodity grain (04a:729-751) — the widest grain;
    at 100 TB this shuffle is the big one, and it is the ONLY shuffle
    this plan performs per grain (the reference performs 8)."""
    return _spark_features(
        _with_commodity(spark, sf_dir),
        ["household_key", "commodity_desc"],
        floor=_feature_floor(spark, sf_dir),
        bounds=_fact_day_bounds(spark, sf_dir),
    )


QUERIES = {
    "household_features": q_household_features,
    "commodity_features": q_commodity_features,
    "household_commodity_features": q_household_commodity_features,
}

ORACLES = {
    "household_features": _duckdb_features(SILVER_SQL, ["household_key"]),
    "commodity_features": _duckdb_features(_COMMODITY_SRC_SQL, ["commodity_desc"]),
    "household_commodity_features": _duckdb_features(
        _COMMODITY_SRC_SQL, ["household_key", "commodity_desc"]
    ),
}
