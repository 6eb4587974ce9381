"""Data-profiling and entity-resolution operators (extension scope;
the reference's only profiling is eyeball `display()` cells,
SURVEY.md §5).

* `profile` — per-column null counts, distinct counts, and numeric
  ranges for a whole table in ONE aggregation pass: every statistic is
  an expression in a single global agg, and the per-column rows come
  from a map-side `stack` unpivot of that 1-row result. Default
  cardinalities are `approx_count_distinct` (HLL, constant memory —
  the only sane default at 100 TB); `exact=True` opts into exact
  distincts, which Spark plans via Expand: an N-column profile expands
  each row N ways, an acceptable constant blowup for a diagnostics op
  on a handful of columns (unlike the 369-column feature grid this
  repo decomposes, operators/features.py:75-109). The gate query runs
  exact so the DuckDB hash-compare is well-defined.

* `record_linkage` — fuzzy duplicate detection over an entity column
  (catalog dedup / householding). The classic formulation is an
  all-pairs edit-distance scan — O(n²), the 100 TB killer. Standard
  fix (Fellegi-Sunter blocking): names dedup to one row per distinct
  value with occurrence counts, a cheap deterministic blocking key
  (first token) partitions candidates, the self-join runs as a hash
  equi-join on the block, and `levenshtein` filters residues inside
  blocks only. Cost is sum over blocks of |block|² on DISTINCT values,
  not rows, and |block| is bounded: oversized blocks are sub-blocked
  (second token + length) then hard-capped at LINKAGE_MAX_BLOCK names,
  so a stop-word first token can never make one quadratic mega-block.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pyspark.sql.window import Window

from propensity_spark.io import load_table

LINKAGE_MAX_DIST = 3
# Block-size guard: the in-block self-join is quadratic in block size,
# so a stop-word-ish first token ("the", "new") on a 10^8-name catalog
# would make one mega-block dominate the join. Blocks larger than this
# are first SUB-BLOCKED (second token + name length refine the key,
# preserving recall for truly similar names, which share both) and then
# HARD-CAPPED by deterministic row_number, bounding worst-case pairs at
# #blocks * max_block^2 — the same shape as MAX_BASKET_ITEMS
# (operators/extended.py) for basket self-joins.
LINKAGE_MAX_BLOCK = 200


def profile(df: DataFrame, exact: bool = False) -> DataFrame:
    """One-pass column profile: (col_name, n_nulls, n_distinct,
    min_num, max_num). Numeric ranges are NULL for non-numeric
    columns. `n_distinct` is approximate (HLL) unless exact=True."""
    num_types = (T.NumericType,)
    aggs = []
    for f in df.schema.fields:
        c = f.name
        aggs.append(
            F.sum(F.col(c).isNull().cast("long")).alias(f"__nn_{c}")
        )
        if exact:
            aggs.append(F.countDistinct(c).alias(f"__nd_{c}"))
        else:
            aggs.append(F.approx_count_distinct(c).alias(f"__nd_{c}"))
        if isinstance(f.dataType, num_types):
            aggs.append(F.min(c).cast("double").alias(f"__mn_{c}"))
            aggs.append(F.max(c).cast("double").alias(f"__mx_{c}"))
        else:
            aggs.append(F.lit(None).cast("double").alias(f"__mn_{c}"))
            aggs.append(F.lit(None).cast("double").alias(f"__mx_{c}"))
    one = df.agg(*aggs)
    n = len(df.schema.fields)
    stack_args = ", ".join(
        f"'{f.name}', __nn_{f.name}, __nd_{f.name}, __mn_{f.name}, __mx_{f.name}"
        for f in df.schema.fields
    )
    return one.selectExpr(
        f"stack({n}, {stack_args}) as "
        "(col_name, n_nulls, n_distinct, min_num, max_num)"
    )


def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact profile of `customer` (5 columns -> 5 rows). Exact so the
    oracle hash-compares; production calls default to sketches."""
    return profile(load_table(spark, sf_dir, "customer"), exact=True)


PROFILE_SQL = """
    SELECT 'c_custkey' AS col_name,
           CAST(sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_nulls,
           CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_distinct,
           CAST(min(c_custkey) AS DOUBLE) AS min_num,
           CAST(max(c_custkey) AS DOUBLE) AS max_num
    FROM customer
    UNION ALL
    SELECT 'c_name',
           CAST(sum(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(DISTINCT c_name) AS BIGINT), NULL, NULL
    FROM customer
    UNION ALL
    SELECT 'c_nationkey',
           CAST(sum(CASE WHEN c_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(DISTINCT c_nationkey) AS BIGINT),
           CAST(min(c_nationkey) AS DOUBLE), CAST(max(c_nationkey) AS DOUBLE)
    FROM customer
    UNION ALL
    SELECT 'c_acctbal',
           CAST(sum(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(DISTINCT c_acctbal) AS BIGINT),
           CAST(min(c_acctbal) AS DOUBLE), CAST(max(c_acctbal) AS DOUBLE)
    FROM customer
    UNION ALL
    SELECT 'c_mktsegment',
           CAST(sum(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(DISTINCT c_mktsegment) AS BIGINT), NULL, NULL
    FROM customer
"""


def _blocked_names(
    entities: DataFrame, name_col: str, max_block: int
) -> DataFrame:
    """Distinct names with a size-guarded blocking key: (block, name,
    n_rows). First-token blocks larger than `max_block` are refined by
    second token + name length (truly-similar names share both), and
    every final block is hard-capped at `max_block` names via
    deterministic row_number (names are distinct, so ORDER BY name is
    total). Cost: two window passes over DISTINCT names only."""
    names = entities.groupBy(F.col(name_col).alias("name")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    b1 = names.withColumn(
        "blk1", F.split_part(F.col("name"), F.lit(" "), F.lit(1))
    ).withColumn("c1", F.count(F.lit(1)).over(Window.partitionBy("blk1")))
    blocked = b1.withColumn(
        "block",
        F.when(
            F.col("c1") > max_block,
            F.concat(
                F.col("blk1"),
                F.lit("|"),
                F.split_part(F.col("name"), F.lit(" "), F.lit(2)),
                F.lit("#"),
                F.length("name").cast("string"),
            ),
        ).otherwise(F.col("blk1")),
    )
    return (
        blocked.withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("block").orderBy("name")),
        )
        .where(F.col("rn") <= max_block)
        .select("block", "name", "n_rows")
    )


def record_linkage(
    entities: DataFrame,
    name_col: str,
    max_dist: int = LINKAGE_MAX_DIST,
    max_block: int = LINKAGE_MAX_BLOCK,
) -> DataFrame:
    """Blocked fuzzy self-match over distinct values of `name_col`.
    Returns (name_a, name_b, dist, n_a, n_b) with name_a < name_b,
    same blocking key, levenshtein <= max_dist. Oversized blocks are
    sub-blocked and capped (see LINKAGE_MAX_BLOCK) so the in-block
    self-join stays bounded on skewed name distributions."""
    blocked = _blocked_names(entities, name_col, max_block)
    a = blocked.select(
        "block",
        F.col("name").alias("name_a"),
        F.col("n_rows").alias("n_a"),
    )
    b = blocked.select(
        "block",
        F.col("name").alias("name_b"),
        F.col("n_rows").alias("n_b"),
    )
    return (
        a.join(b, "block")
        .where(F.col("name_a") < F.col("name_b"))
        .withColumn("dist", F.levenshtein("name_a", "name_b"))
        .where(F.col("dist") <= max_dist)
        .select("name_a", "name_b", "dist", "n_a", "n_b")
    )


def q_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate part names: block on the first token, link at
    edit distance <= 3 ('small ring' ~ 'small king' in, 'small widget'
    out)."""
    return record_linkage(
        load_table(spark, sf_dir, "part"), "p_name", LINKAGE_MAX_DIST
    )


LINKAGE_SQL = f"""
    WITH names AS (
        SELECT p_name AS name, CAST(count(*) AS BIGINT) AS n_rows
        FROM part GROUP BY p_name
    ),
    b1 AS (
        SELECT name, n_rows, split_part(name, ' ', 1) AS blk1,
               count(*) OVER (PARTITION BY split_part(name, ' ', 1)) AS c1
        FROM names
    ),
    refined AS (
        SELECT name, n_rows,
               CASE WHEN c1 > {LINKAGE_MAX_BLOCK}
                    THEN blk1 || '|' || split_part(name, ' ', 2)
                         || '#' || CAST(length(name) AS VARCHAR)
                    ELSE blk1 END AS block
        FROM b1
    ),
    blocked AS (
        SELECT block, name, n_rows FROM (
            SELECT block, name, n_rows,
                   row_number() OVER (PARTITION BY block ORDER BY name) AS rn
            FROM refined
        ) WHERE rn <= {LINKAGE_MAX_BLOCK}
    )
    SELECT a.name AS name_a, b.name AS name_b,
           CAST(levenshtein(a.name, b.name) AS INT) AS dist,
           a.n_rows AS n_a, b.n_rows AS n_b
    FROM blocked a JOIN blocked b
      ON a.block = b.block AND a.name < b.name
    WHERE levenshtein(a.name, b.name) <= {LINKAGE_MAX_DIST}
"""


def q_ri_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit over the star schema's three FK
    edges (lineitem->orders, lineitem->part, orders->customer): total
    child rows, orphan rows, and distinct orphan keys per edge. Each
    edge costs one anti-join plus the child's count — the counts and
    the anti-join share the scan via a single agg over a
    null-extended left join (NOT two passes)."""
    specs = [
        ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
        ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ]
    outs = []
    for edge, child_t, fk, parent_t, pk in specs:
        child = load_table(spark, sf_dir, child_t).select(
            F.col(fk).alias("fk")
        )
        parent = (
            load_table(spark, sf_dir, parent_t)
            .select(F.col(pk).alias("fk"))
            .distinct()
            .withColumn("__hit", F.lit(1))
        )
        joined = child.join(parent, "fk", "left")
        outs.append(
            joined.agg(
                F.lit(edge).alias("edge"),
                F.count(F.lit(1)).alias("child_rows"),
                F.sum((F.col("__hit").isNull()).cast("long")).alias(
                    "orphan_rows"
                ),
                F.countDistinct(
                    F.when(F.col("__hit").isNull(), F.col("fk"))
                ).alias("orphan_keys"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


RI_CHECK_SQL = """
    SELECT 'lineitem->orders' AS edge,
           CAST(count(*) AS BIGINT) AS child_rows,
           CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS orphan_rows,
           CAST(count(DISTINCT CASE WHEN o.o_orderkey IS NULL
                                    THEN l.l_orderkey END) AS BIGINT)
               AS orphan_keys
    FROM lineitem l
    LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
      ON l.l_orderkey = o.o_orderkey
    UNION ALL
    SELECT 'lineitem->part', CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT),
           CAST(count(DISTINCT CASE WHEN p.p_partkey IS NULL
                                    THEN l.l_partkey END) AS BIGINT)
    FROM lineitem l
    LEFT JOIN (SELECT DISTINCT p_partkey FROM part) p
      ON l.l_partkey = p.p_partkey
    UNION ALL
    SELECT 'orders->customer', CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT),
           CAST(count(DISTINCT CASE WHEN c.c_custkey IS NULL
                                    THEN o.o_custkey END) AS BIGINT)
    FROM orders o
    LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
      ON o.o_custkey = c.c_custkey
"""
# Both register in operators/overflow.py (post-budget).


# ---------------------------------------------------------------------------
# Equi-width histograms — the distribution half of table profiling
# (profile() gives bounds/nulls/cardinality; this gives shape). Two
# aggregations: a 1-row bounds agg broadcast back, then one bucket agg;
# the bin spine (sequence-explode, B rows) left-joins so empty bins
# report 0 — a histogram with silent holes misleads. Bin assignment is
# floor((x - min) / width) clamped to B-1 (the max value lands in the
# last bin), computed with the identical expression in both engines so
# IEEE doubles bucket identically. Complements quantile_bucket
# (operators/stats.py): equi-WIDTH shows distribution shape,
# equi-HEIGHT balances bucket populations.
# ---------------------------------------------------------------------------

HIST_BINS = 20


def column_histogram(
    df: DataFrame, col: str, n_bins: int = HIST_BINS
) -> DataFrame:
    """Equi-width histogram of a numeric column: (bin_id, lo, hi, cnt)
    for ALL n_bins bins (empty ones included, cnt=0); NULLs excluded.
    Degenerate min==max collapses to bin 0."""
    vals = df.select(F.col(col).cast("double").alias("x")).where(
        F.col("x").isNotNull()
    )
    bounds = vals.agg(
        F.min("x").alias("mn"), F.max("x").alias("mx")
    ).withColumn(
        "w",
        F.expr(f"greatest((mx - mn) / {n_bins}, cast(1e-12 as double))"),
    )
    binned = (
        vals.crossJoin(F.broadcast(bounds))
        .select(
            F.expr(
                f"least(cast(floor((x - mn) / w) as int), {n_bins - 1})"
            ).alias("bin_id")
        )
        .groupBy("bin_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    spine = (
        df.sparkSession.range(n_bins)
        .select(F.col("id").cast("int").alias("bin_id"))
        .crossJoin(F.broadcast(bounds))
    )
    return (
        spine.join(binned, "bin_id", "left")
        .select(
            "bin_id",
            F.expr("round(mn + bin_id * w + 1e-9, 6)").alias("lo"),
            F.expr("round(mn + (bin_id + 1) * w + 1e-9, 6)").alias("hi"),
            F.coalesce("cnt", F.lit(0)).alias("cnt"),
        )
    )


def q_column_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tagged 2-section suite: 20-bin equi-width histograms of
    events.value and customer.c_acctbal."""
    ev = column_histogram(
        load_table(spark, sf_dir, "events"), "value"
    ).select(F.lit("events.value").alias("col_name"), "*")
    cb = column_histogram(
        load_table(spark, sf_dir, "customer"), "c_acctbal"
    ).select(F.lit("customer.c_acctbal").alias("col_name"), "*")
    return ev.unionByName(cb)


def _hist_section_sql(table: str, col: str, label: str) -> str:
    b = HIST_BINS
    return f"""
    SELECT '{label}' AS col_name, s.bin_id,
           round(mn + s.bin_id * w + 1e-9, 6) AS lo,
           round(mn + (s.bin_id + 1) * w + 1e-9, 6) AS hi,
           CAST(coalesce(c.cnt, 0) AS BIGINT) AS cnt
    FROM (SELECT unnest(generate_series(0, {b - 1})) AS bin_id) s
    CROSS JOIN (
        SELECT min(CAST({col} AS DOUBLE)) AS mn,
               greatest((max(CAST({col} AS DOUBLE))
                         - min(CAST({col} AS DOUBLE))) / {b},
                        CAST(1e-12 AS DOUBLE)) AS w
        FROM {table} WHERE {col} IS NOT NULL
    )
    LEFT JOIN (
        SELECT least(CAST(floor((CAST({col} AS DOUBLE) - b2.mn) / b2.w)
                          AS INT), {b - 1}) AS bin_id,
               count(*) AS cnt
        FROM {table} CROSS JOIN (
            SELECT min(CAST({col} AS DOUBLE)) AS mn,
                   greatest((max(CAST({col} AS DOUBLE))
                             - min(CAST({col} AS DOUBLE))) / {b},
                            CAST(1e-12 AS DOUBLE)) AS w
            FROM {table} WHERE {col} IS NOT NULL
        ) b2
        WHERE {col} IS NOT NULL
        GROUP BY 1
    ) c ON c.bin_id = s.bin_id
"""


HISTOGRAM_SQL = (
    _hist_section_sql("events", "value", "events.value")
    + "\nUNION ALL\n"
    + _hist_section_sql("customer", "c_acctbal", "customer.c_acctbal")
)
# q_column_histogram registers in operators/overflow.py.


# ---------------------------------------------------------------------------
# Pairwise correlation matrix: the profiling step before feature
# selection — which numeric columns are redundant or leaking.

CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def corr_matrix(df: DataFrame, cols: list[str]) -> DataFrame:
    """Pearson correlation of every column pair in ONE aggregation
    pass: all k(k-1)/2 `corr` co-moment accumulators run inside a
    single partial-agg tree, so the fact is scanned once and shuffled
    once (a 1-row exchange of the combined state) regardless of k.
    Contrast the naive loop of k^2/2 separate `.corr()` actions — at
    100 TB that's k^2/2 full scans. Long-format output (col_a, col_b,
    corr) feeds heatmaps and |corr|>threshold pruning directly."""
    pairs = [
        (a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]
    ]
    aggs = [
        F.round(F.corr(a, b) + F.lit(1e-9), 6).alias(f"{a}|{b}")
        for a, b in pairs
    ] + [F.count(F.lit(1)).alias("__n")]
    wide = df.agg(*aggs)
    stacked = ", ".join(
        f"'{a}', '{b}', `{a}|{b}`" for a, b in pairs
    )
    return wide.select(
        F.expr(
            f"stack({len(pairs)}, {stacked}) AS (col_a, col_b, corr)"
        ),
        F.col("__n").alias("n"),
    )


def q_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    return corr_matrix(lineitem, CORR_COLS)


CORR_SQL = (
    "SELECT col_a, col_b, corr, n FROM (\n"
    + "\nUNION ALL\n".join(
        f"""SELECT '{a}' AS col_a, '{b}' AS col_b,
               round(corr({a}, {b}) + 1e-9, 6) AS corr,
               CAST(count(*) AS BIGINT) AS n
        FROM lineitem"""
        for i, a in enumerate(CORR_COLS)
        for b in CORR_COLS[i + 1 :]
    )
    + "\n)"
)
# q_corr_matrix registers in operators/overflow.py.


def q_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution: record_linkage's blocked
    edit-distance pairs become an undirected graph, large-star/
    small-star connected components merge transitive matches
    ('small ring' ~ 'small king' ~ 'small kind' collapse even when
    the outer pair exceeds the distance cap), and each cluster is
    canonicalized to its MIN NAME with member/row rollups. Names ride
    the CC loop as 60-bit md5-prefix ids asserted collision-free
    in-plan (the loop's convergence signature sums node ids, so
    string labels stay outside it); canonical
    selection happens on the original strings, so the id mapping
    never leaks into the result. Only linked names appear (singletons
    are the uninteresting ~100%)."""
    from propensity_spark.operators.graph import cut_lineage
    from propensity_spark.text.dedup import connected_components

    part = load_table(spark, sf_dir, "part")
    names = part.groupBy(F.col("p_name").alias("name")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    pairs = record_linkage(part, "p_name", LINKAGE_MAX_DIST).select(
        "name_a", "name_b"
    )
    # 60-bit md5 prefix (15 hex chars — the widest that cannot overflow
    # a signed BIGINT via conv); birthday bound ~1.3e9 distinct names.
    # A collision would silently merge unrelated clusters, so the
    # mapping is asserted injective LAZILY, in-plan: a names-grain agg
    # (max names per nid) broadcasts one row into the id projection,
    # where assert_true raises at execution on any collision. No job
    # runs at DataFrame-construction time (plan builds stay free), and
    # a violation fails loudly instead of corrupting clusters.
    mid = "cast(conv(substr(md5(cast(name as binary)), 1, 15), 16, 10) as bigint)"
    ids = names.select("name", F.expr(mid).alias("nid"))
    chk = ids.groupBy("nid").agg(F.count(F.lit(1)).alias("k")).agg(
        F.max("k").alias("mx")
    )
    ids = ids.crossJoin(F.broadcast(chk)).select(
        "name",
        (
            F.col("nid")
            + F.coalesce(
                F.expr(
                    "cast(assert_true(mx = 1, 'entity_resolution:"
                    " md5-prefix node ids collided; widen the id space')"
                    " as bigint)"
                ),
                F.lit(0),
            )
        ).alias("nid"),
    )
    edges = (
        pairs.join(ids.selectExpr("name AS name_a", "nid AS ua"), "name_a")
        .join(ids.selectExpr("name AS name_b", "nid AS ub"), "name_b")
        .select("ua", "ub")
    )
    comp = connected_components(cut_lineage(edges))
    # CC emits (node, component) with roots absent (a root's component
    # is itself) — reattach every linked node via coalesce, the
    # q_dedup_components pattern.
    linked = edges.selectExpr("ua AS nid").union(edges.selectExpr("ub")).distinct()
    comp = linked.join(comp, linked.nid == comp.node, "leftouter").select(
        F.col("nid").alias("node"),
        F.coalesce("component", "nid").alias("component"),
    )
    members = comp.join(ids, comp.node == ids.nid).select("name", "component")
    canon = members.groupBy("component").agg(F.min("name").alias("canonical"))
    sized = (
        members.join(canon, "component")
        .join(names, "name")
        .select("name", "canonical", "n_rows")
    )
    rollup = sized.groupBy("canonical").agg(
        F.count(F.lit(1)).alias("cluster_size"),
        F.sum("n_rows").alias("cluster_rows"),
    )
    return sized.join(rollup, "canonical").select(
        "name",
        "canonical",
        F.col("cluster_size").cast("int").alias("cluster_size"),
        F.col("cluster_rows").cast("bigint").alias("cluster_rows"),
    )


ENTITY_RESOLUTION_SQL = f"""
    WITH RECURSIVE lpairs AS ({LINKAGE_SQL}),
    names AS (
        SELECT p_name AS name, CAST(count(*) AS BIGINT) AS n_rows
        FROM part GROUP BY p_name
    ),
    nodes AS (
        SELECT DISTINCT name FROM (
            SELECT name_a AS name FROM lpairs
            UNION ALL SELECT name_b FROM lpairs
        )
    ),
    edges AS (
        SELECT name_a AS u, name_b AS v FROM lpairs
        UNION SELECT name_b, name_a FROM lpairs
    ),
    reach(src, dst) AS (
        SELECT name, name FROM nodes
        UNION
        SELECT r.src, e.v FROM reach r JOIN edges e ON r.dst = e.u
    ),
    members AS (
        SELECT src AS name, min(dst) AS canonical FROM reach GROUP BY src
    ),
    rollup AS (
        SELECT m.canonical, CAST(count(*) AS INT) AS cluster_size,
               CAST(sum(n.n_rows) AS BIGINT) AS cluster_rows
        FROM members m JOIN names n ON m.name = n.name
        GROUP BY m.canonical
    )
    SELECT m.name, m.canonical, r.cluster_size, r.cluster_rows
    FROM members m JOIN rollup r ON m.canonical = r.canonical
"""


# --- gate registration (moved from the retired operators/overflow.py shim) ---
# Entries past the driver's 50-row budget register here, next to their
# operators; __spark_entry__ merges every module's QUERIES/ORACLES and
# DRIVER_GATE_PRIORITY decides what the driver sees.
QUERIES = {
    "table_profile": q_table_profile,
    "record_linkage": q_record_linkage,
    "ri_check": q_ri_check,
    "column_histogram": q_column_histogram,
    "corr_matrix": q_corr_matrix,
    "entity_resolution": q_entity_resolution,
}

ORACLES = {
    "table_profile": PROFILE_SQL,
    "record_linkage": LINKAGE_SQL,
    "ri_check": RI_CHECK_SQL,
    "column_histogram": HISTOGRAM_SQL,
    "corr_matrix": CORR_SQL,
    "entity_resolution": ENTITY_RESOLUTION_SQL,
}
