"""Graph operators: distributed PageRank (power iteration) over
DataFrame edge lists — the iterative-algorithm family member next to
the large-star/small-star connected components in text/dedup.py.

The driver loop holds only the ITERATION COUNT; every step is one
declarative join + aggregate, so each iteration is a single shuffle
on the destination key at any graph size. `localCheckpoint` after
each step cuts the lineage (the standard Spark iterative pattern —
without it the plan doubles per iteration and the optimizer chokes
long before numerical convergence matters). Intermediate ranks are
rounded to 12 dp each step so float-summation order (Spark's
parallel aggregation vs the oracle's sequential one) can never drift
across engines.

Gate entry: PageRank over the brand co-purchase graph (the same
(basket, item) frame the market-basket affinity operator builds —
edges = frequent pairs, both directions), ranking cross-sell hub
brands. The oracle unrolls the power iteration as chained CTEs —
bit-identical by construction, no recursion needed at a fixed
iteration count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PR_DAMPING = 0.85
PR_ITERS = 6


def cut_lineage(
    df: DataFrame, checkpoint_dir: str | None = None, eager: bool = False
) -> DataFrame:
    """Truncate plan lineage between iterations of an iterative graph
    algorithm (without it the plan doubles per round and the optimizer
    chokes long before numerical convergence matters). Default is
    `localCheckpoint` — executor-local blocks, fastest, correct in
    local mode and on healthy clusters, but LOST if an executor dies
    mid-job. Passing `checkpoint_dir` switches to reliable
    `df.checkpoint()` against that path (HDFS/S3 on a real cluster) so
    a 1000-executor run survives executor loss between iterations, at
    the cost of one distributed write per round."""
    if checkpoint_dir:
        sc = df.sparkSession.sparkContext
        sc.setCheckpointDir(checkpoint_dir)
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def pagerank(
    edges: DataFrame,
    d: float = PR_DAMPING,
    iters: int = PR_ITERS,
    checkpoint: bool = True,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Power-iteration PageRank on a DIRECTED (src, dst) edge list
    (pass both directions for an undirected graph). Every vertex must
    appear as a src (an undirected edge list guarantees it), so there
    are no dangling nodes. Returns (node, out_deg, rank).
    `checkpoint_dir` upgrades per-iteration lineage cuts to reliable
    checkpoints (see cut_lineage); results are bit-identical either
    way — only failure-recovery behavior differs."""
    if checkpoint:
        # The edge list is loop-INVARIANT but sits in every iteration's
        # lineage: without its own cut, each rank step re-evaluates the
        # caller's whole edge derivation (for the co-purchase graph
        # that is a basket self-join — measured 6x recompute at sf0.1).
        # deg/verts get the same treatment: joined/rebuilt every round.
        # r10 REJECTED: pre-partitioning edges by the per-iteration join
        # key before this cut (guide §2.4 reuse-point) does NOT work —
        # under AQE the checkpointed LogicalRDD records
        # UnknownPartitioning(0) (plans/r10/pagerank_iteration_after.txt:
        # every iteration re-exchanges regardless), so the upfront
        # repartition is a pure extra |E| shuffle at any scale.
        edges = cut_lineage(edges, checkpoint_dir, eager=False)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    verts = edges.select(F.col("src").alias("node")).distinct()
    if checkpoint:
        deg = cut_lineage(deg, checkpoint_dir, eager=False)
        verts = cut_lineage(verts, checkpoint_dir, eager=False)
    nn = verts.agg(F.count(F.lit(1)).alias("n"))
    # Built once and reused every iteration (r10): the loop used to
    # rebuild verts.crossJoin(broadcast(nn)) per round, re-aggregating
    # verts and re-broadcasting the 1-row count each time.
    base = verts.crossJoin(F.broadcast(nn))
    ranks = base.select(
        "node", "n", F.expr("round(cast(1.0 as double) / n, 12)").alias("rank")
    )
    for _ in range(iters):
        contribs = (
            edges.join(ranks.select(F.col("node").alias("src"), "rank"), "src")
            .join(deg, "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.expr("rank / out_deg")).alias("c"))
        )
        ranks = (
            base
            .join(contribs, "node", "left")
            .select(
                "node",
                "n",
                F.expr(
                    f"round(cast(1 - {d} as double) / n"
                    f" + {d} * coalesce(c, cast(0 as double)), 12)"
                ).alias("rank"),
            )
        )
        # Cut every round. The per-round plans are linear in depth, so
        # any stride gives bit-identical ranks, but cutting every 2nd
        # round measured slower at sf0.1 (r10, min-of-3, tpch_q1
        # control: pagerank_affinity build 4.9 -> 6.1 s): each cut's AQE
        # pass re-optimizes the deeper two-round plan, and the saved
        # barrier does not pay for it.
        if checkpoint:
            ranks = cut_lineage(ranks, checkpoint_dir, eager=False)
    return ranks.join(
        deg.select(F.col("src").alias("node"), "out_deg"), "node"
    ).select("node", "out_deg", "rank")


def _oriented(pairs: DataFrame) -> DataFrame:
    """Orient each undirected edge {x, y} from the LOWER-(degree, id)
    endpoint to the higher one. Under this total order every vertex's
    out-degree is O(sqrt(m)) regardless of its undirected degree, so
    a hub of degree d contributes O(m) total wedge work instead of
    O(d²) — the standard skew fix for triangle enumeration (degree-
    ordered / 'forward' algorithm). Returns (u, v, dv) with u ≺ v and
    dv = undirected degree of v (carried so the wedge join can order
    the two out-neighbours without re-joining degrees)."""
    p = pairs.select(F.col("ia").alias("x"), F.col("ib").alias("y"))
    deg = (
        p.select(F.col("x").alias("node"))
        .unionByName(p.select(F.col("y").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    e = p.join(
        deg.select(F.col("node").alias("x"), F.col("d").alias("dx")), "x"
    ).join(deg.select(F.col("node").alias("y"), F.col("d").alias("dy")), "y")
    x_first = (F.col("dx") < F.col("dy")) | (
        (F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y"))
    )
    return e.select(
        F.when(x_first, F.col("x")).otherwise(F.col("y")).alias("u"),
        F.when(x_first, F.col("y")).otherwise(F.col("x")).alias("v"),
        F.when(x_first, F.col("dy")).otherwise(F.col("dx")).alias("dv"),
    )


def _wedges(oriented: DataFrame) -> DataFrame:
    """Open wedges (u, b, c) from pairs of out-edges of the oriented
    graph, with b ≺ c in the (degree, id) order so each candidate
    triangle is generated exactly once."""
    lhs = oriented.select("u", F.col("v").alias("b"), F.col("dv").alias("db"))
    rhs = oriented.select("u", F.col("v").alias("c"), F.col("dv").alias("dc"))
    return (
        lhs.join(rhs, "u")
        .where(
            (F.col("db") < F.col("dc"))
            | ((F.col("db") == F.col("dc")) & (F.col("b") < F.col("c")))
        )
        .select("u", "b", "c")
    )


def triangle_count(pairs: DataFrame) -> DataFrame:
    """Per-node triangle counts on an undirected graph given as
    canonical pairs (ia < ib, each edge once). Degree-ordered wedge
    enumeration: orient every edge from the lower-(degree, id)
    endpoint (_oriented), enumerate wedges between a vertex's ordered
    out-neighbour pairs (_wedges), close them with a semi-join back
    to the oriented edge set ({b, c} with b ≺ c is stored as b→c, so
    one equi-join suffices), explode each triangle to its three
    corners, and count per node. Three hash equi-joins and one agg —
    never an all-pairs product, and a degree-d hub contributes
    O(sqrt(m)) out-edges instead of O(d²) wedges (power-law safe;
    pinned by the star-plus-clique pytest). Each triangle a ≺ b ≺ c
    is generated exactly once at its minimum vertex. Nodes in no
    triangle report 0."""
    # r10: pairs is referenced SIX times in this plan (twice inside
    # _oriented's degree union, twice in its e-joins, twice in verts)
    # and the oriented edges THREE times (both wedge sides + the
    # closing semi join) — without lineage cuts the caller's whole
    # edge derivation (for the co-purchase graph a basket self-join)
    # re-executes per reference, exactly the recompute pagerank()
    # already cuts.
    pairs = cut_lineage(pairs, eager=False)
    o = cut_lineage(_oriented(pairs), eager=False)
    tris = _wedges(o).join(
        o.select(F.col("u").alias("b"), F.col("v").alias("c")),
        ["b", "c"],
        "leftsemi",
    )
    corners = tris.select(
        F.explode(F.array("u", "b", "c")).alias("node")
    )
    verts = (
        pairs.select(F.col("ia").alias("node"))
        .unionByName(pairs.select(F.col("ib").alias("node")))
        .distinct()
    )
    return (
        verts.join(
            corners.groupBy("node").agg(F.count(F.lit(1)).alias("n")),
            "node",
            "left",
        )
        .select("node", F.coalesce("n", F.lit(0)).alias("n_triangles"))
    )


def _affinity_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical (ia < ib) frequent co-purchase pairs — the undirected
    edge set behind _affinity_edges, exposed once for both consumers."""
    from propensity_spark.operators.extended import (
        MAX_BASKET_ITEMS,
        MIN_SUPPORT,
    )
    from propensity_spark.operators.relational import brand_dim, silver_transactions

    silver = silver_transactions(spark, sf_dir)
    bi_all = (
        silver.join(F.broadcast(brand_dim(spark, sf_dir)), "product_id")
        .select("basket_id", F.col("commodity_desc").alias("item"))
        .dropDuplicates(["basket_id", "item"])
    )
    sizes = bi_all.groupBy("basket_id").agg(F.count(F.lit(1)).alias("__bn"))
    bi = bi_all.join(
        sizes.where(F.col("__bn") <= MAX_BASKET_ITEMS), "basket_id"
    ).drop("__bn")
    nb = bi.agg(F.countDistinct("basket_id").alias("nb"))
    a, b = bi.alias("a"), bi.alias("b")
    return (
        a.join(
            b,
            (F.col("a.basket_id") == F.col("b.basket_id"))
            & (F.col("a.item") < F.col("b.item")),
        )
        .groupBy(F.col("a.item").alias("ia"), F.col("b.item").alias("ib"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .crossJoin(F.broadcast(nb))
        .where(F.col("cnt") / F.col("nb") >= MIN_SUPPORT)
        .select("ia", "ib")
    )


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counts over the brand co-purchase graph — the local
    clustering signal next to pagerank's global centrality."""
    return triangle_count(_affinity_pairs(spark, sf_dir))


def _triangle_sql() -> str:
    from propensity_spark.operators.extended import (
        MAX_BASKET_ITEMS,
        MIN_SUPPORT,
    )
    from propensity_spark.operators.relational import SILVER_SQL

    return f"""
    WITH s AS MATERIALIZED ({SILVER_SQL}),
    bi_all AS MATERIALIZED (
        SELECT DISTINCT s.basket_id, p.p_brand AS item
        FROM s JOIN part p ON s.product_id = p.p_partkey
    ),
    bi AS MATERIALIZED (
        SELECT * FROM bi_all WHERE basket_id IN (
            SELECT basket_id FROM bi_all GROUP BY basket_id
            HAVING count(*) <= {MAX_BASKET_ITEMS}
        )
    ),
    nb AS (SELECT count(DISTINCT basket_id) AS nb FROM bi),
    pairs AS (
        SELECT a.item AS ia, b.item AS ib
        FROM bi a JOIN bi b ON a.basket_id = b.basket_id AND a.item < b.item, nb
        GROUP BY 1, 2, nb.nb
        HAVING count(*) * 1.0 / nb >= {MIN_SUPPORT}
    ),
    tris AS (
        SELECT e1.ia AS a, e1.ib AS b, e2.ib AS c
        FROM pairs e1
        JOIN pairs e2 ON e1.ib = e2.ia
        WHERE EXISTS (SELECT 1 FROM pairs e3
                      WHERE e3.ia = e1.ia AND e3.ib = e2.ib)
    ),
    corners AS (
        SELECT a AS node FROM tris
        UNION ALL SELECT b FROM tris
        UNION ALL SELECT c FROM tris
    ),
    verts AS (
        SELECT DISTINCT ia AS node FROM pairs
        UNION SELECT ib FROM pairs
    )
    SELECT v.node, CAST(coalesce(c.n, 0) AS BIGINT) AS n_triangles
    FROM verts v LEFT JOIN (
        SELECT node, count(*) AS n FROM corners GROUP BY node
    ) c ON v.node = c.node
"""


TRIANGLE_SQL = _triangle_sql()
# triangle_count registers in operators/overflow.py (post-budget).


def _affinity_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent brand co-purchase pairs as directed edges (both
    directions) — the same bi frame + thresholds as q_basket_affinity's
    pair section, via _affinity_pairs."""
    pairs = _affinity_pairs(spark, sf_dir)
    fwd = pairs.select(F.col("ia").alias("src"), F.col("ib").alias("dst"))
    rev = pairs.select(F.col("ib").alias("src"), F.col("ia").alias("dst"))
    return fwd.unionByName(rev)


def q_pagerank_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ranked = pagerank(_affinity_edges(spark, sf_dir))
    return ranked.select(
        F.col("node").alias("item"),
        F.col("out_deg").cast("int").alias("out_deg"),
        F.round(F.col("rank") + 1e-9, 6).alias("rank"),
    )


def _pagerank_sql() -> str:
    from propensity_spark.operators.extended import (
        MAX_BASKET_ITEMS,
        MIN_SUPPORT,
    )
    from propensity_spark.operators.relational import SILVER_SQL

    d = PR_DAMPING
    iter_ctes = []
    for i in range(1, PR_ITERS + 1):
        prev = f"r{i - 1}"
        iter_ctes.append(
            f"""c{i} AS (
        SELECT e.dst AS node, sum(r.rank / dg.out_deg) AS c
        FROM edges e
        JOIN {prev} r ON e.src = r.node
        JOIN deg dg ON dg.src = e.src
        GROUP BY e.dst
    ),
    r{i} AS (
        SELECT v.node, round((1 - {d}) / nn.n + {d} * coalesce(c.c, 0.0), 12) AS rank
        FROM verts v CROSS JOIN nn LEFT JOIN c{i} c ON c.node = v.node
    )"""
        )
    chain = ",\n    ".join(iter_ctes)
    return f"""
    WITH s AS MATERIALIZED ({SILVER_SQL}),
    bi_all AS MATERIALIZED (
        SELECT DISTINCT s.basket_id, p.p_brand AS item
        FROM s JOIN part p ON s.product_id = p.p_partkey
    ),
    bi AS MATERIALIZED (
        SELECT * FROM bi_all WHERE basket_id IN (
            SELECT basket_id FROM bi_all GROUP BY basket_id
            HAVING count(*) <= {MAX_BASKET_ITEMS}
        )
    ),
    nb AS (SELECT count(DISTINCT basket_id) AS nb FROM bi),
    pairs AS (
        SELECT a.item AS ia, b.item AS ib
        FROM bi a JOIN bi b ON a.basket_id = b.basket_id AND a.item < b.item, nb
        GROUP BY 1, 2, nb.nb
        HAVING count(*) * 1.0 / nb >= {MIN_SUPPORT}
    ),
    edges AS (
        SELECT ia AS src, ib AS dst FROM pairs
        UNION ALL
        SELECT ib, ia FROM pairs
    ),
    deg AS (SELECT src, CAST(count(*) AS BIGINT) AS out_deg FROM edges GROUP BY src),
    verts AS (SELECT DISTINCT src AS node FROM edges),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM verts),
    r0 AS (SELECT node, round(1.0 / n, 12) AS rank FROM verts, nn),
    {chain}
    SELECT r.node AS item, CAST(dg.out_deg AS INT) AS out_deg,
           round(r.rank + 1e-9, 6) AS rank
    FROM r{PR_ITERS} r JOIN deg dg ON dg.src = r.node
"""


PAGERANK_SQL = _pagerank_sql()
# pagerank_affinity registers in operators/overflow.py (post-budget).


def q_hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive-CTE hierarchy rollup (WITH RECURSIVE landed in Spark
    4.x — Catalyst executes the recursion as an iterative union, so
    each level is one distributed join, no driver loop): customers
    form a deterministic 10-ary tree (parent = custkey/10), the
    ancestor-descendant closure is built recursively (SELF-inclusive),
    and each node rolls up its subtree size and subtree order revenue.
    Closure size is n * depth (depth = log10 n), NOT n^2 — at 150M
    customers that's ~9 levels, and the per-level join is key-
    partitioned. DuckDB runs the IDENTICAL recursive SQL as oracle."""
    from propensity_spark.io import load_table

    # r10 REJECTED: pre-partitioning h_customer on the per-level join
    # key (CAST(floor(c_custkey/10.0) AS BIGINT) — the guide §2.4
    # reuse-point pattern the r09 VERDICT suggested) measured WORSE at
    # sf0.1 (interleaved noop min-of-4: 1.24 -> 1.64 s, slower in every
    # round pair): Spark 4's UnionLoop replays the loop-body plan per
    # level and does NOT recognize the base relation's pre-established
    # distribution across levels, so the upfront exchange is pure cost.
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "h_customer"
    )
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("h_orders")
    return spark.sql(HIERARCHY_BODY)


# Shared verbatim by Spark and the DuckDB oracle (fixture views are
# pre-registered as `customer`/`orders` on the oracle side; the Spark
# side registers h_-prefixed temp views to avoid clobbering session
# state). CAST/round discipline per the cross-engine rules.
_HIERARCHY_TEMPLATE = """
    WITH RECURSIVE closure(ancestor, descendant) AS (
        SELECT c_custkey, c_custkey FROM {customer}
        UNION ALL
        SELECT cl.ancestor, c.c_custkey
        FROM closure cl
        JOIN {customer} c
          ON CAST(floor(c.c_custkey / 10.0) AS BIGINT) = cl.descendant
         AND c.c_custkey > 9
    ),
    rev AS (
        SELECT o_custkey, sum(o_totalprice) AS r
        FROM {orders} GROUP BY o_custkey
    )
    SELECT cl.ancestor AS custkey,
           CAST(count(*) AS BIGINT) AS subtree_size,
           round(coalesce(sum(rev.r), 0.0) + 1e-6, 2) AS subtree_revenue
    FROM closure cl LEFT JOIN rev ON rev.o_custkey = cl.descendant
    GROUP BY cl.ancestor
"""

HIERARCHY_BODY = _HIERARCHY_TEMPLATE.format(
    customer="h_customer", orders="h_orders"
)
HIERARCHY_SQL = _HIERARCHY_TEMPLATE.format(
    customer="customer", orders="orders"
)


# --------------------------------------------------------------------------
# k-core decomposition: iteratively peel nodes of degree < k until only
# the k-core survives. The third member of the iterative-graph family
# (pagerank: global centrality; triangles: local clustering; k-core:
# cohesive subgraph extraction — the classic spam/bot-cluster and
# community-seed primitive).
KCORE_K = 3
KCORE_ITERS = 8  # fixpoint reached well inside this on the fixture
KCORE_MIN_COOCCUR = 2


def _copurchase_part_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part-level co-purchase graph: parts co-occurring in >= 
    KCORE_MIN_COOCCUR orders, symmetric. Sparser than the brand graph
    (which is complete at fixture scale — useless for peeling). The
    basket self-join is bounded: TPC-H orders carry <= 7 lineitems, and
    a defensive cap mirrors MAX_BASKET_ITEMS for schema variants where
    baskets can run hot."""
    from propensity_spark.io import load_table
    from propensity_spark.operators.extended import MAX_BASKET_ITEMS

    li = load_table(spark, sf_dir, "lineitem")
    bi_all = li.select(
        F.col("l_orderkey").alias("b"), F.col("l_partkey").alias("i")
    ).dropDuplicates(["b", "i"])
    sizes = bi_all.groupBy("b").agg(F.count(F.lit(1)).alias("__bn"))
    bi = bi_all.join(
        sizes.where(F.col("__bn") <= MAX_BASKET_ITEMS), "b"
    ).drop("__bn")
    a, b = bi.alias("a"), bi.alias("b")
    pairs = (
        a.join(b, (F.col("a.b") == F.col("b.b")) & (F.col("a.i") < F.col("b.i")))
        .groupBy(F.col("a.i").alias("ia"), F.col("b.i").alias("ib"))
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= KCORE_MIN_COOCCUR)
        .select("ia", "ib")
    )
    return pairs.selectExpr("ia AS src", "ib AS dst").unionByName(
        pairs.selectExpr("ib AS src", "ia AS dst")
    )


def kcore_peel(
    edges_sym: DataFrame,
    k: int = KCORE_K,
    iters: int = KCORE_ITERS,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Onion decomposition at threshold k: every node annotated with
    the peel round that removed it (1-based; NULL = survived into the
    k-core) plus its within-core degree if it survived. Richer than
    the bare core membership — the peel depth is a cohesion ordering
    (nodes peeled later sit in denser neighbourhoods), and the output
    covers EVERY node at any scale, even when the k-core itself is
    empty. Peeling is monotone (a removed node never returns), so
    peel_round = the number of rounds a node was present in — one
    union-all count over the per-round node snapshots, no per-round
    anti-joins."""
    e = edges_sym
    snapshots = [e.select("src").distinct()]
    # r10: early-stop at the observed fixpoint. Peeling is MONOTONE (a
    # removed edge never returns), so equal edge counts across a round
    # imply the edge SETS are equal and every later round is a no-op —
    # the count is a perfect fixpoint test here, cheaper than the CC
    # signature. Output is identical to the full unroll: a node peeled
    # in round j <= rounds_run keeps __pr = j, and survivors are present
    # in all rounds_run+1 snapshots exactly as they would be in all
    # iters+1 (the skipped rounds change neither membership nor
    # degrees). The DuckDB oracle stays the fixed unrolled chain.
    prev_cnt = None
    rounds_run = 0
    for _ in range(iters):
        keep = (
            e.groupBy("src")
            .agg(F.count(F.lit(1)).alias("__d"))
            .where(F.col("__d") >= k)
            .select("src")
        )
        e = e.join(keep, "src", "leftsemi").join(
            keep.withColumnRenamed("src", "dst"), "dst", "leftsemi"
        )
        e = cut_lineage(e, checkpoint_dir, eager=False)
        snapshots.append(e.select("src").distinct())
        rounds_run += 1
        cnt = e.count()
        if cnt == prev_cnt:
            break
        prev_cnt = cnt
    present = snapshots[0]
    for s in snapshots[1:]:
        present = present.unionByName(s)
    present = present.groupBy("src").agg(F.count(F.lit(1)).alias("__pr"))
    core = e.groupBy("src").agg(F.count(F.lit(1)).alias("core_deg"))
    survived = rounds_run + 1
    return present.join(core, "src", "left").select(
        F.col("src").alias("node"),
        F.when(F.col("__pr") == survived, F.lit(None))
        .otherwise(F.col("__pr"))
        .cast("int")
        .alias("peeled_round"),
        F.col("core_deg").cast("int").alias("core_deg"),
    )


def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate entry: onion (k-core peel) decomposition of the part
    co-purchase graph at k=3 — peel depth per part, within-core degree
    for the survivors (the densest cross-sell cluster seeds)."""
    edges = _copurchase_part_edges(spark, sf_dir)
    # The edge derivation (a basket self-join) is loop-invariant but
    # sits in every peel round's lineage — cut it once up front.
    return kcore_peel(cut_lineage(edges)).select(
        F.col("node").alias("part_id"), "peeled_round", "core_deg"
    )


def _kcore_sql() -> str:
    from propensity_spark.operators.extended import MAX_BASKET_ITEMS

    k = KCORE_K
    # Each peel round re-derives both endpoint degrees with two window
    # counts over ONE scan of the previous round's edges — the single-
    # reference form that also fits a recursive CTE, unrolled here to
    # a fixed chain (the pagerank oracle pattern).
    snap_union = "\n        UNION ALL\n        ".join(
        f"SELECT DISTINCT src FROM e{i}" for i in range(KCORE_ITERS + 1)
    )
    survived = KCORE_ITERS + 1
    rounds = ",\n    ".join(
        f"""e{i} AS (
        SELECT src, dst FROM (
            SELECT src, dst,
                   count(*) OVER (PARTITION BY src) AS ds,
                   count(*) OVER (PARTITION BY dst) AS dd
            FROM e{i - 1}
        ) WHERE ds >= {k} AND dd >= {k}
    )"""
        for i in range(1, KCORE_ITERS + 1)
    )
    return f"""
    WITH bi_all AS (
        SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
    ),
    bi AS MATERIALIZED (
        SELECT * FROM bi_all WHERE b IN (
            SELECT b FROM bi_all GROUP BY b
            HAVING count(*) <= {MAX_BASKET_ITEMS}
        )
    ),
    pairs AS (
        SELECT a.i AS ia, b.i AS ib
        FROM bi a JOIN bi b ON a.b = b.b AND a.i < b.i
        GROUP BY 1, 2
        HAVING count(*) >= {KCORE_MIN_COOCCUR}
    ),
    e0 AS (
        SELECT ia AS src, ib AS dst FROM pairs
        UNION ALL
        SELECT ib, ia FROM pairs
    ),
    {rounds},
    snapshots AS (
        {snap_union}
    ),
    present AS (
        SELECT src, count(*) AS pr FROM snapshots GROUP BY src
    ),
    core AS (
        SELECT src, count(*) AS cd FROM e{KCORE_ITERS} GROUP BY src
    )
    SELECT p.src AS part_id,
           CAST(CASE WHEN p.pr = {survived} THEN NULL ELSE p.pr END AS INT)
               AS peeled_round,
           CAST(c.cd AS INT) AS core_deg
    FROM present p LEFT JOIN core c ON p.src = c.src
"""


KCORE_SQL = _kcore_sql()
# kcore registers in operators/overflow.py (post-budget).


BFS_MAX_HOPS = 4


def bfs_hops(edges_sym: DataFrame, sources: DataFrame,
             max_hops: int = BFS_MAX_HOPS,
             checkpoint_dir: str | None = None) -> DataFrame:
    """Multi-source BFS hop distance on a symmetric edge list: frontier
    expansion with a min-hop accumulator, one join + one min-agg per
    hop (the iterative-family member measuring REACH where pagerank
    measures influence). Distances are exact for nodes within
    max_hops; unreached nodes are absent. Each hop's frontier joins
    the edge list on src — a hash equi-join at any scale — and the
    visited set stays (node, hop)-minimal so state is bounded by
    |reachable nodes|."""
    visited = sources.select(F.col(sources.columns[0]).alias("node")).distinct().withColumn(
        "hop", F.lit(0)
    )
    frontier = visited
    for h in range(1, max_hops + 1):
        nxt = (
            frontier.join(edges_sym, frontier.node == edges_sym.src)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("hop", F.lit(h))
        )
        # eager=False (r10): the eager cut ran an extra count job per
        # hop just to materialize the frontier; non-eager checkpoints on
        # the frontier's FIRST consumption (the next hop's join), and the
        # second consumer (the visited union) reads the checkpointed
        # blocks — same single evaluation, one job fewer per hop.
        nxt = cut_lineage(nxt, checkpoint_dir, eager=False)
        visited = visited.unionByName(nxt)
        visited = cut_lineage(visited, checkpoint_dir, eager=False)
        frontier = nxt
    return visited.select("node", F.col("hop").cast("int").alias("hop"))


def q_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate entry: hop distance from the top-degree part (the
    co-purchase hub) over the part co-purchase graph — 'how many
    cross-sell steps from the catalog's center is each product'."""
    edges = _copurchase_part_edges(spark, sf_dir)
    from propensity_spark.operators.graph import cut_lineage as _cl

    edges = _cl(edges)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    hub = deg.orderBy(F.desc("d"), "src").limit(1).select("src")
    return bfs_hops(edges, hub).select(
        F.col("node").alias("part_id"), "hop"
    )


def _bfs_sql() -> str:
    from propensity_spark.operators.extended import MAX_BASKET_ITEMS

    hops = []
    prev_vis = "v0"
    for h in range(1, BFS_MAX_HOPS + 1):
        hops.append(f"""f{h} AS MATERIALIZED (
        SELECT DISTINCT e.dst AS node
        FROM {"v0" if h == 1 else f"f{h - 1}"} f JOIN e0 e ON f.node = e.src
        WHERE e.dst NOT IN (SELECT node FROM {prev_vis})
    ),
    v{h} AS MATERIALIZED (
        SELECT node, hop FROM {prev_vis}
        UNION ALL
        SELECT node, {h} AS hop FROM f{h}
    )""")
        prev_vis = f"v{h}"
    chain = ",\n    ".join(hops)
    return f"""
    WITH bi_all AS (
        SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
    ),
    bi AS MATERIALIZED (
        SELECT * FROM bi_all WHERE b IN (
            SELECT b FROM bi_all GROUP BY b
            HAVING count(*) <= {MAX_BASKET_ITEMS}
        )
    ),
    pairs AS (
        SELECT a.i AS ia, b.i AS ib
        FROM bi a JOIN bi b ON a.b = b.b AND a.i < b.i
        GROUP BY 1, 2
        HAVING count(*) >= {KCORE_MIN_COOCCUR}
    ),
    e0 AS MATERIALIZED (
        SELECT ia AS src, ib AS dst FROM pairs
        UNION ALL
        SELECT ib, ia FROM pairs
    ),
    deg AS (SELECT src, count(*) AS d FROM e0 GROUP BY src),
    v0 AS MATERIALIZED (
        SELECT src AS node, 0 AS hop FROM deg
        ORDER BY d DESC, src LIMIT 1
    ),
    {chain}
    SELECT node AS part_id, CAST(hop AS INT) AS hop FROM {prev_vis}
"""


BFS_SQL = _bfs_sql()
# bfs_hops registers in operators/overflow.py (post-budget).


def q_graph_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row structural summary of the part co-purchase graph:
    node/edge counts, mean degree, degree assortativity (Pearson r of
    endpoint degrees over the symmetric edge list — disassortative
    r < 0 means hubs attach to leaves, the hallmark of skew the
    degree-ordered triangle path exploits), component count and
    giant-component share (via the same large-star/small-star CC the
    dedup family uses). Everything is degree-join + corr + CC — no
    quadratic step; corr is a 1-row aggregate with map-side
    partials."""
    from propensity_spark.text.dedup import connected_components

    edges = cut_lineage(_copurchase_part_edges(spark, sf_dir))
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    n_nodes = deg.count()
    withd = (
        edges.join(deg.selectExpr("src", "d AS du"), "src")
        .join(deg.selectExpr("src AS dst", "d AS dv"), "dst")
    )
    basic = withd.agg(
        (F.count(F.lit(1)) / 2).cast("bigint").alias("n_edges"),
        F.round(F.corr("du", "dv") + 1e-9, 4).alias("assortativity"),
        F.round(F.avg("du") + 1e-9, 4).alias("mean_degree"),
    )
    comp = connected_components(edges)
    linked = edges.select("src").distinct()
    comp = linked.join(comp, linked.src == comp.node, "leftouter").select(
        F.coalesce("component", F.col("src")).alias("component")
    )
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("sz"))
    cstats = sizes.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_components"),
        F.round(F.max("sz") / F.lit(float(n_nodes)) + 1e-9, 6).alias("giant_share"),
    )
    return basic.crossJoin(cstats).select(
        F.lit(n_nodes).cast("bigint").alias("n_nodes"),
        "n_edges",
        "mean_degree",
        "assortativity",
        "n_components",
        "giant_share",
    )


def _graph_stats_sql(rounds: int = 32) -> str:
    from propensity_spark.operators.extended import MAX_BASKET_ITEMS

    # Component labels via UNROLLED min-label propagation, the same
    # bounded-oracle idiom as bfs_hops/kcore/ppr: each round is one
    # node-grain table (n + e input rows, grouped back to n), so DuckDB
    # memory stays flat and spillable. The previous reachability
    # recursive CTE materialized the full transitive closure —
    # O(n x component size) pairs — which at sf1 grew past physical RAM
    # (87 GB RSS, OOM-killed; recursive-CTE working tables also dodge
    # duckdb's memory_limit). `rounds` bounds the label travel distance;
    # co-purchase graphs are small-world (diameter << 32), and the
    # final SELECT returns ZERO rows if round R != R-1 (unconverged), so
    # an undersized unroll fails the gate loudly instead of mislabeling.
    lbl_chain = []
    for k in range(1, rounds + 1):
        lbl_chain.append(f"""
    l{k} AS MATERIALIZED (
        SELECT node, min(lab) AS lab FROM (
            SELECT node, lab FROM l{k - 1}
            UNION ALL
            SELECT e.dst AS node, l.lab FROM l{k - 1} l JOIN e0 e ON e.src = l.node
        ) GROUP BY node
    )""")
    chain = ",".join(lbl_chain)
    last, prev = f"l{rounds}", f"l{rounds - 1}"

    return f"""
    WITH bi_all AS (
        SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
    ),
    bi AS MATERIALIZED (
        SELECT * FROM bi_all WHERE b IN (
            SELECT b FROM bi_all GROUP BY b
            HAVING count(*) <= {MAX_BASKET_ITEMS}
        )
    ),
    pairs AS MATERIALIZED (
        SELECT a.i AS ia, b.i AS ib
        FROM bi a JOIN bi b ON a.b = b.b AND a.i < b.i
        GROUP BY 1, 2
        HAVING count(*) >= {KCORE_MIN_COOCCUR}
    ),
    e0 AS MATERIALIZED (
        SELECT ia AS src, ib AS dst FROM pairs
        UNION ALL SELECT ib, ia FROM pairs
    ),
    deg AS MATERIALIZED (SELECT src, count(*) AS d FROM e0 GROUP BY src),
    basic AS (
        SELECT CAST(count(*) / 2 AS BIGINT) AS n_edges,
               round(corr(du.d, dv.d) + 1e-9, 4) AS assortativity,
               round(avg(du.d) + 1e-9, 4) AS mean_degree
        FROM e0
        JOIN deg du ON e0.src = du.src
        JOIN deg dv ON e0.dst = dv.src
    ),
    l0 AS MATERIALIZED (SELECT src AS node, src AS lab FROM deg),
    {chain},
    unconverged AS (
        SELECT count(*) AS c FROM {last} a JOIN {prev} b
        ON a.node = b.node AND a.lab <> b.lab
    ),
    comp AS (SELECT node AS src, lab AS component FROM {last}),
    sizes AS (SELECT component, count(*) AS sz FROM comp GROUP BY component),
    cstats AS (
        SELECT CAST(count(*) AS BIGINT) AS n_components,
               round(max(sz) * 1.0 / (SELECT count(*) FROM deg) + 1e-9, 6)
                   AS giant_share
        FROM sizes
    )
    SELECT CAST((SELECT count(*) FROM deg) AS BIGINT) AS n_nodes,
           b.n_edges, b.mean_degree, b.assortativity,
           c.n_components, c.giant_share
    FROM basic b CROSS JOIN cstats c
    WHERE (SELECT c FROM unconverged) = 0
"""


GRAPH_STATS_SQL = _graph_stats_sql()
# graph_stats registers in operators/overflow.py (post-budget).


PPR_ITERS = 6


def personalized_pagerank(
    edges: DataFrame,
    source: str,
    d: float = PR_DAMPING,
    iters: int = PPR_ITERS,
    checkpoint: bool = True,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Personalized PageRank: identical power iteration to pagerank()
    but the teleport mass (1-d) lands ENTIRELY on the source node
    instead of uniformly — the random walk keeps restarting at the
    source, so rank becomes 'proximity to source weighted by all
    paths', the classic related-items / local-recommendation score
    (vs pagerank's global centrality). Same one-shuffle-per-iteration
    profile, same 12dp per-step rounding for the unrolled-CTE oracle."""
    if checkpoint:
        # pre-partition rejected for the same reason as in pagerank():
        # AQE checkpoints record UnknownPartitioning, so it cannot be
        # reused by the per-iteration joins.
        edges = cut_lineage(edges, checkpoint_dir, eager=False)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    verts = edges.select(F.col("src").alias("node")).distinct()
    if checkpoint:
        deg = cut_lineage(deg, checkpoint_dir, eager=False)
        verts = cut_lineage(verts, checkpoint_dir, eager=False)
    teleport = F.when(F.col("node") == source, F.lit(1.0)).otherwise(F.lit(0.0))
    ranks = verts.select("node", F.expr(f"round(cast(node = '{source}' as double), 12)").alias("rank"))
    for _ in range(iters):
        contribs = (
            edges.join(ranks.select(F.col("node").alias("src"), "rank"), "src")
            .join(deg, "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.expr("rank / out_deg")).alias("c"))
        )
        ranks = verts.join(contribs, "node", "left").select(
            "node",
            F.round(
                (1 - d) * teleport + d * F.coalesce("c", F.lit(0.0)), 12
            ).alias("rank"),
        )
        if checkpoint:  # every round, as in pagerank()
            ranks = cut_lineage(ranks, checkpoint_dir, eager=False)
    return ranks


def q_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate entry: PPR from the top-degree brand over the co-purchase
    graph — 'brands a shopper orbiting the hub brand reaches', the
    walk-based related-items score next to item_cf's cosine."""
    edges = _affinity_edges(spark, sf_dir)
    edges = cut_lineage(edges, eager=False)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    hub = deg.orderBy(F.desc("d"), "src").limit(1).collect()[0].src
    ranked = personalized_pagerank(edges, hub)
    return ranked.select(
        F.col("node").alias("item"),
        F.round(F.col("rank") + 1e-9, 6).alias("ppr"),
    )


def _ppr_sql() -> str:
    from propensity_spark.operators.extended import (
        MAX_BASKET_ITEMS,
        MIN_SUPPORT,
    )
    from propensity_spark.operators.relational import SILVER_SQL

    d = PR_DAMPING
    iter_ctes = []
    for i in range(1, PPR_ITERS + 1):
        prev = f"r{i - 1}"
        iter_ctes.append(
            f"""c{i} AS MATERIALIZED (
        SELECT e.dst AS node, sum(r.rank / dg.out_deg) AS c
        FROM edges e
        JOIN {prev} r ON e.src = r.node
        JOIN deg dg ON dg.src = e.src
        GROUP BY e.dst
    ),
    r{i} AS MATERIALIZED (
        SELECT v.node,
               round((1 - {d}) * CAST(v.node = (SELECT s FROM hub) AS DOUBLE)
                     + {d} * coalesce(c.c, 0.0), 12) AS rank
        FROM verts v LEFT JOIN c{i} c ON c.node = v.node
    )"""
        )
    chain = ",\n    ".join(iter_ctes)
    return f"""
    WITH s AS MATERIALIZED ({SILVER_SQL}),
    bi_all AS MATERIALIZED (
        SELECT DISTINCT s.basket_id, p.p_brand AS item
        FROM s JOIN part p ON s.product_id = p.p_partkey
    ),
    bi AS MATERIALIZED (
        SELECT * FROM bi_all WHERE basket_id IN (
            SELECT basket_id FROM bi_all GROUP BY basket_id
            HAVING count(*) <= {MAX_BASKET_ITEMS}
        )
    ),
    nb AS (SELECT count(DISTINCT basket_id) AS nb FROM bi),
    pairs AS MATERIALIZED (
        SELECT a.item AS ia, b.item AS ib
        FROM bi a JOIN bi b ON a.basket_id = b.basket_id AND a.item < b.item, nb
        GROUP BY 1, 2, nb.nb
        HAVING count(*) * 1.0 / nb >= {MIN_SUPPORT}
    ),
    edges AS MATERIALIZED (
        SELECT ia AS src, ib AS dst FROM pairs
        UNION ALL SELECT ib, ia FROM pairs
    ),
    deg AS MATERIALIZED (SELECT src, CAST(count(*) AS BIGINT) AS out_deg
                         FROM edges GROUP BY src),
    verts AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges),
    hub AS MATERIALIZED (
        SELECT src AS s FROM deg ORDER BY out_deg DESC, src LIMIT 1
    ),
    r0 AS MATERIALIZED (
        SELECT node, round(CAST(node = (SELECT s FROM hub) AS DOUBLE), 12)
            AS rank
        FROM verts
    ),
    {chain}
    SELECT node AS item, round(rank + 1e-9, 6) AS ppr FROM r{PPR_ITERS}
"""


PPR_SQL = _ppr_sql()
# personalized_pagerank registers in operators/overflow.py (post-budget).


# --- gate registration (moved from the retired operators/overflow.py shim) ---
# Entries past the driver's 50-row budget register here, next to their
# operators; __spark_entry__ merges every module's QUERIES/ORACLES and
# DRIVER_GATE_PRIORITY decides what the driver sees.
QUERIES = {
    "pagerank_affinity": q_pagerank_affinity,
    "triangle_count": q_triangle_count,
    "hierarchy_rollup": q_hierarchy_rollup,
    "kcore_parts": q_kcore,
    "bfs_hops": q_bfs_hops,
    "graph_stats": q_graph_stats,
    "ppr_affinity": q_personalized_pagerank,
}

ORACLES = {
    "pagerank_affinity": PAGERANK_SQL,
    "triangle_count": TRIANGLE_SQL,
    "hierarchy_rollup": HIERARCHY_SQL,
    "kcore_parts": KCORE_SQL,
    "bfs_hops": BFS_SQL,
    "graph_stats": GRAPH_STATS_SQL,
    "ppr_affinity": PPR_SQL,
}
