"""Deduplication operators for LLM training-data pipelines
(extension scope, SURVEY.md §7 step 8) over `documents`.

Scale design: the only O(n^2) step anywhere is confined to CANDIDATE
pairs that already share a band/bucket/shingle — never all-pairs.
* exact dedup      — hash groupBy on normalized text: one shuffle.
* MinHash + bands  — signature is a map-side explode + min-agg
  (shuffle on doc_id), banding joins docs only within equal band
  values: the classic shingle->minhash->band->bucket-join pipeline.
* SimHash          — bit votes aggregated per doc; near-dup = equal
  (or low-Hamming) fingerprints; one shuffle.
* n-gram Jaccard   — exact verification join, used AFTER banding at
  scale; here also exposed standalone for the oracle check.

Hash function: 32-bit integer from the first 8 hex chars of md5 —
chosen because Spark and DuckDB both compute identical md5, making
every one of these pipelines oracle-checkable end-to-end (Spark's
murmur `hash()` has no DuckDB twin).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from propensity_spark.io import load_table

N_HASHES = 8
BAND_SIZE = 2  # 4 bands x 2 rows
SIM_BITS = 16
JACCARD_THRESHOLD = 0.3

# --- dialect fragments ---------------------------------------------------
# word 3-gram shingles over the space-tokenized text
_SHINGLES_DUCK = (
    "[array_to_string(string_split(text, ' ')[i:i+2], ' ')"
    " FOR i IN range(1, greatest(len(string_split(text, ' ')) - 1, 1))]"
)


def _md5i_spark(expr: str) -> str:
    return f"cast(conv(substr(md5(cast({expr} as binary)), 1, 8), 16, 10) as bigint)"


def _md5i_duck(expr: str) -> str:
    return f"CAST(('0x' || substr(md5({expr}), 1, 8)) AS BIGINT)"


_NORM_SPARK = "lower(trim(regexp_replace(text, ' +', ' ')))"
_NORM_DUCK = "lower(trim(regexp_replace(text, ' +', ' ', 'g')))"

# Shingle generation over a pre-split words column: evaluating
# split(text) INSIDE the transform lambda re-tokenizes the document once
# per shingle (O(words^2) char work per doc) — hoisting it into its own
# projection made the signature pass ~4x faster at sf0.1.
_SHINGLES_FROM_WORDS = (
    "CASE WHEN size(words) >= 3"
    " THEN transform(sequence(1, size(words) - 2),"
    " i -> concat_ws(' ', slice(words, i, 3)))"
    " ELSE array() END"
)


def _with_shingles(docs: DataFrame) -> DataFrame:
    return docs.select("doc_id", F.split("text", " ").alias("words")).select(
        "doc_id", F.expr(_SHINGLES_FROM_WORDS).alias("shingles")
    )


def _parallel_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, text) fanned out to the session's core count when the
    file's row-group layout starves the scan (guide §2.5): the
    shingle + per-shingle md5 map work above this is the engine's most
    CPU-dense path and survives column pruning (the hashes feed join
    keys), so it is the one place a scan-parallelism floor measurably
    wins (bench min-of-2x2: minhash_band_pairs 1.87 -> 1.47 s). The
    exchange carries only the two columns; production layouts (row
    groups every ~128 MB) never trigger it."""
    from propensity_spark.io import scan_floor_target

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    target = scan_floor_target(spark, sf_dir, "documents")
    if target:
        docs = docs.repartition(target, F.xxhash64("doc_id"))
    return docs


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5 groupBy on whitespace-normalized lowercase
    text; canonical row = min(doc_id). One hash-shuffle on the digest
    — the 100 TB plan is identical."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.expr(f"md5(cast({_NORM_SPARK} as binary))").alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("canonical_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


# Universal-hash family over ONE base hash per shingle: mh_i =
# min((A_i * h + B_i) mod P). One md5 per shingle instead of N_HASHES
# md5s (measured ~35% off the signature stage at sf0.1); the family is
# plain bigint arithmetic, identical in both engines. A_i < 2^28 keeps
# A_i * h < 2^60 — no bigint overflow for h < 2^32.
MH_P = 2147483647  # 2^31 - 1
MH_A = [((2654435761 * (i + 1)) % (1 << 28)) | 1 for i in range(N_HASHES)]
MH_B = [(40503 * (i + 7)) % MH_P for i in range(N_HASHES)]


def signatures_of(docs: DataFrame) -> DataFrame:
    """MinHash signatures of a documents frame: explode shingles, one
    md5 base hash per shingle, N_HASHES universal-hash min-aggregates
    per doc. Docs too short for a shingle get -1. Per-doc map+agg —
    trivially incremental: new documents' signatures never depend on
    the existing corpus."""
    exploded = _with_shingles(docs).select(
        "doc_id", F.explode_outer("shingles").alias("shingle")
    ).withColumn("h", F.expr(_md5i_spark("shingle")))
    aggs = [
        F.coalesce(
            F.min(F.expr(f"({MH_A[i]} * h + {MH_B[i]}) % {MH_P}")), F.lit(-1)
        ).alias(f"mh_{i}")
        for i in range(N_HASHES)
    ]
    return exploded.groupBy("doc_id").agg(*aggs)


def _signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return signatures_of(_parallel_docs(spark, sf_dir))


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _signatures(spark, sf_dir)


def _band_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding: two-row bands over the signature; candidate pair =
    docs agreeing on at least one band, counted per pair. Join key is
    the band value, so work scales with bucket sizes, not n^2.

    Shingle-less docs (signature all -1) are EXCLUDED before banding:
    they would all share one band value, turning the bucket join
    quadratic in their count (at 100 TB, millions of tiny docs -> one
    n^2 bucket) while being semantically meaningless as near-dup
    candidates."""
    stacked = band_table(_parallel_docs(spark, sf_dir))
    a, b = stacked.alias("a"), stacked.alias("b")
    return (
        a.join(b, "band_val")
        .where(F.expr("a.doc_id < b.doc_id"))
        .groupBy(F.expr("a.doc_id").alias("doc_a"), F.expr("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )


def band_table(docs: DataFrame) -> DataFrame:
    """(doc_id, band_val) rows — the persistable LSH INDEX: signature
    split into two-row bands, stacked long. Map-only per doc, so the
    index is append-only: a daily ingest writes just its own rows
    (partition by ingest day at scale) and never touches history."""
    sig = signatures_of(docs).where(F.col("mh_0") != -1)
    bands = sig.selectExpr(
        "doc_id",
        *[
            f"concat_ws('_', '{b}', mh_{BAND_SIZE * b}, mh_{BAND_SIZE * b + 1}) AS band_{b}"
            for b in range(N_HASHES // BAND_SIZE)
        ],
    )
    return bands.selectExpr(
        "doc_id",
        "stack({n}, {args}) AS band_val".format(
            n=N_HASHES // BAND_SIZE,
            args=", ".join(f"band_{b}" for b in range(N_HASHES // BAND_SIZE)),
        ),
    )


def q_minhash_band_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band candidates + exact n-gram Jaccard verification in one gate
    entry — the REAL scale pipeline: the O(n^2) work is confined to
    pairs that already share a band, and each candidate is then
    verified with the exact distinct-shingle Jaccard (array_intersect
    on the two shingle sets; candidates are rare so the per-pair array
    work is negligible). `is_dup` applies JACCARD_THRESHOLD."""
    cand = _band_candidates(spark, sf_dir)
    docs = _parallel_docs(spark, sf_dir)
    sets = _with_shingles(docs).select(
        "doc_id", F.expr("array_distinct(shingles)").alias("sh")
    )
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("common", F.expr("size(array_intersect(sh_a, sh_b))"))
        .withColumn(
            "jaccard",
            F.round(F.expr("1e-9 + common / (size(sh_a) + size(sh_b) - common)"), 6),
        )
        .select(
            "doc_a",
            "doc_b",
            "n_shared_bands",
            "common",
            "jaccard",
            (F.col("jaccard") >= JACCARD_THRESHOLD).cast("int").alias("is_dup"),
        )
    )


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprint: per-bit +/-1 votes from each distinct
    word's 32-bit hash, sign-aggregated into a SIM_BITS-bit value."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.explode(F.expr("array_distinct(split(text, ' '))")).alias("word")
    ).withColumn("h", F.expr(_md5i_spark("word")))
    votes = words.groupBy("doc_id").agg(
        *[
            F.sum(F.expr(f"CASE WHEN shiftright(h, {b}) & 1 = 1 THEN 1 ELSE -1 END")).alias(f"v_{b}")
            for b in range(SIM_BITS)
        ]
    )
    bit_sum = " + ".join(
        f"(CASE WHEN v_{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(SIM_BITS)
    )
    return votes.selectExpr("doc_id", f"CAST({bit_sum} AS BIGINT) AS simhash")


def exact_jaccard_pairs(docs: DataFrame, min_jaccard: float) -> DataFrame:
    """Exact distinct-shingle Jaccard pairs: shingle self-join ->
    |intersection| per pair -> J = c / (|A| + |B| - c). The shingle
    equi-join is exhaustive for J > 0 (disjoint sets never pair), so
    this is EXACT without an all-pairs cross join — but a hot shingle
    shared by k docs still yields k^2 pair rows, so at 100 TB this runs
    only on band candidates (q_minhash_band_pairs above)."""
    # One early hash(shingle) exchange = the plan's REUSE POINT (r09,
    # guide §2.4): the pair self-join needs both sides shuffled by
    # shingle anyway, and `sizes` is consumed twice (sa/sb) — without
    # this exchange Catalyst re-executes the scan+shingle+explode chain
    # under all four branches (it does not dedupe common subtrees, but
    # ReuseExchange DOES dedupe identical Exchange nodes). With it the
    # chain runs once; the join adds no further exchange (already
    # hash(shingle)-partitioned), and the two sizes branches reuse one
    # Exchange(doc_id). Deterministic under retry (hash of a real
    # column, not round-robin); a hot shingle lands one heavy task,
    # but the join's own exchange would have had the same skew.
    sh = (
        _with_shingles(docs)
        .select("doc_id", F.explode(F.expr("array_distinct(shingles)")).alias("shingle"))
        .repartition("shingle")
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(b, "shingle")
        .where(F.expr("a.doc_id < b.doc_id"))
        .groupBy(F.expr("a.doc_id").alias("doc_a"), F.expr("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard", F.round(F.expr("1e-9 + common / (n_a + n_b - common)"), 6)
        )
        .where(F.col("jaccard") >= min_jaccard)
        .select("doc_a", "doc_b", "common", "jaccard")
    )


MLLIB_EXACT_JACCARD = 0.5  # ground-truth pair threshold for the check
MLLIB_RECALL_FLOOR = 0.9


def q_minhash_lsh_mllib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib MinHashLSH (the built-in scale path next to the
    from-scratch banding), made oracle-checkable the same way as
    ann_lsh/ann_ivf: its hash family is JVM-internal so per-pair hashes
    have no DuckDB twin — the CHECK is exactness of the ground truth
    plus a recall floor. Sections:
      exact      — (doc_a, doc_b, round(J, 6)): the exact
                   distinct-shingle Jaccard pairs at J >= 0.5,
                   value-hash-checked against the DuckDB twin.
      recall_ok  — 1.0 iff approxSimilarityJoin's candidates cover
                   >= MLLIB_RECALL_FLOOR of those pairs. With
                   numHashTables=8 (OR-amplified), a J=0.5 pair is
                   missed w.p. (1-0.5)^8 ~ 0.4%, so the 0.9 floor holds
                   with wide margin; a recall regression hash-fails."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    # _parallel_docs: scan floor for both the LSH feature build and the
    # exact ground-truth side — the shingle/HashingTF map chain is CPU
    # and otherwise runs on one core over the one-row-group fixture.
    docs = _parallel_docs(spark, sf_dir)
    with_sh = _with_shingles(docs).where(F.size("shingles") > 0)
    tf = HashingTF(inputCol="shingles", outputCol="features", numFeatures=1 << 18)
    feats = tf.transform(with_sh)
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=8, seed=42)
    model = lsh.fit(feats)
    # distance threshold 0.6 (= sim 0.4) leaves margin for HashingTF
    # collisions perturbing the vector-space Jaccard near the boundary
    pairs = model.approxSimilarityJoin(feats, feats, 0.6, distCol="jaccard_dist")
    cand = (
        pairs.where(F.expr("datasetA.doc_id < datasetB.doc_id"))
        .select(
            F.expr("datasetA.doc_id").alias("doc_a"),
            F.expr("datasetB.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    exact = exact_jaccard_pairs(docs, MLLIB_EXACT_JACCARD)
    exact_rows = exact.select(
        F.lit("exact").alias("section"),
        F.col("doc_a").alias("a"),
        F.col("doc_b").alias("b"),
        F.col("jaccard").alias("v"),
    )
    n_exact = exact.agg(F.count(F.lit(1)).alias("n"))
    n_hit = exact.join(cand, ["doc_a", "doc_b"], "left_semi").agg(
        F.count(F.lit(1)).alias("h")
    )
    recall_row = (
        n_exact.crossJoin(n_hit)  # 1-row x 1-row broadcast, not a scan
        .select(
            F.lit("recall_ok").alias("section"),
            F.lit(-1).cast("bigint").alias("a"),
            F.lit(-1).cast("bigint").alias("b"),
            (
                F.when(F.col("n") == 0, F.lit(1.0)).otherwise(
                    F.col("h") / F.col("n")
                )
                >= MLLIB_RECALL_FLOOR
            )
            .cast("double")
            .alias("v"),
        )
    )
    return exact_rows.unionByName(recall_row)


# --- oracles -------------------------------------------------------------

# NULL shingles (shingle-less docs) propagate through the arithmetic
# to NULL -> coalesce(-1), matching the Spark side.
_sig_cols = ", ".join(
    f"coalesce(min(({MH_A[i]} * h + {MH_B[i]}) % {MH_P}), -1) AS mh_{i}"
    for i in range(N_HASHES)
)
_SIG_SQL = f"""
    SELECT doc_id, {_sig_cols}
    FROM (
        SELECT doc_id, {_md5i_duck("shingle")} AS h
        FROM (
            SELECT doc_id, unnest({_SHINGLES_DUCK}) AS shingle FROM documents
            UNION ALL
            SELECT doc_id, NULL AS shingle FROM documents
            WHERE len({_SHINGLES_DUCK}) = 0
        ) raw
    ) t
    GROUP BY doc_id
"""

_BANDS = N_HASHES // BAND_SIZE
# sigf = signatures with the shingle-less (-1) docs excluded, mirroring
# the engine's skew/semantics filter before banding.
_BAND_STACK = " UNION ALL ".join(
    f"SELECT doc_id, concat_ws('_', '{b}', mh_{BAND_SIZE * b}, mh_{BAND_SIZE * b + 1})"
    f" AS band_val FROM sigf"
    for b in range(_BANDS)
)
_CAND_SQL = f"""
    WITH sig AS ({_SIG_SQL}),
         sigf AS (SELECT * FROM sig WHERE mh_0 <> -1),
         stacked AS ({_BAND_STACK})
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared_bands
    FROM stacked a JOIN stacked b USING (band_val)
    WHERE a.doc_id < b.doc_id
    GROUP BY 1, 2
"""

ORACLES = {
    "dedup_exact": f"""
        SELECT md5({_NORM_DUCK}) AS text_hash,
               min(doc_id) AS canonical_doc_id,
               count(*) AS n_copies
        FROM documents
        GROUP BY 1
    """,
    "minhash_signatures": _SIG_SQL,
    # Ground truth for the MLlib LSH entry: exact distinct-shingle
    # Jaccard pairs at J >= 0.5, plus the recall-floor row the engine
    # must match with 1.0 (the ann_lsh/ann_ivf pattern).
    "minhash_lsh_mllib": f"""
        WITH sh AS (
            SELECT doc_id, unnest(list_distinct({_SHINGLES_DUCK})) AS shingle
            FROM documents
        ),
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        common AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
            FROM sh a JOIN sh b USING (shingle)
            WHERE a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        pairs AS (
            SELECT doc_a, doc_b,
                   round(1e-9 + CAST(common AS DOUBLE)
                         / (na.n_sh + nb.n_sh - common), 6) AS jaccard
            FROM common
            JOIN sizes na ON na.doc_id = doc_a
            JOIN sizes nb ON nb.doc_id = doc_b
        )
        SELECT 'exact' AS section, doc_a AS a, doc_b AS b, jaccard AS v
        FROM pairs WHERE jaccard >= {MLLIB_EXACT_JACCARD}
        UNION ALL
        SELECT 'recall_ok', CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), 1.0
    """,
    "minhash_band_pairs": f"""
        WITH cand AS ({_CAND_SQL}),
             sets AS (
                 SELECT doc_id, list_distinct({_SHINGLES_DUCK}) AS sh
                 FROM documents
             )
        SELECT doc_a, doc_b, n_shared_bands,
               CAST(len(list_intersect(sa.sh, sb.sh)) AS INT) AS common,
               round(1e-9 + CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                     / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))), 6)
                   AS jaccard,
               CAST(CASE WHEN round(1e-9 + CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                     / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))), 6)
                     >= {JACCARD_THRESHOLD} THEN 1 ELSE 0 END AS INT) AS is_dup
        FROM cand
        JOIN sets sa ON sa.doc_id = doc_a
        JOIN sets sb ON sb.doc_id = doc_b
    """,
}

# SimHash twin SQL — consumed by the neardup_suite oracle (the
# standalone `simhash` gate entry folded into that suite in round 3).
_SIMHASH_SQL = f"""
    WITH words AS (
        SELECT doc_id, {_md5i_duck("word")} AS h
        FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS word
              FROM documents) t
    ),
    votes AS (
        SELECT doc_id, {", ".join(
            f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v_{b}"
            for b in range(SIM_BITS)
        )}
        FROM words GROUP BY doc_id
    )
    SELECT doc_id, CAST({" + ".join(
        f"(CASE WHEN v_{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(SIM_BITS)
    )} AS BIGINT) AS simhash
    FROM votes
"""

QUERIES = {
    "dedup_exact": q_dedup_exact,
    "minhash_signatures": q_minhash_signatures,
    "minhash_band_pairs": q_minhash_band_pairs,
    "minhash_lsh_mllib": q_minhash_lsh_mllib,
}


def connected_components(
    edges: DataFrame,
    max_rounds: int = 12,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Star-forest reduction of an undirected (u, v) edge list via
    alternating LARGE-STAR / SMALL-STAR (Kiveris et al., "Connected
    Components in MapReduce and Beyond") — converges in O(log^2 n)
    rounds independent of graph diameter, unlike plain min-label
    propagation (O(diameter) rounds: a 10^6-long dup chain at web
    scale would need 10^6 rounds).

    Each round = one large-star + one small-star (2 aggs + 2 joins)
    and exactly ONE driver action: the eager lineage cut. Default is
    localCheckpoint; pass `checkpoint_dir` for reliable
    `df.checkpoint()` so a long cluster run survives executor loss
    (operators/graph.cut_lineage). Convergence (edge-set signature:
    count + key sums) is checked every 3rd round on the already-
    checkpointed edges instead of per-round. Returns (node, component)
    for nodes with at least one edge; component = min reachable id.
    """
    from propensity_spark.operators.graph import cut_lineage

    edges = edges.select(
        F.col(edges.columns[0]).alias("u"), F.col(edges.columns[1]).alias("v")
    ).where(F.col("u") != F.col("v")).distinct()
    # The first star round references the input edge frame on several
    # plan branches (union both directions + per-node min join); cut its
    # lineage once so an expensive upstream derivation (e.g. the LSH
    # band-candidate pipeline) is evaluated once, not per branch.
    edges = cut_lineage(edges, checkpoint_dir, eager=False)

    def large_star(e: DataFrame) -> DataFrame:
        """For each node u: attach every LARGER neighbor to u's current
        minimum m = min(N(u) + {u})."""
        nbrs = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = nbrs.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        return (
            nbrs.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        """Orient edges toward the smaller id; for each node u attach
        all its smaller neighbors (and u itself) to the minimum."""
        directed = (
            e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        mins = directed.groupBy("u").agg(F.min("v").alias("m"))
        relinked = (
            directed.join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mins.select("u", F.col("m").alias("v")))
        )
        return relinked.where(F.col("u") != F.col("v")).distinct()

    def _sig(e: DataFrame) -> tuple:
        """Edge-set signature: count + key sums + an order-insensitive
        xxhash64 XOR of the (u, v) pairs — the XOR term makes two
        DIFFERENT edge sets sharing (count, sum_u, sum_v) practically
        impossible to confuse for a fixpoint."""
        return tuple(
            e.agg(
                F.count(F.lit(1)),
                F.sum("u"),
                F.sum("v"),
                F.expr("bit_xor(xxhash64(u, v))"),
            ).collect()[0]
        )

    prev_sig = None
    converged = False
    for rnd in range(max_rounds):  # O(log^2 n); fixture converges in 2-3
        edges = cut_lineage(
            small_star(large_star(edges)), checkpoint_dir, eager=True
        )
        # r10: check the fixpoint EVERY round, not every 3rd. A star
        # round is 2 aggs + 2 joins (plus the eager cut's job); the
        # signature is one 1-row agg over the just-checkpointed edges —
        # strictly cheaper than the star rounds the old cadence kept
        # running past the fixpoint (a 2-round-converging graph ran 6
        # rounds before the every-3rd check could observe equality).
        # The fixpoint itself is unchanged, so labels are identical.
        sig = _sig(edges)
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    if not converged:
        # max_rounds exhausted without an observed fixpoint: verify with
        # one extra round rather than silently returning wrong labels (a
        # >max_rounds graph would mislabel components with no error).
        nxt = cut_lineage(small_star(large_star(edges)), checkpoint_dir, eager=True)
        if _sig(nxt) != _sig(edges):
            raise RuntimeError(
                f"connected_components: not converged after {max_rounds} "
                "rounds — raise max_rounds (Kiveris bound is O(log^2 n))"
            )
        edges = nxt
    # After convergence the edge set is a star forest: (node, root).
    return edges.groupBy(F.col("u").alias("node")).agg(
        F.min("v").alias("component")
    )


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-group assignment: connected components over the LSH
    band-candidate graph (see connected_components for the algorithm
    and its scale story). Output: (doc_id, component) where component
    = min doc_id reachable; isolated docs map to themselves."""
    cand = _band_candidates(spark, sf_dir).select("doc_a", "doc_b")
    roots = connected_components(
        cand.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    ).withColumnRenamed("node", "doc_id")
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return docs.join(roots, "doc_id", "leftouter").select(
        "doc_id", F.coalesce("component", "doc_id").alias("component")
    )


ORACLES["dedup_components"] = f"""
    WITH RECURSIVE pairs AS ({_CAND_SQL}),
         edges AS (
             SELECT doc_a, doc_b FROM pairs
             UNION SELECT doc_b, doc_a FROM pairs
         ),
         reach(src, dst) AS (
             SELECT doc_id, doc_id FROM documents
             UNION
             SELECT r.src, e.doc_b FROM reach r JOIN edges e ON r.dst = e.doc_a
         )
    SELECT src AS doc_id, min(dst) AS component
    FROM reach GROUP BY src
"""

QUERIES["dedup_components"] = q_dedup_components


# ---------------------------------------------------------------------------
# Benchmark decontamination: remove training docs that share long
# n-grams with an evaluation/benchmark set (the published guard against
# test-set leakage — GPT-3 App. C / PaLM-style 13-gram overlap; n is a
# parameter because the fixture docs are short).
# ---------------------------------------------------------------------------


def contaminated_doc_ids(
    docs: DataFrame, benchmark: DataFrame, n: int = 5
) -> DataFrame:
    """doc_ids from `docs` sharing at least one word n-gram with any
    benchmark text. Plan: explode both sides to (ngram) — the benchmark
    side is tiny (eval sets are ~10^3-10^5 rows) so its distinct ngram
    set BROADCASTS; the docs side is a map-side explode feeding a
    broadcast LEFT SEMI join + distinct on doc_id. At 100 TB the corpus
    is never shuffled by ngram — only the per-doc id distinct shuffles,
    bounded by |contaminated docs|."""
    grams = (
        "CASE WHEN size(words) >= {n}"
        " THEN transform(sequence(1, size(words) - {n} + 1),"
        " i -> concat_ws(' ', slice(words, i, {n})))"
        " ELSE array() END"
    ).format(n=n)

    def explode_ngrams(df: DataFrame) -> DataFrame:
        return (
            df.select("doc_id", F.split("text", " ").alias("words"))
            .select("doc_id", F.explode(F.expr(grams)).alias("ngram"))
        )

    bench_grams = explode_ngrams(benchmark).select("ngram").distinct()
    return (
        explode_ngrams(docs)
        .join(F.broadcast(bench_grams), "ngram", "left_semi")
        .select("doc_id")
        .distinct()
    )


# ---------------------------------------------------------------------------
# SimHash near-dup via block-split Hamming search (Manku, Jain & Sarma,
# WWW 2007): fingerprints within Hamming distance k must agree exactly
# on at least one of k+1 disjoint bit blocks — so candidate generation
# is an equi-join on block values, never an all-pairs Hamming scan.
# ---------------------------------------------------------------------------


def simhash_near_dup_pairs(
    spark: SparkSession, sf_dir: str, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash_a, simhash_b) <= max_hamming.
    Plan: split the SIM_BITS fingerprint into max_hamming+1 blocks
    (pigeonhole: <=k differing bits cannot touch every one of k+1
    blocks), equi-join per (block_idx, block_value) bucket, then verify
    the exact Hamming distance with bit_count on candidates only. At
    web scale the bucket join is the whole cost — identical shape to
    MinHash banding, O(sum bucket^2), never O(n^2)."""
    n_blocks = max_hamming + 1
    width = SIM_BITS // n_blocks
    fp = q_simhash(spark, sf_dir)
    blocks = fp.selectExpr(
        "doc_id",
        "simhash",
        "stack({n}, {args}) AS (block_idx, block_val)".format(
            n=n_blocks,
            args=", ".join(
                f"{b}, (simhash div {1 << (b * width)}) % {1 << width}"
                for b in range(n_blocks)
            ),
        ),
    )
    # Triangle-partitioned self-join. A bucket with B members emits
    # ~B^2/2 candidate pairs from ONE task under a plain equi-self-join:
    # massive dup cliques (identical simhash => all blocks shared) turn
    # into single-task stragglers that AQE's skew split cannot see —
    # its heuristics watch shuffle INPUT sizes, and the bucket input is
    # tiny while the join OUTPUT explodes (observed r08 at sf1: two
    # straggler tasks carrying most of 7.7e8 pairs for ~25 min).
    # Standard fix (the "triangle" join): hash members of oversized
    # buckets into g = ceil(B / cap) groups, enumerate the g*(g+1)/2
    # group-pair cells as join keys, so no task emits more than ~cap^2
    # pairs. Cell (i, j), i < j holds only orientation (member-of-i,
    # member-of-j), so pairs are normalized with least/greatest;
    # within-cell (i, i) both orientations appear and the existing
    # distinct (needed anyway — a pair can share several blocks)
    # collapses them. For B <= cap this degenerates to the plain join
    # (g = 1, one cell) at 2x input inflation — negligible, the input
    # side is the cheap side by construction.
    cap = 512
    sizes = blocks.groupBy("block_idx", "block_val").agg(
        F.count(F.lit(1)).alias("__bn")
    )
    mem = (
        blocks.join(sizes, ["block_idx", "block_val"])
        .withColumn("__g", F.expr(f"CAST(ceil(__bn / {cap}) AS INT)"))
        .withColumn("__gid", F.expr("CAST(pmod(xxhash64(doc_id), __g) AS INT)"))
    )
    left = mem.selectExpr(
        "block_idx", "block_val", "doc_id", "simhash",
        "__gid AS __i", "explode(sequence(__gid, __g - 1)) AS __j",
    )
    right = mem.selectExpr(
        "block_idx", "block_val", "doc_id", "simhash",
        "explode(sequence(0, __gid)) AS __i", "__gid AS __j",
    )
    # Pin the pair stage's parallelism: AQE coalesces the join's shuffle
    # from INPUT sizes (a few MB here), which would merge the triangle
    # cells right back into 1-2 tasks — observed live at sf1. An
    # explicit numPartitions repartition is user-specified partitioning,
    # which AQE does not coalesce, and the join reuses both exchanges
    # (same keys), so this adds no extra shuffle.
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    cell_keys = ["block_idx", "block_val", "__i", "__j"]
    a = left.repartition(n_part, *cell_keys).alias("a")
    b = right.repartition(n_part, *cell_keys).alias("b")
    return (
        a.join(b, cell_keys)
        .where(F.expr("a.doc_id <> b.doc_id"))
        .select(
            F.expr("least(a.doc_id, b.doc_id)").alias("doc_a"),
            F.expr("greatest(a.doc_id, b.doc_id)").alias("doc_b"),
            F.expr("bit_count(a.simhash ^ b.simhash)").alias("hamming"),
        )
        .distinct()  # a pair can share several blocks (and cell (i,i) both ways)
        .where(F.col("hamming") <= max_hamming)
    )


WINNOW_W = 4  # winnowing window (in shingle positions)


def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every 3-word shingle, then
    keep the MINIMUM hash of each sliding window of WINNOW_W shingles.
    Guarantees: any shared run of >= WINNOW_W + 2 words between two
    docs yields at least one shared fingerprint, while storing ~1/W of
    the shingle hashes. Entirely map-side (array lambdas in codegen);
    the fingerprint explode feeds the same bucket-join shape as MinHash
    banding for partial-overlap detection (plagiarism / quote reuse —
    cases where whole-doc MinHash similarity is too coarse)."""
    docs = load_table(spark, sf_dir, "documents")
    hashed = _with_shingles(docs).selectExpr(
        "doc_id",
        f"transform(shingles, s -> {_md5i_spark('s')}) AS hs",
    )
    wins = (
        f"CASE WHEN size(hs) = 0 THEN array()"
        f" WHEN size(hs) <= {WINNOW_W} THEN array(array_min(hs))"
        f" ELSE array_distinct(transform(sequence(1, size(hs) - {WINNOW_W} + 1),"
        f" i -> array_min(slice(hs, i, {WINNOW_W})))) END"
    )
    return hashed.select(
        "doc_id", F.explode(F.expr(wins)).alias("fingerprint")
    )


BOILER_MIN_DOCS = 2


def _boiler_from_lines(lines: DataFrame, min_docs: int) -> DataFrame:
    """Boilerplate set from an already-exploded (doc_id, line) frame:
    trimmed non-empty lines appearing in >= min_docs distinct docs.
    Shared by boilerplate_lines and strip_boilerplate so the two can't
    drift on trim/empty semantics."""
    return (
        lines.select("doc_id", F.trim("line").alias("line"))
        .where(F.col("line") != "")
        .groupBy("line")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .where(F.col("n_docs") >= min_docs)
    )


def boilerplate_lines(docs: DataFrame, min_docs: int = BOILER_MIN_DOCS) -> DataFrame:
    """CCNet-style corpus-level boilerplate detection: a (trimmed,
    non-empty) line that appears in >= `min_docs` DISTINCT documents is
    boilerplate — nav bars, cookie banners, license footers dominate
    web corpora and repeat across thousands of pages while real prose
    lines are (near-)unique.

    ONE shuffle: the explode is map-side, the distinct-document count
    groups on the line text. Partial aggregation dedupes per-document
    repeats map-side before the exchange. Returns (line, n_docs)."""
    lines = docs.select(
        "doc_id",
        F.explode(F.split(F.coalesce("text", F.lit("")), "\n")).alias("line"),
    )
    return _boiler_from_lines(lines, min_docs)


def strip_boilerplate(docs: DataFrame, min_docs: int = BOILER_MIN_DOCS) -> DataFrame:
    """Remove corpus-frequent lines from every document, preserving
    line order and non-boilerplate blank lines. Returns (doc_id,
    clean_text, n_removed_lines); a fully-boilerplate document comes
    back with clean_text = '' rather than vanishing.

    Shape at 100 TB: posexplode (map-side) -> LEFT join against the
    boilerplate key set to FLAG each line (a match means boilerplate)
    -> ONE per-document reassembly groupBy that both rebuilds the kept
    lines in order and counts the flagged ones. Flag-join-then-group
    instead of anti-join avoids a separate per-doc line-total pass and
    its extra join: the only shuffles are the boilerplate count-distinct
    (two-phase: (line, doc) dedup then line count) and the reassembly.
    The exploded lines are traversed TWICE (boilerplate counting, then
    reassembly) and deliberately NOT cached — recomputing a map-side
    split beats materializing the exploded corpus at 100 TB (the DSIR
    two-scan precedent). Empty documents survive because every doc
    keeps at least its flag rows. The join side is the >=min_docs line
    set — corpus_lines/min_docs at worst, tiny in practice — so AQE
    turns it into a broadcast join at runtime; no hint is forced in
    case a pathological corpus makes it large."""
    # NULL text normalizes to '' (split(NULL) explodes to ZERO rows,
    # which would silently drop the document from the output)
    lines = docs.select(
        "doc_id",
        F.posexplode(F.split(F.coalesce("text", F.lit("")), "\n")).alias(
            "pos", "line"
        ),
    )
    # boilerplate derived from the SAME exploded frame (one definition
    # of the line normalization, see _boiler_from_lines)
    boiler = _boiler_from_lines(lines, min_docs).select(F.col("line").alias("bline"))
    flagged = lines.join(boiler, F.trim(F.col("line")) == F.col("bline"), "left")
    return flagged.groupBy("doc_id").agg(
        F.expr(
            "concat_ws('\n', transform(array_sort("
            "filter(collect_list(struct(pos, line, bline IS NOT NULL AS rm)),"
            " s -> NOT s.rm)), s -> s.line))"
        ).alias("clean_text"),
        F.count(F.when(F.col("bline").isNotNull(), 1))
        .cast("bigint")
        .alias("n_removed_lines"),
    )


# ---------------------------------------------------------------------------
# neardup_suite: ONE tagged-union gate entry for the partial-overlap /
# near-dup family, so every operator above that previously rested on
# pytest evidence traces to a driver-green hash-matched CORRECTNESS row.
# Normalized shape (section, a, b, v) — all BIGINT keys/values:
#   simhash  — (doc_id, 0, fingerprint)          [q_simhash]
#   neardup  — (doc_a, doc_b, hamming)           [simhash_near_dup_pairs]
#   winnow   — (doc_id, fingerprint, 1)          [winnowing_fingerprints]
#   decontam — (doc_id, 0, 1)                    [contaminated_doc_ids]
#   boiler   — (doc_id, n_removed, md5i(clean))  [strip_boilerplate]
# The union concatenates five independent plans; each keeps its own
# scale-safe shape (block-bucket equi-join, map-only explodes). The
# boiler value hash pins EXACT text reconstruction (split -> anti-join
# -> ordered reassembly round-trips byte-for-byte), and on this fixture
# min_docs=2 makes boilerplate = exact-duplicate text clusters, so the
# detection arm is exercised too.
# ---------------------------------------------------------------------------

DECONTAM_N = 5


def q_neardup_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    big = F.lit(0).cast("bigint")
    one = F.lit(1).cast("bigint")
    sim = q_simhash(spark, sf_dir).select(
        F.lit("simhash").alias("section"),
        F.col("doc_id").alias("a"),
        big.alias("b"),
        F.col("simhash").cast("bigint").alias("v"),
    )
    nd = simhash_near_dup_pairs(spark, sf_dir).select(
        F.lit("neardup").alias("section"),
        F.col("doc_a").alias("a"),
        F.col("doc_b").alias("b"),
        F.col("hamming").cast("bigint").alias("v"),
    )
    win = winnowing_fingerprints(spark, sf_dir).select(
        F.lit("winnow").alias("section"),
        F.col("doc_id").alias("a"),
        F.col("fingerprint").alias("b"),
        one.alias("v"),
    )
    # Benchmark set = deterministic fixture subset (doc_id % 20 == 0):
    # the eval-set stand-in for the n-gram contamination anti-join.
    bench = docs.where(F.col("doc_id") % 20 == 0)
    dec = contaminated_doc_ids(docs, bench, n=DECONTAM_N).select(
        F.lit("decontam").alias("section"),
        F.col("doc_id").alias("a"),
        big.alias("b"),
        one.alias("v"),
    )
    boil = strip_boilerplate(docs).select(
        F.lit("boiler").alias("section"),
        F.col("doc_id").alias("a"),
        F.col("n_removed_lines").alias("b"),
        F.expr(_md5i_spark("clean_text")).alias("v"),
    )
    return (
        sim.unionByName(nd).unionByName(win).unionByName(dec).unionByName(boil)
    )


# DuckDB twins: all-pairs Hamming for the Manku block join (oracle-side
# brute force IS the point — the engine must match it without O(n^2)),
# list-comprehension winnowing, and the 5-gram contamination semi-join.
_GRAMS5_DUCK = (
    "[array_to_string(string_split(text, ' ')[i:i+{m}], ' ')"
    " FOR i IN range(1, greatest(len(string_split(text, ' ')) - {m2}, 1))]"
).format(m=DECONTAM_N - 1, m2=DECONTAM_N - 2)

_HS_DUCK = f"[CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT) FOR s IN {_SHINGLES_DUCK}]"

ORACLES["neardup_suite"] = f"""
    WITH sim AS ({_SIMHASH_SQL}),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
        FROM sim a JOIN sim b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    ),
    hashed AS (SELECT doc_id, {_HS_DUCK} AS hs FROM documents),
    wins AS (
        SELECT doc_id, unnest(
            CASE WHEN len(hs) = 0 THEN CAST([] AS BIGINT[])
                 WHEN len(hs) <= {WINNOW_W} THEN [list_min(hs)]
                 ELSE list_distinct([list_min(hs[i:i+{WINNOW_W - 1}])
                                     FOR i IN range(1, len(hs) - {WINNOW_W} + 2)])
            END) AS fingerprint
        FROM hashed
    ),
    dg AS (SELECT doc_id, unnest({_GRAMS5_DUCK}) AS g FROM documents),
    bg AS (SELECT DISTINCT unnest({_GRAMS5_DUCK}) AS g FROM documents
           WHERE doc_id % 20 = 0),
    dec AS (SELECT DISTINCT doc_id FROM dg WHERE g IN (SELECT g FROM bg)),
    doc_parts AS (
        SELECT doc_id, string_split(coalesce(text, ''), chr(10)) AS parts FROM documents
    ),
    doc_lines AS (
        SELECT doc_id, pos, parts[pos] AS line
        FROM (SELECT doc_id, parts,
                     unnest(range(1, len(parts) + 1)) AS pos
              FROM doc_parts) t
    ),
    boiler_keys AS (
        SELECT trim(line) AS key FROM doc_lines WHERE trim(line) <> ''
        GROUP BY 1 HAVING count(DISTINCT doc_id) >= {BOILER_MIN_DOCS}
    ),
    kept_lines AS (
        SELECT * FROM doc_lines
        WHERE trim(line) NOT IN (SELECT key FROM boiler_keys)
    ),
    boiler_clean AS (
        SELECT d.doc_id,
               CAST(len(string_split(coalesce(d.text, ''), chr(10))) - count(k.line) AS BIGINT)
                   AS n_removed,
               coalesce(string_agg(k.line, chr(10) ORDER BY k.pos), '')
                   AS clean_text
        FROM documents d LEFT JOIN kept_lines k ON d.doc_id = k.doc_id
        GROUP BY d.doc_id, d.text
    )
    SELECT 'simhash' AS section, doc_id AS a, CAST(0 AS BIGINT) AS b, simhash AS v
    FROM sim
    UNION ALL
    SELECT 'neardup', doc_a, doc_b, hamming FROM pairs
    UNION ALL
    SELECT 'winnow', doc_id, fingerprint, CAST(1 AS BIGINT) FROM wins
    UNION ALL
    SELECT 'decontam', doc_id, CAST(0 AS BIGINT), CAST(1 AS BIGINT) FROM dec
    UNION ALL
    SELECT 'boiler', doc_id, n_removed, {_md5i_duck('clean_text')}
    FROM boiler_clean
"""

QUERIES["neardup_suite"] = q_neardup_suite


# ---------------------------------------------------------------------------
# ExactSubstr deduplication (Lee et al. 2021, "Deduplicating Training
# Data Makes Language Models Better", §4.1): find substrings repeated
# verbatim anywhere in the corpus and mark the duplicated spans. The
# paper builds one giant suffix array; the distributed re-expression
# is a length-EXSUB_L word-shingle fingerprint equi-join — every
# shingle occurrence keyed by md5(window), a fingerprint occurring
# >= 2 times anywhere (cross- OR within-doc, matching the paper's
# "occurs more than once in the corpus") marks its [start, start+L-1]
# word span as duplicated. Per-doc span coverage is a sorted-starts
# interval merge (O(|starts|) inside one aggregate HOF, no per-word
# scan). Unlike winnowing above (which SAMPLES 1/W fingerprints for
# near-dup detection), exact span accounting needs every shingle: the
# shuffle carries ~|tokenized corpus| rows — the honest cost of
# exactness, and still a single equi-join vs the paper's
# non-distributable suffix array.
# ---------------------------------------------------------------------------

EXSUB_L = 8  # words per shingle (the paper uses 50 BPE tokens)
EXSUB_MAX_DUP_FRAC = 0.2  # keep docs with at most this duplicated-span share


def q_exactsubstr_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id",
        F.expr("filter(split(lower(text), ' '), w -> length(w) >= 1)").alias("__ws"),
    )
    base = words.select("doc_id", F.size("__ws").alias("n_words"), "__ws")
    shingles = base.select(
        "doc_id",
        "n_words",
        F.explode(
            F.expr(
                f"CASE WHEN n_words < {EXSUB_L} THEN array()"
                f" ELSE sequence(1, n_words - {EXSUB_L} + 1) END"
            )
        ).alias("start"),
        "__ws",
    ).select(
        "doc_id",
        "start",
        F.expr(
            f"md5(cast(concat_ws(' ', slice(__ws, start, {EXSUB_L})) as binary))"
        ).alias("fp"),
    )
    dup_fp = shingles.groupBy("fp").agg(F.count(F.lit(1)).alias("c")).where("c >= 2")
    dup_starts = (
        shingles.join(dup_fp.select("fp"), "fp")
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list("start")).alias("starts"))
    )
    covered = dup_starts.select(
        "doc_id",
        F.size("starts").alias("n_dup_starts"),
        F.expr(
            "aggregate(starts, struct(CAST(0 AS BIGINT) AS cov, CAST(0 AS BIGINT) AS last_end),"
            f" (a, s) -> struct(a.cov + greatest(CAST(0 AS BIGINT),"
            f" (s + {EXSUB_L} - 1) - greatest(s - 1, a.last_end)) AS cov,"
            f" greatest(a.last_end, s + {EXSUB_L} - 1) AS last_end),"
            " a -> a.cov)"
        ).alias("dup_words"),
    )
    return (
        base.select("doc_id", "n_words")
        .join(covered, "doc_id", "left")
        .select(
            "doc_id",
            "n_words",
            F.coalesce("n_dup_starts", F.lit(0)).cast("int").alias("n_dup_starts"),
            # greatest(n_words, 1): an empty/all-space doc has n_words=0
            # and a bare 0/0 is NULL in Spark but NaN in DuckDB — the
            # engines would emit different rows. 0 dup words / 1 = 0.0
            # dup_frac, kept — same in both.
            F.round(
                F.coalesce("dup_words", F.lit(0))
                / F.greatest(F.col("n_words"), F.lit(1))
                + 1e-9,
                6,
            ).alias("dup_frac"),
            (
                F.coalesce("dup_words", F.lit(0))
                / F.greatest(F.col("n_words"), F.lit(1))
                <= EXSUB_MAX_DUP_FRAC
            )
            .cast("int")
            .alias("exsub_keep"),
        )
    )


EXACTSUBSTR_SQL = f"""
    WITH w AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '), x -> len(x) >= 1) AS ws
        FROM documents
    ),
    base AS (SELECT doc_id, len(ws) AS n_words, ws FROM w),
    sh AS (
        SELECT doc_id, i AS start,
               md5(array_to_string(ws[i:i + {EXSUB_L} - 1], ' ')) AS fp
        FROM base, unnest(range(1, n_words - {EXSUB_L} + 2)) AS t(i)
        WHERE n_words >= {EXSUB_L}
    ),
    dup_fp AS (SELECT fp FROM sh GROUP BY fp HAVING count(*) >= 2),
    dup_starts AS (
        SELECT s.doc_id, list_sort(list(s.start)) AS starts
        FROM sh s JOIN dup_fp d ON s.fp = d.fp
        GROUP BY s.doc_id
    ),
    -- oracle-side coverage: naive per-position containment scan (the
    -- Spark side does the O(|starts|) interval merge; results agree)
    covered AS (
        SELECT d.doc_id, len(starts) AS n_dup_starts,
               len(list_filter(range(1, b.n_words + 1),
                   p -> len(list_filter(starts,
                        s -> p >= s AND p <= s + {EXSUB_L} - 1)) > 0)) AS dup_words
        FROM dup_starts d JOIN base b ON d.doc_id = b.doc_id
    )
    SELECT b.doc_id, CAST(b.n_words AS INT) AS n_words,
           CAST(coalesce(c.n_dup_starts, 0) AS INT) AS n_dup_starts,
           round(coalesce(c.dup_words, 0) / greatest(b.n_words, 1) + 1e-9, 6)
               AS dup_frac,
           CAST(coalesce(c.dup_words, 0) / greatest(b.n_words, 1)
                <= {EXSUB_MAX_DUP_FRAC} AS INT) AS exsub_keep
    FROM base b LEFT JOIN covered c ON b.doc_id = c.doc_id
"""
# exactsubstr_dedup registers in operators/overflow.py (post-budget).


# --------------------------------------------------------------------------
# Prefix-filtered exact set-similarity self-join (AllPairs / PPJoin family,
# Bayardo et al. 2007 "Scaling Up All Pairs Similarity Search"). The EXACT
# counterpart to MinHash banding: same candidate-then-verify shape, but the
# candidate generation is provably lossless, so the output equals the naive
# all-pairs Jaccard join — which is exactly what the DuckDB oracle computes.
#
# Sets are distinct 3-word SHINGLES (the same unit the MinHash pipeline
# dedups on), NOT bare words: this corpus has a 31-word vocabulary, so
# word-sets are dense subsets of a tiny universe — every posting list is
# corpus-sized and NO algorithm can prune (measured exponent 1.43 at the
# 10x fixture in the word-set formulation). Shingles restore the sparse
# regime (universe ~ vocab^3) where prefix filtering earns its keep:
# measured super-linear -> sub-linear on the same data.
#
# Threshold as a RATIONAL (NUM/DEN) so every bound is integer arithmetic:
# ceil(tau*n) computed as (NUM*n + DEN - 1) div DEN never hits the IEEE
# "0.6*5 = 3.0000000000000004" ceil trap, and the final acceptance test
# c/(na+nb-c) >= tau becomes c*(NUM+DEN) >= NUM*(na+nb) — bit-exact in both
# engines with no float comparison anywhere on the decision path.
SETSIM_TAU_NUM = 1
SETSIM_TAU_DEN = 2  # Jaccard >= 1/2 over distinct 3-word shingles


def setsim_prefix_candidates(
    docs: DataFrame, num: int = None, den: int = None
) -> tuple[DataFrame, DataFrame]:
    """Candidate pairs under the prefix filter. Tokens are globally
    ordered rarest-first by (document frequency, token) — a total
    order, so both documents of any qualifying pair are guaranteed to
    share at least one token inside their prefixes of length
    n - ceil(tau*n) + 1 (if all shared tokens sat in the size-
    (ceil(tau*n) - 1) suffix, the overlap would be below the tau*n
    floor that J >= tau forces). The inverted index is built ONLY on
    prefix tokens, and rarest-first ordering makes those the shortest
    posting lists — at 10^9 docs this prunes the quadratic blowup that
    a hot stop-word posting would cause in the unpruned inverted-list
    join (exact_jaccard_pairs above keeps that naive shape for oracle
    duty). A length filter (min >= tau * max, integer form) drops
    cross-size candidates before the pair shuffle, and PPJoin's
    positional filter (Xiao 2008) prunes after it: for the RAREST
    shared prefix token (global order makes it first in BOTH arrays,
    so the per-pair min positions belong to one token), overlap <=
    1 + min(n_a - i, n_b - j) — no token before position i in A can
    appear anywhere in B (it is rarer than every remaining B token),
    so pairs whose first agreement comes too late to reach
    ceil(tau/(1+tau) * (n_a+n_b)) die before the verify join. On a
    Zipf corpus the prefix filter alone is enough; on this fixture's
    31-word-vocabulary corpus (shingle universe ~vocab^3, dfs
    uniformly high — the dense-universe worst case where ANY exact
    algorithm's candidates grow Θ(n²/U)) the positional filter is
    what keeps the candidate set near the true-pair set."""
    num = SETSIM_TAU_NUM if num is None else num
    den = SETSIM_TAU_DEN if den is None else den
    toks = _with_shingles(docs).select(
        "doc_id",
        F.explode(F.expr("array_distinct(shingles)")).alias("token"),
    )
    dfreq = toks.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    per_doc = (
        toks.join(dfreq, "token")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("df", "token"))).alias("ord"))
        .select(
            "doc_id",
            F.expr("transform(ord, x -> x.token)").alias("tokens"),
            F.size("ord").alias("n"),
        )
    )
    prefixes = per_doc.select(
        "doc_id",
        "n",
        F.posexplode(
            F.expr(f"slice(tokens, 1, n - (({num} * n + {den} - 1) div {den}) + 1)")
        ).alias("pos", "token"),
    )
    a = prefixes.select(
        F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"),
        F.col("pos").alias("pos_a"), "token",
    )
    b = prefixes.select(
        F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"),
        F.col("pos").alias("pos_b"), "token",
    )
    minoverlap = F.expr(
        f"({num} * (n_a + n_b) + {num + den} - 1) div {num + den}"
    )
    return (
        a.join(b, "token")
        .where(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.least("n_a", "n_b") * den >= F.greatest("n_a", "n_b") * num)
        )
        .groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(F.min("pos_a").alias("__ia"), F.min("pos_b").alias("__ib"))
        .where(
            F.lit(1)
            + F.least(
                F.col("n_a") - F.col("__ia") - 1, F.col("n_b") - F.col("__ib") - 1
            )
            >= minoverlap
        )
        .select("doc_a", "doc_b", "n_a", "n_b")
    ), per_doc


def setsim_join(docs: DataFrame, num: int = None, den: int = None) -> DataFrame:
    """Exact Jaccard >= tau over distinct-shingle sets via prefix
    filtering. Candidates (slim: ids + sizes) join the token arrays
    back in and verify with one array_intersect per surviving pair —
    work linear in candidate count, never in |docs|^2. Lossless by
    construction, so the result hash-matches the naive all-pairs
    oracle."""
    num = SETSIM_TAU_NUM if num is None else num
    den = SETSIM_TAU_DEN if den is None else den
    cand, per_doc = setsim_prefix_candidates(docs, num, den)
    ta = per_doc.select(F.col("doc_id").alias("doc_a"), F.col("tokens").alias("toks_a"))
    tb = per_doc.select(F.col("doc_id").alias("doc_b"), F.col("tokens").alias("toks_b"))
    return (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .withColumn("common", F.size(F.array_intersect("toks_a", "toks_b")))
        .where(F.expr(f"common * {num + den} >= {num} * (n_a + n_b)"))
        .select(
            "doc_a",
            "doc_b",
            F.col("common").cast("int").alias("common"),
            F.round(
                F.expr("common / cast(n_a + n_b - common as double)") + 1e-9, 6
            ).alias("jaccard"),
        )
    )


def q_setsim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate entry: prefix-filtered exact set-similarity self-join on
    the documents table (shingle-set Jaccard >= 1/2 — the exact
    near-dup join next to minhash_band_pairs' probabilistic one).
    The oracle is the UNPRUNED all-pairs inverted-list
    join — identical output proves the prefix filter lossless on real
    data, the same way minhash_band_pairs' oracle proves the banding
    recall."""
    # r09: _parallel_docs floor + a hash(token) reuse-point exchange were
    # both tried here and measured NEUTRAL (noop 2.46 -> 2.63 s,
    # count 2.68 -> 2.65, min-of-4 interleaved) — the prefix-filter
    # pipeline is exchange-bound, not scan-bound, at this fixture.
    # Reverted to the plain scan; see OPTIMIZATION_r09.md.
    return setsim_join(load_table(spark, sf_dir, "documents"))


SETSIM_SQL = f"""
    WITH toks AS (
        SELECT doc_id, unnest(list_distinct({_SHINGLES_DUCK})) AS token
        FROM documents
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
        FROM toks a JOIN toks b ON a.token = b.token AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, CAST(c AS INT) AS common,
           round(c / CAST(sa.n + sb.n - c AS DOUBLE) + 1e-9, 6) AS jaccard
    FROM common
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE c * {SETSIM_TAU_NUM + SETSIM_TAU_DEN}
          >= {SETSIM_TAU_NUM} * (sa.n + sb.n)
"""
# setsim_join registers in operators/overflow.py (post-budget).


# --- gate registration (moved from the retired operators/overflow.py shim) ---
# Entries past the driver's 50-row budget register here, next to their
# operators; __spark_entry__ merges every module's QUERIES/ORACLES and
# DRIVER_GATE_PRIORITY decides what the driver sees.
QUERIES.update({
    "exactsubstr_dedup": q_exactsubstr_dedup,
    "setsim_join": q_setsim_join,
})

ORACLES.update({
    "exactsubstr_dedup": EXACTSUBSTR_SQL,
    "setsim_join": SETSIM_SQL,
})


# ---------------------------------------------------------------------------
# Paragraph-level corpus dedup (r09). Dolma / RefinedWeb prep dedups at
# SUB-document granularity: repeated spans (boilerplate, quoted blocks,
# syndicated paragraphs) are dropped corpus-wide while the surrounding
# unique text survives — document-level dedup (exact or near) cannot
# express this. The corpus has no paragraph markers, so the span unit is
# the non-overlapping PARA_WORDS-word window (the same definition either
# engine can derive from raw text with integer arithmetic).
# ---------------------------------------------------------------------------

PARA_WORDS = 16


def paragraph_dedup(docs: DataFrame) -> DataFrame:
    """Corpus-wide first-occurrence dedup of PARA_WORDS-word spans.

    Keeper of a span fingerprint is the (min doc_id, min span_idx)
    occurrence — deterministic, order-independent. Returns one row per
    doc: span counts, kept fraction, and an order-sensitive digest of
    the KEPT span fingerprints (md5 of their concatenation in span
    order) that pins the exact reassembled document, without shipping
    megabyte text rows through the gate.

    Plan: map-side span split (one HOF, no word explode), posexplode at
    span grain (~n_words/16 rows per doc), ONE shuffle on the span
    fingerprint for the global min (window), one doc-grain aggregation
    for reassembly. At 100 TB both shuffles are the minimum the
    semantics admit: first-occurrence is a global decision per
    fingerprint, reassembly is per-doc."""
    from pyspark.sql import Window

    spans = (
        docs.select("doc_id", F.split("text", " ").alias("ws"))
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(0, CAST(ceil(size(ws) / {PARA_WORDS}.0) AS INT) - 1),"
                    f" i -> md5(concat_ws(' ', slice(ws, i * {PARA_WORDS} + 1, {PARA_WORDS}))))"
                )
            ).alias("span_idx", "fp"),
        )
    )
    w = Window.partitionBy("fp")
    marked = spans.withColumn(
        "kept",
        F.min(F.struct("doc_id", "span_idx")).over(w)
        == F.struct("doc_id", "span_idx"),
    )
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.expr("CASE WHEN kept THEN 1 ELSE 0 END")).alias("kept_spans"),
            F.md5(
                F.concat_ws(
                    "",
                    F.expr(
                        "transform(sort_array(collect_list(CASE WHEN kept THEN"
                        " struct(span_idx, fp) END)), x -> x.fp)"
                    ),
                )
            ).alias("kept_digest"),
        )
        .select(
            "doc_id",
            F.col("n_spans").cast("int").alias("n_spans"),
            F.col("kept_spans").cast("int").alias("kept_spans"),
            F.round(F.expr("kept_spans / CAST(n_spans AS DOUBLE)") + 1e-9, 6).alias(
                "kept_frac"
            ),
            "kept_digest",
        )
    )


def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate entry: paragraph-grain corpus dedup over documents."""
    return paragraph_dedup(load_table(spark, sf_dir, "documents"))


PARAGRAPH_DEDUP_SQL = f"""
    WITH words AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    spans AS (
        SELECT doc_id, i AS span_idx,
               md5(array_to_string(
                   ws[(i * {PARA_WORDS} + 1):((i + 1) * {PARA_WORDS})], ' '
               )) AS fp
        FROM words,
             LATERAL unnest(range(0, CAST(ceil(len(ws) / {PARA_WORDS}.0) AS INT))) AS t(i)
    ),
    marked AS (
        SELECT doc_id, span_idx, fp,
               row_number() OVER (PARTITION BY fp ORDER BY doc_id, span_idx) = 1 AS kept
        FROM spans
    )
    SELECT doc_id,
           CAST(count(*) AS INT) AS n_spans,
           CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS INT) AS kept_spans,
           round(sum(CASE WHEN kept THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE)
                 + 1e-9, 6) AS kept_frac,
           md5(coalesce(string_agg(CASE WHEN kept THEN fp END, ''
                                   ORDER BY span_idx), '')) AS kept_digest
    FROM marked
    GROUP BY doc_id
"""

QUERIES["paragraph_dedup"] = q_paragraph_dedup
ORACLES["paragraph_dedup"] = PARAGRAPH_DEDUP_SQL
