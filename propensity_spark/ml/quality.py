"""Learned quality filtering — the classifier step of CCNet / LLaMA /
RedPajama / DCLM data pipelines: fit a linear model on weak labels,
then keep documents the model scores as high quality.

The `quality_filter` gate entry runs the whole train -> broadcast ->
score loop in its exact-arithmetic configuration, so it is DuckDB-
oracle-checkable. At 100 TB the only data movement is the one-pass
aggregate of the fit; scoring is map-side and shuffles nothing.

Shape:
  1. weak labels from a Gopher-style rule (long-word density);
  2. distributed single-pass fit: the normal-equation sums of a linear
     probability model over K=2 integer features (count aggregates —
     exact in BOTH engines);
  3. the 3x3 system solved by Cramer's rule on exact integers (driver
     side: Python bigints; oracle side: DuckDB HUGEINT) — no float
     enters until nothing is left to round;
  4. coefficients broadcast back as decimal literals; scoring is a
     map-side sign test  keep = [sign(det) * (2*q(x) - det) > 0]  with
     q(x) = det0 + det1*x1 + det2*x2, which equals score > 0.5 without
     ever forming the division.

Magnitudes: dets are O(N * (max_x^2 * N)^2); BIGINT overflows past
~5e3 docs, so both sides carry HUGEINT/DECIMAL(38,0). That bounds the
exact path at ~1e9 docs; past that the production fit switches to the
double-precision solve (same one-pass sums), documented in SCALE.md.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

QF_LONG_WORD = 6  # Gopher-style "long word" threshold (chars)
QF_RULE_MULT = 5  # weak label: 5 * n_long_words >= n_words


def _qf_features(docs: DataFrame) -> DataFrame:
    """Integer quality features + the weak label, byte-for-byte the
    same definition the oracle uses: x1 = split-on-space token count,
    x2 = tokens with length >= QF_LONG_WORD."""
    return docs.select(
        "doc_id",
        F.size(F.split("text", " ", -1)).cast("bigint").alias("x1"),
        F.size(
            F.expr(f"filter(split(text, ' ', -1), w -> length(w) >= {QF_LONG_WORD})")
        )
        .cast("bigint")
        .alias("x2"),
    ).withColumn(
        "label",
        (F.lit(QF_RULE_MULT) * F.col("x2") >= F.col("x1")).cast("int"),
    )


def q_quality_filter(spark, sf_dir: str) -> DataFrame:
    """Learned quality filter, exact-arithmetic configuration: one
    distributed agg pass for the normal-equation sums (C4: a single
    bounded row to the driver), Cramer's rule on Python bigints, the
    integer decision broadcast back into a map-side sign test."""
    from decimal import Decimal

    from propensity_spark.io import load_table

    feats = _qf_features(load_table(spark, sf_dir, "documents"))
    s = feats.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x1").alias("s1"),
        F.sum("x2").alias("s2"),
        F.sum(F.col("x1") * F.col("x1")).alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).alias("s12"),
        F.sum(F.col("x2") * F.col("x2")).alias("s22"),
        F.sum("label").cast("bigint").alias("sy"),
        F.sum(F.col("x1") * F.col("label")).alias("sy1"),
        F.sum(F.col("x2") * F.col("label")).alias("sy2"),
    ).first()
    n, s1, s2 = int(s["n"]), int(s["s1"]), int(s["s2"])
    s11, s12, s22 = int(s["s11"]), int(s["s12"]), int(s["s22"])
    sy, sy1, sy2 = int(s["sy"]), int(s["sy1"]), int(s["sy2"])
    # Cramer on exact ints: A = [[n,s1,s2],[s1,s11,s12],[s2,s12,s22]],
    # v = [sy,sy1,sy2]; beta_i = det_i / det.
    det = n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2) + s2 * (
        s1 * s12 - s11 * s2
    )
    det0 = sy * (s11 * s22 - s12 * s12) - s1 * (sy1 * s22 - s12 * sy2) + s2 * (
        sy1 * s12 - s11 * sy2
    )
    det1 = n * (sy1 * s22 - s12 * sy2) - sy * (s1 * s22 - s12 * s2) + s2 * (
        s1 * sy2 - sy1 * s2
    )
    det2 = n * (s11 * sy2 - sy1 * s12) - s1 * (s1 * sy2 - sy1 * s2) + sy * (
        s1 * s12 - s11 * s2
    )
    dec = lambda v: F.lit(Decimal(v)).cast("decimal(38,0)")  # noqa: E731
    if det == 0:  # degenerate design (constant features): keep = label
        keep = F.col("label")
    else:
        sign = 1 if det > 0 else -1
        q = dec(det0) + dec(det1) * F.col("x1") + dec(det2) * F.col("x2")
        keep = (F.lit(sign) * (F.lit(2) * q - dec(det)) > 0).cast("int")
    return feats.select(
        "doc_id",
        F.col("x1").alias("n_words"),
        F.col("x2").alias("n_long_words"),
        "label",
        keep.alias("quality_keep"),
    )


QUALITY_FILTER_SQL = f"""
    WITH f AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS x1,
               CAST(len(list_filter(string_split(text, ' '),
                                    w -> length(w) >= {QF_LONG_WORD})) AS BIGINT) AS x2
        FROM documents
    ),
    l AS (
        SELECT *, CASE WHEN {QF_RULE_MULT} * x2 >= x1 THEN 1 ELSE 0 END AS label
        FROM f
    ),
    s AS (
        SELECT CAST(count(*) AS HUGEINT) AS n,
               CAST(sum(x1) AS HUGEINT) AS s1, CAST(sum(x2) AS HUGEINT) AS s2,
               CAST(sum(x1 * x1) AS HUGEINT) AS s11,
               CAST(sum(x1 * x2) AS HUGEINT) AS s12,
               CAST(sum(x2 * x2) AS HUGEINT) AS s22,
               CAST(sum(label) AS HUGEINT) AS sy,
               CAST(sum(x1 * label) AS HUGEINT) AS sy1,
               CAST(sum(x2 * label) AS HUGEINT) AS sy2
        FROM l
    ),
    d AS (
        SELECT n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)
                 + s2 * (s1 * s12 - s11 * s2) AS det,
               sy * (s11 * s22 - s12 * s12) - s1 * (sy1 * s22 - s12 * sy2)
                 + s2 * (sy1 * s12 - s11 * sy2) AS det0,
               n * (sy1 * s22 - s12 * sy2) - sy * (s1 * s22 - s12 * s2)
                 + s2 * (s1 * sy2 - sy1 * s2) AS det1,
               n * (s11 * sy2 - sy1 * s12) - s1 * (s1 * sy2 - sy1 * s2)
                 + sy * (s1 * s12 - s11 * s2) AS det2
        FROM s
    )
    SELECT l.doc_id, l.x1 AS n_words, l.x2 AS n_long_words, l.label,
           CASE WHEN d.det = 0 THEN l.label
                WHEN (CASE WHEN d.det > 0 THEN 1 ELSE -1 END)
                     * (2 * (d.det0 + d.det1 * l.x1 + d.det2 * l.x2) - d.det) > 0
                THEN 1 ELSE 0 END AS quality_keep
    FROM l, d
"""

QUERIES = {"quality_filter": q_quality_filter}
ORACLES = {"quality_filter": QUALITY_FILTER_SQL}
