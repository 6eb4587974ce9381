"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash). Queries and oracles live next to their operators inside
``propensity_spark`` and are aggregated here.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parent))

SF_SMOKE = "/root/testdata/sf0.001"
# Guard against an optional module silently dropping out of the gate
# (e.g. a transitive import typo): the registry must never shrink below
# the committed surface.
EXPECTED_MIN_QUERIES = 164

# The driver's CORRECTNESS report records the FIRST 50 registered entries;
# `tools/local_verify.py` checks the whole registry regardless. The gate is
# a deterministic rotation: first GATE_PRIORITY_HEAD — the entries whose
# execution path THIS round's optimizer changed (r09 VERDICT task 1:
# touched code must be driver-verified before staleness refresh) — then
# every remaining registry entry ranked by its newest driver-verified
# round across the CORRECTNESS_r*.json files that existed when the
# rotation was built (rounds < GATE_ROTATION_ROUND), ties broken by
# registry order, taking the first 50 overall. The head takes slots from
# the oldest-first tail, so no fixed re-verify period holds; what holds is
# the lint's STALENESS_BUDGET (tools/gate_lint.py): every entry 3 or more
# rounds stale is in the gate, and `compute_rotation` raises when the
# head leaves too few slots for them. Regenerate
# with `python tools/gate_lint.py --propose`; the committed list is pinned
# against that computation by tests/test_entry_contract.py. Ledger:
# COVERAGE.md. r10 cohort: the 20 r09-optimizer-touched entries with no
# driver CORRECTNESS row for the new code (the r09 VERDICT's named list;
# its 21st name `ngram_jaccard_pairs` is not a registry entry — that
# path is the exact-jaccard side inside `minhash_lsh_mllib`), plus the
# entries r10 touches, then oldest-first (r06-last entries).
GATE_ROTATION_ROUND = 10
GATE_PRIORITY_HEAD = [
    # r09-touched, driver-unverified (VERDICT r09 "Next round" item 1)
    "household_features",
    "household_commodity_features",
    "commodity_features",
    "household_agg_suite",
    "labels",
    "date_bounds_suite",
    "topk_commodities",
    "anomaly_mad",
    "basket_affinity_3",
    "bm25_search",
    "repetition_signals",
    "dsir_select",
    "minhash_signatures",
    "minhash_band_pairs",
    "dedup_components",
    "minhash_lsh_mllib",
    "approx_stats",
    "stream_ops_suite",
    "train_score_propensity",
    "pipeline_e2e",
    # r10-touched (this round's optimizer changes)
    "tpch_join_suite",
    "hierarchy_rollup",
    "pagerank_affinity",
    "ppr_affinity",
    "triangle_count",
    "kcore_parts",
    "bfs_hops",
    "graph_stats",
]
DRIVER_GATE_PRIORITY = [
    "household_features",
    "household_commodity_features",
    "commodity_features",
    "household_agg_suite",
    "labels",
    "date_bounds_suite",
    "topk_commodities",
    "anomaly_mad",
    "basket_affinity_3",
    "bm25_search",
    "repetition_signals",
    "dsir_select",
    "minhash_signatures",
    "minhash_band_pairs",
    "dedup_components",
    "minhash_lsh_mllib",
    "approx_stats",
    "stream_ops_suite",
    "train_score_propensity",
    "pipeline_e2e",
    "tpch_join_suite",
    "hierarchy_rollup",
    "pagerank_affinity",
    "ppr_affinity",
    "triangle_count",
    "kcore_parts",
    "bfs_hops",
    "graph_stats",
    "trend_fit",
    "changepoint_cusum",
    "forecast_linear",
    "cross_correlation",
    "seasonal_anomaly",
    "forecast_backtest",
    "cumulative_distinct",
    "conformal_interval",
    "theil_sen",
    "huber_trend",
    "incremental_join",
    "silver_projection",
    "cross_universe",
    "left_join_fillna",
    "class_ratios",
    "set_ops_suite",
    "pivot_unpivot_scores",
    "date_functions",
    "window_topk_per_group",
    "tpch_q1",
    "dedup_exact",
    "neardup_suite",
]

def _registry():
    from propensity_spark.operators import relational

    queries: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    oracles: dict[str, str] = {}
    modules = [relational]
    # Registration order = the order the driver checks entries. The whole
    # surface (50 entries) fits its 50-row budget; the extension families
    # that went unchecked in round 1 register right after the core anyway,
    # as insurance against a smaller budget.
    for optional in (
        "propensity_spark.operators.features",
        "propensity_spark.text.dedup",
        "propensity_spark.vector.similarity",
        "propensity_spark.streaming.windows",
        "propensity_spark.streaming.stateful",
        "propensity_spark.multimodal.media",
        "propensity_spark.ml.training",
        "propensity_spark.ml.quality",
        "propensity_spark.feature_store",
        "propensity_spark.text.analysis",
        "propensity_spark.pipeline",
        "propensity_spark.operators.extended",
        # Post-budget operator families (the driver checks the first 50
        # per DRIVER_GATE_PRIORITY; everything else is hash-verified by
        # tools/local_verify.py). Each module registers its own entries
        # in a QUERIES/ORACLES pair next to the operator code.
        "propensity_spark.operators.stats",
        "propensity_spark.operators.behavior",
        "propensity_spark.operators.profiling",
        "propensity_spark.operators.timeseries",
        "propensity_spark.operators.maintenance",
        "propensity_spark.operators.graph",
    ):
        try:
            module = __import__(optional, fromlist=["QUERIES", "ORACLES"])
        except ImportError as exc:
            # Only a genuinely missing THIRD-PARTY dependency may soft-skip
            # a module; a broken import inside the package must fail loudly
            # instead of silently shrinking the verified surface.
            if (getattr(exc, "name", "") or "").startswith("propensity_spark"):
                raise
            print(f"[__spark_entry__] skipping {optional}: {exc}", file=sys.stderr)
            continue
        modules.append(module)
    for module in modules:
        queries.update(getattr(module, "QUERIES", {}))
        oracles.update({k: v for k, v in getattr(module, "ORACLES", {}).items() if v})
    if len(queries) < EXPECTED_MIN_QUERIES:
        raise RuntimeError(
            f"registry shrank to {len(queries)} entries (< {EXPECTED_MIN_QUERIES}): "
            "an operator module silently dropped out"
        )
    missing = [n for n in DRIVER_GATE_PRIORITY if n not in queries]
    if missing:
        raise RuntimeError(f"DRIVER_GATE_PRIORITY names absent from registry: {missing}")
    ordered = {n: queries[n] for n in DRIVER_GATE_PRIORITY}
    ordered.update(queries)  # tail keeps module registration order
    return {k: _pinned(v) for k, v in ordered.items()}, oracles


def _pinned(fn):
    """The caller owns the SparkSession; pin the confs the engine's
    semantics assume (reference behavior: div/0 -> NULL, silent casts;
    oracle comparison: UTC timestamps)."""

    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        spark.conf.set("spark.sql.ansi.enabled", "false")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        return fn(spark, sf_dir)

    wrapped.__name__ = getattr(fn, "__name__", "query")
    wrapped.__doc__ = fn.__doc__
    return wrapped


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: top-k commodity
    selection (02_Initialize_Solution.py:38-47) — scan -> join ->
    broadcast dim join -> countDistinct agg -> TakeOrderedAndProject."""
    from propensity_spark.operators.relational import q_topk_commodities

    return q_topk_commodities(spark, SF_SMOKE)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _registry()[0]


def oracle_sql() -> dict[str, str]:
    return _registry()[1]
