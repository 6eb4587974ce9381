"""Per-query timing over one or more fixture dirs (SCALE.md,
BENCH_sf1_r{N}.json): the repo's one registry timing loop.

Protocol (same schedule as bench.py): every dir is warmed once with
`tpch_q1`; each repeat then times query by query and, within a query,
dir by dir, keeping the minimum per (query, dir). A host load spike then
inflates one repeat of a query at every scale together instead of all
repeats of one query, and the cross-repeat min discards it. The sink is
`.count()`, which is what the committed scale and sf1 history used. Each
query's plan on the largest dir is audited for the red-flag nodes
Expand / CartesianProduct / BatchEvalPython.

Output, one JSON line (also written to `--out`):

- one dir: `{metric, value, unit, sf, repeats, queries: {name: {sec,
  rows, plan_red_flags}}}`, the BENCH_sf1_r{N}.json record;
- two or more dirs: `{repeats, queries: {name: {<sf>_sec ...,
  exponent, plan_red_flags}}, rows: {name: {<sf>: n}}}`, where
  exponent is b in t = a * SF^b between the smallest and largest SF
  (b ~ 1 is linear; below 1 fixed overheads still amortize). SF is
  parsed from the dir name as bench.py does (`.../sf0.1` -> 0.1).

`--split` times four phases per query instead of one: DataFrame build,
Catalyst plan (`explain`), execution to a `noop` sink, and the `.count()`
run (a fresh build plus count, the plain protocol's `sec`); each query
record gains `split`, the per-phase minimum (per dir for several dirs).

`--heavy` swaps the default query list for the standing sf1 set.

Usage:
  python tools/scale_run.py [--sf-dir DIR ...] [--repeats 2] [--heavy]
      [--split] [--out FILE] [--only QUERY ...]
  # standing sf1 artifact (16 heavy entries at the 10x fixture):
  python tools/scale_run.py --sf-dir .tmp/sf1 --heavy --out BENCH_sf1_rNN.json
  # where one query's time goes, on one fixture dir:
  python tools/scale_run.py --sf-dir DIR --split --only labels
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import math
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

SF_DIRS = ["/root/testdata/sf0.1", str(REPO / ".tmp" / "sf1")]

QUERIES = [
    "household_commodity_features",
    "household_features",
    "pivot_unpivot_scores",
    "stream_tumbling",
    "minhash_band_pairs",
    "labels",
    "tpch_q1",
    # round-4 headliners (judge r4 item 4: exponents were unmeasured)
    "bloom_semijoin",
    "dsir_select",
    "exactsubstr_dedup",
    "path_analysis",
    "anomaly_mad",
    "pagerank_affinity",
    # round-5 additions: exponents unmeasured before this round
    "basket_affinity_3",
    "incremental_agg",
    "table_fingerprint_suite",
    "column_histogram",
    "weighted_sample",
    "char_entropy",
    "event_transitions",
    "ewma_revenue",
    # late-round-5 additions
    "salted_join",
    "active_users",
    "corr_matrix",
    "feature_scaling",
    "seasonality_dow",
    "sessionize",
    "attribution_multi_touch",
    "mutual_information",
    "km_retention",
    "ab_test_ztest",
    "hill_tail_index",
    "cohort_ltv",
    "forecast_linear",
    "active_users_hll",
    "incremental_join",
    "ks_drift",
    "cuped_adjustment",
    "mann_whitney",
    "hierarchy_rollup",
    "variant_extract",
    "llm_dataprep",
    "target_encode",
    "woe_iv",
    "psm_match",
    "diff_in_diff",
    "qini_uplift",
    # round-8 additions: real-pixel multimodal worker, exact-arithmetic
    # learned filter
    "media_pipeline",
    "quality_filter",
]

# The standing sf1 set: every family whose sf1 cost is >~10x its sf0.1
# cost in the r08 sweep, plus the round's flagship pipeline stages. Keep
# additive across rounds so per-query deltas stay comparable.
HEAVY_QUERIES = [
    "household_commodity_features",  # widest single-pass agg grain
    "household_features",
    "neardup_suite",          # simhash pair join — the r08 output-skew fix
    "semdedup",               # BLAS-block cluster scan (r08 rework)
    "minhash_band_pairs",     # LSH band join
    "setsim_join",            # prefix-filter all-pairs
    "exactsubstr_dedup",      # suffix-chunk substring dedup
    "dedup_components",       # iterative large-star/small-star CC
    "tpch_join_suite",
    "tpch_mini_suite",
    "stream_ops_suite",       # 2M-row streaming suite
    "salted_join",
    "salted_agg",
    "ann_cosine_topk",
    "quality_filter",
    "pipeline_e2e",           # end-to-end orchestration flagship
]

RED_FLAGS = ("Expand", "CartesianProduct", "BatchEvalPython")


def sf_of(sf_dir: str) -> float:
    """Scale factor from a fixture dir name, parsed as bench.py does."""
    return float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])


def red_flags(df) -> list[str]:
    """The red-flag node names present in `df`'s formatted plan."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return [f for f in RED_FLAGS if f in buf.getvalue()]


def time_once(spark, build, sf_dir: str, split: bool) -> tuple[dict, int]:
    """One timed run: phase -> seconds, and the row count."""
    t0 = time.time()
    df = build(spark, sf_dir)
    if not split:
        n = df.count()
        return {"count": time.time() - t0}, n
    t1 = time.time()
    red_flags(df)  # the plan phase: Catalyst analysis + optimization
    t2 = time.time()
    df.write.format("noop").mode("overwrite").save()
    t3 = time.time()
    n = build(spark, sf_dir).count()
    return {"build": t1 - t0, "plan": t2 - t1, "noop": t3 - t2,
            "count": time.time() - t3}, n


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(prog="tools/scale_run.py")
    ap.add_argument("--sf-dir", nargs="+", default=SF_DIRS)
    ap.add_argument("--repeats", type=int, default=2)
    ap.add_argument("--heavy", action="store_true",
                    help="time HEAVY_QUERIES (the standing sf1 set)")
    ap.add_argument("--split", action="store_true",
                    help="time build / plan / noop / count separately")
    ap.add_argument("--out", default=None, help="also write the JSON line here")
    ap.add_argument("--only", nargs="*", default=None,
                    help="restrict to these registry query names")
    return ap


def main(argv: list[str] | None = None, spark=None) -> dict:
    """Run the timing loop; returns the record it prints. Pass `spark`
    to reuse a session (tests)."""
    args = build_parser().parse_args(argv)
    queries = args.only or (HEAVY_QUERIES if args.heavy else QUERIES)
    dirs = args.sf_dir
    for d in dirs:
        if not Path(d, "lineitem.parquet").exists():
            raise SystemExit(
                f"fixture missing at {d}: run `python tools/make_scaled_fixture.py` first"
            )

    import __spark_entry__ as e
    from propensity_spark.session import get_spark
    from propensity_spark.streaming import windows as _w

    spark = spark or get_spark(
        "scale-run", extra_conf={"spark.driver.maxResultSize": "16g"}
    )
    qs = dict(e.queries())
    # the bench's standalone tumbling-window query (folded into
    # stream_ops_suite in the registry)
    qs["stream_tumbling"] = _w.q_stream_tumbling

    for d in dirs:  # warm the JVM + parquet footers once per dir
        qs["tpch_q1"](spark, d).count()

    best = {n: {d: {} for d in dirs} for n in queries}
    rows = {n: {} for n in queries}
    for rep in range(args.repeats):
        for name in queries:
            for d in dirs:
                phases, rows[name][d] = time_once(spark, qs[name], d, args.split)
                kept = best[name][d]
                for k, v in phases.items():
                    kept[k] = min(kept.get(k, math.inf), v)
                print(f"  repeat {rep + 1} {name} {d}: {phases['count']:.1f}s "
                      f"({rows[name][d]} rows)", file=sys.stderr, flush=True)

    def rounded(phases: dict) -> dict:
        return {k: round(v, 3) for k, v in phases.items()}

    tag = {d: Path(d).name for d in dirs}
    small, big = min(dirs, key=sf_of), max(dirs, key=sf_of)
    out = {}
    for name in queries:
        sec = {d: round(best[name][d]["count"], 3) for d in dirs}
        if len(dirs) == 1:
            rec = {"sec": sec[big], "rows": rows[name][big]}
        else:
            rec = {f"{tag[d]}_sec": sec[d] for d in dirs}
            # t = a * SF^b  ->  b = log(t_big / t_small) / log(sf_big / sf_small)
            rec["exponent"] = round(
                math.log(sec[big] / sec[small]) / math.log(sf_of(big) / sf_of(small)), 3
            )
        rec["plan_red_flags"] = red_flags(qs[name](spark, big))
        if args.split:
            rec["split"] = (
                rounded(best[name][big]) if len(dirs) == 1
                else {tag[d]: rounded(best[name][d]) for d in dirs}
            )
        out[name] = rec

    if len(dirs) == 1:
        record = {
            "metric": ("heavy_queries" if args.heavy else "queries")
            + f"_total_{tag[big]}",
            "value": round(sum(v["sec"] for v in out.values()), 3),
            "unit": "sec",
            "sf": sf_of(big),
            "repeats": args.repeats,
            "queries": out,
        }
    else:
        record = {
            "repeats": args.repeats,
            "queries": out,
            "rows": {n: {tag[d]: rows[n][d] for d in dirs} for n in queries},
        }
    line = json.dumps(record, separators=(",", ":"))
    print(line)
    if args.out:
        Path(args.out).write_text(line + "\n")
    return record


if __name__ == "__main__":
    main()
