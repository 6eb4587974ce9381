"""Command-line driver: `python -m propensity_spark <cmd>`.

The reference is operated through Databricks Jobs (RUNME.py builds the
job DAG; 03_Define_Workflow.py schedules daily/weekly runs). Outside
that platform the equivalent is a CLI a scheduler (cron, Airflow
BashOperator, etc.) can call — one subcommand per reference job:

    python -m propensity_spark init   --sf-dir DATA --base OUT [--day D]
                                      [--backfill-days N] [--commodities K]
    python -m propensity_spark daily  --sf-dir DATA --base OUT [--day D]
                                      [--model-type gbt|lr]
                                      [--psi-threshold P]
    python -m propensity_spark weekly --sf-dir DATA --base OUT [--day D]
                                      [--tune] [--n-trials N]
    python -m propensity_spark drift  --sf-dir DATA --base OUT [--day D]
                                      [--psi-threshold P]
    python -m propensity_spark run-op [NAME] [--sf-dir DATA]
                                      [--out PARQUET] [--limit N]

`--day` is optional everywhere: it falls back to the latest silver
transaction day. A first `daily` run with no stored manifest trains
models for the default commodity set before scoring (as the weekly
job would) and persists the manifest; `--model-type` controls that
implicit training. `init` prints the training manifest, `daily` the
published paths plus the in-flight publish metrics and PSI drift,
`weekly` the manifest, `drift` the PSI report. Exit code is non-zero
on failed training rows (a commodity skipped for a one-class training
split is not a failure), and `daily`/`drift` exit 2 when PSI exceeds
`--psi-threshold` (default 0.25; pass a negative value to disable) —
schedulers alert without parsing output.
"""

from __future__ import annotations

import argparse
import datetime
import json
import sys


def _day(s: str) -> datetime.date:
    from propensity_spark.io import as_date

    return as_date(s)


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(prog="python -m propensity_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)
    for name in ("init", "daily", "weekly", "drift"):
        p = sub.add_parser(name)
        p.add_argument("--sf-dir", required=True)
        p.add_argument("--base", required=True)
        p.add_argument("--day", type=_day, default=None)
        if name == "init":
            p.add_argument("--backfill-days", type=int, default=1)
        if name in ("init", "weekly"):
            p.add_argument("--commodities", type=int, default=None)
        if name in ("init", "weekly", "daily"):
            # on daily this controls the first-run implicit training
            # (no stored manifest -> train as the weekly job would)
            p.add_argument("--model-type", choices=("gbt", "lr"), default="gbt")
        if name == "weekly":
            p.add_argument("--tune", action="store_true")
            # reference parity: >=50 hyperopt trials per commodity
            # (04b_Task__Model_Training.py:392-395); seeded random
            # search at the same breadth, or --tuner tpe for the
            # adaptive TPE analogue of hyperopt's tpe.suggest.
            p.add_argument("--n-trials", type=int, default=50)
            p.add_argument(
                "--tuner", choices=("random", "tpe"), default="random"
            )
            # ship per-model decile-lift + calibration tables next to
            # each saved model (<model>__eval/{lift,reliability})
            p.add_argument("--eval-tables", action="store_true")
        if name in ("daily", "drift"):
            p.add_argument("--psi-threshold", type=float, default=0.25)
    # generic operator runner: any registry entry from the CLI
    rop = sub.add_parser("run-op")
    rop.add_argument("op", nargs="?", default=None,
                     help="registry name; omit (or pass 'list') to list all")
    rop.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    rop.add_argument("--out", default=None,
                     help="write full result parquet here instead of sampling")
    rop.add_argument("--limit", type=int, default=20)
    return ap


def run(args, spark=None) -> int:
    """Dispatch a parsed namespace; returns the process exit code.
    Separated from main() so tests drive it with a shared session."""
    from propensity_spark.pipeline import Pipeline
    from propensity_spark.session import get_spark

    spark = spark or get_spark(f"propensity-{args.cmd}")

    if args.cmd == "run-op":
        # Expose the whole verified operator registry from the CLI: a
        # user runs any oracle-checked query against any fixture dir,
        # sampling to stdout or writing the full result to parquet.
        import __spark_entry__ as entrymod

        qs = entrymod.queries()
        if args.op in (None, "list"):
            print(json.dumps({"cmd": "run-op", "ops": sorted(qs)}))
            return 0
        if args.op not in qs:
            print(json.dumps({"cmd": "run-op", "error": f"unknown op {args.op!r}"}))
            return 1
        df = qs[args.op](spark, args.sf_dir)
        if args.out:
            df.write.mode("overwrite").parquet(args.out)
            n = spark.read.parquet(args.out).count()
            print(json.dumps({"cmd": "run-op", "op": args.op,
                              "rows": n, "out": args.out}))
        else:
            sample = [r.asDict() for r in df.limit(args.limit).collect()]
            print(json.dumps({"cmd": "run-op", "op": args.op,
                              "sample_rows": len(sample),
                              "sample": sample}, default=str))
        return 0

    p = Pipeline(spark, args.sf_dir, args.base)

    def latest_day():
        from propensity_spark.operators.relational import silver_transactions

        return silver_transactions(spark, args.sf_dir).agg(
            {"day": "max"}
        ).collect()[0][0]

    day = args.day or latest_day()

    manifest_path = str(p.base / "manifest")

    def persist_manifest(manifest):
        """Store the manifest where `daily` looks for it; returns the
        re-read copy plus the scheduler exit code (non-zero when any
        commodity's training failed)."""
        manifest.write.mode("overwrite").parquet(manifest_path)
        stored = spark.read.parquet(manifest_path)
        rows = [r.asDict() for r in stored.collect()]
        return stored, rows, (1 if any(r["stage"] == "failed" for r in rows) else 0)

    if args.cmd == "init":
        _, rows, rc = persist_manifest(
            p.run_init(
                day,
                n_commodities=args.commodities if args.commodities is not None else 2,
                backfill_days=args.backfill_days,
                model_type=args.model_type,
            )
        )
        print(json.dumps({"cmd": "init", "day": str(day), "manifest": rows}, default=str))
        return rc

    if args.cmd == "weekly":
        # run_weekly's precondition: the day's features must be in the
        # store (its docstring). engineer_features is an idempotent
        # metadata check when init/daily already materialized them.
        p.engineer_features(day)
        _, rows, rc = persist_manifest(
            p.run_weekly(
                args.commodities,
                day=day,
                tune=args.tune,
                model_type=args.model_type,
                # --tune at reference breadth: --n-trials (default 50)
                # seeded random-search maps, or adaptive TPE proposals
                # over the same space with --tuner tpe.
                search=args.tuner if args.tune else "grid",
                n_trials=args.n_trials if args.tune else None,
                eval_tables=args.eval_tables,
            )
        )
        print(json.dumps({"cmd": "weekly", "day": str(day), "manifest": rows}, default=str))
        return rc

    if args.cmd == "daily":
        from propensity_spark.io import committed

        rc = 0
        if committed(manifest_path):
            manifest = spark.read.parquet(manifest_path)
        else:
            # first daily without a stored manifest: engineer the day's
            # features FIRST (training on an unmaterialized day would
            # fit every model on all-zero lookup misses), then train as
            # the weekly job would and persist for later dailies.
            p.engineer_features(day)
            manifest, _, rc = persist_manifest(
                p.run_weekly(day=day, model_type=args.model_type)
            )
        paths = p.run_daily(day, manifest)
        print(
            json.dumps(
                {
                    "cmd": "daily",
                    "day": str(day),
                    "published": list(paths),
                    "publish_metrics": p.last_publish_metrics,
                    "drift": p.last_drift,
                    "validation": p.last_validation,
                },
                default=str,
            )
        )
        # PSI alert: schedulers page on exit code, not output parsing.
        if (
            rc == 0
            and p.last_drift is not None
            and args.psi_threshold >= 0
            and p.last_drift["psi"] > args.psi_threshold
        ):
            return 2
        return rc

    if args.cmd == "drift":
        report = p.drift(day)
        print(json.dumps({"cmd": "drift", "report": report}, default=str))
        if (
            report is not None
            and args.psi_threshold >= 0
            and report["psi"] > args.psi_threshold
        ):
            return 2
        return 0

    raise AssertionError(args.cmd)


def main(argv=None) -> int:
    return run(build_parser().parse_args(argv))


if __name__ == "__main__":
    sys.exit(main())
