"""End-to-end pipeline orchestration (M9).

The reference wires seven notebooks into daily/weekly job DAGs with
dbutils task values and widgets (00_Intro_and_Config.py:51-55,
RUNME.py:66-170; prose DAG in 03_Define_Workflow.py). Here the DAG is
plain Python over explicit parameters — same stages, same order:

    daily : feature engineering -> feature-store MERGE -> scoring ->
            pivot + unpivot score tables -> promotion
    weekly: labels -> class ratios -> per-category training -> registry

`run_daily` / `run_weekly` are the two jobs; `run_init` is
02_Initialize_Solution (control table + backfill + first training).
Every stage is a DataFrame plan; actions happen only at writes.
"""

from __future__ import annotations

import functools
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from propensity_spark.feature_store import DEFAULT_STORE, FeatureTable
from propensity_spark.ml.training import build_training_set, score_batch, train_commodity_models
from propensity_spark.operators.relational import top_commodities
from propensity_spark.session import run_overlapped


class Pipeline:
    def __init__(self, spark: SparkSession, sf_dir: str, base: str | None = None):
        self.spark = spark
        self.sf_dir = sf_dir
        self.base = Path(base or (DEFAULT_STORE.parent / "pipeline"))
        self.store = str(self.base / "feature_store")
        self.models = str(self.base / "models")
        self.out = self.base / "out"
        self.last_publish_metrics: dict | None = None
        self.last_drift: dict | None = None
        # DLT-@expect analogue: value-level expectations checked right
        # after each grain's MERGE (FeatureTable.validate rides them on
        # one agg pass). The default spec pins the engineered columns'
        # hard invariants — window counters are non-null and bounded by
        # the window, list amounts are non-null and non-negative; the
        # same generator feeds all three grains, so one list serves.
        # Override per-instance for custom tables.
        self.feature_expectations: list[dict] = [
            {"column": "days_30d", "max_null_frac": 0.0, "min": 0, "max": 30},
            {"column": "baskets_30d", "max_null_frac": 0.0, "min": 0},
            {"column": "amount_list_30d", "max_null_frac": 0.0, "min": 0},
        ]
        self.last_validation: dict[str, dict] | None = None

    # -- daily ------------------------------------------------------------

    def _grain_specs(self, asof=None):
        """(table name, PK, silver-shaped source, group keys) for the
        three feature grains — the ONE place the grain list lives, so
        the daily path and the multi-anchor backfill cannot drift.
        `asof` (a day Column predicate) restricts the fact scan."""
        from propensity_spark.operators.features import _with_commodity
        from propensity_spark.operators.relational import silver_transactions

        silver = silver_transactions(self.spark, self.sf_dir)
        with_comm = _with_commodity(self.spark, self.sf_dir)
        if asof is not None:
            silver = silver.where(asof)
            with_comm = with_comm.where(asof)
        return [
            ("household", ["household_key", "day"], silver, ["household_key"]),
            ("commodity", ["commodity_desc", "day"], with_comm, ["commodity_desc"]),
            (
                "household_commodity",
                ["household_key", "commodity_desc", "day"],
                with_comm,
                ["household_key", "commodity_desc"],
            ),
        ]

    def engineer_features(self, day, force: bool = False) -> None:
        """04a equivalent: build all three grains for `day` and MERGE
        them into the feature store (PK includes day, 04a:599).

        As in the reference (04a:82), the fact scan is restricted to
        ``day <= current_day`` BEFORE feature generation, so a
        historical backfill anchors every window at the backfill day —
        features as they would have been computed on that day — and a
        replayed table containing later data never leaks the future
        into a day's features. (The standalone gate queries anchor at
        the data's max(day) instead; for the pipeline's normal case —
        scoring the latest day — the two coincide.)

        Idempotent per day: a day whose partition is already
        materialized is skipped (metadata check, no scan) — so
        init-backfill followed by the daily job computes each grid
        exactly once. `force=True` recomputes (source-data revision)."""
        from propensity_spark.operators.features import _spark_features

        stamp = F.lit(day).cast("date")

        def _one(spec):
            name, pk, src, keys = spec
            table = FeatureTable(self.spark, name, pk, self.store)
            if not force and table.has_day(day):
                return name, None
            table.merge(_spark_features(src, keys).withColumn("day", stamp))
            # post-merge expectations on the freshly written day only
            # (pruned read): a broken column is caught the run it lands
            return name, table.validate(day, expectations=self.feature_expectations)

        # The three grains are independent tables (distinct paths,
        # per-table writer locks): overlap their merge+validate rounds
        # (guide §2.6) so one grain's scan-fused serial segments and
        # write tails back-fill with the others' work. Validation dict
        # order stays the grain-spec order (results gathered in order).
        specs = self._grain_specs(asof=F.col("day") <= stamp)
        # clear up-front (as the old sequential code did): if a grain's
        # merge/validate raises, the attribute must not silently retain
        # the PREVIOUS run's validation results.
        self.last_validation = {}
        results = run_overlapped(
            self.spark, [functools.partial(_one, spec) for spec in specs]
        )
        self.last_validation = {n: v for n, v in results if v is not None}

    def backfill(self, days, force: bool = False) -> None:
        """One-pass multi-anchor backfill of all three grains
        (multi_day_features): ONE scan of the facts and one shared
        (keys, anchor) aggregation per grain for the whole day list,
        versus the reference's notebook loop (02:78-101) and the
        per-day `engineer_features` path. Anchoring semantics are
        identical (pinned by the bit-exact equivalence test): each
        anchor sees only facts at-or-before it. Already-materialized
        days are skipped (same idempotency as the daily path)."""
        from propensity_spark.operators.features import multi_day_features

        def _one(spec):
            name, pk, src, keys = spec
            table = FeatureTable(self.spark, name, pk, self.store)
            todo = [d for d in days if force or not table.has_day(d)]
            if todo:
                table.merge(multi_day_features(src, keys, todo))

        # same §2.6 overlap as engineer_features: three independent
        # grain tables, one multi-anchor merge each.
        run_overlapped(
            self.spark,
            [functools.partial(_one, spec) for spec in self._grain_specs()],
        )

    def score(self, manifest: DataFrame, day) -> DataFrame:
        """04c equivalent: universe x features -> per-model transform.
        Looks up the features engineer_features already merged for
        `day` — no recomputation (contrast the reference, which routes
        through fs.score_batch doing the same lookup, 04c:181-186)."""
        ts, _ = build_training_set(
            self.spark, self.sf_dir, self.store, materialize=False, day=day
        )
        return score_batch(self.spark, ts, manifest).withColumn(
            "day", F.lit(day).cast("date")
        )

    def publish(self, scores: DataFrame) -> tuple[str, str]:
        """04c:124-286: stage pivoted + unpivoted score tables, then
        promote atomically (write temp, then INSERT-OVERWRITE-style
        swap). Pivot is ONE shuffle (M8) instead of N MERGEs.

        Both published tables are partitioned by ``day`` with DYNAMIC
        partition overwrite: a daily run replaces only the day(s) it
        scored, never history — at 100 TB a flat overwrite would
        rewrite every historical score file each day. A scoring-day
        read prunes to one partition (see ``read_published``)."""
        from pyspark.sql import Observation

        # In-flight observability (df.observe): metrics ride the write
        # job itself — no second scan of the scores at any scale. The
        # daily job reads them after publish to alert on empty or
        # out-of-range outputs (self.last_publish_metrics).
        # Three downstream passes consume `scores` (the commodity-list
        # collect, the unpivoted promote, the pivoted promote) and each
        # would re-run every model's transform over the feature join
        # (guide §5 "reused AND expensive to recompute"). Persist for
        # THIS publish only; released in `finally`.
        scores = scores.persist()
        obs = Observation("publish_metrics")
        unpivoted = scores.select(
            "household_key", "day", "commodity_desc", "prediction"
        ).observe(
            obs,
            F.count(F.lit(1)).alias("n_scores"),
            F.count(F.when(~F.col("prediction").between(0, 1), 1)).alias(
                "n_out_of_range"
            ),
            F.count(F.when(F.col("prediction").isNull(), 1)).alias("n_null"),
        )
        clean = F.regexp_replace("commodity_desc", "#", "_")
        paths = (str(self.out / "propensities_unpivoted"), str(self.out / "propensities_pivoted"))
        try:
            present = sorted(
                r[0] for r in scores.select(clean.alias("c")).distinct().collect()
            )
            pivoted = (
                scores.withColumn("commodity_clean", clean)
                .groupBy("household_key", "day")
                .pivot("commodity_clean", present)
                .agg(F.first("prediction"))
            )
            for df, path in ((unpivoted, paths[0]), (pivoted, paths[1])):
                self._promote(df, path)
            self.last_publish_metrics = obs.get
        finally:
            scores.unpersist()
        return paths

    def _promote(self, df: DataFrame, path: str) -> None:
        """Stage the full plan to a sibling temp dir (one execution of
        the expensive DAG), then graft its day partitions onto the
        published table via dynamic partition overwrite — the parquet
        analogue of the reference's Delta INSERT OVERWRITE promotion
        (04c:266-286). Temp lives OUTSIDE the table root so partition
        discovery can never pick it up, and is removed afterwards."""
        import shutil

        tmp = path + "__TEMP"
        df.write.mode("overwrite").parquet(tmp)
        (
            self.spark.read.parquet(tmp)
            .write.mode("overwrite")
            .partitionBy("day")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(path)
        )
        shutil.rmtree(tmp, ignore_errors=True)

    def read_published(self, which: str = "unpivoted", day=None) -> DataFrame:
        """Read a published score table; ``day`` prunes to one
        partition (PartitionFilters in the scan, no history touched).
        mergeSchema because incremental commodity grafts may widen
        newer day partitions before older ones are rewritten — Delta
        autoMerge semantics (missing columns read as NULL)."""
        path = str(self.out / f"propensities_{which}")
        df = self.spark.read.option("mergeSchema", "true").parquet(path)
        return df.where(F.col("day") == F.lit(day)) if day is not None else df

    def publish_incremental(self, scores: DataFrame) -> str:
        """S6: the reference's per-commodity MERGE with autoMerge schema
        evolution (04c:156, 189-202) — an 11th commodity EXTENDS the
        wide table with one new column instead of rebuilding it.
        Incoming scores pivot to (household_key, day, <commodity cols>),
        then a single full-outer join on the keys grafts them onto the
        existing table: new columns are added, overlapping columns take
        the incoming value (whenMatchedUpdate), untouched columns ride
        along unchanged. ONE key-shuffle regardless of how many
        commodities exist — the reference pays one MERGE pass per
        commodity.

        The table is day-partitioned, so the graft touches ONLY the
        day partitions present in `scores` (bounded collect of scoring
        days — one or a handful per batch): the existing side is a
        partition-pruned scan and the write is a dynamic overwrite of
        those same partitions. History is never read or rewritten."""
        path = str(self.out / "propensities_pivoted")
        clean = F.regexp_replace("commodity_desc", "#", "_")
        present = sorted(
            r[0] for r in scores.select(clean.alias("c")).distinct().collect()
        )
        incoming = (
            scores.withColumn("commodity_clean", clean)
            .groupBy("household_key", "day")
            .pivot("commodity_clean", present)
            .agg(F.first("prediction"))
        )
        keys = ["household_key", "day"]
        if not Path(path).exists():
            self._promote(incoming, path)
            return path
        days = [r["day"] for r in incoming.select("day").distinct().collect()]
        existing = (
            self.spark.read.option("mergeSchema", "true")
            .parquet(path)
            .where(F.col("day").isin(days))
        )
        joined = existing.alias("e").join(incoming.alias("i"), keys, "full_outer")
        cols = [F.col(k) for k in keys]
        for c in existing.columns:
            if c in keys:
                continue
            if c in incoming.columns:
                cols.append(F.coalesce(incoming[c], existing[c]).alias(c))
            else:
                cols.append(existing[c].alias(c))
        cols += [
            incoming[c].alias(c)
            for c in incoming.columns
            if c not in keys and c not in existing.columns
        ]
        self._promote(joined.select(*cols), path)
        return path

    def drift(self, day, baseline_day=None, bins: int = 10) -> dict | None:
        """Score-distribution drift vs a previously published day: the
        PSI (ml/monitoring) between the baseline day's published
        predictions and `day`'s. Default baseline is the latest
        published day BEFORE `day`. Both sides are single pruned day
        partitions; the day listing is a control-plane collect (one row
        per published day). Returns ``{"psi", "day", "baseline_day"}``
        or None when there is nothing to compare against. Alerting is
        the CLI's job: the `daily` and `drift` subcommands exit
        non-zero when psi exceeds ``--psi-threshold`` (default 0.25,
        the standard 'broken' threshold) so schedulers page long
        before the weekly retrain would notice."""
        from propensity_spark.io import as_date as _as_date
        from propensity_spark.ml.monitoring import psi_value

        if not (self.out / "propensities_unpivoted").exists():
            return None
        if baseline_day is None:
            days = sorted(
                _as_date(r[0])
                for r in self.read_published("unpivoted")
                .select("day")
                .distinct()
                .collect()
            )
            prior = [d for d in days if d < _as_date(day)]
            if not prior:
                return None
            baseline_day = prior[-1]
        base = self.read_published("unpivoted", baseline_day).select("prediction")
        cur = self.read_published("unpivoted", day).select("prediction")
        return {
            "psi": psi_value(base, cur, "prediction", bins),
            "day": str(_as_date(day)),
            "baseline_day": str(_as_date(baseline_day)),
        }

    def run_daily(self, day, manifest: DataFrame) -> tuple[str, str]:
        self.engineer_features(day)
        paths = self.publish(self.score(manifest, day))
        # post-publish observability: in-flight metrics are already in
        # last_publish_metrics; drift closes the loop against history
        self.last_drift = self.drift(day)
        return paths

    # -- weekly / init ------------------------------------------------------

    def run_weekly(
        self,
        n_commodities: int | None = None,
        tune: bool = False,
        day=None,
        model_type: str = "gbt",
        search: str = "grid",
        n_trials: int | None = None,
        eval_tables: bool = False,
    ) -> DataFrame:
        """Features for `day` must already be in the store (run_init /
        engineer_features put them there); training only looks up.
        `search`/`n_trials` select the tuning breadth when `tune`
        (the CLI passes search='random', n_trials=50 for reference
        parity with the >=50 hyperopt trials at 04b:392-395);
        `eval_tables` ships per-model lift + calibration tables."""
        from propensity_spark.ml.training import N_SEARCH_TRIALS

        return train_commodity_models(
            self.spark,
            self.sf_dir,
            commodities=n_commodities,
            tune=tune,
            store_base=self.store,
            models_base=self.models,
            materialize_features=False,
            day=day,
            model_type=model_type,
            search=search,
            n_trials=N_SEARCH_TRIALS if n_trials is None else n_trials,
            eval_tables=eval_tables,
        )

    def run_init(
        self, day, n_commodities: int = 2, backfill_days: int = 1, model_type: str = "gbt"
    ) -> DataFrame:
        """02_Initialize_Solution: control table + feature backfill for
        `backfill_days` extra historical days at 30d spacing (the
        reference backfills 2 days total, 02:78-101 — the default here)
        + first training. The backfill runs as ONE multi-anchor pass
        per grain (`backfill`), not a per-day loop."""
        top_commodities(self.spark, self.sf_dir).write.mode("overwrite").parquet(
            str(self.base / "commodities_to_score")
        )
        import datetime

        self.backfill(
            [day - datetime.timedelta(days=30 * i) for i in range(backfill_days + 1)]
        )
        return self.run_weekly(n_commodities, day=day, model_type=model_type)


def q_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only gate query: init -> daily -> read back the published
    unpivoted table. Small config (2 commodities) to stay fast."""
    import datetime
    import shutil
    import uuid

    base = DEFAULT_STORE.parent / f"pipeline_{uuid.uuid4().hex[:8]}"
    day = datetime.date(2024, 2, 1)
    try:
        p = Pipeline(spark, sf_dir, str(base))
        # Gate config: the linear model keeps this entry about the DAG
        # (features -> store -> train -> score -> publish), not tree fit
        # time — GBT is exercised by the `train_score_propensity` gate —
        # and backfill_days=0 skips the historical-day feature grids the
        # oracle never observes (the backfill path is pytest-pinned by
        # test_pipeline_init_daily_roundtrip).
        manifest = p.run_init(day, n_commodities=2, backfill_days=0, model_type="lr")
        unpivoted_path, pivoted_path = p.run_daily(day, manifest)
        out = (
            spark.read.parquet(unpivoted_path)
            .groupBy("commodity_desc", "day")
            .agg(
                F.count(F.lit(1)).alias("n_scores"),
                F.count(F.when(F.col("prediction").between(0, 1), 1)).alias("n_valid"),
            )
        )
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(base, ignore_errors=True)


QUERIES = {"pipeline_e2e": q_pipeline_e2e}


def _pipeline_oracle() -> str:
    """The e2e DAG's row accounting is deterministic: run_init trains
    the alphabetically-first 2 of the top-k commodities, the daily
    scores every silver household for each trained commodity, and a
    probability is in [0,1] by construction — so n_valid == n_scores ==
    |households|. Model WEIGHTS aren't SQL-expressible; the DAG's
    shape, membership, and score-validity are, and that is what this
    pins."""
    from propensity_spark.operators.relational import SILVER_SQL, TOPK_SQL

    return f"""
        WITH tk AS ({TOPK_SQL}),
             trained AS (
                 SELECT commodity_desc FROM tk ORDER BY commodity_desc LIMIT 2
             ),
             hh AS (
                 SELECT count(DISTINCT household_key) AS n FROM ({SILVER_SQL}) s
             )
        SELECT t.commodity_desc, DATE '2024-02-01' AS day,
               hh.n AS n_scores, hh.n AS n_valid
        FROM trained t CROSS JOIN hh
    """


ORACLES: dict[str, str] = {"pipeline_e2e": _pipeline_oracle()}
