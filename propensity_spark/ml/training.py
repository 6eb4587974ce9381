"""Model training & batch scoring (04b_Task__Model_Training.py,
04c_Task__Propensity_Estimation.py) on MLlib.

The reference pulls each per-commodity training set to the driver as
pandas (04b:361 — the process-boundary anti-pattern at scale), tunes
XGBoost with hyperopt SparkTrials over broadcast pandas (04b:370-409),
and registers models in MLflow (04b:424-443). Spark-native rebuild:

* training set assembly = labels x three feature-table lookups (M1/J7)
  — stays distributed, no toPandas on unbounded data;
* class imbalance -> ``weightCol`` (M4) from the W1 ratio table instead
  of `scale_pos_weight`;
* tuning -> ``TrainValidationSplit`` + ``ParamGridBuilder`` (M3) with
  parallelism = sc.defaultParallelism, seeded splits (M2);
* registry -> a parquet model manifest (model path, AUPR and stage per
  commodity) + saved MLlib pipelines under a models/ directory (M6);
* scoring -> ``PipelineModel.transform`` (M7), probability flipped to
  the positive class like `1 - prediction` at 04c:185.

Per-commodity models keyed off the k-row control table: the loop is a
driver loop over <=10 rows (C4-sanctioned), each iteration a fully
distributed fit."""

from __future__ import annotations

import functools
import shutil
import uuid
from pathlib import Path

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.classification import GBTClassifier, LogisticRegression
from pyspark.ml.evaluation import BinaryClassificationEvaluator
from pyspark.ml.feature import VectorAssembler
from pyspark.ml.tuning import ParamGridBuilder, TrainValidationSplit
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from propensity_spark.feature_store import DEFAULT_STORE, FeatureTable
from propensity_spark.io import committed
from propensity_spark.operators.features import GRAINS
from propensity_spark.operators.relational import q_class_ratios, q_labels
from propensity_spark.session import run_overlapped

SEED = 42


def build_training_set(
    spark: SparkSession, sf_dir: str, store_base: str, day
) -> tuple[DataFrame, list[str]]:
    """M1: labels + three exact-key feature lookups with rename
    prefixes (04b:195-217, 04b:353-358). Only looks up: the features of
    `day` must already be in the store at `store_base`, where
    `Pipeline.engineer_features` / `Pipeline.backfill` put them (the
    reference's training reads only through FeatureLookup; only the
    feature job writes). A missing table raises FileNotFoundError; a
    key with no feature row for `day` gets 0.0 features."""
    day_str = str(day)
    stage = Path(store_base) / "training_set" / f"day={day_str}"
    if not committed(stage):
        ts = q_labels(spark, sf_dir).withColumn("day", F.lit(day_str).cast("date"))
        for name, keys in GRAINS:
            ts = FeatureTable(spark, name, keys + ["day"], store_base).lookup(ts, name)
        feature_cols = [c for c in ts.columns if "__" in c]
        # left-outer lookups can miss (e.g. a household with no history):
        # reference fills 0.0 at feature build; we fill at assembly too.
        # Stage the assembled set to parquet: the ~1100-column lookup plan
        # compiles ONCE at the write; every per-commodity fit/transform
        # downstream re-reads a flat columnar scan instead of re-running
        # whole-stage codegen over the giant join tree (7x faster loop).
        ts.fillna(0.0, subset=feature_cols).write.mode("overwrite").parquet(str(stage))
    out = spark.read.parquet(str(stage))
    return out, [c for c in out.columns if "__" in c]


N_SEARCH_TRIALS = 12  # reference breadth: >=50 hyperopt TPE trials
# (04b:392-395); 12 grid points is the gate-budget default, `search=
# "random"` scales to any trial count over the same continuous ranges.


def _search_maps(clf, model_type: str, search: str, n_trials: int, seed: int = SEED):
    """The hyperparameter search space (M3). `grid` enumerates 12
    points mirroring hyperopt's space — maxDepth for `max_depth`,
    stepSize for `learning_rate` (04b:383-395); `random` is the seeded
    random-search sampler (Bergstra & Bengio 2012) over the same ranges
    with log-uniform draws for the learning-rate/regularization axes,
    at whatever trial count the caller budgets; the ADAPTIVE analogue
    of the reference's hyperopt TPE lives in ml/tuning_tpe.py and is
    selected with search='tpe'."""
    if search == "grid":
        if model_type == "gbt":
            return (
                ParamGridBuilder()
                .addGrid(clf.maxDepth, [2, 3, 5, 7])
                .addGrid(clf.stepSize, [0.05, 0.1, 0.3])
                .build()
            )
        return (
            ParamGridBuilder()
            .addGrid(clf.regParam, [0.0, 0.001, 0.01, 0.1])
            .addGrid(clf.elasticNetParam, [0.0, 0.5, 1.0])
            .build()
        )
    if search == "random":
        import math
        import random

        rng = random.Random(seed)
        maps = []
        for _ in range(n_trials):
            if model_type == "gbt":
                maps.append(
                    {
                        clf.maxDepth: rng.randint(2, 8),
                        clf.stepSize: math.exp(
                            rng.uniform(math.log(0.02), math.log(0.3))
                        ),
                        clf.subsamplingRate: rng.uniform(0.5, 1.0),
                    }
                )
            else:
                maps.append(
                    {
                        clf.regParam: math.exp(
                            rng.uniform(math.log(1e-4), math.log(1.0))
                        ),
                        clf.elasticNetParam: rng.uniform(0.0, 1.0),
                    }
                )
        return maps
    raise ValueError(f"unknown search {search!r}; expected 'grid' or 'random'")


def _strip_training_summaries(model) -> None:
    """Drop per-stage training summaries right after fit.

    Works around a Spark 4.1 serialization trap: LogisticRegressionModel
    (and friends) retain a `trainingSummary` whose `sparkSession` field
    is captured into any task closure that serializes the model (e.g.
    `evaluator.evaluate(model.transform(df))`). The session's
    `observationManager` is a non-serializable lazy val — uninitialized
    it serializes as null, but after ANY `df.observe(Observation, ...)`
    action anywhere in the session it is materialized, and every later
    model-in-closure job dies with `NotSerializableException:
    ObservationManager`. The summary is a fit-time diagnostic we never
    read; stripping it (the same thing a save/load round-trip does)
    keeps models closure-safe regardless of session history. The setter
    is `private[classification]` in Scala, which is public in bytecode,
    so py4j can call it; guarded so a future Spark that renames it
    degrades to the old behavior instead of breaking training."""
    from pyspark import SparkContext

    stages = getattr(model, "stages", None) or [model]
    for stage in stages:
        jobj = getattr(stage, "_java_obj", None)
        if jobj is None or not getattr(stage, "hasSummary", False):
            continue
        try:
            sc = SparkContext._active_spark_context
            jobj.setSummary(sc._jvm.scala.Option.empty())
        except Exception:  # noqa: BLE001 — best-effort hardening only
            pass


class SessionSafePipeline(Pipeline):
    """Pipeline whose fitted models never capture the SparkSession.

    TrainValidationSplit evaluates candidate models internally
    (pyspark.ml.tuning calls `evaluator.evaluate(model.transform(...))`
    per param map), so the summary strip must happen INSIDE fit — a
    caller-side strip would be too late for tuning. See
    `_strip_training_summaries` for the Spark 4.1 bug this defuses."""

    def _fit(self, dataset):
        model = super()._fit(dataset)
        _strip_training_summaries(model)
        return model


def make_pipeline(
    feature_cols: list[str],
    tune: bool = False,
    model_type: str = "gbt",
    search: str = "grid",
    n_trials: int = N_SEARCH_TRIALS,
):
    """VectorAssembler -> weighted classifier; when `tune`, a
    TrainValidationSplit over `_search_maps` (M3) with parallelism
    sized from the cluster (sc.defaultParallelism, capped by the trial
    count) rather than a hardcoded 4.

    model_type='gbt' (default) is the MLlib drop-in for the reference's
    XGBoost capability (04b:379-409); the conditional `scale_pos_weight`
    arm maps to the per-row weightCol already computed from the
    class-ratio table (M4). model_type='lr' keeps the linear baseline.
    The returned estimator carries `n_search_trials` for the manifest."""
    assembler = VectorAssembler(inputCols=feature_cols, outputCol="features")
    if model_type == "gbt":
        clf = GBTClassifier(
            labelCol="purchased",
            weightCol="class_weight",
            featuresCol="features",
            maxIter=10,
            maxDepth=3,
            stepSize=0.3,
            seed=SEED,
        )
    elif model_type == "lr":
        clf = LogisticRegression(
            labelCol="purchased", weightCol="class_weight", featuresCol="features", maxIter=10
        )
    else:
        raise ValueError(f"unknown model_type {model_type!r}; expected 'gbt' or 'lr'")
    if not tune:
        est = SessionSafePipeline(stages=[assembler, clf])
        est.n_search_trials = 1
        return est
    if search == "tpe":
        # Adaptive path (reference: hyperopt tpe.suggest, 04b:392-395).
        # Same search space and trial budget as 'random'; proposals
        # concentrate where earlier trials scored well. Returns an
        # object with .bestModel like TrainValidationSplit.
        from propensity_spark.ml.tuning_tpe import TPESearch

        return TPESearch(
            assembler, clf, model_type, n_trials or N_SEARCH_TRIALS, SEED
        )
    grid = _search_maps(clf, model_type, search, n_trials)
    from pyspark.sql import SparkSession

    sc = SparkSession.getActiveSession().sparkContext
    tvs = TrainValidationSplit(
        estimator=SessionSafePipeline(stages=[assembler, clf]),
        estimatorParamMaps=grid,
        evaluator=BinaryClassificationEvaluator(
            labelCol="purchased", metricName="areaUnderPR"  # M5: avg-precision analogue
        ),
        trainRatio=0.7,
        seed=SEED,
        parallelism=max(2, min(len(grid), sc.defaultParallelism)),
    )
    tvs.n_search_trials = len(grid)
    return tvs


_MANIFEST_SCHEMA = (
    "commodity_desc string, commodity_clean string, model_path string, "
    "metric_aupr double, stage string, n_trials int, error string"
)


def _fit_width(spark: SparkSession, n_fits: int, parts: int) -> int:
    """Per-commodity fits in flight: at most 3, and only as many as the
    session's cores hold at `parts` tasks per fit stage."""
    return max(1, min(3, n_fits, spark.sparkContext.defaultParallelism // parts))


def train_commodity_models(
    spark: SparkSession,
    sf_dir: str,
    commodities: list[str] | int | None = None,
    tune: bool = False,
    *,
    store_base: str,
    day,
    models_base: str | None = None,
    model_type: str = "gbt",
    search: str = "grid",
    n_trials: int = N_SEARCH_TRIALS,
    eval_tables: bool = False,
) -> DataFrame:
    """Per-commodity training loop (04b:330-338) + manifest registry
    (M6). Each commodity trains inside try/except (04b:400-417): one
    bad category records a 'failed' manifest row instead of killing the
    weekly job; healthy commodities still ship. A commodity whose
    training split holds one label class is not fitted: its row is
    'skipped', with no model path and the reason in `error`. Returns
    the manifest DataFrame (commodity, model_path, metric_aupr, stage,
    n_trials) — n_trials records the search breadth that produced the
    model. The training set is looked up from the features of `day` in
    the store at `store_base` (build_training_set); this never writes
    features, and raises ValueError, writing nothing, if any grain
    lacks `day`.

    `eval_tables=True` additionally writes the decile-lift and
    calibration-reliability tables of each model's held-out test
    split to `<model_path>__eval/{lift,reliability}` — reuses the one
    test-set transform the AUPR evaluation already runs, so the only
    extra cost is two tiny (n_bins-row) writes per commodity."""
    # Models default to UNDER the run's store dir: the caller's
    # cleanup of store_base removes them for free.
    models_base = models_base or str(Path(store_base) / "models")
    # Every lookup miss reads 0.0, so a day that was never engineered
    # would ship models fitted on all-zero features: refuse it up front
    # (metadata checks, no scan; the daily scoring path skips this).
    missing = [
        name
        for name, keys in GRAINS
        if not FeatureTable(spark, name, keys + ["day"], store_base).has_day(day)
    ]
    if missing:
        raise ValueError(
            f"feature tables {missing} hold no features for day {day} in "
            f"{store_base}; engineer the day before training"
        )
    ts, feature_cols = build_training_set(spark, sf_dir, store_base, day)

    ratios = (
        q_class_ratios(spark, sf_dir)
        .where(F.col("purchased") == 1)
        .select("commodity_desc", F.col("class_ratio").alias("pos_ratio"))
    )
    ts = ts.join(F.broadcast(ratios), "commodity_desc", "leftouter").withColumn(
        "class_weight",
        F.when(F.col("purchased") == 1, 1.0 / F.greatest(F.col("pos_ratio"), F.lit(1e-6)))
        .otherwise(F.lit(1.0)),
    )
    if commodities is None:
        commodities = sorted(r[0] for r in ratios.select("commodity_desc").collect())
    elif isinstance(commodities, int):
        commodities = sorted(r[0] for r in ratios.select("commodity_desc").collect())[
            :commodities
        ]

    if not commodities:
        # empty commodity list (sparse fixture day, or an explicit []):
        # an empty manifest with the stable schema, not the
        # ZeroDivisionError the `parts` sizing below would raise — one
        # bad day must not kill the weekly job.
        return spark.createDataFrame([], _MANIFEST_SCHEMA)
    n_train = ts.count()  # flat parquet scan; cheap
    # Right-size the per-category slice: iterative fits pay per-task
    # overhead x partitions, so a 10^3-row slice on 32 partitions
    # spends 5x longer scheduling than computing. ~50k rows/partition;
    # at 100 TB slices are large and this leaves them distributed.
    # Tree ensembles want MORE parallelism than LR: each GBT iteration
    # aggregates per-feature split statistics across partitions, so a
    # single-partition slice serializes the split search.
    parts = max(1, min(32, n_train // (len(commodities) * 50_000) + 1))
    if model_type == "gbt":
        parts = max(parts, 8)
    def _train_one(commodity: str) -> tuple:
        clean = commodity.replace("#", "_")
        # Per-thread evaluator: params live on the Python object, so
        # sharing one across concurrent fits would be a (benign but
        # pointless) cross-thread dependency.
        evaluator = BinaryClassificationEvaluator(
            labelCol="purchased", metricName="areaUnderPR"
        )
        spark.sparkContext.setJobDescription(f"train {commodity}")
        try:
            slice_df = ts.where(F.col("commodity_desc") == commodity).repartition(parts)  # P6
            train, test = slice_df.randomSplit([0.8, 0.2], seed=SEED)  # M2
            # A binary classifier cannot learn from one label class (MLlib
            # fits, then fails scoring on a length-1 rawPrediction): record
            # the commodity as skipped, with no model for the scorer. An
            # empty split (unknown commodity) still fails below.
            if train.agg(F.countDistinct("purchased")).first()[0] == 1:
                return (commodity, clean, None, None, "skipped", 0,
                        "training split has 1 label class; "
                        "a binary classifier needs both")
            est = make_pipeline(
                feature_cols, tune=tune, model_type=model_type, search=search, n_trials=n_trials
            )
            model = est.fit(train)
            pipeline_model = model.bestModel if tune else model
            scored_test = pipeline_model.transform(test)
            if eval_tables:
                # 3 actions read this frame (AUPR + two eval tables);
                # uncached, each would re-run the scan/split/transform
                scored_test = scored_test.persist()
            # unpersist must cover the WHOLE evaluate->save->eval-tables
            # sequence: if evaluate or the model save throws, the outer
            # per-category except would otherwise leave the persisted
            # frame registered in executor storage for the rest of the
            # weekly job (one leak per failed category).
            try:
                aupr = float(evaluator.evaluate(scored_test))
                path = str(Path(models_base) / clean)
                pipeline_model.write().overwrite().save(path)
                eval_err = None
                if eval_tables:
                    from pyspark.ml.functions import vector_to_array

                    # The eval tables are DIAGNOSTICS: a failure writing
                    # them must not mark the already-saved healthy model
                    # "failed" (which would make the scorer skip it) — it
                    # is recorded in the error column instead, stage intact.
                    try:
                        st = scored_test.select(
                            # household_key gives decile_lift's ntile a
                            # deterministic tie-break: GBT emits finitely
                            # many distinct leaf probabilities, so score
                            # ties are common and order-by-score-alone
                            # would bin them by partition layout.
                            "household_key",
                            "purchased",
                            vector_to_array("probability")[1].alias("prediction"),
                        )
                        decile_lift(st).write.mode("overwrite").parquet(
                            str(Path(f"{path}__eval") / "lift")
                        )
                        reliability_table(st).write.mode("overwrite").parquet(
                            str(Path(f"{path}__eval") / "reliability")
                        )
                    except Exception as exc:  # noqa: BLE001
                        eval_err = f"eval_tables: {type(exc).__name__}: {exc}"[:500]
            finally:
                if eval_tables:
                    scored_test.unpersist()
            return (commodity, clean, path, aupr, "Production",
                    est.n_search_trials, eval_err)
        except Exception as exc:  # noqa: BLE001 — isolation: one bad category
            # must not kill the weekly job (04b:400-417); the failure
            # is recorded WITH its cause so the scorer skips it and ops
            # can triage without re-running the job.
            return (commodity, clean, None, None, "failed",
                    0, f"{type(exc).__name__}: {exc}"[:500])

    # Overlap independent per-commodity fits (guide §2.6): each fit's
    # stages run `parts` tasks, so on a session whose defaultParallelism
    # far exceeds `parts` a sequential loop leaves most cores idle
    # through every GBT iteration's tail. 2-3 fits in flight back-fill
    # that. Results are unchanged: fits are per-commodity independent
    # (disjoint slices, disjoint model paths), randomSplit/GBT are
    # seeded per-DataFrame (concurrency does not change data or
    # partitioning), and results come back in the sorted manifest order.
    # Width derives from session capacity (_fit_width) — a lower-core
    # session degrades to the sequential loop. Each fit labels its jobs
    # with setJobDescription; every fit gets its own copy of the
    # caller's local properties, so a label never crosses fits and the
    # caller's job group carries over.
    ordered = sorted(commodities)
    manifest_rows = run_overlapped(
        spark,
        [functools.partial(_train_one, c) for c in ordered],
        width=_fit_width(spark, len(ordered), parts),
    )
    # job labels are thread-local: the overlapped fits took theirs with
    # them, but the sequential path set the caller's — clear it so
    # the last commodity's label doesn't annotate unrelated later jobs.
    spark.sparkContext.setJobDescription(None)
    return spark.createDataFrame(manifest_rows, _MANIFEST_SCHEMA)


def score_batch(
    spark: SparkSession, ts: DataFrame, manifest: DataFrame
) -> DataFrame:
    """M7 batch scoring: per-commodity model transform over the
    feature-joined key batch; positive-class probability extracted
    from the probability vector (the `1 - prediction` flip, 04c:185)."""
    from pyspark.ml.functions import vector_to_array

    parts = []
    rows = [r for r in manifest.collect() if r["model_path"]]  # <=10 control rows (C4)
    for row in rows:  # failed commodities (no model) are skipped
        model = PipelineModel.load(row["model_path"])
        batch = ts.where(F.col("commodity_desc") == row["commodity_desc"])
        scored = model.transform(batch).select(
            "household_key",
            "commodity_desc",
            vector_to_array("probability")[1].alias("prediction"),
        )
        parts.append(scored)
    if not parts:  # every commodity failed: empty scores, stable schema
        return spark.createDataFrame(
            [], "household_key bigint, commodity_desc string, prediction double"
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)  # §2.7: union instead of Delta-append loop
    return out


def classification_metrics(scored: DataFrame, threshold: float = 0.5) -> DataFrame:
    """M5 parity: the reference's sklearn metric set (04b:253-269 —
    average_precision via evaluator above, plus balanced_accuracy and
    matthews_corrcoef here) computed DISTRIBUTED from one confusion-
    matrix aggregation — no toPandas, one pass, O(1) result row.
    `scored` needs a `purchased` label and a `prediction` probability."""
    yhat = (F.col("prediction") >= threshold).cast("int")
    y = F.col("purchased")
    cm = scored.agg(
        F.sum(F.when((y == 1) & (yhat == 1), 1).otherwise(0)).alias("tp"),
        F.sum(F.when((y == 0) & (yhat == 1), 1).otherwise(0)).alias("fp"),
        F.sum(F.when((y == 0) & (yhat == 0), 1).otherwise(0)).alias("tn"),
        F.sum(F.when((y == 1) & (yhat == 0), 1).otherwise(0)).alias("fn"),
    )
    tp, fp, tn, fn = (F.col(c).cast("double") for c in ("tp", "fp", "tn", "fn"))
    # sklearn's balanced_accuracy_score averages recall over classes
    # PRESENT in y_true (an absent class is skipped, not counted as
    # recall 0) — so single-class perfect input scores 1.0, not 0.5.
    tpr = F.when(tp + fn > 0, tp / (tp + fn))
    tnr = F.when(tn + fp > 0, tn / (tn + fp))
    n_present = F.when(tp + fn > 0, 1).otherwise(0) + F.when(tn + fp > 0, 1).otherwise(0)
    bal_acc = (F.coalesce(tpr, F.lit(0.0)) + F.coalesce(tnr, F.lit(0.0))) / F.greatest(
        n_present.cast("double"), F.lit(1.0)
    )
    mcc_den = F.sqrt((tp + fp) * (tp + fn) * (tn + fp) * (tn + fn))
    return cm.select(
        "tp",
        "fp",
        "tn",
        "fn",
        F.round(bal_acc, 6).alias("balanced_accuracy"),
        F.round(
            F.when(mcc_den > 0, (tp * tn - fp * fn) / mcc_den).otherwise(0.0), 6
        ).alias("mcc"),
    )


def decile_lift(
    scored: DataFrame,
    score_col: str = "prediction",
    label_col: str = "purchased",
    n_bins: int = 10,
) -> DataFrame:
    """Decile lift / cumulative-gains table — the campaign-planning
    read of a propensity model (reference surfaces raw scores only,
    04c:189-202; this is the table the marketer actually sorts by):
    rank customers by score, cut into `n_bins` equal buckets, and per
    bucket report size, positives, response rate, lift vs the base
    rate, and cumulative gain (% of all positives captured by
    targeting the top k deciles).

    Plan: one `ntile` window over the scored frame (score-grain, the
    same 10^9-row caveat and percentile-boundary escape hatch as RFM's
    ntile — operators/behavior.py), one n_bins-row aggregation, then
    window cumulative sums over the TINY bucket frame. Deterministic:
    ties broken by the id ordering of `ntile`'s input sort."""
    w = Window.orderBy(F.desc(score_col), *[F.asc(c) for c in scored.columns
                                            if c not in (score_col, label_col)][:1])
    binned = scored.withColumn("decile", F.ntile(n_bins).over(w))
    per = binned.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col(label_col).cast("long")).alias("positives"),
    )
    cum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    tot = Window.partitionBy()
    return per.select(
        "decile",
        "n",
        "positives",
        F.round(F.col("positives") / F.col("n") + 1e-9, 6).alias("response_rate"),
        F.round(
            (F.col("positives") / F.col("n"))
            / (F.sum("positives").over(tot) / F.sum("n").over(tot))
            + 1e-9,
            4,
        ).alias("lift"),
        F.round(
            F.sum("positives").over(cum) / F.sum("positives").over(tot) + 1e-9,
            6,
        ).alias("cum_gain"),
    ).orderBy("decile")


def reliability_table(
    scored: DataFrame,
    score_col: str = "prediction",
    label_col: str = "purchased",
    n_bins: int = 10,
) -> DataFrame:
    """Calibration / reliability table: fixed-width probability bins
    (scores are already in [0,1]) with mean predicted probability vs
    observed positive rate and the per-bin calibration gap — the
    diagnostic that says whether `score_batch`'s probabilities can be
    read as purchase rates. Unlike decile_lift's rank bins, these
    are VALUE bins: map-side assignment (no ntile sort), one n_bins
    aggregation — shuffle-free except the n_bins-row exchange, the
    cheapest possible plan at any scale. `ece` (expected calibration
    error contribution, |gap| weighted by bin mass) sums to the
    standard ECE across rows."""
    b = F.least(
        F.floor(F.col(score_col) * n_bins).cast("int"), F.lit(n_bins - 1)
    )
    per = (
        scored.withColumn("bin", b)
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg(score_col) + 1e-9, 6).alias("mean_predicted"),
            F.round(
                F.avg(F.col(label_col).cast("double")) + 1e-9, 6
            ).alias("observed_rate"),
        )
    )
    tot = Window.partitionBy()
    return per.select(
        "bin",
        "n",
        "mean_predicted",
        "observed_rate",
        F.round(
            F.col("observed_rate") - F.col("mean_predicted") + 1e-9, 6
        ).alias("gap"),
        F.round(
            F.abs(F.col("observed_rate") - F.col("mean_predicted"))
            * F.col("n")
            / F.sum("n").over(tot)
            + 1e-9,
            6,
        ).alias("ece"),
    ).orderBy("bin")


def fold_expr(fold_key: str, k: int):
    """Deterministic fold id in [0, k): md5-uniform of the key mod k.
    Same hash family as split_by_hash — append-stable and group-aware
    (every row sharing fold_key gets the same fold). Map-only."""
    u = (
        f"cast(conv(substr(md5(cast(cast({fold_key} as string) as binary)), 1, 8),"
        " 16, 10) as bigint)"
    )
    return F.pmod(F.expr(u), F.lit(k)).cast("int")


def cross_validate(
    ts: DataFrame,
    feature_cols: list[str],
    k: int = 5,
    fold_key: str = "household_key",
    model_type: str = "lr",
    threshold: float = 0.5,
) -> DataFrame:
    """K-fold cross-validation with deterministic GROUP-AWARE folds —
    the evaluation the reference's single train/test split (04b:366)
    lacks when the metric must carry error bars.

    Fold = md5-uniform(fold_key) mod k, the same append-stable hash
    family as ``split_by_hash`` (text/analysis.py): all rows of one
    entity land in one fold (sklearn GroupKFold semantics), so
    correlated rows of a household never straddle train/test — the
    leak a row-wise randomSplit CV silently admits. Map-only fold
    assignment; stable across runs, partitionings, and appends.

    Class weights are computed from the TRAIN portion of each fold
    (one 1-row agg per fold — bounded, C4-style), never from the
    held-out slice. Each of the k fits is a fully distributed MLlib
    job; the input is persisted DISK-spillable for the k passes and
    unpersisted before return (at 100 TB, pass the parquet-staged set
    build_training_set returns, and the persist here is a cheap no-op
    on top of that scan).

    Returns a k-row DataFrame (fold, n_train, n_test, aupr,
    balanced_accuracy, mcc) — aggregate mean/std downstream."""
    from pyspark import StorageLevel

    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    folded = ts.withColumn("__fold", fold_expr(fold_key, k))
    folded = folded.persist(StorageLevel.MEMORY_AND_DISK)
    evaluator = BinaryClassificationEvaluator(
        labelCol="purchased", rawPredictionCol="probability", metricName="areaUnderPR"
    )
    rows = []
    try:
        for fold in range(k):
            train = folded.where(F.col("__fold") != fold)
            test = folded.where(F.col("__fold") == fold)
            # Per-fold imbalance weight from TRAIN only (no holdout leak).
            stats = train.agg(
                F.avg(F.col("purchased").cast("double")).alias("pos_ratio"),
                F.count(F.lit(1)).alias("n_train"),
            ).collect()[0]
            if not stats["n_train"] or stats["pos_ratio"] in (None, 0.0, 1.0):
                raise ValueError(
                    f"fold {fold}: training slice has a single class "
                    f"(pos_ratio={stats['pos_ratio']}) — increase data or lower k"
                )
            train = train.withColumn(
                "class_weight",
                F.when(
                    F.col("purchased") == 1, F.lit(1.0 / max(stats["pos_ratio"], 1e-6))
                ).otherwise(F.lit(1.0)),
            )
            model = make_pipeline(feature_cols, model_type=model_type).fit(train)
            scored = model.transform(
                test.withColumn("class_weight", F.lit(1.0))
            )
            aupr = float(evaluator.evaluate(scored))
            from pyspark.ml.functions import vector_to_array

            m = classification_metrics(
                scored.select(
                    "purchased",
                    vector_to_array("probability")[1].alias("prediction"),
                ),
                threshold=threshold,
            ).collect()[0]
            rows.append(
                (
                    fold,
                    int(stats["n_train"]),
                    int(m["tp"] + m["fp"] + m["tn"] + m["fn"]),
                    round(aupr, 6),
                    float(m["balanced_accuracy"]),
                    float(m["mcc"]),
                )
            )
    finally:
        folded.unpersist()
    spark = SparkSession.getActiveSession()
    return spark.createDataFrame(
        rows,
        "fold int, n_train bigint, n_test bigint, aupr double, "
        "balanced_accuracy double, mcc double",
    )


def q_train_score_propensity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train 2 commodity models end-to-end through the feature store,
    score the universe, and emit the DAG-shape invariants that ARE
    SQL-expressible (model WEIGHTS are not — the pipeline_e2e oracle
    pattern): per trained commodity,
      scored — ('scored', commodity, n_scored, all_valid): the scored
               universe is exactly the silver household set and every
               probability is in [0,1].
      model  — ('model', commodity, 0, ok): the manifest row shipped at
               stage Production with a model path and an AUPR in [0,1].
    Aggregating before the materializing collect keeps the driver
    transfer O(commodities) — at 100 TB the per-household scores stay
    distributed (score_batch writes them table-side). The collect is
    required: the result must materialize before `finally` deletes the
    model/feature store.

    Features reach the store the one way the pipeline writes them
    (`engineer_features` at the latest fact day, the anchor of the
    standalone feature queries); training and scoring both look up
    that day (J8: the same store round-trip, zero recomputation)."""
    # function-level import: pipeline imports this module
    from propensity_spark.operators.relational import fact_days
    from propensity_spark.pipeline import Pipeline

    base = DEFAULT_STORE / f"ml_{uuid.uuid4().hex[:8]}"
    try:
        p = Pipeline(spark, sf_dir, str(base))
        day = fact_days(spark, sf_dir).agg(F.max("day")).first()[0]
        p.engineer_features(day)
        manifest = p.run_weekly(2, day=day)
        scores = p.score(manifest, day)
        scored = scores.groupBy("commodity_desc").agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.count(F.when(F.col("prediction").between(0, 1), 1))
                == F.count(F.lit(1))
            )
            .cast("int")
            .alias("ok"),
        ).select(F.lit("scored").alias("section"), "commodity_desc", "n", "ok")
        model = manifest.select(
            F.lit("model").alias("section"),
            "commodity_desc",
            F.lit(0).cast("bigint").alias("n"),
            (
                (F.col("stage") == "Production")
                & F.col("model_path").isNotNull()
                & F.col("metric_aupr").between(0, 1)
            )
            .cast("int")
            .alias("ok"),
        )
        out = scored.unionByName(model)
        rows = out.collect()  # O(commodities), not O(households)
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(base, ignore_errors=True)


QUERIES = {"train_score_propensity": q_train_score_propensity}


def _train_score_oracle() -> str:
    """The DAG's deterministic shape: commodities=2 selects the
    alphabetically-first 2 of the top-k (sorted() over the class-ratio
    control, train_commodity_models above), scoring covers exactly the
    silver household universe per commodity, probabilities are in
    [0,1] by construction, and a healthy train run ships a Production
    manifest row with a valid AUPR — the same accounting the
    pipeline_e2e oracle pins for the orchestrated run."""
    from propensity_spark.operators.relational import SILVER_SQL, TOPK_SQL

    return f"""
        WITH tk AS ({TOPK_SQL}),
             trained AS (
                 SELECT commodity_desc FROM tk ORDER BY commodity_desc LIMIT 2
             ),
             hh AS (
                 SELECT count(DISTINCT household_key) AS n FROM ({SILVER_SQL}) s
             )
        SELECT 'scored' AS section, t.commodity_desc, hh.n, 1 AS ok
        FROM trained t CROSS JOIN hh
        UNION ALL
        SELECT 'model', commodity_desc, CAST(0 AS BIGINT), 1 FROM trained
    """


ORACLES: dict[str, str] = {"train_score_propensity": _train_score_oracle()}


NEG_SAMPLES_PER_POS = 3


def negative_sample(
    positives: DataFrame, catalog: DataFrame, k: int = NEG_SAMPLES_PER_POS
) -> DataFrame:
    """Deterministic negative sampling for implicit-feedback training
    sets: for each user with positives, draw k candidate negatives
    by hashing (user, slot) onto a DENSE-RANKED item index, then
    anti-filter any accidental positives (so per-user negative counts
    can fall below k for heavy users — deterministic, never resampled,
    matching how the draw behaves at refresh time). Map-side explode +
    one broadcast index join + one user-keyed anti join; no RNG state,
    so daily rebuilds are append-stable (the split_by_hash property).
    Returns (user, item, label) with positives at label 1.

    Append-stability is with respect to FACT-side appends under a
    FROZEN catalog: the dense-ranked index and the hash modulus both
    depend on the catalog, so adding one item reshuffles the draws of
    every user. Pin the catalog snapshot per training run when
    cross-run stability matters."""
    if k < 1:
        # sequence(0, k-1) counts DOWNWARD for k <= 0 (sequence(0, -1)
        # = [0, -1]), silently producing two draw slots instead of none
        raise ValueError(f"negative_sample: k must be >= 1, got {k}")
    items = (
        catalog.select(F.col(catalog.columns[0]).alias("item"))
        .distinct()
        .withColumn(
            "idx",
            F.row_number().over(Window.orderBy("item")) - 1,
        )
    )
    n_items = items.count()
    if n_items == 0:
        # `% 0` is a silent NULL in Spark (the join would match nothing
        # and the output would be positives-only, a single-class
        # training set) but an error in DuckDB — fail loudly instead
        raise ValueError("negative_sample: empty item catalog")
    pos = positives.select(
        F.col(positives.columns[0]).alias("user"),
        F.col(positives.columns[1]).alias("item"),
    ).distinct()
    draws = pos.select("user").distinct().select(
        "user", F.explode(F.expr(f"sequence(0, {k - 1})")).alias("slot")
    ).withColumn(
        "idx",
        F.expr(
            "cast(conv(substr(md5(cast(concat(cast(user as string), ':',"
            " cast(slot as string)) as binary)), 1, 12), 16, 10) as bigint)"
        )
        % n_items,
    )
    negs = (
        draws.join(F.broadcast(items), "idx")
        .select("user", "item")
        .distinct()
        .join(pos, ["user", "item"], "left_anti")
    )
    return pos.withColumn("label", F.lit(1)).unionByName(
        negs.withColumn("label", F.lit(0))
    )


def q_negative_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate entry: per-household brand positives from silver plus 3
    deterministic hashed negatives per household, at row grain
    (user, item, label) — the implicit-feedback training table."""
    from propensity_spark.io import load_table
    from propensity_spark.operators.relational import brand_dim, silver_transactions

    silver = silver_transactions(spark, sf_dir)
    pos = (
        silver.join(F.broadcast(brand_dim(spark, sf_dir)), "product_id")
        .select(
            F.col("household_key").alias("user"),
            F.col("commodity_desc").alias("item"),
        )
        .distinct()
    )
    cat = load_table(spark, sf_dir, "part").select(
        F.col("p_brand").alias("item")
    )
    return negative_sample(pos, cat)


NEGATIVE_SAMPLE_SQL = f"""
    WITH pos AS (
        SELECT DISTINCT o.o_custkey AS "user", p.p_brand AS item
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN part p ON l.l_partkey = p.p_partkey
    ),
    items AS (
        SELECT item, row_number() OVER (ORDER BY item) - 1 AS idx
        FROM (SELECT DISTINCT p_brand AS item FROM part)
    ),
    n AS (SELECT count(*) AS n_items FROM items),
    draws AS (
        SELECT "user",
               CAST(('0x' || substr(md5(CAST("user" AS VARCHAR) || ':'
                    || CAST(slot AS VARCHAR)), 1, 12)) AS BIGINT)
                   % (SELECT n_items FROM n) AS idx
        FROM (SELECT DISTINCT "user" FROM pos),
             (SELECT unnest(range(0, {NEG_SAMPLES_PER_POS})) AS slot)
    ),
    negs AS (
        SELECT DISTINCT d."user", i.item
        FROM draws d JOIN items i ON d.idx = i.idx
        WHERE NOT EXISTS (
            SELECT 1 FROM pos p WHERE p."user" = d."user" AND p.item = i.item
        )
    )
    SELECT "user", item, 1 AS label FROM pos
    UNION ALL
    SELECT "user", item, 0 FROM negs
"""


# --- gate registration (moved from the retired operators/overflow.py shim) ---
# Entries past the driver's 50-row budget register here, next to their
# operators; __spark_entry__ merges every module's QUERIES/ORACLES and
# DRIVER_GATE_PRIORITY decides what the driver sees.
QUERIES.update({
    "negative_sample": q_negative_sample,
})

ORACLES.update({
    "negative_sample": NEGATIVE_SAMPLE_SQL,
})
