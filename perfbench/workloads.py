"""The benchmark's workloads.

Each workload has a set-up (fixtures, warm-up and, for ``score_ensembles``,
the fits, save and load) and a list of operations. One pass runs every
operation once, in order; each operation starts after the previous one ends.
Every operation is timed up to a finished fit or a full ``noop``-sink write,
never a ``count()``. Outputs are checked outside the timed region.

The estimator configurations are the registry's tree configurations
(``spark_ensemble_spark/queries.py``) with the learner counts in ``ROUNDS``:
the per-round cost is what the fit workload measures, and the registry
counts would make one run take several minutes.
"""

from __future__ import annotations

import contextlib
import os
import sys
import time

import numpy as np
from pyspark.sql import functions as F

# Base-learner counts (registry: 5 GBM rounds, 10 bagged learners).
ROUNDS = {"gbm_tree_regressor": 2, "bagging_tree_regressor": 2}
FIT_OPS = ["gbm_tree_regressor", "bagging_tree_regressor"]
ORACLE_SAMPLE_ROWS = 48
WIDE_REPEATS = 4  # the wide ensemble: the bagged classifier's two trees, 4 times


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def estimator(name: str, seed: int, nproc: int):
    """(train share, estimator) for one registry configuration."""
    from pyspark.ml.regression import DecisionTreeRegressor

    from spark_ensemble_spark.regression.bagging import BaggingRegressor
    from spark_ensemble_spark.regression.gbm import GBMRegressor

    n = ROUNDS[name]
    if name == "gbm_tree_regressor":
        return 0.7, GBMRegressor(
            baseLearner=DecisionTreeRegressor(maxDepth=5),
            numBaseLearners=n, learningRate=0.3, seed=seed,
        )
    if name == "bagging_tree_regressor":
        return 0.8, BaggingRegressor(
            baseLearner=DecisionTreeRegressor(maxDepth=5), numBaseLearners=n,
            subsampleRatio=0.8, subspaceRatio=0.8, parallelism=min(n, nproc), seed=seed,
        )
    raise KeyError(name)


class Ctx:
    """What a workload needs from the run: session, inputs and settings."""

    def __init__(self, spark, sf_dir, work_dir, seed, nproc, cpu):
        self.spark, self.sf_dir, self.work_dir = spark, sf_dir, work_dir
        self.seed, self.nproc = seed, nproc
        self.cpu = cpu  # () -> CPU seconds used so far by the JVM and Python
        self.setup_layers: dict = {}
        self.checked = 0
        self.check_s = self.check_cpu_s = 0.0  # checking, kept out of set-up
        self.wrong: list = []

    @contextlib.contextmanager
    def phase(self, label: str, checking: bool = False):
        """Log a set-up phase's duration; checking time is kept apart."""
        t0, c0 = time.perf_counter(), self.cpu()
        yield
        dt, dc = time.perf_counter() - t0, self.cpu() - c0
        if checking:
            self.check_s += dt
            self.check_cpu_s += dc
        print(f"  {label}: {dt:.2f}s, cpu {dc:.2f}s", file=sys.stderr, flush=True)

    def check(self, what: str, problems: list) -> None:
        """Count one checked output; ``problems`` describes its mismatches.
        Call it inside a checking phase, which times the checks."""
        self.checked += 1
        if problems:
            self.wrong.append(f"{what}: {'; '.join(problems)}")


class Op:
    """One timed operation; ``run`` returns (plan_s, exec_s, items, output)."""

    def __init__(self, name, run):
        self.name, self.run = name, run


def build_fixture(ctx: Ctx, build):
    """One of the library's assembled ML fixtures, materialized (timed as a
    layer); ``build`` is ``regression_dataset`` or ``multiclass_dataset``."""
    t0 = time.perf_counter()
    with ctx.phase("fixture"):
        df = build(ctx.spark, ctx.sf_dir)
        df.count()
    ctx.setup_layers["sources.datasets.fixture_build_s"] = time.perf_counter() - t0
    return df


# ---------------------------------------------------------------------------
# fit_ensembles
# ---------------------------------------------------------------------------


class FitWorkload:
    """A sequential fit (GBM: each round waits on the line search and state
    cache of the previous one) and a concurrent one (bagging: learners fit
    in parallel through ``run_parallel``)."""

    def setup(self, ctx: Ctx) -> None:
        from spark_ensemble_spark.sources.datasets import regression_dataset

        full = build_fixture(ctx, regression_dataset)
        self.splits = {}
        for name in FIT_OPS:
            share = estimator(name, ctx.seed, ctx.nproc)[0]
            train, hold = full.randomSplit([share, 1 - share], seed=ctx.seed)
            self.splits[name] = (train, hold, hold.count())
        with ctx.phase("warm-up"):  # the first fit of each kind compiles
            for op in self.ops(ctx):
                op.run()

    def ops(self, ctx: Ctx):
        def fit(name):
            def run():
                train = self.splits[name][0]
                est = estimator(name, ctx.seed, ctx.nproc)[1]
                t0 = time.perf_counter()
                model = est.fit(train)
                return 0.0, time.perf_counter() - t0, len(model.models), model

            return Op(f"fit_{name}", run)

        return [fit(n) for n in FIT_OPS]

    def check(self, ctx: Ctx, outputs: dict) -> None:
        for op_name, model in outputs.items():
            name = op_name[len("fit_") :]
            _, hold, n_hold = self.splits[name]
            ctx.check(op_name, holdout_problems(model, hold, n_hold, name))


def holdout_problems(model, hold, n_hold, name) -> list:
    """The registry's derived facts on the holdout: one prediction per row,
    an RMSE below the no-information predictor's (the label's population
    standard deviation), and the exact learner count where the algorithm
    fixes it (bagging never stops early)."""
    row = model.transform(hold).agg(
        F.count(F.lit(1)).alias("n"),
        F.sqrt(F.avg((F.col("prediction") - F.col("label")) ** 2)).alias("rmse"),
        F.stddev_pop("label").alias("base"),
    ).first()
    problems = []
    if row["n"] != n_hold:
        problems.append(f"{row['n']} predictions for {n_hold} holdout rows")
    if not row["rmse"] < row["base"]:
        problems.append(f"RMSE {row['rmse']} does not beat the baseline {row['base']}")
    if name.startswith("bagging") and len(model.models) != ROUNDS[name]:
        problems.append(f"{len(model.models)} models, expected {ROUNDS[name]}")
    return problems


# ---------------------------------------------------------------------------
# score_ensembles
# ---------------------------------------------------------------------------


class ScoreWorkload:
    """Scoring only: every combine rule of the library over the same trees.

    Set-up fits the members (:func:`fit_members`), saves and loads the bagged
    classifier, and builds the other ensembles from the members' trees with
    the public model constructors (:func:`assemble`): AdaBoost.R2 (weighted
    median), SAMME.R, GBM regression (weighted sum over the init), K-class
    GBM (softmax), stacking, and a wide hard-vote ensemble of
    ``2 * WIDE_REPEATS`` members. Scoring cost depends on the member count
    and the combine expression, not on how the weights were fitted; fitting
    and saving every ensemble would make set-up several times longer. Every
    ensemble scores the multiclass fixture: the regression members are fitted
    on its unit-price bucket as a number, and scoring does not read the label.
    """

    names = [
        "bagging_tree_regressor",
        "bagging_tree_classifier",
        "boosting_tree_regressor",
        "boosting_tree_classifier",
        "gbm_tree_regressor",
        "gbm_tree_classifier",
        "stacking_tree_classifier",
        "wide_bagging_classifier",
    ]

    def setup(self, ctx: Ctx) -> None:
        from perfbench.oracle import ensemble_problems, expected, predictions
        from spark_ensemble_spark.sources.datasets import multiclass_dataset

        self.full = build_fixture(ctx, multiclass_dataset)
        self.rows = self.full.count()
        with ctx.phase("fit members"):
            fitted = fit_members(self.full, ctx.seed, ctx.nproc)

        path = os.path.join(ctx.work_dir, "models", "bagging_tree_classifier")
        saved = fitted["bag_clf"]
        t0 = time.perf_counter()
        saved.write().overwrite().save(path)
        t1 = time.perf_counter()
        fitted["bag_clf"] = type(saved).load(path)
        ctx.setup_layers["core.persistence.save_s"] = t1 - t0
        ctx.setup_layers["core.persistence.load_s"] = time.perf_counter() - t1
        self.models = assemble(fitted, ctx.seed)

        # Combine rules the timed models do not use, on the same trees:
        # SAMME and the weighted mean vote.
        checks = [(name, self.models[name]) for name in self.names]
        for name, param, value in [
            ("boosting_tree_classifier", "algorithm", "discrete"),
            ("boosting_tree_regressor", "votingStrategy", "mean"),
        ]:
            model = self.models[name]
            checks.append((f"{name} {param}={value}", model.copy({model.getParam(param): value})))
        with ctx.phase("oracle checks", checking=True):
            frac = min(1.0, 4.0 * ORACLE_SAMPLE_ROWS / self.rows)
            sample = (
                self.full.withColumn("rid", F.monotonically_increasing_id())
                .sample(False, frac, seed=ctx.seed)
                .limit(ORACLE_SAMPLE_ROWS)
                .select("rid", "features")
                .cache()
            )
            sample.count()
            # the saved classifier rides along, to compare with the loaded one
            got = predictions([m for _, m in checks] + [saved], sample)
            cache: dict = {}  # base-model outputs by tree, shared across ensembles
            for (what, model), out in zip(checks, got):
                want = expected(model, sample, fitted["bag_reg"].numFeatures, cache)
                ctx.check(f"score_{what}", ensemble_problems(want, out))
            loaded = got[self.names.index("bagging_tree_classifier")]
            same = all(np.array_equal(a, b) for a, b in zip(loaded, got[-1]))
            ctx.check(
                "score_bagging_tree_classifier loaded == saved",
                [] if same else ["the loaded model predicts differently"],
            )
        with ctx.phase("warm-up"):
            for op in self.ops(ctx):
                op.run()

    def ops(self, ctx: Ctx):
        def score(name):
            model = self.models[name]

            def run():
                t0 = time.perf_counter()
                out = model.transform(self.full)
                t1 = time.perf_counter()
                noop_write(out)
                return t1 - t0, time.perf_counter() - t1, self.rows, None

            return Op(f"score_{name}", run)

        return [score(n) for n in self.names]

    def check(self, ctx: Ctx, outputs: dict) -> None:
        """Predictions were checked row by row in set-up."""


def fit_members(full, seed: int, nproc: int) -> dict:
    """The fitted models the scored ensembles are built from: a bagged
    regressor (3 trees) and a soft-voting bagged classifier (2 trees), as
    the registry configures them but for ``subspaceRatio=1.0``, so their
    trees take the full feature vector and can serve every combine rule;
    a mean init for GBM; a depth-3 tree stacker over the classifier trees'
    probabilities."""
    from pyspark.ml.classification import DecisionTreeClassifier
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import DecisionTreeRegressor

    from spark_ensemble_spark.classification.bagging import BaggingClassifier
    from spark_ensemble_spark.regression.bagging import BaggingRegressor
    from spark_ensemble_spark.regression.dummy import DummyRegressor

    common = dict(subsampleRatio=0.8, subspaceRatio=1.0, parallelism=min(3, nproc), seed=seed)
    bag_reg = BaggingRegressor(
        baseLearner=DecisionTreeRegressor(maxDepth=5), numBaseLearners=3, **common
    ).fit(full)
    bag_clf = BaggingClassifier(
        baseLearner=DecisionTreeClassifier(maxDepth=5), numBaseLearners=2,
        votingStrategy="soft", **common,
    ).fit(full)
    meta = full
    for i, tree in enumerate(bag_clf.models):
        meta = tree.transform(meta, {
            tree.getParam("featuresCol"): "features",
            tree.getParam("predictionCol"): f"_p{i}",
            tree.getParam("rawPredictionCol"): f"_r{i}",
            tree.getParam("probabilityCol"): f"_b{i}",
        })
    meta = VectorAssembler(inputCols=["_b0", "_b1"], outputCol="_meta").transform(meta)
    return {
        "bag_reg": bag_reg,
        "bag_clf": bag_clf,
        "init": DummyRegressor(strategy="mean").fit(full),
        "stack": DecisionTreeClassifier(maxDepth=3, featuresCol="_meta").fit(meta),
    }


def assemble(fitted: dict, seed: int) -> dict:
    """name -> model for every scored ensemble."""
    from spark_ensemble_spark.classification.bagging import BaggingClassificationModel
    from spark_ensemble_spark.classification.boosting import BoostingClassificationModel
    from spark_ensemble_spark.classification.gbm import GBMClassificationModel
    from spark_ensemble_spark.classification.stacking import StackingClassificationModel
    from spark_ensemble_spark.regression.boosting import BoostingRegressionModel
    from spark_ensemble_spark.regression.gbm import GBMRegressionModel

    rng = np.random.default_rng(seed)
    bag_reg, bag_clf = fitted["bag_reg"], fitted["bag_clf"]
    reg, clf = bag_reg.models, bag_clf.models
    nf, k = bag_reg.numFeatures, bag_clf.numClasses
    full = list(range(nf))

    boost_clf = BoostingClassificationModel(k, list(rng.uniform(0.5, 2.0, len(clf))), clf, nf)
    boost_clf.set(boost_clf.algorithm, "real")
    gbm_clf = GBMClassificationModel(  # one round of K regression trees
        k, k, list(rng.normal(0.0, 1.0, k)), [list(rng.uniform(0.5, 2.0, k))],
        [full], [reg[:k]], nf,
    )
    gbm_clf.set(gbm_clf.loss, "logloss")
    stacking = StackingClassificationModel(clf, fitted["stack"])
    stacking.set(stacking.stackMethod, "proba")
    wide = BaggingClassificationModel(k, [full] * (len(clf) * WIDE_REPEATS), clf * WIDE_REPEATS, nf)
    wide.set(wide.votingStrategy, "hard")
    return {
        "bagging_tree_regressor": bag_reg,
        "bagging_tree_classifier": bag_clf,
        "boosting_tree_regressor": BoostingRegressionModel(
            list(rng.uniform(0.5, 2.0, len(reg))), reg, nf
        ),
        "boosting_tree_classifier": boost_clf,
        "gbm_tree_regressor": GBMRegressionModel(
            list(rng.uniform(0.05, 0.3, len(reg))), [full] * len(reg), reg, fitted["init"], nf
        ),
        "gbm_tree_classifier": gbm_clf,
        "stacking_tree_classifier": stacking,
        "wide_bagging_classifier": wide,
    }


WORKLOADS = {"fit_ensembles": FitWorkload, "score_ensembles": ScoreWorkload}
