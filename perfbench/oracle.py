"""Row-by-row prediction oracle for the scored ensembles.

:func:`expected` scores a sample of rows with every base model's own
``transform`` (MLlib only) and recombines the outputs in numpy: mean, hard
and soft vote, weighted median, weighted mean, SAMME and SAMME.R, the GBM
weighted sums and softmax, and the stacker applied to the members'
probabilities. Nothing here goes through ``core.utils`` or ``core.base``.
:func:`predictions` collects the ensembles' own ``transform`` over the same
sample, and :func:`ensemble_problems` compares the two.
"""

from __future__ import annotations

import numpy as np
from pyspark.ml.feature import VectorAssembler, VectorSlicer
from pyspark.ml.functions import vector_to_array
from pyspark.sql import functions as F

EPS = 2.220446049250313e-16
TOL = 1e-9


def _collect(df, pred_cols, prob_cols):
    """{column: array} for the sample, ordered by ``rid``."""
    cols = [F.col("rid")] + [F.col(c) for c in pred_cols]
    cols += [vector_to_array(F.col(c)).alias(c) for c in prob_cols]
    got = sorted(df.select(*cols).collect(), key=lambda r: r["rid"])
    return {c: np.array([r[c] for r in got], dtype=float) for c in pred_cols + prob_cols}


def _members(sample, models, subspaces, n_feat, cache):
    """(prediction, probability or None) of each base model over the sample.

    ``cache`` maps ``id(model)`` to its outputs, so trees shared by several
    ensembles are scored once; the rest are chained and collected in one job.
    """
    todo = {id(m): (m, tuple(s)) for m, s in zip(models, subspaces) if id(m) not in cache}
    if todo:
        df, sliced = sample, {}
        for _, sub in todo.values():
            if sub != tuple(range(n_feat)) and sub not in sliced:
                sliced[sub] = f"s{len(sliced)}"
                df = VectorSlicer(inputCol="features", outputCol=sliced[sub], indices=list(sub)).transform(df)
        preds, probs = [], []
        for i, (m, sub) in enumerate(todo.values()):
            over = {m.getParam("featuresCol"): sliced.get(sub, "features"),
                    m.getParam("predictionCol"): f"p{i}"}
            if m.hasParam("rawPredictionCol"):
                over[m.getParam("rawPredictionCol")] = f"r{i}"
            if m.hasParam("probabilityCol"):
                over[m.getParam("probabilityCol")] = f"b{i}"
                probs.append(f"b{i}")
            df = m.transform(df, over)
            preds.append(f"p{i}")
        got = _collect(df, preds, probs)
        for i, key in enumerate(todo):
            cache[key] = (got[f"p{i}"], got.get(f"b{i}"))
    return [cache[id(m)][0] for m in models], [cache[id(m)][1] for m in models]


def _stacked(sample, model):
    """The stacker over the members' assembled probability vectors."""
    df, probs = sample, []
    for i, m in enumerate(model.models):
        df = m.transform(df, {m.getParam("predictionCol"): f"sp{i}",
                              m.getParam("rawPredictionCol"): f"sr{i}",
                              m.getParam("probabilityCol"): f"sb{i}"})
        probs.append(f"sb{i}")
    df = VectorAssembler(inputCols=probs, outputCol="smeta").transform(df)
    st = model.stack
    df = st.transform(df, {st.getParam("featuresCol"): "smeta",
                           st.getParam("predictionCol"): "spred",
                           st.getParam("rawPredictionCol"): "sraw",
                           st.getParam("probabilityCol"): "sprob"})
    got = _collect(df, ["spred"], ["sprob"])
    return got["spred"], got["sprob"]


def _weighted_median(values: np.ndarray, weights) -> np.ndarray:
    """First value, in (value, weight) order, whose cumulative weight reaches
    half the total; the largest value when none does."""
    w = np.asarray(weights, dtype=float)
    half = 0.5 * w.sum()
    out = np.empty(values.shape[0])
    for r, row in enumerate(values):
        order = sorted(range(len(row)), key=lambda j: (row[j], w[j]))
        cum, ans = 0.0, None
        for j in order:
            cum += w[j]
            if cum >= half:
                ans = row[j]
                break
        out[r] = row[order[-1]] if ans is None else ans
    return out


def _softmax(raw: np.ndarray) -> np.ndarray:
    e = np.exp(raw - raw.max(axis=1, keepdims=True))
    return e / e.sum(axis=1, keepdims=True)


def expected(model, sample, n_feat: int, cache: dict):
    """(prediction, probability or None) of ``model`` recombined in numpy."""
    kind = type(model).__name__
    full = list(range(n_feat))
    if kind == "StackingClassificationModel":
        if model.getStackMethod() != "proba":
            raise ValueError(f"oracle covers stackMethod='proba' only, got {model.getStackMethod()}")
        return _stacked(sample, model)
    if kind == "GBMClassificationModel":
        if model.getLoss() != "logloss":
            raise ValueError(f"oracle covers loss='logloss' only, got {model.getLoss()}")
        flat = [m for ms in model.models for m in ms]
        subs = [s for s in model.subspaces for _ in range(model.dim)]
        preds, _ = _members(sample, flat, subs, n_feat, cache)
        comp = []
        for j in range(model.dim):
            c = np.full(len(preds[0]), model.initRaw[j])
            for i in range(model.numModels):
                c = c + model.weights[i][j] * preds[i * model.dim + j]
            comp.append(c)
        binary = model.dim == 1 and model.numClasses == 2
        raw = np.stack([-comp[0], comp[0]] if binary else comp, 1)
        return raw.argmax(axis=1).astype(float), _softmax(raw)
    if kind == "GBMRegressionModel":
        preds, _ = _members(sample, [model.init] + model.models, [full] + model.subspaces, n_feat, cache)
        out = preds[0]
        for w, p in zip(model.weights, preds[1:]):
            out = out + w * p
        return out, None
    subs = getattr(model, "subspaces", None) or [full] * len(model.models)
    preds, probs = _members(sample, model.models, subs, n_feat, cache)
    if kind == "BaggingRegressionModel":
        return np.mean(np.stack(preds, 1), axis=1), None
    if kind == "BoostingRegressionModel":
        vals = np.stack(preds, 1)
        if model.getVotingStrategy() == "median":
            return _weighted_median(vals, model.weights), None
        w = np.asarray(model.weights)
        return (vals * w).sum(axis=1) / w.sum(), None
    k = model.numClasses
    onehot = [np.eye(k)[p.astype(int)] for p in preds]
    if kind == "BaggingClassificationModel":
        raw = np.sum(probs if model.getVotingStrategy() == "soft" else onehot, axis=0)
        return raw.argmax(axis=1).astype(float), raw / model.numModels
    if kind == "BoostingClassificationModel":
        raw = np.zeros((len(preds[0]), k))
        for i, w in enumerate(model.weights):
            if model.getAlgorithm() == "real":
                logs = np.log(np.maximum(probs[i], EPS))
                raw += (k - 1.0) * (logs - logs.mean(axis=1, keepdims=True))
            else:
                raw += np.where(onehot[i] == 1, w, -w / (k - 1.0))
        return raw.argmax(axis=1).astype(float), _softmax(raw / (k - 1.0))
    raise ValueError(f"no oracle for {kind}")


def predictions(models, sample) -> list:
    """(prediction, probability or None) of each ensemble's own
    ``transform`` over the sample: the transforms are chained with distinct
    output columns and collected in one job."""
    df, preds, probs = sample, [], []
    for i, m in enumerate(models):
        out = {m.getParam("predictionCol"): f"e{i}_pred"}
        for param in ("rawPredictionCol", "probabilityCol"):
            if m.hasParam(param):
                out[m.getParam(param)] = f"e{i}_{param}"
        df = m.copy(out).transform(df)
        preds.append(f"e{i}_pred")
        if m.hasParam("probabilityCol"):
            probs.append(f"e{i}_probabilityCol")
    got = _collect(df, preds, probs)
    return [(got[f"e{i}_pred"], got.get(f"e{i}_probabilityCol")) for i in range(len(models))]


def ensemble_problems(want, got) -> list:
    """Mismatches between an ensemble's predictions ``got`` and the numpy
    recombination ``want``, both (prediction, probability or None)."""
    (want_pred, want_prob), (got_pred, got_prob) = want, got
    problems = []
    if got_pred.shape != want_pred.shape:
        return [f"{len(got_pred)} predictions for {len(want_pred)} rows"]
    if want_prob is not None and got_prob is not None:
        if not np.allclose(got_prob, want_prob, rtol=TOL, atol=TOL):
            bad = int(np.argmax(np.abs(got_prob - want_prob).max(axis=1)))
            problems.append(f"probability row {bad}: {got_prob[bad]} != {want_prob[bad]}")
        # a class may flip only on an exact tie of the top two probabilities
        top2 = np.sort(want_prob, axis=1)[:, -2:]
        tie = np.abs(top2[:, 1] - top2[:, 0]) <= TOL
        wrong = (got_pred != want_pred) & ~tie
    else:
        wrong = ~np.isclose(got_pred, want_pred, rtol=TOL, atol=TOL)
    if wrong.any():
        i = int(np.flatnonzero(wrong)[0])
        problems.append(
            f"{int(wrong.sum())} wrong predictions, row {i}: {got_pred[i]} != {want_pred[i]}"
        )
    return problems
