"""Numpy GBDT (reference §2.9 ensemble scorer): nonlinear power the
logistic stand-in lacks, deterministic fits, and Catalyst-expr inference
identical to the numpy path."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from whoiswho_spark.operators.gbdt import (
    fit_gbdt,
    gbdt_margin,
    gbdt_predict_udf,
    gbdt_score_col,
)


def _xor_df(spark, n=2000, seed=3):
    rng = np.random.RandomState(seed)
    X = rng.randn(n, 2)
    y = ((X[:, 0] > 0) != (X[:, 1] > 0)).astype(float)
    rows = [(float(a), float(b), float(t)) for (a, b), t in zip(X, y)]
    return spark.createDataFrame(rows, "f0 double, f1 double, label double")


def test_gbdt_learns_xor_where_logistic_cannot(spark):
    df = _xor_df(spark)
    model = fit_gbdt(df, ["f0", "f1"], n_trees=40, max_depth=3)
    scored = df.select(
        "label", gbdt_score_col(model).alias("p")
    ).collect()
    acc = np.mean([(r["p"] > 0.5) == (r["label"] > 0.5) for r in scored])
    assert acc >= 0.95, acc

    # logistic on raw XOR features is chance-level — the nonlinearity is
    # exactly what the tree ensemble adds over the round-1 stand-in
    from whoiswho_spark.operators.scoring import fit_logistic_scorer, logistic_score_col

    lm = fit_logistic_scorer(df, label_col="label", feature_cols=["f0", "f1"])
    lscored = df.select("label", logistic_score_col(lm).alias("p")).collect()
    lacc = np.mean([(r["p"] > 0.5) == (r["label"] > 0.5) for r in lscored])
    assert lacc < 0.65, lacc


def test_gbdt_deterministic_fit(spark):
    df = _xor_df(spark, n=500, seed=11)
    m1 = fit_gbdt(df, ["f0", "f1"], n_trees=10)
    m2 = fit_gbdt(df, ["f0", "f1"], n_trees=10)
    assert m1 == m2


def test_gbdt_catalyst_equals_numpy_and_udf(spark):
    df = _xor_df(spark, n=400, seed=5)
    model = fit_gbdt(df, ["f0", "f1"], n_trees=12)

    rows = df.select("f0", "f1").collect()
    X = np.asarray([[r["f0"], r["f1"]] for r in rows])
    want = 1.0 / (1.0 + np.exp(-gbdt_margin(model, X)))

    got_cat = [
        r["p"]
        for r in df.select(gbdt_score_col(model).alias("p")).collect()
    ]
    from whoiswho_spark.operators.gbdt import gbdt_features_col

    udf = gbdt_predict_udf(model)
    got_udf = [
        r["p"]
        for r in df.select(udf(gbdt_features_col(model)).alias("p")).collect()
    ]
    # row order: collect order is stable for the same local plan
    np.testing.assert_allclose(sorted(got_cat), sorted(want), rtol=0, atol=1e-9)
    np.testing.assert_allclose(sorted(got_udf), sorted(got_cat), rtol=0, atol=1e-12)


def test_gbdt_separates_er_pairs(spark):
    """On linearly-separable ER-feature-shaped data the ensemble reaches
    the same separation the logistic gate requires."""
    rng = np.random.RandomState(7)
    pos = np.clip(rng.normal(0.8, 0.1, (300, 3)), 0, 1)
    neg = np.clip(rng.normal(0.2, 0.1, (300, 3)), 0, 1)
    rows = [(*map(float, v), 1.0) for v in pos] + [(*map(float, v), 0.0) for v in neg]
    df = spark.createDataFrame(rows, "a double, b double, c double, label double")
    model = fit_gbdt(df, ["a", "b", "c"], n_trees=20)
    got = df.select("label", gbdt_score_col(model).alias("p")).collect()
    pmean = np.mean([r["p"] for r in got if r["label"] == 1.0])
    nmean = np.mean([r["p"] for r in got if r["label"] == 0.0])
    assert pmean > 0.9 and nmean < 0.1, (pmean, nmean)


def test_per_group_gbdt_separates_group_flipped_labels(spark):
    """Two groups with OPPOSITE labelings of the same feature space: a
    single global model cannot beat chance on both, but per-group fits
    (groupBy().applyInPandas) separate each group cleanly. Also checks
    the small-group base-rate fallback and rerun determinism."""
    import numpy as np

    from whoiswho_spark.operators.gbdt import fit_predict_gbdt_per_group

    rs = np.random.RandomState(5)
    rows = []
    for g, flip in (("ga", 0.0), ("gb", 1.0)):
        for i in range(200):
            # margin around the x=5 boundary so no quantile bin straddles it
            x = float(rs.uniform(0, 4.0)) if i % 2 else float(rs.uniform(6.0, 10.0))
            label = float(x > 5.0) if flip == 0.0 else float(x <= 5.0)
            rows.append((g, f"{g}-{i}", x, float(rs.uniform()), label))
    rows += [("tiny", f"tiny-{i}", 1.0, 1.0, 1.0) for i in range(3)]
    df = spark.createDataFrame(
        rows, "blk string, url string, f_x double, f_noise double, label double"
    )
    out = fit_predict_gbdt_per_group(
        df, "blk", ["f_x", "f_noise"], n_trees=10, min_rows=8
    )
    got = {r["url"]: r["gbdt_score"] for r in out.collect()}
    assert len(got) == 403
    labels = {r["url"]: r["label"] for r in df.collect()}
    # per-group AUC-ish check: every positive scores above every negative mean
    for g in ("ga", "gb"):
        pos = [got[u] for u in got if u.startswith(g) and labels[u] == 1.0]
        neg = [got[u] for u in got if u.startswith(g) and labels[u] == 0.0]
        assert min(pos) > max(neg), (g, min(pos), max(neg))
    # tiny group: base-rate fallback (all labels 1.0 → score 1.0)
    assert all(abs(got[f"tiny-{i}"] - 1.0) < 1e-12 for i in range(3))
    # determinism
    got2 = {r["url"]: r["gbdt_score"] for r in fit_predict_gbdt_per_group(
        df, "blk", ["f_x", "f_noise"], n_trees=10, min_rows=8).collect()}
    assert got == got2


def test_ensemble_vote_col_weighted_mean(spark):
    """AutoTrainRND.py:36-48 semantics: sum(score_i * w_i) / sum(w);
    equal weights degrade to the fold mean."""
    import numpy as np
    from pyspark.sql import functions as F

    from whoiswho_spark.operators.gbdt import ensemble_vote_col

    rows = [(0.9, 0.1, 0.5), (0.2, 0.8, 0.4), (0.0, 1.0, 1.0)]
    df = spark.createDataFrame(rows, "s0 double, s1 double, s2 double")
    w = [3.0, 1.0, 2.0]
    got = [
        r["v"]
        for r in df.select(
            ensemble_vote_col(["s0", "s1", "s2"], w).alias("v")
        ).collect()
    ]
    want = [sum(s * wi for s, wi in zip(r, w)) / sum(w) for r in rows]
    assert np.allclose(got, want)

    eq = [
        r["v"]
        for r in df.select(ensemble_vote_col(["s0", "s1", "s2"]).alias("v")).collect()
    ]
    assert np.allclose(eq, [sum(r) / 3 for r in rows])

    import pytest

    with pytest.raises(ValueError):
        ensemble_vote_col(["s0"], [1.0, 2.0])
    with pytest.raises(ValueError):
        ensemble_vote_col(["s0", "s1"], [0.0, 0.0])


def test_fit_sample_is_uniform_not_feature_ordered(spark):
    """The bounded fit sample must not be the lexicographic head (which
    would systematically take the smallest feature values — at scale,
    e.g., all the label=0 rows) and must be a pure function of the data:
    identical across partitionings, plan-stable as TakeOrderedAndProject."""
    from whoiswho_spark.operators.gbdt import deterministic_fit_sample

    # lexicographic head of (f, label) = rows 0..49, ALL label 0
    df = spark.createDataFrame(
        [(float(i), 1 if i >= 100 else 0) for i in range(200)],
        "f double, label int",
    )
    s = deterministic_fit_sample(df, ["f", "label"], 50)
    rows = {(r["f"], r["label"]) for r in s.collect()}
    labels = {l for _, l in rows}
    assert labels == {0, 1}, "hash-ordered sample must span both labels"
    assert rows != {(float(i), 0) for i in range(50)}, "must not be the head"

    # partitioning-invariant (the determinism contract)
    rows2 = {
        (r["f"], r["label"])
        for r in deterministic_fit_sample(
            df.repartition(7), ["f", "label"], 50
        ).collect()
    }
    assert rows2 == rows

    # still the cheap top-K physical plan, not a full sort
    plan = s._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan


def test_gbdt_refuses_null_feature_or_label(spark):
    """toPandas turns a NULL into NaN; the fit must refuse it rather
    than learn from NaN gains."""
    rows = [(float(i % 7), float(i % 3), float(i % 2)) for i in range(60)]
    schema = "f0 double, f1 double, label double"
    null_feature = spark.createDataFrame(rows + [(None, 1.0, 0.0)], schema)
    with pytest.raises(ValueError, match="f0"):
        fit_gbdt(null_feature, ["f0", "f1"], n_trees=2)
    null_label = spark.createDataFrame(rows + [(1.0, 1.0, None)], schema)
    with pytest.raises(ValueError, match="label"):
        fit_gbdt(null_label, ["f0", "f1"], n_trees=2)
