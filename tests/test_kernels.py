"""Unit tests for the non-SQL-expressible kernels: injection recall (the
reference's own validation method, SURVEY.md §5.1), seeded determinism, and
hand-checked statistics."""
from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from beymani_spark.operators import multivariate, sequence


@pytest.fixture(scope="module")
def seq_df(spark):
    """Sine wave + noise per key, with a known injected spike."""
    rng = np.random.RandomState(42)
    rows = []
    for key in ("m1", "m2"):
        n = 400
        x = 10 * np.sin(np.arange(n) * 0.3) + rng.normal(0, 0.5, n)
        x[250] += 40.0  # injected point anomaly
        for i in range(n):
            rows.append((key, i, float(x[i])))
    return spark.createDataFrame(pd.DataFrame(rows, columns=["key", "ts", "value"]))


def test_spectral_residual_finds_spike(spark, seq_df):
    out = sequence.spectral_residual(seq_df, ["key"], "ts", "value").toPandas()
    for key in ("m1", "m2"):
        sub = out[out.key == key].sort_values("sr_score", ascending=False)
        assert 250 in set(sub.head(5).ts), f"spike not in top-5 for {key}"


def test_one_step_ahead_finds_spike(spark, seq_df):
    out = sequence.one_step_ahead(
        seq_df, ["key"], "ts", "value", window=8, threshold=3.0
    ).toPandas()
    sub = out[out.key == "m1"]
    assert sub[sub.ts == 250].label.iloc[0] == "O"
    # spike's value must have been excluded from the residual pool: later
    # normal points should stay N
    assert (sub[sub.ts > 260].label == "N").mean() > 0.95


def test_one_step_ahead_weighted_method(spark, seq_df):
    """PRED_WEIGHTED_AVERAGE: weights [0,...,0,1] (newest only) must predict
    the previous value exactly; a bad-length weights list or an unknown
    method raises ValueError from the builder call, before any action."""
    out = sequence.one_step_ahead(
        seq_df.filter("key = 'm1' and ts < 50"), ["key"], "ts", "value",
        window=4, method="weighted", weights=[0.0, 0.0, 0.0, 1.0], threshold=99.0,
    ).toPandas().sort_values("ts", ignore_index=True)
    vals = out.value.to_numpy()
    pred = out.predicted.to_numpy()
    np.testing.assert_allclose(pred[4:], vals[3:-1])
    with pytest.raises(ValueError, match="weights"):
        sequence.one_step_ahead(
            seq_df, ["key"], "ts", "value", window=4, method="weighted",
            weights=[1.0, 2.0],
        )
    with pytest.raises(ValueError, match="unknown method"):
        sequence.one_step_ahead(seq_df, ["key"], "ts", "value", method="median")
    # the multi-attribute form takes no weights list: 'weighted' fails at
    # planning like any other unsupported method
    with pytest.raises(ValueError, match="weights"):
        sequence.one_step_ahead_multi(
            seq_df, ["key"], "ts", ["value"], window=4, method="weighted"
        )
    with pytest.raises(ValueError, match="unknown method"):
        sequence.one_step_ahead_multi(
            seq_df, ["key"], "ts", ["value"], method="median"
        )


def test_one_step_ahead_warm_start_continuity(spark, seq_df):
    """Run 2 seeded from run 1's residual-stat side output (with a
    window-overlap so the rolling window rebuilds) matches the single
    continuous run on every row it scores."""
    window, m = 8, 200
    kwargs = dict(window=window, method="average", threshold=3.0)
    cont = sequence.one_step_ahead(
        seq_df, ["key"], "ts", "value", **kwargs
    ).toPandas()

    run1 = sequence.one_step_ahead(
        seq_df.filter(f"ts < {m}"), ["key"], "ts", "value",
        emit_stats=True, **kwargs
    )
    stats = sequence.one_step_ahead_residual_stats(run1, ["key"]).toPandas()
    assert set(stats.key) == {"m1", "m2"}
    assert (stats.res_n > 0).all() and (stats.res_std > 0).all()

    run2 = sequence.one_step_ahead(
        seq_df.filter(f"ts >= {m - window}"), ["key"], "ts", "value",
        init_stats=spark.createDataFrame(stats), **kwargs
    ).toPandas()
    got = (
        run2[run2.ts >= m]
        .sort_values(["key", "ts"], ignore_index=True)[
            ["key", "ts", "predicted", "osa_score", "label"]
        ]
    )
    want = (
        cont[cont.ts >= m]
        .sort_values(["key", "ts"], ignore_index=True)[
            ["key", "ts", "predicted", "osa_score", "label"]
        ]
    )
    pd.testing.assert_frame_equal(got, want)


def test_subsequence_distance_discord(spark):
    rng = np.random.RandomState(0)
    n = 300
    x = np.sin(np.arange(n) * 0.2)
    x[150:166] = rng.normal(0, 2.0, 16)  # anomalous subsequence
    pdf = pd.DataFrame({"key": "k", "ts": range(n), "value": x})
    out = sequence.subsequence_distance(
        spark.createDataFrame(pdf), ["key"], "ts", "value", window=16
    ).toPandas()
    top = out.sort_values("discord_score", ascending=False).head(8)
    assert any(140 <= o <= 165 for o in top.offset), top.offset.tolist()


def test_change_point_step(spark):
    rng = np.random.RandomState(1)
    x = np.concatenate([rng.normal(0, 1, 200), rng.normal(4, 1, 200)])
    pdf = pd.DataFrame({"key": "k", "ts": range(400), "value": x})
    out = sequence.change_point(
        spark.createDataFrame(pdf), ["key"], "ts", "value", window=64, step=4, stat="ks"
    ).toPandas()
    best = out.sort_values("stat", ascending=False).iloc[0]
    assert 180 <= best.center_ts <= 220, best.center_ts


def test_change_point_checkpoint_resume(spark):
    """Incremental run with a checkpoint equals a fresh run over the retained
    suffix (ChangePointDetector.scala:75-90 seq >= chPt semantics), and the
    checkpoint sits at the last full window's center."""
    rng = np.random.RandomState(3)
    x = np.concatenate([rng.normal(0, 1, 300), rng.normal(4, 1, 100)])
    pdf = pd.DataFrame({"key": "k", "ts": range(400), "value": x})
    full = spark.createDataFrame(pdf)
    prefix = full.filter("ts < 300")

    cp = sequence.change_point_checkpoint(prefix, ["key"], "ts", window=64)
    cp_pd = cp.toPandas()
    assert list(cp_pd.cp_ts) == [300 - 1 - 32]  # size-1-window/2

    kwargs = dict(window=64, step=8, stat="ks")
    inc = sequence.change_point(
        full, ["key"], "ts", "value", checkpoint=cp, **kwargs
    ).toPandas().sort_values("center_ts", ignore_index=True)
    suffix = full.filter(f"ts >= {int(cp_pd.cp_ts.iloc[0])}")
    fresh = sequence.change_point(
        suffix, ["key"], "ts", "value", **kwargs
    ).toPandas().sort_values("center_ts", ignore_index=True)
    pd.testing.assert_frame_equal(inc, fresh)
    assert (inc.center_ts >= int(cp_pd.cp_ts.iloc[0])).all()
    # keys absent from the checkpoint start fresh (all rows retained)
    other = spark.createDataFrame(
        pd.DataFrame({"key": "new", "ts": range(400), "value": x})
    )
    inc2 = sequence.change_point(
        other, ["key"], "ts", "value", checkpoint=cp, **kwargs
    ).toPandas()
    fresh2 = sequence.change_point(other, ["key"], "ts", "value", **kwargs).toPandas()
    assert len(inc2) == len(fresh2)


def test_one_step_ahead_multi_weighted_attrs(spark, seq_df):
    """Multi-attr combined score = weighted average of per-attr scores; with
    weights (1, 0) it equals the single-attr run on the first attr."""
    two = seq_df.withColumn("value2", F.col("value") * -1.0 + 3.0)
    multi = sequence.one_step_ahead_multi(
        two, ["key"], "ts", ["value", "value2"], attr_weights=[1.0, 0.0],
        window=8, threshold=3.0,
    ).toPandas().sort_values(["key", "ts"], ignore_index=True)
    single = sequence.one_step_ahead(
        seq_df, ["key"], "ts", "value", window=8, threshold=3.0
    ).toPandas().sort_values(["key", "ts"], ignore_index=True)
    np.testing.assert_allclose(multi.score, single.osa_score, rtol=1e-12)
    assert list(multi.label) == list(single.label)
    # equal weights: combined = mean of per-attr scores
    eq = sequence.one_step_ahead_multi(
        two, ["key"], "ts", ["value", "value2"], window=8, threshold=3.0
    ).toPandas()
    np.testing.assert_allclose(
        eq.score, (eq.score_value + eq.score_value2) / 2.0, rtol=1e-12
    )


def test_change_point_multi_matches_per_attr(spark):
    rng = np.random.RandomState(7)
    pdf = pd.DataFrame(
        {
            "key": "k",
            "ts": range(300),
            "a": np.concatenate([rng.normal(0, 1, 150), rng.normal(5, 1, 150)]),
            "b": rng.normal(0, 1, 300),
        }
    )
    df = spark.createDataFrame(pdf)
    multi = sequence.change_point_multi(
        df, ["key"], "ts", ["a", "b"], window=64, step=8
    ).toPandas()
    assert set(multi.attr) == {"a", "b"}
    for attr in ("a", "b"):
        one = sequence.change_point(
            df.withColumnRenamed(attr, "value"), ["key"], "ts", "value",
            window=64, step=8,
        ).toPandas().sort_values("center_ts", ignore_index=True)
        got = (
            multi[multi.attr == attr]
            .sort_values("center_ts", ignore_index=True)[["center_ts", "stat"]]
        )
        pd.testing.assert_frame_equal(
            got, one[["center_ts", "stat"]], check_dtype=False
        )
    # the shifted attr peaks near the change, the stationary one stays low
    assert multi[multi.attr == "a"].stat.max() > 0.9
    assert multi[multi.attr == "b"].stat.max() < 0.5


def test_ks_cvm_ad_stats_sanity():
    rng = np.random.RandomState(2)
    same_a, same_b = rng.normal(0, 1, 500), rng.normal(0, 1, 500)
    diff_b = rng.normal(3, 1, 500)
    for fn in (sequence._ks_stat, sequence._cvm_stat, sequence._ad_stat):
        assert fn(same_a, diff_b) > fn(same_a, same_b) * 3
    # KS of identical samples is 0; of disjoint samples is 1
    assert sequence._ks_stat(np.array([1.0, 2.0]), np.array([1.0, 2.0])) == 0.0
    assert sequence._ks_stat(np.array([1.0, 2.0]), np.array([5.0, 6.0])) == 1.0


@pytest.fixture(scope="module")
def mv_df(spark):
    rng = np.random.RandomState(3)
    n = 500
    x = rng.normal(0, 1, n)
    y = 2 * x + rng.normal(0, 0.1, n)  # near-collinear
    x[0], y[0] = 3.0, -6.0  # off-manifold point
    pdf = pd.DataFrame({"key": "k", "pid": range(n), "x": x, "y": y})
    return spark.createDataFrame(pdf)


def test_pca_off_manifold(spark, mv_df):
    model = multivariate.pca_model(mv_df, ["key"], ["x", "y"], n_components=1)
    out = multivariate.pca_score(mv_df, model, ["key"], ["x", "y"]).toPandas()
    assert out.sort_values("score", ascending=False).iloc[0].pid == 0
    assert set(out.label) <= {"O", "N"}


def test_autoencoder_off_manifold_recall(spark, mv_df):
    """auen contract (mvand.py): the off-subspace injected point must rank
    first by reconstruction error."""
    model = multivariate.autoencoder_fit(mv_df, ["key"], ["x", "y"], hidden=1, seed=7)
    out = multivariate.autoencoder_score(mv_df, model, ["key"], ["x", "y"]).toPandas()
    assert out.sort_values("score", ascending=False).iloc[0].pid == 0
    assert set(out.label) <= {"O", "N"}


def test_autoencoder_deterministic_partition_invariant(spark, mv_df):
    kwargs = dict(hidden=1, seed=7)
    m1 = multivariate.autoencoder_fit(mv_df, ["key"], ["x", "y"], **kwargs).toPandas()
    m2 = multivariate.autoencoder_fit(
        mv_df.repartition(7), ["key"], ["x", "y"], **kwargs
    ).toPandas()
    np.testing.assert_allclose(
        m1.sort_index(axis=1).select_dtypes("number").to_numpy(),
        m2.sort_index(axis=1).select_dtypes("number").to_numpy(),
    )


def test_autoencoder_degenerate_inputs(spark):
    """Constant columns (std=0) standardize to 0 -> zero reconstruction
    error, label N; a key group smaller than the hidden width scores 0."""
    pdf = pd.DataFrame(
        {"key": ["k"] * 10 + ["tiny"], "pid": range(11),
         "x": [5.0] * 10 + [1.0], "y": list(range(10)) + [2.0]}
    )
    df = spark.createDataFrame(pdf)
    model = multivariate.autoencoder_fit(df, ["key"], ["x", "y"], hidden=2)
    out = multivariate.autoencoder_score(df, model, ["key"], ["x", "y"]).toPandas()
    tiny = out[out.key == "tiny"]
    assert (tiny.score == 0.0).all() and (tiny.label == "N").all()
    k = out[out.key == "k"]
    assert np.isfinite(k.score).all()


def test_change_point_short_series_empty(spark):
    pdf = pd.DataFrame({"key": "k", "ts": range(10), "value": np.arange(10.0)})
    out = sequence.change_point(
        spark.createDataFrame(pdf), ["key"], "ts", "value", window=64
    ).toPandas()
    assert len(out) == 0


def test_autoencoder_missing_key_tags_I(spark, mv_df):
    model = multivariate.autoencoder_fit(mv_df, ["key"], ["x", "y"], hidden=1)
    other = spark.createDataFrame(
        pd.DataFrame({"key": ["zz"], "pid": [9], "x": [1.0], "y": [2.0]})
    )
    out = multivariate.autoencoder_score(other, model, ["key"], ["x", "y"]).toPandas()
    assert list(out.label) == ["I"]


_MAHAL_CASES = {
    "hand": {"x": [1.0, 2.0, 3.0, 4.0], "y": [1.0, 2.0, 4.0, 3.0],
             "z": [2.0, 1.0, 5.0, 3.0]},
    # y = 2x, z = 3x: rank-1 covariance
    "singular": {"x": [1.0, 2.0, 3.0, 4.0, 5.0], "y": [2.0, 4.0, 6.0, 8.0, 10.0],
                 "z": [3.0, 6.0, 9.0, 12.0, 15.0]},
    # covar_samp of one row is NULL
    "one_row": {"x": [1.0], "y": [2.0], "z": [5.0]},
}


@pytest.mark.parametrize(
    "case, d",
    [pytest.param(c, d, id=f"{c}-d{d}") for c in _MAHAL_CASES for d in (2, 3)],
)
def test_mahalanobis_hand_computed(spark, case, d):
    """d = 2 scores through the closed form, d = 3 through the model's
    inverse; both equal numpy's inverse of the sample covariance, and a
    singular or one-row covariance scores NULL and tags 'I' at every d."""
    cols = ["x", "y", "z"][:d]
    pdf = pd.DataFrame(_MAHAL_CASES[case]).assign(key="k")[["key", "x", "y", "z"]]
    df = spark.createDataFrame(pdf)
    model = multivariate.mahalanobis_model(df, ["key"], cols)
    out = multivariate.mahalanobis_score(df, model, ["key"], cols).toPandas()
    if case != "hand":
        assert out.score.isna().all() and (out.label == "I").all()
        return
    x = pdf[cols].to_numpy()
    inv = np.linalg.inv(np.cov(x.T))
    dx = x - x.mean(axis=0)
    expected = np.einsum("ij,jk,ik->i", dx, inv, dx)
    got = out.sort_values("x").score.to_numpy()
    np.testing.assert_allclose(got, expected, rtol=1e-9)


@pytest.fixture(scope="module")
def mv3_df(spark):
    rng = np.random.RandomState(5)
    t = rng.normal(0, 1, (200, 2))
    x = np.column_stack([t[:, 0], t[:, 1], t[:, 0] - t[:, 1]])
    x += rng.normal(0, 0.05, x.shape)
    pdf = pd.DataFrame({"key": "k", "pid": range(200)}).assign(a=x[:, 0], b=x[:, 1], c=x[:, 2])
    return spark.createDataFrame(pdf)


def test_scorers_read_width_from_model(spark, mv3_df):
    """pca_score and autoencoder_score unroll every component the fit
    wrote: width-2 fits score as numpy's width-2 reconstruction error. Each
    single-row scorer returns exactly its input columns plus score and
    label."""
    vals = ["a", "b", "c"]
    x = mv3_df.toPandas().sort_values("pid")[vals].to_numpy()
    want = [*mv3_df.columns, "score", "label"]

    pm = multivariate.pca_model(mv3_df, ["key"], vals, n_components=2)
    pca = multivariate.pca_score(mv3_df, pm, ["key"], vals)
    m = pm.first()
    mu = np.array([m[f"mean_{v}"] for v in vals])
    basis = np.array([[m[f"pc_{c}_{v}"] for v in vals] for c in range(2)])
    xc = x - mu
    expected = np.sqrt(((xc - xc @ basis.T @ basis) ** 2).sum(axis=1))
    assert pca.columns == want
    got = pca.toPandas().sort_values("pid").score.to_numpy()
    np.testing.assert_allclose(got, expected, rtol=1e-9, atol=1e-12)

    am = multivariate.autoencoder_fit(mv3_df, ["key"], vals, hidden=2, seed=7)
    ae = multivariate.autoencoder_score(mv3_df, am, ["key"], vals)
    m = am.first()
    mu = np.array([m[f"mean_{v}"] for v in vals])
    sd = np.array([m[f"std_{v}"] for v in vals])
    w = np.array([[m[f"w_{c}_{v}"] for v in vals] for c in range(2)])
    xs = (x - mu) / sd
    expected = np.sqrt(((xs - xs @ w.T @ w) ** 2).sum(axis=1))
    assert ae.columns == want
    got = ae.toPandas().sort_values("pid").score.to_numpy()
    np.testing.assert_allclose(got, expected, rtol=1e-9, atol=1e-12)

    mm = multivariate.mahalanobis_model(mv3_df, ["key"], vals)
    assert multivariate.mahalanobis_score(mv3_df, mm, ["key"], vals).columns == want


def test_materialize_cap_boundary(spark):
    """A model of exactly max_model_rows rows keeps its rows on the driver;
    one row more leaves rows None. Either way the fit runs every partition
    exactly once and the frame holds every row."""
    from beymani_spark.functions import caching

    for cap, held in ((6, True), (5, False)):
        seen = spark.sparkContext.accumulator(0)

        def tally(batches):
            for pdf in batches:
                seen.add(len(pdf))
                yield pdf

        with caching.scope():
            model = multivariate.materialize(
                spark.range(0, 6, 1, 3).mapInPandas(tally, "id long"), cap
            )
            assert (model.rows is not None) == held
            if held:
                assert sorted(r.id for r in model.rows) == list(range(6))
            assert model.frame.count() == 6
            assert seen.value == 6


def test_isolation_forest_deterministic_and_recall(spark, mv_df):
    model = multivariate.isolation_forest_fit(
        mv_df, ["key"], ["x", "y"], num_trees=30, subsample=64, seed=7
    )
    out1 = multivariate.isolation_forest_score(
        mv_df, model, ["key"], ["x", "y"]
    ).toPandas().sort_values("pid", ignore_index=True)
    model2 = multivariate.isolation_forest_fit(
        mv_df, ["key"], ["x", "y"], num_trees=30, subsample=64, seed=7
    )
    out2 = multivariate.isolation_forest_score(
        mv_df, model2, ["key"], ["x", "y"]
    ).toPandas().sort_values("pid", ignore_index=True)
    np.testing.assert_allclose(out1.score, out2.score)  # seeded determinism


def test_isolation_forest_partition_invariant(spark, mv_df):
    """Same seed -> same model regardless of input partitioning (canonical
    row order inside the fit kernel + hash-threshold presample, not F.rand)."""
    kwargs = dict(num_trees=10, subsample=64, seed=7)
    m1 = (
        multivariate.isolation_forest_fit(mv_df, ["key"], ["x", "y"], **kwargs)
        .frame.toPandas().sort_values("tree_id", ignore_index=True)
    )
    m2 = (
        multivariate.isolation_forest_fit(
            mv_df.repartition(7), ["key"], ["x", "y"], **kwargs
        )
        .frame.toPandas().sort_values("tree_id", ignore_index=True)
    )
    assert list(m1.tree_json) == list(m2.tree_json)


def test_isolation_forest_recall_far_point(spark):
    # axis-parallel IF can't catch correlation anomalies (like mv_df's pid 0),
    # so recall is asserted on an unambiguous coordinate-wise outlier
    rng = np.random.RandomState(11)
    pts = np.vstack([rng.normal(0, 1, (300, 2)), [[25.0, 25.0]]])
    pdf = pd.DataFrame(
        {"key": "k", "pid": range(len(pts)), "x": pts[:, 0], "y": pts[:, 1]}
    )
    df = spark.createDataFrame(pdf)
    model = multivariate.isolation_forest_fit(
        df, ["key"], ["x", "y"], num_trees=30, subsample=64, seed=7
    )
    out = multivariate.isolation_forest_score(df, model, ["key"], ["x", "y"]).toPandas()
    assert out.sort_values("score", ascending=False).iloc[0].pid == 300


def test_kmeans_far_point(spark):
    rng = np.random.RandomState(5)
    a = rng.normal(0, 0.5, (100, 2))
    b = rng.normal(10, 0.5, (100, 2))
    pts = np.vstack([a, b, [[50.0, 50.0]]])
    pdf = pd.DataFrame(
        {"key": "k", "pid": range(len(pts)), "x": pts[:, 0], "y": pts[:, 1]}
    )
    df = spark.createDataFrame(pdf)
    model = multivariate.kmeans_model(df, ["key"], ["x", "y"], n_clusters=2, seed=42)
    out = multivariate.kmeans_score(
        df, model, ["key"], ["x", "y"], min_cluster_fraction=0.05, threshold=10.0
    ).toPandas()
    top = out.sort_values("score", ascending=False).iloc[0]
    assert top.pid == 200 and top.label == "O"


def test_markov_unseen_transition_scores_cap_not_null(spark):
    """A (prev,cur) transition absent from the model must contribute the
    metric's worst value (cap 20.0 for -log prob, matching the streaming
    scorer), not silently drop out of the trailing average."""
    from beymani_spark.operators import markov

    train = pd.DataFrame(
        {
            "user_id": ["u"] * 6,
            "event_id": range(6),
            "ts": range(6),
            "event_type": ["a", "b", "a", "b", "a", "b"],
        }
    )
    score_rows = train.copy()
    score_rows.loc[5, "event_type"] = "c"  # (a -> c) never seen in training
    model = markov.transition_model(
        spark.createDataFrame(train), ["user_id"], "ts", "event_type",
        order_cols=["event_id"],
    )
    out = (
        markov.markov_score(
            spark.createDataFrame(score_rows), model, ["user_id"], "ts",
            "event_type", metric="conditionalProbability", window=1,
            threshold=2.0, order_cols=["event_id"],
        )
        .toPandas()
        .sort_values("event_id")
    )
    unseen = out[out.cur_state == "c"].iloc[0]
    assert unseen.score == markov.UNSEEN_NEG_LOG_PROB
    assert unseen.label == "O"
    # missProbability / missRate / entropyReduction fall back to their worst
    # value (1.0) instead of null
    for metric in ["missProbability", "missRate", "entropyReduction"]:
        m = (
            markov.markov_score(
                spark.createDataFrame(score_rows), model, ["user_id"], "ts",
                "event_type", metric=metric, window=1, threshold=0.9,
                order_cols=["event_id"],
            )
            .toPandas()
        )
        assert m[m.cur_state == "c"].iloc[0].score == 1.0


def test_subsequence_distance_threshold_emits_label(spark):
    rng = np.random.RandomState(0)
    n = 200
    x = np.sin(np.arange(n) * 0.2)
    x[100:116] = rng.normal(0, 2.0, 16)
    pdf = pd.DataFrame({"key": "k", "ts": range(n), "value": x})
    sdf = spark.createDataFrame(pdf)
    plain = sequence.subsequence_distance(
        sdf, ["key"], "ts", "value", window=16, threshold=2.0
    ).toPandas()
    assert set(plain.label) <= {"O", "N"}
    assert (plain.label == "O").any() and (plain.label == "N").any()
    assert ((plain.label == "O") == (plain.discord_score > 2.0)).all()
    # chunked and reference-series paths share the tag
    chunked = sequence.subsequence_distance(
        sdf, ["key"], "ts", "value", window=16, threshold=2.0, parallelism=2
    ).toPandas()
    assert ((chunked.label == "O") == (chunked.discord_score > 2.0)).all()
    ref = sequence.subsequence_distance_ref(
        sdf, sdf, ["key"], "ts", "value", window=16, threshold=0.5
    ).toPandas()
    assert "label" in ref.columns


def test_kmeans_mixed_far_point_and_categorical_penalty(spark):
    """Mixed-type cluster scoring: a numeric far point tops the scores, and
    a categorical mismatch alone raises the score by exactly gamma inside
    the squared distance."""
    rng = np.random.RandomState(9)
    a = rng.normal(0, 0.5, (100, 2))
    b = rng.normal(10, 0.5, (100, 2))
    pts = np.vstack([a, b, [[60.0, 60.0]]])
    cats = ["red"] * 100 + ["blue"] * 100 + ["red"]
    pdf = pd.DataFrame(
        {
            "key": "k",
            "pid": range(len(pts)),
            "x": pts[:, 0],
            "y": pts[:, 1],
            "color": cats,
        }
    )
    df = spark.createDataFrame(pdf)
    model = multivariate.kmeans_mixed_model(
        df, ["key"], ["x", "y"], ["color"], n_clusters=2, gamma=1.0, seed=42
    )
    out = multivariate.kmeans_mixed_score(
        df, model, ["key"], ["x", "y"], ["color"],
        gamma=1.0, min_cluster_fraction=0.05, threshold=1.2,
    ).toPandas()
    top = out.sort_values("score", ascending=False).iloc[0]
    assert top.pid == 200 and top.label == "O"

    # categorical-only probe: two rows at the same numeric point, one with
    # the cluster's modal color and one off-mode -> d2 differs by gamma
    probe = spark.createDataFrame(
        pd.DataFrame(
            {
                "key": ["k", "k"],
                "pid": [900, 901],
                "x": [0.0, 0.0],
                "y": [0.0, 0.0],
                "color": ["red", "green"],
            }
        )
    )
    scored = multivariate.kmeans_mixed_score(
        probe, model, ["key"], ["x", "y"], ["color"], gamma=1.0
    ).toPandas().set_index("pid")
    d2_match = scored.loc[900, "score"] ** 2
    d2_miss = scored.loc[901, "score"] ** 2
    assert abs((d2_miss - d2_match) - 1.0) < 1e-9


def test_kmeans_mixed_fit_partition_invariant(spark):
    """The canonical-order fit must give the same model under any input
    partitioning."""
    rng = np.random.RandomState(3)
    pdf = pd.DataFrame(
        {
            "key": "k",
            "x": rng.normal(0, 1, 150),
            "y": rng.normal(5, 2, 150),
            "color": [["a", "b", "c"][i % 3] for i in range(150)],
        }
    )
    df1 = spark.createDataFrame(pdf).repartition(1)
    df8 = spark.createDataFrame(pdf).repartition(8)
    m1 = multivariate.kmeans_mixed_model(
        df1, ["key"], ["x", "y"], ["color"], n_clusters=3, seed=1
    ).frame.toPandas().sort_values("cluster_id", ignore_index=True)
    m8 = multivariate.kmeans_mixed_model(
        df8, ["key"], ["x", "y"], ["color"], n_clusters=3, seed=1
    ).frame.toPandas().sort_values("cluster_id", ignore_index=True)
    pd.testing.assert_frame_equal(m1, m8)


def test_autoencoder_tanh_activation(spark):
    """Nonlinear (tanh) AE: seeded-deterministic, beats identity on a
    planted off-manifold point, and the Spark codegen scoring reproduces
    the numpy forward pass."""
    import numpy as np

    from beymani_spark.operators import multivariate as mv

    rng = np.random.RandomState(0)
    # points on a 1-D curve embedded in 3-D + one far-off-manifold outlier
    t = rng.uniform(-2, 2, size=300)
    x = np.stack([t, np.tanh(t), t * t * 0.3], axis=1)
    x += rng.normal(scale=0.02, size=x.shape)
    x = np.vstack([x, [8.0, -8.0, 9.0]])
    rows = [(int(i), "k", *map(float, r)) for i, r in enumerate(x)]
    df = spark.createDataFrame(rows, "id long, g string, a double, b double, c double")

    # determinism of the core
    mu1, sd1, w1 = mv.ae_fit_core(x, 2, 100, 0.05, 7, "tanh")
    mu2, sd2, w2 = mv.ae_fit_core(x, 2, 100, 0.05, 7, "tanh")
    assert (w1 == w2).all() and not (w1 == 0).all()

    model = mv.autoencoder_fit(
        df, ["g"], ["a", "b", "c"], hidden=2, epochs=100, lr=0.05, seed=7,
        presample=None, activation="tanh",
    )
    out = mv.autoencoder_score(
        df, model, ["g"], ["a", "b", "c"], threshold=3.0, activation="tanh",
    ).collect()
    scores = {r["id"]: r["score"] for r in out}
    # outlier (last id) scores highest
    assert max(scores, key=scores.get) == len(x) - 1

    # Spark forward pass == numpy forward pass (same model, same math,
    # including the round-6 z parity quantization the tanh path applies)
    sd_safe = np.where(sd1 > 0, sd1, 1.0)
    xs = (x - mu1) / sd_safe
    z = np.round(np.tanh(xs @ w1.T), 6)
    rec = z @ w1
    expect = np.sqrt(((xs - rec) ** 2).sum(axis=1))
    got = np.array([scores[i] for i in range(len(x))])
    assert np.allclose(got, expect, rtol=1e-9, atol=1e-12)


def test_autoencoder_linear_path_unchanged_by_activation_param(spark):
    """The activation refactor must leave the linear fit bit-identical
    (baked oracles depend on it)."""
    import numpy as np

    from beymani_spark.operators import multivariate as mv

    rng = np.random.RandomState(3)
    x = rng.normal(size=(200, 3))
    mu_a, sd_a, w_a = mv.ae_fit_core(x, 2, 200, 0.05, 42)
    mu_b, sd_b, w_b = mv.ae_fit_core(x, 2, 200, 0.05, 42, "linear")
    assert (w_a == w_b).all() and (mu_a == mu_b).all() and (sd_a == sd_b).all()


def test_winsorize_clamps_and_flags(spark):
    """winsorize clamps to the per-key quantile band, preserves raw values,
    flags exactly the out-of-band rows, and NULL values pass through
    unflagged."""
    from pyspark.sql import functions as F

    from beymani_spark.operators.post import winsorize

    rows = [("a", float(v)) for v in range(1, 101)] + [
        ("a", 1000.0),
        ("a", -1000.0),
        ("b", 5.0),
        ("b", None),
    ]
    df = spark.createDataFrame(rows, "k string, value double")
    out = winsorize(df, ["k"], "value", lower=0.05, upper=0.95).collect()
    a = [r for r in out if r.k == "a"]
    capped = [r for r in a if r.capped]
    assert {r.value for r in capped} >= {1000.0, -1000.0}
    lo = min(r.value_w for r in a)
    hi = max(r.value_w for r in a)
    assert hi < 1000.0 and lo > -1000.0
    for r in a:
        assert lo - 1e-9 <= r.value_w <= hi + 1e-9
        if not r.capped:
            assert r.value_w == r.value
        else:
            # capped rows land exactly on a band edge
            assert r.value_w in (lo, hi)
    nulls = [r for r in out if r.k == "b" and r.value is None]
    assert nulls and not nulls[0].capped and nulls[0].value_w is None


def test_rolling_features_hand_checked(spark):
    from pyspark.sql import functions as F

    from beymani_spark.operators.profile import rolling_features

    rows = [("k", i, float(v)) for i, v in enumerate([10, 20, 30, 40, 50, 60])]
    df = spark.createDataFrame(rows, "k string, ts long, value double")
    out = {
        r.ts: r
        for r in rolling_features(df, ["k"], "ts", "value", window=3, lags=(1, 2)).collect()
    }
    assert out[0].roll_mean_3 == 10.0 and out[0].lag_1 is None
    assert out[2].roll_mean_3 == 20.0 and out[2].roll_min_3 == 10.0
    assert out[5].roll_mean_3 == 50.0 and out[5].roll_max_3 == 60.0
    assert out[3].lag_1 == 30.0 and out[3].lag_2 == 20.0


def test_benford_audit_digit_extraction_and_shares(spark):
    """Digits come from the scaled-integer rendering: 0.05 -> 5, 123.4 ->
    1, -67 -> 6; zeros/nulls excluded; shares sum to 1 per key and the
    expectations are the Benford constants."""
    import math

    from beymani_spark.operators.profile import benford_audit

    rows = [
        ("a", 0.05), ("a", 123.4), ("a", -67.0), ("a", 0.0), ("a", None),
        ("b", 999.0),
    ]
    df = spark.createDataFrame(rows, "k string, value double")
    out = benford_audit(df, ["k"], "value", scale=100).collect()
    a = {r.digit: r for r in out if r.k == "a"}
    assert set(a) == {5, 1, 6}
    assert all(abs(r.share - round(1 / 3, 6)) < 1e-9 for r in a.values())
    for d, r in a.items():
        assert abs(r.benford_share - round(math.log10(1 + 1 / d), 6)) < 1e-9
    b = [r for r in out if r.k == "b"]
    assert len(b) == 1 and b[0].digit == 9 and b[0].share == 1.0


def test_numeric_profile_hand_computed(spark):
    """numeric_profile: one-pass per-column card with exact interpolated
    quartiles (quantile_cont semantics), NULLs excluded from n/quantiles
    but counted in n_nulls."""
    from beymani_spark.operators.profile import numeric_profile

    df = spark.createDataFrame(
        [(1.0, 10.0), (2.0, None), (3.0, 30.0), (4.0, 50.0)],
        "a double, b double",
    )
    out = {r["column"]: r for r in numeric_profile(df, ["a", "b"]).collect()}
    a = out["a"]
    assert (a["n"], a["n_nulls"]) == (4, 0)
    assert a["mean"] == 2.5 and a["min"] == 1.0 and a["max"] == 4.0
    # quantile_cont on [1,2,3,4]: q25 = 1.75, q50 = 2.5, q75 = 3.25
    assert abs(a["q25"] - 1.75) < 1e-12
    assert abs(a["q50"] - 2.5) < 1e-12
    assert abs(a["q75"] - 3.25) < 1e-12
    b = out["b"]
    assert (b["n"], b["n_nulls"]) == (3, 1)
    # quantiles over non-null [10,30,50]: q50 = 30
    assert abs(b["q50"] - 30.0) < 1e-12


def test_numeric_profile_approx_mode_and_validation(spark):
    from beymani_spark.operators.profile import numeric_profile
    import pytest

    df = spark.createDataFrame([(float(i),) for i in range(100)], "a double")
    exact = {r["column"]: r for r in numeric_profile(df, ["a"]).collect()}
    approx = {
        r["column"]: r for r in numeric_profile(df, ["a"], exact=False).collect()
    }
    # approx sketch must land near the exact quartiles on a uniform ramp
    assert abs(approx["a"]["q50"] - exact["a"]["q50"]) <= 2.0
    with pytest.raises(ValueError):
        numeric_profile(df, ["a"], quantiles=[1.5])
    # bad args fail with a ValueError naming the problem BEFORE the prefix
    # sum persists anything (two quantiles naming one output column, no
    # columns, a repeated column)
    spark.catalog.clearCache()
    for kwargs, msg in (
        ({"quantiles": (0.5, 0.5)}, "duplicate column names"),
        ({"quantiles": (0.251, 0.249)}, "duplicate column names"),
        ({"cols": []}, "cols"),
        ({"cols": ["a", "a"]}, "distinct"),
    ):
        args = {"cols": ["a"], **kwargs}
        with pytest.raises(ValueError, match=msg):
            numeric_profile(df, **args)
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), kwargs


def test_numeric_profile_drift_hand_computed(spark):
    """numeric_profile_drift joins the two snapshots' cards on the column
    name with mean/std/median deltas; the fact frames never co-shuffle."""
    from beymani_spark.operators.profile import numeric_profile_drift

    a = spark.createDataFrame([(1.0,), (2.0,), (3.0,)], "x double")
    b = spark.createDataFrame([(11.0,), (12.0,), (13.0,)], "x double")
    out = numeric_profile_drift(a, b, ["x"]).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["n_a"], r["n_b"]) == (3, 3)
    assert abs(r["mean_delta"] - 10.0) < 1e-9
    assert abs(r["std_delta"]) < 1e-9
    assert abs(r["median_a"] - 2.0) < 1e-12
    assert abs(r["median_delta"] - 10.0) < 1e-9


def test_numeric_profile_drift_validation(spark):
    import pytest

    from beymani_spark.operators.profile import numeric_profile_drift

    df = spark.createDataFrame([(1.0,)], "x double")
    with pytest.raises(ValueError, match="quantiles"):
        numeric_profile_drift(df, df, ["x"], quantiles=[])
    with pytest.raises(ValueError, match="quantiles"):
        numeric_profile_drift(df, df, ["x"], quantiles=[1.5])
    spark.catalog.clearCache()
    with pytest.raises(ValueError, match="cols"):
        numeric_profile_drift(df, df, [])
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_finite_audit_hand_computed(spark):
    """finite_audit on a frame with every non-finite class present:
    counts are exact and NULL is distinguished from NaN."""
    from beymani_spark.operators.profile import finite_audit

    nan, inf = float("nan"), float("inf")
    rows = [
        (1, 1.0, 2.0),
        (2, nan, 3.0),
        (3, inf, nan),
        (4, -inf, None),
        (5, None, -inf),
        (6, 7.5, inf),
    ]
    df = spark.createDataFrame(rows, "id long, a double, b double")
    out = {r["column"]: r for r in finite_audit(df, ["a", "b"]).collect()}
    a = out["a"]
    assert (a["n_rows"], a["n_null"], a["n_nan"]) == (6, 1, 1)
    assert (a["n_pos_inf"], a["n_neg_inf"], a["n_finite"]) == (1, 1, 2)
    b = out["b"]
    assert (b["n_rows"], b["n_null"], b["n_nan"]) == (6, 1, 1)
    assert (b["n_pos_inf"], b["n_neg_inf"], b["n_finite"]) == (1, 1, 2)


def test_finite_gate_modes(spark):
    """finite_gate drop mode removes NaN/Inf rows but passes NULLs;
    null mode preserves row count and NULLs only the offending cells;
    invalid mode raises."""
    import pytest

    from beymani_spark.operators.profile import finite_audit, finite_gate

    nan, inf = float("nan"), float("inf")
    rows = [
        (1, 1.0, 2.0),
        (2, nan, 3.0),
        (3, inf, 4.0),
        (4, None, 5.0),
        (5, 6.0, -inf),
    ]
    df = spark.createDataFrame(rows, "id long, a double, b double")

    kept = sorted(r["id"] for r in finite_gate(df, ["a", "b"]).collect())
    assert kept == [1, 4]  # NULL row passes, NaN/Inf rows drop

    nulled = finite_gate(df, ["a", "b"], mode="null")
    assert nulled.count() == 5
    got = {r["id"]: (r["a"], r["b"]) for r in nulled.collect()}
    assert got[2] == (None, 3.0) and got[3] == (None, 4.0)
    assert got[5] == (6.0, None) and got[1] == (1.0, 2.0)
    # the gated frame audits clean
    audit = finite_audit(nulled, ["a", "b"]).collect()
    assert all(
        r["n_nan"] == 0 and r["n_pos_inf"] == 0 and r["n_neg_inf"] == 0
        for r in audit
    )

    with pytest.raises(ValueError, match="mode"):
        finite_gate(df, ["a"], mode="bogus")
    with pytest.raises(ValueError, match="column"):
        finite_gate(df, [])
    with pytest.raises(ValueError, match="column"):
        finite_audit(df, [])


def test_multigram_multivariate_hand_checked(spark):
    """MR MultigramMultiVariateDistribution semantics: composite bucket
    symbols (categorical raw : floor(value/width)) slide in windows of
    seq_len per id sequence; ids with fewer than seq_len rows emit no
    gram; the optional partition keys split the distribution; rel_freq
    sums to 1 per partition."""
    from beymani_spark.operators.histogram import multigram_multivariate

    rows = [
        # id 1: symbols a:0, a:0, b:1, a:0 -> trigrams (a:0,a:0,b:1), (a:0,b:1,a:0)
        (1, 1, "a", 2.0),
        (1, 2, "a", 4.0),
        (1, 3, "b", 7.0),
        (1, 4, "a", 1.0),
        # id 2: only two rows -> no trigram
        (2, 1, "a", 2.0),
        (2, 2, "b", 7.0),
    ]
    df = spark.createDataFrame(rows, "id long, seq long, cat string, value double")
    out = {
        r["gram"]: (r["cnt"], r["rel_freq"])
        for r in multigram_multivariate(
            df, "id", "seq", [("cat", None), ("value", 5.0)], seq_len=3
        ).collect()
    }
    assert out == {
        "a:0|a:0|b:1": (1, 0.5),
        "a:0|b:1|a:0": (1, 0.5),
    }

    # seq_len=1 degenerates to the plain multivariate distribution
    uni = {
        r["gram"]: r["cnt"]
        for r in multigram_multivariate(
            df, "id", "seq", [("cat", None), ("value", 5.0)], seq_len=1
        ).collect()
    }
    assert uni == {"a:0": 4, "b:1": 2}

    # partition keys split both the grams and the rel_freq denominator
    keyed = spark.createDataFrame(
        [(g, 1, i, "a", 2.0) for g in ("x", "y") for i in range(3)],
        "grp string, id long, seq long, cat string, value double",
    )
    res = multigram_multivariate(
        keyed, "id", "seq", [("cat", None)], seq_len=3, keys=["grp"]
    ).collect()
    assert {(r["grp"], r["gram"], r["cnt"], r["rel_freq"]) for r in res} == {
        ("x", "a|a|a", 1, 1.0),
        ("y", "a|a|a", 1, 1.0),
    }


@pytest.fixture(scope="module")
def two_attr_df(spark):
    """Two keys with two attributes over both halves of the day, a NULL in
    ``b``, and a one-row (key, half-day) group; ``half`` is the pandas
    halfDayOfDay index of the UTC timestamp."""
    rng = np.random.RandomState(7)
    rows = []
    for k, n in (("x", 40), ("y", 25)):
        for i in range(n):
            hour = int(rng.randint(0, 24))
            rows.append((k, 86400 * i + 3600 * hour, float(rng.normal(5, 2)),
                         float(rng.exponential(3.0))))
    rows.append(("z", 3600 * 3, 1.5, 2.5))
    rows[3] = (*rows[3][:3], None)
    pdf = pd.DataFrame(rows, columns=["k", "epoch", "a", "b"])
    pdf["half"] = (pd.to_datetime(pdf["epoch"], unit="s").dt.hour >= 12).astype(int)
    df = spark.createDataFrame(
        pdf[["k", "epoch", "a", "b"]], "k string, epoch long, a double, b double"
    ).withColumn("ts", F.timestamp_seconds("epoch"))
    return df, pdf


def _per_group(pdf, group, values, fn):
    """{(group..., attr): fn(non-null values of attr in the group)}."""
    out = {}
    for key, g in pdf.groupby(group):
        for v in values:
            out[(*key, v)] = fn(g[v].dropna().to_numpy())
    return out


def _assert_model(rows, group, expected, cols):
    got = {tuple(r[c] for c in [*group, "attr"]): r for r in rows}
    assert set(got) == set(expected)
    for key, want in expected.items():
        for c, w in zip(cols, want):
            if w is None or (isinstance(w, float) and np.isnan(w)):
                assert got[key][c] is None, (key, c, got[key][c])
            else:
                assert got[key][c] == pytest.approx(w, rel=1e-9, abs=1e-12), (key, c)


def test_long_form_builders_two_attrs_with_cycle(spark, two_attr_df):
    """The five per-attribute model builders on two attributes, keyed by
    (k, halfDayOfDay), against numpy per group: the seven moments, exact
    quartiles, median/MAD and the (lo, hi, mid) range model."""
    from beymani_spark.operators import profile, ranges, zscore

    df, pdf = two_attr_df
    vals = ["a", "b"]
    group = ["k", "cycle_index"]
    pdf = pdf.rename(columns={"half": "cycle_index"})
    cyc = {"cycle": "halfDayOfDay", "ts": "ts"}

    def moments(x):
        return (len(x), x.sum(), (x * x).sum(), x.mean(),
                x.std(ddof=1) if len(x) > 1 else None, x.min(), x.max())

    def quarts(x):
        q1, q3 = np.percentile(x, [25, 75])
        return q1, q3, q3 - q1

    stat_cols = ["cnt", "sum", "sum_sq", "mean", "std", "min", "max"]
    want_stats = _per_group(pdf, group, vals, moments)
    want_q = _per_group(pdf, group, vals, quarts)
    _assert_model(profile.numerical_stats(df, ["k"], vals, **cyc).collect(),
                  group, want_stats, stat_cols)
    _assert_model(zscore.quartiles(df, ["k"], vals, **cyc).collect(),
                  group, want_q, ["q1", "q3", "iqr"])
    fused_stats, fused_q = profile.stats_and_quartiles(df, ["k"], vals, **cyc)
    assert fused_stats.columns == [*group, "attr", *stat_cols]
    _assert_model(fused_stats.collect(), group, want_stats, stat_cols)
    _assert_model(fused_q.collect(), group, want_q, ["q1", "q3", "iqr"])

    def med_mad(x):
        med = np.median(x)
        return med, np.median(np.abs(x - med))

    _assert_model(profile.median_mad(df, ["k"], vals, **cyc).collect(),
                  group, _per_group(pdf, group, vals, med_mad), ["median", "mad"])

    def rng(x):
        lo, hi = np.percentile(x, [5, 95])
        return lo, hi, (lo + hi) / 2.0

    _assert_model(ranges.range_model_from_quantiles(df, ["k"], vals).collect(),
                  ["k"], _per_group(pdf, ["k"], vals, rng), ["lo", "hi", "mid"])


@pytest.mark.parametrize("inside", [False, True])
def test_range_scores_two_attrs(spark, inside):
    """out_range_score / in_range_score over two attributes against numpy:
    per attribute logistic(k*delta) (1 - that inside), averaged over the
    attributes with a range; a row with no range for either scores NULL
    and tags 'I'; the range columns are dropped."""
    from beymani_spark.operators import ranges

    model = spark.createDataFrame(
        [("x", "a", 0.0, 10.0), ("x", "b", -1.0, 1.0), ("y", "a", 5.0, 6.0)],
        "k string, attr string, lo double, hi double",
    ).withColumn("mid", (F.col("lo") + F.col("hi")) / 2.0)
    rows = [(1, "x", 12.0, 0.5), (2, "x", 3.0, -4.0), (3, "y", 5.5, 9.0),
            (4, "y", 1.0, None), (5, "w", 1.0, 1.0)]
    df = spark.createDataFrame(rows, "id long, k string, a double, b double")
    k, thr = 0.5, 0.7
    fn = ranges.in_range_score if inside else ranges.out_range_score
    got = {r["id"]: r for r in fn(df, model, ["k"], ["a", "b"], exp_const=k,
                                  threshold=thr).collect()}
    assert set(fn(df, model, ["k"], ["a", "b"]).columns) == {*df.columns, "score", "label"}
    bands = {("x", "a"): (0.0, 10.0), ("x", "b"): (-1.0, 1.0), ("y", "a"): (5.0, 6.0)}
    for rid, key, *vals in rows:
        scores = []
        for attr, v in zip(("a", "b"), vals):
            if (key, attr) not in bands or v is None:
                continue
            lo, hi = bands[(key, attr)]
            delta = v - hi if v > (lo + hi) / 2.0 else lo - v
            s = 1.0 / (1.0 + np.exp(-k * delta))
            scores.append(1.0 - s if inside else s)
        if not scores:
            assert got[rid]["score"] is None and got[rid]["label"] == "I", rid
            continue
        want = float(np.mean(scores))
        assert got[rid]["score"] == pytest.approx(want, rel=1e-12), rid
        assert got[rid]["label"] == ("O" if want > thr else "N"), rid


def test_prob_scores_neglog_unseen_bucket(spark):
    """K5 and K6 with strategy='negLog' against pandas: per attribute -ln p
    (K5: the bucket's probability; K6: the mass of buckets no more likely
    than it), NEG_LOG_CAP for a bucket the histogram never saw, averaged
    over the two attributes."""
    from beymani_spark.operators import histogram

    train = [("x", float(a), float(b)) for a, b in
             [(1, 10), (1, 10), (1, 20), (2, 20), (2, 30), (3, 10), (1, 30), (2, 10)]]
    train += [("y", 5.0, 50.0), ("y", 5.0, 50.0), ("y", 6.0, 40.0)]
    tdf = spark.createDataFrame(train, "k string, a double, b double")
    widths = [1.0, 10.0]
    hist = histogram.attr_histogram(tdf, ["k"], ["a", "b"], widths)
    score_rows = [(1, "x", 1.0, 10.0), (2, "x", 3.0, 30.0), (3, "x", 9.0, 20.0),
                  (4, "y", 6.0, 50.0), (5, "y", 5.0, 70.0)]
    sdf = spark.createDataFrame(score_rows, "id long, k string, a double, b double")

    tp = pd.DataFrame(train, columns=["k", "a", "b"])
    prob, meta = {}, {}
    for attr, w in zip(("a", "b"), widths):
        for key, g in tp.groupby("k"):
            p = (np.floor(g[attr] / w).astype(int)).value_counts(normalize=True)
            for bucket, pb in p.items():
                prob[(key, attr, bucket)] = pb
                meta[(key, attr, bucket)] = p[p <= pb].sum()

    def neglog(m):
        return -np.log(m) if m is not None else histogram.NEG_LOG_CAP

    for fn, model in ((histogram.est_attr_prob_score, prob),
                      (histogram.est_meta_prob_score, meta)):
        out = fn(sdf, hist, ["k"], ["a", "b"], widths, strategy="negLog", threshold=3.0)
        assert set(out.columns) == {*sdf.columns, "score", "label"}
        got = {r["id"]: r for r in out.collect()}
        for rid, key, a, b in score_rows:
            per = [neglog(model.get((key, attr, int(np.floor(v / w)))))
                   for attr, v, w in (("a", a, 1.0), ("b", b, 10.0))]
            want = float(np.mean(per))
            assert got[rid]["score"] == pytest.approx(want, rel=1e-12), (fn.__name__, rid)
            assert got[rid]["label"] == ("O" if want > 3.0 else "N")
    # row 3's a=9 is unseen for key x: exactly the cap on that attribute
    r3 = got[3]["score"]
    assert r3 == pytest.approx((histogram.NEG_LOG_CAP + neglog(meta[("x", "b", 2)])) / 2)
    with pytest.raises(ValueError, match="unknown strategy"):
        histogram.est_attr_prob_score(sdf, hist, ["k"], ["a"], [1.0], strategy="bogus")
