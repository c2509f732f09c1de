"""Multivariate detectors (SURVEY.md §2.2 K9, §2.1 #12-#14, #16, #17).

  mahalanobis_* ≙ MahalanobisDistancePredictor (/root/reference/src/main/java/
      org/beymani/predictor/MahalanobisDistancePredictor.java:78-105):
      score = (x-μ)ᵀ Σ⁻¹ (x-μ) from keyed mean vector + covariance. The model
      is one aggregation (avg + covar_samp per pair); the 2-attr path inverts
      Σ in closed form so scoring stays a pure column expression; higher
      dimensions invert per-key with numpy on the (tiny) model DataFrame.
  pca_model/pca_score ≙ PrincipalComponentPredictor (/root/reference/spark/
      src/main/scala/org/beymani/spark/pc/PrincipalComponentPredictor.scala:
      42-112): reconstruction error ‖x - x̂‖ after projecting on the top-k
      principal components. Fit = per-key numpy SVD over a presampled pool;
      score = broadcast (μ, basis) projection as a codegen column expression
      (subspace deterministic; reconstruction error sign-invariant).
  autoencoder_* ≙ mvand `auen` (/root/reference/python/app/mvand.py:25-26,
      avenir ticket.py:27-31): pyod-AutoEncoder analogue as a numpy
      tied-weight linear AE (the container has no torch/pyod) — per-key
      standardization, seeded full-batch gradient descent, reconstruction
      error as the anomaly score via a broadcast codegen expression.
  kmeans_* ≙ ClusterBasedPredictor (/root/reference/spark/.../cluster/
      ClusterBasedPredictor.scala:45-130): distance to nearest large-enough
      centroid; small clusters fall through to the nearest large cluster.
      Seeded per-key Lloyd iterations in applyInPandas (centroid model is a
      DataFrame, broadcast back for scoring).
  isolation_forest_* ≙ IsolationForestModel/Predictor (/root/reference/spark/
      .../multi/IsolationForestModel.scala:39-233, IsolationForestPredictor
      .scala:37-174): per-key forest fit on bootstrap subsamples; scoring
      score = 2^(-avgPathLen / c(subsample)). The reference grows trees with
      one shuffle per depth level and scores via a cartesian product; here
      each key's forest fits in-memory inside one applyInPandas pass
      (subsample <= a few hundred rows by design) and scoring joins the
      serialized model per key via cogroup — no cartesian, no per-depth
      shuffles, and an explicit seed replaces the reference's Math.random()
      (IsolationForestModel.scala:203) for reproducibility.
"""
from __future__ import annotations

import json
import math
from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..functions import caching
from ..functions.scores import tag_label


# ---------------------------------------------------------------- Mahalanobis

def mahalanobis_model(df: DataFrame, keys: Sequence[str], values: Sequence[str]) -> DataFrame:
    """Per-key mean vector + sample covariance matrix (wide columns)."""
    aggs = []
    for v in values:
        aggs.append(F.avg(v).alias(f"mean_{v}"))
    for i, a in enumerate(values):
        for b in values[i:]:
            aggs.append(F.covar_samp(F.col(a), F.col(b)).alias(f"cov_{a}_{b}"))
    return df.groupBy(*keys).agg(*aggs)


def mahalanobis_score(
    df: DataFrame,
    model: DataFrame,
    keys: Sequence[str],
    values: Sequence[str],
    threshold: float = 9.0,
) -> DataFrame:
    """Squared Mahalanobis distance. d==2 uses the closed-form inverse as a
    column expression; d>2 inverts per key with numpy (model stays tiny)."""
    if len(values) == 2:
        va, vb = values
        joined = df.join(F.broadcast(model), list(keys), "left")
        a = F.col(f"cov_{va}_{va}")
        b = F.col(f"cov_{vb}_{vb}")
        c = F.col(f"cov_{va}_{vb}")
        det = a * b - c * c
        dx = F.col(va) - F.col(f"mean_{va}")
        dy = F.col(vb) - F.col(f"mean_{vb}")
        score = F.when(
            F.abs(det) > 0, (b * dx * dx - 2 * c * dx * dy + a * dy * dy) / det
        )
        out = joined.withColumn("score", score)
        drop = [f"mean_{v}" for v in values] + [
            f"cov_{x}_{y}" for i, x in enumerate(values) for y in values[i:]
        ]
        return out.withColumn("label", tag_label(F.col("score"), threshold)).drop(*drop)

    d = len(values)

    def invert(pdf: pd.DataFrame) -> pd.DataFrame:
        cov = np.zeros((d, d))
        for i, a_ in enumerate(values):
            for j_, b_ in enumerate(values):
                lo, hi = (a_, b_) if i <= j_ else (b_, a_)
                cov[i, j_] = pdf[f"cov_{lo}_{hi}"].iloc[0]
        inv = np.linalg.pinv(cov)
        row = {k: pdf[k].iloc[0] for k in pdf.columns}
        for i in range(d):
            for j_ in range(d):
                row[f"inv_{i}_{j_}"] = float(inv[i, j_])
        return pd.DataFrame([row])

    inv_fields = ", ".join(f"inv_{i}_{j} double" for i in range(d) for j in range(d))
    schema = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in model.schema)
    enriched = model.groupBy(*keys).applyInPandas(invert, schema=f"{schema}, {inv_fields}")
    joined = df.join(F.broadcast(enriched), list(keys), "left")
    score = None
    for i, a_ in enumerate(values):
        for j_, b_ in enumerate(values):
            term = (
                F.col(f"inv_{i}_{j_}")
                * (F.col(a_) - F.col(f"mean_{a_}"))
                * (F.col(b_) - F.col(f"mean_{b_}"))
            )
            score = term if score is None else score + term
    out = joined.withColumn("score", score)
    drop = (
        [f"mean_{v}" for v in values]
        + [f"cov_{x}_{y}" for i, x in enumerate(values) for y in values[i:]]
        + [f"inv_{i}_{j}" for i in range(d) for j in range(d)]
    )
    return out.withColumn("label", tag_label(F.col("score"), threshold)).drop(*drop)




def hash_presample(
    df: DataFrame,
    keys: Sequence[str],
    values: Sequence[str],
    target: int,
    seed: int = 42,
) -> DataFrame:
    """Deterministic per-key fit-pool cap: keep ~``target`` rows per key via
    an xxhash64 threshold on the value columns (stable under any
    partitioning, unlike F.rand). A keys-only count aggregate fixes each
    key's keep-fraction, then a narrow codegen filter selects the pool
    BEFORE the group shuffle — at 100 TB the fit exchange carries ~target
    rows per key instead of the whole fact table. Keys with <= target rows
    keep every row."""
    denom = 1_000_000
    cnt = df.groupBy(*keys).agg(F.count("*").alias("_n"))
    return (
        df.join(F.broadcast(cnt), list(keys))
        .withColumn("_hv", F.pmod(F.xxhash64(*values, F.lit(seed)), F.lit(denom)))
        # threshold folded in Python: int*int lit multiplication would
        # overflow int32 under ANSI for target*denom > 2^31
        .filter(F.col("_hv") * F.col("_n") < F.lit(int(target) * denom))
        .drop("_hv", "_n")
    )


# Fit cores: pure numpy functions shared between the applyInPandas fit
# closures and the model-baked DuckDB oracle builders (plans/
# model_oracles.py). Because BOTH sides call the same function on the same
# canonically-ordered sample, the baked model literals are bit-identical to
# the model the Spark job fits.

def _canonical(x: np.ndarray) -> np.ndarray:
    """Canonical row order: group rows arrive in partition order, so any
    index-based randomness in the fit would otherwise change under
    repartitioning."""
    return x[np.lexsort(x.T[::-1])]


def pca_fit_core(x: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """(mu, basis): mean vector + top-k right singular vectors (rows).
    Degenerate pools (n <= k) get a zero basis."""
    x = _canonical(x)
    mu = x.mean(axis=0)
    if len(x) <= k:
        return mu, np.zeros((k, x.shape[1]))
    _, _, vt = np.linalg.svd(x - mu, full_matrices=False)
    basis = np.zeros((k, x.shape[1]))
    basis[: min(k, len(vt))] = vt[:k]
    return mu, basis


def ae_fit_core(
    x: np.ndarray,
    h: int,
    epochs: int,
    lr: float,
    seed: int,
    activation: str = "linear",
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(mu, sd, w): standardization stats + tied encoder weights (h x d).

    ``activation='tanh'`` trains z = tanh(W xs), x̂ = Wᵀ z — the nonlinear
    form of the pyod-style detector (torch/pyod absent, but a tanh MLP is
    plain numpy). The linear path's op sequence is untouched, so existing
    baked oracles stay bit-identical."""
    tanh = activation == "tanh"
    if activation not in ("linear", "tanh"):
        raise ValueError(f"unknown activation: {activation}")
    x = _canonical(x)
    n, d = x.shape
    mu = x.mean(axis=0)
    sd = x.std(axis=0)
    if n <= h:
        return mu, sd, np.zeros((h, d))
    sd_safe = np.where(sd > 0, sd, 1.0)
    xs = (x - mu) / sd_safe
    rng = np.random.RandomState(seed)
    w = rng.normal(scale=0.1, size=(h, d))
    inv_n = 1.0 / n
    for _ in range(int(epochs)):
        a = xs @ w.T                      # (n, h) pre-activation
        z = np.tanh(a) if tanh else a
        xh = z @ w                        # (n, d)
        e = (xh - xs) * (2.0 * inv_n)     # dL/dx̂ for L = mean ‖x̂-xs‖²
        dz = e @ w.T
        if tanh:
            dz = dz * (1.0 - z * z)       # chain through tanh'
        grad = z.T @ e + dz.T @ xs
        w -= lr * grad
    return mu, sd, w


def kmeans_fit_core(
    x: np.ndarray, n_clusters: int, iterations: int, seed: int
) -> np.ndarray:
    """Seeded Lloyd centers (kk x d), kk = min(n_clusters, n)."""
    x = _canonical(x)
    rng = np.random.RandomState(seed)
    kk = min(n_clusters, len(x))
    centers = x[rng.choice(len(x), size=kk, replace=False)]
    for _ in range(iterations):
        dist = ((x[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
        assign = dist.argmin(axis=1)
        for c in range(kk):
            pts = x[assign == c]
            if len(pts):
                centers[c] = pts.mean(axis=0)
    return centers


# ---------------------------------------------------------------- PCA

def pca_model(
    df: DataFrame,
    keys: Sequence[str],
    values: Sequence[str],
    n_components: int = 1,
    seed: int = 42,
    presample: int | None = 8192,
) -> DataFrame:
    """Per-key PCA fit: (keys..., n, mean_<v>..., pc_<c>_<v>...) via numpy
    SVD over a hash_presample-bounded pool (at most ~presample rows per key
    reach the fit task — no unbounded key-group pandas frame). The subspace
    is deterministic: canonical row order + sign-invariant reconstruction."""
    k = int(n_components)
    if presample:
        df = hash_presample(df, keys, values, presample, seed)
    d = len(values)

    def fit(key, pdf: pd.DataFrame) -> pd.DataFrame:
        x = pdf[list(values)].to_numpy(dtype=float)
        mu, basis = pca_fit_core(x, k)
        row = {k_: v_ for k_, v_ in zip(keys, key)}
        row["n"] = int(len(x))
        for j, v_ in enumerate(values):
            row[f"mean_{v_}"] = float(mu[j])
        for c in range(k):
            for j, v_ in enumerate(values):
                row[f"pc_{c}_{v_}"] = float(basis[c, j])
        return pd.DataFrame([row])

    key_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema if f.name in keys
    )
    mean_fields = ", ".join(f"mean_{v} double" for v in values)
    pc_fields = ", ".join(f"pc_{c}_{v} double" for c in range(k) for v in values)
    return df.groupBy(*keys).applyInPandas(
        fit, schema=f"{key_schema}, n long, {mean_fields}, {pc_fields}"
    )


def pca_score(
    df: DataFrame,
    model: DataFrame,
    keys: Sequence[str],
    values: Sequence[str],
    n_components: int = 1,
    threshold: float = 3.0,
) -> DataFrame:
    """Reconstruction-error score ‖x - x̂‖ against a broadcast pca_model —
    a pure codegen column expression (projection coefficients come from the
    tiny model join), so the fact table never shuffles and never enters
    Python. Keys absent from the model (or with a degenerate fit) tag 'I'."""
    k = int(n_components)
    joined = df.join(F.broadcast(model), list(keys), "left")
    xc = [F.col(v) - F.col(f"mean_{v}") for v in values]
    proj = [F.lit(0.0)] * len(values)
    for c in range(k):
        z = None
        for j, v in enumerate(values):
            term = xc[j] * F.col(f"pc_{c}_{v}")
            z = term if z is None else z + term
        for j, v in enumerate(values):
            proj[j] = proj[j] + z * F.col(f"pc_{c}_{v}")
    err = None
    for j in range(len(values)):
        diff = xc[j] - proj[j]  # self-multiply: oracle mirrors (d)*(d) exactly
        term = diff * diff
        err = term if err is None else err + term
    score = F.when(F.col("n") > k, F.sqrt(err)).otherwise(F.lit(0.0))
    out = joined.withColumn(
        "score", F.when(F.col("n").isNotNull(), score)
    ).withColumn("label", tag_label(F.col("score"), threshold))
    drop = (
        ["n"]
        + [f"mean_{v}" for v in values]
        + [f"pc_{c}_{v}" for c in range(k) for v in values]
    )
    return out.drop(*drop)


# ---------------------------------------------------------------- AutoEncoder

def autoencoder_fit(
    df: DataFrame,
    keys: Sequence[str],
    values: Sequence[str],
    hidden: int = 2,
    epochs: int = 200,
    lr: float = 0.05,
    seed: int = 42,
    presample: int | None = 8192,
    activation: str = "linear",
) -> DataFrame:
    """Per-key tied-weight autoencoder fit — the env-feasible equivalent of
    the reference's pyod AutoEncoder detector (`auen`,
    /root/reference/python/app/mvand.py:25-26; avenir ticket.py:27-31):
    inputs standardized per key, encoder z = act(W xs), decoder x̂ = Wᵀ z,
    W trained by seeded full-batch gradient descent on the MSE. Model =
    (keys..., n, mean_<v>, std_<v>, w_<c>_<v>).

    ``activation``: 'linear' (registry/oracle default — cross-engine
    bit-specified) or 'tanh' (the pyod-like nonlinear detector; scoring
    stays pure codegen via F.tanh, but Java Math.tanh and DuckDB's libm
    tanh are not ulp-identical, so the oracle query keeps 'linear').

    Same scale posture as pca_model: the fit pool is hash_presample-bounded
    and canonically ordered (partition-invariant), so no unbounded key group
    ever materializes; gradient descent is deterministic given the seed."""
    h = int(hidden)
    if presample:
        df = hash_presample(df, keys, values, presample, seed)
    d = len(values)

    def fit(key, pdf: pd.DataFrame) -> pd.DataFrame:
        x = pdf[list(values)].to_numpy(dtype=float)
        mu, sd, w = ae_fit_core(x, h, epochs, lr, seed, activation)
        row = {k_: v_ for k_, v_ in zip(keys, key)}
        row["n"] = int(len(x))
        for j, v_ in enumerate(values):
            row[f"mean_{v_}"] = float(mu[j])
            row[f"std_{v_}"] = float(sd[j])
        for c in range(h):
            for j, v_ in enumerate(values):
                row[f"w_{c}_{v_}"] = float(w[c, j])
        return pd.DataFrame([row])

    key_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema if f.name in keys
    )
    stat_fields = ", ".join(f"mean_{v} double, std_{v} double" for v in values)
    w_fields = ", ".join(f"w_{c}_{v} double" for c in range(h) for v in values)
    return df.groupBy(*keys).applyInPandas(
        fit, schema=f"{key_schema}, n long, {stat_fields}, {w_fields}"
    )


def autoencoder_score(
    df: DataFrame,
    model: DataFrame,
    keys: Sequence[str],
    values: Sequence[str],
    hidden: int = 2,
    threshold: float = 3.0,
    activation: str = "linear",
) -> DataFrame:
    """Reconstruction-error score ‖xs - Wᵀ act(W xs)‖ (standardized space)
    against a broadcast autoencoder_fit model — like pca_score, a pure
    codegen column expression: the fact table never shuffles and never
    enters Python. Keys absent from the model tag 'I'. ``activation`` must
    match the fit's."""
    if activation not in ("linear", "tanh"):
        raise ValueError(f"unknown activation: {activation}")
    h = int(hidden)
    joined = df.join(F.broadcast(model), list(keys), "left")
    # Standardized inputs and hidden activations are projected as REAL
    # columns, not inlined sub-expressions: every xs_j is referenced by all
    # h activations, every recon_j, and the squared diff (which duplicates
    # its whole operand tree), so inlining multiplies the CASE+division
    # subtree ~2(h·d+1) times per row — past the JIT method limit, dropping
    # the stage to interpreted eval (the lang_id lesson, text.py:81).
    # CollapseProject keeps a non-cheap alias referenced more than once.
    # The arithmetic DAG and op order are unchanged, so the model-baked
    # oracle still matches bit-for-bit.
    joined = joined.select(
        "*",
        *[
            F.when(
                F.col(f"std_{v}") > 0,
                (F.col(v) - F.col(f"mean_{v}")) / F.col(f"std_{v}"),
            )
            .otherwise(F.lit(0.0))
            .alias(f"_xs_{v}")
            for v in values
        ],
    )
    xs = [F.col(f"_xs_{v}") for v in values]
    z_exprs = []
    for c in range(h):
        z = None
        for j, v in enumerate(values):
            term = xs[j] * F.col(f"w_{c}_{v}")
            z = term if z is None else z + term
        if activation == "tanh":
            # round-6 parity quantization: Java Math.tanh and other engines'
            # libm tanh agree to ~1 ulp but are not bit-specified; pinning z
            # to 1e-6 makes every downstream op (mults/adds/sqrt, one fixed
            # order) IEEE-identical cross-engine, so the tanh path gets the
            # same hash-level oracle as linear. Detection semantics are
            # unaffected (z in [-1,1] at 1e-6 granularity); residual risk is
            # a 1-2 ulp tanh disagreement landing exactly on a 0.5e-6
            # rounding boundary (~5e-5 over all of lineitem sf0.01).
            z = F.round(F.tanh(z), 6)
        z_exprs.append(z.alias(f"_z_{c}"))
    joined = joined.select("*", *z_exprs)
    recon = [F.lit(0.0)] * len(values)
    for c in range(h):
        for j, v in enumerate(values):
            recon[j] = recon[j] + F.col(f"_z_{c}") * F.col(f"w_{c}_{v}")
    err = None
    for j in range(len(values)):
        diff = xs[j] - recon[j]  # self-multiply: oracle mirrors (d)*(d) exactly
        term = diff * diff
        err = term if err is None else err + term
    score = F.when(F.col("n") > h, F.sqrt(err)).otherwise(F.lit(0.0))
    out = joined.withColumn(
        "score", F.when(F.col("n").isNotNull(), score)
    ).withColumn("label", tag_label(F.col("score"), threshold))
    drop = (
        ["n"]
        + [f"mean_{v}" for v in values]
        + [f"std_{v}" for v in values]
        + [f"w_{c}_{v}" for c in range(h) for v in values]
        + [f"_xs_{v}" for v in values]
        + [f"_z_{c}" for c in range(h)]
    )
    return out.drop(*drop)


# ---------------------------------------------------------------- KMeans cluster

def _finalize_model(
    centroids_df: DataFrame,
    assign_fn,
    keys: Sequence[str],
    max_model_rows: int | None,
) -> DataFrame:
    """Materialize a fitted per-key centroid frame and attach full-data
    nearest-centroid ``size`` counts — the shared tail of kmeans_model /
    kmeans_mixed_model.

    The fit chain localCheckpoints FIRST (eager): it runs exactly once,
    lineage truncates, and no downstream action — the size count, the
    scorer's broadcast, a model save — can re-run the presample+fit (the
    lazy-persist refit race this stage exists to prevent). Then the
    materialization strategy splits on the MEASURED model size:

    - |keys|·k <= max_model_rows (the common case — moderate key
      cardinality): collect and rebuild as a LOCAL in-memory relation,
      merging sizes driver-side. Downstream broadcast-subtree jobs read
      local rows and no cache entry lingers in long sessions.
    - above the cap (a keyed fit over millions of entities, where the
      model itself is cluster data): the model STAYS distributed — sizes
      attach via a shuffle join on (keys, cluster_id) and nothing
      model-sized ever touches the driver (the tfidf_vocab(max_vocab)
      bounding pattern, applied to the detector family).

    ``max_model_rows=None`` forces the distributed path (never collect)."""
    spark = centroids_df.sparkSession
    # LAZY checkpoint + count: the count materializes the checkpoint in
    # the SAME job (eager=True runs an internal count of its own, so the
    # former eager+count shape paid the fixed per-job latency twice for
    # one materialization). The once-only guarantee is unchanged: after
    # this count the lineage is truncated and no downstream action can
    # re-run the presample+fit.
    cents = caching.checkpoint(centroids_df)
    n_model = cents.count()
    if max_model_rows is not None and n_model <= int(max_model_rows):
        centroid_rows = cents.collect()
        centroids = spark.createDataFrame(centroid_rows, cents.schema)
        # the rows are already on the driver: hand them to the assign/
        # score paths so small models inline as codegen literals instead
        # of a broadcast join (see _local_model_rows)
        centroids._beymani_local_rows = centroid_rows  # type: ignore[attr-defined]
        size_rows = (
            assign_fn(centroids, True)
            .groupBy(*keys, "cluster_id")
            .agg(F.count("*").alias("size"))
            .collect()
        )
        size_map = {
            tuple(r[k] for k in (*keys, "cluster_id")): r["size"]
            for r in size_rows
        }
        model_rows = [
            {
                **r.asDict(),
                "size": size_map.get(
                    tuple(r[k] for k in (*keys, "cluster_id")), 0
                ),
            }
            for r in centroid_rows
        ]
        out = spark.createDataFrame(
            model_rows, cents.schema.add("size", "long")
        )
        out._beymani_local_rows = model_rows  # type: ignore[attr-defined]
        return out
    sizes = (
        assign_fn(cents, False)
        .groupBy(*keys, "cluster_id")
        .agg(F.count("*").alias("size"))
    )
    return cents.join(sizes, [*keys, "cluster_id"], "left").withColumn(
        "size", F.coalesce(F.col("size"), F.lit(0).cast("long"))
    )


def kmeans_model(
    df: DataFrame,
    keys: Sequence[str],
    values: Sequence[str],
    n_clusters: int = 4,
    iterations: int = 20,
    seed: int = 42,
    presample: int | None = 8192,
    max_model_rows: int | None = 100_000,
) -> DataFrame:
    """Seeded per-key Lloyd k-means; returns (keys..., cluster_id, size,
    centroid components).

    The Lloyd fit runs over a hash_presample-bounded pool (~presample rows
    per key), so neither the O(n*k*d) iteration cost nor the fit task's
    pandas frame grows with the key group; cluster ``size`` is then a
    whole-data codegen count of nearest-centroid assignments, keeping the
    small-cluster rule (kmeans_score's min_cluster_fraction) exact on the
    full distribution rather than the sample. Model materialization is
    bounded by ``max_model_rows`` (see :func:`_finalize_model`): at or
    under the cap the |keys|·k model collects to a local relation, above
    it the model stays distributed end-to-end."""
    d = len(values)
    full = df
    if presample:
        df = hash_presample(df, keys, values, presample, seed)

    def fit(key, pdf: pd.DataFrame) -> pd.DataFrame:
        x = pdf[list(values)].to_numpy(dtype=float)
        centers = kmeans_fit_core(x, n_clusters, iterations, seed)
        rows = []
        for c in range(len(centers)):
            row = {k_: v_ for k_, v_ in zip(keys, key)}
            row["cluster_id"] = c
            for j, v_ in enumerate(values):
                row[f"centroid_{v_}"] = float(centers[c, j])
            rows.append(row)
        return pd.DataFrame(rows)

    key_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema if f.name in keys
    )
    cent = ", ".join(f"centroid_{v} double" for v in values)
    # The model is |keys|*k rows — collect it and rebuild as a LOCAL
    # DataFrame. The fit chain runs exactly once (one action), downstream
    # broadcast-subtree jobs read an in-memory relation (no lazy-persist
    # race that recomputes the presample+fit chain — measured 2x the cold
    # fit cost before eager materialization), and no cache entry lingers
    # in long sessions.
    centroids_df = df.groupBy(*keys).applyInPandas(
        fit, schema=f"{key_schema}, cluster_id int, {cent}"
    )
    # cluster sizes = full-data nearest-centroid counts (codegen pass over
    # the unsampled table): the small-cluster rule stays exact on the true
    # distribution even when the fit was presampled.
    return _finalize_model(
        centroids_df,
        lambda cents, bc: _assign_nearest(
            full, cents, keys, values, int(n_clusters), broadcast_model=bc
        ),
        keys,
        max_model_rows,
    )


#: inline-literal bound: a model with at most this many key groups is
#: baked into the plan as a when-chain of array literals (no model join,
#: no BroadcastExchange future job per consumer); larger models keep the
#: broadcast join — past this size the generated when-chain would
#: outgrow the JIT method limit (the _materialize_d2 lesson).
_INLINE_MODEL_KEYS = 64


def _local_model_rows(model: DataFrame):
    """Driver-side rows attached by _finalize_model's under-cap path
    (None for distributed or file-loaded models)."""
    rows = getattr(model, "_beymani_local_rows", None)
    if rows is None:
        return None
    return [r if isinstance(r, dict) else r.asDict() for r in rows]


def _inline_cents(df: DataFrame, rows, keys: Sequence[str], fields):
    """Attach a literal ``_cents`` array<struct<cluster_id, ...>> column
    built from driver-side model rows — the join-free fast path for
    small under-cap models. ``fields`` is [(struct_field_name,
    source_row_field, cast_type), ...] in _cents struct order. Key
    groups sort their centroids by cluster_id (the sort_array order of
    the broadcast path); rows whose key matches no model group get a
    NULL _cents and are filtered, reproducing the inner model join.
    Returns None when the model is too wide to inline (caller falls back
    to the broadcast join)."""
    groups: dict = {}
    for r in rows:
        groups.setdefault(tuple(r[k] for k in keys), []).append(r)
    if not groups or len(groups) > _INLINE_MODEL_KEYS:
        return None
    try:
        chain = None
        for kt, grp in groups.items():
            grp = sorted(grp, key=lambda r: int(r["cluster_id"]))
            arr = F.array(
                *[
                    F.struct(
                        F.lit(int(r["cluster_id"])).cast("int").alias("cluster_id"),
                        *[
                            F.lit(r[src]).cast(typ).alias(name)
                            for name, src, typ in fields
                        ],
                    )
                    for r in grp
                ]
            )
            cond = None
            for k, v in zip(keys, kt):
                # null model keys never equi-join; keep that drop exact
                c = F.lit(False) if v is None else (F.col(k) == F.lit(v))
                cond = c if cond is None else (cond & c)
            chain = F.when(cond, arr) if chain is None else chain.when(cond, arr)
    except Exception:
        return None  # unliteralizable key/centroid type: use the join
    out = df.withColumn("_cents", chain).filter(F.col("_cents").isNotNull())
    # reproduce the equi-join's column order (join keys lead) so both
    # paths return identical schemas
    rest = [c for c in df.columns if c not in keys]
    return out.select(*keys, *rest, "_cents")


def _unrolled_nearest(values: Sequence[str], max_k: int):
    """(squared-distance exprs, min expr) against a `_cents`
    array<struct<cluster_id, v...>> column, unrolled per centroid slot with
    F.get (null past the key's actual centroid count, which least() and the
    when() chain skip). Higher-order transform/array_min/array_position are
    interpreted AND re-evaluate the distance array once per consumer; the
    unrolled form is plain whole-stage-codegen arithmetic evaluated once."""
    d2s = []
    for i in range(max_k):
        c = F.get(F.col("_cents"), i)
        d = None
        for v in values:
            # explicit self-multiplication, not **2: Math.pow(x, 2.0) is not
            # IEEE-guaranteed to equal x*x, and the DuckDB oracle mirrors
            # this expression term-for-term as (x-c)*(x-c)
            diff = F.col(v) - c[v]
            term = diff * diff
            d = term if d is None else d + term
        d2s.append(d)
    m = F.least(*d2s) if len(d2s) > 1 else d2s[0]
    return d2s, m


def _materialize_d2(joined: DataFrame, d2s: list) -> tuple[DataFrame, list, "F.Column"]:
    """Project the per-centroid distance expressions as real columns and
    rebuild least()/comparisons off the projected columns. Each d2 subtree
    is otherwise inlined into least() AND every argmin when() branch —
    ~(k+2) copies — which at production d (tens of attrs) pushes the
    generated method past the JIT limit into interpreted eval (the same
    blowup fixed in autoencoder_score). CollapseProject keeps non-cheap
    aliases referenced more than once; values and IEEE op order are
    unchanged, so the model-baked oracles are unaffected."""
    out = joined.select("*", *[d2.alias(f"_d2_{i}") for i, d2 in enumerate(d2s)])
    cols = [F.col(f"_d2_{i}") for i in range(len(d2s))]
    m = F.least(*cols) if len(cols) > 1 else cols[0]
    return out, cols, m


def _spread(df: DataFrame) -> DataFrame:
    """Few-split sources would run the expression-heavy argmin passes on one
    core; round-robin them first. Multi-split tables at scale skip this."""
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < parallelism // 2:
        df = df.repartition(parallelism)
    return df


def _assign_nearest(
    df: DataFrame,
    centroids: DataFrame,
    keys: Sequence[str],
    values: Sequence[str],
    max_k: int,
    broadcast_model: bool = True,
) -> DataFrame:
    """Adds cluster_id = nearest centroid per row: broadcast the per-key
    centroid array (sorted by cluster_id) and unrolled codegen argmin —
    1:1 join, no row explosion (cf. kmeans_score).
    ``broadcast_model=False`` drops the hint for over-cap models whose
    per-key arrays would not fit a broadcast (the join shuffles, or AQE
    re-chooses broadcast at runtime if the model turns out small)."""
    joined = None
    if broadcast_model:
        rows = _local_model_rows(centroids)
        if rows is not None:
            joined = _inline_cents(
                df, rows, keys, [(v, f"centroid_{v}", "double") for v in values]
            )
    if joined is None:
        cent = F.struct(
            F.col("cluster_id"), *[F.col(f"centroid_{v}").alias(v) for v in values]
        )
        per_key = centroids.groupBy(*keys).agg(
            F.sort_array(F.collect_list(cent)).alias("_cents")
        )
        joined = df.join(
            F.broadcast(per_key) if broadcast_model else per_key, list(keys)
        )
    d2s, _ = _unrolled_nearest(values, max_k)
    joined, d2_cols, m = _materialize_d2(joined, d2s)
    # first-match when() chain over ascending cluster_id: ties resolve to the
    # lowest cluster_id, matching numpy argmin's first-index rule
    best = None
    for i, d2 in enumerate(d2_cols):
        cid = F.get(F.col("_cents"), i)["cluster_id"]
        best = F.when(d2 == m, cid) if best is None else best.when(d2 == m, cid)
    return (
        joined.withColumn("cluster_id", best)
        .drop("_cents", *[f"_d2_{i}" for i in range(len(d2_cols))])
    )


def kmeans_score(
    df: DataFrame,
    model: DataFrame,
    keys: Sequence[str],
    values: Sequence[str],
    min_cluster_fraction: float = 0.05,
    threshold: float = 3.0,
    max_clusters: int | None = None,
) -> DataFrame:
    """Distance to the nearest *large* centroid (small clusters are anomaly
    pockets, cf. ClusterBasedPredictor.scala:88-103).

    ``max_clusters``: unroll width for the codegen argmin (defaults to a
    driver-side max over the tiny model DF)."""
    rows = _local_model_rows(model)
    joined = None
    if rows is not None:
        if max_clusters is None:
            max_clusters = max(int(r["cluster_id"]) for r in rows) + 1
        # the large-cluster rule evaluated driver-side over the local
        # model rows — identical arithmetic (long promotes exactly into
        # double for any realistic count), zero model-side Spark jobs
        tot: dict = {}
        for r in rows:
            kt = tuple(r[k] for k in keys)
            tot[kt] = tot.get(kt, 0) + int(r["size"])
        large_rows = [
            r
            for r in rows
            if int(r["size"]) >= tot[tuple(r[k] for k in keys)] * min_cluster_fraction
        ]
        joined = _inline_cents(
            df, large_rows, keys, [(v, f"centroid_{v}", "double") for v in values]
        )
    if joined is None:
        total = model.groupBy(*keys).agg(F.sum("size").alias("_total"))
        large = (
            model.join(F.broadcast(total), list(keys))
            .filter(F.col("size") >= F.col("_total") * min_cluster_fraction)
        )
        if max_clusters is None:
            max_clusters = int(model.agg(F.max("cluster_id")).first()[0]) + 1
        # fold the (few) large centroids into one array per key: the fact
        # table joins 1:1 (no xK row explosion) and min-distance is an
        # unrolled codegen least() — no post-join shuffle, no interpreted
        # higher-order
        cent = F.struct(
            F.col("cluster_id"), *[F.col(f"centroid_{v}").alias(v) for v in values]
        )
        per_key = large.groupBy(*keys).agg(
            F.sort_array(F.collect_list(cent)).alias("_cents")
        )
        joined = df.join(F.broadcast(per_key), list(keys))
    d2s, _ = _unrolled_nearest(values, int(max_clusters))
    joined, d2_cols, m = _materialize_d2(joined, d2s)
    return (
        joined.withColumn("score", F.sqrt(m))
        .drop("_cents", *[f"_d2_{i}" for i in range(len(d2_cols))])
        .withColumn("label", tag_label(F.col("score"), threshold))
    )


# ----------------------------------------------------- mixed-type k-means

def kmeans_mixed_fit_core(
    xn: np.ndarray,
    xc: np.ndarray,
    n_clusters: int,
    iterations: int,
    gamma: float,
    seed: int,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Seeded k-prototypes fit over numeric (n,d) + categorical (n,m) rows:
    distance = Σ ((x_j - c_j)/range_j)² + gamma · Σ 1{cat_j ≠ mode_j} —
    the schema-driven mixed record distance of the reference's
    InterRecordDistance usage (ClusterBasedPredictor.scala:45-130; numeric
    attrs range-normalized so a categorical mismatch is commensurate).
    Returns (numeric centers, categorical modes, numeric ranges). Modal
    ties resolve to the lexicographically smallest value; row order is
    canonicalized so the fit is partition-invariant. Shared with the
    model-baked oracle builder."""
    order = sorted(range(len(xn)), key=lambda i: (tuple(xn[i]), tuple(xc[i])))
    xn, xc = xn[order], xc[order]
    rng_j = xn.max(axis=0) - xn.min(axis=0)
    rng_j = np.where(rng_j > 0, rng_j, 1.0)
    rng = np.random.RandomState(seed)
    kk = min(n_clusters, len(xn))
    idx = rng.choice(len(xn), size=kk, replace=False)
    cn, cc = xn[idx].copy(), xc[idx].copy()
    for _ in range(iterations):
        num_d2 = (((xn[:, None, :] - cn[None, :, :]) / rng_j) ** 2).sum(axis=2)
        cat_d = (xc[:, None, :] != cc[None, :, :]).sum(axis=2)
        assign = (num_d2 + gamma * cat_d).argmin(axis=1)
        for c in range(kk):
            m = assign == c
            if m.any():
                cn[c] = xn[m].mean(axis=0)
                for j in range(xc.shape[1]):
                    vals, counts = np.unique(xc[m][:, j], return_counts=True)
                    cc[c, j] = vals[counts.argmax()]  # unique sorts: tie -> smallest
    return cn, cc, rng_j


def kmeans_mixed_model(
    df: DataFrame,
    keys: Sequence[str],
    num_values: Sequence[str],
    cat_values: Sequence[str],
    n_clusters: int = 4,
    iterations: int = 20,
    gamma: float = 1.0,
    seed: int = 42,
    presample: int | None = 8192,
    max_model_rows: int | None = 100_000,
) -> DataFrame:
    """Mixed-type cluster model: (keys..., cluster_id, centroid_<v>,
    range_<v>, centroid_<c>, size). Same scale posture as kmeans_model —
    hash-presampled bounded fit, ``max_model_rows``-bounded model
    materialization (:func:`_finalize_model`), full-data codegen size
    counts."""
    full = df
    all_vals = [*num_values, *cat_values]
    if presample:
        df = hash_presample(df, keys, all_vals, presample, seed)

    def fit(key, pdf: pd.DataFrame) -> pd.DataFrame:
        xn = pdf[list(num_values)].to_numpy(dtype=float)
        xc = pdf[list(cat_values)].to_numpy(dtype=object)
        cn, cc, rng_j = kmeans_mixed_fit_core(
            xn, xc, n_clusters, iterations, gamma, seed
        )
        rows = []
        for c in range(len(cn)):
            row = {k_: v_ for k_, v_ in zip(keys, key)}
            row["cluster_id"] = c
            for j, v_ in enumerate(num_values):
                row[f"centroid_{v_}"] = float(cn[c, j])
                row[f"range_{v_}"] = float(rng_j[j])
            for j, c_ in enumerate(cat_values):
                row[f"centroid_{c_}"] = str(cc[c, j])
            rows.append(row)
        return pd.DataFrame(rows)

    key_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema if f.name in keys
    )
    cent = ", ".join(
        [f"centroid_{v} double, range_{v} double" for v in num_values]
        + [f"centroid_{c} string" for c in cat_values]
    )
    centroids_df = df.groupBy(*keys).applyInPandas(
        fit, schema=f"{key_schema}, cluster_id int, {cent}"
    )
    return _finalize_model(
        centroids_df,
        lambda cents, bc: _assign_nearest_mixed(
            full,
            cents,
            keys,
            num_values,
            cat_values,
            gamma,
            int(n_clusters),
            broadcast_model=bc,
        ),
        keys,
        max_model_rows,
    )


def _unrolled_nearest_mixed(
    num_values: Sequence[str],
    cat_values: Sequence[str],
    gamma: float,
    max_k: int,
):
    """Mixed-distance analogue of _unrolled_nearest against a ``_cents``
    array<struct<cluster_id, v..., rng_v..., c...>> column:
    d2 = Σ ((x-c)/range)·((x-c)/range) + gamma · Σ (x_c = c_c ? 0 : 1),
    every square an explicit self-multiplication so the DuckDB oracle can
    mirror it term-for-term."""
    d2s = []
    for i in range(max_k):
        c = F.get(F.col("_cents"), i)
        d = None
        for v in num_values:
            diff = (F.col(v) - c[v]) / c[f"rng_{v}"]
            term = diff * diff
            d = term if d is None else d + term
        cat = None
        for cv in cat_values:
            term = F.when(F.col(cv) == c[cv], F.lit(0.0)).otherwise(F.lit(1.0))
            cat = term if cat is None else cat + term
        if cat is not None:
            d = d + F.lit(float(gamma)) * cat
        d2s.append(d)
    m = F.least(*d2s) if len(d2s) > 1 else d2s[0]
    return d2s, m


def _mixed_cent_struct(num_values: Sequence[str], cat_values: Sequence[str]):
    return F.struct(
        F.col("cluster_id"),
        *[F.col(f"centroid_{v}").alias(v) for v in num_values],
        *[F.col(f"range_{v}").alias(f"rng_{v}") for v in num_values],
        *[F.col(f"centroid_{c}").alias(c) for c in cat_values],
    )


def _mixed_inline_fields(num_values: Sequence[str], cat_values: Sequence[str]):
    """_inline_cents field spec mirroring _mixed_cent_struct's layout."""
    return (
        [(v, f"centroid_{v}", "double") for v in num_values]
        + [(f"rng_{v}", f"range_{v}", "double") for v in num_values]
        + [(c, f"centroid_{c}", "string") for c in cat_values]
    )


def _assign_nearest_mixed(
    df: DataFrame,
    centroids: DataFrame,
    keys: Sequence[str],
    num_values: Sequence[str],
    cat_values: Sequence[str],
    gamma: float,
    max_k: int,
    broadcast_model: bool = True,
) -> DataFrame:
    joined = None
    if broadcast_model:
        rows = _local_model_rows(centroids)
        if rows is not None:
            joined = _inline_cents(df, rows, keys, _mixed_inline_fields(num_values, cat_values))
    if joined is None:
        per_key = centroids.groupBy(*keys).agg(
            F.sort_array(
                F.collect_list(_mixed_cent_struct(num_values, cat_values))
            ).alias("_cents")
        )
        joined = df.join(
            F.broadcast(per_key) if broadcast_model else per_key, list(keys)
        )
    d2s, _ = _unrolled_nearest_mixed(num_values, cat_values, gamma, max_k)
    joined, d2_cols, m = _materialize_d2(joined, d2s)
    best = None
    for i, d2 in enumerate(d2_cols):
        cid = F.get(F.col("_cents"), i)["cluster_id"]
        best = F.when(d2 == m, cid) if best is None else best.when(d2 == m, cid)
    return (
        joined.withColumn("cluster_id", best)
        .drop("_cents", *[f"_d2_{i}" for i in range(len(d2_cols))])
    )


def kmeans_mixed_score(
    df: DataFrame,
    model: DataFrame,
    keys: Sequence[str],
    num_values: Sequence[str],
    cat_values: Sequence[str],
    gamma: float = 1.0,
    min_cluster_fraction: float = 0.05,
    threshold: float = 1.0,
    max_clusters: int | None = None,
) -> DataFrame:
    """Mixed-type ClusterBasedPredictor scoring: sqrt of the mixed distance
    to the nearest LARGE centroid (small clusters are anomaly pockets), as
    a pure codegen expression over the broadcast model."""
    rows = _local_model_rows(model)
    joined = None
    if rows is not None:
        if max_clusters is None:
            max_clusters = max(int(r["cluster_id"]) for r in rows) + 1
        tot: dict = {}
        for r in rows:
            kt = tuple(r[k] for k in keys)
            tot[kt] = tot.get(kt, 0) + int(r["size"])
        large_rows = [
            r
            for r in rows
            if int(r["size"]) >= tot[tuple(r[k] for k in keys)] * min_cluster_fraction
        ]
        joined = _inline_cents(
            df, large_rows, keys, _mixed_inline_fields(num_values, cat_values)
        )
    if joined is None:
        total = model.groupBy(*keys).agg(F.sum("size").alias("_total"))
        large = (
            model.join(F.broadcast(total), list(keys))
            .filter(F.col("size") >= F.col("_total") * min_cluster_fraction)
        )
        if max_clusters is None:
            max_clusters = int(model.agg(F.max("cluster_id")).first()[0]) + 1
        per_key = large.groupBy(*keys).agg(
            F.sort_array(
                F.collect_list(_mixed_cent_struct(num_values, cat_values))
            ).alias("_cents")
        )
        joined = df.join(F.broadcast(per_key), list(keys))
    d2s, _ = _unrolled_nearest_mixed(
        num_values, cat_values, gamma, int(max_clusters)
    )
    joined, d2_cols, m = _materialize_d2(joined, d2s)
    return (
        joined.withColumn("score", F.sqrt(m))
        .drop("_cents", *[f"_d2_{i}" for i in range(len(d2_cols))])
        .withColumn("label", tag_label(F.col("score"), threshold))
    )


# ---------------------------------------------------------------- Isolation forest

def _c_factor(n: int) -> float:
    """Average unsuccessful-search path length c(n) in a BST
    (IsolationForestPredictor.scala:171-174)."""
    if n <= 1:
        return 1.0
    h = math.log(n - 1) + 0.5772156649
    return 2.0 * h - 2.0 * (n - 1) / n


def _grow_tree(x: np.ndarray, rng: np.random.RandomState, max_depth: int) -> dict:
    if len(x) <= 1 or max_depth <= 0:
        return {"n": int(len(x))}
    attr = int(rng.randint(x.shape[1]))
    lo, hi = x[:, attr].min(), x[:, attr].max()
    if lo == hi:
        return {"n": int(len(x))}
    split = float(rng.uniform(lo, hi))
    mask = x[:, attr] < split
    return {
        "a": attr,
        "s": split,
        "l": _grow_tree(x[mask], rng, max_depth - 1),
        "r": _grow_tree(x[~mask], rng, max_depth - 1),
    }


def _path_len_vec(tree: dict, x: np.ndarray) -> np.ndarray:
    """Vectorized path lengths for all rows of x through one tree (iterative
    mask traversal — no per-row recursion)."""
    out = np.zeros(len(x))
    stack = [(tree, np.arange(len(x)), 0)]
    while stack:
        node, idx, depth = stack.pop()
        if len(idx) == 0:
            continue
        if "a" not in node:
            out[idx] = depth + _c_factor(node.get("n", 1))
            continue
        mask = x[idx, node["a"]] < node["s"]
        stack.append((node["l"], idx[mask], depth + 1))
        stack.append((node["r"], idx[~mask], depth + 1))
    return out


def iforest_fit_core(
    x: np.ndarray, num_trees: int, subsample: int, seed: int, max_depth: int
) -> list[tuple[dict, int]]:
    """[(tree, sample_n)] per tree — shared by the applyInPandas fit and the
    model-baked oracle builder (one RandomState consumed sequentially across
    trees: bootstrap choice, then split draws)."""
    x = _canonical(x)
    rng = np.random.RandomState(seed)
    out = []
    for _ in range(num_trees):
        idx = rng.choice(len(x), size=min(subsample, len(x)), replace=False)
        out.append((_grow_tree(x[idx], rng, max_depth), int(len(idx))))
    return out


def isolation_forest_fit(
    df: DataFrame,
    keys: Sequence[str],
    values: Sequence[str],
    num_trees: int = 100,
    subsample: int = 256,
    seed: int = 42,
    presample: int | None = 16,
) -> DataFrame:
    """Per-key isolation forest; model = (keys..., tree_id, tree_json).

    Each key's forest is fit in one applyInPandas pass over a bounded
    bootstrap subsample — replaces the reference's per-depth-shuffle loop.

    With ``presample`` set (default), the fit exchange carries a
    deterministic hash-thresholded pool of ~presample*subsample rows per key
    instead of the whole fact table: a keys-only count aggregate fixes each
    key's keep-fraction, then a narrow xxhash64 filter selects the pool
    before the group shuffle. At 100 TB this is the difference between
    shuffling the dataset and shuffling ~4k rows per key. Sampling stays
    deterministic under any partitioning (hash of the value columns + seed,
    not F.rand)."""
    max_depth = int(math.ceil(math.log2(max(subsample, 2))))

    if presample:
        df = hash_presample(df, keys, values, int(presample) * subsample, seed)

    def fit(key, pdf: pd.DataFrame) -> pd.DataFrame:
        x = pdf[list(values)].to_numpy(dtype=float)
        rows = []
        for t, (tree, n_s) in enumerate(
            iforest_fit_core(x, num_trees, subsample, seed, max_depth)
        ):
            row = {k_: v_ for k_, v_ in zip(keys, key)}
            row["tree_id"] = t
            row["tree_json"] = json.dumps(tree)
            row["sample_n"] = n_s
            rows.append(row)
        return pd.DataFrame(rows)

    key_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema if f.name in keys
    )
    return df.groupBy(*keys).applyInPandas(
        fit, schema=f"{key_schema}, tree_id int, tree_json string, sample_n long"
    )


def isolation_forest_merge(
    df_old: DataFrame,
    df_new: DataFrame,
    keys: Sequence[str],
    values: Sequence[str],
    num_trees: int = 100,
    subsample: int = 256,
    seed: int = 42,
) -> DataFrame:
    """#14 IsolationForestMerge (/root/reference/spark/src/main/scala/org/
    beymani/spark/multi/IsolationForestMerge.scala:35-203): incremental
    retraining hook. The reference re-samples the incremental records with
    replacement per (key, tree) (:74-84), merges them into each tree's
    stored sample pool, and rebuilds the trees; our fit presamples and
    rebuilds in one bounded pass, so union + refit differs only in sample
    bookkeeping (fresh resample from the union vs append-to-pool), not in
    the model contract — both are random-subsample forest rebuilds."""
    return isolation_forest_fit(
        df_old.select(*keys, *values).unionByName(df_new.select(*keys, *values)),
        keys, values, num_trees, subsample, seed,
    )


def _forest_scores(trees, sample_n: int, x, threshold: float):
    """score = 2^(-avg path length / c(sample_n)) over a tree_id-ordered
    tree list — the ONE scoring implementation shared by the broadcast and
    cogroup paths, so their advertised bit-identity is structural, not
    merely test-enforced. Callers must pass trees already tree_id-sorted."""
    paths = np.zeros(len(x))
    for tree in trees:
        paths += _path_len_vec(tree, x)
    score = np.power(2.0, -(paths / len(trees)) / _c_factor(sample_n))
    return score, np.where(score > threshold, "O", "N")


def _iforest_score_cogroup(
    df: DataFrame,
    mdl: DataFrame,
    keys: Sequence[str],
    values: Sequence[str],
    threshold: float,
    out_schema: StructType,
) -> DataFrame:
    """Over-cap isolation-forest scoring: the model stays distributed and
    facts cogroup with their key's trees — no model-sized driver collect,
    no broadcast. Math is byte-identical to the broadcast path (tree_id-
    ordered path-length summation over the same vectorized traversal)."""
    key_list = list(keys)
    val_list = list(values)

    def score_group(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        res = left.reset_index(drop=True)
        if len(res) == 0:
            res["score"] = pd.Series(dtype="float64")
            res["label"] = pd.Series(dtype="object")
            return res
        if len(right) == 0:
            res["score"] = None
            res["label"] = "I"
            return res
        right = right.sort_values("tree_id", kind="mergesort")
        trees = [json.loads(t) for t in right["tree_json"]]
        n_s = int(right["sample_n"].iloc[0])
        x = res[val_list].to_numpy(dtype=float)
        score, label = _forest_scores(trees, n_s, x, threshold)
        res["score"] = score
        res["label"] = label
        return res

    return (
        df.groupBy(*key_list)
        .cogroup(mdl.groupBy(*key_list))
        .applyInPandas(score_group, out_schema)
    )


def isolation_forest_score(
    df: DataFrame,
    model: DataFrame,
    keys: Sequence[str],
    values: Sequence[str],
    threshold: float = 0.6,
    max_model_rows: int | None = 100_000,
) -> DataFrame:
    """score = 2^(-avg path length / c(sample_n)). Model materialization
    follows the ``max_model_rows`` bounding convention (the kmeans
    :func:`_finalize_model` pattern, applied to the forest):

    - |keys| * num_trees <= max_model_rows (the reference's design point —
      100 trees, moderate key cardinality): the model is collected and
      broadcast and each partition scores its own rows via vectorized mask
      traversal (mapInPandas) — the fact table never shuffles, replacing
      both the reference's cartesian (IsolationForestPredictor.scala:108)
      and a cogroup exchange.
    - above the cap (a keyed fit over millions of entities, where the
      forest itself is cluster data): nothing model-sized touches the
      driver — facts and trees cogroup on the keys and each task traverses
      its own key's forest. The fact table pays one keyed shuffle, which
      at millions of keys is well-spread; that is the price of a model too
      big to broadcast. ``max_model_rows=None`` forces this path.

    Both paths sort trees by tree_id before the path-length sum, so scores
    are bit-identical across paths and partitionings. Keys absent from the
    model tag 'I'. A streaming fact frame can only take the broadcast path
    (stream-static cogroup is unsupported), so an over-cap model there
    raises at plan time — raise ``max_model_rows`` explicitly to opt into
    collecting a larger deployed model."""
    out_schema = StructType(
        [f for f in df.schema if f.name in set(df.columns)]
    ).add("score", "double").add("label", "string")

    # checkpoint first (LAZY + count): the count materializes the
    # checkpoint in one job — eager=True runs its own internal count, so
    # the former shape paid a second fixed-latency job for nothing. The
    # fit chain still runs exactly once: after this count the lineage is
    # truncated, and the path-picking count cannot re-run it.
    mdl = caching.checkpoint(model.select(*keys, "tree_id", "tree_json", "sample_n"))
    n_model = mdl.count()
    over_cap = max_model_rows is None or n_model > int(max_model_rows)
    if over_cap:
        if df.isStreaming:
            # the only over-cap strategy is a fact-model cogroup, which
            # stream-static frames cannot do — refuse loudly rather than
            # silently collecting a model the cap was set to keep off
            # the driver
            raise ValueError(
                f"isolation forest model has {n_model} rows, over "
                f"max_model_rows={max_model_rows}; a streaming scorer "
                "serves a broadcast model — raise max_model_rows "
                "explicitly to opt into collecting a model this large"
            )
        return _iforest_score_cogroup(
            df, mdl, keys, values, threshold, out_schema
        )

    mdl_rows = mdl.collect()
    forests: dict = {}
    for r in mdl_rows:
        k = tuple(r[kk] for kk in keys)
        ent = forests.setdefault(k, {"trees": [], "n": int(r["sample_n"])})
        ent["trees"].append((int(r["tree_id"]), json.loads(r["tree_json"])))
    for ent in forests.values():
        # tree_id-ordered summation: bit-identical scores regardless of
        # collect order or materialization path
        ent["trees"] = [t for _, t in sorted(ent["trees"], key=lambda p: p[0])]
    bc = df.sparkSession.sparkContext.broadcast(forests)

    def score_chunk(pdf):
        fmap = bc.value
        res = pdf.reset_index(drop=True)
        score_col = np.full(len(res), np.nan)
        label_col = np.full(len(res), "I", dtype=object)
        for k, sub in res.groupby(list(keys), sort=False):
            kt = k if isinstance(k, tuple) else (k,)
            ent = fmap.get(kt)
            if ent is None:
                continue
            x = sub[list(values)].to_numpy(dtype=float)
            score, label = _forest_scores(ent["trees"], ent["n"], x, threshold)
            idx = sub.index.to_numpy()
            score_col[idx] = score
            label_col[idx] = label
        res["score"] = score_col
        res["label"] = label_col
        if np.isnan(score_col).any():  # missing-model rows: null, not NaN
            res["score"] = res["score"].astype(object).where(res["score"].notna(), None)
        return res

    def gen(batches):
        # tree traversal costs O(nodes) python ops per chunk regardless of
        # chunk size — accumulate arrow batches to ~100k rows so the numpy
        # work dominates, with memory still bounded per chunk
        buf, buffered = [], 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            buf.append(pdf)
            buffered += len(pdf)
            if buffered >= 100_000:
                yield score_chunk(pd.concat(buf, ignore_index=True))
                buf, buffered = [], 0
        if buf:
            yield score_chunk(pd.concat(buf, ignore_index=True))

    # few-split sources (one parquet file) would run every chunk in a single
    # python worker; round-robin them across the cluster first. On a real
    # multi-split table this branch never fires and the fact table stays
    # shuffle-free. Streaming frames skip the probe (.rdd is illegal on a
    # stream — the multimodal._spread guard convention); micro-batch
    # parallelism is the source's concern there.
    if not df.isStreaming:
        parallelism = df.sparkSession.sparkContext.defaultParallelism
        if df.rdd.getNumPartitions() < parallelism // 2:
            df = df.repartition(parallelism)
    return df.mapInPandas(gen, out_schema)
