"""Multivariate detectors (SURVEY.md §2.2 K9, §2.1 #12-#14, #16, #17).

  mahalanobis_* ≙ MahalanobisDistancePredictor (/root/reference/src/main/java/
      org/beymani/predictor/MahalanobisDistancePredictor.java:78-105):
      score = (x-μ)ᵀ Σ⁻¹ (x-μ) from keyed mean vector + covariance. The model
      is one aggregation (avg + covar_samp per pair). For 2 attributes the
      scorer inverts Σ in closed form; for any other count the fit itself
      carries Σ⁻¹, inverted once per key by numpy over the aggregated model,
      with NULL for a one-row or singular covariance. Scoring is one
      broadcast join and a column expression for every d.
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
      Seeded per-key Lloyd iterations in applyInPandas; both k-means
      families (numeric and mixed-type) share one assign path and one
      scoring core, each supplying only its fit, its centroid struct
      fields and its per-centroid distance term.
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

Fitted models. The k-means and isolation-forest fits return a ``Model``:
its ``frame``, plus its ``rows`` on the driver when ``materialize`` found
the model at or under ``max_model_rows`` (MAX_MODEL_ROWS), else None. The
rows travel with the value, so no projection can lose them. ``attach``
gives the fact table its per-key centroids from that value: inline
literals for a driver-held model of at most _INLINE_MODEL_KEYS keys, a
broadcast join for a larger driver-held one, a plain join over the cap.
The literal path stays because it is measured faster: at sf0.01 on 4
cores kmeans_cluster_score takes 3.52 s and 9 jobs with it and 3.80 s and
15 jobs with a broadcast join (kmeans_mixed: 4.29 s against 5.28 s).

Mahalanobis, PCA and the autoencoder still return plain frames that their
scorers broadcast-join lazily, because that is measured faster for a
single-row-per-key model: pca_reconstruction on ``materialize`` plus an
inline ``attach`` kept its hash and its 5 jobs but lost 10 of 10
interleaved pairs (median 1.3 s -> 2.0 s at sf0.01 on 4 cores), and
reading inlined model fields in the arithmetic took 1.41 s against 0.67 s
for scoring alone. Each of these scorers reads everything model-shaped
(Σ⁻¹, the component count, the hidden width) from the fitted frame's
columns, and drops exactly those columns after scoring.
"""
from __future__ import annotations

import json
import math
from collections.abc import Sequence
from dataclasses import dataclass
from functools import reduce
from operator import add, and_

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..functions import caching
from ..functions.scores import tag_label
from .multimodal import _spread


# ---------------------------------------------------------------- Mahalanobis

def mahalanobis_model(df: DataFrame, keys: Sequence[str], values: Sequence[str]) -> DataFrame:
    """Per-key mean vector + sample covariance matrix (wide columns
    ``mean_<v>``, ``cov_<a>_<b>`` for a at or before b).

    For d != 2 the model also carries the inverse covariance as ``inv_i_j``
    (row-major, i and j index ``values``), computed once per key by one
    narrow mapInPandas over the aggregated model. A key whose covariance
    has a NULL or non-finite entry (a one-row key) or is singular
    (``matrix_rank < d``) gets NULL ``inv_i_j``, so it scores NULL and tags
    'I', the rule the d == 2 closed form applies through its determinant."""
    aggs = []
    for v in values:
        aggs.append(F.avg(v).alias(f"mean_{v}"))
    for i, a in enumerate(values):
        for b in values[i:]:
            aggs.append(F.covar_samp(F.col(a), F.col(b)).alias(f"cov_{a}_{b}"))
    model = df.groupBy(*keys).agg(*aggs)
    d = len(values)
    if d == 2:
        return model
    cells = [
        (i, j, f"cov_{values[min(i, j)]}_{values[max(i, j)]}")
        for i in range(d)
        for j in range(d)
    ]

    def invert(batches):
        for pdf in batches:
            cov = np.empty((len(pdf), d, d))
            for i, j, col in cells:
                cov[:, i, j] = pdf[col].to_numpy(dtype=float)
            ok = np.isfinite(cov).all(axis=(1, 2))
            ok[ok] = np.linalg.matrix_rank(cov[ok]) == d
            inv = np.full_like(cov, np.nan)  # NaN goes back to Spark as NULL
            inv[ok] = np.linalg.inv(cov[ok])
            yield pdf.assign(
                **{f"inv_{i}_{j}": inv[:, i, j] for i in range(d) for j in range(d)}
            )

    schema = StructType([*model.schema])
    for i in range(d):
        for j in range(d):
            schema = schema.add(f"inv_{i}_{j}", "double")
    return model.mapInPandas(invert, schema)


def mahalanobis_score(
    df: DataFrame,
    model: DataFrame,
    keys: Sequence[str],
    values: Sequence[str],
    threshold: float = 9.0,
) -> DataFrame:
    """Squared Mahalanobis distance (x-μ)ᵀ Σ⁻¹ (x-μ) against a broadcast
    mahalanobis_model, as a column expression. d == 2 inverts Σ in closed
    form (the oracle's formula; a zero determinant scores NULL); any other
    d sums the model's ``inv_i_j·dx_i·dx_j``. Keys absent from the model, or
    with a one-row or singular covariance, score NULL and tag 'I'."""
    joined = df.join(F.broadcast(model), list(keys), "left")
    dx = [F.col(v) - F.col(f"mean_{v}") for v in values]
    if len(values) == 2:
        va, vb = values
        a = F.col(f"cov_{va}_{va}")
        b = F.col(f"cov_{vb}_{vb}")
        c = F.col(f"cov_{va}_{vb}")
        det = a * b - c * c
        x, y = dx
        score = F.when(F.abs(det) > 0, (b * x * x - 2 * c * x * y + a * y * y) / det)
    else:
        score = reduce(
            add,
            [
                F.col(f"inv_{i}_{j}") * dx[i] * dx[j]
                for i in range(len(values))
                for j in range(len(values))
            ],
        )
    return _scored(joined, model, keys, score, threshold)


def _scored(
    joined: DataFrame,
    model: DataFrame,
    keys: Sequence[str],
    score,
    threshold: float,
) -> DataFrame:
    """``score`` and its label on a fact-model join, minus exactly the
    model's non-key columns."""
    return (
        joined.withColumn("score", score)
        .withColumn("label", tag_label(F.col("score"), threshold))
        .drop(*[c for c in model.columns if c not in keys])
    )


def _width(model: DataFrame, prefix: str, value: str) -> int:
    """How many ``<prefix>_<c>_<value>`` columns (c = 0, 1, ...) the fit
    wrote: the component or hidden width the scorer unrolls."""
    cols = set(model.columns)
    c = 0
    while f"{prefix}_{c}_{value}" in cols:
        c += 1
    return c


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

    def fit(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
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
    threshold: float = 3.0,
) -> DataFrame:
    """Reconstruction-error score ‖x - x̂‖ against a broadcast pca_model —
    a pure codegen column expression (projection coefficients come from the
    tiny model join), so the fact table never shuffles and never enters
    Python. The component count is the model's ``pc_<c>_*`` width. Keys
    absent from the model tag 'I'; a fit pool of at most that many rows
    scores 0."""
    k = _width(model, "pc", values[0])
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
    return _scored(
        joined, model, keys, F.when(F.col("n").isNotNull(), score), threshold
    )


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

    def fit(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
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
    threshold: float = 3.0,
    activation: str = "linear",
) -> DataFrame:
    """Reconstruction-error score ‖xs - Wᵀ act(W xs)‖ (standardized space)
    against a broadcast autoencoder_fit model — like pca_score, a pure
    codegen column expression: the fact table never shuffles and never
    enters Python. The hidden width is the model's ``w_<c>_*`` width. Keys
    absent from the model tag 'I'. ``activation`` must match the fit's."""
    if activation not in ("linear", "tanh"):
        raise ValueError(f"unknown activation: {activation}")
    h = _width(model, "w", values[0])
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
    return _scored(
        joined, model, keys, F.when(F.col("n").isNotNull(), score), threshold
    ).drop(*[f"_xs_{v}" for v in values], *[f"_z_{c}" for c in range(h)])


# ---------------------------------------------------------------- Fitted models

#: The one driver-memory cap for a fitted model: every ``max_model_rows``
#: default. At or under it ``materialize`` collects the rows; above it the
#: model stays a distributed frame.
MAX_MODEL_ROWS = 100_000


@dataclass(frozen=True)
class Model:
    """A fitted per-key model, the state of the reference's one
    ModelBasedPredictor base (predictor/ModelBasedPredictor.java:32).
    ``frame`` is always there; ``rows`` holds the same rows on the driver,
    or is None when the model is over its cap and stays cluster data.
    Save ``frame`` inside the cache scope that fitted it (a checkpoint's
    blocks go when the scope exits); serve a reloaded one as
    ``materialize(load_model(...))``."""

    frame: DataFrame
    rows: list | None


def materialize(
    frame: DataFrame, max_model_rows: int | None = MAX_MODEL_ROWS
) -> Model:
    """Run a fitted model frame once and decide where it lives.

    The checkpoint is lazy and one bounded collect,
    ``limit(max_model_rows + 1)``, materializes it, so the fit runs exactly
    once and no later action (a size count, a broadcast, a save) re-runs
    it. The split is on what that collect returned:

    - at most ``max_model_rows`` rows: they are the model's rows;
    - one more (a keyed fit over millions of entities): at most
      ``max_model_rows + 1`` rows reached the driver, they are dropped,
      and ``rows`` is None.

    ``frame`` is the checkpoint either way; the scorers read ``rows`` when
    they are there. ``max_model_rows=None`` forces the distributed path
    (the collect takes one row)."""
    frame = caching.checkpoint(frame)
    cap = 0 if max_model_rows is None else int(max_model_rows)
    rows = frame.limit(cap + 1).collect()
    if max_model_rows is None or len(rows) > cap:
        return Model(frame, None)
    return Model(frame, rows)


#: inline-literal bound: a model with at most this many key groups is baked
#: into the plan as a when-chain of array literals, with no model join and
#: no BroadcastExchange job per consumer. Measured at sf0.01 on 4 cores, a
#: broadcast join instead takes kmeans_cluster_score from 3.52 s and 9 jobs
#: to 3.80 s and 15 jobs, and kmeans_mixed from 4.29 s to 5.28 s. Past this
#: size the when-chain would outgrow the JIT method limit (the _nearest
#: lesson), so larger models take the broadcast join.
_INLINE_MODEL_KEYS = 64


def attach(df: DataFrame, model: Model, keys: Sequence[str], fields) -> DataFrame:
    """``df`` plus ``_cents``: each row's per-key centroids as an
    array<struct<cluster_id, fields...>> sorted by cluster_id. ``fields``
    is [(struct field, model column, type), ...], the one layout that
    builds both the literal and the joined form. Rows whose key has no
    model group drop, as in an inner join, and the join keys lead.

    - rows on the driver and at most _INLINE_MODEL_KEYS key groups: a
      when-chain of array literals (a NULL _cents is the unmatched key);
    - rows on the driver: a broadcast join;
    - rows not on the driver (over the cap): an unhinted join, which
      shuffles or lets AQE re-choose a broadcast at runtime."""
    groups: dict = {}
    for r in model.rows or ():
        groups.setdefault(tuple(r[k] for k in keys), []).append(r)
    chain = None
    if 0 < len(groups) <= _INLINE_MODEL_KEYS:
        try:
            for kt, grp in groups.items():
                arr = F.array(
                    *[
                        F.struct(
                            F.lit(int(r["cluster_id"])).cast("int").alias("cluster_id"),
                            *[
                                F.lit(r[src]).cast(typ).alias(name)
                                for name, src, typ in fields
                            ],
                        )
                        for r in sorted(grp, key=lambda r: int(r["cluster_id"]))
                    ]
                )
                # null model keys never equi-join; keep that drop exact
                cond = reduce(
                    and_,
                    [
                        F.lit(False) if v is None else F.col(k) == F.lit(v)
                        for k, v in zip(keys, kt)
                    ],
                )
                chain = F.when(cond, arr) if chain is None else chain.when(cond, arr)
        except Exception:  # py4j raises AttributeError, pyspark TypeError
            chain = None  # unliteralizable key/centroid type: use the join
    if chain is not None:
        rest = [c for c in df.columns if c not in keys]
        return (
            df.withColumn("_cents", chain)
            .filter(F.col("_cents").isNotNull())
            .select(*keys, *rest, "_cents")
        )
    cent = F.struct(
        F.col("cluster_id"), *[F.col(src).alias(name) for name, src, _ in fields]
    )
    per_key = model.frame.groupBy(*keys).agg(
        F.sort_array(F.collect_list(cent)).alias("_cents")
    )
    if model.rows is not None:
        per_key = F.broadcast(per_key)
    return df.join(per_key, list(keys))


# ---------------------------------------------------------------- KMeans cluster
#
# Both k-means families share one assign path, one unrolled-distance loop,
# one large-cluster rule and one scoring core. A family is a spec: its
# _cents struct fields (for attach) and its per-centroid distance term.

def _sq(x):
    # explicit self-multiplication, not **2: Math.pow(x, 2.0) is not
    # IEEE-guaranteed to equal x*x, and the DuckDB oracles mirror every
    # square term-for-term as (x-c)*(x-c)
    return x * x


def _kmeans_spec(values: Sequence[str]):
    """Squared Euclidean distance to a centroid struct ``c``."""
    fields = [(v, f"centroid_{v}", "double") for v in values]
    return fields, lambda c: reduce(add, [_sq(F.col(v) - c[v]) for v in values])


def _nearest(
    df: DataFrame,
    model: Model,
    keys: Sequence[str],
    spec,
    max_k: int,
    name: str,
    pick,
) -> DataFrame:
    """Attach the per-key centroids and add column ``name`` =
    ``pick(d2 columns, min d2)``, one squared distance per centroid slot.

    The slots are unrolled with F.get (null past the key's actual centroid
    count, which least() and the when() chain skip): higher-order
    transform/array_min are interpreted AND re-evaluate the distance array
    once per consumer. Each distance is projected as a real column, since
    an inlined subtree would be copied into least() and every when()
    branch (~k+2 times), which at production d (tens of attrs) pushes the
    generated method past the JIT limit into interpreted eval. Values and
    IEEE op order are unchanged, so the model-baked oracles hold."""
    fields, term = spec
    joined = attach(df, model, keys, fields)
    d2s = [term(F.get(F.col("_cents"), i)) for i in range(max_k)]
    joined = joined.select("*", *[d2.alias(f"_d2_{i}") for i, d2 in enumerate(d2s)])
    cols = [F.col(f"_d2_{i}") for i in range(max_k)]
    m = F.least(*cols) if len(cols) > 1 else cols[0]
    return joined.withColumn(name, pick(cols, m)).drop(
        "_cents", *[f"_d2_{i}" for i in range(max_k)]
    )


def _argmin(cols, m):
    # first-match when() chain over ascending cluster_id: ties resolve to
    # the lowest cluster_id, matching numpy argmin's first-index rule
    best = None
    for i, d2 in enumerate(cols):
        cid = F.get(F.col("_cents"), i)["cluster_id"]
        best = F.when(d2 == m, cid) if best is None else best.when(d2 == m, cid)
    return best


def _sized_model(
    centroids_df: DataFrame,
    full: DataFrame,
    keys: Sequence[str],
    spec,
    max_k: int,
    max_model_rows: int | None,
) -> Model:
    """Materialize a fitted centroid frame and attach each centroid's
    ``size``: its full-data nearest-centroid count, a codegen pass over
    the unsampled table, so the small-cluster rule stays exact on the true
    distribution even when the fit was presampled. Under the cap the
    counts merge into the driver rows, and the model frame is a local
    relation of them that outlives the cache scope; over it they attach
    lazily by a join on (keys, cluster_id) and nothing model-sized
    touches the driver (the tfidf_vocab(max_vocab) bounding pattern)."""
    cents = materialize(centroids_df, max_model_rows)
    ids = [*keys, "cluster_id"]
    sizes = (
        _nearest(full, cents, keys, spec, max_k, "cluster_id", _argmin)
        .groupBy(*ids)
        .agg(F.count("*").alias("size"))
    )
    if cents.rows is None:
        return Model(
            cents.frame.join(sizes, ids, "left").withColumn(
                "size", F.coalesce(F.col("size"), F.lit(0).cast("long"))
            ),
            None,
        )
    size = {tuple(r[k] for k in ids): r["size"] for r in sizes.collect()}
    rows = [
        {**r.asDict(), "size": size.get(tuple(r[k] for k in ids), 0)}
        for r in cents.rows
    ]
    schema = StructType([*cents.frame.schema]).add("size", "long")
    return Model(cents.frame.sparkSession.createDataFrame(rows, schema), rows)


def _large_clusters(model: Model, keys: Sequence[str], fraction: float) -> Model:
    """The clusters holding at least ``fraction`` of their key's rows;
    small clusters are anomaly pockets (ClusterBasedPredictor.scala:88-103).
    Over driver rows the rule runs in Python with no Spark job (a long
    count promotes exactly into double); the frame form is lazy."""
    total = model.frame.groupBy(*keys).agg(F.sum("size").alias("_total"))
    frame = model.frame.join(F.broadcast(total), list(keys)).filter(
        F.col("size") >= F.col("_total") * fraction
    )
    if model.rows is None:
        return Model(frame, None)
    tot: dict = {}
    for r in model.rows:
        kt = tuple(r[k] for k in keys)
        tot[kt] = tot.get(kt, 0) + int(r["size"])
    return Model(
        frame,
        [
            r
            for r in model.rows
            if int(r["size"]) >= tot[tuple(r[k] for k in keys)] * fraction
        ],
    )


def _cluster_score(
    df: DataFrame,
    model: Model,
    keys: Sequence[str],
    spec,
    min_cluster_fraction: float,
    threshold: float,
) -> DataFrame:
    """sqrt of the distance to the nearest LARGE centroid. The fact table
    meets one array per key (no xK row explosion, no post-join shuffle).
    The unroll width is the model's largest cluster_id plus one, read off
    the driver rows, or off the frame with one job for an over-cap model."""
    if model.rows is not None:
        top = max((int(r["cluster_id"]) for r in model.rows), default=None)
    else:
        top = model.frame.agg(F.max("cluster_id")).first()[0]
    if top is None:
        raise ValueError(
            "empty kmeans model: the model frame has no centroid rows — "
            "fit the model over the standing corpus before scoring"
        )
    large = _large_clusters(model, keys, min_cluster_fraction)
    return _nearest(
        df, large, keys, spec, int(top) + 1, "score",
        lambda cols, m: F.sqrt(m),
    ).withColumn("label", tag_label(F.col("score"), threshold))


def kmeans_model(
    df: DataFrame,
    keys: Sequence[str],
    values: Sequence[str],
    n_clusters: int = 4,
    iterations: int = 20,
    seed: int = 42,
    presample: int | None = 8192,
    max_model_rows: int | None = MAX_MODEL_ROWS,
) -> Model:
    """Seeded per-key Lloyd k-means; the model frame is (keys...,
    cluster_id, centroid components, size).

    The Lloyd fit runs over a hash_presample-bounded pool (~presample rows
    per key), so neither the O(n*k*d) iteration cost nor the fit task's
    pandas frame grows with the key group; cluster ``size`` is a
    whole-data count (see :func:`_sized_model`). The model is bounded by
    ``max_model_rows`` (see :func:`materialize`)."""
    full = df
    if presample:
        df = hash_presample(df, keys, values, presample, seed)

    def fit(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
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
    centroids_df = df.groupBy(*keys).applyInPandas(
        fit, schema=f"{key_schema}, cluster_id int, {cent}"
    )
    return _sized_model(
        centroids_df, full, keys, _kmeans_spec(values), int(n_clusters),
        max_model_rows,
    )


def kmeans_score(
    df: DataFrame,
    model: Model,
    keys: Sequence[str],
    values: Sequence[str],
    min_cluster_fraction: float = 0.05,
    threshold: float = 3.0,
) -> DataFrame:
    """Distance to the nearest *large* centroid (small clusters are anomaly
    pockets, cf. ClusterBasedPredictor.scala:88-103)."""
    return _cluster_score(
        df, model, keys, _kmeans_spec(values), min_cluster_fraction, threshold
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


def _mixed_spec(
    num_values: Sequence[str], cat_values: Sequence[str], gamma: float
):
    """Mixed record distance to a centroid struct ``c``:
    Σ ((x-c)/range)·((x-c)/range) + gamma · Σ (x_c = c_c ? 0 : 1)."""
    fields = (
        [(v, f"centroid_{v}", "double") for v in num_values]
        + [(f"rng_{v}", f"range_{v}", "double") for v in num_values]
        + [(c, f"centroid_{c}", "string") for c in cat_values]
    )

    def term(c):
        d = reduce(add, [_sq((F.col(v) - c[v]) / c[f"rng_{v}"]) for v in num_values])
        if not cat_values:
            return d
        cat = reduce(
            add,
            [
                F.when(F.col(cv) == c[cv], F.lit(0.0)).otherwise(F.lit(1.0))
                for cv in cat_values
            ],
        )
        return d + F.lit(float(gamma)) * cat

    return fields, term


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
    max_model_rows: int | None = MAX_MODEL_ROWS,
) -> Model:
    """Mixed-type cluster model; the frame is (keys..., cluster_id,
    centroid_<v>, range_<v>, centroid_<c>, size). Same scale posture as
    kmeans_model: hash-presampled bounded fit, ``max_model_rows``-bounded
    materialization, full-data codegen size counts."""
    full = df
    all_vals = [*num_values, *cat_values]
    if presample:
        df = hash_presample(df, keys, all_vals, presample, seed)

    def fit(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
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
    return _sized_model(
        centroids_df, full, keys, _mixed_spec(num_values, cat_values, gamma),
        int(n_clusters), max_model_rows,
    )


def kmeans_mixed_score(
    df: DataFrame,
    model: Model,
    keys: Sequence[str],
    num_values: Sequence[str],
    cat_values: Sequence[str],
    gamma: float = 1.0,
    min_cluster_fraction: float = 0.05,
    threshold: float = 1.0,
) -> DataFrame:
    """Mixed-type ClusterBasedPredictor scoring: sqrt of the mixed distance
    to the nearest LARGE centroid, as a pure codegen expression."""
    return _cluster_score(
        df, model, keys, _mixed_spec(num_values, cat_values, gamma),
        min_cluster_fraction, threshold,
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
    max_model_rows: int | None = MAX_MODEL_ROWS,
) -> Model:
    """Per-key isolation forest; the model frame is (keys..., tree_id,
    tree_json, sample_n), bounded by ``max_model_rows`` (see
    :func:`materialize`).

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

    def fit(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
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
    return materialize(
        df.groupBy(*keys).applyInPandas(
            fit, schema=f"{key_schema}, tree_id int, tree_json string, sample_n long"
        ),
        max_model_rows,
    )


def isolation_forest_merge(
    df_old: DataFrame,
    df_new: DataFrame,
    keys: Sequence[str],
    values: Sequence[str],
    num_trees: int = 100,
    subsample: int = 256,
    seed: int = 42,
) -> Model:
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


def isolation_forest_score(
    df: DataFrame,
    model: Model,
    keys: Sequence[str],
    values: Sequence[str],
    threshold: float = 0.6,
) -> DataFrame:
    """score = 2^(-avg path length / c(sample_n)), on the path the model's
    materialization chose:

    - rows on the driver (|keys| * num_trees at or under the fit's
      ``max_model_rows``; the reference's design point is 100 trees and
      moderate key cardinality): the forest is broadcast and each
      partition scores its own rows via vectorized mask traversal
      (mapInPandas) — the fact table never shuffles, replacing both the
      reference's cartesian (IsolationForestPredictor.scala:108) and a
      cogroup exchange.
    - rows not on the driver (a keyed fit over millions of entities, where
      the forest itself is cluster data): facts and trees cogroup on the
      keys and each task traverses its own key's forest. The fact table
      pays one keyed shuffle, which at millions of keys is well-spread.

    Both paths sort trees by tree_id before the path-length sum, so scores
    are bit-identical across paths and partitionings. Keys absent from the
    model tag 'I'. A streaming fact frame can only take the broadcast path
    (stream-static cogroup is unsupported), so an over-cap model there
    raises at plan time."""
    out_schema = StructType([*df.schema]).add("score", "double").add("label", "string")

    if model.rows is None:
        if df.isStreaming:
            # the only over-cap strategy is a fact-model cogroup, which
            # stream-static frames cannot do — refuse loudly rather than
            # silently collecting a model the cap was set to keep off
            # the driver
            raise ValueError(
                "isolation forest model is over its fit's max_model_rows, "
                "so its rows are not on the driver; a streaming scorer "
                "serves a broadcast model — refit with a larger "
                "max_model_rows to collect a model this large"
            )

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
            x = res[list(values)].to_numpy(dtype=float)
            score, label = _forest_scores(
                trees, int(right["sample_n"].iloc[0]), x, threshold
            )
            res["score"] = score
            res["label"] = label
            return res

        return (
            df.groupBy(*keys)
            .cogroup(model.frame.groupBy(*keys))
            .applyInPandas(score_group, out_schema)
        )

    forests: dict = {}
    for r in model.rows:
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
    # python worker; _spread round-robins them (and skips streams)
    return _spread(df).mapInPandas(gen, out_schema)
