"""Model-baked DuckDB oracles for the seeded-fit detectors.

The fits (k-means, PCA, linear AE, isolation forest, IVF quantizer) are
deterministic but not SQL-expressible, so a static oracle string can't
verify them. These builders close the gap: for a given sf_dir they

1. rebuild the EXACT fit pool Spark's hash_presample selects (via the
   pure-Python xxhash64 replica in functions/sparkhash.py — bit-parity
   pinned by tests/test_sparkhash.py),
2. run the SAME numpy fit core the Spark applyInPandas task runs
   (operators/multivariate.py pca_fit_core / ae_fit_core / kmeans_fit_core /
   iforest_fit_core, operators/similarity.py ivf_fit_core), producing a
   bit-identical model, and
3. bake that model into a DuckDB SQL statement that mirrors the Spark
   scoring expression term-for-term (same operation order, self-multiplied
   squares, repr() round-trip-exact double literals).

The SCORING half of each detector — the deterministic part given a model,
cf. reference multi/IsolationForestPredictor.scala:108-154,
cluster/ClusterBasedPredictor.scala:88-103,
pc/PrincipalComponentPredictor.scala:76-92 — is therefore hash-verified
end-to-end; only the fit itself relies on the shared-code argument. Each
oracle is registered as a callable (sf_dir) -> SQL and resolved by
Query.oracle_sql() at the driver's sf0.01 (or the test fixture's sf).
"""
from __future__ import annotations

from functools import lru_cache

import numpy as np

from ..functions.sparkhash import pmod, spark_xxhash64
from ..operators.multivariate import (
    _c_factor,
    ae_fit_core,
    iforest_fit_core,
    kmeans_fit_core,
    pca_fit_core,
)

_DENOM = 1_000_000


def _read(sf_dir: str, table: str, cols: list[str]):
    import duckdb

    return duckdb.sql(
        f"SELECT {', '.join(cols)} FROM read_parquet('{sf_dir}/{table}.parquet')"
    ).df()


def _lit(x: float) -> str:
    """Round-trip-exact double literal. The trailing exponent forces DuckDB
    to type it DOUBLE — a bare decimal literal becomes DECIMAL, whose
    fixed-point addition overflows on long sums (the isolation-forest path
    chains) and whose arithmetic semantics differ from IEEE."""
    x = float(x)
    if not np.isfinite(x):
        raise ValueError(f"non-finite model literal: {x}")
    r = repr(x)
    return r if "e" in r or "E" in r else r + "e0"


def _presample(
    pdf, values: list[str], target: int, seed: int, types: list[str] | None = None
) -> np.ndarray:
    """Boolean keep-mask replicating hash_presample over one key's rows:
    pmod(xxhash64(values..., seed), 1e6) * n < target * 1e6. ``types``
    gives each column's Spark hash type (default: all double)."""
    n = len(pdf)
    if types is None:
        types = ["double"] * len(values)
    cols = [pdf[v].to_numpy() for v in values]
    mask = np.empty(n, dtype=bool)
    for i in range(n):
        h = spark_xxhash64(
            [(t, c[i]) for t, c in zip(types, cols)] + [("int", int(seed))]
        )
        mask[i] = pmod(h, _DENOM) * n < target * _DENOM
    return mask


# ------------------------------------------------------------------ k-means

_KM_KEY = "l_returnflag"
_KM_VALUES = ["l_quantity", "l_extendedprice"]


@lru_cache(maxsize=4)
def kmeans_oracle(sf_dir: str) -> str:
    """ClusterBasedPredictor scoring oracle: distance to the nearest LARGE
    centroid, with centroids/sizes from the shared seeded Lloyd fit
    (query params: k=4, iters=20, seed=42, presample=8192,
    min_cluster_fraction=0.05, threshold=10000)."""
    pdf = _read(sf_dir, "lineitem", [_KM_KEY, *_KM_VALUES])
    branches = []
    for key in sorted(pdf[_KM_KEY].unique()):
        sub = pdf[pdf[_KM_KEY] == key]
        kept = sub[_presample(sub, _KM_VALUES, 8192, 42)]
        centers = kmeans_fit_core(
            kept[_KM_VALUES].to_numpy(dtype=float), 4, 20, 42
        )
        # full-data sizes, mirroring _kmeans_spec: self-multiplied
        # squared distance, left-to-right sum, first-index argmin
        x = sub[_KM_VALUES].to_numpy(dtype=float)
        d2 = np.stack(
            [
                (x[:, 0] - c[0]) * (x[:, 0] - c[0])
                + (x[:, 1] - c[1]) * (x[:, 1] - c[1])
                for c in centers
            ],
            axis=1,
        )
        sizes = np.bincount(d2.argmin(axis=1), minlength=len(centers))
        total = int(sizes.sum())
        exprs = []
        for cid in range(len(centers)):
            if sizes[cid] >= total * 0.05:
                cq, cp = centers[cid]
                exprs.append(
                    f"({_KM_VALUES[0]} - ({_lit(cq)})) * ({_KM_VALUES[0]} - ({_lit(cq)}))"
                    f" + ({_KM_VALUES[1]} - ({_lit(cp)})) * ({_KM_VALUES[1]} - ({_lit(cp)}))"
                )
        d2_sql = exprs[0] if len(exprs) == 1 else "least(" + ", ".join(exprs) + ")"
        branches.append(f"WHEN '{key}' THEN {d2_sql}")
    case = f"CASE {_KM_KEY} " + " ".join(branches) + " END"
    return f"""
WITH s AS (
  SELECT l_orderkey, l_linenumber, {_KM_KEY}, sqrt({case}) AS sc
  FROM lineitem
)
SELECT l_orderkey, l_linenumber, {_KM_KEY},
       round(sc, 6) AS score,
       CASE WHEN sc > 10000.0 THEN 'O' ELSE 'N' END AS label
FROM s
"""


# ----------------------------------------------------- mixed-type k-means

_KMM_CAT = ["l_linestatus"]


@lru_cache(maxsize=4)
def kmeans_mixed_oracle(sf_dir: str) -> str:
    """Mixed-type ClusterBasedPredictor scoring oracle: range-normalized
    numeric + 0/1 categorical distance to the nearest large centroid, model
    from the shared k-prototypes fit (k=4, iters=20, gamma=1.0, seed=42,
    presample=8192, min_cluster_fraction=0.05, threshold=0.6)."""
    from ..operators.multivariate import kmeans_mixed_fit_core

    pdf = _read(sf_dir, "lineitem", [_KM_KEY, *_KM_VALUES, *_KMM_CAT])
    branches = []
    for key in sorted(pdf[_KM_KEY].unique()):
        sub = pdf[pdf[_KM_KEY] == key]
        kept = sub[
            _presample(
                sub,
                [*_KM_VALUES, *_KMM_CAT],
                8192,
                42,
                types=["double", "double", "string"],
            )
        ]
        cn, cc, rng_j = kmeans_mixed_fit_core(
            kept[_KM_VALUES].to_numpy(dtype=float),
            kept[_KMM_CAT].to_numpy(dtype=object),
            4, 20, 1.0, 42,
        )
        # full-data sizes, mirroring _mixed_spec term-for-term
        xn = sub[_KM_VALUES].to_numpy(dtype=float)
        xc = sub[_KMM_CAT].to_numpy(dtype=object)
        d2 = np.stack(
            [
                ((xn[:, 0] - cn[c, 0]) / rng_j[0]) * ((xn[:, 0] - cn[c, 0]) / rng_j[0])
                + ((xn[:, 1] - cn[c, 1]) / rng_j[1]) * ((xn[:, 1] - cn[c, 1]) / rng_j[1])
                + 1.0 * np.where(xc[:, 0] == cc[c, 0], 0.0, 1.0)
                for c in range(len(cn))
            ],
            axis=1,
        )
        sizes = np.bincount(d2.argmin(axis=1), minlength=len(cn))
        total = int(sizes.sum())
        exprs = []
        for cid in range(len(cn)):
            if sizes[cid] >= total * 0.05:
                terms = []
                for j, v in enumerate(_KM_VALUES):
                    d = f"(({v} - ({_lit(cn[cid, j])})) / {_lit(rng_j[j])})"
                    terms.append(f"{d} * {d}")
                cat = (
                    f"(CASE WHEN {_KMM_CAT[0]} = '{cc[cid, 0]}'"
                    " THEN 0.0 ELSE 1.0 END)"
                )
                exprs.append(" + ".join(terms) + f" + 1.0 * {cat}")
        d2_sql = (
            f"({exprs[0]})" if len(exprs) == 1
            else "least(" + ", ".join(f"({e})" for e in exprs) + ")"
        )
        branches.append(f"WHEN '{key}' THEN {d2_sql}")
    case = f"CASE {_KM_KEY} " + " ".join(branches) + " END"
    return f"""
WITH s AS (
  SELECT l_orderkey, l_linenumber, {_KM_KEY}, sqrt({case}) AS sc
  FROM lineitem
)
SELECT l_orderkey, l_linenumber, {_KM_KEY},
       round(sc, 6) AS score,
       CASE WHEN sc > 0.6 THEN 'O' ELSE 'N' END AS label
FROM s
"""


# ------------------------------------------------------------------ PCA

_PCA_VALUES = ["l_quantity", "l_extendedprice", "l_discount"]


@lru_cache(maxsize=4)
def pca_oracle(sf_dir: str) -> str:
    """PrincipalComponentPredictor scoring oracle: reconstruction error
    against the shared SVD fit (k=1, seed=42, presample=8192,
    threshold=3.0). Expression order mirrors pca_score exactly."""
    pdf = _read(sf_dir, "lineitem", [_KM_KEY, *_PCA_VALUES])
    rows = []
    for key in sorted(pdf[_KM_KEY].unique()):
        sub = pdf[pdf[_KM_KEY] == key]
        kept = sub[_presample(sub, _PCA_VALUES, 8192, 42)]
        x = kept[_PCA_VALUES].to_numpy(dtype=float)
        mu, basis = pca_fit_core(x, 1)
        rows.append(
            f"('{key}', {len(x)}, "
            + ", ".join(_lit(m) for m in mu)
            + ", "
            + ", ".join(_lit(b) for b in basis[0])
            + ")"
        )
    model = ",\n         ".join(rows)
    v0, v1, v2 = _PCA_VALUES
    return f"""
WITH m(l_returnflag, n, m0, m1, m2, p0, p1, p2) AS (
  VALUES {model}
), s1 AS (
  SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag, m.n,
         m.p0, m.p1, m.p2,
         (l.{v0} - m.m0) AS xc0, (l.{v1} - m.m1) AS xc1, (l.{v2} - m.m2) AS xc2
  FROM lineitem l JOIN m USING (l_returnflag)
), s2 AS (
  SELECT *, (xc0 * p0 + xc1 * p1 + xc2 * p2) AS z FROM s1
), s3 AS (
  SELECT *, (0.0 + z * p0) AS pr0, (0.0 + z * p1) AS pr1, (0.0 + z * p2) AS pr2
  FROM s2
), s4 AS (
  SELECT l_orderkey, l_linenumber, l_returnflag,
         CASE WHEN n > 1
              THEN sqrt((xc0 - pr0) * (xc0 - pr0)
                      + (xc1 - pr1) * (xc1 - pr1)
                      + (xc2 - pr2) * (xc2 - pr2))
              ELSE 0.0 END AS sc
  FROM s3
)
SELECT l_orderkey, l_linenumber, l_returnflag,
       round(sc, 6) AS score,
       CASE WHEN sc > 3.0 THEN 'O' ELSE 'N' END AS label
FROM s4
"""


# ------------------------------------------------------------------ autoencoder

@lru_cache(maxsize=4)
def autoencoder_oracle(sf_dir: str) -> str:
    """Linear tied-weight AE scoring oracle: standardized reconstruction
    error against the shared gradient-descent fit (hidden=2, epochs=200,
    lr=0.05, seed=42, presample=8192, threshold=3.0)."""
    pdf = _read(sf_dir, "lineitem", [_KM_KEY, *_PCA_VALUES])
    rows = []
    for key in sorted(pdf[_KM_KEY].unique()):
        sub = pdf[pdf[_KM_KEY] == key]
        kept = sub[_presample(sub, _PCA_VALUES, 8192, 42)]
        x = kept[_PCA_VALUES].to_numpy(dtype=float)
        mu, sd, w = ae_fit_core(x, 2, 200, 0.05, 42)
        rows.append(
            f"('{key}', {len(x)}, "
            + ", ".join(_lit(m) for m in mu)
            + ", "
            + ", ".join(_lit(s) for s in sd)
            + ", "
            + ", ".join(_lit(w[c, j]) for c in range(2) for j in range(3))
            + ")"
        )
    model = ",\n         ".join(rows)
    v0, v1, v2 = _PCA_VALUES
    xs = [
        f"CASE WHEN s{j} > 0 THEN (l.{v} - m{j}) / s{j} ELSE 0.0 END"
        for j, v in enumerate(_PCA_VALUES)
    ]
    return f"""
WITH m(l_returnflag, n, m0, m1, m2, s0, s1, s2,
       w00, w01, w02, w10, w11, w12) AS (
  VALUES {model}
), t1 AS (
  SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag, m.n,
         m.w00, m.w01, m.w02, m.w10, m.w11, m.w12,
         {xs[0]} AS x0, {xs[1]} AS x1, {xs[2]} AS x2
  FROM lineitem l JOIN m USING (l_returnflag)
), t2 AS (
  SELECT *, (x0 * w00 + x1 * w01 + x2 * w02) AS z0,
            (x0 * w10 + x1 * w11 + x2 * w12) AS z1
  FROM t1
), t3 AS (
  SELECT *, (0.0 + z0 * w00 + z1 * w10) AS r0,
            (0.0 + z0 * w01 + z1 * w11) AS r1,
            (0.0 + z0 * w02 + z1 * w12) AS r2
  FROM t2
), t4 AS (
  SELECT l_orderkey, l_linenumber, l_returnflag,
         CASE WHEN n > 2
              THEN sqrt((x0 - r0) * (x0 - r0)
                      + (x1 - r1) * (x1 - r1)
                      + (x2 - r2) * (x2 - r2))
              ELSE 0.0 END AS sc
  FROM t3
)
SELECT l_orderkey, l_linenumber, l_returnflag,
       round(sc, 6) AS score,
       CASE WHEN sc > 3.0 THEN 'O' ELSE 'N' END AS label
FROM t4
"""


@lru_cache(maxsize=4)
def autoencoder_tanh_oracle(sf_dir: str) -> str:
    """Nonlinear (tanh) AE scoring oracle — same baked-fit shape as the
    linear one, with z = round(tanh(a), 6): the operator's round-6 parity
    quantization makes the scoring pipeline IEEE-identical across engines
    even though tanh itself is not bit-specified (multivariate.py
    autoencoder_score), so the pyod-like nonlinear detector gets the same
    hash-level guarantee as the linear form."""
    pdf = _read(sf_dir, "lineitem", [_KM_KEY, *_PCA_VALUES])
    rows = []
    for key in sorted(pdf[_KM_KEY].unique()):
        sub = pdf[pdf[_KM_KEY] == key]
        kept = sub[_presample(sub, _PCA_VALUES, 8192, 42)]
        x = kept[_PCA_VALUES].to_numpy(dtype=float)
        mu, sd, w = ae_fit_core(x, 2, 200, 0.05, 42, "tanh")
        rows.append(
            f"('{key}', {len(x)}, "
            + ", ".join(_lit(m) for m in mu)
            + ", "
            + ", ".join(_lit(s) for s in sd)
            + ", "
            + ", ".join(_lit(w[c, j]) for c in range(2) for j in range(3))
            + ")"
        )
    model = ",\n         ".join(rows)
    xs = [
        f"CASE WHEN s{j} > 0 THEN (l.{v} - m{j}) / s{j} ELSE 0.0 END"
        for j, v in enumerate(_PCA_VALUES)
    ]
    return f"""
WITH m(l_returnflag, n, m0, m1, m2, s0, s1, s2,
       w00, w01, w02, w10, w11, w12) AS (
  VALUES {model}
), t1 AS (
  SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag, m.n,
         m.w00, m.w01, m.w02, m.w10, m.w11, m.w12,
         {xs[0]} AS x0, {xs[1]} AS x1, {xs[2]} AS x2
  FROM lineitem l JOIN m USING (l_returnflag)
), t2 AS (
  -- this DuckDB build has no tanh(); 1 - 2/(exp(2a)+1) is algebraically
  -- tanh(a) with absolute error ~1e-16 — three orders below the 1e-6
  -- parity quantum — and the +/-20 clamp (where tanh is 1.0 to 17 digits)
  -- keeps exp() finite
  SELECT *,
    round(1.0 - 2.0 / (exp(2.0 * least(greatest(x0 * w00 + x1 * w01 + x2 * w02, -20.0), 20.0)) + 1.0), 6) AS z0,
    round(1.0 - 2.0 / (exp(2.0 * least(greatest(x0 * w10 + x1 * w11 + x2 * w12, -20.0), 20.0)) + 1.0), 6) AS z1
  FROM t1
), t3 AS (
  SELECT *, (0.0 + z0 * w00 + z1 * w10) AS r0,
            (0.0 + z0 * w01 + z1 * w11) AS r1,
            (0.0 + z0 * w02 + z1 * w12) AS r2
  FROM t2
), t4 AS (
  SELECT l_orderkey, l_linenumber, l_returnflag,
         CASE WHEN n > 2
              THEN sqrt((x0 - r0) * (x0 - r0)
                      + (x1 - r1) * (x1 - r1)
                      + (x2 - r2) * (x2 - r2))
              ELSE 0.0 END AS sc
  FROM t3
)
SELECT l_orderkey, l_linenumber, l_returnflag,
       round(sc, 6) AS score,
       CASE WHEN sc > 3.0 THEN 'O' ELSE 'N' END AS label
FROM t4
"""


# ------------------------------------------------------------------ isolation forest

def _tree_sql(node: dict, depth: int, cols: list[str]) -> str:
    """Nested-CASE path length for one tree: identical traversal semantics
    to _path_len_vec (x[attr] < split goes left; leaf = depth + c(n))."""
    if "a" not in node:
        return _lit(depth + _c_factor(node.get("n", 1)))
    return (
        f"CASE WHEN {cols[node['a']]} < {_lit(node['s'])}"
        f" THEN {_tree_sql(node['l'], depth + 1, cols)}"
        f" ELSE {_tree_sql(node['r'], depth + 1, cols)} END"
    )


@lru_cache(maxsize=4)
def iforest_oracle(sf_dir: str) -> str:
    """IsolationForestPredictor scoring oracle: per-row path lengths through
    every baked tree, score = 2^(-avg/c(sample_n)) (num_trees=50,
    subsample=128, seed=42, presample=16*128, threshold=0.6). The per-tree
    sums are written left-to-right to match the sequential numpy
    accumulation in isolation_forest_score."""
    import math

    values = _PCA_VALUES
    max_depth = int(math.ceil(math.log2(128)))
    pdf = _read(sf_dir, "lineitem", [_KM_KEY, *values])
    branches = []
    for key in sorted(pdf[_KM_KEY].unique()):
        sub = pdf[pdf[_KM_KEY] == key]
        kept = sub[_presample(sub, values, 16 * 128, 42)]
        x = kept[values].to_numpy(dtype=float)
        trees = iforest_fit_core(x, 50, 128, 42, max_depth)
        n_s = trees[0][1]
        paths = " + ".join(f"({_tree_sql(t, 0, list(values))})" for t, _ in trees)
        sc = f"pow(2.0, (-(({paths}) / 50.0)) / {_lit(_c_factor(n_s))})"
        branches.append(f"WHEN '{key}' THEN {sc}")
    case = f"CASE {_KM_KEY} " + " ".join(branches) + " END"
    return f"""
WITH s AS (
  SELECT l_orderkey, l_linenumber, {_KM_KEY}, {case} AS sc
  FROM lineitem
)
SELECT l_orderkey, l_linenumber, {_KM_KEY},
       round(sc, 6) AS score,
       CASE WHEN sc > 0.6 THEN 'O' ELSE 'N' END AS label
FROM s
"""


@lru_cache(maxsize=4)
def iforest_merge_oracle(sf_dir: str) -> str:
    """IsolationForestMerge scoring oracle: the merged pool — base batch
    (l_orderkey % 3 != 0) unioned with an OVERLAPPING incremental batch
    (l_orderkey % 3 != 2, so the % 3 == 1 rows appear twice — the
    append-to-pool duplication the reference's merge produces) — is
    presampled and refit off-Spark with the same shared cores
    (num_trees=40, subsample=128, seed=7, presample=16*128), then every
    lineitem row's path-length score through the MERGED forest is baked as
    nested CASE; threshold 0.6. A union/bookkeeping bug on the Spark side
    changes the fitted pool and breaks the hash. Reference:
    multi/IsolationForestMerge.scala:35-203."""
    import math

    import pandas as pd

    values = _PCA_VALUES
    max_depth = int(math.ceil(math.log2(128)))
    pdf = _read(sf_dir, "lineitem", ["l_orderkey", _KM_KEY, *values])
    old = pdf[pdf["l_orderkey"] % 3 != 0]
    new = pdf[pdf["l_orderkey"] % 3 != 2]
    pool = pd.concat([old, new], ignore_index=True)
    branches = []
    for key in sorted(pool[_KM_KEY].unique()):
        sub = pool[pool[_KM_KEY] == key]
        kept = sub[_presample(sub, values, 16 * 128, 7)]
        x = kept[values].to_numpy(dtype=float)
        trees = iforest_fit_core(x, 40, 128, 7, max_depth)
        n_s = trees[0][1]
        paths = " + ".join(f"({_tree_sql(t, 0, list(values))})" for t, _ in trees)
        sc = f"pow(2.0, (-(({paths}) / 40.0)) / {_lit(_c_factor(n_s))})"
        branches.append(f"WHEN '{key}' THEN {sc}")
    # empty pool (empty/filtered fixture): every row is model-less -> 'I'
    case = (
        f"CASE {_KM_KEY} " + " ".join(branches) + " END"
        if branches
        else "CAST(NULL AS DOUBLE)"
    )
    return f"""
WITH s AS (
  SELECT l_orderkey, l_linenumber, {_KM_KEY}, {case} AS sc
  FROM lineitem
)
SELECT l_orderkey, l_linenumber, {_KM_KEY},
       round(sc, 6) AS score,
       CASE WHEN sc IS NULL THEN 'I' WHEN sc > 0.6 THEN 'O' ELSE 'N' END AS label
FROM s
"""


# ------------------------------------------------------------------ IVF ANN

_COS = (
    "list_sum(list_transform(list_zip({a}, {b}), p -> p[1] * p[2]))"
    " / (sqrt(list_sum(list_transform({a}, x -> x * x)))"
    " * sqrt(list_sum(list_transform({b}, x -> x * x))))"
)


@lru_cache(maxsize=4)
def ivf_oracle(sf_dir: str) -> str:
    """IVF top-k oracle: the quantizer model (inverted lists + per-query
    probe cells) is rebuilt with the shared fit/assign cores and baked as
    VALUES tables; the candidate join, exact cosine, and top-k ranking —
    the Spark job's SQL half — are verified in DuckDB
    (k=5, n_cells=16, nprobe=4, iterations=10, seed=42, presample=4096,
    queries = vec_id < 10)."""
    from ..operators.similarity import ivf_assign_core, ivf_fit_core

    pdf = _read(sf_dir, "embeddings", ["vec_id", "embedding"])
    n = len(pdf)
    keep = min(_DENOM, int(4096 * _DENOM / max(n, 1)))
    hos = np.array(
        [
            spark_xxhash64([("float_array", list(v)), ("int", 42)])
            for v in pdf["embedding"]
        ],
        dtype=np.int64,
    )
    kept_idx = np.where(np.array([pmod(int(h), _DENOM) for h in hos]) < keep)[0]
    order = kept_idx[np.argsort(hos[kept_idx], kind="stable")]
    x = np.stack(
        [np.asarray(pdf["embedding"].iloc[i], dtype=np.float64) for i in order]
    )
    centers = ivf_fit_core(x, 16, 10, 42)

    all_v = np.stack(
        [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
    )
    cells = ivf_assign_core(all_v, centers, 1)
    ids = pdf["vec_id"].to_numpy()
    qmask = ids < 10
    probes = ivf_assign_core(all_v[qmask], centers, 4)

    cell_rows = ", ".join(
        f"({int(i)}, {int(c)})" for i, c in zip(ids, cells)
    )
    probe_rows = ", ".join(
        f"({int(q)}, {int(c)})"
        for q, row in zip(ids[qmask], probes)
        for c in row
    )
    cos = _COS.format(a="q.vec", b="b.vec")
    return f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
), cells(vec_id, cell) AS (VALUES {cell_rows}),
probes(query_id, cell) AS (VALUES {probe_rows}),
cand AS (
  SELECT p.query_id, c.vec_id AS neighbor_id
  FROM probes p JOIN cells c USING (cell)
  WHERE c.vec_id <> p.query_id
), scored AS (
  SELECT cand.query_id, cand.neighbor_id, {cos} AS cosine
  FROM cand
  JOIN v q ON q.vec_id = cand.query_id
  JOIN v b ON b.vec_id = cand.neighbor_id
), ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS knn_rank
  FROM scored
)
SELECT query_id, neighbor_id, round(cosine, 6) AS cosine, knn_rank
FROM ranked WHERE knn_rank <= 5
"""


# ----------------------------------------------------------------- topic mix


@lru_cache(maxsize=8)
def _topic_model(sf_dir: str, n_topics: int):
    """Replay similarity.topic_assign's fit + argmax over the sf_dir
    embeddings with the shared ivf fit/assign cores (iterations=10,
    seed=42, presample=4096) — bit-identical to the Spark
    broadcast-mapInPandas path, which runs the same numpy on the same
    canonical pool. Returns (vec_ids, topics, centers); shared by the
    topic_mix / semantic_dedup / prototype_prune oracles."""
    from ..operators.similarity import ivf_assign_core, ivf_fit_core

    pdf = _read(sf_dir, "embeddings", ["vec_id", "embedding"])
    n = len(pdf)
    keep = min(_DENOM, int(4096 * _DENOM / max(n, 1)))
    hos = np.array(
        [
            spark_xxhash64([("float_array", list(v)), ("int", 42)])
            for v in pdf["embedding"]
        ],
        dtype=np.int64,
    )
    kept_idx = np.where(np.array([pmod(int(h), _DENOM) for h in hos]) < keep)[0]
    order = kept_idx[np.argsort(hos[kept_idx], kind="stable")]
    x = np.stack(
        [np.asarray(pdf["embedding"].iloc[i], dtype=np.float64) for i in order]
    )
    centers = ivf_fit_core(x, n_topics, 10, 42)

    all_v = np.stack(
        [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
    )
    topics = ivf_assign_core(all_v, centers, 1)
    return pdf["vec_id"].to_numpy(), topics, centers


def _topic_values(sf_dir: str, n_topics: int) -> str:
    """(vec_id, topic) VALUES rows from the replayed topic model."""
    ids, topics, _ = _topic_model(sf_dir, n_topics)
    return ", ".join(f"({int(i)}, {int(t)})" for i, t in zip(ids, topics))


def topic_mix_oracle(sf_dir: str) -> str:
    """Topic-composition oracle: the k-means topic model AND the per-vector
    argmax assignment are rebuilt with the shared ivf fit/assign cores and
    baked as a VALUES table; the accounting half — the label join, the
    group counts, the exact share division — is verified in DuckDB
    (n_topics=8, iterations=10, seed=42, presample=4096)."""
    topic_rows = _topic_values(sf_dir, 8)
    return f"""
WITH topics(vec_id, topic) AS (VALUES {topic_rows}),
g AS (
  SELECT t.topic, e.label, count(*) AS n_vecs
  FROM topics t JOIN embeddings e USING (vec_id)
  GROUP BY t.topic, e.label
)
SELECT topic, label, CAST(n_vecs AS BIGINT) AS n_vecs,
       round(n_vecs * 1.0 / (SELECT count(*) FROM embeddings), 6) AS share
FROM g
"""


# ------------------------------------------------------------ semantic dedup


def semantic_dedup_oracle(sf_dir: str) -> str:
    """SemDeDup oracle: the topic assignment is rebuilt with the shared
    fit/assign cores; n_topics resolves through the SAME auto_topics
    knob as the registered query (n_topics='auto' — the scale-safe
    form), so the baked model matches whatever the corpus size dictates.
    The within-cluster pair join, the sequential-fold cosine, the tau
    compare, and the min-id keep rule — the Spark job's SQL half — are
    verified in DuckDB (tau=0.4, seed=42)."""
    from ..operators.similarity import auto_topics

    n = len(_read(sf_dir, "embeddings", ["vec_id"]))
    topic_rows = _topic_values(sf_dir, auto_topics(n))
    cos = _COS.format(a="l.vec", b="r.vec")
    return f"""
WITH topics(vec_id, topic) AS (VALUES {topic_rows}),
v AS (
  SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
), b AS (
  SELECT t.vec_id, t.topic, v.vec FROM topics t JOIN v USING (vec_id)
), dropped AS (
  SELECT DISTINCT r.vec_id
  FROM b l JOIN b r ON l.topic = r.topic AND l.vec_id < r.vec_id
  WHERE {cos} >= 0.4
)
SELECT b.vec_id, b.topic, (d.vec_id IS NULL) AS keep
FROM b LEFT JOIN dropped d ON d.vec_id = b.vec_id
"""


# -------------------------------------------------------- topic share drift


def topic_drift_oracle(sf_dir: str) -> str:
    """Topic-share-drift oracle: the topic model is refit on snapshot A
    only (label % 2 = 0 — topic_share_drift freezes the yardstick on the
    reference snapshot, so the cached all-rows _topic_model does NOT
    apply); both snapshots' argmax assignments are baked as VALUES; the
    accounting — counts, full outer topic join, share divisions, abs
    diff — is verified in DuckDB (n_topics=8, seed=42, presample=4096)."""
    from ..operators.similarity import ivf_assign_core, ivf_fit_core

    pdf = _read(sf_dir, "embeddings", ["vec_id", "embedding", "label"])
    a_mask = (pdf["label"] % 2 == 0).to_numpy()
    apdf = pdf[a_mask]
    n = len(apdf)
    keep = min(_DENOM, int(4096 * _DENOM / max(n, 1)))
    hos = np.array(
        [
            spark_xxhash64([("float_array", list(v)), ("int", 42)])
            for v in apdf["embedding"]
        ],
        dtype=np.int64,
    )
    kept_idx = np.where(np.array([pmod(int(h), _DENOM) for h in hos]) < keep)[0]
    order = kept_idx[np.argsort(hos[kept_idx], kind="stable")]
    x = np.stack(
        [np.asarray(apdf["embedding"].iloc[i], dtype=np.float64) for i in order]
    )
    centers = ivf_fit_core(x, 8, 10, 42)

    all_v = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
    topics = ivf_assign_core(all_v, centers, 1)
    ids = pdf["vec_id"].to_numpy()
    rows = ", ".join(
        f"({int(i)}, {int(t)}, {bool(m)})" for i, t, m in zip(ids, topics, a_mask)
    )
    return f"""
WITH assigned(vec_id, topic, is_a) AS (VALUES {rows}),
ca AS (
  SELECT topic, count(*) AS n_a FROM assigned WHERE is_a GROUP BY topic
), cb AS (
  SELECT topic, count(*) AS n_b FROM assigned WHERE NOT is_a GROUP BY topic
), j AS (
  SELECT coalesce(ca.topic, cb.topic) AS topic,
         coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b
  FROM ca FULL OUTER JOIN cb ON ca.topic = cb.topic
), t AS (SELECT sum(n_a) AS ta, sum(n_b) AS tb FROM j)
SELECT topic, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       round(n_a * 1.0 / ta, 6) AS share_a,
       round(n_b * 1.0 / tb, 6) AS share_b,
       round(abs(n_b * 1.0 / tb - n_a * 1.0 / ta), 6) AS share_diff
FROM j, t
"""


# ----------------------------------------------------------- prototype prune


def prototype_prune_oracle(sf_dir: str) -> str:
    """Prototype-prune oracle: topic model + assignment rebuilt with the
    shared cores (cached _topic_model, same model as topic_mix); the
    centroid matrix is baked as DOUBLE[] literals so the
    cosine-to-own-centroid, the round-6 ascending percent_rank, and the
    keep gate — the Spark job's SQL half — are verified in DuckDB
    (n_topics=8, keep_frac=0.5, seed=42). Round-6 absorbs the
    numpy-vs-fold summation-order difference (cosine_dup_pairs
    precedent)."""
    _, _, centers = _topic_model(sf_dir, 8)
    topic_rows = _topic_values(sf_dir, 8)
    cent_rows = ", ".join(
        f"({t}, [{', '.join(_lit(x) for x in c)}]::DOUBLE[])"
        for t, c in enumerate(centers)
    )
    cos = _COS.format(a="v.vec", b="c.cent")
    return f"""
WITH topics(vec_id, topic) AS (VALUES {topic_rows}),
cents(topic, cent) AS (VALUES {cent_rows}),
v AS (
  SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
), scored AS (
  SELECT t.vec_id, t.topic, round({cos}, 6) AS proto_cos
  FROM topics t JOIN v USING (vec_id) JOIN cents c USING (topic)
), r AS (
  SELECT vec_id, topic, proto_cos,
         percent_rank() OVER (PARTITION BY topic ORDER BY proto_cos ASC) AS pr
  FROM scored
)
SELECT vec_id, topic, proto_cos, round(pr, 6) AS proto_pr, pr < 0.5 AS keep
FROM r
"""


# ------------------------------------------------------------- jpeg features


def media_features_jpg_oracle(sf_dir: str) -> str:
    """Real-JPEG feature oracle: the codec half (encode -> baseline JPEG ->
    huffman/IDCT decode) cannot run in SQL, so — like the fitted-model
    oracles above — it is replayed off-Spark with the SAME deterministic
    kernels (multimodal.jpg_encode/_jpg_pixels over the SHA-256 counter
    raster each doc derives from its text) and baked as VALUES; the
    accounting half (payload size, 16-bucket histogram shares, round-6)
    is verified in DuckDB. A codec bug on the Spark side breaks the hash
    because the driver's Spark run decodes for real."""
    from ..operators.multimodal import _fake_pixels, _jpg_pixels, jpg_encode

    pdf = _read(sf_dir, "documents", ["doc_id", "text"])
    pdf = pdf[pdf["doc_id"] % 4 == 0]  # the query's bounded subset
    rows = []
    for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
        raster = _fake_pixels(text.encode("utf-8"), 32, 32).astype(np.int64)
        payload = jpg_encode(raster)
        px = _jpg_pixels(payload, 32, 32)
        hist = np.bincount(
            ((px.astype(np.int64) * 16) // 256).ravel(), minlength=16
        )
        rows.append(
            f"({int(doc_id)}, {len(payload)}, "
            f"{hist[0] / 1024.0!r}, {hist[7] / 1024.0!r})"
        )
    if not rows:
        # empty subset (tiny/filtered fixture): an empty VALUES list is a
        # SQL syntax error — emit an empty result with the right shape
        return (
            "SELECT CAST(NULL AS BIGINT) AS media_id, "
            "CAST(NULL AS BIGINT) AS n_bytes, "
            "CAST(NULL AS DOUBLE) AS f0, CAST(NULL AS DOUBLE) AS f7 "
            "WHERE FALSE"
        )
    values = ", ".join(rows)
    return f"""
WITH m(media_id, n_bytes, f0_raw, f7_raw) AS (VALUES {values})
SELECT media_id, CAST(n_bytes AS BIGINT) AS n_bytes,
       round(f0_raw, 6) AS f0, round(f7_raw, 6) AS f7
FROM m
"""


def compression_ratio_oracle(sf_dir: str) -> str:
    """zlib-compressibility oracle: DEFLATE cannot run in SQL, so the
    compressed lengths are replayed off-Spark with the SAME zlib build
    and level the pandas_udf uses and baked as VALUES; the accounting
    half (UTF-8 byte length, ratio, keep band) is verified in DuckDB.
    A drift in the Spark-side kernel (level, encoding, NULL handling)
    breaks the hash because the driver's Spark run compresses for real."""
    import zlib

    pdf = _read(sf_dir, "documents", ["doc_id", "text"])
    rows = [
        f"({int(d)}, {len(zlib.compress(t.encode('utf-8'), 6))})"
        for d, t in zip(pdf["doc_id"], pdf["text"])
        if t is not None
    ]
    if not rows:
        return (
            "SELECT CAST(NULL AS BIGINT) AS doc_id, "
            "CAST(NULL AS INTEGER) AS n_bytes, "
            "CAST(NULL AS BIGINT) AS n_zlib, "
            "CAST(NULL AS DOUBLE) AS zlib_ratio, "
            "CAST(NULL AS BOOLEAN) AS keep WHERE FALSE"
        )
    values = ", ".join(rows)
    return f"""
WITH z(doc_id, n_zlib) AS (VALUES {values})
SELECT d.doc_id, CAST(strlen(d.text) AS INTEGER) AS n_bytes,
       CAST(z.n_zlib AS BIGINT) AS n_zlib,
       CASE WHEN strlen(d.text) > 0
            THEN round(z.n_zlib * 1.0 / strlen(d.text), 6) END AS zlib_ratio,
       coalesce(
         CASE WHEN strlen(d.text) > 0
              THEN round(z.n_zlib * 1.0 / strlen(d.text), 6) END
         BETWEEN 0.3 AND 0.95, false) AS keep
FROM documents d LEFT JOIN z ON z.doc_id = d.doc_id
"""


def _hex16_sql(expr: str) -> str:
    """BIGINT value of a 4-hex-char band expression (the _hex32_sql
    construction at width 4 — 16-bit, always non-negative)."""
    terms = [
        f"(strpos('0123456789abcdef', substr({expr}, {p + 1}, 1)) - 1)::BIGINT"
        f" * {16 ** (3 - p)}"
        for p in range(4)
    ]
    return "(" + " + ".join(terms) + ")"


def media_phash_dup_oracle(sf_dir: str, composite: bool = False) -> str:
    """Perceptual-hash media dedup oracle: the DCT pHash cannot run in
    SQL, so the 64-bit hashes are replayed off-Spark with the SAME
    deterministic kernel (multimodal.phash_hex over the sha-counter
    raster each doc derives from its text, planted % 7 == 0 copies
    included) and baked as VALUES; the banding, candidate join, and
    exact band-wise bit_count(xor) hamming verify run in DuckDB. A
    kernel or banding bug on the Spark side breaks the hash because the
    driver's Spark run decodes and hashes for real."""
    from ..operators.multimodal import _fake_pixels, phash_hex

    pdf = _read(sf_dir, "documents", ["doc_id", "text"])
    rows = []
    for d, t in zip(pdf["doc_id"], pdf["text"]):
        if t is None:
            continue
        px = _fake_pixels(t.encode("utf-8"), 32, 32)[None, ...]
        h = phash_hex(px)[0]
        rows.append(f"({int(d)}, '{h}')")
        if int(d) % 7 == 0:
            rows.append(f"({int(d) + 10_000_000}, '{h}')")
    return _hex_hash_pair_sql(rows, composite)


def _hex_hash_pair_sql(rows: list[str], composite: bool = False) -> str:
    """Shared SQL tail for every 64-bit-hex perceptual-hash dedup oracle
    (image pHash, audio fingerprint): banding, candidate join, band-wise
    bit_count(xor) hamming verify over baked (id, hash) VALUES."""
    if not rows:
        return (
            "SELECT CAST(NULL AS BIGINT) AS src, CAST(NULL AS BIGINT) AS dst,"
            " CAST(NULL AS BIGINT) AS hamming WHERE FALSE"
        )
    values = ", ".join(rows)
    ham = " + ".join(
        f"bit_count(xor({_hex16_sql(f'substr(a.phash, {1 + 4 * b}, 4)')},"
        f" {_hex16_sql(f'substr(b.phash, {1 + 4 * b}, 4)')}))"
        for b in range(4)
    )
    if composite:
        # 2-of-4 composite banding (the corpus-scale form): candidates
        # share a concatenated band PAIR; recall covers hamming <= 2
        import itertools

        pair_sigs = " , ".join(
            f"substr(phash, {1 + 4 * i}, 4) || substr(phash, {1 + 4 * j}, 4)"
            for i, j in itertools.combinations(range(4), 2)
        )
        explode = f"unnest([{pair_sigs}]) AS sig"
        band_src = f"SELECT media_id, phash, {explode} FROM m"
        max_h = 2
    else:
        band_src = (
            "SELECT media_id, phash, b.b AS band,"
            " substr(phash, 1 + 4 * b.b, 4) AS sig"
            " FROM m, (SELECT unnest([0, 1, 2, 3]) AS b) b"
        )
        max_h = 3
    join_keys = "a.sig = b.sig" if composite else "a.band = b.band AND a.sig = b.sig"
    return f"""
WITH m(media_id, phash) AS (VALUES {values}),
e AS (
  {band_src}
),
cand AS (
  SELECT DISTINCT a.media_id AS src, b.media_id AS dst
  FROM e a JOIN e b ON {join_keys}
                   AND a.media_id < b.media_id
)
SELECT c.src, c.dst, CAST({ham} AS BIGINT) AS hamming
FROM cand c JOIN m a ON a.media_id = c.src JOIN m b ON b.media_id = c.dst
WHERE {ham} <= {max_h}
"""


def audio_fp_dup_oracle(sf_dir: str, composite: bool = False) -> str:
    """Audio-fingerprint dedup oracle: the FFT fingerprint cannot run in
    SQL, so the 64-bit fingerprints are replayed off-Spark with the SAME
    deterministic kernel (multimodal.audio_fingerprint_hex over the fake
    1024-sample PCM each doc derives from its text, planted % 7 == 0
    copies included) and baked as VALUES; banding + exact hamming verify
    reuse the shared perceptual-hash SQL tail (``composite`` selects the
    2-of-4 corpus-scale banding, hamming <= 2)."""
    import numpy as np

    from ..operators.multimodal import _decode_batch, audio_fingerprint_hex

    pdf = _read(sf_dir, "documents", ["doc_id", "text"])
    rows = []
    for d, t in zip(pdf["doc_id"], pdf["text"]):
        if t is None:
            continue
        px = _decode_batch([t.encode("utf-8")], 1024, 1, "fake").reshape(1, 1024)
        h = audio_fingerprint_hex(list(px.astype(np.float64) - 128.0))[0]
        rows.append(f"({int(d)}, '{h}')")
        if int(d) % 7 == 0:
            rows.append(f"({int(d) + 10_000_000}, '{h}')")
    return _hex_hash_pair_sql(rows, composite)


def video_phash_dup_oracle(
    sf_dir: str, n_frames: int = 4, composite: bool = False
) -> str:
    """Video perceptual-dedup oracle: per-frame pHashes replayed off-Spark
    (the sample_frames fake-frame convention — payload + b":" + offset_ms)
    and baked as concatenated 16*n_frames-hex VALUES; (frame, band)
    bucket candidates and the per-frame hamming verify (ALL aligned
    frames within the radius) run in DuckDB. ``composite`` switches the
    candidates to within-frame band PAIRS (6 per frame) at radius 2 —
    the corpus-scale form mirroring the Spark operator's
    composite_bands=True."""
    from ..operators.multimodal import _fake_pixels, phash_hex

    pdf = _read(sf_dir, "documents", ["doc_id", "text"])
    rows = []
    for d, t in zip(pdf["doc_id"], pdf["text"]):
        if t is None:
            continue
        p = t.encode("utf-8")
        hs = []
        for k in range(n_frames):
            px = _fake_pixels(p + b":" + str(k * 1000).encode(), 32, 32)[None, ...]
            hs.append(phash_hex(px)[0])
        v = "".join(hs)
        rows.append(f"({int(d)}, '{v}')")
        if int(d) % 7 == 0:
            rows.append(f"({int(d) + 10_000_000}, '{v}')")
    if not rows:
        return (
            "SELECT CAST(NULL AS BIGINT) AS src, CAST(NULL AS BIGINT) AS dst,"
            " CAST(NULL AS BIGINT) AS max_frame_hamming WHERE FALSE"
        )
    values = ", ".join(rows)
    if composite:
        import itertools

        sig_exprs = ", ".join(
            f"substr(vhash, {1 + 16 * f + 4 * i}, 4)"
            f" || substr(vhash, {1 + 16 * f + 4 * j}, 4)"
            for f in range(n_frames)
            for i, j in itertools.combinations(range(4), 2)
        )
        n_sigs, max_h = 6 * n_frames, 2
    else:
        sig_exprs = ", ".join(
            f"substr(vhash, {1 + 16 * f + 4 * b}, 4)"
            for f in range(n_frames)
            for b in range(4)
        )
        n_sigs, max_h = 4 * n_frames, 3
    frame_hams = []
    for f in range(n_frames):
        terms = " + ".join(
            f"bit_count(xor("
            f"{_hex16_sql(f'substr(a.vhash, {1 + 16 * f + 4 * b}, 4)')},"
            f" {_hex16_sql(f'substr(b.vhash, {1 + 16 * f + 4 * b}, 4)')}))"
            for b in range(4)
        )
        frame_hams.append(f"({terms})")
    worst = "greatest(" + ", ".join(frame_hams) + ")"
    return f"""
WITH m(media_id, vhash) AS (VALUES {values}),
e AS (
  SELECT media_id, vhash, unnest([{sig_exprs}]) AS sig,
         unnest(range({n_sigs})) AS band
  FROM m
),
cand AS (
  SELECT DISTINCT a.media_id AS src, b.media_id AS dst
  FROM e a JOIN e b ON a.band = b.band AND a.sig = b.sig
                   AND a.media_id < b.media_id
)
SELECT c.src, c.dst, CAST({worst} AS BIGINT) AS max_frame_hamming
FROM cand c JOIN m a ON a.media_id = c.src JOIN m b ON b.media_id = c.dst
WHERE {worst} <= {max_h}
"""
