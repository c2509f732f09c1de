"""Similarity search over an embedding column (north-star surface):
brute-force cosine top-k as the exact/oracle baseline, LSH-bucketed ANN as
the scale path.

Scale posture: brute force is O(Q·N) with Q small query sets — fine when Q is
bounded; the ann_lsh_topk path buckets by random-hyperplane signature so each
query only scans its bucket and the buckets one bit away. Both keep the
cosine arithmetic in JVM array expressions.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import caching
from .banding import banded_pairs


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _as_double(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    """The seeded random hyperplanes every LSH caller signs against:
    ``n_planes`` normals of ``dim`` gaussians each, drawn in order from one
    ``random.Random(seed)`` stream (so the first P planes of a longer draw
    are the P-plane draw). The model-baked oracles replay the same stream."""
    import random

    rng = random.Random(seed)
    return [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(n_planes)]


def add_lsh_bucket(
    df: DataFrame, vec_col: str, planes: list[list[float]]
) -> DataFrame:
    """Random-hyperplane signature as a numpy mapInPandas matmul: one
    (batch x dim) @ (dim x planes) product per Arrow batch instead of
    n_planes interpreted zip_with/aggregate folds per row (BASELINE.md
    measured the fold path ~6x slower). Output = input + ``_sig``, one
    '0'/'1' char per plane; probe sets derive from it as codegen
    expressions (one_bit_probes), so the kernel runs once per row."""
    from pyspark.sql.types import StringType, StructType

    p_t = [list(col) for col in zip(*planes)]  # (dim, n_planes)
    schema = StructType(list(df.schema.fields)).add("_sig", StringType())

    def gen(batches):
        import numpy as np  # re-import for the serialized closure

        p = np.asarray(p_t, dtype=np.float64)
        for pdf in batches:
            out = pdf.copy()
            if not len(pdf):
                out["_sig"] = []
            else:
                v = np.stack([np.asarray(x, dtype=np.float64) for x in pdf[vec_col]])
                out["_sig"] = ["".join(r) for r in np.where(v @ p >= 0, "1", "0")]
            yield out

    return df.mapInPandas(gen, schema)


def one_bit_probes(sig: Column, n_bits: int) -> list[Column]:
    """The multi-probe set of an ``n_bits``-char '0'/'1' signature: the
    signature itself plus its ``n_bits`` one-bit flips, as codegen string
    expressions. Joined against plain signatures it pairs every row whose
    signatures differ by at most one bit, each such pair through exactly
    one probe (the members are pairwise distinct)."""
    flips = [
        F.concat(
            F.substring(sig, 1, i),
            F.when(F.substring(sig, i + 1, 1) == "1", "0").otherwise("1"),
            F.substring(sig, i + 2, n_bits - i - 1),
        )
        for i in range(n_bits)
    ]
    return [sig, *flips]


def hyperplane_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    planes: list[list[float]],
    carry: list[str],
) -> DataFrame:
    """Candidate pairs (src < dst, ``carry`` columns as ``<c>_a``/``<c>_b``)
    whose hyperplane signatures of ``vec_col`` differ by at most one bit:
    the signature kernel (add_lsh_bucket) runs once, and the probe join of
    banding.banded_pairs over one_bit_probes matches each pair through one
    probe, so no dedup shuffle runs."""
    sketch = add_lsh_bucket(df, vec_col, planes).select(id_col, *carry, "_sig")
    return banded_pairs(
        sketch,
        id_col,
        [F.col("_sig")],
        carry=carry,
        probes=one_bit_probes(F.col("_sig"), len(planes)),
    )


def with_norm(df: DataFrame, vec_col: str) -> DataFrame:
    v = _as_double(F.col(vec_col))
    return df.withColumn("_vec", v).withColumn("_norm", F.sqrt(_dot(F.col("_vec"), F.col("_vec"))))


def cosine_topk(
    df: DataFrame,
    query_df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector: (query_id,
    neighbor_id, cosine, knn_rank). Excludes self-matches; ties broken by
    neighbor id."""
    base = with_norm(df, vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col("_vec").alias("_vb"), F.col("_norm").alias("_nb")
    )
    q = with_norm(query_df, vec_col).select(
        F.col(id_col).alias("query_id"), F.col("_vec").alias("_vq"), F.col("_norm").alias("_nq")
    )
    joined = F.broadcast(q).crossJoin(base).filter(F.col("query_id") != F.col("neighbor_id"))
    cos = _dot(F.col("_vq"), F.col("_vb")) / (F.col("_nq") * F.col("_nb"))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        joined.withColumn("cosine", cos)
        .withColumn("knn_rank", F.row_number().over(w))
        .filter(F.col("knn_rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "knn_rank")
    )


def cosine_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.9,
    tiles: int | None = None,
) -> DataFrame:
    """All pairs with cosine >= threshold (embedding near-dup).

    Runs on knn.blocked_vec_pairs — tiled cogroup blocks, numpy per block, no
    driver collect, bounded task memory — emitting only the (sparse)
    above-threshold upper-triangle pairs."""
    import numpy as np
    import pandas as pd

    from .knn import blocked_vec_pairs

    def kernel(src_ids, src_mat, ref_ids, ref_mat):
        norms = np.sqrt((ref_mat**2).sum(axis=1))
        frames = []
        for i in range(len(src_mat)):
            # mirror the SQL formula term-for-term: dot / (norm_a * norm_b)
            dots = (src_mat[i] * ref_mat).sum(axis=1)
            na = np.sqrt((src_mat[i] ** 2).sum())
            cos = dots / (na * norms)
            mask = (ref_ids > src_ids[i]) & (cos >= threshold)
            if mask.any():
                frames.append(
                    pd.DataFrame(
                        {"src": src_ids[i], "dst": ref_ids[mask], "cosine": cos[mask]}
                    )
                )
        if not frames:
            return pd.DataFrame({"src": [], "dst": [], "cosine": []})
        return pd.concat(frames, ignore_index=True)

    return blocked_vec_pairs(
        df, id_col, vec_col, kernel, "src long, dst long, cosine double",
        tiles=tiles,
    )


def cosine_dup_pairs_lsh(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.9,
    n_planes: int | str = "auto",
    seed: int = 42,
    target_bucket: int = 8,
) -> DataFrame:
    """Bucketed near-dup pairs — the SCALE path for ``cosine_dup_pairs``:
    random-hyperplane signatures bucket the vectors, candidate pairs are
    rows whose signatures differ by at most ONE bit (hyperplane_pairs: the
    signature kernel runs once, and no dedup shuffle runs), and the exact
    cosine runs only inside candidates. Work is sum(bucket_i^2) ~ N^2/2^planes instead of
    N^2/2, and ``n_planes='auto'`` (knn.auto_planes) grows the plane count
    with N so the expected bucket size stays constant — the same scale
    knob that keeps lsh_pair_distances/semantic_dedup linear at 10x/100x.

    The corpus mean is subtracted before hashing (cosine is still
    computed on the RAW vectors): near-dup corpora live in a narrow
    cone — e.g. every 16-bucket byte histogram is near uniform — and raw
    hyperplane signs are then dominated by the shared mean component, so
    every row lands in ONE bucket and the "sub-quadratic" path degrades
    straight back to all-pairs. Centering spreads the cone across the
    signature space. The mean comes from one partial-aggregated pass over
    (position, component) rows (a dim-row collect — a bounded model
    artifact), exact in any summation order, so every signature bit is
    deterministic under repartitioning. A NULL or zero vector pairs with
    nothing; vectors of different lengths raise ``ValueError``.

    Output pairs are a SUBSET of cosine_dup_pairs' (true pairs hashed
    >1 bit apart are missed — recall measured in tests/test_lsh_recall.py);
    reference analogue: the banded pair-candidate builder replacing
    sifarish SameTypeSimilarity's all-pairs matcher (SURVEY.md §2.3)."""
    from .knn import auto_planes

    # One persisted pass of the (possibly expensive — decode, quantize)
    # upstream pipeline: the centering-mean pass and the signature sketch
    # read this frame — without the cache the upstream would execute once
    # per consumer (the build_corpus_mixed trap).
    base = caching.persist(
        with_norm(df, vec_col)
        .select(F.col(id_col).alias("_id"), "_vec", "_norm")
    )
    # centering-mean sums over 1e-6-quantized components as EXACT integers:
    # floor(v*1e6 + 0.5) is one deterministic IEEE op per row (replayable
    # bit-for-bit in numpy) and the long sum is order-independent, so the
    # mean cannot move by a partial-agg ulp under ANY partitioning — a
    # float64 sum rounded to 6 decimals could still flip at a rounding
    # boundary (~1e-7/component odds, but nonzero). Integer-valued inputs
    # (the int8 media codes) produce the identical mean as a raw exact
    # sum: the scaled quotient S*1e6/(n*1e6) is the same correctly-rounded
    # double as S/n. NaN components quantize to 0 (nanvl — better than
    # poisoning the whole mean); NULLs are skipped by sum as before.
    # One long aggregate, one row per component position: a NULL (or
    # empty) vector explodes to the one position NULL, so the row count
    # is the NULL-position count plus the position-0 count, and equal
    # per-position counts prove every vector has the same length.
    per_pos = {
        r["_pos"]: r
        for r in base.select(F.posexplode_outer("_vec").alias("_pos", "_v"))
        .groupBy("_pos")
        .agg(
            F.count(F.lit(1)).alias("_c"),
            F.sum(
                F.floor(F.nanvl(F.col("_v"), F.lit(0.0)) * 1e6 + F.lit(0.5))
            ).alias("_s"),
        )
        .collect()
    }
    dim = len(per_pos) - (None in per_pos)
    if dim == 0:  # no rows, or no vector to hash: no pairs, with the right shape
        base.unpersist()
        id_t = df.schema[id_col].dataType.simpleString()
        return df.sparkSession.createDataFrame(
            [], f"src {id_t}, dst {id_t}, cosine double"
        )
    counts = {per_pos[i]["_c"] for i in range(dim)}
    if len(counts) > 1:
        raise ValueError(
            f"cosine_dup_pairs_lsh: {vec_col} vectors differ in length (the "
            f"longest has {dim} components); every non-NULL vector must have "
            "the same length"
        )
    n_rows = per_pos[0]["_c"] + (per_pos[None]["_c"] if None in per_pos else 0)
    if n_planes == "auto":
        n_planes = auto_planes(n_rows, target_bucket)
    planes = hyperplanes(dim, n_planes, seed)
    # determinism contract: the quantized-integer sums above are exact and
    # order-independent, the scaled division is one correctly-rounded
    # float64 op on exact integers, and the final round-6 is the registry
    # convention applied to the model — so the centering vector (and with
    # it every signature bit) is a pure function of the DATA, never of
    # partitioning or summation order.
    mean = F.array(
        *[
            F.lit(round(float(per_pos[i]["_s"]) / (n_rows * 1e6), 6))
            for i in range(dim)
        ]
    )
    # zero vectors have no direction — they cannot clear a positive
    # threshold, and their norm would divide the cosine by zero
    hashed = base.filter(F.col("_norm") > 0).withColumn(
        "_cvec", F.zip_with("_vec", mean, lambda a, b: a - b)
    )
    cand = hyperplane_pairs(hashed, "_id", "_cvec", planes, ["_vec", "_norm"])
    cos = _dot(F.col("_vec_a"), F.col("_vec_b")) / (F.col("_norm_a") * F.col("_norm_b"))
    out = (
        cand.withColumn("cosine", cos)
        .filter(F.col("cosine") >= F.lit(float(threshold)))
        .select("src", "dst", "cosine")
    )
    return out


def ann_lsh_topk(
    df: DataFrame,
    query_df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_planes: int = 6,
    seed: int = 42,
    n_tables: int = 1,
) -> DataFrame:
    """Approximate top-k: random-hyperplane signature buckets; each query is
    compared only against vectors in its probed buckets. Recall < 1 by
    design. Each query multi-probes its bucket plus all one-bit-flip
    neighbors — measured recall@5 on the sf0.001 embeddings fixture
    (near-uniform vectors, the adversarial case for hyperplane LSH):
    single-probe 0.03 at 6 planes; Hamming-1 multi-probe 0.27 at 6
    planes, 0.59 at 4, 0.82 at 2 — (n_planes+1)x the candidate volume,
    fewer planes trade bucket size for recall (probed continuously in
    tests/test_lsh_recall.py).

    ``n_tables=L`` hashes into L INDEPENDENT plane sets (the standard LSH
    recall amplifier: a true neighbor is missed only if every table
    misses it, so recall ≈ 1-(1-r)^L for L× candidate volume — measured
    0.58 → 0.82 at L=2 and 0.92 at L=3 with P=4 on the same adversarial
    fixture, probed in tests/test_lsh_recall.py). All L
    signatures come out of ONE mapInPandas matmul over the concatenated
    plane matrix; each table's bucket is its signature slice prefixed
    with the table id, so the bucket join stays a single equi-join.
    ``n_tables=1`` is the same code path with one ``"0:"``-prefixed
    bucket (no dedup stage: each probe of one table is distinct). Probe
    flips are codegen string expressions (one_bit_probes)."""
    dim = len(df.select(vec_col).first()[0])
    L, P = int(n_tables), int(n_planes)
    # one continuous stream: table t owns planes [t*P, (t+1)*P) — table 0
    # is exactly the n_tables=1 plane set
    planes = hyperplanes(dim, L * P, seed)
    tables = [F.substring("_sig", t * P + 1, P) for t in range(L)]

    def buckets(sigs_of):
        # each table's bucket keys carry its "t:" prefix so one equi-join
        # serves every table
        keys = [
            F.concat(F.lit(f"{t}:"), key)
            for t, sig in enumerate(tables)
            for key in sigs_of(sig)
        ]
        return F.explode(F.array(*keys)).alias("_bucket")

    base = add_lsh_bucket(with_norm(df, vec_col), vec_col, planes).select(
        F.col(id_col).alias("neighbor_id"),
        F.col("_vec").alias("_vb"),
        F.col("_norm").alias("_nb"),
        buckets(lambda sig: [sig]),
    )
    q = add_lsh_bucket(with_norm(query_df, vec_col), vec_col, planes).select(
        F.col(id_col).alias("query_id"),
        F.col("_vec").alias("_vq"),
        F.col("_norm").alias("_nq"),
        buckets(lambda sig: one_bit_probes(sig, P)),
    )
    joined = q.join(base, "_bucket").filter(F.col("query_id") != F.col("neighbor_id"))
    cos = _dot(F.col("_vq"), F.col("_vb")) / (F.col("_nq") * F.col("_nb"))
    scored = joined.withColumn("cosine", cos).select("query_id", "neighbor_id", "cosine")
    if L > 1:
        # a pair found by several tables must rank once — candidate rows
        # are value-identical, so distinct is a deterministic dedup
        scored = scored.distinct()
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("knn_rank", F.row_number().over(w))
        .filter(F.col("knn_rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "knn_rank")
    )


def ivf_fit_core(x: "np.ndarray", n_cells: int, iterations: int, seed: int):
    """Spherical k-means centers over rows already in canonical (hash)
    order — shared by the Spark fit task and the model-baked oracle builder
    so both produce bit-identical centroids."""
    import numpy as np

    norms = np.linalg.norm(x, axis=1)
    x = x[norms > 0] / norms[norms > 0][:, None]
    rng = np.random.RandomState(seed)
    kk = min(n_cells, len(x))
    centers = x[rng.choice(len(x), size=kk, replace=False)]
    for _ in range(iterations):
        # spherical k-means: assign by max dot, re-center + renormalize
        assign = (x @ centers.T).argmax(axis=1)
        for c in range(kk):
            pts = x[assign == c]
            if len(pts):
                m = pts.mean(axis=0)
                nm = np.linalg.norm(m)
                if nm > 0:
                    centers[c] = m / nm
    return centers


def ivf_assign_core(v: "np.ndarray", cents: "np.ndarray", top: int):
    """Cell assignment by max cosine against the centroid matrix: argmax
    (top=1) or the ``top`` best cells ordered best-first. Shared by the
    Spark assigner and the oracle builder."""
    import numpy as np

    nm = np.linalg.norm(v, axis=1)
    nm[nm == 0] = 1.0
    sims = (v / nm[:, None]) @ cents.T
    if top == 1:
        return sims.argmax(axis=1).astype("int32")
    t = min(top, sims.shape[1])
    idx = np.argpartition(-sims, t - 1, axis=1)[:, :t]
    row = np.take_along_axis(sims, idx, axis=1).argsort(axis=1)[:, ::-1]
    return np.take_along_axis(idx, row, axis=1).astype("int32")


def fit_spherical_centroids(
    df: DataFrame,
    vec_col: str,
    n_cells: int,
    iterations: int,
    seed: int,
    presample: int,
) -> "np.ndarray":
    """Hash-presampled spherical k-means centroid matrix, collected to the
    driver (n_cells x dim — the only collect of the IVF/topic family).

    The fit pool runs in ONE bounded applyInPandas task over <= presample
    vectors; shared by ivf_topk (the coarse quantizer) and topic_assign
    (the corpus topic model)."""
    import numpy as np

    n = df.count()
    frac_denom = 1_000_000
    keep = min(frac_denom, int(presample * frac_denom / max(n, 1)))
    # _ho: full 64-bit hash of the RAW float array (not a string cast — the
    # array hash is replicable off-Spark via functions.sparkhash for the
    # model-baked oracle, and Java float-to-string formatting never enters
    # the picture). Ordering by the full hash rather than the mod-1e6
    # residue makes the canonical fit order collision-free in practice, so
    # the fit is partition-invariant even when two pool rows share a
    # residue.
    pool = (
        df.select(F.col(vec_col).alias("_v"))
        .withColumn("_ho", F.xxhash64(F.col("_v"), F.lit(seed)))
        .withColumn("_hv", F.pmod(F.col("_ho"), F.lit(frac_denom)))
        .filter(F.col("_hv") < keep)
    )

    def fit(key, pdf):
        import numpy as np
        import pandas as pd

        x = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["_v"]])
        x = x[np.argsort(pdf["_ho"].to_numpy(), kind="stable")]  # canonical order
        centers = ivf_fit_core(x, n_cells, iterations, seed)
        return pd.DataFrame(
            {"cell_id": range(len(centers)), "centroid": [c.tolist() for c in centers]}
        )

    cent_rows = (
        pool.withColumn("_g", F.lit(1))
        .groupBy("_g")
        .applyInPandas(fit, schema="cell_id int, centroid array<double>")
        .collect()
    )
    return np.stack([np.asarray(r["centroid"]) for r in cent_rows])


def ivf_topk(
    df: DataFrame,
    query_df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    iterations: int = 10,
    seed: int = 42,
    presample: int = 4096,
) -> DataFrame:
    """IVF approximate top-k cosine: a coarse k-means quantizer over
    normalized vectors partitions the base into ``n_cells`` inverted lists;
    each query scans only its ``nprobe`` nearest cells, exact cosine inside.

    Scale posture: the quantizer fits on a hash-presampled pool in ONE
    bounded task (spherical Lloyd on <= presample vectors); the centroid
    matrix (n_cells x dim floats) broadcasts into a numpy mapInPandas argmax
    for base/query assignment — the vector table itself never collects and
    never shuffles except the final (cell-bucketed) candidate join. Raising
    nprobe trades candidate volume for recall; nprobe = n_cells is exact
    (modulo empty-cell fit degeneracy).

    Measured recall@5 on the sf0.001 embeddings (near-uniform vectors, the
    hard case): 0.61 at 16 cells/nprobe 4 (~25% of base scanned per query),
    0.83 at nprobe 8, 0.78 at 8 cells/nprobe 4 — consistently better
    recall-per-candidate than hyperplane LSH (ann_lsh_topk) on this data;
    probed in tests/test_lsh_recall.py.
    """
    sess = df.sparkSession
    cents = fit_spherical_centroids(df, vec_col, n_cells, iterations, seed, presample)
    bc = sess.sparkContext.broadcast(cents)

    def assigner(top: int, out_name: str):
        from pyspark.sql.types import ArrayType, IntegerType, StructType

        def make(schema_src):
            typ = IntegerType() if top == 1 else ArrayType(IntegerType())
            schema = StructType(list(schema_src.fields)).add(out_name, typ)

            def gen(batches):
                import numpy as np

                c = bc.value
                for pdf in batches:
                    out = pdf.copy()
                    if not len(pdf):
                        out[out_name] = []
                        yield out
                        continue
                    v = np.stack([np.asarray(x, dtype=np.float64) for x in pdf[vec_col]])
                    assigned = ivf_assign_core(v, c, top)
                    out[out_name] = assigned if top == 1 else list(assigned)
                    yield out

            return gen, schema

        return make

    base_gen, base_schema = assigner(1, "_cell")(with_norm(df, vec_col).schema)
    base = (
        with_norm(df, vec_col)
        .mapInPandas(base_gen, base_schema)
        .select(
            F.col(id_col).alias("neighbor_id"),
            F.col("_vec").alias("_vb"),
            F.col("_norm").alias("_nb"),
            "_cell",
        )
    )
    q_gen, q_schema = assigner(int(nprobe), "_probes")(with_norm(query_df, vec_col).schema)
    q = (
        with_norm(query_df, vec_col)
        .mapInPandas(q_gen, q_schema)
        .withColumn("_cell", F.explode("_probes"))
        .select(
            F.col(id_col).alias("query_id"),
            F.col("_vec").alias("_vq"),
            F.col("_norm").alias("_nq"),
            "_cell",
        )
    )
    joined = q.join(base, "_cell").filter(F.col("query_id") != F.col("neighbor_id"))
    cos = _dot(F.col("_vq"), F.col("_vb")) / (F.col("_nq") * F.col("_nb"))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        joined.withColumn("cosine", cos)
        .withColumn("knn_rank", F.row_number().over(w))
        .filter(F.col("knn_rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "knn_rank")
    )


def centroids_to_df(spark, cents: "np.ndarray") -> DataFrame:
    """Centroid matrix -> model DataFrame (cell_id, centroid) for
    sources.models.save_model — the persistence form of the
    fit_spherical_centroids artifact, so a batch fit serves tomorrow's
    streaming jobs (stream_topic_assign) without refitting."""
    return spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
        "cell_id int, centroid array<double>",
    )


def centroids_from_df(df: DataFrame) -> "np.ndarray":
    """Inverse of centroids_to_df: rebuild the (n_cells x dim) matrix in
    cell_id order. The only collect is the model itself (n_cells rows)."""
    import numpy as np

    rows = df.select("cell_id", "centroid").collect()
    return np.stack(
        [np.asarray(r["centroid"]) for r in sorted(rows, key=lambda r: r["cell_id"])]
    )


def topic_assign(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_topics: int = 8,
    iterations: int = 10,
    seed: int = 42,
    presample: int = 4096,
    centroids: "np.ndarray | None" = None,
) -> DataFrame:
    """Per-vector topic id from a seeded spherical k-means over the
    embedding column — the unsupervised clustering step of a data-mixing
    plan ("what is this corpus made of"), sharing its fit/assign cores with
    the IVF quantizer so the model is deterministic and oracle-replicable.

    ``centroids`` serves a pre-fitted model (fit_spherical_centroids
    output): the fit is skipped entirely, which also makes the operator
    STREAM-safe — the assignment is a stateless broadcast mapInPandas, so
    streaming/jobs.stream_topic_assign applies the same code per
    micro-batch (the fit path calls count(), batch-only).

    Scale posture: the fit is one bounded presampled task; the
    (n_topics x dim) centroid matrix broadcasts into a numpy mapInPandas
    argmax — the embedding table never shuffles and never collects.
    Output: (id_col, topic)."""
    sess = df.sparkSession
    cents = (
        centroids
        if centroids is not None
        else fit_spherical_centroids(df, vec_col, n_topics, iterations, seed, presample)
    )
    bc = sess.sparkContext.broadcast(cents)

    def gen(batches):
        import numpy as np

        c = bc.value
        for pdf in batches:
            out = pdf[[id_col]].copy()
            if not len(pdf):
                out["topic"] = np.array([], dtype="int32")
                yield out
                continue
            v = np.stack([np.asarray(x, dtype=np.float64) for x in pdf[vec_col]])
            out["topic"] = ivf_assign_core(v, c, 1)
            yield out

    from pyspark.sql.types import IntegerType, StructField, StructType

    schema = StructType(
        [df.schema[id_col], StructField("topic", IntegerType())]
    )
    return df.select(id_col, vec_col).mapInPandas(gen, schema)


def topic_mix(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str | None = None,
    n_topics: int = 8,
    iterations: int = 10,
    seed: int = 42,
    presample: int = 4096,
) -> DataFrame:
    """Topic composition of an embedding corpus: assign every vector to its
    k-means topic, then account (topic[, label], n_vecs, share) — the
    mixing table a data-balancing plan (and a cluster-vs-label purity
    audit, when ``label_col`` is given) is written against.

    share = n_vecs / |corpus| is a single long/long division — engine-exact.
    Plan: the assignment scan feeds one partial-aggregated groupBy; the
    share window runs over the tiny aggregated frame (<= topics x labels
    rows), never the corpus."""
    assigned = topic_assign(df, id_col, vec_col, n_topics, iterations, seed, presample)
    keys = ["topic"] + ([label_col] if label_col else [])
    if label_col:
        assigned = assigned.join(df.select(id_col, label_col), id_col)
    counts = assigned.groupBy(*keys).agg(F.count("*").alias("n_vecs"))
    total = F.sum("n_vecs").over(Window.partitionBy())
    return counts.select(
        *keys, "n_vecs", (F.col("n_vecs") / total).alias("share")
    )


def auto_topics(n: int, target_cluster: int = 256) -> int:
    """Topic count that holds expected cluster size ~constant:
    max(8, ceil(n / target_cluster)). Fixed n_topics makes semantic_dedup's
    within-cluster pair volume grow ~N²/k — the same quadratic degradation
    as fixed-plane LSH (knn.auto_planes); this is the matching scale knob."""
    import math

    return max(8, math.ceil(max(1, n) / max(1, target_cluster)))


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_topics: int | str = 8,
    tau: float = 0.4,
    iterations: int = 10,
    seed: int = 42,
    presample: int = 4096,
    centroids: "np.ndarray | None" = None,
    target_cluster: int = 256,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding corpus with the seeded
    spherical k-means shared with the IVF quantizer / topic model, compare
    vectors pairwise ONLY within their cluster, and drop every vector with
    an above-``tau`` cosine to a smaller-id vector in the same cluster
    (min-id canonical — deterministic, so the prune replays exactly in
    SQL). Output: (id_col, topic, keep boolean).

    The cluster step is what makes this different from cosine_dup_pairs:
    pair volume is sum(|cluster|^2), not N^2 — the SemDeDup trade.
    ``n_topics='auto'`` resolves to auto_topics(count, target_cluster) so
    expected cluster size — and hence per-row pair work — stays constant
    as the corpus grows (the same knob as the LSH plane count; a fixed
    n_topics degrades ~N²/k on 10x data, measured in BASELINE.md §8).
    The fit is one bounded presampled task; assignment is a broadcast
    numpy argmax (topic_assign); the pair stage is an equi-join on the
    cluster id — the vector table shuffles once, on ``topic``.

    Engine-exactness: the dot products are sequential-fold codegen
    (F.aggregate), the same left-to-right order as the oracle's
    list_sum fold, so the ``tau`` compare runs on bit-identical doubles.

    The assigned frame feeds three plan branches (both pair sides + the
    keep join-back), so it is persisted.

    Reference analogue: cluster-model corpus hygiene composes the same
    model family as beymani's ClusterBasedPredictor
    (spark/src/main/scala/org/beymani/spark/cluster/ClusterBasedPredictor.scala);
    the prune rule itself follows the SemDeDup paper.
    """
    if n_topics == "auto":
        n_topics = auto_topics(df.count(), target_cluster)
    a = topic_assign(
        df, id_col, vec_col, n_topics, iterations, seed, presample, centroids
    )
    base = caching.persist(
        with_norm(df, vec_col)
        .select(F.col(id_col), "_vec", "_norm")
        .join(a, id_col)
    )
    left = base.select(
        F.col(id_col).alias("_lid"),
        F.col("_vec").alias("_lv"),
        F.col("_norm").alias("_ln"),
        "topic",
    )
    right = base.select(
        F.col(id_col).alias("_rid"),
        F.col("_vec").alias("_rv"),
        F.col("_norm").alias("_rn"),
        "topic",
    )
    cos = _dot(F.col("_lv"), F.col("_rv")) / (F.col("_ln") * F.col("_rn"))
    dropped = (
        left.join(right, "topic")
        .filter(F.col("_lid") < F.col("_rid"))
        .filter(cos >= F.lit(float(tau)))
        .select(F.col("_rid").alias(id_col))
        .distinct()
        .withColumn("_dropped", F.lit(True))
    )
    out = (
        base.select(id_col, "topic")
        .join(dropped, id_col, "left")
        .select(id_col, "topic", F.col("_dropped").isNull().alias("keep"))
    )

    return out


def topic_share_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    id_col: str,
    vec_col: str,
    n_topics: int = 8,
    iterations: int = 10,
    seed: int = 42,
    presample: int = 4096,
    centroids: "np.ndarray | None" = None,
) -> DataFrame:
    """Embedding-space distribution drift between two corpus snapshots:
    fit the spherical k-means topic model on snapshot A (the REFERENCE —
    never on the union, so a drifted B cannot move the yardstick), assign
    both snapshots against those frozen centroids, and compare per-topic
    composition. The embedding-axis member of the drift family: scalar
    columns get KS (corpus_quality_drift), token lengths get
    corpus_length_drift, topic mix gets this.

    Output per topic: (topic, n_a, n_b, share_a, share_b, share_diff =
    round(|share_b - share_a|, 6)). Topics empty on one side report 0
    counts, share 0 — the appearance/disappearance of a topic is exactly
    the drift signal. sum(share_diff) is the L1 (total-variation x2)
    drift statistic; gate releases on it.

    Scale shape: one bounded presampled fit on A + one broadcast-argmax
    scan per snapshot + two partial-agg groupBys to n_topics rows + a tiny
    full outer join on topic. Neither snapshot shuffles or collects."""
    cents = (
        centroids
        if centroids is not None
        else fit_spherical_centroids(df_a, vec_col, n_topics, iterations, seed, presample)
    )

    def counts(df: DataFrame, name: str) -> DataFrame:
        a = topic_assign(df, id_col, vec_col, centroids=cents)
        return a.groupBy("topic").agg(F.count("*").alias(name))

    tot_a = F.sum("n_a").over(Window.partitionBy())
    tot_b = F.sum("n_b").over(Window.partitionBy())
    joined = (
        counts(df_a, "n_a")
        .join(counts(df_b, "n_b"), "topic", "full_outer")
        .select(
            "topic",
            F.coalesce("n_a", F.lit(0)).alias("n_a"),
            F.coalesce("n_b", F.lit(0)).alias("n_b"),
        )
    )
    return joined.select(
        "topic",
        "n_a",
        "n_b",
        F.round(F.col("n_a") / tot_a, 6).alias("share_a"),
        F.round(F.col("n_b") / tot_b, 6).alias("share_b"),
        F.round(F.abs(F.col("n_b") / tot_b - F.col("n_a") / tot_a), 6).alias(
            "share_diff"
        ),
    )


def prototype_prune(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_topics: int = 8,
    keep_frac: float = 0.5,
    iterations: int = 10,
    seed: int = 42,
    presample: int = 4096,
    centroids: "np.ndarray | None" = None,
) -> DataFrame:
    """SSL-prototypes-style diversity prune (Sorscher et al. 2022, "Beyond
    neural scaling laws", arXiv:2206.14486): cluster the embeddings with
    the shared spherical k-means, score each vector by cosine to its OWN
    cluster centroid (prototypicality), and keep only the least
    prototypical ``keep_frac`` of each cluster — the "easy, redundant"
    examples near the centroid are the ones pruned. The complement of
    semantic_dedup: that drops pairwise near-copies, this thins dense
    cluster cores.

    Output: (id_col, topic, proto_cos, proto_pr, keep) where proto_pr is
    the tie-aware percent_rank of the ROUND-6 cosine within the cluster
    (ascending — 0.0 is the cluster's least prototypical vector) and
    keep = proto_pr < keep_frac. Ranking on the rounded cosine keeps the
    cut summation-order-stable; percent_rank needs no id tie-break
    (repo convention, cf. quality_calibrate).

    Scale shape: one bounded presampled fit, then ONE broadcast-centroid
    mapInPandas scan computing assignment AND score together (the same
    numpy matmul ivf_assign_core runs — no join back to the vector table),
    and ONE exchange on the cluster id for the rank window. The vector
    table shuffles once (narrow: id, topic, cos) and never collects.

    proto_cos rounds to 6 decimals before ranking; the oracle recomputes
    it as a fold in DuckDB — round-6 absorbs the numpy-vs-fold summation
    difference (the cosine_dup_pairs precedent, hash-green at 3 SFs)."""
    sess = df.sparkSession
    cents = (
        centroids
        if centroids is not None
        else fit_spherical_centroids(df, vec_col, n_topics, iterations, seed, presample)
    )
    bc = sess.sparkContext.broadcast(cents)

    def gen(batches):
        import numpy as np
        import pandas as pd

        c = bc.value
        cn = np.linalg.norm(c, axis=1)
        cn[cn == 0] = 1.0
        for pdf in batches:
            out = pdf[[id_col]].copy()
            if not len(pdf):
                out["topic"] = np.array([], dtype="int32")
                out["proto_cos"] = np.array([], dtype="float64")
                yield out
                continue
            v = np.stack([np.asarray(x, dtype=np.float64) for x in pdf[vec_col]])
            topics = ivf_assign_core(v, c, 1)
            # cosine to the ASSIGNED centroid, mirroring the oracle's
            # dot / (|v| * |c|) formula term-for-term (ivf_assign_core's
            # normalized matmul picks the argmax; the score itself is
            # recomputed in the SQL formula's operation order)
            ca = c[topics]
            dots = (v * ca).sum(axis=1)
            nv = np.sqrt((v * v).sum(axis=1))
            nv[nv == 0] = 1.0
            out["topic"] = topics
            # RAW cosine — the half-up round happens JVM-side (F.round)
            # so rounding semantics match the oracle's SQL round()
            out["proto_cos"] = dots / (nv * cn[topics])
            yield out

    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            df.schema[id_col],
            StructField("topic", IntegerType()),
            StructField("proto_cos", DoubleType()),
        ]
    )
    scored = (
        df.select(id_col, vec_col)
        .mapInPandas(gen, schema)
        .withColumn("proto_cos", F.round(F.col("proto_cos"), 6))
    )
    w = Window.partitionBy("topic").orderBy(F.col("proto_cos").asc())
    pr = F.percent_rank().over(w)
    return scored.withColumn("_pr", pr).select(
        id_col,
        "topic",
        "proto_cos",
        F.round(F.col("_pr"), 6).alias("proto_pr"),
        (F.col("_pr") < F.lit(float(keep_frac))).alias("keep"),
    )


def quantize_int8(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Symmetric per-vector int8 quantization — the storage/bandwidth path
    for a 100 TB embedding column (4x smaller than float32, 8x than
    float64): scale = 127 / max|v|, code_i = round(v_i * scale).

    Emits (id, scale, codes array<int>, q_l1 = sum|code|). Pure codegen
    array expressions: at scale this is a narrow projection on the scan —
    no shuffle, no Python. Zero vectors get scale 0 and all-zero codes.

    The dequantized value is code_i / scale; downstream ANN operators can
    run on codes with int arithmetic (the standard IVF/PQ storage layout's
    simplest form).

    scale and codes are projected as REAL columns between steps: an
    expression referenced from inside a transform lambda is re-evaluated
    per element (no subexpression elimination through HOF lambdas), so
    inlining scale into the codes lambda would recompute the array_max
    per component — O(d²) per row."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    max_abs = F.array_max(F.transform(v, F.abs))
    scaled = df.select(
        F.col(id_col),
        v.alias("_v"),
        F.when(max_abs > 0, F.lit(127.0) / max_abs).otherwise(F.lit(0.0)).alias(
            "scale"
        ),
    )
    coded = scaled.select(
        id_col,
        "scale",
        F.transform(
            "_v", lambda x: F.round(x * F.col("scale")).cast("int")
        ).alias("codes"),
    )
    return coded.select(
        id_col,
        "scale",
        "codes",
        F.aggregate(
            F.col("codes"),
            F.lit(0).cast("long"),
            lambda acc, c: acc + F.abs(c).cast("long"),
        ).alias("q_l1"),
    )


def embedding_audit(
    df: DataFrame,
    vec_col: str = "embedding",
    by: Sequence[str] = ("label",),
) -> DataFrame:
    """Per-stratum embedding QA card — the vector-table gate a pipeline
    runs BEFORE any ANN index, topic fit, or semantic dedup build (a
    single NaN vector poisons a centroid mean; zero-norm vectors make
    cosine undefined; ragged dims crash a matmul; duplicate vectors
    inflate every neighborhood): per ``by`` stratum — vector count,
    min/max dimensionality (ragged detection), non-finite vector count,
    zero-norm count, round-6 mean L2 norm over the finite vectors, and
    exact-duplicate mass (vectors whose exact float image occurs more
    than once in the stratum — grouping on the vector itself, so the
    check is float-exact with no hashing to collide). A ZERO-LENGTH
    vector is a zero-norm vector: the sum-of-squares fold over an empty
    array is its 0.0 seed, so it lands in n_zero_norm and contributes
    0.0 to mean_norm (and min_dim = 0 flags the stratum); the DuckDB
    oracle coalesces list_sum's empty-list NULL to 0.0 to match.

    Scale: ONE scan computing row-local expressions (the sum-of-squares
    is the engine-exact sequential fold, matching the cosine family) +
    two partial-aggregated groupBys — the card is |strata| rows and the
    dup check shuffles (stratum, vector) keys once. NULL vectors are
    excluded up front (a NULL row is an ingestion bug the finite/profile
    audits own; size(NULL) = -1 would corrupt the dim range)."""
    by = list(by)
    if not by:
        raise ValueError("embedding_audit needs at least one stratum column")
    vecs = df.filter(F.col(vec_col).isNotNull())
    v = _as_double(F.col(vec_col))
    bad = F.exists(
        F.col(vec_col),
        lambda x: F.isnan(x) | (F.abs(x) == F.lit(float("inf"))),
    )
    per = vecs.select(
        *by,
        F.col(vec_col).alias("_vec"),
        F.size(vec_col).alias("_dim"),
        bad.alias("_bad"),
        _dot(v, v).alias("_ss"),
    )
    base = per.groupBy(*by).agg(
        F.count("*").alias("n_vecs"),
        F.min("_dim").cast("long").alias("min_dim"),
        F.max("_dim").cast("long").alias("max_dim"),
        F.sum(F.when(F.col("_bad"), 1).otherwise(0)).alias("n_nonfinite"),
        F.sum(
            F.when(~F.col("_bad") & (F.col("_ss") == 0), 1).otherwise(0)
        ).alias("n_zero_norm"),
        F.round(F.avg(F.when(~F.col("_bad"), F.sqrt("_ss"))), 6).alias(
            "mean_norm"
        ),
    )
    dup = (
        per.groupBy(*by, "_vec")
        .agg(F.count("*").alias("_c"))
        .filter(F.col("_c") >= 2)
        .groupBy(*by)
        .agg(F.sum("_c").alias("n_dup_vecs"))
    )
    return base.join(dup, by, "left").withColumn(
        "n_dup_vecs", F.coalesce(F.col("n_dup_vecs"), F.lit(0).cast("long"))
    )


def hybrid_rrf_topk(
    docs: DataFrame,
    emb: DataFrame,
    query_terms,
    query_vec_id,
    id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_candidates: int = 50,
    rrf_k: int = 60,
) -> DataFrame:
    """Hybrid retrieval by reciprocal-rank fusion: fuse the lexical BM25
    candidate list (text.bm25_topk over ``query_terms``) with the dense
    cosine candidate list (neighbors of the ``query_vec_id`` embedding)
    — the standard hybrid-search recipe for corpus curation/retrieval.
    rrf = sum over the lists containing the doc of 1/(rrf_k + rank);
    docs on one list only score that single term. Rank on the ROUND-6
    rrf with a doc-id tie-break (the repo's rank-cut convention).

    Output: (id, bm25_rank, cos_rank, rrf_score, hybrid_rank),
    hybrid_rank <= k; bm25_rank/cos_rank are NULL for a doc absent from
    that candidate list.

    Scale shape: the BM25 side is bm25_topk's shape (match-sized
    explode, broadcast df/stats, TakeOrderedAndProject). The dense side
    broadcasts ONE query vector onto the embedding scan and takes its
    top-n_candidates via orderBy+limit — TakeOrderedAndProject again,
    deliberately NOT a window partitioned by query id, which for a
    single query would single-task-sort the whole embedding table. The
    fusion is a full outer join of two <= n_candidates-row frames and
    the final rank window runs on <= 2*n_candidates rows."""
    from .text import bm25_topk

    lex_full = bm25_topk(docs, query_terms, id_col=id_col, k=n_candidates)
    lex = lex_full.select(F.col(id_col).alias("_id"), F.col("bm25_rank"))

    base = with_norm(emb, vec_col).select(
        F.col(vec_id_col).alias("_id"), F.col("_vec"), F.col("_norm")
    )
    q = base.filter(F.col("_id") == F.lit(query_vec_id)).select(
        F.col("_vec").alias("_vq"), F.col("_norm").alias("_nq")
    )
    cos = (
        base.filter(F.col("_id") != F.lit(query_vec_id))
        .crossJoin(F.broadcast(q))
        .withColumn(
            "_cos", _dot(F.col("_vq"), F.col("_vec")) / (F.col("_nq") * F.col("_norm"))
        )
        .orderBy(F.col("_cos").desc(), F.col("_id").asc())
        .limit(n_candidates)
    )
    wc = Window.orderBy(F.col("_cos").desc(), F.col("_id").asc())
    dense = cos.withColumn("cos_rank", F.row_number().over(wc)).select(
        "_id", "cos_rank"
    )

    fused = lex.join(dense, "_id", "full_outer").withColumn(
        "rrf_score",
        F.round(
            F.coalesce(F.lit(1.0) / (F.lit(rrf_k) + F.col("bm25_rank")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(rrf_k) + F.col("cos_rank")), F.lit(0.0)),
            6,
        ),
    )
    top = fused.orderBy(F.col("rrf_score").desc(), F.col("_id").asc()).limit(k)
    wr = Window.orderBy(F.col("rrf_score").desc(), F.col("_id").asc())
    return top.withColumn("hybrid_rank", F.row_number().over(wr)).select(
        F.col("_id").alias(id_col),
        "bm25_rank",
        "cos_rank",
        "rrf_score",
        "hybrid_rank",
    )
