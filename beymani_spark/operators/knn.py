"""Proximity / density family (SURVEY.md §2.1 #15, §2.3 M4-M6): pair
distances, kNN, average-distance, LOF — entirely as DataFrame joins + windows.

Reference semantics sources:
  pair distances  — upstream of the reference's proximity jobs (produced by
      sifarish SameTypeSimilarity, see resource/proximity_tutorial.txt:11-21);
      here a blocked self-join over a vector column.
  average_distance ≙ AverageDistance (/root/reference/src/main/java/org/
      beymani/proximity/AverageDistance.java:40-170): secondary-sorted top-k
      per entity -> avg distance and density (scale/avg)
  relative_density ≙ RelativeDensity (/root/reference/src/main/java/org/
      beymani/proximity/RelativeDensity.java:60-120): density(entity)*scale /
      Σ density(neighbors)
  lof ≙ LocalDensityBasedPredictor (/root/reference/spark/src/main/scala/org/
      beymani/spark/knn/LocalDensityBasedPredictor.scala:41-251): kNN :101-106,
      reachability distance :116-139, lrd :144-156, LOF :183-214

Scale posture: exact pairs run on blocked_vec_pairs — a tiled cogroup
block-nested-loop with numpy kernels, bounded task memory, and no driver
collect (shuffle volume N²/TARGET_BLOCK rows, the irreducible cost of exact
all-pairs); the sub-quadratic approximate path is lsh_pair_distances, which
buckets vectors with random hyperplane signatures so the self-join only
compares within buckets. kNN/kdist/lrd/LOF are window + broadcast-join stages
over the (much smaller) pair set — ~5 narrow shuffles, matching the
reference's stage count but spillable and AQE-planned.
"""
from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import caching


def _sq_dist(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def euclidean(a, b):
    """Euclidean distance between two array<double> columns."""
    return F.sqrt(_sq_dist(a, b))


def pair_distances(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    keys: Sequence[str] = (),
    directed: bool = True,
) -> DataFrame:
    """All-pairs distances per key: (keys..., src, dst, dist), src != dst.

    Brute force — O(N²) per key; use lsh_pair_distances at scale.
    """
    vec_d = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    base = df.select(*keys, F.col(id_col).alias("_id"), vec_d.alias("_v"))
    a = base.select(*keys, F.col("_id").alias("src"), F.col("_v").alias("_va"))
    b = base.select(*keys, F.col("_id").alias("dst"), F.col("_v").alias("_vb"))
    cond = F.col("src") != F.col("dst") if directed else F.col("src") < F.col("dst")
    joined = a.join(b, list(keys)) if keys else a.crossJoin(b)
    return (
        joined.filter(cond)
        .withColumn("dist", euclidean(F.col("_va"), F.col("_vb")))
        .drop("_va", "_vb")
    )


#: rows per side of one blocked_vec_pairs tile: the task-memory bound. A
#: block task holds its two TARGET_BLOCK x dim float64 matrices (32 MB each
#: at dim 1024) plus per-row temporaries of one matrix's size, whatever N
#: is; shuffle volume is N^2/TARGET_BLOCK rows.
TARGET_BLOCK = 4096


def blocked_vec_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    kernel,
    out_schema: str,
    tiles: int | None = None,
    persist_base: bool = True,
) -> DataFrame:
    """Distributed block-nested-loop over all vector pairs — the exact-pairs
    engine behind pair_distances_np / cosine_dup_pairs.

    Both sides are tiled by pmod(xxhash64(id), t); src rows are replicated
    across ref tiles and ref rows across src tiles, then cogrouped on the
    (src_tile, ref_tile) grid so each task sees one bounded numpy block
    (~TARGET_BLOCK x TARGET_BLOCK). No row ever reaches the driver and task
    memory is O(TARGET_BLOCK * dim) regardless of N — this is what replaces
    the round-1 driver-side toPandas() collect. Replicated shuffle volume is
    N^2/TARGET_BLOCK rows, the irreducible cost of *exact* all-pairs; the
    sub-quadratic path remains lsh_pair_distances.

    ``kernel(src_ids, src_mat, ref_ids, ref_mat) -> pd.DataFrame`` computes
    one block; per-pair arithmetic identical to the former broadcast path, so
    results are bit-identical. ``tiles`` overrides the count-derived tile
    count (ceil(N / TARGET_BLOCK)) and skips that count.
    """
    import pandas as pd

    base = df
    # ``persist_base=True`` (default): persist the keyed (id, vec)
    # projection ONCE — the src and ref sides below both consume it, and
    # without a cache EACH side re-executes the full upstream lineage.
    # For consumers whose input is itself a Python pipeline (e.g. media
    # decode -> quantize feeding cosine_dup_pairs) that kernel ran three
    # times per query (tiles count + both cogroup sides; measured plan:
    # two decode MapInPandas nodes + the count). The cache is the keyed
    # vector set — the operator's own input size, nothing bigger.
    # ``persist_base=False`` is for PLAIN-SCAN inputs
    # (pair_distances_np over a stored vector table): three column-pruned
    # scans are cheaper than writing and reading a cache of the whole
    # vector set — measured both ways at sf0.1 (lof 2.4 s no-persist vs
    # 3.3 s persisted; media_dup the reverse), and the same trade holds
    # at scale (scan vs full-table cache materialization).
    df = base.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    if persist_base:
        df = caching.persist(df)
    if tiles is None:
        # distributed count (a cheap aggregate, not a data collect); when
        # the base is persisted it doubles as the cache materialization,
        # so the upstream lineage runs exactly once
        tiles = max(1, -(-df.count() // TARGET_BLOCK))
    t = int(tiles)
    # Both tile keys are bigint on both sides: pmod(xxhash64) is bigint, so
    # the replicated sequence must be too. Hash partitioning hashes an int
    # and a bigint of equal value differently, so mixed key types send a
    # tile's src and ref rows to different partitions, and every group
    # then has one empty side once the shuffle has more than one partition.
    tile_ids = F.explode(F.sequence(F.lit(0).cast("long"), F.lit(t - 1).cast("long")))
    src = df.withColumn("_i", F.pmod(F.xxhash64("_id"), F.lit(t))).withColumn(
        "_j", tile_ids
    )
    # The ref side is renamed off the same frame. When both sides keep the
    # names _id/_v over one persisted frame (cosine_dup_pairs), the
    # kernel's right frame has no "_id" column (KeyError: '_id'), even with
    # the tile keys fixed.
    ref = df.select(F.col("_id").alias("_rid"), F.col("_v").alias("_rv"))
    ref = ref.withColumn("_j", F.pmod(F.xxhash64("_rid"), F.lit(t))).withColumn(
        "_i", tile_ids
    )

    def block(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        if len(left) == 0 or len(right) == 0:
            return pd.DataFrame({f.split()[0]: [] for f in out_schema.split(",")})
        src_ids = left["_id"].to_numpy()
        src_mat = np.array([np.asarray(v, dtype=float) for v in left["_v"]])
        ref_ids = right["_rid"].to_numpy()
        ref_mat = np.array([np.asarray(v, dtype=float) for v in right["_rv"]])
        return kernel(src_ids, src_mat, ref_ids, ref_mat)

    return (
        src.groupBy("_i", "_j")
        .cogroup(ref.groupBy("_i", "_j"))
        .applyInPandas(block, out_schema)
    )


def pair_distances_np(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int | None = None,
    tiles: int | None = None,
) -> DataFrame:
    """Vectorized exact pair distances via the blocked cogroup engine
    (blocked_vec_pairs): numpy arithmetic per block, no driver collect,
    bounded task memory. ~10-100x faster than the interpreted
    higher-order-function expression path for dense vectors; identical
    semantics. For sub-quadratic approximate pairs use lsh_pair_distances.

    With ``k`` set, each block emits its local top-k per src (ties broken by
    dst, the same (dist, dst) order as ``knn``'s row_number window) and a
    final window keeps the global top-k — the union of per-block top-ks
    always contains the global top-k, so results match the all-pairs path
    exactly while the exchange carries O(N*k*t) instead of O(N^2) rows.
    """
    import numpy as np
    import pandas as pd

    def kernel(src_ids, src_mat, ref_ids, ref_mat):
        srcs, dsts, dists = [], [], []
        for i in range(len(src_mat)):
            d = np.sqrt(((src_mat[i] - ref_mat) ** 2).sum(axis=1))
            mask = ref_ids != src_ids[i]
            dm, im = d[mask], ref_ids[mask]
            if k is not None:
                sel = np.lexsort((im, dm))[:k]
                dm, im = dm[sel], im[sel]
            srcs.append(np.full(len(im), src_ids[i]))
            dsts.append(im)
            dists.append(dm)
        return pd.DataFrame(
            {
                "src": np.concatenate(srcs),
                "dst": np.concatenate(dsts),
                "dist": np.concatenate(dists),
            }
        )

    out = blocked_vec_pairs(
        df, id_col, vec_col, kernel, "src long, dst long, dist double",
        tiles=tiles,
        # plain stored-vector inputs in every registry consumer; the
        # downstream density operators persist the N*k nn frame instead
        persist_base=False,
    )
    if k is not None:
        w = Window.partitionBy("src").orderBy(F.col("dist").asc(), F.col("dst").asc())
        out = (
            out.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") <= k)
            .drop("_rk")
        )
    return out


def auto_planes(n: int, target_bucket: int = 8) -> int:
    """Hyperplane count that holds expected LSH bucket size ~constant:
    max(8, ceil(log2(n / target_bucket))). See lsh_pair_distances."""
    import math

    return max(8, math.ceil(math.log2(max(2.0, n / max(1, target_bucket)))))


def lsh_pair_distances(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_planes: int | str = 8,
    seed: int = 42,
    target_bucket: int = 8,
) -> DataFrame:
    """Scale path: random-hyperplane LSH bucketing, exact distances within
    probed buckets only — ordered (src, dst, dist) pairs, both directions.
    Recall is approximate (neighbors split across buckets are missed):
    rows pair when their signatures differ by at most one bit, through
    similarity.hyperplane_pairs (one hyperplane kernel pass, each pair
    matched by one probe, no dedup shuffle) — measured kNN recall@5
    on the sf0.001 embeddings (near-uniform vectors, the adversarial
    case): 0.50 at 4 planes, 0.11 at 8, for (n_planes+1)x the probe rows.
    Raise n_planes for smaller buckets.

    ``n_planes='auto'`` sizes the plane count to the DATA:
    max(8, ceil(log2(n / target_bucket))) via one cheap count, holding the
    expected bucket size constant as the table grows. This is the scale
    KNOB, not a tuning nicety — within-bucket pair volume is sum(b_i^2)
    ~ N^2/2^planes, so a fixed plane count silently degrades the "sub-
    quadratic path" back to quadratic as N grows (measured: 8 planes at
    10x the clustered bench embeddings ran ~60x, auto-planes ~linear).
    A fixed-N deployment can precompute the same formula and pass the int."""
    from .similarity import _as_double, hyperplane_pairs, hyperplanes

    if n_planes == "auto":
        n_planes = auto_planes(df.count(), target_bucket)
    probe_row = df.select(vec_col).first()
    if probe_row is None:  # empty input: no pairs, right shape
        id_t = df.schema[id_col].dataType.simpleString()
        return df.sparkSession.createDataFrame(
            [], f"src {id_t}, dst {id_t}, dist double"
        )
    planes = hyperplanes(len(probe_row[0]), n_planes, seed)
    cand = hyperplane_pairs(df.select(id_col, vec_col), id_col, vec_col, planes, [vec_col])

    # the engine emits each unordered pair once (src < dst); one explode
    # restores both directions. (x-y)^2 == (y-x)^2 exactly, so the shared
    # distance is the one either direction would compute, bit for bit.
    both = F.array(
        F.struct(F.col("src"), F.col("dst")),
        F.struct(F.col("dst").alias("src"), F.col("src").alias("dst")),
    )
    dist = euclidean(
        _as_double(F.col(f"{vec_col}_a")), _as_double(F.col(f"{vec_col}_b"))
    )
    return (
        cand.withColumn("dist", dist)
        .select(F.explode(both).alias("_p"), "dist")
        .select("_p.src", "_p.dst", "dist")
    )


def knn(
    pairs: DataFrame, k: int, keys: Sequence[str] = ()
) -> DataFrame:
    """Top-k nearest neighbors per src (ties broken by dst for determinism)."""
    w = Window.partitionBy(*keys, "src").orderBy(F.col("dist").asc(), F.col("dst").asc())
    return pairs.withColumn("nn_rank", F.row_number().over(w)).filter(
        F.col("nn_rank") <= k
    )


#: zero-distance guard for the density family: a point whose k nearest
#: neighbors are EXACT duplicates has avg_dist / k-distance 0, and a bare
#: division crashes the whole job under ANSI SQL (found by the altseed
#: duplicate-vector sweep — guaranteed to occur in any deduplicating corpus
#: at scale). The epsilon keeps densities finite (sklearn's LOF convention);
#: duplicate clusters score as extreme inliers instead of aborting the job.
EPS = 1e-10

#: ceiling for LOF scores: a point whose NEIGHBORS are exact duplicates
#: inherits their epsilon-sized lrd and scores an astronomically large LOF
#: (~1/EPS) whose floating-point ulp exceeds any fixed rounding tolerance —
#: an artifact magnitude, not a ranking. Genuine LOF values live in ~[0.5,
#: 100]; everything above the cap means "neighborhood is a duplicate
#: cluster", pinned to one deterministic value in both engines.
LOF_CAP = 1e6


def _nn_shared(pairs: DataFrame, k: int, keys: Sequence[str]) -> DataFrame:
    """Persisted top-k neighbor set for multi-consumer density operators.

    Every function below reads the kNN frame two to four times (k-distance,
    reachability, neighbor joins). Without a persist, EACH reference
    re-executes the full pair-engine lineage — for the registry queries
    that is the blocked cogroup over all vector pairs, the single most
    expensive subtree in the family, run 3-4x per query (measured: the lof
    plan carried four copies of the Scan->cogroup->window subtree, 21
    Exchanges). The nn frame is N*k rows — neighbor-list-sized at any
    scale — so caching it is the guide §5 trade exactly: tiny storage
    against re-running the quadratic engine. MEMORY_AND_DISK (persist
    default) spills gracefully on huge N."""
    return caching.persist(knn(pairs, k, keys).select(*keys, "src", "dst", "dist"))


def _density_from_nn(
    nn: DataFrame, keys: Sequence[str], scale: float
) -> DataFrame:
    out = nn.groupBy(*keys, "src").agg(F.avg("dist").alias("avg_dist"))
    return out.withColumn(
        "density", F.lit(float(scale)) / (F.col("avg_dist") + F.lit(EPS))
    )


def average_distance(
    pairs: DataFrame, k: int, keys: Sequence[str] = (), scale: float = 1000.0
) -> DataFrame:
    """M4: per-entity avg distance to its k nearest + density =
    scale/(avg + EPS) — see EPS for the duplicate-neighborhood guard.

    Single-consumer: the kNN frame feeds one aggregate, so no persist."""
    return _density_from_nn(knn(pairs, k, keys), keys, scale)


def relative_density(
    pairs: DataFrame, k: int, keys: Sequence[str] = (), scale: float = 1000.0
) -> DataFrame:
    """M6: density(entity) * scale / Σ density(its k neighbors).

    The kNN frame is persisted once and feeds both the density aggregate
    and the neighbor join (see _nn_shared)."""
    nn = _nn_shared(pairs, k, keys)
    dens = _density_from_nn(nn, keys, scale)
    nbr = nn.join(
        dens.select(*keys, F.col("src").alias("dst"), F.col("density").alias("_nd")),
        [*keys, "dst"],
    )
    nbr_sum = nbr.groupBy(*keys, "src").agg(F.sum("_nd").alias("_nbr_density"))
    return (
        dens.join(nbr_sum, [*keys, "src"])
        .withColumn(
            "rel_density", F.col("density") * F.lit(float(scale)) / F.col("_nbr_density")
        )
        .drop("_nbr_density")
    )


def neighbor_density(
    pairs: DataFrame, k: int, keys: Sequence[str] = (), scale: float = 1000.0
) -> DataFrame:
    """M5 NeighborDensity (/root/reference/src/main/java/org/beymani/
    proximity/NeighborDensity.java:40-130): each entity's density joined onto
    its neighbor-group membership rows -> (keys..., src, dst, dst_density).
    The reference does this with a map-side file tag + secondary sort; here a
    plain equi-join. The kNN frame is persisted once (see _nn_shared)."""
    nn = _nn_shared(pairs, k, keys)
    dens = _density_from_nn(nn, keys, scale).select(
        *keys, F.col("src").alias("dst"), F.col("density").alias("dst_density")
    )
    return nn.select(*keys, "src", "dst").join(dens, [*keys, "dst"])


def lof(pairs: DataFrame, k: int, keys: Sequence[str] = ()) -> DataFrame:
    """Local Outlier Factor from a pair-distance set.

    kNN -> k-distance -> reach-dist(p,o) = max(dist(p,o), kdist(o)) ->
    lrd(p) = k / (Σ reach-dist + EPS) -> LOF(p) = avg(lrd(o)) / lrd(p).

    The EPS term is the duplicate-neighborhood guard (see EPS): a point
    inside an exact-duplicate cluster has every reach-dist 0, so the bare
    k/Σ division aborts the job under ANSI SQL; with the epsilon, such
    points get a huge-but-finite lrd and an LOF near 1 — duplicates are
    inliers of their own cluster, the standard LOF treatment.

    The kNN frame is persisted once and feeds k-distance, reachability,
    and the neighbor-lrd join (see _nn_shared)."""
    nn = _nn_shared(pairs, k, keys)
    kdist = nn.groupBy(*keys, "src").agg(F.max("dist").alias("kdist"))
    reach = nn.join(
        kdist.select(*keys, F.col("src").alias("dst"), F.col("kdist").alias("_kdist_o")),
        [*keys, "dst"],
    ).withColumn("reach_dist", F.greatest(F.col("dist"), F.col("_kdist_o")))
    lrd = reach.groupBy(*keys, "src").agg(
        (F.lit(float(k)) / (F.sum("reach_dist") + F.lit(EPS))).alias("lrd")
    )
    nbr_lrd = nn.join(
        lrd.select(*keys, F.col("src").alias("dst"), F.col("lrd").alias("_lrd_o")),
        [*keys, "dst"],
    ).groupBy(*keys, "src").agg(F.avg("_lrd_o").alias("_avg_nbr_lrd"))
    return (
        lrd.join(nbr_lrd, [*keys, "src"])
        .withColumn(
            "lof",
            F.least(F.col("_avg_nbr_lrd") / F.col("lrd"), F.lit(LOF_CAP)),
        )
        .select(*keys, "src", "lrd", "lof")
    )
