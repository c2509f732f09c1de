"""Measured recall probes for the approximate (LSH) paths against their
exact counterparts — the documented price of the scale path, asserted so a
banding/signature regression can't silently destroy recall.

Probes use the driver fixtures at sf0.001 (500 embeddings / 500 docs);
recall floors are set ~10pts below the measured values at the pinned seeds
so they catch breakage, not noise.
"""
from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from beymani_spark.operators import dedup, knn, similarity
from beymani_spark.sources import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF, "embeddings").select("vec_id", "embedding")


def test_ann_lsh_topk_recall_vs_exact(spark, emb):
    queries = emb.limit(20)
    exact = similarity.cosine_topk(emb, queries, "vec_id", "embedding", k=5).toPandas()
    approx = similarity.ann_lsh_topk(
        emb, queries, "vec_id", "embedding", k=5, n_planes=4, seed=42
    ).toPandas()
    truth = {(r.query_id, r.neighbor_id) for r in exact.itertuples()}
    got = {(r.query_id, r.neighbor_id) for r in approx.itertuples()}
    recall = len(truth & got) / len(truth)
    # measured 0.59 at seed=42 / 4 planes / Hamming-1 multi-probe (0.17
    # single-probe): fixture vectors are near-uniform, hyperplane LSH's
    # adversarial case — clustered real embeddings do better
    assert recall >= 0.45, f"ann_lsh_topk recall collapsed: {recall:.2f}"


def test_ann_lsh_multitable_amplifies_recall(spark, emb):
    """Independent tables amplify recall ~1-(1-r)^L: measured 0.58 (L=1)
    -> 0.82 (L=2) -> 0.92 (L=3) at P=4 on this adversarial near-uniform
    fixture. Floors sit ~10pts under the pinned-seed measurements; the
    monotonicity assertion is the regression tripwire."""
    queries = emb.limit(20)
    exact = similarity.cosine_topk(emb, queries, "vec_id", "embedding", k=5).toPandas()
    truth = {(r.query_id, r.neighbor_id) for r in exact.itertuples()}

    def recall(L):
        approx = similarity.ann_lsh_topk(
            emb, queries, "vec_id", "embedding", k=5, n_planes=4, seed=42,
            n_tables=L,
        ).toPandas()
        got = {(r.query_id, r.neighbor_id) for r in approx.itertuples()}
        return len(truth & got) / len(truth)

    r1, r2 = recall(1), recall(2)
    assert r2 >= r1, (r1, r2)
    assert r2 >= 0.70, f"multi-table recall collapsed: {r2:.2f}"


def test_ivf_topk_recall_vs_exact(spark, emb):
    queries = emb.limit(20)
    exact = similarity.cosine_topk(emb, queries, "vec_id", "embedding", k=5).toPandas()
    approx = similarity.ivf_topk(
        emb, queries, "vec_id", "embedding", k=5, n_cells=16, nprobe=4, seed=42
    ).toPandas()
    truth = {(r.query_id, r.neighbor_id) for r in exact.itertuples()}
    got = {(r.query_id, r.neighbor_id) for r in approx.itertuples()}
    recall = len(truth & got) / len(truth)
    # measured 0.61 at 16 cells / nprobe 4 (~25% of the base scanned)
    assert recall >= 0.5, f"ivf_topk recall collapsed: {recall:.2f}"


def test_topic_assign_partition_invariant_and_complete(spark, emb):
    """The topic model fits on a canonical hash-ordered pool, so the
    assignment must not depend on input partitioning; every vector gets
    exactly one topic in [0, n_topics)."""
    a = similarity.topic_assign(emb, "vec_id", "embedding", n_topics=8).toPandas()
    b = similarity.topic_assign(
        emb.repartition(13), "vec_id", "embedding", n_topics=8
    ).toPandas()
    assert len(a) == emb.count()
    merged = a.merge(b, on="vec_id", suffixes=("_a", "_b"))
    assert (merged["topic_a"] == merged["topic_b"]).all()
    assert a["topic"].between(0, 7).all()
    # the fixture is not degenerate: the model actually separates vectors
    assert a["topic"].nunique() > 1


def test_topic_mix_shares_sum_to_one(spark, emb):
    out = similarity.topic_mix(
        load_table(spark, SF, "embeddings"), "vec_id", "embedding",
        label_col="label", n_topics=8,
    ).toPandas()
    assert out["n_vecs"].sum() == emb.count()
    assert abs(out["share"].sum() - 1.0) < 1e-9


def test_lsh_pair_distances_knn_recall_vs_exact(spark, emb):
    k = 5
    exact = knn.knn(knn.pair_distances(emb, "vec_id", "embedding"), k=k).toPandas()
    approx = knn.knn(
        knn.lsh_pair_distances(emb, "vec_id", "embedding", n_planes=4, seed=42),
        k=k,
    ).toPandas()
    truth = {(r.src, r.dst) for r in exact.itertuples()}
    got = {(r.src, r.dst) for r in approx.itertuples()}
    recall = len(truth & got) / len(truth)
    # measured 0.50 at seed=42 / 4 planes / Hamming-1 multi-probe
    assert recall >= 0.38, f"lsh_pair_distances knn recall collapsed: {recall:.2f}"


def test_minhash_lsh_recall_vs_exact_jaccard(spark):
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    pdf = docs.toPandas()

    def shingle_set(text: str, n: int = 3) -> set:
        toks = text.lower().split()
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    sets = {r.doc_id: shingle_set(r.text) for r in pdf.itertuples()}
    ids = sorted(sets)
    truth = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            sa, sb = sets[a], sets[b]
            if not sa or not sb:
                continue
            inter = len(sa & sb)
            if inter and inter / (len(sa) + len(sb) - inter) >= 0.5:
                truth.add((min(a, b), max(a, b)))
    assert truth, "fixture has no true near-dup pairs; probe is vacuous"

    got_df = dedup.minhash_lsh_pairs(
        docs, "doc_id", num_hashes=16, bands=4, min_jaccard=0.5
    ).toPandas()
    got = {(min(r.src, r.dst), max(r.src, r.dst)) for r in got_df.itertuples()}
    recall = len(truth & got) / len(truth)
    # verification is exact Jaccard, so precision is 1.0 by construction and
    # banding only costs recall; measured 1.0 at 16 hashes / 4 bands
    assert recall >= 0.85, f"minhash banding recall collapsed: {recall:.2f}"
    assert got <= truth | got  # sanity: no malformed pairs


@pytest.mark.parametrize("local_threshold", [1_000_000, 0])
def test_dedup_clusters_chain_and_singletons(spark, local_threshold):
    """Both execution paths (driver union-find and distributed min-label
    propagation) must collapse a 5-node chain (worst-case diameter for
    pointer jumping) and leave unpaired docs as singletons."""
    docs = spark.createDataFrame([(i, f"doc {i}") for i in range(8)], "doc_id long, text string")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (6, 7)], "src long, dst long"
    )
    out = dedup.dedup_clusters(
        docs, "doc_id", pairs, local_threshold=local_threshold
    ).toPandas().set_index("doc_id")
    assert out.loc[[1, 2, 3, 4, 5], "cluster_rep"].tolist() == [1] * 5
    assert out.loc[[1, 2, 3, 4, 5], "cluster_size"].tolist() == [5] * 5
    assert out.loc[6, "cluster_rep"] == 6 and out.loc[7, "cluster_rep"] == 6
    assert out.loc[0, "cluster_rep"] == 0 and out.loc[0, "cluster_size"] == 1


def test_dedup_corpus_keeps_representatives(spark):
    docs = spark.createDataFrame([(i, f"doc {i}") for i in range(6)], "doc_id long, text string")
    pairs = spark.createDataFrame([(0, 1), (1, 2), (4, 5)], "src long, dst long")
    kept = sorted(
        r.doc_id for r in dedup.dedup_corpus(docs, "doc_id", pairs).collect()
    )
    assert kept == [0, 3, 4]


def test_persisted_cogroup_pairs_survive_cache(spark):
    """Regression: a cache built straight over the blocked engine's cogroup
    output keeps every pair, with AQE off so the shuffle keeps all its
    partitions. With int tile keys on one side and bigint on the other, a
    tile's src and ref rows hashed to different partitions: every group
    had one empty side, and both the plain and the cached count were 0."""
    from beymani_spark.functions import caching
    from beymani_spark.sources import load_table

    emb = load_table(spark, SF, "embeddings")
    saved = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        with caching.scope():
            pairs = similarity.cosine_dup_pairs(emb, "vec_id", "embedding", threshold=0.4)
            n_plain = pairs.count()
            assert n_plain > 0
            assert caching.persist(pairs).count() == n_plain
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", saved)


def test_rowwise_bands_match_batch_on_adversarial_text(spark):
    """Row-wise (streaming) minhash bands vs the aggregated batch pipeline
    on adversarial inputs: unicode, repeated runs, tab/newline whitespace,
    short docs below the shingle width."""
    from pyspark.sql import functions as F

    from beymani_spark.operators import dedup

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the\tquick\nbrown   fox"),
        (3, "短 文 本 测 试 中 文 分 词"),
        (4, "a a a a a a a a"),
        (5, "one two"),               # < n tokens -> no shingles
        (6, ""),                      # empty text
        (7, "  leading and trailing   "),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    rowwise = dedup.rowwise_minhash_bands(df, "doc_id", "text").toPandas()
    sigs = dedup.minhash_signatures(df, "doc_id", "text", 16, 3)
    band_cols = []
    for b in range(4):
        cols = [F.col(f"mh_{b*4+r}") for r in range(4)]
        band_cols.append(
            F.struct(F.lit(b).alias("band"),
                     F.md5(F.concat_ws("|", *[c.cast("string") for c in cols])).alias("sig"))
        )
    batch = (
        sigs.select(F.col("_id").alias("doc_id"), F.explode(F.array(*band_cols)).alias("bs"))
        .select("doc_id", "bs.band", "bs.sig")
        .toPandas()
    )
    assert set(map(tuple, rowwise.itertuples(index=False))) == set(
        map(tuple, batch.itertuples(index=False))
    )
    # docs 5 and 6 have no shingles: rowwise emits null-min bands only if the
    # batch path does too (batch drops empty docs at the explode)
    empty_docs = set(rowwise[rowwise.doc_id.isin([5, 6])].doc_id)
    assert empty_docs == set(batch[batch.doc_id.isin([5, 6])].doc_id)


def test_dedup_stats_histogram_hand_computed(spark):
    """Two 2-clusters + singletons: histogram rows and duplicate mass."""
    rows = [(i, f"doc {i}") for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = spark.createDataFrame([(0, 1), (2, 3)], "src long, dst long")
    out = {r.cluster_size: r for r in
           dedup.dedup_stats(df, "doc_id", pairs).collect()}
    assert out[2].n_clusters == 2 and out[2].n_docs == 4
    assert out[1].n_clusters == 2 and out[1].n_docs == 2
    n_clusters = sum(r.n_clusters for r in out.values())
    n_docs = sum(r.n_docs for r in out.values())
    assert n_docs == 6 and n_clusters == 4
    assert abs((1 - n_clusters / n_docs) - 2 / 6) < 1e-12  # duplicate mass


def test_auto_planes_holds_bucket_size_constant(spark, emb):
    """n_planes='auto' is the LSH scale knob: with fixed planes the
    within-bucket pair volume is ~N^2/2^planes (quadratic in N); auto
    planes grow with log2(N/target) so expected bucket size — and hence
    per-row candidate work — stays constant as the table grows."""
    from beymani_spark.operators.knn import auto_planes

    assert auto_planes(2_000, 8) == 8          # floor keeps small data selective
    assert auto_planes(20_000, 8) == 12        # 10x data -> ~log2 more planes
    assert auto_planes(20_000_000, 8) == 22
    assert auto_planes(0, 8) == 8 and auto_planes(1, 0) == 8  # degenerate-safe
    # doubling N adds exactly one plane once above the floor: bucket size
    # n/2^planes stays within [target/2, target]
    import math
    for n in (10_000, 40_000, 1_000_000):
        p = auto_planes(n, 8)
        assert 4 <= n / 2**p <= 8, (n, p)
    # integration: 'auto' resolves and produces the same pair semantics
    got = knn.lsh_pair_distances(emb, "vec_id", "embedding", n_planes="auto")
    assert got.filter("src = dst").count() == 0
    assert {"src", "dst", "dist"} <= set(got.columns)


def test_semantic_dedup_prune_rule_matches_numpy(spark, emb):
    """semantic_dedup's keep column must equal the SemDeDup rule recomputed
    independently: drop iff some smaller-id vector in the SAME cluster has
    cosine >= tau. Full-check at 500 fixture vectors."""
    from beymani_spark.functions import caching

    with caching.scope():
        out = similarity.semantic_dedup(emb, "vec_id", "embedding", n_topics=8, tau=0.4)
        got = out.toPandas().set_index("vec_id").sort_index()
    assert len(got) == emb.count()

    rows = emb.collect()
    ids = np.array([r.vec_id for r in rows])
    mat = np.stack([np.asarray(r.embedding, dtype=np.float64) for r in rows])
    order = np.argsort(ids)
    ids, mat = ids[order], mat[order]
    topics = got.loc[ids, "topic"].to_numpy()
    norms = np.sqrt((mat**2).sum(axis=1))
    cos = (mat @ mat.T) / np.outer(norms, norms)
    smaller = ids[None, :] < ids[:, None]        # [i, j]: id_j < id_i
    same = topics[None, :] == topics[:, None]
    dropped = ((cos >= 0.4) & smaller & same).any(axis=1)
    expect = ~dropped
    assert (got.loc[ids, "keep"].to_numpy() == expect).all()
    # the fixture exercises both branches
    assert expect.any() and (~expect).any()


def test_prototype_prune_gate_and_partition_invariance(spark, emb):
    """prototype_prune keeps the least-prototypical ~keep_frac of every
    cluster (tie-aware percent_rank gate), assigns every vector exactly
    once, and must not depend on input partitioning (canonical fit pool +
    broadcast scoring)."""
    out = similarity.prototype_prune(
        emb, "vec_id", "embedding", n_topics=8, keep_frac=0.5
    ).toPandas()
    assert len(out) == emb.count()
    assert out["proto_cos"].between(-1.0000001, 1.0000001).all()
    for t, grp in out.groupby("topic"):
        n = len(grp)
        if n == 1:
            assert grp["keep"].all()  # pr = 0 on a singleton
            continue
        # percent_rank < 0.5 keeps ceil-ish half; ties can widen the band
        kept = int(grp["keep"].sum())
        assert 0 < kept <= n, (t, kept, n)
        # the kept set is exactly the low-cosine band
        mx_kept = grp.loc[grp["keep"], "proto_cos"].max()
        mn_drop = grp.loc[~grp["keep"], "proto_cos"].min()
        assert mx_kept <= mn_drop or abs(mx_kept - mn_drop) < 1e-12
    b = similarity.prototype_prune(
        emb.repartition(13), "vec_id", "embedding", n_topics=8, keep_frac=0.5
    ).toPandas()
    m = out.merge(b, on="vec_id", suffixes=("_a", "_b"))
    assert (m["topic_a"] == m["topic_b"]).all()
    assert (m["keep_a"] == m["keep_b"]).all()


def test_auto_topics_holds_cluster_size_constant(spark, emb):
    """n_topics='auto' is semantic_dedup's scale knob: fixed topics make
    within-cluster pair volume ~N^2/k; auto topics grow linearly with N so
    expected cluster size stays at target."""
    from beymani_spark.operators.similarity import auto_topics

    assert auto_topics(500, 256) == 8        # floor keeps small data coarse
    assert auto_topics(5_000, 256) == 20     # 10x data -> ~10x topics
    assert auto_topics(5_000_000, 256) == 19532
    assert auto_topics(0, 256) == 8 and auto_topics(1, 0) == 8
    for n in (10_000, 100_000, 10_000_000):
        k = auto_topics(n, 256)
        assert n / k <= 256, (n, k)
    # integration: 'auto' resolves and keeps the same output contract
    from beymani_spark.functions import caching

    with caching.scope():
        got = similarity.semantic_dedup(
            emb, "vec_id", "embedding", n_topics="auto"
        ).toPandas()
    assert len(got) == emb.count() and {"vec_id", "topic", "keep"} <= set(got)


def test_topic_share_drift_zero_on_identical_and_detects_shift(spark, emb):
    """Identical snapshots drift 0 on every topic; dropping a biased subset
    from B moves shares. The model is frozen on A, so B's assignment uses
    A's centroids by construction."""
    same = similarity.topic_share_drift(
        emb, emb, "vec_id", "embedding", n_topics=8
    ).toPandas()
    assert (same["share_diff"] == 0).all()
    assert (same["n_a"] == same["n_b"]).all()
    assert abs(same["share_a"].sum() - 1.0) < 1e-4

    a = similarity.topic_assign(emb, "vec_id", "embedding", n_topics=8).toPandas()
    hot = a["topic"].mode()[0]
    drop = set(a[a["topic"] == hot]["vec_id"].head(50))
    b_df = emb.filter(~emb.vec_id.isin(drop))
    drifted = similarity.topic_share_drift(
        emb, b_df, "vec_id", "embedding", n_topics=8
    ).toPandas()
    assert drifted["share_diff"].sum() > 0
    row = drifted[drifted["topic"] == hot].iloc[0]
    assert row["share_b"] < row["share_a"]  # the thinned topic lost share
    assert abs(drifted["share_b"].sum() - 1.0) < 1e-4


def test_media_dup_pairs_lsh_recall_vs_exact(spark):
    """LSH-bucketed media near-dup vs the exact all-pairs form: the LSH
    output must be a strict candidate-subset of the exact pairs, with
    measured recall above a breakage floor. Measured 0.38 at sf0.001 —
    the fixture's 0.997-threshold pairs are random near-ties of sha-
    derived histograms (no structural similarity), hyperplane LSH's
    adversarial case; see the altseed test below for the exact-duplicate
    guarantee that dedup actually relies on."""
    from beymani_spark.functions import caching
    from beymani_spark.plans.registry import QUERIES

    with caching.scope():
        exact = QUERIES["media_dup_pairs"].builder(spark, SF).collect()
        approx = QUERIES["media_dup_pairs_lsh"].builder(spark, SF).collect()
    truth = {(r.src, r.dst) for r in exact}
    got = {(r.src, r.dst) for r in approx}
    assert got <= truth, "LSH emitted a pair the exact engine did not"
    recall = len(truth & got) / len(truth)
    assert recall >= 0.25, f"media_dup_pairs_lsh recall collapsed: {recall:.2f}"


def test_media_dup_pairs_lsh_exact_duplicates_always_collide(spark, alt_sf_dir):
    """Identical texts decode to identical feature vectors, which share a
    signature bit-for-bit — so every cosine == 1.0 pair from the exact
    engine MUST appear in the LSH output (recall 1.0 on true copies, the
    property corpus dedup rests on). The altseed draw plants 10% exact
    text copies to make this non-vacuous."""
    from beymani_spark.functions import caching
    from beymani_spark.plans.registry import QUERIES

    with caching.scope():
        exact = QUERIES["media_dup_pairs"].builder(spark, alt_sf_dir).collect()
        dup_pairs = {(r.src, r.dst) for r in exact if r.cosine == 1.0}
        assert dup_pairs, "altseed draw should contain exact text copies"
        approx_df = QUERIES["media_dup_pairs_lsh"].builder(spark, alt_sf_dir)
        got = {(r.src, r.dst) for r in approx_df.collect()}
    missed = dup_pairs - got
    assert not missed, f"exact duplicates missed by LSH: {sorted(missed)[:5]}"


def test_cosine_dup_pairs_lsh_empty_input(spark):
    """Empty input returns an empty, correctly-shaped pair frame instead
    of crashing on the dim probe."""
    df = spark.createDataFrame([], "media_id long, codes array<int>")
    out = similarity.cosine_dup_pairs_lsh(df, "media_id", "codes")
    assert out.count() == 0
    assert out.columns == ["src", "dst", "cosine"]


def test_cosine_dup_pairs_lsh_null_first_vector_pairs_with_nothing(spark):
    """A NULL vector, even in the first row, pairs with nothing: the rows
    after it still pair, and the centring mean divides by every row."""
    rows = [(1, None), (2, [3, 1, 4, 1]), (3, [3, 1, 4, 1]), (4, [-2, 7, 1, 8])]
    df = spark.createDataFrame(rows, "media_id long, codes array<int>").coalesce(1)
    out = similarity.cosine_dup_pairs_lsh(df, "media_id", "codes", n_planes=4)
    assert [(r.src, r.dst) for r in out.collect()] == [(2, 3)]


@pytest.mark.parametrize("order", ["long_first", "short_first"])
def test_cosine_dup_pairs_lsh_ragged_vectors_raise(spark, order):
    """Vectors of different lengths cannot share a hyperplane set: a clear
    ValueError before hashing, whichever length comes first."""
    rows = [(1, [1, 2, 3, 4]), (2, [1, 2, 3])]
    if order == "short_first":
        rows.reverse()
    df = spark.createDataFrame(rows, "media_id long, codes array<int>").coalesce(1)
    with pytest.raises(ValueError, match="differ in length"):
        similarity.cosine_dup_pairs_lsh(df, "media_id", "codes", n_planes=4).collect()


def test_minhash_pair_counts_are_exact_on_edge_documents(spark):
    """Every pair minhash_lsh_pairs and containment_pairs return carries
    the exact Jaccard and containment of the two documents' shingles()
    sets, on documents at the edges: NULL, empty and too-short text (no
    shingles, so in no pair), repeated tokens, identical documents and a
    short document quoted inside a long one."""
    from pyspark.sql import functions as F

    quote = "to be or not to be that is the question"
    rows = [
        (1, None),
        (2, ""),
        (3, "two words"),
        (4, "la la la la la la la la"),
        (5, "la la la la la la la la la"),
        (6, "the quick brown fox jumps over the lazy dog"),
        (7, "the quick brown fox jumps over the lazy dog"),
        (8, "the quick brown fox jumps over the lazy cat"),
        (9, quote),
        (10, "she wrote " + quote + " was asked again"),
        (11, "a b a b a b a b c"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sh = {
        r.doc_id: set(r.sh)
        for r in df.select("doc_id", dedup.shingles(F.col("text"), 3).alias("sh")).collect()
    }
    jac = dedup.minhash_lsh_pairs(df, "doc_id", min_jaccard=0.0).collect()
    con = dedup.containment_pairs(df, "doc_id", min_containment=0.0).collect()
    for r in jac:
        a, b = sh[r.src], sh[r.dst]
        assert r.src < r.dst and r.jaccard == len(a & b) / len(a | b), r
    for r in con:
        a, b = sh[r.src], sh[r.dst]
        assert r.containment == len(a & b) / min(len(a), len(b)), r
        assert r.jaccard == len(a & b) / len(a | b), r
    pairs = {(r.src, r.dst) for r in jac}
    assert {(r.src, r.dst) for r in con} == pairs
    assert (6, 7) in pairs and (4, 5) in pairs, "identical shingle sets always collide"
    assert not {1, 2, 3} & {d for p in pairs for d in p}
    # the quoted pair collides (checked for these texts): containment 1.0
    assert [r.containment for r in con if (r.src, r.dst) == (9, 10)] == [1.0]


def test_embedding_dup_clusters_lsh_refines_exact(spark, alt_sf_dir):
    """LSH candidate edges are a subset of the exact query's edges, so
    every LSH cluster must sit inside one exact cluster (approximation
    can split clusters, never spuriously merge them) — and the altseed
    draw's planted exact-duplicate vectors must stay clustered together
    (identical vectors share a signature)."""
    from beymani_spark.functions import caching
    from beymani_spark.plans.registry import QUERIES

    with caching.scope():
        exact = {
            r.vec_id: r.cluster_rep
            for r in QUERIES["embedding_dup_clusters"].builder(spark, alt_sf_dir).collect()
        }
        lsh_df = QUERIES["embedding_dup_clusters_lsh"].builder(spark, alt_sf_dir)
        lsh = {r.vec_id: r.cluster_rep for r in lsh_df.collect()}
    assert set(lsh) == set(exact)
    by_lsh_rep: dict = {}
    for vid, rep in lsh.items():
        by_lsh_rep.setdefault(rep, set()).add(exact[vid])
    assert all(len(s) == 1 for s in by_lsh_rep.values()), (
        "an LSH cluster spans multiple exact clusters (spurious merge)"
    )

    from beymani_spark.sources import load_table

    emb = load_table(spark, alt_sf_dir, "embeddings").toPandas()
    by_vec: dict = {}
    for r in emb.itertuples():
        by_vec.setdefault(tuple(r.embedding), []).append(r.vec_id)
    dup_groups = [v for v in by_vec.values() if len(v) > 1]
    assert dup_groups, "altseed draw should plant exact vector copies"
    for grp in dup_groups:
        assert len({lsh[v] for v in grp}) == 1, (
            "exact-duplicate vectors split across LSH clusters"
        )


def test_embedding_audit_hand_built(spark):
    """Embedding QA card on a crafted frame: NaN and inf vectors count as
    non-finite (and stay out of the mean norm), a zero vector counts as
    zero-norm, ragged dims surface in the min/max range, exact float
    duplicates count their full mass, NULL vectors are excluded, and a
    clean stratum reports zeros."""
    import math

    from beymani_spark.operators.similarity import embedding_audit

    rows = [
        ("a", [3.0, 4.0]),            # norm 5
        ("a", [3.0, 4.0]),            # exact duplicate -> dup mass 2
        ("a", [0.0, 0.0]),            # zero-norm
        ("a", [float("nan"), 1.0]),   # non-finite
        ("a", [float("inf"), 1.0]),   # non-finite
        ("a", [1.0, 2.0, 2.0]),       # ragged: dim 3, norm 3
        ("a", None),                  # excluded
        ("b", [6.0, 8.0]),            # clean stratum, norm 10
    ]
    df = spark.createDataFrame(rows, "label string, embedding array<float>")
    out = {r["label"]: r for r in embedding_audit(df, by=["label"]).collect()}

    a = out["a"]
    assert a["n_vecs"] == 6                      # NULL excluded
    assert (a["min_dim"], a["max_dim"]) == (2, 3)
    assert a["n_nonfinite"] == 2
    assert a["n_zero_norm"] == 1
    assert a["n_dup_vecs"] == 2                  # both copies count
    # mean over the finite vectors: (5 + 5 + 0 + 3) / 4
    assert math.isclose(a["mean_norm"], 3.25, abs_tol=1e-9)

    b = out["b"]
    assert b["n_vecs"] == 1 and b["n_nonfinite"] == 0
    assert b["n_zero_norm"] == 0 and b["n_dup_vecs"] == 0
    assert math.isclose(b["mean_norm"], 10.0, abs_tol=1e-9)

    import pytest

    with pytest.raises(ValueError, match="stratum"):
        embedding_audit(df, by=[])
