"""Deduplication operators for training-data pipelines (north-star surface):
exact hash dedup, n-gram Jaccard near-dup, MinHash+LSH, SimHash.

Scale posture:
- exact_duplicates: one groupBy on md5(text) — the canonical 100 TB dedup.
- jaccard_pairs: *exact* near-dup within token-length bands — the
  correctness/oracle path. O(B²) per band; band width bounds the blow-up.
- minhash_lsh_pairs / containment_pairs / incremental_minhash: one
  row-wise sketch per document (minhash_sketch: its distinct shingle
  array and k array_min minhashes, no explode, no aggregation) feeds the
  banded candidate-pair engine (banding.banded_pairs), and each
  candidate pair is verified exactly from its two shingle arrays
  (size of array_intersect), joined back from the same persisted sketch.
- simhash_dup_pairs: the same engine over a SimHash, verified by
  bit_count(xor).

Hashing: every MinHash and SimHash sketch derives from Spark's md5() hex
string, which DuckDB computes identically, so MinHash-LSH and SimHash are
fully DuckDB-oracle-verifiable (hash parity, not just rows). MinHash takes
a 32-bit base hash from the first md5 word; SimHash takes sketch bit b
from md5 word b // 32. md5 is a JVM codegen built-in: one digest per
shingle/token occurrence. The streaming bands (rowwise_minhash_bands) band
the same sketch, so batch and stream bands always match.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import caching
from .banding import banded_pairs
from .text import tokens


def exact_duplicates(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Per-doc content hash + size of its duplicate group.

    Two-phase count, not a window: ``count over
    Window.partitionBy(content_hash)`` materializes an entire duplicate
    group in ONE window task, and a degenerate hot digest (billions of
    empty/boilerplate docs) makes that task the stage straggler —
    WindowExec spills and crawls, and AQE cannot split a window
    partition. The groupBy count partial-aggregates map-side (the hot
    digest collapses to one row per map task BEFORE the shuffle), and
    the join-back is a join, which AQE's skew handling CAN split. The
    isNotNull filter keeps the inner join's null-digest drop semantics
    explicit (null never equi-joins), so NULL-text rows stay excluded.
    Costs one extra (column-pruned) scan of the input — the scale-safe
    trade."""
    hashed = df.select(id_col, F.md5(F.col(text_col)).alias("content_hash")).filter(
        F.col("content_hash").isNotNull()
    )
    counts = hashed.groupBy("content_hash").agg(
        F.count(F.lit(1)).alias("dup_count")
    )
    return hashed.join(counts, "content_hash").select(
        id_col, "content_hash", "dup_count"
    )


def shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a text column.

    Built by chained ``zip_with`` over shifted slices, NOT by indexing the
    token array inside a ``transform`` lambda: expressions referenced from
    a higher-order-function body are re-evaluated PER ELEMENT (codegen
    subexpression elimination does not reach through lambdas), so the
    obvious ``element_at(tokens(text), i+j)`` form re-splits the text once
    per gram position — quadratic per document (measured 13x slower at
    sf0.1). ``zip_with``/``slice`` evaluate their array children once per
    row, so this form costs O(n) splits per row. Callers that already
    project the token array (exploded_shingles) stay on their single-split
    path."""
    t = tokens(text)
    size = F.size(t)
    grams = t
    for j in range(1, n):
        # zip_with pads the shorter side with NULLs to the longer length;
        # slice the tail off so no truncated gram survives
        grams = F.slice(
            F.zip_with(
                grams,
                F.slice(t, j + 1, F.greatest(size - j, F.lit(0))),
                lambda a, b: F.concat_ws(" ", a, b),
            ),
            1,
            F.greatest(size - j, F.lit(0)),
        )
    grams = F.when(size >= n, grams).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(grams)


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    band_width: int = 20,
    min_jaccard: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for doc pairs in the same token-length
    band: (src, dst, jaccard). Blocking: floor(n_tokens/band_width) equality —
    near-dups have near-equal lengths, so recall loss is at band boundaries
    only (documented approximation, identical on the oracle side).

    Count-based explode-join: |A∩B| from an equi-join on (band, shingle) with
    partial-aggregated counts; join volume is Σ_shingle freq². Everything is
    row-based and codegen (see exploded_shingles); the shingle table is
    persisted because three plan branches consume it."""
    sh = exploded_shingles(df, id_col, text_col, n)
    bands = df.repartition(F.col(id_col)).select(
        F.col(id_col).alias("_id"),
        (F.size(tokens(F.col(text_col))) / F.lit(band_width)).cast("long").alias("_band"),
    )
    ex = caching.persist(sh.join(bands, "_id"))
    sizes = ex.groupBy("_id", "_band").agg(F.count("*").alias("_n"))
    inter = (
        ex.alias("a")
        .join(
            ex.alias("b"),
            (F.col("a._band") == F.col("b._band"))
            & (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .groupBy(F.col("a._id").alias("src"), F.col("b._id").alias("dst"))
        .agg(F.count("*").alias("_inter"))
    )
    out = (
        inter.join(
            sizes.select(F.col("_id").alias("src"), F.col("_n").alias("_na")), "src"
        )
        .join(
            sizes.select(F.col("_id").alias("dst"), F.col("_n").alias("_nb")), "dst"
        )
        .withColumn(
            "jaccard",
            F.col("_inter") / (F.col("_na") + F.col("_nb") - F.col("_inter")),
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .select("src", "dst", "jaccard")
    )
    return out


def exploded_shingles(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(_id, sh) — one row per distinct shingle per doc.

    Narrow array-expression path: tokens are materialized as their own
    projected column so the n-gram transform indexes the array instead of
    re-evaluating the split per element, shingles dedup per-doc with
    array_distinct, and one explode emits the rows — no window sort and no
    global distinct shuffle (an earlier lead()-window variant paid both;
    measured 2.5x slower at sf0.1). The repartition spreads work when the
    source has few input splits."""
    tok = df.repartition(F.col(id_col)).select(
        F.col(id_col).alias("_id"), tokens(F.col(text_col)).alias("_toks")
    )
    t = F.col("_toks")
    size = F.size(t)
    grams = F.when(
        size >= n,
        F.transform(
            F.sequence(F.lit(1), size - (n - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(t, (i + j).cast("int")) for j in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return tok.select("_id", F.explode(F.array_distinct(grams)).alias("sh"))


#: modulus for the affine minhash family (Mersenne prime 2^61-1): products
#: a_i * h32 stay under 2^61 so BIGINT arithmetic never overflows (Spark 4
#: ANSI mode throws on overflow; DuckDB too).
MINHASH_P = (1 << 61) - 1


def minhash_affine_constants(num_hashes: int, seed: int = 1234) -> list[tuple[int, int]]:
    """Seeded (a_i, b_i) pairs for the Kirsch-Mitzenmacher family
    h_i(x) = (a_i * h(x) + b_i) mod P. a_i < 2^29 keeps a_i * h32 < 2^61.
    Shared by the Spark path and the DuckDB oracle generator so both sides
    evaluate the identical integer expressions."""
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, 1 << 29), rng.randrange(0, 1 << 29))
        for _ in range(num_hashes)
    ]


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    num_hashes: int = 16,
    n: int = 3,
) -> DataFrame:
    """(_id, mh_0..mh_{k-1}): minhash_i = min over shingles of h_i(sh), by
    one explode and one partial-aggregated groupBy.

    Kept: reference + test. No operator reads it; it is the independent
    relational form that test_lsh_recall and test_drift_streaming check
    :func:`minhash_sketch` (array_min per row) against, so an arithmetic
    slip in either form shows as a band mismatch.

    The md5 base hash is projected as its own column before the k affine
    aggregates: CollapseProject won't inline a non-cheap alias referenced k
    times, so each shingle pays ONE digest+conv instead of k."""
    keyed = exploded_shingles(df, id_col, text_col, n).select(
        "_id",
        F.conv(F.substring(F.md5("sh"), 1, 8), 16, 10).cast("long").alias("_h32"),
    )
    hashes = [
        F.pmod(F.lit(a) * F.col("_h32") + F.lit(b), F.lit(MINHASH_P))
        for a, b in minhash_affine_constants(num_hashes)
    ]
    return keyed.groupBy("_id").agg(
        *[F.min(h).alias(f"mh_{i}") for i, h in enumerate(hashes)]
    )


def minhash_band_sigs(num_hashes: int, bands: int) -> list[Column]:
    """LSH band signature expressions over the ``mh_0..mh_{k-1}`` minhash
    columns: band b digests its ``num_hashes // bands`` minhashes (md5 of
    the '|'-joined decimals, DuckDB-reproducible). ONE source of truth for
    every banding of a :func:`minhash_sketch` (the batch candidate join,
    the incremental ingest and the row-wise streaming bands), so they can
    never band differently."""
    if bands <= 0 or num_hashes % bands != 0:
        raise ValueError(
            f"bands ({bands}) must evenly divide num_hashes ({num_hashes}); "
            "a remainder would silently drop minhashes from every signature"
        )
    rows_per_band = num_hashes // bands

    def band_sig(b: int) -> Column:
        cols = [F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
        return F.md5(F.concat_ws("|", *[c.cast("string") for c in cols]))

    return [band_sig(b) for b in range(bands)]


def minhash_sketch(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int, n: int
) -> DataFrame:
    """(id_col, sh, mh_0..mh_{k-1}): one row per document — its distinct
    shingle array (:func:`shingles`) and its k minhashes, each an
    array_min over that array. No aggregation and no explode: the whole
    sketch is a stateless column expression, so batch and streaming
    callers share it, and a document's exact-Jaccard verification reads
    the same ``sh`` its minhashes came from.

    ONE md5 per shingle: the first 8 hex chars are a 32-bit base hash,
    and the k hashes are affine maps (a_i*h+b_i) mod 2^61-1
    (Kirsch-Mitzenmacher double hashing); DuckDB reproduces every step
    bit-for-bit. The base hashes are projected as their own array column
    so the k array_min transforms reuse it (CollapseProject keeps a
    non-cheap multi-referenced alias) instead of re-digesting k times.

    Documents with no shingles (NULL text, or fewer than n tokens) are
    dropped: a NULL minhash would band as md5('') and falsely match every
    other shingle-less document."""
    base = df.select(F.col(id_col), shingles(F.col(text_col), n).alias("sh"))
    hashed = base.select(
        id_col,
        "sh",
        F.transform(
            "sh", lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")
        ).alias("_h32s"),
    )

    def _h(a: int, b: int):
        # single-arg closure: F.transform treats default args as lambda
        # arity and would pass the element index as the second parameter
        return lambda x: F.pmod(F.lit(a) * x + F.lit(b), F.lit(MINHASH_P))

    mins = [
        F.array_min(F.transform(F.col("_h32s"), _h(a, b))).alias(f"mh_{i}")
        for i, (a, b) in enumerate(minhash_affine_constants(num_hashes))
    ]
    return hashed.select(id_col, "sh", *mins).filter(F.col("mh_0").isNotNull())


def _shingle_overlap_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    bands: int,
    n: int,
) -> DataFrame:
    """Banded-minhash candidates with their exact shingle counts:
    (src, dst, _inter, _na, _nb) — |A∩B|, |A|, |B|. The one verification
    of minhash_lsh_pairs and containment_pairs, which differ only in the
    final ratio.

    The sketch is persisted once: the band self-join
    (banding.banded_pairs) and both verification sides read it. The
    candidates join back to it for the two shingle arrays, and the counts
    are array expressions on each candidate row — the arrays are distinct
    per document, so |A∩B| is the size of their array_intersect.
    Candidates are near-dup-proportional, so AQE broadcasts them into
    both join-backs and the sketch is scanned, never shuffled. Carrying
    ``sh`` through the band join instead (``carry``) pushes every array
    through the self-join and its distinct; measured slower at sf0.1."""
    sketch = caching.persist(minhash_sketch(df, id_col, text_col, num_hashes, n))
    cand = banded_pairs(sketch, id_col, minhash_band_sigs(num_hashes, bands))

    def side(name: str) -> DataFrame:
        return sketch.select(F.col(id_col).alias(name), F.col("sh").alias(f"sh_{name}"))

    a, b = F.col("sh_src"), F.col("sh_dst")
    return (
        cand.join(side("src"), "src")
        .join(side("dst"), "dst")
        .select(
            "src",
            "dst",
            F.size(F.array_intersect(a, b)).cast("long").alias("_inter"),
            F.size(a).cast("long").alias("_na"),
            F.size(b).cast("long").alias("_nb"),
        )
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    min_jaccard: float = 0.5,
) -> DataFrame:
    """Scale-path near-dup: banded minhash candidates, verified with exact
    Jaccard. Output (src, dst, jaccard) with jaccard >= min_jaccard.
    Candidates and counts come from _shingle_overlap_pairs."""
    counted = _shingle_overlap_pairs(df, id_col, text_col, num_hashes, bands, n)
    i = F.col("_inter")
    verified = counted.withColumn(
        "jaccard", i / (F.col("_na") + F.col("_nb") - i)
    ).filter(F.col("jaccard") >= min_jaccard)
    return verified.select("src", "dst", "jaccard")


def _cluster_labels(
    df: DataFrame,
    id_col: str,
    pairs: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    local_threshold: int = 1_000_000,
    stats: dict | None = None,
) -> tuple[DataFrame, bool]:
    """Shared labeling core of the cluster consumers: returns
    ((id_col, _rep) with _rep NULL for docs in no pair, local), local
    True when the labels came from the driver union-find. The
    keep-one/keep-best/histogram consumers need only the labels — the
    per-cluster size attach lives in :func:`dedup_clusters` so they don't
    pay its aggregate+join.

    Hybrid execution keyed on |pairs| — the VERIFIED near-dup pair set,
    which is orders of magnitude smaller than the corpus (it is the sparse
    output of LSH + verification, not the fact table):

    - |pairs| <= local_threshold (default 1M ≈ 16 MB): union-find with path
      compression on the collected pair list, broadcast back as a node→rep
      mapping frame. Exact, one job, no iteration — the same small-side
      bound rationale as a broadcast-join threshold.
    - |pairs| > local_threshold: distributed min-label propagation with
      pointer jumping — each round every node takes min(own, neighbor
      labels) then compresses one level through the label mapping, so
      chains collapse in O(log diameter) rounds, one |E| + one |V| shuffle
      each, no driver-side graph state. Labels only decrease, so
      convergence is an unchanged decimal label sum between rounds.

    One ``limit(local_threshold + 1)`` collect picks the mode: the driver
    bound is the same on both sides of the threshold, and under it the
    collected rows are the union-find input (no separate count job).

    ``stats``, if given, receives {'n_pairs', 'mode', 'rounds'} after plan
    construction ('rounds' only in distributed mode, where 'n_pairs' costs
    one count job) — the observability hook the giant-chain stress test
    uses to assert the O(log n) bound."""
    edges_df = caching.persist(
        pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    )
    # one bounded collect decides the mode and, under the bound, IS the
    # union-find input: at most local_threshold + 1 rows reach the driver
    edge_rows = edges_df.limit(local_threshold + 1).collect()
    local = len(edge_rows) <= local_threshold
    if stats is not None:
        stats["n_pairs"] = len(edge_rows) if local else edges_df.count()
        stats["mode"] = "local" if local else "distributed"
    if local:
        parent: dict = {}

        def find(x):
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:  # path compression
                parent[x], x = root, parent[x]
            return root

        nodes: set = set()
        for row in edge_rows:
            nodes.add(row["a"])
            nodes.add(row["b"])
            ra, rb = find(row["a"]), find(row["b"])
            if ra != rb:
                # union by min so the root IS the representative
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        # map EVERY pair node, roots included (roots never appear as
        # parent keys): the sparse cluster-size aggregate below counts
        # comp-matched rows, so a root missing from comp would undercount
        # its own cluster by one
        mapping = [(node, find(node)) for node in nodes]
        # edges are fully consumed by the bounded collect above — release
        # the cache now so long sessions (bench, many queries) don't
        # accumulate storage pressure that pushes later caches to disk
        edges_df.unpersist()
        id_type = df.schema[id_col].dataType
        from pyspark.sql.types import StructField, StructType

        comp = df.sparkSession.createDataFrame(
            mapping,
            StructType([StructField("_cid", id_type), StructField("_rep", id_type)]),
        )
    else:
        edges = caching.persist(
            edges_df.union(edges_df.select(F.col("b").alias("a"), F.col("a").alias("b")))
            .distinct()
        )
        # Each round consumes `labels` TWICE (the candidate min and the
        # label->label compression mapping), so building round r+1 on round
        # r's PLAN doubles the logical plan per round — by round ~17 the
        # plan tree is 2^17 copies of the base query and the driver OOMs
        # just STRINGIFYING it (caught by the 10^5-member chain stress
        # test). persist() caches data but does not truncate lineage;
        # localCheckpoint does both: every round starts from a flat
        # LogicalRDD, so plan size and per-round driver work stay CONSTANT
        # across rounds. Superseded rounds' blocks are freed by Spark's
        # ContextCleaner or at scope exit (each labels frame is |V| longs —
        # the sparse verified-pair node set, not the corpus).
        # LAZY checkpoints throughout the propagation loop: each round's
        # convergence-sum collect materializes that round's frame in the
        # SAME job (eager=True ran an internal count per round — one
        # extra fixed-latency job per round for nothing). Lineage still
        # truncates at every round boundary, which is the property the
        # loop needs (see the plan-doubling note above).
        labels = caching.checkpoint(
            edges.select("a").distinct()
            .select("a", F.col("a").alias("lbl"))
        )
        prev_sum = None
        rounds = 0
        for _ in range(max_iter):
            nbr = (
                edges.join(
                    labels.select(F.col("a").alias("b"), F.col("lbl").alias("_nlbl")), "b"
                )
                .groupBy("a")
                .agg(F.min("_nlbl").alias("_nmin"))
            )
            cand = labels.join(nbr, "a", "left").select(
                "a", F.least("lbl", F.coalesce("_nmin", "lbl")).alias("lbl")
            )
            mapping_df = labels.select(
                F.col("a").alias("_mfrom"), F.col("lbl").alias("_mto")
            )
            new = caching.checkpoint(
                cand.join(mapping_df, cand["lbl"] == mapping_df["_mfrom"], "left")
                .select(
                    "a",
                    F.least(cand["lbl"], F.coalesce("_mto", cand["lbl"])).alias("lbl"),
                )
            )
            cur_sum = new.agg(
                F.sum(F.col("lbl").cast("decimal(38,0)")).alias("s")
            ).collect()[0]["s"]
            labels = new
            rounds += 1
            if cur_sum == prev_sum:
                break
            prev_sum = cur_sum
        if stats is not None:
            stats["rounds"] = rounds
        comp = labels.select(F.col("a").alias("_cid"), F.col("lbl").alias("_rep"))
        edges.unpersist()
    # attach labels with a broadcast-sized join (AQE skew-splits it if a
    # rep is ever hot in distributed mode); _rep stays NULL for docs in
    # no pair so consumers can split singletons without a second pass
    labeled = df.select(F.col(id_col)).join(
        F.broadcast(comp) if local else comp,
        F.col(id_col) == F.col("_cid"),
        "left",
    ).select(id_col, F.col("_rep"))
    edges_df.unpersist()
    return labeled, local


def dedup_clusters(
    df: DataFrame,
    id_col: str,
    pairs: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    local_threshold: int = 1_000_000,
    stats: dict | None = None,
) -> DataFrame:
    """Group near-dup pairs into connected components and assign every doc
    a canonical representative: (id_col, cluster_rep, cluster_size), where
    cluster_rep is the minimum id reachable through the pair graph (docs
    in no pair are singletons representing themselves). Labeling strategy
    and knobs: :func:`_cluster_labels`."""
    labeled, local = _cluster_labels(
        df, id_col, pairs, src, dst, max_iter, local_threshold, stats
    )
    matched = labeled.filter(F.col("_rep").isNotNull())
    sizes = matched.groupBy("_rep").agg(F.count(F.lit(1)).alias("_csize"))
    # cluster_size from the SPARSE matched set, never a fact-sized window
    # (a degenerate giant cluster would land in one unsplittable window
    # task); singletons never enter the sizes join (their _rep is null
    # and would otherwise all shuffle into one null-key partition) — they
    # are definitionally size 1 and union back as a scan-side branch
    return (
        matched.join(
            F.broadcast(sizes) if local else sizes, "_rep"
        )
        .select(
            id_col,
            F.col("_rep").alias("cluster_rep"),
            F.col("_csize").alias("cluster_size"),
        )
        .unionByName(
            labeled.filter(F.col("_rep").isNull()).select(
                id_col,
                F.col(id_col).alias("cluster_rep"),
                F.lit(1).cast("long").alias("cluster_size"),
            )
        )
    )


def dedup_corpus(
    df: DataFrame,
    id_col: str,
    pairs: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Keep-one-per-cluster corpus: the input rows whose id is its cluster's
    representative (min id). The anti-join complement of dedup_clusters —
    this is the operator a training pipeline runs to materialize the deduped
    dataset."""
    # labels only — the keep-set never reads cluster_size, so skip
    # dedup_clusters' size aggregate+join: a doc survives iff it is a
    # singleton (_rep null) or its own representative
    labeled, _ = _cluster_labels(df, id_col, pairs, src, dst)
    keep = labeled.filter(
        F.col("_rep").isNull() | (F.col(id_col) == F.col("_rep"))
    ).select(id_col)
    return df.join(keep, id_col)


def dedup_corpus_best(
    df: DataFrame,
    id_col: str,
    pairs: DataFrame,
    score_col: str,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Keep-BEST-per-cluster corpus: like ``dedup_corpus`` but the survivor
    of each near-dup cluster is the member with the highest ``score_col``
    (quality, freshness, licence rank — whatever the curation policy
    maximizes), not the smallest id. This is what production dedup
    actually wants: when a boilerplate-mangled scrape and a clean original
    are near-dups, first-occurrence keeps whichever crawled first; this
    keeps the clean one.

    Selection is ONE partial-aggregating ``max_by`` over the cluster
    labels (no rank window, no sort): the total order is
    (score IS NOT NULL, score, -id) — a NULL score loses to ANY scored
    member regardless of the score domain (no magic sentinel, so
    negative scores order correctly too) and exact ties keep the
    smallest id — deterministic under any partitioning. The aggregated
    keep-set joins back as an equi-join; cluster labels come from
    ``dedup_clusters`` (same pair graph, same O(log n) propagation
    bound)."""
    # labels only — selection never reads cluster_size (see dedup_corpus)
    labeled, _ = _cluster_labels(df, id_col, pairs, src, dst)
    clusters = labeled.select(
        id_col, F.coalesce(F.col("_rep"), F.col(id_col)).alias("cluster_rep")
    )
    scored = clusters.join(df.select(id_col, score_col), id_col)
    order = F.struct(
        F.col(score_col).isNotNull().cast("int").alias("_scored"),
        F.coalesce(F.col(score_col).cast("double"), F.lit(0.0)).alias("_s"),
        (-F.col(id_col)).alias("_negid"),
    )
    best = scored.groupBy("cluster_rep").agg(
        F.max_by(F.col(id_col), order).alias("_keep")
    )
    return df.join(best.select(F.col("_keep").alias(id_col)), id_col)


def auto_simhash_bits(
    n: int, max_hamming: int = 3, target_bucket: int = 8
) -> int:
    """Sketch width that holds the expected band-bucket size ~constant as
    the corpus grows — the Hamming-banding analogue of ``knn.auto_planes``.
    Pigeonhole banding splits ``bits`` into ``max_hamming+1`` bands of
    width w; random-pair candidates per band are N^2/2^w, so a FIXED w
    (w=8 for 32 bits at max_hamming=3) degrades quadratically once N
    outgrows the band space. w = max(8, ceil(log2(n / target_bucket))) keeps buckets
    ~target-sized; the 96-bit cap (three md5 words) holds it to
    target·2^24 ≈ 10^8 docs at 4 bands. Note the SEMANTIC trade: a fixed
    ``max_hamming`` over a wider sketch is a stricter near-dup cut
    (expected hamming grows with bits for fixed similarity) — exact
    duplicates always sketch identically, so dedup recall on true copies
    stays 1 at any width."""
    from .knn import auto_planes

    # the band-width knob IS knn.auto_planes' plane count — one source of
    # truth for the bucket-size-vs-N scale formula
    w = auto_planes(n, target_bucket)
    return min(96, (max_hamming + 1) * w)


def simhash_bands(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    bits: int = 32,
    n_bands: int = 4,
) -> DataFrame:
    """Wide md5 SimHash split into pigeonhole bands: (id, bands
    array<long>), band i packing sketch bits [i·w, (i+1)·w), w = bits //
    n_bands. Token-hash bit b comes from bit b%32 of md5 hex word b//32
    (words = successive 8-hex-char slices of the digest), so any width up
    to 128 stays bit-for-bit reproducible in DuckDB via strpos-nibble
    arithmetic. One md5 per distinct token per doc; the per-bit ±1 sums
    are one partial-aggregated groupBy."""
    if bits % n_bands:
        raise ValueError("bits must divide evenly into n_bands bands")
    if bits > 128:
        raise ValueError("md5 simhash supports at most 128 bits")
    w = bits // n_bands
    words_needed = (bits + 31) // 32
    ex = df.select(
        F.col(id_col).alias("_sid"),
        F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("_tok"),
    ).withColumn("_hx", F.md5("_tok"))
    ex = ex.select(
        "_sid",
        *[
            F.conv(F.substring("_hx", 1 + 8 * k, 8), 16, 10)
            .cast("long")
            .alias(f"_w{k}")
            for k in range(words_needed)
        ],
    )
    bit_aggs = [
        F.sum(
            F.when(
                F.shiftright(F.col(f"_w{b // 32}"), b % 32).bitwiseAND(F.lit(1))
                == 1,
                1,
            ).otherwise(-1)
        ).alias(f"_bit_{b}")
        for b in range(bits)
    ]
    sums = ex.groupBy("_sid").agg(*bit_aggs)
    band_cols = []
    for i in range(n_bands):
        val = None
        for j in range(w):
            term = F.when(
                F.col(f"_bit_{i * w + j}") > 0, F.lit(2**j)
            ).otherwise(F.lit(0))
            val = term if val is None else val + term
        band_cols.append(val.cast("long"))
    return sums.select(
        F.col("_sid").alias(id_col), F.array(*band_cols).alias("bands")
    )


def simhash_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    max_hamming: int = 3,
    bits: int | None = None,
    target_bucket: int = 8,
) -> DataFrame:
    """Near-dup pairs (src, dst, hamming) by SimHash with exact Hamming-LSH
    banding: the sketch (simhash_bands) is split into max_hamming+1 bands,
    so a pair within max_hamming differing bits leaves at least one band
    identical (pigeonhole) — the banded join (banding.banded_pairs) has
    FULL recall, and the sum of per-band bit_count(xor) verifies the true
    hamming distance over the whole sketch.

    ``bits=None`` sizes the sketch to the DATA (auto_simhash_bits, one
    cheap count): band buckets stay ~target_bucket-sized as the corpus
    grows, so candidate volume is ~N·bucket instead of N^2/2^w. A fixed
    ``bits`` (rounded down to a multiple of the band count) skips the
    count; a fixed-N deployment can precompute ``auto_simhash_bits(n)``."""
    n_bands = max_hamming + 1
    if bits is None:
        bits = auto_simhash_bits(df.count(), max_hamming, target_bucket)
    if bits < n_bands:
        raise ValueError(
            f"bits={bits} cannot fill max_hamming+1={n_bands} pigeonhole "
            "bands (need at least 1 bit per band)"
        )
    bits = (bits // n_bands) * n_bands
    cand = banded_pairs(
        simhash_bands(df, id_col, text_col, bits, n_bands),
        id_col,
        [F.col("bands")[i] for i in range(n_bands)],
        carry=["bands"],
    )
    hamming = F.aggregate(
        F.zip_with(
            F.col("bands_a"),
            F.col("bands_b"),
            lambda x, y: F.bit_count(x.bitwiseXOR(y)).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    ).cast("int")
    out = cand.select("src", "dst", hamming.alias("hamming")).filter(
        F.col("hamming") <= F.lit(max_hamming)
    )
    return out


def rowwise_minhash_bands(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    keep_shingles: bool = False,
) -> DataFrame:
    """(id, band, sig) rows of the :func:`minhash_sketch` — computed per
    row with NO aggregation, so a stream can band NEW documents and
    stream-static join them against a corpus band table (a stream cannot
    groupBy(doc) without state). The bands are those the batch candidate
    join uses, so stream and batch always band alike.

    ``keep_shingles`` carries the distinct-shingle array through as a
    ``sh`` column (needed when the band rows feed an exact-Jaccard
    verification, e.g. streaming.stream_near_dup_verified — a later join
    back to the source would be a stream-stream join, so the array must
    ride along)."""
    carried = ["sh"] if keep_shingles else []
    return minhash_sketch(df, id_col, text_col, num_hashes, n).select(
        F.col(id_col),
        F.posexplode(F.array(*minhash_band_sigs(num_hashes, bands))).alias("band", "sig"),
        *carried,
    )


def corpus_band_manifest(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
) -> DataFrame:
    """Static (id, band, sig, sh) manifest for stream-side VERIFIED
    near-dup: each doc's band signatures with its distinct shingle array,
    one row per (doc, band). The shingle array is duplicated across a
    doc's band rows — the storage cost of letting a stateless
    stream-static join carry everything exact-Jaccard verification needs
    (the stream side cannot join back to the corpus text later without
    state). Write it out with the partitioned sinks and refresh it on the
    batch ingest cadence. The array is the one the signatures derive from
    (:func:`minhash_sketch`), so the manifest is self-consistent by
    construction."""
    return rowwise_minhash_bands(
        df, id_col, text_col, num_hashes, bands, n, keep_shingles=True
    )


def chunk_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    chunk_tokens: int = 10,
    lowercase: bool = False,
) -> DataFrame:
    """Exact substring-level dedup at token-chunk granularity (the
    distributed, chunk-quantized form of exact-substring training-data
    dedup a la Lee et al., "Deduplicating Training Data Makes Language
    Models Better"): split each doc into consecutive ``chunk_tokens``-token
    chunks, keep corpus-wide only the FIRST occurrence of each distinct
    chunk (ordered by (id, chunk_idx)), and reassemble the surviving chunks
    into a cleaned text. Unlike doc-level dedup (exact_duplicates), this
    removes boilerplate spans repeated ACROSS distinct documents.

    Output: (id_col, n_chunks, n_kept, clean_text).

    Scale shape: one explode (docs -> chunks), then the first-occurrence
    owner per chunk via groupBy(hash).agg(min(struct(id, idx))) — a
    partial-aggregated shuffle, so a boilerplate chunk repeated a billion
    times collapses map-side instead of hot-spotting one reducer (the
    reason this is an agg+join, not a row_number window over the chunk
    partition) — then one equi-join back and a per-doc reassembly groupBy.
    The ownership agg and the join back key on a TWO-SEED xxhash64
    composite of the chunk (128 effective bits, 16 bytes) instead of the
    raw ~10-token string: the ownership shuffle and the join's build side
    carry fixed-width longs, roughly halving exchange bytes on the
    heaviest stage, and at 10¹¹ distinct chunks the collision expectation
    is n²/2¹²⁹ ≈ 1e-17 — a single 64-bit key would already expect O(100)
    false merges at that scale, which is why the key is composite.
    Everything is codegen column expressions; no UDFs, no driver state.
    """
    text = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    toks = tokens(text)
    k = int(chunk_tokens)
    n_chunks = F.ceil(F.size("_toks") / F.lit(k)).cast("int")
    chunked = (
        df.select(F.col(id_col).alias("_id"), toks.alias("_toks"))
        .filter(F.size("_toks") > 0)
        .select(
            "_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), n_chunks - 1),
                    lambda i: F.array_join(
                        F.slice(F.col("_toks"), i * k + 1, k), " "
                    ),
                )
            ).alias("chunk_idx", "chunk"),
        )
    )
    return _first_occurrence_chunk_dedup(chunked, id_col)


def _first_occurrence_chunk_dedup(chunked: DataFrame, id_col: str) -> DataFrame:
    """Shared ownership pipeline of chunk_dedup / cdc_chunk_dedup: given
    exploded (_id, chunk_idx, chunk) rows, keep corpus-wide only the first
    occurrence of each distinct chunk (min (id, idx)) and reassemble each
    doc's surviving chunks into (id, n_chunks, n_kept, clean_text). The
    ownership agg and the join back key on the two-seed xxhash64 composite
    (see chunk_dedup's scale notes)."""
    hashed = chunked.withColumn("_ch1", F.xxhash64("chunk")).withColumn(
        "_ch2", F.xxhash64("chunk", F.lit(1))
    )
    first = (
        hashed.select("_ch1", "_ch2", "_id", "chunk_idx")
        .groupBy("_ch1", "_ch2")
        .agg(F.min(F.struct("_id", "chunk_idx")).alias("_first"))
    )
    kept_flag = (
        hashed.join(first, ["_ch1", "_ch2"])
        .withColumn(
            "_kept",
            (F.col("_first._id") == F.col("_id"))
            & (F.col("_first.chunk_idx") == F.col("chunk_idx")),
        )
    )
    per_doc = kept_flag.groupBy("_id").agg(
        F.count("*").alias("n_chunks"),
        F.sum(F.col("_kept").cast("long")).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("_kept"), F.struct("chunk_idx", "chunk"))
                    )
                ),
                lambda s: s["chunk"],
            ),
            " ",
        ).alias("clean_text"),
    )
    return per_doc.select(
        F.col("_id").alias(id_col), "n_chunks", "n_kept", "clean_text"
    )


def cdc_chunk_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    window: int = 4,
    mask_bits: int = 3,
    lowercase: bool = False,
) -> DataFrame:
    """Content-defined-chunking substring dedup — the shift-robust upgrade
    over chunk_dedup's fixed windows (the FastCDC/rsync idea applied at
    token granularity): a chunk boundary falls AFTER token i whenever the
    rolling hash of the ``window`` tokens ending at i has its low
    ``mask_bits`` bits zero (expected chunk length 2^mask_bits tokens).
    Because boundaries depend only on local content, inserting one token
    at the head of a duplicated span shifts every fixed chunk_dedup chunk
    (zero dedup) but CDC boundaries RE-SYNCHRONIZE after at most one
    window — downstream chunks still dedup exactly.

    The rolling hash reuses the repo's SQL-replicable fingerprint
    constants (FP_TOKEN_MOD/FP_MULT/FP_MOD, operators/text.py — the same
    arithmetic text.fingerprint replays in DuckDB), so the boundary
    decisions are engine-exact. Output and ownership semantics are
    chunk_dedup's exactly: (id, n_chunks, n_kept, clean_text), first
    occurrence by (id, chunk_idx) wins.

    Scale shape: the chunker is pure codegen array expressions — O(n *
    window) hash work per doc, then the same explode + partial-agg
    ownership + join-back as chunk_dedup (bounds arrays never leave the
    row). Unbounded-chunk caveat: a pathological doc whose hashes never
    hit the mask yields one doc-sized chunk — the same per-row bound as
    the doc's own text, so no worse than the scan that read it.

    Reference analogue: none (the reference dedups whole records);
    this follows the published CDC literature."""
    from .text import FP_MOD, FP_MULT, FP_TOKEN_MOD

    text = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    w = int(window)
    mask = (1 << int(mask_bits)) - 1

    base = df.select(F.col(id_col).alias("_id"), tokens(text).alias("_toks")).filter(
        F.size("_toks") > 0
    )
    th = F.transform(
        F.col("_toks"),
        lambda x: (F.lit(31) * F.length(x) + F.ascii(x)) % F.lit(FP_TOKEN_MOD),
    )
    base = base.withColumn("_th", th).withColumn("_n", F.size("_toks"))

    def win_hash(i):
        # H(i) = sum_j th[i-j] * FP_MULT^j (j = 0 at the trailing token),
        # all 0-based positions; element_at is 1-based. Magnitude bound:
        # FP_TOKEN_MOD * sum(FP_MULT^j) ~ 2.3e12 << 2^63, so the sum is
        # exact in a long before the mod.
        terms = [
            F.element_at(F.col("_th"), i - F.lit(j) + 1) * F.lit(FP_MULT**j)
            for j in range(w)
        ]
        s = terms[0]
        for t in terms[1:]:
            s = s + t
        return s % F.lit(FP_MOD)

    # cut AFTER 0-based position i (i >= w-1, i < n-1: a cut at the last
    # token would open an empty trailing chunk)
    cuts = F.filter(
        F.sequence(F.lit(w - 1), F.col("_n") - 2),
        lambda i: win_hash(i) % F.lit(mask + 1) == 0,
    )
    # degenerate short docs (n <= w): sequence(w-1, n-2) would run
    # BACKWARDS and fabricate cuts — no window fits, so no cuts
    cuts = F.when(F.col("_n") >= F.lit(w + 1), cuts).otherwise(
        F.array().cast("array<int>")
    )
    bounds = F.concat(
        F.array(F.lit(-1).cast("int")), cuts, F.array((F.col("_n") - 1).cast("int"))
    )
    chunked = base.withColumn("_bounds", bounds).select(
        "_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size("_bounds") - 2),
                lambda j: F.array_join(
                    F.slice(
                        F.col("_toks"),
                        F.element_at(F.col("_bounds"), j + 1) + 2,
                        F.element_at(F.col("_bounds"), j + 2)
                        - F.element_at(F.col("_bounds"), j + 1),
                    ),
                    " ",
                ),
            )
        ).alias("chunk_idx", "chunk"),
    )
    return _first_occurrence_chunk_dedup(chunked, id_col)


def remove_common_chunks(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    chunk_tokens: int = 10,
    max_docs: int = 1,
    lowercase: bool = False,
) -> DataFrame:
    """Boilerplate scrub (the CCNet/RefinedWeb-style companion to
    chunk_dedup): drop EVERY occurrence of a token chunk that appears in
    more than ``max_docs`` DISTINCT documents — including the first.
    chunk_dedup keeps one canonical copy of a repeated span (dedup
    semantics); this removes the span everywhere (boilerplate semantics:
    a cookie banner appearing in 10^6 pages is noise in all 10^6, not
    content in one). Within-doc repeats alone never exceed the gate —
    the frequency is distinct-DOCUMENT count, so a chorus repeated inside
    one song survives.

    Output: (id_col, n_chunks, n_kept, clean_text) — same contract as
    chunk_dedup so the two scrubbers compose/interchange.

    Scale shape: the same explode + two-seed xxhash64 chunk keys as
    chunk_dedup, but ownership is replaced by a distinct-doc frequency:
    count_distinct(id) per chunk hash runs as a two-stage partial
    aggregate (map-side (chunk, id) dedup first), so a chunk repeated a
    billion times in one crawl snapshot collapses before the shuffle.
    One equi-join of the per-chunk doc-count back onto the chunk stream,
    one per-doc reassembly groupBy. No UDFs, no driver state.
    """
    text = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    toks = tokens(text)
    k = int(chunk_tokens)
    n_chunks = F.ceil(F.size("_toks") / F.lit(k)).cast("int")
    chunked = (
        df.select(F.col(id_col).alias("_id"), toks.alias("_toks"))
        .filter(F.size("_toks") > 0)
        .select(
            "_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), n_chunks - 1),
                    lambda i: F.array_join(
                        F.slice(F.col("_toks"), i * k + 1, k), " "
                    ),
                )
            ).alias("chunk_idx", "chunk"),
        )
    )
    hashed = chunked.withColumn("_ch1", F.xxhash64("chunk")).withColumn(
        "_ch2", F.xxhash64("chunk", F.lit(1))
    )
    freq = (
        hashed.select("_ch1", "_ch2", "_id")
        .groupBy("_ch1", "_ch2")
        .agg(F.count_distinct("_id").alias("_ndocs"))
    )
    kept_flag = hashed.join(freq, ["_ch1", "_ch2"]).withColumn(
        "_kept", F.col("_ndocs") <= F.lit(int(max_docs))
    )
    per_doc = kept_flag.groupBy("_id").agg(
        F.count("*").alias("n_chunks"),
        F.sum(F.col("_kept").cast("long")).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("_kept"), F.struct("chunk_idx", "chunk"))
                    )
                ),
                lambda s: s["chunk"],
            ),
            " ",
        ).alias("clean_text"),
    )
    return per_doc.select(
        F.col("_id").alias(id_col), "n_chunks", "n_kept", "clean_text"
    )


def incremental_exact(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str,
    text_col: str = "text",
) -> DataFrame:
    """Incremental ingest dedup: classify every NEW-batch doc against the
    already-ingested corpus plus the batch itself. Status per doc:

    - ``'new'``        — content unseen in corpus AND this doc is the
                          batch-first occurrence (min id) of its content
    - ``'dup_corpus'`` — content already in the corpus (drop)
    - ``'dup_batch'``  — batch-internal repeat of a 'new' doc (drop)
    - ``'null_text'``  — batch doc with NULL text: md5(null) is null, a
                          null key matches nothing, so these rows get an
                          explicit status instead of silently vanishing
                          from the ledger (every input doc appears once)

    This is the daily-crawl append path: the corpus side reduces to its
    DISTINCT content hashes (a groupBy that in production is a maintained
    hash manifest, not a rescan), then one left join of batch hashes
    against it — digests only, never text. The batch-first owner is a
    partial-aggregated min per hash, same shape as chunk_dedup ownership.
    Both joins are LEFT so null-hash rows survive to the null_text branch.
    """
    b = new_df.select(F.col(id_col).alias("_id"), F.md5(F.col(text_col)).alias("content_hash"))
    seen = corpus_df.select(F.md5(F.col(text_col)).alias("content_hash")).distinct()
    first = b.groupBy("content_hash").agg(F.min("_id").alias("_first_id"))
    out = (
        b.join(seen.withColumn("_in_corpus", F.lit(True)), "content_hash", "left")
        .join(first, "content_hash", "left")
        .select(
            F.col("_id").alias(id_col),
            "content_hash",
            F.when(F.col("content_hash").isNull(), F.lit("null_text"))
            .when(F.col("_in_corpus").isNotNull(), F.lit("dup_corpus"))
            .when(F.col("_first_id") == F.col("_id"), F.lit("new"))
            .otherwise(F.lit("dup_batch"))
            .alias("status"),
        )
    )
    return out


def incremental_minhash(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str,
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    min_jaccard: float = 0.5,
) -> DataFrame:
    """Incremental NEAR-dup ingest: classify every new-batch doc against the
    standing corpus and the batch itself — the fuzzy analogue of
    incremental_exact, completing the day-2 ingest story for near-dups
    (beyond-reference LLM-pipeline surface). Status per batch doc, by
    precedence:

    - ``'neardup_corpus'`` — a verified (exact-Jaccard >= min_jaccard)
                              near-dup of some corpus doc (drop)
    - ``'neardup_batch'``  — not a corpus dup, but a verified near-dup of a
                              SMALLER-id batch doc (the batch-first owner
                              keeps, later ids drop — same owner rule as
                              incremental_exact / chunk_dedup)
    - ``'new'``            — no verified near-dup on either side. Docs with
                              fewer than n tokens (or NULL text) have no
                              shingles, can match nothing, and land here —
                              the exact path owns their dedup story.

    ``best_jaccard`` is the max verified Jaccard over ALL of the doc's dup
    pairs (both classes), 0.0 for 'new' — the audit column a data card
    reports.

    Scale shape: both sides are :func:`minhash_sketch` frames, persisted
    once each, and the corpus side is touched in batch-bounded ways only:
    (1) its band signatures (in production a maintained manifest,
    :func:`corpus_band_manifest`, written at last ingest; here recomputed
    from text so the query is self-contained), joined equi-on (band, sig)
    against the batch's; (2) its shingle arrays, read only by the
    candidate-bounded verification join-back (the tiny candidate set
    broadcasts, so the corpus sketch streams past it without shuffling —
    the minhash_lsh_pairs verification shape)."""
    bsk = caching.persist(minhash_sketch(new_df, id_col, text_col, num_hashes, n))
    csk = caching.persist(minhash_sketch(corpus_df, id_col, text_col, num_hashes, n))
    band_sigs = minhash_band_sigs(num_hashes, bands)

    def tagged(sk: DataFrame, side: str) -> DataFrame:
        return sk.withColumnRenamed(id_col, "_id").withColumn("_side", F.lit(side))

    def banded(sk: DataFrame) -> DataFrame:
        return sk.select(
            "_id", "_side", F.posexplode(F.array(*band_sigs)).alias("band", "sig")
        )

    # ONE fused candidate + verification pass for both classes: they
    # differ only in which sketch the other (oid) side reads, so the oid
    # sides are tagged ('c'/'b') and unioned, and one distinct, one
    # join-back and one hits groupBy (pivoted back to _jc/_jb with
    # conditional maxes) serve both
    batch = tagged(bsk, "b")
    other = tagged(csk, "c").unionByName(batch)
    cand = (
        banded(batch).alias("a")
        .join(banded(other).alias("o"), ["band", "sig"])
        .filter(
            (F.col("o._side") == "c") | (F.col("o._id") < F.col("a._id"))
        )
        .select(
            F.col("a._id").alias("bid"),
            F.col("o._id").alias("oid"),
            F.col("o._side").alias("_side"),
        )
        .distinct()
    )
    sh_a, sh_b = F.col("sh_a"), F.col("sh_b")
    inter = F.size(F.array_intersect(sh_a, sh_b))
    verified = (
        cand.join(batch.select(F.col("_id").alias("bid"), F.col("sh").alias("sh_a")), "bid")
        .join(
            other.select("_side", F.col("_id").alias("oid"), F.col("sh").alias("sh_b")),
            ["oid", "_side"],
        )
        .withColumn("jaccard", inter / (F.size(sh_a) + F.size(sh_b) - inter))
        .filter(F.col("jaccard") >= min_jaccard)
    )
    hits = verified.groupBy("bid").agg(
        F.max(F.when(F.col("_side") == "c", F.col("jaccard"))).alias("_jc"),
        F.max(F.when(F.col("_side") == "b", F.col("jaccard"))).alias("_jb"),
    )
    ledger = (
        new_df.select(F.col(id_col).alias("bid"))
        .join(hits, "bid", "left")
        .select(
            F.col("bid").alias(id_col),
            F.when(F.col("_jc").isNotNull(), F.lit("neardup_corpus"))
            .when(F.col("_jb").isNotNull(), F.lit("neardup_batch"))
            .otherwise(F.lit("new"))
            .alias("status"),
            F.greatest(
                F.coalesce(F.col("_jc"), F.lit(0.0)),
                F.coalesce(F.col("_jb"), F.lit(0.0)),
            ).alias("best_jaccard"),
        )
    )
    return ledger


def dedup_stats(
    df: DataFrame,
    id_col: str,
    pairs: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Data-card dedup accounting: the cluster-size histogram of the
    near-dup graph — one row per distinct cluster size with
    (cluster_size, n_clusters, n_docs). Singletons (docs in no pair)
    appear as cluster_size = 1; the duplicate mass of the corpus is
    1 - sum(n_clusters)/sum(n_docs), readable straight off the result.

    Scale shape: everything after the labeling is two tiny partial-agg
    groupBys (per-rep sizes, then the size histogram over |clusters|
    rows) — the histogram frame is at most |distinct sizes| rows. Labels
    only (dedup_clusters' per-row cluster_size would be recomputed here
    anyway)."""
    labeled, _ = _cluster_labels(df, id_col, pairs, src, dst)
    clusters = labeled.select(
        F.coalesce(F.col("_rep"), F.col(id_col)).alias("cluster_rep")
    )
    sizes = clusters.groupBy("cluster_rep").agg(F.count("*").alias("cluster_size"))
    return (
        sizes.groupBy("cluster_size")
        .agg(
            F.count("*").alias("n_clusters"),
            F.sum("cluster_size").alias("n_docs"),
        )
        .select("cluster_size", "n_clusters", "n_docs")
    )


def source_similarity(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Pairwise n-gram Jaccard between corpus GROUPS (sources, snapshots,
    shards): each group's shingle set is the union over its documents; one
    row per co-occurring unordered pair (group_a < group_b) with the exact
    intersection size and round-6 Jaccard — the source-overlap matrix a
    curation report ranks "which crawls duplicate each other" from.

    Scale shape: shingles collapse to a TWO-SEED xxhash64 composite (16
    bytes, exact for practical purposes — the chunk_dedup hashed-key
    convention) BEFORE the distinct, so the data-sized shuffle carries
    longs, never raw shingle strings. Pairs come from a per-shingle
    groupBy whose collected group array is bounded by |groups| (a corpus
    has tens of sources, not millions) — join volume is at most
    |distinct shingles| x |groups|^2, never a doc-level self-join. Groups
    sharing no shingle don't appear (their Jaccard is 0 by construction).
    """
    # Persisted: the distinct group-shingle set feeds the per-group sizes
    # AND the pair stage; without a cache each branch re-runs the shingle
    # explode + the distinct shuffle — the data-sized work of this
    # operator.
    sh = caching.persist(
        df.select(
            F.col(group_col).alias("_g"),
            F.explode(shingles(F.col(text_col), n)).alias("_sh"),
        )
        .select(
            "_g",
            F.xxhash64("_sh").alias("_h1"),
            F.xxhash64("_sh", F.lit(1)).alias("_h2"),
        )
        .distinct()
    )
    sizes = sh.groupBy("_g").agg(F.count("*").alias("_n"))
    per_gram = (
        sh.groupBy("_h1", "_h2")
        .agg(F.sort_array(F.collect_set("_g")).alias("_gs"))
        .filter(F.size("_gs") >= 2)
    )
    pairs = (
        per_gram.select(F.explode("_gs").alias("source_a"), "_gs")
        .select("source_a", F.explode("_gs").alias("source_b"))
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("intersection"))
    )
    return (
        pairs.join(
            F.broadcast(sizes.select(F.col("_g").alias("source_a"), F.col("_n").alias("_na"))),
            "source_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("_g").alias("source_b"), F.col("_n").alias("_nb"))),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            "intersection",
            F.round(
                F.col("intersection")
                / (F.col("_na") + F.col("_nb") - F.col("intersection")),
                6,
            ).alias("jaccard"),
        )
    )


def dedup_rate_by_source(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Per-source duplicate-mass card: for each source, the document count
    and the share of its documents whose exact text digest occurs more
    than once CORPUS-WIDE — the 'which feed is reposting the corpus'
    metric a curation review reads next to dedup_stats' global histogram.
    One digest partial-agg (shuffle carries distinct digests, never text)
    + an equi-join of the dup-digest set (AQE broadcasts it when small —
    at 100 TB the dup set can be large, so no forced broadcast) + one
    per-source aggregate. md5 digests, the family's oracle-replicable
    default."""
    digests = df.select(
        F.col(source_col), F.md5(F.col(text_col).cast("binary")).alias("_dg")
    )
    counts = digests.groupBy("_dg").agg(F.count("*").alias("_n"))
    flagged = digests.join(
        counts.filter(F.col("_n") > 1).select("_dg").withColumn("_dup", F.lit(1)),
        "_dg",
        "left",
    )
    return (
        flagged.groupBy(source_col)
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.coalesce(F.col("_dup"), F.lit(0))).alias("n_dup_docs"),
        )
        .withColumn(
            "dup_frac", F.round(F.col("n_dup_docs") / F.col("n_docs"), 6)
        )
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    min_containment: float = 0.8,
) -> DataFrame:
    """Subset/quote near-dup: banded minhash candidates verified with
    *containment* |A∩B| / min(|A|,|B|) instead of Jaccard. Catches the
    pair Jaccard structurally under-scores — a short document wholly
    quoted inside a much longer one has containment 1.0 but Jaccard
    |A|/|B| → 0 — which is exactly the "B extends A, keep B" policy
    production dedup wants for quote inclusion and article expansion.

    Candidate recall rides the SAME minhash banding as
    :func:`minhash_lsh_pairs` (minhash estimates Jaccard, so a
    high-containment/low-Jaccard pair surfaces only when a band
    collides); for subset-heavy corpora with extreme size skew, widen
    recall with more/narrower bands or run the chunk-level operators
    (:func:`chunk_dedup` / :func:`cdc_chunk_dedup`), which detect shared
    spans independent of document size. Verification is exact and
    candidate-bounded (_shingle_overlap_pairs, the minhash_lsh_pairs
    counts). Output (src, dst, containment, jaccard) — jaccard comes free
    from the same counts and lets callers separate "same doc" (both high)
    from "contained doc" (containment high, jaccard low).
    """
    counted = _shingle_overlap_pairs(df, id_col, text_col, num_hashes, bands, n)
    i = F.col("_inter")
    verified = (
        counted.withColumn("containment", i / F.least(F.col("_na"), F.col("_nb")))
        .withColumn("jaccard", i / (F.col("_na") + F.col("_nb") - i))
        .filter(F.col("containment") >= min_containment)
    )
    return verified.select("src", "dst", "containment", "jaccard")
