"""Text-analysis operators for large-scale training-data pipelines (beyond
the reference surface; BASELINE.json north-star: language-ID, quality
scoring, token counting, document fingerprinting).

Everything is a column expression over built-in functions (split/regexp/
array lambdas) — JVM-side, whole-stage codegen, no UDFs — so these run at
scan speed on a 100 TB documents table. Formulas are defined here precisely
so the DuckDB oracles can mirror them term-for-term.
"""
from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import caching

#: stopword marker sets per language for the n-gram/stopword heuristic
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "and", "of", "to", "is"],
    "es": ["el", "la", "de", "y", "que", "en"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "les", "des", "et", "est"],
    "zh": ["的", "是", "在", "了"],
}

STOPWORDS = LANG_MARKERS["en"] + ["it", "that", "in", "for", "on", "with"]

FP_TOKEN_MOD = 1000003
FP_MOD = 1000000007
FP_MULT = 131


#: Portable whitespace class, spelled out instead of \s: Java's \s
#: includes vertical tab \x0B while RE2's (DuckDB) does not, so every
#: tokenizer/punct expression that must agree with a SQL oracle uses this
#: explicit class on BOTH engines (the BPE_PATTERN convention applied to
#: the whole text family; caught by the adversarial-unicode parity draw).
PORTABLE_WS = r"[ \t\n\f\r\x0B]"


def tokens(text: Column) -> Column:
    """Whitespace tokens, empties removed (PORTABLE_WS class)."""
    return F.filter(F.split(F.trim(text), PORTABLE_WS + "+"), lambda x: x != "")


def token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn("n_tokens", F.size(tokens(F.col(text_col))))


def text_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """n_tokens, avg_token_len, punct_ratio, stopword_ratio, type-token ratio.

    Empty/whitespace-only text has 0 tokens and 0 length; try_divide keeps
    those rows as NULL ratios (and so NULL quality downstream) instead of
    tripping ANSI DIVIDE_BY_ZERO — one degenerate doc must not abort a
    100 TB corpus scan. Downstream gates coalesce NULL to reject."""
    t = tokens(F.col(text_col))
    out = df.withColumn("_toks", t)
    n = F.size("_toks")
    total_len = F.aggregate(
        F.col("_toks"), F.lit(0), lambda acc, x: acc + F.length(x)
    )
    n_stop = F.size(F.filter(F.col("_toks"), lambda x: x.isin(STOPWORDS)))
    punct = F.try_divide(
        F.length(F.regexp_replace(F.col(text_col), r"[a-zA-Z0-9 \t\n\f\r\x0B]", "")),
        F.length(F.col(text_col)),
    )
    return (
        out.withColumn("n_tokens", n)
        .withColumn("avg_token_len", F.try_divide(total_len, n))
        .withColumn("punct_ratio", punct)
        .withColumn("stopword_ratio", F.try_divide(n_stop, n))
        .withColumn("type_token_ratio", F.try_divide(F.size(F.array_distinct("_toks")), n))
        .drop("_toks")
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Composite quality in [0,1]:
    0.25*min(1, n_tokens/50) + 0.25*(1 - min(1, punct_ratio*4))
    + 0.25*min(1, stopword_ratio*5) + 0.25*type_token_ratio
    """
    out = text_features(df, text_col)
    q = (
        F.lit(0.25) * F.least(F.lit(1.0), F.col("n_tokens") / 50.0)
        + F.lit(0.25) * (F.lit(1.0) - F.least(F.lit(1.0), F.col("punct_ratio") * 4.0))
        + F.lit(0.25) * F.least(F.lit(1.0), F.col("stopword_ratio") * 5.0)
        + F.lit(0.25) * F.col("type_token_ratio")
    )
    return out.withColumn("quality", q)


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-marker language ID; ties resolve in LANG_MARKERS order.

    Winner = first index reaching the max hit count. Expressed as
    array_position(hits, array_max(hits)) rather than an O(L^2) when-chain
    of pairwise comparisons: Catalyst's project collapse inlines the whole
    tokenize+filter subtree into every reference, so the chain form
    re-evaluates it ~L^2 times per row (and the generated method blows past
    the JIT size limit, dropping the stage to interpreted mode).

    The token array is projected as its own column (``_toks``) before the
    per-language filters: CollapseProject refuses to inline a non-cheap
    alias referenced more than once, so tokenization runs exactly once per
    row instead of once per language."""

    def _in_markers(markers):
        # single-arg lambda: F.filter passes the element index to a second
        # parameter, so a two-arg lambda with a default would be clobbered
        return lambda x: x.isin(markers)

    langs = list(LANG_MARKERS)
    toked = df.withColumn("_toks", tokens(F.lower(F.col(text_col))))
    hits = F.array(
        *[
            F.size(F.filter(F.col("_toks"), _in_markers(LANG_MARKERS[lang])))
            for lang in langs
        ]
    )
    out = toked.withColumn("_hits", hits)
    best = F.array_position(F.col("_hits"), F.array_max(F.col("_hits")))
    pred = F.element_at(F.array(*[F.lit(lang) for lang in langs]), best.cast("int"))
    return out.withColumn("pred_lang", pred).drop("_toks", "_hits")


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic rolling-hash document fingerprint (order-sensitive):
    code(tok) = (31*len(tok) + ascii(first char)) mod 1000003
    fp = fold(codes, 0, (acc, c) -> (131*acc + c) mod 1e9+7)
    """
    t = tokens(F.col(text_col))
    codes = F.transform(
        t,
        lambda x: (F.lit(31) * F.length(x) + F.ascii(x)) % F.lit(FP_TOKEN_MOD),
    )
    fp = F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * F.lit(FP_MULT) + c.cast("long")) % F.lit(FP_MOD),
    )
    return df.withColumn("fingerprint", fp)


def _exploded_grams(
    df: DataFrame, id_col: str, text_col: str, n: int, keep_dups: bool
) -> DataFrame:
    """(_id, gram) rows — one per n-gram occurrence (keep_dups) or per
    distinct n-gram. Same narrow plan as dedup.exploded_shingles: tokens
    projected once, array-indexed transform, single explode; the
    repartition spreads few-split sources."""
    tok = df.repartition(F.col(id_col)).select(
        F.col(id_col).alias("_id"), tokens(F.lower(F.col(text_col))).alias("_toks")
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
    if not keep_dups:
        grams = F.array_distinct(grams)
    return tok.select("_id", F.explode(grams).alias("gram"))


def repetition_score(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """Intra-document repetition (Gopher-style quality signal): the
    fraction of n-gram occurrences that are repeats of an earlier
    occurrence — sum(cnt - 1) / sum(cnt) over per-doc gram counts. Docs
    with fewer than n tokens score 0.0.

    Two partial-aggregating groupBys on (doc, gram) — map-side combine
    keeps shuffle volume at distinct-gram cardinality, so the plan is a
    scan + one bounded shuffle at any corpus size."""
    grams = _exploded_grams(df, id_col, text_col, n, keep_dups=True)
    per_gram = grams.groupBy("_id", "gram").agg(F.count("*").alias("cnt"))
    per_doc = per_gram.groupBy("_id").agg(
        F.sum("cnt").alias("n_grams"),
        (F.sum("cnt") - F.count("*")).alias("n_dup_grams"),
    )
    return (
        df.select(F.col(id_col))
        .join(per_doc.withColumnRenamed("_id", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_dup_grams", F.lit(0)).alias("n_dup_grams"),
            F.coalesce(
                F.col("n_dup_grams") / F.col("n_grams").cast("double"), F.lit(0.0)
            ).alias("rep_ratio"),
        )
    )


def contamination(
    df: DataFrame,
    bench_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str | None = None,
    bench_text_col: str | None = None,
    n: int = 3,
) -> DataFrame:
    """Benchmark-contamination check: per training doc, the fraction of its
    distinct n-grams that also occur anywhere in ``bench_df`` (the eval/
    benchmark corpus). (id, n_grams, n_contaminated, contamination_ratio).

    The benchmark gram set is tiny relative to the corpus — broadcast it so
    the check is a map-side semi-join on the training scan; docs with no
    grams ratio 0.0."""
    from pyspark.sql.functions import broadcast

    bench_id = bench_id_col or id_col
    bench_text = bench_text_col or text_col
    doc_grams = _exploded_grams(df, id_col, text_col, n, keep_dups=False)
    # the broadcast carries two xxhash64 longs per bench gram (16 bytes,
    # 128 effective bits — single-long collision odds at 1e8 grams x 1e12
    # corpus grams would be material), not the raw gram strings (~30-60
    # bytes each): a 2-4x smaller build side and long-compare probes on
    # the hot scan. This is the practical form of SCALE.md's
    # shrink-the-build-side off-ramp (bloom_filter_agg is not in Spark's
    # public function registry; the composite hash set is exact).
    bench_grams = (
        _exploded_grams(bench_df, bench_id, bench_text, n, keep_dups=False)
        .select(
            F.xxhash64("gram").alias("_gh1"),
            F.xxhash64("gram", F.lit(1)).alias("_gh2"),
        )
        .distinct()
    )
    hits = (
        doc_grams.withColumn("_gh1", F.xxhash64("gram"))
        .withColumn("_gh2", F.xxhash64("gram", F.lit(1)))
        .join(
            broadcast(bench_grams.withColumn("_hit", F.lit(1))),
            ["_gh1", "_gh2"],
            "left",
        )
        .groupBy("_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.coalesce(F.sum("_hit"), F.lit(0)).alias("n_contaminated"),
        )
    )
    return (
        df.select(F.col(id_col))
        .join(hits.withColumnRenamed("_id", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_contaminated", F.lit(0)).alias("n_contaminated"),
            F.coalesce(
                F.col("n_contaminated") / F.col("n_grams").cast("double"), F.lit(0.0)
            ).alias("contamination_ratio"),
        )
    )


def bigram_logprob(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Corpus bigram-LM fluency score (the classic n-gram quality signal):
    train MLE bigram probabilities on the corpus itself, then score every
    doc by its mean bigram log-probability and perplexity.

    p(w2|w1) = c(w1 w2) / c(w1 ·) counted over bigram OCCURRENCES, so
    self-scoring never sees an unseen bigram and needs no smoothing.
    (id, n_bigrams, avg_logprob, ppl); docs with <2 tokens get
    avg_logprob 0 and ppl 1.

    Plan: one bigram explode, immediately reduced to (_id, xxhash64(gram),
    xxhash64(w1)) — the gram STRING never enters a shuffle or the
    cache. Both count groupBys and the two model joins key on the 8-byte
    hashes: fixed-width keys roughly halve exchange bytes vs raw grams and
    blunt hot-bigram skew (uniform key distribution feeds AQE skew-split
    cleanly). A 64-bit collision merges two grams' counts with probability
    ~n²/2⁶⁵ — at 10¹⁰ distinct grams that is O(10³) merged PAIRS, a 1e-7
    relative perturbation of a fluency heuristic: accepted, documented.
    At corpus scale this is two bounded shuffles of distinct-gram
    cardinality, never a collect."""
    g = _exploded_grams(df, id_col, text_col, 2, keep_dups=True)
    bigrams = caching.persist(g.select(
        "_id",
        F.xxhash64(F.col("gram")).alias("_gh"),
        F.xxhash64(F.split(F.col("gram"), " ", 2)[0]).alias("_w1h"),
    ))
    pair_counts = bigrams.groupBy("_gh").agg(F.count("*").alias("c2"))
    first_counts = bigrams.groupBy("_w1h").agg(F.count("*").alias("c1"))
    scored = (
        bigrams.join(pair_counts, "_gh")
        .join(first_counts, "_w1h")
        .groupBy("_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.avg(F.log(F.col("c2") / F.col("c1"))).alias("avg_logprob"),
        )
    )
    return (
        df.select(F.col(id_col))
        .join(scored.withColumnRenamed("_id", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            F.coalesce("avg_logprob", F.lit(0.0)).alias("avg_logprob"),
            F.exp(-F.coalesce("avg_logprob", F.lit(0.0))).alias("ppl"),
        )
    )


def perplexity_gate(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    keep_frac: float = 0.5,
) -> DataFrame:
    """Per-language LM fluency gate (the perplexity filter of CCNet-style
    corpus pipelines): score every doc with the corpus-trained bigram LM,
    then keep the most fluent ``keep_frac`` of each language — highest
    avg bigram log-probability, ranked on the ROUND-6 value (the repo-wide
    float-parity convention: ranking on raw aggregation doubles would make
    the kept set sensitive to summation order) with ``id_col`` breaking
    round-6 ties. Docs with no bigrams (< 2 tokens or NULL text) carry no
    fluency evidence and are excluded, not gated in.

    Scale shape: the bigram-LM pass (two bounded gram-hash shuffles) plus
    one stratum shuffle feeding the rank windows — the
    stratified_rank_filter shape over the scored frame."""
    from .sampling import stratified_rank_filter

    scored = bigram_logprob(df, id_col, text_col)
    rounded = (
        scored.filter(F.col("n_bigrams") > 0)
        .withColumn("avg_logprob", F.round("avg_logprob", 6))
        .withColumn("ppl", F.round("ppl", 6))
        .join(df.select(id_col, lang_col), id_col)
    )
    gated = stratified_rank_filter(
        rounded, lang_col, "avg_logprob", keep_frac, tiebreak_col=id_col
    )
    return gated.select(id_col, lang_col, "n_bigrams", "avg_logprob", "ppl")


def vocab_topk(
    df: DataFrame,
    text_col: str = "text",
    k: int = 100,
) -> DataFrame:
    """Corpus vocabulary head: top-k tokens by occurrence count with a
    deterministic tie-break (count desc, token asc) — the tokenizer-training
    accounting pass. One explode + one partial-aggregated groupBy; the
    final top-k is a TakeOrdered over |vocab| rows, never the corpus."""
    toks = df.select(F.explode(tokens(F.lower(F.col(text_col)))).alias("token"))
    counts = toks.groupBy("token").agg(F.count("*").alias("cnt"))
    return counts.orderBy(F.col("cnt").desc(), F.col("token").asc()).limit(k)


def corpus_stats(
    df: DataFrame,
    group_cols: Sequence[str] = ("source", "lang"),
    text_col: str = "text",
) -> DataFrame:
    """Per-stratum corpus accounting (docs, token and char totals) — the
    numbers a mixing plan is written against. Single partial-aggregated
    groupBy; token counting is the codegen size(tokens()) expression, so
    this runs at scan speed."""
    return df.groupBy(*group_cols).agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(tokens(F.col(text_col)))).alias("n_tokens"),
        F.sum(F.length(text_col)).alias("n_chars"),
    )


#: BPE-style pre-tokenizer pattern (simplified GPT-2 class form — letter
#: runs, digit runs, punctuation runs, each with an optional leading space).
#: The whitespace class is spelled out as [ \t\n\f\r\x0B] rather than \s:
#: Java's \s includes vertical tab \x0B while RE2's does not, so the
#: explicit class is what makes Spark and the DuckDB oracle agree exactly.
BPE_PATTERN = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \t\n\f\r\x0B]+"


def bpe_token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Pre-tokenizer token count (the BPE accounting number): splits letter
    runs, digit runs, and punctuation runs the way a byte-pair-encoding
    pre-tokenizer does, which tracks real tokenizer costs far better than
    whitespace counting on punctuation-dense text. Pure codegen
    regexp_extract_all — scan speed at any corpus size."""
    return df.withColumn(
        "n_bpe_tokens",
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(BPE_PATTERN), F.lit(0))),
    )


def tfidf_topk(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """Per-document top-k TF-IDF terms — the classic keyword/tagging pass of
    a corpus exploration or routing pipeline. Smoothed IDF (sklearn form):
    idf = ln((1 + N) / (1 + df)) + 1; score = tf * idf; rank on the ROUND-6
    score with a token tie-break (the repo's summation-order convention —
    a rank cut must never depend on sub-1e-6 float noise).

    Output: (id, token, tf, score, tfidf_rank), tfidf_rank <= k.

    Scale shape: one partial-aggregated groupBy(id, token) for TF, one
    groupBy(token) over the (already doc-distinct) TF rows for DF, a
    broadcast of the 1-row corpus count, and one exchange on the doc id
    for the top-k window — every shuffle is token-granular, the raw corpus
    is scanned once. The DF frame is |vocab| rows; the token join is the
    same hot-key-safe shape as vocab accounting (uniform token
    distribution assumptions documented in SCALE.md)."""
    toks = df.select(
        F.col(id_col), F.explode(tokens(F.lower(F.col(text_col)))).alias("token")
    )
    tf = toks.groupBy(id_col, "token").agg(F.count("*").alias("tf"))
    # tf rows are distinct (doc, token) pairs, so counting them per token
    # IS the document frequency — no second distinct pass over the corpus
    dfreq = tf.groupBy("token").agg(F.count("*").alias("_df"))
    total = df.select(F.count("*").alias("_n"))
    idf = F.log((F.lit(1.0) + F.col("_n")) / (F.lit(1.0) + F.col("_df"))) + F.lit(1.0)
    scored = (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(total))
        .withColumn("score", F.round(F.col("tf") * idf, 6))
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("tfidf_rank", F.row_number().over(w))
        .filter(F.col("tfidf_rank") <= k)
        .select(id_col, "token", "tf", "score", "tfidf_rank")
    )


def ngram_novelty(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Per-document n-gram novelty: the share of a doc's distinct n-grams
    whose corpus-wide FIRST occurrence (min doc id) is this doc — the
    memorization/novelty audit of a curation pipeline ("how much of this
    doc is text the corpus hasn't seen"). Exact duplicates score 0 on the
    later copy; boilerplate-heavy docs score low even when no whole chunk
    repeats, which is what makes this a finer signal than chunk_dedup's
    n_kept.

    Output: (id, n_grams, n_novel, novelty = round(n_novel/n_grams, 6));
    docs with fewer than ``n`` tokens have no grams and are omitted (no
    evidence — the contamination_check convention).

    Scale shape: one distinct-gram explode (_exploded_grams, the text-
    family's lowercased tokenization), a partial-aggregated min-owner
    groupBy keyed on the two-seed xxhash64 of the gram (fixed-width longs
    on the hot shuffle, the chunk_dedup key convention), one equi-join
    back, one per-doc count agg. Engine-exact: counts are longs, the
    share is one long/long division."""
    sh = _exploded_grams(df, id_col, text_col, n, keep_dups=False)
    hashed = sh.select(
        "_id",
        F.xxhash64("gram").alias("_h1"),
        F.xxhash64("gram", F.lit(1)).alias("_h2"),
    )
    # min-owner as one window over the gram-hash shuffle: the former
    # groupBy + equi-join re-executed the gram explode for both sides and
    # shuffled the full hashed set twice (agg input + join). The window
    # shuffles it once; hash keys are uniform, so no skewed partition.
    w_first = Window.partitionBy("_h1", "_h2")
    per_doc = (
        hashed.withColumn("_owner", F.min("_id").over(w_first))
        .groupBy("_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum((F.col("_owner") == F.col("_id")).cast("long")).alias("n_novel"),
        )
    )
    return per_doc.select(
        F.col("_id").alias(id_col),
        "n_grams",
        "n_novel",
        F.round(F.col("n_novel") / F.col("n_grams"), 6).alias("novelty"),
    )


def tfidf_vocab(
    df: DataFrame, text_col: str = "text", max_vocab: int | None = 1_000_000
) -> "tuple[dict, int]":
    """Bounded TF-IDF vocabulary model for stream-side keyword tagging:
    (token -> document frequency) dict plus the corpus doc count. The dict
    collects to the driver — the model-artifact collect (same class as
    kmeans centroids / the IF forest), bounded BY DEFAULT: the vocabulary
    truncates to the ``max_vocab`` (default 1M) highest-df tokens (df
    desc, token asc — a TakeOrdered over |vocab| aggregated rows, never
    the corpus), so the obvious call cannot pull an unbounded web-scale
    vocabulary onto the driver. ``max_vocab=None`` is the explicit
    opt-out for corpora whose full vocabulary is known-small. DF counting
    matches tfidf_topk's exactly (distinct tokens per doc, lowercased
    whitespace tokens)."""
    toks = df.select(
        F.explode(F.array_distinct(tokens(F.lower(F.col(text_col))))).alias("token")
    )
    dfreq = toks.groupBy("token").agg(F.count("*").alias("df"))
    if max_vocab is not None:
        dfreq = dfreq.orderBy(F.col("df").desc(), F.col("token").asc()).limit(
            int(max_vocab)
        )
    n_docs = df.count()
    return {r["token"]: r["df"] for r in dfreq.collect()}, n_docs


def vocab_to_df(spark, vocab: dict, n_docs: int) -> DataFrame:
    """TF-IDF vocabulary -> model DataFrame (token, df, n_docs — the doc
    count rides every row so the artifact is self-describing) for
    sources.models.save_model; a batch fit then serves streaming keyword
    tagging (streaming.stream_keyword_tag) without recounting."""
    return spark.createDataFrame(
        [(t, int(d), int(n_docs)) for t, d in vocab.items()],
        "token string, df long, n_docs long",
    )


def vocab_from_df(df: DataFrame) -> "tuple[dict, int]":
    """Inverse of vocab_to_df. The only collect is the model itself
    (|vocab| rows — bound it at fit time with tfidf_vocab(max_vocab=...))."""
    rows = df.select("token", "df", "n_docs").collect()
    if not rows:
        return {}, 0
    return {r["token"]: r["df"] for r in rows}, int(rows[0]["n_docs"])


def token_freq_spectrum(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Frequency-of-frequencies (Zipf) spectrum of the corpus vocabulary:
    one row per occurrence count with the number of distinct token types
    at that count and their total occurrence mass — the curve a tokenizer
    budget (vocab size vs coverage) is planned against, and the classic
    hapax/head diagnostic for corpus quality.

    Scale shape: one partial-aggregated groupBy(token) to |vocab| rows,
    then a second tiny groupBy(freq) over those — the corpus is scanned
    once, the second shuffle is |vocab| longs."""
    toks = df.select(F.explode(tokens(F.lower(F.col(text_col)))).alias("token"))
    counts = toks.groupBy("token").agg(F.count("*").alias("freq"))
    return counts.groupBy("freq").agg(
        F.count("*").alias("n_types"),
        (F.count("*") * F.col("freq")).alias("n_occurrences"),
    ).select("freq", "n_types", "n_occurrences")


def vocab_coverage(
    df: DataFrame,
    group_cols: Sequence[str] = ("source",),
    text_col: str = "text",
    vocab_size: int = 100,
) -> DataFrame:
    """Tokenizer-budget coverage audit: fix the vocabulary to the corpus's
    ``vocab_size`` most frequent tokens (count desc, token asc — the
    vocab_topk rule) and report, per stratum, how much of the token
    stream it covers: total occurrences, in-vocab occurrences, coverage
    share, and distinct OOV types. The companion to zipf_spectrum /
    context_length_plan when sizing a tokenizer: coverage tells you what
    a budget BUYS, the spectrum what it costs.

    Scale shape: one explode + one partial-agg groupBy(token) to |vocab|
    rows, a TakeOrdered top-V over that aggregated frame, broadcast of
    the V-row vocab back onto a second token pass, one partial-agg
    groupBy(strata). Engine-exact: counts are longs, coverage is one
    long/long division."""
    toks = df.select(
        *group_cols, F.explode(tokens(F.lower(F.col(text_col)))).alias("token")
    )
    vocab = (
        toks.groupBy("token")
        .agg(F.count("*").alias("_cnt"))
        .orderBy(F.col("_cnt").desc(), F.col("token").asc())
        .limit(int(vocab_size))
        .select("token", F.lit(True).alias("_in_vocab"))
    )
    j = toks.join(F.broadcast(vocab), "token", "left")
    return j.groupBy(*group_cols).agg(
        F.count("*").alias("n_occurrences"),
        F.sum(F.col("_in_vocab").isNotNull().cast("long")).alias("n_covered"),
        F.round(
            F.sum(F.col("_in_vocab").isNotNull().cast("long")) / F.count("*"), 6
        ).alias("coverage"),
        F.count_distinct(
            F.when(F.col("_in_vocab").isNull(), F.col("token"))
        ).alias("oov_types"),
    )


def gopher_quality(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_word_len: float = 3.0,
    max_word_len: float = 10.0,
    max_bullet_ratio: float = 0.9,
    max_ellipsis_ratio: float = 0.3,
    max_symbol_ratio: float = 0.1,
    min_alpha_ratio: float = 0.8,
    min_stopwords: int = 2,
    max_dup_line_ratio: float = 0.3,
) -> DataFrame:
    """Gopher-style repetition/format quality gates (Rae et al. 2021,
    arXiv:2112.11446 §A1.1; same family as C4's heuristics) — the rule
    set large-scale corpus builds apply before model-based filters:

    - word count in [min_words, max_words]; mean word length in
      [min_word_len, max_word_len]
    - <= max_bullet_ratio of lines start with a bullet; <=
      max_ellipsis_ratio end with an ellipsis
    - symbol-to-word ratio (# and ... occurrences per word) <=
      max_symbol_ratio
    - >= min_alpha_ratio of words contain an alphabetic character
    - >= min_stopwords DISTINCT stopwords appear (the "real prose" test)
    - duplicate-line fraction <= max_dup_line_ratio

    Appends the raw metrics, one boolean per gate, and ``gopher_pass``
    (AND of all gates). Everything is array/codegen expressions over ONE
    tokenization and ONE line split — a scan-speed map pass that fuses
    with surrounding filters; ratios use try_divide so a degenerate
    (empty) doc yields NULL metrics and a False pass instead of aborting
    the scan under ANSI. Reference analogue: none (the reference has no
    corpus-quality surface); extends quality_score/text_features."""
    toks = tokens(F.col(text_col))
    out = df.withColumn("_toks", toks).withColumn(
        "_lines",
        F.filter(
            F.transform(F.split(F.col(text_col), r"\n"), lambda x: F.trim(x)),
            lambda x: x != "",
        ),
    )
    n_words = F.size("_toks")
    n_lines = F.size("_lines")
    mean_wl = F.try_divide(
        F.aggregate(F.col("_toks"), F.lit(0), lambda a, x: a + F.length(x)), n_words
    )
    bullets = F.size(
        F.filter(
            F.col("_lines"),
            lambda x: x.startswith("-") | x.startswith("*") | x.startswith("•"),
        )
    )
    ellipses = F.size(
        F.filter(
            F.col("_lines"),
            lambda x: x.endswith("...") | x.endswith("…"),
        )
    )
    n_hash = F.length(F.col(text_col)) - F.length(
        F.regexp_replace(F.col(text_col), r"#", "")
    )
    n_ell = (
        F.length(F.col(text_col))
        - F.length(F.regexp_replace(F.col(text_col), r"\.\.\.", ""))
    ) / F.lit(3)
    alpha_words = F.size(F.filter(F.col("_toks"), lambda x: x.rlike("[A-Za-z]")))
    n_stop = F.size(
        F.array_intersect(
            F.array_distinct(F.transform(F.col("_toks"), lambda x: F.lower(x))),
            F.array(*[F.lit(s) for s in STOPWORDS]),
        )
    )
    dup_lines = F.try_divide(
        (n_lines - F.size(F.array_distinct("_lines"))).cast("double"), n_lines
    )
    metrics = {
        "n_words": n_words,
        "mean_word_len": mean_wl,
        "bullet_ratio": F.try_divide(bullets.cast("double"), n_lines),
        "ellipsis_ratio": F.try_divide(ellipses.cast("double"), n_lines),
        "symbol_ratio": F.try_divide(n_hash + n_ell, n_words),
        "alpha_ratio": F.try_divide(alpha_words.cast("double"), n_words),
        "n_stopwords": n_stop,
        "dup_line_ratio": dup_lines,
    }
    for name, expr in metrics.items():
        out = out.withColumn(name, expr)
    gates = {
        "gate_words": (F.col("n_words") >= min_words)
        & (F.col("n_words") <= max_words),
        "gate_word_len": (F.col("mean_word_len") >= min_word_len)
        & (F.col("mean_word_len") <= max_word_len),
        "gate_bullets": F.col("bullet_ratio") <= max_bullet_ratio,
        "gate_ellipsis": F.col("ellipsis_ratio") <= max_ellipsis_ratio,
        "gate_symbols": F.col("symbol_ratio") <= max_symbol_ratio,
        "gate_alpha": F.col("alpha_ratio") >= min_alpha_ratio,
        "gate_stopwords": F.col("n_stopwords") >= min_stopwords,
        "gate_dup_lines": F.col("dup_line_ratio") <= max_dup_line_ratio,
    }
    # NULL metrics (empty doc) must gate False, not NULL
    for name, expr in gates.items():
        out = out.withColumn(name, F.coalesce(expr, F.lit(False)))
    all_pass = None
    for name in gates:
        c = F.col(name)
        all_pass = c if all_pass is None else all_pass & c
    return out.withColumn("gopher_pass", all_pass).drop("_toks", "_lines")


def text_normalize(
    df: DataFrame, text_col: str = "text", out_col: str = "normalized"
) -> DataFrame:
    """Canonical whitespace/control normalization — the first pass of every
    corpus build: strip C0 control characters (except the whitespace the
    next rule handles), collapse every whitespace run to one space, trim.
    Appends ``out_col`` plus ``n_removed`` (chars dropped — the audit
    column a cleaning report sums). Pure codegen regexp passes in the
    Java-regex ∩ RE2 dialect (the pii.py portability rule), so the rewrite
    is oracle-verifiable byte-for-byte. Deliberately NOT unicode NFC:
    Spark has no ICU normalizer builtin, and a half-portable normalization
    is worse than a documented none."""
    col = F.regexp_replace(F.col(text_col), r"[\x00-\x08\x0B\x0C\x0E-\x1F]", "")
    col = F.trim(F.regexp_replace(col, r"\s+", " "))
    out = df.withColumn(out_col, col)
    return out.withColumn(
        "n_removed", F.length(F.col(text_col)) - F.length(F.col(out_col))
    )


def sentence_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", short: int = 4
) -> DataFrame:
    """Per-document sentence-shape profile: sentences split on
    ``[.!?]+\\s+`` (consuming the terminator — lookbehind is not in the
    RE2 ∩ Java dialect, and a consistent consuming rule is just as good a
    quality signal), then (n_sentences, mean/max sentence token count,
    short-sentence fraction). Listy/fragmented docs (navigation, tag
    soup) score high short_frac and low mean length — the complement of
    gopher_quality's line gates on the sentence axis. One codegen array
    pass; try_divide keeps empty docs NULL instead of aborting the scan."""
    sents = F.filter(
        F.transform(
            F.split(F.col(text_col), r"[.!?]+" + PORTABLE_WS + "+"), lambda x: F.trim(x)
        ),
        lambda x: x != "",
    )
    out = df.withColumn("_sents", sents)
    n = F.size("_sents")
    tok_counts = F.transform(
        F.col("_sents"), lambda s: F.size(F.filter(F.split(s, PORTABLE_WS + "+"), lambda x: x != ""))
    )
    out = out.withColumn("_tc", tok_counts)
    total = F.aggregate(F.col("_tc"), F.lit(0), lambda a, x: a + x)
    n_short = F.size(F.filter(F.col("_tc"), lambda x: x < F.lit(int(short))))
    return (
        out.select(
            F.col(id_col),
            n.alias("n_sentences"),
            F.try_divide(total.cast("double"), n).alias("mean_sent_tokens"),
            F.coalesce(F.array_max("_tc"), F.lit(0)).alias("max_sent_tokens"),
            F.try_divide(n_short.cast("double"), n).alias("short_frac"),
        )
    )


def gram_topk(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    n: int = 3,
    k: int = 10,
) -> DataFrame:
    """Per-group heavy-hitter n-grams: the k most frequent n-grams within
    each group (source/domain/language), with occurrence counts and the
    share of the group's total n-gram mass — the boilerplate/spam/SEO
    signal a per-source curation review reads (a repeated navigation
    header or template sentence dominates its source's top grams long
    before it moves aggregate quality scores). Generalizes the
    distribution sorters' top-common bucket listing
    (reference `dist/DistributionSorter.java:40-130`) to text grams.

    Plan: tokens projected once per row, array-indexed gram transform,
    one explode -> ONE partial-aggregated groupBy(group, gram) — a viral
    gram is one reduce key whose counts combine map-side, so shuffle
    volume is distinct-gram cardinality, not occurrences. The rank
    window sorts only the aggregated (group, gram, cnt) frame (sort
    spills, never OOMs); group totals are a second tiny agg of that same
    frame joined back broadcast. Deterministic ties: rank orders by
    (cnt DESC, gram ASC).

    Output: (group_col, gram, cnt, rank, share), rank <= k.
    """
    tok = df.select(
        F.col(group_col).alias("_grp"),
        tokens(F.lower(F.col(text_col))).alias("_toks"),
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
    counts = (
        tok.select("_grp", F.explode(grams).alias("gram"))
        .groupBy("_grp", "gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    totals = counts.groupBy("_grp").agg(F.sum("cnt").alias("_total"))
    w = Window.partitionBy("_grp").orderBy(F.col("cnt").desc(), F.col("gram").asc())
    ranked = (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .join(F.broadcast(totals), "_grp")
    )
    return ranked.select(
        F.col("_grp").alias(group_col),
        "gram",
        "cnt",
        "rank",
        F.round(F.col("cnt") / F.col("_total").cast("double"), 6).alias("share"),
    )


def compression_ratio(
    df: DataFrame,
    text_col: str = "text",
    level: int = 6,
    out_col: str = "zlib_ratio",
) -> DataFrame:
    """Per-document zlib compressibility — the classic cheap quality
    signal the big web-corpus pipelines (Gopher/CCNet lineage) run beside
    the rule gates: highly compressible text (low ratio) is templated or
    repetitive boilerplate, near-incompressible text (ratio ~1) is
    encrypted/binary junk or hash spam; natural prose sits in a band
    between. Complements ``repetition_score`` (n-gram level) with a
    whole-document, vocabulary-free measure.

    Adds ``n_bytes`` (UTF-8 length, codegen octet_length), ``n_zlib``
    (DEFLATE payload length), and ``out_col`` = n_zlib / n_bytes rounded
    to 6 (NULL for empty or NULL text). zlib is genuinely inexpressible
    in Spark SQL, so this is the text family's one Python kernel — an
    Arrow-batched pandas_udf (vectorized transfer, per-batch Python cost)
    computing ONLY the compressed length; the byte length and the ratio
    stay codegen. No shuffle: the whole operator is one map pass, so it
    scales linearly in bytes scanned like every other scan-speed gate.
    DEFLATE output for a fixed (input, level) is deterministic for a
    given zlib build — the oracle replays the same library off-Spark.
    """
    from pyspark.sql.functions import pandas_udf

    def _lens(s):
        import zlib

        return s.map(
            lambda t: None
            if t is None
            else len(zlib.compress(t.encode("utf-8"), level))
        )

    # explicit returnType (no type hints): this module uses
    # `from __future__ import annotations`, which stringifies hints and
    # breaks pyspark's hint-based eval-type resolution
    _zlib_len = pandas_udf(_lens, "long")

    out = df.withColumn("n_bytes", F.octet_length(F.col(text_col)))
    out = out.withColumn("n_zlib", _zlib_len(F.col(text_col)))
    return out.withColumn(
        out_col,
        F.when(
            F.col("n_bytes") > 0,
            F.round(F.col("n_zlib") / F.col("n_bytes").cast("double"), 6),
        ),
    )


def fuse_stats(
    df: DataFrame,
    signal_cols: Sequence[str],
    by: Sequence[str] | None = None,
) -> DataFrame:
    """Fit the fusion model: ROUND-6 mean/std per signal — corpus-wide,
    or per stratum with ``by`` (per-language standardization: what counts
    as high-punctuation prose differs per script, so cross-language
    z-scores mix calibrations). The round-6 quantization is the registry
    model convention: aggregate summation order varies with partitioning,
    so the broadcast model must be quantized before any row math replays
    it. One partial-aggregated pass; output is 1 row (or |strata| rows)
    and broadcasts. ``_fitted`` marks rows produced by a real fit so
    :func:`fuse_apply` can distinguish an unlearned stratum from a
    learned-but-degenerate one."""
    if not signal_cols:
        raise ValueError("quality_fuse needs at least one signal column")
    aggs = []
    for c in signal_cols:
        aggs.append(F.round(F.avg(F.col(c)), 6).alias(f"_mu_{c}"))
        aggs.append(F.round(F.stddev_samp(F.col(c)), 6).alias(f"_sd_{c}"))
    # _fitted must reflect a REAL fit: a global agg on an empty frame
    # still emits one row (NULL mu/sd), and lit(True) would make
    # fuse_apply score every row 0.0 ('exactly average') against an
    # unlearned model instead of NULL — the contract violation. count>0
    # makes the empty-corpus model row carry _fitted=false.
    aggs.append((F.count(F.lit(1)) > 0).alias("_fitted"))
    if by:
        return df.groupBy(*by).agg(*aggs)
    return df.agg(*aggs)


def fuse_apply(
    df: DataFrame,
    stats: DataFrame,
    signal_cols: Sequence[str],
    weights: Sequence[float] | None = None,
    by: Sequence[str] | None = None,
    out_col: str = "fused_score",
) -> DataFrame:
    """Score rows against a fitted fusion model (:func:`fuse_stats`):
    z = (x - mu) / sd per signal at FULL precision (mu/sd are the round-6
    model; rounding z itself would manufacture exact .5 decimal
    boundaries in the weighted mean where engine round() implementations
    diverge), weighted sum renormalized over the non-NULL z's per row,
    ONLY the final score round-6. Constant signals (sd 0) and NULL signals
    drop out of the weight mass; a row whose stratum has NO fitted stats
    scores NULL (an unlearned stratum must never silently read as
    'exactly average' — the 'I'-label convention of the serving jobs).

    Stateless and broadcast-only, so it runs unchanged on a stream
    (streaming.jobs.stream_quality_fuse) — the model is a tiny broadcast
    frame, not stream state."""
    if not signal_cols:
        raise ValueError("quality_fuse needs at least one signal column")
    if weights is None:
        weights = [1.0] * len(signal_cols)
    if len(weights) != len(signal_cols):
        raise ValueError(
            f"{len(signal_cols)} signals but {len(weights)} weights"
        )
    if by:
        out = df.join(F.broadcast(stats), list(by), "left")
    else:
        out = df.join(F.broadcast(stats))
    zs, ws = [], []
    # z stays FULL precision: the inputs and the round-6 model are
    # bit-identical cross-engine, so (x - mu) / sd is too — rounding z
    # here would manufacture exact .5 decimal boundaries in the weighted
    # mean (average of quantized values), where engine round()
    # implementations legitimately disagree; only the FINAL score rounds
    for c, w in zip(signal_cols, weights):
        z = F.when(
            F.col(c).isNotNull() & (F.col(f"_sd_{c}") > 0),
            (F.col(c) - F.col(f"_mu_{c}")) / F.col(f"_sd_{c}"),
        )
        zs.append(F.coalesce(z, F.lit(0.0)) * F.lit(float(w)))
        ws.append(
            F.when(z.isNotNull(), F.lit(float(w))).otherwise(F.lit(0.0))
        )
    total_w = sum(ws[1:], start=ws[0])
    # unlearned = no stats row joined (NULL) OR an empty-fit row (False)
    fused = F.when(
        ~F.coalesce(F.col("_fitted"), F.lit(False)), F.lit(None).cast("double")
    ).otherwise(
        F.when(
            total_w > 0,
            F.round(sum(zs[1:], start=zs[0]) / total_w, 6),
        ).otherwise(F.lit(0.0))
    )
    out = out.withColumn(out_col, fused)
    return out.drop(
        "_fitted",
        *[f"_mu_{c}" for c in signal_cols],
        *[f"_sd_{c}" for c in signal_cols],
    )


def quality_fuse(
    df: DataFrame,
    signal_cols: Sequence[str],
    weights: Sequence[float] | None = None,
    out_col: str = "fused_score",
    by: Sequence[str] | None = None,
) -> DataFrame:
    """Multi-signal quality fusion: standardize each signal against its
    corpus (or per-``by``-stratum) mean/std and combine with weights —
    the ensemble step of a curation pipeline where rule gates (gopher),
    composite heuristics (quality_score), and compressibility
    (zlib_ratio) each see failure modes the others miss. Z-standardizing
    before the weighted sum puts signals on one scale regardless of
    their native ranges; ``by=['lang']`` calibrates per language.

    Deliberately NOT rank fusion (RRF): global per-signal ranks cost a
    full sort per signal — three global sorts at 100 TB. Standardization
    needs only one tiny aggregate (means/stds for all signals in ONE
    pass) broadcast back onto the fact table, so the whole ensemble is a
    scan + one dimension-sized broadcast join. Fit/apply are exposed
    separately (:func:`fuse_stats` / :func:`fuse_apply`) so a stream can
    score against a batch-fitted model."""
    return fuse_apply(
        df, fuse_stats(df, signal_cols, by), signal_cols, weights, by, out_col
    )


def lang_fertility(
    df: DataFrame,
    lang_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Per-language tokenizer-fertility card: docs, UTF-8 bytes,
    whitespace tokens, bytes-per-token, and tokens-per-100-bytes for each
    language — the budgeting table behind multilingual mix planning
    (token targets priced in bytes differ per script: CJK carries ~3
    bytes/char and few whitespace tokens, so byte budgets and token
    budgets diverge exactly where this card says they do). One
    partial-aggregated groupBy(lang); tokenization is the portable
    whitespace class, byte length is codegen octet_length."""
    toks = tokens(F.col(text_col))
    per = df.select(
        F.col(lang_col).alias("lang"),
        F.octet_length(F.col(text_col)).alias("_bytes"),
        F.size(toks).alias("_toks"),
    )
    agg = per.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_bytes").alias("total_bytes"),
        F.sum("_toks").alias("total_tokens"),
    )
    return agg.select(
        "lang",
        "n_docs",
        "total_bytes",
        "total_tokens",
        F.when(
            F.col("total_tokens") > 0,
            F.round(F.col("total_bytes") / F.col("total_tokens"), 6),
        ).alias("bytes_per_token"),
        F.when(
            F.col("total_bytes") > 0,
            F.round(F.col("total_tokens") * 100.0 / F.col("total_bytes"), 6),
        ).alias("tokens_per_100_bytes"),
    )


def bm25_topk(
    df: DataFrame,
    query_terms: Sequence[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-k BM25 retrieval over the corpus for a bag-of-words query — the
    ranking pass of a corpus search / targeted-curation pipeline ("pull
    the k documents most about these terms"). Okapi BM25 with the Lucene
    non-negative IDF: idf(t) = ln(1 + (N - df + 0.5) / (df + 0.5)),
    contrib(t, d) = idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl /
    avgdl)); dl is the doc's whitespace-token count, avgdl the corpus
    mean over ALL docs (matching and not). Query terms are lowercased and
    deduplicated; terms absent from the corpus contribute nothing (df = 0
    rows never join). Rank on the ROUND-6 score with a doc-id tie-break
    (the repo's rank-cut convention); n_hit_terms counts the distinct
    query terms the doc contains.

    Output: (id, n_hit_terms, score, bm25_rank), bm25_rank <= k.

    Scale shape: the query-term filter runs INSIDE the token array before
    the explode, so the exploded frame is |matching tokens| rows (a few
    per doc), never corpus-token-sized. tf is one partial-aggregated
    groupBy(id, term); df(t) and the (N, avgdl) pair are |q|-row and
    1-row broadcasts. The global top-k is orderBy + limit — Spark's
    distributed TakeOrderedAndProject, never a single-task full sort —
    and the rank window runs on the k-row result. Costs two
    projection-pruned scans of (id, text): one for the corpus length
    stats, one for the match explode; persist the narrow per-doc frame
    first if the scan dominates at your scale."""
    terms = sorted({str(t).lower() for t in query_terms})
    base = df.select(
        F.col(id_col).alias("_id"),
        tokens(F.lower(F.col(text_col))).alias("_ts"),
    )
    perdoc = base.select(
        "_id",
        F.size("_ts").alias("_dl"),
        F.filter("_ts", lambda x: x.isin(terms)).alias("_m"),
    )
    stats = perdoc.agg(
        F.count(F.lit(1)).alias("_n"), F.avg("_dl").alias("_avgdl")
    )
    # tf feeds BOTH the df(t) aggregate and the scoring join below;
    # unpersisted, each branch re-runs the tokenize + explode + groupBy
    # over the corpus scan. The frame is |matching docs| x |query terms|
    # rows of (id, term, counts) — narrow, match-bounded.
    tf = caching.persist(
        perdoc.select("_id", "_dl", F.explode("_m").alias("token"))
        .groupBy("_id", "token")
        .agg(F.count(F.lit(1)).alias("_tf"), F.max("_dl").alias("_dl"))
    )
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("_df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("_n") - F.col("_df") + F.lit(0.5)) / (F.col("_df") + F.lit(0.5))
    )
    norm = F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("_dl") / F.col("_avgdl")
    )
    contrib = idf * F.col("_tf") * F.lit(k1 + 1.0) / (F.col("_tf") + norm)
    scored = (
        tf.join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(stats))
        .groupBy("_id")
        .agg(
            F.count(F.lit(1)).alias("n_hit_terms"),
            F.round(F.sum(contrib), 6).alias("score"),
        )
    )
    top = scored.orderBy(F.col("score").desc(), F.col("_id").asc()).limit(k)
    w = Window.orderBy(F.col("score").desc(), F.col("_id").asc())
    return top.withColumn("bm25_rank", F.row_number().over(w)).select(
        F.col("_id").alias(id_col), "n_hit_terms", "score", "bm25_rank"
    )
