"""Registry entries: text analysis, dedup, and similarity search on the
documents/embeddings tables (north-star operators)."""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup, similarity, text
from ..sources import load_table
from .model_oracles import ivf_oracle as _ivf_oracle
from .model_oracles import prototype_prune_oracle as _prototype_prune_oracle
from .model_oracles import topic_drift_oracle as _topic_drift_oracle
from .model_oracles import semantic_dedup_oracle as _semantic_dedup_oracle
from .model_oracles import topic_mix_oracle as _topic_mix_oracle
from .queries_stats import _round
from .registry import register

_TOKS_SQL = "list_filter(regexp_split_to_array(trim(text), '[ \\t\\n\\f\\r\\x0B]+'), x -> x <> '')"

_TOKEN_COUNT_ORACLE = f"""
SELECT doc_id, len({_TOKS_SQL}) AS n_tokens FROM documents
"""


@register("token_count", _TOKEN_COUNT_ORACLE)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.token_count(docs).select("doc_id", "n_tokens")


_FEATURES_ORACLE = f"""
WITH t AS (
  SELECT doc_id, text, {_TOKS_SQL} AS toks FROM documents
)
SELECT doc_id, len(toks) AS n_tokens,
       round(list_sum(list_transform(toks, x -> length(x))) * 1.0 / len(toks), 6) AS avg_token_len,
       round(length(regexp_replace(text, '[a-zA-Z0-9 \\t\\n\\f\\r\\x0B]', '', 'g')) * 1.0 / length(text), 6) AS punct_ratio,
       round(len(list_filter(toks, x -> list_contains({text.STOPWORDS!r}, x))) * 1.0 / len(toks), 6) AS stopword_ratio,
       round(len(list_distinct(toks)) * 1.0 / len(toks), 6) AS type_token_ratio
FROM t
"""


@register("text_features", _FEATURES_ORACLE)
def q_text_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    out = text.text_features(docs).select(
        "doc_id", "n_tokens", "avg_token_len", "punct_ratio", "stopword_ratio",
        "type_token_ratio",
    )
    return _round(out, ["avg_token_len", "punct_ratio", "stopword_ratio", "type_token_ratio"])


_QUALITY_ORACLE = f"""
WITH t AS (
  SELECT doc_id, text, {_TOKS_SQL} AS toks FROM documents
), f AS (
  SELECT doc_id, len(toks) AS n_tokens,
         length(regexp_replace(text, '[a-zA-Z0-9 \\t\\n\\f\\r\\x0B]', '', 'g')) * 1.0 / length(text) AS punct_ratio,
         len(list_filter(toks, x -> list_contains({text.STOPWORDS!r}, x))) * 1.0 / len(toks) AS stopword_ratio,
         len(list_distinct(toks)) * 1.0 / len(toks) AS type_token_ratio
  FROM t
)
SELECT doc_id,
       round(0.25 * least(1.0, n_tokens / 50.0)
           + 0.25 * (1.0 - least(1.0, punct_ratio * 4.0))
           + 0.25 * least(1.0, stopword_ratio * 5.0)
           + 0.25 * type_token_ratio, 6) AS quality
FROM f
"""


# N-gram novelty: share of a doc's distinct trigrams whose corpus-wide
# first occurrence (min doc_id) is this doc. Docs with < 3 tokens have no
# grams and are omitted (no evidence).
_NOVELTY_ORACLE = """
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\f\\r\\x0B]+'),
                     x -> x <> '') AS toks
  FROM documents
), g AS (
  SELECT doc_id,
         unnest(list_distinct([array_to_string(toks[i:i+2], ' ')
                               FOR i IN range(1, len(toks) - 1)])) AS gram
  FROM t WHERE len(toks) >= 3
), own AS (
  SELECT gram, min(doc_id) AS owner FROM g GROUP BY gram
)
SELECT g.doc_id,
       count(*) AS n_grams,
       CAST(sum(CASE WHEN own.owner = g.doc_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       round(sum(CASE WHEN own.owner = g.doc_id THEN 1 ELSE 0 END) * 1.0
             / count(*), 6) AS novelty
FROM g JOIN own USING (gram)
GROUP BY g.doc_id
"""


@register("ngram_novelty", _NOVELTY_ORACLE)
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc trigram novelty (text.ngram_novelty): share of a doc's
    distinct trigrams first seen in this doc — the memorization/novelty
    curation audit; exact later-copies score 0, boilerplate-heavy docs
    score low without any whole chunk repeating."""
    docs = load_table(spark, sf_dir, "documents")
    return text.ngram_novelty(docs, "doc_id", "text", n=3)


# Soft quality sampling: keep iff u(doc_id) < RAW quality (both engines
# compute the same ratio arithmetic, so the compare cannot flip); output
# rounds for the hash only.
_QUALITY_SAMPLE_ORACLE = f"""
WITH t AS (
  SELECT doc_id, text, {{toks}} AS toks FROM documents
), f AS (
  SELECT doc_id, len(toks) AS n_tokens,
         length(regexp_replace(text, '[a-zA-Z0-9 \\t\\n\\f\\r\\x0B]', '', 'g')) * 1.0 / length(text) AS punct_ratio,
         len(list_filter(toks, x -> list_contains({{stop}}, x))) * 1.0 / len(toks) AS stopword_ratio,
         len(list_distinct(toks)) * 1.0 / len(toks) AS type_token_ratio
  FROM t
), q AS (
  SELECT doc_id,
         0.25 * least(1.0, n_tokens / 50.0)
       + 0.25 * (1.0 - least(1.0, punct_ratio * 4.0))
       + 0.25 * least(1.0, stopword_ratio * 5.0)
       + 0.25 * type_token_ratio AS quality
  FROM f
)
SELECT doc_id, round(quality, 6) AS quality, round({{u}}, 6) AS u
FROM q WHERE {{u}} < quality
"""


def _quality_sample_oracle() -> str:
    return _QUALITY_SAMPLE_ORACLE.format(
        toks=_TOKS_SQL, stop=repr(text.STOPWORDS), u=_U_SQL
    )


@register("quality_sample", lambda sf_dir: _quality_sample_oracle())
def q_quality_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft quality filter (sampling.score_sample): keep each doc with
    probability equal to its [0,1] quality score — hash-deterministic, so
    the kept set replays exactly; the soft companion to the hard
    percentile gates, preserving low-score diversity mass."""
    from ..operators import sampling

    docs = load_table(spark, sf_dir, "documents")
    scored = text.quality_score(docs)
    out = sampling.score_sample(scored, "doc_id", "quality", seed=42, u_col="u")
    return out.select(
        "doc_id", F.round("quality", 6).alias("quality"), F.round("u", 6).alias("u")
    )


@register("quality_score", _QUALITY_ORACLE)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return _round(text.quality_score(docs).select("doc_id", "quality"), ["quality"])


def _lang_hits_sql(lang: str) -> str:
    markers = text.LANG_MARKERS[lang]
    return f"len(list_filter(toks, x -> list_contains({markers!r}, x)))"


_LANG_ID_ORACLE = f"""
WITH t AS (
  SELECT doc_id, lang, {_TOKS_SQL.replace("trim(text)", "trim(lower(text))")} AS toks
  FROM documents
), h AS (
  SELECT doc_id, lang,
         {_lang_hits_sql("en")} AS h_en, {_lang_hits_sql("es")} AS h_es,
         {_lang_hits_sql("de")} AS h_de, {_lang_hits_sql("fr")} AS h_fr,
         {_lang_hits_sql("zh")} AS h_zh
  FROM t
)
SELECT doc_id, lang,
       CASE WHEN h_en >= h_es AND h_en >= h_de AND h_en >= h_fr AND h_en >= h_zh THEN 'en'
            WHEN h_es >= h_de AND h_es >= h_fr AND h_es >= h_zh THEN 'es'
            WHEN h_de >= h_fr AND h_de >= h_zh THEN 'de'
            WHEN h_fr >= h_zh THEN 'fr'
            ELSE 'zh' END AS pred_lang
FROM h
"""


@register("lang_id", _LANG_ID_ORACLE)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.lang_id(docs).select("doc_id", "lang", "pred_lang")


# Heuristic-vs-label confusion matrix: the model-eval view of lang_id —
# per (label, prediction) cell count plus the cell's share of its label
# row (recall when lang == pred_lang). Composes the lang_id CTE verbatim.
_LANG_CONFUSION_ORACLE = f"""
WITH t AS (
  SELECT doc_id, lang, {_TOKS_SQL.replace("trim(text)", "trim(lower(text))")} AS toks
  FROM documents
), h AS (
  SELECT doc_id, lang,
         {_lang_hits_sql("en")} AS h_en, {_lang_hits_sql("es")} AS h_es,
         {_lang_hits_sql("de")} AS h_de, {_lang_hits_sql("fr")} AS h_fr,
         {_lang_hits_sql("zh")} AS h_zh
  FROM t
), p AS (
  SELECT lang,
         CASE WHEN h_en >= h_es AND h_en >= h_de AND h_en >= h_fr AND h_en >= h_zh THEN 'en'
              WHEN h_es >= h_de AND h_es >= h_fr AND h_es >= h_zh THEN 'es'
              WHEN h_de >= h_fr AND h_de >= h_zh THEN 'de'
              WHEN h_fr >= h_zh THEN 'fr'
              ELSE 'zh' END AS pred_lang
  FROM h
), c AS (
  SELECT lang, pred_lang, count(*) AS n FROM p GROUP BY lang, pred_lang
), t2 AS (
  SELECT lang, CAST(sum(n) AS BIGINT) AS total FROM c GROUP BY lang
)
SELECT c.lang, c.pred_lang, CAST(c.n AS BIGINT) AS n,
       round(c.n * 1.0 / t2.total, 6) AS label_share
FROM c JOIN t2 USING (lang)
"""


@register("lang_confusion", _LANG_CONFUSION_ORACLE)
def q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-vs-prediction confusion matrix for the lang-ID heuristic —
    the model-eval view every classifier in the pipeline should ship
    with; diagonal cells' label_share is per-language recall."""
    from pyspark.sql import Window as W

    pred = text.lang_id(load_table(spark, sf_dir, "documents"))
    counts = pred.groupBy("lang", "pred_lang").agg(F.count("*").alias("n"))
    total = F.sum("n").over(W.partitionBy("lang"))
    return counts.select(
        "lang", "pred_lang", "n",
        F.round(F.col("n") / total, 6).alias("label_share"),
    )


_FINGERPRINT_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
), c AS (
  SELECT doc_id,
         list_transform(toks, x -> (31 * length(x) + unicode(x)) % {text.FP_TOKEN_MOD}) AS codes
  FROM t
)
SELECT doc_id,
       list_reduce(list_prepend(0::BIGINT, codes::BIGINT[]),
                   (acc, c) -> (acc * {text.FP_MULT} + c) % {text.FP_MOD}) AS fingerprint
FROM c
"""


@register("doc_fingerprint", _FINGERPRINT_ORACLE)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.fingerprint(docs).select("doc_id", "fingerprint")


_EXACT_DUP_ORACLE = """
WITH h AS (
  SELECT doc_id, md5(text) AS content_hash FROM documents
), c AS (
  SELECT content_hash, count(*) AS dup_count FROM h GROUP BY content_hash
)
SELECT h.doc_id, h.content_hash, c.dup_count FROM h JOIN c USING (content_hash)
"""


@register("dedup_exact", _EXACT_DUP_ORACLE)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.exact_duplicates(docs, "doc_id")


_SHINGLE_SQL = """
list_distinct(CASE WHEN len(toks) >= 3
  THEN list_transform(generate_series(1, len(toks) - 2),
                      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
  ELSE [] END)
"""

_JACCARD_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
), sh AS (
  SELECT doc_id, {_SHINGLE_SQL} AS s, (len(toks) // 20)::BIGINT AS band FROM t
)
SELECT a.doc_id AS src, b.doc_id AS dst,
       round(len(list_intersect(a.s, b.s)) * 1.0
             / len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
FROM sh a JOIN sh b ON a.band = b.band AND a.doc_id < b.doc_id
WHERE len(list_intersect(a.s, b.s)) * 1.0
      / len(list_distinct(list_concat(a.s, b.s))) >= 0.5
"""


@register("dedup_jaccard", _JACCARD_ORACLE)
def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    out = dedup.jaccard_pairs(docs, "doc_id", n=3, band_width=20, min_jaccard=0.5)
    return _round(out, ["jaccard"])


# MinHash-LSH: md5-derived minhashes (lexicographic min over md5 hex strings,
# which DuckDB computes identically to Spark) make the full pipeline —
# shingle -> 16 minhashes -> 4 banded signatures -> candidate equi-join ->
# exact-Jaccard verification — hash-exact oracle-verifiable.
def _hex32_sql(hx: str) -> str:
    """BIGINT value of the first 8 hex chars of column ``hx`` (the same
    32-bit base hash Spark gets from conv(substr(md5,1,8),16,10))."""
    terms = [
        f"(strpos('0123456789abcdef', substr({hx}, {p + 1}, 1)) - 1)::BIGINT * {16 ** (7 - p)}"
        for p in range(8)
    ]
    return "(" + " + ".join(terms) + ")"


_MH_CONSTS = dedup.minhash_affine_constants(16)
_MH_EXPRS = ", ".join(
    f"min(({a} * h + {b}) % {dedup.MINHASH_P}) AS mh_{i}"
    for i, (a, b) in enumerate(_MH_CONSTS)
)
_MH_BAND_SIGS = "\n  UNION ALL\n".join(
    "  SELECT doc_id, {b} AS band, md5({cat}) AS sig FROM mh".format(
        b=b,
        cat=" || '|' || ".join(f"mh_{b * 4 + r}::VARCHAR" for r in range(4)),
    )
    for b in range(4)
)

_MINHASH_PAIR_CTES = f"""t AS (
  SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
), shl AS (
  SELECT doc_id, {_SHINGLE_SQL} AS s FROM t
), ex AS (
  SELECT doc_id, unnest(s) AS sh FROM shl
), hv AS (
  SELECT doc_id, {_hex32_sql("md5(sh)")} AS h FROM ex
), mh AS (
  SELECT doc_id, {_MH_EXPRS} FROM hv GROUP BY doc_id
), sig AS (
{_MH_BAND_SIGS}
), cand AS (
  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
  FROM sig a JOIN sig b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
), mpairs AS (
  SELECT c.src, c.dst,
         round(len(list_intersect(sa.s, sb.s)) * 1.0
               / len(list_distinct(list_concat(sa.s, sb.s))), 6) AS jaccard
  FROM cand c JOIN shl sa ON sa.doc_id = c.src JOIN shl sb ON sb.doc_id = c.dst
  WHERE len(list_intersect(sa.s, sb.s)) * 1.0
        / len(list_distinct(list_concat(sa.s, sb.s))) >= 0.5
)"""

_MINHASH_ORACLE = f"""
WITH {_MINHASH_PAIR_CTES}
SELECT src, dst, jaccard FROM mpairs
"""


@register("dedup_minhash_lsh", _MINHASH_ORACLE)
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    out = dedup.minhash_lsh_pairs(
        docs, "doc_id", num_hashes=16, bands=4, n=3, min_jaccard=0.5
    )
    return _round(out, ["jaccard"])


# Connected components over the (oracle-identical) minhash pair graph: the
# recursive CTE computes each node's full reachable set and takes the min —
# O(cluster²) rows, fine at oracle scale; the Spark side is the distributed
# min-label-propagation loop in dedup.dedup_clusters.
_CLUSTERS_ORACLE = f"""
WITH RECURSIVE {_MINHASH_PAIR_CTES}, edges AS (
  SELECT src AS a, dst AS b FROM mpairs
  UNION
  SELECT dst, src FROM mpairs
), reach(node, r) AS (
  SELECT a, a FROM edges
  UNION
  SELECT reach.node, e.b FROM reach JOIN edges e ON e.a = reach.r
), comp AS (
  SELECT node, min(r) AS rep FROM reach GROUP BY node
), lab AS (
  SELECT d.doc_id, coalesce(c.rep, d.doc_id) AS cluster_rep
  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
)
SELECT doc_id, cluster_rep,
       count(*) OVER (PARTITION BY cluster_rep) AS cluster_size
FROM lab
"""


@register("dedup_clusters", _CLUSTERS_ORACLE)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(
        docs, "doc_id", num_hashes=16, bands=4, n=3, min_jaccard=0.5
    )
    return dedup.dedup_clusters(docs, "doc_id", pairs)


_DEDUP_STATS_ORACLE = f"""
WITH RECURSIVE {_MINHASH_PAIR_CTES}, edges AS (
  SELECT src AS a, dst AS b FROM mpairs
  UNION
  SELECT dst, src FROM mpairs
), reach(node, r) AS (
  SELECT a, a FROM edges
  UNION
  SELECT reach.node, e.b FROM reach JOIN edges e ON e.a = reach.r
), comp AS (
  SELECT node, min(r) AS rep FROM reach GROUP BY node
), lab AS (
  SELECT d.doc_id, coalesce(c.rep, d.doc_id) AS cluster_rep
  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
), sizes AS (
  SELECT cluster_rep, count(*) AS cluster_size FROM lab GROUP BY cluster_rep
)
SELECT cluster_size, count(*) AS n_clusters, CAST(sum(cluster_size) AS BIGINT) AS n_docs
FROM sizes GROUP BY cluster_size
"""


@register("dedup_stats", _DEDUP_STATS_ORACLE)
def q_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup data-card accounting (dedup.dedup_stats): near-dup cluster-size
    histogram; duplicate mass = 1 - sum(n_clusters)/sum(n_docs)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(
        docs, "doc_id", num_hashes=16, bands=4, n=3, min_jaccard=0.5
    )
    return dedup.dedup_stats(docs, "doc_id", pairs)


_CORPUS_ORACLE = f"""
WITH RECURSIVE {_MINHASH_PAIR_CTES}, edges AS (
  SELECT src AS a, dst AS b FROM mpairs
  UNION
  SELECT dst, src FROM mpairs
), reach(node, r) AS (
  SELECT a, a FROM edges
  UNION
  SELECT reach.node, e.b FROM reach JOIN edges e ON e.a = reach.r
), comp AS (
  SELECT node, min(r) AS rep FROM reach GROUP BY node
)
SELECT d.doc_id, md5(d.text) AS content_hash
FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
WHERE coalesce(c.rep, d.doc_id) = d.doc_id
"""


@register("dedup_corpus", _CORPUS_ORACLE)
def q_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(
        docs, "doc_id", num_hashes=16, bands=4, n=3, min_jaccard=0.5
    )
    out = dedup.dedup_corpus(docs, "doc_id", pairs)
    return out.select("doc_id", F.md5("text").alias("content_hash"))


def _simhash_bit_sql(b: int) -> str:
    """±1 contribution of md5-prefix bit b: hex char 8-(b//4) (1-based from
    the left) holds bits 4*(b//4)+3..4*(b//4); extract bit (b%4) of its
    nibble value."""
    return (
        f"CASE WHEN ((strpos('0123456789abcdef', substr(hx, {8 - b // 4}, 1)) - 1)"
        f" // {2 ** (b % 4)}) % 2 = 1 THEN 1 ELSE -1 END"
    )


# SimHash: the 32-bit token hash is the first 8 hex chars of md5(token) —
# DuckDB rebuilds each bit from the hex string. The Spark side's pigeonhole
# Hamming-LSH banding has FULL recall for hamming <= max_hamming, so the
# oracle is the simpler brute-force sketch self-join (xor + bit_count).
_SIMHASH_ORACLE = f"""
WITH t AS (
  SELECT doc_id, list_distinct({_TOKS_SQL}) AS toks FROM documents
), h AS (
  SELECT doc_id, md5(unnest(toks)) AS hx FROM t
), bitsum AS (
  SELECT doc_id,
         {", ".join(f"sum({_simhash_bit_sql(b)}) AS s_{b}" for b in range(32))}
  FROM h GROUP BY doc_id
), sk AS (
  SELECT doc_id,
         ({" + ".join(f"CASE WHEN s_{b} > 0 THEN {2 ** b} ELSE 0 END" for b in range(32))})::BIGINT AS sketch
  FROM bitsum
)
SELECT a.doc_id AS src, b.doc_id AS dst,
       bit_count(xor(a.sketch, b.sketch))::INT AS hamming
FROM sk a JOIN sk b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sketch, b.sketch)) <= 3
"""


@register("dedup_simhash", _SIMHASH_ORACLE)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # 32-bit sketch -> 4 bands of 8 bits: wide enough that band buckets stay
    # small (16-bit/4-bit bands collapse similar docs into huge buckets)
    return dedup.simhash_dup_pairs(docs, "doc_id", max_hamming=3, bits=32)


def _simhash_bit_sql_wide(b: int) -> str:
    """±1 contribution of md5 bit b for the WIDE sketch: word k = b // 32
    is hex chars 8k+1..8k+8 of the digest; within the word the same
    nibble arithmetic as _simhash_bit_sql."""
    k, lb = divmod(b, 32)
    pos = 8 * k + 8 - lb // 4
    return (
        f"CASE WHEN ((strpos('0123456789abcdef', substr(hx, {pos}, 1)) - 1)"
        f" // {2 ** (lb % 4)}) % 2 = 1 THEN 1 ELSE -1 END"
    )


def _simhash_auto_oracle(sf_dir: str) -> str:
    """Oracle for the auto-width SimHash: resolves the same
    auto_simhash_bits(count) knob off-Spark, then replays the wide
    multi-word sketch (per-bit ±1 sums over successive md5 words), the
    per-band packing, and the full-sketch hamming in pure SQL — the whole
    pipeline hash-verifies, auto knob included."""
    import duckdb

    from ..operators.dedup import auto_simhash_bits

    n = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchone()[0]
    max_h = 3
    n_bands = max_h + 1
    bits = auto_simhash_bits(n, max_h, 8)
    bits = (bits // n_bands) * n_bands
    w = bits // n_bands
    bitsums = ", ".join(
        f"sum({_simhash_bit_sql_wide(b)}) AS s_{b}" for b in range(bits)
    )
    band_cols = ", ".join(
        "("
        + " + ".join(
            f"CASE WHEN s_{i * w + j} > 0 THEN {2 ** j} ELSE 0 END"
            for j in range(w)
        )
        + f")::BIGINT AS band_{i}"
        for i in range(n_bands)
    )
    hamm = " + ".join(
        f"bit_count(xor(a.band_{i}, b.band_{i}))" for i in range(n_bands)
    )
    return f"""
WITH t AS (
  SELECT doc_id, list_distinct({_TOKS_SQL}) AS toks FROM documents
), h AS (
  SELECT doc_id, md5(unnest(toks)) AS hx FROM t
), bitsum AS (
  SELECT doc_id, {bitsums} FROM h GROUP BY doc_id
), sk AS (
  SELECT doc_id, {band_cols} FROM bitsum
)
SELECT a.doc_id AS src, b.doc_id AS dst, ({hamm})::INT AS hamming
FROM sk a JOIN sk b ON a.doc_id < b.doc_id
WHERE {hamm} <= {max_h}
"""


@register("dedup_simhash_auto", _simhash_auto_oracle)
def q_dedup_simhash_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Auto-width SimHash near-dup — the registered scale form beside the
    fixed-32-bit dedup_simhash (the same exact-vs-auto pairing as
    media_dup_pairs / media_dup_pairs_lsh): sketch width tracks the corpus
    (dedup.auto_simhash_bits) so band buckets — and with them candidate
    volume — stay bounded as N grows, closing the last documented
    fixed-width banding ceiling (SCALE.md cliff #2 note). Full pigeonhole
    recall at the resolved width; exact duplicates sketch identically at
    any width."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash_dup_pairs(docs, "doc_id", max_hamming=3, target_bucket=8)


_COS_SQL = (
    "list_sum(list_transform(list_zip({a}, {b}), p -> p[1] * p[2]))"
    " / (sqrt(list_sum(list_transform({a}, x -> x * x)))"
    " * sqrt(list_sum(list_transform({b}, x -> x * x))))"
)

_COSINE_TOPK_ORACLE = f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
), q AS (
  SELECT vec_id AS query_id, vec FROM v WHERE vec_id < 10
), scored AS (
  SELECT q.query_id, v.vec_id AS neighbor_id,
         {_COS_SQL.format(a="q.vec", b="v.vec")} AS cosine
  FROM q JOIN v ON q.query_id <> v.vec_id
), ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS knn_rank
  FROM scored
)
SELECT query_id, neighbor_id, round(cosine, 6) AS cosine, knn_rank
FROM ranked WHERE knn_rank <= 5
"""


@register("cosine_topk", _COSINE_TOPK_ORACLE)
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    out = similarity.cosine_topk(emb, queries, "vec_id", "embedding", k=5)
    return _round(out, ["cosine"])


_COSINE_DUP_ORACLE = f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
)
SELECT a.vec_id AS src, b.vec_id AS dst,
       round({_COS_SQL.format(a="a.vec", b="b.vec")}, 6) AS cosine
FROM v a JOIN v b ON a.vec_id < b.vec_id
WHERE {_COS_SQL.format(a="a.vec", b="b.vec")} >= 0.4
"""


@register("cosine_dup_pairs", _COSINE_DUP_ORACLE)
def q_cosine_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    out = similarity.cosine_dup_pairs(emb, "vec_id", "embedding", threshold=0.4)
    return _round(out, ["cosine"])


# Embedding-level near-dup clustering: connected components over the
# cosine>=0.4 pair graph — the vector-space analogue of dedup_clusters.
_EMB_CLUSTERS_ORACLE = f"""
WITH RECURSIVE v AS (
  SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
), cpairs AS (
  SELECT a.vec_id AS src, b.vec_id AS dst
  FROM v a JOIN v b ON a.vec_id < b.vec_id
  WHERE {_COS_SQL.format(a="a.vec", b="b.vec")} >= 0.4
), edges AS (
  SELECT src AS a, dst AS b FROM cpairs
  UNION
  SELECT dst, src FROM cpairs
), reach(node, r) AS (
  SELECT a, a FROM edges
  UNION
  SELECT reach.node, e.b FROM reach JOIN edges e ON e.a = reach.r
), comp AS (
  SELECT node, min(r) AS rep FROM reach GROUP BY node
), lab AS (
  SELECT e.vec_id, coalesce(c.rep, e.vec_id) AS cluster_rep
  FROM embeddings e LEFT JOIN comp c ON c.node = e.vec_id
)
SELECT vec_id, cluster_rep,
       count(*) OVER (PARTITION BY cluster_rep) AS cluster_size
FROM lab
"""


@register("embedding_dup_clusters", _EMB_CLUSTERS_ORACLE)
def q_embedding_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup as dedup_mod

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = similarity.cosine_dup_pairs(emb, "vec_id", "embedding", threshold=0.4)
    return dedup_mod.dedup_clusters(emb, "vec_id", pairs)


def _emb_clusters_lsh_oracle(sf_dir: str) -> str:
    """Baked-signature oracle for the LSH-bucketed embedding dup-cluster
    query: signatures replayed off-Spark (auto planes, round-6 centered
    mean — the operator's float-determinism contract — seed 42), pair
    candidates restricted to Hamming <= 1 in SQL, then the exact query's
    own recursive-CTE connected components over the reduced edge set."""
    import random

    import numpy as np

    from ..operators.knn import auto_planes
    from .model_oracles import _read

    pdf = _read(sf_dir, "embeddings", ["vec_id", "embedding"])
    n = len(pdf)
    if n == 0:
        return (
            "SELECT CAST(NULL AS BIGINT) AS vec_id,"
            " CAST(NULL AS BIGINT) AS cluster_rep,"
            " CAST(NULL AS BIGINT) AS cluster_size WHERE FALSE"
        )
    x = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
    # the operator's quantized-integer mean: floor(v*1e6 + 0.5) per row
    # (the identical IEEE ops, so bit-for-bit), exact int64 sums, one
    # correctly-rounded division, round-6 — order-independent by
    # construction, unlike a raw float sum
    q = np.floor(np.nan_to_num(x, nan=0.0) * 1e6 + 0.5).astype(np.int64)
    # python round (correctly-rounded dtoa), NOT np.round (scale-multiply
    # approximation) — the operator rounds each component with python round
    mean = np.array(
        [round(float(s) / (n * 1e6), 6) for s in q.sum(axis=0)],
        dtype=np.float64,
    )  # over ALL rows, like the operator
    n_planes = auto_planes(n, 8)
    rng = random.Random(42)
    planes = [[rng.gauss(0, 1) for _ in range(x.shape[1])] for _ in range(n_planes)]
    p = np.asarray(planes, dtype=np.float64).T
    bits = ((x - mean) @ p) >= 0
    weights = 1 << np.arange(n_planes - 1, -1, -1)
    sigs = (bits.astype(np.int64) * weights).sum(axis=1)
    sig_rows = ", ".join(
        f"({int(i)}, {int(s)})" for i, s in zip(pdf["vec_id"], sigs)
    )
    return f"""
WITH RECURSIVE sig(vec_id, sig) AS (VALUES {sig_rows}),
v AS (
  SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
), cpairs AS (
  SELECT a.vec_id AS src, b.vec_id AS dst
  FROM v a JOIN v b ON a.vec_id < b.vec_id
  JOIN sig sa ON sa.vec_id = a.vec_id
  JOIN sig sb ON sb.vec_id = b.vec_id
  WHERE bit_count(xor(sa.sig, sb.sig)) <= 1
    AND {_COS_SQL.format(a="a.vec", b="b.vec")} >= 0.4
), edges AS (
  SELECT src AS a, dst AS b FROM cpairs
  UNION
  SELECT dst, src FROM cpairs
), reach(node, r) AS (
  SELECT a, a FROM edges
  UNION
  SELECT reach.node, e.b FROM reach JOIN edges e ON e.a = reach.r
), comp AS (
  SELECT node, min(r) AS rep FROM reach GROUP BY node
), lab AS (
  SELECT e.vec_id, coalesce(c.rep, e.vec_id) AS cluster_rep
  FROM embeddings e LEFT JOIN comp c ON c.node = e.vec_id
)
SELECT vec_id, cluster_rep,
       count(*) OVER (PARTITION BY cluster_rep) AS cluster_size
FROM lab
"""


@register("embedding_dup_clusters_lsh", _emb_clusters_lsh_oracle)
def q_embedding_dup_clusters_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup clustering, SCALE form: the pair stage swapped
    from the exact all-pairs engine to the LSH-bucketed candidate builder
    (similarity.cosine_dup_pairs_lsh — auto plane count, round-6 centered
    signatures), then the same union-find/pointer-jumping cluster
    propagation. Candidate-restricted edges are a subset of the exact
    query's, so clusters can only split, never merge spuriously; exact
    duplicate vectors share a signature, so true-copy clusters survive
    intact at any N."""
    from ..operators import dedup as dedup_mod

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = similarity.cosine_dup_pairs_lsh(
        emb, "vec_id", "embedding", threshold=0.4, n_planes="auto"
    )
    return dedup_mod.dedup_clusters(emb, "vec_id", pairs)


def _ann_lsh_oracle() -> str:
    """Hyperplane-LSH top-k oracle: the seeded planes are data-independent,
    so they are baked into the SQL as double literals built by the SAME
    generator ann_lsh_topk uses (random.Random(42), dim 64, 4 planes).
    Signature signs were verified bit-identical between the Spark path's
    numpy matmul and DuckDB's list fold on the fixtures (both float64; a
    flip would need |dot| within accumulation error of zero, measure-zero
    for continuous embeddings). The probe CTE reproduces the Hamming-1
    multi-probe flips."""
    import random

    rng = random.Random(42)
    planes = [[rng.gauss(0, 1) for _ in range(64)] for _ in range(4)]
    lits = ", ".join(
        "(%d, [%s]::DOUBLE[])" % (i, ",".join(repr(x) for x in p))
        for i, p in enumerate(planes)
    )
    return f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
), planes AS (
  SELECT * FROM (VALUES {lits}) p(pid, pl)
), sig AS (
  SELECT vec_id,
         string_agg(CASE WHEN list_sum(list_transform(list_zip(vec, pl), z -> z[1]*z[2])) >= 0
                    THEN '1' ELSE '0' END, '' ORDER BY pid) AS bucket
  FROM v CROSS JOIN planes GROUP BY vec_id
), qsig AS (
  SELECT vec_id, bucket FROM sig WHERE vec_id < 10
), probes AS (
  SELECT vec_id, bucket AS probe FROM qsig
  UNION ALL
  SELECT vec_id,
         substr(bucket, 1, g.i) ||
         (CASE WHEN substr(bucket, g.i + 1, 1) = '1' THEN '0' ELSE '1' END) ||
         substr(bucket, g.i + 2)
  FROM qsig CROSS JOIN generate_series(0, 3) g(i)
), cand AS (
  SELECT p.vec_id AS query_id, s.vec_id AS neighbor_id
  FROM probes p JOIN sig s ON s.bucket = p.probe AND s.vec_id <> p.vec_id
), scored AS (
  SELECT c.query_id, c.neighbor_id,
         {_COS_SQL.format(a="q.vec", b="b.vec")} AS cosine
  FROM cand c JOIN v q ON q.vec_id = c.query_id JOIN v b ON b.vec_id = c.neighbor_id
), ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS knn_rank
  FROM scored
)
SELECT query_id, neighbor_id, round(cosine, 6) AS cosine, knn_rank
FROM ranked WHERE knn_rank <= 5
"""


@register("ann_lsh_topk", _ann_lsh_oracle())
def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    out = similarity.ann_lsh_topk(emb, queries, "vec_id", "embedding", k=5, n_planes=4)
    return _round(out, ["cosine"])


def _ann_lsh_multitable_oracle() -> str:
    """Two-table hyperplane-LSH oracle: 8 planes from the SAME continuous
    random.Random(42) stream the operator draws (table t owns planes
    [t*4, t*4+4)); per-table signatures, Hamming-1 probes within each
    table's bits, candidates DISTINCT across tables before ranking —
    mirroring ann_lsh_topk(n_tables=2) term for term."""
    import random

    rng = random.Random(42)
    planes = [[rng.gauss(0, 1) for _ in range(64)] for _ in range(8)]
    lits = ", ".join(
        "(%d, [%s]::DOUBLE[])" % (i, ",".join(repr(x) for x in p))
        for i, p in enumerate(planes)
    )
    return f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
), planes AS (
  SELECT * FROM (VALUES {lits}) p(pid, pl)
), sig AS (
  SELECT vec_id, pid // 4 AS tid,
         string_agg(CASE WHEN list_sum(list_transform(list_zip(vec, pl), z -> z[1]*z[2])) >= 0
                    THEN '1' ELSE '0' END, '' ORDER BY pid) AS bucket
  FROM v CROSS JOIN planes GROUP BY vec_id, pid // 4
), qsig AS (
  SELECT vec_id, tid, bucket FROM sig WHERE vec_id < 10
), probes AS (
  SELECT vec_id, tid, bucket AS probe FROM qsig
  UNION ALL
  SELECT vec_id, tid,
         substr(bucket, 1, g.i) ||
         (CASE WHEN substr(bucket, g.i + 1, 1) = '1' THEN '0' ELSE '1' END) ||
         substr(bucket, g.i + 2)
  FROM qsig CROSS JOIN generate_series(0, 3) g(i)
), cand AS (
  SELECT DISTINCT p.vec_id AS query_id, s.vec_id AS neighbor_id
  FROM probes p JOIN sig s ON s.tid = p.tid AND s.bucket = p.probe AND s.vec_id <> p.vec_id
), scored AS (
  SELECT c.query_id, c.neighbor_id,
         {_COS_SQL.format(a="q.vec", b="b.vec")} AS cosine
  FROM cand c JOIN v q ON q.vec_id = c.query_id JOIN v b ON b.vec_id = c.neighbor_id
), ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS knn_rank
  FROM scored
)
SELECT query_id, neighbor_id, round(cosine, 6) AS cosine, knn_rank
FROM ranked WHERE knn_rank <= 5
"""


@register("ann_lsh_multitable", _ann_lsh_multitable_oracle())
def q_ann_lsh_multitable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table LSH recall amplifier: 2 independent 4-plane tables,
    Hamming-1 probes per table, candidates deduped across tables —
    measured recall@5 0.58 (one table) -> 0.82 on the adversarial
    near-uniform fixture at 2x candidate volume."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    out = similarity.ann_lsh_topk(
        emb, queries, "vec_id", "embedding", k=5, n_planes=4, n_tables=2
    )
    return _round(out, ["cosine"])


@register("ann_ivf_topk", _ivf_oracle)
def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN scale path: coarse spherical-kmeans quantizer + nprobe cell
    scan. The quantizer model (inverted lists + probes) is rebuilt by the
    model-baked oracle; candidate join + cosine + ranking hash-verify."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    out = similarity.ivf_topk(
        emb, queries, "vec_id", "embedding", k=5, n_cells=16, nprobe=4, seed=42
    )
    return _round(out, ["cosine"])


@register("topic_mix", _topic_mix_oracle)
def q_topic_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topic composition of the embedding corpus (similarity.topic_mix):
    seeded spherical-kmeans topic per vector, then (topic, label, n_vecs,
    share) — the mixing/purity table of a data-balancing plan. The topic
    model + argmax assignment are rebuilt by the model-baked oracle; the
    accounting half hash-verifies in DuckDB."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = similarity.topic_mix(
        emb, "vec_id", "embedding", label_col="label", n_topics=8, seed=42
    )
    return _round(out, ["share"])


@register("semantic_dedup", _semantic_dedup_oracle)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic prune (similarity.semantic_dedup): k-means-cluster
    the embeddings, drop every vector with cosine >= 0.4 to a smaller-id
    vector in its cluster. Registered with ``n_topics='auto'`` — the
    scale-safe form that holds expected cluster size (and so per-row pair
    work) constant as the corpus grows; a fixed topic count degrades
    ~N²/k (measured 8.81x vs 1.05x on 10x data, BASELINE.md §8). The
    oracle resolves the same auto_topics(count) and rebuilds the topic
    model + assignment; the within-cluster pair join, sequential-fold
    cosine, and min-id keep rule hash-verify in DuckDB."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.semantic_dedup(
        emb, "vec_id", "embedding", n_topics="auto", tau=0.4, seed=42
    )


@register("topic_drift", _topic_drift_oracle)
def q_topic_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift between snapshots (similarity.
    topic_share_drift): topic model frozen on snapshot A (even labels),
    both snapshots assigned against it, per-topic share shift — the
    embedding-axis member of the drift family. The fit + assignments are
    rebuilt by the model-baked oracle; the share accounting hash-verifies
    in DuckDB."""
    emb = load_table(spark, sf_dir, "embeddings")
    a = emb.filter(F.col("label") % 2 == 0)
    b = emb.filter(F.col("label") % 2 != 0)
    return similarity.topic_share_drift(
        a, b, "vec_id", "embedding", n_topics=8, seed=42
    )


@register("prototype_prune", _prototype_prune_oracle)
def q_prototype_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SSL-prototypes diversity prune (similarity.prototype_prune): keep
    the least prototypical half of each embedding cluster by cosine to
    the cluster's own centroid. The topic model + assignment are rebuilt
    by the model-baked oracle; the centroid cosine, the ascending
    percent_rank, and the keep gate hash-verify in DuckDB."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.prototype_prune(
        emb, "vec_id", "embedding", n_topics=8, keep_frac=0.5, seed=42
    )


# --- deterministic sampling / dataset-mixing queries -------------------------

_U_SQL = (
    "(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 8))::UBIGINT"
    " / 4294967296.0)"
)

_STRATIFIED_SAMPLE_ORACLE = f"""
WITH r AS (
  SELECT doc_id, lang, {_U_SQL} AS u,
         CASE lang WHEN 'en' THEN 0.25 WHEN 'es' THEN 0.5 WHEN 'de' THEN 1.0
                   WHEN 'fr' THEN 0.125 WHEN 'zh' THEN 0.0625 ELSE 0.0 END AS rate
  FROM documents
)
SELECT doc_id, lang, u FROM r WHERE u < rate
"""


@register("stratified_sample", _STRATIFIED_SAMPLE_ORACLE)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixing resample of documents by language: downweight the
    dominant language, keep the rare ones. u is an exact dyadic double
    (k/2^32), so it is emitted unrounded — Spark and DuckDB compute the
    identical bits."""
    from ..operators import sampling

    docs = load_table(spark, sf_dir, "documents")
    rates = {"en": 0.25, "es": 0.5, "de": 1.0, "fr": 0.125, "zh": 0.0625}
    out = sampling.stratified_sample(
        docs, "doc_id", "lang", rates, seed=42, u_col="u"
    )
    return out.select("doc_id", "lang", "u")


_REPEAT_MIX_ORACLE = f"""
WITH e AS (
  SELECT doc_id, lang,
         CASE lang WHEN 'en' THEN 0.25 WHEN 'es' THEN 1.5 WHEN 'de' THEN 2.0
                   WHEN 'fr' THEN 3.25 WHEN 'zh' THEN 0.0625 ELSE 0.0 END AS ep,
         {_U_SQL} AS u
  FROM documents
), c AS (
  SELECT doc_id, lang,
         CAST(floor(ep) AS BIGINT)
           + CASE WHEN u < ep - floor(ep) THEN 1 ELSE 0 END AS n
  FROM e
)
SELECT doc_id, lang,
       CAST(unnest(generate_series(0, n - 1)) AS BIGINT) AS epoch
FROM c WHERE n > 0
"""


@register("repeat_mix", _REPEAT_MIX_ORACLE)
def q_repeat_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fractional-epoch domain repetition (sampling.repeat_mix): the
    multi-epoch data recipe — rare languages repeat up to 3.25 epochs,
    the dominant one keeps a quarter epoch. Dyadic fractional parts make
    the extra-copy decision hash-exact across engines; the epoch index
    explodes from a sequence, zero shuffles."""
    from ..operators import sampling

    docs = load_table(spark, sf_dir, "documents")
    out = sampling.repeat_mix(
        docs,
        "doc_id",
        "lang",
        {"en": 0.25, "es": 1.5, "de": 2.0, "fr": 3.25, "zh": 0.0625},
        seed=42,
    )
    return out.select("doc_id", "lang", "epoch")


_TRAIN_SPLIT_ORACLE = f"""
SELECT doc_id,
       CASE WHEN {_U_SQL} < 0.75 THEN 'train'
            WHEN {_U_SQL} < 0.875 THEN 'val'
            ELSE 'test' END AS split
FROM documents
"""


_GROUP_SPLIT_ORACLE = f"""
SELECT doc_id, source,
       CASE WHEN {_U_SQL.replace("doc_id", "source")} < 0.75 THEN 'train'
            WHEN {_U_SQL.replace("doc_id", "source")} < 0.875 THEN 'val'
            ELSE 'test' END AS split
FROM documents
"""


@register("group_split", _GROUP_SPLIT_ORACLE)
def q_group_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-aware leak-free split: the split key is the doc's SOURCE, so
    every doc from one source lands in the same split — near-duplicates
    concentrate within a source, and a per-doc split would leak them
    across train/test. Same hash_uniform machinery (deterministic_split
    is key-agnostic), zero shuffle, stable under appends."""
    from ..operators import sampling

    docs = load_table(spark, sf_dir, "documents")
    out = sampling.deterministic_split(
        docs, "source", (("train", 0.75), ("val", 0.125), ("test", 0.125)), seed=42
    )
    return out.select("doc_id", "source", "split")


@register("train_split", _TRAIN_SPLIT_ORACLE)
def q_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leak-free train/val/test assignment: split is a pure function of
    (doc_id, seed); dyadic boundaries (0.75, 0.875) so the cumulative sums
    are exact in both engines."""
    from ..operators import sampling

    docs = load_table(spark, sf_dir, "documents")
    out = sampling.deterministic_split(
        docs, "doc_id", (("train", 0.75), ("val", 0.125), ("test", 0.125)), seed=42
    )
    return out.select("doc_id", "split")


_GRAMS_SQL = """
  SELECT doc_id,
         list_transform(
           generate_series(1, len(toks) - 2),
           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS grams
  FROM (SELECT doc_id,
               list_filter(regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\f\\r\\x0B]+'),
                           x -> x <> '') AS toks
        FROM documents)
"""

_REPETITION_ORACLE = f"""
WITH g AS (
  SELECT doc_id, unnest(grams) AS gram FROM ({_GRAMS_SQL})
), per_gram AS (
  SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY doc_id, gram
), per_doc AS (
  SELECT doc_id, sum(cnt) AS n_grams, sum(cnt) - count(*) AS n_dup_grams
  FROM per_gram GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(coalesce(p.n_grams, 0) AS BIGINT) AS n_grams,
       CAST(coalesce(p.n_dup_grams, 0) AS BIGINT) AS n_dup_grams,
       round(coalesce(p.n_dup_grams / CAST(p.n_grams AS DOUBLE), 0.0), 6) AS rep_ratio
FROM documents d LEFT JOIN per_doc p USING (doc_id)
"""


@register("repetition_score", _REPETITION_ORACLE)
def q_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    out = text.repetition_score(docs, "doc_id", "text", n=3)
    return _round(out, ["rep_ratio"])


_CONTAMINATION_ORACLE = f"""
WITH g AS (
  SELECT doc_id, unnest(list_distinct(grams)) AS gram FROM ({_GRAMS_SQL})
), bench AS (
  SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0
), hits AS (
  SELECT g.doc_id, count(*) AS n_grams,
         sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) AS n_contaminated
  FROM g LEFT JOIN bench b USING (gram)
  GROUP BY g.doc_id
)
SELECT d.doc_id,
       CAST(coalesce(h.n_grams, 0) AS BIGINT) AS n_grams,
       CAST(coalesce(h.n_contaminated, 0) AS BIGINT) AS n_contaminated,
       round(coalesce(h.n_contaminated / CAST(h.n_grams AS DOUBLE), 0.0), 6)
         AS contamination_ratio
FROM documents d LEFT JOIN hits h USING (doc_id)
"""


@register("contamination_check", _CONTAMINATION_ORACLE)
def q_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark contamination: every ~97th doc stands in for the eval set;
    per training doc, the fraction of its distinct 3-grams that appear in
    the benchmark corpus."""
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    out = text.contamination(docs, bench, "doc_id", "text", n=3)
    return _round(out, ["contamination_ratio"])


_BIGRAM_LM_ORACLE = """
WITH b AS (
  SELECT doc_id, unnest(grams) AS gram
  FROM (
    SELECT doc_id,
           list_transform(generate_series(1, len(toks) - 1),
                          i -> toks[i] || ' ' || toks[i+1]) AS grams
    FROM (SELECT doc_id,
                 list_filter(regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\f\\r\\x0B]+'),
                             x -> x <> '') AS toks
          FROM documents)
  )
), pair_counts AS (
  SELECT gram, count(*) AS c2 FROM b GROUP BY gram
), first_counts AS (
  SELECT split_part(gram, ' ', 1) AS w1, count(*) AS c1 FROM b GROUP BY 1
), scored AS (
  SELECT b.doc_id, count(*) AS n_bigrams,
         avg(ln(c2 / CAST(c1 AS DOUBLE))) AS avg_logprob
  FROM b
  JOIN pair_counts USING (gram)
  JOIN first_counts ON first_counts.w1 = split_part(b.gram, ' ', 1)
  GROUP BY b.doc_id
)
SELECT d.doc_id,
       CAST(coalesce(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       round(coalesce(s.avg_logprob, 0.0), 6) AS avg_logprob,
       round(exp(-coalesce(s.avg_logprob, 0.0)), 6) AS ppl
FROM documents d LEFT JOIN scored s USING (doc_id)
"""


@register("bigram_logprob", _BIGRAM_LM_ORACLE)
def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained bigram-LM fluency score per document."""
    docs = load_table(spark, sf_dir, "documents")
    out = text.bigram_logprob(docs, "doc_id", "text")
    return _round(out, ["avg_logprob", "ppl"])


# Perplexity gate: the bigram-LM CTEs above + a per-language rank window on
# the round-6 score (rank on raw aggregation doubles would be summation-
# order-sensitive), ceil(ns * frac) keep count matching the integer ceil-div
# on the Spark side.
_PPL_GATE_KEEP = 0.5

_PPL_GATE_ORACLE = f"""
WITH b AS (
  SELECT doc_id, unnest(grams) AS gram
  FROM (
    SELECT doc_id,
           list_transform(generate_series(1, len(toks) - 1),
                          i -> toks[i] || ' ' || toks[i+1]) AS grams
    FROM (SELECT doc_id,
                 list_filter(regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\f\\r\\x0B]+'),
                             x -> x <> '') AS toks
          FROM documents)
  )
), pair_counts AS (
  SELECT gram, count(*) AS c2 FROM b GROUP BY gram
), first_counts AS (
  SELECT split_part(gram, ' ', 1) AS w1, count(*) AS c1 FROM b GROUP BY 1
), scored AS (
  SELECT b.doc_id, count(*) AS n_bigrams,
         avg(ln(c2 / CAST(c1 AS DOUBLE))) AS raw_lp
  FROM b
  JOIN pair_counts USING (gram)
  JOIN first_counts ON first_counts.w1 = split_part(b.gram, ' ', 1)
  GROUP BY b.doc_id
), r AS (
  -- ppl derives from the RAW avg (mirroring bigram_logprob); only the
  -- ranking and output round to 6
  SELECT s.doc_id, d.lang, s.n_bigrams,
         round(s.raw_lp, 6) AS avg_logprob,
         round(exp(-s.raw_lp), 6) AS ppl,
         row_number() OVER (
           PARTITION BY d.lang ORDER BY round(s.raw_lp, 6) DESC, s.doc_id
         ) AS rk,
         count(*) OVER (PARTITION BY d.lang) AS ns
  FROM scored s JOIN documents d USING (doc_id)
)
SELECT doc_id, lang, CAST(n_bigrams AS BIGINT) AS n_bigrams, avg_logprob, ppl
FROM r WHERE rk <= CAST(ceil(ns * {_PPL_GATE_KEEP}) AS BIGINT)
"""


@register("perplexity_gate", _PPL_GATE_ORACLE)
def q_perplexity_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language LM fluency gate (text.perplexity_gate): keep the most
    fluent 50% of each language by corpus-bigram avg log-probability —
    the perplexity filter of CCNet-style pipelines, as a rank cut with a
    deterministic tie-break."""
    docs = load_table(spark, sf_dir, "documents")
    return text.perplexity_gate(
        docs, "doc_id", "text", "lang", keep_frac=_PPL_GATE_KEEP
    )


_TFIDF_ORACLE = """
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\f\\r\\x0B]+'),
                            x -> x <> '')) AS token
  FROM documents
), tf AS (
  SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY doc_id, token
), dfreq AS (
  SELECT token, count(*) AS df FROM tf GROUP BY token
), scored AS (
  SELECT tf.doc_id, tf.token, tf.tf,
         round(tf.tf * (ln((1.0 + (SELECT count(*) FROM documents))
                           / (1.0 + dfreq.df)) + 1.0), 6) AS score
  FROM tf JOIN dfreq USING (token)
), ranked AS (
  SELECT doc_id, token, CAST(tf AS BIGINT) AS tf, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, token ASC) AS tfidf_rank
  FROM scored
)
SELECT * FROM ranked WHERE tfidf_rank <= 5
"""


@register("tfidf_topk", _TFIDF_ORACLE)
def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-5 TF-IDF keywords (text.tfidf_topk): smoothed IDF,
    rank on the round-6 score with token tie-break. TF/DF shuffles are
    token-granular; the corpus count broadcasts as a 1-row frame."""
    docs = load_table(spark, sf_dir, "documents")
    return text.tfidf_topk(docs, "doc_id", "text", k=5)


_VOCAB_ORACLE = """
SELECT token, count(*) AS cnt FROM (
  SELECT unnest(list_filter(regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\f\\r\\x0B]+'),
                            x -> x <> '')) AS token
  FROM documents
) GROUP BY token
ORDER BY cnt DESC, token ASC LIMIT 100
"""


@register("vocab_topk", _VOCAB_ORACLE)
def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.vocab_topk(docs, "text", k=100)


_CORPUS_STATS_ORACLE = """
SELECT source, lang, count(*) AS n_docs,
       CAST(sum(len(list_filter(regexp_split_to_array(trim(text), '[ \\t\\n\\f\\r\\x0B]+'),
                                x -> x <> ''))) AS BIGINT) AS n_tokens,
       CAST(sum(length(text)) AS BIGINT) AS n_chars
FROM documents GROUP BY source, lang
"""


@register("corpus_stats", _CORPUS_STATS_ORACLE)
def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.corpus_stats(docs, ("source", "lang"), "text")


_QUANTIZE_ORACLE = """
SELECT vec_id,
       round(CASE WHEN m > 0 THEN 127.0 / m ELSE 0.0 END, 6) AS scale,
       CAST(list_sum(list_transform(emb,
         x -> abs(CAST(round(CAST(x AS DOUBLE)
                        * CASE WHEN m > 0 THEN 127.0/m ELSE 0.0 END) AS BIGINT))))
         AS BIGINT) AS q_l1
FROM (SELECT vec_id, embedding AS emb,
             list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS m
      FROM embeddings)
"""


@register("embedding_quantize", _QUANTIZE_ORACLE)
def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 storage quantization of the embedding column; the driver check
    hashes the per-vector scale and the L1 norm of the quantized codes
    (the codes array itself is format-unstable across engines)."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = similarity.quantize_int8(emb, "vec_id", "embedding")
    return _round(out.select("vec_id", "scale", "q_l1"), ["scale"])


_DECAYED_SAMPLE_ORACLE = f"""
WITH r AS (
  SELECT event_id, ts, {_U_SQL.replace("doc_id", "event_id")} AS u,
         1.0 * pow(2.0, -greatest((epoch(TIMESTAMP '2024-02-01 00:00:00')
                                   - epoch(ts)) / 86400.0, 0.0) / 10.0) AS rate
  FROM events
)
SELECT event_id, u FROM r WHERE u < rate
"""


@register("decayed_sample", _DECAYED_SAMPLE_ORACLE)
def q_decayed_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-decay sampling of events: half-life 10 days against a fixed
    reference just past the fixture's newest event (events span Jan 2024),
    so kept-rates span ~0.12-0.93 across the month."""
    from ..operators import sampling

    ev = load_table(spark, sf_dir, "events")
    out = sampling.decayed_sample(
        ev, "event_id", "ts", base_rate=1.0, half_life_days=10.0,
        reference_ts="2024-02-01 00:00:00", seed=42, u_col="u",
    )
    return out.select("event_id", "u")


_BPE_COUNT_ORACLE = f"""
SELECT doc_id,
       len(regexp_extract_all(text, '{text.BPE_PATTERN}')) AS n_bpe_tokens
FROM documents
"""


@register("bpe_token_count", _BPE_COUNT_ORACLE)
def q_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.bpe_token_count(docs).select("doc_id", "n_bpe_tokens")


# --- PII scrub / chunk-level dedup / mixture-to-targets ----------------------

# The fixture text is clean word-soup, so the PII query plants deterministic
# PII in every third doc (a derived column computed identically on both
# engines) — the operator itself is generic and the hash check covers both
# the PII-bearing and the untouched rows.
_PII_AUG_SQL = (
    "text || CASE WHEN doc_id % 3 = 0 THEN"
    " ' contact u' || CAST(doc_id AS VARCHAR) || '@mail.example.com"
    " from 10.' || CAST(doc_id % 200 AS VARCHAR) || '.0.1"
    " ssn 123-45-6789 call 555-867-5309' ELSE '' END"
)

_PII_SCAN_ORACLE = f"""
WITH a AS (
  SELECT doc_id, {_PII_AUG_SQL} AS t FROM documents
)
SELECT doc_id,
       len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}')) AS n_email,
       len(regexp_extract_all(t, '\\b\\d{{3}}-\\d{{2}}-\\d{{4}}\\b')) AS n_ssn,
       len(regexp_extract_all(t, '\\+?\\d{{3}}[-. ]\\d{{3}}[-. ]\\d{{4}}\\b')) AS n_phone,
       len(regexp_extract_all(t, '\\b(?:\\d{{1,3}}\\.){{3}}\\d{{1,3}}\\b')) AS n_ipv4,
       len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}'))
       + len(regexp_extract_all(t, '\\b\\d{{3}}-\\d{{2}}-\\d{{4}}\\b'))
       + len(regexp_extract_all(t, '\\+?\\d{{3}}[-. ]\\d{{3}}[-. ]\\d{{4}}\\b'))
       + len(regexp_extract_all(t, '\\b(?:\\d{{1,3}}\\.){{3}}\\d{{1,3}}\\b')) AS pii_total,
       regexp_replace(
         regexp_replace(
           regexp_replace(
             regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '<EMAIL>', 'g'),
             '\\b\\d{{3}}-\\d{{2}}-\\d{{4}}\\b', '<SSN>', 'g'),
           '\\+?\\d{{3}}[-. ]\\d{{3}}[-. ]\\d{{4}}\\b', '<PHONE>', 'g'),
         '\\b(?:\\d{{1,3}}\\.){{3}}\\d{{1,3}}\\b', '<IP>', 'g') AS redacted
FROM a
"""


@register("pii_scan", _PII_SCAN_ORACLE)
def q_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII audit + redaction over deterministically-augmented documents:
    per-kind match counts on the raw text and the sequentially-redacted
    text, all scan-speed codegen regex (operators/pii.py)."""
    from ..operators import pii

    docs = load_table(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" contact u"),
                    F.col("doc_id").cast("string"),
                    F.lit("@mail.example.com from 10."),
                    (F.col("doc_id") % 200).cast("string"),
                    F.lit(".0.1 ssn 123-45-6789 call 555-867-5309"),
                ),
            ).otherwise(F.lit("")),
        ).alias("t"),
    )
    out = pii.pii_counts(aug, "t")
    out = pii.pii_redact(out, "t", "redacted")
    return out.select(
        "doc_id", "n_email", "n_ssn", "n_phone", "n_ipv4", "pii_total", "redacted"
    )


_CHUNK_DEDUP_ORACLE = """
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '[ \\t\\n\\f\\r\\x0B]+'), x -> x <> '') AS t
  FROM documents
), idx AS (
  SELECT doc_id, t,
         unnest(generate_series(0, CAST(ceil(len(t) / 10.0) AS INT) - 1)) AS chunk_idx
  FROM toks WHERE len(t) > 0
), chunks AS (
  SELECT doc_id, chunk_idx,
         array_to_string(t[(chunk_idx*10+1):(chunk_idx*10+10)], ' ') AS chunk
  FROM idx
), flag AS (
  SELECT doc_id, chunk_idx, chunk,
         row_number() OVER (PARTITION BY chunk ORDER BY doc_id, chunk_idx) AS rn
  FROM chunks
)
SELECT doc_id,
       count(*) AS n_chunks,
       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       coalesce(string_agg(CASE WHEN rn = 1 THEN chunk END, ' ' ORDER BY chunk_idx), '')
         AS clean_text
FROM flag GROUP BY doc_id
"""


@register("chunk_dedup", _CHUNK_DEDUP_ORACLE)
def q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-level dedup at 10-token-chunk granularity: keep the
    corpus-wide first occurrence of every chunk, reassemble surviving
    chunks per doc (dedup.chunk_dedup)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.chunk_dedup(docs, "doc_id", "text", chunk_tokens=10).select(
        "doc_id", "n_chunks", "n_kept", "clean_text"
    )


# CDC dedup: same ownership/reassembly as chunk_dedup, but chunk boundaries
# are content-defined — the rolling hash of the 4 tokens ending at position
# i (fingerprint constants: token hash (31*len+ascii)%1000003, polynomial
# base 131, mod 1e9+7) cuts where its low 3 bits are zero.
_CDC_DEDUP_ORACLE = """
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '[ \\t\\n\\f\\r\\x0B]+'), x -> x <> '') AS t
  FROM documents
), th AS (
  SELECT doc_id, t, len(t) AS n,
         list_transform(t, x -> (31 * length(x) + ascii(x)) % 1000003) AS h
  FROM toks WHERE len(t) > 0
), cut AS (
  SELECT doc_id, t, n,
         [CAST(i AS INT) FOR i IN range(3, n - 1)
          IF ((h[i+1] + h[i]*131 + h[i-1]*17161 + h[i-2]*2248091)
              % 1000000007) % 8 = 0] AS cuts
  FROM th
), bounds AS (
  SELECT doc_id, t,
         list_concat(list_concat([-1], cuts), [CAST(n - 1 AS INT)]) AS b
  FROM cut
), idx AS (
  SELECT doc_id, t, b, unnest(generate_series(0, len(b) - 2)) AS chunk_idx
  FROM bounds
), chunks AS (
  SELECT doc_id, chunk_idx,
         array_to_string(t[(b[chunk_idx+1]+2):(b[chunk_idx+2]+1)], ' ') AS chunk
  FROM idx
), flag AS (
  SELECT doc_id, chunk_idx, chunk,
         row_number() OVER (PARTITION BY chunk ORDER BY doc_id, chunk_idx) AS rn
  FROM chunks
)
SELECT doc_id,
       count(*) AS n_chunks,
       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       coalesce(string_agg(CASE WHEN rn = 1 THEN chunk END, ' ' ORDER BY chunk_idx), '')
         AS clean_text
FROM flag GROUP BY doc_id
"""


@register("cdc_chunk_dedup", _CDC_DEDUP_ORACLE)
def q_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined-chunking dedup (dedup.cdc_chunk_dedup): rolling-hash
    boundaries (window 4, mask 3 bits) instead of fixed 10-token windows,
    so duplicated spans dedup even when an insertion shifts them; same
    first-occurrence ownership and reassembly as chunk_dedup."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.cdc_chunk_dedup(
        docs, "doc_id", "text", window=4, mask_bits=3
    ).select("doc_id", "n_chunks", "n_kept", "clean_text")


# Boilerplate scrub: unlike chunk_dedup (rn = 1 keeps the first copy), a
# chunk in more than max_docs DISTINCT docs is dropped EVERYWHERE.
_BOILERPLATE_ORACLE = """
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '[ \\t\\n\\f\\r\\x0B]+'), x -> x <> '') AS t
  FROM documents
), idx AS (
  SELECT doc_id, t,
         unnest(generate_series(0, CAST(ceil(len(t) / 10.0) AS INT) - 1)) AS chunk_idx
  FROM toks WHERE len(t) > 0
), chunks AS (
  SELECT doc_id, chunk_idx,
         array_to_string(t[(chunk_idx*10+1):(chunk_idx*10+10)], ' ') AS chunk
  FROM idx
), freq AS (
  SELECT chunk, count(DISTINCT doc_id) AS ndocs FROM chunks GROUP BY chunk
), flag AS (
  SELECT c.doc_id, c.chunk_idx, c.chunk, f.ndocs <= 1 AS kept
  FROM chunks c JOIN freq f USING (chunk)
)
SELECT doc_id,
       count(*) AS n_chunks,
       CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       coalesce(string_agg(CASE WHEN kept THEN chunk END, ' ' ORDER BY chunk_idx), '')
         AS clean_text
FROM flag GROUP BY doc_id
"""


@register("boilerplate_scrub", _BOILERPLATE_ORACLE)
def q_boilerplate_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style boilerplate removal at 10-token-chunk granularity: a
    chunk appearing in >1 distinct documents is dropped from ALL of them
    (dedup.remove_common_chunks), the all-copies complement of
    chunk_dedup's keep-first semantics."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.remove_common_chunks(
        docs, "doc_id", "text", chunk_tokens=10, max_docs=1
    ).select("doc_id", "n_chunks", "n_kept", "clean_text")


_DOMAIN_MIX_ORACLE = f"""
WITH c AS (
  SELECT lang AS _stratum, CAST(count(*) AS DOUBLE) AS _n,
         CASE lang WHEN 'en' THEN CAST(0.4 AS DOUBLE)
                   WHEN 'es' THEN CAST(0.3 AS DOUBLE)
                   WHEN 'de' THEN CAST(0.2 AS DOUBLE)
                   WHEN 'fr' THEN CAST(0.1 AS DOUBLE) END AS _w
  FROM documents WHERE lang IN ('en', 'es', 'de', 'fr')
  GROUP BY lang
), b AS (
  SELECT min(_n / _w) AS _T FROM c
), r AS (
  SELECT _stratum, (_w * _T / _n) AS _rate FROM c, b
)
SELECT d.doc_id, d.lang, {_U_SQL} AS u, round(_rate, 6) AS rate
FROM documents d JOIN r ON d.lang = r._stratum
WHERE {_U_SQL} < _rate
"""


# Token-weighted mix: identical machinery, but n_s = sum of per-doc token
# counts — the recipe targets TOKEN shares, the real unit of a training
# budget. Integral token sums are exact through the double cast, so the
# w*T/n keep decision stays bit-identical across engines.
_TOKEN_MIX_ORACLE = f"""
WITH c AS (
  SELECT lang AS _stratum,
         CAST(sum(len({_TOKS_SQL})) AS DOUBLE) AS _n,
         CASE lang WHEN 'en' THEN CAST(0.4 AS DOUBLE)
                   WHEN 'es' THEN CAST(0.3 AS DOUBLE)
                   WHEN 'de' THEN CAST(0.2 AS DOUBLE)
                   WHEN 'fr' THEN CAST(0.1 AS DOUBLE) END AS _w
  FROM documents WHERE lang IN ('en', 'es', 'de', 'fr')
  GROUP BY lang
), b AS (
  SELECT min(_n / _w) AS _T FROM c
), r AS (
  SELECT _stratum, (_w * _T / _n) AS _rate FROM c, b
)
SELECT d.doc_id, d.lang, len({_TOKS_SQL}) AS n_tokens,
       {_U_SQL} AS u, round(_rate, 6) AS rate
FROM documents d JOIN r ON d.lang = r._stratum
WHERE {_U_SQL} < _rate
"""


@register("token_mix", _TOKEN_MIX_ORACLE)
def q_token_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixing (sampling.mix_to_targets with weight=): rates
    derived from per-language TOKEN totals so the kept token mass follows
    the 40/30/20/10 recipe in expectation — the unit a training budget is
    actually written in."""
    from ..operators import sampling

    docs = load_table(spark, sf_dir, "documents")
    targets = {"en": 0.4, "es": 0.3, "de": 0.2, "fr": 0.1}
    out = sampling.mix_to_targets(
        docs, "doc_id", "lang", targets, seed=42, u_col="u", rate_col="rate",
        weight=F.size(text.tokens(F.col("text"))),
    )
    return out.select(
        "doc_id", "lang",
        F.size(text.tokens(F.col("text"))).alias("n_tokens"),
        "u", F.round("rate", 6).alias("rate"),
    )


@register("domain_mix", _DOMAIN_MIX_ORACLE)
def q_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-to-target-weights resample of documents by language
    (sampling.mix_to_targets): rates derived from the observed stratum
    counts so the kept set follows the 40/30/20/10 en/es/de/fr recipe with
    maximal data kept; 'zh' is absent from the recipe and drops out."""
    from ..operators import sampling

    docs = load_table(spark, sf_dir, "documents")
    targets = {"en": 0.4, "es": 0.3, "de": 0.2, "fr": 0.1}
    out = sampling.mix_to_targets(
        docs, "doc_id", "lang", targets, seed=42, u_col="u", rate_col="rate"
    )
    return out.select(
        "doc_id", "lang", "u", F.round("rate", 6).alias("rate")
    )


_INCR_DEDUP_ORACLE = """
WITH b AS (
  SELECT doc_id AS _id, md5(text) AS content_hash FROM documents WHERE doc_id % 2 = 1
), seen AS (
  SELECT DISTINCT md5(text) AS content_hash FROM documents WHERE doc_id % 2 = 0
), fst AS (
  SELECT content_hash, min(_id) AS _first_id FROM b GROUP BY content_hash
)
SELECT b._id AS doc_id, b.content_hash,
       CASE WHEN b.content_hash IS NULL THEN 'null_text'
            WHEN s.content_hash IS NOT NULL THEN 'dup_corpus'
            WHEN f._first_id = b._id THEN 'new'
            ELSE 'dup_batch' END AS status
FROM b
LEFT JOIN seen s USING (content_hash)
LEFT JOIN fst f USING (content_hash)
"""


@register("dedup_incremental", _INCR_DEDUP_ORACLE)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup (dedup.incremental_exact): odd doc_ids are
    the arriving batch, even doc_ids the already-ingested corpus; each
    batch doc is classified new / dup_corpus / dup_batch against digests
    only."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    return dedup.incremental_exact(batch, corpus, "doc_id")


# Incremental near-dup ingest: the same doc split as dedup_incremental, the
# same md5-derived minhash machinery as dedup_minhash_lsh — signatures are
# computed over ALL docs once (band sigs are per-doc, so subsetting after is
# identical to subsetting before), then batch bands join corpus bands and
# themselves for candidates, verified with exact Jaccard.
_INCR_MINHASH_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
), shl AS (
  SELECT doc_id, {_SHINGLE_SQL} AS s FROM t
), ex AS (
  SELECT doc_id, unnest(s) AS sh FROM shl
), hv AS (
  SELECT doc_id, {_hex32_sql("md5(sh)")} AS h FROM ex
), mh AS (
  SELECT doc_id, {_MH_EXPRS} FROM hv GROUP BY doc_id
), sig AS (
{_MH_BAND_SIGS}
), bsig AS (
  SELECT * FROM sig WHERE doc_id % 2 = 1
), csig AS (
  SELECT * FROM sig WHERE doc_id % 2 = 0
), cand_c AS (
  SELECT DISTINCT a.doc_id AS bid, b.doc_id AS oid
  FROM bsig a JOIN csig b ON a.band = b.band AND a.sig = b.sig
), cand_b AS (
  SELECT DISTINCT a.doc_id AS bid, b.doc_id AS oid
  FROM bsig a JOIN bsig b ON a.band = b.band AND a.sig = b.sig
                         AND b.doc_id < a.doc_id
), vc AS (
  SELECT c.bid, len(list_intersect(sa.s, sb.s)) * 1.0
         / len(list_distinct(list_concat(sa.s, sb.s))) AS j
  FROM cand_c c JOIN shl sa ON sa.doc_id = c.bid JOIN shl sb ON sb.doc_id = c.oid
  WHERE len(list_intersect(sa.s, sb.s)) * 1.0
        / len(list_distinct(list_concat(sa.s, sb.s))) >= 0.5
), vb AS (
  SELECT c.bid, len(list_intersect(sa.s, sb.s)) * 1.0
         / len(list_distinct(list_concat(sa.s, sb.s))) AS j
  FROM cand_b c JOIN shl sa ON sa.doc_id = c.bid JOIN shl sb ON sb.doc_id = c.oid
  WHERE len(list_intersect(sa.s, sb.s)) * 1.0
        / len(list_distinct(list_concat(sa.s, sb.s))) >= 0.5
), ch AS (
  SELECT bid, max(j) AS jc FROM vc GROUP BY bid
), bh AS (
  SELECT bid, max(j) AS jb FROM vb GROUP BY bid
)
SELECT d.doc_id,
       CASE WHEN ch.jc IS NOT NULL THEN 'neardup_corpus'
            WHEN bh.jb IS NOT NULL THEN 'neardup_batch'
            ELSE 'new' END AS status,
       round(greatest(coalesce(ch.jc, 0.0), coalesce(bh.jb, 0.0)), 6) AS best_jaccard
FROM documents d
LEFT JOIN ch ON ch.bid = d.doc_id
LEFT JOIN bh ON bh.bid = d.doc_id
WHERE d.doc_id % 2 = 1
"""


@register("dedup_minhash_incremental", _INCR_MINHASH_ORACLE)
def q_dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup ingest (dedup.incremental_minhash): odd doc_ids
    are the arriving batch, even doc_ids the standing corpus; each batch
    doc is classified new / neardup_corpus / neardup_batch via banded
    minhash candidates + exact-Jaccard verification, with the max verified
    Jaccard as the audit column."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    out = dedup.incremental_minhash(
        batch, corpus, "doc_id", num_hashes=16, bands=4, n=3,
        min_jaccard=0.5,
    )
    return _round(out, ["best_jaccard"])


_CORPUS_BUILD_ORACLE = f"""
WITH lt AS (
  SELECT doc_id, text,
         {_TOKS_SQL.replace("trim(text)", "trim(lower(text))")} AS toks
  FROM documents
), lp AS (
  SELECT doc_id,
         CASE WHEN h_en >= h_es AND h_en >= h_de AND h_en >= h_fr AND h_en >= h_zh THEN 'en'
              WHEN h_es >= h_de AND h_es >= h_fr AND h_es >= h_zh THEN 'es'
              WHEN h_de >= h_fr AND h_de >= h_zh THEN 'de'
              WHEN h_fr >= h_zh THEN 'fr'
              ELSE 'zh' END AS pred_lang
  FROM (
    SELECT doc_id,
           {_lang_hits_sql("en")} AS h_en, {_lang_hits_sql("es")} AS h_es,
           {_lang_hits_sql("de")} AS h_de, {_lang_hits_sql("fr")} AS h_fr,
           {_lang_hits_sql("zh")} AS h_zh
    FROM lt
  )
), f AS (
  SELECT doc_id, len(toks) AS n_tokens,
         length(regexp_replace(text, '[a-zA-Z0-9 \\t\\n\\f\\r\\x0B]', '', 'g')) * 1.0 / length(text) AS punct_ratio,
         len(list_filter(toks, x -> list_contains({text.STOPWORDS!r}, x))) * 1.0 / len(toks) AS stopword_ratio,
         len(list_distinct(toks)) * 1.0 / len(toks) AS type_token_ratio
  FROM (SELECT doc_id, text, {_TOKS_SQL} AS toks FROM documents)
), q AS (
  SELECT doc_id, n_tokens,
         round(0.25 * least(1.0, n_tokens / 50.0)
             + 0.25 * (1.0 - least(1.0, punct_ratio * 4.0))
             + 0.25 * least(1.0, stopword_ratio * 5.0)
             + 0.25 * type_token_ratio, 6) AS quality
  FROM f
), red AS (
  SELECT d.doc_id, lp.pred_lang, q.n_tokens, q.quality,
         regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(d.text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '<EMAIL>', 'g'),
               '\\b\\d{{3}}-\\d{{2}}-\\d{{4}}\\b', '<SSN>', 'g'),
             '\\+?\\d{{3}}[-. ]\\d{{3}}[-. ]\\d{{4}}\\b', '<PHONE>', 'g'),
           '\\b(?:\\d{{1,3}}\\.){{3}}\\d{{1,3}}\\b', '<IP>', 'g') AS clean_text
  FROM documents d
  JOIN lp ON d.doc_id = lp.doc_id
  JOIN q ON d.doc_id = q.doc_id
  WHERE q.quality >= 0.6
), own AS (
  SELECT md5(clean_text) AS _h, min(doc_id) AS _owner FROM red GROUP BY 1
)
SELECT r.doc_id, r.pred_lang, r.n_tokens, r.quality,
       CASE WHEN {_U_SQL} < 0.75 THEN 'train'
            WHEN {_U_SQL} < 0.875 THEN 'val'
            ELSE 'test' END AS split,
       r.clean_text
FROM red r JOIN own o ON md5(r.clean_text) = o._h AND r.doc_id = o._owner
"""


_CORPUS_BUILD_STATS_ORACLE = f"""
SELECT pred_lang, split,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       round(avg(quality), 6) AS avg_quality
FROM ({_CORPUS_BUILD_ORACLE.strip()})
GROUP BY pred_lang, split
"""


@register("corpus_build_stats", _CORPUS_BUILD_STATS_ORACLE)
def q_corpus_build_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-card accounting over the BUILT corpus: docs / tokens / mean
    quality per (pred_lang, split) — the table a corpus release publishes.
    One partial-agg groupBy on top of build_corpus's single scan pass."""
    from ..operators import pipeline

    docs = load_table(spark, sf_dir, "documents")
    corpus = pipeline.build_corpus(docs, quality_min=0.6, seed=42)
    out = corpus.groupBy("pred_lang", "split").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.avg("quality"), 6).alias("avg_quality"),
    )
    return out


# Quality-distribution drift between the standing corpus (even ids) and the
# new batch (odd ids): exact two-sample KS over round-6 quality. The quality
# CTE is corpus_build's; the oracle mirrors the bounded group-then-cumsum
# plan (integer cumulative counts, one division order).
_QUALITY_DRIFT_ORACLE = f"""
WITH q AS (
  SELECT doc_id,
         round(0.25 * least(1.0, n_tokens / 50.0)
             + 0.25 * (1.0 - least(1.0, punct_ratio * 4.0))
             + 0.25 * least(1.0, stopword_ratio * 5.0)
             + 0.25 * type_token_ratio, 6) AS quality
  FROM (
    SELECT doc_id, len(toks) AS n_tokens,
           length(regexp_replace(text, '[a-zA-Z0-9 \\t\\n\\f\\r\\x0B]', '', 'g')) * 1.0 / length(text) AS punct_ratio,
           len(list_filter(toks, x -> list_contains({text.STOPWORDS!r}, x))) * 1.0 / len(toks) AS stopword_ratio,
           len(list_distinct(toks)) * 1.0 / len(toks) AS type_token_ratio
    FROM (SELECT doc_id, text, {_TOKS_SQL} AS toks FROM documents)
  )
), tagged AS (
  SELECT quality AS v, CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS ia,
         CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END AS ib
  FROM q WHERE quality IS NOT NULL
), g AS (
  SELECT v, sum(ia) AS ca, sum(ib) AS cb FROM tagged GROUP BY v
), c AS (
  SELECT CAST(sum(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS fa,
         CAST(sum(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS fb,
         CAST(sum(ca) OVER () AS BIGINT) AS na,
         CAST(sum(cb) OVER () AS BIGINT) AS nb
  FROM g
)
SELECT round(max(abs(fa * 1.0 / na - fb * 1.0 / nb)), 6) AS ks_stat,
       max(na) AS n_a, max(nb) AS n_b
FROM c
"""


@register("corpus_quality_drift", _QUALITY_DRIFT_ORACLE)
def q_corpus_quality_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day drift gate (profile.ks_two_sample): exact distributed
    KS between the standing corpus's and the new batch's quality
    distributions."""
    from ..operators import profile

    docs = load_table(spark, sf_dir, "documents")
    scored = text.quality_score(docs).select("doc_id", "quality")
    corpus_q = scored.filter(F.col("doc_id") % 2 == 0)
    batch_q = scored.filter(F.col("doc_id") % 2 == 1)
    return profile.ks_two_sample(corpus_q, batch_q, "quality")


# Per-domain drift gate: the keyed form of ks_two_sample — one KS statistic
# PER LANGUAGE (documents.lang), corpus = even doc_ids vs batch = odd. The
# oracle replays the grouped CDF with PARTITION BY lang windows; the Spark
# side runs the key-aware distributed prefix sum (no per-key single-task
# stage — a key's distinct values span range partitions).
_QUALITY_DRIFT_BY_LANG_ORACLE = f"""
WITH q AS (
  SELECT doc_id, lang,
         round(0.25 * least(1.0, n_tokens / 50.0)
             + 0.25 * (1.0 - least(1.0, punct_ratio * 4.0))
             + 0.25 * least(1.0, stopword_ratio * 5.0)
             + 0.25 * type_token_ratio, 6) AS quality
  FROM (
    SELECT doc_id, lang, len(toks) AS n_tokens,
           length(regexp_replace(text, '[a-zA-Z0-9 \\t\\n\\f\\r\\x0B]', '', 'g')) * 1.0 / length(text) AS punct_ratio,
           len(list_filter(toks, x -> list_contains({text.STOPWORDS!r}, x))) * 1.0 / len(toks) AS stopword_ratio,
           len(list_distinct(toks)) * 1.0 / len(toks) AS type_token_ratio
    FROM (SELECT doc_id, lang, text, {_TOKS_SQL} AS toks FROM documents)
  )
), tagged AS (
  SELECT lang, quality AS v, CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS ia,
         CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END AS ib
  FROM q WHERE quality IS NOT NULL
), g AS (
  SELECT lang, v, sum(ia) AS ca, sum(ib) AS cb FROM tagged GROUP BY lang, v
), c AS (
  SELECT lang,
         CAST(sum(ca) OVER (PARTITION BY lang ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS fa,
         CAST(sum(cb) OVER (PARTITION BY lang ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS fb,
         CAST(sum(ca) OVER (PARTITION BY lang) AS BIGINT) AS na,
         CAST(sum(cb) OVER (PARTITION BY lang) AS BIGINT) AS nb
  FROM g
)
SELECT lang, round(max(abs(fa * 1.0 / na - fb * 1.0 / nb)), 6) AS ks_stat,
       max(na) AS n_a, max(nb) AS n_b
FROM c GROUP BY lang
"""


@register("corpus_quality_drift_by_lang", _QUALITY_DRIFT_BY_LANG_ORACLE)
def q_corpus_quality_drift_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain governance gate: one exact KS statistic per language
    (profile.ks_two_sample keys= form, key-aware distributed prefix sum)."""
    from ..operators import profile

    docs = load_table(spark, sf_dir, "documents")
    scored = text.quality_score(docs).select("doc_id", "lang", "quality")
    corpus_q = scored.filter(F.col("doc_id") % 2 == 0)
    batch_q = scored.filter(F.col("doc_id") % 2 == 1)
    return profile.ks_two_sample(corpus_q, batch_q, "quality", keys=["lang"])


# Wide-domain companion to corpus_quality_drift: KS on RAW token counts —
# an unbounded integer domain, the exact case the pre-round-5 ks_two_sample
# could not bound (its single-partition cumulative window was safe only for
# [0,1]-like quantized values). The operator now routes every domain through
# the distributed prefix sum, so this query certifies that path end to end.
_LENGTH_DRIFT_ORACLE = f"""
WITH q AS (
  SELECT doc_id, CAST(len({_TOKS_SQL}) AS DOUBLE) AS v FROM documents
), tagged AS (
  SELECT v, CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS ia,
         CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END AS ib
  FROM q WHERE v IS NOT NULL
), g AS (
  SELECT v, sum(ia) AS ca, sum(ib) AS cb FROM tagged GROUP BY v
), c AS (
  SELECT CAST(sum(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS fa,
         CAST(sum(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS fb,
         CAST(sum(ca) OVER () AS BIGINT) AS na,
         CAST(sum(cb) OVER () AS BIGINT) AS nb
  FROM g
)
SELECT round(max(abs(fa * 1.0 / na - fb * 1.0 / nb)), 6) AS ks_stat,
       max(na) AS n_a, max(nb) AS n_b
FROM c
"""


@register("corpus_length_drift", _LENGTH_DRIFT_ORACLE)
def q_corpus_length_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-distribution drift gate on raw whitespace token counts (wide
    integer domain): profile.ks_two_sample's distributed-prefix-sum CDF,
    certified against a DuckDB global-order replay."""
    from ..operators import profile

    docs = load_table(spark, sf_dir, "documents")
    counted = text.token_count(docs).select(
        "doc_id", F.col("n_tokens").cast("double").alias("n_tokens")
    )
    corpus = counted.filter(F.col("doc_id") % 2 == 0)
    batch = counted.filter(F.col("doc_id") % 2 == 1)
    return profile.ks_two_sample(corpus, batch, "n_tokens")


# Day-2 incremental build: the standing corpus = build_corpus over even
# doc_ids, the new batch = odd doc_ids; batch survivors whose redacted
# digest already exists in the corpus manifest are dropped. The oracle
# reuses the full corpus-build statement with the source table substituted
# (CTE shadowing: `documents` resolves to the filtered subset inside each
# derived query).
_CORPUS_INCR_ORACLE = (
    "SELECT b.* FROM (\n"
    + _CORPUS_BUILD_ORACLE.strip().replace(
        "WITH ",
        "WITH documents AS (SELECT * FROM main.documents WHERE doc_id % 2 = 1), ",
        1,
    )
    + "\n) b\nWHERE md5(b.clean_text) NOT IN (\n  SELECT DISTINCT md5(c.clean_text) FROM (\n"
    + _CORPUS_BUILD_ORACLE.strip().replace(
        "WITH ",
        "WITH documents AS (SELECT * FROM main.documents WHERE doc_id % 2 = 0), ",
        1,
    )
    + "\n) c\n)"
)


@register("corpus_build_incremental", _CORPUS_INCR_ORACLE)
def q_corpus_build_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-2 ingest (pipeline.build_corpus_incremental): full pipeline on
    the new batch only, anti-joined against the standing corpus's digest
    manifest — the corpus text is never rescanned."""
    from ..operators import pipeline

    docs = load_table(spark, sf_dir, "documents")
    corpus = pipeline.build_corpus(
        docs.filter(F.col("doc_id") % 2 == 0), quality_min=0.6, seed=42
    )
    manifest = corpus.select(F.md5("clean_text").alias("content_hash"))
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    return pipeline.build_corpus_incremental(batch, manifest, quality_min=0.6, seed=42)


@register("corpus_build", _CORPUS_BUILD_ORACLE)
def q_corpus_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus build (operators/pipeline.py): language-ID ->
    quality gate (round-6 >= 0.6) -> PII redaction -> exact dedup on the
    redacted text -> leak-free split. One scan-side codegen pass + one
    digest-keyed shuffle."""
    from ..operators import pipeline

    docs = load_table(spark, sf_dir, "documents")
    return pipeline.build_corpus(docs, quality_min=0.6, seed=42)


_CORPUS_AUDIT_ORACLE = f"""
WITH f AS (
  SELECT doc_id, len(toks) AS n_tokens,
         length(regexp_replace(text, '[a-zA-Z0-9 \\t\\n\\f\\r\\x0B]', '', 'g')) * 1.0 / length(text) AS punct_ratio,
         len(list_filter(toks, x -> list_contains({text.STOPWORDS!r}, x))) * 1.0 / len(toks) AS stopword_ratio,
         len(list_distinct(toks)) * 1.0 / len(toks) AS type_token_ratio
  FROM (SELECT doc_id, text, {_TOKS_SQL} AS toks FROM documents)
), q AS (
  SELECT doc_id,
         round(0.25 * least(1.0, n_tokens / 50.0)
             + 0.25 * (1.0 - least(1.0, punct_ratio * 4.0))
             + 0.25 * least(1.0, stopword_ratio * 5.0)
             + 0.25 * type_token_ratio, 6) AS quality
  FROM f
), red AS (
  SELECT d.doc_id, q.quality,
         regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(d.text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '<EMAIL>', 'g'),
               '\\b\\d{{3}}-\\d{{2}}-\\d{{4}}\\b', '<SSN>', 'g'),
             '\\+?\\d{{3}}[-. ]\\d{{3}}[-. ]\\d{{4}}\\b', '<PHONE>', 'g'),
           '\\b(?:\\d{{1,3}}\\.){{3}}\\d{{1,3}}\\b', '<IP>', 'g') AS clean
  FROM documents d JOIN q ON d.doc_id = q.doc_id
), own AS (
  SELECT md5(clean) AS _h, min(doc_id) AS _owner
  FROM red WHERE quality >= 0.6 GROUP BY 1
)
SELECT r.doc_id, r.quality,
       CASE WHEN r.quality < 0.6 OR r.quality IS NULL THEN 'low_quality'
            WHEN r.doc_id = o._owner THEN 'kept'
            ELSE 'duplicate' END AS status
FROM red r LEFT JOIN own o ON md5(r.clean) = o._h
"""


#: mix draw for the composed pipeline uses seed 7 — a DIFFERENT md5 stream
#: from the split's seed 42, so the mix filter cannot correlate with the
#: split thresholds (pipeline.build_corpus_mixed docstring)
_U7_SQL = (
    "(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':7'), 1, 8))::UBIGINT"
    " / 4294967296.0)"
)

_CORPUS_MIXED_ORACLE = f"""
WITH corpus AS (
{_CORPUS_BUILD_ORACLE}
), c AS (
  SELECT pred_lang AS _stratum, CAST(count(*) AS DOUBLE) AS _n,
         CASE pred_lang WHEN 'en' THEN CAST(0.4 AS DOUBLE)
                        WHEN 'es' THEN CAST(0.3 AS DOUBLE)
                        WHEN 'de' THEN CAST(0.2 AS DOUBLE)
                        WHEN 'fr' THEN CAST(0.1 AS DOUBLE) END AS _w
  FROM corpus WHERE pred_lang IN ('en', 'es', 'de', 'fr')
  GROUP BY pred_lang
), b AS (
  SELECT min(_n / _w) AS _T FROM c
), r AS (
  SELECT _stratum, (_w * _T / _n) AS _rate FROM c, b
)
SELECT corpus.doc_id, corpus.pred_lang, corpus.n_tokens, corpus.quality,
       corpus.split, {_U7_SQL} AS u, round(_rate, 6) AS rate
FROM corpus JOIN r ON corpus.pred_lang = r._stratum
WHERE {_U7_SQL} < _rate
"""


@register("corpus_build_mixed", _CORPUS_MIXED_ORACLE)
def q_corpus_build_mixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed daily-crawl recipe (pipeline.build_corpus_mixed): clean,
    dedup and split the corpus, THEN resample the survivors to the
    40/30/20/10 en/es/de/fr recipe on the PREDICTED language. Mix rates
    derive from post-dedup stratum counts and broadcast back; the corpus
    never reshuffles."""
    from ..operators import pipeline

    docs = load_table(spark, sf_dir, "documents")
    targets = {"en": 0.4, "es": 0.3, "de": 0.2, "fr": 0.1}
    out = pipeline.build_corpus_mixed(docs, targets, quality_min=0.6, seed=42)
    return out.select(
        "doc_id", "pred_lang", "n_tokens", "quality", "split", "u",
        F.round("rate", 6).alias("rate"),
    )


# Day-2 ledger: batch = odd doc_ids audited by the corpus_audit statement
# (shadow CTE), with kept rows re-labeled dup_corpus when their redacted
# digest exists in the even-id standing corpus's manifest.
_AUDIT_INCR_ORACLE = (
    "SELECT a.doc_id, a.quality,\n"
    "       CASE WHEN a.status = 'kept' AND md5(a.clean) IN (\n"
    "         SELECT DISTINCT md5(c.clean_text) FROM (\n"
    + _CORPUS_BUILD_ORACLE.strip().replace(
        "WITH ",
        "WITH documents AS (SELECT * FROM main.documents WHERE doc_id % 2 = 0), ",
        1,
    )
    + "\n) c\n"
    "       ) THEN 'dup_corpus' ELSE a.status END AS status\n"
    "FROM (\n"
    + _CORPUS_AUDIT_ORACLE.strip()
    .replace(
        "WITH ",
        "WITH documents AS (SELECT * FROM main.documents WHERE doc_id % 2 = 1), ",
        1,
    )
    .replace(
        "SELECT r.doc_id, r.quality,",
        "SELECT r.doc_id, r.quality, r.clean,",
    )
    + "\n) a"
)


@register("corpus_audit_incremental", _AUDIT_INCR_ORACLE)
def q_corpus_audit_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-2 drop-reason ledger (pipeline.corpus_audit_incremental): the
    batch's corpus_audit statuses, with kept rows whose digest already
    exists in the standing corpus re-labeled dup_corpus."""
    from ..operators import pipeline

    docs = load_table(spark, sf_dir, "documents")
    corpus = pipeline.build_corpus(
        docs.filter(F.col("doc_id") % 2 == 0), quality_min=0.6, seed=42
    )
    manifest = corpus.select(F.md5("clean_text").alias("content_hash"))
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    return pipeline.corpus_audit_incremental(batch, manifest, quality_min=0.6)


@register("corpus_audit", _CORPUS_AUDIT_ORACLE)
def q_corpus_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drop-reason ledger for the corpus build (pipeline.corpus_audit):
    every input doc tagged kept / low_quality / duplicate with the same
    stage semantics as corpus_build, so the two reconcile exactly."""
    from ..operators import pipeline

    docs = load_table(spark, sf_dir, "documents")
    return pipeline.corpus_audit(docs, quality_min=0.6)


_CORPUS_DIFF_ORACLE = """
WITH old AS (
  SELECT md5(text) AS content_hash, count(*) AS n_old
  FROM documents WHERE doc_id % 3 <> 0 AND text IS NOT NULL
  GROUP BY md5(text)
), new AS (
  SELECT md5(text) AS content_hash, count(*) AS n_new
  FROM documents WHERE doc_id % 5 <> 0 AND text IS NOT NULL
  GROUP BY md5(text)
)
SELECT coalesce(old.content_hash, new.content_hash) AS content_hash,
       CASE WHEN old.content_hash IS NULL THEN 'added'
            WHEN new.content_hash IS NULL THEN 'removed'
            ELSE 'common' END AS status,
       CAST(coalesce(n_old, 0) AS BIGINT) AS n_old,
       CAST(coalesce(n_new, 0) AS BIGINT) AS n_new
FROM old FULL OUTER JOIN new USING (content_hash)
"""


@register("corpus_diff", _CORPUS_DIFF_ORACLE)
def q_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Release-to-release corpus changelog (pipeline.snapshot_diff): two
    overlapping snapshots of the documents table (doc_id % 3 != 0 vs
    doc_id % 5 != 0) diffed at digest granularity into
    added / removed / common with per-side doc counts."""
    from ..operators import pipeline

    docs = load_table(spark, sf_dir, "documents")
    return pipeline.snapshot_diff(
        docs.filter(F.col("doc_id") % 3 != 0),
        docs.filter(F.col("doc_id") % 5 != 0),
    )


_ZIPF_ORACLE = """
WITH c AS (
  SELECT token, count(*) AS freq FROM (
    SELECT unnest(list_filter(regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\f\\r\\x0B]+'),
                              x -> x <> '')) AS token
    FROM documents
  ) GROUP BY token
)
SELECT freq, count(*) AS n_types, CAST(count(*) * freq AS BIGINT) AS n_occurrences
FROM c GROUP BY freq
"""


@register("zipf_spectrum", _ZIPF_ORACLE)
def q_zipf_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-of-frequencies vocabulary spectrum
    (text.token_freq_spectrum): the Zipf curve a tokenizer budget and the
    hapax/head corpus diagnostic are read from."""
    docs = load_table(spark, sf_dir, "documents")
    return text.token_freq_spectrum(docs, "text")


# Near-dup pairs vs a naive per-doc split: the oracle composes the
# minhash pair CTEs with the same md5-u split rule as train_split.
_LEAK_ORACLE = f"""
WITH {_MINHASH_PAIR_CTES}, sp AS (
  SELECT doc_id,
         CASE WHEN {_U_SQL} < 0.75 THEN 'train'
              WHEN {_U_SQL} < 0.875 THEN 'val'
              ELSE 'test' END AS split
  FROM documents
), lab AS (
  SELECT least(a.split, b.split) AS split_a,
         greatest(a.split, b.split) AS split_b
  FROM mpairs p
  JOIN sp a ON a.doc_id = p.src
  JOIN sp b ON b.doc_id = p.dst
), g AS (
  SELECT split_a, split_b, count(*) AS n_pairs FROM lab GROUP BY 1, 2
)
SELECT split_a, split_b, CAST(n_pairs AS BIGINT) AS n_pairs,
       round(n_pairs * 1.0 / (SELECT CAST(sum(n_pairs) AS BIGINT) FROM g), 6)
         AS share,
       split_a <> split_b AS leaked
FROM g
"""


@register("split_leak_check", _LEAK_ORACLE)
def q_split_leak_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-hygiene audit (sampling.split_leak_check): where the corpus's
    verified near-dup pairs land relative to a NAIVE per-doc split —
    cross-split rows are the train/test contamination group_split
    prevents. Composes the oracle-identical minhash pair machinery with
    the train_split assignment."""
    from ..operators import sampling

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(
        docs, "doc_id", num_hashes=16, bands=4, n=3, min_jaccard=0.5
    )
    labeled = sampling.deterministic_split(
        docs, "doc_id", (("train", 0.75), ("val", 0.125), ("test", 0.125)), seed=42
    )
    out = sampling.split_leak_check(labeled, "doc_id", pairs)
    return _round(out, ["share"])


# Semantic leak check: the embedding-space twin of split_leak_check — the
# same unordered-split-pair accounting over cosine>=0.4 near-dup pairs
# instead of minhash pairs (paraphrase-level contamination that lexical
# shingles can miss).
_SEM_LEAK_ORACLE = f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
), cpairs AS (
  SELECT a.vec_id AS src, b.vec_id AS dst
  FROM v a JOIN v b ON a.vec_id < b.vec_id
  WHERE {_COS_SQL.format(a="a.vec", b="b.vec")} >= 0.4
), sp AS (
  SELECT vec_id,
         CASE WHEN {_U_SQL.replace("doc_id", "vec_id")} < 0.75 THEN 'train'
              WHEN {_U_SQL.replace("doc_id", "vec_id")} < 0.875 THEN 'val'
              ELSE 'test' END AS split
  FROM embeddings
), lab AS (
  SELECT least(a.split, b.split) AS split_a,
         greatest(a.split, b.split) AS split_b
  FROM cpairs p
  JOIN sp a ON a.vec_id = p.src
  JOIN sp b ON b.vec_id = p.dst
), g AS (
  SELECT split_a, split_b, count(*) AS n_pairs FROM lab GROUP BY 1, 2
)
SELECT split_a, split_b, CAST(n_pairs AS BIGINT) AS n_pairs,
       round(n_pairs * 1.0 / (SELECT CAST(sum(n_pairs) AS BIGINT) FROM g), 6)
         AS share,
       split_a <> split_b AS leaked
FROM g
"""


@register("semantic_leak_check", _SEM_LEAK_ORACLE)
def q_semantic_leak_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space eval-hygiene audit: sampling.split_leak_check over
    cosine>=0.4 embedding near-dup pairs — paraphrase-level train/test
    contamination that lexical minhash shingles can miss. Same blocked
    pair engine as cosine_dup_pairs, same split rule as split_leak_check."""
    from ..operators import sampling

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = similarity.cosine_dup_pairs(emb, "vec_id", "embedding", threshold=0.4)
    labeled = sampling.deterministic_split(
        emb, "vec_id", (("train", 0.75), ("val", 0.125), ("test", 0.125)), seed=42
    )
    out = sampling.split_leak_check(labeled, "vec_id", pairs)
    return _round(out, ["share"])


# Per-source percentile calibration of the quality score: percent_rank is
# tie-aware (equal round-6 qualities share a rank), so no id tie-break is
# needed and the result is deterministic; NULL-quality degenerate docs are
# excluded on both sides (Spark and DuckDB disagree on NULL sort order).
_CALIBRATE_ORACLE = f"""
WITH f AS (
  SELECT doc_id, len(toks) AS n_tokens,
         length(regexp_replace(text, '[a-zA-Z0-9 \\t\\n\\f\\r\\x0B]', '', 'g')) * 1.0 / length(text) AS punct_ratio,
         len(list_filter(toks, x -> list_contains({text.STOPWORDS!r}, x))) * 1.0 / len(toks) AS stopword_ratio,
         len(list_distinct(toks)) * 1.0 / len(toks) AS type_token_ratio
  FROM (SELECT doc_id, text, {_TOKS_SQL} AS toks FROM documents)
), q AS (
  SELECT doc_id,
         round(0.25 * least(1.0, n_tokens / 50.0)
             + 0.25 * (1.0 - least(1.0, punct_ratio * 4.0))
             + 0.25 * least(1.0, stopword_ratio * 5.0)
             + 0.25 * type_token_ratio, 6) AS quality
  FROM f
)
SELECT d.doc_id, d.source, q.quality,
       round(percent_rank() OVER (
         PARTITION BY d.source ORDER BY q.quality ASC), 6) AS q_pct
FROM q JOIN documents d USING (doc_id)
WHERE q.quality IS NOT NULL
"""


@register("quality_calibrate", _CALIBRATE_ORACLE)
def q_quality_calibrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-domain quality calibration (sampling.stratum_percentile): the
    within-SOURCE percentile of each doc's quality score — raw heuristic
    scores are not comparable across sources, their per-source percentiles
    are; gate on q_pct instead of quality for a fair cross-domain cut."""
    from ..operators import sampling

    docs = load_table(spark, sf_dir, "documents")
    scored = (
        text.quality_score(docs)
        .withColumn("quality", F.round("quality", 6))
        .filter(F.col("quality").isNotNull())
    )
    out = sampling.stratum_percentile(scored, "source", "quality", out_col="q_pct")
    return _round(out.select("doc_id", "source", "quality", "q_pct"), ["q_pct"])


# Per-source data card: the one-stop corpus accounting row a release ships
# with. mean_quality is an avg over doubles — the pricing_summary
# precedent (partial-agg sum order differs from DuckDB's sequential sum
# by ~1e-15 relative; round-6 absorbs it).
_CURATION_ORACLE = f"""
WITH t AS (
  SELECT doc_id, source, lang, text, {_TOKS_SQL} AS toks FROM documents
), f AS (
  SELECT doc_id, source, lang, len(toks) AS n_tokens,
         length(regexp_replace(text, '[a-zA-Z0-9 \\t\\n\\f\\r\\x0B]', '', 'g')) * 1.0 / length(text) AS punct_ratio,
         len(list_filter(toks, x -> list_contains({{stop}}, x))) * 1.0 / len(toks) AS stopword_ratio,
         len(list_distinct(toks)) * 1.0 / len(toks) AS type_token_ratio
  FROM t
), q AS (
  SELECT doc_id, source, lang, n_tokens,
         0.25 * least(1.0, n_tokens / 50.0)
       + 0.25 * (1.0 - least(1.0, punct_ratio * 4.0))
       + 0.25 * least(1.0, stopword_ratio * 5.0)
       + 0.25 * type_token_ratio AS quality
  FROM f
), d AS (
  SELECT doc_id, count(*) OVER (PARTITION BY md5(text)) AS dup_count
  FROM documents
)
SELECT q.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(q.n_tokens) AS BIGINT) AS n_tokens,
       CAST(count(DISTINCT q.lang) AS BIGINT) AS n_langs,
       round(avg(q.quality), 6) AS mean_quality,
       CAST(sum(CASE WHEN d.dup_count > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS dup_docs,
       round(sum(CASE WHEN d.dup_count > 1 THEN 1 ELSE 0 END) * 1.0
             / count(*), 6) AS dup_rate
FROM q JOIN d USING (doc_id)
GROUP BY q.source
"""


def _curation_oracle() -> str:
    return _CURATION_ORACLE.format(stop=repr(text.STOPWORDS))


@register("curation_report", lambda sf_dir: _curation_oracle())
def q_curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source data card: docs, tokens, languages, mean quality, and
    exact-dup mass in one row per source — the release-accounting summary
    every corpus drop ships with. One codegen scan + one digest groupBy."""
    docs = load_table(spark, sf_dir, "documents")
    q = text.quality_score(docs)
    d = dedup.exact_duplicates(docs, "doc_id")
    j = q.select("doc_id", "source", "lang", "n_tokens", "quality").join(
        d.select("doc_id", "dup_count"), "doc_id"
    )
    return j.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.count_distinct("lang").alias("n_langs"),
        F.round(F.avg("quality"), 6).alias("mean_quality"),
        F.sum((F.col("dup_count") > 1).cast("long")).alias("dup_docs"),
        F.round(
            F.sum((F.col("dup_count") > 1).cast("long")) / F.count("*"), 6
        ).alias("dup_rate"),
    )


# Tokenizer coverage: vocab = top-100 tokens corpus-wide (count desc,
# token asc — the vocab_topk rule); per-source coverage of the token
# stream. All integer arithmetic; coverage is one long/long division.
_VOCAB_COVERAGE_ORACLE = """
WITH toks AS (
  SELECT source,
         unnest(list_filter(regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\f\\r\\x0B]+'),
                            x -> x <> '')) AS token
  FROM documents
), vocab AS (
  SELECT token FROM (
    SELECT token, count(*) AS cnt FROM toks GROUP BY token
    ORDER BY cnt DESC, token ASC LIMIT 100
  )
)
SELECT t.source,
       CAST(count(*) AS BIGINT) AS n_occurrences,
       CAST(sum(CASE WHEN v.token IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_covered,
       round(sum(CASE WHEN v.token IS NOT NULL THEN 1 ELSE 0 END) * 1.0
             / count(*), 6) AS coverage,
       CAST(count(DISTINCT CASE WHEN v.token IS NULL THEN t.token END)
            AS BIGINT) AS oov_types
FROM toks t LEFT JOIN vocab v USING (token)
GROUP BY t.source
"""


@register("vocab_coverage", _VOCAB_COVERAGE_ORACLE)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-budget coverage (text.vocab_coverage): share of each
    source's token stream covered by the corpus-wide top-100 vocabulary,
    plus distinct OOV types — what a vocab budget BUYS, next to
    zipf_spectrum's what it costs."""
    docs = load_table(spark, sf_dir, "documents")
    return text.vocab_coverage(docs, ("source",), "text", vocab_size=100)


_SOURCE_SIM_ORACLE = f"""
WITH t AS (
  SELECT source, {_TOKS_SQL} AS toks FROM documents
), sh AS (
  SELECT DISTINCT source, unnest({_SHINGLE_SQL}) AS g FROM t
), sz AS (
  SELECT source, count(*) AS n FROM sh GROUP BY source
), inter AS (
  SELECT a.source AS source_a, b.source AS source_b, count(*) AS intersection
  FROM sh a JOIN sh b ON a.g = b.g AND a.source < b.source
  GROUP BY 1, 2
)
SELECT i.source_a, i.source_b, i.intersection,
       round(i.intersection * 1.0 / (za.n + zb.n - i.intersection), 6) AS jaccard
FROM inter i
JOIN sz za ON za.source = i.source_a
JOIN sz zb ON zb.source = i.source_b
"""


@register("source_similarity", _SOURCE_SIM_ORACLE)
def q_source_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-overlap matrix (dedup.source_similarity): exact shingle-set
    Jaccard between every co-occurring pair of sources — the
    which-crawls-duplicate-each-other view over the same shingle machinery
    the doc-level dedup family uses; pair generation is per-shingle with
    arrays bounded by |sources|, never a doc-level self-join."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.source_similarity(docs, "source", "text", n=3)


_WEIGHTED_SAMPLE_ORACLE = f"""
WITH r AS (
  SELECT doc_id, n_chars,
         -ln({_U_SQL} + 1.1641532182693481e-10) / n_chars AS k
  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
)
SELECT doc_id, n_chars, round(k, 6) AS sample_key
FROM r ORDER BY k, doc_id LIMIT 500
"""


@register("weighted_sample", _WEIGHTED_SAMPLE_ORACLE)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (sampling.weighted_sample,
    Efraimidis-Spirakis): the 500 docs kept with probability proportional
    to n_chars, as a pure function of (doc_id, seed) — rerun-stable and
    engine-replayable. Plans as TakeOrderedAndProject (per-partition
    top-k heaps), never a global sort."""
    from ..operators import sampling

    docs = load_table(spark, sf_dir, "documents")
    out = sampling.weighted_sample(docs, "doc_id", "n_chars", k=500, seed=42)
    return out.select(
        "doc_id", "n_chars", F.round("sample_key", 6).alias("sample_key")
    )


_WEIGHTED_SAMPLE_BY_ORACLE = f"""
WITH r AS (
  SELECT doc_id, lang, n_chars,
         -ln({_U_SQL} + 1.1641532182693481e-10) / n_chars AS k
  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
), ranked AS (
  SELECT doc_id, lang, n_chars, k,
         row_number() OVER (PARTITION BY lang ORDER BY k, doc_id) AS rn
  FROM r
)
SELECT lang, doc_id, n_chars, round(k, 6) AS sample_key
FROM ranked WHERE rn <= 100
"""


@register("weighted_sample_by", _WEIGHTED_SAMPLE_BY_ORACLE)
def q_weighted_sample_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language weighted sample (sampling.weighted_sample_by): 100
    docs per lang, length-weighted — the per-domain budget draw. One
    stratum exchange + per-stratum window; deterministic in (id, seed)."""
    from ..operators import sampling

    docs = load_table(spark, sf_dir, "documents")
    out = sampling.weighted_sample_by(
        docs, "doc_id", "n_chars", "lang", k=100, seed=42
    )
    return out.select(
        "lang", "doc_id", "n_chars", F.round("sample_key", 6).alias("sample_key")
    )


# --- Gopher-rule quality gates ------------------------------------------------

# The fixture text is single-line word soup, so the query augments every
# k-th doc deterministically (both engines compute the same derived text)
# to exercise each gate: bullet-heavy multi-line, duplicated lines,
# ellipsis-heavy lines, symbol-only.
_GOPHER_AUG_SQL = """
CASE
  WHEN doc_id % 7 = 0 THEN replace(text, ' ', chr(10) || '- ')
  WHEN doc_id % 7 = 1 THEN text || repeat(chr(10) || 'same line', 5)
  WHEN doc_id % 7 = 2 THEN replace(text, ' ', '...' || chr(10))
  WHEN doc_id % 7 = 3 THEN '# ## ###'
  ELSE text
END
"""

_STOP_SQL = "['the','a','and','of','to','is','it','that','in','for','on','with']"

_GOPHER_ORACLE = f"""
WITH a AS (
  SELECT doc_id, {_GOPHER_AUG_SQL} AS t FROM documents
), f AS (
  SELECT doc_id, t,
         list_filter(regexp_split_to_array(trim(t), '[ \\t\\n\\f\\r\\x0B]+'), x -> x <> '') AS toks,
         list_filter(list_transform(regexp_split_to_array(t, '\\n'), x -> trim(x)),
                     x -> x <> '') AS lines
  FROM a
), m AS (
  SELECT doc_id,
         len(toks) AS n_words,
         CASE WHEN len(toks) > 0 THEN
           list_sum(list_transform(toks, x -> length(x))) * 1.0 / len(toks)
         END AS mean_word_len,
         CASE WHEN len(lines) > 0 THEN
           len(list_filter(lines, x -> x LIKE '-%' OR x LIKE '*%' OR x LIKE '•%'))
             * 1.0 / len(lines) END AS bullet_ratio,
         CASE WHEN len(lines) > 0 THEN
           len(list_filter(lines, x -> x LIKE '%...' OR x LIKE '%…'))
             * 1.0 / len(lines) END AS ellipsis_ratio,
         CASE WHEN len(toks) > 0 THEN
           ((length(t) - length(replace(t, '#', '')))
            + (length(t) - length(replace(t, '...', ''))) / 3)
             * 1.0 / len(toks) END AS symbol_ratio,
         CASE WHEN len(toks) > 0 THEN
           len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))
             * 1.0 / len(toks) END AS alpha_ratio,
         len(list_intersect(list_distinct(list_transform(toks, x -> lower(x))),
                            {_STOP_SQL})) AS n_stopwords,
         CASE WHEN len(lines) > 0 THEN
           (len(lines) - len(list_distinct(lines))) * 1.0 / len(lines)
         END AS dup_line_ratio
  FROM f
), g AS (
  SELECT *,
         coalesce(n_words >= 20 AND n_words <= 100000, FALSE) AS gate_words,
         coalesce(mean_word_len >= 3.0 AND mean_word_len <= 10.0, FALSE) AS gate_word_len,
         coalesce(bullet_ratio <= 0.9, FALSE) AS gate_bullets,
         coalesce(ellipsis_ratio <= 0.3, FALSE) AS gate_ellipsis,
         coalesce(symbol_ratio <= 0.1, FALSE) AS gate_symbols,
         coalesce(alpha_ratio >= 0.8, FALSE) AS gate_alpha,
         coalesce(n_stopwords >= 1, FALSE) AS gate_stopwords,
         coalesce(dup_line_ratio <= 0.3, FALSE) AS gate_dup_lines
  FROM m
)
SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
       round(mean_word_len, 6) AS mean_word_len,
       round(bullet_ratio, 6) AS bullet_ratio,
       round(ellipsis_ratio, 6) AS ellipsis_ratio,
       round(symbol_ratio, 6) AS symbol_ratio,
       round(alpha_ratio, 6) AS alpha_ratio,
       CAST(n_stopwords AS BIGINT) AS n_stopwords,
       round(dup_line_ratio, 6) AS dup_line_ratio,
       gate_words, gate_word_len, gate_bullets, gate_ellipsis,
       gate_symbols, gate_alpha, gate_stopwords, gate_dup_lines,
       (gate_words AND gate_word_len AND gate_bullets AND gate_ellipsis
        AND gate_symbols AND gate_alpha AND gate_stopwords AND gate_dup_lines)
         AS gopher_pass
FROM g
"""


@register("gopher_quality", _GOPHER_ORACLE)
def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule quality gates (text.gopher_quality, arXiv:2112.11446
    §A1.1) over deterministically-augmented documents: word-count /
    word-length bounds, bullet/ellipsis line ratios, symbol-to-word
    ratio, alphabetic-word ratio, distinct-stopword floor,
    duplicate-line ceiling — every corpus build's pre-tokenization
    filter set, one codegen scan, each gate + the AND hash-verified."""
    docs = load_table(spark, sf_dir, "documents")
    nl = F.lit("\n")
    aug = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 7 == 0,
               F.regexp_replace(F.col("text"), " ", "\n- "))
        .when(F.col("doc_id") % 7 == 1,
              F.concat(F.col("text"), F.repeat(F.concat(nl, F.lit("same line")), 5)))
        .when(F.col("doc_id") % 7 == 2,
              F.regexp_replace(F.col("text"), " ", "...\n"))
        .when(F.col("doc_id") % 7 == 3, F.lit("# ## ###"))
        .otherwise(F.col("text"))
        .alias("t"),
    )
    out = text.gopher_quality(aug, "t", min_words=20, min_stopwords=1)
    metrics = ["mean_word_len", "bullet_ratio", "ellipsis_ratio",
               "symbol_ratio", "alpha_ratio", "dup_line_ratio"]
    sel = out.select(
        "doc_id", "n_words", *metrics, "n_stopwords",
        "gate_words", "gate_word_len", "gate_bullets", "gate_ellipsis",
        "gate_symbols", "gate_alpha", "gate_stopwords", "gate_dup_lines",
        "gopher_pass",
    )
    return _round(sel, metrics)


# --- per-domain document cap --------------------------------------------------

_DOMAIN_CAP_ORACLE = f"""
WITH u AS (
  SELECT doc_id, source,
         {_U_SQL} AS u
  FROM documents
), r AS (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source ORDER BY u, doc_id) AS rk
  FROM u
)
SELECT doc_id, source FROM r WHERE rk <= 10
"""


@register("domain_cap", _DOMAIN_CAP_ORACLE)
def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain cap (sampling.domain_cap mode='exact'): keep the 10
    hash-smallest docs per source — the domain-balancing pass every
    crawled corpus applies. The winners are a pure function of (doc_id,
    seed), so the oracle replays the md5-uniform rank exactly. The
    'rate' mode (zero fact shuffle, expected-k) is the 100 TB shape,
    plan-asserted in tests."""
    from ..operators.sampling import domain_cap

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return domain_cap(docs, "source", "doc_id", cap=10, seed=42)


# --- deterministic PII pseudonymization ----------------------------------------

_PII_PSEUDO_ORACLE = f"""
WITH a AS (
  SELECT doc_id, {_PII_AUG_SQL} AS t FROM documents
), p1 AS (
  SELECT doc_id, list_reduce(
    list_prepend(t, regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}')),
    (acc, x) -> replace(acc, x, 'EMAIL_' || substr(md5(x || ':42'), 1, 8))) AS t
  FROM a
), p2 AS (
  SELECT doc_id, list_reduce(
    list_prepend(t, regexp_extract_all(t, '\\b\\d{{3}}-\\d{{2}}-\\d{{4}}\\b')),
    (acc, x) -> replace(acc, x, 'SSN_' || substr(md5(x || ':42'), 1, 8))) AS t
  FROM p1
), p3 AS (
  SELECT doc_id, list_reduce(
    list_prepend(t, regexp_extract_all(t, '\\+?\\d{{3}}[-. ]\\d{{3}}[-. ]\\d{{4}}\\b')),
    (acc, x) -> replace(acc, x, 'PHONE_' || substr(md5(x || ':42'), 1, 8))) AS t
  FROM p2
), p4 AS (
  SELECT doc_id, list_reduce(
    list_prepend(t, regexp_extract_all(t, '\\b(?:\\d{{1,3}}\\.){{3}}\\d{{1,3}}\\b')),
    (acc, x) -> replace(acc, x, 'IPV4_' || substr(md5(x || ':42'), 1, 8))) AS t
  FROM p3
)
SELECT doc_id, t AS pseudo FROM p4
"""


@register("pii_pseudonymize", _PII_PSEUDO_ORACLE)
def q_pii_pseudonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic PII pseudonymization (pii.pii_pseudonymize) over the
    same augmented documents as pii_scan: every match becomes
    <KIND>_<md5(match:seed)[:8]>, so equal values stay join-equal across
    the corpus while the raw value disappears. Pure codegen fold — the
    oracle replays it with list_reduce byte-for-byte."""
    from ..operators import pii

    docs = load_table(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" contact u"),
                    F.col("doc_id").cast("string"),
                    F.lit("@mail.example.com from 10."),
                    (F.col("doc_id") % 200).cast("string"),
                    F.lit(".0.1 ssn 123-45-6789 call 555-867-5309"),
                ),
            ).otherwise(F.lit("")),
        ).alias("t"),
    )
    out = pii.pii_pseudonymize(aug, "t", "pseudo", seed=42)
    return out.select("doc_id", "pseudo")


# --- whitespace/control normalization ------------------------------------------

# every 5th doc gets injected control chars + ragged whitespace so the
# rewrite has real work on both engines
_NORM_AUG_SQL = (
    "CASE WHEN doc_id % 5 = 0 THEN chr(9) || ' ' || text || '  ' || chr(11)"
    " || 'tail' || chr(1) ELSE text END"
)

_TEXT_NORMALIZE_ORACLE = f"""
WITH a AS (
  SELECT doc_id, {_NORM_AUG_SQL} AS t FROM documents
), n AS (
  SELECT doc_id, t,
         trim(regexp_replace(
           regexp_replace(t, '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]', '', 'g'),
           '[ \\t\\n\\f\\r\\x0B]+', ' ', 'g')) AS normalized
  FROM a
)
SELECT doc_id, normalized,
       CAST(length(t) - length(normalized) AS BIGINT) AS n_removed
FROM n
"""


@register("text_normalize", _TEXT_NORMALIZE_ORACLE)
def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace/control normalization (text.text_normalize) over
    documents with injected control chars + ragged whitespace: the
    rewritten text and the removed-char audit count hash-verify
    byte-for-byte (RE2 ∩ Java regex dialect)."""
    docs = load_table(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit("\t "), F.col("text"), F.lit("  \x0btail\x01")
            ),
        ).otherwise(F.col("text")).alias("t"),
    )
    out = text.text_normalize(aug, "t")
    return out.select("doc_id", "normalized", "n_removed")


# --- per-document sentence profile ----------------------------------------------

# every 6th doc becomes punctuated pseudo-sentences (the fixture word soup
# has no terminators) so the splitter produces real sentence structure
# coalesce: DuckDB's array_to_string over an EMPTY transformed list is
# NULL (empty-doc edge caught by the altseed draw); Spark's fold init ''
_SENT_AUG_SQL = (
    "CASE WHEN doc_id % 6 = 0 THEN"
    " coalesce(array_to_string(list_transform(list_filter("
    "   regexp_split_to_array(trim(text), '[ \\t\\n\\f\\r\\x0B]+'), x -> x <> ''),"
    "   x -> x || CASE WHEN length(x) % 3 = 0 THEN '. ' ELSE ' ' END), ''), '')"
    " ELSE text END"
)

_SENTENCE_STATS_ORACLE = f"""
WITH a AS (
  SELECT doc_id, {_SENT_AUG_SQL} AS t FROM documents
), s AS (
  SELECT doc_id,
         list_filter(list_transform(
           regexp_split_to_array(t, '[.!?]+[ \\t\\n\\f\\r\\x0B]+'), x -> trim(x)), x -> x <> '')
           AS sents
  FROM a
), c AS (
  SELECT doc_id, len(sents) AS n_sentences,
         list_transform(sents,
           s -> len(list_filter(regexp_split_to_array(s, '[ \\t\\n\\f\\r\\x0B]+'), x -> x <> '')))
           AS tc
  FROM s
)
SELECT doc_id, CAST(n_sentences AS BIGINT) AS n_sentences,
       round(CASE WHEN n_sentences > 0
             THEN list_sum(tc) * 1.0 / n_sentences END, 6) AS mean_sent_tokens,
       CAST(coalesce(list_max(tc), 0) AS INT) AS max_sent_tokens,
       round(CASE WHEN n_sentences > 0
             THEN len(list_filter(tc, x -> x < 4)) * 1.0 / n_sentences END, 6)
         AS short_frac
FROM c
"""


@register("sentence_stats", _SENTENCE_STATS_ORACLE)
def q_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document sentence profile (text.sentence_stats) over documents
    augmented with deterministic punctuation: sentence counts, mean/max
    sentence token lengths, short-sentence fraction — the fragmented-text
    quality signal on the sentence axis."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda x: x != "")
    punct = F.aggregate(
        toks,
        F.lit(""),
        lambda acc, x: F.concat(
            acc,
            x,
            F.when(F.length(x) % 3 == 0, F.lit(". ")).otherwise(F.lit(" ")),
        ),
    )
    aug = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 6 == 0, punct).otherwise(F.col("text")).alias("t"),
    )
    out = text.sentence_stats(aug, "doc_id", "t", short=4)
    return _round(out, ["mean_sent_tokens", "short_frac"])


_DEDUP_RATE_BY_SOURCE_ORACLE = """
WITH d AS (
  SELECT source, md5(text) AS dg FROM documents
), c AS (
  SELECT dg FROM d GROUP BY dg HAVING count(*) > 1
), f AS (
  SELECT d.source, CASE WHEN c.dg IS NULL THEN 0 ELSE 1 END AS dup
  FROM d LEFT JOIN c USING (dg)
)
SELECT source, count(*) AS n_docs,
       CAST(sum(dup) AS BIGINT) AS n_dup_docs,
       round(sum(dup) * 1.0 / count(*), 6) AS dup_frac
FROM f GROUP BY source
"""


@register("dedup_rate_by_source", _DEDUP_RATE_BY_SOURCE_ORACLE)
def q_dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplicate-mass card (dedup.dedup_rate_by_source): the
    share of each source's docs whose exact text digest repeats
    corpus-wide — 'which feed is reposting the corpus'. Altseed's
    injected duplicate texts give nonzero rates there; the fixed draw
    verifies the zero path."""
    from ..operators.dedup import dedup_rate_by_source

    docs = load_table(spark, sf_dir, "documents")
    return dedup_rate_by_source(docs)


# Per-source heavy-hitter trigrams: the k most frequent trigrams within
# each source with count, rank and share of the source's trigram mass —
# the boilerplate/template/SEO-spam review card. keep_dups tokenization
# (every occurrence counts); ties rank (cnt DESC, gram ASC) on both
# engines so the cut is deterministic.
_GRAM_TOPK_ORACLE = """
WITH t AS (
  SELECT source,
         list_filter(regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\f\\r\\x0B]+'),
                     x -> x <> '') AS toks
  FROM documents
), g AS (
  SELECT source,
         unnest([array_to_string(toks[i:i+2], ' ')
                 FOR i IN range(1, len(toks) - 1)]) AS gram
  FROM t WHERE len(toks) >= 3
), c AS (
  SELECT source, gram, count(*) AS cnt FROM g GROUP BY source, gram
), tot AS (
  SELECT source, sum(cnt) AS total FROM c GROUP BY source
), r AS (
  SELECT c.*, row_number() OVER (
    PARTITION BY source ORDER BY cnt DESC, gram ASC) AS rank
  FROM c
)
SELECT r.source, r.gram, r.cnt, r.rank,
       round(r.cnt * 1.0 / tot.total, 6) AS share
FROM r JOIN tot USING (source)
WHERE rank <= 10
"""


@register("source_gram_topk", _GRAM_TOPK_ORACLE)
def q_source_gram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source heavy-hitter trigrams (text.gram_topk): top-10 trigrams
    by occurrence count within each source, with share of the source's
    total trigram mass — a repeated template/navigation block dominates
    its source's top grams long before it moves aggregate quality scores.
    One partial-aggregated groupBy(source, gram) (a viral gram's counts
    combine map-side); the rank window sorts only the aggregated frame.
    Generalizes `dist/DistributionSorter.java:40-130` top-common listing
    to text grams."""
    docs = load_table(spark, sf_dir, "documents")
    return text.gram_topk(docs, group_col="source", text_col="text", n=3, k=10)


# Quality-aware canonical dedup: each near-dup cluster keeps its highest-
# quality member (ties -> smallest doc_id; NULL quality loses to any
# scored member). Cluster graph identical to dedup_corpus; the quality
# formula is the registered quality_score expression rounded to 6 on both
# engines so the argmax cannot flip on float noise.
_CORPUS_BEST_ORACLE = f"""
WITH RECURSIVE {_MINHASH_PAIR_CTES}, edges AS (
  SELECT src AS a, dst AS b FROM mpairs
  UNION
  SELECT dst, src FROM mpairs
), reach(node, r) AS (
  SELECT a, a FROM edges
  UNION
  SELECT reach.node, e.b FROM reach JOIN edges e ON e.a = reach.r
), comp AS (
  SELECT node, min(r) AS rep FROM reach GROUP BY node
), lab AS (
  SELECT d.doc_id, coalesce(c.rep, d.doc_id) AS cluster_rep
  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
), qt AS (
  SELECT doc_id, text, {_TOKS_SQL} AS toks FROM documents
), qf AS (
  SELECT doc_id, len(toks) AS n_tokens,
         length(regexp_replace(text, '[a-zA-Z0-9 \\t\\n\\f\\r\\x0B]', '', 'g')) * 1.0 / length(text) AS punct_ratio,
         len(list_filter(toks, x -> list_contains({text.STOPWORDS!r}, x))) * 1.0 / len(toks) AS stopword_ratio,
         len(list_distinct(toks)) * 1.0 / len(toks) AS type_token_ratio
  FROM qt
), q AS (
  SELECT doc_id,
         round(0.25 * least(1.0, n_tokens / 50.0)
             + 0.25 * (1.0 - least(1.0, punct_ratio * 4.0))
             + 0.25 * least(1.0, stopword_ratio * 5.0)
             + 0.25 * type_token_ratio, 6) AS quality
  FROM qf
), ranked AS (
  SELECT lab.doc_id, lab.cluster_rep,
         row_number() OVER (
           PARTITION BY lab.cluster_rep
           ORDER BY (q.quality IS NOT NULL) DESC,
                    coalesce(q.quality, 0.0) DESC, lab.doc_id ASC) AS rn
  FROM lab LEFT JOIN q USING (doc_id)
)
SELECT d.doc_id, q.quality, md5(d.text) AS content_hash
FROM documents d
JOIN ranked r ON r.doc_id = d.doc_id AND r.rn = 1
LEFT JOIN q ON q.doc_id = d.doc_id
"""


@register("dedup_corpus_best", _CORPUS_BEST_ORACLE)
def q_dedup_corpus_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware keep-best-per-cluster corpus (dedup.dedup_corpus_best):
    the survivor of each near-dup cluster is its highest-quality member
    (rounded quality_score; ties keep the smallest doc_id) — the curation
    policy production dedup wants when a clean original and a mangled
    scrape collide. Selection is one partial-aggregating max_by over the
    cluster labels (no rank window); same minhash pair graph as
    dedup_corpus."""
    docs = load_table(spark, sf_dir, "documents")
    qdocs = text.quality_score(docs).withColumn(
        "_q", F.round(F.col("quality"), 6)
    ).select(*docs.columns, "_q")
    pairs = dedup.minhash_lsh_pairs(
        docs, "doc_id", num_hashes=16, bands=4, n=3, min_jaccard=0.5
    )
    kept = dedup.dedup_corpus_best(qdocs, "doc_id", pairs, "_q")
    return kept.select(
        "doc_id", F.col("_q").alias("quality"), F.md5("text").alias("content_hash")
    )


from .model_oracles import compression_ratio_oracle as _compression_ratio_oracle  # noqa: E402


@register("compression_ratio", _compression_ratio_oracle)
def q_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zlib-compressibility quality gate (text.compression_ratio): per-doc
    UTF-8 bytes, DEFLATE payload bytes, their ratio, and the keep band
    [0.3, 0.95] — low ratio = templated/repetitive boilerplate, ~1 =
    binary junk/hash spam, prose sits between. One Arrow-batched map
    pass, no shuffle; the oracle replays the same zlib build off-Spark
    (model_oracles.compression_ratio_oracle) and re-derives the
    accounting in SQL."""
    docs = load_table(spark, sf_dir, "documents")
    out = text.compression_ratio(docs, "text", level=6)
    return out.select(
        "doc_id",
        "n_bytes",
        "n_zlib",
        "zlib_ratio",
        F.coalesce(
            F.col("zlib_ratio").between(0.3, 0.95), F.lit(False)
        ).alias("keep"),
    )


# Containment verification over the identical candidate CTEs: only the
# verify formula differs from _MINHASH_PAIR_CTES (|A∩B| / min sizes, with
# jaccard kept from the same counts).
_CONTAINMENT_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
), shl AS (
  SELECT doc_id, {_SHINGLE_SQL} AS s FROM t
), ex AS (
  SELECT doc_id, unnest(s) AS sh FROM shl
), hv AS (
  SELECT doc_id, {_hex32_sql("md5(sh)")} AS h FROM ex
), mh AS (
  SELECT doc_id, {_MH_EXPRS} FROM hv GROUP BY doc_id
), sig AS (
{_MH_BAND_SIGS}
), cand AS (
  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
  FROM sig a JOIN sig b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
)
SELECT c.src, c.dst,
       round(len(list_intersect(sa.s, sb.s)) * 1.0
             / least(len(list_distinct(sa.s)), len(list_distinct(sb.s))), 6)
         AS containment,
       round(len(list_intersect(sa.s, sb.s)) * 1.0
             / len(list_distinct(list_concat(sa.s, sb.s))), 6) AS jaccard
FROM cand c JOIN shl sa ON sa.doc_id = c.src JOIN shl sb ON sb.doc_id = c.dst
WHERE len(list_intersect(sa.s, sb.s)) * 1.0
      / least(len(list_distinct(sa.s)), len(list_distinct(sb.s))) >= 0.8
"""


@register("dedup_containment", _CONTAINMENT_ORACLE)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subset/quote containment near-dup (dedup.containment_pairs):
    minhash-LSH candidates verified with |A∩B| / min(|A|,|B|) — the
    "short doc wholly quoted in a long one" pair Jaccard under-scores.
    Same banded candidate machinery as dedup_minhash_lsh; zero pairs on
    the fixed draw is a legitimate result (the altseed draw's planted
    duplicate texts exercise the nonzero path)."""
    docs = load_table(spark, sf_dir, "documents")
    out = dedup.containment_pairs(
        docs, "doc_id", num_hashes=16, bands=4, n=3, min_containment=0.8
    )
    return _round(out, ["containment", "jaccard"])


# Multi-signal fusion oracle: per-row signals at full precision (bit-
# identical expressions on both engines), fitted mean/std ROUND-6 (the
# model-quantization convention — aggregate summation order varies with
# partitioning), z at FULL precision (rounding z would manufacture exact
# .5 decimal boundaries in the weighted mean — see fuse_apply), only the
# final score round-6; weights renormalized over non-NULL signals.
_QUALITY_FUSE_ORACLE = f"""
WITH t AS (
  SELECT doc_id, text, {_TOKS_SQL} AS toks FROM documents
), f AS (
  SELECT doc_id,
         0.25 * least(1.0, len(toks) / 50.0)
           + 0.25 * (1.0 - least(1.0,
               length(regexp_replace(text, '[a-zA-Z0-9 \\t\\n\\f\\r\\x0B]', '', 'g')) * 1.0
               / length(text) * 4.0))
           + 0.25 * least(1.0,
               len(list_filter(toks, x -> list_contains({text.STOPWORDS!r}, x))) * 1.0
               / len(toks) * 5.0)
           + 0.25 * (len(list_distinct(toks)) * 1.0 / len(toks)) AS quality,
         length(regexp_replace(text, '[a-zA-Z0-9 \\t\\n\\f\\r\\x0B]', '', 'g')) * 1.0
           / length(text) AS punct_ratio,
         len(list_distinct(toks)) * 1.0 / len(toks) AS type_token_ratio
  FROM t
), s AS (
  SELECT round(avg(quality), 6) AS mu_q, round(stddev_samp(quality), 6) AS sd_q,
         round(avg(punct_ratio), 6) AS mu_p, round(stddev_samp(punct_ratio), 6) AS sd_p,
         round(avg(type_token_ratio), 6) AS mu_t, round(stddev_samp(type_token_ratio), 6) AS sd_t
  FROM f
), z AS (
  SELECT doc_id,
         CASE WHEN quality IS NOT NULL AND sd_q > 0
              THEN (quality - mu_q) / sd_q END AS z_q,
         CASE WHEN punct_ratio IS NOT NULL AND sd_p > 0
              THEN (punct_ratio - mu_p) / sd_p END AS z_p,
         CASE WHEN type_token_ratio IS NOT NULL AND sd_t > 0
              THEN (type_token_ratio - mu_t) / sd_t END AS z_t
  FROM f, s
)
SELECT doc_id,
       CASE WHEN (CASE WHEN z_q IS NOT NULL THEN 2.0 ELSE 0.0 END
                + CASE WHEN z_p IS NOT NULL THEN 1.0 ELSE 0.0 END
                + CASE WHEN z_t IS NOT NULL THEN 1.0 ELSE 0.0 END) > 0
            THEN round((coalesce(z_q, 0.0) * 2.0 + coalesce(z_p, 0.0) * 1.0
                        + coalesce(z_t, 0.0) * 1.0)
                       / (CASE WHEN z_q IS NOT NULL THEN 2.0 ELSE 0.0 END
                        + CASE WHEN z_p IS NOT NULL THEN 1.0 ELSE 0.0 END
                        + CASE WHEN z_t IS NOT NULL THEN 1.0 ELSE 0.0 END), 6)
            ELSE 0.0 END AS fused_score
FROM z
"""


@register("quality_fuse", _QUALITY_FUSE_ORACLE)
def q_quality_fuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-signal quality ensemble (text.quality_fuse): composite
    quality (weight 2) fused with punctuation ratio and type-token ratio
    (weight 1 each) after corpus z-standardization. One tiny aggregate
    broadcast back onto the scan — never the per-signal global sorts rank
    fusion would cost; NULL signals renormalize the weights per row
    (altseed's empty docs exercise that path)."""
    docs = load_table(spark, sf_dir, "documents")
    scored = text.quality_score(docs)
    out = text.quality_fuse(
        scored,
        ["quality", "punct_ratio", "type_token_ratio"],
        weights=[2.0, 1.0, 1.0],
    )
    return out.select("doc_id", "fused_score")


_LANG_FERTILITY_ORACLE = f"""
WITH t AS (
  SELECT lang, strlen(text) AS b, len({_TOKS_SQL}) AS tk FROM documents
)
SELECT lang, count(*) AS n_docs,
       CAST(sum(b) AS BIGINT) AS total_bytes,
       CAST(sum(tk) AS BIGINT) AS total_tokens,
       CASE WHEN sum(tk) > 0
            THEN round(sum(b) * 1.0 / sum(tk), 6) END AS bytes_per_token,
       CASE WHEN sum(b) > 0
            THEN round(sum(tk) * 100.0 / sum(b), 6) END AS tokens_per_100_bytes
FROM t GROUP BY lang
"""


@register("lang_fertility", _LANG_FERTILITY_ORACLE)
def q_lang_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer-fertility card (text.lang_fertility):
    docs / UTF-8 bytes / whitespace tokens / bytes-per-token per lang —
    the budgeting table behind multilingual mix planning, where byte
    budgets and token budgets diverge (CJK: ~3 bytes/char, few
    whitespace tokens). One partial-aggregated groupBy(lang)."""
    docs = load_table(spark, sf_dir, "documents")
    return text.lang_fertility(docs)


# Per-language fusion: same per-row signals, stats fitted PER LANG (what
# counts as high punctuation differs per script) and left-joined back.
_QUALITY_FUSE_BY_LANG_ORACLE = f"""
WITH t AS (
  SELECT doc_id, lang, text, {_TOKS_SQL} AS toks FROM documents
), f AS (
  SELECT doc_id, lang,
         0.25 * least(1.0, len(toks) / 50.0)
           + 0.25 * (1.0 - least(1.0,
               length(regexp_replace(text, '[a-zA-Z0-9 \\t\\n\\f\\r\\x0B]', '', 'g')) * 1.0
               / length(text) * 4.0))
           + 0.25 * least(1.0,
               len(list_filter(toks, x -> list_contains({text.STOPWORDS!r}, x))) * 1.0
               / len(toks) * 5.0)
           + 0.25 * (len(list_distinct(toks)) * 1.0 / len(toks)) AS quality,
         len(list_distinct(toks)) * 1.0 / len(toks) AS type_token_ratio
  FROM t
), s AS (
  SELECT lang,
         round(avg(quality), 6) AS mu_q, round(stddev_samp(quality), 6) AS sd_q,
         round(avg(type_token_ratio), 6) AS mu_t, round(stddev_samp(type_token_ratio), 6) AS sd_t,
         true AS fitted
  FROM f GROUP BY lang
), z AS (
  -- plain-equality LEFT join (Spark's join(..., ["lang"], "left")): a
  -- NULL-lang row matches nothing and scores NULL, per fuse_apply's
  -- unlearned-stratum contract
  SELECT f.doc_id, f.lang, s.fitted,
         CASE WHEN quality IS NOT NULL AND sd_q > 0
              THEN (quality - mu_q) / sd_q END AS z_q,
         CASE WHEN type_token_ratio IS NOT NULL AND sd_t > 0
              THEN (type_token_ratio - mu_t) / sd_t END AS z_t
  FROM f LEFT JOIN s ON f.lang = s.lang
)
SELECT doc_id, lang,
       CASE WHEN fitted IS NULL THEN NULL
            WHEN (CASE WHEN z_q IS NOT NULL THEN 2.0 ELSE 0.0 END
                + CASE WHEN z_t IS NOT NULL THEN 1.0 ELSE 0.0 END) > 0
            THEN round((coalesce(z_q, 0.0) * 2.0 + coalesce(z_t, 0.0) * 1.0)
                       / (CASE WHEN z_q IS NOT NULL THEN 2.0 ELSE 0.0 END
                        + CASE WHEN z_t IS NOT NULL THEN 1.0 ELSE 0.0 END), 6)
            ELSE 0.0 END AS fused_score
FROM z
"""


@register("quality_fuse_by_lang", _QUALITY_FUSE_BY_LANG_ORACLE)
def q_quality_fuse_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quality fusion (text.quality_fuse with by=['lang']):
    each signal standardizes against ITS language's round-6 stats before
    the weighted combine — cross-language z-scores mix calibrations
    (scripts differ in punctuation and type-token norms). The fitted
    model is |langs| rows and broadcasts; the fact table never
    shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    scored = text.quality_score(docs)
    out = text.quality_fuse(
        scored,
        ["quality", "type_token_ratio"],
        weights=[2.0, 1.0],
        by=["lang"],
    )
    return out.select("doc_id", "lang", "fused_score")


_EMBEDDING_AUDIT_ORACLE = """
WITH v AS (
  SELECT label, embedding::DOUBLE[] AS vec FROM embeddings
  WHERE embedding IS NOT NULL
), per AS (
  SELECT label, vec, len(vec) AS dim,
         len(list_filter(vec, x -> isnan(x) OR isinf(x))) > 0 AS bad,
         coalesce(list_sum(list_transform(vec, x -> x * x)), 0.0) AS ss
  FROM v
), base AS (
  SELECT label,
         CAST(count(*) AS BIGINT) AS n_vecs,
         CAST(min(dim) AS BIGINT) AS min_dim,
         CAST(max(dim) AS BIGINT) AS max_dim,
         CAST(sum(CASE WHEN bad THEN 1 ELSE 0 END) AS BIGINT) AS n_nonfinite,
         CAST(sum(CASE WHEN NOT bad AND ss = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_zero_norm,
         round(avg(CASE WHEN NOT bad THEN sqrt(ss) END), 6) AS mean_norm
  FROM per GROUP BY label
), dup AS (
  SELECT label, CAST(sum(c) AS BIGINT) AS n_dup_vecs
  FROM (SELECT label, vec, count(*) AS c FROM per GROUP BY label, vec)
  WHERE c >= 2 GROUP BY label
)
SELECT b.*, coalesce(d.n_dup_vecs, 0) AS n_dup_vecs
FROM base b LEFT JOIN dup d USING (label)
"""


@register("embedding_audit", _EMBEDDING_AUDIT_ORACLE)
def q_embedding_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding QA card (similarity.embedding_audit): per-label vector
    count, dim range, non-finite/zero-norm counts, round-6 mean L2 norm,
    and exact-duplicate mass (grouping on the float vector itself) — the
    gate a pipeline runs before ANN/topic/semantic-dedup builds. The
    sum-of-squares is the engine-exact sequential fold the cosine family
    uses, so the norm column hash-verifies."""
    from ..operators.similarity import embedding_audit

    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_audit(emb, "embedding", by=["label"])


# Temperature-flattened mix: w_s = sqrt(n_s) (alpha = 0.5 — sqrt is IEEE
# correctly-rounded on both engines, so the u < w*T/n keep decision is
# bit-identical; the mix machinery is scale-invariant in w, so no
# cross-stratum normalizing sum exists to introduce summation noise)
_TEMPERATURE_MIX_ORACLE = f"""
WITH c AS (
  SELECT lang AS _stratum, CAST(count(*) AS DOUBLE) AS _n,
         sqrt(CAST(count(*) AS DOUBLE)) AS _w
  FROM documents WHERE lang IS NOT NULL
  GROUP BY lang
), b AS (
  SELECT min(_n / _w) AS _T FROM c
), r AS (
  SELECT _stratum, (_w * _T / _n) AS _rate FROM c, b
)
SELECT d.doc_id, d.lang, {_U_SQL} AS u, round(_rate, 6) AS rate
FROM documents d JOIN r ON d.lang = r._stratum
WHERE {_U_SQL} < _rate
"""


@register("temperature_mix", _TEMPERATURE_MIX_ORACLE)
def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened language mix (sampling.temperature_mix,
    alpha=0.5): kept shares follow sqrt(n_s) instead of n_s — the
    standard multilingual recipe that up-weights small languages without
    hand-writing a target map. The smallest language keeps everything
    (binding stratum); head languages thin toward the flattened recipe."""
    from ..operators import sampling

    docs = load_table(spark, sf_dir, "documents")
    out = sampling.temperature_mix(
        docs, "doc_id", "lang", alpha=0.5, seed=42, u_col="u", rate_col="rate"
    )
    return out.select(
        "doc_id", "lang", "u", F.round("rate", 6).alias("rate")
    )


#: bag-of-words query for the registered BM25 retrieval check: one rare
#: discriminative term (dup), two common terms (spark, window), and one
#: term absent from the fixture vocabulary (shuffle — exercises the
#: df=0 no-contribution path)
_BM25_TERMS = ["spark", "dup", "window", "shuffle"]
_BM25_K = 25

_BM25_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\f\\r\\x0B]+'), x -> x <> '') AS ts
  FROM documents
), dl AS (
  SELECT doc_id, len(ts) AS dl FROM toks
), stats AS (
  SELECT count(*) AS n, avg(dl) AS avgdl FROM dl
), q AS (
  SELECT unnest({sorted(set(_BM25_TERMS))!r}) AS token
), tf AS (
  SELECT t.doc_id, u.token, count(*) AS tf
  FROM toks t, unnest(t.ts) AS u(token)
  JOIN q USING (token)
  GROUP BY t.doc_id, u.token
), dfreq AS (
  SELECT token, count(*) AS df FROM tf GROUP BY token
), scored AS (
  SELECT tf.doc_id,
         count(*) AS n_hit_terms,
         round(sum( ln(1.0 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
              * tf.tf * (1.2 + 1.0)
              / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / stats.avgdl)) ), 6) AS score
  FROM tf JOIN dl USING (doc_id) CROSS JOIN stats JOIN dfreq ON tf.token = dfreq.token
  GROUP BY tf.doc_id
), ranked AS (
  SELECT doc_id, CAST(n_hit_terms AS BIGINT) AS n_hit_terms, score,
         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS bm25_rank
  FROM scored
)
SELECT * FROM ranked WHERE bm25_rank <= {_BM25_K}
"""


@register("bm25_topk", _BM25_ORACLE)
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 BM25 retrieval (text.bm25_topk) for a 4-term bag-of-words
    query: Okapi BM25 with the Lucene non-negative IDF, dl/avgdl length
    normalization over ALL docs, rank on the round-6 score with doc-id
    tie-break. The query-term filter runs inside the token array before
    the explode, df/stat frames broadcast, and the global top-k is
    orderBy+limit (distributed TakeOrderedAndProject, never a
    single-task sort)."""
    docs = load_table(spark, sf_dir, "documents")
    return text.bm25_topk(docs, _BM25_TERMS, k=_BM25_K)


_HYBRID_QVEC_ID = 0
_HYBRID_CANDS = 50
_HYBRID_K = 20
_HYBRID_RRF_K = 60

_HYBRID_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\f\\r\\x0B]+'), x -> x <> '') AS ts
  FROM documents
), dl AS (
  SELECT doc_id, len(ts) AS dl FROM toks
), stats AS (
  SELECT count(*) AS n, avg(dl) AS avgdl FROM dl
), q AS (
  SELECT unnest({sorted(set(_BM25_TERMS))!r}) AS token
), tf AS (
  SELECT t.doc_id, u.token, count(*) AS tf
  FROM toks t, unnest(t.ts) AS u(token)
  JOIN q USING (token)
  GROUP BY t.doc_id, u.token
), dfreq AS (
  SELECT token, count(*) AS df FROM tf GROUP BY token
), bscored AS (
  SELECT tf.doc_id,
         round(sum( ln(1.0 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
              * tf.tf * (1.2 + 1.0)
              / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / stats.avgdl)) ), 6) AS score
  FROM tf JOIN dl USING (doc_id) CROSS JOIN stats JOIN dfreq ON tf.token = dfreq.token
  GROUP BY tf.doc_id
), bcut AS (
  SELECT doc_id, bm25_rank FROM (
    SELECT doc_id,
           row_number() OVER (ORDER BY score DESC, doc_id ASC) AS bm25_rank
    FROM bscored
  ) WHERE bm25_rank <= {_HYBRID_CANDS}
), v AS (
  SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
), qv AS (
  SELECT vec FROM v WHERE vec_id = {_HYBRID_QVEC_ID}
), cscored AS (
  SELECT v.vec_id,
         {_COS_SQL.format(a="qv.vec", b="v.vec")} AS cosine
  FROM v CROSS JOIN qv WHERE v.vec_id <> {_HYBRID_QVEC_ID}
), ccut AS (
  SELECT vec_id, cos_rank FROM (
    SELECT vec_id,
           row_number() OVER (ORDER BY cosine DESC, vec_id ASC) AS cos_rank
    FROM cscored
  ) WHERE cos_rank <= {_HYBRID_CANDS}
), fused AS (
  SELECT COALESCE(b.doc_id, c.vec_id) AS doc_id,
         b.bm25_rank, c.cos_rank,
         round(COALESCE(1.0 / ({_HYBRID_RRF_K} + b.bm25_rank), 0.0)
               + COALESCE(1.0 / ({_HYBRID_RRF_K} + c.cos_rank), 0.0), 6) AS rrf_score
  FROM bcut b FULL JOIN ccut c ON b.doc_id = c.vec_id
), ranked AS (
  SELECT doc_id, bm25_rank, cos_rank, rrf_score,
         row_number() OVER (ORDER BY rrf_score DESC, doc_id ASC) AS hybrid_rank
  FROM fused
)
SELECT * FROM ranked WHERE hybrid_rank <= {_HYBRID_K}
"""


@register("hybrid_retrieval", _HYBRID_ORACLE)
def q_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid BM25 + dense retrieval by reciprocal-rank fusion
    (similarity.hybrid_rrf_topk): the lexical top-50 for the 4-term
    query fused with the cosine top-50 neighbors of doc 0's embedding,
    rrf = sum 1/(60 + rank), top-20 on the round-6 score with doc-id
    tie-break. Both candidate lists are TakeOrderedAndProject (the
    dense side deliberately avoids a single-query window sort); the
    fusion join and rank window run over <= 100 rows."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.hybrid_rrf_topk(
        docs, emb, _BM25_TERMS, _HYBRID_QVEC_ID,
        k=_HYBRID_K, n_candidates=_HYBRID_CANDS, rrf_k=_HYBRID_RRF_K,
    )
