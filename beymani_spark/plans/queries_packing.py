"""Registry queries for training-sequence preparation (operators/packing.py)
and the per-stratum rank gate (operators/sampling.py): the transforms between
a cleaned corpus and a trainer's fixed-length token sequences, plus the
"keep the best q% of each domain" filter. North-star LLM-pipeline surface;
no counterpart in the reference.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import caching
from ..operators import packing, sampling, text
from ..sources import load_table
from .registry import register

_TOKS_SQL = "list_filter(regexp_split_to_array(trim(text), '[ \\t\\n\\f\\r\\x0B]+'), x -> x <> '')"

_CHUNK_M, _CHUNK_S = 64, 48

_TRAINING_CHUNKS_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
), nz AS (
  SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0
), wins AS (
  SELECT doc_id, n, u.i AS chunk_id,
         list_slice(toks, u.i * {_CHUNK_S} + 1,
                    least(u.i * {_CHUNK_S} + {_CHUNK_M}, n)) AS w
  FROM nz, unnest(range(0,
         CASE WHEN n <= {_CHUNK_M} THEN 1
              ELSE 1 + CAST(ceil((n - {_CHUNK_M}) / {_CHUNK_S}.0) AS INT)
         END)) AS u(i)
)
SELECT doc_id, chunk_id, len(w) AS chunk_tokens,
       array_to_string(w, ' ') AS chunk_text
FROM wins
"""


_CTX_LENS = (16, 32, 64, 128)

_CTX_PLAN_ORACLE = f"""
WITH n AS (
  SELECT coalesce(len({_TOKS_SQL}), 0)::BIGINT AS n FROM documents
), per AS (
  SELECT l.context_len, n.n,
         (n.n + l.context_len - 1) // l.context_len AS chunks
  FROM n, (VALUES {', '.join(f'({x})' for x in _CTX_LENS)}) AS l(context_len)
), g AS (
  SELECT context_len,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n) AS BIGINT) AS n_tokens,
         CAST(sum(chunks) AS BIGINT) AS n_chunks,
         CAST(sum(chunks * context_len - n) AS BIGINT) AS padded_tokens
  FROM per GROUP BY context_len
)
SELECT context_len, n_docs, n_tokens, n_chunks, padded_tokens,
       round(padded_tokens * 1.0 / (n_chunks * context_len), 6) AS waste_share
FROM g
"""


@register("context_length_plan", _CTX_PLAN_ORACLE)
def q_context_length_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding-waste table across candidate context lengths
    (packing.context_length_plan): integer ceil-div chunk counts and the
    padding share of the token budget per candidate L — the planning
    query before choosing a training sequence length. Engine-exact
    integer arithmetic; one scan, one tiny groupBy."""
    docs = load_table(spark, sf_dir, "documents")
    out = packing.context_length_plan(docs, "text", lengths=_CTX_LENS)
    return out.withColumn("context_len", F.col("context_len").cast("int"))


@register("training_chunks", _TRAINING_CHUNKS_ORACLE)
def q_training_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping context-window chunking (packing.chunk_for_training):
    max 64 whitespace tokens per window, stride 48 — zero-shuffle scan-side
    explode."""
    docs = load_table(spark, sf_dir, "documents")
    return packing.chunk_for_training(
        docs, "doc_id", max_tokens=_CHUNK_M, stride=_CHUNK_S
    )


_SEQ_TOKENS, _SEP = 2048, 1

_PACK_MANIFEST_ORACLE = f"""
WITH n AS (
  -- COALESCE mirrors the Spark side: null text = 0 tokens, still a row
  SELECT doc_id, COALESCE(len({_TOKS_SQL}), 0) AS n_tokens FROM documents
), o AS (
  SELECT doc_id, n_tokens,
         -- SUM over BIGINT is HUGEINT in DuckDB; pin the manifest to int64
         CAST(COALESCE(SUM(n_tokens + {_SEP}) OVER (
           ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS BIGINT) AS start_offset
  FROM n
)
SELECT doc_id, n_tokens, start_offset,
       start_offset // {_SEQ_TOKENS} AS seq_id,
       CAST(CASE WHEN n_tokens <= 0 THEN 1
            ELSE ((start_offset + n_tokens - 1) // {_SEQ_TOKENS})
                 - (start_offset // {_SEQ_TOKENS}) + 1
       END AS INT) AS n_seq_spanned
FROM o
"""


@register("pack_manifest", _PACK_MANIFEST_ORACLE)
def q_pack_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk packing manifest (packing.pack_sequences): global
    token offsets via a distributed prefix sum (the oracle's global-order
    window is exactly the single-partition plan the Spark side avoids)."""
    docs = load_table(spark, sf_dir, "documents")
    return packing.pack_sequences(
        docs, "doc_id", seq_tokens=_SEQ_TOKENS, sep_tokens=_SEP
    )


# Day-2 packing: the new batch (odd doc_ids) packs CONTIGUOUSLY after the
# standing stream (even doc_ids, whose one scalar total is the only state
# carried forward — the standing manifest is never re-read). Result equals
# what a full repack would assign the batch docs.
_PACK_INCR_ORACLE = f"""
WITH n AS (
  SELECT doc_id, COALESCE(len({_TOKS_SQL}), 0) AS n_tokens
  FROM documents WHERE doc_id % 2 = 1
), prev AS (
  SELECT COALESCE(CAST(SUM(COALESCE(len({_TOKS_SQL}), 0) + {_SEP}) AS BIGINT), 0) AS total
  FROM documents WHERE doc_id % 2 = 0
), o AS (
  SELECT doc_id, n_tokens,
         (SELECT total FROM prev)
         + CAST(COALESCE(SUM(n_tokens + {_SEP}) OVER (
             ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS BIGINT) AS start_offset
  FROM n
)
SELECT doc_id, n_tokens, start_offset,
       start_offset // {_SEQ_TOKENS} AS seq_id,
       CAST(CASE WHEN n_tokens <= 0 THEN 1
            ELSE ((start_offset + n_tokens - 1) // {_SEQ_TOKENS})
                 - (start_offset // {_SEQ_TOKENS}) + 1
       END AS INT) AS n_seq_spanned
FROM o
"""


@register("pack_manifest_incremental", _PACK_INCR_ORACLE)
def q_pack_manifest_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-2 packing manifest (packing.pack_sequences base_offset= form):
    the batch's distributed prefix sum starts at the standing stream's
    total — one bounded scalar is the only carried state."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    toks = text.tokens(F.col("text"))
    prev_total = (
        corpus.agg(
            F.sum(F.coalesce(F.size(toks), F.lit(0)) + F.lit(_SEP)).alias("t")
        ).collect()[0]["t"]
        or 0
    )
    return packing.pack_sequences(
        batch, "doc_id", seq_tokens=_SEQ_TOKENS, sep_tokens=_SEP,
        base_offset=int(prev_total),
    )


_KEEP_FRAC = 0.3


def _lang_hits_sql(lang: str) -> str:
    markers = text.LANG_MARKERS[lang]
    return f"len(list_filter(toks, x -> list_contains({markers!r}, x)))"


_RANK_GATE_ORACLE = f"""
WITH lt AS (
  SELECT doc_id, {_TOKS_SQL.replace("trim(text)", "trim(lower(text))")} AS toks
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
  SELECT doc_id,
         round(0.25 * least(1.0, n_tokens / 50.0)
             + 0.25 * (1.0 - least(1.0, punct_ratio * 4.0))
             + 0.25 * least(1.0, stopword_ratio * 5.0)
             + 0.25 * type_token_ratio, 6) AS quality
  FROM f
), r AS (
  SELECT q.doc_id, lp.pred_lang, q.quality,
         row_number() OVER (
           PARTITION BY lp.pred_lang ORDER BY q.quality DESC, q.doc_id
         ) AS rk,
         count(*) OVER (PARTITION BY lp.pred_lang) AS ns
  FROM q JOIN lp ON q.doc_id = lp.doc_id
)
SELECT doc_id, pred_lang, quality
FROM r WHERE rk <= CAST(ceil(ns * {_KEEP_FRAC}) AS BIGINT)
"""


# --- corpus_to_manifest: the full daily training drop ------------------------
# build_corpus_incremental (day-2 ingest vs the standing corpus's digest
# manifest) -> stratified_rank_filter (best 50% of each language by quality)
# -> group-aware leak-free split on `source` -> pack_sequences over the train
# split. Every stage is an already-oracle-verified operator; this query makes
# the COMPOSITION itself a tested artifact — the crawl-to-training-manifest
# path a production pipeline runs end to end.
_MANIFEST_KEEP = 0.5
_USRC_SQL = (
    "(('0x' || substr(md5(CAST(source AS VARCHAR) || ':42'), 1, 8))::UBIGINT"
    " / 4294967296.0)"
)


def _corpus_to_manifest_oracle() -> str:
    from .queries_text import _CORPUS_INCR_ORACLE

    return f"""
WITH src AS (
  SELECT ib.doc_id, ib.pred_lang, ib.n_tokens, ib.quality, d.source
  FROM ({_CORPUS_INCR_ORACLE.strip()}) ib
  JOIN main.documents d ON ib.doc_id = d.doc_id
), r AS (
  SELECT *,
         row_number() OVER (
           PARTITION BY pred_lang ORDER BY quality DESC, doc_id
         ) AS rk,
         count(*) OVER (PARTITION BY pred_lang) AS ns
  FROM src
), kept AS (
  SELECT doc_id, pred_lang, source, n_tokens, quality
  FROM r WHERE rk <= CAST(ceil(ns * {_MANIFEST_KEEP}) AS BIGINT)
), train AS (
  SELECT * FROM kept WHERE {_USRC_SQL} < 0.75
), o AS (
  SELECT doc_id, pred_lang, source, quality, n_tokens,
         CAST(COALESCE(SUM(n_tokens + {_SEP}) OVER (
           ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS BIGINT) AS start_offset
  FROM train
)
SELECT doc_id, n_tokens, start_offset,
       start_offset // {_SEQ_TOKENS} AS seq_id,
       CAST(CASE WHEN n_tokens <= 0 THEN 1
            ELSE ((start_offset + n_tokens - 1) // {_SEQ_TOKENS})
                 - (start_offset // {_SEQ_TOKENS}) + 1
       END AS INT) AS n_seq_spanned,
       pred_lang, source, quality
FROM o
"""


@register("corpus_to_manifest", lambda sf_dir: _corpus_to_manifest_oracle())
def q_corpus_to_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end daily training drop: day-2 incremental corpus build (even
    doc_ids = standing corpus, odd = new crawl batch), per-language rank
    gate keeping the best 50% by quality, group-aware split on `source`
    (docs from one source never straddle train/test), and the
    concat-and-chunk packing manifest over the train split.

    Scale shape is the SUM of its verified parts: one scan pass + one
    digest shuffle (build), one narrow id join for `source`, one stratum
    shuffle feeding both rank windows, a zero-shuffle split expression, and
    the distributed prefix sum of pack_sequences. The gated train frame is
    persisted because the pack manifest and the metadata join-back consume
    it in two plan branches — without it the whole build pipeline would execute twice."""
    from ..operators import pipeline

    docs = load_table(spark, sf_dir, "documents")
    corpus = pipeline.build_corpus(
        docs.filter(F.col("doc_id") % 2 == 0), quality_min=0.6, seed=42
    )
    manifest = corpus.select(F.md5("clean_text").alias("content_hash"))
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    built = pipeline.build_corpus_incremental(
        batch, manifest, quality_min=0.6, seed=42
    )
    with_src = built.drop("split").join(
        docs.select("doc_id", "source"), "doc_id"
    )
    gated = sampling.stratified_rank_filter(
        with_src, "pred_lang", "quality", _MANIFEST_KEEP, tiebreak_col="doc_id"
    )
    split = sampling.deterministic_split(
        gated, "source", (("train", 0.75), ("val", 0.125), ("test", 0.125)), seed=42
    )
    train = caching.persist(split.filter(F.col("split") == "train"))
    packed = packing.pack_sequences(
        train, "doc_id", seq_tokens=_SEQ_TOKENS, sep_tokens=_SEP,
        n_tokens_col="n_tokens",
    )
    return packed.join(
        train.select("doc_id", "pred_lang", "source", "quality"), "doc_id"
    )


@register("quality_rank_gate", _RANK_GATE_ORACLE)
def q_quality_rank_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum percentile gate (sampling.stratified_rank_filter): keep
    the best 30% of each predicted language by quality — a RANK cut with a
    deterministic tie-break, not a hash-rate cut. Ranks on the ROUND-6
    quality on both sides (the repo-wide float-parity convention), with
    doc_id breaking round-6 ties."""
    docs = load_table(spark, sf_dir, "documents")
    scored = text.quality_score(text.lang_id(docs)).withColumn(
        "quality", F.round("quality", 6)
    )
    out = sampling.stratified_rank_filter(
        scored, "pred_lang", "quality", _KEEP_FRAC, tiebreak_col="doc_id"
    )
    return out.select("doc_id", "pred_lang", "quality")


_COMPACTION_ORACLE = """
WITH est AS (
  SELECT source, lang,
         coalesce(strlen(text), 0) + coalesce(strlen(lang), 0)
           + coalesce(strlen(source), 0) AS row_bytes
  FROM documents
), agg AS (
  SELECT source, lang, count(*) AS n_rows,
         CAST(sum(row_bytes) AS BIGINT) AS est_bytes
  FROM est GROUP BY source, lang
)
SELECT source, lang, n_rows, est_bytes,
       greatest(1, CAST(ceil(est_bytes / 8192.0) AS BIGINT)) AS n_files,
       CAST(ceil(n_rows * 1.0 / greatest(1, CAST(ceil(est_bytes / 8192.0) AS BIGINT)))
            AS BIGINT) AS rows_per_file
FROM agg
"""


@register("compaction_plan", _COMPACTION_ORACLE)
def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write/compaction planner (packing.compaction_plan) over the
    (source, lang) output partitioning of the documents table: rows,
    estimated bytes, target-sized file count, and rows-per-file — the
    broadcast table a partitioned writer uses to avoid the small-files
    problem (the 8 KiB target here is fixture-scaled so multiple-file
    partitions exercise the ceil math; production targets ~128 MiB).
    One partial-aggregated groupBy over the partition keys."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    return packing.compaction_plan(
        docs, ["source", "lang"], target_file_bytes=8192
    )


_SHUFFLE_PLAN_ORACLE = """
WITH keyed AS (
  SELECT doc_id,
         (('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 8))::UBIGINT
          / 4294967296.0) AS shuffle_key
  FROM documents
)
SELECT doc_id, shuffle_key,
       CAST(row_number() OVER (ORDER BY shuffle_key, doc_id) - 1 AS BIGINT)
         AS shuffle_pos
FROM keyed
"""


_CURRICULUM_ORACLE = """
WITH q AS ({quality}),
ranked AS (
  SELECT doc_id,
         row_number() OVER (
           ORDER BY coalesce(-quality, 'infinity'::DOUBLE), doc_id
         ) - 1 AS r,
         count(*) OVER () AS n
  FROM q
), staged AS (
  SELECT doc_id, CAST((r * 4) // n AS BIGINT) AS stage FROM ranked
), keyed AS (
  SELECT doc_id, stage,
         (('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 8))::UBIGINT
          / 4294967296.0) AS skey
  FROM staged
)
SELECT doc_id, stage,
       CAST(row_number() OVER (ORDER BY stage, skey, doc_id) - 1 AS BIGINT)
         AS curriculum_pos
FROM keyed
"""


def _curriculum_oracle() -> str:
    # reuse the PROVEN quality mirror (queries_text._QUALITY_ORACLE, the
    # hash-exact oracle of the quality_score query) as the scoring CTE so
    # the two oracles can never drift apart
    from .queries_text import _QUALITY_ORACLE

    return _CURRICULUM_ORACLE.format(quality=_QUALITY_ORACLE.strip())


@register("curriculum_plan", lambda sf_dir=None: _curriculum_oracle())
def q_curriculum_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-staged training order (packing.curriculum_plan): exact
    global quality rank (best first, null-quality last) cut into 4
    equal stages, deterministic seeded shuffle within each stage —
    curriculum learning's manifest, bit-reproducible across cluster
    sizes and engines. Two distributed prefix-sum passes; the oracle's
    global row_numbers ARE the semantics being certified."""
    docs = load_table(spark, sf_dir, "documents")
    scored = text.quality_score(docs).withColumn(
        "quality", F.round("quality", 6)
    )
    return packing.curriculum_plan(
        scored, "doc_id", "quality", n_stages=4, seed=42
    )


@register("corpus_shuffle", _SHUFFLE_PLAN_ORACLE)
def q_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle manifest (packing.shuffle_plan): the
    exact 0-based training order of every document under seed 42 —
    bit-reproducible across cluster sizes and engines (dyadic hash key,
    unique-id tie-break). Computed with the distributed prefix-sum
    engine, never a single-task global window; the oracle's global
    row_number IS the semantics being certified."""
    docs = load_table(spark, sf_dir, "documents")
    return packing.shuffle_plan(docs, "doc_id", seed=42)
