"""End-to-end corpus-build composition: the "run every day on the crawl"
pipeline a training-data user actually executes, assembled from this repo's
operators — language ID -> quality gate -> PII redaction -> exact dedup ->
leak-free split assignment. One function so the composition itself is a
tested, oracle-verifiable artifact, not a notebook.

Plan shape (the point of composing inside one DataFrame expression): the
lang/quality/PII stages are all codegen column expressions, so Catalyst
fuses them into a single scan-side WholeStageCodegen pass; the only
shuffle in the whole pipeline is the dedup ownership aggregate on
md5(text), and the split assignment is again a pure expression on top.
At 100 TB: one narrow pass + one digest-keyed exchange.
"""
from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import caching
from . import pii as pii_ops
from . import sampling, text


def build_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    quality_min: float = 0.6,
    splits: Sequence[tuple[str, float]] = (("train", 0.75), ("val", 0.125), ("test", 0.125)),
    seed: int = 42,
) -> DataFrame:
    """Return the cleaned corpus: one row per SURVIVING doc with
    (id, pred_lang, n_tokens, quality, split, clean_text).

    Stages, in order (order matters and is part of the contract):
    1. lang_id + quality_score (text.py) — pure expressions.
    2. Quality gate: keep round(quality, 6) >= quality_min. The rounded
       value is the gate so the boundary decision is engine-reproducible
       (round-6 is the repo-wide float-parity convention).
    3. PII redaction (pii.py defaults) — clean_text is the REDACTED text;
       dedup hashes the redacted form, so two docs differing only in the
       PII they leak dedup together.
    4. Exact dedup on md5(clean_text): keep the min-id owner per hash.
    5. deterministic_split on the surviving ids (sampling.py) — assignment
       is a pure function of (id, seed), so a doc's split never changes as
       the corpus around it grows.
    """
    scored = text.quality_score(text.lang_id(docs, text_col), text_col)
    gated = scored.filter(F.round(F.col("quality"), 6) >= F.lit(float(quality_min)))
    red = pii_ops.pii_redact(gated, text_col, "clean_text")
    hashed = red.withColumn("_h", F.md5(F.col("clean_text")))
    # min-id owner per digest as ONE window over the digest shuffle. The
    # former groupBy + self-join re-executed the whole upstream pipeline
    # (lang_id + quality + PII regexes, the dominant per-row cost) for
    # both join sides and paid a second join shuffle; the window form
    # shuffles the digests once and scans the expression pipeline once.
    # Identical result: min(id) per _h group, keep the owner row.
    w_owner = Window.partitionBy("_h")
    kept = (
        hashed.withColumn("_owner", F.min(id_col).over(w_owner))
        .filter(F.col(id_col) == F.col("_owner"))
        .drop("_h", "_owner")
    )
    out = sampling.deterministic_split(kept, id_col, splits, seed=seed)
    return out.select(
        id_col,
        "pred_lang",
        "n_tokens",
        F.round("quality", 6).alias("quality"),
        "split",
        "clean_text",
    )


def build_corpus_mixed(
    docs: DataFrame,
    targets,
    id_col: str = "doc_id",
    text_col: str = "text",
    quality_min: float = 0.6,
    splits: Sequence[tuple[str, float]] = (("train", 0.75), ("val", 0.125), ("test", 0.125)),
    seed: int = 42,
    mix_seed: int = 7,
    strict: bool = False,
) -> DataFrame:
    """The full daily-crawl recipe: build_corpus (lang -> quality -> PII ->
    dedup -> split) then mix_to_targets on the predicted language, so the
    SURVIVING corpus follows the requested domain recipe. Composing after
    dedup is deliberate: mixing before dedup would let duplicate-heavy
    strata hit their target with copies.

    ``mix_seed`` must differ from the split ``seed``: both decisions are
    hash_uniform(id, seed) cuts, so sharing a seed would correlate the mix
    filter (u < rate) with the split thresholds (u < 0.75 => train) and
    skew kept rows toward 'train'. Distinct seeds make the two draws
    independent md5 streams.

    Plan cost on top of build_corpus: one |strata|-row partial-agg count +
    a broadcast of the rates — the corpus never reshuffles (mix_to_targets
    contract, sampling.py). mix_to_targets consumes the corpus in TWO plan
    branches (the stratum-count aggregate and the fact pass), so the built
    corpus is persisted here — without it the whole lang->quality->PII->
    dedup pipeline executes twice, doubling the dominant cost. At cluster
    scale the same persist (MEMORY_AND_DESERIALIZED spills to disk) is the standard
    stand-in for checkpointing the cleaned corpus to storage before the
    mix pass — either way, one corpus computation, not two.
    """
    corpus = caching.persist(build_corpus(
        docs, id_col, text_col, quality_min=quality_min, splits=splits, seed=seed
    ))
    return sampling.mix_to_targets(
        corpus,
        id_col,
        "pred_lang",
        targets,
        seed=mix_seed,
        u_col="u",
        rate_col="rate",
        strict=strict,
    )


def corpus_audit(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    quality_min: float = 0.6,
) -> DataFrame:
    """Audit companion to build_corpus: one row per INPUT doc with its
    disposition — ``'kept'``, ``'low_quality'`` (failed the round-6 gate),
    or ``'duplicate'`` (passed the gate but a lower-id doc owns its
    redacted-content hash). Same stage semantics as build_corpus, so
    audit statuses and the built corpus reconcile exactly:
    kept ids == build_corpus output ids.

    This is the drop-reason ledger every production corpus build ships
    alongside the corpus (data-governance: why did doc X disappear?).
    Costs the same single digest-keyed shuffle as build_corpus — the
    low_quality rows never enter the ownership aggregate.
    """
    scored = text.quality_score(docs, text_col)
    # NULL quality (empty/whitespace-only text: the 0-token ratios divide to
    # null) must FAIL the gate, not three-valued-logic its way past both
    # when() branches into 'duplicate' — coalesce pins the ledger to
    # 'low_quality', matching build_corpus's filter (null predicate = drop).
    gate = F.coalesce(
        F.round(F.col("quality"), 6) >= F.lit(float(quality_min)), F.lit(False)
    )
    red = pii_ops.pii_redact(scored, text_col, "_clean")
    hashed = red.withColumn("_h", F.md5(F.col("_clean"))).withColumn("_pass", gate)
    # ownership as one window over the digest shuffle (the build_corpus
    # rewrite): min(id) over gate-passing rows per digest; gated-out rows
    # contribute null to the conditional min, reproducing the left-join
    # miss. One scan of the expression pipeline instead of two, one
    # exchange instead of agg + join.
    w_owner = Window.partitionBy("_h")
    out = (
        hashed.withColumn(
            "_owner",
            F.min(F.when(F.col("_pass"), F.col(id_col))).over(w_owner),
        )
        .select(
            id_col,
            F.round("quality", 6).alias("quality"),
            F.when(~F.col("_pass"), F.lit("low_quality"))
            .when(F.col(id_col) == F.col("_owner"), F.lit("kept"))
            .otherwise(F.lit("duplicate"))
            .alias("status"),
        )
    )
    return out


def build_corpus_incremental(
    new_docs: DataFrame,
    corpus_manifest: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    manifest_hash_col: str = "content_hash",
    quality_min: float = 0.6,
    splits: Sequence[tuple[str, float]] = (("train", 0.75), ("val", 0.125), ("test", 0.125)),
    seed: int = 42,
) -> DataFrame:
    """The day-2 production path: run the full build_corpus pipeline
    (lang -> quality -> PII -> within-batch dedup -> split) on a NEW crawl
    batch only, then drop every surviving doc whose redacted-content
    digest already exists in the standing corpus. The result unions with
    the existing corpus to form the day-2 corpus; split assignment is a
    pure function of (id, seed), so it is consistent with what
    build_corpus would have assigned in a full rebuild.

    ``corpus_manifest`` is a digest frame (one ``manifest_hash_col``
    md5-of-clean_text per existing doc; duplicates fine — it is reduced to
    DISTINCT digests here). Keeping the manifest as its own small table is
    the contract that makes daily ingest cheap: the standing corpus TEXT
    is never rescanned or joined (same discipline as
    dedup.incremental_exact), only 16-byte digests move.

    Scale shape: build_corpus's one scan pass + one digest shuffle over
    the BATCH, plus one anti-join against the distinct manifest digests
    (broadcast when the manifest is small, hash otherwise — Catalyst/AQE
    picks; either way batch-sized, not corpus-sized)."""
    built = build_corpus(
        new_docs, id_col, text_col, quality_min=quality_min, splits=splits, seed=seed
    )
    manifest = corpus_manifest.select(
        F.col(manifest_hash_col).alias("_mh")
    ).distinct()
    return built.join(
        manifest, F.md5(F.col("clean_text")) == F.col("_mh"), "left_anti"
    )


def corpus_audit_incremental(
    new_docs: DataFrame,
    corpus_manifest: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    manifest_hash_col: str = "content_hash",
    quality_min: float = 0.6,
) -> DataFrame:
    """Drop-reason ledger for a day-2 ingest (the governance companion to
    build_corpus_incremental): one row per INPUT batch doc with its
    disposition — ``'kept'``, ``'low_quality'``, ``'duplicate'`` (a
    lower-id BATCH doc owns its digest), or ``'dup_corpus'`` (its digest
    already exists in the standing corpus). Statuses reconcile exactly
    with build_corpus_incremental: kept ids == its output ids.

    Precedence mirrors the build: the quality gate runs first, in-batch
    ownership next, the corpus manifest last — so a batch doc that is both
    an in-batch duplicate AND a corpus duplicate reports ``'duplicate'``
    (its in-batch owner reports ``'dup_corpus'``). Scale shape: the same
    single digest shuffle as corpus_audit plus one broadcast/hash join of
    the distinct manifest digests."""
    audit = corpus_audit(new_docs, id_col, text_col, quality_min)
    red = pii_ops.pii_redact(
        text.quality_score(new_docs, text_col), text_col, "_clean"
    )
    digests = red.select(F.col(id_col), F.md5(F.col("_clean")).alias("_bh"))
    manifest = corpus_manifest.select(
        F.col(manifest_hash_col).alias("_mh")
    ).distinct()
    in_corpus = digests.join(
        manifest, F.col("_bh") == F.col("_mh"), "left_semi"
    ).select(F.col(id_col), F.lit(True).alias("_in_corpus"))
    return (
        audit.join(in_corpus, id_col, "left")
        .select(
            id_col,
            "quality",
            F.when(
                (F.col("status") == "kept") & F.col("_in_corpus"),
                F.lit("dup_corpus"),
            )
            .otherwise(F.col("status"))
            .alias("status"),
        )
    )


def snapshot_diff(
    old_df: DataFrame,
    new_df: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Digest-level diff of two corpus snapshots — the release-to-release
    changelog of a maintained training corpus: one row per distinct
    content digest present in either snapshot, with its per-side doc
    counts and a status (``'added'`` — only in the new snapshot,
    ``'removed'`` — only in the old, ``'common'`` — in both). NULL-text
    docs have no digest and are excluded (their lifecycle belongs to the
    ingest ledger, incremental_exact's null_text status).

    Scale shape: each side reduces to its distinct digests with one
    partial-aggregated groupBy (in production these are the two corpus
    manifests, read directly — text never rescanned), then one full outer
    equi-join on the digest. Never touches text twice, never collects."""
    def digests(df: DataFrame, out: str) -> DataFrame:
        return (
            df.filter(F.col(text_col).isNotNull())
            .select(F.md5(F.col(text_col)).alias("content_hash"))
            .groupBy("content_hash")
            .agg(F.count("*").alias(out))
        )

    old = digests(old_df, "n_old")
    new = digests(new_df, "n_new")
    return (
        old.join(new, "content_hash", "full_outer")
        .select(
            "content_hash",
            F.when(F.col("n_old").isNull(), F.lit("added"))
            .when(F.col("n_new").isNull(), F.lit("removed"))
            .otherwise(F.lit("common"))
            .alias("status"),
            F.coalesce("n_old", F.lit(0)).alias("n_old"),
            F.coalesce("n_new", F.lit(0)).alias("n_new"),
        )
    )
