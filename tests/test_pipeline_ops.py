"""PII scrub (operators/pii.py), chunk-level dedup (dedup.chunk_dedup), and
mixture-to-target-weights resampling (sampling.mix_to_targets)."""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from beymani_spark.operators import dedup, pii, sampling


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    from beymani_spark.sources import load_table

    return load_table(spark, sf_dir, "documents")


# --- PII ---------------------------------------------------------------------


def _pii_df(spark):
    rows = [
        (1, "reach me at jane.doe+x@corp.example.org thanks"),
        (2, "server 192.168.0.12 rebooted, ssn 123-45-6789 on file"),
        (3, "call 555-867-5309 or +1 555.867.5309 today"),
        (4, "nothing sensitive here at all"),
        (5, "two mails: a@b.io and c_d%e@f-g.co end"),
    ]
    return spark.createDataFrame(rows, ["id", "text"])


def test_pii_counts_hand_computed(spark):
    out = {
        r["id"]: r
        for r in pii.pii_counts(_pii_df(spark), "text").collect()
    }
    assert out[1]["n_email"] == 1 and out[1]["pii_total"] == 1
    assert out[2]["n_ipv4"] == 1 and out[2]["n_ssn"] == 1 and out[2]["pii_total"] == 2
    # "+1 555.867.5309": the +1 prefix is not 3 digits, but 555.867.5309 is
    assert out[3]["n_phone"] == 2
    assert out[4]["pii_total"] == 0
    assert out[5]["n_email"] == 2


def test_pii_redact_and_filter(spark):
    red = {
        r["id"]: r["redacted"]
        for r in pii.pii_redact(_pii_df(spark), "text").collect()
    }
    assert red[1] == "reach me at <EMAIL> thanks"
    assert red[2] == "server <IP> rebooted, ssn <SSN> on file"
    assert "555" not in red[3] and "<PHONE>" in red[3]
    assert red[4] == "nothing sensitive here at all"
    kept = pii.pii_filter(_pii_df(spark), "text").select("id").collect()
    assert [r["id"] for r in kept] == [4]


def test_pii_ssn_not_matched_as_phone(spark):
    df = spark.createDataFrame([(1, "id 123-45-6789 only")], ["id", "text"])
    row = pii.pii_counts(df, "text").first()
    assert row["n_ssn"] == 1 and row["n_phone"] == 0


# --- chunk dedup -------------------------------------------------------------


def test_chunk_dedup_drops_cross_doc_repeats(spark):
    span = " ".join(f"w{i}" for i in range(10))  # one exact 10-token chunk
    rows = [
        (1, span + " tail1 tail2"),
        (2, span + " other suffix words here"),  # repeats doc 1's chunk
        (3, "totally different words " + " ".join(f"x{i}" for i in range(6))),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in dedup.chunk_dedup(df, "doc_id", "text").collect()}
    # doc 1 owns the span (first occurrence) and keeps both chunks
    assert out[1]["n_chunks"] == 2 and out[1]["n_kept"] == 2
    assert out[1]["clean_text"] == span + " tail1 tail2"
    # doc 2 loses the repeated span but keeps its own suffix chunk
    assert out[2]["n_chunks"] == 2 and out[2]["n_kept"] == 1
    assert out[2]["clean_text"] == "other suffix words here"
    assert out[3]["n_kept"] == out[3]["n_chunks"]


def test_chunk_dedup_first_occurrence_is_doc_then_position(spark):
    # same chunk twice INSIDE doc 1: position 0 owns it, position 1 drops
    span = " ".join(f"r{i}" for i in range(10))
    df = spark.createDataFrame([(1, span + " " + span)], ["doc_id", "text"])
    row = dedup.chunk_dedup(df, "doc_id", "text").first()
    assert row["n_chunks"] == 2 and row["n_kept"] == 1
    assert row["clean_text"] == span


def test_chunk_dedup_reassembly_preserves_order(spark, docs):
    sub = docs.limit(20)
    out = dedup.chunk_dedup(sub, "doc_id", "text", chunk_tokens=10)
    joined = out.join(sub, "doc_id")
    # clean text of a fully-kept doc equals its whitespace-normalized text
    full = joined.filter(F.col("n_kept") == F.col("n_chunks")).select(
        "text", "clean_text"
    )
    for r in full.collect():
        assert r["clean_text"] == " ".join(r["text"].split())


# --- mixture-to-targets ------------------------------------------------------


def test_mix_to_targets_composition_and_binding_stratum(spark, docs):
    targets = {"en": 0.4, "es": 0.3, "de": 0.2, "fr": 0.1}
    out = sampling.mix_to_targets(
        docs, "doc_id", "lang", targets, seed=42, rate_col="rate"
    )
    tot = {r["lang"]: r["cnt"] for r in docs.groupBy("lang").agg(F.count("*").alias("cnt")).collect()}
    got = {r["lang"]: r["cnt"] for r in out.groupBy("lang").agg(F.count("*").alias("cnt")).collect()}
    # recipe-absent stratum dropped entirely
    assert "zh" not in got
    # the binding stratum (max n/w deficit -> rate 1.0) keeps every row
    t_bound = min(tot[s] / w for s, w in targets.items())
    binding = min(targets, key=lambda s: tot[s] / targets[s])
    assert got[binding] == tot[binding]
    # every kept stratum tracks its target count within binomial noise
    for s, w in targets.items():
        exp = w * t_bound
        assert abs(got.get(s, 0) - exp) <= 4 * (exp**0.5) + 1, (s, got.get(s), exp)
    # rates never exceed 1 and are per-stratum constant
    nrates = out.select("lang", "rate").distinct()
    assert nrates.count() == len(got)
    assert nrates.agg(F.max("rate")).first()[0] <= 1.0 + 1e-12


def test_mix_to_targets_partition_invariance(spark, docs):
    targets = {"en": 0.5, "es": 0.5}
    a = sampling.mix_to_targets(docs, "doc_id", "lang", targets, seed=7)
    b = sampling.mix_to_targets(
        docs.repartition(13), "doc_id", "lang", targets, seed=7
    )
    assert a.select("doc_id").exceptAll(b.select("doc_id")).count() == 0
    assert a.count() == b.count()


# --- incremental dedup -------------------------------------------------------


def test_incremental_exact_statuses(spark):
    corpus = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta")], ["doc_id", "text"]
    )
    batch = spark.createDataFrame(
        [
            (10, "alpha beta"),      # dup_corpus
            (11, "epsilon zeta"),    # new
            (12, "epsilon zeta"),    # dup_batch (11 is batch-first)
            (13, "eta theta"),       # new
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r["status"]
        for r in dedup.incremental_exact(batch, corpus, "doc_id").collect()
    }
    assert out == {10: "dup_corpus", 11: "new", 12: "dup_batch", 13: "new"}


def test_incremental_exact_corpus_dup_beats_batch_first(spark):
    # content in BOTH corpus and batch twice: every batch copy is
    # dup_corpus, none is promoted to 'new'
    corpus = spark.createDataFrame([(1, "x y")], ["doc_id", "text"])
    batch = spark.createDataFrame([(10, "x y"), (11, "x y")], ["doc_id", "text"])
    out = dedup.incremental_exact(batch, corpus, "doc_id")
    assert {r["status"] for r in out.collect()} == {"dup_corpus"}


_LONG = (
    "the quick brown fox jumps over the lazy dog while seven wizards "
    "brew strong potions under a pale winter moon near the old stone bridge"
)


def test_incremental_minhash_statuses(spark):
    corpus = spark.createDataFrame(
        [(2, _LONG), (4, "totally unrelated corpus record about shipping manifests")],
        ["doc_id", "text"],
    )
    batch = spark.createDataFrame(
        [
            (11, _LONG),                      # exact copy of corpus -> neardup_corpus
            (13, _LONG + " tonight"),         # near copy of corpus -> neardup_corpus
            (15, "completely fresh content with nothing shared anywhere else"
                 " in this tiny fixture corpus of documents"),   # new
            (17, "completely fresh content with nothing shared anywhere else"
                 " in this tiny fixture corpus of documents"),   # dup of 15 -> neardup_batch
            (19, "too short"),                # <3 tokens: no shingles -> new
        ],
        ["doc_id", "text"],
    )
    rows = {
        r["doc_id"]: (r["status"], r["best_jaccard"])
        for r in dedup.incremental_minhash(batch, corpus, "doc_id").collect()
    }
    assert rows[11] == ("neardup_corpus", 1.0)
    assert rows[13][0] == "neardup_corpus" and 0.5 <= rows[13][1] < 1.0
    assert rows[15] == ("new", 0.0)
    assert rows[17] == ("neardup_batch", 1.0)
    assert rows[19] == ("new", 0.0)


def test_incremental_minhash_corpus_beats_batch(spark):
    # a batch doc near-dup of BOTH a corpus doc and a smaller-id batch doc
    # takes the corpus status (precedence mirrors incremental_exact)
    corpus = spark.createDataFrame([(2, _LONG)], ["doc_id", "text"])
    batch = spark.createDataFrame(
        [(11, _LONG), (13, _LONG)], ["doc_id", "text"]
    )
    out = {
        r["doc_id"]: r["status"]
        for r in dedup.incremental_minhash(batch, corpus, "doc_id").collect()
    }
    assert out == {11: "neardup_corpus", 13: "neardup_corpus"}


def test_incremental_minhash_ledger_complete(spark, docs):
    # every batch doc appears exactly once regardless of status
    corpus = docs.filter("doc_id % 2 = 0")
    batch = docs.filter("doc_id % 2 = 1")
    out = dedup.incremental_minhash(batch, corpus, "doc_id")
    assert out.count() == batch.count()
    assert out.select("doc_id").distinct().count() == batch.count()


# --- corpus build ------------------------------------------------------------


def test_build_corpus_stages(spark, docs):
    from beymani_spark.operators import pipeline

    out = pipeline.build_corpus(docs, quality_min=0.6, seed=42)
    rows = out.collect()
    ids = {r["doc_id"] for r in rows}
    assert len(ids) == len(rows)  # dedup: one row per surviving doc
    # every surviving doc passes the quality gate
    assert all(r["quality"] >= 0.6 for r in rows)
    # gate is real on this fixture: some docs dropped, most survive
    n_docs = docs.count()
    assert 0 < len(rows) < n_docs
    # split labels are the configured three and assignment is deterministic
    assert {r["split"] for r in rows} <= {"train", "val", "test"}
    again = pipeline.build_corpus(docs.repartition(7), quality_min=0.6, seed=42)
    assert out.exceptAll(again).count() == 0 and again.count() == len(rows)
    # exact-dup groups keep exactly their min-id member
    from beymani_spark.operators import dedup as dd

    groups = dd.exact_duplicates(docs, "doc_id").filter("dup_count > 1")
    for g in groups.groupBy("content_hash").agg(
        F.min("doc_id").alias("lo"), F.collect_list("doc_id").alias("all_ids")
    ).collect():
        survivors = [i for i in g["all_ids"] if i in ids]
        # either the whole group failed quality, or only one survivor
        assert len(survivors) <= 1


# --- invariants across the new family ---------------------------------------


def test_chunk_dedup_kept_equals_distinct_chunks(spark, docs):
    """Conservation law: summed n_kept over the corpus == number of DISTINCT
    chunks (each distinct chunk survives exactly once, at its first
    occurrence)."""
    sub = docs.limit(100)
    out = dedup.chunk_dedup(sub, "doc_id", "text", chunk_tokens=10)
    kept_total = out.agg(F.sum("n_kept")).first()[0]
    from beymani_spark.operators.text import tokens

    k = 10
    distinct_chunks = (
        sub.select(tokens(F.col("text")).alias("_t"))
        .filter(F.size("_t") > 0)
        .select(
            F.explode(
                F.transform(
                    F.sequence(
                        F.lit(0), F.ceil(F.size("_t") / k).cast("int") - 1
                    ),
                    lambda i: F.array_join(F.slice(F.col("_t"), i * k + 1, k), " "),
                )
            ).alias("c")
        )
        .distinct()
        .count()
    )
    assert kept_total == distinct_chunks


def test_pii_redact_idempotent(spark):
    """Redacting already-redacted text is a no-op: the replacement tokens
    contain nothing any default pattern can match."""
    df = _pii_df(spark)
    once = pii.pii_redact(df, "text", "r1")
    twice = pii.pii_redact(once, "r1", "r2")
    assert twice.filter(F.col("r1") != F.col("r2")).count() == 0


def test_mix_to_targets_is_subset_and_nested_in_stratified_full(spark, docs):
    """mix_to_targets output is exactly stratified_sample with its derived
    rates: validate the subset property and that raising every target
    weight proportionally changes nothing (scale invariance of shares)."""
    t1 = {"en": 0.4, "es": 0.6}
    t2 = {"en": 0.8, "es": 1.2}  # same shares, scaled x2
    a = sampling.mix_to_targets(docs, "doc_id", "lang", t1, seed=11)
    b = sampling.mix_to_targets(docs, "doc_id", "lang", t2, seed=11)
    assert a.select("doc_id").exceptAll(b.select("doc_id")).count() == 0
    assert a.count() == b.count()
    # subset of the source rows
    assert a.select("doc_id").join(docs, "doc_id", "left_anti").count() == 0


def test_corpus_audit_reconciles_with_build(spark, docs):
    from beymani_spark.operators import pipeline

    audit = pipeline.corpus_audit(docs, quality_min=0.6)
    built = pipeline.build_corpus(docs, quality_min=0.6, seed=42)
    # one audit row per input doc
    assert audit.count() == docs.count()
    kept = {r["doc_id"] for r in audit.filter("status = 'kept'").collect()}
    assert kept == {r["doc_id"] for r in built.select("doc_id").collect()}
    # duplicates point at content some kept doc owns; low_quality below gate
    assert audit.filter("status = 'low_quality' and quality >= 0.6").count() == 0
    assert audit.filter("status = 'duplicate' and quality < 0.6").count() == 0


# --- degenerate / adversarial inputs ----------------------------------------


def test_r3_operators_handle_empty_input(spark):
    from beymani_spark.operators import pipeline

    docs = spark.createDataFrame([], "doc_id long, text string, lang string")
    assert pii.pii_counts(docs, "text").count() == 0
    assert pii.pii_redact(docs, "text").count() == 0
    assert pii.pii_filter(docs, "text").count() == 0
    assert dedup.chunk_dedup(docs, "doc_id", "text").count() == 0
    assert dedup.incremental_exact(docs, docs, "doc_id").count() == 0
    assert sampling.mix_to_targets(docs, "doc_id", "lang", {"en": 1.0}).count() == 0
    assert pipeline.build_corpus(docs).count() == 0
    assert pipeline.corpus_audit(docs).count() == 0


def test_chunk_dedup_adversarial_text(spark):
    """Whitespace runs, unicode, short docs, empty/whitespace-only docs."""
    rows = [
        (1, "a\t\tb\nc   d " + " ".join(f"t{i}" for i in range(9))),
        (2, "短 文 本 测 试"),
        (3, "solo"),
        (4, ""),
        (5, "    "),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in dedup.chunk_dedup(df, "doc_id", "text").collect()}
    # empty / whitespace-only docs have no tokens -> no output row
    assert set(out) == {1, 2, 3}
    # doc 1: 13 tokens -> 2 chunks; tokenization collapses whitespace runs
    assert out[1]["n_chunks"] == 2
    assert out[1]["clean_text"].startswith("a b c d t0")
    assert out[2]["n_kept"] == 1 and out[3]["n_kept"] == 1


def test_mix_to_targets_degenerate_targets(spark, docs):
    # single-stratum recipe: that stratum keeps everything, others drop
    out = sampling.mix_to_targets(docs, "doc_id", "lang", {"en": 1.0}, seed=3)
    tot_en = docs.filter("lang = 'en'").count()
    assert out.count() == tot_en
    assert out.select("lang").distinct().collect()[0]["lang"] == "en"
    # zero-weight strata are dropped, not divided by
    out2 = sampling.mix_to_targets(
        docs, "doc_id", "lang", {"en": 1.0, "zh": 0.0}, seed=3
    )
    assert out2.count() == tot_en


def test_pii_planted_matches_always_redacted(spark):
    """Property: for letters-only word soup with K planted PII items, counts
    equal the plant and redaction leaves zero residual matches."""
    import random

    rng = random.Random(5)
    rows = []
    for i in range(50):
        words = ["".join(rng.choice("abcdefghij") for _ in range(5)) for _ in range(20)]
        n_email = rng.randint(0, 3)
        n_ip = rng.randint(0, 2)
        for k in range(n_email):
            words.insert(rng.randrange(len(words)), f"user{i}k{k}@host{k}.example.com")
        for k in range(n_ip):
            words.insert(rng.randrange(len(words)), f"10.{i % 200}.{k}.7")
        rows.append((i, " ".join(words), n_email, n_ip))
    df = spark.createDataFrame(rows, "id long, text string, want_email int, want_ip int")
    counted = pii.pii_counts(df, "text")
    bad = counted.filter(
        (F.col("n_email") != F.col("want_email")) | (F.col("n_ipv4") != F.col("want_ip"))
    ).count()
    assert bad == 0
    residual = pii.pii_counts(
        pii.pii_redact(counted, "text", "red"), "red", total_col="resid"
    )
    assert residual.filter(F.col("resid") > 0).count() == 0


# --- audio features ----------------------------------------------------------


def test_audio_features_hand_computed(spark):
    """Spark output equals a direct hashlib/numpy reference computation."""
    import hashlib

    import numpy as np

    payloads = [b"hello world", b"", b"\x00\x01\x02"]
    rows = [(i, bytearray(p)) for i, p in enumerate(payloads)]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    from beymani_spark.operators import multimodal

    got = {
        r["media_id"]: r
        for r in multimodal.audio_features(df, n_samples=1024).collect()
    }
    for i, p in enumerate(payloads):
        stream = b"".join(
            hashlib.sha256(p + str(j).encode()).digest() for j in range(32)
        )[:1024]
        x = np.frombuffer(stream, dtype=np.uint8).astype(np.int64) - 128
        rms = float(np.sqrt((x * x).sum() / 1024.0))
        neg = x < 0
        zc = int((neg[:-1] != neg[1:]).sum())
        r = got[i]
        assert r["n_bytes"] == len(p)
        assert abs(r["rms"] - rms) < 1e-12
        assert r["peak"] == int(np.abs(x).max())
        assert r["zero_cross"] == zc


def test_audio_features_real_codec_gated(spark):
    import pytest as _pytest

    from beymani_spark.operators import multimodal

    df = spark.createDataFrame([(1, bytearray(b"x"))], "media_id long, payload binary")
    with _pytest.raises(NotImplementedError, match="audio codec"):
        multimodal.audio_features(df, decode="real")


# --- r4 ledger/recipe edge cases (ADVICE round 3) ----------------------------


def test_incremental_exact_null_text_gets_explicit_status(spark):
    # md5(null) is null; a null key matches neither the corpus manifest nor
    # the batch-first aggregate — before r4 those rows silently vanished
    # from the ledger. Now every input batch doc appears exactly once.
    corpus = spark.createDataFrame([(1, "alpha beta")], ["doc_id", "text"])
    batch = spark.createDataFrame(
        [(10, "alpha beta"), (11, None), (12, "new thing"), (13, None)],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["status"]
        for r in dedup.incremental_exact(batch, corpus, "doc_id").collect()
    }
    assert out == {
        10: "dup_corpus",
        11: "null_text",
        12: "new",
        13: "null_text",
    }


def test_corpus_audit_null_quality_is_low_quality(spark):
    # Empty/whitespace-only text: 0-token ratio divisions make quality NULL.
    # The gate must coalesce to False so the ledger says 'low_quality', not
    # fall through three-valued logic into 'duplicate'.
    from beymani_spark.operators import pipeline

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog repeatedly "
                "and with great enthusiasm for all to see in the field"),
            (2, "   "),
            (3, ""),
        ],
        ["doc_id", "text"],
    )
    audit = {
        r["doc_id"]: r["status"]
        for r in pipeline.corpus_audit(df, quality_min=0.0).collect()
    }
    assert audit[2] == "low_quality"
    assert audit[3] == "low_quality"
    assert audit[1] == "kept"
    # and the audit still reconciles with the built corpus
    built = {r["doc_id"] for r in pipeline.build_corpus(df, quality_min=0.0).collect()}
    assert built == {k for k, v in audit.items() if v == "kept"}


def test_mix_to_targets_strict_raises_on_absent_stratum(spark, docs):
    targets = {"en": 0.5, "xx": 0.3, "yy": 0.2}  # xx/yy have zero rows
    with pytest.raises(ValueError, match=r"\['xx', 'yy'\]"):
        sampling.mix_to_targets(
            docs, "doc_id", "lang", targets, strict=True
        ).count()
    # non-strict: documented observed-strata-only semantics — 'en' is the
    # only observed target stratum, so it binds and keeps everything
    out = sampling.mix_to_targets(docs, "doc_id", "lang", targets, strict=False)
    n_en = docs.filter(F.col("lang") == "en").count()
    assert out.count() == n_en
    # strict=True with all strata present behaves identically to strict=False
    ok = {"en": 0.4, "es": 0.3, "de": 0.2, "fr": 0.1}
    a = sampling.mix_to_targets(docs, "doc_id", "lang", ok, strict=True).count()
    b = sampling.mix_to_targets(docs, "doc_id", "lang", ok, strict=False).count()
    assert a == b


def test_build_corpus_mixed_composition(spark, docs):
    from beymani_spark.operators import pipeline

    targets = {"en": 0.4, "es": 0.3, "de": 0.2, "fr": 0.1}
    corpus = pipeline.build_corpus(docs, quality_min=0.6, seed=42)
    mixed = pipeline.build_corpus_mixed(docs, targets, quality_min=0.6, seed=42)
    rows = mixed.collect()
    # survivors of the mix are a subset of the built corpus
    corpus_ids = {r["doc_id"] for r in corpus.collect()}
    assert {r["doc_id"] for r in rows} <= corpus_ids
    # kept composition approximates the recipe: the binding stratum keeps
    # everything, every stratum's kept count ~= w_s * T (hash-uniform noise)
    import collections

    by_lang = collections.Counter(r["pred_lang"] for r in rows)
    total = sum(by_lang.values())
    # observed-strata-only semantics: renormalize the recipe over strata
    # that actually have rows (at sf0.001 lang_id classifies everything
    # 'en', so the renormalized recipe is degenerate {en: 1.0})
    w_obs = sum(w for lang, w in targets.items() if by_lang.get(lang))
    for lang, w in targets.items():
        if by_lang.get(lang):
            assert abs(by_lang[lang] / total - w / w_obs) < 0.08, (lang, by_lang)
    # split assignment is NOT skewed by the mix filter (distinct seeds):
    # train share stays near 0.75 among kept rows
    splits = collections.Counter(r["split"] for r in rows)
    assert abs(splits["train"] / total - 0.75) < 0.1, splits


def test_daily_training_prep_end_to_end(spark, docs):
    """The whole training-prep story composed: corpus build + domain mix ->
    context-window chunking -> packing manifest. Asserts the invariants a
    trainer depends on at the seams: chunk inputs are exactly the mixed
    corpus's clean_text, every chunk doc appears in the manifest, and the
    packed stream is gap-free over the chunked corpus."""
    from beymani_spark.functions import caching
    from beymani_spark.operators import packing, pipeline

    targets = {"en": 0.4, "es": 0.3, "de": 0.2, "fr": 0.1}
    with caching.scope():
        corpus = pipeline.build_corpus_mixed(docs, targets, quality_min=0.6, seed=42)
        kept = corpus.select("doc_id", F.col("clean_text").alias("text"))
        chunks = packing.chunk_for_training(
            kept, "doc_id", max_tokens=32, stride=24
        )
        manifest = packing.pack_sequences(kept, "doc_id", seq_tokens=256)

        kept_rows = {r.doc_id: r.text for r in kept.collect()}
        chunk_rows = chunks.collect()
        man_rows = sorted(manifest.collect(), key=lambda r: r.doc_id)
        assert kept_rows and chunk_rows and man_rows

        # every chunked doc is a surviving corpus doc and chunk 0 prefixes
        # its clean text
        for r in chunk_rows:
            assert r.doc_id in kept_rows
            if r.chunk_id == 0:
                assert kept_rows[r.doc_id].startswith(r.chunk_text.split(" ")[0])
        # manifest covers exactly the surviving docs, offsets gap-free
        assert {r.doc_id for r in man_rows} == set(kept_rows)
        pos = 0
        for r in man_rows:
            assert r.start_offset == pos
            pos += r.n_tokens + 1
        # token accounting agrees between the two consumers of the corpus
        # (single-window docs: the chunk carries every token the manifest
        # counted; multi-window docs overlap by stride, so only the n <= m
        # case is exactly comparable)
        n_by_doc = {r.doc_id: r.n_tokens for r in man_rows}
        one_window = {r.doc_id: r.chunk_tokens for r in chunk_rows
                      if r.chunk_id == 0}
        for d, n in n_by_doc.items():
            if n <= 32:
                assert one_window.get(d, 0) == n, (d, n)


def test_build_corpus_incremental_day2_semantics(spark, docs):
    """Day-2 ingest: batch survivors already in the standing corpus (by
    redacted digest) drop; genuinely new survivors keep the exact rows a
    full rebuild over batch-only docs would produce; union with the
    standing corpus is digest-disjoint."""
    from beymani_spark.operators import pipeline

    corpus_docs = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    corpus = pipeline.build_corpus(corpus_docs, quality_min=0.6, seed=42)
    manifest = corpus.select(F.md5("clean_text").alias("content_hash"))
    incr = pipeline.build_corpus_incremental(batch, manifest, quality_min=0.6, seed=42)

    incr_rows = incr.collect()
    batch_alone = {r.doc_id: r for r in
                   pipeline.build_corpus(batch, quality_min=0.6, seed=42).collect()}
    corpus_hashes = {r.content_hash for r in manifest.distinct().collect()}
    import hashlib
    for r in incr_rows:
        # every emitted row is exactly the batch-only pipeline's row ...
        assert batch_alone[r.doc_id] == r
        # ... and its digest is absent from the standing corpus
        assert hashlib.md5(r.clean_text.encode()).hexdigest() not in corpus_hashes
    # the dropped batch survivors are precisely the manifest collisions
    dropped = set(batch_alone) - {r.doc_id for r in incr_rows}
    for d in dropped:
        h = hashlib.md5(batch_alone[d].clean_text.encode()).hexdigest()
        assert h in corpus_hashes, d


def test_corpus_audit_incremental_reconciles_with_build(spark, docs):
    """Day-2 ledger: kept ids == build_corpus_incremental output ids; every
    batch doc appears exactly once; statuses partition the batch."""
    from beymani_spark.operators import pipeline

    corpus_docs = docs.filter(F.col("doc_id") % 2 == 0)
    # plant corpus duplicates: re-crawled copies of standing-corpus docs
    # arriving in the new batch under fresh ids
    recrawled = corpus_docs.limit(5).withColumn(
        "doc_id", F.col("doc_id") + 1_000_001
    )
    batch = docs.filter(F.col("doc_id") % 2 == 1).unionByName(recrawled)
    manifest = pipeline.build_corpus(corpus_docs, quality_min=0.6, seed=42).select(
        F.md5("clean_text").alias("content_hash")
    )
    built = pipeline.build_corpus_incremental(batch, manifest, quality_min=0.6, seed=42)
    ledger = pipeline.corpus_audit_incremental(batch, manifest, quality_min=0.6)

    rows = ledger.collect()
    assert len(rows) == batch.count()  # every input doc gets a row
    by_status = {}
    for r in rows:
        by_status.setdefault(r.status, set()).add(r.doc_id)
    assert set(by_status) <= {"kept", "low_quality", "duplicate", "dup_corpus"}
    assert by_status.get("kept", set()) == {r.doc_id for r in built.collect()}
    # dup_corpus docs pass quality and own their in-batch digest, but that
    # digest exists in the manifest
    assert by_status.get("dup_corpus"), "fixture should produce corpus dups"


def test_remove_common_chunks_drops_all_copies_keeps_within_doc_repeats(spark):
    """Boilerplate semantics vs chunk_dedup: a chunk shared by two DOCS
    disappears from BOTH (no canonical copy survives), while a chunk
    repeated only WITHIN one doc survives every occurrence (distinct-doc
    frequency, not occurrence frequency)."""
    from beymani_spark.operators import dedup

    banner = " ".join(f"b{i}" for i in range(4))
    chorus = " ".join(f"c{i}" for i in range(4))
    df = spark.createDataFrame(
        [
            (1, f"{banner} {chorus} {chorus}"),      # banner + chorus x2
            (2, f"{banner} " + " ".join(f"u{i}" for i in range(4))),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in
           dedup.remove_common_chunks(df, "doc_id", "text", chunk_tokens=4).collect()}
    # doc 1: banner gone everywhere; BOTH chorus copies survive
    assert out[1].clean_text == f"{chorus} {chorus}"
    assert (out[1].n_chunks, out[1].n_kept) == (3, 2)
    # doc 2: banner gone, unique tail survives
    assert out[2].clean_text == " ".join(f"u{i}" for i in range(4))
    assert (out[2].n_chunks, out[2].n_kept) == (2, 1)
    # contrast: chunk_dedup KEEPS one canonical banner (doc 1, idx 0)
    kept_first = {r.doc_id: r for r in
                  dedup.chunk_dedup(df, "doc_id", "text", chunk_tokens=4).collect()}
    assert kept_first[1].clean_text.startswith(banner)
    # max_docs=2 relaxes the gate: everything survives
    loose = {r.doc_id: r for r in
             dedup.remove_common_chunks(df, "doc_id", "text", chunk_tokens=4, max_docs=2).collect()}
    assert loose[1].n_kept == 3 and loose[2].n_kept == 2


def test_remove_common_chunks_frequency_is_partial_aggregated(spark):
    """Plan shape: the distinct-doc frequency must partial-aggregate
    ((chunk, id) dedup map-side) and join on the hashed chunk keys — never
    a window over the raw chunk strings."""
    from beymani_spark.operators import dedup
    from beymani_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    out = dedup.remove_common_chunks(docs, "doc_id", "text")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "partial_count(distinct" in plan, plan
    assert "xxhash64" in plan, plan
    assert "windowspecdefinition(chunk" not in plan, plan


# --- snapshot diff / skew audit ---------------------------------------------


def test_snapshot_diff_statuses_hand_computed(spark):
    from beymani_spark.operators import pipeline

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "b"), (4, None)], ["doc_id", "text"]
    )
    new = spark.createDataFrame(
        [(10, "b"), (11, "c"), (12, None)], ["doc_id", "text"]
    )
    rows = {
        r["status"]: (r["n_old"], r["n_new"])
        for r in pipeline.snapshot_diff(old, new).collect()
    }
    # 'a' removed (1 old copy), 'b' common (2 old, 1 new), 'c' added;
    # NULL-text docs on both sides excluded entirely
    assert rows == {"removed": (1, 0), "common": (2, 1), "added": (0, 1)}


def test_key_skew_audit_hand_computed(spark):
    from beymani_spark.operators import profile

    df = spark.createDataFrame(
        [("hot",)] * 6 + [("warm",)] * 2 + [("cold",)] * 1, ["k"]
    )
    rows = profile.key_skew_audit(df, ["k"], k=2).collect()
    assert [r["k"] for r in rows] == ["hot", "warm"]
    top = rows[0]
    assert top["cnt"] == 6
    assert abs(top["share"] - 6 / 9) < 1e-12
    # skew = cnt * n_keys / total = 6 * 3 / 9 = 2.0
    assert abs(top["skew"] - 2.0) < 1e-12


def test_minhash_bands_must_divide_num_hashes(spark, docs):
    with pytest.raises(ValueError, match="evenly divide"):
        dedup.minhash_lsh_pairs(docs, "doc_id", num_hashes=16, bands=5).count()
    with pytest.raises(ValueError, match="evenly divide"):
        dedup.incremental_minhash(
            docs.filter("doc_id % 2 = 1"), docs.filter("doc_id % 2 = 0"),
            "doc_id", num_hashes=16, bands=3,
        ).count()


def test_cdc_chunk_dedup_resyncs_after_insertion(spark):
    """The CDC property fixed chunking cannot have: a single token inserted
    at the head of a duplicated span shifts every fixed-window chunk (zero
    dedup) but content-defined boundaries re-synchronize, so downstream
    chunks still dedup. Also: chunks partition each doc's tokens exactly."""
    from beymani_spark.operators.dedup import cdc_chunk_dedup, chunk_dedup

    span = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu "
        "nu xi omicron pi rho sigma tau upsilon"
    )
    df = spark.createDataFrame(
        [(1, span), (2, "INSERTED " + span)], ["doc_id", "text"]
    )
    cdc = {r.doc_id: r for r in cdc_chunk_dedup(df, "doc_id").collect()}
    fixed = {r.doc_id: r for r in chunk_dedup(df, "doc_id").collect()}
    # fixed chunking: the shift makes every doc-2 chunk novel
    assert fixed[2].n_kept == fixed[2].n_chunks
    # CDC: boundaries re-sync, most doc-2 chunks dedup against doc 1
    assert cdc[2].n_kept < cdc[2].n_chunks
    # doc 1 is first occurrence everywhere: reassembly is the identity
    assert cdc[1].clean_text == span and cdc[1].n_kept == cdc[1].n_chunks

    # chunks partition the tokens: per-doc chunk tokens re-concatenate to
    # the original text when nothing dedups (single-doc corpus)
    solo = spark.createDataFrame([(7, span)], ["doc_id", "text"])
    out = cdc_chunk_dedup(solo, "doc_id").collect()[0]
    assert out.clean_text == span

    # short docs (n <= window) never fabricate cuts: one whole-doc chunk
    tiny = spark.createDataFrame([(8, "a b"), (9, "a b c d")], ["doc_id", "text"])
    rows = {r.doc_id: r for r in cdc_chunk_dedup(tiny, "doc_id").collect()}
    assert rows[8].n_chunks == 1 and rows[8].clean_text == "a b"
    assert rows[9].n_chunks == 1 and rows[9].clean_text == "a b c d"


def test_pii_pseudonymize_referential_integrity(spark):
    """Equal PII values map to equal pseudonyms (joins/dedup survive);
    different values get different pseudonyms; a different seed relinks
    nothing; clean text passes through untouched."""
    from beymani_spark.operators import pii

    df = spark.createDataFrame(
        [
            (1, "mail a@x.com and again a@x.com plus b@y.org"),
            (2, "same person a@x.com elsewhere"),
            (3, "no pii here"),
        ],
        "id long, text string",
    )
    out = {r.id: r.pseudo for r in pii.pii_pseudonymize(df, "text").collect()}
    import re

    tags1 = re.findall(r"EMAIL_[0-9a-f]{8}", out[1])
    tags2 = re.findall(r"EMAIL_[0-9a-f]{8}", out[2])
    assert len(tags1) == 3 and len(set(tags1)) == 2  # a@x.com twice, b@y.org once
    assert tags1[0] == tags1[1] == tags2[0]          # same value, same pseudonym
    assert tags1[2] != tags1[0]
    assert "a@x.com" not in out[1] and "b@y.org" not in out[1]
    assert out[3] == "no pii here"
    out9 = {r.id: r.pseudo for r in pii.pii_pseudonymize(df, "text", seed=9).collect()}
    assert out9[1] != out[1]  # salt breaks cross-corpus linkage

    # single-pattern call must still pseudonymize (regression: the final
    # passthrough used to trigger whenever no intermediate column existed,
    # silently returning the RAW text for len(patterns)==1)
    one = {
        r.id: r.pseudo
        for r in pii.pii_pseudonymize(
            df, "text", patterns={"email": pii.DEFAULT_PATTERNS["email"]}
        ).collect()
    }
    assert "a@x.com" not in one[1] and re.findall(r"EMAIL_[0-9a-f]{8}", one[1])
    # zero patterns: pseudonym text is the raw text by definition
    zero = {r.id: r.pseudo for r in pii.pii_pseudonymize(df, "text", patterns={}).collect()}
    assert zero[1] == "mail a@x.com and again a@x.com plus b@y.org"


def test_gopher_quality_gates_edge_docs(spark):
    """Empty doc gates False everywhere (NULL metrics coalesce); a clean
    prose doc passes; bullet/duplicate-line/symbol docs fail exactly their
    gate."""
    from beymani_spark.operators import text as text_ops

    prose = "the quick brown fox jumps over a lazy dog and it runs far " * 4
    docs = spark.createDataFrame(
        [
            (0, ""),
            (1, prose),
            (2, "\n".join("- item the a of to" for _ in range(10))),
            (3, prose + "\nsame line\nsame line\nsame line\nsame line"),
            (4, "# " * 60 + "the a of to is it"),
        ],
        "id long, text string",
    )
    out = {
        r.id: r
        for r in text_ops.gopher_quality(docs, "text", min_words=20).collect()
    }
    assert out[0].gopher_pass is False and out[0].gate_words is False
    assert out[1].gopher_pass is True
    assert out[2].gate_bullets is False
    assert out[3].gate_dup_lines is False
    assert out[4].gate_symbols is False and out[4].gate_alpha is False


def test_domain_cap_deterministic_and_capped(spark):
    from beymani_spark.operators.sampling import domain_cap
    from beymani_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "source"
    )
    a = sorted(r.doc_id for r in domain_cap(docs, cap=7).collect())
    b = sorted(
        r.doc_id
        for r in domain_cap(docs.repartition(13), cap=7).collect()
    )
    assert a == b, "cap winners must not depend on partitioning"


def test_simhash_auto_width_and_wide_sketch_semantics(spark):
    """auto_simhash_bits holds band-bucket size as N grows (w tracks
    log2(N)); the wide multi-word sketch keeps the dedup invariants: exact
    duplicates sketch identically (hamming 0 at any width), near-identical
    docs land within the hamming budget, unrelated docs sit far outside
    it, and the pigeonhole banding finds every within-budget pair."""
    from beymani_spark.functions import caching
    from beymani_spark.operators import dedup

    # width formula: fixed floor at small N, log growth, 96-bit cap
    assert dedup.auto_simhash_bits(500, 3, 8) == 32       # w floor 8
    assert dedup.auto_simhash_bits(8_192, 3, 8) == 40     # w = 10
    assert dedup.auto_simhash_bits(1_000_000, 3, 8) == 68  # w = 17
    assert dedup.auto_simhash_bits(10**9, 3, 8) == 96     # capped

    base = (
        "the quick brown fox jumps over a lazy dog while seven wizards "
        "brew strong potions under moonlight near the ancient river"
    )
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base),                 # exact duplicate of 1
            (3, base + " extra"),      # near-dup: measured hamming 5 @63b
            (4, "completely different subject matter entirely: stock "
                "markets closed higher on quarterly earnings reports "
                "from technology companies worldwide"),  # hamming ~31
        ],
        "doc_id long, text string",
    )
    # max_hamming=8 -> 9 bands; bits=64 rounds down to 63 (7-bit bands)
    with caching.scope():
        pairs_df = dedup.simhash_dup_pairs(
            docs, "doc_id", max_hamming=8, bits=64
        )
        got = {(r.src, r.dst): r.hamming for r in pairs_df.collect()}
    assert got[(1, 2)] == 0, "exact duplicates must sketch identically"
    assert (1, 3) in got and 0 < got[(1, 3)] <= 8, "near-dup within budget"
    assert (1, 4) not in got and (2, 4) not in got, "unrelated docs excluded"

    # full recall vs a brute-force hamming over the same wide sketch
    sk = {
        r[0]: list(r[1])
        for r in dedup.simhash_bands(docs, "doc_id", bits=63, n_bands=9).collect()
    }
    def ham(a, b):
        return sum(bin(x ^ y).count("1") for x, y in zip(a, b))
    brute = {
        (i, j): ham(sk[i], sk[j])
        for i in sk for j in sk if i < j and ham(sk[i], sk[j]) <= 8
    }
    assert got == brute, "pigeonhole banding must have full recall"


def test_containment_pairs_quote_inclusion(spark):
    """containment_pairs scores a short doc wholly quoted inside a long
    one at containment 1.0 while Jaccard under-scores it — the policy
    split the operator exists for. Verified against a brute-force shingle
    replay."""
    from beymani_spark.operators import dedup

    base = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
        "kilo lima mike november oscar papa quebec romeo sierra tango"
    )
    rows = [
        (1, base),  # full document
        (2, " ".join(base.split()[:19])),  # strict 95% prefix (quoted subset)
        (3, base),  # exact copy of 1
        (4, "unrelated words entirely different from every other document here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        (r["src"], r["dst"]): r
        for r in dedup.containment_pairs(
            df, "doc_id", min_containment=0.8
        ).collect()
    }
    assert (1, 2) in out and out[(1, 2)]["containment"] == 1.0
    # brute-force jaccard of the prefix pair: 17 shared / 18 union
    assert abs(out[(1, 2)]["jaccard"] - 17 / 18) < 1e-9
    assert (1, 3) in out and out[(1, 3)]["containment"] == 1.0
    assert out[(1, 3)]["jaccard"] == 1.0  # exact copy: both metrics max
    assert not any(4 in pair for pair in out)


def test_quality_fuse_hand_computed(spark):
    """quality_fuse: z-standardized weighted combine; NULL signals
    renormalize weights; constant signals (std 0) drop out; weight-count
    mismatch raises."""
    import pytest

    from beymani_spark.operators.text import quality_fuse

    rows = [
        (1, 1.0, 10.0, 5.0),
        (2, 2.0, 20.0, 5.0),
        (3, 3.0, None, 5.0),
    ]
    df = spark.createDataFrame(rows, "id long, a double, b double, c double")
    out = {
        r["id"]: r["fused_score"]
        for r in quality_fuse(df, ["a", "b", "c"], weights=[2.0, 1.0, 1.0]).collect()
    }
    # a: mu=2, sd=1 -> z = -1, 0, 1 ; b: mu=15, sd~7.071068 -> z ~ -0.707107, 0.707107
    # c is constant (sd=0): excluded everywhere
    assert abs(out[1] - (2 * -1.0 + 1 * -0.707107) / 3.0) < 1e-6
    assert abs(out[2] - (2 * 0.0 + 1 * 0.707107) / 3.0) < 1e-6
    assert abs(out[3] - (2 * 1.0) / 2.0) < 1e-6  # b NULL: weight renormalizes

    with pytest.raises(ValueError, match="weights"):
        quality_fuse(df, ["a", "b"], weights=[1.0])
    with pytest.raises(ValueError, match="signal"):
        quality_fuse(df, [])


def test_lang_fertility_hand_computed(spark):
    """lang_fertility: byte/token fertility split per language — CJK text
    carries more bytes per whitespace token than English."""
    from beymani_spark.operators.text import lang_fertility

    rows = [
        (1, "en", "the cat sat"),          # 11 bytes, 3 tokens
        (2, "en", "a dog"),                # 5 bytes, 2 tokens
        (3, "zh", "的是在"),  # 9 bytes, 1 token
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = {r["lang"]: r for r in lang_fertility(df).collect()}
    en, zh = out["en"], out["zh"]
    assert (en["n_docs"], en["total_bytes"], en["total_tokens"]) == (2, 16, 5)
    assert abs(en["bytes_per_token"] - 3.2) < 1e-9
    assert (zh["total_bytes"], zh["total_tokens"]) == (9, 1)
    assert zh["bytes_per_token"] == 9.0
    assert zh["bytes_per_token"] > en["bytes_per_token"]


def test_compaction_plan_hand_computed(spark):
    """compaction_plan: files = ceil(bytes/target) floored at 1;
    rows_per_file = ceil(rows/files); custom bytes_col honored; no string
    columns without bytes_col raises."""
    import pytest

    from beymani_spark.operators.packing import compaction_plan
    from pyspark.sql import functions as F

    rows = [(i, "p1", "x" * 100) for i in range(10)] + [(99, "p2", "y")]
    df = spark.createDataFrame(rows, "id long, part string, payload string")
    out = {
        r["part"]: r
        for r in compaction_plan(
            df, ["part"], target_file_bytes=300
        ).collect()
    }
    p1 = out["p1"]  # 10 rows * (100 + 2) bytes = 1020 -> 4 files of 3 rows
    assert (p1["n_rows"], p1["est_bytes"], p1["n_files"]) == (10, 1020, 4)
    assert p1["rows_per_file"] == 3
    p2 = out["p2"]  # 3 bytes -> still 1 file
    assert (p2["n_files"], p2["rows_per_file"]) == (1, 1)

    custom = {
        r["part"]: r
        for r in compaction_plan(
            df, ["part"], bytes_col=F.lit(200), target_file_bytes=300
        ).collect()
    }
    assert custom["p1"]["est_bytes"] == 2000 and custom["p1"]["n_files"] == 7

    numeric_only = spark.createDataFrame([(1, 2), (3, 2)], "id long, grp long")
    with pytest.raises(ValueError, match="bytes_col"):
        compaction_plan(numeric_only, ["grp"])

    # NULL strings estimate as 0 bytes, never NULL-poison the partition sum
    with_null = spark.createDataFrame(
        [(1, "p", None), (2, "p", "abcd")], "id long, part string, payload string"
    )
    row = compaction_plan(with_null, ["part"], target_file_bytes=300).first()
    assert row["est_bytes"] == 1 + 1 + 4 and row["n_files"] == 1


def test_quality_fuse_by_strata(spark):
    """by-strata fusion standardizes within each stratum: identical raw
    values score differently when their strata differ; a row whose
    stratum was never fitted scores NULL."""
    from beymani_spark.operators.text import fuse_apply, fuse_stats, quality_fuse

    rows = [
        (1, "en", 1.0),
        (2, "en", 3.0),
        (3, "de", 1.0),
        (4, "de", 101.0),
    ]
    df = spark.createDataFrame(rows, "id long, lang string, a double")
    out = {
        r["id"]: r["fused_score"]
        for r in quality_fuse(df, ["a"], by=["lang"]).collect()
    }
    # en: mu=2 sd~1.414214 -> z(1.0) ~ -0.707107; de: mu=51 sd~70.710678
    assert abs(out[1] + 0.707107) < 1e-6
    assert abs(out[3] + 0.707107) < 1e-6  # same z despite 100x the spread
    assert out[1] != out[2] and abs(out[2] - 0.707107) < 1e-6

    stats = fuse_stats(df.filter("lang = 'en'"), ["a"], by=["lang"])
    served = {
        r["id"]: r["fused_score"]
        for r in fuse_apply(df, stats, ["a"], by=["lang"]).collect()
    }
    assert served[3] is None and served[4] is None  # unlearned stratum
    assert abs(served[1] + 0.707107) < 1e-6


def test_quality_fuse_empty_corpus_scores_null(spark):
    """A model fitted on an EMPTY corpus is unlearned: the global agg
    still emits one stats row (NULL mu/sd), but _fitted must be False so
    every scored row is NULL — never 0.0 ('exactly average'), the
    unlearned-model contract the by-strata path already honors."""
    from beymani_spark.operators.text import fuse_apply, fuse_stats

    df = spark.createDataFrame([(1, 2.0), (2, 4.0)], "id long, a double")
    empty_stats = fuse_stats(df.filter("a > 100"), ["a"])
    assert empty_stats.count() == 1  # global agg always emits a row...
    assert empty_stats.first()["_fitted"] is False  # ...marked unlearned
    scored = fuse_apply(df, empty_stats, ["a"]).collect()
    assert all(r["fused_score"] is None for r in scored)

    # a real fit still scores (the change must not break the learned path)
    scored = {
        r["id"]: r["fused_score"]
        for r in fuse_apply(df, fuse_stats(df, ["a"]), ["a"]).collect()
    }
    assert abs(scored[1] + 0.707107) < 1e-6


def test_source_similarity_pairs_mode_equivalent(spark):
    """source_similarity's hashed-shingle path (two-seed xxhash64 keys, a
    per-shingle collect_set of groups) must equal exact set arithmetic over
    the raw shingle strings — on the parquet fixture and on a hand-built
    frame where one shingle is shared by MANY groups (the hot-key case
    that bounds the collected group array)."""
    from pyspark.sql import functions as F

    from beymani_spark.operators.dedup import shingles, source_similarity
    from beymani_spark.sources import load_table

    def result(df):
        return {
            (r["source_a"], r["source_b"]): (r["intersection"], r["jaccard"])
            for r in source_similarity(df, "source", "text", n=3).collect()
        }

    def exact(df):
        sets = {}
        for r in df.select("source", shingles(F.col("text"), 3).alias("sh")).collect():
            sets.setdefault(r["source"], set()).update(r["sh"])
        out = {}
        for a in sets:
            for b in sets:
                inter = len(sets[a] & sets[b])
                if a < b and inter:
                    out[(a, b)] = (inter, inter / len(sets[a] | sets[b]))
        return out

    def assert_exact(got, want):
        assert got.keys() == want.keys()
        for k, (inter, jac) in want.items():
            assert got[k][0] == inter and abs(got[k][1] - jac) <= 1e-6, k

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    fixture = result(docs)
    assert fixture
    assert_exact(fixture, exact(docs))

    # hot shingle shared by 30 groups + one private shingle per group
    rows = [(f"g{i:02d}", "common trigram shared by every group") for i in range(30)]
    rows += [(f"g{i:02d}", f"private words only group {i} has") for i in range(30)]
    df = spark.createDataFrame(rows, "source string, text string")
    hot = result(df)
    assert len(hot) == 30 * 29 // 2
    assert_exact(hot, exact(df))


def test_temperature_mix_flattens_and_binds_smallest(spark, docs):
    """Temperature mix at alpha=0.5: the smallest language keeps every row
    (n/sqrt(n) = sqrt(n) is increasing, so it binds), kept shares track
    sqrt(n_s) in ratio within binomial noise, the mix is partition-
    invariant, and alpha=1 keeps everything / alpha outside [0,1] raises."""
    from beymani_spark.operators.sampling import temperature_mix

    tot = {
        r["lang"]: r["cnt"]
        for r in docs.groupBy("lang").agg(F.count("*").alias("cnt")).collect()
        if r["lang"] is not None
    }
    out = temperature_mix(docs, "doc_id", "lang", alpha=0.5, seed=42)
    got = {
        r["lang"]: r["cnt"]
        for r in out.groupBy("lang").agg(F.count("*").alias("cnt")).collect()
    }
    smallest = min(tot, key=tot.get)
    assert got[smallest] == tot[smallest], "binding stratum keeps all"
    # expected kept count per stratum: sqrt(n_s) * T with T = min(n/sqrt(n))
    t_bound = min(n / (n**0.5) for n in tot.values())
    for s, n in tot.items():
        exp = (n**0.5) * t_bound
        assert abs(got.get(s, 0) - exp) <= 4 * (exp**0.5) + 1, (s, got.get(s), exp)

    a = temperature_mix(docs, "doc_id", "lang", alpha=0.5, seed=7)
    b = temperature_mix(docs.repartition(13), "doc_id", "lang", alpha=0.5, seed=7)
    assert a.select("doc_id").exceptAll(b.select("doc_id")).count() == 0
    assert a.count() == b.count()

    # alpha=1 degenerates to keep-everything (rates all 1)
    full = temperature_mix(docs, "doc_id", "lang", alpha=1.0)
    assert full.count() == docs.filter(F.col("lang").isNotNull()).count()

    with pytest.raises(ValueError, match="alpha"):
        temperature_mix(docs, "doc_id", "lang", alpha=1.5)


def test_temperature_mix_zero_mass_stratum_dropped(spark):
    """A stratum whose weighted mass sums to zero has no derivable recipe:
    it is filtered out of the rate table explicitly (no 0/0 NULL rate
    silently failing the keep predicate), and the surviving strata are
    unaffected — here the sole positive stratum binds itself and keeps
    every row."""
    from beymani_spark.operators.sampling import temperature_mix

    rows = [
        (i, "a" if i < 50 else "b", 1.0 if i < 50 else 0.0)
        for i in range(80)
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, wt double")
    out = temperature_mix(
        df,
        "doc_id",
        "lang",
        alpha=0.5,
        seed=1,
        weight=F.col("wt"),
        rate_col="rate",
    )
    langs = {r["lang"] for r in out.select("lang").distinct().collect()}
    assert "b" not in langs, "zero-mass stratum must be dropped"
    assert out.filter(F.col("rate").isNull()).count() == 0
    assert out.filter(F.col("lang") == "a").count() == 50


def test_repeat_mix_multiplicity_and_invariance(spark, docs):
    """Fractional-epoch repetition: every row of a stratum with e_s = 2.x
    appears at least twice with epochs 0..n-1; realized multiplicity is
    floor(e) + Bernoulli(frac(e)) as a pure function of (id, seed) —
    identical under repartition; e_s = 0 strata are dropped; expected
    counts track e_s * n_s within binomial noise."""
    from beymani_spark.operators.sampling import hash_uniform, repeat_mix

    epochs = {"en": 0.25, "es": 1.5, "de": 2.0, "fr": 3.25, "zh": 0.0625}
    out = repeat_mix(docs, "doc_id", "lang", epochs, seed=42)
    pdf = out.select("doc_id", "lang", "epoch").toPandas()

    per = pdf.groupby("doc_id").epoch.agg(["count", "min", "max"])
    assert (per["min"] == 0).all(), "epochs must start at 0"
    assert (per["max"] == per["count"] - 1).all(), "epochs must be dense"

    tot = {
        r["lang"]: r["cnt"]
        for r in docs.filter(F.col("lang").isNotNull())
        .groupBy("lang")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    got = pdf.groupby("lang").size().to_dict()
    import math

    for s, e in epochs.items():
        n_s = tot.get(s, 0)
        exp = e * n_s
        frac = e - math.floor(e)
        sd = (n_s * frac * (1 - frac)) ** 0.5
        assert abs(got.get(s, 0) - exp) <= 4 * sd + 1, (s, got.get(s), exp)

    # de is exactly 2.0 epochs: every row exactly twice
    assert (per.loc[pdf[pdf.lang == "de"].doc_id.unique(), "count"] == 2).all()

    a = repeat_mix(docs, "doc_id", "lang", epochs, seed=7)
    b = repeat_mix(docs.repartition(13), "doc_id", "lang", epochs, seed=7)
    assert a.count() == b.count()
    assert (
        a.select("doc_id", "epoch")
        .exceptAll(b.select("doc_id", "epoch"))
        .count()
        == 0
    )
