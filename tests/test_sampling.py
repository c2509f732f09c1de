"""Deterministic sampling / mixing operators (operators/sampling.py) and the
repetition/contamination text metrics."""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from beymani_spark.operators import sampling, text


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    from beymani_spark.sources import load_table

    return load_table(spark, sf_dir, "documents")


def test_hash_uniform_range_and_determinism(spark, docs):
    u = docs.select(sampling.hash_uniform(F.col("doc_id"), 42).alias("u"))
    row = u.agg(F.min("u"), F.max("u"), F.count("*")).first()
    assert 0.0 <= row[0] and row[1] < 1.0
    # same seed twice -> identical; different seed -> different draw
    a = docs.select("doc_id", sampling.hash_uniform(F.col("doc_id"), 42).alias("u"))
    b = docs.select("doc_id", sampling.hash_uniform(F.col("doc_id"), 42).alias("u"))
    assert a.exceptAll(b).count() == 0
    c = docs.select("doc_id", sampling.hash_uniform(F.col("doc_id"), 43).alias("u"))
    assert a.exceptAll(c).count() > 0


def test_stratified_sample_rates_and_partition_invariance(spark, docs):
    rates = {"en": 0.25, "es": 0.5, "de": 1.0, "fr": 0.125, "zh": 0.0625}
    out = sampling.stratified_sample(docs, "doc_id", "lang", rates, seed=42)
    got = {r["lang"]: r["cnt"] for r in out.groupBy("lang").agg(F.count("*").alias("cnt")).collect()}
    tot = {r["lang"]: r["cnt"] for r in docs.groupBy("lang").agg(F.count("*").alias("cnt")).collect()}
    # full-rate stratum kept entirely; others within loose binomial bounds
    assert got.get("de") == tot["de"]
    for lang, rate in rates.items():
        if lang == "de":
            continue
        exp = tot[lang] * rate
        assert got.get(lang, 0) <= tot[lang]
        assert abs(got.get(lang, 0) - exp) <= max(6, 4 * (exp ** 0.5) + 2), (lang, got.get(lang), exp)
    # sample membership is invariant to partitioning
    ids1 = {r["doc_id"] for r in out.collect()}
    ids2 = {
        r["doc_id"]
        for r in sampling.stratified_sample(
            docs.repartition(13), "doc_id", "lang", rates, seed=42
        ).collect()
    }
    assert ids1 == ids2


def test_stratified_sample_default_rate(spark, docs):
    # no rates at all + default 1.0 keeps everything; default 0.0 drops unknowns
    assert sampling.stratified_sample(docs, "doc_id", "lang", {}, default_rate=1.0).count() == docs.count()
    assert sampling.stratified_sample(docs, "doc_id", "lang", {"en": 0.5}, default_rate=0.0).filter("lang <> 'en'").count() == 0


def test_deterministic_split_partitions_rows(spark, docs):
    out = sampling.deterministic_split(
        docs, "doc_id", (("train", 0.75), ("val", 0.125), ("test", 0.125)), seed=42
    )
    counts = {r["split"]: r["cnt"] for r in out.groupBy("split").agg(F.count("*").alias("cnt")).collect()}
    n = docs.count()
    assert sum(counts.values()) == n  # total partition, no row lost
    assert set(counts) == {"train", "val", "test"}
    assert counts["train"] > counts["val"] and counts["train"] > counts["test"]
    # appending rows never moves an existing row's split
    half = docs.filter("doc_id % 2 = 0")
    sub = sampling.deterministic_split(
        half, "doc_id", (("train", 0.75), ("val", 0.125), ("test", 0.125)), seed=42
    )
    full_map = {r["doc_id"]: r["split"] for r in out.collect()}
    for r in sub.collect():
        assert full_map[r["doc_id"]] == r["split"]


def test_repetition_score_hand_computed(spark):
    df = spark.createDataFrame(
        [
            (1, "a b c a b c a b c"),   # grams: abc bca cab abc bca cab abc -> 7 total, 3 distinct
            (2, "x y z w"),             # 2 grams, no repeats
            (3, "too short"),           # <3 tokens -> 0 grams
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in text.repetition_score(df, "doc_id", "text", n=3).collect()}
    assert got[1]["n_grams"] == 7 and got[1]["n_dup_grams"] == 4
    assert got[1]["rep_ratio"] == pytest.approx(4 / 7)
    assert got[2]["n_grams"] == 2 and got[2]["n_dup_grams"] == 0
    assert got[3]["n_grams"] == 0 and got[3]["rep_ratio"] == 0.0


def test_contamination_hand_computed(spark):
    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),  # grams: 3 distinct
            (2, "completely different text here now"),
            (3, "hi"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "the quick brown fox")],  # grams: "the quick brown", "quick brown fox"
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in text.contamination(train, bench, "doc_id", "text", n=3).collect()}
    assert got[1]["n_grams"] == 3 and got[1]["n_contaminated"] == 2
    assert got[1]["contamination_ratio"] == pytest.approx(2 / 3)
    assert got[2]["n_contaminated"] == 0
    assert got[3]["n_grams"] == 0 and got[3]["contamination_ratio"] == 0.0


def test_sessionize_gap_boundaries(spark):
    import datetime as dt

    from beymani_spark.operators.rollup import sessionize, session_stats

    t0 = dt.datetime(2026, 1, 1)
    rows = [
        (1, t0),                                   # session 1
        (1, t0 + dt.timedelta(seconds=100)),       # gap 100 <= 100 -> same
        (1, t0 + dt.timedelta(seconds=201)),       # gap 101 > 100 -> session 2
        (2, t0),                                   # separate key
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = {(r.user_id, r.ts): r.session_id
           for r in sessionize(df, ["user_id"], "ts", gap_seconds=100).collect()}
    assert out[(1, rows[0][1])] == 1
    assert out[(1, rows[1][1])] == 1   # exactly-at-gap stays in session
    assert out[(1, rows[2][1])] == 2
    assert out[(2, t0)] == 1

    df2 = df.withColumn("value", F.lit(1.0))
    stats = {(r.user_id, r.session_id): r
             for r in session_stats(df2, ["user_id"], "ts", "value", 100).collect()}
    assert stats[(1, 1)]["n_events"] == 2 and stats[(1, 1)]["span_sec"] == 100
    assert stats[(1, 2)]["n_events"] == 1 and stats[(1, 2)]["span_sec"] == 0


def test_new_operators_handle_empty_input(spark):
    """Empty frames must yield empty (not crash) across the new operator
    families — schema-correct degenerate behavior."""
    import datetime as dt  # noqa: F401

    from beymani_spark.operators import dedup, sampling, similarity, text
    from beymani_spark.operators.asof import asof_join
    from beymani_spark.operators.rollup import session_stats, sessionize

    docs = spark.createDataFrame([], "doc_id long, text string, lang string")
    ev = spark.createDataFrame([], "user_id long, ts timestamp, value double")
    emb = spark.createDataFrame([], "vec_id long, embedding array<float>")

    assert sampling.stratified_sample(docs, "doc_id", "lang", {"en": 0.5}).count() == 0
    assert sampling.deterministic_split(docs, "doc_id").count() == 0
    assert text.repetition_score(docs, "doc_id", "text").count() == 0
    assert text.contamination(docs, docs, "doc_id", "text").count() == 0
    assert text.bigram_logprob(docs, "doc_id", "text").count() == 0
    assert text.vocab_topk(docs, "text").count() == 0
    assert text.corpus_stats(docs, ("lang",), "text").count() == 0
    assert similarity.quantize_int8(emb, "vec_id", "embedding").count() == 0
    assert sessionize(ev, ["user_id"], "ts").count() == 0
    assert session_stats(ev, ["user_id"], "ts", "value").count() == 0
    assert dedup.rowwise_minhash_bands(docs, "doc_id", "text").count() == 0
    right = spark.createDataFrame([], "k string, rts timestamp, v double")
    left = spark.createDataFrame([], "id long, k string, ts timestamp")
    assert asof_join(left, right, ["k"], "ts", "rts", ["v"]).count() == 0


def test_decayed_sample_monotone_in_recency(spark):
    from beymani_spark.sources import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    out = sampling.decayed_sample(
        ev, "event_id", "ts", half_life_days=10.0,
        reference_ts="2024-02-01 00:00:00", seed=42,
    )
    n_all, n_kept = ev.count(), out.count()
    assert 0 < n_kept < n_all
    # older reference -> larger rates for the same rows -> superset sample
    older_ref = sampling.decayed_sample(
        ev, "event_id", "ts", half_life_days=10.0,
        reference_ts="2024-01-15 00:00:00", seed=42,
    )
    kept_ids = {r.event_id for r in out.collect()}
    older_ids = {r.event_id for r in older_ref.collect()}
    assert kept_ids <= older_ids


def test_bpe_token_count_hand_computed(spark):
    df = spark.createDataFrame(
        [
            (1, "hello world 123"),   # 3 runs
            (2, "it's a test!"),      # it | ' | s | a | test | ! = 6 runs
            (3, ""),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.n_bpe_tokens for r in text.bpe_token_count(df).collect()}
    assert got[1] == 3
    assert got[2] == 6
    assert got[3] == 0


def test_group_split_keeps_groups_whole(spark):
    """Splitting by a group key puts every member of a group in the SAME
    split (the near-dup leak-prevention property a per-doc split lacks)."""
    from beymani_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    out = sampling.deterministic_split(
        docs, "source", (("train", 0.75), ("val", 0.125), ("test", 0.125)), seed=42
    ).select("source", "split")
    per_group = out.groupBy("source").agg(
        F.countDistinct("split").alias("n_splits")
    )
    assert per_group.filter(F.col("n_splits") > 1).count() == 0
    # multiple splits are actually used across groups (not all-train)
    assert out.select("split").distinct().count() >= 2


def test_perplexity_gate_keep_counts_and_exclusions(spark, docs):
    """Per-language keep count is ceil(ns * frac) over docs WITH bigram
    evidence; sub-2-token docs never gate in; kept docs are each
    language's highest-avg_logprob half."""
    import math

    scored = (
        text.bigram_logprob(docs, "doc_id", "text")
        .filter(F.col("n_bigrams") > 0)
        .join(docs.select("doc_id", "lang"), "doc_id")
    )
    ns = {r["lang"]: r["c"] for r in scored.groupBy("lang").agg(F.count("*").alias("c")).collect()}
    out = text.perplexity_gate(docs, "doc_id", "text", "lang", keep_frac=0.5)
    got = {r["lang"]: r["c"] for r in out.groupBy("lang").agg(F.count("*").alias("c")).collect()}
    assert got == {k: math.ceil(v * 0.5) for k, v in ns.items()}
    assert out.filter(F.col("n_bigrams") <= 0).count() == 0
    # the kept set dominates the dropped set: min kept avg_logprob per lang
    # >= max dropped avg_logprob per lang (rank cut, not a random sample)
    kept_min = {r["lang"]: r["m"] for r in out.groupBy("lang").agg(F.min("avg_logprob").alias("m")).collect()}
    dropped = scored.join(out.select("doc_id"), "doc_id", "left_anti")
    drop_max = {
        r["lang"]: r["m"]
        for r in dropped.groupBy("lang").agg(F.max(F.round("avg_logprob", 6)).alias("m")).collect()
    }
    for lang, m in drop_max.items():
        assert kept_min[lang] >= m


def test_split_leak_check_hand_computed(spark):
    labeled = spark.createDataFrame(
        [(1, "train"), (2, "train"), (3, "train"), (4, "test"), (5, "val")],
        ["doc_id", "split"],
    )
    pairs = spark.createDataFrame(
        [(1, 2), (3, 4), (4, 5), (1, 3)], ["src", "dst"]
    )
    rows = {
        (r["split_a"], r["split_b"]): (r["n_pairs"], r["share"], r["leaked"])
        for r in sampling.split_leak_check(labeled, "doc_id", pairs).collect()
    }
    assert rows[("train", "train")] == (2, 0.5, False)
    assert rows[("test", "train")] == (1, 0.25, True)
    assert rows[("test", "val")] == (1, 0.25, True)
    assert abs(sum(v[1] for v in rows.values()) - 1.0) < 1e-12


def test_token_freq_spectrum_hand_computed(spark):
    df = spark.createDataFrame(
        [(1, "a a a b b c"), (2, "b C")], ["doc_id", "text"]
    )
    # lowercased: a=3, b=3, c=2 -> freq 3 has 2 types (6 occ), freq 2 has 1 (2 occ)
    rows = {
        r["freq"]: (r["n_types"], r["n_occurrences"])
        for r in text.token_freq_spectrum(df, "text").collect()
    }
    assert rows == {3: (2, 6), 2: (1, 2)}


def test_mix_to_token_targets_tracks_token_shares(spark, docs):
    from beymani_spark.operators.text import tokens as _toks

    targets = {"en": 0.4, "es": 0.3, "de": 0.2, "fr": 0.1}
    w = F.size(_toks(F.col("text")))
    out = sampling.mix_to_targets(
        docs, "doc_id", "lang", targets, seed=42, rate_col="rate", weight=w
    )
    tok_tot = {
        r["lang"]: r["t"]
        for r in docs.groupBy("lang").agg(F.sum(w).alias("t")).collect()
    }
    kept = {
        r["lang"]: r["t"]
        for r in out.groupBy("lang").agg(F.sum(w).alias("t")).collect()
    }
    assert "zh" not in kept
    # binding stratum (max token deficit) keeps every row
    binding = min(targets, key=lambda s: tok_tot[s] / targets[s])
    assert kept[binding] == tok_tot[binding]
    # kept token mass tracks the recipe ratios in expectation
    t_bound = tok_tot[binding] / targets[binding]
    for s, wgt in targets.items():
        exp = wgt * t_bound
        # doc-granular sampling: tolerance ~ sqrt(n_docs)*avg_doc_tokens
        assert abs(kept[s] - exp) <= 0.15 * exp + 200, (s, kept[s], exp)
    # rates are per-stratum constant and <= 1
    nrates = out.select("lang", "rate").distinct()
    assert nrates.count() == len(kept)
    assert nrates.agg(F.max("rate")).first()[0] <= 1.0 + 1e-12


def test_stratum_percentile_tie_aware_and_bounded(spark):
    df = spark.createDataFrame(
        [(1, "a", 0.1), (2, "a", 0.5), (3, "a", 0.5), (4, "a", 0.9),
         (5, "b", 0.7)],
        ["doc_id", "source", "quality"],
    )
    rows = {
        r["doc_id"]: r["pct"]
        for r in sampling.stratum_percentile(df, "source", "quality").collect()
    }
    # percent_rank = (rank-1)/(n-1); ties share a rank
    assert rows[1] == 0.0
    assert rows[2] == rows[3] == pytest.approx(1 / 3)
    assert rows[4] == 1.0
    # single-row stratum -> 0.0
    assert rows[5] == 0.0


def test_tfidf_topk_hand_checked(spark):
    """TF-IDF on a 3-doc corpus verified against hand math: smoothed idf
    = ln((1+N)/(1+df)) + 1; corpus-wide words score below rare words at
    equal tf; rank ties break on token."""
    import math

    from beymani_spark.operators.text import tfidf_topk

    df = spark.createDataFrame(
        [(1, "apple apple banana"), (2, "apple cherry"), (3, "apple banana")],
        ["doc_id", "text"],
    )
    out = tfidf_topk(df, "doc_id", "text", k=2).toPandas()
    idf = lambda d: math.log(4 / (1 + d)) + 1.0
    # doc 1: apple tf=2 df=3, banana tf=1 df=2
    d1 = out[out.doc_id == 1].set_index("token")
    assert abs(d1.loc["apple", "score"] - round(2 * idf(3), 6)) < 1e-9
    assert abs(d1.loc["banana", "score"] - round(1 * idf(2), 6)) < 1e-9
    assert d1.loc["apple", "tfidf_rank"] == 1  # 2*1.0 > 1*1.287
    # doc 2: cherry (df=1) outranks apple (df=3) at equal tf
    d2 = out[out.doc_id == 2].sort_values("tfidf_rank")
    assert list(d2["token"]) == ["cherry", "apple"]
    # every doc emits at most k rows, ranks are 1..k
    assert (out.groupby("doc_id")["tfidf_rank"].max() <= 2).all()


def test_score_sample_expected_mass_and_determinism(spark):
    """score_sample keeps each row with probability ~score (measured kept
    fraction tracks the mean score), is a pure function of (id, seed), and
    gamma sharpens toward the hard gate."""
    from beymani_spark.operators.sampling import score_sample

    df = spark.range(4000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 100 / 100.0).alias("s")
    )
    kept = score_sample(df, "doc_id", "s", seed=42)
    n = kept.count()
    mean_s = 0.495  # mean of 0/100..99/100
    assert abs(n / 4000 - mean_s) < 0.05
    # deterministic + partition-invariant
    again = score_sample(df.repartition(17), "doc_id", "s", seed=42)
    assert sorted(r.doc_id for r in kept.collect()) == sorted(
        r.doc_id for r in again.collect()
    )
    # zero scores never survive; score 1.0 rows always do
    ones = spark.range(50).select(F.col("id").alias("doc_id"), F.lit(1.0).alias("s"))
    assert score_sample(ones, "doc_id", "s").count() == 50
    zeros = ones.withColumn("s", F.lit(0.0))
    assert score_sample(zeros, "doc_id", "s").count() == 0
    # gamma > 1 keeps strictly fewer (sharper preference for high scores)
    sharp = score_sample(df, "doc_id", "s", seed=42, gamma=2.0).count()
    assert sharp < n


def test_ngram_novelty_hand_checked(spark):
    """Novelty semantics on a hand corpus: a verbatim later copy scores 0,
    the original scores 1, a half-overlapping doc scores its novel share,
    sub-n-token docs are omitted."""
    from beymani_spark.operators.text import ngram_novelty

    df = spark.createDataFrame(
        [
            (1, "a b c d e"),          # 3 trigrams, all first here
            (2, "a b c d e"),          # exact copy: novelty 0
            (3, "c d e f g"),          # trigrams: cde(owned by 1), def, efg
            (4, "x y"),                # < 3 tokens: omitted
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in ngram_novelty(df, "doc_id", "text", n=3).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1].novelty == 1.0 and out[1].n_grams == 3
    assert out[2].novelty == 0.0 and out[2].n_novel == 0
    assert out[3].n_grams == 3 and out[3].n_novel == 2
    assert abs(out[3].novelty - round(2 / 3, 6)) < 1e-12


def test_weighted_sample_determinism_and_bias(spark, docs):
    out = sampling.weighted_sample(docs, "doc_id", "n_chars", k=200, seed=42)
    ids = sorted(r.doc_id for r in out.collect())
    assert len(ids) == 200
    # pure function of (id, seed): repartitioning must not change the set
    out2 = sampling.weighted_sample(
        docs.repartition(13), "doc_id", "n_chars", k=200, seed=42
    )
    assert sorted(r.doc_id for r in out2.collect()) == ids
    # weight bias: sampled docs should skew longer than the corpus mean
    mean_all = docs.agg(F.avg("n_chars")).first()[0]
    mean_smp = out.agg(F.avg("n_chars")).first()[0]
    assert mean_smp > mean_all
    # k >= n degenerates to "all positive-weight rows"
    n = docs.count()
    assert (
        sampling.weighted_sample(docs, "doc_id", "n_chars", k=n + 10).count()
        == docs.filter(F.col("n_chars") > 0).count()
    )


def test_weighted_sample_excludes_nonpositive_weights(spark):
    df = spark.createDataFrame(
        [(1, 10.0), (2, 0.0), (3, -5.0), (4, None), (5, 3.0)], ["id", "w"]
    )
    kept = {r.id for r in sampling.weighted_sample(df, "id", "w", k=10).collect()}
    assert kept == {1, 5}


def test_weighted_sample_by_per_stratum_budget(spark, docs):
    out = sampling.weighted_sample_by(docs, "doc_id", "n_chars", "lang", k=50)
    counts = {r.lang: r.n for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    pops = {r.lang: r.n for r in docs.filter(F.col("n_chars") > 0)
            .groupBy("lang").agg(F.count("*").alias("n")).collect()}
    for lang, n in counts.items():
        assert n == min(50, pops[lang])
    # deterministic under repartition
    a = sorted(r.doc_id for r in out.collect())
    b = sorted(
        r.doc_id
        for r in sampling.weighted_sample_by(
            docs.repartition(7), "doc_id", "n_chars", "lang", k=50
        ).collect()
    )
    assert a == b


def test_gram_topk_hand_computed(spark):
    """gram_topk counts every trigram occurrence per group, ranks
    (cnt DESC, gram ASC) and shares against the group's total gram mass;
    sub-n-token docs contribute nothing."""
    from beymani_spark.operators.text import gram_topk

    df = spark.createDataFrame(
        [
            (1, "s1", "a b c a b c a b"),   # grams: abc, bca, cab, abc, bca, cab(no) ...
            (2, "s1", "a b c"),
            (3, "s1", "x y"),               # too short: no grams
            (4, "s2", "p q r p q r"),
        ],
        "doc_id long, source string, text string",
    )
    out = gram_topk(df, group_col="source", text_col="text", n=3, k=2).collect()
    s1 = sorted([r for r in out if r["source"] == "s1"], key=lambda r: r["rank"])
    # doc1 trigrams: "a b c","b c a","c a b","a b c","b c a","c a b" -> 6
    # doc2 trigrams: "a b c" -> 1;  total s1 = 7
    assert [r["gram"] for r in s1] == ["a b c", "b c a"]  # 3, 2; "c a b" ties 2 but gram ASC
    assert [r["cnt"] for r in s1] == [3, 2]
    assert abs(s1[0]["share"] - round(3 / 7, 6)) < 1e-9
    s2 = sorted([r for r in out if r["source"] == "s2"], key=lambda r: r["rank"])
    # doc4: "p q r","q r p","r p q","p q r" -> pqr=2, qrp=1, rpq=1 (total 4)
    assert s2[0]["gram"] == "p q r" and s2[0]["cnt"] == 2
    assert s2[1]["gram"] == "q r p" and s2[1]["cnt"] == 1  # tie with "r p q" broken ASC


def test_gram_topk_empty_and_whitespace_input(spark):
    from beymani_spark.operators.text import gram_topk

    df = spark.createDataFrame(
        [(1, "s1", ""), (2, "s1", "   "), (3, "s1", "one two")],
        "doc_id long, source string, text string",
    )
    assert gram_topk(df, "source", "text", n=3, k=5).count() == 0


def test_dedup_corpus_best_keeps_highest_score(spark):
    """dedup_corpus_best keeps the max-score member per near-dup cluster;
    NULL scores lose to any scored member; exact score ties keep the
    smallest id; singletons always survive."""
    from beymani_spark.operators.dedup import dedup_corpus_best

    df = spark.createDataFrame(
        [
            (1, 0.2), (2, 0.9), (3, None),   # cluster {1,2,3} -> keep 2
            (4, 0.5), (5, 0.5),              # cluster {4,5}, tie -> keep 4
            (6, None),                        # singleton, NULL score -> kept
        ],
        "doc_id long, score double",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "src long, dst long"
    )
    kept = sorted(
        r["doc_id"]
        for r in dedup_corpus_best(df, "doc_id", pairs, "score").collect()
    )
    assert kept == [2, 4, 6]


def test_dedup_corpus_best_negative_scores_beat_null(spark):
    """A NULL score must lose to ANY scored member — including scores
    below the old -1.0 sentinel — and a -1.0 score must not tie NULL."""
    from beymani_spark.operators.dedup import dedup_corpus_best

    df = spark.createDataFrame(
        [(1, -5.0), (2, None), (3, -1.0), (4, None)],
        "doc_id long, score double",
    )
    pairs = spark.createDataFrame([(1, 2), (3, 4)], "src long, dst long")
    kept = sorted(
        r["doc_id"]
        for r in dedup_corpus_best(df, "doc_id", pairs, "score").collect()
    )
    assert kept == [1, 3]


def test_simhash_auto_rejects_underwide_sketch(spark):
    """An explicit bits too narrow for max_hamming+1 pigeonhole bands must
    raise a clear ValueError, not floor the width to zero."""
    import pytest as _pytest

    from beymani_spark.operators.dedup import simhash_dup_pairs

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="bands"):
        simhash_dup_pairs(df, "doc_id", max_hamming=7, bits=4)


def test_salted_join_equivalence_and_spread(spark):
    """salted_join: row-identical to the plain equi-join (inner AND left,
    including unmatched left rows), spreads a hot key across salt
    buckets, rejects right/full joins."""
    import pytest
    from pyspark.sql import functions as F

    from beymani_spark.functions.skew import salted_join

    # hot key 'h' dominates; 'c' has no match on the right
    left = spark.createDataFrame(
        [(("h" if i % 10 else "b"), i) for i in range(1000)] + [("c", -1)],
        "k string, v long",
    )
    right = spark.createDataFrame(
        [("h", "hot"), ("b", "cold")], "k string, tag string"
    )
    for how in ("inner", "left"):
        plain = left.join(right, ["k"], how).groupBy("k", "tag").count()
        salted = salted_join(left, right, ["k"], salt_buckets=8, how=how)
        got = salted.groupBy("k", "tag").count()
        assert got.exceptAll(plain).count() == 0
        assert plain.exceptAll(got).count() == 0
    # the hot key's left rows actually fan across several salt buckets
    salted_l = left.withColumn("_salt", F.pmod(F.xxhash64(*left.columns), F.lit(8)))
    n_buckets = (
        salted_l.filter("k = 'h'").select("_salt").distinct().count()
    )
    assert n_buckets >= 6, "hot key must spread over most buckets"

    with pytest.raises(ValueError, match="inner/left"):
        salted_join(left, right, ["k"], how="right")


def test_bm25_topk_hand_checked(spark):
    """BM25 on a 3-doc corpus verified against hand math: Lucene idf
    = ln(1 + (N-df+0.5)/(df+0.5)), k1=1.2 b=0.75 length normalization
    over avgdl of ALL docs; absent query terms contribute nothing; rank
    ties break on doc_id."""
    import math

    from beymani_spark.operators.text import bm25_topk

    df = spark.createDataFrame(
        [
            (1, "apple apple banana"),
            (2, "apple cherry"),
            (3, "kiwi kiwi kiwi kiwi"),
        ],
        ["doc_id", "text"],
    )
    out = (
        bm25_topk(df, ["Apple", "banana", "missing", "apple"], k=10)
        .toPandas()
        .set_index("doc_id")
    )
    n, avgdl = 3, (3 + 2 + 4) / 3
    idf = lambda d: math.log(1 + (n - d + 0.5) / (d + 0.5))
    bm = lambda tf, dl, d: idf(d) * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
    exp1 = round(bm(2, 3, 2) + bm(1, 3, 1), 6)  # apple df=2, banana df=1
    exp2 = round(bm(1, 2, 2), 6)
    assert out.loc[1, "score"] == pytest.approx(exp1, abs=1e-9)
    assert out.loc[2, "score"] == pytest.approx(exp2, abs=1e-9)
    assert 3 not in out.index  # no query term -> never scored
    assert out.loc[1, "n_hit_terms"] == 2 and out.loc[2, "n_hit_terms"] == 1
    assert list(out.sort_values("bm25_rank").index) == [1, 2]


def test_hybrid_rrf_topk_hand_checked(spark):
    """RRF fusion on a tiny corpus verified by hand: a doc on both
    candidate lists sums both reciprocal terms, single-list docs score
    one term with a NULL rank on the other side, ties break on doc_id."""
    import pandas as pd

    from beymani_spark.operators.similarity import hybrid_rrf_topk

    docs = spark.createDataFrame(
        [(1, "apple banana"), (2, "apple"), (3, "kiwi")],
        ["doc_id", "text"],
    )
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),   # query vector
            (1, [1.0, 0.1]),   # closest
            (2, [0.0, 1.0]),   # orthogonal
            (3, [0.9, 0.5]),   # second
        ],
        ["vec_id", "embedding"],
    )
    out = (
        hybrid_rrf_topk(docs, emb, ["apple", "banana"], 0, k=10, n_candidates=2)
        .toPandas()
        .set_index("doc_id")
    )
    # bm25 list: doc 1 (2 hits) then doc 2; dense list: vec 1 then vec 3
    assert out.loc[1, "bm25_rank"] == 1 and out.loc[1, "cos_rank"] == 1
    assert out.loc[1, "rrf_score"] == round(1 / 61 + 1 / 61, 6)
    assert out.loc[2, "bm25_rank"] == 2 and pd.isna(out.loc[2, "cos_rank"])
    assert out.loc[2, "rrf_score"] == round(1 / 62, 6)
    assert pd.isna(out.loc[3, "bm25_rank"]) and out.loc[3, "cos_rank"] == 2
    assert list(out.sort_values("hybrid_rank").index) == [1, 2, 3]
