"""Training-sequence preparation: context-window chunking and
concat-and-chunk packing manifests.

These are the two transforms between a cleaned corpus and a trainer's
fixed-length token sequences (the step after build_corpus in a real
pipeline; reference has no analogue — this is part of the repo's
LLM-data-pipeline surface, SURVEY §2.6 extensions):

- ``chunk_for_training``: split each document into overlapping windows of
  at most ``max_tokens`` whitespace tokens advancing by ``stride`` (the
  long-document -> model-context split, with overlap so no boundary
  context is lost). Pure scan-side explode — zero shuffles.
- ``pack_sequences``: the GPT-style concat-and-chunk packing MANIFEST:
  documents are laid out end-to-end in deterministic id order (plus an
  optional per-doc separator), and every doc learns its global token
  offset, which fixed-size training sequence its first token lands in,
  and how many sequence boundaries cross it. The heavy lifting is a
  distributed prefix sum — NOT a global-order window, which Catalyst
  executes on a single partition and which would serialize the whole
  corpus through one task at 100 TB.

Token semantics match text.tokens (whitespace split, empties dropped)
so chunk counts agree with token_count/chunk_dedup across the repo.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .prefix import literal_offsets
from .text import tokens


def chunk_for_training(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    max_tokens: int = 64,
    stride: int = 48,
) -> DataFrame:
    """One row per (doc, window): windows start at token offsets
    0, stride, 2*stride, ... and carry up to ``max_tokens`` tokens; a doc
    with n <= max_tokens tokens yields exactly one window, otherwise
    1 + ceil((n - max_tokens)/stride) windows (the last may be short, but
    never starts at-or-past n). Output: (id_col, chunk_id, chunk_tokens,
    chunk_text). Docs with zero tokens yield no rows.

    Scale shape: tokenize once, explode over a computed window-count
    sequence, slice per window — all codegen column expressions fused into
    the scan pass; no shuffle, no UDF. stride < max_tokens gives the
    standard overlapping-context split; stride == max_tokens degenerates
    to chunk_dedup-style disjoint chunks.
    """
    if not (0 < stride <= max_tokens):
        raise ValueError("require 0 < stride <= max_tokens")
    m, s = int(max_tokens), int(stride)
    n = F.size("_toks")
    n_win = F.when(n <= m, F.lit(1)).otherwise(
        F.lit(1) + F.ceil((n - m) / F.lit(s)).cast("int")
    )
    out = (
        df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
        .filter(F.size("_toks") > 0)
        .select(
            id_col,
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), n_win - 1),
                    # F.slice is 1-based and clamps past the array end
                    lambda i: F.slice(F.col("_toks"), i * s + 1, m),
                )
            ).alias("chunk_id", "_win"),
        )
        .select(
            id_col,
            "chunk_id",
            F.size("_win").alias("chunk_tokens"),
            F.array_join("_win", " ").alias("chunk_text"),
        )
    )
    return out


def pack_sequences(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    seq_tokens: int = 2048,
    sep_tokens: int = 1,
    partitions: int | None = None,
    n_tokens_col: str | None = None,
    base_offset: int = 0,
) -> DataFrame:
    """Concat-and-chunk packing manifest: lay documents end-to-end in
    ascending ``id_col`` order, each occupying n_tokens(doc) + sep_tokens
    positions (the separator models an EOS/BOS token between docs), and
    report where every doc lands in the fixed-size training sequences:

    Output: (id_col, n_tokens, start_offset, seq_id, n_seq_spanned) where
    start_offset is the doc's first-token position in the global stream,
    seq_id = start_offset // seq_tokens, and n_seq_spanned is how many
    training sequences the doc's tokens touch (1 = fits inside one
    sequence; >1 = split across boundaries, the concat-and-chunk trade).

    ``base_offset`` is the day-2 knob: pass the standing manifest's total
    stream length (sum of n_tokens + sep_tokens over already-packed docs)
    and the new batch packs CONTIGUOUSLY after it — offsets, seq ids and
    span counts are exactly what a full repack of corpus+batch would
    assign the batch docs. Keeps daily packing batch-sized: the standing
    manifest is never re-read, only its one scalar total is carried
    forward.

    Scale shape: the global offset is a DISTRIBUTED prefix sum — project
    to (id, n) first so only two longs per doc move, range-partition by
    id, run the running total per partition, then add each partition's
    starting offset from the driver-collected per-partition totals
    (``partitions`` longs inlined as an element_at literal). ONE narrow
    exchange, no single-partition stage, no join; a global-order window
    (``Window.orderBy(id)`` with no
    partitionBy) would compute the same numbers through ONE task and is
    deliberately avoided. All arithmetic is integer, so the manifest is
    engine-exact.
    """
    q = int(seq_tokens)
    if partitions is None:
        # scale with the cluster, not a constant: the prefix sum moves two
        # longs per doc, so parallelism (uniform range spread) is all that
        # matters — the base-offset frame stays |partitions| rows either way
        partitions = df.sparkSession.sparkContext.defaultParallelism
    # token accounting: whitespace tokens of text_col by default, or a
    # precomputed count column (``n_tokens_col``) so the manifest packs in
    # the trainer's ACTUAL tokenizer units — e.g. compose with
    # text.bpe_token_count and pass its n_tokens through. Null counts
    # coalesce to 0 (size(null) is NULL under ANSI and would poison every
    # later offset through the prefix sum) — the doc still occupies its
    # separator slot and gets a manifest row.
    n_tok = (
        F.col(n_tokens_col).cast("long")
        if n_tokens_col
        else F.size(tokens(F.col(text_col)))
    )
    narrow = df.select(
        F.col(id_col),
        (F.coalesce(n_tok, F.lit(0)) + F.lit(int(sep_tokens))).alias("_span"),
    )
    # the shared prefix-sum scaffold (prefix.py); the frame is
    # (id, span, pid) longs
    ranged, w0, base_col, _, _ = literal_offsets(
        narrow, [id_col], int(partitions), F.sum("_span")
    )
    # per-partition running total (window re-shuffles by _pid: rows of one
    # range partition stay together, and only (id, span, pid) longs move).
    # The frame is pinned to ROWS: the orderBy-default RANGE frame treats
    # duplicate id values as peers and would hand them identical
    # overlapping offsets — with ROWS duplicates still pack sequentially
    # (in an arbitrary but valid concat order); unique ids are engine-exact
    w = w0.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    local = ranged.withColumn(
        "_local_end", F.sum("_span").over(w)
    )
    out = (
        local.withColumn("_base", base_col)
        .select(
            id_col,
            (F.col("_span") - F.lit(int(sep_tokens))).alias("n_tokens"),
            (
                F.lit(int(base_offset))
                + F.col("_base")
                + F.col("_local_end")
                - F.col("_span")
            ).alias("start_offset"),
        )
        .select(
            id_col,
            "n_tokens",
            "start_offset",
            # integer `div`, not `/`: long / long is DOUBLE in Spark, and
            # floor-through-double would silently lose exactness past 2^53
            F.expr(f"start_offset div {q}").alias("seq_id"),
            F.when(F.col("n_tokens") <= 0, F.lit(1))
            .otherwise(
                F.expr(
                    f"((start_offset + n_tokens - 1) div {q})"
                    f" - (start_offset div {q}) + 1"
                )
            )
            .cast("int")
            .alias("n_seq_spanned"),
        )
    )
    return out


def shuffle_plan(
    df: DataFrame,
    id_col: str,
    seed: int = 42,
    partitions: int | None = None,
    key_col: str = "shuffle_key",
    pos_col: str = "shuffle_pos",
) -> DataFrame:
    """Deterministic global corpus shuffle manifest — the order-
    randomization step between corpus build and training: every row gets
    ``shuffle_key`` = the repo's exact dyadic hash-uniform of (id, seed)
    and ``shuffle_pos`` = its exact 0-based position in the global order
    sorted by (key, id). A pure function of (id, seed): the same corpus
    shuffles identically on any cluster size, after any repartition, and
    in any engine — the property that makes a training run resumable and
    an ablation comparable. Re-seeding is a new epoch order for free.
    ``id_col`` must be unique (it is the manifest key and the tie-break
    that makes the order total).

    Output: (id_col, shuffle_key, shuffle_pos) — a narrow manifest the
    training reader joins or range-reads; the text never moves here.

    Scale shape: the same distributed prefix-sum engine as
    pack_sequences — range-partition the (id, key) projection by key,
    row_number within each range partition, add the driver-collected
    per-partition base offsets (an element_at literal). ONE narrow
    exchange, no single-partition stage, no join; ``Window.orderBy(key)`` with no partitionBy
    would compute the same positions through ONE task and is
    deliberately avoided."""
    from .sampling import hash_uniform

    if partitions is None:
        partitions = df.sparkSession.sparkContext.defaultParallelism
    u = hash_uniform(F.col(id_col), seed)
    narrow = df.select(F.col(id_col), u.alias(key_col))
    ranged, w, base_col, _, _ = literal_offsets(
        narrow, [key_col, id_col], int(partitions), F.count("*")
    )
    out = ranged.withColumn("_rk", F.row_number().over(w)).select(
        id_col,
        key_col,
        (base_col + F.col("_rk") - F.lit(1)).cast("long").alias(pos_col),
    )
    return out


def curriculum_plan(
    df: DataFrame,
    id_col: str,
    score_col: str,
    n_stages: int = 4,
    seed: int = 42,
    partitions: int | None = None,
) -> DataFrame:
    """Quality-staged training-order manifest — the data-side artifact of
    curriculum learning: rank the corpus by a quality score (best
    first), cut the ranking into ``n_stages`` equal global-rank stages
    (stage 0 = top quality, sizes differ by at most one row), and emit a
    deterministic 0-based training position that walks the stages in
    order with a seeded hash-shuffle WITHIN each stage. A pure function
    of (score, id, seed): the same corpus produces the same curriculum
    on any cluster size, after any repartition, and in any engine — the
    shuffle_plan reproducibility contract with a quality-major outer
    order. Re-seeding reshuffles within stages without moving any row
    across a stage boundary.

    Output: (id_col, stage, curriculum_pos) — a narrow manifest the
    training reader joins or range-reads; the text never moves here.
    NULL scores rank after every real score (the worst stage), still
    deterministically (id tie-break).

    Scale shape: two distributed prefix-sum passes over narrow
    projections (``prefix.literal_offsets``, as in shuffle_plan and
    pack_sequences) — one over (-score, id) for the exact global quality
    rank, one over (stage, shuffle_key, id) for the position. Each is one
    range exchange with driver-collected base offsets (element_at
    literals); stage boundaries are the K-1 closed-form-rank rows
    fetched from the pass-1 cache, so pass 2 never re-runs pass 1's
    window; never a single-task global window. stage = floor(rank * n_stages /
    N) is pure integer arithmetic — engine-exact at any corpus size."""
    from .sampling import hash_uniform

    if n_stages < 1:
        raise ValueError("n_stages must be >= 1")
    if partitions is None:
        partitions = df.sparkSession.sparkContext.defaultParallelism
    # best-first rank: ascending on -score, NULL scores coerced to +inf so
    # they order after every real score in BOTH engines (plain DESC would
    # put nulls first in Spark and last in DuckDB)
    negq = F.coalesce(
        -F.col(score_col).cast("double"), F.lit(float("inf"))
    )
    narrow = df.select(F.col(id_col), negq.alias("_negq"))
    ranged, w, _base_col, bases, n_total = literal_offsets(
        narrow, ["_negq", id_col], int(partitions), F.count("*")
    )
    if n_total == 0:
        ranged.unpersist()
        return narrow.select(
            id_col,
            F.lit(0).cast("long").alias("stage"),
            F.lit(0).cast("long").alias("curriculum_pos"),
        ).limit(0)
    # Stage assignment WITHOUT materializing per-row global ranks: stage
    # boundaries are closed-form in rank space — the first row of stage s
    # sits at 0-based rank r_s = ceil(s*N/K) (smallest r with
    # (r*K) div N >= s) — so only the K-1 BOUNDARY ROWS are fetched (one
    # tiny job over the pass-1 cache: local row_number within the
    # partitions that hold a boundary) and every row's stage becomes a
    # codegen comparison count against those (_negq, id) literals:
    # stage(row) = #{s : boundary_s <= row in (_negq, id) order}. This is
    # exactly ((rank*K) div N) because rank order IS (_negq, id) order
    # (id unique). The former shape re-ran pass 1's full window+join
    # subtree inside pass 2's range sampler AND its shuffle (the window
    # exchange + BroadcastHashJoin executed twice more); pass 2 now reads
    # the pass-1 cache through a scan-side expression.
    import bisect

    k = int(n_stages)
    targets: dict[int, list[int]] = {}  # pid -> local 1-based row numbers
    boundary_locs: list[tuple[int, int]] = []  # (pid, local_rk) per s
    for s in range(1, k):
        r_s = -(-s * n_total // k)  # ceil(s*N/K), 0-based global rank
        if r_s >= n_total:
            continue  # stage s (and later) empty: never <= any row
        # partition holding rank r_s: the last p with bases[p] <= r_s
        # (empty partitions share their base with the next, so bisect
        # lands on a partition that actually holds the rank)
        p = bisect.bisect_right(bases, r_s) - 1
        rk = r_s - bases[p] + 1
        targets.setdefault(p, []).append(rk)
        boundary_locs.append((p, rk))
    if targets:
        cond = None
        for p, rks in targets.items():
            c = (F.col("_pid") == p) & F.col("_rk").isin(rks)
            cond = c if cond is None else (cond | c)
        brows = (
            ranged.filter(F.col("_pid").isin(list(targets)))
            .withColumn("_rk", F.row_number().over(w))
            .filter(cond)
            .select("_pid", "_rk", "_negq", id_col)
            .collect()
        )
        bmap = {(r["_pid"], r["_rk"]): (r["_negq"], r[id_col]) for r in brows}
        stage_expr = None
        for p, rk in boundary_locs:
            nb, ib = bmap[(p, rk)]
            hit = F.when(
                (F.col("_negq") > F.lit(nb))
                | ((F.col("_negq") == F.lit(nb)) & (F.col(id_col) >= F.lit(ib))),
                F.lit(1),
            ).otherwise(F.lit(0))
            stage_expr = hit if stage_expr is None else stage_expr + hit
        stage_col = stage_expr.cast("long")
    else:
        stage_col = F.lit(0).cast("long")
    narrow2 = ranged.select(
        F.col(id_col),
        stage_col.alias("stage"),
        hash_uniform(F.col(id_col), seed).alias("_skey"),
    )
    ranged2, w2, base2_col, _, _ = literal_offsets(
        narrow2, ["stage", "_skey", id_col], int(partitions), F.count("*")
    )
    out = ranged2.withColumn("_rk", F.row_number().over(w2)).select(
        id_col,
        "stage",
        (base2_col + F.col("_rk") - F.lit(1)).cast("long").alias("curriculum_pos"),
    )
    return out


def context_length_plan(
    df: DataFrame,
    text_col: str = "text",
    lengths: "tuple[int, ...]" = (256, 512, 1024, 2048),
) -> DataFrame:
    """Padding-waste accounting across candidate context lengths — the
    planning table a context-length / packing decision is written against:
    for each candidate L, assuming per-document greedy chunking (every doc
    split into ceil(n_tokens / L) sequences, the last one padded), how
    many sequences the corpus becomes and what fraction of the token
    budget is padding.

    Output per candidate length: (context_len, n_docs, n_tokens, n_chunks,
    padded_tokens, waste_share) where waste_share = padded / (n_chunks*L).
    All arithmetic is integer until the final division (integer `div`
    ceil-div — floor-through-double would lose exactness past 2^53), so
    the numbers are engine-exact at any corpus size.

    Scale shape: one codegen scan computing token counts, a width-|lengths|
    explode (a handful of rows per doc), one partial-aggregated
    groupBy(context_len) down to |lengths| rows — scan speed, no joins.
    Zero-token docs contribute 0 chunks but still count in n_docs."""
    lens = F.array(*[F.lit(int(x)) for x in lengths])
    n = F.coalesce(F.size(tokens(F.col(text_col))), F.lit(0)).cast("long")
    per = df.select(n.alias("_n"), F.explode(lens).alias("context_len")).select(
        "_n",
        "context_len",
        F.expr("(_n + context_len - 1) div context_len").alias("_chunks"),
    )
    return (
        per.groupBy("context_len")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("_n").alias("n_tokens"),
            F.sum("_chunks").alias("n_chunks"),
            F.sum(F.col("_chunks") * F.col("context_len") - F.col("_n")).alias(
                "padded_tokens"
            ),
        )
        .select(
            "context_len",
            "n_docs",
            "n_tokens",
            "n_chunks",
            "padded_tokens",
            F.round(
                F.try_divide(
                    F.col("padded_tokens"), F.col("n_chunks") * F.col("context_len")
                ),
                6,
            ).alias("waste_share"),
        )
    )


def compaction_plan(
    df: DataFrame,
    partition_cols,
    bytes_col=None,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> DataFrame:
    """Write/compaction planner: per output partition, the row count,
    estimated bytes, the file count that hits ``target_file_bytes``, and
    the rows-per-file split — the table a partitioned writer reads to
    call ``repartitionByRange(files, ...)`` per partition instead of
    emitting one file per task. The small-files problem is the quiet
    killer of 100 TB table maintenance (a 1000-task stage writing 200
    partitions each = 200k tiny files; every later scan pays the
    open/footer cost), and the fix is exactly this plan: files =
    ceil(bytes / target), never less than 1.

    ``bytes_col`` is a column expression for the estimated serialized
    bytes of one row (default: octet_length of every string column in
    the frame — a proxy; callers with real encoders pass their own).
    One partial-aggregated groupBy over the partition keys; the plan
    output is dimension-sized and broadcasts into the writer.
    """
    if bytes_col is None:
        strings = [
            f.name
            for f in df.schema.fields
            if f.dataType.simpleString() == "string"
        ]
        if not strings:
            raise ValueError(
                "no string columns to estimate bytes from; pass bytes_col"
            )
        bytes_col = sum(
            (F.coalesce(F.octet_length(F.col(c)), F.lit(0)) for c in strings[1:]),
            start=F.coalesce(F.octet_length(F.col(strings[0])), F.lit(0)),
        )
    agg = df.groupBy(*partition_cols).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(bytes_col).alias("est_bytes"),
    )
    files = F.greatest(
        F.lit(1).cast("long"),
        F.ceil(F.col("est_bytes") / F.lit(int(target_file_bytes))),
    )
    return agg.select(
        *partition_cols,
        "n_rows",
        "est_bytes",
        files.alias("n_files"),
        F.ceil(F.col("n_rows") / files).alias("rows_per_file"),
    )
