"""Registry entries: drift detectors, neighbor density, multimodal plumbing.

Drift input: per-event_type 0/1 error stream derived deterministically from
events (error = value above the key's exact p90). The detectors are
sequential-stateful scans -> rows-only checks; neighbor_density is
oracle-verified."""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import knn, multimodal, profile
from ..sources import load_table
from ..streaming import drift as drift_mod
from .queries_knn import _pairs
from .model_oracles import media_features_jpg_oracle as _media_features_jpg_oracle
from .queries_stats import _round
from .registry import register


def _error_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    p90 = profile.percentiles("value", {"_p90": 0.9}).values()
    thr = ev.groupBy("event_type").agg(*p90)
    return ev.join(F.broadcast(thr), "event_type").select(
        "event_type",
        "event_id",
        "ts",
        (F.col("value") > F.col("_p90")).cast("int").alias("is_error"),
    )


def _drift_query(detector: str, **params):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        errs = _error_stream(spark, sf_dir)
        out = drift_mod.drift_detect(
            errs, ["event_type"], "ts", "is_error", detector,
            order_cols=["event_id"], **params
        )
        diag = {"ddm": ["pr", "sd"], "eddm": ["cur"], "fhddm": ["acc"], "ecdd": ["z"]}[
            detector
        ]
        out = _round(
            out.select("event_type", "event_id", "is_error", *diag, "drift"), diag
        )
        # numpy kernels emit NaN for pre-warmup rows; normalize to NULL so the
        # value hash matches SQL oracles
        for c in diag:
            out = out.withColumn(
                c, F.when(F.isnan(F.col(c)), F.lit(None)).otherwise(F.col(c))
            )
        return out

    return q


_DDM_ORACLE = """
WITH thr AS (
  SELECT event_type, quantile_cont(value, 0.9) AS p90 FROM events GROUP BY event_type
), err AS (
  SELECT e.event_type, e.event_id, e.ts,
         CASE WHEN e.value > t.p90 THEN 1 ELSE 0 END AS is_error
  FROM events e JOIN thr t USING (event_type)
), c AS (
  SELECT *,
         sum(is_error) OVER (PARTITION BY event_type ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ec,
         row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn
  FROM err
), p AS (
  SELECT *, ec * 1.0 / rn AS pr,
         sqrt((ec * 1.0 / rn) * (1 - ec * 1.0 / rn) / rn) AS sd
  FROM c
), m AS (
  SELECT *,
         arg_min(struct_pack(pr := pr, sd := sd),
                 CASE WHEN rn >= 50 THEN pr + sd END)
           OVER (PARTITION BY event_type ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mn
  FROM p
)
SELECT event_type, event_id, is_error,
       round(CASE WHEN rn > 50 THEN pr END, 6) AS pr,
       round(CASE WHEN rn > 50 THEN sd END, 6) AS sd,
       CASE WHEN rn > 50 AND (pr + sd) > (mn.pr + 3.0 * mn.sd) THEN 1 ELSE 0 END AS drift
FROM m
"""

register("drift_ddm", _DDM_ORACLE)(_drift_query("ddm", threshold=3.0, warmup=50))
# EDDM: running mean/std of inter-error distances vs the historical max of
# mean+2sd. Positions are 0-based (python kernel); distances exist from the
# second error on; cur/dr emitted on qualifying error rows and the drift flag
# carried forward across non-error rows.
_EDDM_ORACLE = """
WITH thr AS (
  SELECT event_type, quantile_cont(value, 0.9) AS p90 FROM events GROUP BY event_type
), err AS (
  SELECT e.event_type, e.event_id, e.ts,
         CASE WHEN e.value > t.p90 THEN 1 ELSE 0 END AS is_error
  FROM events e JOIN thr t USING (event_type)
), pos AS (
  SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) - 1 AS p
  FROM err
), d AS (
  SELECT *, CASE WHEN is_error = 1
                 THEN p - lag(p) OVER (PARTITION BY event_type, is_error ORDER BY ts, event_id)
            END AS dist
  FROM pos
), rs AS (
  SELECT *, count(dist) OVER w AS cnt, sum(dist) OVER w AS s1,
            sum(dist * dist) OVER w AS s2
  FROM d
  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), st AS (
  SELECT *, CASE WHEN dist IS NOT NULL AND cnt >= 2 THEN
              s1 * 1.0 / cnt
              + 2.0 * CASE WHEN (s2 - s1 * s1 * 1.0 / cnt) / (cnt - 1) > 0
                           THEN sqrt((s2 - s1 * s1 * 1.0 / cnt) / (cnt - 1))
                           ELSE 0.0 END
            END AS cur
  FROM rs
), mx AS (
  SELECT *, max(cur) OVER (PARTITION BY event_type ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS max_lim
  FROM st
), dr AS (
  SELECT *, CASE WHEN cur IS NOT NULL AND max_lim > 0 AND p >= 50
                 THEN CASE WHEN cur / max_lim < 0.7 THEN 1 ELSE 0 END
            END AS dr_here
  FROM mx
)
SELECT event_type, event_id, is_error, round(cur, 6) AS cur,
       coalesce(last_value(dr_here IGNORE NULLS)
                  OVER (PARTITION BY event_type ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS drift
FROM dr
"""

register("drift_eddm", _EDDM_ORACLE)(_drift_query("eddm", threshold=0.7, warmup=50))

# FHDDM: sliding accuracy window vs running max accuracy with the Hoeffding
# bound sqrt(ln(1/δ)/(2w)); the first emitted accuracy is at rn = w+1
# (python kernel seeds the window with rows 1..w then slides), covering rows
# rn-w+1..rn.
_FHDDM_ORACLE = """
WITH thr AS (
  SELECT event_type, quantile_cont(value, 0.9) AS p90 FROM events GROUP BY event_type
), err AS (
  SELECT e.event_type, e.event_id, e.ts,
         CASE WHEN e.value > t.p90 THEN 1 ELSE 0 END AS is_error
  FROM events e JOIN thr t USING (event_type)
), c AS (
  SELECT *,
         row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn,
         avg(1.0 - is_error) OVER (PARTITION BY event_type ORDER BY ts, event_id
                                   ROWS BETWEEN 99 PRECEDING AND CURRENT ROW) AS acc_raw
  FROM err
), a AS (
  SELECT *, CASE WHEN rn > 100 THEN acc_raw END AS acc FROM c
), m AS (
  SELECT *, max(acc) OVER (PARTITION BY event_type ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS max_acc
  FROM a
)
SELECT event_type, event_id, is_error, round(acc, 6) AS acc,
       CASE WHEN acc IS NOT NULL
              AND (max_acc - acc) > sqrt(ln(1000000.0) / 200.0)
            THEN 1 ELSE 0 END AS drift
FROM m
"""

register("drift_fhddm", _FHDDM_ORACLE)(
    _drift_query("fhddm", conf_level=1e-6, win_size=100)
)
# ECDD: EWMA chart z_t = 0.9 z_{t-1} + 0.1 v_t vs pr + L*sd_z. The recursion
# expands to a geometric-weighted sum; truncating the window at 300 rows
# leaves error <= 0.9^300 ~ 2e-14, far below the round-6 tolerance. sd_z uses
# the pre-increment count (rn-1), matching the python kernel.
_ECDD_ORACLE = """
WITH thr AS (
  SELECT event_type, quantile_cont(value, 0.9) AS p90 FROM events GROUP BY event_type
), err AS (
  SELECT e.event_type, e.event_id, e.ts,
         CASE WHEN e.value > t.p90 THEN 1 ELSE 0 END AS is_error
  FROM events e JOIN thr t USING (event_type)
), c AS (
  SELECT *,
         row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn,
         avg(is_error * 1.0) OVER (PARTITION BY event_type ORDER BY ts, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pr,
         list(is_error) OVER (PARTITION BY event_type ORDER BY ts, event_id
                              ROWS BETWEEN 299 PRECEDING AND CURRENT ROW) AS lst
  FROM err
), zc AS (
  SELECT *,
         0.1 * list_sum(list_transform(lst, (x, i) -> x * power(0.9, len(lst) - i))) AS z,
         sqrt(pr * (1 - pr) * 0.1 * (1 - power(0.81, rn - 1)) / 1.9) AS sdz
  FROM c
)
SELECT event_type, event_id, is_error, round(z, 6) AS z,
       CASE WHEN rn > 50 AND z > pr + 4.0 * sdz THEN 1 ELSE 0 END AS drift
FROM zc
"""

register("drift_ecdd", _ECDD_ORACLE)(
    _drift_query("ecdd", threshold=4.0, expf=0.1, warmup=50)
)

# aggregateDrift/anyDrift/allDrift consensus (sucodr SupConceptDrift): combine
# per-detector flags; the oracle nests the two member detectors' full SQL.
_CONSENSUS_ORACLE = f"""
WITH ddm AS (
  SELECT event_type, event_id, drift AS drift_ddm FROM ({_DDM_ORACLE})
), fh AS (
  SELECT event_type, event_id, drift AS drift_fhddm FROM ({_FHDDM_ORACLE})
)
SELECT d.event_type, d.event_id, d.drift_ddm, f.drift_fhddm,
       CASE WHEN d.drift_ddm + f.drift_fhddm >= 1 THEN 1 ELSE 0 END AS drift_consensus
FROM ddm d JOIN fh f ON d.event_type = f.event_type AND d.event_id = f.event_id
"""


@register("drift_consensus", _CONSENSUS_ORACLE)
def q_drift_consensus(spark: SparkSession, sf_dir: str) -> DataFrame:
    errs = _error_stream(spark, sf_dir)
    # one sorted pass evaluates both member detectors (drift_detect_multi):
    # flags are bit-identical to the joined two-pass form, without the
    # second kernel pass + fact-fact sort-merge join it paid
    both = drift_mod.drift_detect_multi(
        errs, ["event_type"], "ts", "is_error",
        [
            ("drift_ddm", "ddm", {"threshold": 3.0, "warmup": 50}),
            ("drift_fhddm", "fhddm", {"conf_level": 1e-6, "win_size": 100}),
        ],
        order_cols=["event_id"],
    ).select("event_type", "event_id", "drift_ddm", "drift_fhddm")
    out = drift_mod.consensus_drift(both, ["drift_ddm", "drift_fhddm"], consensus="any")
    return out.select(
        "event_type", "event_id", "drift_ddm", "drift_fhddm", "drift_consensus"
    )


_NEIGHBOR_DENSITY_ORACLE = """
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
), pairs AS (
  SELECT a.vec_id AS src, b.vec_id AS dst,
         sqrt(list_sum(list_transform(list_zip(a.vec, b.vec),
                                      p -> (p[1] - p[2]) * (p[1] - p[2])))) AS dist
  FROM v a JOIN v b ON a.vec_id <> b.vec_id
), nn AS (
  SELECT src, dst, dist,
         row_number() OVER (PARTITION BY src ORDER BY dist ASC, dst ASC) AS nn_rank
  FROM pairs
), topk AS (
  SELECT src, dst, dist FROM nn WHERE nn_rank <= 5
), dens AS (
  SELECT src AS dst, 1000.0 / (avg(dist) + 1e-10) AS dst_density FROM topk GROUP BY src
)
SELECT t.src, t.dst, round(d.dst_density, 6) AS dst_density
FROM topk t JOIN dens d USING (dst)
"""


@register("neighbor_density", _NEIGHBOR_DENSITY_ORACLE)
def q_neighbor_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = knn.neighbor_density(_pairs(spark, sf_dir), k=5, scale=1000.0)
    return _round(out, ["dst_density"])


_MEDIA_FEATURES_ORACLE = """
WITH h AS (
  SELECT doc_id AS media_id,
         octet_length(CAST(text AS BLOB)) AS n_bytes,
         -- SHA-256 counter-mode 'decode' (32 blocks -> 1024 pseudo-pixels);
         -- keep the high nibble of each byte = first hex char of each pair
         regexp_replace(
           string_agg(sha256(text || CAST(j AS VARCHAR)), '' ORDER BY j),
           '(.).', '\\1', 'g') AS nib
  FROM documents, generate_series(0, 31) AS t(j)
  GROUP BY doc_id, text
)
SELECT media_id, n_bytes,
       -- 16-bucket histogram of 8-bit pixels == high-nibble frequency;
       -- /1024.0 is a power-of-two division so the double is exact
       round((length(nib) - length(replace(nib, '0', ''))) / 1024.0, 6) AS f0,
       round((length(nib) - length(replace(nib, '7', ''))) / 1024.0, 6) AS f7
FROM h
"""


@register("media_features", _MEDIA_FEATURES_ORACLE)
def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing over driver data: documents' text bytes stand in
    for opaque media payloads; deterministic SHA-256 counter-mode decode
    (reproduced bit-for-bit by the DuckDB oracle)."""
    docs = load_table(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.col("text").cast("binary").alias("payload"),
    )
    out = multimodal.decode_features(media, decode="fake", n_features=16)
    return out.select(
        "media_id", "n_bytes", F.round(F.element_at("features", 1), 6).alias("f0"),
        F.round(F.element_at("features", 8), 6).alias("f7"),
    )


# Real-PNG variant of media_features: same SHA-256 counter raster, but the
# payload is a GENUINE PNG (32x32 grayscale, level-0 zlib stored blocks,
# scanline filters cycling None/Sub/Up/Average/Paeth across rows) decoded
# back by the stdlib PNG codec. Level-0 zlib framing is fully determined by
# the spec, so the payload size is a constant the oracle states exactly:
# 8 (signature) + 25 (IHDR) + 12 + (2 + 5 + 33*32 + 4) (IDAT: zlib header +
# stored-block header + filterbyte-prefixed raster + adler32) + 12 (IEND).
_PNG_MEDIA_BYTES = 8 + 25 + 12 + (2 + 5 + 33 * 32 + 4) + 12  # = 1124

_MEDIA_FEATURES_PNG_ORACLE = f"""
WITH h AS (
  SELECT doc_id AS media_id,
         regexp_replace(
           string_agg(sha256(text || CAST(j AS VARCHAR)), '' ORDER BY j),
           '(.).', '\\1', 'g') AS nib
  FROM documents, generate_series(0, 31) AS t(j)
  GROUP BY doc_id, text
)
SELECT media_id, CAST({_PNG_MEDIA_BYTES} AS BIGINT) AS n_bytes,
       round((length(nib) - length(replace(nib, '0', ''))) / 1024.0, 6) AS f0,
       round((length(nib) - length(replace(nib, '7', ''))) / 1024.0, 6) AS f7
FROM h
"""


@register("media_features_png", _MEDIA_FEATURES_PNG_ORACLE)
def q_media_features_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mainstream-image-codec execution proof as a driver-checked query:
    each document's text expands through the SAME deterministic SHA-256
    counter stream as media_features, but the raster is then ENCODED as a
    genuine PNG (multimodal.png_encode — level-0 zlib, all five scanline
    filters cycling across rows) and decoded back by the stdlib PNG codec
    (multimodal._png_pixels: chunk walk, zlib inflate, numpy unfilter)
    inside the Arrow-batched mapInPandas path. The oracle replays only the
    raster arithmetic — any codec bug on either side of the round trip
    breaks the value hash. Payload size is the spec-determined constant
    _PNG_MEDIA_BYTES, asserted exactly."""
    media = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        # text cast to binary IS the UTF-8 byte payload the raster
        # derives from — identical input to the former text-column form
        F.col("text").cast("binary").alias("payload"),
    )
    out = multimodal.decode_features(
        _png_encode_media(media), decode="png", n_features=16
    )
    return out.select(
        "media_id",
        "n_bytes",
        F.round(F.element_at("features", 1), 6).alias("f0"),
        F.round(F.element_at("features", 8), 6).alias("f7"),
    )


@register("media_features_jpg", _media_features_jpg_oracle)
def q_media_features_jpg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lossy-mainstream-codec execution proof: each document's
    deterministic raster is ENCODED as a genuine baseline JPEG
    (multimodal.jpg_encode — DCT, Annex K quantization, canonical
    huffman, byte stuffing) and decoded back by the stdlib JPEG decoder
    (multimodal._jpg_pixels) inside the mapInPandas batch path. The
    codec half is replayed off-Spark by the model-baked oracle with the
    same kernels (the lossy decode is not SQL-expressible); payload
    sizes and histogram features hash-verify in DuckDB. Completes the
    mainstream pair with media_features_png (deflate-lossless +
    huffman-DCT-lossy). Bounded to the deterministic doc_id % 4 = 0
    subset: the per-bit huffman entropy loops are Python-side (the
    documented slow-but-real in-sandbox path; Pillow is the fast
    swap-in), and the driver's bench budget wants the registered form
    bounded — the codec coverage is identical."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 4 == 0)
        .select(F.col("doc_id").alias("media_id"), "text")
    )

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            payloads = [
                multimodal.jpg_encode(
                    multimodal._fake_pixels(t.encode("utf-8"), 32, 32).astype("int64")
                )
                for t in pdf["text"]
            ]
            yield pd.DataFrame(
                {"media_id": pdf["media_id"].to_numpy(), "payload": payloads}
            )

    media = docs.mapInPandas(encode, schema="media_id long, payload binary")
    out = multimodal.decode_features(media, decode="jpg", n_features=16)
    return out.select(
        "media_id",
        "n_bytes",
        F.round(F.element_at("features", 1), 6).alias("f0"),
        F.round(F.element_at("features", 8), 6).alias("f7"),
    )


# Multimodal near-dup composition: decode -> int8 quantize -> exact-cosine
# pair generation. The int8 step is what makes the pair decision ENGINE-
# EXACT, not merely close: integer code dot products and squared norms are
# exact in float64, so dot/(na*nb) is bit-identical in numpy and DuckDB and
# the threshold compare can never flip on summation-order noise (cosine is
# scale-invariant per vector, so the per-vector quantization scale cancels).
_MEDIA_DUP_T = 0.997
_NIBBLES = list("0123456789abcdef")
_MEDIA_DUP_ORACLE = f"""
WITH h AS (
  SELECT doc_id AS media_id,
         regexp_replace(string_agg(sha256(text || CAST(j AS VARCHAR)), '' ORDER BY j),
                        '(.).', '\\1', 'g') AS nib
  FROM documents, generate_series(0, 31) AS t(j)
  GROUP BY doc_id, text
), feat AS (
  SELECT media_id,
         [{", ".join(f"(length(nib) - length(replace(nib, '{c}', ''))) / 1024.0" for c in _NIBBLES)}] AS f
  FROM h
), q AS (
  SELECT media_id,
         list_transform(f, x -> CAST(round(x * CASE WHEN m > 0 THEN 127.0/m ELSE 0.0 END) AS BIGINT)) AS codes
  FROM (SELECT media_id, f, list_max(list_transform(f, x -> abs(x))) AS m FROM feat)
), p AS (
  SELECT a.media_id AS src, b.media_id AS dst,
         CAST(list_sum(list_transform(list_zip(a.codes, b.codes), z -> z[1]*z[2])) AS DOUBLE) AS dot,
         sqrt(CAST(list_sum(list_transform(a.codes, x -> x*x)) AS DOUBLE)) AS na,
         sqrt(CAST(list_sum(list_transform(b.codes, x -> x*x)) AS DOUBLE)) AS nb
  FROM q a JOIN q b ON a.media_id < b.media_id
)
SELECT src, dst, round(dot / (na * nb), 6) AS cosine
FROM p WHERE dot / (na * nb) >= {_MEDIA_DUP_T}
"""


@register("media_dup_pairs", _MEDIA_DUP_ORACLE)
def q_media_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal near-dup: decode_features (16-bucket histogram over the
    deterministic pseudo-decode) -> quantize_int8 -> cosine_dup_pairs over
    the integer codes (blocked cogroup pair engine, no driver collect).
    Composes three verified operators into the image-dedup path a training
    pipeline runs; the oracle replays decode, quantization, and the exact
    integer-cosine comparison in DuckDB.

    Scale note: this registry form uses the exact all-pairs engine (the
    oracle-verifiable correctness path — distributed and memory-bounded,
    but O(N^2) work). At corpus scale swap the pair stage for the
    LSH-bucketed builder on the same codes
    (knn.lsh_pair_distances(..., n_planes='auto')) or SimHash banding —
    the identical swap the embedding dedup family documents."""
    from ..operators import similarity

    docs = load_table(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.col("text").cast("binary").alias("payload"),
    )
    feats = multimodal.decode_features(media, decode="fake", n_features=16)
    q = similarity.quantize_int8(feats, "media_id", "features")
    pairs = similarity.cosine_dup_pairs(
        q.select("media_id", "codes"), "media_id", "codes", threshold=_MEDIA_DUP_T
    )
    return pairs.select("src", "dst", F.round("cosine", 6).alias("cosine"))


def _media_dup_pairs_lsh_oracle(sf_dir: str) -> str:
    """Model-baked oracle for the LSH-bucketed media near-dup query: the
    seeded hyperplane signatures (the model component — auto plane count,
    centering mean, random.Random(42) gaussians) are replayed off-Spark
    with the SAME deterministic kernels over the sha-counter raster each
    doc derives from its text, and baked as VALUES; the accounting half —
    nibble-histogram features, int8 quantization, exact integer cosine,
    threshold — is verified in DuckDB by the same CTEs as the exact
    all-pairs oracle, restricted to signature-hamming <= 1 candidates
    (bit_count(xor(...))). A bucketing bug on the Spark side changes the
    candidate set and breaks the hash, because the driver's Spark run
    buckets for real."""
    import random

    import numpy as np

    from ..operators.knn import auto_planes
    from ..operators.multimodal import _fake_pixels
    from .model_oracles import _read

    pdf = _read(sf_dir, "documents", ["doc_id", "text"])
    n = len(pdf)
    if n == 0:
        # empty fixture: an empty VALUES list is a SQL syntax error — emit
        # an empty result with the right column shape
        return (
            "SELECT CAST(NULL AS BIGINT) AS src, CAST(NULL AS BIGINT) AS dst,"
            " CAST(NULL AS DOUBLE) AS cosine WHERE FALSE"
        )
    feats = []
    for text in pdf["text"]:
        px = _fake_pixels(text.encode("utf-8"), 32, 32)
        hist = np.bincount(px.astype(np.int64).ravel() >> 4, minlength=16)
        feats.append(hist / 1024.0)
    f = np.asarray(feats, dtype=np.float64)
    m = np.abs(f).max(axis=1)
    scale = np.where(m > 0, 127.0 / m, 0.0)
    # Spark F.round is HALF_UP; features are nonnegative so floor(x+0.5)
    codes = np.floor(f * scale[:, None] + 0.5)
    n_planes = auto_planes(n, 8)
    rng = random.Random(42)
    planes = [[rng.gauss(0, 1) for _ in range(16)] for _ in range(n_planes)]
    p = np.asarray(planes, dtype=np.float64).T  # (dim, n_planes)
    # integer-valued floats: sum is exact, and the operator's quantized-
    # integer mean (floor(v*1e6+0.5) sums) reduces to the same correctly-
    # rounded S/n quotient here; python round mirrors the operator's
    # per-component round (np.round's scale-multiply can differ at a
    # representation edge)
    mean = np.array(
        [round(float(s) / n, 6) for s in codes.sum(axis=0)], dtype=np.float64
    )
    bits = ((codes - mean) @ p) >= 0
    weights = 1 << np.arange(n_planes - 1, -1, -1)
    sigs = (bits.astype(np.int64) * weights).sum(axis=1)
    sig_rows = ", ".join(
        f"({int(i)}, {int(s)})" for i, s in zip(pdf["doc_id"], sigs)
    )
    nib_counts = ", ".join(
        f"(length(nib) - length(replace(nib, '{c}', ''))) / 1024.0"
        for c in _NIBBLES
    )
    return f"""
WITH sig(media_id, sig) AS (VALUES {sig_rows}),
h AS (
  SELECT doc_id AS media_id,
         regexp_replace(string_agg(sha256(text || CAST(j AS VARCHAR)), '' ORDER BY j),
                        '(.).', '\\1', 'g') AS nib
  FROM documents, generate_series(0, 31) AS t(j)
  GROUP BY doc_id, text
), feat AS (
  SELECT media_id, [{nib_counts}] AS f
  FROM h
), q AS (
  SELECT media_id,
         list_transform(f, x -> CAST(round(x * CASE WHEN m > 0 THEN 127.0/m ELSE 0.0 END) AS BIGINT)) AS codes
  FROM (SELECT media_id, f, list_max(list_transform(f, x -> abs(x))) AS m FROM feat)
), p AS (
  SELECT a.media_id AS src, b.media_id AS dst,
         CAST(list_sum(list_transform(list_zip(a.codes, b.codes), z -> z[1]*z[2])) AS DOUBLE) AS dot,
         sqrt(CAST(list_sum(list_transform(a.codes, x -> x*x)) AS DOUBLE)) AS na,
         sqrt(CAST(list_sum(list_transform(b.codes, x -> x*x)) AS DOUBLE)) AS nb
  FROM q a JOIN q b ON a.media_id < b.media_id
  JOIN sig sa ON sa.media_id = a.media_id
  JOIN sig sb ON sb.media_id = b.media_id
  WHERE bit_count(xor(sa.sig, sb.sig)) <= 1
)
SELECT src, dst, round(dot / (na * nb), 6) AS cosine
FROM p WHERE dot / (na * nb) >= {_MEDIA_DUP_T}
"""


@register("media_dup_pairs_lsh", _media_dup_pairs_lsh_oracle)
def q_media_dup_pairs_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal near-dup, SCALE form: the same decode -> int8-quantize ->
    threshold-cosine composition as media_dup_pairs, with the pair stage
    swapped from the exact all-pairs engine to the LSH-bucketed candidate
    builder (similarity.cosine_dup_pairs_lsh, n_planes='auto', centered
    signatures) — the registered, driver-checked version of the swap the
    exact query's scale note documents, mirroring semantic_dedup's
    n_topics='auto' move. Work is N^2/2^planes with the plane count
    tracking N, so the query stays near-linear as the corpus grows
    (BASELINE.md §8); output is the candidate-restricted subset of
    media_dup_pairs (exact duplicates always collide — identical vectors
    share a signature — so dedup recall on true copies is 1)."""
    from ..operators import similarity

    docs = load_table(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.col("text").cast("binary").alias("payload"),
    )
    feats = multimodal.decode_features(media, decode="fake", n_features=16)
    q = similarity.quantize_int8(feats, "media_id", "features")
    pairs = similarity.cosine_dup_pairs_lsh(
        q.select("media_id", "codes"),
        "media_id",
        "codes",
        threshold=_MEDIA_DUP_T,
        n_planes="auto",
        target_bucket=8,
    )
    return pairs.select("src", "dst", F.round("cosine", 6).alias("cosine"))


# 8x8 subsample of the 32x32 pseudo-image: row/col indices
# np.linspace(0,31,8).astype(int) = [0,4,8,13,17,22,26,31], baked as literal
# flat positions so the oracle does not re-derive numpy's linspace rounding
_RESIZE_POSITIONS = "[0,4,8,13,17,22,26,31,128,132,136,141,145,150,154,159,256,260,264,269,273,278,282,287,416,420,424,429,433,438,442,447,544,548,552,557,561,566,570,575,704,708,712,717,721,726,730,735,832,836,840,845,849,854,858,863,992,996,1000,1005,1009,1014,1018,1023]"

_MEDIA_RESIZE_ORACLE = f"""
WITH h AS (
  SELECT doc_id AS media_id,
         string_agg(sha256(text || CAST(j AS VARCHAR)), '' ORDER BY j) AS hex
  FROM documents, generate_series(0, 31) AS t(j)
  GROUP BY doc_id
)
SELECT media_id, 8 AS width, 8 AS height,
       CAST(sum(('0x' || substr(hex, 2*p + 1, 2))::INT) AS BIGINT) AS px_sum
FROM h, unnest({_RESIZE_POSITIONS}) AS u(p)
GROUP BY media_id
"""


@register("media_resize", _MEDIA_RESIZE_ORACLE)
def q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8x8 downsample of the pseudo-decoded 32x32 image; the driver check
    hashes the sampled-pixel sum (the pixels array itself is
    format-unstable across engines)."""
    docs = load_table(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.col("text").cast("binary").alias("payload"),
    )
    out = multimodal.resize(media, width=8, height=8, decode="fake")
    return out.select(
        "media_id",
        "width",
        "height",
        F.aggregate(
            "pixels", F.lit(0).cast("long"), lambda acc, x: acc + x.cast("long")
        ).alias("px_sum"),
    )


_MEDIA_FRAMES_ORACLE = """
WITH m AS (
  SELECT doc_id AS media_id, text,
         -- numpy .astype(int) truncates; DuckDB CAST rounds -> use floor
         greatest(1, CAST(floor(n_chars * 100 / 1000.0) AS INT)) AS n_frames
  FROM documents
), fr AS (
  -- DuckDB's generate_series accepts only constants: join a fixed series
  -- sized for the fixture envelope (max n_chars ~600 -> <=60 frames) and
  -- filter per row
  SELECT media_id, text, CAST(f.idx AS INT) AS frame_idx,
         CAST(f.idx * 1000 AS BIGINT) AS offset_ms
  FROM m JOIN generate_series(0, 99) AS f(idx) ON f.idx < m.n_frames
), h AS (
  SELECT media_id, frame_idx, offset_ms,
         string_agg(sha256(text || ':' || CAST(offset_ms AS VARCHAR)
                           || CAST(j AS VARCHAR)), '' ORDER BY j) AS hex
  FROM fr, generate_series(0, 1) AS t(j)
  GROUP BY media_id, frame_idx, offset_ms, text
)
SELECT media_id, frame_idx, offset_ms,
       round(sum(('0x' || substr(hex, 2*p + 1, 2))::INT) / 255.0, 6) AS ff_sum
FROM h, generate_series(0, 63) AS u(p)
GROUP BY media_id, frame_idx, offset_ms
"""


@register("media_frames", _MEDIA_FRAMES_ORACLE)
def q_media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling: duration derives from n_chars (100 ms per
    char), fps=1 -> one frame per second of 'video'; the check hashes the
    per-frame feature sum. Feature sums are sums of byte/255 terms — the
    oracle sums the bytes first and divides once; the <=1e-13 order skew is
    absorbed by round-to-6."""
    docs = load_table(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("video").alias("kind"),
        F.col("text").cast("binary").alias("payload"),
        F.struct(
            F.lit("fake").alias("format"),
            F.lit(32).alias("width"),
            F.lit(32).alias("height"),
            (F.col("n_chars") * 100).cast("int").alias("duration_ms"),
        ).alias("meta"),
    )
    out = multimodal.sample_frames(media, fps=1.0, decode="fake")
    return out.select(
        "media_id",
        "frame_idx",
        "offset_ms",
        F.round(
            F.aggregate(
                "frame_features", F.lit(0.0), lambda acc, x: acc + x
            ),
            6,
        ).alias("ff_sum"),
    )


_AUDIO_FEATURES_ORACLE = """
WITH hx AS (
  SELECT doc_id AS media_id,
         octet_length(CAST(text AS BLOB)) AS n_bytes,
         string_agg(sha256(text || CAST(j AS VARCHAR)), '' ORDER BY j) AS hex
  FROM documents, generate_series(0, 31) AS t(j)
  GROUP BY doc_id, text
), samples AS (
  -- unsigned 8-bit PCM centered at 128: byte i = hex chars [2i+1, 2i+2]
  SELECT media_id, i,
         ('0x' || substr(hex, i * 2 + 1, 2))::INT - 128 AS x
  FROM hx, generate_series(0, 1023) AS s(i)
), nbr AS (
  SELECT media_id, x,
         lead(x) OVER (PARTITION BY media_id ORDER BY i) AS nx
  FROM samples
), feat AS (
  SELECT media_id,
         -- int64 square-sum, power-of-two division, IEEE sqrt: bit-exact
         round(sqrt(sum(CAST(x AS BIGINT) * x) / 1024.0), 6) AS rms,
         CAST(max(abs(x)) AS INT) AS peak
  FROM samples GROUP BY media_id
), zc AS (
  SELECT media_id,
         CAST(count(*) FILTER ((x < 0) <> (nx < 0)) AS INT) AS zero_cross
  FROM nbr WHERE nx IS NOT NULL GROUP BY media_id
)
SELECT h.media_id, h.n_bytes, f.rms, f.peak, z.zero_cross
FROM hx h JOIN feat f USING (media_id) JOIN zc z USING (media_id)
"""


@register("audio_features", _AUDIO_FEATURES_ORACLE)
def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-clip features over the fake-PCM decode (multimodal.
    audio_features): RMS is bit-exact cross-engine (int64 square-sum,
    exact /2^10, correctly-rounded IEEE sqrt), peak and zero-crossings are
    integers."""
    docs = load_table(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("audio").alias("kind"),
        F.col("text").cast("binary").alias("payload"),
    )
    out = multimodal.audio_features(media, decode="fake", n_samples=1024)
    return out.select(
        "media_id", "n_bytes", F.round("rms", 6).alias("rms"), "peak", "zero_cross"
    )


from .model_oracles import media_phash_dup_oracle as _media_phash_dup_oracle  # noqa: E402


def _planted_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents-as-media frame with planted duplicates: every
    doc_id % 7 == 0 payload repeated under id + 10_000_000. ONE source of
    truth for both pHash queries — the plant modulus/offset must stay
    byte-identical to the baked oracle's replay
    (model_oracles.media_phash_dup_oracle)."""
    docs = load_table(spark, sf_dir, "documents")
    media = docs.filter(F.col("text").isNotNull()).select(
        F.col("doc_id").alias("media_id"),
        F.col("text").cast("binary").alias("payload"),
    )
    planted = media.filter(F.col("media_id") % 7 == 0).select(
        (F.col("media_id") + 10_000_000).alias("media_id"), "payload"
    )
    return media.union(planted)


@register("media_phash_dup_pairs", _media_phash_dup_oracle)
def q_media_phash_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash media dedup (multimodal.phash64 + phash_dup_pairs):
    64-bit DCT pHash per item, banded 4x16-bit candidates, exact
    band-wise bit_count(xor) hamming verify at <= 3 — the image-side
    SimHash. Planted duplicates (every doc_id % 7 == 0 payload repeated
    under a shifted id) make the nonzero detection path part of the
    certified result on every draw; the fake-decode rasters are
    pseudo-random, so organic sub-3-bit collisions are vanishingly rare
    and the planted pairs ARE the expected output. The oracle replays
    the DCT kernel off-Spark and re-runs banding + hamming in DuckDB."""
    hashed = multimodal.phash64(_planted_media(spark, sf_dir), decode="fake")
    return multimodal.phash_dup_pairs(hashed, max_hamming=3)


@register(
    "media_phash_dup_pairs_c2",
    lambda sf_dir: _media_phash_dup_oracle(sf_dir, composite=True),
)
def q_media_phash_dup_pairs_c2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-scale form of the pHash media dedup: candidates must share
    a composite band PAIR (C(4,2)=6 concatenated 32-bit signatures), so
    buckets hold N/2^32 items instead of the single-band N/2^16 floor —
    the 100x capture showed the single-band candidate volume growing
    N^2/2^16 (BASELINE.md §8.6). Pigeonhole covers hamming <= 2 (two
    flips disturb at most two bands, leaving an intact pair) — the
    practical near-dup radius for 64-bit pHash at corpus scale. Same
    planted %7 duplicates; same baked-kernel oracle with composite
    candidates."""
    hashed = multimodal.phash64(_planted_media(spark, sf_dir), decode="fake")
    return multimodal.phash_dup_pairs(
        hashed, max_hamming=2, composite_bands=True
    )


def _png_encode_media(media: DataFrame) -> DataFrame:
    """Encode (media_id, payload) rows as genuine PNGs via the shared
    fixture convention (level-0 zlib, scanline filters cycling y % 5 —
    ONE copy for media_features_png and media_phash_png, so the encoding
    convention cannot drift between their oracles), in the one media
    batch frame (``multimodal._media_map``, which spreads a one-file
    source before the per-row encode). NULL payloads are filtered first
    (the _planted_media convention), so both queries keep their row
    counts."""
    png_filters = [y % 5 for y in range(32)]

    def kernel(payloads, pdf):
        return {
            "payload": [
                multimodal.png_encode(
                    multimodal._fake_pixels(p, 32, 32).astype("int64"),
                    color=0,
                    filters=png_filters,
                )
                for p in payloads
            ]
        }

    return multimodal._media_map(
        media.filter(F.col("payload").isNotNull()),
        "media_id", "payload", "media_id long, payload binary", kernel,
    )


@register("media_phash_png", _media_phash_dup_oracle)
def q_media_phash_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pHash media dedup THROUGH the real PNG codec: each raster is
    encoded as a genuine PNG (png_encode — level-0 zlib, cycling scanline
    filters) and the pHash kernel consumes the payload via the stdlib
    PNG DECODER (phash64(decode='png')). PNG is lossless, so the decoded
    raster — and therefore every hash, band, and pair — must equal the
    direct-raster form bit-for-bit: the oracle is REUSED VERBATIM from
    media_phash_dup_pairs, and any encode/decode bug on either codec
    half breaks the value hash. Same planted %7 duplicates."""
    pngs = _png_encode_media(_planted_media(spark, sf_dir))
    hashed = multimodal.phash64(pngs, decode="png")
    return multimodal.phash_dup_pairs(hashed, max_hamming=3)


from .model_oracles import audio_fp_dup_oracle as _audio_fp_dup_oracle  # noqa: E402


@register("audio_dup_pairs", _audio_fp_dup_oracle)
def q_audio_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual audio dedup (multimodal.audio_fingerprint +
    phash_dup_pairs over the 'afp' column): 64-bit sign-of-band-energy-
    delta fingerprints (gain-invariant by construction), banded
    candidates, exact hamming verify <= 3 — completing the perceptual-
    dedup family across modalities (image pHash / audio fingerprint on
    ONE hex band engine). Same planted %7 duplicates; the oracle replays
    the FFT kernel off-Spark."""
    hashed = multimodal.audio_fingerprint(
        _planted_media(spark, sf_dir), decode="fake", n_samples=1024
    )
    return multimodal.phash_dup_pairs(hashed, hash_col="afp", max_hamming=3)


@register(
    "audio_dup_pairs_c2",
    lambda sf_dir: _audio_fp_dup_oracle(sf_dir, composite=True),
)
def q_audio_dup_pairs_c2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-scale form of the audio-fingerprint dedup: the fingerprint
    rides the SAME hex band engine as image pHash, so it inherits the
    same single-band N^2/2^16 candidate floor the 100x capture measured
    (BASELINE.md §8.6) — and the same composite 2-of-4 off-ramp:
    candidates share a concatenated band PAIR (buckets at N/2^32),
    pigeonhole covering hamming <= 2. Same planted %7 duplicates; same
    baked FFT-kernel oracle with composite candidates."""
    hashed = multimodal.audio_fingerprint(
        _planted_media(spark, sf_dir), decode="fake", n_samples=1024
    )
    return multimodal.phash_dup_pairs(
        hashed, hash_col="afp", max_hamming=2, composite_bands=True
    )


from .model_oracles import video_phash_dup_oracle as _video_phash_dup_oracle  # noqa: E402


@register("video_phash_dup_pairs", _video_phash_dup_oracle)
def q_video_phash_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual video dedup (multimodal.video_phash +
    video_phash_dup_pairs), completing the modality triple on the one hex
    band engine: 4 sampled frames pHashed and concatenated, (frame, band)
    bucket candidates, and a pair survives only if EVERY aligned frame is
    within hamming 3 — one shared scene is not a duplicate. Same planted
    %7 copies; the oracle replays the frame-sampling convention and both
    kernels off-Spark."""
    hashed = multimodal.video_phash(
        _planted_media(spark, sf_dir), n_frames=4, decode="fake"
    )
    return multimodal.video_phash_dup_pairs(hashed, n_frames=4, max_hamming=3)


@register(
    "video_phash_dup_pairs_c2",
    lambda sf_dir: _video_phash_dup_oracle(sf_dir, composite=True),
)
def q_video_phash_dup_pairs_c2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-scale form of the video perceptual dedup: (frame, band)
    keys give 4*n_frames buckets per item but each 16-bit bucket still
    holds N/2^16 items — the image family's measured single-band floor
    (BASELINE.md §8.6) applies per band. Composite mode requires
    candidates to share a band PAIR within one frame (6 32-bit
    signatures per frame, buckets at N/2^32); pigeonhole covers
    per-frame hamming <= 2 and the all-frames-within-radius criterion is
    unchanged. Same planted %7 copies; same baked-kernel oracle with
    composite candidates."""
    hashed = multimodal.video_phash(
        _planted_media(spark, sf_dir), n_frames=4, decode="fake"
    )
    return multimodal.video_phash_dup_pairs(
        hashed, n_frames=4, max_hamming=2, composite_bands=True
    )
