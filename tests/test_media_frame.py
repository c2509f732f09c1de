"""The shared media batch frame (operators/multimodal.py): the decode
gate every kernel runs before planning, the one NULL-payload rule, and
pinned perceptual-hash bits."""
from __future__ import annotations

import hashlib

import numpy as np
import pytest

from beymani_spark.operators import multimodal


def test_perceptual_hashes_pinned(spark):
    """pHash, audio-fingerprint and 4-frame video-hash bits over fixed fake
    rasters and clips. Oracle parity replays these same kernels, and the
    dup-pair queries only ever find planted exact copies, so neither can
    see a hash bit that moved; this pin can."""
    rasters = np.stack(
        [multimodal._fake_pixels(f"pin raster {i}".encode(), 32, 32) for i in range(64)]
    )
    clips = [
        multimodal._fake_pixels(f"pin clip {i}".encode(), 1024, 1).ravel().astype(np.int64)
        - 128
        for i in range(64)
    ]
    videos = spark.createDataFrame(
        [(i, f"pin video {i}".encode()) for i in range(16)], "media_id long, payload binary"
    )
    vhash = [
        r.vhash for r in multimodal.video_phash(videos, n_frames=4).orderBy("media_id").collect()
    ]
    joined = "".join(
        multimodal.phash_hex(rasters) + multimodal.audio_fingerprint_hex(clips) + vhash
    )
    assert (
        hashlib.sha256(joined.encode()).hexdigest()
        == "8e7db95401b57e5d9c1263b3ae735c237754b311e4bf62475be809ef51bc4bf4"
    )


def test_resize_rejects_unknown_decode(spark):
    df = spark.createDataFrame([(1, b"x")], "media_id long, payload binary")
    with pytest.raises(ValueError, match="unknown decode mode"):
        multimodal.resize(df, decode="bogus")


def test_sample_frames_real_decode_raises_when_called(spark):
    df = spark.createDataFrame([(1, b"x")], "media_id long, payload binary")
    with pytest.raises(NotImplementedError, match="PyAV"):
        multimodal.sample_frames(df, decode="real")


#: kernel -> its declared output schema (unchanged by NULL payloads)
_KERNELS = {
    "decode_features": (
        multimodal.decode_features,
        "media_id:bigint,n_bytes:bigint,features:array<double>",
    ),
    "resize": (
        multimodal.resize,
        "media_id:bigint,width:int,height:int,pixels:array<int>",
    ),
    "sample_frames": (
        multimodal.sample_frames,
        "media_id:bigint,frame_idx:int,offset_ms:bigint,frame_features:array<double>",
    ),
    "audio_features": (
        multimodal.audio_features,
        "media_id:bigint,n_bytes:bigint,rms:double,peak:int,zero_cross:int",
    ),
    "phash64": (multimodal.phash64, "media_id:bigint,phash:string"),
    "audio_fingerprint": (multimodal.audio_fingerprint, "media_id:bigint,afp:string"),
    "video_phash": (multimodal.video_phash, "media_id:bigint,vhash:string"),
}


@pytest.mark.parametrize("name", sorted(_KERNELS))
def test_media_kernel_null_payload_and_empty_frame(spark, name):
    """A NULL payload yields one row with its id and NULL outputs (for
    sample_frames, explode_outer semantics); the other rows of its batch
    keep exactly the values they get without it, and an empty frame gives
    no rows. The declared schema is the same in every case."""
    kernel, schema = _KERNELS[name]
    meta = ("mp4", 16, 16, 2500)
    rows = [
        (i, "video", None if i % 3 == 1 else f"media {i}".encode(), meta)
        for i in range(12)
    ]
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    out = kernel(df)
    assert out.schema.simpleString() == f"struct<{schema}>"
    got = out.collect()
    nulls = [r for r in got if r.media_id % 3 == 1]
    assert sorted(r.media_id for r in nulls) == [1, 4, 7, 10]
    assert all(v is None for r in nulls for v in r[1:])
    live = kernel(df.filter("payload IS NOT NULL")).collect()
    assert sorted(r for r in got if r.media_id % 3 != 1) == sorted(live)
    assert all(v is not None for r in live for v in r)
    only_nulls = kernel(df.filter("payload IS NULL")).collect()
    assert sorted(only_nulls) == sorted(nulls)

    empty = kernel(df.limit(0))
    assert empty.schema.simpleString() == f"struct<{schema}>"
    assert empty.collect() == []


def test_sample_frames_without_duration_gives_one_frame(spark):
    """A present ``meta`` with a NULL ``duration_ms`` follows the NULL-meta
    rule (one frame at offset 0) instead of failing the query, and both
    read the same frame as a sub-second clip."""
    rows = [
        (1, "video", b"clip", ("mp4", 16, 16, None)),
        (2, "video", b"clip", None),
        (3, "video", b"clip", ("mp4", 16, 16, 400)),
        (4, "video", b"other", ("mp4", 16, 16, 2500)),
    ]
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    got = multimodal.sample_frames(df).orderBy("media_id", "frame_idx").collect()
    assert [(r.media_id, r.frame_idx, r.offset_ms) for r in got] == [
        (1, 0, 0), (2, 0, 0), (3, 0, 0), (4, 0, 0), (4, 1, 1000),
    ]
    assert got[0].frame_features == got[1].frame_features == got[2].frame_features
