"""Multimodal plumbing tests: schema contract, Arrow batch flow,
1→N frame expansion, deterministic fake decoder, the WAV/BMP decoders
and the UnsupportedMediaError contract for every other format."""

from __future__ import annotations

import struct

import pytest

from erathia_market_etl_spark.operators.multimodal import (
    DECODE_ERRORS,
    FEATURES_SCHEMA,
    UnsupportedMediaError,
    decode_real,
    extract_features,
    media_table,
    sample_frames,
)
from erathia_market_etl_spark.sources.parquet_io import load_table

from .conftest import SF_SMOKE


@pytest.fixture(scope="module")
def media(spark):
    return media_table(load_table(spark, SF_SMOKE, "documents"))


def test_media_schema(media):
    # names + types must match the contract; nullability is Catalyst's
    # inference (literals/derived exprs come out non-null) and not part of it
    assert media.schema.simpleString() == (
        "struct<media_id:bigint,kind:string,content:binary,meta:struct<"
        "width:int,height:int,channels:int,sample_rate:int,duration_ms:int,"
        "n_frames:int,codec:string>>"
    )


def test_kinds_partition_the_table(media):
    counts = {r["kind"]: r["n"] for r in media.groupBy("kind").count().withColumnRenamed("count", "n").collect()}
    assert set(counts) == {"image", "audio", "video"}
    assert sum(counts.values()) == media.count()


def test_metadata_typed_per_modality(media):
    img = media.filter("kind = 'image'").select("meta.*").first()
    assert img["width"] is not None and img["channels"] == 3 and img["sample_rate"] is None
    aud = media.filter("kind = 'audio'").select("meta.*").first()
    assert aud["sample_rate"] is not None and aud["width"] is None
    vid = media.filter("kind = 'video'").select("meta.*").first()
    assert vid["n_frames"] is not None and vid["codec"] == "h264"


def test_extract_features_schema_and_determinism(media):
    out = extract_features(media)
    assert out.schema == FEATURES_SCHEMA
    rows1 = {r["media_id"]: r["features"] for r in out.collect()}
    rows2 = {r["media_id"]: r["features"] for r in out.collect()}
    assert rows1 == rows2  # byte-level fake is deterministic
    feats = next(iter(rows1.values()))
    assert len(feats) == 8 and abs(sum(feats) - 1.0) < 1e-9


def test_sample_frames_expansion(spark, media):
    frames = sample_frames(media, every_n=10)
    per_doc = {r["media_id"]: r["n"] for r in
               frames.groupBy("media_id").count().withColumnRenamed("count", "n").collect()}
    vids = {r["media_id"]: r["n_frames"] for r in
            media.filter("kind='video'").select("media_id", "meta.n_frames").collect()}
    assert set(per_doc) == set(vids)
    for mid, nf in vids.items():
        assert per_doc[mid] == (nf + 9) // 10  # ceil(n_frames / 10)


def test_decode_real_compressed_is_gated():
    # video containers and PNG have no decoder: a named error, not a
    # NotImplementedError
    with pytest.raises(UnsupportedMediaError):
        decode_real(b"\x00\x00\x00\x18ftypmp42-fake-h264")
    with pytest.raises(UnsupportedMediaError):
        decode_real(b"\x89PNG\r\n\x1a\nxxxx")
    # garbage after the JPEG SOI magic is a corrupt supported payload
    with pytest.raises(ValueError):
        decode_real(b"\xff\xd8\xff\xe0junk-jpeg")


def _riff_wave(fmt: bytes) -> bytes:
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _sof(marker: int, ncomp: int) -> bytes:
    comps = b"".join(bytes([c + 1, 0x11, 0]) for c in range(ncomp))
    return (b"\xff\xd8" + bytes([0xFF, marker])
            + struct.pack(">HBHHB", 8 + 3 * ncomp, 8, 8, 8, ncomp) + comps)


# One minimal header per format or variant the engine does not decode;
# each must be refused at the header, so no body is needed.
UNSUPPORTED_MEDIA = {
    "png": b"\x89PNG\r\n\x1a\n" + struct.pack(">I4sIIBBBBB", 13, b"IHDR",
                                              1, 1, 8, 2, 0, 0, 0),
    "gif": b"GIF89a" + struct.pack("<HHBBB", 1, 1, 0, 0, 0),
    "ppm": b"P6\n1 1\n255\n" + bytes(3),
    "wav_ima_adpcm": _riff_wave(struct.pack("<HHIIHHHH", 0x0011, 1, 8000,
                                            4000, 256, 4, 2, 505)),
    "jpeg_sof2_progressive": _sof(0xC2, 1),
    "jpeg_sof0_three_components": _sof(0xC0, 3),
    "jpeg_sof9_arithmetic": _sof(0xC9, 1),
    "unknown_magic": b"\x00\x00\x00\x18ftypmp42",
}


@pytest.mark.parametrize("case", sorted(UNSUPPORTED_MEDIA))
def test_unsupported_media_raises_named_error(case):
    with pytest.raises(UnsupportedMediaError):
        decode_real(UNSUPPORTED_MEDIA[case])


def test_resize_image_real_drops_unsupported_media(spark):
    """Every unsupported payload is dropped by the row path; none fails
    the task."""
    from erathia_market_etl_spark.operators.multimodal import resize_image_real

    media = spark.createDataFrame(
        [(i, bytearray(UNSUPPORTED_MEDIA[c]))
         for i, c in enumerate(sorted(UNSUPPORTED_MEDIA))],
        "media_id long, content binary",
    )
    assert resize_image_real(media, 4, 4).collect() == []


def test_wav_roundtrip_real():
    import numpy as np

    from erathia_market_etl_spark.operators.multimodal import (
        decode_wav,
        encode_wav,
    )

    rng = np.arange(-32768, 32767, 77, dtype=np.int64)
    payload = encode_wav(rng, 16000)
    assert payload[:4] == b"RIFF" and payload[8:12] == b"WAVE"
    samples, rate = decode_wav(payload)
    assert rate == 16000
    assert (samples.astype(np.int64) == rng).all()
    modality, (s2, r2) = decode_real(payload)
    assert modality == "audio" and r2 == 16000 and len(s2) == len(rng)


def test_bmp_roundtrip_real():
    import numpy as np

    from erathia_market_etl_spark.operators.multimodal import (
        decode_bmp,
        encode_bmp,
    )

    # non-multiple-of-4 width exercises row padding; asymmetric pattern
    # exercises the bottom-up row order and BGR channel swap
    img = (np.arange(7 * 5 * 3, dtype=np.uint32) * 37 % 256).astype(
        np.uint8
    ).reshape(7, 5, 3)
    payload = encode_bmp(img)
    assert payload[:2] == b"BM"
    out = decode_bmp(payload)
    assert (out == img).all()
    modality, img2 = decode_real(payload)
    assert modality == "image" and (img2 == img).all()


def test_resample_nearest_arithmetic():
    import numpy as np

    from erathia_market_etl_spark.operators.multimodal import resample_nearest

    img = np.arange(8 * 8 * 3, dtype=np.uint8).reshape(8, 8, 3)
    out = resample_nearest(img, 4, 2)
    assert out.shape == (2, 4, 3)
    # src index = floor(dst * src_dim / dst_dim)
    for y in range(2):
        for x in range(4):
            assert (out[y, x] == img[(y * 8) // 2, (x * 8) // 4]).all()


def test_resize_image_real_end_to_end(spark):
    """Decode -> nearest-neighbor resample -> re-encode through the
    Arrow boundary: output payloads are valid BMPs of the target size
    whose pixels equal the numpy-side resample; undecodable and NULL
    payloads are dropped, audio payloads are routed out."""
    import numpy as np

    from erathia_market_etl_spark.operators.multimodal import (
        decode_bmp,
        encode_bmp,
        encode_wav,
        resample_nearest,
        resize_image_real,
    )

    img1 = (np.arange(16 * 12 * 3, dtype=np.uint32) * 13 % 256).astype(
        np.uint8
    ).reshape(16, 12, 3)
    img2 = np.full((5, 9, 3), 200, dtype=np.uint8)
    rows = [
        (1, bytearray(encode_bmp(img1))),
        (2, bytearray(encode_bmp(img2))),
        (3, bytearray(encode_wav(np.zeros(4, dtype=np.int64), 8000))),  # audio
        (4, bytearray(b"garbage-not-an-image")),
        (5, None),
        (6, bytearray(b"BM\x00\x01")),  # truncated BMP header (struct.error)
        (7, bytearray(b"RIFF\x04\x00\x00\x00WAVEjunk")),  # corrupt RIFF (wave.Error)
        (8, bytearray(encode_bmp(img1)[:30])),  # header ok, pixel data truncated
    ]
    media = spark.createDataFrame(rows, "media_id long, content binary")
    out = {r["media_id"]: r for r in resize_image_real(media, 8, 8).collect()}
    assert set(out) == {1, 2}
    for mid, img in [(1, img1), (2, img2)]:
        got = decode_bmp(bytes(out[mid]["content"]))
        assert got.shape == (8, 8, 3)
        assert (got == resample_nearest(img, 8, 8)).all()
        assert out[mid]["width"] == 8 and out[mid]["height"] == 8


def test_fixture_text_is_ascii_and_nonempty(spark):
    """The media_feature_extract oracle histograms per-CHARACTER ord()
    while Spark histograms utf-8 BYTES — identical only while the
    fixture payload is pure ASCII (r4 ADVICE: pin the vintage; a
    non-ASCII regeneration must fail loudly here, not drift silently).
    Empty text is separately safe (LEFT JOIN + COALESCE oracle twin of
    the decoder's zeros-histogram guard), so only ASCII-ness needs the
    live-fixture pin."""
    from pyspark.sql import functions as F

    from .conftest import SF_T2

    for sf in (SF_SMOKE, SF_T2):
        docs = load_table(spark, sf, "documents")
        non_ascii = docs.filter(F.col("text").rlike(r"[^\x00-\x7F]")).count()
        assert non_ascii == 0, f"non-ASCII text in {sf} breaks the ord() oracle"


def test_feature_extract_null_payload(spark):
    """NULL content decodes like empty bytes (zeros histogram, n_bytes
    0) instead of raising len(None) inside the Arrow worker."""
    from erathia_market_etl_spark.operators.multimodal import extract_features

    media = spark.createDataFrame(
        [(1, "image", None), (2, "image", bytearray(b"abc"))],
        "media_id long, kind string, content binary",
    )
    out = {r["media_id"]: r for r in extract_features(media).collect()}
    assert out[1]["n_bytes"] == 0
    assert out[1]["features"] == [0.0] * 8
    assert out[2]["n_bytes"] == 3


def test_sample_frames_null_rows_skipped(spark):
    """A video row with a NULL payload or NULL n_frames yields no
    frames (skipped) rather than crashing the whole batch."""
    from erathia_market_etl_spark.operators.multimodal import sample_frames

    media = spark.createDataFrame(
        [
            (1, "video", None, (None, None, None, None, None, 30, None)),
            (2, "video", bytearray(b"xyz"), (None, None, None, None, None, None, None)),
            (3, "video", bytearray(b"ok"), (None, None, None, None, None, 15, None)),
        ],
        "media_id long, kind string, content binary, "
        "meta struct<width:int,height:int,channels:int,sample_rate:int,"
        "duration_ms:int,n_frames:int,codec:string>",
    )
    rows = sample_frames(media, every_n=10).collect()
    assert {r["media_id"] for r in rows} == {3}
    assert sorted(r["frame_idx"] for r in rows) == [0, 10]


def test_decoder_fuzz_roundtrip_and_no_crash():
    """Hypothesis pins for the codec-free decoders: (a) encode→decode
    is identity for arbitrary BMP shapes/contents and arbitrary PCM16
    sample runs; (b) decode_real on ARBITRARY bytes either returns a
    decoded payload or raises one of DECODE_ERRORS — the set the
    quarantine paths in resize_image_real / wav_decode_stats catch, so
    anything outside it would fail the task."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from erathia_market_etl_spark.operators.multimodal import (
        decode_bmp,
        decode_wav,
        encode_bmp,
        encode_wav,
    )

    @settings(max_examples=150, deadline=None)
    @given(
        st.integers(min_value=1, max_value=12),
        st.integers(min_value=1, max_value=12),
        st.integers(min_value=0, max_value=2 ** 32 - 1),
    )
    def image_roundtrip(h, w, seed):
        rng = np.random.default_rng(seed)
        img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        assert (decode_bmp(encode_bmp(img)) == img).all()

    @settings(max_examples=100, deadline=None)
    @given(
        st.lists(st.integers(min_value=-32768, max_value=32767),
                 min_size=0, max_size=300),
        st.integers(min_value=1, max_value=192_000),
    )
    def wav_roundtrip(samples, rate):
        arr = np.array(samples, dtype=np.int64)
        got, got_rate = decode_wav(encode_wav(arr, rate))
        assert got_rate == rate
        assert (got.astype(np.int64) == arr).all()

    @settings(max_examples=300, deadline=None)
    @given(st.binary(min_size=0, max_size=200))
    def never_uncontrolled(payload):
        try:
            decode_real(payload)
        except DECODE_ERRORS:
            pass  # contracted failure modes for garbage input

    image_roundtrip()
    wav_roundtrip()
    never_uncontrolled()
