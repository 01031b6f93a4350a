"""Multimodal plumbing tests: schema contract, Arrow batch flow,
1→N frame expansion, deterministic fake decoder, stub gating."""

from __future__ import annotations

import pytest

from erathia_market_etl_spark.operators.multimodal import (
    FEATURES_SCHEMA,
    HAVE_CODECS,
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
    # codecs that genuinely need native libs (video) still raise until
    # they exist; WAV/BMP/PPM/PNG — and, since r15, baseline JPEG —
    # decode for real
    if not HAVE_CODECS:
        with pytest.raises(NotImplementedError):
            decode_real(b"\x00\x00\x00\x18ftypmp42-fake-h264", "video")
    # JPEG is sniffed into the REAL decoder now (r15): garbage after
    # the SOI magic is a contracted decode failure, not an unwired
    # codec (same downgrade PNG got in r9)
    with pytest.raises(ValueError):
        decode_real(b"\xff\xd8\xff\xe0junk-jpeg", "image")
    # PNG is sniffed into the REAL decoder now (r9) — garbage after the
    # signature is a contracted decode failure, not an unwired codec
    with pytest.raises(ValueError):
        decode_real(b"\x89PNG\r\n\x1a\nxxxx", "image")


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


def test_ppm_roundtrip_real():
    import numpy as np

    from erathia_market_etl_spark.operators.multimodal import decode_ppm

    from .encoders import encode_ppm

    img = (np.arange(4 * 6 * 3, dtype=np.uint32) * 31 % 256).astype(
        np.uint8
    ).reshape(4, 6, 3)
    payload = encode_ppm(img)
    out = decode_ppm(payload)
    assert (out == img).all()
    modality, img2 = decode_real(payload)
    assert modality == "image" and (img2 == img).all()


def test_png_roundtrip_all_filters():
    """encode→decode identity for EVERY spec filter type (0 None, 1
    Sub, 2 Up, 3 Average, 4 Paeth) and the per-row "mixed" mode — each
    filter choice produces a different IDAT byte stream over the same
    pixels, so identity across all six proves every reconstruction
    path, not just the encoder's favorite."""
    import numpy as np

    from erathia_market_etl_spark.operators.multimodal import decode_png

    from .encoders import encode_png

    img = (np.arange(9 * 7 * 3, dtype=np.uint32) * 41 % 256).astype(
        np.uint8
    ).reshape(9, 7, 3)
    payloads = set()
    for ft in [0, 1, 2, 3, 4, "mixed"]:
        payload = encode_png(img, filter_type=ft)
        assert payload[:8] == b"\x89PNG\r\n\x1a\n"
        payloads.add(payload)
        out = decode_png(payload)
        assert (out == img).all(), f"filter {ft}"
        modality, img2 = decode_real(payload)
        assert modality == "image" and (img2 == img).all()
    # the six encodings genuinely differ (same pixels, different bytes)
    assert len(payloads) == 6


def test_png_decode_matches_independent_spec_reference():
    """Spec compliance, not just self-inverse consistency: a second
    PNG filter implementation written directly from the spec equations
    in plain Python ints (no numpy, no shared helpers) reconstructs the
    same pixels from the same filtered scanlines."""
    import struct
    import zlib

    import numpy as np

    from erathia_market_etl_spark.operators.multimodal import decode_png

    from .encoders import encode_png

    def reference_decode(payload):
        # chunk walk (no CRC check — the point is the filter math)
        pos, idat, ihdr = 8, b"", None
        while pos + 8 <= len(payload):
            length, ctype = struct.unpack_from(">I4s", payload, pos)
            data = payload[pos + 8 : pos + 8 + length]
            if ctype == b"IHDR":
                ihdr = struct.unpack(">IIBBBBB", data)
            elif ctype == b"IDAT":
                idat += data
            pos += 12 + length
        w, h = ihdr[0], ihdr[1]
        raw = zlib.decompress(idat)
        stride, bpp = w * 3, 3
        prev = [0] * stride
        pixels = []
        for y in range(h):
            ft = raw[y * (stride + 1)]
            line = raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)]
            rec = []
            for x in range(stride):
                a = rec[x - bpp] if x >= bpp else 0  # left
                b = prev[x]                          # up
                c = prev[x - bpp] if x >= bpp else 0  # upper-left
                if ft == 0:
                    pred = 0
                elif ft == 1:
                    pred = a
                elif ft == 2:
                    pred = b
                elif ft == 3:
                    pred = (a + b) // 2
                else:  # Paeth, straight from the spec pseudocode
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                rec.append((line[x] + pred) % 256)
            pixels.append(rec)
            prev = rec
        return np.array(pixels, dtype=np.uint8).reshape(h, w, 3)

    rng = np.random.default_rng(42)
    for ft in [0, 1, 2, 3, 4, "mixed"]:
        img = rng.integers(0, 256, size=(6, 5, 3), dtype=np.uint8)
        payload = encode_png(img, filter_type=ft)
        assert (reference_decode(payload) == img).all(), f"filter {ft}"
        assert (decode_png(payload) == img).all(), f"filter {ft}"


def test_png_honest_gates_and_corruption():
    """Unsupported shapes raise NotImplementedError (honest gates, like
    the other decoders); corruption raises inside the contracted error
    set — CRC flips must be CAUGHT, not decoded into garbage pixels."""
    import struct
    import zlib

    import numpy as np

    from erathia_market_etl_spark.operators.multimodal import decode_png

    from .encoders import encode_png

    img = np.full((3, 3, 3), 9, dtype=np.uint8)
    good = encode_png(img)

    def rebuild(depth=8, color=2, interlace=0):
        ihdr = struct.pack(">IIBBBBB", 3, 3, depth, color, 0, 0, interlace)
        chunk = (
            struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr
            + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF)
        )
        # splice the doctored IHDR chunk over the original (fixed 25-byte
        # IHDR chunk right after the 8-byte signature)
        return good[:8] + chunk + good[8 + 25 :]

    # r15 opened the depth/color gates: 16-bit, palette, and RGBA now
    # DECODE (see test_png_all_spec_shapes_roundtrip); the doctored
    # IHDRs here disagree with the spliced RGB8 scanline payload, so
    # they must fail the size/consistency checks — as ValueError, not
    # garbage pixels
    with pytest.raises(ValueError):  # 16-bit IHDR over 8-bit scanlines
        decode_png(rebuild(depth=16))
    with pytest.raises(ValueError):  # palette IHDR without PLTE
        decode_png(rebuild(color=3))
    with pytest.raises(ValueError):  # RGBA IHDR over RGB scanlines
        decode_png(rebuild(color=6))
    with pytest.raises(ValueError):  # spec-illegal depth for RGB
        decode_png(rebuild(depth=4))
    with pytest.raises(ValueError):  # invalid color type
        decode_png(rebuild(color=5))
    # Adam7 DECODES since r15 (test_png_adam7_interlace_roundtrip); a
    # doctored interlace flag over a sequential payload must fail the
    # pass-size consistency check, not produce scrambled pixels
    with pytest.raises(ValueError):
        decode_png(rebuild(interlace=1))
    with pytest.raises(ValueError):  # interlace method 2 does not exist
        decode_png(rebuild(interlace=2))

    # flip one IDAT byte: the chunk CRC must catch it
    idat_at = good.index(b"IDAT") + 4
    corrupt = bytearray(good)
    corrupt[idat_at] ^= 0xFF
    with pytest.raises(ValueError):
        decode_png(bytes(corrupt))
    with pytest.raises(ValueError):  # truncation
        decode_png(good[: len(good) // 2])


def test_png_all_spec_shapes_roundtrip():
    """r15 (VERDICT r14 item 2): every spec-legal (color type, bit
    depth) pair decodes — grayscale 1/2/4/8/16, RGB 8/16, palette
    1/2/4/8, gray+alpha 8/16, RGBA 8/16 — across all five filters plus
    mixed. Exactness contracts: 8-bit samples round-trip identically;
    sub-byte gray scales v*255//(2^d-1) (integer-exact: 255 divides
    evenly by every sub-byte max); 16-bit scales (v*255+32767)//65535
    (correctly-rounded v*255/65535), so v8*257 round-trips to exactly
    v8. Alpha policy: default output drops the alpha channel (PNG
    color is NON-premultiplied, so the RGB bytes are stored exactly);
    keep_alpha=True returns the RGBA plane."""
    import numpy as np

    from erathia_market_etl_spark.operators.multimodal import decode_png

    from .encoders import encode_png_ex

    rng = np.random.default_rng(1515)
    filters = [0, 1, 2, 3, 4, "mixed"]

    # grayscale, every depth
    for i, d in enumerate((1, 2, 4, 8)):
        g = rng.integers(0, 1 << d, (5, 9), dtype=np.uint8)
        out = decode_png(encode_png_ex(g, 0, d, filters[i % 6]))
        exp = (g.astype(np.uint16) * 255 // ((1 << d) - 1)).astype(np.uint8)
        assert out.shape == (5, 9, 3)
        assert (out == exp[..., None]).all(), f"gray depth {d}"
    v16 = rng.integers(0, 65536, (5, 9), dtype=np.uint16)
    out = decode_png(encode_png_ex(v16, 0, 16, "mixed"))
    exp = ((v16.astype(np.uint64) * 255 + 32767) // 65535).astype(np.uint8)
    assert (out[..., 0] == exp).all()
    g8 = rng.integers(0, 256, (4, 6), dtype=np.uint16)
    out = decode_png(encode_png_ex((g8 * 257).astype(np.uint16), 0, 16, 2))
    assert (out[..., 0] == g8.astype(np.uint8)).all(), "v8*257 identity"

    # RGB 16-bit, every filter
    for ft in filters:
        v = rng.integers(0, 65536, (4, 5, 3), dtype=np.uint16)
        out = decode_png(encode_png_ex(v, 2, 16, ft))
        exp = ((v.astype(np.uint64) * 255 + 32767) // 65535).astype(np.uint8)
        assert (out == exp).all(), f"rgb16 filter {ft}"

    # palette, every legal depth (incl. sub-byte packing) + range check
    pal = rng.integers(0, 256, (16, 3), dtype=np.uint8)
    for i, d in enumerate((1, 2, 4, 8)):
        n = min(1 << d, 16)
        idx = rng.integers(0, n, (6, 7), dtype=np.uint8)
        out = decode_png(encode_png_ex(idx, 3, d, filters[(i + 3) % 6],
                                       palette=pal))
        assert (out == pal[idx]).all(), f"palette depth {d}"
    import pytest as _pytest
    oob = np.full((2, 2), 5, dtype=np.uint8)  # index 5 into a 4-entry PLTE
    with _pytest.raises(ValueError, match="palette index"):
        decode_png(encode_png_ex(oob, 3, 8, 0, palette=pal[:4]))

    # gray+alpha and RGBA: alpha dropped by default, exact with keep_alpha
    ga = rng.integers(0, 256, (5, 4, 2), dtype=np.uint8)
    out = decode_png(encode_png_ex(ga, 4, 8, "mixed"))
    assert out.shape == (5, 4, 3) and (out[..., 0] == ga[..., 0]).all()
    out4 = decode_png(encode_png_ex(ga, 4, 8, "mixed"), keep_alpha=True)
    assert out4.shape == (5, 4, 4) and (out4[..., 3] == ga[..., 1]).all()
    ga16 = rng.integers(0, 65536, (3, 4, 2), dtype=np.uint16)
    out4 = decode_png(encode_png_ex(ga16, 4, 16, 4), keep_alpha=True)
    exp = ((ga16.astype(np.uint64) * 255 + 32767) // 65535).astype(np.uint8)
    assert (out4[..., 0] == exp[..., 0]).all()
    assert (out4[..., 3] == exp[..., 1]).all()

    rgba = rng.integers(0, 256, (4, 5, 4), dtype=np.uint8)
    out = decode_png(encode_png_ex(rgba, 6, 8, "mixed"))
    assert (out == rgba[..., :3]).all(), "RGB bytes exact when alpha drops"
    out4 = decode_png(encode_png_ex(rgba, 6, 8, "mixed"), keep_alpha=True)
    assert (out4 == rgba).all()
    rgba16 = rng.integers(0, 65536, (3, 4, 4), dtype=np.uint16)
    out4 = decode_png(encode_png_ex(rgba16, 6, 16, 3), keep_alpha=True)
    exp = ((rgba16.astype(np.uint64) * 255 + 32767) // 65535).astype(np.uint8)
    assert (out4 == exp).all()


def test_png_adam7_geometry_matches_hand_built_stream():
    """Independent reference for the Adam7 PASS GEOMETRY: a 4x4 gray-8
    interlaced payload is assembled BY HAND (pass order / reduced-image
    dims / scatter grid worked out from spec §8.2 on paper, all rows
    filter 0, never touching our encoder), so a decoder that had the
    pass table wrong could not pass by agreeing with its own twin.
    For 4x4: p1 -> (0,0); p2/p3 empty; p4 -> (0,2); p5 -> (2,0),(2,2);
    p6 -> (0,1),(0,3),(2,1),(2,3); p7 -> rows 1 and 3 whole."""
    import struct
    import zlib

    import numpy as np

    from erathia_market_etl_spark.operators.multimodal import (
        PNG_SIG,
        decode_png,
    )

    v = np.arange(16, dtype=np.uint8).reshape(4, 4) * 7 % 251
    raw = bytes(
        [0, v[0, 0]]                                    # pass 1
        + [0, v[0, 2]]                                  # pass 4
        + [0, v[2, 0], v[2, 2]]                         # pass 5
        + [0, v[0, 1], v[0, 3]] + [0, v[2, 1], v[2, 3]]  # pass 6
        + [0, *v[1]] + [0, *v[3]]                       # pass 7
    )

    def chunk(ctype, data):
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 1)
    payload = (PNG_SIG + chunk(b"IHDR", ihdr)
               + chunk(b"IDAT", zlib.compress(raw))
               + chunk(b"IEND", b""))
    out = decode_png(payload)
    assert out.shape == (4, 4, 3)
    assert (out == v[..., None]).all()


def test_png_adam7_interlace_roundtrip():
    """r15 closed the last PNG gate: Adam7-interlaced payloads decode
    for every spec-legal (color type, depth) pair and every filter.
    Contracts: interlaced decode == the SAME pixels as the sequential
    encoding of the same image (deinterlacing is lossless); the
    interlaced stream is genuinely different bytes (IHDR interlace
    flag 1, different scanline layout); odd dims exercise empty and
    truncated passes (1x1 keeps only pass 1; 9x5 hits every pass at a
    ragged width)."""
    import numpy as np

    from erathia_market_etl_spark.operators.multimodal import decode_png

    from .encoders import encode_png_ex

    rng = np.random.default_rng(715)
    filters = [0, 1, 2, 3, 4, "mixed"]
    shapes = [(0, 1), (0, 2), (0, 4), (0, 8), (0, 16),
              (2, 8), (2, 16), (3, 1), (3, 2), (3, 4), (3, 8),
              (4, 8), (4, 16), (6, 8), (6, 16)]
    dims = [(1, 1), (1, 8), (8, 1), (4, 4), (7, 7), (9, 5), (5, 9),
            (16, 3), (3, 16)]
    pal = rng.integers(0, 256, (16, 3), dtype=np.uint8)

    for i, (color, depth) in enumerate(shapes):
        from erathia_market_etl_spark.operators.multimodal import (
            _PNG_CHANNELS,
        )

        c = _PNG_CHANNELS[color]
        ft = filters[i % 6]
        for h, w in dims:
            if color == 3:
                img = rng.integers(0, min(1 << depth, 16), (h, w),
                                   dtype=np.uint8)
                kw = {"palette": pal}
            else:
                dtype = np.uint16 if depth == 16 else np.uint8
                shape = (h, w, c) if c > 1 else (h, w)
                img = rng.integers(0, 1 << depth, shape, dtype=dtype)
                kw = {}
            seq = encode_png_ex(img, color, depth, ft, **kw)
            ilv = encode_png_ex(img, color, depth, ft, interlace=1, **kw)
            a = decode_png(seq, keep_alpha=True)
            b = decode_png(ilv, keep_alpha=True)
            assert (a == b).all(), f"adam7 mismatch c{color} d{depth} {h}x{w}"
            # the interlaced file is a genuinely different byte stream
            assert ilv[28] == 1 and seq[28] == 0  # IHDR interlace flag
            if h * w > 1:
                assert ilv != seq


def test_png_spec_shapes_fuzz_roundtrip():
    """Hypothesis sweep over ALL spec-legal PNG shapes: arbitrary
    dims/contents/filters per (color, depth) pair must reconstruct the
    expected 8-bit samples — the filter bpp generalization (bpp is now
    1/2/3/4/6/8 bytes depending on shape) is exactly where an
    off-by-one would corrupt pixels silently."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from erathia_market_etl_spark.operators.multimodal import decode_png

    from .encoders import encode_png_ex

    SHAPES = [(c, d) for c, ds in
              [(0, (1, 2, 4, 8, 16)), (2, (8, 16)), (3, (1, 2, 4, 8)),
               (4, (8, 16)), (6, (8, 16))] for d in ds]

    @settings(max_examples=120, deadline=None)
    @given(
        st.sampled_from(SHAPES),
        st.integers(min_value=1, max_value=9),
        st.integers(min_value=1, max_value=9),
        st.integers(min_value=0, max_value=2 ** 32 - 1),
        st.sampled_from([0, 1]),  # r15: Adam7 rides the same sweep
    )
    def roundtrip(shape, h, w, seed, interlace):
        from erathia_market_etl_spark.operators.multimodal import (
            _PNG_CHANNELS,
        )

        color, depth = shape
        rng = np.random.default_rng(seed)
        ft = [0, 1, 2, 3, 4, "mixed"][seed % 6]
        c = _PNG_CHANNELS[color]
        hi = 1 << depth
        dtype = np.uint16 if depth == 16 else np.uint8
        if color == 3:
            pal = rng.integers(0, 256, (hi if depth < 8 else 16, 3),
                               dtype=np.uint8)
            img = rng.integers(0, len(pal), (h, w), dtype=np.uint8)
            out = decode_png(encode_png_ex(img, 3, depth, ft, palette=pal,
                                           interlace=interlace))
            assert (out == pal[img]).all()
            return
        img = rng.integers(0, hi, (h, w, c) if c > 1 else (h, w),
                           dtype=dtype)
        out = decode_png(encode_png_ex(img, color, depth, ft,
                                       interlace=interlace),
                         keep_alpha=True)
        plane = img.reshape(h, w, c).astype(np.uint64)
        if depth == 16:
            exp = ((plane * 255 + 32767) // 65535).astype(np.uint8)
        else:
            exp = (plane * 255 // (hi - 1)).astype(np.uint8)
        if color == 0:
            assert (out == exp[..., [0, 0, 0]]).all()
        elif color == 2:
            assert (out == exp).all()
        elif color == 4:
            assert (out == exp[..., [0, 0, 0, 1]]).all()
        else:  # 6
            assert (out == exp).all()

    roundtrip()


def test_resize_image_real_accepts_png(spark):
    """A PNG payload rides the same decode→resample→re-encode path as
    BMP/PPM: the compressed container is now a first-class citizen of
    the image pipeline, not just the hash pass."""
    import numpy as np

    from erathia_market_etl_spark.operators.multimodal import (
        decode_bmp,
        resample_nearest,
        resize_image_real,
    )

    from .encoders import encode_png

    img = (np.arange(10 * 8 * 3, dtype=np.uint32) * 29 % 256).astype(
        np.uint8
    ).reshape(10, 8, 3)
    media = spark.createDataFrame(
        [(1, bytearray(encode_png(img, filter_type="mixed")))],
        "media_id long, content binary",
    )
    out = resize_image_real(media, 4, 4).collect()
    assert len(out) == 1
    got = decode_bmp(bytes(out[0]["content"]))
    assert (got == resample_nearest(img, 4, 4)).all()


def test_resize_and_hash_accept_all_png_shapes(spark):
    """r15: planted palette, RGBA, gray+alpha, and 16-bit PNG payloads
    ride the REAL pipeline op (decode→resample→re-encode) — the opened gates are first-class citizens, not
    just unit-level decoders. Expected pixels come from the same
    arithmetic the decoder contracts pin (palette lookup / alpha drop /
    exact 16→8 scaling), so the resize outputs are value-checked, not
    just counted."""
    import numpy as np

    from erathia_market_etl_spark.operators.multimodal import (
        decode_bmp,
        resample_nearest,
        resize_image_real,
    )

    from .encoders import encode_png_ex

    rng = np.random.default_rng(77)
    pal = rng.integers(0, 256, (16, 3), dtype=np.uint8)
    idx = rng.integers(0, 16, (9, 7), dtype=np.uint8)
    rgba = rng.integers(0, 256, (8, 6, 4), dtype=np.uint8)
    ga = rng.integers(0, 256, (7, 7, 2), dtype=np.uint8)
    v16 = rng.integers(0, 65536, (6, 8, 3), dtype=np.uint16)

    expected = {
        1: pal[idx],
        2: rgba[..., :3],
        3: np.repeat(ga[..., :1], 3, axis=2),
        4: ((v16.astype(np.uint64) * 255 + 32767) // 65535).astype(np.uint8),
        # Adam7-interlaced twins (r15 closed the interlace gate): same
        # pixels must come out of the scattered-pass layout
        5: pal[idx],
        6: rgba[..., :3],
    }
    media = spark.createDataFrame(
        [
            (1, bytearray(encode_png_ex(idx, 3, 4, "mixed", palette=pal))),
            (2, bytearray(encode_png_ex(rgba, 6, 8, "mixed"))),
            (3, bytearray(encode_png_ex(ga, 4, 8, 2))),
            (4, bytearray(encode_png_ex(v16, 2, 16, 4))),
            (5, bytearray(encode_png_ex(idx, 3, 4, "mixed", palette=pal,
                                        interlace=1))),
            (6, bytearray(encode_png_ex(rgba, 6, 8, 4, interlace=1))),
        ],
        "media_id long, content binary",
    )
    out = {r["media_id"]: r for r in resize_image_real(media, 4, 4).collect()}
    assert set(out) == {1, 2, 3, 4, 5, 6}, (
        "every shape must decode, none dropped"
    )
    for mid, exp in expected.items():
        got = decode_bmp(bytes(out[mid]["content"]))
        assert (got == resample_nearest(exp, 4, 4)).all(), f"media {mid}"


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
    is identity for arbitrary image shapes/contents and arbitrary PCM16
    sample runs; (b) decode_real on ARBITRARY bytes either returns a
    decoded payload or raises one of the contracted error types —
    never an uncontrolled crash class (the quarantine paths in
    resize_image_real / wav_decode_stats rely on catching Exception,
    but the decoders themselves must stay inside sane error types)."""
    import struct
    import wave

    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from erathia_market_etl_spark.operators.multimodal import (
        decode_bmp,
        decode_png,
        decode_ppm,
        decode_real,
        decode_wav,
        encode_bmp,
        encode_wav,
    )

    from .encoders import encode_png, encode_ppm

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
        assert (decode_ppm(encode_ppm(img)) == img).all()
        # seed also draws the PNG filter mode (0-4 or per-row mixed)
        ft = [0, 1, 2, 3, 4, "mixed"][seed % 6]
        assert (decode_png(encode_png(img, filter_type=ft)) == img).all()

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
        except (NotImplementedError, ValueError, struct.error, wave.Error,
                EOFError, IndexError):
            pass  # contracted failure modes for garbage input

    image_roundtrip()
    wav_roundtrip()
    never_uncontrolled()


# ---------------------------------------------------------------------------
# IMA/DVI ADPCM WAV (tag 0x0011, r16 — VERDICT r15 item 7: the non-PCM
# WAV gate, closed with pure integer arithmetic).
# ---------------------------------------------------------------------------


def test_ima_adpcm_hand_traced_block():
    """Spec trace worked by hand: header (predictor 0, index 0), one
    data byte 0x84 = nibbles [4, 8] low-first. Nibble 4 at step 7:
    diff = 7>>3 + 7 = 7 -> sample 7, index 0+2=2 (step 9). Nibble 8:
    sign-only, diff = 9>>3 = 1 -> sample 6, index 2-1=1."""
    import struct

    from erathia_market_etl_spark.operators.multimodal import decode_wav_ima

    fmt = struct.pack("<HHIIHHHH", 0x0011, 1, 8000, 4000, 5, 4, 2, 3)
    block = struct.pack("<hBB", 0, 0, 0) + bytes([0x84])
    payload = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + 4 + 8 + len(block))
        + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"fact" + struct.pack("<II", 4, 3)
        + b"data" + struct.pack("<I", len(block)) + block
    )
    samples, rate = decode_wav_ima(payload)
    assert rate == 8000
    assert list(samples) == [0, 7, 6]


def test_ima_adpcm_constant_signal_roundtrips_exactly():
    """At step index 0 (step 7) a zero difference reconstructs to
    exactly zero (7 >> 3 == 0), so constant signals round-trip
    bit-exactly — across block boundaries and through a partial final
    block (fact-chunk trim)."""
    import numpy as np

    from erathia_market_etl_spark.operators.multimodal import decode_wav

    from .encoders import encode_wav_ima

    for v in (-32768, -1234, 0, 1, 777, 32767):
        n = 1234  # 2 full blocks (505 samples each) + partial third
        sig = np.full(n, v, dtype=np.int16)
        got, rate = decode_wav(encode_wav_ima(sig, 22050))
        assert rate == 22050 and len(got) == n
        assert (got == sig).all(), v


def test_ima_adpcm_decoder_matches_audioop_reference():
    """Independent cross-check of the reconstruction state machine:
    feed OUR encoder's nibble stream to CPython's audioop ADPCM
    decoder (same IMA algorithm, different lineage; its packing is
    high-nibble-first, ours is the WAV convention low-first) seeded
    with the same (predictor, index) state — every reconstructed
    sample must agree."""
    import struct

    import numpy as np

    audioop = pytest.importorskip("audioop")
    from erathia_market_etl_spark.operators.multimodal import decode_wav_ima

    from .encoders import encode_wav_ima

    rng = np.random.default_rng(16)
    sig = rng.integers(-32768, 32768, 505, dtype=np.int16)  # one block
    payload = encode_wav_ima(sig, 8000)
    # locate the data chunk and re-pack our low-first nibbles high-first
    off = payload.index(b"data") + 8
    block = payload[off:]
    predictor, index, _ = struct.unpack_from("<hBB", block, 0)
    nibbles = []
    for byte in block[4:]:
        nibbles += [byte & 0xF, byte >> 4]
    repacked = bytes((a << 4) | b for a, b in zip(nibbles[::2], nibbles[1::2]))
    ref, _state = audioop.adpcm2lin(repacked, 2, (predictor, index))
    ref_samples = np.frombuffer(ref, dtype="<i2")
    ours, _rate = decode_wav_ima(payload)
    assert list(ours[1:]) == list(ref_samples)


def test_ima_adpcm_tracks_smooth_signal():
    """Lossy but must TRACK: a smooth ramp reconstructs within the
    final step size at every point, and total error is small."""
    import numpy as np

    from erathia_market_etl_spark.operators.multimodal import decode_wav

    from .encoders import encode_wav_ima

    t = np.arange(2000)
    sig = (3000 * np.sin(t / 40.0)).astype(np.int16)
    got, _ = decode_wav(encode_wav_ima(sig, 16000))
    err = got.astype(np.int64) - sig.astype(np.int64)
    assert np.abs(err).max() < 256
    assert np.abs(err).mean() < 32


def test_ima_adpcm_gates_and_errors():
    """Honest gate set: stereo IMA raises NotImplementedError; an
    unwired format tag (mu-law 0x0007) raises NotImplementedError BY
    TAG; a truncated block raises ValueError; the media sniffer
    routes an IMA payload to the audio modality."""
    import struct

    import numpy as np

    from erathia_market_etl_spark.operators.multimodal import decode_real, decode_wav

    from .encoders import encode_wav_ima

    payload = encode_wav_ima(np.full(10, 5, dtype=np.int16), 8000)

    modality, (samples, rate) = decode_real(payload)
    assert modality == "audio" and (samples == 5).all() and rate == 8000

    stereo = bytearray(payload)
    fmt_off = payload.index(b"fmt ") + 8
    struct.pack_into("<H", stereo, fmt_off + 2, 2)  # nChannels = 2
    with pytest.raises(NotImplementedError):
        decode_wav(bytes(stereo))

    mulaw = bytearray(payload)
    struct.pack_into("<H", mulaw, fmt_off, 0x0007)
    with pytest.raises(NotImplementedError, match="0x0007"):
        decode_wav(bytes(mulaw))

    data_off = payload.index(b"data")
    cut = bytearray(payload[: data_off + 8 + 2])
    struct.pack_into("<I", cut, data_off + 4, 2)  # 2-byte "block"
    with pytest.raises(ValueError):
        decode_wav(bytes(cut))
