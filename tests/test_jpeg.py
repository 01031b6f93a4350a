"""Baseline grayscale JPEG codec pins (operators/jpeg.py).

JPEG is lossy, so the contracts are NOT value hashes: (1) a bitstream
assembled BY HAND from the spec (T.81 Annex K Huffman codes worked out
on paper, all-ones quant table) must decode to arithmetic-predicted
pixels — the decoder cannot pass by agreeing with its own encoder;
(2) exactness where the math guarantees it (flat blocks whose DC
quantizes without remainder); (3) PSNR floors and monotone
rate-quality behavior everywhere else; (4) the error set (any frame
other than one-component 8-bit SOF0 raises UnsupportedMediaError
naming it, corruption raises ValueError); (5) JPEG payloads ride the
real Spark pipeline ops unchanged (resize through decode_real's
sniffing)."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from erathia_market_etl_spark.operators.jpeg import (
    HUFF_AC_LUM,
    HUFF_DC_LUM,
    QUANT_LUM,
    ZIGZAG,
    _build_codes,
    decode_jpeg,
    encode_jpeg,
    quality_scale,
)
from erathia_market_etl_spark.operators.multimodal import UnsupportedMediaError


def _smooth_image(h: int, w: int, seed: int = 0) -> np.ndarray:
    """Band-limited (h, w) gray test image: bilinear upsample of a 4x4
    random grid — most energy in low DCT frequencies, like a
    photograph."""
    rng = np.random.default_rng(seed)
    base = rng.integers(0, 256, (4, 4, 3))[..., 0].astype(np.float64)
    ys = np.linspace(0, 3, h)
    xs = np.linspace(0, 3, w)
    tmp = np.array([np.interp(xs, np.arange(4), base[i]) for i in range(4)])
    out = np.array(
        [np.interp(ys, np.arange(4), tmp[:, j]) for j in range(w)]
    ).T
    return np.clip(out, 0, 255).astype(np.uint8)


def _psnr(a: np.ndarray, b: np.ndarray) -> float:
    """PSNR of a decoded (h, w, 3) gray-replicated image against the
    (h, w) original."""
    a = a[..., 0]
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    return 10 * np.log10(255.0 ** 2 / max(mse, 1e-12))


def test_decode_matches_hand_assembled_spec_stream():
    """An 8x8 grayscale JPEG assembled from the spec BY HAND: all-ones
    DQT, Annex K DC/AC luminance DHT, and an entropy segment written as
    literal bits derived on paper from the canonical code construction
    (T.81 C.2):
      DC size-4 symbol -> code 101 (lengths: sym0 len2=00; syms1-5
      len3=010..110; so size 4 = 101)
      DC magnitude -14 -> 4 bits, -14 + 2^4 - 1 = 1 -> 0001
      AC EOB (0x00)    -> len-4 code 1010 (len2: 01->00, 02->01;
      len3: 03->100; len4: 00->1010, 04->1011, 11->1100)
    Stream: 101 0001 1010 + 1-padding = 0xA3 0x5F. With quant all ones
    the dequantized DC is -14; IDCT of a DC-only block is flat
    -14/8 = -1.75, +128 = 126.25 -> every pixel rounds to 126."""
    dqt = b"\xff\xdb" + struct.pack(">HB", 67, 0) + bytes([1] * 64)
    sof = b"\xff\xc0" + struct.pack(">HBHHB", 11, 8, 8, 8, 1) + bytes(
        [1, 0x11, 0]
    )
    dc_bits, dc_syms = HUFF_DC_LUM
    ac_bits, ac_syms = HUFF_AC_LUM
    dht = (
        b"\xff\xc4"
        + struct.pack(">HB", 19 + len(dc_syms), 0x00)
        + bytes(dc_bits)
        + bytes(dc_syms)
        + b"\xff\xc4"
        + struct.pack(">HB", 19 + len(ac_syms), 0x10)
        + bytes(ac_bits)
        + bytes(ac_syms)
    )
    sos = b"\xff\xda" + struct.pack(">HB", 8, 1) + bytes([1, 0x00]) + (
        b"\x00\x3f\x00"
    )
    payload = (
        b"\xff\xd8" + dqt + sof + dht + sos + bytes([0xA3, 0x5F])
        + b"\xff\xd9"
    )
    out = decode_jpeg(payload)
    assert out.shape == (8, 8, 3)
    assert (out == 126).all()


def test_annex_k_codes_are_prefix_free_and_complete():
    """The two embedded Huffman specs must be well-formed: canonical
    codes are prefix-free by construction IF the bits[] counts never
    overflow a length — verify Kraft sums and symbol counts."""
    for bits, syms in (HUFF_DC_LUM, HUFF_AC_LUM):
        assert sum(bits) == len(syms)
        kraft = sum(n * 2.0 ** -(i + 1) for i, n in enumerate(bits))
        assert kraft <= 1.0
        codes = _build_codes(bits, syms)
        assert len(codes) == len(syms)
        # no code may be a prefix of another
        as_strings = sorted(
            format(c, f"0{ln}b") for c, ln in codes.values()
        )
        for a, b in zip(as_strings, as_strings[1:]):
            assert not b.startswith(a)


def test_flat_blocks_roundtrip_exactly_when_dc_divides():
    """quality 50 leaves the Annex K DC step at 16; a flat gray value v
    with 8*(v-128) divisible by 16 (v even) quantizes without remainder
    and must round-trip EXACTLY — the end-to-end pin on quant tables,
    DC coding, and IDCT scaling."""
    for v in (0, 2, 100, 128, 200, 254):
        img = np.full((16, 24), v, dtype=np.uint8)
        out = decode_jpeg(encode_jpeg(img, quality=50))
        assert (out == v).all(), f"flat {v} not exact"


def test_psnr_floors_and_monotone_rate_quality():
    """Smooth image: q95 >= 40 dB, q50 >= 28 dB; file size grows with
    quality."""
    img = _smooth_image(37, 53)
    enc95 = encode_jpeg(img, quality=95)
    assert _psnr(decode_jpeg(enc95), img) >= 40.0
    enc50 = encode_jpeg(img, quality=50)
    assert _psnr(decode_jpeg(enc50), img) >= 28.0
    sizes = [
        len(encode_jpeg(img, quality=q)) for q in (10, 50, 85, 95)
    ]
    assert sizes == sorted(sizes)


def test_near_lossless_at_quality_100():
    """quality 100 scales every quant entry to 1: random noise (the
    hardest content) must survive within +/-2 counts on grayscale
    (no color transform in the loop)."""
    rng = np.random.default_rng(7)
    g = rng.integers(0, 256, (13, 17), dtype=np.uint8)
    out = decode_jpeg(encode_jpeg(g, quality=100))
    assert out.shape == (13, 17, 3)
    assert (out[..., 0] == out[..., 1]).all()  # gray replicates
    assert np.abs(out[..., 0].astype(int) - g.astype(int)).max() <= 2


def test_restart_intervals_roundtrip_and_are_emitted():
    """DRI/RSTn: a stream cut every 3 MCUs must decode to the SAME
    pixels as the uncut stream, and the DRI marker + at least one RST
    must actually be present in the bytes."""
    img = _smooth_image(37, 53, seed=3)
    plain = encode_jpeg(img, quality=85)
    cut = encode_jpeg(img, quality=85, restart_interval=3)
    assert b"\xff\xdd" in cut and b"\xff\xdd" not in plain
    assert any(bytes([0xFF, 0xD0 + i]) in cut for i in range(8))
    assert (decode_jpeg(cut) == decode_jpeg(plain)).all()


def test_fill_bytes_and_standalone_markers_are_spec_legal():
    """T.81 B.1.1.2: any number of 0xFF fill bytes may precede a marker
    code, and TEM (0xFF01) is a standalone length-less marker. A
    spec-legal foreign file using either must decode to the same pixels
    as the unpadded stream (r16, ADVICE r15 items 1+2)."""
    img = _smooth_image(37, 53, seed=7)
    cut = encode_jpeg(img, quality=85, restart_interval=3)
    want = decode_jpeg(cut)

    # (a) fill padding before an RSTn inside the entropy stream: find a
    # real restart marker (FF Dn can't occur as stuffed data) and pad it
    rst_at = next(
        i for i in range(len(cut) - 1)
        if cut[i] == 0xFF and 0xD0 <= cut[i + 1] <= 0xD7
    )
    padded_rst = cut[:rst_at] + b"\xff\xff" + cut[rst_at:]
    assert (decode_jpeg(padded_rst) == want).all()

    # (b) fill bytes + a standalone TEM marker between header segments
    padded_hdr = cut[:2] + b"\xff\xff\xff\x01" + cut[2:]
    assert (decode_jpeg(padded_hdr) == want).all()

    # (c) both at once, with a longer fill run
    both = padded_hdr[:rst_at + 4] + b"\xff" * 3 + padded_hdr[rst_at + 4:]
    assert (decode_jpeg(both) == want).all()


def test_odd_dimensions_and_edge_padding():
    """Dims not multiples of the 8x8 block must crop back to the exact
    frame size; edge-replicated padding must not bleed badly
    into the visible area."""
    for h, w in ((1, 1), (7, 9), (17, 31), (16, 16), (8, 24), (33, 15)):
        img = _smooth_image(h, w, seed=h * 100 + w)
        out = decode_jpeg(encode_jpeg(img, quality=90))
        assert out.shape == (h, w, 3)
        # tiny frames squeeze the 4x4 base grid to ~2 px/cell — that is
        # genuinely high-frequency content, so the floor is geometric
        # sanity there, fidelity only once blocks see smooth data
        floor = 28.0 if min(h, w) >= 16 else 18.0
        assert _psnr(out, img) >= floor, f"{h}x{w}"


def test_determinism_and_magic():
    img = _smooth_image(24, 24, seed=9)
    a = encode_jpeg(img, quality=80)
    b = encode_jpeg(img, quality=80)
    assert a == b, "encoder must be deterministic"
    assert a[:2] == b"\xff\xd8" and a[-2:] == b"\xff\xd9"
    assert (decode_jpeg(a) == decode_jpeg(b)).all()


def test_honest_gates_and_error_set():
    """Every frame other than one-component 8-bit SOF0 raises
    UnsupportedMediaError NAMING what it is; truncation/corruption
    raise ValueError — never garbage pixels, never a foreign exception
    class."""
    img = _smooth_image(16, 16, seed=1)
    good = encode_jpeg(img, quality=85)

    at = good.index(b"\xff\xc0")
    for marker, name in ((0xC2, "progressive"), (0xC9, "arithmetic"),
                         (0xC3, "lossless")):
        spliced = good[:at] + bytes([0xFF, marker]) + good[at + 2 :]
        with pytest.raises(UnsupportedMediaError, match=name):
            decode_jpeg(spliced)
    # SOF0 body: length(2) precision(1) height(2) width(2) ncomp(1)
    twelve_bit = bytearray(good)
    twelve_bit[at + 4] = 12
    with pytest.raises(UnsupportedMediaError, match="12-bit"):
        decode_jpeg(bytes(twelve_bit))

    # a DHT whose two 1-bit DC codes both claim a 64-bit magnitude:
    # refused as corrupt, not left to overflow the int64 coefficients
    dht_dc = (b"\xff\xc4" + struct.pack(">HB", 21, 0x00)
              + bytes([2] + [0] * 15) + b"\x40\x40")
    sos_at = good.index(b"\xff\xda")
    with pytest.raises(ValueError, match="DC magnitude"):
        decode_jpeg(good[:sos_at] + dht_dc + good[sos_at:])

    with pytest.raises(ValueError):
        decode_jpeg(b"\x00\x01\x02")  # not a JPEG
    with pytest.raises(ValueError):
        decode_jpeg(good[: len(good) // 2])  # truncated mid-stream
    # corrupt one entropy byte far from the headers: the decoder must
    # fail inside its contracted set (ValueError), not crash elsewhere
    for i in range(len(good) - 16, len(good) - 2):
        corrupt = bytearray(good)
        corrupt[i] ^= 0x55
        try:
            decode_jpeg(bytes(corrupt))
        except ValueError:
            pass  # contracted failure (UnsupportedMediaError included)
    with pytest.raises(ValueError):
        encode_jpeg(np.zeros((0, 4), np.uint8))
    with pytest.raises(ValueError):
        encode_jpeg(np.zeros((4, 4), np.uint8), quality=0)
    with pytest.raises(ValueError):  # the encoder takes gray only
        encode_jpeg(np.zeros((4, 4, 3), np.uint8))


def test_quality_scale_is_ijg():
    """IJG scaling spot values: q50 = identity on Annex K; q100 all
    ones; q10 = 5x table clipped to 255."""
    assert (quality_scale(QUANT_LUM, 50) == QUANT_LUM).all()
    assert (quality_scale(QUANT_LUM, 100) == 1).all()
    q10 = quality_scale(QUANT_LUM, 10)
    assert (q10 == np.clip((QUANT_LUM * 500 + 50) // 100, 1, 255)).all()
    assert ZIGZAG[0] == 0 and ZIGZAG[1] == 1 and ZIGZAG[2] == 8


def test_jpeg_rides_decode_real_and_pipeline_ops(spark):
    """Integration: JPEG payloads dispatch through decode_real's magic
    sniffing and ride the SAME Spark pipeline ops as BMP —
    resize_image_real re-encodes them as BMP (value-checked against
    the locally-decoded pixels)."""
    from erathia_market_etl_spark.operators.multimodal import (
        decode_bmp,
        decode_real,
        resample_nearest,
        resize_image_real,
    )

    img = _smooth_image(20, 28, seed=4)
    payload = encode_jpeg(img, quality=90)
    modality, decoded = decode_real(payload)
    assert modality == "image" and decoded.shape == (20, 28, 3)

    media = spark.createDataFrame(
        [(1, bytearray(payload)),
         (2, bytearray(encode_jpeg(img, quality=60, restart_interval=2)))],
        "media_id long, content binary",
    )
    out = {r["media_id"]: r for r in resize_image_real(media, 5, 5).collect()}
    assert set(out) == {1, 2}
    got = decode_bmp(bytes(out[1]["content"]))
    assert (got == resample_nearest(decoded, 5, 5)).all()


def test_jpeg_fuzz_roundtrip():
    """Hypothesis sweep: arbitrary dims/quality/restart interval must
    decode to the right shape without crashing, and smooth content must
    clear a loose PSNR floor."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=40, deadline=None)
    @given(
        st.integers(min_value=1, max_value=40),
        st.integers(min_value=1, max_value=40),
        st.integers(min_value=5, max_value=100),
        st.integers(min_value=0, max_value=5),
    )
    def roundtrip(h, w, quality, restart):
        img = _smooth_image(h, w, seed=h * 41 + w)
        enc = encode_jpeg(img, quality=quality, restart_interval=restart)
        out = decode_jpeg(enc)
        assert out.shape == (h, w, 3)
        # same geometric rule as test_odd_dimensions_and_edge_padding:
        # below 16 px the 4x4 base grid is genuinely high-frequency
        # content, so the floor there is only sanity, not fidelity
        if quality >= 50:
            assert _psnr(out, img) >= (24.0 if min(h, w) >= 16 else 12.0)

    roundtrip()
