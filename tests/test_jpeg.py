"""Baseline JPEG codec pins (operators/jpeg.py — r15, the VERDICT r14
stretch item: the last large decode gate after PNG closed).

JPEG is lossy, so the contracts are NOT value hashes: (1) a bitstream
assembled BY HAND from the spec (T.81 Annex K Huffman codes worked out
on paper, all-ones quant table) must decode to arithmetic-predicted
pixels — the decoder cannot pass by agreeing with its own encoder;
(2) exactness where the math guarantees it (flat blocks whose DC
quantizes without remainder); (3) PSNR floors and monotone
rate-quality behavior everywhere else; (4) the honest-gate error set
(arithmetic/lossless raise NotImplementedError BY NAME, corruption
raises ValueError; progressive DECODES — see the test_progressive_*
pins); (5) JPEG payloads ride the real Spark pipeline ops
unchanged (resize/hash through decode_real's sniffing)."""

from __future__ import annotations

import struct
import zlib  # noqa: F401  (symmetry with the PNG pins; unused here)

import numpy as np
import pytest

from erathia_market_etl_spark.operators.jpeg import (
    HUFF_AC_CHROM,
    HUFF_AC_LUM,
    HUFF_DC_CHROM,
    HUFF_DC_LUM,
    QUANT_LUM,
    ZIGZAG,
    _build_codes,
    decode_jpeg,
    encode_jpeg,
    quality_scale,
)


def _smooth_image(h: int, w: int, seed: int = 0) -> np.ndarray:
    """Band-limited test image: bilinear upsample of a 4x4 random grid
    — most energy in low DCT frequencies, like a photograph."""
    rng = np.random.default_rng(seed)
    base = rng.integers(0, 256, (4, 4, 3)).astype(np.float64)
    ys = np.linspace(0, 3, h)
    xs = np.linspace(0, 3, w)
    out = np.zeros((h, w, 3))
    for c in range(3):
        tmp = np.array(
            [np.interp(xs, np.arange(4), base[i, :, c]) for i in range(4)]
        )
        out[..., c] = np.array(
            [np.interp(ys, np.arange(4), tmp[:, j]) for j in range(w)]
        ).T
    return np.clip(out, 0, 255).astype(np.uint8)


def _psnr(a: np.ndarray, b: np.ndarray) -> float:
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
    """The four embedded Huffman specs must be well-formed: canonical
    codes are prefix-free by construction IF the bits[] counts never
    overflow a length — verify Kraft sums and symbol counts."""
    for bits, syms in (HUFF_DC_LUM, HUFF_DC_CHROM, HUFF_AC_LUM,
                       HUFF_AC_CHROM):
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
    # flat COLOR through the full YCbCr path at 4:4:4: not bit-exact in
    # general (color transform rounding), but within 1 count
    flat = np.zeros((16, 16, 3), np.uint8)
    flat[:] = (200, 30, 90)
    out = decode_jpeg(encode_jpeg(flat, quality=95, subsample=False))
    assert np.abs(out.astype(int) - flat.astype(int)).max() <= 1


def test_psnr_floors_and_monotone_rate_quality():
    """Smooth image: q95 4:4:4 >= 40 dB, q50 4:2:0 >= 28 dB; file size
    strictly grows with quality; 4:2:0 is smaller than 4:4:4 at the
    same quality (the subsampling actually happened)."""
    img = _smooth_image(37, 53)
    enc95 = encode_jpeg(img, quality=95, subsample=False)
    assert _psnr(decode_jpeg(enc95), img) >= 40.0
    enc50 = encode_jpeg(img, quality=50)
    assert _psnr(decode_jpeg(enc50), img) >= 28.0
    sizes = [
        len(encode_jpeg(img, quality=q)) for q in (10, 50, 85, 95)
    ]
    assert sizes == sorted(sizes)
    assert len(encode_jpeg(img, quality=85, subsample=True)) < len(
        encode_jpeg(img, quality=85, subsample=False)
    )


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


def test_chroma_subsampling_geometry():
    """4:2:0: a left-red / right-blue image must come back with the
    halves still red and blue — the chroma planes land on the right
    pixels after 2x2 downsample + replication upsample."""
    img = np.zeros((32, 32, 3), np.uint8)
    img[:, :16] = (220, 20, 20)
    img[:, 16:] = (20, 20, 220)
    out = decode_jpeg(encode_jpeg(img, quality=90, subsample=True))
    left = out[8:24, 4:12].astype(int).mean(axis=(0, 1))
    right = out[8:24, 20:28].astype(int).mean(axis=(0, 1))
    assert left[0] > 150 and left[2] < 100, f"left not red: {left}"
    assert right[2] > 150 and right[0] < 100, f"right not blue: {right}"


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
    """Dims not multiples of the MCU (16x16 at 4:2:0) must crop back to
    the exact frame size; edge-replicated padding must not bleed badly
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
    """Progressive (SOF2) raises NotImplementedError NAMING the frame
    type; truncation/corruption raise ValueError — never garbage
    pixels, never a foreign exception class."""
    img = _smooth_image(16, 16, seed=1)
    good = encode_jpeg(img, quality=85)

    # progressive DECODES since r15 (test_progressive_* below); a
    # doctored SOF2 over a baseline full-band scan header is illegal
    # (progressive DC and AC must be separate scans) and must fail as
    # ValueError, not scramble state
    at = good.index(b"\xff\xc0")
    spliced = good[:at] + b"\xff\xc2" + good[at + 2 :]
    with pytest.raises(ValueError):
        decode_jpeg(spliced)
    arithmetic = good[:at] + b"\xff\xc9" + good[at + 2 :]
    with pytest.raises(NotImplementedError, match="arithmetic"):
        decode_jpeg(arithmetic)
    lossless = good[:at] + b"\xff\xc3" + good[at + 2 :]
    with pytest.raises(NotImplementedError, match="lossless"):
        decode_jpeg(lossless)

    with pytest.raises(ValueError):
        decode_jpeg(b"\x00\x01\x02")  # not a JPEG
    with pytest.raises(ValueError):
        decode_jpeg(good[: len(good) // 2])  # truncated mid-stream
    # corrupt one entropy byte far from the headers: the decoder must
    # fail inside its contracted set (ValueError), not crash elsewhere
    corrupt = bytearray(good)
    for i in range(len(good) - 16, len(good) - 2):
        corrupt = bytearray(good)
        corrupt[i] ^= 0x55
        try:
            decode_jpeg(bytes(corrupt))
        except ValueError:
            pass  # contracted failure
        except NotImplementedError:
            pass  # corruption may fake a gated marker code
    with pytest.raises(ValueError):
        encode_jpeg(np.zeros((0, 4), np.uint8))
    with pytest.raises(ValueError):
        encode_jpeg(np.zeros((4, 4), np.uint8), quality=0)


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
    sniffing and ride the SAME Spark pipeline ops as BMP/PPM/PNG —
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
    """Hypothesis sweep: arbitrary dims/quality/subsample must decode
    to the right shape without crashing, and smooth content must clear
    a loose PSNR floor."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=40, deadline=None)
    @given(
        st.integers(min_value=1, max_value=40),
        st.integers(min_value=1, max_value=40),
        st.integers(min_value=5, max_value=100),
        st.booleans(),
        st.booleans(),
        st.integers(min_value=0, max_value=5),
    )
    def roundtrip(h, w, quality, subsample, gray, restart):
        img = _smooth_image(h, w, seed=h * 41 + w)
        if gray:
            img = img[..., 0]
        enc = encode_jpeg(img, quality=quality, subsample=subsample,
                          restart_interval=restart)
        out = decode_jpeg(enc)
        assert out.shape == (h, w, 3)
        ref = img[..., None].repeat(3, axis=2) if gray else img
        # same geometric rule as test_odd_dimensions_and_edge_padding:
        # below 16 px the 4x4 base grid is genuinely high-frequency
        # content, so the floor there is only sanity, not fidelity
        if quality >= 50:
            assert _psnr(out, ref) >= (24.0 if min(h, w) >= 16 else 12.0)

    roundtrip()


def test_progressive_decodes_identically_to_baseline():
    """r15: progressive (SOF2) decode — spectral selection + successive
    approximation. The encoder's fixed scan script (DC Al=1 -> DC
    refine, per-component AC 1..63 Al=1 -> AC refine) transports the
    SAME quantized coefficients as the baseline single scan, so the
    decoded pixels must be IDENTICAL — the strongest possible pin, and
    it exercises every scan kind including the refine window discipline
    (correction bits must not span a ZRL's 16-zero advance window —
    the q95 noise case below caught exactly that bug)."""
    import numpy as np

    rng = np.random.default_rng(99)
    cases = [((24, 33, 3), False, 80), ((16, 16, 3), True, 80),
             ((13, 17), False, 80), ((1, 1), False, 80),
             ((40, 9, 3), True, 80), ((64, 64, 3), True, 10),
             ((48, 48), False, 5), ((33, 31, 3), False, 95),
             ((32, 32, 3), False, 100), ((20, 20), False, 100)]
    for shape, sub, q in cases:
        img = rng.integers(0, 256, shape, dtype=np.uint8)
        base = encode_jpeg(img, quality=q, subsample=sub)
        prog = encode_jpeg(img, quality=q, subsample=sub,
                           progressive=True)
        assert prog.count(b"\xff\xda") > base.count(b"\xff\xda")
        assert b"\xff\xc2" in prog and b"\xff\xc2" not in base
        assert (decode_jpeg(base) == decode_jpeg(prog)).all(), (
            shape, sub, q
        )
    with pytest.raises(ValueError):  # restart intervals baseline-only
        encode_jpeg(_smooth_image(16, 16), progressive=True,
                    restart_interval=2)


def test_progressive_eob_run_matches_hand_built_stream():
    """The Annex K tables carry no EOBn (n>=1) symbols, so the
    encoder's fixture streams never exercise multi-block EOB runs —
    this hand-assembled stream does: a 16x8 grayscale SOF2 with an
    all-ones DQT, two scans (DC first at Al=0, then AC 1..63 with a
    two-symbol custom DHT where '1'->0x01 and '0'->0x10), where the AC
    scan places +1 at zigzag k=1 of block 1 and ends with EOB1
    (appended bit 0 -> run covers block 1 AND block 2). Expected pixels
    come from an independent double-loop IDCT in this test."""
    import struct
    import zlib  # noqa: F401

    import numpy as np

    from erathia_market_etl_spark.operators.jpeg import (
        HUFF_DC_LUM,
        ZIGZAG,
    )

    def chunkless(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    dqt = chunkless(0xDB, bytes([0x00]) + bytes([1] * 64))
    sof = chunkless(0xC2, struct.pack(">BHHB", 8, 8, 16, 1) + bytes(
        [1, 0x11, 0]
    ))
    dc_bits, dc_syms = HUFF_DC_LUM
    dht_dc = chunkless(0xC4, bytes([0x00]) + bytes(dc_bits) + bytes(dc_syms))
    # custom AC table: two codes of length 1 — '0' -> 0x10 (EOB1),
    # '1' -> 0x01 (run 0, size 1)
    ac_bits = [2] + [0] * 15
    dht_ac = chunkless(0xC4, bytes([0x10]) + bytes(ac_bits)
                       + bytes([0x10, 0x01]))

    class W:  # tiny independent bit writer (1-padding, no stuffing needed)
        def __init__(self):
            self.bits = ""

        def put(self, code, n):
            self.bits += format(code, f"0{n}b") if n else ""

        def bytes(self):
            b = self.bits + "1" * (-len(self.bits) % 8)
            return bytes(int(b[i:i + 8], 2) for i in range(0, len(b), 8))

    # scan 1: DC first (Ss=0 Se=0 Ah=0 Al=0), both blocks, diffs 8, 8
    # (DC size-4 code is 101 per the canonical Annex K construction)
    w = W()
    for _ in range(2):
        w.put(0b101, 3)
        w.put(8, 4)
    sos1 = chunkless(0xDA, bytes([1, 1, 0x00, 0, 0, 0x00])) + w.bytes()

    # scan 2: AC first (Ss=1 Se=63 Ah=0 Al=0): block 1 gets +1 at k=1
    # ('1' = symbol 0x01, magnitude bit 1), then EOB1 ('0' + appended
    # bit 0 -> eobrun covers this block and the next)
    w = W()
    w.put(0b1, 1)  # symbol 0x01
    w.put(1, 1)    # magnitude bit: +1
    w.put(0b0, 1)  # symbol 0x10 = EOB1
    w.put(0, 1)    # appended run bit
    sos2 = chunkless(0xDA, bytes([1, 1, 0x00, 1, 63, 0x00])) + w.bytes()

    payload = (b"\xff\xd8" + dqt + sof + dht_dc + dht_ac
               + sos1 + sos2 + b"\xff\xd9")
    out = decode_jpeg(payload)
    assert out.shape == (8, 16, 3)

    # independent IDCT: block 1 has DC=8 and coefficient (0,1)=+1
    # (zigzag k=1), block 2 has DC=16 (cumulative diffs), all-ones quant
    def idct_ref(F):
        def c(u):
            return 1 / np.sqrt(2) if u == 0 else 1.0
        B = np.zeros((8, 8))
        for x in range(8):
            for y in range(8):
                s = 0.0
                for u in range(8):
                    for v in range(8):
                        s += (c(u) * c(v) / 4 * F[u, v]
                              * np.cos((2 * x + 1) * u * np.pi / 16)
                              * np.cos((2 * y + 1) * v * np.pi / 16))
                B[x, y] = s
        return np.clip(np.round(B + 128), 0, 255).astype(np.uint8)

    f1 = np.zeros((8, 8)); f1[0, 0] = 8; f1[ZIGZAG[1] // 8, ZIGZAG[1] % 8] = 1
    f2 = np.zeros((8, 8)); f2[0, 0] = 16
    assert (out[:, :8, 0] == idct_ref(f1)).all(), "block 1 (EOB1 source)"
    assert (out[:, 8:, 0] == idct_ref(f2)).all(), "block 2 (EOB-run covered)"
