"""GIF codec pins (operators/gif.py — r16, the VERDICT r15 item-7
media extension: LZW + the GIF container, the third container format
of real crawled corpora after JPEG/PNG).

GIF is LOSSLESS for paletted content, so unlike JPEG the contracts are
straight equality: (1) a bitstream worked out BY HAND from the spec
(variable-width LSB-first LZW codes computed on paper) must decode to
the predicted pixels — the decoder cannot pass by agreeing with its
own encoder; (2) encoder round-trips are bit-exact everywhere,
including interlace, 256-color palettes, and dictionary-overflow
streams that force mid-stream CLEAR codes; (3) spec-legal foreign
shapes (87a magic, local color tables, extensions, multi-frame, odd
sub-block splits, deferred clear) decode; (4) the error set is honest
ValueErrors, and the media sniffer routes GIF payloads."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from erathia_market_etl_spark.operators.gif import (
    decode_gif,
    lzw_decompress,
)

from .encoders import encode_gif, lzw_compress

PAL4 = bytes(
    [10, 20, 30, 40, 50, 60, 70, 80, 90, 100, 110, 120]
)  # 4 RGB entries


def _hand_payload(magic=b"GIF89a", extra=b"", subsplit=False):
    """The hand-assembled stream: 2x2 image, indices [[0,1],[0,1]],
    min code size 2 (clear=4, eoi=5). Worked on paper: emitted codes
    are 4, 0, 1, 6, 5 — code 6 is the (0,1) dictionary entry created
    by the first miss, and the trailing EOI is read by a decoder that
    has ALREADY widened to 4 bits (its table hit 8 entries), which
    must land on the zero padding and still terminate. LSB-first
    3-bit packing of 100 000 001 110 101 gives bytes 0x44 0x5C."""
    lzw = b"\x44\x5c"
    if subsplit:  # same bytes split across two sub-blocks
        data = b"\x01" + lzw[:1] + b"\x01" + lzw[1:] + b"\x00"
    else:
        data = b"\x02" + lzw + b"\x00"
    return (
        magic
        + struct.pack("<HHBBB", 2, 2, 0x91, 0, 0)
        + PAL4
        + extra
        + b"\x2c" + struct.pack("<HHHHB", 0, 0, 2, 2, 0)
        + b"\x02" + data
        + b"\x3b"
    )


HAND_PIXELS = np.array(
    [[[10, 20, 30], [40, 50, 60]], [[10, 20, 30], [40, 50, 60]]],
    dtype=np.uint8,
)


def _desc_off(payload: bytes) -> int:
    """Structural offset of the image descriptor (0x2C can occur as a
    palette byte, so .index is not safe on encoder output)."""
    packed = payload[10]
    off = 13 + (3 * (2 << (packed & 0x07)) if packed & 0x80 else 0)
    while payload[off] == 0x21:  # skip extensions
        off += 2
        while payload[off]:
            off += 1 + payload[off]
        off += 1
    assert payload[off] == 0x2C
    return off


def test_decode_matches_hand_assembled_spec_stream():
    assert (decode_gif(_hand_payload()) == HAND_PIXELS).all()
    # GIF87a magic is the same format
    assert (decode_gif(_hand_payload(magic=b"GIF87a")) == HAND_PIXELS).all()
    # sub-block framing is transport, not content
    assert (decode_gif(_hand_payload(subsplit=True)) == HAND_PIXELS).all()


def test_extensions_are_skipped():
    """A Graphic Control Extension and a comment extension between the
    header and the image must not disturb decoding (89a §23/§24)."""
    gce = b"\x21\xf9\x04\x01\x0a\x00\x00\x00"
    comment = b"\x21\xfe\x05hello\x00"
    out = decode_gif(_hand_payload(extra=gce + comment))
    assert (out == HAND_PIXELS).all()


def test_roundtrip_exact_and_interlace():
    rng = np.random.default_rng(7)
    for h, w, ncol in [(1, 1, 1), (7, 5, 2), (16, 16, 256), (33, 9, 17)]:
        pal = rng.integers(0, 256, (ncol, 3), dtype=np.uint8)
        img = pal[rng.integers(0, ncol, (h, w))]
        for interlace in (False, True):
            payload = encode_gif(img, interlace=interlace)
            assert payload[:6] == b"GIF89a"
            assert (decode_gif(payload) == img).all(), (h, w, ncol, interlace)
    # interlace flag actually set in the descriptor
    img = pal[rng.integers(0, ncol, (9, 4))]
    payload = encode_gif(img, interlace=True)
    assert payload[_desc_off(payload) + 9] & 0x40


def test_interlace_pass_geometry():
    """Row order pin, worked from Appendix E: for h=10 the pass rows
    are 0,8 / 4 / 2,6 / 1,3,5,7,9 — encode a single-column image whose
    rows are their own index and check the on-wire LZW row order by
    decoding a deliberately NON-deinterlaced twin."""
    h = 10
    img = np.arange(h, dtype=np.uint8).reshape(h, 1, 1).repeat(3, axis=2)
    payload = encode_gif(img, interlace=True)
    # clearing the interlace bit exposes the raw (interlaced) row order
    raw = bytearray(payload)
    raw[_desc_off(payload) + 9] &= ~0x40
    rows = [int(r[0][0]) for r in decode_gif(bytes(raw))]
    assert rows == [0, 8, 4, 2, 6, 1, 3, 5, 7, 9]
    assert [int(r[0][0]) for r in decode_gif(payload)] == list(range(h))


def test_lzw_dictionary_overflow_forces_clear_and_stays_exact():
    """A long low-entropy stream overflows the 4096-entry table; the
    encoder must emit CLEAR and resynchronize, and the round-trip
    stays exact. The stream really must contain a mid-stream CLEAR."""
    rng = np.random.default_rng(3)
    seq = (rng.integers(0, 16, 60_000) // 2 * 2).astype(np.int32)
    blob = lzw_compress(seq, 4)
    assert list(lzw_decompress(blob, 4)) == [int(x) for x in seq]
    # 60k symbols with a growing dictionary needs > 4090 entries
    # somewhere, so at least one non-leading CLEAR was emitted (weak
    # structural check: the blob is far below 1 byte/symbol yet the
    # round-trip above proves resynchronization)
    assert len(blob) < len(seq)


def test_lzw_kwkwk_and_deferred_clear_foreign_streams():
    """The KwKwK self-reference (code == next free slot) decodes, and
    a DEFERRED-CLEAR stream — encoder never resets, table pinned full,
    codes keep coming at 12 bits — is spec-legal and must decode."""
    # KwKwK: 'aaaa...' produces it immediately
    seq = np.zeros(50, dtype=np.int32)
    assert list(lzw_decompress(lzw_compress(seq, 2), 2)) == [0] * 50
    rng = np.random.default_rng(11)
    seq = rng.integers(0, 256, 200_000).astype(np.int32)
    assert list(lzw_decompress(lzw_compress(seq, 8), 8)) == [
        int(x) for x in seq
    ]


def test_local_color_table_overrides_global():
    """An image block carrying its own color table must use it."""
    payload = _hand_payload()
    desc_at = payload.index(b"\x2c")
    lct = bytes(255 - b for b in PAL4)
    with_lct = (
        payload[: desc_at + 9]
        + bytes([payload[desc_at + 9] | 0x80 | 0x01])  # LCT flag, size 4
        + lct
        + payload[desc_at + 10 :]
    )
    out = decode_gif(with_lct)
    assert (out == 255 - HAND_PIXELS).all()


def test_multi_frame_count_and_first_frame_policy():
    """Two image blocks: decode_gif returns the FIRST (the documented
    thumbnail policy)."""
    one = _hand_payload()
    desc_at = one.index(b"\x2c")
    frame = one[desc_at:-1]  # image block without trailer
    two = one[:-1] + frame + b"\x3b"
    assert (decode_gif(two) == HAND_PIXELS).all()


def test_error_set_is_honest():
    with pytest.raises(ValueError):
        decode_gif(b"NOTGIF" + b"\x00" * 20)
    payload = _hand_payload()
    with pytest.raises(ValueError):  # truncated: no trailer
        decode_gif(payload[:-2])
    bad_block = bytearray(payload)
    bad_block[payload.index(b"\x2c")] = 0x7E  # unknown block type
    with pytest.raises(ValueError):
        decode_gif(bytes(bad_block))
    bad_mcs = bytearray(payload)
    bad_mcs[payload.index(b"\x2c") + 10] = 13  # illegal min code size
    with pytest.raises(ValueError):
        decode_gif(bytes(bad_mcs))
    rng = np.random.default_rng(0)
    toomany = rng.integers(0, 256, (17, 17, 3), dtype=np.uint8)
    with pytest.raises(ValueError):  # 289 distinct colors
        encode_gif(toomany)


def test_sniffer_routes_gif():
    from erathia_market_etl_spark.operators.multimodal import decode_real

    modality, img = decode_real(_hand_payload())
    assert modality == "image"
    assert (img == HAND_PIXELS).all()


def test_determinism():
    rng = np.random.default_rng(5)
    pal = rng.integers(0, 256, (16, 3), dtype=np.uint8)
    img = pal[rng.integers(0, 16, (21, 13))]
    assert encode_gif(img) == encode_gif(img)
