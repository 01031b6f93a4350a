"""Reference encoders for the media decoders under test.

The package only decodes PNG, PPM, GIF and IMA-ADPCM WAV payloads; the
registered media queries never build one. These encoders are the test
fixture factories that synthesize valid payloads in every shape the
decoders accept, so a round-trip pins each decoder branch.
"""

from __future__ import annotations

import struct

import numpy as np

from erathia_market_etl_spark.operators.gif import (
    _INTERLACE_PASSES,
    MAX_CODE_WIDTH,
)
from erathia_market_etl_spark.operators.multimodal import (
    _ADAM7,
    _PNG_CHANNELS,
    _PNG_VALID_DEPTHS,
    IMA_STEP_TABLE,
    PNG_SIG,
    _ima_reconstruct,
    _png_predict,
)

IMA_BLOCK_ALIGN = 256  # bytes per block -> 505 samples per block


def encode_wav_ima(
    samples: np.ndarray, sample_rate: int, block_align: int = IMA_BLOCK_ALIGN
) -> bytes:
    """Real IMA ADPCM mono WAV encoder (tag 0x0011). Each block stores
    its first sample verbatim in the 4-byte header (predictor int16,
    step index uint8, reserved), then 4-bit codes low-nibble-first;
    the step index carries across blocks as encoders conventionally
    do (each block stays independently decodable via its header). A
    fact chunk records the true frame count so a partial final block
    trims exactly on decode."""
    import struct

    s = np.asarray(samples, dtype=np.int64)
    n = len(s)
    if n == 0:
        raise ValueError("cannot encode an empty signal")
    spb = (block_align - 4) * 2 + 1
    index = 0
    blocks = bytearray()
    for b0 in range(0, n, spb):
        chunk = s[b0 : b0 + spb]
        predictor = int(chunk[0])
        blocks += struct.pack("<hBB", predictor, index, 0)
        nibbles = []
        for x in chunk[1:]:
            step = int(IMA_STEP_TABLE[index])
            diff = int(x) - predictor
            code = 8 if diff < 0 else 0
            diff = abs(diff)
            if diff >= step:
                code |= 4
                diff -= step
            if diff >= step >> 1:
                code |= 2
                diff -= step >> 1
            if diff >= step >> 2:
                code |= 1
            predictor, index = _ima_reconstruct(code, predictor, index)
            nibbles.append(code)
        nibbles += [0] * ((spb - 1) - len(nibbles))  # pad final block
        for lo, hi in zip(nibbles[::2], nibbles[1::2]):
            blocks.append(lo | (hi << 4))
    avg_bps = sample_rate * block_align // spb
    fmt = struct.pack(
        "<HHIIHHHH", 0x0011, 1, sample_rate, avg_bps, block_align, 4, 2, spb
    )
    return (
        b"RIFF"
        + struct.pack("<I", 4 + (8 + len(fmt)) + (8 + 4) + (8 + len(blocks)))
        + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"fact" + struct.pack("<II", 4, n)
        + b"data" + struct.pack("<I", len(blocks)) + bytes(blocks)
    )


def encode_ppm(img: np.ndarray) -> bytes:
    """Real binary PPM (P6) encoder for (h, w, 3) uint8 RGB."""
    h, w, _ = img.shape
    return b"P6\n%d %d\n255\n" % (w, h) + img.tobytes()


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(data)) + ctype + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def _png_filter_rows(flat: np.ndarray, bpp: int, filter_type) -> bytearray:
    """Apply spec filters to packed scanline bytes ``flat`` (h, stride):
    one filter-type byte + filtered bytes per row. ``filter_type`` is a
    spec filter (0 None / 1 Sub / 2 Up / 3 Average / 4 Paeth) for every
    scanline, or ``"mixed"`` (row y uses filter y % 5) so one payload
    exercises every reconstruction path. Predictions use the ORIGINAL
    prior-scanline bytes (spec: filtering is lossless, so reconstructed
    == original)."""
    h, stride = flat.shape
    lines = bytearray()
    zero = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        ft = (y % 5) if filter_type == "mixed" else int(filter_type)
        cur = flat[y]
        prior = flat[y - 1] if y else zero
        lines.append(ft)
        if ft == 0:
            lines += cur.tobytes()
        elif ft == 2:  # Up vectorizes: no left-neighbor dependency
            lines += ((cur.astype(np.int64) - prior) & 0xFF).astype(
                np.uint8).tobytes()
        else:
            out = bytearray(stride)
            for x in range(stride):
                out[x] = (
                    int(cur[x]) - _png_predict(ft, x, cur, prior, bpp)
                ) & 0xFF
            lines += out
    return lines


def _png_pack_rows(img: np.ndarray, bit_depth: int) -> np.ndarray:
    """Pack (h, w, c) samples into the spec's scanline bytes (h, stride):
    8-bit verbatim, 16-bit big-endian byte pairs, sub-byte MSB-first with
    zero padding to the byte boundary (spec §7.2). Shared by the
    sequential encoder (whole image) and the Adam7 encoder (per pass)."""
    h, w, c = img.shape
    if bit_depth == 8:
        return np.ascontiguousarray(img, dtype=np.uint8).reshape(h, w * c)
    if bit_depth == 16:
        v = img.astype(np.uint16).reshape(h, w * c)
        flat = np.zeros((h, w * c * 2), dtype=np.uint8)
        flat[:, 0::2] = (v >> 8).astype(np.uint8)
        flat[:, 1::2] = (v & 0xFF).astype(np.uint8)
        return flat
    vals = img[..., 0].astype(np.uint8)
    if int(vals.max(initial=0)) >= (1 << bit_depth):
        raise ValueError(f"sample exceeds {bit_depth}-bit range")
    shifts = np.arange(bit_depth - 1, -1, -1, dtype=np.uint8)
    bits = ((vals[..., None] >> shifts) & 1).astype(np.uint8)
    return np.packbits(bits.reshape(h, w * bit_depth), axis=1)


def encode_png(img: np.ndarray, filter_type: int | str = 0) -> bytes:
    """Real PNG encoder for (h, w, 3) uint8 RGB — pure stdlib zlib +
    struct, no codec libraries. 8-bit color type 2, no interlace; the
    general-shape twin is encode_png_ex below."""
    return encode_png_ex(img, color_type=2, bit_depth=8,
                         filter_type=filter_type)


def encode_png_ex(
    img: np.ndarray,
    color_type: int,
    bit_depth: int,
    filter_type: int | str = 0,
    palette: np.ndarray | None = None,
    interlace: int = 0,
) -> bytes:
    """PNG encoder for EVERY spec-legal (color type, bit depth) pair,
    sequential or Adam7-interlaced — the fixture factory for the full
    decode_png surface.
    ``img`` shapes: (h, w) or (h, w, 1) gray/palette-index, (h, w, 2)
    gray+alpha, (h, w, 3) RGB, (h, w, 4) RGBA; dtype uint8 (depths
    1-8; sub-byte values must fit the depth) or uint16 (depth 16).
    Sub-byte rows pack MSB-first with zero padding to the byte
    boundary (spec §7.2); 16-bit samples are big-endian. ``palette``
    is the (n, 3) uint8 PLTE for color type 3. ``interlace=1`` emits
    the seven Adam7 reduced images in pass order, each packed and
    filtered as an independent image (spec §8.2), empty passes omitted."""
    import struct
    import zlib

    if img.ndim == 2:
        img = img[..., None]
    h, w, c = img.shape
    channels = _PNG_CHANNELS.get(color_type)
    if channels is None or c != channels:
        raise ValueError(
            f"color type {color_type} wants {channels} channel(s), got {c}"
        )
    if bit_depth not in _PNG_VALID_DEPTHS[color_type]:
        raise ValueError(
            f"bit depth {bit_depth} is not spec-legal for color type "
            f"{color_type}"
        )
    if interlace not in (0, 1):
        raise ValueError(f"invalid PNG interlace method {interlace}")
    bpp = max(1, channels * bit_depth // 8)
    if interlace:
        lines = bytearray()
        for x0, y0, dx, dy in _ADAM7:
            sub = img[y0::dy, x0::dx]
            if sub.shape[0] == 0 or sub.shape[1] == 0:
                continue
            lines += _png_filter_rows(
                _png_pack_rows(sub, bit_depth), bpp, filter_type
            )
    else:
        lines = _png_filter_rows(
            _png_pack_rows(img, bit_depth), bpp, filter_type
        )

    ihdr = struct.pack(
        ">IIBBBBB", w, h, bit_depth, color_type, 0, 0, interlace
    )
    parts = PNG_SIG + _png_chunk(b"IHDR", ihdr)
    if color_type == 3:
        if palette is None:
            raise ValueError("color type 3 requires a palette")
        parts += _png_chunk(
            b"PLTE", np.ascontiguousarray(palette, dtype=np.uint8).tobytes()
        )
    return (
        parts
        + _png_chunk(b"IDAT", zlib.compress(bytes(lines), 6))
        + _png_chunk(b"IEND", b"")
    )


class _LZWWriter:
    """Variable-width LSB-first code packer (GIF Appendix F)."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, code: int, width: int) -> None:
        self.acc |= code << self.nbits
        self.nbits += width
        while self.nbits >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def finish(self) -> bytes:
        if self.nbits:
            self.out.append(self.acc & 0xFF)
        return bytes(self.out)


def lzw_compress(indices: np.ndarray, min_code_size: int) -> bytes:
    """GIF-flavor LZW: emits CLEAR first, grows the string table to
    4096 then emits CLEAR and resets, bumps the code width as soon as
    the NEXT free slot would not fit (mirroring the decoder's
    early-bump convention below, so the two stay in lockstep)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    w = _LZWWriter()

    def reset() -> tuple[dict, int, int]:
        return {}, eoi + 1, min_code_size + 1

    table, next_code, width = reset()
    w.put(clear, width)
    seq = [int(x) for x in indices]
    if not seq:
        w.put(eoi, width)
        return w.finish()
    cur = seq[0]
    for k in seq[1:]:
        if (cur, k) in table:
            cur = table[(cur, k)]
            continue
        w.put(cur, width)
        table[(cur, k)] = next_code
        next_code += 1
        if next_code > (1 << MAX_CODE_WIDTH):
            w.put(clear, width)
            table, next_code, width = reset()
        elif next_code > (1 << width):
            width += 1
        cur = k
    w.put(cur, width)
    w.put(eoi, width)
    return w.finish()


def _interlace(rows: np.ndarray) -> np.ndarray:
    h = rows.shape[0]
    order = [y for start, step in _INTERLACE_PASSES for y in range(start, h, step)]
    return rows[order]


def encode_gif(img: np.ndarray, interlace: bool = False) -> bytes:
    """Real single-frame GIF89a encoder for (h, w, 3) uint8 RGB with at
    most 256 distinct colors (build-time ValueError otherwise — GIF is
    paletted; quantization is a different operator). Deterministic:
    palette is the lexicographically sorted distinct color list."""
    h, w, _ = img.shape
    flat = img.reshape(-1, 3)
    palette, inverse = np.unique(flat, axis=0, return_inverse=True)
    if len(palette) > 256:
        raise ValueError("more than 256 distinct colors; quantize first")
    # palette size must be a power of two >= 2 in the descriptor
    bits = max(1, int(len(palette) - 1).bit_length())
    pal = np.zeros((1 << bits, 3), dtype=np.uint8)
    pal[: len(palette)] = palette
    indices = inverse.astype(np.int32).reshape(h, w)
    if interlace:
        indices = _interlace(indices)
    min_code_size = max(2, bits)
    lzw = lzw_compress(indices.reshape(-1), min_code_size)
    out = bytearray()
    out += b"GIF89a"
    out += struct.pack("<HHBBB", w, h, 0x80 | ((bits - 1) << 4) | (bits - 1), 0, 0)
    out += pal.tobytes()
    out += b"\x2c" + struct.pack(
        "<HHHHB", 0, 0, w, h, 0x40 if interlace else 0x00
    )
    out.append(min_code_size)
    for i in range(0, len(lzw), 255):  # sub-block framing
        chunk = lzw[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out += b"\x00\x3b"  # block terminator + trailer
    return bytes(out)
