"""GIF codec in pure numpy + stdlib (r16 — extends the real-decoder
media surface: GIF is the third-most-common image container in crawled
corpora after JPEG/PNG, and LZW is the one mainstream compression the
repo's codec set did not yet cover).

Same discipline as ``operators/jpeg.py`` / the PNG decoder in
``operators/multimodal.py``:

  * the DECODER is the product — GIF87a and GIF89a, global and local
    color tables, interlaced and sequential images, sub-block framing,
    extension skipping (graphic control / comment / application), and
    the full variable-width LZW state machine (clear codes, deferred
    clear, the KwKwK self-referential case, 12-bit cap);
  * the encoder in tests/encoders.py is the fixture factory that
    synthesizes valid payloads (GIF is lossless for paletted content,
    so round-trips are EXACT — no JPEG-style divisibility construction
    needed);
  * bit-serial LZW cannot vectorize (each code's width depends on the
    dictionary state built by every previous code), so the walk is
    scalar Python per payload inside the Arrow batch — parallelism is
    by input split, the same honest shape as the JPEG Huffman walk;
    palette indexing back to RGB is vectorized numpy.

Policy notes (documented, pinned in tests/test_gif.py): only the FIRST
image of an animated stream is decoded (frame 1 is what a thumbnail /
features stage wants);
a transparency index from a Graphic Control Extension renders as its
palette color (no alpha channel in the (h, w, 3) contract — the same
alpha-drop policy the PNG decoder records).
"""

from __future__ import annotations

import struct

import numpy as np

GIF_MAGICS = (b"GIF87a", b"GIF89a")
MAX_CODE_WIDTH = 12


class _LZWReader:
    """Variable-width LSB-first code unpacker."""

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def get(self, width: int) -> int | None:
        while self.nbits < width:
            if self.pos >= len(self.data):
                return None  # stream exhausted (legal after EOI)
            self.acc |= self.data[self.pos] << self.nbits
            self.pos += 1
            self.nbits += 8
        code = self.acc & ((1 << width) - 1)
        self.acc >>= width
        self.nbits -= width
        return code


def lzw_decompress(data: bytes, min_code_size: int) -> bytes:
    """GIF-flavor LZW decode, tolerant of spec-legal foreign
    streams: deferred clears, streams ending without EOI (the bytes
    simply run out), and the KwKwK case (code == next free slot)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    r = _LZWReader(data)
    singles = [bytes([i]) for i in range(clear)]

    out = bytearray()
    table: list[bytes] = []
    width = min_code_size + 1
    prev: bytes | None = None
    while True:
        code = r.get(width)
        if code is None or code == eoi:
            return bytes(out)
        if code == clear:
            table = []
            width = min_code_size + 1
            prev = None
            continue
        next_code = eoi + 1 + len(table)
        if code < clear:
            entry = singles[code]
        elif code == eoi:  # unreachable, handled above
            return bytes(out)
        elif eoi < code < next_code:
            entry = table[code - eoi - 1]
        elif code == next_code and prev is not None:
            entry = prev + prev[:1]  # KwKwK
        else:
            raise ValueError("corrupt GIF LZW stream: code out of range")
        out += entry
        if prev is not None and next_code <= (1 << MAX_CODE_WIDTH):
            table.append(prev + entry[:1])
            next_code += 1
        # EARLY width bump (>=, vs the encoder's >): the decoder's
        # table trails the encoder's by exactly one entry — the encoder
        # adds after every emit, the decoder only from the second code
        # — so it must widen one code sooner to stay in lockstep.
        if next_code >= (1 << width) and width < MAX_CODE_WIDTH:
            width += 1
        prev = entry


_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _deinterlace(rows: np.ndarray) -> np.ndarray:
    """GIF §Appendix E 4-pass row shuffle -> natural order."""
    h = rows.shape[0]
    out = np.empty_like(rows)
    src = 0
    for start, step in _INTERLACE_PASSES:
        for y in range(start, h, step):
            out[y] = rows[src]
            src += 1
    return out


def _read_sub_blocks(payload: bytes, pos: int) -> tuple[bytes, int]:
    out = bytearray()
    n = len(payload)
    while True:
        if pos >= n:
            raise ValueError("truncated GIF sub-blocks")
        size = payload[pos]
        pos += 1
        if size == 0:
            return bytes(out), pos
        if pos + size > n:
            raise ValueError("truncated GIF sub-block")
        out += payload[pos : pos + size]
        pos += size


def _parse(payload: bytes):
    """Walk the GIF block stream; yield per-image dicts (descriptor,
    palette, pixel indices) and count trailing frames."""
    if payload[:6] not in GIF_MAGICS:
        raise ValueError("not a GIF payload")
    sw, sh, packed, _bg, _aspect = struct.unpack_from("<HHBBB", payload, 6)
    pos = 13
    gct = None
    if packed & 0x80:
        size = 3 * (2 << (packed & 0x07))
        gct = np.frombuffer(payload, np.uint8, size, pos).reshape(-1, 3)
        pos += size
    images = []
    while True:
        if pos >= len(payload):
            raise ValueError("truncated GIF: no trailer")
        block = payload[pos]
        pos += 1
        if block == 0x3B:  # trailer
            return sw, sh, images
        if block == 0x21:  # extension: label + sub-blocks, skipped
            pos += 1
            _, pos = _read_sub_blocks(payload, pos)
            continue
        if block != 0x2C:
            raise ValueError(f"unknown GIF block 0x{block:02X}")
        left, top, w, h, ipacked = struct.unpack_from("<HHHHB", payload, pos)
        pos += 9
        pal = gct
        if ipacked & 0x80:
            size = 3 * (2 << (ipacked & 0x07))
            pal = np.frombuffer(payload, np.uint8, size, pos).reshape(-1, 3)
            pos += size
        if pal is None:
            raise ValueError("GIF image has no color table")
        min_code_size = payload[pos]
        pos += 1
        if not 2 <= min_code_size <= 11:
            raise ValueError("corrupt GIF LZW minimum code size")
        lzw, pos = _read_sub_blocks(payload, pos)
        images.append(
            {
                "left": left,
                "top": top,
                "w": w,
                "h": h,
                "interlaced": bool(ipacked & 0x40),
                "palette": pal,
                "min_code_size": min_code_size,
                "lzw": lzw,
            }
        )


def decode_gif(payload: bytes) -> np.ndarray:
    """GIF decoder -> (h, w, 3) uint8 RGB of the FIRST image block
    (multi-frame policy in the module docstring). Handles 87a/89a,
    global/local color tables, interlacing, sub-block reassembly, and
    the full LZW state machine; corruption raises ValueError."""
    _, _, images = _parse(payload)
    if not images:
        raise ValueError("GIF payload contains no image block")
    im = images[0]
    w, h = im["w"], im["h"]
    raw = lzw_decompress(im["lzw"], im["min_code_size"])
    if len(raw) < w * h:
        raise ValueError("GIF LZW stream shorter than image")
    idx = np.frombuffer(raw, np.uint8, w * h).reshape(h, w)
    if im["interlaced"]:
        idx = _deinterlace(idx)
    pal = im["palette"]
    if int(idx.max(initial=0)) >= len(pal):
        raise ValueError("GIF pixel index outside color table")
    return pal[idx]
