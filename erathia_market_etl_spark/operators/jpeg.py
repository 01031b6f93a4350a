"""Baseline grayscale JPEG (ITU-T T.81 / JFIF) codec in numpy + stdlib.

- DECODE: baseline sequential DCT (SOF0), 8-bit precision, one
  component, restart intervals (DRI/RSTn), 0xFF fill bytes and
  standalone markers, multiple DQT/DHT segments. Huffman tables come
  from the file's own DHT segments. The output is (h, w, 3) uint8 with
  the gray plane in all three channels, the shape the image stages
  (``resize_image_real``) take.
- ENCODE: the payload factory for ``media_jpeg_real_decode`` and the
  tests. One gray plane in, IJG quality scaling of the Annex K
  luminance table, the Annex K luminance Huffman tables written into
  DHT, optional restart interval.
- Any other frame (progressive, extended, lossless, hierarchical,
  arithmetic), a frame with more than one component and a precision
  other than 8 bits raise ``UnsupportedMediaError`` while the frame
  header is parsed, before any entropy decode. A truncated or corrupt
  stream raises ``ValueError``.

Determinism: the DCT is the exact orthonormal separable transform in
float64, and quantization rounds half away from zero explicitly. JPEG
is lossy, so the tests pin error bounds and PSNR floors, exactness
where the arithmetic guarantees it, and a hand-assembled bitstream
decoded against spec arithmetic (tests/test_jpeg.py).

The Huffman walk is scalar Python (a bit-serial entropy code); the
block math is batched numpy.
"""

from __future__ import annotations

import struct

import numpy as np

from .multimodal import UnsupportedMediaError

# ITU-T T.81 Annex K.1 luminance quantization table (row-major 8x8).
QUANT_LUM = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int64)

# Zigzag scan: ZIGZAG[k] = row-major index of the k-th zigzag position.
ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)
UNZIGZAG = np.argsort(ZIGZAG)  # row-major index -> zigzag position

# Annex K.3 luminance Huffman specs: (bits[1..16] code-length counts, symbols).
HUFF_DC_LUM = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
HUFF_AC_LUM = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
        0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
        0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
        0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
        0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
        0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
        0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
        0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
        0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
        0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
        0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
        0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
        0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
        0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
        0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
        0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
        0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)
def _dct_matrix() -> np.ndarray:
    """Orthonormal 8-point DCT-II matrix M: FDCT F = M B M^T, IDCT
    B = M^T F M. M[u,x] = c(u)/2 * cos((2x+1) u pi / 16), c(0)=1/sqrt2."""
    u = np.arange(8)[:, None].astype(np.float64)
    x = np.arange(8)[None, :].astype(np.float64)
    m = 0.5 * np.cos((2 * x + 1) * u * np.pi / 16)
    m[0] /= np.sqrt(2.0)
    return m


_DCT_M = _dct_matrix()


def fdct_blocks(blocks: np.ndarray) -> np.ndarray:
    """Batched forward DCT over (n, 8, 8) float64 blocks."""
    return np.einsum("ux,nxy,vy->nuv", _DCT_M, blocks, _DCT_M)


def idct_blocks(coefs: np.ndarray) -> np.ndarray:
    """Batched inverse DCT over (n, 8, 8) float64 coefficient blocks:
    B = M^T F M, i.e. B[x,y] = sum_{u,v} M[u,x] F[u,v] M[v,y]."""
    return np.einsum("ux,nuv,vy->nxy", _DCT_M, coefs, _DCT_M)


def quality_scale(table: np.ndarray, quality: int) -> np.ndarray:
    """IJG quality scaling: 1..100 -> scaled Annex K table, each entry
    floor((t*scale + 50)/100) clipped to [1, 255]."""
    if not 1 <= quality <= 100:
        raise ValueError("JPEG quality must be in 1..100")
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip((table * scale + 50) // 100, 1, 255).astype(np.int64)


def _build_codes(bits, symbols) -> dict[int, tuple[int, int]]:
    """Canonical Huffman assignment (T.81 C.2): symbol -> (code, length),
    codes counted up within a length, doubled on length increase."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[symbols[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _build_decode_map(bits, symbols) -> dict[tuple[int, int], int]:
    """(length, code) -> symbol map for the bit-serial decoder walk."""
    return {
        (length, code): sym
        for sym, (code, length) in _build_codes(bits, symbols).items()
    }


class _BitWriter:
    """MSB-first bit writer with JPEG byte stuffing (0xFF -> 0xFF 0x00)
    and 1-padding on flush (T.81 F.1.2.3)."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.nbits -= 8
            self.acc &= (1 << self.nbits) - 1
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)
        return bytes(self.out)


class _BitReader:
    """MSB-first bit reader over an entropy-coded segment: unstuffs
    0xFF 0x00, stops at any real marker (0xFF followed by non-zero),
    and exposes restart-marker consumption for DRI streams."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        if self.pos >= len(self.data):
            raise ValueError("truncated JPEG entropy stream")
        b = self.data[self.pos]
        if b == 0xFF:
            if self.pos + 1 >= len(self.data):
                raise ValueError("truncated JPEG entropy stream")
            nxt = self.data[self.pos + 1]
            if nxt == 0x00:
                self.pos += 2  # stuffed 0xFF data byte
            else:
                raise ValueError(
                    f"unexpected marker 0xFF{nxt:02X} inside entropy data"
                )
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | b
        self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def receive(self, length: int) -> int:
        v = 0
        for _ in range(length):
            v = (v << 1) | self.read_bit()
        return v

    def restart(self) -> None:
        """Byte-align and consume an RSTn marker (T.81 E.2.4).

        B.1.1.2 permits any number of 0xFF fill bytes before a marker,
        so skip consecutive 0xFF until the code byte, mirroring
        ``_find_next_marker``'s fill handling.
        """
        self.acc = 0
        self.nbits = 0
        if self.pos >= len(self.data) or self.data[self.pos] != 0xFF:
            raise ValueError("expected JPEG restart marker")
        while self.pos + 1 < len(self.data) and self.data[self.pos + 1] == 0xFF:
            self.pos += 1
        if self.pos + 1 >= len(self.data) or not 0xD0 <= self.data[self.pos + 1] <= 0xD7:
            raise ValueError("expected JPEG restart marker")
        self.pos += 2

    def decode_symbol(self, table: dict[tuple[int, int], int]) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.read_bit()
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid JPEG Huffman code")


def _extend(v: int, size: int) -> int:
    """T.81 F.2.2.1 EXTEND: map a received ``size``-bit magnitude to the
    signed coefficient value."""
    if size == 0:
        return 0
    if v < (1 << (size - 1)):
        return v - (1 << size) + 1
    return v


def _magnitude(v: int) -> tuple[int, int]:
    """Inverse of EXTEND for the encoder: value -> (size, bits)."""
    size = int(abs(v)).bit_length()
    bits = v if v >= 0 else v + (1 << size) - 1
    return size, bits


def _plane_blocks(plane: np.ndarray, bw: int, bh: int) -> np.ndarray:
    """Edge-replicate ``plane`` to (bh*8, bw*8) and split into blocks in
    raster order -> (bh*bw, 8, 8) float64."""
    h, w = plane.shape
    ph, pw = bh * 8, bw * 8
    if ph != h or pw != w:
        plane = np.pad(plane, ((0, ph - h), (0, pw - w)), mode="edge")
    return (
        plane.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
    ).astype(np.float64)


def _encode_block_stream(
    writer: _BitWriter,
    zz: np.ndarray,
    pred: int,
    dc_codes,
    ac_codes,
) -> int:
    """Huffman-encode one zigzagged quantized block (64 ints); returns
    the new DC predictor."""
    dc = int(zz[0])
    size, bits = _magnitude(dc - pred)
    code, length = dc_codes[size]
    writer.write(code, length)
    if size:
        writer.write(bits, size)
    run = 0
    for k in range(1, 64):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, length = ac_codes[0xF0]  # ZRL: 16 zeros
            writer.write(code, length)
            run -= 16
        size, bits = _magnitude(v)
        code, length = ac_codes[(run << 4) | size]
        writer.write(code, length)
        writer.write(bits, size)
        run = 0
    if run:
        code, length = ac_codes[0x00]  # EOB
        writer.write(code, length)
    return dc


def encode_jpeg(
    img: np.ndarray, quality: int = 85, restart_interval: int = 0
) -> bytes:
    """Baseline JFIF encoder for one gray plane: ``img`` is (h, w) or
    (h, w, 1) uint8. The Annex K luminance table is scaled by IJG
    ``quality`` and quantization rounds half away from zero; the Annex K
    luminance Huffman tables go into DHT. ``restart_interval`` > 0
    writes DRI and an RST0..RST7 marker every that many blocks (DC
    predictor reset, stream byte-aligned)."""
    if img.ndim == 3 and img.shape[2] == 1:
        img = img[..., 0]
    if img.ndim != 2:
        raise ValueError("encode_jpeg wants an (h, w) or (h, w, 1) gray image")
    h, w = img.shape
    if h == 0 or w == 0:
        raise ValueError("cannot encode an empty image")
    qtable = quality_scale(QUANT_LUM, quality)
    bw, bh = -(-w // 8), -(-h // 8)
    ratio = fdct_blocks(_plane_blocks(img, bw, bh) - 128.0) / qtable.reshape(8, 8)
    quant = (np.sign(ratio) * np.floor(np.abs(ratio) + 0.5)).astype(np.int64)
    zz = quant.reshape(-1, 64)[:, ZIGZAG]

    dc_codes = _build_codes(*HUFF_DC_LUM)
    ac_codes = _build_codes(*HUFF_AC_LUM)
    writer = _BitWriter()
    pred = 0
    rst = 0
    for n in range(bh * bw):
        if restart_interval and n and n % restart_interval == 0:
            # byte-align (1-padded), emit RSTn, reset the predictor
            tail = writer.flush()
            writer = _BitWriter()
            writer.out += tail + bytes([0xFF, 0xD0 + rst])
            rst = (rst + 1) % 8
            pred = 0
        pred = _encode_block_stream(writer, zz[n], pred, dc_codes, ac_codes)

    out = bytearray(b"\xff\xd8")  # SOI
    out += b"\xff\xe0" + struct.pack(">H", 16)  # APP0 JFIF
    out += b"JFIF\x00\x01\x01\x00" + struct.pack(">HH", 1, 1) + b"\x00\x00"
    out += b"\xff\xdb" + struct.pack(">HB", 67, 0)
    out += bytes(int(qtable[i]) for i in ZIGZAG)
    # SOF0: 8-bit, h x w, one component (id 1, 1x1 sampling, DQT 0)
    out += b"\xff\xc0" + struct.pack(">HBHHB", 11, 8, h, w, 1) + b"\x01\x11\x00"
    for tc, (bits, symbols) in ((0x00, HUFF_DC_LUM), (0x10, HUFF_AC_LUM)):
        out += b"\xff\xc4" + struct.pack(">HB", 19 + len(symbols), tc)
        out += bytes(bits) + bytes(symbols)
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    # SOS: component 1 with tables 0/0, spectral band 0..63, Ah=Al=0
    out += b"\xff\xda" + struct.pack(">HB", 8, 1) + b"\x01\x00\x00\x3f\x00"
    out += writer.flush()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# Every start-of-frame marker other than baseline SOF0 (T.81 Table B.1).
_OTHER_SOFS = {
    0xC1: "extended sequential",
    0xC2: "progressive",
    0xC3: "lossless",
    0xC5: "differential sequential",
    0xC6: "differential progressive",
    0xC7: "differential lossless",
    0xC9: "arithmetic sequential",
    0xCA: "arithmetic progressive",
    0xCB: "arithmetic lossless",
    0xCD: "differential arithmetic sequential",
    0xCE: "differential arithmetic progressive",
    0xCF: "differential arithmetic lossless",
}


def _decode_block(zz, reader: _BitReader, dcm, acm, pred: int) -> int:
    """Decode one baseline block (T.81 F.2.2) into the zigzag row
    ``zz``; returns the new DC predictor."""
    s = reader.decode_symbol(dcm)
    if s > 11:  # T.81 F.1.2.1: 8-bit DC differences need at most 11 bits
        raise ValueError("corrupt JPEG DC magnitude category")
    pred += _extend(reader.receive(s), s)
    zz[0] = pred
    k = 1
    while k <= 63:
        rs = reader.decode_symbol(acm)
        run, s = rs >> 4, rs & 0xF
        if rs == 0x00:  # EOB
            break
        if rs == 0xF0:  # ZRL: 16 zeros
            k += 16
            continue
        if s == 0:  # EOBn with n > 0 exists only in progressive scans
            raise ValueError(f"invalid baseline JPEG AC symbol 0x{rs:02X}")
        k += run
        if k > 63:
            raise ValueError("JPEG AC run past block end")
        zz[k] = _extend(reader.receive(s), s)
        k += 1
    return pred


def _find_next_marker(payload: bytes, pos: int) -> int:
    """Advance past any entropy residue / 0xFF fill bytes to the next
    real marker (0xFF followed by a non-zero, non-fill byte)."""
    n = len(payload)
    while pos + 1 < n:
        if payload[pos] == 0xFF and payload[pos + 1] not in (0x00, 0xFF):
            return pos
        pos += 1
    raise ValueError("truncated JPEG: no marker after scan data")


def decode_jpeg(payload: bytes) -> np.ndarray:
    """Baseline grayscale JPEG decoder -> (h, w, 3) uint8, the gray
    plane replicated across the three channels. Any frame other than
    one-component 8-bit SOF0 raises UnsupportedMediaError from its
    header; corruption and truncation raise ValueError."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], dict] = {}
    frame = None
    restart_interval = 0
    saw_scan = False
    while True:
        if pos + 2 > len(payload):
            raise ValueError("truncated JPEG: no EOI")
        if payload[pos] != 0xFF:
            raise ValueError("JPEG marker expected")
        # B.1.1.2: any number of 0xFF fill bytes may precede the code byte.
        while pos + 2 <= len(payload) and payload[pos + 1] == 0xFF:
            pos += 1
        if pos + 2 > len(payload):
            raise ValueError("truncated JPEG: no EOI")
        marker = payload[pos + 1]
        if marker == 0xD9:  # EOI
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:  # TEM / stray RSTn: no length
            pos += 2
            continue
        if marker in _OTHER_SOFS:
            raise UnsupportedMediaError(
                f"JPEG {_OTHER_SOFS[marker]} frame (SOF{marker - 0xC0}) is "
                "not supported; baseline SOF0 only"
            )
        if pos + 4 > len(payload):
            raise ValueError("truncated JPEG segment header")
        (seglen,) = struct.unpack_from(">H", payload, pos + 2)
        body = payload[pos + 4 : pos + 2 + seglen]
        if len(body) != seglen - 2:
            raise ValueError("truncated JPEG segment")
        if marker == 0xDB:  # DQT: one or more tables per segment
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0xF
                n = 64 * (2 if pq else 1)
                raw = body[i + 1 : i + 1 + n]
                if len(raw) != n:
                    raise ValueError("truncated DQT table")
                vals = (
                    np.frombuffer(raw, ">u2").astype(np.int64)
                    if pq
                    else np.frombuffer(raw, np.uint8).astype(np.int64)
                )
                table = np.zeros(64, dtype=np.int64)
                table[ZIGZAG] = vals
                qtables[tq] = table
                i += 1 + n
        elif marker == 0xC4:  # DHT: one or more tables per segment
            i = 0
            while i < len(body):
                cls, tid = body[i] >> 4, body[i] & 0xF
                bits = list(body[i + 1 : i + 17])
                n = sum(bits)
                symbols = list(body[i + 17 : i + 17 + n])
                if len(bits) != 16 or len(symbols) != n:
                    raise ValueError("truncated DHT table")
                htables[(cls, tid)] = _build_decode_map(bits, symbols)
                i += 17 + n
        elif marker == 0xC0:  # SOF0 baseline
            prec, fh, fw, ncomp = struct.unpack_from(">BHHB", body, 0)
            if prec != 8:
                raise UnsupportedMediaError(
                    f"{prec}-bit JPEG is not supported; 8-bit only"
                )
            if ncomp != 1:
                raise UnsupportedMediaError(
                    f"JPEG with {ncomp} components is not supported; "
                    "grayscale (one component) only"
                )
            if fh == 0 or fw == 0:
                raise ValueError("JPEG frame with zero dimension")
            cid, _sampling, tq = struct.unpack_from(">BBB", body, 6)
            frame = (fh, fw, cid, tq)
            # one component: its scan is non-interleaved, one block per
            # MCU whatever its sampling factors (T.81 A.2.2)
            store = np.zeros((-(-fh // 8) * -(-fw // 8), 64), dtype=np.int64)
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack_from(">H", body, 0)
        elif marker == 0xDA:  # SOS: decode the scan, keep parsing
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            nsc, cs, tids, ss, se, aa = struct.unpack_from(">6B", body, 0)
            if nsc != 1 or cs != frame[2]:
                raise ValueError("JPEG scan does not name the frame's component")
            if (ss, se, aa) != (0, 63, 0):
                raise ValueError("baseline scan must cover 0..63 at Ah=Al=0")
            dcm = htables.get((0, tids >> 4))
            acm = htables.get((1, tids & 0xF))
            if dcm is None or acm is None:
                raise ValueError("JPEG scan needs a missing Huffman table")
            reader = _BitReader(payload, pos + 2 + seglen)
            pred = 0
            for n in range(len(store)):
                if restart_interval and n and n % restart_interval == 0:
                    reader.restart()
                    pred = 0
                pred = _decode_block(store[n], reader, dcm, acm, pred)
            saw_scan = True
            pos = _find_next_marker(payload, reader.pos)
            continue
        pos = pos + 2 + seglen

    if frame is None or not saw_scan:
        raise ValueError("truncated JPEG: no SOS before EOF")
    fh, fw, _cid, tq = frame
    if tq not in qtables:
        raise ValueError(f"JPEG frame needs missing DQT {tq}")
    bh, bw = -(-fh // 8), -(-fw // 8)
    # store rows are zigzag-ordered; unzigzag back to row-major BEFORE
    # multiplying by the row-major quantization table
    coefs = (store[:, UNZIGZAG] * qtables[tq][None, :]).reshape(-1, 8, 8)
    pix = idct_blocks(coefs.astype(np.float64)) + 128.0
    plane = pix.reshape(bh, bw, 8, 8).transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8)
    gray = np.clip(np.round(plane[:fh, :fw]), 0, 255).astype(np.uint8)
    return np.repeat(gray[..., None], 3, axis=2)
