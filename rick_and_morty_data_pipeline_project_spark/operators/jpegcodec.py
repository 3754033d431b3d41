"""Pure-Python/numpy baseline JPEG codec (encode + decode).

Removes the engine's last honestly-stubbed decode path
(operators/multimodal.py: "JPEG pixel decode needs a DCT codec"): the
container has no PIL/libjpeg, so the DCT path is implemented here from
the public JPEG spec (ITU-T T.81) directly — 8×8 DCT-II via a numpy
matrix product, standard zigzag/RLE/Huffman entropy coding, JFIF
YCbCr↔RGB color transform.

Scope is deliberately the fixtures' shape, checked and refused
otherwise (never silently wrong):

* encode: 8-bit RGB, 4:4:4 (no chroma subsampling), single
  interleaved scan, no restart markers; caller-supplied or all-ones
  quantization tables; single-length canonical Huffman tables written
  into DHT (valid per the spec — table-definition freedom is the
  point of DHT; avoids transcribing the 162-entry Annex K lists).
* decode: any baseline (SOF0/SOF1) 8-bit 3-component 4:4:4 stream
  whose tables arrive in DQT/DHT — not just this encoder's output;
  progressive (SOF2), subsampled, or DRI streams raise
  ``NotImplementedError`` with the reason.

Determinism: float64 DCT/IDCT matrix products and ``np.rint`` — no
platform-dependent fast paths, so encode and decode are byte-stable
across runs (required for the oracle gate; tests pin a roundtrip).

The distributed callers live in operators/multimodal.py
(``decode_real_media``/``synthesize_real_media`` — Arrow-batched
``mapInPandas``); this module is plain per-buffer Python so the
executor-side batch loop stays the only Spark-aware layer.
"""

from __future__ import annotations

import struct

import numpy as np

# --------------------------------------------------------------------------
# Shared constants
# --------------------------------------------------------------------------

class JpegNoScan(ValueError):
    """Structurally-parsable JPEG that carries no decodable scan
    (SOF without SOS, or neither): metadata-only streams.  A DISTINCT
    type so callers can fall back to header-only parsing without
    string-matching error messages — any other ValueError from the
    decoder means a corrupt scan and should stay loud."""


#: zigzag scan order: _ZIGZAG[k] = (row-major index holding the k-th
#: zigzag coefficient)
_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
]


def _dct_basis() -> np.ndarray:
    """Orthonormal 8×8 DCT-II basis C: forward F = C @ B @ C.T,
    inverse B = C.T @ F @ C."""
    x = np.arange(8)
    u = x.reshape(-1, 1)
    c = np.cos((2 * x + 1) * u * np.pi / 16)
    c *= np.sqrt(2.0 / 8.0)
    c[0, :] = np.sqrt(1.0 / 8.0)
    return c


_C = _dct_basis()

# Flat (all-ones) quantization: keeps the codec near-lossless (only
# DCT float rounding remains) — right for fixtures whose pixel values
# feed deterministic stats; a production encoder would use the Annex K
# psychovisual tables instead.
FLAT_QUANT = np.ones((8, 8), dtype=np.int64)


def _category(v: int) -> int:
    """JPEG magnitude category: number of bits in |v| (0 for v == 0)."""
    return int(v).bit_length() if v >= 0 else int(-v).bit_length()


# --------------------------------------------------------------------------
# Canonical single-length Huffman tables
# --------------------------------------------------------------------------
# DHT lets the file define any canonical table; a single code length L
# with n < 2^L symbols is canonical and valid (codes 0..n-1, never the
# reserved all-ones). DC: 12 categories at length 4; AC: 162 symbols
# (EOB, ZRL, (run 0..15)×(size 1..10)) at length 8.

_DC_SYMBOLS = list(range(12))
_AC_SYMBOLS = [0x00, 0xF0] + [
    (run << 4) | size for run in range(16) for size in range(1, 11)
]
_DC_LEN, _AC_LEN = 4, 8


def _single_length_table(symbols, length):
    """symbol → (code, length) for a single-length canonical table."""
    return {sym: (i, length) for i, sym in enumerate(symbols)}


_DC_CODES = _single_length_table(_DC_SYMBOLS, _DC_LEN)
_AC_CODES = _single_length_table(_AC_SYMBOLS, _AC_LEN)


def _dht_segment(table_class: int, table_id: int, symbols, length) -> bytes:
    bits = [0] * 16
    bits[length - 1] = len(symbols)
    payload = bytes([(table_class << 4) | table_id]) + bytes(bits) + bytes(
        symbols
    )
    return b"\xff\xc4" + struct.pack(">H", len(payload) + 2) + payload


# --------------------------------------------------------------------------
# Bit I/O with JPEG byte stuffing
# --------------------------------------------------------------------------


class _BitWriter:
    def __init__(self):
        self._out = bytearray()
        self._acc = 0
        self._nbits = 0

    def write(self, value: int, nbits: int) -> None:
        if nbits == 0:
            return
        self._acc = (self._acc << nbits) | (value & ((1 << nbits) - 1))
        self._nbits += nbits
        if self._nbits >= 8:
            # bulk flush (r14 perf): extract all whole bytes in ONE
            # to_bytes + stuff via bytes.replace — byte-identical to
            # the former per-byte loop (MSB-first order, 0xFF → 0xFF00),
            # but C-speed for the batched per-block writes
            rem = self._nbits & 7
            nbytes = self._nbits >> 3
            chunk = (self._acc >> rem).to_bytes(nbytes, "big")
            self._acc &= (1 << rem) - 1
            self._nbits = rem
            if b"\xff" in chunk:
                chunk = chunk.replace(b"\xff", b"\xff\x00")
            self._out += chunk

    def finish(self) -> bytes:
        if self._nbits:
            pad = 8 - self._nbits
            self.write((1 << pad) - 1, pad)  # pad with 1s per spec
        return bytes(self._out)


class _BitReader:
    """Reads the entropy-coded segment, unstuffing 0xFF00; stops at any
    real marker (0xFF followed by non-zero).

    r14 perf rewrite: the former per-bit reader (one Python call per
    bit — 2.4M calls per 150 fixture images) is replaced by a one-pass
    C-level unstuffing of the whole entropy segment up front (bytes.find
    + slice joins) and a byte-refilled accumulator read in bulk.  Bit
    order and values are identical; reading past the segment's last bit
    raises the same "entropy stream truncated" ValueError.  A real
    marker mid-segment simply terminates the unstuffed buffer, so a
    malformed stream still fails loudly (as truncation) instead of
    decoding garbage."""

    def __init__(self, data: bytes, pos: int):
        # unstuff once: every 0xFF00 becomes 0xFF; the first 0xFF
        # followed by non-zero is a real marker and ends the segment
        chunks = []
        i = pos
        n = len(data)
        while True:
            j = data.find(b"\xff", i)
            if j == -1:
                chunks.append(data[i:])
                break
            if j + 1 >= n:
                raise ValueError("dangling 0xFF at end of stream")
            chunks.append(data[i:j])
            if data[j + 1] == 0x00:
                chunks.append(b"\xff")
                i = j + 2
            else:
                break  # real marker terminates the entropy segment
        self._d = b"".join(chunks)
        self._total_bits = len(self._d) * 8
        self._bitpos = 0   # bits consumed so far
        self._bytepos = 0  # next byte to refill from
        self._acc = 0
        self._nbits = 0    # bits currently buffered in _acc

    def _need(self, n: int) -> None:
        d = self._d
        while self._nbits < n:
            if self._bytepos < len(d):
                self._acc = (self._acc << 8) | d[self._bytepos]
                self._bytepos += 1
            else:
                self._acc <<= 8  # virtual pad, never consumable
            self._nbits += 8

    def read_bit(self) -> int:
        return self.read_bits(1)

    def read_bits(self, n: int) -> int:
        if n == 0:
            return 0
        if self._bitpos + n > self._total_bits:
            raise ValueError("entropy stream truncated")
        if self._nbits < n:
            self._need(n)
        self._nbits -= n
        v = (self._acc >> self._nbits) & ((1 << n) - 1)
        self._acc &= (1 << self._nbits) - 1
        self._bitpos += n
        return v

    def peek16(self) -> int:
        if self._nbits < 16:
            self._need(16)
        return (self._acc >> (self._nbits - 16)) & 0xFFFF

    def skip(self, n: int) -> None:
        if self._bitpos + n > self._total_bits:
            raise ValueError("entropy stream truncated")
        self._nbits -= n
        self._acc &= (1 << self._nbits) - 1
        self._bitpos += n


# --------------------------------------------------------------------------
# Encoder
# --------------------------------------------------------------------------


def _rgb_to_ycbcr(rgb: np.ndarray) -> np.ndarray:
    r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
    return np.stack([y, cb, cr], axis=-1)


def _ycbcr_to_rgb(ycc: np.ndarray) -> np.ndarray:
    y, cb, cr = ycc[..., 0], ycc[..., 1] - 128.0, ycc[..., 2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.stack([r, g, b], axis=-1)


def _encode_block(
    block: np.ndarray,
    quant: np.ndarray,
    prev_dc: int,
    writer: _BitWriter,
) -> int:
    """DCT → quantize → zigzag → Huffman-encode one 8×8 sample block.
    Returns the block's DC coefficient (for the next differential)."""
    coeffs = _C @ (block - 128.0) @ _C.T
    q = np.rint(coeffs / quant).astype(np.int64)
    zz = q.flat[_ZIGZAG].tolist()

    # Accumulate the whole block's bitstream locally and hand the
    # writer ONE (value, nbits) pair (r14 perf): ~128 write() calls per
    # block become 1, and the bit sequence is identical by construction
    # (acc << n | v concatenates MSB-first exactly like per-call writes).
    acc = 0
    nacc = 0

    dc = int(zz[0])
    diff = dc - prev_dc
    size = _category(diff)
    code, length = _DC_CODES[size]
    acc = (acc << length) | code
    nacc += length
    if size:
        v = diff if diff >= 0 else diff + (1 << size) - 1
        acc = (acc << size) | (v & ((1 << size) - 1))
        nacc += size

    run = 0
    last_nz = 0
    for k in range(63, 0, -1):
        if zz[k] != 0:
            last_nz = k
            break
    zrl_code, zrl_len = _AC_CODES[0xF0]
    for k in range(1, last_nz + 1):
        v = zz[k]
        if v == 0:
            run += 1
            continue
        while run >= 16:
            acc = (acc << zrl_len) | zrl_code  # ZRL
            nacc += zrl_len
            run -= 16
        size = _category(v)
        if size > 10:
            raise ValueError(
                f"AC coefficient {v} exceeds category 10 — quant table "
                "too fine for this content"
            )
        code, length = _AC_CODES[(run << 4) | size]
        acc = (acc << length) | code
        nacc += length
        if v < 0:
            v = v + (1 << size) - 1
        acc = (acc << size) | (v & ((1 << size) - 1))
        nacc += size
        run = 0
    if last_nz != 63:
        code, length = _AC_CODES[0x00]  # EOB
        acc = (acc << length) | code
        nacc += length
    writer.write(acc, nacc)
    return dc


def encode_baseline_jpeg(
    rgb: np.ndarray,
    quant_luma: np.ndarray = FLAT_QUANT,
    quant_chroma: np.ndarray = FLAT_QUANT,
    app_segments: bytes = b"",
) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as a baseline JFIF JPEG:
    4:4:4, one interleaved scan, tables as documented in the module
    docstring.  ``app_segments`` (already-framed APP0/APP1/... bytes)
    are inserted verbatim after SOI, letting fixtures keep their EXIF
    blocks."""
    rgb = np.asarray(rgb)
    if rgb.ndim != 3 or rgb.shape[2] != 3 or rgb.dtype != np.uint8:
        raise ValueError("encode_baseline_jpeg wants (h, w, 3) uint8")
    h, w = rgb.shape[:2]
    if not (0 < h <= 0xFFFF and 0 < w <= 0xFFFF):
        raise ValueError(f"bad dimensions {w}x{h}")

    # edge-replicate to block multiples
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    padded = np.pad(
        rgb.astype(np.float64), ((0, ph - h), (0, pw - w), (0, 0)), "edge"
    )
    ycc = _rgb_to_ycbcr(padded)

    quants = [
        np.asarray(quant_luma, dtype=np.int64),
        np.asarray(quant_chroma, dtype=np.int64),
    ]
    for q in quants:
        if q.shape != (8, 8) or (q < 1).any() or (q > 255).any():
            raise ValueError("quant tables must be 8x8 with entries 1..255")

    writer = _BitWriter()
    prev_dc = [0, 0, 0]
    for by in range(0, ph, 8):
        for bx in range(0, pw, 8):
            for comp in range(3):  # interleaved 4:4:4 MCU = Y, Cb, Cr
                block = ycc[by : by + 8, bx : bx + 8, comp]
                prev_dc[comp] = _encode_block(
                    block, quants[min(comp, 1)], prev_dc[comp], writer
                )
    entropy = writer.finish()

    def seg(marker: bytes, payload: bytes) -> bytes:
        return marker + struct.pack(">H", len(payload) + 2) + payload

    dqt = seg(
        b"\xff\xdb",
        b"\x00" + bytes(int(v) for v in quants[0].flat[_ZIGZAG])
        + b"\x01" + bytes(int(v) for v in quants[1].flat[_ZIGZAG]),
    )
    sof0 = seg(
        b"\xff\xc0",
        bytes([8])
        + struct.pack(">HH", h, w)
        + bytes([3])
        + bytes([1, 0x11, 0])   # Y: 1x1 sampling, quant table 0
        + bytes([2, 0x11, 1])   # Cb
        + bytes([3, 0x11, 1]),  # Cr
    )
    dht = (
        _dht_segment(0, 0, _DC_SYMBOLS, _DC_LEN)
        + _dht_segment(1, 0, _AC_SYMBOLS, _AC_LEN)
        + _dht_segment(0, 1, _DC_SYMBOLS, _DC_LEN)
        + _dht_segment(1, 1, _AC_SYMBOLS, _AC_LEN)
    )
    sos = seg(
        b"\xff\xda",
        bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]),
    )
    return (
        b"\xff\xd8" + app_segments + dqt + sof0 + dht + sos
        + entropy + b"\xff\xd9"
    )


# --------------------------------------------------------------------------
# Decoder
# --------------------------------------------------------------------------


# flat 2^16 peek-lookup tables are identical for identical (bits,
# symbols) definitions — the fixture corpus uses one fixed table set —
# so cache them per definition instead of rebuilding per image.  This
# caches STATIC Huffman code tables (pure functions of the DHT bytes),
# never query data or results.
_HUFF_LUT_CACHE: dict[tuple, list] = {}


class _HuffTable:
    """Canonical Huffman decoder via a flat 16-bit peek table (r14 perf
    rewrite): decode = one 16-bit peek + one list index + one skip,
    instead of up to 16 per-bit reads and dict probes.  Decoded symbols
    and consumed bit counts are identical to the canonical walk."""

    def __init__(self, bits, symbols):
        key = (tuple(bits), tuple(symbols))
        lut = _HUFF_LUT_CACHE.get(key)
        if lut is None:
            lut = [None] * 65536
            code = 0
            k = 0
            for length in range(1, 17):
                for _ in range(bits[length - 1]):
                    start = code << (16 - length)
                    lut[start : start + (1 << (16 - length))] = [
                        (symbols[k], length)
                    ] * (1 << (16 - length))
                    code += 1
                    k += 1
                code <<= 1
            _HUFF_LUT_CACHE[key] = lut
        self._lut = lut

    def decode(self, reader: _BitReader) -> int:
        hit = self._lut[reader.peek16()]
        if hit is None:
            raise ValueError("invalid Huffman code in entropy stream")
        sym, length = hit
        reader.skip(length)
        return sym


def decode_baseline_jpeg(content: bytes) -> tuple[int, int, np.ndarray]:
    """Decode a baseline (SOF0/SOF1) 8-bit 3-component 4:4:4 JPEG.
    Returns (width, height, (h, w, 3) uint8 RGB).  Progressive,
    subsampled, 1-component, or restart-interval streams raise
    ``NotImplementedError``/``ValueError`` — refused, never guessed."""
    if content[:2] != b"\xff\xd8":
        raise ValueError("bad JPEG SOI")
    quants: dict[int, np.ndarray] = {}
    dc_tables: dict[int, _HuffTable] = {}
    ac_tables: dict[int, _HuffTable] = {}
    frame = None  # (w, h, [(comp_id, quant_id)])
    scan = None   # [(comp_id, dc_id, ac_id)], entropy start pos
    i = 2
    while i + 4 <= len(content):
        if content[i] != 0xFF:
            raise ValueError("desynced JPEG marker stream")
        while i + 4 <= len(content) and content[i + 1] == 0xFF:
            i += 1  # fill bytes
        marker = content[i + 1]
        if marker == 0xD9:  # EOI with no scan
            break
        (seglen,) = struct.unpack(">H", content[i + 2 : i + 4])
        seg = content[i + 4 : i + 2 + seglen]
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 0x0F
                if pq != 0:
                    raise NotImplementedError("16-bit quant tables")
                table = np.zeros(64, dtype=np.int64)
                table[_ZIGZAG] = list(seg[p + 1 : p + 65])
                quants[tq] = table.reshape(8, 8)
                p += 65
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 0x0F
                bits = list(seg[p + 1 : p + 17])
                n = sum(bits)
                symbols = list(seg[p + 17 : p + 17 + n])
                (dc_tables if tc == 0 else ac_tables)[th] = _HuffTable(
                    bits, symbols
                )
                p += 17 + n
        elif marker in (0xC0, 0xC1):  # SOF0/1: baseline
            precision = seg[0]
            h, w = struct.unpack(">HH", seg[1:5])
            ncomp = seg[5]
            if precision != 8:
                raise NotImplementedError(f"{precision}-bit precision")
            if ncomp != 3:
                raise NotImplementedError(f"{ncomp}-component JPEG")
            comps = []
            for c in range(ncomp):
                cid, sampling, tq = seg[6 + 3 * c : 9 + 3 * c]
                if sampling != 0x11:
                    raise NotImplementedError(
                        "chroma subsampling (only 4:4:4 supported)"
                    )
                comps.append((cid, tq))
            frame = (w, h, comps)
        elif marker == 0xC2:
            raise NotImplementedError(
                "progressive JPEG (SOF2) needs successive-approximation "
                "passes — baseline only"
            )
        elif marker == 0xDD:
            raise NotImplementedError("restart intervals (DRI)")
        elif marker == 0xDA:  # SOS
            ns = seg[0]
            comps = []
            for c in range(ns):
                cid, tsel = seg[1 + 2 * c : 3 + 2 * c]
                comps.append((cid, tsel >> 4, tsel & 0x0F))
            scan = (comps, i + 2 + seglen)
            break
        i += 2 + seglen
    if frame is None or scan is None:
        raise JpegNoScan("JPEG without SOF+SOS")

    w, h, frame_comps = frame
    scan_comps, pos = scan
    if [c for c, _, _ in scan_comps] != [c for c, _ in frame_comps]:
        raise NotImplementedError("scan order differs from frame order")
    # validate table references up front: a scan naming an undefined
    # table must be a loud ValueError, not a KeyError escaping to the
    # caller's batch loop
    for ci, (cid, dc_id, ac_id) in enumerate(scan_comps):
        if dc_id not in dc_tables or ac_id not in ac_tables:
            raise ValueError(
                f"scan component {cid} references undefined Huffman "
                f"table (DC {dc_id} / AC {ac_id})"
            )
        if frame_comps[ci][1] not in quants:
            raise ValueError(
                f"frame component {cid} references undefined quant "
                f"table {frame_comps[ci][1]}"
            )

    reader = _BitReader(content, pos)
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    planes = np.zeros((3, ph, pw), dtype=np.float64)
    prev_dc = [0, 0, 0]

    # Hot entropy loop with the bit state in LOCAL variables (r14 perf:
    # the method-call form spent ~60% of decode in peek/skip/read_bits
    # call overhead).  Same unstuffed buffer, same symbol/value
    # sequence, same truncation error — only call overhead removed.
    d = reader._d
    dlen = len(d)
    total_bits = reader._total_bits
    acc = 0
    nbits = 0
    bytepos = 0
    bitpos = 0
    comp_lut = [
        (dc_tables[dc_id]._lut, ac_tables[ac_id]._lut,
         quants[frame_comps[ci][1]].flat[_ZIGZAG].copy())
        for ci, (cid, dc_id, ac_id) in enumerate(scan_comps)
    ]
    ncomp = len(comp_lut)
    for by in range(0, ph, 8):
        for bx in range(0, pw, 8):
            for ci in range(ncomp):
                dc_lut, ac_lut, dequant = comp_lut[ci]
                zz = [0] * 64
                # --- DC symbol
                while nbits < 16:
                    if bytepos < dlen:
                        acc = (acc << 8) | d[bytepos]
                        bytepos += 1
                    else:
                        acc <<= 8
                    nbits += 8
                hit = dc_lut[(acc >> (nbits - 16)) & 0xFFFF]
                if hit is None:
                    raise ValueError("invalid Huffman code in entropy stream")
                size, length = hit
                bitpos += length + size
                if bitpos > total_bits:
                    raise ValueError("entropy stream truncated")
                nbits -= length
                if size:
                    while nbits < size:
                        if bytepos < dlen:
                            acc = (acc << 8) | d[bytepos]
                            bytepos += 1
                        else:
                            acc <<= 8
                        nbits += 8
                    nbits -= size
                    v = (acc >> nbits) & ((1 << size) - 1)
                    if v < (1 << (size - 1)):
                        v = v - (1 << size) + 1
                    prev_dc[ci] += v
                acc &= (1 << nbits) - 1
                zz[0] = prev_dc[ci]
                k = 1
                while k < 64:
                    # --- AC symbol
                    while nbits < 16:
                        if bytepos < dlen:
                            acc = (acc << 8) | d[bytepos]
                            bytepos += 1
                        else:
                            acc <<= 8
                        nbits += 8
                    hit = ac_lut[(acc >> (nbits - 16)) & 0xFFFF]
                    if hit is None:
                        raise ValueError(
                            "invalid Huffman code in entropy stream"
                        )
                    sym, length = hit
                    nbits -= length
                    acc &= (1 << nbits) - 1
                    bitpos += length
                    if bitpos > total_bits:
                        raise ValueError("entropy stream truncated")
                    if sym == 0x00:  # EOB
                        break
                    if sym == 0xF0:  # ZRL
                        k += 16
                        continue
                    run = sym >> 4
                    size = sym & 0x0F
                    k += run
                    if k > 63:
                        raise ValueError("AC run past block end")
                    if size:
                        bitpos += size
                        if bitpos > total_bits:
                            raise ValueError("entropy stream truncated")
                        while nbits < size:
                            if bytepos < dlen:
                                acc = (acc << 8) | d[bytepos]
                                bytepos += 1
                            else:
                                acc <<= 8
                            nbits += 8
                        nbits -= size
                        v = (acc >> nbits) & ((1 << size) - 1)
                        acc &= (1 << nbits) - 1
                        if v < (1 << (size - 1)):
                            v = v - (1 << size) + 1
                        zz[k] = v
                    k += 1
                coeffs = np.zeros(64, dtype=np.float64)
                coeffs[_ZIGZAG] = np.array(zz, dtype=np.int64) * dequant
                block = _C.T @ coeffs.reshape(8, 8) @ _C + 128.0
                planes[ci, by : by + 8, bx : bx + 8] = block

    ycc = np.stack([planes[0], planes[1], planes[2]], axis=-1)
    rgb = np.clip(np.rint(_ycbcr_to_rgb(ycc)), 0, 255).astype(np.uint8)
    return w, h, rgb[:h, :w]
