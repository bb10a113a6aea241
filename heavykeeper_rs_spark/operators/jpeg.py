"""JPEG decode/encode with no external dependencies — baseline
(SOF0/SOF1) AND progressive (SOF2).

``decode_jpeg`` is a real ITU-T.81 Huffman decoder: marker walk,
DQT/DHT/DRI/SOS parsing, entropy decode (16-bit lookahead LUT per
table), dequantize, de-zigzag, vectorized 8x8 IDCT over every block
at once (separable DCT-III as two matrix products via einsum),
nearest-neighbor chroma upsampling for any 1-2 x 1-2 sampling grid,
and BT.601 YCbCr->RGB. Restart markers and the MJPEG convention of
omitting DHT (implies the Annex K tables, which AVI 'MJPG' streams
rely on) are handled. Progressive decode implements the full T.81
G.2 scan algebra — spectral selection, successive approximation,
DC/AC refinement scans, EOB runs. Arithmetic-coded / lossless /
hierarchical files raise UnsupportedJpegError (ValueError subclass
— image_decoder's Pillow-fallback signal), truncation raises plain
ValueError — at curation scale those rows
are captured per-row by ``extract_features``, not fatal.

``encode_jpeg`` is the fixture producer (mirrors ``encode_png`` /
``encode_avi``): Annex K quantization tables scaled by the libjpeg
quality formula, Annex K Huffman tables, optional 4:2:0 subsampling,
restart intervals, and ``progressive=True`` (a two-level
successive-approximation scan script whose coefficients reconstruct
exactly, so progressive and baseline encodings of the same image
decode bit-identically — the pytest pin), so the decode path is
exercised on REAL entropy-coded bytes without shipping Pillow.

Spec pinning: the pytest suite decodes hand-assembled single-block
streams (DC-only and single-AC-coefficient) against closed-form
cosine expectations, so zigzag orientation / dequant scaling / IDCT
normalization are checked against T.81 math directly, not just
against this module's own encoder (reference parity target:
heavykeeper-rs has no media path; this extends the engine per
SURVEY.md §2.3 multimodal row).
"""

from __future__ import annotations

import struct
from functools import lru_cache

import numpy as np

class UnsupportedJpegError(ValueError):
    """Legal JPEG this decoder does not implement (arithmetic coding,
    lossless/hierarchical SOFs, 12-bit precision, CMYK, 4:1:1
    sampling, ...). ``image_decoder`` routes these to the import-gated
    Pillow fallback; plain ValueError means CORRUPT input and is
    captured per-row instead."""


# --------------------------------------------------------------- tables

_ZIGZAG = np.array(
    sorted(
        range(64),
        key=lambda i: (
            (i >> 3) + (i & 7),
            -(i >> 3) if ((i >> 3) + (i & 7)) % 2 == 0 else (i >> 3),
        ),
    ),
    dtype=np.int64,
)  # _ZIGZAG[k] = row*8+col of the k-th coefficient in scan order

# Annex K.1 quantization tables (luminance, chrominance), row-major.
_QUANT_LUM = np.array(
    [16, 11, 10, 16, 24, 40, 51, 61,
     12, 12, 14, 19, 26, 58, 60, 55,
     14, 13, 16, 24, 40, 57, 69, 56,
     14, 17, 22, 29, 51, 87, 80, 62,
     18, 22, 37, 56, 68, 109, 103, 77,
     24, 35, 55, 64, 81, 104, 113, 92,
     49, 64, 78, 87, 103, 121, 120, 101,
     72, 92, 95, 98, 112, 100, 103, 99], dtype=np.int64)
_QUANT_CHROM = np.array(
    [17, 18, 24, 47, 99, 99, 99, 99,
     18, 21, 26, 66, 99, 99, 99, 99,
     24, 26, 56, 99, 99, 99, 99, 99,
     47, 66, 99, 99, 99, 99, 99, 99] + [99] * 32, dtype=np.int64)

# Annex K.3 Huffman table specs: (bits[16], values). Correctness of
# the decode roundtrip does NOT depend on these being byte-exact
# Annex K (DHT travels in the file); they only pin the DHT-less MJPEG
# convention. _build_decode_lut validates prefix-code consistency at
# build time either way.
_DC_LUM_SPEC = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_DC_CHROM_SPEC = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_AC_LUM_SPEC = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
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
     0xF9, 0xFA],
)
_AC_CHROM_SPEC = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
     0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
     0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
     0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
     0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
     0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
     0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
     0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
     0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
     0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
     0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
     0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
     0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
     0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
     0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
     0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
     0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
     0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
     0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
     0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
     0xF9, 0xFA],
)


def _dct_basis() -> np.ndarray:
    """Orthonormal 8-point DCT-II basis A[u, x]; spatial = A.T @ C @ A
    (IDCT), C = A @ spatial @ A.T (FDCT) — the T.81 normalization."""
    x = np.arange(8, dtype=np.float64)
    u = np.arange(8, dtype=np.float64)
    a = np.cos((2.0 * x[None, :] + 1.0) * u[:, None] * np.pi / 16.0) / 2.0
    a[0, :] = 1.0 / np.sqrt(8.0)
    return a


_DCT_A = _dct_basis()


# ------------------------------------------------------------ bit plumbing


def _build_decode_lut(bits: "list[int]", values: "list[int]") -> "list[int]":
    """Canonical Huffman table -> 64K-entry lookahead LUT where
    ``lut[next16bits] = (symbol << 5) | code_length`` (0 = invalid
    prefix). One peek + one shift decodes any symbol. Returned as a
    plain Python list: the scan loops index it per symbol, and list
    indexing returns a ready int (~5x cheaper than a NumPy scalar
    gather + int() per coefficient — r8 hot-loop measurement)."""
    if len(bits) != 16 or sum(bits) != len(values):
        raise ValueError("corrupt Huffman table spec")
    lut = np.zeros(1 << 16, dtype=np.uint16)
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            if code >= (1 << length):
                raise ValueError("Huffman code overflow (invalid DHT)")
            lo = code << (16 - length)
            lut[lo : lo + (1 << (16 - length))] = (values[k] << 5) | length
            code += 1
            k += 1
        code <<= 1
    return lut.tolist()


@lru_cache(maxsize=32)
def _decode_lut_cached(bits_b: bytes, values_b: bytes) -> "list[int]":
    """Memoized LUT build keyed on the raw DHT payload: real corpora
    reuse a handful of tables (often the Annex K set) across millions
    of images, and building + list-ifying a 64K LUT costs ~0.7 ms —
    once per distinct table per worker instead of 4x per image (guide
    §4.5). The cached list is shared read-only by the scan loops."""
    return _build_decode_lut(list(bits_b), list(values_b))


class _BitReader:
    """MSB-first bit reader over destuffed entropy bytes. Reads past
    the end feed 0 bits so the final symbols' 16-bit lookahead always
    works; ``overrun()`` then tells whether any fabricated bit was
    actually CONSUMED — the exact truncation signal (legitimate
    streams end with the last code inside the real bytes, padding
    included)."""

    __slots__ = ("data", "pos", "buf", "nbits")

    def overrun(self) -> bool:
        return 8 * self.pos - self.nbits > 8 * len(self.data)

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.buf = 0
        self.nbits = 0

    def peek16(self) -> int:
        while self.nbits < 16:
            b = self.data[self.pos] if self.pos < len(self.data) else 0
            self.pos += 1
            self.buf = (self.buf << 8) | b
            self.nbits += 8
        return (self.buf >> (self.nbits - 16)) & 0xFFFF

    def skip(self, n: int) -> None:
        self.nbits -= n
        self.buf &= (1 << self.nbits) - 1

    def get(self, n: int) -> int:
        if n == 0:
            return 0
        while self.nbits < n:
            b = self.data[self.pos] if self.pos < len(self.data) else 0
            self.pos += 1
            self.buf = (self.buf << 8) | b
            self.nbits += 8
        self.nbits -= n
        v = (self.buf >> self.nbits) & ((1 << n) - 1)
        self.buf &= (1 << self.nbits) - 1
        return v


def _extend(v: int, s: int) -> int:
    """T.81 F.12 sign extension of an s-bit magnitude."""
    return v - (1 << s) + 1 if s and v < (1 << (s - 1)) else v


def _entropy_segments(data: bytes, start: int) -> "tuple[list[bytes], int]":
    """Destuff (FF00 -> FF) and split the entropy-coded run at RSTn
    markers; returns the segments plus the offset of the terminating
    marker. Only 0xFF positions are visited, so this is O(#FF), not
    O(bytes)."""
    segs: list[bytes] = []
    parts: list[bytes] = []
    arr = np.frombuffer(data, dtype=np.uint8)
    ff = np.flatnonzero(arr[start:] == 0xFF) + start
    prev = start
    for i in ff.tolist():
        if i < prev:
            continue  # consumed as part of an earlier FF pair
        nxt = data[i + 1] if i + 1 < len(data) else 0xD9
        if nxt == 0x00:
            parts.append(data[prev : i + 1])  # keep the FF, drop the 00
            prev = i + 2
        elif 0xD0 <= nxt <= 0xD7:
            parts.append(data[prev:i])
            segs.append(b"".join(parts))
            parts = []
            prev = i + 2
        else:
            parts.append(data[prev:i])
            segs.append(b"".join(parts))
            return segs, i
    parts.append(data[prev:])
    segs.append(b"".join(parts))
    return segs, len(data)


# --------------------------------------------------------------- decoder


def decode_jpeg(blob: bytes) -> np.ndarray:
    """Decode baseline OR progressive JPEG bytes to (H, W, 3) RGB
    uint8 (or (H, W) for grayscale). Raises ValueError on arithmetic /
    hierarchical / lossless / truncated / corrupt input (per-row
    captured by the pipeline ops). A baseline scan with no preceding
    DHT uses the Annex K tables — the MJPEG convention AVI 'MJPG'
    streams depend on. Progressive (SOF2) decode supports the full
    T.81 G.2 scan algebra: spectral selection, successive
    approximation, DC/AC refinement scans and EOB runs."""
    if len(blob) < 4 or blob[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    data = bytes(blob)
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], np.ndarray] = {}
    frame = None  # (h, w, comps) with comps = [(cid, hs, vs, tq)]
    progressive = False
    coef = None  # progressive: per-component (bh, bw, 64) int32 stores
    restart = 0
    saw_eoi = False
    pos = 2
    n = len(data)
    while pos + 2 <= n:
        if data[pos] != 0xFF:
            raise ValueError(f"marker expected at {pos}")
        marker = data[pos + 1]
        if marker == 0xD9:  # EOI
            saw_eoi = True
            break
        if 0xD0 <= marker <= 0xD7:  # stray RST between scans
            pos += 2
            continue
        if marker == 0xFF:  # T.81 B.1.1.2 fill bytes before a marker
            pos += 1
            continue
        if pos + 4 > n:
            raise ValueError("truncated JPEG (header cut mid-marker)")
        (seglen,) = struct.unpack_from(">H", data, pos + 2)
        seg_start, seg_end = pos + 4, pos + 2 + seglen
        if seg_end > n:
            raise ValueError("truncated JPEG segment")
        if marker == 0xDB:  # DQT
            p = seg_start
            while p < seg_end:
                pq, tq = data[p] >> 4, data[p] & 15
                p += 1
                # bound table reads to the declared segment (r7 review
                # finding): a corrupt seglen must raise, not silently
                # pull quantizer bytes from the next segment
                if p + (128 if pq else 64) > seg_end:
                    raise ValueError("truncated table segment")
                if pq:
                    vals = np.frombuffer(data, ">u2", 64, p).astype(np.int64)
                    p += 128
                else:
                    vals = np.frombuffer(data, np.uint8, 64, p).astype(np.int64)
                    p += 64
                qt[tq] = vals
        elif marker == 0xC4:  # DHT
            p = seg_start
            while p < seg_end:
                tc, th = data[p] >> 4, data[p] & 15
                bits_b = data[p + 1 : p + 17]
                nv = sum(bits_b)
                if p + 17 + nv > seg_end:  # r7 review finding, as DQT
                    raise ValueError("truncated table segment")
                values_b = data[p + 17 : p + 17 + nv]
                huff[(tc, th)] = _decode_lut_cached(bits_b, values_b)
                p += 17 + nv
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 sequential, SOF2 prog.
            prec, h, w, nc = struct.unpack_from(">BHHB", data, seg_start)
            if prec != 8:
                raise UnsupportedJpegError(f"unsupported sample precision {prec}")
            if h == 0 or w == 0:
                raise UnsupportedJpegError("DNL-deferred dimensions not supported")
            if seg_start + 6 + 3 * nc > seg_end:
                raise ValueError("truncated SOF component table")
            comps = []
            for c in range(nc):
                cid, hv, tq = struct.unpack_from(">BBB", data, seg_start + 6 + 3 * c)
                hs, vs = hv >> 4, hv & 15
                if hs not in (1, 2) or vs not in (1, 2):
                    raise UnsupportedJpegError(f"unsupported sampling {hs}x{vs}")
                comps.append((cid, hs, vs, tq))
            if nc not in (1, 3):
                raise UnsupportedJpegError(f"unsupported component count {nc}")
            frame = (h, w, comps)
            progressive = marker == 0xC2
            if progressive:
                hmax = max(hs for _, hs, vs, _ in comps)
                vmax = max(vs for _, hs, vs, _ in comps)
                mcux = -(-w // (8 * hmax))
                mcuy = -(-h // (8 * vmax))
                coef = [
                    np.zeros((mcuy * vs, mcux * hs, 64), dtype=np.int32)
                    for _, hs, vs, _ in comps
                ]
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise UnsupportedJpegError(
                "only sequential/progressive Huffman JPEG is supported "
                f"(got SOF marker 0x{marker:02x})"
            )
        elif marker == 0xDD:  # DRI
            (restart,) = struct.unpack_from(">H", data, seg_start)
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("SOS before SOF")
            ns = data[seg_start]
            if seg_start + 1 + 2 * ns + 3 > seg_end:
                raise ValueError("truncated SOS header")
            scan = []
            for si in range(ns):
                cs, tt = struct.unpack_from(">BB", data, seg_start + 1 + 2 * si)
                scan.append((cs, tt >> 4, tt & 15))
            if progressive:
                ss, se, ahl = struct.unpack_from(
                    ">BBB", data, seg_start + 1 + 2 * ns
                )
                pos = _decode_progressive_scan(
                    data, seg_end, frame, scan, huff, restart, coef,
                    (ss, se, ahl >> 4, ahl & 15),
                )
                continue
            if not huff:  # MJPEG DHT-less convention
                huff = {
                    (0, 0): _decode_lut_cached(
                        bytes(_DC_LUM_SPEC[0]), bytes(_DC_LUM_SPEC[1])),
                    (1, 0): _decode_lut_cached(
                        bytes(_AC_LUM_SPEC[0]), bytes(_AC_LUM_SPEC[1])),
                    (0, 1): _decode_lut_cached(
                        bytes(_DC_CHROM_SPEC[0]), bytes(_DC_CHROM_SPEC[1])),
                    (1, 1): _decode_lut_cached(
                        bytes(_AC_CHROM_SPEC[0]), bytes(_AC_CHROM_SPEC[1])),
                }
            return _decode_scan(data, seg_end, frame, scan, qt, huff, restart)
        # else: APPn / COM / others — skip
        pos = seg_end
    if progressive and coef is not None:
        if not saw_eoi:
            raise ValueError(
                "truncated progressive JPEG (stream ends before EOI)"
            )
        return _reconstruct(frame, coef, qt)
    raise ValueError("no scan data (truncated or image-less JPEG)")


def _decode_scan(data, pos, frame, scan, qt, huff, restart):
    h, w, comps = frame
    if len(scan) != len(comps):
        raise UnsupportedJpegError("non-interleaved multi-scan baseline not supported")
    by_id = {cid: i for i, (cid, _, _, _) in enumerate(comps)}
    for cs, _, _ in scan:
        if cs not in by_id:
            raise ValueError(f"scan references unknown component {cs}")
    order = [by_id[cs] for cs, _, _ in scan]
    if sorted(order) != list(range(len(comps))):
        raise ValueError("scan does not cover the frame components")
    hmax = max(hs for _, hs, vs, _ in comps)
    vmax = max(vs for _, hs, vs, _ in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    n_mcu = mcux * mcuy
    # per-component zigzag-order coefficient store (blocks, 64)
    coef = []
    for _, hs, vs, _ in comps:
        coef.append(np.zeros((mcuy * vs, mcux * hs, 64), dtype=np.int32))
    tables = []
    for si, (cs, td, ta) in enumerate(scan):
        ci = order[si]
        if (0, td) not in huff or (1, ta) not in huff:
            raise ValueError(f"scan references undefined Huffman table "
                             f"({td}, {ta})")
        tables.append((ci, huff[(0, td)], huff[(1, ta)],
                       comps[ci][1], comps[ci][2]))

    segs, _ = _entropy_segments(data, pos)
    seg_i = 0
    pred = [0] * len(comps)
    # r8 hot loop: the bit reader lives in locals (the method-call
    # _BitReader costs ~3 calls per coefficient) and decoded
    # coefficients accumulate into flat (cell, value) Python lists that
    # scatter into the NumPy stores ONCE per scan — per-element NumPy
    # writes were ~100 ns each. Semantics identical to the previous
    # per-row loop (same traversal order, same error messages; pinned
    # by the hand-assembled-stream and truncation-sweep tests).
    sdata = segs[0]
    slen = len(sdata)
    spos = 0
    buf = 0
    nbits = 0
    out_cells: list[list[int]] = [[] for _ in comps]
    out_vals: list[list[int]] = [[] for _ in comps]
    # per-component flat cell strides: cell = ((row_blocks)*bw + col)*64
    bws = [mcux * hs for _, hs, _, _ in comps]
    for m in range(n_mcu):
        if m & 0xFFF == 0 and (spos << 3) - nbits > (slen << 3):
            # fail FAST: a tiny corrupt blob claiming 65535x65535 would
            # otherwise decode fabricated zero bits across the whole
            # claimed MCU grid before the end-of-scan check
            raise ValueError("truncated JPEG scan (entropy underrun)")
        if restart and m and m % restart == 0:
            if (spos << 3) - nbits > (slen << 3):
                raise ValueError("truncated JPEG scan (entropy underrun)")
            seg_i += 1
            if seg_i >= len(segs):
                raise ValueError("missing restart segment (truncated scan)")
            sdata = segs[seg_i]
            slen = len(sdata)
            spos = 0
            buf = 0
            nbits = 0
            pred = [0] * len(comps)
        my, mx = divmod(m, mcux)
        for ci, dc_lut, ac_lut, hs, vs in tables:
            cells = out_cells[ci]
            vals = out_vals[ci]
            bw_c = bws[ci]
            for b in range(hs * vs):
                by, bx = divmod(b, hs)
                base = ((my * vs + by) * bw_c + mx * hs + bx) << 6
                while nbits < 16:
                    buf = (buf << 8) | (sdata[spos] if spos < slen else 0)
                    spos += 1
                    nbits += 8
                v = dc_lut[(buf >> (nbits - 16)) & 0xFFFF]
                if v == 0:
                    raise ValueError("invalid Huffman prefix (corrupt scan)")
                nbits -= v & 31
                s = v >> 5
                if s:
                    while nbits < s:
                        buf = (buf << 8) | (sdata[spos] if spos < slen else 0)
                        spos += 1
                        nbits += 8
                    nbits -= s
                    d = (buf >> nbits) & ((1 << s) - 1)
                    if d < (1 << (s - 1)):
                        d += 1 - (1 << s)
                    pred[ci] += d
                buf &= (1 << nbits) - 1
                cells.append(base)
                vals.append(pred[ci])
                k = 1
                while k < 64:
                    while nbits < 16:
                        buf = (buf << 8) | (sdata[spos] if spos < slen else 0)
                        spos += 1
                        nbits += 8
                    v = ac_lut[(buf >> (nbits - 16)) & 0xFFFF]
                    if v == 0:
                        raise ValueError("invalid Huffman prefix (corrupt scan)")
                    nbits -= v & 31
                    buf &= (1 << nbits) - 1
                    rs = v >> 5
                    if rs == 0:  # EOB
                        break
                    if rs == 0xF0:  # ZRL
                        k += 16
                        continue
                    k += rs >> 4
                    s = rs & 15
                    if k > 63:
                        raise ValueError("AC run past block end (corrupt scan)")
                    if s:
                        while nbits < s:
                            buf = (buf << 8) | (sdata[spos] if spos < slen else 0)
                            spos += 1
                            nbits += 8
                        nbits -= s
                        d = (buf >> nbits) & ((1 << s) - 1)
                        buf &= (1 << nbits) - 1
                        if d < (1 << (s - 1)):
                            d += 1 - (1 << s)
                    else:  # r in 1..14 with s == 0: zero magnitude
                        d = 0
                    cells.append(base + k)
                    vals.append(d)
                    k += 1
    if (spos << 3) - nbits > (slen << 3):
        raise ValueError("truncated JPEG scan (entropy underrun)")
    for ci in range(len(comps)):
        if out_cells[ci]:
            coef[ci].reshape(-1)[out_cells[ci]] = out_vals[ci]
    return _reconstruct(frame, coef, qt)


def _reconstruct(frame, coef, qt) -> np.ndarray:
    """Dequantize + de-zigzag + IDCT every component store at once,
    upsample chroma, and convert to the output color space — shared by
    the baseline and progressive paths."""
    h, w, comps = frame
    hmax = max(hs for _, hs, vs, _ in comps)
    vmax = max(vs for _, hs, vs, _ in comps)
    planes = []
    for (cid, hs, vs, tq), cz in zip(comps, coef):
        if tq not in qt:
            raise ValueError(f"missing quantization table {tq}")
        bh, bw = cz.shape[0], cz.shape[1]
        dq = (cz.reshape(-1, 64).astype(np.float64) * qt[tq][None, :])
        blocks = np.zeros((dq.shape[0], 64), dtype=np.float64)
        blocks[:, _ZIGZAG] = dq
        blocks = blocks.reshape(-1, 8, 8)
        spatial = np.einsum("ux,nuv,vy->nxy", _DCT_A, blocks, _DCT_A,
                            optimize=True)
        plane = (
            spatial.reshape(bh, bw, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(bh * 8, bw * 8)
        )
        plane = np.repeat(np.repeat(plane, vmax // vs, axis=0), hmax // hs,
                          axis=1)
        planes.append(plane[:h, :w] + 128.0)
    if len(planes) == 1:
        return np.clip(np.rint(planes[0]), 0, 255).astype(np.uint8)
    y, cb, cr = planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    return np.clip(np.rint(np.stack([r, g, b], axis=2)), 0, 255).astype(
        np.uint8
    )


# ------------------------------------------------- progressive decoding
# T.81 G.2: a progressive frame delivers the quantized coefficients
# over multiple scans — spectral bands (Ss..Se) at successively finer
# approximation levels (Ah/Al). The stores accumulate across scans;
# _reconstruct runs once at EOI. Structure follows the reference
# algorithm (and libjpeg's jdphuff.c organization of it).


class _ScanState:
    __slots__ = ("eobrun",)

    def __init__(self):
        self.eobrun = 0


def _comp_blocks(dim: int, sf: int, smax: int) -> int:
    """ceil(ceil(dim * sf / smax) / 8) — the ACTUAL block count of a
    component along one axis (non-interleaved scans cover exactly
    these blocks, NOT the MCU-padded grid)."""
    samples = -(-(dim * sf) // smax)
    return -(-samples // 8)


def _dc_first_block(reader, dc_lut, row, al, pred, ci):
    v = dc_lut[reader.peek16()]
    if v == 0:
        raise ValueError("invalid Huffman prefix (corrupt scan)")
    reader.skip(v & 31)
    s = v >> 5
    pred[ci] += _extend(reader.get(s), s)
    row[0] = pred[ci] << al


def _ac_first_block(reader, ac_lut, row, ss, se, al, state):
    if state.eobrun > 0:
        state.eobrun -= 1
        return
    k = ss
    while k <= se:
        v = ac_lut[reader.peek16()]
        if v == 0:
            raise ValueError("invalid Huffman prefix (corrupt scan)")
        reader.skip(v & 31)
        rs = v >> 5
        r, s = rs >> 4, rs & 15
        if s == 0:
            if r == 15:  # ZRL
                k += 16
                continue
            er = 1 << r
            if r:
                er += reader.get(r)
            state.eobrun = er - 1  # this block consumes one
            return
        k += r
        if k > se:
            raise ValueError("AC run past band end (corrupt scan)")
        row[k] = _extend(reader.get(s), s) << al
        k += 1


def _ac_refine_block(reader, ac_lut, row, ss, se, al, state):
    # r8: the refinement walk reads/writes coefficients element-wise
    # up to (se - ss + 1) times per block — through NumPy scalars that
    # was 55% of progressive decode; operate on a Python list copy and
    # write back once. Logic unchanged (T.81 G.2; pinned by the
    # progressive==baseline pixel tests and truncation sweeps).
    p1 = 1 << al
    rl = row.tolist()
    get = reader.get
    changed = False
    k = ss
    if state.eobrun == 0:
        while k <= se:
            v = ac_lut[reader.peek16()]
            if v == 0:
                raise ValueError("invalid Huffman prefix (corrupt scan)")
            reader.skip(v & 31)
            rs = v >> 5
            r, s = rs >> 4, rs & 15
            if s == 0:
                if r != 15:
                    er = 1 << r
                    if r:
                        er += get(r)
                    state.eobrun = er
                    break
                newval = 0  # ZRL: skip 16 zero-history positions
            else:
                if s != 1:
                    raise ValueError("refinement size must be 1 (corrupt scan)")
                newval = p1 if get(1) else -p1
            # advance past r zero-history coefficients, reading
            # correction bits at every nonzero one crossed
            while k <= se:
                rv = rl[k]
                if rv != 0:
                    if get(1) and ((rv if rv >= 0 else -rv) & p1) == 0:
                        rl[k] = rv + (p1 if rv >= 0 else -p1)
                        changed = True
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if newval and k <= se:
                rl[k] = newval
                changed = True
            k += 1
    if state.eobrun > 0:
        while k <= se:
            rv = rl[k]
            if rv != 0:
                if get(1) and ((rv if rv >= 0 else -rv) & p1) == 0:
                    rl[k] = rv + (p1 if rv >= 0 else -p1)
                    changed = True
            k += 1
        state.eobrun -= 1
    if changed:
        row[:] = rl


def _decode_progressive_scan(
    data, pos, frame, scan, huff, restart, coef, spectral
) -> int:
    """Process one progressive SOS; returns the offset of the marker
    terminating its entropy-coded run."""
    h, w, comps = frame
    ss, se, ah, al = spectral
    by_id = {cid: i for i, (cid, _, _, _) in enumerate(comps)}
    for cs, _, _ in scan:
        if cs not in by_id:
            raise ValueError(f"scan references unknown component {cs}")
    hmax = max(hs for _, hs, vs, _ in comps)
    vmax = max(vs for _, hs, vs, _ in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    segs, end = _entropy_segments(data, pos)
    seg_i = 0
    reader = _BitReader(segs[0])
    state = _ScanState()
    pred = [0] * len(comps)

    def next_segment():
        nonlocal seg_i, reader
        if reader.overrun():
            raise ValueError("truncated JPEG scan (entropy underrun)")
        seg_i += 1
        if seg_i >= len(segs):
            raise ValueError("missing restart segment (truncated scan)")
        reader = _BitReader(segs[seg_i])
        state.eobrun = 0
        pred[:] = [0] * len(comps)

    if ss == 0:  # DC scan (interleaved over its components)
        if se != 0:
            raise ValueError("DC scan with Se != 0 (corrupt scan header)")
        tables = []
        for cs, td, _ta in scan:
            ci = by_id[cs]
            if ah == 0 and (0, td) not in huff:
                raise ValueError(f"scan references undefined DC table {td}")
            tables.append((ci, huff.get((0, td)), comps[ci][1], comps[ci][2]))
        if len(scan) > 1:  # interleaved MCU traversal
            for m in range(mcux * mcuy):
                if m & 0xFFF == 0 and reader.overrun():
                    raise ValueError("truncated JPEG scan (entropy underrun)")
                if restart and m and m % restart == 0:
                    next_segment()
                my, mx = divmod(m, mcux)
                for ci, dc_lut, hs, vs in tables:
                    for b in range(hs * vs):
                        by, bx = divmod(b, hs)
                        row = coef[ci][my * vs + by, mx * hs + bx]
                        if ah == 0:
                            _dc_first_block(reader, dc_lut, row, al, pred, ci)
                        else:
                            row[0] |= reader.get(1) << al
        else:  # single-component: raster over the ACTUAL block grid
            ci, dc_lut, hs, vs = tables[0]
            bw_a = _comp_blocks(w, hs, hmax)
            bh_a = _comp_blocks(h, vs, vmax)
            for m in range(bw_a * bh_a):
                if m & 0xFFF == 0 and reader.overrun():
                    raise ValueError("truncated JPEG scan (entropy underrun)")
                if restart and m and m % restart == 0:
                    next_segment()
                by, bx = divmod(m, bw_a)
                row = coef[ci][by, bx]
                if ah == 0:
                    _dc_first_block(reader, dc_lut, row, al, pred, ci)
                else:
                    row[0] |= reader.get(1) << al
    else:  # AC scan: always single-component, non-interleaved
        if len(scan) != 1:
            raise ValueError("AC scans must be single-component")
        cs, _td, ta = scan[0]
        ci = by_id[cs]
        if (1, ta) not in huff:
            raise ValueError(f"scan references undefined AC table {ta}")
        ac_lut = huff[(1, ta)]
        _cid, hs, vs, _tq = comps[ci]
        bw_a = _comp_blocks(w, hs, hmax)
        bh_a = _comp_blocks(h, vs, vmax)
        for m in range(bw_a * bh_a):
            if m & 0xFFF == 0 and reader.overrun():
                raise ValueError("truncated JPEG scan (entropy underrun)")
            if restart and m and m % restart == 0:
                next_segment()
            by, bx = divmod(m, bw_a)
            row = coef[ci][by, bx]
            if ah == 0:
                _ac_first_block(reader, ac_lut, row, ss, se, al, state)
            else:
                _ac_refine_block(reader, ac_lut, row, ss, se, al, state)
    if reader.overrun():
        raise ValueError("truncated JPEG scan (entropy underrun)")
    return end


# --------------------------------------------------------------- encoder


def _quality_tables(quality: int) -> "tuple[np.ndarray, np.ndarray]":
    """libjpeg quality scaling of the Annex K tables."""
    q = min(max(int(quality), 1), 100)
    scale = 5000 // q if q < 50 else 200 - 2 * q
    lum = np.clip((_QUANT_LUM * scale + 50) // 100, 1, 255)
    chrom = np.clip((_QUANT_CHROM * scale + 50) // 100, 1, 255)
    return lum, chrom


def _build_encode_table(bits, values) -> "dict[int, tuple[int, int]]":
    """symbol -> (code, length) from a canonical (bits, values) spec."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[values[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


class _BitWriter:
    __slots__ = ("parts", "buf", "nbits")

    def __init__(self):
        self.parts = bytearray()
        self.buf = 0
        self.nbits = 0

    def put(self, code: int, length: int) -> None:
        self.buf = (self.buf << length) | code
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            b = (self.buf >> self.nbits) & 0xFF
            self.parts.append(b)
            if b == 0xFF:
                self.parts.append(0x00)  # byte stuffing
        self.buf &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.put((1 << pad) - 1, pad)  # pad with 1-bits per T.81
        return bytes(self.parts)


def _category(v: int) -> int:
    return int(v).bit_length() if v >= 0 else int(-v).bit_length()


def _encode_block(wtr, zz, pred, dc_tab, ac_tab) -> int:
    diff = int(zz[0]) - pred
    s = _category(diff)
    code, length = dc_tab[s]
    wtr.put(code, length)
    if s:
        wtr.put(diff if diff >= 0 else diff + (1 << s) - 1, s)
    last = int(np.max(np.nonzero(zz)[0])) if np.any(zz[1:]) else 0
    run = 0
    for k in range(1, last + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, length = ac_tab[0xF0]
            wtr.put(code, length)
            run -= 16
        s = _category(v)
        code, length = ac_tab[(run << 4) | s]
        wtr.put(code, length)
        wtr.put(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    if last < 63:
        code, length = ac_tab[0x00]
        wtr.put(code, length)
    return int(zz[0])


def _fdct_quant(plane: np.ndarray, qtab: np.ndarray) -> np.ndarray:
    """(bh*8, bw*8) centered float plane -> (bh, bw, 64) quantized
    zigzag-order int32 coefficients."""
    bh, bw = plane.shape[0] // 8, plane.shape[1] // 8
    blocks = plane.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
    coef = np.einsum("ux,nxy,vy->nuv", _DCT_A, blocks, _DCT_A, optimize=True)
    zz = coef.reshape(-1, 64)[:, _ZIGZAG]
    q = np.rint(zz / qtab[_ZIGZAG][None, :]).astype(np.int32)
    return q.reshape(bh, bw, 64)


# Progressive AC scans emit EOBn (n > 0) symbols, which the Annex K
# sequential tables do not contain; the fixture encoder uses a generic
# 256-symbol table instead (255 codes of length 8 + one of length 9 —
# the all-ones 9-bit code stays unassigned, per the padding rule).
_GENERIC_AC_SPEC = (
    [0, 0, 0, 0, 0, 0, 0, 255, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(255)) + [255],
)


class _EobState:
    __slots__ = ("eobrun", "pending")

    def __init__(self):
        self.eobrun = 0
        self.pending: list[int] = []


def _emit_eobrun(wtr: "_BitWriter", ac_tab, st: "_EobState") -> None:
    """EOBn symbol + extra bits + the correction bits owed to the
    blocks inside the run (refinement scans buffer them)."""
    if st.eobrun > 0:
        r = st.eobrun.bit_length() - 1
        code, length = ac_tab[r << 4]
        wtr.put(code, length)
        if r:
            wtr.put(st.eobrun - (1 << r), r)
        st.eobrun = 0
        for b in st.pending:
            wtr.put(b, 1)
        st.pending = []


def _enc_dc_scan(quantized, mcux, mcuy, al, dc_tabs, refine):
    """Progressive DC scan over the interleaved MCU grid (coincides
    with the block raster for single-component frames). First pass
    (Ah=0) Huffman-codes the point-transformed diffs; refinement is
    one raw bit per block."""
    wtr = _BitWriter()
    pred = [0] * len(quantized)
    for m in range(mcux * mcuy):
        my, mx = divmod(m, mcux)
        for ci, (q, hs, vs, _dct, _act) in enumerate(quantized):
            for b in range(hs * vs):
                by, bx = divmod(b, hs)
                dc = int(q[my * vs + by, mx * hs + bx][0])
                if refine:
                    wtr.put((dc >> al) & 1, 1)
                    continue
                val = dc >> al  # DC point transform: arithmetic shift
                diff = val - pred[ci]
                pred[ci] = val
                s = _category(diff)
                code, length = dc_tabs[ci][s]
                wtr.put(code, length)
                if s:
                    wtr.put(diff if diff >= 0 else diff + (1 << s) - 1, s)
    return wtr.flush()


def _enc_ac_first_scan(q, bw_a, bh_a, ss, se, al, ac_tab):
    wtr = _BitWriter()
    st = _EobState()
    for m in range(bw_a * bh_a):
        by, bx = divmod(m, bw_a)
        zz = q[by, bx]
        run = 0
        for k in range(ss, se + 1):
            v = int(zz[k])
            t = abs(v) >> al  # AC point transform: magnitude shift
            if t == 0:
                run += 1
                continue
            _emit_eobrun(wtr, ac_tab, st)
            while run > 15:
                code, length = ac_tab[0xF0]
                wtr.put(code, length)
                run -= 16
            s = t.bit_length()
            code, length = ac_tab[(run << 4) | s]
            wtr.put(code, length)
            tv = t if v >= 0 else -t
            wtr.put(tv if tv >= 0 else tv + (1 << s) - 1, s)
            run = 0
        if run > 0:
            st.eobrun += 1
            if st.eobrun == 0x7FFF:
                _emit_eobrun(wtr, ac_tab, st)
    _emit_eobrun(wtr, ac_tab, st)
    return wtr.flush()


def _enc_ac_refine_scan(q, bw_a, bh_a, ss, se, al, ac_tab):
    """T.81 G.1.2.3 AC refinement (the jcphuff.c organization):
    newly-significant coefficients are run-length coded with size 1;
    already-nonzero coefficients crossed contribute buffered
    correction bits; trailing runs fold into EOBn with their owed
    correction bits."""
    wtr = _BitWriter()
    st = _EobState()
    for m in range(bw_a * bh_a):
        by, bx = divmod(m, bw_a)
        zz = q[by, bx]
        absv = [abs(int(zz[k])) >> al for k in range(ss, se + 1)]
        keob = -1  # last newly-significant position
        for i, k in enumerate(range(ss, se + 1)):
            if absv[i] == 1:
                keob = k
        r = 0
        br: list[int] = []
        for i, k in enumerate(range(ss, se + 1)):
            t = absv[i]
            if t == 0:
                r += 1
                continue
            while r > 15 and k <= keob:
                _emit_eobrun(wtr, ac_tab, st)
                code, length = ac_tab[0xF0]
                wtr.put(code, length)
                r -= 16
                for b in br:
                    wtr.put(b, 1)
                br = []
            if t > 1:
                br.append(t & 1)
                continue
            _emit_eobrun(wtr, ac_tab, st)
            code, length = ac_tab[(r << 4) | 1]
            wtr.put(code, length)
            wtr.put(1 if zz[k] > 0 else 0, 1)
            for b in br:
                wtr.put(b, 1)
            br = []
            r = 0
        if r > 0 or br:
            st.eobrun += 1
            st.pending.extend(br)
            if st.eobrun == 0x7FFF:
                _emit_eobrun(wtr, ac_tab, st)
    _emit_eobrun(wtr, ac_tab, st)
    return wtr.flush()


def _pad_to(plane: np.ndarray, ph: int, pw: int) -> np.ndarray:
    """Edge-replicate pad to (ph, pw) — keeps boundary blocks smooth."""
    return np.pad(
        plane,
        ((0, ph - plane.shape[0]), (0, pw - plane.shape[1])),
        mode="edge",
    )


def encode_jpeg(
    img: np.ndarray,
    quality: int = 90,
    subsample: bool = False,
    restart_interval: int = 0,
    progressive: bool = False,
) -> bytes:
    """Fixture producer: (H, W) gray or (H, W, 3) RGB uint8 ->
    baseline JFIF bytes (Annex K quant scaled by the libjpeg quality
    formula, Annex K Huffman, 4:4:4 or 4:2:0 when ``subsample``,
    optional DRI/RSTn). ``progressive=True`` writes SOF2 with a
    two-level successive-approximation scan script (DC first Al=1 →
    per-component AC bands 1-5/6-63 at Al=1 → DC refine → AC refines)
    — the quantized coefficients reconstruct EXACTLY, so the decoded
    pixels are bit-identical to the baseline encoding at the same
    quality (pinned by a pytest). Real corpora supply real blobs; this
    exists so the decoder runs on genuine entropy-coded streams in
    environments with no codec libs."""
    arr = np.asarray(img, dtype=np.uint8)
    if arr.ndim not in (2, 3) or (arr.ndim == 3 and arr.shape[2] != 3):
        raise ValueError("expected (H, W) gray or (H, W, 3) RGB uint8")
    if progressive and restart_interval:
        raise ValueError("restart intervals unsupported in progressive mode")
    h, w = arr.shape[0], arr.shape[1]
    if h == 0 or w == 0:
        raise ValueError("empty image")
    gray = arr.ndim == 2
    lum_q, chrom_q = _quality_tables(quality)
    dc_l = _build_encode_table(*_DC_LUM_SPEC)
    ac_l = _build_encode_table(*_AC_LUM_SPEC)
    dc_c = _build_encode_table(*_DC_CHROM_SPEC)
    ac_c = _build_encode_table(*_AC_CHROM_SPEC)

    if gray:
        y = arr.astype(np.float64) - 128.0
        planes = [(y, 1, 1, lum_q, dc_l, ac_l)]
        sof_comps = [(1, 1, 1, 0)]
    else:
        rgb = arr.astype(np.float64)
        r, g, b = rgb[:, :, 0], rgb[:, :, 1], rgb[:, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b - 128.0
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b
        if subsample:
            ph, pw = -(-h // 2) * 2, -(-w // 2) * 2
            cb = _pad_to(cb, ph, pw).reshape(ph // 2, 2, pw // 2, 2).mean((1, 3))
            cr = _pad_to(cr, ph, pw).reshape(ph // 2, 2, pw // 2, 2).mean((1, 3))
            planes = [
                (y, 2, 2, lum_q, dc_l, ac_l),
                (cb, 1, 1, chrom_q, dc_c, ac_c),
                (cr, 1, 1, chrom_q, dc_c, ac_c),
            ]
            sof_comps = [(1, 2, 2, 0), (2, 1, 1, 1), (3, 1, 1, 1)]
        else:
            planes = [
                (y, 1, 1, lum_q, dc_l, ac_l),
                (cb, 1, 1, chrom_q, dc_c, ac_c),
                (cr, 1, 1, chrom_q, dc_c, ac_c),
            ]
            sof_comps = [(1, 1, 1, 0), (2, 1, 1, 1), (3, 1, 1, 1)]

    hmax = max(p[1] for p in planes)
    vmax = max(p[2] for p in planes)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    quantized = []
    for plane, hs, vs, qtab, dct, act in planes:
        padded = _pad_to(plane, mcuy * vs * 8, mcux * hs * 8)
        quantized.append((_fdct_quant(padded, qtab), hs, vs, dct, act))

    def seg(marker: int, payload: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    def dht(tc, th, spec):
        bits, values = spec
        return seg(0xC4, bytes([(tc << 4) | th] + bits + values))

    head = [b"\xff\xd8"]
    head.append(seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"))
    head.append(seg(0xDB, bytes([0x00]) + bytes(lum_q[_ZIGZAG].tolist())))
    if not gray:
        head.append(seg(0xDB, bytes([0x01]) + bytes(chrom_q[_ZIGZAG].tolist())))
    sof = struct.pack(">BHHB", 8, h, w, len(sof_comps))
    for cid, hs, vs, tq in sof_comps:
        sof += bytes([cid, (hs << 4) | vs, tq])

    if progressive:
        head.append(seg(0xC2, sof))
        head.append(dht(0, 0, _DC_LUM_SPEC))
        if not gray:
            head.append(dht(0, 1, _DC_CHROM_SPEC))
        head.append(dht(1, 0, _GENERIC_AC_SPEC))
        gen_ac = _build_encode_table(*_GENERIC_AC_SPEC)
        dc_tabs = [dc_l] + [dc_c] * (len(planes) - 1)

        def sos(comps_tt, ss, se, ah, al):
            payload = bytes([len(comps_tt)])
            for cid, td, ta in comps_tt:
                payload += bytes([cid, (td << 4) | ta])
            payload += bytes([ss, se, (ah << 4) | al])
            return seg(0xDA, payload)

        all_tt = [
            (sof_comps[i][0], 0 if i == 0 else 1, 0)
            for i in range(len(sof_comps))
        ]
        out = list(head)
        # scan 1: DC first, Al=1
        out.append(sos(all_tt, 0, 0, 0, 1))
        out.append(_enc_dc_scan(quantized, mcux, mcuy, 1, dc_tabs, False))
        # AC first scans: two spectral bands per component, Al=1
        grids = [
            (_comp_blocks(w, hs, hmax), _comp_blocks(h, vs, vmax))
            for _q, hs, vs, _d, _a in quantized
        ]
        for ci, (q, hs, vs, _d, _a) in enumerate(quantized):
            bw_a, bh_a = grids[ci]
            for ss, se in ((1, 5), (6, 63)):
                out.append(sos([(sof_comps[ci][0], 0, 0)], ss, se, 0, 1))
                out.append(_enc_ac_first_scan(q, bw_a, bh_a, ss, se, 1, gen_ac))
        # DC refinement (raw bits, tables ignored)
        out.append(sos(all_tt, 0, 0, 1, 0))
        out.append(_enc_dc_scan(quantized, mcux, mcuy, 0, dc_tabs, True))
        # AC refinement scans
        for ci, (q, hs, vs, _d, _a) in enumerate(quantized):
            bw_a, bh_a = grids[ci]
            for ss, se in ((1, 5), (6, 63)):
                out.append(sos([(sof_comps[ci][0], 0, 0)], ss, se, 1, 0))
                out.append(_enc_ac_refine_scan(q, bw_a, bh_a, ss, se, 0, gen_ac))
        out.append(b"\xff\xd9")
        return b"".join(out)

    chunks = []
    wtr = _BitWriter()
    pred = [0] * len(planes)
    rst = 0
    for m in range(mcux * mcuy):
        if restart_interval and m and m % restart_interval == 0:
            chunks.append(wtr.flush())
            chunks.append(bytes([0xFF, 0xD0 + rst]))
            rst = (rst + 1) & 7
            wtr = _BitWriter()
            pred = [0] * len(planes)
        my, mx = divmod(m, mcux)
        for ci, (q, hs, vs, dct, act) in enumerate(quantized):
            for bidx in range(hs * vs):
                by, bx = divmod(bidx, hs)
                pred[ci] = _encode_block(
                    wtr, q[my * vs + by, mx * hs + bx], pred[ci], dct, act
                )
    chunks.append(wtr.flush())
    entropy = b"".join(chunks)

    out = list(head)
    out.append(seg(0xC0, sof))
    out.append(dht(0, 0, _DC_LUM_SPEC))
    out.append(dht(1, 0, _AC_LUM_SPEC))
    if not gray:
        out.append(dht(0, 1, _DC_CHROM_SPEC))
        out.append(dht(1, 1, _AC_CHROM_SPEC))
    if restart_interval:
        out.append(seg(0xDD, struct.pack(">H", restart_interval)))
    sos = bytes([len(sof_comps)])
    for ci, (cid, _, _, tq) in enumerate(sof_comps):
        t = 0 if ci == 0 else 1
        sos += bytes([cid, (t << 4) | t])
    sos += bytes([0, 63, 0])
    out.append(seg(0xDA, sos))
    out.append(entropy)
    out.append(b"\xff\xd9")
    return b"".join(out)
