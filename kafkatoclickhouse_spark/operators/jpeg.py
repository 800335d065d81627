"""Dependency-free JPEG codec: baseline sequential (VERDICT r7 #9)
AND progressive (SOF2, r11 — closes the VERDICT r10 "progressive
JPEG → PIL fallback" gap; real crawls are majority-progressive).

Decoder: Huffman entropy coding (ITU T.81 Annex F/G), 8-bit
precision, grayscale or 3-component 4:4:4 YCbCr —
SOI/APP/COM/DQT/SOF0/SOF2/DHT/SOS/EOI segment parsing, canonical
Huffman table construction from BITS/HUFFVAL, byte-unstuffing bit
reader, dequantization, inverse zigzag, float iDCT, level shift +
clip. Baseline streams run the single-scan fast loop (16-bit-peek
LUTs, batched iDCT). Progressive streams accumulate per-component
coefficient matrices across ANY conforming scan script — all four
T.81 Annex G kernels are implemented: DC first (interleaved, point
transform ``>> Al``), DC successive-approximation refinement (one
raw bit per block), AC first with spectral selection and EOB-run
decoding, and AC refinement (the G.1.2.3 correction-bit walk:
newly-significant ±1<<Al insertion, history-coefficient correction
bits inside runs, ZRL and EOB-run semantics over zero-HISTORY
positions only). Chroma-subsampled baseline (4:2:0/4:2:2/4:4:0 — MCU interleave +
nearest upsample) and restart-interval (DRI/RSTn) sequential streams
decode natively since r13; chroma-subsampled PROGRESSIVE streams
since r14 (coefficients accumulate on each component's TRUE grid,
interleaved DC scans walk the MCU grid and discard pad blocks —
the composition VERDICT r13 #5 asked for, since large web
progressive JPEGs are typically also 4:2:0). 12-bit,
lossless/hierarchical, arithmetic-coded, and
progressive-with-restarts streams are rejected LOUDLY (ValueError),
never silently mis-decoded; on a real cluster those fall through to
PIL (see ``multimodal.py``).

Encoder: the matching baseline writer (used for fixture synthesis
and round-trip tests) — forward DCT, quantization, zigzag, canonical
Huffman encode, byte stuffing — plus a progressive writer
(``encode_jpeg_gray_progressive`` / ``encode_jpeg_rgb_progressive``)
emitting a 4-kernel scan script (DC first Al=1 → AC first Al=1 →
DC refine → AC refine, mirroring libjpeg's jcphuff ordering rules:
correction bits buffered per run segment, EOB-runs accumulated
across blocks with their buffered bits, ZRLs not emitted past the
last newly-significant index). Tables ride IN the stream (DQT/DHT),
so encoder and decoder are self-consistent by construction; the
baseline Huffman tables are the ITU T.81 Annex K typical tables,
and progressive AC scans carry a flat 8-bit-code table (Annex K's
AC tables saturate the 16-bit code space, leaving no room for the
EOB-run length symbols progressive needs — the flat table holds all
176 progressive AC symbols at one length and remains canonical).
Round-trip pin: a progressive encode decodes PIXEL-IDENTICAL to the
baseline encode of the same image (same quantized coefficients by
construction), so every progressive kernel is property-tested
against the baseline path (``tests/test_jpeg.py``).

Exactness story for the oracled query
(``multimodal_decode_jpeg_stats``): JPEG is lossy in general, but a
block-CONSTANT 8×8 tile has only a DC coefficient (AC are exactly
zero under the DCT), and with the DC quantizer set to 8 the
quantized DC is exactly ``v − 128`` — integer, no rounding anywhere
— so decode reproduces the original pixels BIT-EXACTLY and DuckDB
can replay the per-document statistics from the closed-form block
rule without ever seeing a byte of JPEG. The lossy general path
(all 64 coefficients live) is exercised by pytest round-trip bounds
instead (``tests/test_jpeg.py``).
"""

from __future__ import annotations

import struct

import numpy as np

# ITU T.81 Annex K.3 "typical" Huffman tables: (BITS[1..16], HUFFVAL).
# Correctness does not require these to match the standard byte-for-
# byte — they are embedded in DHT and read back by any decoder — but
# they are the interoperable defaults every camera/libjpeg uses.
DC_LUM_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUM_VALS = list(range(12))
DC_CHR_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_CHR_VALS = list(range(12))
AC_LUM_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_LUM_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]
AC_CHR_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
AC_CHR_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
    0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
    0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
    0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
    0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
    0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
    0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
    0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
    0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
    0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
    0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]

# Progressive AC scans need EOB-run length symbols (n << 4 for run
# 2^n..2^(n+1)-1) that Annex K's AC tables have no code space for
# (they consume 65535/65536 of the 16-bit canonical space). The
# progressive writer instead ships this flat table: every symbol an
# AC scan can emit — (run << 4) | size for size 1..10, ZRL 0xF0, and
# EOB-run lengths 0x00..0xE0 — at one 8-bit code length (176 codes in
# a 256-slot space: canonical, prefix-free, all-ones unused).
AC_PROG_VALS = sorted(
    {(r << 4) | s for r in range(16) for s in range(1, 11)}
    | {0xF0}
    | {n << 4 for n in range(15)}
)
AC_PROG_BITS = [0] * 16
AC_PROG_BITS[7] = len(AC_PROG_VALS)  # all codes 8 bits long

ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)
UNZIGZAG = np.argsort(ZIGZAG)

# Orthonormal 8-point DCT-II basis matrix: A @ block @ A.T = DCT,
# A.T @ coef @ A = iDCT. A constant block maps exactly to a lone DC
# coefficient of 8*(v - 128) — the exactness hinge documented above.
_A = np.zeros((8, 8))
for _k in range(8):
    for _n in range(8):
        _A[_k, _n] = np.cos((2 * _n + 1) * _k * np.pi / 16) * (
            np.sqrt(1 / 8) if _k == 0 else np.sqrt(2 / 8)
        )
# row k = the 64 level-shifted pixels one unit of zigzag coefficient k
# adds to its block
_BASIS_ZZ = np.einsum("ui,vj->uvij", _A, _A).reshape(64, 64)[ZIGZAG]


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) per T.81 Annex C code generation."""
    code, k, out = 0, 0, {}
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


_LUT_CACHE: dict[tuple, list[int]] = {}


def _lut_table(bits: list[int], vals: list[int]) -> list[int]:
    """16-bit-peek Huffman LUT (the libjpeg fast path): index by the
    next 16 bits of the stream; entry = (symbol << 8) | consumed_bits
    (0 ⇒ invalid code). Canonical codes are prefix-free, so every
    16-bit word starting with code c of length L maps to c's symbol —
    a slice assignment per symbol. Returned as a plain Python list
    (C-speed scalar indexing in the decode loop; numpy scalar reads
    are ~5× slower) and CACHED per table definition — every camera/
    libjpeg stream ships the same Annex-K tables, so across a corpus
    the build cost amortizes to zero."""
    key = (tuple(bits), tuple(vals))
    hit = _LUT_CACHE.get(key)
    if hit is not None:
        return hit
    lut = np.zeros(1 << 16, dtype=np.int32)
    for sym, (code, ln) in _canonical_codes(bits, vals).items():
        lo = code << (16 - ln)
        hi = (code + 1) << (16 - ln)
        lut[lo:hi] = (sym << 8) | ln
    out = lut.tolist()
    if len(_LUT_CACHE) > 64:  # corpus-of-distinct-tables backstop
        _LUT_CACHE.clear()
    _LUT_CACHE[key] = out
    return out


def _unstuff(data: bytes) -> bytes:
    """Remove JPEG byte stuffing (0x00 after 0xFF) in one vectorized
    pass; reject embedded markers (0xFF followed by non-0x00) — the
    same strictness the incremental reader had."""
    arr = np.frombuffer(data, dtype=np.uint8)
    ff = arr == 0xFF
    if not ff.any():
        return data
    ff_pos = np.nonzero(ff)[0]
    if ff_pos[-1] == len(arr) - 1 or (arr[ff_pos + 1] != 0x00).any():
        raise ValueError("unexpected marker in entropy data")
    keep = np.ones(len(arr), dtype=bool)
    keep[ff_pos + 1] = False
    return arr[keep].tobytes()


class _BitWriter:
    def __init__(self) -> None:
        self._out = bytearray()
        self._acc = 0
        self._n = 0

    def put(self, code: int, length: int) -> None:
        self._acc = (self._acc << length) | (code & ((1 << length) - 1))
        self._n += length
        while self._n >= 8:
            self._n -= 8
            byte = (self._acc >> self._n) & 0xFF
            self._out.append(byte)
            if byte == 0xFF:  # byte stuffing
                self._out.append(0x00)
        # keep only the bits not yet emitted, so the shift above stays
        # O(1) instead of copying every bit written so far
        self._acc &= (1 << self._n) - 1

    def flush(self) -> bytes:
        if self._n:
            pad = 8 - self._n
            self.put((1 << pad) - 1, pad)  # pad with 1-bits per spec
        return bytes(self._out)

    def restart(self, m: int) -> None:
        """Byte-align (1-bit pad) and emit RSTm — T.81 F.1.2.3. The
        pad byte goes through put() so an all-ones 0xFF still gets
        stuffed; the marker itself is raw."""
        if self._n:
            pad = 8 - self._n
            self.put((1 << pad) - 1, pad)
        self._out += bytes([0xFF, 0xD0 + (m & 7)])


def _category(v: int) -> int:
    return int(v).bit_length() if v > 0 else int(-v).bit_length()


# --------------------------- decoder ---------------------------------


def decode_jpeg(payload: bytes) -> np.ndarray:
    """JPEG bytes (baseline SOF0 or progressive SOF2) -> (h, w, 3)
    uint8 RGB array (grayscale streams are expanded to RGB so the
    kernel signature matches the other decoders). Strict: anything
    outside 8-bit / 1×1 sampling / Huffman coding raises ValueError —
    and so does any truncated/malformed stream: internal IndexError/
    KeyError/struct.error from arbitrary garbage bytes are normalized
    to ValueError so the contract (and decode_image's
    except-ValueError fallback) holds for ALL inputs, not just
    well-formed ones."""
    try:
        return _decode_jpeg(payload)
    except (IndexError, KeyError, OverflowError, struct.error) as exc:
        raise ValueError(f"malformed JPEG stream: {exc!r}") from exc


def _find_scan_end(payload: bytes, start: int) -> int:
    """First marker position at/after ``start`` — entropy data ends
    at any 0xFF not followed by a stuffed 0x00 or an RSTn marker
    (restart markers live INSIDE the entropy stream)."""
    e = start
    n = len(payload)
    while True:
        f = payload.find(b"\xff", e)
        if f < 0 or f + 1 >= n:
            return n
        nxt = payload[f + 1]
        if nxt == 0x00 or 0xD0 <= nxt <= 0xD7:
            e = f + 2
            continue
        return f


def _split_restart_segments(data: bytes) -> list[bytes]:
    """Split raw scan bytes into per-restart-interval entropy
    segments at RSTn markers (safe on raw bytes: a true 0xFF data
    byte is always stuffed as FF 00, so FF D0-D7 sequences are
    genuine markers), each segment unstuffed."""
    segs: list[bytes] = []
    pos = 0
    e = 0
    n = len(data)
    while True:
        f = data.find(b"\xff", e)
        if f < 0 or f + 1 >= n:
            segs.append(_unstuff(data[pos:]))
            return segs
        nxt = data[f + 1]
        if 0xD0 <= nxt <= 0xD7:
            segs.append(_unstuff(data[pos:f]))
            pos = e = f + 2
            continue
        # any other FF-prefixed pair is either a stuffed data byte
        # (skip both) or a foreign marker _find_scan_end guarantees
        # cannot appear here — the trailing _unstuff raises loudly
        # if that guarantee is ever violated
        e = f + 2 if nxt == 0x00 else f + 1


def _parse_jpeg(payload: bytes):
    """Segment walk shared by both frame types: returns
    (progressive, (h, w, comps), qt, scans) where each scan is
    (scan_comps, Ss, Se, Ah, Al, dc_luts, ac_luts, entropy_bytes)
    with Huffman LUTs snapshotted at SOS time (DHT between scans may
    redefine table slots — progressive scripts do)."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI)")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff_dc_raw: dict[int, tuple[list[int], list[int]]] = {}
    huff_ac_raw: dict[int, tuple[list[int], list[int]]] = {}
    frame = None
    progressive = False
    dri = 0
    scans = []
    while pos < len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"bad marker alignment at {pos}")
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if 0xD0 <= marker <= 0xD7:
            # standalone RST outside a scan's entropy stream
            raise ValueError("restart marker outside entropy data")
        if marker in (0xC1, 0xC3) or (
            0xC5 <= marker <= 0xCF and marker not in (0xC8, 0xCC)
        ):
            raise ValueError(
                f"unsupported JPEG frame type 0x{marker:02x} "
                "(only baseline SOF0 / progressive SOF2)"
            )
        # DRI handled below (segment with 2-byte interval payload)
        (seglen,) = struct.unpack_from(">H", payload, pos)
        seg = payload[pos + 2 : pos + seglen]
        if marker == 0xDD:  # DRI: restart interval in MCUs
            dri = (seg[0] << 8) | seg[1]
            pos += seglen
            continue
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 0x0F
                if pq != 0:
                    raise ValueError("16-bit quant tables unsupported")
                qt[tq] = np.frombuffer(
                    seg, dtype=np.uint8, count=64, offset=p + 1
                ).astype(np.int32)
                p += 65
        elif marker in (0xC0, 0xC2):  # SOF0 / SOF2
            if frame is not None:
                raise ValueError("multiple SOF segments")
            progressive = marker == 0xC2
            prec, h, w, nc = struct.unpack_from(">BHHB", seg, 0)
            if prec != 8:
                raise ValueError("only 8-bit precision supported")
            comps = []
            for i in range(nc):
                cid, samp, tq = struct.unpack_from(">BBB", seg, 6 + 3 * i)
                hi, vi = samp >> 4, samp & 0x0F
                if not (1 <= hi <= 4 and 1 <= vi <= 4):
                    raise ValueError(f"bad sampling factors {samp:#x}")
                comps.append((cid, tq, hi, vi))
            if nc == 1:
                # single-component frame: sampling factors are
                # meaningless (hmax = hi, so the component grid
                # equals the image grid — T.81 A.1.1); normalize so
                # the 1x1 fast path serves these streams
                comps = [(comps[0][0], comps[0][1], 1, 1)]
            hmax = max(c[2] for c in comps)
            vmax = max(c[3] for c in comps)
            for _cid, _tq, hi, vi in comps:
                if hmax % hi or vmax % vi:
                    raise ValueError(
                        "non-divisor sampling factors unsupported"
                    )
            frame = (h, w, comps)
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 0x0F
                bits = list(seg[p + 1 : p + 17])
                nv = sum(bits)
                vals = list(seg[p + 17 : p + 17 + nv])
                (huff_dc_raw if tc == 0 else huff_ac_raw)[th] = (bits, vals)
                p += 17 + nv
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("SOS before SOF")
            ns = seg[0]
            sc = [
                (seg[1 + 2 * i], seg[2 + 2 * i] >> 4, seg[2 + 2 * i] & 0x0F)
                for i in range(ns)
            ]
            ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
            ah, al = seg[3 + 2 * ns] >> 4, seg[3 + 2 * ns] & 0x0F
            if not (ss <= se <= 63):
                raise ValueError("bad spectral selection bounds")
            # snapshot only the tables this scan's kernels will read:
            # DC huffman for DC-first bands, AC huffman whenever the
            # band holds AC coefficients (DC REFINE reads raw bits).
            dc_luts = {}
            ac_luts = {}
            for _cid, td, ta in sc:
                if ss == 0 and ah == 0:
                    dc_luts[td] = _lut_table(*huff_dc_raw[td])
                if se > 0:
                    ac_luts[ta] = _lut_table(*huff_ac_raw[ta])
            data_start = pos + seglen
            data_end = _find_scan_end(payload, data_start)
            raw = payload[data_start:data_end]
            if dri:
                if progressive:
                    raise ValueError(
                        "restart intervals in progressive JPEG "
                        "unsupported"
                    )
                segments = _split_restart_segments(raw)
            else:
                segments = [_unstuff(raw)]
            scans.append(
                (sc, ss, se, ah, al, dc_luts, ac_luts, segments, dri)
            )
            pos = data_end
            continue
        # APPn/COM and anything else: skip
        pos += seglen
    if frame is None or not scans:
        raise ValueError("JPEG stream missing SOF/SOS")
    return progressive, frame, qt, scans


def _decode_jpeg(payload: bytes) -> np.ndarray:
    progressive, frame, qt, scans = _parse_jpeg(payload)
    h, w, comps = frame
    nc = len(comps)
    hmax = max(c[2] for c in comps)
    vmax = max(c[3] for c in comps)
    subsampled = hmax != 1 or vmax != 1
    by, bx = (h + 7) // 8, (w + 7) // 8
    nb = by * bx
    if subsampled and not progressive:
        # baseline MCU interleave at mixed sampling factors
        # (T.81 A.2.3)
        if len(scans) != 1:
            raise ValueError("multiple scans in a baseline stream")
        sc, ss, se, ah, al, dc_luts, ac_luts, segments, dri = scans[0]
        if (ss, se, ah, al) != (0, 63, 0, 0):
            raise ValueError("bad baseline scan header")
        if len(sc) != nc:
            raise ValueError("scan/frame component mismatch")
        mcux = (w + 8 * hmax - 1) // (8 * hmax)
        mcuy = (h + 8 * vmax - 1) // (8 * vmax)
        coef = _baseline_entropy_decode_sampled(
            segments, sc, comps, mcux, mcuy, dc_luts, ac_luts, dri
        )
        grids = [
            (mcuy * vi, mcux * hi) for (_cid, _tq, hi, vi) in comps
        ]
    elif not progressive:
        if len(scans) != 1:
            raise ValueError("multiple scans in a baseline stream")
        sc, ss, se, ah, al, dc_luts, ac_luts, segments, dri = scans[0]
        if (ss, se, ah, al) != (0, 63, 0, 0):
            raise ValueError("bad baseline scan header")
        if len(sc) != nc:
            raise ValueError("scan/frame component mismatch")
        flat = _baseline_entropy_decode(
            segments, sc, nb, dc_luts, ac_luts, dri
        )
        coef = [flat[ci::nc] for ci in range(nc)]
        grids = [(by, bx)] * nc
    else:
        # progressive, any conforming sampling (r14 closes the
        # "subsampled SOF2 rejects loudly" gap — large web
        # progressive JPEGs are typically ALSO 4:2:0). Coefficient
        # arrays live on each component's TRUE grid (the grid
        # non-interleaved scans walk, T.81 A.2.2); interleaved DC
        # scans walk the MCU grid and discard pad blocks.
        mcux = (w + 8 * hmax - 1) // (8 * hmax)
        mcuy = (h + 8 * vmax - 1) // (8 * vmax)
        dims = []
        for _cid, _tq, hi, vi in comps:
            ch = -(-h * vi // vmax)
            cw = -(-w * hi // hmax)
            dims.append(((ch + 7) // 8, (cw + 7) // 8))
        coef = [
            np.zeros((r * c, 64), dtype=np.int64) for r, c in dims
        ]
        cid_to_ci = {cid: i for i, (cid, *_rest) in enumerate(comps)}
        pred = [0] * nc
        for sc, ss, se, ah, al, dc_luts, ac_luts, segments, _dri in scans:
            br = _Bits(segments[0])
            cis = [cid_to_ci[cid] for (cid, _td, _ta) in sc]
            if ss == 0:
                if se != 0:
                    raise ValueError(
                        "progressive scan mixes DC and AC bands"
                    )
                if ah == 0:
                    _dc_first_scan(
                        br, sc, cis, coef, pred, al, dc_luts,
                        comps, dims, mcux, mcuy,
                    )
                else:
                    _dc_refine_scan(
                        br, cis, coef, al, comps, dims, mcux, mcuy
                    )
            else:
                if len(sc) != 1:
                    raise ValueError("interleaved progressive AC scan")
                lut = ac_luts[sc[0][2]]
                nb_c = dims[cis[0]][0] * dims[cis[0]][1]
                if ah == 0:
                    _ac_first_scan(
                        br, coef[cis[0]], ss, se, al, lut, nb_c
                    )
                else:
                    _ac_refine_scan(
                        br, coef[cis[0]], ss, se, al, lut, nb_c
                    )
        grids = dims
    # batch dequant, unzigzag, iDCT per component — all vectorized
    planes = []
    for ci, (_cid, tq, hi, vi) in enumerate(comps):
        by_c, bx_c = grids[ci]
        nb_c = by_c * bx_c
        dq = coef[ci].astype(np.int64) * qt[tq].astype(np.int64)[None, :]
        blocks = dq[:, UNZIGZAG].reshape(nb_c, 8, 8).astype(np.float64)
        pix = np.einsum("ij,bjk,kl->bil", _A.T, blocks, _A)
        plane = (
            pix.reshape(by_c, bx_c, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(by_c * 8, bx_c * 8)
        )
        if subsampled:
            # crop to the component's own dims (ceil(d * fi/fmax)),
            # then NEAREST upsample by replication — the exactness
            # carve-out's chroma rule (constant regions reproduce
            # exactly; a production fancy-upsampler would differ only
            # inside gradients, which the lossy-path tests bound)
            ch = -(-h * vi // vmax)
            cw = -(-w * hi // hmax)
            plane = plane[:ch, :cw]
            plane = np.repeat(
                np.repeat(plane, vmax // vi, axis=0),
                hmax // hi,
                axis=1,
            )
        planes.append(plane[:h, :w] + 128.0)
    if len(planes) == 1:
        g = np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
        return np.stack([g, g, g], axis=-1)
    if len(planes) != 3:
        raise ValueError(f"unsupported component count {len(planes)}")
    y, cb, cr = planes[0], planes[1] - 128.0, planes[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(
        np.round(np.stack([r, g, b], axis=-1)), 0, 255
    ).astype(np.uint8)


def _baseline_entropy_decode(
    segments, scan, nb: int, dc_luts, ac_luts, dri: int = 0
) -> np.ndarray:
    """The baseline single-scan fast loop (r8 brief #7): unstuffed
    data + 16-bit-peek LUTs, entropy-decoded into a flat
    (n_blocks*nc, 64) coefficient matrix in MCU-interleaved order.
    Only the inherently sequential symbol walk stays a Python loop.
    ``segments`` are per-restart-interval entropy chunks (one chunk
    when dri == 0); at each restart the bit reader re-aligns (fresh
    segment) and the DC predictors reset (T.81 F.2.1.3.1)."""
    nc = len(scan)
    n_blocks = nb * nc
    luts = [(dc_luts[td], ac_luts[ta]) for (_cid, td, ta) in scan]
    # flat Python list for the sequential fill; reshaped to numpy once
    flat = [0] * (n_blocks * 64)
    per_seg = dri * nc if dri else n_blocks
    done = 0
    for seg in segments:
        if done >= n_blocks:
            break
        data = seg + b"\x00\x00\x00\x00"
        pred = [0] * nc
        pos = 0  # bit cursor
        total_bits = (len(data) - 4) * 8
        _decode_block_run(
            data, flat, range(done, min(done + per_seg, n_blocks)),
            nc, luts, pred, pos, total_bits,
        )
        done = min(done + per_seg, n_blocks)
    if done < n_blocks:
        raise ValueError("restart segments short of MCU count")
    return np.array(flat, dtype=np.int64).reshape(n_blocks, 64)


def _decode_block_run(
    data, flat, blocks, nc, luts, pred, pos, total_bits
):
    for blk in blocks:
        ci = blk % nc
        dc_lut, ac_lut = luts[ci]
        base = blk * 64
        # DC
        i = pos >> 3
        wnd = (
            (data[i] << 24) | (data[i + 1] << 16)
            | (data[i + 2] << 8) | data[i + 3]
        )
        e = dc_lut[(wnd >> (16 - (pos & 7))) & 0xFFFF]
        if e == 0:
            raise ValueError("invalid Huffman code in JPEG stream")
        s = e >> 8
        pos += e & 0xFF
        if s:
            i = pos >> 3
            wnd = (
                (data[i] << 24) | (data[i + 1] << 16)
                | (data[i + 2] << 8) | data[i + 3]
            )
            v = (wnd >> (32 - (pos & 7) - s)) & ((1 << s) - 1)
            pos += s
            pred[ci] += v if v >= (1 << (s - 1)) else v - (1 << s) + 1
        flat[base] = pred[ci]
        k = 1
        while k < 64:
            i = pos >> 3
            wnd = (
                (data[i] << 24) | (data[i + 1] << 16)
                | (data[i + 2] << 8) | data[i + 3]
            )
            e = ac_lut[(wnd >> (16 - (pos & 7))) & 0xFFFF]
            if e == 0:
                raise ValueError("invalid Huffman code in JPEG stream")
            rs = e >> 8
            pos += e & 0xFF
            if rs == 0x00:  # EOB
                break
            if rs == 0xF0:  # ZRL
                k += 16
                continue
            k += rs >> 4
            size = rs & 0x0F
            if k > 63:
                raise ValueError("AC coefficient overrun")
            i = pos >> 3
            wnd = (
                (data[i] << 24) | (data[i + 1] << 16)
                | (data[i + 2] << 8) | data[i + 3]
            )
            v = (wnd >> (32 - (pos & 7) - size)) & ((1 << size) - 1)
            pos += size
            flat[base + k] = (
                v if v >= (1 << (size - 1)) else v - (1 << size) + 1
            )
            k += 1
        if pos > total_bits + 7:
            raise ValueError("JPEG entropy stream exhausted")


def _baseline_entropy_decode_sampled(
    segments, scan, comps, mcux: int, mcuy: int, dc_luts, ac_luts,
    dri: int = 0,
):
    """MCU-interleaved entropy decode at mixed sampling factors
    (T.81 A.2.3): within each MCU, components in scan order, each
    contributing Vi×Hi blocks in raster order. Returns one
    (nb_c, 64) int64 coefficient matrix per component, indexed by
    the component's OWN block grid (mcuy*Vi rows × mcux*Hi cols).
    Same 16-bit-peek LUT walk as the 1×1 fast loop. ``segments``
    are per-restart-interval chunks (one when dri == 0): at each
    restart the reader re-aligns and all DC predictors reset."""
    seg_iter = iter(segments)
    data = next(seg_iter) + b"\x00\x00\x00\x00"
    cid_to_ci = {cid: i for i, (cid, *_rest) in enumerate(comps)}
    flats = [
        [0] * (mcux * hi * mcuy * vi * 64)
        for (_cid, _tq, hi, vi) in comps
    ]
    # per-MCU slot schedule: (ci, v, hh, hi, vi, dc_lut, ac_lut)
    slots = []
    for cid, td, ta in scan:
        ci = cid_to_ci[cid]
        _cid, _tq, hi, vi = comps[ci]
        for v in range(vi):
            for hh in range(hi):
                slots.append(
                    (ci, v, hh, hi, vi, dc_luts[td], ac_luts[ta])
                )
    pred = [0] * len(comps)
    pos = 0
    total_bits = (len(data) - 4) * 8
    mcu = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if dri and mcu and mcu % dri == 0:
                try:
                    data = next(seg_iter) + b"\x00\x00\x00\x00"
                except StopIteration:
                    raise ValueError(
                        "restart segments short of MCU count"
                    ) from None
                pred = [0] * len(comps)
                pos = 0
                total_bits = (len(data) - 4) * 8
            mcu += 1
            for ci, v, hh, hi, vi, dc_lut, ac_lut in slots:
                flat = flats[ci]
                base = (
                    (my * vi + v) * (mcux * hi) + (mx * hi + hh)
                ) * 64
                i = pos >> 3
                wnd = (
                    (data[i] << 24) | (data[i + 1] << 16)
                    | (data[i + 2] << 8) | data[i + 3]
                )
                e = dc_lut[(wnd >> (16 - (pos & 7))) & 0xFFFF]
                if e == 0:
                    raise ValueError("invalid Huffman code in JPEG stream")
                sz = e >> 8
                pos += e & 0xFF
                if sz:
                    i = pos >> 3
                    wnd = (
                        (data[i] << 24) | (data[i + 1] << 16)
                        | (data[i + 2] << 8) | data[i + 3]
                    )
                    val = (wnd >> (32 - (pos & 7) - sz)) & ((1 << sz) - 1)
                    pos += sz
                    pred[ci] += (
                        val if val >= (1 << (sz - 1)) else val - (1 << sz) + 1
                    )
                flat[base] = pred[ci]
                k = 1
                while k < 64:
                    i = pos >> 3
                    wnd = (
                        (data[i] << 24) | (data[i + 1] << 16)
                        | (data[i + 2] << 8) | data[i + 3]
                    )
                    e = ac_lut[(wnd >> (16 - (pos & 7))) & 0xFFFF]
                    if e == 0:
                        raise ValueError(
                            "invalid Huffman code in JPEG stream"
                        )
                    rs = e >> 8
                    pos += e & 0xFF
                    if rs == 0x00:  # EOB
                        break
                    if rs == 0xF0:  # ZRL
                        k += 16
                        continue
                    k += rs >> 4
                    size = rs & 0x0F
                    if k > 63:
                        raise ValueError("AC coefficient overrun")
                    i = pos >> 3
                    wnd = (
                        (data[i] << 24) | (data[i + 1] << 16)
                        | (data[i + 2] << 8) | data[i + 3]
                    )
                    val = (
                        (wnd >> (32 - (pos & 7) - size))
                        & ((1 << size) - 1)
                    )
                    pos += size
                    flat[base + k] = (
                        val
                        if val >= (1 << (size - 1))
                        else val - (1 << size) + 1
                    )
                    k += 1
                if pos > total_bits + 7:
                    raise ValueError("JPEG entropy stream exhausted")
    return [
        np.array(f, dtype=np.int64).reshape(-1, 64) for f in flats
    ]


# ------------------- progressive scan kernels (T.81 Annex G) ---------


class _Bits:
    """Bit reader over unstuffed entropy data — same 32-bit window
    peeking as the baseline loop, tolerating up to 7 pad bits of
    overrun at scan end."""

    __slots__ = ("d", "pos", "lim")

    def __init__(self, data: bytes) -> None:
        self.d = data + b"\x00\x00\x00\x00"
        self.pos = 0
        self.lim = len(data) * 8 + 7

    def huff(self, lut) -> int:
        d, p = self.d, self.pos
        i = p >> 3
        wnd = (
            (d[i] << 24) | (d[i + 1] << 16) | (d[i + 2] << 8) | d[i + 3]
        )
        e = lut[(wnd >> (16 - (p & 7))) & 0xFFFF]
        if e == 0:
            raise ValueError("invalid Huffman code in JPEG stream")
        self.pos = p + (e & 0xFF)
        if self.pos > self.lim:
            raise ValueError("JPEG entropy stream exhausted")
        return e >> 8

    def bits(self, n: int) -> int:
        if n == 0:
            return 0
        d, p = self.d, self.pos
        i = p >> 3
        wnd = (
            (d[i] << 24) | (d[i + 1] << 16) | (d[i + 2] << 8) | d[i + 3]
        )
        v = (wnd >> (32 - (p & 7) - n)) & ((1 << n) - 1)
        self.pos = p + n
        if self.pos > self.lim:
            raise ValueError("JPEG entropy stream exhausted")
        return v


def _extend(v: int, s: int) -> int:
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def _dc_first_scan(
    br, sc, cis, coef, pred, al, dc_luts, comps, dims, mcux, mcuy
) -> None:
    """DC first scan; value = predicted diff << Al. Interleaved
    (multi-component) scans walk the MCU grid with hi×vi blocks per
    component per MCU (T.81 A.2.3) — MCU-pad blocks outside the
    component's true grid are DECODED (they advance the bitstream
    and the predictor chain) but not stored, since no later
    non-interleaved scan or output pixel reads them. Single-
    component scans are non-interleaved: the component's own blocks
    in raster order (A.2.2)."""
    luts = [dc_luts[td] for (_cid, td, _ta) in sc]
    if len(cis) == 1:
        ci, lut = cis[0], luts[0]
        rows, cols = dims[ci]
        for blk in range(rows * cols):
            s = br.huff(lut)
            if s > 15:
                raise ValueError("bad DC category")
            if s:
                pred[ci] += _extend(br.bits(s), s)
            coef[ci][blk, 0] = pred[ci] << al
        return
    for my in range(mcuy):
        for mx in range(mcux):
            for ci, lut in zip(cis, luts):
                _cid, _tq, hi, vi = comps[ci]
                rows, cols = dims[ci]
                for vy in range(vi):
                    for vx in range(hi):
                        s = br.huff(lut)
                        if s > 15:
                            raise ValueError("bad DC category")
                        if s:
                            pred[ci] += _extend(br.bits(s), s)
                        r, c = my * vi + vy, mx * hi + vx
                        if r < rows and c < cols:
                            coef[ci][r * cols + c, 0] = pred[ci] << al


def _dc_refine_scan(
    br, cis, coef, al, comps, dims, mcux, mcuy
) -> None:
    """DC refinement: one raw bit per block ORed in at position Al
    (two's-complement OR is exact for negative predictors too).
    Same interleave geometry as the first scan — pad blocks consume
    their bit and discard it."""
    if len(cis) == 1:
        ci = cis[0]
        rows, cols = dims[ci]
        for blk in range(rows * cols):
            if br.bits(1):
                coef[ci][blk, 0] |= 1 << al
        return
    for my in range(mcuy):
        for mx in range(mcux):
            for ci in cis:
                _cid, _tq, hi, vi = comps[ci]
                rows, cols = dims[ci]
                for vy in range(vi):
                    for vx in range(hi):
                        bit = br.bits(1)
                        r, c = my * vi + vy, mx * hi + vx
                        if bit and r < rows and c < cols:
                            coef[ci][r * cols + c, 0] |= 1 << al


def _ac_first_scan(br, q, ss, se, al, lut, nb) -> None:
    """AC first scan over one component's band [Ss, Se]: run-length
    decode with EOB-run semantics (symbol n<<4 ⇒ skip 2^n + ext
    blocks' bands), values point-transformed << Al."""
    eobrun = 0
    for blk in range(nb):
        if eobrun:
            eobrun -= 1
            continue
        k = ss
        while k <= se:
            rs = br.huff(lut)
            r, s = rs >> 4, rs & 0x0F
            if s == 0:
                if r == 15:  # ZRL
                    k += 16
                    continue
                eobrun = (1 << r) - 1
                if r:
                    eobrun += br.bits(r)
                break
            k += r
            if k > se:
                raise ValueError("AC coefficient overrun")
            q[blk, k] = _extend(br.bits(s), s) << al
            k += 1


def _ac_refine_scan(br, q, ss, se, al, lut, nb) -> None:
    """AC refinement (T.81 G.1.2.3, the jdphuff walk): runs count
    zero-HISTORY positions only; nonzero-history coefficients inside
    a run consume a correction bit; newly-significant coefficients
    insert ±1<<Al; EOB-runs still carry correction bits for the
    remainder of each covered block's band."""
    p1 = 1 << al
    eobrun = 0
    for blk in range(nb):
        c = q[blk]
        k = ss
        if eobrun == 0:
            while k <= se:
                rs = br.huff(lut)
                r, s = rs >> 4, rs & 0x0F
                val = 0
                if s == 0:
                    if r < 15:
                        eobrun = 1 << r
                        if r:
                            eobrun += br.bits(r)
                        break
                    # r == 15: ZRL — skip 16 zero-history positions
                elif s == 1:
                    val = p1 if br.bits(1) else -p1
                else:
                    raise ValueError("bad AC refinement symbol")
                while k <= se:
                    t = c[k]
                    if t != 0:
                        if br.bits(1) and (t & p1) == 0:
                            c[k] = t + (p1 if t >= 0 else -p1)
                    else:
                        if r == 0:
                            break
                        r -= 1
                    k += 1
                if s:
                    if k > se:
                        raise ValueError("AC refinement overrun")
                    c[k] = val
                k += 1
        if eobrun > 0:
            while k <= se:
                t = c[k]
                if t != 0:
                    if br.bits(1) and (t & p1) == 0:
                        c[k] = t + (p1 if t >= 0 else -p1)
                k += 1
            eobrun -= 1


# --------------------------- encoder ---------------------------------


def _encode_block(
    writer: _BitWriter,
    qcoef: list[int],
    last_nz: int,
    pred: int,
    dc_codes: dict,
    ac_codes: dict,
) -> int:
    """Huffman-encode one quantized, zigzagged 64-vector (a plain
    Python list — the batched DCT hands rows over via .tolist() so
    the symbol loop runs on C-speed int ops); returns the new DC
    predictor. ``last_nz`` is the index of the last nonzero
    coefficient (0 when all-zero), precomputed vectorized."""
    dc = qcoef[0]
    diff = dc - pred
    s = _category(diff)
    code, ln = dc_codes[s]
    writer.put(code, ln)
    if s:
        writer.put(diff if diff > 0 else diff + (1 << s) - 1, s)
    run = 0
    for k in range(1, last_nz + 1):
        v = qcoef[k]
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_codes[0xF0]
            writer.put(code, ln)
            run -= 16
        size = _category(v)
        code, ln = ac_codes[(run << 4) | size]
        writer.put(code, ln)
        writer.put(v if v > 0 else v + (1 << size) - 1, size)
        run = 0
    if last_nz < 63:
        code, ln = ac_codes[0x00]
        writer.put(code, ln)
    return dc


def _quant_seg(tq: int, table: np.ndarray) -> bytes:
    return (
        b"\xff\xdb"
        + struct.pack(">H", 67)
        + bytes([tq])
        + bytes(int(x) for x in table)
    )


def _dht_seg(tc: int, th: int, bits: list[int], vals: list[int]) -> bytes:
    payload = bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals)
    return b"\xff\xc4" + struct.pack(">H", len(payload) + 2) + payload


def _component_qcoefs(
    plane: np.ndarray, quant: np.ndarray
) -> tuple[list[list[int]], list[int]]:
    """All of a plane's zigzagged quantized 64-vectors in MCU raster
    order, DCT'd and quantized as ONE batched numpy op (per-block
    matmuls in a Python loop dominated the old encoder), handed back
    as Python lists for the symbol loop — plus each block's last
    nonzero index, computed vectorized. Blocks that plain rounding
    reconstructs badly get their coefficients re-picked by
    :func:`_refine_blocks`."""
    h, w = plane.shape
    by, bx = (h + 7) // 8, (w + 7) // 8
    padded = np.empty((by * 8, bx * 8), dtype=np.float64)
    padded[:h, :w] = plane
    padded[h:, :w] = plane[h - 1 : h, :]  # edge-replicate pad
    padded[:, w:] = padded[:, w - 1 : w]
    blocks = (
        padded.reshape(by, 8, bx, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
        - 128.0
    )
    coef = _A @ blocks @ _A.T  # batched over the leading block axis
    q = np.round(coef.reshape(-1, 64)[:, ZIGZAG] / quant).astype(np.int64)
    real = np.zeros((by * 8, bx * 8), dtype=bool)
    real[:h, :w] = True
    real = real.reshape(by, 8, bx, 8).transpose(0, 2, 1, 3).reshape(-1, 64)
    pixels = blocks.reshape(-1, 64)
    err = np.where(real, (q * quant) @ _BASIS_ZZ - pixels, 0.0)
    worse = ~real.all(axis=1) | (np.abs(err).max(axis=1) > _REFINE_ABOVE)
    if worse.any():
        q[worse] = _refine_blocks(q[worse], err[worse], real[worse], quant)
    nz = q != 0
    last_nz = np.where(
        nz.any(axis=1), 63 - np.argmax(nz[:, ::-1], axis=1), 0
    )
    return q.tolist(), last_nz.tolist()


# a block whose plain rounding leaves a real pixel further off than
# this (level units) gets its coefficients re-picked
_REFINE_ABOVE = 16.0
# the re-pick takes at most this many ±1 steps per block, scoring
# this many blocks per numpy batch (128 candidate error vectors each)
_REFINE_STEPS = 64
_REFINE_CHUNK = 512


def _refine_blocks(
    q: np.ndarray,
    err: np.ndarray,
    real: np.ndarray,
    quant: np.ndarray,
) -> np.ndarray:
    """Re-pick the quantized coefficients of blocks that plain
    rounding reconstructs badly: every edge block that hangs off the
    image, and any block with a pixel more than ``_REFINE_ABOVE``
    off. Edge-replicate padding makes a hanging block nearly
    constant, so its few real pixels carry detail spread over many
    small coefficients that all round the same way — their errors
    add up coherently on the real pixels (a 2×2 corner of noise
    came back 25 levels off). Rounding each coefficient on its own
    is not the closest lattice point in pixel space either, so a
    full block can still stack its errors on one pixel. Steepest
    descent over ±1 steps of single coefficients, per block, on
    (max, sum of squares) of the error over the real pixels only —
    pad pixels are discarded by the decoder, so they do not count.
    ``err`` is the current reconstruction error, zero on pad pixels.
    A block leaves the search once no step improves it or after
    ``_REFINE_STEPS`` steps. A block that already reconstructs
    exactly (a constant tile) has no improving step and is left
    untouched."""
    q = q.copy()
    err = err.copy()
    quant = np.asarray(quant, dtype=np.float64)
    step = _BASIS_ZZ * quant[:, None]
    moves = np.concatenate([step, -step])  # (128 moves, 64 pixels)

    def score(e: np.ndarray) -> np.ndarray:
        return np.abs(e).max(axis=-1) * 1e6 + (e * e).sum(axis=-1)

    cur = score(err)
    active = np.arange(len(q))
    for _ in range(_REFINE_STEPS):
        if not len(active):
            break
        moved = []
        for lo in range(0, len(active), _REFINE_CHUNK):
            idx = active[lo : lo + _REFINE_CHUNK]
            cand = np.where(
                real[idx, None, :], err[idx, None, :] + moves, 0.0
            )
            sc = score(cand)
            best = sc.argmin(axis=1)
            rows = np.arange(len(idx))
            better = sc[rows, best] < cur[idx] - 1e-6
            idx, rows, mv = idx[better], rows[better], best[better]
            q[idx, mv % 64] += np.where(mv < 64, 1, -1)
            err[idx] = cand[rows, mv]
            cur[idx] = sc[rows, mv]
            moved.append(idx)
        active = np.concatenate(moved)
    return q


# quant tables: DC step 8 makes constant blocks lossless (module
# docstring); AC step small enough for tight round-trip bounds.
GRAY_QUANT = np.array([8] + [16] * 63, dtype=np.int32)
COLOR_QUANT = np.array([8] + [16] * 63, dtype=np.int32)


def encode_jpeg_gray(
    img: np.ndarray,
    quant: np.ndarray = GRAY_QUANT,
    restart_interval: int = 0,
) -> bytes:
    """(h, w) uint8 -> baseline grayscale JPEG bytes.
    ``restart_interval`` > 0 emits a DRI segment and an RSTn marker
    every that many MCUs (single-component MCU = one block), with
    byte alignment and DC-predictor reset per T.81 F.1.2.3."""
    h, w = img.shape
    dc_codes = _canonical_codes(DC_LUM_BITS, DC_LUM_VALS)
    ac_codes = _canonical_codes(AC_LUM_BITS, AC_LUM_VALS)
    writer = _BitWriter()
    pred = 0
    qrows, lasts = _component_qcoefs(img.astype(np.float64), quant)
    rst = 0
    for blk, (q, last) in enumerate(zip(qrows, lasts)):
        if restart_interval and blk and blk % restart_interval == 0:
            writer.restart(rst)
            rst = (rst + 1) & 7
            pred = 0
        pred = _encode_block(writer, q, last, pred, dc_codes, ac_codes)
    out = bytearray(b"\xff\xd8")
    out += _quant_seg(0, quant)
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    out += b"\xff\xc0" + struct.pack(">HBHHB", 11, 8, h, w, 1)
    out += bytes([1, 0x11, 0])
    out += _dht_seg(0, 0, DC_LUM_BITS, DC_LUM_VALS)
    out += _dht_seg(1, 0, AC_LUM_BITS, AC_LUM_VALS)
    out += b"\xff\xda" + struct.pack(">HB", 8, 1) + bytes([1, 0x00, 0, 63, 0])
    out += writer.flush()
    out += b"\xff\xd9"
    return bytes(out)


def encode_jpeg_rgb(
    img: np.ndarray,
    quant: np.ndarray = COLOR_QUANT,
    restart_interval: int = 0,
) -> bytes:
    """(h, w, 3) uint8 RGB -> baseline 4:4:4 YCbCr JPEG bytes."""
    h, w, _ = img.shape
    rgb = img.astype(np.float64)
    r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    planes = [np.round(p) for p in (y, cb, cr)]
    tabs = [
        (_canonical_codes(DC_LUM_BITS, DC_LUM_VALS),
         _canonical_codes(AC_LUM_BITS, AC_LUM_VALS)),
        (_canonical_codes(DC_CHR_BITS, DC_CHR_VALS),
         _canonical_codes(AC_CHR_BITS, AC_CHR_VALS)),
        (_canonical_codes(DC_CHR_BITS, DC_CHR_VALS),
         _canonical_codes(AC_CHR_BITS, AC_CHR_VALS)),
    ]
    comp = [_component_qcoefs(p, quant) for p in planes]
    writer = _BitWriter()
    preds = [0, 0, 0]
    by, bx = (h + 7) // 8, (w + 7) // 8
    rst = 0
    for blk in range(by * bx):
        if restart_interval and blk and blk % restart_interval == 0:
            writer.restart(rst)
            rst = (rst + 1) & 7
            preds = [0, 0, 0]
        for ci in range(3):
            qrows, lasts = comp[ci]
            preds[ci] = _encode_block(
                writer, qrows[blk], lasts[blk], preds[ci], *tabs[ci]
            )
    out = bytearray(b"\xff\xd8")
    out += _quant_seg(0, quant)
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    out += b"\xff\xc0" + struct.pack(">HBHHB", 8 + 9, 8, h, w, 3)
    for cid in (1, 2, 3):
        out += bytes([cid, 0x11, 0])
    out += _dht_seg(0, 0, DC_LUM_BITS, DC_LUM_VALS)
    out += _dht_seg(1, 0, AC_LUM_BITS, AC_LUM_VALS)
    out += _dht_seg(0, 1, DC_CHR_BITS, DC_CHR_VALS)
    out += _dht_seg(1, 1, AC_CHR_BITS, AC_CHR_VALS)
    out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * 3, 3)
    out += bytes([1, 0x00])
    out += bytes([2, 0x11])
    out += bytes([3, 0x11])
    out += bytes([0, 63, 0])
    out += writer.flush()
    out += b"\xff\xd9"
    return bytes(out)


def encode_jpeg_rgb_subsampled(
    img: np.ndarray,
    sampling: tuple[int, int] = (2, 2),
    quant: np.ndarray = COLOR_QUANT,
    restart_interval: int = 0,
) -> bytes:
    """(h, w, 3) uint8 RGB -> baseline chroma-subsampled YCbCr JPEG.
    ``sampling`` = luma (Hi, Vi): (2, 2) = 4:2:0, (2, 1) = 4:2:2;
    chroma rides at 1×1. Chroma is BOX-AVERAGE downsampled after
    edge-replicate padding to the MCU grid, so a region whose chroma
    is constant per chroma block encodes exactly — the decode-side
    exactness carve-out's chroma half."""
    sh, sv = sampling
    if (sh, sv) not in ((2, 2), (2, 1), (1, 2)):
        raise ValueError(f"unsupported sampling {sampling}")
    h, w, _ = img.shape
    rgb = img.astype(np.float64)
    r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    mh, mw = 8 * sv, 8 * sh
    H, W = -(-h // mh) * mh, -(-w // mw) * mw

    def pad(p: np.ndarray) -> np.ndarray:
        out = np.empty((H, W), dtype=np.float64)
        out[:h, :w] = p
        out[h:, :w] = p[h - 1 : h, :]
        out[:, w:] = out[:, w - 1 : w]
        return out

    def down(p: np.ndarray) -> np.ndarray:
        return p.reshape(H // sv, sv, W // sh, sh).mean(axis=(1, 3))

    yp = np.round(pad(y))
    cbd = np.round(down(pad(cb)))
    crd = np.round(down(pad(cr)))
    tabs = [
        (_canonical_codes(DC_LUM_BITS, DC_LUM_VALS),
         _canonical_codes(AC_LUM_BITS, AC_LUM_VALS)),
        (_canonical_codes(DC_CHR_BITS, DC_CHR_VALS),
         _canonical_codes(AC_CHR_BITS, AC_CHR_VALS)),
        (_canonical_codes(DC_CHR_BITS, DC_CHR_VALS),
         _canonical_codes(AC_CHR_BITS, AC_CHR_VALS)),
    ]
    comp = [_component_qcoefs(p, quant) for p in (yp, cbd, crd)]
    writer = _BitWriter()
    preds = [0, 0, 0]
    mcux, mcuy = W // mw, H // mh
    ybx = W // 8  # luma blocks across
    cbx = W // (8 * sh)  # chroma blocks across
    mcu = 0
    rst = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu and mcu % restart_interval == 0:
                writer.restart(rst)
                rst = (rst + 1) & 7
                preds = [0, 0, 0]
            mcu += 1
            qrows, lasts = comp[0]
            for v in range(sv):
                for hh in range(sh):
                    blk = (my * sv + v) * ybx + (mx * sh + hh)
                    preds[0] = _encode_block(
                        writer, qrows[blk], lasts[blk], preds[0],
                        *tabs[0],
                    )
            for ci in (1, 2):
                qrows, lasts = comp[ci]
                blk = my * cbx + mx
                preds[ci] = _encode_block(
                    writer, qrows[blk], lasts[blk], preds[ci],
                    *tabs[ci],
                )
    out = bytearray(b"\xff\xd8")
    out += _quant_seg(0, quant)
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    out += b"\xff\xc0" + struct.pack(">HBHHB", 8 + 9, 8, h, w, 3)
    out += bytes([1, (sh << 4) | sv, 0])
    out += bytes([2, 0x11, 0])
    out += bytes([3, 0x11, 0])
    out += _dht_seg(0, 0, DC_LUM_BITS, DC_LUM_VALS)
    out += _dht_seg(1, 0, AC_LUM_BITS, AC_LUM_VALS)
    out += _dht_seg(0, 1, DC_CHR_BITS, DC_CHR_VALS)
    out += _dht_seg(1, 1, AC_CHR_BITS, AC_CHR_VALS)
    out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * 3, 3)
    out += bytes([1, 0x00])
    out += bytes([2, 0x11])
    out += bytes([3, 0x11])
    out += bytes([0, 63, 0])
    out += writer.flush()
    out += b"\xff\xd9"
    return bytes(out)


# ------------------ progressive encoder (T.81 Annex G) ----------------


def _sos_seg(comps, ss, se, ah, al) -> bytes:
    out = b"\xff\xda" + struct.pack(">HB", 6 + 2 * len(comps), len(comps))
    for cid, td, ta in comps:
        out += bytes([cid, (td << 4) | ta])
    out += bytes([ss, se, (ah << 4) | al])
    return out


def _enc_dc_first(writer, comp_qrows, al, comp_dc_codes) -> None:
    """DC first scan, interleaved over components (MCU = one block
    per component at 1×1): encode diffs of the point-transformed
    (arithmetic >> Al) DC values."""
    preds = [0] * len(comp_qrows)
    nb = len(comp_qrows[0])
    for mcu in range(nb):
        for ci, qrows in enumerate(comp_qrows):
            t = qrows[mcu][0] >> al
            diff = t - preds[ci]
            preds[ci] = t
            s = _category(diff)
            code, ln = comp_dc_codes[ci][s]
            writer.put(code, ln)
            if s:
                writer.put(diff if diff > 0 else diff + (1 << s) - 1, s)


def _enc_dc_refine(writer, comp_qrows, al) -> None:
    """DC refinement: bit Al of each block's DC, raw (no Huffman)."""
    nb = len(comp_qrows[0])
    for mcu in range(nb):
        for qrows in comp_qrows:
            writer.put((qrows[mcu][0] >> al) & 1, 1)


def _enc_ac_first(writer, qrows, ss, se, al, ac_codes) -> None:
    """AC first scan for one component's band: run-length encode the
    point-transformed (magnitude >> Al, sign reapplied) band with
    EOB-runs accumulated across all-zero tails/blocks."""
    eobrun = 0

    def flush_eob():
        nonlocal eobrun
        if eobrun:
            nbits = eobrun.bit_length() - 1
            code, ln = ac_codes[nbits << 4]
            writer.put(code, ln)
            if nbits:
                writer.put(eobrun & ((1 << nbits) - 1), nbits)
            eobrun = 0

    for blk in qrows:
        r = 0
        for k in range(ss, se + 1):
            v = blk[k]
            t = abs(v) >> al
            if t == 0:
                r += 1
                continue
            flush_eob()
            while r > 15:
                code, ln = ac_codes[0xF0]
                writer.put(code, ln)
                r -= 16
            s = t.bit_length()
            tv = t if v > 0 else -t
            code, ln = ac_codes[(r << 4) | s]
            writer.put(code, ln)
            writer.put(tv if tv > 0 else tv + (1 << s) - 1, s)
            r = 0
        if r:
            eobrun += 1
            if eobrun == 0x7FFF:  # 14-bit EOB-run symbol ceiling
                flush_eob()
    flush_eob()


def _enc_ac_refine(writer, qrows, ss, se, al, ac_codes) -> None:
    """AC refinement for one component's band — the jcphuff ordering
    rules: correction bits for history coefficients are buffered per
    run segment and emitted after the run's symbol; ZRLs are not
    emitted past the last newly-significant index (those runs fold
    into the EOB-run, whose buffered bits ride with it)."""
    eobrun = 0
    eob_bits: list[int] = []

    def flush_eob():
        nonlocal eobrun, eob_bits
        if eobrun:
            nbits = eobrun.bit_length() - 1
            code, ln = ac_codes[nbits << 4]
            writer.put(code, ln)
            if nbits:
                writer.put(eobrun & ((1 << nbits) - 1), nbits)
            for b in eob_bits:
                writer.put(b, 1)
            eobrun = 0
            eob_bits = []

    for blk in qrows:
        absv = [abs(blk[k]) >> al for k in range(ss, se + 1)]
        eob_idx = -1  # last newly-significant position in the band
        for j, t in enumerate(absv):
            if t == 1:
                eob_idx = j
        r = 0
        run_bits: list[int] = []
        for j, t in enumerate(absv):
            if t == 0:
                r += 1
                continue
            if r > 15 and j <= eob_idx:
                flush_eob()
                while r > 15:
                    code, ln = ac_codes[0xF0]
                    writer.put(code, ln)
                    r -= 16
                    for b in run_bits:
                        writer.put(b, 1)
                    run_bits = []
            if t > 1:  # already significant: one correction bit
                run_bits.append(t & 1)
                continue
            # newly significant (t == 1)
            flush_eob()
            code, ln = ac_codes[(r << 4) | 1]
            writer.put(code, ln)
            writer.put(1 if blk[ss + j] > 0 else 0, 1)
            for b in run_bits:
                writer.put(b, 1)
            run_bits = []
            r = 0
        if r > 0 or run_bits:
            eobrun += 1
            eob_bits.extend(run_bits)
            if eobrun == 0x7FFF or len(eob_bits) > 900:
                flush_eob()
    flush_eob()


def encode_jpeg_gray_progressive(
    img: np.ndarray, quant: np.ndarray = GRAY_QUANT
) -> bytes:
    """(h, w) uint8 -> progressive (SOF2) grayscale JPEG bytes. Scan
    script exercises all four Annex G kernels: DC first (Al=1) → AC
    first 1..63 (Al=1) → DC refine → AC refine. Quantized
    coefficients are identical to :func:`encode_jpeg_gray`, so the
    decode is pixel-identical to the baseline encode by
    construction."""
    h, w = img.shape
    qrows, _ = _component_qcoefs(img.astype(np.float64), quant)
    dc_codes = _canonical_codes(DC_LUM_BITS, DC_LUM_VALS)
    ac_codes = _canonical_codes(AC_PROG_BITS, AC_PROG_VALS)
    out = bytearray(b"\xff\xd8")
    out += _quant_seg(0, quant)
    out += b"\xff\xc2" + struct.pack(">HBHHB", 11, 8, h, w, 1)
    out += bytes([1, 0x11, 0])
    out += _dht_seg(0, 0, DC_LUM_BITS, DC_LUM_VALS)
    out += _dht_seg(1, 0, AC_PROG_BITS, AC_PROG_VALS)
    for ss, se, ah, al, enc in (
        (0, 0, 0, 1, lambda wr: _enc_dc_first(wr, [qrows], 1, [dc_codes])),
        (1, 63, 0, 1, lambda wr: _enc_ac_first(wr, qrows, 1, 63, 1, ac_codes)),
        (0, 0, 1, 0, lambda wr: _enc_dc_refine(wr, [qrows], 0)),
        (1, 63, 1, 0, lambda wr: _enc_ac_refine(wr, qrows, 1, 63, 0, ac_codes)),
    ):
        wtr = _BitWriter()
        enc(wtr)
        out += _sos_seg([(1, 0, 0)], ss, se, ah, al) + wtr.flush()
    out += b"\xff\xd9"
    return bytes(out)


def encode_jpeg_rgb_progressive(
    img: np.ndarray, quant: np.ndarray = COLOR_QUANT
) -> bytes:
    """(h, w, 3) uint8 RGB -> progressive (SOF2) 4:4:4 YCbCr JPEG
    bytes. DC scans interleave all three components; AC scans are
    per-component (progressive syntax requires it). Same quantized
    coefficients as :func:`encode_jpeg_rgb` ⇒ pixel-identical
    decode."""
    h, w, _ = img.shape
    rgb = img.astype(np.float64)
    r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    comp_qrows = [
        _component_qcoefs(np.round(p), quant)[0] for p in (y, cb, cr)
    ]
    dc_lum = _canonical_codes(DC_LUM_BITS, DC_LUM_VALS)
    dc_chr = _canonical_codes(DC_CHR_BITS, DC_CHR_VALS)
    ac_codes = _canonical_codes(AC_PROG_BITS, AC_PROG_VALS)
    out = bytearray(b"\xff\xd8")
    out += _quant_seg(0, quant)
    out += b"\xff\xc2" + struct.pack(">HBHHB", 8 + 9, 8, h, w, 3)
    for cid in (1, 2, 3):
        out += bytes([cid, 0x11, 0])
    out += _dht_seg(0, 0, DC_LUM_BITS, DC_LUM_VALS)
    out += _dht_seg(0, 1, DC_CHR_BITS, DC_CHR_VALS)
    out += _dht_seg(1, 0, AC_PROG_BITS, AC_PROG_VALS)
    all_comps = [(1, 0, 0), (2, 1, 0), (3, 1, 0)]
    # DC first (interleaved), then AC first per component, Al=1
    wtr = _BitWriter()
    _enc_dc_first(wtr, comp_qrows, 1, [dc_lum, dc_chr, dc_chr])
    out += _sos_seg(all_comps, 0, 0, 0, 1) + wtr.flush()
    for ci, spec in enumerate(all_comps):
        wtr = _BitWriter()
        _enc_ac_first(wtr, comp_qrows[ci], 1, 63, 1, ac_codes)
        out += _sos_seg([spec], 1, 63, 0, 1) + wtr.flush()
    # DC refine (interleaved), then AC refine per component
    wtr = _BitWriter()
    _enc_dc_refine(wtr, comp_qrows, 0)
    out += _sos_seg(all_comps, 0, 0, 1, 0) + wtr.flush()
    for ci, spec in enumerate(all_comps):
        wtr = _BitWriter()
        _enc_ac_refine(wtr, comp_qrows[ci], 1, 63, 0, ac_codes)
        out += _sos_seg([spec], 1, 63, 1, 0) + wtr.flush()
    out += b"\xff\xd9"
    return bytes(out)


def _enc_dc_first_mcu(
    writer, comp_qrows, samp, mcux, mcuy, al, comp_dc_codes
) -> None:
    """DC first scan interleaved at mixed sampling: hi×vi blocks per
    component per MCU over the MCU-padded grids (pad blocks ARE
    coded — T.81 A.2.3 — which is exactly why the decoder must
    consume and discard them)."""
    preds = [0] * len(comp_qrows)
    for my in range(mcuy):
        for mx in range(mcux):
            for ci, qrows in enumerate(comp_qrows):
                sh, sv = samp[ci]
                cols = mcux * sh
                for vy in range(sv):
                    for vx in range(sh):
                        blk = (my * sv + vy) * cols + (mx * sh + vx)
                        t = qrows[blk][0] >> al
                        diff = t - preds[ci]
                        preds[ci] = t
                        s = _category(diff)
                        code, ln = comp_dc_codes[ci][s]
                        writer.put(code, ln)
                        if s:
                            writer.put(
                                diff if diff > 0 else diff + (1 << s) - 1,
                                s,
                            )


def _enc_dc_refine_mcu(writer, comp_qrows, samp, mcux, mcuy, al) -> None:
    """DC refinement at mixed sampling — same MCU walk, one raw bit
    per (padded-grid) block."""
    for my in range(mcuy):
        for mx in range(mcux):
            for ci, qrows in enumerate(comp_qrows):
                sh, sv = samp[ci]
                cols = mcux * sh
                for vy in range(sv):
                    for vx in range(sh):
                        blk = (my * sv + vy) * cols + (mx * sh + vx)
                        writer.put((qrows[blk][0] >> al) & 1, 1)


def encode_jpeg_rgb_progressive_subsampled(
    img: np.ndarray,
    sampling: tuple[int, int] = (2, 2),
    quant: np.ndarray = COLOR_QUANT,
) -> bytes:
    """(h, w, 3) uint8 RGB -> progressive (SOF2) chroma-subsampled
    YCbCr JPEG — the r14 composition of the two r13 kernels: the
    subsampled plane prep/geometry of
    :func:`encode_jpeg_rgb_subsampled` with the 4-kernel Annex G
    scan script of :func:`encode_jpeg_rgb_progressive`. DC scans
    interleave all components over the MCU-PADDED grids; AC scans
    are per-component over each component's TRUE grid (the
    non-interleaved rule, A.2.2). Quantized coefficients are
    identical to the baseline subsampled encode, so the decode is
    pixel-identical by construction (the round-trip pin in
    tests/test_jpeg.py)."""
    sh, sv = sampling
    if (sh, sv) not in ((2, 2), (2, 1), (1, 2)):
        raise ValueError(f"unsupported sampling {sampling}")
    h, w, _ = img.shape
    rgb = img.astype(np.float64)
    r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    mh, mw = 8 * sv, 8 * sh
    H, W = -(-h // mh) * mh, -(-w // mw) * mw

    def pad(p: np.ndarray) -> np.ndarray:
        out = np.empty((H, W), dtype=np.float64)
        out[:h, :w] = p
        out[h:, :w] = p[h - 1 : h, :]
        out[:, w:] = out[:, w - 1 : w]
        return out

    def down(p: np.ndarray) -> np.ndarray:
        return p.reshape(H // sv, sv, W // sh, sh).mean(axis=(1, 3))

    planes = [
        np.round(pad(y)),
        np.round(down(pad(cb))),
        np.round(down(pad(cr))),
    ]
    comp_qrows = [_component_qcoefs(p, quant)[0] for p in planes]
    samp = [(sh, sv), (1, 1), (1, 1)]
    mcux, mcuy = W // mw, H // mh
    # per-component TRUE grids for the non-interleaved AC scans
    true_qrows = []
    for ci in range(3):
        hi, vi = samp[ci]
        ch = -(-h * vi // sv)
        cw = -(-w * hi // sh)
        rows_c, cols_c = (ch + 7) // 8, (cw + 7) // 8
        padded_cols = mcux * hi
        true_qrows.append(
            [
                comp_qrows[ci][rr * padded_cols + cc]
                for rr in range(rows_c)
                for cc in range(cols_c)
            ]
        )
    dc_lum = _canonical_codes(DC_LUM_BITS, DC_LUM_VALS)
    dc_chr = _canonical_codes(DC_CHR_BITS, DC_CHR_VALS)
    ac_codes = _canonical_codes(AC_PROG_BITS, AC_PROG_VALS)
    out = bytearray(b"\xff\xd8")
    out += _quant_seg(0, quant)
    out += b"\xff\xc2" + struct.pack(">HBHHB", 8 + 9, 8, h, w, 3)
    out += bytes([1, (sh << 4) | sv, 0])
    out += bytes([2, 0x11, 0])
    out += bytes([3, 0x11, 0])
    out += _dht_seg(0, 0, DC_LUM_BITS, DC_LUM_VALS)
    out += _dht_seg(0, 1, DC_CHR_BITS, DC_CHR_VALS)
    out += _dht_seg(1, 0, AC_PROG_BITS, AC_PROG_VALS)
    all_comps = [(1, 0, 0), (2, 1, 0), (3, 1, 0)]
    wtr = _BitWriter()
    _enc_dc_first_mcu(
        wtr, comp_qrows, samp, mcux, mcuy, 1, [dc_lum, dc_chr, dc_chr]
    )
    out += _sos_seg(all_comps, 0, 0, 0, 1) + wtr.flush()
    for ci, spec in enumerate(all_comps):
        wtr = _BitWriter()
        _enc_ac_first(wtr, true_qrows[ci], 1, 63, 1, ac_codes)
        out += _sos_seg([spec], 1, 63, 0, 1) + wtr.flush()
    wtr = _BitWriter()
    _enc_dc_refine_mcu(wtr, comp_qrows, samp, mcux, mcuy, 0)
    out += _sos_seg(all_comps, 0, 0, 1, 0) + wtr.flush()
    for ci, spec in enumerate(all_comps):
        wtr = _BitWriter()
        _enc_ac_refine(wtr, true_qrows[ci], 1, 63, 0, ac_codes)
        out += _sos_seg([spec], 1, 63, 1, 0) + wtr.flush()
    out += b"\xff\xd9"
    return bytes(out)
