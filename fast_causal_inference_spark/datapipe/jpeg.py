"""JPEG codec in pure Python/numpy — no PIL/cv2/libjpeg.

Scope (ITU-T T.81 interchange format):

* **decode**: baseline sequential DCT (SOF0/SOF1) AND **progressive DCT
  (SOF2)** — spectral selection plus successive approximation (DC
  first/refinement, AC first/refinement with EOB runs), interleaved DC
  scans, non-interleaved AC block rasters — 8-bit, grayscale or YCbCr
  with any sampling factors expressible in the MCU grid (4:4:4, 4:2:0,
  4:2:2, …), multiple DQT/DHT segments, byte stuffing, DRI/RSTn restart
  intervals.  Arithmetic coding, hierarchical and 12-bit inputs raise
  ``NotImplementedError``.
* **encode**: baseline (or ``progressive=True`` — the four-stage scan
  script over the SAME quantized coefficients, which is also the
  decoder's validation identity: both streams must decode to identical
  pixels), 4:4:4/4:2:0 or grayscale, Annex-K example quantization
  tables (scaled by ``quality``) and the Annex-K typical Huffman
  tables — real, spec-conformant files for the decoder and any
  external viewer.

Per-pixel work is numpy (the 8×8 IDCT/FDCT are single GEMMs against the
DCT-II basis); only the entropy coding walks blocks in Python, which is
the right trade at gate-image sizes and is Arrow-batch-parallel across
rows when driven from ``multimodal.image_*`` (one Python worker decodes
many small images per batch).

Reference behavior target: the reference engine has no media codecs at
all (its ``src/`` is OLAP UDAFs); this module exists for the
training-data multimodal pipeline, where JPEG dominates any real web
corpus (SURVEY.md §2 LLM-pipeline addendum).
"""

from __future__ import annotations

import struct
from collections.abc import Mapping
from types import MappingProxyType

import numpy as np

# ---------------------------------------------------------------------------
# constants (ITU-T T.81 Annex K)
# ---------------------------------------------------------------------------

ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int32)

# Annex K.1 luminance / K.2 chrominance example quantization tables
QT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99], dtype=np.int32)
QT_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99], dtype=np.int32)

# Annex K.3 typical Huffman tables: (bits[1..16], huffval)
HT_DC_LUMA = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
              list(range(12)))
HT_DC_CHROMA = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
                list(range(12)))
HT_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
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
     0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA])
HT_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
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
     0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA])

# DCT-II basis: IDCT is  block = C.T @ coef @ C  with this C
_C = np.zeros((8, 8))
for _k in range(8):
    for _n in range(8):
        _C[_k, _n] = (np.sqrt((1 if _k == 0 else 2) / 8.0)
                      * np.cos((2 * _n + 1) * _k * np.pi / 16.0))


def _idct2(coef: np.ndarray) -> np.ndarray:
    return _C.T @ coef @ _C


def _fdct2(block: np.ndarray) -> np.ndarray:
    return _C @ block @ _C.T


# ---------------------------------------------------------------------------
# Huffman machinery
# ---------------------------------------------------------------------------


def _build_decode_table(bits: list[int], huffval: list[int]) -> Mapping:
    """(length, code) → symbol, from the BITS/HUFFVAL spec encoding.

    Memoized on the spec bytes: the Annex-K tables recur on every
    encode/decode call (and most real streams carry the same four DHT
    segments), so rebuilding the dict per call was a measured hot spot
    of the per-doc codec profile.  The memo is bounded and hands out
    read-only views, so a stream of distinct DHT specs cannot grow it
    and no caller can corrupt a shared table."""
    key = (bytes(bits), bytes(huffval))
    table = _DECODE_TABLE_MEMO.get(key)
    if table is not None:
        return table
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = huffval[k]
            code += 1
            k += 1
        code <<= 1
    return _memoize(_DECODE_TABLE_MEMO, key, table)


# plain dicts, not functools.lru_cache: the codec ships to executors by
# value, and an lru_cache wrapper pickles by reference to this module
_HUFF_MEMO_MAX = 64
_DECODE_TABLE_MEMO: dict = {}
_ENCODE_TABLE_MEMO: dict = {}


def _memoize(memo: dict, key, table: dict) -> Mapping:
    if len(memo) >= _HUFF_MEMO_MAX:
        memo.pop(next(iter(memo)))          # evict the oldest spec
    view = memo[key] = MappingProxyType(table)
    return view


def _build_encode_table(bits: list[int], huffval: list[int]) -> Mapping:
    key = (bytes(bits), bytes(huffval))
    table = _ENCODE_TABLE_MEMO.get(key)
    if table is None:
        table = _memoize(_ENCODE_TABLE_MEMO, key, {
            sym: (length, code) for (length, code), sym
            in _build_decode_table(bits, huffval).items()})
    return table


class _BitReader:
    """MSB-first reader over the entropy-coded segment with 0xFF00
    unstuffing; stops at any non-RST marker."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.buf = 0
        self.nbits = 0
        self.marker: int | None = None

    def _fill(self):
        while self.nbits <= 24:
            if self.pos >= len(self.data):
                self.buf = (self.buf << 8) | 0
                self.nbits += 8
                continue
            b = self.data[self.pos]
            if b == 0xFF:
                nxt = self.data[self.pos + 1] if self.pos + 1 < len(self.data) else 0xD9
                if nxt == 0x00:
                    self.pos += 2
                elif 0xD0 <= nxt <= 0xD7:
                    # restart marker: caller resyncs via read_restart()
                    self.marker = nxt
                    self.buf = (self.buf << 8) | 0
                    self.nbits += 8
                    continue
                else:
                    self.marker = nxt
                    self.buf = (self.buf << 8) | 0
                    self.nbits += 8
                    continue
            else:
                self.pos += 1
            self.buf = (self.buf << 8) | b
            self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.buf >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def decode_symbol(self, table: dict) -> int:
        length = 0
        code = 0
        while length < 16:
            code = (code << 1) | self.read_bit()
            length += 1
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid JPEG Huffman code")

    def restart(self):
        """Resync at a RSTn marker: drop partial bits, skip the marker."""
        self.buf = 0
        self.nbits = 0
        self.marker = None
        # scan forward to the RSTn (we may have buffered past it)
        while self.pos + 1 < len(self.data):
            if (self.data[self.pos] == 0xFF
                    and 0xD0 <= self.data[self.pos + 1] <= 0xD7):
                self.pos += 2
                return
            self.pos += 1
        raise ValueError("expected JPEG restart marker")


def _extend(v: int, t: int) -> int:
    """EXTEND (F.2.2.1): map t-bit magnitude to signed value."""
    return v - (1 << t) + 1 if t and v < (1 << (t - 1)) else v


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------


def decode_jpeg(payload: bytes) -> np.ndarray:
    """Decode a baseline-sequential (SOF0/SOF1) **or progressive (SOF2)**
    JPEG into an (h, w, 3) uint8 RGB array (grayscale replicated to 3
    channels).  Progressive decode covers spectral selection AND
    successive approximation: DC first/refinement, AC first/refinement
    with EOB runs, interleaved DC scans, non-interleaved AC block
    rasters, and restart markers within every scan kind."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff_dc: dict[int, dict] = {}
    huff_ac: dict[int, dict] = {}
    frame = None
    restart_interval = 0
    coef_state: dict[int, np.ndarray] | None = None
    n = len(payload)
    scans_decoded = 0
    eoi_seen = False
    while pos + 2 <= n:
        if payload[pos] != 0xFF:
            pos += 1
            continue
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xD9:                       # EOI
            eoi_seen = True
            break
        if marker in (0x01,) or 0xD0 <= marker <= 0xD8:
            continue
        if pos + 2 > n:                          # truncated mid-header
            break
        (seglen,) = struct.unpack_from(">H", payload, pos)
        if pos + seglen > n:
            raise ValueError("truncated JPEG: segment exceeds payload")
        seg = payload[pos + 2:pos + seglen]
        body_start = pos + 2
        pos += seglen
        if marker == 0xDB:                       # DQT
            off = 0
            while off < len(seg):
                pq, tq = seg[off] >> 4, seg[off] & 0x0F
                off += 1
                if pq != 0:
                    raise NotImplementedError("16-bit JPEG quant tables")
                qt[tq] = np.frombuffer(seg, np.uint8, 64, off).astype(np.int32)
                off += 64
        elif marker == 0xC4:                     # DHT
            off = 0
            while off < len(seg):
                tc, th = seg[off] >> 4, seg[off] & 0x0F
                off += 1
                bits = list(seg[off:off + 16])
                off += 16
                cnt = sum(bits)
                vals = list(seg[off:off + cnt])
                off += cnt
                tab = _build_decode_table(bits, vals)
                (huff_dc if tc == 0 else huff_ac)[th] = tab
        elif marker in (0xC0, 0xC1, 0xC2):       # SOF0/1 baseline, SOF2 prog
            prec, h, w, nc = struct.unpack_from(">BHHB", seg, 0)
            if prec != 8:
                raise NotImplementedError(f"JPEG precision {prec}")
            comps = []
            for i in range(nc):
                cid, samp, tq = struct.unpack_from(">BBB", seg, 6 + 3 * i)
                comps.append({"id": cid, "h": samp >> 4, "v": samp & 0x0F,
                              "tq": tq})
            frame = {"h": h, "w": w, "comps": comps,
                     "progressive": marker == 0xC2}
            if marker == 0xC2:
                hmax = max(c["h"] for c in comps)
                vmax = max(c["v"] for c in comps)
                mcux = -(-w // (8 * hmax))
                mcuy = -(-h // (8 * vmax))
                coef_state = {}
                for c in comps:
                    c["bw"] = mcux * c["h"]      # MCU-padded block grid
                    c["bh"] = mcuy * c["v"]
                    # blocks the NON-interleaved scans actually cover
                    c["nbw"] = -(-(-(-w * c["h"] // hmax)) // 8)
                    c["nbh"] = -(-(-(-h * c["v"] // vmax)) // 8)
                    coef_state[c["id"]] = np.zeros(
                        (c["bh"], c["bw"], 64), dtype=np.int32)
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                "only baseline (SOF0/SOF1) and progressive (SOF2) "
                "JPEG supported")
        elif marker == 0xDD:                     # DRI
            (restart_interval,) = struct.unpack_from(">H", seg, 0)
        elif marker == 0xDA:                     # SOS → entropy data follows
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            ns = seg[0]
            scomp = []
            for i in range(ns):
                cs, tt = seg[1 + 2 * i], seg[2 + 2 * i]
                scomp.append({"cs": cs, "td": tt >> 4, "ta": tt & 0x0F})
            data_start = body_start + seglen - 2
            if not frame["progressive"]:
                return _decode_scan(payload, data_start, frame, scomp, qt,
                                    huff_dc, huff_ac, restart_interval)
            ss, se, ahal = seg[1 + 2 * ns], seg[2 + 2 * ns], seg[3 + 2 * ns]
            pos = _decode_progressive_scan(
                payload, data_start, frame, scomp, ss, se,
                ahal >> 4, ahal & 0x0F, huff_dc, huff_ac,
                restart_interval, coef_state)
            scans_decoded += 1
    if frame is not None and frame.get("progressive"):
        # Codec contract (same as FLAC/GIF): corrupt payloads raise,
        # never silently-wrong pixels.  A SOF2 stream with no SOS scan
        # would assemble to all-gray; one cut before EOI would assemble
        # partial coefficient state.  Both are corruption, not images.
        if scans_decoded == 0:
            raise ValueError("JPEG missing SOS segment")
        if not eoi_seen:
            raise ValueError("truncated progressive JPEG: no EOI marker")
        return _assemble_progressive(frame, coef_state, qt)
    raise ValueError("JPEG missing SOS segment")


def _next_marker_pos(payload: bytes, pos: int) -> int:
    """Byte position of the next non-stuffing, non-restart marker at or
    after ``pos`` (the resume point after a progressive scan's entropy
    data)."""
    n = len(payload)
    while pos + 1 < n:
        if payload[pos] == 0xFF:
            nxt = payload[pos + 1]
            if nxt != 0x00 and not (0xD0 <= nxt <= 0xD7):
                return pos
            pos += 2
            continue
        pos += 1
    return n


def _decode_progressive_scan(payload, pos, frame, scomp, ss, se, ah, al,
                             huff_dc, huff_ac, restart_interval,
                             state):
    """One progressive scan pass over the coefficient store (T.81 §G.2);
    returns the payload position of the next marker."""
    comps = frame["comps"]
    by_id = {c["id"]: c for c in comps}
    order = [by_id[s["cs"]] for s in scomp]
    for c, s in zip(order, scomp):
        c["td"], c["ta"] = s["td"], s["ta"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-frame["w"] // (8 * hmax))
    mcuy = -(-frame["h"] // (8 * vmax))
    rdr = _BitReader(payload, pos)
    if ss == 0:
        if se != 0:
            raise ValueError("progressive DC scan must have Se = 0")
        # DC scan — interleaved over MCUs when multiple components
        if ah == 0:
            for c in order:
                c["pred"] = 0
        # T.81 §A.2: a scan with Ns == 1 is ALWAYS non-interleaved (one
        # data unit per MCU, raster over the component's own ceil(dim/8)
        # block grid) — even in a single-component frame whose lone
        # component declares sampling factors > 1.  Only Ns > 1 scans
        # walk the MCU-padded interleaved grid.
        unit = 0
        if len(order) > 1:
            for my in range(mcuy):
                for mx in range(mcux):
                    if restart_interval and unit and \
                            unit % restart_interval == 0:
                        rdr.restart()
                        for c in order:
                            c["pred"] = 0
                    unit += 1
                    for c in order:
                        for v in range(c["v"]):
                            for hh in range(c["h"]):
                                zz = state[c["id"]][my * c["v"] + v,
                                                    mx * c["h"] + hh]
                                _dc_unit(rdr, c, zz, ah, al, huff_dc)
        else:
            c = order[0]
            for by in range(c["nbh"]):
                for bx in range(c["nbw"]):
                    if restart_interval and unit and \
                            unit % restart_interval == 0:
                        rdr.restart()
                        c["pred"] = 0
                    unit += 1
                    _dc_unit(rdr, c, state[c["id"]][by, bx], ah, al,
                             huff_dc)
    else:
        if len(order) != 1:
            raise ValueError("progressive AC scan must be single-component")
        c = order[0]
        tab = huff_ac[c["ta"]]
        eobrun = 0
        unit = 0
        for by in range(c["nbh"]):
            for bx in range(c["nbw"]):
                if restart_interval and unit and \
                        unit % restart_interval == 0:
                    rdr.restart()
                    eobrun = 0
                unit += 1
                zz = state[c["id"]][by, bx]
                if ah == 0:
                    eobrun = _ac_first(rdr, zz, ss, se, al, tab, eobrun)
                else:
                    eobrun = _ac_refine(rdr, zz, ss, se, al, tab, eobrun)
    return _next_marker_pos(payload, rdr.pos)


def _dc_unit(rdr, c, zz, ah, al, huff_dc):
    if ah == 0:
        t = rdr.decode_symbol(huff_dc[c["td"]])
        diff = _extend(rdr.read_bits(t), t) if t else 0
        c["pred"] += diff
        zz[0] = c["pred"] << al
    else:
        if rdr.read_bit():
            zz[0] |= (1 << al)


def _ac_first(rdr, zz, ss, se, al, tab, eobrun):
    """AC first pass (Ah = 0): standard RLE with EOB runs (§G.2.2)."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = rdr.decode_symbol(tab)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r == 15:
                k += 16
                continue
            eobrun = (1 << r) - 1
            if r:
                eobrun += rdr.read_bits(r)
            return eobrun
        k += r
        if k > se:
            raise ValueError("JPEG progressive AC index overflow")
        zz[k] = _extend(rdr.read_bits(s), s) << al
        k += 1
    return 0


def _ac_refine(rdr, zz, ss, se, al, tab, eobrun):
    """AC refinement pass (Ah > 0): correction bits for already-nonzero
    coefficients plus newly-significant ±1<<Al insertions (§G.2.3;
    the libjpeg decode_mcu_AC_refine control flow)."""
    p1 = 1 << al
    m1 = -1 << al
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = rdr.decode_symbol(tab)
            r, s = rs >> 4, rs & 0x0F
            newval = 0
            if s == 0:
                if r != 15:
                    eobrun = (1 << r)
                    if r:
                        eobrun += rdr.read_bits(r)
                    break
            else:
                if s != 1:
                    raise ValueError(
                        "JPEG AC refinement symbol must insert ±1")
                newval = p1 if rdr.read_bit() else m1
            while k <= se:
                z = int(zz[k])
                if z != 0:
                    if rdr.read_bit() and (z & p1) == 0:
                        zz[k] = z + (p1 if z >= 0 else m1)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if newval:
                if k > se:
                    raise ValueError("JPEG progressive AC index overflow")
                zz[k] = newval
            k += 1
    if eobrun > 0:
        while k <= se:
            z = int(zz[k])
            if z != 0 and rdr.read_bit() and (z & p1) == 0:
                zz[k] = z + (p1 if z >= 0 else m1)
            k += 1
        eobrun -= 1
    return eobrun


def _assemble_progressive(frame, state, qt) -> np.ndarray:
    """Dequantize + IDCT the accumulated coefficient store and assemble
    planes exactly like the baseline path."""
    h, w, comps = frame["h"], frame["w"], frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    planes = []
    for c in comps:
        dq = qt[c["tq"]]
        zzs = state[c["id"]]
        plane = np.zeros((c["bh"] * 8, c["bw"] * 8), dtype=np.float64)
        for by in range(c["bh"]):
            for bx in range(c["bw"]):
                coef = np.zeros(64, dtype=np.float64)
                coef[ZIGZAG] = zzs[by, bx] * dq
                plane[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] = \
                    _idct2(coef.reshape(8, 8)) + 128.0
        plane = np.repeat(np.repeat(plane, vmax // c["v"], axis=0),
                          hmax // c["h"], axis=1)
        planes.append(plane[:h, :w])
    if len(planes) == 1:
        g = np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
        return np.repeat(g[:, :, None], 3, axis=2)
    y, cb, cr = planes[0], planes[1] - 128.0, planes[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    rgb = np.stack([r, g, b], axis=2)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


def _decode_scan(payload, pos, frame, scomp, qt, huff_dc, huff_ac,
                 restart_interval):
    if frame is None:
        raise ValueError("JPEG SOS before SOF")
    h, w, comps = frame["h"], frame["w"], frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    by_id = {c["id"]: c for c in comps}
    order = [by_id[s["cs"]] for s in scomp]
    for c, s in zip(order, scomp):
        c["td"], c["ta"] = s["td"], s["ta"]
        c["plane"] = np.zeros((mcuy * c["v"] * 8, mcux * c["h"] * 8),
                              dtype=np.float64)
        c["dq"] = qt[c["tq"]]        # zigzag order, same as the zz vector
        c["pred"] = 0

    rdr = _BitReader(payload, pos)
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and \
                    mcu_count % restart_interval == 0:
                rdr.restart()
                for c in order:
                    c["pred"] = 0
            mcu_count += 1
            for c in order:
                for v in range(c["v"]):
                    for hh in range(c["h"]):
                        zz = np.zeros(64, dtype=np.int32)
                        t = rdr.decode_symbol(huff_dc[c["td"]])
                        diff = _extend(rdr.read_bits(t), t) if t else 0
                        c["pred"] += diff
                        zz[0] = c["pred"]
                        k = 1
                        while k < 64:
                            rs = rdr.decode_symbol(huff_ac[c["ta"]])
                            r, s = rs >> 4, rs & 0x0F
                            if s == 0:
                                if r == 15:
                                    k += 16
                                    continue
                                break                     # EOB
                            k += r
                            if k > 63:
                                raise ValueError("JPEG AC index overflow")
                            zz[k] = _extend(rdr.read_bits(s), s)
                            k += 1
                        coef = np.zeros(64, dtype=np.float64)
                        coef[ZIGZAG] = zz * c["dq"]
                        block = _idct2(coef.reshape(8, 8)) + 128.0
                        y0 = (my * c["v"] + v) * 8
                        x0 = (mx * c["h"] + hh) * 8
                        c["plane"][y0:y0 + 8, x0:x0 + 8] = block

    planes = []
    for c in order:
        p = c["plane"]
        # upsample to full MCU-grid resolution then crop to (h, w)
        p = np.repeat(np.repeat(p, vmax // c["v"], axis=0),
                      hmax // c["h"], axis=1)
        planes.append(p[:h, :w])
    if len(planes) == 1:
        g = np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
        return np.repeat(g[:, :, None], 3, axis=2)
    y, cb, cr = planes[0], planes[1] - 128.0, planes[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    rgb = np.stack([r, g, b], axis=2)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


# ---------------------------------------------------------------------------
# encoder (baseline, 4:4:4 YCbCr or grayscale, Annex-K tables)
# ---------------------------------------------------------------------------


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.buf = 0
        self.nbits = 0

    def write(self, length: int, code: int):
        for i in range(length - 1, -1, -1):
            self.buf = (self.buf << 1) | ((code >> i) & 1)
            self.nbits += 1
            if self.nbits == 8:
                self.out.append(self.buf)
                if self.buf == 0xFF:
                    self.out.append(0x00)        # byte stuffing
                self.buf = 0
                self.nbits = 0

    def flush(self):
        if self.nbits:
            self.buf <<= (8 - self.nbits)
            self.buf |= (1 << (8 - self.nbits)) - 1   # pad with 1s
            self.out.append(self.buf)
            if self.buf == 0xFF:
                self.out.append(0x00)
            self.buf = 0
            self.nbits = 0


def _magnitude(v: int) -> tuple[int, int]:
    """(category t, t-bit code) for a signed coefficient value."""
    t = int(v).bit_length() if v > 0 else int(-v).bit_length()
    if v < 0:
        v = v + (1 << t) - 1
    return t, v


def _scaled_qt(base: np.ndarray, quality: int) -> np.ndarray:
    quality = min(max(int(quality), 1), 100)
    s = 5000 // quality if quality < 50 else 200 - 2 * quality
    q = (base * s + 50) // 100
    return np.clip(q, 1, 255).astype(np.int32)


def _pad_to(p: np.ndarray, H: int, W: int) -> np.ndarray:
    """Edge-replicate pad a plane to (H, W)."""
    h, w = p.shape
    pp = np.empty((H, W))
    pp[:h, :w] = p
    if H > h:
        pp[h:, :w] = p[h - 1:h, :]
    if W > w:
        pp[:, w:] = pp[:, w - 1:w]
    return pp


def _quantize_block(block: np.ndarray, dq: np.ndarray) -> np.ndarray:
    """FDCT + quantize one 8×8 spatial block → 64 zigzag coefficients
    (shared by the baseline and progressive entropy coders so both
    streams carry identical coefficients)."""
    coef = _fdct2(block - 128.0)
    q = np.round(coef / dq).astype(np.int32)
    return q.reshape(-1)[ZIGZAG]


def _encode_block(bw: _BitWriter, block: np.ndarray, dq: np.ndarray,
                  pred: int, enc_dc: dict, enc_ac: dict) -> int:
    # one tolist() up front: the per-coefficient loop below reads Python
    # ints instead of paying a numpy scalar __getitem__ per coefficient
    # (measured hot in the fused media kernel's per-doc profile)
    zz = _quantize_block(block, dq).tolist()
    diff = zz[0] - pred
    t, code = _magnitude(diff) if diff else (0, 0)
    bw.write(*enc_dc[t])
    if t:
        bw.write(t, code)
    run = 0
    last = 63
    while last > 0 and zz[last] == 0:
        last -= 1
    for k in range(1, last + 1):
        v = zz[k]
        if v == 0:
            run += 1
            continue
        while run > 15:
            bw.write(*enc_ac[0xF0])
            run -= 16
        t, code = _magnitude(v)
        bw.write(*enc_ac[(run << 4) | t])
        bw.write(t, code)
        run = 0
    if last < 63:
        bw.write(*enc_ac[0x00])                   # EOB
    return zz[0]


def _encode_progressive_scans(zz_blocks: list[np.ndarray],
                              grids: list[tuple[int, int, int, int]],
                              enc_dc: list[dict], enc_ac: list[dict],
                              mcux: int, mcuy: int) -> list[tuple]:
    """Entropy-code the four-stage progressive scan script over
    precomputed quantized zigzag blocks: interleaved DC first (Al=1),
    DC refinement (Al=0), then one full-band AC scan (Al=0) per
    component.  Returns [(scan_header_fields, entropy_bytes), ...]."""
    out = []
    n_comp = len(zz_blocks)
    # one tolist() per component: every loop below reads Python ints
    # from nested lists instead of paying a numpy scalar __getitem__
    # per coefficient (measured hot in the fused media kernel profile);
    # control flow is unchanged, so the bitstream is bit-identical
    zz_lists = [zb.tolist() for zb in zz_blocks]
    dc_lists = [[[row[0] for row in brow] for brow in zl]
                for zl in zz_lists]

    # scan 1: DC first, Al=1, interleaved over MCUs
    bw1 = _BitWriter()
    preds = [0] * n_comp
    for my in range(mcuy):
        for mx in range(mcux):
            for ci in range(n_comp):
                _, _, hh, v = grids[ci]
                ti = min(ci, 1)
                for vy in range(v):
                    for vx in range(hh):
                        dc = dc_lists[ci][my * v + vy][mx * hh + vx] >> 1
                        diff = dc - preds[ci]
                        preds[ci] = dc
                        t, code = _magnitude(diff) if diff else (0, 0)
                        bw1.write(*enc_dc[ti][t])
                        if t:
                            bw1.write(t, code)
    bw1.flush()
    comps_all = list(range(n_comp))
    out.append((comps_all, 0, 0, 0, 1, bytes(bw1.out)))

    # scan 2: DC refinement, Ah=1 -> Al=0 (one raw bit per block)
    bw2 = _BitWriter()
    for my in range(mcuy):
        for mx in range(mcux):
            for ci in range(n_comp):
                _, _, hh, v = grids[ci]
                for vy in range(v):
                    for vx in range(hh):
                        bw2.write(1, dc_lists[ci][my * v + vy]
                                  [mx * hh + vx] & 1)
    bw2.flush()
    out.append((comps_all, 0, 0, 1, 0, bytes(bw2.out)))

    # per component: AC first pass at Al=1 (point-transformed toward
    # zero), then the AC refinement pass restoring bit 0 — both over the
    # NON-interleaved block raster.  The Annex-K AC tables carry no
    # EOBn (r>0) symbols, so EOB runs flush as repeated single EOBs —
    # larger but fully legal; the decoder's EOBn path is exercised by a
    # custom-table fixture in the tests.
    for ci in range(n_comp):
        nbw, nbh, _, _ = grids[ci]
        ti = min(ci, 1)

        bw = _BitWriter()
        eobrun = 0

        def flush_eob():
            nonlocal eobrun
            while eobrun > 0:
                bw.write(*enc_ac[ti][0x00])
                eobrun -= 1
        for by in range(nbh):
            for bx in range(nbw):
                zz = zz_lists[ci][by][bx]
                # point transform: magnitude shift toward zero (G.1.2.2)
                # — sign(x) * (|x| >> 1) on Python ints
                t1 = [(x >> 1) if x >= 0 else -((-x) >> 1)
                      for x in zz[1:]]
                last = 63
                while last > 0 and t1[last - 1] == 0:
                    last -= 1
                if last == 0:
                    eobrun += 1
                    continue
                flush_eob()
                run = 0
                for k in range(1, last + 1):
                    v = t1[k - 1]
                    if v == 0:
                        run += 1
                        continue
                    while run > 15:
                        bw.write(*enc_ac[ti][0xF0])
                        run -= 16
                    t, code = _magnitude(v)
                    bw.write(*enc_ac[ti][(run << 4) | t])
                    bw.write(t, code)
                    run = 0
                if last < 63:
                    eobrun += 1
        flush_eob()
        bw.flush()
        out.append(([ci], 1, 63, 0, 1, bytes(bw.out)))

        # refinement: corrections for already-significant coefficients,
        # ±1 insertions for the newly significant (libjpeg
        # encode_mcu_AC_refine control flow, per-block EOB runs)
        bw = _BitWriter()
        for by in range(nbh):
            for bx in range(nbw):
                zz = zz_lists[ci][by][bx]
                absv = [abs(x) for x in zz[1:]]   # Al = 0
                eobk = 0
                for k in range(1, 64):
                    if absv[k - 1] == 1:
                        eobk = k
                r = 0
                br: list[int] = []
                for k in range(1, 64):
                    t = absv[k - 1]
                    if t == 0:
                        r += 1
                        continue
                    while r > 15 and k <= eobk:
                        bw.write(*enc_ac[ti][0xF0])
                        for b in br:
                            bw.write(1, b)
                        br = []
                        r -= 16
                    if t > 1:                     # already significant
                        br.append(t & 1)
                        continue
                    bw.write(*enc_ac[ti][(r << 4) | 1])
                    bw.write(1, 0 if zz[k] < 0 else 1)
                    for b in br:
                        bw.write(1, b)
                    br = []
                    r = 0
                if r > 0 or br:
                    bw.write(*enc_ac[ti][0x00])
                    for b in br:
                        bw.write(1, b)
        bw.flush()
        out.append(([ci], 1, 63, 1, 0, bytes(bw.out)))
    return out


def encode_jpeg(arr: np.ndarray, quality: int = 90,
                subsampling: str = "444",
                restart_interval: int = 0,
                progressive: bool = False) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array (or (h, w) grayscale) as a
    baseline JPEG with Annex-K tables.  ``subsampling``: '444' or '420'
    (2×2-mean chroma downsample); ``restart_interval`` > 0 emits DRI +
    RSTn markers every that many MCUs (baseline only).
    ``progressive=True`` writes a SOF2 stream with the four-stage scan
    script (interleaved DC at Al=1, DC refinement, one full-band AC
    scan per component) — the SAME quantized coefficients as the
    baseline stream, so both decode to identical pixels (the
    progressive-decoder validation identity)."""
    a = np.asarray(arr, dtype=np.uint8)
    gray = a.ndim == 2
    if not gray and (a.ndim != 3 or a.shape[2] != 3):
        raise ValueError("encode_jpeg expects (h, w, 3) RGB or (h, w) gray")
    if subsampling not in ("444", "420"):
        raise ValueError("subsampling must be '444' or '420'")
    h, w = a.shape[:2]
    sub = 2 if (subsampling == "420" and not gray) else 1

    if gray:
        planes = [a.astype(np.float64)]
    else:
        rf = a[:, :, 0].astype(np.float64)
        gf = a[:, :, 1].astype(np.float64)
        bf = a[:, :, 2].astype(np.float64)
        y = 0.299 * rf + 0.587 * gf + 0.114 * bf
        cb = -0.168736 * rf - 0.331264 * gf + 0.5 * bf + 128.0
        cr = 0.5 * rf - 0.418688 * gf - 0.081312 * bf + 128.0
        if sub == 2:
            H2, W2 = -(-h // 2) * 2, -(-w // 2) * 2
            cb = _pad_to(cb, H2, W2).reshape(H2 // 2, 2, W2 // 2, 2) \
                                    .mean(axis=(1, 3))
            cr = _pad_to(cr, H2, W2).reshape(H2 // 2, 2, W2 // 2, 2) \
                                    .mean(axis=(1, 3))
        planes = [y, cb, cr]

    qts = [_scaled_qt(QT_LUMA, quality)]
    if not gray:
        qts.append(_scaled_qt(QT_CHROMA, quality))
    dq = []
    for q in qts:
        m = np.zeros(64, dtype=np.int32)
        m[ZIGZAG] = q
        dq.append(m.reshape(8, 8))

    enc_dc = [_build_encode_table(*HT_DC_LUMA)]
    enc_ac = [_build_encode_table(*HT_AC_LUMA)]
    if not gray:
        enc_dc.append(_build_encode_table(*HT_DC_CHROMA))
        enc_ac.append(_build_encode_table(*HT_AC_CHROMA))

    # component spec: (plane, h_samp, v_samp, table idx)
    if gray:
        comps = [(planes[0], 1, 1, 0)]
    elif sub == 2:
        comps = [(planes[0], 2, 2, 0), (planes[1], 1, 1, 1),
                 (planes[2], 1, 1, 1)]
    else:
        comps = [(planes[0], 1, 1, 0), (planes[1], 1, 1, 1),
                 (planes[2], 1, 1, 1)]
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    padded = [(_pad_to(p, mcuy * v * 8, mcux * hh * 8), hh, v, ti)
              for p, hh, v, ti in comps]

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

    out = bytearray(b"\xff\xd8")
    for tq, q in enumerate(qts):
        out += seg(0xDB, bytes([tq]) + bytes(int(v) for v in q))
    nc = len(comps)
    sof = struct.pack(">BHHB", 8, h, w, nc)
    for i, (_, hh, v, ti) in enumerate(comps):
        sof += bytes([i + 1, (hh << 4) | v, ti])
    out += seg(0xC2 if progressive else 0xC0, sof)
    tabs = [(0x00, HT_DC_LUMA), (0x10, HT_AC_LUMA)]
    if not gray:
        tabs += [(0x01, HT_DC_CHROMA), (0x11, HT_AC_CHROMA)]
    for tid, (bits, vals) in tabs:
        out += seg(0xC4, bytes([tid]) + bytes(bits) + bytes(vals))

    if progressive:
        # quantize every block once; the scan script re-reads the store
        zz_blocks = []
        grids = []
        for ci, (p, hh, v, ti) in enumerate(padded):
            bh_i, bw_i = p.shape[0] // 8, p.shape[1] // 8
            zz = np.empty((bh_i, bw_i, 64), dtype=np.int32)
            for by in range(bh_i):
                for bx in range(bw_i):
                    zz[by, bx] = _quantize_block(
                        p[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8], dq[ti])
            zz_blocks.append(zz)
            # non-interleaved AC raster covers ceil(comp_extent/8)
            cw = -(-(w * hh) // hmax)
            chh = -(-(h * v) // vmax)
            grids.append((-(-cw // 8), -(-chh // 8), hh, v))
        for comp_ids, ss, se, ah, al, data in _encode_progressive_scans(
                zz_blocks, grids, enc_dc, enc_ac, mcux, mcuy):
            sos = bytes([len(comp_ids)])
            for ci in comp_ids:
                ti = min(ci, 1)
                sos += bytes([ci + 1, (ti << 4) | ti])
            sos += bytes([ss, se, (ah << 4) | al])
            out += seg(0xDA, sos)
            out += data
        out += b"\xff\xd9"
        return bytes(out)

    bw = _BitWriter()
    preds = [0] * len(comps)
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and \
                    mcu_count % restart_interval == 0:
                bw.flush()
                rst = (mcu_count // restart_interval - 1) % 8
                bw.out += bytes([0xFF, 0xD0 + rst])
                preds = [0] * len(comps)
            mcu_count += 1
            for ci, (p, hh, v, ti) in enumerate(padded):
                for vy in range(v):
                    for vx in range(hh):
                        y0 = (my * v + vy) * 8
                        x0 = (mx * hh + vx) * 8
                        preds[ci] = _encode_block(
                            bw, p[y0:y0 + 8, x0:x0 + 8], dq[ti], preds[ci],
                            enc_dc[ti], enc_ac[ti])
    bw.flush()
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytes([nc])
    for i in range(nc):
        ti = min(i, 1)
        sos += bytes([i + 1, (ti << 4) | ti])
    sos += bytes([0, 63, 0])
    out += seg(0xDA, sos)
    out += bw.out
    out += b"\xff\xd9"
    return bytes(out)
