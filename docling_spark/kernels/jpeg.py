"""JPEG decoder (baseline SOF0/SOF1 + progressive SOF2) and a minimal
encoder, stdlib+numpy.

The reference decodes images through PIL before feeding them to its
PDF/image pipeline (docling/backend/pdf_backend.py:56-90,
docling/datamodel/base_models.py Page.image). This sandbox has no PIL,
so this module implements the huffman-coded processes of the public
ITU-T T.81 spec from scratch: marker parse, canonical Huffman entropy
decode (with byte unstuffing and restart markers), progressive
spectral-selection + successive-approximation scans (Annex G: EOB
runs, ZRL, refinement correction bits), dequantization, vectorized
8x8 inverse DCT over all blocks at once, chroma upsampling and JFIF
YCbCr->RGB. Arithmetic-coded, hierarchical and 12-bit streams raise
:class:`JpegError` and fall back to the caller's metadata-only path.

The encoder exists to make the decoder testable without any external
codec: it writes valid baseline or progressive JFIF streams (4:4:4 or
4:2:0, grayscale or color, optional restart markers) using
fixed-length Huffman tables and a flat quantization table, so an
encode->decode roundtrip bounds per-pixel error by the quantizer
step, and a baseline and a progressive stream of the same image must
decode byte-identically. Tables are embedded in the file, so no
Annex-K constants are needed.
"""

from __future__ import annotations

import struct

import numpy as np


class JpegError(Exception):
    pass


def _zigzag() -> np.ndarray:
    """Zigzag scan order: index i -> (row, col) flattened offset."""
    order = []
    for s in range(15):
        diag = [(r, s - r) for r in range(max(0, s - 7), min(s, 7) + 1)]
        if s % 2 == 0:
            diag.reverse()  # even diagonals run bottom-left -> top-right
        order.extend(diag)
    return np.array([r * 8 + c for r, c in order], dtype=np.int64)


ZIGZAG = _zigzag()


def _dct_basis() -> np.ndarray:
    """Orthonormal 8x8 DCT-II basis C: forward F = C f C^T, inverse
    f = C^T F C."""
    x = np.arange(8)
    c = np.cos((2 * x[None, :] + 1) * x[:, None] * np.pi / 16)
    c *= np.sqrt(2.0 / 8.0)
    c[0, :] = np.sqrt(1.0 / 8.0)
    return c


_C = _dct_basis()


def _idct_blocks(coefs: np.ndarray) -> np.ndarray:
    """(n, 64) dequantized natural-order coefficients -> (n, 8, 8)
    spatial samples (still centered on 0)."""
    f = coefs.reshape(-1, 8, 8)
    return np.einsum("ur,nuv,vc->nrc", _C, f, _C, optimize=True)


def _fdct_blocks(blocks: np.ndarray) -> np.ndarray:
    f = np.einsum("ur,nrc,vc->nuv", _C, blocks, _C, optimize=True)
    return f.reshape(-1, 64)


class _Huffman:
    """Canonical JPEG Huffman table with a flat 16-bit lookup."""

    __slots__ = ("lut_sym", "lut_len")

    def __init__(self, counts: list[int], symbols: bytes):
        self.lut_sym = np.zeros(1 << 16, dtype=np.uint8)
        self.lut_len = np.zeros(1 << 16, dtype=np.uint8)
        code = 0
        k = 0
        for length in range(1, 17):
            for _ in range(counts[length - 1]):
                sym = symbols[k]
                k += 1
                lo = code << (16 - length)
                hi = lo + (1 << (16 - length))
                self.lut_sym[lo:hi] = sym
                self.lut_len[lo:hi] = length
                code += 1
            code <<= 1

class _Component:
    __slots__ = ("cid", "h", "v", "tq", "dc", "ac", "bx", "by", "coefs",
                 "bw_c", "bh_c")

    def __init__(self, cid: int, h: int, v: int, tq: int):
        self.cid, self.h, self.v, self.tq = cid, h, v, tq


class _ScanBits:
    """Bit reader for one entropy-coded scan: 0xFF00 unstuffing, RST
    resync, zero-padding at stream end with a truncation counter."""

    __slots__ = ("d", "n", "pos", "buf", "nbits", "pad")

    def __init__(self, data: bytes, pos: int):
        self.d, self.n, self.pos = data, len(data), pos
        self.buf = 0
        self.nbits = 0
        self.pad = 0

    def _fill(self, need: int) -> None:
        d, n = self.d, self.n
        while self.nbits < need:
            if self.pos < n:
                b = d[self.pos]
                if b == 0xFF:
                    if self.pos + 1 < n and d[self.pos + 1] == 0x00:
                        self.pos += 2
                    else:  # marker: pad without consuming
                        self.buf <<= 8
                        self.nbits += 8
                        self.pad += 1
                        continue
                else:
                    self.pos += 1
                self.buf = (self.buf << 8) | b
            else:
                self.buf <<= 8
                self.pad += 1
            self.nbits += 8

    def read(self, cnt: int) -> int:
        if cnt == 0:
            return 0
        self._fill(cnt)
        self.nbits -= cnt
        v = (self.buf >> self.nbits) & ((1 << cnt) - 1)
        self.buf &= (1 << self.nbits) - 1
        return v

    def huff(self, tab: _Huffman) -> int:
        self._fill(16)
        peek = (self.buf >> (self.nbits - 16)) & 0xFFFF
        length = tab.lut_len[peek]
        if length == 0:
            raise JpegError("invalid huffman code")
        self.nbits -= length
        self.buf &= (1 << self.nbits) - 1
        return int(tab.lut_sym[peek])

    def resync(self) -> None:
        self.buf = 0
        self.nbits = 0
        self.pad = 0  # padding before a restart marker is legitimate
        d, n = self.d, self.n
        while self.pos + 1 < n:
            if d[self.pos] == 0xFF and 0xD0 <= d[self.pos + 1] <= 0xD7:
                self.pos += 2
                return
            self.pos += 1
        self.pos = n

    def next_marker(self) -> int:
        """Index of the next marker (0xFF byte) at/after the scan end."""
        d, n = self.d, self.n
        p = self.pos
        while p + 1 < n:
            if d[p] == 0xFF and d[p + 1] != 0x00:
                return p
            p += 1
        return n


def decode_jpeg(data: bytes) -> tuple[int, int, int, bytes]:
    """Decode a baseline (SOF0/SOF1) or progressive (SOF2) JFIF/EXIF
    JPEG.

    Returns ``(width, height, channels, samples)`` with 8-bit samples
    row-major, matching :func:`raster.decode_image`'s contract.
    Raises :class:`JpegError` for arithmetic-coded/hierarchical/12-bit
    or malformed streams.

    Total over arbitrary bytes: any malformed stream raises
    :class:`JpegError`, never a raw ``struct.error``/``IndexError``/
    ``KeyError`` — callers in the Spark extraction path rely on the
    typed contract to turn a bad crawl image into an error row instead
    of a task kill.
    """
    try:
        return _decode_jpeg_inner(data)
    except JpegError:
        raise
    except (struct.error, IndexError, KeyError, ValueError) as e:
        raise JpegError(f"malformed jpeg: {type(e).__name__}: {e}") from e


def _decode_jpeg_inner(data: bytes) -> tuple[int, int, int, bytes]:
    if data[:3] != b"\xff\xd8\xff":
        raise JpegError("not a jpeg")
    qt: dict[int, np.ndarray] = {}
    huff_dc: dict[int, _Huffman] = {}
    huff_ac: dict[int, _Huffman] = {}
    comps: list[_Component] = []
    width = height = 0
    restart_interval = 0
    adobe_transform = None
    progressive = False
    mcus_x = mcus_y = 0
    seq_seen: set[int] = set()
    i = 2
    while i + 4 <= len(data):
        if data[i] != 0xFF:
            i += 1
            continue
        marker = data[i + 1]
        if marker == 0xFF:
            i += 1
            continue
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        if marker == 0xD9:  # EOI
            break
        (seg_len,) = struct.unpack(">H", data[i + 2 : i + 4])
        if seg_len < 2:
            raise JpegError("segment length < 2")
        seg = data[i + 4 : i + 2 + seg_len]
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 15
                p += 1
                if pq:
                    vals = np.frombuffer(seg[p : p + 128], dtype=">u2").astype(np.int32)
                    p += 128
                else:
                    vals = np.frombuffer(seg[p : p + 64], dtype=np.uint8).astype(np.int32)
                    p += 64
                qt[tq] = vals
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 baseline, SOF2 progressive
            if len(seg) < 6:
                raise JpegError("short SOF segment")
            if seg[0] != 8:
                raise JpegError("only 8-bit precision supported")
            progressive = marker == 0xC2
            height, width = struct.unpack(">HH", seg[1:5])
            if not width or not height:
                raise JpegError("zero frame dimension")
            nc = seg[5]
            if len(seg) < 6 + 3 * nc:
                raise JpegError("short SOF component list")
            comps = []
            for c in range(nc):
                cid, hv, tq = seg[6 + 3 * c : 9 + 3 * c]
                if not (hv >> 4) or not (hv & 15):
                    raise JpegError("zero sampling factor")
                comps.append(_Component(cid, hv >> 4, hv & 15, tq))
            # Coefficients may accumulate across scans (progressive
            # passes, or sequential one-SOS-per-component files):
            # allocate the MCU-padded grids and each component's own
            # block grid up front for both frame types.
            hmax = max(c.h for c in comps)
            vmax = max(c.v for c in comps)
            mcus_x = -(-width // (8 * hmax))
            mcus_y = -(-height // (8 * vmax))
            for c in comps:
                c.bx = mcus_x * c.h
                c.by = mcus_y * c.v
                c.coefs = np.zeros((c.by * c.bx, 64), dtype=np.int32)
                comp_w = -(-(width * c.h) // hmax)
                comp_h = -(-(height * c.v) // vmax)
                c.bw_c = -(-comp_w // 8)
                c.bh_c = -(-comp_h // 8)
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise JpegError("only baseline/progressive huffman jpeg supported")
        elif marker == 0xC4:  # DHT
            p = 0
            while p + 17 <= len(seg):
                tc, th = seg[p] >> 4, seg[p] & 15
                counts = list(seg[p + 1 : p + 17])
                n = sum(counts)
                symbols = seg[p + 17 : p + 17 + n]
                (huff_ac if tc else huff_dc)[th] = _Huffman(counts, symbols)
                p += 17 + n
        elif marker == 0xDD:  # DRI
            if len(seg) < 2:
                raise JpegError("short DRI segment")
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif marker == 0xEE and seg[:5] == b"Adobe":  # APP14
            adobe_transform = seg[11] if len(seg) > 11 else None
        elif marker == 0xDA:  # SOS
            if not comps:
                raise JpegError("SOS before SOF")
            ns = seg[0] if seg else 0
            if not ns or len(seg) < 4 + 2 * ns:
                raise JpegError("short SOS segment")
            sel = {}
            order = []
            for c in range(ns):
                cid, tabs = seg[1 + 2 * c : 3 + 2 * c]
                sel[cid] = (tabs >> 4, tabs & 15)
                order.append(cid)
            scan_comps = [c for cid in order for c in comps if c.cid == cid]
            if len(scan_comps) != ns:
                raise JpegError("SOS references unknown component")
            scan_start = i + 2 + seg_len
            if progressive:
                ss, se, ahal = seg[1 + 2 * ns : 4 + 2 * ns]
                i = _decode_prog_scan(
                    data, scan_start, scan_comps, sel, huff_dc, huff_ac,
                    restart_interval, ss, se, ahal >> 4, ahal & 15,
                    mcus_x, mcus_y,
                )
                continue
            # Sequential: a scan may cover all components (interleaved,
            # the common case) or one component per SOS (non-interleaved
            # multi-scan files, T.81 A.2.2) — keep walking markers until
            # every component has seen a scan.
            i = _decode_scan(data, scan_start, scan_comps, sel, huff_dc,
                             huff_ac, restart_interval, mcus_x, mcus_y)
            seq_seen.update(order)
            if seq_seen >= {c.cid for c in comps}:
                break
            continue
        i += 2 + seg_len
    if not comps or not width:
        raise JpegError("no frame decoded")
    if not progressive and not seq_seen:
        raise JpegError("no scan decoded")
    return _reconstruct(comps, qt, width, height, adobe_transform)


def _decode_scan(data, pos, comps, sel, huff_dc, huff_ac,
                 restart_interval, mcus_x, mcus_y):
    """One sequential scan over pre-allocated coefficient grids.

    ``comps`` is the scan's component list (all frame components for an
    interleaved scan, one for a non-interleaved scan — T.81 A.2).
    Returns the stream index of the marker following the entropy-coded
    data so the caller can continue walking markers for multi-scan
    sequential files.
    """
    single = len(comps) == 1
    if single:
        # non-interleaved scan: MCU is one block of this component's
        # own (unpadded) block grid
        c = comps[0]
        mcus_x, mcus_y = c.bw_c, c.bh_c
    # Hot loop: bit-reader state and Huffman LUTs live in locals; blocks
    # accumulate in Python lists (numpy scalar stores are ~10x slower).
    n = len(data)
    buf = 0
    nbits = 0
    # per-component (dc_sym, dc_len, ac_sym, ac_len, coef_list, h*v)
    tabs = []
    for c in comps:
        dc = huff_dc[sel[c.cid][0]]
        ac = huff_ac[sel[c.cid][1]]
        tabs.append((dc.lut_sym.tolist(), dc.lut_len.tolist(),
                     ac.lut_sym.tolist(), ac.lut_len.tolist(),
                     [], 1 if single else c.h * c.v))
    preds = [0] * len(comps)
    pad = 0  # zero bytes injected past real data; bounded in valid streams
    mcu_count = 0
    total_mcus = mcus_x * mcus_y
    while mcu_count < total_mcus:
        if restart_interval and mcu_count and mcu_count % restart_interval == 0:
            # resync: drop partial bits, skip past the RST marker
            buf = 0
            nbits = 0
            while pos + 1 < n:
                if data[pos] == 0xFF and 0xD0 <= data[pos + 1] <= 0xD7:
                    pos += 2
                    break
                pos += 1
            preds = [0] * len(comps)
            pad = 0  # padding before a restart marker is legitimate
        mcu_count += 1
        for ci, (dc_sym, dc_len, ac_sym, ac_len, out, reps) in enumerate(tabs):
            for _ in range(reps):
                block = [0] * 64
                # -- DC --
                while nbits < 16:
                    if pos < n:
                        b = data[pos]
                        if b == 0xFF:
                            if pos + 1 < n and data[pos + 1] == 0x00:
                                pos += 2
                            else:
                                buf <<= 8
                                nbits += 8
                                pad += 1
                                continue
                        else:
                            pos += 1
                        buf = (buf << 8) | b
                    else:
                        buf <<= 8
                        pad += 1
                    nbits += 8
                peek = (buf >> (nbits - 16)) & 0xFFFF
                t = dc_sym[peek]
                length = dc_len[peek]
                if length == 0:
                    raise JpegError("invalid huffman code")
                nbits -= length
                if t:
                    while nbits < t:
                        if pos < n:
                            b = data[pos]
                            if b == 0xFF:
                                if pos + 1 < n and data[pos + 1] == 0x00:
                                    pos += 2
                                else:
                                    buf <<= 8
                                    nbits += 8
                                    pad += 1
                                    continue
                            else:
                                pos += 1
                            buf = (buf << 8) | b
                        else:
                            buf <<= 8
                            pad += 1
                        nbits += 8
                    nbits -= t
                    v = (buf >> nbits) & ((1 << t) - 1)
                    diff = v if v >= (1 << (t - 1)) else v - (1 << t) + 1
                    preds[ci] += diff
                buf &= (1 << nbits) - 1
                block[0] = preds[ci]
                # -- AC --
                k = 1
                while k < 64:
                    while nbits < 16:
                        if pos < n:
                            b = data[pos]
                            if b == 0xFF:
                                if pos + 1 < n and data[pos + 1] == 0x00:
                                    pos += 2
                                else:
                                    buf <<= 8
                                    nbits += 8
                                    pad += 1
                                    continue
                            else:
                                pos += 1
                            buf = (buf << 8) | b
                        else:
                            buf <<= 8
                            pad += 1
                        nbits += 8
                    peek = (buf >> (nbits - 16)) & 0xFFFF
                    rs = ac_sym[peek]
                    length = ac_len[peek]
                    if length == 0:
                        raise JpegError("invalid huffman code")
                    nbits -= length
                    s = rs & 15
                    if s == 0:
                        buf &= (1 << nbits) - 1
                        if rs == 0xF0:  # ZRL
                            k += 16
                            continue
                        break  # EOB
                    k += rs >> 4
                    if k > 63:
                        raise JpegError("AC index out of range")
                    while nbits < s:
                        if pos < n:
                            b = data[pos]
                            if b == 0xFF:
                                if pos + 1 < n and data[pos + 1] == 0x00:
                                    pos += 2
                                else:
                                    buf <<= 8
                                    nbits += 8
                                    pad += 1
                                    continue
                            else:
                                pos += 1
                            buf = (buf << 8) | b
                        else:
                            buf <<= 8
                            pad += 1
                        nbits += 8
                    nbits -= s
                    v = (buf >> nbits) & ((1 << s) - 1)
                    buf &= (1 << nbits) - 1
                    block[k] = v if v >= (1 << (s - 1)) else v - (1 << s) + 1
                    k += 1
                out.append(block)
    # A valid stream pads at most a few zero bytes at the very end (the
    # final 16-bit peek); a truncated file pads its way through every
    # remaining MCU — fail typed instead of returning gray garbage.
    if pad > 6:
        raise JpegError("truncated entropy-coded data")
    # Scatter decoded blocks into each component's MCU-padded grid.
    for ci, c in enumerate(comps):
        out = tabs[ci][4]
        arr = np.array(out, dtype=np.int32)
        if single:
            # tight (bh_c, bw_c) block raster into the padded grid
            grid = c.coefs.reshape(c.by, c.bx, 64)
            grid[: c.bh_c, : c.bw_c] = arr.reshape(c.bh_c, c.bw_c, 64)
            continue
        # out is MCU-major: for each MCU, h*v blocks row-major within it
        h, v = c.h, c.v
        arr = arr.reshape(mcus_y, mcus_x, v, h, 64)
        c.coefs = arr.transpose(0, 2, 1, 3, 4).reshape(c.by * c.bx, 64)
    # Next marker at/after the consumed entropy-coded data (bytes the
    # reader buffered but did not use never include a real marker: a
    # 0xFF followed by non-zero pads without consuming).
    n_ = len(data)
    while pos + 1 < n_:
        if data[pos] == 0xFF and data[pos + 1] != 0x00:
            return pos
        pos += 1
    return n_


def _decode_prog_scan(data, pos, scan_comps, sel, huff_dc, huff_ac,
                      restart_interval, ss, se, ah, al, mcus_x, mcus_y):
    """One progressive scan (T.81 Annex G): DC/AC first or refinement
    pass over the pre-allocated coefficient grids. Returns the stream
    index of the marker following the scan's entropy-coded data."""
    bits = _ScanBits(data, pos)
    if ss == 0:
        if se != 0:
            raise JpegError("progressive DC scan with Se != 0")
        _prog_dc_scan(bits, scan_comps, sel, huff_dc, restart_interval,
                      ah, al, mcus_x, mcus_y)
    else:
        if len(scan_comps) != 1:
            raise JpegError("progressive AC scan must be non-interleaved")
        c = scan_comps[0]
        actab = huff_ac[sel[c.cid][1]]
        if ah == 0:
            _prog_ac_first(bits, c, actab, restart_interval, ss, se, al)
        else:
            _prog_ac_refine(bits, c, actab, restart_interval, ss, se, al)
    if bits.pad > 6:
        raise JpegError("truncated entropy-coded data")
    return bits.next_marker()


def _prog_dc_scan(bits, scan_comps, sel, huff_dc, ri, ah, al,
                  mcus_x, mcus_y):
    interleaved = len(scan_comps) > 1
    if not interleaved:
        c = scan_comps[0]
        units_x, units_y = c.bw_c, c.bh_c
    else:
        units_x, units_y = mcus_x, mcus_y
    preds = {c.cid: 0 for c in scan_comps}
    tabs = {c.cid: huff_dc[sel[c.cid][0]] for c in scan_comps} if ah == 0 else {}
    unit = 0
    for uy in range(units_y):
        for ux in range(units_x):
            if ri and unit and unit % ri == 0:
                bits.resync()
                preds = {c.cid: 0 for c in scan_comps}
            unit += 1
            for c in scan_comps:
                reps = c.h * c.v if interleaved else 1
                for b in range(reps):
                    if interleaved:
                        bx = ux * c.h + (b % c.h)
                        by = uy * c.v + (b // c.h)
                    else:
                        bx, by = ux, uy
                    idx = by * c.bx + bx
                    if ah == 0:
                        t = bits.huff(tabs[c.cid])
                        v = bits.read(t)
                        diff = (
                            v if t == 0 or v >= (1 << (t - 1))
                            else v - (1 << t) + 1
                        )
                        preds[c.cid] += diff
                        c.coefs[idx, 0] = preds[c.cid] << al
                    elif bits.read(1):
                        # refinement: one bit sharpens the approximation
                        c.coefs[idx, 0] |= 1 << al
    return


def _prog_ac_first(bits, c, actab, ri, ss, se, al):
    coefs = c.coefs
    bw_c, stride = c.bw_c, c.bx
    eobrun = 0
    total = c.bw_c * c.bh_c
    for bi in range(total):
        if ri and bi and bi % ri == 0:
            bits.resync()
            eobrun = 0
        if eobrun:
            eobrun -= 1
            continue
        by, bx = divmod(bi, bw_c)
        row = coefs[by * stride + bx]
        k = ss
        while k <= se:
            rs = bits.huff(actab)
            r, s = rs >> 4, rs & 15
            if s == 0:
                if r == 15:  # ZRL
                    k += 16
                    continue
                eobrun = (1 << r) - 1 + bits.read(r)
                break
            k += r
            if k > se:
                raise JpegError("AC index out of band")
            v = bits.read(s)
            row[k] = (v if v >= (1 << (s - 1)) else v - (1 << s) + 1) << al
            k += 1


def _prog_ac_refine(bits, c, actab, ri, ss, se, al):
    """AC successive-approximation refinement (T.81 G.1.2.3): newly
    nonzero coefficients arrive as +/-2^al; already-nonzero ones take a
    correction bit toward the true value."""
    coefs = c.coefs
    bw_c, stride = c.bw_c, c.bx
    p1 = 1 << al
    eobrun = 0
    total = c.bw_c * c.bh_c
    for bi in range(total):
        if ri and bi and bi % ri == 0:
            bits.resync()
            eobrun = 0
        by, bx = divmod(bi, bw_c)
        row = coefs[by * stride + bx]
        k = ss
        if eobrun == 0:
            while k <= se:
                rs = bits.huff(actab)
                r, s = rs >> 4, rs & 15
                val = 0
                if s == 0:
                    if r != 15:
                        eobrun = (1 << r) + bits.read(r)
                        break
                    # ZRL: advance over 16 zero-history coefficients
                else:
                    if s != 1:
                        raise JpegError("bad refinement magnitude")
                    val = p1 if bits.read(1) else -p1
                while k <= se:
                    ck = int(row[k])
                    if ck != 0:
                        if bits.read(1) and (abs(ck) & p1) == 0:
                            row[k] = ck + (p1 if ck > 0 else -p1)
                    else:
                        if r == 0:
                            break
                        r -= 1
                    k += 1
                if val and k <= se:
                    row[k] = val
                k += 1
        if eobrun > 0:
            # rest of the band takes correction bits only
            while k <= se:
                ck = int(row[k])
                if ck != 0:
                    if bits.read(1) and (abs(ck) & p1) == 0:
                        row[k] = ck + (p1 if ck > 0 else -p1)
                k += 1
            eobrun -= 1


def _reconstruct(comps, qt, width, height, adobe_transform):
    hmax = max(c.h for c in comps)
    vmax = max(c.v for c in comps)
    planes = []
    for c in comps:
        q = qt[c.tq]
        deq = (c.coefs * q[None, :]).astype(np.float64)
        natural = np.zeros_like(deq)
        natural[:, ZIGZAG] = deq
        spatial = _idct_blocks(natural) + 128.0
        # (by*bx, 8, 8) -> (by*8, bx*8)
        plane = (
            spatial.reshape(c.by, c.bx, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(c.by * 8, c.bx * 8)
        )
        if c.h != hmax or c.v != vmax:
            plane = np.repeat(np.repeat(plane, vmax // c.v, axis=0),
                              hmax // c.h, axis=1)
        planes.append(plane[:height, :width])
    if len(planes) == 1:
        out = np.clip(planes[0], 0, 255).astype(np.uint8)
        return width, height, 1, out.tobytes()
    if len(planes) == 3:
        y, cb, cr = planes
        if adobe_transform == 0:
            r, g, b = y, cb, cr  # Adobe transform 0: plain RGB
        else:
            r = y + 1.402 * (cr - 128.0)
            g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
            b = y + 1.772 * (cb - 128.0)
        rgb = np.stack([r, g, b], axis=-1)
        out = np.clip(rgb + 0.5, 0, 255).astype(np.uint8)
        return width, height, 3, out.tobytes()
    raise JpegError(f"unsupported component count {len(planes)}")


# ---------------------------------------------------------------- encoder

def _fixed_huffman(symbols: list[int]) -> tuple[list[int], bytes, dict[int, tuple[int, int]]]:
    """Fixed-length canonical table over the given symbol set: every
    code is L bits with 2**L > len(symbols), so the all-ones code stays
    unused (T.81 C.2). Returns (counts, symbols, {sym: (code, length)})."""
    n = len(symbols)
    length = max(2, (n + 1).bit_length())
    counts = [0] * 16
    counts[length - 1] = n
    codes = {sym: (idx, length) for idx, sym in enumerate(symbols)}
    return counts, bytes(symbols), codes


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.buf = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.buf = (self.buf << length) | code
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            b = (self.buf >> self.nbits) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)
        self.buf &= (1 << self.nbits) - 1

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)


def _encode_block(bw_, block, pred, dc_codes, ac_codes) -> int:
    """Entropy-encode one quantized zigzag block; returns its DC value."""
    dc = int(block[0])
    diff = dc - pred
    t = abs(diff).bit_length()
    code, length = dc_codes[t]
    bw_.write(code, length)
    if t:
        bw_.write(diff if diff >= 0 else diff + (1 << t) - 1, t)
    run = 0
    last_nz = np.nonzero(block[1:])[0]
    last = last_nz[-1] + 1 if len(last_nz) else 0
    for k in range(1, last + 1):
        v = int(block[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, length = ac_codes[0xF0]
            bw_.write(code, length)
            run -= 16
        s = abs(v).bit_length()
        code, length = ac_codes[(run << 4) | s]
        bw_.write(code, length)
        bw_.write(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    if last < 63:
        code, length = ac_codes[0x00]
        bw_.write(code, length)
    return dc


def _encode_prog_scan(plane_coefs, grids, comp_grids, samp, mcus_x, mcus_y,
                      cs, ss, se, ah, al, dc_codes, ac_codes) -> bytes:
    """Entropy-coded data for one progressive scan (T.81 Annex G
    encoder side, mirroring the decoder in _decode_prog_scan)."""
    bw_ = _BitWriter()
    if ss == 0:
        interleaved = len(cs) > 1
        if interleaved:
            units_x, units_y = mcus_x, mcus_y
        else:
            units_x, units_y = comp_grids[cs[0]]
        preds = {ci: 0 for ci in cs}
        for uy in range(units_y):
            for ux in range(units_x):
                for ci in cs:
                    h, v = samp[ci]
                    gw = grids[ci][0]
                    reps = h * v if interleaved else 1
                    for b in range(reps):
                        if interleaved:
                            bx = ux * h + (b % h)
                            by = uy * v + (b // h)
                        else:
                            bx, by = ux, uy
                        dc = int(plane_coefs[ci][by * gw + bx, 0])
                        if ah == 0:
                            t_val = dc >> al  # arithmetic shift
                            diff = t_val - preds[ci]
                            preds[ci] = t_val
                            t = abs(diff).bit_length()
                            code, length = dc_codes[t]
                            bw_.write(code, length)
                            if t:
                                bw_.write(
                                    diff if diff >= 0
                                    else diff + (1 << t) - 1, t,
                                )
                        else:
                            bw_.write((dc >> al) & 1, 1)
        bw_.flush()
        return bytes(bw_.out)

    ci = cs[0]
    qz = plane_coefs[ci]
    gw = grids[ci][0]
    bw_c, bh_c = comp_grids[ci]
    state = {"eobrun": 0, "be": []}

    def flush_eobrun():
        e = state["eobrun"]
        if e > 0:
            nbits = e.bit_length() - 1
            code, length = ac_codes[nbits << 4]
            bw_.write(code, length)
            if nbits:
                bw_.write(e & ((1 << nbits) - 1), nbits)
            for bit in state["be"]:
                bw_.write(bit, 1)
            state["eobrun"] = 0
            state["be"] = []

    for bi in range(bw_c * bh_c):
        by, bx = divmod(bi, bw_c)
        row = qz[by * gw + bx]
        if ah == 0:
            # first pass over this spectral band
            temp = [abs(int(row[k])) >> al for k in range(ss, se + 1)]
            if not any(temp):
                state["eobrun"] += 1
                if state["eobrun"] == 0x7FFF:
                    flush_eobrun()
                continue
            flush_eobrun()
            last = max(i for i, t in enumerate(temp) if t)
            r = 0
            for i in range(last + 1):
                t = temp[i]
                if t == 0:
                    r += 1
                    continue
                while r > 15:
                    code, length = ac_codes[0xF0]
                    bw_.write(code, length)
                    r -= 16
                s = t.bit_length()
                code, length = ac_codes[(r << 4) | s]
                bw_.write(code, length)
                v = int(row[ss + i])
                bw_.write(t if v >= 0 else ((1 << s) - 1) - t, s)
                r = 0
            if last < se - ss:
                state["eobrun"] += 1
        else:
            # refinement pass: correction bits for known coefficients,
            # (r, 1) symbols for newly nonzero ones
            temp = [abs(int(row[k])) >> al for k in range(ss, se + 1)]
            eob_pos = -1
            for i, t in enumerate(temp):
                if t == 1:
                    eob_pos = i
            r = 0
            br = []
            for i, t in enumerate(temp):
                if t == 0:
                    r += 1
                    continue
                while r > 15 and i <= eob_pos:
                    flush_eobrun()
                    code, length = ac_codes[0xF0]
                    bw_.write(code, length)
                    r -= 16
                    for bit in br:
                        bw_.write(bit, 1)
                    br = []
                if t > 1:
                    br.append(t & 1)
                    continue
                flush_eobrun()
                code, length = ac_codes[(r << 4) | 1]
                bw_.write(code, length)
                bw_.write(1 if int(row[ss + i]) >= 0 else 0, 1)
                for bit in br:
                    bw_.write(bit, 1)
                br = []
                r = 0
            if r > 0 or br:
                state["eobrun"] += 1
                state["be"].extend(br)
                if state["eobrun"] == 0x7FFF or len(state["be"]) > 900:
                    flush_eobrun()
    flush_eobrun()
    bw_.flush()
    return bytes(bw_.out)


def encode_jpeg(width: int, height: int, channels: int, samples: bytes,
                quant: int = 4, subsample: bool = False,
                restart_interval: int = 0,
                progressive: bool = False,
                multiscan: bool = False) -> bytes:
    """Minimal JFIF encoder with a flat quantizer of step ``quant``;
    exists to roundtrip-test the decoder. ``subsample=True`` emits
    4:2:0 chroma (2x2-averaged); ``restart_interval`` emits DRI + RSTn
    markers every that many MCUs; ``progressive=True`` emits an SOF2
    stream (DC first+refine, two AC spectral bands first+refine per
    component) coding the same coefficients, so baseline and
    progressive streams of one image decode byte-identically;
    ``multiscan=True`` emits a sequential stream with one
    non-interleaved SOS per component (T.81 A.2.2), again coding the
    same coefficients."""
    if progressive and restart_interval:
        raise JpegError("progressive encoder does not emit restarts")
    if multiscan and (progressive or restart_interval):
        raise JpegError("multiscan is a plain sequential variant")
    img = np.frombuffer(samples, dtype=np.uint8).reshape(height, width, channels).astype(np.float64)
    if channels == 3:
        r, g, b = img[..., 0], img[..., 1], img[..., 2]
        planes = [
            0.299 * r + 0.587 * g + 0.114 * b,
            128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b,
            128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b,
        ]
    elif channels == 1:
        planes = [img[..., 0]]
    else:
        raise JpegError("encoder supports 1 or 3 channels")
    if subsample and channels == 3:
        samp = [(2, 2), (1, 1), (1, 1)]
        # 2x2 box-average chroma on an even-padded grid
        for ci in (1, 2):
            p = planes[ci]
            p = np.pad(p, ((0, p.shape[0] % 2), (0, p.shape[1] % 2)), mode="edge")
            planes[ci] = p.reshape(p.shape[0] // 2, 2, p.shape[1] // 2, 2).mean(axis=(1, 3))
    else:
        samp = [(1, 1)] * len(planes)
    qtable = np.full(64, quant, dtype=np.int32)
    hmax = max(h for h, _ in samp)
    vmax = max(v for _, v in samp)
    mcus_x = -(-width // (8 * hmax))
    mcus_y = -(-height // (8 * vmax))

    # quantized zigzag coefficients per plane, on the MCU-aligned grid
    plane_coefs = []
    grids = []
    for (h, v), p in zip(samp, planes):
        gw, gh = mcus_x * h, mcus_y * v  # blocks across / down
        padded = np.pad(
            p,
            ((0, gh * 8 - p.shape[0]), (0, gw * 8 - p.shape[1])),
            mode="edge",
        )
        blocks = (
            padded.reshape(gh, 8, gw, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
            - 128.0
        )
        coefs = _fdct_blocks(blocks)
        # ZIGZAG maps zigzag-index -> natural offset, so indexing natural
        # coefficients at ZIGZAG positions yields zigzag-ordered output
        qz = np.round(coefs / qtable[None, :]).astype(np.int32)[:, ZIGZAG]
        plane_coefs.append(qz)
        grids.append((gw, gh))

    dc_syms = list(range(12))
    # every run/size pair incl. EOBn (s=0, r<=14) and ZRL (0xF0)
    ac_syms = sorted((r << 4) | s for r in range(16) for s in range(11))
    dc_counts, dc_symbytes, dc_codes = _fixed_huffman(dc_syms)
    ac_counts, ac_symbytes, ac_codes = _fixed_huffman(ac_syms)

    def seg(marker: int, payload: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    nc = len(planes)
    header = bytearray(b"\xff\xd8")
    header += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    header += seg(0xDB, bytes([0x00]) + bytes(qtable.astype(np.uint8)))
    sof = bytes([8]) + struct.pack(">HH", height, width) + bytes([nc])
    for ci in range(nc):
        h, v = samp[ci]
        sof += bytes([ci + 1, (h << 4) | v, 0])
    header += seg(0xC2 if progressive else 0xC0, sof)
    if restart_interval:
        header += seg(0xDD, struct.pack(">H", restart_interval))
    header += seg(0xC4, bytes([0x00]) + bytes(dc_counts) + dc_symbytes)
    header += seg(0xC4, bytes([0x10]) + bytes(ac_counts) + ac_symbytes)

    if progressive:
        comp_grids = []
        for ci in range(nc):
            h, v = samp[ci]
            comp_w = -(-(width * h) // hmax)
            comp_h = -(-(height * v) // vmax)
            comp_grids.append((-(-comp_w // 8), -(-comp_h // 8)))
        out = header
        all_cs = list(range(nc))
        script = [(all_cs, 0, 0, 0, 1)]
        script += [([ci], 1, 5, 0, 1) for ci in range(nc)]
        script += [([ci], 6, 63, 0, 1) for ci in range(nc)]
        script += [(all_cs, 0, 0, 1, 0)]
        script += [([ci], 1, 5, 1, 0) for ci in range(nc)]
        script += [([ci], 6, 63, 1, 0) for ci in range(nc)]
        for cs, ss, se, ah, al in script:
            sos = bytes([len(cs)])
            for ci in cs:
                sos += bytes([ci + 1, 0x00])
            sos += bytes([ss, se, (ah << 4) | al])
            out += seg(0xDA, sos)
            out += _encode_prog_scan(
                plane_coefs, grids, comp_grids, samp, mcus_x, mcus_y,
                cs, ss, se, ah, al, dc_codes, ac_codes,
            )
        out += b"\xff\xd9"
        return bytes(out)

    if multiscan:
        # one non-interleaved SOS per component, each walking its own
        # (unpadded) block grid row-major — same coefficients as the
        # interleaved stream, so both decode identically
        out = header
        for ci, qz in enumerate(plane_coefs):
            h, v = samp[ci]
            comp_w = -(-(width * h) // hmax)
            comp_h = -(-(height * v) // vmax)
            bw_c, bh_c = -(-comp_w // 8), -(-comp_h // 8)
            gw = grids[ci][0]
            bw_ = _BitWriter()
            pred = 0
            for by in range(bh_c):
                for bx in range(bw_c):
                    pred = _encode_block(bw_, qz[by * gw + bx], pred,
                                         dc_codes, ac_codes)
            bw_.flush()
            out += seg(0xDA, bytes([1, ci + 1, 0x00, 0, 63, 0]))
            out += bw_.out
        out += b"\xff\xd9"
        return bytes(out)

    bw_ = _BitWriter()
    preds = [0] * len(planes)
    mcu_count = 0
    rst = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                bw_.flush()
                bw_.out += bytes([0xFF, 0xD0 + rst])
                rst = (rst + 1) % 8
                preds = [0] * len(planes)
            mcu_count += 1
            for ci, qz in enumerate(plane_coefs):
                h, v = samp[ci]
                gw = grids[ci][0]
                for dy in range(v):
                    for dx in range(h):
                        idx = (my * v + dy) * gw + (mx * h + dx)
                        preds[ci] = _encode_block(bw_, qz[idx], preds[ci],
                                                  dc_codes, ac_codes)
    bw_.flush()

    out = header
    sos = bytes([nc])
    for ci in range(nc):
        sos += bytes([ci + 1, 0x00])
    sos += bytes([0, 63, 0])
    out += seg(0xDA, sos)
    out += bw_.out
    out += b"\xff\xd9"
    return bytes(out)
