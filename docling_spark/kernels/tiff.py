"""Stdlib TIFF 6.0 decoder: uncompressed / PackBits / LZW strips.

The reference feeds (multi-frame) TIFFs through PIL into its PDF path
(/root/reference/docling/backend/pdf_backend.py:56-90, fixture
tests/data/tiff/2206.01062.tif). This sandbox has no PIL, so the pixel
path is implemented here from the public TIFF 6.0 specification:
baseline IFD walk, strip assembly, PackBits (spec §9), TIFF-variant
LZW (spec §13: MSB-first codes, Clear=256/EOI=257, early code-width
change), horizontal-differencing predictor (spec §14), photometric
interpretations WhiteIsZero / BlackIsZero / RGB(+extra samples) /
Palette, bit depths 1/4/8/16 (16 is downshifted to 8).

Total over arbitrary bytes: malformed streams raise :class:`TiffError`
(callers map it to RasterError — same typed-error contract as the PNG /
GIF / JPEG decoders, so a bad crawl image becomes an error row, never a
Spark task kill).
"""

from __future__ import annotations

import struct

import numpy as np


class TiffError(Exception):
    pass


# IFD entry types -> byte width (only the ones baseline TIFF uses)
_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 6: 1, 7: 1, 8: 2, 9: 4}
_TYPE_FMT = {1: "B", 3: "H", 4: "I", 6: "b", 8: "h", 9: "i"}


def _read_ifds(data: bytes) -> tuple[str, list[dict[int, list[int]]]]:
    """Endianness prefix + one {tag: [values]} dict per IFD (page)."""
    if data[:4] == b"II*\x00":
        e = "<"
    elif data[:4] == b"MM\x00*":
        e = ">"
    else:
        raise TiffError("not a tiff")
    if len(data) < 8:
        raise TiffError("truncated header")
    (off,) = struct.unpack(e + "I", data[4:8])
    ifds = []
    seen = set()
    while off and off not in seen:
        seen.add(off)
        if off + 2 > len(data):
            raise TiffError("truncated IFD")
        (n,) = struct.unpack(e + "H", data[off : off + 2])
        if off + 2 + 12 * n + 4 > len(data):
            raise TiffError("truncated IFD entries")
        tags: dict[int, list[int]] = {}
        for k in range(n):
            p = off + 2 + 12 * k
            tag, typ, cnt = struct.unpack(e + "HHI", data[p : p + 8])
            size = _TYPE_SIZE.get(typ)
            fmt = _TYPE_FMT.get(typ)
            if size is None or fmt is None:
                continue  # RATIONAL / unknown: not needed for decode
            total = size * cnt
            if total <= 4:
                raw = data[p + 8 : p + 8 + total]
            else:
                (voff,) = struct.unpack(e + "I", data[p + 8 : p + 12])
                if voff + total > len(data):
                    raise TiffError("tag value beyond EOF")
                raw = data[voff : voff + total]
            if len(raw) < total:
                raise TiffError("short tag value")
            tags[tag] = list(struct.unpack(e + fmt * cnt, raw))
        (off,) = struct.unpack(
            e + "I", data[off + 2 + 12 * n : off + 6 + 12 * n]
        )
        ifds.append(tags)
        if len(ifds) > 10000:
            raise TiffError("IFD chain too long")
    if not ifds:
        raise TiffError("no IFD")
    return e, ifds


def _unpackbits(src: bytes, expect: int) -> bytes:
    """PackBits RLE (TIFF 6.0 §9)."""
    out = bytearray()
    i, n = 0, len(src)
    while i < n and len(out) < expect:
        b = src[i]
        i += 1
        if b < 128:  # literal run of b+1 bytes
            out += src[i : i + b + 1]
            i += b + 1
        elif b > 128:  # repeat next byte 257-b times
            if i >= n:
                break
            out += src[i : i + 1] * (257 - b)
            i += 1
        # b == 128: no-op
    return bytes(out)


def _lzw_decode(src: bytes, expect: int, early: bool = True) -> bytes:
    """TIFF-variant LZW (spec §13): MSB-first packed codes, Clear=256,
    EOI=257, 9->12-bit codes. ``early=True`` is the spec / libtiff
    "early change" (decoder widens at table size 510/1022/2046, one
    entry before its table fills, because it lags the encoder by one);
    ``early=False`` is the late-change variant some writers emit (the
    same split as PDF's LZWDecode ``EarlyChange`` parameter)."""
    out = bytearray()
    bump_at_delta = 2 if early else 1
    n_total = len(src) * 8
    width = 9
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    prev: bytes | None = None
    bitpos = 0
    while bitpos + width <= n_total and len(out) < expect:
        byte = bitpos >> 3
        chunk = int.from_bytes(src[byte : byte + 3].ljust(3, b"\x00"), "big")
        code = (chunk >> (24 - (bitpos & 7) - width)) & ((1 << width) - 1)
        bitpos += width
        if code == 256:  # Clear
            del table[258:]
            width = 9
            prev = None
            continue
        if code == 257:  # EOI
            break
        if prev is None:
            if code >= len(table):
                raise TiffError("lzw: bad first code")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):  # KwKwK
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise TiffError("lzw: code out of range")
        if (
            prev is not None
            and len(table) >= (1 << width) - bump_at_delta
            and width < 12
        ):
            width += 1
        out += entry
        prev = entry
    return bytes(out)


def _decompress(
    segment: bytes, comp: int, expect: int, lzw_state: list
) -> bytes:
    """One strip/tile payload -> raw bytes (>= expect or TiffError).
    ``lzw_state`` is a one-element list carrying the per-file LZW
    variant (early/late code-width change), detected on first use."""
    if comp == 1:
        dec = segment[:expect]
    elif comp == 32773:
        dec = _unpackbits(segment, expect)
    elif comp == 5:
        if lzw_state[0] is None:
            # writers split between early- and late-change LZW;
            # detect on the first segment, remember for the rest
            try:
                dec = _lzw_decode(segment, expect, early=True)
                if len(dec) < expect:
                    raise TiffError("short strip")
                lzw_state[0] = True
            except TiffError:
                dec = _lzw_decode(segment, expect, early=False)
                lzw_state[0] = False
        else:
            dec = _lzw_decode(segment, expect, early=lzw_state[0])
    else:
        raise TiffError(f"compression {comp} unsupported")
    if len(dec) < expect:
        raise TiffError("short strip data")
    return dec[:expect]


def _samples_from_raw(
    raw: bytes,
    height: int,
    width: int,
    spp: int,
    bps: int,
    row_bytes: int,
    big_endian: bool,
    predictor: int,
    photo: int,
) -> "np.ndarray":
    """Packed row-major bytes -> (h, w, spp) uint8 samples with the
    horizontal-differencing predictor applied. Shared by the strip,
    tile and planar-plane paths (predictor semantics are identical,
    but reset at each segment's own row width — which is why tiles
    must come through here per-tile, not post-assembly)."""
    if bps == 8:
        arr = np.frombuffer(raw, dtype=np.uint8).reshape(
            height, width, spp
        ).copy()
        if predictor == 2:
            arr = np.cumsum(arr.astype(np.uint32), axis=1,
                            dtype=np.uint32).astype(np.uint8)
    elif bps == 16:
        fmt = ">u2" if big_endian else "<u2"
        arr16 = np.frombuffer(raw, dtype=fmt).reshape(height, width, spp)
        if predictor == 2:
            arr16 = np.cumsum(arr16.astype(np.uint32), axis=1,
                              dtype=np.uint32).astype(np.uint16)
        arr = (arr16 >> 8).astype(np.uint8).copy()
    else:  # 1 or 4 bit, spp must be 1 for baseline bilevel/gray/palette
        if spp != 1:
            raise TiffError("sub-byte depth with multiple samples")
        rows = np.frombuffer(raw, dtype=np.uint8).reshape(height, row_bytes)
        bits = np.unpackbits(rows, axis=1)
        if bps == 1:
            arr = bits[:, :width].reshape(height, width, 1)
            if photo != 3:  # bilevel: expand to full range
                arr = arr * np.uint8(255)
        else:  # 4-bit: regroup pairs of nibble bits
            nib = bits.reshape(height, -1, 4)
            vals = (nib[:, :, 0] * 8 + nib[:, :, 1] * 4
                    + nib[:, :, 2] * 2 + nib[:, :, 3]).astype(np.uint8)
            arr = vals[:, :width].reshape(height, width, 1)
            if photo != 3:
                arr = arr * np.uint8(17)  # 0..15 -> 0..255
    if predictor not in (1, 2):
        raise TiffError(f"predictor {predictor} unsupported")
    return arr


def _decode_page(data: bytes, tags: dict[int, list[int]]) -> tuple[int, int, int, bytes]:
    def one(tag, default=None):
        v = tags.get(tag)
        if v is None:
            if default is None:
                raise TiffError(f"missing required tag {tag}")
            return default
        return v[0]

    width = one(256)
    height = one(257)
    if not width or not height or width * height > 500_000_000:
        raise TiffError("bad dimensions")
    spp = one(277, 1)
    bps_list = tags.get(258, [1] * spp)
    if len(set(bps_list)) != 1:
        raise TiffError("mixed bits-per-sample unsupported")
    bps = bps_list[0]
    if bps not in (1, 4, 8, 16):
        raise TiffError(f"bits-per-sample {bps} unsupported")
    comp = one(259, 1)
    photo = one(262, 1)
    if photo == 3 and bps == 16:
        # baseline palette TIFF is 4/8-bit; 16-bit samples are downshifted
        # before the ColorMap lookup, which would silently index the LUT
        # with truncated values — reject rather than emit wrong colors.
        raise TiffError("16-bit palette tiff unsupported")
    predictor = one(317, 1)
    planar = one(284, 1)
    if planar not in (1, 2):
        raise TiffError(f"planar configuration {planar} unsupported")
    big_endian = data[:2] == b"MM"
    tiled = 322 in tags or 323 in tags
    lzw_state: list = [None]  # per-file LZW variant, detected on first use

    def segment(off: int, cnt: int, expect: int) -> bytes:
        if off + cnt > len(data):
            raise TiffError("strip beyond EOF")
        return _decompress(data[off : off + cnt], comp, expect, lzw_state)

    if tiled:
        # TIFF 6.0 §15: the image is a grid of tw x th tiles stored
        # left-to-right, top-to-bottom; edge tiles are padded to full
        # tile size. The predictor resets per tile row, so each tile
        # converts through _samples_from_raw on its own.
        if planar != 1:
            raise TiffError("tiled planar-2 tiff unsupported")
        tw = one(322)
        th = one(323)
        # a tile far larger than the image it tiles is a decode bomb:
        # every tile allocates tw x th samples before cropping
        if not tw or not th or tw * th > min(268_435_456, max(4 * width * height, 1 << 20)):
            raise TiffError("bad tile dimensions")
        offsets = tags.get(324)
        counts = tags.get(325)
        if not offsets or not counts or len(offsets) != len(counts):
            raise TiffError("missing tile offsets/counts")
        across = (width + tw - 1) // tw
        down = (height + th - 1) // th
        if len(offsets) < across * down:
            raise TiffError("missing tiles")
        tile_row_bytes = (tw * spp * bps + 7) // 8
        expect = tile_row_bytes * th
        canvas = np.zeros((height, width, spp), dtype=np.uint8)
        for ty in range(down):
            for tx in range(across):
                off, cnt = (
                    offsets[ty * across + tx],
                    counts[ty * across + tx],
                )
                tile = _samples_from_raw(
                    segment(off, cnt, expect), th, tw, spp, bps,
                    tile_row_bytes, big_endian, predictor, photo,
                )
                y0, x0 = ty * th, tx * tw
                hc, wc = min(th, height - y0), min(tw, width - x0)
                canvas[y0 : y0 + hc, x0 : x0 + wc] = tile[:hc, :wc]
        arr = canvas
    else:
        offsets = tags.get(273)
        counts = tags.get(279)
        if not offsets or not counts or len(offsets) != len(counts):
            raise TiffError("missing strip offsets/counts")
        rows_per_strip = one(278, height)
        if rows_per_strip <= 0:
            raise TiffError("bad rows-per-strip")
        strips_per_plane = (height + rows_per_strip - 1) // rows_per_strip
        if planar == 2:
            # PlanarConfiguration 2: all of component 0's strips, then
            # component 1's, ... — decode each plane as a 1-sample
            # image and interleave
            if bps not in (8, 16):
                raise TiffError("sub-byte planar-2 tiff unsupported")
            if len(offsets) < strips_per_plane * spp:
                raise TiffError("missing strips")
            row_bytes = (width * bps + 7) // 8
            planes = []
            for p in range(spp):
                raw = bytearray()
                rows_done = 0
                for si in range(strips_per_plane):
                    idx = p * strips_per_plane + si
                    nrows = min(rows_per_strip, height - rows_done)
                    raw += segment(
                        offsets[idx], counts[idx], row_bytes * nrows
                    )
                    rows_done += nrows
                planes.append(
                    _samples_from_raw(
                        bytes(raw), height, width, 1, bps, row_bytes,
                        big_endian, predictor, photo,
                    )[:, :, 0]
                )
            arr = np.stack(planes, axis=2)
        else:
            row_bytes = (width * spp * bps + 7) // 8
            raw = bytearray()
            rows_done = 0
            for so, sc in zip(offsets, counts):
                nrows = min(rows_per_strip, height - rows_done)
                raw += segment(so, sc, row_bytes * nrows)
                rows_done += nrows
            if rows_done < height:
                raise TiffError("missing strips")
            arr = _samples_from_raw(
                bytes(raw), height, width, spp, bps, row_bytes,
                big_endian, predictor, photo,
            )

    if photo == 0:  # WhiteIsZero
        arr = np.uint8(255) - arr
    elif photo == 3:  # palette: ColorMap of 3 * 2**bps 16-bit entries
        cmap = tags.get(320)
        ncolors = 1 << bps
        if not cmap or len(cmap) < 3 * ncolors:
            raise TiffError("palette tiff missing ColorMap")
        lut = (np.array(cmap[: 3 * ncolors], dtype=np.uint32)
               .reshape(3, ncolors).T >> 8).astype(np.uint8)
        arr = lut[arr[:, :, 0]]
        spp = 3
    elif photo not in (1, 2):
        raise TiffError(f"photometric {photo} unsupported")

    channels = arr.shape[2]
    if channels not in (1, 3, 4):
        if channels == 2:  # gray + alpha
            arr = arr[:, :, :1]
            channels = 1
        elif channels > 4:
            arr = arr[:, :, :3]
            channels = 3
        else:
            raise TiffError(f"{channels} channels unsupported")
    return width, height, channels, arr.tobytes()


def decode_tiff(data: bytes, page: int = 0) -> tuple[int, int, int, bytes]:
    """TIFF page -> (w, h, channels, 8-bit interleaved samples)."""
    try:
        _, ifds = _read_ifds(data)
        if page >= len(ifds):
            raise TiffError(f"page {page} out of range")
        return _decode_page(data, ifds[page])
    except TiffError:
        raise
    except (struct.error, IndexError, KeyError, ValueError, MemoryError) as e:
        raise TiffError(f"malformed tiff: {type(e).__name__}: {e}") from e


# ---------------------------------------------------------------- encoder
# Deterministic little-endian writer used by the synthetic media corpus
# and the round-trip tests that pin the decoder.


def _packbits_encode(row: bytes) -> bytes:
    out = bytearray()
    i, n = 0, len(row)
    while i < n:
        run = 1
        while i + run < n and run < 128 and row[i + run] == row[i]:
            run += 1
        if run >= 2:
            out += bytes([257 - run, row[i]])
            i += run
            continue
        lit = i
        while (
            i < n
            and i - lit < 128
            and not (i + 1 < n and row[i + 1] == row[i])
        ):
            i += 1
        out += bytes([i - lit - 1]) + row[lit:i]
    return bytes(out)


def _lzw_encode(src: bytes) -> bytes:
    """TIFF-variant LZW encoder (MSB-first, early change) — the exact
    inverse of :func:`_lzw_decode`, used to round-trip-test it."""
    out = bytearray()
    buf = 0
    nbits = 0
    width = 9

    def emit(code: int) -> None:
        nonlocal buf, nbits
        buf = (buf << width) | code
        nbits += width
        while nbits >= 8:
            nbits -= 8
            out.append((buf >> nbits) & 0xFF)
        buf &= (1 << nbits) - 1

    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code = 258
    emit(256)  # Clear
    w = b""
    for b in src:
        wb = w + bytes([b])
        if wb in table:
            w = wb
            continue
        emit(table[w])
        table[wb] = next_code
        next_code += 1
        # early change: width grows one entry before the table fills
        if next_code == (1 << width) - 1:
            if width < 12:
                width += 1
            else:
                emit(256)
                table = {bytes([i]): i for i in range(256)}
                next_code = 258
                width = 9
        w = bytes([b])
    if w:
        emit(table[w])
    emit(257)  # EOI
    if nbits:
        out.append((buf << (8 - nbits)) & 0xFF)
    return bytes(out)


def _encode_segment(raw: bytes, row_bytes: int, compression: int) -> bytes:
    if compression == 32773:
        return b"".join(
            _packbits_encode(raw[i : i + row_bytes])
            for i in range(0, len(raw), row_bytes)
        )
    if compression == 5:
        return _lzw_encode(raw)
    return raw


def encode_tiff(
    pages: list[tuple[int, int, int, bytes]],
    compression: int = 1,
    rows_per_strip: int = 64,
    tile_size: int | None = None,
    planar: int = 1,
) -> bytes:
    """Little-endian baseline TIFF from (w, h, channels, samples)
    pages; compression 1 (none), 5 (LZW) or 32773 (PackBits).
    ``tile_size`` switches to tiled layout (TIFF 6.0 §15, square
    tiles, edge tiles zero-padded); ``planar=2`` stores each
    component's strips separately (PlanarConfiguration 2)."""
    if compression not in (1, 5, 32773):
        raise TiffError(f"cannot encode compression {compression}")
    if planar not in (1, 2) or (tile_size and planar != 1):
        raise TiffError("unsupported layout combination")
    if tile_size is not None and (tile_size <= 0 or tile_size % 16):
        raise TiffError("tile size must be a positive multiple of 16")
    out = bytearray(b"II*\x00\x00\x00\x00\x00")
    ifd_ptr_pos = 4
    for w, h, ch, samples in pages:
        if ch not in (1, 3, 4) or len(samples) != w * h * ch:
            raise TiffError("bad page shape")
        row_bytes = w * ch
        if tile_size is not None:
            ts = tile_size
            arr = np.frombuffer(samples, dtype=np.uint8).reshape(h, w, ch)
            strips = []
            for y0 in range(0, h, ts):
                for x0 in range(0, w, ts):
                    tile = np.zeros((ts, ts, ch), dtype=np.uint8)
                    hc, wc = min(ts, h - y0), min(ts, w - x0)
                    tile[:hc, :wc] = arr[y0 : y0 + hc, x0 : x0 + wc]
                    strips.append(
                        _encode_segment(tile.tobytes(), ts * ch, compression)
                    )
        elif planar == 2:
            arr = np.frombuffer(samples, dtype=np.uint8).reshape(h, w, ch)
            strips = []
            for p in range(ch):
                plane = np.ascontiguousarray(arr[:, :, p])
                for y0 in range(0, h, rows_per_strip):
                    nrows = min(rows_per_strip, h - y0)
                    strips.append(
                        _encode_segment(
                            plane[y0 : y0 + nrows].tobytes(), w, compression
                        )
                    )
        else:
            strips = []
            for y0 in range(0, h, rows_per_strip):
                nrows = min(rows_per_strip, h - y0)
                raw = samples[y0 * row_bytes : (y0 + nrows) * row_bytes]
                strips.append(_encode_segment(raw, row_bytes, compression))
        strip_offs = []
        for s in strips:
            strip_offs.append(len(out))
            out += s
        if len(out) % 2:
            out += b"\x00"

        def arr_val(values, typ):
            """Pack a tag's values; spill to the heap when > 4 bytes."""
            nonlocal out
            fmt = _TYPE_FMT[typ]
            size = _TYPE_SIZE[typ]
            raw = struct.pack("<" + fmt * len(values), *values)
            if len(raw) <= 4:
                return len(values), raw.ljust(4, b"\x00")
            off = len(out)
            out += raw
            if len(out) % 2:
                out += b"\x00"
            return len(values), struct.pack("<I", off)

        entries = []
        photo = 1 if ch == 1 else 2
        tag_data = [
            (256, 4, [w]),
            (257, 4, [h]),
            (258, 3, [8] * ch),
            (259, 3, [compression]),
            (262, 3, [photo]),
            (277, 3, [ch]),
        ]
        if tile_size is not None:
            tag_data += [
                (322, 4, [tile_size]),
                (323, 4, [tile_size]),
                (324, 4, strip_offs),
                (325, 4, [len(s) for s in strips]),
            ]
        else:
            tag_data += [
                (273, 4, strip_offs),
                (278, 4, [rows_per_strip]),
                (279, 4, [len(s) for s in strips]),
            ]
            if planar == 2:
                tag_data.append((284, 3, [2]))
        if ch == 4:
            tag_data.append((338, 3, [2]))  # ExtraSamples: unassoc alpha
        for tag, typ, values in sorted(tag_data):
            cnt, packed = arr_val(values, typ)
            entries.append(struct.pack("<HHI", tag, typ, cnt) + packed)
        ifd_off = len(out)
        struct.pack_into("<I", out, ifd_ptr_pos, ifd_off)
        out += struct.pack("<H", len(entries)) + b"".join(entries)
        ifd_ptr_pos = len(out)
        out += b"\x00\x00\x00\x00"  # next-IFD pointer (patched or final)
    return bytes(out)
