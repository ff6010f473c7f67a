"""Stdlib raster decoders: PNG (zlib + unfilter) and GIF (LZW).

Replaces the round-1/2 ``_decode_image_stub`` for the two formats a
crawl actually yields that are decodable without a native codec — PNG
(zlib is in the stdlib) and GIF (LZW is pure bit-twiddling). JPEG and
WebP stay honestly stubbed: their entropy coders (DCT/arith, VP8) are
out of scope without a codec library.

Reference context: docling feeds PIL-decoded images into the PDF path
(/root/reference/docling/backend/pdf_backend.py:56-90) and classifies /
describes pictures with models; here the decoded pixels back the
multimodal feature columns (dimensions, luminance stats, grid
features) of the training-data pipeline.

Decoded representation: ``(width, height, channels, samples)`` with
``samples`` a row-major bytes of 8-bit values (channels interleaved,
1 = gray, 3 = RGB, 4 = RGBA). 16-bit PNGs downscale to 8 by taking the
high byte; palette PNGs and GIFs expand through their color tables.
"""

from __future__ import annotations

import struct
import zlib


class RasterError(Exception):
    pass


# --------------------------------------------------------------- PNG

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
# channels per PNG color type
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}

# Adam7 pass geometry: (x_start, y_start, x_step, y_step)
_ADAM7 = [
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
]


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _unfilter(raw: bytes, n_rows: int, row_bytes: int, bpp: int) -> bytearray:
    """Undo per-scanline PNG filters (types 0-4) in place."""
    out = bytearray(n_rows * row_bytes)
    pos = 0
    for y in range(n_rows):
        if pos >= len(raw):
            raise RasterError("png: truncated image data")
        ftype = raw[pos]
        pos += 1
        line = bytearray(raw[pos : pos + row_bytes])
        if len(line) < row_bytes:
            raise RasterError("png: truncated scanline")
        pos += row_bytes
        prev_off = (y - 1) * row_bytes
        if ftype == 1:  # Sub
            for i in range(bpp, row_bytes):
                line[i] = (line[i] + line[i - bpp]) & 0xFF
        elif ftype == 2:  # Up
            if y:
                for i in range(row_bytes):
                    line[i] = (line[i] + out[prev_off + i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(row_bytes):
                left = line[i - bpp] if i >= bpp else 0
                up = out[prev_off + i] if y else 0
                line[i] = (line[i] + ((left + up) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(row_bytes):
                left = line[i - bpp] if i >= bpp else 0
                up = out[prev_off + i] if y else 0
                ul = out[prev_off + i - bpp] if (y and i >= bpp) else 0
                line[i] = (line[i] + _paeth(left, up, ul)) & 0xFF
        elif ftype != 0:
            raise RasterError(f"png: unknown filter type {ftype}")
        out[y * row_bytes : (y + 1) * row_bytes] = line
    return out


def _samples_from_rows(
    rows: bytearray, w: int, n_rows: int, channels: int, depth: int
) -> bytearray:
    """Unpack filtered rows into 8-bit interleaved samples."""
    n_samp = w * channels
    row_bytes = (n_samp * depth + 7) // 8
    out = bytearray(n_rows * n_samp)
    for y in range(n_rows):
        base = y * row_bytes
        obase = y * n_samp
        if depth == 8:
            out[obase : obase + n_samp] = rows[base : base + n_samp]
        elif depth == 16:
            for i in range(n_samp):
                out[obase + i] = rows[base + 2 * i]
        else:  # 1/2/4-bit packed, MSB first; scale to 8-bit range
            scale = 255 // ((1 << depth) - 1)
            per_byte = 8 // depth
            mask = (1 << depth) - 1
            for i in range(n_samp):
                b = rows[base + i // per_byte]
                shift = 8 - depth * (i % per_byte + 1)
                out[obase + i] = ((b >> shift) & mask) * scale
    return out


def decode_png(data: bytes) -> tuple[int, int, int, bytes]:
    """PNG -> (w, h, channels, 8-bit interleaved samples). Supports all
    five color types, bit depths 1/2/4/8/16, filters 0-4, and Adam7
    interlacing."""
    if data[:8] != _PNG_MAGIC:
        raise RasterError("not a png")
    pos = 8
    w = h = depth = ctype = interlace = None
    palette: bytes | None = None
    idat = bytearray()
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        if tag == b"IHDR":
            if len(body) < 13:
                raise RasterError("png: short IHDR")
            w, h, depth, ctype, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", body[:13]
            )
        elif tag == b"PLTE":
            palette = bytes(body)
        elif tag == b"IDAT":
            idat.extend(body)
        elif tag == b"IEND":
            break
        pos += 12 + length
    if w is None or not idat:
        raise RasterError("png: missing IHDR/IDAT")
    if ctype not in _PNG_CHANNELS:
        raise RasterError(f"png: bad color type {ctype}")
    channels = _PNG_CHANNELS[ctype]
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as e:
        raise RasterError(f"png: bad zlib stream: {e}") from e
    bpp = max(1, channels * depth // 8)

    if interlace == 0:
        row_bytes = (w * channels * depth + 7) // 8
        rows = _unfilter(raw, h, row_bytes, bpp)
        samples = _samples_from_rows(rows, w, h, channels, depth)
    elif interlace == 1:  # Adam7
        samples = bytearray(w * h * channels)
        pos2 = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            row_bytes = (pw * channels * depth + 7) // 8
            sub = raw[pos2 : pos2 + ph * (1 + row_bytes)]
            pos2 += ph * (1 + row_bytes)
            rows = _unfilter(sub, ph, row_bytes, bpp)
            ss = _samples_from_rows(rows, pw, ph, channels, depth)
            for py in range(ph):
                for px in range(pw):
                    src = (py * pw + px) * channels
                    dst = ((y0 + py * dy) * w + (x0 + px * dx)) * channels
                    samples[dst : dst + channels] = ss[src : src + channels]
    else:
        raise RasterError(f"png: unknown interlace {interlace}")

    if ctype == 3:  # palette -> RGB
        if palette is None:
            raise RasterError("png: palette image without PLTE")
        rgb = bytearray(w * h * 3)
        # packed-depth palette indices were scaled by _samples_from_rows;
        # undo the scale to recover the index
        scale = 255 // ((1 << depth) - 1) if depth < 8 else 1
        for i in range(w * h):
            idx = samples[i] // scale
            off = idx * 3
            if off + 3 > len(palette):
                raise RasterError("png: palette index out of range")
            rgb[3 * i : 3 * i + 3] = palette[off : off + 3]
        return w, h, 3, bytes(rgb)
    return w, h, channels, bytes(samples)


# --------------------------------------------------------------- GIF


def _lzw_decode(min_code_size: int, data: bytes, max_pixels: int) -> bytearray:
    """GIF-variant LZW: variable code width, clear + EOI codes."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()

    bitpos = 0
    nbits = len(data) * 8

    def read_code(width: int) -> int:
        nonlocal bitpos
        if bitpos + width > nbits:
            return eoi
        byte_i = bitpos >> 3
        val = int.from_bytes(data[byte_i : byte_i + 3], "little")
        val = (val >> (bitpos & 7)) & ((1 << width) - 1)
        bitpos += width
        return val

    def reset():
        return {i: bytes([i]) for i in range(clear)}, min_code_size + 1

    table, width = reset()
    prev: bytes | None = None
    next_code = eoi + 1
    while True:
        code = read_code(width)
        if code == eoi:
            break
        if code == clear:
            table, width = reset()
            next_code = eoi + 1
            prev = None
            continue
        if prev is None:
            entry = table.get(code)
            if entry is None:
                raise RasterError("gif: bad first code")
        elif code in table:
            entry = table[code]
        elif code == next_code:
            entry = prev + prev[:1]
        else:
            raise RasterError("gif: code out of sequence")
        out.extend(entry)
        if len(out) > max_pixels:
            break
        if prev is not None and next_code < 4096:
            table[next_code] = prev + entry[:1]
            next_code += 1
            if next_code == (1 << width) and width < 12:
                width += 1
        prev = entry
    return out


def decode_gif(data: bytes) -> tuple[int, int, int, bytes]:
    """GIF (first frame) -> (w, h, 3, RGB samples). Handles global and
    local color tables, interlaced frames, and 89a extension blocks."""
    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise RasterError("not a gif")
    if len(data) < 13:
        raise RasterError("gif: truncated header")
    sw, sh, flags, _bg, _ar = struct.unpack("<HHBBB", data[6:13])
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 7)
        gct = data[pos : pos + 3 * n]
        pos += 3 * n
    while pos < len(data):
        b = data[pos]
        if b == 0x21:  # extension: skip sub-blocks
            pos += 2
            while pos < len(data) and data[pos]:
                pos += 1 + data[pos]
            pos += 1
        elif b == 0x2C:  # image descriptor
            if pos + 10 > len(data):
                raise RasterError("gif: truncated image descriptor")
            _left, _top, fw, fh, iflags = struct.unpack(
                "<HHHHB", data[pos + 1 : pos + 10]
            )
            pos += 10
            ct = gct
            if iflags & 0x80:
                n = 2 << (iflags & 7)
                ct = data[pos : pos + 3 * n]
                pos += 3 * n
            if ct is None:
                raise RasterError("gif: no color table")
            if pos >= len(data):
                raise RasterError("gif: truncated image data")
            min_code = data[pos]
            pos += 1
            lzw = bytearray()
            while pos < len(data) and data[pos]:
                n = data[pos]
                lzw.extend(data[pos + 1 : pos + 1 + n])
                pos += 1 + n
            idx = _lzw_decode(min_code, bytes(lzw), fw * fh)
            if len(idx) < fw * fh:
                raise RasterError("gif: short pixel data")
            if iflags & 0x40:  # interlaced rows
                order = (
                    list(range(0, fh, 8))
                    + list(range(4, fh, 8))
                    + list(range(2, fh, 4))
                    + list(range(1, fh, 2))
                )
                de = bytearray(fw * fh)
                for src_row, dst_row in enumerate(order):
                    de[dst_row * fw : (dst_row + 1) * fw] = idx[
                        src_row * fw : (src_row + 1) * fw
                    ]
                idx = de
            rgb = bytearray(fw * fh * 3)
            n_colors = len(ct) // 3
            for i in range(fw * fh):
                c = idx[i]
                if c >= n_colors:
                    c = 0
                rgb[3 * i : 3 * i + 3] = ct[3 * c : 3 * c + 3]
            return fw, fh, 3, bytes(rgb)
        elif b == 0x3B:  # trailer
            break
        else:
            raise RasterError(f"gif: unknown block 0x{b:02x}")
    raise RasterError("gif: no image frame")


def encode_gif_gray(w: int, h: int, pixels: bytes) -> bytes:
    """Minimal GIF89a encoder for an 8-bit gray plane (256-entry gray
    palette, valid variable-width LZW stream). Exists so synthetic
    media corpora exercise the REAL GIF decode path, not a stub."""
    if len(pixels) != w * h:
        raise RasterError("encode_gif_gray: bad plane size")
    ct = bytes(v for g in range(256) for v in (g, g, g))
    mcs = 8
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    stream: list[tuple[int, int]] = [(clear, mcs + 1)]
    width, cnt, first = mcs + 1, eoi + 1, True
    for px in pixels:
        stream.append((px, width))
        if first:
            first = False
        else:
            cnt += 1
            if cnt == (1 << width) and width < 12:
                width += 1
        if cnt >= 4094:
            stream.append((clear, width))
            width, cnt, first = mcs + 1, eoi + 1, True
    stream.append((eoi, width))
    acc = nbits = 0
    out = bytearray()
    for code, wd in stream:
        acc |= code << nbits
        nbits += wd
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        out.append(acc & 0xFF)
    blocks = bytearray()
    for i in range(0, len(out), 255):
        chunk = out[i : i + 255]
        blocks.append(len(chunk))
        blocks.extend(chunk)
    blocks.append(0)
    return (
        b"GIF89a"
        + struct.pack("<HHBBB", w, h, 0x80 | 7, 0, 0)
        + ct
        + b"\x2c"
        + struct.pack("<HHHHB", 0, 0, w, h, 0)
        + bytes([mcs])
        + bytes(blocks)
        + b"\x3b"
    )


# ------------------------------------------------------ features


def decode_image(data: bytes, page: int = 0) -> tuple[int, int, int, bytes]:
    """PNG, GIF, JPEG (baseline + progressive), TIFF (uncompressed /
    PackBits / LZW) or WebP (system libwebp via ctypes, when present)
    -> (w, h, channels, samples); RasterError otherwise. The one pixel
    codec dispatch: the router's image route and the media operator
    both decode here. ``page`` selects the IFD of a multi-page TIFF;
    the other formats have one frame and ignore it.

    Total over arbitrary bytes: every malformed stream raises
    RasterError — the Spark extraction path depends on this to emit an
    error row instead of killing the task on one bad crawl image."""
    try:
        if data[:8] == _PNG_MAGIC:
            return decode_png(data)
        if data[:6] in (b"GIF87a", b"GIF89a"):
            return decode_gif(data)
        if data[:4] in (b"II*\x00", b"MM\x00*"):
            from .tiff import TiffError, decode_tiff

            try:
                return decode_tiff(data, page)
            except TiffError as e:
                raise RasterError(f"tiff: {e}") from e
        if data[:4] == b"RIFF" and data[8:12] == b"WEBP":
            from .webp import WebpError, decode_webp

            try:
                return decode_webp(data)
            except WebpError as e:
                raise RasterError(f"webp: {e}") from e
        if data[:3] == b"\xff\xd8\xff":
            from .jpeg import JpegError, decode_jpeg

            try:
                return decode_jpeg(data)
            except JpegError as e:
                raise RasterError(f"jpeg: {e}") from e
    except RasterError:
        raise
    except (struct.error, IndexError, KeyError, ValueError, MemoryError) as e:
        raise RasterError(f"malformed image: {type(e).__name__}: {e}") from e
    raise RasterError("no stdlib decoder for this format")


def luminance_plane(w: int, h: int, channels: int, samples: bytes) -> bytes:
    """8-bit gray plane: Rec.601 luma for color, channel 0 for gray."""
    if channels == 1:
        return samples
    if channels == 2:  # gray + alpha (e.g. PNG color type 4): luma = gray
        return samples[0::2]
    import numpy as np

    arr = np.frombuffer(samples, dtype=np.uint8).reshape(-1, channels)
    rgb = arr[:, :3].astype(np.uint32)
    lum = (299 * rgb[:, 0] + 587 * rgb[:, 1] + 114 * rgb[:, 2]) // 1000
    return lum.astype(np.uint8).tobytes()
