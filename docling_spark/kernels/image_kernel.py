"""P7: IMAGE -> PDF-path adaptation.

Reference semantics: an IMAGE input is converted to a (multi-page for
multi-frame TIFF) PDF and fed to the PDF backend
(/root/reference/docling/backend/pdf_backend.py:56-90 via PIL). This
sandbox has no PIL, so the codecs are implemented from the public
specs instead: PNG (zlib+unfilter), GIF (LZW), JPEG baseline +
progressive (T.81), TIFF uncompressed/PackBits/LZW (TIFF 6.0); WebP
decodes through the system libwebp via ctypes (kernels/webp.py). Each
frame becomes a PdfPage whose full area is one bitmap rect carrying
the real decoded luma plane (exactly what PIL's image-PDF wrapping
produces: a single full-page image XObject, no text), and the P10 OCR
decision then reports full-page coverage. On a host without libwebp,
WebP frames keep a pixel-less bitmap rect (the pre-r4 stub).
"""

from __future__ import annotations

import struct

from .pdf_kernel import PdfPage


class ImageError(Exception):
    pass


def _tiff_frames(data: bytes) -> list[tuple[int, int, int]]:
    """(width, height, IFD index) per sized IFD of a TIFF file; IFDs
    without ImageWidth/ImageLength are not frames."""
    if data[:4] == b"II*\x00":
        endian = "<"
    elif data[:4] == b"MM\x00*":
        endian = ">"
    else:
        raise ImageError("not a tiff")
    frames = []
    (off,) = struct.unpack(endian + "I", data[4:8])
    seen = set()
    while off and off not in seen and off + 2 <= len(data):
        ifd = len(seen)
        seen.add(off)
        (n_entries,) = struct.unpack(endian + "H", data[off : off + 2])
        width = height = 0
        for i in range(n_entries):
            e = off + 2 + i * 12
            if e + 12 > len(data):
                break
            tag, typ = struct.unpack(endian + "HH", data[e : e + 4])
            if tag in (256, 257):  # ImageWidth / ImageLength
                if typ == 3:  # SHORT
                    (val,) = struct.unpack(endian + "H", data[e + 8 : e + 10])
                else:  # LONG
                    (val,) = struct.unpack(endian + "I", data[e + 8 : e + 12])
                if tag == 256:
                    width = val
                else:
                    height = val
        if width and height:
            frames.append((width, height, ifd))
        nxt = off + 2 + n_entries * 12
        if nxt + 4 > len(data):
            break
        (off,) = struct.unpack(endian + "I", data[nxt : nxt + 4])
    if not frames:
        raise ImageError("tiff has no sized frames")
    return frames


def _webp_size(data: bytes) -> tuple[int, int]:
    if data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        raise ImageError("not a webp")
    chunk = data[12:16]
    if chunk == b"VP8X" and len(data) >= 30:
        w = int.from_bytes(data[24:27], "little") + 1
        h = int.from_bytes(data[27:30], "little") + 1
        return w, h
    if chunk == b"VP8 " and len(data) >= 30:
        w = int.from_bytes(data[26:28], "little") & 0x3FFF
        h = int.from_bytes(data[28:30], "little") & 0x3FFF
        return w, h
    if chunk == b"VP8L" and len(data) >= 25:
        bits = int.from_bytes(data[21:25], "little")
        w = (bits & 0x3FFF) + 1
        h = ((bits >> 14) & 0x3FFF) + 1
        return w, h
    raise ImageError("unsupported webp variant")


def _png_size(data: bytes) -> tuple[int, int]:
    if data[:8] != b"\x89PNG\r\n\x1a\n" or len(data) < 24:
        raise ImageError("not a png")
    w, h = struct.unpack(">II", data[16:24])
    return w, h


def _gif_size(data: bytes) -> tuple[int, int]:
    if data[:4] != b"GIF8" or len(data) < 10:
        raise ImageError("not a gif")
    w, h = struct.unpack("<HH", data[6:10])
    return w, h


def _jpeg_size(data: bytes) -> tuple[int, int]:
    if data[:3] != b"\xff\xd8\xff":
        raise ImageError("not a jpeg")
    i = 2
    while i + 9 < len(data):
        if data[i] != 0xFF:
            i += 1
            continue
        marker = data[i + 1]
        if marker == 0xFF:  # legal fill byte before a marker
            i += 1
            continue
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        (seg_len,) = struct.unpack(">H", data[i + 2 : i + 4])
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            h, w = struct.unpack(">HH", data[i + 5 : i + 9])
            return w, h
        i += 2 + seg_len
    raise ImageError("jpeg has no SOF marker")


def _frames(payload: bytes) -> list[tuple[int, int, int]]:
    """(width, height, page) per frame for any supported raster format;
    ``page`` is the index ``raster.decode_image`` decodes that frame at."""
    head = payload[:16]
    if head[:4] in (b"II*\x00", b"MM\x00*"):
        return _tiff_frames(payload)
    if head[:4] == b"RIFF":
        return [(*_webp_size(payload), 0)]
    if head[:8] == b"\x89PNG\r\n\x1a\n":
        return [(*_png_size(payload), 0)]
    if head[:4] == b"GIF8":
        return [(*_gif_size(payload), 0)]
    if head[:3] == b"\xff\xd8\xff":
        return [(*_jpeg_size(payload), 0)]
    raise ImageError("unsupported image format")


def image_frames(payload: bytes) -> list[tuple[int, int]]:
    """(width, height) per frame for any supported raster format."""
    return [(w, h) for w, h, _ in _frames(payload)]


def image_to_pdf_pages(payload: bytes) -> list[PdfPage]:
    """IMAGE -> PDF-path pages: one PdfPage per frame, zero text cells,
    one full-page bitmap rect — the exact page shape PIL's image-PDF
    conversion hands the reference's PDF backend. When
    ``raster.decode_image`` decodes the frame (PNG/GIF/JPEG/TIFF
    stdlib; WebP via system libwebp) the rect carries the real decoded
    luma plane; otherwise the rect stays pixel-less."""
    from .raster import decode_image, luminance_plane

    pages = []
    for i, (w, h, frame) in enumerate(_frames(payload)):
        page = PdfPage(i + 1, float(w), float(h))
        page.bitmap_rects.append((0.0, 0.0, float(w), float(h)))
        try:
            pw, ph, ch, samples = decode_image(payload, page=frame)
            pix = (pw, ph, luminance_plane(pw, ph, ch, samples))
        except Exception:
            pix = None  # no codec on this host (webp) or malformed frame
        page.bitmap_pixels.append(pix)
        pages.append(page)
    return pages


def png_dpi(data: bytes) -> int:
    """DPI from the PNG pHYs chunk (pixels-per-metre), if present, else 72."""
    pos = 8
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        ctype = data[pos + 4 : pos + 8]
        if ctype == b"pHYs" and pos + 8 + 9 <= len(data):
            ppm_x, _, unit = struct.unpack(">IIB", data[pos + 8 : pos + 17])
            if unit == 1 and ppm_x:
                return round(ppm_x * 0.0254)
            return 72
        if ctype == b"IDAT":
            break
        pos += 12 + length
    return 72


def image_ref_payload(path_or_ext: str, data: bytes) -> dict | None:
    """docling ImageRef-shaped dict for an embedded media file:
    mimetype, dpi (PNG pHYs, else 72), pixel size, base64 data uri.
    NOTE: the reference re-encodes pixels through PIL before embedding,
    so the uri bytes differ from the original media stream while the
    image content is identical — tests compare modulo the uri."""
    import base64

    ext = path_or_ext.rsplit(".", 1)[-1].lower()
    mime = {"png": "image/png", "jpg": "image/jpeg", "jpeg": "image/jpeg",
            "gif": "image/gif", "tif": "image/tiff",
            "tiff": "image/tiff"}.get(ext)
    if mime is None:
        return None
    try:
        w, h = image_frames(data)[0]
    except ImageError:
        return None
    dpi = png_dpi(data) if mime == "image/png" else 72
    return {
        "mimetype": mime,
        "dpi": dpi,
        "size": {"width": float(w), "height": float(h)},
        "uri": f"data:{mime};base64," + base64.b64encode(data).decode("ascii"),
    }
