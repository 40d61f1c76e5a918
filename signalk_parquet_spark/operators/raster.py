"""GIF and BMP pixel decoders — pure Python + numpy, no codec library.

GIF (GIF87a/GIF89a): logical screen + global/local color tables, full LZW
decompression (variable code width, clear/end codes, 12-bit cap),
interlaced row order, GIF89a graphic-control transparency (decoded to an
alpha channel); the FIRST frame of animated files, blitted onto the
screen-sized canvas. BMP: BITMAPINFOHEADER BI_RGB (uncompressed) at
8/24/32 bpp, bottom-up or top-down, 4-byte row padding, palette for
8-bit. Out-of-coverage variants return None — the decode_png_pixels
quarantine contract.

With these, DECODERS["image_pixels"] scores real pixels for every format
`sniff_format` recognizes (PNG, JPEG baseline+progressive, GIF, BMP).
Derived from the public GIF89a specification and the public Windows BMP
layout; cross-validated against Java ImageIO on real files
(tests/test_raster.py).
"""

from __future__ import annotations

import struct
from itertools import islice


def _lzw_decode(min_code_size: int, data: bytes) -> bytearray:
    """GIF-flavor LZW: LSB-first variable-width codes, clear/end controls,
    dictionary capped at 4096 entries."""
    clear = 1 << min_code_size
    end = clear + 1

    def fresh():
        d = [bytes([i]) for i in range(clear)] + [b"", b""]
        return d

    dict_ = fresh()
    code_size = min_code_size + 1
    out = bytearray()
    prev = None
    acc = 0
    nbits = 0
    pos = 0
    while True:
        while nbits < code_size:
            if pos >= len(data):
                return out  # truncated streams end silently (common in wild)
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = acc & ((1 << code_size) - 1)
        acc >>= code_size
        nbits -= code_size
        if code == clear:
            dict_ = fresh()
            code_size = min_code_size + 1
            prev = None
            continue
        if code == end:
            return out
        if prev is None:
            if code >= len(dict_):
                raise ValueError("bad first LZW code")
            out += dict_[code]
            prev = code
            continue
        if code < len(dict_):
            entry = dict_[code]
        elif code == len(dict_):
            entry = dict_[prev] + dict_[prev][:1]
        else:
            raise ValueError("LZW code out of range")
        out += entry
        if len(dict_) < 4096:
            dict_.append(dict_[prev] + entry[:1])
            if len(dict_) == (1 << code_size) and code_size < 12:
                code_size += 1
        prev = code


#: interlaced GIF row passes: (start, step)
_INTERLACE = ((0, 8), (4, 8), (2, 4), (1, 2))

#: the two GIF signatures (the first six bytes of every GIF file)
GIF_MAGIC = (b"GIF87a", b"GIF89a")


def _color_table(payload: bytes, i: int, flags: int):
    """The (n, 3) colour table at ``i`` that ``flags`` announces, or None."""
    import numpy as np

    if not flags & 0x80:
        return None, i
    n = 2 << (flags & 0x07)
    return np.frombuffer(payload[i : i + 3 * n], dtype=np.uint8).reshape(n, 3), i + 3 * n


def _gif_walk(payload: bytes):
    """Walk a GIF container: returns None for a non-GIF payload, else
    ``(w, h, bg, gct, frames)``. ``frames`` lazily yields one
    ``(left, top, fw, fh, index_frame, colour_table, transparent, disposal)``
    per image block: the (fh, fw) uint8 colour indices LZW-decoded and
    de-interlaced, the local table or else the global one, and the
    graphic-control transparency index and disposal method of the GCE
    that precedes the block. A trailer ends the walk; a block that is
    neither extension nor image, or an image with no colour table, raises
    ValueError."""
    import numpy as np

    if not payload.startswith(GIF_MAGIC):
        return None
    w, h, flags, bg, _aspect = struct.unpack("<HHBBB", payload[6:13])
    gct, start = _color_table(payload, 13, flags)

    def frames():
        i = start
        transparent = None
        disposal = 0
        while i < len(payload):
            b = payload[i]
            if b == 0x3B:  # trailer
                return
            if b == 0x21:  # extension
                label = payload[i + 1]
                j = i + 2
                if label == 0xF9 and payload[j] >= 4:  # graphic control
                    packed = payload[j + 1]
                    transparent = payload[j + 4] if packed & 0x01 else None
                    disposal = (packed >> 2) & 0x07
                while payload[j]:  # sub-blocks until terminator
                    j += 1 + payload[j]
                i = j + 1
                continue
            if b != 0x2C:  # image descriptor expected
                raise ValueError("unexpected GIF block")
            left, top, fw, fh, iflags = struct.unpack("<HHHHB", payload[i + 1 : i + 10])
            ct, i = _color_table(payload, i + 10, iflags)
            if ct is None:
                ct = gct
            if ct is None:
                raise ValueError("GIF image without a colour table")
            min_code = payload[i]
            i += 1
            lzw = bytearray()
            while payload[i]:
                ln = payload[i]
                lzw += payload[i + 1 : i + 1 + ln]
                i += 1 + ln
            i += 1  # block terminator
            idx = _lzw_decode(min_code, bytes(lzw))
            if len(idx) < fw * fh:
                idx = idx + bytearray(fw * fh - len(idx))
            frame = np.frombuffer(bytes(idx[: fw * fh]), dtype=np.uint8).reshape(fh, fw)
            if iflags & 0x40:  # interlaced: reorder rows
                out_rows = np.zeros_like(frame)
                src = 0
                for row_start, step in _INTERLACE:
                    for row in range(row_start, fh, step):
                        out_rows[row] = frame[src]
                        src += 1
                frame = out_rows
            yield left, top, fw, fh, frame, ct, transparent, disposal
            transparent = None
            disposal = 0

    return w, h, bg, gct, frames()


def decode_gif_pixels(payload: bytes):
    """First frame of a GIF as (H, W, C) uint8 — C=4 (RGBA) when the frame
    declares a transparent index, else C=3."""
    import numpy as np

    try:
        walk = _gif_walk(payload)
        if walk is None:
            return None
        w, h, bg, gct, frames = walk
        first = next(frames, None)
        if first is None:
            return None  # no image block found
        left, top, fw, fh, frame, ct, transparent, _ = first
        # canvas: background color (or 0), first frame blitted at offset
        canvas = np.full((h, w), bg if gct is not None and bg < len(gct) else 0,
                         dtype=np.uint8)
        canvas[top : top + fh, left : left + fw] = frame
        safe = np.minimum(canvas, len(ct) - 1)
        rgb = ct[safe]
        if transparent is None:
            return rgb
        alpha = np.where(canvas == transparent, 0, 255).astype(np.uint8)
        return np.dstack([rgb, alpha])
    except (struct.error, IndexError, ValueError):
        return None


def decode_bmp_pixels(payload: bytes):
    """Uncompressed (BI_RGB) BITMAPINFOHEADER BMP at 8/24/32 bpp as
    (H, W, C) uint8 (C=3 RGB, or 4 RGBA for 32 bpp)."""
    import numpy as np

    if not payload.startswith(b"BM"):
        return None
    try:
        (data_off,) = struct.unpack("<I", payload[10:14])
        (hdr_size,) = struct.unpack("<I", payload[14:18])
        if hdr_size < 40:
            return None
        w, h_raw = struct.unpack("<ii", payload[18:26])
        planes, bpp = struct.unpack("<HH", payload[26:30])
        (compression,) = struct.unpack("<I", payload[30:34])
        if compression != 0 or planes != 1 or bpp not in (8, 24, 32) or w <= 0:
            return None
        top_down = h_raw < 0
        h = -h_raw if top_down else h_raw
        if h == 0:
            return None
        palette = None
        if bpp == 8:
            (ncol,) = struct.unpack("<I", payload[46:50])
            ncol = ncol or 256
            pal_off = 14 + hdr_size
            raw = np.frombuffer(
                payload[pal_off : pal_off + 4 * ncol], dtype=np.uint8
            ).reshape(ncol, 4)
            palette = raw[:, [2, 1, 0]]  # BGRx -> RGB
        stride = (w * (bpp // 8) + 3) & ~3
        rows = []
        for r in range(h):
            off = data_off + r * stride
            rows.append(np.frombuffer(payload[off : off + w * (bpp // 8)],
                                      dtype=np.uint8))
        img = np.stack(rows)
        if not top_down:
            img = img[::-1]
        if bpp == 8:
            return palette[np.minimum(img, len(palette) - 1)]
        img = img.reshape(h, w, bpp // 8)
        if bpp == 24:
            return img[:, :, [2, 1, 0]]  # BGR -> RGB
        return img[:, :, [2, 1, 0, 3]]  # BGRA -> RGBA
    except (struct.error, IndexError, ValueError):
        return None


def decode_gif_frames(payload: bytes, max_frames: int = 64):
    """Decode UP TO ``max_frames`` composited frames of a (possibly
    animated) GIF as a list of (H, W, 3) uint8 arrays — real frame
    sampling, not metadata. Implements the GIF89a animation model: each
    frame draws its non-transparent pixels onto the logical-screen canvas
    at its offset; disposal method 2 restores the background color in the
    frame rect afterwards, method 3 restores the pre-draw canvas. Returns
    None outside coverage (the decode_gif_pixels contract)."""
    import numpy as np

    try:
        walk = _gif_walk(payload)
        if walk is None:
            return None
        w, h, bg, gct, blocks = walk
        bg_rgb = gct[bg] if gct is not None and bg < len(gct) else np.zeros(3, np.uint8)
        canvas = np.broadcast_to(bg_rgb, (h, w, 3)).astype(np.uint8).copy()
        frames = []
        for left, top, fw, fh, frame, ct, transparent, disposal in islice(
            blocks, max(max_frames, 0)
        ):
            before = canvas[top : top + fh, left : left + fw].copy()
            safe = np.minimum(frame, len(ct) - 1)
            rgb = ct[safe]
            if transparent is not None:
                opaque = frame != transparent
                region = canvas[top : top + fh, left : left + fw]
                region[opaque] = rgb[opaque]
            else:
                canvas[top : top + fh, left : left + fw] = rgb
            frames.append(canvas.copy())
            if disposal == 2:  # restore background color in the frame rect
                canvas[top : top + fh, left : left + fw] = bg_rgb
            elif disposal == 3:  # restore pre-draw canvas
                canvas[top : top + fh, left : left + fw] = before
        return frames if frames else None
    except (struct.error, IndexError, ValueError):
        return None


def replicate_to_min(px, min_h: int, min_w: int):
    """Integer pixel replication up to at least (min_h, min_w): inputs
    smaller than a resize target would otherwise create EMPTY boxes
    (repeated edge indices -> zero counts -> divide-by-zero, and distinct
    tiny images collapsing to one hash). Replication preserves box means
    exactly. Shared by resize_box and multimodal._resize_int."""
    h, w = px.shape[:2]
    if h >= min_h and w >= min_w:
        return px
    fy = -(-min_h // max(h, 1))
    fx = -(-min_w // max(w, 1))
    return px.repeat(max(fy, 1), axis=0).repeat(max(fx, 1), axis=1)


def resize_box(px, out_h: int, out_w: int):
    """Integer box-filter resize of an (H, W, C) uint8 array: each output
    pixel is the floor-mean of its source box. Exact integer arithmetic
    (sums in int64), deterministic across platforms — the thumbnailing
    step of a media feature pipeline."""
    import numpy as np

    px = replicate_to_min(px, out_h, out_w)
    h, w = px.shape[:2]
    ys = (np.arange(out_h + 1) * h) // out_h
    xs = (np.arange(out_w + 1) * w) // out_w
    # Summed-area table: every box sum in one vectorized gather.
    sat = np.zeros((h + 1, w + 1) + px.shape[2:], dtype=np.int64)
    sat[1:, 1:] = px.astype(np.int64).cumsum(axis=0).cumsum(axis=1)
    y0, y1 = ys[:-1, None], ys[1:, None]
    x0, x1 = xs[None, :-1], xs[None, 1:]
    sums = sat[y1, x1] - sat[y0, x1] - sat[y1, x0] + sat[y0, x0]
    cnt = (ys[1:] - ys[:-1])[:, None] * (xs[1:] - xs[:-1])[None, :]
    cnt = cnt.reshape(cnt.shape + (1,) * (px.ndim - 2))
    return (sums // cnt).astype(np.uint8)
