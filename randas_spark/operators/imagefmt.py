"""Dependency-free BMP, GIF and baseline-JPEG decoders (stdlib only) —
png.py's siblings (VERDICT r10 order #5 and r11 order #6: shrink the
multimodal stub surface with the formats that ARE stdlib-decodable).

All feed operators/multimodal.decode_image the same
(width, height, channels, pixels) contract as decode_png, so the
mapInPandas plumbing above them is untouched; a production cluster
swaps in PIL/opencv behind the same kernel signature. With these (plus
vp8l.py and the r13 animated-GIF path below), the NotImplementedError
fallback narrows to lossy-VP8 / arithmetic JPEG / true video
containers — the formats whose entropy coding genuinely needs a codec
library.

Profiles:
- BMP: BITMAPINFOHEADER (and the larger V4/V5 headers, which embed it),
  bottom-up or top-down rows, 24-bit and 32-bit BGRA BI_RGB, 16-bit
  (5-5-5 BI_RGB and arbitrary contiguous BI_BITFIELDS masks with exact
  bit-replication expansion), 1/4/8-bit palette BI_RGB (MSB-first
  packing), and BI_RLE8 + BI_RLE4 (absolute + encoded runs, EOL/EOD/
  delta escapes) — the full profile matrix a crawl actually contains
  (r13 completed 1/4/16/32-bit + RLE4).
- GIF: 87a/89a, global and local color tables, variable-width LZW with
  clear/end codes, interlaced and non-interlaced. decode_gif returns
  the first frame frame-local (a GCE transparent index is emitted as
  its palette color — single-frame feature extraction has no
  compositing stack); decode_gif_frames (r13) decodes the WHOLE
  animation with GIF89a compositing — sub-frame offsets, transparency,
  disposal 1/2/3 — and encode_gif_animation writes multi-frame
  fixtures via a literal-code LZW writer.
- JPEG: baseline sequential JFIF (SOF0/SOF1) — canonical Huffman,
  zigzag dequant, separable float IDCT, arbitrary 1-4 h/v sampling
  with nearest-neighbor chroma upsampling, DRI/RSTn restart intervals,
  0xFF00 unstuffing, JFIF YCbCr->RGB — AND progressive JFIF (SOF2,
  r13): spectral-selection / successive-approximation scans per T.81
  Annex G, interleaved DC + non-interleaved AC, EOB runs, DC/AC
  refinement passes. Arithmetic-coded/12-bit/hierarchical profiles
  raise ValueError.

Format references: the public Windows BMP file-format documentation,
the GIF89a specification (CompuServe, 1990), and ITU-T T.81 + JFIF
1.02 for JPEG — all long-published open specs.
"""

from __future__ import annotations

import struct

BMP_MAGIC = b"BM"
GIF_MAGICS = (b"GIF87a", b"GIF89a")


def decode_bmp(data: bytes) -> tuple[int, int, int, bytes]:
    """data → (width, height, channels, pixels), row-major top-down RGB
    (BMP stores BGR bottom-up; both are normalized here so every decoder
    in the family emits the same pixel order)."""
    if data[:2] != BMP_MAGIC:
        raise ValueError("not a BMP payload")
    if len(data) < 54:
        raise ValueError("truncated BMP header")
    pix_off = struct.unpack_from("<I", data, 10)[0]
    hdr_size = struct.unpack_from("<I", data, 14)[0]
    if hdr_size < 40:
        raise ValueError(f"unsupported BMP header size {hdr_size} (BITMAPCOREHEADER era)")
    width, height = struct.unpack_from("<ii", data, 18)
    planes, bpp = struct.unpack_from("<HH", data, 26)
    compression = struct.unpack_from("<I", data, 30)[0]
    if planes != 1 or width <= 0 or width > 1 << 16 or abs(height) > 1 << 16:
        raise ValueError("malformed BMP dimensions")
    top_down = height < 0
    height = abs(height)
    n_colors = struct.unpack_from("<I", data, 46)[0]

    if bpp == 24 and compression == 0:
        row_stride = (width * 3 + 3) & ~3
        need = pix_off + row_stride * height
        if len(data) < need:
            raise ValueError("truncated BMP pixel data")
        out = bytearray(width * height * 3)
        for r in range(height):
            src_row = r if top_down else height - 1 - r
            base = pix_off + src_row * row_stride
            dst = r * width * 3
            for x in range(width):
                b, g, rr = data[base + 3 * x : base + 3 * x + 3]
                out[dst + 3 * x] = rr
                out[dst + 3 * x + 1] = g
                out[dst + 3 * x + 2] = b
        return width, height, 3, bytes(out)

    if bpp in (16, 32) and compression in (0, 3):  # 555/BGRA / BITFIELDS (r13)
        if compression == 3:
            if len(data) < 66:
                raise ValueError("truncated BMP bitfields masks")
            # the three channel masks sit right after the 40-byte info
            # header (V4/V5 embed them at the same offset)
            rm, gm, bm = struct.unpack_from("<III", data, 54)
        elif bpp == 16:
            rm, gm, bm = 0x7C00, 0x03E0, 0x001F  # BI_RGB 16-bit means 5-5-5
        else:
            rm, gm, bm = 0x00FF0000, 0x0000FF00, 0x000000FF  # BI_RGB BGRA
        masks = []
        for m in (rm, gm, bm):
            if m == 0:
                raise ValueError("BMP bitfields mask is zero")
            shift = (m & -m).bit_length() - 1
            bits = (m >> shift).bit_length()
            if bits > 8 or (m >> shift) != (1 << bits) - 1:
                raise ValueError(f"non-contiguous BMP channel mask 0x{m:x}")
            # exact bit-replication expansion to 8 bits (0 -> 0 and
            # channel max -> 255 for EVERY width 1..8, incl. 1-3 bits):
            # repeat the bit pattern until >= 8 bits, keep the top 8
            table = []
            for v in range(1 << bits):
                acc, nb = 0, 0
                while nb < 8:
                    acc = (acc << bits) | v
                    nb += bits
                table.append(acc >> (nb - 8))
            masks.append((m, shift, table))
        nbytes = bpp // 8
        row_stride = (width * nbytes + 3) & ~3
        if len(data) < pix_off + row_stride * height:
            raise ValueError("truncated BMP pixel data")
        out = bytearray(width * height * 3)
        for r in range(height):
            src_row = r if top_down else height - 1 - r
            base = pix_off + src_row * row_stride
            dst = r * width * 3
            for x in range(width):
                px = int.from_bytes(
                    data[base + nbytes * x : base + nbytes * x + nbytes], "little"
                )
                for c, (m, shift, table) in enumerate(masks):
                    out[dst + 3 * x + c] = table[(px & m) >> shift]
        return width, height, 3, bytes(out)

    if bpp in (1, 4, 8) and compression in (0, 1, 2):
        # palette profiles: BI_RGB at 1/4/8 bits per index, BI_RLE8
        # (bpp 8 + compression 1), BI_RLE4 (bpp 4 + compression 2, r13)
        if compression == 1 and bpp != 8:
            raise ValueError("BI_RLE8 requires 8-bit BMP")
        if compression == 2 and bpp != 4:
            raise ValueError("BI_RLE4 requires 4-bit BMP")
        n_colors = n_colors or (1 << bpp)
        pal_off = 14 + hdr_size
        if len(data) < pal_off + 4 * n_colors:
            raise ValueError("truncated BMP palette")
        palette = [
            (data[pal_off + 4 * i + 2], data[pal_off + 4 * i + 1], data[pal_off + 4 * i])
            for i in range(n_colors)
        ]
        idx = bytearray(width * height)  # bottom-up index plane
        if compression == 0:
            row_stride = ((width * bpp + 31) // 32) * 4
            if len(data) < pix_off + row_stride * height:
                raise ValueError("truncated BMP pixel data")
            per_byte = 8 // bpp
            mask = (1 << bpp) - 1
            for r in range(height):
                base = pix_off + r * row_stride
                row = r * width
                if bpp == 8:
                    idx[row : row + width] = data[base : base + width]
                else:  # 1/4-bit: MSB-first packing
                    for x in range(width):
                        byte = data[base + x // per_byte]
                        shift = 8 - bpp * (x % per_byte + 1)
                        idx[row + x] = (byte >> shift) & mask
        else:  # RLE8 / RLE4: escapes 0=EOL 1=EOD 2=delta, else runs
            i, x, y = pix_off, 0, 0
            while i + 1 < len(data):
                count, val = data[i], data[i + 1]
                i += 2
                if count > 0:  # encoded run
                    if y >= height or x + count > width:
                        raise ValueError("BMP RLE run overflows the bitmap")
                    if compression == 1:
                        idx[y * width + x : y * width + x + count] = bytes([val]) * count
                    else:  # RLE4 alternates the two nibbles of val
                        for k in range(count):
                            idx[y * width + x + k] = (val >> 4) if k % 2 == 0 else (val & 0x0F)
                    x += count
                elif val == 0:  # end of line
                    x, y = 0, y + 1
                elif val == 1:  # end of data
                    break
                elif val == 2:  # delta jump (right, up in file order)
                    if i + 1 >= len(data):
                        raise ValueError("truncated BMP RLE delta")
                    x += data[i]
                    y += data[i + 1]
                    i += 2
                else:  # absolute mode: val literal indices, word-aligned
                    n_bytes = val if compression == 1 else (val + 1) // 2
                    if i + n_bytes > len(data):
                        raise ValueError("truncated BMP RLE absolute run")
                    if y >= height or x + val > width:
                        raise ValueError("BMP RLE run overflows the bitmap")
                    if compression == 1:
                        idx[y * width + x : y * width + x + val] = data[i : i + val]
                    else:
                        for k in range(val):
                            byte = data[i + k // 2]
                            idx[y * width + x + k] = (byte >> 4) if k % 2 == 0 else (byte & 0x0F)
                    x += val
                    i += n_bytes + (n_bytes & 1)
                if x > width or y > height:
                    raise ValueError("BMP RLE run overflows the bitmap")
        out = bytearray(width * height * 3)
        for r in range(height):
            src_row = r if top_down else height - 1 - r
            dst = r * width * 3
            for x in range(width):
                c = idx[src_row * width + x]
                if c >= len(palette):
                    raise ValueError("BMP index outside the color table")
                out[dst + 3 * x : dst + 3 * x + 3] = bytes(palette[c])
        return width, height, 3, bytes(out)

    raise ValueError(f"unsupported BMP profile: bpp={bpp} compression={compression}")


def encode_bmp(pixels: bytes, width: int, height: int) -> bytes:
    """Row-major RGB bytes → 24-bit BI_RGB bottom-up BMP (r13). The
    fixture-encoder sibling of png.encode_png: lets oracle-backed
    queries and tests drive the BMP decode path with known pixels."""
    if len(pixels) != width * height * 3:
        raise ValueError("pixel buffer size mismatch")
    stride = (width * 3 + 3) & ~3
    body = bytearray()
    for r in range(height - 1, -1, -1):  # bottom-up file order
        row = bytearray()
        for x in range(width):
            p = (r * width + x) * 3
            row += bytes((pixels[p + 2], pixels[p + 1], pixels[p]))  # BGR
        row += b"\x00" * (stride - len(row))
        body += row
    info = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(body), 2835, 2835, 0, 0
    )
    return (
        b"BM"
        + struct.pack("<IHHI", 14 + 40 + len(body), 0, 0, 14 + 40)
        + info
        + bytes(body)
    )


def _gif_subblocks(data: bytes, i: int) -> tuple[bytes, int]:
    """Concatenate a GIF sub-block chain starting at ``i``; returns
    (payload, index after the 0x00 terminator)."""
    chunks = []
    while True:
        if i >= len(data):
            raise ValueError("truncated GIF sub-block chain")
        n = data[i]
        i += 1
        if n == 0:
            return b"".join(chunks), i
        chunks.append(data[i : i + n])
        if len(data) < i + n:
            raise ValueError("truncated GIF sub-block")
        i += n


def _gif_lzw(min_code_size: int, payload: bytes, n_pixels: int) -> bytearray:
    """GIF variable-width LZW decode → index stream (first n_pixels)."""
    clear = 1 << min_code_size
    end = clear + 1
    out = bytearray()
    # bit reader: GIF packs codes LSB-first
    bitpos = 0
    total_bits = len(payload) * 8

    def read_code(width: int) -> int | None:
        nonlocal bitpos
        if bitpos + width > total_bits:
            return None
        byte_i, bit_i = divmod(bitpos, 8)
        val = int.from_bytes(payload[byte_i : byte_i + 3], "little")
        val = (val >> bit_i) & ((1 << width) - 1)
        bitpos += width
        return val

    def reset_table() -> tuple[list[bytes], int]:
        return [bytes([i]) for i in range(clear)] + [b"", b""], min_code_size + 1

    table, width = reset_table()
    prev: bytes | None = None
    while len(out) < n_pixels:
        code = read_code(width)
        if code is None or code == end:
            break
        if code == clear:
            table, width = reset_table()
            prev = None
            continue
        if code < len(table):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]  # the KwKwK case
        else:
            raise ValueError("corrupt GIF LZW stream")
        out.extend(entry)
        if prev is not None:
            table.append(prev + entry[:1])
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = entry
    if len(out) < n_pixels:
        raise ValueError("GIF LZW stream ended before the frame filled")
    return out[:n_pixels]


_GIF_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def decode_gif(data: bytes) -> tuple[int, int, int, bytes]:
    """data → (width, height, channels, pixels): the FIRST image frame,
    palette-expanded to row-major RGB. Frames smaller than the logical
    screen decode at their own (w, h) — single-frame feature extraction
    needs the frame's pixels, not a compositing canvas."""
    if data[:6] not in GIF_MAGICS:
        raise ValueError("not a GIF payload")
    if len(data) < 13:
        raise ValueError("truncated GIF header")
    flags = data[10]
    i = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        gct = [tuple(data[i + 3 * k : i + 3 * k + 3]) for k in range(n)]
        i += 3 * n
    while i < len(data):
        block = data[i]
        if block == 0x21:  # extension: label + sub-blocks, skipped
            _, i = _gif_subblocks(data, i + 2)
        elif block == 0x2C:  # image descriptor
            w, h = struct.unpack_from("<HH", data, i + 5)
            iflags = data[i + 9]
            i += 10
            pal = gct
            if iflags & 0x80:
                n = 2 << (iflags & 0x07)
                pal = [tuple(data[i + 3 * k : i + 3 * k + 3]) for k in range(n)]
                i += 3 * n
            if pal is None:
                raise ValueError("GIF frame has no color table")
            if w == 0 or h == 0:
                raise ValueError("empty GIF frame")
            min_code_size = data[i]
            payload, i = _gif_subblocks(data, i + 1)
            idx = _gif_lzw(min_code_size, payload, w * h)
            if iflags & 0x40:  # interlaced: 4-pass row shuffle
                rows = []
                for start, step in _GIF_INTERLACE_PASSES:
                    rows.extend(range(start, h, step))
                deinter = bytearray(w * h)
                for src_r, dst_r in enumerate(rows):
                    deinter[dst_r * w : (dst_r + 1) * w] = idx[
                        src_r * w : (src_r + 1) * w
                    ]
                idx = deinter
            out = bytearray(w * h * 3)
            for p, c in enumerate(idx):
                if c >= len(pal):
                    raise ValueError("GIF index outside the color table")
                out[3 * p : 3 * p + 3] = bytes(pal[c])
            return w, h, 3, bytes(out)
        elif block == 0x3B:  # trailer before any frame
            break
        else:
            raise ValueError(f"unknown GIF block 0x{block:02x}")
    raise ValueError("GIF contains no image frame")


def _gif_frame_pixels(idx: bytes, w: int, h: int, interlaced: bool) -> bytes:
    """De-interlace a frame's index stream if needed (4-pass row shuffle)."""
    if not interlaced:
        return bytes(idx)
    rows = []
    for start, step in _GIF_INTERLACE_PASSES:
        rows.extend(range(start, h, step))
    deinter = bytearray(w * h)
    for src_r, dst_r in enumerate(rows):
        deinter[dst_r * w : (dst_r + 1) * w] = idx[src_r * w : (src_r + 1) * w]
    return bytes(deinter)


def decode_gif_frames(data: bytes) -> tuple[int, int, list[tuple[bytes, int]]]:
    """Animated-GIF decode (r13) → (screen_w, screen_h, frames) where
    each frame is (full-canvas row-major RGB bytes, delay in centisec),
    composited per the GIF89a spec: frames paint onto the logical-screen
    canvas at their (left, top) offset, transparent indices leave the
    canvas unchanged, and the Graphic Control disposal method runs
    between frames (1 = leave, 2 = restore the frame region to the
    background color, 3 = restore the canvas to its pre-frame state).

    This makes video-style frame sampling REAL for the one motion
    format the stdlib codecs can decode; true video containers
    (mp4/webm — inter-frame prediction) stay behind the codec stub."""
    if data[:6] not in GIF_MAGICS:
        raise ValueError("not a GIF payload")
    if len(data) < 13:
        raise ValueError("truncated GIF header")
    sw, sh = struct.unpack_from("<HH", data, 6)
    flags = data[10]
    bg_index = data[11]
    i = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        gct = [tuple(data[i + 3 * k : i + 3 * k + 3]) for k in range(n)]
        i += 3 * n
    bg_rgb = bytes(gct[bg_index]) if gct and bg_index < len(gct) else b"\x00\x00\x00"
    canvas = bytearray(bg_rgb * (sw * sh))
    frames: list[tuple[bytes, int]] = []
    # pending Graphic Control state (applies to the NEXT image block)
    disposal, transparent, delay_cs = 0, None, 0
    while i < len(data):
        block = data[i]
        if block == 0x21:  # extension
            label = data[i + 1] if i + 1 < len(data) else 0
            body, i = _gif_subblocks(data, i + 2)
            if label == 0xF9 and len(body) >= 4:
                packed = body[0]
                disposal = (packed >> 2) & 0x07
                delay_cs = int.from_bytes(body[1:3], "little")
                transparent = body[3] if packed & 0x01 else None
        elif block == 0x2C:  # image descriptor
            if i + 11 > len(data):
                raise ValueError("truncated GIF image descriptor")
            left, top, w, h = struct.unpack_from("<HHHH", data, i + 1)
            iflags = data[i + 9]
            i += 10
            pal = gct
            if iflags & 0x80:
                n = 2 << (iflags & 0x07)
                if i + 3 * n > len(data):
                    raise ValueError("truncated GIF local color table")
                pal = [tuple(data[i + 3 * k : i + 3 * k + 3]) for k in range(n)]
                i += 3 * n
            if pal is None:
                raise ValueError("GIF frame has no color table")
            if w == 0 or h == 0 or left + w > sw or top + h > sh:
                raise ValueError("GIF frame outside the logical screen")
            if i >= len(data):
                raise ValueError("truncated GIF frame (missing code size)")
            min_code_size = data[i]
            payload, i = _gif_subblocks(data, i + 1)
            idx = _gif_frame_pixels(
                bytes(_gif_lzw(min_code_size, payload, w * h)), w, h, bool(iflags & 0x40)
            )
            before = bytes(canvas) if disposal == 3 else None
            for r in range(h):
                crow = (top + r) * sw
                for col in range(w):
                    c = idx[r * w + col]
                    if c == transparent:
                        continue
                    if c >= len(pal):
                        raise ValueError("GIF index outside the color table")
                    p = (crow + left + col) * 3
                    canvas[p : p + 3] = bytes(pal[c])
            frames.append((bytes(canvas), delay_cs))
            if disposal == 2:  # restore the frame REGION to background
                for r in range(h):
                    for col in range(w):
                        p = ((top + r) * sw + left + col) * 3
                        canvas[p : p + 3] = bg_rgb
            elif disposal == 3 and before is not None:
                canvas = bytearray(before)
            disposal, transparent, delay_cs = 0, None, 0
        elif block == 0x3B:
            break
        else:
            raise ValueError(f"unknown GIF block 0x{block:02x}")
    if not frames:
        raise ValueError("GIF contains no image frame")
    return sw, sh, frames


class _GifLzwWriter:
    """Variable-width LSB-first LZW code writer emitting literal codes
    with a CLEAR before the decoder's table would widen past
    min_code_size+1 bits — the classic 'uncompressed GIF' technique, so
    the encoder needs no string table at all and any spec decoder
    (including _gif_lzw above) reproduces the index stream exactly."""

    def __init__(self, min_code_size: int):
        self.mcs = min_code_size
        self.clear = 1 << min_code_size
        self.end = self.clear + 1
        self.width = min_code_size + 1
        self.bits = 0
        self.nbits = 0
        self.out = bytearray()
        self._emit(self.clear)
        # decoder table is clear+2 after a CLEAR and grows by one per
        # literal after the first; the decoder WIDENS once its table
        # reaches 1 << width, so stop one literal before that point —
        # the CLEAR must itself still be read at the original width
        self.room = (1 << self.width) - (self.clear + 2)

    def _emit(self, code: int) -> None:
        self.bits |= code << self.nbits
        self.nbits += self.width
        while self.nbits >= 8:
            self.out.append(self.bits & 0xFF)
            self.bits >>= 8
            self.nbits -= 8

    def literal(self, c: int) -> None:
        if self.room == 0:
            self._emit(self.clear)
            self.room = (1 << self.width) - (self.clear + 2)
        self._emit(c)
        self.room -= 1

    def finish(self) -> bytes:
        self._emit(self.end)
        if self.nbits:
            self.out.append(self.bits & 0xFF)
        return bytes(self.out)


def encode_gif_animation(
    index_frames: list[bytes],
    palette: list[tuple[int, int, int]],
    width: int,
    height: int,
    delay_cs: int = 4,
) -> bytes:
    """GIF89a animation from per-frame palette-index streams: global
    color table, one Graphic Control Extension (disposal 1 = leave,
    given delay) + image descriptor per frame, literal-code LZW. A
    fixture-grade encoder (like png.encode_png / vp8l.encode_vp8l_rgba)
    whose output any conforming decoder reproduces index-exactly."""
    if not index_frames:
        raise ValueError("need at least one frame")
    if not 2 <= len(palette) <= 256:
        raise ValueError("palette must have 2..256 entries")
    pal_bits = max(1, (len(palette) - 1).bit_length())
    pal_n = 1 << pal_bits
    mcs = max(2, pal_bits)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", width, height)
    out.append(0x80 | ((pal_bits - 1) & 0x07))  # GCT present, size bits
    out += b"\x00\x00"  # bg index, aspect
    for k in range(pal_n):
        out += bytes(palette[k] if k < len(palette) else (0, 0, 0))
    # Netscape looping extension (loop forever) — the de-facto-standard
    # animation marker players expect
    out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"
    for idx in index_frames:
        if len(idx) != width * height:
            raise ValueError("frame index stream size mismatch")
        out += b"\x21\xf9\x04"  # GCE: disposal 1, no transparency
        out.append(0x04)
        out += struct.pack("<H", delay_cs)
        out += b"\x00\x00"  # transparent idx (unused), terminator
        out += b"\x2c" + struct.pack("<HHHH", 0, 0, width, height) + b"\x00"
        out.append(mcs)
        w = _GifLzwWriter(mcs)
        for c in idx:
            if c >= pal_n:
                raise ValueError("index outside the palette")
            w.literal(c)
        payload = w.finish()
        for off in range(0, len(payload), 255):
            chunk = payload[off : off + 255]
            out.append(len(chunk))
            out += chunk
        out.append(0)
    out.append(0x3B)
    return bytes(out)


# --------------------------------------------------------------------------
# JPEG — sequential and progressive DCT (VERDICT r11 order #6, r13)
# --------------------------------------------------------------------------

JPEG_MAGIC = b"\xff\xd8"

#: zigzag scan order: zigzag index -> natural (row-major) position
_JPEG_ZIGZAG = (
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
)

#: separable IDCT basis: _IDCT_C[u][x] = c(u)/2 * cos((2x+1) u pi / 16),
#: c(0)=1/sqrt(2) else 1 — so pixel = sum_u sum_v C[u][x] C[v][y] F[u][v]
_JPEG_IDCT_C = [
    [
        (0.7071067811865476 if u == 0 else 1.0)
        / 2.0
        * __import__("math").cos((2 * x + 1) * u * 3.141592653589793 / 16.0)
        for x in range(8)
    ]
    for u in range(8)
]


class _JpegHuff:
    """Canonical Huffman table (DHT): (counts[16], symbols) -> decode map
    {(length, code): symbol}, the same canonical code assignment every
    JPEG writer uses (ITU T.81 Annex C)."""

    def __init__(self, counts: list[int], symbols: bytes):
        self.lut: dict[tuple[int, int], int] = {}
        code = 0
        k = 0
        for length in range(1, 17):
            for _ in range(counts[length - 1]):
                self.lut[(length, code)] = symbols[k]
                code += 1
                k += 1
            code <<= 1


class _JpegBits:
    """MSB-first bit reader over entropy-coded data with 0xFF00 byte
    unstuffing; stops (returns None) at any real marker."""

    def __init__(self, data: bytes, i: int):
        self.data = data
        self.i = i
        self.buf = 0
        self.n = 0

    def _fill(self) -> bool:
        d = self.data
        if self.i >= len(d):
            return False
        byte = d[self.i]
        if byte == 0xFF:
            if self.i + 1 < len(d) and d[self.i + 1] == 0x00:
                self.i += 2  # stuffed data 0xFF
            else:
                return False  # real marker: RSTn / EOI / next segment
        else:
            self.i += 1
        self.buf = (self.buf << 8) | byte
        self.n += 8
        return True

    def bit(self) -> int | None:
        if self.n == 0 and not self._fill():
            return None
        self.n -= 1
        return (self.buf >> self.n) & 1

    def take(self, k: int) -> int:
        """The next ``k`` bits as an unsigned int; a stream that ends
        first is truncated."""
        v = 0
        for _ in range(k):
            if self.n == 0 and not self._fill():
                raise ValueError("truncated JPEG entropy stream")
            self.n -= 1
            v = (v << 1) | ((self.buf >> self.n) & 1)
        return v

    def align_to_marker(self) -> int | None:
        """Drop partial byte, expect and consume a marker; returns the
        marker byte (e.g. 0xD0..0xD7 for RSTn)."""
        self.buf = 0
        self.n = 0
        d = self.data
        while self.i + 1 < len(d):
            if d[self.i] == 0xFF and d[self.i + 1] != 0x00:
                # T.81 B.1.1.2: any number of 0xFF fill bytes may
                # precede a marker — skip the run so 0xFF is never
                # misread as the marker code itself.
                while self.i + 2 < len(d) and d[self.i + 1] == 0xFF:
                    self.i += 1
                m = d[self.i + 1]
                self.i += 2
                return m
            self.i += 1  # tolerate pad bytes before the marker
        return None


def _jpeg_decode_huff(bits: _JpegBits, table: _JpegHuff) -> int:
    code = 0
    for length in range(1, 17):
        b = bits.bit()
        if b is None:
            raise ValueError("truncated JPEG entropy stream")
        code = (code << 1) | b
        sym = table.lut.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid JPEG Huffman code")


def _jpeg_extend(v: int, s: int) -> int:
    """RECEIVE/EXTEND (T.81 F.2.2.1): s-bit magnitude -> signed value."""
    if s == 0:
        return 0
    if v < (1 << (s - 1)):
        return v - (1 << s) + 1
    return v


def _jpeg_idct_block(coef: list[float]) -> bytearray:
    """8x8 2-D IDCT (separable, float) + level shift + clamp -> 64 bytes
    row-major. Rounding is round-half-away (int(x + 0.5) on the already
    positive shifted value), pinned by the golden-pixel fixtures."""
    c = _JPEG_IDCT_C
    # rows: tmp[u][y] = sum_v C[v][y] * F[u][v]
    tmp = [0.0] * 64
    for u in range(8):
        base = u * 8
        row = coef[base : base + 8]
        if row.count(0.0) == 8:
            continue
        for y in range(8):
            acc = 0.0
            for v in range(8):
                fv = row[v]
                if fv != 0.0:
                    acc += c[v][y] * fv
            tmp[base + y] = acc
    out = bytearray(64)
    for x in range(8):
        for y in range(8):
            acc = 0.0
            for u in range(8):
                tv = tmp[u * 8 + y]
                if tv != 0.0:
                    acc += c[u][x] * tv
            val = int(acc + 128.5) if acc >= -128.5 else 0
            out[x * 8 + y] = 255 if val > 255 else (0 if val < 0 else val)
    return out


def decode_jpeg(data: bytes) -> tuple[int, int, int, bytes]:
    """JFIF decoder (stdlib only) — (width, height, channels, pixels),
    channels 1 (grayscale) or 3 (RGB).

    Profile: baseline/extended sequential (SOF0/SOF1) and progressive
    (SOF2, T.81 Annex G) DCT, 8-bit precision, 1 or 3 components,
    arbitrary h/v sampling factors 1-4 (4:4:4, 4:2:2, 4:2:0, ...),
    DRI/RSTn restart intervals, 0xFF00 byte unstuffing. Chroma
    upsampling is nearest-neighbor block replication (libjpeg's "fancy"
    triangular filter is an encoder-visible choice, not part of T.81;
    goldens pin ours). Arithmetic coding, 12-bit precision and
    hierarchical profiles raise ValueError — and lossy WebP/video stay
    behind NotImplementedError in operators/multimodal.py.

    One marker walk serves both processes. A sequential frame has
    exactly one interleaved scan: each block is dequantized and IDCT'd
    as it is decoded, and the walk stops after that scan. A progressive
    frame accumulates zigzag-ordered coefficients across spectral-
    selection / successive-approximation scans, resuming the walk after
    each, then dequantizes + IDCTs once.

    Format reference: ITU-T T.81 (the public JPEG specification) and
    the JFIF 1.02 spec; same public-spec discipline as the BMP/GIF
    decoders above."""
    if data[:2] != JPEG_MAGIC:
        raise ValueError("not a JPEG stream")
    qt: dict[int, list[int]] = {}
    huff_dc: dict[int, _JpegHuff] = {}
    huff_ac: dict[int, _JpegHuff] = {}
    comps: list[dict] = []
    width = height = 0
    progressive = scanned = False
    restart_interval = 0
    i = 2
    while i + 4 <= len(data):
        if data[i] != 0xFF:
            raise ValueError("desynced JPEG marker stream")
        m = data[i + 1]
        if m == 0xD8:  # stray SOI
            i += 2
            continue
        if m == 0xD9:  # EOI
            break
        seg_len = struct.unpack(">H", data[i + 2 : i + 4])[0]
        seg = data[i + 4 : i + 2 + seg_len]
        if len(seg) != seg_len - 2:
            raise ValueError("truncated JPEG segment")
        i += 2 + seg_len
        if m == 0xDB:  # DQT
            j = 0
            while j < len(seg):
                pq, tq = seg[j] >> 4, seg[j] & 0x0F
                j += 1
                if pq == 0:
                    qt[tq] = list(seg[j : j + 64])
                    j += 64
                else:  # 16-bit table
                    qt[tq] = [
                        struct.unpack(">H", seg[j + 2 * z : j + 2 * z + 2])[0]
                        for z in range(64)
                    ]
                    j += 128
        elif m in (0xC0, 0xC1, 0xC2):  # SOF0/SOF1 sequential, SOF2 progressive
            progressive = m == 0xC2
            width, height, comps = _jpeg_frame(seg, progressive)
        elif m in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                "unsupported JPEG coding process (baseline sequential and "
                "progressive only)"
            )
        elif m == 0xC4:  # DHT
            j = 0
            while j < len(seg):
                tc, th = seg[j] >> 4, seg[j] & 0x0F
                counts = list(seg[j + 1 : j + 17])
                n_sym = sum(counts)
                symbols = seg[j + 17 : j + 17 + n_sym]
                (huff_dc if tc == 0 else huff_ac)[th] = _JpegHuff(counts, symbols)
                j += 17 + n_sym
        elif m == 0xDD:  # DRI
            restart_interval = struct.unpack(">H", seg[0:2])[0]
        elif m == 0xDA:  # SOS
            if not progressive and seg[0] != len(comps):
                # Spec-legal but rare: baseline with non-interleaved
                # scans (one SOS per component). The single-scan
                # sequential decode would leave dc/ac unset on unscanned
                # components — fail with a clear message.
                raise ValueError(
                    "multi-scan (non-interleaved) baseline JPEG is not supported"
                )
            if not comps or width == 0 or height == 0:
                break  # no frame to decode into: reported below
            bits = _jpeg_scan(
                data, i, seg, comps, qt, huff_dc, huff_ac, restart_interval, progressive
            )
            scanned = True
            if not progressive:
                break  # the one sequential scan; trailing bytes are ignored
            # resume the marker walk after the entropy-coded data
            i = bits.i
            while i + 1 < len(data):
                if data[i] == 0xFF and data[i + 1] != 0x00:
                    if 0xD0 <= data[i + 1] <= 0xD7:  # stray restart
                        i += 2
                        continue
                    break
                i += 1
        # APPn / COM / anything else: skip
    if not scanned or not comps or width == 0 or height == 0:
        raise ValueError(
            "progressive JPEG has no scan" if progressive else "JPEG has no baseline scan"
        )
    if progressive:
        for c in comps:
            q = qt[c["tq"]]
            for bi, blk in enumerate(c["coef"]):
                coef = [0.0] * 64
                for k in range(64):
                    if blk[k]:
                        coef[_JPEG_ZIGZAG[k]] = float(blk[k] * q[k])
                by, bx = divmod(bi, c["bw"])
                _jpeg_blit(c, bx, by, _jpeg_idct_block(coef))
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    return _jpeg_to_pixels(comps, width, height, hmax, vmax)


def _jpeg_frame(seg: bytes, progressive: bool) -> tuple[int, int, list[dict]]:
    """Parse a SOF segment into (width, height, components). Each
    component carries its sampling factors, its quantization table id,
    its block-padded MCU raster (bw x bh blocks), its unpadded block
    raster for non-interleaved scans (nbx x nby), its DC predictor, its
    pixel plane and — progressive only — one zigzag coefficient block
    per raster position."""
    if seg[0] != 8:
        raise ValueError("only 8-bit JPEG precision is supported")
    height, width = struct.unpack(">HH", seg[1:5])
    n_comp = seg[5]
    if n_comp not in (1, 3):
        raise ValueError("only 1- or 3-component JPEG is supported")
    comps = []
    for cix in range(n_comp):
        cid, hv, tq = seg[6 + 3 * cix : 9 + 3 * cix]
        comps.append({"id": cid, "h": hv >> 4, "v": hv & 0x0F, "tq": tq})
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = (width + 8 * hmax - 1) // (8 * hmax)
    mcuy = (height + 8 * vmax - 1) // (8 * vmax)
    for c in comps:
        c["bw"] = mcux * c["h"]  # blocks per line
        c["bh"] = mcuy * c["v"]
        c["nbx"] = (-(-width * c["h"] // hmax) + 7) // 8
        c["nby"] = (-(-height * c["v"] // vmax) + 7) // 8
        c["pred"] = 0
        c["plane"] = bytearray(c["bw"] * 8 * c["bh"] * 8)
        if progressive:
            c["coef"] = [[0] * 64 for _ in range(c["bw"] * c["bh"])]
    return width, height, comps


def _jpeg_blit(c: dict, bx: int, by: int, px: bytearray) -> None:
    """Copy one decoded 8x8 block into its component plane at block
    column ``bx``, block row ``by``."""
    pw = c["bw"] * 8
    plane = c["plane"]
    dst = by * 8 * pw + bx * 8
    for r in range(8):
        plane[dst : dst + 8] = px[r * 8 : r * 8 + 8]
        dst += pw


def _jpeg_scan(
    data: bytes,
    i: int,
    seg: bytes,
    comps: list[dict],
    qt: dict[int, list[int]],
    huff_dc: dict[int, _JpegHuff],
    huff_ac: dict[int, _JpegHuff],
    restart_interval: int,
    progressive: bool,
) -> _JpegBits:
    """Decode the scan whose SOS segment ``seg`` ends at ``i``; returns
    the bit reader, positioned after the entropy-coded data.

    A sequential scan walks MCUs and dequantizes + IDCTs each block as
    it decodes it. A progressive scan adds its bits to the components'
    coefficient blocks: interleaved (ns > 1) DC scans walk MCUs,
    single-component scans walk the component's unpadded block raster."""
    ns = seg[0]
    scan = []
    for s in range(ns):
        cid, tt = seg[1 + 2 * s : 3 + 2 * s]
        comp = next(c for c in comps if c["id"] == cid)
        comp["dc"] = tt >> 4
        comp["ac"] = tt & 0x0F
        comp["eob"] = 0
        scan.append(comp)
    bits = _JpegBits(data, i)
    if not progressive:
        # ns == len(comps) was checked by the caller; blocks go in frame
        # component order
        for c in comps:
            c["q"] = qt[c["tq"]]

        def block(c, bx, by):
            _jpeg_seq_block(bits, c, bx, by, huff_dc[c["dc"]], huff_ac[c["ac"]])

        _jpeg_mcu_walk(bits, comps, comps, True, restart_interval, block)
        return bits
    ss, se, a = seg[1 + 2 * ns : 4 + 2 * ns]
    ah, al = a >> 4, a & 0x0F
    if ss == 0 and se != 0:
        raise ValueError("invalid progressive scan: DC and AC share a scan")
    if ss > 0 and ns != 1:
        raise ValueError("progressive AC scan must be single-component")
    if ss == 0:

        def block(c, bx, by):
            blk = c["coef"][by * c["bw"] + bx]
            _prog_dc_block(bits, huff_dc[c["dc"]], c, blk, ah, al)

    else:
        ac_pass = _prog_ac_first if ah == 0 else _prog_ac_refine

        def block(c, bx, by):
            blk = c["coef"][by * c["bw"] + bx]
            c["eob"] = ac_pass(bits, huff_ac[c["ac"]], blk, ss, se, al, c["eob"])

    _jpeg_mcu_walk(bits, comps, scan, ns > 1, restart_interval, block)
    return bits


def _jpeg_mcu_walk(bits, comps, scan, interleaved, restart_interval, block):
    """Call ``block(c, bx, by)`` for every block of one scan in T.81
    order. Interleaved: the frame's MCU raster, each MCU holding h x v
    blocks per scanned component. Otherwise one block per unit, over
    the component's unpadded raster. Every ``restart_interval`` units
    an RSTn marker (n cycling 0-7) must follow; it resets every DC
    predictor and end-of-band run."""
    c0 = scan[0]
    if interleaved:
        ux, uy = c0["bw"] // c0["h"], c0["bh"] // c0["v"]
    else:
        ux, uy = c0["nbx"], c0["nby"]
    rst_n = 0
    for u in range(ux * uy):
        if restart_interval and u and u % restart_interval == 0:
            if bits.align_to_marker() != 0xD0 + (rst_n & 7):
                raise ValueError("missing JPEG restart marker")
            rst_n += 1
            for c in comps:
                c["pred"] = 0
                c["eob"] = 0
        my, mx = divmod(u, ux)
        for c in scan:
            h, v = (c["h"], c["v"]) if interleaved else (1, 1)
            for by in range(v):
                for bx in range(h):
                    block(c, mx * h + bx, my * v + by)


def _jpeg_dc_diff(bits: _JpegBits, table: _JpegHuff) -> int:
    """One DPCM DC difference (T.81 F.2.2.1): size category, then that
    many magnitude bits."""
    t = _jpeg_decode_huff(bits, table)
    return _jpeg_extend(bits.take(t), t) if t else 0


def _jpeg_seq_block(bits, c, bx, by, dc_tab, ac_tab):
    """One sequential block: DC difference, run/size AC symbols until
    EOB (any ``s=0, r<15`` symbol ends the block), dequantize in place,
    IDCT, blit."""
    q = c["q"]
    coef = [0.0] * 64
    c["pred"] += _jpeg_dc_diff(bits, dc_tab)
    coef[0] = float(c["pred"] * q[0])
    k = 1
    while k < 64:
        rs = _jpeg_decode_huff(bits, ac_tab)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r == 15:
                k += 16
                continue
            break  # EOB
        k += r
        if k > 63:
            raise ValueError("JPEG AC index out of range")
        coef[_JPEG_ZIGZAG[k]] = float(_jpeg_extend(bits.take(s), s) * q[k])
        k += 1
    _jpeg_blit(c, bx, by, _jpeg_idct_block(coef))


def _jpeg_to_pixels(
    comps: list[dict], width: int, height: int, hmax: int, vmax: int
) -> tuple[int, int, int, bytes]:
    """Crop the block-padded component planes, upsample chroma
    (nearest) and apply the JFIF YCbCr->RGB conversion."""
    if len(comps) == 1:
        c = comps[0]
        pw = c["bw"] * 8
        out = bytearray(width * height)
        for y in range(height):
            out[y * width : (y + 1) * width] = c["plane"][
                y * pw : y * pw + width
            ]
        return width, height, 1, bytes(out)

    # upsample to full resolution (nearest) and YCbCr -> RGB (JFIF)
    planes = []
    for c in comps:
        pw = c["bw"] * 8
        sx, sy = hmax // c["h"], vmax // c["v"]
        if sx == 1 and sy == 1:
            planes.append((c["plane"], pw, 1, 1))
        else:
            planes.append((c["plane"], pw, sx, sy))
    out = bytearray(width * height * 3)
    yp, cbp, crp = planes
    for y in range(height):
        yy = y * yp[1]
        cby = (y // cbp[3]) * cbp[1]
        cry = (y // crp[3]) * crp[1]
        for x in range(width):
            Y = yp[0][yy + x]
            Cb = cbp[0][cby + x // cbp[2]] - 128
            Cr = crp[0][cry + x // crp[2]] - 128
            r = Y + 1.402 * Cr
            g = Y - 0.344136 * Cb - 0.714136 * Cr
            b = Y + 1.772 * Cb
            o = 3 * (y * width + x)
            out[o] = 255 if r >= 254.5 else (0 if r < 0.5 else int(r + 0.5))
            out[o + 1] = 255 if g >= 254.5 else (0 if g < 0.5 else int(g + 0.5))
            out[o + 2] = 255 if b >= 254.5 else (0 if b < 0.5 else int(b + 0.5))
    return width, height, 3, bytes(out)


def _prog_dc_block(bits, table, comp, blk, ah, al):
    """One block's DC pass (T.81 G.1.2.1): first scan is DPCM over the
    point-transformed values; a refinement appends bit ``al``."""
    if ah == 0:
        comp["pred"] += _jpeg_dc_diff(bits, table)
        blk[0] = comp["pred"] << al
    elif bits.take(1):
        # bits below `al` are zero in the stored two's-complement
        # value, so |= appends the refinement bit for either sign
        blk[0] |= 1 << al


def _prog_ac_first(bits, table, blk, ss, se, al, eob_run):
    """One block's first AC pass (T.81 G.1.2.2): zero-run/magnitude
    coding with end-of-band runs. Returns the new EOB run."""
    if eob_run > 0:
        return eob_run - 1
    k = ss
    while k <= se:
        rs = _jpeg_decode_huff(bits, table)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r < 15:
                return (1 << r) - 1 + bits.take(r)
            k += 16  # ZRL: sixteen zeros
        else:
            k += r
            if k > se:
                raise ValueError("JPEG AC index out of spectral band")
            blk[k] = _jpeg_extend(bits.take(s), s) << al
            k += 1
    return 0


def _prog_ac_refine(bits, table, blk, ss, se, al, eob_run):
    """One block's AC refinement pass (T.81 G.1.2.3): correction bits
    for history-nonzero coefficients, run/insert coding for the rest.
    Returns the new EOB run."""
    bit = 1 << al

    def correct(k: int) -> None:
        if bits.take(1) and (blk[k] & bit) == 0:
            blk[k] += bit if blk[k] > 0 else -bit

    if eob_run > 0:
        for k in range(ss, se + 1):
            if blk[k] != 0:
                correct(k)
        return eob_run - 1
    k = ss
    while k <= se:
        rs = _jpeg_decode_huff(bits, table)
        r, s = rs >> 4, rs & 0x0F
        val = 0
        if s == 0:
            if r < 15:
                eob_run = (1 << r) - 1 + bits.take(r)
                r = 64  # flush: refine the rest of the band, insert nothing
        else:
            if s != 1:
                raise ValueError("invalid JPEG AC refinement magnitude")
            val = bit if bits.take(1) else -bit
        while k <= se:
            if blk[k] != 0:
                correct(k)
                k += 1
            else:
                if r == 0:
                    if val:
                        blk[k] = val
                    k += 1
                    break
                r -= 1
                k += 1
    return eob_run
