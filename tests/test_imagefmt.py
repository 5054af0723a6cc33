"""Bit-exact decode tests for the stdlib BMP/GIF codecs
(operators/imagefmt.py, VERDICT r10 order #5) and their routing through
the multimodal decode kernel. Fixtures are hand-assembled byte streams
(header fields + LZW bit-packing done right here), so every assertion is
against independently constructed golden pixels — not a round-trip
through the code under test."""

from __future__ import annotations

import struct

from randas_spark.operators.imagefmt import decode_bmp, decode_gif


def _bmp24(width, height, rows_topdown, top_down=False):
    """Assemble a 24-bit BI_RGB BMP from top-down RGB row tuples."""
    stride = (width * 3 + 3) & ~3
    body = bytearray()
    file_rows = rows_topdown if top_down else list(reversed(rows_topdown))
    for row in file_rows:
        line = bytearray()
        for r, g, b in row:
            line += bytes((b, g, r))
        line += b"\x00" * (stride - len(line))
        body += line
    h = -height if top_down else height
    dib = struct.pack("<IiiHHIIiiII", 40, width, h, 1, 24, 0, len(body), 0, 0, 0, 0)
    hdr = b"BM" + struct.pack("<IHHI", 14 + 40 + len(body), 0, 0, 14 + 40)
    return bytes(hdr + dib + body)


GOLD = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (255, 255, 255)]
GOLD_BYTES = b"".join(bytes(c) for c in GOLD)


def test_bmp24_bottom_up_and_top_down_decode_identically():
    rows = [GOLD[:2], GOLD[2:]]
    for td in (False, True):
        w, h, ch, px = decode_bmp(_bmp24(2, 2, rows, top_down=td))
        assert (w, h, ch) == (2, 2, 3)
        assert px == GOLD_BYTES


def test_bmp24_row_padding_is_stripped():
    # width 3: raw row is 9 bytes, stride pads to 12 — pads must not leak
    rows = [[(1, 2, 3), (4, 5, 6), (7, 8, 9)]]
    w, h, ch, px = decode_bmp(_bmp24(3, 1, rows))
    assert (w, h, ch) == (3, 1, 3)
    assert px == bytes([1, 2, 3, 4, 5, 6, 7, 8, 9])


def _bmp8(width, height, idx_rows_topdown, palette, rle=None):
    """8-bit palette BMP; ``rle`` supplies a raw BI_RLE8 stream."""
    pal = bytearray()
    for r, g, b in palette:
        pal += bytes((b, g, r, 0))
    if rle is None:
        stride = (width + 3) & ~3
        body = bytearray()
        for row in reversed(idx_rows_topdown):
            body += bytes(row) + b"\x00" * (stride - width)
        comp = 0
    else:
        body = bytearray(rle)
        comp = 1
    dib = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 8, comp, len(body), 0, 0,
        len(palette), 0,
    )
    off = 14 + 40 + len(pal)
    hdr = b"BM" + struct.pack("<IHHI", off + len(body), 0, 0, off)
    return bytes(hdr + dib + pal + body)


def test_bmp8_palette_decode():
    data = _bmp8(2, 2, [[0, 1], [2, 3]], GOLD)
    w, h, ch, px = decode_bmp(data)
    assert (w, h, ch) == (2, 2, 3)
    assert px == GOLD_BYTES


def test_bmp8_rle8_runs_absolute_and_escapes():
    # 4x2 bottom-up: file row 0 (image bottom) = run of 4 zeros; EOL;
    # file row 1 (image top) = absolute run [1,2,3,3] (even count, no
    # pad byte); EOD
    rle = bytes([4, 0, 0, 0, 0, 4, 1, 2, 3, 3, 0, 1])
    data = _bmp8(4, 2, None, GOLD, rle=rle)
    w, h, ch, px = decode_bmp(data)
    assert (w, h, ch) == (4, 2, 3)
    top = b"".join(bytes(GOLD[i]) for i in (1, 2, 3, 3))
    bot = bytes(GOLD[0]) * 4
    assert px == top + bot


def test_bmp8_rle8_rejects_out_of_bounds_writes():
    """ADVICE r11: bounds must be validated BEFORE each RLE8 write —
    slice assignment on a bytearray silently GROWS it, so a post-write
    check accepted streams whose run landed at y == height (after a
    trailing EOL on the last row) or overran the row width."""
    import pytest

    # EOLs walk y to height (2), then an encoded run writes at y==2
    rle_y = bytes([2, 0, 0, 0, 2, 0, 0, 0, 2, 1, 0, 1])
    with pytest.raises(ValueError, match="overflows"):
        decode_bmp(_bmp8(2, 2, None, GOLD, rle=rle_y))
    # delta jump to y == height, then an absolute run writes there
    rle_delta = bytes([0, 2, 0, 2, 2, 1, 2, 0, 1])
    with pytest.raises(ValueError, match="overflows"):
        decode_bmp(_bmp8(2, 2, None, GOLD, rle=rle_delta))
    # encoded run overrunning the row width (x + count > width)
    rle_x = bytes([3, 1, 0, 1])
    with pytest.raises(ValueError, match="overflows"):
        decode_bmp(_bmp8(2, 2, None, GOLD, rle=rle_x))


class _LZWPacker:
    """Minimal GIF LZW encoder emitting only literal codes — tracks the
    decoder's exact table-growth/width schedule so fixtures stay valid."""

    def __init__(self, min_code_size):
        self.min = min_code_size
        self.clear = 1 << min_code_size
        self.end = self.clear + 1
        self.bits = []

    def _emit(self, code, width):
        for k in range(width):
            self.bits.append((code >> k) & 1)

    def pack(self, indices):
        width = self.min + 1
        self._emit(self.clear, width)
        table_size = self.clear + 2
        prev = False
        for ix in indices:
            self._emit(ix, width)
            if prev:
                table_size += 1
                if table_size == (1 << width) and width < 12:
                    width += 1
            prev = True
        self._emit(self.end, width)
        out = bytearray()
        for i in range(0, len(self.bits), 8):
            byte = 0
            for k, bit in enumerate(self.bits[i : i + 8]):
                byte |= bit << k
            out.append(byte)
        return bytes(out)


def _gif(width, height, indices, palette, interlaced=False, split_subblocks=False):
    n_pal = len(palette)
    pal_bits = max(1, (n_pal - 1).bit_length()) - 1  # field stores log2(n)-1
    hdr = b"GIF89a" + struct.pack("<HH", width, height)
    hdr += bytes([0x80 | pal_bits, 0, 0])
    gct = b"".join(bytes(c) for c in palette)
    gct += b"\x00" * (3 * ((2 << pal_bits) - n_pal))
    img = b"\x2c" + struct.pack("<HHHH", 0, 0, width, height)
    img += bytes([0x40 if interlaced else 0x00])
    mcs = max(2, pal_bits + 1)
    payload = _LZWPacker(mcs).pack(indices)
    img += bytes([mcs])
    if split_subblocks and len(payload) > 1:
        cut = len(payload) // 2
        img += bytes([cut]) + payload[:cut]
        img += bytes([len(payload) - cut]) + payload[cut:]
    else:
        img += bytes([len(payload)]) + payload
    img += b"\x00"
    return hdr + gct + img + b"\x3b"


def test_gif_first_frame_decode():
    data = _gif(2, 2, [0, 1, 2, 3], GOLD)
    w, h, ch, px = decode_gif(data)
    assert (w, h, ch) == (2, 2, 3)
    assert px == GOLD_BYTES


def test_gif_subblock_chains_and_extensions():
    # graphic-control extension before the frame + payload split across
    # two sub-blocks — both must be walked transparently
    data = _gif(2, 2, [3, 2, 1, 0], GOLD, split_subblocks=True)
    gce = b"\x21\xf9\x04\x00\x00\x00\x00\x00"
    data = data[:13] + data[13 : 13 + 12] + gce + data[13 + 12 :]
    w, h, ch, px = decode_gif(data)
    assert px == b"".join(bytes(GOLD[i]) for i in (3, 2, 1, 0))


def test_gif_interlaced_rows_reorder():
    # 4x1-column image, h=4: interlace passes give source row order
    # [0, 2, 1, 3]; feed indices in that order, expect top-down output
    idx_topdown = [0, 1, 2, 3]
    src_order = [0, 2, 1, 3]
    data = _gif(1, 4, [idx_topdown[r] for r in src_order], GOLD, interlaced=True)
    w, h, ch, px = decode_gif(data)
    assert (w, h, ch) == (1, 4, 3)
    assert px == GOLD_BYTES


def test_gif_lzw_table_growth_crosses_width_boundary():
    # 25 pixels over a 4-color palette forces several table appends past
    # the 8-entry boundary (width 3 -> 4) — decode must track the growth
    idx = [(i * 7 + 3) % 4 for i in range(25)]
    data = _gif(5, 5, idx, GOLD)
    w, h, ch, px = decode_gif(data)
    assert px == b"".join(bytes(GOLD[i]) for i in idx)


def test_decode_image_routes_bmp_gif_and_narrows_the_stub():
    import pytest

    from randas_spark.operators.multimodal import decode_image
    from randas_spark.operators.png import pixel_features

    bmp = _bmp24(2, 2, [GOLD[:2], GOLD[2:]])
    gif = _gif(2, 2, [0, 1, 2, 3], GOLD)
    want = pixel_features(2, 2, 3, GOLD_BYTES)
    assert decode_image(bmp) == want
    assert decode_image(gif) == want
    # the NotImplementedError surface is now WebP/video only (JPEG
    # routes to the real baseline decoder — see
    # test_decode_image_routes_jpeg_and_stub_narrows_to_webp)
    webp = b"RIFF\x00\x00\x00\x00WEBPVP8 " + b"\x00" * 16
    with pytest.raises(NotImplementedError):
        decode_image(webp)
    assert len(decode_image(webp, fake=True)) == 8


# -- JPEG: baseline sequential fixtures -------------------------------------


class _JpegWriter:
    """Minimal baseline JFIF encoder for fixtures — canonical-Huffman
    bit packing mirroring decode_jpeg's table construction (ITU T.81
    Annex C), explicit QUANTIZED zigzag coefficients in, so expected
    pixel values are computable by hand (DC-only blocks: exactly
    128 + dc*q/8 per T.81's IDCT)."""

    def __init__(self, width, height, comps, qts, dri=0):
        # comps: list of (comp_id, h, v, tq); qts: {tq: [64 zigzag ints]}
        self.width, self.height = width, height
        self.comps, self.qts, self.dri = comps, qts, dri
        self.bits = []  # entropy bit buffer
        self.dc_syms, self.ac_syms = set(), set()
        self.blocks = []  # (comp_index, [64 zigzag quantized ints])

    def add_block(self, ci, zz):
        self.blocks.append((ci, list(zz)))

    @staticmethod
    def _mag(v):
        s, m = 0, abs(v)
        while m:
            s, m = s + 1, m >> 1
        return s, (v if v >= 0 else v + (1 << s) - 1)

    def _entropy(self):
        # first pass: collect symbols; second: emit with canonical codes.
        # Predictors reset at restart-interval boundaries, as T.81
        # requires of encoders (the decoder resets its own at each RSTn).
        plan, pred = [], {}
        comps_per_mcu = sum(h * v for _, h, v, _ in self.comps)
        for bi, (ci, zz) in enumerate(self.blocks):
            mcu = bi // comps_per_mcu
            if self.dri and mcu and mcu % self.dri == 0 and bi % comps_per_mcu == 0:
                pred = {}
            diff = zz[0] - pred.get(ci, 0)
            pred[ci] = zz[0]
            s, vbits = self._mag(diff)
            self.dc_syms.add(s)
            ops = [("dc", s, vbits)]
            k, run = 1, 0
            for k in range(1, 64):
                if zz[k] == 0:
                    run += 1
                    continue
                while run > 15:
                    self.ac_syms.add(0xF0)
                    ops.append(("ac", 0xF0, None))
                    run -= 16
                s2, v2 = self._mag(zz[k])
                sym = (run << 4) | s2
                self.ac_syms.add(sym)
                ops.append(("ac", sym, (s2, v2)))
                run = 0
            if run:
                self.ac_syms.add(0x00)
                ops.append(("ac", 0x00, None))
            plan.append(ops)
        return plan

    @staticmethod
    def _canon(symbols):
        # all codes at length 8 (canonical): counts[7] = n
        symbols = sorted(symbols)
        counts = [0] * 16
        counts[7] = len(symbols)
        enc = {sym: (8, code) for code, sym in enumerate(symbols)}
        return counts, bytes(symbols), enc

    def _emit(self, code, length):
        for i in range(length - 1, -1, -1):
            self.bits.append((code >> i) & 1)

    def _flush(self):
        while len(self.bits) % 8:
            self.bits.append(1)  # pad with 1s per T.81
        out = bytearray()
        for i in range(0, len(self.bits), 8):
            byte = 0
            for b in self.bits[i : i + 8]:
                byte = (byte << 1) | b
            out.append(byte)
            if byte == 0xFF:
                out.append(0x00)  # byte stuffing
        self.bits = []
        return bytes(out)

    def tobytes(self):
        import struct as st

        plan = self._entropy()
        dc_counts, dc_symbols, dc_enc = self._canon(self.dc_syms)
        ac_counts, ac_symbols, ac_enc = self._canon(self.ac_syms or {0x00})
        out = bytearray(b"\xff\xd8")
        for tq, q in self.qts.items():
            out += b"\xff\xdb" + st.pack(">H", 2 + 1 + 64) + bytes([tq]) + bytes(q)
        sof = bytes([8]) + st.pack(">HH", self.height, self.width) + bytes(
            [len(self.comps)]
        )
        for cid, h, v, tq in self.comps:
            sof += bytes([cid, (h << 4) | v, tq])
        out += b"\xff\xc0" + st.pack(">H", 2 + len(sof)) + sof
        for tc, counts, symbols in (
            (0, dc_counts, dc_symbols), (1, ac_counts, ac_symbols)
        ):
            body = bytes([tc << 4]) + bytes(counts) + symbols
            out += b"\xff\xc4" + st.pack(">H", 2 + len(body)) + body
        if self.dri:
            out += b"\xff\xdd" + st.pack(">H", 4) + st.pack(">H", self.dri)
        sos = bytes([len(self.comps)])
        for cid, _, _, _ in self.comps:
            sos += bytes([cid, 0x00])  # dc table 0, ac table 0
        sos += bytes([0, 63, 0])
        out += b"\xff\xda" + st.pack(">H", 2 + len(sos)) + sos

        # entropy-coded data, honoring the restart interval in MCU units
        comps_per_mcu = sum(h * v for _, h, v, _ in self.comps)
        n_mcu = len(self.blocks) // comps_per_mcu
        rst, bi = 0, 0
        for mcu in range(n_mcu):
            if self.dri and mcu and mcu % self.dri == 0:
                out += self._flush()
                out += bytes([0xFF, 0xD0 + (rst & 7)])
                rst += 1
                # predictors reset: re-plan remaining blocks fresh
                # (handled by caller passing absolute DCs per segment)
            for _ in range(comps_per_mcu):
                for kind, sym, extra in plan[bi]:
                    ln, code = (dc_enc if kind == "dc" else ac_enc)[sym]
                    self._emit(code, ln)
                    if kind == "dc":
                        s, vbits = sym, extra
                        if s:
                            self._emit(extra, s)
                    elif extra is not None:
                        s2, v2 = extra
                        self._emit(v2, s2)
                bi += 1
        out += self._flush()
        out += b"\xff\xd9"
        return bytes(out)


def _q_flat(q00, rest=1):
    return [q00] + [rest] * 63


def test_jpeg_dc_only_gray_exact():
    """DC-only block: every pixel is exactly 128 + dc*Q00/8 (the only
    nonzero IDCT term is F00/8) — a hand-computable bit-exact golden."""
    from randas_spark.operators.imagefmt import decode_jpeg

    w = _JpegWriter(8, 8, [(1, 1, 1, 0)], {0: _q_flat(16)})
    w.add_block(0, [4] + [0] * 63)
    width, height, ch, px = decode_jpeg(w.tobytes())
    assert (width, height, ch) == (8, 8, 1)
    assert px == bytes([136] * 64)  # 128 + 4*16/8


def test_jpeg_dc_prediction_across_blocks():
    """Second block's DC is coded as a DIFF from the first: quantized
    DCs [4, 2] arrive as diffs [4, -2]; the writer emits diffs, the
    decoder must reconstruct absolute values via the predictor."""
    from randas_spark.operators.imagefmt import decode_jpeg

    w = _JpegWriter(16, 8, [(1, 1, 1, 0)], {0: _q_flat(16)})
    w.add_block(0, [4] + [0] * 63)
    w.add_block(0, [2] + [0] * 63)
    width, height, ch, px = decode_jpeg(w.tobytes())
    assert (width, height, ch) == (16, 8, 1)
    for y in range(8):
        row = px[y * 16 : (y + 1) * 16]
        assert row == bytes([136] * 8 + [132] * 8)  # 128+8, 128+4


def test_jpeg_flat_color_444_ycbcr_conversion():
    """Flat 4:4:4 color: Y=128, Cb=200, Cr=100 — RGB expected values
    computed by hand through the JFIF conversion + the decoder's
    documented rounding (bit-exact)."""
    from randas_spark.operators.imagefmt import decode_jpeg

    w = _JpegWriter(
        8, 8, [(1, 1, 1, 0), (2, 1, 1, 0), (3, 1, 1, 0)], {0: _q_flat(8)}
    )
    w.add_block(0, [0] + [0] * 63)    # Y = 128
    w.add_block(1, [72] + [0] * 63)   # Cb = 128 + 72*8/8 = 200
    w.add_block(2, [-28] + [0] * 63)  # Cr = 128 - 28 = 100
    width, height, ch, px = decode_jpeg(w.tobytes())
    assert (width, height, ch) == (8, 8, 3)
    # R = 128 + 1.402*(-28) = 88.744 -> 89
    # G = 128 - 0.344136*72 - 0.714136*(-28) = 123.21 -> 123
    # B = 128 + 1.772*72 = 255.58 -> clamp 255
    assert px == bytes([89, 123, 255] * 64)


def test_jpeg_420_upsampling_quadrants():
    """4:2:0 16x16 single MCU: four Y blocks with distinct flat DCs +
    neutral chroma -> four gray quadrants; chroma upsampling must
    replicate nearest-neighbor 2x2."""
    from randas_spark.operators.imagefmt import decode_jpeg

    w = _JpegWriter(
        16, 16, [(1, 2, 2, 0), (2, 1, 1, 0), (3, 1, 1, 0)], {0: _q_flat(8)}
    )
    # Y blocks in MCU order (by=0: bx=0,1; by=1: bx=0,1), coded as diffs
    # handled by the writer; absolute DCs 8, -8, 16, -16
    for dc in (8, -8, 16, -16):
        w.add_block(0, [dc] + [0] * 63)
    w.add_block(1, [0] + [0] * 63)  # Cb = 128 (neutral)
    w.add_block(2, [0] + [0] * 63)  # Cr = 128 (neutral)
    width, height, ch, px = decode_jpeg(w.tobytes())
    assert (width, height, ch) == (16, 16, 3)
    quads = {(0, 0): 136, (0, 8): 120, (8, 0): 144, (8, 8): 112}
    for (qy, qx), val in quads.items():
        for y, x in ((qy, qx), (qy + 7, qx + 7)):
            o = 3 * (y * 16 + x)
            assert px[o : o + 3] == bytes([val] * 3), (y, x)


def test_jpeg_restart_markers_reset_predictor():
    """DRI=1 with two MCUs: the RST0 between them realigns the bit
    reader and resets the DC predictor on BOTH sides. Both blocks carry
    absolute DC 4 (the writer resets its predictor at the boundary and
    codes 4, not diff 0): a decoder that failed to reset would
    accumulate 4+4=8 and paint the second block 144, not 136."""
    from randas_spark.operators.imagefmt import decode_jpeg

    w = _JpegWriter(16, 8, [(1, 1, 1, 0)], {0: _q_flat(16)}, dri=1)
    w.add_block(0, [4] + [0] * 63)
    w.add_block(0, [4] + [0] * 63)
    data = w.tobytes()
    assert b"\xff\xd0" in data  # the RST0 marker is really in the stream
    width, height, ch, px = decode_jpeg(data)
    assert (width, height, ch) == (16, 8, 1)
    for y in range(8):
        assert px[y * 16 : (y + 1) * 16] == bytes([136] * 16)


def test_jpeg_ac_coefficients_match_independent_idct():
    """Blocks with AC energy: decoder output must match an INDEPENDENT
    numpy IDCT (same T.81 formula, numpy's own cosines) within 1 count
    (rounding boundary), and equal the pinned golden exactly."""
    import numpy as np

    from randas_spark.operators.imagefmt import decode_jpeg

    zz = [0] * 64
    zz[0], zz[1], zz[2], zz[5], zz[9], zz[20] = 13, -7, 5, 3, -2, 4
    q = _q_flat(16, rest=3)
    w = _JpegWriter(8, 8, [(1, 1, 1, 0)], {0: q})
    w.add_block(0, zz)
    width, height, ch, px = decode_jpeg(w.tobytes())

    # independent reconstruction
    from randas_spark.operators.imagefmt import _JPEG_ZIGZAG

    F = np.zeros((8, 8))
    for k in range(64):
        nat = _JPEG_ZIGZAG[k]
        F[nat // 8][nat % 8] = zz[k] * q[k]
    C = np.array(
        [
            [
                (np.sqrt(0.5) if u == 0 else 1.0) / 2.0
                * np.cos((2 * x + 1) * u * np.pi / 16.0)
                for x in range(8)
            ]
            for u in range(8)
        ]
    )
    ref = C.T @ F @ C + 128.0
    ref = np.clip(np.floor(ref + 0.5), 0, 255).astype(int)
    got = np.frombuffer(px, dtype=np.uint8).reshape(8, 8).astype(int)
    assert np.abs(got - ref).max() <= 1
    assert np.abs(got - ref).sum() <= 2


def test_jpeg_odd_dimensions_cropped():
    """10x6: the 16x8 block grid must crop to the declared frame size."""
    from randas_spark.operators.imagefmt import decode_jpeg

    w = _JpegWriter(10, 6, [(1, 1, 1, 0)], {0: _q_flat(16)})
    w.add_block(0, [4] + [0] * 63)
    w.add_block(0, [2] + [0] * 63)
    width, height, ch, px = decode_jpeg(w.tobytes())
    assert (width, height, ch, len(px)) == (10, 6, 1, 60)
    assert px[:10] == bytes([136] * 8 + [132] * 2)


def test_jpeg_invalid_scans_and_malformed_rejected():
    import pytest

    from randas_spark.operators.imagefmt import decode_jpeg

    w = _JpegWriter(8, 8, [(1, 1, 1, 0)], {0: _q_flat(16)})
    w.add_block(0, [4] + [0] * 63)
    data = bytearray(w.tobytes())
    sof = data.find(b"\xff\xc0")
    # flip to SOF2: the baseline scan header (Ss=0, Se=63) is illegal in
    # a progressive stream (DC and AC may not share a scan) — since r13
    # SOF2 itself DECODES, so the rejection moves to the scan check
    data[sof + 1] = 0xC2
    with pytest.raises(ValueError, match="progressive scan"):
        decode_jpeg(bytes(data))
    with pytest.raises(ValueError):
        decode_jpeg(b"\xff\xd8\xff\xe0" + b"\x00" * 8)
    with pytest.raises(ValueError):
        decode_jpeg(b"not a jpeg")


def test_decode_image_routes_jpeg_and_stub_narrows_to_webp():
    import pytest

    from randas_spark.operators.multimodal import decode_image
    from randas_spark.operators.png import pixel_features

    w = _JpegWriter(8, 8, [(1, 1, 1, 0)], {0: _q_flat(16)})
    w.add_block(0, [4] + [0] * 63)
    assert decode_image(w.tobytes()) == pixel_features(
        8, 8, 1, bytes([136] * 64)
    )
    webp = b"RIFF\x00\x00\x00\x00WEBPVP8 " + b"\x00" * 16
    with pytest.raises(NotImplementedError):
        decode_image(webp)
    assert len(decode_image(webp, fake=True)) == 8


def test_jpeg_random_blocks_match_independent_idct():
    """Property test: random quantized coefficient blocks and quant
    tables, round-tripped through the in-test encoder, must decode to
    within 1 count of an independent numpy IDCT reconstruction (the
    only divergence channel is the rounding boundary of the final
    pixel, where two correct float pipelines may differ by 1 ulp)."""
    import numpy as np
    from hypothesis import given, settings, strategies as st

    from randas_spark.operators.imagefmt import _JPEG_ZIGZAG, decode_jpeg

    coeff = st.integers(min_value=-40, max_value=40)
    qval = st.integers(min_value=1, max_value=24)

    @settings(max_examples=20, deadline=None)
    @given(
        dc=st.integers(min_value=-90, max_value=90),
        ac=st.lists(
            st.tuples(st.integers(min_value=1, max_value=63), coeff),
            min_size=0, max_size=12,
        ),
        q00=st.integers(min_value=1, max_value=20),
        qrest=qval,
    )
    def check(dc, ac, q00, qrest):
        zz = [0] * 64
        zz[0] = dc
        for k, v in ac:
            zz[k] = v
        q = [q00] + [qrest] * 63
        w = _JpegWriter(8, 8, [(1, 1, 1, 0)], {0: q})
        w.add_block(0, zz)
        width, height, ch, px = decode_jpeg(w.tobytes())
        assert (width, height, ch) == (8, 8, 1)

        F = np.zeros((8, 8))
        for k in range(64):
            nat = _JPEG_ZIGZAG[k]
            F[nat // 8][nat % 8] = zz[k] * q[k]
        C = np.array(
            [
                [
                    (np.sqrt(0.5) if u == 0 else 1.0) / 2.0
                    * np.cos((2 * x + 1) * u * np.pi / 16.0)
                    for x in range(8)
                ]
                for u in range(8)
            ]
        )
        ref = np.clip(np.floor(C.T @ F @ C + 128.5), 0, 255).astype(int)
        got = np.frombuffer(px, dtype=np.uint8).reshape(8, 8).astype(int)
        assert np.abs(got - ref).max() <= 1

    check()


def test_jpeg_fill_bytes_before_restart_marker():
    """T.81 B.1.1.2: any number of 0xFF fill bytes may precede a marker.
    Two fill bytes inserted before the RST0 must decode identically —
    align_to_marker used to misread the first fill 0xFF as the marker
    code itself (ADVICE r12)."""
    from randas_spark.operators.imagefmt import decode_jpeg

    w = _JpegWriter(16, 8, [(1, 1, 1, 0)], {0: _q_flat(16)}, dri=1)
    w.add_block(0, [4] + [0] * 63)
    w.add_block(0, [4] + [0] * 63)
    data = w.tobytes()
    assert data.count(b"\xff\xd0") == 1
    padded = data.replace(b"\xff\xd0", b"\xff\xff\xff\xd0")
    assert decode_jpeg(padded) == decode_jpeg(data)


def test_jpeg_multi_scan_baseline_rejected():
    """Spec-legal baseline with non-interleaved scans (SOS ns != SOF
    n_comp) must fail with a clear ValueError, not a KeyError from
    unset dc/ac table ids on the unscanned components (ADVICE r12)."""
    import struct as st

    import pytest

    from randas_spark.operators.imagefmt import decode_jpeg

    w = _JpegWriter(
        8, 8, [(1, 1, 1, 0), (2, 1, 1, 0), (3, 1, 1, 0)], {0: _q_flat(16)}
    )
    for ci in range(3):
        w.add_block(ci, [4] + [0] * 63)
    data = w.tobytes()
    p = data.find(b"\xff\xda")
    old_len = st.unpack(">H", data[p + 2 : p + 4])[0]
    # rewrite the SOS to scan only component 1 (ns=1 of 3)
    new_sos = b"\xff\xda" + st.pack(">H", 2 + 1 + 2 + 3) + bytes(
        [1, 1, 0x00, 0, 63, 0]
    )
    patched = data[:p] + new_sos + data[p + 2 + old_len :]
    with pytest.raises(ValueError, match="multi-scan"):
        decode_jpeg(patched)


def test_jpeg_sequential_stops_after_its_scan():
    """A sequential frame has exactly one scan, so decode_jpeg stops the
    marker walk after it: bytes between the entropy-coded data and EOI
    (here an unsupported SOF3 segment plus junk, which a resumed walk
    would reject) leave the pixels unchanged."""
    from randas_spark.operators.imagefmt import decode_jpeg

    w = _JpegWriter(16, 8, [(1, 1, 1, 0)], {0: _q_flat(16)})
    w.add_block(0, [4] + [0] * 63)
    w.add_block(0, [-3] + [0] * 63)
    data = w.tobytes()
    assert data.endswith(b"\xff\xd9")
    tail = b"\xff\xc3\x00\x04\x00\x00" + b"junk"
    assert decode_jpeg(data[:-2] + tail + data[-2:]) == decode_jpeg(data)


# -- JPEG: progressive (SOF2) fixtures --------------------------------------


class _ProgJpegWriter:
    """Minimal progressive JFIF encoder for fixtures: the TESTS compute
    each scan's symbol/bit stream by hand per T.81 Annex G (so the
    fixtures pin the spec's forward logic, not the decoder's), and this
    writer only packs headers + canonical 8-bit Huffman codes, reusing
    the baseline writer's conventions (1-padding, 0xFF00 stuffing)."""

    def __init__(self, width, height, comps, qts, dri=0):
        self.width, self.height = width, height
        self.comps, self.qts, self.dri = comps, qts, dri
        self.scans = []  # (comp_ids, ss, se, ah, al, ops)

    def add_scan(self, comp_ids, ss, se, ah, al, ops):
        """ops: ('dc'|'ac', symbol, value_bits, n_bits) or ('bit', b)."""
        self.scans.append((comp_ids, ss, se, ah, al, ops))

    def tobytes(self):
        import struct as st

        dc_syms, ac_syms = set(), set()
        for _, _, _, _, _, ops in self.scans:
            for op in ops:
                if op[0] == "dc":
                    dc_syms.add(op[1])
                elif op[0] == "ac":
                    ac_syms.add(op[1])
        dc_counts, dc_symbols, dc_enc = _JpegWriter._canon(dc_syms or {0x00})
        ac_counts, ac_symbols, ac_enc = _JpegWriter._canon(ac_syms or {0x00})
        out = bytearray(b"\xff\xd8")
        for tq, q in self.qts.items():
            out += b"\xff\xdb" + st.pack(">H", 2 + 1 + 64) + bytes([tq]) + bytes(q)
        sof = bytes([8]) + st.pack(">HH", self.height, self.width) + bytes(
            [len(self.comps)]
        )
        for cid, h, v, tq in self.comps:
            sof += bytes([cid, (h << 4) | v, tq])
        out += b"\xff\xc2" + st.pack(">H", 2 + len(sof)) + sof
        for tc, counts, symbols in (
            (0, dc_counts, dc_symbols), (1, ac_counts, ac_symbols)
        ):
            body = bytes([tc << 4]) + bytes(counts) + symbols
            out += b"\xff\xc4" + st.pack(">H", 2 + len(body)) + body
        if self.dri:
            out += b"\xff\xdd" + st.pack(">H", 4) + st.pack(">H", self.dri)
        for comp_ids, ss, se, ah, al, ops in self.scans:
            sos = bytes([len(comp_ids)])
            for cid in comp_ids:
                sos += bytes([cid, 0x00])
            sos += bytes([ss, se, (ah << 4) | al])
            out += b"\xff\xda" + st.pack(">H", 2 + len(sos)) + sos
            bits = []

            def emit(code, length):
                for i in range(length - 1, -1, -1):
                    bits.append((code >> i) & 1)

            for op in ops:
                if op[0] == "bit":
                    bits.append(op[1])
                else:
                    enc = dc_enc if op[0] == "dc" else ac_enc
                    ln, code = enc[op[1]]
                    emit(code, ln)
                    if op[3]:
                        emit(op[2], op[3])
            while len(bits) % 8:
                bits.append(1)
            for i in range(0, len(bits), 8):
                byte = 0
                for b in bits[i : i + 8]:
                    byte = (byte << 1) | b
                out.append(byte)
                if byte == 0xFF:
                    out.append(0x00)
        out += b"\xff\xd9"
        return bytes(out)


def _mag(v):
    return _JpegWriter._mag(v)


def _zz(**kv):
    """zigzag coefficient block from {k: value} (k = zigzag index)."""
    blk = [0] * 64
    for k, v in kv.items():
        blk[int(k)] = v
    return blk


def test_progressive_dc_plus_ac_scans_equal_baseline():
    """The canonical progressive split (one DC scan, one full-band AC
    scan) of the same quantized coefficients must decode to the exact
    baseline pixels."""
    from randas_spark.operators.imagefmt import decode_jpeg

    q = _q_flat(16, rest=3)
    b0 = _zz(**{"0": 4, "1": 3})
    b1 = _zz(**{"0": 2, "2": -2})
    base = _JpegWriter(16, 8, [(1, 1, 1, 0)], {0: q})
    base.add_block(0, b0)
    base.add_block(0, b1)
    want = decode_jpeg(base.tobytes())

    w = _ProgJpegWriter(16, 8, [(1, 1, 1, 0)], {0: q})
    s3, v3 = _mag(4)
    s2, v2 = _mag(2 - 4)
    w.add_scan([1], 0, 0, 0, 0, [("dc", s3, v3, s3), ("dc", s2, v2, s2)])
    sa, va = _mag(3)
    sb, vb = _mag(-2)
    w.add_scan([1], 1, 63, 0, 0, [
        ("ac", (0 << 4) | sa, va, sa), ("ac", 0x00, 0, 0),   # block 0
        ("ac", (1 << 4) | sb, vb, sb), ("ac", 0x00, 0, 0),   # block 1
    ])
    data = w.tobytes()
    assert b"\xff\xc2" in data
    got = decode_jpeg(data)
    assert got == want


def test_progressive_dc_successive_approximation():
    """DC first scan at Al=1 (DPCM of the arithmetic-shifted values)
    plus an Ah=1 refinement appending bit 0 reconstructs dc 5 and -6
    exactly — matching the baseline encoding of the same DCs."""
    from randas_spark.operators.imagefmt import decode_jpeg

    q = _q_flat(16)
    base = _JpegWriter(16, 8, [(1, 1, 1, 0)], {0: q})
    base.add_block(0, _zz(**{"0": 5}))
    base.add_block(0, _zz(**{"0": -6}))
    want = decode_jpeg(base.tobytes())

    w = _ProgJpegWriter(16, 8, [(1, 1, 1, 0)], {0: q})
    # 5 >> 1 = 2, -6 >> 1 = -3 (arithmetic); DPCM diffs: 2, -5
    s1, v1 = _mag(2)
    s2, v2 = _mag(-5)
    w.add_scan([1], 0, 0, 0, 1, [("dc", s1, v1, s1), ("dc", s2, v2, s2)])
    # refinement bits: 5 & 1 = 1; -6 & 1 = 0 (two's complement)
    w.add_scan([1], 0, 0, 1, 0, [("bit", 1), ("bit", 0)])
    w.add_scan([1], 1, 63, 0, 0, [("ac", 0x00, 0, 0), ("ac", 0x00, 0, 0)])
    assert decode_jpeg(w.tobytes()) == want


def test_progressive_eob_run_spans_blocks():
    """An EOB run coded with r=1 (run = 1 + 1 extra bit = covers ONE
    following block) must close block 0's band and absorb block 1."""
    from randas_spark.operators.imagefmt import decode_jpeg

    q = _q_flat(16, rest=3)
    base = _JpegWriter(16, 8, [(1, 1, 1, 0)], {0: q})
    base.add_block(0, _zz(**{"1": 3}))
    base.add_block(0, _zz())
    want = decode_jpeg(base.tobytes())

    w = _ProgJpegWriter(16, 8, [(1, 1, 1, 0)], {0: q})
    w.add_scan([1], 0, 0, 0, 0, [("dc", 0, 0, 0), ("dc", 0, 0, 0)])
    sa, va = _mag(3)
    w.add_scan([1], 1, 63, 0, 0, [
        ("ac", sa, va, sa),            # block 0: coefficient at k=1
        ("ac", (1 << 4) | 0, 0, 1),    # EOBRUN: (1<<1)-1 + extra 0 = 1
    ])
    assert decode_jpeg(w.tobytes()) == want


def test_progressive_ac_refinement_insert_and_correction():
    """AC successive approximation: first scan at Al=1 sends the
    truncated-toward-zero high bits; the Ah=1 refinement emits a
    correction bit for the history-nonzero k=1 and inserts the newly
    nonzero k=2 = -1 — reconstructing {k1: 3, k2: -1} exactly."""
    from randas_spark.operators.imagefmt import decode_jpeg

    q = _q_flat(16, rest=3)
    base = _JpegWriter(8, 8, [(1, 1, 1, 0)], {0: q})
    base.add_block(0, _zz(**{"1": 3, "2": -1}))
    want = decode_jpeg(base.tobytes())

    w = _ProgJpegWriter(8, 8, [(1, 1, 1, 0)], {0: q})
    w.add_scan([1], 0, 0, 0, 0, [("dc", 0, 0, 0)])
    # first AC scan, Al=1: trunc(3/2)=1 at k=1; trunc(-1/2)=0 -> absent
    s1, v1 = _mag(1)
    w.add_scan([1], 1, 63, 0, 1, [("ac", s1, v1, s1), ("ac", 0x00, 0, 0)])
    # refinement, Ah=1, Al=0: symbol (r=0, s=1) + sign bit 0 (negative),
    # then the walk crosses k=1 (history nonzero -> correction bit
    # (3>>0)&1 = 1), inserts -1 at k=2, then EOB flushes k=3..63
    w.add_scan([1], 1, 63, 1, 0, [
        ("ac", 0x01, 0, 1),   # insert, sign bit 0 -> -1
        ("bit", 1),           # correction for k=1: 2 -> 3
        ("ac", 0x00, 0, 0),   # EOB
    ])
    assert decode_jpeg(w.tobytes()) == want


def test_progressive_three_component_interleaved_dc():
    """3-component 4:4:4: one interleaved DC scan (per-component DPCM
    predictors) + three single-component AC scans equals baseline."""
    from randas_spark.operators.imagefmt import decode_jpeg

    q = _q_flat(16, rest=3)
    comps = [(1, 1, 1, 0), (2, 1, 1, 0), (3, 1, 1, 0)]
    base = _JpegWriter(8, 8, comps, {0: q})
    base.add_block(0, _zz(**{"0": 4, "1": 5}))
    base.add_block(1, _zz(**{"0": 2}))
    base.add_block(2, _zz(**{"0": -3}))
    want = decode_jpeg(base.tobytes())

    w = _ProgJpegWriter(8, 8, comps, {0: q})
    ops = []
    for dc in (4, 2, -3):  # separate predictors, all start at 0
        s, v = _mag(dc)
        ops.append(("dc", s, v, s))
    w.add_scan([1, 2, 3], 0, 0, 0, 0, ops)
    sa, va = _mag(5)
    w.add_scan([1], 1, 63, 0, 0, [("ac", sa, va, sa), ("ac", 0x00, 0, 0)])
    w.add_scan([2], 1, 63, 0, 0, [("ac", 0x00, 0, 0)])
    w.add_scan([3], 1, 63, 0, 0, [("ac", 0x00, 0, 0)])
    assert decode_jpeg(w.tobytes()) == want


def test_progressive_matches_independent_numpy_idct_and_sniff():
    """Progressive decode of an AC-rich block vs an INDEPENDENT numpy
    IDCT (the baseline test's yardstick), and sniff/decode dims agree."""
    import numpy as np

    from randas_spark.operators.imagefmt import _JPEG_ZIGZAG, decode_jpeg
    from randas_spark.operators.multimodal import sniff_image_dims

    zz = _zz(**{"0": 13, "1": -7, "2": 5, "5": 3, "9": -2, "20": 4})
    q = _q_flat(16, rest=3)
    w = _ProgJpegWriter(8, 8, [(1, 1, 1, 0)], {0: q})
    s, v = _mag(13)
    w.add_scan([1], 0, 0, 0, 0, [("dc", s, v, s)])
    ops = []
    run = 0
    for k in range(1, 64):
        if zz[k] == 0:
            run += 1
            continue
        s, v = _mag(zz[k])
        ops.append(("ac", (run << 4) | s, v, s))
        run = 0
    ops.append(("ac", 0x00, 0, 0))
    w.add_scan([1], 1, 63, 0, 0, ops)
    data = w.tobytes()
    assert sniff_image_dims(data) == ("image/jpeg", 8, 8)
    width, height, ch, px = decode_jpeg(data)
    assert (width, height, ch) == (8, 8, 1)

    F = np.zeros((8, 8))
    for k in range(64):
        nat = _JPEG_ZIGZAG[k]
        F[nat // 8][nat % 8] = zz[k] * q[k]
    C = np.array(
        [
            [
                (np.sqrt(0.5) if u == 0 else 1.0) / 2.0
                * np.cos((2 * x + 1) * u * np.pi / 16.0)
                for x in range(8)
            ]
            for u in range(8)
        ]
    )
    ref = np.clip(np.floor(C.T @ F @ C + 128.5), 0, 255).astype(int)
    got = np.frombuffer(px, dtype=np.uint8).reshape(8, 8).astype(int)
    assert np.abs(got - ref).max() <= 1


# --------------------------------------------------------------------------
# raster resampling (operators/raster.py, r13) + the real resize kernel
# --------------------------------------------------------------------------


def test_box_downscale_round_half_up_exact():
    import numpy as np
    import pytest

    from randas_spark.operators.raster import box_downscale

    # single 2x2 block per channel: (sum + 2) // 4, round-half-up
    px = np.array([[[1], [1]], [[1], [2]]], dtype=np.uint8)  # sum 5 -> 1.25 -> 1
    assert box_downscale(px, 1, 1).ravel().tolist() == [1]
    px = np.array([[[1], [1]], [[2], [2]]], dtype=np.uint8)  # sum 6 -> 1.5 -> 2
    assert box_downscale(px, 1, 1).ravel().tolist() == [2]
    # multi-channel independence + non-square factors
    px = np.arange(2 * 4 * 3, dtype=np.uint8).reshape(2, 4, 3)
    out = box_downscale(px, 1, 2)
    exp = ((px.astype(int).reshape(1, 2, 2, 2, 3).sum(axis=(1, 3)) + 2) // 4)
    assert out.tolist() == exp.tolist()
    with pytest.raises(ValueError):
        box_downscale(px, 1, 3)  # 4 % 3 != 0


def test_bilinear_identity_constant_and_golden():
    import numpy as np

    from randas_spark.operators.raster import bilinear_resize, resample

    rng = np.random.default_rng(7)
    px = rng.integers(0, 256, (5, 7, 3), dtype=np.uint8)
    assert np.array_equal(bilinear_resize(px, 5, 7), px)  # scale 1 == identity
    one = np.full((1, 1, 4), 200, dtype=np.uint8)
    assert np.all(bilinear_resize(one, 3, 3) == 200)  # upscale of a constant
    # half-pixel-center golden: [0, 255] -> 4 taps at -0.25/0.25/0.75/1.25
    ramp = np.array([[[0], [255]]], dtype=np.uint8)
    assert bilinear_resize(ramp, 1, 4).ravel().tolist() == [0, 64, 191, 255]
    # resample dispatch: integer factors -> box, otherwise bilinear
    assert np.array_equal(resample(px, 5, 7), px)


def test_resize_kernel_real_path_and_boundary():
    import numpy as np
    import pytest

    from randas_spark.operators.multimodal import resize_kernel
    from randas_spark.operators.png import decode_png, encode_png

    src = np.arange(8 * 8 * 3, dtype=np.uint8).reshape(8, 8, 3)
    out = resize_kernel(encode_png(src.tobytes(), 8, 8, 3), 4, 4, fake=False)
    w, h, c, pix = decode_png(out)
    assert (w, h, c) == (4, 4, 3)
    exp = ((src.astype(int).reshape(4, 2, 4, 2, 3).sum(axis=(1, 3)) + 2) // 4)
    assert np.frombuffer(pix, dtype=np.uint8).reshape(4, 4, 3).tolist() == exp.tolist()
    # bilinear path round-trips through the PNG encoder too
    out_up = resize_kernel(encode_png(src.tobytes(), 8, 8, 3), 5, 3, fake=False)
    assert decode_png(out_up)[:3] == (5, 3, 3)
    # cross-codec: a lossless-WebP RGBA payload resizes through the same
    # kernel (VP8L decode → 4-channel box filter → PNG re-encode)
    from randas_spark.operators.vp8l import encode_vp8l_rgba

    rgba = np.arange(8 * 8 * 4, dtype=np.uint8).reshape(8, 8, 4)
    out_webp = resize_kernel(encode_vp8l_rgba(rgba.tobytes(), 8, 8), 4, 4, fake=False)
    ww, wh, wc, wpx = decode_png(out_webp)
    assert (ww, wh, wc) == (4, 4, 4)
    wexp = ((rgba.astype(int).reshape(4, 2, 4, 2, 4).sum(axis=(1, 3)) + 2) // 4)
    assert np.frombuffer(wpx, dtype=np.uint8).reshape(4, 4, 4).tolist() == wexp.tolist()
    # the honest boundary: non-image payloads raise unless fake=True
    with pytest.raises(NotImplementedError):
        resize_kernel(b"not an image", 4, 4, fake=False)
    # fake budget: max(1, (w*h) // 64) bytes
    assert len(resize_kernel(b"not an image", 4, 4, fake=True)) == 1
    assert len(resize_kernel(b"not an image", 8, 8, fake=True)) == 1
    assert len(resize_kernel(b"not an image", 64, 64, fake=True)) == 64


# --------------------------------------------------------------------------
# animated GIF: frame decode + GIF89a compositing + fixture encoder (r13)
# --------------------------------------------------------------------------


def _gif_subblock_chain(b: bytes) -> bytes:
    out = bytearray()
    for off in range(0, len(b), 255):
        chunk = b[off : off + 255]
        out.append(len(chunk))
        out += chunk
    out.append(0)
    return bytes(out)


def _gif_lzw_literals(idx: bytes, mcs: int = 2) -> bytes:
    from randas_spark.operators.imagefmt import _GifLzwWriter

    w = _GifLzwWriter(mcs)
    for c in idx:
        w.literal(c)
    return w.finish()


def test_gif_animation_roundtrip_and_first_frame_agreement():
    """encode_gif_animation → decode_gif_frames must reproduce every
    frame index-exactly (including a 4096-pixel frame that forces a
    mid-stream CLEAR and a 4-color palette at min code size 2), and
    decode_gif must agree on frame 0."""
    import hashlib

    from randas_spark.operators.imagefmt import (
        decode_gif,
        decode_gif_frames,
        encode_gif_animation,
    )

    pal = [(i, 255 - i, (i * 7 + 3) % 256) for i in range(256)]
    dg = hashlib.md5(b"hello").digest()
    frames = [bytes(dg[(j + 5 * f) % 16] for j in range(64)) for f in range(4)]
    gif = encode_gif_animation(frames, pal, 8, 8, delay_cs=4)
    sw, sh, dec = decode_gif_frames(gif)
    assert (sw, sh) == (8, 8) and len(dec) == 4
    for f, (rgb, delay) in enumerate(dec):
        assert delay == 4
        assert rgb == b"".join(bytes(pal[c]) for c in frames[f])
    w, h, c, px = decode_gif(gif)
    assert (w, h, c) == (8, 8, 3)
    assert px == b"".join(bytes(pal[c]) for c in frames[0])

    big = bytes((i * 37) % 256 for i in range(64 * 64))
    _, _, dec2 = decode_gif_frames(encode_gif_animation([big], pal, 64, 64))
    assert dec2[0][0] == b"".join(bytes(pal[c]) for c in big)

    spal = [(0, 0, 0), (255, 0, 0), (0, 255, 0), (0, 0, 255)]
    sfr = bytes([0, 1, 2, 3] * 4)
    _, _, dec3 = decode_gif_frames(encode_gif_animation([sfr], spal, 4, 4))
    assert dec3[0][0] == b"".join(bytes(spal[c]) for c in sfr)


def test_gif_compositing_disposal_and_transparency():
    """Hand-built GIF89a stream: disposal 2 restores the frame region
    to the background color, disposal 3 restores the pre-frame canvas,
    transparent indices leave the canvas unchanged, and sub-frames
    composite at their (left, top) offset."""
    from randas_spark.operators.imagefmt import decode_gif_frames

    hdr = b"GIF89a" + struct.pack("<HH", 4, 4) + bytes([0x80 | 1]) + b"\x03\x00"
    gct = bytes([10, 10, 10, 200, 0, 0, 0, 200, 0, 7, 7, 7])  # bg index 3
    # frame 1: full 4x4 of color 1, disposal 2, delay 2
    f1 = b"\x21\xf9\x04" + bytes([0x08 | 0x04]) + struct.pack("<H", 2) + b"\x00\x00"
    f1 += (b"\x2c" + struct.pack("<HHHH", 0, 0, 4, 4) + b"\x00" + bytes([2])
           + _gif_subblock_chain(_gif_lzw_literals(bytes([1] * 16))))
    # frame 2: 2x2 at (1,1), color 2 with transparent index 0 in a checker
    f2 = b"\x21\xf9\x04" + bytes([0x04 | 0x01]) + struct.pack("<H", 3) + bytes([0]) + b"\x00"
    f2 += (b"\x2c" + struct.pack("<HHHH", 1, 1, 2, 2) + b"\x00" + bytes([2])
           + _gif_subblock_chain(_gif_lzw_literals(bytes([2, 0, 0, 2]))))
    # frame 3: paints everything color 1 but disposal 3 restores after
    f3 = b"\x21\xf9\x04" + bytes([0x0C]) + struct.pack("<H", 1) + b"\x00\x00"
    f3 += (b"\x2c" + struct.pack("<HHHH", 0, 0, 4, 4) + b"\x00" + bytes([2])
           + _gif_subblock_chain(_gif_lzw_literals(bytes([1] * 16))))
    # frame 4: single pixel at (0,0)
    f4 = b"\x21\xf9\x04" + bytes([0x04]) + struct.pack("<H", 1) + b"\x00\x00"
    f4 += (b"\x2c" + struct.pack("<HHHH", 0, 0, 1, 1) + b"\x00" + bytes([2])
           + _gif_subblock_chain(_gif_lzw_literals(bytes([2]))))

    sw, sh, dec = decode_gif_frames(hdr + gct + f1 + f2 + b"\x3b")
    (fr1, d1), (fr2, d2) = dec
    assert (sw, sh, d1, d2) == (4, 4, 2, 3)
    assert fr1 == bytes([200, 0, 0]) * 16
    exp = bytearray(bytes([7, 7, 7]) * 16)  # disposal 2 → bg color
    for r, c in [(1, 1), (2, 2)]:
        p = (r * 4 + c) * 3
        exp[p : p + 3] = bytes([0, 200, 0])
    assert fr2 == bytes(exp)

    _, _, dec5 = decode_gif_frames(hdr + gct + f1 + f3 + f4 + b"\x3b")
    assert dec5[1][0] == bytes([200, 0, 0]) * 16  # f3 paints over f1's canvas
    exp5 = bytearray(bytes([7, 7, 7]) * 16)  # f3 restored → f1's disposal-2 bg
    exp5[0:3] = bytes([0, 200, 0])
    assert dec5[2][0] == bytes(exp5)


def test_sample_gif_frames_even_stride_and_png_rows():
    """_sample_gif_frames picks floor(i·n/k) and re-encodes composited
    canvases as PNG."""
    from randas_spark.operators.imagefmt import encode_gif_animation
    from randas_spark.operators.multimodal import _sample_gif_frames
    from randas_spark.operators.png import decode_png

    pal = [(i, i, i) for i in range(256)]
    frames = [bytes([f * 10] * 16) for f in range(5)]
    gif = encode_gif_animation(frames, pal, 4, 4)
    out = _sample_gif_frames(gif, 2)  # k=2 over n=5 → frames 0 and 2
    assert len(out) == 2
    for (png, w, h), src in zip(out, (0, 2)):
        assert (w, h) == (4, 4)
        dw, dh, dc, px = decode_png(png)
        assert (dw, dh, dc) == (4, 4, 3)
        assert px == bytes([src * 10] * 48)
    # more slots than frames → every frame once
    assert len(_sample_gif_frames(gif, 9)) == 5


# --------------------------------------------------------------------------
# BMP profile matrix completion (r13): 1/4-bit palette, RLE4, 16/32-bit
# --------------------------------------------------------------------------


def _bmp(width, height, bpp, compression, pixel_data, palette=b"", masks=b""):
    hdr_size = 40
    pix_off = 14 + hdr_size + len(masks) + len(palette)
    info = struct.pack(
        "<IiiHHIIiiII", hdr_size, width, height, 1, bpp, compression,
        len(pixel_data), 2835, 2835, len(palette) // 4, 0,
    )
    filehdr = b"BM" + struct.pack("<IHHI", pix_off + len(pixel_data), 0, 0, pix_off)
    return filehdr + info + masks + palette + pixel_data


def test_bmp_sub_byte_palette_profiles():
    from randas_spark.operators.imagefmt import decode_bmp

    pal = bytes([10, 20, 30, 0]) + bytes([200, 150, 100, 0])  # BGRX entries
    # 1-bit, 2x2 (bottom-up): rows "10", "01" → bytes 0x80, 0x40 padded to 4
    data = bytes([0x80, 0, 0, 0, 0x40, 0, 0, 0])
    w, h, c, px = decode_bmp(_bmp(2, 2, 1, 0, data, palette=pal))
    assert (w, h, c) == (2, 2, 3)
    # bottom-up: image top row ← file row 1 "01", bottom ← file row 0 "10"
    assert list(px) == [30, 20, 10, 100, 150, 200,
                        100, 150, 200, 30, 20, 10]
    # 4-bit, 3x1: indices 1,0,1 → 0x10, 0x10 padded
    data4 = bytes([0x10, 0x10, 0, 0])
    w, h, c, px = decode_bmp(_bmp(3, 1, 4, 0, data4, palette=pal))
    assert list(px) == [100, 150, 200, 30, 20, 10, 100, 150, 200]


def test_bmp_rle4_runs_absolute_and_delta():
    from randas_spark.operators.imagefmt import decode_bmp

    pal = b"".join(bytes([i, i, i, 0]) for i in range(16))
    # 6x2 RLE4 (bottom-up rows): row0: encoded run 3 of val 0x12 (1,2,1) +
    # absolute run of 3 indices [3,4,5] (spec: absolute needs val >= 3);
    # EOL; row1: delta (2,0) then run 4 of 0x45; EOD
    stream = bytes([
        3, 0x12,            # 1,2,1
        0, 3, 0x34, 0x50,   # absolute: 3 indices (3,4,5), 2 bytes, no pad
        0, 0,               # EOL
        0, 2, 2, 0,         # delta right 2
        4, 0x45,            # 4,5,4,5
        0, 1,               # EOD
    ])
    w, h, c, px = decode_bmp(_bmp(6, 2, 4, 2, stream, palette=pal))
    assert (w, h, c) == (6, 2, 3)
    grid = [px[i * 3] for i in range(12)]  # gray palette → value == index
    # image row 0 = file row 1 (delta skipped x 0..1 stay index 0)
    assert grid[:6] == [0, 0, 4, 5, 4, 5]
    assert grid[6:] == [1, 2, 1, 3, 4, 5]


def test_bmp_16bit_555_and_565_bitfields():
    from randas_spark.operators.imagefmt import decode_bmp

    # 555 BI_RGB: (31,0,0)=red max, (0,31,0), (0,0,31), mid gray (16,16,16)
    def px555(r, g, b):
        return struct.pack("<H", (r << 10) | (g << 5) | b)

    data = px555(31, 0, 0) + px555(0, 31, 0) + px555(0, 0, 31) + px555(16, 16, 16)
    w, h, c, px = decode_bmp(_bmp(4, 1, 16, 0, data))
    assert (w, h, c) == (4, 1, 3)
    assert list(px[:9]) == [255, 0, 0, 0, 255, 0, 0, 0, 255]
    assert list(px[9:12]) == [132, 132, 132]  # 16<<3 | 16>>2 = 132 bit-replicated

    # 565 BITFIELDS: green has 6 bits
    masks = struct.pack("<III", 0xF800, 0x07E0, 0x001F)

    def px565(r, g, b):
        return struct.pack("<H", (r << 11) | (g << 5) | b)

    data = px565(31, 63, 31) + px565(0, 32, 0) + bytes(0)
    w, h, c, px = decode_bmp(_bmp(2, 1, 16, 3, data, masks=masks))
    assert list(px[:3]) == [255, 255, 255]
    assert list(px[3:6]) == [0, 130, 0]  # 32<<2 | 32>>4 = 130


def test_bmp_32bit_bgra():
    from randas_spark.operators.imagefmt import decode_bmp

    # 2x1 top-down (negative height): BGRA pixels
    data = bytes([10, 20, 30, 255, 40, 50, 60, 0])
    bmp = _bmp(2, -1, 32, 0, data)
    w, h, c, px = decode_bmp(bmp)
    assert (w, h, c) == (2, 1, 3)
    assert list(px) == [30, 20, 10, 60, 50, 40]


def test_encode_bmp_roundtrip_and_padding():
    from randas_spark.operators.imagefmt import decode_bmp, encode_bmp

    src = bytes((i * 7 + 3) % 256 for i in range(8 * 8 * 3))
    assert decode_bmp(encode_bmp(src, 8, 8)) == (8, 8, 3, src)
    # odd width exercises the 4-byte row padding
    src2 = bytes((i * 5 + 1) % 256 for i in range(3 * 2 * 3))
    assert decode_bmp(encode_bmp(src2, 3, 2)) == (3, 2, 3, src2)
    import pytest

    with pytest.raises(ValueError, match="size mismatch"):
        encode_bmp(b"\x00" * 5, 2, 2)


def test_bmp_32bit_bitfields_honors_masks_and_narrow_masks_expand():
    """r13 review fixes: 32-bit BITFIELDS must APPLY the channel masks
    (an RGBA-byte-order mask set decodes unswapped), and sub-4-bit
    masks must bit-replicate so channel max expands to exactly 255."""
    from randas_spark.operators.imagefmt import decode_bmp

    masks = struct.pack("<III", 0x000000FF, 0x0000FF00, 0x00FF0000)
    w, h, c, px = decode_bmp(_bmp(1, 1, 32, 3, bytes([200, 100, 50, 255]), masks=masks))
    assert list(px) == [200, 100, 50]
    masks2 = struct.pack("<III", 0xE000, 0x1C00, 0x0300)  # 3/3/2-bit
    w, h, c, px = decode_bmp(
        _bmp(1, 1, 16, 3, struct.pack("<H", 0xFFFF) + b"\x00\x00", masks=masks2)
    )
    assert list(px) == [255, 255, 255]
    # zero values still map to zero
    w, h, c, px = decode_bmp(_bmp(1, 1, 16, 3, b"\x00\x00\x00\x00", masks=masks2))
    assert list(px) == [0, 0, 0]


def test_gif_frames_truncation_raises_valueerror():
    """The codec-family contract: malformed containers raise ValueError,
    never struct.error/IndexError."""
    import pytest

    from randas_spark.operators.imagefmt import decode_gif_frames

    base = b"GIF89a" + struct.pack("<HH", 2, 2) + b"\x00\x00\x00"
    with pytest.raises(ValueError):
        decode_gif_frames(base + b"\x2c" + b"\x00\x00")  # truncated descriptor
    with pytest.raises(ValueError):
        # full descriptor + local-palette flag, then nothing
        decode_gif_frames(
            base + b"\x2c" + struct.pack("<HHHH", 0, 0, 2, 2) + bytes([0x80])
        )
