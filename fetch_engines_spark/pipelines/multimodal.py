"""Image near-duplicate detection over ``media(media_id, payload)`` tables.

Images are carried as opaque ``binary`` payloads.  From-scratch PNG, GIF
and JPEG decoders (stdlib plus numpy) feed a 64-bit dHash in one
Arrow-batched ``mapInPandas`` stage, so pixels never leave the worker;
pigeonhole-banded joins turn the hashes into near-duplicate pairs, and
the pair clusters rewrite the ``media_ref`` of interleaved document
spans to one canonical id.  ``--stage media-dedup`` in ``job.py`` drives
the whole path.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType


# --- real PNG pixel decode (stdlib-only) -------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # gray, RGB, gray+A, RGBA


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)  # per-pass (x0, y0, dx, dy), PNG spec 4.5.2


def _png_unfilter(raw: bytes, height: int, stride: int, ch: int) -> bytearray:
    """Per-scanline unfiltering (None/Sub/Up/Average/Paeth) of a
    filter-byte-interleaved stream into a raw raster; shared by the
    non-interlaced raster and each Adam7 pass sub-image (filters are
    scoped to the pass in interlaced files)."""
    out = bytearray(height * stride)
    prev_off = -1
    for row in range(height):
        f = raw[row * (stride + 1)]
        line = raw[row * (stride + 1) + 1 : (row + 1) * (stride + 1)]
        off = row * stride
        if f == 0:
            out[off : off + stride] = line
        elif f == 1:  # Sub
            for i in range(stride):
                a = out[off + i - ch] if i >= ch else 0
                out[off + i] = (line[i] + a) & 0xFF
        elif f == 2:  # Up
            for i in range(stride):
                b = out[prev_off + i] if row else 0
                out[off + i] = (line[i] + b) & 0xFF
        elif f == 3:  # Average
            for i in range(stride):
                a = out[off + i - ch] if i >= ch else 0
                b = out[prev_off + i] if row else 0
                out[off + i] = (line[i] + (a + b) // 2) & 0xFF
        elif f == 4:  # Paeth
            for i in range(stride):
                a = out[off + i - ch] if i >= ch else 0
                b = out[prev_off + i] if row else 0
                c = out[prev_off + i - ch] if (row and i >= ch) else 0
                out[off + i] = (line[i] + _paeth(a, b, c)) & 0xFF
        else:
            raise ValueError(f"unknown filter type {f}")
        prev_off = off
    return out


def decode_png(payload: bytes) -> dict:
    """PNG bytes → {width, height, channels, pixels: bytes} with nothing
    but the stdlib: IHDR parse, IDAT concat + zlib inflate, per-scanline
    unfiltering (None/Sub/Up/Average/Paeth), and Adam7 de-interlacing
    (7 pass sub-images, each filtered independently, scattered back to
    the display raster).  Subset: 8-bit depth, color types 0/2/4/6 (no
    palette).  Raises ValueError on anything else — the Spark stage maps
    that to an error row."""
    import struct as _s
    import zlib as _z

    if payload is None or not payload.startswith(_PNG_SIG):
        raise ValueError("not a PNG (bad signature)")
    pos = len(_PNG_SIG)
    width = height = bit_depth = color_type = None
    idat = bytearray()
    while pos + 8 <= len(payload):
        (length,) = _s.unpack(">I", payload[pos : pos + 4])
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        if len(data) < length:
            raise ValueError("truncated chunk")
        if ctype == b"IHDR":
            width, height, bit_depth, color_type, _comp, _filt, interlace = _s.unpack(
                ">IIBBBBB", data
            )
            if bit_depth != 8:
                raise ValueError(f"unsupported bit depth {bit_depth}")
            if color_type not in _PNG_CHANNELS:
                raise ValueError(f"unsupported color type {color_type}")
            if interlace not in (0, 1):
                raise ValueError(f"unknown interlace method {interlace}")
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + length  # len + type + data + crc (crc not verified)
    if width is None:
        raise ValueError("missing IHDR")
    if not idat:
        raise ValueError("missing IDAT")
    ch = _PNG_CHANNELS[color_type]
    # declared-dimension sanity bounds; zero dims must be rejected BEFORE
    # the inflate (zlib treats max_length=0 as unlimited — a height=0
    # header would re-open the decompression-bomb hole)
    if width == 0 or height == 0:
        raise ValueError(f"degenerate dimensions ({width}x{height})")
    if width * height > 64_000_000:
        raise ValueError(f"image too large ({width}x{height})")
    stride = width * ch
    if interlace == 0:
        passes = [(0, 0, 1, 1, width, height)]
    else:
        passes = []
        for x0, y0, dx, dy in _ADAM7:
            pw = (width - x0 + dx - 1) // dx
            ph = (height - y0 + dy - 1) // dy
            if pw > 0 and ph > 0:  # empty passes emit NO scanlines
                passes.append((x0, y0, dx, dy, pw, ph))
    expected = sum(ph * (pw * ch + 1) for _x, _y, _dx, _dy, pw, ph in passes)
    # bounded inflate: a decompression bomb must fail with an error row,
    # not an executor OOM — never allocate past the declared raster size
    d = _z.decompressobj()
    raw = d.decompress(bytes(idat), expected)
    if d.unconsumed_tail or not d.eof:
        raise ValueError("IDAT inflates past the declared raster size")
    if len(raw) != expected:
        raise ValueError("scanline data size mismatch")
    if interlace == 0:
        out = _png_unfilter(raw, height, stride, ch)
    else:
        out = bytearray(height * stride)
        off = 0
        for x0, y0, dx, dy, pw, ph in passes:
            pstride = pw * ch
            sub = _png_unfilter(raw[off : off + ph * (pstride + 1)], ph, pstride, ch)
            off += ph * (pstride + 1)
            for j in range(ph):
                drow = (y0 + j * dy) * stride
                srow = j * pstride
                for i in range(pw):
                    dst = drow + (x0 + i * dx) * ch
                    out[dst : dst + ch] = sub[srow + i * ch : srow + (i + 1) * ch]
    return {"width": width, "height": height, "channels": ch, "pixels": bytes(out)}


# --- real GIF (LZW) image decode (stdlib-only) -------------------------------


def _lzw_decode(data: bytes, min_code_size: int, n_pixels: int) -> bytes:
    """GIF-variant LZW: LSB-first variable-width codes, CLEAR/END codes,
    dictionary growth with the KwKwK case."""
    clear = 1 << min_code_size
    end = clear + 1
    pos = 0  # bit position
    total_bits = len(data) * 8

    def read_code(width):
        nonlocal pos
        if pos + width > total_bits:
            raise ValueError("LZW stream exhausted")
        v = 0
        for i in range(width):
            byte = data[(pos + i) >> 3]
            if (byte >> ((pos + i) & 7)) & 1:
                v |= 1 << i
        pos += width
        return v

    out = bytearray()
    table: list[bytes] = []
    width = min_code_size + 1
    prev: bytes | None = None
    while len(out) < n_pixels:
        code = read_code(width)
        if code == clear:
            table = [bytes([i]) for i in range(clear)] + [b"", b""]
            width = min_code_size + 1
            prev = None
            continue
        if code == end:
            break
        if prev is None:
            if code >= len(table):
                raise ValueError("LZW code before clear")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            if len(table) < 4096:
                table.append(prev + entry[:1])
        elif code == len(table) and len(table) < 4096:  # KwKwK
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError("corrupt LZW code")
        out += entry
        prev = entry
        if len(table) == (1 << width) and width < 12:
            width += 1
    return bytes(out[:n_pixels])


def _gif_deinterlace(idx: bytes, iw: int, ih: int) -> bytes:
    """Rows in 4-pass interlace order → display order (GIF89a appendix E:
    passes 0::8, 4::8, 2::4, 1::2)."""
    deint = bytearray(iw * ih)
    src = 0
    for start, step in ((0, 8), (4, 8), (2, 4), (1, 2)):
        for dst in range(start, ih, step):
            deint[dst * iw : (dst + 1) * iw] = idx[src * iw : (src + 1) * iw]
            src += 1
    return bytes(deint)


def decode_gif(payload: bytes) -> dict:
    """GIF87a/89a bytes → {width, height, pixels: bytes (RGB)} with the
    stdlib only: header + color tables + sub-block LZW decode of the
    FIRST image frame; interlaced frames are de-interlaced by the
    4-pass row map (rows 0::8, 4::8, 2::4, 1::2 — GIF89a spec
    appendix E).  Extensions are skipped.  Raises ValueError on
    malformed payloads."""
    import struct as _s

    if payload is None or payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF (bad signature)")
    if len(payload) < 13:
        raise ValueError("truncated header")
    _w, _h, flags, _bg, _ar = _s.unpack("<HHBBB", payload[6:13])
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        gct = payload[pos : pos + 3 * n]
        if len(gct) < 3 * n:
            raise ValueError("truncated global color table")
        pos += 3 * n
    while pos < len(payload):
        b = payload[pos]
        if b == 0x21:  # extension: skip sub-blocks
            pos += 2
            while pos < len(payload) and payload[pos] != 0:
                pos += 1 + payload[pos]
            pos += 1
        elif b == 0x2C:  # image descriptor
            if pos + 10 > len(payload):
                raise ValueError("truncated image descriptor")
            _x, _y, iw, ih, iflags = _s.unpack("<HHHHB", payload[pos + 1 : pos + 10])
            pos += 10
            if iw == 0 or ih == 0 or iw * ih > 64_000_000:
                raise ValueError(f"bad dimensions ({iw}x{ih})")  # bounds LZW output
            table = gct
            if iflags & 0x80:
                n = 2 << (iflags & 0x07)
                table = payload[pos : pos + 3 * n]
                if len(table) < 3 * n:
                    raise ValueError("truncated local color table")
                pos += 3 * n
            if table is None:
                raise ValueError("no color table")
            if pos >= len(payload):
                raise ValueError("truncated before LZW data")
            min_code_size = payload[pos]
            pos += 1
            lzw = bytearray()
            while pos < len(payload) and payload[pos] != 0:
                ln = payload[pos]
                lzw += payload[pos + 1 : pos + 1 + ln]
                pos += 1 + ln
            idx = _lzw_decode(bytes(lzw), min_code_size, iw * ih)
            if len(idx) < iw * ih:
                raise ValueError("LZW underrun")
            if iflags & 0x40:  # interlaced: rows arrive in 4-pass order
                idx = _gif_deinterlace(idx, iw, ih)
            px = bytearray()
            for i in idx:
                if 3 * i + 3 > len(table):
                    raise ValueError("palette index out of range")
                px += table[3 * i : 3 * i + 3]
            return {"width": iw, "height": ih, "pixels": bytes(px)}
        elif b == 0x3B:  # trailer
            break
        else:
            raise ValueError(f"unexpected GIF block 0x{b:02x}")
    raise ValueError("no image data")


# --- real baseline-JPEG image decode (stdlib + numpy IDCT) -------------------


def _jpeg_zigzag() -> list[int]:
    """The 64-entry zigzag scan order (coefficient index -> flat 8x8
    position), generated from the anti-diagonal walk rather than typed as
    a literal table."""
    zz = []
    for s in range(15):
        pts = [(r, s - r) for r in range(s + 1) if r < 8 and s - r < 8]
        if s % 2 == 0:
            pts = pts[::-1]
        zz += [r * 8 + c for r, c in pts]
    return zz


_JPEG_ZZ = _jpeg_zigzag()


def _jpeg_idct_basis():
    """8x8 IDCT half-basis A[u, x] = C(u)/2 * cos((2x+1)u*pi/16); pixels =
    A.T @ F @ A (the JPEG spec's 2-D inverse DCT as two matmuls)."""
    import math

    import numpy as np

    a = np.empty((8, 8), dtype=np.float64)
    for u in range(8):
        cu = (1.0 / math.sqrt(2.0)) if u == 0 else 1.0
        for x in range(8):
            a[u, x] = cu / 2.0 * math.cos((2 * x + 1) * u * math.pi / 16.0)
    return a


class _JpegBits:
    """MSB-first bit reader over the entropy-coded segment with 0xFF00
    byte-unstuffing; restart markers surface via sync_restart()."""

    def __init__(self, data: bytes, pos: int):
        self.d = data
        self.pos = pos
        self.acc = 0
        self.n = 0

    def bit(self) -> int:
        if self.n == 0:
            if self.pos >= len(self.d):
                raise ValueError("entropy stream exhausted")
            b = self.d[self.pos]
            if b == 0xFF:
                if self.pos + 1 >= len(self.d):
                    raise ValueError("entropy stream ends on a bare 0xFF")
                nxt = self.d[self.pos + 1]
                if nxt != 0x00:
                    raise ValueError(f"marker 0xFF{nxt:02x} inside entropy data")
                self.pos += 2
            else:
                self.pos += 1
            self.acc = b
            self.n = 8
        self.n -= 1
        return (self.acc >> self.n) & 1

    def receive(self, size: int) -> int:
        v = 0
        for _ in range(size):
            v = (v << 1) | self.bit()
        return v

    def sync_restart(self, expected: int) -> None:
        """Byte-align and consume the next RSTn marker (DRI intervals);
        tolerates 0xFF fill bytes before the marker (spec B.1.1.2)."""
        self.n = 0
        while (
            self.pos + 2 < len(self.d)
            and self.d[self.pos] == 0xFF
            and self.d[self.pos + 1] == 0xFF
        ):
            self.pos += 1
        if self.pos + 2 > len(self.d) or self.d[self.pos] != 0xFF:
            raise ValueError("missing restart marker")
        m = self.d[self.pos + 1]
        if not (0xD0 <= m <= 0xD7) or (m & 7) != (expected & 7):
            raise ValueError(f"bad restart marker 0xFF{m:02x}")
        self.pos += 2

    def huff(self, table: dict) -> int:
        code = 0
        for ln in range(1, 17):
            code = (code << 1) | self.bit()
            sym = table.get((ln, code))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code")


def _jpeg_extend(v: int, size: int) -> int:
    """DC/AC magnitude-bits decode (JPEG F.2.2.1 EXTEND)."""
    if size == 0:
        return 0
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def _jpeg_huff_table(bits: list[int], vals: bytes) -> dict:
    """Canonical Huffman table: {(length, code): symbol} from the DHT
    BITS/HUFFVAL lists (JPEG C.2)."""
    table = {}
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            table[(ln, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _jpeg_ac_first(reader, blk, ss, se, al, table, eobrun):
    """Progressive AC first scan for one block (T.81 G.1.2.2): run/size
    coding at reduced precision (values << al) with EOBn end-of-band run
    lengths shared across blocks.  Returns the remaining EOB run."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = reader.huff(table)
        r, s = rs >> 4, rs & 15
        if s == 0:
            if r == 15:  # ZRL
                k += 16
                continue
            eobrun = 1 << r
            if r:
                eobrun += reader.receive(r)
            return eobrun - 1
        k += r
        if k > se:
            raise ValueError("AC run past band end")
        blk[k] = _jpeg_extend(reader.receive(s), s) << al
        k += 1
    return 0


def _jpeg_ac_refine(reader, blk, ss, se, al, table, eobrun):
    """Progressive AC refinement for one block (T.81 G.1.2.3): newly
    nonzero coefficients arrive as +-1<<al; already-nonzero coefficients
    receive one correction bit each, including through ZRL runs and EOB
    runs.  Returns the remaining EOB run."""
    p1 = 1 << al
    m1 = -p1
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = reader.huff(table)
            r, s = rs >> 4, rs & 15
            s_val = 0
            if s == 0:
                if r != 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += reader.receive(r)
                    break
                # r == 15: pass over 16 zero-history coefficients
            elif s == 1:
                s_val = p1 if reader.bit() else m1
            else:
                raise ValueError("refinement magnitude must be 1")
            while k <= se:
                c = int(blk[k])
                if c != 0:
                    if reader.bit() and (c & p1) == 0:
                        blk[k] = c + (p1 if c >= 0 else m1)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if s and k <= se:
                blk[k] = s_val
            k += 1
    if eobrun > 0:
        # remainder of the current block: correction bits only
        while k <= se:
            c = int(blk[k])
            if c != 0:
                if reader.bit() and (c & p1) == 0:
                    blk[k] = c + (p1 if c >= 0 else m1)
            k += 1
        eobrun -= 1
    return eobrun


def decode_jpeg(payload: bytes) -> dict:
    """Baseline (SOF0) and progressive (SOF2, Huffman) JPEG → {width,
    height, channels, pixels: bytes} with the stdlib + a numpy IDCT:
    marker walk, DQT/DHT parse, Huffman entropy decode (DC DPCM, AC
    run/size with EOB+ZRL, byte unstuffing, DRI/RSTn restarts),
    dequantize, de-zigzag, float64 IDCT, level shift + clamp, and JFIF
    YCbCr→RGB for 3-component scans.  Progressive frames accumulate
    quantized coefficients across scans per T.81 Annex G: spectral
    selection (per-band AC scans with EOBn runs), successive
    approximation (DC/AC first scans at reduced precision + single-bit
    refinement scans), interleaved DC and non-interleaved AC walks, and
    per-scan table redefinition.  Subset: 8-bit precision, 1 or 3
    components, luma sampling factors up to 2x2 with 1x1 chroma (covers
    4:4:4, 4:2:2, 4:4:0, and the dominant web format 4:2:0; chroma
    upsampled by sample replication) — arithmetic coding (SOF9/SOF10)
    and other sampling layouts raise ValueError, which the Spark stage
    maps to an error row.  The pixel cap is TIGHTER than the PNG path's
    64M: this decoder holds float64 planes (8 B/px/component, ~8x a
    PNG's byte raster) and walks the entropy stream bit-by-bit in
    Python, so 4M pixels bounds a 3-component decode to ~100 MB of
    plane memory and a predictable per-task runtime — an
    oversized-but-legal JPEG becomes an error row, never an executor
    OOM or a stage-long straggler."""
    import numpy as np

    if payload is None or len(payload) < 4 or payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (bad SOI)")
    pos = 2
    qt: dict[int, list[int]] = {}
    hdc: dict[int, dict] = {}
    hac: dict[int, dict] = {}
    dri = 0
    frame = None  # (width, height, comps) ; comps = [(cid, tq, hs, vs)]
    progressive = False
    coefs = None  # per component: int32 (blocks_v, blocks_h, 64), zigzag order
    mx = my = hmax = vmax = 0
    n_scans = 0
    while pos + 2 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"expected marker at {pos}")
        # T.81 B.1.1.2: any number of 0xFF fill bytes may precede a marker
        while pos + 1 < len(payload) and payload[pos + 1] == 0xFF:
            pos += 1
        if pos + 1 >= len(payload):
            raise ValueError("payload ends in 0xFF fill bytes")
        marker = payload[pos + 1]
        if marker == 0xD9:  # EOI
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            # TEM / RSTn: standalone markers, no length field
            pos += 2
            continue
        if pos + 4 > len(payload):
            raise ValueError("truncated marker segment header")
        (seglen,) = struct.unpack(">H", payload[pos + 2 : pos + 4])
        seg = payload[pos + 4 : pos + 2 + seglen]
        if len(seg) != seglen - 2:
            raise ValueError("truncated segment")
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(seg):
                pq_, tq = seg[p] >> 4, seg[p] & 15
                if pq_ != 0:
                    raise ValueError("16-bit quant tables not supported")
                qt[tq] = list(seg[p + 1 : p + 65])
                if len(qt[tq]) != 64:
                    raise ValueError("short quant table")
                p += 65
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 15
                bits = list(seg[p + 1 : p + 17])
                nv = sum(bits)
                vals = seg[p + 17 : p + 17 + nv]
                if len(vals) != nv:
                    raise ValueError("short Huffman table")
                (hdc if tc == 0 else hac)[th] = _jpeg_huff_table(bits, vals)
                p += 17 + nv
        elif marker in (0xC0, 0xC2):  # SOF0 baseline / SOF2 progressive
            if frame is not None:
                raise ValueError("multiple SOF markers")
            progressive = marker == 0xC2
            prec, h, w, nc = seg[0], struct.unpack(">H", seg[1:3])[0], struct.unpack(
                ">H", seg[3:5]
            )[0], seg[5]
            if prec != 8:
                raise ValueError(f"unsupported precision {prec}")
            if nc not in (1, 3):
                raise ValueError(f"unsupported component count {nc}")
            comps = []
            for i in range(nc):
                cid, hv, tq = seg[6 + 3 * i], seg[7 + 3 * i], seg[8 + 3 * i]
                hs, vs = hv >> 4, hv & 15
                if hs not in (1, 2) or vs not in (1, 2):
                    raise ValueError(f"unsupported sampling factors {hs}x{vs}")
                if i > 0 and (hs, vs) != (1, 1):
                    raise ValueError("chroma sampling factors must be 1x1")
                comps.append((cid, tq, hs, vs))
            if nc == 1:
                # T.81 A.2: a single-component scan is NON-interleaved —
                # one block per MCU in raster order regardless of the
                # declared sampling factors (which only shape multi-
                # component interleave); honoring 2x2 here would decode
                # real grayscale files scrambled
                comps = [(comps[0][0], comps[0][1], 1, 1)]
            if w == 0 or h == 0:
                raise ValueError(f"degenerate dimensions ({w}x{h})")
            if w * h > 4_000_000:
                raise ValueError(
                    f"image too large for pure-Python JPEG decode ({w}x{h})"
                )
            frame = (w, h, comps)
            hmax = max(hs for _, _, hs, _ in comps)
            vmax = max(vs for _, _, _, vs in comps)
            mx = (w + 8 * hmax - 1) // (8 * hmax)
            my = (h + 8 * vmax - 1) // (8 * vmax)
            coefs = [
                np.zeros((my * vs, mx * hs, 64), dtype=np.int32)
                for _, _, hs, vs in comps
            ]
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(f"unsupported SOF 0x{marker:02x}")
        elif marker == 0xDD:  # DRI
            (dri,) = struct.unpack(">H", seg[:2])
        elif marker == 0xDA:  # SOS — decode the scan eagerly (tables may
            # be redefined between progressive scans)
            if frame is None:
                raise ValueError("SOS before SOF")
            ns = seg[0]
            sel = []
            for i in range(ns):
                cs, tdta = seg[1 + 2 * i], seg[2 + 2 * i]
                sel.append((cs, tdta >> 4, tdta & 15))
            ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
            ahal = seg[3 + 2 * ns]
            ah, al = ahal >> 4, ahal & 15
            entropy_pos = pos + 2 + seglen
            if progressive:
                pos = _jpeg_decode_scan_progressive(
                    payload, entropy_pos, frame, sel, ss, se, ah, al,
                    hdc, hac, dri, coefs, mx, my, hmax, vmax,
                )
            else:
                pos = _jpeg_decode_scan_baseline(
                    payload, entropy_pos, frame, sel, hdc, hac, dri,
                    coefs, mx, my,
                )
            n_scans += 1
            continue
        # APPn / COM / others: skip
        pos += 2 + seglen
    if frame is None or n_scans == 0:
        raise ValueError("missing SOF or SOS")
    w, h, comps = frame
    nc = len(comps)
    basis = _jpeg_idct_basis()
    zz = _JPEG_ZZ
    # dequantize + de-zigzag + IDCT per block at the component's native
    # resolution, level shift + sample rounding, THEN nearest-neighbor
    # upsample to luma resolution (sample replication — the baseline
    # upsampling rule, mirrored by the fixture generator), then crop +
    # color-convert
    out = []
    for ci, (_, tq, hs, vs) in enumerate(comps):
        q = qt.get(tq)
        if q is None:
            raise ValueError("missing quant table")
        qa = np.array(q, dtype=np.float64)
        bh, bw = coefs[ci].shape[:2]
        plane = np.empty((bh * 8, bw * 8), dtype=np.float64)
        for by in range(bh):
            for bx in range(bw):
                nat = np.zeros(64, dtype=np.float64)
                nat[zz] = coefs[ci][by, bx] * qa
                plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                    basis.T @ nat.reshape(8, 8) @ basis
                )
        p = np.clip(np.round(plane + 128.0), 0, 255)
        if hs != hmax or vs != vmax:
            p = np.repeat(np.repeat(p, vmax // vs, axis=0), hmax // hs, axis=1)
        out.append(p[:h, :w])
    if nc == 1:
        px = out[0].astype(np.uint8).tobytes()
    else:
        y, cb, cr = out[0], out[1] - 128.0, out[2] - 128.0
        r = np.clip(np.round(y + 1.402 * cr), 0, 255)
        g = np.clip(np.round(y - 0.344136 * cb - 0.714136 * cr), 0, 255)
        b = np.clip(np.round(y + 1.772 * cb), 0, 255)
        px = (
            np.stack([r, g, b], axis=-1).astype(np.uint8).reshape(-1).tobytes()
        )
    return {"width": w, "height": h, "channels": nc, "pixels": px}


def _jpeg_next_marker(payload: bytes, pos: int) -> int:
    """Position of the next true marker at/after ``pos`` — skips entropy
    bytes, stuffed 0xFF00, RSTn, and 0xFF fill runs."""
    while pos + 1 < len(payload):
        if (
            payload[pos] == 0xFF
            and payload[pos + 1] != 0x00
            and not (0xD0 <= payload[pos + 1] <= 0xD7)
        ):
            return pos
        pos += 1
    return len(payload)


def _jpeg_decode_scan_baseline(
    payload, entropy_pos, frame, sel, hdc, hac, dri, coefs, mx, my
):
    """Baseline sequential scan: one interleaved pass over the MCU grid,
    DC DPCM + AC run/size per block, into the coefficient store (zigzag
    order, quantized).  Returns the stream position after the scan."""
    w, h, comps = frame
    if [c for c, _, _ in sel] != [cid for cid, _, _, _ in comps]:
        raise ValueError("scan/frame component mismatch")
    nc = len(comps)
    reader = _JpegBits(payload, entropy_pos)
    pred = [0] * nc
    mcu = 0
    for yb in range(my):
        for xb in range(mx):
            if dri and mcu and mcu % dri == 0:
                reader.sync_restart(mcu // dri - 1)
                pred = [0] * nc
            for ci in range(nc):
                _cid, td, ta = sel[ci]
                _, _tq, hs, vs = comps[ci]
                for v in range(vs):
                    for u in range(hs):
                        blk = coefs[ci][yb * vs + v, xb * hs + u]
                        s = reader.huff(hdc.get(td) or _raise("missing DC table"))
                        pred[ci] += _jpeg_extend(reader.receive(s), s)
                        blk[0] = pred[ci]
                        k = 1
                        while k < 64:
                            rs = reader.huff(
                                hac.get(ta) or _raise("missing AC table")
                            )
                            r, s = rs >> 4, rs & 15
                            if s == 0:
                                if r == 15:  # ZRL
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError("AC run past block end")
                            blk[k] = _jpeg_extend(reader.receive(s), s)
                            k += 1
            mcu += 1
    return _jpeg_next_marker(payload, reader.pos)


def _jpeg_decode_scan_progressive(
    payload, entropy_pos, frame, sel, ss, se, ah, al,
    hdc, hac, dri, coefs, mx, my, hmax, vmax,
):
    """One progressive scan (T.81 Annex G) into the coefficient store:
    DC scans (Ss=Se=0) walk the MCU grid interleaved (or the component
    raster when single-component); AC scans are single-component over
    the component's own block raster with EOBn runs.  Ah=0 scans code
    values at precision Al; Ah=Al+1 scans refine one bit.  Returns the
    stream position after the scan."""
    w, h, comps = frame
    ns = len(sel)
    idxs = []
    for cid, _td, _ta in sel:
        matches = [i for i, c in enumerate(comps) if c[0] == cid]
        if not matches:
            raise ValueError("scan references unknown component")
        idxs.append(matches[0])
    if ss == 0:
        if se != 0:
            raise ValueError("progressive scan with Ss=0 must have Se=0")
    else:
        if ns != 1:
            raise ValueError("progressive AC scan must be non-interleaved")
        if not (1 <= ss <= se <= 63):
            raise ValueError(f"bad spectral band {ss}..{se}")
    if ah != 0 and ah != al + 1:
        raise ValueError(f"bad successive approximation Ah={ah} Al={al}")
    reader = _JpegBits(payload, entropy_pos)
    pred = [0] * ns
    eobrun = 0
    if ss == 0 and ns > 1:
        # interleaved DC scan over the MCU grid
        mcu = 0
        for ym in range(my):
            for xm in range(mx):
                if dri and mcu and mcu % dri == 0:
                    reader.sync_restart(mcu // dri - 1)
                    pred = [0] * ns
                for si, fi in enumerate(idxs):
                    _, _, hs, vs = comps[fi]
                    for v in range(vs):
                        for u in range(hs):
                            blk = coefs[fi][ym * vs + v, xm * hs + u]
                            if ah == 0:
                                td = sel[si][1]
                                s = reader.huff(
                                    hdc.get(td) or _raise("missing DC table")
                                )
                                pred[si] += _jpeg_extend(reader.receive(s), s)
                                blk[0] = pred[si] << al
                            elif reader.bit():
                                blk[0] |= 1 << al
                mcu += 1
    else:
        # non-interleaved: the single component's own block raster
        fi = idxs[0]
        _, _, hs, vs = comps[fi]
        bw_n = (-(-(w * hs) // hmax) + 7) // 8
        bh_n = (-(-(h * vs) // vmax) + 7) // 8
        ta = sel[0][2]
        unit = 0
        for by in range(bh_n):
            for bx in range(bw_n):
                if dri and unit and unit % dri == 0:
                    reader.sync_restart(unit // dri - 1)
                    pred = [0] * ns
                    eobrun = 0
                blk = coefs[fi][by, bx]
                if ss == 0:
                    if ah == 0:
                        td = sel[0][1]
                        s = reader.huff(
                            hdc.get(td) or _raise("missing DC table")
                        )
                        pred[0] += _jpeg_extend(reader.receive(s), s)
                        blk[0] = pred[0] << al
                    elif reader.bit():
                        blk[0] |= 1 << al
                elif ah == 0:
                    eobrun = _jpeg_ac_first(
                        reader, blk, ss, se, al,
                        hac.get(ta) or _raise("missing AC table"), eobrun,
                    )
                else:
                    eobrun = _jpeg_ac_refine(
                        reader, blk, ss, se, al,
                        hac.get(ta) or _raise("missing AC table"), eobrun,
                    )
                unit += 1
    return _jpeg_next_marker(payload, reader.pos)


def _raise(msg: str):
    raise ValueError(msg)


def _decode_image(payload) -> tuple[dict, int]:
    """GIF / JPEG / PNG decode chosen by the payload's signature bytes →
    (img dict, channels)."""
    payload = bytes(payload) if payload is not None else None
    if payload is not None and payload[:6] in (b"GIF87a", b"GIF89a"):
        return decode_gif(payload), 3
    if payload is not None and payload[:3] == b"\xff\xd8\xff":
        img = decode_jpeg(payload)
        return img, img["channels"]
    img = decode_png(payload)
    return img, img["channels"]


# --- perceptual hash (dHash) + image near-duplicate pairs -------------------

IMAGE_DHASH_SCHEMA = StructType(
    [
        StructField("media_id", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("dhash_hex", StringType()),
        StructField("b0", IntegerType()),
        StructField("b1", IntegerType()),
        StructField("b2", IntegerType()),
        StructField("b3", IntegerType()),
        StructField("error", StringType()),
    ]
)


def dhash64(pixels: bytes, w: int, h: int, ch: int) -> tuple[str, int, int, int, int]:
    """64-bit difference hash of an interleaved raster: integer luma
    ((299R+587G+114B) div 1000 for >=3 channels, channel 0 otherwise),
    nearest-neighbor resample to 9x8 by the integer floor(i*src/out) rule,
    bit(y,x) = luma[y][x+1] > luma[y][x], packed row-major MSB-first.
    Returns (hex16, b0..b3) where b0 is the top 16 bits — the four
    pigeonhole blocks for banded near-dup search
    (hamming <= 3 guarantees at least one equal block).  All arithmetic
    is integer, so the fixture generator's plain-Python twin reproduces
    it bit-for-bit."""
    import numpy as np

    a = np.frombuffer(pixels, dtype=np.uint8).reshape(h, w, ch)
    if ch >= 3:
        g = (
            299 * a[:, :, 0].astype(np.int64)
            + 587 * a[:, :, 1].astype(np.int64)
            + 114 * a[:, :, 2].astype(np.int64)
        ) // 1000
    else:
        g = a[:, :, 0].astype(np.int64)
    ys = (np.arange(8) * h) // 8
    xs = (np.arange(9) * w) // 9
    t = g[ys][:, xs]
    bits = (t[:, 1:] > t[:, :-1]).flatten()
    v = int.from_bytes(np.packbits(bits).tobytes(), "big")
    return (
        format(v, "016x"),
        (v >> 48) & 0xFFFF,
        (v >> 32) & 0xFFFF,
        (v >> 16) & 0xFFFF,
        v & 0xFFFF,
    )


def image_dhash(media: DataFrame) -> DataFrame:
    """media(media_id, payload) → 64-bit dHash per image, decode
    (PNG/GIF/JPEG by signature) fused with the hash in one Arrow-batched
    stage — pixels never leave the worker; never-fail contract (error
    rows carry NULL hash).  The per-image half of image near-dup
    detection; pair generation is :func:`dhash_near_dup_pairs`."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out: dict[str, list] = {k: [] for k in IMAGE_DHASH_SCHEMA.names}
            for row in pdf.itertuples(index=False):
                width = height = hex16 = None
                blocks = (None, None, None, None)
                err = None
                try:
                    img, ch = _decode_image(row.payload)
                    width, height = img["width"], img["height"]
                    hex16, *blocks = dhash64(img["pixels"], width, height, ch)
                except Exception as exc:
                    err = f"ERR_IMG: {type(exc).__name__}: {exc}"[:200]
                out["media_id"].append(row.media_id)
                out["width"].append(width)
                out["height"].append(height)
                out["dhash_hex"].append(hex16)
                for i in range(4):
                    out[f"b{i}"].append(blocks[i])
                out["error"].append(err)
            yield pd.DataFrame(out)

    return media.select("media_id", "payload").mapInPandas(
        batches, schema=IMAGE_DHASH_SCHEMA
    )


def dhash_near_dup_pairs(
    sigs: DataFrame,
    max_hamming: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """dHash table (from :func:`image_dhash`) → ordered near-duplicate
    pairs (media_a, media_b, hamming) with hamming <= ``max_hamming``.

    Pigeonhole banding: the 64-bit hash splits into four 16-bit blocks;
    any pair within hamming 3 shares at least one block, so candidate
    generation is a bucketed join on (block_id, block_value) — EXACT
    recall at the default threshold, never all-pairs.  Routed through
    the shared capped guard (`candidates.bucket_pairs`): blank/uniform
    images all hash to the same value (the classic degenerate bucket),
    and with ``max_bucket_size`` set they take the linear star path.
    Blocks ride the join via carry_cols, so hamming verification needs
    no join back to the signature table.  Scale shape: one shuffle on
    the block key; 65,536 values per block keeps buckets fine-grained.
    """
    from .candidates import bucket_pairs

    bcols = [f"b{i}" for i in range(4)]
    pairs = bucket_pairs(
        _signature_blocks(sigs),
        key_cols=["block_id", "block_val"],
        id_col="media_id",
        sig_col="dhash_hex",
        max_bucket_size=max_bucket_size,
        out_a="media_a",
        out_b="media_b",
        carry_cols=bcols,
    )
    hamming = sum(
        F.bit_count(F.col(f"b{i}_a").bitwiseXOR(F.col(f"b{i}_b")))
        for i in range(4)
    )
    return (
        pairs.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("media_a", "media_b", "hamming")
    )


def _signature_blocks(sigs: DataFrame) -> DataFrame:
    """dHash table → one row per (media, 16-bit pigeonhole block): the
    bucket assignment for banded near-dup joins (error rows dropped;
    blocks b0..b3 ride along for the carry verify)."""
    bcols = [f"b{i}" for i in range(4)]
    ok = sigs.filter(F.col("error").isNull())
    return ok.select(
        "media_id",
        "dhash_hex",
        *bcols,
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("block_id"), F.col(f"b{i}").alias("block_val")
                )
                for i in range(4)
            ])
        ).alias("blk"),
    ).select(
        "media_id",
        "dhash_hex",
        *bcols,
        F.col("blk.block_id").alias("block_id"),
        F.col("blk.block_val").alias("block_val"),
    )


def canonical_media_map(pairs: DataFrame) -> DataFrame:
    """Near-dup media pairs (media_a, media_b) → the canonical-reference
    map (media_ref, canonical_ref): connected components over the pair
    graph (shared star-contraction/label-propagation core with document
    dedup), canonical = min media id per cluster, IDENTITY ROWS DROPPED
    — the map carries only media that actually need rewriting, which is
    what makes it broadcastable at corpus scale (dup clusters are a
    small fraction of the media table)."""
    from .dedup import connected_components

    comp = connected_components(pairs, a_col="media_a", b_col="media_b")
    return comp.filter(F.col("doc_id") != F.col("component")).select(
        F.col("doc_id").alias("media_ref"),
        F.col("component").alias("canonical_ref"),
    )


def canonicalize_media_refs(
    docs: DataFrame,
    canon_map: DataFrame,
) -> DataFrame:
    """Interleaved-corpus media dedup: rewrite every span's ``media_ref``
    to its cluster-canonical id (``canon_map`` from
    :func:`canonical_media_map`), preserving span order, text spans
    (NULL media_ref), and references to media outside the map (dangling
    or unique — both pass through unchanged).  Returns the documents
    frame with the rewritten ``spans`` column; docs with empty or NULL
    spans survive with their value intact.

    Scale shape: posexplode → LEFT join on media_ref → re-assemble
    ordered by position.  The map holds only media needing rewrite, so
    the ref join is broadcast and the shuffles are the groupBy(doc_id)
    re-assembly and the doc_id join-back of the untouched document
    columns (the aggregated side is already partitioned on doc_id, so
    only the input side exchanges).
    Giant documents are one row each here — the same salted-repartition
    guidance as the extract stage applies upstream.

    Rows with NULL ``doc_id`` pass through UNTOUCHED (spans included):
    there is no grouping key to re-assemble them on, and collapsing
    every NULL-id row into one group would merge unrelated documents'
    spans — surface them upstream if they matter."""
    m = F.broadcast(
        canon_map.select(
            F.col("media_ref").alias("_ref"), F.col("canonical_ref").alias("_canon")
        )
    )
    null_id_docs = docs.filter(F.col("doc_id").isNull())
    docs = docs.filter(F.col("doc_id").isNotNull())
    ex = docs.select(
        "doc_id", F.posexplode_outer("spans").alias("_pos", "_s")
    )
    rewritten = (
        ex.join(m, ex["_s"]["media_ref"] == F.col("_ref"), "left")
        .select(
            "doc_id",
            F.when(
                F.col("_pos").isNotNull(),
                F.struct(
                    F.col("_pos").alias("pos"),
                    F.col("_s")["kind"].alias("kind"),
                    F.col("_s")["text"].alias("text"),
                    F.coalesce(F.col("_canon"), F.col("_s")["media_ref"]).alias(
                        "media_ref"
                    ),
                    F.col("_s")["offset"].alias("offset"),
                ),
            ).alias("_span"),
        )
        .groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list("_span")  # collect_list drops NULLs
            ).alias("_spans")
        )
        .select(
            "doc_id",
            F.transform(
                F.col("_spans"),
                lambda x: F.named_struct(
                    F.lit("kind"), x["kind"],
                    F.lit("text"), x["text"],
                    F.lit("media_ref"), x["media_ref"],
                    F.lit("offset"), x["offset"],
                ),
            ).alias("spans"),
        )
    )
    # docs whose spans were NULL (not empty) must come back NULL, and
    # other doc columns ride along: join the rewritten spans back onto
    # the input frame's non-span columns
    other_cols = [c for c in docs.columns if c != "spans"]
    base = docs.select(
        *other_cols, F.col("spans").isNotNull().alias("_had_spans")
    )
    out = base.join(rewritten.withColumnRenamed("spans", "_new_spans"), "doc_id", "left")
    out = out.select(
        *other_cols,
        F.when(F.col("_had_spans"), F.coalesce(F.col("_new_spans"), F.array().cast(
            "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
        ))).alias("spans"),
    )
    return out.unionByName(null_id_docs.select(*other_cols, "spans"))


def incremental_media_near_dups(
    inc_sigs: DataFrame,
    hist_sigs: DataFrame,
    max_hamming: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Incremental media dedup: near-duplicates of a NEW crawl increment
    against a PERSISTED signature table (a prior run's
    ``{output}/signatures`` parquet) — the historical media is never
    re-decoded; only its small signature table joins.  Returns ordered
    (media_id, hist_id, hamming) rows, one per increment×history match
    at hamming <= ``max_hamming``; an increment item with ANY row here
    is a near-dup of history.

    Shape: pigeonhole blocks on both sides → the shared cross-corpus
    capped guard (`candidates.cross_bucket_pairs` — oversized buckets
    collapse to signature-identical matches, never n_inc × n_hist),
    then hamming verify by joining the bounded candidate-pair list back
    to the two signature tables (two id-equi-joins against a pair set
    that banding already bounded; AQE broadcasts the small side).
    Exact recall at hamming <= 3 for buckets under the cap — same
    pigeonhole guarantee as the within-corpus path."""
    from .candidates import cross_bucket_pairs

    pairs = cross_bucket_pairs(
        _signature_blocks(inc_sigs),
        _signature_blocks(hist_sigs),
        key_cols=["block_id", "block_val"],
        id_col="media_id",
        sig_col="dhash_hex",
        max_bucket_size=max_bucket_size,
        out_a="media_id",
        out_b="hist_id",
    )
    il = inc_sigs.select(
        "media_id", *[F.col(f"b{i}").alias(f"_ib{i}") for i in range(4)]
    )
    hl = hist_sigs.select(
        F.col("media_id").alias("hist_id"),
        *[F.col(f"b{i}").alias(f"_hb{i}") for i in range(4)],
    )
    hamming = sum(
        F.bit_count(F.col(f"_ib{i}").bitwiseXOR(F.col(f"_hb{i}")))
        for i in range(4)
    )
    return (
        pairs.join(il, "media_id")
        .join(hl, "hist_id")
        .withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("media_id", "hist_id", "hamming")
    )
