"""Build the committed fixture parquet under data/fixtures/.

Deterministic (no RNG, no wall clock).  The expected_spans/expected_markdown
files are the golden oracle the driver's DuckDB side reads for the
extraction queries: they are produced by ``extract.convert_document`` (the
chain the Spark stage runs per document), validated against the reference's
own containment assertions by tests/test_converter_fixtures.py before being
trusted here.

Run: python scripts/build_fixture_data.py
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from fetch_engines_spark.extract import convert_document
from fetch_engines_spark.fixtures import FIXTURES, fixture_document_rows

OUT = os.path.join(os.path.dirname(__file__), "..", "data", "fixtures")


def build_pages() -> None:
    tbl = pa.table(
        {
            "doc_id": [f.id for f in FIXTURES],
            "html": [f.html for f in FIXTURES],
            "base_url": [f.base_url for f in FIXTURES],
        }
    )
    pq.write_table(tbl, os.path.join(OUT, "pages.parquet"))


def build_documents_spans() -> None:
    rows = fixture_document_rows()
    span_type = pa.struct(
        [("kind", pa.string()), ("text", pa.string()), ("media_ref", pa.string()), ("offset", pa.int32())]
    )
    tbl = pa.table(
        {
            "doc_id": [r["doc_id"] for r in rows],
            "base_url": [r["base_url"] for r in rows],
            "canonical_url": [r["canonical_url"] for r in rows],
            "spans": pa.array(
                [
                    [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
                    for r in rows
                ],
                type=pa.list_(span_type),
            ),
        }
    )
    pq.write_table(tbl, os.path.join(OUT, "documents_spans.parquet"))


TRUNCATE_AT = 400  # max_content_length for the M13 truncation golden


def build_expected() -> None:
    md_rows = []
    span_rows = []
    trunc_rows = []
    for f in FIXTURES:
        title, markdown, _error, spans, _in_bytes = convert_document(f.html, f.base_url)
        truncated = convert_document(f.html, f.base_url, max_content_length=TRUNCATE_AT)[1]
        trunc_rows.append((f.id, title, truncated))
        md_rows.append((f.id, title, markdown))
        for s in spans:
            span_rows.append((f.id, s["offset"], s["kind"], s["text"], s["media_ref"]))
    pq.write_table(
        pa.table(
            {
                "doc_id": [r[0] for r in trunc_rows],
                "title": [r[1] for r in trunc_rows],
                "markdown": [r[2] for r in trunc_rows],
            }
        ),
        os.path.join(OUT, "expected_markdown_truncated.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "doc_id": [r[0] for r in md_rows],
                "title": [r[1] for r in md_rows],
                "markdown": [r[2] for r in md_rows],
            }
        ),
        os.path.join(OUT, "expected_markdown.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "doc_id": [r[0] for r in span_rows],
                "offset": pa.array([r[1] for r in span_rows], pa.int32()),
                "kind": [r[2] for r in span_rows],
                "text": [r[3] for r in span_rows],
                "media_ref": [r[4] for r in span_rows],
            }
        ),
        os.path.join(OUT, "expected_spans.parquet"),
    )


def _pdf_escape(s: str) -> str:
    return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")


def _pdf_bytes(
    page_streams: list[bytes], compress: bool = False, order: list[int] | None = None
) -> bytes:
    """Emit a minimal well-formed PDF around the given page content
    streams (catalog → pages → page+content per page → font).  This is the
    WRITER path — fetch_engines_spark/pdf.py parses it with independent
    tokenizer/layout code.  ``order`` permutes the PHYSICAL emission order
    of the objects (ids unchanged, xref correct) — a page-tree-aware
    parser must be indifferent to it."""
    import zlib as _z

    n = len(page_streams)
    objs: list[bytes] = []
    kids = " ".join(f"{3 + 2 * i} 0 R" for i in range(n))
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objs.append(f"<< /Type /Pages /Kids [{kids}] /Count {n} >>".encode())
    font_id = 3 + 2 * n
    for i, stream in enumerate(page_streams):
        page_id = 3 + 2 * i
        content_id = page_id + 1
        objs.append(
            (
                f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
                f"/Contents {content_id} 0 R /Resources << /Font << /F1 {font_id} 0 R >> >> >>"
            ).encode()
        )
        data = _z.compress(stream) if compress else stream
        filt = b" /Filter /FlateDecode" if compress else b""
        objs.append(
            b"<< /Length %d%s >>\nstream\n%s\nendstream" % (len(data), filt, data)
        )
    objs.append(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    return _assemble_pdf(objs, order)


def _assemble_pdf(objs: list[bytes], order: list[int] | None = None) -> bytes:
    out = bytearray(b"%PDF-1.4\n")
    offsets = [0] * len(objs)
    for idx in order if order is not None else range(len(objs)):
        offsets[idx] = len(out)
        out += b"%d 0 obj\n" % (idx + 1) + objs[idx] + b"\nendobj\n"
    xref_at = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    for off in offsets:
        out += b"%010d 00000 n \n" % off
    out += (
        b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objs) + 1, xref_at)
    )
    return bytes(out)


def _pdf_bytes_unicode(pages: list[list[tuple[float, float, float, str]]]) -> bytes:
    """Writer for non-Latin text-PDFs: a 2-byte-code font with a /ToUnicode
    CMap (bfchar per distinct char); page text is shown as hex strings of
    the 2-byte codes — nothing latin-1-decodable appears in the content
    stream, so extraction correctness proves the CMap path."""
    chars: dict[str, int] = {}
    for page in pages:
        for _sz, _x, _y, text in page:
            for ch in text:
                chars.setdefault(ch, len(chars) + 1)
    bfchars = "\n".join(
        f"<{code:04X}> <{ord(ch):04X}>" for ch, code in sorted(chars.items(), key=lambda kv: kv[1])
    )
    cmap = (
        "/CIDInit /ProcSet findresource begin\n"
        "begincmap\n"
        "1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n"
        f"{len(chars)} beginbfchar\n{bfchars}\nendbfchar\n"
        "endcmap\nend\n"
    ).encode("ascii")

    n = len(pages)
    objs: list[bytes] = []
    kids = " ".join(f"{3 + 2 * i} 0 R" for i in range(n))
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objs.append(f"<< /Type /Pages /Kids [{kids}] /Count {n} >>".encode())
    font_id = 3 + 2 * n
    cmap_id = font_id + 1
    for i, page in enumerate(pages):
        content_id = 3 + 2 * i + 1
        lines = []
        for sz, x, y, text in page:
            hexstr = "".join(f"{chars[ch]:04X}" for ch in text)
            lines.append(f"BT /FU {sz} Tf {x} {y} Td <{hexstr}> Tj ET".encode("ascii"))
        stream = b"\n".join(lines)
        objs.append(
            (
                f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
                f"/Contents {content_id} 0 R /Resources << /Font << /FU {font_id} 0 R >> >> >>"
            ).encode()
        )
        objs.append(b"<< /Length %d >>\nstream\n%s\nendstream" % (len(stream), stream))
    objs.append(
        f"<< /Type /Font /Subtype /Type0 /BaseFont /Synthetic-CID /ToUnicode {cmap_id} 0 R >>".encode()
    )
    objs.append(b"<< /Length %d >>\nstream\n%s\nendstream" % (len(cmap), cmap))
    return _assemble_pdf(objs)


def _pdf_line(size: float, x: float, y: float, text: str) -> bytes:
    return f"BT /F1 {size} Tf {x} {y} Td ({_pdf_escape(text)}) Tj ET".encode("latin-1")


def build_pdfs() -> None:
    """PDF/layout-parse fixture (north_rule): writer-emitted PDFs with the
    expected span structure recorded by the GENERATOR (kind/text/order are
    what was placed on the page — independent of the parser under test)."""
    span_type = pa.struct(
        [("kind", pa.string()), ("text", pa.string()), ("media_ref", pa.string()), ("offset", pa.int32())]
    )
    rows = []  # (doc_id, payload, exp_spans, exp_n_pages, exp_err)

    # p0: heading + 2-line paragraph (merges) + separate paragraph
    s0 = b"\n".join(
        [
            _pdf_line(18, 72, 720, "Quarterly Report"),
            _pdf_line(11, 72, 690, "Revenue grew in the third quarter"),
            _pdf_line(11, 72, 676, "driven by subscription renewals."),
            _pdf_line(11, 72, 600, "Outlook remains unchanged."),
        ]
    )
    rows.append(
        (
            "p0",
            _pdf_bytes([s0]),
            [
                ("heading", "Quarterly Report", None, 0),
                ("text", "Revenue grew in the third quarter driven by subscription renewals.", None, 1),
                ("text", "Outlook remains unchanged.", None, 2),
            ],
            1,
            None,
        )
    )

    # p1: two pages, ordered
    s1a = b"\n".join([_pdf_line(18, 72, 720, "Page One Title"), _pdf_line(11, 72, 690, "First page body.")])
    s1b = b"\n".join([_pdf_line(18, 72, 720, "Page Two Title"), _pdf_line(11, 72, 690, "Second page body.")])
    rows.append(
        (
            "p1",
            _pdf_bytes([s1a, s1b]),
            [
                ("heading", "Page One Title", None, 0),
                ("text", "First page body.", None, 1),
                ("heading", "Page Two Title", None, 2),
                ("text", "Second page body.", None, 3),
            ],
            2,
            None,
        )
    )

    # p2: FlateDecode-compressed content stream
    s2 = b"\n".join([_pdf_line(18, 72, 720, "Compressed Title"), _pdf_line(11, 72, 690, "Deflated body text.")])
    rows.append(
        (
            "p2",
            _pdf_bytes([s2], compress=True),
            [
                ("heading", "Compressed Title", None, 0),
                ("text", "Deflated body text.", None, 1),
            ],
            1,
            None,
        )
    )

    # p3: TJ array + escaped parens + octal escapes (\101\102 = AB)
    s3 = (
        b"BT /F1 18 Tf 72 720 Td (Escapes \\(and\\) more) Tj ET\n"
        b"BT /F1 11 Tf 72 690 Td [(Kerned ) (array ) (text \\101\\102)] TJ ET"
    )
    rows.append(
        (
            "p3",
            _pdf_bytes([s3]),
            [
                ("heading", "Escapes (and) more", None, 0),
                ("text", "Kerned array text AB", None, 1),
            ],
            1,
            None,
        )
    )

    # p4: Tm absolute positioning + two items on one baseline (x-ordered)
    s4 = (
        b"BT /F1 11 Tf 1 0 0 1 200 700 Tm (right half) Tj ET\n"
        b"BT /F1 11 Tf 1 0 0 1 72 700 Tm (left half) Tj ET"
    )
    rows.append(
        ("p4", _pdf_bytes([s4]), [("text", "left half right half", None, 0)], 1, None)
    )

    # p5: image-only page (no BT) -> error
    rows.append(("p5", _pdf_bytes([b"q 612 0 0 792 0 0 cm /Im0 Do Q"]), [], 0, "ERR_PDF"))
    # p6: not a PDF at all -> error
    rows.append(("p6", b"GIF89a not a pdf", [], 0, "ERR_PDF"))

    # p7: physically SCRAMBLED object order (content of page 2 first, catalog
    # last) — logical page-tree order must still win
    s7a = b"\n".join([_pdf_line(18, 72, 720, "Scrambled One"), _pdf_line(11, 72, 690, "First logical page.")])
    s7b = b"\n".join([_pdf_line(18, 72, 720, "Scrambled Two"), _pdf_line(11, 72, 690, "Second logical page.")])
    # ids: 1 catalog, 2 pages, 3 page1, 4 content1, 5 page2, 6 content2, 7 font
    rows.append(
        (
            "p7",
            _pdf_bytes([s7a, s7b], order=[5, 3, 6, 4, 1, 2, 0]),
            [
                ("heading", "Scrambled One", None, 0),
                ("text", "First logical page.", None, 1),
                ("heading", "Scrambled Two", None, 2),
                ("text", "Second logical page.", None, 3),
            ],
            2,
            None,
        )
    )

    # p8: non-Latin text via 2-byte codes + /ToUnicode CMap (no latin-1
    # decodable bytes in the content stream at all)
    p8_pages = [
        [
            (18.0, 72.0, 720.0, "Отчёт за квартал"),
            (11.0, 72.0, 690.0, "Выручка выросла в третьем квартале."),
            (11.0, 72.0, 600.0, "Πρόβλεψη αμετάβλητη."),
        ]
    ]
    rows.append(
        (
            "p8",
            _pdf_bytes_unicode(p8_pages),
            [
                ("heading", "Отчёт за квартал", None, 0),
                ("text", "Выручка выросла в третьем квартале.", None, 1),
                ("text", "Πρόβλεψη αμετάβλητη.", None, 2),
            ],
            1,
            None,
        )
    )

    pq.write_table(
        pa.table(
            {
                "doc_id": [r[0] for r in rows],
                "payload": pa.array([r[1] for r in rows], pa.binary()),
                "exp_spans": pa.array([r[2] for r in rows], pa.list_(span_type)),
                "exp_n_pages": pa.array([r[3] for r in rows], pa.int32()),
                "exp_error_prefix": [r[4] for r in rows],
            }
        ),
        os.path.join(OUT, "pdfs.parquet"),
    )


def build_neardup_corpus() -> None:
    """Planted-duplicate corpus for dedup recall gating: 30 base texts,
    each with an exact copy, a near-copy (one word substituted per 12),
    and a shuffled-suffix copy; plus 30 unrelated texts.  Deterministic
    (id-derived perturbations, no RNG)."""
    words = (
        "engine spark shuffle partition arrow batch schema parquet column row "
        "join filter window aggregate broadcast salt skew ledger resume span "
        "markdown heading table code image media document corpus token quality"
    ).split()
    rows = []
    for i in range(30):
        base = [words[(i * 7 + j * 3) % len(words)] for j in range(48)]
        text = " ".join(base)
        rows.append((f"base{i:02d}", text, f"base{i:02d}"))
        rows.append((f"copy{i:02d}", text, f"base{i:02d}"))  # exact dup
        near = list(base)
        for j in range(0, 48, 12):
            near[j] = words[(i * 11 + j * 5 + 1) % len(words)]
        rows.append((f"near{i:02d}", " ".join(near), f"base{i:02d}"))  # near dup
        tail = base[40:] + base[:40]
        rows.append((f"far{i:02d}", " ".join(tail[:24]) + " " + " ".join(reversed(words[: (i % 14) + 10 ])), None))
    for i in range(30):
        uniq = [words[(i * 13 + j * j) % len(words)] + str((i + j) % 9) for j in range(40)]
        rows.append((f"uniq{i:02d}", " ".join(uniq), None))
    pq.write_table(
        pa.table(
            {
                "doc_id": [r[0] for r in rows],
                "text": [r[1] for r in rows],
                "family": [r[2] for r in rows],
            }
        ),
        os.path.join(OUT, "neardup.parquet"),
    )


def build_neardup_hi_corpus() -> None:
    """High-similarity planted corpus for production-parameter LSH gating.
    128 perms / 16 bands targets an LSH threshold s* = (1/16)^(1/8) ≈ 0.707,
    so the planted near-dups here sit ABOVE it: one word substituted per
    48 → 3-shingle jaccard ≈ 0.88 (expected candidate probability ≈ 0.999).
    30 families of base + exact + near, plus 40 unrelated docs."""
    words = (
        "engine spark shuffle partition arrow batch schema parquet column row "
        "join filter window aggregate broadcast salt skew ledger resume span "
        "markdown heading table code image media document corpus token quality"
    ).split()
    rows = []
    for i in range(30):
        # position-suffixed tokens → 48 DISTINCT words → 46 distinct
        # shingles, so one substitution gives jaccard 43/49 ≈ 0.878
        base = [words[(i * 7 + j * 3) % len(words)] + str(j) for j in range(48)]
        text = " ".join(base)
        rows.append((f"base{i:02d}", text, f"base{i:02d}"))
        rows.append((f"copy{i:02d}", text, f"base{i:02d}"))
        near = list(base)
        near[24] = words[(i * 11 + 5) % len(words)] + "x"  # always a new token
        rows.append((f"near{i:02d}", " ".join(near), f"base{i:02d}"))
    for i in range(40):
        uniq = [words[(i * 13 + j * j) % len(words)] + str((i + 2 * j) % 11) for j in range(40)]
        rows.append((f"uniq{i:02d}", " ".join(uniq), None))
    pq.write_table(
        pa.table(
            {
                "doc_id": [r[0] for r in rows],
                "text": [r[1] for r in rows],
                "family": [r[2] for r in rows],
            }
        ),
        os.path.join(OUT, "neardup_hi.parquet"),
    )


def build_adversarial_corpus() -> None:
    """Degenerate-LSH-bucket skew fixture: 5000 byte-identical boilerplate
    docs (the classic hot bucket — every band key collides) plus 200
    distinct pages.  The capped candidate join must complete with a LINEAR
    pair count for the boilerplate family, not 5000^2/2."""
    words = (
        "engine spark shuffle partition arrow batch schema parquet column row "
        "join filter window aggregate broadcast salt skew ledger resume span "
        "markdown heading table code image media document corpus token quality"
    ).split()
    boiler = " ".join(words[(j * 5) % len(words)] for j in range(48))
    rows = [(f"boiler{i:04d}", boiler) for i in range(5000)]
    for i in range(200):
        t = " ".join(
            words[(i * 17 + j * j * 3) % len(words)] + str((i * j) % 7) for j in range(40)
        )
        rows.append((f"page{i:03d}", t))
    pq.write_table(
        pa.table(
            {
                "doc_id": [r[0] for r in rows],
                "text": [r[1] for r in rows],
            }
        ),
        os.path.join(OUT, "adversarial.parquet"),
    )


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import struct as _s
    import zlib as _z

    return _s.pack(">I", len(data)) + ctype + data + _s.pack(
        ">I", _z.crc32(ctype + data) & 0xFFFFFFFF
    )


def _png_filtered(pixels: bytes, height: int, stride: int, ch: int, row_filters: list[int]) -> bytearray:
    """Apply per-row filter types (0=None 1=Sub 2=Up 3=Average 4=Paeth)
    to raw pixel rows, emitting the filter-byte-interleaved stream; used
    whole-image (non-interlaced) and per Adam7 pass (interlaced)."""

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        if pa <= pb and pa <= pc:
            return a
        return b if pb <= pc else c

    raw = bytearray()
    for r in range(height):
        f = row_filters[r % len(row_filters)]
        cur = pixels[r * stride : (r + 1) * stride]
        prev = pixels[(r - 1) * stride : r * stride] if r else bytes(stride)
        raw.append(f)
        for i in range(stride):
            a = cur[i - ch] if i >= ch else 0
            b = prev[i]
            c = prev[i - ch] if i >= ch else 0
            if f == 0:
                raw.append(cur[i])
            elif f == 1:
                raw.append((cur[i] - a) & 0xFF)
            elif f == 2:
                raw.append((cur[i] - b) & 0xFF)
            elif f == 3:
                raw.append((cur[i] - (a + b) // 2) & 0xFF)
            elif f == 4:
                raw.append((cur[i] - paeth(a, b, c)) & 0xFF)
            else:
                raise ValueError(f)
    return raw


_ADAM7_W = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _png_bytes(width: int, height: int, color_type: int, pixels: bytes, row_filters: list[int], interlaced: bool = False) -> bytes:
    """PNG WRITER (independent of the decoder under test): filters the
    raw pixel rows (whole-image, or per Adam7 pass sub-image when
    ``interlaced`` — pixels stay in DISPLAY order either way), deflates,
    and wraps in signature+IHDR+IDAT+IEND."""
    import struct as _s
    import zlib as _z

    ch = {0: 1, 2: 3, 4: 2, 6: 4}[color_type]
    stride = width * ch
    if not interlaced:
        raw = _png_filtered(pixels, height, stride, ch, row_filters)
    else:
        raw = bytearray()
        for x0, y0, dx, dy in _ADAM7_W:
            pw = (width - x0 + dx - 1) // dx
            ph = (height - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue  # empty pass: no scanlines at all
            sub = bytearray()
            for j in range(ph):
                for i in range(pw):
                    src = ((y0 + j * dy) * width + (x0 + i * dx)) * ch
                    sub += pixels[src : src + ch]
            raw += _png_filtered(bytes(sub), ph, pw * ch, ch, row_filters)
    ihdr = _s.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 1 if interlaced else 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", _z.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )


def _lzw_encode(indices: bytes, min_code_size: int) -> bytes:
    """GIF-variant LZW ENCODER (independent of the decoder under test):
    LSB-first variable-width codes with CLEAR prefix, dictionary growth
    mirrored to the decoder's width-advance rule, 4096-entry cap."""
    clear = 1 << min_code_size
    end = clear + 1
    bits: list[int] = []
    width = min_code_size + 1
    table = {bytes([i]): i for i in range(clear)}
    next_code = end + 1

    def emit(code, w):
        for i in range(w):
            bits.append((code >> i) & 1)

    emit(clear, width)
    w_seq = b""
    for k in indices:
        wk = w_seq + bytes([k])
        if wk in table:
            w_seq = wk
            continue
        emit(table[w_seq], width)
        if next_code < 4096:
            table[wk] = next_code
            next_code += 1
        # the decoder's table after READING the k-th emitted code holds
        # next_code - 1 entries and grows width at 2^width entries
        if next_code == (1 << width) + 1 and width < 12:
            width += 1
        w_seq = bytes([k])
    if w_seq:
        emit(table[w_seq], width)
        # the decoder appends once more while processing this flush code
        if next_code == (1 << width) and width < 12:
            width += 1
    emit(end, width)
    out = bytearray()
    for i in range(0, len(bits), 8):
        byte = 0
        for j, b in enumerate(bits[i : i + 8]):
            byte |= b << j
        out.append(byte)
    return bytes(out)


def _gif_bytes(width: int, height: int, palette: list[tuple[int, int, int]], indices: bytes,
               with_extension: bool = False, interlaced: bool = False) -> bytes:
    """GIF WRITER: header + global color table + optional graphics
    extension + LZW-compressed image data in 255-byte sub-blocks;
    ``interlaced`` stores rows in the 4-pass order (0::8, 4::8, 2::4,
    1::2) with the interlace flag set — ``indices`` stays in DISPLAY
    order either way."""
    import struct as _s

    n_bits = max(2, (len(palette) - 1).bit_length())
    table_size = 1 << n_bits
    gct = b"".join(bytes(c) for c in palette) + b"\x00\x00\x00" * (table_size - len(palette))
    out = bytearray(b"GIF89a")
    out += _s.pack("<HHBBB", width, height, 0x80 | (n_bits - 1), 0, 0)
    out += gct
    if with_extension:
        out += b"\x21\xf9\x04\x00\x00\x00\x00\x00"  # graphics control ext
    out += b"\x2c" + _s.pack("<HHHHB", 0, 0, width, height, 0x40 if interlaced else 0)
    out.append(n_bits)
    if interlaced:
        indices = b"".join(
            indices[r * width : (r + 1) * width]
            for start, step in ((0, 8), (4, 8), (2, 4), (1, 2))
            for r in range(start, height, step)
        )
    lzw = _lzw_encode(indices, n_bits)
    for i in range(0, len(lzw), 255):
        block = lzw[i : i + 255]
        out.append(len(block))
        out += block
    out += b"\x00\x3b"
    return bytes(out)


def _resize8_sum(px: bytes, w: int, h: int, ch: int) -> int:
    """Expected 8x8 nearest-neighbor thumbnail pixel sum, computed with a
    plain-Python loop INDEPENDENT of the pipeline's numpy resize (same
    floor(i*src/8) sampling rule)."""
    total = 0
    for y in range(8):
        sy = (y * h) // 8
        for x in range(8):
            sx = (x * w) // 8
            for c in range(ch):
                total += px[(sy * w + sx) * ch + c]
    return total


def _dhash_expected(px: bytes, w: int, h: int, ch: int):
    """Expected 64-bit dHash (hex + four 16-bit blocks), computed with
    plain-Python loops INDEPENDENT of the pipeline's numpy implementation
    (same integer luma (299R+587G+114B)//1000, same floor(i*src/out)
    resample to 9x8, same row-major MSB-first packing)."""

    def luma(x: int, y: int) -> int:
        o = (y * w + x) * ch
        if ch >= 3:
            return (299 * px[o] + 587 * px[o + 1] + 114 * px[o + 2]) // 1000
        return px[o]

    v = 0
    for y in range(8):
        sy = (y * h) // 8
        row = [luma((x * w) // 9, sy) for x in range(9)]
        for x in range(8):
            v = (v << 1) | (1 if row[x + 1] > row[x] else 0)
    return (
        format(v, "016x"),
        (v >> 48) & 0xFFFF,
        (v >> 32) & 0xFFFF,
        (v >> 16) & 0xFFFF,
        v & 0xFFFF,
    )


def _dhash_cols(rows, hex_i: int):
    """pa.table columns for the expected-dhash fields appended at
    ``rows[i][hex_i:hex_i+5]`` (hex, b0..b3)."""
    return {
        "exp_dhash_hex": [r[hex_i] for r in rows],
        **{
            f"exp_b{j}": pa.array(
                [r[hex_i + 1 + j] for r in rows], pa.int32()
            )
            for j in range(4)
        },
    }


def build_pngs() -> None:
    """Real-PNG decode fixture: generator-written PNGs (every filter type,
    gray/RGB/RGBA) with the expected width/height/channels/pixel_sum
    recorded from the RAW pixel array before filtering+deflate — the
    decoder under test must invert both to reproduce them."""
    rows = []  # (media_id, payload, exp_w, exp_h, exp_ch, exp_sum, exp_err)

    def gradient(w, h, ch, seed):
        return bytes(((x * 7 + y * 13 + c * 29 + seed * 31) % 256)
                     for y in range(h) for x in range(w) for c in range(ch))

    cases = [
        ("png-none", 16, 12, 2, 3, [0]),
        ("png-sub", 16, 12, 2, 5, [1]),
        ("png-up", 16, 12, 2, 7, [2]),
        ("png-avg", 16, 12, 2, 11, [3]),
        ("png-paeth", 16, 12, 2, 13, [4]),
        ("png-mixed", 24, 17, 2, 17, [0, 1, 2, 3, 4]),
        ("png-gray", 9, 9, 0, 19, [1, 4]),
        ("png-rgba", 8, 6, 6, 23, [2, 3]),
        # Adam7 interlaced: odd dims exercise empty/ragged passes; all
        # five filter types cycle within each pass sub-image
        ("png-adam7", 21, 13, 2, 29, [0, 1, 2, 3, 4]),
        ("png-adam7-tiny", 3, 2, 0, 31, [1, 4]),
    ]
    for mid, w, h, ct, seed, filters in cases:
        ch = {0: 1, 2: 3, 6: 4}[ct]
        px = gradient(w, h, ch, seed)
        payload = _png_bytes(w, h, ct, px, filters, interlaced=mid.startswith("png-adam7"))
        rows.append((mid, payload, w, h, ch, sum(px), None, _resize8_sum(px, w, h, ch),
                     *_dhash_expected(px, w, h, ch)))
    rows.append(("png-truncated", rows[0][1][:40], None, None, None, None, "ERR_IMG", None,
                 None, None, None, None, None))
    rows.append(("png-not-a-png", b"JFIF not a png", None, None, None, None, "ERR_IMG", None,
                 None, None, None, None, None))

    pq.write_table(
        pa.table(
            {
                "media_id": [r[0] for r in rows],
                "payload": pa.array([r[1] for r in rows], pa.binary()),
                "exp_width": pa.array([r[2] for r in rows], pa.int32()),
                "exp_height": pa.array([r[3] for r in rows], pa.int32()),
                "exp_channels": pa.array([r[4] for r in rows], pa.int32()),
                "exp_pixel_sum": pa.array([r[5] for r in rows], pa.int64()),
                "exp_error_prefix": [r[6] for r in rows],
                "exp_resize8_sum": pa.array([r[7] for r in rows], pa.int64()),
                **_dhash_cols(rows, 8),
            }
        ),
        os.path.join(OUT, "pngs.parquet"),
    )


def build_gifs() -> None:
    """Real-GIF decode fixture: generator-written GIFs (real LZW encoder,
    palette sizes crossing code-width boundaries, extension blocks) with
    expected width/height/pixel_sum recorded from the RAW RGB pixels the
    generator placed — the decoder must invert sub-blocking, LZW, and the
    palette to reproduce them."""
    rows = []  # (media_id, payload, exp_w, exp_h, exp_ch, exp_sum, exp_err)
    cases = [
        ("gif-small", 8, 8, 4, 1, False),
        ("gif-16color", 33, 21, 16, 2, True),
        ("gif-256color", 60, 40, 256, 3, False),
        ("gif-repetitive", 32, 16, 2, 4, True),
    ]
    for mid, w, h, ncolors, seed, ext in cases:
        palette = [((i * 37) % 256, (i * 91) % 256, (i * 53) % 256) for i in range(ncolors)]
        if mid == "gif-repetitive":
            idx = bytes([0, 0, 0, 0, 1, 1, 1, 1] * (w * h // 8))
        else:
            idx = bytes(((x * 7 + y * 13 + seed) % ncolors) for y in range(h) for x in range(w))
        payload = _gif_bytes(w, h, palette, idx, with_extension=ext)
        px = b"".join(bytes(palette[i]) for i in idx)
        rows.append((mid, payload, w, h, 3, sum(px), None, _resize8_sum(px, w, h, 3),
                     *_dhash_expected(px, w, h, 3)))
    # genuinely interlaced frame: rows stored in 4-pass order, decoder
    # must de-interlace back to display order (the expected pixels)
    w, h, ncolors = 24, 19, 8
    palette = [((i * 37) % 256, (i * 91) % 256, (i * 53) % 256) for i in range(ncolors)]
    idx = bytes(((x * 5 + y * 11) % ncolors) for y in range(h) for x in range(w))
    payload = _gif_bytes(w, h, palette, idx, interlaced=True)
    px = b"".join(bytes(palette[i]) for i in idx)
    rows.append(("gif-interlaced", payload, w, h, 3, sum(px), None, _resize8_sum(px, w, h, 3),
                 *_dhash_expected(px, w, h, 3)))
    rows.append(("gif-truncated", rows[0][1][:20], None, None, None, None, "ERR_IMG", None,
                 None, None, None, None, None))

    pq.write_table(
        pa.table(
            {
                "media_id": [r[0] for r in rows],
                "payload": pa.array([r[1] for r in rows], pa.binary()),
                "exp_width": pa.array([r[2] for r in rows], pa.int32()),
                "exp_height": pa.array([r[3] for r in rows], pa.int32()),
                "exp_channels": pa.array([r[4] for r in rows], pa.int32()),
                "exp_pixel_sum": pa.array([r[5] for r in rows], pa.int64()),
                "exp_error_prefix": [r[6] for r in rows],
                "exp_resize8_sum": pa.array([r[7] for r in rows], pa.int64()),
                **_dhash_cols(rows, 8),
            }
        ),
        os.path.join(OUT, "gifs.parquet"),
    )


def _jz() -> list[int]:
    """Zigzag order (anti-diagonal walk), matching JPEG spec figure A.6."""
    zz = []
    for s in range(15):
        pts = [(r, s - r) for r in range(s + 1) if r < 8 and s - r < 8]
        if s % 2 == 0:
            pts = pts[::-1]
        zz += [r * 8 + c for r, c in pts]
    return zz


class _JpegWriter:
    """MSB-first bit writer with 0xFF00 byte stuffing.  align() pads the
    final partial byte with 1-bits and STUFFS it too — that byte still
    carries real data bits, so the decoder must be able to read through
    it (spec F.1.2.3: stuffing applies to every 0xFF in entropy data,
    padding-completed or not)."""

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def _emit(self, b: int) -> None:
        self.out.append(b)
        if b == 0xFF:
            self.out.append(0x00)

    def write(self, val: int, nbits: int) -> None:
        for i in range(nbits - 1, -1, -1):
            self.acc = (self.acc << 1) | ((val >> i) & 1)
            self.n += 1
            if self.n == 8:
                self._emit(self.acc)
                self.acc = 0
                self.n = 0

    def align(self) -> None:
        if self.n:
            pad = 8 - self.n
            self._emit((self.acc << pad) | ((1 << pad) - 1))
            self.acc = 0
            self.n = 0


def _jpeg_huff(symbols: list[int]) -> tuple[list[int], list[int], dict]:
    """Canonical fixed-length Huffman table over the distinct symbols:
    all codes at length L with 2^L - 1 >= n (the all-ones code stays
    unused, per the spec's table-building convention).  Returns (BITS,
    HUFFVAL, {symbol: (code, length)})."""
    vals = sorted(set(symbols))
    ln = 1
    while (1 << ln) - 1 < len(vals):
        ln += 1
    bits = [0] * 16
    bits[ln - 1] = len(vals)
    enc = {sym: (i, ln) for i, sym in enumerate(vals)}
    return bits, vals, enc


def _jpeg_bytes(
    width: int,
    height: int,
    comps: list[list[list[int]]],
    qtables: list[list[int]],
    dri: int = 0,
    sof: int = 0xC0,
    sampling: list[tuple[int, int]] | None = None,
) -> bytes:
    """Minimal baseline-JPEG encoder for fixtures: ``comps`` holds, per
    component, a list of 64-entry QUANTIZED coefficient blocks in NATURAL
    (row-major 8x8) order, in the COMPONENT's own block-raster order
    (padded to the MCU grid); ``qtables`` are per-component quant tables
    in natural order (written to DQT in zigzag order, as the spec
    requires).  ``sampling`` gives per-component (h, v) factors (default
    all 1x1 = 4:4:4; [(2,2),(1,1),(1,1)] = 4:2:0).  Shared DC/AC Huffman
    tables built from the symbols actually emitted."""
    import struct as _s

    zz = _jz()
    nc = len(comps)
    sampling = sampling or [(1, 1)] * nc
    hmax = max(hs for hs, _ in sampling)
    vmax = max(vs for _, vs in sampling)
    mx = (width + 8 * hmax - 1) // (8 * hmax)
    my = (height + 8 * vmax - 1) // (8 * vmax)
    for ci, (hs, vs) in enumerate(sampling):
        assert len(comps[ci]) == (my * vs) * (mx * hs), (ci, len(comps[ci]))

    def category(v: int) -> int:
        return v if v == 0 else len(bin(abs(v))) - 2

    def walk(on_dc, on_ac):
        """One MCU walk shared by symbol collection and bit emission —
        restart intervals reset the DC predictors in BOTH passes."""
        pred = [0] * nc
        mcu = 0
        for ym in range(my):
            for xm in range(mx):
                if dri and mcu and mcu % dri == 0:
                    pred = [0] * nc
                    yield ("rst", mcu // dri - 1)
                for ci, (hs, vs) in enumerate(sampling):
                    bx_i = mx * hs
                    for v_ in range(vs):
                        for u_ in range(hs):
                            blk = comps[ci][(ym * vs + v_) * bx_i + (xm * hs + u_)]
                            diff = blk[0] - pred[ci]
                            pred[ci] = blk[0]
                            on_dc(diff)
                            run = 0
                            last_nz = max(
                                (k for k in range(1, 64) if blk[zz[k]] != 0), default=0
                            )
                            for k in range(1, last_nz + 1):
                                v = blk[zz[k]]
                                if v == 0:
                                    run += 1
                                    continue
                                while run > 15:
                                    on_ac(0xF0, None)
                                    run -= 16
                                on_ac((run << 4) | category(v), v)
                                run = 0
                            if last_nz < 63:
                                on_ac(0x00, None)
                mcu += 1

    # first pass: collect the DC-size and AC-(run,size) symbols in use
    dc_syms, ac_syms = [], [0x00]
    for _ in walk(
        lambda d: dc_syms.append(category(d)), lambda s, v: ac_syms.append(s)
    ):
        pass
    dc_bits, dc_vals, dc_enc = _jpeg_huff(dc_syms)
    ac_bits, ac_vals, ac_enc = _jpeg_huff(ac_syms)

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + _s.pack(">H", len(body) + 2) + body

    out = bytearray(b"\xff\xd8")
    for tq, q in enumerate(qtables):
        out += seg(0xDB, bytes([tq]) + bytes(q[zz[k]] for k in range(64)))
    sof_body = bytes([8]) + _s.pack(">HH", height, width) + bytes([nc])
    for ci in range(nc):
        hs, vs = sampling[ci]
        sof_body += bytes([ci + 1, (hs << 4) | vs, ci if ci < len(qtables) else 0])
    out += seg(sof, sof_body)
    out += seg(0xC4, bytes([0x00]) + bytes(dc_bits) + bytes(dc_vals))
    out += seg(0xC4, bytes([0x10]) + bytes(ac_bits) + bytes(ac_vals))
    if dri:
        out += seg(0xDD, _s.pack(">H", dri))
    sos_body = bytes([nc])
    for ci in range(nc):
        sos_body += bytes([ci + 1, 0x00])
    sos_body += bytes([0, 63, 0])
    out += seg(0xDA, sos_body)

    w = _JpegWriter()

    def emit_dc(diff: int) -> None:
        s = category(diff)
        code, ln = dc_enc[s]
        w.write(code, ln)
        if s:
            w.write(diff if diff > 0 else diff + (1 << s) - 1, s)

    def emit_ac(sym: int, v) -> None:
        code, ln = ac_enc[sym]
        w.write(code, ln)
        if v is not None:
            s = sym & 15
            w.write(v if v > 0 else v + (1 << s) - 1, s)

    for _marker, rst_n in walk(emit_dc, emit_ac):
        w.align()
        w.out += bytes([0xFF, 0xD0 + (rst_n & 7)])
    w.align()
    out += w.out
    out += b"\xff\xd9"
    return bytes(out)


def _jpeg_bytes_progressive(
    width: int,
    height: int,
    comps: list[list[list[int]]],
    qtables: list[list[int]],
    scans: list[tuple[list[int], int, int, int, int]],
    sampling: list[tuple[int, int]] | None = None,
    dri: int = 0,
) -> bytes:
    """Progressive-JPEG (SOF2) writer for fixtures — independent of the
    pipeline decoder.  Same coefficient-block input format as
    ``_jpeg_bytes``; ``scans`` is a scan script of (component index
    list, Ss, Se, Ah, Al) tuples per T.81 Annex G: DC scans (Ss=Se=0)
    interleave when multi-component; AC scans are single-component with
    EOBn end-of-band runs; Ah=0 scans code values at precision Al
    (arithmetic shift for DC, magnitude-truncation for AC) and Ah=Al+1
    scans refine one bit (newly-nonzero run/1 symbols + buffered
    correction bits, per G.1.2.3).  Progressive coding is lossless over
    the quantized coefficients, so ``_jpeg_expected_pixels`` gives the
    expected decode.  One fresh Huffman table per scan (slot 0,
    redefined between scans).  ``dri`` emits RSTn every ``dri`` MCUs
    (interleaved) / blocks (non-interleaved), flushing EOB runs first."""
    import struct as _s

    zz = _jz()
    nc = len(comps)
    sampling = sampling or [(1, 1)] * nc
    hmax = max(hs for hs, _ in sampling)
    vmax = max(vs for _, vs in sampling)
    mx = (width + 8 * hmax - 1) // (8 * hmax)
    my = (height + 8 * vmax - 1) // (8 * vmax)
    for ci, (hs, vs) in enumerate(sampling):
        assert len(comps[ci]) == (my * vs) * (mx * hs), (ci, len(comps[ci]))

    def category(v: int) -> int:
        return v if v == 0 else len(bin(abs(v))) - 2

    def trunc(v: int, n: int) -> int:
        return (abs(v) >> n) if v >= 0 else -(abs(v) >> n)

    def comp_blocks(ci: int) -> list[list[int]]:
        """The component's own (non-MCU-padded) block raster."""
        hs, vs = sampling[ci]
        bw_n = (-(-(width * hs) // hmax) + 7) // 8
        bh_n = (-(-(height * vs) // vmax) + 7) // 8
        stride = mx * hs
        return [
            comps[ci][by * stride + bx]
            for by in range(bh_n)
            for bx in range(bw_n)
        ]

    def gen_events(comp_list, ss, se, ah, al):
        """Event list for one scan: ("sym", symbol, (bits, n)|None) |
        ("raw", bits, n) | ("rst", n).  Stream-identical for the symbol
        collection and the emit pass."""
        ev = []
        first = ah == 0
        if ss == 0:  # DC scan
            units = []
            if len(comp_list) > 1:  # interleaved MCU walk
                for ym in range(my):
                    for xm in range(mx):
                        blks = []
                        for ci in comp_list:
                            hs, vs = sampling[ci]
                            for v_ in range(vs):
                                for u_ in range(hs):
                                    blks.append(
                                        (ci, comps[ci][(ym * vs + v_) * (mx * hs) + (xm * hs + u_)])
                                    )
                        units.append(blks)
            else:
                ci = comp_list[0]
                units = [[(ci, b)] for b in comp_blocks(ci)]
            pred = {ci: 0 for ci in comp_list}
            for ui, blks in enumerate(units):
                if dri and ui and ui % dri == 0:
                    ev.append(("rst", ui // dri - 1))
                    pred = {ci: 0 for ci in comp_list}
                for ci, blk in blks:
                    if first:
                        v = blk[0] >> al  # arithmetic shift (G.1.2.1)
                        diff = v - pred[ci]
                        pred[ci] = v
                        s = category(diff)
                        ev.append(
                            ("sym", s,
                             (diff if diff > 0 else diff + (1 << s) - 1, s) if s else None)
                        )
                    else:
                        ev.append(("raw", (blk[0] >> al) & 1, 1))
            return ev
        # AC scan: single component
        ci = comp_list[0]
        blocks = comp_blocks(ci)
        eobrun = 0
        eob_bits: list[int] = []

        def flush():
            nonlocal eobrun, eob_bits
            if eobrun:
                r = eobrun.bit_length() - 1
                ev.append(("sym", r << 4, (eobrun - (1 << r), r) if r else None))
                for b in eob_bits:
                    ev.append(("raw", b, 1))
                eobrun = 0
                eob_bits = []

        if first:
            for bi, blk in enumerate(blocks):
                if dri and bi and bi % dri == 0:
                    flush()
                    ev.append(("rst", bi // dri - 1))
                vals = {k: trunc(blk[zz[k]], al) for k in range(ss, se + 1)}
                nzk = [k for k in range(ss, se + 1) if vals[k] != 0]
                if not nzk:
                    eobrun += 1
                    if eobrun == 32767:
                        flush()
                    continue
                flush()
                run = 0
                for k in range(ss, nzk[-1] + 1):
                    v = vals[k]
                    if v == 0:
                        run += 1
                        continue
                    while run > 15:
                        ev.append(("sym", 0xF0, None))
                        run -= 16
                    s = category(v)
                    ev.append(
                        ("sym", (run << 4) | s,
                         (v if v > 0 else v + (1 << s) - 1, s))
                    )
                    run = 0
                if nzk[-1] < se:
                    eobrun += 1
            flush()
            return ev
        # AC refinement (Ah = Al + 1)
        for bi, blk in enumerate(blocks):
            if dri and bi and bi % dri == 0:
                flush()
                ev.append(("rst", bi // dri - 1))
            hist = {k: trunc(blk[zz[k]], ah) for k in range(ss, se + 1)}
            newnz = [
                k for k in range(ss, se + 1)
                if hist[k] == 0 and trunc(blk[zz[k]], al) != 0
            ]
            if not newnz:
                eobrun += 1
                eob_bits += [
                    (abs(blk[zz[k]]) >> al) & 1
                    for k in range(ss, se + 1) if hist[k] != 0
                ]
                if eobrun == 32767:
                    flush()
                continue
            flush()
            run = 0
            br: list[int] = []
            last = newnz[-1]
            for k in range(ss, last + 1):
                if hist[k] != 0:
                    br.append((abs(blk[zz[k]]) >> al) & 1)
                elif trunc(blk[zz[k]], al) != 0:
                    ev.append(("sym", (run << 4) | 1, None))
                    ev.append(("raw", 1 if blk[zz[k]] > 0 else 0, 1))
                    for b in br:
                        ev.append(("raw", b, 1))
                    br = []
                    run = 0
                else:
                    run += 1
                    if run == 16:
                        # eager ZRL: its decoder pass covers exactly 16
                        # zero-history coefficients plus the correction
                        # bits buffered SO FAR — bits after the 16th zero
                        # belong to the next symbol's pass
                        ev.append(("sym", 0xF0, None))
                        for b in br:
                            ev.append(("raw", b, 1))
                        br = []
                        run = 0
            tail = [
                (abs(blk[zz[k]]) >> al) & 1
                for k in range(last + 1, se + 1) if hist[k] != 0
            ]
            if last < se:
                eobrun += 1
                eob_bits += tail
        flush()
        return ev

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + _s.pack(">H", len(body) + 2) + body

    out = bytearray(b"\xff\xd8")
    for tq, q in enumerate(qtables):
        out += seg(0xDB, bytes([tq]) + bytes(q[zz[k]] for k in range(64)))
    sof_body = bytes([8]) + _s.pack(">HH", height, width) + bytes([nc])
    for ci in range(nc):
        hs, vs = sampling[ci]
        sof_body += bytes([ci + 1, (hs << 4) | vs, ci if ci < len(qtables) else 0])
    out += seg(0xC2, sof_body)
    if dri:
        out += seg(0xDD, _s.pack(">H", dri))

    for comp_list, ss, se, ah, al in scans:
        ev = gen_events(comp_list, ss, se, ah, al)
        syms = [e[1] for e in ev if e[0] == "sym"]
        enc = {}
        if syms:
            tc = 0 if ss == 0 else 1
            bits_l, vals_l, enc = _jpeg_huff(syms)
            out += seg(0xC4, bytes([tc << 4]) + bytes(bits_l) + bytes(vals_l))
        sos_body = bytes([len(comp_list)])
        for ci in comp_list:
            sos_body += bytes([ci + 1, 0x00])  # td=0 / ta=0 (slot 0)
        sos_body += bytes([ss, se, (ah << 4) | al])
        out += seg(0xDA, sos_body)
        w = _JpegWriter()
        for e in ev:
            if e[0] == "sym":
                code, ln = enc[e[1]]
                w.write(code, ln)
                if e[2] is not None:
                    vbits, n = e[2]
                    if n:
                        w.write(vbits, n)
            elif e[0] == "raw":
                w.write(e[1], e[2])
            else:
                w.align()
                w.out += bytes([0xFF, 0xD0 + (e[1] & 7)])
        w.align()
        out += w.out
    out += b"\xff\xd9"
    return bytes(out)


def _jpeg_expected_pixels(
    width: int,
    height: int,
    comps: list[list[list[int]]],
    qtables: list[list[int]],
    sampling: list[tuple[int, int]] | None = None,
):
    """Ground-truth decode of the quantized coefficients by the public
    IDCT/JFIF definitions (independent of the pipeline's entropy decoder):
    dequantize, A.T @ F @ A per block, +128, round/clamp per plane at its
    native (subsampled) resolution, nearest-neighbor chroma upsample,
    then YCbCr→RGB for 3 components."""
    import numpy as np

    sampling = sampling or [(1, 1)] * len(comps)
    hmax = max(hs for hs, _ in sampling)
    vmax = max(vs for _, vs in sampling)
    mx = (width + 8 * hmax - 1) // (8 * hmax)
    my = (height + 8 * vmax - 1) // (8 * vmax)
    a = np.empty((8, 8))
    for u in range(8):
        cu = (1.0 / np.sqrt(2.0)) if u == 0 else 1.0
        for x in range(8):
            a[u, x] = cu / 2.0 * np.cos((2 * x + 1) * u * np.pi / 16.0)
    planes = []
    for ci, blocks in enumerate(comps):
        hs, vs = sampling[ci]
        bx_i, by_i = mx * hs, my * vs
        q = np.array(qtables[ci if ci < len(qtables) else 0], dtype=np.float64)
        plane = np.empty((by_i * 8, bx_i * 8))
        for i, blk in enumerate(blocks):
            dq = (np.array(blk, dtype=np.float64) * q).reshape(8, 8)
            yb, xb = divmod(i, bx_i)
            plane[yb * 8 : yb * 8 + 8, xb * 8 : xb * 8 + 8] = a.T @ dq @ a
        p = np.clip(np.round(plane + 128.0), 0, 255)
        if hs != hmax or vs != vmax:
            p = np.repeat(np.repeat(p, vmax // vs, axis=0), hmax // hs, axis=1)
        planes.append(p[:height, :width])
    if len(planes) == 1:
        return planes[0].astype(np.uint8).tobytes()
    y, cb, cr = planes[0], planes[1] - 128.0, planes[2] - 128.0
    r = np.clip(np.round(y + 1.402 * cr), 0, 255)
    g = np.clip(np.round(y - 0.344136 * cb - 0.714136 * cr), 0, 255)
    b = np.clip(np.round(y + 1.772 * cb), 0, 255)
    return np.stack([r, g, b], axis=-1).astype(np.uint8).reshape(-1).tobytes()


def build_jpegs() -> None:
    """Real-JPEG decode fixture: generator-encoded baseline JPEGs (DC
    DPCM across blocks, AC run/size with ZRL, non-trivial quant tables,
    non-multiple-of-8 crops, DRI/RSTn restarts, gray + YCbCr 4:4:4) with
    expected width/height/channels/pixel_sum derived from the quantized
    coefficients via the spec IDCT — the decoder under test must invert
    the full entropy layer to reproduce them.  The build self-checks each
    payload through the pipeline decoder so a writer/decoder disagreement
    fails HERE, not in the driver gate."""
    from fetch_engines_spark.pipelines.multimodal import decode_jpeg

    rows = []  # (media_id, payload, exp_w, exp_h, exp_ch, exp_sum, exp_err)
    flat1 = [1] * 64

    def dc_block(v: int) -> list[int]:
        blk = [0] * 64
        blk[0] = (v - 128) * 8
        return blk

    cases = []
    # gray, DC-only constant tiles (exact for any correct decoder)
    cases.append(
        ("jpeg-gray-dc", 24, 16, [[dc_block(v) for v in (12, 250, 128, 77, 200, 3)]], [flat1], 0)
    )
    # color 4:4:4, constant Y/Cb/Cr tiles
    ycc = [(90, 120, 200), (200, 128, 128), (40, 220, 60), (128, 50, 180)]
    cases.append(
        (
            "jpeg-rgb",
            16,
            16,
            [
                [dc_block(t[0]) for t in ycc],
                [dc_block(t[1]) for t in ycc],
                [dc_block(t[2]) for t in ycc],
            ],
            [flat1, flat1, flat1],
            0,
        )
    )
    # gray with AC coefficients: low/high frequencies, a >16-zero ZRL gap,
    # and a varied quant table (exercises zigzag dequant order)
    qv = [1 + ((r + c) % 4) for r in range(8) for c in range(8)]
    b1 = dc_block(140)
    b1[1], b1[8], b1[9] = 22, -17, 9
    b1[63] = 5  # forces a long zero run -> ZRL symbols
    b2 = dc_block(100)
    b2[2], b2[16] = -30, 12
    cases.append(("jpeg-ac", 16, 8, [[b1, b2]], [qv], 0))
    # non-multiple-of-8 dims: encoder pads to 2x2 blocks, decoder crops
    b3 = dc_block(60)
    b3[1] = 40
    cases.append(("jpeg-crop", 12, 10, [[b3, dc_block(90), dc_block(180), dc_block(33)]], [flat1], 0))
    # restart markers: 4 MCUs, DRI=2 -> RST0 between MCUs 2 and 3
    cases.append(
        ("jpeg-restart", 32, 8, [[dc_block(v) for v in (10, 20, 240, 130)]], [flat1], 2)
    )
    for mid, w, h, comps, qts, dri in cases:
        payload = _jpeg_bytes(w, h, comps, qts, dri=dri)
        px = _jpeg_expected_pixels(w, h, comps, qts)
        got = decode_jpeg(payload)
        assert (got["width"], got["height"]) == (w, h), mid
        assert got["pixels"] == px, f"{mid}: writer/decoder pixel disagreement"
        rows.append((mid, payload, w, h, len(comps), sum(px), None, _resize8_sum(px, w, h, len(comps)),
                     *_dhash_expected(px, w, h, len(comps))))
    # chroma-subsampled color: 4:2:0 (the dominant web layout — 4 Y
    # blocks + 1 Cb + 1 Cr per MCU, chroma upsampled by replication) and
    # 4:2:2 (2 Y + 1 + 1); Y carries per-block DC steps + an AC ripple
    sub_cases = []
    y420 = [dc_block(v) for v in (60, 180, 120, 240)]
    y420[0][1] = 30
    sub_cases.append(
        ("jpeg-420", 16, 16, [y420, [dc_block(90)], [dc_block(170)]],
         [flat1, flat1, flat1], [(2, 2), (1, 1), (1, 1)])
    )
    y422 = [dc_block(v) for v in (40, 220)]
    y422[1][8] = -12
    sub_cases.append(
        ("jpeg-422", 16, 8, [y422, [dc_block(140)], [dc_block(100)]],
         [flat1, flat1, flat1], [(2, 1), (1, 1), (1, 1)])
    )
    for mid, w, h, comps, qts, samp in sub_cases:
        payload = _jpeg_bytes(w, h, comps, qts, sampling=samp)
        px = _jpeg_expected_pixels(w, h, comps, qts, sampling=samp)
        got = decode_jpeg(payload)
        assert got["pixels"] == px, f"{mid}: writer/decoder pixel disagreement"
        rows.append((mid, payload, w, h, len(comps), sum(px), None, _resize8_sum(px, w, h, len(comps)),
                     *_dhash_expected(px, w, h, len(comps))))
    # progressive (SOF2): same quantized coefficients as a baseline encode
    # — progressive coding is lossless over them, so expected pixels are
    # identical; scripts exercise spectral selection, EOBn runs, DC+AC
    # successive approximation (incl. 2-level luma refinement), ZRL in
    # refinement, interleaved DC + non-interleaved AC walks, per-scan
    # table redefinition, and DRI restarts mid-scan
    b4 = dc_block(140)
    b4[1], b4[8], b4[9], b4[63] = 22, -17, 9, 5
    b5 = dc_block(100)
    b5[2], b5[16], b5[33] = -30, 12, -3
    prog_cases = [
        ("jpeg-prog-gray", 16, 8, [[b4, b5]], [qv], None,
         [([0], 0, 0, 0, 1), ([0], 1, 5, 0, 1), ([0], 6, 63, 0, 1),
          ([0], 0, 0, 1, 0), ([0], 1, 5, 1, 0), ([0], 6, 63, 1, 0)], 0),
        ("jpeg-prog-420", 16, 16, [y420, [dc_block(90)], [dc_block(170)]],
         [flat1, flat1, flat1], [(2, 2), (1, 1), (1, 1)],
         [([0, 1, 2], 0, 0, 0, 1),
          ([0], 1, 63, 0, 2), ([1], 1, 63, 0, 1), ([2], 1, 63, 0, 1),
          ([0], 1, 63, 2, 1),
          ([0, 1, 2], 0, 0, 1, 0),
          ([0], 1, 63, 1, 0), ([1], 1, 63, 1, 0), ([2], 1, 63, 1, 0)], 0),
        ("jpeg-prog-spectral-dri", 32, 8,
         [[dc_block(v) for v in (10, 20, 240, 130)]], [flat1], None,
         [([0], 0, 0, 0, 0), ([0], 1, 5, 0, 0), ([0], 6, 63, 0, 0)], 2),
    ]
    for mid, w, h, comps, qts, samp, scans, pdri in prog_cases:
        payload = _jpeg_bytes_progressive(
            w, h, comps, qts, scans, sampling=samp, dri=pdri
        )
        px = _jpeg_expected_pixels(w, h, comps, qts, sampling=samp)
        got = decode_jpeg(payload)
        assert (got["width"], got["height"]) == (w, h), mid
        assert got["pixels"] == px, f"{mid}: writer/decoder pixel disagreement"
        rows.append((mid, payload, w, h, len(comps), sum(px), None, _resize8_sum(px, w, h, len(comps)),
                     *_dhash_expected(px, w, h, len(comps))))
    # error rows: an SOF2 frame whose single scan claims the BASELINE
    # band 0..63 (illegal in progressive: Ss=0 requires Se=0), an
    # arithmetic-coded frame (SOF9), truncation, unsupported chroma
    # sampling
    rows.append(
        ("jpeg-progressive", _jpeg_bytes(8, 8, [[dc_block(50)]], [flat1], sof=0xC2), None, None, None, None, "ERR_IMG", None, None, None, None, None, None)
    )
    rows.append(
        ("jpeg-arithmetic", _jpeg_bytes(8, 8, [[dc_block(50)]], [flat1], sof=0xC9), None, None, None, None, "ERR_IMG", None, None, None, None, None, None)
    )
    rows.append(("jpeg-truncated", rows[0][1][:30], None, None, None, None, "ERR_IMG", None, None, None, None, None, None))
    sub = bytearray(_jpeg_bytes(16, 16, [y420, [dc_block(90)], [dc_block(170)]], [flat1, flat1, flat1], sampling=[(2, 2), (1, 1), (1, 1)]))
    sof_at = sub.find(b"\xff\xc0")
    sub[sof_at + 14] = 0x22  # CHROMA sampling 2x2 — out of the supported set
    rows.append(("jpeg-subsampled", bytes(sub), None, None, None, None, "ERR_IMG", None, None, None, None, None, None))

    pq.write_table(
        pa.table(
            {
                "media_id": [r[0] for r in rows],
                "payload": pa.array([r[1] for r in rows], pa.binary()),
                "exp_width": pa.array([r[2] for r in rows], pa.int32()),
                "exp_height": pa.array([r[3] for r in rows], pa.int32()),
                "exp_channels": pa.array([r[4] for r in rows], pa.int32()),
                "exp_pixel_sum": pa.array([r[5] for r in rows], pa.int64()),
                "exp_error_prefix": [r[6] for r in rows],
                "exp_resize8_sum": pa.array([r[7] for r in rows], pa.int64()),
                **_dhash_cols(rows, 8),
            }
        ),
        os.path.join(OUT, "jpegs.parquet"),
    )


def build_images_neardup() -> None:
    """Image near-duplicate fixture for the dHash pipeline: deterministic
    LCG-noise RGB PNGs with planted exact duplicates (hamming 0), planted
    few-bit near-duplicates (a strong local edit at a dHash sample point
    flips 1-3 bits), unrelated noise images (far apart), and a uniform
    'blank thumbnail' cluster — every uniform image hashes to all-zero
    dHash regardless of its gray level, which is exactly the degenerate
    hot bucket the capped star path must linearize.  Expected hashes come
    from the plain-Python ``_dhash_expected`` twin, independent of the
    pipeline's numpy implementation."""
    w, h, ch = 24, 16, 3

    def noise(seed: int) -> bytearray:
        s = seed
        out = bytearray()
        for _ in range(w * h * ch):
            s = (s * 1103515245 + 12345) & 0x7FFFFFFF
            out.append((s >> 16) & 0xFF)
        return out

    rows = []

    def add(mid: str, px: bytes) -> None:
        payload = _png_bytes(w, h, 2, bytes(px), [0])
        rows.append((mid, payload, *_dhash_expected(px, w, h, ch)))

    base_px: dict[str, bytearray] = {}
    for i in range(20):
        px = noise(1000 + 7 * i)
        base_px[f"img-{i:03d}"] = px
        add(f"img-{i:03d}", px)
    # exact duplicates of four bases
    for i in (0, 5, 10, 15):
        add(f"img-{i:03d}-copy", base_px[f"img-{i:03d}"])
    # near duplicates: overwrite a 3x2 pixel patch at a sampled dHash
    # cell (xs contains 10, ys contains 6) with white — flips the two
    # comparisons that read that sample in at most one sampled row
    for i in (2, 7, 12):
        px = bytearray(base_px[f"img-{i:03d}"])
        for y in (6, 7):
            for x in (10, 11, 12):
                o = (y * w + x) * ch
                px[o : o + 3] = b"\xff\xff\xff"
        add(f"img-{i:03d}-near", px)
    # uniform cluster: all-identical-luma rasters -> all-zero dHash (the
    # degenerate bucket); two gray levels so payloads differ but hashes
    # collide
    for j in range(7):
        level = 128 if j < 4 else 200
        add(f"blank-{j}", bytes([level]) * (w * h * ch))

    pq.write_table(
        pa.table(
            {
                "media_id": [r[0] for r in rows],
                "payload": pa.array([r[1] for r in rows], pa.binary()),
                "exp_dhash_hex": [r[2] for r in rows],
                **{
                    f"exp_b{j}": pa.array(
                        [r[3 + j] for r in rows], pa.int32()
                    )
                    for j in range(4)
                },
            }
        ),
        os.path.join(OUT, "images_neardup.parquet"),
    )


def build_documents_media() -> None:
    """Interleaved text+media documents whose media spans reference the
    ``images_neardup`` corpus — input for the media-span canonicalization
    operator (near-dup image clusters → canonical media_ref rewrite).
    Mix: docs referencing cluster members (rewritten), cluster canonicals
    (identity), unique images (untouched), a DANGLING ref (no such
    media — passes through), text-only docs, an empty-spans doc, and a
    NULL-spans doc.  No expected columns: the oracle recomputes the
    clusters from the image fixture's expected dHash blocks by recursive
    CTE."""
    span_type = pa.struct(
        [("kind", pa.string()), ("text", pa.string()), ("media_ref", pa.string()), ("offset", pa.int32())]
    )

    def t(text, off):
        return ("text", text, None, off)

    def m(ref, off):
        return ("image", None, ref, off)

    docs = [
        ("dm-01", [t("intro", 0), m("img-000-copy", 5), t("body text here", 6)]),
        ("dm-02", [m("blank-5", 0), m("img-002-near", 1), m("blank-2", 2)]),
        ("dm-03", [m("img-001", 0), t("unique image stays", 1), m("img-404-missing", 2)]),
        ("dm-04", [t("text only document", 0), t("second paragraph", 19)]),
        ("dm-05", []),
        ("dm-06", None),
        ("dm-07", [m("img-010", 0), m("img-010-copy", 1), t("dup pair in one doc", 2)]),
        ("dm-08", [m("img-015-copy", 0)]),
        ("dm-09", [m("blank-0", 0), t("already canonical", 1), m("img-012-near", 2)]),
        ("dm-10", [m("img-007-near", 0), m("img-005", 1), m("img-003", 2), t("tail", 3)]),
    ]
    pq.write_table(
        pa.table(
            {
                "doc_id": [d[0] for d in docs],
                "spans": pa.array([d[1] for d in docs], type=pa.list_(span_type)),
            }
        ),
        os.path.join(OUT, "documents_media.parquet"),
    )


def _warc_record(wtype: str, rec_id: str, headers: dict, block: bytes) -> bytes:
    """One WARC/1.0 record (independent of the parser under test)."""
    h = [b"WARC/1.0"]
    h.append(f"WARC-Type: {wtype}".encode())
    h.append(f"WARC-Record-ID: {rec_id}".encode())
    for k, v in headers.items():
        h.append(f"{k}: {v}".encode())
    h.append(f"Content-Length: {len(block)}".encode())
    return b"\r\n".join(h) + b"\r\n\r\n" + block + b"\r\n\r\n"


def _http_response(status: str, ctype: str, body: bytes) -> bytes:
    return (
        f"HTTP/1.1 {status}\r\nContent-Type: {ctype}\r\n"
        f"Content-Length: {len(body)}\r\nServer: fixture\r\n\r\n"
    ).encode() + body


def build_warc() -> None:
    """WARC ingestion fixture: a writer-emitted .warc.gz (per-record gzip
    members, the Common Crawl layout) + the same records plain, with the
    expected per-record rows in a sibling parquet.  Record mix: warcinfo,
    request, three HTTP responses (HTML 200, plain-text 200 with a
    non-ASCII body, a 404), and a binary (PNG) response — plus corrupt
    whole-file payloads for the error-row path."""
    import gzip as _gz
    import hashlib

    html_body = (
        b"<html><head><title>Fixture Page</title></head><body>"
        b"<main><h1>Hello WARC</h1><p>Landed crawl content.</p></main>"
        b"<nav>skip me</nav></body></html>"
    )
    text_body = "plain text \u2014 caf\u00e9".encode()
    png_body = b"\x89PNG\r\n\x1a\n" + b"\x00" * 20
    recs = [
        ("warcinfo", "<urn:uuid:info-1>", {"Content-Type": "application/warc-fields"},
         b"software: fixture-writer/1.0\r\n"),
        ("request", "<urn:uuid:req-1>",
         {"Content-Type": "application/http;msgtype=request",
          "WARC-Target-URI": "https://example.org/page",
          "WARC-Date": "2024-01-02T03:04:05Z"},
         b"GET /page HTTP/1.1\r\nHost: example.org\r\n\r\n"),
        ("response", "<urn:uuid:resp-1>",
         {"Content-Type": "application/http;msgtype=response",
          "WARC-Target-URI": "https://example.org/page",
          "WARC-Date": "2024-01-02T03:04:05Z"},
         _http_response("200 OK", "text/html; charset=utf-8", html_body)),
        ("response", "<urn:uuid:resp-2>",
         {"Content-Type": "application/http;msgtype=response",
          "WARC-Target-URI": "https://example.org/notes.txt",
          "WARC-Date": "2024-01-02T03:05:06Z"},
         _http_response("200 OK", "text/plain; charset=utf-8", text_body)),
        ("response", "<urn:uuid:resp-3>",
         {"Content-Type": "application/http;msgtype=response",
          "WARC-Target-URI": "https://example.org/missing",
          "WARC-Date": "2024-01-02T03:06:07Z"},
         _http_response("404 Not Found", "text/html", b"<html>gone</html>")),
        ("response", "<urn:uuid:resp-4>",
         {"Content-Type": "application/http;msgtype=response",
          "WARC-Target-URI": "https://example.org/logo.png",
          "WARC-Date": "2024-01-02T03:07:08Z"},
         _http_response("200 OK", "image/png", png_body)),
        # latin-1 HTML: the 0xE9 byte is é in ISO-8859-1 but INVALID
        # UTF-8 — a UTF-8-only decode mangles it to the replacement char
        ("response", "<urn:uuid:resp-5>",
         {"Content-Type": "application/http;msgtype=response",
          "WARC-Target-URI": "https://example.org/latin1",
          "WARC-Date": "2024-01-02T03:08:09Z"},
         _http_response(
             "200 OK", "text/html; charset=iso-8859-1",
             b"<html><head><title>Caf\xe9</title></head><body><main>"
             b"<h1>Caf\xe9 corner</h1><p>r\xe9sum\xe9 content.</p>"
             b"</main></body></html>")),
    ]
    raw_records = [_warc_record(t, rid, hdr, blk) for t, rid, hdr, blk in recs]
    plain = b"".join(raw_records)
    gz = b"".join(_gz.compress(r) for r in raw_records)  # one member per record

    warc_dir = os.path.join(OUT, "warc")
    os.makedirs(warc_dir, exist_ok=True)
    with open(os.path.join(warc_dir, "sample.warc.gz"), "wb") as f:
        f.write(gz)
    with open(os.path.join(warc_dir, "sample-plain.warc"), "wb") as f:
        f.write(plain)
    bad_dir = os.path.join(OUT, "warc_bad")
    os.makedirs(bad_dir, exist_ok=True)
    with open(os.path.join(bad_dir, "truncated.warc.gz"), "wb") as f:
        f.write(gz[: len(gz) // 2])
    with open(os.path.join(bad_dir, "not-a.warc"), "wb") as f:
        f.write(b"this is not a warc file at all")

    exp_rows = []
    for (t, rid, hdr, blk), raw in zip(recs, raw_records):
        status = None
        http_ct = None
        payload = blk
        if t == "response" and blk[:5] == b"HTTP/":
            head, _, payload = blk.partition(b"\r\n\r\n")
            lines = head.split(b"\r\n")
            status = int(lines[0].split(b" ")[1])
            for ln in lines[1:]:
                if ln.lower().startswith(b"content-type:"):
                    http_ct = ln.split(b":", 1)[1].strip().decode()
        exp_rows.append(
            (rid, t, hdr.get("WARC-Target-URI"), hdr.get("WARC-Date"),
             hdr.get("Content-Type"), len(blk), status, http_ct,
             hashlib.md5(payload).hexdigest(), len(payload))
        )
    pq.write_table(
        pa.table({
            "record_id": [r[0] for r in exp_rows],
            "warc_type": [r[1] for r in exp_rows],
            "url": [r[2] for r in exp_rows],
            "warc_date": [r[3] for r in exp_rows],
            "content_type": [r[4] for r in exp_rows],
            "content_length": pa.array([r[5] for r in exp_rows], pa.int64()),
            "http_status": pa.array([r[6] for r in exp_rows], pa.int32()),
            "http_content_type": [r[7] for r in exp_rows],
            "payload_md5": [r[8] for r in exp_rows],
            "payload_bytes": pa.array([r[9] for r in exp_rows], pa.int64()),
        }),
        os.path.join(OUT, "warc_expected.parquet"),
    )


if __name__ == "__main__":
    os.makedirs(OUT, exist_ok=True)
    build_pages()
    build_documents_spans()
    build_expected()
    build_pdfs()
    build_neardup_corpus()
    build_neardup_hi_corpus()
    build_adversarial_corpus()
    build_pngs()
    build_gifs()
    build_jpegs()
    build_images_neardup()
    build_warc()
    build_documents_media()
    print(f"wrote fixture data to {OUT}")
