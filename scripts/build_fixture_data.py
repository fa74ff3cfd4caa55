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
    import io

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
    # one member per record; mtime=0 keeps the wall clock out of the
    # gzip header, and GzipFile writes that header itself (OS byte 255)
    # where gzip.compress(mtime=0) leaves it to zlib (OS byte 3), so a
    # rebuild writes the same bytes whichever way the local gzip goes
    def member(r: bytes) -> bytes:
        buf = io.BytesIO()
        with _gz.GzipFile(fileobj=buf, mode="wb", mtime=0) as f:
            f.write(r)
        return buf.getvalue()

    gz = b"".join(member(r) for r in raw_records)

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
    build_warc()
    print(f"wrote fixture data to {OUT}")
