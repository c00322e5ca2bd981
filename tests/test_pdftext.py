"""Minimal-PDF text layer tests (S4/S5): parser semantics, writer
round-trip, the E3 clip-retry constants, the S4 branch inside the fused
extraction UDF, and template extraction over real PDF bytes."""

from __future__ import annotations

import json

import pytest

from ocr_api_spark.sources.pdftext import (
    MiniPdfError,
    clip_text,
    parse_pdf,
    pdf_text,
    write_minimal_pdf,
)


def test_roundtrip_lines_and_pages():
    pdf = write_minimal_pdf(
        [
            [(72, 72, 12, "INCOME TAX DEPARTMENT"), (72, 90, 12, "RAHUL SHARMA")],
            [(72, 100, 10, "Second page line")],
        ]
    )
    pages = parse_pdf(pdf)
    assert len(pages) == 2
    assert pages[0].extract_text() == "INCOME TAX DEPARTMENT\nRAHUL SHARMA"
    assert pdf_text(pdf) == "INCOME TAX DEPARTMENT\nRAHUL SHARMA\nSecond page line\n"


def test_same_line_words_sorted_by_x():
    pdf = write_minimal_pdf([[(300, 50, 12, "WORLD"), (72, 50, 12, "HELLO")]])
    assert parse_pdf(pdf)[0].extract_text() == "HELLO WORLD"


def test_escapes_round_trip():
    pdf = write_minimal_pdf([[(72, 72, 12, "paren (x) and \\ slash")]])
    assert parse_pdf(pdf)[0].extract_text() == "paren (x) and \\ slash"


def test_content_stream_operators():
    """Hand-written content stream: Tm, TD + T*, TJ with kerning, hex
    strings, ' (next-line show)."""
    content = (
        b"BT /F1 10 Tf 100 700 Tm (first) Tj ET\n"
        b"BT /F1 10 Tf 50 600 Td 0 -20 TD (second) Tj T* (third) Tj ET\n"
        b"BT /F1 10 Tf 50 500 Td [(ker) 100 (ned)] TJ ET\n"
        b"BT /F1 10 Tf 50 400 Td <48455828> Tj ET\n"
        b"BT /F1 10 Tf 50 300 Td 15 TL (a) Tj (b) ' ET\n"
    )
    pdf = write_minimal_pdf([[]])
    pdf = pdf.replace(
        b"<< /Length 0 >>\nstream\n\nendstream",
        b"<< /Length %d >>\nstream\n%s\nendstream" % (len(content), content),
    )
    page = parse_pdf(pdf)[0]
    text = page.extract_text()
    assert "first" in text and "second" in text and "third" in text
    assert "ker ned" in text  # two TJ show ops on one baseline
    assert "HEX(" in text  # hex string decode
    assert "a\nb" in text or ("a" in text and "b" in text)
    # TD sets leading: 'second' at y 580 -> T* drops another 20 -> 'third' at 560
    tops = {s.text: round(s.top) for s in page.spans}
    assert tops["third"] - tops["second"] == 20
    assert tops["b"] - tops["a"] == 15  # TL leading for '


def test_unsupported_filter_rejected():
    pdf = write_minimal_pdf([[(72, 72, 12, "x")]])
    pdf = pdf.replace(b"<< /Length", b"<< /Filter /DCTDecode /Length")
    with pytest.raises(MiniPdfError, match="DCTDecode"):
        parse_pdf(pdf)
    with pytest.raises(MiniPdfError):
        parse_pdf(b"not a pdf at all")


def test_flate_roundtrip_matches_uncompressed():
    spans = [
        [(72, 72, 12, "INCOME TAX DEPARTMENT"), (72, 90, 12, "RAHUL SHARMA")],
        [(72, 100, 10, "Second page line")],
    ]
    plain = pdf_text(write_minimal_pdf(spans))
    flate = write_minimal_pdf(spans, compress=True)
    assert b"/FlateDecode" in flate
    assert pdf_text(flate) == plain
    # and through the convenience layouter used by the driver gate
    from ocr_api_spark.sources.pdftext import pdf_from_text

    t = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    assert pdf_text(pdf_from_text(t, compress=True)) == pdf_text(pdf_from_text(t))


def test_flate_filter_array_form():
    pdf = write_minimal_pdf([[(72, 72, 12, "hello world")]], compress=True)
    pdf = pdf.replace(b"/Filter /FlateDecode", b"/Filter [ /FlateDecode ]")
    assert parse_pdf(pdf)[0].extract_text() == "hello world"


def test_corrupt_flate_stream_is_minipdferror():
    pdf = write_minimal_pdf([[(72, 72, 12, "hello")]], compress=True)
    i = pdf.find(b"stream\n") + len(b"stream\n")
    pdf = pdf[: i + 2] + bytes([pdf[i + 2] ^ 0xFF]) + pdf[i + 3 :]
    with pytest.raises(MiniPdfError, match="Flate"):
        parse_pdf(pdf)


def test_length_slicing_survives_endstream_bytes_in_payload():
    """Stream bodies are sliced by /Length, so payload bytes that spell
    'endstream'/'endobj' (routine in compressed data) cannot truncate
    the parse."""
    content = (
        b"BT /F1 12 Tf 72 700 Td (before) Tj ET\n"
        b"endstream trap endobj trap\n"
        b"BT /F1 12 Tf 72 680 Td (after) Tj ET"
    )
    pdf = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Length " + str(len(content)).encode() + b" >>\nstream\n"
        + content
        + b"\nendstream\nendobj\n"
        b"trailer\n<< /Size 5 /Root 1 0 R >>\n%%EOF\n"
    )
    assert parse_pdf(pdf)[0].extract_text() == "before\nafter"


def test_indirect_length_resolves():
    content = b"BT /F1 12 Tf 72 700 Td (indirect) Tj ET"
    pdf = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Length 5 0 R >>\nstream\n" + content + b"\nendstream\nendobj\n"
        b"5 0 obj\n" + str(len(content)).encode() + b"\nendobj\n"
        b"%%EOF\n"
    )
    assert parse_pdf(pdf)[0].extract_text() == "indirect"


def test_kids_order_beats_object_number_order():
    """ADVICE r2: page order comes from the /Pages node's /Kids array,
    not object numbering — writers may number pages out of order."""
    c_one = b"BT /F1 12 Tf 72 700 Td (FIRST) Tj ET"
    c_two = b"BT /F1 12 Tf 72 700 Td (SECOND) Tj ET"
    pdf = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        # Kids list the HIGHER-numbered page first
        b"2 0 obj\n<< /Type /Pages /Kids [5 0 R 3 0 R] /Count 2 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Length " + str(len(c_two)).encode() + b" >>\nstream\n"
        + c_two + b"\nendstream\nendobj\n"
        b"5 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 6 0 R >>\nendobj\n"
        b"6 0 obj\n<< /Length " + str(len(c_one)).encode() + b" >>\nstream\n"
        + c_one + b"\nendstream\nendobj\n"
        b"%%EOF\n"
    )
    assert pdf_text(pdf) == "FIRST\nSECOND\n"


def deep_page_tree_pdf(depth: int) -> bytes:
    """Two pages: FIRST at the end of a chain of ``depth`` nested
    /Pages nodes, listed first in the root's /Kids, and SECOND directly
    under the root with a lower object number.  At depth 1,500 the file
    is ~92 KB, and the chain is deeper than Python's recursion limit."""
    first = b"BT /F1 12 Tf 72 700 Td (FIRST) Tj ET"
    second = b"BT /F1 12 Tf 72 700 Td (SECOND) Tj ET"
    chain, deep_page = 5, 5 + depth
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [%d 0 R 3 0 R] /Count 2 >>" % chain,
        3: b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>",
        4: b"<< /Length %d >>\nstream\n%s\nendstream" % (len(second), second),
        deep_page: b"<< /Type /Page /Parent %d 0 R /Contents %d 0 R >>" % (deep_page - 1, deep_page + 1),
        deep_page + 1: b"<< /Length %d >>\nstream\n%s\nendstream" % (len(first), first),
    }
    for k in range(chain, deep_page):
        objs[k] = b"<< /Type /Pages /Kids [%d 0 R] /Count 1 >>" % (k + 1)
    body = b"".join(b"%d 0 obj\n%s\nendobj\n" % (n, objs[n]) for n in sorted(objs))
    return b"%PDF-1.4\n" + body + b"%%EOF\n"


@pytest.mark.parametrize("depth", [1, 1500])
def test_deep_page_tree_keeps_kids_order(depth):
    """The /Kids walk takes any depth (an explicit stack, not recursion)
    and stays depth-first: the deep page comes first, as its chain is the
    root's first kid, although its object number is higher."""
    assert pdf_text(deep_page_tree_pdf(depth)) == "FIRST\nSECOND\n"


def test_asciihex_filter():
    content = b"BT /F1 12 Tf 72 700 Td (hexed) Tj ET"
    hexed = content.hex().encode() + b">"
    pdf = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Length " + str(len(hexed)).encode()
        + b" /Filter /ASCIIHexDecode >>\nstream\n" + hexed + b"\nendstream\nendobj\n"
        b"%%EOF\n"
    )
    assert parse_pdf(pdf)[0].extract_text() == "hexed"


def test_flate_with_png_up_predictor():
    """/Predictor 12 (PNG Up) rides the shared kernels/png unfilter."""
    import zlib as _zlib

    content = b"BT /F1 12 Tf 72 700 Td (predicted) Tj ET"
    cols = 8
    rows = [content[i : i + cols].ljust(cols, b" ") for i in range(0, len(content), cols)]
    filtered = bytearray()
    prev = bytes(cols)
    for row in rows:
        filtered += b"\x02" + bytes((row[i] - prev[i]) & 0xFF for i in range(cols))
        prev = row
    z = _zlib.compress(bytes(filtered))
    pdf = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Length " + str(len(z)).encode()
        + b" /Filter /FlateDecode /DecodeParms << /Predictor 12 /Columns 8 >> >>\n"
        b"stream\n" + z + b"\nendstream\nendobj\n"
        b"%%EOF\n"
    )
    # trailing pad spaces are show-op text; strip for the assertion
    assert parse_pdf(pdf)[0].extract_text().rstrip() == "predicted"


def test_clip_retry_boxes():
    """First box is (x, y-10, x+w+7, y+h-15); the retry widens to
    (x, y-10, x+w+50, y+h-5) — app.py:3938-3941 constants."""
    # word at x=200, top=100, size 10 -> box (200, 100)-(200+5*len, 110)
    pdf = write_minimal_pdf([[(200, 100, 10, "VALUE")]])  # x1 = 225, bottom = 110
    page = parse_pdf(pdf)[0]
    # field rect: x=195, y=95, w=30, h=22: box1 = (195, 85, 232, 102) -> bottom 110 > 102 misses
    #                                      box2 = (195, 85, 275, 112) -> catches
    assert clip_text(page, 195, 95, 30, 22) == "VALUE"
    # fully out of reach for both boxes
    assert clip_text(page, 400, 400, 10, 10) is None


@pytest.fixture(scope="module")
def session():
    from ocr_api_spark.plans.session import build_session

    return build_session(app_name="pdf-tests", master="local[4]", shuffle_partitions=4)


def test_fused_udf_pdf_branch(session):
    """S4 in the pipeline: a row with empty text and a %PDF payload goes
    through the PDF text layer + clean_text (not the HTML boilerplate)."""
    from ocr_api_spark.kernels.common import clean_text
    from ocr_api_spark.operators.extract import with_extraction

    pdf_bytes = write_minimal_pdf(
        [[(72, 72, 12, "Permanent Account Number"), (72, 90, 12, "ABCPS1234F")]]
    )
    df = session.createDataFrame(
        [("u1", "", bytearray(pdf_bytes), "pan")], "url string, text string, html binary, doc_type string"
    )
    out = with_extraction(df).select(
        "extraction.extracted_text", "extraction.status", "extraction.pan"
    ).collect()[0]
    expected = clean_text(pdf_text(pdf_bytes))
    assert out["extracted_text"] == expected
    assert out["status"] == "Completed"
    assert out["pan"]["ocr_pan_number"] == "ABCPS1234F"


def test_template_extraction_over_real_pdf(session):
    """E3 end-to-end on document bytes: write a PDF, clip via the
    template rects (pdf_clips), fold — matches the pre-clipped-table
    path exactly."""
    from ocr_api_spark.operators.template import pdf_clips, template_extraction

    pdf_bytes = write_minimal_pdf(
        [
            [(100, 100, 10, "RAHUL SHARMA")],
            [(100, 200, 10, "12345678")],
        ]
    )
    pdfs = session.createDataFrame(
        [("d1", bytearray(pdf_bytes))], "document_id string, pdf binary"
    )
    templates = session.createDataFrame(
        [
            ("d1", 1, "name", 95.0, 95.0, 80.0, 30.0),
            ("d1", 2, "account", 95.0, 195.0, 80.0, 30.0),
        ],
        "document_id string, page int, field string, x double, y double, width double, height double",
    )
    clips = pdf_clips(pdfs, templates)
    got = {(r["page"], r["field"]): r["clip_text"] for r in clips.collect()}
    assert got[(1, "name")] == "RAHUL SHARMA"
    assert got[(2, "account")] == "12345678"

    docs = session.createDataFrame(
        [("d1", json.dumps({"name": "RAHUL SHARMA", "account": "12345678"}))],
        "document_id string, felds_json string",
    )
    out = template_extraction(docs, templates, clips).collect()[0]
    assert out["ocrdata"] == {"name": "RAHUL SHARMA", "account": "12345678"}
    assert out["average_match_percentage"] == 100.0


def test_pdf_clips_missing_page_and_bad_pdf(session):
    from ocr_api_spark.operators.template import pdf_clips

    pdfs = session.createDataFrame(
        [("d1", bytearray(b"junk-not-pdf"))], "document_id string, pdf binary"
    )
    templates = session.createDataFrame(
        [("d1", 3, "f", 0.0, 0.0, 10.0, 10.0)],
        "document_id string, page int, field string, x double, y double, width double, height double",
    )
    rows = pdf_clips(pdfs, templates).collect()
    assert rows[0]["clip_text"] is None


def test_malformed_pdf_is_not_a_poison_pill(session):
    """A payload that starts with %PDF but has an unparseable content
    stream (e.g. a bad octal escape) must route to the C4 fallback
    (resolved text None -> status Failed), never fail the Spark task."""
    from ocr_api_spark.operators.extract import with_extraction

    good = write_minimal_pdf([[(72, 72, 12, "Permanent Account Number"), (72, 90, 12, "ABCPS1234F")]])
    # invalid octal escape: parses tolerantly (the \\8 is literal), never raises
    odd = good.replace(b"(Permanent Account Number)", b"(C:\\8th-file after bad escape)")
    # compressed stream: MiniPdfError -> no text -> the row fails, not the job
    poison = good.replace(b"<< /Length", b"<< /Filter /FlateDecode /Length")
    df = session.createDataFrame(
        [
            ("ok", "", bytearray(good), "pan"),
            ("odd", "", bytearray(odd), "pan"),
            ("poison", "", bytearray(poison), "pan"),
        ],
        "url string, text string, html binary, doc_type string",
    )
    out = {
        r["url"]: r
        for r in with_extraction(df).select("url", "extraction.status", "extraction.error").collect()
    }
    assert out["ok"]["status"] == "Completed"
    assert out["odd"]["status"] == "Completed"  # tolerant parse, row survives
    assert out["poison"]["status"] == "Failed"  # row failed, job survived
    assert out["poison"]["error"] == "no text"


def test_pdf_roundtrip_property():
    """Property: for any layout of printable-latin-1 words at distinct
    line positions, write→parse reproduces the exact line structure."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    word = st.text(
        alphabet=st.characters(min_codepoint=33, max_codepoint=126),
        min_size=1,
        max_size=12,
    )
    line = st.lists(word, min_size=1, max_size=6).map(" ".join)

    @settings(max_examples=60, deadline=None)
    @given(st.lists(line, min_size=1, max_size=8))
    def check(lines):
        spans = [(72.0, 72.0 + 20.0 * i, 10.0, ln) for i, ln in enumerate(lines)]
        pdf = write_minimal_pdf([spans])
        got = parse_pdf(pdf)[0].extract_text()
        assert got == "\n".join(lines)

    check()


def test_pdf_from_text_roundtrip_property():
    """pdf_from_text→pdf_text preserves the word sequence for any
    space-separated latin-1 text (whitespace-normalized)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from ocr_api_spark.sources.pdftext import pdf_from_text

    # printable latin-1 minus unicode whitespace (\xa0 would be eaten by
    # the .split() normalization below, not by the parser)
    word = st.text(
        alphabet=st.characters(
            min_codepoint=33, max_codepoint=255, blacklist_characters="\xad\xa0"
        ).filter(lambda c: not (127 <= ord(c) <= 160)),
        min_size=1,
        max_size=10,
    )

    @settings(max_examples=60, deadline=None)
    @given(st.lists(word, min_size=0, max_size=80))
    def check(words):
        text = " ".join(words)
        out = pdf_text(pdf_from_text(text))
        assert out.replace("\n", " ").split() == [
            w.encode("latin-1", errors="replace").decode("latin-1") for w in words
        ]

    check()


def test_lzw_roundtrip_crosses_width_bumps():
    import random

    from ocr_api_spark.sources.pdftext import lzw_decode, lzw_encode

    rng = random.Random(11)
    cases = [
        b"",
        b"A",
        b"AAAAAAAAAAAAAAAAAAAA",
        b"TOBEORNOTTOBEORTOBEORNOT",
        bytes(rng.randrange(256) for _ in range(5000)),   # crosses 9->10->11 bits
        (b"the quick brown fox " * 400),                   # repetitive, long table
    ]
    for raw in cases:
        assert lzw_decode(lzw_encode(raw)) == raw, len(raw)
    # EarlyChange=0 variant round-trips with matching parameter
    raw = bytes(rng.randrange(256) for _ in range(3000))
    assert lzw_decode(lzw_encode(raw, early_change=0), early_change=0) == raw


def test_lzw_filtered_content_stream():
    from ocr_api_spark.sources.pdftext import lzw_encode

    content = b"BT /F1 12 Tf 72 700 Td (lzw text layer) Tj ET"
    z = lzw_encode(content)
    pdf = (
        b"%PDF-1.2\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Length " + str(len(z)).encode()
        + b" /Filter /LZWDecode >>\nstream\n" + z + b"\nendstream\nendobj\n"
        b"%%EOF\n"
    )
    assert parse_pdf(pdf)[0].extract_text() == "lzw text layer"


def test_object_stream_pages():
    """PDF 1.5 /ObjStm: the catalog, pages node, and page dict live
    INSIDE a Flate-compressed object stream (what modern writers emit);
    only the content stream is a top-level object."""
    import zlib

    content = b"BT /F1 12 Tf 72 700 Td (from an objstm) Tj ET"
    inner = [
        (1, b"<< /Type /Catalog /Pages 2 0 R >>"),
        (2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>"),
        (3, b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>"),
    ]
    bodies = b""
    pairs = []
    for num, body in inner:
        pairs.append(f"{num} {len(bodies)}".encode())
        bodies += body + b"\n"
    head = b" ".join(pairs) + b"\n"
    payload = head + bodies
    z = zlib.compress(payload)
    pdf = (
        b"%PDF-1.5\n"
        b"5 0 obj\n<< /Type /ObjStm /N 3 /First " + str(len(head)).encode()
        + b" /Length " + str(len(z)).encode()
        + b" /Filter /FlateDecode >>\nstream\n" + z + b"\nendstream\nendobj\n"
        b"4 0 obj\n<< /Length " + str(len(content)).encode() + b" >>\nstream\n"
        + content + b"\nendstream\nendobj\n"
        b"%%EOF\n"
    )
    assert pdf_text(pdf) == "from an objstm\n"


def test_nonzero_generation_numbers():
    """Incremental-update writers emit gen > 0 on objects and refs."""
    content = b"BT /F1 12 Tf 72 700 Td (gen two) Tj ET"
    pdf = (
        b"%PDF-1.4\n"
        b"1 2 obj\n<< /Type /Catalog /Pages 2 1 R >>\nendobj\n"
        b"2 1 obj\n<< /Type /Pages /Kids [3 5 R] /Count 1 >>\nendobj\n"
        b"3 5 obj\n<< /Type /Page /Parent 2 1 R /Contents 4 3 R >>\nendobj\n"
        b"4 3 obj\n<< /Length " + str(len(content)).encode() + b" >>\nstream\n"
        + content + b"\nendstream\nendobj\n"
        b"%%EOF\n"
    )
    assert parse_pdf(pdf)[0].extract_text() == "gen two"


def test_literal_string_line_continuation():
    content = b"BT /F1 12 Tf 72 700 Td (split\\\nacross lines) Tj ET"
    pdf = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Length " + str(len(content)).encode() + b" >>\nstream\n"
        + content + b"\nendstream\nendobj\n%%EOF\n"
    )
    assert parse_pdf(pdf)[0].extract_text() == "splitacross lines"


def test_indirect_length_multidigit_ref_not_misread():
    """Review finding r3: '/Length 10 0 R' must resolve the reference —
    a backtracking match would read the digit prefix '1' as a direct
    length and silently truncate the stream to 1 byte."""
    content = b"BT /F1 12 Tf 72 700 Td (Hello world) Tj ET"
    pdf = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Length 10 0 R >>\nstream\n" + content + b"\nendstream\nendobj\n"
        b"10 0 obj\n" + str(len(content)).encode() + b"\nendobj\n"
        b"%%EOF\n"
    )
    assert pdf_text(pdf) == "Hello world\n"


def test_lzw_table_full_boundary_small_cap(monkeypatch):
    """White-box: shrink the 12-bit code space so the clear-on-full
    boundary is crossed many times; both EarlyChange settings must
    round-trip (review finding r3: early_change=0 could assign an
    unemittable code at the real 4096 boundary)."""
    import random

    import ocr_api_spark.sources.pdftext as P

    monkeypatch.setattr(P, "_LZW_MAX_CODE", 300)
    rng = random.Random(3)
    for ec in (0, 1):
        for n in (500, 2000, 8000):
            raw = bytes(rng.randrange(256) for _ in range(n))
            assert P.lzw_decode(P.lzw_encode(raw, ec), ec) == raw, (ec, n)


def test_inline_image_skipped():
    """BI...ID binary...EI bodies can spell fake strings/show ops; the
    tokenizer must skip them wholesale and keep real text around them."""
    content = (
        b"BT /F1 12 Tf 72 700 Td (before image) Tj ET\n"
        b"BI /W 2 /H 2 /BPC 8 /CS /G ID \x00(fake) Tj \xff\xfeET BT EI\n"
        b"BT /F1 12 Tf 72 680 Td (after image) Tj ET"
    )
    pdf = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Length " + str(len(content)).encode() + b" >>\nstream\n"
        + content + b"\nendstream\nendobj\n%%EOF\n"
    )
    assert parse_pdf(pdf)[0].extract_text() == "before image\nafter image"


def _one_page_pdf(content: bytes) -> bytes:
    return (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Length " + str(len(content)).encode() + b" >>\nstream\n"
        + content + b"\nendstream\nendobj\n%%EOF\n"
    )


def test_inline_image_ei_inside_dict_tokens_is_skipped():
    """ADVICE r3: an 'EI' spelled between BI and ID (inside the image
    DICT tokens, e.g. a custom key) must not end the skip — the real
    terminator is whitespace-EI-whitespace AFTER the ID keyword, so
    sample bytes spelling 'EI ' mid-data don't leak either when the
    stream's genuine EI follows."""
    content = (
        b"BT /F1 12 Tf 72 700 Td (keep) Tj ET\n"
        # /EIKEY would match \bEI before the fix; binary body contains
        # a whitespace-delimited EI lookalike preceded by non-space
        b"BI /W 2 /H 2 /EIKEY 1 /BPC 8 /CS /G ID \x00xEI(garbage) Tj \xff EI\n"
        b"BT /F1 12 Tf 72 680 Td (kept too) Tj ET"
    )
    assert parse_pdf(_one_page_pdf(content))[0].extract_text() == "keep\nkept too"


def test_indirect_length_last_definition_wins():
    """ADVICE r3: an incrementally-updated PDF appends a superseding
    length object; resolving an indirect /Length must take the LAST
    definition (consistent with _scan_objects), not the first."""
    content = b"BT /F1 12 Tf 72 700 Td (incremental) Tj ET"
    pdf = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
        b"5 0 obj 7 endobj\n"  # superseded: would slice the stream to 7 bytes
        b"4 0 obj\n<< /Length 5 0 R >>\nstream\n"
        + content + b"\nendstream\nendobj\n"
        b"5 0 obj " + str(len(content)).encode() + b" endobj\n%%EOF\n"
    )
    assert parse_pdf(pdf)[0].extract_text() == "incremental"


def test_fused_udf_compressed_pdf_branch(session):
    """The pipeline's %PDF branch handles Flate-compressed content
    streams identically to raw ones — same extracted text, same PAN."""
    from ocr_api_spark.kernels.common import clean_text
    from ocr_api_spark.operators.extract import with_extraction

    spans = [[(72, 72, 12, "Permanent Account Number"), (72, 90, 12, "ABCPS1234F")]]
    plain = write_minimal_pdf(spans)
    flate = write_minimal_pdf(spans, compress=True)
    assert b"/FlateDecode" in flate
    df = session.createDataFrame(
        [("u1", "", bytearray(flate), "pan")],
        "url string, text string, html binary, doc_type string",
    )
    out = with_extraction(df).select(
        "extraction.extracted_text", "extraction.status", "extraction.pan"
    ).collect()[0]
    assert out["extracted_text"] == clean_text(pdf_text(plain))
    assert out["status"] == "Completed"
    assert out["pan"]["ocr_pan_number"] == "ABCPS1234F"


def test_inline_image_ei_abutting_data_falls_back():
    """Review r4: whitespace before EI is conventional but not required
    — when no whitespace-delimited EI exists, the abutting form must
    still terminate the skip instead of eating the rest of the page."""
    content = (
        b"BT /F1 12 Tf 72 700 Td (before) Tj ET\n"
        b"BI /W 2 /H 2 /BPC 8 /CS /G ID \x00\x01\x02)EI\n"  # EI abuts ')'
        b"BT /F1 12 Tf 72 680 Td (after) Tj ET"
    )
    assert parse_pdf(_one_page_pdf(content))[0].extract_text() == "before\nafter"


def test_inline_image_ei_abutting_word_char():
    """Review r4b: the abutting byte may itself be a word character —
    a \\b-anchored fallback would find nothing and eat the page."""
    content = (
        b"BT /F1 12 Tf 72 700 Td (before) Tj ET\n"
        b"BI /W 2 /H 2 /BPC 8 /CS /G ID \x00\x01\x02AEI\n"  # 'A' abuts EI
        b"BT /F1 12 Tf 72 680 Td (after) Tj ET"
    )
    assert parse_pdf(_one_page_pdf(content))[0].extract_text() == "before\nafter"


def test_offset_mediabox_text_geometry_matches_raster():
    """Review r4b: the TEXT path must use the same MediaBox-origin
    convention as the raster path — extents for width/height, spans in
    box coordinates."""
    content = b"BT /F1 12 Tf 77 49 Td (shifted) Tj ET"  # x=77, y=49 PDF-space
    pdf = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [5 9 105 109] "
        b"/Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Length " + str(len(content)).encode() + b" >>\nstream\n"
        + content + b"\nendstream\nendobj\n%%EOF\n"
    )
    page = parse_pdf(pdf)[0]
    assert (page.width, page.height) == (100.0, 100.0)  # extents, not corners
    span = page.spans[0]
    assert span.x0 == 72.0  # 77 - origin 5
    assert span.top == 60.0  # y1 109 - 49
