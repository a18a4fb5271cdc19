"""PDF surface: object/stream parsing, text-operator extraction, the
markdown/HTML cleanup twins (processors/pdf/utils.py:70-350), and the
Spark page fan-out.

The writer/parser pair is NOT tested only against itself: handcrafted
content streams (hex strings, TJ arrays, octal escapes, multiple
filters, damaged /Length) pin the parser independently of build_pdf.
"""

from __future__ import annotations

import zlib

import pytest

from crawl4ai_spark.extraction.pdf import (
    PdfDocument,
    build_pdf,
    extract_page_text,
    pdf_text_to_html,
    pdf_text_to_markdown,
    process_pdf,
    process_pdfs,
)


# ---------------------------------------------------------------------------
# round trip
# ---------------------------------------------------------------------------

def test_roundtrip_text_links_metadata():
    pages = [["alpha beta gamma", "second (line) with \\ specials", "tail-"],
             ["page two begins", "and ends"]]
    links = [["https://a.example/x"], ["https://b.example/y", "https://c.example"]]
    data = build_pdf(pages, title="T1", author="A1", producer="P1", links=links)
    rows = process_pdf(data)
    assert [r["page_number"] for r in rows] == [1, 2]
    assert rows[0]["raw_text"] == "\n".join(pages[0])
    assert rows[1]["raw_text"] == "\n".join(pages[1])
    assert rows[0]["links"] == links[0]
    assert rows[1]["links"] == links[1]
    assert rows[0]["title"] == "T1" and rows[0]["author"] == "A1"
    assert rows[0]["producer"] == "P1" and rows[0]["n_pages"] == 2


def test_roundtrip_uncompressed():
    data = build_pdf([["plain stream text"]], compress=False)
    assert b"FlateDecode" not in data
    assert process_pdf(data)[0]["raw_text"] == "plain stream text"


def test_empty_page_list_is_safe():
    data = build_pdf([[]], title="empty")
    rows = process_pdf(data)
    assert len(rows) == 1 and rows[0]["raw_text"] == ""


# ---------------------------------------------------------------------------
# parser vs handcrafted PDFs (independent of the writer)
# ---------------------------------------------------------------------------

def _wrap_pdf(content: bytes, extra_objs: bytes = b"") -> bytes:
    """Minimal handwritten PDF around a raw content stream."""
    return (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Length " + str(len(content)).encode() + b" >>\n"
        b"stream\n" + content + b"\nendstream\nendobj\n" + extra_objs +
        b"trailer\n<< /Size 5 /Root 1 0 R >>\n%%EOF\n"
    )


def test_tj_array_and_quotes():
    content = (b"BT /F1 12 Tf 72 720 Td "
               b"[(Hel) -20 (lo)] TJ "
               b"(next line) ' "
               b'1 2 (quoted line) " '
               b"ET")
    doc = PdfDocument(_wrap_pdf(content))
    text = extract_page_text(doc.page_content(doc.pages()[0]))
    assert text == "Hello\nnext line\nquoted line"


def test_hex_strings_and_octal_escapes():
    content = b"BT <48656C6C6F> Tj 0 -14 Td (\\110\\151) Tj ET"
    doc = PdfDocument(_wrap_pdf(content))
    assert extract_page_text(doc.page_content(doc.pages()[0])) == "Hello\nHi"


def test_tstar_and_tm_newlines():
    content = (b"BT (a) Tj T* (b) Tj "
               b"1 0 0 1 72 650 Tm (c) Tj "
               b"1 0 0 1 100 650 Tm (d) Tj ET")
    doc = PdfDocument(_wrap_pdf(content))
    # T* breaks; first Tm sets the baseline silently (post-BT reset);
    # a same-y Tm does not break
    assert extract_page_text(doc.page_content(doc.pages()[0])) == "a\nbcd"


def test_flate_with_damaged_length_falls_back_to_scan():
    stream = zlib.compress(b"BT (recovered) Tj ET")
    body = (b"%PDF-1.4\n"
            b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
            b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
            b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
            b"4 0 obj\n<< /Length 999999 /Filter /FlateDecode >>\n"
            b"stream\n" + stream + b"\nendstream\nendobj\n"
            b"trailer\n<< /Size 5 /Root 1 0 R >>\n%%EOF\n")
    doc = PdfDocument(body)
    assert extract_page_text(doc.page_content(doc.pages()[0])) == "recovered"


def test_image_xobject_inventory():
    extra = (b"5 0 obj\n<< /Subtype /Image /Width 8 /Height 4 "
             b"/Filter /DCTDecode /Length 0 >>\nstream\n\nendstream\nendobj\n")
    pdf = _wrap_pdf(b"BT (x) Tj ET", extra_objs=extra).replace(
        b"/Contents 4 0 R",
        b"/Contents 4 0 R /Resources << /XObject << /Im1 5 0 R >> >>")
    doc = PdfDocument(pdf)
    imgs = doc.page_images(doc.pages()[0])
    assert imgs == [{"name": "Im1", "width": 8, "height": 4,
                     "filters": ["/DCTDecode"]}]
    assert process_pdf(pdf)[0]["n_images"] == 1


def test_utf16_info_strings():
    pdf = _wrap_pdf(b"BT (x) Tj ET").replace(
        b"trailer\n<< /Size 5 /Root 1 0 R >>",
        b"5 0 obj\n<< /Title <FEFF00480069> /Producer (p) >>\nendobj\n"
        b"trailer\n<< /Size 6 /Root 1 0 R /Info 5 0 R >>")
    assert process_pdf(pdf)[0]["title"] == "Hi"


# ---------------------------------------------------------------------------
# cleanup twins (utils.py:70-350 semantics on planted fixtures)
# ---------------------------------------------------------------------------

def test_markdown_cleaner_academic_fixture():
    raw = ("A Study Of Synthetic Things\n"
           "†University of Testing\n"
           "{alice, bob}@example.edu\n"
           "\n"
           "1 Introduction\n"
           "This work builds on prior results (Smith et al. 2021) and para-\n"
           "graph joins .\n"
           "\n"
           "2.1 Background\n"
           "\"A quoted epigraph line\n")
    md = pdf_text_to_markdown(1, raw)
    assert md.startswith("## A Study Of Synthetic Things")
    assert "*†University of Testing*" in md
    assert "`{alice, bob}@example.edu`" in md
    assert "## Introduction" in md          # "1 Introduction" -> level 2
    assert "### Background" in md           # "2.1 Background" -> level 3
    assert "[Smith et al. 2021]" in md      # citation rewrite
    # in_header flush quirk: the hyphen line follows "1 Introduction"
    # with in_header set and no terminal punctuation, so it flushes as
    # its own paragraph (hyphen stripped); punct spacing fixed after
    assert "and para\n\ngraph joins." in md
    assert "> \"A quoted epigraph line" in md


def test_markdown_author_line_requires_comma_separators():
    # the reference author regex needs ", and" (comma before and) —
    # "X and Y" without a comma is NOT an author line (utils.py:231-236)
    md = pdf_text_to_markdown(1, "Title Of The Paper\nAlice Smith, Bob Jones\n")
    assert "**Alice Smith**, no" not in md
    assert "**Alice Smith** and **Bob Jones**" in md
    md2 = pdf_text_to_markdown(2, "Some Other Page Here\nAlice Smith, Bob Jones\n")
    assert "**" not in md2                  # authors only on page 1


def test_markdown_section_headers_and_inheader_flush():
    # page 1 quirk first: the authors check precedes the section check
    # (utils.py:278 vs :312), and a lone capitalized word matches the
    # author regex — so "Abstract" on PAGE 1 renders as an author
    assert "**Abstract**" in pdf_text_to_markdown(1, "x y\nAbstract\nz.\n")
    md = pdf_text_to_markdown(2, "Abstract\nshort line\nends with period.\n")
    assert "_[Abstract]_" in md
    # in_header flush: "short line" (no terminal punctuation) is its own
    # paragraph, "ends with period." lands separately
    assert "short line" in md and "ends with period." in md
    i1, i2 = md.index("short line"), md.index("ends with period.")
    assert "\n\n" in md[i1:i2]


def test_html_cleaner_fixture():
    raw = ("A Study Of Synthetic Things\n"
           "Regular paragraph text (Smith et al. 2021) here.\n"
           "\n"
           "1 Introduction\n"
           "Body continues.\n")
    out = pdf_text_to_html(1, raw)
    assert out.startswith("<h2>A Study Of Synthetic Things</h2>")
    assert "<h2>Introduction</h2>" in out
    assert "<cite>Smith et al. 2021</cite>" in out
    assert '<div class="paragraph">' in out and "<hr/>" in out


def test_html_numbered_header_needs_prev_blank_and_not_first():
    # html mode guards i > 0 (utils.py:128); markdown mode does not —
    # at i == 0 it wraps to the LAST line (utils.py:267), a pinned quirk
    out = pdf_text_to_html(1, "2 Starts with number\nrest\n")
    assert "<h3>" not in out
    md = pdf_text_to_markdown(1, "2 Starts with number here\nrest\n")
    # last line "" (trailing \n) is blank -> wraparound check passes,
    # and 3<=words<=8 title check runs first; "2 Starts..." has 5 words
    # so the TITLE branch wins — pin that precedence
    assert md.startswith("## 2 Starts with number here")


# ---------------------------------------------------------------------------
# Spark fan-out
# ---------------------------------------------------------------------------

@pytest.mark.usefixtures("spark")
def test_process_pdfs_spark(spark):
    rows = [("a", build_pdf([["p one l one", "l two"], ["p two"]],
                            title="TA", links=[["https://x"], []])),
            ("b", build_pdf([["only page"]], title="TB"))]
    df = spark.createDataFrame(rows, "doc_id string, pdf binary")
    out = process_pdfs(df).orderBy("doc_id", "page_number").collect()
    assert [(r.doc_id, r.page_number) for r in out] == [
        ("a", 1), ("a", 2), ("b", 1)]
    assert out[0].raw_text == "p one l one\nl two"
    assert out[0].links == ["https://x"] and out[1].links == []
    assert out[0].title == "TA" and out[0].n_pages == 2
    assert out[2].title == "TB" and out[2].n_pages == 1
    assert out[0].markdown  # cleaners ran


def test_image_data_extraction_flate_and_dct():
    import zlib as _z

    from crawl4ai_spark.ops.multimodal import decode_image

    raster = bytes(range(48))
    data = build_pdf([["x"]], images=[[(4, 4, raster)]])
    doc = PdfDocument(data)
    imgs = doc.page_images(doc.pages()[0], with_data=True)
    assert imgs[0]["format"] == "raw" and imgs[0]["data"] == raster
    # glue a PPM header on and the REAL pixel decode sees the raster
    px = decode_image(b"P6 4 4 255\n" + raster)
    assert int(px.sum()) == sum(raster)

    # DCT streams pass through verbatim as 'jpg' (processor.py:303-317)
    fake_jpeg = b"\xff\xd8\xff\xe0 fake jpeg bytes"
    extra = (b"5 0 obj\n<< /Subtype /Image /Width 2 /Height 2 "
             b"/Filter /DCTDecode /Length %d >>\nstream\n%s\nendstream\nendobj\n"
             % (len(fake_jpeg), fake_jpeg))
    pdf = _wrap_pdf(b"BT (x) Tj ET", extra_objs=extra).replace(
        b"/Contents 4 0 R",
        b"/Contents 4 0 R /Resources << /XObject << /Im1 5 0 R >> >>")
    doc2 = PdfDocument(pdf)
    im = doc2.page_images(doc2.pages()[0], with_data=True)[0]
    assert im["format"] == "jpg" and im["data"] == fake_jpeg


def test_png_predictor_flate_stream():
    import zlib as _z

    from crawl4ai_spark.extraction.pdf import _png_predictor

    # encode two 4-byte rows with filter type 2 (Up): stored value =
    # raw - prev_row (mod 256); the inverse must recover the raw rows
    row1, row2 = bytes([10, 20, 30, 40]), bytes([15, 25, 35, 45])
    enc = bytes([2]) + row1 + bytes([2]) + bytes(
        (b - a) % 256 for a, b in zip(row1, row2))
    assert _png_predictor(enc, columns=4, colors=1, bits=8) == row1 + row2

    # and through the document layer: /DecodeParms /Predictor 12
    z = _z.compress(enc)
    body = (b"%PDF-1.4\n"
            b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
            b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
            b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
            b"4 0 obj\n<< /Length " + str(len(z)).encode()
            + b" /Filter /FlateDecode /DecodeParms "
            b"<< /Predictor 12 /Columns 4 /Colors 1 /BitsPerComponent 8 >> >>\n"
            b"stream\n" + z + b"\nendstream\nendobj\n"
            b"trailer\n<< /Size 5 /Root 1 0 R >>\n%%EOF\n")
    doc = PdfDocument(body)
    from crawl4ai_spark.extraction.pdf import Ref
    assert doc.stream_data(Ref(4)) == row1 + row2


# ---------------------------------------------------------------------------
# hardening (round-5 review findings)
# ---------------------------------------------------------------------------

def test_indirect_forward_length_reference():
    """A stream whose /Length is an indirect ref to an object defined
    LATER in the file (the streaming-writer layout) must still parse."""
    data = build_pdf([["hello forward length"]], compress=False)
    # rewrite: find the first content stream object, point its /Length
    # at a new trailing object holding the number
    import re as _re
    m = _re.search(rb"<< /Length (\d+) >>\nstream\n", data)
    assert m
    length = int(m.group(1))
    # highest existing object number
    top = max(int(n) for n in _re.findall(rb"(\d+) \d+ obj", data))
    new_num = top + 1
    patched = (data[:m.start()]
               + b"<< /Length %d 0 R >>\nstream\n" % new_num
               + data[m.end():])
    patched += b"\n%d 0 obj %d endobj\n" % (new_num, length)
    pages = process_pdf(patched)
    assert pages and "hello forward length" in pages[0]["raw_text"]


def test_object_header_bytes_inside_stream_do_not_clobber():
    """Bytes that look like 'N 0 obj <val>' inside a stream payload
    must not overwrite the real object N."""
    data = build_pdf([["stream body junk test"]], compress=False)
    # splice a fake redefinition of object 1 (the font) into the
    # middle of the (uncompressed) content stream text
    marker = b"stream body junk test"
    fake = b" 1 0 obj 7 "
    patched = data.replace(marker, marker[:6] + fake + marker[6:], 1)
    # fix the stream's /Length for the inserted bytes so the extent is
    # still exact
    import re as _re
    m = _re.search(rb"<< /Length (\d+) >>\nstream\n", patched)
    patched = (patched[:m.start(1)]
               + str(int(m.group(1)) + len(fake)).encode()
               + patched[m.end(1):])
    doc = PdfDocument(patched)
    assert isinstance(doc.objects[1], dict), doc.objects[1]
    assert doc.objects[1].get("/Type") == "/Font"


def test_build_pdf_rejects_ragged_links():
    with pytest.raises(ValueError):
        build_pdf([["a"], ["b"]], links=[["https://x.test/"]])


def test_process_pdfs_contains_bad_rows(spark):
    """NULL blobs and corrupt blobs must not fail the stage — good
    documents still come through."""
    good = build_pdf([["good page"]])
    truncated_flate = build_pdf([["x" * 50]], compress=True)[:-40]
    rows = [("g", bytearray(good)),
            ("n", None),
            ("junk", bytearray(b"%PDF-1.4 not really")),
            ("trunc", bytearray(truncated_flate))]
    df = spark.createDataFrame(rows, "doc_id string, pdf binary")
    out = process_pdfs(df).collect()
    assert {r.doc_id for r in out} <= {"g", "junk", "trunc"}
    assert any(r.doc_id == "g" and "good page" in r.raw_text for r in out)


def test_lengthened_stream_drops_objects_inside_its_payload():
    """A stream whose indirect /Length resolves past an `endstream`
    inside its payload: object headers in the rest of that payload are
    data, and must not replace the real objects defined before it."""
    payload = b"BT endstream\n1 0 obj << /Type /Bogus >> endobj ET"
    data = (b"%PDF-1.4\n"
            b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
            b"2 0 obj << /Type /Pages /Kids [] /Count 0 >> endobj\n"
            b"4 0 obj << /Length 5 0 R >>\nstream\n" + payload
            + b"\nendstream\nendobj\n"
            b"5 0 obj %d endobj\n" % len(payload)
            + b"trailer << /Root 1 0 R >>\n%%EOF\n")
    doc = PdfDocument(data)
    assert doc.objects[1].get("/Type") == "/Catalog", doc.objects[1]
    assert doc.objects[5] == len(payload)
    from crawl4ai_spark.extraction.pdf import Ref
    assert doc.stream_data(Ref(4)) == payload
