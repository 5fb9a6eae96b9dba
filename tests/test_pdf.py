"""PDF text extraction: builder round-trips (plain + Flate), string
escapes, TJ/quote operators on raw content streams, metadata, damage
tolerance, and the contract errors.
"""

from __future__ import annotations

import pytest

from commerce_sessionization_spark.functions.codecs import UnsupportedMediaError
from commerce_sessionization_spark.functions.pdf import (
    _content_text,
    build_pdf,
    extract_pdf_text,
    parse_pdf,
)

PAGES = [
    "Hello world.\nSecond line with (parens) and \\ backslash.",
    "Page two text here.",
]


@pytest.mark.parametrize("compress", [True, False], ids=["flate", "plain"])
def test_pdf_roundtrip(compress):
    pdf = build_pdf(PAGES, title="My Doc", compress=compress)
    meta = parse_pdf(pdf)
    assert meta["version"] == "1.4"
    assert meta["n_pages"] == 2
    assert meta["title"] == "My Doc"
    assert meta["producer"] == "fixture-writer"
    assert meta["has_cid_fonts"] is False
    assert extract_pdf_text(pdf) == PAGES


def test_content_stream_operators_direct():
    # TJ array with kerning numbers, ' (next-line show), hex strings
    stream = (
        b"BT /F1 12 Tf 72 720 Td "
        b"[(Kerned) -250 ( array) 120 ( text)] TJ "
        b"(next line) ' "
        b"<48 65 78> Tj "
        b"ET"
    )
    assert _content_text(stream) == "Kerned array text\nnext lineHex"


def test_pdf_string_escapes_direct():
    stream = rb"BT (\164ab\(x\)\\ \n end) Tj ET"  # octal, parens, eol
    assert _content_text(stream) == "tab(x)\\ \n end"


def test_pdf_missing_xref_still_extracts():
    """The object scan must not depend on the xref table: chop the
    trailer/xref off entirely and everything still extracts."""
    pdf = build_pdf(PAGES, compress=False)
    headless = pdf[: pdf.rfind(b"xref")]
    assert extract_pdf_text(headless) == PAGES
    assert parse_pdf(headless)["n_pages"] == 2


def test_pdf_damaged_stream_yields_empty_page_not_crash():
    pdf = bytearray(build_pdf(["only page"], compress=True))
    at = bytes(pdf).find(b"stream\n") + 10
    pdf[at : at + 8] = b"\x00" * 8  # corrupt the deflate payload
    assert extract_pdf_text(bytes(pdf)) == [""]


def test_pdf_contract_errors():
    with pytest.raises(UnsupportedMediaError):
        parse_pdf(b"not a pdf")
    enc = build_pdf(["x"]).replace(b"/Producer", b"/Encrypt /Producer")
    with pytest.raises(UnsupportedMediaError):
        extract_pdf_text(enc)


def test_pdf_cid_font_flagged():
    pdf = build_pdf(["x"]).replace(b"/Type1", b"/Type0")
    assert parse_pdf(pdf)["has_cid_fonts"] is True


def test_extract_document_text_operator(spark, tmp_path):
    """Files on disk -> read_media_dir -> extract_document_text: the
    document leg end-to-end, including the never-fails contract."""
    from commerce_sessionization_spark.operators.multimodal import extract_document_text
    from commerce_sessionization_spark.sources.io import read_media_dir

    d = tmp_path / "docs"
    d.mkdir()
    (d / "a.pdf").write_bytes(build_pdf(PAGES, title="Report A"))
    (d / "b.pdf").write_bytes(b"broken not a pdf")
    media = read_media_dir(spark, str(d))
    ing = {
        r["metadata"]["source_path"].rsplit("/", 1)[-1]: (
            r["modality"], r["mime_type"],
        )
        for r in media.collect()
    }
    assert ing["a.pdf"] == ("document", "application/pdf")
    out = {
        r["title"]: r.asDict()
        for r in extract_document_text(media).collect()
    }
    good = out["Report A"]
    assert good["format"] == "pdf" and good["n_pages"] == 2
    assert good["text"] == "\f".join(PAGES)
    assert good["n_chars"] == len(good["text"])
    bad = out[None]
    assert bad["format"] == "unknown" and bad["text"] is None



# ---------------------------------------------------------------------------
# DOCX


def test_docx_roundtrip_and_props():
    from commerce_sessionization_spark.functions.docx import (
        build_docx,
        extract_docx_text,
        parse_docx,
    )

    paras = ["First para with <angle> & amp.", "Second one.", ""]
    d = build_docx(paras, title="Doc T", author="au")
    meta = parse_docx(d)
    assert meta["n_paragraphs"] == 3
    assert meta["title"] == "Doc T" and meta["author"] == "au"
    assert meta["producer"] == "fixture-writer"
    assert extract_docx_text(d) == paras


def test_docx_contract_errors():
    from commerce_sessionization_spark.functions.docx import parse_docx

    with pytest.raises(UnsupportedMediaError):
        parse_docx(b"plain bytes")
    import io as _io
    import zipfile

    buf = _io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("other.txt", "not a docx")
    with pytest.raises(UnsupportedMediaError):
        parse_docx(buf.getvalue())


def test_extract_document_text_handles_docx(spark):
    from commerce_sessionization_spark.functions.docx import build_docx
    from commerce_sessionization_spark.operators.multimodal import extract_document_text
    from commerce_sessionization_spark.schemas import MEDIA_SCHEMA

    rows = [
        (
            1,
            "document",
            bytearray(build_docx(["Para one.", "Para two."], title="W")),
            "application/vnd.openxmlformats-officedocument"
            ".wordprocessingml.document",
            {},
        ),
        (2, "document", bytearray(build_pdf(["pdf text"])), "application/pdf", {}),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r["format"]: r.asDict() for r in extract_document_text(df).collect()}
    assert out["docx"]["text"] == "Para one.\nPara two."
    assert out["docx"]["n_pages"] == 2  # paragraph count for docx
    assert out["docx"]["title"] == "W"
    assert out["pdf"]["text"] == "pdf text"


def test_extract_document_text_plain_and_markdown(spark):
    from commerce_sessionization_spark.operators.multimodal import extract_document_text
    from commerce_sessionization_spark.schemas import MEDIA_SCHEMA

    rows = [
        (1, "document", bytearray("utf8 text é".encode()), "text/plain", {}),
        (2, "document", bytearray(b"\xef\xbb\xbfbom text"), "text/markdown", {}),
        (3, "document", bytearray(b"caf\xe9 legacy"), "text/plain", {}),
        (4, "document", bytearray("utf16".encode("utf-16")), "text/plain", {}),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r["asset_id"]: r.asDict() for r in extract_document_text(df).collect()}
    assert out[1]["text"] == "utf8 text é" and out[1]["format"] == "plain"
    assert out[2]["text"] == "bom text" and out[2]["format"] == "markdown"
    assert out[3]["text"] == "café legacy"  # Latin-1 ladder, never crashes
    assert out[4]["text"] == "utf16"  # UTF-16 BOM honored
