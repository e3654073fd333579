"""PDF text-extraction (AI3 binary path) tests.

The reference parses real documents via PARSE_DOCUMENT and ships pypdfium2
(`app.py:212-215`, `environment.yml:17`); here the optional-import pypdfium2
tier is exercised only where the library exists, while the pure-Python
uncompressed-stream parser (and the make_minimal_pdf fixture generator)
round-trips everywhere.
"""

from __future__ import annotations

import json

import pytest

from unstructured_data_pipeline_spark.ai.pdf import (
    extract_pdf_text,
    is_pdf,
    make_minimal_pdf,
    pdfium_available,
)


def test_is_pdf_sniff():
    assert is_pdf(b"%PDF-1.4\nrest")
    assert is_pdf(b"  \n%PDF-1.7")
    assert not is_pdf(b"plain text")
    assert not is_pdf(b"")
    assert not is_pdf(None)


def test_pdf_roundtrip_simple():
    text = "customer invoice number 42 total 1234.56"
    blob = make_minimal_pdf(text)
    assert is_pdf(blob)
    assert extract_pdf_text(blob) == text


def test_pdf_roundtrip_multiline_and_escapes():
    text = "line one (with parens)\nline two \\ backslash\nthird )("
    assert extract_pdf_text(make_minimal_pdf(text)) == text


def test_pdf_no_text_returns_none():
    # a PDF-looking blob with no BT/ET text blocks
    assert extract_pdf_text(b"%PDF-1.4\n1 0 obj\n<<>>\nendobj\n%%EOF") is None
    # non-PDF input
    assert extract_pdf_text(b"not a pdf") is None


def test_ocr_backend_sniffs_pdf():
    from unstructured_data_pipeline_spark.ai.backends import DeterministicStubBackend

    b = DeterministicStubBackend()
    env = json.loads(b.ocr(make_minimal_pdf("hello pdf world")))
    assert env == {"content": "hello pdf world", "mode": "layout", "source": "pdf"}
    # text blobs keep the old contract
    env2 = json.loads(b.ocr(b"plain utf8 text"))
    assert env2 == {"content": "plain utf8 text", "mode": "layout"}
    # opaque binary -> marker, never raises
    env3 = json.loads(b.ocr(b"\xff\xfe\x01\x02binarystuff"))
    assert env3["content"].startswith("<binary:")


def test_image_only_pdf_gets_marker_envelope():
    from unstructured_data_pipeline_spark.ai.backends import DeterministicStubBackend

    blob = b"%PDF-1.4\n1 0 obj\n<< /Subtype /Image >>\nendobj\n%%EOF"
    env = json.loads(DeterministicStubBackend().ocr(blob))
    assert env["source"] == "pdf"
    assert env["content"].startswith("<pdf:")


@pytest.mark.skipif(not pdfium_available(), reason="pypdfium2 not installed")
def test_pdfium_tier_roundtrip():  # pragma: no cover - lib absent here
    text = "pdfium tier check"
    got = extract_pdf_text(make_minimal_pdf(text))
    assert got is not None and "pdfium tier check" in got


def test_pdf_ocr_pipeline_demo_roundtrips(spark, sf_dir):
    from unstructured_data_pipeline_spark.queries import pdf_ocr_pipeline_demo

    out = pdf_ocr_pipeline_demo(spark, sf_dir).collect()
    assert len(out) > 0
    # two branches: .pdf rows roundtrip text through a real PDF; every 7th
    # doc renders a real BMP and must dispatch through the image branch
    pdfs = [r for r in out if r["file_ref"].endswith(".pdf")]
    imgs = [r for r in out if r["file_ref"].endswith(".bmp")]
    assert pdfs and imgs
    assert all(r["source"] == "pdf" for r in pdfs)
    assert all(r["source"] == "image" for r in imgs)
    assert all(r["roundtrip_ok"] for r in out)


def test_binary_intake_stream_with_pdf(spark, tmp_path):
    """A real PDF dropped in the landing dir flows through the streaming
    binary intake: sniffed, text-extracted, classified on the EXTRACTED
    text."""
    from unstructured_data_pipeline_spark.catalog import bootstrap_warehouse
    from unstructured_data_pipeline_spark.streaming.intake import start_intake_stream

    landing = tmp_path / "pdfs"
    landing.mkdir()
    (landing / "a.pdf").write_bytes(make_minimal_pdf("customer invoice total 99"))

    tables = bootstrap_warehouse(spark, str(tmp_path / "wh"))
    q = start_intake_stream(
        spark,
        str(landing),
        str(tmp_path / "ckpt"),
        tables,
        file_format="binaryFile",
    )
    q.awaitTermination()
    rows = tables["document_ocr"].read().collect()
    assert len(rows) == 1
    env = json.loads(rows[0]["ocr"])
    # intake already extracted the PDF text; everything downstream (ocr
    # envelope, classification) runs on the EXTRACTED text, not raw bytes
    assert env["content"] == "customer invoice total 99"
    got = {
        r["file_ref"]: r["class_name"]
        for r in tables["documents_processed"].read().collect()
    }
    assert got == {"a.pdf": "invoice"}  # classified on extracted text
