"""PDF text extraction: round trips against the independent fixture
writer, string-syntax edge cases, filters, quarantine."""

import zlib

import pytest

from buildkite_logs_parquet_spark.functions.pdf_text import (
    extract_pdf_text,
    make_simple_pdf,
)


class TestExtract:
    def test_single_page_round_trip(self):
        text, n = extract_pdf_text(make_simple_pdf(["hello pdf world"]))
        assert n == 1
        assert text.strip() == "hello pdf world"

    def test_multi_page_and_lines(self):
        pages = ["page one\nline two", "page two"]
        text, n = extract_pdf_text(make_simple_pdf(pages))
        assert n == 2
        got_pages = [p.strip() for p in text.split("\f")]
        assert got_pages == ["page one\nline two", "page two"]

    def test_uncompressed_stream(self):
        text, _ = extract_pdf_text(
            make_simple_pdf(["raw stream"], compress=False)
        )
        assert text.strip() == "raw stream"

    def test_escapes_parens_octal(self):
        text, _ = extract_pdf_text(
            make_simple_pdf(["f(x) = \\ 50% éé"])
        )
        assert text.strip() == "f(x) = \\ 50% éé"

    def test_hex_string_and_tj_array(self):
        # hand-built content stream exercising <hex> Tj and [ ... ] TJ
        body = (
            b"BT <48656c6c6f> Tj [(wor) -20 (ld) -300 (next)] TJ ET"
        )
        pdf = (
            b"%PDF-1.4\n1 0 obj\n<< /Length "
            + str(len(body)).encode()
            + b" >>\nstream\n"
            + body
            + b"\nendstream\nendobj\n"
        )
        text, _ = extract_pdf_text(pdf)
        # small kern (-20) joins, large kern (-300) becomes a space
        assert text == "Helloworld next"

    def test_quote_operator_newline(self):
        body = b"BT (first) Tj (second) ' ET"
        pdf = (
            b"%PDF-1.4\n1 0 obj\n<< /Length "
            + str(len(body)).encode()
            + b" >>\nstream\n"
            + body
            + b"\nendstream\nendobj\n"
        )
        text, _ = extract_pdf_text(pdf)
        assert text == "firstsecond\n"

    def test_unsupported_filter_skipped_not_fatal(self):
        good = make_simple_pdf(["kept text"])
        dct = (
            b"9 0 obj\n<< /Length 4 /Filter /DCTDecode >>\n"
            b"stream\nBT x\nendstream\nendobj\n"
        )
        text, _ = extract_pdf_text(good + dct)
        assert "kept text" in text


class TestRejection:
    def test_not_a_pdf(self):
        with pytest.raises(ValueError, match="PDF"):
            extract_pdf_text(b"GIF89a not a pdf")

    def test_damaged_flate(self):
        pdf = bytearray(make_simple_pdf(["some text to compress badly"]))
        i = pdf.find(b"stream\n") + 10
        pdf[i] ^= 0xFF
        with pytest.raises(ValueError):
            extract_pdf_text(bytes(pdf))

    def test_encrypted_raises_notimplemented(self):
        raw = make_simple_pdf(["secret"])
        raw = raw.replace(
            b"/Root 1 0 R", b"/Root 1 0 R /Encrypt 9 0 R"
        )
        with pytest.raises(NotImplementedError):
            extract_pdf_text(raw)
