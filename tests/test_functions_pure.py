"""Unit tests for the pure per-document kernels (no Spark)."""

from __future__ import annotations

import duckdb
import pytest

from ollama_ocr_spark.corpus import (
    build_payload,
    golden_text,
    host_for,
    n_pdf_pages,
    pdf_page_texts,
    url_for,
)
from ollama_ocr_spark.functions.htmltext import extract_html_main_text, parse_html_blocks
from ollama_ocr_spark.functions.pdfmini import (
    PdfError,
    extract_pdf_pages,
    pdf_page_count,
    write_pdf,
)
from ollama_ocr_spark.functions.router import (
    extract_document,
    fold_pages,
    keyword_route,
    sniff_payload,
)

SF = "/root/testdata/sf0.01"


# ---------------------------------------------------------------- html ----

def test_html_boilerplate_stripped():
    html = (
        b"<html><head><title>t</title></head><body>"
        b"<nav><a href='/a'>Home</a> <a href='/b'>About</a></nav>"
        b"<article><p>real content here</p></article>"
        b"<div><a href='/x'>link</a> <a href='/y'>farm</a></div>"
        b"<footer>copyright</footer></body></html>"
    )
    assert extract_html_main_text(html) == "real content here"


def test_html_whitespace_collapse_and_entities():
    html = b"<p>a  \n  b &amp; c</p>"
    assert extract_html_main_text(html) == "a b & c"


def test_html_structure_flag():
    assert parse_html_blocks(b"<article><p>x</p></article>").has_structure
    assert not parse_html_blocks(b"<div><p>x</p></div>").has_structure
    many = b"".join(b"<p>block %d</p>" % i for i in range(20))
    assert parse_html_blocks(b"<div>" + many + b"</div>").has_structure


def test_html_never_raises_on_garbage():
    assert extract_html_main_text(b"<<<>>>\xff\xfe<p>ok</p>") is not None


def test_plain_text_payloads():
    """text/plain captures route to the fallback class with stripped text;
    binary junk (control bytes / invalid UTF-8) keeps the error contract."""
    r = extract_document("https://h/readme-1.txt", b"  plain capture\nline 2 ")
    assert (r.doc_type, r.engine, r.error) == ("Text", "handwriting", None)
    assert r.text == "plain capture\nline 2"
    # printed keyword still wins
    assert extract_document("https://h/receipt-1.txt", b"total 4.20").engine == "printed"
    # junk stays an error row (corpus k=9 contract)
    assert extract_document("https://h/x", b"\x00\x01junk").engine == "error"
    assert extract_document("https://h/x", b"\xff\xfe\x01garbl").engine == "error"


def test_charset_detection():
    """BOMs and declared legacy charsets decode correctly; unknown or
    utf-8 declarations fall through to utf-8-replace."""
    from ollama_ocr_spark.functions.htmltext import decode_payload

    assert decode_payload("café".encode("utf-8-sig")) == "café"
    assert decode_payload(b"\xef\xbb\xbfhi") == "hi"
    assert decode_payload(b"\xff\xfeh\x00i\x00") == "hi"  # UTF-16-LE BOM
    latin = '<meta charset="iso-8859-1"><p>caf\xe9</p>'.encode("latin-1")
    assert "café" in decode_payload(latin)
    assert extract_html_main_text(latin) == "café"
    # lying/unknown charset degrades to utf-8-replace, never raises
    weird = b'<meta charset="klingon"><p>\xff ok</p>'
    assert "ok" in decode_payload(weird)


def test_normalize_url_expr(spark):
    from pyspark.sql import functions as F

    from ollama_ocr_spark.operators.maintenance import normalize_url_expr

    cases = [
        ("HTTPS://Example.COM/Path?utm_source=x&q=1#frag",
         "https://example.com/Path?q=1"),
        ("http://h.com:80/a", "http://h.com/a"),
        ("https://h.com:443/a?gclid=z", "https://h.com/a"),
        ("https://h.com/a?utm_a=1&utm_b=2", "https://h.com/a"),
        ("https://h.com/clean?id=7", "https://h.com/clean?id=7"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], ["url"])
    got = [r[0] for r in df.select(normalize_url_expr()).collect()]
    assert got == [want for _, want in cases]


def test_markdown_archetypes_roundtrip():
    """k=2 table / k=3 list pages extract to their markdown goldens, and the
    three golden implementations (python, Spark expr, oracle SQL) agree —
    python vs extraction here; Spark/SQL covered by golden_compare oracle."""
    from ollama_ocr_spark.corpus import list_markdown, table_markdown
    from ollama_ocr_spark.functions.router import extract_document

    text = " ".join(f"w{i}" for i in range(21))  # 2 full chunks + 5-word tail
    for doc_id, golden in ((12, table_markdown(text)), (13, list_markdown(text))):
        payload = build_payload(doc_id, text, "en")
        r = extract_document(f"https://h/x-{doc_id}.html", payload)
        assert r.text == golden
        assert r.engine == "printed"  # article/table structure markers
    assert table_markdown(text).count("\n") == 2  # 3 rows
    assert "| w16 w17 w18 w19 | w20 |" in table_markdown(text)
    assert list_markdown(text).endswith("- w16 w17 w18 w19 w20")


def test_markdown_rendering_features():
    """li/heading prefixes and table serialization (markdown-ish blocks)."""
    assert extract_html_main_text(
        b"<table><tr><td>a b</td><td>c</td></tr><tr><td>d</td></tr></table>"
    ) == "| a b | c |\n| d |"
    assert extract_html_main_text(
        b"<ul><li>one item</li><li>two</li></ul>"
    ) == "- one item\n\n- two"
    assert extract_html_main_text(
        b"<h2>Heading</h2><p>body</p>"
    ) == "## Heading\n\nbody"
    # nested blocks inside a cell collapse to spaces; unterminated tables close
    assert extract_html_main_text(
        b"<table><tr><td><p>nested</p><p>blocks</p></td></tr></table>"
    ) == "| nested blocks |"
    assert extract_html_main_text(b"<table><tr><td>open") == "| open |"


def test_fast_tokenizer_matches_stdlib():
    """The fast regex tokenizer and the stdlib html.parser path drive the
    same block-builder hooks; every extraction field must agree on corpus
    archetypes and on adversarial markup."""
    samples = [
        # corpus archetypes (all HTML k-slots)
        *[
            build_payload(doc_id, f"Body text for doc {doc_id}.\nSecond para & more.", "en")
            for doc_id in (0, 1, 2, 3, 4, 5, 6, 10, 14, 23)
        ],
        # adversarial but well-formed-ish markup
        b"<p>a  \n  b &amp; c &#65; &unknown; d</p>",
        b"<div><script>var x = '<p>not a block</p>';</script><p>real</p></div>",
        b"<style>p { color: red }</style><p>styled</p>",
        b"<!-- comment with <p>tag</p> inside --><p>after</p>",
        b"<!DOCTYPE html><html><body><p>doc</p></body></html>",
        b"<p>self-close<br/>and<hr />rules</p>",
        b"<p>unclosed <b>bold",
        b"<p>attr soup <a href='/x' data-y=\"z>w\" q>link text</a> tail</p>",
        b"<table><tr><td>c1</td><td>c2</td></tr></table>",
        b'<script type="application/ld+json">{"@type":"Receipt"}</script><p>x</p>',
        b"<p>1 < 2 and 3 > 2</p>",
        b"<P>UPPER<DIV>case tags</DIV></P>",
        b"<p>&lt;escaped&gt; markup</p>",
        b"<h1>first h1</h1><h1>second h1</h1><title>t &amp; t</title>",
    ]
    for payload in samples:
        fast = parse_html_blocks(payload, engine="fast", collect_blocks=True)
        std = parse_html_blocks(payload, engine="stdlib", collect_blocks=True)
        assert fast == std, payload


# ----------------------------------------------------------------- pdf ----

@pytest.mark.parametrize("compress", [True, False])
def test_pdf_roundtrip(compress):
    pages = ["first page text", "second (with) parens \\ and backslash", ""]
    data = write_pdf(pages, compress=compress)
    assert extract_pdf_pages(data) == pages
    assert pdf_page_count(data) == 3


def test_pdf_errors_are_deterministic():
    with pytest.raises(PdfError, match="not a pdf"):
        extract_pdf_pages(b"nope")
    with pytest.raises(PdfError, match="no objects"):
        extract_pdf_pages(b"%PDF-1.4 garbage")


def test_pdf_flate_bomb_is_an_error_row(monkeypatch):
    """A content stream that inflates past FLATE_CAP stops at the cap and
    becomes a fixed-message error row instead of a worker OOM."""
    from ollama_ocr_spark.functions import pdfmini

    bomb = write_pdf(["A" * pdfmini.FLATE_CAP])
    assert len(bomb) < pdfmini.FLATE_CAP // 100  # small on the wire
    r = extract_document("https://h/bomb.pdf", bomb)
    assert (r.engine, r.doc_type, r.chars) == ("error", "error", 0)
    assert r.error == "pdf flate output exceeds cap"

    # the cap spans the whole document, not each page's stream
    monkeypatch.setattr(pdfmini, "FLATE_CAP", 200)
    assert extract_pdf_pages(write_pdf(["x" * 60])) == ["x" * 60]
    with pytest.raises(PdfError, match="^pdf flate output exceeds cap$"):
        extract_pdf_pages(write_pdf(["x" * 60, "y" * 60, "z" * 60]))


# -------------------------------------------------------------- router ----

def test_sniff():
    assert sniff_payload(b"%PDF-1.4")[0] == "pdf"
    assert sniff_payload(b"\xff\xd8\xffrest")[0] == "image"
    assert sniff_payload(b"<!DOCTYPE html><html>")[0] == "html"
    assert sniff_payload(None) == (None, "empty payload")
    assert sniff_payload(b"")[1] == "empty payload"
    assert sniff_payload(b"\x00junk")[1] == "unrecognized payload"


def test_keyword_route_printed_wins():
    # printed keywords are checked first (ocr_router.py:140-144)
    assert keyword_route("https://h/receipt-notes-1.html") == "printed"
    assert keyword_route("https://h/draft-2.html") == "handwriting"
    assert keyword_route("https://h/article-3.html") is None


def test_fold_pages_exact_bytes():
    # Byte-exact separator contract (ocr_router.py:294,301)
    assert fold_pages(["a", "b"]) == (
        "--- Page 1 ---\n\na\n\n--- Page 2 ---\n\nb"
    )
    assert fold_pages(["only"]) == "--- Page 1 ---\n\nonly"


def test_error_row_contract():
    r = extract_document("https://h/x.html", None)
    assert (r.engine, r.chars, r.pages, r.doc_type) == ("error", 0, 0, "error")
    assert r.error == "empty payload"


def test_image_ocr_kernel_swap_seam():
    """The pixel-OCR production swap (`ocr_router.py:76-86` Tesseract path)
    is a one-function drop-in: registering a fake 'pixel OCR' kernel
    changes ONLY the image-branch text — routing, page/char accounting,
    and the default kernel's restore all hold."""
    from ollama_ocr_spark.corpus import build_image
    from ollama_ocr_spark.functions.router import (
        OCR_KERNELS, register_ocr_kernel)

    payload = build_image(8, "golden comment text")
    url = "https://h/scan-8.jpg"
    before = extract_document(url, payload)
    assert (before.doc_type, before.text) == ("Image", "golden comment text")

    default = OCR_KERNELS["image"]
    try:
        register_ocr_kernel(
            "image", lambda p: f"PIXEL-OCR({len(p)} bytes)")
        swapped = extract_document(url, payload)
        assert swapped.text == f"PIXEL-OCR({len(payload)} bytes)"
        assert swapped.doc_type == "Image"
        assert swapped.engine == before.engine  # routing unchanged
        assert swapped.chars == len(swapped.text)
        # non-image branches don't pass through the seam
        html = extract_document(
            "https://h/a.html", b"<html><body><p>hi</p></body></html>")
        assert "PIXEL-OCR" not in html.text
    finally:
        register_ocr_kernel("image", default)
    assert extract_document(url, payload).text == "golden comment text"


# ------------------------------------------------------- corpus golden ----

def test_sniff_large_utf8_text_not_misrouted():
    """>4KB non-ASCII text must not be misrouted by the probe-window trim:
    the old fixed 3-byte trim could cut a 4-byte char ending just inside
    the window, failing the UTF-8 check on valid text."""
    from ollama_ocr_spark.functions.router import sniff_payload

    # 4-byte char at offsets 4090-4093 (inside the window, inside the old
    # fixed trim's cut zone)
    payload = b"a" * 4090 + "\U0001f600".encode() + b"b" * 200
    assert sniff_payload(payload) == ("text", None)
    # char straddling the 4096 window edge itself
    payload2 = b"a" * 4094 + "\U0001f600".encode() + b"b" * 100
    assert sniff_payload(payload2) == ("text", None)
    # binary payloads keep their error contract
    assert sniff_payload(b"\x00" * 5000)[0] is None


def test_handwriting_transcription_preserves_layout():
    """T7: the handwriting route keeps source formatting byte-for-byte
    (newlines + indent), while the printed-style collapsed render of the
    SAME page flattens back to the original text."""
    from ollama_ocr_spark.corpus import memo_layout
    from ollama_ocr_spark.functions.router import extract_document

    text = " ".join(f"w{i}" for i in range(20))
    payload = build_payload(24, text, "en")  # doc 24: k=4 HTML memo
    r = extract_document(url_for(24, "web"), payload)
    assert r.engine == "handwriting"
    assert r.text == memo_layout(text)
    assert "\n  " in r.text  # layout actually present, not collapsed
    ext = parse_html_blocks(payload)
    assert ext.text == text  # whitespace-collapsed render is the identity
    assert ext.text_pre == memo_layout(text)


def test_corpus_roundtrip_byte_identical_sf001():
    """Every synthesized payload must extract back to the independent golden."""
    con = duckdb.connect()
    docs = con.sql(
        f"SELECT doc_id, text, lang, source FROM '{SF}/documents.parquet'"
    ).fetchall()
    assert len(docs) == 500
    for doc_id, text, lang, source in docs:
        payload = build_payload(doc_id, text, lang)
        r = extract_document(url_for(doc_id, source), payload)
        assert r.text == golden_text(doc_id, text), f"doc {doc_id}"


def test_corpus_page_split_matches_sql_slices():
    text = "w0 w1 w2 w3 w4 w5 w6"
    assert pdf_page_texts(text, 3) == ["w0 w1", "w2 w3", "w4 w5 w6"]
    assert pdf_page_texts(text, 1) == [text]


def test_host_skew_shape():
    hosts = [host_for(i) for i in range(1000)]
    assert hosts.count("h0.example.com") == 500
    assert hosts.count("h1.example.com") == 200
    assert len(set(hosts)) > 10


def test_archetype_urls():
    assert url_for(7, "src0").endswith("playbook-7.pdf")
    assert url_for(8, "src1").endswith("scan-8.jpg")
    assert url_for(15, "src2").endswith("receipt-15.html")
    assert n_pdf_pages(7) == 2
