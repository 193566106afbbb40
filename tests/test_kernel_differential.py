"""The engine's HTML and PDF kernels against their earlier versions
(``tests/kernel_reference.py``), on every input class: the sf0.01 corpus,
curated markup and seeded garbage. ``test_fast_tokenizer_matches_stdlib``
and the property tests compare the two tokenizers on well-formed markup
only, where fast and stdlib agree by design; these compare old and new
output on anything, so a tokenizer or builder change cannot move a byte
of extracted text unseen."""

from __future__ import annotations

import random

import pyarrow.parquet as pq
import pytest

import kernel_reference as ref
from conftest import SF_CORRECT
from ollama_ocr_spark.corpus import build_payload
from ollama_ocr_spark.functions import pdfmini
from ollama_ocr_spark.functions.htmltext import DROP_TAGS, parse_html_blocks
from ollama_ocr_spark.operators.templates import _MINING_DROP

DROP_SETS = {"default": DROP_TAGS, "templates": _MINING_DROP}

_CURATED = [
    b"",
    b"plain text, no markup & an ampersand",
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
    b"<h1>first h1</h1><h1>second h1</h1><title>t &amp; t</title>",
    # garbage the two tokenizers read differently by design
    b"<p>bare < in text <",
    b"<p>x<!-- unclosed comment <p>y</p>",
    b"<p>x<![CDATA[ unclosed <p>y",
    b"<p>x<?pi unclosed <p>y",
    b"<!x <p>declaration</p>",
    b"<p>a<br class=x/>b</p>",
    b"<p>a<a href=/x/>b</a></p>",
    b'<p a="x"y>quoted then text</p>',
    b"<p a= b =>spaced equals</p>",
    b'<a title="<b>">lt in value</a><a title="x>y">gt in value</a>',
    b"<script>never closed <p>x</p>",
    b"<style>never closed",
    b"<SCRIPT TYPE='application/ld+json'>{}</SCRIPT><p>upper</p>",
    b"<table><tr><td>a<table><tr><td>nested</td></tr></table></td></tr>",
    b"<title>&lt;t&gt; &amp;&amp; &copy;</title><p>&#x41;&#65;&nbsp;&amp</p>",
    b"<html><body>" + b"<p " * 200,
    b"<html><body>" + b"<a x=1 " * 200,
    b"<html><head>" + b"<meta charset=" * 200,
]

# Fragments for the garbage generator: tag shapes the cheap grammar takes,
# shapes only the exact grammar reads, and text.
_ATOMS = [
    "<", ">", "<p>", "</p>", "<p ", "<a x=1 ", "<meta charset=", "<!--",
    "-->", "<![CDATA[", "]]>", "<?", "<!x", "<!DOCTYPE html>",
    '<a href="x>y">', "<a href='<b>'>", '<a b="x"y>', "<a b= c =>",
    "<br class=x/>", "<br/>", "<br />", "<BR>", "<P>", "<Div>", "</DIV>",
    "<script>", "</script>", "<style>", "</style>", "</ script>",
    '<script type="application/ld+json">', "<SCRIPT type='ld+json'>",
    "<table>", "</table>", "<tr>", "</tr>", "<td>", "</td>", "<th>",
    "<li>", "<h1>", "</h1>", "<h2>", "<title>", "</title>", "<nav>",
    "</nav>", "<header>", "<aside>", "<article>", "<main>", "<ul>",
    "<pre>", "<a>", "</a>", "<a/>", "<td/>", "<table/>", "<hr/>",
    "<img src=a.png/>", "<a href=/x/>", "<p\tclass=\"c\"\n>", "<p class=>",
    "<p =x>", "<a/b>", "<p/ >", "<x-y:z.w>", "<1>", "</>", "&amp;",
    "&lt;", "&#65;", "&unknown;", "&", "&am", "p;", " ", "\n", "text",
    "x", "é",
]


def _garbage(rng: random.Random) -> bytes:
    return "".join(rng.choice(_ATOMS)
                   for _ in range(rng.randint(0, 60))).encode()


def _corpus_payloads() -> list[bytes]:
    docs = pq.read_table(f"{SF_CORRECT}/documents.parquet",
                         columns=["doc_id", "text", "lang"]).to_pydict()
    payloads = (build_payload(d, t, lang) for d, t, lang
                in zip(docs["doc_id"], docs["text"], docs["lang"]))
    return [p for p in payloads if p is not None]


def _assert_same(payload: bytes) -> None:
    for name, drop_tags in DROP_SETS.items():
        for engine in ("fast", "stdlib"):
            new = parse_html_blocks(payload, drop_tags=drop_tags,
                                    collect_blocks=True, engine=engine)
            old = ref.parse_html_blocks(payload, drop_tags=drop_tags,
                                        collect_blocks=True, engine=engine)
            assert new == old, (name, engine, payload)


def test_html_matches_reference_on_corpus():
    payloads = _corpus_payloads()
    assert len(payloads) > 400
    for payload in payloads:
        _assert_same(payload)


@pytest.mark.parametrize("payload", _CURATED)
def test_html_matches_reference_on_curated(payload):
    _assert_same(payload)


def test_html_matches_reference_on_garbage():
    rng = random.Random(13)
    for _ in range(1500):
        _assert_same(_garbage(rng))


def test_pdf_string_unescape_matches_reference():
    rng = random.Random(13)
    alphabet = [bytes([b]) for b in b"ab\\()nrtx\n\xff"]
    for _ in range(20000):
        raw = b"".join(rng.choice(alphabet) for _ in range(rng.randint(0, 24)))
        assert pdfmini._unescape_pdf_string(raw) == ref._unescape_pdf_string(raw)


def test_pdf_tj_regex_matches_reference():
    rng = random.Random(13)
    alphabet = [b"(", b")", b"\\", b"\\(", b"\\)", b"a", b" ", b"\n", b"Tj",
                b"T", b"j", b"\xff"]
    for _ in range(20000):
        stream = b"".join(rng.choice(alphabet)
                          for _ in range(rng.randint(0, 30)))
        new = [m.span(1) for m in pdfmini._TJ_RE.finditer(stream)]
        old = [m.span(1) for m in ref._TJ_RE.finditer(stream)]
        assert new == old, stream
