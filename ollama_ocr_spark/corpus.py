"""Deterministic Common-Crawl-style pages corpus, derived from the driver's
``documents.parquet`` table.

Every page row is a **pure function** of a ``documents`` row
``(doc_id, text, lang, source)`` — no RNG, no wall clock — so that:

- the extraction pipeline's output can be compared *byte-identically* against
  ``documents.text`` (the golden), and
- the DuckDB oracle for the driver's correctness gate is expressible in plain
  SQL over the ``documents`` view (the archetype/host/url mapping below is
  mirrored in `__spark_entry__.oracle_sql`).

Archetype table (k = doc_id % 10), mirroring the 5 reference fixtures in
`/root/reference/images/` (see FIXTURES.md §3):

| k       | stem       | payload                           | route (expected)      |
|---------|------------|-----------------------------------|-----------------------|
| 0..1    | article    | HTML, <article> main + boilerplate| printed (structure)   |
| 2       | table      | HTML, 2-col <table> of word rows →| printed (structure)   |
|         |            | markdown "| a | b |" golden       |                       |
| 3       | list       | HTML, <ul> of word items →        | printed (structure)   |
|         |            | markdown "- item" golden          |                       |
| 4       | memo       | HTML, plain <div> main, no markers| handwriting (fallback)|
|         |            | doc_id%20==14: raw text/plain     | handwriting, Text     |
| 5       | receipt    | HTML like 0..3, url keyword       | printed (keyword)     |
| 6       | draft      | HTML like 0..3, url keyword       | handwriting (keyword) |
| 7       | playbook   | PDF, 1 + doc_id%3 pages (.pdf)    | printed (keyword 'pdf')|
| 8       | scan       | JPEG/PNG (.jpg), text in COM/tEXt | handwriting, text     |
| 9       | page       | doc_id%20==9 → NULL payload;      | error row             |
|         |            | doc_id%20==19 → junk bytes        |                       |

Duplicate captures: every doc_id % 5 == 0 gets a second, *older* capture —
exercising latest-capture dedup (SURVEY.md §2.6 N3). The k=5 re-crawls carry
stale (changed) content; the k=0 re-crawls are byte-identical (unchanged
page) — so crawl-diff sees both outcomes.

Cross-host outlinks: every HTML footer carries three absolute "partner"
links to `partner_hosts(doc_id)` — the deterministic edge source for the
link-graph / PageRank operators (mirrored in `__spark_entry__.oracle_sql`).

Host skew (zipf-ish, SQL-expressible): m = doc_id % 100 →
m<50: h0 · m<70: h1 · m<85: h2 · else h{3+doc_id%13} — so salting (N6) is
actually exercised.
"""

from __future__ import annotations

import html as _html
import json
from datetime import datetime, timedelta, timezone

from .functions.pdfmini import write_pdf
from .functions.router import fold_pages

BASE_TS = datetime(2024, 1, 1, tzinfo=timezone.utc)

STEMS = {
    0: "article", 1: "article", 2: "table", 3: "list",
    4: "memo", 5: "receipt", 6: "draft", 7: "playbook",
    8: "scan", 9: "page",
}

# Words per table row / list item for the k=2/k=3 structured archetypes.
CHUNK_WORDS = 8
EXTS = {7: ".pdf", 8: ".jpg"}

_JUNK = b"\x00\x01\x02corrupted-capture\x03\x04" * 4


def image_dims(doc_id: int) -> tuple[int, int]:
    """(width, height) of the synthetic scan — pure fn of doc_id."""
    return 100 + doc_id % 400, 80 + doc_id % 300


def build_image(doc_id: int, text: str = "") -> bytes:
    """Minimal-but-real image headers: JPEG with an SOF0 frame header for
    even-k20 docs, PNG with an IHDR chunk otherwise — so the media pipeline
    can extract true dimensions without any decoder library.

    The document's text rides in a JPEG COM segment / PNG ``tEXt``
    (Description) chunk — the in-sandbox stand-in for visual text: the
    extraction pipeline's image branch parses it back
    (functions.media.image_comment_text), exercising routing + byte-exact
    goldens end-to-end; a production deployment swaps that kernel for a
    real OCR engine."""
    w, h = image_dims(doc_id)
    payload = text.encode("utf-8")
    if doc_id % 20 == 8:
        com = b"\xff\xfe" + (len(payload) + 2).to_bytes(2, "big") + payload
        # SOI + COM + SOF0(len=17, precision=8, height, width, 3 components)
        sof = (
            b"\xff\xc0\x00\x11\x08"
            + h.to_bytes(2, "big") + w.to_bytes(2, "big")
            + b"\x03\x01\x11\x00\x02\x11\x01\x03\x11\x01"
        )
        return b"\xff\xd8" + com + sof + b"synthetic-scan" + b"\xff\xd9"
    ihdr = w.to_bytes(4, "big") + h.to_bytes(4, "big") + b"\x08\x02\x00\x00\x00"
    textb = b"Description\x00" + payload
    return (
        b"\x89PNG\r\n\x1a\n"
        + len(ihdr).to_bytes(4, "big") + b"IHDR" + ihdr
        + b"\x00" * 4  # crc placeholder (parser does not verify)
        + len(textb).to_bytes(4, "big") + b"tEXt" + textb + b"\x00" * 4
    )


def host_for(doc_id: int) -> str:
    m = doc_id % 100
    if m < 50:
        return "h0.example.com"
    if m < 70:
        return "h1.example.com"
    if m < 85:
        return "h2.example.com"
    return f"h{3 + doc_id % 13}.example.com"


def partner_hosts(doc_id: int) -> list[str]:
    """Three deterministic cross-host outlink targets for the page footer.
    Pure doc_id arithmetic (affine probe into ``host_for``) so the DuckDB
    oracle for the link-graph queries reconstructs the exact edge set."""
    return [host_for(doc_id * 7 + 11 * j + 3) for j in range(3)]


def url_for(doc_id: int, source: str) -> str:
    k = doc_id % 10
    return (
        f"https://{host_for(doc_id)}/{source}/{STEMS[k]}-{doc_id}"
        f"{EXTS.get(k, '.html')}"
    )


def n_pdf_pages(doc_id: int) -> int:
    return 1 + doc_id % 3


def pdf_page_texts(text: str, n_pages: int) -> list[str]:
    """Word-balanced page split; slice bounds mirrored in the DuckDB oracle."""
    words = text.split(" ")
    w = len(words)
    return [
        " ".join(words[(w * (i - 1)) // n_pages : (w * i) // n_pages])
        for i in range(1, n_pages + 1)
    ]


def text_chunks(text: str) -> list[list[str]]:
    """Word chunks of CHUNK_WORDS — the row/item unit for k=2/k=3 pages.
    Mirrored in `__spark_entry__` oracle SQL and the Spark golden expr."""
    words = text.split(" ")
    return [words[i:i + CHUNK_WORDS] for i in range(0, len(words), CHUNK_WORDS)]


def table_markdown(text: str) -> str:
    """Golden rendering of the k=2 table page: each chunk is one 2-cell row
    (4+4 words); markdown '| a | b |' lines joined by newline."""
    lines = []
    for chunk in text_chunks(text):
        ca = " ".join(chunk[:4])
        cb = " ".join(chunk[4:])
        cells = [c for c in (ca, cb) if c]
        if cells:
            lines.append("| " + " | ".join(cells) + " |")
    return "\n".join(lines).strip()


def list_markdown(text: str) -> str:
    """Golden rendering of the k=3 list page: '- item' blocks, \\n\\n-joined."""
    items = [" ".join(chunk) for chunk in text_chunks(text)]
    return "\n\n".join("- " + it for it in items if it).strip()


MEMO_LINE_WORDS = 6


def memo_layout(text: str) -> str:
    """Handwriting-archetype formatting for the k=4 memo page (reference T7:
    transcription preserves layout): lines of MEMO_LINE_WORDS words,
    continuation lines indented two spaces. Whitespace-collapsing this
    yields exactly ``text`` back — so the printed path and every
    collapsed-text mode (multi_step, analyze) are unaffected, while the
    handwriting transcription must reproduce it byte-for-byte. Mirrored in
    `__spark_entry__` oracle SQL and maintenance.golden_text_expr."""
    words = text.split(" ")
    lines = [
        " ".join(words[i:i + MEMO_LINE_WORDS])
        for i in range(0, len(words), MEMO_LINE_WORDS)
    ]
    return "\n".join(lines[:1] + ["  " + ln for ln in lines[1:]])


def receipt_fields(doc_id: int) -> dict:
    """Structured receipt fields (reference T8 / `ollama_cloud_ocr.py:403`
    schema family) as a pure function of doc_id — mirrored in the SQL
    oracle. Money is carried in integer cents (no float drift)."""
    return {
        "store_name": f"Store {doc_id % 7}",
        "date": f"2024-01-{1 + doc_id % 28:02d}",
        "total_cents": (doc_id % 1000) * 13 + 99,
        "n_items": 1 + doc_id % 4,
    }


def form_fields(doc_id: int) -> dict:
    """Structured form fields (reference `--data-type form`,
    `ollama_cloud_ocr.py:406-409`: "field names and values") — pure fn of
    doc_id, mirrored in the SQL oracle."""
    return {
        "form_name": f"Form {doc_id % 5}",
        "n_fields": 2 + doc_id % 6,
        "contact_email": f"user{doc_id % 100}@example.org",
    }


def price_tag_fields(doc_id: int) -> dict:
    """Structured price-tag fields (reference `--data-type price_tag`,
    `ollama_cloud_ocr.py:410-413`: product_name, price, sku) — pure fn of
    doc_id, integer cents, mirrored in the SQL oracle."""
    return {
        "product_name": f"Product {doc_id % 11}",
        "price_cents": (doc_id % 500) * 7 + 49,
        "sku": f"SKU-{doc_id % 10000:04d}",
    }


def structured_ldjson(doc_id: int) -> str:
    """schema.org-style JSON-LD block for the structured archetypes:
    k=5 receipt (reference default), k=2 form (tables ARE form-like),
    k=3 price_tag (list pages as product listings). Lives inside a
    ``<head>`` script, which the text extractor DROPS — byte-exact text
    goldens are untouched while every ``--data-type`` has real microdata."""
    k = doc_id % 10
    if k == 5:
        obj = {"@type": "Receipt", **receipt_fields(doc_id)}
    elif k == 2:
        obj = {"@type": "Form", **form_fields(doc_id)}
    elif k == 3:
        obj = {"@type": "PriceTag", **price_tag_fields(doc_id)}
    else:
        return ""
    return (
        '<script type="application/ld+json">'
        + json.dumps(obj, separators=(",", ":"))
        + "</script>"
    )


def build_html(doc_id: int, text: str, lang: str) -> bytes:
    """HTML page with boilerplate chrome around the exact document text."""
    k = doc_id % 10
    esc = _html.escape(text)
    nav = (
        "<nav><ul>"
        + "".join(f'<li><a href="/s{i}">Section {i}</a></li>' for i in range(6))
        + "</ul></nav>"
    )
    header = f"<header><h1>Example Site {doc_id % 7}</h1>{nav}</header>"
    aside = (
        '<aside><p><a href="/sponsored">Sponsored: one weird trick</a> '
        '<a href="/deal">limited offer</a></p></aside>'
    )
    # Footer carries the cross-host partner links (constant anchor TEXT so
    # the per-host footer block stays template-stable for mine_templates;
    # only the hrefs vary). <footer> is a drop-tag, so extraction goldens
    # are untouched.
    partners = " ".join(
        f'<a href="https://{h}/">partner</a>' for h in partner_hosts(doc_id)
    )
    footer = (
        '<footer><p><a href="/terms">Terms</a> <a href="/privacy">Privacy</a> '
        f"&copy; 2024 Example Corp {partners}</p></footer>"
    )
    # Link-farm div OUTSIDE the drop-tags — exercises the link-density rule,
    # not just the tag rule.
    linkfarm = (
        '<div class="related"><a href="/r1">related story one</a> '
        '<a href="/r2">related story two</a> <a href="/r3">more</a></div>'
    )
    if k == 4:
        # memo: no structure markers, few blocks → heuristic → handwriting;
        # body carries the preserved layout (newlines + indent) that the
        # handwriting transcription must keep and the printed path would
        # collapse
        body = (
            f'<div id="content"><p>{_html.escape(memo_layout(text))}</p>'
            "</div>"
        )
        page = (
            f'<!DOCTYPE html><html lang="{lang}"><head><meta charset="utf-8">'
            f"<title>memo {doc_id}</title></head>"
            f"<body>{header}{body}{footer}</body></html>"
        )
    else:
        # Structured pages carry schema.org-style JSON-LD (receipt/form/
        # price_tag per archetype) — inside <script>, which the text
        # extractor DROPS, so the byte-exact text round-trip is untouched
        # while the structured-extraction mode (T8) has real microdata.
        ldjson = structured_ldjson(doc_id)
        if k == 2:
            # table archetype: word chunks as 2-cell rows
            rows = []
            for chunk in text_chunks(text):
                ca = _html.escape(" ".join(chunk[:4]))
                cb = _html.escape(" ".join(chunk[4:]))
                cells = "".join(f"<td>{c}</td>" for c in (ca, cb) if c)
                if cells:
                    rows.append(f"<tr>{cells}</tr>")
            body = f"<article><table>{''.join(rows)}</table></article>"
        elif k == 3:
            # list archetype: word chunks as list items
            items = "".join(
                f"<li>{_html.escape(' '.join(chunk))}</li>"
                for chunk in text_chunks(text)
                if any(chunk)
            )
            body = f"<article><ul>{items}</ul></article>"
        else:
            body = f"<article><p>{esc}</p></article>"
        page = (
            f'<!DOCTYPE html><html lang="{lang}"><head><meta charset="utf-8">'
            f"<title>{STEMS[k]} {doc_id}</title>{ldjson}</head>"
            f"<body>{header}{aside}{body}{linkfarm}{footer}</body></html>"
        )
    return page.encode("utf-8")


def build_payload(doc_id: int, text: str, lang: str) -> bytes | None:
    k = doc_id % 10
    if k == 7:
        return write_pdf(pdf_page_texts(text, n_pdf_pages(doc_id)),
                         compress=doc_id % 2 == 0)
    if k == 8:
        return build_image(doc_id, text)
    if k == 9:
        return None if doc_id % 20 == 9 else _JUNK
    if k == 4 and doc_id % 20 == 14:
        # plain-text capture (text/plain served under an .html url — web
        # reality): the router must content-sniff it as UTF-8 text. Same
        # identity golden as the memo HTML (text.strip()).
        return text.encode("utf-8")
    return build_html(doc_id, text, lang)


def golden_text(doc_id: int, text: str) -> str:
    """Expected extracted text — computed from generation parameters only,
    never by running the extractor (independent golden, FIXTURES.md §2)."""
    k = doc_id % 10
    if k == 8:
        # image text rides in the COM/tEXt comment chunk (build_image) and
        # the image branch extracts it — the OCR-output analog
        return text.strip()
    if k == 9:
        return ""
    if k == 7:
        return fold_pages(pdf_page_texts(text, n_pdf_pages(doc_id)))
    if k == 2:
        return table_markdown(text)
    if k == 3:
        return list_markdown(text)
    if k == 4 and doc_id % 20 != 14:
        # HTML memo → handwriting transcription preserves the layout;
        # the %20==14 text/plain sub-slot stays the raw text identity
        return memo_layout(text).strip()
    return text.strip()


def capture_rows(doc_id: int, text: str, lang: str, source: str):
    """Yield (url, warc_ts, html, text, lang) capture rows for one document.

    ``text`` in the *input* split is NULL (populated only in goldens,
    FIXTURES.md §1); duplicate older captures carry stale content.
    """
    url = url_for(doc_id, source)
    ts = BASE_TS + timedelta(seconds=doc_id)
    yield (url, ts, build_payload(doc_id, text, lang), None, lang)
    if doc_id % 5 == 0:
        # k=0 re-crawl is byte-identical (unchanged page); k=5 re-crawl
        # carries stale content (changed page) — crawl_diff sees both.
        stale_text = text if doc_id % 10 == 0 else text + " stale capture"
        yield (
            url,
            ts - timedelta(hours=1),
            build_payload(doc_id, stale_text, lang),
            None,
            lang,
        )
