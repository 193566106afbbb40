"""Reference kernels for the differential tests: the HTML tokenizer and
block builder, the PDF string unescape and the PDF ``Tj`` regex as they
were before the split-pass tokenizer, the token-list block builder, the
loop-free unescape and the possessive ``Tj`` regex replaced them.
``parse_html_blocks`` here is the old hook-driven extraction; the engine's
output must equal it on every input. Kept verbatim, apart from imports;
do not "fix" it.
"""

from __future__ import annotations

import re
from html import unescape as _unescape
from html.parser import HTMLParser

from ollama_ocr_spark.functions.htmltext import (
    BLOCK_TAGS,
    DROP_TAGS,
    LINK_DENSITY_MAX,
    STRUCTURE_BLOCK_THRESHOLD,
    STRUCTURE_TAGS,
    HtmlExtraction,
    _collapse_ws,
    _PREFIX_TAGS,
    decode_payload,
)

_TABLE_BLOCK = object()


class _BlockParser(HTMLParser):
    """Single-pass block builder. Not thread-safe; one instance per document."""

    def __init__(self, drop_tags: frozenset[str] = DROP_TAGS) -> None:
        super().__init__(convert_charrefs=True)
        self.drop_tags = drop_tags
        # (raw_text, chars, link_chars, prefix) — prefix is "" / a markdown
        # prefix / the _TABLE_BLOCK sentinel (raw already rendered).
        self.blocks: list[tuple[str, int, int, object]] = []
        self._parts: list[str] = []
        self._chars = 0
        self._link_chars = 0
        self._drop_depth = 0
        self._link_depth = 0
        self._prefix = ""
        # table mode
        self._table_depth = 0
        self._table_rows: list[list[str]] = []
        self._cell_parts: list[str] | None = None
        self._table_chars = 0
        self._table_link_chars = 0
        self.structure_hits = 0
        self.block_count = 0
        # metadata side-channels (captured even inside dropped subtrees)
        self.title_parts: list[str] = []
        self.h1_parts: list[str] = []
        self.ldjson: list[str] = []
        self.n_links = 0
        self._in_title = False
        self._in_h1 = False
        self._in_ldjson = False

    # -- block lifecycle -------------------------------------------------
    def _flush(self) -> None:
        if self._parts:
            raw = "".join(self._parts)
            self.blocks.append((raw, self._chars, self._link_chars, self._prefix))
        self._parts = []
        self._chars = 0
        self._link_chars = 0
        self._prefix = ""

    # -- table mode ------------------------------------------------------
    def _close_cell(self) -> None:
        if self._cell_parts is not None:
            text = " ".join("".join(self._cell_parts).split())
            self._table_rows[-1].append(text)
            self._cell_parts = None

    def _open_cell(self) -> None:
        self._close_cell()
        if not self._table_rows:
            self._table_rows.append([])
        self._cell_parts = []

    def _cell_space(self) -> None:
        if self._cell_parts is not None:
            self._cell_parts.append(" ")

    def _finalize_table(self) -> None:
        self._close_cell()
        lines = []
        for row in self._table_rows:
            cells = [c for c in row if c]
            if cells:
                lines.append("| " + " | ".join(cells) + " |")
        if lines:
            self.blocks.append((
                "\n".join(lines), self._table_chars,
                self._table_link_chars, _TABLE_BLOCK,
            ))
        self._table_rows = []
        self._table_chars = 0
        self._table_link_chars = 0

    def finish(self) -> None:
        """End-of-document: finalize any unterminated table, flush."""
        if self._table_depth:
            self._table_depth = 0
            self._finalize_table()
        self._flush()

    # -- HTMLParser hooks -------------------------------------------------
    def handle_starttag(self, tag: str, attrs) -> None:  # noqa: ANN001
        if tag == "a":
            self.n_links += 1
        if tag == "title":
            self._in_title = True
        elif tag == "h1" and not self.h1_parts:
            self._in_h1 = True
        elif tag == "script" and ("type", "application/ld+json") in attrs:
            self._in_ldjson = True
        if tag in self.drop_tags:
            self._drop_depth += 1
            return
        if self._drop_depth:
            return
        if tag in STRUCTURE_TAGS:
            self.structure_hits += 1
        if tag == "a":
            self._link_depth += 1
        if self._table_depth:
            if tag == "table":
                self._table_depth += 1
                self._cell_space()
            elif self._table_depth == 1 and tag == "tr":
                self._close_cell()
                self._table_rows.append([])
            elif self._table_depth == 1 and tag in ("td", "th"):
                self._open_cell()
            elif tag in BLOCK_TAGS:
                self._cell_space()
            if tag in BLOCK_TAGS:
                self.block_count += 1
            return
        if tag == "table":
            self.block_count += 1
            self._flush()
            self._table_depth = 1
            self._table_rows = []
            return
        if tag in BLOCK_TAGS:
            self.block_count += 1
            self._flush()
            self._prefix = _PREFIX_TAGS.get(tag, "")

    def handle_startendtag(self, tag: str, attrs) -> None:  # noqa: ANN001
        # <br/>, <hr/> etc. — block boundary, no subtree.
        if self._drop_depth:
            return
        if self._table_depth:
            if tag in BLOCK_TAGS:
                self.block_count += 1
                self._cell_space()
            return
        if tag in BLOCK_TAGS:
            self.block_count += 1
            self._flush()

    def handle_endtag(self, tag: str) -> None:
        if tag == "title":
            self._in_title = False
        elif tag == "h1":
            self._in_h1 = False
        elif tag == "script":
            self._in_ldjson = False
        if tag in self.drop_tags:
            if self._drop_depth:
                self._drop_depth -= 1
            return
        if self._drop_depth:
            return
        if tag == "a" and self._link_depth:
            self._link_depth -= 1
        if self._table_depth:
            if tag == "table":
                self._table_depth -= 1
                if self._table_depth == 0:
                    self._finalize_table()
                else:
                    self._cell_space()
            elif self._table_depth == 1 and tag in ("td", "th"):
                self._close_cell()
            elif self._table_depth == 1 and tag == "tr":
                self._close_cell()
            elif tag in BLOCK_TAGS:
                self._cell_space()
            return
        if tag in BLOCK_TAGS:
            self._flush()

    def handle_data(self, data: str) -> None:
        if self._in_title:
            self.title_parts.append(data)
        if self._in_h1:
            self.h1_parts.append(data)
        if self._in_ldjson:
            self.ldjson.append(data)
        if self._drop_depth or not data:
            return
        if self._table_depth:
            if self._cell_parts is not None:
                self._cell_parts.append(data)
                n = len(data)
                self._table_chars += n
                if self._link_depth:
                    self._table_link_chars += n
            return
        self._parts.append(data)
        n = len(data)
        self._chars += n
        if self._link_depth:
            self._link_chars += n

    def close(self) -> None:  # noqa: D102
        super().close()
        self.finish()



_VALUE_END = r"(?=\s|/?\s*>|\Z)(?!\s*=)"
_TAG_RE = re.compile(
    r"<(/?)([a-zA-Z][a-zA-Z0-9._:-]*)"
    r"((?:\s++[^\s=/>]+(?:\s*=\s*(?:\"[^\"]*\"" + _VALUE_END
    + r"|'[^']*'" + _VALUE_END + r"|[^\s>]*+(?!\s*=)))?)*+)"
    r"\s*+(/?)\s*+>"
)
# Raw-text (CDATA-content) elements: markup/charrefs inert until the end tag,
# matching html.parser's CDATA_CONTENT_ELEMENTS.
_RAWTEXT_END = {
    "script": re.compile(r"</\s*script", re.IGNORECASE),
    "style": re.compile(r"</\s*style", re.IGNORECASE),
}
_LDJSON_ATTRS = (("type", "application/ld+json"),)
_NO_ATTRS: tuple = ()


def _fast_attrs(name: str, attrs_src: str) -> tuple:
    # Only one attribute matters to the block builder: script[type=ld+json].
    if name == "script" and attrs_src and "ld+json" in attrs_src:
        return _LDJSON_ATTRS
    return _NO_ATTRS


def _scan_html(html_text: str, p: _BlockParser) -> None:
    """Tokenize `html_text`, invoking `p`'s handler hooks (hot path)."""
    handle_data = p.handle_data
    n = len(html_text)
    pos = 0
    find = html_text.find
    tag_match = _TAG_RE.match
    while pos < n:
        lt = find("<", pos)
        if lt < 0:
            seg = html_text[pos:]
            handle_data(_unescape(seg) if "&" in seg else seg)
            return
        if lt > pos:
            seg = html_text[pos:lt]
            handle_data(_unescape(seg) if "&" in seg else seg)
        m = tag_match(html_text, lt)
        if m is not None:
            closing, name, attrs_src, selfclose = m.groups()
            name = name.lower()
            pos = m.end()
            if closing:
                p.handle_endtag(name)
            elif selfclose:
                p.handle_startendtag(name, _fast_attrs(name, attrs_src))
            else:
                p.handle_starttag(name, _fast_attrs(name, attrs_src))
                raw_end = _RAWTEXT_END.get(name)
                if raw_end is not None:
                    em = raw_end.search(html_text, pos)
                    if em is None:
                        # EOF inside raw text: stdlib emits the rest as data
                        # and never closes the element — mirror that.
                        if pos < n:
                            handle_data(html_text[pos:])
                        return
                    if em.start() > pos:
                        handle_data(html_text[pos:em.start()])
                    gt = find(">", em.end())
                    pos = n if gt < 0 else gt + 1
                    p.handle_endtag(name)
            continue
        nxt = html_text[lt + 1: lt + 2]
        if nxt == "!":
            if html_text.startswith("<!--", lt):
                end = find("-->", lt + 4)
                pos = n if end < 0 else end + 3
            elif html_text.startswith("<![CDATA[", lt):
                end = find("]]>", lt + 9)
                pos = n if end < 0 else end + 3
            else:  # doctype / marked section
                end = find(">", lt + 1)
                pos = n if end < 0 else end + 1
        elif nxt == "?":  # processing instruction
            end = find(">", lt + 1)
            pos = n if end < 0 else end + 1
        else:
            # '<' that opens no tag is literal text.
            handle_data("<")
            pos = lt + 1



def parse_html_blocks(
    data: bytes,
    drop_tags: frozenset[str] = DROP_TAGS,
    collect_blocks: bool = False,
    engine: str = "fast",
) -> HtmlExtraction:
    """Full extraction pass: returns main text + structure flags.

    ``drop_tags`` narrows/widens the dropped-subtree set (template mining
    passes a minimal set so chrome blocks stay visible); ``collect_blocks``
    additionally returns every collapsed block pre-classification.
    ``engine='stdlib'`` tokenizes via html.parser instead of the fast regex
    scanner — same hooks, kept for differential testing.
    """
    parser = _BlockParser(drop_tags=drop_tags)
    try:
        if engine == "fast":
            _scan_html(decode_payload(data), parser)
            parser.finish()
        else:
            parser.feed(decode_payload(data))
            parser.close()
    except Exception:
        # Tokenizers are tolerant by construction; anything that still
        # escapes is treated as "no further content" (error isolation per
        # `ocr_router.py:296-298` — never abort the document batch).
        parser.finish()

    def _render(raw: str, prefix: object) -> str:
        if prefix is _TABLE_BLOCK:
            return raw  # pre-rendered "| cell | cell |" lines
        text = _collapse_ws(raw)
        if text and prefix:
            text = prefix + text  # markdown li/heading prefix
        return text

    kept: list[str] = []
    kept_pre: list[str] = []
    for raw, chars, link_chars, prefix in parser.blocks:
        text = _render(raw, prefix)
        if not text:
            continue
        density = (link_chars / chars) if chars else 0.0
        if density <= LINK_DENSITY_MAX:
            kept.append(text)
            # same keep decision, format-preserving render: raw text
            # verbatim (tables are pre-rendered lines either way),
            # markdown prefixes still attach
            if prefix is _TABLE_BLOCK:
                kept_pre.append(raw)
            elif prefix:
                kept_pre.append(str(prefix) + raw)
            else:
                kept_pre.append(raw)
    joined = "\n\n".join(kept).strip()
    joined_pre = "\n\n".join(kept_pre).strip()
    all_blocks: tuple[str, ...] = ()
    if collect_blocks:
        all_blocks = tuple(
            t for raw, _c, _l, prefix in parser.blocks
            if (t := _render(raw, prefix))
        )
    has_structure = (
        parser.structure_hits > 0
        or parser.block_count > STRUCTURE_BLOCK_THRESHOLD
    )
    return HtmlExtraction(
        all_blocks=all_blocks,
        text=joined,
        text_pre=joined_pre,
        has_structure=has_structure,
        n_blocks=parser.block_count,
        title=_collapse_ws("".join(parser.title_parts)),
        h1=_collapse_ws("".join(parser.h1_parts)),
        n_links=parser.n_links,
        ldjson=tuple(parser.ldjson),
    )


_UNESCAPE = {
    b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\f",
    b"(": b"(", b")": b")", b"\\": b"\\",
}


def _unescape_pdf_string(raw: bytes) -> str:
    out = bytearray()
    i = 0
    while i < len(raw):
        c = raw[i : i + 1]
        if c == b"\\" and i + 1 < len(raw):
            nxt = raw[i + 1 : i + 2]
            out += _UNESCAPE.get(nxt, nxt)
            i += 2
        else:
            out += c
            i += 1
    return out.decode("utf-8", errors="replace")


# Literal PDF string followed by Tj; handles escaped chars inside.
_TJ_RE = re.compile(rb"\(((?:\\.|[^\\()])*)\)\s*Tj")
