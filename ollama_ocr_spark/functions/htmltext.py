"""HTML main-content extraction: block tree + text/link-density scoring.

This is the Spark-native analog of the reference's "printed OCR" path
(`/root/reference/ocr_router.py:76-86`): instead of Tesseract over a
binarized image, we strip boilerplate from raw HTML bytes with a
Boilerpipe/trafilatura-style block classifier over a regex tokenizer that
reads tags the way stdlib ``html.parser`` does (the sandbox has no
lxml/selectolax; the algorithm is the published text-density +
link-density heuristic, not a port of any library).

Semantics (deterministic, pure):

1. decode bytes as UTF-8 (``errors='replace'`` — never raises),
2. build a flat list of text *blocks*: every block-level element opens a new
   block; inline elements accumulate text into the current block,
3. drop entire subtrees of known-boilerplate containers
   (nav/header/footer/aside/form/script/style/head/title/...),
4. for each surviving block, collapse whitespace runs to single spaces
   (standard HTML whitespace semantics) and compute link density
   (chars inside <a> / total chars),
5. keep blocks with non-empty text and link density <= LINK_DENSITY_MAX,
6. join kept blocks with "\n\n" and apply Python ``str.strip()`` —
   mirroring the reference's final ``.strip()`` (`ocr_router.py:301`).

The parser also reports *structure markers* (presence of article/main/table,
block-element count) used by the router's printed-vs-fallback heuristic —
the analog of the reference's HoughLinesP straight-line count
(`ocr_router.py:160-170`: >15 lines → printed).
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from functools import lru_cache
from html import unescape as _unescape
from html.parser import HTMLParser

# Elements that start a new text block.
BLOCK_TAGS = frozenset(
    {
        "p", "div", "article", "section", "main", "li", "ul", "ol",
        "h1", "h2", "h3", "h4", "h5", "h6", "td", "th", "tr", "table",
        "pre", "blockquote", "figcaption", "dd", "dt", "br", "hr",
    }
)

# Entire subtree is boilerplate / non-content.
DROP_TAGS = frozenset(
    {
        "script", "style", "noscript", "template", "nav", "header",
        "footer", "aside", "form", "head", "title", "svg", "iframe",
        "button", "select", "option",
    }
)

# Presence of any of these marks "structured" layout → printed class
# (analog of the reference's many-straight-lines heuristic).
STRUCTURE_TAGS = frozenset({"article", "main", "table"})

# Markdown-ish block serialization: the extractor renders structural
# elements the way the reference's structured modes render documents
# (README.md "markdown output" contract) — list items get a "- " prefix,
# headings get "#"-runs, and a whole <table> becomes ONE block of
# "| cell | cell |" lines. Prefixes attach at block flush; tables collect
# rows and bypass whitespace collapse (their newlines are content).
_PREFIX_TAGS = {
    "li": "- ",
    "h1": "# ", "h2": "## ", "h3": "### ",
    "h4": "#### ", "h5": "##### ", "h6": "###### ",
}
_TABLE_BLOCK = object()  # sentinel marking a pre-rendered table block

# Block-count threshold for the structure heuristic, mirroring the
# reference's `len(lines) > 15 → printed` (`ocr_router.py:166`).
STRUCTURE_BLOCK_THRESHOLD = 15

LINK_DENSITY_MAX = 0.33


@dataclass
class HtmlExtraction:
    text: str
    has_structure: bool
    n_blocks: int
    # Format-preserving render of the SAME kept blocks (reference T7,
    # `ollama_cloud_ocr.py:310-379` "maintain original formatting"):
    # intra-block whitespace/newlines kept verbatim instead of collapsed —
    # the extraction used for the handwriting-routed class. Computed in
    # the same pass (block keep/drop decisions are shared; only the
    # rendering differs).
    text_pre: str = ""
    # metadata captured in the SAME parse pass (the reference's
    # "encode once, run N analysis steps" optimization —
    # `ollama_cloud_ocr.py:541-599`): never re-parse per mode.
    title: str = ""
    h1: str = ""
    n_links: int = 0
    ldjson: tuple[str, ...] = ()
    # populated only when parse_html_blocks(collect_blocks=True): every
    # block's collapsed text BEFORE the keep/drop classification — the
    # input to cross-document template mining.
    all_blocks: tuple[str, ...] = ()


# ---------------------------------------------------------------------------
# Tokenizers. Both emit one flat token list of (tag, attrs, data) triples,
# `re.split`'s layout of the tags behind one leading no-op tag:
#   tag    the lower-cased tag name, "/"-prefixed for an end tag; "" is a
#          no-op tag (it starts the list and separates two data chunks)
#   attrs  ends in "/" iff a start tag self-closes; holds "ld+json" on a
#          JSON-LD <script>
#   data   the text after the tag in source form: character references
#          are decoded by the builder, so a tokenizer whose text must not
#          be decoded again (raw text, html.parser's data) writes each '&'
#          as '&amp;' ("" if none)
# `_build_blocks` is the one block builder that reads it. The fast
# tokenizer is the engine's; the stdlib one (`html.parser`) is kept for
# differential testing.
# ---------------------------------------------------------------------------

# The exact tag grammar: optional '/', name, quoted/unquoted attrs, optional
# '/'. Linear time on any input: the attribute list and the whitespace runs
# are possessive, so an unclosed tag is never re-split (a quoted value also
# matches the unquoted branch: n attributes gave 2^n splits). The lookaheads
# keep the splits backtracking used to find: a quoted value must end at
# whitespace, '>', '/>' or EOF (else `a="x"y` is one unquoted value), and a
# value followed by ` =` is empty (`a= b =` is two attributes). A quoted
# value holding whitespace or '>' is no longer re-read as a shorter
# unquoted one when the tag then fails; html.parser does not do that either.
_VALUE_END = r"(?=\s|/?\s*>|\Z)(?!\s*=)"
_TAG_RE = re.compile(
    r"<(/?)([a-zA-Z][a-zA-Z0-9._:-]*)"
    r"((?:\s++[^\s=/>]+(?:\s*=\s*(?:\"[^\"]*\"" + _VALUE_END
    + r"|'[^']*'" + _VALUE_END + r"|[^\s>]*+(?!\s*=)))?)*+)"
    r"\s*+(/?)\s*+>"
)
# The cheap tag grammar, a strict subset of _TAG_RE's language on which
# _TAG_RE matches the same span with the same name, closing and
# self-closing '/': a lower-case name, attribute names and values that hold
# no '<', '>', quote or '=', values right after '=', and no unquoted value
# that ends in '/' (_TAG_RE reads `<br class=x/>` as a start tag with the
# value `x/`, so that tag is left to the exact grammar). Group 2 is the
# attributes plus the optional self-closing '/', so a tag spans
# 2 + len(groups) characters and ends in '/>' iff group 2 ends in '/'. No
# part of a cheap tag matches '<' or '>', so each attempt stops at the
# next one: the split is linear.
_CHEAP_TAG_RE = re.compile(
    r"<(/?[a-z][a-z0-9._:-]*+)"
    r"((?:\s++[^\s\"'<>/=]++"
    r"(?:=(?:\"[^\"<>]*+\"|'[^'<>]*+'|[^\s\"'<>=]++(?<!/)))?)*+\s*+/?)>"
)
# Raw-text (CDATA-content) elements: markup/charrefs inert until the end tag,
# matching html.parser's CDATA_CONTENT_ELEMENTS.
_RAWTEXT_END = {
    "script": re.compile(r"</\s*script", re.IGNORECASE),
    "style": re.compile(r"</\s*style", re.IGNORECASE),
}


def _put_data(toks: list, text: str) -> None:
    """Append a data chunk, keeping it apart from the one before it."""
    if toks[-1]:
        toks += ("", "", text)
    else:
        toks[-1] = text


def _raw_text(html_text: str, pos: int, name: str, toks: list) -> int:
    """Emit the content of raw-text element ``name`` (its start tag ends at
    ``pos``) verbatim and its end tag; returns the offset after the end
    tag."""
    em = _RAWTEXT_END[name].search(html_text, pos)
    if em is None:
        # EOF inside raw text: stdlib emits the rest as data and never
        # closes the element — mirror that.
        if pos < len(html_text):
            _put_data(toks, html_text[pos:].replace("&", "&amp;"))
        return len(html_text)
    if em.start() > pos:
        _put_data(toks, html_text[pos:em.start()].replace("&", "&amp;"))
    gt = html_text.find(">", em.end())
    toks += ("/" + name, "", "")
    return len(html_text) if gt < 0 else gt + 1


def _exact_tokens(html_text: str, pos: int, stop: int, last_gt: int,
                  toks: list) -> int:
    """Tokenize from ``pos`` with the exact grammar until every '<' before
    ``stop`` is read; returns where it stopped (``stop`` or past it)."""
    find = html_text.find
    n = len(html_text)
    while pos < stop:
        lt = find("<", pos, stop)
        seg = html_text[pos:stop if lt < 0 else lt]
        if seg:
            _put_data(toks, seg)
        if lt < 0:
            return stop
        nxt = html_text[lt + 1: lt + 2]
        # Every _TAG_RE match ends in '>', so a '<' past the last '>' opens
        # no tag: skipping the match keeps a flood of unclosed tags linear.
        m = None
        if lt < last_gt and nxt not in "!?":
            m = _TAG_RE.match(html_text, lt)
        if m is not None:
            closing, name, attrs_src, selfclose = m.groups()
            name = name.lower()
            pos = m.end()
            if closing:
                toks += ("/" + name, "", "")
            else:
                toks += (name, selfclose or attrs_src.rstrip("/"), "")
                if not selfclose and name in _RAWTEXT_END:
                    pos = _raw_text(html_text, pos, name, toks)
            continue
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
            _put_data(toks, "<")
            pos = lt + 1
    return pos


def _fast_tokens(html_text: str) -> list:
    """Tokenize ``html_text`` (hot path): the same tokens as reading it
    with the exact grammar from the start.

    One ``_CHEAP_TAG_RE.split`` reads the common tags. The exact grammar
    reads from each data piece that still holds a '<' (comments, doctype,
    odd attributes, a literal '<') and through each raw-text start tag,
    and may read past later pieces. A '>' ends every exact step that is
    not a literal '<', and a cheap tag holds one '>' (its last
    character), so the exact grammar stops at a piece boundary or inside a
    data piece; reading resumes there.
    """
    # pieces[i] (i % 3 == 0) is a data piece, pieces[i + 1: i + 3] the
    # groups of the tag after it.
    pieces = _CHEAP_TAG_RE.split(html_text)
    # hard: the data pieces the exact grammar reads from; raw: those
    # followed by a raw-text start tag.
    raw = {i for i in _tag_spots(pieces[1::3], _RAWTEXT_END)
           if pieces[i + 2][-1:] != "/"}
    hard = set(raw)
    left = html_text.count("<") - len(pieces) // 3  # '<'s in data pieces
    i = 0
    while left:
        k = pieces[i].count("<")
        if k:
            hard.add(i)
            left -= k
        i += 3
    toks = ["", ""]
    if not hard:
        toks += pieces
        return toks
    last_gt = html_text.rfind(">")
    toks.append("")
    done = pos = 0  # pieces before `done` are read; pieces[done] starts at pos
    for i in sorted(hard):
        if i < done:
            continue  # the exact grammar read past it
        raw_name = None
        if i in raw and "<" not in pieces[i]:
            raw_name = pieces[i + 1]  # a cheap raw-text start tag
            i += 3
        if i > done:
            _put_pieces(toks, pieces[done:i])
            toks.append("")
            pos += sum(map(len, pieces[done:i])) + 2 * ((i - done) // 3)
        start = pos
        if raw_name:
            pos = _raw_text(html_text, pos, raw_name, toks)
        while True:
            stop = start + len(pieces[i]) + (i in raw)
            if pos < stop:
                pos = _exact_tokens(html_text, pos, stop, last_gt, toks)
            i, start = _seek(pieces, i, start, pos)
            if pos == start + len(pieces[i]) and i not in raw:
                break
        pieces[i] = ""
        done = i
    _put_pieces(toks, pieces[done:])
    return toks


def _tag_spots(tags: list, names) -> list[int]:  # noqa: ANN001
    """Indices of the data pieces before each tag in ``names``."""
    spots = []
    for name in names:
        k = -1
        for _ in range(tags.count(name)):
            k = tags.index(name, k + 1)
            spots.append(3 * k)
    return spots


def _put_pieces(toks: list, seg: list) -> None:
    """Append split pieces that start with a data piece."""
    if seg[0]:
        _put_data(toks, seg[0])
    toks += seg[1:]


def _seek(pieces: list, i: int, start: int, pos: int) -> tuple[int, int]:
    """Data piece ``i`` starts at offset ``start`` <= ``pos``; returns the
    index and start offset of the data piece that holds ``pos``."""
    while pos > start + len(pieces[i]):
        start += len(pieces[i]) + 2 + len(pieces[i + 1]) + len(pieces[i + 2])
        i += 3
    return i, start


class _StdlibTokens(HTMLParser):
    """``html.parser`` as a tokenizer: its hooks append the same tokens."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.toks = ["", "", ""]

    def handle_starttag(self, tag: str, attrs) -> None:  # noqa: ANN001
        ld = tag == "script" and ("type", "application/ld+json") in attrs
        self.toks += (tag, "ld+json" if ld else "", "")

    def handle_startendtag(self, tag: str, attrs) -> None:  # noqa: ANN001
        self.toks += (tag, "/", "")

    def handle_endtag(self, tag: str) -> None:
        self.toks += ("/" + tag, "", "")

    def handle_data(self, data: str) -> None:
        if data:
            _put_data(self.toks, data.replace("&", "&amp;"))


# ---------------------------------------------------------------------------
# Block builder
# ---------------------------------------------------------------------------

# Per-tag actions, as bit flags; a tag with none is a no-op everywhere.
(_F_END, _F_A, _F_TITLE, _F_H1, _F_SCRIPT, _F_DROP, _F_STRUCT, _F_TABLE,
 _F_BLOCK, _F_CELL, _F_ROW) = (1 << k for k in range(11))
# Metadata side channels, read even inside dropped subtrees.
_F_META = _F_A | _F_TITLE | _F_H1 | _F_SCRIPT


@lru_cache(maxsize=8)
def _tag_actions(drop_tags: frozenset[str]
                 ) -> tuple[dict[str, int], dict[str, int]]:
    """Flags per token tag for this drop set (start tags by name, end tags
    by "/" + name, with _F_END), and the subset that does something inside
    a dropped subtree: drop tags, title/h1/JSON-LD and the <a> count."""
    named = {"a": _F_A, "title": _F_TITLE, "h1": _F_H1, "script": _F_SCRIPT,
             "table": _F_TABLE, "td": _F_CELL, "th": _F_CELL, "tr": _F_ROW}
    acts: dict[str, int] = {}
    for name in BLOCK_TAGS | drop_tags | STRUCTURE_TAGS | named.keys():
        acts[name] = (
            named.get(name, 0)
            | (_F_DROP if name in drop_tags else 0)
            | (_F_STRUCT if name in STRUCTURE_TAGS else 0)
            | (_F_BLOCK if name in BLOCK_TAGS else 0)
        )
        acts["/" + name] = acts[name] | _F_END
    dropped = {tag: f for tag, f in acts.items()
               if f & (_F_DROP | _F_TITLE | _F_H1 | _F_SCRIPT)
               or f == _F_A}
    return acts, dropped


class _Table:
    """One top-level ``<table>``: its cells, rendered at its end as ONE
    block of ``| cell | cell |`` lines (nested tables are flattened into
    the enclosing cell)."""

    __slots__ = ("depth", "rows", "cell", "chars", "link_chars")

    def __init__(self) -> None:
        self.depth = 1
        self.rows: list[list[str]] = []
        self.cell: list[str] | None = None
        self.chars = 0
        self.link_chars = 0

    def close_cell(self) -> None:
        if self.cell is not None:
            self.rows[-1].append(" ".join("".join(self.cell).split()))
            self.cell = None

    def open_cell(self) -> None:
        self.close_cell()
        if not self.rows:
            self.rows.append([])
        self.cell = []

    def space(self) -> None:
        if self.cell is not None:
            self.cell.append(" ")

    def block(self) -> tuple | None:
        self.close_cell()
        lines = ["| " + " | ".join(cells) + " |" for row in self.rows
                 if (cells := [c for c in row if c])]
        if not lines:
            return None
        return ("\n".join(lines), self.chars, self.link_chars, _TABLE_BLOCK)


@dataclass
class _Built:
    # (raw_text, chars, link_chars, prefix) — prefix is "" / a markdown
    # prefix / the _TABLE_BLOCK sentinel (raw already rendered).
    blocks: list[tuple[str, int, int, object]]
    structure_hits: int
    block_count: int
    title_parts: list[str]
    h1_parts: list[str]
    ldjson: list[str]
    n_links: int


def _build_blocks(toks: list, drop_tags: frozenset[str]) -> _Built:
    """The one block builder: blocks and metadata from a token list.

    A block-level tag ends the current block (inline tags accumulate into
    it), a drop tag's subtree adds nothing, and a top-level table collects
    its cells into one pre-rendered block. Title, first h1, JSON-LD and
    the link count are read even inside dropped subtrees.
    """
    acts, dropped = _tag_actions(drop_tags)
    blocks: list[tuple[str, int, int, object]] = []
    parts: list[str] = []
    chars = link_chars = 0
    prefix = ""
    drop = link = 0
    tbl: _Table | None = None
    structure_hits = block_count = n_links = 0
    title_parts: list[str] = []
    h1_parts: list[str] = []
    ldjson: list[str] = []
    in_title = in_h1 = in_ld = capture = False
    get = acts.get
    get_dropped = dropped.get
    it = iter(toks)
    for tag, attrs, data in zip(it, it, it):
        if drop:
            f = get_dropped(tag)
            if f == _F_A:  # inside a dropped subtree <a> only counts
                if attrs[-1:] != "/":
                    n_links += 1
                f = 0
            if not f:
                if data and capture:
                    if "&" in data:
                        data = _unescape(data)
                    if in_title:
                        title_parts.append(data)
                    if in_h1:
                        h1_parts.append(data)
                    if in_ld:
                        ldjson.append(data)
                continue
        else:
            f = get(tag)
        if f:
            cut = None  # the prefix of the next block, if this tag ends one
            if f & _F_END:
                if f & _F_META:
                    if f & _F_TITLE:
                        in_title = False
                    elif f & _F_H1:
                        in_h1 = False
                    elif f & _F_SCRIPT:
                        in_ld = False
                    capture = in_title or in_h1 or in_ld
                if f & _F_DROP:
                    if drop:
                        drop -= 1
                elif not drop:
                    if f & _F_A and link:
                        link -= 1
                    if tbl is None:
                        if f & _F_BLOCK:
                            cut = ""
                    elif f & _F_TABLE:
                        tbl.depth -= 1
                        if tbl.depth:
                            tbl.space()
                        else:
                            block = tbl.block()
                            if block is not None:
                                blocks.append(block)
                            tbl = None
                    elif tbl.depth == 1 and f & (_F_CELL | _F_ROW):
                        tbl.close_cell()
                    elif f & _F_BLOCK:
                        tbl.space()
            elif attrs[-1:] == "/":
                # <br/>, <hr/> etc. — block boundary, no subtree
                if not drop and f & _F_BLOCK:
                    block_count += 1
                    if tbl is None:
                        cut = ""
                    else:
                        tbl.space()
            else:
                if f & _F_META:
                    if f & _F_A:
                        n_links += 1
                    if f & _F_TITLE:
                        in_title = True
                    elif f & _F_H1:
                        in_h1 = in_h1 or not h1_parts
                    elif f & _F_SCRIPT:
                        in_ld = in_ld or "ld+json" in attrs
                    capture = in_title or in_h1 or in_ld
                if f & _F_DROP:
                    drop += 1
                elif not drop:
                    if f & _F_STRUCT:
                        structure_hits += 1
                    if f & _F_A:
                        link += 1
                    if tbl is None:
                        if f & _F_BLOCK:
                            block_count += 1
                            if f & _F_TABLE:
                                tbl = _Table()
                                cut = ""
                            else:
                                cut = _PREFIX_TAGS.get(tag, "")
                    else:
                        if f & _F_TABLE:
                            tbl.depth += 1
                            tbl.space()
                        elif tbl.depth == 1 and f & _F_ROW:
                            tbl.close_cell()
                            tbl.rows.append([])
                        elif tbl.depth == 1 and f & _F_CELL:
                            tbl.open_cell()
                        elif f & _F_BLOCK:
                            tbl.space()
                        if f & _F_BLOCK:
                            block_count += 1
            if cut is not None:
                if parts:
                    blocks.append(("".join(parts), chars, link_chars, prefix))
                    parts = []
                    chars = link_chars = 0
                prefix = cut
        if data:
            if "&" in data:
                data = _unescape(data)
            if capture:
                if in_title:
                    title_parts.append(data)
                if in_h1:
                    h1_parts.append(data)
                if in_ld:
                    ldjson.append(data)
            if drop:
                continue
            if tbl is None:
                parts.append(data)
                chars += len(data)
                if link:
                    link_chars += len(data)
            elif tbl.cell is not None:
                tbl.cell.append(data)
                tbl.chars += len(data)
                if link:
                    tbl.link_chars += len(data)
    # end of document: finalize an unterminated table, flush
    if tbl is not None:
        block = tbl.block()
        if block is not None:
            blocks.append(block)
    if parts:
        blocks.append(("".join(parts), chars, link_chars, prefix))
    return _Built(blocks, structure_hits, block_count, title_parts,
                  h1_parts, ldjson, n_links)


def _collapse_ws(raw: str) -> str:
    """Collapse whitespace runs to single spaces (HTML rendering semantics).

    Uses ``str.split()`` so *all* Unicode whitespace collapses, matching
    Python ``str.strip()`` semantics used by the reference for its final
    strip (`ocr_router.py:301`).
    """
    return " ".join(raw.split())


# Charset declaration inside the first 1KB: <meta charset=X> or the legacy
# http-equiv content="text/html; charset=X" form.
_CHARSET_RE = re.compile(
    rb"""<meta[^>]+charset\s*=\s*["']?([A-Za-z0-9_.:-]+)""", re.IGNORECASE
)
# Encodings we honor when declared; everything else falls back to UTF-8
# (errors='replace' keeps the decode total). Names are canonical lowercase.
_KNOWN_CHARSETS = frozenset({
    "utf-8", "utf8", "latin-1", "latin1", "iso-8859-1", "iso8859-1",
    "windows-1252", "cp1252", "ascii", "us-ascii",
})


def decode_payload(data: bytes) -> str:
    """Deterministic byte→str decode; never raises.

    Real Common-Crawl captures declare charsets: honor UTF BOMs first, then
    a ``<meta charset>`` declaration in the first 1KB (the whitelist keeps
    decoding deterministic — an unknown or lying declaration degrades to
    UTF-8-replace instead of raising).
    """
    if data.startswith(b"\xef\xbb\xbf"):
        return data[3:].decode("utf-8", errors="replace")
    if data.startswith(b"\xff\xfe"):
        return data[2:].decode("utf-16-le", errors="replace")
    if data.startswith(b"\xfe\xff"):
        return data[2:].decode("utf-16-be", errors="replace")
    m = _CHARSET_RE.search(data[:1024])
    if m:
        enc = m.group(1).decode("ascii", errors="replace").lower()
        if enc in _KNOWN_CHARSETS and not enc.startswith(("utf-8", "utf8")):
            return data.decode(enc, errors="replace")
    return data.decode("utf-8", errors="replace")


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
    tokenizer — same token list, same block builder; kept for
    differential testing.
    """
    html_text = decode_payload(data)
    if engine == "fast":
        toks = _fast_tokens(html_text)
    else:
        parser = _StdlibTokens()
        toks = parser.toks
        try:
            parser.feed(html_text)
            parser.close()
        except Exception:
            # html.parser is tolerant by construction; anything that still
            # escapes is treated as "no further content" (error isolation
            # per `ocr_router.py:296-298` — never abort the document batch).
            pass
    built = _build_blocks(toks, drop_tags)

    kept: list[str] = []
    kept_pre: list[str] = []
    all_blocks: list[str] = []
    for raw, chars, link_chars, prefix in built.blocks:
        if prefix is _TABLE_BLOCK:
            text = raw  # pre-rendered "| cell | cell |" lines
        else:
            text = _collapse_ws(raw)
            if text and prefix:
                text = prefix + text  # markdown li/heading prefix
        if not text:
            continue
        if collect_blocks:
            all_blocks.append(text)
        if chars and link_chars / chars > LINK_DENSITY_MAX:
            continue
        kept.append(text)
        # same keep decision, format-preserving render: raw text verbatim
        # (tables are pre-rendered lines either way), markdown prefixes
        # still attach
        kept_pre.append(raw if prefix is _TABLE_BLOCK else prefix + raw)
    joined = "\n\n".join(kept).strip()
    joined_pre = "\n\n".join(kept_pre).strip()
    has_structure = (
        built.structure_hits > 0
        or built.block_count > STRUCTURE_BLOCK_THRESHOLD
    )
    return HtmlExtraction(
        all_blocks=tuple(all_blocks),
        text=joined,
        text_pre=joined_pre,
        has_structure=has_structure,
        n_blocks=built.block_count,
        title=_collapse_ws("".join(built.title_parts)),
        h1=_collapse_ws("".join(built.h1_parts)),
        n_links=built.n_links,
        ldjson=tuple(built.ldjson),
    )


def extract_html_main_text(data: bytes) -> str:
    """Convenience wrapper returning only the extracted main text."""
    return parse_html_blocks(data).text
