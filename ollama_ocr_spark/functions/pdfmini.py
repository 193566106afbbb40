"""Minimal pure-Python PDF writer + text extractor.

The sandbox has no poppler/pdf2image (which the reference uses at
`/root/reference/ocr_router.py:105-119` to explode PDFs into page images), so
the PDF path is a self-contained subset implementation:

- ``write_pdf(page_texts)`` emits a valid PDF 1.4 file: catalog → pages →
  one page object + one FlateDecode content stream per page, Helvetica font,
  correct xref table. Used by the fixture/corpus generator.
- ``extract_pdf_pages(data)`` parses the object table, walks ``/Kids`` in
  order (preserving the reference's 1..N page order, `ocr_router.py:279`),
  inflates FlateDecode streams via stdlib ``zlib``, and evaluates ``Tj``/
  ``TJ`` text-show operators with PDF string unescaping.

The extractor handles the documented subset (uncompressed or FlateDecode
streams, literal strings); anything else raises ``PdfError`` with a *fixed,
deterministic* message — error strings are part of the golden contract
(`ocr_router.py:298` embeds exception text into output).
"""

from __future__ import annotations

import re
import zlib


class PdfError(ValueError):
    """Deterministic PDF parse failure (message is part of golden output)."""


# Inflated FlateDecode bytes allowed per document: a decompression bomb
# (a few KB of deflate that inflates to GBs) becomes an error row instead
# of a worker OOM. Real page content streams are orders of magnitude
# smaller.
FLATE_CAP = 32 << 20


# --------------------------------------------------------------------------
# Writer (fixtures only — the engine never writes PDFs at runtime)
# --------------------------------------------------------------------------

def _esc_pdf_string(s: str) -> str:
    return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")


def write_pdf(page_texts: list[str], compress: bool = True) -> bytes:
    """Build a minimal, valid, deterministic PDF with one text line per page."""
    objects: list[bytes] = []  # index i → object number i+1

    n_pages = len(page_texts)
    font_num = 3 + 2 * n_pages
    kids = " ".join(f"{3 + 2 * i} 0 R" for i in range(n_pages))
    objects.append(b"<< /Type /Catalog /Pages 2 0 R >>")  # 1
    objects.append(
        f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode()
    )  # 2
    for i, text in enumerate(page_texts):
        page_num = 3 + 2 * i
        content_num = page_num + 1
        objects.append(
            (
                f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
                f"/Resources << /Font << /F1 {font_num} 0 R >> >> "
                f"/Contents {content_num} 0 R >>"
            ).encode()
        )
        stream = (
            f"BT /F1 12 Tf 72 720 Td ({_esc_pdf_string(text)}) Tj ET".encode("utf-8")
        )
        if compress:
            body = zlib.compress(stream, 9)
            head = f"<< /Length {len(body)} /Filter /FlateDecode >>".encode()
        else:
            body = stream
            head = f"<< /Length {len(body)} >>".encode()
        objects.append(head + b"\nstream\n" + body + b"\nendstream")
    objects.append(
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
    )  # font

    out = bytearray(b"%PDF-1.4\n")
    offsets = [0]
    for i, obj in enumerate(objects, 1):
        offsets.append(len(out))
        out += f"{i} 0 obj\n".encode() + obj + b"\nendobj\n"
    xref_at = len(out)
    out += f"xref\n0 {len(objects) + 1}\n".encode()
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += f"{off:010d} 00000 n \n".encode()
    out += (
        f"trailer\n<< /Size {len(objects) + 1} /Root 1 0 R >>\n"
        f"startxref\n{xref_at}\n%%EOF\n"
    ).encode()
    return bytes(out)


# --------------------------------------------------------------------------
# Extractor
# --------------------------------------------------------------------------

_OBJ_RE = re.compile(rb"(\d+)\s+0\s+obj(.*?)endobj", re.DOTALL)
_KIDS_RE = re.compile(rb"/Kids\s*\[(.*?)\]", re.DOTALL)
_REF_RE = re.compile(rb"(\d+)\s+0\s+R")
_CONTENTS_RE = re.compile(rb"/Contents\s+(\d+)\s+0\s+R")
_STREAM_RE = re.compile(rb"stream\r?\n(.*?)\r?\nendstream", re.DOTALL)
# Literal PDF string followed by Tj; handles escaped chars inside. Runs of
# plain bytes are read possessively: a string has one way to match, so no
# backtracking is lost, and the match no longer steps byte by byte.
_TJ_RE = re.compile(rb"\(((?:[^\\()]++|\\.)*+)\)\s*Tj")

_UNESCAPE = {
    b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\f",
    b"(": b"(", b")": b")", b"\\": b"\\",
}
# A backslash and the byte after it, read left to right: an escape pair
# never overlaps the next one, and a trailing lone backslash stays.
_ESCAPE_RE = re.compile(rb"\\(.)", re.DOTALL)


def _unescape_byte(m: re.Match) -> bytes:
    # an unknown escape drops its backslash
    return _UNESCAPE.get(m.group(1), m.group(1))


def _unescape_pdf_string(raw: bytes) -> str:
    if b"\\" in raw:
        raw = _ESCAPE_RE.sub(_unescape_byte, raw)
    return raw.decode("utf-8", errors="replace")


def extract_pdf_pages(data: bytes) -> list[str]:
    """Return the ordered list of per-page texts.

    Raises :class:`PdfError` with a fixed message on malformed input —
    messages are embedded into golden output, so they must never contain
    library internals or addresses (SURVEY.md §7.3 hard part 3).
    """
    if not data.startswith(b"%PDF"):
        raise PdfError("not a pdf")
    objects: dict[int, bytes] = {
        int(m.group(1)): m.group(2) for m in _OBJ_RE.finditer(data)
    }
    if not objects:
        raise PdfError("malformed pdf: no objects")

    # Find the Pages node (the one with /Kids). Walk kids in declared order.
    kid_nums: list[int] = []
    for body in objects.values():
        if b"/Type" in body and b"/Pages" in body:
            m = _KIDS_RE.search(body)
            if m:
                kid_nums = [int(r.group(1)) for r in _REF_RE.finditer(m.group(1))]
                break
    if not kid_nums:
        raise PdfError("malformed pdf: no pages")

    pages: list[str] = []
    inflate_budget = FLATE_CAP
    for num in kid_nums:
        body = objects.get(num)
        if body is None:
            raise PdfError("malformed pdf: missing page object")
        cm = _CONTENTS_RE.search(body)
        if not cm:
            raise PdfError("malformed pdf: page without contents")
        content_obj = objects.get(int(cm.group(1)))
        if content_obj is None:
            raise PdfError("malformed pdf: missing content stream")
        sm = _STREAM_RE.search(content_obj)
        if not sm:
            raise PdfError("malformed pdf: missing stream data")
        stream = sm.group(1)
        if b"/FlateDecode" in content_obj:
            inflater = zlib.decompressobj()
            try:
                stream = inflater.decompress(stream, inflate_budget + 1)
            except zlib.error as exc:
                raise PdfError("malformed pdf: bad flate stream") from exc
            if len(stream) > inflate_budget:
                raise PdfError("pdf flate output exceeds cap")
            if not inflater.eof:  # truncated, as zlib.decompress rejects
                raise PdfError("malformed pdf: bad flate stream")
            inflate_budget -= len(stream)
        parts = [_unescape_pdf_string(m.group(1)) for m in _TJ_RE.finditer(stream)]
        pages.append("".join(parts))
    return pages


def pdf_page_count(data: bytes) -> int:
    """Cheap page-count probe from the /Count entry (header-scan analog).

    Fixes the reference's O(all pages) probe that converts every page just to
    count them (`/root/reference/ollama_cloud_ocr.py:113-123`).
    """
    m = re.search(rb"/Count\s+(\d+)", data)
    if not m:
        raise PdfError("malformed pdf: no page count")
    return int(m.group(1))
