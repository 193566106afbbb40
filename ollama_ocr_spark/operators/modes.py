"""Analysis modes (reference T8-T10, `ollama_cloud_ocr.py:381-599`) as
Arrow-vectorized struct-output stages.

The reference's cloud client re-encodes and re-sends the image per mode;
its one optimization is encoding once for multi-step analysis
(`ollama_cloud_ocr.py:558`). Here the analog is structural: the HTML is
parsed ONCE per document (``parse_html_blocks`` captures text, title, h1,
link counts and JSON-LD in a single pass) and every mode reads from that
parse — Catalyst can't CSE across Python UDF calls, so the sharing lives
inside the kernel (SURVEY.md §4).

- :func:`structured_stage`  — T8: schema.org JSON-LD receipt fields
  (store_name, date, total_cents, n_items), the web-native analog of the
  reference's receipt prompt schema (`ollama_cloud_ocr.py:403`).
- :func:`analyze_stage`     — T9: document metadata (title, h1, block/link
  stats, structure class).
- :func:`multi_step_stage`  — T10: one pass → all of text + metadata +
  structured fields, with per-step error capture.
"""

from __future__ import annotations

import json

import pyarrow as pa
from pyspark.sql import DataFrame

from ..functions.htmltext import parse_html_blocks
from ..functions.router import sniff_payload
from .extract import map_rows


def _first_typed(ext, ld_type: str) -> dict | None:
    for raw in ext.ldjson:
        try:
            obj = json.loads(raw)
        except ValueError:
            continue
        if isinstance(obj, dict) and obj.get("@type") == ld_type:
            return obj
    return None


# Per --data-type field schemas (reference `ollama_cloud_ocr.py:401-414`,
# CLI choices `:694-695`): JSON-LD @type to match + typed output columns.
_STRUCTURED_TYPES = {
    "receipt": ("Receipt", [
        ("store_name", pa.string()),
        ("date", pa.string()),
        ("total_cents", pa.int64()),
        ("n_items", pa.int32()),
    ]),
    "form": ("Form", [
        ("form_name", pa.string()),
        ("n_fields", pa.int32()),
        ("contact_email", pa.string()),
    ]),
    "price_tag": ("PriceTag", [
        ("product_name", pa.string()),
        ("price_cents", pa.int64()),
        ("sku", pa.string()),
    ]),
}


def _fits(value, t: pa.DataType) -> bool:
    """A JSON-LD value fits a string column only as a ``str``, and an int
    column only as an in-range ``int`` (not a bool, float or string)."""
    if pa.types.is_string(t):
        return isinstance(value, str)
    bound = 1 << (t.bit_width - 1)
    return (isinstance(value, int) and not isinstance(value, bool)
            and -bound <= value < bound)


def _typed_fields(rec: dict, fields) -> tuple[list, list[str]]:
    """``rec``'s values for ``fields`` and the error messages of those that
    do not fit their column (each becomes NULL): one hostile value must not
    fail the whole Arrow batch."""
    values, errors = [], []
    for name, t in fields:
        v = rec.get(name)
        if v is not None and not _fits(v, t):
            v = None
            errors.append(f"invalid structured field: {name}")
        values.append(v)
    return values, errors


def structured_stage(pages: DataFrame,
                     data_type: str = "receipt") -> DataFrame:
    """Extract schema.org JSON-LD fields for one ``data_type``
    (receipt/form/price_tag — the reference's ``--data-type`` table,
    `ollama_cloud_ocr.py:401-414`). Pages without that type yield an
    error row ('no structured data found'), mirroring the reference's
    unparseable-response path. A field value of the wrong JSON type is
    NULL, with ``invalid structured field: <name>`` in ``error``."""
    if data_type not in _STRUCTURED_TYPES:
        raise ValueError(f"Unsupported data type: {data_type}")
    ld_type, fields = _STRUCTURED_TYPES[data_type]
    nulls = (None,) * len(fields)

    def _structured_row(payload: bytes | None) -> tuple[tuple]:
        kind, _err = sniff_payload(payload)
        if kind != "html":
            return ((*nulls, "unsupported payload for structured mode"),)
        rec = _first_typed(parse_html_blocks(payload), ld_type)
        if rec is None:
            return ((*nulls, "no structured data found"),)
        values, errors = _typed_fields(rec, fields)
        return ((*values, "; ".join(errors) or None),)

    schema = pa.schema([("url", pa.string()), *fields, ("error", pa.string())])
    return map_rows(pages, _structured_row, ("html",), schema, keep=("url",))


_ANALYZE_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("title", pa.string()),
    ("h1", pa.string()),
    ("n_blocks", pa.int32()),
    ("n_links", pa.int32()),
    ("has_structure", pa.bool_()),
    ("doc_class", pa.string()),
])


def _analyze_row(payload: bytes | None) -> tuple[tuple]:
    kind, _ = sniff_payload(payload)
    if kind != "html":
        return (("", "", 0, 0, False, kind or "error"),)
    ext = parse_html_blocks(payload)
    return ((ext.title, ext.h1, ext.n_blocks, ext.n_links, ext.has_structure,
             "structured" if ext.has_structure else "plain"),)


def analyze_stage(pages: DataFrame) -> DataFrame:
    """Document-metadata mode (doc type, title, headings, layout stats)."""
    return map_rows(pages, _analyze_row, ("html",), _ANALYZE_SCHEMA,
                    keep=("url",))


_MULTI_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("text", pa.string()),
    ("chars", pa.int64()),
    ("title", pa.string()),
    ("has_receipt", pa.bool_()),
    ("total_cents", pa.int64()),
    ("step_errors", pa.string()),
])
_RECEIPT_TOTAL = [("total_cents", pa.int64())]


def _multi_row(payload: bytes | None) -> tuple[tuple]:
    errors: list[str] = []
    kind, err = sniff_payload(payload)
    text, title, rec, total = "", "", None, None
    if kind == "html":
        # ONE parse feeds every step (per-step error capture as in
        # `ollama_cloud_ocr.py:574-597`)
        ext = parse_html_blocks(payload)
        text, title = ext.text, ext.title
        rec = _first_typed(ext, "Receipt")
        if rec is not None:
            (total,), bad = _typed_fields(rec, _RECEIPT_TOTAL)
            errors.extend(f"receipt: {e}" for e in bad)
    elif kind == "text":
        # plain-text capture: the text step succeeds, the
        # structure-dependent steps are simply absent
        text = payload.decode("utf-8", errors="replace").strip()
    else:
        errors.append(f"text: {err or 'non-html payload'}")
    return ((text, len(text), title, rec is not None, total,
             "; ".join(errors) or None),)


def multi_step_stage(pages: DataFrame) -> DataFrame:
    """All analysis steps in one parse pass (T10). The url passes through;
    ``text`` is computed (the input pages' own ``text`` column is not
    read)."""
    return map_rows(pages, _multi_row, ("html",), _MULTI_SCHEMA,
                    keep=("url",))
