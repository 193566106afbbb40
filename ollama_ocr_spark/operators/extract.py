"""Arrow-vectorized extraction + corpus-synthesis stages (``mapInArrow``).

The whole router+extractor (reference operators R1-R3, T1-T5 in SURVEY.md §2)
runs as ONE ``mapInArrow`` stage: the JVM ships Arrow record batches to the
Python worker, the per-document kernels run batch-at-a-time, and results go
back as Arrow — no row-at-a-time serialization, no per-row Python at the
DataFrame level (parsers and regexes are compiled once per module import,
i.e. once per worker process — the warm-engine-reuse semantic of
`/root/reference/ocr_router.py:389`).

Every per-document payload stage of the engine (here, ``modes`` and
``media``) is one :func:`map_rows` call: a per-row Python function plus one
``pa.schema`` (the DDL string is derived from it by :func:`ddl`).

Stages:

- :func:`synthesize_stage` — documents rows → deterministic pages rows
  (fixture synthesis, corpus.py), used by tests/bench/driver queries.
- :func:`extract_stage` — pages rows → extraction results
  ``(url, warc_ts, lang, bytes_in, engine, text, chars, pages, doc_type,
  error, parse_us)``.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import from_arrow_type

from ..corpus import capture_rows
from ..functions.router import extract_document


def ddl(schema: pa.Schema) -> str:
    """Spark DDL string of an Arrow schema, e.g. ``"url string, n int"``."""
    return ", ".join(
        f"{f.name} {from_arrow_type(f.type).simpleString()}" for f in schema
    )


BatchTap = Callable[[Iterator[pa.RecordBatch]], Iterator[pa.RecordBatch]]


def map_rows(df: DataFrame, fn: Callable[..., Sequence[tuple]],
             args: Sequence[str], schema: pa.Schema,
             keep: Sequence[str] = (), tap: BatchTap | None = None
             ) -> DataFrame:
    """One ``mapInArrow`` stage that runs ``fn`` once per input row.

    Selects ``args`` plus ``keep``, calls ``fn(*values of args)`` per row,
    and builds ``schema``. ``fn`` returns a tuple of output rows (0, 1 or k
    per input row), each a tuple of the fields of ``schema`` not named in
    ``keep``, in schema order. ``keep`` columns are never materialized in
    Python: they pass through as Arrow arrays, gathered with ``take`` when
    a batch is not 1:1, and cast to their ``schema`` type. Output columns
    are built in schema order, because ``mapInArrow`` binds them by
    position, not by name. The batch function carries ``fn``'s name, so
    plans read ``MapInArrow <fn>(...)``.

    ``tap``, if given, wraps the iterator of output batches in the same
    Python worker (``tap(batches)``, e.g. to fold a side statistic as they
    stream by), so it costs no second ``mapInArrow``. A tap either yields
    the batches it reads, unchanged, or consumes them and yields none
    (a sink, such as ``maintenance.parquet_sink``, that writes them
    itself; the action over the stage is then a ``noop`` write).
    """
    kept = frozenset(keep)
    computed = [f for f in schema if f.name not in kept]

    def batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in it:
            outs = [fn(*vals) for vals in zip(
                *[rb.column(a).to_pylist() for a in args])]
            rows = [row for out in outs for row in out]
            columns = list(zip(*rows)) or [()] * len(computed)
            built = {f.name: pa.array(c, type=f.type)
                     for f, c in zip(computed, columns)}
            take = None
            if kept:
                counts = list(map(len, outs))
                if counts.count(1) != rb.num_rows:
                    take = pa.array([i for i, k in enumerate(counts)
                                     for _ in range(k)], type=pa.int64())
            yield pa.RecordBatch.from_arrays([
                built[f.name] if f.name not in kept
                else (rb.column(f.name) if take is None
                      else rb.column(f.name).take(take)).cast(f.type)
                for f in schema
            ], schema=schema)

    run = batches if tap is None else (lambda it: tap(batches(it)))
    run.__name__ = run.__qualname__ = fn.__name__
    cols = list(dict.fromkeys([*args, *keep]))
    return df.select(*cols).mapInArrow(run, ddl(schema))


_PA_TS = pa.timestamp("us", tz="UTC")

_PAGES_PA_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", _PA_TS),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])
PAGES_SCHEMA = ddl(_PAGES_PA_SCHEMA)

_EXTRACT_PA_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", _PA_TS),
    ("lang", pa.string()),
    ("bytes_in", pa.int64()),
    ("engine", pa.string()),
    ("text", pa.string()),
    ("chars", pa.int64()),
    ("pages", pa.int32()),
    ("doc_type", pa.string()),
    ("error", pa.string()),
    ("parse_us", pa.int64()),
])
EXTRACT_SCHEMA = ddl(_EXTRACT_PA_SCHEMA)


def _extract_row(url: str, payload: bytes | None) -> tuple[tuple, ...]:
    t0 = time.perf_counter_ns()
    r = extract_document(url, payload)
    parse_us = (time.perf_counter_ns() - t0) // 1000
    return ((len(payload) if payload is not None else 0, r.engine, r.text,
             r.chars, r.pages, r.doc_type, r.error, parse_us),)


def extract_stage(pages: DataFrame, tap: BatchTap | None = None
                  ) -> DataFrame:
    """pages(url, warc_ts, html, ..., lang) → extraction results.

    Column-prunes to exactly the 4 columns the kernel needs *before* the
    Arrow exchange, so Parquet scans never materialize unused columns into
    Python (Catalyst prunes the file scan; this select prunes the IPC).
    Only url + html reach Python; url, warc_ts and lang PASS THROUGH as
    Arrow arrays. Materializing a tz-aware timestamp column via
    ``to_pylist`` costs ~30us/row (every element becomes a fresh
    tzinfo-carrying datetime), a large share of the whole kernel's per-doc
    budget. ``tap`` folds over the result batches in the kernel's worker
    (:func:`map_rows`).
    """
    return map_rows(pages, _extract_row, ("url", "html"), _EXTRACT_PA_SCHEMA,
                    keep=("url", "warc_ts", "lang"), tap=tap)


def _synthesize_row(doc_id: int, text: str | None, lang: str,
                    source: str) -> tuple[tuple, ...]:
    return tuple(capture_rows(int(doc_id), text, lang, source))


def synthesize_stage(documents: DataFrame) -> DataFrame:
    """documents(doc_id, text, lang, source, ...) → deterministic pages rows."""
    return map_rows(documents, _synthesize_row,
                    ("doc_id", "text", "lang", "source"), _PAGES_PA_SCHEMA)
