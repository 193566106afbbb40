"""Golden checks, run after each timed operation and outside its timing.

- Extract workloads: committed text per url equals ``corpus.golden_text``,
  the committed urls equal the distinct input urls, and the lineage
  ``doc_count`` sum equals the committed rows.
- Query workloads: an order-insensitive hash of each query's rows equals
  the hash of its ``oracle_sql()`` twin run on DuckDB over the same files.

Each check returns a list of failure messages; empty means correct.
"""

from __future__ import annotations

import hashlib
import math

import pyarrow as pa

MAX_REPORTED = 5


def golden_by_url(documents: pa.Table) -> dict[str, str]:
    """url -> expected extracted text for every document."""
    from ollama_ocr_spark.corpus import golden_text, url_for

    cols = documents.select(["doc_id", "text", "source"]).to_pydict()
    return {
        url_for(d, s): golden_text(d, t)
        for d, t, s in zip(cols["doc_id"], cols["text"], cols["source"])
    }


def check_extract(committed: pa.Table, lineage_docs: int,
                  golden: dict[str, str]) -> list[str]:
    """``committed``: the results table's (url, text) rows."""
    urls = committed.column("url").to_pylist()
    texts = committed.column("text").to_pylist()
    failures = []
    wrong = [u for u, t in zip(urls, texts) if golden.get(u) != t]
    failures += [f"text differs from golden: {u}" for u in wrong[:MAX_REPORTED]]
    if len(wrong) > MAX_REPORTED:
        failures.append(f"... {len(wrong) - MAX_REPORTED} more urls")
    seen = set(urls)
    if len(seen) != len(urls):
        failures.append(f"{len(urls) - len(seen)} urls committed twice")
    missing = [u for u in golden if u not in seen]
    failures += [f"url not committed: {u}" for u in missing[:MAX_REPORTED]]
    if lineage_docs != len(urls):
        failures.append(
            f"lineage doc_count sum {lineage_docs} != {len(urls)} committed rows")
    return failures


def _norm(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(round(v, 9))
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def frame_hash(table: pa.Table) -> tuple[int, tuple[str, ...], str]:
    """(rows, sorted column names, order-insensitive sha256 of the rows)."""
    cols = tuple(sorted(table.column_names))
    data = [table.column(c).to_pylist() for c in cols]
    rows = sorted("\x01".join(_norm(v) for v in row) for row in zip(*data))
    digest = hashlib.sha256("\x02".join(rows).encode()).hexdigest()
    return len(rows), cols, digest


def check_query(name: str, got: pa.Table, want: tuple) -> list[str]:
    have = frame_hash(got)
    if have == want:
        return []
    return [f"query {name}: rows/cols/hash {have[:2]} differ from the oracle "
            f"{want[:2]}" + (" (same shape, different values)"
                             if have[:2] == want[:2] else "")]
