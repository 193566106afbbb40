"""Single-thread timings of the per-document kernel (``functions`` layer).

Payloads come from the seeded corpus, grouped by the route they take. Each
figure is the median of three timed passes over the sample, in
microseconds per document.
"""

from __future__ import annotations

import statistics
import time

import inputs

ROUTES = ("html", "pdf", "image", "text", "error")


def _route(doc_id: int) -> str:
    k = doc_id % 10
    if k == 7:
        return "pdf"
    if k == 8:
        return "image"
    if k == 9:
        return "error"
    if k == 4 and doc_id % 20 == 14:
        return "text"
    return "html"


def samples(seed: int, base_docs: int, per_route: int = 40) -> dict:
    """route -> [(url, payload)] from the seeded documents."""
    from ollama_ocr_spark.corpus import build_payload, url_for

    docs = inputs.documents(seed, 1, n=base_docs).to_pydict()
    out: dict[str, list] = {r: [] for r in ROUTES}
    for d, text, lang, src in zip(docs["doc_id"], docs["text"], docs["lang"],
                                  docs["source"]):
        bucket = out[_route(d)]
        if len(bucket) < per_route:
            bucket.append((url_for(d, src), build_payload(d, text, lang)))
    return out


def _us_per_call(fn, args: list, passes: int = 3,
                 min_pass_s: float = 0.05) -> float:
    """Each pass repeats the sample until it has run ``min_pass_s``."""
    per_pass = []
    for _ in range(passes):
        calls, t0 = 0, time.perf_counter()
        while calls == 0 or time.perf_counter() - t0 < min_pass_s:
            for a in args:
                fn(*a)
            calls += len(args)
        per_pass.append((time.perf_counter() - t0) / calls * 1e6)
    return statistics.median(per_pass)


def timings(seed: int, base_docs: int) -> dict[str, float]:
    from ollama_ocr_spark.functions.router import extract_document, sniff_payload

    by_route = samples(seed, base_docs)
    out = {
        f"functions.us_per_doc.{r}": _us_per_call(extract_document, by_route[r])
        for r in ROUTES
    }
    payloads = [(p,) for r in ROUTES for _, p in by_route[r]]
    out["functions.sniff_us_per_doc"] = _us_per_call(sniff_payload, payloads)
    return out
