"""ollama_ocr_spark — a from-scratch PySpark-native main-content extraction engine.

Re-expresses the document-extraction semantics of the reference repo
(`ranga-NSL/ollama-ocr`, a single-node per-file OCR toolkit) as a batched,
cluster-scale pipeline over an Iceberg-style table of Common-Crawl-style web
pages `(url, warc_ts, html, text, lang)`:

- routing (printed/handwriting/error, cf. reference `ocr_router.py:220-247`)
  becomes a payload sniff + URL-keyword + structure-heuristic decision table,
- OCR becomes deterministic main-content extraction (HTML boilerplate strip via
  text/link-density block scoring; a pure-Python PDF text parser),
- the per-file loop becomes one Arrow-vectorized ``mapInArrow`` stage,
- the CSV summary becomes a metrics/lineage table with snapshot-based resume.

Everything here is built from public knowledge: the PySpark API and the
observable behavior of the reference repo.
"""

import os
import zipimport

__version__ = "0.1.0"


def _skip_unchanged_zip_rereads() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only when
    it changed.

    PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
    every task, and on CPython 3.11 each zipimporter then re-reads its whole
    archive directory (Spark's core jar and ``pyspark.zip``, ~0.15-0.25 CPU-s
    per task). This wrapper keys each importer's last read on the archive's
    ``(st_mtime_ns, st_size, st_ino)`` and calls the original only when the
    key differs or ``os.stat`` fails, so a rewritten or re-shipped zip is
    still re-read. Every Python worker imports this package when it unpickles
    an engine kernel, which installs the wrapper there. Idempotent.
    """
    original = zipimport.zipimporter.invalidate_caches
    if getattr(original, "stat_checked", False):
        return

    def invalidate_caches(self):
        # stat before the read: a rewrite during the read shows up as a
        # changed key on the next call
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            key = None
        if key is None or key != getattr(self, "_archive_key", None):
            original(self)
            self._archive_key = key

    invalidate_caches.stat_checked = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_skip_unchanged_zip_rereads()
