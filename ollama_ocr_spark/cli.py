"""Command-line entry: the Spark-native equivalent of the reference CLIs.

Flag-for-flag analog of `python ocr_router.py [file] --engine --outdir
--csv` (`/root/reference/ocr_router.py:313-339`), re-expressed over the
cluster data model:

- input is a *pages table* (parquet dir of ``url, warc_ts, html, text,
  lang`` rows) instead of an ``images/`` directory; ``--synthesize`` accepts
  a ``documents`` table and builds the deterministic pages corpus from it,
- single-file mode (positional file path) becomes ``--url`` (process one
  document, print a 400-char preview — the reference's console sink,
  `ocr_router.py:410-411`),
- ``--engine`` overrides the routed engine label for non-error rows
  (`ocr_router.py:323-328`),
- batch outputs land in icetbl results/metrics tables under ``--workdir``
  (resumable: a re-run extracts nothing new), and ``--outdir`` additionally
  exports the reference's byte-format ``OCR_{stem}.txt`` files with
  ``summary.csv`` behind ``--csv`` (`ocr_router.py:374-420`).

Run: ``python -m ollama_ocr_spark --input .../documents.parquet
--synthesize --workdir /tmp/run --outdir /tmp/run/outputs --csv``
"""

from __future__ import annotations

import argparse
import os
import sys

from pyspark.sql import functions as F

PREVIEW_CHARS = 400  # ocr_router.py:410 truncates the console echo


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="ollama_ocr_spark",
        description=(
            "Route + extract main content from a pages table "
            "(HTML/PDF/image payloads). Spark-native batch analog of "
            "ocr_router.py."
        ),
    )
    p.add_argument("--input", required=True,
                   help="pages parquet dir, or a documents table with "
                        "--synthesize")
    p.add_argument("--synthesize", action="store_true",
                   help="input is a documents table; build the "
                        "deterministic pages corpus from it")
    p.add_argument("--url", default=None,
                   help="process a single document (single-file mode)")
    p.add_argument("--engine", choices=["auto", "printed", "handwriting"],
                   default="auto",
                   help="engine label override (default: auto routing)")
    p.add_argument("--mode",
                   choices=["extract", "structured", "analyze", "multi"],
                   default="extract",
                   help="analysis mode (ollama_cloud_ocr.py --mode analog): "
                        "extract=main text; structured=receipt fields; "
                        "analyze=document metadata; multi=one-parse "
                        "multi-step")
    p.add_argument("--data-type",
                   choices=["receipt", "form", "price_tag"],
                   default="receipt",
                   help="field schema for --mode structured "
                        "(ollama_cloud_ocr.py --data-type analog)")
    p.add_argument("--workdir", default="ocr_run",
                   help="icetbl results/metrics tables root (resume anchor)")
    p.add_argument("--outdir", default=None,
                   help="also export reference-format OCR_{stem}.txt files")
    p.add_argument("--csv", action="store_true",
                   help="with --outdir: write summary.csv too")
    p.add_argument("--master", default=None,
                   help="Spark master (default: local[$SPARK_GRAFT_CPUS])")
    p.add_argument("--page", type=int, default=None,
                   help="with --url: print only this page of a multi-page "
                        "document (ollama_cloud_ocr.py --page analog)")
    p.add_argument("--show-timing", action="store_true",
                   help="display performance timing metrics "
                        "(ollama_local_ocr.py --show-timing analog)")
    p.add_argument("--stream", action="store_true",
                   help="with --url: emit the extracted text in chunks as "
                        "it prints (ollama_cloud_ocr.py --stream analog — "
                        "the reference folds streamed response chunks; "
                        "extraction itself is batch either way)")
    return p


def _stream_print(text: str, chunk: int = 64) -> None:
    """Chunked console emit — the reference's flush-per-chunk streaming
    print (`ollama_cloud_ocr.py:210-215,748`)."""
    for i in range(0, len(text), chunk):
        print(text[i:i + chunk], end="", flush=True)
    print()


def _page_slice(text: str, page: int) -> str | None:
    """Pull one page's text out of the folded '--- Page N ---' document.
    Documents without separators are treated as single-page."""
    import re

    tokens = re.split(r"(?:^|\n\n)--- Page (\d+) ---\n\n", text)
    pages = {int(tokens[i]): tokens[i + 1]
             for i in range(1, len(tokens) - 1, 2)}
    if not pages:
        return text if page == 1 else None
    return pages.get(page)


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)

    from .operators.extract import synthesize_stage
    from .pipeline import run_extract
    from .session import get_spark
    from .sources.export import export_reference_outputs
    from .sources.icetbl import IceTable

    spark = get_spark(app="ollama-ocr-spark-cli", master=args.master)
    pages = spark.read.parquet(args.input)
    if args.synthesize:
        pages = synthesize_stage(pages)
    if args.url:
        pages = pages.filter(F.col("url") == args.url)

    if args.mode != "extract":
        # cloud-CLI mode dispatch (ollama_cloud_ocr.py:744-788): run the
        # parameterized analysis stage, commit to its own icetbl table.
        # Same resume contract as the extract path: latest-capture dedup,
        # then anti-join urls already committed — a re-run processes (and
        # appends) nothing new instead of duplicating every row.
        from .operators import modes as _modes
        from .operators.maintenance import latest_pages, resume_anti_join

        if args.mode == "structured":
            def stage(p):  # noqa: E306
                return _modes.structured_stage(p, data_type=args.data_type)
            tbl_name = f"{args.mode}_{args.data_type}"
        else:
            stage = {
                "analyze": _modes.analyze_stage,
                "multi": _modes.multi_step_stage,
            }[args.mode]
            tbl_name = args.mode
        tbl = IceTable(os.path.join(args.workdir, tbl_name))
        todo = latest_pages(pages)
        done = tbl.read(spark)
        if done is not None:
            todo = resume_anti_join(todo, done)
        out = stage(todo)
        sid = tbl.append(out)
        if args.url:
            row = tbl.read(spark).filter(F.col("url") == args.url).first()
            if row is None:
                print(f"no document for url: {args.url}", file=sys.stderr)
                return 1
            for field, val in row.asDict().items():
                print(f"{field}: {val}")
        else:
            print(f"{args.mode}: {tbl.read(spark).count()} rows -> "
                  f"{tbl.root} (snapshot {sid})")
        return 0

    results_tbl = IceTable(os.path.join(args.workdir, "results"))
    metrics_tbl = IceTable(os.path.join(args.workdir, "metrics"))
    stats = run_extract(spark, pages, results_tbl, metrics_tbl)

    results = results_tbl.read(spark)
    if args.engine != "auto" and results is not None:
        # `--engine` forces the label the reference would force
        # (ocr_router.py:323-328); error rows keep their contract.
        results = results.withColumn(
            "engine",
            F.when(F.col("engine") == "error", "error")
            .otherwise(F.lit(args.engine)),
        )

    if args.url and results is not None:
        row = results.filter(F.col("url") == args.url).first()
        if row is None:
            print(f"no document for url: {args.url}", file=sys.stderr)
            return 1
        text = row["text"] or ""
        if args.page is not None:
            sliced = _page_slice(text, args.page)
            if sliced is None:
                print(f"no page {args.page} (document has "
                      f"{row['pages']} page(s))", file=sys.stderr)
                return 1
            text = sliced
        preview = text[:PREVIEW_CHARS] + ("..." if len(text) > PREVIEW_CHARS else "")
        print(f"[{row['engine']}] {row['url']} "
              f"({row['chars']} chars, {row['pages']} page(s))")
        if args.stream:
            _stream_print(text)
        else:
            print(preview)
        if args.show_timing:
            print(f"\nPerformance timing:\n"
                  f"  parse: {row['parse_us'] / 1e6:.3f}s")
    else:
        print(f"extracted {stats.docs_extracted} new / "
              f"{stats.docs_in} docs -> {results_tbl.root} "
              f"(snapshot {stats.snapshot_id})")

    if args.show_timing and not args.url:
        # reference prints a per-batch timing block
        # (ollama_local_ocr.py:423-427); ours aggregates the lineage rows
        # of this snapshot.
        lin = metrics_tbl.read(spark)
        if lin is not None:
            snap = lin.filter(F.col("snapshot_id") == stats.snapshot_id)
            agg = snap.agg(
                F.sum("doc_count").alias("docs"),
                F.sum("bytes_in").alias("bytes_in"),
                F.sum("stage_secs.parse").alias("parse_secs"),
            ).first()
            docs = agg["docs"] or 0
            print("\nPerformance timing:")
            print(f"  wall: {stats.wall_secs:.2f}s"
                  f"  parse-cpu: {(agg['parse_secs'] or 0):.2f}s"
                  f"  bytes in: {(agg['bytes_in'] or 0) / 1e6:.1f} MB")
            if docs and stats.wall_secs:
                print(f"  throughput: {docs / stats.wall_secs:,.0f} docs/s"
                      f"  avg parse: "
                      f"{(agg['parse_secs'] or 0) / docs * 1e3:.2f} ms/doc")

    if args.outdir and results is not None:
        export_reference_outputs(results, args.outdir, write_csv=args.csv)
        print(f"reference-format outputs in {args.outdir}"
              + (" (+ summary.csv)" if args.csv else ""))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
