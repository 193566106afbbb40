"""The benchmark workloads.

Each workload drives the engine only through its public functions. The
life cycle, as ``run.py`` calls it:

- ``build_inputs()``: generate the seeded inputs (repeated during set-up;
  the median repetition is reported);
- ``warm()``: ``warm_ops`` untimed operations, so the JVM's JIT and the
  Python workers are past their ramp before timing;
- ``prepare_checks()``: untimed work the golden check needs;
- per timed operation: ``prepare()`` (untimed), ``run_op()`` (timed),
  ``check()`` (untimed golden check);
- ``traced_op(tracer)``: the same operation with one span per layer
  call, each layer's output materialised so its time lands in its span;
- ``traced_extra(tracer)``: traced layer calls outside the operation.
"""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import golden
import inputs


def materialise(df: DataFrame) -> DataFrame:
    """Cache ``df`` and compute it with a noop write (never ``count()``,
    which lets Catalyst prune columns)."""
    df = df.persist()
    df.write.format("noop").mode("overwrite").save()
    return df


class Workload:
    name = ""
    warm_ops = 0

    def __init__(self, spark, slots: int, work: str, seed: int,
                 base_docs: int) -> None:
        self.spark = spark
        self.slots = slots
        self.work = work
        self.seed = seed
        self.base_docs = base_docs
        self.layer = {}  # per-layer values of the latest traced op

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def warm(self) -> None:
        for _ in range(self.warm_ops):
            self.prepare()
            self.run_op()

    def prepare_checks(self) -> None:
        pass

    def traced_extra(self, tr) -> None:
        pass


class BatchExtract(Workload):
    """A fresh crawl (the corpus twice, 1 in 5 docs with a stale older
    capture, zipf host skew) through ``pipeline.run_extract`` into empty
    results and metrics tables: the production job."""

    name = "batch_extract"
    replicas = 2
    warm_ops = 8

    def build_inputs(self) -> None:
        from ollama_ocr_spark.operators.extract import synthesize_stage

        self.docs = inputs.documents(self.seed, self.replicas,
                                     n=self.base_docs)
        self.golden = golden.golden_by_url(self.docs)
        self.docs_file = self.path("documents.parquet")
        self.pages_dir = self.path("pages")
        pq.write_table(self.docs, self.docs_file)
        synthesize_stage(self.spark.read.parquet(self.docs_file)).write.mode(
            "overwrite").parquet(self.pages_dir)

    @property
    def docs_in(self) -> int:
        return len(self.golden)

    def prepare(self) -> None:
        from ollama_ocr_spark.sources.icetbl import IceTable

        shutil.rmtree(self.path("tables"), ignore_errors=True)
        self.results = IceTable(self.path("tables", "results"))
        self.metrics = IceTable(self.path("tables", "metrics"))

    def run_op(self) -> None:
        from ollama_ocr_spark.pipeline import run_extract

        stats = run_extract(self.spark, self.spark.read.parquet(self.pages_dir),
                            self.results, self.metrics,
                            num_partitions=self.slots)
        self.counts = (stats.docs_in, stats.docs_extracted)

    def check(self) -> list[str]:
        failures = []
        if self.counts != (len(self.golden), len(self.golden)):
            failures.append(f"(docs_in, docs_extracted) = {self.counts}, "
                            f"expected {len(self.golden)} each")
        committed = self.results.read(self.spark).select("url", "text")
        lineage = self.metrics.read(self.spark).agg(
            F.sum("doc_count")).first()[0]
        return failures + golden.check_extract(committed.toArrow(),
                                               lineage or 0, self.golden)

    def traced_op(self, tr) -> None:
        """``run_extract`` split into its layer calls. The results table is
        empty, so (as in ``run_extract``) there is no resume anti-join."""
        from ollama_ocr_spark.operators.extract import extract_stage
        from ollama_ocr_spark.operators.maintenance import (
            balance_by_url, latest_capture, partition_lineage)
        from ollama_ocr_spark.pipeline import repair_metrics

        spark = self.spark
        tr.new_op()
        with tr.span("op", "pipeline"):
            with tr.span("pipeline.repair_metrics", "pipeline") as s_rep:
                repair_metrics(spark, self.results, self.metrics)
            pages = spark.read.parquet(self.pages_dir)
            with tr.span("dedup", "maintenance") as s_dedup:
                deduped = materialise(
                    latest_capture(balance_by_url(pages, self.slots)))
            with tr.span("extract_stage", "extract") as s_ext:
                results = materialise(extract_stage(deduped))
            with tr.span("icetbl.append", "icetbl") as s_app1:
                sid = self.results.append(results)
            with tr.span("lineage", "maintenance") as s_lin:
                lineage = materialise(partition_lineage(results).withColumn(
                    "snapshot_id", F.lit(sid)))
            with tr.span("icetbl.append", "icetbl") as s_app2:
                self.metrics.append(lineage)
            with tr.span("pipeline.docs_in", "pipeline") as s_din:
                docs_in = pages.select("url").distinct().count()
        # counts, outside every span
        n_dedup = deduped.count()
        agg = results.agg(F.count("*"), F.sum("parse_us"),
                          F.sum("bytes_in")).first()
        files = self.results.snapshot().files + self.metrics.snapshot().files
        written = sum(os.path.getsize(f) for f in files)
        for df in (lineage, results, deduped):
            df.unpersist()
        self.counts = (docs_in, agg[0])
        parse_s = (agg[1] or 0) / 1e6
        ext_s = s_ext.end - s_ext.start
        self.layer = {
            "dedup.s": s_dedup.end - s_dedup.start,
            "dedup.rows_in": pages.count(),
            "dedup.rows_out": n_dedup,
            "lineage.s": s_lin.end - s_lin.start,
            "extract_stage.s": ext_s,
            "extract_stage.rows": agg[0],
            "extract_stage.overhead_s": ext_s * self.slots - parse_s,
            "functions.parse_s": parse_s,
            "functions.busy_share": parse_s / (ext_s * self.slots),
            "icetbl.append_s": (s_app1.end - s_app1.start
                                + s_app2.end - s_app2.start),
            "icetbl.files_written": len(files),
            "icetbl.bytes_written": written,
            "icetbl.bytes_per_input_byte": written / (agg[2] or 1),
            "pipeline.repair_metrics_s": s_rep.end - s_rep.start,
            "pipeline.docs_in_s": s_din.end - s_din.start,
        }

    def traced_extra(self, tr) -> None:
        from ollama_ocr_spark.operators.extract import synthesize_stage

        docs = self.spark.read.parquet(self.docs_file)
        tr.new_op()
        with tr.span("corpus.synth", "corpus") as sp:
            synthesize_stage(docs).write.format("noop").mode(
                "overwrite").save()
        self.layer["corpus.synth_s"] = sp.end - sp.start


class ExtractQueries(Workload):
    """Entry-point queries from ``__spark_entry__.queries()`` over a
    generated sf dir. Both synthesize and parse every document:
    ``extract_pdf_fold`` then keeps the 10% PDF slice,
    ``extract_route_counts`` keeps all."""

    name = "extract_queries"
    queries = ("extract_pdf_fold", "extract_route_counts")
    warm_ops = 4

    def build_inputs(self) -> None:
        import __spark_entry__

        self.sf_dir = self.path("sf")
        os.makedirs(self.sf_dir, exist_ok=True)
        self.docs = inputs.documents(self.seed, 1, n=self.base_docs)
        pq.write_table(self.docs,
                       os.path.join(self.sf_dir, "documents.parquet"))
        self.fns = __spark_entry__.queries()

    @property
    def docs_in(self) -> int:
        return self.docs.num_rows

    def prepare_checks(self) -> None:
        """Expected hash of every query, from DuckDB over the same file."""
        import duckdb

        import __spark_entry__

        sql = __spark_entry__.oracle_sql()
        con = duckdb.connect()
        try:
            con.sql("CREATE VIEW documents AS SELECT * FROM "
                    f"'{self.sf_dir}/documents.parquet'")
            self.want = {q: golden.frame_hash(con.sql(sql[q]).arrow())
                         for q in self.queries}
        finally:
            con.close()

    def prepare(self) -> None:
        self.out = {}

    def run_op(self) -> None:
        for q in self.queries:
            self.out[q] = self.fns[q](self.spark, self.sf_dir).toArrow()

    def check(self) -> list[str]:
        failures = []
        for q in self.queries:
            failures += golden.check_query(q, self.out[q], self.want[q])
        return failures

    def traced_op(self, tr) -> None:
        tr.new_op()
        with tr.span("op", "entry"):
            for q in self.queries:
                with tr.span(f"query.{q}", "entry") as sp:
                    self.out[q] = self.fns[q](self.spark,
                                              self.sf_dir).toArrow()
                self.layer[f"query.{q}.s"] = sp.end - sp.start
                self.layer[f"query.{q}.rows"] = self.out[q].num_rows

    def traced_extra(self, tr) -> None:
        """The ``_extracted`` path the queries share, layer by layer. Run
        after the timed loop: Spark's cache would serve the queries' own
        plans from these materialised frames."""
        from ollama_ocr_spark.operators.extract import (
            extract_stage, synthesize_stage)
        from ollama_ocr_spark.operators.maintenance import latest_capture

        docs = self.spark.read.parquet(f"{self.sf_dir}/documents.parquet")
        tr.new_op()
        with tr.span("corpus.synth", "corpus") as s_syn:
            pages = materialise(synthesize_stage(docs))
        with tr.span("dedup", "maintenance") as s_dedup:
            deduped = materialise(latest_capture(pages))
        with tr.span("extract_stage", "extract") as s_ext:
            results = materialise(extract_stage(deduped))
        agg = results.agg(F.count("*"), F.sum("parse_us")).first()
        n_pages, n_dedup = pages.count(), deduped.count()
        for df in (results, deduped, pages):
            df.unpersist()
        parse_s = (agg[1] or 0) / 1e6
        ext_s = s_ext.end - s_ext.start
        self.layer.update({
            "corpus.synth_s": s_syn.end - s_syn.start,
            "dedup.s": s_dedup.end - s_dedup.start,
            "dedup.rows_in": n_pages,
            "dedup.rows_out": n_dedup,
            "extract_stage.s": ext_s,
            "extract_stage.rows": agg[0],
            "extract_stage.overhead_s": ext_s * self.slots - parse_s,
            "functions.parse_s": parse_s,
            "functions.busy_share": parse_s / (ext_s * self.slots),
        })


WORKLOADS = {w.name: w for w in (BatchExtract, ExtractQueries)}
