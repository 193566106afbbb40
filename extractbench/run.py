"""Benchmark of the extraction engine, run from the root of a checkout:

    python3 extractbench/run.py --workload batch_extract --seed 1 \\
        --seconds 15 --trace 0

Workloads are listed in ``BENCHMARK.json`` and ``workloads.py``. The run
starts one Spark session on local[k] (k = min(4, usable cores)), builds
the seeded inputs, warms up, then repeats the workload's operation for
``--seconds`` (closed loop, one operation at a time), checking every
operation against its golden. ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` alternates plain and traced operations and reports
the per-layer metrics. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

All files go to ``.extractbench-work/`` in the checkout, which is removed
at exit. Without the engine package next to this directory the benchmark
exits with code 2 and prints no result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

SETUP_BUILDS = 3   # input builds during set-up; the median is reported
MIN_OPS = 3        # timed operations even when --seconds is short
DRIVER_MEM = "2g"  # get_spark's 16g default would not fit small hosts

END_TO_END_UNITS = {
    "setup_s": "s", "wall_s": "s", "docs_per_s": "docs/s",
}
SPARK_LAYERS = ("corpus", "extract", "maintenance", "icetbl", "pipeline",
                "entry")


def layer_unit(name: str) -> str:
    if name.endswith("_mb"):
        return "MB"
    if name.endswith((".s", "_s")):
        return "s"
    if "us_per_doc" in name:
        return "us"
    if name.endswith(("bytes", "bytes_written")):
        return "bytes"
    if name.endswith(("ratio", "share", "skew", "coverage", "overhead",
                      "per_input_byte")):
        return "ratio"
    return "count"


def per_layer_names() -> list[str]:
    from kernel import ROUTES
    from spans import SPARK_COUNTERS
    from workloads import WORKLOADS

    names = ["session.start_s", "corpus.synth_s"]
    names += [f"functions.us_per_doc.{r}" for r in ROUTES]
    names += ["functions.sniff_us_per_doc", "functions.parse_s",
              "functions.busy_share",
              "extract_stage.s", "extract_stage.rows",
              "extract_stage.overhead_s",
              "dedup.s", "dedup.rows_in", "dedup.rows_out",
              "lineage.s",
              "icetbl.append_s", "icetbl.files_written",
              "icetbl.bytes_written", "icetbl.bytes_per_input_byte",
              "pipeline.repair_metrics_s", "pipeline.docs_in_s",
              "trace.coverage", "trace.overhead", "peak_rss_mb"]
    for w in WORKLOADS.values():
        for q in getattr(w, "queries", ()):
            names += [f"query.{q}.s", f"query.{q}.rows"]
    names += [f"spark.{layer}.{c}" for layer in SPARK_LAYERS
              for c in SPARK_COUNTERS]
    return names


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--base-docs", type=int, default=5000,
                   help="documents per corpus replica (smaller in tests)")
    return p.parse_args(argv)


def configure_env(work: str, trace: bool, slots: int) -> str:
    """Point every temporary file of Spark, the JVM and Python into
    ``work``; returns the event-log directory."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    events = os.path.join(work, "events")
    for d in (tmp, local, events):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None  # re-read TMPDIR
    # every JVM, the spark-submit launcher too: no hsperfdata files, and
    # temporary files in the work directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_CPUS"] = str(slots)
    conf = [
        "spark.ui.showConsoleProgress=false",
        f"spark.local.dir={local}",
        f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
    ]
    if trace:
        conf += ["spark.eventLog.enabled=true",
                 f"spark.eventLog.dir=file://{events}",
                 "spark.eventLog.compress=false"]
    os.environ["SPARK_GRAFT_CONF"] = ";".join(conf)
    return events


def stop_spark(spark) -> None:
    """Stop the session, the JVM and its Python workers, and wait for all."""
    from pyspark import SparkContext

    from spans import process_tree

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    children = process_tree()[1:]
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at end of its stdin
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - kill below
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        alive = [p for p in children if os.path.exists(f"/proc/{p}")
                 and _not_zombie(p)]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _not_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def report(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def timed_loop(wl, seconds: float, tracer) -> dict:
    """Closed loop of the workload's operation, alternating with traced
    operations when ``tracer`` is given; returns raw results. An operation
    fails if it raises or its output differs from the golden."""
    from spans import RssSampler

    walls, traced_walls, attempted, failed = [], [], 0, 0
    deadline = time.perf_counter() + seconds
    with RssSampler() as rss:
        while attempted < MIN_OPS or time.perf_counter() < deadline:
            for traced in (False, True) if tracer else (False,):
                wl.prepare()
                attempted += 1
                rss.measuring.set()
                t0 = time.perf_counter()
                try:
                    wl.traced_op(tracer) if traced else wl.run_op()
                    problems = []
                except Exception:  # noqa: BLE001 - a failed op is counted
                    problems = ["operation raised:\n" + traceback.format_exc()]
                wall = time.perf_counter() - t0
                rss.measuring.clear()
                if not problems:
                    (traced_walls if traced else walls).append(wall)
                    try:
                        problems = wl.check()
                    except Exception:  # noqa: BLE001 - counted as failed
                        problems = ["golden check raised:\n"
                                    + traceback.format_exc()]
                if problems:
                    failed += 1
                    for msg in problems:
                        report(f"{wl.name}: {msg}")
    return {"walls": walls, "traced_walls": traced_walls,
            "attempted": attempted, "failed": failed,
            "peak_rss_mb": rss.peak / 2**20, "docs": wl.docs_in}


def run(args, work: str) -> dict:
    slots = min(4, len(os.sched_getaffinity(0)))
    events = configure_env(work, args.trace == 1, slots)
    sys.path.insert(0, ROOT)

    from spans import Tracer
    from workloads import WORKLOADS

    t0 = time.perf_counter()
    from ollama_ocr_spark.session import get_spark

    spark = get_spark(app="extractbench", master=f"local[{slots}]",
                      shuffle_partitions=slots)
    try:
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        wl = WORKLOADS[args.workload](spark, slots, work, args.seed,
                                      args.base_docs)
        builds = []
        for _ in range(SETUP_BUILDS):
            t = time.perf_counter()
            wl.build_inputs()
            builds.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.warm()
        warm_s = time.perf_counter() - t
        setup_s = session_s + statistics.median(builds) + warm_s
        wl.prepare_checks()
        tracer = Tracer(spark.sparkContext) if args.trace else None
        res = timed_loop(wl, args.seconds, tracer)
        if tracer:
            wl.traced_extra(tracer)
    finally:
        stop_spark(spark)

    if not res["walls"] or (args.trace and not res["traced_walls"]):
        raise SystemExit(f"{args.workload}: every operation raised; "
                         "no timing to report")
    wall = statistics.median(res["walls"])
    report(f"{args.workload}: timed ops {[round(w, 3) for w in res['walls']]}"
           f", setup_s {setup_s:.3f} (session {session_s:.3f}, builds "
           f"{[round(b, 3) for b in builds]}, warm-up {warm_s:.3f})")
    if args.trace:
        values = layer_values(wl, tracer, events, res, session_s, args)
        metrics = {n: {"value": values.get(n, 0), "unit": layer_unit(n)}
                   for n in per_layer_names()}
    else:
        values = {"setup_s": setup_s, "wall_s": wall,
                  "docs_per_s": res["docs"] / wall}
        metrics = {n: {"value": values[n], "unit": u}
                   for n, u in END_TO_END_UNITS.items()}
    return {"correct": res["failed"] == 0, "attempted": res["attempted"],
            "failed": res["failed"], "metrics": metrics}


def layer_values(wl, tracer, events: str, res: dict, session_s: float,
                 args) -> dict:
    """Per-layer values of a traced run. Layers the workload does not
    exercise are absent here and read 0 in the result."""
    import kernel
    from spans import read_event_log

    values = dict(wl.layer)
    values["session.start_s"] = session_s
    values["peak_rss_mb"] = res["peak_rss_mb"]
    values.update(kernel.timings(args.seed, args.base_docs))
    untraced = statistics.median(res["walls"])
    values["trace.overhead"] = (statistics.median(res["traced_walls"])
                                / untraced - 1)
    last_op = max(s.op_id for s in tracer.spans if s.name == "op")
    self_t = tracer.self_times(last_op)
    values["trace.coverage"] = sum(
        t for sid, t in self_t.items()
        if tracer.spans[sid - 1].name != "op") / untraced
    # Spark counters of the last traced operation and of the extra spans
    # recorded after the loop
    counted = {last_op, tracer.spans[-1].op_id}
    counters = read_event_log(events)
    for s in tracer.spans:
        if s.op_id not in counted:
            continue
        for c, v in counters.get(f"span-{s.span_id}", {}).items():
            key = f"spark.{s.layer}.{c}"
            values[key] = (max(values.get(key, 0.0), v) if c == "task_skew"
                           else values.get(key, 0.0) + v)
    tracer.dump(os.path.join(ROOT, ".extractbench-work",
                             f"spans-{args.workload}.jsonl"))
    return values


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "ollama_ocr_spark",
                                       "__init__.py")) or \
            not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")):
        print("extractbench: the engine (ollama_ocr_spark/, "
              "__spark_entry__.py) is not in this checkout", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"extractbench: unknown workload {args.workload!r}; choose "
              f"from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".extractbench-work",
                        f"{args.workload}-{os.getpid()}")
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
