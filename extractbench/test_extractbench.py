"""Tests of the benchmark itself (not part of the engine's suite):

    python3 -m pytest extractbench -q -p no:cacheprovider

- every metric named in BENCHMARK.json is emitted, with its unit, by a
  small run of each workload, traced and untraced;
- the golden checks catch one deliberately corrupted result row.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import golden  # noqa: E402
import run  # noqa: E402
from workloads import WORKLOADS, BatchExtract  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
TINY_DOCS = "200"


def test_spec_lists_what_the_runner_emits():
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == \
        run.END_TO_END_UNITS
    assert [m["name"] for m in SPEC["per_layer"]] == run.per_layer_names()
    for m in SPEC["per_layer"]:
        assert m["unit"] == run.layer_unit(m["name"]), m["name"]


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_smoke_run_emits_every_metric(workload, trace):
    proc = subprocess.run(
        [sys.executable, "extractbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace),
         "--base-docs", TINY_DOCS],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, proc.stderr[-3000:]
    assert result["attempted"] >= 1
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]


def test_missing_engine_exits_nonzero(tmp_path):
    bench = tmp_path / "extractbench"
    bench.mkdir()
    for name in os.listdir(HERE):
        if name.endswith(".py"):
            (bench / name).write_text(open(os.path.join(HERE, name)).read())
    proc = subprocess.run(
        [sys.executable, "extractbench/run.py", "--workload", "batch_extract",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    run.configure_env(str(tmp_path_factory.mktemp("work")), False, 2)
    sys.path.insert(0, ROOT)
    from ollama_ocr_spark.session import get_spark

    session = get_spark(app="extractbench-test", master="local[2]",
                        shuffle_partitions=2)
    session.sparkContext.setLogLevel("ERROR")
    yield session
    run.stop_spark(session)


def test_corrupted_result_row_is_caught(spark, tmp_path):
    wl = BatchExtract(spark, 2, str(tmp_path), seed=5, base_docs=60)
    wl.build_inputs()
    wl.prepare()
    wl.run_op()
    assert wl.check() == []

    victim = wl.results.snapshot().files[0]
    table = pq.read_table(victim)
    texts = table.column("text").to_pylist()
    texts[0] = (texts[0] or "") + " corrupted"
    idx = table.schema.get_field_index("text")
    pq.write_table(table.set_column(idx, "text", [texts]), victim)

    failures = wl.check()
    url = table.column("url")[0].as_py()
    assert failures == [f"text differs from golden: {url}"]


def test_changed_query_value_is_caught():
    import pyarrow as pa

    good = pa.table({"doc_id": [1, 2, 3], "text": ["a", "b", "c"]})
    want = golden.frame_hash(good)
    shuffled = good.take([2, 0, 1])
    assert golden.check_query("q", shuffled, want) == []
    bad = good.set_column(1, "text", [["a", "b", "x"]])
    failures = golden.check_query("q", bad, want)
    assert len(failures) == 1 and failures[0].startswith("query q:")
