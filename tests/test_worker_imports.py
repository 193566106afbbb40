"""What Python workers import: the shipped engine zip, and the package's
stat-checked ``zipimporter.invalidate_caches`` (PySpark invalidates import
caches at the start of every task)."""

from __future__ import annotations

import importlib.util
import os
import tempfile
import zipfile
import zipimport
from pathlib import Path
from types import SimpleNamespace

import ollama_ocr_spark
from ollama_ocr_spark import session


def _write_zip(path: Path, modules: dict[str, str]) -> None:
    tmp = path.with_suffix(".tmp")
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)
    os.replace(tmp, path)


def _counting_reads(monkeypatch) -> list[str]:
    reads: list[str] = []
    original = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return original(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def _load(importer: zipimport.zipimporter, name: str):
    spec = importer.find_spec(name)
    if spec is None:
        return None
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_invalidate_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    hooked = zipimport.zipimporter.invalidate_caches
    ollama_ocr_spark._skip_unchanged_zip_rereads()
    assert zipimport.zipimporter.invalidate_caches is hooked  # no double wrap

    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"zhook_a": "VALUE = 1\n"})
    importer = zipimport.zipimporter(str(archive))
    reads = _counting_reads(monkeypatch)

    importer.invalidate_caches()  # first sight of this importer: one read
    assert reads == [str(archive)]
    reads.clear()
    for _ in range(3):
        importer.invalidate_caches()
    assert reads == []

    _write_zip(archive, {"zhook_a": "VALUE = 1\n", "zhook_b": "VALUE = 2\n"})
    importer.invalidate_caches()
    importer.invalidate_caches()
    assert reads == [str(archive)]
    assert _load(importer, "zhook_b").VALUE == 2

    reads.clear()
    archive.unlink()  # stat fails: always defer to the original
    importer.invalidate_caches()
    assert reads == [str(archive)]
    assert _load(importer, "zhook_a") is None


def test_arrow_worker_invalidation_reads_no_archive(spark, documents_smoke):
    from ollama_ocr_spark.operators.extract import synthesize_stage

    synthesize_stage(documents_smoke.limit(8)).write.format("noop") \
        .mode("overwrite").save()

    def probe(batches):
        import importlib
        import sys
        import time
        import zipimport

        import pyarrow as pa

        for _ in batches:
            pass
        engine_loaded = "ollama_ocr_spark" in sys.modules
        import ollama_ocr_spark  # noqa: F401  (no-op in a kernel's worker)

        # a worker fresh to the engine sees each importer once more here
        importlib.invalidate_caches()
        zips = sorted({f.archive for f in sys.path_importer_cache.values()
                       if isinstance(f, zipimport.zipimporter)})
        reads = []
        original = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return original(archive)

        zipimport._read_directory = counting
        t = time.perf_counter()
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = original
        yield pa.RecordBatch.from_pydict({
            "engine_loaded": [engine_loaded], "zips": [zips],
            "reads": [reads], "secs": [time.perf_counter() - t]})

    rows = spark.range(2).repartition(2).mapInArrow(
        probe, "engine_loaded boolean, zips array<string>, "
               "reads array<string>, secs double").collect()
    assert len(rows) == 2
    for row in rows:
        assert any(z.endswith("pyspark.zip") for z in row.zips), row.zips
        assert row.reads == [], (row.reads, row.secs)


def test_shipped_zip_overwrites_a_stale_one(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    stale = tmp_path / f"ollama_ocr_spark-{os.getpid()}.zip"
    with zipfile.ZipFile(stale, "w") as zf:
        zf.writestr("ollama_ocr_spark/__init__.py",
                    "raise ImportError('engine from an earlier process')\n")
    builds = []
    build = session.build_dist_zip
    monkeypatch.setattr(session, "build_dist_zip",
                        lambda path: builds.append(path) or build(path))
    shipped = []
    fake = SimpleNamespace(sparkContext=SimpleNamespace(
        addPyFile=shipped.append))
    session._dist_zip.cache_clear()
    try:
        session._ship_package(fake)
        session._ship_package(fake)
    finally:
        session._dist_zip.cache_clear()

    assert shipped == [str(stale)] * 2
    assert builds == [str(stale)]
    pkg = Path(session.__file__).parent
    current = {p.relative_to(pkg.parent).as_posix(): p.read_bytes()
               for p in pkg.rglob("*.py")}
    with zipfile.ZipFile(stale) as zf:
        assert sorted(zf.namelist()) == sorted(current)
        assert all(zf.read(n) == src for n, src in current.items())
