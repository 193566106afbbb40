"""SparkSession factory with the engine's tuned defaults."""

from __future__ import annotations

import functools
import os
import tempfile
import zipfile

from pyspark.sql import SparkSession


def build_dist_zip(out_path: str) -> str:
    """Package this library into the zip that ships to executors — both the
    in-session ``addPyFile`` path (:func:`_ship_package`) and the cluster
    deployment path (``spark-submit --py-files engine.zip``, see
    ``tools/submit.sh``) use the same artifact."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    with zipfile.ZipFile(out_path, "w") as zf:
        for dirpath, _dirs, files in os.walk(pkg_dir):
            for name in sorted(files):
                if name.endswith(".py"):
                    full = os.path.join(dirpath, name)
                    zf.write(full, os.path.relpath(full, root))
    return out_path


@functools.cache
def _dist_zip() -> str:
    """This process's engine zip, built once. A zip already at the path is
    overwritten: an earlier process with the same pid left it, and it can
    hold older engine code."""
    return build_dist_zip(os.path.join(tempfile.gettempdir(),
                                       f"ollama_ocr_spark-{os.getpid()}.zip"))


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to executors (the local-mode analog of
    ``spark-submit --py-files engine.zip``) so Python workers can unpickle
    the mapInArrow kernels regardless of the driver's cwd."""
    spark.sparkContext.addPyFile(_dist_zip())


def get_spark(app: str = "ollama_ocr_spark", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(master)
        .appName(app)
        # match local cores, not the 200 default — at cluster scale this is
        # sized to ~2-3x total cores / target ~128MB post-shuffle partitions
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # html payloads are ~1-50KB; 8192 rows/batch ≈ 20-50MB Arrow batches:
        # few enough IPC roundtrips to keep workers pipelined, small enough
        # that a Python worker never balloons (pair with size-targeted
        # repartition for pathological payloads)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
    )
    # Operator-level overrides / experiment knobs, e.g.
    # SPARK_GRAFT_CONF="spark.shuffle.compress=false;spark.io.compression.codec=zstd"
    for kv in os.environ.get("SPARK_GRAFT_CONF", "").split(";"):
        if "=" in kv:
            k, v = kv.split("=", 1)
            builder = builder.config(k.strip(), v.strip())
    spark = builder.getOrCreate()
    _ship_package(spark)
    return spark


ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)


def enable_rocksdb_state(spark: SparkSession) -> None:
    """Switch this session's streaming state store to RocksDB (bundled with
    Spark 4) — the production path for large keyed state (sessionization,
    stream dedup): state lives off-heap/on-disk per executor instead of in
    the JVM heap, with zipped snapshots uploaded to the checkpoint. Runtime
    SQL conf, so it applies to queries started after this call."""
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER
    )
