"""SparkSession construction + package shipping.

``attach_package`` zips morph_xr2rml_spark and registers it with
``sparkContext.addPyFile`` so executor Python workers can unpickle the
pandas-UDF closures — the in-process equivalent of the
``spark-submit --py-files`` deployment the north rule requires. Called
automatically by MappingCompiler; idempotent per session.

``build_session`` applies the scale-tuned defaults used by the pipeline
(AQE + skew-join splitting, Arrow batches).
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

_ATTACHED_SESSIONS: set[int] = set()

# partitions the first job of a take reads (Spark's default is 1). An
# endpoint result is bounded by ``df.limit(n).collect()``, and a
# rewriting-mode answer is a union of a few key-filtered scans or an
# AQE-coalesced shuffle: with 1, its first job reads one partition and
# a second job reads the rest (a point lookup over two scans ran 2 jobs
# where 1 does). A truncated large result ships at most this many
# times ``n`` rows to the driver.
TAKE_PARTITIONS = 16


def package_zip() -> str:
    """Create (once) a zip of the morph_xr2rml_spark package."""
    pkg_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = os.path.join(tempfile.gettempdir(), "morph_xr2rml_spark_pyfiles.zip")
    if not os.path.exists(out) or os.path.getmtime(out) < _newest_mtime(pkg_dir):
        tmp = out + ".tmp"
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                if "__pycache__" in root:
                    continue
                for fname in files:
                    if not fname.endswith(".py"):
                        continue
                    full = os.path.join(root, fname)
                    rel = os.path.join(
                        "morph_xr2rml_spark", os.path.relpath(full, pkg_dir)
                    )
                    zf.write(full, rel)
        os.replace(tmp, out)
    return out


def _newest_mtime(pkg_dir: str) -> float:
    newest = 0.0
    for root, _dirs, files in os.walk(pkg_dir):
        for fname in files:
            if fname.endswith(".py"):
                newest = max(newest, os.path.getmtime(os.path.join(root, fname)))
    return newest


def attach_package(spark: SparkSession) -> None:
    """Ship this package to executors (idempotent per session)."""
    key = id(spark.sparkContext)
    if key in _ATTACHED_SESSIONS:
        return
    spark.sparkContext.addPyFile(package_zip())
    _ATTACHED_SESSIONS.add(key)


def build_session(
    app_name: str = "morph-xr2rml-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Session with the defaults the KG pipeline assumes at scale:
    AQE (runtime coalescing + skew-join splitting), Arrow transfers for
    pandas UDFs, and sane local parallelism.

    PySpark's DataFrame debugging (``spark.python.sql.dataFrameDebugging
    .enabled``) is switched off: with it on, every Column function call
    captures the Python stack and sends it to the JVM, which roughly
    doubles the Py4J round trips of compiling a mapping. It is a static
    config, read once per process, so it is set here at build time. The
    cost: an analysis error no longer names the Python line of the
    call that built the failing expression."""
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    conf = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.python.sql.dataFrameDebugging.enabled": "false",
        # compiled whole-stage/expression classes kept for reuse by
        # later queries. Spark's default of 100 holds less than one
        # round of a rewriting-mode endpoint's requests: a numeric key
        # constant is inlined into generated code, so every key lookup
        # adds classes and evicts those a repeated query shape could
        # reuse (at 100, each DESCRIBE recompiled ~40). Static: read
        # once, at start-up.
        "spark.sql.codegen.cache.maxEntries": "1000",
        "spark.sql.limit.initialNumPartitions": str(TAKE_PARTITIONS),
        # long-lived driver hygiene: the live UI/status stores retain
        # per-task metrics for every stage ever run, which grows the
        # heap without bound over a many-job session and drags later
        # jobs into GC churn. Keep only a small rolling window.
        "spark.ui.enabled": "false",
        "spark.ui.retainedJobs": "50",
        "spark.ui.retainedStages": "100",
        "spark.ui.retainedTasks": "5000",
        "spark.sql.ui.retainedExecutions": "10",
        "spark.worker.ui.retainedExecutors": "10",
    }
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    conf.update(extra_conf or {})
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    attach_package(spark)
    return spark
