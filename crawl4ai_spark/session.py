"""SparkSession factory with the engine's scale-oriented defaults.

Defaults chosen for a multi-executor cluster reading ~100 TB:
  - AQE on (runtime re-plan, skew-join splitting, partition coalescing)
  - Arrow on (all our Python stages are pandas/Arrow-vectorized)
  - explicit shuffle-partition count (callers override per deployment)

In the sandbox we run local[N]; on a real cluster the same code is
submitted via `spark-submit --py-files crawl4ai_spark.zip job.py`.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import SparkSession


def build_session(
    app_name: str = "crawl4ai-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or "local[{}]".format(
        os.environ.get("SPARK_GRAFT_CPUS") or host_cpus()
    )
    if shuffle_partitions is None:
        # local[N] -> N shuffle partitions; clusters pass an explicit value
        # sized so each shuffle partition is ~128-256 MB at the target SF.
        digits = "".join(c for c in master if c.isdigit())
        shuffle_partitions = int(digits) if digits else 200

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # local[N] runs one JVM: N concurrent parquet writers each buffer
        # a full row group, so cap it at 16 MB (a real cluster spreads
        # writers across executors and would keep the 128 MB default)
        .config("spark.hadoop.parquet.block.size", str(16 * 1024 * 1024))
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory())
        .config("spark.ui.enabled", "false")
        # PySpark otherwise captures the Python call site on every
        # Column/DataFrame call (~5 py4j round trips each) for the
        # origin section of analysis errors; the errors themselves stay
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    _ship_package(spark)
    return spark


def host_cpus() -> int:
    """CPUs this process may run on: its affinity set, which a container
    or taskset narrows below the machine's count."""
    return len(os.sched_getaffinity(0))


def default_driver_memory() -> str:
    """Half the physical RAM in whole GiB (at least 1g). In local mode
    the driver JVM also runs every task; the other half stays for the
    Python workers and the page cache."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, ram // 2**31)}g"


def temp_dir(prefix: str) -> str:
    """A new temp dir that is removed when the interpreter exits — for
    dirs that must outlive the call creating them: the package zip the
    executors import, a query's warehouse under the lazy DataFrame it
    returns."""
    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def prewarm(spark: SparkSession) -> None:
    """Pay the one-time JVM/Python cold costs on a micro-job, not on
    the first real round.

    The cold-round decomposition (BENCH.md round 5) shows a fresh
    JVM's first engine rounds run ~2.5x slower in EVERY phase —
    driver-side analysis/codegen JIT, whole-stage-codegen class
    compilation, Python worker start-up, shuffle machinery, parquet
    committer class loading — rather than one slow stage. This
    exercises each of those paths once at trivial data volume
    (~2-4 s): a codegen aggregation over a shuffle, an Arrow-batched
    pandas-UDF stage with one task per default-parallelism slot, and a
    parquet round-trip. The pandas stage runs a package function, so
    each worker it starts imports the package and installs its
    zip-reload hook (zipreload.py) before the first real round.
    Idempotent; call it right after build_session on a fresh cluster
    (bench.py does, disclosed in its JSON)."""
    if spark.conf.get("crawl4ai_spark.prewarmed", "no") == "yes":
        return
    from pyspark.sql import functions as F

    # codegen + exchange + aggregate
    df = spark.range(100_000).select(
        F.col("id"), F.pmod(F.xxhash64(F.col("id").cast("string")), F.lit(97))
        .alias("k"))
    df.groupBy("k").agg(F.count(F.lit(1))).write.format("noop") \
        .mode("overwrite").save()

    # Arrow + Python workers (the engine's fetch/extract path)
    n = spark.sparkContext.defaultParallelism
    spark.range(0, 1_000 * n, 1, n).mapInPandas(_ident, "id long") \
        .write.format("noop").mode("overwrite").save()

    # parquet write+scan (committer + footer reader class loading)
    d = tempfile.mkdtemp(prefix="c4as_prewarm_")
    df.limit(1_000).write.mode("overwrite").parquet(d)
    spark.read.parquet(d).write.format("noop").mode("overwrite").save()
    shutil.rmtree(d, ignore_errors=True)
    spark.conf.set("crawl4ai_spark.prewarmed", "yes")


def _ident(batches):
    """The prewarm pandas stage: pickled by reference, so the worker
    imports this package to run it."""
    yield from batches


def _ship_package(spark: SparkSession) -> None:
    """Distribute this package to executor Python workers.

    Equivalent of `spark-submit --py-files crawl4ai_spark.zip` when the
    session is built programmatically: our pandas UDFs close over module
    functions, so workers must be able to import `crawl4ai_spark`.
    Idempotent per session.
    """
    if spark.conf.get("crawl4ai_spark.shipped", "no") == "yes":
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    parent = os.path.dirname(pkg_dir)
    zip_base = os.path.join(temp_dir("c4as_pyfiles_"), "crawl4ai_spark")
    zip_path = shutil.make_archive(zip_base, "zip", root_dir=parent, base_dir="crawl4ai_spark")
    spark.sparkContext.addPyFile(zip_path)
    spark.conf.set("crawl4ai_spark.shipped", "yes")
