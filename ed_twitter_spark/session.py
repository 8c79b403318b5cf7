"""SparkSession factory with scale-oriented defaults.

Defaults are tuned for correctness at local[N] test scale while encoding the
settings we would ship to a 1000-executor cluster: AQE on (runtime join
re-selection + skew-join splitting), Arrow enabled for all pandas UDF
exchange, explicit shuffle-partition sizing, and UTC session time so
timestamp semantics are engine-independent.

Python workers. Outside spark-submit the session forks its Python workers
from ``ed_twitter_spark.daemon`` (Spark's ``spark.python.daemon.module``)
instead of ``pyspark.daemon``. Spark starts the daemon with ``pyspark.zip``,
the py4j zip and the spark-core jar first on ``sys.path``, and PySpark calls
``importlib.invalidate_caches()`` before every task, which makes each cached
``zipimporter`` re-read its archive; after every task a reused worker runs
``gc.collect()`` over every pandas and pyarrow object it imported. On a
4-core host (``local[4]``) an empty 64-partition ``mapInPandas`` took 4.9 s
and 19 s of CPU, about 300 ms per task, against 0.2 s for the same job on
the JVM alone. The daemon drops the archives when an unpacked pyspark and
py4j of the same versions are importable, imports the UDF stack once and
freezes it out of the collector, then runs ``pyspark.daemon``; workers fork
from it warm and share those pages, and the same job takes 1.1 s and 2.0 s
of CPU (about 30 ms per task). It falls back to Spark's
default daemon whenever it cannot be sure: under spark-submit (the gateway
port is set; executors may run elsewhere, with the package shipped as
``--py-files``), when the workers' start-up path would not import this
package, and, inside the daemon, when the unpacked versions differ from the
archives'.

Driver-built frames go to the JVM as Arrow (``arrow_frame``): a pickled
Python RDD would start a second daemon and four more workers for them.

Compile policy. A KG build runs in one short-lived local JVM, and most of
the JVM code it runs (the SQL planner, Janino, the generated classes, Java
serialization, the closure cleaner) is hot for a few seconds and never
again. On a 4-core host, a per-thread ``/proc`` split of one cold
``kg_build_widekb`` build put 28.9 s of its 62.4 s of CPU in the HotSpot C2
compiler threads, against 5.2 s in C1, 9.7 s in Spark's task threads and
9.0 s in all the Python workers together. So outside spark-submit the
driver JVM starts with the C2 (tier 4) thresholds at 5x the JDK 17
defaults (``DRIVER_JIT_OPTIONS``): only code that stays hot gets the
expensive compiler. That cut C2 to 15.8 s, and a cold build's CPU by 18%
over ten benchmark pairs, while reads in the first seconds of a fresh JVM
ran about 5% slower. C1 alone (``-XX:TieredStopAtLevel=1``) cut a cold
build's CPU by 40-50% but slowed the ingest workload's reads by 17-24%,
and 10x slowed them by 3-11%. The options go in
``spark.driver.defaultJavaOptions``, which Spark puts before
``spark.driver.extraJavaOptions``, so a caller's own JVM options are kept
and can override them. Under spark-submit the JVM is already running, and
nothing changes.
"""

from __future__ import annotations

import os
from importlib.machinery import PathFinder

from pyspark.sql import DataFrame, SparkSession

# Arrow batch size bounds per-batch memory of the embedding kernels
# (reference batches per-document; we batch per Arrow chunk).
ARROW_BATCH = 4096

DAEMON_MODULE = f"{__package__}.daemon"
_PKG_DIR = os.path.dirname(os.path.abspath(__file__))
_PKG_PARENT = os.path.dirname(_PKG_DIR)
# C2 thresholds at 5x the JDK 17 defaults (5000, 600, 15000, 40000): see
# "Compile policy" above
DRIVER_JIT_OPTIONS = (
    "-XX:Tier4InvocationThreshold=25000 -XX:Tier4MinInvocationThreshold=3000 "
    "-XX:Tier4CompileThreshold=75000 -XX:Tier4BackEdgeThreshold=200000"
)


def worker_imports_package(path: list[str]) -> bool:
    """Whether a worker whose ``sys.path`` starts with ``path`` imports this
    very package (so ``python -m`` can run its daemon module)."""
    spec = PathFinder.find_spec(__package__, path)
    return (
        spec is not None
        and spec.origin is not None
        and os.path.dirname(os.path.abspath(spec.origin)) == _PKG_DIR
    )


def arrow_frame(spark: SparkSession, columns: dict[str, list], schema: str) -> DataFrame:
    """Driver-side ``columns`` as a frame the JVM builds from Arrow batches.

    ``createDataFrame`` of a Python list, or of an empty pandas frame (which
    skips Arrow), ships the rows as a pickled Python RDD whose read starts
    Python workers; an Arrow table has no such path, empty or not.
    """
    import pyarrow as pa

    return spark.createDataFrame(pa.table(columns), schema)


def get_spark(
    app_name: str = "ed_twitter_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``cores`` defaults to $SPARK_GRAFT_CPUS or the CPUs this process may run
    on (its affinity mask, as ``nproc`` counts them). On a real
    cluster the master/url comes from spark-submit and these local[] settings
    are inert.
    """
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or len(os.sched_getaffinity(0))
    shuffle_partitions = shuffle_partitions or max(cores * 2, 8)

    # One BLAS thread per Python worker: Spark provides the parallelism
    # (one task per core); letting OpenBLAS/MKL also fan out oversubscribes
    # cores and silently skews any N-vs-4N scaling measurement. Set before
    # the JVM launches so python workers inherit it.
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")

    builder = SparkSession.builder.appName(app_name)
    # Under spark-submit the gateway JVM already carries the master and
    # driver memory from the CLI (--master, --driver-memory); setting them
    # here would *override* the submit args, not defer to them. The gateway
    # port env var marks that mode.
    under_submit = "PYSPARK_GATEWAY_PORT" in os.environ
    if not under_submit:
        builder = (
            builder.master(f"local[{cores}]")
            .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
            .config("spark.driver.defaultJavaOptions", DRIVER_JIT_OPTIONS)
        )
        # Workers start with the driver's working directory first on their
        # path, then PYTHONPATH: put this package's parent there, so UDFs
        # and the daemon import it from any working directory.
        worker_path = [_PKG_PARENT] + [
            p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p
        ]
        os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(worker_path))
        if worker_imports_package([os.getcwd(), *worker_path]):
            builder = builder.config("spark.python.daemon.module", DAEMON_MODULE)
    builder = (
        builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
