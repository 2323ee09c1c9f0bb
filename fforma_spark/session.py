"""SparkSession factory tuned for the rollup engine.

Local-mode defaults mirror what a cluster deployment would set via
spark-submit --conf; everything here is also correct on a real
multi-executor cluster (AQE, Arrow, skew-join handling).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# The driver heap is pre-touched (see get_spark), so its default must fit
# the host: a quarter of the memory available at start, at most 16g.
_HEAP_SHARE = 0.25
_HEAP_MAX_GB = 16

#: Conf every session the engine builds carries. PySpark 4 records the
#: Python call site of each Column and DataFrame call for its error
#: messages: a stack walk plus ~14 py4j round trips per call, and an
#: attempted ``import IPython`` on the first one. Off, a warm FFORMA
#: pass makes less than half the round trips and the driver never
#: imports IPython. PySpark reads the flag once per process, on the
#: first Column call.
NO_CALL_SITES = {"spark.python.sql.dataFrameDebugging.enabled": "false"}

#: Spark's generated-class cache (LRU, 100 entries by default), sized
#: to hold the declared surface's working set about twice over; see
#: :func:`get_spark`.
CODEGEN_CACHE = {"spark.sql.codegen.cache.maxEntries": "2000"}

#: Conf every session the engine builds carries, in one place:
#: ``get_spark`` and the two spark-submit jobs read it.
SESSION_CONF = {**NO_CALL_SITES, **CODEGEN_CACHE}


def default_cpus() -> int:
    """Task slots when SPARK_GRAFT_CPUS is unset: the cores this process
    may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def default_driver_mem() -> str:
    """Driver heap when SPARK_GRAFT_DRIVER_MEM is unset: a quarter of
    /proc/meminfo MemAvailable, at least 1g and at most 16g."""
    avail_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                avail_kb = int(line.split()[1])
    gb = int(avail_kb * _HEAP_SHARE / (1024 * 1024))
    return f"{max(1, min(_HEAP_MAX_GB, gb))}g"


def _default_shuffle_partitions(master: str, cpus: int) -> int:
    """Match shuffle parallelism to the execution width: the local[N]
    thread count when local, else the env-declared core budget (a real
    cluster sizes this via --conf; AQE coalesces small partitions at
    runtime either way)."""
    if master.startswith("local[") and master.endswith("]"):
        # local[N], local[*], and local[N,maxFailures] forms
        n = master[6:-1].split(",")[0]
        return cpus if n == "*" else int(n)
    return cpus


def get_spark(
    app_name: str = "fforma_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    Under spark-submit (detected via the py4j gateway env), the
    submitted ``--master`` wins; as a plain python process ``master``
    defaults to ``local[$SPARK_GRAFT_CPUS]`` (default: nproc). The
    driver heap is ``$SPARK_GRAFT_DRIVER_MEM`` (default:
    ``default_driver_mem()``). Explicit arguments override both.

    The session records no Python call sites (:data:`NO_CALL_SITES`):
    an error raised by a failing expression keeps its class and
    message but no longer names the Python line that built the
    expression. To get that line back while debugging, pass
    ``extra_conf={"spark.python.sql.dataFrameDebugging.enabled":
    "true"}`` to the process's first ``get_spark`` call: the flag is a
    static conf, and PySpark reads it once per process.

    The session's generated-class cache holds 2000 entries
    (:data:`CODEGEN_CACHE`) instead of Spark's 100: a warm ``tiers``
    benchmark pass uses ~155 distinct whole-stage-codegen classes and
    the 50 declared queries ~940, so at 100 LRU evicted each class
    before its next use and every warm pass compiled them all again.
    The conf is static: it takes effect only in the call that creates
    the JVM session. ``extra_conf`` still overrides it.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or default_cpus())
    # Under spark-submit the driver JVM already exists (py4j gateway
    # env vars are set) and carries the submitted --master; forcing
    # local[N] here would silently turn a cluster job into a local
    # one. Only default to local[$SPARK_GRAFT_CPUS] when launched as
    # a plain python process.
    under_submit = "PYSPARK_GATEWAY_PORT" in os.environ
    if master is None and not under_submit:
        master = f"local[{cpus}]"

    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_mem()
    builder = (
        SparkSession.builder.appName(app_name)
        # Single-JVM local mode: many task threads contend on the
        # process mmap_lock (measured: threads stuck in
        # lock_mm_and_find_vma/__vm_munmap during shuffles). Fixed,
        # pre-touched heap + ParallelGC (never uncommits regions) +
        # no shuffle-block mmap removes the mmap/munmap churn.
        # Irrelevant-but-harmless on a real cluster (executor JVMs are
        # sized with Xms=Xmx there anyway).
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{mem} -XX:+AlwaysPreTouch -XX:+UseParallelGC",
        )
        .config("spark.storage.memoryMapThreshold", "2g")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.driver.memory", mem)
        .config("spark.ui.enabled", "false")
        # numpy kernels inside pandas UDFs must not oversubscribe BLAS
        # (reference pins BLAS to 1 thread: fforma/utils/utils.py:28-32)
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
    )
    if master is not None:
        builder = builder.master(master)
    if shuffle_partitions is not None:
        builder = builder.config(
            "spark.sql.shuffle.partitions", str(shuffle_partitions)
        )
    for k, v in {**SESSION_CONF, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if shuffle_partitions is not None:
        # explicit request on a possibly-reused session: the builder
        # config above landed in the runtime conf; clear the auto
        # marker so later default calls never clobber this value
        spark.conf.set("spark.fforma.autoShufflePartitions", "")
    elif not spark.sparkContext.getConf().contains(
        "spark.sql.shuffle.partitions"
    ):
        # No explicit setting in the context conf (this call /
        # spark-submit --conf / the builder that CREATED the session).
        # A reused session can also carry an explicit value only in
        # the RUNTIME conf (builder.config on getOrCreate of an
        # existing session, or a user's spark.conf.set) — never
        # clobber that either: only overwrite the stock Spark default
        # or the exact value this function itself last auto-set (the
        # marker stores that value, so any user change — even via
        # spark.conf.set — differs and is preserved; the one
        # undetectable case is a user explicitly asking for the stock
        # "200", which is indistinguishable from never-configured).
        current = spark.conf.get("spark.sql.shuffle.partitions", "200")
        last_auto = spark.conf.get("spark.fforma.autoShufflePartitions", "")
        if current == "200" or current == last_auto:
            val = str(
                _default_shuffle_partitions(spark.sparkContext.master, cpus)
            )
            spark.conf.set("spark.sql.shuffle.partitions", val)
            spark.conf.set("spark.fforma.autoShufflePartitions", val)
    spark.sparkContext.setLogLevel("WARN")
    return spark


def warm_python_workers(spark: SparkSession) -> None:
    """Launch the pyspark worker daemon while the JVM heap is still
    small.

    In local mode the daemon is forked from the (single) JVM at the
    FIRST Python stage; once the driver heap has grown (e.g. after a
    cached cascade) that fork costs tens of seconds of page-table
    copying. Spawning the daemon up front makes every later pandas-UDF
    stage fork from the small resident daemon instead. No-op cost
    ~3-6s once per process; saves ~10x that on the first kernel stage.

    Each pooled worker also imports the package, which installs
    :mod:`fforma_spark.zipcache`, so no task of the first kernel stage
    re-reads the unchanged zips on the workers' path.
    """
    import pandas as pd  # noqa: F401

    n = spark.sparkContext.defaultParallelism

    def _noop(it):
        import fforma_spark  # noqa: F401

        for pdf in it:
            yield pdf

    spark.range(0, n, 1, n).mapInPandas(_noop, "id long").count()


def ship_package(spark: SparkSession) -> None:
    """Ship this ``fforma_spark`` package to the Python workers, as
    ``spark-submit --py-files`` would.

    The driver may import the package from any cwd, but the workers
    import it only from their own path. The zip is named by a content
    fingerprint (md5 of every .py's path and bytes), so editing any
    source ships a new zip: a fixed name would let workers silently run
    stale kernel code. It is written atomically (temp file +
    ``os.rename``), so a concurrent driver never ships a partial zip.
    """
    import hashlib
    import tempfile
    import zipfile

    pkg = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg)
    sources = []
    for base, _dirs, files in os.walk(pkg):
        for fn in sorted(files):
            if fn.endswith(".py"):
                sources.append(os.path.join(base, fn))
    sources.sort()
    dig = hashlib.md5()
    for full in sources:
        dig.update(os.path.relpath(full, root).encode())
        with open(full, "rb") as f:
            dig.update(f.read())
    zpath = os.path.join("/tmp", f"fforma_spark_pkg_{dig.hexdigest()[:12]}.zip")
    if not os.path.exists(zpath):
        fd, tmp = tempfile.mkstemp(suffix=".zip", dir="/tmp")
        os.close(fd)
        with zipfile.ZipFile(tmp, "w") as z:
            for full in sources:
                z.write(full, os.path.relpath(full, root))
        os.rename(tmp, zpath)
    try:
        spark.sparkContext.addPyFile(zpath)
    except Exception as exc:  # noqa: BLE001
        # addPyFile raises only for a same-name re-add with different
        # contents; same-name same-content is a no-op. The fingerprint
        # name makes re-adds identical, so anything else is a genuine
        # shipping failure worth surfacing.
        if "already" not in str(exc).lower():
            raise


def codegen_compiles(spark: SparkSession) -> int:
    """Generated classes Janino has compiled in this JVM so far
    (Spark's ``CodegenMetrics`` compile counter). The difference
    across a warm pass is its cache misses: 0 once the generated-class
    cache holds the pass's working set."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())
