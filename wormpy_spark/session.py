"""SparkSession factory tuned for the crawl engine.

Scale posture: every knob here is chosen so the same code runs on a
1000-executor cluster — AQE on (runtime re-planning + skew-join
splitting), Arrow on (all Python logic rides vectorized batches, never
per-row), shuffle partitions sized to the local core count but
overridable via ``SPARK_GRAFT_CPUS`` / explicit args for cluster runs.

JIT posture: the driver JVM keeps HotSpot's tiered compilation but
hands a method to C2 only at ten times the default tier-4 thresholds
(``JIT_OPTIONS``). Most of what a crawl runs in the JVM is lukewarm
Spark plumbing; C2 compiling it burns more CPU than its faster code
saves back within the JVM's life. Truly hot loops, such as a query's
generated operators over millions of rows, still reach C2. C1 only
(``-XX:TieredStopAtLevel=1``) saves more compile CPU, but it made
``bench.py``'s headline query sweep about half again as slow; both
trades are measured in ``BENCH_r07_jit.json``. The flags are set through
``spark.driver.defaultJavaOptions``, which spark-submit puts before
``spark.driver.extraJavaOptions``, so a caller's own JVM flags add to
them. They are left out when the site's ``spark-defaults.conf`` sets
that key, so an administrator's driver flags are never replaced. They
reach only a driver JVM that ``get_spark`` itself starts, which in
``local[n]`` also runs the tasks: a cluster's executors keep HotSpot's
defaults, and under ``spark-submit`` the driver JVM is already running.
To get the defaults back, pass
``extra_conf={"spark.driver.defaultJavaOptions": ""}`` (or any flags of
your own under that key).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

# HotSpot's defaults are 5000, 600, 15000 and 40000.
JIT_OPTIONS = " ".join([
    "-XX:Tier4InvocationThreshold=50000",
    "-XX:Tier4MinInvocationThreshold=6000",
    "-XX:Tier4CompileThreshold=150000",
    "-XX:Tier4BackEdgeThreshold=400000",
])


def iceberg_conf(
    catalog: str = "wormpy", warehouse: str | None = None
) -> dict[str, str]:
    """The standard (public, documented) Iceberg-on-Spark wiring: a
    SparkCatalog entry + the runtime's SQL extensions. This is the
    config-only swap SURVEY §7.5-4 describes — when
    ``iceberg-spark-runtime`` is on the classpath these settings make
    ``spark.table(f"{catalog}.db.t")`` a real Iceberg catalog; without
    the jar the session still builds and the engine selects the
    parquet+manifest shim (sources/catalog.py). Exercised by
    tests/test_catalog.py::test_iceberg_config_contract."""
    conf = {
        f"spark.sql.catalog.{catalog}": "org.apache.iceberg.spark.SparkCatalog",
        f"spark.sql.catalog.{catalog}.type": "hadoop",
        "spark.sql.extensions": (
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"
        ),
    }
    if warehouse is not None:
        conf[f"spark.sql.catalog.{catalog}.warehouse"] = warehouse
    return conf


def iceberg_available(spark: SparkSession) -> bool:
    """True iff the iceberg-spark-runtime jar is actually on the JVM
    classpath (the shim stays in charge otherwise)."""
    try:
        spark.sparkContext._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


def select_catalog_backend(spark: SparkSession) -> str:
    """'iceberg' when the runtime jar is present, else 'shim' — the
    documented swap path, as a function instead of prose."""
    return "iceberg" if iceberg_available(spark) else "shim"


def local_cpus() -> int:
    """Cores for the default ``local[n]`` master: ``$SPARK_GRAFT_CPUS``
    when set, else the cores this process may run on."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def site_conf(key: str) -> str | None:
    """``key``'s value in the ``spark-defaults.conf`` that spark-submit
    reads when ``get_spark`` starts the JVM (``$SPARK_CONF_DIR``, else
    ``$SPARK_HOME/conf``), or None when that file does not set it."""
    from pyspark.find_spark_home import _find_spark_home

    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(
        _find_spark_home(), "conf"
    )
    try:
        with open(os.path.join(conf_dir, "spark-defaults.conf")) as f:
            lines = f.read().splitlines()
    except OSError:
        return None
    value = None
    for line in lines:
        # java.util.Properties syntax: "key value", "key=value", "key:value"
        m = re.match(r"([^\s=:#!][^\s=:]*)\s*[=:\s]?\s*(.*)$", line.strip())
        if m and m.group(1) == key:
            value = m.group(2)
    return value


def get_spark(
    app_name: str = "wormpy_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    iceberg: bool = False,
    iceberg_warehouse: str | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard conf.

    ``master`` defaults to ``local[n]`` with n from :func:`local_cpus`;
    on a real cluster spark-submit supplies the master and these
    settings remain valid.
    """
    cpus = local_cpus()
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime coalescing, skew-join splitting, plan re-optimization.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # NOTE: coalescePartitions.parallelismFirst stays at its default
        # (true). Crawl stages are CPU-heavy per byte (HTML parsing in
        # Arrow UDFs), so size-based coalescing to few partitions
        # serializes the real work — measured 2x slower with it off.
        # Arrow: all pandas UDF traffic is columnar batches.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Image/binary payload rows are fat — keep Arrow batches bounded
        # so an executor never materializes multi-GB batches.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # DF-cache columnar batches: default 10000 rows/batch makes
        # multi-MB humongous allocations out of binary body columns
        # (measured 250s+ of GC while building the web cache); smaller
        # batches keep allocations region-sized.
        .config("spark.sql.inMemoryColumnarStorage.batchSize", "1024")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Broadcast threshold: small dimension tables (robots rules,
        # host state) broadcast instead of shuffling the big frontier.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    # late C2 (see the module docstring); extraJavaOptions adds to it.
    if site_conf("spark.driver.defaultJavaOptions") is None:
        builder = builder.config("spark.driver.defaultJavaOptions", JIT_OPTIONS)
    if iceberg:
        for k, v in iceberg_conf(warehouse=iceberg_warehouse).items():
            builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
