"""SparkSession builder with engine defaults.

Local-mode testing defaults; on a real cluster the same conf names apply
(spark-submit --py-files rayjoin_spark.zip). Shuffle-partition count is
the one knob that must track data volume: at 100 TB input you want
~2-4x total cores with AQE coalescing cleaning up the tail.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


#: share of physical memory given to the local-mode driver JVM by default
DRIVER_MEM_SHARE = 0.5
DRIVER_MEM_MIN_MB = 1024


def host_driver_memory() -> str:
    """Default ``spark.driver.memory``: half the host's physical memory
    (at least 1 GiB). In local mode the driver JVM is the whole engine."""
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{max(DRIVER_MEM_MIN_MB, int(phys_mb * DRIVER_MEM_SHARE))}m"


def get_spark(
    app_name: str = "rayjoin_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Local session sized from the host: ``local[os.cpu_count()]`` and a
    driver heap of half the physical memory, unless $SPARK_GRAFT_CPUS /
    $SPARK_GRAFT_DRIVER_MEM (or the arguments / ``extra_conf``) say
    otherwise.

    PySpark's DataFrame call-site capture is OFF by default: with it on,
    every DataFrame/Column call costs extra py4j round trips (active
    session, conf read, origin set/clear), which made building one LSI
    plan cost thousands of JVM calls. Re-enable it when chasing the
    Python origin of an analysis error:
    ``extra_conf={"spark.python.sql.dataFrameDebugging.enabled": "true"}``.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM") or host_driver_memory())
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # cell joins are pure equi-joins over uniform keys: a shuffled hash
        # join beats sort-merge (no point sorting 1e8 candidate rows)
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


#: maven coordinate of the Iceberg Spark runtime matching this PySpark
#: line (public artifact; only used when a fetch is explicitly allowed)
ICEBERG_PACKAGE = "org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:1.10.0"


def find_iceberg_jar() -> str | None:
    """Locate an Iceberg Spark runtime jar WITHOUT network access:
    $SPARK_GRAFT_ICEBERG_JAR, then ~/.ivy2/jars, then the pyspark jars
    dir. Returns the jar path or None."""
    import glob

    explicit = os.environ.get("SPARK_GRAFT_ICEBERG_JAR")
    if explicit and os.path.exists(explicit):
        return explicit
    import pyspark

    candidates = glob.glob(
        os.path.expanduser("~/.ivy2/jars/*iceberg-spark-runtime*.jar")
    ) + glob.glob(
        os.path.join(os.path.dirname(pyspark.__file__), "jars",
                     "*iceberg-spark-runtime*.jar")
    )
    return sorted(candidates)[-1] if candidates else None


def get_spark_iceberg(
    app_name: str,
    warehouse: str,
    catalog: str = "ice",
    cpus: int | None = None,
    allow_fetch: bool | None = None,
) -> SparkSession:
    """SparkSession with a REAL Iceberg hadoop catalog, or a loud failure.

    Probe order: a local runtime jar (find_iceberg_jar) -> optional maven
    fetch via spark.jars.packages when allow_fetch (default: env
    SPARK_GRAFT_ICEBERG_FETCH=1 — off in offline sandboxes, where ivy
    resolution would stall then fail). Raises RuntimeError with the
    probe's story when neither path yields the class; never returns a
    session that silently lacks the catalog."""
    if allow_fetch is None:
        allow_fetch = os.environ.get("SPARK_GRAFT_ICEBERG_FETCH") == "1"
    # spark.jars / spark.jars.packages are STATIC confs: getOrCreate would
    # silently return an already-running jar-less session and the class
    # check below would reject it — fail up front with the real cause
    # instead (callers wanting isolation run in a fresh process, as
    # tests/test_iceberg_catalog.py does)
    active = SparkSession.getActiveSession()
    if active is not None:
        raise RuntimeError(
            "get_spark_iceberg needs to LAUNCH the JVM with the Iceberg "
            "jar (spark.jars is a static conf), but a SparkSession is "
            "already active in this process — stop it first or call from "
            "a fresh process"
        )
    jar = find_iceberg_jar()
    extra = {
        f"spark.sql.catalog.{catalog}": "org.apache.iceberg.spark.SparkCatalog",
        f"spark.sql.catalog.{catalog}.type": "hadoop",
        f"spark.sql.catalog.{catalog}.warehouse": warehouse,
    }
    if jar:
        extra["spark.jars"] = jar
    elif allow_fetch:
        extra["spark.jars.packages"] = ICEBERG_PACKAGE
    else:
        raise RuntimeError(
            "Iceberg runtime jar not found (SPARK_GRAFT_ICEBERG_JAR, "
            "~/.ivy2/jars, pyspark jars) and maven fetch is disabled "
            "(set SPARK_GRAFT_ICEBERG_FETCH=1 where the network exists)"
        )
    spark = get_spark(app_name, cpus=cpus, extra_conf=extra)
    from rayjoin_spark.sources.tables import iceberg_available

    if not iceberg_available(spark):
        raise RuntimeError(
            "SparkSession came up WITHOUT org.apache.iceberg.spark."
            f"SparkCatalog on the classpath (probe: jar={jar!r}, "
            f"fetch={'attempted' if (not jar and allow_fetch) else 'off'}) "
            "— refusing to fall back silently; a pre-existing session may "
            "have been reused (stop it first) or the fetch failed"
        )
    return spark
