"""SparkSession factory with scale-appropriate defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory(master: str, phys_bytes: int) -> str:
    """``spark.driver.memory`` when SPARK_DRIVER_MEMORY is unset.

    In local mode the "driver" heap IS the executor heap for every
    worker thread, so size it for the machine, not for a thin cluster
    driver (8g across 32 threads = 256 MB each, pure GC pressure on a
    128 GiB box) — but never past half of physical memory, where the
    kernel OOM-kills the JVM instead of the JVM collecting garbage.
    Capped at 24g.
    """
    if not master.startswith("local"):
        return "8g"
    return f"{min(24 * 1024, phys_bytes // 2 // 2 ** 20)}m"


def get_spark(app: str = "nifi-datasynthesizer-spark",
              master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)
    b = (SparkSession.builder.appName(app).master(master)
         # deterministic timestamp semantics everywhere
         .config("spark.sql.session.timeZone", "UTC")
         # testdata events.parquet carries TIMESTAMP(NANOS): read as long,
         # normalized by io.read_table
         .config("spark.sql.legacy.parquet.nanosAsLong", "true")
         # AQE: runtime coalescing + skew-join handling — essential at scale
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
         .config("spark.sql.adaptive.skewJoin.enabled", "true")
         # NOTE: spark.sql.optimizer.canChangeCachedPlanOutputPartitioning
         # stays at its default (false) deliberately: with it on, AQE
         # coalesces the pinned candidate-join subtrees to ~1
         # partition based on their small INPUT bytes, serializing
         # joins whose cost is in the OUTPUT expansion (measured 6×
         # slower on dedup_fuzzy).  Skew inside cached joins is
         # handled structurally (salted block keys) instead.
         .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
         # Arrow for every pandas-UDF boundary
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.driver.memory",
                 os.environ.get("SPARK_DRIVER_MEMORY") or
                 _default_driver_memory(
                     master, os.sysconf("SC_PAGE_SIZE")
                     * os.sysconf("SC_PHYS_PAGES")))
         # every codegen'd stage is a generated class; a long session
         # running ~100 distinct queries fills the JVM's default 240 MB
         # code cache, after which the JIT disables itself and late
         # queries run interpreted (measured: the same 2M-row generator
         # 5 s early in a bench run, 28 s at position 77)
         .config("spark.driver.extraJavaOptions",
                 "-XX:ReservedCodeCacheSize=1g")
         # the generated-class cache (source -> compiled class) holds
         # 100 entries by default; a session running ~200 distinct
         # queries × several codegen stages each evicts constantly, so
         # even an immediate re-run of the same query re-compiles via
         # janino.  Sized to hold a long session's working set — this
         # caches COMPILED CODE keyed on generated source, never data
         # or results, and benefits any long-lived app identically
         .config("spark.sql.codegen.cache.maxEntries", "8192")
         .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)))
    # avro sink: the spark-avro module is external and needs a network
    # fetch at session start.  Opt-in (env var) rather than default:
    # in an offline environment ivy resolution would stall EVERY
    # session for a timeout before failing, so attempting it
    # unconditionally is strictly worse than the documented io.write
    # gate.  Set SPARK_GRAFT_AVRO=1 where Maven Central is reachable
    # and io.write(..., fmt="avro") lights up.
    if os.environ.get("SPARK_GRAFT_AVRO"):
        import pyspark
        # Spark 4.x builds are Scala 2.13; 3.x convenience builds are
        # Scala 2.12 — derive the suffix so the jar coordinate stays
        # valid if the project is ever run under an older pyspark
        major = int(pyspark.__version__.split(".")[0])
        scala = "2.13" if major >= 4 else "2.12"
        b = b.config("spark.jars.packages",
                     f"org.apache.spark:spark-avro_{scala}:"
                     f"{pyspark.__version__}")
    return b.getOrCreate()
