"""SparkSession construction with scale-appropriate defaults.

The reference delegates distributed execution to Celery workers
(docker-compose.yaml:56-60); here Spark's own scheduler is the
execution substrate, so the session config is the moral equivalent of
the reference's compose file.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults chosen for the driver's local[$SPARK_GRAFT_CPUS] harness at
# sf<=0.1.  On a real cluster the same code runs unchanged; only these
# knobs move (shuffle.partitions ~ 2-3x total cores, maxPartitionBytes
# 128-256m, AQE handles the rest at runtime).  The codegen class cache
# (codegen.cache.maxEntries 4096, not Spark's 100) does not move with the
# cluster: it is sized to the engine's working set of generated classes,
# which is a property of the plans, not of the data or the cores.
_LOCAL_DEFAULTS: dict[str, str] = {
    # AQE: runtime re-planning — coalesces tiny shuffle partitions at
    # small SF, splits skewed ones at large SF.  Core of the
    # "same plan works at 1000x" story.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # local runs are sub-GB: a small fixed shuffle width avoids paying
    # 200-task overhead per exchange; AQE coalesces further.
    "spark.sql.shuffle.partitions": "32",
    # Arrow for any pandas UDF / toPandas path (vectorized transfer).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic timestamp semantics vs the DuckDB oracle: treat
    # stored parquet instants as UTC everywhere (SURVEY.md §7 H1).
    "spark.sql.session.timeZone": "UTC",
    # Small dims (region/nation/supplier/part at test SF) broadcast.
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    # local mode = driver and executors share one JVM; a long session
    # running the whole declared-query suite degrades under GC pressure
    # at 8g (measured: late queries 5-10x slower), so default higher.
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"),
    "spark.ui.enabled": "false",
    # Spark keeps compiled whole-stage/projection classes in an LRU of
    # this many entries (default 100).  One q_corpus_pipeline run needs
    # ~138 distinct classes, so at 100 the cyclic access misses every time
    # and each later run recompiled ~127 of them (0.9-1.1 s of Janino, then
    # JIT warm-up of the new classes).  One pass over the 238 timed faces
    # at sf0.01 compiles 3,233 classes (235 MB metaspace after, 227 MB at
    # 100 entries); 4096 holds them all.
    # Static: read once when the context starts.
    "spark.sql.codegen.cache.maxEntries": "4096",
    # lower()/upper() through the JDK's case mapping, not ICU's.  With
    # ICU on (Spark 4's default) every lower() goes through
    # CollationAwareUTF8String, whose static initializer calls ICU
    # toTitleCase on all 1,114,112 code points: the first executor
    # thread to lowercase spends about 1 s there (1.0-1.2 s measured on a
    # 4-core host) and every other thread that lowercases waits on the
    # class-init lock, once per JVM.  With ICU off the class is never
    # initialized.  ASCII text takes UTF8String.toLowerCaseAscii on both
    # paths, so its output does not change.  Where JDK 17 and ICU 77
    # disagree (lower() of 67 uppercase code points, upper()
    # of their 67 lowercase partners) DuckDB 1.0, the oracle, follows
    # the JDK on all of them; over the 2,981 code points that lower() or
    # upper() changes, DuckDB matches the JDK path on 2,872 and the ICU
    # path on 2,738.  tests/test_case_mapping.py pins the 67 + 67.
    # Runtime: ensure_engine_conf sets it on a session built elsewhere.
    "spark.sql.icu.caseMappings.enabled": "false",
}


def build_session(app_name: str = "artemia-airflow-spark", master: str | None = None,
                  extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    so the same entry point works under the driver harness and in tests.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name).master(master or f"local[{cpus}]")
    conf = dict(_LOCAL_DEFAULTS)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def ensure_engine_conf(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable subset of engine defaults to an
    externally-provided session (the driver passes its own).

    Only touches confs that are safe to set post-startup.  The codegen
    class cache size (``spark.sql.codegen.cache.maxEntries``) is static,
    so a session built elsewhere, such as the driver's, keeps Spark's 100
    entries and the composed faces (``q_corpus_pipeline`` and the other
    faces that need over 100 generated classes) recompile most of their
    classes on every run there.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.icu.caseMappings.enabled", "false")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    except Exception:
        pass  # static conf on some builds; harmless
    return spark


def codegen_compiles(spark: SparkSession) -> int:
    """Generated classes compiled in this JVM so far (Spark's
    ``CodegenMetrics`` compilation count; a codegen-cache hit adds 0).

    Take the difference around a run: a repeat in a session whose codegen
    cache holds the run's classes compiles at most a few (AQE can number
    whole-stage codegen stages differently from one run to the next).
    """
    return int(spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
               .METRIC_COMPILATION_TIME().getCount())
