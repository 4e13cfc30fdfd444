"""SparkSession factory with the engine's frozen conf block.

Replaces the reference's session config (main.py:≈12-14 GPU placement /
allow_growth [R]) with the Spark-native knobs that matter at scale:
AQE (+ skew-join splitting), Arrow-batched Python UDFs, shuffle
partition sizing (SURVEY.md §4).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from zh_ner_tf_spark.config import SPARK_CONF


def get_spark(
    app_name: str = "zh_ner_tf_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    builder = SparkSession.builder.master(master).appName(app_name)
    # Local mode = single JVM: driver memory is the ONLY heap knob, and
    # the 1g default GC-thrashes (and corrupts shuffle temp files) on
    # 10^5-row shuffles. Python workers live outside this heap.
    builder = builder.config(
        "spark.driver.memory",
        os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem(),
    )
    for k, v in SPARK_CONF.items():
        builder = builder.config(k, v)
    # In local mode threads ≈ cores; one shuffle partition per core keeps
    # every stage fully parallel without tiny-task overhead. On a real
    # cluster this would be ~2-3x total executor cores.
    n = shuffle_partitions or _parallelism(master)
    builder = builder.config("spark.sql.shuffle.partitions", str(n))
    builder = builder.config("spark.default.parallelism", str(n))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _default_driver_mem() -> str:
    """32g, or half the machine's physical memory when that is smaller:
    a heap sized past physical memory lets the JVM grow until the kernel
    kills it (with every later Spark call failing on a dead gateway),
    and the Python workers need the other half."""
    try:
        phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    except (ValueError, OSError):
        return "32g"
    return f"{min(32 * 1024, phys_mb // 2)}m"


def _parallelism(master: str) -> int:
    if master.startswith("local["):
        inner = master[len("local["):-1]
        if inner == "*":
            return os.cpu_count() or 8
        return int(inner)
    return 64
