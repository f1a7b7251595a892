"""SparkSession factory with scale-oriented defaults.

Defaults chosen for a 1000-executor / 100 TB deployment and scaled down for
local[] testing:
  - AQE on (runtime coalescing + skew-join splitting),
  - explicit shuffle-partition count from SPARK_GRAFT_CPUS (cluster: 2-3x cores),
  - Arrow enabled for every pandas/Arrow UDF path,
  - broadcast threshold left at default; TBox/alias maps are broadcast explicitly,
  - driver heap a quarter of MemTotal within [1, 8] GiB (SPARK_DRIVER_MEM
    overrides): the JVM shares a swapless box with the Python workers and
    the page cache.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory() -> str:
    """A quarter of MemTotal, within [1 GiB, 8 GiB]."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    except (OSError, StopIteration):
        return "4g"
    return f"{max(1024, min(8192, kb // 1024 // 4))}m"


def get_spark(
    app_name: str = "re_shacl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # local: one shuffle partition per core; cluster: set 2-3x total cores.
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        shuffle_partitions = cpus if n in ("*", "") else int(n)

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory())
        # iterative fixpoints localCheckpoint() per round; replication not needed locally
        .config("spark.checkpoint.compress", "true")
        # NOT set: spark.rdd.compress / io.compression.codec=zstd — measured
        # A/B at 150k pages showed them ~9% SLOWER at local[4] on this box
        # (spare bandwidth, so compression only costs CPU); on a genuinely
        # bandwidth-starved cluster they are the first knobs to revisit
        # self-referencing unions (fixpoint deltas unioned back into their source
        # frame) trip Catalyst's Union constraint rewrite ("key not found: u#N")
        # in Spark 4.1; constraint propagation buys nothing for checkpoint-
        # truncated iterative plans, so turn it off
        .config("spark.sql.constraintPropagation.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def ensure_fixpoint_confs(spark: SparkSession) -> None:
    """Make iterative (union + localCheckpoint) plans safe on ANY session, not
    just ones built by get_spark: Spark 4.1's Union constraint rewrite throws
    "key not found: <attr>" on self-referencing unions (delta frames unioned
    back into their source).  Constraint propagation buys nothing for
    checkpoint-truncated iterative plans; runtime-settable, so set it here
    defensively for callers whose session we don't control (the driver's)."""
    spark.conf.set("spark.sql.constraintPropagation.enabled", "false")
