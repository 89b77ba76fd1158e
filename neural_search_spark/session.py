"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]``; the settings below are the ones that
matter at cluster scale too: AQE on (runtime re-plan, skew-join
handling), Arrow for the pandas-UDF model paths, and a shuffle
partition count sized to the environment rather than the 200 default.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

# spark.driver.memory is a JVM memory string, a count with a unit suffix;
# Spark refuses a driver heap under 1.5x its 300 MiB of reserved memory
_MEM_UNITS = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
_MIN_DRIVER_MEM = 450 << 20
# the directory holding the `neural_search_spark` package: Python workers
# import it from there whatever directory the session was started in
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _settings() -> tuple[int, str]:
    """(local cores, driver memory) from SPARK_GRAFT_CPUS (default 32)
    and SPARK_GRAFT_DRIVER_MEM (default 8g); a ValueError names the
    variable that holds a value Spark would not run with."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if not re.fullmatch(r"\d+", cpus.strip()) or int(cpus) < 1:
        raise ValueError(f"SPARK_GRAFT_CPUS must be a positive integer, got {cpus!r}")
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    m = re.fullmatch(r"(\d+)([kmgt])", mem.strip().lower())
    if m is None or int(m[1]) * _MEM_UNITS[m[2]] < _MIN_DRIVER_MEM:
        raise ValueError(
            "SPARK_GRAFT_DRIVER_MEM must be a JVM memory size of at least 450m "
            f"with a k/m/g/t suffix (e.g. 8g), got {mem!r}"
        )
    return int(cpus), mem.strip()


def get_spark(app_name: str = "neural-search-spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus, driver_mem = _settings()
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        # point-lookup reads (forward-index rescore, mget) push literal
        # IN lists into the parquet scan; above this threshold Spark
        # silently degrades In to a min/max RANGE predicate, which a
        # shortlist of ids scattered over the id space cannot prune
        # (measured 2.4x slower on the dim-384 forward rescore)
        .config("spark.sql.parquet.pushdown.inFilterThreshold", "1024")
        .config("spark.driver.memory", driver_mem)
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()
