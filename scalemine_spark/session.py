"""SparkSession factory with the engine's standard configuration.

Scale posture (100 TB / 1000 executors): AQE on (runtime re-plan of joins,
post-shuffle coalescing, skew-join splitting), Arrow on (all Python crossings
are batched), UTC session timezone (oracle parity with DuckDB, which is
UTC-naive). Shuffle partitions default to 2x cores locally; on a real cluster
pass shuffle_partitions explicitly (~2-3x total executor cores).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "scalemine-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    cores=None -> respect $SPARK_GRAFT_CPUS, else local[*].
    """
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
        ncores = int(env) if env else (os.cpu_count() or 4)
    else:
        master = f"local[{cores}]"
        ncores = cores
    if shuffle_partitions is None:
        shuffle_partitions = max(4, 2 * ncores)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # measured (a heap x cores x AQE sweep of the pagerank loop, commit
        # 82fff62): 8g outran 28g by 2-3x on G1/JDK17 (large heaps regress
        # the iterative loops badly)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # PySpark's switch for DataFrame call-site capture: with it on, every
        # DataFrame/Column call first records its Python stack in the JVM
        # for error messages (pyspark/errors/utils.py `_with_origin`). That
        # was 3,195 of the 5,980 py4j round trips of a 10-iteration pagerank
        # call on a 20k-edge graph. Errors still raise, without the Python
        # call-site fragment.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    # shuffle spill on tmpfs when available: /tmp is rotational-backed here,
    # and disk-bound shuffle writes serialize multi-core scaling
    shm = os.environ.get("SPARK_LOCAL_DIRS_OVERRIDE", "/dev/shm/spark-local")
    if os.path.isdir(os.path.dirname(shm) or "/"):
        try:
            os.makedirs(shm, exist_ok=True)
            builder = builder.config("spark.local.dir", shm)
        except OSError:
            pass
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
