"""SparkSession construction with scale-oriented defaults.

Defaults chosen for the sandbox (local[N] single JVM) but expressed the way a
1000-executor deployment would set them: AQE on (runtime skew-join + coalesce),
Arrow on with large batches (vectorized pandas UDFs are the only Python in hot
paths), shuffle partitions sized to cores.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "etlpy_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    # Workers are separate Python processes: they need this package on their
    # path (in production this is spark-submit --py-files; locally PYTHONPATH).
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = f"{pkg_root}{os.pathsep}{pp}" if pp else pkg_root

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 8)
    master = master or os.environ.get("ETLPY_SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        # local[N] → N; a real cluster would use 2-3x total cores.
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
        # Keep Arrow batches large: per-batch Python invocation overhead is the
        # dominant UDF cost (CIDR'22 vectorized-UDF cost model, PAPERS.md).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("ETLPY_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # pages (one per Python-UDF task, sort, hash agg) and broadcast chunks
        # under G1's humongous size (2 MB at 8g): at the 64 MB / 4 MB defaults
        # each could start a concurrent mark cycle; call times varied with it
        .config("spark.buffer.pageSize", "1m")
        .config("spark.broadcast.blockSize", "1m")
        # Fork Python workers from a daemon that stops every task re-reading
        # pyspark.zip's directory (see spark_daemon.py); the package root is
        # on the workers' PYTHONPATH above, so it imports at daemon start.
        .config("spark.python.daemon.module", "etlpy_spark.spark_daemon")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
