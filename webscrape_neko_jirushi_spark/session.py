"""SparkSession factory.

Local-mode defaults are tuned for the sandbox (single JVM, N threads);
on a real cluster the same builder is used with ``master`` unset so
spark-submit controls deployment. All engine code assumes only:
AQE on, Arrow on, UTC session timezone, shuffle partitions ~ cores.

Python workers import the installed, compiled PySpark, not
``$SPARK_HOME/python/lib/pyspark.zip``: the session's daemon module is
``worker_daemon``, which drops SPARK_HOME's archives from the workers'
``sys.path`` when the installed version matches the zip's. With the
archives on the path, every task's ``importlib.invalidate_caches()``
re-reads their zip directories: 0.15-0.25 s per Python-worker task
whatever its row count (4-core host), against under a millisecond
without them. The package's parent directory goes on the workers'
``PYTHONPATH`` so the daemon (and any engine UDF pickled by reference)
imports whatever the driver's working directory.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

_PACKAGE_PARENT = str(Path(__file__).resolve().parents[1])
_WORKER_PYTHONPATH = "spark.executorEnv.PYTHONPATH"


def get_spark(
    app_name: str = "webscrape_neko_jirushi_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``cores=None`` uses ``local[*]`` locally; an int pins ``local[N]``
    (used by the scaling bench to evidence N -> 4N efficiency).
    """
    if cores is None:
        env_cores = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env_cores}]" if env_cores else "local[*]"
        n_threads = int(env_cores) if env_cores else (os.cpu_count() or 8)
    else:
        master = f"local[{cores}]"
        n_threads = cores

    if shuffle_partitions is None:
        shuffle_partitions = max(n_threads, 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(n_threads))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # InferFiltersFromGenerate clones the ENTIRE generator
        # expression into a `size(e) > 0 AND e IS NOT NULL` filter
        # below every explode, and filter pushdown then carries that
        # clone through projections and exchanges down to the scan —
        # where column-projection fixes no longer apply, so array
        # builders (shingles, bigrams, k-gram windows) are evaluated
        # a second time per row WITH the interpreted-HOF per-element
        # re-derivation this engine's projections exist to avoid
        # (r6; e.g. source_overlap_exact 5.0 s -> 1.9 s,
        # containment_pairs 6.1 s -> 1.4 s at sf0.1). The rule's only
        # benefit is skipping Generate input rows whose array is
        # empty/NULL — rows that produce zero output either way; no
        # result changes, and none of this engine's generators feed
        # from prunable scans. Scale-independent: the clone cost
        # grows WITH data, so the exclusion matters more at 100 TB,
        # not less.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # parquet scan batching: keep partitions bounded so 100TB scans
        # spill-free with default executor memory
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # workers import the installed PySpark (module docstring)
        .config("spark.python.daemon.module", f"{__package__}.worker_daemon")
    )
    conf = dict(extra_conf or {})
    conf[_WORKER_PYTHONPATH] = os.pathsep.join(
        p for p in (conf.get(_WORKER_PYTHONPATH), _PACKAGE_PARENT) if p
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
