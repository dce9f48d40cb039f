"""SparkSession factory tuned for the lineage-store engine.

Local-mode defaults mirror what we would set fleet-wide on a real
cluster: AQE on (runtime join re-planning + skew handling + partition
coalescing), Arrow transfers for the Pandas-UDF slow path, UTC session
timezone so timestamp semantics match the DuckDB oracle, and shuffle
partitions sized to the local core count instead of Spark's default
200 (at cluster scale this would instead be set to ~2-3x total cores,
or left to AQE's coalescing with a high initial value).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "lineage-store-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    On a real cluster the ``master`` and memory settings come from the
    deployment; everything else here is scale-portable configuration.
    """
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or cpus
    # transformWithState's state-server worker is a FRESH Python
    # process that unpickles StatefulProcessor classes by module
    # reference — it inherits PYTHONPATH but not the driver's
    # sys.path, so make the package importable there (no-op when the
    # package is pip-installed).
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{pp}" if pp else pkg_root
        )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Manifest-log scans (lineage.filelog) pass EXPLICIT file
        # lists; below this threshold Spark stats them serially on the
        # driver instead of launching a distributed listing job whose
        # scheduling overhead dominates (measured: 1.1s job vs 0.19s
        # serial for 512 paths). Local-fs stats are microseconds; on
        # object storage a real deployment would instead feed the
        # log's own (path, size) pairs to a custom FileIndex so NO
        # per-file stat happens at all — the log already knows sizes.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "100000")
        # InferFiltersFromGenerate synthesizes `size(e) > 0 AND
        # isnotnull(e)` from every explode(e) and pushes it below the
        # exchange — for this engine's explodes, e is an EXPENSIVE
        # expression chain (shingling, tokenization), so the inferred
        # filter re-evaluates the whole chain once per row before the
        # projection evaluates it again (plan evidence:
        # plans/r14/ds_minhash_lsh_candidates_before.txt, Filter (5)
        # vs Project (8) — the identical transform twice). The rows it
        # would prune (empty arrays) are dropped by the Generate
        # itself one operator later; what the rule saves is shuffling
        # the rare empty-array row, what it costs is 2x the dominant
        # per-row CPU at text scale. Spark guards this only for UDFs
        # (SPARK-36715), not builtin chains — excluded engine-wide.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        # PySpark's DataFrame debugging wraps every Column/DataFrame
        # call in a call-site capture: 4 extra py4j round trips per
        # call (getActiveSession, conf.get, PySparkCurrentOrigin.set
        # and .clear) plus a stack walk, ~1.4 ms a call on 4 vCPU
        # (it retries a failing `import ipykernel` every call where
        # IPython is installed without it). Building
        # `current_view().agg(...)` over a 7-column table took 1,684
        # py4j sends and ~300 ms with it on, 574 sends and ~190 ms
        # with it off (medians of 7 builds, 4 vCPU; with the fold as
        # SQL text, 156 sends and ~135 ms).
        # The price: runtime errors lose the Python `== DataFrame ==`
        # call-site block. PySpark reads this once per process, from
        # the first active session.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
