"""SparkSession factory.

Local testing runs ``local[$SPARK_GRAFT_CPUS]`` (single JVM); production is a
multi-executor cluster — every config below is chosen to be correct for both:

- AQE on: runtime shuffle-partition coalescing + skew-join splitting. At
  100 TB the skewed keys (Zipfian entity names — SURVEY.md §4) are handled by
  AQE's skew-join rule rather than hand-salting in the common path.
- ``spark.sql.shuffle.partitions`` defaults to 2×cores locally; on a real
  cluster AQE coalesces from a high initial number, so we only pin it when
  running local.
- Arrow enabled: every Pandas-UDF boundary (NER, embedding kernels) is
  Arrow-batched, never row-at-a-time pickling.
- UTC session timezone: deterministic timestamp semantics vs the DuckDB
  oracle and across clusters.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def gpu_task_resources(
    gpus_per_task: float = 1.0,
    gpus_per_executor: int = 1,
    discovery_script: str | None = None,
) -> dict[str, str]:
    """Spark conf for GPU-scheduled NER execution (X1's accelerator
    path — the reference calls ``spacy.require_gpu()`` unconditionally,
    perform_NER.py:16; on Spark the equivalent is per-executor GPU
    scheduling so each mapInPandas model process owns a device).

    Pass the result as ``extra_conf`` to :func:`get_spark` (or merge
    into a spark-submit conf). Semantics at scale:

    - ``spark.executor.resource.gpu.amount`` — GPUs each executor
      requests from the cluster manager.
    - ``spark.task.resource.gpu.amount`` — GPU share one task claims.
      For a spaCy/transformer model, 1.0 (one task per GPU) is correct:
      fractional shares oversubscribe device memory. Combined with the
      lazy per-process model cache (operators/ner.py), one executor =
      one resident model = one GPU.
    - a discovery script is REQUIRED by Spark on YARN/K8s/standalone to
      map physical GPUs (`getGpusResources.sh` in the Spark distro);
      inside the model factory, the assigned address is available via
      ``TaskContext.get().resources()["gpu"].addresses`` — export it as
      ``CUDA_VISIBLE_DEVICES`` before ``spacy.require_gpu()``.

    Cluster-only: harmless to ship on local[*] builds but local mode
    does not schedule custom resources, so tests assert conf emission,
    not placement."""
    conf = {
        "spark.executor.resource.gpu.amount": str(gpus_per_executor),
        "spark.task.resource.gpu.amount": str(gpus_per_task),
    }
    if discovery_script:
        conf["spark.executor.resource.gpu.discoveryScript"] = discovery_script
        conf["spark.driver.resource.gpu.discoveryScript"] = discovery_script
    return conf


def rocksdb_state_conf(
    bounded_memory_mb: int | None = 512,
    changelog_checkpointing: bool = True,
) -> dict[str, str]:
    """Spark conf for LARGE-state Structured Streaming jobs (E6 at
    scale): the default HDFS-backed state store keeps every key's state
    as JVM objects on the executor heap — at 100 TB-scale key
    cardinality (billions of sessions/dedup keys) that is an OOM, not a
    tuning problem. RocksDB keeps state off-heap on local disk with
    incremental checkpointing; changelog checkpointing (Spark 3.4+)
    uploads only the per-batch delta instead of re-snapshotting.

    Pass as ``extra_conf`` to :func:`get_spark`. Local test runs work
    identically (RocksDB ships inside Spark) — the streaming tests run
    green under this conf, so adopting it is a flag flip, not a
    migration."""
    conf = {
        "spark.sql.streaming.stateStore.providerClass":
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        "spark.sql.streaming.stateStore.rocksdb."
        "changelogCheckpointing.enabled":
            "true" if changelog_checkpointing else "false",
    }
    if bounded_memory_mb is not None:
        conf["spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage"] = \
            "true"
        conf["spark.sql.streaming.stateStore.rocksdb."
             "maxMemoryUsageMB"] = str(bounded_memory_mb)
    return conf


def get_spark(
    app_name: str = "drugbankner-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    Honors ``SPARK_GRAFT_CPUS`` for local-mode parallelism; if a master is
    already configured (spark-submit on a cluster) we do not override it.
    Driver heap: ``SPARK_DRIVER_MEMORY``, else min(16g, physical RAM / 4).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    driver_memory = os.environ.get(
        "SPARK_DRIVER_MEMORY", f"{min(16 * 1024, phys_mb // 4)}m"
    )
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cpus), 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # spark.sql.optimizer.canChangeCachedPlanOutputPartitioning
        # stays at its DEFAULT (false) — evaluated and REJECTED with
        # numbers (round 15): flipping it lets AQE coalesce cached
        # plans' partitioning by BYTE statistics, which collapsed
        # every compute-heavy-per-byte stage fed by a small cached dim
        # to one task (the TF-IDF linker's posting fan-out: 6.0 s →
        # 46.7 s at sf0.1; the same failure class the linker's pin
        # gate exists for, induced engine-wide). The cached dims'
        # static width is what keeps per-row-heavy kernels parallel
        # when their input BYTES are tiny.
        .config("spark.sql.session.timeZone", "UTC")
        # pinned, not inherited (ADVICE r11): overflow guards
        # (timeseries.autocorrelation's check_overflow=False backstop)
        # document that BIGINT overflow RAISES rather than wrapping —
        # that must hold even if a future Spark default flips
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
    )
    # Only force a local master when none is configured (cluster submits set it).
    if "SPARK_MASTER" in os.environ:
        builder = builder.master(os.environ["SPARK_MASTER"])
    elif not os.environ.get("SPARK_SUBMIT_DEPLOY_MODE"):
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
