"""SparkSession factory tuned for this engine.

Local-mode testing uses ``local[N]``; the same configs are what we'd
ship in ``spark-defaults.conf`` on a real cluster (AQE on, skew-join
on, Arrow on). Cores and shuffle partitions are parameters, so one
plan runs at any DOP; `perfbench` pins both through
``SPARK_GRAFT_CPUS``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    app_name: str = "osm-wikipedia-tag-validator-spark",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    cores=None → ``local[*]``. On a real cluster this function is not
    used; jobs are launched with spark-submit and pick up the active
    session — every operator in this package takes ``spark`` or a
    DataFrame explicitly and never creates its own session.
    """
    cores_env = os.environ.get("SPARK_GRAFT_CPUS")
    if cores is None and cores_env:
        cores = int(cores_env)
    master = f"local[{cores}]" if cores else "local[*]"
    ncores = cores or (os.cpu_count() or 8)
    if shuffle_partitions is None:
        shuffle_partitions = max(DEFAULT_SHUFFLE_PARTITIONS, ncores)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # AQE: runtime coalescing + skew-join splitting. The one hot key,
        # the grid cell, joins against a broadcast dim, so AQE covers
        # the skew Catalyst can observe at runtime.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for pandas UDFs and toPandas — the engine's hot path is
        # Arrow-batched vectorized UDFs, never row-at-a-time Python.
        # Batch size 20000 (vs the 10000 default): the ingest profile is
        # per-batch numpy call overhead on small images, so bigger
        # batches buy throughput (A/B at 500k images, local[16]:
        # 28.9k → 33.0k img/s at 20000, ~35.8k at 32768 within noise,
        # 65536 regresses). The memory bound counts FULL DOP, not one
        # worker: worst-case 64 px rows cost ~48 KB of float32 decode
        # intermediates each → ~0.94 GB per in-flight worker batch ×
        # every concurrent Python worker (×8-core executor ≈ 7.5 GB;
        # ×local[32] ≈ 30 GB on this box) — 32768 doubles that for a
        # within-noise gain, so 20000 is the default and jobs with
        # wider binary payloads should override DOWN per job. Encoded
        # bytes are bit-identical across batch sizes by construction
        # (fixed-order dct8 transform, test_codecs).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        # Sized so a shuffle partition of the image table (binary col)
        # fits in executor memory at target SF.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"))
        # GC choice re-measured round 3 on quiet-box runs: G1 beats ZGC
        # on BOTH the Arrow-heavy ingest stage (32-wide full pipeline
        # 14.3 s vs 21.7 s median-of-3 at 1M images — ZGC's load
        # barriers tax the executor threads that shepherd Python
        # workers) AND the window/sort headline queries (equal or ~10%
        # faster across latest_order/topk/minhash/simhash at sf0.1).
        # The round-1 "G1 collapses under wide sorts" observation did
        # not reproduce once shuffle moved to tmpfs; if it resurfaces,
        # flip per-job via extra_conf.
        .config("spark.driver.extraJavaOptions", "-XX:+UseG1GC")
        .config("spark.executor.extraJavaOptions", "-XX:+UseG1GC")
        .config("spark.ui.enabled", "false")
        # shuffle/spill on tmpfs when available: local-mode shuffles are
        # disk writes on the driver host; a slow /tmp serializes every
        # wide stage (on a real cluster this is NVMe-local shuffle dirs)
        .config(
            "spark.local.dir",
            os.environ.get(
                "SPARK_GRAFT_LOCAL_DIR",
                "/dev/shm/spark-local" if os.path.isdir("/dev/shm") else "/tmp",
            ),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.maxResultSize", "4g")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    """Stop the active session and drop the per-snapshot memos that pin
    its objects (`snapshot_memo`: the cached pre-joined wiki dim, the
    collected polygon dim). Once the context is gone their handles are
    dead weight — dropping them makes the values collectable."""
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    _SNAPSHOT_MEMOS.clear()


# single-slot registry for values derived from one input snapshot (the
# validator's cached pre-joined wiki dim, the PIP paths' collected
# polygon dim): slot -> (source DataFrame, its input files, params, value)
_SNAPSHOT_MEMOS: dict[str, tuple] = {}


def snapshot_memo(slot: str, df: DataFrame, build, *params):
    """``build()``'s value, computed once per input snapshot of `df`.

    A call hits when `df` plans the same result as the slot's source
    (``DataFrame.sameSemantics``), reads the same input files
    (`_input_files`) and passes equal `params`. The file check matters:
    a file relation compares by root path, so a parquet path overwritten
    in place is semantically "the same" plan, but its listing names new
    files and misses. A hit on a DataFrame value that was cached and no
    longer is (e.g. after ``spark.catalog.clearCache()``) also misses.
    None of the checks launches a Spark job.

    A miss unpersists the slot's previous value (if it is a DataFrame)
    BEFORE building: the cache manager matches plans by the same
    root-path equality, so a stale entry would otherwise be handed back
    to the rebuilt plan. An older lazy plan that still references the
    previous value simply recomputes it from its source. One entry per
    slot, single-threaded driver assumption (the registry is not
    locked), cleared by `stop_spark()`."""
    files = _input_files(df)
    prev = _SNAPSHOT_MEMOS.get(slot)
    if prev is not None:
        src, src_files, src_params, value = prev
        if (
            src.sparkSession is df.sparkSession
            and src_files == files
            and src_params == params
            and src.sameSemantics(df)
            and not (isinstance(value, DataFrame) and value.is_cached
                     and not value.storageLevel.useMemory)
        ):
            return value
        del _SNAPSHOT_MEMOS[slot]
        if isinstance(value, DataFrame):
            try:
                value.unpersist()
            except Exception:
                pass  # context already stopped
    value = build()
    _SNAPSHOT_MEMOS[slot] = (df, files, params, value)
    return value


def _input_files(df: DataFrame) -> list[str]:
    """Sorted files of the file relations in `df`'s analyzed plan — what
    ``DataFrame.inputFiles()`` returns for an uncached `df`. That method
    reads the optimized plan, where a cached input's relation is already
    replaced by its cache and lists no files, so a cached and an
    uncached read of one snapshot would compare unequal."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    files: list[str] = []
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() != "LogicalRelation":
            continue
        relation = leaf.relation()
        if relation.getClass().getSimpleName() == "HadoopFsRelation":
            files.extend(relation.inputFiles())
    return sorted(files)
