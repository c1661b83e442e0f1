"""SparkSession builder (SURVEY §3.1 step 2).

Arrow on (all hot-path Python is pandas-UDF batches), AQE on (skew-join +
partition coalescing), UTC session timezone (DuckDB-oracle comparability),
small Arrow batches because ``content`` rows can be megabytes
(SURVEY §7.3 hard part 5).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from nise_dedup.config import DedupConfig

CGROUP_LIMITS = ("/sys/fs/cgroup/memory.max",                  # cgroup v2
                 "/sys/fs/cgroup/memory/memory.limit_in_bytes")  # v1


def default_driver_memory(meminfo: str = "/proc/meminfo",
                          cgroup_limits=CGROUP_LIMITS) -> str:
    """Half of the memory this process may use: MemTotal, or the cgroup
    limit when that is smaller ("max" or a missing file means none). In
    local mode the driver JVM holds every executor, and the Python
    workers and the OS need the other half; a fixed 24g default got the
    JVM OOM-killed on a 15 GB box."""
    with open(meminfo) as f:
        total = next(int(line.split()[1]) * 1024 for line in f
                     if line.startswith("MemTotal:"))
    for path in cgroup_limits:
        try:
            with open(path) as f:
                raw = f.read().strip()
        except OSError:
            continue
        if raw.isdigit():
            total = min(total, int(raw))
    return f"{max(512, total // 2 // 2**20)}m"


def task_width(spark: SparkSession, items: int | None = None) -> int:
    """Partition count of every CPU-heavy pipeline stage that sets its own
    width: the ingest spread that feeds the signature UDF, the salted
    buckets and the deep-verify mapper. It reads the core count
    ``defaultParallelism`` and the cap ``spark.sql.shuffle.partitions``,
    which ``build_session`` sets from ``cfg.shuffle_partitions``. (The
    sf-query scans in ``queries`` and ``vectors`` keep one task per core:
    on their one-shot inputs the floor of 16 measured slower.)

    Without ``items``: one task per core with a floor of 16, capped so
    explicit small-run sessions keep their layout. One wave of core-count
    tasks does the compute of two waves of 2x-core tasks with half the
    per-task overhead (A/B at sf1.0: warm pipeline wall 12-13 s -> 8-12 s).

    With ``items`` (the deep-verify residue): one task per 512 items, at
    most 4x the cap. Coarser tasks left a 20% straggler tail at 1M
    files/local[8]; finer ones pay ~200 ms of Arrow and worker setup per
    near-empty Python task."""
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if items is None:
        return min(cap, max(spark.sparkContext.defaultParallelism, 16))
    return max(1, min(4 * cap, -(-items // 512)))


def ensure_min_partitions(df: DataFrame, n: int) -> DataFrame:
    """Repartition ONLY when underpartitioned (e.g. the input arrived as a
    single unsplittable parquet row group, so every narrow stage — an
    Arrow UDF included — would run on one core; s234_signatures at sf1.0
    on local[32]: 10.2 s on one core, 1.5 s spread). On a real cluster the
    scan has natural splits and this is a no-op; the check is plan
    metadata, not an action."""
    if df.rdd.getNumPartitions() < n:
        return df.repartition(n)
    return df


def free_stored(df: DataFrame) -> None:
    """Free a frame's cache and, for a local checkpoint, its blocks:
    ``unpersist`` reaches a cache but not a local checkpoint, whose
    blocks live on the RDD under its LogicalRDD plan. A frame over a
    freed local checkpoint can no longer be read."""
    df.unpersist()
    plan = df._jdf.queryExecution().analyzed()
    if plan.nodeName() == "LogicalRDD":
        plan.rdd().unpersist(False)


def build_session(master: str | None = None,
                  cfg: DedupConfig | None = None,
                  app_name: str = "nise-dedup") -> SparkSession:
    """master=None -> local[$SPARK_GRAFT_CPUS]; master="" -> don't set a
    master at all (spark-submit provides it)."""
    cfg = cfg or DedupConfig()
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # Pin BLAS to one thread per Python worker BEFORE any worker forks:
    # Spark already parallelizes across task slots, so an unpinned
    # OpenBLAS (default: one thread per vCPU) oversubscribes N tasks x
    # 32 BLAS threads the moment a vectorized UDF touches a GEMM (the
    # ANN re-rank, embedding kernels). Measured on this box: the same
    # 2-vs-8-process GEMM benchmark reads ~1.1x unpinned (the 2-process
    # side alone saturates the machine) and ~3.96x pinned. Workers
    # inherit the JVM/driver environment in local mode; setdefault so an
    # operator's explicit setting wins.
    for k in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS",
              "MKL_NUM_THREADS", "NUMEXPR_NUM_THREADS"):
        os.environ.setdefault(k, "1")
    builder = SparkSession.builder.appName(app_name)
    if master != "":
        builder = builder.master(master or f"local[{cpus}]")
    builder = (
        builder
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                str(cfg.arrow_batch_rows))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE must be allowed to re-partition CACHED plans (round 6): every
        # pipeline stage is persisted, and by default InMemoryRelation pins
        # its partitioning, so no shuffle downstream of a cache was ever
        # coalesced — the bench ran ~50 stages x 64 near-empty tasks per
        # dedup run (event-log measured ~0.5 s/task of pure overhead).
        # Output rows are partition-independent; execution-only.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
                "true")
        # AQE coalescing keeps its parallelism-first default: a size-only
        # policy (parallelismFirst=false, 32m advisory) was A/B-measured
        # WORSE here — several stages are compute-dense per byte (the pair
        # dedup whose rows expand ~60x when vectors attach downstream ran
        # as ONE 8.5s-CPU task), so coalescing below the core count
        # serializes them. CPU-heavy Python stages additionally pin their
        # own width (task_width) with explicit repartitions, which AQE
        # never overrides.
        .config("spark.sql.shuffle.partitions", str(cfg.shuffle_partitions))
        # prefer shuffled-hash over sort-merge when sizes allow (guide §3.1/
        # §9): the pipeline's equi-joins are id-keyed and fixed-width; the
        # sort buys nothing downstream
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory",
                os.environ.get("NISE_DRIVER_MEM") or default_driver_memory())
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
    )
    # $NISE_SPARK_CONF: JSON dict of extra spark confs, applied LAST — the
    # experiment lever for A/B runs (e.g. forcing the unbroadcastable
    # regime with {"spark.sql.autoBroadcastJoinThreshold": "-1"},
    # VERDICT r4 next #3) without a code fork
    extra = os.environ.get("NISE_SPARK_CONF")
    if extra:
        import json
        for k, v in json.loads(extra).items():
            builder = builder.config(k, str(v))
    return builder.getOrCreate()
