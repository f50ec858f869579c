"""SparkSession builders tuned for the CDC engine.

The reference runs a single Go process (SURVEY.md §3.1: the realtime loop is
single-goroutine). Our unit of parallelism is Spark tasks; everything below
scales by changing ``parallelism`` — this is how the N -> 4N scaling
criterion is evidenced in the sandbox (local[8] vs local[32]).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# Default driver heap: a quarter of physical memory, capped at 8g. A JVM
# shares its host with up to three more (the test session plus the CLI and
# multi-writer subprocesses it starts), and a fixed 8g pre-touched heap per
# JVM OOM-killed the test session on a 15 GB host.
JVMS_PER_HOST = 4
MAX_HEAP_GB = 8


def default_heap(meminfo: str) -> tuple[str, bool]:
    """(heap size, pre-touch?) for a driver JVM, from ``/proc/meminfo`` text.

    The heap is MemTotal / JVMS_PER_HOST in whole GiB, between 1g and
    MAX_HEAP_GB. Pre-touching faults the whole heap in at start-up, so it
    is on only when JVMS_PER_HOST heaps of that size fit in MemAvailable
    right now. Without both fields (not Linux) the answer is a small heap
    without pre-touch.
    """
    kb = {}
    for line in meminfo.splitlines():
        name, _, rest = line.partition(":")
        if name in ("MemTotal", "MemAvailable") and rest.split():
            kb[name] = int(rest.split()[0])
    if len(kb) < 2:
        return "2g", False
    gib = 1 << 20  # kB per GiB
    heap_gb = max(1, min(MAX_HEAP_GB, kb["MemTotal"] // (JVMS_PER_HOST * gib)))
    return f"{heap_gb}g", heap_gb * gib * JVMS_PER_HOST <= kb["MemAvailable"]


def _scratch_dir() -> str:
    for candidate in ("/dev/shm", "/tmp"):
        if os.path.isdir(candidate) and os.access(candidate, os.W_OK):
            d = os.path.join(candidate, "spark-scratch")
            os.makedirs(d, exist_ok=True)
            return d
    return "/tmp"


def build_session(
    app_name: str = "binlog-es-go-spark",
    parallelism: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create a local SparkSession sized to ``parallelism`` cores.

    Shuffle partitions scale with cores (1x by default) so the same job,
    run at two parallelism levels, changes only its task-level concurrency
    — the plan shape stays identical, which is what makes the two-level
    throughput comparison a fair scaling-efficiency measurement.

    The driver heap is ``SPARK_DRIVER_MEM`` (always pre-touched) when set,
    else sized to the host by :func:`default_heap`.
    """
    cores = parallelism or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle = shuffle_partitions or max(cores, 8)
    mem = os.environ.get("SPARK_DRIVER_MEM")
    pretouch = True
    if not mem:
        try:
            with open("/proc/meminfo") as f:
                mem, pretouch = default_heap(f.read())
        except OSError:
            mem, pretouch = default_heap("")
    # Xms=Xmx + AlwaysPreTouch + THP: fault the heap once at startup.
    # Measured on a 32-vCPU guest: guest-kernel page-fault serialization
    # makes concurrent fresh-page allocation collapse (8 workers allocating
    # = 0.25x the aggregate bandwidth of preallocated copies); pre-touching
    # the heap removes the dominant fault source and roughly 2.4x'd
    # 32-core MERGE throughput. Harmless on real clusters.
    touch = " -XX:+AlwaysPreTouch" if pretouch else ""
    java_opts = f"-Xms{mem}{touch} -XX:+UseTransparentHugePages"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let the planner pick shuffled-hash join when its size conditions
        # fit (optimization guide §3.1/§9): equal-keyed iterative joins
        # (connected components, LSH pair joins) pay a per-round sort
        # under sort-merge for nothing — measured 10-40% per-round win on
        # the cc bench, no change at all where broadcast applies. Spark
        # still falls back to sort-merge when neither side's per-partition
        # build fits, so the spill story is unchanged at scale.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", mem)
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # shuffle/spill scratch on tmpfs when available: the sandbox's
        # virtio disk is slow/noisy; on a real cluster this is node-local
        # NVMe and the setting is harmless
        .config("spark.local.dir", _scratch_dir())
        # Output-committer v2 + no _SUCCESS markers: task outputs move to
        # the destination at TASK commit (no serial job-commit rename
        # pass). Safe for this engine at any scale: the lake's real commit
        # point is the manifest link (lake/table.py), so a partially
        # committed data directory is simply never referenced (and is
        # reclaimed by expire_snapshots) — the v1 committer's atomicity
        # buys nothing here and costs driver time per commit.
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        .config("spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def get_or_create(spark: SparkSession | None = None) -> SparkSession:
    return spark or build_session()
