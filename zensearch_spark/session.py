"""SparkSession factory tuned for this engine.

local[N] in the sandbox; the same configs are what we'd pass to
spark-submit on a real cluster (AQE on, Arrow on, explicit shuffle
partition sizing).

Python workers start from ``zensearch_spark.worker_daemon``, which drops
the spark-core jar, and Spark's pyspark/py4j zips when the same pyspark
is installed, from their ``sys.path`` (every task's
``importlib.invalidate_caches()`` re-reads each zip on the path), then
imports pandas and pyarrow and freezes its heap before it forks any
worker (else each new worker imports pandas on its first UDF, and the
daemon's ``gc.collect()`` after every task walks all of them).
"""

from __future__ import annotations

import os
import time
from collections.abc import Mapping

from pyspark.sql import SparkSession


def _scratch_write_probe(path: str, mb: int = 32) -> float:
    """Seconds to write ``mb`` MB of fresh pages under ``path``."""
    fn = os.path.join(path, f".zs_scratch_probe_{os.getpid()}")
    buf = b"\0" * (1 << 20)
    t0 = time.monotonic()
    try:
        with open(fn, "wb") as f:
            for _ in range(mb):
                f.write(buf)
    finally:
        try:
            os.unlink(fn)
        except OSError:
            pass
    return time.monotonic() - t0


def pick_local_dir() -> str:
    """Scratch dir for shuffle/spill, chosen by MEASUREMENT.

    This guest has two failure modes on opposite days: the virtio disk
    throttles to ~100 MB/s with multi-second writeback stalls (round-2
    finding — tmpfs was the fix), and the host's memory-fault path
    sometimes degrades to ~100-300 µs per fresh 4 KiB page (round-3
    finding: touching 256 MB of NEW tmpfs/anon pages measured 12-24 s
    after idle, while reused pages stay ~ns) — which poisons tmpfs
    shuffle writes specifically (postings stage 4.99 s with /tmp
    shuffle vs 20-130 s with /dev/shm shuffle in the same hour).
    Neither choice is statically right, so probe a 32 MB write at
    session build (~30 ms healthy) and fall back to /tmp when tmpfs
    is in its pathological mode.
    """
    override = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if override:
        return override
    if not os.path.isdir("/dev/shm"):
        return "/tmp"
    cost = _scratch_write_probe("/dev/shm")
    if cost > 0.25:
        # second look — the first fresh-fault burst often warms the path
        cost = _scratch_write_probe("/dev/shm")
    return "/dev/shm/spark-local" if cost <= 0.25 else "/tmp/spark-local"


def default_sizing(environ: Mapping[str, str] = os.environ) -> tuple[int, str]:
    """(cores, driver_mem) for a ``get_spark`` call that passes neither:
    ``SPARK_GRAFT_CPUS`` / ``SPARK_GRAFT_DRIVER_MEM`` when set, else
    every CPU this process may run on and a driver heap of a quarter of
    physical RAM (at least 1 GB) — local mode runs every task inside
    the driver JVM, so its heap is the whole engine's memory."""
    cores = environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    phys_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    driver_mem = (
        environ.get("SPARK_GRAFT_DRIVER_MEM") or f"{max(1, round(phys_gb / 4))}g"
    )
    return int(cores), driver_mem


def get_spark(
    app: str = "zensearch_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    driver_mem: str | None = None,
) -> SparkSession:
    default_cores, default_mem = default_sizing()
    cores = int(cores or default_cores)
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    driver_mem = driver_mem or default_mem
    # Make the package importable in Python workers regardless of cwd —
    # the local-mode analog of `spark-submit --py-files zensearch_spark.zip`.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if repo_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{repo_root}{os.pathsep}{pp}" if pp else repo_root
        )
    # Shuffle/scratch location is probed, not assumed — see
    # pick_local_dir for the two guest pathologies it arbitrates.
    local_dir = pick_local_dir()
    # glibc malloc retention for the driver-spawned Python workers:
    # without these, every large NumPy/Arrow buffer is mmap'd and
    # munmap'd per batch, and each reallocation re-faults fresh pages —
    # catastrophic when the host fault path degrades (pick_local_dir
    # docstring). TRIM=-1 keeps freed arena pages; MMAP_THRESHOLD=1G
    # routes big buffers through the retained arena.
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "-1")
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "1073741824")
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # guide §9 starting config: let the planner pick shuffled-hash
        # join when its per-partition build-side size conditions hold
        # (sort-merge still chosen when the build side is too big) —
        # avoids sorting wide probe sides in equi-joins
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir", local_dir or "/tmp")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # see the module docstring: no zip re-read per Python task
        .config("spark.python.daemon.module", "zensearch_spark.worker_daemon")
        # bigger Arrow batches amortize per-batch pandas conversion in
        # mapInPandas stages (measured: 540k-turn block encode
        # 16.3 s → 12.9 s at local[32]); raises per-task memory by
        # ~batch × row-width, well within executor budgets
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "131072")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Input split size is WORKLOAD-dependent (guide §6): the local
        # testdata ships one file per table with multi-MB row groups,
        # so the 128m default reads e.g. the whole 126 MB lineitem in
        # ONE task; 16m splits it at row-group granularity across
        # cores. On a large cluster with many-GB scans the guide's
        # 512m–1g is right — set SPARK_GRAFT_MAX_PARTITION_BYTES there.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "16m"),
        )
        # This guest's degraded phases can stall the whole JVM long
        # enough that the (in-process!) executor→driver heartbeat
        # times out and Spark tears the context down mid-job
        # (observed: RpcEndpointNotFound → "SparkContext was shut
        # down" during a parquet write, BENCH/campaign_failures.log).
        # Local mode has no real fault domain, so generous timeouts
        # are strictly safer; on a cluster the same knobs are the
        # standard remedy for long-GC executors.
        .config("spark.network.timeout", "600s")
        .config("spark.executor.heartbeatInterval", "60s")
        # MIN/MAX/COUNT aggs with no filter/group answer from parquet
        # footer statistics instead of scanning data pages — makes the
        # distributed dense-id invariant check (plans/index_build.py
        # _table_id_stats) metadata-only at any scale
        .config("spark.sql.parquet.aggregatePushDown", "true")
        # No web UI (driver overhead). Status data does not need it:
        # statusTracker() and the status store behind it (which
        # perfbench reads per stage and per operator) run with the UI
        # off. retainedStages is read by that store's listener, so it
        # still bounds how many finished stages a long run can query.
        .config("spark.ui.enabled", "false")
        .config("spark.ui.retainedStages", "4000")
        # Cap GC threads: the JVM defaults to ~23 parallel GC threads at
        # 32 CPUs, and GC+task thread oversubscription inside this VM
        # collapses throughput (measured: 50M-row shuffle 129.7s with
        # default GC vs 6.3s with the cap at local[32]). On a real
        # multi-executor cluster the same principle applies per
        # executor: size executor cores + GC threads within the
        # container's CPU quota.
        .config(
            "spark.driver.extraJavaOptions",
            "-Djava.net.preferIPv4Stack=true "
            f"-XX:ParallelGCThreads={os.environ.get('SPARK_GRAFT_GC_THREADS', '8')} "
            "-XX:ConcGCThreads=2",
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
