"""SparkSession factory tuned for the local[N] sandbox.

In production this engine runs via spark-submit --py-files on a real
multi-executor cluster (north_rule); the configs below are the ones that
matter at both scales (AQE, Arrow, shuffle partition sizing). Memory is left
to spark-submit in cluster mode.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def local_cores(spark: SparkSession) -> int | None:
    """Parsed N from a local[N] master; None on any non-local (cluster)
    master. local[*] reports the machine's CPU count."""
    m = spark.sparkContext.master
    if not m.startswith("local"):
        return None
    import re

    g = re.match(r"local\[(\d+|\*)\]", m)
    if not g:
        return None
    return os.cpu_count() if g.group(1) == "*" else int(g.group(1))


_ALLOC_TUNED = False


def tune_allocator() -> bool:
    """Raise glibc's mmap/trim thresholds so large numpy temporaries are
    served from the retained heap instead of fresh mmap regions.

    glibc mallocs above M_MMAP_THRESHOLD (dynamic, capped at 32 MB) go
    through mmap and are unmapped on free, so every decode/score call
    re-page-faults its working set; on this sandbox VM faulting runs at
    ~0.2 GB/s versus 15 GB/s for warm copies (measured, BENCH.md), which
    made the driver kernel's cold batch decode allocation-bound. Raising
    both thresholds keeps the arena resident across calls — RSS then holds
    near the kernel's peak working set, the right trade for a driver/
    executor process sized for the workload anyway. No-op (False) on
    non-glibc platforms."""
    global _ALLOC_TUNED
    if _ALLOC_TUNED:
        return True
    try:
        import ctypes

        libc = ctypes.CDLL("libc.so.6", use_errno=True)
        one_gb = 1 << 30
        libc.mallopt(-3, one_gb)  # M_MMAP_THRESHOLD
        libc.mallopt(-1, one_gb)  # M_TRIM_THRESHOLD
        _ALLOC_TUNED = True
        return True
    except Exception:
        return False


_WORKER_READY = False
# archive path → ((st_ino, st_size, st_mtime_ns), directory) of its last read
_ZIP_READS: dict[str, tuple[tuple[int, int, int], dict]] = {}


def _zip_stat(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def install_zip_stat_check() -> bool:
    """Make ``zipimport.zipimporter.invalidate_caches`` re-read an archive's
    directory only when the archive changed (CPython < 3.12; no-op and
    False on 3.12+, whose invalidation is already lazy).

    On 3.11 every ``importlib.invalidate_caches()`` makes each cached
    zipimporter re-parse its whole archive directory in pure Python, and
    one archive backs many importers (one per imported sub-package). The
    replacement stats the archive first: if (st_ino, st_size, st_mtime_ns)
    equals the key of this importer's last read it keeps its directory; if
    another importer of the same archive already re-read it under that key,
    it adopts that directory; otherwise it runs the original re-read and
    records the key taken before reading (a change during the read shows
    up as a new key next time). An archive replaced in place or rewritten
    is therefore still re-read, and a newly added archive gets a fresh
    importer as before. Idempotent: returns True once installed."""
    import sys
    import zipimport

    if sys.version_info >= (3, 12):
        return False
    cls = zipimport.zipimporter
    if getattr(cls.invalidate_caches, "_igd_stat_checked", False):
        return True
    reread = cls.invalidate_caches

    def invalidate_caches(self):
        key = _zip_stat(self.archive)
        if key is not None and getattr(self, "_igd_zip_key", None) == key:
            return
        seen = _ZIP_READS.get(self.archive)
        if key is not None and seen is not None and seen[0] == key:
            self._files = seen[1]
            zipimport._zip_directory_cache[self.archive] = seen[1]
        else:
            reread(self)
            if key is not None:
                _ZIP_READS[self.archive] = (key, self._files)
        self._igd_zip_key = key

    invalidate_caches._igd_stat_checked = True
    invalidate_caches.__wrapped__ = reread
    cls.invalidate_caches = invalidate_caches
    return True


def init_worker() -> None:
    """Once-per-process set-up of a Spark Python worker that runs an
    igd_spark kernel (the MaxScore search kernel, the SPIMI tokenizer and
    the build's pack kernels call it first; later calls return at once).

    - ``tune_allocator()``: keep large numpy temporaries heap-resident.
    - ``install_zip_stat_check()``: pyspark's per-task worker set-up
      (``worker_util.setup_spark_files``) calls ``importlib.invalidate_caches()``
      in EVERY task. On CPython 3.11 that makes each of the ~15 zipimporters
      that pyspark.zip's sub-packages leave in ``sys.path_importer_cache``
      re-read the archive's ~1,300-entry directory in pure Python: 0.15-0.2 s
      of CPU per task, a third to a half of the Python workers' CPU in a
      1000-query distributed batch (4-vCPU x86 VM, local[4]). With the
      stat check an unchanged archive costs one stat per importer; the
      first task after install still pays one re-read per archive.

    The driver's own paths never call it (``LocalSearcher`` only tunes the
    allocator), so the driver keeps the interpreter's import machinery."""
    global _WORKER_READY
    if _WORKER_READY:
        return
    tune_allocator()
    install_zip_stat_check()
    _WORKER_READY = True


def worker_ready() -> bool:
    """True once ``init_worker`` ran in this process (a probe for tasks)."""
    return _WORKER_READY


KERNEL_CAP_ENV = "IGD_LOCAL_KERNEL_CAP"
DEFAULT_LOCAL_KERNEL_CAP = 10


def kernel_parallelism(spark: SparkSession, natural: int) -> int:
    """Task-count for memory-bandwidth-bound Arrow/numpy kernel stages.

    On a real multi-executor cluster every executor brings its own memory
    bus, so the natural (data-derived) partition count is right — this
    returns `natural` untouched there. On a local[N] master all N task
    slots share ONE memory bus: measured on this sandbox, the SPIMI/pack/
    score kernels saturate DRAM near 8-10 concurrent workers and local[32]
    runs the same job SLOWER than local[8] (BENCH.md core curve). So the
    cap engages ONLY when the slot count exceeds the knee (cores > cap):
    below it, the natural partition count keeps waves slot-balanced and
    N→4N scaling intact; above it, stages are planned at min(natural, cap)
    partitions — self-tuning the driver-visible local[32] bench without
    touching the cluster plan. Override with $IGD_LOCAL_KERNEL_CAP."""
    cores = local_cores(spark)
    if cores is None:
        return natural
    cap = int(os.environ.get(KERNEL_CAP_ENV, str(DEFAULT_LOCAL_KERNEL_CAP)))
    if cores <= cap:
        return natural
    return max(1, min(natural, cap))


def balance_kernel_input(df, waves: int = 3):
    """Partition a DataFrame feeding a per-partition Arrow/pandas kernel so
    the kernel stage is neither under-parallel nor tail-bound.

    The natural parquet split count can be far below the slot count (small
    files bin-packed by maxPartitionBytes), leaving ONE wave of fat,
    skew-unbalanced tasks — the stage then runs at the pace of its slowest
    task (measured 1.5-1.8x slack on the 4-core SPIMI stage). Policy:

    - local[N], N > kernel cap: round-robin repartition to the cap —
      concurrency stays DRAM-bounded (kernel_parallelism rationale) but
      tasks are row-balanced, unlike the coalesce() this replaces (which
      merged adjacent skewed splits).
    - local[N], 1 < N <= cap: if the input can't fill `waves` balanced
      waves, repartition to waves*N; otherwise keep the natural splits.
    - local[1]: nothing to balance — natural splits are perfectly packed.
    - cluster: keep natural splits unless they can't fill 2 waves of
      defaultParallelism (never true on a 100 TB scan; protects small
      jobs). Round-robin repartition is an extra shuffle of the raw input,
      which is exactly why it only fires when the input is, by this test,
      small relative to the cluster.
    """
    spark = df.sparkSession
    n_in = df.rdd.getNumPartitions()
    cores = local_cores(spark)
    if cores is None:
        para = spark.sparkContext.defaultParallelism
        if n_in < 2 * para:
            return df.repartition(waves * para)
        return df
    cap = int(os.environ.get(KERNEL_CAP_ENV, str(DEFAULT_LOCAL_KERNEL_CAP)))
    if cores > cap:
        return df.repartition(cap)
    if cores > 1 and n_in < 2 * cores:
        return df.repartition(waves * cores)
    return df


def spread_small_scan(df, factor: int = 1):
    """Repartition a small (few-split) input before CPU-heavy per-row
    expansion (shingle/gram/window generators, token explodes).

    The bench/gate corpora are SINGLE small parquet files with one row
    group — an unsplittable scan (guide: input skew, "one huge
    unsplittable file ... repartition immediately after the read"), so
    every generator downstream runs one task while the other N-1 slots
    idle; measured 11 s → ~1 s on the DSIR gram explode at local[32].
    Policy is scale-adaptive, not a local[32] constant:

    - input already fills the slots (n_in >= parallelism): NO-OP — a
      100 TB table has millions of natural splits and never shuffles here.
    - otherwise round-robin repartition to factor x parallelism (explicit
      count, so AQE does not re-coalesce it): row-balanced tasks; the
      shuffled bytes are by construction small (the input could not fill
      the slots). Applied ONLY ahead of expensive per-row generators
      (md5 shingles/windows/grams) — for cheap token explodes the extra
      exchange + task overhead exceeds the parallelism win (measured).

    Round-robin repartition is retry-deterministic (sortBeforeRepartition
    stays at its default), so no duplicated/lost rows under speculation.
    $IGD_SPREAD_SCAN=0 disables (A/B escape hatch)."""
    if os.environ.get("IGD_SPREAD_SCAN", "1") == "0":
        return df
    spark = df.sparkSession
    cores = local_cores(spark)
    para = cores if cores is not None else spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= para:
        return df
    return df.repartition(factor * para)


def get_spark(
    cores: int | None = None,
    app: str = "igd_spark",
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    # $IGD_SPARK_MASTER overrides the default local[N] — used by the
    # executor-JVM-isolated scaling evidence (local-cluster[K,1,mem]
    # spawns one JVM + python-worker pool per executor, the closest
    # sandbox analog to a real multi-executor cluster; kernel_parallelism
    # correctly treats it as a cluster master and keeps natural
    # partition counts).
    master = os.environ.get("IGD_SPARK_MASTER", f"local[{cores}]")
    b = SparkSession.builder.master(master)
    if master.startswith("local-cluster"):
        # worker slots are sized by the master string (MB); the executor
        # JVM must request less than the worker offers
        b = b.config(
            "spark.executor.memory",
            os.environ.get("IGD_SPARK_EXECUTOR_MEM", "4g"),
        )
    b = (
        b
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # byte-based AQE coalescing measured faster here than forcing
        # core-count partitions (Python-kernel groups are few and chunky);
        # parallelismFirst (default true) already floors at cluster parallelism
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
        # skew-join handling for the Zipf term distribution (SURVEY §4)
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # local masters process local-sized inputs: 16 MB file splits keep
        # every scan stage multi-wave (a 60 MB corpus at the default 128 MB
        # otherwise bin-packs into ONE wave of fat skew-unbalanced tasks —
        # measured 2x slack on the JVM stats scan, and the SPIMI kernel
        # then needs a balancing shuffle that natural splits avoid). This
        # factory only ever builds local[N] sessions; cluster deployments
        # go through spark-submit with the 128 MB default, where a 100 TB
        # scan has millions of natural splits and per-split overhead wins.
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.driver.memory", os.environ.get("IGD_SPARK_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
