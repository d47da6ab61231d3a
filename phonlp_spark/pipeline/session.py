"""SparkSession construction with the engine's standard config.

Tuned for correctness at any scale and benchmarked on local[N]:
- AQE on (runtime coalescing + skew-join splitting),
- Arrow enabled for pandas interchange, bounded record batches so the
  annotation kernel's per-batch memory is capped,
- shuffle partitions sized to the cluster (overridable).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_MEMINFO = "/proc/meminfo"


def _default_driver_mem() -> str:
    """min(24g, half of the host's MemTotal); 24g where the host size
    cannot be read."""
    try:
        with open(_MEMINFO) as f:
            total_kb = next(int(ln.split()[1]) for ln in f
                            if ln.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError, IndexError):
        return "24g"
    return f"{min(24 << 10, total_kb >> 11)}m"


def get_spark(
    master: str | None = None,
    app_name: str = "phonlp_spark",
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    # allocator tuning for the driver; workers pin BLAS themselves
    from phonlp_spark.kernel.runtime import tune_worker_runtime
    tune_worker_runtime(blas_threads=None)
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(int(master[6:-1].replace("*", cpus)), 8)
        except ValueError:  # non-local master: size for a real cluster
            shuffle_partitions = 200
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # worker runtime: keep big numpy buffers in the reusable heap
        # (this host faults fresh mmaps at ~1ms/page) and stop BLAS from
        # escaping the task slots — see phonlp_spark/kernel/runtime.py
        .config("spark.executorEnv.MALLOC_MMAP_THRESHOLD_", "1073741824")
        .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_", "1073741824")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        # keep python workers alive across tasks and jobs: respawning
        # re-pays the host's lazy-memory warmup (~200MB of first-touch
        # per worker), and a reused worker keeps its imports and the
        # importer cache drop_zip_importers trimmed (kernel/runtime.py),
        # which keeps its next task's setup cheap.  Spark reaps idle
        # pooled workers after a fixed 60 s.
        .config("spark.python.worker.reuse", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # input split sizing: the sandbox fixtures' only multi-row-group
        # files (lineitem 6 RGs / orders 2 RGs at sf1.0, ~130/26 MB) are
        # unsplittable below row-group grain, and the 128m default packs
        # them into 1-2 scan tasks on a 32-core machine.  32m splits let
        # those scans reach row-group parallelism; single-row-group
        # files are unaffected (still one task — see ops/fanout.py for
        # how heavy work leaves such stages).  Production at 100 TB
        # should RAISE this (guide §6 recommends 512m-1g for large
        # sequential scans) through get_spark(extra=...).
        .config("spark.sql.files.maxPartitionBytes", "32m")
        # pin the session timezone: timestamp_ntz -> timestamp casts
        # must not depend on the host JVM's default zone (DST zones
        # shift wall-time differences across transitions, silently
        # breaking gap/sessionization arithmetic and oracle parity)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # measured on the kernel stage (80k docs, local[32]): 16-32k
        # records/batch runs ~15-25% faster than 2k — fewer Arrow hops,
        # better length-bucketing inside the kernel; peak kernel memory
        # stays bounded by its internal forward chunking, not the batch
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "16384")
        # local mode: the driver JVM hosts every task slot, so this IS
        # executor memory — 8g gave 32 concurrent tasks ~150 MB of
        # execution memory each, and wide-key aggregations (dedup pair
        # counting: 114M distinct groups at sf1.0) spilled.  24g keeps
        # multi-million-entry per-task hash maps in memory (measured
        # 29.2 -> 19.6 s on the dedup_jaccard aggregate alone).  The
        # default is clamped to half the host's memory so a small host
        # is not promised a heap it cannot back.  On a real cluster this
        # maps to spark.executor.memory sizing (guide §5), env-overridable.
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM", _default_driver_mem()))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
