"""Scale-adaptive fan-out for heavy post-scan stages.

The sandbox's parquet fixtures are single-row-group files, so a scan
stage runs with 1-2 tasks no matter how split sizing is configured; any
expensive operator glued to the scan stage (shingle generation,
signature hashing, cosine scoring, pair expansion) then executes nearly
serially on a 32-core machine.  Measured instance: dedup_jaccard at
sf1.0 spent 281 s averaging ~1.5 busy cores because the whole quadratic
candidate generation sat on the probe side of a broadcast join, i.e. on
the scan stage's 2 tasks (BENCH_r06, plans/r07/dedup_jaccard_before).

At real scale the same inputs arrive as thousands of splits and an
extra exchange of the corpus would be pure waste.  ``fan_out`` is the
conditional bridge: round-robin repartition to cluster width iff the
source is narrower than the target width, and a no-op on wide scans —
so the local plan gets its parallelism without hard-coding anything
cluster-specific (width derives from defaultParallelism and the
configured shuffle partitions, never from a constant).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def fan_width(df: DataFrame) -> int:
    """Target stage width: max(2x cores, configured shuffle partitions).

    Locally that is 2x defaultParallelism (enough slots that one long
    task does not straggle the stage); on a tuned cluster
    spark.sql.shuffle.partitions is sized to the data and wins.
    """
    sess = df.sparkSession
    try:
        conf_sp = int(sess.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        conf_sp = 0
    return max(2 * sess.sparkContext.defaultParallelism, conf_sp)


def fan_out(df: DataFrame) -> DataFrame:
    """Round-robin repartition ``df`` to ``fan_width(df)`` when its
    current plan would run narrower than that; identity otherwise.

    The partition count is read from the physical plan's output
    partitioning, which runs no job (reading it from the RDD runs the
    stages under an exchange); only a plan that does not know it (0: a
    file scan) falls back to the RDD, which plans the scan's splits
    without running a job.  Results are row-identical either way — only
    placement changes.
    """
    w = fan_width(df)
    n = df._jdf.queryExecution().sparkPlan().outputPartitioning().numPartitions()
    if (n or df.rdd.getNumPartitions()) >= w:
        return df
    return df.repartition(w)
