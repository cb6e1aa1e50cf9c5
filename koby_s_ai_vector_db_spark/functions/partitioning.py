"""Partition-width control for CPU-bound map stages.

The driver fixtures are single-row-group parquet files, so a scan arrives
1–3 partitions wide; any expensive per-row map rooted at it (md5-based
signatures, dot products over embedding arrays, rolling fingerprints)
would then run effectively single-threaded on a 32-core machine. `spread`
is applied INSIDE the operators whose maps are worth a shuffle — never at
load time, where it would tax every cheap query and multiply pandas_udf
worker spawn-ups. On a real cluster the split count dwarfs the core count
and `spread` becomes a no-op.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from koby_s_ai_vector_db_spark.functions.caching import memo

# The ``df.rdd.getNumPartitions()`` probe costs ~45 ms of driver work per
# call (it plans the RDD lineage through py4j), and the registry rebuilds
# the same spread() inputs on every query construction — ~0.1 s of every
# bench-loop call for two probes (round-13 profile, guide §1). The width
# of a plan is a pure function of (application, canonicalized logical
# plan): file listings are memoized per application (sources/tables.py)
# and session confs that shape splits don't change mid-application — so
# the probe results go into the application's memo store
# (functions/caching.py), keyed on the JVM plan's semanticHash.

# bytes_per_task for spread() call sites whose downstream map is CHEAP
# per byte (Arrow embed hop, tokenize+hash projections). Measured round
# 14 at sf0.1/local[32]: the s8 chunk→embed pipeline bottoms out at
# width 4–8 (0.83 s vs 1.13 s at width 32, 1.34 s unspread), and the
# tok_source_budget cached projection reads 0.7–0.9 s at width 4–8 vs
# 2.9 s with a 32-wide cached layout. 96 KiB/task puts the 594 KiB
# fixture at width 6 while any corpus ≥ 3 MiB/core still fans out fully.
CHEAP_MAP_BYTES_PER_TASK = 96 * 1024


def spread(df: DataFrame, bytes_per_task: int | None = None) -> DataFrame:
    """Round-robin repartition up to the session's default parallelism when
    the input arrives narrower. One cheap shuffle of the raw rows buys
    machine-wide codegen maps downstream.

    ``bytes_per_task`` (opt-in, round 14 — VERDICT r13 item 5) caps the
    target width at input_bytes // bytes_per_task for file-scan-rooted
    frames. Rationale: for CHEAP per-byte maps (the Arrow embed hop, a
    tokenize+hash projection) fanning a fixture-sized input out to every
    core costs more in task/Python-worker round-trips — and, worse, bakes
    a core-count-wide layout into any persisted cache downstream, beyond
    AQE's reach — than the parallelism saves (s8_ingest measured FASTER
    at 8 cores than 32; tok_source_budget 2.9 s -> 0.9 s with a narrow
    cached layout). At scale the cap exceeds the core count and this is
    byte-identical to the uncapped form; callers whose downstream map is
    expensive per byte (md5 signature builds) keep the default full
    fan-out."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    plan = df._jdf.semanticHash()
    if bytes_per_task:
        nbytes = memo(
            spark, ("spread_bytes", plan), lambda: _total_bytes(df.inputFiles())
        )
        if nbytes:  # non-file-backed frames keep the full fan-out
            target = min(target, max(1, nbytes // bytes_per_task))
    width = memo(
        spark, ("spread_width", plan, target), lambda: df.rdd.getNumPartitions()
    )
    return df.repartition(target) if width < target else df


def input_sized_partitions(
    spark: SparkSession,
    paths: list[str] | tuple[str, ...],
) -> int:
    """Partition count for an EXPLICIT keyed layout, derived from the
    on-disk size of the inputs that feed it: max(1, input_bytes // 32 MiB).

    Motivation (round 14, VERDICT r13 item 1): a bare `repartition(key)`
    inherits spark.sql.shuffle.partitions, and a layout baked into a
    persisted cache is beyond AQE's reach — `adaptive.coalescePartitions`
    only coalesces live exchanges, never an InMemoryRelation's stored
    layout. On a 32-core local session that froze fixture-sized caches at
    32 near-empty partitions, and graph_pagerank's 3 iterations then paid
    3×32 task launches to scan a table AQE would otherwise broadcast from
    1 partition (driver: 0.83 → 2.06 s, FASTER at 8 cores than 32).
    Deriving the count from input bytes keeps both regimes: ~1 partition
    at fixture scale (broadcast path intact), thousands at 100 TB where
    the co-partitioning guarantee is the point.

    The probe is driver-side os.stat/os.walk only — no Spark job, so
    query construction stays action-free. ``file:`` URIs are measured as
    local paths. An unknown size (0 bytes: missing, remote or empty
    inputs) fails safe to the session's shuffle width — the full fan-out
    a bare `repartition(key)` would use — never to a single partition."""
    nbytes = _total_bytes(paths)
    if not nbytes:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    return max(1, nbytes // (32 * 1024 * 1024))


def _total_bytes(paths) -> int:
    """Driver-side on-disk byte total over files/directories (no job).
    A ``file:`` URI prefix is stripped; other schemes count 0 bytes."""
    total = 0
    for p in paths:
        p = p[len("file:"):] if p.startswith("file:") else p
        if os.path.isdir(p):
            for root, _dirs, files in os.walk(p):
                total += sum(
                    os.path.getsize(os.path.join(root, f)) for f in files
                )
        elif os.path.exists(p):
            total += os.path.getsize(p)
    return total

