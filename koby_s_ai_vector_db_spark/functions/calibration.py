"""Host-speed calibration for bench/probe runs (VERDICT r11 item 3).

Bench totals on a shared host drift ±40% run-to-run (the same commit
measured 73-172 s across rounds), and two consecutive rounds attributed
total inflation to "host ran slower" with no number behind the claim.
This module makes that claim falsifiable: a PINNED, data-independent,
pure-whole-stage-codegen job (sum of xxhash64 over a fixed range) is
timed at the start and end of every bench/probe run and recorded in the
emitted JSON. Cross-round comparisons divide by the calibration time —
if the calibration moved 1.3× and the untouched queries moved ~1.3×,
that is host noise by measurement, not narrative.

Shape choice: `range → xxhash64 → pmod → sum` is CPU-bound, shuffle-free
(one partial-agg exchange of 32 single-row partitions), reads no data,
and runs entirely inside WholeStageCodegen — so it responds to exactly
the resource the shared host steals (CPU time slices) and to nothing
query-specific (page cache, persisted memos, JVM heap state). pmod keeps
the running sum inside int64 under ANSI mode.

The pinned reference CALIB_REF_SEC is the median of a quiet round-12
measurement on the canonical 32-thread host; `host_factor` ≈ 1.0 means
"as fast as that reference run". The absolute anchor is a convenience —
the load-bearing comparison is calib(round N) / calib(round N-1).
"""

from __future__ import annotations

import time

from pyspark.sql import SparkSession, functions as F

# 2e9 rows ≈ 1.2 s steady-state on the quiet reference host: large
# enough that compute (~1.0 s) dominates the ~0.2 s task-scheduling
# floor, small enough that (passes pre + post) adds <10 s to a run.
CALIB_N = 2_000_000_000
CALIB_PARTS = 32
CALIB_PASSES = 3
# Quiet-host reference (round 12, 2026-08-16, local[32]): median of the
# steady-state passes. Re-pin only with a BASELINE.md note.
CALIB_REF_SEC = 1.22
# The reference host the pin belongs to — emitted alongside ref_sec so a
# JSON read on a DIFFERENT machine is self-describing: host_factor ≈ 1.0
# only means "as fast as the reference run" when ref_host matches the
# measuring host's shape (ADVICE r12).
CALIB_REF_HOST = "local[32]/32-thread round-12 canonical host"


def _one_pass(spark: SparkSession) -> float:
    t0 = time.perf_counter()
    spark.range(0, CALIB_N, 1, CALIB_PARTS).select(
        F.sum(F.pmod(F.xxhash64("id"), F.lit(1_000_003))).alias("h")
    ).collect()
    return time.perf_counter() - t0


def _read_steal_jiffies() -> tuple[int, int] | None:
    """(steal, total) jiffies from the aggregate /proc/stat cpu line, or
    None off-Linux. Steal is column 8 (0-indexed field 8 after 'cpu')."""
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
    except OSError:
        return None
    if parts[:1] != ["cpu"] or len(parts) < 9:
        return None
    vals = [int(x) for x in parts[1:]]
    return vals[7], sum(vals)


def _mem_bandwidth_gibps() -> float | None:
    """Single-thread streaming-read bandwidth: median of 3 sums
    over a 256 MiB float64 array (numpy, C-contiguous). The CPU job above
    is ALU/hash-bound and blind to memory-subsystem differences between
    VM generations; round 13 measured a quiet-host bench total 1.25×
    round-12's at cpu host_factor ≈ 1.0 — this diagnostic exists so that
    class of drift is attributable by number next time."""
    try:
        import numpy as np
    except ImportError:  # pragma: no cover - numpy is baked into the env
        return None
    a = np.ones(33_554_432, dtype=np.float64)  # 256 MiB
    a.sum()  # touch pages once, untimed
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        a.sum()
        times.append(time.perf_counter() - t0)
    med = sorted(times)[len(times) // 2]
    return round(0.25 / med, 2) if med > 0 else None


def calibrate(spark: SparkSession) -> dict:
    """Time the pinned job; returns {passes, median_sec, host_factor}.

    One untimed warm pass first — the job's codegen JIT costs ~3 s on
    first execution in a fresh JVM, which is exactly the kind of
    one-time state the calibration must NOT measure.
    """
    import os

    steal0 = _read_steal_jiffies()
    _one_pass(spark)
    times = sorted(_one_pass(spark) for _ in range(CALIB_PASSES))
    median = times[len(times) // 2]
    out = {
        "passes": [round(t, 3) for t in times],
        "median_sec": round(median, 3),
        "ref_sec": CALIB_REF_SEC,
        "ref_host": CALIB_REF_HOST,
        "measured_cores": os.cpu_count(),
        "host_factor": round(median / CALIB_REF_SEC, 3),
    }
    # Diagnostics (round 13): host_factor stays CPU-defined for
    # cross-round continuity; these extra keys attribute drift the CPU
    # job cannot see (VM memory subsystem, hypervisor steal).
    mem = _mem_bandwidth_gibps()
    if mem is not None:
        out["mem_gibps"] = mem
    steal1 = _read_steal_jiffies()
    if steal0 and steal1 and steal1[1] > steal0[1]:
        dsteal, dtotal = steal1[0] - steal0[0], steal1[1] - steal0[1]
        out["cpu_steal_pct"] = round(100.0 * dsteal / dtotal, 2)
    return out
