"""Z-order layout (operators/zorder.py): Morton bit math, bucket
locality in BOTH dimensions."""

from __future__ import annotations

from koby_s_ai_vector_db_spark.operators.zorder import (
    Z_BITS,
    z_value_sql,
    zorder_bucket_stats,
)
from tests.conftest import SF_DIRS


def test_z_value_bit_math():
    """The SQL interleave must equal the reference Morton code — checked
    in DuckDB (same SQL text the Spark side compiles)."""
    import duckdb

    def morton(u, v):
        z = 0
        for i in range(Z_BITS):
            z |= ((u >> i) & 1) << (2 * i)
            z |= ((v >> i) & 1) << (2 * i + 1)
        return z

    con = duckdb.connect()
    for u, v in [(0, 0), (1, 0), (0, 1), (1023, 1023), (513, 212), (7, 1000)]:
        got = con.execute(f"SELECT {z_value_sql(str(u), str(v))}").fetchone()[0]
        assert got == morton(u, v), (u, v, got)


def test_bucket_locality_in_both_dimensions(spark):
    """The point of the curve: median per-bucket span must be a small
    fraction of the global span in BOTH dimensions simultaneously. A
    time-sorted layout would give tiny t-spans but full-range u-spans;
    user-sorted, the reverse."""
    ev = spark.read.parquet(SF_DIRS["t2"] + "/events.parquet")
    rows = zorder_bucket_stats(ev).collect()
    assert len(rows) > 16
    u_glob = max(r.u_max for r in rows) - min(r.u_min for r in rows)
    t_glob = max(r.t_max for r in rows) - min(r.t_min for r in rows)
    u_spans = sorted((r.u_max - r.u_min) / u_glob for r in rows)
    t_spans = sorted((r.t_max - r.t_min) / t_glob for r in rows)
    med_u = u_spans[len(u_spans) // 2]
    med_t = t_spans[len(t_spans) // 2]
    assert med_u <= 0.30, med_u
    assert med_t <= 0.30, med_t


