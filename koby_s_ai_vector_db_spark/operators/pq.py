"""Product quantization (PQ): the codebook and the three ADC expressions.

The reference's approximate tier is pgvector ivfflat (supabase_schema.sql:
137-139) — coarse cells that prune WHICH vectors are scanned. PQ is the
complementary compression axis used by FAISS's IndexIVFPQ (the production
successor of the reference's IndexFlatIP, core/utils.py:203-214): it
shrinks WHAT is scanned. Each dim-64 vector is split into M=8 subvectors
of 8 dims; every subvector is quantized to the id of its nearest centroid
in a 16-entry per-subspace codebook. A vector becomes 8 code ids — 4 bits
each, 4 bytes total vs 256 bytes of float32 — a 64x smaller scan.

This module holds only the quantizer; the index that persists codes and
searches them is sources/pq_index.py. Its search is the classic ADC
(asymmetric distance computation) two-phase:

  1. per query, precompute a distance TABLE dtab[s][c] = <q_sub_s, cb[s][c]>
     (`pq_distance_table`: M*KS = 128 dots of dim 8 — once per query, not
     per corpus row);
  2. scan ONLY (vec_id, codes) (`pq_encode` wrote them at build time):
     approx sim = sum_s dtab[s][codes[s]] (`pq_adc_score`) — 8 lookups +
     8 adds per row against a broadcast table;
  3. take a per-query shortlist by approx sim, fetch the shortlist's full
     vectors and re-rank exactly, so returned scores are always exact.

Cross-engine oracle strategy: codebooks are Rademacher (+/-1) centroids
derived from the portable md5 hash (functions/hashing.py) — constants, not
an RNG — embedded as literals in both the Spark plan and the DuckDB oracle
SQL. +/-1.0 literals are exact in every dialect, all centroids share norm
sqrt(8) so nearest-centroid == argmax-dot, and both engines fold dots in
index order (the same bit-exactness contract the hyperplane-LSH sketch in
operators/dedup.py relies on). Ties everywhere break to the lower index /
lower vec_id, so results are value-identical across engines.

A learned codebook (k-means per subspace, like faiss.ProductQuantizer
training) drops quantization error further but is engine-specific float
iteration — the same trade-off as the index's k-means lists
(sources/pq_index.py), which are recall-tested rather than value-oracled. The PQ MECHANICS here
are identical either way.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from koby_s_ai_vector_db_spark.functions import vectors
from koby_s_ai_vector_db_spark.sources.tables import local_frame

DIM = 64  # fixture embedding dimensionality
M = 8  # subspaces
SUB = DIM // M  # dims per subspace
KS = 16  # codes per subspace (4-bit codes)
CODEBOOK_SCHEMA = "cb array<array<array<double>>>"  # cb[s][c]: code c of subspace s


def dim_checked(vec_col: str) -> F.Column:
    """`vec_col`, checked to be DIM-d: codes read dims 1..DIM."""
    return vectors.dim_checked(vec_col, DIM, "PQ index")


def _md5_u32(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def pq_codebook() -> list[list[list[float]]]:
    """[M][KS][SUB] Rademacher centroids: entry = +1.0 if md5 even else -1.0.

    Deterministic constants — both engines receive them as literals, so the
    codebook needs no cross-engine arithmetic at all. With 16 draws from
    256 sign patterns a subspace may contain duplicate centroids (birthday
    ~37%); argmax ties break to the lower code id on both engines, so
    duplicates only waste a code, never break parity.
    """
    return [
        [
            [
                1.0 if _md5_u32(f"pq:{s}:{c}:{i}") % 2 == 0 else -1.0
                for i in range(SUB)
            ]
            for c in range(KS)
        ]
        for s in range(M)
    ]


def codebook_df(spark) -> DataFrame:
    """The codebook as a 1-row DataFrame — the index's shipped artifact.

    Shipped as DATA (a `local_frame` -> broadcast join), never as a SQL
    literal: a 1024-double nested-array literal embedded in an expression
    makes whole-stage codegen emit (and Janino recompile, erratically
    cache-missing) a multi-second giant method — measured 0.4s vs 2-3s per
    run on the same 2k-row scan. It is also the honest 100 TB shape: FAISS
    ships trained codebooks to workers as broadcast state, not as query
    text."""
    return local_frame(spark, [(pq_codebook(),)], CODEBOOK_SCHEMA)


def cb_literal_duckdb() -> str:
    """The same codebook as a DuckDB DOUBLE[][][] literal (for oracle SQL)."""
    cb = pq_codebook()
    body = (
        "["
        + ", ".join(
            "["
            + ", ".join(
                "[" + ", ".join(f"{x:.1f}" for x in code) + "]" for code in sub
            )
            + "]"
            for sub in cb
        )
        + "]"
    )
    return f"CAST({body} AS DOUBLE[][][])"


# pq_encode reads its input vector M*KS*SUB = 1024 times per row; without
# the bind, CollapseProject inlined `l2_normalize(embedding)` into every
# read (~500M interpreted evals at a 2k-row scale factor — the 70s
# inline PQ encode regression in BENCH_r03). See functions/exprs.py.
from koby_s_ai_vector_db_spark.functions.exprs import bind_once as _bind_once


def pq_encode(vec_col: str = "v") -> F.Column:
    """Map-side encode: array of M code ids (1-based), codes[s] = argmax_c
    <v_sub_s, cb[s][c]>. One expression, zero shuffles (the codebook column
    comes from a 1-row broadcast, see codebook_df) — the PQ analogue of the
    hyperplane sign-mask sketch (operators/dedup.py)."""
    # dots[s] = 16 subspace dots; codes[s] = first index of the max.
    body = (
        f"transform("
        f"  transform(cb, (cbs, s) ->"
        f"    transform(cbs, c ->"
        f"      aggregate(sequence(0, {SUB - 1}), CAST(0.0 AS DOUBLE),"
        f"        (a, i) -> a + element_at(c, i + 1)"
        f"                    * element_at(nv, s * {SUB} + i + 1)))),"
        f"  ds -> CAST(array_position(ds, array_max(ds)) AS INT))"
    )
    return F.expr(_bind_once(vec_col, body))


def pq_distance_table(query_vec_col: str = "qv") -> F.Column:
    """Per-query ADC table: dtab[s][c] = <q_sub_s, cb[s][c]> — computed once
    per query row (the small broadcast side), never per corpus row."""
    body = (
        f"transform(cb, (cbs, s) ->"
        f"  transform(cbs, c ->"
        f"    aggregate(sequence(0, {SUB - 1}), CAST(0.0 AS DOUBLE),"
        f"      (a, i) -> a + element_at(c, i + 1)"
        f"                  * element_at(nv, s * {SUB} + i + 1))))"
    )
    return F.expr(_bind_once(query_vec_col, body))


def pq_adc_score() -> F.Column:
    """approx sim = sum_s dtab[s][codes[s]] — 8 lookups + 8 adds per row."""
    return F.expr(
        f"aggregate(sequence(0, {M - 1}), CAST(0.0 AS DOUBLE),"
        f"  (a, s) -> a + element_at(element_at(dtab, s + 1),"
        f"                           element_at(codes, s + 1)))"
    )
