"""Vector expressions over array<float|double> columns.

All of these are Catalyst higher-order functions — they evaluate JVM-side
(no Python round-trip), so a dot product over a billion rows is a map-only
stage. This replaces the reference's numpy/FAISS math:

  - L2 normalize: core/utils.py:126-135  (norms[norms == 0] = 1e-10 guard)
  - inner product == cosine on normalized vectors: embed_pdfs.py:227-228

Everything computes in DOUBLE regardless of input float width so results are
reproducible across engines (the DuckDB oracle casts to DOUBLE[] the same way).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _as_double(v: Column | str) -> Column:
    c = F.col(v) if isinstance(v, str) else v
    return F.transform(c, lambda x: x.cast("double"))


def l2_norm(v: Column | str) -> Column:
    """sqrt(sum(x^2)) — sequential left-fold, same order as numpy/DuckDB."""
    return F.sqrt(F.aggregate(_as_double(v), F.lit(0.0), lambda acc, x: acc + x * x))


def l2_normalize(v: Column | str) -> Column:
    """v / ||v||, substituting 1e-10 ONLY when the norm is exactly 0 —
    the reference's guard (core/utils.py:132: norms[norms == 0] = 1e-10).
    A greatest(norm, 1e-10) clamp would mis-normalize vectors with
    0 < ||v|| < 1e-10, which the reference normalizes correctly.

    The norm is an argument of the zip, evaluated once per vector: a
    lambda body referring to it (``transform(vd, x -> x / norm)``) makes
    Spark re-fold the whole vector for every element, O(d²) per vector
    (9x slower at d=64)."""
    vd = _as_double(v)
    norm = F.sqrt(F.aggregate(vd, F.lit(0.0), lambda acc, x: acc + x * x))
    safe = F.when(norm == 0.0, F.lit(1e-10)).otherwise(norm)
    return F.zip_with(vd, F.array_repeat(safe, F.size(vd)), lambda x, n: x / n)


def dot(a: Column | str, b: Column | str) -> Column:
    """Inner product via zip_with + fold — JVM-side, codegen-friendly."""
    prods = F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def dim_checked(vec_col: str, dim: int, what: str) -> Column:
    """`vec_col` as given, or a runtime error naming both sizes when a
    vector is not `dim`-d (``"{what} needs {dim}-d vectors; ..."``). One
    expression in the caller's projection — it adds no Spark job. NULL
    vectors pass through."""
    v = F.col(vec_col)
    return F.when(
        v.isNotNull() & (F.size(v) != dim),
        F.raise_error(
            F.concat(
                F.lit(f"{what} needs {dim}-d vectors; {vec_col} has "),
                F.size(v).cast("string"),
                F.lit(" dims"),
            )
        ),
    ).otherwise(v)


def mean_vector(vec_col: str, dim: int) -> Column:
    """Aggregate: the element-wise mean of `vec_col` over a group, as an
    array<double> of `dim` parallel avg() — an IVF list's centroid.

    `dim` scalar buffers per group are map-side combined, so the shuffle
    is O(groups·dim); the explode form (posexplode → groupBy(group, i) →
    re-collect) shuffles dim×N rows. Built as ONE parsed SQL string: a
    per-element F.avg(F.element_at(...)) loop costs ~1.3 s of driver py4j
    round-trips per construction at dim=64 vs ~0.15 s for one F.expr
    parse, with identical values (`v[i]` ≡ element_at(v, i+1) in range)."""
    return F.expr(
        "array(" + ", ".join(f"avg(`{vec_col}`[{i}])" for i in range(dim)) + ")"
    )


# DuckDB-dialect renderings of the same math (sequential left-fold, DOUBLE
# accumulation) used to build oracle_sql() strings.
def sql_norm(expr: str) -> str:
    return f"sqrt(list_sum(list_transform({expr}, x -> (x::DOUBLE)*(x::DOUBLE))))"


def sql_normalize(expr: str) -> str:
    norm = sql_norm(expr)
    return (
        f"list_transform({expr}, x -> (x::DOUBLE) / "
        f"(CASE WHEN {norm} = 0 THEN 1e-10 ELSE {norm} END))"
    )
