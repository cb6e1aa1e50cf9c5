"""Expression-level helpers shared across operators.

`bind_once` exists because of how Catalyst treats derived columns and
repeated sub-expressions:

- CollapseProject inlines a projected alias into every textual use site of
  the alias — a reference inside a higher-order-function lambda then
  re-evaluates the aliased expression on EVERY lambda iteration.
- Textual repetition inside one expression (e.g. `slice(split(s), i, n)`
  with the `split(s)` spelled out under a `transform` lambda) is likewise
  re-evaluated per iteration; common-subexpression elimination does not
  reach into lambda bodies.

Binding the sub-expression as a lambda VARIABLE fixes both: lambda
variables are evaluated once and read as values. `transform(array(X),
v -> body(v))[1]` evaluates X exactly once per row regardless of how many
times `v` appears in `body`. Measured effect: the PQ encode query dropped
70s -> 2s at sf0.1 when its 1024-reads-per-row encode loop stopped
re-running an inlined l2_normalize (operators/pq.py), and the shingle pipeline stopped
re-splitting the document per shingle (operators/dedup.py).
"""

from __future__ import annotations

def bind_once(bound_sql: str, body_sql: str, var: str = "nv") -> str:
    """SQL fragment evaluating ``bound_sql`` once per row, exposed to
    ``body_sql`` as the lambda variable ``var``."""
    return f"element_at(transform(array({bound_sql}), {var} -> {body_sql}), 1)"


def array_rows_nonempty(df, keys, arr, alias: str = "g"):
    """One output row per input row whose ``arr`` evaluates non-empty,
    with the array bound to ``alias`` as a CONCRETE attribute.

    The naive spelling — ``select(arr.alias(a)).filter(size(a) > 0)`` —
    re-embeds the whole array expression into the Filter condition
    (CollapseProject pushdown), and even dropping the filter does not
    help: Catalyst's InferFiltersFromGenerate re-infers
    ``size(child) > 0 AND isnotnull(child)`` below a plain explode,
    inlining the child both times. Either way the plan evaluates an
    expensive gram/tokenize chain ~3x per row (measured round 12:
    dedup_substring 8.8 -> 5.7 s at sf1 from this fix alone).

    The pattern that evaluates it exactly once:

      filter(array(arr), x -> size(x) > 0)   -- arr built ONCE into [arr],
                                                the lambda reads the bound var
      explode_outer(...)                     -- outer: no filter inference
      .filter(col(alias).isNotNull())        -- references the generator
                                                OUTPUT attribute only

    Generator outputs are real attributes that neither CollapseProject
    nor filter inference can inline, so every downstream reference
    (size(), explode(), join keys) reads the computed value.

    Precondition: ``arr`` itself is never NULL (all gram expressions
    return array() for short rows — the CASE guard in _grams_body).
    """
    from pyspark.sql import functions as F

    wrapped = F.filter(F.array(arr), lambda x: F.size(x) > 0)
    return df.select(*keys, F.explode_outer(wrapped).alias(alias)).filter(
        F.col(alias).isNotNull()
    )
