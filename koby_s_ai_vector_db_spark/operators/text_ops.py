"""Row-level text utilities: T5 preview, T6 validation, T7 sanitize, and
the U2 deterministic no-key answer formatter.

References:
  T5  text[:200] + '...'            core/views.py:455,303,318
  T6  validate_request_data         core/views.py:119-131
  T7  _safe_path sanitize + prefix  core/supabase_utils.py:145-147
  U2  no-key Gemini fallback        core/views.py:164-180

All pure string expressions — map-only, codegen, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from koby_s_ai_vector_db_spark.operators.chunker import STRIP_PATTERN

NOKEY_PREFIX = (
    "AI model is not configured yet, so this is a direct context-based response."
)
NOKEY_EMPTY = "No relevant context was found."


def preview(col: Column | str) -> Column:
    """T5: first 200 chars + '...' if longer."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(
        F.length(c) > 200, F.concat(F.substring(c, 1, 200), F.lit("..."))
    ).otherwise(c)


def is_valid_question(col: Column | str) -> Column:
    """T6: non-empty after strip, length in [3, 1000] (views.py:123-130).
    The reference length-checks the stripped text."""
    c = F.col(col) if isinstance(col, str) else col
    stripped = F.regexp_replace(c, STRIP_PATTERN, "")
    return (F.length(stripped) >= 3) & (F.length(stripped) <= 1000)


def sanitize_filename(col: Column | str, ts_prefix: str) -> Column:
    """T7: '[^A-Za-z0-9._-]' → '_' with a timestamp prefix
    (supabase_utils.py:145-147)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.concat(F.lit(ts_prefix), F.lit("_"), F.regexp_replace(c, "[^A-Za-z0-9._-]", "_"))


def nokey_answer(question: Column | str, context: Column | str) -> Column:
    """U2 (views.py:167-180): the deterministic fallback answer emitted when
    no Gemini key is configured — preview = context.strip() or the empty
    message, truncated to 1500 chars after substitution."""
    q = F.col(question) if isinstance(question, str) else question
    ctx = F.col(context) if isinstance(context, str) else context
    stripped = F.regexp_replace(ctx, STRIP_PATTERN, "")
    prev = F.when(stripped == "", F.lit(NOKEY_EMPTY)).otherwise(stripped)
    return F.concat(
        F.lit(NOKEY_PREFIX + "\n\nQuestion: "),
        q,
        F.lit("\n\nRelevant context:\n"),
        F.substring(prev, 1, 1500),
    )
