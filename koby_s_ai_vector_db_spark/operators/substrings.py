"""Repeated-substring detection — the exact-substring dedup tier.

The published training-data hygiene step (Lee et al. 2021, "Deduplicating
Training Data Makes Language Models Better") removes any token span that
occurs more than once in the corpus, found there with a suffix array. The
reference has no analogue (its dedup surface is the filename-keyed upsert,
core/supabase_utils.py:203-248); this is the corpus-scale production form
of that hygiene pass, complementing the document-level MinHash/SimHash
tiers in operators/dedup.py: those flag *documents* that look alike, this
flags the *positions* of text duplicated verbatim anywhere in the corpus,
including inside otherwise-unique documents.

Spark-first derivation (no suffix array — that is a single-machine data
structure): a span of >= k tokens repeats verbatim iff every k-token
window inside it repeats, so

  1. positional k-gram windows per doc — map-only generate, one row per
     token position (bind-once tokenization, the r4 CollapseProject
     lesson: functions/exprs.py);
  2. windows whose gram text occurs >= min_count times corpus-wide — ONE
     count window partitioned by gram (no groupBy-plus-self-join: a
     single exchange on the gram column does both the counting and the
     filtering);
  3. per-doc island detection — consecutive duplicated positions merge
     into maximal spans via the pos - row_number() grouping trick, one
     exchange on doc_id.

Two shuffles total, each on a key with natural cardinality (gram text,
doc id); no all-pairs joins, no candidate explosion: a gram occurring a
million times contributes a count, never a pair list. At 100 TB the
positional-gram table is ~n_tokens rows — the same order as the shingle
postings the LSH tier already builds — and both exchanges are map-side
combined by AQE-sized partitions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from koby_s_ai_vector_db_spark.functions.exprs import bind_once
from koby_s_ai_vector_db_spark.operators.dedup import _WORDS


def positional_kgrams_expr(col: str, k: int) -> Column:
    """array<struct<pos:int, g:string>> — one entry per k-token window
    position (1-based), empty for rows with < k tokens. The tokenization
    is bound once; the CASE guards Spark's descending sequence(1, 0) on
    short rows (same edge as corpus.sliding_shingles_expr)."""
    w = _WORDS.format(col=col)
    body = (
        f"CASE WHEN size(nv) >= {k} THEN"
        f" transform(sequence(1, size(nv) - {k - 1}),"
        f" i -> struct(i AS pos, concat_ws(' ', slice(nv, i, {k})) AS g))"
        f" ELSE array() END"
    )
    return F.expr(bind_once(w, body))


def positional_kgram_hash_expr(col: str, k: int, lanes: int = 2) -> Column:
    """Hashed positional k-gram windows WITHOUT building gram strings:
    array<struct<pos:int, h1:long[, h2:long]>>.

    The text-gram form above materializes a ~k·8-char string per token
    position (concat_ws over a slice) only for the caller to immediately
    hash it — at the sf1 probe that string building was 3.8 s of
    dedup_substring's 5.7 s (2.4M windows). Here each token is hashed
    ONCE per lane (xxhash64 over the token; lane 2 independently seeded),
    and every window key is the variadic xxhash64 over its k token
    hashes — fixed-width arithmetic per position, no string allocation.

    Key-collision class is unchanged from hashing the gram text: two
    equal windows always collide (equal token sequences → equal hash
    sequences), and for distinct windows each 64-bit lane collides with
    ~2^-64 probability. Both lanes hash the RAW tokens under different
    seeds (never lane 2 over lane 1's hashes — that would make a lane-1
    token collision propagate into lane 2), so the 2-lane bound stays
    G²/2¹²⁹ — the repeated_substring_spans docstring's bound."""
    w = _WORDS.format(col=col)
    idx = ", ".join(f"nv[i + {d - 1}]" for d in range(k))
    fields = f"i AS pos, xxhash64({idx}) AS h1"
    if lanes == 2:
        idx2 = ", ".join(f"nw[i + {d - 1}]" for d in range(k))
        fields += f", xxhash64(1L, {idx2}) AS h2"
    body = (
        f"CASE WHEN size(nv) >= {k} THEN"
        f" transform(sequence(1, size(nv) - {k - 1}),"
        f" i -> struct({fields}))"
        f" ELSE array() END"
    )
    if lanes == 2:
        body = bind_once("transform(tk, t -> xxhash64(2L, t))", body, var="nw")
    body = bind_once("transform(tk, t -> xxhash64(t))", body, var="nv")
    # Tokens bound once as `tk`; each hash-array lane bound once over it
    # (nested lambdas read outer variables as values — evaluated once).
    return F.expr(bind_once(w, body, var="tk"))


def repeated_substring_spans(
    docs: DataFrame,
    k: int = 8,
    min_count: int = 2,
    hash_gram_key: bool | str = False,
) -> DataFrame:
    """Maximal repeated token spans per document.

    Returns (doc_id, span_start, span_end, span_tokens, n_windows): the
    1-based token range [span_start, span_end] such that every k-token
    window starting inside [span_start, span_end - k + 1] occurs at least
    ``min_count`` times corpus-wide (across documents or repeated within
    one), and the span is maximal — the windows just before and after do
    not repeat. span_tokens = span_end - span_start + 1 >= k; a
    downstream cleaner drops or rewrites exactly these ranges.

    ``hash_gram_key`` replaces the count-window exchange key (raw k-gram
    TEXT, tens of bytes per row) with a hash — the shuffle then carries
    a fixed-width key and the within-partition sort compares ints, not
    strings. Measured round 12: under battery-JVM memory pressure the
    string-keyed sort spilled to 79-214 s at sf1 while the hashed key
    held 8.8 s; standalone the two tie (~8.8 s) — the hash buys
    robustness exactly in the memory-pressure regime a shared 100 TB
    executor actually runs in (BASELINE.md round-12 A/B). The trade is
    exactness: a collision merges two distinct grams' counts and can
    flag a unique window as repeated (never the reverse — a genuinely
    repeated window keeps its count). Expected false windows ~ G^2/2^65
    for G distinct grams with True/"hash64" (~2e-7 at the sf1 probe's
    G~2.4M; ~1e7 of ~2e13 windows, 5e-7, at 100 TB), and ~G^2/2^129
    with "hash128" (two independently seeded xxhash64 lanes; ~6e-13 even
    at 100 TB — exact for all practical purposes).
    """
    if k < 2:
        raise ValueError(f"k must be >= 2 (a 1-gram span is a stopword list), got {k}")
    if min_count < 2:
        raise ValueError(f"min_count must be >= 2, got {min_count}")
    # explode_OUTER + a null filter on the generator output, not a
    # size()>0 pre-filter and not plain explode: both of those end with
    # a Filter node BELOW the projection whose condition re-embeds the
    # whole positional-grams expression (the explicit filter via
    # CollapseProject pushdown; plain explode via Catalyst's
    # InferFiltersFromGenerate, which infers `size(child)>0 AND
    # isnotnull(child)` and inlines the child) — the plan then tokenizes
    # and window-builds every doc ~3×. Inference does not apply to outer
    # generates; short docs emit one NULL row each, dropped by a filter
    # that references only the generator output. Same hazard family as
    # the m11 bind_once lesson, but across plan nodes where bind_once
    # can't reach (round-12 plan snapshot, PLANS_r12.md).
    if hash_gram_key:
        # Hashed keys never materialize the gram STRING at all (round
        # 14): the windows derive from per-token hash lanes, saving the
        # concat_ws allocation per position that dominated the map stage
        # (3.8 s of 5.7 s at the sf1 probe — positional_kgram_hash_expr
        # docstring). Same collision class as hashing the gram text.
        lanes = 2 if hash_gram_key == "hash128" else 1
        gk = (
            F.struct(F.col("_u.h1").alias("h1"), F.col("_u.h2").alias("h2"))
            if lanes == 2
            else F.col("_u.h1")
        )
        pos_grams = (
            docs.select(
                "doc_id",
                positional_kgram_hash_expr("text", k, lanes).alias("_pg"),
            )
            .select("doc_id", F.explode_outer("_pg").alias("_u"))
            .filter(F.col("_u").isNotNull())
            .select("doc_id", F.col("_u.pos").alias("pos"), gk.alias("g"))
        )
    else:
        pos_grams = (
            docs.select(
                "doc_id",
                positional_kgrams_expr("text", k).alias("_pg"),
            )
            .select("doc_id", F.explode_outer("_pg").alias("_u"))
            .filter(F.col("_u").isNotNull())
            .select(
                "doc_id", F.col("_u.pos").alias("pos"), F.col("_u.g").alias("g")
            )
        )
    # One exchange on the gram text counts AND filters (vs groupBy + join
    # back = two scans of the postings through the same shuffle key).
    # MEASURED, round 11: the groupBy + AQE-broadcast-join-back variant
    # looked better on paper (no sort of the positions) but probed 2.6×
    # WORSE at sf1 (11.6 → 30.6 s): k-token windows are almost all
    # unique, so the partial combine collapses nothing — the groupBy
    # shuffles the full string-keyed positions anyway, and the probe
    # side re-derives the positional-gram map a second time. The window
    # form's single sorted exchange is the cheaper plan at both scales.
    dup_pos = (
        pos_grams.withColumn("_n", F.count("*").over(Window.partitionBy("g")))
        .filter(F.col("_n") >= min_count)
        .select("doc_id", "pos")
    )
    # Island detection: consecutive positions share (pos - row_number).
    by_doc = Window.partitionBy("doc_id").orderBy("pos")
    return (
        dup_pos.withColumn("_grp", F.col("pos") - F.row_number().over(by_doc))
        .groupBy("doc_id", "_grp")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(k - 1)).alias("span_end"),
            F.count("*").alias("n_windows"),
        )
        .select(
            # Surface the caller's id name.
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
            "n_windows",
        )
    )


def repeated_substring_oracle_sql(k: int = 8, min_count: int = 2) -> str:
    """DuckDB twin: struct-list comprehension for positional windows,
    the same count-over-gram filter and pos - row_number islands."""
    return f"""
WITH words AS (
    SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS w
    FROM documents
),
pos_grams AS (
    SELECT doc_id, u.pos AS pos, u.g AS g FROM (
        SELECT doc_id,
               unnest([{{'pos': i, 'g': array_to_string(w[i:i+{k - 1}], ' ')}}
                       for i in range(1, len(w) - {k} + 2)]) AS u
        FROM words WHERE len(w) >= {k})
),
dup_pos AS (
    SELECT doc_id, pos FROM (
        SELECT doc_id, pos, count(*) OVER (PARTITION BY g) AS n FROM pos_grams)
    WHERE n >= {min_count}
),
islands AS (
    SELECT doc_id, pos,
           pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
    FROM dup_pos
)
SELECT doc_id,
       min(pos) AS span_start,
       max(pos) + {k - 1} AS span_end,
       max(pos) + {k - 1} - min(pos) + 1 AS span_tokens,
       count(*) AS n_windows
FROM islands GROUP BY doc_id, grp
"""
