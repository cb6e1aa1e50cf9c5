"""Edit-distance (Levenshtein) near-duplicate join — PassJoin-style
pigeonhole blocking, DataFrame algebra end to end.

The reference's dedup surface is hash/containment based (its nearest
analogue is the token-overlap scorer, core/supabase_utils.py:280-312);
character-level fuzzy dedup is the entity-resolution tier a training-data
pipeline needs for OCR noise, whitespace drift, and single-token edits
that survive exact and shingle hashing.  Semantics: all unordered pairs
(a, b) with levenshtein(text_a, text_b) <= t.  Texts longer than t chars
are blocked via the pigeonhole scheme below; texts of length <= t (which
can't be split into t+1 nonempty segments) go through a length-bounded
brute tier inside fuzzy_edit_pairs.

Scale design (the PassJoin pigeonhole, Li et al., VLDB 2011 — public
algorithm, re-derived here as DataFrame algebra):

  * INDEX side: each text of length l1 is split into K = t+1 contiguous
    segments (floor boundaries).  If edit(s1, s2) <= t with l1 <= l2, the
    <= t edit operations can touch at most t of the t+1 segments, so at
    least ONE segment of s1 appears verbatim in s2, start-shifted by at
    most t.  Each doc emits exactly K index rows (gram, start, l1, id).
  * PROBE side: each text of length l2 emits every substring whose length
    could be a segment length of some l1 in [l2-t, l2] — segment lengths
    are floor(l1/K) or floor(l1/K)+1, so only ~2-3 distinct lengths, i.e.
    O(3*l2) probe rows, map-side generated and projected down to
    (gram, pos, l2, id) before the shuffle (texts never fan out).
  * Candidates: equi-join on xxhash64 of the gram content (fixed-width
    int64 shuffle keys; a collision only adds a candidate the verify
    discards) with post-filters l1 <= l2 <= l1+t and
    |pos - seg_start| <= t, distinct normalized pairs, then ONE exact
    levenshtein per candidate pair (texts re-joined by id — never
    carried through the explode).

Everything before the verify is a single equi-join shuffle on short gram
keys; the verify set is bounded by the blocking.  Losslessness of the
blocking (candidates ⊇ true pairs) is checked empirically against a
brute-force oracle at sf0.001 in tests/test_fuzzy_edit.py, and the DuckDB
oracle mirrors the identical candidate generation so the driver check
validates the full pipeline, not just the idea.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Default edit-distance threshold: catches the fixture's planted
# single-word-substitution near-dups (char distance ~4-8) while keeping
# the candidate set sparse on natural text.
EDIT_T = 8


def _k(t: int) -> int:
    return t + 1


def segment_rows(d: DataFrame, t: int = EDIT_T) -> DataFrame:
    """K=t+1 index rows per doc: (gh=xxhash64(gram), seg_start, l1, id1).

    Expects columns (id, txt, l); floor-boundary segments — segment k
    covers [k*l div K, (k+1)*l div K) (0-based), emitted 1-based for
    substring().
    """
    k_ = _k(t)
    seg = (
        f"transform(sequence(0, {t}), k -> named_struct("
        f" 'seg_start', CAST(k * l DIV {k_} AS INT) + 1,"
        f" 'gram', substring(txt, CAST(k * l DIV {k_} AS INT) + 1,"
        f"   CAST((k + 1) * l DIV {k_} AS INT) - CAST(k * l DIV {k_} AS INT))))"
    )
    return (
        d.select(
            F.col("id").alias("id1"),
            F.col("l").alias("l1"),
            F.explode(F.expr(seg)).alias("s"),
        )
        .select(
            "id1",
            "l1",
            F.col("s.seg_start").alias("seg_start"),
            F.xxhash64("s.gram").alias("gh"),
        )
    )


def probe_rows(d: DataFrame, t: int = EDIT_T) -> DataFrame:
    """Probe rows per doc: every substring whose length could be a segment
    length of some shorter partner l1 in [l2-t, l2] — lengths in
    [max(1, (l2-t) div K), l2 div K + 1], ~3 values.  Output
    (gram, pos, l2, id2); the text column is dropped before any shuffle.
    """
    k_ = _k(t)
    return (
        d.select(
            F.col("id").alias("id2"),
            F.col("l").alias("l2"),
            F.col("txt"),
            F.explode(
                F.expr(f"sequence(greatest(1, (l - {t}) DIV {k_}), l DIV {k_} + 1)")
            ).alias("gl"),
        )
        .where(F.col("gl") <= F.col("l2"))
        .select(
            "id2",
            "l2",
            "gl",
            "txt",
            F.explode(F.expr("sequence(1, l2 - gl + 1)")).alias("pos"),
        )
        .select(
            "id2",
            "l2",
            "pos",
            F.xxhash64(F.expr("substring(txt, pos, gl)")).alias("gh"),
        )
    )


def fuzzy_edit_pairs(docs: DataFrame, t: int = EDIT_T) -> DataFrame:
    """All unordered near-dup pairs with levenshtein <= t.  Returns
    (doc_id_a, doc_id_b, dist) ordered.

    Texts longer than t chars go through the PassJoin pigeonhole
    blocking; texts of length <= t (where t+1 nonempty segments don't
    exist) get a separate brute candidate tier — short x (length <= 2t)
    — so exact duplicates among short strings are reported too (ADVICE
    r06).  Any partner of a short string has length <= 2t (levenshtein
    >= |len diff|), so both sides of the brute tier are length-bounded;
    its short x short slice is inherently ~quadratic because EVERY such
    pair satisfies dist <= max(l1, l2) <= t — the output itself is
    quadratic there, not the algorithm.
    """
    if t < 1:
        raise ValueError(f"edit threshold must be >= 1, got {t}")
    d_all = docs.select(
        F.col("doc_id").alias("id"),
        F.col("text").alias("txt"),
        F.length("text").alias("l"),
    )
    d = d_all.where(F.col("l") > t)

    segs = segment_rows(d, t)
    probes = probe_rows(d, t)

    # Both join sides are corpus-sized EXPLODES (K rows/doc and ~3*len
    # rows/doc): parquet file-size stats wildly under-estimate them, so
    # left alone Catalyst broadcasts the 38M-row probe side at 10x scale
    # (measured: 534 s at the sf1 probe, single-threaded hash-relation
    # build + heap blowup). Pin the scale-safe strategy instead: one
    # sort-merge shuffle; SMJ spills gracefully where a shuffle-hash
    # build of a crowded gram partition could not. The join key is
    # xxhash64(gram), NOT the gram string — the probe shuffle carries
    # fixed-width int64 keys (measured: the bare string-keyed shuffle
    # alone cost 74 s of the 124 s sf1 run). A hash collision only adds
    # a candidate pair, which the exact levenshtein verify discards, so
    # losslessness is unaffected; the DuckDB oracle joins on the gram
    # string itself and provably reaches the identical final rows.
    cand = (
        segs.hint("merge").join(probes, "gh")
        .where(
            (F.col("l2") >= F.col("l1"))
            & (F.col("l2") <= F.col("l1") + F.lit(t))
            & (F.abs(F.col("pos") - F.col("seg_start")) <= F.lit(t))
            & (F.col("id1") != F.col("id2"))
        )
        .select(
            F.least("id1", "id2").alias("a"),
            F.greatest("id1", "id2").alias("b"),
        )
        .distinct()
    )

    # Short tier: candidates = short x (length <= 2t), disjoint from the
    # blocked tier (which requires BOTH sides > t chars). No join key
    # exists — every short pair is a candidate by construction — so this
    # is a genuine nested-loop over two length-bounded sides; the exact
    # levenshtein verify below filters the short x medium slice.
    short = d_all.where(F.col("l") <= t).select(
        F.col("id").alias("id1"), F.col("l").alias("l1")
    )
    near = d_all.where(F.col("l") <= 2 * t).select(
        F.col("id").alias("id2"), F.col("l").alias("l2")
    )
    short_cand = (
        short.crossJoin(near)
        .where(
            (F.col("id1") != F.col("id2"))
            # free prune: levenshtein >= |len diff|, so partners more
            # than t longer than the short string can never verify
            & (F.abs(F.col("l1") - F.col("l2")) <= t)
        )
        .select(
            F.least("id1", "id2").alias("a"),
            F.greatest("id1", "id2").alias("b"),
        )
        .distinct()
    )
    cand = cand.unionByName(short_cand)

    da = d_all.select(F.col("id").alias("a"), F.col("txt").alias("ta"))
    db = d_all.select(F.col("id").alias("b"), F.col("txt").alias("tb"))
    return (
        cand.join(da, "a")
        .join(db, "b")
        .select(
            F.col("a").alias("doc_id_a"),
            F.col("b").alias("doc_id_b"),
            F.levenshtein("ta", "tb").cast("int").alias("dist"),
        )
        .where(F.col("dist") <= F.lit(t))
        .orderBy("doc_id_a", "doc_id_b")
    )


def fuzzy_edit_oracle_sql(t: int = EDIT_T) -> str:
    """DuckDB twin of fuzzy_edit_pairs — identical segment/probe candidate
    generation (// is DuckDB's floor division, DIV is Spark's), identical
    filters, exact levenshtein verify."""
    k_ = _k(t)
    return f"""
WITH d_all AS (
    SELECT doc_id AS id, text AS txt, length(text) AS l FROM documents
),
d AS (SELECT * FROM d_all WHERE l > {t}),
segs AS (
    SELECT id AS id1, l AS l1,
           CAST((k * l) // {k_} + 1 AS INT) AS seg_start,
           substr(txt, CAST((k * l) // {k_} + 1 AS INT),
                  CAST(((k + 1) * l) // {k_} - (k * l) // {k_} AS INT)) AS gram
    FROM d, generate_series(0, {t}) AS g(k)
),
probes AS (
    SELECT id AS id2, l AS l2, pos,
           substr(txt, CAST(pos AS INT), CAST(gl AS INT)) AS gram
    FROM d,
         LATERAL (SELECT unnest(generate_series(greatest(1, (l - {t}) // {k_}),
                                                l // {k_} + 1)) AS gl) gls,
         LATERAL (SELECT unnest(generate_series(1, l - gl + 1)) AS pos) ps
    WHERE gl <= l
),
cand AS (
    SELECT DISTINCT least(id1, id2) AS a, greatest(id1, id2) AS b
    FROM segs JOIN probes ON segs.gram = probes.gram
    WHERE l2 BETWEEN l1 AND l1 + {t}
      AND abs(pos - seg_start) <= {t}
      AND id1 <> id2
    UNION
    SELECT DISTINCT least(s.id, n.id) AS a, greatest(s.id, n.id) AS b
    FROM d_all s JOIN d_all n
      ON s.l <= {t} AND n.l <= {2 * t} AND s.id <> n.id
     AND abs(s.l - n.l) <= {t}
)
SELECT a AS doc_id_a, b AS doc_id_b,
       CAST(levenshtein(da.txt, db.txt) AS INT) AS dist
FROM cand JOIN d_all da ON da.id = a JOIN d_all db ON db.id = b
WHERE levenshtein(da.txt, db.txt) <= {t}
ORDER BY doc_id_a, doc_id_b
"""
