"""Dedup queries over a derived corpus with planted duplicates.

The fixture documents are random text (max pairwise 3-gram Jaccard ≈0.02 —
no natural near-dups), so both engines derive `docs_dd` from `documents`
with deterministic planted duplicates:

  - exact copies   (doc_id % 17 == 0 → +1,000,000, same text)
  - near copies    (doc_id % 10 == 0 → +2,000,000, 80% prefix ⇒ 3-gram
                    Jaccard ≈ 2/3 vs the original)

and `emb_dd` from `embeddings` (vec_id % 10 == 0 → +1,000,000, first
component shifted by +0.5 ⇒ cosine 0.88–0.92 vs the original). The oracle SQL
mirrors every hash/permutation constant, so the check validates the exact
MinHash/SimHash pipeline, not just the idea.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from koby_s_ai_vector_db_spark.functions.vectors import sql_normalize
from koby_s_ai_vector_db_spark.operators.dedup import (
    BANDS,
    BUCKET_CAP,
    HASH_PARAMS,
    P,
    ROWS,
    exact_dup_groups,
    minhash_near_dup_pairs,
    ngram_jaccard_join,
    simhash_near_dup_pairs,
)
from koby_s_ai_vector_db_spark.operators.similarity import ivf_topk, topk_cosine
from koby_s_ai_vector_db_spark.registry import register
from koby_s_ai_vector_db_spark.sources.tables import load_table

# Planted duplicate ids live at doc_id + k*PLANT_OFFSET; everything that
# maps a planted id back to its base document (dedup_source_matrix's
# modular attribution) must share THIS constant, and fixture arms must
# assert max(base doc_id) < PLANT_OFFSET so a larger corpus fails loudly
# instead of silently misattributing (ADVICE r07).
PLANT_OFFSET = 1_000_000

# Runs verbatim on both engines (ANSI subset).
DOCS_DD_SQL = f"""
SELECT doc_id, text FROM documents
UNION ALL
SELECT doc_id + {PLANT_OFFSET} AS doc_id, text FROM documents WHERE doc_id % 17 = 0
UNION ALL
SELECT doc_id + {2 * PLANT_OFFSET} AS doc_id,
       substr(text, 1, CAST(floor(length(text) * 0.8) AS INT)) AS text
FROM documents WHERE doc_id % 10 = 0
"""

# Engine-specific renderings (array indexing is 0-based in Spark SQL,
# 1-based in DuckDB).
EMB_DD_SPARK = """
SELECT vec_id, label, transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding FROM embeddings
UNION ALL
SELECT vec_id + 1000000 AS vec_id, label,
       concat(array(CAST(embedding[0] AS DOUBLE) + 0.5),
              transform(slice(embedding, 2, size(embedding) - 1), x -> CAST(x AS DOUBLE)))
           AS embedding
FROM embeddings WHERE vec_id % 10 = 0
"""
EMB_DD_DUCK = """
SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS embedding FROM embeddings
UNION ALL
SELECT vec_id + 1000000 AS vec_id, label,
       list_concat([embedding[1]::DOUBLE + 0.5],
                   list_transform(embedding[2:], x -> x::DOUBLE)) AS embedding
FROM embeddings WHERE vec_id % 10 = 0
"""


def _docs_dd(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(DOCS_DD_SQL)


def _emb_dd(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "embeddings").createOrReplaceTempView("embeddings")
    return spark.sql(EMB_DD_SPARK)


# Shared DuckDB CTE: docs_dd → words → distinct 3-gram shingles.
_GRAMS_CTE = f"""
WITH docs_dd AS ({DOCS_DD_SQL}),
words AS (
    SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS w
    FROM docs_dd
),
grams AS (
    SELECT doc_id,
           list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                          for i in range(1, len(w) - 1)]) AS g
    FROM words WHERE len(w) >= 3
)"""

_JACCARD = (
    "len(list_intersect({a}, {b}))::DOUBLE / len(list_distinct(list_concat({a}, {b})))"
)


_EXACT_ORACLE = f"""
WITH docs_dd AS ({DOCS_DD_SQL})
SELECT md5(text) AS text_hash, min(doc_id) AS canonical_id, count(*) AS n_copies
FROM docs_dd GROUP BY md5(text) HAVING count(*) > 1
"""


@register("dedup_exact", _EXACT_ORACLE)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on text; emits groups with >1 copy."""
    return exact_dup_groups(_docs_dd(spark, sf_dir))


_EXACT_STREAM_ORACLE = f"""
WITH docs_dd AS ({DOCS_DD_SQL})
SELECT md5(text) AS text_hash, min(doc_id) AS canonical_id, count(*) AS n_copies
FROM docs_dd GROUP BY md5(text)
"""


@register("dedup_exact_stream", _EXACT_STREAM_ORACLE)
def dedup_exact_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact-dedup state table (batch twin): the full first-seen
    catalog — one row per distinct content hash with min-id canonical and
    copy count. The SAME function runs as a streaming aggregation over a
    file source with identical final state (tests/test_streaming.py)."""
    from koby_s_ai_vector_db_spark.streaming.dedup import streaming_exact_dedup

    return streaming_exact_dedup(_docs_dd(spark, sf_dir))


# Sketch-catalog twin: the same words→hash→bit-vote→sign-pack chain the
# dedup_simhash oracle uses, grouped into the (sketch, canonical, count)
# state table instead of joined into pairs.
_SKETCH_STREAM_ORACLE = f"""
WITH docs_dd AS ({DOCS_DD_SQL}),
words AS (
    SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS w
    FROM docs_dd
),
tok AS (
    SELECT doc_id, unnest(list_transform(w, t -> ('0x' || substr(md5(t), 1, 8))::BIGINT)) AS h
    FROM words WHERE len(w) > 0
),
bits AS (
    SELECT doc_id, b, sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
    FROM tok CROSS JOIN (SELECT unnest(range(0, 32)) AS b) _b
    GROUP BY doc_id, b
),
sh AS (
    SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS sh
    FROM bits GROUP BY doc_id
)
SELECT sh AS sketch, min(doc_id) AS canonical_id, count(*) AS n_copies
FROM sh GROUP BY sh
"""


@register("dedup_sketch_stream", _SKETCH_STREAM_ORACLE)
def dedup_sketch_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming NEAR-dup sketch catalog (batch twin): one state row per
    32-bit SimHash sketch — sketch-identical near-dups collapse in-stream;
    the hamming ≤ 3 pair join stays a periodic batch pass over this
    catalog (streaming/dedup.py::streaming_sketch_dedup)."""
    from koby_s_ai_vector_db_spark.streaming.dedup import streaming_sketch_dedup

    return streaming_sketch_dedup(_docs_dd(spark, sf_dir))


_SIG_DUCK = "[" + ", ".join(
    f"list_min(list_transform(h, x -> ({a} * x + {b}) % {P}))" for a, b in HASH_PARAMS
) + "]"

_MINHASH_ORACLE = _GRAMS_CTE + f"""
, hs AS (
    SELECT doc_id, g,
           list_transform(g, x -> (('0x' || substr(md5(x), 1, 8))::BIGINT) % {P}) AS h
    FROM grams
),
sigs AS (SELECT doc_id, {_SIG_DUCK} AS sig FROM hs),
bands AS (
    SELECT doc_id, j,
           CAST(sig[j * {ROWS} + 1] AS VARCHAR) || ',' ||
           CAST(sig[j * {ROWS} + 2] AS VARCHAR) || ',' ||
           CAST(sig[j * {ROWS} + 3] AS VARCHAR) AS band_key
    FROM sigs CROSS JOIN (SELECT unnest(range(0, {BANDS})) AS j) _j
),
bsz AS (SELECT j, band_key, count(*) AS n FROM bands GROUP BY j, band_key),
-- Mirrors the Spark BUCKET_CAP rule (operators/dedup.py): buckets up to
-- the cap emit all pairs, oversized buckets the consecutive sorted chain.
cand AS (
    SELECT DISTINCT ai, bi FROM (
        SELECT a.doc_id AS ai, b.doc_id AS bi
        FROM bands a JOIN bands b
          ON a.j = b.j AND a.band_key = b.band_key AND a.doc_id < b.doc_id
        JOIN bsz s ON s.j = a.j AND s.band_key = a.band_key
        WHERE s.n <= {BUCKET_CAP}
        UNION ALL
        SELECT ids[i] AS ai, ids[i+1] AS bi
        FROM (SELECT j, band_key, list(doc_id ORDER BY doc_id) AS ids
              FROM bands GROUP BY j, band_key HAVING count(*) > {BUCKET_CAP}) ob,
             unnest(range(1, len(ids))) AS t(i)
    ) u(ai, bi)
),
jac AS (
    SELECT ai, bi, {_JACCARD.format(a='ga.g', b='gb.g')} AS jaccard
    FROM cand JOIN grams ga ON ai = ga.doc_id JOIN grams gb ON bi = gb.doc_id
)
SELECT ai AS doc_id_a, bi AS doc_id_b, round(jaccard, 6) AS jaccard
FROM jac WHERE jaccard >= 0.5
"""


@register("dedup_minhash_lsh", _MINHASH_ORACLE)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash (24 hashes) → banded LSH (8×3) → exact-Jaccard verify."""
    return minhash_near_dup_pairs(
        _docs_dd(spark, sf_dir), threshold=0.5, cache_key=("docs_dd", sf_dir)
    )


# 60-bit sketch (15 md5 hex chars — widest that stays positive in a
# signed BIGINT on both engines), 4 × 15-bit blocks for hamming ≤ 3.
SIMHASH_BITS = 60
_SIMHASH_ORACLE = f"""
WITH docs_dd AS ({DOCS_DD_SQL}),
words AS (
    SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS w
    FROM docs_dd
),
tok AS (
    SELECT doc_id, unnest(list_transform(w, t -> ('0x' || substr(md5(t), 1, {SIMHASH_BITS // 4}))::BIGINT)) AS h
    FROM words
),
bits AS (
    SELECT doc_id, b, sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
    FROM tok CROSS JOIN (SELECT unnest(range(0, {SIMHASH_BITS})) AS b) _b
    GROUP BY doc_id, b
),
sh AS (
    SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS sh
    FROM bits GROUP BY doc_id
),
blocks AS (
    SELECT doc_id, sh, j, (sh >> (j * 15)) & 32767 AS bv
    FROM sh CROSS JOIN (SELECT unnest(range(0, 4)) AS j) _j
),
cand AS (
    SELECT DISTINCT a.doc_id AS ai, b.doc_id AS bi, a.sh AS sha, b.sh AS shb
    FROM blocks a JOIN blocks b ON a.j = b.j AND a.bv = b.bv AND a.doc_id < b.doc_id
)
SELECT ai AS doc_id_a, bi AS doc_id_b, bit_count(xor(sha, shb)) AS hamming
FROM cand WHERE bit_count(xor(sha, shb)) <= 3
"""


@register("dedup_simhash", _SIMHASH_ORACLE)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash60 + 15-bit-block LSH (exact for Hamming ≤ 3 by pigeonhole).

    Upgraded from 32-bit/8-bit blocks in r5: the sf1 scale probe showed
    8-bit block keys (256 values) make co-bucketed candidates grow as
    N²/256 — at 10× data the candidate explode dominated the probe.
    15-bit keys cut candidates ~128× at equal N and the wider sketch
    makes hamming ≤ 3 a true near-duplicate criterion on this
    small-vocabulary fixture (the 32-bit answer at sf0.1 was ~106k
    mostly-incidental pairs). MinHash remains the Jaccard-threshold
    tier; SimHash is the sketch-distance tier."""
    # No empty-doc pre-filter (round 12): simhash_table emits no row for
    # empty-token docs by construction since the r11 rework, so the old
    # `filter(size(tokenize(text)) > 0)` only paid one extra full
    # tokenize pass per row for semantics the sketch build already
    # guarantees (the DuckDB oracle keeps its matching exclusion). The
    # sigs memo content is unchanged — empty docs never had a row.
    return simhash_near_dup_pairs(
        _docs_dd(spark, sf_dir),
        max_hamming=3,
        cache_key=("docs_dd", sf_dir),
        bits=SIMHASH_BITS,
    )


_NGRAM_ORACLE = _GRAMS_CTE + f"""
, q AS (
    SELECT doc_id AS query_id, g AS qg FROM grams
    WHERE doc_id >= 2000000 AND doc_id <= 2000070
),
scored AS (
    SELECT q.query_id, c.doc_id, {_JACCARD.format(a='q.qg', b='c.g')} AS jaccard
    FROM grams c CROSS JOIN q WHERE c.doc_id <> q.query_id
),
ranked AS (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY jaccard DESC, doc_id ASC) AS rank
    FROM scored
)
SELECT query_id, doc_id, round(jaccard, 6) AS jaccard, rank
FROM ranked WHERE rank <= 3 AND jaccard >= 0.3
"""


@register("dedup_ngram_jaccard", _NGRAM_ORACLE)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard top-3 join: planted near-copies as the bounded
    broadcast query side (rank-then-filter like Q1)."""
    docs = _docs_dd(spark, sf_dir)
    queries = docs.filter((F.col("doc_id") >= 2000000) & (F.col("doc_id") <= 2000070))
    return ngram_jaccard_join(
        docs, queries, k=3, threshold=0.3, cache_key=("docs_dd", sf_dir)
    )


_EMB_ORACLE = f"""
WITH emb_dd AS ({EMB_DD_DUCK}),
c AS (SELECT vec_id, {sql_normalize('embedding')} AS v FROM emb_dd),
q AS (SELECT vec_id AS query_id, v AS qv FROM c
      WHERE vec_id >= 1000000 AND vec_id <= 1000070),
scored AS (
    SELECT q.query_id, c.vec_id,
           list_sum(list_transform(c.v, (x, i) -> x * q.qv[i])) AS sim_raw
    FROM c CROSS JOIN q WHERE c.vec_id <> q.query_id
),
ranked AS (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY sim_raw DESC, vec_id ASC) AS rank
    FROM scored
)
SELECT query_id, vec_id, round(sim_raw, 6) AS sim, rank
FROM ranked WHERE rank <= 3 AND sim_raw >= 0.85
"""


@register("dedup_embedding_cosine", _EMB_ORACLE)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: perturbed copies as the query side, top-3
    cosine ≥ 0.85 over the corpus (brute-force tier; LSH/IVF is the scale
    path — see operators/dedup.py and operators/similarity.ivf_topk)."""
    emb = _emb_dd(spark, sf_dir)
    queries = emb.filter(
        (F.col("vec_id") >= 1000000) & (F.col("vec_id") <= 1000070)
    ).select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    return topk_cosine(emb, queries, k=3, threshold=0.85, exclude_self=True)


_EMB_IVF_ORACLE = f"""
WITH emb_dd AS ({EMB_DD_DUCK}),
c AS (SELECT vec_id, label, {sql_normalize('embedding')} AS v FROM emb_dd),
q AS (SELECT vec_id AS query_id, v AS qv FROM c
      WHERE vec_id >= 1000000 AND vec_id <= 1000070),
expl AS (
    SELECT label, unnest(list_transform(v, (x, i) -> {{'i': i, 'x': x}})) AS s FROM c
),
cent AS (SELECT label, s.i AS i, avg(s.x) AS x FROM expl GROUP BY label, s.i),
centroids AS (SELECT label, list(x ORDER BY i) AS centroid FROM cent GROUP BY label),
probe_scored AS (
    SELECT q.query_id, cn.label,
           list_sum(list_transform(q.qv, (x, i) -> x * cn.centroid[i])) AS csim
    FROM q CROSS JOIN centroids cn
),
probes AS (
    SELECT query_id, label FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY csim DESC, label ASC) AS prank
        FROM probe_scored)
    WHERE prank <= 2
),
scored AS (
    SELECT p.query_id, c.vec_id,
           list_sum(list_transform(c.v, (x, i) -> x * q.qv[i])) AS sim_raw
    FROM probes p JOIN c ON c.label = p.label JOIN q ON q.query_id = p.query_id
    WHERE c.vec_id <> p.query_id
),
ranked AS (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY sim_raw DESC, vec_id ASC) AS rank
    FROM scored
)
SELECT query_id, vec_id, round(sim_raw, 6) AS sim, rank
FROM ranked WHERE rank <= 3 AND sim_raw >= 0.85
"""


@register("dedup_embedding_ivf", _EMB_IVF_ORACLE)
def dedup_embedding_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup through the IVF scale tier: the perturbed copies
    probe their 2 nearest of 10 cells and exact-verify only inside probed
    cells — the partition-pruned path a 100 TB corpus would take (corpus
    partitioned by list id, sources/pq_index.py), vs dedup_embedding_cosine's
    bounded brute-force tier and dedup_embedding_lsh's angular-LSH tier.
    Perturbed copies inherit their source row's cell label, as a real
    IVF assignment would co-locate near-identical vectors; recall follows
    the probed cells (the ANN trade-off), mirrored exactly by the oracle."""
    emb = _emb_dd(spark, sf_dir)
    queries = emb.filter(
        (F.col("vec_id") >= 1000000) & (F.col("vec_id") <= 1000070)
    ).select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    return ivf_topk(
        emb.select("vec_id", "label", "embedding"),
        queries,
        k=3,
        n_probe_labels=2,
        threshold=0.85,
        exclude_self=True,
        cache_key=("emb_dd", sf_dir),
    )


_HP_ORACLE = f"""
WITH emb_dd AS ({EMB_DD_DUCK}),
c AS (SELECT vec_id, {sql_normalize('embedding')} AS v FROM emb_dd),
planes AS (
    SELECT j AS plane_id,
           list_transform(range(0, 64), i -> CASE
               WHEN (('0x' || substr(md5('plane:' || j::VARCHAR || ':' || i::VARCHAR), 1, 8))::BIGINT) % 2 = 0
               THEN 1.0 ELSE -1.0 END) AS plane
    FROM (SELECT unnest(range(0, 64)) AS j)
),
bits0 AS (
    SELECT c.vec_id, p.plane_id,
           CASE WHEN list_sum(list_transform(c.v, (x, i) -> x * p.plane[i])) > 0
                THEN '1' ELSE '0' END AS bit
    FROM c CROSS JOIN planes p
),
bitstr AS (
    SELECT vec_id, string_agg(bit, '' ORDER BY plane_id) AS bits
    FROM bits0 GROUP BY vec_id
),
bands AS (
    SELECT vec_id, b AS band_id, substr(bits, CAST(b * 8 + 1 AS INT), 8) AS band_key
    FROM bitstr CROSS JOIN (SELECT unnest(range(0, 8)) AS b)
),
bsz AS (SELECT band_id, band_key, count(*) AS n FROM bands GROUP BY band_id, band_key),
-- Same BUCKET_CAP rule as the Spark side (operators/dedup.py).
cand AS (
    SELECT DISTINCT ai, bi FROM (
        SELECT a.vec_id AS ai, b.vec_id AS bi
        FROM bands a JOIN bands b
          ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.vec_id < b.vec_id
        JOIN bsz s ON s.band_id = a.band_id AND s.band_key = a.band_key
        WHERE s.n <= {BUCKET_CAP}
        UNION ALL
        SELECT ids[i] AS ai, ids[i+1] AS bi
        FROM (SELECT band_id, band_key, list(vec_id ORDER BY vec_id) AS ids
              FROM bands GROUP BY band_id, band_key HAVING count(*) > {BUCKET_CAP}) ob,
             unnest(range(1, len(ids))) AS t(i)
    ) u(ai, bi)
),
ver AS (
    SELECT ai, bi, list_sum(list_transform(ca.v, (x, i) -> x * cb.v[i])) AS sim
    FROM cand JOIN c ca ON ai = ca.vec_id JOIN c cb ON bi = cb.vec_id
)
SELECT ai AS vec_id_a, bi AS vec_id_b, round(sim, 6) AS sim
FROM ver WHERE sim >= 0.85
"""


@register("dedup_embedding_lsh", _HP_ORACLE)
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Angular (random-hyperplane) LSH near-dup over embeddings: 64
    portable-hash Rademacher planes -> 8x8-bit banded sketch -> bucket
    candidates -> exact-cosine verify >= 0.85. The scale tier behind the
    brute-force `dedup_embedding_cosine`; the oracle regenerates the
    identical planes from the same md5 stream."""
    from koby_s_ai_vector_db_spark.operators.dedup import hyperplane_lsh_pairs

    return hyperplane_lsh_pairs(_emb_dd(spark, sf_dir))


def _groups_oracle() -> str:
    # The minhash pair query, wrapped as a CTE, then a recursive transitive
    # closure: group_id = least(self, min reachable id). WITH RECURSIVE is
    # the DuckDB dual of the Spark driver-side label-propagation loop.
    body = _MINHASH_ORACLE.strip()
    return f"""
WITH RECURSIVE pairs AS ({body}),
edges AS (
    SELECT doc_id_a AS src, doc_id_b AS dst FROM pairs
    UNION
    SELECT doc_id_b AS src, doc_id_a AS dst FROM pairs
),
reach(src, dst) AS (
    SELECT src, dst FROM edges
    UNION
    SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT src AS doc_id, least(src, min(dst)) AS group_id
FROM reach GROUP BY src
"""


def _neardup_groups_memo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup group table memoized per (application, sf_dir): the
    star-contraction rounds run EAGERLY at build (localCheckpoint per
    round), so dedup_groups and the two curate_* composites sharing this
    would each pay the full contraction per call — the memo runs it once
    per session (the _fuzzy_pairs_memo convention; a production pipeline
    writes the group table once and joins it everywhere)."""
    from koby_s_ai_vector_db_spark.functions.caching import memo_persist
    from koby_s_ai_vector_db_spark.operators.dedup import near_dup_groups

    return memo_persist(
        spark,
        ("neardup_groups", sf_dir),
        lambda: near_dup_groups(
            minhash_near_dup_pairs(
                _docs_dd(spark, sf_dir),
                threshold=0.5,
                cache_key=("docs_dd", sf_dir),
            )
        ),
    )


@register("dedup_groups", _groups_oracle())
def dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup GROUPS: connected components (min-label propagation) over
    the MinHash-LSH pair output — pairwise dedup turned into actionable
    canonical groups."""
    return _neardup_groups_memo(spark, sf_dir)


# Fuzzy edit-distance tier operates on the RAW documents table (not
# docs_dd): the fixture corpus naturally contains single-word-substitution
# pairs at char distance 4-8, which exact and shingle hashing both miss at
# their thresholds — exactly the regime character-level dedup exists for.
from koby_s_ai_vector_db_spark.operators.fuzzy import (  # noqa: E402
    EDIT_T,
    fuzzy_edit_oracle_sql,
    fuzzy_edit_pairs,
)


@register("dedup_fuzzy_edit", fuzzy_edit_oracle_sql(EDIT_T))
def dedup_fuzzy_edit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level near-dup pairs (levenshtein <= 8) via PassJoin
    pigeonhole blocking: t+1 segments indexed per doc, ~3*len substring
    probes, one equi-join shuffle on gram content, exact levenshtein only
    on the blocked candidates (operators/fuzzy.py). Blocking losslessness
    is brute-force-checked at sf0.001 in tests/test_fuzzy_edit.py."""
    return _fuzzy_pairs_memo(spark, sf_dir)


from koby_s_ai_vector_db_spark.operators.corpus import (  # noqa: E402
    tfidf_cosine_oracle_sql,
    tfidf_cosine_pairs,
)


@register("dedup_tfidf_cosine", tfidf_cosine_oracle_sql(DOCS_DD_SQL))
def dedup_tfidf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted lexical near-dup: TF-IDF shingle cosine >= 0.7 over the
    planted-duplicate corpus — the boilerplate-robust companion of
    dedup_ngram_jaccard (corpus-common shingles are down-weighted AND
    df-capped out of the postings self-join). Integer-quantized weights
    make the pair sums order-independent across engines
    (operators/corpus.py::tfidf_cosine_pairs).

    hash_gram_key="hash128" (adopted round 13, BASELINE.md A/B): the
    postings self-join exchanges 16 fixed bytes instead of raw shingle
    text — steady-state sf1 ~8-10 s vs the text key's 11-31 s with
    91 s pressure spikes; collision bound G²/2¹²⁹, value-equal on every
    fixture (tests/test_dedup_ops.py), DuckDB oracle unchanged."""
    return tfidf_cosine_pairs(
        _docs_dd(spark, sf_dir),
        cache_key=("docs_dd", sf_dir),
        hash_gram_key="hash128",
    )


# --- incremental dedup (new batch vs existing corpus) ------------------------
# The continuous-crawl scenario: today's batch deduped against the
# standing corpus — (new x base) band collisions only. The new batch is
# derived deterministically on both engines: every 9th doc as an 85%
# prefix (a near-dup the verdict must catch) and every 11th reversed
# (token gibberish -> novel).

NEW_BATCH_SQL = """
SELECT doc_id + 3000000 AS doc_id,
       substr(text, 1, CAST(floor(length(text) * 0.85) AS INT)) AS text
FROM documents WHERE doc_id % 9 = 0
UNION ALL
SELECT doc_id + 4000000 AS doc_id, reverse(text) AS text
FROM documents WHERE doc_id % 11 = 0
"""


def _side_band_cte(rel: str, p: str) -> str:
    """sig/band CTE chain for one side, prefixed `p`, over relation `rel`
    with (doc_id, text) — mirrors operators/dedup.py's constants."""
    band_key = " || ',' || ".join(
        f"CAST(sig[j * {ROWS} + {i + 1}] AS VARCHAR)" for i in range(ROWS)
    )
    return f"""
{p}_words AS (
    SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS w
    FROM {rel}
),
{p}_grams AS (
    SELECT doc_id,
           list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                          for i in range(1, len(w) - 1)]) AS g
    FROM {p}_words WHERE len(w) >= 3
),
{p}_hs AS (
    SELECT doc_id, g,
           list_transform(g, x -> (('0x' || substr(md5(x), 1, 8))::BIGINT) % {P}) AS h
    FROM {p}_grams
),
{p}_sigs AS (SELECT doc_id, g, {_SIG_DUCK} AS sig FROM {p}_hs),
{p}_bands AS (
    SELECT doc_id, j, {band_key} AS band_key
    FROM {p}_sigs CROSS JOIN (SELECT unnest(range(0, {BANDS})) AS j) _j
)"""


_INC_ORACLE = f"""
WITH base_rel AS (SELECT doc_id, text FROM documents),
new_rel AS ({NEW_BATCH_SQL}),
{_side_band_cte("base_rel", "b").lstrip()},
{_side_band_cte("new_rel", "n").lstrip()},
b_members AS (
    SELECT j, band_key, (list_sort(list(doc_id)))[1:{BUCKET_CAP}] AS ids
    FROM b_bands GROUP BY j, band_key
),
cand AS (
    SELECT DISTINCT n.doc_id AS new_id, unnest(m.ids) AS base_id
    FROM n_bands n JOIN b_members m
      ON n.j = m.j AND n.band_key = m.band_key
),
ver AS (
    SELECT new_id, base_id,
           {_JACCARD.format(a='ng.g', b='bg.g')} AS jac
    FROM cand JOIN n_grams ng ON ng.doc_id = new_id
              JOIN b_grams bg ON bg.doc_id = base_id
),
best AS (
    SELECT new_id, base_id, round(jac, 6) AS jaccard
    FROM (SELECT *, row_number() OVER (PARTITION BY new_id
                                       ORDER BY jac DESC, base_id ASC) AS rn
          FROM ver WHERE jac >= 0.5)
    WHERE rn = 1
)
SELECT nr.doc_id AS new_id,
       CASE WHEN b.base_id IS NOT NULL THEN 'duplicate' ELSE 'novel' END AS verdict,
       coalesce(b.base_id, -1) AS base_id,
       coalesce(b.jaccard, 0.0) AS jaccard
FROM new_rel nr LEFT JOIN best b ON b.new_id = nr.doc_id
ORDER BY new_id
"""


@register("dedup_incremental", _INC_ORACLE)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash dedup: the new batch's bands probe the base
    corpus's (capped) bucket membership table — work proportional to the
    BATCH, candidates verified by exact Jaccard, one verdict row per new
    doc (operators/dedup.py::incremental_minhash_dedup)."""
    from koby_s_ai_vector_db_spark.operators.dedup import incremental_minhash_dedup

    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    base = spark.sql("SELECT doc_id, text FROM documents")
    new = spark.sql(NEW_BATCH_SQL)
    # new_key identifies the BATCH: NEW_BATCH_SQL is deterministic given
    # sf_dir, so the fixture batch's identity is (batch tag, sf_dir). A
    # continuous-ingest caller would pass its batch id here instead
    # (ADVICE r12 — the memo key must distinguish batches, not just bases).
    return incremental_minhash_dedup(
        base,
        new,
        cache_key=("documents_raw", sf_dir),
        new_key=("fixture_new_batch", sf_dir),
    )


def _fuzzy_pairs_memo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy pair table memoized per (application, sf_dir): the pair and
    groups queries share ONE execution of the blocking+verify pipeline —
    the in-session analogue of the persisted pair table a production
    pipeline would write (same convention as the minhash family's shared
    shingle table)."""
    from koby_s_ai_vector_db_spark.functions.caching import memo_persist

    return memo_persist(
        spark,
        ("fuzzy_pairs", sf_dir),
        lambda: fuzzy_edit_pairs(load_table(spark, sf_dir, "documents")),
    )


_FUZZY_GROUPS_ORACLE = f"""
WITH RECURSIVE pairs AS ({fuzzy_edit_oracle_sql(EDIT_T).strip()}),
edges AS (
    SELECT doc_id_a AS src, doc_id_b AS dst FROM pairs
    UNION
    SELECT doc_id_b AS src, doc_id_a AS dst FROM pairs
),
reach(src, dst) AS (
    SELECT src, dst FROM edges
    UNION
    SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT src AS doc_id, least(src, min(dst)) AS group_id
FROM reach GROUP BY src
"""


@register("dedup_fuzzy_groups", _FUZZY_GROUPS_ORACLE)
def dedup_fuzzy_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the edit-distance pairs — chains of
    single-word edits (A~B~C with dist(A,C) > t) collapse into one
    group for keep-one curation; same star-contraction operator as
    dedup_groups, fed by the memoized fuzzy pair table. The eager
    contraction memoizes like _neardup_groups_memo (once per session,
    not per build — 19 jobs/build before)."""
    from koby_s_ai_vector_db_spark.functions.caching import memo_persist
    from koby_s_ai_vector_db_spark.operators.dedup import near_dup_groups

    return memo_persist(
        spark,
        ("fuzzy_groups", sf_dir),
        lambda: near_dup_groups(
            _fuzzy_pairs_memo(spark, sf_dir).select("doc_id_a", "doc_id_b")
        ),
    )


# --- cross-source near-dup provenance matrix --------------------------------
# Which pairs of SOURCES leak near-duplicate content into each other? The
# corpus-governance readout a training-data pipeline uses to decide dedup
# priority between crawls/dumps (e.g. CC snapshot vs curated set). Rides
# the memoized MinHash pair subtree; planted dup ids map back to their
# base document (doc_id % 1000000) for source attribution. Jaccard mass
# is int64-quantized before the sum (order-independent cross-engine, the
# rerank.py QSCALE convention).
_SOURCE_MATRIX_ORACLE = f"""
WITH pairs AS ({_MINHASH_ORACLE.strip()}),
src AS (SELECT doc_id, source FROM documents)
SELECT least(sa.source, sb.source) AS source_a,
       greatest(sa.source, sb.source) AS source_b,
       count(*) AS n_pairs,
       CAST(sum(CAST(round(jaccard * 1000000) AS BIGINT)) AS BIGINT)
           AS sum_jac_q6
FROM pairs p
JOIN src sa ON sa.doc_id = p.doc_id_a % {PLANT_OFFSET}
JOIN src sb ON sb.doc_id = p.doc_id_b % {PLANT_OFFSET}
GROUP BY 1, 2
"""


@register("dedup_source_matrix", _SOURCE_MATRIX_ORACLE)
def dedup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per source-pair count + quantized Jaccard mass of near-dup pairs:
    the provenance matrix that ranks which source pairs need cross-dedup
    first. One groupBy over the (small) verified pair table after two
    source-attribution joins; the pair table itself is the memoized
    MinHash subtree shared with dedup_minhash_lsh/dedup_groups."""
    pairs = minhash_near_dup_pairs(
        _docs_dd(spark, sf_dir), threshold=0.5, cache_key=("docs_dd", sf_dir)
    )
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    # Modular attribution is only sound while base ids stay below the
    # planted-id offset — fail loudly the day a scale factor crosses it
    # (ADVICE r07/r08). The guard is IN the plan (lazy — plan-only
    # sweeps and registry enumeration stay action-free): a filtered
    # 1-row max(doc_id) aggregate unions a raise_error row into the
    # SMALL broadcast attribution side, so it evaluates when the
    # broadcast builds. Firing contract (ADVICE r09 precision): the
    # guard fires on every execution in which the memoized pair table
    # has ≥1 row — crucially INCLUDING the misattribution case, where
    # the joins come out wrong/empty but the sa broadcast still builds.
    # The one skip case is an EMPTY pair table, where AQE empty-relation
    # propagation may eliminate the join before sa materializes; there
    # is then nothing to misattribute and the (empty) output is correct,
    # so the weaker guarantee is acceptable. The suggested alternative —
    # cross-joining the guard onto the FINAL aggregate — would be
    # strictly worse: under misattribution the aggregate's runtime stats
    # are empty and AQE would propagate past the guard in exactly the
    # case it must fire. In the healthy path the guard row contributes
    # zero rows (base_a = -1 never matches). Deliberately NOT a
    # union over the final output: wrapping the memoized MinHash
    # subtree in a Union defeats CacheManager substitution of the
    # persisted shingle table (measured 28× at sf1, PLANS_r09 note);
    # unioning only the src-side scan leaves the cached subtree alone.
    guard_row = (
        src.agg(F.max("doc_id").alias("_max_doc_id"))
        .where(F.col("_max_doc_id") >= PLANT_OFFSET)
        .select(
            F.lit(-1).cast("long").alias("base_a"),
            F.raise_error(
                F.concat(
                    F.lit("dedup_source_matrix: max(documents.doc_id)="),
                    F.col("_max_doc_id").cast("string"),
                    F.lit(
                        f" >= PLANT_OFFSET={PLANT_OFFSET}; planted-id "
                        "modular attribution would misattribute sources "
                        "— raise PLANT_OFFSET"
                    ),
                )
            )
            .cast("string")
            .alias("sa"),
        )
    )
    sa = src.select(
        F.col("doc_id").alias("base_a"), F.col("source").alias("sa")
    ).unionByName(guard_row)
    sb = src.select(F.col("doc_id").alias("base_b"), F.col("source").alias("sb"))
    agg = (
        pairs.withColumn("base_a", F.col("doc_id_a") % PLANT_OFFSET)
        .withColumn("base_b", F.col("doc_id_b") % PLANT_OFFSET)
        .join(sa, "base_a")
        .join(sb, "base_b")
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
            "jaccard",
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(F.round(F.col("jaccard") * 1000000).cast("long"))
            .cast("long")
            .alias("sum_jac_q6"),
        )
    )
    return agg


# --- normalization-aware exact dedup -----------------------------------------
# Exact dedup misses trivially-mangled copies (case flips, punctuation,
# whitespace runs) that are bit-identical after canonicalization — the
# cheapest near-dup tier, run BEFORE the probabilistic ones because it
# is still a pure hash-groupBy (no candidate generation at all). The
# fixture arm plants uppercased+padded copies so the fold is visible:
# groups report how many RAW variants they absorbed. Whitespace is an
# explicit class [ \t\n\r\f] on both engines (Java \s includes \x0B,
# RE2 \s does not — the one divergence this tier could hit).
_NORM_WS = r"[ \t\n\r\f]"
_DOCS_NORM_SQL = f"""
{DOCS_DD_SQL}
UNION ALL
SELECT doc_id + 3000000 AS doc_id,
       upper(text) || '  ' AS text
FROM documents WHERE doc_id % 13 = 0
"""

_NORM_EXPR_DUCK = (
    "trim(regexp_replace(regexp_replace(lower(text), "
    rf"'[^\p{{L}}\p{{N}}{_NORM_WS[1:-1]}]', '', 'g'), "
    f"'{_NORM_WS}+', ' ', 'g'))"
)

_NORM_ORACLE = f"""
WITH docs_nn AS ({_DOCS_NORM_SQL}),
normed AS (
    SELECT doc_id, md5(text) AS raw_hash, md5(norm) AS norm_hash
    FROM (SELECT doc_id, text, {_NORM_EXPR_DUCK} AS norm FROM docs_nn)
    WHERE norm <> ''
)
SELECT norm_hash,
       CAST(min(doc_id) AS BIGINT) AS canonical_id,
       CAST(count(*) AS BIGINT) AS n_copies,
       CAST(count(DISTINCT raw_hash) AS BIGINT) AS n_raw_variants
FROM normed GROUP BY norm_hash
HAVING count(*) > 1
"""


def _docs_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(_DOCS_NORM_SQL)


def norm_text_expr(col: str) -> F.Column:
    """Canonical text: lower → strip non-letter/digit/space → collapse
    whitespace → trim. Map-only; the Spark twin of _NORM_EXPR_DUCK."""
    stripped = F.regexp_replace(
        F.lower(F.col(col)), rf"[^\p{{L}}\p{{N}}{_NORM_WS[1:-1]}]", ""
    )
    return F.trim(F.regexp_replace(stripped, f"{_NORM_WS}+", " "))


@register("dedup_normalized", _NORM_ORACLE)
def dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-aware exact dedup: hash-groupBy on canonicalized
    text (lower/strip-punct/collapse-ws), emitting groups with >1 copy
    and the number of distinct RAW variants each group absorbed (>1 =
    folds exact dedup would miss). Same scale shape as dedup_exact: one
    map-only normalization pass, one hash shuffle. Docs whose canonical
    form is EMPTY (symbol-only content) are excluded — they are not
    copies of each other, and at corpus scale they would otherwise fuse
    into one giant spurious group."""
    docs = _docs_nn(spark, sf_dir)
    return (
        docs.select(
            "doc_id",
            F.md5("text").alias("raw_hash"),
            norm_text_expr("text").alias("norm"),
        )
        .where(F.col("norm") != "")
        .select("doc_id", "raw_hash", F.md5("norm").alias("norm_hash"))
        .groupBy("norm_hash")
        .agg(
            F.min("doc_id").alias("canonical_id"),
            F.count("*").alias("n_copies"),
            F.countDistinct("raw_hash").alias("n_raw_variants"),
        )
        .where(F.col("n_copies") > 1)
    )


# --- soft dedup: duplicate-count down-weighting -------------------------------
# The non-destructive alternative to dropping duplicates: keep every
# copy but weight it 1/n_copies so a group of k identical documents
# contributes exactly one document's worth of training signal (the
# reweighting view of dedup used when removal would distort the mixture).
# Per-doc grain so the weights are directly consumable as a sampling
# column; eff_tokens is the doc's token mass after down-weighting.
_SOFT_ORACLE = f"""
WITH docs_dd AS ({DOCS_DD_SQL}),
toks AS (
    SELECT doc_id, md5(text) AS h,
           len(list_filter(string_split_regex(lower(text), '\\s+'),
                           t -> t <> ''))::BIGINT AS n_tokens
    FROM docs_dd
),
grp AS (
    SELECT *, count(*) OVER (PARTITION BY h) AS n_copies FROM toks
)
SELECT doc_id, CAST(n_copies AS BIGINT) AS n_copies, n_tokens,
       round(CAST(1.0 AS DOUBLE) / n_copies, 6) AS weight,
       round(CAST(n_tokens AS DOUBLE) / n_copies, 6) AS eff_tokens
FROM grp
"""


@register("softdedup_weights", _SOFT_ORACLE)
def softdedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft dedup: per-document weight 1/n_copies over exact-hash groups
    — duplicates are down-weighted, not dropped, so a k-copy group
    carries one document of signal. One hash-partition window (shuffle
    on the content hash, no join); weights ride the doc row for any
    downstream weighted sampler (cf. sample_weighted_k)."""
    from koby_s_ai_vector_db_spark.operators.dedup import words_expr

    docs = _docs_dd(spark, sf_dir)
    from pyspark.sql import Window

    toks = docs.select(
        "doc_id",
        F.md5("text").alias("h"),
        F.size(words_expr("text")).cast("long").alias("n_tokens"),
    )
    grp = toks.withColumn(
        "n_copies", F.count("*").over(Window.partitionBy("h"))
    )
    return grp.select(
        "doc_id",
        F.col("n_copies").cast("long").alias("n_copies"),
        "n_tokens",
        F.round(F.lit(1.0) / F.col("n_copies"), 6).alias("weight"),
        F.round(F.col("n_tokens").cast("double") / F.col("n_copies"), 6)
        .alias("eff_tokens"),
    )


# --- round-9 prebuild (NOT registered: the round-8 window is full) -----------
# Inter-source overlap matrix: Jaccard over each source's DISTINCT 3-gram
# set — the governance readout that says which provenance feeds duplicate
# each other BEFORE any doc-level dedup runs (e.g. two crawls of the same
# site). Complements dedup_source_matrix (doc-level planted dups) with a
# corpus-level content measure. Parity: tests/test_prebuilt_r9.py.
_SRC_OVERLAP_ORACLE = """
WITH words AS (
    SELECT source,
           list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS w
    FROM documents
),
posts AS (
    SELECT DISTINCT source, g FROM (
        SELECT source,
               unnest(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                     for i in range(1, len(w) - 1)])) AS g
        FROM words WHERE len(w) >= 3
    )
),
sizes AS (
    SELECT source, CAST(count(*) AS BIGINT) AS n_grams FROM posts GROUP BY 1
),
pairs AS (
    SELECT a.source AS src_a, b.source AS src_b,
           CAST(count(*) AS BIGINT) AS n_inter
    FROM posts a JOIN posts b USING (g)
    WHERE a.source < b.source
    GROUP BY 1, 2
)
SELECT p.src_a, p.src_b, p.n_inter,
       sa.n_grams AS n_a, sb.n_grams AS n_b,
       CAST(round(1000000.0 * p.n_inter
                  / (sa.n_grams + sb.n_grams - p.n_inter)) AS BIGINT)
           AS jaccard_q6
FROM pairs p
JOIN sizes sa ON p.src_a = sa.source
JOIN sizes sb ON p.src_b = sb.source
"""


@register("src_overlap_matrix", _SRC_OVERLAP_ORACLE)
def src_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-level 3-gram Jaccard. Plan: shingle explode →
    DISTINCT (source, gram) postings (ONE corpus shuffle, map-side
    combined), then a postings self-join on the gram key whose fan-out is
    bounded by C(sources_present_per_gram, 2) — sources are hundreds at
    most, never corpus-scale — and a pair-key aggregate. Output is
    |sources|² rows. No all-pairs doc comparison anywhere; at 100 TB the
    postings table is bounded by |vocab|ⁿ · |sources|, not by row count."""
    from koby_s_ai_vector_db_spark.functions.caching import memo_persist
    from koby_s_ai_vector_db_spark.functions.partitioning import spread
    from koby_s_ai_vector_db_spark.operators.dedup import shingles_expr

    docs = load_table(spark, sf_dir, "documents")
    # THREE consumers read the postings (the sizes aggregate and both
    # self-join sides) — without a persist each re-ran the corpus
    # explode + distinct shuffle (round-11 audit find); spread() for the
    # CPU-bound shingle map per the §9 convention.
    posts = memo_persist(
        spark,
        ("src_overlap_posts", sf_dir),
        lambda: spread(docs)
        .select("source", F.explode(shingles_expr("text")).alias("g"))
        .distinct(),
    )
    sizes = posts.groupBy("source").agg(F.count("*").alias("n_grams"))
    pairs = (
        posts.alias("a")
        .join(posts.alias("b"), "g")
        .filter(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        pairs.join(
            F.broadcast(sizes.withColumnRenamed("n_grams", "n_a")),
            F.col("src_a") == F.col("source"),
        )
        .drop("source")
        .join(
            F.broadcast(
                sizes.withColumnRenamed("n_grams", "n_b")
            ).withColumnRenamed("source", "source_b"),
            F.col("src_b") == F.col("source_b"),
        )
        .select(
            "src_a",
            "src_b",
            "n_inter",
            "n_a",
            "n_b",
            F.round(
                1000000.0
                * F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
            )
            .cast("long")
            .alias("jaccard_q6"),
        )
    )
