"""Near-duplicate detection: exact, MinHash+LSH, SimHash, n-gram Jaccard.

This is the scalable-dedup pillar the reference lacks (SURVEY §2.7 north
star): the reference's only similarity machinery is the FAISS/pgvector
vector search (core/utils.py:194-254, supabase_schema.sql:137-171); a
100 TB training-data pipeline also needs text-level near-dup removal.

Scale design
------------
Exact all-pairs comparison is quadratic — never run it on the corpus.
Every operator here follows the same shape:

  1. per-row signature, map-only, JVM-side (md5-based portable hashes so
     the DuckDB oracle computes bit-identical values — functions/hashing.py)
  2. candidate generation by *blocking*: rows sharing an LSH band bucket
     (MinHash) or a pair of signature blocks (SimHash) — shuffle keyed on the
     bucket, bucket sizes bounded w.h.p., and high-entropy bucket
     families capped at BUCKET_CAP (chain fallback) so even adversarial
     identical-content floods stay O(N).
  3. exact verification ONLY on candidate pairs (Jaccard over shingle
     sets / Hamming distance), a join bounded by candidate count.
  4. pair → group promotion by large-star/small-star contraction
     (near_dup_groups): O(log n) rounds independent of component
     diameter, per-round lineage truncation, loud failure over silently
     wrong groups.

Steps 2-3 for banded LSH are ONE primitive, `lsh_verified_pairs`:
MinHash (bands from `minhash_bands`) and hyperplane LSH are each
"signature → band keys → primitive". Three schemes keep their own joins:
SimHash (`_simhash_rep_pairs`), because a bucket cap would break its
pigeonhole completeness; PassJoin (operators/fuzzy.py), whose
segment/probe join is asymmetric and filters on position; and
incremental MinHash, which probes the capped base bucket members and
leaves the verify join strategy to AQE.

The expensive O(N²) scan never happens; the only shuffles are the bucket
group-join and the pair-verify join. The exact brute-force variants
(ngram_jaccard_join with a bounded query side, similarity.knn_self_join)
remain as correctness oracles for recall measurement. The embedding twin
has three tiers: brute-force oracle (dedup_embedding_cosine), angular
LSH with a fully map-side sign-mask sketch (hyperplane_lsh_pairs), and
IVF partition-pruned probing (queries/dedup_q.dedup_embedding_ivf via
similarity.ivf_topk); streaming ingest dedup lives in streaming/dedup.py.

MinHash parameters: 24 hashes in 8 bands × 3 rows. For Jaccard j the
candidate probability is 1-(1-j³)⁸ — ≈0.94 at j=2/3 (our planted
near-dups), ≈1e-7 for unrelated fixture pairs (j≈0.001).

Measured notes (sf0.1, local[32]) — what was tried and why this shape won:
  - candidate pairs via groupBy(bucket) + in-bucket pair explode: one
    shuffle; the bands self-join computes the same set with two exchanges
    (equal within noise at fixture scale — the exchange count is the
    100 TB argument, not a local win).
  - signature evaluation: Spark evaluates higher-order-function lambdas
    interpreted (not codegen'd), so the 24-permutation map costs ~4 s
    steady-state; an Arrow-batched numpy pandas_udf alternative measured
    2× SLOWER (array<string> Arrow transfer + worker spawn), and a
    loop-form `transform` over a literal param array slower still — the
    unrolled JVM expressions stay.
  - persisting hash arrays instead of gram-string arrays: no measurable
    difference; first-run cost is dominated by one-time plan compilation,
    amortized in any long-lived session.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

P = 2147483647  # 2^31 - 1: a*h+b stays < 2^62, safe in BIGINT on both engines
N_HASHES = 24
BANDS = 8
ROWS = 3
assert BANDS * ROWS == N_HASHES

# Fixed affine permutation constants, embedded as literals in both the
# Spark expressions and the DuckDB oracle SQL (seeded → reproducible).
_rng = random.Random(20260813)
HASH_PARAMS = [(_rng.randrange(1, P), _rng.randrange(0, P)) for _ in range(N_HASHES)]

NGRAM_N = 3

# SQL fragments shared verbatim between engines ------------------------------

_WORDS = "array_remove(split(lower({col}), '\\\\s+'), '')"


def words_expr(col: str) -> Column:
    """Whitespace word tokens of a string column (empties dropped)."""
    return F.expr(_WORDS.format(col=col))


def _grams_body(var: str, n: int, distinct: bool) -> str:
    """Shingle construction over an already-bound token-array variable —
    the single source of truth for BOTH the text-input and the
    pre-tokenized-input shingle expressions (they cannot drift)."""
    grams = (
        f"transform(sequence(1, size({var}) - {n - 1}),"
        f" i -> concat_ws(' ', slice({var}, i, {n})))"
    )
    if distinct:
        grams = f"array_distinct({grams})"
    # Explicit CASE for short rows: Spark's sequence(1, 0) is a
    # DESCENDING [1, 0], and its i=0 errors inside slice(nv, 0, n) —
    # greatest(..., 0) alone does not yield an empty shingle array.
    return f"CASE WHEN size({var}) >= {n} THEN {grams} ELSE array() END"


def shingles_expr(col: str, n: int = NGRAM_N, distinct: bool = True) -> Column:
    """Word n-gram shingles, JVM-side — distinct by default (the set
    semantics every Jaccard/MinHash tier uses); distinct=False keeps
    every occurrence (the TF semantics the TF-IDF tier needs). One
    tokenization expression serves both so the tiers cannot drift.
    Rows with < n words yield an empty array (callers filter).

    The token array is bound once per row (functions/exprs.py) — spelling
    the split out inside the transform lambda would re-tokenize the
    document once per shingle position."""
    from koby_s_ai_vector_db_spark.functions.exprs import bind_once

    w = _WORDS.format(col=col)
    return F.expr(bind_once(w, _grams_body("nv", n, distinct)))


def shingles_from_words_expr(
    words_col: str, n: int = NGRAM_N, distinct: bool = True
) -> Column:
    """`shingles_expr` over an ALREADY-tokenized array<string> column —
    the shared-scan path: when several shingle widths consume one corpus
    (the contamination fold), the caller tokenizes once into a persisted
    (id, words) table and each width derives its grams from that column
    instead of re-splitting the text per arm. Identical gram semantics by
    construction (same `_grams_body`).

    The column is bind_once'd even though it is "already" an array:
    when a caller's words column is an UNMATERIALIZED projection (e.g.
    `select(words_expr("text").alias("w"))` straight into this), Catalyst's
    CollapseProject inlines the tokenizer into every `w` use site —
    including the slice() inside the transform lambda, re-tokenizing the
    document once per shingle position (measured: m11's bounded delta of
    418 docs took 8.6 s to shingle at sf0.1). Binding costs one
    element_at(transform(array(col)..)) wrap on materialized columns and
    makes the expression safe for both input classes."""
    from koby_s_ai_vector_db_spark.functions.exprs import bind_once

    return F.expr(bind_once(words_col, _grams_body("nv", n, distinct)))


_H32 = "CAST(conv(substr(md5({x}), 1, 8), 16, 10) AS BIGINT)"


def _md5_u32(s: str) -> int:
    """Python twin of `_H32` — first 8 md5 hex chars as an unsigned int.
    Used to pre-compute constants (e.g. hyperplane sign masks) that the
    SQL oracles re-derive from the identical md5 stream."""
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def shingle_hashes_expr(grams_col: str) -> Column:
    """One md5-derived 32-bit hash per shingle, reduced mod P — computed
    once and reused by all N_HASHES affine permutations."""
    return F.expr(f"transform({grams_col}, x -> {_H32.format(x='x')} % {P}L)")


def minhash_sig_expr(hashes_col: str) -> Column:
    """MinHash signature over a precomputed shingle-hash array: array<long>
    of N_HASHES minima of affine permutations — pure integer arithmetic,
    map-only, inside codegen."""
    mins = ", ".join(
        f"array_min(transform({hashes_col}, x -> ({a}L * x + {b}L) % {P}L))"
        for a, b in HASH_PARAMS
    )
    return F.expr(f"array({mins})")


def minhash_bands(grams: DataFrame) -> DataFrame:
    """(_id, band_id, band_key) LSH bands of a (_id, g) shingle table:
    MinHash signature, then BANDS strings each joining ROWS consecutive
    signature values."""
    sigs = grams.withColumn("_h", shingle_hashes_expr("g")).withColumn(
        "sig", minhash_sig_expr("_h")
    )
    keys = F.expr(
        f"transform(sequence(0, {BANDS - 1}), j ->"
        f" concat_ws(',', transform(slice(sig, j * {ROWS} + 1, {ROWS}),"
        f" v -> CAST(v AS STRING))))"
    )
    return sigs.select("_id", F.posexplode(keys).alias("band_id", "band_key"))


# LSH bucket-size cap: a bucket holding N rows explodes into N(N-1)/2
# candidate pairs — quadratic in the one place LSH is supposed to avoid
# quadratics. Oversized buckets are near-always identical/boilerplate text
# (one signature, unbounded copies: the "viral bucket" hazard). Above the
# cap we emit the CHAIN of consecutive sorted ids instead of all pairs:
# O(N) candidates that keep every bucket member transitively connected, so
# `near_dup_groups` produces IDENTICAL groups, and pair-level recall only
# degrades inside pathological buckets (whose members are duplicates of
# each other anyway — collapse them with `exact_dup_groups` upstream for
# exact semantics). The DuckDB oracles mirror the same rule, so the cap is
# value-checked cross-engine, and a planted 200-identical-docs test pins
# the candidate count to O(N) (tests/test_dedup_ops.py).
BUCKET_CAP = 32


def lsh_verified_pairs(
    bands: DataFrame, rows: DataFrame, score, threshold: float
) -> DataFrame:
    """The banded-LSH blocking step: `bands` (_id, band_id, band_key) →
    sorted-id buckets → candidate pairs (all pairs up to BUCKET_CAP, the
    consecutive chain beyond) → exact `score(xa, xb)` over `rows`
    (_id, x). Returns (ai, bi, score), ai < bi, score >= threshold;
    `ai < bi` also drops the self-pair of an id that appears twice."""
    buckets = (
        bands.groupBy("band_id", "band_key")
        .agg(F.sort_array(F.collect_list("_id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    all_pairs = (
        "flatten(transform(sequence(1, size(ids) - 1),"
        " i -> transform(slice(ids, i + 1, size(ids) - i),"
        " b -> struct(ids[i-1] AS ai, b AS bi))))"
    )
    chain = (
        "transform(sequence(1, size(ids) - 1),"
        " i -> struct(ids[i-1] AS ai, ids[i] AS bi))"
    )
    capped = F.expr(f"IF(size(ids) <= {BUCKET_CAP}, {all_pairs}, {chain})")
    cand = (
        buckets.select(F.explode(capped).alias("p"))
        .select("p.ai", "p.bi")
        .filter(F.col("ai") < F.col("bi"))
        .distinct()
    )
    xa = rows.select(F.col("_id").alias("ai"), F.col("x").alias("xa"))
    xb = rows.select(F.col("_id").alias("bi"), F.col("x").alias("xb"))
    # cand is tiny relative to the corpus (bounded by true near-dup pairs +
    # LSH false positives) — broadcast it so the row payloads never shuffle.
    return (
        F.broadcast(cand)
        .join(xa, "ai")
        .join(xb, "bi")
        .withColumn("score", score("xa", "xb"))
        .filter(F.col("score") >= threshold)
        .select("ai", "bi", "score")
    )


def jaccard(a: str, b: str) -> Column:
    """Exact Jaccard over two (distinct-element) array columns."""
    return F.size(F.array_intersect(F.col(a), F.col(b))).cast("double") / F.size(
        F.array_union(F.col(a), F.col(b))
    )


from koby_s_ai_vector_db_spark.functions.partitioning import spread as _spread


def exact_dup_groups(docs: DataFrame) -> DataFrame:
    """Exact dedup: hash-groupBy on the raw text. One shuffle keyed by
    text hash; at scale group on md5(text) so the shuffle key is 16 bytes,
    not the document."""
    return (
        docs.groupBy(F.md5(F.col("text")).alias("text_hash"))
        .agg(F.min("doc_id").alias("canonical_id"), F.count("*").alias("n_copies"))
        .filter(F.col("n_copies") > 1)
    )


def _shingle_table(
    docs: DataFrame,
    cache_key=None,
    persist_uncached: bool = True,
) -> DataFrame:
    """(_id, g): distinct word-3-gram shingles per doc, empty-shingle rows
    dropped, input spread for CPU-bound map parallelism. With `cache_key`
    the result is persisted ONCE per (session, key) and shared by every
    shingle consumer (MinHash signatures, n-gram Jaccard postings) — the
    in-session analogue of a materialized signature table. Without a key,
    `persist_uncached` governs a per-call persist: MinHash needs it (four
    consumers in one DAG); single-consumer callers skip it."""
    from pyspark import StorageLevel

    from koby_s_ai_vector_db_spark.functions.caching import memo_persist

    def _build() -> DataFrame:
        # array_rows_nonempty, not select+filter(size>0): the latter
        # re-embeds the shingle chain into the Filter condition and the
        # build evaluates it ~3x per row (functions/exprs.py, round 12).
        from koby_s_ai_vector_db_spark.functions.exprs import (
            array_rows_nonempty,
        )

        return array_rows_nonempty(
            _spread(docs),
            [F.col("doc_id").alias("_id")],
            shingles_expr("text"),
            "g",
        )

    if cache_key is not None:
        return memo_persist(docs.sparkSession, ("shingles", cache_key), _build)
    return _build().persist(StorageLevel.MEMORY_AND_DISK) if persist_uncached else _build()


def minhash_near_dup_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    cache_key=None,
) -> DataFrame:
    """MinHash → banded LSH buckets → candidate pairs → exact-Jaccard
    verify. Returns (doc_id_a, doc_id_b, jaccard) with a < b and
    jaccard >= threshold. Pass `cache_key` (any hashable identifying the
    input corpus) to share the persisted shingle table across repeated
    calls AND across operators in the same session — the pair query, the
    groups query, and the n-gram Jaccard query all read one copy.
    """
    # Signatures are computed ONCE and reused by three consumers (the
    # bands and both arms of the pair verify). At cluster scale this is a
    # materialized signature table (write once, read per stage);
    # in-session the analogue is the persisted/memoized _shingle_table —
    # without it the shingle+md5 pipeline re-executes per branch.
    grams = _shingle_table(docs, cache_key)
    out = lsh_verified_pairs(
        minhash_bands(grams), grams.select("_id", F.col("g").alias("x")),
        jaccard, threshold,
    ).select(
        F.col("ai").alias("doc_id_a"),
        F.col("bi").alias("doc_id_b"),
        F.round("score", 6).alias("jaccard"),
    )
    if cache_key is None:
        return out
    # The verified PAIR table is tiny (near-dups + surviving FPs) but its
    # lineage is the whole signature→band→bucket→verify pipeline; five
    # registered consumers (the pair/groups/source-matrix queries and the
    # two curate_* composites) would otherwise re-run that pipeline per
    # call even with the shingle table persisted (measured ~1 s/call at
    # sf0.1, ~3.5 s at sf1). Same convention as _fuzzy_pairs_memo — the
    # in-session analogue of the pair table a production pipeline writes.
    from koby_s_ai_vector_db_spark.functions.caching import memo_persist

    return memo_persist(
        out.sparkSession,
        ("minhash_pairs", threshold, cache_key),
        lambda: out,
    )


def simhash_expr(text_col: str, bits: int = 32) -> Column:
    """SimHash over word tokens (with multiplicity), as a single map-only
    aggregate expression: per-token md5-derived ``bits``-bit hash, bitwise
    vote accumulated in an int array, majority → bit. No shuffle.

    ``bits`` must be a multiple of 4 and ≤ 60 (the hash is the first
    bits/4 md5 hex chars — 60 bits is the widest that stays positive in
    a signed BIGINT on both engines). 32 is kept as the default for the
    streaming first-seen catalog (streaming/dedup.py, whose oracle
    mirrors it); the batch near-dup PAIRS path uses 60 — see
    simhash_near_dup_pairs."""
    if bits % 4 or not 0 < bits <= 60:
        raise ValueError(f"bits must be a multiple of 4 in (0, 60], got {bits}")
    toks = _WORDS.format(col=text_col)
    th = (
        f"transform({toks}, t -> CAST(conv(substr(md5(t), 1, {bits // 4}),"
        f" 16, 10) AS BIGINT))"
    )
    # Per-token vote folded into ONE zip_with over acc and the
    # constant-folded bit-index sequence (h is visible inside the nested
    # lambda): the old transform-then-zip_with allocated an extra
    # `bits`-wide array per token. Round-13 interleaved A/B at sf0.1:
    # ~9% faster sketch stage, bit-identical sketches.
    return F.expr(
        f"aggregate({th}, array_repeat(0L, {bits}),"
        f" (acc, h) -> zip_with(acc, sequence(0, {bits - 1}),"
        "   (a, b) -> a + IF(((h >> b) & 1) = 1, 1L, -1L)),"
        f" acc -> aggregate(zip_with(acc, sequence(0, {bits - 1}),"
        "   (s, b) -> IF(s > 0, shiftleft(1L, b), 0L)), 0L, (a, x) -> a + x))"
    )


def simhash_table(docs: DataFrame, bits: int = 60) -> DataFrame:
    """(_id, sh): DataFrame-level SimHash over word tokens — the same
    per-token md5 hash, majority bit-vote, and sign-pack as
    `simhash_expr` (value-equivalence pytest-pinned), but built as
    explode → ``bits`` conditional vote SUMS with map-side combine →
    one sign-pack projection. The HOF form allocates a bits-wide array
    twice per token inside the interpreted lambda evaluator (measured
    ~20 s of the sf1 probe's 27 s); this form is whole-stage-codegen
    end to end and shuffles only (doc, 60 longs) partial aggregates.

    Docs whose token list is empty produce NO row (there is nothing to
    vote); `simhash_expr` gives such docs sh = 0 — callers that admit
    empty docs must pre-filter (the registered query and the DuckDB
    oracle both do)."""
    if bits % 4 or not 0 < bits <= 60:
        raise ValueError(f"bits must be a multiple of 4 in (0, 60], got {bits}")
    # Bind the token array once (round 12): a direct explode gets the
    # tokenizer re-inlined into InferFiltersFromGenerate's inferred
    # filter — the sketch build then tokenizes every doc ~3×
    # (functions/exprs.py::array_rows_nonempty).
    from koby_s_ai_vector_db_spark.functions.exprs import array_rows_nonempty

    toks = array_rows_nonempty(
        _spread(docs),
        [F.col("doc_id").alias("_id")],
        F.expr(_WORDS.format(col="text")),
        "_w",
    ).select("_id", F.explode("_w").alias("t"))
    h = F.expr(f"CAST(conv(substr(md5(t), 1, {bits // 4}), 16, 10) AS BIGINT)")
    votes = (
        toks.select("_id", h.alias("h"))
        .groupBy("_id")
        .agg(
            *[
                F.sum(F.expr(f"IF(((h >> {b}) & 1) = 1, 1L, -1L)")).alias(f"s{b}")
                for b in range(bits)
            ]
        )
    )
    pack = " + ".join(f"IF(s{b} > 0, {1 << b}L, 0L)" for b in range(bits))
    return votes.select("_id", F.expr(pack).alias("sh"))


def simhash_near_dup_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    cache_key=None,
    bits: int = 60,
) -> DataFrame:
    """SimHash blocking: (max_hamming + 2) equal blocks per signature; any
    pair within Hamming distance max_hamming shares at least one identical
    PAIR of blocks (pigeonhole), so blocking loses nothing. ``bits`` must
    divide into those blocks (ValueError otherwise).
    Returns (doc_id_a, doc_id_b, hamming), a < b.

    ``bits`` defaults to 60 (five 12-bit blocks, 24-bit pair keys at
    max_hamming=3): the r5 sf1 scale probe showed the original 32-bit
    sketch's 8-bit blocks are a SCALE BUG — 256-value keys make
    co-bucketed candidates grow as N²/256 (10× data → ~100× pairs; the
    probe's sf1 run sat in the candidate explode for minutes). Wider
    keys cut candidates at equal N with the identical pigeonhole
    guarantee, and the wider sketch also sharpens hamming≤3 into a
    true near-duplicate criterion (60 agreeing majority votes, not 32).

    `cache_key` memo-persists the per-doc sketch table (the
    O(tokens·bits) vote aggregate — the dominant map cost) per session,
    like the shingle table.

    Empty-token docs are EXCLUDED (round 11, ADVICE r11): simhash_table
    emits no row for a doc whose tokenization is empty (previously such
    docs got sh=0 and two blank docs emitted a hamming-0 pair). A
    signature over zero tokens carries no similarity evidence, so
    blank×blank "near-dups" were noise; callers needing blank-doc
    grouping should pair empties upstream via exact dedup on the
    normalized text. The ('simhash_sigs', bits, cache_key) memo key is
    unchanged because the memo is per-session and both producers/readers
    moved together in round 11."""
    from koby_s_ai_vector_db_spark.functions.caching import memo_persist

    # _simhash_rep_pairs keys on pairs of (max_hamming + 2) equal blocks.
    if bits % (max_hamming + 2):
        raise ValueError(
            f"bits={bits} not divisible into {max_hamming + 2} blocks"
        )

    def _sigs():
        return simhash_table(docs, bits)

    sigs = (
        memo_persist(docs.sparkSession, ("simhash_sigs", bits, cache_key), _sigs)
        if cache_key is not None
        else _sigs()
    )
    # Pre-collapse identical sketches BEFORE blocking (round 11): the
    # viral-bucket hazard is a duplicate-heavy corpus where thousands of
    # docs share ONE sketch — every block bucket then holds the whole
    # group, and the in-bucket pair generation materializes O(N²) structs
    # inside a single task's collect_list array, once per block (4×),
    # before a distinct over the 4×-duplicated candidates. The DISTINCT
    # SKETCH is the real blocking unit: identical-sketch members share
    # all blocks (hamming 0 ≤ max_hamming always qualifies), and for two
    # distinct sketches either every cross-member pair shares a block or
    # none does. So: block over one representative per sketch, decide
    # rep-pairs at sketch level (diagonal included via the <= self-join,
    # so intra-group pairs need no separate arm), then expand back to
    # member pairs with streaming joins — the emitted pair set is
    # ROW-IDENTICAL (the DuckDB oracle is untouched), bucket work is
    # bounded by the number of DISTINCT sketches per block value, and the
    # quadratic intra-group output is produced by iterator-based joins,
    # not an in-memory array explode (tests/test_dedup_ops.py pins both
    # the identical output and the rep-level candidate bound on a planted
    # 1k-duplicate group).
    #
    # Deliberately NO Union anywhere above `sigs`: a first version
    # returned intra.unionByName(cross) and the Union defeated
    # CacheManager substitution of the memo-persisted sigs at ALL its
    # read sites (0 InMemoryRelations — every consumer silently re-ran
    # the sketch build; the round-9 union-over-memo lesson, re-learned).
    # Instead each rep pair explodes into its one (diagonal) or two
    # (off-diagonal) orientations and a single ida < idb expansion emits
    # every member pair exactly once; tests/test_plans.py pins the
    # substituted plan.
    rep_pairs = _simhash_rep_pairs(sigs, max_hamming, bits)
    oriented = rep_pairs.select(
        F.explode(
            F.expr(
                "IF(sha = shb,"
                " array(struct(sha AS sa, shb AS sb, hamming AS h)),"
                " array(struct(sha AS sa, shb AS sb, hamming AS h),"
                "       struct(shb AS sa, sha AS sb, hamming AS h)))"
            )
        ).alias("p")
    ).select("p.sa", "p.sb", "p.h")
    ma = sigs.select(F.col("sh").alias("sa"), F.col("_id").alias("ida"))
    mb = sigs.select(F.col("sh").alias("sb"), F.col("_id").alias("idb"))
    return (
        oriented.join(ma, "sa")
        .join(mb, "sb")
        .filter(F.col("ida") < F.col("idb"))
        .select(
            F.col("ida").alias("doc_id_a"),
            F.col("idb").alias("doc_id_b"),
            F.col("h").cast("int").alias("hamming"),
        )
    )


def _simhash_rep_pairs(
    sigs: DataFrame, max_hamming: int, bits: int
) -> DataFrame:
    """Sketch-level candidate pairs (sha <= shb, hamming ≤ max_hamming)
    via block LSH over ONE row per distinct sketch — the <= keeps the
    DIAGONAL (sha = shb, hamming 0), which is how intra-group member
    pairs reach the expansion join without a Union arm. Factored out so
    the planted-duplicate test can pin the bound that makes
    simhash_near_dup_pairs scale: this stage's work and pair count
    depend only on the number of DISTINCT sketches, never on group
    sizes.

    Blocking scheme (round 14, VERDICT r13 item 3): bits splits into
    (max_hamming + 2) blocks and the join keys on PAIRS of blocks —
    ≤ max_hamming errors dirty at most max_hamming of the max_hamming+2
    blocks, so at least TWO blocks are clean and some clean pair matches
    (pigeonhole, the same completeness as keying on one clean block of
    max_hamming + 1; the exact hamming filter below then decides). The
    pair key carries 2× the bits (24 vs 15 at bits=60/max_hamming=3), which is
    what breaks up the crowded buckets a narrow-vocabulary corpus piles
    onto low-entropy 15-bit values: measured at the sf1 probe corpus,
    Σ(bucket²) candidate mass 65.1M → 8.8M (7.4×), max bucket 3040 →
    625, C(5,2)=10 keys/sketch vs 4. At high sketch entropy both schemes
    have ~empty buckets and the extra keys cost one slightly larger
    (2.5×) exchange of the DISTINCT-sketch table only."""
    from itertools import combinations

    n_blocks = max_hamming + 2
    block_bits = bits // n_blocks
    block_mask = (1 << block_bits) - 1
    key_exprs = ", ".join(
        f"struct({pid} AS block_id,"
        f" (shiftright(sh, {i * block_bits}) & {block_mask}L)"
        f" * {block_mask + 1}L"
        f" + (shiftright(sh, {j * block_bits}) & {block_mask}L)"
        f" AS block_val)"
        for pid, (i, j) in enumerate(combinations(range(n_blocks), 2))
    )
    blocks = sigs.select("sh").distinct().select(
        "sh", F.explode(F.expr(f"array({key_exprs})")).alias("_k")
    ).select("sh", "_k.block_id", "_k.block_val")
    # Unlike the MinHash path's collect_list + array-explode buckets, pair
    # generation here is a streaming SELF-JOIN on the block key: a
    # narrow-vocabulary corpus crowds thousands of DISTINCT sketches into
    # one 15-bit block value, and a collect_list bucket would materialize
    # the whole quadratic candidate array inside one row of one task
    # (measured 14.5 s at the sf1 probe for 20k surviving pairs). The join
    # streams candidates iterator-style, the hamming filter runs BEFORE
    # the distinct so only qualifying pairs ever shuffle, and Catalyst
    # reuses the one blocks exchange for both sides.
    #
    # NO BUCKET_CAP here, deliberately: capping a block bucket would break
    # the pigeonhole completeness guarantee (every pair within
    # max_hamming shares a block). The scale knobs for SimHash are key
    # ENTROPY (bits / block_bits above) and the distinct-sketch collapse —
    # whereas MinHash bands and hyperplane sketches already have
    # high-entropy keys and get the cap (lsh_verified_pairs).
    a, b = blocks.alias("a"), blocks.alias("b")
    return (
        a.join(
            b,
            (F.col("a.block_id") == F.col("b.block_id"))
            & (F.col("a.block_val") == F.col("b.block_val"))
            & (F.col("a.sh") <= F.col("b.sh")),
        )
        .select(F.col("a.sh").alias("sha"), F.col("b.sh").alias("shb"))
        .withColumn("hamming", F.bit_count(F.col("sha").bitwiseXOR(F.col("shb"))))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def ngram_jaccard_join(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    threshold: float = 0.3,
    cache_key=None,
) -> DataFrame:
    """Exact word-n-gram Jaccard top-k join via an inverted shingle index.

    Instead of corpus × queries with a per-pair array intersect (quadratic
    row count, giant array columns through the join), explode both sides to
    (id, shingle) postings and equi-join on the shingle: only pairs sharing
    at least one shingle ever materialize, the match count IS the
    intersection size, and |union| = |qg| + |cg| - inter. Results are
    identical to the brute-force form — zero-overlap pairs can never enter
    the top-k above `threshold` > 0 — but the work is proportional to the
    number of colliding postings, not |corpus| × |queries|. The query side
    (bounded) is broadcast, so the corpus postings never shuffle; the only
    shuffle is the (query_id, doc_id) count aggregate over candidate pairs.
    `cache_key` shares the SAME persisted shingle table the MinHash path
    memoizes for this corpus (one shingle computation per session, read by
    both operators). Returns (query_id, doc_id, jaccard, rank)."""
    from pyspark.sql import Window

    c = _shingle_table(
        corpus, cache_key, persist_uncached=False
    ).select(F.col("_id").alias("doc_id"), F.col("g").alias("cg"))
    from koby_s_ai_vector_db_spark.functions.exprs import array_rows_nonempty

    q = array_rows_nonempty(
        queries, [F.col("doc_id").alias("query_id")], shingles_expr("text"), "qg"
    )
    c_post = c.select("doc_id", F.size("cg").alias("c_n"), F.explode("cg").alias("s"))
    q_post = q.select("query_id", F.size("qg").alias("q_n"), F.explode("qg").alias("s"))
    inter = (
        c_post.join(F.broadcast(q_post), "s")
        .filter(F.col("query_id") != F.col("doc_id"))
        .groupBy("query_id", "doc_id")
        .agg(
            F.count("*").alias("inter"),
            F.first("q_n").alias("q_n"),
            F.first("c_n").alias("c_n"),
        )
    )
    scored = inter.withColumn(
        "jaccard",
        F.col("inter").cast("double") / (F.col("q_n") + F.col("c_n") - F.col("inter")),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("jaccard"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .filter(F.col("jaccard") >= threshold)
        .select("query_id", "doc_id", F.round("jaccard", 6).alias("jaccard"), "rank")
    )


def hyperplane_lsh_pairs(embeddings: DataFrame) -> DataFrame:
    """Embedding near-dup at scale: random-hyperplane (angular/SimHash)
    LSH blocking, then exact-cosine verify on candidates only — the vector
    twin of `minhash_near_dup_pairs` and the scale path behind the
    brute-force `dedup_embedding_cosine` tier.

    Each vector gets a 64-bit sketch: bit j = sign(<v, r_j>) for a
    fixed Rademacher (+/-1) plane r_j. P(bit agrees) = 1 - theta/pi, so for
    planted near-dups (cos 0.88-0.92, theta ~ 25 deg) an 8-bit band matches
    with p ~ 0.29 and 8 bands give ~0.94 candidate recall, while unrelated
    dim-64 pairs (cos ~ 0) collide on ~0.4% of bands. The band width tunes
    the false-candidate rate exponentially; verify cost = candidates x dim.
    Vectors are 64-d: one 64-bit sign mask per plane.

    Planes are derived from the portable md5 hash (functions/hashing.py) —
    NOT an RNG — so the DuckDB oracle regenerates bit-identical planes and
    the whole pipeline is value-checked cross-engine, like MinHash.
    Returns (vec_id_a, vec_id_b, sim), a < b, sim >= 0.85."""
    from koby_s_ai_vector_db_spark.functions.vectors import dot, l2_normalize


    # The whole 64-bit sketch is computed MAP-SIDE in one expression:
    # the planes are md5-derived ±1 constants, so each plane packs into one
    # 64-bit sign mask embedded as a literal — bit i of mask j is the sign
    # of plane j, dimension i. sign(<v, r_j>) then needs no join at all:
    # fold v against the mask with ±element_at. The previous shape
    # (crossJoin 64 broadcast plane rows, then groupBy(_id) to reassemble
    # the bits) shuffled 64× the corpus row count keyed on vec_id — at
    # 100 TB that exchange dominates the operator; this form has ZERO
    # exchanges before banding. Multiplying by ±1.0 and adding ±x are
    # bit-identical in IEEE 754 and both engines sum dimensions in index
    # order, so the sketch stays value-checked cross-engine.
    # A fully-unrolled static ± chain per plane (4096-leaf expression)
    # was tried in round 11 and MEASURED WORSE despite being codegen-side:
    # sf0.1 1.49 → 4.9 s, sf1 steady 5-10 → 8.9 s, and the first sf1 pass
    # hit 93 s of JIT on the megamorphic split methods (2.3 MiB task
    # binaries). The masked-aggregate HOF below keeps the expression tree
    # tiny (the 64 × 64 loop runs in the interpreted evaluator but
    # allocates nothing per step), which empirically beats straight-line
    # codegen at this width. Reverted; the probe rows live in BASELINE.md
    # round-11.
    masks = []
    for pid in range(64):
        m = 0
        for i in range(64):
            h = int(_md5_u32(f"plane:{pid}:{i}"))
            if h % 2 == 0:  # matches IF(md5_u32 % 2 = 0, 1.0, -1.0)
                m |= 1 << i
        masks.append(m - (1 << 64) if m >= (1 << 63) else m)  # signed BIGINT
    masks_sql = "array(" + ", ".join(f"{m}L" for m in masks) + ")"
    sketch = F.expr(
        f"concat_ws('', transform({masks_sql}, m ->"
        " IF(aggregate(sequence(0, 63), CAST(0.0 AS DOUBLE),"
        f" (a, i) -> a + IF(shiftright(m, i) & 1 = 1,"
        f" element_at(x, i + 1), -element_at(x, i + 1))) > 0, '1', '0')))"
    )

    c = (
        _spread(embeddings)
        .select(F.col("vec_id").alias("_id"), l2_normalize("embedding").alias("x"))
    )
    bands = c.withColumn("bits", sketch).select(
        "_id",
        F.posexplode(
            F.expr(
                "transform(sequence(0, 7), b -> substring(bits, b * 8 + 1, 8))"
            )
        ).alias("band_id", "band_key"),
    )
    return lsh_verified_pairs(bands, c, dot, 0.85).select(
        F.col("ai").alias("vec_id_a"),
        F.col("bi").alias("vec_id_b"),
        F.round("score", 6).alias("sim"),
    )


def near_dup_groups(pairs: DataFrame, max_iter: int = 30) -> DataFrame:
    """Connected components over near-dup pairs: (doc_id, group_id) with
    group_id = min doc id reachable — the step that turns pairwise LSH
    output into dedup GROUPS a curation pipeline can act on (keep the
    canonical min-id member, drop the rest).

    Alternating large-star / small-star contraction (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", 2014): each round
    rewires edges toward per-neighborhood minima —

      large-star: for every node u with m = min(Γ(u) ∪ {u}), replace each
                  edge to a LARGER neighbor v > u by (v, m);
      small-star: for every node u with N = {v ∈ Γ(u) : v < u} nonempty
                  and m = min(N), connect u and every other v ∈ N to m.

    Both steps preserve connectivity, and the component collapses onto a
    star centered at its minimum id in O(log n) rounds REGARDLESS of
    diameter — unlike min-label propagation, whose round count is the
    component diameter (unbounded on chain-shaped duplicate clusters; the
    round-2 implementation silently returned wrong groups past round 10).
    Per-round work is two groupBy/join passes over the edge set — the same
    shuffle primitives, just a rewiring that contracts geometrically.

    Convergence is detected by an order-independent edge-set checksum
    (count + sum of per-edge xxhash64) — one cheap aggregate per round,
    no extra shuffle of the edge set. If `max_iter` rounds pass without
    convergence the function RAISES rather than return wrong groups.

    Each round's result is `localCheckpoint`ed: the round's plan
    references its input several times (union of both directions, the
    star joins), so without lineage TRUNCATION the logical plan grows
    exponentially with rounds (the round-2 persist-only draft OOMed the
    driver just rendering the plan string). On a cluster swap this for
    `checkpoint()` against reliable storage — same contract, fault
    tolerant; the iteration shape is unchanged.
    """
    und = pairs.select(F.col("doc_id_a").alias("src"), F.col("doc_id_b").alias("dst"))
    edges = und.localCheckpoint(eager=True)
    # nodes derives from the CHECKPOINTED edges, not `und`: the final
    # roots anti-join below is otherwise the one consumer still chained to
    # the full upstream pair-generation DAG and re-executes it per action.
    nodes = (
        edges.select("src").union(edges.select(F.col("dst").alias("src"))).distinct()
    )

    def _checksum(e: DataFrame) -> tuple:
        row = e.agg(
            F.count("*").alias("n"),
            F.sum(
                F.xxhash64(F.least("src", "dst"), F.greatest("src", "dst"))
                .cast("decimal(38,0)")  # exact sum — no ANSI long overflow
            ).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    prev_sum = None
    for _ in range(max_iter):
        # large-star: gather both directions, m = min over closed
        # neighborhood, re-point larger neighbors at m.
        both = edges.union(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        lmin = both.groupBy("src").agg(
            F.least(F.min("dst"), F.first("src")).alias("m")
        )
        large = (
            both.join(lmin, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .distinct()
        )
        # small-star: orient every edge large→small, m = min small
        # neighbor, connect u and its other small neighbors to m.
        oriented = large.select(
            F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
        )
        smin = oriented.groupBy("src").agg(F.min("dst").alias("m"))
        small = (
            oriented.join(smin, "src")
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .union(smin.select("src", F.col("m").alias("dst")))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
            .localCheckpoint(eager=True)  # truncate lineage, materialize
        )
        edges = small
        cur_sum = _checksum(small)
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    else:
        raise RuntimeError(
            f"near_dup_groups: star contraction did not converge in "
            f"{max_iter} rounds — raise max_iter (components of 2^{max_iter} "
            f"nodes converge w.h.p.; non-convergence here is a bug, not data)"
        )

    # Converged: every edge points (member → component-min root). Roots
    # themselves have no outgoing edge — they label themselves.
    members = edges.select(F.col("src").alias("doc_id"), F.col("dst").alias("group_id"))
    roots = nodes.join(
        members.select("doc_id"), nodes["src"] == members["doc_id"], "left_anti"
    ).select(F.col("src").alias("doc_id"), F.col("src").alias("group_id"))
    return members.union(roots)


def incremental_minhash_dedup(
    base: DataFrame,
    new: DataFrame,
    cache_key=None,
    new_key=None,
) -> DataFrame:
    """Continuous-ingest dedup: a NEW batch checked against an EXISTING
    corpus — candidates are (new x base) band collisions only, never
    new x new or base x base, so a day's crawl pays band-join work
    proportional to ITS size, not the corpus's. Returns one verdict row
    per new doc: (new_id, verdict 'duplicate'|'novel', base_id, jaccard)
    with -1/0.0 sentinels for novel rows (NULL-free by convention); a
    duplicate has Jaccard >= 0.5 to its base match.

    The base side's signature table is the thing a production pipeline
    PERSISTS (sources/pq_index.py analogue for text); in-session the memoized
    shingle table stands in via `cache_key`. Crowded base buckets keep
    their first BUCKET_CAP sorted members — a new doc landing in a viral
    bucket still meets a representative (the cap rule is mirrored in the
    oracle), and only candidate RECALL inside pathological buckets is
    affected, never precision (exact Jaccard verifies every candidate).
    """
    from pyspark.sql import Window

    if cache_key is not None and new_key is None:
        # Loud, not silent (ADVICE r12): a memo keyed only by the BASE's
        # cache_key would serve the FIRST batch's grams to every later
        # batch in the session — later batches' true duplicates report
        # 'novel'. Batch identity must ride in the key.
        raise ValueError(
            "incremental_minhash_dedup: cache_key (base identity) requires "
            "new_key (batch identity) — the new batch's signature memo is "
            "keyed by (cache_key, new_key); omitting new_key would silently "
            "reuse a previous batch's grams for a different batch"
        )
    bg = _shingle_table(base, cache_key)
    # The new batch's grams memoize under (cache_key, new_key), NOT a
    # per-call persist: persist_uncached created a fresh StorageLevel
    # entry on every call that nothing ever released — repeated calls
    # (bench passes, fused pipelines) accumulated abandoned cached
    # copies until memory pressure set in (round 12 measured the same
    # standalone query at [55.8, 44.7, 11.2] s across three passes; with
    # the memo it is flat). Production shape unchanged: a batch's
    # signature table is computed once per batch, then probed.
    ng = _shingle_table(
        new,
        ("incremental_new", cache_key, new_key) if cache_key is not None else None,
        persist_uncached=cache_key is None,
    )

    def _base_members() -> DataFrame:
        return (
            minhash_bands(bg)
            .groupBy("band_id", "band_key")
            .agg(
                F.slice(
                    F.sort_array(F.collect_list("_id")), 1, BUCKET_CAP
                ).alias("ids")
            )
        )

    if cache_key is not None:
        from koby_s_ai_vector_db_spark.functions.caching import memo_persist

        # The bucket-membership table IS the persisted index the
        # docstring promises (a production pipeline writes it once per
        # corpus version and probes it per batch). Without the memo,
        # every call re-derived the BASE corpus's signatures and buckets
        # — work ∝ corpus, violating the operator's own work-∝-batch
        # contract in the steady state (round 12: the sf1 steady pass
        # dropped ~11 s → ~3 s once probing stopped paying the base
        # rebuild).
        base_members = memo_persist(
            base.sparkSession,
            ("incremental_base_members", cache_key),
            _base_members,
        )
    else:
        base_members = _base_members()
    cand = (
        minhash_bands(ng)
        .join(base_members, ["band_id", "band_key"])
        .select(F.col("_id").alias("new_id"), F.explode("ids").alias("base_id"))
        .distinct()
    )
    ga = ng.select(F.col("_id").alias("new_id"), F.col("g").alias("ga"))
    gb = bg.select(F.col("_id").alias("base_id"), F.col("g").alias("gb"))
    # No broadcast hint on cand: its size scales with new-batch band
    # collisions (up to batch_bands x BUCKET_CAP) and can exceed the
    # broadcast limit for the large daily batches this operator targets.
    # AQE sees the materialized candidate size at runtime and picks
    # broadcast itself whenever cand is actually small (ADVICE r06).
    ver = (
        cand
        .join(ga, "new_id")
        .join(gb, "base_id")
        .withColumn("jac", jaccard("ga", "gb"))
        .filter(F.col("jac") >= 0.5)
    )
    w = Window.partitionBy("new_id").orderBy(F.desc("jac"), F.asc("base_id"))
    best = (
        ver.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("new_id", "base_id", F.round("jac", 6).alias("jaccard"))
    )
    all_new = new.select(F.col("doc_id").alias("new_id"))
    return (
        all_new.join(best, "new_id", "left")
        .select(
            "new_id",
            F.when(F.col("base_id").isNotNull(), "duplicate")
            .otherwise("novel")
            .alias("verdict"),
            F.coalesce("base_id", F.lit(-1)).alias("base_id"),
            F.coalesce("jaccard", F.lit(0.0)).alias("jaccard"),
        )
        .orderBy("new_id")
    )
