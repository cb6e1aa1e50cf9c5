"""Dedup-family tests, by operator: exact/normalized/soft dedup, MinHash and
hyperplane LSH, SimHash, star-contraction groups, TF-IDF cosine and
incremental MinHash (the oracle suite already value-checks the registered
queries; these pin what it can't express).

The two round-3 scale guards at the OPERATOR level:

  - `near_dup_groups` must be diameter-independent: a planted chain of
    diameter 40 converges where the retired min-label propagation (bounded
    at 10 rounds) silently returned wrong labels;
  - oversized LSH buckets must emit O(N) chain candidates, not the
    O(N²) all-pairs explode (the "viral bucket": N identical boilerplate
    docs share one MinHash signature).
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from koby_s_ai_vector_db_spark.operators.dedup import (
    BUCKET_CAP,
    hyperplane_lsh_pairs,
    minhash_near_dup_pairs,
    near_dup_groups,
)
from tests.conftest import SF_DIRS, _q, _write_docs

SF = SF_DIRS["t1"]


def test_star_contraction_handles_long_chains(spark):
    # Two chain components: 0-1-...-40 (diameter 40) and 100-...-125.
    # Label propagation needed `diameter` rounds and was capped at 10;
    # star contraction converges in O(log n) rounds regardless.
    chain = [(i, i + 1) for i in range(40)] + [(100 + i, 101 + i) for i in range(25)]
    pairs = spark.createDataFrame(chain, "doc_id_a bigint, doc_id_b bigint")
    got = {r.doc_id: r.group_id for r in near_dup_groups(pairs).collect()}
    assert len(got) == 67
    for node, group in got.items():
        assert group == (0 if node <= 40 else 100), (node, group)


def test_star_contraction_raises_instead_of_wrong_groups(spark):
    import pytest

    chain = [(i, i + 1) for i in range(64)]
    pairs = spark.createDataFrame(chain, "doc_id_a bigint, doc_id_b bigint")
    with pytest.raises(RuntimeError, match="did not converge"):
        near_dup_groups(pairs, max_iter=1)


def test_viral_bucket_capped_to_linear_candidates(spark):
    # 200 identical docs: one MinHash signature, every band lands in ONE
    # bucket. Uncapped this explodes into 200*199/2 = 19900 candidate
    # pairs; the chain cap emits 199. All 200 stay one connected group.
    n = 200
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("the same boilerplate sentence repeated across the corpus").alias("text"),
    )
    pairs = minhash_near_dup_pairs(docs, threshold=0.5)
    rows = pairs.collect()
    assert len(rows) == n - 1  # chain, not all-pairs
    assert all(abs(r.jaccard - 1.0) < 1e-9 for r in rows)
    groups = near_dup_groups(pairs)
    assert groups.filter(F.col("group_id") == 0).count() == n
    assert groups.count() == n


def test_small_buckets_keep_all_pairs_semantics(spark):
    # A bucket at exactly the cap still produces the full pair set.
    n = BUCKET_CAP
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("another boilerplate sentence shared by a smaller cluster").alias("text"),
    )
    pairs = minhash_near_dup_pairs(docs, threshold=0.5)
    assert pairs.count() == n * (n - 1) // 2


def test_duplicated_ids_emit_no_self_pairs(spark):
    """Two rows that share one id share every LSH bucket, but they are
    not a pair: both banded-LSH tiers keep the documented a < b contract
    (the DuckDB oracles join on a.id < b.id and return nothing here)."""
    t = "one two three four five six seven eight"
    docs = spark.createDataFrame([(1, t), (1, t)], "doc_id long, text string")
    assert minhash_near_dup_pairs(docs).collect() == []
    v = [float(i % 7) - 3.0 for i in range(64)]
    emb = spark.createDataFrame(
        [(10, v), (10, v)], "vec_id long, embedding array<float>"
    )
    assert hyperplane_lsh_pairs(emb).collect() == []


def test_simhash60_finds_exact_copy_and_rejects_bad_bits(spark):
    """60-bit sketch: an exact copy is hamming 0; an unrelated doc is not
    paired; bits must divide into (max_hamming + 2) blocks and fit a
    signed BIGINT."""
    import pytest

    from koby_s_ai_vector_db_spark.operators.dedup import (
        simhash_expr,
        simhash_near_dup_pairs,
    )

    base = " ".join(f"tok{i}" for i in range(40))
    other = " ".join(f"zzz{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, base), (2, base), (3, other)], "doc_id long, text string"
    )
    pairs = {
        (r.doc_id_a, r.doc_id_b): r.hamming
        for r in simhash_near_dup_pairs(docs, bits=60).collect()
    }
    assert pairs == {(1, 2): 0}
    with pytest.raises(ValueError):
        simhash_expr("text", bits=64)  # > 60: sign-bit overflow risk
    with pytest.raises(ValueError):
        simhash_near_dup_pairs(docs, bits=58)  # no valid block split


def test_simhash_table_equals_hof_expr(spark):
    """simhash_table (codegen explode+vote-sum form) must produce the
    exact sketch simhash_expr (HOF aggregate form) produces for every
    non-empty doc — the DataFrame form is a pure performance rewrite.
    Empty-token docs: absent from the table, sh=0 under the expr (the
    documented divergence; the registered query and oracle pre-filter)."""
    from pyspark.sql import functions as F

    from koby_s_ai_vector_db_spark.operators.dedup import (
        simhash_expr,
        simhash_table,
    )

    rows = [
        (1, "alpha beta gamma delta epsilon"),
        (2, "alpha beta gamma delta epsilon"),
        (3, "unrelated words entirely different tokens"),
        (4, "ALPHA  Beta\tgamma   delta epsilon"),  # case/ws normalization
        (5, "single"),
        (6, "   "),  # empty after tokenize
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for bits in (32, 60):
        want = {
            r.doc_id: r.sh
            for r in docs.select(
                "doc_id", simhash_expr("text", bits).alias("sh")
            ).collect()
        }
        got = {
            r._id: r.sh
            for r in simhash_table(docs, bits=bits).collect()
        }
        assert set(got) == {1, 2, 3, 4, 5}, got
        for d, sh in got.items():
            assert sh == want[d], (bits, d, sh, want[d])
        assert want[6] == 0  # the documented HOF-form empty-doc value


def test_simhash_viral_group_stays_rep_bounded(spark):
    """A planted 1000-copy group (the viral-bucket hazard) must stay
    collapsed through the blocking stage: the sketch-level candidate
    stage (_simhash_rep_pairs) sees ONE row per distinct sketch, so its
    pair count is bounded by distinct-sketch combinatorics and never by
    group size — no single-task O(N²) array explode. The final output
    still carries the full quadratic pair set (that IS the contract),
    produced by streaming joins."""
    from pyspark.sql import functions as F

    from koby_s_ai_vector_db_spark.operators.dedup import (
        _simhash_rep_pairs,
        simhash_expr,
        simhash_near_dup_pairs,
    )

    n = 1000
    base = " ".join(f"tok{i}" for i in range(40))
    near = " ".join(f"tok{i}" for i in range(39)) + " mutated"
    far = " ".join(f"zzz{i}" for i in range(40))
    docs = (
        spark.range(n)
        .select(F.col("id").alias("doc_id"), F.lit(base).alias("text"))
        .unionByName(
            spark.createDataFrame(
                [(n, near), (n + 1, far)], "doc_id long, text string"
            )
        )
    )
    sigs = docs.select(
        F.col("doc_id").alias("_id"), simhash_expr("text", 60).alias("sh")
    )
    # 3 distinct sketches -> at most C(3,2) off-diagonal + 3 diagonal
    # rep pairs ever reach the hamming filter, regardless of the
    # 1000-member group.
    assert _simhash_rep_pairs(sigs, 3, 60).count() <= 6

    pairs = simhash_near_dup_pairs(docs, bits=60)
    intra = n * (n - 1) // 2
    got = pairs.groupBy("hamming").count().collect()
    by_h = {r["hamming"]: r["count"] for r in got}
    assert by_h[0] == intra, by_h
    # the near-copy pairs with every base member iff its sketch is within
    # hamming 3 (sketch determines this uniformly for the whole group)
    assert sum(by_h.values()) in (intra, intra + n), by_h
    assert (n + 1) not in {
        r.doc_id_b for r in pairs.select("doc_id_b").distinct().collect()
    }


# --- registered dedup queries: semantics the oracle comparison can't express


def test_source_matrix_totals_match_pair_table(spark):
    from koby_s_ai_vector_db_spark.queries.dedup_q import _docs_dd
    from koby_s_ai_vector_db_spark.operators.dedup import minhash_near_dup_pairs

    matrix = _q("dedup_source_matrix")(spark, SF).collect()
    n_pairs_total = sum(r.n_pairs for r in matrix)
    pairs = minhash_near_dup_pairs(
        _docs_dd(spark, SF), threshold=0.5, cache_key=("docs_dd", SF)
    ).count()
    assert n_pairs_total == pairs > 0
    for r in matrix:
        assert r.source_a <= r.source_b
        assert 0 < r.sum_jac_q6 <= r.n_pairs * 1_000_000


def test_dedup_normalized_folds_case_variants(spark):
    """The planted uppercased+padded copies are invisible to exact
    dedup but must fold here: at least one group absorbs >1 raw
    variant, and every group has n_raw_variants <= n_copies."""
    rows = _q("dedup_normalized")(spark, SF).collect()
    assert rows
    assert any(r.n_raw_variants > 1 for r in rows)
    for r in rows:
        assert 1 <= r.n_raw_variants <= r.n_copies, r


def test_dedup_normalized_excludes_empty_canonical_form(spark):
    """Symbol-only docs normalize to '' — they are NOT copies of each
    other and must not fuse into one spurious group."""
    import unittest.mock as _m

    from koby_s_ai_vector_db_spark.queries import dedup_q

    planted = spark.createDataFrame(
        [(1, "!!!"), (2, "???"), (3, "Same text."), (4, "same TEXT")],
        "doc_id long, text string",
    )
    with _m.patch.object(dedup_q, "_docs_nn", return_value=planted):
        rows = dedup_q.dedup_normalized(spark, "ignored").collect()
    assert len(rows) == 1 and rows[0].canonical_id == 3, rows
    assert rows[0].n_copies == 2 and rows[0].n_raw_variants == 2


def test_softdedup_weights_mass_conservation(spark):
    """Each exact-dup group's weights sum to 1, so total weight equals
    the number of DISTINCT texts; unique docs carry weight 1.0."""
    import collections

    rows = _q("softdedup_weights")(spark, SF).collect()
    by_copies = collections.Counter(r.n_copies for r in rows)
    n_groups = sum(cnt // k for k, cnt in by_copies.items())
    assert abs(sum(r.weight for r in rows) - n_groups) < 1e-3
    for r in rows:
        assert abs(r.weight * r.n_copies - 1.0) < 1e-5, r
        if r.n_copies == 1:
            assert r.weight == 1.0 and r.eff_tokens == r.n_tokens, r


def test_src_overlap_disjoint_sources_emit_no_pair(spark, tmp_path):
    """Sources with zero shared 3-grams must be ABSENT from the matrix
    (pairs exist only via the postings join), and identical sources must
    score jaccard_q6 == 1_000_000."""
    from koby_s_ai_vector_db_spark.queries.dedup_q import src_overlap_matrix

    rows = [
        (0, "alpha beta gamma delta", "en", "srcA"),
        (1, "alpha beta gamma delta", "en", "srcB"),  # identical to srcA
        (2, "one two three four five", "en", "srcC"),  # disjoint
    ]
    sf = _write_docs(tmp_path, rows)
    out = {
        (r["src_a"], r["src_b"]): r
        for r in src_overlap_matrix(spark, sf).collect()
    }
    assert set(out) == {("srcA", "srcB")}
    assert out[("srcA", "srcB")]["jaccard_q6"] == 1_000_000


class TestTfidfCosine:
    def test_planted_near_dups_found_and_boilerplate_downweighted(self, spark):
        from koby_s_ai_vector_db_spark.operators.corpus import tfidf_cosine_pairs

        boiler = "standard legal disclaimer footer text repeated verbatim"
        body = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"
        body += " mu nu xi omicron pi"
        rows = [
            # a/b: same distinctive body + shared boilerplate -> high sim
            # (0.77 against the 0.7 threshold)
            (1, body + " rho " + boiler),
            (2, body + " sigma " + boiler),
            # c/d: share ONLY the boilerplate -> the overlap must be
            # down-weighted below threshold (idf of corpus-wide shingles
            # is low; with more distinct content dominating the norms)
            (3, "unrelated topic one discussing completely different things entirely " + boiler),
            (4, "another subject matter covering separate concerns altogether now " + boiler),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            (r.doc_id_a, r.doc_id_b): r.sim
            for r in tfidf_cosine_pairs(df).collect()
        }
        assert (1, 2) in got and got[(1, 2)] >= 0.7
        assert (3, 4) not in got

    def test_exact_copy_sim_is_one(self, spark):
        from koby_s_ai_vector_db_spark.operators.corpus import tfidf_cosine_pairs

        t = "one two three four five six seven eight"
        df = spark.createDataFrame(
            [(1, t), (2, t), (3, "nine ten eleven twelve thirteen")],
            "doc_id long, text string",
        )
        got = {(r.doc_id_a, r.doc_id_b): r.sim for r in tfidf_cosine_pairs(df).collect()}
        assert got == {(1, 2): 1.0}

    def test_df_cap_drops_viral_shingles(self, spark):
        """Shingles present in EVERY doc of a >cap corpus contribute
        nothing: docs sharing only those shingles produce no pair. The
        shared header is long enough that, with the cap removed, every
        pair would score ~0.79 >= TFIDF_THRESHOLD (298 header shingles at
        idf 1 against 3 unique ones at idf ~5.1)."""
        from koby_s_ai_vector_db_spark.operators.corpus import (
            TFIDF_DF_CAP,
            tfidf_cosine_pairs,
        )

        common = " ".join(f"header{j}" for j in range(300))
        rows = [(i, f"{common} unique{i} filler{i} word{i}") for i in range(TFIDF_DF_CAP + 20)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = tfidf_cosine_pairs(df).collect()
        assert got == []

    def test_hash_gram_key_value_equivalent(self, spark):
        """The hashed self-join key variants (round-13 A/B) must return
        bit-identical pairs to the raw-text key on the fixture corpus —
        the hash only changes the EXCHANGE payload; a divergence would
        mean a collision (probability ~G²/2¹²⁹ for hash128) or a plan
        bug. Runs on the sf0.001 planted-duplicate corpus of
        `dedup_tfidf_cosine` so real shingle diversity is exercised, not
        a toy vocabulary."""
        from koby_s_ai_vector_db_spark.operators.corpus import tfidf_cosine_pairs
        from koby_s_ai_vector_db_spark.queries.dedup_q import _docs_dd

        docs = _docs_dd(spark, "/root/testdata/sf0.001")
        base = sorted(map(tuple, tfidf_cosine_pairs(docs).collect()))
        assert base, "fixture corpus must yield at least one pair"
        for variant in (True, "hash128"):
            got = sorted(
                map(
                    tuple,
                    tfidf_cosine_pairs(docs, hash_gram_key=variant).collect(),
                )
            )
            assert got == base, f"hash_gram_key={variant!r} diverged"


class TestIncrementalDedup:
    def test_verdicts(self, spark):
        from koby_s_ai_vector_db_spark.operators.dedup import (
            incremental_minhash_dedup,
        )

        base_text = (
            "alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon"
        )
        base = spark.createDataFrame(
            [(1, base_text), (2, "completely different words here now then")],
            "doc_id long, text string",
        )
        new = spark.createDataFrame(
            [
                # near-dup of base 1 (one word changed)
                (100, base_text.replace("theta", "zzzz")),
                # novel
                (101, "unrelated fresh content nothing shared at all whatsoever"),
            ],
            "doc_id long, text string",
        )
        got = {
            r.new_id: (r.verdict, r.base_id)
            for r in incremental_minhash_dedup(base, new).collect()
        }
        assert got[100] == ("duplicate", 1)
        assert got[101] == ("novel", -1)

    def test_exact_copy_is_duplicate_with_jaccard_one(self, spark):
        from koby_s_ai_vector_db_spark.operators.dedup import (
            incremental_minhash_dedup,
        )

        t = "one two three four five six seven eight nine ten"
        base = spark.createDataFrame([(7, t)], "doc_id long, text string")
        new = spark.createDataFrame([(70, t)], "doc_id long, text string")
        rows = incremental_minhash_dedup(base, new).collect()
        assert len(rows) == 1
        assert rows[0].verdict == "duplicate"
        assert rows[0].base_id == 7
        assert rows[0].jaccard == 1.0

    def test_new_by_new_pairs_never_compared(self, spark):
        """Two identical NEW docs against a disjoint base must BOTH come
        back novel — the incremental join never pairs new x new."""
        from koby_s_ai_vector_db_spark.operators.dedup import (
            incremental_minhash_dedup,
        )

        base = spark.createDataFrame(
            [(1, "base corpus words entirely distinct from the batch ones")],
            "doc_id long, text string",
        )
        t = "the very same new document text repeated twice in this batch"
        new = spark.createDataFrame(
            [(100, t), (101, t)], "doc_id long, text string"
        )
        got = {r.new_id: r.verdict for r in incremental_minhash_dedup(base, new).collect()}
        assert got == {100: "novel", 101: "novel"}

    def test_second_batch_does_not_reuse_first_batch_memo(self, spark):
        """ADVICE r12 regression: with a memoized base (cache_key set),
        a SECOND batch in the same session must be signed itself — keyed
        by its own new_key — not served the first batch's grams (which
        reported later batches' true duplicates as 'novel')."""
        from koby_s_ai_vector_db_spark.operators.dedup import (
            incremental_minhash_dedup,
        )

        t = "one two three four five six seven eight nine ten"
        base = spark.createDataFrame([(7, t)], "doc_id long, text string")
        ck = ("inc_batch_identity_test", id(base))
        batch1 = spark.createDataFrame(
            [(100, "totally novel words nothing shared with base at all")],
            "doc_id long, text string",
        )
        got1 = {
            r.new_id: r.verdict
            for r in incremental_minhash_dedup(
                base, batch1, cache_key=ck, new_key="b1"
            ).collect()
        }
        assert got1 == {100: "novel"}
        # batch 2 contains an exact copy of base doc 7 — a stale memo of
        # batch 1's grams would call it novel
        batch2 = spark.createDataFrame([(200, t)], "doc_id long, text string")
        got2 = {
            r.new_id: (r.verdict, r.base_id)
            for r in incremental_minhash_dedup(
                base, batch2, cache_key=ck, new_key="b2"
            ).collect()
        }
        assert got2 == {200: ("duplicate", 7)}

    def test_cache_key_without_new_key_is_loud(self, spark):
        import pytest as _pytest

        from koby_s_ai_vector_db_spark.operators.dedup import (
            incremental_minhash_dedup,
        )

        base = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
        new = spark.createDataFrame([(2, "a b c")], "doc_id long, text string")
        with _pytest.raises(ValueError, match="new_key"):
            incremental_minhash_dedup(base, new, cache_key="k_only")


def test_source_matrix_builds_lazily(spark):
    """ADVICE r08: the PLANT_OFFSET guard used to run an eager
    src.agg(max).first() at query-construction time, so every plan build
    (test_plans sweeps, registry enumeration) launched a real Spark job.
    The guard now lives IN the plan (broadcast scalar attach wrapping the
    output column); building the DataFrame must schedule zero jobs."""
    sc = spark.sparkContext
    _q("dedup_source_matrix")(spark, SF)  # warm-up: parquet footer reads
    sc.setJobGroup("source_matrix_build_probe", "construction must be action-free")
    try:
        df = _q("dedup_source_matrix")(spark, SF)
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup("source_matrix_build_probe")
    assert not jobs, f"query construction launched Spark jobs: {jobs}"


def test_source_matrix_guard_fires_past_plant_offset(spark, tmp_path):
    """The in-plan guard must still fail loudly when base doc ids cross
    PLANT_OFFSET (modular attribution would silently misattribute
    sources). Shift the fixture corpus past the offset and execute."""
    from koby_s_ai_vector_db_spark.queries.dedup_q import PLANT_OFFSET

    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    shifted = docs.withColumn(
        "doc_id", (F.col("doc_id") + F.lit(2 * PLANT_OFFSET)).cast("long")
    )
    bad_dir = str(tmp_path / "past_offset")
    shifted.write.parquet(os.path.join(bad_dir, "documents.parquet"))

    df = _q("dedup_source_matrix")(spark, bad_dir)  # build stays lazy
    with pytest.raises(Exception, match="PLANT_OFFSET"):
        df.collect()
