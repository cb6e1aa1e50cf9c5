"""Physical-plan regression guards.

Correctness is the oracle's job; these tests pin the PLANS the operators
were designed around (README "Design stance"), so a refactor can't quietly
reintroduce a scale-killer:

  - no CartesianProduct anywhere: every intentional all-pairs comparison
    must ride a broadcast (BroadcastNestedLoopJoin) of a bounded side, and
    quadratic candidate generation is banned outright (LSH buckets / IVF
    lists / inverted postings instead);
  - rank-then-filter top-k plans through WindowGroupLimit (Spark >= 3.5
    pre-truncates each task's input to k before the shuffle);
  - the lexical candidate caps plan as TakeOrderedAndProject (two-phase
    per-partition top-N), not a global sort.

Plans are inspected at sf0.001 WITHOUT executing jobs — planning is
driver-side.
"""

from __future__ import annotations

import re

import __spark_entry__ as entry_mod
from tests.conftest import SF_DIRS

SF_DIR = SF_DIRS["t1"]


def _plan(spark, name: str) -> str:
    df = entry_mod.queries()[name](spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


def _fn_plan(spark, fn) -> str:
    """Plan of an UNREGISTERED (folded) query function — the round-8
    consolidation folds keep their plan pins here."""
    df = fn(spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


def test_no_cartesian_product_anywhere(spark):
    offenders = {}
    for name in entry_mod.queries():
        plan = _plan(spark, name)
        if "CartesianProduct" in plan:
            offenders[name] = plan.splitlines()[0]
    assert not offenders, f"unbroadcast all-pairs joins: {sorted(offenders)}"


# Function markers that make a LONG Filter condition "expensive": array/
# string builders whose per-row cost is proportional to the value, not the
# comparison. A Filter embedding one means CollapseProject pushdown or
# InferFiltersFromGenerate re-inlined an aliased projection — the map side
# then evaluates the chain ~3x per row. Round 12 shipped with only the
# first two markers (the split-tokenize chains it had just fixed); round 13
# generalized the list so a future expensive chain built from different
# functions doesn't slip the net (VERDICT r12 item 8). The 300-char bound
# skips cheap attribute filters (size(ids) > 1 on aggregate outputs).
EXPENSIVE_FILTER_MARKERS = (
    "split(lower(",        # tokenize chains (the round-12 class)
    "lambdafunction",      # any higher-order function body
    "regexp_extract_all(", # array-building regex scans
    "regexp_replace(",     # string-rewriting scans
    "sentences(",
    "transform(",
    "zip_with(",
    "array_distinct(",
    "array_sort(",
    "sort_array(",
    "flatten(",
    "sequence(",
)


_NODE_HEAD = re.compile(r"^[:+\-\s|]*(?:\*\(\d+\)\s*)?")


def _expensive_filter_line(s: str) -> bool:
    """True when a physical-plan line is a Filter whose condition embeds
    an expensive value-building chain (see EXPENSIVE_FILTER_MARKERS).
    The node name is taken after stripping tree-drawing chars AND the
    `*(n)` whole-stage-codegen marker — a codegen-compiled node prints
    as `*(1) Filter (...)`, whose id paren truncated the round-12
    `split("(")` head check and let compiled Filters slip the net."""
    if "FileScan" in s:
        return False
    if not _NODE_HEAD.sub("", s).startswith("Filter"):
        return False
    return len(s) > 300 and any(m in s for m in EXPENSIVE_FILTER_MARKERS)


def test_no_expensive_expression_in_filter_nodes(spark):
    """Round-12 regression guard for the duplicated-evaluation class:
    a Filter node whose condition embeds an expensive array chain means
    CollapseProject pushdown or InferFiltersFromGenerate re-inlined an
    aliased expression — the map side then evaluates it ~3x per row
    (dedup_substring 8.8 -> 5.7 s sf1 when fixed; BASELINE.md round-12).
    Expensive-array projections must go through
    functions/exprs.py::array_rows_nonempty.

    Memos are evicted before EVERY plan so each is the fully COLD build
    plan: CacheManager substitution replaces a memoized subtree with an
    InMemoryRelation in any later plan — set up either by earlier tests
    or by earlier iterations of this very loop (memo_persist registers
    the cache at build time, no execution needed) — and the substituted
    plan hides the build subtree the guard exists to inspect. That is
    exactly how simhash_table's triple-tokenize hid until round 12's
    full-suite ordering exposed it. Eviction is unpersist-only (no
    jobs); memos rebuild on demand for later tests."""
    from koby_s_ai_vector_db_spark.functions.caching import evict_application

    offenders = {}
    for name in entry_mod.queries():
        evict_application(spark)
        for line in _plan(spark, name).splitlines():
            s = line.strip()
            if _expensive_filter_line(s):
                offenders.setdefault(name, s[:160])
    assert not offenders, (
        f"Filter nodes embedding expensive expressions (use "
        f"array_rows_nonempty): {offenders}"
    )


def test_guard_catches_synthetic_non_split_chain(spark):
    """The detector must fire on an expensive chain built WITHOUT the
    round-12 markers (no split(lower(, no lambda): an aliased
    regexp_extract_all projection filtered by size() — CollapseProject
    inlines the regex scan into the pushed-down Filter, exactly the
    hazard shape, expressed with functions the old two-marker guard
    would have missed (VERDICT r12 item 8)."""
    from pyspark.sql import functions as F

    # long pattern pushes the condition over the 300-char bound the way
    # a real tokenizer chain's nested calls do
    pat = "|".join(f"tok{i}[a-z]+" for i in range(20))
    df = (
        spark.range(10)
        .select(F.col("id"), F.col("id").cast("string").alias("t"))
        .select(
            "id", F.regexp_extract_all("t", F.lit(pat), 0).alias("toks")
        )
        .filter(F.size("toks") > 0)
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    flagged = [
        ln.strip() for ln in plan.splitlines()
        if _expensive_filter_line(ln.strip())
    ]
    assert flagged, (
        "detector missed the inlined regexp_extract_all Filter — "
        f"plan was:\n{plan}"
    )


def test_topk_rank_uses_window_group_limit(spark):
    for name in ("q1_topk_cosine", "knn_self_join", "q2_ann"):
        assert "WindowGroupLimit" in _plan(spark, name), name


def test_lexical_caps_use_take_ordered(spark):
    for name in ("q3_contribution_search", "q4_keyword_search"):
        assert "TakeOrderedAndProject" in _plan(spark, name), name


def _scan_lines(plan: str) -> list[str]:
    return [ln.strip() for ln in plan.splitlines() if "FileScan parquet" in ln]


def test_scans_prune_columns(spark):
    """Column pruning must reach the parquet scan: q1 touches only
    (vec_id, embedding) of the embeddings table — a scan that also reads
    `label` (or worse, *) ships dead bytes on every one of the 100 TB
    corpus's row groups."""
    for ln in _scan_lines(_plan(spark, "q1_topk_cosine")):
        assert "label" not in ln, ln
        assert "FileScan parquet [vec_id" in ln, ln


def test_filter_pushdown_reaches_scan(spark):
    """Selective predicates must land in the scan's DataFilters/
    PushedFilters, not in a post-scan Filter node only: the region
    restriction prunes 4/5 of region-joined rows at the reader, and the
    query-vector id filter reads 8 rows instead of the corpus."""
    rel = _plan(spark, "rel_revenue_by_nation")
    assert any("r_name" in ln and "ASIA" in ln for ln in _scan_lines(rel)), rel
    q1 = _plan(spark, "q1_topk_cosine")
    assert any("vec_id" in ln and "< 8" in ln for ln in _scan_lines(q1)), q1


def test_hyperplane_sketch_is_map_side(spark):
    """The 64-bit angular sketch must be computed in one map-side
    expression (literal sign masks), NOT reassembled via a groupBy on the
    vector id — the round-2 shape shuffled 64× the corpus row count keyed
    on _id before banding (operators/dedup.py:hyperplane_lsh_pairs)."""
    plan = _plan(spark, "dedup_embedding_lsh")
    assert "hashpartitioning(_id" not in plan, "sketch-fold shuffle is back"
    assert "keys=[_id" not in plan, "sketch bits reassembled via per-id aggregate"


def test_pq_encode_is_map_side(spark):
    """The PQ search's ADC scores are map-side expressions over the
    persisted codes and a broadcast codebook (operators/pq.py): no
    per-vector-id shuffle may appear (the shortlist's vector fetch is a
    broadcast join), and the shortlist must pre-truncate via
    WindowGroupLimit. The only exchanges are the broadcasts and the two
    rank windows' query_id shuffles."""
    plan = _plan(spark, "q2_ann_pq_idx")
    assert "WindowGroupLimit" in plan
    assert "hashpartitioning(vec_id" not in plan, "per-id shuffle in the search"
    assert "CartesianProduct" not in plan


def test_ivfpq_probe_and_encode_shapes(spark):
    """IVF+PQ search: the probe and the distance tables ride broadcasts
    (no shuffle of the corpus for the probe join), the ADC score stays
    map-side, and the shortlist pre-truncates via WindowGroupLimit.
    IVF-flat (``shortlist=None``) scores the probed lists through the same
    broadcast probe join: the corpus is never shuffled by id either."""
    plans = {name: _plan(spark, name) for name in ("q2_ann_ivfpq_idx", "q2_ann_ivf_idx")}
    assert "WindowGroupLimit" in plans["q2_ann_ivfpq_idx"]
    for name, plan in plans.items():
        assert "hashpartitioning(vec_id" not in plan, (name, "per-id shuffle")
        assert "CartesianProduct" not in plan, name


def test_training_ops_exchange_budget(spark):
    """The new training-tier operators were designed to a fixed shuffle
    budget: dedup_substring spends exactly two exchanges (count-window on
    the 128-bit gram hash, island merge on doc_id — a groupBy+join-back
    rewrite would show three), pack_sequences exactly one (the per-shard offset
    window); everything else must stay map-side."""
    p = _plan(spark, "dedup_substring")
    assert p.count("Exchange hashpartitioning") == 2, p.splitlines()[0]
    assert "BroadcastNestedLoopJoin" not in p
    p = _plan(spark, "pack_sequences")
    assert p.count("Exchange hashpartitioning") == 1, p.splitlines()[0]
    assert "Join" not in p


def test_selection_tier_plan_shapes(spark):
    """The selection tier's scale design: model tables ride broadcasts,
    the corpus pays exactly one keyed shuffle (the per-doc score
    aggregation); mixing's per-doc copy counts are map-only after the
    per-stratum aggregate comes back as a broadcast."""
    # Pin the OPERATOR plan, not the registered query: dsir_score memo-
    # persists its result, and once another test materializes the cache
    # the query's plan string embeds the InMemoryRelation's cached plan
    # (its exchange counted twice).
    from pyspark.sql import functions as F

    from koby_s_ai_vector_db_spark.operators.selection import dsir_scores
    from koby_s_ai_vector_db_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    p = (
        dsir_scores(
            docs, target=F.col("source") == "src0", carry_cols=("lang", "source")
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # per-doc score groupBy is the only corpus-sized exchange; the
    # bucket-count model is a materialized (localCheckpointed) RDD scan.
    assert p.count("Exchange hashpartitioning") == 1, p.splitlines()[0]
    assert "Scan ExistingRDD" in p  # checkpointed <=1024-row model
    assert "CartesianProduct" not in p

    p = _plan(spark, "mix_token_budget")
    # avail aggregate + achieved aggregate; the per-doc n_copies pass
    # joins the broadcast plan table — no corpus shuffle for the mix.
    assert "BroadcastExchange" in p
    assert "SortMergeJoin" not in p

    p = _plan(spark, "bpe_encode")
    # vocab cache join is broadcast; one per-doc aggregation.
    assert p.count("Exchange hashpartitioning") == 1, p.splitlines()[0]
    assert "SortMergeJoin" not in p


def test_fuzzy_edit_plan_shape(spark):
    """PassJoin blocking (operators/fuzzy.py): probes are map-side
    Generates (never a join), the scan reads only (doc_id, text), and the
    exact levenshtein appears only in the final verify projection above
    the pair-distinct aggregate — not replicated into candidate
    generation.

    Pin the OPERATOR plan, not the registered query: dedup_fuzzy_edit
    memo-persists its pair table (shared with dedup_fuzzy_groups), and
    once another test materializes the cache, Spark's cache substitution
    replaces ANY logically-identical subtree with the InMemoryRelation —
    whose stringified plan embeds the cached tree and double-counts its
    nodes (the dsir_score precedent above). t=7 keeps this build's plan
    logically distinct from the memoized t=8 table."""
    from koby_s_ai_vector_db_spark.operators.fuzzy import fuzzy_edit_pairs

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = fuzzy_edit_pairs(docs, t=7)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Generate explode" in plan
    assert plan.count("levenshtein") <= 3, "levenshtein leaked into blocking"
    for ln in _scan_lines(plan):
        assert "FileScan parquet [doc_id" in ln and "text" in ln, ln


def test_mmr_plan_shape(spark):
    """MMR (operators/rerank.py): the shortlist pre-truncates via
    WindowGroupLimit before the greedy stage, the greedy stage is exactly
    ONE Arrow hop (FlatMapGroupsInPandas), and the corpus scan prunes to
    (vec_id, embedding)."""
    plan = _plan(spark, "q16_mmr_rerank")
    assert "WindowGroupLimit" in plan
    assert plan.count("FlatMapGroupsInPandas") == 1
    for ln in _scan_lines(plan):
        assert "label" not in ln, ln


def test_click_attribution_single_equijoin(spark):
    """The interval join must plan as ONE user_id equi-join with the time
    range as a post-condition — not a nested-loop over the interval."""
    plan = _plan(spark, "a19_click_attribution")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("SortMergeJoin" in plan) or ("BroadcastHashJoin" in plan) or (
        "ShuffledHashJoin" in plan
    )


def test_fixed_k_sample_pretruncates(spark):
    """The deterministic fixed-k sample must plan through WindowGroupLimit
    (per-task pre-truncation to k before the shuffle) — a global sort
    would carry the corpus."""
    assert "WindowGroupLimit" in _plan(spark, "sample_fixed_k")


def test_late_round7_plan_shapes(spark):
    """Late-round-7 scale shapes: the KMV synopsis and the skew top-10
    pre-truncate via WindowGroupLimit (each task keeps <= k rows per
    group before the exchange); temperature mixing reads the corpus
    exactly once (the totals ride a window over the |strata|-row
    aggregate, not a second aggregate subtree); soft dedup spends exactly
    one keyed exchange (the content-hash window, no join-back)."""
    assert "WindowGroupLimit" in _plan(spark, "a23_theta_overlap")
    assert "WindowGroupLimit" in _plan(spark, "a24_skew_report")
    p = _plan(spark, "mix_temperature")
    assert p.count("FileScan parquet") == 1, p.splitlines()[0]
    p = _plan(spark, "softdedup_weights")
    assert p.count("Exchange hashpartitioning") == 1, p.splitlines()[0]
    assert "Join" not in p


def test_prebuilt_r9_plan_shapes(spark):
    """Round-9 prebuilds (unregistered until rotation — tests/
    test_prebuilt_r9.py holds the value parity): pin the scale shapes.

    - rel_shipping_priority: both date filters reach the parquet scans
      (pushdown), top-10 is TakeOrderedAndProject, never a global sort;
    - a26_props_profile: JSON parse is JVM-side get_json_object in a
      map-only projection — no Python eval anywhere;
    - a27_value_mad: both medians ride windows over the DISTINCT-value
      histogram (two hist aggregates), meds/mads join back broadcast;
    - emb_label_centroids: per-vector cosine is map-only after ONE
      exploded aggregate; the centroid table arrives broadcast;
    - tok_source_budget: the corpus never sorts per source — the only
      windows run over the bucket table and the single boundary bucket;
    - src_overlap_matrix: candidates come from the postings equi-join
      (no CartesianProduct, no nested-loop)."""
    from koby_s_ai_vector_db_spark.queries.analytics_q import (
        a26_props_profile,
        a27_value_mad,
    )
    from koby_s_ai_vector_db_spark.queries.dedup_q import src_overlap_matrix
    from koby_s_ai_vector_db_spark.queries.relational_q import (
        rel_shipping_priority,
    )
    from koby_s_ai_vector_db_spark.queries.selection_q import tok_source_budget
    from koby_s_ai_vector_db_spark.queries.vector_q import emb_label_centroids

    p = _fn_plan(spark, rel_shipping_priority)
    assert "TakeOrderedAndProject" in p
    assert p.count("LessThan(o_orderdate") == 1, "order-date pushdown lost"
    assert p.count("GreaterThan(l_shipdate") == 1, "ship-date pushdown lost"
    assert "EqualTo(c_mktsegment,BUILDING)" in p, "segment pushdown lost"

    p = _fn_plan(spark, a26_props_profile)
    assert "get_json_object" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p

    p = _fn_plan(spark, a27_value_mad)
    wlines = [ln for ln in p.splitlines() if "windowspecdefinition" in ln]
    assert wlines and all("sum(c#" in ln for ln in wlines), (
        "a window left the histogram grain (input must be hist counts)"
    )
    assert "BroadcastExchange" in p

    p = _fn_plan(spark, emb_label_centroids)
    assert p.count("Generate posexplode") == 1
    assert "BroadcastExchange" in p

    p = _fn_plan(spark, tok_source_budget)
    # Every window is bucket-keyed: the per-source bucket cumsum (orders
    # by bucket; subtree may appear under both the whole-bucket and the
    # boundary branch) and the boundary per-doc resolution (partitions by
    # source+bucket). A window partitioned by source alone ordering the
    # raw (h, doc_id) stream would be the corpus-wide sort this query
    # exists to avoid.
    wlines = [ln for ln in p.splitlines() if "windowspecdefinition" in ln]
    assert wlines and all("bucket#" in ln for ln in wlines), wlines

    p = _fn_plan(spark, src_overlap_matrix)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_prebuilt_r10_plan_shapes(spark):
    """Round-10 prebuilds: PageRank's edge list is planned once
    (InMemoryRelation) and the top-20 is TakeOrdered, never a global
    sort; PMI's top-K selection is TakeOrdered on the integer count with
    no Python eval; the recall query's two search arms both pre-truncate
    through WindowGroupLimit."""
    from koby_s_ai_vector_db_spark.queries.corpus_q import ta_pmi_collocations
    from koby_s_ai_vector_db_spark.queries.graph_q import graph_pagerank
    from koby_s_ai_vector_db_spark.queries.vector_q import q18_ann_recall

    p = _fn_plan(spark, graph_pagerank)
    assert "CartesianProduct" not in p
    assert "InMemoryTableScan" in p, "edge list must be persisted"
    assert "TakeOrderedAndProject" in p

    p = _fn_plan(spark, ta_pmi_collocations)
    assert "TakeOrderedAndProject" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p

    p = _fn_plan(spark, q18_ann_recall)
    assert "WindowGroupLimit" in p
    assert "CartesianProduct" not in p


def test_prebuilt_r11_plan_shapes(spark):
    """Round-11 prebuilds: Q10's selective filters must reach the
    parquet scans (returnflag equality, both orderdate bounds), the
    top-20 is TakeOrdered (never a global sort), and no cartesian; the
    fertility report is map-only JVM regex counting into ONE keyed
    exchange with no Python eval."""
    from koby_s_ai_vector_db_spark.queries.relational_q import (
        rel_returned_revenue,
    )
    from koby_s_ai_vector_db_spark.queries.text_q import tok_fertility_report

    p = _fn_plan(spark, rel_returned_revenue)
    assert "EqualTo(l_returnflag,R)" in p, "returnflag not pushed"
    assert "GreaterThanOrEqual(o_orderdate" in p, "date lo not pushed"
    assert "LessThan(o_orderdate" in p, "date hi not pushed"
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p

    p = _fn_plan(spark, tok_fertility_report)
    assert p.count("Exchange hashpartitioning") == 1, p.splitlines()[0]
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p

    # rel_bloom_semijoin: the bitmap probe must be a map-side
    # BroadcastHashJoin over the lineitem scan (never a shuffle of the
    # probe side), the exact false-positive-killing join must be the
    # merge-hinted INNER SortMergeJoin against the unique key set
    # (inner ≡ semi per test_bloom_keys_are_unique — a left_semi gets
    # pushed below the bitmap join by PushLeftSemiThroughJoin, see the
    # query docstring; the merge hint is the production shape: the key
    # set is assumed non-broadcastable — that assumption is why the
    # bloom exists), and the orders filters must reach the parquet scan.
    # The memoized bitmap rides in as an InMemoryRelation.
    from koby_s_ai_vector_db_spark.queries.relational_q import (
        rel_bloom_semijoin,
    )

    df = rel_bloom_semijoin(spark, SF_DIR)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in p, "bitmap probe not broadcast"
    assert "SortMergeJoin" in p, "exact join not merge"
    # ORDER matters: the bitmap BroadcastHashJoin must sit BELOW the
    # exact SortMergeJoin (i.e. later in the top-down tree print), so
    # the probe side is prefiltered BEFORE it shuffles. A left_semi
    # exact join regresses this — PushLeftSemiThroughJoin pushes it
    # under the bitmap join and the full probe side shuffles first.
    assert p.index("SortMergeJoin") < p.index("BroadcastHashJoin"), (
        "bloom prefilter ended up above the exact join — probe side "
        "shuffles unfiltered"
    )
    assert "EqualTo(o_orderpriority,1-URGENT)" in p, "priority not pushed"
    # The executedPlan string truncates each scan's filter list at 100
    # chars (spark.sql.maxMetadataStringLength), which can hide the date
    # bounds; the optimized logical plan prints Filter conditions in full.
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert "1996-01-01" in opt and "1997-01-01" in opt, "date bounds lost"
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    cached = df._jdf.queryExecution().withCachedData().toString()
    assert "InMemoryRelation" in cached, "bitmap memo-persist not in plan"


def test_simhash_reads_persisted_sigs_at_every_site(spark):
    """dedup_simhash's memo-persisted sketch table must substitute at ALL
    its read sites (the rep-pair distinct + both expansion sides + the
    diagonal's source): a Union above the memoized subtree silently
    defeats CacheManager substitution (round-9 lesson, re-learned in
    round 11 when intra.unionByName(cross) produced 0 InMemoryRelations
    and every consumer re-ran the sketch build). The union-free
    orientation-explode shape substitutes fully."""
    from koby_s_ai_vector_db_spark.queries.dedup_q import dedup_simhash

    df = dedup_simhash(spark, SF_DIR)
    cached = df._jdf.queryExecution().withCachedData().toString()
    n = cached.count("InMemoryRelation")
    assert n >= 3, f"sigs memo not substituted (got {n} InMemoryRelations)"


def test_contamination_fold_shares_tokenized_subtree(spark):
    """Round-10 shared-subtree rework: ngram_contamination_both's two
    width arms must BOTH read the memoized tokenized-corpus persist
    (corpus_q._tokenized_corpus) instead of re-scanning + re-splitting the
    text per arm — and, per the round-9 union-over-memo lesson (SURVEY
    §9), the Union on top must NOT defeat CacheManager substitution.
    Four scan sites (t3, b3, t13, b13) → exactly 4 InMemoryRelations in
    withCachedData; the only parquet FileScan of documents would be
    inside the cached plan itself."""
    from koby_s_ai_vector_db_spark.queries.corpus_q import (
        ngram_contamination_both,
    )

    df = ngram_contamination_both(spark, SF_DIR)
    cached = df._jdf.queryExecution().withCachedData().toString()
    assert cached.count("InMemoryRelation") == 4, cached.splitlines()[:5]

    # ta_pmi_collocations joined the shared-subtree consumers in round
    # 10: its three corpus-sized arms (unigram counts, totals, bigram
    # counts) must all read the same persisted tokenized table, and the
    # unigram-count table — consumed TWICE by the final join (tok1 and
    # tok2 sides) — must itself be persisted so the corpus-sized
    # explode+groupBy is not replayed per consumer. Expected cache
    # structure in the substituted plan: 2× InMemoryRelation(unigrams),
    # each of whose printed cachedPlan nests an InMemoryTableScan +
    # InMemoryRelation over the tokenized table, plus the tot and bcnt
    # arms reading the tokenized table directly → 6 InMemoryRelation
    # strings, exactly 2 nested InMemoryTableScans.
    from koby_s_ai_vector_db_spark.queries.corpus_q import (
        ta_pmi_collocations,
    )

    df = ta_pmi_collocations(spark, SF_DIR)
    cached = df._jdf.queryExecution().withCachedData().toString()
    assert cached.count("InMemoryRelation") == 6, cached.splitlines()[:5]
    assert cached.count("InMemoryTableScan") == 2, cached.splitlines()[:5]

    # m11_contamination_diff joined the consumers in round 11: its
    # benchmark postings arm must read the persisted tokenized table
    # instead of re-shingling the corpus per call, and its delta is
    # memo-persisted for its three consumers (gram arm, status attach,
    # size aggregate) — 4 InMemoryRelations total; the digest join runs
    # once, inside the cached delta plan.
    from koby_s_ai_vector_db_spark.queries.mutations_q import (
        m11_contamination_diff,
    )

    df = m11_contamination_diff(spark, SF_DIR)
    cached = df._jdf.queryExecution().withCachedData().toString()
    assert cached.count("InMemoryRelation") == 4, cached.splitlines()[:5]


def test_hard_negative_bnlj_builds_bounded_side(spark):
    """VERDICT r07 watch item: mine_hard_negatives is the repo's one
    intentional all-pairs BroadcastNestedLoopJoin — safe ONLY while the
    broadcast (build) side is the pinned 8-query-vector table. Pin that:
    exactly one BNLJ, BuildRight, and the build side (the second/last
    scan in the join's text) carries the vec_id < 8 pushdown. A swap of
    the build side flips BuildRight or moves the bounded filter off the
    last scan."""
    p = _plan(spark, "mine_hard_negatives")
    assert p.count("BroadcastNestedLoopJoin") == 1, p.splitlines()[0]
    assert "BroadcastNestedLoopJoin BuildRight" in p
    scans = _scan_lines(p)
    assert scans and "< 8)" in scans[-1], scans
