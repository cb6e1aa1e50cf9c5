"""sf1 scale probe: does the dedup + ANN tier scale ~linearly to 10× data?

Generates a 10×-sf0.1 synthetic corpus (50k documents, 20k embeddings)
under /tmp with the same shape as the driver fixtures — 31-word
vocabulary, U[10,100] word lengths, the sf0.1 language mix, ~0.16% exact
duplicates, unit-norm 64-dim embeddings — then times the heavy
dedup/ANN/corpus queries at sf0.1 and at the generated sf1 and prints
the wall-time ratio per query. The dedup family's near-dup structure is
planted by the queries' own docs_dd view (+1e6 exact copies of every
17th doc, +2e6 truncated copies of every 10th), so it scales with the
base table by construction.

Steady-state timing mirrors bench.py: each query is run once untimed
(JIT/codegen/scratch-index build/memoized persists), then timed — the
probe measures the plan, not first-touch warm-up. Results go to stdout
and BASELINE.md's scaling table is transcribed from a run of this file.

Usage: python scripts/scale_probe.py [--sf1-dir /tmp/koby_sf1]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_DOCS = 50_000
N_VECS = 20_000
SEED = 7
SF01 = "/root/testdata/sf0.1"

# sf0.1 empirical language mix (5000 docs).
LANG_P = {"en": 0.41, "zh": 0.15, "es": 0.15, "fr": 0.15, "de": 0.14}
DUP_RATE = 0.0016  # 8 duplicated texts per 5000 docs at sf0.1

PROBE_QUERIES = [
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "dedup_embedding_lsh",
    "dedup_embedding_ivf",
    "dedup_groups",
    "curate_corpus",
    "curate_corpus_neardup",
    "curate_corpus_bm25",
    "curate_training_mix",
    # the two contamination widths folded into one query in round 9
    "ngram_contamination_both",
    "bm25_rank",
    "bm25_rank_idx",
    "vocab_stats",
    "q1_topk_cosine",
    "q2_ann",
    "q2_ann_pq_idx",
    "q2_ann_ivfpq_idx",
    "knn_self_join",
    "hybrid_rrf",
    "dedup_substring",
    "pack_sequences",
    "dsir_score",
    "ccnet_ppl_buckets",
    "mix_token_budget",
    "dsir_sample",
    "curate_pretrain_pipeline",
    "shard_manifest",
    "a18_heavy_hitters",
    "dedup_fuzzy_edit",
    "q16_mmr_rerank",
    "a19_click_attribution",
    "dedup_tfidf_cosine",
    # round 7
    "dedup_source_matrix",
    "seq_len_histogram",
    "quality_percentile_gate",
    "ta_boilerplate",
    "q17_filtered_ann",
    "emb_pca_audit",
    "mine_hard_negatives",
    "a22_hll_daily_merge",
    "m10_read_asof",
    "emb_quality_report",
    # late round 7
    "a23_theta_overlap",
    "mix_temperature",
    "dedup_normalized",
    "softdedup_weights",
    "curriculum_order",
    "split_assign",
    "a24_skew_report",
    "ta_entropy",
    "pack_bestfit",
    # round 8
    "pack_bestfit_audit",
    "emb_decontaminate",
    "a25_kmv_synopsis",
    # round 9 (the seven pre-earned prebuilds are registered now, so the
    # registry resolves them; rel_shipping_priority gets its FIRST probe —
    # the corpus now carries customer + the Q3 date columns)
    "rel_shipping_priority",
    "a26_props_profile",
    "a27_value_mad",
    "emb_label_centroids",
    "src_overlap_matrix",
    "m11_contamination_diff",
    "tok_source_budget",
    "bpe_audit",
    # round 10 (the trio is registered now, so the registry resolves them)
    "graph_pagerank",
    "ta_pmi_collocations",
    "q18_ann_recall",
    # late round 10: the ingest pipeline joined the battery after its
    # missing-spread fix (11.4 -> 3.15 s at sf1) so regressions of the
    # only-Python-hop stage stay visible
    "s8_ingest",
    # round 11 (registered into the r11 free slots; first probed as
    # prebuilds in round 10, kept in the battery so their scale behavior
    # stays tracked)
    "rel_returned_revenue",
    "tok_fertility_report",
    "rel_bloom_semijoin",
    # late round 11: the incremental (new-batch x base) dedup tier had
    # never been sf1-probed — added so r12 inherits a baseline
    "dedup_incremental",
]


def vocabulary() -> list[str]:
    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        "SELECT DISTINCT unnest(string_split(lower(text), ' ')) AS w "
        f"FROM '{SF01}/documents.parquet' ORDER BY w"
    ).fetchall()
    return [r[0] for r in rows]


def generate(out_dir: str, wide_vocab: int = 0) -> None:
    """wide_vocab > 0 swaps the 31-word fixture vocabulary for a
    synthetic one of that size — same row counts, same duplicate rate.
    Comparing narrow vs wide at the SAME scale isolates the cost of
    vocabulary crowding (every token-explode key drawn from 31 words)
    from the cost of data volume."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(SEED)
    vocab = np.array(
        [f"v{i}" for i in range(wide_vocab)] if wide_vocab else vocabulary()
    )
    os.makedirs(out_dir, exist_ok=True)

    lengths = rng.integers(10, 101, size=N_DOCS)
    langs = rng.choice(list(LANG_P), size=N_DOCS, p=list(LANG_P.values()))
    texts = [
        " ".join(rng.choice(vocab, size=n)) for n in lengths
    ]
    # Exact duplicates at the fixture rate: late docs copy earlier ones.
    for i in rng.choice(
        np.arange(N_DOCS // 2, N_DOCS), size=int(N_DOCS * DUP_RATE), replace=False
    ):
        texts[i] = texts[int(rng.integers(0, N_DOCS // 2))]
    docs = pa.table(
        {
            "doc_id": pa.array(range(N_DOCS), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(langs.tolist()),
            "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(docs, f"{out_dir}/documents.parquet")

    M = rng.standard_normal((N_VECS, 64)).astype(np.float32)
    M /= np.linalg.norm(M, axis=1, keepdims=True)
    emb = pa.table(
        {
            "vec_id": pa.array(range(N_VECS), pa.int64()),
            "embedding": pa.array(
                [row.tolist() for row in M], pa.list_(pa.float32())
            ),
            "label": pa.array([i % 10 for i in range(N_VECS)], pa.int32()),
        }
    )
    pq.write_table(emb, f"{out_dir}/embeddings.parquet")

    # Events at 10x sf0.1 (1M rows, 15k users over the same 30-day span,
    # same type mix) for the interval-join probe.
    n_ev = 1_000_000
    types = np.array(["click", "error", "purchase", "signup", "view"])
    span_us = 30 * 86_400 * 1_000_000
    ts_us = np.sort(rng.integers(0, span_us, size=n_ev)) + 1_704_067_200_000_000
    ev = pa.table(
        {
            "event_id": pa.array(range(n_ev), pa.int64()),
            "ts": pa.array(ts_us, pa.timestamp("us")),
            "user_id": pa.array(
                rng.integers(0, 15_000, size=n_ev), pa.int64()
            ),
            "event_type": pa.array(rng.choice(types, size=n_ev).tolist()),
            "value": pa.array(rng.uniform(0, 560, size=n_ev)),
            "props": pa.array(
                [f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, size=n_ev)]
            ),
        }
    )
    pq.write_table(ev, f"{out_dir}/events.parquet")

    # Minimal lineitem at 10x sf0.1 (6M rows, 10k suppliers — the key
    # columns the skew probe touches, plus the price/discount/shipdate
    # columns rel_shipping_priority filters and aggregates).
    n_li = 6_000_000
    day_us = 86_400 * 1_000_000
    epoch_1995_us = 788_918_400_000_000  # 1995-01-01, the fixture's floor
    li = pa.table(
        {
            "l_orderkey": pa.array(
                rng.integers(0, 1_500_000, size=n_li), pa.int64()
            ),
            "l_suppkey": pa.array(
                rng.integers(1, 10_001, size=n_li), pa.int64()
            ),
            "l_quantity": pa.array(
                rng.integers(1, 51, size=n_li).astype("float64")
            ),
            "l_extendedprice": pa.array(
                rng.uniform(900.0, 105_000.0, size=n_li).round(2)
            ),
            "l_discount": pa.array(
                rng.integers(0, 11, size=n_li).astype("float64") / 100.0
            ),
            # ~2400-day span from 1995-01-01, matching the fixture's
            # 1995..2001 range around the Q3 1998-03-15 cut.
            "l_shipdate": pa.array(
                epoch_1995_us
                + rng.integers(0, 2400, size=n_li) * day_us,
                pa.timestamp("us"),
            ),
            # Q10 (rel_returned_revenue) filter column — the fixture's
            # ~1/3 'R' selectivity.
            "l_returnflag": pa.array(
                rng.choice(np.array(["R", "N", "A"]), size=n_li).tolist()
            ),
        }
    )
    pq.write_table(li, f"{out_dir}/lineitem.parquet")

    # Minimal customer at 10x sf0.1 (150k rows — the segment filter's
    # 1/5 selectivity matches the fixture's five segments).
    n_cust = 150_000
    segments = np.array(
        ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    )
    cust = pa.table(
        {
            "c_custkey": pa.array(range(n_cust), pa.int64()),
            "c_mktsegment": pa.array(
                rng.choice(segments, size=n_cust).tolist()
            ),
            # Q10 columns: display name + the nation FK.
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(
                rng.integers(0, 25, size=n_cust).astype("int32"), pa.int32()
            ),
        }
    )
    pq.write_table(cust, f"{out_dir}/customer.parquet")

    # 25-row nation dimension (Q10's broadcast side).
    nation = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i:02d}" for i in range(25)]),
        }
    )
    pq.write_table(nation, f"{out_dir}/nation.parquet")

    # Minimal orders at 10x sf0.1 (1.5M rows over 150k customers — the
    # purchase-graph join keys plus the Q3 date/priority columns).
    # Written LAST: it is the completeness sentinel in main().
    n_ord = 1_500_000
    priorities = np.array(
        ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    )
    orders = pa.table(
        {
            "o_orderkey": pa.array(range(n_ord), pa.int64()),
            "o_custkey": pa.array(
                rng.integers(0, n_cust, size=n_ord), pa.int64()
            ),
            "o_orderdate": pa.array(
                epoch_1995_us
                + rng.integers(0, 2400, size=n_ord) * day_us,
                pa.timestamp("us"),
            ),
            "o_orderpriority": pa.array(
                rng.choice(priorities, size=n_ord).tolist()
            ),
        }
    )
    pq.write_table(orders, f"{out_dir}/orders.parquet")
    print(f"[probe] generated {N_DOCS} docs / {N_VECS} vecs / {n_ev} events "
          f"/ {n_li} lineitem / {n_cust} customer / {n_ord} orders "
          f"in {out_dir}", file=sys.stderr)


# Non-registered operators probed alongside the registry queries (the
# registry is the driver surface; these are documented scale-path
# variants). Each entry: name -> fn(spark, sf_dir) -> DataFrame.
def _exact_fuzzy(spark, sf_dir):
    # The OPERATOR, not the registered query: dedup_fuzzy_edit memoizes
    # its pair table, so its timed pass reads a persisted result — this
    # probes the actual PassJoin plan.
    from koby_s_ai_vector_db_spark.operators.fuzzy import fuzzy_edit_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return fuzzy_edit_pairs(docs, t=8)


def _q3_shuffle(spark, sf_dir):
    # The 100 TB-path twin of rel_shipping_priority: merge-hinted joins
    # so the probe times the shuffle plan the query runs once its
    # segment-filtered customer side stops being broadcastable
    # (VERDICT r09 item 6; value parity in tests/test_relational.py).
    from koby_s_ai_vector_db_spark.queries.relational_q import (
        rel_shipping_priority_shuffle,
    )

    return rel_shipping_priority_shuffle(spark, sf_dir)


def _substring_hash128(spark, sf_dir):
    # 128-bit lane of the round-12 A/B: struct<h1,h2> exchange key.
    from koby_s_ai_vector_db_spark.operators.substrings import (
        repeated_substring_spans,
    )
    from koby_s_ai_vector_db_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    return repeated_substring_spans(
        docs, k=8, min_count=2, hash_gram_key="hash128"
    )


def _substring_hashkey(spark, sf_dir):
    # Round-12 A/B (VERDICT r11 item 5): the registered dedup_substring
    # with xxhash64(gram) as the count-window exchange key instead of the
    # raw 8-gram text. Value-equivalence on the fixtures is pinned in
    # tests/test_training_ops.py; collision bound in the operator
    # docstring.
    from koby_s_ai_vector_db_spark.operators.substrings import (
        repeated_substring_spans,
    )
    from koby_s_ai_vector_db_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    return repeated_substring_spans(docs, k=8, min_count=2, hash_gram_key=True)


def _tfidf_hash128(spark, sf_dir):
    # Round-13 A/B (VERDICT r12 item 3): the registered dedup_tfidf_cosine
    # with the postings self-join keyed on hash128(gram) instead of raw
    # shingle text — the same payload class dedup_substring's round-12
    # adoption shrank. Value-equivalence pinned in tests/test_dedup_ops.py;
    # collision bound in the operator docstring.
    from koby_s_ai_vector_db_spark.operators.corpus import tfidf_cosine_pairs
    from koby_s_ai_vector_db_spark.queries.dedup_q import _docs_dd

    return tfidf_cosine_pairs(
        _docs_dd(spark, sf_dir),
        cache_key=("docs_dd", sf_dir),
        hash_gram_key="hash128",
    )


EXTRA_PROBES = {
    "fuzzy_edit_exact": _exact_fuzzy,
    "rel_ship_prio_shuffle": _q3_shuffle,
    "dedup_substring_hashkey": _substring_hashkey,
    "dedup_substring_hash128": _substring_hash128,
    "dedup_tfidf_hash128": _tfidf_hash128,  # round 13: BASELINE tfidf A/B
    # rel_returned_revenue / tok_fertility_report / rel_bloom_semijoin:
    # probed here as prebuilds while unregistered; all three are
    # registered now and resolve through the registry like any query.
}


def time_queries(
    sf_dir: str, names: list[str] | None = None, two_sweep: bool = False
) -> dict[str, float | list[float]]:
    # Values are the min-of-two float under `name`, plus the raw pass
    # list under `{name}__passes` (ADVICE r10/r11).
    from koby_s_ai_vector_db_spark import registry

    # Drop the previous scale's memoized persists: the probe runs both
    # scales in ONE local JVM, and carrying sf0.1's cached signature
    # tables into the sf1 pass both skews memory and measures nothing.
    # evict_application (not catalog.clearCache) so the memo store clears
    # too — a bare clearCache leaves the store returning unpersisted
    # DataFrames, and every consumer then recomputes the subtree, which
    # measures a state production never runs in.
    from koby_s_ai_vector_db_spark.functions.caching import evict_application

    evict_application(_spark())
    qs = registry.queries()
    names = names or PROBE_QUERIES
    # Build scratch indexes OUTSIDE the per-query timed region (VERDICT
    # r11 item 4b): the _idx family builds a persisted index on first
    # call per (session, sf_dir). An interleaved build heats the JVM
    # (allocation burst + shuffle files) right before that query's timed
    # passes; front-loading all builds here puts the one-time cost at
    # battery start where it pollutes nothing that gets timed.
    for name in names:
        if "_idx" in name or name == "hybrid_rrf":
            fn = EXTRA_PROBES.get(name) or qs[name]
            b0 = time.perf_counter()
            fn(_spark(), sf_dir).write.format("noop").mode("overwrite").save()
            print(
                f"[probe] prebuilt {name} index path in "
                f"{time.perf_counter() - b0:.1f}s",
                file=sys.stderr,
            )
    out: dict[str, float] = {}
    if two_sweep:
        # Order-decorrelation lever (VERDICT r12 item 6): in the default
        # mode both timed passes run back-to-back, so BOTH see the same
        # neighbor history — a heavy predecessor's resident shuffle/GC
        # state colors both passes and min() can't wash it out
        # (dedup_incremental read 11.8 s in-battery vs 2-3 s standalone).
        # Here the first timed pass runs in listed order and the second
        # in REVERSED order, so each query's two passes see different
        # neighbor histories and the min is far less correlated with any
        # one neighbor. Same total executions as the default (warm + 2
        # timed per query).
        spark = _spark()
        times_by_name: dict[str, list[float]] = {n: [] for n in names}
        for sweep, order in (("fwd", names), ("rev", list(reversed(names)))):
            for name in order:
                fn = EXTRA_PROBES.get(name) or qs[name]
                if sweep == "fwd":  # warm once, on first encounter
                    fn(spark, sf_dir).write.format("noop").mode(
                        "overwrite"
                    ).save()
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                times_by_name[name].append(time.perf_counter() - t0)
                print(
                    f"[probe] {sf_dir} {name} [{sweep}]: "
                    f"{times_by_name[name][-1]:.3f}s",
                    file=sys.stderr,
                )
        for name in names:
            out[name] = round(min(times_by_name[name]), 3)
            out[f"{name}__passes"] = [round(t, 3) for t in times_by_name[name]]
        out["__battery_order__"] = "two_sweep_reversed"
        return out
    for name in names:
        fn = EXTRA_PROBES.get(name) or qs[name]
        spark = _spark()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()  # warm
        # Two timed passes, min wins: a single pass right after the memo
        # eviction is GC/carryover-exposed (round 10 measured the same
        # query at 39 s single-pass vs ~5 s in an idle repeat loop); min
        # of two approximates the steady state bench.py's repeat block
        # also targets, at one extra execution per query.
        times = []
        for _ in range(2):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t0)
        out[name] = round(min(times), 3)
        # Both raw passes ride along in the emitted JSON (ADVICE r10):
        # the round-10 methodology switch from single-pass to min-of-two
        # makes numbers systematically lower than earlier rounds', and a
        # min-only record would hide that change from cross-round
        # comparisons.
        out[f"{name}__passes"] = [round(t, 3) for t in times]
        print(
            f"[probe] {sf_dir} {name}: {out[name]:.3f}s "
            f"(passes: {out[f'{name}__passes']})",
            file=sys.stderr,
        )
    return out


def _spark():
    from koby_s_ai_vector_db_spark.session import get_spark

    spark = get_spark("koby-scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# Ratio above which a row is treated as a harness artifact and
# re-measured in a fresh JVM before publishing (VERDICT r11 item 4a):
# sub-linear-to-linear scaling means honest rows sit at or under the
# 10× data ratio; every past over-ratio row (q17 59.9 s r7, q16 18.8 s
# r10, a26 8.06 s / q2_ann_pq_idx 22.1 s r11) was shared-JVM carryover
# that settled at/under the bound standalone.
ANOMALY_RATIO = 10.0
STANDALONE_PASSES = 3


def _measure_standalone(name: str, sf_dir: str) -> dict | None:
    """Re-measure one query in a FRESH python/JVM process; returns the
    parsed {"passes": [...], "min": x} or None if the subprocess fails."""
    import subprocess

    cmd = [
        sys.executable,
        os.path.abspath(__file__),
        "--standalone", name,
        "--standalone-dir", sf_dir,
    ]
    try:
        proc = subprocess.run(
            cmd, capture_output=True, text=True, timeout=900,
            env={**os.environ, "SPARK_DRIVER_MEMORY": "48g"},
        )
        if proc.returncode != 0:
            # A subprocess that died AFTER emitting a JSON line must not
            # be accepted as a valid measurement (ADVICE r12).
            print(
                f"[probe] standalone {name} exited {proc.returncode}; "
                f"stderr tail: {proc.stderr.strip()[-500:]}",
                file=sys.stderr,
            )
            return None
        line = proc.stdout.strip().splitlines()[-1]
        return json.loads(line)
    except Exception as exc:  # pragma: no cover - diagnostics only
        print(f"[probe] standalone {name} failed: {exc}", file=sys.stderr)
        return None


def apply_remeasure(
    table: dict, sf1_dir: str, measure=None, sf01_dir: str = SF01
) -> None:
    """Auto-re-measure over-ratio rows in a FRESH JVM before publishing
    (VERDICT r11 item 4a): the in-harness number stays on record under
    *_in_harness keys, but the HEADLINE sf1_s/ratio become the fresh-JVM
    steady state, so the published table needs no footnote attribution.
    If the fresh sf1 number STILL exceeds the bound, the sf0.1 side may
    be the stale one (memo-warm vs cold) — it gets a fresh JVM too, so
    the ratio compares like with like. Mutates `table` in place;
    `measure` is injectable for tests (defaults to the subprocess)."""
    measure = measure or _measure_standalone
    for n, row in table.items():
        if row["ratio"] is None or row["ratio"] <= ANOMALY_RATIO:
            continue
        print(f"[probe] {n} ratio {row['ratio']} > {ANOMALY_RATIO}: "
              f"re-measuring in a fresh JVM", file=sys.stderr)
        fresh = measure(n, sf1_dir)
        if fresh is None:
            continue
        row["sf1_in_harness_s"] = row["sf1_s"]
        row["sf1_in_harness_passes"] = row["sf1_passes"]
        row["sf1_s"] = fresh["min"]
        row["sf1_passes"] = fresh["passes"]
        row["ratio"] = (
            round(fresh["min"] / row["sf0.1_s"], 2)
            if row["sf0.1_s"] else None
        )
        row["remeasured_fresh_jvm"] = True
        if row["ratio"] is not None and row["ratio"] > ANOMALY_RATIO:
            fresh01 = measure(n, sf01_dir)
            if fresh01 is not None:
                row["sf0.1_in_harness_s"] = row["sf0.1_s"]
                # keep the raw in-harness passes too, mirroring the sf1
                # branch — cross-round comparisons read them (ADVICE r12)
                row["sf0.1_in_harness_passes"] = row["sf0.1_passes"]
                row["sf0.1_s"] = fresh01["min"]
                row["sf0.1_passes"] = fresh01["passes"]
                row["ratio"] = (
                    round(row["sf1_s"] / fresh01["min"], 2)
                    if fresh01["min"] else None
                )


def _run_standalone(name: str, sf_dir: str) -> int:
    """--standalone entry: warm once (JIT + index build + memo persists,
    same exclusions as the battery), then STANDALONE_PASSES timed passes.
    Prints ONE JSON line to stdout."""
    from koby_s_ai_vector_db_spark import registry

    qs = registry.queries()
    fn = EXTRA_PROBES.get(name) or qs[name]
    spark = _spark()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()  # warm
    times = []
    for _ in range(STANDALONE_PASSES):
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        times.append(round(time.perf_counter() - t0, 3))
    print(json.dumps({"passes": times, "min": min(times)}))
    return 0


def main() -> int:
    # Both scales' working sets live in one local JVM (driver == executor
    # in local mode): the default 8g heap OOMs during the sf1 dedup
    # family. On a real cluster this is per-executor memory sizing; here
    # one knob suffices.
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "48g")
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf1-dir", default="/tmp/koby_sf1")
    ap.add_argument(
        "--queries",
        default=None,
        help="comma-separated subset of PROBE_QUERIES (default: all)",
    )
    ap.add_argument(
        "--wide-vocab",
        type=int,
        default=0,
        metavar="N",
        help="also generate an N-word-vocabulary twin corpus and report "
        "narrow-vs-wide wall-time at the same sf1 scale (crowding cost)",
    )
    ap.add_argument("--standalone", default=None, help=argparse.SUPPRESS)
    ap.add_argument("--standalone-dir", default=None, help=argparse.SUPPRESS)
    ap.add_argument(
        "--no-remeasure",
        action="store_true",
        help="skip the fresh-JVM re-measurement of over-ratio rows",
    )
    ap.add_argument(
        "--two-sweep",
        action="store_true",
        default=True,
        help="order-decorrelated battery: first timed pass in listed "
        "order, second in reversed order (ADOPTED round 13: in the "
        "consecutive mode both passes share one neighbor state, so min() "
        "can't wash a bad neighborhood out — dedup_tfidf_cosine read "
        "75.7 s in BOTH consecutive passes vs 13.0 s two-sweep / 8.2 s "
        "standalone; BASELINE.md round-13 methodology note)",
    )
    ap.add_argument(
        "--consecutive",
        dest="two_sweep",
        action="store_false",
        help="pre-round-13 battery order: both timed passes back-to-back "
        "per query (kept for cross-round comparisons)",
    )
    args = ap.parse_args()
    if args.standalone:
        return _run_standalone(args.standalone, args.standalone_dir)
    names = args.queries.split(",") if args.queries else PROBE_QUERIES
    unknown = [n for n in names if n not in PROBE_QUERIES and n not in EXTRA_PROBES]
    if unknown:
        # Fail in milliseconds, not after minutes of corpus generation.
        ap.error(f"unknown --queries names: {unknown} (choose from PROBE_QUERIES)")
    # orders is the last-written table — its presence implies all.
    if not os.path.exists(f"{args.sf1_dir}/orders.parquet"):
        generate(args.sf1_dir)

    from koby_s_ai_vector_db_spark.functions.calibration import calibrate

    calib_pre = calibrate(_spark())
    print(f"[probe] calib pre: {calib_pre}", file=sys.stderr)
    t01 = time_queries(SF01, names, two_sweep=args.two_sweep)
    t1 = time_queries(args.sf1_dir, names, two_sweep=args.two_sweep)
    calib_post = calibrate(_spark())
    print(f"[probe] calib post: {calib_post}", file=sys.stderr)
    table = {
        n: {
            "sf0.1_s": t01[n],
            "sf1_s": t1[n],
            "ratio": round(t1[n] / t01[n], 2) if t01[n] else None,
            "sf0.1_passes": t01[f"{n}__passes"],
            "sf1_passes": t1[f"{n}__passes"],
        }
        for n in names
    }
    if not args.no_remeasure:
        apply_remeasure(table, args.sf1_dir)
    # methodology: headline numbers are min-of-two passes since round 10
    # (single-pass before) — the raw passes above keep the change visible
    # in cross-round comparisons.
    out = {
        "scale_probe": table,
        "data_ratio": 10.0,
        "timing": "min_of_2_passes",
        "battery_order": (
            "two_sweep_reversed" if args.two_sweep else "per_query_consecutive"
        ),
        "calib": {"pre": calib_pre, "post": calib_post},
    }

    if args.wide_vocab:
        wide_dir = f"{args.sf1_dir}_wide{args.wide_vocab}"
        # Same sentinel as the sf1 dir: orders is written LAST, so its
        # presence implies a complete generation.
        if not os.path.exists(f"{wide_dir}/orders.parquet"):
            generate(wide_dir, wide_vocab=args.wide_vocab)
        tw = time_queries(wide_dir, names)
        out["wide_vocab"] = {
            "vocab_size": args.wide_vocab,
            "per_query": {
                n: {
                    "narrow_sf1_s": t1[n],
                    "wide_sf1_s": tw[n],
                    "wide_over_narrow": (
                        round(tw[n] / t1[n], 2) if t1[n] else None
                    ),
                }
                for n in names
            },
        }
    print(json.dumps(out, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
