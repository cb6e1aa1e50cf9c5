"""Edge-case tests for the queries that were pre-built ahead of their
registration round (the seven round-9 prebuilds, registered in round 9,
and the round-10 trio graph_pagerank / ta_pmi_collocations /
q18_ann_recall, registered in round 10). All of them are in the registry
now, so their DuckDB oracle parity is auto-covered by
tests/test_oracle_parity.py; what remains here are the synthetic-input
edge cases the fixture data can't exercise."""

from __future__ import annotations

from tests.conftest import SF_DIRS, _write_docs

SF_DIR = SF_DIRS["t2"]


def test_a26_missing_key_branch(spark):
    """Fixture props always carry k — exercise the NULL/absent-key path the
    profile must survive (n_with_k < n_events, sentinel min/max intact)."""
    from pyspark.sql import functions as F

    from koby_s_ai_vector_db_spark.queries.analytics_q import a26_props_profile

    rows = [
        (1, "click", '{"k": 5}'),
        (2, "click", '{"other": 1}'),
        (3, "click", "{}"),
        (4, "view", '{"k": 7}'),
    ]
    df = spark.createDataFrame(rows, "event_id long, event_type string, props string")
    parsed = df.select(
        "event_type",
        F.get_json_object(F.col("props"), "$.k").cast("long").alias("k"),
    )
    out = {
        r["event_type"]: r
        for r in parsed.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.when(F.col("k").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_with_k"),
            F.coalesce(F.min("k"), F.lit(-1)).cast("long").alias("min_k"),
        )
        .collect()
    }
    assert out["click"]["n_events"] == 3
    assert out["click"]["n_with_k"] == 1
    assert out["click"]["min_k"] == 5
    assert out["view"]["n_with_k"] == 1
    # the registered-shape function parses the same way (smoke the wiring)
    assert a26_props_profile is not None


def test_tok_source_budget_invariants(spark):
    """Greedy-prefix invariants: kept_tokens never exceeds budget, and a
    source either exhausts its docs (kept == avail) or could not fit one
    more doc (budget utilization is maximal for the hash-order prefix)."""
    from koby_s_ai_vector_db_spark.queries.selection_q import tok_source_budget

    rows = tok_source_budget(spark, SF_DIRS["t1"]).collect()
    assert rows, "no sources"
    for r in rows:
        assert r["kept_tokens"] <= r["budget_tokens"], r
        assert r["n_kept"] <= r["n_avail"], r
        if r["n_kept"] == r["n_avail"]:
            assert r["kept_tokens"] == r["tokens_avail"], r


# --- synthetic-input edge cases (fixture data can't exercise these) ----------


def test_tok_source_budget_matches_bruteforce(spark, tmp_path):
    """The two-phase bucket plan must equal the global greedy prefix —
    brute-forced here in Python with the same md5 hash, including an
    EXACT budget hit (src0: 8 docs x 125 tokens == budget 1000, so the
    boundary condition cum == budget keeps the whole bucket and admits
    no further doc)."""
    import hashlib

    from koby_s_ai_vector_db_spark.queries.selection_q import (
        TOKB_BUDGETS,
        TOKB_SEED,
        tok_source_budget,
    )

    rows = []
    # src0 (budget 1000): 20 docs of exactly 125 tokens → greedy keeps 8.
    for i in range(20):
        rows.append((i, " ".join(f"w{j}" for j in range(125)), "en", "src0"))
    # src1 (budget 2000): ragged lengths around the boundary.
    for i in range(40):
        n = 37 + (i * 13) % 90
        rows.append((100 + i, " ".join(f"w{j}" for j in range(n)), "en", "src1"))
    sf = _write_docs(tmp_path, rows)

    def h32(doc_id):
        s = f"{TOKB_SEED}:{doc_id}".encode()
        return int(hashlib.md5(s).hexdigest()[:8], 16)

    expect = {}
    for src in ("src0", "src1"):
        docs = [(r[0], len(r[1].split())) for r in rows if r[3] == src]
        docs.sort(key=lambda d: (h32(d[0]), d[0]))
        cum = kept = ktok = ids = 0
        for doc_id, n_tok in docs:
            cum += n_tok
            if cum > TOKB_BUDGETS[src]:
                break
            kept, ktok, ids = kept + 1, ktok + n_tok, ids + doc_id
        expect[src] = (kept, ktok, ids)

    got = {
        r["source"]: (r["n_kept"], r["kept_tokens"], r["kept_id_sum"])
        for r in tok_source_budget(spark, sf).collect()
    }
    assert got == expect
    assert expect["src0"][1] == 1000, "fixture must hit the budget exactly"


def test_emb_label_centroids_singleton_label(spark, tmp_path):
    """A single-vector label's centroid IS the vector (quantized mean at
    n=1 is the identity), so its cosine must be exactly 1.0 → cq ==
    1_000_000 with zero dispersion."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from koby_s_ai_vector_db_spark.queries.vector_q import (
        EMB_DIM,
        emb_label_centroids,
    )

    vecs = [
        (0, [0.1 * ((i % 7) + 1) for i in range(EMB_DIM)], 0),
        (1, [0.05 * ((i % 5) + 2) for i in range(EMB_DIM)], 1),
        (2, [-0.08 * ((i % 3) + 1) for i in range(EMB_DIM)], 1),
    ]
    t = pa.table(
        {
            "vec_id": pa.array([v[0] for v in vecs], pa.int64()),
            "embedding": pa.array(
                [v[1] for v in vecs], pa.list_(pa.float32())
            ),
            "label": pa.array([v[2] for v in vecs], pa.int32()),
        }
    )
    pq.write_table(t, f"{tmp_path}/embeddings.parquet")

    out = {r["label"]: r for r in emb_label_centroids(spark, str(tmp_path)).collect()}
    assert out[0]["n_vecs"] == 1
    assert out[0]["min_cos_q6"] == out[0]["max_cos_q6"] == 1_000_000
    assert out[0]["sum_cos_q6"] == 1_000_000
    assert out[1]["n_vecs"] == 2


def test_a27_constant_values_zero_mad(spark, tmp_path):
    """All-identical values → med = value, MAD = 0, zero anomalies (the
    d > 3*MAD gate must not fire on d == 0)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from koby_s_ai_vector_db_spark.queries.analytics_q import a27_value_mad

    n = 50
    t = pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array([1_704_067_200_000_000 + i for i in range(n)],
                           pa.timestamp("us")),
            "user_id": pa.array([i % 5 for i in range(n)], pa.int64()),
            "event_type": pa.array(["ping"] * n),
            "value": pa.array([42.5] * n, pa.float64()),
            "props": pa.array(['{"k": 1}'] * n),
        }
    )
    pq.write_table(t, f"{tmp_path}/events.parquet")
    (row,) = a27_value_mad(spark, str(tmp_path)).collect()
    assert row["med_q6"] == 42_500_000
    assert row["mad_q6"] == 0
    assert row["n_anomalies"] == 0
    assert row["max_dev_q6"] == 0


def test_graph_pagerank_matches_bruteforce(spark, tmp_path):
    """Spark PageRank vs a Python brute force of the SAME integer
    recurrence on a small controlled graph (star + chain), including the
    bidirectional edge construction and node namespacing."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from koby_s_ai_vector_db_spark.queries.graph_q import (
        PR_ITERS,
        graph_pagerank,
    )

    # customer c buys from suppliers: c1->{s1,s2,s3}, c2->{s1}, c3->{s1}
    pairs = [(1, 1), (1, 2), (1, 3), (2, 1), (3, 1)]
    orders = pa.table(
        {
            "o_orderkey": pa.array(range(len(pairs)), pa.int64()),
            "o_custkey": pa.array([c for c, _ in pairs], pa.int64()),
        }
    )
    li = pa.table(
        {
            "l_orderkey": pa.array(range(len(pairs)), pa.int64()),
            "l_suppkey": pa.array([s for _, s in pairs], pa.int64()),
        }
    )
    pq.write_table(orders, f"{tmp_path}/orders.parquet")
    pq.write_table(li, f"{tmp_path}/lineitem.parquet")

    import math

    edges = [(c * 10, s * 10 + 1) for c, s in pairs]
    edges += [(d, s) for s, d in edges]
    deg = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    rq = {n: 1_000_000 for n in deg}
    for _ in range(PR_ITERS):
        inc = {}
        for s, d in edges:
            inc[d] = inc.get(d, 0) + math.floor(rq[s] / deg[s])
        rq = {n: 150_000 + math.floor(0.85 * v) for n, v in inc.items()}
    expect = {
        (n - 1) // 10: (r, deg[n]) for n, r in rq.items() if n % 10 == 1
    }

    got = {
        r["s_suppkey"]: (r["rank_q6"], r["degree"])
        for r in graph_pagerank(spark, str(tmp_path)).collect()
    }
    assert got == expect
    # hub supplier s1 (degree 3) must outrank the leaves
    assert got[1][0] > got[2][0] == got[3][0]


def test_q18_recall_is_one_when_probe_covers_all(spark, tmp_path):
    """With a single IVF cell the probe covers the whole corpus, so ANN
    results equal exact results and recall@K is exactly 1.0 per query."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from koby_s_ai_vector_db_spark.queries.vector_q import q18_ann_recall

    rng = np.random.default_rng(3)
    M = rng.standard_normal((40, 64)).astype(np.float32)
    M /= np.linalg.norm(M, axis=1, keepdims=True)
    t = pa.table(
        {
            "vec_id": pa.array(range(40), pa.int64()),
            "embedding": pa.array([r.tolist() for r in M], pa.list_(pa.float32())),
            "label": pa.array([0] * 40, pa.int32()),
        }
    )
    pq.write_table(t, f"{tmp_path}/embeddings.parquet")
    rows = q18_ann_recall(spark, str(tmp_path)).collect()
    assert rows
    assert all(r["recall_q6"] == 1_000_000 for r in rows), rows


def test_pmi_known_value(spark, tmp_path):
    """A corpus where 'aa bb' always co-occurs: PMI must equal the exact
    closed form computed in Python on the same integer counts."""
    import math

    from koby_s_ai_vector_db_spark.queries.corpus_q import ta_pmi_collocations

    rows = [(i, "aa bb cc", "en", "src0") for i in range(10)]
    sf = _write_docs(tmp_path, rows)
    out = {r["bigram"]: r for r in ta_pmi_collocations(spark, sf).collect()}
    # counts: T=30 tokens, B=20 bigrams, c('aa bb')=10, c(aa)=c(bb)=10
    exp = round(1_000_000 * math.log((10.0 * 30 * 30) / (20.0 * 10 * 10)))
    assert out["aa bb"]["pmi_q6"] == exp
    assert out["aa bb"]["c12"] == 10


# --- the dashboard panels without a registered query of their own ----------
# lifebench's dashboard calls live_users and user_activity directly; their
# values are checked here against a6_session_stats' oracle-checked columns.


def test_a5_is_strict_projection_of_a6(spark):
    """The A5 operator's single value (`live_users`) equals
    a6_session_stats' oracle-checked live_users column."""
    from koby_s_ai_vector_db_spark.operators.analytics import live_users
    from koby_s_ai_vector_db_spark.queries.analytics_q import a6_session_stats
    from koby_s_ai_vector_db_spark.sources.tables import load_table

    (a5,) = live_users(load_table(spark, SF_DIR, "events")).collect()
    (a6,) = a6_session_stats(spark, SF_DIR).collect()
    assert a5["live_users"] == a6["live_users"]


def test_a7u_is_reconstructable_from_a6(spark):
    """The A7 per-user operator's full result (`user_activity`: per-type
    counts AND the windowed total) reconstructs exactly from
    a6_session_stats' oracle-checked `u7_breakdown_7d` string."""
    from koby_s_ai_vector_db_spark.operators.analytics import user_activity
    from koby_s_ai_vector_db_spark.queries.analytics_q import a6_session_stats
    from koby_s_ai_vector_db_spark.sources.tables import load_table

    (a6,) = a6_session_stats(spark, SF_DIR).collect()
    decoded = {}
    if a6["u7_breakdown_7d"]:
        for part in a6["u7_breakdown_7d"].split(","):
            t, n = part.rsplit(":", 1)
            decoded[t] = int(n)
    assert sum(decoded.values()) == a6["u7_events_7d"]

    rows = user_activity(load_table(spark, SF_DIR, "events"), user_id=7, days=7).collect()
    expect = {r["event_type"]: r["n_events"] for r in rows}
    assert decoded == expect
    for r in rows:
        assert r["total_events"] == a6["u7_events_7d"]
