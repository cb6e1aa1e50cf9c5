"""Graph analytics over the relational backbone.

Pre-built late round 8, registered in round 10's first free slot
(SURVEY §9); parity is auto-covered by tests/test_oracle_parity.py now
that the name is in the registry.

The reference app has no graph operators at all; a corpus/provenance
platform at 100 TB needs at least one iterative graph primitive beyond
connected components (operators/dedup.py has large-star/small-star CC).
PageRank is the canonical one, and the repo convention makes it
oracle-checkable: EVERY iteration boundary is integer arithmetic
(rank quantized to q6; per-edge contribution FLOOR(rq/deg); damped
update 150000 + FLOOR(0.85 * sum)), so a fixed-iteration run is
bit-identical between Spark and an unrolled DuckDB CTE chain — no
float accumulation ever crosses an aggregation.

Graph: the customer→supplier purchase graph (distinct (o_custkey,
l_suppkey) pairs through orders ⋈ lineitem), made BIDIRECTIONAL so no
node is dangling (every node with an edge has out-degree ≥ 1 — the
usual trick for co-purchase graphs; dangling-mass redistribution would
add a second exchange per iteration for no fixture value). Node ids
are namespaced into one integer key space: customer c → 10c,
supplier s → 10s + 1.

Scale shape: one distinct-pair aggregation builds the edge list (the
only corpus-sized shuffle), then each iteration is one hash join of
the rank table onto the persisted edge list plus one groupBy(dst) —
the textbook distributed PageRank step. Rank tables are |V| rows.
Exactness window: per-node incoming contribution sums stay exact while
total rank mass (≈ |V|·1e6) < 2^53, i.e. |V| < ~9e9 nodes; beyond
that, re-scale the quantization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from koby_s_ai_vector_db_spark.registry import register
from koby_s_ai_vector_db_spark.sources.tables import load_tables

PR_ITERS = 3
PR_TOP = 20

_PR_EDGES_CTE = """
e0 AS (
    SELECT DISTINCT o.o_custkey * 10 AS src, l.l_suppkey * 10 + 1 AS dst
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
),
edges AS (
    SELECT src, dst FROM e0
    UNION ALL
    SELECT dst AS src, src AS dst FROM e0
),
deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY 1)
"""


def _pr_iter_cte(prev: str, out: str) -> str:
    return f"""{out} AS (
    SELECT e.dst AS node,
           CAST(150000 + FLOOR(0.85 * CAST(sum(
               CAST(FLOOR(CAST(r.rq AS DOUBLE) / d.d) AS BIGINT)
           ) AS DOUBLE)) AS BIGINT) AS rq
    FROM edges e
    JOIN {prev} r ON e.src = r.node
    JOIN deg d ON d.src = e.src
    GROUP BY 1
)"""


def _pr_oracle() -> str:
    its = ",\n".join(
        _pr_iter_cte(f"r{i}", f"r{i + 1}") for i in range(PR_ITERS)
    )
    return f"""
WITH {_PR_EDGES_CTE},
r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS rq FROM deg),
{its}
SELECT CAST((r.node - 1) // 10 AS BIGINT) AS s_suppkey,
       r.rq AS rank_q6, d.d AS degree
FROM r{PR_ITERS} r JOIN deg d ON d.src = r.node
WHERE r.node % 10 = 1
ORDER BY r.rq DESC, s_suppkey ASC
LIMIT {PR_TOP}
"""


@register("graph_pagerank", _pr_oracle())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{PR_TOP} suppliers by PageRank on the bidirectional purchase
    graph after PR_ITERS exact-integer iterations. The edge list (with
    degrees attached) persists once; each iteration is one shuffle join
    on the node key + one groupBy(dst) — no driver-side graph state, no
    collect. Reference parity target: none (capability beyond the
    reference; SURVEY §2.7 relational-gap note)."""
    from koby_s_ai_vector_db_spark.functions.caching import memo_persist

    def build_edges():
        t = load_tables(spark, sf_dir, "orders", "lineitem")
        e0 = (
            t["orders"]
            .join(
                t["lineitem"],
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .select(
                (F.col("o_custkey") * 10).alias("src"),
                (F.col("l_suppkey") * 10 + 1).alias("dst"),
            )
            .distinct()
        )
        rev = e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        return e0.unionByName(rev)

    # Three persisted tiers, each read by the next so the expensive
    # subtree under it runs exactly once on the cold path:
    #   edges (orders⋈lineitem→distinct, the costly build — without its
    #   own persist the deg AND ed builders each recomputed it, ADVICE
    #   r10) → deg (|E|-row aggregate; seeds r0 and decorates the final
    #   projection) → ed (the degree-ANNOTATED list every iteration
    #   joins against; persisting only edges left each iteration
    #   re-running the deg aggregate + edges⋈deg join inside one plan,
    #   3.5 s at sf0.1 → 2.3 s when ed was first persisted).
    from koby_s_ai_vector_db_spark.functions.partitioning import (
        input_sized_partitions,
    )

    ed_width = input_sized_partitions(
        spark, [f"{sf_dir}/orders.parquet", f"{sf_dir}/lineitem.parquet"]
    )
    edges = memo_persist(spark, ("pagerank_edges", sf_dir), build_edges)
    # deg gets the same size-aware src layout as ed below: the |V|-row
    # table is read twice per call (rank seed + final decorate join), and
    # its groupBy otherwise bakes a shuffle.partitions-wide cache layout
    # that AQE cannot coalesce — 2×32 near-empty task launches per call
    # at fixture scale (round 14; same mechanism as ed).
    deg = memo_persist(
        spark,
        ("pagerank_deg", sf_dir),
        lambda: edges.groupBy("src")
        .agg(F.count("*").alias("d"))
        .repartition(ed_width, "src"),
    )
    # ed persists HASH-PARTITIONED (and sorted) on src — the iteration
    # join key. InMemoryTableScan reports the cached layout, so each of
    # the PR_ITERS joins consumes ed with NO exchange and NO sort; only
    # the |V|-row rank table shuffles per iteration (round 13, guide
    # §2.4 "two operations keyed the same way share one exchange" — the
    # textbook Pregel edge partitioning). Before: every iteration
    # re-shuffled the full |E| edge table on src
    # (plans/r13/graph_pagerank_{before,after}.txt: 3× Exchange+Sort on
    # the ed side → 0). The one-time partition pass happens at build,
    # outside steady state, exactly like the persist itself.
    #
    # Round 14 (VERDICT r13 item 1): the width is SIZE-AWARE, not
    # shuffle.partitions. The bare repartition("src") baked a 32-wide
    # layout into the cache that AQE can never coalesce, so at fixture
    # scale every iteration paid 32 task launches to scan a table the
    # planner broadcasts anyway — a measured 2.5× regression (driver
    # 0.83 → 2.06 s, anti-scaling 0.70 at 8-vs-32 cores). Deriving the
    # count from the edge inputs' on-disk bytes keeps 1 partition at
    # fixture scale (broadcast path intact, tasks ∝ data) and grows into
    # the full co-partitioning guarantee at 100 TB.
    ed = memo_persist(
        spark,
        ("pagerank_edges_deg", sf_dir),
        lambda: edges.join(deg, "src")  # (src, dst, d)
        .repartition(ed_width, "src")
        .sortWithinPartitions("src"),
    )

    rank = deg.select(
        F.col("src").alias("node"), F.lit(1_000_000).cast("long").alias("rq")
    )
    for _ in range(PR_ITERS):
        contrib = ed.join(rank, ed["src"] == rank["node"]).select(
            "dst",
            F.floor(F.col("rq").cast("double") / F.col("d"))
            .cast("long")
            .alias("c"),
        )
        rank = (
            contrib.groupBy("dst")
            .agg(F.sum("c").alias("s"))
            .select(
                F.col("dst").alias("node"),
                (
                    F.lit(150_000)
                    + F.floor(0.85 * F.col("s").cast("double")).cast("long")
                )
                .cast("long")
                .alias("rq"),
            )
        )
    return (
        rank.filter(F.col("node") % 10 == 1)
        .join(deg, rank["node"] == deg["src"])
        .select(
            F.expr("CAST((node - 1) DIV 10 AS BIGINT)").alias("s_suppkey"),
            F.col("rq").alias("rank_q6"),
            F.col("d").alias("degree"),
        )
        .orderBy(F.desc("rank_q6"), F.asc("s_suppkey"))
        .limit(PR_TOP)
    )
