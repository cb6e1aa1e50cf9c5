"""Fixed driver costs the engine does not pay: constant frames are
``LocalRelation`` plans (no Python RDD, so no ``pyspark.daemon`` worker
starts to scan them), and a ``get_spark`` session does not record a
Python call site per Column call (``spark.python.sql.dataFrameDebugging``)."""

from __future__ import annotations

import ast
import os
import subprocess
import sys
import textwrap

import pytest

from koby_s_ai_vector_db_spark import registry
from koby_s_ai_vector_db_spark.operators.pq import codebook_df
from koby_s_ai_vector_db_spark.queries.corpus_q import bm25_queries_df
from koby_s_ai_vector_db_spark.sources.tables import local_frame
from tests.conftest import SF_DIRS, _q
from tests.test_engine_reachability import PKG, ROOT


def _assert_local(df) -> None:
    plan = df._jdf.queryExecution().analyzed().toString()
    assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan


def test_codebook_and_query_tables_are_local_relations(spark):
    _assert_local(codebook_df(spark))
    _assert_local(bm25_queries_df(spark))
    empty = local_frame(spark, [], "q double")  # e.g. a BPE run with no merges
    _assert_local(empty)
    assert empty.count() == 0


@pytest.mark.parametrize(
    "name",
    [
        "bm25_rank",          # BM25 query table
        "q7_fusion",          # fusion query texts
        "a20_quantile_sketch",  # both quantile-level tables
        "a22_hll_daily_merge",  # the MERGED/GLOBAL label table
        "bpe_train",          # the learned merge table
        "emb_pca_project",    # the broadcast PCA model
    ],
)
def test_query_constant_frames_are_local_relations(spark, name):
    """Each registered query that joins a driver-side constant table reads
    it from a LocalRelation, and its plan holds no Python RDD."""
    _assert_local(_q(name)(spark, SF_DIRS["t1"]))


def test_engine_builds_constant_frames_only_through_local_frame():
    """`spark.createDataFrame(<python list>)` is a Python RDD; the engine
    calls createDataFrame in one place, `sources/tables.local_frame`,
    which hands it a pyarrow.Table."""
    calls = []
    for p in sorted(PKG.rglob("*.py")):
        tree = ast.parse(p.read_text())
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            for n in ast.walk(fn):
                if (isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
                        and n.func.attr == "createDataFrame"):
                    calls.append(f"{p.relative_to(ROOT)}::{fn.name}")
    assert calls == ["koby_s_ai_vector_db_spark/sources/tables.py::local_frame"]


_PY4J_PROBE = textwrap.dedent(
    """
    from koby_s_ai_vector_db_spark.session import get_spark
    from pyspark.sql import functions as F
    from py4j.clientserver import ClientServerConnection
    from py4j.java_gateway import GatewayConnection

    spark = get_spark("py4j-count")
    (F.col("a") + F.lit(1)).alias("b")  # first call: one-time JVM lookups
    n = [0]
    for cls in (ClientServerConnection, GatewayConnection):
        def counting(self, *a, _orig=cls.send_command, **k):
            n[0] += 1
            return _orig(self, *a, **k)
        cls.send_command = counting
    (F.col("a") + F.lit(1)).alias("b")
    print("ROUND_TRIPS", n[0])
    spark.stop()
    """
)


def test_column_calls_skip_call_site_capture():
    """In a fresh process on a `get_spark` session, the four Column-API
    calls of ``(F.col("a") + F.lit(1)).alias("b")`` make at most 3 py4j
    round trips each (8 measured: `col` and `lit` each resolve and call a
    JVM function). With call-site capture on, every call also walks the
    Python stack and sets and clears the JVM origin: 38 round trips."""
    env = dict(os.environ, PYTHONPATH=str(ROOT), SPARK_GRAFT_CPUS="1",
               SPARK_DRIVER_MEMORY="1g")
    out = subprocess.run(
        [sys.executable, "-c", _PY4J_PROBE], env=env, cwd=str(ROOT),
        capture_output=True, text=True, timeout=300,
    )
    lines = [x for x in out.stdout.splitlines() if x.startswith("ROUND_TRIPS")]
    assert lines, out.stderr[-2000:]
    assert int(lines[0].split()[1]) <= 4 * 3


def test_steady_state_query_construction_is_action_free(spark):
    """Registry-wide generalization of the dedup_source_matrix lesson
    (ADVICE r08): after a query has been built once (memoized state,
    scratch indexes, and eager contractions are allowed to build on
    FIRST call), re-building it must schedule ZERO Spark jobs. The
    driver builds every query before executing it — a per-build action
    doubles work at any scale, and an eager action in a hot query-build
    path is invisible to the oracle comparison."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def _real_jobs(group):
        # Parquet schema-inference footer reads ("parquet at ...") are
        # Spark-internal per-read jobs, not engine actions — the index
        # sources re-open their parquet segments per build by design
        # (fixture tables are covered by the load_table memo). Everything
        # else (collect, localCheckpoint, first, toLocalIterator) counts.
        out = []
        for j in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(j)
            names = []
            for s in list(info.stageIds):
                si = tracker.getStageInfo(s)
                if si is not None:
                    names.append(si.name)
            if not all(n.startswith("parquet at") for n in names):
                out.append((j, names))
        return out

    qs = registry.queries()
    for name, fn in qs.items():
        fn(spark, SF_DIRS["t1"])  # first build: memo/index/eager state allowed
    offenders = {}
    for name, fn in qs.items():
        group = f"steady_build_{name}"
        sc.setJobGroup(group, "steady-state build must be action-free")
        try:
            fn(spark, SF_DIRS["t1"])
        finally:
            sc.setJobGroup(None, None)
        jobs = _real_jobs(group)
        if jobs:
            offenders[name] = jobs
    assert not offenders, (
        f"queries whose steady-state construction schedules Spark jobs: "
        f"{offenders}"
    )
