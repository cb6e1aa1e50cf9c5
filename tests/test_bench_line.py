"""bench.py stdout-line budget: the single JSON line must stay parseable
within the driver's ~2000-char capture window in EVERY failure mix, and
must stay self-describing about what it dropped (no Spark needed)."""

from __future__ import annotations

import json

import bench


def _mk(nq: int, nfail: int):
    per_query = {f"query_{i:03d}_with_a_long_name": 0.5 + i * 0.01 for i in range(nq)}
    failures = {
        f"failing_query_{i:03d}_with_a_long_name": "x" * 200 for i in range(nfail)
    }
    result = {
        "metric": "total_wall_sec", "value": 42.0, "unit": "sec",
        "queries": per_query, "sf": 0.1,
    }
    if failures:
        result["failures"] = failures
    return result, per_query, failures


def test_no_trim_when_under_budget():
    result, pq, fl = _mk(10, 0)
    slim = bench.slim_line(result, pq, fl)
    assert slim["queries"] == {k: round(v, 2) for k, v in pq.items()}
    assert "dropped" not in slim


def test_many_queries_trim_names_reported():
    result, pq, fl = _mk(200, 0)
    slim = bench.slim_line(result, pq, fl)
    line = bench.encoded(slim)
    assert len(line) <= bench.BUDGET
    assert json.loads(line)["dropped"] == 200 - len(slim["queries"])
    # self-describing: the dropped set is named (possibly truncated to fit)
    assert slim.get("dropped_names"), slim
    assert set(slim["dropped_names"]).isdisjoint(slim["queries"])


def test_many_failures_still_within_budget():
    """The round-4 hole: failures were never trimmed, so 60+ failing
    queries blew the window even after all timings were dropped."""
    result, pq, fl = _mk(10, 80)
    slim = bench.slim_line(result, pq, fl)
    line = bench.encoded(slim)
    assert len(line) <= bench.BUDGET
    parsed = json.loads(line)
    # failure names survive (capped), messages don't
    assert "failures" not in parsed
    assert len(parsed["failed"]) == 20 and parsed["failed_more"] == 60


def test_pathological_mix_falls_back_to_minimal_line():
    result, pq, fl = _mk(500, 500)
    slim = bench.slim_line(result, pq, fl, budget=200)
    line = bench.encoded(slim)
    assert len(line) <= 300  # minimal line is tiny regardless of inputs
    parsed = json.loads(line)
    assert parsed["metric"] == "total_wall_sec"
    assert parsed["n_queries"] == 500 and parsed["n_failures"] == 500


def test_anchors_always_survive():
    result, pq, fl = _mk(150, 0)
    for a in bench.ANCHORS:
        pq[a] = 0.1
    result["queries"] = pq
    slim = bench.slim_line(result, pq, fl)
    assert bench.ANCHORS <= set(slim["queries"])


def test_repeat_kept_small_yields_to_query_breadth_under_pressure():
    """Round-14 reshuffle (VERDICT r13 item 8): the repeat dict rides
    along when the line has room, but under budget pressure it yields to
    per-query coverage — the driver's round-over-round PERF comparison
    reads the `queries` map, and repeats outranking timings capped the
    comparable set at ~45/150. BENCH_FULL.json keeps the repeats."""
    result, pq, fl = _mk(10, 0)
    result["repeat"] = {k: pq[k] + 0.01 for k in list(pq)[:8]}
    slim = bench.slim_line(result, pq, fl)
    assert slim["repeat"] == {
        k: round(v, 2) for k, v in result["repeat"].items()
    }

    result, pq, fl = _mk(200, 0)
    result["repeat"] = {k: pq[k] + 0.01 for k in list(pq)[:8]}
    slim = bench.slim_line(result, pq, fl)
    line = bench.encoded(slim)
    assert len(line) <= bench.BUDGET
    assert "repeat" not in slim
    # The freed budget goes to query timings: strictly more reported
    # names than the repeat-kept shape allowed before.
    assert len(slim["queries"]) > 45  # breadth, not just "fits"


def test_first_call_never_on_the_line():
    """Cold-memo first-call timings are a BENCH_FULL.json-only record."""
    result, pq, fl = _mk(10, 0)
    result["first_call"] = {k: v + 1.0 for k, v in pq.items()}
    slim = bench.slim_line(result, pq, fl)
    assert "first_call" not in slim


def test_sweep_raw_kept_small_dropped_under_pressure():
    """Round-10 carryover hygiene: when the headline map was folded to
    min(sweep, repeat), the raw sweep numbers ride in `sweep_raw` while
    the line has room — and are the FIRST thing dropped when it doesn't
    (BENCH_FULL.json keeps them)."""
    result, pq, fl = _mk(10, 0)
    result["sweep_raw"] = {list(pq)[0]: 9.99}
    slim = bench.slim_line(result, pq, fl)
    assert slim["sweep_raw"] == {list(pq)[0]: 9.99}

    result, pq, fl = _mk(200, 0)
    result["sweep_raw"] = {k: pq[k] + 5 for k in list(pq)[:8]}
    slim = bench.slim_line(result, pq, fl)
    line = bench.encoded(slim)
    assert len(line) <= bench.BUDGET
    assert "sweep_raw" not in slim


def test_calib_compacted_to_host_factors():
    result, pq, fl = _mk(10, 0)
    result["calib"] = {
        "pre": {"passes": [1.2, 1.25, 1.3], "median_sec": 1.25,
                "ref_sec": 1.22, "host_factor": 1.025},
        "post": {"passes": [1.3, 1.35, 1.4], "median_sec": 1.35,
                 "ref_sec": 1.22, "host_factor": 1.107},
    }
    slim = bench.slim_line(result, pq, fl)
    # The line carries only the two host factors; the full pass lists
    # stay in BENCH_FULL.json.
    assert slim["calib"] == {"pre_hf": 1.025, "post_hf": 1.107}
    assert len(bench.encoded(slim)) <= bench.BUDGET
