"""input_sized_partitions: widths sized from on-disk bytes, failing safe to
full fan-out when the size cannot be measured; spread(): the probed input
width is memoized per plan."""

from __future__ import annotations

from koby_s_ai_vector_db_spark.functions.caching import (
    evict_application,
    memo,
    memo_keys,
)
from koby_s_ai_vector_db_spark.functions.partitioning import (
    _total_bytes,
    input_sized_partitions,
    spread,
)
from tests.conftest import SF_DIRS

LINEITEM = f"{SF_DIRS['t2']}/lineitem.parquet"


def test_file_uri_sized_like_plain_path(spark):
    """A ``file:`` URI names the same bytes as the bare path, so it must
    get the same width — not the unknown-size fallback."""
    plain = _total_bytes([LINEITEM])
    assert plain > 0
    assert _total_bytes([f"file:{LINEITEM}"]) == plain
    assert _total_bytes([f"file://{LINEITEM}"]) == plain
    full = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert full > 1
    for p in (LINEITEM, f"file:{LINEITEM}", f"file://{LINEITEM}"):
        assert input_sized_partitions(spark, [p]) == 1


def test_unknown_size_falls_back_to_full_fan_out(spark, tmp_path):
    """Missing, empty or non-local inputs measure 0 bytes; the layout then
    takes the session's shuffle width instead of collapsing to one
    partition."""
    full = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert full > 1
    for paths in (
        [str(tmp_path / "missing.parquet")],
        [str(tmp_path)],
        ["hdfs://namenode/warehouse/lineitem.parquet"],
    ):
        assert input_sized_partitions(spark, paths) == full


def test_small_known_size_keeps_one_partition(spark):
    """A measured fixture-sized input still gets the narrow layout."""
    assert input_sized_partitions(spark, [LINEITEM]) == 1


def test_spread_width_memo_consistent_and_cached(spark):
    # One input partition: an honest probe would repartition it, so only a
    # memo read of the poisoned width below keeps it at one.
    df = spark.range(0, 1000, 1, 1)
    evict_application(spark)
    s1 = spread(df)
    key_added = memo_keys(spark)
    # The probe result must actually be STORED under the plan's key
    # (ADVICE r13: the old <=1 assertion also held with memoization
    # completely broken).
    assert len(key_added) == 1, "first spread() must add exactly one entry"
    assert s1.rdd.getNumPartitions() > 1, "the honest probe repartitions"
    # Poison the memo: if the second call re-probed instead of hitting
    # the memo, it would see the true width and make the true decision —
    # with the poisoned width >= defaultParallelism it must NOT
    # repartition, proving the stored value was read, not recomputed.
    sc = df.sparkSession.sparkContext
    evict_application(spark)
    memo(spark, key_added[0], lambda: sc.defaultParallelism + 1000)
    try:
        s2 = spread(spark.range(0, 1000, 1, 1))  # semantically identical plan
        assert s2.rdd.getNumPartitions() == df.rdd.getNumPartitions(), (
            "second spread() must consume the memoized width (no re-probe)"
        )
    finally:
        evict_application(spark)
    # Re-probe the honest width and confirm the decision is consistent.
    s1b = spread(spark.range(0, 1000, 1, 1))
    assert s1.rdd.getNumPartitions() == s1b.rdd.getNumPartitions()
