"""input_sized_partitions: widths sized from on-disk bytes, failing safe to
full fan-out when the size cannot be measured."""

from __future__ import annotations

from koby_s_ai_vector_db_spark.functions.partitioning import input_sized_partitions
from tests.conftest import SF_DIRS

LINEITEM = f"{SF_DIRS['t2']}/lineitem.parquet"


def test_file_uri_sized_like_plain_path(spark):
    """A ``file:`` URI names the same bytes as the bare path, so it must
    get the same width — not the unknown-size fallback."""
    bpp = 4096
    plain = input_sized_partitions(spark, [LINEITEM], bytes_per_partition=bpp)
    assert plain > 1
    assert input_sized_partitions(spark, [f"file:{LINEITEM}"], bpp) == plain
    assert input_sized_partitions(spark, [f"file://{LINEITEM}"], bpp) == plain


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
