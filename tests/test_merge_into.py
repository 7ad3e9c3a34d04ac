"""Row-level MERGE INTO on partitioned parquet: Delta-MERGE semantics
(update matched / insert new / keep rest) with partition-pruned reads
and dynamic-overwrite writes (reference upsert: processing.py:76-98,
maestro.py:344-420)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from cube_builder_spark.sinks.merge import merge_into_parquet
from cube_builder_spark.tables import local_df

SCHEMA = "region string, k long, v string, n long"


def _rows(spark, path):
    df = spark.read.parquet(path).select("region", "k", "v", "n")
    return sorted((r.region, r.k, r.v, r.n) for r in df.collect())


def test_merge_update_insert_keep(spark, tmp_path):
    path = str(tmp_path / "t")
    target = local_df(spark,
        [("a", 1, "old1", 10), ("a", 2, "old2", 20), ("b", 3, "old3", 30)],
        SCHEMA)
    res = merge_into_parquet(spark, path, target, keys=["region", "k"],
                             partition_cols=["region"])
    assert res["created"]

    source = local_df(spark,
        [("a", 2, "new2", 200),      # matched -> update
         ("a", 9, "ins9", 900)],     # unmatched -> insert
        SCHEMA)
    res = merge_into_parquet(spark, path, source, keys=["region", "k"],
                             partition_cols=["region"])
    assert res == {"created": False, "touched_partitions": 1}
    assert _rows(spark, path) == [
        ("a", 1, "old1", 10), ("a", 2, "new2", 200),
        ("a", 9, "ins9", 900), ("b", 3, "old3", 30)]


def test_merge_touches_only_source_partitions(spark, tmp_path):
    path = str(tmp_path / "t")
    target = local_df(spark,
        [("a", 1, "x", 1), ("b", 2, "y", 2), ("c", 3, "z", 3)], SCHEMA)
    merge_into_parquet(spark, path, target, ["region", "k"], ["region"])

    def listing(region):
        d = os.path.join(path, f"region={region}")
        return sorted(os.listdir(d))

    before_b, before_c = listing("b"), listing("c")
    source = local_df(spark, [("a", 1, "x2", 11)], SCHEMA)
    merge_into_parquet(spark, path, source, ["region", "k"], ["region"])
    assert listing("b") == before_b and listing("c") == before_c
    assert ("a", 1, "x2", 11) in _rows(spark, path)


def test_merge_unpartitioned_table(spark, tmp_path):
    path = str(tmp_path / "dim")
    merge_into_parquet(
        spark, path,
        local_df(spark, [("a", 1, "x", 1)], SCHEMA), ["k"])
    merge_into_parquet(
        spark, path,
        local_df(spark, [("a", 1, "x2", 2), ("b", 7, "w", 7)], SCHEMA),
        ["k"])
    assert _rows(spark, path) == [("a", 1, "x2", 2), ("b", 7, "w", 7)]


def test_merge_is_idempotent(spark, tmp_path):
    path = str(tmp_path / "t")
    df = local_df(spark, [("a", 1, "x", 1), ("b", 2, "y", 2)], SCHEMA)
    for _ in range(3):
        merge_into_parquet(spark, path, df, ["region", "k"], ["region"])
    assert _rows(spark, path) == [("a", 1, "x", 1), ("b", 2, "y", 2)]


def test_merge_rejects_duplicate_source_keys(spark, tmp_path):
    """Duplicate non-NULL key tuples in the source must be rejected
    before any write (the full-outer join would emit one row per
    duplicate -> two live rows for one identity); nothing on disk
    changes."""
    import pytest

    path = str(tmp_path / "dup_tbl")
    target = local_df(spark, [("r1", 1, "a")],
                      "region string, k long, v string")
    merge_into_parquet(spark, path, target, keys=["region", "k"],
                       partition_cols=["region"])
    before = sorted(map(tuple, spark.read.parquet(path).collect()))

    dup = local_df(spark, [("r1", 1, "x"), ("r1", 1, "y")],
                   "region string, k long, v string")
    with pytest.raises(ValueError, match="duplicate key tuples"):
        merge_into_parquet(spark, path, dup, keys=["region", "k"],
                           partition_cols=["region"])
    after = sorted(map(tuple, spark.read.parquet(path).collect()))
    assert after == before
