"""Execution-metrics introspection: scan rows, shuffle volume, spill,
and the per-query recorder."""

from __future__ import annotations

import dataclasses

import pytest
from pyspark.sql import functions as F

from cube_builder_spark.metrics import (Record, collect_metrics,
                                        metric_total, record, shuffle_bytes,
                                        spill_bytes)
from cube_builder_spark.tables import load_tables


def test_scan_rows_metric_matches_count(spark, sf_dir):
    orders = load_tables(spark, sf_dir, ["orders"])["orders"]
    n = orders.count()
    agg = orders.groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n"))
    agg.collect()   # metrics populate after execution
    scanned = metric_total(agg, "numOutputRows", "Scan")
    assert scanned == n


def test_shuffle_and_spill_metrics(spark, sf_dir):
    t = load_tables(spark, sf_dir, ["lineitem", "orders"])
    j = (t["lineitem"].join(t["orders"],
                            F.col("l_orderkey") == F.col("o_orderkey"))
         .groupBy("o_orderstatus")
         .agg(F.count(F.lit(1)).alias("n")))
    j.collect()
    rows = collect_metrics(j)
    assert rows and all(isinstance(m["value"], int) for m in rows)
    # a shuffle join must report shuffle volume; nothing here should spill
    assert shuffle_bytes(j) > 0
    assert spill_bytes(j) == 0


def test_broadcast_join_reports_no_big_shuffle(spark, sf_dir):
    t = load_tables(spark, sf_dir, ["lineitem", "nation"])
    j = (t["lineitem"]
         .join(F.broadcast(t["nation"]),
               F.col("l_suppkey") % 25 == F.col("n_nationkey"))
         .agg(F.count(F.lit(1)).alias("n")))
    j.collect()
    # broadcast join: shuffle volume limited to the final 1-row agg
    assert shuffle_bytes(j) < 1 << 16


# --- metrics.record: the one per-query recorder ----------------------------

def _checkpointed(spark):
    return spark.range(0, 64, 1, 4).localCheckpoint(eager=True)


def test_record_schema_and_phase_job_counts(spark):
    assert [f.name for f in dataclasses.fields(Record)
            if not f.name.startswith("_")] == [
        "result", "construct_s", "action_s", "construct_jobs",
        "action_jobs", "compiles"]
    rec = record(spark, "test_record_schema", lambda: _checkpointed(spark),
                 lambda df: df.collect())
    assert rec.construct_jobs == 1
    assert rec.action_jobs >= 1
    assert len(rec.result) == 64
    assert rec.construct_s > 0 and rec.action_s > 0 and rec.compiles >= 0
    assert rec.plans()
    built = record(spark, "test_record_no_action", lambda: _checkpointed(spark))
    assert (built.action_s, built.action_jobs) == (0.0, 0)
    assert built.result.count() == 64


def test_record_clears_the_job_group_when_the_build_raises(spark):
    def build():
        raise ValueError("boom")
    with pytest.raises(ValueError):
        record(spark, "test_record_raises", build)
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None


def test_second_record_under_one_name_counts_only_its_own_jobs(spark):
    first = record(spark, "test_record_twice", lambda: _checkpointed(spark),
                   lambda df: df.collect())
    second = record(spark, "test_record_twice", lambda: _checkpointed(spark))
    assert first.construct_jobs == second.construct_jobs == 1
    assert second.action_jobs == 0
