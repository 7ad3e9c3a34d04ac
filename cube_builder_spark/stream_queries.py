"""Structured-Streaming scenario query registry — split out of
pipeline_queries.py in round 11 (the module had grown to 5k LoC):
incremental near-dup index maintenance, streaming corpus prep,
streaming token budget, exactly-once sink, late-data watermark
contract. Query names unchanged; the graded window is pinned by
queries._PRIORITY."""

from __future__ import annotations

import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from .tables import load_tables
from .pipeline_queries import (  # shared SQL fragments/helpers
    _GATES_SQL, _LSH_MAX_BUCKET, _SHINGLES_SQL, _docs)
from .tables import local_df
from .queries import register

REGISTRY: list[tuple[str, object, str | None]] = []


@register("x_incremental_near_dup", f"""
WITH {_SHINGLES_SQL},
buckets AS (
  SELECT doc_id, 'b0:' || h0 || h1 AS bucket FROM mh
  UNION ALL
  SELECT doc_id, 'b1:' || h2 || h3 AS bucket FROM mh
),
bsize AS (SELECT bucket, count(*) AS bn FROM buckets GROUP BY bucket),
capped AS (
  SELECT b.doc_id, b.bucket FROM buckets b
  JOIN bsize s ON b.bucket = s.bucket AND s.bn <= {_LSH_MAX_BUCKET}
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM capped a JOIN capped b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
),
jac AS (
  SELECT p.doc_a, p.doc_b,
         len(list_intersect(sa.shingles, sb.shingles)) * 1e0
           / NULLIF(len(list_distinct(sa.shingles || sb.shingles)), 0) AS jaccard
  FROM pairs p
  JOIN sh sa ON sa.doc_id = p.doc_a
  JOIN sh sb ON sb.doc_id = p.doc_b
)
SELECT doc_a, doc_b, jaccard FROM jac WHERE jaccard >= 8e-1
""")
def x_incremental_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dedup against a persisted LSH signature index
    (streaming/neardup.py): arriving batches compare only against the
    index buckets they touch — never corpus×corpus. Driven here as one
    batch into a fresh index, which by construction equals the
    one-shot LSH run, so the incremental machinery hash-checks against
    the same oracle; multi-batch folding (new×history pairs, index
    append, bucket pruning) is covered by tests/test_streaming.py."""
    import shutil

    from .session import scratch_dir
    from .streaming.neardup import update_near_dup_index

    docs = _docs(spark, sf_dir)
    d = scratch_dir("neardup_idx_")
    try:
        return update_near_dup_index(
            spark, docs, d, max_bucket=_LSH_MAX_BUCKET, threshold=0.8)
    finally:
        shutil.rmtree(d, ignore_errors=True)


@register("x_stream_corpus_prep", f"""
WITH {_GATES_SQL}
SELECT content_hash, doc_id, lang, predicted, n_tokens, quality,
       min(doc_id) OVER (PARTITION BY content_hash) AS canonical_id,
       doc_id = min(doc_id) OVER (PARTITION BY content_hash) AS is_canonical,
       CAST(row_number() OVER (PARTITION BY content_hash ORDER BY doc_id) - 1
            AS BIGINT) AS n_seen_before
FROM gated
""")
def x_stream_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming corpus curation (streaming/corpus.py): stateless
    gates + stateful cross-batch exact-dedup ledger, driven over the
    bounded documents table. Single-batch the ledger is
    SQL-expressible (gates + row_number per hash), so this custom
    stateful operator hash-checks like x_stream_dedup; cross-batch
    canonical persistence is covered by tests/test_streaming.py."""
    from .session import scratch_dir
    from .streaming.corpus import corpus_prep_stream
    from .tables import load_tables

    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    d = scratch_dir("stream_prep_")
    docs.select("doc_id", "lang", "text").write.mode("overwrite").parquet(d)
    stream = spark.readStream.schema(
        "doc_id long, lang string, text string").parquet(d)
    q = (corpus_prep_stream(stream).writeStream.outputMode("append")
         .format("memory").queryName("x_stream_prep_out").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table("x_stream_prep_out")


@register("x_stream_token_budget", None)
def x_stream_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-source token-budget enforcement
    (streaming/budget.py) driven over the bounded documents table —
    no SQL oracle (rows-only check): first-fit admission is a
    sequential fold over keyed state, not SQL-expressible. Semantics
    pinned in tests/test_streaming.py against a driver-side reference
    fold, including cross-batch state continuation and the
    skip-then-fit case."""
    from .session import scratch_dir
    from .streaming.budget import token_budget_stream
    from .tables import load_tables

    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    d = scratch_dir("stream_budget_")
    docs.select("doc_id", "source", "text").write.mode("overwrite").parquet(d)
    stream = spark.readStream.schema(
        "doc_id long, source string, text string").parquet(d)
    # budgets sized off the synthetic mixture: named sources tight,
    # long tail loose — both accept and reject paths exercised
    q = (token_budget_stream(stream, {"src0": 400, "src1": 800},
                             default_budget=1000)
         .writeStream.outputMode("append")
         .format("memory").queryName("x_stream_budget_out").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table("x_stream_budget_out")


@register("x_stream_exactly_once", """
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents GROUP BY source
""")
def x_stream_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end exactly-once STREAM → snapshot-store ingestion — the
    Delta idempotent-writer recipe (txnAppId/txnVersion ≙ run_id/
    batch_id) driven through a real Structured Streaming query, not
    just the unit-tested ledger: the documents table streams in 3
    file-source micro-batches (maxFilesPerTrigger=1), each committed
    by ``foreachBatch`` → ``write_stream_batch`` under an explicit
    run_id (the checkpoint-name convention — foreachBatch's cloned
    session may not list the query, snapshot.py:1121). Two batches
    are then RE-DELIVERED (the failure/restart case Structured
    Streaming actually produces) and must be ledger-skipped — asserted
    in-query — so the final table holds every document EXACTLY once
    and the per-source aggregate hash-matches the raw table: the
    oracle would catch both a double-count (replay committed) and a
    drop (live batch skipped).

    Scale shape: each micro-batch commit is one manifest write + one
    parquet append; the replay check is a manifest-tail scan, never a
    data read. The aggregate is batch-split-independent by
    construction, which is what makes a streaming ingest
    oracle-checkable at all."""
    import shutil

    from .session import scratch_dir
    from .sinks.snapshot import SnapshotStore, write_stream_batch
    from .tables import load_tables

    docs = (load_tables(spark, sf_dir, ["documents"])["documents"]
            .select("doc_id", "source",
                    F.col("n_chars").cast("long").alias("n_chars")))
    src = scratch_dir("stream_eo_src_")
    root = scratch_dir("stream_eo_store_")
    try:
        docs.repartition(3).write.mode("overwrite").parquet(src)
        st = SnapshotStore(root)
        run_id = "ckpt-eo-a"
        stream = (spark.readStream
                  .schema("doc_id long, source string, n_chars long")
                  .option("maxFilesPerTrigger", 1).parquet(src))
        q = (stream.writeStream
             .foreachBatch(lambda b, i: write_stream_batch(
                 st, b, i, run_id=run_id))
             .option("checkpointLocation", src + "_ckpt")
             .start())
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        # failure-path replay: re-offer already-committed batch ids
        # under the SAME run — the ledger must skip both (None) —
        # then prove a FRESH run's batch 0 still lands (comparing
        # batch_id alone would wrongly skip restarted streams): the
        # fresh commit carries an EMPTY batch so the exactly-once
        # aggregate the oracle checks is unchanged.
        for replayed in (0, 2):
            if write_stream_batch(st, docs.limit(3), replayed,
                                  run_id=run_id) is not None:
                raise AssertionError(
                    f"replayed batch {replayed} was committed twice")
        if write_stream_batch(st, docs.limit(0), 0,
                              run_id="ckpt-eo-b") is None:
            raise AssertionError("fresh-run batch 0 was wrongly skipped")
        rows = (st.read(spark)
                .groupBy("source")
                .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                     F.sum("n_chars").cast("long").alias("sum_chars"))
                .collect())
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(src + "_ckpt", ignore_errors=True)
        shutil.rmtree(root, ignore_errors=True)
    return local_df(spark,
        rows, "source string, n_docs long, sum_chars long")


@register("x_stream_late_data", """
WITH d AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars FROM documents
  WHERE doc_id < 300
)
SELECT window_start, n, sum_chars FROM (
  SELECT TIMESTAMP '2024-03-01 10:00:00' AS window_start,
         count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
  FROM d WHERE doc_id % 3 = 0 AND doc_id % 7 <> 0
  UNION ALL
  SELECT TIMESTAMP '2024-03-01 11:00:00', count(*),
         CAST(sum(n_chars) AS BIGINT)
  FROM d WHERE doc_id % 3 = 1
  UNION ALL
  SELECT TIMESTAMP '2024-03-01 12:00:00', count(*),
         CAST(sum(n_chars) AS BIGINT)
  FROM d WHERE (doc_id % 3 = 0 AND doc_id % 7 = 0)
     OR (doc_id % 3 = 2 AND doc_id % 7 <> 0 AND doc_id % 2 <> 0)
) ORDER BY window_start
""")
def x_stream_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time WATERMARK semantics under a real Structured
    Streaming run — the late-data contract every streaming engine is
    judged on, pinned end-to-end (streams the documents table through
    3 ordered file-source micro-batches with synthetic event times;
    1-hour tumbling windows, 1-hour watermark, APPEND mode):

    - batch 0 carries on-time 10:xx rows (window W10) plus 12:45
      clock-advancer rows -> watermark becomes 11:45;
    - batch 1 carries 11:30 rows: W11's end 12:00 > 11:45, so these
      are LATE-BUT-ACCEPTED (an engine that filters on raw event time
      < watermark instead of window state wrongly drops them); W10
      (end 11:00 <= 11:45) is emitted and evicted at this batch;
    - batch 2 carries 10:20 rows — W10 is gone, so these MUST be
      DROPPED (numRowsDroppedByWatermark is where Spark counts them;
      note the measured one-batch lag: the late filter applies the
      watermark one batch AFTER eviction starts, so the drop row sits
      two batches after the clock-advance, not one) — plus 12:50 rows
      (join batch 0's 12:45 rows in W12) and 14:30 clock rows ->
      final watermark 13:30 closes W11/W12; the 14:00 window's end
      15:00 exceeds the final watermark so append mode must NEVER
      emit it.

    The oracle recomputes the three emitted windows from the raw
    documents table: counting a dropped row, dropping an accepted
    late row, or emitting the unclosed window all hash-mismatch.
    Batch order is forced by file mtimes (maxFilesPerTrigger=1,
    oldest-first file source); the flush of finalized windows rides
    Spark's no-data micro-batch, which processAllAvailable waits
    for."""
    import glob as _glob
    import os as _os
    import shutil
    import uuid as _uuid

    from .session import scratch_dir

    docs = (_docs(spark, sf_dir)
            .select("doc_id", F.col("n_chars").cast("long").alias("n_chars"))
            .filter(F.col("doc_id") < 300))
    base = "2024-03-01 "
    t = lambda hm: F.to_timestamp(  # noqa: E731
        F.concat(F.lit(base), F.lit(hm)))
    batches = [
        docs.filter(F.col("doc_id") % 3 == 0).select(
            F.when(F.col("doc_id") % 7 == 0, t("12:45:00"))
            .otherwise(F.to_timestamp(F.concat(
                F.lit(base + "10:"),
                F.lpad((F.col("doc_id") % 60).cast("string"), 2, "0"),
                F.lit(":00")))).alias("ts"),
            "n_chars"),
        docs.filter(F.col("doc_id") % 3 == 1).select(
            t("11:30:00").alias("ts"), "n_chars"),
        docs.filter(F.col("doc_id") % 3 == 2).select(
            F.when(F.col("doc_id") % 7 == 0, t("14:30:00"))
            .when(F.col("doc_id") % 2 == 0, t("10:20:00"))
            .otherwise(t("12:50:00")).alias("ts"), "n_chars"),
    ]
    src = scratch_dir("stream_late_src_")
    stage = scratch_dir("stream_late_stage_")
    name = "late_" + _uuid.uuid4().hex[:10]
    try:
        for i, b in enumerate(batches):
            sub = _os.path.join(stage, f"b{i}")
            b.coalesce(1).write.mode("overwrite").parquet(sub)
            part = _glob.glob(_os.path.join(sub, "part-*.parquet"))[0]
            dst = _os.path.join(src, f"b{i}.parquet")
            shutil.copyfile(part, dst)
            _os.utime(dst, (1_000_000 + i * 1000, 1_000_000 + i * 1000))
        stream = (spark.readStream.schema("ts timestamp, n_chars long")
                  .option("maxFilesPerTrigger", 1)
                  .option("latestFirst", "false").parquet(src))
        agg = (stream.withWatermark("ts", "1 hour")
               .groupBy(F.window("ts", "1 hour").alias("w"))
               .agg(F.count(F.lit(1)).alias("n"),
                    F.sum("n_chars").cast("long").alias("sum_chars"))
               .select(F.col("w.start").alias("window_start"),
                       "n", "sum_chars"))
        q = (agg.writeStream.outputMode("append")
             .format("memory").queryName(name)
             .option("checkpointLocation", src + "_ckpt")
             .start())
        try:
            q.processAllAvailable()
            n_dropped = sum(
                st.get("numRowsDroppedByWatermark", 0)
                for p in q.recentProgress for st in p["stateOperators"])
        finally:
            # stop BEFORE the outer finally deletes the source and
            # checkpoint dirs out from under a still-active query
            q.stop()
        # the counter tallies POST-partial-aggregate rows (the 10:20
        # input rows map-side-combine into one partial per partition
        # before the state operator), so pin engagement, not the
        # input-row count — the hash pins the exact row effect
        if n_dropped < 1:
            raise AssertionError(
                "watermark drop path never engaged "
                f"(numRowsDroppedByWatermark={n_dropped})")
        # collect() yields host-local naive datetimes and local_df reads
        # naive as UTC: make them aware so any host keeps the instant
        rows = [(r["window_start"].astimezone(datetime.timezone.utc),
                 r["n"], r["sum_chars"])
                for r in spark.table(name).collect()]
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(stage, ignore_errors=True)
        shutil.rmtree(src + "_ckpt", ignore_errors=True)
    return (local_df(spark,
        rows, "window_start timestamp, n long, sum_chars long")
        .orderBy("window_start"))
