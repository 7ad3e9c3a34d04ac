"""Snapshot-store (storage-plane) query registry — split out of
pipeline_queries.py in round 11 (the module had grown to 5k LoC):
time travel, compaction, partition/schema evolution, deletion
vectors, CDC + replication, branches, WAP, OCC, SCD2 dimension,
shallow clone, timestampAsOf, incremental scan, row/column
policies, expire+vacuum, metadata-only aggregation. Query names
unchanged; the graded window is pinned by queries._PRIORITY."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from .tables import load_tables
from .functions.numeric import round_half_up_long
from .pipeline_queries import (  # shared SQL fragments/helpers
    _docs)
from .tables import local_df
from .queries import register

REGISTRY: list[tuple[str, object, str | None]] = []


@register("x_snapshot_time_travel", """
WITH ev AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars
            FROM documents WHERE doc_id % 2 = 0),
od AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars
       FROM documents WHERE doc_id % 2 = 1),
allv AS (SELECT * FROM ev UNION ALL SELECT * FROM od),
after_del AS (SELECT * FROM allv
              WHERE NOT (doc_id % 10 = 0 AND doc_id < 1000))
SELECT 'v1_even' AS label, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars FROM ev
UNION ALL
SELECT 'v2_all', count(*), CAST(sum(n_chars) AS BIGINT) FROM allv
UNION ALL
SELECT 'v3_after_delete', count(*), CAST(sum(n_chars) AS BIGINT)
FROM after_del
UNION ALL
SELECT 'v1_time_travel', count(*), CAST(sum(n_chars) AS BIGINT) FROM ev
""")
def x_snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded snapshot-store lifecycle (sinks/snapshot.py — previously
    unit-only): append two versions, delete a key set (stat-pruned
    file rewrite), then read each version INCLUDING time-traveling
    back to v1 after later commits exist. The oracle recomputes every
    version's aggregate from the raw table and the same modular
    rules, so a hash match proves manifest isolation: later commits
    and deletes never leak into an earlier version's read."""
    import shutil

    from .session import scratch_dir
    from .sinks.snapshot import SnapshotStore, delete_keys

    docs = _docs(spark, sf_dir).select(
        "doc_id", F.col("n_chars").cast("long").alias("n_chars"))
    root = scratch_dir("snap_q_")
    try:
        st = SnapshotStore(root)
        st.write(docs.filter(F.col("doc_id") % 2 == 0))          # v1
        st.write(docs.filter(F.col("doc_id") % 2 == 1))          # v2
        # bounded key list: the delete targets are enumerable ids
        keys = list(range(0, 1000, 10))
        delete_keys(st, spark, keys, "doc_id")                   # v3

        def agg(df, label):
            return df.agg(
                F.lit(label).alias("label"),
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_chars").cast("long").alias("sum_chars"))

        out = (agg(st.read(spark, 1), "v1_even")
               .unionByName(agg(st.read(spark, 2), "v2_all"))
               .unionByName(agg(st.read(spark, 3), "v3_after_delete"))
               .unionByName(agg(st.read(spark, 1), "v1_time_travel")))
        rows = out.collect()                  # materialize BEFORE rmtree
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return local_df(spark,
        rows, "label string, n_docs long, sum_chars long")


@register("x_compact_roundtrip", """
SELECT count(*) AS n_docs,
       CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS sum_chars,
       TRUE AS files_reduced,
       TRUE AS second_pass_stable
FROM documents
""")
def x_compact_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded small-file compaction (sinks/compact.py — previously
    unit-only): write the documents table deliberately fragmented
    (16 tiny files per partition), compact, and verify (a) the data
    aggregate is byte-identical to the source, (b) the file count
    actually dropped, (c) an immediate second compaction pass changes
    nothing (idempotence — and with the round-5 fix, never clobbers a
    prior run's surviving outputs)."""
    import os as _os
    import shutil

    from .session import scratch_dir
    from .sinks.compact import compact

    docs = _docs(spark, sf_dir).select(
        "doc_id", F.col("n_chars").cast("long").alias("n_chars"),
        (F.col("doc_id") % 4).alias("grp"))
    root = scratch_dir("compact_q_")
    try:
        (docs.repartition(16)
         .write.mode("overwrite").partitionBy("grp").parquet(root))

        def n_files():
            return sum(
                1 for dp, _d, fs in _os.walk(root) for f in fs
                if f.endswith(".parquet") and not f.startswith("."))

        before = n_files()
        compact(spark, root, target_bytes=1 << 30)
        after = n_files()
        plans2 = compact(spark, root, target_bytes=1 << 30)
        stable = (len(plans2) == 0) and (n_files() == after)
        row = (spark.read.parquet(root)
               .agg(F.count(F.lit(1)).alias("n_docs"),
                    F.sum("n_chars").cast("long").alias("sum_chars"))
               .collect()[0])
        result = [(int(row.n_docs), int(row.sum_chars),
                   bool(after < before), bool(stable))]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return local_df(spark,
        result,
        "n_docs long, sum_chars long, files_reduced boolean, "
        "second_pass_stable boolean")


@register("x_partition_evolution", """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS value_cents
FROM events
WHERE ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-20'
GROUP BY event_type
""")
def x_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hidden partitioning + partition-spec EVOLUTION (Iceberg-style,
    sinks/snapshot.PartitionedStore): half the events table is
    committed under a day(ts) spec, the spec evolves to month(ts) —
    pure metadata, no rewrite — and the other half lands under it;
    a pruned read for a 10-day window then judges every file under
    the spec it was written with and the exact predicate runs on the
    survivors. The oracle recomputes the same window straight from
    the raw table, so a hash match proves cross-spec pruning loses
    nothing (file-skip effectiveness itself is pinned in
    tests/test_snapshot.py)."""
    import datetime
    import shutil

    from .session import scratch_dir
    from .sinks.snapshot import PartitionedStore, SnapshotStore

    ev = load_tables(spark, sf_dir, ["events"])["events"] \
        .select("event_id", "ts", "event_type", "value")
    root = scratch_dir("snap_spec_")
    lo = datetime.datetime(2024, 1, 10)
    hi = datetime.datetime(2024, 1, 20)
    try:
        ps = PartitionedStore(SnapshotStore(root))
        ps.set_partition_spec("day", "ts")
        ps.write(ev.filter(F.col("event_id") % 2 == 0))
        ps.set_partition_spec("month", "ts")
        ps.write(ev.filter(F.col("event_id") % 2 == 1), mode="append")
        pruned, _kept, _total = ps.read_pruned(spark, "ts", lo, hi)
        rows = (pruned
                .filter((F.col("ts") >= F.lit(lo)) & (F.col("ts") < F.lit(hi)))
                .groupBy("event_type")
                .agg(F.count(F.lit(1)).alias("n_events"),
                     F.sum(round_half_up_long(F.col("value"), 100))
                     .alias("value_cents"))).collect()
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return local_df(spark,
        rows, "event_type string, n_events long, value_cents long")


@register("x_snapshot_cdc", """
WITH v1 AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars
  FROM documents WHERE doc_id % 3 <> 0
),
v2 AS (
  SELECT doc_id,
         CAST(CASE WHEN doc_id % 7 = 0 THEN n_chars + 5
                   ELSE n_chars END AS BIGINT) AS n_chars
  FROM documents WHERE doc_id % 2 = 0
)
SELECT CASE WHEN a.doc_id IS NULL THEN 'added'
            WHEN b.doc_id IS NULL THEN 'removed'
            ELSE 'changed' END AS change,
       coalesce(a.doc_id, b.doc_id) AS doc_id
FROM v1 a FULL JOIN v2 b ON a.doc_id = b.doc_id
WHERE a.doc_id IS NULL OR b.doc_id IS NULL
   OR a.n_chars <> b.n_chars
""")
def x_snapshot_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded change-data-feed (sinks/snapshot.snapshot_diff —
    previously unit-only): publish v1, overwrite with a v2 that drops,
    adds AND mutates rows, then diff the two snapshot versions. The
    oracle recomputes added/removed/changed from the same modular
    rules, so a hash match proves the version reads feeding the diff
    are isolated AND the one-full-outer-join classification is exact
    (the reprocessing-review tool: 'what did version N+1 change?')."""
    import shutil

    from .session import scratch_dir
    from .sinks.snapshot import SnapshotStore, snapshot_diff

    docs = _docs(spark, sf_dir).select(
        "doc_id", F.col("n_chars").cast("long").alias("n_chars"))
    root = scratch_dir("snap_cdc_")
    try:
        st = SnapshotStore(root)
        st.write(docs.filter(F.col("doc_id") % 3 != 0))          # v1
        st.write(                                                # v2
            docs.filter(F.col("doc_id") % 2 == 0)
                .withColumn("n_chars",
                            F.when(F.col("doc_id") % 7 == 0,
                                   F.col("n_chars") + 5)
                            .otherwise(F.col("n_chars"))),
            mode="overwrite")
        rows = snapshot_diff(st, spark, 1, 2, ["doc_id"]).collect()
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return local_df(spark, rows, "change string, doc_id long")


@register("x_deletion_vectors", """
WITH base AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars FROM documents
  WHERE doc_id < 2000
),
live3 AS (SELECT * FROM base
          WHERE NOT (doc_id % 7 = 0 AND doc_id < 200)),
reins AS (SELECT doc_id, n_chars + 100000 AS n_chars
          FROM base WHERE doc_id % 21 = 0 AND doc_id < 200),
live4 AS (SELECT * FROM live3 UNION ALL SELECT * FROM reins),
live5 AS (SELECT * FROM live3
          UNION ALL
          SELECT * FROM reins WHERE doc_id % 42 <> 0),
views AS (
  SELECT 'v2_all' AS label, count(*) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS sum_chars FROM base
  UNION ALL
  SELECT 'v3_after_dv', count(*), CAST(sum(n_chars) AS BIGINT) FROM live3
  UNION ALL
  SELECT 'v4_reinsert', count(*), CAST(sum(n_chars) AS BIGINT) FROM live4
  UNION ALL
  SELECT 'v5_second_dv', count(*), CAST(sum(n_chars) AS BIGINT) FROM live5
  UNION ALL
  SELECT 'v6_materialized', count(*), CAST(sum(n_chars) AS BIGINT)
  FROM live5
  UNION ALL
  SELECT 'v2_time_travel', count(*), CAST(sum(n_chars) AS BIGINT) FROM base
)
SELECT label, n_docs, sum_chars,
       TRUE AS mor_files_unchanged, TRUE AS materialize_pruned
FROM views
""")
def x_deletion_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE via equality-delete sidecars
    (sinks/snapshot.delete_keys_mor / materialize_deletes — the Delta
    deletion-vector / Iceberg equality-delete trade the reference's
    in-place COG overwrite cannot express): append two versions, MoR-
    delete doc_id%7==0 (commit touches ZERO data files —
    ``mor_files_unchanged`` pins that), re-append modified rows for
    doc_id%21==0 (the sequence rule must let them survive the earlier
    delete), stack a second delete for doc_id%42==0 (kills half the
    re-inserts), then MATERIALIZE (footer-pruned fold —
    ``materialize_pruned`` pins that some files carried over by
    reference). The oracle recomputes every view from the raw table,
    so a hash match proves the sequence semantics, the stacked-delete
    anti-joins, the fold equivalence AND time-travel isolation.

    Graded-cost trim (round-9 verdict task 4): the scenario runs on
    the doc_id < 2000 slice — every semantic it grades (deletes hit
    doc_id < 200, range-clustered upper files carry over un-rewritten,
    sequence-rule re-inserts, stacked DVs, fold) is unchanged, and the
    oracle slices identically so the hash check stays full-value. The
    cost left is the 7 commits + 6 snapshot reads themselves, which IS
    the operator being graded."""
    import shutil

    from .session import scratch_dir
    from .sinks.snapshot import (SnapshotStore, delete_keys_mor,
                                 materialize_deletes)

    # eager cut of the graded slice (bounded: < 2000 rows, 2 ints/row)
    # — five consumers (two range-clustered writes, two MoR delete-key
    # frames, one re-insert write) each re-ran the documents parquet
    # scan + filter; the scenario's cost should be the 7 commits + 6
    # snapshot reads it grades, not five re-derivations of the input
    docs = _docs(spark, sf_dir).select(
        "doc_id", F.col("n_chars").cast("long").alias("n_chars")) \
        .filter(F.col("doc_id") < 2000).localCheckpoint(eager=True)
    root = scratch_dir("snap_dv_")
    try:
        st = SnapshotStore(root)
        # range-clustered files make the materialize footer-prune real:
        # the deletes target doc_id < 200, so upper-range files carry
        # over by reference (the z-order/cluster + DV interplay at
        # 100 TB: a GDPR delete folds by rewriting O(keys) files)
        st.write(docs.filter(F.col("doc_id") % 2 == 0)
                 .repartitionByRange(4, "doc_id"))               # v1
        v2 = st.write(docs.filter(F.col("doc_id") % 2 == 1)
                      .repartitionByRange(4, "doc_id"))          # v2
        pre_files = st._read_manifest(v2)["files"]
        tgt = (F.col("doc_id") % 7 == 0) & (F.col("doc_id") < 200)
        v3 = delete_keys_mor(
            st, spark, docs.filter(tgt).select("doc_id"), ["doc_id"])
        unchanged = st._read_manifest(v3)["files"] == pre_files
        v4 = st.write(docs.filter((F.col("doc_id") % 21 == 0)
                                  & (F.col("doc_id") < 200))
                      .withColumn("n_chars",
                                  F.col("n_chars") + 100000))    # v4
        v5 = delete_keys_mor(
            st, spark, docs.filter((F.col("doc_id") % 42 == 0)
                                   & (F.col("doc_id") < 200))
            .select("doc_id"), ["doc_id"])
        n_before = len(st._read_manifest(v5)["files"])
        v6, n_rewritten = materialize_deletes(st, spark)
        pruned = 0 < n_rewritten < n_before

        def agg(df, label):
            return df.agg(
                F.lit(label).alias("label"),
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_chars").cast("long").alias("sum_chars"))

        out = (agg(st.read(spark, v2), "v2_all")
               .unionByName(agg(st.read(spark, v3), "v3_after_dv"))
               .unionByName(agg(st.read(spark, v4), "v4_reinsert"))
               .unionByName(agg(st.read(spark, v5), "v5_second_dv"))
               .unionByName(agg(st.read(spark, v6), "v6_materialized")))
        rows = [(r.label, r.n_docs, r.sum_chars, unchanged, pruned)
                for r in out.collect()]
        # time-travel row: the v2_all branch above ALREADY reads v2
        # lazily at this collect — after the MoR deletes, the
        # re-insert and the materialize have all committed — so the
        # isolation proof is that same read; emit its aggregate under
        # the second label instead of running the identical snapshot
        # read twice (the two branches were bytewise the same subtree).
        # Source row looked up BY LABEL (r14 ADVICE): positional
        # rows[0] would silently mislabel if a branch were reordered.
        v2_row = next(r for r in rows if r[0] == "v2_all")
        rows.append(("v2_time_travel", v2_row[1], v2_row[2],
                     unchanged, pruned))
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return local_df(spark,
        rows, "label string, n_docs long, sum_chars long, "
              "mor_files_unchanged boolean, materialize_pruned boolean")


@register("x_snapshot_merge", """
WITH base AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars FROM documents
),
upd AS (
  SELECT doc_id, n_chars + 100000 AS n_chars
  FROM base WHERE doc_id % 5 = 0 AND doc_id < 300
),
news AS (
  SELECT doc_id + 1000000 AS doc_id, n_chars
  FROM base WHERE doc_id % 50 = 0
),
merged AS (
  SELECT * FROM base
  WHERE NOT (doc_id % 5 = 0 AND doc_id < 300)
  UNION ALL SELECT * FROM upd
  UNION ALL SELECT * FROM news
),
views AS (
  SELECT 'v2_all' AS label, count(*) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS sum_chars FROM base
  UNION ALL
  SELECT 'v3_merged', count(*), CAST(sum(n_chars) AS BIGINT) FROM merged
  UNION ALL
  SELECT 'v2_time_travel', count(*), CAST(sum(n_chars) AS BIGINT) FROM base
)
SELECT label, n_docs, sum_chars, TRUE AS merge_pruned FROM views
""")
def x_snapshot_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write MERGE upsert as a snapshot commit
    (sinks/snapshot.merge_upsert — Delta's MERGE strategy over the
    manifest log): append two range-clustered versions, then one merge
    batch mixing UPDATES (existing keys, mutated payload) and INSERTS
    (brand-new keys); the footer-pruned rewrite touches only files
    that can hold a matched key (``merge_pruned`` pins that some
    carried over by reference), the whole merge is ONE atomic commit,
    and time travel back to the pre-merge version is unchanged. The
    oracle recomputes every view from the raw table."""
    import shutil

    from .session import scratch_dir
    from .sinks.snapshot import SnapshotStore, merge_upsert

    docs = _docs(spark, sf_dir).select(
        "doc_id", F.col("n_chars").cast("long").alias("n_chars"))
    root = scratch_dir("snap_mg_")
    try:
        st = SnapshotStore(root)
        st.write(docs.filter(F.col("doc_id") % 2 == 0)
                 .repartitionByRange(4, "doc_id"))               # v1
        v2 = st.write(docs.filter(F.col("doc_id") % 2 == 1)
                      .repartitionByRange(4, "doc_id"))          # v2
        upd = (docs.filter((F.col("doc_id") % 5 == 0)
                           & (F.col("doc_id") < 300))
               .withColumn("n_chars", F.col("n_chars") + 100000))
        news = (docs.filter(F.col("doc_id") % 50 == 0)
                .select((F.col("doc_id") + 1000000).alias("doc_id"),
                        "n_chars"))
        n_before = len(st._read_manifest(v2)["files"])
        v3, n_rewritten = merge_upsert(st, spark,
                                       upd.unionByName(news), "doc_id")
        pruned = 0 < n_rewritten < n_before

        def agg(df, label):
            return df.agg(
                F.lit(label).alias("label"),
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_chars").cast("long").alias("sum_chars"))

        out = (agg(st.read(spark, v2), "v2_all")
               .unionByName(agg(st.read(spark, v3), "v3_merged"))
               .unionByName(agg(st.read(spark, v2), "v2_time_travel")))
        rows = [(r.label, r.n_docs, r.sum_chars, pruned)
                for r in out.collect()]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return local_df(spark,
        rows, "label string, n_docs long, sum_chars long, "
              "merge_pruned boolean")


@register("x_snapshot_branch", """
WITH ev AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars
            FROM documents WHERE doc_id % 2 = 0),
od AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars
       FROM documents WHERE doc_id % 2 = 1 AND doc_id < 1000),
merged AS (SELECT * FROM ev UNION ALL SELECT * FROM od)
SELECT 'main_before' AS label, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars FROM ev
UNION ALL
SELECT 'branch_view', count(*), CAST(sum(n_chars) AS BIGINT) FROM merged
UNION ALL
SELECT 'main_after_merge', count(*), CAST(sum(n_chars) AS BIGINT)
FROM merged
""")
def x_snapshot_branch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Branch/merge lifecycle of the snapshot store (round 8 —
    sinks/snapshot.py refs.json, the Nessie/Iceberg named-ref
    recipe): publish evens on main, branch, append the odd slice ON
    THE BRANCH, prove main is isolated, then fast-forward merge and
    prove main now carries both. The oracle recomputes each view from
    the raw table, so a hash match proves branch isolation AND merge
    visibility, not just row counts. Divergence rejection, expire
    protection and vacuum safety are pinned in tests/test_snapshot.py."""
    import shutil

    from .session import scratch_dir
    from .sinks.snapshot import SnapshotStore
    from .tables import load_tables

    docs = load_tables(spark, sf_dir, ["documents"]) \
        ["documents"].select("doc_id", F.col("n_chars").cast("long"))
    root = scratch_dir("snap_branch_")
    rows = []
    try:
        st = SnapshotStore(root)
        st.write(docs.filter(F.col("doc_id") % 2 == 0))
        st.create_branch("rework")
        st.write(docs.filter((F.col("doc_id") % 2 == 1)
                             & (F.col("doc_id") < 1000)),
                 branch="rework")
        agg = lambda df: df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_chars").cast("long").alias("s")).collect()[0]
        mb = agg(st.read(spark))                      # branch invisible
        bv = agg(st.read(spark, branch="rework"))
        st.merge_branch("rework")
        ma = agg(st.read(spark))                      # now visible
        rows = [("main_before", mb.n, mb.s), ("branch_view", bv.n, bv.s),
                ("main_after_merge", ma.n, ma.s)]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return local_df(spark,
        rows, "label string, n_docs long, sum_chars long")


@register("x_metadata_agg", """
WITH live AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars FROM documents
  WHERE (doc_id % 3 <> 0 OR doc_id % 6 = 0) AND doc_id >= 20
),
s AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM live)
SELECT 'doc_id' AS col_name, s.n_rows, CAST(0 AS BIGINT) AS n_nulls,
       (SELECT min(doc_id) FROM live) AS min_val,
       (SELECT max(doc_id) FROM live) AS max_val
FROM s
UNION ALL
SELECT 'n_chars', s.n_rows, CAST(0 AS BIGINT),
       (SELECT min(n_chars) FROM live),
       (SELECT max(n_chars) FROM live)
FROM s
""")
def x_metadata_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-ONLY aggregation over the snapshot store
    (sinks/snapshot.metadata_stats): two appends build the live set,
    a targeted delete rewrites only its stat-touched files, then
    count(*) + min/max/null-count for (doc_id, n_chars) are resolved
    ENTIRELY from parquet footers of the final manifest — zero data
    bytes scanned. This is Iceberg's metadata-table / Delta's
    count(*)-from-stats fast path: at 100 TB the answer is a
    manifest-sized footer walk, not a table scan. The oracle
    recomputes the same statistics from the raw table with the same
    modular predicates, so a hash match proves the footer-derived
    stats are EXACT across append + delete — i.e. the store's
    immutable-file + rewrite-on-delete invariants really do keep
    footers authoritative for the live rows."""
    import shutil

    from .session import scratch_dir
    from .sinks.snapshot import SnapshotStore, delete_keys, metadata_stats

    docs = _docs(spark, sf_dir).select(
        "doc_id", F.col("n_chars").cast("long").alias("n_chars"))
    root = scratch_dir("snap_meta_")
    try:
        st = SnapshotStore(root)
        st.write(docs.filter(F.col("doc_id") % 3 != 0))
        st.write(docs.filter((F.col("doc_id") % 3 == 0)
                             & (F.col("doc_id") % 2 == 0)))
        delete_keys(st, spark, list(range(20)), "doc_id")
        rows = metadata_stats(st, spark, ["doc_id", "n_chars"]).collect()
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return local_df(spark,
        rows, "col_name string, n_rows long, n_nulls long, "
              "min_val long, max_val long")


@register("x_schema_evolution", """
WITH v1 AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars
  FROM documents WHERE doc_id % 2 = 0
),
v2 AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
         CAST(length(text) % 100 AS BIGINT) AS quality
  FROM documents WHERE doc_id % 2 = 1
),
unioned AS (
  SELECT doc_id, n_chars, CAST(NULL AS BIGINT) AS quality FROM v1
  UNION ALL SELECT doc_id, n_chars, quality FROM v2
)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(count(quality) AS BIGINT) AS n_with_quality,
       CAST(sum(quality) AS BIGINT) AS sum_quality
FROM unioned
""")
def x_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read, driver-graded: commit a generation
    without the `quality` column, commit a second generation WITH it,
    then read the live snapshot with the store's merged-schema read
    (sinks/snapshot.read_merged_schema — mergeSchema scoped to the
    manifest's file list, the Delta/Iceberg add-column semantics the
    reference's fixed COG band set cannot express). Old-generation
    rows surface NULL for the added column; the oracle recomputes the
    union from the raw table, so the hash match proves both the
    evolution semantics and that no generation was dropped or
    double-read."""
    from .session import scratch_dir
    from .sinks.snapshot import SnapshotStore, read_merged_schema

    docs = _docs(spark, sf_dir)
    v1 = (docs.filter(F.col("doc_id") % 2 == 0)
          .select("doc_id", F.col("n_chars").cast("long").alias("n_chars")))
    v2 = (docs.filter(F.col("doc_id") % 2 == 1)
          .select("doc_id", F.col("n_chars").cast("long").alias("n_chars"),
                  (F.length("text") % 100).cast("long").alias("quality")))
    st = SnapshotStore(scratch_dir("snap_evo_"))
    st.write(v1)
    st.write(v2)
    return (read_merged_schema(st, spark)
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum("n_chars").cast("long").alias("sum_chars"),
                 F.count("quality").cast("long").alias("n_with_quality"),
                 F.sum("quality").cast("long").alias("sum_quality")))


@register("x_snapshot_expire_vacuum", """
WITH base AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars FROM documents
  WHERE doc_id < 2000
),
c AS (SELECT * FROM base WHERE doc_id % 4 = 2),
d AS (SELECT * FROM base WHERE doc_id % 4 = 3),
v4 AS (SELECT * FROM c UNION ALL SELECT * FROM d),
views AS (
  SELECT 'v3_live' AS label, count(*) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS sum_chars FROM c
  UNION ALL
  SELECT 'v4_live', count(*), CAST(sum(n_chars) AS BIGINT) FROM v4
  UNION ALL
  SELECT 'v4_after_vacuum', count(*), CAST(sum(n_chars) AS BIGINT) FROM v4
)
SELECT label, n_docs, sum_chars,
       TRUE AS expired_old, TRUE AS vacuum_reclaimed,
       TRUE AS expired_unreadable
FROM views
""")
def x_snapshot_expire_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot retention + orphan-file reclaim (sinks/snapshot.
    SnapshotStore.expire / vacuum — Delta VACUUM / Iceberg
    expire_snapshots): append v1, append v2, OVERWRITE v3 (c), append
    v4 (d) — so v1/v2's data files are referenced by no retained
    manifest once retention drops them — then ``expire(keep_last=2)``
    and ``vacuum()``.

    The graded row pins the full contract: (a) expire dropped exactly
    [v1, v2]; (b) vacuum physically removed at least one file, and
    ONLY unreferenced ones — proven by re-aggregating v4 AFTER the
    vacuum and hash-matching it against the oracle's recomputation
    (if vacuum deleted a live file, v4_after_vacuum's sum would
    change or the read would fail); (c) reading an expired version
    raises. Time travel within the retention window (v3) keeps
    working."""
    import shutil

    from .session import scratch_dir
    from .sinks.snapshot import SnapshotStore

    docs = (_docs(spark, sf_dir)
            .select("doc_id", F.col("n_chars").cast("long").alias("n_chars"))
            .filter(F.col("doc_id") < 2000))
    root = scratch_dir("snap_ev_")
    try:
        st = SnapshotStore(root)
        v1 = st.write(docs.filter(F.col("doc_id") % 4 == 0))
        v2 = st.write(docs.filter(F.col("doc_id") % 4 == 1))
        v3 = st.write(docs.filter(F.col("doc_id") % 4 == 2),
                      mode="overwrite")
        v4 = st.write(docs.filter(F.col("doc_id") % 4 == 3))
        dropped = st.expire(keep_last=2)
        expired_old = dropped == [v1, v2]
        removed = st.vacuum()
        reclaimed = len(removed) > 0
        try:
            st.read(spark, v1)
            unreadable = False
        except (OSError, ValueError):
            unreadable = True

        def agg(df, label):
            return df.agg(F.lit(label).alias("label"),
                          F.count(F.lit(1)).alias("n_docs"),
                          F.sum("n_chars").cast("long").alias("sum_chars"))

        out = (agg(st.read(spark, v3), "v3_live")
               .unionByName(agg(st.read(spark, v4), "v4_live"))
               .unionByName(agg(st.read(spark, v4), "v4_after_vacuum")))
        rows = [(r.label, r.n_docs, r.sum_chars,
                 expired_old, reclaimed, unreadable)
                for r in out.collect()]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return local_df(spark,
        rows, "label string, n_docs long, sum_chars long, "
              "expired_old boolean, vacuum_reclaimed boolean, "
              "expired_unreadable boolean")


@register("x_wap_publish", """
WITH base AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars FROM documents
  WHERE doc_id < 2000
),
seed AS (SELECT * FROM base WHERE doc_id % 3 = 0),
good AS (SELECT * FROM base WHERE doc_id % 3 = 1),
published AS (SELECT * FROM seed UNION ALL SELECT * FROM good)
SELECT 'main_after_wap' AS label, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       TRUE AS audit_blocked_bad, TRUE AS staging_invisible
FROM published
""")
def x_wap_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-Audit-Publish (the Iceberg/Nessie WAP recipe over
    sinks/snapshot branch refs): a batch lands on a STAGING branch,
    an audit query runs against the branch head, and only a passing
    audit fast-forwards main — a failing audit leaves main untouched
    and the staged data invisible to readers.

    Scenario: seed main; stage a GOOD batch on branch 'wap_good'
    (audit: no NULL keys, no duplicate doc_id vs main) -> merge;
    stage a BAD batch on 'wap_bad' (contains doc_ids already on
    main = the duplicate-key audit fails) -> reject, branch head
    discarded. The hash row proves main holds exactly seed+good;
    ``staging_invisible`` pins that main's head NEVER saw the bad
    batch (its aggregate is recomputed from main's final head, which
    the oracle reproduces from raw data — any leak changes the
    sum)."""
    import shutil

    from .session import scratch_dir
    from .sinks.snapshot import SnapshotStore

    docs = (_docs(spark, sf_dir)
            .select("doc_id", F.col("n_chars").cast("long").alias("n_chars"))
            .filter(F.col("doc_id") < 2000))
    root = scratch_dir("snap_wap_")
    try:
        st = SnapshotStore(root)
        st.write(docs.filter(F.col("doc_id") % 3 == 0))          # seed

        def audit_and_publish(batch, branch):
            st.create_branch(branch)
            st.write(batch, branch=branch)
            head = st.head(branch)
            staged = st.read(spark, head)
            main_now = st.read(spark, st.head("main"))
            bad = (staged.filter(F.col("doc_id").isNull()).count()
                   + staged.join(main_now, "doc_id", "inner")
                     .join(batch.select("doc_id"), "doc_id", "semi")
                     .count())
            if bad == 0:
                st.merge_branch(branch)
                return True
            # reject: drop the staging ref; the staged commit becomes
            # unreferenced metadata for expire/vacuum to reclaim
            refs = st._read_refs()
            del refs[branch]
            st._write_refs(refs)
            return False

        ok_good = audit_and_publish(
            docs.filter(F.col("doc_id") % 3 == 1), "wap_good")
        ok_bad = audit_and_publish(
            docs.filter(F.col("doc_id") % 6 == 0), "wap_bad")
        main_head = st.head("main")
        r = (st.read(spark, main_head)
             .agg(F.count(F.lit(1)).alias("n_docs"),
                  F.sum("n_chars").cast("long").alias("sum_chars"))
             .collect()[0])
        rows = [("main_after_wap", r.n_docs, r.sum_chars,
                 ok_good and not ok_bad,
                 "wap_bad" not in st.branches())]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return local_df(spark,
        rows, "label string, n_docs long, sum_chars long, "
              "audit_blocked_bad boolean, staging_invisible boolean")


@register("x_check_constraints", """
WITH base AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars FROM documents
  WHERE doc_id < 2000
),
good1 AS (SELECT * FROM base WHERE doc_id % 3 = 0),
good2 AS (SELECT * FROM base WHERE doc_id % 3 = 1),
final AS (SELECT * FROM good1 UNION ALL SELECT * FROM good2)
SELECT 'head_after_reject' AS label, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       TRUE AS violation_blocked, TRUE AS no_orphan_files,
       TRUE AS null_row_passes
FROM final
""")
def x_check_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Commit-time CHECK constraint enforcement (sinks/snapshot.
    add_check_constraint / checked_write — Delta's ``ALTER TABLE ADD
    CONSTRAINT CHECK`` analogue): constraints persist as table
    metadata, every subsequent batch is validated in ONE fused
    aggregate pass, and a violating batch changes NOTHING — no new
    version, no orphan data files, head untouched.

    Scenario: two constraints (n_chars >= 0, doc_id < 100000); good
    batch commits; a batch with negated n_chars raises
    ConstraintViolation naming the constraint and the exact violation
    count, after which the head and the data directory's file set are
    byte-identical to before; a NULL-evaluating row passes (SQL
    standard CHECK semantics, pinned in tests); a second good batch
    commits on the untouched head. The oracle recomputes the final
    table — any partial/leaked commit breaks the hash."""
    import os as _os
    import shutil

    from .session import scratch_dir
    from .sinks.snapshot import (ConstraintViolation, SnapshotStore,
                                 add_check_constraint, checked_write)

    docs = (_docs(spark, sf_dir)
            .select("doc_id", F.col("n_chars").cast("long").alias("n_chars"))
            .filter(F.col("doc_id") < 2000))
    root = scratch_dir("snap_chk_")
    try:
        st = SnapshotStore(root)
        add_check_constraint(st, "chars_nonneg", "n_chars >= 0")
        add_check_constraint(st, "key_bounded", "doc_id < 100000")
        checked_write(st, docs.filter(F.col("doc_id") % 3 == 0))
        head_before = st.head("main")

        files_before = st.data_files()
        blocked = False
        try:
            checked_write(st, docs.filter(F.col("doc_id") % 3 == 2)
                          .withColumn("n_chars", -F.col("n_chars") - 1))
            # not caught below: ConstraintViolation is the only handler
            raise AssertionError(
                "violating batch committed — checked_write did not raise")
        except ConstraintViolation as exc:
            blocked = exc.name == "chars_nonneg" and exc.n_bad > 0
        no_orphans = (st.data_files() == files_before
                      and st.head("main") == head_before)
        checked_write(st, docs.filter(F.col("doc_id") % 3 == 1))
        r = (st.read(spark, st.head("main"))
             .agg(F.count(F.lit(1)).alias("n_docs"),
                  F.sum("n_chars").cast("long").alias("sum_chars"))
             .collect()[0])
        # NULL CHECK semantics: a NULL n_chars row passes (SQL
        # standard) — validated here on a throwaway branch store so
        # the graded aggregate stays NULL-free
        st2 = SnapshotStore(scratch_dir("snap_chk2_"))
        add_check_constraint(st2, "chars_nonneg", "n_chars >= 0")
        try:
            checked_write(
                st2, local_df(spark,
                    [(999999, None)], "doc_id long, n_chars long"))
            null_ok = True
        except ConstraintViolation:
            null_ok = False
        finally:
            shutil.rmtree(st2.root, ignore_errors=True)
        rows = [("head_after_reject", r.n_docs, r.sum_chars,
                 blocked, no_orphans, null_ok)]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return local_df(spark,
        rows, "label string, n_docs long, sum_chars long, "
              "violation_blocked boolean, no_orphan_files boolean, "
              "null_row_passes boolean")


@register("x_scd2_dimension", """
WITH dim0 AS (
  SELECT c_custkey AS custkey, c_mktsegment AS segment,
         CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
  FROM customer WHERE c_custkey < 500
),
upd AS (
  SELECT custkey,
         CASE WHEN custkey % 5 = 0 THEN 'MOVED' ELSE segment END AS segment,
         CASE WHEN custkey % 7 = 0 THEN bal_cents + 10000
              ELSE bal_cents END AS bal_cents
  FROM dim0
),
changed AS (
  SELECT u.custkey FROM upd u JOIN dim0 d ON u.custkey = d.custkey
  WHERE u.segment <> d.segment OR u.bal_cents <> d.bal_cents
),
hist AS (
  -- unchanged keys: one open row from the initial load
  SELECT d.custkey, d.segment, d.bal_cents,
         DATE '2024-01-01' AS valid_from, CAST(NULL AS DATE) AS valid_to,
         TRUE AS is_current
  FROM dim0 d WHERE d.custkey NOT IN (SELECT custkey FROM changed)
  UNION ALL
  -- changed keys: closed initial row + new current row
  SELECT d.custkey, d.segment, d.bal_cents,
         DATE '2024-01-01', DATE '2024-02-01', FALSE
  FROM dim0 d WHERE d.custkey IN (SELECT custkey FROM changed)
  UNION ALL
  SELECT u.custkey, u.segment, u.bal_cents,
         DATE '2024-02-01', CAST(NULL AS DATE), TRUE
  FROM upd u WHERE u.custkey IN (SELECT custkey FROM changed)
)
SELECT custkey, segment, bal_cents, valid_from, valid_to, is_current,
       TRUE AS noop_was_noop
FROM hist
""")
def x_scd2_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension maintenance on the snapshot store
    (sinks/snapshot.scd2_merge): load a customer dimension, apply an
    update batch where some segments move and some balances change —
    changed keys get their current row CLOSED and a new current row
    INSERTED in one atomic footer-pruned MERGE commit; unchanged keys
    are no-ops. A second, fully-identical update batch must commit
    NOTHING (``noop_was_noop`` pins head equality — SCD2 idempotence).
    The oracle recomputes the exact expected history; the hash proves
    closing dates, current flags, and no-op detection row-for-row."""
    import shutil

    from .session import scratch_dir
    from .sinks.snapshot import SnapshotStore, scd2_merge

    cust = load_tables(spark, sf_dir, ["customer"])["customer"]
    dim0 = (cust.filter(F.col("c_custkey") < 500)
            .select(F.col("c_custkey").alias("custkey"),
                    F.col("c_mktsegment").alias("segment"),
                    round_half_up_long(F.col("c_acctbal"), 100)
                    .alias("bal_cents")))
    upd = dim0.select(
        "custkey",
        F.when(F.col("custkey") % 5 == 0, "MOVED")
        .otherwise(F.col("segment")).alias("segment"),
        F.when(F.col("custkey") % 7 == 0, F.col("bal_cents") + 10000)
        .otherwise(F.col("bal_cents")).alias("bal_cents"))
    root = scratch_dir("snap_scd2_")
    try:
        st = SnapshotStore(root)
        init = (dim0
                .withColumn("valid_from", F.lit("2024-01-01").cast("date"))
                .withColumn("valid_to", F.lit(None).cast("date"))
                .withColumn("is_current", F.lit(True)))
        st.write(init.withColumn(
            "sk", F.concat_ws("|", F.col("custkey").cast("string"),
                              F.col("valid_from").cast("string"))))
        scd2_merge(st, spark, upd, "custkey",
                   ["segment", "bal_cents"], "2024-02-01")
        head_after = st.head("main")
        # idempotence: replaying the same batch must be a full no-op
        v2, nc, ni = scd2_merge(st, spark, upd, "custkey",
                                ["segment", "bal_cents"], "2024-03-01")
        noop = (v2 == head_after and nc == 0 and ni == 0)
        out = (st.read(spark)
               .select("custkey", "segment", "bal_cents", "valid_from",
                       "valid_to", "is_current")
               .localCheckpoint(eager=True))
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out.withColumn("noop_was_noop", F.lit(noop))


@register("x_occ_append", """
WITH base AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars FROM documents
  WHERE doc_id < 2000
),
seed AS (SELECT * FROM base WHERE doc_id % 4 = 0),
a AS (SELECT * FROM base WHERE doc_id % 4 = 1),
b AS (SELECT * FROM base WHERE doc_id % 4 = 2),
d AS (SELECT * FROM base WHERE doc_id % 4 = 3),
final AS (
  SELECT * FROM seed UNION ALL SELECT * FROM a
  UNION ALL SELECT * FROM b UNION ALL SELECT * FROM d
)
SELECT 'head_final' AS label, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       TRUE AS blind_append_rebased, TRUE AS overwrite_conflicted,
       TRUE AS conflict_left_no_orphans
FROM final
""")
def x_occ_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimistic concurrency control (sinks/snapshot.occ_append —
    Delta's commit protocol): writer B reads head v1, writer A commits
    an append in between, and B's commit REBASES silently because two
    blind appends cannot logically conflict (Delta's concurrent-append
    rule). Then writer D reads a pre-OVERWRITE head and must get
    ConcurrentCommitConflict — its already-written data files are
    cleaned up eagerly (no vacuum debt) — and succeeds after
    re-reading the fresh head.

    The graded hash recomputes the final table: if the rebase had
    dropped A's or B's rows, double-committed, or the failed txn
    leaked files into a manifest, the aggregate changes. The branch-
    chain walk is also pinned: conflict detection follows MAIN's
    parent chain, so commits on other branches never block."""
    import os as _os
    import shutil

    from .session import scratch_dir
    from .sinks.snapshot import (ConcurrentCommitConflict, SnapshotStore,
                                 occ_append)

    docs = (_docs(spark, sf_dir)
            .select("doc_id", F.col("n_chars").cast("long").alias("n_chars"))
            .filter(F.col("doc_id") < 2000))
    part = lambda k: docs.filter(F.col("doc_id") % 4 == k)  # noqa: E731
    root = scratch_dir("snap_occ_")
    try:
        st = SnapshotStore(root)
        v1 = st.write(part(0))                       # seed
        # writer B reads v1 ... writer A lands first
        st.write(part(1))                            # A (plain append)
        _vb, rebased = occ_append(st, part(2), expected_head=v1)

        # writer D reads now, an OVERWRITE intervenes (a no-op
        # overwrite of the same live rows keeps the table value equal
        # while still being a logical barrier)
        head_before_ow = st.head("main")
        live = st.read(spark, head_before_ow).localCheckpoint(eager=True)
        st.write(live, mode="overwrite")
        files_before = st.data_files()
        conflicted = False
        try:
            occ_append(st, part(3), expected_head=head_before_ow)
        except ConcurrentCommitConflict as exc:
            conflicted = exc.blocking_op == "overwrite"
        no_orphans = st.data_files() == files_before
        # retry on the fresh head succeeds without rebase
        _vd, rebased_d = occ_append(st, part(3),
                                    expected_head=st.head("main"))
        r = (st.read(spark)
             .agg(F.count(F.lit(1)).alias("n_docs"),
                  F.sum("n_chars").cast("long").alias("sum_chars"))
             .collect()[0])
        rows = [("head_final", r.n_docs, r.sum_chars,
                 rebased and not rebased_d, conflicted, no_orphans)]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return local_df(spark,
        rows, "label string, n_docs long, sum_chars long, "
              "blind_append_rebased boolean, overwrite_conflicted boolean, "
              "conflict_left_no_orphans boolean")


@register("x_snapshot_rollback", """
WITH a AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars
           FROM documents WHERE doc_id % 3 = 0),
b AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars
      FROM documents WHERE doc_id % 3 = 1),
c AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars
      FROM documents WHERE doc_id % 3 = 2),
ab AS (SELECT * FROM a UNION ALL SELECT * FROM b),
ac AS (SELECT * FROM a UNION ALL SELECT * FROM c)
SELECT 'v2_before_rollback' AS label, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars FROM ab
UNION ALL
SELECT 'v3_rolled_back', count(*), CAST(sum(n_chars) AS BIGINT) FROM a
UNION ALL
SELECT 'v4_diverged', count(*), CAST(sum(n_chars) AS BIGINT) FROM ac
UNION ALL
SELECT 'v2_time_travel', count(*), CAST(sum(n_chars) AS BIGINT) FROM ab
""")
def x_snapshot_rollback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollback + divergent-history lifecycle — the last snapshot-store
    ref operation without an oracle row (time travel, CDC, branch,
    expire/vacuum, WAP, OCC all have theirs; rollback was unit-only,
    tests/test_snapshot.py:43): append A (v1) → append B (v2) →
    ROLLBACK to v1 (v3, metadata-only — no file is touched) → append
    C (v4). The final table must be A+C (the rolled-back B never
    resurfaces), while time-traveling to v2 must STILL read A+B — a
    rollback hides a version from the present without destroying
    history, exactly Iceberg's rollback-to-snapshot semantics. The
    oracle recomputes all four reads from the raw table's modular
    slices, so a hash mismatch would expose either leak direction
    (B in the present, or B lost from history).

    Scale shape: rollback is one manifest write; every read is
    manifest-resolved file pruning — nothing here scales with data
    beyond the appends themselves."""
    import shutil

    from .session import scratch_dir
    from .sinks.snapshot import SnapshotStore

    docs = _docs(spark, sf_dir).select(
        "doc_id", F.col("n_chars").cast("long").alias("n_chars"))
    root = scratch_dir("snap_rb_")
    try:
        st = SnapshotStore(root)
        st.write(docs.filter(F.col("doc_id") % 3 == 0))          # v1 = A
        st.write(docs.filter(F.col("doc_id") % 3 == 1))          # v2 = A+B
        st.rollback(1)                                           # v3 ≙ v1
        st.write(docs.filter(F.col("doc_id") % 3 == 2))          # v4 = A+C

        def agg(df, label):
            return df.agg(
                F.lit(label).alias("label"),
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_chars").cast("long").alias("sum_chars"))

        out = (agg(st.read(spark, 2), "v2_before_rollback")
               .unionByName(agg(st.read(spark, 3), "v3_rolled_back"))
               .unionByName(agg(st.read(spark, 4), "v4_diverged"))
               .unionByName(agg(st.read(spark, 2), "v2_time_travel")))
        rows = out.collect()                  # materialize BEFORE rmtree
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return local_df(spark,
        rows, "label string, n_docs long, sum_chars long")


@register("x_cdc_replication", """
WITH after AS (
  SELECT doc_id, source,
         CASE WHEN doc_id < 40 THEN CAST(n_chars AS BIGINT) + 1000
              ELSE CAST(n_chars AS BIGINT) END AS n_chars
  FROM documents
  WHERE doc_id < 40 OR NOT (doc_id % 7 = 0 AND doc_id < 500)
)
SELECT source, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM after GROUP BY source
""")
def x_cdc_replication(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC replication round-trip — the Debezium/Delta-CDF pattern
    closing the storage plane's change-data story: x_snapshot_cdc
    proves diffs are COMPUTED correctly; this proves they are
    SUFFICIENT — a replica built only from the bootstrap snapshot plus
    the per-version CDC feed must converge to the source, byte for
    byte. Source evolves through the full op mix (append v2, targeted
    DELETE v3, CoW MERGE v4 that both updates rows and re-inserts
    previously deleted keys); each consecutive-version diff
    (snapshot_diff, include_payload) is applied to the replica as
    delete(removed) + merge_upsert(added ∪ changed, new payload).
    The oracle recomputes the source's FINAL state from the raw table,
    so it catches an incomplete feed (missing change), a wrong apply
    order, and a non-idempotent payload alike; an in-query count
    assert pins source/replica convergence directly.

    Scale posture: the removed-key collect and the MERGE batch are
    delta-sized by CDC's contract (the same bound delete_keys and
    merge_upsert already document); diffs are one full-outer join per
    version pair, delta-sized output."""
    import shutil

    from .session import scratch_dir
    from .sinks.snapshot import (SnapshotStore, delete_keys, merge_upsert,
                                 snapshot_diff)
    from .tables import load_tables

    docs = (load_tables(spark, sf_dir, ["documents"])["documents"]
            .select("doc_id", "source",
                    F.col("n_chars").cast("long").alias("n_chars")))
    root_a = scratch_dir("cdc_src_")
    root_b = scratch_dir("cdc_rep_")
    try:
        src = SnapshotStore(root_a)
        rep = SnapshotStore(root_b)
        src.write(docs.filter(F.col("doc_id") % 2 == 0))          # v1
        rep.write(src.read(spark, 1))                             # bootstrap
        src.write(docs.filter(F.col("doc_id") % 2 == 1))          # v2
        delete_keys(src, spark, list(range(0, 500, 7)), "doc_id")  # v3
        merge_upsert(src, spark,
                     docs.filter(F.col("doc_id") < 40)
                     .withColumn("n_chars", F.col("n_chars") + 1000),
                     "doc_id")                                    # v4
        for v in (2, 3, 4):
            d = snapshot_diff(src, spark, v - 1, v, ["doc_id"],
                              include_payload=True)
            removed = [r.doc_id for r in
                       d.filter(F.col("change") == "removed")
                       .select("doc_id").collect()]   # delta-sized
            if removed:
                delete_keys(rep, spark, removed, "doc_id")
            ups = (d.filter(F.col("change").isin("added", "changed"))
                   .select("doc_id",
                           F.col("new.source").alias("source"),
                           F.col("new.n_chars").alias("n_chars")))
            if ups.limit(1).count():
                merge_upsert(rep, spark, ups, "doc_id")
        n_src = src.read(spark).count()
        n_rep = rep.read(spark).count()
        if n_src != n_rep:
            raise AssertionError(
                f"replica diverged: source {n_src} rows vs replica {n_rep}")
        rows = (rep.read(spark)
                .groupBy("source")
                .agg(F.count(F.lit(1)).alias("n_docs"),
                     F.sum("n_chars").cast("long").alias("sum_chars"))
                .collect())
    finally:
        shutil.rmtree(root_a, ignore_errors=True)
        shutil.rmtree(root_b, ignore_errors=True)
    return local_df(spark,
        rows, "source string, n_docs long, sum_chars long")


@register("x_shallow_clone", """
WITH base AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars FROM documents
  WHERE doc_id < 2000
),
t0 AS (SELECT * FROM base WHERE doc_id % 3 = 0),
t1 AS (SELECT * FROM base WHERE doc_id % 3 = 1),
t2 AS (SELECT * FROM base WHERE doc_id % 3 = 2),
extra AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars FROM documents
  WHERE doc_id >= 2000 AND doc_id < 2500
),
src_pre AS (
  SELECT * FROM (SELECT * FROM t0 UNION ALL SELECT * FROM t1)
  WHERE doc_id % 5 <> 0
),
src_final AS (SELECT * FROM src_pre UNION ALL SELECT * FROM extra),
clone_final AS (SELECT * FROM src_pre UNION ALL SELECT * FROM t2)
SELECT label, n_docs, sum_chars, zero_copy, src_intact
FROM (
  SELECT 'clone' AS label, count(*) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         TRUE AS zero_copy, TRUE AS src_intact FROM clone_final
  UNION ALL
  SELECT 'src', count(*), CAST(sum(n_chars) AS BIGINT), TRUE, TRUE
  FROM src_final
) ORDER BY label
""")
def x_shallow_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-copy SHALLOW CLONE (Delta ``CREATE TABLE ... SHALLOW
    CLONE``; sinks/snapshot.shallow_clone) with independent evolution
    on BOTH sides and the MoR sequence-number trap armed:

    - source: two appends, then a merge-on-read delete of doc_id%5==0
      (an equality-delete sidecar carried by the head manifest);
    - CLONE at that head — a metadata-only commit whose file list
      references the source's files (``zero_copy`` asserts the clone's
      data dir holds ZERO parquet files right after cloning);
    - the clone then APPENDS the %3==2 third, which RE-INSERTS keys
      the carried delete matches: because the clone's first manifest
      takes the source's head VERSION as its own, the appended files
      get a strictly larger sequence and the carried equality-delete
      must NOT hide them (a naive clone-starts-at-v1 numbering fails
      exactly here, and the oracle catches it);
    - the source independently appends a disjoint range; the oracle
      recomputes both final tables, so any cross-contamination in
      either direction hash-mismatches;
    - ``src_intact`` asserts clone.vacuum() removed nothing and every
      source-referenced file still exists (vacuum walks only the
      clone's own data dir — Delta's shallow-clone vacuum rule,
      structural here)."""
    import os as _os
    import shutil

    from .session import scratch_dir
    from .sinks.snapshot import SnapshotStore, delete_keys_mor, shallow_clone

    docs = (_docs(spark, sf_dir)
            .select("doc_id", F.col("n_chars").cast("long").alias("n_chars")))
    base = docs.filter(F.col("doc_id") < 2000)
    root_a = scratch_dir("clone_src_")
    root_b = scratch_dir("clone_dst_")
    try:
        src = SnapshotStore(root_a)
        src.write(base.filter(F.col("doc_id") % 3 == 0))
        src.write(base.filter(F.col("doc_id") % 3 == 1))
        delete_keys_mor(src, spark,
                        base.filter((F.col("doc_id") % 5 == 0))
                        .select("doc_id"), ["doc_id"])

        clone = shallow_clone(src, root_b)
        zero_copy = clone.data_files() == []
        src_head_before = src.head("main")

        clone.write(base.filter(F.col("doc_id") % 3 == 2))
        src.write(docs.filter((F.col("doc_id") >= 2000)
                              & (F.col("doc_id") < 2500)))

        removed = clone.vacuum()
        src_files = src._read_manifest(src.head("main"))["files"]
        src_intact = (removed == [] and src.head("main") != src_head_before
                      and all(_os.path.exists(p) for p in src_files))

        agg = lambda st: (st.read(spark)  # noqa: E731
                          .agg(F.count(F.lit(1)).alias("n"),
                               F.sum("n_chars").cast("long").alias("s"))
                          .collect()[0])
        c, s = agg(clone), agg(src)
        rows = [("clone", c["n"], c["s"], zero_copy, src_intact),
                ("src", s["n"], s["s"], zero_copy, src_intact)]
    finally:
        shutil.rmtree(root_a, ignore_errors=True)
        shutil.rmtree(root_b, ignore_errors=True)
    return local_df(spark,
        rows, "label string, n_docs long, sum_chars long, "
              "zero_copy boolean, src_intact boolean")


@register("x_timestamp_travel", """
WITH base AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars FROM documents
  WHERE doc_id < 2000
),
t0 AS (SELECT * FROM base WHERE doc_id % 3 = 0),
t1 AS (SELECT * FROM base WHERE doc_id % 3 = 1),
t2 AS (SELECT * FROM base WHERE doc_id % 3 = 2),
v1 AS (SELECT * FROM t0),
v2 AS (SELECT * FROM t0 UNION ALL SELECT * FROM t1),
v3 AS (SELECT * FROM t2)
SELECT label, n_docs, sum_chars, pre_epoch_raises
FROM (
  SELECT 'at_1500' AS label, count(*) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         TRUE AS pre_epoch_raises FROM v1
  UNION ALL
  SELECT 'at_2000', count(*), CAST(sum(n_chars) AS BIGINT), TRUE FROM v2
  UNION ALL
  SELECT 'at_2500', count(*), CAST(sum(n_chars) AS BIGINT), TRUE FROM v2
  UNION ALL
  SELECT 'at_9999', count(*), CAST(sum(n_chars) AS BIGINT), TRUE FROM v3
) ORDER BY label
""")
def x_timestamp_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel BY TIMESTAMP (Delta ``timestampAsOf`` / Iceberg
    ``FOR SYSTEM_TIME AS OF``; SnapshotStore.version_at): three
    commits carry injected timestamps 1000/2000/3000 (the ``ts``
    override on write — deterministic, no wall clock in the graded
    values), and four probes pin the resolution rule 'latest version
    committed AT OR BEFORE the timestamp':

    - 1500 -> v1 (between commits resolves DOWN);
    - 2000 -> v2 (exactly-at is inclusive);
    - 2500 -> v2 (a later commit at 3000 is invisible);
    - 9999 -> v3 (after the last commit resolves to the head — here an
      OVERWRITE, so the aggregate proves the resolved version's FILE
      LIST was swapped, not appended);
    - a probe before the first commit must raise
      (``pre_epoch_raises``).

    The oracle recomputes each resolved version's table from raw
    documents: an off-by-one in the resolution rule (strictly-before,
    or nearest-commit rounding) changes a row's aggregate and
    hash-mismatches."""
    import shutil

    from .session import scratch_dir
    from .sinks.snapshot import SnapshotStore

    docs = (_docs(spark, sf_dir)
            .select("doc_id", F.col("n_chars").cast("long").alias("n_chars"))
            .filter(F.col("doc_id") < 2000))
    root = scratch_dir("tstravel_")
    try:
        st = SnapshotStore(root)
        st.write(docs.filter(F.col("doc_id") % 3 == 0), ts=1000.0)
        st.write(docs.filter(F.col("doc_id") % 3 == 1), ts=2000.0)
        st.write(docs.filter(F.col("doc_id") % 3 == 2),
                 mode="overwrite", ts=3000.0)
        try:
            st.version_at(999.0)
            raises = False
        except ValueError:
            raises = True
        rows = []
        for label, probe in (("at_1500", 1500.0), ("at_2000", 2000.0),
                             ("at_2500", 2500.0), ("at_9999", 9999.0)):
            r = (st.read(spark, st.version_at(probe))
                 .agg(F.count(F.lit(1)).alias("n"),
                      F.sum("n_chars").cast("long").alias("s"))
                 .collect()[0])
            rows.append((label, r["n"], r["s"], raises))
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return local_df(spark,
        rows, "label string, n_docs long, sum_chars long, "
              "pre_epoch_raises boolean")


@register("x_row_column_policy", """
WITH c AS (
  SELECT c_custkey, c_name, c_mktsegment,
         CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
  FROM customer
),
analyst AS (
  SELECT concat(substr(c_name, 1, 2), '***') AS c_name, c_mktsegment,
         (bal_cents // 10000) * 100 AS bal_band
  FROM c WHERE c_mktsegment IN ('AUTOMOBILE', 'BUILDING')
),
auditor AS (
  SELECT (c_custkey * 2654435761) % 2147483647 AS pseudo_key,
         c_mktsegment, bal_cents
  FROM c
)
SELECT role, segment, n, n_distinct_names, sum_bal
FROM (
  SELECT 'analyst' AS role, c_mktsegment AS segment,
         count(*) AS n,
         CAST(count(DISTINCT c_name) AS BIGINT) AS n_distinct_names,
         CAST(sum(bal_band) AS BIGINT) AS sum_bal
  FROM analyst GROUP BY c_mktsegment
  UNION ALL
  SELECT 'auditor', c_mktsegment, count(*),
         CAST(count(DISTINCT pseudo_key) AS BIGINT),
         CAST(sum(bal_cents) AS BIGINT)
  FROM auditor GROUP BY c_mktsegment
) ORDER BY role, segment
""")
def x_row_column_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level security + column masking (security.apply_policy —
    the Delta/Unity row-filter & column-mask feature as declarative
    view rewriting): two roles see two governed views of customer,

    - analyst: row filter to two segments; c_name masked to
      prefix+'***' (count(DISTINCT) over the MASKED value proves the
      mask collapses names — the oracle computes the same collapsed
      cardinality); c_acctbal coarsened to $100 bands in exact integer
      cents — ~8% of customers carry NEGATIVE balances, and parity
      holds because Spark's `div` and DuckDB's `//` on integers BOTH
      truncate toward zero (-55000 -> -5 in both; a floor-semantics
      "fix" on either side would flip those rows' bands and break the
      hash);
    - auditor: no row filter, but c_custkey pseudonymized by a
      deterministic Knuth multiplicative hash mod 2^31-1 (int64-exact
      in both engines) and balances left exact — the
      full-rows/masked-identity profile.

    Policy application is pure expression rewriting: the row filter
    pushes down to the parquet scan and masks stay codegen
    expressions, so the governed read costs exactly the ungoverned
    read at 100 TB (no join, no shuffle, no UDF)."""
    from .security import Policy, apply_policy

    c = (load_tables(spark, sf_dir, ["customer"])["customer"]
         .select("c_custkey", "c_name", "c_mktsegment",
                 round_half_up_long(F.col("c_acctbal"), 100)
                 .alias("bal_cents")))
    analyst = apply_policy(c, Policy(
        row_filter="c_mktsegment IN ('AUTOMOBILE', 'BUILDING')",
        column_masks={
            "c_name": "concat(substr(c_name, 1, 2), '***')",
            "bal_cents": "(bal_cents div 10000) * 100",
        }))
    auditor = apply_policy(c, Policy(
        column_masks={
            "c_custkey": "(c_custkey * 2654435761) % 2147483647",
            "c_name": "'***'",
        }))
    a = (analyst.groupBy(F.col("c_mktsegment").alias("segment"))
         .agg(F.count(F.lit(1)).alias("n"),
              F.countDistinct("c_name").cast("long")
              .alias("n_distinct_names"),
              F.sum("bal_cents").cast("long").alias("sum_bal"))
         .withColumn("role", F.lit("analyst")))
    b = (auditor.groupBy(F.col("c_mktsegment").alias("segment"))
         .agg(F.count(F.lit(1)).alias("n"),
              F.countDistinct("c_custkey").cast("long")
              .alias("n_distinct_names"),
              F.sum("bal_cents").cast("long").alias("sum_bal"))
         .withColumn("role", F.lit("auditor")))
    return (a.unionByName(b)
            .select("role", "segment", "n", "n_distinct_names", "sum_bal")
            .orderBy("role", "segment"))


@register("x_incremental_scan", """
WITH base AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars FROM documents
  WHERE doc_id < 2000
)
SELECT label, n_docs, sum_chars, non_append_raises, empty_range_empty
FROM (
  SELECT 'since_v1' AS label, count(*) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         TRUE AS non_append_raises, TRUE AS empty_range_empty
  FROM base WHERE doc_id % 3 IN (1, 2)
  UNION ALL
  SELECT 'since_v2', count(*), CAST(sum(n_chars) AS BIGINT), TRUE, TRUE
  FROM base WHERE doc_id % 3 = 2
) ORDER BY label
""")
def x_incremental_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg-style INCREMENTAL (changes-since) scan
    (sinks/snapshot.incremental_read): a consumer tails the table by
    reading ONLY the files appended after its last-seen version —
    resolved from manifests alone, so the catch-up cost is
    O(new data), never a rescan of a 100 TB table.

    Scenario: three appends (thirds of the sliced documents table);
    the graded rows are the rows-appended-since v1 and since v2,
    each oracle-recomputed from the raw table (a scan that leaks
    base-version rows, misses an appended file, or double-reads
    hash-mismatches). In-query asserts pin the guard rails: after an
    OVERWRITE lands, incremental_read over the crossing range must
    raise NonAppendInRange (file-level semantics are unsound across
    rewrites — Iceberg raises identically; snapshot_diff is the
    semantic fallback), and an empty range returns an empty
    schema-stable frame."""
    import shutil

    from .session import scratch_dir
    from .sinks.snapshot import (NonAppendInRange, SnapshotStore,
                                 incremental_read)

    docs = (_docs(spark, sf_dir)
            .select("doc_id", F.col("n_chars").cast("long").alias("n_chars"))
            .filter(F.col("doc_id") < 2000))
    root = scratch_dir("incscan_")
    try:
        st = SnapshotStore(root)
        v1 = st.write(docs.filter(F.col("doc_id") % 3 == 0))
        v2 = st.write(docs.filter(F.col("doc_id") % 3 == 1))
        v3 = st.write(docs.filter(F.col("doc_id") % 3 == 2))

        def agg(df):
            return (df.agg(F.count(F.lit(1)).alias("n"),
                           F.sum("n_chars").cast("long").alias("s"))
                    .collect()[0])

        r1 = agg(incremental_read(st, spark, v1, v3))
        r2 = agg(incremental_read(st, spark, v2))
        empty_ok = incremental_read(st, spark, v3, v3).count() == 0
        st.write(docs.filter(F.col("doc_id") % 3 == 0),
                 mode="overwrite")
        try:
            incremental_read(st, spark, v3)
            raise AssertionError(
                "incremental scan crossed an overwrite without raising")
        except NonAppendInRange:
            raises = True
        rows = [("since_v1", r1["n"], r1["s"], raises, empty_ok),
                ("since_v2", r2["n"], r2["s"], raises, empty_ok)]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return local_df(spark,
        rows, "label string, n_docs long, sum_chars long, "
              "non_append_raises boolean, empty_range_empty boolean")


@register("x_branch_diff", """
WITH dev_only AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars FROM documents
  WHERE doc_id % 4 = 1
),
main_only AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars FROM documents
  WHERE doc_id % 8 = 6
)
SELECT 'dev' AS side, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(min(doc_id) AS BIGINT) AS min_key,
       CAST(max(doc_id) AS BIGINT) AS max_key
FROM dev_only
UNION ALL
SELECT 'main', CAST(count(*) AS BIGINT), CAST(sum(n_chars) AS BIGINT),
       CAST(min(doc_id) AS BIGINT), CAST(max(doc_id) AS BIGINT)
FROM main_only
""")
def x_branch_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Branch COMPARE (sinks/snapshot.branch_diff — the Nessie
    compare / "git diff for tables" readout): publish a shared base,
    branch `dev`, then let BOTH branches advance independently (the
    %4==1 odd slice lands on dev, the %8==6 even slice lands on
    main) and diff the two heads. The shared base must appear on NEITHER side — a diff that
    leaks common rows would drown the review in noise — and each
    exclusive slice must land whole on its own side. The oracle
    recomputes both exclusive sets from the raw table with the same
    modular predicates, so the hash proves set-exact diffing, not
    just counts.

    Scale shape: branch_diff is two branch reads + two keyed
    anti-joins (spillable, delta-sized output); the summary here is
    a 2-group map-side-combinable aggregate over the diff."""
    import shutil

    from .session import scratch_dir
    from .sinks.snapshot import SnapshotStore, branch_diff
    from .tables import load_tables

    docs = load_tables(spark, sf_dir, ["documents"]) \
        ["documents"].select("doc_id", F.col("n_chars").cast("long"))
    root = scratch_dir("snap_bdiff_")
    rows = []
    try:
        st = SnapshotStore(root)
        # shared base: evens except the %8==6 slice (modular
        # predicates so every scale factor populates BOTH sides)
        st.write(docs.filter((F.col("doc_id") % 2 == 0)
                             & (F.col("doc_id") % 8 != 6)))
        st.create_branch("dev")
        st.write(docs.filter(F.col("doc_id") % 4 == 1), branch="dev")
        st.write(docs.filter(F.col("doc_id") % 8 == 6))
        diff = branch_diff(st, spark, "dev", "main", ["doc_id"])
        got = (diff.groupBy("side")
               .agg(F.count(F.lit(1)).cast("long").alias("n_rows"),
                    F.sum("n_chars").cast("long").alias("sum_chars"),
                    F.min("doc_id").cast("long").alias("min_key"),
                    F.max("doc_id").cast("long").alias("max_key"))
               .collect())
        rows = [(r.side, r.n_rows, r.sum_chars, r.min_key, r.max_key)
                for r in got]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return local_df(spark,
        rows, "side string, n_rows long, sum_chars long, "
              "min_key long, max_key long")


# --- bitmap index intersection (round 13) ---------------------------------------

@register("x_bitmap_index_and", """
WITH bits AS (
  SELECT o_orderkey // 64 AS word_id, o_orderkey % 64 AS bit,
         o_orderstatus = 'F' AS pa,
         o_orderpriority = '1-URGENT' AS pb
  FROM orders
),
bv AS (
  SELECT word_id, pa, pb,
         CASE WHEN bit = 63 THEN -9223372036854775807 - 1
              ELSE CAST(1 AS BIGINT) << CAST(bit AS INTEGER) END AS v
  FROM bits
),
wa AS (SELECT word_id, CAST(sum(v) AS BIGINT) AS w
       FROM bv WHERE pa GROUP BY word_id),
wb AS (SELECT word_id, CAST(sum(v) AS BIGINT) AS w
       FROM bv WHERE pb GROUP BY word_id),
aw AS (SELECT a.word_id, a.w & b.w AS w
       FROM wa a JOIN wb b USING (word_id))
SELECT word_id // 64 AS block_id,
       CAST(count(CASE WHEN w <> 0 THEN 1 END) AS BIGINT) AS n_words,
       CAST(sum(bit_count(w)) AS BIGINT) AS n_matches
FROM aw GROUP BY 1
""")
def x_bitmap_index_and(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BITMAP-INDEX predicate intersection (the Oracle/Druid/
    roaring-bitmap acceleration structure; Chan & Ioannidis 1998):
    each predicate's qualifying row set materializes as 64-bit words
    over the row-id space (word = o_orderkey DIV 64, bit = key MOD
    64 — each key contributes one power of two, so the per-word SUM
    of disjoint bit values IS the bitwise OR), predicate AND becomes
    word-wise ``&``, and the match count is a popcount — no row
    re-scan. Output per 64-word block: words with surviving bits and
    total matches (status 'F' AND priority '1-URGENT').

    Bit 63 is the two's-complement sign bit: Spark's shiftleft(1L,
    63) wraps to Long.MIN_VALUE while DuckDB's << raises on
    overflow, so the oracle spells it -9223372036854775807 - 1 (the
    a_ann_bq_topk signed-bit discipline); ``&`` and bit_count treat
    the sign bit as an ordinary bit in both engines.

    Scale shape: two word_id-keyed map-side-combinable aggregates
    over ONE scan's projections, a co-partitioned equi-join on
    word_id (both sides carry the same key — no broadcast needed,
    no skew: words are uniform by construction), and a 64x-reduced
    block rollup. The bitmap is 1 bit per row per predicate — the
    point of the structure: at 100 TB the AND runs over ~2 GB of
    words per predicate, not the fact table."""
    orders = load_tables(spark, sf_dir, ["orders"])["orders"]
    base = orders.select(
        F.expr("o_orderkey DIV 64").alias("word_id"),
        F.expr("shiftleft(1L, CAST(o_orderkey % 64 AS INT))").alias("v"),
        (F.col("o_orderstatus") == "F").alias("pa"),
        (F.col("o_orderpriority") == "1-URGENT").alias("pb"))
    wa = (base.filter("pa").groupBy("word_id")
          .agg(F.sum("v").cast("long").alias("wa")))
    wb = (base.filter("pb").groupBy("word_id")
          .agg(F.sum("v").cast("long").alias("wb")))
    aw = wa.join(wb, "word_id").select(
        "word_id", F.expr("wa & wb").alias("w"))
    return (aw.groupBy(F.expr("word_id DIV 64").alias("block_id"))
            .agg(F.count(F.when(F.col("w") != 0, 1)).cast("long")
                 .alias("n_words"),
                 F.sum(F.bit_count("w")).cast("long")
                 .alias("n_matches")))
