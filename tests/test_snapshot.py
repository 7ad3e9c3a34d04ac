"""Snapshot store: time travel, isolation from later commits,
metadata rollback, vacuum safety."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from cube_builder_spark.sinks.snapshot import SnapshotStore
from cube_builder_spark.tables import local_df


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id"), (F.col("id") * 3).alias("v"))


def _ids(df):
    return sorted(r.id for r in df.collect())


def test_append_overwrite_and_time_travel(spark, tmp_path):
    st = SnapshotStore(str(tmp_path / "snap"))
    v1 = st.write(_df(spark, 0, 10))
    v2 = st.write(_df(spark, 10, 15))              # append
    v3 = st.write(_df(spark, 100, 103), mode="overwrite")
    assert (v1, v2, v3) == (1, 2, 3)
    assert _ids(st.read(spark, v1)) == list(range(10))
    assert _ids(st.read(spark, v2)) == list(range(15))
    assert _ids(st.read(spark, v3)) == [100, 101, 102]
    assert _ids(st.read(spark)) == [100, 101, 102]  # latest


def test_reader_pinned_to_old_version_sees_no_new_commits(spark, tmp_path):
    st = SnapshotStore(str(tmp_path / "snap"))
    v1 = st.write(_df(spark, 0, 5))
    pinned = st.read(spark, v1)   # plan resolved against v1's files
    st.write(_df(spark, 5, 50))
    assert _ids(pinned) == list(range(5))


def test_rollback_is_metadata_only(spark, tmp_path):
    st = SnapshotStore(str(tmp_path / "snap"))
    v1 = st.write(_df(spark, 0, 5))
    st.write(_df(spark, 1000, 2000), mode="overwrite")
    n_files_before = sum(len(fs) for _d, _s, fs in
                         os.walk(str(tmp_path / "snap" / "data")))
    v3 = st.rollback(v1)
    n_files_after = sum(len(fs) for _d, _s, fs in
                        os.walk(str(tmp_path / "snap" / "data")))
    assert n_files_after == n_files_before  # no data movement
    assert _ids(st.read(spark, v3)) == list(range(5))
    # the bad version remains reachable for forensics
    assert _ids(st.read(spark, 2)) == list(range(1000, 2000))


def test_vacuum_keeps_referenced_files_only(spark, tmp_path):
    st = SnapshotStore(str(tmp_path / "snap"))
    st.write(_df(spark, 0, 5))
    st.write(_df(spark, 5, 10), mode="overwrite")   # v1 files now orphaned
    # nothing removable while v1's manifest is retained
    assert st.vacuum() == []
    assert st.expire(keep_last=1) == [1]
    removed = st.vacuum()
    assert removed                                    # v1's files collected
    assert _ids(st.read(spark)) == list(range(5, 10))
    with pytest.raises(FileNotFoundError):
        st._read_manifest(1)  # noqa: SLF001 — expired


def test_crashed_commit_leaves_table_consistent(spark, tmp_path):
    """Data files without a manifest (simulated crash between data
    write and manifest commit) are invisible and vacuumable."""
    st = SnapshotStore(str(tmp_path / "snap"))
    st.write(_df(spark, 0, 5))
    # simulate: data landed, manifest never written
    _df(spark, 900, 905).write.parquet(
        str(tmp_path / "snap" / "data" / "orphan"))
    assert _ids(st.read(spark)) == list(range(5))
    assert any("orphan" in p for p in st.vacuum())
    assert _ids(st.read(spark)) == list(range(5))


def test_snapshot_diff_classifies_changes(spark, tmp_path):
    from cube_builder_spark.sinks.snapshot import snapshot_diff
    st = SnapshotStore(str(tmp_path / "snap"))
    v1 = st.write(local_df(spark,
        [(1, 10), (2, 20), (3, 30)], "k long, v long"))
    v2 = st.write(local_df(spark,
        [(2, 20), (3, 99), (4, 40)], "k long, v long"), mode="overwrite")
    d = {r.k: r.change
         for r in snapshot_diff(st, spark, v1, v2, ["k"]).collect()}
    assert d == {1: "removed", 3: "changed", 4: "added"}  # 2 unchanged


def test_delete_keys_rewrites_only_touched_files(spark, tmp_path):
    from cube_builder_spark.sinks.snapshot import delete_keys
    st = SnapshotStore(str(tmp_path / "snap"))
    # two appends -> two disjoint key-range file sets
    st.write(spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")).coalesce(1))
    st.write(spark.range(1000, 1100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")).coalesce(1))
    v, n_rewritten = delete_keys(st, spark, [5, 7], "k")
    assert n_rewritten == 1          # only the 0-99 file contains 5/7
    got = sorted(r.k for r in st.read(spark, v).collect())
    assert 5 not in got and 7 not in got
    assert len(got) == 198
    # prior version still has the rows (time travel unaffected)
    assert 5 in {r.k for r in st.read(spark, 2).collect()}


def test_schema_evolution_read(spark, tmp_path):
    from cube_builder_spark.sinks.snapshot import read_merged_schema
    st = SnapshotStore(str(tmp_path / "snap"))
    st.write(local_df(spark, [(1, 10)], "k long, v long"))
    st.write(local_df(spark, [(2, 20, "x")],
                      "k long, v long, tag string"))
    df = read_merged_schema(st, spark)
    rows = {r.k: (r.v, r.tag) for r in df.collect()}
    assert rows == {1: (10, None), 2: (20, "x")}


def test_stream_batches_commit_exactly_once(spark, tmp_path):
    from cube_builder_spark.sinks.snapshot import write_stream_batch
    st = SnapshotStore(str(tmp_path / "snap"))
    b0 = _df(spark, 0, 5)
    b1 = _df(spark, 5, 9)
    assert write_stream_batch(st, b0, 0) == 1
    assert write_stream_batch(st, b1, 1) == 2
    # failure replay: same batch ids redelivered -> skipped
    assert write_stream_batch(st, b0, 0) is None
    assert write_stream_batch(st, b1, 1) is None
    assert _ids(st.read(spark)) == list(range(9))


def test_stream_sink_end_to_end(spark, tmp_path):
    """Drive a real Structured Streaming query into the store."""
    from cube_builder_spark.sinks.snapshot import write_stream_batch
    src_dir = str(tmp_path / "src")
    _df(spark, 0, 20).write.parquet(src_dir)
    st = SnapshotStore(str(tmp_path / "snap"))
    stream = (spark.readStream
              .schema("id long, v long").parquet(src_dir))
    q = (stream.writeStream
         .foreachBatch(lambda b, i: write_stream_batch(st, b, i))
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .start())
    q.processAllAvailable()
    q.stop()
    assert _ids(st.read(spark)) == list(range(20))


def test_publish_with_audit_blocks_bad_data(spark, tmp_path):
    from cube_builder_spark.quality import (AuditFailed, TableChecks,
                                            publish_with_audit)
    st = SnapshotStore(str(tmp_path / "snap"))
    good = local_df(spark, [(1, 5.0), (2, 7.0)], "k long, v double")
    checks = TableChecks(df=None, ranges={"v": (0.0, 10.0)},
                         unique=[["k"]])
    v = publish_with_audit(st, good, checks, "t")
    assert v == 1
    bad = local_df(spark, [(3, 99.0), (3, 1.0)], "k long, v double")
    import pytest as _pytest
    with _pytest.raises(AuditFailed) as e:
        publish_with_audit(st, bad, checks, "t")
    assert any("range" in f["check_name"] for f in e.value.failures)
    # failed audit left NO new version; staged files are vacuumable
    assert st.versions() == [1]
    assert st.vacuum()
    assert sorted(r.k for r in st.read(spark).collect()) == [1, 2]


def test_publish_with_audit_advances_main_and_chains(spark, tmp_path):
    """Round-12 fix: on a store whose main ref exists (any prior
    write creates one), publish_with_audit's commit previously did
    NOT advance main — the audited batch was invisible to readers and
    the next write forked from the stale head, silently orphaning it.
    It must behave exactly like write(): visible immediately, and the
    next commit chains on top of it."""
    from cube_builder_spark.quality import TableChecks, publish_with_audit

    st = SnapshotStore(str(tmp_path / "wapchain"))
    v1 = st.write(local_df(spark, [(1, 5.0)], "k long, v double"))
    checks = TableChecks(df=None, not_null=["k"])
    v2 = publish_with_audit(
        st, local_df(spark, [(2, 6.0)], "k long, v double"),
        checks, "t")
    assert st.head("main") == v2
    assert sorted(r.k for r in st.read(spark).collect()) == [1, 2]
    v3 = st.write(local_df(spark, [(3, 7.0)], "k long, v double"))
    assert st._read_manifest(v3).get("parent") == v2
    assert sorted(r.k for r in st.read(spark).collect()) == [1, 2, 3]
    # and it must chain from MAIN's head, not the globally-latest
    # version: a staging-branch commit with a higher version number
    # must not become the publish's parent
    st.create_branch("stage")
    st.write(local_df(spark, [(99, 0.0)], "k long, v double"),
             branch="stage")
    v5 = publish_with_audit(
        st, local_df(spark, [(4, 8.0)], "k long, v double"),
        checks, "t")
    assert st._read_manifest(v5).get("parent") == v3
    assert sorted(r.k for r in st.read(spark).collect()) == [1, 2, 3, 4]


def test_publish_with_audit_carries_pending_mor_deletes(spark, tmp_path):
    """A WAP append over pending merge-on-read deletes must carry the
    delete sidecars (and per-file sequence numbers) forward — the old
    commit dropped them, resurrecting every deleted row."""
    from cube_builder_spark.quality import TableChecks, publish_with_audit
    from cube_builder_spark.sinks.snapshot import delete_keys_mor

    st = SnapshotStore(str(tmp_path / "wapmor"))
    st.write(local_df(spark, [(1, 5.0), (2, 6.0)],
                      "k long, v double"))
    delete_keys_mor(st, spark,
                    local_df(spark, [(1,)], "k long"), ["k"])
    assert sorted(r.k for r in st.read(spark).collect()) == [2]
    checks = TableChecks(df=None, not_null=["k"])
    publish_with_audit(
        st, local_df(spark, [(3, 7.0)], "k long, v double"),
        checks, "t")
    # deleted key stays deleted; the new row (appended AFTER the
    # delete) is untouched by the sidecar per the sequence rule
    assert sorted(r.k for r in st.read(spark).collect()) == [2, 3]


def test_publish_with_audit_onto_branch(spark, tmp_path):
    """Round-12 ADVICE: a WAP publish onto a STAGING branch was
    inexpressible through the audited path (commit_staged always took
    the default branch). With branch=, the audited commit advances
    THAT branch, chains from its head, and leaves main untouched
    until merge_branch fast-forwards it — write()'s exact parity."""
    from cube_builder_spark.quality import TableChecks, publish_with_audit

    st = SnapshotStore(str(tmp_path / "wapbranch"))
    v1 = st.write(local_df(spark, [(1, 5.0)], "k long, v double"))
    st.create_branch("audit")
    checks = TableChecks(df=None, not_null=["k"])
    v2 = publish_with_audit(
        st, local_df(spark, [(2, 6.0)], "k long, v double"),
        checks, "t", branch="audit")
    assert st.head("audit") == v2
    assert st.head("main") == v1
    assert st._read_manifest(v2).get("parent") == v1
    assert sorted(r.k for r in
                  st.read(spark, branch="audit").collect()) == [1, 2]
    assert sorted(r.k for r in st.read(spark).collect()) == [1]
    st.merge_branch("audit")
    assert st.head("main") == v2
    assert sorted(r.k for r in st.read(spark).collect()) == [1, 2]


def test_optimize_zorder_clusters_current_version(spark, tmp_path):
    from cube_builder_spark.functions.zorder import z_value
    from cube_builder_spark.sinks.snapshot import optimize_zorder
    st = SnapshotStore(str(tmp_path / "snap"))
    pts = spark.range(4000).select(
        (F.col("id") * 977 % 1024).alias("x"),
        (F.col("id") * 389 % 1024).alias("y"))
    v1 = st.write(pts.repartition(8))          # scattered layout
    v2 = optimize_zorder(st, spark, "x", "y", npartitions=4)
    new = st.read(spark, v2)
    assert new.count() == 4000
    # every optimized FILE owns a disjoint z-range
    files = st._read_manifest(v2)["files"]
    ranges = []
    for f in files:
        zf = (spark.read.parquet(f)
              .select(z_value(F.col("x"), F.col("y")).alias("z"))
              .agg(F.min("z"), F.max("z")).collect()[0])
        ranges.append((zf[0], zf[1]))
    ranges.sort()
    for a, b in zip(ranges, ranges[1:]):
        assert a[1] <= b[0]
    # pre-optimize version intact
    assert st.read(spark, v1).count() == 4000


def test_delete_keys_preserves_null_key_rows(spark, tmp_path):
    """Round-5 advisor fix: NOT isin(keys) is NULL for NULL keys —
    NULL-key rows in a rewritten file must survive a keyed delete."""
    from cube_builder_spark.sinks.snapshot import delete_keys
    st = SnapshotStore(str(tmp_path / "t"))
    df = local_df(spark,
        [(1, "a"), (2, "b"), (None, "c"), (None, "d"), (5, "e")],
        "k int, v string")
    st.write(df.coalesce(1))
    delete_keys(st, spark, [2, 5], "k")
    rows = {(r.k, r.v) for r in st.read(spark).collect()}
    assert rows == {(1, "a"), (None, "c"), (None, "d")}


def test_stream_restart_with_fresh_checkpoint_commits(spark, tmp_path):
    """Round-5 advisor fix: a stream restarted with a fresh checkpoint
    restarts batch ids at 0 under a NEW run id — its commits must land
    (batch_id-only dedup silently dropped them all)."""
    from cube_builder_spark.sinks.snapshot import write_stream_batch
    st = SnapshotStore(str(tmp_path / "t"))
    b0, b1 = _df(spark, 0, 5), _df(spark, 5, 9)
    assert write_stream_batch(st, b0, 0, run_id="run-A") == 1
    assert write_stream_batch(st, b1, 1, run_id="run-A") == 2
    # same run replays -> skipped
    assert write_stream_batch(st, b0, 0, run_id="run-A") is None
    # NEW run, ids restart at 0 -> must commit
    b2 = _df(spark, 9, 12)
    assert write_stream_batch(st, b2, 0, run_id="run-B") == 3
    assert _ids(st.read(spark)) == list(range(12))
    # and the new run's own replay is skipped
    assert write_stream_batch(st, b2, 0, run_id="run-B") is None


def test_expire_folds_stream_manifest_into_ledger(spark, tmp_path):
    """Round-7 advisor fix: expire() DROPS out-of-window stream
    manifests (so vacuum can reclaim their data) but folds each run's
    batch high-water mark into the sidecar ledger — replays stay
    skipped, new batches still land."""
    from cube_builder_spark.sinks.snapshot import write_stream_batch
    st = SnapshotStore(str(tmp_path / "t"))
    write_stream_batch(st, _df(spark, 0, 3), 0, run_id="run-A")   # v1
    st.write(_df(spark, 3, 6))                                   # v2
    st.write(_df(spark, 6, 9), mode="overwrite")                 # v3
    dropped = st.expire(keep_last=1)
    assert dropped == [1, 2]  # stream manifest no longer pinned
    # replay of batch 0 is STILL recognized via the ledger
    assert write_stream_batch(st, _df(spark, 0, 3), 0,
                              run_id="run-A") is None
    # a NEW batch of the same run lands
    assert write_stream_batch(st, _df(spark, 3, 6), 1,
                              run_id="run-A") is not None
    # and the expired run's data files are reclaimable: only v3's
    # overwrite files + the new batch remain referenced
    removed = st.vacuum()
    assert removed, "expired stream batch data must be reclaimed"
    current = st.read(spark).count()
    assert current == 6  # v3 overwrite (3 rows) + new batch (3 rows)


def test_expire_ledger_is_per_run_and_bounded(spark, tmp_path):
    """Each run_id keeps its OWN high-water mark (Delta txnAppId
    recipe); ledger_max_runs prunes the oldest-folded runs."""
    from cube_builder_spark.sinks.snapshot import write_stream_batch
    st = SnapshotStore(str(tmp_path / "t"))
    write_stream_batch(st, _df(spark, 0, 3), 7, run_id="run-A")   # v1
    write_stream_batch(st, _df(spark, 3, 6), 2, run_id="run-B")   # v2
    st.write(_df(spark, 6, 9))                                    # v3
    st.write(_df(spark, 9, 12))                                   # v4
    st.expire(keep_last=1)
    # BOTH runs' replays are recognized and skipped via the ledger
    assert write_stream_batch(st, _df(spark, 0, 3), 7,
                              run_id="run-A") is None
    assert write_stream_batch(st, _df(spark, 3, 6), 2,
                              run_id="run-B") is None
    assert st._read_ledger() == {"run-A": 7, "run-B": 2}
    # bounded retention: keep only the most recently folded run
    st.expire(keep_last=1, ledger_max_runs=1)
    assert list(st._read_ledger()) == ["run-B"]


def test_expire_ledger_bound_end_to_end(spark, tmp_path):
    """Round-8: drive MORE distinct run_ids through expire() than
    ledger_max_runs allows and pin both halves of the contract:
    (a) the sidecar stays bounded at max_runs entries no matter how
    many runs expire, and (b) a PRUNED run's re-delivered batch is NOT
    deduped — it commits again (the documented
    setTransactionRetentionDuration trade: pruning trades replay
    protection for sidecar size), rather than being silently dropped."""
    from cube_builder_spark.sinks.snapshot import write_stream_batch
    st = SnapshotStore(str(tmp_path / "t"))
    runs = [f"run-{i}" for i in range(5)]
    for i, rid in enumerate(runs):
        write_stream_batch(st, _df(spark, i * 3, i * 3 + 3), 0, run_id=rid)
        st.write(_df(spark, 100 + i, 101 + i))    # keeps a newest manifest
        st.expire(keep_last=1, ledger_max_runs=2)
        assert len(st._read_ledger()) <= 2        # (a) bounded every step
    ledger = st._read_ledger()
    assert list(ledger) == ["run-3", "run-4"]     # newest-folded retained
    # retained runs: replay still skipped
    assert write_stream_batch(st, _df(spark, 12, 15), 0,
                              run_id="run-4") is None
    # (b) pruned run: replay protection is GONE by documented design —
    # the redelivered batch lands as a fresh commit, not silence
    before = st.read(spark).count()
    v = write_stream_batch(st, _df(spark, 0, 3), 0, run_id="run-0")
    assert v is not None
    assert st.read(spark).count() == before + 3


def test_active_run_id_ambiguous_streams_raise():
    """>1 active streams: inferring a run id would merge two streams'
    (run_id, batch_id) ledgers — must raise, demanding explicit
    run_id, instead of silently sharing the 'batch' constant."""
    from types import SimpleNamespace

    from cube_builder_spark.sinks.snapshot import _active_run_id

    def fake_df(n_active):
        qs = [SimpleNamespace(runId=f"r{i}") for i in range(n_active)]
        streams = SimpleNamespace(active=qs)
        return SimpleNamespace(sparkSession=SimpleNamespace(streams=streams))

    assert _active_run_id(fake_df(1)) == "r0"
    assert _active_run_id(fake_df(0)) == "batch"   # plain-batch path
    with pytest.raises(ValueError, match="run_id"):
        _active_run_id(fake_df(2))


def test_active_run_id_zero_streams_logs_fallback(caplog):
    """The foreachBatch cloned-session case: 0 visible streams falls
    back to the shared 'batch' run_id but LOGS it, steering callers to
    pass run_id explicitly (the cloned session may hide the query)."""
    import logging
    from types import SimpleNamespace

    from cube_builder_spark.sinks.snapshot import _active_run_id

    df = SimpleNamespace(sparkSession=SimpleNamespace(
        streams=SimpleNamespace(active=[])))
    with caplog.at_level(logging.INFO,
                         logger="cube_builder_spark.sinks.snapshot"):
        assert _active_run_id(df) == "batch"
    assert any("run_id explicitly" in r.message for r in caplog.records)


# Branch refs (round 8 — Nessie/Iceberg-style named heads over the
# same manifest log) ---------------------------------------------------------

def test_branch_isolation_and_fast_forward_merge(spark, tmp_path):
    """A branch write is invisible on main until merged; merge is a
    metadata-only fast-forward; the branch ref disappears after
    merge."""
    st = SnapshotStore(str(tmp_path / "t"))
    st.write(_df(spark, 0, 3))                      # main v1
    st.create_branch("rework")
    st.write(_df(spark, 3, 6), branch="rework")     # v2 on rework
    assert st.read(spark).count() == 3              # main untouched
    assert st.read(spark, branch="rework").count() == 6
    assert st.branches() == {"main": 1, "rework": 2}
    v = st.merge_branch("rework")                   # fast-forward
    assert v == 2
    assert st.read(spark).count() == 6
    assert "rework" not in st.branches()


def test_branch_diverged_merge_rejected(spark, tmp_path):
    st = SnapshotStore(str(tmp_path / "t"))
    st.write(_df(spark, 0, 3))                      # main v1
    st.create_branch("rework")
    st.write(_df(spark, 3, 6), branch="rework")     # v2 on branch
    st.write(_df(spark, 6, 9))                      # v3 on main: diverged
    with pytest.raises(ValueError, match="diverged"):
        st.merge_branch("rework")
    # both views still intact
    assert st.read(spark).count() == 6              # v1 + v3
    assert st.read(spark, branch="rework").count() == 6  # v1 + v2


def test_branch_head_survives_expire_and_vacuum(spark, tmp_path):
    """expire() must not drop a branch head's manifest, and vacuum()
    must not reclaim its data files, no matter how far main moves
    on."""
    st = SnapshotStore(str(tmp_path / "t"))
    st.write(_df(spark, 0, 3))                      # v1
    st.create_branch("old")
    st.write(_df(spark, 3, 6), branch="old")        # v2 = branch head
    for i in range(4):                              # main v3..v6
        st.write(_df(spark, 10 + i, 11 + i), mode="overwrite")
    st.expire(keep_last=1)
    st.vacuum()
    assert 2 in st.versions()                       # head manifest kept
    assert st.read(spark, branch="old").count() == 6  # data intact
    # and the expired middle of main is really gone
    assert 3 not in st.versions()


def test_branch_unknown_and_duplicate_errors(spark, tmp_path):
    st = SnapshotStore(str(tmp_path / "t"))
    st.write(_df(spark, 0, 3))
    st.create_branch("b")
    with pytest.raises(ValueError, match="already exists"):
        st.create_branch("b")
    with pytest.raises(ValueError, match="unknown branch"):
        st.write(_df(spark, 0, 1), branch="nope")
    with pytest.raises(ValueError, match="unknown branch"):
        st.read(spark, branch="nope")
    with pytest.raises(ValueError, match="unknown branch"):
        st.merge_branch("nope")


# Model-based property test (round 8): random op sequences vs a pure
# in-memory model of the store's visible state ------------------------------

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _ops = st.lists(
        st.one_of(
            st.tuples(st.just("write"), st.integers(0, 7),
                      st.sampled_from(["append", "overwrite"])),
            st.tuples(st.just("branch_write"), st.integers(0, 7),
                      st.just("append")),
            st.tuples(st.just("create_branch"), st.integers(0, 0),
                      st.just("")),
            st.tuples(st.just("merge"), st.integers(0, 0), st.just("")),
            st.tuples(st.just("rollback_first"), st.integers(0, 0),
                      st.just("")),
        ),
        min_size=1, max_size=7)

    @settings(max_examples=12, deadline=None)
    @given(ops=_ops)
    def test_store_matches_model_under_op_sequences(ops, spark, tmp_path_factory):
        """Any sequence of write / branch-write / create-branch /
        fast-forward-merge / rollback leaves main and the branch
        showing EXACTLY what a trivial in-memory model predicts —
        divergence rejections included."""
        root = tmp_path_factory.mktemp("prop")
        stq = SnapshotStore(str(root / "s"))
        model = {"main": [], "b": None}          # visible id-batches
        versions = {}                            # version -> main view
        branch_base_is_main_head = [False]

        def batch(i):
            return list(range(i * 10, i * 10 + 3))

        for op, i, mode in ops:
            if op == "write":
                if mode == "overwrite":
                    model["main"] = [batch(i)]
                else:
                    model["main"] = model["main"] + [batch(i)]
                v = stq.write(_df(spark, i * 10, i * 10 + 3), mode=mode)
                versions[v] = list(model["main"])
                branch_base_is_main_head[0] = False
            elif op == "create_branch":
                if model["b"] is None and model["main"]:
                    stq.create_branch("b")
                    model["b"] = list(model["main"])
                    branch_base_is_main_head[0] = True
            elif op == "branch_write":
                if model["b"] is not None:
                    stq.write(_df(spark, i * 10, i * 10 + 3), branch="b")
                    model["b"] = model["b"] + [batch(i)]
            elif op == "merge":
                if model["b"] is not None:
                    if branch_base_is_main_head[0]:
                        stq.merge_branch("b")
                        model["main"] = list(model["b"])
                        model["b"] = None
                    else:
                        with pytest.raises(ValueError, match="diverged"):
                            stq.merge_branch("b")
                        # model unchanged; drop the stuck branch from
                        # further play
                        continue
            elif op == "rollback_first":
                if versions:
                    v0 = min(versions)
                    stq.rollback(v0)
                    model["main"] = list(versions[v0])
                    branch_base_is_main_head[0] = False

        def flat(batches):
            return sorted(x for b in batches for x in b)

        if model["main"]:
            assert _ids(stq.read(spark)) == flat(model["main"])
        if model["b"] is not None:
            assert _ids(stq.read(spark, branch="b")) == flat(model["b"])
except ImportError:  # pragma: no cover
    pass


# incremental MV maintenance --------------------------------------------------

def _mv(df):
    return (df.groupBy("grp")
            .agg(F.count(F.lit(1)).cast("long").alias("n_rows"),
                 F.sum("val").cast("long").alias("sum_val")))


def _rows(df):
    return sorted((r.grp, r.n_rows, r.sum_val) for r in df.collect())


def test_incremental_mv_group_move_and_zero_drop(spark, tmp_path):
    """A changed row that MOVES groups must delta BOTH groups, and a
    group whose last row leaves must VANISH from the MV (not linger
    at count 0)."""
    from cube_builder_spark.sinks.snapshot import incremental_mv, snapshot_diff

    st = SnapshotStore(str(tmp_path / "mv"))
    v1 = [(1, "a", 10), (2, "a", 20), (3, "b", 5)]
    v2 = [(1, "a", 10),            # unchanged
          (2, "c", 21),            # moved a -> c AND value changed
          (4, "a", 7)]             # 3 removed (b now empty), 4 added
    sch = "id long, grp string, val long"
    st.write(local_df(spark, v1, sch))
    st.write(local_df(spark, v2, sch), mode="overwrite")
    mv1 = _mv(st.read(spark, 1))
    diff = snapshot_diff(st, spark, 1, 2, ["id"], include_payload=True)
    got = incremental_mv(mv1, diff, "grp", {"sum_val": "val"})
    assert _rows(got) == [("a", 2, 17), ("c", 1, 21)]
    assert _rows(got) == _rows(_mv(st.read(spark, 2)))


def test_incremental_mv_matches_full_recompute_randomized(spark, tmp_path):
    """Seeded random edit batches (add/delete/update/move) applied
    through the store: the incrementally maintained MV must equal the
    full recompute BIT-EXACTLY after every version step."""
    import random

    from cube_builder_spark.sinks.snapshot import incremental_mv, snapshot_diff

    rng = random.Random(42)
    sch = "id long, grp string, val long"
    groups = ["g0", "g1", "g2", "g3"]
    table = {i: (rng.choice(groups), rng.randrange(-50, 50))
             for i in range(40)}

    st = SnapshotStore(str(tmp_path / "mvr"))
    st.write(local_df(spark,
        [(i, g, v) for i, (g, v) in table.items()], sch))
    mv = _mv(st.read(spark, 1))
    for step in range(3):
        for i in list(table):
            r = rng.random()
            if r < 0.2:
                del table[i]
            elif r < 0.4:
                table[i] = (rng.choice(groups), table[i][1])   # move
            elif r < 0.6:
                table[i] = (table[i][0], rng.randrange(-50, 50))
        for _ in range(rng.randrange(0, 8)):                   # adds
            table[max(table, default=0) + 1] = (
                rng.choice(groups), rng.randrange(-50, 50))
        v = st.write(local_df(spark,
            [(i, g, val) for i, (g, val) in table.items()], sch),
            mode="overwrite")
        diff = snapshot_diff(st, spark, v - 1, v, ["id"],
                             include_payload=True)
        mv = incremental_mv(mv, diff, "grp", {"sum_val": "val"})
        assert _rows(mv) == _rows(_mv(st.read(spark, v))), f"step {step}"


# hidden partitioning + spec evolution ----------------------------------------

def _ev(spark, ids_days):
    """(id, ts, v) rows; ts = 2024-01-<day>."""
    import datetime
    return local_df(spark,
        [(i, datetime.datetime(2024, 1, d, 12, 0), i * 10)
         for i, d in ids_days],
        "id long, ts timestamp, v long")


def test_partitioned_write_prunes_files(spark, tmp_path):
    from cube_builder_spark.sinks.snapshot import (PartitionedStore,
                                                   SnapshotStore)
    import datetime

    ps = PartitionedStore(SnapshotStore(str(tmp_path / "p")))
    ps.set_partition_spec("day", "ts")
    ps.write(_ev(spark, [(1, 1), (2, 2), (3, 10), (4, 20), (5, 28)]))
    lo, hi = datetime.datetime(2024, 1, 9), datetime.datetime(2024, 1, 21)
    df, kept, total = ps.read_pruned(spark, "ts", lo, hi)
    assert kept < total            # day files outside the window skipped
    got = sorted(r.id for r in
                 df.filter((F.col("ts") >= F.lit(lo))
                           & (F.col("ts") < F.lit(hi))).collect())
    assert got == [3, 4]
    # partition column is HIDDEN: not part of the schema read back
    assert set(df.columns) == {"id", "ts", "v"}


def test_spec_evolution_prunes_per_file_spec(spark, tmp_path):
    """Old day-spec files keep pruning by day after the spec evolves
    to month; month files prune by month; nothing is rewritten."""
    from cube_builder_spark.sinks.snapshot import (PartitionedStore,
                                                   SnapshotStore)
    import datetime

    st = SnapshotStore(str(tmp_path / "p"))
    ps = PartitionedStore(st)
    ps.set_partition_spec("day", "ts")
    v1 = ps.write(_ev(spark, [(1, 1), (2, 15), (3, 28)]))
    v1_files = set(st._read_manifest(v1)["files"])
    ps.set_partition_spec("month", "ts")
    v2 = ps.write(_ev(spark, [(4, 16), (5, 17)]), mode="append")
    # evolution rewrote nothing: v1's files carry over verbatim
    assert v1_files <= set(st._read_manifest(v2)["files"])

    lo, hi = datetime.datetime(2024, 1, 14), datetime.datetime(2024, 1, 18)
    df, kept, total = ps.read_pruned(spark, "ts", lo, hi)
    # kept = day-15 file + the month-spec file(s); day 1 and 28 skipped
    assert kept < total
    got = sorted(r.id for r in
                 df.filter((F.col("ts") >= F.lit(lo))
                           & (F.col("ts") < F.lit(hi))).collect())
    assert got == [2, 4, 5]
    # a window in another month skips ALL files -> explicit error
    with pytest.raises(FileNotFoundError):
        ps.read_pruned(spark, "ts", datetime.datetime(2024, 3, 1),
                       datetime.datetime(2024, 3, 2))


def test_partition_spec_guards(spark, tmp_path):
    from cube_builder_spark.sinks.snapshot import (PartitionedStore,
                                                   SnapshotStore)
    import datetime

    ps = PartitionedStore(SnapshotStore(str(tmp_path / "p")))
    with pytest.raises(ValueError):
        ps.set_partition_spec("hour", "ts")
    # no spec set -> falls through to the plain store write
    v = ps.write(_ev(spark, [(1, 1)]))
    assert v == 1
    # files without partition metadata are conservatively READ
    df, kept, total = ps.read_pruned(
        spark, "ts", datetime.datetime(2024, 6, 1),
        datetime.datetime(2024, 6, 2))
    assert kept == total
    # identity spec on another column: time predicate keeps the file
    ps.set_partition_spec("identity", "id")
    ps.write(_ev(spark, [(7, 3)]), mode="append")
    df, kept, total = ps.read_pruned(
        spark, "ts", datetime.datetime(2024, 1, 1),
        datetime.datetime(2024, 2, 1))
    assert kept == total


# Timestamp time travel + metadata-only stats (round 8, continued) -----------

def test_timestamp_as_of_resolution(spark, tmp_path):
    """Delta's timestampAsOf rule: latest commit at-or-before the
    timestamp; pre-first-commit timestamps are an error; a timestamp
    after the last commit resolves to the head. Manifests without a
    recorded ts (pre-timestamp stores) fall back to file mtime."""
    import json
    import time

    st = SnapshotStore(str(tmp_path / "snap"))
    st.write(_df(spark, 0, 5))
    t_between = time.time()
    time.sleep(0.05)
    st.write(_df(spark, 5, 8))
    assert st.version_at(t_between) == 1
    assert st.version_at(time.time() + 100) == 2
    assert _ids(st.read(spark, timestamp=t_between)) == list(range(5))
    with pytest.raises(ValueError, match="predates"):
        st.version_at(0.0)
    with pytest.raises(ValueError, match="not both"):
        st.read(spark, version=1, timestamp=t_between)
    # legacy manifest without ts -> mtime fallback still resolves
    m = st._read_manifest(1)
    del m["ts"]
    with open(st._manifest_path(1), "w") as fh:
        json.dump(m, fh)
    assert st.version_at(time.time() + 100) == 2


def test_metadata_stats_exact_across_append_and_delete(spark, tmp_path):
    """Footer-only count/min/max/nulls equal a real scan after append
    AND after a delete rewrite (immutable files keep footers
    authoritative); non-integer stats columns are rejected."""
    from cube_builder_spark.sinks.snapshot import (delete_keys,
                                                   metadata_stats)

    st = SnapshotStore(str(tmp_path / "snap"))
    st.write(_df(spark, 0, 50))
    st.write(_df(spark, 50, 70))
    delete_keys(st, spark, [0, 1, 2, 64], "id")

    got = {r.col_name: r for r in
           metadata_stats(st, spark, ["id"]).collect()}
    live = st.read(spark)
    want = live.agg(F.count(F.lit(1)).alias("n"),
                    F.min("id").alias("mn"),
                    F.max("id").alias("mx")).collect()[0]
    assert got["id"].n_rows == want.n == 66
    assert got["id"].n_nulls == 0
    assert got["id"].min_val == want.mn == 3
    assert got["id"].max_val == want.mx == 69

    with pytest.raises((TypeError, ValueError)):
        metadata_stats(st, spark, ["missing_col"])


# -- merge-on-read deletion vectors (equality-delete sidecars) ---------------


def _mor_setup(spark, tmp_path):
    from cube_builder_spark.sinks.snapshot import delete_keys_mor
    st = SnapshotStore(str(tmp_path / "snap"))
    st.write(_df(spark, 0, 10))
    v2 = st.write(_df(spark, 10, 20))
    v3 = delete_keys_mor(
        st, spark, spark.range(0, 20, 7).select(F.col("id")), ["id"])
    return st, v2, v3


def test_mor_delete_touches_zero_data_files(spark, tmp_path):
    """The whole point of the deletion-vector trade: the DELETE commit
    moves no data — the file list is the parent's, byte for byte."""
    st, v2, v3 = _mor_setup(spark, tmp_path)
    assert st._read_manifest(v3)["files"] == st._read_manifest(v2)["files"]
    assert _ids(st.read(spark)) == [k for k in range(20) if k % 7]
    # time travel to the pre-delete version still sees everything
    assert _ids(st.read(spark, v2)) == list(range(20))


def test_mor_sequence_rule_reinsert_survives(spark, tmp_path):
    """Iceberg sequence semantics: an equality delete applies only to
    data files with a STRICTLY older sequence — a later re-insert of a
    deleted key lives, and a later delete kills it again."""
    from cube_builder_spark.sinks.snapshot import delete_keys_mor
    st, _v2, _v3 = _mor_setup(spark, tmp_path)
    st.write(local_df(spark, [(7, 777)], "id long, v long"))
    assert 7 in _ids(st.read(spark))
    delete_keys_mor(st, spark,
                    local_df(spark, [(7,)], "id long"), ["id"])
    got = _ids(st.read(spark))
    assert 7 not in got and 0 not in got and 14 not in got


def test_mor_null_key_rows_survive(spark, tmp_path):
    from cube_builder_spark.sinks.snapshot import delete_keys_mor
    st = SnapshotStore(str(tmp_path / "snap"))
    st.write(local_df(spark, [(1, 10), (None, 20), (2, 30)],
                      "id long, v long"))
    delete_keys_mor(st, spark,
                    local_df(spark, [(1,)], "id long"), ["id"])
    rows = {(r.id, r.v) for r in st.read(spark).collect()}
    assert rows == {(None, 20), (2, 30)}


def test_materialize_deletes_prunes_and_preserves(spark, tmp_path):
    """Folding the sidecars rewrites ONLY footer-matching files (the
    delete targets id<5, so the upper-range file carries over by
    reference), drops the delete entries, and changes no data."""
    from cube_builder_spark.sinks.snapshot import (delete_keys_mor,
                                                   materialize_deletes)
    st = SnapshotStore(str(tmp_path / "snap"))
    st.write(_df(spark, 0, 10).repartitionByRange(2, "id"))
    st.write(_df(spark, 10, 20).repartitionByRange(2, "id"))
    delete_keys_mor(st, spark, spark.range(0, 5).select("id"), ["id"])
    before = st._read_manifest(st.head("main"))
    expected = _ids(st.read(spark))
    v, n = materialize_deletes(st, spark)
    m = st._read_manifest(v)
    assert not m.get("deletes")
    assert 0 < n < len(before["files"])
    assert len(set(m["files"]) & set(before["files"])) > 0
    assert _ids(st.read(spark, v)) == expected == list(range(5, 20))
    # second pass is a no-op
    v2, n2 = materialize_deletes(st, spark)
    assert (v2, n2) == (v, 0)


def test_mor_vacuum_keeps_delete_sidecars(spark, tmp_path):
    """Delete sidecar files are manifest-referenced state: vacuum must
    never reclaim one while a retained manifest needs it; after
    materialize + expire they become garbage and go."""
    from cube_builder_spark.sinks.snapshot import (delete_keys_mor,
                                                   materialize_deletes)
    st = SnapshotStore(str(tmp_path / "snap"))
    st.write(_df(spark, 0, 10))
    delete_keys_mor(st, spark, spark.range(0, 3).select("id"), ["id"])
    dpaths = st._read_manifest(st.head("main"))["deletes"][0]["paths"]
    assert st.vacuum() == []
    assert all(os.path.exists(p) for p in dpaths)
    assert _ids(st.read(spark)) == list(range(3, 10))
    materialize_deletes(st, spark)
    st.expire(keep_last=1)
    removed = st.vacuum()
    assert set(dpaths) <= set(removed)
    assert _ids(st.read(spark)) == list(range(3, 10))


def test_mor_blocks_footer_dependent_paths(spark, tmp_path):
    """metadata_stats and merge-on-write delete_keys both assume
    footer stats describe live rows — pending MoR deletes break that,
    so both must refuse rather than answer wrong."""
    from cube_builder_spark.sinks.snapshot import (delete_keys,
                                                   delete_keys_mor,
                                                   metadata_stats)
    st = SnapshotStore(str(tmp_path / "snap"))
    st.write(_df(spark, 0, 10))
    delete_keys_mor(st, spark, spark.range(0, 3).select("id"), ["id"])
    with pytest.raises(ValueError, match="merge-on-read"):
        metadata_stats(st, spark, ["id"])
    with pytest.raises(ValueError, match="merge-on-read"):
        delete_keys(st, spark, [5], "id")


def test_mor_stream_batch_carries_deletes(spark, tmp_path):
    """A streamed append after a MoR delete keeps the pending delete
    AND its own rows (fresh sequence) — the foreachBatch sink path."""
    from cube_builder_spark.sinks.snapshot import (delete_keys_mor,
                                                   write_stream_batch)
    st = SnapshotStore(str(tmp_path / "snap"))
    st.write(_df(spark, 0, 10))
    delete_keys_mor(st, spark, spark.range(0, 3).select("id"), ["id"])
    write_stream_batch(st, local_df(spark, [(1, 111)],
                                    "id long, v long"),
                       batch_id=0, run_id="r1")
    got = _ids(st.read(spark))
    assert got == [1] + list(range(3, 10))


# min/max incremental MV (non-self-maintainable half) -------------------------


def _mvx(df):
    return (df.groupBy("grp")
            .agg(F.count(F.lit(1)).cast("long").alias("n_rows"),
                 F.min("val").cast("long").alias("min_val"),
                 F.max("val").cast("long").alias("max_val")))


def _rowsx(df):
    return sorted((r.grp, r.n_rows, r.min_val, r.max_val)
                  for r in df.collect())


def test_minmax_mv_dirty_classification_is_bounded(spark, tmp_path):
    """Interior deletes roll forward WITHOUT flagging the group; only
    extreme-touching removals land in the dirty set."""
    from cube_builder_spark.sinks.snapshot import (minmax_dirty_groups,
                                                   snapshot_diff)
    sch = "id long, grp string, val long"
    st = SnapshotStore(str(tmp_path / "mvx"))
    st.write(local_df(spark,
        [(1, "a", 10), (2, "a", 20), (3, "a", 30),
         (4, "b", 5), (5, "b", 7)], sch))
    mv1 = _mvx(st.read(spark, 1))
    # drop a's INTERIOR value (20) and b's MIN (5)
    st.write(local_df(spark,
        [(1, "a", 10), (3, "a", 30), (5, "b", 7)], sch), mode="overwrite")
    diff = snapshot_diff(st, spark, 1, 2, ["id"], include_payload=True)
    dirty = {r.grp for r in minmax_dirty_groups(
        mv1, diff, "grp", {"min_val": "val"}, {"max_val": "val"}).collect()}
    assert dirty == {"b"}


def test_minmax_mv_hand_worked(spark, tmp_path):
    """Extreme-delete recompute, clean-group merge, group move, new
    group, zero-count drop — one batch, checked against recompute."""
    from cube_builder_spark.sinks.snapshot import (incremental_mv_minmax,
                                                   snapshot_diff)
    sch = "id long, grp string, val long"
    st = SnapshotStore(str(tmp_path / "mvx"))
    st.write(local_df(spark,
        [(1, "a", 10), (2, "a", 20), (3, "b", 5), (4, "b", 9),
         (5, "c", 1)], sch))
    mv1 = _mvx(st.read(spark, 1))
    st.write(local_df(spark,
        [(1, "a", 10), (2, "a", 15),          # a: max 20 -> mutated 15
         (3, "d", 5), (4, "b", 9),            # b: min 5 moved to NEW grp d
         (6, "b", 100)], sch),                # b: new max; c: dies
        mode="overwrite")
    diff = snapshot_diff(st, spark, 1, 2, ["id"], include_payload=True)
    got = incremental_mv_minmax(mv1, diff, st.read(spark, 2), "grp",
                                {"min_val": "val"}, {"max_val": "val"})
    assert _rowsx(got) == _rowsx(_mvx(st.read(spark, 2)))
    assert ("c",) not in {(g,) for g, *_ in _rowsx(got)}


def test_minmax_mv_matches_full_recompute_randomized(spark, tmp_path):
    """Seeded random edits: the maintained (count, min, max) MV must
    equal the full recompute bit-exactly after every version step."""
    import random

    from cube_builder_spark.sinks.snapshot import (incremental_mv_minmax,
                                                   snapshot_diff)

    rng = random.Random(7)
    sch = "id long, grp string, val long"
    groups = ["g0", "g1", "g2", "g3"]
    table = {i: (rng.choice(groups), rng.randrange(-50, 50))
             for i in range(40)}
    st = SnapshotStore(str(tmp_path / "mvxr"))
    st.write(local_df(spark,
        [(i, g, v) for i, (g, v) in table.items()], sch))
    mv = _mvx(st.read(spark, 1))
    for step in range(3):
        for i in list(table):
            r = rng.random()
            if r < 0.2:
                del table[i]
            elif r < 0.4:
                table[i] = (rng.choice(groups), table[i][1])
            elif r < 0.6:
                table[i] = (table[i][0], rng.randrange(-50, 50))
        for _ in range(rng.randrange(0, 8)):
            table[max(table, default=0) + 1] = (
                rng.choice(groups), rng.randrange(-50, 50))
        v = st.write(local_df(spark,
            [(i, g, val) for i, (g, val) in table.items()], sch),
            mode="overwrite")
        diff = snapshot_diff(st, spark, v - 1, v, ["id"],
                             include_payload=True)
        mv = incremental_mv_minmax(mv, diff, st.read(spark, v), "grp",
                                   {"min_val": "val"}, {"max_val": "val"})
        assert _rowsx(mv) == _rowsx(_mvx(st.read(spark, v))), f"step {step}"


def test_mor_composes_with_hidden_partitioning(spark, tmp_path):
    """A MoR delete over a hidden-partitioned store: the pruned read
    must apply the equality deletes over the kept files."""
    import datetime

    from cube_builder_spark.sinks.snapshot import (PartitionedStore,
                                                   SnapshotStore,
                                                   delete_keys_mor)
    st = SnapshotStore(str(tmp_path / "snap"))
    ps = PartitionedStore(st)
    ps.set_partition_spec("day", "ts")
    rows = [(i, datetime.datetime(2024, 1, 1 + (i % 10), 12, 0), i * 10)
            for i in range(30)]
    ps.write(local_df(spark, rows, "id long, ts timestamp, v long"))
    delete_keys_mor(st, spark, spark.range(0, 30, 3).select("id"), ["id"])
    lo, hi = datetime.datetime(2024, 1, 1), datetime.datetime(2024, 1, 4)
    df, n_read, n_total = ps.read_pruned(spark, "ts", lo, hi)
    got = sorted(r.id for r in df.filter(
        (F.col("ts") >= lo) & (F.col("ts") < hi)).collect())
    want = sorted(i for i in range(30)
                  if i % 3 != 0 and 1 + (i % 10) in (1, 2, 3))
    assert got == want
    assert n_read < n_total


# copy-on-write MERGE upsert ---------------------------------------------------


def test_merge_upsert_updates_inserts_and_prunes(spark, tmp_path):
    from cube_builder_spark.sinks.snapshot import (SnapshotStore,
                                                   merge_upsert)
    st = SnapshotStore(str(tmp_path / "snap"))
    st.write(_df(spark, 0, 20).repartitionByRange(4, "id"))
    before = st._read_manifest(st.head("main"))["files"]
    # update ids 0-2 (low range), insert ids 100-101
    upd = local_df(spark,
        [(0, 999), (1, 998), (2, 997), (100, 500), (101, 501)],
        "id long, v long")
    v, n = merge_upsert(st, spark, upd, "id")
    assert 0 < n < len(before)          # pruned: high-range files carry
    assert len(set(st._read_manifest(v)["files"]) & set(before)) > 0
    rows = {r.id: r.v for r in st.read(spark).collect()}
    assert rows[0] == 999 and rows[2] == 997 and rows[100] == 500
    assert rows[5] == 15 and len(rows) == 22
    # pre-merge version unchanged
    assert _ids(st.read(spark, 1)) == list(range(20))


def test_merge_upsert_null_key_rows_survive(spark, tmp_path):
    from cube_builder_spark.sinks.snapshot import (SnapshotStore,
                                                   merge_upsert)
    st = SnapshotStore(str(tmp_path / "snap"))
    st.write(local_df(spark, [(1, 10), (None, 20)], "id long, v long"))
    merge_upsert(st, spark,
                 local_df(spark, [(1, 99)], "id long, v long"), "id")
    rows = {(r.id, r.v) for r in st.read(spark).collect()}
    assert rows == {(1, 99), (None, 20)}


def test_merge_upsert_refuses_pending_mor_deletes(spark, tmp_path):
    from cube_builder_spark.sinks.snapshot import (SnapshotStore,
                                                   delete_keys_mor,
                                                   merge_upsert)
    st = SnapshotStore(str(tmp_path / "snap"))
    st.write(_df(spark, 0, 10))
    delete_keys_mor(st, spark, spark.range(0, 3).select("id"), ["id"])
    with pytest.raises(ValueError, match="merge-on-read"):
        merge_upsert(st, spark,
                     local_df(spark, [(5, 1)], "id long, v long"),
                     "id")


# per-file bloom index ---------------------------------------------------------


def test_bloom_index_no_false_negatives_and_prunes(spark, tmp_path):
    from cube_builder_spark.sinks.snapshot import (SnapshotStore,
                                                   bloom_point_read,
                                                   build_bloom_index)
    st = SnapshotStore(str(tmp_path / "snap"))
    st.write(_df(spark, 0, 200).repartition(8, "id"))
    build_bloom_index(st, spark, "id")
    pruned_any = False
    for key in (0, 17, 63, 199):
        df, n_read, n_total = bloom_point_read(st, spark, "id", key)
        rows = df.collect()
        assert [(r.id, r.v) for r in rows] == [(key, key * 3)]
        assert n_read <= n_total
        pruned_any = pruned_any or n_read < n_total
    assert pruned_any
    # absent key: either provably absent (0 files) or FP reads -> 0 rows
    df, n_read, n_total = bloom_point_read(st, spark, "id", 10**9)
    assert df.count() == 0


def test_bloom_index_post_build_appends_read_conservatively(spark, tmp_path):
    from cube_builder_spark.sinks.snapshot import (SnapshotStore,
                                                   bloom_point_read,
                                                   build_bloom_index)
    st = SnapshotStore(str(tmp_path / "snap"))
    st.write(_df(spark, 0, 50).repartition(4, "id"))
    build_bloom_index(st, spark, "id")
    st.write(_df(spark, 1000, 1001))       # appended AFTER the index
    df, n_read, n_total = bloom_point_read(st, spark, "id", 1000)
    assert [(r.id, r.v) for r in df.collect()] == [(1000, 3000)]


# CHECK constraints (round 9) --------------------------------------------------

def test_check_constraints_enforcement(spark, tmp_path):
    from cube_builder_spark.sinks.snapshot import (ConstraintViolation,
                                                   SnapshotStore,
                                                   add_check_constraint,
                                                   check_constraints,
                                                   checked_write)
    import pytest as _pytest

    st = SnapshotStore(str(tmp_path / "chk"))
    add_check_constraint(st, "v_pos", "v > 0")
    add_check_constraint(st, "k_small", "k < 100")
    assert check_constraints(st) == {"v_pos": "v > 0", "k_small": "k < 100"}
    with _pytest.raises(ValueError):
        add_check_constraint(st, "v_pos", "v > 1")   # duplicate name

    ok = local_df(spark, [(1, 5), (2, 7)], "k long, v long")
    v1 = checked_write(st, ok)
    assert st.read(spark, v1).count() == 2

    # violating batch: exact violation count, named constraint, and
    # NOTHING changed — head, manifest count, data files
    bad = local_df(spark, [(3, -1), (4, 2), (5, 0)], "k long, v long")
    import os
    files_before = sorted(
        os.path.join(dp, f)
        for dp, _dn, fn in os.walk(os.path.join(st.root, "data"))
        for f in fn if f.endswith(".parquet"))
    with _pytest.raises(ConstraintViolation) as ei:
        checked_write(st, bad)
    assert ei.value.name == "v_pos" and ei.value.n_bad == 2
    assert st.head("main") == v1 and st.versions() == [v1]
    files_after = sorted(
        os.path.join(dp, f)
        for dp, _dn, fn in os.walk(os.path.join(st.root, "data"))
        for f in fn if f.endswith(".parquet"))
    assert files_after == files_before

    # constraint ordering: first violated constraint in registration
    # order raises even if a later one is also violated
    both_bad = local_df(spark, [(500, -9)], "k long, v long")
    with _pytest.raises(ConstraintViolation) as ei:
        checked_write(st, both_bad)
    assert ei.value.name == "v_pos"

    # NULL passes (SQL-standard CHECK), explicit NOT NULL guard rejects
    nulls = local_df(spark, [(6, None)], "k long, v long")
    v2 = checked_write(st, nulls)
    assert st.read(spark, v2).count() == 3
    add_check_constraint(st, "v_not_null", "v IS NOT NULL AND v > 0")
    with _pytest.raises(ConstraintViolation) as ei:
        checked_write(st, local_df(spark, [(7, None)],
                                   "k long, v long"))
    assert ei.value.name == "v_not_null"


def test_checked_write_without_constraints_is_plain_write(spark, tmp_path):
    from cube_builder_spark.sinks.snapshot import (SnapshotStore,
                                                   checked_write)
    st = SnapshotStore(str(tmp_path / "nochk"))
    v = checked_write(st, local_df(spark, [(1, -5)], "k long, v long"))
    assert st.read(spark, v).count() == 1


def test_scd2_merge_lifecycle(spark, tmp_path):
    """SCD2 on the store: change closes + inserts; brand-new key
    inserts without closing; no-op batch commits nothing; NULL-safe
    attribute comparison treats NULL->NULL as unchanged."""
    from pyspark.sql import functions as F
    from cube_builder_spark.sinks.snapshot import SnapshotStore, scd2_merge

    st = SnapshotStore(str(tmp_path / "scd2"))
    init = local_df(spark,
        [(1, "A", None), (2, "B", 5)],
        "k long, seg string, score long") \
        .withColumn("valid_from", F.lit("2024-01-01").cast("date")) \
        .withColumn("valid_to", F.lit(None).cast("date")) \
        .withColumn("is_current", F.lit(True))
    st.write(init.withColumn(
        "sk", F.concat_ws("|", F.col("k").cast("string"),
                          F.col("valid_from").cast("string"))))

    # k=1 unchanged (NULL score stays NULL -> NULL-safe no-op),
    # k=2 seg changes, k=3 brand new
    upd = local_df(spark,
        [(1, "A", None), (2, "C", 5), (3, "D", 9)],
        "k long, seg string, score long")
    v, nc, ni = scd2_merge(st, spark, upd, "k", ["seg", "score"],
                           "2024-02-01")
    assert (nc, ni) == (1, 2)
    rows = {(r.k, str(r.valid_from)): (r.seg, r.score, str(r.valid_to),
                                       r.is_current)
            for r in st.read(spark, v).collect()}
    assert rows[(1, "2024-01-01")] == ("A", None, "None", True)
    assert rows[(2, "2024-01-01")] == ("B", 5, "2024-02-01", False)
    assert rows[(2, "2024-02-01")] == ("C", 5, "None", True)
    assert rows[(3, "2024-02-01")] == ("D", 9, "None", True)

    # replay: full no-op, head untouched, no new version
    v2, nc2, ni2 = scd2_merge(st, spark, upd, "k", ["seg", "score"],
                              "2024-03-01")
    assert (v2, nc2, ni2) == (v, 0, 0)
    assert st.head("main") == v

    # third change on k=2 stacks history (two closed + one current)
    upd3 = local_df(spark, [(2, "E", 5)], "k long, seg string, score long")
    v3, nc3, ni3 = scd2_merge(st, spark, upd3, "k", ["seg", "score"],
                              "2024-04-01")
    assert (nc3, ni3) == (1, 1)
    k2 = sorted((str(r.valid_from), str(r.valid_to), r.seg, r.is_current)
                for r in st.read(spark, v3).filter(F.col("k") == 2).collect())
    assert k2 == [("2024-01-01", "2024-02-01", "B", False),
                  ("2024-02-01", "2024-04-01", "C", False),
                  ("2024-04-01", "None", "E", True)]


def test_scd2_merge_same_day_change_is_in_place(spark, tmp_path):
    """effective == the current row's valid_from (same-day correction
    / two batches with one effective date): the change must be applied
    IN PLACE — one current row with the new attributes, no zero-length
    history row, and neither the close row nor the insert row silently
    lost to the sk collision (round-9 advisor, medium)."""
    from pyspark.sql import functions as F
    from cube_builder_spark.sinks.snapshot import SnapshotStore, scd2_merge

    st = SnapshotStore(str(tmp_path / "scd2sd"))
    init = local_df(spark, [(1, "A"), (2, "B")],
                    "k long, seg string") \
        .withColumn("valid_from", F.lit("2024-01-05").cast("date")) \
        .withColumn("valid_to", F.lit(None).cast("date")) \
        .withColumn("is_current", F.lit(True))
    st.write(init.withColumn(
        "sk", F.concat_ws("|", F.col("k").cast("string"),
                          F.col("valid_from").cast("string"))))

    # second batch, SAME effective date, k=1 changes
    upd2 = local_df(spark, [(1, "A2")], "k long, seg string")
    v2, nc2, ni2 = scd2_merge(st, spark, upd2, "k", ["seg"], "2024-01-05")
    assert (nc2, ni2) == (0, 1)
    rows = sorted((r.k, r.seg, str(r.valid_from), str(r.valid_to),
                   r.is_current) for r in st.read(spark, v2).collect())
    assert rows == [(1, "A2", "2024-01-05", "None", True),
                    (2, "B", "2024-01-05", "None", True)]

    # a LATER effective date still closes + inserts normally
    upd3 = local_df(spark, [(1, "A3")], "k long, seg string")
    v3, nc3, ni3 = scd2_merge(st, spark, upd3, "k", ["seg"], "2024-02-01")
    assert (nc3, ni3) == (1, 1)
    k1 = sorted((r.seg, str(r.valid_from), str(r.valid_to), r.is_current)
                for r in st.read(spark, v3)
                .filter(F.col("k") == 1).collect())
    assert k1 == [("A2", "2024-01-05", "2024-02-01", False),
                  ("A3", "2024-02-01", "None", True)]


def test_occ_append_branch_commits_do_not_block(spark, tmp_path):
    """Conflict detection walks MAIN's parent chain: an overwrite on a
    STAGING branch between read and commit must not block a main
    append (it is invisible to main readers)."""
    from cube_builder_spark.sinks.snapshot import SnapshotStore, occ_append

    st = SnapshotStore(str(tmp_path / "occ"))
    one = local_df(spark, [(1,)], "k long")
    v1 = st.write(one)
    st.create_branch("stage")
    st.write(local_df(spark, [(9,)], "k long"),
             mode="overwrite", branch="stage")        # branch overwrite
    v2, rebased = occ_append(st, local_df(spark, [(2,)], "k long"),
                             expected_head=v1)
    assert not rebased and st.head("main") == v2
    assert st.read(spark, v2).count() == 2


def test_occ_append_rebase_and_conflict(spark, tmp_path):
    """Blind-append interleave rebases; rollback (a non-append main
    commit) conflicts; unrelated expected head conflicts."""
    import pytest as _pytest
    from cube_builder_spark.sinks.snapshot import (ConcurrentCommitConflict,
                                                   SnapshotStore, occ_append)

    st = SnapshotStore(str(tmp_path / "occ2"))
    mk = lambda k: local_df(spark, [(k,)], "k long")  # noqa: E731
    v1 = st.write(mk(1))
    st.write(mk(2))                                   # interloper append
    v3, rebased = occ_append(st, mk(3), expected_head=v1)
    assert rebased and st.read(spark, v3).count() == 3

    st.rollback(v1)                                   # non-append commit
    with _pytest.raises(ConcurrentCommitConflict) as ei:
        occ_append(st, mk(4), expected_head=v3)
    assert "rollback" in ei.value.blocking_op
    # failed txn left no data files that any manifest references —
    # and vacuum reclaims the unreferenced ones it wrote before failing
    assert st.read(spark).count() == 1                # rolled-back view


def test_occ_append_expired_chain_cleans_staged_files(spark, tmp_path):
    """If an intervening manifest in the parent-chain walk was
    EXPIRED, occ_append must raise ConcurrentCommitConflict
    ('unprovable-history') AND remove the staged data subdir — the
    round-9 advisor found this path orphaning files that the other
    two failure branches clean up."""
    import os

    import pytest as _pytest
    from cube_builder_spark.sinks.snapshot import (ConcurrentCommitConflict,
                                                   SnapshotStore, occ_append)

    st = SnapshotStore(str(tmp_path / "occ3"))
    mk = lambda k: local_df(spark, [(k,)], "k long")  # noqa: E731
    v1 = st.write(mk(1))
    st.write(mk(2))
    st.write(mk(3))
    st.expire(keep_last=1)              # drops v1 and the middle commit

    def data_files():
        out = []
        for dp, _dn, fn in os.walk(os.path.join(st.root, "data")):
            out.extend(os.path.join(dp, f) for f in fn
                       if f.endswith(".parquet"))
        return sorted(out)

    before = data_files()
    with _pytest.raises(ConcurrentCommitConflict) as ei:
        occ_append(st, mk(4), expected_head=v1)
    assert ei.value.blocking_op == "unprovable-history"
    assert data_files() == before       # staged subdir removed
    assert st.read(spark).count() == 3  # head untouched


def test_shallow_clone_zero_copy_and_independence(spark, tmp_path):
    from cube_builder_spark.sinks.snapshot import (SnapshotStore,
                                                   delete_keys,
                                                   shallow_clone)
    src = SnapshotStore(str(tmp_path / "csrc"))
    src.write(_df(spark, 0, 10))
    src.write(_df(spark, 10, 20))
    clone = shallow_clone(src, str(tmp_path / "cdst"))
    # clone head takes the SOURCE's version number (MoR seq safety)
    assert clone.head("main") == src.head("main") == 2
    # zero copy: no parquet landed under the clone's data dir
    assert not any(f.endswith(".parquet")
                   for _d, _s, fs in os.walk(str(tmp_path / "cdst" / "data"))
                   for f in fs)
    assert _ids(clone.read(spark)) == list(range(20))

    # source evolution invisible to the clone
    src.write(_df(spark, 20, 25))
    assert _ids(clone.read(spark)) == list(range(20))
    # clone CoW delete rewrites into the CLONE's root, source intact
    v, _n = delete_keys(clone, spark, [3], "id")
    assert _ids(clone.read(spark, v)) == [i for i in range(20) if i != 3]
    assert _ids(src.read(spark)) == list(range(25))
    # clone vacuum never reaches source files
    assert clone.vacuum() == []
    assert _ids(src.read(spark)) == list(range(25))


def test_shallow_clone_guards(spark, tmp_path):
    import pytest as _pytest
    from cube_builder_spark.sinks.snapshot import SnapshotStore, shallow_clone
    empty = SnapshotStore(str(tmp_path / "ge"))
    with _pytest.raises(ValueError):
        shallow_clone(empty, str(tmp_path / "gd"))
    src = SnapshotStore(str(tmp_path / "gs"))
    src.write(_df(spark, 0, 3))
    used = SnapshotStore(str(tmp_path / "gu"))
    used.write(_df(spark, 5, 8))
    with _pytest.raises(ValueError):
        shallow_clone(src, str(tmp_path / "gu"))


def test_shallow_clone_carried_mor_delete_vs_new_appends(spark, tmp_path):
    """The carried equality-delete (seq = source head) must hide the
    CLONED rows it matched but NOT rows the clone appends afterwards —
    the naive clone-starts-at-v1 numbering fails this."""
    from cube_builder_spark.sinks.snapshot import (SnapshotStore,
                                                   delete_keys_mor,
                                                   shallow_clone)
    src = SnapshotStore(str(tmp_path / "msrc"))
    src.write(_df(spark, 0, 10))
    delete_keys_mor(src, spark,
                    local_df(spark, [(2,), (4,)], "id long"), ["id"])
    clone = shallow_clone(src, str(tmp_path / "mdst"))
    assert _ids(clone.read(spark)) == [i for i in range(10)
                                       if i not in (2, 4)]
    clone.write(_df(spark, 2, 5))          # re-insert 2, 3, 4
    assert _ids(clone.read(spark)) == sorted(
        [i for i in range(10) if i not in (2, 4)] + [2, 3, 4])


def test_incremental_read_semantics(spark, tmp_path):
    from cube_builder_spark.sinks.snapshot import (NonAppendInRange,
                                                   SnapshotStore,
                                                   incremental_read)
    st = SnapshotStore(str(tmp_path / "inc"))
    v1 = st.write(_df(spark, 0, 5))
    v2 = st.write(_df(spark, 5, 8))
    v3 = st.write(_df(spark, 8, 10))
    assert _ids(incremental_read(st, spark, v1, v3)) == list(range(5, 10))
    assert _ids(incremental_read(st, spark, v2)) == [8, 9]
    # empty range: schema-stable empty frame
    empty = incremental_read(st, spark, v3, v3)
    assert empty.count() == 0 and empty.columns == ["id", "v"]
    # non-ancestor range rejected
    import pytest as _pytest
    with _pytest.raises(ValueError):
        incremental_read(st, spark, v3, v1)
    # overwrite inside the range -> NonAppendInRange
    st.write(_df(spark, 100, 103), mode="overwrite")
    with _pytest.raises(NonAppendInRange):
        incremental_read(st, spark, v2)
    # but a fresh append AFTER the overwrite tails cleanly
    v5 = st.write(_df(spark, 200, 202))
    assert _ids(incremental_read(st, spark, 4, v5)) == [200, 201]


def test_incremental_read_tails_stream_commits(spark, tmp_path):
    """Append-mode streaming-sink commits are blind cumulative appends
    and must be tailable (round-10 review: op 'stream[n]' was wrongly
    rejected); a non-ancestor v_from raises ValueError even with a
    non-append below head (classification order)."""
    import pytest as _pytest
    from cube_builder_spark.sinks.snapshot import (SnapshotStore,
                                                   incremental_read,
                                                   write_stream_batch)
    st = SnapshotStore(str(tmp_path / "incs"))
    v1 = st.write(_df(spark, 0, 5))
    write_stream_batch(st, _df(spark, 5, 8), 0, run_id="r")
    write_stream_batch(st, _df(spark, 8, 10), 1, run_id="r")
    assert _ids(incremental_read(st, spark, v1)) == list(range(5, 10))
    # classification order: bogus v_from -> ValueError, not
    # NonAppendInRange, even after an overwrite lands below head
    st.write(_df(spark, 100, 102), mode="overwrite")
    with _pytest.raises(ValueError, match="not an ancestor"):
        incremental_read(st, spark, 999)


def test_scd2_same_day_correction_then_later_change(spark, tmp_path):
    """Round-11 hardening (verdict punch #6): the SAME key takes a
    same-day correction (batch 2, in-place under the existing sk) AND
    a later-day change (batch 3, close + insert) in successive
    batches — the surrogate-key collision class must stay closed
    across the whole sequence, with history exactly: one row closed
    at the later date carrying the CORRECTED attributes, one new
    current row."""
    from pyspark.sql import functions as F

    from cube_builder_spark.sinks.snapshot import SnapshotStore, scd2_merge

    st = SnapshotStore(str(tmp_path / "scd2mb"))
    init = local_df(spark, [(1, "A", 10)],
                    "k long, seg string, score long") \
        .withColumn("valid_from", F.lit("2024-03-01").cast("date")) \
        .withColumn("valid_to", F.lit(None).cast("date")) \
        .withColumn("is_current", F.lit(True))
    st.write(init.withColumn(
        "sk", F.concat_ws("|", F.col("k").cast("string"),
                          F.col("valid_from").cast("string"))))

    # batch 2: same-day correction — in place, no history row
    v2, nc2, ni2 = scd2_merge(
        st, spark,
        local_df(spark, [(1, "A-fix", 11)],
                 "k long, seg string, score long"),
        "k", ["seg", "score"], "2024-03-01")
    assert (nc2, ni2) == (0, 1)

    # batch 3: later-day change — closes the CORRECTED row
    v3, nc3, ni3 = scd2_merge(
        st, spark,
        local_df(spark, [(1, "B", 20)],
                 "k long, seg string, score long"),
        "k", ["seg", "score"], "2024-03-15")
    assert (nc3, ni3) == (1, 1)
    rows = sorted((r.k, r.seg, r.score, str(r.valid_from),
                   str(r.valid_to), r.is_current)
                  for r in st.read(spark, v3).collect())
    assert rows == [
        (1, "A-fix", 11, "2024-03-01", "2024-03-15", False),
        (1, "B", 20, "2024-03-15", "None", True)]

    # batch 4: same-day correction of the NEW current row still works
    v4, nc4, ni4 = scd2_merge(
        st, spark,
        local_df(spark, [(1, "B-fix", 21)],
                 "k long, seg string, score long"),
        "k", ["seg", "score"], "2024-03-15")
    assert (nc4, ni4) == (0, 1)
    rows = sorted((r.k, r.seg, r.score, str(r.valid_from),
                   str(r.valid_to), r.is_current)
                  for r in st.read(spark, v4).collect())
    assert rows == [
        (1, "A-fix", 11, "2024-03-01", "2024-03-15", False),
        (1, "B-fix", 21, "2024-03-15", "None", True)]


def test_scd2_rejects_same_batch_duplicate_keys(spark, tmp_path):
    """A batch with the same key twice would collide on one surrogate
    key (both rows land -> two current rows for one key). It must be
    rejected atomically: ValueError, nothing committed."""
    import pytest
    from pyspark.sql import functions as F

    from cube_builder_spark.sinks.snapshot import SnapshotStore, scd2_merge

    st = SnapshotStore(str(tmp_path / "scd2dup"))
    init = local_df(spark, [(1, "A")], "k long, seg string") \
        .withColumn("valid_from", F.lit("2024-03-01").cast("date")) \
        .withColumn("valid_to", F.lit(None).cast("date")) \
        .withColumn("is_current", F.lit(True))
    st.write(init.withColumn(
        "sk", F.concat_ws("|", F.col("k").cast("string"),
                          F.col("valid_from").cast("string"))))
    head = st.head("main")

    dup = local_df(spark, [(1, "X"), (1, "Y"), (2, "Z")],
                   "k long, seg string")
    with pytest.raises(ValueError, match="duplicate k values"):
        scd2_merge(st, spark, dup, "k", ["seg"], "2024-03-10")
    assert st.head("main") == head  # nothing committed
    rows = [(r.k, r.seg) for r in st.read(spark).collect()]
    assert rows == [(1, "A")]

    # Round-11 ADVICE: the probe runs POST no-op filter — an
    # at-least-once upstream repeating a key with UNCHANGED attributes
    # is an idempotent replay (neither copy lands), so it must commit
    # as a plain no-op, not hard-fail.
    replay = local_df(spark, [(1, "A"), (1, "A")],
                      "k long, seg string")
    v, nc, ni = scd2_merge(st, spark, replay, "k", ["seg"],
                           "2024-03-10")
    assert (v, nc, ni) == (head, 0, 0)
    # ...and a replayed-unchanged key alongside a genuinely changed
    # OTHER key: the unchanged duplicates drop, the change lands.
    mixed = local_df(spark, [(1, "A"), (1, "A"), (2, "Z")],
                     "k long, seg string")
    v2, nc2, ni2 = scd2_merge(st, spark, mixed, "k", ["seg"],
                              "2024-03-10")
    assert (nc2, ni2) == (0, 1) and v2 > head
    rows = sorted((r.k, r.seg) for r in st.read(spark).collect())
    assert rows == [(1, "A"), (2, "Z")]
    # BUT a duplicated key mixing one changed and one unchanged copy
    # is ambiguous (last-wins would be a net no-op, first-wins a
    # change — an unordered batch can't say which) and must be
    # rejected with nothing committed (round-12 review).
    head2 = st.head("main")
    ambiguous = local_df(spark, [(1, "B"), (1, "A")],
                         "k long, seg string")
    with pytest.raises(ValueError, match="duplicate k values"):
        scd2_merge(st, spark, ambiguous, "k", ["seg"], "2024-03-12")
    assert st.head("main") == head2


def test_scd2_randomized_vs_reference_model(spark, tmp_path):
    """Randomized differential: apply seeded random batch sequences
    (non-decreasing effective dates — the documented contract) to
    scd2_merge AND to a plain-python SCD2 reference model; the full
    stored dimension must equal the model after every batch. Covers
    arbitrary interleavings of no-op / same-day correction /
    later-day change / brand-new key that the hand-written cases
    can't enumerate."""
    import datetime
    import random

    from pyspark.sql import functions as F

    from cube_builder_spark.sinks.snapshot import SnapshotStore, scd2_merge

    def run_seed(seed: int) -> None:
        rng = random.Random(seed)
        st = SnapshotStore(str(tmp_path / f"scd2rand{seed}"))
        init = local_df(spark,
            [(k, f"s{k}", k * 10) for k in range(3)],
            "k long, seg string, score long") \
            .withColumn("valid_from", F.lit("2024-01-01").cast("date")) \
            .withColumn("valid_to", F.lit(None).cast("date")) \
            .withColumn("is_current", F.lit(True))
        st.write(init.withColumn(
            "sk", F.concat_ws("|", F.col("k").cast("string"),
                              F.col("valid_from").cast("string"))))
        # reference model: key -> list of [seg, score, vf, vt, cur]
        model = {k: [[f"s{k}", k * 10, "2024-01-01", None, True]]
                 for k in range(3)}
        day = datetime.date(2024, 1, 1)
        for _batch in range(4):
            day += datetime.timedelta(days=rng.randint(0, 5))
            eff = day.isoformat()
            keys = rng.sample(range(6), rng.randint(1, 4))
            rows = [(k, rng.choice(["a", "b", f"s{k}"]),
                     rng.randint(0, 3) * 10) for k in keys]
            upd = local_df(spark, rows, "k long, seg string, score long")
            scd2_merge(st, spark, upd, "k", ["seg", "score"], eff)
            for k, seg, score in rows:
                hist = model.setdefault(k, [])
                cur = next((r for r in hist if r[4]), None)
                if cur is None:
                    hist.append([seg, score, eff, None, True])
                elif (cur[0], cur[1]) == (seg, score):
                    pass                       # no-op
                elif cur[2] == eff:
                    cur[0], cur[1] = seg, score   # same-day in place
                else:
                    cur[3], cur[4] = eff, False   # close
                    hist.append([seg, score, eff, None, True])
            got = sorted(
                (r.k, r.seg, r.score, str(r.valid_from),
                 str(r.valid_to), r.is_current)
                for r in st.read(spark).collect())
            want = sorted(
                (k, seg, score, vf, str(vt) if vt else "None", cur)
                for k, hist in model.items()
                for seg, score, vf, vt, cur in hist)
            assert got == want, (seed, _batch, eff)

    for seed in (7, 23, 91):
        run_seed(seed)


def test_scd2_rejects_retro_dated_batch(spark, tmp_path):
    """An effective date BEFORE a changed key's current valid_from
    must be rejected atomically (it would mint a negative validity
    interval); a retro batch touching only UNCHANGED keys is a no-op,
    not an error."""
    import pytest
    from pyspark.sql import functions as F

    from cube_builder_spark.sinks.snapshot import SnapshotStore, scd2_merge

    st = SnapshotStore(str(tmp_path / "scd2retro"))
    init = local_df(spark, [(1, "A")], "k long, seg string") \
        .withColumn("valid_from", F.lit("2024-03-10").cast("date")) \
        .withColumn("valid_to", F.lit(None).cast("date")) \
        .withColumn("is_current", F.lit(True))
    st.write(init.withColumn(
        "sk", F.concat_ws("|", F.col("k").cast("string"),
                          F.col("valid_from").cast("string"))))
    head = st.head("main")

    retro = local_df(spark, [(1, "B")], "k long, seg string")
    with pytest.raises(ValueError, match="precedes the current valid_from"):
        scd2_merge(st, spark, retro, "k", ["seg"], "2024-03-01")
    assert st.head("main") == head

    # same retro date but attributes UNCHANGED: filtered as a no-op
    # before the retro check, nothing commits, no error
    noop = local_df(spark, [(1, "A")], "k long, seg string")
    v, nc, ni = scd2_merge(st, spark, noop, "k", ["seg"], "2024-03-01")
    assert (v, nc, ni) == (head, 0, 0)


def test_merge_upsert_rejects_duplicate_keys_allows_nulls(spark, tmp_path):
    """The merge key is the store's row identity: a batch with the
    same non-NULL key twice must be rejected atomically (both rows
    would append -> two live rows for one identity), while multiple
    NULL-key rows are independent inserts (SQL MERGE semantics)."""
    import pytest
    from pyspark.sql import functions as F

    from cube_builder_spark.sinks.snapshot import SnapshotStore, merge_upsert

    st = SnapshotStore(str(tmp_path / "mu_dup"))
    st.write(local_df(spark, [(1, "a"), (2, "b")],
                      "k long, v string"))
    head = st.head("main")

    dup = local_df(spark, [(1, "x"), (1, "y")], "k long, v string")
    with pytest.raises(ValueError, match="duplicate k values"):
        merge_upsert(st, spark, dup, "k")
    assert st.head("main") == head  # nothing committed

    nulls = local_df(spark,
        [(None, "n1"), (None, "n2"), (3, "c")], "k long, v string")
    v, _n = merge_upsert(st, spark, nulls, "k")
    rows = sorted((r.k, r.v) for r in st.read(spark, v).collect()
                  if r.k is not None)
    assert rows == [(1, "a"), (2, "b"), (3, "c")]
    n_null = sum(1 for r in st.read(spark, v).collect() if r.k is None)
    assert n_null == 2


def test_occ_randomized_vs_replay_model(spark, tmp_path):
    """Randomized differential for the OCC commit protocol (round-11
    verdict punch #8 — the scd2 reference-model pattern applied to
    occ_append): seeded random interleavings of stale-snapshot
    appends, fresh appends, overwrites and rollbacks run against BOTH
    the store and a plain-Python replay model of Delta's conflict
    rule (an append rebases iff every intervening main commit is a
    blind append; any overwrite/rollback in the gap conflicts). After
    every operation the stored table, the head version, the rebased
    flag, and conflict-vs-success must all match the model — example
    tests can't enumerate these interleavings."""
    import random

    import pytest

    from cube_builder_spark.sinks.snapshot import (
        ConcurrentCommitConflict, SnapshotStore, occ_append)

    def mk(seq):
        return local_df(spark, [(seq, seq * 7)], "k long, v long")

    for seed in (11, 23, 47):
        st = SnapshotStore(str(tmp_path / f"occ{seed}"))
        rng = random.Random(seed)
        # model: version -> (kind, content, parent); linear main chain
        kinds, contents, parents = {}, {}, {}
        v0 = st.write(mk(0))
        kinds[v0], contents[v0], parents[v0] = \
            "append", [(0, 0)], None
        head = v0
        main_chain = [v0]
        seq = 1

        def expect_conflict(expected):
            v = head
            while v is not None and v != expected:
                if kinds[v] != "append":
                    return True
                v = parents[v]
            return False

        st.create_branch("side")
        for _ in range(14):
            op = rng.choice(
                ["append_fresh", "append_stale", "append_stale",
                 "overwrite", "rollback", "branch_write"])
            if op == "branch_write":
                # commits on another branch are INVISIBLE to main's
                # OCC: they must neither block a stale rebase nor
                # appear in main reads (the model ignores them
                # entirely — any leak fails the next equality check)
                st.write(mk(900 + seq), branch="side")
                seq += 1
                got = sorted((r.k, r.v)
                             for r in st.read(spark).collect())
                assert got == sorted(contents[head]), (seed, op)
                continue
            if op == "append_fresh":
                batch = [(seq, seq * 7)]
                v, rebased = occ_append(st, mk(seq), expected_head=head)
                assert rebased is False
                kinds[v] = "append"
                contents[v] = contents[head] + batch
                parents[v] = head
                head = v
                main_chain.append(v)
            elif op == "append_stale":
                expected = rng.choice(main_chain + [None])
                batch = [(seq, seq * 7)]
                if expect_conflict(expected):
                    with pytest.raises(ConcurrentCommitConflict):
                        occ_append(st, mk(seq), expected_head=expected)
                    assert st.head("main") == head  # nothing moved
                else:
                    v, rebased = occ_append(st, mk(seq),
                                            expected_head=expected)
                    assert rebased is (expected != head)
                    kinds[v] = "append"
                    contents[v] = contents[head] + batch
                    parents[v] = head
                    head = v
                    main_chain.append(v)
            elif op == "overwrite":
                batch = [(seq, seq * 7)]
                v = st.write(mk(seq), mode="overwrite")
                kinds[v] = "overwrite"
                contents[v] = batch
                parents[v] = head
                head = v
                main_chain.append(v)
            else:  # rollback to a random past version
                to = rng.choice(main_chain)
                v = st.rollback(to)
                kinds[v] = "rollback"
                contents[v] = list(contents[to])
                parents[v] = head
                head = v
                main_chain.append(v)
            seq += 1
            got = sorted((r.k, r.v) for r in st.read(spark).collect())
            assert got == sorted(contents[head]), (seed, op)
            assert st.head("main") == head


def test_delete_plane_randomized_vs_replay_model(spark, tmp_path):
    """Randomized differential for the DELETE plane — the scd2/OCC
    reference-model pattern applied to merge-on-read vs merge-on-write
    deletes: seeded random interleavings of append / overwrite /
    delete_keys_mor / materialize_deletes / delete_keys run against a
    plain-Python multiset model. The model applies a MoR delete to
    the rows PRESENT AT DELETE TIME only (the Iceberg sequence rule:
    later re-appends of a deleted key must survive), overwrite clears
    pending sidecars, and merge-on-write delete_keys must refuse to
    run over pending MoR deletes (the re-sequencing resurrection
    trap). After every op the stored table equals the model, and a
    time-travel read of a random historical version equals the
    model's snapshot of it."""
    import random

    import pytest

    from cube_builder_spark.sinks.snapshot import (
        SnapshotStore, delete_keys, delete_keys_mor, materialize_deletes)

    def mk(rows):
        return local_df(spark, rows, "k long, v long")

    for seed in (5, 17, 31):
        st = SnapshotStore(str(tmp_path / f"del{seed}"))
        rng = random.Random(seed)
        content = [(k, k * 10) for k in range(4)]
        v = st.write(mk(content))
        hist = {v: list(content)}
        pending = False
        seq = 100
        for _ in range(12):
            op = rng.choice(["append", "overwrite", "delete_mor",
                             "delete_mor", "materialize", "delete_cow"])
            if op == "append":
                batch = [(rng.randrange(8), seq * 10)]
                v = st.write(mk(batch))
                content = content + batch
            elif op == "overwrite":
                batch = [(rng.randrange(8), seq * 10 + 1)]
                v = st.write(mk(batch), mode="overwrite")
                content = list(batch)
                pending = False
            elif op == "delete_mor":
                keys = [rng.randrange(8) for _ in range(2)]
                v = delete_keys_mor(st, spark, mk([(k, 0) for k in keys])
                                    .select("k"), ["k"])
                content = [r for r in content if r[0] not in keys]
                pending = True
            elif op == "materialize":
                v, _n = materialize_deletes(st, spark)
                pending = False
            else:  # delete_cow
                keys = [rng.randrange(8)]
                if pending:
                    with pytest.raises(ValueError,
                                       match="materialize_deletes"):
                        delete_keys(st, spark, keys, "k")
                    got = sorted((r.k, r.v)
                                 for r in st.read(spark).collect())
                    assert got == sorted(content), (seed, "cow-blocked")
                    continue
                v, _n = delete_keys(st, spark, keys, "k")
                content = [r for r in content if r[0] not in keys]
            seq += 1
            hist[v] = list(content)
            got = sorted((r.k, r.v) for r in st.read(spark).collect())
            assert got == sorted(content), (seed, op)
            # time-travel spot-check: a random historical version
            # still reads exactly its model snapshot
            tv = rng.choice(list(hist))
            want = hist[tv]
            if want:
                got_tv = sorted((r.k, r.v)
                                for r in st.read(spark, tv).collect())
                assert got_tv == sorted(want), (seed, op, tv)


def test_merge_upsert_randomized_vs_dict_model(spark, tmp_path):
    """Randomized differential for the MERGE plane — the scd2/OCC/
    delete-plane pattern applied to merge_upsert: seeded random
    sequences of upsert batches (fresh keys, overwriting keys,
    NULL-key inserts) interleaved with CoW deletes run against a
    plain-Python model (dict keyed by identity + a list of NULL-key
    rows that never match). After every op the stored table equals
    the model and a random historical version still reads its
    snapshot; duplicate non-NULL keys in a batch reject atomically."""
    import random

    import pytest

    from cube_builder_spark.sinks.snapshot import (SnapshotStore,
                                                   delete_keys,
                                                   merge_upsert)

    for seed in (3, 19):
        st = SnapshotStore(str(tmp_path / f"mu{seed}"))
        rng = random.Random(seed)
        keyed = {k: k * 100 for k in range(3)}
        nulls: list[int] = []
        v = st.write(local_df(spark,
            [(k, x) for k, x in keyed.items()], "k long, x long"))
        hist = {v: (dict(keyed), list(nulls))}
        seq = 1000
        for _ in range(10):
            op = rng.choice(["upsert", "upsert", "upsert_null",
                             "delete", "dup_reject"])
            if op == "upsert":
                ks = rng.sample(range(8), rng.randint(1, 3))
                batch = [(k, seq + i) for i, k in enumerate(ks)]
                v, _n = merge_upsert(
                    st, spark,
                    local_df(spark, batch, "k long, x long"), "k")
                keyed.update(dict(batch))
            elif op == "upsert_null":
                batch = [(None, seq), (rng.randrange(8), seq + 1)]
                v, _n = merge_upsert(
                    st, spark,
                    local_df(spark, batch, "k long, x long"), "k")
                nulls.append(seq)
                keyed[batch[1][0]] = seq + 1
            elif op == "delete":
                k = rng.randrange(8)
                v, _n = delete_keys(st, spark, [k], "k")
                keyed.pop(k, None)
            else:  # duplicate non-NULL key: atomic reject
                head = st.head("main")
                bad = local_df(spark,
                    [(1, seq), (1, seq + 1)], "k long, x long")
                with pytest.raises(ValueError, match="duplicate k"):
                    merge_upsert(st, spark, bad, "k")
                assert st.head("main") == head
                seq += 10
                continue
            seq += 10
            hist[v] = (dict(keyed), list(nulls))
            got = sorted((r.k, r.x) for r in st.read(spark).collect()
                         if r.k is not None)
            gotn = sorted(r.x for r in st.read(spark).collect()
                          if r.k is None)
            assert got == sorted(keyed.items()), (seed, op)
            assert gotn == sorted(nulls), (seed, op)
            tv = rng.choice(list(hist))
            wk, wn = hist[tv]
            old = st.read(spark, tv).collect()
            assert sorted((r.k, r.x) for r in old
                          if r.k is not None) == sorted(wk.items())
            assert sorted(r.x for r in old if r.k is None) == sorted(wn)


def test_branch_plane_randomized_vs_ref_model(spark, tmp_path):
    """Randomized differential for the BRANCH plane (round-12 verdict
    punch #5 — the scd2/OCC/delete/merge reference-model pattern
    applied to the ref machinery): seeded random interleavings of
    create_branch / branch writes (append + overwrite) / WAP publish
    onto a branch / fast-forward merge / branch_diff run against a
    plain-Python refs+manifest model. After EVERY op, every live
    branch's head, its read-back contents, and the full branches()
    map must match the model; merges must succeed/raise exactly when
    the model's ancestor walk says so; branch_diff must equal the
    model's exclusive-key sides. Example tests can't enumerate these
    interleavings."""
    import random

    import pytest

    from cube_builder_spark.quality import TableChecks, publish_with_audit
    from cube_builder_spark.sinks.snapshot import branch_diff

    def mk(seq):
        return local_df(spark, [(seq, seq * 7)], "k long, v long")

    checks = TableChecks(df=None, not_null=["k"])

    for seed in (5, 19, 101):
        st = SnapshotStore(str(tmp_path / f"br{seed}"))
        rng = random.Random(seed)
        # model: version -> (rows, parent); refs: branch -> version
        rows_of, parent_of = {}, {}
        v0 = st.write(mk(0))
        rows_of[v0], parent_of[v0] = [(0, 0)], None
        refs = {"main": v0}
        versions = [v0]
        seq, next_branch = 1, 0

        def model_is_ancestor(anc, desc):
            v = desc
            while v is not None:
                if v == anc:
                    return True
                v = parent_of[v]
            return False

        def check_all():
            assert st.branches() == refs
            for br, head in refs.items():
                assert st.head(br) == head, (seed, br)
                got = sorted((r.k, r.v)
                             for r in st.read(spark, branch=br).collect())
                assert got == sorted(rows_of[head]), (seed, br)

        for _ in range(16):
            branches = sorted(refs)
            op = rng.choice(
                ["write", "write", "overwrite", "wap", "create",
                 "merge", "diff"])
            if op == "create":
                name = f"b{next_branch}"
                next_branch += 1
                src = rng.choice([None, rng.choice(versions)])
                got = st.create_branch(name, from_version=src)
                want = refs["main"] if src is None else src
                assert got == want
                refs[name] = want
            elif op in ("write", "overwrite", "wap"):
                br = rng.choice(branches)
                batch = [(seq, seq * 7)]
                if op == "wap":
                    v = publish_with_audit(st, mk(seq), checks, "t",
                                           branch=br)
                else:
                    v = st.write(mk(seq),
                                 mode=("overwrite" if op == "overwrite"
                                       else "append"), branch=br)
                prev = refs[br]
                rows_of[v] = (batch if op == "overwrite"
                              else rows_of[prev] + batch)
                parent_of[v] = prev
                refs[br] = v
                versions.append(v)
                seq += 1
            elif op == "merge":
                named = [b for b in branches if b != "main"]
                if not named:
                    continue
                name = rng.choice(named)
                if model_is_ancestor(refs["main"], refs[name]):
                    got = st.merge_branch(name)
                    assert got == refs[name]
                    refs["main"] = refs.pop(name)
                else:
                    with pytest.raises(ValueError, match="diverged"):
                        st.merge_branch(name)
            else:  # diff two random live branches
                if len(branches) < 2:
                    continue
                a, b = rng.sample(branches, 2)
                got = sorted(
                    (r.k, r.v, r.side)
                    for r in branch_diff(st, spark, a, b, ["k"])
                    .collect())
                ka = {k for k, _v in rows_of[refs[a]]}
                kb = {k for k, _v in rows_of[refs[b]]}
                want = sorted(
                    [(k, v, a) for k, v in rows_of[refs[a]]
                     if k not in kb]
                    + [(k, v, b) for k, v in rows_of[refs[b]]
                       if k not in ka])
                assert got == want, (seed, a, b)
            check_all()


def test_cdc_replication_randomized_vs_dict_model(spark, tmp_path):
    """Randomized differential for the CDC REPLICATION loop — the last
    storage plane without one (x_cdc_replication is example-based):
    a seeded random source history (appends of fresh keys, targeted
    CoW deletes, merge_upserts that overwrite and re-insert), a
    replica built ONLY from the bootstrap snapshot plus each
    consecutive-version snapshot_diff applied as delete(removed) +
    merge_upsert(added ∪ changed), and a plain-Python dict model of
    the source. After EVERY version: replica table == model == source
    read — so an incomplete feed, a wrong apply order, or a
    non-idempotent payload fails at the exact op that introduced it."""
    import random

    from cube_builder_spark.sinks.snapshot import (SnapshotStore,
                                                   delete_keys,
                                                   merge_upsert,
                                                   snapshot_diff)

    def table(store, v=None):
        df = store.read(spark, v) if v else store.read(spark)
        return {r.k: r.x for r in df.collect()}

    for seed in (7, 29):
        src = SnapshotStore(str(tmp_path / f"cdc_s{seed}"))
        rep = SnapshotStore(str(tmp_path / f"cdc_r{seed}"))
        rng = random.Random(seed)
        model = {k: k * 10 for k in range(4)}
        v = src.write(local_df(spark,
            sorted(model.items()), "k long, x long"))
        rep.write(src.read(spark, v))
        applied = v
        next_key = 100
        seq = 1000
        for _ in range(8):
            op = rng.choice(["append", "delete", "merge", "merge"])
            if op == "append":
                batch = [(next_key + i, seq + i)
                         for i in range(rng.randint(1, 3))]
                next_key += len(batch)
                v = src.write(local_df(spark,
                    batch, "k long, x long"), mode="append")
                model.update(dict(batch))
            elif op == "delete":
                live = sorted(model)
                ks = rng.sample(live, min(len(live), rng.randint(1, 3)))
                v, _n = delete_keys(src, spark, ks, "k")
                for k in ks:
                    model.pop(k)
            else:
                live = sorted(model)
                overwrite = rng.sample(live, min(len(live), 2))
                fresh = [next_key]
                next_key += 1
                batch = [(k, seq + i)
                         for i, k in enumerate(overwrite + fresh)]
                v, _n = merge_upsert(
                    src, spark,
                    local_df(spark, batch, "k long, x long"), "k")
                model.update(dict(batch))
            seq += 100
            # replicate every version up to the new head, one diff
            # per consecutive pair, exactly the CDC feed contract
            while applied < v:
                d = snapshot_diff(src, spark, applied, applied + 1,
                                  ["k"], include_payload=True).collect()
                removed = [r.k for r in d if r.change == "removed"]
                upserts = [(r.k, r.new.x) for r in d
                           if r.change in ("added", "changed")]
                if removed:
                    delete_keys(rep, spark, removed, "k")
                if upserts:
                    merge_upsert(rep, spark, local_df(spark,
                        upserts, "k long, x long"), "k")
                applied += 1
            assert table(rep) == model == table(src), (seed, op)


def test_partitioned_store_randomized_prune_differential(spark, tmp_path):
    """Randomized differential for the HIDDEN-PARTITIONING plane:
    seeded sequences of spec changes (day / month on ts, identity on
    an unrelated int column) interleaved with writes, then random
    time-window read_pruned() probes after every step. The model is a
    plain row list. Invariants per probe: the pruned frame is a
    SUPERSET of the exact window rows and a subset of the full table
    (pruning skips files, never filters rows); caller-filtered it
    equals the model exactly; files written under an identity-on-k
    spec are conservatively KEPT for ts probes (evolution safety);
    n_read ≤ n_total; and a plain read() equals the model after
    every write."""
    import datetime
    import random

    from cube_builder_spark.sinks.snapshot import (PartitionedStore,
                                                   SnapshotStore)

    base = datetime.datetime(2024, 1, 1)

    def mk(rows):
        return local_df(spark,
            [(k, base + datetime.timedelta(hours=h), x)
             for k, h, x in rows], "k long, ts timestamp, x long")

    for seed in (5, 23):
        st = PartitionedStore(SnapshotStore(str(tmp_path / f"pp{seed}")))
        rng = random.Random(seed)
        model = []
        st.set_partition_spec("day", "ts")
        next_k = 0
        for step in range(6):
            choice = rng.random()
            if choice < 0.3:
                st.set_partition_spec(
                    rng.choice(["day", "month"]), "ts")
            elif choice < 0.45:
                st.set_partition_spec("identity", "k")
            batch = [(next_k + i, rng.randint(0, 24 * 90),
                      rng.randrange(1000))
                     for i in range(rng.randint(1, 5))]
            next_k += len(batch)
            st.write(mk(batch), mode="append")
            model.extend(batch)
            got_all = {(r.k, r.ts, r.x) for r in
                       st.store.read(spark).collect()}
            want_all = {(k, base + datetime.timedelta(hours=h), x)
                        for k, h, x in model}
            assert got_all == want_all, (seed, step)
            # random window probe
            lo_h = rng.randint(0, 24 * 80)
            hi_h = lo_h + rng.randint(1, 24 * 20)
            lo = base + datetime.timedelta(hours=lo_h)
            hi = base + datetime.timedelta(hours=hi_h)
            try:
                df, n_read, n_total = st.read_pruned(spark, "ts", lo, hi)
            except FileNotFoundError:
                assert not {t for _, t, _ in want_all if lo <= t < hi}
                continue
            assert n_read <= n_total
            pruned = {(r.k, r.ts, r.x) for r in df.collect()}
            exact = {(k, t, x) for k, t, x in want_all if lo <= t < hi}
            assert exact <= pruned <= want_all, (seed, step)
            from pyspark.sql import functions as F
            filtered = {(r.k, r.ts, r.x) for r in
                        df.filter((F.col("ts") >= F.lit(lo))
                                  & (F.col("ts") < F.lit(hi))).collect()}
            assert filtered == exact, (seed, step)


def test_schema_evolution_randomized_vs_dict_model(spark, tmp_path):
    """Randomized differential for the SCHEMA-EVOLUTION read: seeded
    sequences of appends whose column sets evolve (add a column, drop
    one from the writer's view — the file keeps what it was written
    with) against a row-dict model; read_merged_schema at the head
    AND at every historical version must equal the model's view AS OF
    that version, with never-written columns NULL."""
    import random

    from cube_builder_spark.sinks.snapshot import (SnapshotStore,
                                                   read_merged_schema)

    all_cols = ["a", "b", "c", "d"]
    for seed in (11, 37):
        st = SnapshotStore(str(tmp_path / f"se{seed}"))
        rng = random.Random(seed)
        cols = ["k", "a"]
        model_by_version = {}
        rows = []          # list of dicts (column -> value)
        next_k = 0
        v = None
        for step in range(6):
            # evolve the writer's column set
            if rng.random() < 0.5:
                candidates = [c for c in all_cols if c not in cols]
                if candidates:
                    cols.append(rng.choice(candidates))
            if rng.random() < 0.25 and len(cols) > 2:
                cols.pop(rng.randrange(1, len(cols)))
            batch = []
            for i in range(rng.randint(1, 3)):
                row = {c: next_k * 10 + j for j, c in enumerate(cols)}
                row["k"] = next_k
                next_k += 1
                batch.append(row)
                rows.append(dict(row))
            schema = ", ".join(f"{c} long" for c in cols)
            df = local_df(spark,
                [tuple(r[c] for c in cols) for r in batch], schema)
            v = st.write(df, mode="append")
            model_by_version[v] = [dict(r) for r in rows]
        # check every version's merged-schema read against its model
        for ver, want_rows in model_by_version.items():
            got = [r.asDict() for r in
                   read_merged_schema(st, spark, ver).collect()]
            seen_cols = set()
            for r in want_rows:
                seen_cols |= set(r)
            want = sorted(
                tuple(r.get(c) for c in sorted(seen_cols))
                for r in want_rows)
            got_t = sorted(
                tuple(r.get(c) for c in sorted(seen_cols))
                for r in got)
            assert got_t == want, (seed, ver)
            # columns never written by this version's files are absent
            assert all(set(r) <= seen_cols for r in got), (seed, ver)


def test_old_version_read_isolated_after_materialize(spark, tmp_path):
    """r14 ADVICE: an INDEPENDENT time-travel read of a pre-delete
    version, taken after MoR deletes AND materialize have committed,
    must replay the old rows exactly — the graded x_deletion_vectors
    row now rides one shared v2 read, so this pins the underlying
    SnapshotStore.read(old_version) path on its own."""
    from cube_builder_spark.sinks.snapshot import (delete_keys_mor,
                                                   materialize_deletes)
    st = SnapshotStore(str(tmp_path / "snap"))
    v1 = st.write(_df(spark, 0, 10).repartitionByRange(2, "id"))
    st.write(_df(spark, 10, 20).repartitionByRange(2, "id"))
    v2 = st.head("main")
    delete_keys_mor(st, spark, spark.range(0, 5).select("id"), ["id"])
    materialize_deletes(st, spark)
    assert _ids(st.read(spark, v1)) == list(range(0, 10))
    assert _ids(st.read(spark, v2)) == list(range(0, 20))
