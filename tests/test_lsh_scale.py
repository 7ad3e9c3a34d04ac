"""Scale-safety tests for the fused MinHash-LSH near-dup detector.

The 100 TB contract of ``dedup.lsh_near_dup_pairs``:
- the skew cap filters bucket membership BEFORE any member list is
  collected (a degenerate boilerplate bucket must never materialize in
  an aggregation buffer);
- the bucket stage runs on ONE shuffle (window + groupBy share the
  hash partitioning);
- a boilerplate flood (one bucket holding a large fraction of the
  corpus) is dropped in bounded time while honest near-dups are kept.

Reference analogue: the reference has no dedup surface; these ops are
the LLM-pipeline extension (SURVEY.md §2 dedup family).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cube_builder_spark.functions import dedup
from cube_builder_spark.tables import local_df


def _docs(spark, rows):
    return local_df(spark, rows, "doc_id long, text string")


BANDS = [["h0", "h1"], ["h2", "h3"]]


def test_fused_matches_unfused(spark):
    """The fused single-subtree shape must produce exactly the pairs of
    the unfused signature -> candidate -> verify chain."""
    rows = [(i, f"alpha beta gamma delta epsilon zeta eta theta doc{i}")
            for i in range(20)]
    # two near-dup clusters sharing long prefixes
    rows += [(100, "the quick brown fox jumps over the lazy dog today"),
             (101, "the quick brown fox jumps over the lazy dog tonight"),
             (200, "lorem ipsum dolor sit amet consectetur adipiscing elit sed"),
             (201, "lorem ipsum dolor sit amet consectetur adipiscing elit nunc")]
    docs = _docs(spark, rows)
    sh = dedup.shingles(docs)
    fused = {(r.doc_a, r.doc_b, round(r.jaccard, 9))
             for r in dedup.lsh_near_dup_pairs(sh, BANDS, max_bucket=8).collect()}
    sig = dedup.minhash_signatures(sh, num_hashes=4)
    cand = dedup.lsh_candidate_pairs(sig, BANDS, max_bucket=8)
    unfused = {(r.doc_a, r.doc_b, round(r.jaccard, 9))
               for r in dedup.jaccard_verify(cand, sh).collect()}
    assert fused == unfused
    assert {(100, 101), (200, 201)} <= {(a, b) for a, b, _ in fused}


def test_inline_signatures_match_grouped(spark):
    """Regression: the in-row signature (array_min over transform) must
    equal the explode+groupBy signature. (A two-parameter lambda here
    silently binds F.transform's (element, index) form — the index
    Column stringifies into the hash prefix and every signature goes
    wrong.)"""
    rows = [(i, f"w{i} w{i+1} w{i+2} w{i+3} shared tail of words {i % 3}")
            for i in range(30)]
    sh = dedup.shingles(_docs(spark, rows))
    grouped = {(r.doc_id, r.h0, r.h1, r.h2, r.h3)
               for r in dedup.minhash_signatures(sh, 4).collect()}
    inline = {(r.doc_id, r.h0, r.h1, r.h2, r.h3)
              for r in dedup.inline_signatures(sh, [0, 1, 2, 3])
              .select("doc_id", "h0", "h1", "h2", "h3").collect()}
    assert grouped == inline


def test_cap_applied_before_collect(spark):
    """Plan shape: the bucket-size cap must sit BELOW the collect_list
    aggregation (between it and the window), so oversized buckets are
    dropped before any member list exists in an aggregation buffer."""
    rows = [(i, f"some text body number {i} with trailing words") for i in range(8)]
    out = dedup.lsh_near_dup_pairs(dedup.shingles(_docs(spark, rows)),
                                   BANDS, max_bucket=64)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    i_agg = plan.index("collect_list(m#")
    i_cap = plan.index("<= 64")
    i_win = plan.index("windowspecdefinition")
    # toString prints parents first: aggregate above filter above window
    assert i_agg < i_cap < i_win, plan


def test_bucket_stage_single_exchange(spark):
    """The groupBy(bucket) must reuse the window's hash partitioning:
    exactly three Exchanges in the whole fused plan — the doc_id
    repartition, the bucket shuffle, and the final pair dedup."""
    rows = [(i, f"some text body number {i} with trailing words") for i in range(8)]
    out = dedup.lsh_near_dup_pairs(dedup.shingles(_docs(spark, rows)),
                                   BANDS, max_bucket=64)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 3, plan


def test_skew_boilerplate_flood_bounded(spark):
    """One boilerplate string repeated across 10% of a corpus forms a
    mega-bucket far over the cap (the exact skew the cap exists for):
    it must be dropped entirely — in bounded time — while an honest
    near-dup pair elsewhere in the corpus is still found."""
    boiler = ("this page is intentionally left blank please see the "
              "terms and conditions for details of the license")
    rows = [(i, boiler) for i in range(200)]
    rows += [(1000 + i,
              f"unique document {i} talks about topic{i} and topic{i + 1} "
              f"with its own distinct vocabulary item{i}") for i in range(1800)]
    rows += [(5000, "an honest near duplicate pair shares most of its words "
                    "with its partner in this synthetic corpus example"),
             (5001, "an honest near duplicate pair shares most of its words "
                    "with its partner in this synthetic corpus sample")]
    out = dedup.lsh_near_dup_pairs(dedup.shingles(_docs(spark, rows)),
                                   BANDS, max_bucket=64).collect()
    pairs = {(r.doc_a, r.doc_b) for r in out}
    assert (5000, 5001) in pairs
    # identical boilerplate docs bucket together in EVERY band -> all
    # their pairs are capped away; nothing else pairs with them
    assert not any(a < 200 or b < 200 for a, b in pairs)
    # bounded output: no quadratic blowup leaked through
    assert len(pairs) < 200


def test_dup_clusters_chain(spark):
    """A chain a-b, b-c plus a separate pair must form two clusters
    with min-id canonicals — the case where pairwise drop-the-higher
    over-deletes (b would kill c even though a is the keeper)."""
    pairs = local_df(spark, [(1, 5), (5, 9), (20, 21)], "doc_a long, doc_b long")
    out = {r.doc_id: (r.canonical_id, r.is_canonical)
           for r in dedup.dup_clusters(pairs, iters=4).collect()}
    assert out == {1: (1, True), 5: (1, False), 9: (1, False),
                   20: (20, True), 21: (20, False)}


def _ref_min_label_unroll(edge_pairs, iters):
    """Pure-Python unroll of the FIXED-round min-label automaton —
    the semantics the SQL oracles pin (no convergence shortcut)."""
    nbrs: dict = {}
    for a, b in edge_pairs:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    lbl = {v: v for v in nbrs}
    for _ in range(iters):
        lbl = {v: min([lbl[v]] + [lbl[n] for n in nbrs[v]]) for v in nbrs}
    return lbl


def test_dup_clusters_early_exit_exact(spark):
    """The r14 convergence early-exit must return EXACTLY the
    ``iters``-round unrolled labels in both regimes:

    - a clique + small components (converges well before 6 rounds —
      the exit FIRES and must not change the labels);
    - a 14-node chain with iters=4 (labels NOT converged at round 4 —
      the exit must NOT fire, preserving the partially-propagated
      labels the oracle's fixed unroll produces)."""
    clique = [(a, b) for a in range(10, 16) for b in range(a + 1, 16)]
    extra = [(1, 2), (30, 31), (31, 32)]
    chain = [(100 + i, 101 + i) for i in range(13)]
    for edge_pairs, iters in [(clique + extra, 6), (chain, 4)]:
        pairs = local_df(spark, edge_pairs, "doc_a long, doc_b long")
        got = {r.doc_id: r.canonical_id
               for r in dedup.dup_clusters(pairs, iters=iters).collect()}
        assert got == _ref_min_label_unroll(edge_pairs, iters)


def test_dup_clusters_early_stop_saves_jobs(spark, in_job_group):
    """At iters=6 the clique input stops on its round-4 compare and
    starts fewer jobs than the 14-node chain, which runs all 6 rounds;
    neither runs a compare after its last round (each compare is one
    execution whose plan tags the compared states with ``_side``)."""
    clique = [(a, b) for a in range(10, 16) for b in range(a + 1, 16)]
    chain = [(100 + i, 101 + i) for i in range(13)]
    jobs, compares = {}, {}
    for name, edge_pairs in [("clique", clique), ("chain", chain)]:
        pairs = local_df(spark, edge_pairs, "doc_a long, doc_b long")
        _, ids, plans = in_job_group(
            f"dup_clusters_{name}",
            lambda: dedup.dup_clusters(pairs, iters=6))
        jobs[name] = len(ids)
        compares[name] = sum("_side" in p for p in plans)
    assert jobs["clique"] < jobs["chain"], jobs
    assert compares == {"clique": 1, "chain": 1}, compares


# ---------------------------------------------------------------------------
# Embedding-cosine dedup: same 100 TB contract as the text path
# (round-5: cosine_dup_pairs routed through the capped machinery).
# ---------------------------------------------------------------------------

from cube_builder_spark.functions import similarity


def _vecs(spark, rows):
    return local_df(spark, rows, "vec_id long, embedding array<float>")


def test_cosine_cap_applied_before_collect(spark):
    """The bucket-size cap must sit BELOW the collect_list aggregation
    (between it and the count window) so an over-cap bucket never
    materializes a member array in an aggregation buffer."""
    rows = [(i, [float(i % 5), float(i % 3), 1.0, -1.0]) for i in range(8)]
    out = similarity.cosine_dup_pairs(_vecs(spark, rows), num_planes=4,
                                      threshold=-2.0, max_bucket=64)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    i_agg = plan.index("collect_list(m#")
    i_cap = plan.index("<= 64")
    i_win = plan.index("windowspecdefinition")
    # toString prints parents first: aggregate above filter above window
    assert i_agg < i_cap < i_win, plan


def test_cosine_bucket_stage_single_exchange(spark):
    """groupBy(bucket) must reuse the count window's hash partitioning:
    the bucket stage contributes ONE Exchange (plus the final pair
    dedup's)."""
    rows = [(i, [float(i % 5), float(i % 3), 1.0, -1.0]) for i in range(8)]
    out = similarity.cosine_dup_pairs(_vecs(spark, rows), num_planes=4,
                                      threshold=-2.0, max_bucket=64)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 2, plan


def test_cosine_mega_bucket_never_materializes(spark):
    """An embedding flood (40% of the corpus identical -> one bucket far
    over the cap) must be dropped entirely while an honest near-dup
    pair elsewhere survives, with bounded output size."""
    flood = [1.0, 1.0, 1.0, 1.0]
    rows = [(i, flood) for i in range(400)]
    # spread-out singles: orthogonal-ish directions, no near-dups
    rows += [(1000 + i, [float((i * 7) % 11 - 5), float((i * 3) % 13 - 6),
                         float((i * 5) % 17 - 8), 1.0]) for i in range(600)]
    rows += [(5000, [2.0, -3.0, 4.0, -5.0]),
             (5001, [2.0, -3.0, 4.0, -5.01])]  # honest near-dup pair
    out = similarity.cosine_dup_pairs(_vecs(spark, rows), num_planes=8,
                                      threshold=0.95, max_bucket=64).collect()
    pairs = {(r.vec_a, r.vec_b) for r in out}
    assert (5000, 5001) in pairs
    # identical flood vectors bucket together -> the 400-member bucket
    # (79800 latent pairs) is capped away entirely
    assert not any(a < 400 or b < 400 for a, b in pairs)
    assert len(pairs) < 5000


def test_cosine_capped_matches_naive_when_unskewed(spark):
    """On a corpus where no bucket exceeds the cap, the capped in-array
    expansion must produce exactly the pairs of the naive per-bucket
    self-join formulation."""
    rows = [(i, [float((i * 7) % 11 - 5), float((i * 3) % 13 - 6),
                 float((i * 5) % 17 - 8), float(i % 4 - 2)])
            for i in range(120)]
    embs = _vecs(spark, rows)
    capped = {(r.vec_a, r.vec_b, round(r.cosine, 9))
              for r in similarity.cosine_dup_pairs(
                  embs, num_planes=4, threshold=0.5,
                  max_bucket=10_000).collect()}
    b = similarity.lsh_buckets(embs, 4)
    ev = embs.select("vec_id", similarity.quantize(F.col("embedding")).alias("ev"))
    side = b.join(ev, "vec_id")
    a_ = side.select(F.col("vec_id").alias("vec_a"), "bucket",
                     F.col("ev").alias("ea"))
    b_ = side.select(F.col("vec_id").alias("vec_b"), "bucket",
                     F.col("ev").alias("eb"))
    naive = {(r.vec_a, r.vec_b, round(r.cosine, 9))
             for r in a_.join(b_, "bucket")
             .filter(F.col("vec_a") < F.col("vec_b"))
             .select("vec_a", "vec_b",
                     (similarity.dot_q(F.col("ea"), F.col("eb"))
                      / (F.sqrt(similarity.dot_q(F.col("ea"), F.col("ea")))
                         * F.sqrt(similarity.dot_q(F.col("eb"), F.col("eb")))))
                     .alias("cosine"))
             .filter(F.col("cosine") >= 0.5).collect()}
    assert capped == naive


def test_capped_plane_pairs_exact_cap_boundary(spark):
    """The off-by-one contract of the skew cap (round-5 task, pinned
    round 7): a bucket with EXACTLY max_bucket members expands to its
    full n(n-1)/2 pairs; max_bucket+1 members drops the bucket whole."""
    cap = 5

    def plane(n):
        rows = [(j, "b", ["s1", "s2", "s3"]) for j in range(n)]
        df = local_df(spark, rows,
                      "doc_id long, bucket string, shingles array<string>")
        return df.select("bucket",
                         F.struct("doc_id", "shingles").alias("m"))

    at_cap = dedup.capped_plane_pairs(plane(cap), max_bucket=cap).collect()
    assert len(at_cap) == cap * (cap - 1) // 2
    assert all(abs(r.jaccard - 1.0) < 1e-12 for r in at_cap)
    over_cap = dedup.capped_plane_pairs(plane(cap + 1),
                                        max_bucket=cap).collect()
    assert over_cap == []


def test_cosine_pairs_exact_cap_boundary(spark):
    """Same boundary for the embedding-cosine path: identical vectors
    all share one hyperplane bucket, so the bucket population equals
    the corpus size — n == max_bucket expands, n == max_bucket+1
    drops."""
    from cube_builder_spark.functions.similarity import cosine_dup_pairs
    cap = 5

    def emb(n):
        return local_df(
            spark, [(j, [0.5, -0.25, 0.125, 1.0]) for j in range(n)],
            "vec_id long, embedding array<float>")

    at_cap = cosine_dup_pairs(emb(cap), num_planes=4, threshold=0.9,
                              max_bucket=cap).collect()
    assert len(at_cap) == cap * (cap - 1) // 2
    assert all(r.cosine > 0.999 for r in at_cap)
    over = cosine_dup_pairs(emb(cap + 1), num_planes=4, threshold=0.9,
                            max_bucket=cap).collect()
    assert over == []


# AllPairs exact similarity join ----------------------------------------------

def _brute_jaccard_pairs(docs, k, tau):
    """Reference brute force in plain Python: distinct k-gram shingle
    sets, every pair, exact Jaccard."""
    sets = {}
    for doc_id, text in docs:
        toks = text.split(" ")
        if len(toks) < k:
            continue
        s = {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}
        if s:
            sets[doc_id] = s
    out = {}
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            inter = len(sets[a] & sets[b])
            if inter:
                j = inter / (len(sets[a]) + len(sets[b]) - inter)
                if j >= tau:
                    out[(a, b)] = j
    return out


def test_allpairs_jaccard_lossless_vs_brute_force(spark):
    """Prefix filtering must be LOSSLESS: over a seeded random corpus
    dense with near-dups (tiny vocab), allpairs_jaccard returns
    exactly the brute-force pair set, values equal to the same
    float64 division."""
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(12)]
    docs = [(i, " ".join(rng.choice(vocab)
                         for _ in range(rng.randrange(4, 15))))
            for i in range(60)]
    for tau in (0.3, 0.5, 0.8):
        want = _brute_jaccard_pairs(docs, k=2, tau=tau)
        got = {(r.doc_a, r.doc_b): r.jaccard
               for r in dedup.allpairs_jaccard(
                   local_df(spark, docs, "doc_id long, text string"),
                   k=2, threshold=tau).collect()}
        assert got.keys() == want.keys(), (
            f"tau={tau}: missing={want.keys() - got.keys()} "
            f"extra={got.keys() - want.keys()}")
        for key in want:
            assert got[key] == want[key]


def test_blocked_entity_pairs_blocks_and_cap(spark):
    """Blocking restricts compares to same-block rows; the edit bound
    and max_block cap both apply."""
    rows = [
        (1, "alpha widget x", "b1"),
        (2, "alpha widget y", "b1"),     # dist 1 from id 1
        (3, "alpha gadget zz", "b1"),    # dist > 2 from both
        (4, "alpha widget x", "b2"),     # other block: never compared
        (5, "beta thing", "b1"),
    ]
    df = local_df(spark, rows, "id long, nm string, blk string")
    df = df.withColumn("w1", F.split(F.col("nm"), " ").getItem(0))
    got = sorted((r.id_a, r.id_b, r.edit_dist) for r in
                 dedup.blocked_entity_pairs(
                     df, "id", "nm", ["w1", "blk"], max_edit=2).collect())
    assert got == [(1, 2, 1)]
    # cap drops the whole oversized block
    got_capped = dedup.blocked_entity_pairs(
        df, "id", "nm", ["w1", "blk"], max_edit=2, max_block=2).collect()
    assert got_capped == []


def test_shingle_kernels_identical(spark):
    """The HOF and window shingle kernels must produce element-identical
    arrays — including docs shorter than k (empty array), duplicate
    grams (order and multiplicity preserved), and k variation."""
    from cube_builder_spark.functions import dedup
    rows = [(1, "a b c d e"), (2, "a"), (3, ""), (4, "x y"),
            (5, "a a a a"), (6, "w1 w2 w1 w2 w1"), (7, "a b c")]
    docs = local_df(spark, rows, "doc_id long, text string")
    for k in (2, 3, 5):
        hof = {r.doc_id: r.shingles for r in
               dedup.shingles(docs, k=k, kernel="hof").collect()}
        win = {r.doc_id: r.shingles for r in
               dedup.shingles(docs, k=k, kernel="window").collect()}
        assert hof == win, f"k={k}: {hof} != {win}"
    import pytest
    with pytest.raises(ValueError):
        dedup.shingles(docs, kernel="nope")


def _py_lpa(pairs, iters):
    """Reference automaton for dedup.label_propagation: synchronous
    rounds, vote = (neighbor-label count desc, smaller label)."""
    nbrs = {}
    for a, b in pairs:
        nbrs.setdefault(a, []).append(b)
        nbrs.setdefault(b, []).append(a)
    lbl = {n: n for n in nbrs}
    for _ in range(iters):
        lbl = {n: min(sorted(set(lbl[m] for m in ns)),
                      key=lambda c: (-[lbl[m] for m in ns].count(c), c))
               for n, ns in nbrs.items()}
    sizes = {}
    for c in lbl.values():
        sizes[c] = sizes.get(c, 0) + 1
    return {n: (c, sizes[c]) for n, c in lbl.items()}


def test_label_propagation_bridge_vs_python(spark):
    """Two triangles joined by a bridge: CC sees ONE component; the
    LPA majority vote must match the python automaton exactly."""
    bridge = [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12), (3, 10)]
    # a lone pair swaps its two labels every round: the early stop
    # sees period 2 and must land on the right parity
    for pairs, iters in [(bridge, 4), ([(1, 2)], 5), ([(1, 2)], 6)]:
        out = {r.doc_id: (r.community, r.community_size)
               for r in dedup.label_propagation(
                   local_df(spark, pairs, "doc_a long, doc_b long"),
                   iters=iters).collect()}
        assert out == _py_lpa(pairs, iters), (pairs, iters)


def test_label_propagation_random_vs_python(spark):
    import random
    rnd = random.Random(67)
    nodes = list(range(40))
    pairs = sorted({(min(a, b), max(a, b))
                    for a, b in ((rnd.choice(nodes), rnd.choice(nodes))
                                 for _ in range(120)) if a != b})
    for iters in (1, 3, 4, 5, 7):
        out = {r.doc_id: (r.community, r.community_size)
               for r in dedup.label_propagation(
                   local_df(spark, pairs, "doc_a long, doc_b long"),
                   iters=iters).collect()}
        assert out == _py_lpa(pairs, iters), iters
