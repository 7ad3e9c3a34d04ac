"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale shape (the point of these at 100 TB):
- exact: one hash + one groupBy — pure shuffle-on-digest;
- MinHash+LSH: shingle → K minhashes → band buckets → ONE
  groupBy(bucket) with a count-over-window skew cap applied BEFORE any
  bucket member list is collected, then in-array pair expansion
  (bounded by the cap) → Jaccard verify on candidates;
- SimHash: per-token hash bit votes aggregated per doc (one groupBy);
- all joins happen on short digest strings, never on document bodies.

MinHash permutations are ``md5(i || '|' || shingle)`` and the signature
is the lexicographic min hex digest — uniform and engine-portable
(identical in any engine with md5, unlike xxhash64 seeds).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import graph
from .text import tokens_col


def exact_dedup(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup via content digest: canonical = min doc_id per group."""
    hashed = df.select("doc_id", F.md5(F.col(text_col)).alias("content_hash"))
    w = Window.partitionBy("content_hash")
    return (hashed
            .withColumn("group_size", F.count(F.lit(1)).over(w).cast("long"))
            .withColumn("canonical_id", F.min("doc_id").over(w))
            .withColumn("is_canonical", F.col("doc_id") == F.col("canonical_id")))


def shingles(df: DataFrame, text_col: str = "text", k: int = 3,
             kernel: str = "hof") -> DataFrame:
    """Word k-gram shingles per document.

    Repartitions on doc_id first: document tables arrive as few parquet
    splits (bytes-based splitting), but the per-row cost downstream
    (explode × K hashes) is huge — without this the whole shingle plane
    runs on as many cores as there are input files. At 100 TB the same
    spread keeps explode skew bounded by doc length, not file layout.

    Two kernels, chosen per consumer (round-8 re-measurement; the
    round-8 "12x" lead-window claim did NOT reproduce under repeated
    same-session A/B — the bare plane at sf0.1 is ~0.3s HOF vs ~0.45s
    window warm, and cold the window form pays a large first-run tax):

    - ``"hof"`` (default): one transform-over-sequence projection with
      k element_at calls — no extra shuffle, no per-token explode.
      Measured faster standalone AND through the fused LSH pipeline
      (d_minhash_lsh_pairs end-to-end 1.06s vs 1.2-1.7s, same
      session, 3 reps). ``greatest(size-k+1, 0)`` yields empty arrays
      for docs shorter than k tokens.
    - ``"window"``: posexplode + (k-1)-lead window + ordered
      re-collect. The groupBy output carries accurate stats into AQE,
      which flips allpairs_jaccard's downstream joins to the better
      plan — 2.4-3.0s vs 7.2-7.9s end-to-end with the HOF plane (same
      session, 3 reps; materializing the HOF plane to parquet did NOT
      close the gap, so it is the plan shape, not re-evaluation).
    Both produce element-identical arrays (differential-tested).
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    toks_df = (df.repartition(par, "doc_id")
               .select("doc_id", tokens_col(F.col(text_col)).alias("_toks")))
    if kernel == "hof":
        tc = F.col("_toks")
        # guard BEFORE building the sequence: sequence(1, 0) is the
        # DESCENDING [1, 0] and element_at(_, 0) throws
        # INVALID_INDEX_OF_ZERO — docs shorter than k tokens must
        # yield an empty array, matching the window kernel
        grams = F.when(
            F.size(tc) >= k,
            F.transform(
                F.sequence(F.lit(1), F.size(tc) - (k - 1)),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(tc, i + j) for j in range(k)]))
        ).otherwise(F.array().cast("array<string>"))
        return toks_df.select("doc_id", grams.alias("shingles"))
    if kernel != "window":
        raise ValueError(f"unknown shingle kernel {kernel!r}")
    tokp = toks_df.select("doc_id", F.posexplode("_toks").alias("pos", "w"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    gram = F.concat_ws(
        " ", F.col("w"), *[F.lead("w", j).over(w) for j in range(1, k)])
    # entry is NULL past position n-k+1 (no full gram); collect_list
    # skips nulls, so short docs come back as empty arrays, and the
    # (pos, g) struct sort restores document order exactly
    entry = F.when(F.lead("w", k - 1).over(w).isNotNull(),
                   F.struct(F.col("pos"), gram.alias("g")))
    return (tokp.select("doc_id", entry.alias("e"))
            .groupBy("doc_id")
            .agg(F.transform(F.sort_array(F.collect_list("e")),
                             lambda x: x["g"]).alias("shingles")))


def minhash_signatures(sh: DataFrame, num_hashes: int = 4) -> DataFrame:
    """MinHash signature: per permutation p, min over shingles of
    md5('p|' || shingle). One explode + one groupBy (map-side combine
    keeps the shuffle at one row per doc)."""
    exploded = sh.select("doc_id", F.explode("shingles").alias("s"))
    aggs = [F.min(F.md5(F.concat(F.lit(f"{p}|"), F.col("s")))).alias(f"h{p}")
            for p in range(num_hashes)]
    return exploded.groupBy("doc_id").agg(*aggs)


def lsh_candidate_pairs(signatures: DataFrame, bands: list[list[str]],
                        max_bucket: int | None = None) -> DataFrame:
    """Band the signature, bucket-join, emit distinct candidate pairs
    (doc_a < doc_b). Each band is a list of signature columns whose
    concatenation is the bucket key.

    ``max_bucket`` is the scale guard: a degenerate bucket (boilerplate
    or stop-shingle collisions) of size n contributes n²/2 pairs and
    dominates the pair expansion as pure skew. Buckets larger than the
    cap are dropped — the standard LSH practice (their members still
    pair through their other, more selective bands).

    Shape: NOT a self-join. A self-join on bucket evaluates the whole
    upstream signature subtree once per side (shingle explode + K md5
    minhash groupBy — the expensive part — runs twice); Spark's
    ReusedExchange does not rescue it because the join sides canonicalize
    differently. Instead: ONE shuffle on bucket, where a
    count-over-window applies the skew cap BEFORE any member list
    exists — a degenerate bucket flows through the (spillable,
    sort-based) window exec and is dropped by the filter, so it never
    materializes as a single aggregation-buffer array. The following
    groupBy(bucket) reuses the window's hash partitioning (no second
    shuffle, verified in the plan: one Exchange) and only ever collects
    lists of size ∈ [2, max_bucket]. Pair expansion is then in-array —
    O(cap²) interpreted per bucket, bounded by the cap.
    """
    # one explode instead of a per-band union: the signature subtree is
    # evaluated once, not once per band
    band_keys = [F.concat(F.lit(f"b{i}:"), *[F.col(c) for c in cols])
                 for i, cols in enumerate(bands)]
    buckets = signatures.select(
        "doc_id", F.explode(F.array(*band_keys)).alias("bucket"))
    # skew cap BEFORE collect_list: bound every aggregation buffer.
    # Singleton buckets (the vast majority) yield no pairs — dropping
    # them here also keeps the collect stage small.
    n = F.count(F.lit(1)).over(Window.partitionBy("bucket"))
    sized = buckets.withColumn("n", n).filter(F.col("n") >= 2)
    if max_bucket is not None:
        sized = sized.filter(F.col("n") <= max_bucket)
    grouped = sized.groupBy("bucket").agg(
        F.sort_array(F.collect_list("doc_id")).alias("ids"))
    # expand i<j combinations of the sorted list: doc_a < doc_b for free
    combos = F.flatten(F.transform(
        F.col("ids"),
        lambda x, i: F.transform(
            F.slice(F.col("ids"), i + F.lit(2), F.size(F.col("ids"))),
            lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")))))
    return (grouped.select(F.explode(combos).alias("p"))
            .select("p.doc_a", "p.doc_b")
            .distinct())


def inline_signatures(sh: DataFrame, hash_ids: list[int]) -> DataFrame:
    """MinHash signatures computed in-row from the shingle array:
    ``h_p = array_min(transform(shingles, s -> md5('p|' || s)))``.

    No explode, no groupBy, no shuffle — the signature lives in the
    same row as the shingle set, which lets the LSH stage carry both
    through ONE shuffle (see :func:`lsh_near_dup_pairs`). Docs with an
    empty shingle array are dropped (parity with the explode/groupBy
    form, where they simply produce no rows)."""
    def perm(p):
        # single-parameter lambda: a two-param lambda would be bound by
        # F.transform as its (element, index) form, not a closure
        prefix = f"{p}|"
        return lambda s: F.md5(F.concat(F.lit(prefix), s))

    sig = sh.filter(F.size("shingles") > 0)
    return sig.select(
        "*", *[F.array_min(F.transform("shingles", perm(p))).alias(f"h{p}")
               for p in hash_ids])


def lsh_near_dup_pairs(sh: DataFrame, bands: list[list[str]],
                       max_bucket: int | None = None,
                       threshold: float | None = None,
                       with_containment: bool = False) -> DataFrame:
    """Fused MinHash-LSH near-duplicate detector: signature → band
    buckets → skew-capped bucket grouping → in-array pair expansion →
    exact shingle-set Jaccard, as ONE subtree evaluation.

    Why fused: the un-fused chain (signatures, candidate pairs, then a
    verify join back to the shingle plane) consumes the shingle plane
    three times — once for the signature and once per verify side — so
    it either re-tokenizes the corpus 3× or materializes the ~3×-corpus
    shingle plane (persist leaks across a registry run; checkpoint pays
    a full local-storage write inside the first job and truncates
    lineage, which on a cluster turns any executor loss into job
    failure). Here the shingle array rides along into the bucket
    shuffle instead: tokenize+md5 run once, and the only wide shuffle
    is num_bands × shingle-plane — the same volume the verify joins
    would have shuffled anyway.

    Scale guards (the 100 TB story):
    - the ``max_bucket`` cap is applied by count-over-window BEFORE any
      member list is collected — a degenerate (boilerplate) bucket
      streams through the spillable sort-based window exec and is
      dropped by a filter; it never materializes in an aggregation
      buffer;
    - the groupBy(bucket) reuses the window's hash partitioning (one
      Exchange total — asserted in tests);
    - collected lists are bounded by cap × avg-doc-shingles;
    - pair expansion is O(cap²) per bucket, bounded by the cap;
    - the final dedup shuffle moves only surviving candidate pairs.
    """
    return capped_plane_pairs(lsh_plane(sh, bands), max_bucket, threshold,
                              with_containment=with_containment)


def lsh_plane(sh: DataFrame, bands: list[list[str]],
              keep_hashes: bool = False) -> DataFrame:
    """Signature/bucket plane: (bucket, m=struct(doc_id, shingles)),
    one row per (doc, band).

    Signature pass: explode + groupBy(doc_id), with the shingle array
    rebuilt by collect_list IN THE SAME aggregation. This keeps md5
    inside whole-stage codegen (an inline array_min(transform(...))
    signature is interpreted — measured 6× slower at sf0.1) while
    still landing signatures and shingles in one row. The buffer is
    one doc's shingles — bounded by doc length. shingles() already
    hash-partitioned by doc_id, so this groupBy adds no Exchange.

    ``keep_hashes`` (r14) additionally carries the minhash signature
    columns inside ``m`` so a consumer (d_minhash_calibration) can
    read per-pair signature agreement straight off the pair expansion
    instead of re-joining the signature table — doc_id stays the
    struct's FIRST field, so sort_array ordering (and thus the i<j
    pair expansion) is unchanged."""
    hash_ids = sorted({int(c[1:]) for cols in bands for c in cols})
    ex = sh.select("doc_id", F.explode("shingles").alias("s"))
    sig = ex.groupBy("doc_id").agg(
        *[F.min(F.md5(F.concat(F.lit(f"{p}|"), F.col("s")))).alias(f"h{p}")
          for p in hash_ids],
        F.sort_array(F.collect_list("s")).alias("shingles"))
    band_keys = [F.concat(F.lit(f"b{i}:"), *[F.col(c) for c in cols])
                 for i, cols in enumerate(bands)]
    m_fields = ["doc_id", "shingles"] + \
        ([f"h{p}" for p in hash_ids] if keep_hashes else [])
    return sig.select(F.struct(*m_fields).alias("m"),
                      F.explode(F.array(*band_keys)).alias("bucket"))


def capped_plane_pairs(plane: DataFrame, max_bucket: int | None = None,
                       threshold: float | None = None,
                       new_field: str | None = None,
                       with_containment: bool = False,
                       with_counts: bool = False,
                       keep_fields: list[str] | None = None) -> DataFrame:
    """Skew-capped bucket grouping → in-array pair expansion → exact
    Jaccard over a (bucket, m) plane. ``m`` is struct(doc_id, shingles
    [, <new_field>]); with ``new_field`` set (the incremental-index
    path) only pairs touching at least one new document are emitted —
    history×history pairs were already reported by earlier batches.

    ``with_counts`` (r14) emits the exact integer intersection/union
    set sizes (num, den) alongside jaccard; ``keep_fields`` carries
    extra ``m`` struct fields through per side as a_<f>/b_<f> —
    together they let a metrics consumer (d_minhash_calibration) read
    everything off the ONE pair expansion instead of re-joining the
    shingle and signature planes per side."""
    n = F.count(F.lit(1)).over(Window.partitionBy("bucket"))
    sized = plane.withColumn("n", n).filter(F.col("n") >= 2)
    if max_bucket is not None:
        sized = sized.filter(F.col("n") <= max_bucket)
    # sort_array on struct(doc_id, shingles) orders by doc_id (first
    # field), so the i<j expansion yields doc_a < doc_b directly
    grouped = sized.groupBy("bucket").agg(
        F.sort_array(F.collect_list("m")).alias("ms"))

    def pair(x, y):
        fields = [x["doc_id"].alias("doc_a"), y["doc_id"].alias("doc_b"),
                  x["shingles"].alias("sh_a"), y["shingles"].alias("sh_b")]
        if new_field is not None:
            fields.append((x[new_field] | y[new_field]).alias("any_new"))
        for f in (keep_fields or []):
            fields += [x[f].alias(f"a_{f}"), y[f].alias(f"b_{f}")]
        return F.struct(*fields)

    combos = F.flatten(F.transform(
        F.col("ms"),
        lambda x, i: F.transform(
            F.slice(F.col("ms"), i + F.lit(2), F.size(F.col("ms"))),
            lambda y: pair(x, y))))
    exploded = grouped.select(F.explode(combos).alias("p"))
    if new_field is not None:
        exploded = exploded.filter(F.col("p.any_new"))
    # Jaccard BEFORE the cross-band dedup: a pair seen in two bands
    # computes it twice (cheap, map-side), but the dedup shuffle then
    # moves only (doc_a, doc_b, jaccard) scalars — never shingle
    # arrays — and the distinct becomes a plain HashAggregate.
    # (duplicate rows of one pair carry identical metric values, so
    # dropDuplicates stays deterministic with extra metric columns)
    inter = F.size(F.array_intersect("p.sh_a", "p.sh_b"))
    cols = ["p.doc_a", "p.doc_b",
            (inter * 1.0
             / F.nullif(F.size(F.array_union("p.sh_a", "p.sh_b")),
                        F.lit(0))).alias("jaccard")]
    if with_containment:
        # containment is ASYMMETRIC: cont_a = |A∩B| / |A| flags A as a
        # quote/subset of B even when Jaccard is small (|B| >> |A|)
        cols += [(inter * 1.0
                  / F.nullif(F.size(F.array_distinct("p.sh_a")), F.lit(0))
                  ).alias("cont_a"),
                 (inter * 1.0
                  / F.nullif(F.size(F.array_distinct("p.sh_b")), F.lit(0))
                  ).alias("cont_b")]
    if with_counts:
        cols += [inter.cast("long").alias("num"),
                 F.size(F.array_union("p.sh_a", "p.sh_b")).cast("long")
                 .alias("den")]
    for f in (keep_fields or []):
        cols += [f"p.a_{f}", f"p.b_{f}"]
    out = exploded.select(*cols).dropDuplicates(["doc_a", "doc_b"])
    if threshold is not None:
        out = out.filter(F.col("jaccard") >= threshold)
    return out


def dup_clusters(pairs: DataFrame, iters: int) -> DataFrame:
    """Connected components over near-dup pairs → (doc_id,
    canonical_id, is_canonical): the cluster-canonicalization step
    after pair detection (keep one doc per duplicate CLUSTER, not per
    pair — pairwise drop-the-higher-id over-deletes on chains like
    a–b, b–c).

    Min-label propagation with a FIXED iteration count:
    ``l_{k+1}(v) = min(l_k(v), min over neighbors of l_k)``. After k
    rounds each label is the min doc_id of the k-hop neighborhood, so
    any two engines running the same k produce identical output
    whether or not components have converged — which is what makes
    this hash-checkable against a SQL oracle with the same unrolled
    steps. Near-dup clusters are near-cliques (diameter 2-3), so
    ``iters=6`` converges with margin; ``functions/graph.iterate``'s
    exact early stop skips the rounds that could change nothing.

    Scale shape: per round, one join of the (small, pairs-derived)
    edge list with the label table and one min-groupBy — both keyed on
    doc ids, broadcast-eligible when the dup graph is small relative
    to the corpus (the normal case). The edge list is cut once, so the
    rounds never re-run the upstream pair detection.
    """
    edges = graph.undirected(pairs, "doc_a", "doc_b").localCheckpoint(eager=True)
    def step(labels: DataFrame) -> DataFrame:
        # two steps, not a union + single groupBy: the union form
        # forces both branches through the shuffle, while this one lets
        # AQE broadcast the tiny nbr_min join-back (the unified form
        # measured 30% slower at sf0.1)
        nbr_min = (edges.join(labels.select(F.col("doc_id").alias("d_id"),
                                            F.col("lbl").alias("d_lbl")),
                              F.col("dst") == F.col("d_id"))
                   .groupBy("src").agg(F.min("d_lbl").alias("nmin")))
        return (labels.join(nbr_min, labels["doc_id"] == nbr_min["src"])
                .select(F.col("doc_id"),
                        F.least(F.col("lbl"), F.col("nmin")).alias("lbl")))

    nodes = edges.select(F.col("src").alias("doc_id")).distinct()
    labels, _ = graph.iterate(nodes.withColumn("lbl", F.col("doc_id")),
                              step, iters)
    return labels.select("doc_id", F.col("lbl").alias("canonical_id"),
                         (F.col("doc_id") == F.col("lbl")).alias("is_canonical"))


def label_propagation(pairs: DataFrame, iters: int) -> DataFrame:
    """Synchronous label-propagation COMMUNITIES (Raghavan et al.
    2007; GraphFrames' labelPropagation) over an undirected pair
    graph — the mode-label sibling of ``dup_clusters``' min-label
    connected components: where CC answers "transitively linked at
    all?", LPA's majority vote splits a noisy candidate graph (e.g.
    UNthresholded LSH pairs) along its dense cores.

    Determinism — the standard LPA pitfalls are pinned shut:
    SYNCHRONOUS updates with a FIXED iteration count (no convergence
    race), and the per-node vote is the packed-argmax
    ``cnt·2³² + (2³²−1 − lbl)`` under MAX — highest neighbor-label
    count wins, ties break toward the SMALLER label — so both engines
    replay the identical deterministic automaton whether or not it
    has converged. Labels must fit 32 bits for the packing (doc_ids
    here do; callers with wider id domains should densify first).
    The vote is not monotone (a lone pair swaps labels every round);
    ``functions/graph.iterate``'s period-2 stop is exact for it too.

    Scale shape: same as dup_clusters — per round one join of the
    pair-graph edge list with the label table and two bounded
    groupBys ((node, lbl) counts, then the ≤deg-bounded argmax), all
    keyed on ids, broadcast-eligible for dup-graph-sized inputs.

    Returns ``doc_id, community, community_size`` for every doc with
    at least one pair (isolated docs have no vote and keep trivial
    singleton communities — emit-side callers can union them in).
    """
    edges = graph.undirected(pairs, "doc_a", "doc_b").localCheckpoint(eager=True)
    nodes = edges.select(F.col("src").alias("id")).distinct()
    big = 1 << 32

    def step(labels: DataFrame) -> DataFrame:
        votes = (edges.join(labels.select(F.col("id").alias("d_id"),
                                          F.col("lbl").alias("d_lbl")),
                            F.col("dst") == F.col("d_id"))
                 .groupBy(F.col("src").alias("id"), F.col("d_lbl").alias("lbl"))
                 .agg(F.count(F.lit(1)).alias("cnt")))
        pk = F.col("cnt") * big + (F.lit(big - 1) - F.col("lbl"))
        return (votes.groupBy("id").agg(F.max(pk).alias("pk"))
                .select("id", (F.lit(big - 1) - F.col("pk") % big).alias("lbl")))

    labels, _ = graph.iterate(nodes.withColumn("lbl", F.col("id")), step, iters)
    w = Window.partitionBy("lbl")
    return labels.select(F.col("id").alias("doc_id"),
                         F.col("lbl").alias("community"),
                         F.count(F.lit(1)).over(w).cast("long")
                         .alias("community_size"))


def jaccard_verify(pairs: DataFrame, sh: DataFrame,
                   threshold: float | None = None) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs (verification stage
    after LSH; the pair set is small so the shingle join is cheap)."""
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    out = (pairs.join(sa, "doc_a").join(sb, "doc_b")
           .select("doc_a", "doc_b",
                   (F.size(F.array_intersect("sh_a", "sh_b")) * 1.0
                    / F.nullif(F.size(F.array_union("sh_a", "sh_b")), F.lit(0))
                    ).alias("jaccard")))
    if threshold is not None:
        out = out.filter(F.col("jaccard") >= threshold)
    return out


def simhash(df: DataFrame, text_col: str = "text", bits: int = 16) -> DataFrame:
    """SimHash-style fingerprint: per distinct token, md5 hex chars vote
    one bit each (char parity); majority sets the bit. Near-identical
    docs agree on most bits."""
    toks = df.select(
        "doc_id", F.explode(F.array_distinct(tokens_col(F.col(text_col)))).alias("t"))
    toks = toks.withColumn("h", F.md5(F.col("t")))
    aggs = [F.sum(F.ascii(F.substring(F.col("h"), j + 1, 1)) % 2).alias(f"v{j}")
            for j in range(bits)]
    votes = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"), *aggs)
    sim = None
    for j in range(bits):
        bit = F.when(F.col(f"v{j}") * 2 > F.col("n"), F.lit(1 << j)).otherwise(F.lit(0))
        sim = bit if sim is None else sim + bit
    return votes.select("doc_id", sim.cast("long").alias("simhash"))


def repeated_spans(docs: DataFrame, k: int = 8, min_df: int = 2,
                   max_df: int = 1000) -> DataFrame:
    """Cross-document repeated-span detection — substring-level dedup
    (the Lee et al. 2022 "Deduplicating Training Data Makes Language
    Models Better" shape, over token k-grams instead of suffix
    arrays): find every maximal token span whose k-grams all occur in
    at least ``min_df`` distinct documents, per document.

    Returns (doc_id, span_start, span_end, n_grams): 1-based token
    positions of each merged span and how many duplicated k-grams it
    contains. Downstream removal is a per-doc slice-out of the spans.

    Scale shape (no suffix array — pure relational):
    - one explode to (doc_id, pos, gram_hash) rows — positions ride
      along, so no second tokenization pass;
    - document frequency per gram computed IN PLACE, single-eval (the
      round-8 groupBy/join-back double-eval fix stands — that form
      evaluated the explode+md5 gram plane twice, 3.0-3.5s ->
      0.8-1.2s at sf0.1): occurrence rows first hash-combine on
      (gh, doc_id) with partial collect_list(pos) — a boilerplate
      gram's rows split across doc_id sub-keys, so no single task
      absorbs them — then one window count over gh sees just ONE row
      per (gram, doc), so the partition the skew guard exists for
      holds df rows, not df x positions rows, BEFORE max_df drops it
      (round-9 restructure: the r8 all-occurrence-rows window paid
      the skewed sort before the guard applied; interleaved min-of-5
      A/B at sf0.1: 0.746s -> 0.702s, identical 477 rows);
    - ``max_df`` is the recall/cost trade for what remains: a gram in
      thousands of docs (headers, license text) would explode the hit
      list quadratically at 100 TB — grams above the cap are dropped
      (same posture as the LSH bucket cap); its residual pre-guard
      cost is one df-row window partition per such gram;
    - span merge is gaps-and-islands: one window per doc over the hit
      positions (overlap-or-adjacent iff pos - prev <= k), then a
      groupBy over (doc, island). The per-doc hit list is
      output-bounded, not corpus-bounded.
    """
    t = tokens_col(F.col("text"))
    n = F.size(F.col("_t"))
    grams = F.transform(
        F.sequence(F.lit(1), n - (k - 1)),
        lambda i: F.struct(
            i.cast("long").alias("pos"),
            F.md5(F.concat_ws(" ", F.slice(F.col("_t"), i, k))).alias("gh")))
    # single-file parquet sources land on ONE input partition, which
    # would serialize the whole gram explode + md5 plane (the
    # dedup.shingles precedent); pinned-count repartition fans it out
    # and AQE cannot collapse it back below the explode
    npart = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    g = (docs.select("doc_id", t.alias("_t"))
         .filter(n >= k)
         .repartition(npart, "doc_id")
         .select("doc_id", F.explode(grams).alias("g"))
         .select("doc_id", F.col("g.pos").alias("pos"),
                 F.col("g.gh").alias("gh")))
    per = (g.groupBy("gh", "doc_id")
           .agg(F.collect_list("pos").alias("ps")))
    hits = (per
            .withColumn("dfc", F.count(F.lit(1))
                        .over(Window.partitionBy("gh")))
            .filter((F.col("dfc") >= min_df) & (F.col("dfc") <= max_df))
            .select("doc_id", F.explode("ps").alias("pos")))
    w = Window.partitionBy("doc_id").orderBy("pos")
    brk = F.when(F.col("pos") - F.lag("pos").over(w) <= k, F.lit(0)) \
           .otherwise(F.lit(1))
    island = F.sum(brk).over(
        Window.partitionBy("doc_id").orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (hits
            .withColumn("island", island)
            .groupBy("doc_id", "island")
            .agg(F.min("pos").alias("span_start"),
                 (F.max("pos") + (k - 1)).alias("span_end"),
                 F.count(F.lit(1)).alias("n_grams"))
            .drop("island"))


def allpairs_jaccard(docs: DataFrame, k: int = 5, threshold: float = 0.5,
                     text_col: str = "text") -> DataFrame:
    """EXACT threshold Jaccard similarity self-join via prefix
    filtering (AllPairs, Bayardo et al. WWW'07; prefix lemma as in
    PPJoin, Xiao et al. WWW'08).

    Unlike the LSH family (probabilistic recall, skew-capped buckets)
    this returns EVERY pair of documents whose k-shingle-set Jaccard
    is >= ``threshold`` — the contract a contamination audit or a
    legal-compliance dedup needs. Losslessness: order each doc's
    shingle set by ascending global document frequency (rarest
    first); with prefix length |d| - ceil(tau*|d|) + 1, any pair with
    J >= tau shares at least one PREFIX token under the common order
    (prefix-filtering lemma), so joining on prefix tokens misses
    nothing, and the exact verify discards false candidates.

    Spark shape, stage by stage:
      1. shingle sets (doc-partitioned, from ``shingles``);
      2. token DF counts — one groupBy on the token (map-side
         combined);
      3. rarest-first order per doc — join tokens to DF counts (AQE
         broadcasts the vocab-bounded count table when it fits,
         plain hash join otherwise) + one groupBy(doc) sort_array;
      4. prefix plane carries ONLY (doc_id, |d|) — never the shingle
         array, which would be duplicated once per prefix token;
      5. candidates from an in-array i<j expansion per prefix token
         (doc_a < doc_b for free via sort_array), pre-pruned by the
         exactness-preserving length bound min*100 >= tau*100*max
         (J <= min/max), then a scalar distinct;
      6. verify joins the candidate ids back to the set table twice
         and keeps J >= tau.

    At 100 TB: rarest-first ordering makes prefix-token groups small
    on natural corpora (the frequent tokens sit at the ends of the
    orderings, never in short prefixes); a pathological corpus of
    near-identical docs degrades toward the output size itself, which
    is O(pairs) by definition of an exact join — the scale remedies
    (PPJoin positional upper bound, suffix filtering) tighten stage 5
    without changing stages 1-4 or the verify contract."""
    ti = int(round(threshold * 100))
    if abs(ti / 100.0 - threshold) > 1e-12:
        raise ValueError("threshold must be a multiple of 0.01")
    # window kernel here specifically: its groupBy stats steer AQE to
    # the better downstream join plan — 2.4-3.0s vs 7.2-7.9s with the
    # HOF plane (see shingles() docstring for the A/B)
    sh = shingles(docs, text_col, k, kernel="window")
    sets = (sh.select("doc_id", F.array_distinct("shingles").alias("s"))
            .filter(F.size("s") > 0))
    tok = sets.select("doc_id", F.size("s").alias("n"),
                      F.explode("s").alias("w"))
    # document frequency by count-over-window instead of groupBy +
    # join-back (r14): the join-back form evaluated the token plane —
    # and the whole shingle subtree above it — TWICE (differing
    # partial aggs defeat ReuseExchange); the window attaches the
    # same exact count in ONE token-plane evaluation and one shuffle
    dfreq = F.count(F.lit(1)).over(Window.partitionBy("w"))
    ordered = (tok.withColumn("dfreq", dfreq)
               .groupBy("doc_id", "n")
               .agg(F.sort_array(F.collect_list(F.struct("dfreq", "w")))
                    .alias("ord")))
    plen = F.expr(f"n - ((n * {ti} + 99) div 100) + 1").cast("int")
    prefix = (ordered
              .select("doc_id", "n",
                      F.explode(F.slice(F.col("ord"), F.lit(1), plen))
                      .alias("pw"))
              .select(F.col("pw.w").alias("w"),
                      F.struct("doc_id", "n").alias("m")))
    plane = (prefix.groupBy("w")
             .agg(F.sort_array(F.collect_list("m")).alias("ms"))
             .filter(F.size("ms") >= 2))
    combos = F.flatten(F.transform(
        F.col("ms"),
        lambda x, i: F.transform(
            F.slice(F.col("ms"), i + F.lit(2), F.size(F.col("ms"))),
            lambda y: F.struct(x["doc_id"].alias("doc_a"),
                               y["doc_id"].alias("doc_b"),
                               x["n"].alias("na"), y["n"].alias("nb")))))
    cand = (plane.select(F.explode(combos).alias("p"))
            .select("p.doc_a", "p.doc_b", "p.na", "p.nb")
            .filter(F.least("na", "nb") * 100 >= F.greatest("na", "nb") * ti)
            .select("doc_a", "doc_b").dropDuplicates())
    va = sets.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("sa"))
    vb = sets.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb"))
    return (cand.join(va, "doc_a").join(vb, "doc_b")
            .select("doc_a", "doc_b", inter.alias("c"),
                    F.size("sa").alias("na"), F.size("sb").alias("nb"))
            .select("doc_a", "doc_b",
                    (F.col("c") * F.lit(1e0)
                     / (F.col("na") + F.col("nb") - F.col("c")))
                    .alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))


def blocked_entity_pairs(df: DataFrame, id_col: str, name_col: str,
                         block_cols: list, max_edit: int = 3,
                         max_block: int | None = None) -> DataFrame:
    """Entity resolution: blocking + bounded pairwise verify — the
    record-linkage shape (Fellegi-Sunter blocking; Christen 2012)
    applied Spark-first.

    All-pairs name comparison is O(N²) and never runs at 100 TB; the
    standard fix is to compare only within BLOCKS that any true match
    must share (here: equality on ``block_cols``, e.g. a phonetic or
    first-token key plus a structured attribute), then verify with an
    edit-distance bound. One groupBy on the block key collects each
    block, the i<j in-array expansion yields ordered candidate pairs
    (sort_array on struct(id, name) orders by id), and levenshtein
    runs JVM-side on the exploded scalars — no join, no UDF, one
    shuffle. ``max_block`` optionally drops degenerate blocks (the
    skew cap for dirty blocking keys — at 100 TB a block bigger than
    a few thousand means the key is not discriminating and needs
    another pass with a narrower key, not a bigger cluster)."""
    m = F.struct(F.col(id_col).alias("id"), F.col(name_col).alias("nm"))
    grouped = (df.select(*block_cols, m.alias("m"))
               .groupBy(*block_cols)
               .agg(F.sort_array(F.collect_list("m")).alias("ms"))
               .filter(F.size("ms") >= 2))
    if max_block is not None:
        grouped = grouped.filter(F.size("ms") <= max_block)
    combos = F.flatten(F.transform(
        F.col("ms"),
        lambda x, i: F.transform(
            F.slice(F.col("ms"), i + F.lit(2), F.size(F.col("ms"))),
            lambda y: F.struct(x["id"].alias("id_a"), y["id"].alias("id_b"),
                               x["nm"].alias("nm_a"), y["nm"].alias("nm_b")))))
    return (grouped.select(F.explode(combos).alias("p"))
            .select(F.col("p.id_a").alias("id_a"),
                    F.col("p.id_b").alias("id_b"),
                    F.levenshtein("p.nm_a", "p.nm_b").cast("long")
                    .alias("edit_dist"))
            .filter(F.col("edit_dist") <= max_edit))


def deletion_neighborhood_pairs(df: DataFrame, col: str) -> DataFrame:
    """LOSSLESS edit-distance-1 candidate join — the FastSS / SymSpell
    deletion-neighborhood recipe (Bocek et al. 2007), the exact
    counterpart to blocked_entity_pairs' heuristic blocking:

    two strings have levenshtein == 1 iff they share a key in
    {s} ∪ {s minus one char} — a substitution shares the both-deleted
    variant, an indel shares (original of the shorter == variant of
    the longer). Keys are Σ|s|+1 per string (LINEAR, never all-pairs),
    the self-join is a plain equi-join on the key, and a JVM-side
    levenshtein == 1 verify removes the ed-0 and ed-2 false candidates
    (e.g. 'ab'/'ba' share variant 'a' at distance 2).

    Input rows must be DISTINCT on ``col`` (the caller dedups first —
    at scale the fuzzy join runs on the distinct key domain, not the
    fact table). Returns ordered (a, b) pairs with a < b."""
    s = F.col(col)
    variants = F.array_union(
        F.array(s),
        F.array_distinct(F.expr(
            f"transform(sequence(1, length({col})), "
            f"i -> concat(substr({col}, 1, i - 1), "
            f"substr({col}, i + 1)))")))
    keyed = df.select(s.alias("_s"), F.explode(variants).alias("_k"))
    a = keyed.select(F.col("_s").alias("a"), "_k")
    b = keyed.select(F.col("_s").alias("b"), "_k")
    return (a.join(b, "_k")
            .filter(F.col("a") < F.col("b"))
            .select("a", "b").distinct()
            .filter(F.levenshtein("a", "b") == 1))
