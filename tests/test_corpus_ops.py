"""Semantic tests for the corpus-curation operators (corpus_queries.py)
beyond the blanket oracle gate: packing invariants, stratum caps,
decontamination behavior on planted text, repetition signals on
degenerate text, and the decontaminate broadcast plan shape."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cube_builder_spark import corpus_queries as cq
from cube_builder_spark.tables import local_df


def _mini_docs(spark, rows):
    return local_df(
        spark, rows, "doc_id long, text string, lang string, source string,"
              " n_chars long")


@pytest.fixture()
def patched_docs(monkeypatch):
    """Route corpus_queries._docs at a literal in-memory table."""
    def patch(df):
        monkeypatch.setattr(cq, "_docs", lambda spark, sf_dir: df)
    return patch


def test_sequence_pack_invariants(spark, sf_dir):
    out = cq.p_sequence_pack(spark, sf_dir).collect()
    budget = cq._PACK_BUDGET
    assert out
    by_stream = {}
    for r in out:
        assert 0 <= r.offset_in_seq < budget
        assert r.seq_id == (r.offset_in_seq + budget * r.seq_id) // budget
        by_stream.setdefault((r.lang, r.shard), []).append(r)
    for rows in by_stream.values():
        rows.sort(key=lambda r: r.doc_id)
        cum = 0
        for r in rows:
            # offsets are the running token sum: no gaps, no overlap
            assert r.seq_id * budget + r.offset_in_seq == cum
            assert r.spans_boundary == (
                (cum // budget) != ((cum + r.n_tokens - 1) // budget))
            cum += r.n_tokens


def test_stratified_sample_cap_and_determinism(spark, sf_dir):
    out = cq.p_stratified_sample(spark, sf_dir)
    counts = out.groupBy("lang", "source").count().collect()
    assert counts
    assert all(r["count"] <= cq._STRATUM_CAP for r in counts)
    # deterministic: same rows on a second run
    a = sorted(map(tuple, out.collect()))
    b = sorted(map(tuple, cq.p_stratified_sample(spark, sf_dir).collect()))
    assert a == b


def test_decontaminate_planted_overlap(spark, patched_docs):
    shared = " ".join(f"w{i}" for i in range(cq._DECON_N))
    rows = [
        (0, shared + " evalpad onto something", "en", "src0", 0),
        (1, "begin " + shared + " end", "en", "src1", 0),       # contaminated
        (2, " ".join(f"x{i}" for i in range(20)), "en", "src1", 0),  # clean
        (3, "too short", "en", "src2", 0),                      # < n tokens
    ]
    patched_docs(_mini_docs(spark, rows))
    got = {r.doc_id: r for r in cq.p_decontaminate(spark, "unused").collect()}
    assert set(got) == {1, 2, 3}  # eval docs excluded from output
    assert got[1].contaminated and got[1].n_shared_ngrams == 1
    assert not got[2].contaminated and got[2].n_shared_ngrams == 0
    assert not got[3].contaminated


def test_decontaminate_broadcasts_eval_side(spark, sf_dir):
    plan = cq.p_decontaminate(spark, sf_dir)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # the big (train) side must not be exchanged for the semi-join:
    # only the eval side builds a broadcast relation
    assert "SortMergeJoin" not in plan.split("BroadcastHashJoin")[0]


def test_repetition_profile_flags_degenerate_text(spark, patched_docs):
    rows = [
        (0, "spam ham " * 50, "en", "s", 0),          # pure 2-token loop
        (1, " ".join(f"u{i}" for i in range(100)), "en", "s", 0),  # all unique
    ]
    rows = [(i, t.strip(), l, s, n) for i, t, l, s, n in rows]
    patched_docs(_mini_docs(spark, rows))
    got = {r.doc_id: r for r in
           cq.t_repetition_profile(spark, "unused").collect()}
    loop, uniq = got[0], got[1]
    assert loop.dup_2gram_frac > 0.97          # 99 grams, 2 distinct
    assert loop.top_2gram_count == 50          # 'spam ham' appears 50x
    assert uniq.dup_2gram_frac == 0.0
    assert uniq.top_2gram_count == 1
    assert uniq.top_3gram_frac == pytest.approx(1.0 / 98)


def test_repetition_profile_short_docs(spark, patched_docs):
    rows = [(0, "one", "en", "s", 0), (1, "a b", "en", "s", 0)]
    patched_docs(_mini_docs(spark, rows))
    got = {r.doc_id: r for r in
           cq.t_repetition_profile(spark, "unused").collect()}
    # 1-token doc: no grams at all -> absent from the gram plane
    assert 0 not in got
    assert got[1].n_2grams == 1 and got[1].dup_3gram_frac is None


def test_tfidf_topterms_semantics(spark, patched_docs):
    docs = local_df(
        spark, [(1, "apple apple banana common", "en", "s", 25),
                (2, "cherry common", "en", "s", 13),
                (3, "common date date date", "en", "s", 21)],
        "doc_id long, text string, lang string, source string, n_chars long")
    patched_docs(docs)
    out = cq.t_tfidf_topterms(spark, "ignored")
    rows = {(r.doc_id, r.term): r for r in out.collect()}
    # 'common' appears in all 3 docs -> df=3, score tf*(3/3)=1 — always
    # beaten by any doc-unique term (score tf*3)
    top1 = {r.doc_id: r.term for r in out.filter("term_rank = 1").collect()}
    assert top1 == {1: "apple", 2: "cherry", 3: "date"}
    assert rows[(1, "apple")].tf == 2 and rows[(1, "apple")].df == 1
    assert rows[(1, "apple")].score == 2 * 3.0
    # at most _TOP_TERMS rows per doc
    per_doc = out.groupBy("doc_id").count().collect()
    assert all(r["count"] <= cq._TOP_TERMS for r in per_doc)


def test_inverted_index_cap_and_counts(spark, patched_docs):
    n = cq._POSTING_CAP + 7
    rows = [(i, "stop uniq%d" % i, "en", "s", 10) for i in range(n)]
    patched_docs(local_df(
        spark, rows, "doc_id long, text string, lang string, source string,"
              " n_chars long"))
    out = {r.term: r for r in
           cq.t_inverted_index(spark, "ignored").collect()}
    stop = out["stop"]
    # df/cf reflect the FULL corpus, postings are capped to the first
    # _POSTING_CAP doc_ids
    assert stop.df == n and stop.cf == n
    assert stop.postings == ",".join(str(i) for i in range(cq._POSTING_CAP))
    assert out["uniq3"].df == 1 and out["uniq3"].postings == "3"


def test_inverted_index_caps_before_collect(spark, sf_dir):
    """The posting-cap filter must sit BELOW the collect_list agg in
    the plan (rows dropped by the window rank never reach an array
    buffer), and the groupBy must reuse the window's partitioning."""
    plan = (cq.t_inverted_index(spark, sf_dir)
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.index("collect_list") < plan.index("row_number")
    assert plan.count("Exchange hashpartitioning") == 2


def test_weighted_sample_deterministic_and_biased(spark, sf_dir):
    out = cq.p_weighted_sample(spark, sf_dir)
    a = sorted(r.doc_id for r in out.collect())
    b = sorted(r.doc_id for r in cq.p_weighted_sample(spark, sf_dir).collect())
    assert a == b and a
    # longer docs survive more often: acceptance rate of capped-weight
    # docs (>=400 chars, p=0.5) must exceed the short-doc rate
    docs = cq._docs(spark, sf_dir).select("doc_id", "n_chars")
    kept = set(a)
    long_ids = [r.doc_id for r in docs.filter("n_chars >= 400").collect()]
    short_ids = [r.doc_id for r in docs.filter("n_chars < 200").collect()]
    if long_ids and short_ids:
        long_rate = sum(i in kept for i in long_ids) / len(long_ids)
        short_rate = sum(i in kept for i in short_ids) / len(short_ids)
        assert long_rate > short_rate


def test_pii_scrub_redacts_everything(spark, sf_dir):
    out = cq.t_pii_scrub(spark, sf_dir)
    rows = out.collect()
    assert rows
    for r in rows:
        # every ticket embeds exactly one of each PII shape...
        assert (r.n_phones, r.n_emails, r.n_ids) == (1, 1, 1)
        # ...and the scrubbed text carries placeholders, no residue
        assert "<PHONE>" in r.scrubbed and "<EMAIL>" in r.scrubbed \
            and "<ID>" in r.scrubbed
        assert "@" not in r.scrubbed
        assert "555-" not in r.scrubbed


def test_doc_chunks_cover_and_overlap(spark, patched_docs):
    text = " ".join(f"w{i}" for i in range(80))   # 80 tokens
    patched_docs(local_df(
        spark, [(1, text, "en", "s", len(text)), (2, "a b", "en", "s", 3)],
        "doc_id long, text string, lang string, source string,"
        " n_chars long"))
    rows = sorted(cq.p_doc_chunks(spark, "ignored").collect(),
                  key=lambda r: (r.doc_id, r.chunk_id))
    d1 = [r for r in rows if r.doc_id == 1]
    # 80 tokens, size 32, stride 24 -> chunks at 1, 25, 49: last covers
    # to token 80; no redundant tail window
    assert [(r.start_token, r.n_tokens) for r in d1] == [(1, 32), (25, 32),
                                                         (49, 32)]
    # overlap: chunk i+1 repeats the last 8 tokens of chunk i
    a, b = d1[0].chunk_text.split(), d1[1].chunk_text.split()
    assert a[-8:] == b[:8]
    # full coverage: union of chunks == the document
    covered = set()
    for r in d1:
        covered.update(range(r.start_token, r.start_token + r.n_tokens))
    assert covered == set(range(1, 81))
    # short doc: one chunk, the whole doc
    d2 = [r for r in rows if r.doc_id == 2]
    assert [(r.start_token, r.n_tokens, r.chunk_text) for r in d2] == \
        [(1, 2, "a b")]


def test_corpus_report_semantics(spark, patched_docs):
    patched_docs(local_df(
        spark, [(1, "x y", "en", "s1", 3), (2, "x y", "en", "s1", 3),
                (3, "z", "en", "s1", 1), (4, "q r s", "de", "s2", 5)],
        "doc_id long, text string, lang string, source string,"
        " n_chars long"))
    rows = {(r.lang, r.source): r
            for r in cq.p_corpus_report(spark, "ignored").collect()}
    en = rows[("en", "s1")]
    assert (en.n_docs, en.n_tokens, en.n_unique) == (3, 5, 2)
    assert en.dup_rate == 1 / 3
    de = rows[("de", "s2")]
    assert (de.n_docs, de.n_tokens, de.n_unique, de.dup_rate) == (1, 3, 1, 0.0)


def test_kmv_estimate_accuracy(spark, sf_dir):
    rows = cq.t_kmv_distinct(spark, sf_dir).collect()
    assert rows
    for r in rows:
        if r.k_used < cq._KMV_K:
            assert r.est_distinct == float(r.n_exact)
        else:
            # KMV with k=64 has ~1/sqrt(k-2) ≈ 13% std error; allow 4σ
            assert abs(r.est_distinct - r.n_exact) / r.n_exact < 0.52


def test_repeated_spans_merges_and_caps(spark):
    """Constructed corpus: two docs share one 10-token run (k=8 →
    3 duplicated grams merging into ONE span), a third doc is unique
    (no spans), and a boilerplate gram present in every doc above
    max_df is dropped."""
    from cube_builder_spark.functions.dedup import repeated_spans

    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = local_df(spark, [
        (1, f"one two three {shared} four five"),
        (2, f"{shared} six seven eight nine ten eleven"),
        (3, "completely different words with no overlap at all here ok"),
    ], "doc_id long, text string")
    got = {(r.doc_id): (r.span_start, r.span_end, r.n_grams)
           for r in repeated_spans(docs, k=8).collect()}
    # doc 1: shared run occupies tokens 4..13 → grams at pos 4,5,6
    assert got[1] == (4, 13, 3)
    # doc 2: run at tokens 1..10 → grams at pos 1,2,3
    assert got[2] == (1, 10, 3)
    assert 3 not in got
    # max_df cap: the same gram in 3 docs with max_df=2 is dropped
    docs3 = local_df(
        spark, [(i, shared) for i in range(1, 4)], "doc_id long, text string")
    assert repeated_spans(docs3, k=8, max_df=2).collect() == []
    assert len(repeated_spans(docs3, k=8, max_df=3).collect()) == 3


def test_repeated_spans_distinct_islands(spark):
    """Two separated shared runs in one doc stay TWO spans (the gap
    exceeds k), and within-doc repetition alone (df=1) does not
    count as duplication."""
    from cube_builder_spark.functions.dedup import repeated_spans

    run_a = "a1 a2 a3 a4 a5 a6 a7 a8"          # exactly one 8-gram
    run_b = "b1 b2 b3 b4 b5 b6 b7 b8"
    gap = " ".join(f"g{i}" for i in range(12))
    docs = local_df(spark, [
        (1, f"{run_a} {gap} {run_b}"),
        (2, f"x0 {run_a} y0"),
        (3, f"z0 z1 {run_b}"),
        (4, f"{run_a} {run_a}"),   # self-repeat only in doc 4? no — run_a
    ], "doc_id long, text string")  # is shared with docs 1/2 so it counts
    spans = {(r.doc_id, r.span_start, r.span_end)
             for r in repeated_spans(docs, k=8).collect()}
    assert (1, 1, 8) in spans            # run_a island
    assert (1, 21, 28) in spans          # run_b island, separate
    assert (2, 2, 9) in spans
    assert (3, 3, 10) in spans


def test_lm_doc_likelihood_hand_computed(spark, monkeypatch, tmp_path):
    """3-doc corpus small enough to verify the smoothed scores by
    hand: doc with the corpus's dominant bigram scores higher than a
    doc of one-off transitions."""
    import cube_builder_spark.corpus_queries as cq

    docs = local_df(spark, [
        (1, "a b a b"), (2, "a b c"), (3, "c a")],
        "doc_id long, text string")
    monkeypatch.setattr(cq, "_docs", lambda s, d: docs)
    rows = {r.doc_id: r for r in
            cq.t_lm_doc_likelihood(spark, "unused").collect()}
    # corpus: V=3; bigrams: (a,b)x3 (b,a)x1 (b,c)x1 (c,a)x1
    # n_a. = 3, n_b. = 2, n_c. = 1
    # P(b|a)=(3+1)/(3+3)=2/3 ; P(a|b)=(1+1)/(2+3)=2/5
    # P(c|b)=2/5 ; P(a|c)=(1+1)/(1+3)=1/2
    s = lambda p: int(1e6 * p)  # all exactly representable here
    assert rows[1].score_sum == s(2/3) + s(2/5) + s(2/3)
    assert rows[2].score_sum == s(2/3) + s(2/5)
    assert rows[3].score_sum == s(1/2)
    assert rows[1].mean_p > rows[2].mean_p  # dominant-bigram doc wins


def test_dsir_importance_hand_computed(spark, monkeypatch):
    """4-doc corpus: a doc made of the target source's signature
    bigram outscores a doc of off-target transitions; scores match
    the hand-derived fixed-point ratios exactly."""
    import cube_builder_spark.corpus_queries as cq

    docs = local_df(spark, [
        (1, "src1", "x y x y"),     # target doc: (x,y)x2 (y,x)x1
        (2, "src1", "x y"),         # target doc: (x,y)x1
        (3, "src9", "x y q"),       # raw doc sharing the target bigram
        (4, "src9", "q r q")],      # raw-only transitions
        "doc_id long, source string, text string")
    monkeypatch.setattr(cq, "_docs", lambda s, d: docs)
    rows = {r.doc_id: r for r in
            cq.t_dsir_importance(spark, "unused").collect()}
    # corpus bigram counts (cr) / target counts (ct):
    #  (x,y): cr=4 ct=3 -> rf = 4*1e6 // 5 = 800000
    #  (y,x): cr=1 ct=1 -> rf = 2*1e6 // 2 = 1000000
    #  (y,q): cr=1 ct=0 -> rf = 1*1e6 // 2 = 500000
    #  (q,r): cr=1 ct=0 -> 500000 ; (r,q): cr=1 ct=0 -> 500000
    assert rows[1].score_sum == 800000 + 1000000 + 800000
    assert rows[2].score_sum == 800000
    assert rows[3].score_sum == 800000 + 500000
    assert rows[4].score_sum == 500000 + 500000
    # target-like docs carry more importance than off-target ones
    assert rows[1].importance > rows[4].importance
    assert rows[2].importance > rows[4].importance


def test_token_budget_mix_caps_and_rates(spark, monkeypatch):
    """Budget maths on a constructed corpus: a source whose weighted
    allocation exceeds its supply is capped at 100% rate; the others
    get floor-division rates; achieved tokens only count sampled
    docs."""
    import cube_builder_spark.pipeline_queries as pq

    # src1 (weight 40): tiny supply -> capped; src9 (weight 10): big
    docs = local_df(
        spark, [(1, "src1", "a b c")]              # 3 tokens
        + [(i, "src9", "w " * 9 + "w") for i in range(2, 12)],  # 10x10
        "doc_id long, source string, text string")
    monkeypatch.setattr(pq, "_docs", lambda s, d: docs)
    rows = {r.source: r for r in
            pq.p_token_budget_mix(spark, "unused").collect()}
    # totals: 103 tokens -> budget = 34; sumw = 40 + 10 = 50
    # src1: alloc = min(34*40//50, 3) = min(27, 3) = 3 -> rate 100%
    # src9: alloc = min(34*10//50, 100) = 6 -> rate 6*100//100 = 6%
    assert rows["src1"].available_tokens == 3
    assert rows["src1"].alloc_tokens == 3
    assert rows["src1"].rate_pct == 100
    assert rows["src1"].n_sampled == 1        # 100% keeps everything
    assert rows["src1"].achieved_tokens == 3
    assert rows["src9"].available_tokens == 100
    assert rows["src9"].alloc_tokens == 6
    assert rows["src9"].rate_pct == 6
    # achieved = 10 tokens per sampled doc
    assert rows["src9"].achieved_tokens == 10 * rows["src9"].n_sampled


def test_bpe_train_hand_computed_with_overlaps(spark, monkeypatch):
    """BPE training on a corpus tiny enough to derive the merges by
    hand, including the overlapping-pair case ('aaaa'): pair counts
    follow Sennrich get_stats (every adjacent occurrence counts), the
    merge is greedy left-to-right non-overlapping, and later
    iterations see merged symbols."""
    import cube_builder_spark.corpus_queries as cq

    docs = local_df(
        spark, [(1, "aaaa ab"), (2, "aaaa"), (3, "ab ab")],
        "doc_id long, text string")
    monkeypatch.setattr(cq, "_docs", lambda s, d: docs)
    monkeypatch.setattr(cq, "_BPE_K", 3)
    rows = {r.rank: r for r in cq.t_bpe_train(spark, "unused").collect()}
    # word freqs: aaaa x2, ab x3
    # iter 1: (a,a) = 3 per 'aaaa' x2 = 6; (a,b) = 3 -> merge (a,a)
    #   'aaaa' -> [aa, aa] (greedy, non-overlapping), 'ab' unchanged
    assert (rows[1].sym_a, rows[1].sym_b, rows[1].cnt) == ("a", "a", 6)
    # iter 2: (aa,aa) = 2; (a,b) = 3 -> merge (a,b); 'ab' -> [ab]
    assert (rows[2].sym_a, rows[2].sym_b, rows[2].cnt) == ("a", "b", 3)
    # iter 3: only (aa,aa) = 2 remains
    assert (rows[3].sym_a, rows[3].sym_b, rows[3].cnt) == ("aa", "aa", 2)


def test_zonal_stats_exact_on_constructed_plane(spark, monkeypatch):
    """C25 on a constructed plane: zones are pixel_id // 64; nodata
    rows are excluded; min/max/sum/mean are the hand values."""
    import cube_builder_spark.cube_queries as cq

    rows = [(0, 0, 1, 10), (0, 63, 1, 30),     # zone 0
            (0, 64, 1, 100), (0, 70, 1, -9999),  # zone 1 (one nodata)
            (1, 5, 2, 7)]                      # other tile/doy
    plane = local_df(
        spark, rows, "tile_id long, pixel_id long, doy long, value long")
    monkeypatch.setattr(cq, "pixel_plane", lambda s, d: plane)
    got = {(r.tile_id, r.zone_id, r.doy): r
           for r in cq.c25_zonal_stats(spark, "x").collect()}
    z0 = got[(0, 0, 1)]
    assert (z0.n_valid, z0.v_min, z0.v_max, z0.v_sum, z0.v_mean) == \
        (2, 10, 30, 40, 20.0)
    z1 = got[(0, 1, 1)]
    assert (z1.n_valid, z1.v_sum) == (1, 100)   # nodata excluded
    assert got[(1, 0, 2)].v_mean == 7.0
