"""Training-data-pipeline oracle queries over documents/embeddings:
dedup (exact, MinHash+LSH, SimHash, n-gram Jaccard), similarity search
(brute-force + LSH), text analysis (tokens, lang-ID, quality,
fingerprints)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions import dedup, similarity, text
from .functions.numeric import round_half_up_long
from .tables import load_tables
from .tables import local_df
from .queries import register

REGISTRY: list[tuple[str, object, str | None]] = []


def _docs(spark, sf_dir):
    return load_tables(spark, sf_dir, ["documents"])["documents"]


def _embs(spark, sf_dir):
    return load_tables(spark, sf_dir, ["embeddings"])["embeddings"]


# Text analysis ---------------------------------------------------------------

@register("t_token_stats", """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t, text FROM documents)
SELECT doc_id,
       CAST(len(t) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(t)) AS BIGINT) AS n_uniq,
       len(list_distinct(t)) * 1e0 / len(t) AS uniq_ratio,
       length(replace(text, ' ', '')) * 1e0 / len(t) AS mean_token_len
FROM toks
""")
def t_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + lexical diversity per document."""
    return text.token_stats(_docs(spark, sf_dir))


_SW = {lg: ", ".join(f"'{w}'" for w in ws) for lg, ws in text.STOPWORDS.items()}

@register("t_lang_id", f"""
WITH scored AS (
  SELECT lang,
         CAST(len(list_filter(string_split(text, ' '), x -> x IN ({_SW['en']}))) AS BIGINT) AS s_en,
         CAST(len(list_filter(string_split(text, ' '), x -> x IN ({_SW['de']}))) AS BIGINT) AS s_de,
         CAST(len(list_filter(string_split(text, ' '), x -> x IN ({_SW['es']}))) AS BIGINT) AS s_es,
         CAST(len(list_filter(string_split(text, ' '), x -> x IN ({_SW['fr']}))) AS BIGINT) AS s_fr
  FROM documents
)
SELECT lang,
       CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
            WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
            WHEN s_es >= s_fr THEN 'es' ELSE 'fr' END AS predicted,
       count(*) AS n
FROM scored GROUP BY lang, predicted
""")
def t_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic vs the labeled lang column (confusion
    counts)."""
    return (text.lang_id(_docs(spark, sf_dir))
            .groupBy("lang", "predicted").agg(F.count(F.lit(1)).alias("n")))


@register("t_quality_score", f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
stats AS (
  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
         len(list_distinct(t)) * 1e0 / len(t) AS uniq_ratio,
         CAST(len(list_filter(t, x -> x IN ({_SW['en']}))) AS BIGINT) AS s_en
  FROM toks
)
SELECT doc_id, n_tokens, uniq_ratio,
       s_en * 1e0 / n_tokens AS stopword_ratio,
       uniq_ratio * (CASE WHEN n_tokens >= 50 THEN 1e0 ELSE n_tokens / 5e1 END) AS quality
FROM stats
""")
def t_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: diversity damped for short docs + stopword density."""
    return text.quality_score(_docs(spark, sf_dir))


@register("t_fingerprints", """
SELECT doc_id, md5(text) AS fp,
       md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS content_fp
FROM documents
""")
def t_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact + order-insensitive content fingerprints."""
    return text.fingerprints(_docs(spark, sf_dir))


# Dedup -----------------------------------------------------------------------

@register("d_exact_dedup", """
SELECT doc_id, md5(text) AS content_hash,
       CAST(count(*) OVER (PARTITION BY md5(text)) AS BIGINT) AS group_size,
       min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
       doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS is_canonical
FROM documents
""")
def d_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact hash dedup with canonical representative per group."""
    return dedup.exact_dedup(_docs(spark, sf_dir))


# LSH skew cap: a degenerate (boilerplate) bucket of size n yields
# n^2/2 candidate pairs — pure quadratic skew at scale. Buckets above
# the cap are dropped in BOTH engines (members still pair via their
# other bands). Far above any honest bucket in the fixtures.
_LSH_MAX_BUCKET = 64

_SHINGLES_SQL = """
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (SELECT doc_id,
              list_transform(generate_series(1, len(t) - 2),
                             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS shingles
       FROM toks),
mh AS (SELECT doc_id,
              min(md5('0|' || s)) AS h0, min(md5('1|' || s)) AS h1,
              min(md5('2|' || s)) AS h2, min(md5('3|' || s)) AS h3
       FROM (SELECT doc_id, unnest(shingles) AS s FROM sh) GROUP BY doc_id)
"""

@register("d_minhash_lsh_pairs", f"""
WITH {_SHINGLES_SQL},
buckets AS (
  SELECT doc_id, 'b0:' || h0 || h1 AS bucket FROM mh
  UNION ALL
  SELECT doc_id, 'b1:' || h2 || h3 AS bucket FROM mh
),
-- skew cap mirror: buckets over {_LSH_MAX_BUCKET} members are dropped
bsize AS (SELECT bucket, count(*) AS bn FROM buckets GROUP BY bucket),
capped AS (
  SELECT b.doc_id, b.bucket FROM buckets b
  JOIN bsize s ON b.bucket = s.bucket AND s.bn <= {_LSH_MAX_BUCKET}
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM capped a JOIN capped b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
)
SELECT p.doc_a, p.doc_b,
       len(list_intersect(sa.shingles, sb.shingles)) * 1e0
         / NULLIF(len(list_distinct(sa.shingles || sb.shingles)), 0) AS jaccard
FROM pairs p
JOIN sh sa ON sa.doc_id = p.doc_a
JOIN sh sb ON sb.doc_id = p.doc_b
""")
def d_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(4) + 2-band LSH candidate pairs with exact Jaccard
    verification — the near-dup detector."""
    docs = _docs(spark, sf_dir)
    # Fused single-subtree shape (shingle arrays ride into the bucket
    # shuffle; no verify join, no persist/checkpoint): see
    # dedup.lsh_near_dup_pairs for the full rationale.
    sh = dedup.shingles(docs)
    return dedup.lsh_near_dup_pairs(sh, bands=[["h0", "h1"], ["h2", "h3"]],
                                    max_bucket=_LSH_MAX_BUCKET)


@register("d_ngram_jaccard_dups", f"""
WITH {_SHINGLES_SQL},
buckets AS (SELECT doc_id, h0 AS bucket FROM mh),
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
SELECT doc_a, doc_b, jaccard FROM jac WHERE jaccard >= 5e-1
""")
def d_ngram_jaccard_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-hash bucketing + n-gram Jaccard threshold (>= 0.5):
    confirmed near-duplicate pairs."""
    docs = _docs(spark, sf_dir)
    sh = dedup.shingles(docs)
    return dedup.lsh_near_dup_pairs(sh, bands=[["h0"]],
                                    max_bucket=_LSH_MAX_BUCKET, threshold=0.5)


_SPAN_K = 8        # k-gram width for span dedup (p_decontaminate's n)
_SPAN_MAX_DF = 1000  # boilerplate cap: grams in more docs are dropped


@register("d_repeated_spans", f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
g AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         md5(array_to_string(list_slice(t, i, i + {_SPAN_K - 1}), ' ')) AS gh
  FROM toks, unnest(range(1, len(t) - {_SPAN_K - 2})) AS u(i)
  WHERE len(t) >= {_SPAN_K}
),
freq AS (
  SELECT gh FROM g GROUP BY gh
  HAVING count(DISTINCT doc_id) BETWEEN 2 AND {_SPAN_MAX_DF}
),
hits AS (SELECT g.doc_id, g.pos FROM g JOIN freq ON g.gh = freq.gh),
isl AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                   <= {_SPAN_K} THEN 0 ELSE 1 END AS brk
  FROM hits
),
grp AS (
  SELECT doc_id, pos,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS island
  FROM isl
)
SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
       CAST(max(pos) + {_SPAN_K - 1} AS BIGINT) AS span_end,
       CAST(count(*) AS BIGINT) AS n_grams
FROM grp GROUP BY doc_id, island
""")
def d_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level dedup: maximal token spans whose 8-grams occur
    in >= 2 documents (Lee et al. 2022's repeated-substring removal,
    relationally — see dedup.repeated_spans for the 100 TB shape)."""
    return dedup.repeated_spans(_docs(spark, sf_dir), k=_SPAN_K,
                                max_df=_SPAN_MAX_DF)


_AP_K = 5          # shingle width for the exact similarity join
_AP_TAU = 0.5      # Jaccard threshold


@register("d_allpairs_jaccard", f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sets AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(1, len(t) - {_AP_K - 1}),
           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4]))
           AS s
  FROM toks WHERE len(t) >= {_AP_K}
),
tok AS (SELECT doc_id, unnest(s) AS w, len(s) AS n FROM sets),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c,
         any_value(a.n) AS na, any_value(b.n) AS nb
  FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b, c * 1e0 / (na + nb - c) AS jaccard
FROM inter WHERE c * 1e0 / (na + nb - c) >= {_AP_TAU}
""")
def d_allpairs_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT threshold similarity self-join (AllPairs/PPJoin prefix
    filtering) — every doc pair with 5-shingle Jaccard >= 0.5, no
    LSH recall loss. The oracle is the brute-force token join over
    ALL shared shingles; the Spark side generates candidates only
    from rarest-first PREFIX tokens plus the length bound, then
    verifies — two very different plans, one hash
    (dedup.allpairs_jaccard for the lossless-prefix argument)."""
    return dedup.allpairs_jaccard(_docs(spark, sf_dir), k=_AP_K,
                                  threshold=_AP_TAU)


_SHINGLES5_SQL = """
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (SELECT doc_id,
              list_transform(generate_series(1, len(t) - 4),
                             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                  || ' ' || t[i+3] || ' ' || t[i+4]) AS shingles
       FROM toks),
mh AS (SELECT doc_id,
              min(md5('0|' || s)) AS h0, min(md5('1|' || s)) AS h1,
              min(md5('2|' || s)) AS h2, min(md5('3|' || s)) AS h3
       FROM (SELECT doc_id, unnest(shingles) AS s FROM sh) GROUP BY doc_id)
"""

@register("d_lsh_recall_eval", f"""
WITH {_SHINGLES5_SQL},
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
cpairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM capped a JOIN capped b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
),
cj AS (
  SELECT p.doc_a, p.doc_b,
         len(list_intersect(sa.shingles, sb.shingles)) * 1e0
           / NULLIF(len(list_distinct(sa.shingles || sb.shingles)), 0) AS jaccard
  FROM cpairs p
  JOIN sh sa ON sa.doc_id = p.doc_a
  JOIN sh sb ON sb.doc_id = p.doc_b
),
sets AS (SELECT doc_id, list_distinct(shingles) AS s FROM sh
         WHERE len(shingles) > 0),
tok AS (SELECT doc_id, unnest(s) AS w, len(s) AS n FROM sets),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c,
         any_value(a.n) AS na, any_value(b.n) AS nb
  FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
truth AS (SELECT doc_a, doc_b FROM inter
          WHERE c * 1e0 / (na + nb - c) >= {_AP_TAU}e0),
cagg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_candidates,
         CAST(sum(CASE WHEN jaccard >= {_AP_TAU}e0 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_hits
  FROM cj
),
tagg AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truth)
SELECT n_candidates, n_truth, n_hits,
       n_hits * 1e0 / NULLIF(n_candidates, 0) AS precision_at_tau,
       n_hits * 1e0 / NULLIF(n_truth, 0) AS recall
FROM cagg, tagg
""")
def d_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall/precision evaluation of the MinHash-LSH candidate
    generator against EXACT ground truth — the measurement harness a
    production dedup plane ships with (the ANN plane already has its
    twin, a_ann_recall_eval): before trusting a probabilistic
    detector at 100 TB you quantify what its banding misses.

    Ground truth = every pair with exact 5-shingle-set Jaccard ≥ 0.5
    from the LOSSLESS AllPairs prefix-filter join (dedup.
    allpairs_jaccard in d_allpairs_jaccard's exact configuration — no
    LSH recall loss by construction); candidates = the 2-band
    4-minhash skew-capped generator run over the SAME 5-shingle
    space, so both sides measure one similarity. Since LSH candidates
    carry their exact verified Jaccard, hits = candidates at ≥ τ need
    no join against the truth set — three counts and two IEEE
    divisions: recall = hits/truth (banding misses), precision =
    hits/candidates (verify-stage waste).

    Shingle width is a MEASURED choice: the first cut evaluated on
    3-shingles (d_minhash_lsh_pairs' width) and its AllPairs truth
    ran 8.4s warm at sf0.1 — 3-grams repeat across documents so the
    prefix join explodes; the 5-shingle space gives the same harness
    semantics at 3.7s (tools/perf_probe.py time, same session; the
    residual cost is two honest subtrees — capped LSH and lossless
    AllPairs — which tokenize independently because their kernels
    differ, see shingles()'s per-consumer A/B).

    Scale shape: composes two already-bounded subtrees (capped LSH
    buckets; prefix-filtered AllPairs) into 1-row aggregates joined by
    a broadcast crossJoin-of-one-row — the plan-asserted global-
    aggregate pattern."""
    docs = _docs(spark, sf_dir)
    sh = dedup.shingles(docs, k=_AP_K)
    cand = dedup.lsh_near_dup_pairs(sh, bands=[["h0", "h1"], ["h2", "h3"]],
                                    max_bucket=_LSH_MAX_BUCKET)
    truth = dedup.allpairs_jaccard(docs, k=_AP_K, threshold=_AP_TAU)
    cagg = cand.agg(
        F.count(F.lit(1)).cast("long").alias("n_candidates"),
        F.sum(F.when(F.col("jaccard") >= _AP_TAU, 1).otherwise(0))
        .cast("long").alias("n_hits"))
    tagg = truth.agg(F.count(F.lit(1)).cast("long").alias("n_truth"))
    nhits = F.col("n_hits")
    return (cagg.crossJoin(tagg)
            .select("n_candidates", "n_truth", "n_hits",
                    (nhits * 1e0 / F.when(F.col("n_candidates") != 0,
                                          F.col("n_candidates")))
                    .alias("precision_at_tau"),
                    (nhits * 1e0 / F.when(F.col("n_truth") != 0,
                                          F.col("n_truth")))
                    .alias("recall")))


_LPA_STEP = """
i{K} AS (
  SELECT e.s AS id, l.lbl AS lbl, count(*) AS cnt
  FROM edges e JOIN l{P} l ON e.d = l.id
  GROUP BY e.s, l.lbl
),
l{K} AS (
  SELECT id,
         CAST(4294967295 - max(cnt * 4294967296 + (4294967295 - lbl))
              % 4294967296 AS BIGINT) AS lbl
  FROM i{K} GROUP BY id
)"""


@register("d_lpa_communities", f"""
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
cpairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM capped a JOIN capped b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
),
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM cpairs
  UNION ALL
  SELECT doc_b AS s, doc_a AS d FROM cpairs
),
l0 AS (SELECT DISTINCT s AS id, s AS lbl FROM edges),
{_LPA_STEP.format(K=1, P=0)},
{_LPA_STEP.format(K=2, P=1)},
{_LPA_STEP.format(K=3, P=2)},
{_LPA_STEP.format(K=4, P=3)}
SELECT id AS doc_id, lbl AS community,
       CAST(count(*) OVER (PARTITION BY lbl) AS BIGINT) AS community_size
FROM l4
""")
def d_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation community detection (Raghavan et al. 2007 —
    GraphFrames' labelPropagation) over the UNTHRESHOLDED LSH
    candidate graph: where d_dup_clusters' min-label connected
    components answer "transitively linked at all?", LPA's
    synchronous majority vote splits the noisy candidate graph along
    its dense cores — the community layer of the graph family
    (x_pagerank_trade / x_bfs_reach / x_triangle_count / CC).

    Determinism: fixed 4 synchronous rounds; per-node vote is the
    packed-argmax cnt·2³² + (2³²−1 − lbl) under MAX (count desc,
    smaller label on ties) — both engines replay the identical
    automaton, converged or not. The oracle unrolls the same 4 steps
    as CTEs. Scale shape: dedup.label_propagation — one-eval exploded
    edge list, per-round lineage cut, bounded groupBys keyed on ids."""
    docs = _docs(spark, sf_dir)
    sh = dedup.shingles(docs)
    pairs = dedup.lsh_near_dup_pairs(
        sh, bands=[["h0", "h1"], ["h2", "h3"]],
        max_bucket=_LSH_MAX_BUCKET).select("doc_a", "doc_b")
    return dedup.label_propagation(pairs, iters=4)


@register("d_entity_resolution", """
WITH b AS (
  SELECT p_partkey, p_name, p_brand, split_part(p_name, ' ', 1) AS w1
  FROM part
)
SELECT a.p_partkey AS id_a, c.p_partkey AS id_b,
       CAST(levenshtein(a.p_name, c.p_name) AS BIGINT) AS edit_dist
FROM b a JOIN b c
  ON a.w1 = c.w1 AND a.p_brand = c.p_brand AND a.p_partkey < c.p_partkey
WHERE levenshtein(a.p_name, c.p_name) <= 3
""")
def d_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution over the part master: blocking on
    (first name token, brand) then a levenshtein <= 3 verify —
    record-linkage's blocking+verify shape (the all-pairs O(N²)
    compare is replaced by bounded within-block compares; see
    dedup.blocked_entity_pairs for the 100 TB posture). The oracle
    is the equivalent self-join formulation; both engines share the
    standard Levenshtein metric."""
    part = load_tables(spark, sf_dir, ["part"])["part"]
    blocked = part.select(
        "p_partkey", "p_name", "p_brand",
        F.split(F.col("p_name"), " ").getItem(0).alias("w1"))
    return dedup.blocked_entity_pairs(
        blocked, id_col="p_partkey", name_col="p_name",
        block_cols=["w1", "p_brand"], max_edit=3)


# Unrolled min-label propagation steps (l1..l6): both engines run the
# SAME fixed number of rounds, so the output is deterministic and
# hash-comparable even on a not-yet-converged component (it isn't one:
# near-dup clusters have diameter 2-3). Each step is MATERIALIZED
# because it reads the previous step twice: DuckDB inlines CTEs, so
# plain steps would re-evaluate the pair pipeline 2**n times.
def _label_steps_sql(n: int) -> str:
    steps = []
    for i in range(1, n + 1):
        steps.append(f"""
l{i} AS MATERIALIZED (
  SELECT n.doc_id, least(n.lbl, min(l.lbl)) AS lbl
  FROM l{i - 1} n
  JOIN edges e ON e.s = n.doc_id
  JOIN l{i - 1} l ON l.doc_id = e.d
  GROUP BY n.doc_id, n.lbl
)""")
    return ",".join(steps)


_CLUSTER_ITERS = 6

@register("d_dup_clusters", f"""
WITH {_SHINGLES_SQL},
buckets AS (SELECT doc_id, h0 AS bucket FROM mh),
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
),
dups AS (SELECT doc_a, doc_b FROM jac WHERE jaccard >= 5e-1),
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM dups
  UNION ALL
  SELECT doc_b, doc_a FROM dups
),
l0 AS (SELECT DISTINCT s AS doc_id, s AS lbl FROM edges),
{_label_steps_sql(_CLUSTER_ITERS)}
SELECT doc_id, lbl AS canonical_id, doc_id = lbl AS is_canonical
FROM l{_CLUSTER_ITERS}
""")
def d_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-CLUSTER canonicalization: near-dup pairs (single-band
    LSH + Jaccard >= 0.5) -> connected components by min-label
    propagation -> one canonical doc per cluster; the round loop is
    ``functions/graph.iterate``. The full-value oracle replays the
    same fixed label rounds in SQL."""
    docs = _docs(spark, sf_dir)
    sh = dedup.shingles(docs)
    pairs = dedup.lsh_near_dup_pairs(sh, bands=[["h0"]],
                                     max_bucket=_LSH_MAX_BUCKET,
                                     threshold=0.5).select("doc_a", "doc_b")
    return dedup.dup_clusters(pairs, iters=_CLUSTER_ITERS)


@register("d_fingerprint_suite", """
WITH exact AS (
  SELECT doc_id, md5(text) AS content_hash,
         CAST(count(*) OVER (PARTITION BY md5(text)) AS BIGINT) AS group_size,
         min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
         doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS is_canonical
  FROM documents
),
toks AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS t FROM documents
),
votes AS (
  SELECT doc_id, count(*) AS n,
         """ + ",\n         ".join(
    f"sum(ascii(substr(md5(t), {j + 1}, 1)) % 2) AS v{j}" for j in range(16)) + """
  FROM toks GROUP BY doc_id
),
sim AS (
  SELECT doc_id, CAST(""" + " + ".join(
    f"(CASE WHEN v{j} * 2 > n THEN {1 << j} ELSE 0 END)" for j in range(16)) + """
         AS BIGINT) AS simhash
  FROM votes
)
SELECT 'exact' AS part, doc_id, content_hash, group_size, canonical_id,
       is_canonical, CAST(NULL AS BIGINT) AS simhash
FROM exact
UNION ALL
SELECT 'simhash', doc_id, NULL, NULL, NULL, NULL, simhash FROM sim
""")
def d_fingerprint_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-hash dedup + SimHash fingerprints in one graded row
    (schema-aligned union; both halves hash-checked)."""
    docs = _docs(spark, sf_dir)
    nul = F.lit(None)
    exact = dedup.exact_dedup(docs).select(
        F.lit("exact").alias("part"), "doc_id", "content_hash",
        "group_size", "canonical_id", "is_canonical",
        nul.cast("long").alias("simhash"))
    sim = dedup.simhash(docs).select(
        F.lit("simhash").alias("part"), "doc_id",
        nul.cast("string").alias("content_hash"),
        nul.cast("long").alias("group_size"),
        nul.cast("long").alias("canonical_id"),
        nul.cast("boolean").alias("is_canonical"), "simhash")
    return exact.unionByName(sim)


@register("d_simhash", """
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS t FROM documents
),
votes AS (
  SELECT doc_id, count(*) AS n,
         """ + ",\n         ".join(
    f"sum(ascii(substr(md5(t), {j + 1}, 1)) % 2) AS v{j}" for j in range(16)) + """
  FROM toks GROUP BY doc_id
)
SELECT doc_id, CAST(""" + " + ".join(
    f"(CASE WHEN v{j} * 2 > n THEN {1 << j} ELSE 0 END)" for j in range(16)) + """
       AS BIGINT) AS simhash
FROM votes
""")
def d_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-style 16-bit fingerprint via per-token hash-bit votes."""
    return dedup.simhash(_docs(spark, sf_dir))


# Similarity search -----------------------------------------------------------

# list_dot_product accumulates doubles sequentially; every partial sum
# of our integer milli-unit products stays < 2^53, so the result equals
# Spark's exact long fold bit-for-bit.
_QUANT_SQL = """
q AS (
  SELECT list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS qv
  FROM embeddings WHERE vec_id = 0
),
cand AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS ev
  FROM embeddings WHERE vec_id <> 0
),
dots AS (
  SELECT c.vec_id,
         list_dot_product(c.ev, q.qv) AS dab,
         list_dot_product(c.ev, c.ev) AS daa,
         list_dot_product(q.qv, q.qv) AS dbb
  FROM cand c CROSS JOIN q
)
"""


def _dims_sql() -> str:
    """Per-dimension quantized view (fixture embeddings are 64-dim;
    generate_series needs constant args)."""
    return """
dims AS (
  SELECT vec_id, g.i - 1 AS dim,
         CAST(floor(CAST(embedding[g.i] AS DOUBLE) * 1000 + 0.5) AS BIGINT) AS qval
  FROM embeddings CROSS JOIN generate_series(1, 64) AS g(i)
)"""


def _bucket_sql(num_planes: int) -> str:
    """LSH bucket per vec_id from hyperplane sign bits (needs dims)."""
    projs = ",\n         ".join(
        f"sum(qval * (({j} * 31 + dim * 17) % 7 - 3)) AS p{j}"
        for j in range(num_planes))
    bits = " + ".join(
        f"(CASE WHEN p{j} >= 0 THEN {1 << j} ELSE 0 END)" for j in range(num_planes))
    return f"""
proj AS (
  SELECT vec_id, {projs}
  FROM dims GROUP BY vec_id
),
bkt AS (SELECT vec_id, CAST({bits} AS BIGINT) AS bucket FROM proj)"""


_EV_SQL = """
ev AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS v
  FROM embeddings
)"""

_COS_AB = ("list_dot_product(ea.v, eb.v) / (sqrt(list_dot_product(ea.v, ea.v))"
           " * sqrt(list_dot_product(eb.v, eb.v)))")


@register("d_embedding_cosine_dups", f"""
WITH {_dims_sql()}, {_bucket_sql(8)}, {_EV_SQL},
bn AS (SELECT bucket, count(*) AS n FROM bkt GROUP BY bucket)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, {_COS_AB} AS cosine
FROM bkt a JOIN bkt b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
JOIN bn ON bn.bucket = a.bucket AND bn.n <= 256
JOIN ev ea ON ea.vec_id = a.vec_id
JOIN ev eb ON eb.vec_id = b.vec_id
WHERE {_COS_AB} >= 0.35
""")
def d_embedding_cosine_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs: LSH-bucket candidate generation
    (never the quadratic pair space), exact cosine confirm. Skew-capped
    at max_bucket=256 with a count-over-window BEFORE any collect_list
    — the oracle mirrors the cap in its bn CTE."""
    return similarity.cosine_dup_pairs(_embs(spark, sf_dir),
                                       num_planes=8, threshold=0.35,
                                       max_bucket=256)


_IVF_SQL = f"""
{_dims_sql()},
cent AS (SELECT vec_id % 8 AS g, dim, sum(qval) AS c FROM dims GROUP BY vec_id % 8, dim),
cnorm AS (SELECT g, sum(c * c) AS cc FROM cent GROUP BY g),
scored AS (
  SELECT d.vec_id, c.g, sum(d.qval * c.c) AS dot, sum(d.qval * d.qval) AS vv
  FROM dims d JOIN cent c USING (dim) GROUP BY d.vec_id, c.g
),
assign AS (
  SELECT vec_id, g AS list_id FROM (
    SELECT s.vec_id, s.g,
           row_number() OVER (PARTITION BY s.vec_id
                              ORDER BY s.dot / (sqrt(s.vv) * sqrt(n.cc)) DESC, s.g) AS rn
    FROM scored s JOIN cnorm n USING (g))
  WHERE rn = 1
)"""


_BATCH_TOPK_SQL = """
bq AS (
  SELECT vec_id AS q_vec_id,
         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS qv
  FROM embeddings WHERE vec_id % 50 = 0
),
bcand AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS ev
  FROM embeddings WHERE vec_id % 50 <> 0
),
bscored AS (
  SELECT q.q_vec_id, c.vec_id,
         list_dot_product(c.ev, q.qv)
           / (sqrt(list_dot_product(c.ev, c.ev)) * sqrt(list_dot_product(q.qv, q.qv))) AS cosine
  FROM bcand c CROSS JOIN bq q
),
branked AS (
  SELECT q_vec_id, vec_id, cosine,
         CAST(row_number() OVER (PARTITION BY q_vec_id
                                 ORDER BY cosine DESC, vec_id) AS BIGINT) AS rank
  FROM bscored
)
"""


_IVF_BATCH_SQL = """
ivfc AS (
  SELECT qa.vec_id AS q_vec_id, ba.vec_id
  FROM assign qa JOIN assign ba
    ON ba.list_id = qa.list_id AND ba.vec_id % 50 <> 0
  WHERE qa.vec_id % 50 = 0
),
ivfs AS (
  SELECT i.q_vec_id, i.vec_id,
         row_number() OVER (PARTITION BY i.q_vec_id ORDER BY
           list_dot_product(eb.v, eq.v)
             / (sqrt(list_dot_product(eb.v, eb.v))
                * sqrt(list_dot_product(eq.v, eq.v))) DESC,
           i.vec_id) AS rn
  FROM ivfc i
  JOIN ev eb ON eb.vec_id = i.vec_id
  JOIN ev eq ON eq.vec_id = i.q_vec_id
)
"""


_PQ_SQL = f"""
{_dims_sql()},
cb AS (
  SELECT dim // 16 AS m, vec_id % 8 AS g, dim, sum(qval) AS c
  FROM dims GROUP BY dim // 16, vec_id % 8, dim
),
cbn AS (SELECT m, g, sum(c * c) AS cc FROM cb GROUP BY m, g),
sub_scores AS (
  SELECT d.vec_id, cb.m, cb.g, sum(d.qval * cb.c) AS dot
  FROM dims d JOIN cb ON cb.dim = d.dim
  GROUP BY d.vec_id, cb.m, cb.g
),
encode AS (
  SELECT vec_id, m, g AS code FROM (
    SELECT s.vec_id, s.m, s.g,
           row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
             CASE WHEN n.cc = 0 THEN -1e308
                  ELSE s.dot / sqrt(n.cc) END DESC, s.g) AS rn
    FROM sub_scores s JOIN cbn n ON n.m = s.m AND n.g = s.g)
  WHERE rn = 1
)"""


# Multimodal ------------------------------------------------------------------

_MEDIA_SQL = """
media AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN 'image/png'
              WHEN doc_id % 3 = 1 THEN 'audio/wav'
              ELSE 'video/mp4' END AS media_type,
         'IMG' || lpad(CAST(100 + n_chars % 640 AS VARCHAR), 3, '0')
               || lpad(CAST(100 + (n_chars * 7) % 480 AS VARCHAR), 3, '0')
               || lpad(CAST(1 + n_chars % 4 AS VARCHAR), 3, '0')
               || text AS s,
         100 + n_chars % 640 AS width,
         100 + (n_chars * 7) % 480 AS height,
         1 + n_chars % 4 AS n_frames
  FROM documents
)
"""

@register("m_media_metadata", f"""
WITH {_MEDIA_SQL}
SELECT doc_id, media_type,
       CAST(octet_length(encode(s)) AS BIGINT) AS n_bytes,
       md5(s) AS sha,
       CAST(width AS INTEGER) AS width, CAST(height AS INTEGER) AS height,
       CAST(n_frames AS INTEGER) AS n_frames
FROM media
""")
def m_media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal metadata extraction: binary payload column ->
    typed metadata via Arrow-batched mapInPandas (the decode step is a
    deterministic header parse over the real bytes; a real imaging lib
    drops into the same UDF shape)."""
    from .functions import multimodal
    media = multimodal.attach_fake_media(_docs(spark, sf_dir))
    return multimodal.media_metadata(media)


@register("m_frame_sample", f"""
WITH {_MEDIA_SQL}
SELECT doc_id, media_type, CAST(n_frames AS INTEGER) AS n_frames,
       CAST(unnest(range(0, CAST(n_frames AS BIGINT), 2)) AS INTEGER) AS frame_idx
FROM media
""")
def m_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over typed metadata (every 2nd frame): the
    explode never touches payload bytes."""
    from .functions import multimodal
    media = multimodal.attach_fake_media(_docs(spark, sf_dir))
    return multimodal.frame_sample(media, every_n=2)


@register("t_bpe_token_stats", r"""
WITH toks AS (
  SELECT doc_id,
         regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)|[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \t\n\r]+') AS t
  FROM documents
)
SELECT doc_id,
       CAST(len(t) AS BIGINT) AS n_bpe_tokens,
       CAST(len(list_distinct(t)) AS BIGINT) AS n_bpe_uniq,
       CAST(len(list_filter(t, x -> regexp_matches(x, '^[a-zA-Z]'))) AS BIGINT) AS n_word,
       CAST(len(list_filter(t, x -> regexp_matches(x, '^[0-9]'))) AS BIGINT) AS n_number
FROM toks
""")
def t_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish pretokenizer token counting (regexp_extract_all,
    JVM-side)."""
    return text.bpe_token_stats(_docs(spark, sf_dir))


# Merged graded suites --------------------------------------------------------
# One graded row per family inside the driver's 50-query window; the
# individual queries above stay registered past it for local runs.


@register("t_doc_profile", rf"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t, text FROM documents),
base AS (
  SELECT doc_id,
         CAST(len(t) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(t)) AS BIGINT) AS n_uniq,
         len(list_distinct(t)) * 1e0 / len(t) AS uniq_ratio,
         length(replace(text, ' ', '')) * 1e0 / len(t) AS mean_token_len,
         CAST(len(list_filter(t, x -> x IN ({_SW['en']}))) AS BIGINT) AS s_en,
         list_reduce(
           list_prepend(CAST(0 AS BIGINT),
                        list_transform(t, x -> CAST(ascii(substr(md5(x), 1, 1)) AS BIGINT))),
           (acc, c) -> (acc * 31 + c) % 1000000007) AS rolling_fp,
         md5(text) AS fp,
         md5(array_to_string(list_sort(list_distinct(t)), ' ')) AS content_fp
  FROM toks
),
bpe AS (
  SELECT doc_id,
         regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)|[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \t\n\r]+') AS bt
  FROM documents
)
SELECT b.doc_id, n_tokens, n_uniq, uniq_ratio, mean_token_len,
       s_en * 1e0 / n_tokens AS stopword_ratio,
       uniq_ratio * (CASE WHEN n_tokens >= 50 THEN 1e0 ELSE n_tokens / 5e1 END) AS quality,
       CAST(len(bt) AS BIGINT) AS n_bpe_tokens,
       CAST(len(list_distinct(bt)) AS BIGINT) AS n_bpe_uniq,
       fp, content_fp, rolling_fp
FROM base b JOIN bpe USING (doc_id)
""")
def t_doc_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-analysis suite: one wide per-document profile — token
    stats, quality score, BPE-ish pretokenizer counts, exact /
    order-insensitive / rolling fingerprints — all JVM column
    expressions, one graded row for the text family.

    Shape: every output column is a pure function of the row, so the
    whole profile is ONE projection over ONE scan (the token and BPE
    arrays bound to columns first — interpreted higher-order functions
    re-evaluate inline sub-expressions per reference). The per-metric
    functions above stay as the composable API; composing them with
    doc_id joins here would cost five scans and four shuffles for
    identical values."""
    docs = _docs(spark, sf_dir)
    bound = docs.select(
        "doc_id", "text",
        text.tokens_col(F.col("text")).alias("_t"),
        text.bpe_tokens_col(F.col("text")).alias("_bt"))
    t, bt = F.col("_t"), F.col("_bt")
    n_tokens = F.size(t).cast("long")
    n_uniq = F.size(F.array_distinct(t)).cast("long")
    uniq_ratio = F.size(F.array_distinct(t)) * 1.0 / F.size(t)
    en = F.array(*[F.lit(w) for w in text.STOPWORDS["en"]])
    s_en = F.size(F.filter(t, lambda x: F.array_contains(en, x))).cast("long")
    length_factor = (F.when(n_tokens >= 50, F.lit(1.0))
                     .otherwise(n_tokens / 50.0))
    codes = F.transform(t, lambda x: F.ascii(F.substring(F.md5(x), 1, 1)))
    rolled = F.aggregate(
        codes, F.lit(0).cast("long"),
        lambda acc, c: (acc * text.ROLL_BASE + c) % text.ROLL_MOD)
    return bound.select(
        "doc_id", n_tokens.alias("n_tokens"), n_uniq.alias("n_uniq"),
        uniq_ratio.alias("uniq_ratio"),
        (F.length(F.translate(F.col("text"), " ", "")) * 1.0 / F.size(t))
        .alias("mean_token_len"),
        (s_en * 1.0 / n_tokens).alias("stopword_ratio"),
        (uniq_ratio * length_factor).alias("quality"),
        F.size(bt).cast("long").alias("n_bpe_tokens"),
        F.size(F.array_distinct(bt)).cast("long").alias("n_bpe_uniq"),
        F.md5(F.col("text")).alias("fp"),
        F.md5(F.array_join(F.array_sort(F.array_distinct(t)), " "))
        .alias("content_fp"),
        rolled.alias("rolling_fp"))


@register("m_multimodal_suite", f"""
WITH {_MEDIA_SQL},
imgdocs AS (
  SELECT doc_id, 4 + n_chars % 13 AS w, 3 + n_chars % 8 AS h
  FROM documents WHERE doc_id % 3 = 0
),
imgpx AS (
  SELECT doc_id, w, h, unnest(range(0, w * h * 3)) AS i FROM imgdocs
),
imgagg AS (
  SELECT doc_id, w, h,
         CAST(sum((doc_id * 7 + ((i // 3) % w) * 13 + (i // (3 * w)) * 31
                   + (i % 3) * 97) % 256) AS BIGINT) AS px_sum
  FROM imgpx GROUP BY doc_id, w, h
),
auddocs AS (
  SELECT doc_id, 50 + n_chars % 100 AS n
  FROM documents WHERE doc_id % 3 = 1
),
audouts AS (
  SELECT doc_id, n, (n * 12000) // 8000 AS n_out FROM auddocs
),
audagg AS (
  SELECT a.doc_id, a.n_out,
         CAST(sum((a.doc_id * 31 + ((t.i * 8000) // 12000) * 17) % 2001
                  - 1000) AS BIGINT) AS pcm_sum
  FROM audouts a, unnest(range(0, a.n_out)) AS t(i)
  GROUP BY a.doc_id, a.n_out
),
viddocs AS (
  SELECT doc_id, 1 + n_chars % 4 AS nf, 4 + n_chars % 9 AS vw,
         3 + n_chars % 6 AS vh
  FROM documents WHERE doc_id % 3 = 2
),
vidpx AS (
  SELECT doc_id, nf, vw, vh, unnest(range(0, nf * vh * vw * 3)) AS i
  FROM viddocs
),
vidagg AS (
  SELECT doc_id, nf, vw, vh,
         CAST(sum((doc_id * 7 + (i // (vh * vw * 3)) * 53
                   + ((i % (vw * 3)) // 3) * 13
                   + ((i % (vh * vw * 3)) // (vw * 3)) * 31
                   + (i % 3) * 97) % 256) AS BIGINT) AS px_sum
  FROM vidpx GROUP BY doc_id, nf, vw, vh
)
SELECT 'metadata' AS variant, doc_id, media_type,
       CAST(octet_length(encode(s)) AS BIGINT) AS n_bytes,
       md5(s) AS sha,
       CAST(width AS INTEGER) AS width, CAST(height AS INTEGER) AS height,
       CAST(n_frames AS INTEGER) AS n_frames,
       CAST(NULL AS INTEGER) AS frame_idx,
       CAST(NULL AS BIGINT) AS px_sum,
       CAST(NULL AS BIGINT) AS n_out, CAST(NULL AS BIGINT) AS pcm_sum
FROM media
UNION ALL
SELECT 'frames', doc_id, media_type,
       NULL, NULL, NULL, NULL,
       CAST(n_frames AS INTEGER),
       CAST(unnest(range(0, CAST(n_frames AS BIGINT), 2)) AS INTEGER),
       NULL, NULL, NULL
FROM media
UNION ALL
SELECT 'decode', doc_id, 'image/bmp',
       NULL, NULL, CAST(w AS INTEGER), CAST(h AS INTEGER), NULL, NULL,
       px_sum, NULL, NULL
FROM imgagg
UNION ALL
SELECT 'resample', doc_id, 'audio/wav',
       NULL, NULL, NULL, NULL, NULL, NULL, NULL, n_out, pcm_sum
FROM audagg
UNION ALL
SELECT 'video', doc_id, 'video/avi',
       NULL, NULL, CAST(vw AS INTEGER), CAST(vh AS INTEGER),
       CAST(nf AS INTEGER), NULL, px_sum, NULL, NULL
FROM vidagg
""")
def m_multimodal_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal suite: binary-payload metadata extraction (Arrow
    mapInPandas header parse), metadata-only frame sampling, AND the
    real-codec roundtrips (stdlib BMP decode stats + WAV integer
    resample + AVI video decode stats) — one graded row for the
    multimodal family."""
    from .functions import multimodal
    docs = _docs(spark, sf_dir)
    media = multimodal.attach_fake_media(docs)
    real = multimodal.attach_real_media(docs)
    nuli = F.lit(None).cast("int")
    null = F.lit(None).cast("long")
    nuls = F.lit(None).cast("string")
    meta = multimodal.media_metadata(media).select(
        F.lit("metadata").alias("variant"), "doc_id", "media_type",
        "n_bytes", "sha", "width", "height", "n_frames",
        nuli.alias("frame_idx"), null.alias("px_sum"),
        null.alias("n_out"), null.alias("pcm_sum"))
    frames = multimodal.frame_sample(media, every_n=2).select(
        F.lit("frames").alias("variant"), "doc_id", "media_type",
        null.alias("n_bytes"), nuls.alias("sha"),
        nuli.alias("width"), nuli.alias("height"),
        "n_frames", "frame_idx", null.alias("px_sum"),
        null.alias("n_out"), null.alias("pcm_sum"))
    decode = multimodal.decode_image(real).select(
        F.lit("decode").alias("variant"), "doc_id",
        F.lit("image/bmp").alias("media_type"), null.alias("n_bytes"),
        nuls.alias("sha"), "width", "height", nuli.alias("n_frames"),
        nuli.alias("frame_idx"), "px_sum",
        null.alias("n_out"), null.alias("pcm_sum"))
    resample = multimodal.resample_audio(real, rate_hz=12000).select(
        F.lit("resample").alias("variant"), "doc_id",
        F.lit("audio/wav").alias("media_type"), null.alias("n_bytes"),
        nuls.alias("sha"), nuli.alias("width"), nuli.alias("height"),
        nuli.alias("n_frames"), nuli.alias("frame_idx"),
        null.alias("px_sum"), "n_out", "pcm_sum")
    video = multimodal.decode_video(real).select(
        F.lit("video").alias("variant"), "doc_id",
        F.lit("video/avi").alias("media_type"), null.alias("n_bytes"),
        nuls.alias("sha"), "width", "height", "n_frames",
        nuli.alias("frame_idx"), "px_sum",
        null.alias("n_out"), null.alias("pcm_sum"))
    return (meta.unionByName(frames).unionByName(decode)
            .unionByName(resample).unionByName(video))


@register("t_rolling_fingerprint", """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
SELECT doc_id,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
                      list_transform(t, x -> CAST(ascii(substr(md5(x), 1, 1)) AS BIGINT))),
         (acc, c) -> (acc * 31 + c) % 1000000007) AS rolling_fp
FROM toks
""")
def t_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rabin-Karp-style rolling polynomial hash over the token stream
    (document fingerprinting for shift-tolerant matching)."""
    return text.rolling_fingerprint(_docs(spark, sf_dir))


# Composed end-to-end corpus preparation --------------------------------------

# Gates of the prep funnel (shared by both engines): keep docs the
# lang-ID calls English, with a minimum length and quality score, then
# exact-dedup and near-dedup the survivors.
_PREP_MIN_TOKENS = 30
_PREP_MIN_QUALITY = 0.35
_PREP_NEAR_DUP_JACCARD = 0.8

# Gate CTEs (lang-ID + length + quality -> `gated`) shared by the
# batch corpus-prep oracle and the streaming ledger oracle.
_GATES_SQL = f"""toks AS (
  SELECT doc_id, lang, text, string_split(text, ' ') AS t FROM documents
),
prof AS (
  SELECT doc_id, lang, text, CAST(len(t) AS BIGINT) AS n_tokens,
         len(list_distinct(t)) * 1e0 / len(t) AS uniq_ratio,
         len(list_filter(t, x -> x IN ({_SW['en']}))) AS s_en,
         len(list_filter(t, x -> x IN ({_SW['de']}))) AS s_de,
         len(list_filter(t, x -> x IN ({_SW['es']}))) AS s_es,
         len(list_filter(t, x -> x IN ({_SW['fr']}))) AS s_fr
  FROM toks
),
scored AS (
  SELECT doc_id, lang, text, n_tokens,
         uniq_ratio * (CASE WHEN n_tokens >= 50 THEN 1e0
                            ELSE n_tokens / 5e1 END) AS quality,
         CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
              WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
              WHEN s_es >= s_fr THEN 'es' ELSE 'fr' END AS predicted,
         md5(text) AS content_hash
  FROM prof
),
gated AS (
  SELECT * FROM scored
  WHERE predicted = 'en' AND n_tokens >= {_PREP_MIN_TOKENS}
        AND quality >= {_PREP_MIN_QUALITY}
)"""

@register("p_training_data_prep", f"""
WITH {_GATES_SQL},
kept AS (
  SELECT * FROM gated
  QUALIFY doc_id = min(doc_id) OVER (PARTITION BY content_hash)
),
ktoks AS (SELECT doc_id, string_split(text, ' ') AS t FROM kept),
ksh AS (SELECT doc_id,
               list_transform(generate_series(1, len(t) - 2),
                              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS shingles
        FROM ktoks),
kmh AS (SELECT doc_id,
               min(md5('0|' || s)) AS h0, min(md5('1|' || s)) AS h1,
               min(md5('2|' || s)) AS h2, min(md5('3|' || s)) AS h3
        FROM (SELECT doc_id, unnest(shingles) AS s FROM ksh) GROUP BY doc_id),
buckets AS (
  SELECT doc_id, 'b0:' || h0 || h1 AS bucket FROM kmh
  UNION ALL
  SELECT doc_id, 'b1:' || h2 || h3 AS bucket FROM kmh
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
  SELECT p.doc_b,
         len(list_intersect(sa.shingles, sb.shingles)) * 1e0
           / NULLIF(len(list_distinct(sa.shingles || sb.shingles)), 0) AS jaccard
  FROM pairs p
  JOIN ksh sa ON sa.doc_id = p.doc_a
  JOIN ksh sb ON sb.doc_id = p.doc_b
),
dups AS (SELECT DISTINCT doc_b AS doc_id FROM jac
         WHERE jaccard >= {_PREP_NEAR_DUP_JACCARD})
SELECT k.doc_id, k.lang, k.predicted, k.n_tokens, k.quality, k.content_hash,
       CASE WHEN ascii(substr(md5('split|' || CAST(k.doc_id AS VARCHAR)), 1, 1))
                 % 20 = 0
            THEN 'val' ELSE 'train' END AS split
FROM kept k LEFT JOIN dups d ON k.doc_id = d.doc_id
WHERE d.doc_id IS NULL
""")
def p_training_data_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed corpus-prep job — the end-to-end funnel a pretraining
    pipeline runs: lang-ID gate -> length/quality gate -> exact dedup
    (canonical per content hash) -> MinHash-LSH near-dup removal
    (drop the higher doc_id of each verified pair) -> per-doc ledger.

    Scale shape: every gate is a JVM column predicate applied BEFORE
    the expensive shingle plane, so near-dedup only sees survivors;
    the LSH self-join is bucket-capped (skew guard); the final dup
    drop is a broadcast-able anti-join on a pair list that is tiny by
    construction. No stage widens the data."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    # one-projection gates (no joins/shuffles): see text.gate_profile
    base = text.gate_profile(docs)
    gated = base.filter((F.col("predicted") == "en")
                        & (F.col("n_tokens") >= _PREP_MIN_TOKENS)
                        & (F.col("quality") >= _PREP_MIN_QUALITY))
    w = Window.partitionBy("content_hash")
    kept = (gated.withColumn("_canon", F.min("doc_id").over(w))
            .filter(F.col("doc_id") == F.col("_canon")).drop("_canon"))
    sh = dedup.shingles(kept)
    dups = (dedup.lsh_near_dup_pairs(sh, bands=[["h0", "h1"], ["h2", "h3"]],
                                     max_bucket=_LSH_MAX_BUCKET,
                                     threshold=_PREP_NEAR_DUP_JACCARD)
            .select(F.col("doc_b").alias("doc_id")).distinct())
    # deterministic hash-based train/val split (~5% val): content-
    # independent (doc_id keyed), reproducible across engines and runs
    # — the leakage-safe split a pretraining pipeline stamps last
    split = F.when(
        F.ascii(F.substring(F.md5(F.concat(F.lit("split|"),
                                           F.col("doc_id").cast("string"))),
                            1, 1)) % 20 == 0, "val").otherwise("train")
    return (kept.join(dups, "doc_id", "left_anti")
            .select("doc_id", "lang", "predicted", "n_tokens", "quality",
                    "content_hash", split.alias("split")))


# Real-codec roundtrip: BMP / WAV encode->decode verified by replaying
# the deterministic content arithmetic in SQL -------------------------------

_IMG_DECODE_SQL = """
imgdocs AS (
  SELECT doc_id, 4 + n_chars % 13 AS w, 3 + n_chars % 8 AS h
  FROM documents WHERE doc_id % 3 = 0
),
imgpx AS (
  SELECT doc_id, w, h, unnest(range(0, w * h * 3)) AS i FROM imgdocs
),
imgvals AS (
  SELECT doc_id, w, h,
         (doc_id * 7 + ((i // 3) % w) * 13 + (i // (3 * w)) * 31
          + (i % 3) * 97) % 256 AS v
  FROM imgpx
)
"""

@register("m_image_dhash_dups", f"""
WITH {{IMG}},
grid AS (
  SELECT doc_id, w, h, g // 9 AS r, g % 9 AS c
  FROM imgdocs, unnest(range(0, 72)) AS u(g)
),
gray AS (
  SELECT doc_id, r, c,
    (299 * ((doc_id*7 + ((c*w)//9)*13 + ((r*h)//8)*31) % 256)
   + 587 * ((doc_id*7 + ((c*w)//9)*13 + ((r*h)//8)*31 + 97) % 256)
   + 114 * ((doc_id*7 + ((c*w)//9)*13 + ((r*h)//8)*31 + 194) % 256)) // 1000 AS gv
  FROM grid
),
bits AS (
  SELECT a.doc_id AS doc_id, a.r AS r, a.c AS c,
         CASE WHEN b.gv > a.gv THEN 1 ELSE 0 END AS bit
  FROM gray a JOIN gray b ON a.doc_id = b.doc_id AND a.r = b.r AND b.c = a.c + 1
  WHERE a.c < 8
),
hashes AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN r < 4 THEN CAST(bit AS BIGINT) << (r*8 + c) ELSE 0 END) AS BIGINT) AS h0,
         CAST(sum(CASE WHEN r >= 4 THEN CAST(bit AS BIGINT) << ((r-4)*8 + c) ELSE 0 END) AS BIGINT) AS h1
  FROM bits GROUP BY doc_id
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.h0, b.h0)) + bit_count(xor(a.h1, b.h1)) AS BIGINT) AS hamming
FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.h0, b.h0)) + bit_count(xor(a.h1, b.h1)) <= 6
""".replace("{IMG}", """imgdocs AS (
  SELECT doc_id, 4 + n_chars % 13 AS w, 3 + n_chars % 8 AS h
  FROM documents WHERE doc_id % 3 = 0
)"""))
def m_image_dhash_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate detection via perceptual difference-hash
    over REAL decoded BMP payloads: decode -> integer grayscale ->
    9x8 nearest-neighbor grid -> 64 gradient bits (two 32-bit
    halves) -> lossless 8-byte-band bucket join -> exact popcount
    verify (hamming <= 6). The oracle replays the grid/gray/bit
    arithmetic symbolically and brute-forces ALL pairs; the Spark
    side goes through the real codec bytes and the banded join — a
    hash match proves codec, sampling, packing AND the pigeonhole
    banding all at once (multimodal.image_dhash / dhash_dup_pairs)."""
    from .functions import multimodal
    media = multimodal.attach_real_media(_docs(spark, sf_dir))
    return multimodal.dhash_dup_pairs(multimodal.image_dhash(media),
                                      max_hamming=6)


@register("m_audio_fingerprint", """
WITH fpdocs AS (
  SELECT doc_id, 50 + n_chars % 100 AS n
  FROM documents WHERE doc_id % 3 = 1
),
fpsamp AS (
  SELECT doc_id, n, unnest(range(0, (n // 10) * 10)) AS i FROM fpdocs
),
fpvals AS (
  SELECT doc_id, i // 10 AS f,
         CAST((doc_id * 31 + i * 17) % 2001 - 1000 AS BIGINT) AS s
  FROM fpsamp
),
fpen AS (
  SELECT doc_id, f, sum(s * s) AS e FROM fpvals GROUP BY doc_id, f
),
fpen2 AS (
  SELECT doc_id, f, e,
         lag(e) OVER (PARTITION BY doc_id ORDER BY f) AS pe
  FROM fpen
),
fps AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN pe IS NOT NULL AND e > pe
                       THEN 1 << (f - 1) ELSE 0 END) AS BIGINT) AS fp,
         CAST(max(f) AS INTEGER) AS nb
  FROM fpen2 GROUP BY doc_id HAVING max(f) >= 1
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
FROM fps a JOIN fps b ON a.doc_id < b.doc_id AND a.nb = b.nb
WHERE bit_count(xor(a.fp, b.fp)) <= 1
""")
def m_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Acoustic near-duplicate detection via the energy-difference
    fingerprint (Haitsma-Kalker 2002) over REAL decoded WAV payloads:
    PCM16 decode -> 10-sample frame energies (exact int64) -> one bit
    per energy increase, packed LSB-first -> lossless two-band
    pigeonhole bucket join -> exact popcount verify (hamming <= 1).
    The oracle replays frame/energy/bit arithmetic symbolically and
    brute-forces all pairs; the Spark side goes through the real
    codec bytes and the banded join — a hash match proves decode,
    framing, packing AND banding at once
    (multimodal.audio_fingerprint / audio_dup_pairs)."""
    from .functions import multimodal
    media = multimodal.attach_real_media(_docs(spark, sf_dir))
    return multimodal.audio_dup_pairs(
        multimodal.audio_fingerprint(media), max_hamming=1)


_AUD_RESAMPLE_SQL = """
auddocs AS (
  SELECT doc_id, 50 + n_chars % 100 AS n
  FROM documents WHERE doc_id % 3 = 1
),
audouts AS (
  SELECT doc_id, n, (n * 12000) // 8000 AS n_out FROM auddocs
),
audsamp AS (
  SELECT doc_id, n, n_out, unnest(range(0, n_out)) AS i FROM audouts
),
audvals AS (
  SELECT doc_id, n, n_out,
         (doc_id * 31 + ((i * 8000) // 12000) * 17) % 2001 - 1000 AS s
  FROM audsamp
)
"""

@register("m_decode_image", f"""
WITH {_IMG_DECODE_SQL}
SELECT doc_id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
       CAST(sum(v) AS BIGINT) AS px_sum,
       CAST(min(v) AS INTEGER) AS px_min, CAST(max(v) AS INTEGER) AS px_max
FROM imgvals GROUP BY doc_id, w, h
""")
def m_decode_image(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode roundtrip: deterministic pixels -> stdlib BMP
    encoder -> payload bytes -> numpy BMP decoder -> per-doc stats; the
    oracle replays the pixel arithmetic, so a hash match proves the
    whole encode->decode byte path (reference analogue: the quicklook/
    COG byte paths, processing.py:1291-1324)."""
    from .functions import multimodal
    media = multimodal.attach_real_media(_docs(spark, sf_dir))
    return multimodal.decode_image(media)


@register("m_image_thumbnail", f"""
WITH {_IMG_DECODE_SQL},
xyc AS (
  SELECT doc_id, w, h, (i // 3) % w AS x, i // (3 * w) AS y, i % 3 AS c,
         (doc_id * 7 + ((i // 3) % w) * 13 + (i // (3 * w)) * 31
          + (i % 3) * 97) % 256 AS v
  FROM imgpx
),
blocks AS (
  SELECT doc_id, w, h, y // 2 AS oy, x // 2 AS ox, c,
         sum(v) AS s, count(*) AS n
  FROM xyc GROUP BY doc_id, w, h, y // 2, x // 2, c
),
tvals AS (SELECT doc_id, w, h, s // n AS tv FROM blocks)
SELECT doc_id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
       CAST((w + 1) // 2 AS INTEGER) AS t_width,
       CAST((h + 1) // 2 AS INTEGER) AS t_height,
       CAST(sum(tv) AS BIGINT) AS t_sum,
       CAST(min(tv) AS INTEGER) AS t_min,
       CAST(max(tv) AS INTEGER) AS t_max
FROM tvals GROUP BY doc_id, w, h
""")
def m_image_thumbnail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image resize roundtrip: deterministic pixels -> stdlib BMP
    encoder -> numpy decoder -> exact-integer 2x2 area-average
    thumbnail (ragged edge blocks average what exists) -> per-doc
    stats. The oracle replays the block arithmetic from the pixel
    formula, so a hash match proves decode + resize end-to-end."""
    from .functions import multimodal
    media = multimodal.attach_real_media(_docs(spark, sf_dir))
    return multimodal.thumbnail_image(media, factor=2)


@register("m_resample_audio", f"""
WITH {_AUD_RESAMPLE_SQL}
SELECT doc_id, CAST(8000 AS INTEGER) AS src_rate,
       CAST(12000 AS INTEGER) AS dst_rate,
       CAST(n AS BIGINT) AS n_in, CAST(n_out AS BIGINT) AS n_out,
       CAST(sum(s) AS BIGINT) AS pcm_sum
FROM audvals GROUP BY doc_id, n, n_out
""")
def m_resample_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio resample roundtrip: deterministic PCM16 -> stdlib WAV
    -> decode -> integer nearest-index resample 8k->12k; the oracle
    replays the index arithmetic exactly."""
    from .functions import multimodal
    media = multimodal.attach_real_media(_docs(spark, sf_dir))
    return multimodal.resample_audio(media, rate_hz=12000)


_VID_DECODE_SQL = """
viddocs AS (
  SELECT doc_id, 1 + n_chars % 4 AS nf, 4 + n_chars % 9 AS w,
         3 + n_chars % 6 AS h
  FROM documents WHERE doc_id % 3 = 2
),
vidpx AS (
  SELECT doc_id, nf, w, h, unnest(range(0, nf * h * w * 3)) AS i FROM viddocs
),
vidvals AS (
  SELECT doc_id, nf, w, h,
         (doc_id * 7 + (i // (h * w * 3)) * 53 + ((i % (w * 3)) // 3) * 13
          + ((i % (h * w * 3)) // (w * 3)) * 31 + (i % 3) * 97) % 256 AS v
  FROM vidpx
)
"""

@register("m_decode_video", f"""
WITH {_VID_DECODE_SQL}
SELECT doc_id, CAST(nf AS INTEGER) AS n_frames, CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST(10 + doc_id % 20 AS INTEGER) AS fps,
       CAST(sum(v) AS BIGINT) AS px_sum,
       CAST(min(v) AS INTEGER) AS px_min, CAST(max(v) AS INTEGER) AS px_max
FROM vidvals GROUP BY doc_id, nf, w, h
""")
def m_decode_video(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video decode roundtrip: deterministic frames -> stdlib
    RIFF/AVI encoder -> payload bytes -> chunk-walking decoder ->
    per-doc stats incl. exact strh-rate fps; the oracle replays the
    frame/pixel arithmetic, proving the whole container byte path."""
    from .functions import multimodal
    media = multimodal.attach_real_media(_docs(spark, sf_dir))
    return multimodal.decode_video(media)


@register("m_video_scene_cut", """
WITH cutdocs AS (
  SELECT doc_id, 1 + n_chars % 4 AS nf, 4 + n_chars % 9 AS w,
         3 + n_chars % 6 AS h
  FROM documents WHERE doc_id % 3 = 2
),
cutpx AS (
  SELECT doc_id, nf, unnest(range(0, nf * h * w * 3)) AS i, w, h
  FROM cutdocs
),
cutfs AS (
  SELECT doc_id, nf, i // (h * w * 3) AS f,
         CAST(sum((doc_id * 7 + (i // (h * w * 3)) * 53
                   + ((i % (w * 3)) // 3) * 13
                   + ((i % (h * w * 3)) // (w * 3)) * 31
                   + (i % 3) * 97) % 256) AS BIGINT) AS fsum
  FROM cutpx GROUP BY doc_id, nf, i // (h * w * 3)
),
cutd AS (
  SELECT doc_id, nf, f,
         abs(fsum - lag(fsum) OVER (PARTITION BY doc_id ORDER BY f))
           AS delta
  FROM cutfs
)
SELECT doc_id, CAST(any_value(nf) AS INTEGER) AS n_frames,
       CAST(count(CASE WHEN delta > 300 THEN 1 END) AS BIGINT) AS n_cuts,
       CAST(max(delta) AS BIGINT) AS max_delta,
       CAST(min(CASE WHEN delta > 300 THEN f END) AS BIGINT) AS first_cut
FROM cutd GROUP BY doc_id
""")
def m_video_scene_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shot-boundary detection over REAL decoded AVI payloads
    (multimodal.video_scene_cuts): consecutive-frame channel-sum
    differencing, cut iff |delta| > 300, reporting cut count, max
    delta and first cut frame (NULL on single-frame or cut-free
    docs). The oracle replays the generator arithmetic symbolically —
    a hash match proves container decode, frame stacking and the
    differencing at once."""
    from .functions import multimodal
    media = multimodal.attach_real_media(_docs(spark, sf_dir))
    return multimodal.video_scene_cuts(media)


@register("d_containment_pairs", f"""
WITH {_SHINGLES_SQL},
buckets AS (SELECT doc_id, h0 AS bucket FROM mh),
bsize AS (SELECT bucket, count(*) AS bn FROM buckets GROUP BY bucket),
capped AS (
  SELECT b.doc_id, b.bucket FROM buckets b
  JOIN bsize s ON b.bucket = s.bucket AND s.bn <= {_LSH_MAX_BUCKET}
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM capped a JOIN capped b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
),
metrics AS (
  SELECT p.doc_a, p.doc_b,
         len(list_intersect(sa.shingles, sb.shingles)) * 1e0
           / NULLIF(len(list_distinct(sa.shingles || sb.shingles)), 0)
           AS jaccard,
         len(list_intersect(sa.shingles, sb.shingles)) * 1e0
           / NULLIF(len(list_distinct(sa.shingles)), 0) AS cont_a,
         len(list_intersect(sa.shingles, sb.shingles)) * 1e0
           / NULLIF(len(list_distinct(sb.shingles)), 0) AS cont_b
  FROM pairs p
  JOIN sh sa ON sa.doc_id = p.doc_a
  JOIN sh sb ON sb.doc_id = p.doc_b
)
SELECT doc_a, doc_b, jaccard, cont_a, cont_b
FROM metrics WHERE greatest(cont_a, cont_b) >= 8e-1
""")
def d_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quote/subset detection via shingle CONTAINMENT: cont_a =
    |A∩B| / |A| flags documents that are near-subsets of another
    (excerpts, quoted posts, boilerplate wrappers) even when Jaccard
    is tiny because |B| ≫ |A| — the asymmetric relative the
    symmetric near-dup detectors can't see. Same fused single-subtree
    LSH shape as d_minhash_lsh_pairs (one bucket shuffle, skew cap
    before any member list, in-array pair expansion)."""
    docs = _docs(spark, sf_dir)
    sh = dedup.shingles(docs)
    pairs = dedup.lsh_near_dup_pairs(sh, bands=[["h0"]],
                                     max_bucket=_LSH_MAX_BUCKET,
                                     with_containment=True)
    return pairs.filter(F.greatest("cont_a", "cont_b") >= 0.8)


# CTE tails (bodies after the shared `dims` view) so IVF and PQ
# fragments compose into one WITH without redefining dims
_IVF_TAIL = "cent AS" + _IVF_SQL.split("cent AS", 1)[1]
_PQ_TAIL = "cb AS" + _PQ_SQL.split("cb AS", 1)[1]


@register("s_archive_roundtrip", """
WITH bt AS (
  SELECT d.doc_id,
         CAST(sum((d.doc_id * 7 + i.i * 13 + j.j) % 20001 - 10000)
              AS BIGINT) AS bt_sum
  FROM documents d, unnest(range(0, 4)) AS i(i), unnest(range(0, 6)) AS j(j)
  GROUP BY d.doc_id
)
SELECT d.doc_id,
       CASE WHEN d.doc_id % 5 = 0 THEN NULL ELSE md5(d.text) END AS zip_md5,
       d.doc_id % 5 <> 0 AS zip_valid,
       md5(d.text) AS tgz_md5,
       md5(d.text) AS tar_md5,
       b.bt_sum AS bigtiff_sum
FROM documents d JOIN bt b ON d.doc_id = b.doc_id
""")
def s_archive_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded archive-reader round-trip (S5 zip half / S7 SAFE member
    resolution / S9 Landsat tgz / S12 corruption detection): per
    document, a SAFE-style zip (with a WRONG-resolution decoy member,
    so extraction must apply the band-group rule, not just name
    matching) and a Landsat tar.gz (with a wrong-band decoy) are built
    in-memory from the text, read back through the REAL reader
    functions, and hashed. Every 5th zip gets its end-of-central-
    directory record corrupted; the reader must flag it instead of
    returning bytes. The oracle knows only md5(text) and the
    corruption rule — a hash match proves the entire pack→resolve→
    decompress path byte-exact. Round-5 adds the PLAIN-tar RANGED
    walk (_remote_tar_member over a byte-range fetcher): the member
    must resolve from 512-byte header reads + one data range, never a
    sequential stream. Round-7 adds a BigTIFF column: a per-doc int16
    array with closed-form values is encoded as a version-43 BigTIFF
    (write_cog_band(bigtiff=True)), packed into a SAFE-style zip with
    a decoy, resolved by the band-group rule and decoded back through
    CogReader — the oracle recomputes the array sum from the same
    arithmetic, so a hash match proves the whole BigTIFF
    encode→pack→resolve→parse→tile-decode path numerically exact."""
    import pandas as pd

    docs = _docs(spark, sf_dir).select("doc_id", "text")

    def roundtrip(batches):
        import hashlib
        import io
        import tarfile
        import zipfile

        from .sources.raster_reader import (_remote_tar_member,
                                            _tgz_member_bytes,
                                            _zip_member_from_bytes)

        def tar_add(tf, name, payload):
            ti = tarfile.TarInfo(name)
            ti.size = len(payload)
            tf.addfile(ti, io.BytesIO(payload))

        import numpy as np

        from .sinks.cog import write_cog_band
        from .sources.cog_reader import BytesFetcher, CogReader

        for pdf in batches:
            rows = {"doc_id": [], "zip_md5": [], "zip_valid": [],
                    "tgz_md5": [], "tar_md5": [], "bigtiff_sum": []}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                payload = str(text).encode("utf-8")
                zb = io.BytesIO()
                with zipfile.ZipFile(zb, "w", zipfile.ZIP_DEFLATED) as zf:
                    zf.writestr("GRANULE/R20m/T1_B04_20m.tif",
                                b"DECOY" + payload)
                    zf.writestr("GRANULE/R10m/T1_B04_10m.tif", payload)
                buf = zb.getvalue()
                if doc_id % 5 == 0:
                    buf = buf.replace(b"PK\x05\x06", b"XX\x05\x06")
                try:
                    got = _zip_member_from_bytes(buf, "B04", "10m")
                    zmd5, zvalid = hashlib.md5(got).hexdigest(), True
                except Exception:
                    zmd5, zvalid = None, False
                scene = f"LC08{doc_id}"
                tb = io.BytesIO()
                with tarfile.open(fileobj=tb, mode="w:gz") as tf:
                    tar_add(tf, f"{scene}_B5.TIF", b"DECOY" + payload)
                    tar_add(tf, f"{scene}_B4.TIF", payload)
                with tarfile.open(fileobj=io.BytesIO(tb.getvalue()),
                                  mode="r:*") as tf:
                    tgz = _tgz_member_bytes(tf, "B4", scene, "mem://")
                # PLAIN tar, read back through the RANGED header walk
                pb = io.BytesIO()
                with tarfile.open(fileobj=pb, mode="w") as tf:
                    tar_add(tf, f"{scene}_B5.TIF", b"DECOY" + payload)
                    tar_add(tf, f"{scene}_B4.TIF", payload)
                tar = _remote_tar_member(
                    "mem://archive.tar", "B4", scene,
                    fetcher=BytesFetcher(pb.getvalue()))
                # BigTIFF: closed-form array -> v43 encode -> zip with
                # decoy -> band-group resolve -> CogReader decode
                ii = np.arange(4)[:, None]
                jj = np.arange(6)[None, :]
                arr = ((int(doc_id) * 7 + ii * 13 + jj) % 20001
                       - 10000).astype("<i2")
                btb = write_cog_band(arr, tile=16, bigtiff=True)
                zb2 = io.BytesIO()
                with zipfile.ZipFile(zb2, "w") as zf:
                    zf.writestr("GRANULE/R20m/T1_B04_20m.tif", b"DECOY")
                    zf.writestr("GRANULE/R10m/T1_B04_10m.tif", btb)
                member = _zip_member_from_bytes(zb2.getvalue(), "B04", "10m")
                dec = CogReader("mem://bt", fetcher=BytesFetcher(member))
                bt_sum = int(dec.read_window(0, 0, 4, 6).astype(np.int64).sum())
                rows["doc_id"].append(int(doc_id))
                rows["zip_md5"].append(zmd5)
                rows["zip_valid"].append(zvalid)
                rows["tgz_md5"].append(hashlib.md5(tgz).hexdigest())
                rows["tar_md5"].append(hashlib.md5(tar).hexdigest())
                rows["bigtiff_sum"].append(bt_sum)
            yield pd.DataFrame(rows)

    return docs.mapInPandas(
        roundtrip,
        "doc_id long, zip_md5 string, zip_valid boolean, "
        "tgz_md5 string, tar_md5 string, bigtiff_sum long")


@register("s123_stac_adapt", """
SELECT d.doc_id, b.band,
       CASE WHEN d.doc_id % 2 = 0
            THEN 'https://stac.test/dl/' || d.doc_id || '.zip'
            ELSE 'https://stac.test/dl/' || d.doc_id || '_' || b.band
                 || '.tif' END AS link,
       'S2A_' || d.doc_id AS sceneid,
       'Sentinel-2A' AS platform,
       '2020-01-' || lpad(CAST(d.doc_id % 28 + 1 AS VARCHAR), 2, '0')
         AS date,
       CAST(d.doc_id % 10 AS VARCHAR) AS tile_id
FROM documents d
CROSS JOIN (SELECT unnest(['B02', 'B04']) AS band) b
""")
def s123_stac_adapt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded STAC adaptation (S1 feature→asset-row extraction + S3
    SAFE-zip rewrite; S2's transport/pagination stays unit-tested —
    it is network plumbing, not data logic): each document becomes a
    deterministic STAC feature — even doc_ids get the SAFE shape (ONE
    zip asset), odd ones get per-band assets — and runs through the
    REAL adapt_safe_items + features_to_asset_rows inside
    mapInPandas. The oracle re-derives every field (link rewrite,
    sceneid, platform, datetime truncation, tile) from the same
    rules, so a hash match proves the adapters' JSON logic."""
    import pandas as pd

    docs = _docs(spark, sf_dir).select("doc_id")

    def adapt(batches):
        from .sources.stac import adapt_safe_items, features_to_asset_rows
        bands = ["B02", "B04"]
        for pdf in batches:
            out = {"doc_id": [], "band": [], "link": [], "sceneid": [],
                   "platform": [], "date": [], "tile_id": []}
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                props = {"datetime":
                         f"2020-01-{doc_id % 28 + 1:02d}T10:00:00Z",
                         "platform": "Sentinel-2A"}
                if doc_id % 2 == 0:
                    assets = {"asset": {
                        "href": f"https://stac.test/dl/{doc_id}.zip"}}
                else:
                    assets = {b: {
                        "href": f"https://stac.test/dl/{doc_id}_{b}.tif"}
                        for b in bands}
                feat = {"id": f"S2A_{doc_id}", "properties": props,
                        "assets": assets}
                feats = adapt_safe_items([feat], bands)
                for r in features_to_asset_rows(
                        feats, bands, dataset="S2",
                        tile_id=doc_id % 10):
                    out["doc_id"].append(doc_id)
                    out["band"].append(r["band"])
                    out["link"].append(r["link"])
                    out["sceneid"].append(r["sceneid"])
                    out["platform"].append(r["platform"])
                    out["date"].append(r["date"])
                    out["tile_id"].append(r["tile_id"])
            yield pd.DataFrame(out)

    return docs.mapInPandas(
        adapt, "doc_id long, band string, link string, sceneid string, "
               "platform string, date string, tile_id string")


@register("p_hash_split_sample", """
WITH tagged AS (
  SELECT doc_id, source,
         ((doc_id % 2147483647) * 2654435761 + 17) % 10 AS split_bucket,
         ((doc_id % 2147483647) * 2246822519 + 31) % 100 AS sample_bucket
  FROM documents
),
marked AS (
  SELECT doc_id, source,
         CASE WHEN split_bucket < 8 THEN 'train'
              WHEN split_bucket = 8 THEN 'val'
              ELSE 'test' END AS split,
         sample_bucket < (CASE source WHEN 'src0' THEN 80
                                      WHEN 'src1' THEN 100
                                      WHEN 'src2' THEN 50
                                      ELSE 25 END) AS sampled
  FROM tagged
)
SELECT split, source, count(*) AS n_docs,
       CAST(sum(CASE WHEN sampled THEN 1 ELSE 0 END) AS BIGINT)
         AS n_sampled
FROM marked GROUP BY split, source
""")
def p_hash_split_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split + per-source stratified
    sampling — the REPRODUCIBLE form a training pipeline needs (a
    seeded ``df.sample`` depends on partitioning and engine RNG; a
    key-hash bucket is stable across engines, reruns, and cluster
    sizes, and a 100 TB re-shard never moves a document between
    splits).

    Buckets come from the same overflow-safe affine hash family as
    functions/bloom.py: fold the key mod 2^31-1, multiply by a large
    odd constant, take the bucket modulus — all exact int64, so the
    Spark and DuckDB bucket assignments are bit-identical. Split is
    80/10/10 by bucket; the per-source sample rate is the MIXTURE
    WEIGHT table (src0 80%, src1 100%, src2 50%, else 25% over the
    synthetic corpus's source vocabulary) a corpus recipe specifies. One map-side projection + one aggregation —
    nothing shuffles but the final (split, source) rollup."""
    docs = _docs(spark, sf_dir).select("doc_id", "source")
    folded = F.pmod(F.col("doc_id"), F.lit(2147483647))
    split_b = F.pmod(folded * F.lit(2654435761) + 17, F.lit(10))
    sample_b = F.pmod(folded * F.lit(2246822519) + 31, F.lit(100))
    rate = (F.when(F.col("source") == "src0", 80)
            .when(F.col("source") == "src1", 100)
            .when(F.col("source") == "src2", 50)
            .otherwise(25))
    marked = docs.select(
        "source",
        F.when(split_b < 8, "train").when(split_b == 8, "val")
        .otherwise("test").alias("split"),
        (sample_b < rate).alias("sampled"))
    return (marked.groupBy("split", "source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.when(F.col("sampled"), 1).otherwise(0))
                 .cast("long").alias("n_sampled")))


_SHUFFLE_MULT = 2654435761   # Knuth multiplicative; odd => bijection mod 2^32
_SHUFFLE_MOD = 4294967296    # 2^32
_N_SHARDS = 8


def _shuffle_positions(spark, sf_dir, cols=("doc_id",)):
    """Deterministic global permutation over documents — the shared
    front-end of p_global_shuffle and p_shard_manifest (one source of
    truth for the multiplier/modulus/shard count, so the manifest can
    never describe a different permutation than the shuffle emits):
    Knuth key + functions/ranking.global_rank position (TeraSort
    range-shuffle shape). Returns the selected ``cols`` plus
    ``shuffle_key`` and the 1-based ``pos``."""
    from .functions.ranking import global_rank

    docs = _docs(spark, sf_dir).select(*cols)
    keyed = docs.withColumn(
        "shuffle_key",
        F.pmod(F.col("doc_id") * F.lit(_SHUFFLE_MULT),
               F.lit(_SHUFFLE_MOD)))
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return global_rank(
        keyed, [F.col("shuffle_key").asc(), F.col("doc_id").asc()],
        n_part, rank_col="pos")


@register("p_global_shuffle", """
WITH k AS (
  SELECT doc_id, (doc_id * 2654435761) % 4294967296 AS shuffle_key
  FROM documents
),
r AS (
  SELECT doc_id, shuffle_key,
         row_number() OVER (ORDER BY shuffle_key, doc_id) AS pos
  FROM k
)
SELECT doc_id, CAST(shuffle_key AS BIGINT) AS shuffle_key,
       CAST(pos AS BIGINT) AS pos,
       CAST((pos - 1) % 8 AS BIGINT) AS shard_id,
       CAST((pos - 1) // 8 + 1 AS BIGINT) AS pos_in_shard
FROM r
""")
def p_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic EXACT global shuffle + round-robin sharding —
    the write-order step of a training-data pipeline (docs must reach
    the trainer in a reproducible pseudo-random order, sharded so
    every shard is a uniform sample; an engine-RNG ``orderBy(rand())``
    is neither reproducible across reruns nor across engines).

    The permutation is a Knuth multiplicative hash
    ``(doc_id * 2654435761) mod 2^32`` — a BIJECTION on [0, 2^32)
    (odd multiplier), so it is a true permutation, exact in int64 in
    both engines. The global position comes from
    functions/ranking.global_rank — the round-11-hardened primitive
    (range shuffle materialized ONCE, broadcast offsets, window
    partitioned by the range partition): no unpartitioned window over
    data, unlike the naive ``row_number() OVER (ORDER BY key)`` the
    oracle uses. Round-robin ``pos mod n_shards`` keeps every shard a
    uniform slice of the permutation (contiguous DIV sharding would
    correlate shard and key range).

    At 100 TB: one sampled range shuffle + metadata-scale offsets —
    the TeraSort shape; shard files then write out partitioned by
    shard_id with no further movement."""
    ranked = _shuffle_positions(spark, sf_dir)
    return ranked.select(
        "doc_id", F.col("shuffle_key").cast("long").alias("shuffle_key"),
        "pos",
        F.expr(f"(pos - 1) % {_N_SHARDS}").cast("long").alias("shard_id"),
        F.expr(f"(pos - 1) DIV {_N_SHARDS} + 1").cast("long")
        .alias("pos_in_shard"))


@register("x_analyze_histogram", """
WITH c AS (
  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v,
         count(*) AS cnt
  FROM orders GROUP BY 1
),
cum AS (
  SELECT v, cnt,
         sum(cnt) OVER (ORDER BY v
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - cnt AS bef,
         sum(cnt) OVER () AS tot
  FROM c
)
SELECT CAST((bef * 16) // tot AS BIGINT) AS bucket_id,
       min(v) AS lo, max(v) AS hi,
       CAST(sum(cnt) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS ndv
FROM cum GROUP BY 1
""")
def x_analyze_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth histogram over order totals (integer cents) — the
    CBO selectivity statistic beside x_analyze_stats' scalar pass
    (stats.equi_depth_histogram: value-count plane + one cumulative
    window + int64 bucket assignment; the oracle replays the same
    mass-partitioning arithmetic)."""
    from .functions.numeric import round_half_up_long
    from .stats import equi_depth_histogram

    orders = load_tables(spark, sf_dir, ["orders"])["orders"]
    vals = orders.select(
        round_half_up_long(F.col("o_totalprice"), 100).alias("price_c"))
    return equi_depth_histogram(vals, "price_c", buckets=16)


@register("x_analyze_stats", """
SELECT 'l_orderkey' AS col,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(0 AS BIGINT) AS n_nulls,
       CAST(min(l_orderkey) AS BIGINT) AS min_v,
       CAST(max(l_orderkey) AS BIGINT) AS max_v,
       CAST(count(DISTINCT l_orderkey) AS BIGINT) AS ndv
FROM lineitem
UNION ALL
SELECT 'l_linenumber', CAST(count(*) AS BIGINT), CAST(0 AS BIGINT),
       CAST(min(l_linenumber) AS BIGINT),
       CAST(max(l_linenumber) AS BIGINT),
       CAST(count(DISTINCT l_linenumber) AS BIGINT)
FROM lineitem
""")
def x_analyze_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded ANALYZE (stats.py — previously unit-only): one
    aggregation pass collects per-column null fraction, min/max and
    NDV over lineitem; the oracle recomputes each from the raw table.
    Exact NDV is opted into here so both engines agree bit-for-bit
    (the default approx HLL++ path keeps its unit tests; its values
    are engine-specific by construction)."""
    import os as _os

    from .stats import analyze

    st = analyze(spark, _os.path.join(sf_dir, "lineitem.parquet"),
                 "lineitem", ["l_orderkey", "l_linenumber"],
                 exact_ndv=True)
    # integer null COUNT, not fraction: a 0.0 double renders "0" in
    # Spark's canonical form but "0.0" in DuckDB's — the exact
    # float-rendering trap the verify notes warn about
    rows = [(c, st.n_rows,
             int(round(st.columns[c]["null_frac"] * st.n_rows)),
             int(st.columns[c]["min"]), int(st.columns[c]["max"]),
             st.columns[c]["ndv"])
            for c in ("l_orderkey", "l_linenumber")]
    return local_df(spark,
        rows, "col string, n_rows long, n_nulls long, "
              "min_v long, max_v long, ndv long")


@register("x_bloom_index_lookup", """
WITH keys AS (SELECT unnest([7, 123, 456, 1001, 1, 3]) AS k)
SELECT d.doc_id, CAST(d.n_chars AS BIGINT) AS n_chars,
       TRUE AS bloom_skipped_files
FROM documents d JOIN keys ON d.doc_id = keys.k
""")
def x_bloom_index_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file Bloom index point lookups (sinks/snapshot.
    build_bloom_index / bloom_point_read — Delta's bloom-filter-index
    analogue): the documents table lands HASH-distributed on doc_id
    (footer min/max useless — every file spans the whole key range,
    the case where z-order/range pruning stops working), the index is
    built in one tagged scan, and six point lookups each read only the
    files whose mask accepts the key. ``bloom_skipped_files`` pins
    that every lookup skipped at least one file; the oracle recomputes
    the rows, proving no false negatives."""
    import shutil

    from .session import scratch_dir
    from .sinks.snapshot import (SnapshotStore, bloom_point_read,
                                 build_bloom_index)

    docs = _docs(spark, sf_dir).select(
        "doc_id", F.col("n_chars").cast("long").alias("n_chars"))
    root = scratch_dir("snap_bl_")
    try:
        st = SnapshotStore(root)
        st.write(docs.repartition(8, "doc_id"))
        build_bloom_index(st, spark, "doc_id")
        rows, all_skipped = [], True
        for key in (7, 123, 456, 1001, 1, 3):
            df, n_read, n_total = bloom_point_read(st, spark,
                                                   "doc_id", key)
            all_skipped = all_skipped and (n_read < n_total)
            rows.extend((r.doc_id, r.n_chars) for r in df.collect())
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return local_df(spark,
        [(d, n, all_skipped) for d, n in rows],
        "doc_id long, n_chars long, bloom_skipped_files boolean")


@register("x_incremental_mv", """
WITH v2 AS (
  SELECT CASE WHEN doc_id % 11 = 0 THEN 'moved' ELSE source END AS source,
         CAST(CASE WHEN doc_id % 7 = 0 THEN n_chars + 5
                   ELSE n_chars END AS BIGINT) AS n_chars
  FROM documents WHERE doc_id % 2 = 0
)
SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM v2 GROUP BY source
""")
def x_incremental_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: publish v1, build
    the per-source (count, sum) MV ONCE, overwrite with a v2 that
    adds, drops, mutates AND moves rows between groups, then roll the
    MV forward from the CDC diff alone (sinks/snapshot.incremental_mv
    — delta-sized work, never a re-scan). The oracle recomputes the
    same MV from scratch on v2's rules, so a hash match proves the
    delta rules are EXACT, including the group-move double-delta and
    zero-count group drop."""
    import shutil

    from .session import scratch_dir
    from .sinks.snapshot import SnapshotStore, incremental_mv, snapshot_diff

    docs = _docs(spark, sf_dir).select(
        "doc_id", "source", F.col("n_chars").cast("long").alias("n_chars"))
    root = scratch_dir("snap_mv_")
    try:
        st = SnapshotStore(root)
        st.write(docs.filter(F.col("doc_id") % 3 != 0))          # v1
        mv1 = (st.read(spark, 1).groupBy("source")
               .agg(F.count(F.lit(1)).cast("long").alias("n_rows"),
                    F.sum("n_chars").cast("long").alias("sum_chars")))
        st.write(                                                # v2
            docs.filter(F.col("doc_id") % 2 == 0)
                .withColumn("n_chars",
                            F.when(F.col("doc_id") % 7 == 0,
                                   F.col("n_chars") + 5)
                            .otherwise(F.col("n_chars")))
                .withColumn("source",
                            F.when(F.col("doc_id") % 11 == 0, F.lit("moved"))
                            .otherwise(F.col("source"))),
            mode="overwrite")
        diff = snapshot_diff(st, spark, 1, 2, ["doc_id"],
                             include_payload=True)
        rows = incremental_mv(mv1, diff, "source",
                              {"sum_chars": "n_chars"}).collect()
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return local_df(spark,
        rows, "source string, n_rows long, sum_chars long")


@register("x_incremental_mv_minmax", """
WITH v2 AS (
  SELECT CASE WHEN doc_id % 11 = 0 THEN 'moved' ELSE source END AS source,
         CAST(CASE WHEN doc_id % 7 = 0 THEN n_chars + 5
                   ELSE n_chars END AS BIGINT) AS n_chars
  FROM documents WHERE doc_id % 2 = 0
)
SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(min(n_chars) AS BIGINT) AS min_chars,
       CAST(max(n_chars) AS BIGINT) AS max_chars
FROM v2 GROUP BY source
""")
def x_incremental_mv_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIN/MAX materialized-view maintenance — the NON-self-
    maintainable half of Gupta-Mumick (sinks/snapshot.
    incremental_mv_minmax): publish v1, build the per-source
    (count, min, max) MV once, overwrite with a v2 that adds, drops,
    mutates and moves rows, then maintain the MV from the CDC diff
    plus an EXACT recompute of only the dirty groups (those whose
    removed values tied a stored extreme — deletes of interior values
    roll forward delta-sized). The oracle recomputes the MV from
    scratch on v2's rules, so a hash match proves the dirty-group
    classification misses nothing and the clean-group least/greatest
    merge is exact."""
    import shutil

    from .session import scratch_dir
    from .sinks.snapshot import (SnapshotStore, incremental_mv_minmax,
                                 snapshot_diff)

    docs = _docs(spark, sf_dir).select(
        "doc_id", "source", F.col("n_chars").cast("long").alias("n_chars"))
    root = scratch_dir("snap_mvx_")
    try:
        st = SnapshotStore(root)
        st.write(docs.filter(F.col("doc_id") % 3 != 0))          # v1
        mv1 = (st.read(spark, 1).groupBy("source")
               .agg(F.count(F.lit(1)).cast("long").alias("n_rows"),
                    F.min("n_chars").cast("long").alias("min_chars"),
                    F.max("n_chars").cast("long").alias("max_chars")))
        st.write(                                                # v2
            docs.filter(F.col("doc_id") % 2 == 0)
                .withColumn("n_chars",
                            F.when(F.col("doc_id") % 7 == 0,
                                   F.col("n_chars") + 5)
                            .otherwise(F.col("n_chars")))
                .withColumn("source",
                            F.when(F.col("doc_id") % 11 == 0, F.lit("moved"))
                            .otherwise(F.col("source"))),
            mode="overwrite")
        diff = snapshot_diff(st, spark, 1, 2, ["doc_id"],
                             include_payload=True)
        rows = incremental_mv_minmax(
            mv1, diff, st.read(spark, 2), "source",
            mins={"min_chars": "n_chars"},
            maxs={"max_chars": "n_chars"}).collect()
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return local_df(spark,
        rows, "source string, n_rows long, min_chars long, max_chars long")


@register("p_token_budget_mix", """
WITH d AS (
  SELECT doc_id, source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens,
         ((doc_id % 2147483647) * 2246822519 + 31) % 100 AS bucket
  FROM documents
),
per_src AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(tokens) AS BIGINT) AS available,
         CASE source WHEN 'src0' THEN 30 WHEN 'src1' THEN 40
                     WHEN 'src2' THEN 20 ELSE 10 END AS w
  FROM d GROUP BY source
),
tot AS (
  SELECT CAST(sum(available) AS BIGINT) // 3 AS budget,
         CAST(sum(w) AS BIGINT) AS sumw
  FROM per_src
),
plan AS (
  SELECT p.source, p.n_docs, p.available,
         least(t.budget * p.w // t.sumw, p.available) AS alloc,
         least(t.budget * p.w // t.sumw, p.available) * 100
           // p.available AS rate_pct
  FROM per_src p CROSS JOIN tot t
)
SELECT p.source, p.available AS available_tokens,
       CAST(p.alloc AS BIGINT) AS alloc_tokens,
       CAST(p.rate_pct AS BIGINT) AS rate_pct,
       CAST(sum(CASE WHEN d.bucket < p.rate_pct THEN 1 ELSE 0 END)
            AS BIGINT) AS n_sampled,
       CAST(sum(CASE WHEN d.bucket < p.rate_pct THEN d.tokens ELSE 0 END)
            AS BIGINT) AS achieved_tokens
FROM d JOIN plan p ON d.source = p.source
GROUP BY p.source, p.available, p.alloc, p.rate_pct
""")
def p_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture planning — the data-mixing step of a
    pretraining recipe (the Pile/Dolma-style source weighting):
    given relative mixture weights per source and a global token
    budget (a third of the corpus here), derive each source's token
    allocation, cap it at what the source actually has, convert to a
    deterministic per-source sampling rate, and report the achieved
    tokens. Unlike p_hash_split_sample (fixed declared rates), the
    rates here are DERIVED from the budget and the measured
    per-source token supply.

    Exactness: allocations and rates are pure int64 arithmetic
    (floor divisions), and doc selection uses the same overflow-safe
    affine hash as the split sampler — bit-identical buckets in both
    engines, stable under re-sharding at 100 TB.

    Scale shape: one narrow scan computes per-doc tokens + bucket;
    the per-source supply table is a tiny aggregate joined back by
    broadcast; the final per-source rollup is the only wide shuffle.
    The budget/sumw scalars ride a 1-row cross join."""
    docs = _docs(spark, sf_dir)
    d = docs.select(
        "doc_id", "source",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("tokens"),
        F.pmod(F.pmod(F.col("doc_id"), F.lit(2147483647))
               * F.lit(2246822519) + 31, F.lit(100)).alias("bucket"))
    w = (F.when(F.col("source") == "src0", 30)
         .when(F.col("source") == "src1", 40)
         .when(F.col("source") == "src2", 20).otherwise(10))
    # r14: ONE corpus scan. Every downstream quantity is a function of
    # the (source, bucket) rollup — 100 x |sources| rows, metadata
    # scale — so pre-aggregate to that plane, cut it eagerly, and
    # derive supply, plan AND achieved counts from the cached frame.
    # The old form re-scanned the corpus for the 1-row totals and a
    # third time for the achieved rollup (plan sweep: 3 scans -> 1);
    # budget/sumw become global window sums over the |sources| rows.
    db = (d.groupBy("source", "bucket")
          .agg(F.count(F.lit(1)).cast("long").alias("n"),
               F.sum("tokens").cast("long").alias("tk"))
          .localCheckpoint(eager=True))
    wg = Window.partitionBy()
    per_src = (db.groupBy("source")
               .agg(F.sum("n").cast("long").alias("n_docs"),
                    F.sum("tk").cast("long").alias("available"))
               .withColumn("w", w.cast("long")))
    plan = (per_src
            .withColumn("budget", F.floor(F.sum("available").over(wg) / 3)
                        .cast("long"))
            .withColumn("sumw", F.sum("w").over(wg).cast("long"))
            .withColumn("alloc", F.least(
                F.floor(F.col("budget") * F.col("w") / F.col("sumw"))
                .cast("long"), F.col("available")))
            .withColumn("rate_pct",
                        F.floor(F.col("alloc") * 100 / F.col("available"))
                        .cast("long")))
    return (db.join(F.broadcast(plan.select(
                "source", "available", "alloc", "rate_pct")), "source")
            .groupBy("source", "available", "alloc", "rate_pct")
            .agg(F.sum(F.when(F.col("bucket") < F.col("rate_pct"),
                              F.col("n")).otherwise(0))
                 .cast("long").alias("n_sampled"),
                 F.sum(F.when(F.col("bucket") < F.col("rate_pct"),
                              F.col("tk")).otherwise(0))
                 .cast("long").alias("achieved_tokens"))
            .select(F.col("source"),
                    F.col("available").alias("available_tokens"),
                    F.col("alloc").alias("alloc_tokens"),
                    "rate_pct", "n_sampled", "achieved_tokens"))


@register("x_cluster_balanced_sample", f"""
WITH {_IVF_SQL},
ranked AS (
  SELECT list_id, vec_id,
         CAST(row_number() OVER (PARTITION BY list_id ORDER BY vec_id)
              AS BIGINT) AS rnk,
         CAST(count(*) OVER (PARTITION BY list_id) AS BIGINT) AS n_in_cluster
  FROM assign
)
SELECT list_id, vec_id, rnk, n_in_cluster
FROM ranked WHERE rnk <= 10
""")
def x_cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced diversity sampling — cap each embedding
    cluster's contribution to the training set (the de-biasing
    sampler: semantic near-monocultures like boilerplate clusters
    can't dominate the mix; SemDeDup/DSIR-adjacent curation, Abbas et
    al. 2023's cluster-then-prune shape). The clusters ARE the IVF
    coarse-quantizer lists (similarity.ivf_assign — deterministic
    seeded centroids, broadcast closure, assignment is a pure map),
    so the diversity sampler reuses the exact machinery the ANN path
    already grades; per-cluster selection is one window
    (rank-by-vec_id <= m) — deterministic, re-shard-stable.

    Scale shape: centroid table is bounded metadata; assignment adds
    NO shuffle beyond the vector scan; the per-cluster window
    shuffles on list_id (8-way here, n_lists-way at 100 TB — choose
    n_lists ~ sqrt(n_vectors) and the window stays balanced)."""
    from pyspark.sql import Window
    assign = similarity.ivf_assign(_embs(spark, sf_dir), n_lists=8)
    win = Window.partitionBy("list_id").orderBy("vec_id")
    cwin = Window.partitionBy("list_id")
    return (assign.select("list_id", "vec_id")
            .withColumn("rnk", F.row_number().over(win).cast("long"))
            .withColumn("n_in_cluster",
                        F.count(F.lit(1)).over(cwin).cast("long"))
            .filter(F.col("rnk") <= 10))


@register("p_semantic_decontaminate", f"""
WITH {_dims_sql()}, {_bucket_sql(8)}, {_EV_SQL},
bn AS (SELECT bucket, count(*) AS n FROM bkt GROUP BY bucket),
pairs AS (
  SELECT a.vec_id AS va, b.vec_id AS vb, {_COS_AB} AS cosine
  FROM bkt a JOIN bkt b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
  JOIN bn ON bn.bucket = a.bucket AND bn.n <= 256
  JOIN ev ea ON ea.vec_id = a.vec_id
  JOIN ev eb ON eb.vec_id = b.vec_id
  WHERE {_COS_AB} >= 0.35
),
hits AS (
  SELECT CASE WHEN va % 17 <> 0 THEN va ELSE vb END AS vec_id,
         CASE WHEN va % 17 = 0 THEN va ELSE vb END AS bench_id,
         cosine
  FROM pairs
  WHERE (va % 17 = 0) <> (vb % 17 = 0)
)
SELECT vec_id, CAST(count(*) AS BIGINT) AS n_bench_hits,
       max(cosine) AS max_cosine
FROM hits GROUP BY vec_id
""")
def p_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space decontamination — the SEMANTIC sibling of
    p_decontaminate's n-gram overlap gate: flag corpus vectors whose
    cosine to ANY held-out benchmark vector (vec_id % 17 == 0 plays
    the eval-set split) reaches the near-dup threshold, the screen
    that catches paraphrased/reworded benchmark leakage n-grams miss
    (the Phi/Llama report style of decontamination).

    Composition: the same LSH-bucketed, skew-capped exact-cosine pair
    machinery as d_embedding_cosine_dups (one bucket Exchange, Arrow
    matmul, max_bucket=256 cap) with a benchmark-XOR classification on
    the pair stream — corpus x corpus and bench x bench pairs drop,
    and each contaminated id aggregates its hit count + worst cosine.
    At 100 TB the benchmark side is tiny and rides the same buckets;
    nothing new shuffles."""
    from .functions import similarity
    pairs = similarity.cosine_dup_pairs(_embs(spark, sf_dir),
                                        num_planes=8, threshold=0.35,
                                        max_bucket=256)
    is_a = (F.col("vec_a") % 17 == 0)
    is_b = (F.col("vec_b") % 17 == 0)
    return (pairs.filter(is_a != is_b)
            .select(F.when(~is_a, F.col("vec_a")).otherwise(F.col("vec_b"))
                    .alias("vec_id"), "cosine")
            .groupBy("vec_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_bench_hits"),
                 F.max("cosine").alias("max_cosine")))


# HyperLogLog constants: m = 256 buckets (2 hex chars), 48-bit tails
# (12 hex chars) so every register fits rho in [1, 49];
# alpha_256 = 0.7213 / (1 + 1.079/256), and the estimate is
# alpha * m^2 * 2^49 / sum(2^(49 - r)) — the numerator sum is computed
# as an EXACT BIGINT (powers of two), so the one double division is
# bit-deterministic in both engines.
_HLL_EST_CONST = 2.6499581405668102e+19  # alpha_256 * 256^2 * 2^49


@register("x_hll_distinct", f"""
WITH h AS (
  SELECT md5(CAST(l_partkey AS VARCHAR)) AS hx FROM lineitem
),
rho AS (
  SELECT substr(hx, 1, 2) AS bucket,
         CASE WHEN length(regexp_extract(substr(hx, 3, 12), '^0*', 0)) = 12
              THEN 49
              ELSE 4 * length(regexp_extract(substr(hx, 3, 12), '^0*', 0))
                   + CASE substr(hx,
                                 3 + length(regexp_extract(substr(hx, 3, 12),
                                                           '^0*', 0)), 1)
                       WHEN '1' THEN 3
                       WHEN '2' THEN 2 WHEN '3' THEN 2
                       WHEN '4' THEN 1 WHEN '5' THEN 1
                       WHEN '6' THEN 1 WHEN '7' THEN 1
                       ELSE 0 END + 1 END AS r
  FROM h
),
regs AS (SELECT bucket, max(r) AS r FROM rho GROUP BY bucket),
agg AS (
  SELECT count(*) AS used,
         CAST(sum(CAST(2 ** (49 - r) AS BIGINT)) AS BIGINT) AS num_used
  FROM regs
),
exact AS (SELECT count(DISTINCT l_partkey) AS n_exact FROM lineitem)
SELECT CAST(exact.n_exact AS BIGINT) AS n_exact,
       CAST(agg.used AS BIGINT) AS n_buckets_used,
       CAST(agg.num_used
            + (256 - agg.used) * CAST(2 ** 49 AS BIGINT) AS BIGINT)
         AS numerator,
       {_HLL_EST_CONST!r} / (agg.num_used
            + (256 - agg.used) * CAST(2 ** 49 AS BIGINT)) AS estimate
FROM agg, exact
""")
def x_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-count sketch, built from first principles
    (Flajolet et al. 2007) rather than approx_count_distinct — because
    the REGISTERS are the operator: at 100 TB the sketch is what you
    store per partition/day and MERGE (register-wise max) instead of
    re-shuffling raw keys, the same reason Spark exposes hll_sketch_agg.
    md5 is the hash (identical hex in both engines), bucket = first 2
    hex chars (m=256), rho = leading-zero count of the next 48 bits + 1
    — derived purely from hex-string inspection (leading '0' chars + a
    16-way nibble CASE), no log2/float anywhere. The harmonic-mean
    denominator sum(2^(49-r)) is an exact BIGINT, so the single double
    division is bit-deterministic and the oracle hash-matches the
    ESTIMATE itself, not a tolerance.

    Below 2.5m distinct keys the raw estimate sits in HLL's documented
    small-range bias regime; the standard fallback is linear counting
    m*ln(m/empty_buckets), whose ln is NOT bit-portable across engines
    — so the query emits the LC sufficient statistic
    (n_buckets_used) instead of applying it, and
    tests/test_hll_quality.py validates the correction Python-side
    plus the register-wise max MERGE associativity (the property that
    makes the sketch the 100 TB answer).

    Scale shape: one projection + a 256-group map-side-combined
    groupBy — the shuffle carries at most 256 rows per task. The
    exact count branch exists only to grade the sketch against truth
    (tests pin the relative error); production reads the sketch alone.
    """
    # Optimization r14 (guide §2.3/§2.4): ONE linear chain instead of
    # two full lineitem scans (register branch + exact-count branch)
    # cross-joined at the top. The hash depends only on the KEY, so
    # the register max over all rows equals the max over DISTINCT keys
    # — dedup first (the exact count's own first phase), derive
    # bucket/rho once per distinct key (~30x fewer md5/regexp
    # evaluations here), and fold BOTH the registers and the exact
    # count out of the same 256-group aggregate: n_exact is the sum of
    # per-bucket distinct-key counts. Plan: 2 scans/4 Exchanges/
    # BroadcastNestedLoopJoin -> 1 scan/3 Exchanges (two of them
    # <=256-row), no join at all.
    li = load_tables(spark, sf_dir, ["lineitem"])["lineitem"]
    keys = li.select("l_partkey").groupBy("l_partkey").agg(
        F.lit(1).alias("_one")).select("l_partkey")
    hx = F.md5(F.col("l_partkey").cast("string"))
    tail = F.substring(hx, 3, 12)
    lz = F.length(F.regexp_extract(tail, "^0*", 0))
    first = F.substring(tail, lz + 1, 1)
    dz = (F.when(first == "1", 3)
          .when(first.isin("2", "3"), 2)
          .when(first.isin("4", "5", "6", "7"), 1)
          .otherwise(0))
    r = F.when(lz == 12, 49).otherwise(4 * lz + dz + 1)
    regs = (keys.select(F.substring(hx, 1, 2).alias("bucket"), r.alias("r"))
            .groupBy("bucket").agg(F.max("r").alias("r"),
                                   F.count(F.lit(1)).alias("n_keys")))
    agg = regs.agg(
        F.count(F.lit(1)).alias("used"),
        F.sum(F.pow(F.lit(2.0), 49 - F.col("r")).cast("long"))
        .alias("num_used"),
        F.sum("n_keys").alias("n_exact"))
    numerator = (F.col("num_used")
                 + (256 - F.col("used")) * F.lit(2 ** 49))
    return agg.select(
        F.col("n_exact").cast("long").alias("n_exact"),
        F.col("used").cast("long").alias("n_buckets_used"),
        numerator.cast("long").alias("numerator"),
        (F.lit(_HLL_EST_CONST) / numerator).alias("estimate"))


@register("p_oversample_minority", """
WITH counts AS (
  SELECT lang, count(*) AS n FROM documents GROUP BY lang
),
mx AS (SELECT max(n) AS mx FROM counts),
factors AS (
  SELECT lang, CAST(mx // n AS BIGINT) AS factor
  FROM counts CROSS JOIN mx
)
SELECT d.doc_id AS doc_id, d.lang AS lang,
       CAST(u.copy_idx AS BIGINT) AS copy_idx,
       f.factor AS factor
FROM documents d
JOIN factors f ON d.lang = f.lang,
     unnest(range(1, f.factor + 1)) AS u(copy_idx)
""")
def p_oversample_minority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minority-class oversampling — the class-rebalancing step of a
    training-data mix (the replication counterpart of
    p_stratified_sample's downsampling): every document is replicated
    ⌊max_class_count / its_class_count⌋ times, lifting each language
    toward the majority class without dropping majority data. The
    factor is DERIVED (a global max over per-class counts riding the
    crossJoin-of-1-row-aggregate pattern), deterministic integer
    floor-division in both engines, and each copy carries its
    copy_idx so downstream shuffles/dedup see distinct rows.

    Scale shape: the per-class count table is vocabulary-sized and
    broadcast into the fact join; the explode fans each row out by
    its bounded factor (≤ the class imbalance ratio) — no shuffle
    grows beyond output size. Epoch-style alternatives (fractional
    replication via hash-sampling the remainder) compose with
    p_hash_split_sample; the exact-integer floor keeps the oracle
    bit-for-bit."""
    docs = _docs(spark, sf_dir).select("doc_id", "lang")
    # r14: mx as a window max over the |langs|-row count frame — the
    # 1-row-agg + crossJoin form re-ran the docs scan + lang rollup
    # once per consumer (guide §2.4): 2 passes -> 1.
    counts = (docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
              .withColumn("mx", F.max("n").over(Window.partitionBy())))
    factors = counts.select("lang", F.expr("mx div n").cast("long")
                            .alias("factor"))
    return (docs.join(factors, "lang")
            .select("doc_id", "lang", "factor",
                    F.explode(F.sequence(F.lit(1).cast("long"),
                                         F.col("factor")))
                    .alias("copy_idx"))
            .select("doc_id", "lang", "copy_idx", "factor"))


@register("m_audio_vad", """
WITH adocs AS (
  SELECT doc_id, 50 + n_chars % 100 AS n
  FROM documents WHERE doc_id % 3 = 1
),
px AS (
  SELECT doc_id, unnest(range(0, (n // 10) * 10)) AS i FROM adocs
),
fe AS (
  SELECT doc_id, i // 10 AS f,
         sum(((doc_id * 31 + i * 17) % 2001 - 1000)
             * ((doc_id * 31 + i * 17) % 2001 - 1000)) AS e
  FROM px GROUP BY doc_id, i // 10
),
act AS (SELECT doc_id, f, e > 3400000 AS a FROM fe),
base AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames,
         CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_active
  FROM act GROUP BY doc_id
),
isl AS (
  SELECT doc_id, f,
         f - row_number() OVER (PARTITION BY doc_id ORDER BY f) AS g
  FROM act WHERE a
),
segs AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segments,
         CAST(max(seg_len) AS BIGINT) AS longest_seg,
         CAST(min(f0) AS BIGINT) AS first_active
  FROM (SELECT doc_id, g, count(*) AS seg_len, min(f) AS f0
        FROM isl GROUP BY doc_id, g)
  GROUP BY doc_id
)
SELECT b.doc_id AS doc_id, b.n_frames, b.n_active,
       coalesce(s.n_segments, 0) AS n_segments,
       coalesce(s.longest_seg, 0) AS longest_seg,
       coalesce(s.first_active, -1) AS first_active
FROM base b LEFT JOIN segs s ON b.doc_id = s.doc_id
""")
def m_audio_vad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Voice-activity detection over the real-codec WAV plane
    (functions/multimodal.audio_vad): energy-gated frames +
    gaps-and-islands segmentation, the first step of every
    speech-data curation pipeline. Spark decodes the REAL WAV
    container executor-side in Arrow batches; the oracle replays the
    sample generator symbolically and re-derives the segmentation
    with a row_number island id — a hash match proves decode, exact
    int64 frame energies, the gate, and the run-length logic at
    once."""
    from .functions import multimodal
    media = multimodal.attach_real_media(_docs(spark, sf_dir))
    return multimodal.audio_vad(media)


@register("d_dedup_curve", f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sets AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(1, len(t) - {_AP_K - 1}),
           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
                || ' ' || t[i+4])) AS s
  FROM toks WHERE len(t) >= {_AP_K}
),
tok AS (SELECT doc_id, unnest(s) AS w, len(s) AS n FROM sets),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c,
         any_value(a.n) AS na, any_value(b.n) AS nb
  FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
jac AS (
  SELECT c * 1e0 / (na + nb - c) AS j FROM inter
  WHERE c * 1e0 / (na + nb - c) >= {_AP_TAU}e0
),
taus(tau) AS (VALUES (5e-1), (6e-1), (7e-1), (8e-1), (9e-1))
SELECT tau,
       CAST(count(CASE WHEN j >= tau THEN 1 END) AS BIGINT) AS n_pairs
FROM taus LEFT JOIN jac ON TRUE
GROUP BY tau
""")
def d_dedup_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup threshold-tuning curve: exact near-dup PAIR counts at
    each Jaccard threshold in {{0.5 .. 0.9}} — the measurement a
    curation team reads before picking its dedup aggressiveness
    (every 0.1 of threshold trades recall of templated boilerplate
    against false-positive merges of genuinely distinct docs). Built
    on the LOSSLESS AllPairs join at the floor threshold (d_allpairs'
    exact configuration), so every point of the curve is exact, not
    an LSH estimate; one pair scan serves all five thresholds via
    conditional aggregation (never five re-joins).

    Scale shape: the expensive half is the single prefix-filtered
    AllPairs evaluation; the curve is ONE global conditional
    aggregate (map-side-combined, one row) unpivoted to 5 — which
    also keeps the 5-row shape on an EMPTY pair set (a groupBy-on-tau
    form would emit zero rows there, diverging from the oracle's
    tau-preserving LEFT JOIN)."""
    pairs = dedup.allpairs_jaccard(_docs(spark, sf_dir), k=_AP_K,
                                   threshold=_AP_TAU)
    taus = (0.5, 0.6, 0.7, 0.8, 0.9)
    agg = pairs.agg(*[
        F.coalesce(F.sum(F.when(F.col("jaccard") >= t, 1).otherwise(0)),
                   F.lit(0)).cast("long").alias(f"n{i}")
        for i, t in enumerate(taus)])
    curve = F.explode(F.array(*[
        F.struct(F.lit(t).alias("tau"), F.col(f"n{i}").alias("n_pairs"))
        for i, t in enumerate(taus)]))
    return agg.select(curve.alias("r")).select("r.tau", "r.n_pairs")


def _bq_codes_sql() -> str:
    """Sign-bit packing per vec_id (needs dims). Bit 63 packs as
    Long.MIN_VALUE so the signed-int64 bit pattern matches Spark's:
    sum(rest) + (-2^63) == the two's-complement value with the top
    bit set (bits are disjoint, so sum == bitwise OR)."""
    p2 = " ".join(
        f"WHEN {d} THEN {-(1 << 63) if d == 63 else (1 << d)}"
        for d in range(64))
    return f"""
codes AS (
  SELECT vec_id,
         CAST(sum(CASE WHEN qval >= 0
                       THEN (CASE dim {p2} END) ELSE 0 END) AS BIGINT)
           AS code
  FROM dims GROUP BY vec_id
)"""


@register("d_fuzzy_join_ed1", """
WITH nm AS (
  SELECT p_name AS s, count(*) AS n_parts FROM part GROUP BY p_name
)
SELECT a.s AS name_a, b.s AS name_b,
       CAST(a.n_parts AS BIGINT) AS n_parts_a,
       CAST(b.n_parts AS BIGINT) AS n_parts_b
FROM nm a JOIN nm b ON a.s < b.s AND levenshtein(a.s, b.s) = 1
ORDER BY name_a, name_b
""")
def d_fuzzy_join_ed1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity join at edit distance EXACTLY 1 via the LOSSLESS
    FastSS/SymSpell deletion-neighborhood (functions/dedup.
    deletion_neighborhood_pairs): each distinct name emits itself plus
    its |s| one-char-deletion variants, the candidate join is a plain
    equi-join on the variant key (LINEAR key volume — never the
    all-pairs theta join), and a JVM-side levenshtein verify drops the
    ed-0/ed-2 false candidates. The ORACLE is the naive all-pairs
    levenshtein join — a DIFFERENT algorithm, so a hash match proves
    the neighborhood join loses no pair and invents none.

    Runs on the DISTINCT name domain with per-name part counts joined
    back on (the scale framing: fact-table rows fan back in by key
    after the fuzzy match on the bounded key domain; exact-duplicate
    pairs would otherwise grow quadratically with duplication).
    Complements blocked_entity_pairs, whose phonetic/attribute
    blocking is a recall HEURISTIC — this one is exact for its
    radius."""
    from .functions.dedup import deletion_neighborhood_pairs

    part = load_tables(spark, sf_dir, ["part"])["part"]
    # r14: eager cut — nm is the bounded distinct-name domain but
    # feeds FOUR subtrees (both sides of the deletion-neighborhood
    # self-join inside pairs, plus na/nb), each re-running the part
    # scan + rollup (plan sweep: 4 scans -> 1)
    nm = (part.groupBy(F.col("p_name").alias("s"))
          .agg(F.count(F.lit(1)).alias("n_parts"))
          .localCheckpoint(eager=True))
    pairs = deletion_neighborhood_pairs(nm.select("s"), "s")
    na = nm.select(F.col("s").alias("a"), F.col("n_parts").alias("n_parts_a"))
    nb = nm.select(F.col("s").alias("b"), F.col("n_parts").alias("n_parts_b"))
    return (pairs.join(na, "a").join(nb, "b")
            .select(F.col("a").alias("name_a"), F.col("b").alias("name_b"),
                    F.col("n_parts_a").cast("long").alias("n_parts_a"),
                    F.col("n_parts_b").cast("long").alias("n_parts_b"))
            .orderBy("name_a", "name_b"))


def _mmr_sql(k: int, shortlist: int, lam: float) -> str:
    """Unrolled greedy MMR oracle (one MATERIALIZED stage per pick —
    the kcore pattern; inlining would re-derive cand/pc per stage)."""
    cos = ("list_dot_product({a}.v, {b}.v) / (sqrt(list_dot_product("
           "{a}.v, {a}.v)) * sqrt(list_dot_product({b}.v, {b}.v)))")
    parts = [f"""
WITH ev AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS v
  FROM embeddings
),
qv AS (SELECT v FROM ev WHERE vec_id = 0),
cand AS MATERIALIZED (
  SELECT e.vec_id, {cos.format(a='e', b='q')} AS cq
  FROM ev e CROSS JOIN qv q WHERE e.vec_id <> 0
  ORDER BY cq DESC, e.vec_id LIMIT {shortlist}
),
pc AS MATERIALIZED (
  SELECT a.vec_id AS va, b.vec_id AS vb, {cos.format(a='ea', b='eb')} AS cs
  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id
  JOIN ev ea ON ea.vec_id = a.vec_id JOIN ev eb ON eb.vec_id = b.vec_id
),
sel1 AS MATERIALIZED (
  SELECT CAST(1 AS BIGINT) AS rank, vec_id, cq, 0.0 AS msim
  FROM cand ORDER BY cq DESC, vec_id LIMIT 1
)"""]
    for i in range(2, k + 1):
        parts.append(f""",
pick{i} AS MATERIALIZED (
  SELECT CAST({i} AS BIGINT) AS rank, c.vec_id, c.cq, m.msim
  FROM cand c
  JOIN (SELECT va, max(cs) AS msim FROM pc
        WHERE vb IN (SELECT vec_id FROM sel{i - 1}) GROUP BY va) m
    ON m.va = c.vec_id
  WHERE c.vec_id NOT IN (SELECT vec_id FROM sel{i - 1})
  ORDER BY {lam} * c.cq - {1.0 - lam} * m.msim DESC, c.vec_id LIMIT 1
),
sel{i} AS MATERIALIZED (
  SELECT * FROM sel{i - 1} UNION ALL SELECT * FROM pick{i}
)""")
    parts.append(f"""
SELECT rank, vec_id, cq AS cosine, msim AS max_sim_prior
FROM sel{k} ORDER BY rank""")
    return "".join(parts)


@register("x_hll_sliding_window", f"""
WITH ev AS (
  SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day, user_id
  FROM events
),
h AS (
  SELECT day, md5(CAST(user_id AS VARCHAR)) AS hx FROM ev
),
rho AS (
  SELECT day, substr(hx, 1, 2) AS bucket,
         CASE WHEN length(regexp_extract(substr(hx, 3, 12), '^0*', 0)) = 12
              THEN 49
              ELSE 4 * length(regexp_extract(substr(hx, 3, 12), '^0*', 0))
                   + CASE substr(hx,
                                 3 + length(regexp_extract(substr(hx, 3, 12),
                                                           '^0*', 0)), 1)
                       WHEN '1' THEN 3
                       WHEN '2' THEN 2 WHEN '3' THEN 2
                       WHEN '4' THEN 1 WHEN '5' THEN 1
                       WHEN '6' THEN 1 WHEN '7' THEN 1
                       ELSE 0 END + 1 END AS r
  FROM h
),
dregs AS (SELECT day, bucket, max(r) AS r FROM rho GROUP BY day, bucket),
days AS (SELECT DISTINCT day FROM ev),
fan AS (
  SELECT u.wday, dregs.bucket, dregs.r
  FROM dregs, unnest(range(dregs.day, dregs.day + 7)) AS u(wday)
),
merged AS (
  SELECT f.wday AS day, f.bucket, max(f.r) AS r
  FROM fan f JOIN days d ON d.day = f.wday
  GROUP BY f.wday, f.bucket
),
agg AS (
  SELECT day, count(*) AS used,
         CAST(sum(CAST(2 ** (49 - r) AS BIGINT)) AS BIGINT) AS num_used
  FROM merged GROUP BY day
),
efan AS (
  SELECT u.wday, ev.user_id
  FROM ev, unnest(range(ev.day, ev.day + 7)) AS u(wday)
),
exact AS (
  SELECT e.wday AS day, count(DISTINCT e.user_id) AS n_exact
  FROM efan e JOIN days d ON d.day = e.wday
  GROUP BY e.wday
)
SELECT a.day, CAST(x.n_exact AS BIGINT) AS n_exact,
       CAST(a.used AS BIGINT) AS n_buckets_used,
       CAST(a.num_used + (256 - a.used) * CAST(2 ** 49 AS BIGINT)
            AS BIGINT) AS numerator,
       {_HLL_EST_CONST!r} / (a.num_used
            + (256 - a.used) * CAST(2 ** 49 AS BIGINT)) AS estimate
FROM agg a JOIN exact x ON x.day = a.day
ORDER BY a.day
""")
def x_hll_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct-user estimates from MERGED daily HLL
    sketches — the query that makes x_hll_distinct's mergeability
    claim operational: per-day registers (a 256-int sketch per day)
    are the stored pre-aggregate, and every day's trailing-window
    estimate comes from a register-wise MAX over the last 7 sketches
    — at 100 TB the raw events are read ONCE (the day they land) and
    every window thereafter is sketch-merge work over 256-row
    objects, the Druid/ClickHouse materialized-sketch recipe.

    Shape: the window merge is an explode of each (day, bucket, r)
    register into the <= 7 trailing window-days it serves, then a
    map-side-combinable groupBy(window_day, bucket) MAX — an
    equi-shuffle of sketch rows (256/day), never a theta join and
    never re-touching events; a semi-join against observed days trims
    phantom trailing windows. Register derivation, the exact-integer
    harmonic numerator, and the single bit-deterministic double
    division are x_hll_distinct's, verbatim; the exact per-window
    truth rides the same explode on raw (day, user) pairs purely for
    grading. Each output row pins (n_exact, used, numerator,
    estimate) per day, so a one-register drift in any window
    hash-mismatches."""
    ev = (load_tables(spark, sf_dir, ["events"])["events"]
          .select(F.floor(F.unix_timestamp("ts") / 86400).cast("long")
                  .alias("day"), "user_id"))
    hx = F.md5(F.col("user_id").cast("string"))
    tail = F.substring(hx, 3, 12)
    lz = F.length(F.regexp_extract(tail, "^0*", 0))
    first = F.substring(tail, lz + 1, 1)
    dz = (F.when(first == "1", 3)
          .when(first.isin("2", "3"), 2)
          .when(first.isin("4", "5", "6", "7"), 1)
          .otherwise(0))
    r = F.when(lz == 12, 49).otherwise(4 * lz + dz + 1)
    # r14: eager cut — dregs is the bounded sketch store (256 regs x
    # |days|), but it fed the window merge while `days` re-derived
    # from raw events for BOTH its join uses, re-running the events
    # scan ~5x per action. One register-build scan now serves the
    # merge and the observed-days trim (days(dregs) == days(ev): every
    # day with an event has a register row); only the exact-truth
    # grading side still reads raw (day, user) pairs.
    dregs = (ev.select("day", F.substring(hx, 1, 2).alias("bucket"),
                       r.alias("r"))
             .groupBy("day", "bucket").agg(F.max("r").alias("r"))
             .localCheckpoint(eager=True))
    days = dregs.select("day").distinct()
    wdays = F.explode(F.sequence(F.col("day"), F.col("day") + 6))
    merged = (dregs.select(wdays.alias("wday"), "bucket", "r")
              .join(days.select(F.col("day").alias("wday")), "wday")
              .groupBy("wday", "bucket").agg(F.max("r").alias("r")))
    # shiftleft needs a LITERAL shift (house gotcha): index a 2^k
    # array literal by (49 - r) instead — r in 1..49 keeps it in range
    pow2 = F.array(*[F.lit(1 << i).cast("long") for i in range(49)])
    agg = (merged
           .groupBy("wday")
           .agg(F.count(F.lit(1)).alias("used"),
                F.sum(F.element_at(pow2, (F.lit(49) - F.col("r"))
                                   .cast("int") + 1))
                .alias("num_used")))
    # dedup (day, user) BEFORE the 7x explode: countDistinct is
    # unchanged, and the fan-out shuffles one row per (day, user)
    # instead of one per raw event
    exact = (ev.select("day", "user_id").distinct()
             .select(wdays.alias("wday"), "user_id")
             .join(days.select(F.col("day").alias("wday")), "wday")
             .groupBy("wday")
             .agg(F.countDistinct("user_id").alias("n_exact")))
    numerator = (F.col("num_used")
                 + (256 - F.col("used")) * F.lit(2 ** 49))
    return (agg.join(exact, "wday")
            .select(F.col("wday").alias("day"),
                    F.col("n_exact").cast("long").alias("n_exact"),
                    F.col("used").cast("long").alias("n_buckets_used"),
                    numerator.cast("long").alias("numerator"),
                    (F.lit(_HLL_EST_CONST) / numerator).alias("estimate"))
            .orderBy("day"))


@register("p_shard_manifest", """
WITH k AS (
  SELECT doc_id, text, (doc_id * 2654435761) % 4294967296 AS shuffle_key
  FROM documents
),
r AS (
  SELECT doc_id, text, shuffle_key,
         row_number() OVER (ORDER BY shuffle_key, doc_id) AS pos
  FROM k
),
assigned AS (
  SELECT (pos - 1) % 8 AS shard_id, pos, doc_id,
         len(string_split(text, ' ')) AS n_tokens,
         octet_length(CAST(text AS BLOB)) AS n_bytes
  FROM r
)
SELECT CAST(shard_id AS BIGINT) AS shard_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       CAST(sum(n_bytes) AS BIGINT) AS n_bytes,
       CAST(min(pos) AS BIGINT) AS first_pos,
       CAST(max(pos) AS BIGINT) AS last_pos,
       CAST(min(doc_id) AS BIGINT) AS min_doc_id,
       CAST(max(doc_id) AS BIGINT) AS max_doc_id
FROM assigned GROUP BY shard_id
""")
def p_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard MANIFEST — the artifact a data pipeline hands
    to the trainer alongside the shard files: per shard of the
    deterministic global shuffle (p_global_shuffle's permutation +
    round-robin assignment), the doc count, whitespace-token count,
    byte size, permutation-position range, and doc-id extremes. The
    trainer uses it to size epochs/batches and to audit that every
    shard is a uniform slice (balanced n_docs, interleaved positions)
    — WebDataset/MosaicML-style shard index semantics, computed in
    the same job that decides the assignment so index and data can
    never drift.

    Scale shape: the shuffle is the TeraSort range exchange
    (functions/ranking.global_rank, materialized once); the manifest
    itself is one map-side-combinable groupBy on the 8-value shard
    key. UTF-8 byte length via octet_length/BLOB cast on both
    engines."""
    ranked = _shuffle_positions(spark, sf_dir, cols=("doc_id", "text"))
    assigned = ranked.select(
        F.expr(f"(pos - 1) % {_N_SHARDS}").cast("long").alias("shard_id"),
        "pos", "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        F.octet_length("text").cast("long").alias("n_bytes"))
    return (assigned.groupBy("shard_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum("n_tokens").cast("long").alias("n_tokens"),
                 F.sum("n_bytes").cast("long").alias("n_bytes"),
                 F.min("pos").cast("long").alias("first_pos"),
                 F.max("pos").cast("long").alias("last_pos"),
                 F.min("doc_id").cast("long").alias("min_doc_id"),
                 F.max("doc_id").cast("long").alias("max_doc_id")))


# --- systematic (low-variance) weighted resampling (round 13) -------------------

@register("p_systematic_resample", """
WITH w AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS weight
           FROM documents),
tot AS (SELECT CAST(sum(weight) AS BIGINT) AS wsum FROM w),
c AS (
  SELECT doc_id, weight,
         CAST(sum(weight) OVER (ORDER BY doc_id) AS BIGINT) AS cum
  FROM w
),
r AS (
  SELECT doc_id, weight,
         CAST((1000 * cum) // tot.wsum
              - (1000 * (cum - weight)) // tot.wsum AS BIGINT)
           AS n_copies
  FROM c CROSS JOIN tot
)
SELECT doc_id, weight, n_copies FROM r WHERE n_copies >= 1
""")
def p_systematic_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SYSTEMATIC weighted resampling (the low-variance resampler of
    particle filters, Kitagawa 1996, = 'stochastic universal
    sampling', Baker 1987 — here with deterministic offset 0): place
    N = 1000 evenly spaced pointers on the cumulative weight axis
    (weights = n_chars); document i draws copies = floor(N*cum_i/W)
    - floor(N*(cum_i - w_i)/W). Exactly N copies total (the floors
    telescope), every doc with weight >= W/N guaranteed >= 1 copy,
    variance strictly below multinomial sampling — the standard
    up/down-weighting step a data-mixing pipeline runs before
    training (oversample rare domains, downsample boilerplate).

    Exactness: the prefix sums and both floors are pure int64 (1000 *
    W <= 1e13 at sf0.1; at petabyte scale widen the pointer count or
    use per-shard sub-draws), so both engines agree bit-for-bit.

    Scale shape: the cumulative weight axis is the ONE global-order
    dependency, and it rides functions/ranking.global_cumsum — the
    TeraSort prefix-sum primitive (range shuffle materialized once,
    per-partition sums to a metadata-scale offsets frame, broadcast
    back onto partition-local running sums) — so there is NO
    unpartitioned data window anywhere in the plan
    (tests/test_plan_shape.py pins it); the copy arithmetic is a
    projection and the 1-row total broadcasts."""
    from .functions.ranking import global_cumsum

    docs = _docs(spark, sf_dir).select(
        "doc_id", F.col("n_chars").cast("long").alias("weight"))
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    cum = global_cumsum(docs, [F.col("doc_id").asc()], "weight",
                        n_part, out="cum")
    tot = docs.agg(F.sum("weight").cast("long").alias("wsum"))
    copies = F.expr("(1000 * cum) DIV wsum"
                    " - (1000 * (cum - weight)) DIV wsum")
    return (cum.crossJoin(F.broadcast(tot))
            .select("doc_id", "weight",
                    copies.cast("long").alias("n_copies"))
            .filter(F.col("n_copies") >= 1))


# --- temperature-scaled source mixing (round 13) ---------------------------------

@register("p_temperature_mix", """
WITH w AS (
  SELECT source, CAST(sum(n_chars) AS BIGINT) AS raw_weight
  FROM documents GROUP BY source
),
p AS (
  SELECT source, raw_weight,
         CAST(floor(sqrt(raw_weight)) AS BIGINT) AS samp_weight
  FROM w
),
tot AS (
  SELECT CAST(sum(samp_weight) AS BIGINT) AS p_sum,
         CAST(sum(raw_weight) AS BIGINT) AS w_sum
  FROM p
),
base AS (
  SELECT p.source, p.raw_weight, p.samp_weight,
         CAST((1000000 * p.samp_weight) // t.p_sum AS BIGINT) AS base_alloc,
         CAST((1000000 * p.samp_weight) % t.p_sum AS BIGINT) AS frac,
         CAST((1000000 * p.raw_weight) // t.w_sum AS BIGINT)
           AS proportional_alloc
  FROM p CROSS JOIN tot t
),
short AS (
  SELECT CAST(1000000 - sum(base_alloc) AS BIGINT) AS rem FROM base
),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY frac DESC, source) AS rr
  FROM base
)
SELECT r.source, r.raw_weight, r.samp_weight, r.proportional_alloc,
       CAST(r.base_alloc + CASE WHEN r.rr <= s.rem THEN 1 ELSE 0 END
            AS BIGINT) AS alloc_tokens
FROM ranked r CROSS JOIN short s
""")
def p_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPERATURE-scaled source mixing (the multilingual-pretraining
    sampler of Conneau & Lample 2019 / mC4, T = 2): per-source
    sampling weight = raw_weight^(1/T) — here floor(sqrt(raw)), the
    ONE libm call, IEEE-correctly-rounded then floored so both
    engines agree — which upweights small sources relative to
    proportional sampling (the whole point of temperature < 1 on
    probabilities / T > 1 on counts: the head can't drown the tail).
    A 1M-token budget is then allocated by the LARGEST-REMAINDER rule
    (e_attribution_linear's discipline): floor shares + one extra
    token to the largest fractional remainders, ties to the smaller
    source name — so the allocations are exact integers summing to
    exactly 1,000,000. The proportional allocation ships alongside
    for the flattening comparison.

    Scale shape: ONE map-side-combinable per-source aggregate over
    the corpus scan; everything after runs on the |sources|-row
    frame (bounded vocabulary — the only window is over those rows).
    int64 headroom: 1e6 * samp_weight <= 1e6*sqrt(1e13) ~ 3e12."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    # r14: the totals and the remainder are GLOBAL WINDOW sums over
    # the |sources|-row aggregated frame — the 1-row-agg + crossJoin
    # form re-evaluated the corpus rollup once per consumer (tot,
    # base, short, ranked: 4 scans -> 1, plan sweep)
    wg = Window.partitionBy()
    w = docs.groupBy("source").agg(
        F.sum("n_chars").cast("long").alias("raw_weight"))
    p = (w.withColumn("samp_weight",
                      F.floor(F.sqrt(F.col("raw_weight"))).cast("long"))
         .withColumn("p_sum", F.sum("samp_weight").over(wg))
         .withColumn("w_sum", F.sum("raw_weight").over(wg)))
    base = p.select(
        "source", "raw_weight", "samp_weight",
        F.expr("(1000000 * samp_weight) DIV p_sum")
        .cast("long").alias("base_alloc"),
        F.expr("(1000000 * samp_weight) % p_sum")
        .cast("long").alias("frac"),
        F.expr("(1000000 * raw_weight) DIV w_sum")
        .cast("long").alias("proportional_alloc"))
    ranked = (base
              .withColumn("rem", F.lit(1000000) - F.sum("base_alloc")
                          .over(wg))
              .withColumn("rr", F.row_number().over(
                  Window.orderBy(F.desc("frac"), "source"))))
    return (ranked
            .select("source", "raw_weight", "samp_weight",
                    "proportional_alloc",
                    (F.col("base_alloc")
                     + F.when(F.col("rr") <= F.col("rem"), 1)
                     .otherwise(0)).cast("long").alias("alloc_tokens")))


@register("p_dedup_rate_by_source", """
WITH h AS (
  SELECT source, md5(text) AS th FROM documents
),
s AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(DISTINCT th) AS BIGINT) AS n_unique
  FROM h GROUP BY source
)
SELECT source, n_docs, n_unique,
       CAST(n_docs - n_unique AS BIGINT) AS n_dups,
       CAST(1000000 * (n_docs - n_unique) // n_docs AS BIGINT)
         AS dup_ppm
FROM s
""")
def p_dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-SOURCE exact-duplicate rate — the curation dashboard's
    first column: which ingest feeds are flooding the corpus with
    copies (a crawl that re-fetches, a mirror ingested twice), read
    BEFORE paying for near-dup passes. Exact dedup identity is the
    md5 text digest (the d_exact_dedup fingerprint; hex string equal
    across engines), the rate in exact ppm floor arithmetic.

    Scale shape: text leaves the plan at the md5 projection (the
    shuffle moves 32-byte digests, not documents); per-source
    distinct-count is one (source, th)-keyed partial-agg shuffle
    re-aggregated on the vocabulary-sized source key — the standard
    two-level exact count-distinct, no global distinct."""
    docs = _docs(spark, sf_dir)
    h = docs.select("source", F.md5("text").alias("th"))
    s = (h.groupBy("source")
         .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
              F.countDistinct("th").cast("long").alias("n_unique")))
    dups = F.col("n_docs") - F.col("n_unique")
    return s.select("source", "n_docs", "n_unique",
                    dups.cast("long").alias("n_dups"),
                    F.expr("1000000 * (n_docs - n_unique) DIV n_docs")
                    .cast("long").alias("dup_ppm"))


@register("d_dedup_savings", f"""
WITH {_SHINGLES_SQL},
buckets AS (SELECT doc_id, h0 AS bucket FROM mh),
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
),
dups AS (SELECT doc_a, doc_b FROM jac WHERE jaccard >= 5e-1),
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM dups
  UNION ALL
  SELECT doc_b, doc_a FROM dups
),
l0 AS (SELECT DISTINCT s AS doc_id, s AS lbl FROM edges),
{_label_steps_sql(_CLUSTER_ITERS)},
removed AS (
  SELECT l.doc_id FROM l{_CLUSTER_ITERS} l WHERE l.doc_id <> l.lbl
),
rbytes AS (
  SELECT CAST(count(*) AS BIGINT) AS n_removed,
         CAST(coalesce(sum(d.n_chars), 0) AS BIGINT) AS bytes_removed
  FROM removed r JOIN documents d ON d.doc_id = r.doc_id
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS bytes_total
  FROM documents
)
SELECT t.n_docs, t.bytes_total, r.n_removed, r.bytes_removed,
       CAST(t.n_docs - r.n_removed AS BIGINT) AS n_kept,
       CAST(1000000 * (t.bytes_total - r.bytes_removed)
            // t.bytes_total AS BIGINT) AS kept_bytes_ppm
FROM tot t CROSS JOIN rbytes r
""")
def d_dedup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-DUP DEDUP SAVINGS report — the number a curation run is
    judged by: how many documents and bytes does canonicalization
    actually remove? Rides the audited d_dup_clusters machinery
    (single-band LSH → capped pairs → Jaccard ≥ 0.5 → min-label
    components, oracle-replayed whole); non-canonical cluster members
    are the removals, their n_chars the byte savings, the survivor
    share in exact ppm. One row.

    Scale shape: everything up to the cluster labels is the audited
    dedup pipeline; the report adds one doc-keyed join to carry
    n_chars and two 1-row aggregates. The removal set is
    cluster-membership-sized, never corpus-sized."""
    docs = _docs(spark, sf_dir)
    sh = dedup.shingles(docs)
    pairs = dedup.lsh_near_dup_pairs(sh, bands=[["h0"]],
                                     max_bucket=_LSH_MAX_BUCKET,
                                     threshold=0.5).select("doc_a", "doc_b")
    clusters = dedup.dup_clusters(pairs, iters=_CLUSTER_ITERS)
    removed = (clusters.filter(F.col("doc_id") != F.col("canonical_id"))
               .select("doc_id"))
    rbytes = (removed.join(docs.select("doc_id", "n_chars"), "doc_id")
              .agg(F.count(F.lit(1)).cast("long").alias("n_removed"),
                   F.coalesce(F.sum("n_chars"), F.lit(0)).cast("long")
                   .alias("bytes_removed")))
    tot = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                   F.sum("n_chars").cast("long").alias("bytes_total"))
    return (tot.crossJoin(F.broadcast(rbytes))
            .select("n_docs", "bytes_total", "n_removed", "bytes_removed",
                    (F.col("n_docs") - F.col("n_removed")).cast("long")
                    .alias("n_kept"),
                    F.expr("1000000 * (bytes_total - bytes_removed)"
                           " DIV bytes_total").cast("long")
                    .alias("kept_bytes_ppm")))


@register("d_minhash_calibration", f"""
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
q AS (
  SELECT p.doc_a, p.doc_b,
         CAST(CASE WHEN ma.h0 = mb.h0 THEN 1 ELSE 0 END
            + CASE WHEN ma.h1 = mb.h1 THEN 1 ELSE 0 END
            + CASE WHEN ma.h2 = mb.h2 THEN 1 ELSE 0 END
            + CASE WHEN ma.h3 = mb.h3 THEN 1 ELSE 0 END AS BIGINT)
           AS match_quarters,
         CAST(len(list_intersect(sa.shingles, sb.shingles)) AS BIGINT)
           AS num,
         CAST(len(list_distinct(sa.shingles || sb.shingles)) AS BIGINT)
           AS den
  FROM pairs p
  JOIN mh ma ON ma.doc_id = p.doc_a
  JOIN mh mb ON mb.doc_id = p.doc_b
  JOIN sh sa ON sa.doc_id = p.doc_a
  JOIN sh sb ON sb.doc_id = p.doc_b
)
SELECT match_quarters, CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(1000000 * num // den) // count(*) AS BIGINT)
         AS avg_jaccard_ppm
FROM q WHERE den > 0 GROUP BY match_quarters
""")
def d_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash ESTIMATOR CALIBRATION — E[matching minhashes]/K equals
    the true Jaccard (the Broder 1997 identity the whole LSH stack
    rests on); this measures it on the live corpus: LSH candidate
    pairs bucketed by how many of their 4 minhashes agree, with the
    bucket's average EXACT shingle-set Jaccard alongside (per-pair
    floor ppm, then an exact integer mean). A calibrated estimator
    reads monotone: more matching quarters → higher average Jaccard;
    a flat table means the hash family or the shingle size is wrong
    for this corpus — checked BEFORE trusting band/threshold math.

    Scale shape: the candidate set is the audited skew-capped LSH
    machinery; signatures and shingle sets attach by doc-keyed
    equi-joins of the (delta-sized) pair frame; the report is a
    5-key map-side rollup. Exact integers end to end."""
    docs = _docs(spark, sf_dir)
    sh = dedup.shingles(docs)
    # r14: ONE fused pair expansion carries the signatures AND the
    # exact set counts per pair (lsh_plane keep_hashes +
    # capped_plane_pairs with_counts) — the previous form re-joined
    # the signature table twice and the shingle plane twice, running
    # the tokenize/shingle subtree 5x per action (plan sweep: 5 scans
    # -> 1). num/den are set sizes, so the sorted re-collected
    # shingle arrays give values identical to the raw-plane joins.
    plane = dedup.lsh_plane(sh, bands=[["h0", "h1"], ["h2", "h3"]],
                            keep_hashes=True)
    pairs = dedup.capped_plane_pairs(
        plane, max_bucket=_LSH_MAX_BUCKET, with_counts=True,
        keep_fields=[f"h{p}" for p in range(4)])
    quarters = sum(
        F.when(F.col(f"a_h{p}") == F.col(f"b_h{p}"), 1).otherwise(0)
        for p in range(4))
    q = pairs.select(quarters.cast("long").alias("match_quarters"),
                     "num", "den")
    return (q.filter(F.col("den") > 0)
            .groupBy("match_quarters")
            .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"),
                 F.sum(F.expr("1000000 * num DIV den")).alias("s"))
            .select("match_quarters", "n_pairs",
                    F.expr("s DIV n_pairs").cast("long")
                    .alias("avg_jaccard_ppm")))


@register("d_cluster_size_histogram", f"""
WITH {_SHINGLES_SQL},
buckets AS (SELECT doc_id, h0 AS bucket FROM mh),
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
),
dups AS (SELECT doc_a, doc_b FROM jac WHERE jaccard >= 5e-1),
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM dups
  UNION ALL
  SELECT doc_b, doc_a FROM dups
),
l0 AS (SELECT DISTINCT s AS doc_id, s AS lbl FROM edges),
{_label_steps_sql(_CLUSTER_ITERS)},
sizes AS (
  SELECT lbl AS canonical_id, CAST(count(*) AS BIGINT) AS sz
  FROM l{_CLUSTER_ITERS} GROUP BY lbl
)
SELECT CAST(length(bin(sz)) AS BIGINT) AS size_bucket,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(sum(sz) AS BIGINT) AS n_members,
       CAST(min(sz) AS BIGINT) AS min_size,
       CAST(max(sz) AS BIGINT) AS max_size
FROM sizes GROUP BY length(bin(sz))
""")
def d_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DUP-CLUSTER SIZE DISTRIBUTION on power-of-two buckets — the
    shape diagnostic behind a dedup policy decision: a corpus whose
    duplication lives in PAIRS (bucket 2) dedups safely by
    canonicalization, while mega-clusters (high buckets) usually mean
    boilerplate or a template and deserve removal OUTRIGHT rather
    than keep-one. Bucket = bit-length of the cluster size (the
    engine's exact-integer log2, same as e_interarrival_profile's
    gap buckets); per bucket: cluster count, member total, exact
    min/max sizes.

    Scale shape: rides the audited d_dup_clusters machinery whole,
    then two map-side-combinable aggregates on the cluster-label key
    — the histogram itself is at most 64 rows."""
    docs = _docs(spark, sf_dir)
    sh = dedup.shingles(docs)
    pairs = dedup.lsh_near_dup_pairs(sh, bands=[["h0"]],
                                     max_bucket=_LSH_MAX_BUCKET,
                                     threshold=0.5).select("doc_a", "doc_b")
    clusters = dedup.dup_clusters(pairs, iters=_CLUSTER_ITERS)
    sizes = (clusters.groupBy("canonical_id")
             .agg(F.count(F.lit(1)).cast("long").alias("sz")))
    return (sizes.groupBy(F.length(F.bin("sz")).cast("long")
                          .alias("size_bucket"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_clusters"),
                 F.sum("sz").cast("long").alias("n_members"),
                 F.min("sz").cast("long").alias("min_size"),
                 F.max("sz").cast("long").alias("max_size")))


@register("p_modality_mix", """
WITH m AS (
  SELECT source,
         CASE WHEN length(text) > 0 AND
                   1000000 * (length(text)
                              - length(translate(text, '{};=()<>[]', '')))
                     // length(text) >= 20000
              THEN 1 ELSE 0 END AS is_code,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
  FROM documents
),
g AS (
  SELECT source, CAST(is_code AS BIGINT) AS is_code,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(toks) AS BIGINT) AS n_tokens
  FROM m GROUP BY source, is_code
),
t AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS src_tokens
      FROM g GROUP BY source)
SELECT g.source, g.is_code, g.n_docs, g.n_tokens,
       CAST(1000000 * g.n_tokens // t.src_tokens AS BIGINT)
         AS token_share_ppm
FROM g JOIN t ON t.source = g.source
""")
def p_modality_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MODALITY MIX per source — t_code_detect's routing gate folded
    into the mixture ledger: per (source, is_code) the doc and token
    counts plus the code share of each source's tokens in exact ppm.
    The number a mixture planner (p_token_budget_mix /
    p_temperature_mix) needs once code and prose stop sharing one
    weight — and the drift alarm when a prose feed starts shipping
    minified JS. Exact integers end to end (the same
    length-minus-translate gate, inlined so both engines evaluate one
    expression).

    Scale shape: one per-row projection into a (source, flag)-keyed
    map-side-combinable aggregate, re-joined on the vocabulary-sized
    source key. Nothing scales past the scan."""
    docs = _docs(spark, sf_dir)
    code_ppm = F.expr(
        "1000000 * (length(text)"
        " - length(translate(text, '{};=()<>[]', ''))) DIV length(text)")
    m = docs.select(
        "source",
        F.when((F.length("text") > 0) & (code_ppm >= 20000), 1)
        .otherwise(0).cast("long").alias("is_code"),
        F.size(F.split("text", " ")).cast("long").alias("toks"))
    g = (m.groupBy("source", "is_code")
         .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
              F.sum("toks").cast("long").alias("n_tokens")))
    t = g.groupBy("source").agg(F.sum("n_tokens").cast("long")
                                .alias("src_tokens"))
    return (g.join(t, "source")
            .select("source", "is_code", "n_docs", "n_tokens",
                    F.expr("1000000 * n_tokens DIV src_tokens")
                    .cast("long").alias("token_share_ppm")))


@register("p_shard_balance", """
WITH k AS (
  SELECT doc_id, text, (doc_id * 2654435761) % 4294967296 AS shuffle_key
  FROM documents
),
r AS (
  SELECT doc_id, text,
         row_number() OVER (ORDER BY shuffle_key, doc_id) AS pos
  FROM k
),
per AS (
  SELECT CAST((pos - 1) % 8 AS BIGINT) AS shard_id,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM r GROUP BY (pos - 1) % 8
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_shards,
         CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         CAST(max(n_tokens) AS BIGINT) AS max_tokens,
         CAST(min(n_tokens) AS BIGINT) AS min_tokens
  FROM per
)
SELECT p.shard_id, p.n_docs, p.n_tokens,
       CAST(p.n_tokens * t.n_shards AS BIGINT) AS imb_num,
       t.total_tokens AS imb_den,
       p.n_tokens * t.n_shards * 1e0 / t.total_tokens AS imbalance,
       CAST(t.max_tokens - t.min_tokens AS BIGINT) AS spread_tokens
FROM per p CROSS JOIN tot t
""")
def p_shard_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINING-SHARD TOKEN BALANCE — the load report a data loader
    reads before an epoch: per shard of the deterministic round-robin
    assignment (p_shard_manifest's exact shuffle order), its token
    count, the imbalance factor n·K/total (the x_key_skew_report /
    a_ivf_balance_report discipline applied to the training-shard
    axis — an imbalanced shard is a straggling data-parallel rank),
    and the global max−min token spread each row carries. Round-robin
    over a shuffled order balances DOC counts by construction (±1);
    this measures the residual TOKEN imbalance document-length
    variance leaves behind — the number that decides whether packing
    (p_sequence_pack) must run per shard. Exact integers plus one
    identical-shape float division.

    Scale shape: the one TeraSort range shuffle the manifest already
    pays, then an 8-key map-side rollup; the totals are GLOBAL WINDOW
    aggregates over the 8-row shard frame (r14: the 1-row-agg +
    crossJoin form re-ran the tokenize + rollup over the ranked frame
    once per consumer — guide §2.4, the p_temperature_mix pattern)."""
    ranked = _shuffle_positions(spark, sf_dir, cols=("doc_id", "text"))
    wg = Window.partitionBy()
    per = (ranked.select(
        ((F.col("pos") - 1) % 8).cast("long").alias("shard_id"),
        F.size(F.split("text", " ")).cast("long").alias("toks"))
        .groupBy("shard_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
             F.sum("toks").cast("long").alias("n_tokens"))
        .withColumn("n_shards", F.count(F.lit(1)).over(wg).cast("long"))
        .withColumn("total_tokens", F.sum("n_tokens").over(wg).cast("long"))
        .withColumn("max_tokens", F.max("n_tokens").over(wg).cast("long"))
        .withColumn("min_tokens", F.min("n_tokens").over(wg).cast("long")))
    return (per
            .select("shard_id", "n_docs", "n_tokens",
                    (F.col("n_tokens") * F.col("n_shards")).cast("long")
                    .alias("imb_num"),
                    F.col("total_tokens").alias("imb_den"),
                    (F.col("n_tokens") * F.col("n_shards") * F.lit(1.0)
                     / F.col("total_tokens")).alias("imbalance"),
                    (F.col("max_tokens") - F.col("min_tokens"))
                    .cast("long").alias("spread_tokens")))
