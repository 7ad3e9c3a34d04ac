"""Corpus-curation operators a pretraining-data pipeline needs beyond
dedup/lang-ID/quality: repetition-based quality signals (Gopher-style),
eval-set decontamination, fixed-budget sequence packing, and stratified
sampling. All are JVM column expressions + standard shuffles — no
Python in the hot path — and every entry has a DuckDB oracle.

These have no reference analogue (the reference is a raster cube
builder); they extend the engine the way SURVEY.md §6 frames the
documents/embeddings plane.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions import graph
from .functions.numeric import bounded_collect
from .tables import load_tables
from .tables import local_df
from .queries import register

REGISTRY: list[tuple[str, object, str | None]] = []


def _docs(spark, sf_dir):
    return load_tables(spark, sf_dir, ["documents"])["documents"]


# --- repetition profile (Gopher-style duplicate-n-gram signals) -------------

@register("t_repetition_profile", """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
grams AS (
  SELECT doc_id, len(t) AS n_tokens, 2 AS n,
         unnest(list_transform(range(1, len(t)),
                               i -> t[i] || ' ' || t[i+1])) AS gram
  FROM toks WHERE len(t) >= 2
  UNION ALL
  SELECT doc_id, len(t), 3,
         unnest(list_transform(range(1, len(t) - 1),
                               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
  FROM toks WHERE len(t) >= 3
),
counts AS (
  SELECT doc_id, n_tokens, n, gram, count(*) AS c
  FROM grams GROUP BY ALL
),
prof AS (
  SELECT doc_id, n_tokens, n,
         CAST(sum(c) AS BIGINT) AS total,
         CAST(count(*) AS BIGINT) AS uniq,
         CAST(max(c) AS BIGINT) AS topc
  FROM counts GROUP BY ALL
)
SELECT doc_id, n_tokens,
       max(CASE WHEN n = 2 THEN total END) AS n_2grams,
       max(CASE WHEN n = 2 THEN uniq END) AS n_uniq_2grams,
       max(CASE WHEN n = 2 THEN (total - uniq) * 1e0 / total END) AS dup_2gram_frac,
       max(CASE WHEN n = 2 THEN topc END) AS top_2gram_count,
       max(CASE WHEN n = 2 THEN topc * 1e0 / total END) AS top_2gram_frac,
       max(CASE WHEN n = 3 THEN (total - uniq) * 1e0 / total END) AS dup_3gram_frac,
       max(CASE WHEN n = 3 THEN topc * 1e0 / total END) AS top_3gram_frac
FROM prof GROUP BY doc_id, n_tokens
""")
def t_repetition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition signals (the Gopher/MassiveText quality
    rules adapted to a whitespace corpus): duplicate-2/3-gram fraction
    and most-frequent-n-gram coverage. High values flag boilerplate and
    degenerate (looping) text a pretraining pipeline drops.

    Scale shape: one explode of both gram sizes into a single plane
    (one shuffle key: (doc_id, n, gram) with map-side partial agg —
    per-doc gram counting never materializes a per-doc map), then two
    same-key reductions that AQE coalesces; no joins, no Python.
    """
    docs = _docs(spark, sf_dir)
    t = F.split(F.col("text"), " ")
    # fan the gram-building explode out BEFORE it runs: a single-file
    # parquet source is one input partition, and the per-row
    # struct+concat transform was serializing on one task (the
    # dedup.shingles precedent; pinned count so AQE can't re-collapse)
    npart = int(spark.conf.get("spark.sql.shuffle.partitions"))
    bound = (docs.select("doc_id", t.alias("_t"),
                         F.size(t).cast("long").alias("n_tokens"))
             .repartition(npart, "doc_id"))
    g2 = F.when(
        F.size("_t") >= 2,
        F.expr("transform(sequence(0, size(_t)-2),"
               " i -> struct(2L AS n, concat(_t[i], ' ', _t[i+1]) AS gram))")
    ).otherwise(F.expr("array()"))
    g3 = F.when(
        F.size("_t") >= 3,
        F.expr("transform(sequence(0, size(_t)-3),"
               " i -> struct(3L AS n,"
               " concat(_t[i], ' ', _t[i+1], ' ', _t[i+2]) AS gram))")
    ).otherwise(F.expr("array()"))
    grams = (bound
             .select("doc_id", "n_tokens",
                     F.explode(F.concat(g2, g3)).alias("g"))
             .select("doc_id", "n_tokens", "g.n", "g.gram"))
    counts = grams.groupBy("doc_id", "n_tokens", "n", "gram").count()
    prof = counts.groupBy("doc_id", "n_tokens", "n").agg(
        F.sum("count").cast("long").alias("total"),
        F.count("*").cast("long").alias("uniq"),
        F.max("count").cast("long").alias("topc"))

    def pick(n, col):
        return F.max(F.when(F.col("n") == n, col))

    return prof.groupBy("doc_id", "n_tokens").agg(
        pick(2, F.col("total")).alias("n_2grams"),
        pick(2, F.col("uniq")).alias("n_uniq_2grams"),
        pick(2, (F.col("total") - F.col("uniq")) * 1.0 / F.col("total"))
        .alias("dup_2gram_frac"),
        pick(2, F.col("topc")).alias("top_2gram_count"),
        pick(2, F.col("topc") * 1.0 / F.col("total")).alias("top_2gram_frac"),
        pick(3, (F.col("total") - F.col("uniq")) * 1.0 / F.col("total"))
        .alias("dup_3gram_frac"),
        pick(3, F.col("topc") * 1.0 / F.col("total")).alias("top_3gram_frac"))


# --- eval-set decontamination ------------------------------------------------

_DECON_N = 8  # n-gram size for the overlap check (GPT-3 used 13)


@register("p_decontaminate", f"""
WITH toks AS (
  SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
),
grams AS (
  SELECT doc_id, source,
         unnest(list_distinct(list_transform(
           range(1, len(t) - {_DECON_N - 2}),
           i -> md5(array_to_string(list_slice(t, i, i + {_DECON_N - 1}), ' ')))))
         AS g
  FROM toks WHERE len(t) >= {_DECON_N}
),
eval_g AS (SELECT DISTINCT g FROM grams WHERE source = 'src0'),
hits AS (
  SELECT tg.doc_id, count(*) AS n_shared
  FROM grams tg JOIN eval_g USING (g)
  WHERE tg.source <> 'src0'
  GROUP BY tg.doc_id
)
SELECT d.doc_id, d.source,
       CAST(coalesce(h.n_shared, 0) AS BIGINT) AS n_shared_ngrams,
       coalesce(h.n_shared, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits h USING (doc_id)
WHERE d.source <> 'src0'
""")
def p_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination: flag training documents sharing any
    8-gram with the held-out eval slice (source ``src0`` plays the eval
    benchmark). The GPT-3/Llama pipelines run exactly this n-gram
    collision sweep before training.

    Scale shape: both sides reduce to DISTINCT md5(n-gram) digests
    before any join, and the eval side (a benchmark suite — tiny by
    nature, even when the train side is 100 TB) is broadcast, so the
    train plane is never shuffled: one explode + one broadcast-hash
    semi-join + one groupBy(doc_id).
    """
    docs = _docs(spark, sf_dir)
    t = F.split(F.col("text"), " ")
    n = _DECON_N
    bound = docs.select("doc_id", "source", t.alias("_t"))
    grams = (bound
             .filter(F.size("_t") >= n)
             .select("doc_id", "source", F.explode(F.array_distinct(F.expr(
                 f"transform(sequence(0, size(_t)-{n}),"
                 f" i -> md5(array_join(slice(_t, i+1, {n}), ' ')))")))
                 .alias("g")))
    eval_g = grams.filter(F.col("source") == "src0").select("g").distinct()
    hits = (grams.filter(F.col("source") != "src0")
            .join(F.broadcast(eval_g), "g")
            .groupBy("doc_id")
            .agg(F.count("*").cast("long").alias("n_shared")))
    train = docs.filter(F.col("source") != "src0").select("doc_id", "source")
    return (train.join(hits, "doc_id", "left")
            .select("doc_id", "source",
                    F.coalesce("n_shared", F.lit(0)).cast("long")
                    .alias("n_shared_ngrams"),
                    (F.coalesce("n_shared", F.lit(0)) > 0)
                    .alias("contaminated")))


# --- fixed-budget sequence packing ------------------------------------------

_PACK_BUDGET = 128   # tokens per packed training sequence
_PACK_SHARDS = 8     # independent packing streams per language


@register("p_sequence_pack", f"""
WITH base AS (
  SELECT doc_id, lang, doc_id % {_PACK_SHARDS} AS shard,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
),
packed AS (
  SELECT doc_id, lang, shard, n_tokens,
         sum(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS cum
  FROM base
)
SELECT doc_id, lang, shard, n_tokens,
       CAST((cum - n_tokens) // {_PACK_BUDGET} AS BIGINT) AS seq_id,
       CAST((cum - n_tokens) % {_PACK_BUDGET} AS BIGINT) AS offset_in_seq,
       (cum - n_tokens) // {_PACK_BUDGET} <> (cum - 1) // {_PACK_BUDGET}
       AS spans_boundary
FROM packed
""")
def p_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: stream documents in doc_id
    order within (lang, shard) and assign each a sequence id and token
    offset against a fixed 128-token budget — the layout step that
    turns a filtered corpus into fixed-length training rows. Documents
    crossing a boundary are flagged (a tokenizer either splits or pads
    there).

    Scale shape: one running-sum window per (lang, shard). The shard
    key exists exactly for scale — packing is order-sensitive, so a
    single per-language stream would serialize; 8 deterministic
    shards per language keep every executor packing independently while
    the layout stays reproducible run-to-run.
    """
    docs = _docs(spark, sf_dir)
    base = docs.select(
        "doc_id", "lang",
        (F.col("doc_id") % _PACK_SHARDS).alias("shard"),
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"))
    w = (Window.partitionBy("lang", "shard").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    packed = base.withColumn("cum", F.sum("n_tokens").over(w))
    start = F.col("cum") - F.col("n_tokens")
    return packed.select(
        "doc_id", "lang", "shard", "n_tokens",
        start.cast("long").alias("_s"), F.col("cum"),
    ).select(
        "doc_id", "lang", "shard", "n_tokens",
        F.expr(f"_s div {_PACK_BUDGET}").alias("seq_id"),
        (F.col("_s") % _PACK_BUDGET).alias("offset_in_seq"),
        (F.expr(f"_s div {_PACK_BUDGET}")
         != F.expr(f"(cum - 1) div {_PACK_BUDGET}")).alias("spans_boundary"))


# --- stratified sampling -----------------------------------------------------

_STRATUM_CAP = 4  # docs kept per (lang, source) stratum


@register("p_stratified_sample", f"""
WITH ranked AS (
  SELECT doc_id, lang, source,
         row_number() OVER (
           PARTITION BY lang, source
           ORDER BY md5('samp|' || CAST(doc_id AS VARCHAR)), doc_id)
         AS sample_rank
  FROM documents
)
SELECT doc_id, lang, source, CAST(sample_rank AS BIGINT) AS sample_rank
FROM ranked WHERE sample_rank <= {_STRATUM_CAP}
""")
def p_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified downsample: keep at most 4 documents
    per (lang, source) stratum, selected by a salted content-independent
    hash — the mixture-balancing step that stops one crawl dump from
    dominating a training mix, reproducible across runs and engines.

    Scale shape: one row_number window per stratum (rank-by-hash is the
    price of an exact per-stratum cap; an approximate quantile threshold
    would avoid the per-stratum sort when exactness isn't required).
    Strata are (lang, source) — thousands of independent partitions at
    corpus scale, so the sort parallelizes; no joins, no Python.
    """
    docs = _docs(spark, sf_dir)
    h = F.md5(F.concat(F.lit("samp|"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("lang", "source").orderBy(h.asc(), F.col("doc_id"))
    return (docs.select("doc_id", "lang", "source",
                        F.row_number().over(w).cast("long")
                        .alias("sample_rank"))
            .filter(F.col("sample_rank") <= _STRATUM_CAP))


# --- tf-idf top terms ---------------------------------------------------------

_TOP_TERMS = 3


@register("t_tfidf_topterms", f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY ALL),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT t.doc_id, t.term, t.tf, d.df,
         t.tf * (n.n_docs * 1e0 / d.df) AS score
  FROM tf t JOIN df d USING (term) CROSS JOIN n
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY score DESC, term) AS term_rank
  FROM scored
)
SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       score, CAST(term_rank AS BIGINT) AS term_rank
FROM ranked WHERE term_rank <= {_TOP_TERMS}
""")
def t_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-{_TOP_TERMS} characteristic terms by a tf-idf
    variant: ``score = tf * (N / df)`` — the keyword-extraction /
    topic-tagging step of a corpus pipeline.

    The score is deliberately log-free: ``N/df`` is one IEEE double
    division and ``tf *`` one multiplication, both correctly rounded
    and therefore BIT-IDENTICAL across engines — ``ln()`` differs in
    the last ulp between libm implementations, which can flip
    near-tie rankings and break cross-engine hash checks. Ranking
    ties break on the term itself.

    Scale shape: explode -> groupBy(doc_id, term) with map-side
    partial agg, one vocabulary-keyed shuffle for df (never collected
    — at web scale the vocabulary is billions of terms), a term-keyed
    join, and a doc-keyed top-k window. The 1-row corpus count is
    broadcast."""
    docs = _docs(spark, sf_dir)
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # r14: df by count-over-window on the term-shuffled tf frame
    # (t_inverted_index's form) — the groupBy + join-back re-ran the
    # tokenize + tf subtree twice (plan sweep: 3 scans -> 2; the
    # remaining extra scan is the column-pruned 1-row corpus count)
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (tf.withColumn("df", F.count(F.lit(1))
                            .over(Window.partitionBy("term")))
              .crossJoin(F.broadcast(n))
              .withColumn("score",
                          F.col("tf") * (F.col("n_docs") * F.lit(1.0)
                                         / F.col("df"))))
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(),
                                             F.col("term"))
    return (scored.withColumn("term_rank", F.row_number().over(w).cast("long"))
            .filter(F.col("term_rank") <= _TOP_TERMS)
            .select("doc_id", "term", "tf", "df", "score", "term_rank"))


# --- inverted index -----------------------------------------------------------

_POSTING_CAP = 16


@register("t_inverted_index", f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY ALL),
w AS (
  SELECT doc_id, term, tf,
         count(*) OVER (PARTITION BY term) AS df,
         sum(tf) OVER (PARTITION BY term) AS cf,
         row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn
  FROM tf
)
SELECT term, CAST(max(df) AS BIGINT) AS df, CAST(max(cf) AS BIGINT) AS cf,
       array_to_string(list_sort(list(doc_id)), ',') AS postings
FROM w WHERE rn <= {_POSTING_CAP} GROUP BY term
""")
def t_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index with BOUNDED posting lists: per term, document
    frequency, collection frequency, and the first {_POSTING_CAP}
    doc_ids (comma-joined: the grading driver's canonicalizer takes
    scalars, not arrays) — the retrieval-side artifact of a corpus
    pipeline (contamination lookups, keyword routing).

    Scale shape — same skew discipline as the LSH bucket cap
    (functions/dedup.py): df/cf and the posting rank come out of ONE
    term-keyed window pass (spillable sort, never an array buffer),
    the cap filter drops beyond-cap rows BEFORE collect_list, and the
    following groupBy(term) reuses the window's hash partitioning (no
    second shuffle). A stopword with a billion documents therefore
    contributes exactly {_POSTING_CAP} rows to the collect stage —
    full-list postings for degenerate terms are the OOM this shape
    avoids."""
    docs = _docs(spark, sf_dir)
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    wt = Window.partitionBy("term")
    wr = Window.partitionBy("term").orderBy("doc_id")
    ranked = tf.select(
        "doc_id", "term", "tf",
        F.count(F.lit(1)).over(wt).alias("df"),
        F.sum("tf").over(wt).alias("cf"),
        F.row_number().over(wr).alias("rn"))
    return (ranked.filter(F.col("rn") <= _POSTING_CAP)
            .groupBy("term")
            .agg(F.max("df").alias("df"), F.max("cf").alias("cf"),
                 F.concat_ws(",", F.sort_array(F.collect_list("doc_id")))
                 .alias("postings")))


# --- quality-weighted sampling ------------------------------------------------

@register("p_weighted_sample", """
SELECT doc_id, lang, source, CAST(n_chars AS BIGINT) AS n_chars,
       CAST(least(n_chars, 400) AS BIGINT) AS w_num
FROM documents
WHERE CAST(('0x' || substr(md5('w|' || CAST(doc_id AS VARCHAR)), 1, 8))
           AS BIGINT) * 800
      < least(n_chars, 400) * 4294967296
""")
def p_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic quality-weighted downsample: each document is
    kept with probability ``min(n_chars, 400)/800`` (longer docs up to
    the cap are more likely to survive) — the importance-sampling step
    that reshapes a corpus toward higher-value documents without an
    RNG.

    Determinism across engines comes from PURE INTEGER math: the
    uniform draw is the first 32 bits of a salted md5 as a bigint, and
    the Bernoulli test cross-multiplies (``u * denom < num * 2^32``)
    instead of dividing — no doubles anywhere. Row-pure projection +
    filter: no shuffle at all; at 100 TB this is a map-only scan."""
    docs = _docs(spark, sf_dir)
    u = F.conv(F.substring(F.md5(F.concat(F.lit("w|"),
                                          F.col("doc_id").cast("string"))),
                           1, 8), 16, 10).cast("long")
    w_num = F.least(F.col("n_chars"), F.lit(400)).cast("long")
    return (docs.select("doc_id", "lang", "source",
                        F.col("n_chars").cast("long").alias("n_chars"),
                        w_num.alias("w_num"))
            .filter(u * 800 < F.col("w_num") * F.lit(4294967296)))


# --- PII scrubbing ------------------------------------------------------------

# Derived support-ticket text (the pixel-plane pattern: both engines
# synthesize the SAME strings from the real customer table, so the
# scrubber sees realistic PII shapes while staying hash-checkable).
_TICKET_SQL = """
tickets AS (
  SELECT c_custkey AS custkey,
         'Reach ' || c_name || ' at 555-' ||
         lpad(CAST((c_custkey * 7919) % 10000 AS VARCHAR), 4, '0') ||
         ' or cust' || CAST(c_custkey AS VARCHAR) || '@' ||
         lower(c_mktsegment) || '.example.com ref ' ||
         lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0') || '-' ||
         lpad(CAST((c_custkey * 13) % 100 AS VARCHAR), 2, '0') || '-' ||
         lpad(CAST((c_custkey * 31) % 10000 AS VARCHAR), 4, '0') AS text
  FROM customer
)
"""

_PII_PHONE = "555-[0-9]{4}"
_PII_EMAIL = "[a-z0-9]+@[a-z.]+[a-z]"
_PII_ID = "[0-9]{3}-[0-9]{2}-[0-9]{4}"


@register("t_pii_scrub", f"""
WITH {_TICKET_SQL}
SELECT custkey,
       CAST(len(regexp_extract_all(text, '{_PII_PHONE}')) AS BIGINT) AS n_phones,
       CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(text, '{_PII_ID}')) AS BIGINT) AS n_ids,
       regexp_replace(regexp_replace(regexp_replace(text,
           '{_PII_EMAIL}', '<EMAIL>', 'g'),
           '{_PII_ID}', '<ID>', 'g'),
           '{_PII_PHONE}', '<PHONE>', 'g') AS scrubbed
FROM tickets
""")
def t_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction — the scrubbing pass a training-data
    pipeline runs before anything else: count and replace phone,
    email, and id-number shapes with typed placeholders.

    The input text is synthesized deterministically from the customer
    table (both engines build identical strings), so the regexes see
    realistic PII embedded in prose. Patterns are kept in the
    Java-regex ∩ RE2 common dialect (char classes + bounded repeats,
    no lookaround) so Spark and DuckDB agree; replacement order is
    fixed (email, id, phone) in both. Row-pure column expressions —
    map-only at any scale."""
    from .tables import load_tables
    cust = load_tables(spark, sf_dir, ["customer"])["customer"]
    text = F.concat(
        F.lit("Reach "), F.col("c_name"), F.lit(" at 555-"),
        F.lpad(((F.col("c_custkey") * 7919) % 10000).cast("string"), 4, "0"),
        F.lit(" or cust"), F.col("c_custkey").cast("string"), F.lit("@"),
        F.lower("c_mktsegment"), F.lit(".example.com ref "),
        F.lpad((F.col("c_custkey") % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad(((F.col("c_custkey") * 13) % 100).cast("string"), 2, "0"),
        F.lit("-"),
        F.lpad(((F.col("c_custkey") * 31) % 10000).cast("string"), 4, "0"))
    t = cust.select(F.col("c_custkey").alias("custkey"), text.alias("text"))
    scrub = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), _PII_EMAIL, "<EMAIL>"),
            _PII_ID, "<ID>"),
        _PII_PHONE, "<PHONE>")
    return t.select(
        "custkey",
        F.regexp_count(F.col("text"), F.lit(_PII_PHONE)).cast("long").alias("n_phones"),
        F.regexp_count(F.col("text"), F.lit(_PII_EMAIL)).cast("long").alias("n_emails"),
        F.regexp_count(F.col("text"), F.lit(_PII_ID)).cast("long").alias("n_ids"),
        scrub.alias("scrubbed"))


# --- RAG-style chunking -------------------------------------------------------

_CHUNK_SIZE = 32
_CHUNK_STRIDE = 24      # overlap = size - stride = 8 tokens


@register("p_doc_chunks", f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t, len(string_split(text, ' ')) AS n
  FROM documents
),
idx AS (
  SELECT doc_id, t, n,
         unnest(range(0, CAST(greatest(
           CASE WHEN n > {_CHUNK_SIZE}
                THEN (n - {_CHUNK_SIZE} + {_CHUNK_STRIDE} - 1) // {_CHUNK_STRIDE}
                ELSE 0 END, 0) + 1 AS BIGINT))) AS chunk_id
  FROM toks WHERE n > 0
)
SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
       CAST(chunk_id * {_CHUNK_STRIDE} + 1 AS BIGINT) AS start_token,
       CAST(least({_CHUNK_SIZE}, n - chunk_id * {_CHUNK_STRIDE}) AS BIGINT)
         AS n_tokens,
       array_to_string(
         list_slice(t, chunk_id * {_CHUNK_STRIDE} + 1,
                    chunk_id * {_CHUNK_STRIDE}
                      + least({_CHUNK_SIZE}, n - chunk_id * {_CHUNK_STRIDE})),
         ' ') AS chunk_text
FROM idx
""")
def p_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping retrieval chunks: {_CHUNK_SIZE}-token windows at a
    {_CHUNK_STRIDE}-token stride ({_CHUNK_SIZE - _CHUNK_STRIDE}-token
    overlap), the RAG indexing shape. The final chunk is the shorter
    tail; chunk generation stops once a window reaches the document
    end (no fully-redundant tail windows).

    Scale shape: row-pure — tokenization, the chunk-count arithmetic,
    the explode, and each slice+join all happen in the task that read
    the document; no shuffle at all. Output volume is ~n_tokens/stride
    rows per doc, the planned index inflation."""
    docs = _docs(spark, sf_dir)
    toks = (docs.select("doc_id", F.split("text", " ").alias("t"))
            .withColumn("n", F.size("t"))
            .filter(F.col("n") > 0))
    i_max = F.greatest(
        F.when(F.col("n") > _CHUNK_SIZE,
               F.floor((F.col("n") - _CHUNK_SIZE + _CHUNK_STRIDE - 1)
                       / _CHUNK_STRIDE)).otherwise(F.lit(0)),
        F.lit(0)).cast("long")
    idx = toks.select(
        "doc_id", "t", "n",
        F.explode(F.sequence(F.lit(0).cast("long"), i_max)).alias("chunk_id"))
    start = (F.col("chunk_id") * _CHUNK_STRIDE + 1).cast("long")
    length = F.least(F.lit(_CHUNK_SIZE),
                     F.col("n") - F.col("chunk_id") * _CHUNK_STRIDE)
    return idx.select(
        "doc_id", F.col("chunk_id").cast("long").alias("chunk_id"),
        start.alias("start_token"), length.cast("long").alias("n_tokens"),
        F.concat_ws(" ", F.slice(F.col("t"), start, length))
        .alias("chunk_text"))


# --- corpus mixture report ----------------------------------------------------

@register("p_corpus_report", """
SELECT lang, source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
       CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       sum(n_chars) * 1e0 / count(*) AS mean_chars,
       (count(*) - count(DISTINCT md5(text))) * 1e0 / count(*) AS dup_rate
FROM documents GROUP BY lang, source
""")
def p_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture dashboard: per (lang, source) stratum, document/token
    volume, exact-duplicate rate (content-digest distinct), and size
    stats — the report a data-mixture owner reads before reweighting.

    Scale shape: ONE groupBy over the corpus; the distinct-digest count
    is a partial_count(distinct md5) inside the same aggregation (two-
    phase hash agg, no second shuffle); ratios are single divisions of
    exact integers (cross-engine deterministic)."""
    docs = _docs(spark, sf_dir)
    return (docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).alias("n_tokens"),
        F.count_distinct(F.md5("text")).alias("n_unique"),
        F.sum("n_chars").alias("sum_chars"))
        .select("lang", "source", "n_docs", "n_tokens", "n_unique",
                "sum_chars",
                (F.col("sum_chars") * F.lit(1.0) / F.col("n_docs"))
                .alias("mean_chars"),
                ((F.col("n_docs") - F.col("n_unique")) * F.lit(1.0)
                 / F.col("n_docs")).alias("dup_rate")))


# --- KMV distinct sketch ------------------------------------------------------

_KMV_K = 64


@register("t_kmv_distinct", f"""
WITH toks AS (
  SELECT DISTINCT source, unnest(string_split(text, ' ')) AS term
  FROM documents
),
hashed AS (
  SELECT source, term,
         CAST(('0x' || substr(md5('kmv|' || term), 1, 8)) AS BIGINT) AS h
  FROM toks
),
ranked AS (
  SELECT source, h,
         row_number() OVER (PARTITION BY source ORDER BY h, term) AS rn,
         count(*) OVER (PARTITION BY source) AS n_exact
  FROM hashed
),
sk AS (
  SELECT source, CAST(max(n_exact) AS BIGINT) AS n_exact,
         CAST(count(*) AS BIGINT) AS k_used,
         CAST(max(h) AS BIGINT) AS kth_hash
  FROM ranked WHERE rn <= {_KMV_K} GROUP BY source
)
SELECT source, n_exact, k_used, kth_hash,
       CASE WHEN k_used < {_KMV_K} THEN CAST(n_exact AS DOUBLE)
            ELSE (k_used - 1) * 4294967296e0 / kth_hash END AS est_distinct
FROM sk
""")
def t_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-minimum-values distinct-count sketch per source: keep the
    {_KMV_K} smallest 32-bit hashes of the distinct terms; estimate
    distinct = (k-1) * 2^32 / kth-smallest-hash (exact count when the
    stratum has fewer than k terms). The per-stratum cardinality
    estimator a mixture dashboard runs when exact count-distinct is
    too expensive — and, unlike HyperLogLog implementations, fully
    DETERMINISTIC across engines: md5 draws + integer rank + one
    double division.

    Scale shape: the same window-rank-then-cap discipline as the
    inverted index — the k smallest hashes come out of a spillable
    sort, never a per-group buffer; the exact count rides the same
    window pass (here only to VALIDATE the estimate — a production
    sketch drops it and with it any full-cardinality work)."""
    docs = _docs(spark, sf_dir)
    toks = (docs.select("source",
                        F.explode(F.split("text", " ")).alias("term"))
            .distinct())
    h = F.conv(F.substring(F.md5(F.concat(F.lit("kmv|"), F.col("term"))),
                           1, 8), 16, 10).cast("long")
    hashed = toks.select("source", "term", h.alias("h"))
    wr = Window.partitionBy("source").orderBy("h", "term")
    wn = Window.partitionBy("source")
    ranked = hashed.select(
        "source", "h",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n_exact"))
    sk = (ranked.filter(F.col("rn") <= _KMV_K)
          .groupBy("source")
          .agg(F.max("n_exact").cast("long").alias("n_exact"),
               F.count(F.lit(1)).cast("long").alias("k_used"),
               F.max("h").cast("long").alias("kth_hash")))
    est = (F.when(F.col("k_used") < _KMV_K,
                  F.col("n_exact").cast("double"))
           .otherwise((F.col("k_used") - 1) * F.lit(4294967296.0)
                      / F.col("kth_hash")))
    return sk.select("source", "n_exact", "k_used", "kth_hash",
                     est.alias("est_distinct"))


@register("t_kmv_set_algebra", f"""
WITH toks AS (
  SELECT DISTINCT source, unnest(string_split(text, ' ')) AS term
  FROM documents WHERE source IN ('src0', 'src1')
),
hashed AS (
  SELECT source, term,
         CAST(('0x' || substr(md5('kmv|' || term), 1, 8)) AS BIGINT) AS h
  FROM toks
),
ranked AS (
  SELECT source, h,
         row_number() OVER (PARTITION BY source ORDER BY h, term) AS rn
  FROM hashed
),
sk AS (SELECT DISTINCT source, h FROM ranked WHERE rn <= {_KMV_K}),
uni AS (SELECT DISTINCT h FROM sk),
uranked AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM uni),
uk AS (SELECT h FROM uranked WHERE rn <= {_KMV_K}),
flags AS (
  SELECT uk.h,
         max(CASE WHEN s.source = 'src0' THEN 1 ELSE 0 END) AS in_a,
         max(CASE WHEN s.source = 'src1' THEN 1 ELSE 0 END) AS in_b
  FROM uk JOIN sk s ON s.h = uk.h GROUP BY uk.h
),
m AS (SELECT CAST(count(*) AS BIGINT) AS k_used,
             CAST(max(h) AS BIGINT) AS kth_hash,
             CAST(sum(in_a * in_b) AS BIGINT) AS n_both
      FROM flags),
ex AS (
  SELECT CAST(count(*) AS BIGINT) AS exact_union,
         CAST(sum(CASE WHEN n_src = 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS exact_inter
  FROM (SELECT term, count(DISTINCT source) AS n_src
        FROM toks GROUP BY term)
)
SELECT m.k_used, m.kth_hash, m.n_both, ex.exact_union, ex.exact_inter,
       CASE WHEN m.k_used < {_KMV_K} THEN CAST(ex.exact_union AS DOUBLE)
            ELSE (m.k_used - 1) * 4294967296e0 / m.kth_hash
       END AS est_union,
       CASE WHEN m.k_used < {_KMV_K} THEN CAST(ex.exact_inter AS DOUBLE)
            ELSE (m.n_both * 1e0 / m.k_used)
                 * ((m.k_used - 1) * 4294967296e0 / m.kth_hash)
       END AS est_inter
FROM m, ex
""")
def t_kmv_set_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketch SET ALGEBRA (Beyer et al. 2007, SIGMOD — "On
    synopses for distinct-value estimation under multiset
    operations"): merge src0's and src1's k-minimum-values sketches
    into a union sketch (k smallest of the hash union) and estimate
    |A ∪ B| from its kth value and |A ∩ B| from the Jaccard fraction
    rho = |K ∩ S_A ∩ S_B| / k — the MERGEABILITY property that makes
    sketches the right 100 TB answer: per-shard sketches combine
    associatively into any set expression without re-reading data,
    while exact distinct-counts of a union must re-shuffle
    everything. Exact union/intersection counts ride along to
    validate the estimates (a production rollup drops them).

    Determinism: md5-derived 32-bit hashes (engine-identical draws),
    integer ranks and counts end-to-end; the two estimates are each a
    fixed parenthesized chain of IEEE double ops from integers, so
    both engines produce bit-identical doubles. Scale shape: two
    window-rank-capped sketches (spillable sort, never a per-group
    buffer), then every set operation runs on <= 2k rows — broadcast
    territory regardless of corpus size."""
    docs = _docs(spark, sf_dir)
    toks = (docs.filter(F.col("source").isin("src0", "src1"))
            .select("source",
                    F.explode(F.split("text", " ")).alias("term"))
            .distinct())
    h = F.conv(F.substring(F.md5(F.concat(F.lit("kmv|"), F.col("term"))),
                           1, 8), 16, 10).cast("long")
    hashed = toks.select("source", "term", h.alias("h"))
    wr = Window.partitionBy("source").orderBy("h", "term")
    sk = (hashed.select("source", "h",
                        F.row_number().over(wr).alias("rn"))
          .filter(F.col("rn") <= _KMV_K)
          .select("source", "h").distinct())
    uk = (sk.select("h").distinct()
          .select("h", F.row_number().over(Window.orderBy("h")).alias("rn"))
          .filter(F.col("rn") <= _KMV_K).select("h"))
    flags = (uk.join(sk, "h")
             .groupBy("h")
             .agg(F.max(F.when(F.col("source") == "src0", 1).otherwise(0))
                  .alias("in_a"),
                  F.max(F.when(F.col("source") == "src1", 1).otherwise(0))
                  .alias("in_b")))
    m = flags.agg(
        F.count(F.lit(1)).cast("long").alias("k_used"),
        F.max("h").cast("long").alias("kth_hash"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("long").alias("n_both"))
    ex = (toks.groupBy("term")
          .agg(F.count_distinct("source").alias("n_src"))
          .agg(F.count(F.lit(1)).cast("long").alias("exact_union"),
               F.sum(F.when(F.col("n_src") == 2, 1).otherwise(0))
               .cast("long").alias("exact_inter")))
    est_union = (F.when(F.col("k_used") < _KMV_K,
                        F.col("exact_union").cast("double"))
                 .otherwise((F.col("k_used") - 1) * F.lit(4294967296.0)
                            / F.col("kth_hash")))
    est_inter = (F.when(F.col("k_used") < _KMV_K,
                        F.col("exact_inter").cast("double"))
                 .otherwise((F.col("n_both") * F.lit(1.0) / F.col("k_used"))
                            * ((F.col("k_used") - 1) * F.lit(4294967296.0)
                               / F.col("kth_hash"))))
    return (m.crossJoin(ex)
            .select("k_used", "kth_hash", "n_both", "exact_union",
                    "exact_inter", est_union.alias("est_union"),
                    est_inter.alias("est_inter")))


@register("t_length_quantiles", """
WITH counts AS (
  SELECT lang, n_chars, count(*) AS c
  FROM documents GROUP BY lang, n_chars
),
tot AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n FROM counts
        GROUP BY lang),
cum AS (
  SELECT lang, n_chars,
         CAST(sum(c) OVER (PARTITION BY lang ORDER BY n_chars)
              AS BIGINT) AS cum_c
  FROM counts
)
SELECT cum.lang AS lang, t.n AS n_docs,
       min(CASE WHEN cum_c * 100 >= 50 * t.n THEN n_chars END) AS p50,
       min(CASE WHEN cum_c * 100 >= 90 * t.n THEN n_chars END) AS p90,
       min(CASE WHEN cum_c * 100 >= 99 * t.n THEN n_chars END) AS p99,
       min(n_chars) AS min_chars, max(n_chars) AS max_chars
FROM cum JOIN tot t ON t.lang = cum.lang
GROUP BY cum.lang, t.n
""")
def t_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-language document-length percentiles (nearest-rank
    p50/p90/p99) — corpus length profiling for sequence-length and
    truncation decisions.

    Scale shape: NOT a per-group sort (few language groups ⇒ one
    giant sorted partition each at corpus scale). Instead the classic
    exact-quantile two-step: value counts per (lang, n_chars) — a
    map-side-combining groupBy whose output is bounded by #distinct
    lengths, not #docs — then a cumulative window over that tiny
    aggregate. The nearest-rank pick (min value with cum ≥ ⌈p·n⌉) is
    integer cross-multiplied, so both engines agree exactly."""
    docs = _docs(spark, sf_dir)
    counts = (docs.groupBy("lang", "n_chars")
              .agg(F.count(F.lit(1)).alias("c")))
    tot = counts.groupBy("lang").agg(F.sum("c").cast("long").alias("n"))
    cum = counts.withColumn(
        "cum_c", F.sum("c").over(
            Window.partitionBy("lang").orderBy("n_chars")).cast("long"))

    def pick(pct):
        return F.min(F.when(F.col("cum_c") * 100 >= pct * F.col("n"),
                            F.col("n_chars")))

    return (cum.join(tot, "lang")
            .groupBy("lang", F.col("n").alias("n_docs"))
            .agg(pick(50).alias("p50"), pick(90).alias("p90"),
                 pick(99).alias("p99"),
                 F.min("n_chars").alias("min_chars"),
                 F.max("n_chars").alias("max_chars")))


_CMS_D, _CMS_W = 3, 1024

@register("t_heavy_hitters_cms", f"""
WITH terms AS (
  SELECT unnest(string_split(text, ' ')) AS term FROM documents
),
cnt AS (SELECT term, count(*) AS exact_n FROM terms GROUP BY term),
pos AS (
  SELECT c.term, j.j,
         CAST(('0x' || substr(md5('cms' || j.j || '|' || c.term), 1, 8))
              AS BIGINT) % {_CMS_W} AS p
  FROM cnt c CROSS JOIN (SELECT unnest([0, 1, 2]) AS j) j
),
sketch AS (
  SELECT p.j, p.p, CAST(sum(c.exact_n) AS BIGINT) AS ctr
  FROM pos p JOIN cnt c ON c.term = p.term
  GROUP BY p.j, p.p
),
top AS (SELECT term, exact_n FROM cnt
        ORDER BY exact_n DESC, term LIMIT 20)
SELECT t.term AS term, CAST(t.exact_n AS BIGINT) AS exact_n,
       CAST(min(s.ctr) AS BIGINT) AS est_n,
       CAST(min(s.ctr) - t.exact_n AS BIGINT) AS overcount
FROM top t
JOIN pos p ON p.term = t.term
JOIN sketch s ON s.j = p.j AND s.p = p.p
GROUP BY t.term, t.exact_n
""")
def t_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters: term frequencies compressed
    into a {_CMS_D}×{_CMS_W} counter grid (md5-derived positions, so
    both engines build the IDENTICAL sketch and agree on every
    collision), estimates = min over rows — always ≥ exact, verified
    per top-20 term against the exact count.

    Completes the deterministic sketch family: KMV (cardinality),
    Bloom (membership), CMS (frequency) — the bounded-memory
    summaries a 100 TB profile pass ships instead of raw counts.
    Scale shape: one vocab aggregation (map-side combining; the only
    corpus-sized pass), checkpointed once because three consumers
    (sketch, positions, top-k) would otherwise re-run it; the sketch
    itself is ≤{_CMS_D * _CMS_W} rows."""
    docs = _docs(spark, sf_dir)
    cnt = (docs.select(F.explode(F.split(F.col("text"), " ")).alias("term"))
           .groupBy("term").agg(F.count(F.lit(1)).alias("exact_n"))
           # vocab-sized (tiny next to the corpus); one eager cut
           # instead of three evaluations of the corpus aggregation
           .localCheckpoint(eager=True))

    def h(j):
        return (F.conv(F.substring(
            F.md5(F.concat(F.lit(f"cms{j}|"), F.col("term"))), 1, 8),
            16, 10).cast("long") % _CMS_W)

    pos = cnt.select("term", "exact_n", F.explode(F.array(*[
        F.struct(F.lit(j).alias("j"), h(j).alias("p"))
        for j in range(_CMS_D)])).alias("jp")) \
        .select("term", "exact_n", "jp.j", "jp.p")
    sketch = (pos.groupBy("j", "p")
              .agg(F.sum("exact_n").cast("long").alias("ctr")))
    top = cnt.orderBy(F.desc("exact_n"), "term").limit(20)
    return (top.join(pos.select("term", "j", "p"), "term")
            .join(F.broadcast(sketch), ["j", "p"])
            .groupBy("term", "exact_n")
            .agg(F.min("ctr").alias("est_n"))
            .select("term", F.col("exact_n").cast("long").alias("exact_n"),
                    "est_n",
                    (F.col("est_n") - F.col("exact_n")).cast("long")
                    .alias("overcount")))


@register("t_bigram_lm", """
WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
bi AS (
  SELECT unnest(list_transform(range(1, len(t)),
                               i -> t[i] || ' ' || t[i + 1])) AS bg
  FROM toks WHERE len(t) >= 2
),
bc AS (
  SELECT split_part(bg, ' ', 1) AS w1, split_part(bg, ' ', 2) AS w2,
         count(*) AS c
  FROM bi GROUP BY w1, w2
),
wn AS (
  SELECT w1, w2, CAST(c AS BIGINT) AS c,
         CAST(sum(c) OVER (PARTITION BY w1) AS BIGINT) AS n_w1
  FROM bc
)
SELECT w1, w2, c, n_w1, c * 1e0 / n_w1 AS cond_p
FROM wn ORDER BY c DESC, w1, w2 LIMIT 30
""")
def t_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model counts: top bigrams with conditional
    probability P(w2|w1) = c(w1,w2) / c(w1·) — the n-gram-LM building
    block (and the engine shape behind any conditional-frequency
    feature).

    Scale shape: one explode + map-side-combining groupBy to
    vocab²-bounded bigram counts; the unigram denominator is a WINDOW
    sum over those aggregated rows (a groupBy + join-back would
    re-evaluate the corpus subtree); exact integer division only at
    the end."""
    docs = _docs(spark, sf_dir)
    t = F.split(F.col("text"), " ")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(F.col("_t")) - 1),
        lambda i: F.concat_ws(" ", F.element_at(F.col("_t"), i),
                              F.element_at(F.col("_t"), i + 1)))
    bi = (docs.select(t.alias("_t"))
          .filter(F.size(F.col("_t")) >= 2)
          .select(F.explode(grams).alias("bg")))
    bc = (bi.select(F.substring_index(F.col("bg"), " ", 1).alias("w1"),
                    F.substring_index(F.col("bg"), " ", -1).alias("w2"))
          .groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c")))
    n_w1 = F.sum("c").over(Window.partitionBy("w1")).cast("long")
    return (bc.select("w1", "w2", F.col("c").cast("long").alias("c"),
                      n_w1.alias("n_w1"))
            .withColumn("cond_p", F.col("c") * 1.0 / F.col("n_w1"))
            .orderBy(F.desc("c"), "w1", "w2").limit(30))


# shared with t_perplexity_buckets (round 11), which re-ranks this
# query's exact-integer per-doc scores into CCNet buckets
_LM_SQL = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
vocab AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v
          FROM (SELECT unnest(t) AS w FROM toks)),
bi AS (
  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
  FROM toks, unnest(range(1, len(t))) AS u(i)
  WHERE len(t) >= 2
),
bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c FROM bi GROUP BY w1, w2),
wn AS (SELECT w1, w2, c,
              CAST(sum(c) OVER (PARTITION BY w1) AS BIGINT) AS n_w1
       FROM bc),
scored AS (
  SELECT b.doc_id,
         CAST(floor(1e6 * (wn.c + 1) / (wn.n_w1 + vocab.v)) AS BIGINT) AS s
  FROM bi b JOIN wn ON b.w1 = wn.w1 AND b.w2 = wn.w2
  CROSS JOIN vocab
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(s) AS BIGINT) AS score_sum,
       CAST(sum(s) AS BIGINT) * 1e0 / count(*) / 1e6 AS mean_p
FROM scored GROUP BY doc_id
"""


@register("t_lm_doc_likelihood", _LM_SQL)
def t_lm_doc_likelihood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document bigram-LM likelihood — the CCNet-style LM quality
    gate (train an n-gram LM on the corpus, score each document by
    how predictable its text is; low scores flag boilerplate/garble):
    mean add-one-smoothed conditional probability P(w2|w1) =
    (c(w1,w2)+1)/(c(w1·)+V) over each doc's bigrams.

    Fixed-point contract: each bigram contributes
    floor(1e6 · p) as an INTEGER, so the per-doc sum is
    order-independent and engine-exact (a float sum's rounding depends
    on reduction order; log-space scoring would additionally depend on
    the engines' libm ln — both hash-unstable).

    Scale shape: bigram counts are a vocab²-bounded groupBy with
    map-side combine; the unigram denominator is a window over those
    AGGREGATED rows (not a corpus re-scan); scoring is ONE
    co-partitioned join of the bigram stream against the count table
    on (w1, w2); V is a 1-row broadcast."""
    docs = _docs(spark, sf_dir)
    t = F.split(F.col("text"), " ")
    toks = docs.select("doc_id", t.alias("_t"))
    vocab = (toks.select(F.explode("_t").alias("w"))
             .agg(F.countDistinct("w").alias("v")))
    grams = F.transform(
        F.sequence(F.lit(1), F.size(F.col("_t")) - 1),
        lambda i: F.struct(F.element_at(F.col("_t"), i).alias("w1"),
                           F.element_at(F.col("_t"), i + 1).alias("w2")))
    bi = (toks.filter(F.size(F.col("_t")) >= 2)
          .select("doc_id", F.explode(grams).alias("g"))
          .select("doc_id", F.col("g.w1").alias("w1"),
                  F.col("g.w2").alias("w2")))
    bc = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    wn = bc.withColumn(
        "n_w1", F.sum("c").over(Window.partitionBy("w1")).cast("long"))
    s = F.floor(F.lit(1e6) * (F.col("c") + 1) / (F.col("n_w1") + F.col("v")))
    return (bi.join(wn, ["w1", "w2"])
            .crossJoin(F.broadcast(vocab))
            .select("doc_id", s.alias("s"))
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_bigrams"),
                 F.sum("s").cast("long").alias("score_sum"))
            .withColumn("mean_p", F.col("score_sum") * 1.0
                        / F.col("n_bigrams") / 1e6))


@register("t_perplexity_buckets", f"""
WITH base AS ({_LM_SQL}),
b AS (
  SELECT doc_id, n_bigrams, score_sum,
         ntile(3) OVER (ORDER BY score_sum * 1e0 / n_bigrams DESC,
                        doc_id) AS bucket_id
  FROM base
)
SELECT doc_id, n_bigrams, score_sum, CAST(bucket_id AS BIGINT) AS bucket_id,
       CASE bucket_id WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM b
""")
def t_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail corpus partition (Wenzek et al. 2020):
    rank every document by LM predictability and cut the corpus into
    terciles — 'head' trains first / weighs most, 'tail' is the
    low-quality candidate pool. Scores are t_lm_doc_likelihood's
    exact-integer (score_sum, n_bigrams) pairs; the ordering key is
    the single IEEE division score_sum/n_bigrams (identical op shape
    in both engines), tie-broken by doc_id so the order is total and
    the tercile cut is engine-exact.

    The tercile itself comes from functions/ranking.exact_global_ntile
    — the round-11-hardened distributed-exact primitive (range
    shuffle materialized once, broadcast offsets, integer-DIV ntile
    arithmetic): zero unpartitioned windows over data, while the
    oracle uses the naive global ``ntile(3) OVER (ORDER BY ...)``.
    Docs with < 2 tokens carry no bigrams and are out of scope, as in
    the base query."""
    from .functions.ranking import exact_global_ntile

    base = t_lm_doc_likelihood(spark, sf_dir).select(
        "doc_id", "n_bigrams", "score_sum")
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    order = [(F.col("score_sum") * F.lit(1.0) / F.col("n_bigrams")).desc(),
             F.col("doc_id").asc()]
    bucketed = exact_global_ntile(base, order, 3, n_part, "bucket_id")
    return bucketed.select(
        "doc_id", "n_bigrams", "score_sum", "bucket_id",
        F.when(F.col("bucket_id") == 1, "head")
        .when(F.col("bucket_id") == 2, "middle")
        .otherwise("tail").alias("bucket"))


@register("p_source_overlap", f"""
WITH toks AS (
  SELECT source, string_split(text, ' ') AS t FROM documents
),
g AS (
  SELECT DISTINCT source,
         unnest(list_distinct(list_transform(
           range(1, len(t) - {_DECON_N - 2}),
           i -> md5(array_to_string(list_slice(t, i, i + {_DECON_N - 1}), ' ')))))
         AS g
  FROM toks WHERE len(t) >= {_DECON_N}
),
gn AS (
  SELECT source, g,
         CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n
  FROM g
),
pairs AS (
  SELECT a.source AS src_a, a.n AS n_a, b.source AS src_b, b.n AS n_b
  FROM gn a JOIN gn b ON a.g = b.g AND a.source < b.source
)
SELECT src_a, src_b,
       CAST(min(n_a) AS BIGINT) AS n_a, CAST(min(n_b) AS BIGINT) AS n_b,
       count(*) AS n_shared,
       count(*) * 1e0 / least(min(n_a), min(n_b)) AS overlap
FROM pairs GROUP BY src_a, src_b
""")
def p_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-contamination matrix: for every source pair, how many
    distinct 8-gram fingerprints they share, normalized by the
    smaller side (overlap coefficient) — which corpora republish each
    other's content.

    Scale shape: the corpus reduces to distinct (source, digest)
    rows once; per-source totals ride along as a window count, and
    shared digests expand IN-ARRAY per digest (groupBy(digest) +
    i<j combination expansion, the repo's standard fused-LSH shape)
    instead of a digest self-join that would evaluate the corpus
    subtree twice. Group sizes are bounded by #sources."""
    docs = _docs(spark, sf_dir)
    t = F.split(F.col("text"), " ")
    grams = F.array_distinct(F.transform(
        F.sequence(F.lit(1), F.size(F.col("_t")) - (_DECON_N - 1)),
        lambda i: F.md5(F.concat_ws(
            " ", *[F.element_at(F.col("_t"), i + j)
                   for j in range(_DECON_N)]))))
    g = (docs.select("source", t.alias("_t"))
         .filter(F.size(F.col("_t")) >= _DECON_N)
         .select("source", F.explode(grams).alias("g"))
         .distinct())
    gn = g.withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("source"))
        .cast("long"))
    grouped = (gn.groupBy("g")
               .agg(F.sort_array(F.collect_list(F.struct("source", "n")))
                    .alias("ms"))
               .filter(F.size("ms") >= 2))
    combos = F.flatten(F.transform(
        F.col("ms"),
        lambda x, i: F.transform(
            F.slice(F.col("ms"), i + F.lit(2), F.size(F.col("ms"))),
            lambda y: F.struct(x["source"].alias("src_a"),
                               x["n"].alias("n_a"),
                               y["source"].alias("src_b"),
                               y["n"].alias("n_b")))))
    pairs = grouped.select(F.explode(combos).alias("p")).select("p.*")
    return (pairs.groupBy("src_a", "src_b")
            .agg(F.min("n_a").alias("n_a"), F.min("n_b").alias("n_b"),
                 F.count(F.lit(1)).alias("n_shared"))
            .withColumn("overlap",
                        F.col("n_shared") * 1.0
                        / F.least(F.col("n_a"), F.col("n_b"))))


_BUCKETS = [64, 128, 256, 512, 1024]

@register("p_length_buckets", f"""
WITH b AS (
  SELECT n_chars,
         CASE {' '.join(f"WHEN n_chars <= {w} THEN {w}" for w in _BUCKETS)}
              ELSE {2 * _BUCKETS[-1]} END AS bucket
  FROM documents
)
SELECT CAST(bucket AS BIGINT) AS bucket,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(bucket * count(*) AS BIGINT) AS capacity,
       (bucket * count(*) - CAST(sum(n_chars) AS BIGINT)) * 1e0
         / (bucket * count(*)) AS waste_frac
FROM b GROUP BY bucket
""")
def p_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching report: documents assigned to
    power-of-two length buckets, with per-bucket padding waste
    (capacity − real chars) — the measurement that justifies bucketed
    batching for inference/training (vs padding everything to the
    global max). One scan, one tiny groupBy; the bucket ladder is a
    codegen CASE, identical in both engines."""
    docs = _docs(spark, sf_dir)
    bucket = F.lit(2 * _BUCKETS[-1])
    for w in reversed(_BUCKETS):
        bucket = F.when(F.col("n_chars") <= w, F.lit(w)).otherwise(bucket)
    b = docs.select(F.col("n_chars"), bucket.cast("long").alias("bucket"))
    return (b.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_chars").cast("long").alias("total_chars"))
            .select("bucket", "n_docs", "total_chars",
                    (F.col("bucket") * F.col("n_docs")).cast("long")
                    .alias("capacity"),
                    ((F.col("bucket") * F.col("n_docs")
                      - F.col("total_chars")) * 1.0
                     / (F.col("bucket") * F.col("n_docs")))
                    .alias("waste_frac")))


@register("t_length_histogram", """
SELECT CAST(CASE WHEN n_chars < 0 THEN 0
            WHEN n_chars >= 4000 THEN 11
            ELSE (CAST(n_chars AS BIGINT) * 10) // 4000 + 1 END
       AS BIGINT) AS bucket,
       count(*) AS n_docs,
       CAST(min(n_chars) AS BIGINT) AS min_chars,
       CAST(max(n_chars) AS BIGINT) AS max_chars
FROM documents
GROUP BY bucket
""")
def t_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-width document-length histogram via ``width_bucket`` —
    the binning primitive behind every corpus length-distribution
    dashboard. Spark's width_bucket and the oracle's explicit
    integer closed form (floor(x*nb/hi)+1 with under/overflow buckets
    0 and nb+1) agree exactly on integer inputs; one map-side
    projection + one rollup."""
    docs = _docs(spark, sf_dir)
    return (docs.select(
        F.width_bucket(F.col("n_chars").cast("long"),
                       F.lit(0), F.lit(4000), F.lit(10))
        .cast("long").alias("bucket"),
        F.col("n_chars").cast("long").alias("n_chars"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.min("n_chars").alias("min_chars"),
             F.max("n_chars").alias("max_chars")))


@register("t_dsir_importance", """
WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS t
              FROM documents),
bi AS (
  SELECT doc_id, source, t[i] AS w1, t[i + 1] AS w2
  FROM toks, unnest(range(1, len(t))) AS u(i)
  WHERE len(t) >= 2
),
ratio AS (
  SELECT w1, w2,
         (CAST(sum(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS BIGINT)
          + 1) * 1000000 // (CAST(count(*) AS BIGINT) + 1) AS rf
  FROM bi GROUP BY w1, w2
)
SELECT b.doc_id, b.source,
       CAST(count(*) AS BIGINT) AS n_feats,
       CAST(sum(ratio.rf) AS BIGINT) AS score_sum,
       CAST(sum(ratio.rf) AS BIGINT) * 1e0 / count(*) / 1e6
         AS importance
FROM bi b JOIN ratio ON b.w1 = ratio.w1 AND b.w2 = ratio.w2
GROUP BY b.doc_id, b.source
""")
def t_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-selection importance weighting, the DSIR shape (Xie et
    al. 2023, "Data Selection for Language Models via Importance
    Resampling"): score every document by how much its n-gram feature
    distribution resembles a TARGET domain relative to the raw pool,
    then resample by the weights. Target here is the corpus's own
    'src1' source slice — the standard quality-proxy target; the raw
    distribution is the whole pool.

    Fixed-point contract: each bigram feature f contributes
    floor(1e6 * (ct(f)+1) / (cr(f)+1)) as an INTEGER (add-one on both
    counts), so the per-doc sum is order-independent and engine-exact
    — the same reduction-order argument as t_lm_doc_likelihood. The
    published method uses hashed features and a log-ratio; hashing is
    engine-specific (murmur vs xxhash) and ln is libm-dependent, so
    the exact-contract form keeps raw bigram keys and the linear
    ratio, which is monotone in the same evidence.

    Scale shape: ONE vocab2-bounded groupBy with map-side combine
    carries both distributions (the target count is a conditional sum
    in the same aggregate — no second corpus scan, no count-table
    join); the ratio table joins back to the bigram stream
    co-partitioned on (w1, w2); the per-doc rollup is the only other
    shuffle. No collects, no UDFs."""
    docs = _docs(spark, sf_dir)
    toks = docs.select("doc_id", "source",
                       F.split(F.col("text"), " ").alias("_t"))
    grams = F.transform(
        F.sequence(F.lit(1), F.size(F.col("_t")) - 1),
        lambda i: F.struct(F.element_at(F.col("_t"), i).alias("w1"),
                           F.element_at(F.col("_t"), i + 1).alias("w2")))
    bi = (toks.filter(F.size(F.col("_t")) >= 2)
          .select("doc_id", "source", F.explode(grams).alias("g"))
          .select("doc_id", "source", F.col("g.w1").alias("w1"),
                  F.col("g.w2").alias("w2")))
    # ONE vocab2-bounded aggregation carries BOTH distributions
    # (conditional target count beside the raw count) — no second
    # corpus scan, no count-table join. r14: both distributions ride
    # COUNT-OVER-WINDOW on the (w1, w2)-shuffled bigram stream (the
    # t_tfidf_topterms form) instead of a groupBy + join-back of the
    # same stream — the join-back re-ran the corpus tokenize + bigram
    # explode a second time (guide §2.4): 2 corpus passes -> 1, one
    # bigram shuffle total.
    wb = Window.partitionBy("w1", "w2")
    scored = (bi
              .withColumn("cr", F.count(F.lit(1)).over(wb))
              .withColumn("ct", F.sum(F.when(F.col("source") == "src1", 1)
                                      .otherwise(0)).over(wb))
              .withColumn("rf", F.floor((F.col("ct") + 1) * F.lit(1000000)
                                        / (F.col("cr") + 1))))
    return (scored
            .groupBy("doc_id", "source")
            .agg(F.count(F.lit(1)).cast("long").alias("n_feats"),
                 F.sum("rf").cast("long").alias("score_sum"))
            .withColumn("importance",
                        F.col("score_sum") * 1e0 / F.col("n_feats") / 1e6))



_BPE_K = 6
# Driver-fold ceiling for the collected word-frequency dict (the
# bounded_collect discipline): natural-language vocabularies follow
# Heaps' law — production BPE trainers hold the whole dict in one
# process; 4M (word, freq) rows ≈ 100 MB driver-side, far above any
# real whitespace vocabulary, and one row more raises instead of
# silently folding an unbounded frame.
_BPE_VOCAB_CEILING = 4_000_000


def _bpe_train_sql(k: int = _BPE_K) -> str:
    """Generate the k-stage BPE-training oracle: each stage counts
    adjacent symbol pairs over the word-frequency dict, picks the
    argmax (ties: lexicographic), and applies the merge with exact
    left-to-right non-overlap semantics via gaps-and-islands parity
    (greedy scan == every odd-numbered position inside each run of
    consecutive matches). Validated against a pure-Python reference
    BPE (Sennrich et al. 2016 get_stats/merge loop) on the corpus."""
    parts = ["""WITH w0 AS (
  SELECT word, CAST(count(*) AS BIGINT) AS freq,
         list_transform(range(1, length(word) + 1),
                        i -> substring(word, i, 1)) AS syms
  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
  WHERE length(word) >= 1
  GROUP BY word
)"""]
    for i in range(k):
        parts.append(f""",
p{i} AS (
  SELECT syms[j] AS a, syms[j + 1] AS b,
         CAST(sum(freq) AS BIGINT) AS cnt
  FROM w{i}, unnest(range(1, len(syms))) AS u(j)
  WHERE len(syms) >= 2
  GROUP BY a, b
),
t{i} AS (SELECT a, b, cnt FROM p{i} ORDER BY cnt DESC, a, b LIMIT 1),
e{i} AS (
  SELECT w.word, w.freq, j AS pos, w.syms[j] AS sym,
         (j < len(w.syms) AND w.syms[j] = t.a AND w.syms[j + 1] = t.b)
           AS m
  FROM w{i} w CROSS JOIN t{i} t,
       unnest(range(1, len(w.syms) + 1)) AS u(j)
),
s{i} AS (
  SELECT word, freq, pos, sym, m,
         CASE WHEN m THEN row_number() OVER
             (PARTITION BY word, m, grp ORDER BY pos) END AS rn
  FROM (
    SELECT *, pos - row_number() OVER
        (PARTITION BY word, m ORDER BY pos) AS grp
    FROM e{i}
  )
),
g{i} AS (
  SELECT word, freq, pos, sym, m AND rn % 2 = 1 AS sel,
         lag(m AND rn % 2 = 1, 1, false) OVER
           (PARTITION BY word ORDER BY pos) AS prev_sel,
         lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
  FROM s{i}
),
w{i + 1} AS (
  SELECT word, freq,
         list(CASE WHEN sel THEN sym || nxt ELSE sym END
              ORDER BY pos) AS syms
  FROM g{i} WHERE NOT prev_sel
  GROUP BY word, freq
)""")
    tops = "\nUNION ALL\n".join(
        f"SELECT CAST({i + 1} AS BIGINT) AS rank, a AS sym_a, b AS sym_b,"
        f" cnt FROM t{i}" for i in range(k))
    parts.append("\n" + tops)
    return "".join(parts)


def _bpe_merge_expr(a: str, b: str):
    """Left-to-right non-overlapping merge of adjacent (a, b) in a
    symbol array, as a JVM-side aggregate() fold with a
    (out, pending) struct accumulator — the Sennrich merge loop as a
    Catalyst expression. The pair strings ride F.lit (never SQL text:
    corpus-derived symbols may contain quotes)."""
    def _s(out, pend):
        return F.struct(out.alias("out"), pend.alias("pend"))

    def step(acc, x):
        return (F.when((acc["pend"] == a) & (x == b),
                       _s(F.concat(acc["out"], F.array(F.lit(a + b))),
                          F.lit("")))
                .when(acc["pend"] == "", _s(acc["out"], x))
                .otherwise(_s(F.concat(acc["out"], F.array(acc["pend"])),
                              x)))

    def fin(acc):
        return (F.when(acc["pend"] == "", acc["out"])
                .otherwise(F.concat(acc["out"], F.array(acc["pend"]))))

    zero = _s(F.array().cast("array<string>"), F.lit(""))
    return F.aggregate(F.col("syms"), zero, step, fin)


@register("t_bpe_train", _bpe_train_sql())
def t_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING — learn the first k merge rules from
    the corpus (Sennrich et al. 2016), the canonical pipeline step
    the existing t_bpe_segment only consumes. Classic dict-based
    formulation: the corpus is scanned ONCE into a word-frequency
    dict; every iteration then (1) counts adjacent symbol pairs over
    the dict weighted by word freq, (2) takes the argmax pair
    (ties: lexicographic — deterministic), (3) merges it left-to-
    right non-overlapping inside every word.

    Exactness: counts are int64; the merge fold and the oracle's
    gaps-and-islands parity formulation provably implement the same
    greedy scan, and the whole k-stage derivation was validated
    against a pure-Python reference BPE.

    Scale shape: the 100 TB corpus is touched exactly once (the word
    count — map-side combinable); all k training iterations run over
    the VOCAB-bounded dict, which is how production BPE trainers work
    (HuggingFace tokenizers / SentencePiece train on the collected
    word-frequency dict). Optimization r14 (guide §1.2 step 1 — fix
    the distributed algorithm): the previous shape kept the dict in a
    persisted DataFrame and ran k sequential cluster jobs (pair
    explode + shuffle + TakeOrdered collect, plus a fresh
    codegen-compiled merge fold per iteration — measured 2.37s at
    sf0.1, ~0.35s/iteration of pure fixed cost on a dict that fits in
    one task); now the dict is collected ONCE through the
    ``bounded_collect`` ceiling (the t_textrank/e_markov driver-fold
    discipline — enforced, not assumed) and the k Sennrich iterations
    run as the in-memory fold every production trainer uses
    (A/B at sf0.1: 2.37s -> 0.74s raw on a host whose q1 anchor read
    1.6x its record — ~0.45s normalized; same oracle hash at sf0.01 +
    sf0.001, and the hand-computed overlap test covers the merge
    semantics). The pair count, lexicographic
    tie-break and greedy left-to-right non-overlapping merge are
    bit-identical to the previous JVM fold: every adjacent occurrence
    counts (get_stats), argmax by (cnt DESC, a, b), merge skips the
    consumed pair."""
    docs = _docs(spark, sf_dir)
    w = (docs.select(F.explode(F.split(F.col("text"), " ")).alias("word"))
         .filter(F.length("word") >= 1)
         .groupBy("word").agg(F.count(F.lit(1)).cast("long").alias("freq")))
    vocab = [(list(r.word), r.freq)
             for r in bounded_collect(w, _BPE_VOCAB_CEILING,
                                      "t_bpe_train word dict")]
    merges = []
    for it in range(_BPE_K):
        cnt: dict = {}
        for syms, freq in vocab:
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                cnt[p] = cnt.get(p, 0) + freq
        if not cnt:
            break
        (a, b), c = min(cnt.items(),
                        key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        merges.append((it + 1, a, b, c))
        ab = a + b
        nxt = []
        for syms, freq in vocab:
            if a not in syms:
                nxt.append((syms, freq))
                continue
            out, i, n = [], 0, len(syms)
            while i < n:
                if i < n - 1 and syms[i] == a and syms[i + 1] == b:
                    out.append(ab)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            nxt.append((out, freq))
        vocab = nxt
    return local_df(spark,
        merges, "rank long, sym_a string, sym_b string, cnt long")


@register("t_corpus_drift", """
WITH tok AS (
  SELECT doc_id % 2 AS half, unnest(string_split(text, ' ')) AS token
  FROM documents
),
c AS (
  SELECT token,
         CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c_a,
         CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c_b
  FROM tok GROUP BY token
),
n AS (SELECT CAST(sum(c_a) AS BIGINT) AS na,
             CAST(sum(c_b) AS BIGINT) AS nb FROM c),
d AS (
  SELECT c.token, c.c_a, c.c_b,
         abs(c.c_a * n.nb - c.c_b * n.na) AS drift_num
  FROM c CROSS JOIN n
)
SELECT token, c_a, c_b, CAST(drift_num AS BIGINT) AS drift_num
FROM (
  SELECT token, c_a, c_b, drift_num FROM (
    SELECT token, c_a, c_b, drift_num,
           row_number() OVER (ORDER BY drift_num DESC, token) AS rn
    FROM d) WHERE rn <= 20
  UNION ALL
  SELECT '__total__', n.na, n.nb,
         (SELECT sum(drift_num) FROM d) FROM n
)
""")
def t_corpus_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus drift detection between two snapshots (here the even /
    odd doc_id halves stand in for version N and N+1): per-token
    count deltas plus the overall unnormalized total-variation
    numerator — the monitoring gate a continuously-ingesting corpus
    needs before a silent source shift poisons a training mix.

    Exactness: the drift statistic per token is |c_a*N_b - c_b*N_a| —
    the exact integer numerator of |p_a - p_b| over the common
    denominator N_a*N_b — so ranking, the top-20 cut and the total
    are all engine-exact; no float division or libm log anywhere
    (KL would hash-drift on ln). TVD itself = total/(2*N_a*N_b) if a
    consumer wants the normalized score.

    Scale shape: one token explode -> one conditional-sum groupBy
    (map-side combine, vocab-bounded); the N_a/N_b scalars ride a
    1-row cross join; top-20 is a single ordered limit."""
    docs = _docs(spark, sf_dir)
    tok = docs.select(
        (F.col("doc_id") % 2).alias("half"),
        F.explode(F.split(F.col("text"), " ")).alias("token"))
    # r14: eager cut of the vocab-bounded count table — c fed n, and
    # c ⋈ n fed the top-20 AND the total row, so the uncut plan ran
    # the corpus tokenize + vocab groupBy THREE times per action
    # (guide §2.4; the x_degree_assortativity bounded-cut discipline).
    c = (tok.groupBy("token")
         .agg(F.sum(F.when(F.col("half") == 0, 1).otherwise(0))
              .cast("long").alias("c_a"),
              F.sum(F.when(F.col("half") == 1, 1).otherwise(0))
              .cast("long").alias("c_b"))
         .localCheckpoint(eager=True))
    n = c.agg(F.sum("c_a").cast("long").alias("na"),
              F.sum("c_b").cast("long").alias("nb"))
    d = (c.crossJoin(F.broadcast(n))
         .withColumn("drift_num",
                     F.abs(F.col("c_a") * F.col("nb")
                           - F.col("c_b") * F.col("na"))))
    top = (d.orderBy(F.desc("drift_num"), "token").limit(20)
           .select("token", "c_a", "c_b",
                   F.col("drift_num").cast("long").alias("drift_num")))
    total = (d.groupBy()
             .agg(F.max("na").alias("c_a"), F.max("nb").alias("c_b"),
                  F.sum("drift_num").cast("long").alias("drift_num"))
             .select(F.lit("__total__").alias("token"),
                     F.col("c_a").cast("long"), F.col("c_b").cast("long"),
                     "drift_num"))
    return top.unionByName(total)


# --- deterministic mergeable quantile sketch (MRL) ---------------------------

_QS_PCTS = [1, 10, 25, 50, 75, 90, 99]
_QS_EPS_PCT = 5          # guaranteed-bound assert: rank error <= 5% of n


@register("t_quantile_sketch", f"""
WITH counts AS (
  SELECT n_chars, count(*) AS c FROM documents GROUP BY n_chars
),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM counts),
cum AS (
  SELECT n_chars,
         CAST(sum(c) OVER (ORDER BY n_chars) AS BIGINT) AS cum_c
  FROM counts
),
pcts AS (SELECT unnest([{", ".join(map(str, _QS_PCTS))}]) AS pct)
SELECT CAST(p.pct AS BIGINT) AS pct,
       min(CASE WHEN cum_c * 100 >= p.pct * t.n THEN n_chars END)
         AS exact_value,
       TRUE AS sketch_within_eps
FROM cum CROSS JOIN tot t CROSS JOIN pcts p
GROUP BY p.pct, t.n
""")
def t_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch (deterministic MRL compactors,
    functions/quantile_sketch.py) graded against exact nearest-rank
    truth: each partition builds a ~500-item summary in one pass
    (Arrow-batched, deterministic — per-level compaction counters
    replace KLL's coin flips), the per-partition summaries merge
    associatively, and every queried percentile must land within the
    sketch's rank-error bound of the exact answer.

    The graded row carries BOTH: ``exact_value`` (recomputed by the
    SQL oracle — the correctness anchor) and ``sketch_within_eps``
    (TRUE iff the sketch answer's true rank, counted exactly in one
    conditional-sum pass, is within {_QS_EPS_PCT}% of the target rank
    — the bound the sketch guarantees at k=256). At 100 TB the
    sketch path ships O(k·log n) values per partition instead of
    re-shuffling rows — the same merge story as x_hll_distinct.

    Determinism note: compaction depends on input order, so the plane
    is pinned-count repartitioned by doc_id and sorted within
    partitions — re-runs and re-shards then produce bit-identical
    sketches (tests also pin merge-order independence of the BOUND,
    not of the exact picked value, which is the honest contract)."""
    import pandas as pd

    from .functions.quantile_sketch import K_DEFAULT, MRLSketch

    docs = _docs(spark, sf_dir)
    npart = int(spark.conf.get("spark.sql.shuffle.partitions"))
    plane = (docs.select("doc_id", F.col("n_chars").cast("long")
                         .alias("v"))
             .repartition(npart, "doc_id")
             .sortWithinPartitions("doc_id"))

    def sketch_partition(batches):
        # r15: vectorized stream build — MRLSketch.from_stream is the
        # numpy chunk-equivalent of the per-row update loop (proven
        # bit-identical in tests/test_quantile_sketch.py); the per-row
        # insort was the partition's hot loop (guide §4.2)
        import numpy as np
        arrs = [pdf["v"].to_numpy(dtype="int64") for pdf in batches]
        vals = (np.concatenate(arrs) if arrs
                else np.array([], dtype="int64"))
        s = MRLSketch.from_stream(K_DEFAULT, vals)
        if s.n:
            yield pd.DataFrame(
                {"n": [s.n] * len(s.items()),
                 "level": [l for l, _v in s.items()],
                 "value": [v for _l, v in s.items()]})

    # gather per-partition summaries (~500 items each — the same
    # driver gather Spark's own approxQuantile performs) and merge by
    # re-compacting all items into one sketch
    parts = plane.mapInPandas(
        sketch_partition, "n long, level int, value long").toPandas()
    items = [(int(r.level), int(r.value))
             for r in parts.itertuples(index=False)]
    # exact (value, count) table collects once: n_chars' value domain
    # is small by construction, and it serves both the total n and the
    # exact nearest-rank answers. r14: aggregate straight off docs —
    # counts are order-independent, so this pass needs neither the
    # pinned repartition nor the within-partition sort (those exist
    # only for sketch determinism); the column-pruned scan+partial-agg
    # replaces a second full repartition+sort of the plane (guide
    # §2.4/§2.3).
    vc = sorted((r.v, r.c) for r in docs
                .select(F.col("n_chars").cast("long").alias("v"))
                .groupBy("v")
                .agg(F.count(F.lit(1)).alias("c")).collect())
    n = sum(c for _v, c in vc)
    sk = MRLSketch.from_items(K_DEFAULT, n, items)
    answers = {p: sk.quantile(p / 100.0) for p in _QS_PCTS}
    eps = (n * _QS_EPS_PCT) // 100
    rows = []
    for p in _QS_PCTS:
        target = -(-p * n // 100)          # ceil(p*n/100): nearest rank
        ans = answers[p]
        lo = sum(c for v, c in vc if v < ans)
        hi = sum(c for v, c in vc if v <= ans)
        ok = (lo + 1 - eps) <= target <= (hi + eps)
        cum, exact = 0, None
        for v, c in vc:
            cum += c
            if cum * 100 >= p * n:
                exact = v
                break
        rows.append((p, exact, ok))
    return local_df(spark,
        rows, "pct long, exact_value long, sketch_within_eps boolean")


@register("t_cooccurrence_pmi", """
WITH tok AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
  FROM documents
),
nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
cnt AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY w),
top AS (
  SELECT w, c FROM (
    SELECT w, c, row_number() OVER (ORDER BY c DESC, w) AS rn FROM cnt
  ) WHERE rn <= 100
),
pairs AS (
  SELECT a.w AS wa, b.w AS wb, CAST(count(*) AS BIGINT) AS c_ab
  FROM tok a
  JOIN top ta ON ta.w = a.w
  JOIN tok b ON b.doc_id = a.doc_id AND a.w < b.w
  JOIN top tb ON tb.w = b.w
  GROUP BY a.w, b.w
),
scored AS (
  SELECT p.wa, p.wb, p.c_ab, ta.c AS c_a, tb.c AS c_b,
         CAST(1000000 * p.c_ab * nd.n_docs // (ta.c * tb.c) AS BIGINT)
           AS pmi_micro
  FROM pairs p
  JOIN top ta ON ta.w = p.wa
  JOIN top tb ON tb.w = p.wb
  CROSS JOIN nd
  WHERE p.c_ab >= 5
)
SELECT wa, wb, c_ab, c_a, c_b, pmi_micro
FROM scored ORDER BY pmi_micro DESC, wa, wb LIMIT 50
""")
def t_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation extraction — top document-level co-occurring term
    pairs by pointwise mutual information (Church & Hanks 1990, the
    statistic keyword/phrase miners rank "strongly associated" pairs
    by). PMI = log(P(a,b)/(P(a)P(b))); log is monotone, so ranking by
    the EXACT INTEGER ratio 1e6*c_ab*N DIV (c_a*c_b) gives the PMI
    order with zero float accumulation — the fraction ships alongside
    the raw counts. Restricted to the top-100 frequent terms (the
    vocabulary slice where document-level co-occurrence is
    meaningful) with a min-support of 5.

    Scale shape: term counts are one map-side-combinable aggregate;
    the top-100 is a TakeOrderedAndProject (never a global sort) whose
    100 (w, c) rows are a bounded driver fold (the t_textrank
    discipline). r14 single-shuffle form: with the vocabulary as a
    100-element literal, each document expands its own sorted
    surviving-term slice via the in-array i<j expansion DIRECTLY on
    the document row — no token explode for the pair pass, no
    broadcast join, and crucially no groupBy(doc_id)+collect_list
    shuffle of the corpus-scale token plane (the old second pass). The
    only remaining shuffle keys on (wa, wb), bounded at C(100,2) =
    4950 regardless of corpus size; per-term counts re-attach from a
    map literal after aggregation (100 keys, zero join). Overflow
    note: 1e6*c_ab*N stays in int64 up to N~3e6 docs; beyond that
    scale drop the 1e6 and compare fractions cross-multiplied."""
    docs = _docs(spark, sf_dir)
    tok = docs.select(
        "doc_id",
        F.explode(F.array_distinct(F.split("text", " "))).alias("w"))
    cnt = tok.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("c"))
    top = [(r["w"], r["c"])
           for r in cnt.orderBy(F.desc("c"), "w").limit(100).collect()]
    n_docs = docs.count()
    words = [w for w, _c in top]
    cmap = F.map_from_arrays(
        F.lit(words), F.lit([c for _w, c in top]))
    ws = F.array_sort(F.array_intersect(
        F.array_distinct(F.split("text", " ")), F.lit(words)))
    combos = F.flatten(F.transform(
        F.col("ws"),
        lambda x, i: F.transform(
            F.slice(F.col("ws"), i + F.lit(2), F.size(F.col("ws"))),
            lambda y: F.struct(x.alias("wa"), y.alias("wb")))))
    pairs = (docs.select(ws.alias("ws"))
             .select(F.explode(combos).alias("p"))
             .groupBy(F.col("p.wa").alias("wa"), F.col("p.wb").alias("wb"))
             .agg(F.count(F.lit(1)).cast("long").alias("c_ab"))
             .filter(F.col("c_ab") >= 5))
    scored = (pairs
              .withColumn("c_a", F.element_at(cmap, F.col("wa")))
              .withColumn("c_b", F.element_at(cmap, F.col("wb")))
              .withColumn("n_docs", F.lit(n_docs).cast("long"))
              .select("wa", "wb", "c_ab", "c_a", "c_b",
                      F.expr("CAST(1000000 * c_ab * n_docs DIV "
                             "(c_a * c_b) AS BIGINT)")
                      .alias("pmi_micro")))
    return scored.orderBy(F.desc("pmi_micro"), "wa", "wb").limit(50)


@register("t_ngram_novelty", """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
grams AS (
  SELECT DISTINCT doc_id,
         list_aggregate(ws[g.i:g.i+7], 'string_agg', ' ') AS gram
  FROM toks, unnest(range(1, len(ws) - 6)) AS g(i)
  WHERE len(ws) >= 8
),
own AS (
  SELECT doc_id, gram,
         min(doc_id) OVER (PARTITION BY gram) AS first_doc
  FROM grams
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_novel,
       sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) * 1e0
         / count(*) AS novelty_ratio
FROM own GROUP BY doc_id
""")
def t_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus novelty curve — per document, the fraction of its
    distinct 8-grams FIRST seen in that document (ties by doc order:
    the smallest doc_id owns the gram). The ingestion-ordering
    diagnostic a dedup/curation pipeline reads saturation from: a
    crawl whose tail documents contribute near-zero novel n-grams is
    re-crawling itself (the Gopher/RefinedWeb-style "fraction of
    duplicated n-grams" signal, attributed to first occurrence).

    Scale shape: the gram ownership is a window partitioned by the
    GRAM — billions of tiny partitions (a few docs each), the
    scale-friendly direction, never a per-doc global order — and the
    per-doc rollup is map-side combinable; integers plus ONE final
    division. The 8-gram space explodes ~|tokens| rows per doc, the
    same volume the decontamination / repetition queries already
    carry."""
    docs = _docs(spark, sf_dir)
    ws = F.split("text", " ")
    grams = (docs.select("doc_id", ws.alias("ws"))
             .filter(F.size("ws") >= 8)
             .select("doc_id", F.explode(
                 F.transform(
                     F.sequence(F.lit(0), F.size("ws") - 8),
                     lambda i: F.concat_ws(
                         " ", F.slice(F.col("ws"), i + 1, 8))))
                 .alias("gram"))
             .distinct())
    own = grams.select(
        "doc_id",
        (F.min("doc_id").over(Window.partitionBy("gram"))
         == F.col("doc_id")).alias("novel"))
    return (own.groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_grams"),
                 F.sum(F.when(F.col("novel"), 1).otherwise(0))
                 .cast("long").alias("n_novel"))
            .select("doc_id", "n_grams", "n_novel",
                    (F.col("n_novel") * 1e0 / F.col("n_grams"))
                    .alias("novelty_ratio")))


@register("t_vocab_growth", """
WITH tok AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
  FROM documents
),
firsts AS (SELECT w, CAST(min(doc_id) AS BIGINT) AS first_doc
           FROM tok GROUP BY w),
dd AS (
  SELECT doc_id,
         CAST(ntile(10) OVER (ORDER BY doc_id) AS BIGINT) AS decile
  FROM documents
),
newterms AS (
  SELECT d.decile, CAST(count(*) AS BIGINT) AS n_new_terms
  FROM firsts f JOIN dd d ON d.doc_id = f.first_doc
  GROUP BY d.decile
),
docs_per AS (
  SELECT decile, CAST(count(*) AS BIGINT) AS n_docs
  FROM dd GROUP BY decile
)
SELECT p.decile, p.n_docs,
       CAST(sum(p.n_docs) OVER w AS BIGINT) AS cum_docs,
       COALESCE(t.n_new_terms, 0) AS n_new_terms,
       CAST(sum(COALESCE(t.n_new_terms, 0)) OVER w AS BIGINT)
         AS cum_vocab
FROM docs_per p LEFT JOIN newterms t ON t.decile = p.decile
WINDOW w AS (ORDER BY p.decile
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
""")
def t_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-growth (Heaps'-law) report — cumulative distinct
    vocabulary after each decile of the corpus in ingestion (doc_id)
    order: the curve whose flattening tells a crawl it has stopped
    finding new language (Heaps 1978; the t_ngram_novelty signal
    aggregated to the corpus level). Every term is attributed to the
    document that saw it FIRST, so the per-decile new-term counts
    sum to the exact distinct vocabulary — no approximate distinct
    anywhere.

    Scale shape: first-occurrence is a term-keyed map-side-combinable
    min (billions of tiny groups — the scale-friendly direction); the
    decile cut of the doc axis rides functions/ranking.exact_global_
    ntile (range shuffle + broadcast offsets, no single-partition
    sort — the oracle's plain ntile(10) window is exactly what that
    primitive reproduces bit-for-bit); the final report is a 10-row
    frame with a metadata-scale cumulative window."""
    from .functions.ranking import exact_global_ntile

    docs = _docs(spark, sf_dir)
    tok = docs.select(
        "doc_id",
        F.explode(F.array_distinct(F.split("text", " "))).alias("w"))
    firsts = tok.groupBy("w").agg(F.min("doc_id").cast("long")
                                  .alias("first_doc"))
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    dd = exact_global_ntile(docs.select("doc_id"),
                            [F.col("doc_id").asc()], 10, n_part,
                            "decile").select("doc_id", "decile")
    newterms = (firsts.join(dd, firsts["first_doc"] == dd["doc_id"])
                .groupBy("decile")
                .agg(F.count(F.lit(1)).cast("long")
                     .alias("n_new_terms")))
    docs_per = dd.groupBy("decile").agg(F.count(F.lit(1)).cast("long")
                                        .alias("n_docs"))
    w = (Window.orderBy("decile")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (docs_per.join(newterms, "decile", "left")
            .select("decile", "n_docs",
                    F.sum("n_docs").over(w).cast("long")
                    .alias("cum_docs"),
                    F.coalesce("n_new_terms", F.lit(0)).cast("long")
                    .alias("n_new_terms"))
            .withColumn("cum_vocab",
                        F.sum("n_new_terms").over(w).cast("long")))


# --- BM25 ranking (round 13) --------------------------------------------------

@register("t_bm25_topk", """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       FROM toks GROUP BY ALL),
dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
       FROM toks GROUP BY doc_id),
df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
tot AS (SELECT CAST(sum(dl) AS BIGINT) AS a_total,
               CAST(count(*) AS BIGINT) AS n_docs FROM dl),
q AS (SELECT DISTINCT term FROM tf WHERE doc_id = 0),
s AS (
  SELECT t.doc_id,
         CAST(sum(((1000000 // d.df) * (22 * tot.a_total * t.tf))
                  // (10 * tot.a_total * t.tf + 3 * tot.a_total
                      + 9 * tot.n_docs * l.dl)) AS BIGINT) AS bm25_score,
         CAST(count(*) AS BIGINT) AS n_match
  FROM tf t JOIN q USING (term) JOIN df d USING (term)
  JOIN dl l ON l.doc_id = t.doc_id CROSS JOIN tot
  WHERE t.doc_id <> 0
  GROUP BY t.doc_id
)
SELECT doc_id, bm25_score, n_match FROM s
ORDER BY bm25_score DESC, doc_id LIMIT 10
""")
def t_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 document ranking (Robertson-Sparck Jones; THE production
    lexical scorer — Lucene/Elasticsearch's default since 5.0) for
    query = document 0's term set, in ALL-INTEGER arithmetic so both
    engines hash identically: with k1 = 1.2 and b = 0.75, the
    per-term score tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl)) scaled by
    10*A*N/N (A = corpus token count, N = doc count, avgdl = A/N)
    becomes 22*A*tf / (10*A*tf + 3*A + 9*N*dl) — exact integers —
    floored after multiplying by the engine's exact-integer idf
    surrogate (1e6 DIV df, the hybrid-retrieval scorer's). Each
    term's contribution floors independently, so the sum is
    reduction-order-free. int64 headroom: idf <= 1e6 and
    22*A*tf <= 6.6e11 at A = 3e8 / tf = 100 -> products < 7e17.

    Scale shape (round-14 verdict #6 — unified on the postings
    store): tf comes from ann_queries._postings_store's term-hash-
    partitioned postings, read through a PartitionFilters prune on
    the query terms' bucket ids (|q| partitions, never the corpus —
    the same seek path a_hybrid_rrf_scalable's lexical side takes;
    pinned by tests/test_plan_shape.py), so the per-query explode +
    tf shuffle this function used to pay now amortizes into the
    one-time index build. df over the query's terms is exact from
    the pruned read (hash-of-term partitioning keeps every posting
    of a term in its partition). dl is DENORMALIZED into each posting
    at build time (impact-index style) so length normalization needs
    no doc-keyed join; only the 1-row corpus totals come from the
    store's slim doclen sidecar. The query's term set is one
    document's vocabulary (broadcast); df is broadcast (bounded by
    the query vocabulary); final top-10 is TakeOrderedAndProject —
    the whole scorer is one pruned scan plus one doc-keyed aggregate."""
    from .ann_queries import (_postings_store, postings_totals,
                              query_term_buckets)

    root = _postings_store(spark, sf_dir)
    post = spark.read.parquet(root + "/postings")
    qterms_df, qb = query_term_buckets(spark, sf_dir)
    # dl rides INSIDE each posting (denormalized at build, impact-
    # index style) so scoring needs no doc-keyed join; the doclen
    # sidecar only supplies the 1-row corpus totals
    qpost = (post.filter(F.col("b").isin(qb))
             .join(F.broadcast(qterms_df), "w")
             .withColumnRenamed("w", "term"))
    dfreq = qpost.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df"))
    # corpus totals come from the store's cached stats block (2
    # longs, same invalidation as the store) — literals in the plan,
    # not a per-query doclen scan
    a_total, n_docs = postings_totals(spark, sf_dir)
    # dfreq is bounded by the QUERY's vocabulary (one document's
    # distinct terms), not the corpus — broadcast it so the postings
    # side never shuffles on term
    scored = (qpost.filter(F.col("doc_id") != 0)
              .join(F.broadcast(dfreq), "term")
              .withColumn("a_total", F.lit(a_total).cast("long"))
              .withColumn("n_docs", F.lit(n_docs).cast("long")))
    per_term = F.expr(
        "((1000000 DIV df) * (22 * a_total * tf))"
        " DIV (10 * a_total * tf + 3 * a_total + 9 * n_docs * dl)")
    return (scored.groupBy("doc_id")
            .agg(F.sum(per_term).cast("long").alias("bm25_score"),
                 F.count(F.lit(1)).cast("long").alias("n_match"))
            .orderBy(F.desc("bm25_score"), "doc_id").limit(10))


# --- term burstiness (round 13) -----------------------------------------------

@register("t_term_burstiness", """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       FROM toks GROUP BY ALL),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
st AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df,
         CAST(sum(tf) AS BIGINT) AS sum_tf,
         CAST(sum(tf * tf) AS BIGINT) AS sum_tf2
  FROM tf GROUP BY term
),
b AS (
  SELECT term, df, sum_tf,
         CAST(n.n_docs * sum_tf2 - sum_tf * sum_tf AS BIGINT) AS d_num,
         CAST((1000000 * (n.n_docs * sum_tf2 - sum_tf * sum_tf))
              // (n.n_docs * sum_tf) AS BIGINT) AS burst_scaled
  FROM st CROSS JOIN n WHERE df >= 5
)
SELECT term, df, sum_tf, d_num, burst_scaled FROM b
ORDER BY burst_scaled DESC, term LIMIT 25
""")
def t_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term BURSTINESS profile (Church & Gale 1995; Katz's model): the
    variance-to-mean dispersion of a term's per-document counts over
    the WHOLE corpus (absent docs count as zero — which is why
    N*sum(tf^2) - sum(tf)^2 over the containing docs alone is the
    full-corpus variance numerator). A bursty term (topical: appears
    rarely but in clumps) scores high; a uniform function word scores
    ~its frequency. The ranking key is the exact integer
    1e6 * (N*sum_tf2 - sum_tf^2) DIV (N*sum_tf) — variance/mean
    scaled, floored identically in both engines; df >= 5 drops
    hapax noise; ties break on the term.

    Scale shape: the (doc, term) tf is the same map-side-combined
    explode every corpus query shares; the per-term moment aggregate
    (df, sum_tf, sum_tf2) is vocabulary-keyed and map-side
    combinable; the 1-row N broadcasts; top-25 is
    TakeOrderedAndProject. int64 headroom: N*sum_tf2 <= 6e10 * 1e3
    at web scale per shard -> the 1e6 scaling caps at ~6e16."""
    docs = _docs(spark, sf_dir)
    toks = docs.select("doc_id",
                       F.explode(F.split("text", " ")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf"))
    st = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum("tf").cast("long").alias("sum_tf"),
        F.sum(F.col("tf") * F.col("tf")).cast("long").alias("sum_tf2"))
    n = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    return (st.filter(F.col("df") >= 5)
            .crossJoin(F.broadcast(n))
            .select(
                "term", "df", "sum_tf",
                F.expr("n_docs * sum_tf2 - sum_tf * sum_tf")
                .cast("long").alias("d_num"),
                F.expr("(1000000 * (n_docs * sum_tf2 - sum_tf * sum_tf))"
                       " DIV (n_docs * sum_tf)")
                .cast("long").alias("burst_scaled"))
            .orderBy(F.desc("burst_scaled"), "term").limit(25))


# --- phrase search over a positional view (round 13) ---------------------------

@register("t_phrase_search", """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
phrase AS (
  SELECT t[1] || ' ' || t[2] AS p FROM toks WHERE doc_id = 0
),
grams AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(t)),
                               i -> t[i] || ' ' || t[i+1])) AS gram
  FROM toks WHERE len(t) >= 2
)
SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_occ
FROM grams g JOIN phrase ON g.gram = phrase.p
WHERE g.doc_id <> 0
GROUP BY g.doc_id
ORDER BY n_occ DESC, doc_id LIMIT 10
""")
def t_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact PHRASE search — consecutive-token match, the operator a
    positional inverted index exists to serve (Lucene's
    PhraseQuery): occurrences of the query phrase (document 0's
    first two tokens) per document, top-10 by count. Adjacency is
    resolved in-array (each doc's bigrams from one zip of the token
    array with its own tail), which IS the positional-postings
    intersection pos_b = pos_a + 1 evaluated document-locally —
    at index scale the same count comes from joining the two terms'
    positional postings lists on (doc, pos+1), partitioned exactly
    like a_hybrid_rrf_scalable's term-hash store.

    Scale shape: one projection builds each document's bigram list
    (no shuffle), the 1-row phrase broadcasts, the match is a
    map-side filter + doc-keyed partial count, and the top-10 is
    TakeOrderedAndProject. Nothing materializes the corpus-wide
    bigram space off the document rows."""
    docs = _docs(spark, sf_dir)
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    phrase = (toks.filter(F.col("doc_id") == 0)
              .select(F.concat(F.element_at("t", 1), F.lit(" "),
                               F.element_at("t", 2)).alias("p")))
    grams = (toks.filter(F.size("t") >= 2)
             .filter(F.col("doc_id") != 0)
             .select("doc_id", F.explode(F.expr(
                 "filter(transform(t, (x, i) -> CASE WHEN i < size(t)-1 "
                 "THEN x || ' ' || t[i+1] END), g -> g IS NOT NULL)"))
                 .alias("gram")))
    return (grams.join(F.broadcast(phrase),
                       grams["gram"] == F.col("p"))
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_occ"))
            .orderBy(F.desc("n_occ"), "doc_id").limit(10))


# --- RAKE keyphrase extraction (round 13) ---------------------------------------

@register("t_keyphrase_rake", """
WITH toks AS (
  SELECT doc_id,
         unnest(range(1, len(t) + 1)) AS pos,
         unnest(t) AS term
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
),
isl AS (
  SELECT doc_id, pos, term, term IN ('the', 'a') AS stop,
         sum(CASE WHEN term IN ('the', 'a') THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM toks
),
ph AS (
  SELECT doc_id, island,
         string_agg(term, ' ' ORDER BY pos) AS phrase,
         CAST(count(*) AS BIGINT) AS plen
  FROM isl WHERE NOT stop GROUP BY doc_id, island
  HAVING count(*) <= 8
),
pw AS (SELECT plen, unnest(string_split(phrase, ' ')) AS w FROM ph),
ws AS (SELECT w, CAST(count(*) AS BIGINT) AS freq,
              CAST(sum(plen) AS BIGINT) AS deg
       FROM pw GROUP BY w),
pd AS (SELECT phrase, CAST(count(*) AS BIGINT) AS n_occ
       FROM ph GROUP BY phrase),
pdw AS (SELECT phrase, n_occ, unnest(string_split(phrase, ' ')) AS w
        FROM pd),
sc AS (
  SELECT phrase, n_occ,
         CAST(sum((1000000 * ws.deg) // ws.freq) AS BIGINT)
           AS score_scaled
  FROM pdw JOIN ws USING (w) GROUP BY phrase, n_occ
)
SELECT phrase, n_occ, score_scaled FROM sc
ORDER BY score_scaled DESC, phrase LIMIT 15
""")
def t_keyphrase_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010 — Rapid Automatic
    Keyword Extraction, the unsupervised keyword baseline every
    document-tagging pipeline starts from): candidate phrases are
    maximal stopword-free token runs (stopwords here = the corpus'
    structural fillers 'the'/'a'; runs capped at 8 tokens), each
    word scores deg(w)/freq(w) over the candidate vocabulary
    (degree = summed length of phrases containing it — rewards words
    that travel in long collocations), and a phrase scores the sum
    over its member word instances. Scored in the engine's exact
    integer convention — (1e6 * deg) DIV freq per word instance,
    floors independent so the phrase sum is order-free — and ranked
    (score desc, phrase) for the top-15.

    Scale shape: the only window is the stopword-prefix-count island
    id, PARTITIONED BY doc (never global); phrase assembly is one
    (doc, island)-keyed sort_array/collect_list of a <=8-token run;
    word stats and phrase dedup are vocabulary-/phrase-keyed
    map-side-combinable aggregates; top-15 is
    TakeOrderedAndProject."""
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "term"))
    stop = F.col("term").isin("the", "a")
    w = Window.partitionBy("doc_id").orderBy("pos")
    isl = (toks.withColumn("island", F.sum(stop.cast("int")).over(w))
           .filter(~stop))
    # r14: eager cut — ph feeds BOTH the word-stats explode and the
    # phrase dedup, so the uncut plan ran the tokenize + island window
    # + collect_list assembly twice per action (guide §2.4). The
    # phrase frame is one row per stopword-free run — strictly smaller
    # than the token stream it derives from (production RAKE
    # materializes the candidate-phrase table for the same reason).
    ph = (isl.groupBy("doc_id", "island")
          .agg(F.concat_ws(" ", F.transform(
                   F.sort_array(F.collect_list(F.struct("pos", "term"))),
                   lambda s: s["term"])).alias("phrase"),
               F.count(F.lit(1)).cast("long").alias("plen"))
          .filter(F.col("plen") <= 8)
          .localCheckpoint(eager=True))
    pw = ph.select("plen", F.explode(F.split("phrase", " ")).alias("w"))
    ws_ = pw.groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("freq"),
        F.sum("plen").cast("long").alias("deg"))
    pd_ = ph.groupBy("phrase").agg(
        F.count(F.lit(1)).cast("long").alias("n_occ"))
    pdw = pd_.select("phrase", "n_occ",
                     F.explode(F.split("phrase", " ")).alias("w"))
    return (pdw.join(ws_, "w")
            .groupBy("phrase", "n_occ")
            .agg(F.sum(F.expr("(1000000 * deg) DIV freq")).cast("long")
                 .alias("score_scaled"))
            .orderBy(F.desc("score_scaled"), "phrase").limit(15))


@register("t_zipf_check", """
WITH cnt AS (
  SELECT unnest(string_split(text, ' ')) AS term FROM documents
),
freq AS (SELECT term, CAST(count(*) AS BIGINT) AS freq
         FROM cnt WHERE term <> '' GROUP BY term),
top AS (
  SELECT term, freq, CAST(row_number() OVER (
    ORDER BY freq DESC, term) AS BIGINT) AS rank
  FROM freq QUALIFY rank <= 50
),
m AS (SELECT max(freq) AS f1 FROM top)
SELECT rank, term, freq,
       CAST(rank * freq AS BIGINT) AS rank_freq,
       CAST(1000000 * freq // m.f1 AS BIGINT) AS ratio_ppm
FROM top CROSS JOIN m
""")
def t_zipf_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZIPF-LAW DIAGNOSTIC over the corpus unigram distribution —
    the top-50 terms with rank, frequency, the rank×freq product
    (constant under an exact Zipf exponent of 1: the classic
    eyeball check), and frequency as ppm of the rank-1 term. The
    corpus-health primitive behind tokenizer-budget and stopword
    decisions: a head that decays much slower than 1/rank means
    boilerplate contamination; much faster means over-deduplication.
    Log-free by design (the engine's no-cross-engine-libm rule): the
    product and the ppm ratio are exact BIGINT floor arithmetic —
    fitting the exponent is one driver-side regression over these 50
    exact points if a caller wants it.

    Scale shape: one map-side-combinable term count (the same
    vocabulary-keyed aggregate every corpus query pays), then a
    TakeOrderedAndProject top-50 — never a global sort — and a
    broadcast 1-row max. The rank window runs on the 50 surviving
    rows only."""
    docs = _docs(spark, sf_dir)
    toks = docs.select(F.explode(F.split("text", " ")).alias("term"))
    freq = (toks.filter(F.col("term") != "")
            .groupBy("term").agg(F.count(F.lit(1)).cast("long")
                                 .alias("freq")))
    top = freq.orderBy(F.desc("freq"), "term").limit(50)
    w = Window.orderBy(F.desc("freq"), "term")
    # r14: f1 as a window max over the 50-row top frame — the 1-row-agg
    # + crossJoin form re-ran the corpus tokenize + term count once per
    # consumer (guide §2.4): 2 corpus passes -> 1.
    top = (top.withColumn("rank", F.row_number().over(w).cast("long"))
           .withColumn("f1", F.max("freq").over(Window.partitionBy())))
    return (top
            .select("rank", "term", "freq",
                    (F.col("rank") * F.col("freq")).cast("long")
                    .alias("rank_freq"),
                    F.expr("1000000 * freq DIV f1").cast("long")
                    .alias("ratio_ppm")))


def _textrank_sql(iters: int = 3) -> str:
    """Unrolled exact-integer TextRank oracle (micro-unit ranks,
    floor division — the x_pagerank_trade discipline applied to the
    word co-occurrence graph)."""
    cte = ["""toks AS (SELECT string_split(text, ' ') AS t FROM documents)""",
           """allw AS (SELECT unnest(t) AS w FROM toks)""",
           """cnt AS (SELECT w, count(*) AS c FROM allw
  WHERE w <> '' GROUP BY w)""",
           """top AS (SELECT w FROM (
  SELECT w, row_number() OVER (ORDER BY c DESC, w) AS rn FROM cnt
) WHERE rn <= 100)""",
           """bi AS (SELECT unnest(list_transform(range(1, len(t)),
                             i -> t[i] || ' ' || t[i + 1])) AS bg
  FROM toks WHERE len(t) >= 2)""",
           """e0 AS (SELECT DISTINCT split_part(bg, ' ', 1) AS w1,
                 split_part(bg, ' ', 2) AS w2 FROM bi)""",
           """eok AS (SELECT w1, w2 FROM e0
  JOIN top ta ON ta.w = e0.w1 JOIN top tb ON tb.w = e0.w2
  WHERE w1 <> w2)""",
           """edges AS (SELECT w1 AS src, w2 AS dst FROM eok
  UNION SELECT w2, w1 FROM eok)""",
           """deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src)""",
           """r0 AS (SELECT DISTINCT src AS node,
  CAST(1000000 AS BIGINT) AS rank FROM edges)"""]
    for i in range(iters):
        cte.append(f"""c{i + 1} AS (
  SELECT e.dst, CAST(sum(r.rank // d.deg) AS BIGINT) AS contrib
  FROM edges e JOIN deg d ON d.src = e.src
  JOIN r{i} r ON r.node = e.src GROUP BY e.dst)""")
        cte.append(f"""r{i + 1} AS (
  SELECT n.node,
         CAST(150000 + (85 * coalesce(c.contrib, 0)) // 100 AS BIGINT)
           AS rank
  FROM r{i} n LEFT JOIN c{i + 1} c ON c.dst = n.node)""")
    return ("WITH " + ",\n".join(cte)
            + f"""
SELECT node AS term, rank AS rank_micro FROM r{iters}
ORDER BY rank DESC, term LIMIT 20""")


_TEXTRANK_ITER = 3


@register("t_textrank", _textrank_sql(_TEXTRANK_ITER))
def t_textrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEXTRANK keyword extraction (Mihalcea & Tarau 2004): PageRank
    over the word CO-OCCURRENCE graph — nodes are the corpus top-100
    terms, undirected edges link words ADJACENT anywhere in the
    corpus, and the stationary-importance score surfaces the terms
    the graph structure (not raw frequency) says are central. The
    graph-centrality twin of t_keyphrase_rake's degree heuristic.
    Ranks are exact BIGINT micro-units with floor division (the
    x_pagerank_trade discipline — Python ``//`` ≡ Spark ``div`` ≡
    DuckDB ``//`` on non-negatives), so no double accumulation can
    drift the top-20 cut cross-engine.

    Scale shape: deriving the graph is the distributed work — one
    vocabulary-keyed count, a TakeOrdered top-100, one pass of
    in-array adjacent-pair expansion (never a token self-join), two
    broadcast vocab gates, and a distinct that caps the edge set at
    100·99 directed rows. That BOUNDED graph (vocabulary-sized
    metadata, like the nation trade graph and the IVF centroids)
    lands driver-side once and the 3 iterations fold as plain int
    arithmetic — per-round joins would pay scheduler latency for
    microseconds of math; the iterative shape that scales with data
    lives in d_dup_clusters."""
    docs = _docs(spark, sf_dir)
    toks = docs.select(F.split("text", " ").alias("t"))
    cnt = (toks.select(F.explode("t").alias("w"))
           .filter(F.col("w") != "")
           .groupBy("w").agg(F.count(F.lit(1)).alias("c")))
    top = cnt.orderBy(F.desc("c"), "w").limit(100).select("w")
    adj = (toks.filter(F.size("t") >= 2)
           .select(F.explode(F.expr(
               "transform(sequence(0, size(t) - 2),"
               " i -> struct(t[i] AS w1, t[i + 1] AS w2))")).alias("p"))
           .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
           .filter(F.col("w1") != F.col("w2")))
    # broadcast vocab gates run BEFORE the distinct so the dedup
    # shuffle's key space is bounded at 100·99 — a raw-bigram distinct
    # would shuffle the corpus's full bigram vocabulary (the
    # filter/distinct order is value-equal; the oracle's e0 CTE keeps
    # the declarative order and DuckDB pushes the same way)
    eok = (adj.join(F.broadcast(top.withColumnRenamed("w", "w1")), "w1")
           .join(F.broadcast(top.withColumnRenamed("w", "w2")), "w2")
           .select("w1", "w2")
           .distinct())
    edges_df = graph.undirected(eok, "w1", "w2").distinct()
    # the vocab gate bounds the edge set at 100·99 directed rows by
    # construction; the guard ENFORCES it (verdict r13 #4) so a future
    # edit that widens the gate fails fast instead of collecting a
    # corpus-scale frame (bounded_collect caps the transfer itself)
    edge_rows = [(r.src, r.dst)
                 for r in bounded_collect(edges_df, 100 * 99,
                                          "t_textrank edge list")]
    nodes = sorted({s for s, _ in edge_rows})
    deg: dict[str, int] = {}
    for src, _dst in edge_rows:
        deg[src] = deg.get(src, 0) + 1
    rank = {n: 1_000_000 for n in nodes}
    for _ in range(_TEXTRANK_ITER):
        contrib = {n: 0 for n in nodes}
        for src, dst in edge_rows:
            contrib[dst] = contrib.get(dst, 0) + rank[src] // deg[src]
        rank = {n: 150_000 + (85 * contrib.get(n, 0)) // 100
                for n in nodes}
    rows = sorted(rank.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    return local_df(spark, rows, "term string, rank_micro long")


@register("t_hapax_ratio", """
WITH tc AS (
  SELECT source, unnest(string_split(text, ' ')) AS term
  FROM documents
),
c AS (
  SELECT source, term, CAST(count(*) AS BIGINT) AS c
  FROM tc WHERE term <> '' GROUP BY source, term
)
SELECT source,
       CAST(count(*) AS BIGINT) AS vocab,
       CAST(sum(c) AS BIGINT) AS tokens,
       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
       CAST(1000000 * sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)
            // count(*) AS BIGINT) AS hapax_ppm
FROM c GROUP BY source
""")
def t_hapax_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAPAX LEGOMENA ratio per source — the fraction of each feed's
    vocabulary that occurs exactly once, the classic lexical-richness
    / OCR-noise discriminant (a high hapax share means either genuine
    diversity or garbage tokens; either way the source needs a look
    before it trains a tokenizer). Exact integers throughout, the
    ratio in ppm floor arithmetic.

    Scale shape: one (source, term)-keyed map-side-combinable count
    (the per-source vocabulary plane), re-aggregated on the
    vocabulary-sized source key — the same two-level shape as every
    corpus rollup, no distinct over raw tokens."""
    docs = _docs(spark, sf_dir)
    tc = docs.select("source",
                     F.explode(F.split("text", " ")).alias("term"))
    c = (tc.filter(F.col("term") != "")
         .groupBy("source", "term")
         .agg(F.count(F.lit(1)).cast("long").alias("c")))
    return (c.groupBy("source")
            .agg(F.count(F.lit(1)).cast("long").alias("vocab"),
                 F.sum("c").cast("long").alias("tokens"),
                 F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
                 .cast("long").alias("hapax"))
            .select("source", "vocab", "tokens", "hapax",
                    F.expr("1000000 * hapax DIV vocab").cast("long")
                    .alias("hapax_ppm")))


@register("t_code_detect", """
WITH m AS (
  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
         CAST(length(text) - length(translate(text, '{};=()<>[]', ''))
              AS BIGINT) AS code_chars,
         CAST(length(text) - length(translate(text, '0123456789', ''))
              AS BIGINT) AS digit_chars
  FROM documents WHERE length(text) > 0
)
SELECT doc_id, n_chars, code_chars, digit_chars,
       CAST(1000000 * code_chars // n_chars AS BIGINT) AS code_ppm,
       CAST(1000000 * digit_chars // n_chars AS BIGINT) AS digit_ppm,
       CAST(CASE WHEN 1000000 * code_chars // n_chars >= 20000
                 THEN 1 ELSE 0 END AS BIGINT) AS is_code
FROM m
""")
def t_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CODE-vs-PROSE detection by syntax-character density — the
    cheap routing gate every mixed crawl needs before tokenizer and
    quality models diverge by modality (code wants different
    filtering, dedup granularity, and mixture weight than prose).
    Per doc: exact counts of code-syntax characters ({};=()<>[]) and
    digits via the length-minus-translate identity, densities in ppm
    floor arithmetic, and the ≥2% syntax-density flag. Deliberately
    heuristic (the reference gate in real pipelines before a learned
    classifier) and exactly reproducible — no float, no model.

    Scale shape: a pure per-row projection — no shuffle at all; the
    flag composes with p_token_budget_mix / p_temperature_mix as a
    mixture dimension."""
    docs = _docs(spark, sf_dir).filter(F.length("text") > 0)
    code = (F.length("text")
            - F.length(F.translate(F.col("text"), "{};=()<>[]", "")))
    digit = (F.length("text")
             - F.length(F.translate(F.col("text"), "0123456789", "")))
    m = docs.select("doc_id",
                    F.length("text").cast("long").alias("n_chars"),
                    code.cast("long").alias("code_chars"),
                    digit.cast("long").alias("digit_chars"))
    code_ppm = F.expr("1000000 * code_chars DIV n_chars")
    return m.select(
        "doc_id", "n_chars", "code_chars", "digit_chars",
        code_ppm.cast("long").alias("code_ppm"),
        F.expr("1000000 * digit_chars DIV n_chars").cast("long")
        .alias("digit_ppm"),
        F.when(code_ppm >= 20000, 1).otherwise(0).cast("long")
        .alias("is_code"))


@register("t_mattr_diversity", """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
w AS (
  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
         CASE WHEN len(t) <= 50 THEN [list_distinct(t)]
              ELSE list_transform(range(1, len(t) - 48),
                                  i -> list_distinct(t[i:i + 49]))
         END AS wins
  FROM toks WHERE len(t) >= 1
),
s AS (
  SELECT doc_id, n_tokens,
         CAST(len(wins) AS BIGINT) AS n_windows,
         CAST(list_sum(list_transform(wins, x -> len(x))) AS BIGINT)
           AS sum_distinct
  FROM w
)
SELECT doc_id, n_tokens, n_windows, sum_distinct,
       sum_distinct * 1e0
         / (n_windows * CASE WHEN n_tokens <= 50
                             THEN n_tokens ELSE 50 END) AS mattr
FROM s
""")
def t_mattr_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATTR lexical diversity (Covington & McFall 2010) — the
    moving-average type-token ratio over a 50-token sliding window,
    the length-INVARIANT diversity score (plain TTR decays with doc
    length by Heaps' law, so t_token_stats' uniq_ratio can't compare
    a tweet to a chapter; MATTR can — the repetition gate quality
    filters actually want). Per doc: Σ distinct-per-window and the
    window count as exact BIGINTs, the score one identical-shape
    float division; docs ≤ 50 tokens degrade to plain TTR (one
    whole-doc window) — documented edge, same in both engines.

    Scale shape: a pure per-row in-array computation — the window
    slide is list_transform over positions with an in-array distinct
    per slice (O(len·50) per doc, zero shuffle, zero join); the only
    data movement is the scan itself."""
    docs = _docs(spark, sf_dir)
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    toks = toks.filter(F.size("t") >= 1)
    wins = (F.when(F.size("t") <= 50,
                   F.array(F.array_distinct("t")))
            .otherwise(F.expr(
                "transform(sequence(0, size(t) - 50),"
                " i -> array_distinct(slice(t, i + 1, 50)))")))
    w = toks.select("doc_id",
                    F.size("t").cast("long").alias("n_tokens"),
                    wins.alias("wins"))
    s = w.select(
        "doc_id", "n_tokens",
        F.size("wins").cast("long").alias("n_windows"),
        F.expr("aggregate(transform(wins, x -> size(x)),"
               " 0L, (acc, x) -> acc + x)").cast("long")
        .alias("sum_distinct"))
    width = (F.when(F.col("n_tokens") <= 50, F.col("n_tokens"))
             .otherwise(F.lit(50)))
    return s.select("doc_id", "n_tokens", "n_windows", "sum_distinct",
                    (F.col("sum_distinct") * F.lit(1.0)
                     / (F.col("n_windows") * width)).alias("mattr"))
