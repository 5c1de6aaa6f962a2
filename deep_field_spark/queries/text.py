"""Text-analysis operators over the documents corpus.

Training-data pipeline surface: token counting, quality scoring,
language-ID heuristic, document fingerprinting. All pure column
expressions (whole-stage codegen, no Python) — on 100 TB these run at
scan speed, bounded by parquet IO.

The oracle SQL mirrors the exact arithmetic (shared md5 hash family,
index-ordered accumulation) so every query is hash-checkable.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import spread, table
from ..functions import texting
from ..operators import memo
from . import register

# DuckDB fragments mirroring functions/texting.py
TOKS_SQL = "list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '')"
STOPWORDS_SQL = "[" + ", ".join(f"'{w}'" for w in texting.EN_STOPWORDS) + "]"
BPE_RE = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"


@register(
    "text_token_stats",
    oracle=f"""
    WITH t AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents)
    SELECT doc_id,
           CAST(len(toks) AS INT)                AS n_tokens,
           CAST(len(list_distinct(toks)) AS INT) AS n_uniq,
           round(CAST(list_aggregate(list_transform(toks, x -> CAST(len(x) AS DOUBLE)),
                 'sum') AS DOUBLE) / len(toks), 4) AS avg_tok_len
    FROM t WHERE len(toks) > 0
    """,
    doc="Whitespace token counting + type/token stats per document.",
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    tok = texting.tokens(F.col("text"))
    d = docs.filter(texting.has_tokens("text")).select("doc_id", tok.alias("toks"))
    total_len = F.aggregate(
        F.col("toks"), F.lit(0.0), lambda acc, x: acc + F.length(x).cast("double")
    )
    return d.select(
        "doc_id",
        F.size("toks").cast("int").alias("n_tokens"),
        F.size(F.array_distinct("toks")).cast("int").alias("n_uniq"),
        F.round(total_len / F.size("toks"), 4).alias("avg_tok_len"),
    )


@register(
    "text_bpe_token_count",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{BPE_RE}')) AS INT) AS n_bpe_tokens
    FROM documents
    """,
    doc="BPE-ish regex token counting (letters / digits / punct runs) — "
        "regexp_extract_all, no tokenizer library needed.",
)
def text_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(BPE_RE), 0)).cast("int").alias("n_bpe_tokens"),
    )


@register(
    "text_quality_score",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, n_chars, {TOKS_SQL} AS toks,
             strlen(regexp_replace(text, '[^a-zA-Z ]', '', 'g')) AS n_alpha,
             strlen(text) AS n_raw
      FROM documents)
    SELECT doc_id,
           round(CAST(n_alpha AS DOUBLE) / n_raw, 4) AS alpha_ratio,
           round(CAST(len(list_filter(toks, x -> list_contains({STOPWORDS_SQL}, x)))
                      AS DOUBLE) / len(toks), 4)     AS stopword_ratio,
           CASE WHEN n_chars BETWEEN 100 AND 5000 THEN 1 ELSE 0 END AS len_ok
    FROM t WHERE len(toks) > 0
    """,
    doc="Quality scoring: alpha ratio, stopword ratio, length gate — the "
        "C4-style heuristic filters, as scan-speed expressions.",
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    tok = texting.tokens(F.col("text"))
    d = docs.filter(texting.has_tokens("text")).select(
        "doc_id",
        "n_chars",
        tok.alias("toks"),
        F.octet_length(F.regexp_replace("text", "[^a-zA-Z ]", "")).alias("n_alpha"),
        F.octet_length("text").alias("n_raw"),
    )
    stop_arr = F.array(*[F.lit(w) for w in texting.EN_STOPWORDS])
    n_stop = F.size(F.filter(F.col("toks"), lambda x: F.array_contains(stop_arr, x)))
    return d.select(
        "doc_id",
        F.round(F.col("n_alpha").cast("double") / F.col("n_raw"), 4).alias("alpha_ratio"),
        F.round(n_stop.cast("double") / F.size("toks"), 4).alias("stopword_ratio"),
        F.when(F.col("n_chars").between(100, 5000), 1).otherwise(0).alias("len_ok"),
    )


@register(
    "text_lang_id",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, {TOKS_SQL} AS toks FROM documents)
    SELECT doc_id, lang,
           CASE WHEN CAST(len(list_filter(toks, x -> list_contains({STOPWORDS_SQL}, x)))
                     AS DOUBLE) / len(toks) > 0.05
                THEN 'en' ELSE 'other' END AS pred_lang
    FROM t WHERE len(toks) > 0
    """,
    doc="Language-ID heuristic (stopword-density n-gram proxy); at scale "
        "a per-language stopword table broadcast-joins in, same shape.",
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    tok = texting.tokens(F.col("text"))
    d = docs.filter(texting.has_tokens("text")).select("doc_id", "lang", tok.alias("toks"))
    stop_arr = F.array(*[F.lit(w) for w in texting.EN_STOPWORDS])
    ratio = F.size(F.filter(F.col("toks"), lambda x: F.array_contains(stop_arr, x))).cast(
        "double"
    ) / F.size("toks")
    return d.select(
        "doc_id",
        "lang",
        F.when(ratio > 0.05, "en").otherwise("other").alias("pred_lang"),
    )


@register(
    "text_fingerprint",
    oracle=f"""
    WITH t AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
    s AS (SELECT doc_id,
                 CASE WHEN len(toks) >= 4
                      THEN list_transform(range(1, len(toks) - 2),
                           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])
                      ELSE CAST([] AS VARCHAR[]) END AS sh
          FROM t)
    SELECT doc_id,
           list_aggregate(list_transform(list_distinct(sh), x -> md5(x)), 'min')
             AS fingerprint,
           CAST(len(list_distinct(sh)) AS INT) AS n_shingles
    FROM s WHERE len(sh) > 0
    """,
    doc="Document fingerprint: min-hash over 4-gram shingles (winnowing "
        "lite) — one stable digest per doc for fast dup candidate keys.",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Set-based (explode → md5 → groupBy min/count): linear, partial-agg,
    # no per-row array transform re-evaluation. The shingles are distinct
    # (array_distinct) so count(*) == n_shingles.
    # Single-select explode over the full inline expression — exploding
    # a previously aliased array makes InferFiltersFromGenerate re-derive
    # (and re-evaluate) the whole tokenize+shingle pipeline in a pushed
    # filter; this shape keeps one evaluation (see operators/dedup.py).
    docs = spread(table(spark, sf_dir, "documents"))
    sh = F.array_distinct(texting.word_ngrams(texting.tokens(F.col("text")), 4))
    return (
        docs.select("doc_id", F.explode(sh).alias("s"))
        .groupBy("doc_id")
        .agg(
            F.min(F.md5("s")).alias("fingerprint"),
            F.count("*").cast("int").alias("n_shingles"),
        )
    )


CHUNK_W = 64       # tokens per chunk
CHUNK_STRIDE = 48  # stride between chunk starts (overlap = W - stride)


@register(
    "text_chunk_overlap",
    oracle=f"""
    WITH t AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
    s AS (SELECT doc_id, toks,
                 unnest(range(0, len(toks), {CHUNK_STRIDE})) AS start
          FROM t WHERE len(toks) > 0)
    SELECT doc_id,
           CAST(start // {CHUNK_STRIDE} AS INT) AS chunk_id,
           CAST(least({CHUNK_W}, len(toks) - start) AS INT) AS n_chunk_tokens,
           md5(array_to_string(list_slice(toks, start + 1, start + {CHUNK_W}), ' '))
             AS chunk_md5
    FROM s
    """,
    doc=f"Overlapping token-window chunking ({CHUNK_W}-token chunks, "
        f"stride {CHUNK_STRIDE}) — the standard pre-training / RAG "
        "segmentation step. sequence+explode+slice: a narrow per-row "
        "generator with NO shuffle; output rows ≈ input tokens / "
        "stride, so a 100 TB corpus chunks at scan speed and each "
        "chunk row stays small (the md5 stands in for shipping chunk "
        "text to the compare layer).",
)
def text_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(table(spark, sf_dir, "documents"))
    toks = texting.tokens(F.col("text"))
    # Single-select explode of the inline (toks, start) pair — same
    # one-evaluation discipline as text_fingerprint: aliasing the array
    # first would let InferFiltersFromGenerate re-derive the tokenize.
    d = docs.filter(texting.has_tokens("text")).select(
        "doc_id", toks.alias("toks")
    )
    starts = F.sequence(F.lit(0), F.size("toks") - 1, F.lit(CHUNK_STRIDE))
    e = d.select("doc_id", "toks", F.explode(starts).alias("start"))
    chunk = F.slice(F.col("toks"), F.col("start") + 1, CHUNK_W)
    return e.select(
        "doc_id",
        (F.col("start") / CHUNK_STRIDE).cast("int").alias("chunk_id"),
        F.least(F.lit(CHUNK_W), F.size("toks") - F.col("start"))
        .cast("int")
        .alias("n_chunk_tokens"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_md5"),
    )


VOCAB_TOP_K = 100


@register(
    "text_vocab_topk",
    oracle=f"""
    WITH t AS (SELECT doc_id, unnest(list_distinct({TOKS_SQL})) AS term
               FROM documents),
    df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM t GROUP BY 1),
    r AS (SELECT term, df,
                 row_number() OVER (ORDER BY df DESC, term) AS rk
          FROM df)
    SELECT term, df, CAST(rk AS INT) AS rk
    FROM r WHERE rk <= {VOCAB_TOP_K}
    """,
    doc=f"Corpus vocabulary: top-{VOCAB_TOP_K} terms by document "
        "frequency (distinct per doc, so stopword-stuffed docs don't "
        "dominate), fully-specified order (df desc, term asc). "
        "Explode-distinct → partial/final hash agg → global top-k via "
        "TakeOrderedAndProject: the reduction to #distinct-terms rows "
        "happens map-side, and the final sort never materializes the "
        "full term table on one node — the vocabulary-building shape "
        "that survives a 100 TB corpus.",
)
def text_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(table(spark, sf_dir, "documents"))
    t = docs.select(
        "doc_id", F.explode(F.array_distinct(texting.tokens(F.col("text")))).alias("term")
    )
    df = t.groupBy("term").agg(F.count("*").alias("df"))
    # orderBy+limit → TakeOrderedAndProject (per-partition heaps, merge
    # on the driver of K rows only); the rank window runs AFTER the
    # limit, over ≤K rows — never a global single-partition sort of the
    # full term table.
    top = df.orderBy(F.col("df").desc(), "term").limit(VOCAB_TOP_K)
    w = Window.orderBy(F.col("df").desc(), "term")
    return top.select(
        "term", "df", F.row_number().over(w).cast("int").alias("rk")
    )


TFIDF_TOP_K = 3


@register(
    "text_tfidf_topk",
    oracle=f"""
    WITH t AS (SELECT doc_id, unnest({TOKS_SQL}) AS term FROM documents),
    tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
           FROM t GROUP BY 1, 2),
    df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
    n AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n FROM tf),
    scored AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
                      tf.tf * ln(CAST(n.n AS DOUBLE) / df.df) AS tfidf
               FROM tf JOIN df USING (term) CROSS JOIN n),
    ranked AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                        ORDER BY tfidf DESC, term) AS rk
               FROM scored)
    SELECT doc_id, term, tf, df, round(tfidf, 6) AS tfidf,
           CAST(rk AS INT) AS rk
    FROM ranked WHERE rk <= {TFIDF_TOP_K}
    """,
    doc="TF-IDF: term frequency per (doc, term), document frequency "
        "per term, tfidf = tf * ln(N/df); top-3 terms per doc by a "
        "fully-specified order (score desc, term asc). Two hash aggs "
        "(both partial/final) + a term-keyed join where the df side "
        "is orders of magnitude smaller than the tf side and "
        "broadcast-eligible; the per-doc top-k is a bounded window. "
        "Integer tf/df into double ln keeps the score bit-identical "
        "across engines and partition orders.",
)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark import StorageLevel

    docs = spread(table(spark, sf_dir, "documents"))
    t = docs.select("doc_id", F.explode(texting.tokens(F.col("text"))).alias("term"))
    # tf feeds both the df aggregate and the scoring join, and Spark's
    # ReuseExchange does not dedupe the two subtrees — uncached, the
    # scan+explode+aggregation would run twice (verified in the
    # physical plan: 3 parquet scans, 0 ReusedExchange). Spill-safe
    # persist; first action materializes it once. Lifecycle: the cache
    # must outlive this builder (the caller runs the action), so the
    # driver entry clears the session cache before each query
    # (__spark_entry__._with_cache_reset) — accumulation across a
    # multi-query session is bounded to one query's working set.
    tf = t.groupBy("doc_id", "term").agg(F.count("*").alias("tf")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    # N = docs with >= 1 token — countDistinct(doc_id) over tf gives
    # the same value but costs a third full pass over the exploded
    # terms; a scan-only count over the docs table is shuffle-free
    n = docs.filter(texting.has_tokens("text")).agg(F.count(F.lit(1)).alias("n"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            (F.col("tf") * F.log(F.col("n").cast("double") / F.col("df"))).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TFIDF_TOP_K)
        .select("doc_id", "term", "tf", "df", F.round("tfidf", 6).alias("tfidf"),
                F.col("rk").cast("int").alias("rk"))
    )


@register(
    "text_unigram_logprob",
    oracle=f"""
    WITH t AS (SELECT doc_id, unnest({TOKS_SQL}) AS term FROM documents),
    tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
           FROM t GROUP BY 1, 2),
    df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
    n AS (SELECT CAST(sum(tf) AS BIGINT) AS n FROM tf),
    contrib AS (
      SELECT tf.doc_id, tf.tf,
             CAST(tf.tf * -ln(CAST(df.df AS DOUBLE) / n.n)
                  AS DECIMAL(28,9)) AS nll
      FROM tf JOIN df USING (term) CROSS JOIN n)
    SELECT doc_id,
           CAST(sum(tf) AS BIGINT) AS n_tokens,
           round(CAST(sum(nll) AS DOUBLE) / sum(tf), 4) AS avg_nll
    FROM contrib GROUP BY doc_id
    """,
    doc="Unigram log-probability quality score (the perplexity-proxy "
        "filter of CCNet-style pipelines): per-token average negative "
        "log document-frequency probability — low avg_nll = generic "
        "high-frequency text, high = rare-token/noisy text. Same "
        "two-agg + broadcast-df join shape as TF-IDF; the per-term "
        "contributions are cast to DECIMAL(28,9) before the per-doc "
        "sum, so the result is independent of partial-agg order (a "
        "double sum would flip low bits under re-partitioning).",
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark import StorageLevel

    docs = spread(table(spark, sf_dir, "documents"))
    t = docs.select("doc_id", F.explode(texting.tokens(F.col("text"))).alias("term"))
    # tf had THREE consumers (df agg, corpus-size sum, scoring join)
    # and ReuseExchange does not dedupe them — the explode+agg ran
    # three times. Persist tf (spill-safe), and fold the corpus total
    # into the vocab-level aggregate so n derives from the tiny
    # df_stats table instead of a third tf pass.
    tf = t.groupBy("doc_id", "term").agg(F.count("*").alias("tf")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    df_stats = tf.groupBy("term").agg(
        F.count("*").alias("df"), F.sum("tf").alias("term_tot")
    ).persist(StorageLevel.MEMORY_AND_DISK)  # vocab-sized
    n = df_stats.agg(F.sum("term_tot").alias("n"))
    contrib = (
        tf.join(df_stats.select("term", "df"), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "tf",
            (
                F.col("tf") * -F.log(F.col("df").cast("double") / F.col("n"))
            ).cast("decimal(28,9)").alias("nll"),
        )
    )
    return contrib.groupBy("doc_id").agg(
        F.sum("tf").alias("n_tokens"),
        F.round(F.sum("nll").cast("double") / F.sum("tf"), 4).alias("avg_nll"),
    )


@register(
    "text_token_entropy",
    oracle=f"""
    WITH t AS (SELECT doc_id, unnest({TOKS_SQL}) AS term FROM documents),
    tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS c
           FROM t GROUP BY 1, 2),
    per AS (SELECT doc_id,
                   CAST(sum(c) AS BIGINT) AS n_tokens,
                   CAST(count(*) AS BIGINT) AS n_types,
                   CAST(sum(CAST(c * ln(CAST(c AS DOUBLE)) AS DECIMAL(28,9)))
                        AS DOUBLE) AS sum_clnc
            FROM tf GROUP BY 1)
    SELECT doc_id, n_tokens, n_types,
           round((ln(CAST(n_tokens AS DOUBLE)) - sum_clnc / n_tokens)
                 / ln(2.0), 4) AS entropy_bits,
           round(CAST(n_types AS DOUBLE) / n_tokens, 4) AS ttr
    FROM per
    """,
    doc="Per-document unigram Shannon entropy (bits) and type/token "
        "ratio — the diversity complement of the repetition and "
        "unigram-logprob quality gates (low entropy = repetitive or "
        "template text). H = log2(n) - (Σ c·ln c)/(n·ln 2) needs only "
        "the per-(doc,term) counts: one explode + one partial/final "
        "hash agg, with the c·ln(c) contributions cast to "
        "DECIMAL(28,9) before the per-doc sum so the result is "
        "independent of partial-agg order, same discipline as "
        "text_unigram_logprob.",
)
def text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(table(spark, sf_dir, "documents"))
    t = docs.select("doc_id", F.explode(texting.tokens(F.col("text"))).alias("term"))
    tf = t.groupBy("doc_id", "term").agg(F.count("*").alias("c"))
    per = tf.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count("*").alias("n_types"),
        F.sum(
            (F.col("c") * F.log(F.col("c").cast("double"))).cast("decimal(28,9)")
        ).cast("double").alias("sum_clnc"),
    )
    return per.select(
        "doc_id",
        "n_tokens",
        "n_types",
        F.round(
            (F.log(F.col("n_tokens").cast("double")) - F.col("sum_clnc") / F.col("n_tokens"))
            / F.lit(math.log(2.0)),
            4,
        ).alias("entropy_bits"),
        F.round(F.col("n_types").cast("double") / F.col("n_tokens"), 4).alias("ttr"),
    )


@register(
    "text_bigram_logprob",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
    uni AS (SELECT unnest(toks) AS w FROM tk),
    uc AS (SELECT w, CAST(count(*) AS BIGINT) AS cw FROM uni GROUP BY 1),
    v AS (SELECT CAST(count(*) AS BIGINT) AS vocab FROM uc),
    dbg AS (SELECT doc_id,
                   unnest(list_transform(range(1, len(toks)),
                          i -> toks[i] || ' ' || toks[i+1])) AS bg
            FROM tk WHERE len(toks) >= 2),
    dbc AS (SELECT doc_id, bg, CAST(count(*) AS BIGINT) AS n
            FROM dbg GROUP BY 1, 2),
    cbc AS (SELECT bg, CAST(sum(n) AS BIGINT) AS cbg FROM dbc GROUP BY 1),
    contrib AS (
      SELECT d.doc_id, d.n,
             CAST(d.n * -ln((CAST(c.cbg AS DOUBLE) + 1)
                            / (u.cw + v.vocab)) AS DECIMAL(28,9)) AS nll
      FROM dbc d
      JOIN cbc c USING (bg)
      JOIN uc u ON u.w = string_split(d.bg, ' ')[1]
      CROSS JOIN v)
    SELECT doc_id,
           CAST(sum(n) AS BIGINT) AS n_bigrams,
           round(CAST(sum(nll) AS DOUBLE) / sum(n), 4) AS avg_nll
    FROM contrib GROUP BY 1
    """,
    doc="Bigram language-model quality score (the KenLM-style filter "
        "step of CCNet-class pipelines, one order up from "
        "text_unigram_logprob): per-doc average -ln P(w2|w1) with "
        "add-one smoothing, P = (c(w1 w2)+1)/(c(w1)+|V|), trained on "
        "the corpus itself. Shape at 100 TB: doc-bigram counts explode "
        "linearly and partial-aggregate; the corpus bigram and unigram "
        "count tables are vocabulary-bounded join sides; |V| rides a "
        "1-row broadcast. Contributions are decimal-cast before the "
        "per-doc sum (partial-agg-order independent, house float "
        "discipline).",
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark import StorageLevel

    docs = spread(table(spark, sf_dir, "documents"))
    toks = texting.tokens(F.col("text"))
    # tk feeds BOTH the unigram counts and the doc-bigram counts — one
    # tokenize pass over the corpus instead of two (the
    # minhash_lsh_pairs persist lesson; lifecycle as uc/dbc below)
    tk = docs.select("doc_id", toks.alias("toks")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    uc = (
        tk.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("cw"))
        .persist(StorageLevel.MEMORY_AND_DISK)  # vocab-sized
    )
    v = uc.agg(F.count("*").alias("vocab"))
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size("toks") - 1),
        lambda i: F.concat(
            F.element_at("toks", i), F.lit(" "), F.element_at("toks", i + 1)
        ),
    )
    dbc = (
        tk.filter(F.size("toks") >= 2)
        .select("doc_id", F.explode(bigrams).alias("bg"))
        .groupBy("doc_id", "bg")
        .agg(F.count("*").alias("n"))
        .persist(StorageLevel.MEMORY_AND_DISK)  # feeds cbc AND contrib
    )
    cbc = dbc.groupBy("bg").agg(F.sum("n").alias("cbg"))
    contrib = (
        dbc.join(cbc, "bg")
        .join(uc, F.split(F.col("bg"), " ").getItem(0) == F.col("w"))
        .crossJoin(F.broadcast(v))
        .select(
            "doc_id",
            "n",
            (
                F.col("n")
                * -F.log(
                    (F.col("cbg").cast("double") + 1)
                    / (F.col("cw") + F.col("vocab"))
                )
            ).cast("decimal(28,9)").alias("nll"),
        )
    )
    return contrib.groupBy("doc_id").agg(
        F.sum("n").alias("n_bigrams"),
        F.round(F.sum("nll").cast("double") / F.sum("n"), 4).alias("avg_nll"),
    )


# --- heavy hitters (2-pass Misra-Gries) ------------------------------

HH_CAPACITY = 16  # report every term with count * HH_CAPACITY > N

# The synthetic vocabulary is ~31 near-uniform terms — no term owns
# more than ~1/28 of the stream, so NOTHING is an N/16 heavy hitter
# organically. The harness plants deterministic skew (same contract as
# pii_redact / dedup_semantic: the planting is replayed verbatim by
# the oracle; the detector is the operator under test): every doc
# contributes 4 copies of a hot term, every even doc 2 copies of a
# warm decoy, every doc 1 cool decoy. Only the hot term crosses N/16;
# the decoys and the organic vocabulary must be pruned — and the MG
# compression path genuinely runs, since vocab+plants > HH_CAPACITY.
HH_PLANT_HOT, HH_PLANT_WARM, HH_PLANT_COOL = "aaahot", "bbbwarm", "ccccool"


def _mg_candidates(it):
    """Per-partition mergeable Misra-Gries over the token stream:
    per-batch exact counts (vectorized value_counts) merged into one
    counter, compressed back to < HH_CAPACITY entries by subtracting
    the capacity-th largest weight (Agarwal et al. mergeable
    summaries). Survivors are a SUPERSET of every term whose
    partition count exceeds n_partition / HH_CAPACITY — the pigeonhole
    then lifts that to the global threshold across partitions."""
    import pandas as pd

    counts: dict[str, int] = {}
    for pdf in it:
        for term, c in pdf["term"].value_counts().items():
            counts[term] = counts.get(term, 0) + int(c)
        if len(counts) >= HH_CAPACITY:
            kth = sorted(counts.values(), reverse=True)[HH_CAPACITY - 1]
            counts = {t: c - kth for t, c in counts.items() if c > kth}
    yield pd.DataFrame({"term": list(counts.keys())})


@register(
    "text_heavy_hitters",
    oracle=f"""
    WITH tok AS (
      SELECT unnest(list_concat(list_concat(list_concat(
               {TOKS_SQL},
               ['{HH_PLANT_HOT}', '{HH_PLANT_HOT}',
                '{HH_PLANT_HOT}', '{HH_PLANT_HOT}']),
               CASE WHEN doc_id % 2 = 0
                    THEN ['{HH_PLANT_WARM}', '{HH_PLANT_WARM}']
                    ELSE CAST([] AS VARCHAR[]) END),
               ['{HH_PLANT_COOL}'])) AS term
      FROM documents),
    c AS (SELECT term, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY 1),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM tok)
    SELECT term, n, total
    FROM c, tot WHERE n * {HH_CAPACITY} > total
    """,
    doc="Corpus heavy hitters via 2-pass distributed Misra-Gries: "
        "pass 1 runs a mergeable MG sketch per partition (mapInPandas, "
        "vectorized per-batch value_counts merged + compressed) whose "
        "survivors provably include every term with global count "
        f"> N/{HH_CAPACITY} (pigeonhole over partitions); pass 2 "
        "exact-counts ONLY the broadcast candidate set and filters on "
        "the integer threshold n·k > N. The point at 100 TB: the full "
        "groupBy over the long-tail vocabulary never happens — the "
        "shuffle carries candidate terms only — yet the result is "
        "EXACT, which is why the oracle is plain count SQL with no "
        "sketch replication (planted-skew harness documented above). "
        "The sketch pass is the one deliberate Python stage "
        "(Arrow-batched, value_counts-vectorized).",
)
def text_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(table(spark, sf_dir, "documents"))
    hot = F.array(*[F.lit(HH_PLANT_HOT)] * 4)
    warm = F.when(
        F.col("doc_id") % 2 == 0,
        F.array(F.lit(HH_PLANT_WARM), F.lit(HH_PLANT_WARM)),
    ).otherwise(F.array().cast("array<string>"))
    cool = F.array(F.lit(HH_PLANT_COOL))
    stream = F.concat(texting.tokens(F.col("text")), hot, warm, cool)
    tok = docs.select(F.explode(stream).alias("term"))
    cand = tok.mapInPandas(_mg_candidates, "term string").distinct()
    total = tok.agg(F.count("*").alias("total"))
    counted = (
        tok.join(F.broadcast(cand), "term")
        .groupBy("term")
        .agg(F.count("*").alias("n"))
    )
    return (
        counted.crossJoin(F.broadcast(total))
        .filter(F.col("n") * HH_CAPACITY > F.col("total"))
        .select("term", "n", "total")
    )


# --- Zipf profile ----------------------------------------------------

ZIPF_TOP_K = 100  # fit over the K most frequent terms


@register(
    "corpus_zipf_profile",
    oracle=f"""
    WITH tok AS (SELECT unnest({TOKS_SQL}) AS term FROM documents),
    c AS (SELECT term, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY 1),
    top AS (SELECT term, n FROM c ORDER BY n DESC, term LIMIT {ZIPF_TOP_K}),
    r AS (SELECT n, row_number() OVER (ORDER BY n DESC, term) AS rk
          FROM top),
    xy AS (SELECT CAST(ln(rk) AS DECIMAL(28,9)) AS x,
                  CAST(ln(n) AS DECIMAL(28,9)) AS y,
                  CAST(ln(rk) * ln(n) AS DECIMAL(28,9)) AS xy,
                  CAST(ln(rk) * ln(rk) AS DECIMAL(28,9)) AS xx
           FROM r),
    s AS (SELECT CAST(count(*) AS BIGINT) AS k,
                 CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
                 CAST(sum(xy) AS DOUBLE) AS sxy,
                 CAST(sum(xx) AS DOUBLE) AS sxx
          FROM xy)
    SELECT CAST(k AS INT) AS n_terms,
           round((k * sxy - sx * sy) / (k * sxx - sx * sx), 6) AS zipf_slope
    FROM s
    """,
    doc="Corpus Zipf profile: least-squares slope of ln(frequency) over "
        f"ln(rank) across the top {ZIPF_TOP_K} terms — the standard "
        "corpus-health diagnostic (natural text ≈ -1; this synthetic "
        "near-uniform corpus ≈ 0, which IS the diagnostic working). "
        "Term counts are a partial/final hash agg; the top-K rides "
        "TakeOrderedAndProject, so the rank window input is ≤ K rows "
        "by construction (same bounded-window exception as "
        "text_vocab_topk); the regression sums are DECIMAL(28,9)-cast "
        "per term so partial-agg order cannot move a bit, and the "
        "closed-form slope is computed from those exact sums — fully "
        "replayed by the oracle.",
)
def corpus_zipf_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(table(spark, sf_dir, "documents"))
    tok = docs.select(F.explode(texting.tokens(F.col("text"))).alias("term"))
    c = tok.groupBy("term").agg(F.count("*").alias("n"))
    top = c.orderBy(F.desc("n"), F.asc("term")).limit(ZIPF_TOP_K)
    w = Window.orderBy(F.desc("n"), F.asc("term"))
    r = top.select("n", F.row_number().over(w).alias("rk"))
    x = F.log(F.col("rk").cast("double"))
    y = F.log(F.col("n").cast("double"))
    xy = r.select(
        x.cast("decimal(28,9)").alias("x"),
        y.cast("decimal(28,9)").alias("y"),
        (x * y).cast("decimal(28,9)").alias("xy"),
        (x * x).cast("decimal(28,9)").alias("xx"),
    )
    s = xy.agg(
        F.count("*").alias("k"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum("xy").cast("double").alias("sxy"),
        F.sum("xx").cast("double").alias("sxx"),
    )
    k = F.col("k")
    return s.select(
        k.cast("int").alias("n_terms"),
        F.round(
            (k * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (k * F.col("sxx") - F.col("sx") * F.col("sx")),
            6,
        ).alias("zipf_slope"),
    )


# --- BM25 retrieval ---------------------------------------------------

# k1/b chosen from the standard Okapi range with exactly-representable
# binary fractions (1.5, 0.75) so every derived constant (k1+1 = 2.5,
# 1-b = 0.25) converts decimal-literal -> double identically in Spark
# and DuckDB; a k1 of 1.2 would make the oracle hash depend on whether
# the engine folds 1.2+1.0 before or after the double conversion.
BM25_K1 = 1.5
BM25_B = 0.75
BM25_TOPK = 10
BM25_QUERIES = [
    (1, ("spark", "join", "hash")),
    (2, ("window", "stream", "batch")),
    (3, ("sort", "merge", "scan")),
]

_BM25_VALUES = ", ".join(
    f"({qid}, '{t}')" for qid, terms in BM25_QUERIES for t in terms
)


@register(
    "text_bm25_search",
    oracle=f"""
    WITH q(qid, term) AS (VALUES {_BM25_VALUES}),
    d AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
    nz AS (SELECT doc_id, toks FROM d WHERE len(toks) > 0),
    dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM nz),
    tx AS (SELECT doc_id, unnest(toks) AS term FROM nz),
    tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
           FROM tx GROUP BY 1, 2),
    st AS (SELECT CAST(count(*) AS BIGINT) AS nd,
                  CAST(sum(dl) AS BIGINT) AS sdl FROM dl),
    qt AS (SELECT DISTINCT term FROM q),
    dfx AS (SELECT t.term, CAST(count(*) AS BIGINT) AS df
            FROM tf t JOIN qt USING (term) GROUP BY 1),
    sc AS (SELECT q.qid, t.doc_id,
                  CAST(ln((CAST(s.nd - f.df AS DOUBLE) + 0.5)
                          / (CAST(f.df AS DOUBLE) + 0.5) + 1.0)
                       * ((CAST(t.tf AS DOUBLE) * {BM25_K1 + 1.0})
                          / (CAST(t.tf AS DOUBLE)
                             + {BM25_K1} * ({1.0 - BM25_B} + {BM25_B}
                               * (CAST(l.dl AS DOUBLE)
                                  / (CAST(s.sdl AS DOUBLE) / s.nd)))))
                       AS DECIMAL(28,9)) AS c
           FROM tf t JOIN q USING (term) JOIN dfx f USING (term)
                JOIN dl l USING (doc_id), st s),
    agg AS (SELECT qid, doc_id, sum(c) AS score_dec FROM sc GROUP BY 1, 2),
    rk AS (SELECT qid, doc_id, score_dec,
                  CAST(row_number() OVER (PARTITION BY qid
                       ORDER BY score_dec DESC, doc_id) AS INT) AS rk
           FROM agg)
    SELECT qid, rk, doc_id, round(CAST(score_dec AS DOUBLE), 6) AS score
    FROM rk WHERE rk <= {BM25_TOPK}
    """,
    doc="Okapi BM25 top-k retrieval over an inverted index — the "
        "classic IR scorer, Spark-shaped: the postings list is the "
        "(doc, term, tf) table SEMI-JOINED to the broadcast query-term "
        "set before anything wide happens, so the candidate set is "
        "docs-containing-a-query-term, never the corpus; df/idf are "
        "computed on that tiny slice and broadcast back; per-(query, "
        "doc) scores sum DECIMAL(28,9)-cast contributions so "
        "partial-agg order cannot move a bit, and the final top-k per "
        "query is the sharded two-stage rank (no query's full "
        "candidate set streams through one task). All BM25 constants "
        "are binary-exact fractions so the oracle replays the double "
        "arithmetic bit-for-bit.",
)
def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.topk import top_k_per_group_sharded

    docs = spread(table(spark, sf_dir, "documents"))
    qterms = spark.createDataFrame(
        [(qid, t) for qid, terms in BM25_QUERIES for t in terms],
        "qid int, term string",
    )
    from pyspark import StorageLevel

    d = docs.filter(texting.has_tokens("text")).select(
        "doc_id", texting.tokens(F.col("text")).alias("toks")
    )
    # persist the NARROW per-doc length table (16 B/row), not the toks
    # arrays: dl feeds the corpus stats broadcast AND the per-posting
    # score join, and without the cache each consumer re-tokenizes the
    # corpus (3 tokenize passes -> 2; the st broadcast is built before
    # the main job, so it populates the cache the score join reads)
    dl = d.select("doc_id", F.size("toks").cast("bigint").alias("dl")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # the term restriction goes BELOW the tf aggregation: only tokens
    # matching a query term survive the explode, so the (doc, term)
    # shuffle carries the postings of |Q| terms, never the corpus
    # vocabulary (measured 3.7 s -> 2.1 s at sf0.1; at 100 TB it is
    # the difference between a query and a full-corpus job)
    qterm_list = sorted({t for _, terms in BM25_QUERIES for t in terms})
    tf = (
        d.select("doc_id", F.explode("toks").alias("term"))
        .filter(F.col("term").isin(qterm_list))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    st = dl.agg(
        F.count("*").alias("nd"), F.sum("dl").alias("sdl")
    )
    post = tf.join(F.broadcast(qterms), "term")
    dfx = post.select("term", "doc_id").distinct().groupBy("term").agg(
        F.count("*").alias("df")
    )
    avgdl = F.col("sdl").cast("double") / F.col("nd")
    idf = F.log(
        ((F.col("nd") - F.col("df")).cast("double") + F.lit(0.5))
        / (F.col("df").cast("double") + F.lit(0.5))
        + F.lit(1.0)
    )
    tfd = F.col("tf").cast("double")
    contrib = idf * (
        (tfd * F.lit(BM25_K1 + 1.0))
        / (
            tfd
            + F.lit(BM25_K1)
            * (
                F.lit(1.0 - BM25_B)
                + F.lit(BM25_B) * (F.col("dl").cast("double") / avgdl)
            )
        )
    )
    sc = (
        post.join(F.broadcast(dfx), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(st))
        .select("qid", "doc_id", contrib.cast("decimal(28,9)").alias("c"))
    )
    agg = sc.groupBy("qid", "doc_id").agg(F.sum("c").alias("score_dec"))
    ranked = top_k_per_group_sharded(
        agg,
        ["qid"],
        [F.desc("score_dec"), F.asc("doc_id")],
        BM25_TOPK,
        shard_of="doc_id",
        rank_col="rk",
    )
    return ranked.select(
        "qid",
        F.col("rk").cast("int").alias("rk"),
        "doc_id",
        F.round(F.col("score_dec").cast("double"), 6).alias("score"),
    )



# --- BPE tokenizer training + application ----------------------------

BPE_MERGES = 3  # fixed merge count so the oracle replays the loop

# Train and apply share ONE implementation of the merge-learning round
# (Spark side) and ONE CTE builder (oracle side): the apply query's
# "same winners, hash-identical" contract depends on the two paths
# never diverging, so neither is allowed its own copy of the loop.


def _bpe_recode(col, pair=None):
    """Literal recode of the winning pair inside a padded token string
    (merged tokens joined with a \x01 marker, which cannot occur in
    whitespace tokens)."""
    pair = F.col("pair") if pair is None else pair
    return F.replace(
        col,
        F.concat(F.lit(" "), pair, F.lit(" ")),
        F.concat(
            F.lit(" "),
            F.replace(pair, F.lit(" "), F.lit("\x01")),
            F.lit(" "),
        ),
    )


def _bpe_rounds(s):
    """Generator of (winner, recoded_s) per merge round over a frame
    with a single padded-string column ``s``. The winner is the
    (pair, n) row with the max count, lexicographic tie-break; both
    the winner and the recoded corpus materialize with SEVERED lineage
    (iterate.py loop discipline — they each feed two consumers, and
    without the sever round N's plan nests rounds 1..N-1 as recode +
    broadcast subtrees that the driver re-analyzes per transformation
    and the final action re-optimizes wholesale: measured 4.9 s → 3.3 s
    warm at sf0.1 for the 3-round trainer; real BPE trainers
    materialize the recoded corpus per merge batch anyway)."""
    from ..operators.iterate import iter_checkpoint

    for _ in range(BPE_MERGES):
        s = iter_checkpoint(s)
        w = F.split(F.trim("s"), " ")
        pairs = s.select(
            F.explode(
                F.when(
                    F.size(w) >= 2,
                    F.transform(
                        F.sequence(F.lit(1), F.size(w) - 1),
                        lambda j: F.concat(
                            F.element_at(w, j), F.lit(" "), F.element_at(w, j + 1)
                        ),
                    ),
                )
            ).alias("pair")
        )
        m = iter_checkpoint(
            pairs.groupBy("pair").agg(F.count("*").alias("n"))
            .orderBy(F.desc("n"), F.asc("pair")).limit(1)
        )
        s = s.crossJoin(F.broadcast(m)).select(_bpe_recode(F.col("s")).alias("s"))
        yield m, s


def _bpe_corpus_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(table(spark, sf_dir, "documents"))
    return docs.filter(texting.has_tokens("text")).select(
        "doc_id",
        F.concat(
            F.lit(" "), F.array_join(texting.tokens(F.col("text")), " "), F.lit(" ")
        ).alias("s"),
    )


def _bpe_merges(spark: SparkSession, sf_dir: str) -> list:
    # memoized: text_bpe_train and text_bpe_apply learn the same merges
    def build() -> list:
        s = _bpe_corpus_strings(spark, sf_dir).select("s")
        return [m for m, _s in _bpe_rounds(s)]

    return memo.get(spark, ("bpe_merges", sf_dir), build)


def _bpe_round_sql(i: int) -> str:
    """One DuckDB merge round: pair counts over d{i-1} → winner m{i}
    → corpus recode d{i}. Shared verbatim by both oracles."""
    return f"""t{i} AS (SELECT string_split(trim(s), ' ') AS w FROM d{i - 1}),
    p{i} AS (SELECT unnest(list_transform(range(1, len(w)),
                    j -> w[j] || ' ' || w[j+1])) AS pair
             FROM t{i} WHERE len(w) >= 2),
    c{i} AS (SELECT pair, CAST(count(*) AS BIGINT) AS n
             FROM p{i} GROUP BY 1),
    m{i} AS (SELECT pair, n FROM c{i} ORDER BY n DESC, pair LIMIT 1),
    d{i} AS (SELECT replace(s, ' ' || m{i}.pair || ' ',
                    ' ' || replace(m{i}.pair, ' ', chr(1)) || ' ') AS s
             FROM d{i - 1}, m{i})"""


_BPE_RAW_CTE = (
    f"raw AS (SELECT doc_id, ' ' || array_to_string({TOKS_SQL}, ' ') || ' ' AS s"
    "        FROM documents WHERE regexp_matches(text, '\\S'))"
)


def _bpe_oracle() -> str:
    parts = [_BPE_RAW_CTE, "d0 AS (SELECT s FROM raw)"]
    parts += [_bpe_round_sql(i) for i in range(1, BPE_MERGES + 1)]
    union = "\n    UNION ALL ".join(
        f"SELECT {i} AS merge_rank, pair, n FROM m{i}"
        for i in range(1, BPE_MERGES + 1)
    )
    return "WITH " + ",\n    ".join(parts) + "\n    " + union


def _bpe_apply_oracle() -> str:
    parts = [_BPE_RAW_CTE, "d0 AS (SELECT s FROM raw)"]
    for i in range(1, BPE_MERGES + 1):
        parts.append(_bpe_round_sql(i))
        src = "raw" if i == 1 else f"a{i - 1}"
        parts.append(
            f"""a{i} AS (SELECT doc_id, replace(s, ' ' || m{i}.pair || ' ',
                    ' ' || replace(m{i}.pair, ' ', chr(1)) || ' ') AS s
             FROM {src}, m{i})"""
        )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT r.doc_id,
           CAST(len(string_split(trim(r.s), ' ')) AS BIGINT) AS n_tokens_raw,
           CAST(len(string_split(trim(a.s), ' ')) AS BIGINT) AS n_tokens_bpe,
           round(CAST(len(string_split(trim(a.s), ' ')) AS DOUBLE)
                 / len(string_split(trim(r.s), ' ')), 6) AS compression
    FROM raw r JOIN a{BPE_MERGES} a USING (doc_id)"""
    )


@register(
    "text_bpe_train",
    oracle=_bpe_oracle(),
    doc=f"Distributed BPE tokenizer training — the first {BPE_MERGES} "
        "merge rules learned from the corpus, the data side of "
        "tokenizer construction (the merge table IS the tokenizer). "
        "Each round is: adjacent-pair partial/final count agg → "
        "1-row TakeOrdered top merge (max count, lexicographic "
        "tie-break) broadcast back → literal-replace of the winning "
        "pair (merged tokens joined with a \\x01 marker that cannot "
        "occur in whitespace tokens). Every stage is scan-speed "
        "column work + one tiny agg per round; production training "
        "batches non-overlapping merges per round to cut iterations "
        "— same plan shape, fewer passes. The oracle unrolls the "
        "identical loop in DuckDB CTEs, so the learned rules are "
        "hash-checked, not just plausible.",
)
def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    merges = [
        m.select(F.lit(i).alias("merge_rank"), "pair", "n")
        for i, m in enumerate(_bpe_merges(spark, sf_dir), start=1)
    ]
    out = merges[0]
    for m in merges[1:]:
        out = out.unionByName(m)
    return out


@register(
    "text_bpe_apply",
    oracle=_bpe_apply_oracle(),
    doc="Tokenizer application — the other half of text_bpe_train: "
        "recode every document with the learned merge table and "
        "report per-doc token counts before/after plus the "
        "compression ratio (the number a tokenizer exists to "
        "improve). The merge winners come from the SAME _bpe_rounds "
        "loop the trainer runs (one implementation, so the two "
        "queries cannot diverge), then apply per doc as a chain of "
        f"{BPE_MERGES} broadcast literal replaces — scan-speed, no "
        "shuffle on the apply side at all; only the tiny training "
        "aggs are wide. At scale the merge table is thousands of "
        "rules applied in one pandas pass instead of chained "
        "replaces — same broadcast-and-recode shape.",
)
def text_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark import StorageLevel

    raw = _bpe_corpus_strings(spark, sf_dir).persist(StorageLevel.MEMORY_AND_DISK)
    applied = raw
    for m in _bpe_merges(spark, sf_dir):
        applied = applied.crossJoin(F.broadcast(m)).select(
            "doc_id", _bpe_recode(F.col("s")).alias("s")
        )
    nr = F.size(F.split(F.trim("s"), " ")).cast("bigint")
    out_raw = raw.select("doc_id", nr.alias("n_tokens_raw"))
    out_bpe = applied.select("doc_id", nr.alias("n_tokens_bpe"))
    return out_raw.join(out_bpe, "doc_id").select(
        "doc_id",
        "n_tokens_raw",
        "n_tokens_bpe",
        F.round(
            F.col("n_tokens_bpe").cast("double") / F.col("n_tokens_raw"), 6
        ).alias("compression"),
    )


# --- count-min sketch --------------------------------------------------

# The third sketch in the frequency toolbox (next to HLL approx-distinct
# and Misra-Gries heavy hitters): a D×W counter grid, fully mergeable
# (partial/final hash agg), answering point frequency queries with
# one-sided error (estimate ≥ truth, overshoot bounded by collisions
# per row). Hashes are md5-derived so DuckDB replays them bit-for-bit;
# the report joins the sketch estimate against the exact count for the
# top terms — the error contract is the output, same posture as
# ann_recall_report.
CM_DEPTH = 4
CM_WIDTH = 64
CM_TOPN = 20


def _cm_bucket_sql(d: str, term: str) -> str:
    """DuckDB twin of the Spark md5 bucket: first 2 hex chars % W."""
    h = f"md5(CAST({d} AS VARCHAR) || '|' || {term})"
    return (
        f"((16 * (strpos('0123456789abcdef', substring({h}, 1, 1)) - 1) "
        f"+ (strpos('0123456789abcdef', substring({h}, 2, 1)) - 1)) "
        f"% {CM_WIDTH})"
    )


def _cm_bucket(d, term) -> F.Column:
    h = F.md5(F.concat(d.cast("string"), F.lit("|"), term))
    return (
        F.conv(F.substring(h, 1, 2), 16, 10).cast("int") % CM_WIDTH
    )


@register(
    "text_countmin_freq",
    oracle=f"""
    WITH tok AS (SELECT unnest({TOKS_SQL}) AS term FROM documents),
    cells AS (SELECT unnest(range(0, {CM_DEPTH})) AS d, term FROM tok),
    sketch AS (SELECT d, {_cm_bucket_sql('d', 'term')} AS bucket,
                      CAST(count(*) AS BIGINT) AS c
               FROM cells GROUP BY 1, 2),
    exact AS (SELECT term, CAST(count(*) AS BIGINT) AS n_exact
              FROM tok GROUP BY 1),
    cand AS (SELECT term, n_exact FROM (
               SELECT term, n_exact,
                      row_number() OVER (ORDER BY n_exact DESC, term) AS rk
               FROM exact) WHERE rk <= {CM_TOPN}),
    probes AS (SELECT c.term, c.n_exact, d.d,
                      {_cm_bucket_sql('d.d', 'c.term')} AS bucket
               FROM cand c, unnest(range(0, {CM_DEPTH})) AS d(d)),
    est AS (SELECT p.term, p.n_exact, min(s.c) AS n_est
            FROM probes p JOIN sketch s
              ON p.d = s.d AND p.bucket = s.bucket
            GROUP BY 1, 2)
    SELECT term, n_exact, n_est,
           round(CAST(n_est AS DOUBLE) / n_exact, 6) AS inflation
    FROM est
    """,
    doc=f"Count-min sketch point-frequency estimates: a {CM_DEPTH}×"
        f"{CM_WIDTH} counter grid built in ONE partial/final hash agg "
        "over (row, md5-bucket) — the sketch is mergeable by "
        "construction, so map-side combines do the heavy lifting and "
        f"the reduced state is {CM_DEPTH * CM_WIDTH} counters total "
        "regardless of corpus size. Point queries take the min over "
        f"the {CM_DEPTH} rows (one-sided error: estimate ≥ truth). "
        f"The report probes the top-{CM_TOPN} terms and joins exact "
        "counts against sketch estimates — the error contract IS the "
        "output, and the oracle replays the identical md5 bucket "
        "arithmetic so even the collisions are hash-checked.",
)
def text_countmin_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark import StorageLevel

    docs = table(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(texting.tokens(F.col("text"))).alias("term")
    ).persist(StorageLevel.MEMORY_AND_DISK)

    ds = F.explode(F.array(*[F.lit(d) for d in range(CM_DEPTH)]))
    cells = tok.select("term", ds.alias("d"))
    sketch = cells.groupBy("d", _cm_bucket(F.col("d"), F.col("term")).alias("bucket")).agg(
        F.count("*").alias("c")
    )
    exact = tok.groupBy("term").agg(F.count("*").alias("n_exact"))
    # global top-N: orderBy+limit plans as TakeOrderedAndProject
    cand = exact.orderBy(F.desc("n_exact"), F.asc("term")).limit(CM_TOPN)
    probes = cand.select(
        "term", "n_exact", ds.alias("d")
    ).withColumn("bucket", _cm_bucket(F.col("d"), F.col("term")))
    est = (
        probes.join(F.broadcast(sketch), ["d", "bucket"])
        .groupBy("term", "n_exact")
        .agg(F.min("c").alias("n_est"))
    )
    return est.select(
        "term",
        "n_exact",
        "n_est",
        F.round(F.col("n_est").cast("double") / F.col("n_exact"), 6).alias(
            "inflation"
        ),
    )


# ------------------------------------------- CCNet perplexity buckets
PPL_BUCKETS = 3
_PPL_NAMES = "CASE b WHEN 0 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail' END"


def _bigram_oracle() -> str:
    from . import REGISTRY

    return REGISTRY["text_bigram_logprob"].oracle


@register(
    "corpus_perplexity_buckets",
    oracle=None,  # set below — needs the bigram oracle registered first
    doc="CCNet-style perplexity bucketing: each source's documents are "
        "split into head/middle/tail thirds by the bigram-LM score "
        "(text_bigram_logprob), the standard quality partition before "
        "mixing (head = most fluent). The split is RANK arithmetic, "
        "not percentile cutpoints: bucket = floor((rn-1)*3/n) over a "
        "per-source (avg_nll, doc_id) order — integer-exact, so the "
        "oracle replays it bit-for-bit (interpolated quantile "
        "boundaries would be engine-dependent at ties). The window is "
        "per-source; at 100 TB swap the rank for approx_percentile "
        "cutpoints per source (partial-aggregable, no sort) and accept "
        "boundary fuzz. Output: per (source, bucket) doc counts and "
        "decimal-exact mean NLL.",
)
def corpus_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    lp = text_bigram_logprob(spark, sf_dir)
    src = table(spark, sf_dir, "documents").select("doc_id", "source")
    d = lp.join(src, "doc_id")
    w = Window.partitionBy("source").orderBy("avg_nll", "doc_id")
    ranked = d.select(
        "source",
        "avg_nll",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("source")).alias("n_src"),
    )
    bucketed = ranked.select(
        "source",
        "avg_nll",
        F.floor((F.col("rn") - 1) * PPL_BUCKETS / F.col("n_src"))
        .cast("int")
        .alias("b"),
    )
    return (
        bucketed.groupBy("source", "b")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(
                F.sum(F.col("avg_nll").cast("decimal(18,6)")).cast("double")
                / F.count("*"),
                4,
            ).alias("mean_nll"),
        )
        .select(
            "source",
            F.expr(_PPL_NAMES).alias("bucket"),
            "n_docs",
            "mean_nll",
        )
    )


from . import REGISTRY as _REG  # noqa: E402

_REG["corpus_perplexity_buckets"].oracle = f"""
    WITH lp AS ({_bigram_oracle()}),
    d AS (SELECT lp.doc_id, lp.avg_nll, doc.source
          FROM lp JOIN documents doc ON lp.doc_id = doc.doc_id),
    ranked AS (
      SELECT source, avg_nll,
             row_number() OVER (PARTITION BY source
                                ORDER BY avg_nll, doc_id) AS rn,
             count(*) OVER (PARTITION BY source) AS n_src
      FROM d),
    bucketed AS (
      SELECT source, avg_nll,
             CAST((rn - 1) * {PPL_BUCKETS} // n_src AS INT) AS b
      FROM ranked)
    SELECT source, {_PPL_NAMES} AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(CAST(sum(CAST(avg_nll AS DECIMAL(18,6))) AS DOUBLE)
                 / count(*), 4) AS mean_nll
    FROM bucketed GROUP BY source, b
"""


# tolerance for the approx-percentile bucketing vs the exact thirds:
# GK-sketch rank error at accuracy 10000 is < 1 doc at any realistic
# per-source count, so the budget is dominated by boundary TIES (docs
# with identical avg_nll straddling a cutpoint go wholly to one side
# in the approx path but are split by the doc_id tie-break in the
# exact path; measured max tie-run 6 at sf0.1)
PPL_APPROX_TOL_MIN = 8
PPL_APPROX_TOL_FRAC = 0.02


@register(
    "corpus_perplexity_buckets_approx",
    oracle=None,  # set below — needs the bigram oracle registered first
    doc="The 100 TB form of corpus_perplexity_buckets (the swap its "
        "twin's docstring declares): per-source head/middle/tail "
        "cutpoints come from approx_percentile (GK sketch, mergeable, "
        "one pass) instead of a rank window, so NO per-source sort "
        "appears anywhere in the plan — the only shuffles are hash "
        "aggregations, and the per-source cutpoint table (bounded by "
        "|sources|) broadcasts back onto the doc stream. Sketch "
        "cutpoints are not portable across engines, so (same contract "
        "as approx_percentiles) the oracle-matched columns are the "
        "EXACT thirds counts — pure integer arithmetic "
        "ceil((b+1)n/3)-ceil(bn/3) from the per-source doc count, no "
        "sort needed — plus sketch_check_passed, a Spark-side-only "
        "assertion (literal TRUE in the oracle) that the approx "
        "bucket's doc count deviates from the exact third by at most "
        "max(8, 2% of n_src): the GK rank error at accuracy 10000 is "
        "sub-1-doc, so the budget covers boundary ties only.",
)
def corpus_perplexity_buckets_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    lp = text_bigram_logprob(spark, sf_dir)
    src = table(spark, sf_dir, "documents").select("doc_id", "source")
    d = lp.join(src, "doc_id")
    stats = d.groupBy("source").agg(
        F.count("*").alias("n_src"),
        F.percentile_approx(
            "avg_nll",
            F.array(F.lit(1.0 / PPL_BUCKETS), F.lit(2.0 / PPL_BUCKETS)),
            F.lit(10000),
        ).alias("cuts"),
    )
    assigned = d.join(F.broadcast(stats.select("source", "cuts")), "source").select(
        "source",
        F.when(F.col("avg_nll") <= F.element_at("cuts", 1), 0)
        .when(F.col("avg_nll") <= F.element_at("cuts", 2), 1)
        .otherwise(2)
        .alias("b"),
    )
    approx_counts = assigned.groupBy("source", "b").agg(
        F.count("*").alias("n_approx")
    )
    n = F.col("n_src")
    b = F.col("b")
    exact = (
        stats.select("source", "n_src")
        .select("source", "n_src", F.explode(F.array(*[F.lit(i) for i in range(PPL_BUCKETS)])).alias("b"))
        .select(
            "source",
            "n_src",
            "b",
            (
                F.ceil((b + 1) * n / PPL_BUCKETS) - F.ceil(b * n / PPL_BUCKETS)
            ).cast("long").alias("n_docs"),
        )
    )
    tol = F.greatest(
        F.lit(PPL_APPROX_TOL_MIN),
        F.ceil(F.col("n_src") * PPL_APPROX_TOL_FRAC),
    )
    return (
        # both sides are |sources| x 3 rows — bounded regardless of SF,
        # so the hint is legal under the broadcast policy and keeps a
        # sort-merge join (2 pointless sorts) out of the plan
        exact.join(F.broadcast(approx_counts), ["source", "b"], "left_outer")
        .select(
            "source",
            F.expr(_PPL_NAMES).alias("bucket"),
            "n_docs",
            (
                F.abs(F.coalesce(F.col("n_approx"), F.lit(0)) - F.col("n_docs"))
                <= tol
            ).alias("sketch_check_passed"),
        )
    )


def _ppl_approx_oracle() -> str:
    return f"""
    WITH lp AS ({_bigram_oracle()}),
    d AS (SELECT lp.doc_id, lp.avg_nll, doc.source
          FROM lp JOIN documents doc ON lp.doc_id = doc.doc_id),
    n AS (SELECT source, CAST(count(*) AS BIGINT) AS n_src FROM d GROUP BY 1),
    e AS (SELECT source, n_src, unnest(range(0, {PPL_BUCKETS})) AS b FROM n)
    SELECT source, {_PPL_NAMES} AS bucket,
           CAST(ceil((b + 1) * n_src / {PPL_BUCKETS}.0)
                - ceil(b * n_src / {PPL_BUCKETS}.0) AS BIGINT) AS n_docs,
           TRUE AS sketch_check_passed
    FROM e
    """


_REG["corpus_perplexity_buckets_approx"].oracle = _ppl_approx_oracle()


# ------------------------------------------ vocabulary coverage audit
COV_VOCAB_K = 50  # the "model vocabulary": top-K terms by occurrence


@register(
    "text_vocab_coverage",
    oracle=f"""
    WITH tx AS (SELECT d.doc_id, d.source, t.term
                FROM documents d, unnest({TOKS_SQL}) AS t(term)),
    vc AS (SELECT term, CAST(count(*) AS BIGINT) AS n FROM tx GROUP BY 1),
    vocab AS (SELECT term FROM (
        SELECT term, row_number() OVER (ORDER BY n DESC, term) AS rk
        FROM vc) WHERE rk <= {COV_VOCAB_K}),
    per AS (SELECT s.source,
                   CAST(count(*) AS BIGINT) AS n_tokens,
                   CAST(sum(CASE WHEN v.term IS NOT NULL
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
            FROM tx s LEFT JOIN vocab v ON s.term = v.term
            GROUP BY 1)
    SELECT source, n_tokens, n_covered,
           round(CAST(n_covered AS DOUBLE) / n_tokens, 6) AS coverage,
           round(1.0 - CAST(n_covered AS DOUBLE) / n_tokens, 6) AS oov_rate
    FROM per
    """,
    doc=f"Tokenizer-vocabulary coverage audit: per-source fraction of "
        f"token OCCURRENCES covered by the global top-{COV_VOCAB_K} "
        "vocabulary, and the complementary OOV rate — the go/no-go "
        "check before committing a vocab size (and the per-source "
        "break-down that catches a domain the vocab underserves). "
        "Shape at 100 TB: occurrence counts partial-aggregate; the "
        "vocabulary is a TakeOrderedAndProject-bounded K-row table "
        "that broadcasts into a left join against the token stream; "
        "per-source totals partial-aggregate again. No full-vocab "
        "shuffle anywhere.",
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(table(spark, sf_dir, "documents"))
    tx = docs.select(
        "source", F.explode(texting.tokens(F.col("text"))).alias("term")
    )
    vc = tx.groupBy("term").agg(F.count("*").alias("n"))
    vocab = (
        vc.orderBy(F.col("n").desc(), "term")
        .limit(COV_VOCAB_K)
        .select("term", F.lit(1).alias("_inv"))
    )
    per = (
        tx.join(F.broadcast(vocab), "term", "left_outer")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.coalesce(F.col("_inv"), F.lit(0))).alias("n_covered"),
        )
    )
    cov = F.col("n_covered").cast("double") / F.col("n_tokens")
    return per.select(
        "source",
        "n_tokens",
        "n_covered",
        F.round(cov, 6).alias("coverage"),
        F.round(F.lit(1.0) - cov, 6).alias("oov_rate"),
    )
