"""Text analysis over the ``documents`` table: stats, quality scoring,
language-ID heuristic, token counting, fingerprinting (✦ north-star ops,
SURVEY.md §2B).

All pure built-in column expressions (codegen'd, no Python): at 100 TB
these run as a single embarrassingly-parallel scan projection.

Shared tokenization/shingling helpers used by the dedup operators live
here; the Spark expressions and the DuckDB SQL fragments are kept textually
adjacent so both engines compute byte-identical shingles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from iceberg_poc_spark.functions.sqlround import dround
from iceberg_poc_spark.operators.tablelayer import table_setup
from iceberg_poc_spark.registry import register
from iceberg_poc_spark.scratch import once, scratch_dir
from iceberg_poc_spark.sources import load_table

STOPWORDS = ("the", "a")
# BPE-ish tokenizer: letter runs | digit runs | single non-space symbol.
TOKEN_RE = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"


def words_col(text: str = "text") -> Column:
    return F.split(F.col(text), " ")


def with_words(df: DataFrame, text: str = "text", out: str = "__words") -> DataFrame:
    """Materialize the token array once per row; shingling over this bound
    attribute avoids re-tokenizing the text per shingle (an inlined
    ``split()`` inside the transform lambda would run per element)."""
    return df.withColumn(out, F.split(F.col(text), " "))


def shingles_col(words: str = "__words", k: int = 3) -> Column:
    """Word k-shingles as strings from a pre-split words column (see
    :func:`with_words`); documents shorter than k words collapse to one
    shingle (the whole text). Mirrored exactly by :func:`shingles_sql`.

    Built from k ``try_element_at`` lookups instead of ``slice`` — the
    slice materializes a k-element array copy per position, the lookups
    don't (~2x faster over the corpus). ``try_element_at``, not
    ``element_at``: short documents index past the end, which ANSI mode
    (Spark 4 default) turns into a runtime error for the plain form;
    the try_ form yields NULL, which ``concat_ws`` skips, reproducing
    slice's partial-window behavior (caught by the differential fuzz in
    tests/test_text_properties.py)."""
    w = F.col(words)
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(w) - (k - 1), F.lit(1))),
        lambda i: F.concat_ws(
            " ", *[F.try_element_at(w, i + F.lit(j)) for j in range(k)]
        ),
    )


def shingles_sql(text: str = "text", k: int = 3) -> str:
    """DuckDB twin of :func:`shingles_col` (1-based inclusive list slice)."""
    return (
        f"list_transform(range(1, greatest(len(string_split({text}, ' ')) - {k - 1}, 1) + 1),"
        f" i -> array_to_string(string_split({text}, ' ')[i:i+{k - 1}], ' '))"
    )


@register(
    "q_text_stats",
    oracle=f"""
    SELECT doc_id,
           length(text)                                    AS n_chars_calc,
           len(string_split(text, ' '))                    AS n_words,
           {dround("CAST(length(replace(text, ' ', '')) AS DOUBLE)"
                   " / len(string_split(text, ' '))", 2)}  AS avg_word_len,
           lang, source
    FROM documents
    """,
    doc="Per-document length/word-count/avg-word-length stats.",
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    words = words_col()
    return d.select(
        "doc_id",
        F.length("text").alias("n_chars_calc"),
        F.size(words).alias("n_words"),
        F.round(
            F.length(F.regexp_replace("text", " ", "")).cast("double") / F.size(words), 2
        ).alias("avg_word_len"),
        "lang",
        "source",
    )


@register(
    "q_text_quality",
    oracle=f"""
    SELECT doc_id,
           {dround("CAST(len(list_filter(string_split(text, ' '),"
                   " w -> w IN ('the', 'a'))) AS DOUBLE)"
                   " / len(string_split(text, ' '))", 3)}  AS stopword_ratio,
           {dround("CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)"
                   " / len(string_split(text, ' '))", 3)}  AS unique_ratio,
           (length(text) >= 50 AND len(string_split(text, ' ')) >= 10)
                                                     AS len_ok
    FROM documents
    """,
    doc="Quality scoring: stopword ratio, vocabulary diversity, length "
    "gate — the standard cheap pre-filters of an LLM data pipeline.",
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    words = words_col()
    stop_arr = ", ".join(f"'{w}'" for w in STOPWORDS)
    stop_cnt = F.size(
        F.filter(words, lambda w: w.isin(*STOPWORDS))
    )
    return d.select(
        "doc_id",
        F.round(stop_cnt.cast("double") / F.size(words), 3).alias("stopword_ratio"),
        F.round(
            F.size(F.array_distinct(words)).cast("double") / F.size(words), 3
        ).alias("unique_ratio"),
        ((F.length("text") >= 50) & (F.size(words) >= 10)).alias("len_ok"),
    )


@register(
    "q_text_langid",
    oracle="""
    SELECT doc_id, lang,
           CASE WHEN list_contains(string_split(text, ' '), 'the')
                  OR list_contains(string_split(text, ' '), 'a')
                THEN 'en' ELSE 'unk' END AS pred_lang
    FROM documents
    """,
    doc="Language-ID heuristic (stopword-membership scoring). The corpus "
    "text is synthetic English-ish regardless of its lang label, so the "
    "heuristic is a deterministic plumbing demo, not a model.",
)
def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    words = words_col()
    return d.select(
        "doc_id",
        "lang",
        F.when(
            F.array_contains(words, "the") | F.array_contains(words, "a"), "en"
        )
        .otherwise("unk")
        .alias("pred_lang"),
    )


@register(
    "q_token_count",
    oracle=f"""
    SELECT doc_id,
           len(string_split(text, ' '))                   AS ws_tokens,
           len(regexp_extract_all(text, '{TOKEN_RE}'))    AS re_tokens
    FROM documents
    """,
    doc="Token counting: whitespace tokens + a BPE-ish regex tokenizer "
    "(letter runs / digit runs / symbols).",
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(words_col()).alias("ws_tokens"),
        F.regexp_count("text", F.lit(TOKEN_RE)).cast("bigint").alias("re_tokens"),
    )


@register(
    "q_doc_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(text)              AS fingerprint,
           substr(md5(text), 1, 4) AS shard_bucket
    FROM documents
    """,
    doc="Content fingerprinting (md5 hex — identical bytes in both "
    "engines) + a fingerprint-prefix shard bucket, the primitive under "
    "exact dedup at scale.",
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.col("text").cast("binary"))
    return d.select(
        "doc_id",
        fp.alias("fingerprint"),
        F.substring(fp, 1, 4).alias("shard_bucket"),
    )


MIN_CHARS = 50
MIN_WORDS = 10
MIN_UNIQUE_RATIO = 0.3


@register(
    "q_pipeline_corpus_prep",
    oracle=f"""
    WITH keep AS (
        SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)
    ),
    kept AS (
        SELECT d.lang, d.text, len(string_split(d.text, ' ')) AS n_words
        FROM documents d JOIN keep USING (doc_id)
        WHERE length(d.text) >= {MIN_CHARS}
          AND len(string_split(d.text, ' ')) >= {MIN_WORDS}
          AND CAST(len(list_distinct(string_split(d.text, ' '))) AS DOUBLE)
              / len(string_split(d.text, ' ')) >= {MIN_UNIQUE_RATIO}
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS total_tokens,
           {dround('AVG(length(text))', 2)} AS avg_chars
    FROM kept
    GROUP BY lang
    """,
    doc="End-to-end corpus-prep pipeline (the training-data shape): exact "
    "dedup on a 16-byte content hash -> quality gate (length, word count, "
    "unique-token ratio) -> per-language token accounting. One plan: "
    "hash-agg dedup, semi-join back, scan-side filters, final small agg.",
)
def q_pipeline_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    keep = d.groupBy(F.md5(F.col("text").cast("binary")).alias("h")).agg(
        F.min("doc_id").alias("doc_id")
    )
    words = words_col()
    kept = (
        d.join(keep.select("doc_id"), "doc_id", "left_semi")
        .withColumn("n_words", F.size(words))
        .filter(
            (F.length("text") >= MIN_CHARS)
            & (F.col("n_words") >= MIN_WORDS)
            & (
                F.size(F.array_distinct(words)).cast("double") / F.col("n_words")
                >= MIN_UNIQUE_RATIO
            )
        )
    )
    return kept.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_words").alias("total_tokens"),
        F.round(F.avg(F.length("text")), 2).alias("avg_chars"),
    )


@register(
    "q_text_repetition",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id, unnest({shingles_sql()}) AS shingle
        FROM documents
    )
    SELECT doc_id,
           COUNT(*) AS n_ngrams,
           COUNT(DISTINCT shingle) AS n_unique,
           {dround("1.0 - CAST(COUNT(DISTINCT shingle) AS DOUBLE) / COUNT(*)", 4)}
             AS dup_ngram_ratio
    FROM sh GROUP BY doc_id
    """,
    doc="Repetition scoring — the boilerplate/degenerate-text detector of "
    "corpus prep: per document, the fraction of 3-gram occurrences that "
    "are repeats (1 - unique/total). Multiset shingles (NO array_distinct "
    "— repeats are the signal). Map-side partial counts; the single "
    "distinct aggregate plans as a two-phase agg, no Expand.",
)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").repartition(F.col("doc_id"))
    sh = with_words(d).select(
        "doc_id", F.explode(shingles_col()).alias("shingle")
    )
    return sh.groupBy("doc_id").agg(
        F.count("*").alias("n_ngrams"),
        F.countDistinct("shingle").alias("n_unique"),
        F.round(
            1.0 - F.countDistinct("shingle").cast("double") / F.count("*"), 4
        ).alias("dup_ngram_ratio"),
    )


@register(
    "q_decontaminate",
    oracle=f"""
    WITH bench AS (
        SELECT DISTINCT unnest(list_distinct({shingles_sql(k=8)})) AS shingle
        FROM documents WHERE source = 'src0'
    ),
    cand AS (
        SELECT doc_id, source, unnest(list_distinct({shingles_sql(k=8)})) AS sh
        FROM documents WHERE source <> 'src0'
    ),
    contaminated AS (
        SELECT DISTINCT doc_id FROM cand
        WHERE sh IN (SELECT shingle FROM bench)
    )
    SELECT d.source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_contaminated
    FROM documents d LEFT JOIN contaminated c ON d.doc_id = c.doc_id
    WHERE d.source <> 'src0'
    GROUP BY d.source
    ORDER BY d.source
    """,
    doc="Benchmark decontamination — remove training documents that "
    "overlap the evaluation set (here: source src0 stands in as the "
    "benchmark): any shared 8-gram (the published LLM-decontamination overlap rule) marks a candidate contaminated. The "
    "benchmark n-gram set is tiny relative to the corpus, so it "
    "broadcasts; the candidate side streams through a broadcast LEFT "
    "SEMI join — at 100 TB the corpus is never shuffled at all.",
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # filter each side BEFORE repartitioning: the source predicates push
    # into the parquet scan, and only the candidate corpus pays a full
    # shuffle (the benchmark slice fans out over a token 8 partitions)
    raw = load_table(spark, sf_dir, "documents")
    bench_sh = (
        with_words(
            raw.filter(F.col("source") == "src0").repartition(
                8, F.col("doc_id")
            )
        )
        .select(F.explode(F.array_distinct(shingles_col(k=8))).alias("shingle"))
        .distinct()
    )
    cand = raw.filter(F.col("source") != "src0").repartition(F.col("doc_id"))
    cand_sh = with_words(cand).select(
        "doc_id", F.explode(F.array_distinct(shingles_col(k=8))).alias("sh")
    )
    contaminated = (
        cand_sh.join(
            F.broadcast(bench_sh), cand_sh.sh == bench_sh.shingle, "left_semi"
        )
        .select("doc_id")
        .distinct()
        .withColumn("contaminated", F.lit(1))
    )
    # the accounting side never reads text, so skip the text-bearing
    # repartition exchange and re-scan just (doc_id, source) — the scan
    # is column-pruned to two columns (guide §2.2)
    cand_meta = raw.filter(F.col("source") != "src0").select(
        "doc_id", "source"
    )
    return (
        cand_meta.join(contaminated, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.coalesce(F.col("contaminated"), F.lit(0))).alias(
                "n_contaminated"
            ),
        )
        .orderBy("source")
    )


VOCAB_TOP_K = 100


@register(
    "q_vocab_topk",
    oracle=f"""
    WITH w AS (
        SELECT unnest(string_split(text, ' ')) AS word FROM documents
    )
    SELECT word, COUNT(*) AS n
    FROM w GROUP BY word
    ORDER BY n DESC, word
    LIMIT {VOCAB_TOP_K}
    """,
    doc=f"Corpus vocabulary building — the tokenizer-training precursor: "
    f"multiset word counts over the whole corpus, top {VOCAB_TOP_K} by "
    f"frequency (ties broken by word). Map-side partial counts shrink "
    f"the shuffle to one row per distinct word per task, and the "
    f"orderBy+limit plans as TakeOrderedAndProject (per-partition heaps, "
    f"driver-side merge of {VOCAB_TOP_K}) — no global sort at any scale.",
)
def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").repartition(F.col("doc_id"))
    return (
        d.select(F.explode(words_col()).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "word")
        .limit(VOCAB_TOP_K)
    )


@register(
    "q_vocab_incremental",
    oracle=f"""
    WITH cidx AS (
        SELECT word, COUNT(*) AS cn
        FROM (SELECT unnest(string_split(text, ' ')) AS word
              FROM documents WHERE doc_id % 10 <> 0)
        GROUP BY word
    ),
    bc AS (
        SELECT word, COUNT(*) AS bn
        FROM (SELECT unnest(string_split(text, ' ')) AS word
              FROM documents WHERE doc_id % 10 = 0)
        GROUP BY word
    )
    SELECT COALESCE(c.word, b.word) AS word,
           CAST(COALESCE(c.cn, 0) + COALESCE(b.bn, 0) AS BIGINT) AS n,
           c.word IS NULL AS is_new
    FROM cidx c FULL OUTER JOIN bc b ON c.word = b.word
    ORDER BY n DESC, COALESCE(c.word, b.word)
    LIMIT {VOCAB_TOP_K}
    """,
    doc=f"Incremental vocabulary maintenance — the STATISTICS leg of the "
    f"incremental family (exact dedup / LSH / cluster / ANN legs: "
    f"q_dedup_incremental, q_dedup_near_incremental, "
    f"q_dedup_clusters_incremental, q_sim_ann_incremental): corpus word "
    f"counts live in a persisted table bucketed+sorted on word; a daily "
    f"batch tokenizes ONLY its own documents, counts map-side, and "
    f"full-outer sort-merge-joins the index with ZERO Exchange on the "
    f"index side (plan-gated in tests/test_plans.py) — merged counts are "
    f"coalesce(corpus,0)+coalesce(batch,0), never a corpus re-tokenize. "
    f"is_new marks words the corpus had never seen (the OOV/tokenizer-"
    f"drift signal a production vocab refresh watches). Surface: the "
    f"merged top-{VOCAB_TOP_K} (exact integer counts, ties by word). "
    f"At 100 TB the corpus tokenize happens once at index build; every "
    f"refresh costs O(batch) + O(vocab) — the difference between a "
    f"nightly job and a nightly full-corpus pass.",
)
def q_vocab_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from iceberg_poc_spark.sources.bucketed import write_bucketed

    d = load_table(spark, sf_dir, "documents")
    wh = scratch_dir("vincwh", sf_dir)
    db = os.path.basename(wh)
    idx = f"{db}.vocab_counts"

    def build() -> None:
        corpus_counts = (
            d.filter(F.col("doc_id") % 10 != 0)
            .select(F.explode(words_col()).alias("word"))
            .groupBy("word")
            .agg(F.count("*").alias("cn"))
        )
        write_bucketed(corpus_counts, "vocab_counts", "word", 32, db, wh)

    once(wh, build)
    batch = (
        d.filter(F.col("doc_id") % 10 == 0)
        .select(F.explode(words_col()).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("bn"))
    )
    merged = spark.table(idx).hint("merge").join(batch, "word", "full_outer")
    return (
        merged.select(
            "word",
            (
                F.coalesce(F.col("cn"), F.lit(0))
                + F.coalesce(F.col("bn"), F.lit(0))
            )
            .cast("bigint")
            .alias("n"),
            F.col("cn").isNull().alias("is_new"),
        )
        .orderBy(F.col("n").desc(), "word")
        .limit(VOCAB_TOP_K)
    )


TFIDF_TOP_K = 3


@register(
    "q_text_tfidf",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ),
    tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM w GROUP BY doc_id, word),
    df AS (SELECT word, COUNT(DISTINCT doc_id) AS df FROM w GROUP BY word),
    n AS (SELECT COUNT(*) AS n FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.word,
               CAST(tf.tf AS BIGINT) AS tf,
               CAST(df.df AS BIGINT) AS df,
               (tf.tf * n.n) / df.df AS score
        FROM tf JOIN df USING (word) CROSS JOIN n
    ),
    r AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY doc_id ORDER BY score DESC, word
        ) AS rn FROM scored
    )
    SELECT doc_id, word, tf, df, {dround("score", 4)} AS tfidf
    FROM r WHERE rn <= {TFIDF_TOP_K}
    """,
    doc=f"Per-document top-{TFIDF_TOP_K} TF-IDF terms (keyword "
    f"extraction / topic hinting in corpus analytics). idf is the "
    f"rational N/df form (no log) so both engines compute the identical "
    f"double: tf*N and df are exact integers, one IEEE division each. "
    f"Plan: one exploded scan feeds the (doc_id, word) count; the "
    f"document-frequency side aggregates to vocab size and joins back "
    f"on word (vocab-sized — broadcastable at any corpus scale); the "
    f"per-doc top-k windows partition by doc_id (millions of narrow "
    f"groups, never a global sort).",
)
def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents").repartition(F.col("doc_id"))
    words = d.select("doc_id", F.explode(words_col()).alias("word"))
    tf = words.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    df = words.groupBy("word").agg(F.countDistinct("doc_id").alias("df"))
    n = d.agg(F.count("*").alias("n"))
    scored = (
        tf.join(df, "word")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "word",
            "tf",
            "df",
            ((F.col("tf") * F.col("n")) / F.col("df")).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "word")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TFIDF_TOP_K)
        .select("doc_id", "word", "tf", "df", F.round("score", 4).alias("tfidf"))
    )


# dialect-portable PII patterns: char classes / + / bounded repeats behave
# identically in Java regex (Spark) and RE2 (DuckDB) — no lookarounds,
# no backrefs, nothing dialect-specific.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"[0-9]{3}-[0-9]{3}-[0-9]{4}"


@register(
    "q_text_redact_pii",
    oracle=f"""
    WITH seeded AS (
        SELECT doc_id,
               text
               || CASE WHEN doc_id % 7 = 0
                       THEN ' user' || CAST(doc_id AS VARCHAR) || '@example.com'
                       ELSE '' END
               || CASE WHEN doc_id % 11 = 0
                       THEN ' 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                            || '-' || lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0')
                       ELSE '' END AS raw
        FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(raw, '{EMAIL_RE}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(raw, '{PHONE_RE}')) AS BIGINT) AS n_phones,
           md5(regexp_replace(regexp_replace(raw, '{EMAIL_RE}', '<EMAIL>', 'g'),
                              '{PHONE_RE}', '<PHONE>', 'g')) AS redacted_md5
    FROM seeded
    """,
    doc="PII redaction — the privacy-scrub step of corpus prep: detect "
    "and mask emails and phone numbers with dialect-portable regexes "
    "(identical under Java regex and RE2 — no lookarounds). The corpus "
    "is synthetic, so deterministic PII is seeded in-query from doc_id "
    "and the md5 of the redacted text proves the exact replacement "
    "byte-for-byte. Pure scan projection: no shuffle, no Python, "
    "embarrassingly parallel at any corpus size.",
)
def q_text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit(" user"), F.col("doc_id").cast("string"), F.lit("@example.com")
            ),
        ).otherwise(""),
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(
                F.lit(" 555-"),
                F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
                F.lit("-"),
                F.lpad(((F.col("doc_id") * 7) % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(""),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(raw, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
    )
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(raw, F.lit(EMAIL_RE), F.lit(0)))
        .cast("bigint")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(raw, F.lit(PHONE_RE), F.lit(0)))
        .cast("bigint")
        .alias("n_phones"),
        F.md5(redacted.cast("binary")).alias("redacted_md5"),
    )


BUCKET_W = 32  # tokens per length bucket


@register(
    "q_length_buckets",
    oracle=f"""
    WITH t AS (
        SELECT len(string_split(text, ' ')) AS n_tokens FROM documents
    )
    SELECT CAST(n_tokens // {BUCKET_W} AS BIGINT) AS bucket,
           CAST(n_tokens // {BUCKET_W} * {BUCKET_W} AS BIGINT) AS bucket_lo,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(MIN(n_tokens) AS BIGINT) AS min_tokens,
           CAST(MAX(n_tokens) AS BIGINT) AS max_tokens
    FROM t GROUP BY 1, 2 ORDER BY 1
    """,
    doc=f"Token-length histogram bucketing ({BUCKET_W}-token buckets) — "
    f"the length-grouped batching precursor: documents of similar length "
    f"batch together so padding waste stays bounded. Integer floor-div "
    f"bucketing (no engine-specific width_bucket), map-side combined "
    f"counts; the histogram is bucket-count sized, never corpus sized.",
)
def q_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    n = F.size(words_col())
    bucket = F.floor(n / BUCKET_W).cast("bigint")
    return (
        d.select(n.alias("n_tokens"), bucket.alias("bucket"))
        .groupBy("bucket", (F.col("bucket") * BUCKET_W).alias("bucket_lo"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.min("n_tokens").cast("bigint").alias("min_tokens"),
            F.max("n_tokens").cast("bigint").alias("max_tokens"),
        )
        .orderBy("bucket")
    )


# sliding-window chunking: 200-char windows advancing 150 chars (50 overlap)
CHUNK_SIZE = 200
CHUNK_STRIDE = 150


@register(
    "q_chunk_documents",
    oracle=f"""
    WITH x AS (
        SELECT doc_id, text,
               UNNEST(range(0, CAST(ceil(len(text) / {CHUNK_STRIDE}.0)
                                    AS BIGINT))) AS idx
        FROM documents
    )
    SELECT doc_id,
           CAST(idx AS INT) AS chunk_idx,
           md5(substr(text, CAST(idx * {CHUNK_STRIDE} + 1 AS BIGINT),
                      {CHUNK_SIZE})) AS chunk_hash,
           CAST(len(substr(text, CAST(idx * {CHUNK_STRIDE} + 1 AS BIGINT),
                           {CHUNK_SIZE})) AS INT) AS chunk_len
    FROM x
    """,
    doc=f"Sliding-window document chunking — the context-window prep step "
    f"for RAG indexing and long-doc pretraining: {CHUNK_SIZE}-char "
    f"windows advancing {CHUNK_STRIDE} chars ({CHUNK_SIZE - CHUNK_STRIDE} "
    f"overlap so no boundary context is lost). Pure map-side explode of a "
    f"per-doc index sequence — no shuffle at all, parallelism is the scan "
    f"split; the oracle checks every chunk byte-for-byte via md5. "
    f"Degenerate empty docs chunk to zero rows on both engines.",
)
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    k = F.ceil(F.length("text") / F.lit(float(CHUNK_STRIDE))).cast("long")
    idxs = F.when(k > 0, F.sequence(F.lit(0).cast("long"), k - 1)).otherwise(
        F.array().cast("array<long>")
    )
    chunked = d.select("doc_id", "text", F.explode(idxs).alias("idx"))
    chunk = F.substring(
        F.col("text"),
        (F.col("idx") * CHUNK_STRIDE + 1).cast("int"),
        CHUNK_SIZE,
    )
    return chunked.select(
        "doc_id",
        F.col("idx").cast("int").alias("chunk_idx"),
        F.md5(chunk.cast("binary")).alias("chunk_hash"),
        F.length(chunk).alias("chunk_len"),
    )


BIGRAM_MIN_COUNT = 5


@register(
    "q_text_bigram",
    oracle=f"""
    WITH w AS (
        SELECT string_split(text, ' ') AS words FROM documents
    ),
    bg AS (
        SELECT list_extract(words, CAST(i AS INT))     AS w1,
               list_extract(words, CAST(i + 1 AS INT)) AS w2
        FROM (SELECT words, UNNEST(range(1, len(words))) AS i FROM w)
    ),
    c AS (
        SELECT w1, w2, COUNT(*) AS n FROM bg GROUP BY 1, 2
    ),
    p AS (
        -- window sum in its own step: a WHERE in the same SELECT would
        -- filter BEFORE the window and shrink the denominator
        SELECT w1, w2, n,
               {dround("CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY w1)", 4)}
                   AS p
        FROM c
    )
    SELECT w1, w2, n, p FROM p WHERE n >= {BIGRAM_MIN_COUNT}
    """,
    doc=f"Bigram language-model statistics over the corpus: adjacent word "
    f"pairs with count and conditional probability P(w2|w1) — the n-gram "
    f"LM / tokenizer-training precursor (and the statistic behind "
    f"perplexity-based quality filters). Pair generation is a pure "
    f"map-side zip-explode of each document's token array (no join, no "
    f"per-pair re-tokenize); counts are one map-side-combinable "
    f"aggregate on (w1,w2); the denominator is a window SUM partitioned "
    f"by w1 (vocabulary-wide fan-out, never SinglePartition). The "
    f"count>={BIGRAM_MIN_COUNT} floor is applied AFTER the denominator "
    f"so probabilities stay calibrated against the full distribution — "
    f"and bounds output like real LM pruning does. dround pins the "
    f"count-ratio rounding ties cross-engine.",
)
def q_text_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = with_words(load_table(spark, sf_dir, "documents"), out="words")
    n1 = F.greatest(F.size("words") - 1, F.lit(0))
    pairs = d.select(
        F.explode(
            F.arrays_zip(
                F.slice("words", 1, n1).alias("w1"),
                F.slice("words", 2, n1).alias("w2"),
            )
        ).alias("bg")
    ).select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    counts = pairs.groupBy("w1", "w2").agg(F.count("*").alias("n"))
    denom = F.sum("n").over(Window.partitionBy("w1"))
    return counts.withColumn(
        "p", F.round(F.col("n").cast("double") / denom, 4)
    ).filter(F.col("n") >= BIGRAM_MIN_COUNT)


# ------------------------------------------------------- inverted index

IDX_TERMS = ("spark", "window")  # the AND-of-terms probe
IDX_BUCKETS = 16


@table_setup
def _setup_tok_index(spark: SparkSession, sf_dir: str, mgr):
    """tok_index: the (token, doc_id) posting-list table, bucket-hash
    partitioned on token so a term lookup plans only its bucket's files."""
    from iceberg_poc_spark.tables import bucket

    postings = (
        load_table(spark, sf_dir, "documents")
        .select(
            F.col("doc_id"),
            F.explode(F.split(F.col("text"), " ")).alias("token"),
        )
        .distinct()
        .select("token", "doc_id")
    )
    mgr.create_table(
        "tok_index", postings.schema, [bucket("token", IDX_BUCKETS)]
    )
    mgr.append("tok_index", postings)


@register(
    "q_inverted_index",
    oracle=f"""
    SELECT doc_id, lang, source
    FROM documents
    WHERE ' ' || text || ' ' LIKE '% {IDX_TERMS[0]} %'
      AND ' ' || text || ' ' LIKE '% {IDX_TERMS[1]} %'
    """,
    doc="Index-backed multi-term document retrieval: a (token, doc_id) "
    "posting-list table is built ONCE, bucket-hash partitioned on token "
    f"(bucket({IDX_BUCKETS}) hidden partitioning), and an AND-of-terms "
    "query scans it with token IN (...) — the manifest planner maps each "
    "literal through the SAME xxhash64 the writer used and plans ONLY "
    "the matching buckets' files (bucket point-lookup pruning, "
    "manager._prune_buckets; planned < total asserted in "
    "tests/test_table_manager.py). Posting-list intersection is a "
    "doc_id groupBy requiring every term to hit; the (small) candidate "
    "set then broadcasts against the corpus for metadata. The oracle "
    "word-scans the raw text. At 100 TB this is the retrieval shape: "
    "term lookups cost one bucket each, never a corpus scan, and the "
    "index maintains incrementally by appending new docs' postings.",
)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    mgr, _snaps = _setup_tok_index(spark, sf_dir)
    hits, _planned, _total = mgr.scan(
        "tok_index", where=[("token", "in", list(IDX_TERMS))]
    )
    cand = (
        hits.groupBy("doc_id")
        .agg(F.count_distinct("token").alias("n_terms"))
        .filter(F.col("n_terms") == len(IDX_TERMS))
        .select("doc_id")
    )
    docs = load_table(spark, sf_dir, "documents")
    return docs.join(F.broadcast(cand), "doc_id").select(
        "doc_id", "lang", "source"
    )


@register(
    "q_decontaminate_bloom",
    oracle=f"""
    WITH bench AS (
        SELECT DISTINCT unnest(list_distinct({shingles_sql(k=8)})) AS shingle
        FROM documents WHERE source = 'src0'
    ),
    cand AS (
        SELECT doc_id, source, unnest(list_distinct({shingles_sql(k=8)})) AS sh
        FROM documents WHERE source <> 'src0'
    ),
    contaminated AS (
        SELECT DISTINCT doc_id FROM cand
        WHERE sh IN (SELECT shingle FROM bench)
    )
    SELECT d.source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_contaminated
    FROM documents d LEFT JOIN contaminated c ON d.doc_id = c.doc_id
    WHERE d.source <> 'src0'
    GROUP BY d.source
    ORDER BY d.source
    """,
    doc="Bloom-prune decontamination — q_decontaminate for the regime "
    "where the benchmark n-gram set is itself too big to broadcast (a "
    "full eval-suite 8-gram set at production scale is tens of GB). "
    "Phase 1 broadcasts a 16-bit FINGERPRINT set instead: "
    "substr(md5(shingle),1,4), at most 2^16 distinct rows NO MATTER how "
    "large the benchmark grows — a Bloom filter with a bounded bit "
    "budget (~1.5% false-positive mass at saturation), probed as a "
    "broadcast semi join so the corpus still never shuffles. Phase 2 "
    "exact-verifies only the prefilter survivors against the true "
    "shingle set in a candidates-only shuffle join — false positives "
    "die there, false negatives cannot exist (same md5 both sides), so "
    "the result is exactly q_decontaminate's (identical oracle). The "
    "two-phase shape caps broadcast memory at a constant while keeping "
    "the shuffled volume proportional to the (rare) overlap, not the "
    "corpus.",
)
def q_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = load_table(spark, sf_dir, "documents")
    bench_sh = (
        with_words(
            raw.filter(F.col("source") == "src0").repartition(8, F.col("doc_id"))
        )
        .select(F.explode(F.array_distinct(shingles_col(k=8))).alias("shingle"))
        .distinct()
        # BOTH the fp build and the exact-verify semi-join consume
        # bench_sh, and their downstream projections differ, so Spark's
        # reuse pass can't share the subtree — un-materialized, the src0
        # scan+split+shingle+distinct pipeline ran twice (r12-before
        # plan: 2 identical Generate stages over src0). bench_sh is the
        # benchmark's distinct shingles — bounded by the EVAL set, not
        # the corpus — so materializing it once is cheap at any scale
        # (guide §8.4: compute the shared proxy once).
        .localCheckpoint()
    )
    fp = bench_sh.select(
        F.substring(F.md5(F.col("shingle").cast("binary")), 1, 4).alias("fp")
    ).distinct()
    cand = raw.filter(F.col("source") != "src0").repartition(F.col("doc_id"))
    cand_sh = with_words(cand).select(
        "doc_id", F.explode(F.array_distinct(shingles_col(k=8))).alias("sh")
    )
    survivors = cand_sh.join(
        F.broadcast(fp),
        F.substring(F.md5(F.col("sh").cast("binary")), 1, 4) == F.col("fp"),
        "left_semi",
    )
    contaminated = (
        survivors.join(bench_sh, survivors.sh == bench_sh.shingle, "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("contaminated", F.lit(1))
    )
    # the accounting side never reads text, so skip the text-bearing
    # repartition exchange and re-scan just (doc_id, source) — the scan
    # is column-pruned to two columns (guide §2.2)
    cand_meta = raw.filter(F.col("source") != "src0").select(
        "doc_id", "source"
    )
    return (
        cand_meta.join(contaminated, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.coalesce(F.col("contaminated"), F.lit(0))).alias(
                "n_contaminated"
            ),
        )
        .orderBy("source")
    )


@register(
    "q_text_rarity",
    oracle=f"""
    WITH w AS (
        SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS word
        FROM documents
    ),
    df AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS df FROM w GROUP BY word)
    SELECT w.doc_id,
           CAST(COUNT(*) AS BIGINT)      AS n_distinct,
           CAST(MIN(df.df) AS BIGINT)    AS rarest_df,
           CAST(SUM(df.df) AS BIGINT)    AS sum_df,
           CAST(SUM(df.df) AS DOUBLE) / COUNT(*) AS mean_df
    FROM w JOIN df USING (word)
    GROUP BY w.doc_id
    """,
    doc="Word-rarity quality scoring — the corpus-statistics quality "
    "filter (a doc whose words are all corpus-rare is likelier junk or "
    "another language; one whose words are all ubiquitous is likelier "
    "boilerplate): per-word document frequency over DISTINCT (doc, "
    "word) pairs, joined back to each document's distinct words and "
    "aggregated to the doc's rarest-word df, total df, and mean df. "
    "Determinism: df values are exact BIGINTs, the mean is ONE IEEE "
    "division of exact integers — no float summation order anywhere. "
    "Plan: one exploded scan deduped to (doc, word) feeds both sides; "
    "the df side aggregates to vocab size and joins back on word — "
    "vocab-sized, broadcastable at any corpus scale (a few million "
    "words however many documents), so the corpus-sized side never "
    "shuffles twice. The same shape computes IDF tables, stopword "
    "lists, and OOV-rate features at 100 TB.",
)
def q_text_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    pairs = (
        d.select("doc_id", F.explode(F.array_distinct(words_col())).alias("word"))
    )
    df_tbl = pairs.groupBy("word").agg(F.count("*").alias("df"))
    return (
        pairs.join(F.broadcast(df_tbl), "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_distinct"),
            F.min("df").alias("rarest_df"),
            F.sum("df").alias("sum_df"),
            (F.sum("df").cast("double") / F.count("*")).alias("mean_df"),
        )
    )


@register(
    "q_contamination_score",
    oracle=f"""
    WITH bench AS (
        SELECT DISTINCT unnest(list_distinct({shingles_sql(k=8)})) AS shingle
        FROM documents WHERE source = 'src0'
    ),
    cand AS (
        SELECT doc_id, source, unnest(list_distinct({shingles_sql(k=8)})) AS sh
        FROM documents WHERE source <> 'src0'
    ),
    per_doc AS (
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_sh,
               CAST(SUM(CASE WHEN sh IN (SELECT shingle FROM bench)
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
        FROM cand GROUP BY doc_id
    ),
    scored AS (
        SELECT d.source,
               CAST(p.n_hit AS DOUBLE) / p.n_sh AS ratio
        FROM documents d JOIN per_doc p ON d.doc_id = p.doc_id
        WHERE d.source <> 'src0'
    )
    SELECT source,
           CASE WHEN ratio = 0 THEN 'clean'
                WHEN ratio <= 0.25 THEN 'low'
                WHEN ratio <= 0.5 THEN 'mid'
                WHEN ratio <= 0.75 THEN 'high'
                ELSE 'critical' END AS overlap_band,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM scored
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
    doc="GRADED benchmark-contamination scoring — the thresholded form "
    "of q_decontaminate's binary rule: per candidate document, the "
    "fraction of its distinct 8-gram shingles that appear anywhere in "
    "the benchmark slice (src0), banded into clean/low/mid/high/"
    "critical per source. Real pipelines drop 'critical', quarantine "
    "'high', and keep 'low' (one shared boilerplate shingle should not "
    "erase a long document — the binary rule's false-positive mode). "
    "Same scale shape as q_decontaminate: the benchmark shingle set "
    "broadcasts, candidates stream through a broadcast LEFT join with "
    "a per-doc hit count — the corpus never shuffles its text, only "
    "(doc_id, counts) pairs. The ratio is one exact-int division "
    "(IEEE-identical in both engines) and band edges compare that "
    "same double, so the histogram is value-checked, not approximate.",
)
def q_contamination_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = load_table(spark, sf_dir, "documents")
    bench_sh = (
        with_words(
            raw.filter(F.col("source") == "src0").repartition(8, F.col("doc_id"))
        )
        .select(F.explode(F.array_distinct(shingles_col(k=8))).alias("shingle"))
        .distinct()
    )
    cand = raw.filter(F.col("source") != "src0").repartition(F.col("doc_id"))
    cand_sh = with_words(cand).select(
        "doc_id", F.explode(F.array_distinct(shingles_col(k=8))).alias("sh")
    )
    hits = F.broadcast(bench_sh.withColumn("hit", F.lit(1)))
    per_doc = (
        cand_sh.join(hits, cand_sh.sh == hits.shingle, "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_sh"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0)))
            .cast("bigint")
            .alias("n_hit"),
        )
    )
    ratio = F.col("n_hit").cast("double") / F.col("n_sh")
    band = (
        F.when(ratio == 0, "clean")
        .when(ratio <= 0.25, "low")
        .when(ratio <= 0.5, "mid")
        .when(ratio <= 0.75, "high")
        .otherwise("critical")
    )
    # same trim as q_decontaminate: the scoring join needs only
    # (doc_id, source) — no reason to route it through the text
    # repartition exchange
    cand_meta = raw.filter(F.col("source") != "src0").select(
        "doc_id", "source"
    )
    return (
        cand_meta
        .join(per_doc, "doc_id")
        .select("source", band.alias("overlap_band"))
        .groupBy("source", "overlap_band")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
        .orderBy("source", "overlap_band")
    )


BPE_TOP_MERGES = 50


@register(
    "q_text_bpe_merge",
    oracle=f"""
    WITH w AS (
        SELECT unnest(string_split(text, ' ')) AS word FROM documents
    ),
    p AS (
        SELECT substr(word, CAST(i AS INT), 2) AS pair
        FROM (SELECT word, unnest(range(1, len(word))) AS i FROM w)
    )
    SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
    FROM p GROUP BY pair
    ORDER BY n DESC, pair
    LIMIT {BPE_TOP_MERGES}
    """,
    doc=f"BPE merge-candidate counting — the tokenizer-TRAINING "
    f"primitive (one iteration of byte-pair encoding: the most frequent "
    f"adjacent symbol pairs over the corpus become the next merges; "
    f"q_token_count applies a trained tokenizer, this trains one): "
    f"within-word adjacent character pairs via a pure map-side "
    f"sequence-transform explode (no Python, no join, single-char words "
    f"contribute nothing on both engines by the same empty-range rule), "
    f"map-side-combined counts, TakeOrderedAndProject top-"
    f"{BPE_TOP_MERGES} by (count, pair). The shuffle carries one row "
    f"per distinct pair per task — alphabet-squared-bounded, tiny at "
    f"any corpus size. At 100 TB this is the per-iteration cost of "
    f"training a real tokenizer on the full corpus: one scan, one "
    f"vocabulary-sized shuffle; successive merge iterations reuse the "
    f"same shape over re-segmented symbols.",
)
def q_text_bpe_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    words = d.select(F.explode(words_col()).alias("word"))
    # guard: sequence(1, 0) would generate a DESCENDING [1, 0], not an
    # empty list — single-char words must contribute no pairs, matching
    # DuckDB's empty range(1, 1)
    idxs = F.when(
        F.length("word") >= 2,
        F.sequence(F.lit(1), F.length("word") - 1),
    ).otherwise(F.array().cast("array<int>"))
    pair = F.explode(
        F.transform(idxs, lambda i: F.col("word").substr(i, F.lit(2)))
    ).alias("pair")
    return (
        words.select(pair)
        .groupBy("pair")
        .agg(F.count("*").cast("bigint").alias("n"))
        .orderBy(F.col("n").desc(), "pair")
        .limit(BPE_TOP_MERGES)
    )


BPE_TRAIN_ITERS = 10
# tokenizer training runs on a deterministic corpus SAMPLE (standard
# practice — HF/SentencePiece train on subsets; merge ranks converge
# long before full-corpus counts): doc_id % MOD == 0 keeps 1/MOD of
# documents, identically on both engines
BPE_TRAIN_SAMPLE_MOD = 4


def _bpe_train_oracle(k: int = BPE_TRAIN_ITERS) -> str:
    """K-iteration BPE trainer unrolled as K materialized CTE stages —
    the exact loop the Spark side runs, re-expressed relationally.
    Words render as delimited symbol strings ``(h)(e)(l)(l)(o)``; a
    merge is DuckDB ``replace`` of ``(a)(b)`` with ``(ab)`` (both
    engines' replace scans left-to-right non-overlapping — the greedy
    BPE application rule). MATERIALIZED stops DuckDB inlining each
    stage twice (count + rewrite both reference it)."""
    stages = [
        f"""s0 AS MATERIALIZED (
        SELECT regexp_replace(word, '(.)', '(\\1)', 'g') AS seq
        FROM (SELECT unnest(string_split(text, ' ')) AS word
              FROM documents
              WHERE doc_id % {BPE_TRAIN_SAMPLE_MOD} = 0)
        WHERE len(word) >= 2
    )"""
    ]
    for i in range(1, k + 1):
        prev = f"s{i - 1}"
        stages.append(
            f"""c{i} AS MATERIALIZED (
        SELECT '(' || syms[i] || ')(' || syms[i + 1] || ')' AS pair,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM (
            SELECT syms, unnest(range(1, len(syms))) AS i
            FROM (SELECT string_split(substr(seq, 2, len(seq) - 2),
                                      ')(') AS syms
                  FROM {prev})
        )
        GROUP BY 1
    )"""
        )
        stages.append(
            f"b{i} AS (SELECT {i} AS it, pair, n FROM c{i} "
            f"ORDER BY n DESC, pair LIMIT 1)"
        )
        if i < k:
            stages.append(
                f"""s{i} AS MATERIALIZED (
        SELECT replace(seq, (SELECT pair FROM b{i}),
                       (SELECT replace(pair, ')(', '') FROM b{i})) AS seq
        FROM {prev}
    )"""
            )
    union = "\nUNION ALL\n".join(
        f"SELECT it, pair, n FROM b{i}" for i in range(1, k + 1)
    )
    return (
        "WITH "
        + ",\n".join(stages)
        + "\n"
        + union
        + "\nORDER BY it"
    )


@register(
    "q_text_bpe_train",
    oracle=_bpe_train_oracle(),
    doc=f"Full BPE tokenizer-TRAINING loop ({BPE_TRAIN_ITERS} merges over a "
    f"deterministic 1/{BPE_TRAIN_SAMPLE_MOD} corpus sample — standard "
    f"tokenizer practice, mirrored exactly by the oracle) — "
    f"q_text_bpe_merge is one iteration's candidate count; this is the "
    f"trainer: per round, count adjacent symbol pairs over the corpus, "
    f"pick the (count DESC, pair ASC) argmax, APPLY it everywhere "
    f"(left-to-right non-overlapping — both engines' native replace "
    f"semantics, so 'aaa' + merge(a,a) yields [aa, a] identically), "
    f"re-count over the re-segmented symbols. Words live as delimited "
    f"symbol strings ('(h)(e)(l)(l)(o)'); each round is expression-only "
    f"— split, sequence-transform explode, map-side-combined counts "
    f"into a distinct-pair-bounded shuffle, then ONE string replace "
    f"over the cached corpus. Per-round lineage is cut by persisting "
    f"the rewritten sequences and unpersisting the prior round, so "
    f"round k costs one pass over cached data + one "
    f"alphabet-squared-bounded shuffle — K rounds = K linear passes, "
    f"the cost profile a 100 TB tokenizer train actually pays "
    f"(HuggingFace tokenizers does exactly this loop in C; here the "
    f"corpus never leaves the cluster). The oracle unrolls the same "
    f"{BPE_TRAIN_ITERS} stages relationally; argmax ties, merge "
    f"application, and re-segmentation must agree value-for-value "
    f"every round or the hash diverges.",
)
def q_text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.createDataFrame(
        _bpe_merges(spark, sf_dir), "it int, pair string, n bigint"
    )


def _bpe_merges(spark: SparkSession, sf_dir: str) -> list[tuple[int, str, int]]:
    """The trained [(iteration, pair, count)], trained once per process per
    (abspath, documents mtime): encode reuses the merge table without
    re-running the loop, and a corpus regenerated in place within the
    process is a new key."""
    import os

    try:
        mt = os.path.getmtime(os.path.join(sf_dir, "documents.parquet"))
    except OSError:
        mt = 0.0
    key = (_bpe_merges, os.path.abspath(sf_dir), mt)
    return once(key, lambda: _bpe_train(spark, sf_dir))


def _bpe_train(spark: SparkSession, sf_dir: str) -> list[tuple[int, str, int]]:
    d = load_table(spark, sf_dir, "documents").where(
        F.pmod("doc_id", F.lit(BPE_TRAIN_SAMPLE_MOD)) == 0
    )
    cur = (
        d.select(F.explode(words_col()).alias("word"))
        .where(F.length("word") >= 2)
        .select(
            F.regexp_replace(F.col("word"), "(.)", r"($1)").alias("seq")
        )
        # spread the word sequences across the cluster ONCE: every
        # round's count and rewrite then runs parallel over the cached
        # partitions (the source corpus may be a single parquet split).
        # Width follows the cluster (defaultParallelism = total executor
        # cores), not a constant — local[32] and a 1000-executor cluster
        # both fan out fully.
        .repartition(spark.sparkContext.defaultParallelism)
    )
    merges: list[tuple[int, str, int]] = []
    prev_cached = None
    for it in range(1, BPE_TRAIN_ITERS + 1):
        cur = cur.persist()
        syms = F.split(
            F.col("seq").substr(F.lit(2), F.length("seq") - 2), r"\)\("
        )
        n = F.size(syms)
        idxs = F.when(
            n >= 2, F.sequence(F.lit(1), n - 1)
        ).otherwise(F.array().cast("array<int>"))
        pair = F.explode(
            F.transform(
                idxs,
                lambda i: F.concat(
                    F.lit("("),
                    F.element_at(syms, i),
                    F.lit(")("),
                    F.element_at(syms, i + 1),
                    F.lit(")"),
                ),
            )
        ).alias("pair")
        top = (
            cur.select(pair)
            .groupBy("pair")
            .agg(F.count("*").cast("bigint").alias("n"))
            .orderBy(F.col("n").desc(), "pair")
            .limit(1)
            .collect()
        )
        if prev_cached is not None:
            prev_cached.unpersist()
        prev_cached = cur
        if not top:
            break
        p, cnt = top[0]["pair"], int(top[0]["n"])
        merges.append((it, p, cnt))
        if it < BPE_TRAIN_ITERS:
            cur = cur.select(
                F.replace(
                    F.col("seq"), F.lit(p), F.lit(p.replace(")(", ""))
                ).alias("seq")
            )
    if prev_cached is not None:
        prev_cached.unpersist()
    return merges


def _bpe_encode_oracle(k: int = BPE_TRAIN_ITERS) -> str:
    """Encode oracle: re-derive the K trained merges with the SAME
    stages as :func:`_bpe_train_oracle`, then apply them in rank order
    to the FULL corpus (every doc, every word) and count per-document
    symbols before/after. The train CTEs are lifted verbatim from the
    train oracle text (one source of truth for the merge derivation)."""
    train = _bpe_train_oracle(k)
    # train oracle = "WITH <stages>\n<union>\nORDER BY it" — keep the
    # stages, drop its SELECT tail
    stages_text = train[len("WITH ") : train.index("\nSELECT it, pair, n")]
    # the tail starts at the first b-select union; cut at the LAST
    # closing of the final stage: find the end of the stage list by
    # locating the final ")\n" before the first "SELECT it"
    enc = [
        """enc0 AS MATERIALIZED (
        SELECT doc_id,
               regexp_replace(word, '(.)', '(\\1)', 'g') AS seq,
               len(word) AS n_char
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
              FROM documents)
        WHERE len(word) >= 1
    )"""
    ]
    for i in range(1, k + 1):
        # COALESCE to a never-occurring needle (chr(1)) when round i
        # trained NO merge (tiny corpus fully merged early): a NULL
        # needle would NULL-poison every doc's sequence and with it all
        # token counts, where the engine side simply applies the
        # shorter merge list
        enc.append(
            f"""enc{i} AS MATERIALIZED (
        SELECT doc_id,
               replace(seq,
                       COALESCE((SELECT pair FROM b{i}), chr(1)),
                       COALESCE((SELECT replace(pair, ')(', '')
                                 FROM b{i}), chr(1))) AS seq,
               n_char
        FROM enc{i - 1}
    )"""
        )
    return (
        "WITH "
        + stages_text
        + ",\n"
        + ",\n".join(enc)
        + f"""
    SELECT doc_id,
           CAST(SUM(n_char) AS BIGINT) AS n_char_tokens,
           CAST(SUM(len(string_split(substr(seq, 2, len(seq) - 2),
                                     ')('))) AS BIGINT) AS n_bpe_tokens
    FROM enc{k}
    GROUP BY doc_id
    """
    )


@register(
    "q_text_bpe_encode",
    oracle=_bpe_encode_oracle(),
    doc=f"BPE ENCODE — the apply leg completing the tokenizer pipeline "
    f"(q_text_bpe_merge counts one iteration's candidates, "
    f"q_text_bpe_train learns the {BPE_TRAIN_ITERS}-merge table, this "
    f"tokenizes the FULL corpus with it): every word becomes its "
    f"delimited character sequence, the trained merges apply in RANK "
    f"ORDER as chained left-to-right non-overlapping replaces (the "
    f"training-time segmentation), and per-document token counts come "
    f"out before (characters) and after (BPE symbols) — the "
    f"compression-ratio signal a tokenizer team tracks per corpus "
    f"slice. Encoding is one expression-only map pass over the corpus "
    f"(ten chained replaces, no shuffle until the per-doc count "
    f"aggregation); the merge table is driver-held from the trainer, "
    f"rebuilt once per process (the ANN build-once convention). The "
    f"oracle re-derives the merges with the trainer's own stages and "
    f"re-applies them relationally — a drifted merge rank, a "
    f"non-greedy application, or a missed word all shift token counts "
    f"and break the hash.",
)
def q_text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    merges = _bpe_merges(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select("doc_id", F.explode(words_col()).alias("word"))
        .where(F.length("word") >= 1)
    )
    seq = F.regexp_replace(F.col("word"), "(.)", r"($1)")
    for _it, p, _n in merges:
        seq = F.replace(seq, F.lit(p), F.lit(p.replace(")(", "")))
    n_sym = F.size(
        F.split(seq.substr(F.lit(2), F.length(seq) - 2), r"\)\(")
    )
    return (
        words.select("doc_id", F.length("word").alias("n_char"), n_sym.alias("n_sym"))
        .groupBy("doc_id")
        .agg(
            F.sum("n_char").cast("bigint").alias("n_char_tokens"),
            F.sum("n_sym").cast("bigint").alias("n_bpe_tokens"),
        )
    )


# ------------------------------------------- perplexity quality filter

# fixed-point surprisal: SCALE adds 10 fractional bits ahead of the
# integer log2, OOV_BITS is the smoothing penalty for transitions the
# pruned LM does not carry (= a probability floor of 2^(10-24) ≈ 6e-5)
PPL_SCALE = 1024
PPL_OOV_BITS = 24
PPL_KEEP_MAX = 15.2  # mean bits/transition below this: keep
PPL_REJECT_MIN = 15.4  # at/above this: reject; between: flag


@register(
    "q_text_perplexity",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS words FROM documents
    ),
    bg AS (
        SELECT doc_id,
               list_extract(words, CAST(i AS INT))     AS w1,
               list_extract(words, CAST(i + 1 AS INT)) AS w2
        FROM (SELECT doc_id, words, UNNEST(range(1, len(words))) AS i
              FROM w)
    ),
    c AS (
        SELECT w1, w2, COUNT(*) AS n FROM bg GROUP BY 1, 2
    ),
    model AS (
        SELECT w1, w2, n, SUM(n) OVER (PARTITION BY w1) AS d
        FROM c QUALIFY n >= {BIGRAM_MIN_COUNT}
    ),
    scored AS (
        SELECT bg.doc_id,
               CASE WHEN model.n IS NULL THEN {PPL_OOV_BITS}
                    ELSE length(bin(model.d * {PPL_SCALE} // model.n))
               END AS s
        FROM bg LEFT JOIN model
          ON bg.w1 = model.w1 AND bg.w2 = model.w2
    ),
    perdoc AS (
        SELECT doc_id,
               CAST(SUM(s) AS BIGINT) AS bits,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams
        FROM scored GROUP BY doc_id
    )
    SELECT w.doc_id,
           COALESCE(n_bigrams, 0) AS n_bigrams,
           CAST(COALESCE(bits, 0) AS DOUBLE)
               / GREATEST(COALESCE(n_bigrams, 0), 1) AS mean_bits,
           CASE WHEN COALESCE(bits, 0) * 1.0
                     < {PPL_KEEP_MAX} * GREATEST(COALESCE(n_bigrams,0),1)
                THEN 'keep'
                WHEN COALESCE(bits, 0) * 1.0
                     >= {PPL_REJECT_MIN} * GREATEST(COALESCE(n_bigrams,0),1)
                THEN 'reject'
                ELSE 'flag' END AS band
    FROM w LEFT JOIN perdoc USING (doc_id)
    """,
    doc=f"Bigram-LM perplexity quality filter (the CCNet-style scoring "
    f"step q_text_bigram's statistics exist for): the corpus-trained "
    f"pruned LM — P(w2|w1) pairs with count >= {BIGRAM_MIN_COUNT}, "
    f"denominators over the FULL distribution — broadcasts against "
    f"every document's transitions, and each doc gets a mean surprisal "
    f"plus a keep/flag/reject band. All arithmetic is FIXED-POINT so "
    f"DuckDB reproduces it bit-exactly with no transcendental drift: "
    f"per-transition surprisal = length(bin(d*{PPL_SCALE} DIV n)) — the "
    f"integer floor(log2) of the inverse probability with 10 fractional "
    f"bits, pure integer division + binary-string length in both "
    f"engines — OOV transitions take a flat {PPL_OOV_BITS}-bit "
    f"smoothing penalty, per-doc totals are exact BIGINT sums "
    f"(order-invariant), and mean_bits is ONE IEEE division of exact "
    f"integers (correctly rounded identically everywhere). Banding "
    f"compares integer cross-products, never accumulated floats. "
    f"Shuffles carry (w1, w2) keys and per-doc integer partials only; "
    f"the model join is a broadcast at any corpus size (the pruned LM "
    f"is vocabulary-bounded, not corpus-bounded).",
)
def q_text_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    d = with_words(docs, out="words")
    n1 = F.greatest(F.size("words") - 1, F.lit(0))
    bg = d.select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.slice("words", 1, n1).alias("w1"),
                F.slice("words", 2, n1).alias("w2"),
            )
        ).alias("b"),
    ).select("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    counts = bg.groupBy("w1", "w2").agg(F.count("*").alias("n"))
    model = counts.withColumn(
        "d", F.sum("n").over(Window.partitionBy("w1"))
    ).filter(F.col("n") >= BIGRAM_MIN_COUNT)
    scored = bg.join(F.broadcast(model), ["w1", "w2"], "left").select(
        "doc_id",
        F.when(F.col("n").isNull(), F.lit(PPL_OOV_BITS))
        .otherwise(
            F.length(
                F.conv(
                    F.expr(f"d * {PPL_SCALE} DIV n").cast("string"), 10, 2
                )
            )
        )
        .cast("long")
        .alias("s"),
    )
    perdoc = scored.groupBy("doc_id").agg(
        F.sum("s").alias("bits"), F.count("*").alias("n_bigrams")
    )
    out = (
        docs.select("doc_id")
        .join(perdoc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            F.coalesce("bits", F.lit(0)).alias("bits"),
        )
    )
    k = F.greatest(F.col("n_bigrams"), F.lit(1))
    return out.select(
        "doc_id",
        "n_bigrams",
        (F.col("bits").cast("double") / k).alias("mean_bits"),
        F.when(F.col("bits") * 1.0 < PPL_KEEP_MAX * k, F.lit("keep"))
        .when(F.col("bits") * 1.0 >= PPL_REJECT_MIN * k, F.lit("reject"))
        .otherwise(F.lit("flag"))
        .alias("band"),
    )
