"""Text-analysis operators over `documents` (SURVEY.md §2.9 L4/L5):
token statistics, top terms, TF-IDF keyword extraction, quality scoring,
content fingerprinting, and a corpus-profile language classifier.

Scale notes: everything is explode → groupBy → join, i.e. shuffles keyed on
(doc, term) or (lang, term) — high-cardinality uniform keys, no skew. The
document-frequency relation is tiny (vocabulary-sized) and broadcast back,
so the big exploded token relation shuffles once. No Python UDFs anywhere:
tokenization is `split`, scoring is arithmetic, fingerprints are md5 — all
whole-stage-codegen expressions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdatainfinance1_spark.functions.materialize import materialize
from bigdatainfinance1_spark.functions.partitioning import parallelize_scan
from bigdatainfinance1_spark.registry import query
from bigdatainfinance1_spark.sources.catalog import load_table

_TOKENS_SQL = "SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term FROM documents"


def _tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NOT parallelize_scan'd: the pre-shuffle work here is a plain
    # split+explode (no hashing), so the extra exchange costs more than the
    # single-split scan stage it would spread (measured +0.4 s on
    # q_top_terms); the counting itself runs post-shuffle in parallel.
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", "lang", F.explode(F.split("text", " ")).alias("term"))


@query(
    "q_token_stats",
    oracle="""
    SELECT
      lang,
      count(*)                                              AS n_docs,
      round(avg(len(string_split(text, ' '))), 4)           AS avg_tokens,
      CAST(sum(n_chars) AS BIGINT)                          AS total_chars,
      count(DISTINCT source)                                AS n_sources,
      CAST(sum(CASE WHEN length(text) = n_chars THEN 1 ELSE 0 END) AS BIGINT)
                                                            AS n_chars_consistent
    FROM documents
    GROUP BY lang
    """,
    tags=("text", "llm"),
)
def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4: per-language token/char statistics (n_chars cross-checked against
    length(text) as a data-quality assertion)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg(F.size(F.split("text", " "))), 4).alias("avg_tokens"),
        F.sum("n_chars").alias("total_chars"),
        F.countDistinct("source").alias("n_sources"),
        F.sum(F.when(F.length("text") == F.col("n_chars"), 1).otherwise(0))
        .cast("long")
        .alias("n_chars_consistent"),
    )


@query(
    "q_top_terms",
    oracle=f"""
    WITH cnt AS (
      SELECT lang, term, count(*) AS n
      FROM ({_TOKENS_SQL})
      GROUP BY lang, term
    )
    SELECT lang, term, n, CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT *, row_number() OVER (PARTITION BY lang ORDER BY n DESC, term) AS rnk
      FROM cnt
    )
    WHERE rnk <= 5
    """,
    tags=("text", "llm"),
)
def top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4: top-5 terms per language (explode → count → ranked window with
    term tiebreak)."""
    cnt = _tokens(spark, sf_dir).groupBy("lang", "term").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("term"))
    return (
        cnt.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 5)
        .select("lang", "term", "n", "rnk")
    )


@query(
    "q_tfidf_top",
    oracle=f"""
    WITH tok AS ({_TOKENS_SQL}),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
    df AS (
      SELECT term, count(*) AS df
      FROM (SELECT DISTINCT doc_id, term FROM tok)
      GROUP BY term
    ),
    nd AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT
        tf.doc_id, tf.term, tf.tf, df.df,
        tf.tf * ln((nd.n_docs + 1.0) / (df.df + 1.0)) AS score
      FROM tf JOIN df USING (term) CROSS JOIN nd
    )
    SELECT doc_id, term, tf, df, round(score, 6) AS tfidf,
           CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rnk
      FROM scored
    )
    WHERE rnk <= 3
    """,
    tags=("text", "llm", "flagship"),
)
def tfidf_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5: TF-IDF keyword extraction — top-3 terms per document.
    idf = ln((N+1)/(df+1)); the df relation is vocabulary-sized and
    broadcast, so the exploded token relation shuffles once (on doc_id,term).
    df is DERIVED from the tf aggregate (docs-per-term over rows already
    unique in (doc_id, term)) instead of re-tokenizing — one corpus
    scan/explode instead of two, measured 2.5× at sf0.1, and the saving
    grows with corpus size. Ranking runs on the raw score (identical tf/df
    ⇒ identical score in both engines), output rounded."""
    tok = _tokens(spark, sf_dir)
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    nd = load_table(spark, sf_dir, "documents").agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(nd))
        .withColumn("score", F.col("tf") * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "tf", "df", F.round("score", 6).alias("tfidf"), "rnk")
    )


@query(
    "q_text_quality",
    oracle="""
    SELECT
      doc_id,
      lang,
      CAST(len(string_split(text, ' ')) AS BIGINT)                      AS n_tokens,
      CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)       AS n_unique,
      round(len(list_distinct(string_split(text, ' '))) * 1.0
            / len(string_split(text, ' ')), 6)                          AS type_token_ratio,
      round((n_chars - (len(string_split(text, ' ')) - 1) * 1.0)
            / len(string_split(text, ' ')), 6)                          AS avg_token_len,
      round(len(list_filter(string_split(text, ' '), t -> length(t) <= 2)) * 1.0
            / len(string_split(text, ' ')), 6)                          AS short_token_ratio
    FROM documents
    """,
    tags=("text", "llm"),
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4: per-document quality signals — lexical diversity (type/token
    ratio), mean token length, short-token ratio. Pure array expressions, no
    explode needed (per-row, embarrassingly parallel)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tokens = F.size(toks)
    n_unique = F.size(F.array_distinct(toks))
    n_short = F.size(F.filter(toks, lambda t: F.length(t) <= 2))
    return docs.select(
        "doc_id",
        "lang",
        n_tokens.cast("long").alias("n_tokens"),
        n_unique.cast("long").alias("n_unique"),
        F.round(n_unique * 1.0 / n_tokens, 6).alias("type_token_ratio"),
        F.round((F.col("n_chars") - (n_tokens - 1) * 1.0) / n_tokens, 6).alias("avg_token_len"),
        F.round(n_short * 1.0 / n_tokens, 6).alias("short_token_ratio"),
    )


@query(
    "q_doc_fingerprint",
    oracle="""
    WITH fp AS (
      SELECT
        doc_id,
        md5(array_to_string(list_sort(string_split(text, ' ')), ' ')) AS fingerprint
      FROM documents
    )
    SELECT
      f.doc_id,
      f.fingerprint,
      c.n_same AS n_same_fingerprint
    FROM fp f
    JOIN (SELECT fingerprint, count(*) AS n_same FROM fp GROUP BY fingerprint) c
      USING (fingerprint)
    """,
    tags=("text", "dedup", "llm"),
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4: order-insensitive content fingerprint (md5 of sorted token
    multiset) — catches token-reordered duplicates that exact-hash dedup
    misses; the fingerprint count join is a self-join on a uniform hash
    key."""
    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select(
        "doc_id",
        F.md5(F.concat_ws(" ", F.sort_array(F.split("text", " ")))).alias("fingerprint"),
    )
    counts = fp.groupBy("fingerprint").agg(F.count(F.lit(1)).alias("n_same_fingerprint"))
    return fp.join(counts, "fingerprint").select("doc_id", "fingerprint", "n_same_fingerprint")


@query(
    "q_langid_profile",
    oracle=f"""
    WITH tok AS ({_TOKENS_SQL}),
    lang_term AS (SELECT lang, term, count(*) AS n FROM tok GROUP BY lang, term),
    profile AS (
      SELECT lang AS p_lang, term
      FROM (
        SELECT *, row_number() OVER (PARTITION BY lang ORDER BY n DESC, term) AS rnk
        FROM lang_term
      )
      WHERE rnk <= 20
    ),
    doc_votes AS (
      SELECT t.doc_id, p.p_lang, count(*) AS overlap
      FROM (SELECT DISTINCT doc_id, term FROM tok) t
      JOIN profile p USING (term)
      GROUP BY t.doc_id, p.p_lang
    ),
    guess AS (
      SELECT doc_id, p_lang AS lang_guess
      FROM (
        SELECT *, row_number() OVER (
          PARTITION BY doc_id ORDER BY overlap DESC, p_lang
        ) AS rnk
        FROM doc_votes
      )
      WHERE rnk = 1
    )
    SELECT
      d.lang,
      count(*) AS n_docs,
      CAST(sum(CASE WHEN g.lang_guess = d.lang THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
      round(sum(CASE WHEN g.lang_guess = d.lang THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS accuracy
    FROM documents d
    JOIN guess g USING (doc_id)
    GROUP BY d.lang
    """,
    tags=("text", "llm"),
)
def langid_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4: corpus-profile language identification — build a top-20-term
    profile per language from the corpus itself, classify each doc by maximal
    profile overlap (tiebreak alphabetical), report per-language accuracy.
    The profile relation is tiny and broadcast; classification is one
    equi-join on term."""
    tok = _tokens(spark, sf_dir)
    lang_term = tok.groupBy("lang", "term").agg(F.count(F.lit(1)).alias("n"))
    w_prof = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("term"))
    profile = (
        lang_term.withColumn("rnk", F.row_number().over(w_prof))
        .filter(F.col("rnk") <= 20)
        .select(F.col("lang").alias("p_lang"), "term")
    )
    doc_terms = tok.select("doc_id", "term").distinct()
    votes = (
        doc_terms.join(F.broadcast(profile), "term")
        .groupBy("doc_id", "p_lang")
        .agg(F.count(F.lit(1)).alias("overlap"))
    )
    w_guess = Window.partitionBy("doc_id").orderBy(F.col("overlap").desc(), F.col("p_lang"))
    guess = (
        votes.withColumn("rnk", F.row_number().over(w_guess))
        .filter(F.col("rnk") == 1)
        .select("doc_id", F.col("p_lang").alias("lang_guess"))
    )
    docs = load_table(spark, sf_dir, "documents")
    correct = F.when(F.col("lang_guess") == F.col("lang"), 1).otherwise(0)
    return (
        docs.join(guess, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(correct).cast("long").alias("n_correct"),
            F.round(F.sum(correct) * 1.0 / F.count(F.lit(1)), 6).alias("accuracy"),
        )
    )


_BPE_PAT = " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"


@query(
    "q_bpe_token_count",
    oracle=f"""
    SELECT
      lang,
      count(*)                                                       AS n_docs,
      CAST(sum(len(regexp_extract_all(text, '{_BPE_PAT}'))) AS BIGINT) AS total_bpe_tokens,
      round(avg(len(regexp_extract_all(text, '{_BPE_PAT}'))), 4)       AS avg_bpe_tokens,
      round(avg(len(string_split(text, ' '))), 4)                      AS avg_ws_tokens
    FROM documents
    GROUP BY lang
    """,
    tags=("text", "llm"),
)
def bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4: BPE-style pre-tokenizer count next to the whitespace count — the
    token-budget estimator a training pipeline runs before sampling. The
    pattern is the GPT-2 pre-tokenizer's shape (letter runs / digit runs /
    punctuation runs, each absorbing one leading space) restricted to a
    lookahead-free subset so Java regex (Spark) and RE2 (DuckDB) match
    identically — verified 0/500 count mismatches on the mixed-language
    corpus. Stays entirely in whole-stage codegen: regexp_extract_all +
    size, no UDF."""
    docs = load_table(spark, sf_dir, "documents")
    n_bpe = F.expr(f"size(regexp_extract_all(text, '{_BPE_PAT}', 0))")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n_bpe).cast("bigint").alias("total_bpe_tokens"),
        F.round(F.avg(n_bpe), 4).alias("avg_bpe_tokens"),
        F.round(F.avg(F.size(F.split("text", " "))), 4).alias("avg_ws_tokens"),
    )


@query(
    "q_doc_repetition",
    oracle="""
    WITH sh AS (
      SELECT doc_id, unnest(
        list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
      ) AS s
      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
      WHERE len(t) >= 3
    ),
    per_shingle AS (
      SELECT doc_id, s, count(*) AS c FROM sh GROUP BY doc_id, s
    )
    SELECT
      doc_id,
      CAST(sum(c) AS BIGINT)                      AS n_shingles,
      count(*)                                    AS n_distinct,
      round(1 - count(*) * 1.0 / sum(c), 4)       AS rep_ratio,
      CAST(max(c) AS BIGINT)                      AS max_repeat
    FROM per_shingle GROUP BY doc_id
    """,
    tags=("text", "llm", "quality"),
)
def doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4 (quality): within-document repetition — the Gopher/RefinedWeb-class
    signal that flags boilerplate and degenerate generations. Per doc:
    total 3-word shingles WITH multiplicity, distinct shingles, repetition
    ratio 1 − distinct/total, and the most-repeated shingle's count. Two
    chained aggregations on (doc, shingle) — shingles never leave their doc
    group, so at 100 TB this is a per-doc-keyed shuffle with bounded groups,
    the same shape as token_stats."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("t")).filter(F.size("t") >= 3)
    sh = toks.select(
        "doc_id",
        F.explode(
            F.expr("transform(sequence(0, size(t)-3), i -> concat_ws(' ', t[i], t[i+1], t[i+2]))")
        ).alias("s"),
    )
    per_shingle = sh.groupBy("doc_id", "s").agg(F.count(F.lit(1)).alias("c"))
    return per_shingle.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_shingles"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.round(1 - F.count(F.lit(1)) / F.sum("c"), 4).alias("rep_ratio"),
        F.max("c").cast("long").alias("max_repeat"),
    )


@query(
    "q_unigram_logprob",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    tf AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
    n AS (SELECT count(*) AS total FROM toks)
    SELECT
      t.doc_id,
      count(*)                                              AS n_tokens,
      round(sum(ln(tf.cnt * 1.0 / (SELECT total FROM n))) / count(*), 6)
                                                            AS avg_logprob
    FROM toks t JOIN tf ON t.tok = tf.tok
    GROUP BY t.doc_id
    """,
    tags=("text", "llm", "quality"),
)
def unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4 (quality): per-document average unigram log-probability under the
    corpus's own unigram distribution — the perplexity-proxy score used for
    CCNet-style quality filtering (a doc of globally-rare tokens scores very
    negative; boilerplate scores high). Scale shape: one corpus term count,
    broadcast back to the token stream (vocabulary-sized — the tf relation
    is small however big the corpus), one per-doc aggregation. The ratio is
    computed inside ln per token and averaged with one float division at the
    end; round(·,6) absorbs cross-engine libm/summation ulps."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    tf = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    totals = toks.agg(F.count(F.lit(1)).alias("total"))
    scored = (
        toks.join(F.broadcast(tf), "tok")
        .crossJoin(F.broadcast(totals))
        .select("doc_id", F.log(F.col("cnt") * 1.0 / F.col("total")).alias("lp"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(F.sum("lp") / F.count(F.lit(1)), 6).alias("avg_logprob"),
    )


@query(
    "q_doc_chunking",
    oracle="""
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS toks,
             len(string_split(text, ' ')) AS n
      FROM documents
    ),
    idx AS (
      SELECT doc_id, toks, n,
        unnest(range(0, CASE WHEN n <= 32 THEN 1
                             ELSE CAST(ceil((n - 32) / 24.0) AS BIGINT) + 1 END))
          AS chunk_id
      FROM d
    )
    SELECT
      doc_id,
      CAST(chunk_id AS BIGINT) AS chunk_id,
      CAST(len(toks[chunk_id * 24 + 1 : least(chunk_id * 24 + 32, n)]) AS BIGINT)
        AS n_chunk_tokens,
      md5(array_to_string(toks[chunk_id * 24 + 1 : least(chunk_id * 24 + 32, n)], ' '))
        AS chunk_md5
    FROM idx
    """,
    tags=("text", "llm-pipeline"),
)
def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM-pipeline chunking: split each document into overlapping token
    windows (32 tokens, stride 24 — 8-token overlap), the standard
    context-window prep before embedding/training. Pure narrow ops — split,
    a sequence() explode sized by closed-form chunk count (never a
    driver loop), slice, concat — zero shuffles: chunks stay co-partitioned
    with their documents. Chunk text is emitted as md5 so the verify
    relation stays narrow. Last chunk is allowed short (slice truncates at
    the document end on both engines)."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        F.split("text", " ").alias("toks"),
        F.size(F.split("text", " ")).alias("n"),
    )
    n_chunks = (
        F.when(F.col("n") <= 32, F.lit(1))
        .otherwise(F.ceil((F.col("n") - 32) / 24.0).cast("long") + 1)
    )
    idx = d.select(
        "doc_id",
        "toks",
        F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)).alias("chunk_id"),
    )
    chunk = F.expr("slice(toks, chunk_id * 24 + 1, 32)")
    return idx.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.size(chunk).cast("long").alias("n_chunk_tokens"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_md5"),
    )


@query(
    "q_pmi_bigrams",
    oracle="""
    WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
    uni AS (
      SELECT w, count(*) AS c
      FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w
    ),
    big AS (
      SELECT w1, w2, count(*) AS c_ab FROM (
        SELECT t[i] AS w1, t[i + 1] AS w2
        FROM (SELECT t, unnest(range(1, len(t))) AS i FROM toks)
      ) GROUP BY w1, w2
    ),
    tot AS (
      SELECT (SELECT sum(c) FROM uni) AS n_uni,
             (SELECT sum(c_ab) FROM big) AS n_big
    )
    SELECT w1, w2, c_ab,
      round(ln((c_ab / n_big) / ((ca.c / n_uni) * (cb.c / n_uni))), 6) AS pmi
    FROM big
    JOIN uni ca ON big.w1 = ca.w
    JOIN uni cb ON big.w2 = cb.w
    CROSS JOIN tot
    WHERE c_ab >= 10
    ORDER BY pmi DESC, w1, w2
    LIMIT 20
    """,
    tags=("text", "llm-pipeline"),
)
def pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top-20 bigrams by pointwise mutual information —
    ln(p(ab) / (p(a)·p(b))) over adjacent-token pairs, the classic lexical
    association score used in phrase induction for tokenizer/corpus prep.
    Bigrams come from a transform-over-sequence explode (no UDF); unigram
    and bigram count relations are vocabulary-sized and broadcast back onto
    the bigram relation; totals ride in via a 1-row cross join. Order by
    the ROUNDED score with full (w1, w2) tiebreak so top-20 is engine-
    stable. Guarded to docs with >= 2 tokens (Spark's sequence() would
    otherwise run descending)."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(F.split("text", " ").alias("t")).filter(F.size("t") >= 2)
    uni = d.select(F.explode("t").alias("w")).groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    big = (
        d.select(
            F.explode(
                F.expr("transform(sequence(1, size(t) - 1), i -> struct(t[i-1] AS w1, t[i] AS w2))")
            ).alias("bg")
        )
        .select("bg.w1", "bg.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= 10)
    )
    tot = (
        d.agg(
            F.sum(F.size("t")).alias("n_uni"),
            F.sum(F.size("t") - 1).alias("n_big"),
        )
    )
    ca = uni.select(F.col("w").alias("w1"), F.col("c").alias("c_a"))
    cb = uni.select(F.col("w").alias("w2"), F.col("c").alias("c_b"))
    return (
        big.join(F.broadcast(ca), "w1")
        .join(F.broadcast(cb), "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "c_ab",
            F.round(
                F.log(
                    (F.col("c_ab") / F.col("n_big"))
                    / ((F.col("c_a") / F.col("n_uni")) * (F.col("c_b") / F.col("n_uni")))
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(20)
    )


@query(
    "q_tokenizer_fertility",
    oracle="""
    SELECT
      lang,
      count(*) AS n_docs,
      CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
      CAST(sum(length(text)) AS BIGINT)                 AS n_chars,
      round(sum(len(string_split(text, ' '))) * 1e0 / sum(length(text)), 6)
        AS tokens_per_char
    FROM documents
    GROUP BY lang
    """,
    tags=("text", "llm-pipeline"),
)
def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language — tokens emitted per input
    character, THE metric for judging how well a tokenizer serves each
    language (high fertility = wasteful segmentation = more compute per
    byte of signal). Whitespace tokens here; swap the splitter for a real
    tokenizer via the U-family UDFs without changing the aggregation. One
    scan, one small groupBy — counters, not materialized tokens: the
    token arrays never leave the row."""
    docs = load_table(spark, sf_dir, "documents")
    n_toks = F.size(F.split("text", " "))
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n_toks).cast("long").alias("n_tokens"),
        F.sum(F.length("text")).cast("long").alias("n_chars"),
        F.round(F.sum(n_toks) * F.lit(1.0) / F.sum(F.length("text")), 6).alias(
            "tokens_per_char"
        ),
    )


BPE_MERGES = 6


def _bpe_oracle(iters: int = BPE_MERGES) -> str:
    """DuckDB oracle for q_bpe_train: the merge-learning loop unrolled as
    chained CTEs (the q_kmeans_embeddings pattern). Each iteration counts
    adjacent symbol pairs weighted by word frequency, picks the most
    frequent pair (ties → lexicographic (x, y), both engines), and applies
    the merge with an identical left-to-right single-pass fold
    (list_reduce here, aggregate() on the Spark side). All state is
    integer counts and strings — no floats anywhere, so cross-engine
    equality is exact."""
    head = """
    WITH words AS MATERIALIZED (
      SELECT tok AS word, count(*) AS cnt
      FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      GROUP BY tok
    ),
    w0 AS (SELECT string_split_regex(word, '') AS syms, cnt FROM words)"""
    steps = ""
    for t in range(1, iters + 1):
        steps += f""",
    p{t} AS (
      SELECT p.x AS x, p.y AS y, CAST(sum(cnt) AS BIGINT) AS pc
      FROM (
        SELECT cnt, unnest(list_transform(range(1, len(syms)),
                     i -> struct_pack(x := syms[i], y := syms[i+1]))) AS p
        FROM w{t - 1}
      ) GROUP BY p.x, p.y
    ),
    b{t} AS (SELECT x, y, pc FROM p{t} ORDER BY pc DESC, x, y LIMIT 1),
    w{t} AS (
      SELECT list_reduce(list_transform(syms, c -> [c]),
               (acc, el) -> CASE WHEN acc[-1] = b.x AND el[1] = b.y
                                 THEN list_append(list_slice(acc, 1, len(acc) - 1),
                                                  b.x || b.y)
                                 ELSE list_concat(acc, el) END) AS syms, cnt
      FROM w{t - 1} CROSS JOIN b{t} b
    ),
    r{t} AS (
      SELECT CAST({t} AS INT) AS merge_rank, b.x, b.y, b.x || b.y AS merged,
             b.pc AS pair_count,
             (SELECT CAST(sum(cnt * len(syms)) AS BIGINT) FROM w{t})
               AS total_symbols
      FROM b{t} b
    )"""
    union = " UNION ALL ".join(f"SELECT * FROM r{t}" for t in range(1, iters + 1))
    return f"{head}{steps}\n    {union}"


@query("q_bpe_train", oracle=_bpe_oracle(), tags=("text", "llm", "iterative"))
def bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE merge training (Sennrich-style), 6 merge rounds:
    learn the subword vocabulary from the corpus instead of applying a
    fixed one (q_bpe_token_count is the apply side). The algorithm's real
    100 TB structure: one corpus scan collapses to the WORD-FREQUENCY
    table (vocabulary-sized — millions of rows on a web corpus, never
    corpus-sized), and every iteration is explode-adjacent-pairs →
    groupBy(pair) → global top-1 on that small relation, so iteration cost
    is independent of corpus bytes. Per round, only the single best pair
    crosses to the driver (the q_kmeans_embeddings bounded-scalar
    pattern); the merge itself is a left-to-right single-pass aggregate()
    fold applied distributively. Output: the learned merge table
    (rank, pair, merged symbol, pair frequency) plus the corpus-wide
    symbol count after each merge — the compression curve. Everything is
    integer-exact; ties break lexicographically on both engines."""
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.split("word", "").alias("syms"), "cnt")
        .transform(materialize)
    )
    return _bpe_train_words(words, BPE_MERGES)


def _bpe_sql_quote(s: str) -> str:
    return s.replace("'", "''")


def _bpe_fold_expr(bx: str, by: str, merged: str):
    """Left-to-right single-pass merge of adjacent (bx, by) into `merged`
    over a `syms` array column — the canonical BPE apply step."""
    q = _bpe_sql_quote
    return F.expr(
        f"""aggregate(slice(syms, 2, size(syms) - 1), array(syms[0]),
             (acc, el) -> IF(element_at(acc, -1) = '{q(bx)}' AND el = '{q(by)}',
                             concat(slice(acc, 1, size(acc) - 1),
                                    array('{q(merged)}')),
                             concat(acc, array(el))))"""
    )


def _bpe_iterate(cur: DataFrame, iters: int, carry: tuple[str, ...] = ()):
    """Drive `iters` BPE merge rounds over a (syms: array<string>, cnt: long)
    DataFrame, yielding (k, bx, by, pc, merged, cur_after_merge) per round.
    Only the single best pair crosses to the driver each round; `carry`
    names extra columns (e.g. the word string) to thread through the folds."""
    for k in range(1, iters + 1):
        pairs = (
            cur.filter(F.size("syms") >= 2)
            .select(
                "cnt",
                F.explode(
                    F.expr(
                        "transform(sequence(0, size(syms) - 2),"
                        " i -> struct(syms[i] AS x, syms[i+1] AS y))"
                    )
                ).alias("p"),
            )
            .groupBy("p.x", "p.y")
            .agg(F.sum("cnt").cast("long").alias("pc"))
        )
        best = pairs.orderBy(F.desc("pc"), "x", "y").limit(1).collect()[0]
        bx, by, pc = best["x"], best["y"], best["pc"]
        merged = bx + by
        cur = cur.select(
            *carry, _bpe_fold_expr(bx, by, merged).alias("syms"), "cnt"
        )
        yield k, bx, by, pc, merged, cur


def _bpe_train_words(words: DataFrame, iters: int) -> DataFrame:
    """Run `iters` BPE merge rounds over a (syms: array<string>, cnt: long)
    word-frequency DataFrame; returns the merge table (see q_bpe_train).
    Factored out so tests can drive it with adversarial vocabularies."""
    parts = []
    for k, bx, by, pc, merged, cur in _bpe_iterate(words, iters):
        parts.append(
            cur.agg(
                F.sum(F.col("cnt") * F.size("syms")).cast("long").alias("total_symbols")
            ).select(
                F.lit(k).cast("int").alias("merge_rank"),
                F.lit(bx).alias("x"),
                F.lit(by).alias("y"),
                F.lit(merged).alias("merged"),
                F.lit(pc).cast("long").alias("pair_count"),
                "total_symbols",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _bpe_encode_oracle(iters: int = BPE_MERGES) -> str:
    """DuckDB oracle for q_bpe_encode: the same unrolled merge learning as
    _bpe_oracle but carrying the word string through the fold CTEs, then
    re-joining the final per-word subword count back onto the token stream
    — the identical vocab-level-encode-then-join shape as the Spark side."""
    head = """
    WITH words AS MATERIALIZED (
      SELECT tok AS word, count(*) AS cnt
      FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      GROUP BY tok
    ),
    w0 AS (SELECT word, string_split_regex(word, '') AS syms, cnt FROM words)"""
    steps = ""
    for t in range(1, iters + 1):
        steps += f""",
    p{t} AS (
      SELECT p.x AS x, p.y AS y, CAST(sum(cnt) AS BIGINT) AS pc
      FROM (
        SELECT cnt, unnest(list_transform(range(1, len(syms)),
                     i -> struct_pack(x := syms[i], y := syms[i+1]))) AS p
        FROM w{t - 1}
      ) GROUP BY p.x, p.y
    ),
    b{t} AS (SELECT x, y, pc FROM p{t} ORDER BY pc DESC, x, y LIMIT 1),
    w{t} AS (
      SELECT word,
             list_reduce(list_transform(syms, c -> [c]),
               (acc, el) -> CASE WHEN acc[-1] = b.x AND el[1] = b.y
                                 THEN list_append(list_slice(acc, 1, len(acc) - 1),
                                                  b.x || b.y)
                                 ELSE list_concat(acc, el) END) AS syms, cnt
      FROM w{t - 1} CROSS JOIN b{t} b
    )"""
    return f"""
    {head}{steps},
    vocab AS (SELECT word, len(syms) AS n_sub FROM w{iters}),
    toks AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word
      FROM documents
    )
    SELECT lang,
           CAST(count(DISTINCT doc_id) AS BIGINT)        AS n_docs,
           count(*)                                      AS n_words,
           CAST(sum(v.n_sub) AS BIGINT)                  AS n_subword_tokens,
           round(sum(v.n_sub) * 1.0 / count(*), 4)       AS tokens_per_word,
           round(sum(strlen(t.word)) * 1.0 / sum(v.n_sub), 4) AS chars_per_token
    FROM toks t JOIN vocab v USING (word)
    GROUP BY lang
    """


@query("q_bpe_encode", oracle=_bpe_encode_oracle(), tags=("text", "llm", "iterative"))
def bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE apply side: learn the 6-merge vocabulary (q_bpe_train's loop)
    and encode the whole corpus with it, reporting per-language subword
    statistics — token fertility (tokens/word) and compression
    (chars/token), the numbers a tokenizer ablation actually reads. The
    100 TB insight: encoding is computed ONCE PER VOCABULARY WORD (the
    folds run on the vocabulary-sized relation), then joined back onto the
    corpus token stream as a broadcast — the corpus-sized pass is a plain
    equi-join + per-lang aggregation, never a per-document fold. All
    ratios are integer/integer, so cross-engine equality is exact before
    the 4-dp round."""
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select("word", F.split("word", "").alias("syms"), "cnt")
        .transform(materialize)
    )
    cur = words
    for _k, _bx, _by, _pc, _merged, cur in _bpe_iterate(
        words, BPE_MERGES, carry=("word",)
    ):
        pass
    vocab = cur.select("word", F.size("syms").alias("n_sub"))
    toks = docs.select("doc_id", "lang", F.explode(F.split("text", " ")).alias("word"))
    return (
        toks.join(F.broadcast(vocab), "word")
        .groupBy("lang")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_sub").cast("long").alias("n_subword_tokens"),
            F.round(F.sum("n_sub") * F.lit(1.0) / F.count(F.lit(1)), 4).alias(
                "tokens_per_word"
            ),
            F.round(
                F.sum(F.octet_length("word")) * F.lit(1.0) / F.sum("n_sub"), 4
            ).alias("chars_per_token"),
        )
    )


RAKE_STOPWORDS = ("a", "the")  # the corpus's function words; a real corpus
# plugs in a full stoplist — the operator is stoplist-parameterized


@query(
    "q_rake_keywords",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, u.i AS pos, t[u.i] AS tok,
             CAST(t[u.i] IN {RAKE_STOPWORDS!r} AS INT) AS is_stop
      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
           unnest(range(1, len(t) + 1)) u(i)
    ),
    numbered AS (
      SELECT doc_id, pos, tok, is_stop,
             sum(is_stop) OVER (PARTITION BY doc_id ORDER BY pos) AS phrase_id
      FROM toks
    ),
    phrases AS (
      SELECT doc_id, phrase_id,
             string_agg(tok, ' ' ORDER BY pos) AS phrase,
             count(*) AS plen
      FROM numbered WHERE is_stop = 0
      GROUP BY doc_id, phrase_id
    ),
    word_stats AS (
      SELECT n.tok,
             count(*)     AS freq,
             sum(p.plen)  AS deg
      FROM numbered n
      JOIN phrases p ON n.doc_id = p.doc_id AND n.phrase_id = p.phrase_id
      WHERE n.is_stop = 0
      GROUP BY n.tok
    ),
    scored AS (
      SELECT p.phrase,
             count(*) AS n_occurrences,
             round(sum(s.score_sum), 4) AS rake_score
      FROM phrases p
      JOIN (
        SELECT n.doc_id, n.phrase_id,
               sum(w.deg * 1.0 / w.freq) AS score_sum
        FROM numbered n JOIN word_stats w ON n.tok = w.tok
        WHERE n.is_stop = 0
        GROUP BY n.doc_id, n.phrase_id
      ) s ON p.doc_id = s.doc_id AND p.phrase_id = s.phrase_id
      GROUP BY p.phrase
    )
    SELECT phrase, CAST(n_occurrences AS BIGINT) AS n_occurrences,
           round(rake_score / n_occurrences, 4) AS rake_score,
           CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT phrase, n_occurrences,
             rake_score,
             row_number() OVER (
               ORDER BY round(rake_score / n_occurrences, 4) DESC, phrase
             ) AS rnk
      FROM scored
    ) WHERE rnk <= 20
    """,
    tags=("text", "llm", "keywords"),
)
def rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010 — Rapid Automatic Keyword
    Extraction): split each document into candidate phrases at stopword
    boundaries, score every content word by degree/frequency (degree = the
    summed length of the phrases it appears in — words that keep company
    in long phrases score high), and score each phrase as the sum of its
    words' scores; report the corpus top-20 phrases (per-occurrence mean
    score, deterministic (score, phrase) order). The unsupervised
    single-pass complement to q_tfidf_top (document-frequency weighting)
    and q_pmi_bigrams (association strength).

    Scale shape: phrase segmentation is a per-doc prefix count of stopword
    flags (window partitioned by doc); word stats are one
    vocabulary-keyed aggregation; phrase scoring joins the
    vocabulary-sized stats table back and aggregates per phrase — all
    linear, uniform keys, no UDFs. Phrase score sums ≤5 doubles, so the
    4-dp round absorbs group-order ulps (q_unigram_logprob posture)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.select("doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok"))
        .withColumn("is_stop", F.col("tok").isin(*RAKE_STOPWORDS).cast("int"))
    )
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    numbered = toks.withColumn("phrase_id", F.sum("is_stop").over(w_doc))
    content = numbered.filter(F.col("is_stop") == 0)
    phrases = content.groupBy("doc_id", "phrase_id").agg(
        F.concat_ws(
            " ", F.expr("transform(array_sort(collect_list(struct(pos, tok))), s -> s.tok)")
        ).alias("phrase"),
        F.count(F.lit(1)).alias("plen"),
    )
    word_stats = (
        content.join(phrases, ["doc_id", "phrase_id"])
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"), F.sum("plen").alias("deg"))
    )
    phrase_scores = (
        content.join(F.broadcast(word_stats), "tok")
        .groupBy("doc_id", "phrase_id")
        .agg(F.sum(F.col("deg") * 1.0 / F.col("freq")).alias("score_sum"))
    )
    scored = (
        phrases.join(phrase_scores, ["doc_id", "phrase_id"])
        .groupBy("phrase")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.round(F.sum("score_sum"), 4).alias("rake_score"),
        )
    )
    per_occ = F.round(F.col("rake_score") / F.col("n_occurrences"), 4)
    from bigdatainfinance1_spark.functions.ranks import global_row_number

    ranked = global_row_number(
        scored.select("phrase", "n_occurrences", per_occ.alias("rake_score")),
        [F.col("rake_score").desc(), F.col("phrase")],
        rn_col="rnk",
    )
    return ranked.filter(F.col("rnk") <= 20).select(
        "phrase",
        F.col("n_occurrences").cast("long").alias("n_occurrences"),
        "rake_score",
        F.col("rnk").cast("long").alias("rnk"),
    )


TFIDF_PAIR_DF_CAP = 100  # oracle-side absolute floor of the df cap at test
# tiers. The Spark side uses a RELATIVE cap, max(100, 2% of corpus docs)
# (round-3 verdict task 3): an absolute cap silently empties the pair join
# as the corpus grows (the 10x scale-stress artifact BASELINE.md recorded),
# while a relative cap keeps the operator's semantics — "drop terms too hot
# to carry similarity signal" — at every corpus size. At the oracle tiers
# (sf <= 0.1, <= 5000 docs) 2% <= 100, so both sides apply the identical
# cap and the hash oracle stays exact.
TFIDF_PAIR_DF_FRAC = 0.02
TFIDF_PAIR_MIN_COS = 0.6


@query(
    "q_tfidf_cosine_pairs",
    oracle=f"""
    WITH tf AS (
      SELECT doc_id, tok, count(*) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
      GROUP BY doc_id, tok
    ),
    df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
    n AS (SELECT count(*) AS n FROM documents),
    w AS (
      SELECT tf.doc_id, tf.tok,
             tf.tf * ln((SELECT n FROM n) * 1.0 / df.df) AS w
      FROM tf JOIN df ON tf.tok = df.tok
      WHERE df.df <= {TFIDF_PAIR_DF_CAP}
    ),
    nrm AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY doc_id),
    dots AS (
      SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2, sum(a.w * b.w) AS dot
      FROM w a JOIN w b ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT d.doc_id_1, d.doc_id_2,
           round(d.dot / (x.nrm * y.nrm), 4) AS cosine
    FROM dots d
    JOIN nrm x ON d.doc_id_1 = x.doc_id
    JOIN nrm y ON d.doc_id_2 = y.doc_id
    WHERE d.dot / (x.nrm * y.nrm) >= {TFIDF_PAIR_MIN_COS}
    """,
    tags=("text", "dedup", "llm", "similarity"),
)
def tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted lexical similarity pairs: document cosine over SPARSE
    TF-IDF vectors (cos ≥ 0.6) — the graded counterpart of
    q_jaccard_neardup's set overlap (two docs sharing RARE terms score
    high even at modest overlap; shared boilerplate scores nothing once
    idf discounts it). The pair stage is the inverted-index self-join on
    the term key — never all-pairs — and terms with document frequency
    above max({TFIDF_PAIR_DF_CAP}, 2% of corpus docs) are dropped BEFORE
    the join (the inverse-frequency cap of q_user_cf_neighbors: hot terms
    carry all of the quadratic fan-out and none of the signal; idf would
    discount them to ~0 anyway, so the cap changes candidates, not
    verdicts, at this threshold). Fan-out is Σ min(df, cap)² — bounded
    per term, and the cap scales WITH the corpus so growth does not
    silently empty the join. The only broadcast is the vocabulary-sized
    kept-terms relation; the per-doc norm joins are plain shuffle
    equi-joins on doc_id (O(n_docs) rows must never ride a broadcast —
    plan-asserted in tests/test_plans.py).

    Determinism: weights are tf·ln(N/df) of exact integers (identical
    doubles both engines); per-pair dots sum ≤doc-length such products —
    group-sum order differs, so the output cosine rounds at 4 dp and the
    0.6 threshold sits far from any pair (verified: nearest pair gap to
    the threshold ≫ the 1e-13 reorder noise on this corpus)."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n = docs.count()
    df_cap = max(TFIDF_PAIR_DF_CAP, int(n * TFIDF_PAIR_DF_FRAC))
    w = (
        tf.join(F.broadcast(df.filter(F.col("df") <= df_cap)), "tok")
        .select("doc_id", "tok", (F.col("tf") * F.log(F.lit(float(n)) / F.col("df"))).alias("w"))
    )
    nrm = w.groupBy("doc_id").agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm"))
    a = w.select("tok", F.col("doc_id").alias("doc_id_1"), F.col("w").alias("wa"))
    b = w.select("tok", F.col("doc_id").alias("doc_id_2"), F.col("w").alias("wb"))
    dots = (
        a.join(b, "tok")
        .filter(F.col("doc_id_1") < F.col("doc_id_2"))
        .groupBy("doc_id_1", "doc_id_2")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    x = nrm.select(F.col("doc_id").alias("doc_id_1"), F.col("nrm").alias("n1"))
    y = nrm.select(F.col("doc_id").alias("doc_id_2"), F.col("nrm").alias("n2"))
    cos = F.col("dot") / (F.col("n1") * F.col("n2"))
    return (
        dots.join(x, "doc_id_1")
        .join(y, "doc_id_2")
        .filter(cos >= TFIDF_PAIR_MIN_COS)
        .select("doc_id_1", "doc_id_2", F.round(cos, 4).alias("cosine"))
    )


BURSTY_MIN_DF = 10  # terms in fewer docs have no stable Fano factor
BURSTY_TOP = 20


@query(
    "q_term_burstiness",
    oracle=f"""
    WITH tok AS ({_TOKENS_SQL}),
    tf AS (SELECT term, doc_id, count(*) AS tf FROM tok GROUP BY term, doc_id),
    m AS (
      SELECT term,
             count(*)         AS df,
             sum(tf)          AS sx,
             sum(tf * tf)     AS sxx
      FROM tf GROUP BY term HAVING count(*) >= {BURSTY_MIN_DF}
    ),
    scored AS (
      SELECT term, df, sx AS total_tf,
             round((df * sxx - sx * sx) * 1.0 / (df * sx), 6) AS burstiness
      FROM m
    )
    SELECT term, CAST(df AS BIGINT) AS df, CAST(total_tf AS BIGINT) AS total_tf,
           burstiness, CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT *, row_number() OVER (ORDER BY burstiness DESC, term) AS rnk
      FROM scored
    ) WHERE rnk <= {BURSTY_TOP}
    """,
    tags=("text", "llm"),
)
def term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus linguistics: the {BURSTY_TOP} burstiest terms — Fano factor
    (variance-to-mean ratio) of a term's within-document counts across the
    documents containing it, for terms with df >= {BURSTY_MIN_DF}. Bursty
    terms (Fano >> its Poisson baseline) repeat heavily where they appear —
    the signal Church & Gale used for content-word detection and the one a
    repetition-quality filter keys on (q_doc_repetition's corpus-level
    complement). Variance comes from exact INTEGER moment sums
    ((df*Σtf² - (Σtf)²) / (df*Σtf) — the population var/mean simplified),
    so both engines divide the same integers and the ranking is exact.
    Scale: one (term, doc) aggregation, one vocabulary-sized aggregation;
    the top-k ranks through functions/ranks (no single-partition window)."""
    from bigdatainfinance1_spark.functions.ranks import global_row_number

    tok = _tokens(spark, sf_dir)
    tf = tok.groupBy("term", "doc_id").agg(F.count(F.lit(1)).alias("tf"))
    m = (
        tf.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.sum("tf").alias("sx"),
            F.sum(F.col("tf") * F.col("tf")).alias("sxx"),
        )
        .filter(F.col("df") >= BURSTY_MIN_DF)
    )
    scored = m.select(
        "term",
        F.col("df").cast("long").alias("df"),
        F.col("sx").cast("long").alias("total_tf"),
        F.round(
            (F.col("df") * F.col("sxx") - F.col("sx") * F.col("sx"))
            * 1.0
            / (F.col("df") * F.col("sx")),
            6,
        ).alias("burstiness"),
    )
    ranked = global_row_number(
        scored, [F.col("burstiness").desc(), F.col("term")], rn_col="rnk"
    )
    return ranked.filter(F.col("rnk") <= BURSTY_TOP).select(
        "term", "df", "total_tf", "burstiness", F.col("rnk").cast("long").alias("rnk")
    )


@query(
    "q_heaps_law",
    oracle=f"""
    WITH tok AS ({_TOKENS_SQL}),
    first_seen AS (SELECT term, min(doc_id) AS f FROM tok GROUP BY term),
    newt AS (SELECT f AS doc_id, count(*) AS new_terms FROM first_seen GROUP BY f),
    dl AS (SELECT doc_id, count(*) AS n_toks FROM tok GROUP BY doc_id),
    cum AS (
      SELECT d.doc_id,
             sum(coalesce(n.new_terms, 0)) OVER (ORDER BY d.doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v,
             sum(d.n_toks) OVER (ORDER BY d.doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n
      FROM dl d LEFT JOIN newt n ON n.doc_id = d.doc_id
    ),
    pts AS (SELECT ln(CAST(n AS DOUBLE)) AS x, ln(CAST(v AS DOUBLE)) AS y FROM cum),
    mm AS (
      SELECT CAST(count(*) AS DOUBLE) AS c, sum(x) AS sx, sum(y) AS sy,
             sum(x * x) AS sxx, sum(x * y) AS sxy, sum(y * y) AS syy
      FROM pts
    )
    SELECT
      CAST(c AS BIGINT) AS n_points,
      round((c * sxy - sx * sy) / (c * sxx - sx * sx), 6)            AS beta,
      round(exp((sy - (c * sxy - sx * sy) / (c * sxx - sx * sx) * sx) / c), 4)
                                                                     AS k,
      round((c * sxy - sx * sy) * (c * sxy - sx * sy)
            / ((c * sxx - sx * sx) * (c * syy - sy * sy)), 6)        AS r2
    FROM mm
    """,
    tags=("text", "llm", "stats"),
)
def heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit: vocabulary growth V(n) ≈ K·n^beta, estimated by OLS
    on (ln n, ln V) sampled after every document in doc_id order — the
    number a corpus-size planner reads to predict vocabulary (and hash/
    sketch sizing) at 100 TB from a pilot crawl. V comes from each term's
    FIRST-SEEN document (min doc_id — one vocabulary-sized aggregation,
    no per-prefix rescan), cumulated by the range-bucketed two-phase
    running sum; both V and n are exact integer running sums, so each
    engine takes ln of identical integers and only the final moment sums
    are float (round 6/4 absorbs order ulps). Scale: two corpus
    aggregations + an O(docs) prefix sum — no quadratic prefix rescan
    anywhere."""
    from bigdatainfinance1_spark.functions.ranks import global_running_sum

    tok = _tokens(spark, sf_dir)
    first_seen = tok.groupBy("term").agg(F.min("doc_id").alias("doc_id"))
    newt = first_seen.groupBy("doc_id").agg(F.count(F.lit(1)).alias("new_terms"))
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_toks"))
    base = dl.join(newt, "doc_id", "left").select(
        "doc_id", "n_toks", F.coalesce("new_terms", F.lit(0)).alias("new_terms")
    )
    cum_v = global_running_sum(base, ["doc_id"], "new_terms", "v")
    cum = global_running_sum(cum_v, ["doc_id"], "n_toks", "n")
    pts = cum.select(
        F.log(F.col("n").cast("double")).alias("x"), F.log(F.col("v").cast("double")).alias("y")
    )
    mm = pts.agg(
        F.count(F.lit(1)).cast("double").alias("c"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    c, sx, sy = F.col("c"), F.col("sx"), F.col("sy")
    sxx, sxy, syy = F.col("sxx"), F.col("sxy"), F.col("syy")
    beta = (c * sxy - sx * sy) / (c * sxx - sx * sx)
    return mm.select(
        c.cast("long").alias("n_points"),
        F.round(beta, 6).alias("beta"),
        F.round(F.exp((sy - beta * sx) / c), 4).alias("k"),
        F.round(
            (c * sxy - sx * sy) * (c * sxy - sx * sy)
            / ((c * sxx - sx * sx) * (c * syy - sy * sy)),
            6,
        ).alias("r2"),
    )


# ---------------------------------------------------------------------------
# q_winnowing_fingerprint — MOSS winnowing (Schleimer, Wilkerson, Aiken 2003)
# ---------------------------------------------------------------------------

WINNOW_K = 4  # token-gram length
WINNOW_W = 4  # winnowing window (guarantee: any match >= K+W-1 tokens is caught)
WINNOW_DF_CAP = 20  # drop fingerprints shared by more docs (boilerplate guard)


@query(
    "q_winnowing_fingerprint",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
      WHERE len(string_split(text, ' ')) >= {WINNOW_K + WINNOW_W - 1}
    ),
    g AS (
      SELECT doc_id, u.pos,
             md5(array_to_string(t[u.pos + 1:u.pos + {WINNOW_K}], ' '))
               || lpad(CAST(99999999 - u.pos AS VARCHAR), 8, '0') AS key
      FROM (
        SELECT doc_id, t, unnest(range(0, len(t) - {WINNOW_K - 1})) AS pos FROM toks
      ) u(doc_id, t, pos)
    ),
    sel AS (
      SELECT DISTINCT doc_id,
             min(key) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN {WINNOW_W - 1} PRECEDING AND CURRENT ROW
             ) AS key
      FROM g
      QUALIFY pos >= {WINNOW_W - 1}
    ),
    fp AS (SELECT DISTINCT doc_id, substr(key, 1, 32) AS h FROM sel),
    df AS (
      SELECT h FROM fp GROUP BY h
      HAVING count(*) BETWEEN 2 AND {WINNOW_DF_CAP}
    ),
    partners AS (
      SELECT a.doc_id, count(DISTINCT b.doc_id) AS n_partner_docs
      FROM fp a JOIN df USING (h) JOIN fp b USING (h)
      WHERE a.doc_id <> b.doc_id
      GROUP BY a.doc_id
    ),
    stats AS (
      SELECT g.doc_id,
             count(*) AS n_grams,
             count(DISTINCT CASE WHEN s.key IS NOT NULL THEN s.key END) AS n_selected
      FROM g
      LEFT JOIN sel s ON s.doc_id = g.doc_id AND s.key = g.key
                     AND g.pos = 99999999 - CAST(substr(s.key, 33, 8) AS BIGINT)
      GROUP BY g.doc_id
    )
    SELECT st.doc_id,
           CAST(st.n_grams AS BIGINT) AS n_grams,
           CAST(st.n_selected AS BIGINT) AS n_fingerprints,
           round(st.n_selected * 1.0 / st.n_grams, 6) AS density,
           CAST(coalesce(p.n_partner_docs, 0) AS BIGINT) AS n_partner_docs
    FROM stats st LEFT JOIN partners p USING (doc_id)
    """,
    tags=("text", "dedup", "llm"),
)
def winnowing_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS winnowing document fingerprints (Schleimer-Wilkerson-Aiken
    2003): hash every token {K}-gram, slide a {W}-wide window over the
    hash sequence, and select each window's minimum hash (rightmost on
    ties — encoded by appending the 8-digit complement of the position to
    the md5, so one string min() implements "min hash, then max
    position"). The selected set is the classic local fingerprint sketch:
    ~2/(w+1) density with a guarantee that any shared run of
    >= K+W-1 tokens yields at least one shared fingerprint. Reports
    per-doc gram/fingerprint counts, density, and the number of partner
    docs sharing >= 1 fingerprint (boilerplate-guarded by a df <=
    {CAP} cap — the house common-shingle discipline).

    Determinism: both engines hash with md5 and compare the SAME key
    strings under binary collation, so the window minima are identical by
    construction — no float anywhere. Scale: the gram explode is the
    linear corpus pass; winnowing is a per-doc bounded window (partition
    by doc_id); the partner join keys on the fingerprint hash with the df
    cap bounding group fan-out, the same banded-equi-join shape as the
    MinHash tier. At 100 TB the fingerprint relation is ~2/(w+1) of the
    gram count — the point of winnowing over full shingling."""
    docs = load_table(spark, sf_dir, "documents")
    # the md5-per-gram explode fuses into the scan stage; spread it
    toks = parallelize_scan(
        docs.select("doc_id", F.split("text", " ").alias("t")).filter(
            F.size("t") >= WINNOW_K + WINNOW_W - 1
        )
    )
    g = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, size(t) - {WINNOW_K}),"
                f" i -> struct(i AS pos,"
                f" concat(md5(concat_ws(' ', slice(t, i + 1, {WINNOW_K}))),"
                f" lpad(cast(99999999 - i AS string), 8, '0')) AS key))"
            )
        ).alias("gk"),
    ).select("doc_id", F.col("gk.pos").alias("pos"), F.col("gk.key").alias("key"))
    # g (the md5-per-gram relation) feeds TWO consumers (the winnowing
    # window and the stats anti-count join), and sel feeds two more (fp and
    # sel_pos) — without materialization the gram hash pass appears twice in
    # the physical plan and the window+distinct twice more. Materializing
    # both runs each expensive pass once (the q_user_cf_neighbors /
    # _verify_jaccard_pairs pattern); both relations are shuffle-sized.
    g = materialize(g)
    wwin = (
        Window.partitionBy("doc_id").orderBy("pos").rowsBetween(-(WINNOW_W - 1), 0)
    )
    sel = (
        g.withColumn("minkey", F.min("key").over(wwin))
        .filter(F.col("pos") >= WINNOW_W - 1)
        .select("doc_id", F.col("minkey").alias("key"))
        .distinct()
        .transform(materialize)
    )
    fp = sel.select("doc_id", F.substring("key", 1, 32).alias("h")).distinct()
    df_ok = (
        fp.groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= WINNOW_DF_CAP))
        .select("h")
    )
    a, b = fp.alias("a"), fp.alias("b")
    partners = (
        a.join(df_ok, "h")
        .join(b, "h")
        .filter(F.col("a.doc_id") != F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_id"))
        .agg(F.countDistinct(F.col("b.doc_id")).alias("n_partner_docs"))
    )
    sel_pos = sel.select(
        "doc_id",
        "key",
        (F.lit(99999999) - F.substring("key", 33, 8).cast("long")).alias("pos"),
    )
    sp = sel_pos.select(
        F.col("doc_id").alias("sdoc"),
        F.col("key").alias("skey"),
        F.col("pos").alias("spos"),
    )
    stats = (
        g.join(
            sp,
            (F.col("doc_id") == F.col("sdoc"))
            & (F.col("key") == F.col("skey"))
            & (F.col("pos") == F.col("spos")),
            "left",
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.countDistinct(F.when(F.col("skey").isNotNull(), F.col("skey"))).alias(
                "n_selected"
            ),
        )
    )
    return (
        stats.join(partners, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_grams").cast("long").alias("n_grams"),
            F.col("n_selected").cast("long").alias("n_fingerprints"),
            F.round(F.col("n_selected") * 1.0 / F.col("n_grams"), 6).alias("density"),
            F.coalesce(F.col("n_partner_docs"), F.lit(0)).cast("long").alias("n_partner_docs"),
        )
    )
