"""Text-evaluation metrics (round 4): ROUGE-N recall/F1 over the
adjacent-document pairing (q_rouge_n — the summarization-eval twin of
q_bleu_pairs' precision view) and TextRank keyword extraction
(q_textrank — PageRank over the word co-occurrence graph, the classic
graph-based alternative to q_rake_keywords' phrase scoring).

Scale notes: ROUGE is the q_bleu_pairs posture — linear gram explode,
per-document-pair clip join keyed (pair, n, gram), never cross-document.
TextRank's graph is VOCABULARY-sized (distinct adjacent content-word
pairs with support ≥ 2), so the 3 PageRank iterations are joins over a
bounded model relation — the corpus is scanned once to build the edge
list; iterations never rescan it.

Determinism: all gram/edge counts are exact integers; ROUGE ratios and
rank values are single closed forms rounded at 6; top-k orders by the
ROUNDED rank with an explicit word tie-break.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdatainfinance1_spark.functions.materialize import materialize
from bigdatainfinance1_spark.registry import query
from bigdatainfinance1_spark.sources.catalog import load_table

TR_ITERS = 3
TR_DAMP = 0.85
TR_MIN_LEN = 4  # content-word filter: tokens with >= 4 chars
TR_MIN_SUPPORT = 2  # edge sparsifier: adjacent pair seen at least twice


# ---------------------------------------------------------------------------
# q_rouge_n — ROUGE-1/2 recall and F1 for adjacent same-language pairs
# ---------------------------------------------------------------------------


@query(
    "q_rouge_n",
    oracle="""
    WITH pairs AS (
      SELECT a.doc_id AS ref_doc, b.doc_id AS cand_doc, a.lang,
             string_split(a.text, ' ') AS rt, string_split(b.text, ' ') AS ct
      FROM documents a JOIN documents b
        ON b.doc_id = a.doc_id + 1 AND b.lang = a.lang
      WHERE a.doc_id % 2 = 0
    ),
    rg AS (
      SELECT ref_doc, 1 AS n, unnest(rt) AS gram FROM pairs
      UNION ALL
      SELECT ref_doc, 2 AS n,
             list_extract(rt, i) || ' ' || list_extract(rt, i + 1) AS gram
      FROM pairs, unnest(range(1, len(rt))) AS t(i)
    ),
    cg AS (
      SELECT ref_doc, 1 AS n, unnest(ct) AS gram FROM pairs
      UNION ALL
      SELECT ref_doc, 2 AS n,
             list_extract(ct, i) || ' ' || list_extract(ct, i + 1) AS gram
      FROM pairs, unnest(range(1, len(ct))) AS t(i)
    ),
    rc AS (SELECT ref_doc, n, gram, count(*) AS r FROM rg GROUP BY 1, 2, 3),
    cc AS (SELECT ref_doc, n, gram, count(*) AS c FROM cg GROUP BY 1, 2, 3),
    ov AS (
      SELECT rc.ref_doc,
             sum(CASE WHEN rc.n = 1 THEN least(rc.r, coalesce(cc.c, 0)) ELSE 0 END) AS ov1,
             sum(CASE WHEN rc.n = 1 THEN rc.r ELSE 0 END) AS rt1,
             sum(CASE WHEN rc.n = 2 THEN least(rc.r, coalesce(cc.c, 0)) ELSE 0 END) AS ov2,
             sum(CASE WHEN rc.n = 2 THEN rc.r ELSE 0 END) AS rt2
      FROM rc LEFT JOIN cc ON cc.ref_doc = rc.ref_doc AND cc.n = rc.n AND cc.gram = rc.gram
      GROUP BY rc.ref_doc
    ),
    ct AS (
      SELECT ref_doc,
             sum(CASE WHEN n = 1 THEN c ELSE 0 END) AS ct1,
             sum(CASE WHEN n = 2 THEN c ELSE 0 END) AS ct2
      FROM cc GROUP BY ref_doc
    )
    SELECT CAST(p.ref_doc AS BIGINT) AS ref_doc,
           CAST(p.cand_doc AS BIGINT) AS cand_doc,
           p.lang,
           round(ov.ov1 * 1.0 / ov.rt1, 6) AS rouge1_recall,
           round(2.0 * ov.ov1 / (ov.rt1 + ct.ct1), 6) AS rouge1_f1,
           round(ov.ov2 * 1.0 / nullif(ov.rt2, 0), 6) AS rouge2_recall,
           round(2.0 * ov.ov2 / nullif(ov.rt2 + ct.ct2, 0), 6) AS rouge2_f1
    FROM pairs p
    JOIN ov ON ov.ref_doc = p.ref_doc
    JOIN ct ON ct.ref_doc = p.ref_doc
    ORDER BY ref_doc
    """,
    tags=("text", "eval", "llm"),
)
def rouge_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-1/2 recall and F1 between adjacent same-language document
    pairs (even doc = reference, odd successor = candidate — the
    q_bleu_pairs pairing): clipped n-gram overlap over REFERENCE totals
    (recall — what BLEU's precision view misses) plus the balanced F1.
    Together with q_bleu_pairs this completes the two classic
    generation-eval views of the same overlap counts.

    Scale: linear gram explode; the clip join keys on (pair, n, gram)
    with per-document group sizes — never cross-document. All counts
    exact integers; ratios rounded at 6."""
    docs = load_table(spark, sf_dir, "documents")
    a = docs.select(
        F.col("doc_id").alias("ref_doc"), "lang", F.split("text", " ").alias("rt")
    ).filter(F.col("ref_doc") % 2 == 0)
    b = docs.select(
        F.col("doc_id").alias("cand_doc"),
        F.col("lang").alias("lang_b"),
        F.split("text", " ").alias("ct"),
    )
    pairs = a.join(
        b,
        (F.col("cand_doc") == F.col("ref_doc") + 1) & (F.col("lang") == F.col("lang_b")),
    ).select("ref_doc", "cand_doc", "lang", "rt", "ct")

    def grams(col: str) -> DataFrame:
        uni = pairs.select("ref_doc", F.lit(1).alias("n"), F.explode(col).alias("gram"))
        bi = pairs.select(
            "ref_doc",
            F.lit(2).alias("n"),
            F.explode(
                F.expr(
                    f"transform(sequence(1, size({col}) - 1),"
                    f" i -> concat(element_at({col}, i), ' ', element_at({col}, i + 1)))"
                )
            ).alias("gram"),
        )
        return uni.unionByName(bi)

    rc = grams("rt").groupBy("ref_doc", "n", "gram").agg(F.count(F.lit(1)).alias("r"))
    cc = grams("ct").groupBy("ref_doc", "n", "gram").agg(F.count(F.lit(1)).alias("c"))
    ov = (
        rc.join(cc, ["ref_doc", "n", "gram"], "left")
        .groupBy("ref_doc")
        .agg(
            F.sum(
                F.when(F.col("n") == 1, F.least(F.col("r"), F.coalesce(F.col("c"), F.lit(0)))).otherwise(0)
            ).alias("ov1"),
            F.sum(F.when(F.col("n") == 1, F.col("r")).otherwise(0)).alias("rt1"),
            F.sum(
                F.when(F.col("n") == 2, F.least(F.col("r"), F.coalesce(F.col("c"), F.lit(0)))).otherwise(0)
            ).alias("ov2"),
            F.sum(F.when(F.col("n") == 2, F.col("r")).otherwise(0)).alias("rt2"),
        )
    )
    ct = cc.groupBy("ref_doc").agg(
        F.sum(F.when(F.col("n") == 1, F.col("c")).otherwise(0)).alias("ct1"),
        F.sum(F.when(F.col("n") == 2, F.col("c")).otherwise(0)).alias("ct2"),
    )
    return (
        pairs.select("ref_doc", "cand_doc", "lang")
        .join(ov, "ref_doc")
        .join(ct, "ref_doc")
        .select(
            F.col("ref_doc").cast("long").alias("ref_doc"),
            F.col("cand_doc").cast("long").alias("cand_doc"),
            "lang",
            F.round(F.col("ov1") * 1.0 / F.col("rt1"), 6).alias("rouge1_recall"),
            F.round(2.0 * F.col("ov1") / (F.col("rt1") + F.col("ct1")), 6).alias(
                "rouge1_f1"
            ),
            F.round(
                F.col("ov2") * 1.0 / F.nullif(F.col("rt2"), F.lit(0)), 6
            ).alias("rouge2_recall"),
            F.round(
                2.0 * F.col("ov2") / F.nullif(F.col("rt2") + F.col("ct2"), F.lit(0)), 6
            ).alias("rouge2_f1"),
        )
        .orderBy("ref_doc")
    )


# ---------------------------------------------------------------------------
# q_textrank — PageRank keyword extraction on the word co-occurrence graph
# ---------------------------------------------------------------------------


def _textrank_oracle() -> str:
    """Unrolled fixed-iteration PageRank over the adjacency word graph
    (the q_pagerank_copurchase CTE pattern on a vocabulary-sized model)."""
    head = f"""
    WITH toks AS (
      SELECT doc_id, i,
             list_extract(string_split(lower(text), ' '), i) AS tok
      FROM documents, unnest(range(1, len(string_split(lower(text), ' ')) + 1)) AS t(i)
    ),
    adj AS (
      SELECT CASE WHEN a.tok < b.tok THEN a.tok ELSE b.tok END AS w1,
             CASE WHEN a.tok < b.tok THEN b.tok ELSE a.tok END AS w2
      FROM toks a JOIN toks b ON b.doc_id = a.doc_id AND b.i = a.i + 1
      WHERE length(a.tok) >= {TR_MIN_LEN} AND length(b.tok) >= {TR_MIN_LEN}
        AND a.tok <> b.tok
    ),
    pairs AS (
      SELECT w1, w2, count(*) AS w FROM adj GROUP BY w1, w2
      HAVING count(*) >= {TR_MIN_SUPPORT}
    ),
    edges AS (
      SELECT w1 AS u, w2 AS v, w FROM pairs
      UNION ALL SELECT w2, w1, w FROM pairs
    ),
    deg AS (SELECT u, count(*) AS c, sum(w) AS wsum FROM edges GROUP BY u),
    nn AS (SELECT count(*) AS n FROM deg),
    r0 AS (SELECT u AS node, 1.0 / (SELECT n FROM nn) AS r FROM deg)
    """
    steps = "".join(
        f""",
    r{i + 1} AS (
      SELECT e.v AS node,
             (1 - {TR_DAMP}) / (SELECT n FROM nn)
             + {TR_DAMP} * sum(r{i}.r * e.w / dg.wsum) AS r
      FROM edges e
      JOIN r{i} ON r{i}.node = e.u
      JOIN deg dg ON dg.u = e.u
      GROUP BY e.v
    )"""
        for i in range(TR_ITERS)
    )
    return f"""
    {head}{steps}
    SELECT node AS word,
           round(r * (SELECT n FROM nn), 6) AS rel_rank,
           CAST((SELECT c FROM deg WHERE deg.u = node) AS BIGINT) AS degree
    FROM r{TR_ITERS}
    ORDER BY rel_rank DESC, word
    LIMIT 20
    """


@query("q_textrank", oracle=_textrank_oracle(), tags=("text", "llm", "iterative"))
def textrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction: WEIGHTED PageRank (3 fixed
    iterations, d=0.85, edge weight = adjacency count, contributions
    row-normalized by node strength — the formulation of the original
    paper) over the undirected word co-occurrence graph: content words
    (≥4 chars) linked when ADJACENT in a document, edges kept at support
    ≥ 2; top-20 words by N-normalized rank. The classic graph-centrality
    alternative to q_rake_keywords' degree/frequency phrase scoring —
    and on this corpus the weights are load-bearing: the sparsified
    adjacency graph is COMPLETE over its 24-word content vocabulary, so
    the unweighted walk is uniform by symmetry and only the
    co-occurrence weights differentiate the keywords.

    Scale: ONE corpus token pass builds the vocabulary-sized edge list
    (adjacent-position equi-join on (doc_id, i)); the PageRank loop then
    joins only model-sized relations (the q_pagerank_copurchase shape —
    the driver holds the iteration counter and vocabulary count, data
    stays distributed). Rank ulps across 3 iterations sit ~1e-12, far
    under the 6-dp output rounding; ties break on the word."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(F.split(F.lower("text"), " ")).alias("i0", "tok")
    ).select("doc_id", (F.col("i0") + 1).alias("i"), "tok")
    nxt = toks.select("doc_id", (F.col("i") - 1).alias("i"), F.col("tok").alias("tok2"))
    adj = (
        toks.join(nxt, ["doc_id", "i"])
        .filter(
            (F.length("tok") >= TR_MIN_LEN)
            & (F.length("tok2") >= TR_MIN_LEN)
            & (F.col("tok") != F.col("tok2"))
        )
        .select(
            F.least("tok", "tok2").alias("w1"), F.greatest("tok", "tok2").alias("w2")
        )
    )
    # pairs (vocabulary-sized) feeds both deg and edges_deg through the
    # un-materialized flip union; materializing it runs the corpus token
    # pass once instead of twice (round-5 double-execution audit).
    pairs = (
        adj.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= TR_MIN_SUPPORT)
        .transform(materialize)
    )
    edges = pairs.select(
        F.col("w1").alias("u"), F.col("w2").alias("v"), "w"
    ).unionByName(pairs.select(F.col("w2").alias("u"), F.col("w1").alias("v"), "w"))
    deg = (
        edges.groupBy("u")
        .agg(F.count(F.lit(1)).alias("c"), F.sum("w").alias("wsum"))
        .transform(materialize)
    )
    n = deg.count()  # bounded driver scalar: vocabulary size
    ranks = deg.select(F.col("u").alias("node"), (F.lit(1.0) / n).alias("r"))
    edges_deg = materialize(edges.join(deg, "u"))
    for _ in range(TR_ITERS):
        contrib = (
            edges_deg.join(ranks, edges_deg.u == ranks.node)
            .select("v", (F.col("r") * F.col("w") / F.col("wsum")).alias("contrib"))
            .groupBy("v")
            .agg(F.sum("contrib").alias("s"))
        )
        ranks = contrib.select(
            F.col("v").alias("node"), ((1 - TR_DAMP) / n + TR_DAMP * F.col("s")).alias("r")
        )
    return (
        ranks.join(deg, ranks.node == deg.u)
        .select(
            F.col("node").alias("word"),
            F.round(F.col("r") * n, 6).alias("rel_rank"),
            F.col("c").cast("long").alias("degree"),
        )
        .orderBy(F.col("rel_rank").desc(), "word")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q_lsa_power_iteration — principal term axis of the term-term Gram matrix
# ---------------------------------------------------------------------------

LSA_ITERS = 3
LSA_SCALE = 1_000_000_000  # iteration state grain (1e-9)
LSA_TOP = 8


def _lsa_oracle() -> str:
    """Power iteration unrolled as CTEs: the Gram matrix G[t1][t2] =
    SUM_docs tf(t1,d) tf(t2,d) is exact integers; each step computes
    w = G v as exact products summed in BIGINT, then renormalizes by
    max|w| back onto the 1e-9 integer grid (the q_hits_authority
    deferred-normalization posture — no L2 norm, no double sums)."""
    head = f"""
    WITH tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS f
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
      GROUP BY doc_id, term
    ),
    g AS (
      SELECT a.term AS t1, b.term AS t2, CAST(sum(a.f * b.f) AS BIGINT) AS w
      FROM tf a JOIN tf b ON a.doc_id = b.doc_id
      GROUP BY a.term, b.term
    ),
    vocab AS (SELECT DISTINCT t1 AS term FROM g),
    v0 AS (SELECT term, CAST({LSA_SCALE} AS BIGINT) AS v FROM vocab)
    """
    steps = ""
    for t in range(1, LSA_ITERS + 1):
        steps += f""",
    w{t} AS (
      SELECT g.t1 AS term, CAST(sum(g.w * v.v) AS BIGINT) AS w
      FROM g JOIN v{t - 1} v ON g.t2 = v.term
      GROUP BY g.t1
    ),
    m{t} AS (SELECT CAST(max(abs(w)) AS BIGINT) AS mx FROM w{t}),
    v{t} AS (
      SELECT w.term,
             CAST(round(w.w * 1e0 / m.mx * {LSA_SCALE}) AS BIGINT) AS v
      FROM w{t} w CROSS JOIN m{t} m
    )"""
    return f"""
    {head}{steps},
    nrm AS (
      SELECT sqrt(sum((v * 1e0 / {LSA_SCALE}) * (v * 1e0 / {LSA_SCALE}))) AS l2
      FROM v{LSA_ITERS}
    ),
    lam AS (
      -- Rayleigh-style eigenvalue estimate: max |G v| / max |v| from the
      -- last step's pre-normalization image (exact integer ratio)
      SELECT m.mx * 1e0 / {LSA_SCALE} AS lambda1 FROM m{LSA_ITERS} m
    )
    SELECT v.term,
           CAST(row_number() OVER (ORDER BY abs(v.v) DESC, v.term) AS BIGINT) AS rnk,
           round(v.v * 1e0 / {LSA_SCALE} / n.l2, 6) AS loading,
           round(l.lambda1, 2) AS lambda1
    FROM v{LSA_ITERS} v CROSS JOIN nrm n CROSS JOIN lam l
    ORDER BY abs(v.v) DESC, v.term
    LIMIT {LSA_TOP}
    """


@query("q_lsa_power_iteration", oracle=_lsa_oracle(), tags=("text", "llm-pipeline", "iterative"))
def lsa_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latent semantic analysis, first component: power iteration on the
    term-term Gram matrix G = A'A of the term-document count matrix — the
    top singular direction of the corpus, i.e. the dominant "topic" axis
    and the terms that load on it. Three iterations from the uniform
    vector; the iteration state renormalizes by max|w| onto an exact
    1e-9 integer grid each step (q_hits_authority's deferred-
    normalization trick), so the distributed mat-vec is EXACT BIGINT
    arithmetic — no engine-ordered double summation anywhere inside the
    loop; doubles appear only in the final unit-norm loadings.

    Scale: the Gram matrix is O(vocab^2) — vocabulary-bounded (31 types
    here), built from one token aggregate + one doc-keyed self-join; each
    iteration is a join against the O(vocab) vector relation. The oracle
    unrolls the identical 3 steps as CTEs. Top-{LSA_TOP} terms ranked by
    |loading| with the term as tiebreak."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
    )
    a, b = tf.alias("a"), tf.alias("b")
    g = (
        a.join(b, F.col("a.doc_id") == F.col("b.doc_id"))
        .groupBy(F.col("a.term").alias("t1"), F.col("b.term").alias("t2"))
        .agg(F.sum(F.col("a.f") * F.col("b.f")).cast("long").alias("w"))
        .transform(materialize)
    )
    v = g.select(F.col("t1").alias("term")).distinct().withColumn(
        "v", F.lit(LSA_SCALE).cast("long")
    )
    mx_last = None
    for _ in range(LSA_ITERS):
        # materialize the O(vocab)-row iteration state: w is referenced
        # twice (mx and the renormalized v) and v feeds the next iteration
        # plus three end-of-loop consumers, so a lazy loop re-plans and
        # re-executes an exponentially duplicated mat-vec tree — the
        # materialized-frontier rule every iterative op in this repo follows
        w = (
            g.join(v.withColumnRenamed("term", "t2"), "t2")
            .groupBy(F.col("t1").alias("term"))
            .agg(F.sum(F.col("w") * F.col("v")).cast("long").alias("w"))
            .transform(materialize)
        )
        mx = w.agg(F.max(F.abs(F.col("w"))).cast("long").alias("mx"))
        mx_last = mx
        v = w.crossJoin(F.broadcast(mx)).select(
            "term",
            F.round(F.col("w") * F.lit(1.0) / F.col("mx") * LSA_SCALE)
            .cast("long")
            .alias("v"),
        )
    nrm = v.agg(
        F.sqrt(
            F.sum((F.col("v") * F.lit(1.0) / LSA_SCALE) * (F.col("v") * F.lit(1.0) / LSA_SCALE))
        ).alias("l2")
    )
    lam = mx_last.select((F.col("mx") * F.lit(1.0) / LSA_SCALE).alias("lambda1"))
    # rank via a triangular self-join over the O(vocab) relation — the
    # repo rule bans single-partition windows in operators/ (the relation
    # is bounded here, but the rule is grep-enforced; the join is O(vocab^2))
    va = v.select(F.col("term").alias("t_a"), F.col("v").alias("v_a"))
    rnk = (
        va.join(
            F.broadcast(v),
            (F.abs(F.col("v")) > F.abs(F.col("v_a")))
            | ((F.abs(F.col("v")) == F.abs(F.col("v_a"))) & (F.col("term") <= F.col("t_a"))),
        )
        .groupBy("t_a", "v_a")
        .agg(F.count(F.lit(1)).cast("long").alias("rnk"))
    )
    return (
        rnk.crossJoin(F.broadcast(nrm))
        .crossJoin(F.broadcast(lam))
        .select(
            F.col("t_a").alias("term"),
            "rnk",
            F.round(F.col("v_a") * F.lit(1.0) / LSA_SCALE / F.col("l2"), 6).alias("loading"),
            F.round("lambda1", 2).alias("lambda1"),
        )
        .orderBy("rnk")
        .limit(LSA_TOP)
    )


# ---------------------------------------------------------------------------
# q_readability — Flesch reading ease / FK grade per source
# ---------------------------------------------------------------------------

READ_WPS = 15  # pseudo-sentence length: the synthetic corpus has no
# punctuation, so sentences := ceil(words / 15) — the convention is named in
# the output; on real text you'd split on terminal punctuation instead.

_READ_SQL = f"""
    WITH toks AS (
      SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    syl AS (
      SELECT source, tok,
             greatest(len(regexp_extract_all(tok, '[aeiouy]+')), 1) AS s
      FROM toks
    ),
    docs_per AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM documents
      GROUP BY source
    ),
    agg AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS words,
             CAST(sum(s) AS BIGINT) AS syllables
      FROM syl GROUP BY source
    ),
    calc AS (
      SELECT a.source, d.n_docs, a.words, a.syllables,
             CAST(ceil(a.words * 1e0 / {READ_WPS}) AS BIGINT) AS sentences
      FROM agg a JOIN docs_per d ON a.source = d.source
    )
    SELECT source, n_docs, words, syllables, sentences,
           round(syllables * 1e0 / words, 6) AS syl_per_word,
           round(206.835e0 - 1.015e0 * (words * 1e0 / sentences)
                 - 84.6e0 * (syllables * 1e0 / words), 4) AS flesch_ease,
           round(0.39e0 * (words * 1e0 / sentences)
                 + 11.8e0 * (syllables * 1e0 / words) - 15.59e0, 4)
             AS fk_grade
    FROM calc ORDER BY source
"""


@query("q_readability", oracle=_READ_SQL, tags=("text", "llm-pipeline", "quality"))
def readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading ease and Flesch-Kincaid grade per source: the two
    classic readability formulas over syllables/word and words/sentence —
    the quality-scoring signal (beside q_gopher_rules' structural gates
    and q_ccnet_ppl_buckets' LM tier) that filters content by audience
    complexity in curation pipelines. Syllables are counted as vowel-
    group runs ([aeiouy]+) floored at 1 per token — the standard cheap
    approximation; the synthetic corpus has no punctuation, so sentences
    are fixed {READ_WPS}-word pseudo-sentences (named in the docstring
    and constant — on real text, split on terminal punctuation).

    Determinism: words, syllables, and sentences are exact BIGINTs
    (regex vowel runs count identically on both engines; ceil of an
    exact ratio of integers is engine-stable); both formulas are single
    double expressions of those integers, rounded at 4/6. Scale: ONE
    token-explode scan with map-side combinable per-source sums —
    O(sources) after."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("source", F.explode(F.split("text", " ")).alias("tok"))
    syl = toks.select(
        "source",
        F.greatest(
            F.size(F.regexp_extract_all("tok", F.lit("[aeiouy]+"), 0)), F.lit(1)
        ).alias("s"),
    )
    docs_per = docs.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    agg = syl.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("words"),
        F.sum("s").cast("long").alias("syllables"),
    )
    calc = agg.join(F.broadcast(docs_per), "source").withColumn(
        "sentences",
        F.ceil(F.col("words") * F.lit(1.0) / READ_WPS).cast("long"),
    )
    wps = F.col("words") * F.lit(1.0) / F.col("sentences")
    spw = F.col("syllables") * F.lit(1.0) / F.col("words")
    return calc.select(
        "source",
        "n_docs",
        "words",
        "syllables",
        "sentences",
        F.round(spw, 6).alias("syl_per_word"),
        F.round(F.lit(206.835) - 1.015 * wps - 84.6 * spw, 4).alias("flesch_ease"),
        F.round(F.lit(0.39) * wps + 11.8 * spw - 15.59, 4).alias("fk_grade"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# q_burrows_delta — stylometric distance between sources
# ---------------------------------------------------------------------------

BD_MFW = 15  # most-frequent corpus words forming the style fingerprint

_BD_SQL = f"""
    WITH toks AS (
      SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    mfw AS (
      SELECT tok FROM (
        SELECT tok, count(*) AS c,
               row_number() OVER (ORDER BY count(*) DESC, tok) AS rn
        FROM toks GROUP BY tok
      ) WHERE rn <= {BD_MFW}
    ),
    st AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY source),
    cnt AS (
      SELECT t.source, t.tok, CAST(count(*) AS BIGINT) AS c
      FROM toks t JOIN mfw ON t.tok = mfw.tok
      GROUP BY t.source, t.tok
    ),
    f AS (
      SELECT st.source, mfw.tok,
             round(coalesce(cnt.c, 0) * 1e0 / st.n, 12) AS f
      FROM st CROSS JOIN mfw
      LEFT JOIN cnt ON cnt.source = st.source AND cnt.tok = mfw.tok
    ),
    mom AS (
      SELECT tok, count(*) AS k,
             CAST(sum(CAST(round(f * 1e12) AS BIGINT)) AS DOUBLE)
               / count(*) / 1e12 AS mu,
             sqrt(CAST(sum(CAST(round(f * 1e12) AS HUGEINT)
                           * CAST(round(f * 1e12) AS BIGINT)) AS DOUBLE)
                    / 1e24 / count(*)
                  - (CAST(sum(CAST(round(f * 1e12) AS BIGINT)) AS DOUBLE)
                     / count(*) / 1e12)
                    * (CAST(sum(CAST(round(f * 1e12) AS BIGINT)) AS DOUBLE)
                       / count(*) / 1e12)) AS sd
      FROM f GROUP BY tok
    ),
    z AS (
      SELECT f.source, f.tok, round((f.f - m.mu) / m.sd, 6) AS z
      FROM f JOIN mom m ON f.tok = m.tok WHERE m.sd > 0
    )
    SELECT a.source AS source_a, b.source AS source_b,
           round(CAST(sum(CAST(round(abs(a.z - b.z) * 1e6) AS BIGINT)) AS DOUBLE)
                 / count(*) / 1e6, 6) AS delta
    FROM z a JOIN z b ON a.tok = b.tok AND a.source < b.source
    GROUP BY a.source, b.source
    ORDER BY source_a, source_b
"""


@query("q_burrows_delta", oracle=_BD_SQL, tags=("text", "llm-pipeline"))
def burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows' Delta (2002) — the standard stylometric distance for
    authorship/provenance analysis: z-score each source's relative
    frequency of the {BD_MFW} most frequent corpus words (function words
    carry style, not topic), then Delta(a,b) = mean |z_a - z_b|. In a
    curation pipeline this is the provenance screen — two 'different'
    sources with near-zero Delta are the same generator/mirror wearing
    different names (the style-level complement of q_cross_source_dedup's
    content matching and q_langid_profile's language tiers).

    Determinism: relative frequencies are exact-integer ratios rounded
    at 12; per-word mean/sd aggregate the 20-source relation (reorder
    noise ~1e-16, absorbed by rounding z at 6); Delta averages {BD_MFW}
    6-dp values, rounded at 6. Scale: ONE token-explode scan produces
    the MFW list and the (source x word) counts — both vocabulary/
    source-bounded model relations; the pair join is O(sources^2 x
    {BD_MFW})."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("source", F.explode(F.split("text", " ")).alias("tok"))
    # MFW pick is a distributed TakeOrdered over the vocabulary (orderBy+
    # limit → per-partition partial top-K), not a single-partition
    # row_number — the vocab (corpus^~0.5 under Heaps' law) never sorts on
    # one task. Tie-break (c DESC, tok) matches the oracle's rn exactly.
    mfw = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("tok").asc())
        .limit(BD_MFW)
        .select("tok")
    )
    st = toks.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n"))
    cnt = (
        toks.join(F.broadcast(mfw), "tok")
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    f = (
        st.crossJoin(F.broadcast(mfw))
        .join(cnt, ["source", "tok"], "left")
        .select(
            "source",
            "tok",
            F.round(
                F.coalesce("c", F.lit(0)) * F.lit(1.0) / F.col("n"), 12
            ).alias("f"),
        )
    )
    # integer-moments rule: f is 12-dp — moments sum exact 1e-12 grains
    f12 = F.round(F.col("f") * 1e12).cast("long")
    mu_d = F.sum(f12).cast("double") / F.count(F.lit(1)) / 1e12
    mom = f.groupBy("tok").agg(
        mu_d.alias("mu"),
        F.sqrt(
            F.sum(f12.cast("decimal(19,0)") * f12).cast("double")
            / 1e24
            / F.count(F.lit(1))
            - mu_d * mu_d
        ).alias("sd"),
    )
    z = (
        f.join(F.broadcast(mom), "tok")
        .filter(F.col("sd") > 0)
        .select(
            "source", "tok", F.round((F.col("f") - F.col("mu")) / F.col("sd"), 6).alias("z")
        )
    )
    a = z.select(F.col("source").alias("source_a"), "tok", F.col("z").alias("za"))
    b = z.select(F.col("source").alias("source_b"), "tok", F.col("z").alias("zb"))
    return (
        a.join(b, "tok")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.round(
                F.sum(
                    F.round(F.abs(F.col("za") - F.col("zb")) * 1e6).cast("long")
                ).cast("double")
                / F.count(F.lit(1))
                / 1e6,
                6,
            ).alias("delta")
        )
        .orderBy("source_a", "source_b")
    )


# ---------------------------------------------------------------------------
# q_umass_coherence — topic coherence of each source's signature terms
# ---------------------------------------------------------------------------

UC_TOPK = 5  # signature terms per source forming the "topic"
UC_MIN_DF = 3  # signature terms must appear in >= this many docs overall

_UC_SQL = f"""
    WITH toks AS (
      SELECT DISTINCT doc_id, source, unnest(string_split(text, ' ')) AS tok
      FROM documents
    ),
    df AS (SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS d FROM toks
           GROUP BY tok),
    sdf AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS sd FROM toks
            GROUP BY source, tok),
    ndocs AS (SELECT source, CAST(count(*) AS BIGINT) AS nd FROM documents
              GROUP BY source),
    scored AS (
      SELECT s.source, s.tok,
             round(s.sd * 1e0 / n.nd, 12)
               / round(df.d * 1e0 / (SELECT count(*) FROM documents), 12) AS lift
      FROM sdf s JOIN ndocs n ON s.source = n.source
      JOIN df ON s.tok = df.tok
      WHERE df.d >= {UC_MIN_DF}
    ),
    topk AS (
      SELECT source, tok FROM (
        SELECT source, tok,
               row_number() OVER (PARTITION BY source
                                  ORDER BY lift DESC, tok) AS rn
        FROM scored
      ) WHERE rn <= {UC_TOPK}
    ),
    pairs AS (
      SELECT a.source, a.tok AS wi, b.tok AS wj
      FROM topk a JOIN topk b ON a.source = b.source AND a.tok < b.tok
    ),
    codf AS (
      SELECT p.source, p.wi, p.wj, CAST(count(DISTINCT x.doc_id) AS BIGINT) AS dij
      FROM pairs p
      JOIN toks x ON x.tok = p.wi
      JOIN toks y ON y.tok = p.wj AND y.doc_id = x.doc_id
      GROUP BY p.source, p.wi, p.wj
    )
    SELECT p.source,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(sum(ln((coalesce(c.dij, 0) + 1.0) / dj.d)), 6) AS umass_coherence
    FROM pairs p
    JOIN df dj ON p.wj = dj.tok
    LEFT JOIN codf c ON c.source = p.source AND c.wi = p.wi AND c.wj = p.wj
    GROUP BY p.source
    ORDER BY p.source
"""


@query("q_umass_coherence", oracle=_UC_SQL, tags=("text", "llm-pipeline"))
def umass_coherence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UMass topic coherence (Mimno et al. 2011) of each source's
    signature vocabulary: take the {UC_TOPK} highest-LIFT terms per
    source (in-source doc rate over corpus doc rate, df >= {UC_MIN_DF})
    as the source's 'topic', then score sum over ordered pairs of
    ln((D(wi,wj)+1)/D(wj)) — high when the signature words actually
    CO-OCCUR in documents (a coherent theme), strongly negative when
    the top-lift list is an artifact of disjoint sub-corpora. The
    standard intrinsic eval for any topic decomposition
    (q_lsa_power_iteration's axes, cluster keyword lists) without
    needing human ratings.

    Determinism: doc frequencies and co-document counts are exact
    integers on DISTINCT (doc, token) pairs; lift ranks with tok
    tie-breaks after 12-dp rounding; the coherence sum spans <=
    C({UC_TOPK},2) pairs and rounds at 6. Scale: exactly TWO corpus
    passes — one distinct-doc aggregation builds sdf, with df derived
    from sdf by re-aggregating over sources (every doc has one source,
    so corpus df = sum of per-source dfs — no second corpus shuffle);
    and one broadcast-filtered scan extracts the signature-term postings
    so the co-df join touches only O(sources x k) posting lists, never
    the full token stream. The naive form — four consumers each
    re-running the corpus-wide explode+distinct, and a co-df join that
    shuffled EVERY (doc, token) pair on (doc_id, wj) — measured 91.3× at
    100× replication (round-8 scale tier, the seventh defect it caught:
    346 s at 100×); this form re-measured 67 s (9.2× from a base that
    now carries the two checkpoint materializations)."""
    docs = load_table(spark, sf_dir, "documents")
    raw_toks = docs.select(
        "doc_id", "source", F.explode(F.split("text", " ")).alias("tok")
    )
    n_total = docs.count()  # O(1) driver scalar
    sdf = (
        raw_toks.groupBy("source", "tok")
        .agg(F.count_distinct("doc_id").cast("long").alias("sd"))
        .transform(materialize)  # vocab×sources-sized; feeds df, scored, final
    )
    df = sdf.groupBy("tok").agg(F.sum("sd").cast("long").alias("d"))
    ndocs = docs.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("nd"))
    scored = (
        sdf.join(F.broadcast(ndocs), "source")
        .join(df, "tok")
        .filter(F.col("d") >= UC_MIN_DF)
        .select(
            "source",
            "tok",
            (
                F.round(F.col("sd") * F.lit(1.0) / F.col("nd"), 12)
                / F.round(F.col("d") * F.lit(1.0) / n_total, 12)
            ).alias("lift"),
        )
    )
    w = Window.partitionBy("source").orderBy(F.col("lift").desc(), "tok")
    topk = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= UC_TOPK)
        .select("source", "tok")
    )
    pairs = (
        topk.selectExpr("source", "tok AS wi")
        .join(topk.selectExpr("source", "tok AS wj"), "source")
        .filter(F.col("wi") < F.col("wj"))
    ).transform(materialize)  # O(sources × k²) rows; reused by 3 consumers
    # signature-term postings: ONE broadcast-filtered corpus scan (the
    # distinct runs on the tiny filtered set, not the full token stream)
    sig_terms = pairs.selectExpr("wi AS tok").union(
        pairs.selectExpr("wj AS tok")
    ).distinct()
    postings = (
        raw_toks.join(F.broadcast(sig_terms), "tok")
        .select("doc_id", "tok")
        .distinct()
        .transform(materialize)  # O(sources × k) posting lists
    )
    x = postings.selectExpr("doc_id", "tok AS wi")
    y = postings.selectExpr("doc_id", "tok AS wj")
    codf = (
        pairs.join(x, "wi")
        .join(y, ["doc_id", "wj"])
        .groupBy("source", "wi", "wj")
        .agg(F.count_distinct("doc_id").cast("long").alias("dij"))
    )
    return (
        pairs.join(df.selectExpr("tok AS wj", "d"), "wj")
        .join(codf, ["source", "wi", "wj"], "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.round(
                F.sum(
                    F.log((F.coalesce("dij", F.lit(0)) + F.lit(1.0)) / F.col("d"))
                ),
                6,
            ).alias("umass_coherence"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q_uncertainty_sampling — margin-based active-learning selection
# ---------------------------------------------------------------------------

US_K = 20  # docs selected for labeling

_US_SQL = f"""
    WITH tok AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term FROM documents
    ),
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
      SELECT t.doc_id, p.p_lang, CAST(count(*) AS BIGINT) AS overlap
      FROM (SELECT DISTINCT doc_id, term FROM tok) t
      JOIN profile p USING (term)
      GROUP BY t.doc_id, p.p_lang
    ),
    ranked AS (
      SELECT doc_id, p_lang, overlap,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY overlap DESC, p_lang) AS rnk
      FROM doc_votes
    ),
    margins AS (
      SELECT doc_id,
             max(CASE WHEN rnk = 1 THEN p_lang END) AS best_lang,
             CAST(max(CASE WHEN rnk = 1 THEN overlap END) AS BIGINT) AS best_overlap,
             CAST(coalesce(max(CASE WHEN rnk = 2 THEN overlap END), 0) AS BIGINT)
               AS second_overlap
      FROM ranked GROUP BY doc_id
    )
    SELECT m.doc_id, m.best_lang, m.best_overlap, m.second_overlap,
           m.best_overlap - m.second_overlap AS margin,
           d.lang AS true_lang,
           m.best_lang = d.lang AS classifier_correct
    FROM margins m JOIN documents d ON m.doc_id = d.doc_id
    ORDER BY margin, m.doc_id
    LIMIT {US_K}
"""


@query("q_uncertainty_sampling", oracle=_US_SQL, tags=("text", "llm-pipeline", "ml"))
def uncertainty_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based active-learning selection over q_langid_profile's
    corpus-profile classifier: per document, the gap between the best
    and second-best language-profile overlap is the classifier's
    confidence margin; the {US_K} smallest-margin documents are the
    ones a labeling budget buys the most from (Lewis & Gale 1994 —
    uncertainty sampling). The true label rides along so the relation
    itself shows the point: classifier errors concentrate exactly in
    the low-margin set. q_kcenter_coreset is the diversity-driven
    complement; real selection loops blend both.

    Determinism: overlaps and margins are exact integer counts; the
    vote ranking ties on language name, the final cut totally orders by
    (margin, doc_id). Scale: the same broadcast-profile equi-join as
    q_langid_profile (one token scan; vocabulary-sized profiles), then
    a doc-partitioned rank and a global top-k (TakeOrdered)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", "lang", F.explode(F.split("text", " ")).alias("term"))
    lang_term = tok.groupBy("lang", "term").agg(F.count(F.lit(1)).alias("n"))
    w_prof = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("term"))
    profile = (
        lang_term.withColumn("rnk", F.row_number().over(w_prof))
        .filter(F.col("rnk") <= 20)
        .select(F.col("lang").alias("p_lang"), "term")
    )
    votes = (
        tok.select("doc_id", "term")
        .distinct()
        .join(F.broadcast(profile), "term")
        .groupBy("doc_id", "p_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("overlap"))
    )
    w_doc = Window.partitionBy("doc_id").orderBy(F.col("overlap").desc(), "p_lang")
    ranked = votes.withColumn("rnk", F.row_number().over(w_doc))
    margins = ranked.groupBy("doc_id").agg(
        F.max(F.when(F.col("rnk") == 1, F.col("p_lang"))).alias("best_lang"),
        F.max(F.when(F.col("rnk") == 1, F.col("overlap")))
        .cast("long")
        .alias("best_overlap"),
        F.coalesce(F.max(F.when(F.col("rnk") == 2, F.col("overlap"))), F.lit(0))
        .cast("long")
        .alias("second_overlap"),
    )
    return (
        margins.join(docs.select("doc_id", F.col("lang").alias("true_lang")), "doc_id")
        .select(
            "doc_id",
            "best_lang",
            "best_overlap",
            "second_overlap",
            (F.col("best_overlap") - F.col("second_overlap")).alias("margin"),
            "true_lang",
            (F.col("best_lang") == F.col("true_lang")).alias("classifier_correct"),
        )
        .orderBy("margin", "doc_id")
        .limit(US_K)
    )


# ---------------------------------------------------------------------------
# q_learning_curve — classifier accuracy vs training-set size
# ---------------------------------------------------------------------------

LC_CUTS = (20, 40, 60, 80)  # train on the first k% of doc ids, eval the rest

_LC_SQL = f"""
    WITH tok AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    mx AS (SELECT CAST(max(doc_id) AS BIGINT) AS m FROM documents),
    cuts AS (
      SELECT k, mx.m * k // 100 AS cut
      FROM (SELECT unnest(ARRAY{list(LC_CUTS)}) AS k) kk CROSS JOIN mx
    ),
    lt AS (
      SELECT c.k, t.lang, t.term, count(*) AS n
      FROM tok t JOIN cuts c ON t.doc_id <= c.cut
      GROUP BY c.k, t.lang, t.term
    ),
    profile AS (
      SELECT k, lang AS p_lang, term FROM (
        SELECT k, lang, term,
               row_number() OVER (PARTITION BY k, lang
                                  ORDER BY n DESC, term) AS rn
        FROM lt
      ) WHERE rn <= 20
    ),
    holdout AS (
      SELECT c.k, t.doc_id, t.term
      FROM (SELECT DISTINCT doc_id, term FROM tok) t
      JOIN cuts c ON t.doc_id > c.cut
    ),
    votes AS (
      SELECT h.k, h.doc_id, p.p_lang, CAST(count(*) AS BIGINT) AS overlap
      FROM holdout h
      JOIN profile p ON p.k = h.k AND p.term = h.term
      GROUP BY h.k, h.doc_id, p.p_lang
    ),
    guess AS (
      SELECT k, doc_id, p_lang FROM (
        SELECT k, doc_id, p_lang,
               row_number() OVER (PARTITION BY k, doc_id
                                  ORDER BY overlap DESC, p_lang) AS rn
        FROM votes
      ) WHERE rn = 1
    ),
    train_n AS (
      SELECT c.k, CAST(count(*) AS BIGINT) AS n_train
      FROM documents d JOIN cuts c ON d.doc_id <= c.cut GROUP BY c.k
    )
    SELECT g.k AS train_pct, t.n_train,
           CAST(count(*) AS BIGINT) AS n_eval,
           CAST(sum(CASE WHEN g.p_lang = d.lang THEN 1 ELSE 0 END) AS BIGINT)
             AS n_correct,
           round(sum(CASE WHEN g.p_lang = d.lang THEN 1 ELSE 0 END) * 1e0
                 / count(*), 6) AS accuracy
    FROM guess g
    JOIN documents d ON g.doc_id = d.doc_id
    JOIN train_n t ON t.k = g.k
    GROUP BY g.k, t.n_train
    ORDER BY train_pct
"""


@query("q_learning_curve", oracle=_LC_SQL, tags=("ml", "llm-pipeline", "text"))
def learning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-efficiency curve of the corpus-profile language classifier:
    train on the first {LC_CUTS}% of documents (by id — the arrival
    order of a crawl), evaluate on every LATER document, and report
    holdout accuracy per training fraction — the data-scaling question
    ('do we need more labeled data, or are we saturated?') answered as
    one relation. Marginal accuracy between cuts is the VALUE of the
    extra data — the macro complement of q_uncertainty_sampling's
    per-document selection; pairs with q_heaps_law (vocabulary growth
    is what feeds the profiles).

    Determinism: profiles and votes are exact integer counts with the
    q_langid_profile tie-breaks, per training cut; accuracies divide
    exact BIGINTs, rounded 6. Scale: ONE token scan fans out to all
    cuts via the cutoff join (no per-cut re-scan); profiles stay
    vocabulary-sized per cut; windows partition by (cut, lang) and
    (cut, doc)."""
    docs = load_table(spark, sf_dir, "documents")
    # ONE corpus tokenize pass: tok previously fed two consumers (the
    # per-cut profile counts and the distinct holdout terms), re-running the
    # explode each time. Aggregating to (doc_id, lang, term, n) first —
    # smaller than the raw token stream — serves both: profile counts sum n,
    # holdout reads the distinct (doc_id, term) rows it already is.
    tok = (
        docs.select("doc_id", "lang", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("doc_id", "lang", "term")
        .agg(F.count(F.lit(1)).alias("tn"))
        .transform(materialize)
    )
    m = docs.agg(F.max("doc_id").cast("long").alias("m"))
    cuts = (
        spark.createDataFrame([(k,) for k in LC_CUTS], "k long")
        .crossJoin(F.broadcast(m))
        .select("k", F.floor(F.col("m") * F.col("k") / 100).cast("long").alias("cut"))
        .transform(materialize)  # 4 rows
    )
    lt = (
        tok.crossJoin(F.broadcast(cuts))
        .filter(F.col("doc_id") <= F.col("cut"))
        .groupBy("k", "lang", "term")
        .agg(F.sum("tn").alias("n"))
    )
    w_prof = Window.partitionBy("k", "lang").orderBy(F.col("n").desc(), "term")
    profile = (
        lt.withColumn("rn", F.row_number().over(w_prof))
        .filter(F.col("rn") <= 20)
        .select("k", F.col("lang").alias("p_lang"), "term")
    )
    holdout = (
        tok.select("doc_id", "term")  # already distinct per (doc_id, term)
        .crossJoin(F.broadcast(cuts))
        .filter(F.col("doc_id") > F.col("cut"))
        .select("k", "doc_id", "term")
    )
    votes = holdout.join(F.broadcast(profile), ["k", "term"]).groupBy(
        "k", "doc_id", "p_lang"
    ).agg(F.count(F.lit(1)).cast("long").alias("overlap"))
    w_g = Window.partitionBy("k", "doc_id").orderBy(F.col("overlap").desc(), "p_lang")
    guess = (
        votes.withColumn("rn", F.row_number().over(w_g))
        .filter(F.col("rn") == 1)
        .select("k", "doc_id", "p_lang")
    )
    train_n = (
        docs.crossJoin(F.broadcast(cuts))
        .filter(F.col("doc_id") <= F.col("cut"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("long").alias("n_train"))
    )
    correct = F.when(F.col("p_lang") == F.col("lang"), 1).otherwise(0)
    return (
        guess.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_eval"),
            F.sum(correct).cast("long").alias("n_correct"),
        )
        .join(F.broadcast(train_n), "k")
        .select(
            F.col("k").alias("train_pct"),
            "n_train",
            "n_eval",
            "n_correct",
            F.round(F.col("n_correct") * F.lit(1.0) / F.col("n_eval"), 6).alias(
                "accuracy"
            ),
        )
        .orderBy("train_pct")
    )
