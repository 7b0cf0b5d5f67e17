"""Record linkage (carved out of governance_etl.py when it crossed the
1.5k-LoC module rule): Fellegi-Sunter match/unmatch parameter estimation
and the blocking-scheme quality audit (reduction ratio vs pairs
completeness) — the entity-resolution layer above the dedup stack
(q_cross_source_dedup finds the pairs; these queries quantify the
linkage model and the candidate-generation strategy feeding it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdatainfinance1_spark.functions.materialize import materialize
from bigdatainfinance1_spark.registry import query
from bigdatainfinance1_spark.sources.catalog import load_table


# ---------------------------------------------------------------------------
# q_fellegi_sunter — record-linkage m/u probabilities and match weights
# ---------------------------------------------------------------------------

FS_JACCARD_MIN = 0.3  # shingle-Jaccard floor defining the match-pair set
FS_LEN_TOL = 0.1  # length field agrees when |diff| <= 10% of the longer
FS_M_CAP = 600  # m-estimation probe cap: all docs at oracle tiers; a fixed
# sample beyond (parameter estimation needs a sample of matches, not the
# census — without the cap the co-shingle pair join scaled 11x at 10x)


@query(
    "q_fellegi_sunter",
    oracle=f"""
    WITH ds AS (
      SELECT DISTINCT doc_id, unnest(
        list_transform(range(1, len(t)-1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
      ) AS s
      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
      WHERE len(t) >= 3
    ),
    sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM ds GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(count(*) AS BIGINT) AS c
      FROM ds a JOIN ds b ON a.s = b.s AND a.doc_id < b.doc_id
      WHERE a.doc_id < {FS_M_CAP}
      GROUP BY d1, d2
    ),
    matches AS (
      SELECT i.d1, i.d2 FROM inter i
      JOIN sz s1 ON i.d1 = s1.doc_id JOIN sz s2 ON i.d2 = s2.doc_id
      WHERE i.c * 1e0 / (s1.n + s2.n - i.c) >= {FS_JACCARD_MIN}
    ),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
    randoms AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2
      FROM documents a
      JOIN nn ON true
      JOIN documents b ON b.doc_id = (a.doc_id + nn.n / 2) % nn.n
      WHERE a.doc_id < nn.n / 2
    ),
    feat AS (
      SELECT p.kind, p.d1, p.d2,
             CASE WHEN a.lang = b.lang THEN 1 ELSE 0 END AS f_lang,
             CASE WHEN a.source = b.source THEN 1 ELSE 0 END AS f_source,
             CASE WHEN abs(a.n_chars - b.n_chars)
                       <= {FS_LEN_TOL} * greatest(a.n_chars, b.n_chars)
                  THEN 1 ELSE 0 END AS f_length,
             CASE WHEN string_split(a.text, ' ')[1] = string_split(b.text, ' ')[1]
                  THEN 1 ELSE 0 END AS f_first_token
      FROM (SELECT 'match' AS kind, d1, d2 FROM matches
            UNION ALL SELECT 'random', d1, d2 FROM randoms) p
      JOIN documents a ON p.d1 = a.doc_id
      JOIN documents b ON p.d2 = b.doc_id
    ),
    agg AS (
      SELECT kind, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(f_lang) AS BIGINT) AS a_lang,
             CAST(sum(f_source) AS BIGINT) AS a_source,
             CAST(sum(f_length) AS BIGINT) AS a_length,
             CAST(sum(f_first_token) AS BIGINT) AS a_first_token
      FROM feat GROUP BY kind
    ),
    fields(field) AS (VALUES ('lang'), ('source'), ('length'), ('first_token')),
    mu AS (
      SELECT f.field,
             max(CASE WHEN g.kind = 'match' THEN g.n END) AS n_match,
             max(CASE WHEN g.kind = 'random' THEN g.n END) AS n_random,
             max(CASE WHEN g.kind = 'match' THEN
                   CASE f.field WHEN 'lang' THEN g.a_lang WHEN 'source' THEN g.a_source
                        WHEN 'length' THEN g.a_length ELSE g.a_first_token END END)
               AS a_match,
             max(CASE WHEN g.kind = 'random' THEN
                   CASE f.field WHEN 'lang' THEN g.a_lang WHEN 'source' THEN g.a_source
                        WHEN 'length' THEN g.a_length ELSE g.a_first_token END END)
               AS a_random
      FROM fields f CROSS JOIN agg g
      GROUP BY f.field
    )
    SELECT field, n_match AS n_match_pairs, n_random AS n_random_pairs,
           round((a_match + 1) * 1e0 / (n_match + 2), 6) AS m_prob,
           round((a_random + 1) * 1e0 / (n_random + 2), 6) AS u_prob,
           round(ln(((a_match + 1) * 1e0 / (n_match + 2))
                    / ((a_random + 1) * 1e0 / (n_random + 2))), 6) AS w_agree,
           round(ln((1 - (a_match + 1) * 1e0 / (n_match + 2))
                    / (1 - (a_random + 1) * 1e0 / (n_random + 2))), 6) AS w_disagree
    FROM mu ORDER BY field
    """,
    tags=("dedup", "etl", "quality", "llm-pipeline"),
)
def fellegi_sunter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter record-linkage parameters for four comparison
    fields (language, source, length-within-10%, first token): m =
    P(field agrees | matched pair) estimated on the shingle-Jaccard >=
    {FS_JACCARD_MIN} near-dup pairs, u = P(agrees | non-match) on a
    deterministic half-shift pairing of the corpus, both with add-one
    smoothing; the log-likelihood-ratio weights w_agree = ln(m/u) and
    w_disagree = ln((1-m)/(1-u)) are THE parameters a probabilistic
    linkage engine (Splink-style) scores candidate pairs with — this
    query is the training step the rule-based q_entity_resolution and
    q_fuzzy_match_names tiers skip.

    Determinism: both pair sets are exact (Jaccard on exact integer
    shingle counts; the random set is a pure key-arithmetic pairing, no
    RNG); agreement counts are exact BIGINTs and every m/u/weight is a
    closed form of them, rounded at 6. Scale: the match set rides the
    shingle equi-join (banded at corpus scale — the q_minhash_lsh path);
    the u-set is a key-shift equi-join, linear; feature extraction is
    two broadcast-free keyed joins against documents."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("t")).filter(F.size("t") >= 3)
    ds = toks.select(
        "doc_id",
        F.explode(
            F.expr("transform(sequence(0, size(t) - 3), i -> concat_ws(' ', t[i], t[i+1], t[i+2]))")
        ).alias("s"),
    ).distinct()
    sz = ds.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n"))
    a, b = ds.alias("a"), ds.alias("b")
    inter = (
        a.filter(F.col("a.doc_id") < FS_M_CAP)
        .join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    matches = (
        inter.join(sz.withColumnRenamed("doc_id", "d1").withColumnRenamed("n", "n1"), "d1")
        .join(sz.withColumnRenamed("doc_id", "d2").withColumnRenamed("n", "n2"), "d2")
        .filter(
            F.col("c") * F.lit(1.0) / (F.col("n1") + F.col("n2") - F.col("c"))
            >= FS_JACCARD_MIN
        )
        .select("d1", "d2")
    )
    nn = docs.agg(F.count(F.lit(1)).cast("long").alias("n"))
    randoms = (
        docs.select("doc_id")
        .crossJoin(F.broadcast(nn))
        .filter(F.col("doc_id") < F.col("n") / 2)
        .select(
            F.col("doc_id").alias("d1"),
            ((F.col("doc_id") + F.floor(F.col("n") / 2)) % F.col("n")).alias("d2"),
        )
    )
    pairs = matches.withColumn("kind", F.lit("match")).unionByName(
        randoms.withColumn("kind", F.lit("random"))
    )
    da = docs.select(
        F.col("doc_id").alias("d1"), F.col("lang").alias("la"), F.col("source").alias("sa"),
        F.col("n_chars").alias("ca"), F.split("text", " ").getItem(0).alias("fa"),
    )
    db = docs.select(
        F.col("doc_id").alias("d2"), F.col("lang").alias("lb"), F.col("source").alias("sb"),
        F.col("n_chars").alias("cb"), F.split("text", " ").getItem(0).alias("fb"),
    )
    feat = pairs.join(da, "d1").join(db, "d2").select(
        "kind",
        F.when(F.col("la") == F.col("lb"), 1).otherwise(0).alias("f_lang"),
        F.when(F.col("sa") == F.col("sb"), 1).otherwise(0).alias("f_source"),
        F.when(
            F.abs(F.col("ca") - F.col("cb")) <= FS_LEN_TOL * F.greatest("ca", "cb"), 1
        ).otherwise(0).alias("f_length"),
        F.when(F.col("fa") == F.col("fb"), 1).otherwise(0).alias("f_first_token"),
    )
    # agg is a 2-row relation consumed once per feature field below (4
    # consumers); without materialization the whole shingle-intersection
    # match pipeline re-executes per field (round-5 double-execution audit).
    agg = feat.groupBy("kind").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("f_lang").cast("long").alias("a_lang"),
        F.sum("f_source").cast("long").alias("a_source"),
        F.sum("f_length").cast("long").alias("a_length"),
        F.sum("f_first_token").cast("long").alias("a_first_token"),
    ).transform(materialize)
    rows = []
    for field in ("lang", "source", "length", "first_token"):
        rows.append(
            agg.groupBy()
            .agg(
                F.lit(field).alias("field"),
                F.max(F.when(F.col("kind") == "match", F.col("n"))).alias("n_match_pairs"),
                F.max(F.when(F.col("kind") == "random", F.col("n"))).alias("n_random_pairs"),
                F.max(F.when(F.col("kind") == "match", F.col(f"a_{field}"))).alias("am"),
                F.max(F.when(F.col("kind") == "random", F.col(f"a_{field}"))).alias("ar"),
            )
        )
    mu = rows[0]
    for r in rows[1:]:
        mu = mu.unionByName(r)
    m = (F.col("am") + 1) * F.lit(1.0) / (F.col("n_match_pairs") + 2)
    u = (F.col("ar") + 1) * F.lit(1.0) / (F.col("n_random_pairs") + 2)
    return mu.select(
        "field",
        "n_match_pairs",
        "n_random_pairs",
        F.round(m, 6).alias("m_prob"),
        F.round(u, 6).alias("u_prob"),
        F.round(F.log(m / u), 6).alias("w_agree"),
        F.round(F.log((1 - m) / (1 - u)), 6).alias("w_disagree"),
    ).orderBy("field")


# ---------------------------------------------------------------------------
# q_blocking_quality — reduction ratio vs pairs completeness of a block key
# ---------------------------------------------------------------------------

_BQ_SQL = f"""
    WITH ds AS (
      SELECT DISTINCT doc_id, unnest(
        list_transform(range(1, len(t)-1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
      ) AS s
      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
      WHERE len(t) >= 3
    ),
    sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM ds GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(count(*) AS BIGINT) AS c
      FROM ds a JOIN ds b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY d1, d2
    ),
    matches AS (
      SELECT i.d1, i.d2 FROM inter i
      JOIN sz s1 ON i.d1 = s1.doc_id JOIN sz s2 ON i.d2 = s2.doc_id
      WHERE i.c * 1e0 / (s1.n + s2.n - i.c) >= {FS_JACCARD_MIN}
    ),
    keys AS (
      SELECT doc_id, lang || '|' || string_split(text, ' ')[1] AS bk
      FROM documents
    ),
    blocks AS (SELECT bk, CAST(count(*) AS BIGINT) AS nb FROM keys GROUP BY bk),
    stats AS (
      SELECT CAST(sum(nb) AS BIGINT) AS n_docs,
             CAST(sum(nb * (nb - 1)) / 2 AS BIGINT) AS blocked_pairs,
             CAST(count(*) AS BIGINT) AS n_blocks,
             CAST(max(nb) AS BIGINT) AS max_block
      FROM blocks
    ),
    mt AS (
      SELECT m.d1, m.d2,
             CASE WHEN k1.bk = k2.bk THEN 1 ELSE 0 END AS in_block
      FROM matches m
      JOIN keys k1 ON m.d1 = k1.doc_id
      JOIN keys k2 ON m.d2 = k2.doc_id
    ),
    magg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_true,
             CAST(sum(in_block) AS BIGINT) AS n_blocked
      FROM mt
    )
    SELECT s.n_docs, s.n_blocks, s.max_block,
           CAST(s.n_docs * (s.n_docs - 1) / 2 AS BIGINT) AS total_pairs,
           s.blocked_pairs,
           round(1 - s.blocked_pairs * 1e0 / (s.n_docs * (s.n_docs - 1) / 2), 6)
             AS reduction_ratio,
           m.n_true AS n_true_matches,
           m.n_blocked AS n_matches_blocked,
           round(m.n_blocked * 1e0 / m.n_true, 6) AS pairs_completeness,
           'exact' AS method
    FROM stats s CROSS JOIN magg m
"""

# Truth-set pair budget for the blocking audit (the q_lsh_recall_audit
# gate, same physics): the exact co-shingle ground-truth join is
# output-bound under mass duplication, so above the budget the truth set
# — and therefore pairs_completeness's numerator and denominator — is
# measured inside a deterministic 1/BQ_SAMPLE_MOD xxhash doc stratum.
# PC is a RATIO, so the within-stratum rate estimates the corpus rate;
# the blocking side (reduction ratio, block census) stays full-corpus —
# it is linear. The `method` column says which tier ran. Never trips at
# oracle tiers (asserted in tests).
BQ_TRUTH_PAIR_BUDGET = 20_000_000
BQ_SAMPLE_MOD = 16


@query(
    "q_blocking_quality",
    oracle=_BQ_SQL,
    tags=("llm-pipeline", "dedup", "quality"),
)
def blocking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-scheme audit for entity resolution: candidate pairs under
    the (lang, first-token) block key vs the full n(n-1)/2 cross —
    reduction ratio — and the fraction of TRUE match pairs (exact
    shingle-Jaccard >= {FS_JACCARD_MIN}, q_fellegi_sunter's census
    definition, uncapped: an audit needs the full match set where
    parameter estimation needed only a sample) that survive blocking —
    pairs completeness. The two-number trade-off every ER/dedup pipeline
    tunes BEFORE any matcher runs: RR says how much work blocking saves,
    PC bounds achievable recall. Block-count and max-block-size expose
    the skew that decides whether the within-block pair join is safe.

    Determinism: everything is exact integer counting; the two ratios
    divide exact BIGINTs (pair counts are even products halved in
    double, exact below 2^53), rounded 6. Scale: the truth set rides
    the co-shingle equi-join — GATED (round-8, after the 100× tier
    caught the ungated exact join OOMing the heap under mass
    duplication): q_jaccard_neardup's linear fan-out estimator is
    compared against BQ_TRUTH_PAIR_BUDGET, and above it the truth set
    runs inside a deterministic 1/{BQ_SAMPLE_MOD} xxhash doc stratum
    with the `method` column saying so — pairs completeness is a ratio,
    so the within-stratum rate estimates the corpus rate (the
    q_lsh_recall_audit posture). The blocking census / reduction-ratio
    side is linear keyed aggregation and stays full-corpus exact."""
    from bigdatainfinance1_spark.operators.dedup import _estimate_exact_pair_fanout

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", F.split("text", " ").alias("t")).filter(
        F.size("t") >= 3
    )
    method = "exact"
    est = _estimate_exact_pair_fanout(spark, sf_dir)
    if est > BQ_TRUTH_PAIR_BUDGET:
        import warnings

        warnings.warn(
            f"q_blocking_quality: estimated {est:.0f} truth-set pairs exceeds "
            f"budget {BQ_TRUTH_PAIR_BUDGET}; measuring pairs completeness "
            f"inside a deterministic 1/{BQ_SAMPLE_MOD} doc stratum",
            stacklevel=2,
        )
        method = f"stratum_1_of_{BQ_SAMPLE_MOD}"
        t = t.filter(F.pmod(F.xxhash64(F.col("doc_id")), F.lit(BQ_SAMPLE_MOD)) == 0)
    ds = t.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("t") - 3),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(F.col("t"), i + 1),
                    F.element_at(F.col("t"), i + 2),
                    F.element_at(F.col("t"), i + 3),
                ),
            )
        ).alias("s"),
    ).distinct()
    sz = ds.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n"))
    a = ds.select(F.col("doc_id").alias("d1"), "s")
    b = ds.select(F.col("doc_id").alias("d2"), "s")
    inter = (
        a.join(b, "s")
        .filter(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    matches = (
        inter.join(F.broadcast(sz.selectExpr("doc_id AS d1", "n AS n1")), "d1")
        .join(F.broadcast(sz.selectExpr("doc_id AS d2", "n AS n2")), "d2")
        .filter(
            F.col("c") * F.lit(1.0) / (F.col("n1") + F.col("n2") - F.col("c"))
            >= FS_JACCARD_MIN
        )
        .select("d1", "d2")
    )
    keys = docs.select(
        "doc_id",
        F.concat(F.col("lang"), F.lit("|"), F.split("text", " ").getItem(0)).alias(
            "bk"
        ),
    )
    blocks = keys.groupBy("bk").agg(F.count(F.lit(1)).cast("long").alias("nb"))
    stats = blocks.agg(
        F.sum("nb").cast("long").alias("n_docs"),
        (F.sum(F.col("nb") * (F.col("nb") - 1)) / 2).cast("long").alias(
            "blocked_pairs"
        ),
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        F.max("nb").cast("long").alias("max_block"),
    )
    mt = (
        matches.join(F.broadcast(keys.selectExpr("doc_id AS d1", "bk AS bk1")), "d1")
        .join(F.broadcast(keys.selectExpr("doc_id AS d2", "bk AS bk2")), "d2")
        .select(
            F.when(F.col("bk1") == F.col("bk2"), 1).otherwise(0).alias("in_block")
        )
    )
    magg = mt.agg(
        F.count(F.lit(1)).cast("long").alias("n_true"),
        F.sum("in_block").cast("long").alias("n_blocked"),
    )
    total_pairs = (F.col("n_docs") * (F.col("n_docs") - 1) / 2).cast("long")
    return stats.crossJoin(F.broadcast(magg)).select(
        "n_docs",
        "n_blocks",
        "max_block",
        total_pairs.alias("total_pairs"),
        "blocked_pairs",
        F.round(
            1 - F.col("blocked_pairs") * F.lit(1.0) / total_pairs, 6
        ).alias("reduction_ratio"),
        F.col("n_true").alias("n_true_matches"),
        F.col("n_blocked").alias("n_matches_blocked"),
        F.round(F.col("n_blocked") * F.lit(1.0) / F.col("n_true"), 6).alias(
            "pairs_completeness"
        ),
        F.lit(method).alias("method"),
    )
