"""Embedding storage/compression tier (carved out of similarity.py at
the 1.5k-LoC module rule): Johnson-Lindenstrauss random projection and
product quantization — the "ship smaller vectors" operators beside
similarity.py's q_embedding_quantize (int8) and q_matryoshka_recall
(prefix truncation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdatainfinance1_spark.functions.materialize import materialize
from bigdatainfinance1_spark.registry import query
from bigdatainfinance1_spark.sources.catalog import load_table

# ---------------------------------------------------------------------------
# q_random_projection — Johnson-Lindenstrauss distance-distortion audit
# ---------------------------------------------------------------------------

JL_OUT_DIM = 16
JL_IN_DIM = 64
JL_N_QUERIES = 10
JL_EPS_LO, JL_EPS_HI = 700000, 1300000  # |ratio - 1| <= 0.3 at 1e-6 grain


def _jl_signs() -> list[list[int]]:
    """Fixed Rademacher (+-1) projection matrix, derived from md5 at
    code-generation time so both engines consume identical literals."""
    import hashlib

    return [
        [
            1 if int(hashlib.md5(f"jl-{j}-{i}".encode()).hexdigest(), 16) % 2 == 0 else -1
            for i in range(JL_IN_DIM)
        ]
        for j in range(JL_OUT_DIM)
    ]


def _jl_oracle() -> str:
    signs = _jl_signs()
    lit = "[" + ", ".join("[" + ", ".join(str(v) for v in row) + "]" for row in signs) + "]"
    return f"""
    WITH s AS (SELECT {lit} AS m),
    proj AS (
      SELECT e.vec_id,
             list_transform(range(1, {JL_OUT_DIM} + 1), j ->
               list_sum(list_transform(range(1, {JL_IN_DIM} + 1), i ->
                 s.m[j][i] * CAST(e.embedding[i] AS DOUBLE))) / 4e0) AS p,
             e.embedding
      FROM embeddings e CROSS JOIN s
    ),
    pairs AS (
      SELECT a.vec_id AS qa, b.vec_id AS qb,
        sqrt(list_sum(list_transform(range(1, {JL_IN_DIM} + 1), i ->
          (CAST(a.embedding[i] AS DOUBLE) - CAST(b.embedding[i] AS DOUBLE))
          * (CAST(a.embedding[i] AS DOUBLE) - CAST(b.embedding[i] AS DOUBLE))))) AS dorig,
        sqrt(list_sum(list_transform(range(1, {JL_OUT_DIM} + 1), j ->
          (a.p[j] - b.p[j]) * (a.p[j] - b.p[j])))) AS dproj
      FROM proj a JOIN proj b ON a.vec_id < {JL_N_QUERIES} AND b.vec_id <> a.vec_id
    ),
    r AS (
      SELECT CAST(round(dproj / dorig * 1000000) AS BIGINT) AS r6
      FROM pairs WHERE dorig > 0
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(r6) AS BIGINT) AS s1, CAST(sum(r6 * r6) AS BIGINT) AS s2,
             CAST(min(r6) AS BIGINT) AS mn, CAST(max(r6) AS BIGINT) AS mx,
             CAST(sum(CASE WHEN r6 BETWEEN {JL_EPS_LO} AND {JL_EPS_HI}
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_in
      FROM r
    )
    SELECT n AS n_pairs,
           round(s1 * 1e0 / n / 1e6, 6) AS mean_ratio,
           round(mn / 1e6, 6) AS min_ratio,
           round(mx / 1e6, 6) AS max_ratio,
           round(sqrt((n * 1e0 * s2 - s1 * 1e0 * s1) / (n * 1e0 * (n - 1))) / 1e6, 6)
             AS sd_ratio,
           round(n_in * 1e0 / n, 6) AS frac_within_30pct
    FROM m
    """


@query("q_random_projection", oracle=_jl_oracle(), tags=("similarity", "llm", "storage"))
def random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection audit: project the 64-dim
    embeddings to 16 dims through a FIXED Rademacher +-1 matrix (scaled
    1/sqrt(16)) and measure the pairwise Euclidean distance distortion
    dproj/dorig over a bounded query sample — the dimensionality-
    reduction counterpart of q_matryoshka_recall (which truncates learned
    prefixes; JL needs no training at all) and the theory behind
    sign-LSH. Reports the distortion mean/min/max/sd and the fraction of
    pairs within the +-30% JL band.

    Determinism: the sign matrix is md5-derived at CODE-GENERATION time
    and baked into both engines as literals; projections and distances
    are left-to-right ordered list folds over identical doubles, and
    every aggregate runs on exact 1e-6-grain BIGINT ratios (no
    engine-ordered double summation). Scale: one O(n_vecs) projection
    map, a query-bounded pair join (n_queries x corpus), one moment
    aggregate."""
    signs = _jl_signs()
    emb = load_table(spark, sf_dir, "embeddings")
    m_lit = (
        "array("
        + ", ".join("array(" + ", ".join(str(v) for v in row) + ")" for row in signs)
        + ")"
    )
    proj = emb.select(
        "vec_id",
        "embedding",
        F.expr(
            f"transform(sequence(0, {JL_OUT_DIM - 1}), j -> aggregate("
            f"zip_with({m_lit}[j], embedding, (s, x) -> s * CAST(x AS DOUBLE)),"
            " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) / 4e0)"
        ).alias("p"),
    )
    a = proj.select(
        F.col("vec_id").alias("qa"), F.col("embedding").alias("ea"), F.col("p").alias("pa")
    ).filter(F.col("qa") < JL_N_QUERIES)
    b = proj.select(
        F.col("vec_id").alias("qb"), F.col("embedding").alias("eb"), F.col("p").alias("pb")
    )
    pairs = F.broadcast(a).crossJoin(b).filter(F.col("qb") != F.col("qa"))
    dorig = F.sqrt(
        F.expr(
            "aggregate(zip_with(ea, eb, (x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))"
            " * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )
    )
    dproj = F.sqrt(
        F.expr(
            "aggregate(zip_with(pa, pb, (x, y) -> (x - y) * (x - y)),"
            " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )
    )
    r = pairs.select(dorig.alias("dorig"), dproj.alias("dproj")).filter(
        F.col("dorig") > 0
    ).select(F.round(F.col("dproj") / F.col("dorig") * 1e6).cast("long").alias("r6"))
    m = r.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("r6").cast("long").alias("s1"),
        F.sum(F.col("r6") * F.col("r6")).cast("long").alias("s2"),
        F.min("r6").cast("long").alias("mn"),
        F.max("r6").cast("long").alias("mx"),
        F.sum(F.when(F.col("r6").between(JL_EPS_LO, JL_EPS_HI), 1).otherwise(0))
        .cast("long")
        .alias("n_in"),
    )
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    return m.select(
        n.alias("n_pairs"),
        F.round(s1 * F.lit(1.0) / n / 1e6, 6).alias("mean_ratio"),
        F.round(F.col("mn") / F.lit(1e6), 6).alias("min_ratio"),
        F.round(F.col("mx") / F.lit(1e6), 6).alias("max_ratio"),
        F.round(
            F.sqrt((n * F.lit(1.0) * s2 - s1 * F.lit(1.0) * s1) / (n * F.lit(1.0) * (n - 1)))
            / 1e6,
            6,
        ).alias("sd_ratio"),
        F.round(F.col("n_in") * F.lit(1.0) / n, 6).alias("frac_within_30pct"),
    )


# ---------------------------------------------------------------------------
# q_embedding_pq — product-quantization codebook training + encode audit
# ---------------------------------------------------------------------------

PQ_SUBS = 8  # subspaces (64 dims -> 8 x 8)
PQ_SUB_DIM = 8
PQ_K = 4  # codes per subspace (3-bit-ish codebook, 8 bytes/vector total)
PQ_ITERS = 3
PQ_SAMPLE_N = 512


def _pq_oracle() -> str:
    """Unrolled per-subspace Lloyd training + corpus encoding: ONE CTE
    chain carries the subspace id as a key column, so the 8 codebooks
    train simultaneously with the same CTE count as plain k-means (the
    _ivf_prefix_sql pattern; identical 12-dp iteration rounding)."""
    head = f"""
    WITH x AS MATERIALIZED (
      SELECT vec_id, CAST((s.i - 1) // {PQ_SUB_DIM} AS BIGINT) AS sub,
             s.i - ((s.i - 1) // {PQ_SUB_DIM}) * {PQ_SUB_DIM} AS i,
             CAST(embedding[s.i] AS DOUBLE) AS v
      FROM embeddings, generate_series(1, {PQ_SUBS * PQ_SUB_DIM}) s(i)
    ),
    samp_ids AS (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {PQ_SAMPLE_N}),
    xs AS MATERIALIZED (SELECT x.* FROM x JOIN samp_ids USING (vec_id)),
    init_ids AS (
      SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cid
      FROM embeddings ORDER BY vec_id LIMIT {PQ_K}
    ),
    c0 AS (SELECT x.sub, n.cid, x.i, x.v AS m FROM x JOIN init_ids n USING (vec_id))
    """
    steps = ""
    for t in range(1, PQ_ITERS + 1):
        steps += f""",
    d{t} AS (
      SELECT xs.vec_id, xs.sub, c.cid,
             round(sum((xs.v - c.m) * (xs.v - c.m)), 12) AS d2
      FROM xs JOIN c{t - 1} c ON xs.sub = c.sub AND xs.i = c.i
      GROUP BY xs.vec_id, xs.sub, c.cid
    ),
    a{t} AS (
      SELECT vec_id, sub, cid FROM (
        SELECT vec_id, sub, cid,
               row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, cid) AS rn
        FROM d{t}
      ) WHERE rn = 1
    ),
    n{t} AS (
      SELECT a.sub, a.cid, xs.i, round(avg(xs.v), 12) AS m
      FROM a{t} a JOIN xs ON a.vec_id = xs.vec_id AND a.sub = xs.sub
      GROUP BY a.sub, a.cid, xs.i
    ),
    c{t} AS (
      SELECT p.sub, p.cid, p.i, coalesce(n.m, p.m) AS m
      FROM c{t - 1} p LEFT JOIN n{t} n
        ON p.sub = n.sub AND p.cid = n.cid AND p.i = n.i
    )"""
    return f"""
    {head}{steps},
    cd AS (
      SELECT x.vec_id, x.sub, c.cid, round(sum((x.v - c.m) * (x.v - c.m)), 12) AS d2
      FROM x JOIN c{PQ_ITERS} c ON x.sub = c.sub AND x.i = c.i
      GROUP BY x.vec_id, x.sub, c.cid
    ),
    best AS (
      SELECT vec_id, sub, cid, CAST(round(d2 * 1000000) AS BIGINT) AS r6 FROM (
        SELECT vec_id, sub, cid, d2,
               row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, cid) AS rn
        FROM cd
      ) WHERE rn = 1
    ),
    per_code AS (
      SELECT sub, cid, CAST(count(*) AS BIGINT) AS cnt FROM best GROUP BY sub, cid
    ),
    code_stats AS (
      SELECT sub, CAST(count(*) AS BIGINT) AS n_codes_used,
             CAST(max(cnt) AS BIGINT) AS top_cnt
      FROM per_code GROUP BY sub
    ),
    sub_stats AS (
      SELECT sub, CAST(count(*) AS BIGINT) AS n_vecs, CAST(sum(r6) AS BIGINT) AS s6
      FROM best GROUP BY sub
    )
    SELECT s.sub, s.n_vecs,
           round(s.s6 * 1e0 / s.n_vecs / 1e6, 6) AS mse,
           c.n_codes_used,
           round(c.top_cnt * 1e0 / s.n_vecs, 6) AS top_code_share
    FROM sub_stats s JOIN code_stats c ON s.sub = c.sub
    ORDER BY s.sub
    """


@query("q_embedding_pq", oracle=_pq_oracle(), tags=("similarity", "llm", "storage", "iterative"))
def embedding_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization: split the 64-dim embeddings into 8
    subspaces of 8 dims, train a 4-code Lloyd codebook per subspace on
    the fixed lowest-id sample (3 iterations, the q_ann_ivf_topk
    deterministic-training contract: 12-dp-rounded distances and means,
    argmin ties to the lowest code), then encode the WHOLE corpus and
    report per-subspace quantization MSE, codes actually used, and the
    top-code share — the storage tier below IVF (8 bytes per vector here
    vs 256 for float32) and the codebook-health audit (a subspace where
    one code swallows everything is wasted bits) run before shipping a
    compressed ANN index.

    Determinism: training replicates in the oracle as ONE unrolled CTE
    chain keyed by subspace (8 codebooks train simultaneously); corpus
    distances round at 12 dp and every reported aggregate runs on exact
    1e-6-grain BIGINTs. Scale: training touches the O(sample) slice; the
    encode is one map-side pass with the 8x4x8 codebook as literals; the
    result relation is O(subspaces)."""
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    sample = (
        emb.orderBy("vec_id").limit(PQ_SAMPLE_N).select("embedding").toPandas()["embedding"].to_numpy()
    )
    xfull = np.stack(sample).astype(np.float64)
    books = []
    for s in range(PQ_SUBS):
        xs = xfull[:, s * PQ_SUB_DIM : (s + 1) * PQ_SUB_DIM]
        cents = xs[:PQ_K].copy()
        for _ in range(PQ_ITERS):
            d2 = np.round(((xs[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2), 12)
            assign = d2.argmin(axis=1)
            for c in range(PQ_K):
                members = xs[assign == c]
                if len(members):
                    cents[c] = np.round(members.mean(axis=0), 12)
        books.append(cents)
    book_lit = (
        "array("
        + ", ".join(
            "array("
            + ", ".join(
                "array(" + ", ".join(repr(float(v)) for v in code) + ")" for code in sub
            )
            + ")"
            for sub in books
        )
        + ")"
    )
    diff = (
        f"(CAST(element_at(embedding, sub * {PQ_SUB_DIM} + j + 1) AS DOUBLE)"
        f" - element_at(element_at(element_at({book_lit}, sub + 1), c + 1), j + 1))"
    )
    d2s = (
        f"transform(sequence(0, {PQ_K - 1}), c -> round(aggregate("
        f"sequence(0, {PQ_SUB_DIM - 1}), CAST(0.0 AS DOUBLE),"
        f" (acc, j) -> acc + {diff} * {diff}), 12))"
    )
    best = (
        f"array_sort(transform({d2s}, (d, c) -> named_struct('d', d, 'c', c)))[0]"
    )
    enc = (
        emb.select("vec_id", "embedding")
        .select("vec_id", "embedding", F.explode(F.expr(f"sequence(0, {PQ_SUBS - 1})")).alias("sub"))
        .select(
            "vec_id",
            "sub",
            F.expr(best).alias("b"),
        )
        .select(
            "vec_id",
            "sub",
            F.col("b.c").alias("cid"),
            F.round(F.col("b.d") * 1e6).cast("long").alias("r6"),
        )
    )
    per_code = enc.groupBy("sub", "cid").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    code_stats = per_code.groupBy("sub").agg(
        F.count(F.lit(1)).cast("long").alias("n_codes_used"),
        F.max("cnt").cast("long").alias("top_cnt"),
    )
    sub_stats = enc.groupBy("sub").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.sum("r6").cast("long").alias("s6"),
    )
    return (
        sub_stats.join(code_stats, "sub")
        .select(
            "sub",
            "n_vecs",
            F.round(F.col("s6") * F.lit(1.0) / F.col("n_vecs") / 1e6, 6).alias("mse"),
            "n_codes_used",
            F.round(F.col("top_cnt") * F.lit(1.0) / F.col("n_vecs"), 6).alias("top_code_share"),
        )
        .orderBy("sub")
    )


# ---------------------------------------------------------------------------
# q_kcenter_coreset — greedy k-center selection over a hash-sampled pool
# ---------------------------------------------------------------------------

KC_POOL = 16  # deterministic hash-sampled candidate pool size
KC_K = 5  # centers selected
KC_KNUTH = 2654435761
KC_MOD = 2147483648

_KC_COS = """
      list_sum(list_transform(range(1, 65), i -> CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)))
      / (sqrt(list_sum(list_transform(range(1, 65), i -> CAST(ea.embedding[i] AS DOUBLE) * CAST(ea.embedding[i] AS DOUBLE))))
       * sqrt(list_sum(list_transform(range(1, 65), i -> CAST(eb.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)))))
"""


def _kc_oracle() -> str:
    layers = ""
    for j in range(2, KC_K + 1):
        d_joins = "".join(
            f"""
      JOIN dists d{i} ON d{i}.a = c.vec_id AND d{i}.b = s.p{i}"""
            for i in range(1, j)
        )
        mind = (
            "d1.d"
            if j == 2
            else "least(" + ", ".join(f"d{i}.d" for i in range(1, j)) + ")"
        )
        not_in = ", ".join(f"s.p{i}" for i in range(1, j))
        carry = ", ".join(
            [f"s.p{i}" for i in range(1, j)]
            + [f"s.r{i}" for i in range(1, j)]
        )
        layers += f""",
    sel{j} AS MATERIALIZED (
      SELECT {carry},
             max_by(c.vec_id,
                    CAST(round({mind} * 1e8) AS BIGINT) * 100000000 - c.vec_id)
               AS p{j},
             round(max({mind}), 8) AS r{j}
      FROM sel{j - 1} s
      JOIN pool c ON c.vec_id NOT IN ({not_in})
      {d_joins}
      GROUP BY {carry}
    )"""
    melt = " UNION ALL ".join(
        f"SELECT {j} AS rnk, p{j} AS vec_id, r{j} AS min_dist_to_selected FROM sel{KC_K}"
        for j in range(1, KC_K + 1)
    )
    return f"""
    WITH pool AS MATERIALIZED (
      SELECT vec_id, embedding FROM (
        SELECT vec_id, embedding,
               row_number() OVER (
                 ORDER BY (vec_id * {KC_KNUTH} + 7) % {KC_MOD}, vec_id) AS rn
        FROM embeddings
      ) WHERE rn <= {KC_POOL}
    ),
    dists AS MATERIALIZED (
      SELECT a.vec_id AS a, b.vec_id AS b,
             round(1 - ({_KC_COS}), 8) AS d
      FROM pool a JOIN pool b ON a.vec_id <> b.vec_id
      JOIN embeddings ea ON ea.vec_id = a.vec_id
      JOIN embeddings eb ON eb.vec_id = b.vec_id
    ),
    sel1 AS MATERIALIZED (
      SELECT min_by(vec_id, (vec_id * {KC_KNUTH} + 7) % {KC_MOD}) AS p1,
             CAST(NULL AS DOUBLE) AS r1
      FROM pool
    ){layers}
    SELECT CAST(rnk AS BIGINT) AS rnk, vec_id, min_dist_to_selected
    FROM ({melt})
    ORDER BY rnk
    """


@query("q_kcenter_coreset", oracle=_kc_oracle(), tags=("similarity", "llm-pipeline"))
def kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset selection (Sener & Savarese 2018, the
    coreset active-learning/data-selection primitive): over a
    deterministic hash-sampled pool of {KC_POOL} vectors, repeatedly
    pick the candidate FARTHEST (cosine distance) from everything
    already selected — a 2-approximation of the k-center cover, the
    selection that maximizes coverage diversity where q_mmr_rerank
    trades relevance against redundancy and q_semdedup prunes
    redundancy outright. Sample-then-greedy is the corpus-scale
    posture: the greedy chain is inherently sequential, so production
    selection runs it on a bounded sketch of the data (here the hashed
    pool), exactly as expressed.

    Determinism: the pool rides the repo's SplitMix-style hash order
    with vec_id tie-breaks; pairwise distances round at 8; every greedy
    argmax rides one exact BIGINT key (8-dp distance scaled, vec_id
    tie-break). Both engines walk identical chains — Spark through
    materialized {KC_POOL}-row relations, the oracle through
    MATERIALIZED CTEs (each layer re-reads dists j-1 times). Scale: the
    only corpus pass is the hash ranking; everything after is
    O(pool^2)."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    from bigdatainfinance1_spark.functions.vector import cosine_sim

    # Pool pick is a distributed TakeOrdered (orderBy+limit → per-partition
    # partial top-K, driver merges KC_POOL rows), NOT a single-partition
    # row_number window — the corpus never sorts on one task.
    h = (F.col("vec_id") * KC_KNUTH + 7) % KC_MOD
    pool = (
        emb.orderBy(h.asc(), F.col("vec_id").asc())
        .limit(KC_POOL)
        .select("vec_id", "embedding")
        .transform(materialize)  # O(pool) rows
    )
    a = pool.selectExpr("vec_id AS a", "embedding AS va")
    b = pool.selectExpr("vec_id AS b", "embedding AS vb")
    dists = (
        a.join(b, F.col("a") != F.col("b"))
        .select("a", "b", F.round(1 - cosine_sim("va", "vb"), 8).alias("d"))
        .transform(materialize)  # O(pool^2) rows
    )
    sel = pool.agg(
        F.min_by("vec_id", (F.col("vec_id") * KC_KNUTH + 7) % KC_MOD).alias("p1"),
        F.lit(None).cast("double").alias("r1"),
    )
    for j in range(2, KC_K + 1):
        joined = sel.crossJoin(pool.select(F.col("vec_id")))
        for i in range(1, j):
            joined = joined.filter(F.col("vec_id") != F.col(f"p{i}"))
        for i in range(1, j):
            di = dists.selectExpr(f"a AS da{i}", f"b AS db{i}", f"d AS dd{i}")
            joined = joined.join(
                di,
                (F.col(f"da{i}") == F.col("vec_id"))
                & (F.col(f"db{i}") == F.col(f"p{i}")),
            )
        mind = (
            F.col("dd1")
            if j == 2
            else F.least(*[F.col(f"dd{i}") for i in range(1, j)])
        )
        key = F.round(mind * 1e8).cast("long") * 100000000 - F.col("vec_id")
        carry = [f"p{i}" for i in range(1, j)] + [f"r{i}" for i in range(1, j)]
        sel = joined.groupBy(*carry).agg(
            F.max_by("vec_id", key).alias(f"p{j}"),
            F.round(F.max(mind), 8).alias(f"r{j}"),
        )
    stack_args = ", ".join(f"{j}, p{j}, r{j}" for j in range(1, KC_K + 1))
    return (
        sel.select(
            F.expr(
                f"stack({KC_K}, {stack_args}) AS (rnk, vec_id, min_dist_to_selected)"
            )
        )
        .select(
            F.col("rnk").cast("long").alias("rnk"),
            "vec_id",
            "min_dist_to_selected",
        )
        .orderBy("rnk")
    )
