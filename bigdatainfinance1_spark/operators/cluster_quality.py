"""Clustering-quality diagnostics over the labeled embedding space:
simplified silhouette and the Davies-Bouldin index — the "are these
clusters any good" layer the clustering operators themselves
(q_kmeans_embeddings, q_semdedup's Lloyd core, the IVF coarse quantizer)
need before anyone trusts their assignments.

Both queries share one centroid relation (per-label per-dim means,
6-dp-rounded so downstream distances are computed from identical doubles
on both engines) and stay linear: member-to-centroid distances are a
join of the exploded vectors against the O(labels x dims) centroid
relation — never vector-vector pairs (the full silhouette's O(n^2)
pairwise form is exactly what the simplified variant exists to avoid at
corpus scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdatainfinance1_spark.functions.materialize import materialize
from bigdatainfinance1_spark.registry import query
from bigdatainfinance1_spark.sources.catalog import load_table

# Shared DuckDB prefix: exploded vectors, 6-dp centroids, and the
# 12-dp-rounded squared distance of every vector to every label centroid.
_DIST_SQL = """
    x AS (
      SELECT vec_id, label, s.i AS i, CAST(embedding[s.i] AS DOUBLE) AS v
      FROM embeddings, generate_series(1, 64) s(i)
    ),
    cent AS (
      SELECT label AS cl, i,
             round(CAST(sum(CAST(round(v * 1e9) AS BIGINT)) AS DOUBLE)
                   / count(*) / 1e9, 6) AS c
      FROM x GROUP BY label, i
    ),
    d2 AS (
      SELECT x.vec_id, x.label, c.cl,
             round(CAST(sum(CAST(round((x.v - c.c) * (x.v - c.c) * 1e12) AS BIGINT))
                        AS DOUBLE) / 1e12, 12) AS d2
      FROM x JOIN cent c ON x.i = c.i
      GROUP BY x.vec_id, x.label, c.cl
    )
"""


def _cent_mean():
    """Integer-moments rule: centroid means sum 1e-9-grain integers."""
    return F.round(
        F.sum(F.round(F.col("v") * 1e9).cast("long")).cast("double")
        / F.count(F.lit(1))
        / 1e9,
        6,
    )


def _dist_relation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, label, cl, d2): 12-dp squared distance of each vector to
    each label centroid (centroids 6-dp-rounded first)."""
    emb = load_table(spark, sf_dir, "embeddings")
    x = emb.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding")).alias("i0", "vf"),
    ).select("vec_id", "label", (F.col("i0") + 1).alias("i"), F.col("vf").cast("double").alias("v"))
    cent = x.groupBy(F.col("label").alias("cl"), "i").agg(_cent_mean().alias("c"))
    return (
        x.join(F.broadcast(cent), "i")
        .groupBy("vec_id", "label", "cl")
        .agg(
            F.round(
                F.sum(
                    F.round(
                        (F.col("v") - F.col("c")) * (F.col("v") - F.col("c")) * 1e12
                    ).cast("long")
                ).cast("double")
                / 1e12,
                12,
            ).alias("d2")
        )
    )


# ---------------------------------------------------------------------------
# q_silhouette — simplified (centroid-based) silhouette per label
# ---------------------------------------------------------------------------


@query(
    "q_silhouette",
    oracle=f"""
    WITH {_DIST_SQL},
    ab AS (
      SELECT vec_id, label,
             sqrt(min(CASE WHEN cl = label THEN d2 END)) AS a,
             sqrt(min(CASE WHEN cl <> label THEN d2 END)) AS b
      FROM d2 GROUP BY vec_id, label
    ),
    s AS (
      SELECT vec_id, label,
             CAST(round((b - a) / greatest(a, b) * 1000000) AS BIGINT) AS s6
      FROM ab WHERE greatest(a, b) > 0
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           round(sum(s6) * 1e0 / count(*) / 1e6, 6) AS mean_silhouette,
           round(min(s6) / 1e6, 6) AS min_silhouette,
           CAST(sum(CASE WHEN s6 < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_misplaced
    FROM s GROUP BY label ORDER BY label
    """,
    tags=("similarity", "ml", "eval", "llm"),
)
def silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified silhouette per embedding label: a = distance to the own
    centroid, b = distance to the nearest OTHER centroid, s = (b-a)/
    max(a,b) — the standard linear-time surrogate for the O(n^2)
    pairwise silhouette (identical ranking behavior, corpus-scale
    feasible). Negative s marks vectors sitting closer to a foreign
    centroid than their own — the per-label n_misplaced count is the
    direct mislabeling screen q_embedding_outliers' distance-only view
    cannot give (an outlier can still be on the right side; a negative
    silhouette cannot).

    Determinism: centroids are 6-dp-rounded before any distance, squared
    distances re-round at 12 dp (the q_ann_ivf_topk contract), and each
    vector's score snaps to an exact 1e-6-grain BIGINT before the
    per-label aggregate — no engine-ordered double summation. Scale: one
    explode + one join against the O(labels x dims) broadcast centroid
    relation; everything per-vector is map-side after that join."""
    d2 = _dist_relation(spark, sf_dir)
    ab = d2.groupBy("vec_id", "label").agg(
        F.sqrt(F.min(F.when(F.col("cl") == F.col("label"), F.col("d2")))).alias("a"),
        F.sqrt(F.min(F.when(F.col("cl") != F.col("label"), F.col("d2")))).alias("b"),
    )
    s = ab.filter(F.greatest("a", "b") > 0).select(
        "label",
        F.round((F.col("b") - F.col("a")) / F.greatest("a", "b") * 1e6)
        .cast("long")
        .alias("s6"),
    )
    return (
        s.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.round(F.sum("s6") * F.lit(1.0) / F.count(F.lit(1)) / 1e6, 6).alias(
                "mean_silhouette"
            ),
            F.round(F.min("s6") / F.lit(1e6), 6).alias("min_silhouette"),
            F.sum(F.when(F.col("s6") < 0, 1).otherwise(0))
            .cast("long")
            .alias("n_misplaced"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# q_davies_bouldin — worst-partner cluster separation index
# ---------------------------------------------------------------------------


@query(
    "q_davies_bouldin",
    oracle=f"""
    WITH {_DIST_SQL},
    scat AS (
      SELECT label,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(sqrt(d2) * 1000000) AS BIGINT)) AS BIGINT) AS sd6
      FROM d2 WHERE cl = label GROUP BY label
    ),
    sl AS (SELECT label, n, sd6 * 1e0 / n / 1e6 AS s FROM scat),
    cc AS (
      SELECT a.cl AS l1, b.cl AS l2,
             round(sqrt(CAST(sum(CAST(round((a.c - b.c) * (a.c - b.c) * 1e12)
                                      AS BIGINT)) AS DOUBLE) / 1e12), 12) AS m
      FROM cent a JOIN cent b ON a.i = b.i AND a.cl <> b.cl
      GROUP BY a.cl, b.cl
    ),
    ratio AS (
      SELECT a.label, a.s AS s_own, cc.l2 AS partner, b.s AS s_partner, cc.m,
             (a.s + b.s) / cc.m AS r
      FROM sl a JOIN cc ON cc.l1 = a.label JOIN sl b ON b.label = cc.l2
    ),
    worst AS (
      SELECT label, s_own, partner, r FROM (
        SELECT label, s_own, partner, r,
               row_number() OVER (PARTITION BY label
                                  ORDER BY round(r, 9) DESC, partner) AS rk
        FROM ratio
      ) WHERE rk = 1
    ),
    db AS (SELECT round(CAST(sum(CAST(round(r * 1e12) AS BIGINT)) AS DOUBLE)
                        / count(*) / 1e12, 6) AS db_index FROM worst)
    SELECT w.label, round(w.s_own, 6) AS scatter, w.partner AS worst_partner,
           round(w.r, 6) AS worst_ratio, d.db_index
    FROM worst w CROSS JOIN db d
    ORDER BY w.label
    """,
    tags=("similarity", "ml", "eval", "llm"),
)
def davies_bouldin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Davies-Bouldin index over the embedding labels: per-cluster scatter
    S_l (mean member-to-centroid distance), pairwise centroid separation
    M_lm, and for each cluster its WORST partner by (S_l + S_m)/M_lm —
    the index is the mean worst ratio (lower = tighter, better-separated
    clusters). The per-label worst-partner column tells you WHICH two
    clusters to merge or re-split — the actionable half the single
    number hides.

    Determinism: scatter sums snap each distance to an exact 1e-6-grain
    BIGINT; centroid separations compute from 6-dp-rounded centroids and
    re-round at 12 dp; the worst-partner pick ranks on round(r, 9) with
    the partner label as tiebreak. The final db_index averages k=10
    doubles inside one bounded group (identical values both engines,
    rounded at 6). Scale: member distances are the shared linear
    centroid join; everything else is O(labels^2)."""
    emb = load_table(spark, sf_dir, "embeddings")
    x = emb.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding")).alias("i0", "vf"),
    ).select("vec_id", "label", (F.col("i0") + 1).alias("i"), F.col("vf").cast("double").alias("v"))
    cent = x.groupBy(F.col("label").alias("cl"), "i").agg(_cent_mean().alias("c"))
    cent_o = cent.select(F.col("cl"), F.col("i").alias("ci"), F.col("c"))
    d2own = (
        x.join(F.broadcast(cent_o), (F.col("i") == F.col("ci")) & (F.col("label") == F.col("cl")))
        .groupBy("vec_id", "label")
        .agg(
            F.round(
                F.sum(
                    F.round(
                        (F.col("v") - F.col("c")) * (F.col("v") - F.col("c")) * 1e12
                    ).cast("long")
                ).cast("double")
                / 1e12,
                12,
            ).alias("d2")
        )
    )
    scat = d2own.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.round(F.sqrt("d2") * 1e6).cast("long")).cast("long").alias("sd6"),
    )
    sl = scat.select("label", "n", (F.col("sd6") * F.lit(1.0) / F.col("n") / 1e6).alias("s"))
    ca = cent.select(F.col("cl").alias("l1"), "i", F.col("c").alias("c1"))
    cb = cent.select(F.col("cl").alias("l2"), F.col("i").alias("i2"), F.col("c").alias("c2"))
    cc = (
        ca.join(F.broadcast(cb), (F.col("i") == F.col("i2")) & (F.col("l1") != F.col("l2")))
        .groupBy("l1", "l2")
        .agg(
            F.round(
                F.sqrt(
                    F.sum(
                        F.round(
                            (F.col("c1") - F.col("c2"))
                            * (F.col("c1") - F.col("c2"))
                            * 1e12
                        ).cast("long")
                    ).cast("double")
                    / 1e12
                ),
                12,
            ).alias("m")
        )
    )
    ratio = (
        sl.withColumnRenamed("label", "l1")
        .withColumnRenamed("s", "s_own")
        .join(F.broadcast(cc), "l1")
        .join(
            F.broadcast(sl.select(F.col("label").alias("l2"), F.col("s").alias("s_partner"))),
            "l2",
        )
        .select(
            F.col("l1").alias("label"),
            "s_own",
            F.col("l2").alias("partner"),
            ((F.col("s_own") + F.col("s_partner")) / F.col("m")).alias("r"),
        )
    )
    from pyspark.sql import Window as W

    wk = W.partitionBy("label").orderBy(F.round(F.col("r"), 9).desc(), "partner")
    worst = ratio.withColumn("rk", F.row_number().over(wk)).filter(F.col("rk") == 1)
    db = worst.agg(
        F.round(
            F.sum(F.round(F.col("r") * 1e12).cast("long")).cast("double")
            / F.count(F.lit(1))
            / 1e12,
            6,
        ).alias("db_index")
    )
    return (
        worst.crossJoin(F.broadcast(db))
        .select(
            "label",
            F.round("s_own", 6).alias("scatter"),
            F.col("partner").alias("worst_partner"),
            F.round("r", 6).alias("worst_ratio"),
            "db_index",
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# q_lof_outliers — local outlier factor over a bounded query sample
# ---------------------------------------------------------------------------

LOF_K = 5
LOF_N_QUERIES = 20  # vec_id < 20 are scored
LOF_CUT = 1.5  # conventional outlier threshold


def _lof_oracle() -> str:
    knn = """
      SELECT pid, nid, d, rn FROM (
        SELECT p.vec_id AS pid, e.vec_id AS nid,
               round(sqrt(round(list_sum(list_transform(range(1, 65), i ->
                 (CAST(p.embedding[i] AS DOUBLE) - CAST(e.embedding[i] AS DOUBLE))
                 * (CAST(p.embedding[i] AS DOUBLE) - CAST(e.embedding[i] AS DOUBLE)))),
                 12)), 12) AS d,
               row_number() OVER (PARTITION BY p.vec_id
                                  ORDER BY round(list_sum(list_transform(range(1, 65), i ->
                                    (CAST(p.embedding[i] AS DOUBLE) - CAST(e.embedding[i] AS DOUBLE))
                                    * (CAST(p.embedding[i] AS DOUBLE) - CAST(e.embedding[i] AS DOUBLE)))),
                                    12), e.vec_id) AS rn
        FROM {probe} p JOIN embeddings e ON e.vec_id <> p.vec_id
      ) WHERE rn <= {k}
    """
    return f"""
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < {LOF_N_QUERIES}),
    knnq AS ({knn.format(probe="q", k=LOF_K)}),
    p1 AS (
      SELECT DISTINCT e.vec_id, e.embedding
      FROM knnq JOIN embeddings e ON knnq.nid = e.vec_id
    ),
    knn1 AS ({knn.format(probe="p1", k=LOF_K)}),
    s AS (
      SELECT DISTINCT e.vec_id, e.embedding FROM knn1
      JOIN embeddings e ON knn1.nid = e.vec_id
      UNION
      SELECT vec_id, embedding FROM p1
    ),
    knns AS ({knn.format(probe="s", k=LOF_K)}),
    kdist AS (SELECT pid AS id, d AS kd FROM knns WHERE rn = {LOF_K}),
    lrd1 AS (
      -- local reachability density of every first-hop neighbor
      SELECT knn1.pid AS id,
             {LOF_K}e0 * 1000000 /
             greatest(sum(CAST(round(greatest(knn1.d, kd.kd) * 1000000) AS BIGINT)), 1)
               AS lrd
      FROM knn1 JOIN kdist kd ON knn1.nid = kd.id
      GROUP BY knn1.pid
    ),
    lrdq AS (
      SELECT knnq.pid AS id,
             {LOF_K}e0 * 1000000 /
             greatest(sum(CAST(round(greatest(knnq.d, kd.kd) * 1000000) AS BIGINT)), 1)
               AS lrd
      FROM knnq JOIN kdist kd ON knnq.nid = kd.id
      GROUP BY knnq.pid
    ),
    lof AS (
      SELECT knnq.pid AS vec_id,
             sum(CAST(round(l1.lrd * 1000000) AS BIGINT)) * 1e0
             / {LOF_K} / CAST(round(lq.lrd * 1000000) AS BIGINT) AS lof
      FROM knnq
      JOIN lrd1 l1 ON knnq.nid = l1.id
      JOIN lrdq lq ON knnq.pid = lq.id
      GROUP BY knnq.pid, lq.lrd
    )
    SELECT l.vec_id, e.label,
           round(kd.kd, 6) AS k_distance,
           round(lq.lrd, 6) AS lrd,
           round(l.lof, 4) AS lof,
           round(l.lof, 4) > {LOF_CUT} AS is_outlier
    FROM lof l
    JOIN embeddings e ON l.vec_id = e.vec_id
    JOIN kdist kd ON l.vec_id = kd.id
    JOIN lrdq lq ON l.vec_id = lq.id
    ORDER BY l.vec_id
    """


@query("q_lof_outliers", oracle=_lof_oracle(), tags=("similarity", "ml", "quality", "llm"))
def lof_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local outlier factor (k=5) for a bounded query sample of
    embeddings: LOF(q) = mean over q's neighbors o of lrd(o)/lrd(q),
    where lrd is the inverse mean REACHABILITY distance
    max(d(a,b), k-distance(b)) — the density-RELATIVE outlier score that
    flags points in locally sparse territory even when the global
    distance screens (q_mahalanobis_outliers, q_embedding_outliers) see
    nothing, because it compares each point's density to its OWN
    neighborhood's. Needs 2-hop neighborhoods, so three probe-vs-corpus
    passes: N(Q), N(N(Q)), and the k-distances of that closure — each
    probe set bounded by k^h |Q|, never corpus x corpus.

    Determinism: squared distances round at 12 dp inside the fold and
    ranks tie on neighbor id; reachability distances and lrds snap to
    exact 1e-6-grain BIGINTs before every mean, so no engine-ordered
    double summation. Reach sums floor at one 1e-6 grain — the standard
    duplicate-point degeneracy guard (exact-duplicate vectors make a
    neighborhood's reachability zero; the 10x replication stress hits
    this by construction). Scale: probe-bounded scans (|probe| x corpus map
    work with partitioned top-k windows); the LSH/IVF bucketed paths are
    the corpus-wide variant of the same semantics."""
    from bigdatainfinance1_spark.functions.partitioning import parallelize_scan

    # the probe-vs-corpus distance folds fuse into the corpus scan stage;
    # a few-split embeddings layout serializes all |probe| x corpus x 64-dim
    # work on one core (measured 19.3 s -> the fold is ~0.6 s of compute)
    emb = parallelize_scan(
        load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    )
    d2f = (
        "round(aggregate(zip_with(pe, embedding, (x, y) ->"
        " (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))),"
        " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v), 12)"
    )

    def knn(probe: DataFrame) -> DataFrame:
        p = probe.select(F.col("vec_id").alias("pid"), F.col("embedding").alias("pe"))
        pairs = (
            F.broadcast(p)
            .crossJoin(emb)
            .filter(F.col("vec_id") != F.col("pid"))
            .select(
                "pid",
                F.col("vec_id").alias("nid"),
                F.expr(d2f).alias("d2"),
            )
        )
        w = Window.partitionBy("pid").orderBy("d2", "nid")
        return (
            pairs.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= LOF_K)
            .select("pid", "nid", F.round(F.sqrt("d2"), 12).alias("d"), "rn")
        )

    from pyspark.sql import Window

    q = emb.filter(F.col("vec_id") < LOF_N_QUERIES)
    knnq = materialize(knn(q))
    p1 = emb.join(
        knnq.select(F.col("nid").alias("vec_id")).distinct(), "vec_id"
    )
    knn1 = materialize(knn(p1))
    s = emb.join(
        knn1.select(F.col("nid").alias("vec_id"))
        .union(knn1.select(F.col("pid").alias("vec_id")))
        .distinct(),
        "vec_id",
    )
    knns = knn(s)
    kdist = knns.filter(F.col("rn") == LOF_K).select(
        F.col("pid").alias("id"), F.col("d").alias("kd")
    ).transform(materialize)

    def lrd(knn_rel: DataFrame) -> DataFrame:
        return (
            knn_rel.join(kdist.withColumnRenamed("id", "nid"), "nid")
            .groupBy("pid")
            .agg(
                (
                    F.lit(float(LOF_K)) * 1000000
                    / F.greatest(
                        F.sum(F.round(F.greatest("d", "kd") * 1000000).cast("long")),
                        F.lit(1),
                    )
                ).alias("lrd")
            )
            .select(F.col("pid").alias("id"), "lrd")
        )

    lrd1 = lrd(knn1)
    lrdq = lrd(knnq)
    lof = (
        knnq.join(lrd1.withColumnRenamed("id", "nid").withColumnRenamed("lrd", "lrd_n"), "nid")
        .join(lrdq.withColumnRenamed("id", "pid").withColumnRenamed("lrd", "lrd_q"), "pid")
        .groupBy("pid", "lrd_q")
        .agg(
            (
                F.sum(F.round(F.col("lrd_n") * 1000000).cast("long"))
                * F.lit(1.0)
                / LOF_K
                / F.round(F.col("lrd_q") * 1000000).cast("long")
            ).alias("lof")
        )
    )
    labels = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    return (
        lof.select(F.col("pid").alias("vec_id"), "lrd_q", "lof")
        .join(F.broadcast(labels), "vec_id")
        .join(F.broadcast(kdist.withColumnRenamed("id", "vec_id")), "vec_id")
        .select(
            "vec_id",
            "label",
            F.round("kd", 6).alias("k_distance"),
            F.round("lrd_q", 6).alias("lrd"),
            F.round("lof", 4).alias("lof"),
            (F.round("lof", 4) > LOF_CUT).alias("is_outlier"),
        )
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# q_grid_dbscan — density clustering via grid cells + connected components
# ---------------------------------------------------------------------------

DB_CELL = 10.0  # grid cell size in degrees (the eps analogue)
DB_MINPTS = 15  # core threshold on the 3x3 neighborhood count


def min_label_components(nodes: list[int], edges: list[tuple[int, int]]) -> dict[int, int]:
    """Driver-local connected components over a BOUNDED graph: label every
    node with the MINIMUM node id in its component (the same fixpoint the
    distributed min-label loop of q_dup_clusters converges to). Union-find
    with path halving, union toward the smaller root so the root IS the
    min — used by q_grid_dbscan, whose cell graph is grid-bounded (≤ 648
    nodes at any corpus size). Property-tested against a BFS reference in
    tests/test_fuzz.py."""
    parent = {c: c for c in nodes}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, t in edges:
        ra, rb = find(s), find(t)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {c: find(c) for c in nodes}

_DB_SQL = f"""
    WITH RECURSIVE pts AS (
      SELECT c_custkey AS k,
        ((c_custkey * 2654435761) % 4294967296) % 1800 / 10e0 - 90e0  AS lat,
        ((c_custkey * 2246822519) % 4294967296) % 3600 / 10e0 - 180e0 AS lon
      FROM customer
    ),
    cells AS (
      SELECT CAST(floor(lat / {DB_CELL}) AS BIGINT) AS cx,
             CAST(floor(lon / {DB_CELL}) AS BIGINT) AS cy,
             CAST(count(*) AS BIGINT) AS n
      FROM pts GROUP BY cx, cy
    ),
    probes(dx, dy) AS (
      VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),(1,-1),(1,0),(1,1)
    ),
    nbhd AS (
      SELECT c.cx, c.cy, c.n,
             CAST(sum(x.n) AS BIGINT) AS nbr_n
      FROM cells c
      JOIN probes p ON true
      JOIN cells x ON x.cx = c.cx + p.dx AND x.cy = c.cy + p.dy
      GROUP BY c.cx, c.cy, c.n
    ),
    core AS (
      SELECT cx, cy, n, (cx + 9) * 100 + (cy + 18) AS cid
      FROM nbhd WHERE nbr_n >= {DB_MINPTS}
    ),
    edges AS (
      SELECT a.cid AS s, b.cid AS t
      FROM core a JOIN probes p ON true
      JOIN core b ON b.cx = a.cx + p.dx AND b.cy = a.cy + p.dy
    ),
    reach(s, t) AS (
      SELECT s, t FROM edges
      UNION
      SELECT r.s, e.t FROM reach r JOIN edges e ON r.t = e.s
    ),
    lbl AS (
      SELECT s AS cid, CAST(min(t) AS BIGINT) AS cluster_id FROM reach GROUP BY s
    ),
    border AS (
      SELECT nb.cx, nb.cy, nb.n,
             CAST(min(l.cluster_id) AS BIGINT) AS cluster_id
      FROM nbhd nb
      JOIN probes p ON true
      JOIN core c ON c.cx = nb.cx + p.dx AND c.cy = nb.cy + p.dy
      JOIN lbl l ON l.cid = c.cid
      WHERE nb.nbr_n < {DB_MINPTS}
      GROUP BY nb.cx, nb.cy, nb.n
    ),
    clustered AS (
      SELECT l.cluster_id, c.n, 1 AS is_core
      FROM core c JOIN lbl l ON l.cid = c.cid
      UNION ALL
      SELECT cluster_id, n, 0 FROM border
    ),
    summary AS (
      SELECT cluster_id,
             CAST(count(*) AS BIGINT) AS n_cells,
             CAST(sum(CASE WHEN is_core = 1 THEN n ELSE 0 END) AS BIGINT)
               AS n_core_points,
             CAST(sum(CASE WHEN is_core = 0 THEN n ELSE 0 END) AS BIGINT)
               AS n_border_points
      FROM clustered GROUP BY cluster_id
    ),
    noise AS (
      SELECT CAST(-1 AS BIGINT) AS cluster_id,
             CAST(0 AS BIGINT) AS n_cells,
             CAST(0 AS BIGINT) AS n_core_points,
             CAST(coalesce(sum(nb.n), 0) AS BIGINT) AS n_border_points
      FROM nbhd nb
      WHERE nb.nbr_n < {DB_MINPTS}
        AND NOT EXISTS (
          SELECT 1 FROM probes p JOIN core c
            ON c.cx = nb.cx + p.dx AND c.cy = nb.cy + p.dy
        )
    )
    SELECT * FROM (
      SELECT * FROM summary
      UNION ALL
      SELECT * FROM noise
    )
    ORDER BY n_core_points + n_border_points DESC, cluster_id
    LIMIT 10
"""


@query("q_grid_dbscan", oracle=_DB_SQL, tags=("ml", "clustering", "iterative"))
def grid_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-cell DBSCAN over the synthetic customer coordinates (the
    q_geo_grid_knn hash recipe): cells of {DB_CELL} degrees play eps,
    a cell is CORE when its 3x3 neighborhood holds >= {DB_MINPTS}
    points, clusters are connected components over adjacent core cells,
    non-core cells touching a core cell join as border mass, the rest
    is noise (reported as cluster_id -1). This is the grid tier of
    DBSCAN — the shape density clustering takes at 100 TB, where
    point-level eps-neighbor joins are infeasible but cell histograms
    are one aggregate; the exact refinement (point-level eps check
    inside boundary cells) is the named follow-up pass. Complements
    the centroid family (q_kmeans_embeddings needs k and convex blobs;
    density clustering needs neither).

    Determinism: everything through the census is exact integer
    counting on hash-derived grids; components resolve to the MINIMUM
    cell id (total order); the top-10 orders by (points DESC, id).
    The oracle closes the adjacency with a recursive CTE (the grid has
    <= 648 cells, so transitive closure is trivially bounded); Spark
    collects the (bounded, grid-sized) core-cell graph and resolves
    components with a driver-local min-union-find — see the inline
    rationale. Scale: ONE aggregate turns points into cells; everything
    after is O(cells)."""
    cust = load_table(spark, sf_dir, "customer")
    pts = cust.select(
        (
            ((F.col("c_custkey") * F.lit(2654435761)) % F.lit(4294967296)) % 1800
            / F.lit(10.0)
            - 90.0
        ).alias("lat"),
        (
            ((F.col("c_custkey") * F.lit(2246822519)) % F.lit(4294967296)) % 3600
            / F.lit(10.0)
            - 180.0
        ).alias("lon"),
    )
    cells = pts.groupBy(
        F.floor(F.col("lat") / DB_CELL).cast("long").alias("cx"),
        F.floor(F.col("lon") / DB_CELL).cast("long").alias("cy"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    probes = spark.createDataFrame(
        [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)], "dx long, dy long"
    )
    x = cells.selectExpr("cx AS xx", "cy AS xy", "n AS xn")
    nbhd = (
        cells.crossJoin(F.broadcast(probes))
        .join(
            x,
            (F.col("xx") == F.col("cx") + F.col("dx"))
            & (F.col("xy") == F.col("cy") + F.col("dy")),
        )
        .groupBy("cx", "cy", "n")
        .agg(F.sum("xn").cast("long").alias("nbr_n"))
    ).transform(materialize)  # O(cells) relation scanned by core/border/noise
    core = nbhd.filter(F.col("nbr_n") >= DB_MINPTS).select(
        "cx", "cy", "n", ((F.col("cx") + 9) * 100 + (F.col("cy") + 18)).alias("cid")
    )
    cb = core.selectExpr("cx AS bx", "cy AS by", "cid AS t")
    edges = (
        core.crossJoin(F.broadcast(probes))
        .join(
            cb,
            (F.col("bx") == F.col("cx") + F.col("dx"))
            & (F.col("by") == F.col("cy") + F.col("dy")),
        )
        .select(F.col("cid").alias("s"), "t")
    )
    # Connected components over CORE CELLS, not points: the graph is bounded
    # by the GRID, not the corpus — 18×36 = 648 possible cells at any data
    # scale (at 100 TB the census still lands in the same ≤648 cells), so
    # this is an O(cells) driver-local union-find, the same bounded-collect
    # class as a centroid pull — not a multi-job distributed label loop
    # (which this replaced, round 5: 5.1 -> ~2 s at sf0.1; the distributed
    # min-label machinery for UNBOUNDED graphs remains q_dup_clusters /
    # q_entity_resolution). Union toward the MINIMUM id reproduces the
    # min-label fixpoint (cluster_id = min cell id in the component) exactly.
    core_ids = [r["cid"] for r in core.select("cid").collect()]  # ≤ 648 rows
    edge_rows = [(r["s"], r["t"]) for r in edges.collect()]  # ≤ 648 × 9 rows
    labels = min_label_components(core_ids, edge_rows)
    lbl = spark.createDataFrame(
        [(int(c), int(l)) for c, l in labels.items()], "cid bigint, cluster_id bigint"
    )
    core_l = core.join(F.broadcast(lbl), "cid").select(
        "cluster_id", "n", F.lit(1).alias("is_core")
    )
    ca = core.selectExpr("cx AS bx", "cy AS by", "cid AS ccid")
    border = (
        nbhd.filter(F.col("nbr_n") < DB_MINPTS)
        .crossJoin(F.broadcast(probes))
        .join(
            ca,
            (F.col("bx") == F.col("cx") + F.col("dx"))
            & (F.col("by") == F.col("cy") + F.col("dy")),
        )
        .join(F.broadcast(lbl.selectExpr("cid AS ccid", "cluster_id")), "ccid")
        .groupBy("cx", "cy", "n")
        .agg(F.min("cluster_id").cast("long").alias("cluster_id"))
        .select("cluster_id", "n", F.lit(0).alias("is_core"))
    )
    clustered = core_l.unionByName(border)
    summary = clustered.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.sum(F.when(F.col("is_core") == 1, F.col("n")).otherwise(0))
        .cast("long")
        .alias("n_core_points"),
        F.sum(F.when(F.col("is_core") == 0, F.col("n")).otherwise(0))
        .cast("long")
        .alias("n_border_points"),
    )
    touched = (
        nbhd.filter(F.col("nbr_n") < DB_MINPTS)
        .crossJoin(F.broadcast(probes))
        .join(
            ca,
            (F.col("bx") == F.col("cx") + F.col("dx"))
            & (F.col("by") == F.col("cy") + F.col("dy")),
            "left_semi",
        )
        .select("cx", "cy")
    )
    noise = (
        nbhd.filter(F.col("nbr_n") < DB_MINPTS)
        .join(touched, ["cx", "cy"], "left_anti")
        .agg(F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("n_border_points"))
        .select(
            F.lit(-1).cast("long").alias("cluster_id"),
            F.lit(0).cast("long").alias("n_cells"),
            F.lit(0).cast("long").alias("n_core_points"),
            "n_border_points",
        )
    )
    return (
        summary.unionByName(noise)
        .orderBy(
            (F.col("n_core_points") + F.col("n_border_points")).desc(), "cluster_id"
        )
        .limit(10)
    )
