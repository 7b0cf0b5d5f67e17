"""Robust location estimation (carved out of stats_tests.py at the
1.5k-LoC module rule): the Huber M-estimator — bounded-influence IRLS —
beside its simpler siblings q_winsorized_mean (value capping) and the
exact medians used throughout. Shares the integer-cents /
re-rounded-iteration determinism posture of q_markov_absorption.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdatainfinance1_spark.functions.materialize import materialize
from bigdatainfinance1_spark.registry import query
from bigdatainfinance1_spark.sources.catalog import load_table


# ---------------------------------------------------------------------------
# q_huber_mean — robust location via bounded IRLS (Huber M-estimator)
# ---------------------------------------------------------------------------

HUBER_K = 1.345  # 95%-efficiency tuning constant
HUBER_MAD_C = 1.4826  # MAD -> sigma consistency factor
HUBER_ITERS = 3


def _huber_oracle() -> str:
    head = f"""
    WITH obs AS MATERIALIZED (
      SELECT r.r_name AS rg,
             CAST(round(o.o_totalprice * 100) AS BIGINT) AS x
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
    ),
    med AS (
      SELECT rg, CAST(round(2 * median(x)) AS BIGINT) AS m2 FROM obs GROUP BY rg
    ),
    mad AS (
      SELECT obs.rg,
             CAST(round(2 * median(abs(2 * obs.x - med.m2))) AS BIGINT) AS d4
      FROM obs JOIN med ON obs.rg = med.rg GROUP BY obs.rg
    ),
    scale AS (
      -- sigma_hat in cents: MAD (= d4/4, the double .5 grids cancel) x c
      SELECT med.rg, med.m2, {HUBER_MAD_C} * (mad.d4 / 4e0) AS s
      FROM med JOIN mad ON med.rg = mad.rg
    ),
    mu_0 AS (SELECT rg, CAST(round(m2 / 2e0) AS BIGINT) AS mu FROM scale)"""
    steps = ""
    for t in range(1, HUBER_ITERS + 1):
        steps += f""",
    mu_{t} AS (
      SELECT o.rg,
             CAST(round((CAST(sum(CAST(round(least(1e0, {HUBER_K} * sc.s
                                       / nullif(abs(o.x - m.mu), 0)) * o.x * 1e6)
                                       AS HUGEINT)) AS DOUBLE) / 1e6)
                        / (CAST(sum(CAST(round(least(1e0, {HUBER_K} * sc.s
                                         / nullif(abs(o.x - m.mu), 0)) * 1e12)
                                         AS HUGEINT)) AS DOUBLE) / 1e12))
                  AS BIGINT) AS mu
      FROM obs o
      JOIN mu_{t - 1} m ON o.rg = m.rg
      JOIN scale sc ON o.rg = sc.rg
      GROUP BY o.rg
    )"""
    return f"""{head}{steps},
    plain AS (
      SELECT rg, CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx
      FROM obs GROUP BY rg
    )
    SELECT p.rg, p.n,
           round(p.sx * 1e0 / p.n / 100, 2) AS mean,
           round(sc.m2 / 200e0, 2) AS median,
           round(m.mu / 100e0, 2) AS huber_mean
    FROM plain p
    JOIN scale sc ON p.rg = sc.rg
    JOIN mu_{HUBER_ITERS} m ON p.rg = m.rg
    ORDER BY p.rg
    """


@query("q_huber_mean", oracle=_huber_oracle(), tags=("stats", "iterative"))
def huber_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Huber M-estimator of location per region ({HUBER_ITERS} IRLS
    steps, k = {HUBER_K}, scale = {HUBER_MAD_C}*MAD): observations
    inside k*sigma of the current estimate get weight 1, outliers get
    downweighted proportionally — the location estimate that keeps the
    mean's efficiency under clean data but bounds any single order's
    influence, completing the robust-location family (q_winsorized_mean
    caps values, the median ignores magnitude, Huber interpolates).

    Determinism: x is exact integer cents; median and MAD use the
    2x/4x integer-doubling trick (both engines interpolate to exact .5
    grids), so sigma is one double of exact integers; each IRLS step's
    weighted sums carry ~1e-10-relative reorder noise but the iterate
    re-rounds to EXACT INTEGER CENTS (a boundary flip needs the true
    ratio within 1e-8 cents of .5 — the q_markov_absorption re-rounded-
    state posture with a far coarser grid), so both engines walk
    identical integer state. Scale: the obs relation reduces once
    (MATERIALIZED in the oracle for the same reason); each step is one
    broadcast join + aggregate — O(iters) corpus passes, O(regions)
    state."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    obs = (
        orders.join(
            F.broadcast(cust.select("c_custkey", "c_nationkey")),
            orders.o_custkey == F.col("c_custkey"),
        )
        .join(
            F.broadcast(nat.select("n_nationkey", "n_regionkey")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(reg.select("r_regionkey", "r_name")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select(
            F.col("r_name").alias("rg"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("x"),
        )
        .transform(materialize)  # scanned {HUBER_ITERS}+3 times; O(orders) once
    )
    med = obs.groupBy("rg").agg(F.round(2 * F.median("x")).cast("long").alias("m2"))
    mad = (
        obs.join(F.broadcast(med), "rg")
        .select("rg", F.abs(2 * F.col("x") - F.col("m2")).alias("dev"))
        .groupBy("rg")
        .agg(F.round(2 * F.median("dev")).cast("long").alias("d4"))
    )
    scale = med.join(mad, "rg").select(
        "rg", "m2", (F.lit(HUBER_MAD_C) * (F.col("d4") / F.lit(4.0))).alias("s")
    )
    mu = scale.select("rg", F.round(F.col("m2") / F.lit(2.0)).cast("long").alias("mu"))
    for _ in range(HUBER_ITERS):
        w = F.least(
            F.lit(1.0),
            HUBER_K
            * F.col("s")
            / F.nullif(F.abs(F.col("x") - F.col("mu")), F.lit(0)),
        )
        mu = (
            obs.join(F.broadcast(mu), "rg")
            .join(F.broadcast(scale.select("rg", "s")), "rg")
            .groupBy("rg")
            .agg(
                # integer-moments rule: snap the IRLS weighted sums (w*x at
                # 1e-6, w at 1e-12) so each iteration's mu is order-exact
                F.round(
                    (
                        F.sum(
                            F.round(w * F.col("x") * 1e6).cast("decimal(38,0)")
                        ).cast("double")
                        / 1e6
                    )
                    / (
                        F.sum(F.round(w * 1e12).cast("decimal(38,0)")).cast("double")
                        / 1e12
                    )
                )
                .cast("long")
                .alias("mu")
            )
        )
    plain = obs.groupBy("rg").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
    )
    return (
        plain.join(F.broadcast(scale.select("rg", "m2")), "rg")
        .join(F.broadcast(mu), "rg")
        .select(
            "rg",
            "n",
            F.round(F.col("sx") * F.lit(1.0) / F.col("n") / 100, 2).alias("mean"),
            F.round(F.col("m2") / F.lit(200.0), 2).alias("median"),
            F.round(F.col("mu") / F.lit(100.0), 2).alias("huber_mean"),
        )
        .orderBy("rg")
    )


# ---------------------------------------------------------------------------
# q_permutation_test — distribution-free two-sample test, deterministic draws
# ---------------------------------------------------------------------------

PT_B = 200  # permutations
PT_SEG_A, PT_SEG_B = "BUILDING", "MACHINERY"
PT_KNUTH = 2654435761
PT_MOD = 2147483648

_PT_SQL = f"""
    WITH obs AS (
      SELECT o.o_custkey AS id, c.c_mktsegment AS seg,
             CAST(round(o.o_totalprice * 100) AS BIGINT) AS y
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE c.c_mktsegment IN ('{PT_SEG_A}', '{PT_SEG_B}')
    ),
    base AS (
      SELECT CAST(sum(CASE WHEN seg = '{PT_SEG_A}' THEN y ELSE 0 END) AS BIGINT)
               AS sa,
             CAST(sum(CASE WHEN seg = '{PT_SEG_A}' THEN 1 ELSE 0 END) AS BIGINT)
               AS na,
             CAST(sum(CASE WHEN seg = '{PT_SEG_B}' THEN y ELSE 0 END) AS BIGINT)
               AS sb,
             CAST(sum(CASE WHEN seg = '{PT_SEG_B}' THEN 1 ELSE 0 END) AS BIGINT)
               AS nb
      FROM obs
    ),
    bs AS (SELECT unnest(range(1, {PT_B} + 1)) AS b),
    perm AS (
      SELECT bs.b,
             CAST(sum(CASE WHEN (obs.id * {PT_KNUTH} + bs.b * 7919) % {PT_MOD}
                                < {PT_MOD} / 2 THEN obs.y ELSE 0 END) AS BIGINT)
               AS sa,
             CAST(sum(CASE WHEN (obs.id * {PT_KNUTH} + bs.b * 7919) % {PT_MOD}
                                < {PT_MOD} / 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS na,
             CAST(sum(obs.y) AS BIGINT) AS st,
             CAST(count(*) AS BIGINT) AS nt
      FROM bs CROSS JOIN obs
      GROUP BY bs.b
    ),
    pd AS (
      SELECT b, abs(sa * 1e0 / na - (st - sa) * 1e0 / (nt - na)) AS adiff
      FROM perm WHERE na > 0 AND na < nt
    ),
    od AS (
      SELECT abs(sa * 1e0 / na - sb * 1e0 / nb) AS adiff,
             round(sa * 1e0 / na / 100 - sb * 1e0 / nb / 100, 4) AS observed_diff,
             na, nb
      FROM base
    )
    SELECT od.na AS n_a, od.nb AS n_b, od.observed_diff,
           CAST((SELECT count(*) FROM pd) AS BIGINT) AS n_perms,
           CAST((SELECT count(*) FROM pd CROSS JOIN od o2
                 WHERE pd.adiff >= o2.adiff) AS BIGINT) AS n_as_extreme,
           round(((SELECT count(*) FROM pd CROSS JOIN od o2
                   WHERE pd.adiff >= o2.adiff) + 1.0)
                 / ((SELECT count(*) FROM pd) + 1.0), 6) AS p_value
    FROM od
"""


@query("q_permutation_test", oracle=_PT_SQL, tags=("stats", "iterative"))
def permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample permutation test of mean order value, {PT_SEG_A} vs
    {PT_SEG_B}: re-randomize the group labels {PT_B} times and count how
    often the permuted |mean difference| reaches the observed one — the
    distribution-free alternative whose validity needs NO normal theory
    (q_welch_ttest's t-distribution is the asymptotic shortcut; when
    tails are heavy or n is small, this is the reference answer), with
    the add-one (B+1) p-value that keeps the test exact. Permutations
    use the repo's SplitMix-style deterministic uniforms keyed by
    (customer id, permutation index) — the q_poisson_bootstrap posture —
    so both engines draw IDENTICAL reassignments and the whole null
    distribution is hash-verifiable.

    Determinism: group sums per permutation are exact integer cents
    (one conditional aggregate per b, no float accumulation); mean
    differences are ratios of exact integers; the extremeness count
    compares identical doubles. Scale: one fact scan exploded x{PT_B}
    (the bootstrap cost shape, map-side combinable); everything after
    is O(B)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    obs = (
        orders.join(
            F.broadcast(
                cust.select("c_custkey", "c_mktsegment").filter(
                    F.col("c_mktsegment").isin(PT_SEG_A, PT_SEG_B)
                )
            ),
            orders.o_custkey == F.col("c_custkey"),
        )
        .select(
            F.col("o_custkey").alias("id"),
            F.col("c_mktsegment").alias("seg"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("y"),
        )
    )
    # the xB permutation fan-out + conditional aggregate fuse into this
    # (broadcast-joined) scan stage; spread a few-split scan across cores
    # or the whole fan runs on one task (guide §2.5)
    from bigdatainfinance1_spark.functions.partitioning import parallelize_scan

    obs = parallelize_scan(obs)
    base = obs.agg(
        F.sum(F.when(F.col("seg") == PT_SEG_A, F.col("y")).otherwise(0))
        .cast("long")
        .alias("sa"),
        F.sum(F.when(F.col("seg") == PT_SEG_A, 1).otherwise(0))
        .cast("long")
        .alias("na"),
        F.sum(F.when(F.col("seg") == PT_SEG_B, F.col("y")).otherwise(0))
        .cast("long")
        .alias("sb"),
        F.sum(F.when(F.col("seg") == PT_SEG_B, 1).otherwise(0))
        .cast("long")
        .alias("nb"),
    )
    bs = spark.range(1, PT_B + 1).select(F.col("id").alias("b"))
    flip = ((F.col("id") * PT_KNUTH + F.col("b") * 7919) % PT_MOD) < PT_MOD / 2
    perm = (
        obs.crossJoin(F.broadcast(bs))
        .groupBy("b")
        .agg(
            F.sum(F.when(flip, F.col("y")).otherwise(0)).cast("long").alias("sa"),
            F.sum(F.when(flip, 1).otherwise(0)).cast("long").alias("na"),
            F.sum("y").cast("long").alias("st"),
            F.count(F.lit(1)).cast("long").alias("nt"),
        )
        .filter((F.col("na") > 0) & (F.col("na") < F.col("nt")))
        .select(
            F.abs(
                F.col("sa") * F.lit(1.0) / F.col("na")
                - (F.col("st") - F.col("sa")) * F.lit(1.0) / (F.col("nt") - F.col("na"))
            ).alias("adiff")
        )
    )
    od = base.select(
        "na",
        "nb",
        F.abs(
            F.col("sa") * F.lit(1.0) / F.col("na")
            - F.col("sb") * F.lit(1.0) / F.col("nb")
        ).alias("oadiff"),
        F.round(
            F.col("sa") * F.lit(1.0) / F.col("na") / 100
            - F.col("sb") * F.lit(1.0) / F.col("nb") / 100,
            4,
        ).alias("observed_diff"),
    )
    stats = perm.crossJoin(F.broadcast(od)).agg(
        F.count(F.lit(1)).cast("long").alias("n_perms"),
        F.sum(F.when(F.col("adiff") >= F.col("oadiff"), 1).otherwise(0))
        .cast("long")
        .alias("n_as_extreme"),
    )
    return od.crossJoin(F.broadcast(stats)).select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        "observed_diff",
        "n_perms",
        "n_as_extreme",
        F.round(
            (F.col("n_as_extreme") + 1.0) / (F.col("n_perms") + 1.0), 6
        ).alias("p_value"),
    )
