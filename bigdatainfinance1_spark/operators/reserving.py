"""Actuarial reserving on the order-to-shipment run-off triangle
(carved from finance_backtest.py at the 1.5k-LoC module rule): the
chain-ladder development projection and its Bornhuetter-Ferguson
comparator — the two estimators every reserving review runs side by
side. Both share the exact-cents triangle, volume-weighted factors, and
the sequential tail-product recursion (recursive CTE in DuckDB, an
O(model) driver walk in Spark).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdatainfinance1_spark.functions.materialize import materialize
from bigdatainfinance1_spark.registry import query
from bigdatainfinance1_spark.sources.catalog import load_table


# ---------------------------------------------------------------------------
# q_chain_ladder — run-off triangle development and IBNR projection
# ---------------------------------------------------------------------------

CL_YEAR = 1995  # origin cohorts: the 12 order months of this year
CL_MAX_DEV = 11  # development ages 0..11 months

_CL_SQL = f"""
    WITH RECURSIVE paid AS (
      SELECT month(o.o_orderdate) AS origin,
             least((CAST(year(l.l_shipdate) AS BIGINT) * 12 + month(l.l_shipdate))
                   - (CAST(year(o.o_orderdate) AS BIGINT) * 12
                      + month(o.o_orderdate)), {CL_MAX_DEV}) AS dev,
             CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                           AS BIGINT)) AS BIGINT) AS cents
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      WHERE year(o.o_orderdate) = {CL_YEAR}
      GROUP BY origin, dev
    ),
    grid AS (
      SELECT o.origin, d.dev FROM (SELECT DISTINCT origin FROM paid) o
      CROSS JOIN (SELECT unnest(range(0, {CL_MAX_DEV} + 1)) AS dev) d
    ),
    cum AS (
      SELECT g.origin, g.dev,
             CAST(coalesce(sum(p.cents), 0) AS BIGINT) AS c
      FROM grid g LEFT JOIN paid p
        ON p.origin = g.origin AND p.dev <= g.dev
      GROUP BY g.origin, g.dev
    ),
    -- censor at the valuation date: cohort m observes ages <= 12 - m
    tri AS (SELECT origin, dev, c FROM cum WHERE dev <= 12 - origin),
    f AS (
      -- HAVING guards the zero-denominator cohort-sum: both engines treat
      -- it as a MISSING factor (filled 1.0 below) instead of diverging
      -- (DuckDB x/0 -> inf, Spark -> NULL) — round-4 ADVICE
      SELECT a.dev,
             CAST(sum(b.c) AS BIGINT) * 1e0 / CAST(sum(a.c) AS BIGINT) AS fac
      FROM tri a JOIN tri b ON b.origin = a.origin AND b.dev = a.dev + 1
      GROUP BY a.dev
      HAVING CAST(sum(a.c) AS BIGINT) > 0
    ),
    -- dense factor vector: a dev age with no observed transition keeps
    -- factor 1.0 on BOTH engines; recursing over the sparse f would HALT
    -- the tail product at the gap and silently drop lower ages
    fd AS (
      SELECT d.dev, coalesce(f.fac, 1e0) AS fac
      FROM (SELECT unnest(range(0, {CL_MAX_DEV})) AS dev) d
      LEFT JOIN f ON f.dev = d.dev
    ),
    tailprod(dev, prod) AS (
      SELECT {CL_MAX_DEV}, 1e0
      UNION ALL
      SELECT t.dev - 1, fd.fac * t.prod
      FROM tailprod t JOIN fd ON fd.dev = t.dev - 1
      WHERE t.dev > 0
    ),
    latest AS (
      SELECT origin, max(dev) AS age FROM tri GROUP BY origin
    )
    SELECT l.origin AS origin_month,
           CAST(l.age AS BIGINT) AS latest_age,
           round(t.c / 100.0, 2) AS latest_cum,
           round(t.c * tp.prod / 100.0, 2) AS ultimate,
           round(t.c * (tp.prod - 1e0) / 100.0, 2) AS ibnr
    FROM latest l
    JOIN tri t ON t.origin = l.origin AND t.dev = l.age
    JOIN tailprod tp ON tp.dev = l.age
    ORDER BY origin_month
"""


@query("q_chain_ladder", oracle=_CL_SQL, tags=("finance", "recursive"))
def chain_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chain-ladder development on the order-to-shipment run-off
    triangle: {CL_YEAR}'s order months are origin cohorts, shipped
    (discounted) value accumulates by development age, the triangle is
    censored at the year-end valuation (cohort m sees ages <= 12 - m),
    volume-weighted development factors f_d = sum C(:,d+1)/sum C(:,d)
    project every cohort to ultimate, and IBNR = ultimate - latest —
    the actuarial reserving algorithm verbatim, applied to unshipped
    order value ('incurred but not shipped'). Late cohorts carry most
    of the projection; the relation shows the whole reserving logic.

    Determinism: the triangle is exact integer cents; factors are
    ratios of exact BIGINT sums; the tail products walk a SEQUENTIAL
    recursion (DuckDB recursive CTE / Spark driver loop over the <= 11
    collected factors — O(model), the q_riskmetrics_vol posture), so
    no float reorder exists anywhere; money rounds at cents. Scale:
    one fact-fact join reduced to O(origins x ages) cells; everything
    after is triangle-sized."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    paid = (
        orders.filter(F.year("o_orderdate") == CL_YEAR)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy(
            F.month("o_orderdate").alias("origin"),
            F.least(
                (F.year("l_shipdate").cast("long") * 12 + F.month("l_shipdate"))
                - (F.year("o_orderdate").cast("long") * 12 + F.month("o_orderdate")),
                F.lit(CL_MAX_DEV),
            ).alias("dev"),
        )
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
                .cast("long")
            )
            .cast("long")
            .alias("cents")
        )
        .transform(materialize)  # O(origins x ages) cells
    )
    origins = paid.select("origin").distinct()
    devs = spark.range(0, CL_MAX_DEV + 1).select(F.col("id").alias("dev"))
    grid = origins.crossJoin(F.broadcast(devs))
    p2 = paid.selectExpr("origin AS po", "dev AS pd", "cents")
    cum = (
        grid.join(
            p2, (F.col("po") == F.col("origin")) & (F.col("pd") <= F.col("dev")), "left"
        )
        .groupBy("origin", "dev")
        .agg(F.coalesce(F.sum("cents"), F.lit(0)).cast("long").alias("c"))
    )
    tri = cum.filter(F.col("dev") <= 12 - F.col("origin")).transform(materialize)
    a = tri.selectExpr("origin", "dev", "c AS ca")
    b = tri.selectExpr("origin", "dev - 1 AS dev", "c AS cb")
    # zero-denominator cohort sums become MISSING factors (dropped here,
    # filled 1.0 in the driver walk below) — identical to the oracle's
    # HAVING den > 0 + dense coalesce(fac, 1.0) fill, so the engines agree
    # even in the degenerate cases (round-4 ADVICE)
    f = (
        a.join(b, ["origin", "dev"])
        .groupBy("dev")
        .agg(
            F.sum("ca").cast("long").alias("den"),
            F.sum("cb").cast("long").alias("num"),
        )
        .filter(F.col("den") > 0)
        .select("dev", (F.col("num") * F.lit(1.0) / F.col("den")).alias("fac"))
    )
    facs = {r["dev"]: r["fac"] for r in f.collect()}  # <= 11 factors — O(model)
    prod = {CL_MAX_DEV: 1.0}
    for d in range(CL_MAX_DEV - 1, -1, -1):
        prod[d] = facs.get(d, 1.0) * prod[d + 1]
    pr = spark.createDataFrame(
        [(d, p) for d, p in prod.items()], "dev long, prod double"
    )
    latest = tri.groupBy("origin").agg(F.max("dev").alias("age"))
    return (
        latest.join(
            tri.selectExpr("origin", "dev AS age", "c"), ["origin", "age"]
        )
        .join(F.broadcast(pr.selectExpr("dev AS age", "prod")), "age")
        .select(
            F.col("origin").alias("origin_month"),
            F.col("age").cast("long").alias("latest_age"),
            F.round(F.col("c") / 100.0, 2).alias("latest_cum"),
            F.round(F.col("c") * F.col("prod") / 100.0, 2).alias("ultimate"),
            F.round(F.col("c") * (F.col("prod") - 1.0) / 100.0, 2).alias("ibnr"),
        )
        .orderBy("origin_month")
    )


# ---------------------------------------------------------------------------
# q_bornhuetter_ferguson — BF reserving vs the chain-ladder ultimate
# ---------------------------------------------------------------------------

_BF_SQL = f"""
    WITH RECURSIVE paid AS (
      SELECT month(o.o_orderdate) AS origin,
             least((CAST(year(l.l_shipdate) AS BIGINT) * 12 + month(l.l_shipdate))
                   - (CAST(year(o.o_orderdate) AS BIGINT) * 12
                      + month(o.o_orderdate)), {CL_MAX_DEV}) AS dev,
             CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                           AS BIGINT)) AS BIGINT) AS cents
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      WHERE year(o.o_orderdate) = {CL_YEAR}
      GROUP BY origin, dev
    ),
    prem AS (
      SELECT month(o_orderdate) AS origin,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS premium
      FROM orders WHERE year(o_orderdate) = {CL_YEAR}
      GROUP BY origin
    ),
    grid AS (
      SELECT o.origin, d.dev FROM (SELECT DISTINCT origin FROM paid) o
      CROSS JOIN (SELECT unnest(range(0, {CL_MAX_DEV} + 1)) AS dev) d
    ),
    cum AS (
      SELECT g.origin, g.dev, CAST(coalesce(sum(p.cents), 0) AS BIGINT) AS c
      FROM grid g LEFT JOIN paid p
        ON p.origin = g.origin AND p.dev <= g.dev
      GROUP BY g.origin, g.dev
    ),
    tri AS (SELECT origin, dev, c FROM cum WHERE dev <= 12 - origin),
    f AS (
      -- HAVING guards the zero-denominator cohort-sum: both engines treat
      -- it as a MISSING factor (filled 1.0 below) instead of diverging
      -- (DuckDB x/0 -> inf, Spark -> NULL) — round-4 ADVICE
      SELECT a.dev,
             CAST(sum(b.c) AS BIGINT) * 1e0 / CAST(sum(a.c) AS BIGINT) AS fac
      FROM tri a JOIN tri b ON b.origin = a.origin AND b.dev = a.dev + 1
      GROUP BY a.dev
      HAVING CAST(sum(a.c) AS BIGINT) > 0
    ),
    -- dense factor vector: a dev age with no observed transition keeps
    -- factor 1.0 on BOTH engines; recursing over the sparse f would HALT
    -- the tail product at the gap and silently drop lower ages
    fd AS (
      SELECT d.dev, coalesce(f.fac, 1e0) AS fac
      FROM (SELECT unnest(range(0, {CL_MAX_DEV})) AS dev) d
      LEFT JOIN f ON f.dev = d.dev
    ),
    tailprod(dev, prod) AS (
      SELECT {CL_MAX_DEV}, 1e0
      UNION ALL
      SELECT t.dev - 1, fd.fac * t.prod
      FROM tailprod t JOIN fd ON fd.dev = t.dev - 1
      WHERE t.dev > 0
    ),
    elr AS (
      -- a-priori expected "loss" ratio: mature cohorts' (age >= 6)
      -- latest-to-premium ratio, the BF prior
      SELECT sum(t.c) * 1e0 / sum(p.premium) AS r
      FROM tri t
      JOIN (SELECT origin, max(dev) AS age FROM tri GROUP BY origin) l
        ON t.origin = l.origin AND t.dev = l.age
      JOIN prem p ON p.origin = t.origin
      WHERE l.age >= 6
    ),
    latest AS (SELECT origin, max(dev) AS age FROM tri GROUP BY origin)
    SELECT l.origin AS origin_month,
           round(t.c * tp.prod / 100.0, 2) AS cl_ultimate,
           round((t.c + p.premium * elr.r * (1e0 - 1e0 / tp.prod)) / 100.0, 2)
             AS bf_ultimate,
           round((t.c * tp.prod
                  - (t.c + p.premium * elr.r * (1e0 - 1e0 / tp.prod))) / 100.0, 2)
             AS cl_minus_bf,
           round(1e0 / tp.prod, 6) AS pct_developed,
           round(elr.r, 6) AS apriori_ratio
    FROM latest l
    JOIN tri t ON t.origin = l.origin AND t.dev = l.age
    JOIN tailprod tp ON tp.dev = l.age
    JOIN prem p ON p.origin = l.origin
    CROSS JOIN elr
    ORDER BY origin_month
"""


@query("q_bornhuetter_ferguson", oracle=_BF_SQL, tags=("finance", "recursive"))
def bornhuetter_ferguson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bornhuetter-Ferguson reserving next to q_chain_ladder's ultimate:
    BF = latest + premium x ELR x (1 - 1/CDF), blending the a-priori
    expectation (mature cohorts' shipped-to-ordered ratio) with the
    development pattern — the estimator actuaries run BESIDE chain
    ladder because CL multiplies an immature cohort's noise by the full
    tail factor while BF anchors it to the prior (cl_minus_bf shows
    exactly where the two disagree: the youngest cohorts).
    pct_developed = 1/CDF is the credibility weight CL implicitly puts
    on observed data.

    Determinism: same exact-cents triangle, factors, and sequential
    tail-product recursion as q_chain_ladder (the oracle reuses the
    recursive CTE; Spark walks the collected O(model) factors); the
    ELR prior is one ratio of exact sums; money rounds at cents.
    Scale: identical to q_chain_ladder plus one O(origins) premium
    aggregate."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    paid = (
        orders.filter(F.year("o_orderdate") == CL_YEAR)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy(
            F.month("o_orderdate").alias("origin"),
            F.least(
                (F.year("l_shipdate").cast("long") * 12 + F.month("l_shipdate"))
                - (F.year("o_orderdate").cast("long") * 12 + F.month("o_orderdate")),
                F.lit(CL_MAX_DEV),
            ).alias("dev"),
        )
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
                .cast("long")
            )
            .cast("long")
            .alias("cents")
        )
        .transform(materialize)
    )
    prem = (
        orders.filter(F.year("o_orderdate") == CL_YEAR)
        .groupBy(F.month("o_orderdate").alias("origin"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("premium")
        )
    )
    origins = paid.select("origin").distinct()
    devs = spark.range(0, CL_MAX_DEV + 1).select(F.col("id").alias("dev"))
    p2 = paid.selectExpr("origin AS po", "dev AS pd", "cents")
    cum = (
        origins.crossJoin(F.broadcast(devs))
        .join(
            p2, (F.col("po") == F.col("origin")) & (F.col("pd") <= F.col("dev")), "left"
        )
        .groupBy("origin", "dev")
        .agg(F.coalesce(F.sum("cents"), F.lit(0)).cast("long").alias("c"))
    )
    tri = cum.filter(F.col("dev") <= 12 - F.col("origin")).transform(materialize)
    a = tri.selectExpr("origin", "dev", "c AS ca")
    b = tri.selectExpr("origin", "dev - 1 AS dev", "c AS cb")
    # zero-denominator cohort sums become MISSING factors (dropped here,
    # filled 1.0 in the driver walk below) — identical to the oracle's
    # HAVING den > 0 + dense coalesce(fac, 1.0) fill, so the engines agree
    # even in the degenerate cases (round-4 ADVICE)
    f = (
        a.join(b, ["origin", "dev"])
        .groupBy("dev")
        .agg(
            F.sum("ca").cast("long").alias("den"),
            F.sum("cb").cast("long").alias("num"),
        )
        .filter(F.col("den") > 0)
        .select("dev", (F.col("num") * F.lit(1.0) / F.col("den")).alias("fac"))
    )
    facs = {r["dev"]: r["fac"] for r in f.collect()}  # O(model)
    prod = {CL_MAX_DEV: 1.0}
    for d in range(CL_MAX_DEV - 1, -1, -1):
        prod[d] = facs.get(d, 1.0) * prod[d + 1]
    pr = spark.createDataFrame(
        [(d, p) for d, p in prod.items()], "dev long, prod double"
    )
    latest = tri.groupBy("origin").agg(F.max("dev").alias("age"))
    lt = latest.join(tri.selectExpr("origin", "dev AS age", "c"), ["origin", "age"])
    elr_row = (
        lt.filter(F.col("age") >= 6)
        .join(prem, "origin")
        .agg(
            (F.sum("c").cast("long") * F.lit(1.0) / F.sum("premium").cast("long")).alias(
                "r"
            )
        )
    )
    cdf = F.col("prod")
    bf = F.col("c") + F.col("premium") * F.col("r") * (1.0 - 1.0 / cdf)
    return (
        lt.join(F.broadcast(pr.selectExpr("dev AS age", "prod")), "age")
        .join(F.broadcast(prem), "origin")
        .crossJoin(F.broadcast(elr_row))
        .select(
            F.col("origin").alias("origin_month"),
            F.round(F.col("c") * cdf / 100.0, 2).alias("cl_ultimate"),
            F.round(bf / 100.0, 2).alias("bf_ultimate"),
            F.round((F.col("c") * cdf - bf) / 100.0, 2).alias("cl_minus_bf"),
            F.round(1.0 / cdf, 6).alias("pct_developed"),
            F.round(F.col("r"), 6).alias("apriori_ratio"),
        )
        .orderBy("origin_month")
    )
