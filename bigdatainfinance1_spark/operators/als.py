"""Alternating least squares matrix factorization (2 latent factors)
over the implicit customer x brand quantity matrix — the collaborative-
filtering model tier above the neighborhood methods
(q_user_cf_neighbors, q_copurchase_pairs): each ALS half-step solves an
independent ridge system PER KEY, which is exactly the shape that
distributes (a keyed aggregate of sufficient statistics + an O(1)
closed-form 2x2 solve per row, never a global optimization step).

Determinism contract: factors live on an exact 1e-6 integer grid
between half-steps, so every sufficient statistic (sum v_i v_j,
sum r v_i) is an EXACT BIGINT and the Cramer solves consume identical
doubles on both engines. The oracle replays the identical three
half-steps as chained CTEs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdatainfinance1_spark.functions.materialize import materialize
from bigdatainfinance1_spark.registry import query
from bigdatainfinance1_spark.sources.catalog import load_table

ALS_LAMBDA = 0.1  # ridge regularization
ALS_G = 1_000_000  # factor grid: 1e-6 integer grain

# One user half-step (or brand half-step — same algebra, swapped keys):
# A = [[s11/G^2 + lam, s12/G^2], [s12/G^2, s22/G^2 + lam]], b = [b1/G, b2/G]
# p = A^-1 b by Cramer; factors re-snap to the 1e-6 grid.


def _solve_sql(key: str, fac: str, prev: str) -> str:
    """SQL text for one half-step: solve factors for ``key`` given the
    ``prev`` relation keyed by ``fac`` (exact-integer sufficient stats,
    closed-form Cramer, snap back to the grid)."""
    return f"""
      SELECT {key},
             CAST(round((
               (s22 * 1e0 / {ALS_G} / {ALS_G} + {ALS_LAMBDA}) * (b1 * 1e0 / {ALS_G})
               - (s12 * 1e0 / {ALS_G} / {ALS_G}) * (b2 * 1e0 / {ALS_G})
             ) / (
               (s11 * 1e0 / {ALS_G} / {ALS_G} + {ALS_LAMBDA})
               * (s22 * 1e0 / {ALS_G} / {ALS_G} + {ALS_LAMBDA})
               - (s12 * 1e0 / {ALS_G} / {ALS_G}) * (s12 * 1e0 / {ALS_G} / {ALS_G})
             ) * {ALS_G}) AS BIGINT) AS f1,
             CAST(round((
               (s11 * 1e0 / {ALS_G} / {ALS_G} + {ALS_LAMBDA}) * (b2 * 1e0 / {ALS_G})
               - (s12 * 1e0 / {ALS_G} / {ALS_G}) * (b1 * 1e0 / {ALS_G})
             ) / (
               (s11 * 1e0 / {ALS_G} / {ALS_G} + {ALS_LAMBDA})
               * (s22 * 1e0 / {ALS_G} / {ALS_G} + {ALS_LAMBDA})
               - (s12 * 1e0 / {ALS_G} / {ALS_G}) * (s12 * 1e0 / {ALS_G} / {ALS_G})
             ) * {ALS_G}) AS BIGINT) AS f2
      FROM (
        SELECT r.{key},
               sum(p.f1 * p.f1) AS s11,
               sum(p.f1 * p.f2) AS s12,
               sum(p.f2 * p.f2) AS s22,
               sum(r.r * p.f1) AS b1,
               sum(r.r * p.f2) AS b2
        FROM ratings r JOIN {prev} p ON r.{fac} = p.{fac}
        GROUP BY r.{key}
      )
    """


_ALS_SQL = f"""
    WITH ratings AS (
      SELECT o.o_custkey AS cust, p.p_brand AS brand,
             CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS r
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY cust, brand
    ),
    v0 AS (
      SELECT brand,
             CAST({ALS_G} AS BIGINT) AS f1,
             CAST(CAST(substr(brand, 7) AS BIGINT) % 7 * {ALS_G} / 10 AS BIGINT) AS f2
      FROM (SELECT DISTINCT brand FROM ratings)
    ),
    u1 AS ({_solve_sql("cust", "brand", "v0")}),
    v1 AS ({_solve_sql("brand", "cust", "u1")}),
    u2 AS ({_solve_sql("cust", "brand", "v1")}),
    pred AS (
      SELECT r.r * 1000000
             - CAST(round((u.f1 * 1e0 * v.f1 + u.f2 * 1e0 * v.f2)
                          / {ALS_G} / {ALS_G} * 1000000) AS BIGINT) AS d
      FROM ratings r
      JOIN u2 u ON r.cust = u.cust
      JOIN v1 v ON r.brand = v.brand
    ),
    rmse AS (
      -- residual squares snap to a 1e-6 grain so the sum is exact BIGINT
      SELECT CAST(count(*) AS BIGINT) AS n_ratings,
             round(sqrt(CAST(sum(CAST(round(d * 1e0 * d / 1e6) AS BIGINT)) AS DOUBLE)
                        / 1e6 / count(*)), 6) AS train_rmse
      FROM pred
    )
    SELECT v.brand,
           round(v.f1 * 1e0 / {ALS_G}, 6) AS factor_1,
           round(v.f2 * 1e0 / {ALS_G}, 6) AS factor_2,
           m.n_ratings, m.train_rmse
    FROM v1 v CROSS JOIN rmse m
    ORDER BY v.brand
"""


@query("q_als_factorization", oracle=_ALS_SQL, tags=("ml", "model", "iterative", "recsys"))
def als_factorization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-factor ALS over the customer x brand implicit quantity matrix:
    deterministic brand-side init (f1 = 1, f2 from the brand number),
    then three alternating half-steps — users solved given brands,
    brands given users, users again — each an INDEPENDENT 2x2 ridge
    solve per key from five sufficient statistics, the formulation that
    makes ALS embarrassingly parallel at 100 TB (per-key aggregates +
    O(1) Cramer closed forms; the only data movement is the ratings-to-
    factors equi-join each half-step, keyed and linear). Reports the
    learned brand factors and the training RMSE of the final
    reconstruction.

    Determinism: ratings are exact integer quantities; factors snap to
    an exact 1e-6 integer grid after every solve, so all sufficient
    statistics are exact BIGINTs and both engines run identical double
    arithmetic inside the closed forms; the RMSE accumulates
    1e-6-grain integer residuals. The oracle replays the same three
    half-steps as chained CTEs."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ratings = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .groupBy(F.col("o_custkey").alias("cust"), F.col("p_brand").alias("brand"))
        .agg(F.sum(F.col("l_quantity").cast("long")).cast("long").alias("r"))
        .transform(materialize)
    )
    v = ratings.select("brand").distinct().select(
        "brand",
        F.lit(ALS_G).cast("long").alias("f1"),
        (F.substring("brand", 7, 10).cast("long") % 7 * ALS_G / 10)
        .cast("long")
        .alias("f2"),
    )

    def solve(key: str, fac: str, prev: DataFrame) -> DataFrame:
        # cast ONE operand to decimal BEFORE each product: long*long would
        # overflow 2^63 first (caught by the round-6 100x tier — factor
        # magnitudes grow with per-pair rating mass under replication);
        # decimal(19,0)*long widens to decimal(38,0), exact
        f1d = F.col("f1").cast("decimal(19,0)")
        f2d = F.col("f2").cast("decimal(19,0)")
        rd = F.col("r").cast("decimal(19,0)")
        stats = (
            ratings.join(F.broadcast(prev) if fac == "brand" else prev, fac)
            .groupBy(key)
            .agg(
                F.sum(f1d * F.col("f1")).alias("s11"),
                F.sum(f1d * F.col("f2")).alias("s12"),
                F.sum(f2d * F.col("f2")).alias("s22"),
                F.sum(rd * F.col("f1")).alias("b1"),
                F.sum(rd * F.col("f2")).alias("b2"),
            )
        )
        a11 = F.col("s11").cast("double") / ALS_G / ALS_G + ALS_LAMBDA
        a12 = F.col("s12").cast("double") / ALS_G / ALS_G
        a22 = F.col("s22").cast("double") / ALS_G / ALS_G + ALS_LAMBDA
        b1 = F.col("b1").cast("double") / ALS_G
        b2 = F.col("b2").cast("double") / ALS_G
        det = a11 * a22 - a12 * a12
        return stats.select(
            key,
            F.round((a22 * b1 - a12 * b2) / det * ALS_G).cast("long").alias("f1"),
            F.round((a11 * b2 - a12 * b1) / det * ALS_G).cast("long").alias("f2"),
        )

    u1 = solve("cust", "brand", v)
    v1 = materialize(solve("brand", "cust", u1))
    u2 = solve("cust", "brand", v1)
    pred = (
        ratings.join(u2.withColumnRenamed("f1", "uf1").withColumnRenamed("f2", "uf2"), "cust")
        .join(
            F.broadcast(v1.withColumnRenamed("f1", "vf1").withColumnRenamed("f2", "vf2")),
            "brand",
        )
        .select(
            (
                F.col("r") * 1000000
                - F.round(
                    (
                        F.col("uf1") * F.lit(1.0) * F.col("vf1")
                        + F.col("uf2") * F.lit(1.0) * F.col("vf2")
                    )
                    / ALS_G
                    / ALS_G
                    * 1e6
                ).cast("long")
            ).alias("d"),
        )
    )
    d = F.col("d")
    rmse = pred.agg(
        F.count(F.lit(1)).cast("long").alias("n_ratings"),
        F.round(
            F.sqrt(
                F.sum(F.round(d * F.lit(1.0) * d / 1e6).cast("decimal(19,0)")).cast("double")
                / 1e6
                / F.count(F.lit(1))
            ),
            6,
        ).alias("train_rmse"),
    )
    return (
        v1.crossJoin(F.broadcast(rmse))
        .select(
            "brand",
            F.round(F.col("f1") * F.lit(1.0) / ALS_G, 6).alias("factor_1"),
            F.round(F.col("f2") * F.lit(1.0) / ALS_G, 6).alias("factor_2"),
            "n_ratings",
            "train_rmse",
        )
        .orderBy("brand")
    )
