"""Event-stream temporal dynamics: the Goh-Barabasi burstiness/memory
coordinates of inter-arrival times (is this stream Poisson, bursty, or
clocked?) and competing-risks cumulative incidence (which of several
terminal events wins, and how fast). Sits beside event_anomaly.py's
changepoint/outlier detectors — those find WHEN a stream misbehaves;
this module characterizes HOW the stream behaves at equilibrium.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdatainfinance1_spark.functions.materialize import materialize
from bigdatainfinance1_spark.registry import query
from bigdatainfinance1_spark.sources.catalog import load_table

# ---------------------------------------------------------------------------
# q_interarrival_burstiness — Goh-Barabasi (B, M) per event type
# ---------------------------------------------------------------------------

_IB_SQL = """
    WITH ordered AS (
      SELECT event_type,
             epoch_us(ts) - lag(epoch_us(ts))
               OVER (PARTITION BY event_type ORDER BY ts, event_id) AS dus
      FROM events
    ),
    gaps AS (
      SELECT event_type, CAST(dus // 1000000 AS BIGINT) AS dt
      FROM ordered WHERE dus IS NOT NULL
    ),
    paired AS (
      SELECT event_type, dt,
             lead(dt) OVER (PARTITION BY event_type ORDER BY dt_rn) AS dt2
      FROM (
        SELECT event_type, dt,
               row_number() OVER (PARTITION BY event_type ORDER BY dt) AS dt_rn
        FROM gaps
      )
    ),
    mom AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(dt) AS BIGINT) AS s,
             sum(CAST(dt AS DOUBLE) * dt) AS q
      FROM gaps GROUP BY event_type
    ),
    mom2 AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n2,
             CAST(sum(dt) AS BIGINT) AS sx,
             CAST(sum(dt2) AS BIGINT) AS sy,
             sum(CAST(dt AS DOUBLE) * dt2) AS sxy,
             sum(CAST(dt AS DOUBLE) * dt) AS sxx,
             sum(CAST(dt2 AS DOUBLE) * dt2) AS syy
      FROM paired WHERE dt2 IS NOT NULL GROUP BY event_type
    ),
    stats AS (
      SELECT m.event_type, m.n,
             m.s * 1e0 / m.n AS mu,
             sqrt(m.q / m.n - (m.s * 1e0 / m.n) * (m.s * 1e0 / m.n)) AS sd,
             (m2.n2 * m2.sxy - m2.sx * 1e0 * m2.sy)
               / (sqrt(m2.n2 * m2.sxx - m2.sx * 1e0 * m2.sx)
                  * sqrt(m2.n2 * m2.syy - m2.sy * 1e0 * m2.sy)) AS mem
      FROM mom m JOIN mom2 m2 ON m.event_type = m2.event_type
    )
    SELECT event_type, n AS n_gaps,
           round(mu, 2) AS mean_gap_s,
           round(sd, 2) AS sd_gap_s,
           round((sd - mu) / (sd + mu), 6) AS burstiness,
           round(mem, 6) AS memory_coeff
    FROM stats ORDER BY event_type
"""


@query("q_interarrival_burstiness", oracle=_IB_SQL, tags=("analytics", "events"))
def interarrival_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goh-Barabasi temporal fingerprint of each event stream:
    burstiness B = (sigma - mu)/(sigma + mu) of inter-arrival times
    (B = 0 Poisson, B -> 1 bursty, B -> -1 clocked) and the memory
    coefficient M — here computed over the SORTED-gap sequence as a
    deterministic rank-adjacency correlation (the classic M correlates
    consecutive gaps in time order; the sorted variant measures the
    same heavy-tail clumping with an engine-stable total order, and the
    distinction is named rather than hidden). The two-coordinate map
    that separates human activity (bursty, correlated) from machine
    heartbeats (clocked) — q_hawkes-class model selection before anyone
    fits a model; q_term_burstiness is the lexical namesake, not this.

    Determinism: gaps are exact floor-second integers from exact
    microsecond timestamps; all moments are exact-integer-derived
    (squares widened through DOUBLE from exact values); outputs round
    2/6. Scale: both sequential passes — arrival-order gaps and
    sorted-gap adjacency — use the range-bucketed grouped lag
    (functions/ranks.py:grouped_lag) instead of a window keyed on the
    ~5-value event_type column, whose single-task-per-type sort measured
    13.6× at 100× replication in the round-8 low-cardinality-window
    audit (the q_weighted_median defect class). Each pass is one range
    shuffle + a per-(bucket, type) local lag + an O(buckets×types)
    boundary-stitch broadcast. The adjacency pair set {(v_i, v_{i+1})}
    is read as (lag, current) instead of (current, lead) — the identical
    multiset, so every moment is unchanged."""
    from bigdatainfinance1_spark.functions.ranks import grouped_lag

    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_type", "event_id", F.unix_micros("ts").alias("us")
    )
    gaps = (
        grouped_lag(base, ["event_type"], ["us", "event_id"], "us", "us_prev")
        .filter(F.col("us_prev").isNotNull())
        .select(
            "event_type",
            "event_id",
            F.floor((F.col("us") - F.col("us_prev")) / 1000000)
            .cast("long")
            .alias("dt"),
        )
    )
    paired = grouped_lag(
        gaps, ["event_type"], ["dt", "event_id"], "dt", "dt_prev"
    ).filter(F.col("dt_prev").isNotNull())
    mom = gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("dt").cast("long").alias("s"),
        F.sum(F.col("dt").cast("double") * F.col("dt")).alias("q"),
    )
    mom2 = paired.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n2"),
        F.sum("dt_prev").cast("long").alias("sx"),
        F.sum("dt").cast("long").alias("sy"),
        F.sum(F.col("dt_prev").cast("double") * F.col("dt")).alias("sxy"),
        F.sum(F.col("dt_prev").cast("double") * F.col("dt_prev")).alias("sxx"),
        F.sum(F.col("dt").cast("double") * F.col("dt")).alias("syy"),
    )
    mu = F.col("s") * F.lit(1.0) / F.col("n")
    sd = F.sqrt(F.col("q") / F.col("n") - mu * mu)
    mem = (
        F.col("n2") * F.col("sxy") - F.col("sx") * F.lit(1.0) * F.col("sy")
    ) / (
        F.sqrt(F.col("n2") * F.col("sxx") - F.col("sx") * F.lit(1.0) * F.col("sx"))
        * F.sqrt(F.col("n2") * F.col("syy") - F.col("sy") * F.lit(1.0) * F.col("sy"))
    )
    return (
        mom.join(mom2, "event_type")
        .select(
            "event_type",
            F.col("n").alias("n_gaps"),
            F.round(mu, 2).alias("mean_gap_s"),
            F.round(sd, 2).alias("sd_gap_s"),
            F.round((sd - mu) / (sd + mu), 6).alias("burstiness"),
            F.round(mem, 6).alias("memory_coeff"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q_competing_risks — cumulative incidence of purchase vs error after signup
# ---------------------------------------------------------------------------

CR_HORIZONS = (1, 7, 30)  # days after first signup

_CR_SQL = f"""
    WITH entry AS (
      SELECT user_id, min(ts) AS t0 FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ),
    firsts AS (
      SELECT e.user_id,
             min(CASE WHEN ev.event_type = 'purchase' AND ev.ts > e.t0
                      THEN ev.ts END) AS tp,
             min(CASE WHEN ev.event_type = 'error' AND ev.ts > e.t0
                      THEN ev.ts END) AS te,
             min(e.t0) AS t0
      FROM entry e JOIN events ev ON ev.user_id = e.user_id
      GROUP BY e.user_id
    ),
    resolved AS (
      SELECT user_id,
             CASE WHEN tp IS NOT NULL AND (te IS NULL OR tp <= te)
                    THEN 'purchase'
                  WHEN te IS NOT NULL THEN 'error'
                  ELSE 'censored' END AS cause,
             CASE WHEN tp IS NOT NULL AND (te IS NULL OR tp <= te)
                    THEN (epoch_us(tp) - epoch_us(t0)) // 86400000000
                  WHEN te IS NOT NULL
                    THEN (epoch_us(te) - epoch_us(t0)) // 86400000000
                  ELSE NULL END AS days
      FROM firsts
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM resolved),
    h AS (SELECT unnest(ARRAY{list(CR_HORIZONS)}) AS horizon)
    SELECT h.horizon,
           CAST(sum(CASE WHEN r.cause = 'purchase' AND r.days <= h.horizon
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
           CAST(sum(CASE WHEN r.cause = 'error' AND r.days <= h.horizon
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
           round(sum(CASE WHEN r.cause = 'purchase' AND r.days <= h.horizon
                     THEN 1 ELSE 0 END) * 1e0 / tot.n, 6) AS cif_purchase,
           round(sum(CASE WHEN r.cause = 'error' AND r.days <= h.horizon
                     THEN 1 ELSE 0 END) * 1e0 / tot.n, 6) AS cif_error,
           CAST(tot.n AS BIGINT) AS n_users
    FROM h CROSS JOIN resolved r CROSS JOIN tot
    GROUP BY h.horizon, tot.n
    ORDER BY h.horizon
"""


@query("q_competing_risks", oracle=_CR_SQL, tags=("stats", "events", "survival"))
def competing_risks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Competing-risks cumulative incidence after signup: each user's
    follow-up ends at the FIRST of purchase (the good outcome) or error
    (the competing failure); CIF_k(h) = P(event of cause k by day h) at
    horizons {CR_HORIZONS}. The question q_kaplan_meier cannot answer —
    1-KM per cause OVERSTATES each incidence when causes compete (the
    two 1-KM curves can sum past 1; CIFs cannot). Complete-follow-up
    tier: every user resolves or is 'censored' with no later events, so
    the crude proportions ARE the Aalen-Johansen estimator; the
    staggered-censoring generalization needs only the q_nelson_aalen
    risk-set machinery, named here.

    Determinism: event times are exact microsecond integers; days are
    floor divisions; CIFs divide exact BIGINTs, rounded 6. Scale: one
    user-keyed aggregate resolves every user in a single pass (the
    firsts relation is map-side combinable conditional mins);
    O(horizons) after."""
    ev = load_table(spark, sf_dir, "events")
    entry = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    firsts = (
        entry.join(ev, "user_id")
        .groupBy("user_id")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "purchase") & (F.col("ts") > F.col("t0")),
                    F.col("ts"),
                )
            ).alias("tp"),
            F.min(
                F.when(
                    (F.col("event_type") == "error") & (F.col("ts") > F.col("t0")),
                    F.col("ts"),
                )
            ).alias("te"),
            F.min("t0").alias("t0"),
        )
    )
    purchase_first = F.col("tp").isNotNull() & (
        F.col("te").isNull() | (F.col("tp") <= F.col("te"))
    )
    resolved = firsts.select(
        F.when(purchase_first, "purchase")
        .when(F.col("te").isNotNull(), "error")
        .otherwise("censored")
        .alias("cause"),
        F.when(
            purchase_first,
            F.floor((F.unix_micros("tp") - F.unix_micros("t0")) / 86400000000),
        )
        .when(
            F.col("te").isNotNull(),
            F.floor((F.unix_micros("te") - F.unix_micros("t0")) / 86400000000),
        )
        .alias("days"),
    ).transform(materialize)  # O(users) resolved table feeds all horizons
    n = resolved.count()
    h = spark.createDataFrame([(x,) for x in CR_HORIZONS], "horizon long")
    return (
        h.crossJoin(resolved)
        .groupBy("horizon")
        .agg(
            F.sum(
                F.when(
                    (F.col("cause") == "purchase") & (F.col("days") <= F.col("horizon")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_purchase"),
            F.sum(
                F.when(
                    (F.col("cause") == "error") & (F.col("days") <= F.col("horizon")), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_error"),
        )
        .select(
            "horizon",
            "n_purchase",
            "n_error",
            F.round(F.col("n_purchase") * F.lit(1.0) / n, 6).alias("cif_purchase"),
            F.round(F.col("n_error") * F.lit(1.0) / n, 6).alias("cif_error"),
            F.lit(n).cast("long").alias("n_users"),
        )
        .orderBy("horizon")
    )


# ---------------------------------------------------------------------------
# q_watermark_design — out-of-orderness census that sizes the watermark
# ---------------------------------------------------------------------------

_WM_SQL = """
    WITH arr AS (
      SELECT event_type,
             greatest(CAST(0 AS BIGINT),
               max(epoch_us(ts)) OVER (PARTITION BY event_type
                 ORDER BY event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               - epoch_us(ts)) AS late_us
      FROM events
    ),
    lat AS (
      SELECT event_type, late_us // 1000000 AS late_s FROM arr
      WHERE late_us IS NOT NULL
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(CASE WHEN late_s > 0 THEN 1 ELSE 0 END) * 1e0
                 / count(*), 6) AS frac_out_of_order,
           CAST(quantile_disc(late_s, 0.50) AS BIGINT) AS late_p50_s,
           CAST(quantile_disc(late_s, 0.95) AS BIGINT) AS late_p95_s,
           CAST(quantile_disc(late_s, 0.99) AS BIGINT) AS late_p99_s,
           CAST(max(late_s) AS BIGINT) AS late_max_s,
           CAST(quantile_disc(late_s, 0.99) + 60 AS BIGINT)
             AS recommended_watermark_s
    FROM lat GROUP BY event_type ORDER BY event_type
"""


@query("q_watermark_design", oracle=_WM_SQL, tags=("streaming", "events", "scale"))
def watermark_design(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The census that SIZES a watermark: replay each event stream in
    arrival order (event_id — the ingestion sequence) and measure every
    event's lateness against the running max event time seen before it;
    report the out-of-order fraction, the lateness percentiles, and a
    recommended watermark = p99 + 60 s. This is the measurement that
    turns q_stream_watermarked's delay parameter from folklore into a
    number — too small drops the p99 tail, too large inflates state by
    the same seconds times the key cardinality. Exact discrete
    percentiles (no interpolation) keep every statistic an integer.

    Determinism: lateness is exact integer microseconds from a running
    max over the total (type, event_id) arrival order, floored to whole
    seconds; quantile_disc / percentile_disc pick exact order statistics
    with identical semantics; only the out-of-order fraction divides,
    rounded 6. Scale: the arrival replay uses the range-bucketed grouped
    running max (functions/ranks.py:grouped_running_max, exclusive
    frame) instead of a window keyed on the ~5-value event_type column,
    whose single-task-per-type sort measured 9.2× at 100× replication in
    the round-8 low-cardinality-window audit (the q_weighted_median
    defect class); max is associative, so previous buckets fold in as a
    broadcast `greatest`. Then a bounded per-type percentile
    aggregate."""
    from bigdatainfinance1_spark.functions.ranks import grouped_running_max

    ev = load_table(spark, sf_dir, "events")
    base = ev.select("event_type", "event_id", F.unix_micros("ts").alias("us"))
    arr = grouped_running_max(
        base, ["event_type"], ["event_id"], "us", "max_prev_us", inclusive=False
    ).select(
        "event_type",
        F.greatest(
            F.lit(0).cast("long"), F.col("max_prev_us") - F.col("us")
        ).alias("late_us"),
    ).filter(F.col("late_us").isNotNull())
    lat = arr.select(
        "event_type", F.floor(F.col("late_us") / 1000000).cast("long").alias("late_s")
    )
    return (
        lat.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(
                F.sum(F.when(F.col("late_s") > 0, 1).otherwise(0))
                * F.lit(1.0)
                / F.count(F.lit(1)),
                6,
            ).alias("frac_out_of_order"),
            F.expr("percentile_disc(0.50) WITHIN GROUP (ORDER BY late_s)")
            .cast("long")
            .alias("late_p50_s"),
            F.expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY late_s)")
            .cast("long")
            .alias("late_p95_s"),
            F.expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY late_s)")
            .cast("long")
            .alias("late_p99_s"),
            F.max("late_s").cast("long").alias("late_max_s"),
            (
                F.expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY late_s)") + 60
            )
            .cast("long")
            .alias("recommended_watermark_s"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q_rmst — restricted mean survival time from the Kaplan-Meier curve
# ---------------------------------------------------------------------------

RMST_TAU = 90  # restriction horizon, days

_RMST_SQL = f"""
    WITH ranked AS (
      SELECT c.c_mktsegment AS seg, o.o_custkey, o.o_orderdate,
             row_number() OVER (PARTITION BY o.o_custkey
                                ORDER BY o.o_orderdate, o.o_orderkey) AS rn
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    maxd AS (SELECT max(o_orderdate) AS maxdate FROM orders),
    durations AS (
      SELECT f.seg,
             CASE WHEN s.o_custkey IS NOT NULL
                  THEN datediff('day', f.o_orderdate, s.o_orderdate)
                  ELSE datediff('day', f.o_orderdate, m.maxdate) END AS t,
             CASE WHEN s.o_custkey IS NOT NULL THEN 1 ELSE 0 END AS ev
      FROM ranked f
      LEFT JOIN ranked s ON f.o_custkey = s.o_custkey AND s.rn = 2
      CROSS JOIN maxd m
      WHERE f.rn = 1
    ),
    grid AS (
      SELECT seg, t, CAST(sum(ev) AS BIGINT) AS d, count(*) AS at_t
      FROM durations GROUP BY seg, t
    ),
    risk AS (
      SELECT seg, t, d,
             CAST(sum(at_t) OVER (PARTITION BY seg ORDER BY t DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS n_risk
      FROM grid
    ),
    km AS (
      SELECT seg, t,
             round(exp(sum(ln(1e0 - d * 1e0 / n_risk)) OVER (
               PARTITION BY seg ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6) AS s
      FROM risk WHERE d > 0 AND d < n_risk
    ),
    steps AS (
      SELECT seg, t, s,
             coalesce(lag(t) OVER (PARTITION BY seg ORDER BY t), 0) AS pt,
             coalesce(lag(s) OVER (PARTITION BY seg ORDER BY t), 1e0) AS ps
      FROM km WHERE t <= {RMST_TAU}
    ),
    area AS (
      SELECT seg,
             CAST(sum(CAST(round(ps * (t - pt) * 1e6) AS BIGINT)) AS DOUBLE) / 1e6
               AS body,
             max(t) AS last_t, min_by(s, -t) AS last_s
      FROM steps GROUP BY seg
    ),
    nsub AS (SELECT seg, CAST(count(*) AS BIGINT) AS n FROM durations GROUP BY seg)
    SELECT a.seg, n.n AS n_subjects,
           CAST({RMST_TAU} AS BIGINT) AS tau_days,
           round(a.body + a.last_s * ({RMST_TAU} - a.last_t), 4) AS rmst_days,
           round((a.body + a.last_s * ({RMST_TAU} - a.last_t))
                 / {RMST_TAU}, 6) AS rmst_share
    FROM area a JOIN nsub n ON a.seg = n.seg
    ORDER BY a.seg
"""


@query("q_rmst", oracle=_RMST_SQL, tags=("stats", "survival"))
def rmst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Restricted mean survival time at tau = {RMST_TAU} days from
    q_kaplan_meier's repeat-purchase curve: the area under S(t) up to
    the horizon — expected event-free days within the window, the
    single-number estimand now preferred over hazard ratios because it
    needs NO proportional-hazards assumption and reads in days, not
    ratios (rmst_share is the fraction of the window spent
    'surviving'). One step-integration CTE on top of the existing KM
    grid: each interval contributes prev_S x width, plus the tail from
    the last event time to tau.

    Determinism: KM probabilities re-round at 6 BEFORE any area math;
    widths are exact integer days; the per-segment area sums <= tau
    terms and rounds at 4. Scale: the q_kaplan_meier shape — one
    customer-grain window pass, then everything on the bounded
    per-segment day grid."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    wc = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    ranked = orders.join(cust, orders.o_custkey == cust.c_custkey).select(
        F.col("c_mktsegment").alias("seg"),
        "o_custkey",
        "o_orderdate",
        F.row_number().over(wc).alias("rn"),
    )
    maxd = orders.agg(F.max("o_orderdate").alias("maxdate"))
    f_ = ranked.filter(F.col("rn") == 1).selectExpr(
        "seg", "o_custkey AS ck", "o_orderdate AS d1"
    )
    s_ = ranked.filter(F.col("rn") == 2).selectExpr("o_custkey AS ck", "o_orderdate AS d2")
    durations = (
        f_.join(s_, "ck", "left")
        .crossJoin(F.broadcast(maxd))
        .select(
            "seg",
            F.when(
                F.col("d2").isNotNull(), F.datediff("d2", "d1")
            ).otherwise(F.datediff("maxdate", "d1")).alias("t"),
            F.when(F.col("d2").isNotNull(), 1).otherwise(0).alias("ev"),
        )
    ).transform(materialize)  # O(customers) durations feed grid AND counts
    grid = durations.groupBy("seg", "t").agg(
        F.sum("ev").cast("long").alias("d"), F.count(F.lit(1)).alias("at_t")
    )
    w_desc = (
        Window.partitionBy("seg")
        .orderBy(F.col("t").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    risk = grid.withColumn("n_risk", F.sum("at_t").over(w_desc).cast("long"))
    w_asc = (
        Window.partitionBy("seg")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    km = (
        risk.filter((F.col("d") > 0) & (F.col("d") < F.col("n_risk")))
        .withColumn(
            "s",
            F.round(
                F.exp(
                    F.sum(F.log(1.0 - F.col("d") * F.lit(1.0) / F.col("n_risk"))).over(
                        w_asc
                    )
                ),
                6,
            ),
        )
        .filter(F.col("t") <= RMST_TAU)
    )
    w_lag = Window.partitionBy("seg").orderBy("t")
    steps = km.select(
        "seg",
        "t",
        "s",
        F.coalesce(F.lag("t").over(w_lag), F.lit(0)).alias("pt"),
        F.coalesce(F.lag("s").over(w_lag), F.lit(1.0)).alias("ps"),
    )
    area = steps.groupBy("seg").agg(
        # integer-moments rule: ps is 6-dp, (t - pt) integer days — the
        # trapezoid terms are exact 1e-6 multiples
        (
            F.sum(
                F.round(F.col("ps") * (F.col("t") - F.col("pt")) * 1e6).cast("long")
            ).cast("double")
            / 1e6
        ).alias("body"),
        F.max("t").alias("last_t"),
        F.min_by("s", -F.col("t")).alias("last_s"),
    )
    nsub = durations.groupBy("seg").agg(F.count(F.lit(1)).cast("long").alias("n"))
    total = F.col("body") + F.col("last_s") * (RMST_TAU - F.col("last_t"))
    return (
        area.join(nsub, "seg")
        .select(
            "seg",
            F.col("n").alias("n_subjects"),
            F.lit(RMST_TAU).cast("long").alias("tau_days"),
            F.round(total, 4).alias("rmst_days"),
            F.round(total / RMST_TAU, 6).alias("rmst_share"),
        )
        .orderBy("seg")
    )
