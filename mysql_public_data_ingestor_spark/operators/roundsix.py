"""Round-6 operator batch.

New analytics surface on top of the established exactness toolkit:
integer/decimal half-up ratios (functions/exact.py) and the
deterministic fixed-point ln (functions/detmath.py) added this round —
several of these operators exist specifically because det-ln makes
their log-based statistics hash-exact across engines for the first
time (naive Bayes, Zipf fit, deterministic Laplace noise).

Every operator is registered directly (@register).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.exact import dec38
from ..registry import register
from ..tables import Tables

_P = 2_147_483_647  # Mersenne prime for the portable uniform hash


# ---------------------------------------------------------------------------
# 1. Kolmogorov-Smirnov two-sample test (A/B on full distributions)
# ---------------------------------------------------------------------------


def _ks_oracle() -> str:
    return """
    WITH q AS (
      SELECT event_type, user_id % 2 AS cohort,
             CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS v_u
      FROM events
    ), g AS (
      SELECT event_type, v_u,
             CAST(sum(CASE WHEN cohort = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
             CAST(sum(CASE WHEN cohort = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
      FROM q GROUP BY event_type, v_u
    ), c AS (
      SELECT event_type, v_u,
             sum(ca) OVER (PARTITION BY event_type ORDER BY v_u) AS cum_a,
             sum(cb) OVER (PARTITION BY event_type ORDER BY v_u) AS cum_b
      FROM g
    ), tot AS (
      SELECT event_type,
             CAST(max(cum_a) AS BIGINT) AS n_a,
             CAST(max(cum_b) AS BIGINT) AS n_b
      FROM c GROUP BY event_type
    ), d AS (
      SELECT c.event_type, t.n_a, t.n_b,
             max(abs(CAST(cum_a AS HUGEINT) * t.n_b
                     - CAST(cum_b AS HUGEINT) * t.n_a)) AS d_num
      FROM c JOIN tot t USING (event_type)
      GROUP BY c.event_type, t.n_a, t.n_b
    )
    SELECT event_type, n_a, n_b,
           CAST(((2000000::HUGEINT * d_num + (n_a::HUGEINT * n_b))
                 // (2::HUGEINT * n_a * n_b)) AS BIGINT) / 1000000.0 AS ks_stat
    FROM d
    """


@register("stats_ks_two_sample", oracle=_ks_oracle())
def stats_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic per event type
    between the even/odd user cohorts — the distribution-level A/B
    test (t-test compares means; KS catches shape drift anywhere in
    the CDF).

    Exactness: values quantize to micro-units; the statistic is
    max |F_a - F_b| evaluated only at the DISTINCT quantized values,
    with the CDF difference cross-multiplied to the integer
    |cum_a * n_b - cum_b * n_a| — no division until one final
    decimal-domain half-up ratio by n_a * n_b (cents-scale-proof per
    the round_big_int_ratio discipline).

    Scale: one partial-aggregated groupBy on (event_type, value), one
    bounded per-type ordered window over the distinct-value domain,
    and a |event_types|-row reduce. No row-level sort of the raw
    corpus — the window runs on the collapsed value histogram.
    """
    from ..functions.exact import quantize, round_big_int_ratio

    t = Tables(spark, sf_dir)
    q = t.events.select(
        "event_type",
        (F.col("user_id") % 2).alias("cohort"),
        quantize(F.col("value"), 6).alias("v_u"),
    )
    g = q.groupBy("event_type", "v_u").agg(
        F.sum(F.when(F.col("cohort") == 0, 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("cohort") == 1, 1).otherwise(0)).alias("cb"),
    )
    w = Window.partitionBy("event_type").orderBy("v_u")
    c = g.select(
        "event_type",
        F.sum("ca").over(w).alias("cum_a"),
        F.sum("cb").over(w).alias("cum_b"),
    )
    tot = c.groupBy("event_type").agg(
        F.max("cum_a").alias("n_a"), F.max("cum_b").alias("n_b")
    )
    d = (
        c.join(tot, "event_type")
        .groupBy("event_type", "n_a", "n_b")
        .agg(
            F.max(
                F.abs(
                    dec38(F.col("cum_a")) * dec38(F.col("n_b"))
                    - dec38(F.col("cum_b")) * dec38(F.col("n_a"))
                )
            ).alias("d_num")
        )
    )
    return d.select(
        "event_type",
        "n_a",
        "n_b",
        round_big_int_ratio(
            F.col("d_num"), dec38(F.col("n_a")) * dec38(F.col("n_b"))
        ).alias("ks_stat"),
    )


# ---------------------------------------------------------------------------
# 2. Wilson score interval for proportions (companion to the z-test)
# ---------------------------------------------------------------------------

WILSON_Z = 1.96  # 95% two-sided


def _wilson_oracle() -> str:
    z2 = f"({WILSON_Z!r}::DOUBLE * {WILSON_Z!r}::DOUBLE)"
    return f"""
    WITH base AS (
      SELECT c.c_nationkey,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
                  AS BIGINT) AS k
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1
    ), w AS (
      SELECT c_nationkey, n, k,
             CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS p,
             {z2} / CAST(n AS DOUBLE) AS zn
      FROM base
    ), parts AS (
      SELECT c_nationkey, n, k,
             (p + zn * 0.5) / (1.0 + zn) AS center,
             ({WILSON_Z!r}::DOUBLE * sqrt(p * (1.0 - p) / CAST(n AS DOUBLE)
                                          + zn * 0.25 / CAST(n AS DOUBLE)))
               / (1.0 + zn) AS halfwidth
      FROM w
    )
    SELECT nn.n_name AS nation, n AS n_orders, k AS n_urgent,
           CAST(floor(center * 1000000.0 + 0.5) AS BIGINT) / 1000000.0
             AS wilson_center,
           CAST(floor((center - halfwidth) * 1000000.0 + 0.5) AS BIGINT)
             / 1000000.0 AS ci_lo,
           CAST(floor((center + halfwidth) * 1000000.0 + 0.5) AS BIGINT)
             / 1000000.0 AS ci_hi
    FROM parts JOIN nation nn ON nn.n_nationkey = parts.c_nationkey
    """


@register("stats_wilson_ci_by_nation", oracle=_wilson_oracle())
def stats_wilson_ci_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson score 95% confidence interval for the urgent-order rate
    per nation — the proportion CI that stays inside [0,1] and behaves
    at small n, complementing ``stats_proportions_ztest`` (which tests
    a difference; this bounds a level).

    Cross-engine exactness without integer gymnastics: the Wilson
    formula is +-*/sqrt only — every one of those is IEEE
    correctly-rounded on both engines — so mirroring the association
    order (and ::DOUBLE-casting the z constant, which DuckDB would
    otherwise parse as DECIMAL) makes the doubles bit-identical before
    the one micro-unit quantization. Scale: one partial-aggregated
    fact groupBy; everything downstream is |nations| rows.
    """
    t = Tables(spark, sf_dir)
    base = (
        t.orders.join(
            t.customer.select("c_custkey", "c_nationkey"),
            t.orders.o_custkey == F.col("c_custkey"),
        )
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
            ).alias("k"),
        )
    )
    nd = F.col("n").cast("double")
    p = F.col("k").cast("double") / nd
    zn = F.lit(WILSON_Z * WILSON_Z) / nd
    center = (p + zn * F.lit(0.5)) / (F.lit(1.0) + zn)
    halfwidth = (
        F.lit(WILSON_Z)
        * F.sqrt(p * (F.lit(1.0) - p) / nd + zn * F.lit(0.25) / nd)
    ) / (F.lit(1.0) + zn)
    q6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)).cast("long") / F.lit(1e6)  # noqa: E731
    return (
        base.join(
            F.broadcast(t.nation.select("n_nationkey", "n_name")),
            base.c_nationkey == F.col("n_nationkey"),
        )
        .select(
            F.col("n_name").alias("nation"),
            F.col("n").alias("n_orders"),
            F.col("k").alias("n_urgent"),
            q6(center).alias("wilson_center"),
            q6(center - halfwidth).alias("ci_lo"),
            q6(center + halfwidth).alias("ci_hi"),
        )
    )


# ---------------------------------------------------------------------------
# 3. t-closeness audit (privacy family: k-anonymity -> l-diversity -> this)
# ---------------------------------------------------------------------------

TCLOSE_BUCKET = 500   # n_chars quasi-identifier bucket width (matches l-div)
TCLOSE_T_PPM = 350_000  # t = 0.35 threshold, in ppm


def _tclose_oracle() -> str:
    return f"""
    WITH docs AS (
      SELECT lang, CAST(n_chars // {TCLOSE_BUCKET} AS BIGINT) AS len_bucket, source
      FROM documents
    ), gsrc AS (
      SELECT source, CAST(count(*) AS BIGINT) AS cs FROM docs GROUP BY source
    ), n AS (SELECT CAST(count(*) AS BIGINT) AS big_n FROM docs),
    grp AS (
      SELECT lang, len_bucket, source, CAST(count(*) AS BIGINT) AS c
      FROM docs GROUP BY 1, 2, 3
    ), gsize AS (
      SELECT lang, len_bucket, CAST(sum(c) AS BIGINT) AS ng
      FROM grp GROUP BY 1, 2
    ), terms AS (
      -- every (group, source) pair, including sources absent from the
      -- group (c = 0), so the variation distance sums the full domain
      SELECT gs.lang, gs.len_bucket, gs.ng, n.big_n,
             abs(coalesce(g.c, 0)::HUGEINT * n.big_n - gl.cs::HUGEINT * gs.ng)
               AS num
      FROM gsize gs
      CROSS JOIN gsrc gl
      CROSS JOIN n
      LEFT JOIN grp g ON g.lang = gs.lang AND g.len_bucket = gs.len_bucket
                      AND g.source = gl.source
    ), tv AS (
      SELECT lang, len_bucket, ng,
             CAST(((2000000::HUGEINT * sum(num) + (2::HUGEINT * max(ng) * max(big_n)))
                   // (2::HUGEINT * 2 * max(ng) * max(big_n))) AS BIGINT) AS tv_ppm
      FROM terms GROUP BY 1, 2, 3
    )
    SELECT lang, len_bucket, ng AS group_size,
           tv_ppm / 1000000.0 AS tv_distance,
           (tv_ppm <= {TCLOSE_T_PPM}) AS meets_t
    FROM tv
    """


@register("privacy_t_closeness_audit", oracle=_tclose_oracle())
def privacy_t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit over the quasi-identifier (lang, length
    bucket): the distance between each QI group's sensitive-attribute
    distribution (source) and the GLOBAL distribution, as total
    variation distance — the third rung of the anonymity ladder
    (k-anonymity bounds group size, l-diversity bounds variety, this
    bounds how much a group's distribution LEAKS relative to baseline).

    Exactness: TV = sum |c/ng - C/N| / 2 is cross-multiplied to the
    integer sum |c*N - C*ng| and divided once in the decimal domain
    (half-up ppm). The group x source grid joins the bounded source
    domain, so absent sources contribute their full |0 - C*ng| mass.
    Scale: two partial-aggregated counts plus a |groups| x |sources|
    grid — both domain-bounded, never corpus-bounded.
    """
    from ..functions.exact import round_big_int_ratio

    t = Tables(spark, sf_dir)
    docs = t.documents.select(
        "lang",
        (F.col("n_chars") / F.lit(TCLOSE_BUCKET)).cast("long").alias("len_bucket"),
        "source",
    )
    glob = docs.groupBy("source").agg(F.count(F.lit(1)).alias("cs"))
    big_n = docs.agg(F.count(F.lit(1)).alias("big_n"))
    grp = docs.groupBy("lang", "len_bucket", "source").agg(
        F.count(F.lit(1)).alias("c")
    )
    gsize = grp.groupBy("lang", "len_bucket").agg(F.sum("c").alias("ng"))
    terms = (
        gsize.crossJoin(F.broadcast(glob))
        .crossJoin(F.broadcast(big_n))
        .join(grp, ["lang", "len_bucket", "source"], "left")
        .select(
            "lang",
            "len_bucket",
            "ng",
            "big_n",
            F.abs(
                dec38(F.coalesce(F.col("c"), F.lit(0))) * dec38(F.col("big_n"))
                - dec38(F.col("cs")) * dec38(F.col("ng"))
            ).alias("num"),
        )
    )
    tv = terms.groupBy("lang", "len_bucket", "ng").agg(
        F.sum("num").alias("sum_num"),
        F.max("big_n").alias("big_n"),
    )
    tv_ppm = round_big_int_ratio(
        F.col("sum_num"),
        F.lit(2).cast("decimal(38,0)") * dec38(F.col("ng")) * dec38(F.col("big_n")),
    ) * F.lit(1e6)
    return tv.select(
        "lang",
        "len_bucket",
        F.col("ng").alias("group_size"),
        (F.floor(tv_ppm + F.lit(0.5)).cast("long") / F.lit(1e6)).alias("tv_distance"),
        (F.floor(tv_ppm + F.lit(0.5)).cast("long") <= F.lit(TCLOSE_T_PPM)).alias(
            "meets_t"
        ),
    )


# ---------------------------------------------------------------------------
# 4. Autocorrelation of the daily activity series (lags 1..7)
# ---------------------------------------------------------------------------

ACF_MAX_LAG = 7


def _acf_oracle() -> str:
    return f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ), idx AS (
      SELECT event_type, y,
             row_number() OVER (PARTITION BY event_type ORDER BY d) AS i,
             CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
             CAST(sum(y) OVER (PARTITION BY event_type) AS BIGINT) AS s
      FROM daily
    ), cent AS (
      SELECT event_type, i, n,
             n::HUGEINT * y - s::HUGEINT AS z
      FROM idx
    ), lags AS (
      SELECT l FROM unnest(range(1, {ACF_MAX_LAG + 1})) AS t(l)
    ), num AS (
      SELECT a.event_type, l.l AS lag, a.n,
             sum(a.z * b.z) AS num
      FROM cent a
      JOIN lags l ON true
      JOIN cent b ON b.event_type = a.event_type AND b.i = a.i + l.l
      GROUP BY 1, 2, 3
    ), den AS (
      SELECT event_type, sum(z * z) AS den FROM cent GROUP BY event_type
    )
    SELECT n.event_type, n.lag, n.n AS n_days,
           CAST(CASE WHEN n.num >= 0
             THEN  ((2000000::HUGEINT * n.num + d.den) // (2::HUGEINT * d.den))
             ELSE -((2000000::HUGEINT * (-n.num) + d.den) // (2::HUGEINT * d.den))
           END AS BIGINT) / 1000000.0 AS acf
    FROM num n JOIN den d USING (event_type)
    """


@register("events_acf_daily_lags", oracle=_acf_oracle())
def events_acf_daily_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the daily event-count series at lags 1..7,
    per event type — the seasonality detector (a weekly cycle shows as
    a lag-7 peak) feeding forecasting and anomaly baselines.

    Exactness: with the series mean-centered by cross-multiplication
    (z_t = n*y_t - S, integers — no fractional mean anywhere), the ACF
    is sum(z_t * z_{t+l}) / sum(z_t^2), two exact decimal sums and one
    half-up ratio. Scale: the raw corpus collapses to a
    |event_types| x |days| series in one partial-aggregated groupBy;
    lag pairing is a self-join on the day index of that BOUNDED series
    (days grow with time, not with data volume), broadcastable at any
    corpus size.
    """
    from ..functions.exact import round_big_int_ratio

    t = Tables(spark, sf_dir)
    daily = (
        t.events.select("event_type", F.to_date("ts").alias("d"))
        .groupBy("event_type", "d")
        .agg(F.count(F.lit(1)).alias("y"))
    )
    w = Window.partitionBy("event_type")
    idx = daily.select(
        "event_type",
        "y",
        F.row_number().over(w.orderBy("d")).alias("i"),
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("y").over(w).alias("s"),
    )
    cent = idx.select(
        "event_type",
        "i",
        "n",
        (dec38(F.col("n")) * dec38(F.col("y")) - dec38(F.col("s"))).alias("z"),
    )
    lags = spark.range(1, ACF_MAX_LAG + 1).select(F.col("id").alias("lag"))
    b = cent.select(
        F.col("event_type").alias("et_b"), F.col("i").alias("i_b"), F.col("z").alias("z_b")
    )
    num = (
        cent.crossJoin(F.broadcast(lags))
        .join(
            b,
            (F.col("et_b") == F.col("event_type"))
            & (F.col("i_b") == F.col("i") + F.col("lag")),
        )
        .groupBy("event_type", "lag", "n")
        .agg(F.sum(F.col("z") * F.col("z_b")).alias("num"))
    )
    den = cent.groupBy("event_type").agg(F.sum(F.col("z") * F.col("z")).alias("den"))
    return (
        num.join(F.broadcast(den), "event_type")
        .select(
            "event_type",
            "lag",
            F.col("n").alias("n_days"),
            round_big_int_ratio(F.col("num"), F.col("den")).alias("acf"),
        )
    )


# ---------------------------------------------------------------------------
# 5. k-core peeling (graph family: degree -> triangles -> PR -> LPA -> this)
# ---------------------------------------------------------------------------

KCORE_K = 3
KCORE_ROUNDS = 3


def _kcore_oracle() -> str:
    from .graph import _SQL_EDGES

    # MATERIALIZED is load-bearing: without it DuckDB re-derives each
    # round's CTE per reference and the unrolled chain recomputes
    # multiplicatively (measured 14.9s -> sub-second at sf0.01)
    sql = _SQL_EDGES + """
    , e0 AS MATERIALIZED (SELECT u, v FROM edges)"""
    prev = "e0"
    for r in range(1, KCORE_ROUNDS + 1):
        sql += f"""
    , d{r} AS MATERIALIZED (
      SELECT node FROM (
        SELECT node, count(*) AS deg
        FROM (SELECT u AS node FROM {prev} UNION ALL SELECT v FROM {prev})
        GROUP BY node) WHERE deg >= {KCORE_K}
    ), e{r} AS MATERIALIZED (
      SELECT e.u, e.v FROM {prev} e
      JOIN d{r} a ON a.node = e.u
      JOIN d{r} b ON b.node = e.v
    )"""
        prev = f"e{r}"
    parts = []
    for r in range(1, KCORE_ROUNDS + 1):
        parts.append(
            f"""
      SELECT CAST({r} AS BIGINT) AS round,
             (SELECT CAST(count(*) AS BIGINT)
              FROM (SELECT u AS node FROM e{r} UNION SELECT v FROM e{r}))
               AS n_nodes,
             (SELECT CAST(count(*) AS BIGINT) FROM e{r}) AS n_edges"""
        )
    sql += """
    SELECT * FROM ("""
    sql += " UNION ALL ".join(parts)
    sql += """
    )
    """
    return sql


@register("graph_kcore_membership", oracle=_kcore_oracle())
def graph_kcore_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative k-core peeling (k=3, 3 synchronous rounds) over the
    co-purchase graph: repeatedly remove nodes of degree < k and the
    edges they carry, reporting surviving node/edge counts per round —
    the standard dense-subgraph extractor (spam rings, core
    communities), and the graph family's fourth iterative member after
    PageRank / connected components / label propagation.

    Each round is one degree aggregation over the current edge set plus
    two semi-joins against the surviving-node table — the same
    bounded-iteration declarative shape as LPA, localCheckpointed per
    round so round R is one join, not an R-deep recompute. The fixed
    round count makes the operator's semantics (and its unrolled-CTE
    oracle) exact rather than run-to-convergence. Reads the
    session-cached edge table — no per-query edge rebuild.
    """
    from .graph import edge_table

    t = Tables(spark, sf_dir)
    edges = edge_table(spark, t, sf_dir)
    cur = edges.select("u", "v")
    stats = []
    for r in range(1, KCORE_ROUNDS + 1):
        ends = cur.select(F.col("u").alias("node")).unionAll(
            cur.select(F.col("v").alias("node"))
        )
        surv = (
            ends.groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
            .where(F.col("deg") >= KCORE_K)
            .select("node")
        )
        # lazy localCheckpoint, not eager: the three rounds' stats
        # evaluate in ONE action over the unioned plan, with each
        # round's edge set materialized the first time the chain
        # reaches it — eager per-round materialization + per-round
        # counts was 9 jobs and 3.9s warm at sf0.1. Non-eager
        # localCheckpoint (not .persist()) so the blocks are dropped by
        # the ContextCleaner once the Python refs go away — a persist()
        # here pinned 3 cached edge sets in executor storage for the
        # rest of the session (ADVICE r6). iter_checkpoint gates the
        # executor-loss caveat (ADVICE r7): SPARK_GRAFT_ITER_PERSIST=1
        # restores the recomputable persist path for clusters with
        # dynamic allocation.
        from ..functions.partitioning import iter_checkpoint

        cur = iter_checkpoint(
            cur.join(surv.select(F.col("node").alias("u")), "u")
            .join(surv.select(F.col("node").alias("v")), "v")
            .select("u", "v")
        )
        ends_r = cur.select(F.col("u").alias("node")).unionAll(
            cur.select(F.col("v").alias("node"))
        )
        stats.append(
            ends_r.agg(
                F.lit(r).cast("long").alias("round"),
                F.countDistinct("node").alias("n_nodes"),
                (F.count(F.lit(1)) / 2).cast("long").alias("n_edges"),
            )
        )
    out = stats[0]
    for s in stats[1:]:
        out = out.unionByName(s)
    return out


# ---------------------------------------------------------------------------
# 6. Theil-Sen robust trend (median of pairwise slopes)
# ---------------------------------------------------------------------------


def _theil_sen_oracle() -> str:
    return """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY 1, 2
    ), idx AS (
      SELECT event_type, cents,
             row_number() OVER (PARTITION BY event_type ORDER BY d) AS i
      FROM daily
    ), pairs AS (
      SELECT a.event_type,
             CAST(CASE WHEN b.cents >= a.cents
               THEN  ((20000::HUGEINT * (b.cents - a.cents) + (b.i - a.i))
                      // (2::HUGEINT * (b.i - a.i)))
               ELSE -((20000::HUGEINT * (a.cents - b.cents) + (b.i - a.i))
                      // (2::HUGEINT * (b.i - a.i)))
             END AS BIGINT) AS slope_q4
      FROM idx a JOIN idx b
        ON a.event_type = b.event_type AND b.i > a.i
    )
    SELECT event_type,
           CAST((SELECT count(*) FROM idx x WHERE x.event_type = p.event_type)
                AS BIGINT) AS n_days,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(quantile_disc(slope_q4, 0.5) AS BIGINT) / 10000.0
             AS trend_cents_per_day
    FROM pairs p GROUP BY event_type
    """


@register("stats_theil_sen_trend", oracle=_theil_sen_oracle())
def stats_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend of daily revenue per event type: the
    MEDIAN of all pairwise day-to-day slopes — the outlier-immune
    alternative to OLS regression (one corrupted day moves OLS
    arbitrarily; it moves the pairwise-slope median by one rank).

    Exactness: slopes are exact half-up integer ratios of cents over
    day-index differences at 4 dp (decimal-domain, cents-scale-proof),
    and the median is the exact discrete quantile over those int64s.
    Scale: the corpus collapses to a |event_types| x |days| series
    first; the O(days^2) pair join runs on that BOUNDED series (days
    grow with calendar time, not data volume) — never on raw rows.
    """
    t = Tables(spark, sf_dir)
    daily = (
        t.events.select(
            "event_type",
            F.to_date("ts").alias("d"),
            F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
            .cast("long")
            .alias("c_row"),
        )
        .groupBy("event_type", "d")
        .agg(F.sum("c_row").alias("cents"))
    )
    idx = daily.select(
        "event_type",
        "cents",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("d"))
        .alias("i"),
    )
    b = idx.select(
        F.col("event_type").alias("et_b"),
        F.col("cents").alias("cents_b"),
        F.col("i").alias("i_b"),
    )
    num = dec38(F.col("cents_b")) - dec38(F.col("cents"))
    den = dec38(F.col("i_b")) - dec38(F.col("i"))
    a_ = F.lit(20000).cast("decimal(38,0)") * F.abs(num) + den
    b_ = F.lit(2).cast("decimal(38,0)") * den
    mag = ((a_ - a_ % b_) / b_).cast("long")
    slope_q4 = F.when(num < 0, -mag).otherwise(mag)
    pairs = (
        idx.join(
            b,
            (F.col("et_b") == F.col("event_type")) & (F.col("i_b") > F.col("i")),
        )
        .select("event_type", slope_q4.alias("slope_q4"))
    )
    n_days = idx.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_days"))
    exact = str(2**31 - 1)
    return (
        pairs.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.expr(f"percentile_approx(slope_q4, 0.5, {exact})")
            .cast("long")
            .alias("med_q4"),
        )
        .join(F.broadcast(n_days), "event_type")
        .select(
            "event_type",
            "n_days",
            "n_pairs",
            (F.col("med_q4") / F.lit(1e4)).alias("trend_cents_per_day"),
        )
    )


# ---------------------------------------------------------------------------
# 7. Spearman rank correlation (midranks, tie-exact)
# ---------------------------------------------------------------------------


def _spearman_oracle() -> str:
    return """
    WITH q AS (
      SELECT event_type,
             CAST(floor(value * 1000.0 + 0.5) AS BIGINT) AS v_m,
             CAST(hour(ts) AS BIGINT) AS h
      FROM events
    ), vx AS (
      SELECT event_type, v_m, CAST(count(*) AS BIGINT) AS cnt,
             coalesce(sum(count(*)) OVER (PARTITION BY event_type ORDER BY v_m
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
      FROM q GROUP BY event_type, v_m
    ), vy AS (
      SELECT event_type, h, CAST(count(*) AS BIGINT) AS cnt,
             coalesce(sum(count(*)) OVER (PARTITION BY event_type ORDER BY h
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
      FROM q GROUP BY event_type, h
    ), r AS (
      SELECT q.event_type,
             CAST(2 * vx.cum + vx.cnt + 1 AS HUGEINT) AS rx2,
             CAST(2 * vy.cum + vy.cnt + 1 AS HUGEINT) AS ry2
      FROM q
      JOIN vx ON vx.event_type = q.event_type AND vx.v_m = q.v_m
      JOIN vy ON vy.event_type = q.event_type AND vy.h = q.h
    ), s AS (
      SELECT event_type,
             CAST(count(*) AS HUGEINT) AS n,
             sum(rx2) AS sx, sum(ry2) AS sy,
             sum(rx2 * rx2) AS sxx, sum(ry2 * ry2) AS syy,
             sum(rx2 * ry2) AS sxy
      FROM r GROUP BY event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_events,
           CAST(floor(CAST(n * sxy - sx * sy AS DOUBLE)
                      / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                             * CAST(n * syy - sy * sy AS DOUBLE))
                      * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS spearman_rho
    FROM s
    """


@register("stats_spearman_corr", oracle=_spearman_oracle())
def stats_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between event value and hour-of-day,
    per event type — the monotonic-association test (does value drift
    across the day?), tie-exact via midranks.

    Ranks never materialize per row from a sort: both variables
    pre-aggregate to their distinct-value histograms, midranks come
    from the (cum, cnt) window over those bounded domains (doubled to
    stay integral), and each event row joins its two midranks back.
    All five sufficient sums are exact decimal integers; the one
    final expression (Pearson on midranks) runs in doubles whose
    inputs are casts of identical integers on both engines, with
    matching association order, sqrt being correctly rounded — then a
    single micro-unit quantization. Scale: two domain-bounded windows
    plus one corpus-wide partial-aggregated sum; no row-level sort.
    """
    t = Tables(spark, sf_dir)
    from ..functions.exact import quantize

    q = t.events.select(
        "event_type",
        quantize(F.col("value"), 3).alias("v_m"),
        F.hour("ts").cast("long").alias("h"),
    )
    wv = Window.partitionBy("event_type").orderBy("v_m").rowsBetween(
        Window.unboundedPreceding, -1
    )
    wh = Window.partitionBy("event_type").orderBy("h").rowsBetween(
        Window.unboundedPreceding, -1
    )
    vx = q.groupBy("event_type", "v_m").agg(F.count(F.lit(1)).alias("cnt")).select(
        "event_type",
        "v_m",
        "cnt",
        F.coalesce(F.sum("cnt").over(wv), F.lit(0)).alias("cum"),
    )
    vy = q.groupBy("event_type", "h").agg(F.count(F.lit(1)).alias("cnt")).select(
        "event_type",
        "h",
        "cnt",
        F.coalesce(F.sum("cnt").over(wh), F.lit(0)).alias("cum"),
    )
    r = (
        q.join(
            vx.select(
                "event_type", "v_m", (2 * F.col("cum") + F.col("cnt") + 1).alias("rx2")
            ),
            ["event_type", "v_m"],
        )
        .join(
            F.broadcast(
                vy.select(
                    "event_type",
                    "h",
                    (2 * F.col("cum") + F.col("cnt") + 1).alias("ry2"),
                )
            ),
            ["event_type", "h"],
        )
        .select("event_type", dec38(F.col("rx2")).alias("rx2"), dec38(F.col("ry2")).alias("ry2"))
    )
    s = r.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("rx2").alias("sx"),
        F.sum("ry2").alias("sy"),
        F.sum(F.col("rx2") * F.col("rx2")).alias("sxx"),
        F.sum(F.col("ry2") * F.col("ry2")).alias("syy"),
        F.sum(F.col("rx2") * F.col("ry2")).alias("sxy"),
    )
    n = dec38(F.col("n"))
    num = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    denx = (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    deny = (n * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    rho = (
        F.floor(num / F.sqrt(denx * deny) * F.lit(1e6) + F.lit(0.5)).cast("long")
        / F.lit(1e6)
    )
    return s.select(
        "event_type", F.col("n").alias("n_events"), rho.alias("spearman_rho")
    )


# ---------------------------------------------------------------------------
# 8. NDCG@10 ranking eval of the quality classifier
# ---------------------------------------------------------------------------

NDCG_K = 10
# integer nano-gains 1e9/log2(i+1), precomputed in Python so BOTH
# engines embed the identical int64 literals — no runtime log anywhere
import math as _math  # noqa: E402

NDCG_W = [int(_math.floor(1e9 / _math.log2(i + 1) + 0.5)) for i in range(1, NDCG_K + 1)]
NDCG_PW = [sum(NDCG_W[: i + 1]) for i in range(NDCG_K)]  # prefix sums


def _ndcg_oracle() -> str:
    from .ml import _scored_labeled_sql

    w_list = ", ".join(str(w) for w in NDCG_W)
    pw_list = ", ".join(str(w) for w in NDCG_PW)
    return (
        _scored_labeled_sql()
        + f"""
    , ranked AS (
      SELECT lang, label,
             row_number() OVER (PARTITION BY lang
                                ORDER BY score_q DESC, doc_id) AS rn
      FROM scored
    ), pos AS (
      SELECT lang, CAST(sum(label) AS BIGINT) AS n_pos FROM scored GROUP BY lang
    ), dcg AS (
      SELECT lang,
             CAST(sum(label * ([{w_list}])[CAST(rn AS INTEGER)]) AS BIGINT)
               AS dcg_q
      FROM ranked WHERE rn <= {NDCG_K} GROUP BY lang
    ), j AS (
      SELECT p.lang, p.n_pos, coalesce(d.dcg_q, 0) AS dcg_q,
             CASE WHEN p.n_pos > 0 THEN
               ([{pw_list}])[CAST(least(p.n_pos, {NDCG_K}) AS INTEGER)]
             ELSE 0 END AS idcg_q
      FROM pos p LEFT JOIN dcg d USING (lang)
    )
    SELECT lang, n_pos, dcg_q, CAST(idcg_q AS BIGINT) AS idcg_q,
           CASE WHEN idcg_q > 0 THEN
             CAST(((2000000::HUGEINT * dcg_q + idcg_q)
                   // (2::HUGEINT * idcg_q)) AS BIGINT) / 1000000.0
           END AS ndcg
    FROM j
    """
    )


@register("ml_ndcg_by_lang", oracle=_ndcg_oracle())
def ml_ndcg_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 of the hashed-feature quality classifier against the
    rule-gate labels, per language — the RANKING eval completing the
    classifier's scorecard (calibration = probability quality, AUC =
    pairwise ordering, NDCG = top-of-list ordering, which is what a
    "select the best documents" pipeline actually consumes).

    Exactness: discount gains 1e9/log2(i+1) are PRECOMPUTED integer
    literals (i <= 10), so DCG and ideal DCG are exact int64 sums and
    NDCG is one decimal half-up ratio — no runtime logarithm at all.
    Scale: one per-lang top-10 window over the single-scan scored
    projection; everything after is |langs| rows.
    """
    from ..functions.exact import round_big_int_ratio
    from .ml import _scored_labeled

    t = Tables(spark, sf_dir)
    s = _scored_labeled(t)
    w = Window.partitionBy("lang").orderBy(F.col("score_q").desc(), "doc_id")
    w_arr = F.array(*[F.lit(x).cast("long") for x in NDCG_W])
    pw_arr = F.array(*[F.lit(x).cast("long") for x in NDCG_PW])
    ranked = s.select("lang", "label", F.row_number().over(w).alias("rn"))
    dcg = (
        ranked.where(F.col("rn") <= NDCG_K)
        .groupBy("lang")
        .agg(F.sum(F.col("label") * F.element_at(w_arr, F.col("rn"))).alias("dcg_q"))
    )
    pos = s.groupBy("lang").agg(F.sum("label").alias("n_pos"))
    j = pos.join(dcg, "lang", "left").select(
        "lang",
        "n_pos",
        F.coalesce(F.col("dcg_q"), F.lit(0)).alias("dcg_q"),
        F.when(
            F.col("n_pos") > 0,
            F.element_at(
                pw_arr, F.least(F.col("n_pos"), F.lit(NDCG_K)).cast("int")
            ),
        )
        .otherwise(0)
        .alias("idcg_q"),
    )
    return j.select(
        "lang",
        "n_pos",
        "dcg_q",
        F.col("idcg_q").cast("long").alias("idcg_q"),
        F.when(
            F.col("idcg_q") > 0,
            round_big_int_ratio(F.col("dcg_q"), F.col("idcg_q")),
        ).alias("ndcg"),
    )


# ---------------------------------------------------------------------------
# 9. Differentially-private counts via deterministic inverse-CDF Laplace
# ---------------------------------------------------------------------------

DP_EPS = 0.5
DP_HASH_A, DP_HASH_B = 1_103_515_245, 12_345


def _dp_oracle() -> str:
    from ..functions.detmath import sql_det_ln_steps

    b = 1.0 / DP_EPS
    return f"""
    WITH counts AS (
      SELECT c.c_nationkey, CAST(count(*) AS BIGINT) AS true_count
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1
    ), u AS (
      SELECT c_nationkey, true_count,
             (CAST((((c_nationkey::BIGINT % {_P}) * {DP_HASH_A} + {DP_HASH_B}) % {_P})
                   AS DOUBLE) + 1.0) / {float(_P + 1)!r}::DOUBLE AS u01
      FROM counts
    ), centered AS (
      SELECT c_nationkey, true_count, u01 - 0.5 AS c,
             1.0 - 2.0 * abs(u01 - 0.5) AS arg
      FROM u
    ), {sql_det_ln_steps('centered', 'arg', 'lnv', as_double=True)}, noise AS (
      SELECT c_nationkey, true_count,
             CAST(floor((CASE WHEN c >= 0 THEN -{b!r}::DOUBLE * lnv
                              ELSE {b!r}::DOUBLE * lnv END)
                        * 1000000.0 + 0.5) AS BIGINT) AS noise_q6
      FROM lnv_rel
    )
    SELECT nn.n_name AS nation, true_count, noise_q6,
           true_count
             + CAST(floor(noise_q6 / 1000000.0 + 0.5) AS BIGINT) AS noisy_count
    FROM noise JOIN nation nn ON nn.n_nationkey = noise.c_nationkey
    """


@register("privacy_dp_laplace_counts", oracle=_dp_oracle())
def privacy_dp_laplace_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation order counts with Laplace(1/eps)-SHAPED pseudo-noise,
    eps = 0.5 — a reproducible DEMO of the DP release mechanism's
    plumbing, NOT a differential-privacy guarantee: the noise is
    inverse-CDF Laplace driven by a portable hash of the public
    partition key with constants fixed in source, so anyone holding the
    code can subtract it exactly and recover true_count (ADVICE r6). A
    production release would derive the hash seed from a secret salt
    held outside the code (the mechanism below is unchanged by that
    substitution); what this query demonstrates — and what the oracle
    verifies bit-for-bit — is the deterministic inverse-CDF transform
    itself.

    The inverse CDF needs ln(1 - 2|u - 0.5|) — exactly what the
    deterministic fixed-point ln (functions/detmath.py) exists for: the
    noise quantizes to the same micro-unit integer on both engines.
    Scale: one partial-aggregated count; noise is |nations| rows of
    scalar math.
    """
    from ..functions.detmath import det_ln_dbl

    t = Tables(spark, sf_dir)
    b = 1.0 / DP_EPS
    counts = (
        t.orders.join(
            t.customer.select("c_custkey", "c_nationkey"),
            t.orders.o_custkey == F.col("c_custkey"),
        )
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("true_count"))
    )
    h = ((F.col("c_nationkey").cast("long") % _P) * DP_HASH_A + DP_HASH_B) % _P
    u01 = (h.cast("double") + F.lit(1.0)) / F.lit(float(_P + 1))
    centered = counts.select(
        "c_nationkey",
        "true_count",
        (u01 - F.lit(0.5)).alias("c"),
        (F.lit(1.0) - F.lit(2.0) * F.abs(u01 - F.lit(0.5))).alias("arg"),
    )
    lnv = det_ln_dbl(F.col("arg"))
    noise_q6 = F.floor(
        F.when(F.col("c") >= 0, F.lit(-b) * lnv).otherwise(F.lit(b) * lnv)
        * F.lit(1e6)
        + F.lit(0.5)
    ).cast("long")
    noise = centered.select("c_nationkey", "true_count", noise_q6.alias("noise_q6"))
    return noise.join(
        F.broadcast(t.nation.select("n_nationkey", "n_name")),
        noise.c_nationkey == F.col("n_nationkey"),
    ).select(
        F.col("n_name").alias("nation"),
        "true_count",
        "noise_q6",
        (
            F.col("true_count")
            + F.floor(F.col("noise_q6") / F.lit(1e6) + F.lit(0.5)).cast("long")
        ).alias("noisy_count"),
    )


# ---------------------------------------------------------------------------
# 10. Zipf exponent fit of the token frequency distribution
# ---------------------------------------------------------------------------

ZIPF_TOP = 1000


def _zipf_oracle() -> str:
    from ..functions.detmath import sql_det_ln_steps
    from .corpus import _SQL_TOKENS

    return f"""
    WITH toks AS (
      SELECT unnest({_SQL_TOKENS}) AS token FROM documents
    ), freq AS (
      SELECT token, CAST(count(*) AS BIGINT) AS f
      FROM toks WHERE token <> '' GROUP BY token
    ), ranked AS (
      SELECT CAST(row_number() OVER (ORDER BY f DESC, token) AS BIGINT) AS r, f
      FROM freq
      ORDER BY f DESC, token
      LIMIT {ZIPF_TOP}
    ), rd AS (
      SELECT CAST(r AS DOUBLE) AS rd, CAST(f AS DOUBLE) AS fd FROM ranked
    ), {sql_det_ln_steps('rd', 'rd', 'x_q', 6)},
    {sql_det_ln_steps('x_q_rel', 'fd', 'y_q', 6)},
    s AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(x_q) AS HUGEINT) AS sx, CAST(sum(y_q) AS HUGEINT) AS sy,
             sum(x_q::HUGEINT * x_q) AS sxx, sum(y_q::HUGEINT * y_q) AS syy,
             sum(x_q::HUGEINT * y_q) AS sxy
      FROM y_q_rel
    ), fit AS (
      SELECT CAST(n AS BIGINT) AS n_ranks,
             n * sxy - sx * sy AS num,
             n * sxx - sx * sx AS denx,
             n * syy - sy * sy AS deny
      FROM s
    )
    SELECT n_ranks,
           CAST(CASE WHEN num >= 0
             THEN  ((2000000::HUGEINT * num + denx) // (2::HUGEINT * denx))
             ELSE -((2000000::HUGEINT * (-num) + denx) // (2::HUGEINT * denx))
           END AS BIGINT) / 1000000.0 AS zipf_slope,
           CAST(floor(CAST(num AS DOUBLE) * CAST(num AS DOUBLE)
                      / (CAST(denx AS DOUBLE) * CAST(deny AS DOUBLE))
                      * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS r_squared
    FROM fit
    """


@register("text_zipf_fit", oracle=_zipf_oracle())
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLS fit of log-frequency against log-rank over the top-1000
    token frequency table — the Zipf exponent (slope ~ -1 for natural
    language; strong deviation flags templated/synthetic corpora), a
    standard corpus-health diagnostic.

    Both logs are the deterministic fixed-point ln in micro-nat int64
    (functions/detmath.py) — the fit's sufficient statistics are then
    exact decimal sums and the slope is one decimal half-up ratio (the
    micro-unit scale cancels between numerator and denominator). R^2
    runs in doubles cast from the same exact integers on both engines.
    Scale: token counting is the usual partial-aggregated explode; the
    fit itself touches only the top-1000 rows of the frequency table.
    """
    from ..functions.detmath import det_ln_q
    from ..functions.exact import round_big_int_ratio
    from ..functions.textnorm import whitespace_tokens

    t = Tables(spark, sf_dir)
    freq = (
        t.documents.select(F.explode(whitespace_tokens(F.col("text"))).alias("token"))
        .where(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    ranked = (
        freq.select(
            F.row_number()
            .over(Window.orderBy(F.col("f").desc(), "token"))
            .cast("long")
            .alias("r"),
            "f",
        )
        .where(F.col("r") <= ZIPF_TOP)
    )
    xy = ranked.select(
        det_ln_q(F.col("r").cast("double"), 6).alias("x_q"),
        det_ln_q(F.col("f").cast("double"), 6).alias("y_q"),
    )
    s = xy.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x_q").alias("sx"),
        F.sum("y_q").alias("sy"),
        F.sum(dec38(F.col("x_q")) * dec38(F.col("x_q"))).alias("sxx"),
        F.sum(dec38(F.col("y_q")) * dec38(F.col("y_q"))).alias("syy"),
        F.sum(dec38(F.col("x_q")) * dec38(F.col("y_q"))).alias("sxy"),
    )
    n = dec38(F.col("n"))
    fit = s.select(
        F.col("n").alias("n_ranks"),
        (n * F.col("sxy") - dec38(F.col("sx")) * dec38(F.col("sy"))).alias("num"),
        (n * F.col("sxx") - dec38(F.col("sx")) * dec38(F.col("sx"))).alias("denx"),
        (n * F.col("syy") - dec38(F.col("sy")) * dec38(F.col("sy"))).alias("deny"),
    )
    r2 = (
        F.floor(
            F.col("num").cast("double")
            * F.col("num").cast("double")
            / (F.col("denx").cast("double") * F.col("deny").cast("double"))
            * F.lit(1e6)
            + F.lit(0.5)
        ).cast("long")
        / F.lit(1e6)
    )
    return fit.select(
        "n_ranks",
        round_big_int_ratio(F.col("num"), F.col("denx")).alias("zipf_slope"),
        r2.alias("r_squared"),
    )


# ---------------------------------------------------------------------------
# 11. Single change-point detection (binary segmentation, 1 split)
# ---------------------------------------------------------------------------


def _binseg_oracle() -> str:
    return """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY 1, 2
    ), idx AS (
      SELECT event_type, d, cents,
             row_number() OVER (PARTITION BY event_type ORDER BY d) AS i,
             CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
             CAST(sum(cents) OVER (PARTITION BY event_type) AS BIGINT) AS s,
             CAST(sum(cents) OVER (PARTITION BY event_type ORDER BY d)
                  AS BIGINT) AS sl
      FROM daily
    ), cand AS (
      SELECT event_type, d, i, n,
             CAST(i AS BIGINT) AS nl, n - i AS nr,
             sl, s - sl AS sr,
             CASE WHEN sl >= 0
               THEN  ((200::HUGEINT * sl + i) // (2::HUGEINT * i))
               ELSE -((200::HUGEINT * (-sl) + i) // (2::HUGEINT * i)) END AS dl_q2,
             CASE WHEN (s - sl) >= 0
               THEN  ((200::HUGEINT * (s - sl) + (n - i)) // (2::HUGEINT * (n - i)))
               ELSE -((200::HUGEINT * (sl - s) + (n - i)) // (2::HUGEINT * (n - i)))
             END AS dr_q2
      FROM idx WHERE i < n
    ), scored AS (
      SELECT event_type, d, nl, nr,
             CAST(floor(
               (CAST(dl_q2 AS DOUBLE) / 100.0 - CAST(dr_q2 AS DOUBLE) / 100.0)
               * (CAST(dl_q2 AS DOUBLE) / 100.0 - CAST(dr_q2 AS DOUBLE) / 100.0)
               * CAST(nl AS DOUBLE) * CAST(nr AS DOUBLE)
               / CAST(nl + nr AS DOUBLE) + 0.5) AS BIGINT) AS t_q
      FROM cand
    ), best AS (
      SELECT event_type, d, nl, nr, t_q,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY t_q DESC, d) AS rn
      FROM scored
    )
    SELECT event_type, CAST(d AS TIMESTAMP) AS change_day,
           CAST(nl AS BIGINT) AS n_before, CAST(nr AS BIGINT) AS n_after, t_q
    FROM best WHERE rn = 1
    """


@register("stats_changepoint_binseg", oracle=_binseg_oracle())
def stats_changepoint_binseg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single change-point detection on the daily revenue series per
    event type — binary segmentation's first split: the day whose
    before/after mean shift maximizes the pooled two-sample statistic
    d^2 * nL * nR / n (the CUSUM-family scan complementary to
    ``events_cusum_changepoint``, which flags drift online; this
    locates the globally best breakpoint offline).

    Candidate evaluation is prefix-sum algebra on the BOUNDED daily
    series: each split's side means are exact half-up cents ratios
    (2 dp, int128/decimal domain), the scan statistic then runs in
    doubles derived from those identical quantized integers with
    matching association, and the argmax tie-breaks on day. One
    window pass + one |days|-row ranking per type — no O(days^2).
    """
    t = Tables(spark, sf_dir)
    daily = (
        t.events.select(
            "event_type",
            F.to_date("ts").alias("d"),
            F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
            .cast("long")
            .alias("c_row"),
        )
        .groupBy("event_type", "d")
        .agg(F.sum("c_row").alias("cents"))
    )
    wp = Window.partitionBy("event_type")
    idx = daily.select(
        "event_type",
        "d",
        F.row_number().over(wp.orderBy("d")).alias("i"),
        F.count(F.lit(1)).over(wp).alias("n"),
        F.sum("cents").over(wp).alias("s"),
        F.sum("cents").over(wp.orderBy("d")).alias("sl"),
    )

    def half_up_signed(num, den, scale):
        a_ = F.lit(2 * scale).cast("decimal(38,0)") * F.abs(num) + den
        b_ = F.lit(2).cast("decimal(38,0)") * den
        mag = ((a_ - a_ % b_) / b_).cast("long")
        return F.when(num < 0, -mag).otherwise(mag)

    cand = idx.where(F.col("i") < F.col("n")).select(
        "event_type",
        "d",
        F.col("i").cast("long").alias("nl"),
        (F.col("n") - F.col("i")).alias("nr"),
        half_up_signed(dec38(F.col("sl")), dec38(F.col("i")), 100).alias("dl_q2"),
        half_up_signed(
            dec38(F.col("s")) - dec38(F.col("sl")),
            dec38(F.col("n")) - dec38(F.col("i")),
            100,
        ).alias("dr_q2"),
    )
    diff = F.col("dl_q2").cast("double") / F.lit(100.0) - F.col("dr_q2").cast(
        "double"
    ) / F.lit(100.0)
    t_q = F.floor(
        diff
        * diff
        * F.col("nl").cast("double")
        * F.col("nr").cast("double")
        / (F.col("nl") + F.col("nr")).cast("double")
        + F.lit(0.5)
    ).cast("long")
    scored = cand.select("event_type", "d", "nl", "nr", t_q.alias("t_q"))
    best = scored.select(
        "*",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy(F.col("t_q").desc(), "d"))
        .alias("rn"),
    ).where(F.col("rn") == 1)
    return best.select(
        "event_type",
        F.col("d").cast("timestamp").alias("change_day"),
        F.col("nl").alias("n_before"),
        F.col("nr").alias("n_after"),
        "t_q",
    )


# ---------------------------------------------------------------------------
# 12. Average precision (PR-AUC) of the quality classifier
# ---------------------------------------------------------------------------


def _pr_auc_oracle() -> str:
    from .ml import _scored_labeled_sql

    return (
        _scored_labeled_sql()
        + """
    , g AS (
      SELECT lang, score_q,
             CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(label) AS BIGINT) AS pos
      FROM scored GROUP BY lang, score_q
    ), c AS (
      SELECT lang, pos,
             sum(cnt) OVER (PARTITION BY lang ORDER BY score_q DESC) AS n_incl,
             sum(pos) OVER (PARTITION BY lang ORDER BY score_q DESC) AS tp_incl
      FROM g
    ), terms AS (
      SELECT lang, pos,
             CAST(((2000000000::HUGEINT * (pos::HUGEINT * tp_incl) + n_incl)
                   // (2::HUGEINT * n_incl)) AS HUGEINT) AS term_q9
      FROM c WHERE pos > 0
    ), agg AS (
      SELECT s.lang,
             CAST(sum(s.label) AS BIGINT) AS n_pos,
             CAST(count(*) - sum(s.label) AS BIGINT) AS n_neg
      FROM scored s GROUP BY s.lang
    ), ap AS (
      SELECT lang, CAST(sum(term_q9) AS HUGEINT) AS sum_q9 FROM terms GROUP BY lang
    )
    SELECT a.lang, a.n_pos, a.n_neg,
           CASE WHEN a.n_pos > 0 THEN
             CAST(((2::HUGEINT * p.sum_q9 + a.n_pos)
                   // (2::HUGEINT * a.n_pos)) AS BIGINT) / 1e9
           END AS avg_precision
    FROM agg a LEFT JOIN ap p USING (lang)
    """
    )


@register("ml_pr_auc_by_lang", oracle=_pr_auc_oracle())
def ml_pr_auc_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision (area under the precision-recall curve, step
    interpolation) of the quality classifier per language — the eval
    that matters under class imbalance, where ROC-AUC
    (``ml_auc_by_lang``) flatters: precision is recomputed at every
    score cut, so a classifier that ranks a few negatives early is
    punished immediately.

    Definition (tie-aware, exact): scores collapse to their distinct
    domain; at each score group, precision = tp_incl/n_incl at the
    group's inclusive cumulative counts, weighted by the group's
    positives. Each term quantizes half-up to nano-units in int128
    BEFORE the sum (denominators vary per group — summing the exact
    rationals would need unbounded precision), and AP is one final
    half-up ratio by n_pos. Scale: identical shape to the AUC query —
    a bounded per-lang window over the collapsed score domain.
    """
    from .ml import _scored_labeled

    t = Tables(spark, sf_dir)
    s = _scored_labeled(t)
    g = s.groupBy("lang", "score_q").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("label").alias("pos")
    )
    w = Window.partitionBy("lang").orderBy(F.col("score_q").desc())
    c = g.select(
        "lang",
        "pos",
        F.sum("cnt").over(w).alias("n_incl"),
        F.sum("pos").over(w).alias("tp_incl"),
    )
    num = dec38(F.lit(2_000_000_000)) * (dec38(F.col("pos")) * dec38(F.col("tp_incl")))
    den = dec38(F.col("n_incl"))
    term_q9 = ((num + den - (num + den) % (F.lit(2).cast("decimal(38,0)") * den))
               / (F.lit(2).cast("decimal(38,0)") * den)).cast("decimal(38,0)")
    terms = c.where(F.col("pos") > 0).select("lang", term_q9.alias("term_q9"))
    agg = s.groupBy("lang").agg(
        F.sum("label").alias("n_pos"),
        (F.count(F.lit(1)) - F.sum("label")).alias("n_neg"),
    )
    ap = terms.groupBy("lang").agg(F.sum("term_q9").alias("sum_q9"))
    num2 = F.lit(2).cast("decimal(38,0)") * F.col("sum_q9") + dec38(F.col("n_pos"))
    den2 = F.lit(2).cast("decimal(38,0)") * dec38(F.col("n_pos"))
    return (
        agg.join(ap, "lang", "left")
        .select(
            "lang",
            "n_pos",
            "n_neg",
            F.when(
                F.col("n_pos") > 0,
                ((num2 - num2 % den2) / den2).cast("long") / F.lit(1e9),
            ).alias("avg_precision"),
        )
    )


# ---------------------------------------------------------------------------
# 13. Naive Bayes language classifier (train + score + confusion)
# ---------------------------------------------------------------------------

NB_HASH_A, NB_HASH_B = 214_013, 2_531_011
NB_TEST_MOD = 5          # doc_id hash % 5 == 0 -> held-out test fold
NB_MAX_CHARS = 400       # per-doc char cap bounds the bigram fanout


def _nb_oracle() -> str:
    from ..functions.detmath import sql_det_ln_steps

    return f"""
    WITH docs AS (
      SELECT doc_id, lang,
             substr(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), 1,
                    {NB_MAX_CHARS}) AS norm,
             ((((doc_id % {_P}) * {NB_HASH_A} + {NB_HASH_B}) % {_P})
              % {NB_TEST_MOD} = 0) AS is_test
      FROM documents
    ), grams AS (
      SELECT doc_id, lang, is_test, substr(norm, CAST(i AS INTEGER), 2) AS bg
      FROM docs, unnest(generate_series(1, len(norm) - 1)) AS t(i)
      WHERE len(norm) >= 2
    ), model AS (
      SELECT lang, bg, CAST(count(*) AS BIGINT) AS c
      FROM grams WHERE NOT is_test GROUP BY lang, bg
    ), vocab AS (
      SELECT CAST(count(DISTINCT bg) AS BIGINT) AS v
      FROM grams WHERE NOT is_test
    ), lang_tot AS (
      SELECT m.lang, CAST(sum(m.c) AS BIGINT) AS t_l,
             CAST(sum(m.c) + v.v AS BIGINT) AS denom
      FROM model m CROSS JOIN vocab v GROUP BY m.lang, v.v
    ), prior_base AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS nl,
             CAST(sum(count(*)) OVER () AS BIGINT) AS ntr
      FROM docs WHERE NOT is_test GROUP BY lang
    ), modeld AS (
      SELECT m.lang, m.bg,
             (CAST(m.c AS DOUBLE) + 1.0) / CAST(lt.denom AS DOUBLE) AS pr
      FROM model m JOIN lang_tot lt USING (lang)
    ), {sql_det_ln_steps('modeld', 'pr', 'logp_q', 6)},
    langd AS (
      SELECT lt.lang, lt.denom,
             1.0 / CAST(lt.denom AS DOUBLE) AS pr0,
             CAST(pb.nl AS DOUBLE) / CAST(pb.ntr AS DOUBLE) AS prior
      FROM lang_tot lt JOIN prior_base pb USING (lang)
    ), {sql_det_ln_steps('langd', 'pr0', 'logp0_q', 6)},
    {sql_det_ln_steps('logp0_q_rel', 'prior', 'prior_q', 6)},
    test_grams AS (
      SELECT doc_id, lang AS true_lang, bg, CAST(count(*) AS BIGINT) AS cnt
      FROM grams WHERE is_test GROUP BY doc_id, lang, bg
    ), contrib AS (
      SELECT tg.doc_id, tg.true_lang, l.lang AS cand,
             CAST(sum(tg.cnt * coalesce(m.logp_q, l.logp0_q)) AS BIGINT) AS s
      FROM test_grams tg
      CROSS JOIN prior_q_rel l
      LEFT JOIN logp_q_rel m ON m.lang = l.lang AND m.bg = tg.bg
      GROUP BY tg.doc_id, tg.true_lang, l.lang
    ), test_docs AS (
      SELECT doc_id, lang AS true_lang FROM docs WHERE is_test
    ), scores AS (
      SELECT td.doc_id, td.true_lang, l.lang AS cand,
             l.prior_q + coalesce(c.s, 0) AS score
      FROM test_docs td
      CROSS JOIN prior_q_rel l
      LEFT JOIN contrib c ON c.doc_id = td.doc_id AND c.cand = l.lang
    ), pred AS (
      SELECT doc_id, true_lang, cand AS pred_lang,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, cand) AS rn
      FROM scores
    )
    SELECT true_lang, pred_lang, CAST(count(*) AS BIGINT) AS n_docs
    FROM pred WHERE rn = 1
    GROUP BY true_lang, pred_lang
    """


@register("ml_naive_bayes_langid", oracle=_nb_oracle())
def ml_naive_bayes_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial naive Bayes language identifier, trained AND
    evaluated in one declarative plan: character-bigram counts from a
    hash-held-out 80% train fold, Laplace-smoothed log-probabilities,
    argmax scoring of the 20% test fold, confusion matrix out — the
    classic "train a simple model inside the warehouse" pattern
    (complements ``text_lang_id``'s fixed heuristic with a LEARNED
    classifier, and ``stats_logistic_gd``'s regression with a
    generative model).

    Every log-probability is the deterministic fixed-point ln
    (functions/detmath.py) quantized to micro-nat int64 ON THE MODEL
    TABLE (|langs| x |bigrams|-bounded), so per-doc scores are exact
    integer dot products — bit-identical argmax on both engines.
    Scale: train counts partial-aggregate; scoring joins test bigrams
    to the broadcastable model; the per-doc fanout is |langs| (~5).
    """
    from ..functions.detmath import det_ln_q
    from ..functions.textnorm import normalized_text

    t = Tables(spark, sf_dir)
    h = ((F.col("doc_id") % _P) * NB_HASH_A + NB_HASH_B) % _P
    docs = t.documents.select(
        "doc_id",
        "lang",
        F.substring(normalized_text(F.col("text")), 1, NB_MAX_CHARS).alias("norm"),
        (h % NB_TEST_MOD == 0).alias("is_test"),
    )
    grams = docs.where(F.length("norm") >= 2).select(
        "doc_id",
        "lang",
        "is_test",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("norm") - 1),
                lambda i: F.col("norm").substr(i, F.lit(2)),
            )
        ).alias("bg"),
    )
    train = grams.where(~F.col("is_test"))
    model = train.groupBy("lang", "bg").agg(F.count(F.lit(1)).alias("c"))
    vocab = train.agg(F.countDistinct("bg").alias("v"))
    lang_tot = (
        model.groupBy("lang")
        .agg(F.sum("c").alias("t_l"))
        .crossJoin(F.broadcast(vocab))
        .select("lang", "t_l", (F.col("t_l") + F.col("v")).alias("denom"))
    )
    lang_counts = (
        docs.where(~F.col("is_test")).groupBy("lang").agg(F.count(F.lit(1)).alias("nl"))
    )
    # broadcast 1-row total, not a global window — keeps the registry
    # free of SinglePartition-fed Window stages (tests/test_plans.py)
    prior_base = lang_counts.crossJoin(
        F.broadcast(lang_counts.agg(F.sum("nl").alias("ntr")))
    )
    scored_model = model.join(lang_tot, "lang").select(
        "lang",
        "bg",
        det_ln_q(
            (F.col("c").cast("double") + F.lit(1.0)) / F.col("denom").cast("double"),
            6,
        ).alias("logp_q"),
    )
    lang_scores = lang_tot.join(prior_base, "lang").select(
        "lang",
        det_ln_q(F.lit(1.0) / F.col("denom").cast("double"), 6).alias("logp0_q"),
        det_ln_q(
            F.col("nl").cast("double") / F.col("ntr").cast("double"), 6
        ).alias("prior_q"),
    )
    test_grams = (
        grams.where(F.col("is_test"))
        .groupBy("doc_id", F.col("lang").alias("true_lang"), "bg")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    contrib = (
        test_grams.crossJoin(F.broadcast(lang_scores.select("lang", "logp0_q")))
        .join(
            F.broadcast(scored_model.withColumnRenamed("lang", "m_lang")),
            (F.col("m_lang") == F.col("lang")) & (scored_model.bg == test_grams.bg),
            "left",
        )
        .groupBy("doc_id", "true_lang", F.col("lang").alias("cand"))
        .agg(
            F.sum(
                F.col("cnt") * F.coalesce(F.col("logp_q"), F.col("logp0_q"))
            ).alias("s")
        )
    )
    test_docs = docs.where(F.col("is_test")).select(
        "doc_id", F.col("lang").alias("true_lang")
    )
    scores = (
        test_docs.crossJoin(F.broadcast(lang_scores.select("lang", "prior_q")))
        .join(
            contrib.withColumnRenamed("cand", "lang"),
            ["doc_id", "true_lang", "lang"],
            "left",
        )
        .select(
            "doc_id",
            "true_lang",
            F.col("lang").alias("cand"),
            (F.col("prior_q") + F.coalesce(F.col("s"), F.lit(0))).alias("score"),
        )
    )
    pred = scores.select(
        "*",
        F.row_number()
        .over(
            Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "cand")
        )
        .alias("rn"),
    ).where(F.col("rn") == 1)
    return pred.groupBy(
        "true_lang", F.col("cand").alias("pred_lang")
    ).agg(F.count(F.lit(1)).alias("n_docs"))


# ---------------------------------------------------------------------------
# 14. Decision stump training (1-split tree by exact Gini scan)
# ---------------------------------------------------------------------------

STUMP_BIN_CENTS = 1_000_000  # $10,000 candidate-threshold bins


def _stump_oracle() -> str:
    return f"""
    WITH o AS (
      SELECT CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)
               // {STUMP_BIN_CENTS} AS bin,
             CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END AS label
      FROM orders
    ), binned AS (
      SELECT bin, CAST(count(*) AS BIGINT) AS n, CAST(sum(label) AS BIGINT) AS pos
      FROM o GROUP BY bin
    ), c AS (
      SELECT bin,
             sum(n) OVER (ORDER BY bin) AS nl,
             sum(pos) OVER (ORDER BY bin) AS posl,
             sum(n) OVER () AS nt, sum(pos) OVER () AS post
      FROM binned
    ), cand AS (
      SELECT bin, nl, posl, nl - posl AS negl,
             nt - nl AS nr, post - posl AS posr,
             (nt - nl) - (post - posl) AS negr, nt, post
      FROM c WHERE nl < nt
    ), scored AS (
      SELECT bin, nl, nr, nt, post, posl, negl, posr, negr,
             CAST(floor(
               ((CAST(nl AS DOUBLE) * nl - CAST(posl AS DOUBLE) * posl
                 - CAST(negl AS DOUBLE) * negl) / CAST(nl AS DOUBLE)
                + (CAST(nr AS DOUBLE) * nr - CAST(posr AS DOUBLE) * posr
                   - CAST(negr AS DOUBLE) * negr) / CAST(nr AS DOUBLE))
               * 1000000.0 + 0.5) AS BIGINT) AS g_q
      FROM cand
    ), best AS (
      SELECT *, row_number() OVER (ORDER BY g_q, bin) AS rn FROM scored
    )
    SELECT CAST((bin + 1) * {STUMP_BIN_CENTS} AS BIGINT) AS threshold_cents,
           CAST(nl AS BIGINT) AS n_left, CAST(nr AS BIGINT) AS n_right, g_q,
           CAST(((2000000::HUGEINT * (greatest(posl, negl) + greatest(posr, negr))
                  + nt) // (2::HUGEINT * nt)) AS BIGINT) / 1000000.0
             AS stump_accuracy
    FROM best WHERE rn = 1
    """


@register("ml_decision_stump", oracle=_stump_oracle())
def ml_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a one-split decision tree (stump) predicting urgent/high
    priority from order value, by exact Gini-impurity scan over binned
    thresholds — the "can the warehouse train the baseline model"
    primitive, and the building block of boosted trees and of feature
    split-finding in distributed GBDT (per-feature histogram -> prefix
    scan -> best split is exactly how LightGBM/XGBoost's histogram
    mode works at scale).

    Candidates are $10k bins, so the scan is histogram-sized no matter
    the corpus: one partial-aggregated groupBy, one ordered prefix
    window over the bins, and the weighted Gini (kept as the exact
    integer identity n - (pos^2 + neg^2)/n per side, evaluated in
    doubles from identical integers) ranks splits with a bin
    tie-break. Stump accuracy is an exact half-up ratio.
    """
    t = Tables(spark, sf_dir)
    o = t.orders.select(
        (
            F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5)).cast("long")
            / F.lit(STUMP_BIN_CENTS)
        )
        .cast("long")
        .alias("bin"),
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
        )
        .otherwise(0)
        .alias("label"),
    )
    binned = o.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"), F.sum("label").alias("pos")
    )
    # The split scan runs as ARRAY algebra inside one final aggregate —
    # the bin histogram (domain-bounded, ~50 rows) collects into a
    # sorted struct array, prefix sums come from slice-folds per
    # candidate, and the argmin is array_min over (g_q, bin, ...)
    # structs. No global Window/Sort anywhere, so the registry-wide
    # "SinglePartition only feeds final aggregates" plan property
    # holds (tests/test_plans.py); the O(bins^2) fold is on the
    # histogram, never the data.
    row = binned.agg(
        F.sort_array(F.collect_list(F.struct("bin", "n", "pos"))).alias("arr")
    )
    arr = F.col("arr")
    zero = F.lit(0).cast("long")
    nt = F.aggregate(arr, zero, lambda a, x: a + x["n"])
    post = F.aggregate(arr, zero, lambda a, x: a + x["pos"])

    def prefix(field, i):
        return F.aggregate(
            F.slice(arr, F.lit(1), i + 1), zero, lambda a, x: a + x[field]
        )

    def cand_struct(x, i):
        nl = prefix("n", i)
        posl = prefix("pos", i)
        negl = nl - posl
        nr = nt - nl
        posr = post - posl
        negr = nr - posr
        dd = lambda c_: c_.cast("double")  # noqa: E731
        # the last element (nr = 0) is filtered out below, but ANSI
        # division must still be guarded during the transform
        g_q = F.when(
            nr > 0,
            F.floor(
                (
                    (dd(nl) * nl - dd(posl) * posl - dd(negl) * negl) / dd(nl)
                    + (dd(nr) * nr - dd(posr) * posr - dd(negr) * negr) / dd(nr)
                )
                * F.lit(1e6)
                + F.lit(0.5)
            ).cast("long"),
        ).otherwise(F.lit(2**62))
        return F.struct(
            g_q.alias("g_q"),
            x["bin"].alias("bin"),
            nl.alias("nl"),
            posl.alias("posl"),
            negl.alias("negl"),
            nr.alias("nr"),
            posr.alias("posr"),
            negr.alias("negr"),
        )

    cands = F.filter(
        F.transform(arr, cand_struct), lambda c_: c_["nl"] < nt
    )
    scored = row.select(F.array_min(cands).alias("b"), nt.alias("nt"))
    from ..functions.exact import round_big_int_ratio

    b = F.col("b")
    return scored.select(
        ((b["bin"] + 1) * STUMP_BIN_CENTS).cast("long").alias("threshold_cents"),
        b["nl"].alias("n_left"),
        b["nr"].alias("n_right"),
        b["g_q"].alias("g_q"),
        round_big_int_ratio(
            dec38(F.greatest(b["posl"], b["negl"])) + dec38(F.greatest(b["posr"], b["negr"])),
            dec38(F.col("nt")),
        ).alias("stump_accuracy"),
    )


# ---------------------------------------------------------------------------
# 15. Kendall tau-b (concordance over the bounded bucket grid)
# ---------------------------------------------------------------------------

KT_VBINS = 10


def _kendall_oracle() -> str:
    return f"""
    WITH q AS (
      SELECT event_type,
             CAST(floor(value * 1000.0 + 0.5) AS BIGINT) AS v_m,
             CAST(hour(ts) AS BIGINT) AS h
      FROM events
    ), ext AS (
      SELECT event_type, CAST(min(v_m) AS BIGINT) AS mn, CAST(max(v_m) AS BIGINT) AS mx
      FROM q GROUP BY event_type
    ), cells AS (
      SELECT q.event_type,
             least(CAST(floor((q.v_m - e.mn) * {KT_VBINS}
                              / (e.mx - e.mn + 1)) AS BIGINT),
                   {KT_VBINS - 1}) AS vb,
             q.h,
             CAST(count(*) AS HUGEINT) AS n
      FROM q JOIN ext e USING (event_type)
      GROUP BY 1, 2, 3
    ), pairs AS (
      SELECT a.event_type,
             sum(CASE WHEN b.vb > a.vb AND b.h > a.h THEN a.n * b.n ELSE 0 END)
               AS c2,
             sum(CASE WHEN b.vb > a.vb AND b.h < a.h THEN a.n * b.n ELSE 0 END)
               AS d2
      FROM cells a JOIN cells b USING (event_type)
      GROUP BY a.event_type
    ), ties AS (
      SELECT event_type,
             CAST(sum(n) AS HUGEINT) AS nn,
             sum(n * (n - 1)) AS tie_cell2
      FROM cells GROUP BY event_type
    ), tx AS (
      SELECT event_type, sum(rn * (rn - 1)) AS tie_x2
      FROM (SELECT event_type, vb, CAST(sum(n) AS HUGEINT) AS rn
            FROM cells GROUP BY 1, 2)
      GROUP BY event_type
    ), ty AS (
      SELECT event_type, sum(rn * (rn - 1)) AS tie_y2
      FROM (SELECT event_type, h, CAST(sum(n) AS HUGEINT) AS rn
            FROM cells GROUP BY 1, 2)
      GROUP BY event_type
    )
    SELECT t.event_type, CAST(t.nn AS BIGINT) AS n_events,
           CAST(floor(CAST(p.c2 - p.d2 AS DOUBLE)
                      / sqrt(CAST(t.nn * (t.nn - 1) - x.tie_x2 AS DOUBLE)
                             * CAST(t.nn * (t.nn - 1) - y.tie_y2 AS DOUBLE))
                      * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS kendall_tau_b
    FROM ties t
    JOIN pairs p USING (event_type)
    JOIN tx x USING (event_type)
    JOIN ty y USING (event_type)
    """


@register("stats_kendall_tau_b", oracle=_kendall_oracle())
def stats_kendall_tau_b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b between event value (10 equal-width bins) and
    hour-of-day, per event type — the concordance-based association
    test completing the correlation trio (Pearson = linear, Spearman =
    monotonic-by-rank, Kendall = pairwise-concordance; tau-b's tie
    correction makes it the right one for coarsely-bucketed data).

    Concordant/discordant pair counts NEVER enumerate row pairs: the
    corpus collapses to a 10 x 24 contingency grid (value bin x hour)
    and the pair sums run over grid-cell pairs (bounded at 240^2)
    with exact int128 products; tie corrections come from the grid's
    margins. One final double expression (sqrt of exact integers,
    matching association) and a micro-unit quantization. The binning
    itself is pure integer arithmetic off broadcast min/max — no
    data-dependent float edges.
    """
    t = Tables(spark, sf_dir)
    from ..functions.exact import quantize

    q = t.events.select(
        "event_type",
        quantize(F.col("value"), 3).alias("v_m"),
        F.hour("ts").cast("long").alias("h"),
    )
    ext = q.groupBy("event_type").agg(
        F.min("v_m").alias("mn"), F.max("v_m").alias("mx")
    )
    vb = F.least(
        F.floor(
            ((F.col("v_m") - F.col("mn")) * KT_VBINS)
            / (F.col("mx") - F.col("mn") + 1)
        ).cast("long"),
        F.lit(KT_VBINS - 1).cast("long"),
    )
    cells = (
        q.join(F.broadcast(ext), "event_type")
        .select("event_type", vb.alias("vb"), "h")
        .groupBy("event_type", "vb", "h")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    b = cells.select(
        F.col("event_type").alias("et_b"),
        F.col("vb").alias("vb_b"),
        F.col("h").alias("h_b"),
        F.col("n").alias("n_b"),
    )
    pairs = (
        cells.join(b, F.col("et_b") == F.col("event_type"))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(
                    (F.col("vb_b") > F.col("vb")) & (F.col("h_b") > F.col("h")),
                    dec38(F.col("n")) * dec38(F.col("n_b")),
                ).otherwise(F.lit(0).cast("decimal(38,0)"))
            ).alias("c2"),
            F.sum(
                F.when(
                    (F.col("vb_b") > F.col("vb")) & (F.col("h_b") < F.col("h")),
                    dec38(F.col("n")) * dec38(F.col("n_b")),
                ).otherwise(F.lit(0).cast("decimal(38,0)"))
            ).alias("d2"),
        )
    )
    ties = cells.groupBy("event_type").agg(F.sum("n").alias("nn"))
    tx = (
        cells.groupBy("event_type", "vb")
        .agg(F.sum("n").alias("rn"))
        .groupBy("event_type")
        .agg(F.sum(dec38(F.col("rn")) * (dec38(F.col("rn")) - 1)).alias("tie_x2"))
    )
    ty = (
        cells.groupBy("event_type", "h")
        .agg(F.sum("n").alias("rn"))
        .groupBy("event_type")
        .agg(F.sum(dec38(F.col("rn")) * (dec38(F.col("rn")) - 1)).alias("tie_y2"))
    )
    nn = dec38(F.col("nn"))
    tau = (
        F.floor(
            (F.col("c2") - F.col("d2")).cast("double")
            / F.sqrt(
                (nn * (nn - 1) - F.col("tie_x2")).cast("double")
                * (nn * (nn - 1) - F.col("tie_y2")).cast("double")
            )
            * F.lit(1e6)
            + F.lit(0.5)
        ).cast("long")
        / F.lit(1e6)
    )
    return (
        ties.join(pairs, "event_type")
        .join(tx, "event_type")
        .join(ty, "event_type")
        .select("event_type", F.col("nn").alias("n_events"), tau.alias("kendall_tau_b"))
    )


# ---------------------------------------------------------------------------
# 16. Degree assortativity of the co-purchase graph
# ---------------------------------------------------------------------------


def _assortativity_oracle() -> str:
    from .graph import _SQL_EDGES

    return (
        _SQL_EDGES
        + """
    , deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS d
      FROM (SELECT u AS node FROM edges UNION ALL SELECT v FROM edges)
      GROUP BY node
    ), dir AS (
      SELECT du.d AS x, dv.d AS y
      FROM edges e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
      UNION ALL
      SELECT dv.d AS x, du.d AS y
      FROM edges e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
    ), s AS (
      SELECT CAST(count(*) AS HUGEINT) AS m,
             CAST(sum(x) AS HUGEINT) AS sx,
             sum(x::HUGEINT * x) AS sxx,
             sum(x::HUGEINT * y) AS sxy
      FROM dir
    )
    SELECT CAST(m AS BIGINT) AS n_directed_edges,
           CAST(floor(CAST(m * sxy - sx * sx AS DOUBLE)
                      / CAST(m * sxx - sx * sx AS DOUBLE)
                      * 1000000.0 + 0.5) AS BIGINT) / 1000000.0
             AS assortativity
    FROM s
    """
    )


@register("graph_degree_assortativity", oracle=_assortativity_oracle())
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity coefficient of the co-purchase graph — the
    Pearson correlation of endpoint degrees over the directed edge
    list (both orientations): do hubs link to hubs (assortative, r>0)
    or to leaves (disassortative, r<0)? The one-number structural
    summary complementing the degree histogram.

    By x/y symmetry over both orientations the sufficient statistics
    collapse to m, sum(d), sum(d^2), sum(du*dv) — exact int128/decimal
    sums off the session-cached edge table with the (broadcastable)
    degree table joined in; one final double ratio from identical
    integers. Scale: degree join + one partial-aggregated sum, no
    shuffle beyond the degree aggregation.
    """
    from ..functions.partitioning import gated_broadcast
    from .graph import _degrees, edge_table

    t = Tables(spark, sf_dir)
    edges = edge_table(spark, t, sf_dir)
    deg = _degrees(edges)
    du = deg.select(F.col("node").alias("u"), F.col("degree").alias("xd"))
    dv = deg.select(F.col("node").alias("v"), F.col("degree").alias("yd"))
    j = edges.join(gated_broadcast(du), "u").join(gated_broadcast(dv), "v")
    dirs = j.select(F.col("xd").alias("x"), F.col("yd").alias("y")).unionAll(
        j.select(F.col("yd").alias("x"), F.col("xd").alias("y"))
    )
    s = dirs.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("x").alias("sx"),
        F.sum(dec38(F.col("x")) * dec38(F.col("x"))).alias("sxx"),
        F.sum(dec38(F.col("x")) * dec38(F.col("y"))).alias("sxy"),
    )
    m = dec38(F.col("m"))
    sx = dec38(F.col("sx"))
    r = (
        F.floor(
            (m * F.col("sxy") - sx * sx).cast("double")
            / (m * F.col("sxx") - sx * sx).cast("double")
            * F.lit(1e6)
            + F.lit(0.5)
        ).cast("long")
        / F.lit(1e6)
    )
    return s.select(F.col("m").alias("n_directed_edges"), r.alias("assortativity"))


# ---------------------------------------------------------------------------
# 17. Holt linear-trend smoothing of the daily series
# ---------------------------------------------------------------------------

HOLT_ALPHA = 0.5    # exactly representable binary fractions: the
HOLT_BETA = 0.25    # smoothing recurrences stay bit-exact trivially


def _holt_oracle() -> str:
    return f"""
    WITH RECURSIVE daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
                  AS DOUBLE) AS y
      FROM events GROUP BY 1, 2
    ), idx AS (
      SELECT event_type, y,
             row_number() OVER (PARTITION BY event_type ORDER BY d) AS i,
             CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
      FROM daily
    ), rec AS (
      SELECT event_type, 1::BIGINT AS i, n, y AS level, 0.0::DOUBLE AS trend
      FROM idx WHERE i = 1
      UNION ALL
      SELECT r.event_type, r.i + 1, r.n,
             {HOLT_ALPHA!r} * x.y
               + {1.0 - HOLT_ALPHA!r} * (r.level + r.trend),
             {HOLT_BETA!r} * (({HOLT_ALPHA!r} * x.y
                               + {1.0 - HOLT_ALPHA!r} * (r.level + r.trend))
                              - r.level)
               + {1.0 - HOLT_BETA!r} * r.trend
      FROM rec r JOIN idx x ON x.event_type = r.event_type AND x.i = r.i + 1
    )
    SELECT event_type, n AS n_days,
           CAST(floor(level + 0.5) AS BIGINT) AS level_cents,
           CAST(floor(trend * 100.0 + 0.5) AS BIGINT) AS trend_cents_q2,
           CAST(floor((level + trend) + 0.5) AS BIGINT) AS forecast_cents
    FROM rec WHERE i = n
    """


@register("events_holt_linear_fit", oracle=_holt_oracle())
def events_holt_linear_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend exponential smoothing over the daily revenue
    series per event type — level + trend state after a full pass, and
    the one-step-ahead forecast: the classical operational forecast
    (EWMA tracks level only; this tracks drift too).

    The recurrence is inherently sequential, so it runs where
    sequential is FREE: the corpus collapses to the bounded
    |event_types| x |days| series, which collects into a per-type
    ordered array and folds once through a runtime higher-order
    aggregate (level', trend' per step). Smoothing constants are exact
    binary fractions (0.5, 0.25), every update is a correctly-rounded
    double chain identical on both engines (the DuckDB twin is a
    recursive CTE executing the same arithmetic), and outputs quantize
    to integer cents. No window over raw rows, no driver loop.
    """
    t = Tables(spark, sf_dir)
    daily = (
        t.events.select(
            "event_type",
            F.to_date("ts").alias("d"),
            F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
            .cast("long")
            .alias("c_row"),
        )
        .groupBy("event_type", "d")
        .agg(F.sum("c_row").cast("double").alias("y"))
    )
    series = daily.groupBy("event_type").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("d", "y"))), lambda s: s["y"]
        ).alias("ys")
    )
    ys = F.col("ys")
    a, b = HOLT_ALPHA, HOLT_BETA
    init = F.struct(
        F.element_at(ys, 1).alias("level"), F.lit(0.0).alias("trend")
    )

    def step(acc, y):
        new_level = F.lit(a) * y + F.lit(1.0 - a) * (acc["level"] + acc["trend"])
        new_trend = F.lit(b) * (new_level - acc["level"]) + F.lit(1.0 - b) * acc[
            "trend"
        ]
        return F.struct(new_level.alias("level"), new_trend.alias("trend"))

    fit = F.aggregate(F.slice(ys, 2, F.size(ys)), init, step)
    return series.select(
        "event_type",
        F.size(ys).cast("long").alias("n_days"),
        F.floor(fit["level"] + F.lit(0.5)).cast("long").alias("level_cents"),
        F.floor(fit["trend"] * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .alias("trend_cents_q2"),
        F.floor((fit["level"] + fit["trend"]) + F.lit(0.5))
        .cast("long")
        .alias("forecast_cents"),
    )


# ---------------------------------------------------------------------------
# 18. Poisson rate test between the two halves of the time range
# ---------------------------------------------------------------------------


def _poisson_oracle() -> str:
    return """
    WITH e AS (
      SELECT event_type, epoch_us(ts) AS us FROM events
    ), b AS (SELECT min(us) + max(us) AS lohi FROM e),
    k AS (
      SELECT event_type,
             CAST(sum(CASE WHEN us * 2 <= lohi THEN 1 ELSE 0 END) AS BIGINT) AS k1,
             CAST(sum(CASE WHEN us * 2 > lohi THEN 1 ELSE 0 END) AS BIGINT) AS k2
      FROM e CROSS JOIN b GROUP BY event_type
    )
    SELECT event_type, k1, k2,
           CASE WHEN k1 + k2 > 0 THEN
             CAST(floor(CAST(k1 - k2 AS DOUBLE)
                        / sqrt(CAST(k1 + k2 AS DOUBLE))
                        * 1000000.0 + 0.5) AS BIGINT) / 1000000.0
           END AS z_rate
    FROM k
    """


@register("events_poisson_rate_test", oracle=_poisson_oracle())
def events_poisson_rate_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson rate-change test per event type between the first and
    second half of the time range: under H0 (constant rate with equal
    exposure) k1 - k2 has variance k1 + k2, so z = (k1-k2)/sqrt(k1+k2)
    — the event-COUNT drift monitor beside dq_psi_value_drift's
    value-distribution drift (conditional-binomial normal
    approximation).

    One scan, one partial-aggregated conditional count per type, one
    correctly-rounded sqrt expression from exact integers.
    """
    t = Tables(spark, sf_dir)
    e = t.events.select("event_type", F.unix_micros(F.col("ts")).alias("us"))
    b = e.agg((F.min("us") + F.max("us")).alias("lohi"))
    k = (
        e.crossJoin(F.broadcast(b))
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("us") * 2 <= F.col("lohi"), 1).otherwise(0)).alias(
                "k1"
            ),
            F.sum(F.when(F.col("us") * 2 > F.col("lohi"), 1).otherwise(0)).alias(
                "k2"
            ),
        )
    )
    z = (
        F.floor(
            (F.col("k1") - F.col("k2")).cast("double")
            / F.sqrt((F.col("k1") + F.col("k2")).cast("double"))
            * F.lit(1e6)
            + F.lit(0.5)
        ).cast("long")
        / F.lit(1e6)
    )
    return k.select(
        "event_type",
        "k1",
        "k2",
        F.when(F.col("k1") + F.col("k2") > 0, z).alias("z_rate"),
    )
