"""Per-user engagement queries over the events stream: the weekly
cohort matrix, the retention-decay fit, the churn hazard by tenure,
DAU/MAU stickiness, RFM class transitions, activity Lorenz deciles and
the event-type audience Jaccard.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import dec38
from ..registry import register
from ..tables import Tables


# ---------------------------------------------------------------------------
# Weekly cohort retention triangle
# ---------------------------------------------------------------------------

COHORT_MAX_OFFSET = 7


def _cohort_oracle() -> str:
    from ..functions.exact import sql_round_int_ratio

    return f"""
    WITH uw AS (
      SELECT DISTINCT user_id, date_trunc('week', ts)::DATE AS week
      FROM events
    ), fw AS (
      SELECT user_id, min(week) AS cohort FROM uw GROUP BY user_id
    ), act AS (
      SELECT f.cohort,
             CAST(datediff('day', f.cohort, u.week) // 7 AS BIGINT) AS week_offset,
             CAST(count(*) AS BIGINT) AS n_active
      FROM uw u JOIN fw f USING (user_id)
      WHERE datediff('day', f.cohort, u.week) // 7 <= {COHORT_MAX_OFFSET}
      GROUP BY 1, 2
    ), sizes AS (
      SELECT cohort, CAST(count(*) AS BIGINT) AS cohort_size
      FROM fw GROUP BY cohort
    )
    SELECT strftime(a.cohort, '%Y-%m-%d') AS cohort_week, a.week_offset, a.n_active, s.cohort_size,
           {sql_round_int_ratio('a.n_active', 's.cohort_size')} AS retention
    FROM act a JOIN sizes s USING (cohort)
    """


@register("events_cohort_retention_matrix", oracle=_cohort_oracle())
def events_cohort_retention_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention triangle: users bucketed by
    first-active ISO week, then for each (cohort, week-offset <= 7)
    the count and share still active — THE product-analytics retention
    artifact (``events_dau_mau_stickiness`` is its one-number summary,
    ``events_retention_decay_fit`` fits its decay; this is the matrix
    both derive from).

    One user-keyed shuffle produces both the distinct user-weeks and
    each user's cohort (min week); the (cohort, offset) aggregate is
    calendar-bounded (weeks x 8 offsets, independent of row count).
    Week arithmetic is exact integer day-diffs over Monday-start
    date_trunc weeks — identical convention both engines.
    """
    from ..functions.exact import round_int_ratio

    t = Tables(spark, sf_dir)
    uw = t.events.select(
        "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("week")
    ).distinct()
    fw = uw.groupBy("user_id").agg(F.min("week").alias("cohort"))
    off = (F.datediff(F.col("week"), F.col("cohort")) / 7).cast("long")
    act = (
        uw.join(fw, "user_id")
        .select("cohort", off.alias("week_offset"))
        .filter(F.col("week_offset") <= COHORT_MAX_OFFSET)
        .groupBy("cohort", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    sizes = fw.groupBy("cohort").agg(F.count(F.lit(1)).alias("cohort_size"))
    return act.join(sizes, "cohort").select(
        F.date_format(F.col("cohort"), "yyyy-MM-dd").alias("cohort_week"),
        "week_offset",
        "n_active",
        "cohort_size",
        round_int_ratio(F.col("n_active"), F.col("cohort_size")).alias("retention"),
    )


# ---------------------------------------------------------------------------
# Pooled retention-decay fit (exponential half-life)
# ---------------------------------------------------------------------------

LN2_U9 = 693_147_181  # round(ln 2 * 1e9), the half-life literal


def _retention_decay_oracle() -> str:
    from ..functions.detmath import sql_det_ln_steps
    from ..functions.exact import sql_round_int_ratio

    return f"""
    WITH firsts AS (
      SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
      FROM events GROUP BY user_id
    ), maxw AS (
      SELECT max(date_trunc('week', ts)) AS max_week FROM events
    ), activity AS (
      SELECT DISTINCT e.user_id, f.cohort_week,
             CAST(datediff('day', f.cohort_week, date_trunc('week', e.ts)) / 7
               AS BIGINT) AS w
      FROM events e JOIN firsts f ON e.user_id = f.user_id
    ), obs AS (
      SELECT a.w,
             CAST(count(*) AS BIGINT) AS act_w,
             (SELECT CAST(count(*) AS BIGINT) FROM activity a0, maxw
              WHERE a0.w = 0
                AND datediff('day', a0.cohort_week, maxw.max_week) / 7 >= a.w)
               AS base_w
      FROM activity a, maxw
      WHERE a.w >= 1 AND datediff('day', a.cohort_week, maxw.max_week) / 7 >= a.w
      GROUP BY a.w
    ), r AS (
      SELECT w, act_w, base_w,
             CAST(act_w AS DOUBLE) / CAST(base_w AS DOUBLE) AS ratio
      FROM obs WHERE act_w > 0 AND base_w > 0
    ), {sql_det_ln_steps('r', 'ratio', 'y_u', 9)},
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(w) AS BIGINT) AS sw,
             CAST(sum(w * w) AS BIGINT) AS sww,
             CAST(sum(y_u) AS BIGINT) AS sy,
             CAST(sum(w * y_u) AS BIGINT) AS swy
      FROM y_u_rel
    ), fit AS (
      SELECT n,
             n * swy - sw * sy AS num,
             n * sww - sw * sw AS den,
             sy, sw
      FROM s WHERE n >= 2 AND n * sww - sw * sw > 0
    )
    SELECT n AS n_weeks,
           CAST(CASE WHEN num < 0
                THEN -((2 * (-num) + den) // (2 * den))
                ELSE (2 * num + den) // (2 * den) END AS BIGINT)
             / 1000000000.0 AS slope_ln_per_week,
           CAST(CASE WHEN sy * den - num * sw < 0
                THEN -((2 * (-(sy::HUGEINT * den - num::HUGEINT * sw)) + n::HUGEINT * den)
                       // (2::HUGEINT * n * den))
                ELSE (2 * (sy::HUGEINT * den - num::HUGEINT * sw) + n::HUGEINT * den)
                       // (2::HUGEINT * n * den) END AS BIGINT)
             / 1000000000.0 AS intercept_ln,
           CASE WHEN num < 0 THEN
             {sql_round_int_ratio(f'{LN2_U9}::BIGINT * den', '(-num)')}
           END AS half_life_weeks
    FROM fit
    """


@register("events_retention_decay_fit", oracle=_retention_decay_oracle())
def events_retention_decay_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential decay fit of the pooled weekly retention curve:
    ln(r_w) regressed on week offset w (observable-triangle-corrected
    — a cohort only contributes to offsets its age covers), reporting
    slope, intercept and the implied half-life ln2/(-slope) — turning
    the retention TABLE (``events_weekly_retention``) into the 2-
    parameter summary growth teams actually quote.

    r_w = active(w)/eligible-cohort-size is one correctly-rounded
    double divide of exact counts, ln is det-ln quantized 1e-9, and
    the OLS closed form runs in exact integer arithmetic over the
    calendar-bounded week domain; slope/intercept/half-life are exact
    half-up ratios (half-life only when the slope is negative).
    """
    from ..functions.detmath import det_ln_q
    from ..functions.exact import round_int_ratio

    t = Tables(spark, sf_dir)
    firsts = t.events.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    maxw = t.events.agg(F.date_trunc("week", F.max("ts")).alias("max_week"))
    activity = (
        t.events.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (
                F.datediff(F.date_trunc("week", F.col("ts")), F.col("cohort_week"))
                / 7
            )
            .cast("long")
            .alias("w"),
        )
        .distinct()
    )
    act = activity.crossJoin(F.broadcast(maxw)).withColumn(
        "age_w",
        (F.datediff(F.col("max_week"), F.col("cohort_week")) / 7).cast("long"),
    )
    obs = (
        act.filter((F.col("w") >= 1) & (F.col("age_w") >= F.col("w")))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("act_w"))
    )
    base = act.filter(F.col("w") == 0).select("cohort_week", "age_w")
    # eligible cohort size per offset: cohorts old enough to observe w
    base_per_w = obs.select("w", "act_w").join(
        base.select(F.col("age_w").alias("base_age")), F.col("base_age") >= F.col("w")
    ).groupBy("w", "act_w").agg(F.count(F.lit(1)).alias("base_w"))
    r = base_per_w.filter((F.col("act_w") > 0) & (F.col("base_w") > 0)).select(
        "w",
        (F.col("act_w").cast("double") / F.col("base_w").cast("double")).alias("ratio"),
    )
    y = r.select("w", det_ln_q(F.col("ratio"), 9).alias("y_u"))
    s = y.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("w").alias("sw"),
        F.sum(F.col("w") * F.col("w")).alias("sww"),
        F.sum("y_u").alias("sy"),
        F.sum(F.col("w") * F.col("y_u")).alias("swy"),
    )
    num = F.col("n") * F.col("swy") - F.col("sw") * F.col("sy")
    den = F.col("n") * F.col("sww") - F.col("sw") * F.col("sw")
    fit = s.filter((F.col("n") >= 2) & (den > 0)).select(
        F.col("n").alias("n_weeks"), num.alias("num"), den.alias("den"), "sy", "sw"
    )

    def hup_signed(numc, denc):
        mag = ((2 * F.abs(numc) + denc) - (2 * F.abs(numc) + denc) % (2 * denc)) / (
            2 * denc
        )
        return F.when(numc < 0, -mag.cast("long")).otherwise(mag.cast("long"))

    i_num = dec38(F.col("sy")) * F.col("den") - dec38(F.col("num")) * F.col("sw")
    i_den = dec38(F.col("n_weeks")) * F.col("den")
    i_a = F.lit(2).cast("decimal(38,0)") * F.abs(i_num) + i_den
    i_mag = ((i_a - i_a % (F.lit(2).cast("decimal(38,0)") * i_den)) / (
        F.lit(2).cast("decimal(38,0)") * i_den
    )).cast("long")
    return fit.select(
        "n_weeks",
        (hup_signed(F.col("num"), F.col("den")) / F.lit(1e9)).alias(
            "slope_ln_per_week"
        ),
        (F.when(i_num < 0, -i_mag).otherwise(i_mag) / F.lit(1e9)).alias("intercept_ln"),
        F.when(
            F.col("num") < 0,
            round_int_ratio(F.lit(LN2_U9) * F.col("den"), -F.col("num")),
        ).alias("half_life_weeks"),
    )


# ---------------------------------------------------------------------------
# Discrete churn hazard by tenure week
# ---------------------------------------------------------------------------

HAZARD_MAX_W = 12


def _hazard_oracle() -> str:
    from ..functions.exact import sql_round_int_ratio

    return f"""
    WITH u AS (
      SELECT user_id,
             date_trunc('week', min(ts)) AS first_w,
             date_trunc('week', max(ts)) AS last_w
      FROM events GROUP BY user_id
    ), mx AS (SELECT date_trunc('week', max(ts)) AS max_w FROM events),
    ua AS (
      SELECT CAST(date_diff('week', first_w, last_w) AS BIGINT) AS tenure,
             CAST(date_diff('week', first_w, max_w) AS BIGINT) AS age
      FROM u, mx
    ), ws AS (SELECT CAST(unnest(range(0, {HAZARD_MAX_W + 1})) AS BIGINT) AS w),
    cells AS (
      SELECT ws.w,
             CAST(sum(CASE WHEN ua.age >= ws.w AND ua.tenure >= ws.w
                           THEN 1 ELSE 0 END) AS BIGINT) AS at_risk,
             CAST(sum(CASE WHEN ua.tenure = ws.w AND ua.age > ws.w
                           THEN 1 ELSE 0 END) AS BIGINT) AS churned
      FROM ws, ua GROUP BY ws.w
    )
    SELECT w, at_risk, churned,
           CASE WHEN at_risk > 0 THEN
             {sql_round_int_ratio('churned', 'at_risk')}
           END AS hazard
    FROM cells ORDER BY w
    """


@register("events_churn_hazard_by_tenure", oracle=_hazard_oracle())
def events_churn_hazard_by_tenure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete churn hazard by tenure week: h(w) = users last seen
    exactly w weeks after their first activity (with enough
    subsequent observation time to call it churn, not censoring)
    over users still at risk at week w — the DERIVATIVE view of the
    survival family (``stats_km_log_survival`` integrates survival;
    ``events_retention_decay_fit`` fits its envelope; the hazard
    curve is where "week-2 cliff" product decisions are read off).

    The censoring rule is the observable-triangle discipline the
    retention fit uses: a user only counts as churned at w if their
    first-activity cohort is old enough (age > w) to have shown a
    later event. One user-level min/max aggregate; the per-week
    counts are a 13-row broadcast non-equi probe of the user table
    (conditional partial aggregation, no sort); hazards are exact
    half-up ratios.
    """
    from ..functions.exact import round_int_ratio

    t = Tables(spark, sf_dir)
    u = t.events.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("first_w"),
        F.date_trunc("week", F.max("ts")).alias("last_w"),
    )
    mx = t.events.agg(F.date_trunc("week", F.max("ts")).alias("max_w"))
    ua = u.crossJoin(F.broadcast(mx)).select(
        (F.datediff(F.col("last_w"), F.col("first_w")) / 7).cast("long").alias(
            "tenure"
        ),
        (F.datediff(F.col("max_w"), F.col("first_w")) / 7).cast("long").alias("age"),
    )
    ws = spark.range(HAZARD_MAX_W + 1).select(F.col("id").alias("w"))
    cells = (
        ua.crossJoin(F.broadcast(ws))
        .groupBy("w")
        .agg(
            F.sum(
                F.when((F.col("age") >= F.col("w")) & (F.col("tenure") >= F.col("w")), 1)
                .otherwise(0)
            ).alias("at_risk"),
            F.sum(
                F.when((F.col("tenure") == F.col("w")) & (F.col("age") > F.col("w")), 1)
                .otherwise(0)
            ).alias("churned"),
        )
    )
    return cells.select(
        "w",
        "at_risk",
        "churned",
        F.when(
            F.col("at_risk") > 0,
            round_int_ratio(F.col("churned"), F.col("at_risk")),
        ).alias("hazard"),
    )


# ---------------------------------------------------------------------------
# DAU/MAU stickiness per month
# ---------------------------------------------------------------------------


def _stickiness_oracle() -> str:
    from ..functions.exact import sql_round_int_ratio

    return f"""
    WITH daily AS (
      SELECT strftime(CAST(ts AS DATE), '%Y-%m') AS month,
             CAST(ts AS DATE) AS day,
             CAST(count(DISTINCT user_id) AS BIGINT) AS dau
      FROM events GROUP BY 1, 2
    ), monthly AS (
      SELECT strftime(CAST(ts AS DATE), '%Y-%m') AS month,
             CAST(count(DISTINCT user_id) AS BIGINT) AS mau
      FROM events GROUP BY 1
    ), d AS (
      SELECT month, CAST(sum(dau) AS BIGINT) AS sum_dau,
             CAST(count(*) AS BIGINT) AS n_days
      FROM daily GROUP BY month
    )
    SELECT d.month, d.n_days, d.sum_dau, m.mau,
           {sql_round_int_ratio('d.sum_dau', 'd.n_days * m.mau')} AS stickiness
    FROM d JOIN monthly m ON m.month = d.month
    ORDER BY d.month
    """


@register("events_dau_mau_stickiness", oracle=_stickiness_oracle())
def events_dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per calendar month: mean daily active users
    over monthly active users — the standard product-engagement ratio
    (1.0 = every monthly user active every day), computed as
    sum(DAU)/(active_days * MAU) so it is ONE exact integer ratio.
    Completes the engagement family (rolling actives, weekly
    retention, cumulative distinct) with the canonical headline
    metric.

    Two distinct-aggregations (day grain, month grain) — both shuffle
    on (period, user) with map-side partial dedup — joined on the
    |months|-bounded key; the ratio is exact half-up 6dp.
    """
    from ..functions.exact import round_int_ratio

    t = Tables(spark, sf_dir)
    month = F.date_format(F.col("ts"), "yyyy-MM").alias("month")
    daily = t.events.groupBy(month, F.to_date("ts").alias("day")).agg(
        F.countDistinct("user_id").alias("dau")
    )
    monthly = t.events.groupBy(month).agg(F.countDistinct("user_id").alias("mau"))
    d = daily.groupBy("month").agg(
        F.sum("dau").alias("sum_dau"), F.count(F.lit(1)).alias("n_days")
    )
    return (
        d.join(monthly, "month")
        .select(
            "month",
            "n_days",
            "sum_dau",
            "mau",
            round_int_ratio(F.col("sum_dau"), F.col("n_days") * F.col("mau")).alias(
                "stickiness"
            ),
        )
        .orderBy("month")
    )


# ---------------------------------------------------------------------------
# Engagement-class transition matrix across history halves
# ---------------------------------------------------------------------------

RFM_MID_MIN = 30
RFM_HIGH_MIN = 38


def _rfm_class_sql(col: str) -> str:
    return (
        f"CASE WHEN {col} >= {RFM_HIGH_MIN} THEN 'high' "
        f"WHEN {col} >= {RFM_MID_MIN} THEN 'mid' "
        f"WHEN {col} >= 1 THEN 'low' ELSE 'gone' END"
    )


def _rfm_transition_oracle() -> str:
    from ..functions.exact import sql_round_int_ratio

    return f"""
    WITH bounds AS (
      SELECT (epoch_us(min(ts)) + epoch_us(max(ts))) // 2 AS cut_us FROM events
    ), per AS (
      SELECT e.user_id,
             CAST(sum(CASE WHEN epoch_us(e.ts) < b.cut_us THEN 1 ELSE 0 END)
                  AS BIGINT) AS n1,
             CAST(sum(CASE WHEN epoch_us(e.ts) >= b.cut_us THEN 1 ELSE 0 END)
                  AS BIGINT) AS n2
      FROM events e, bounds b
      GROUP BY e.user_id
    ), classed AS (
      SELECT {_rfm_class_sql('n1')} AS class_from,
             {_rfm_class_sql('n2')} AS class_to
      FROM per WHERE n1 >= 1
    ), cells AS (
      SELECT class_from, class_to, CAST(count(*) AS BIGINT) AS n_users
      FROM classed GROUP BY 1, 2
    ), rowtot AS (
      SELECT class_from, CAST(sum(n_users) AS BIGINT) AS n_from
      FROM cells GROUP BY class_from
    )
    SELECT c.class_from, c.class_to, c.n_users, r.n_from,
           {sql_round_int_ratio('c.n_users', 'r.n_from')} AS share
    FROM cells c JOIN rowtot r USING (class_from)
    ORDER BY c.class_from, c.class_to
    """


@register("events_rfm_transition_matrix", oracle=_rfm_transition_oracle())
def events_rfm_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engagement-class transition matrix: users classed by activity
    volume (low 1-29 / mid 30-37 / high 38+ events — the terciles of
    the fixture's stable ~33-events-per-half-window activity) in the FIRST half of
    the observed window, cross-tabulated against their class in the
    second half ('gone' = zero events) — the Markov view of
    engagement the RFM segmentation snapshot
    (``stats_rfm_segmentation``) cannot show: WHERE users move, not
    just where they sit; the share column per source class is the
    empirical transition kernel that churn/upsell models consume.

    The window midpoint is exact integer microsecond arithmetic from
    one global min/max aggregate (broadcast back); both half-counts
    come from ONE user-keyed aggregate with conditional sums (no
    second scan, no window); the matrix is a <= 4x4 final aggregate
    and the shares exact half-up ratios.
    """
    from ..functions.exact import round_int_ratio

    t = Tables(spark, sf_dir)
    bounds = t.events.agg(
        F.expr("(unix_micros(min(ts)) + unix_micros(max(ts))) div 2").alias("cut_us")
    )
    per = (
        t.events.select("user_id", F.unix_micros(F.col("ts")).alias("us"))
        .crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("us") < F.col("cut_us"), 1).otherwise(0)).alias("n1"),
            F.sum(F.when(F.col("us") >= F.col("cut_us"), 1).otherwise(0)).alias("n2"),
        )
    )

    def cls(col):
        return (
            F.when(F.col(col) >= RFM_HIGH_MIN, "high")
            .when(F.col(col) >= RFM_MID_MIN, "mid")
            .when(F.col(col) >= 1, "low")
            .otherwise("gone")
        )

    classed = per.filter(F.col("n1") >= 1).select(
        cls("n1").alias("class_from"), cls("n2").alias("class_to")
    )
    cells = classed.groupBy("class_from", "class_to").agg(
        F.count(F.lit(1)).alias("n_users")
    )
    rowtot = cells.groupBy("class_from").agg(F.sum("n_users").alias("n_from"))
    return cells.join(F.broadcast(rowtot), "class_from").select(
        "class_from",
        "class_to",
        "n_users",
        "n_from",
        round_int_ratio(F.col("n_users"), F.col("n_from")).alias("share"),
    )


# ---------------------------------------------------------------------------
# Lorenz deciles of per-user event activity
# ---------------------------------------------------------------------------


def _lorenz_oracle() -> str:
    from ..functions.exact import sql_round_big_int_ratio

    return f"""
    WITH freq AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS c FROM events GROUP BY user_id
    ), coc AS (
      SELECT c, CAST(count(*) AS BIGINT) AS nu FROM freq GROUP BY c
    ), cum AS (
      SELECT a.c, a.nu,
             CAST(sum(b.nu) AS BIGINT) AS cu,
             CAST(sum(b.nu::HUGEINT * b.c) AS HUGEINT) AS ce
      FROM coc a JOIN coc b ON b.c < a.c OR (b.c = a.c)
      GROUP BY a.c, a.nu
    ), tot AS (
      SELECT CAST(sum(nu) AS BIGINT) AS u,
             CAST(sum(nu::HUGEINT * c) AS HUGEINT) AS e
      FROM coc
    ), dec AS (SELECT CAST(unnest(range(1, 11)) AS BIGINT) AS decile),
    per AS (
      SELECT d.decile,
             ((d.decile - 1) * t.u) // 10 AS lo,
             (d.decile * t.u) // 10 AS hi,
             t.u, t.e
      FROM dec d, tot t
    ), ev AS (
      SELECT p.decile, p.hi, p.lo, p.e,
             CAST(sum(greatest(0, least(c.cu, p.hi) - greatest(c.cu - c.nu, p.lo))
                      ::HUGEINT * c.c) AS HUGEINT) AS events_d,
             CAST(sum(greatest(0, least(c.cu, p.hi) - (c.cu - c.nu))
                      ::HUGEINT * c.c) AS HUGEINT) AS events_cum
      FROM per p, cum c
      GROUP BY p.decile, p.hi, p.lo, p.e
    )
    SELECT decile, CAST(hi - lo AS BIGINT) AS n_users,
           CASE WHEN e > 0 THEN
             {sql_round_big_int_ratio('events_d', 'e')}
           END AS events_share,
           CASE WHEN e > 0 THEN
             {sql_round_big_int_ratio('events_cum', 'e')}
           END AS cum_share
    FROM ev ORDER BY decile
    """


@register("events_user_activity_lorenz_deciles", oracle=_lorenz_oracle())
def events_user_activity_lorenz_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve of user activity in exact deciles: users ranked
    ascending by event count, split at exact nearest-rank decile
    boundaries (tie groups SPLIT exactly — users within a tie group
    are exchangeable, so the split is well-defined integer
    arithmetic), each decile reporting its share and running share of
    all events — the user-concentration artifact behind "the top 10%
    of users generate X% of activity", the per-user sibling of
    ``stats_gini_by_nation``'s revenue curve.

    The decile machinery never ranks raw users: everything runs over
    the COUNT-OF-COUNTS table (distinct activity levels — the
    diag_key_skew_profile domain, ~sqrt(N) under Zipf), cumulated by
    a broadcast non-equi self-join and intersected with the 10
    boundary intervals by clamped integer overlap. No window, no
    global sort, 10 output rows.
    """
    from ..functions.exact import round_big_int_ratio

    t = Tables(spark, sf_dir)
    freq = t.events.groupBy("user_id").agg(F.count(F.lit(1)).alias("c"))
    coc = freq.groupBy("c").agg(F.count(F.lit(1)).alias("nu"))
    c2 = coc.select(F.col("c").alias("c2"), F.col("nu").alias("nu2"))
    cum = (
        coc.join(F.broadcast(c2), F.col("c2") <= F.col("c"))
        .groupBy("c", "nu")
        .agg(
            F.sum("nu2").alias("cu"),
            F.sum(dec38(F.col("nu2")) * F.col("c2")).alias("ce"),
        )
    )
    tot = coc.agg(
        F.sum("nu").alias("u"), F.sum(dec38(F.col("nu")) * F.col("c")).alias("e")
    )
    dec = spark.range(1, 11).select(F.col("id").alias("decile"))
    per = dec.crossJoin(F.broadcast(tot)).select(
        "decile",
        F.expr("((decile - 1) * u) div 10").alias("lo"),
        F.expr("(decile * u) div 10").alias("hi"),
        "u",
        "e",
    )
    ov = F.greatest(
        F.lit(0).cast("long"),
        F.least(F.col("cu"), F.col("hi")) - F.greatest(F.col("cu") - F.col("nu"), F.col("lo")),
    )
    ov_cum = F.greatest(
        F.lit(0).cast("long"),
        F.least(F.col("cu"), F.col("hi")) - (F.col("cu") - F.col("nu")),
    )
    ev = (
        per.crossJoin(F.broadcast(cum))
        .groupBy("decile", "hi", "lo", "e")
        .agg(
            F.sum(dec38(ov) * F.col("c")).alias("events_d"),
            F.sum(dec38(ov_cum) * F.col("c")).alias("events_cum"),
        )
    )
    return ev.select(
        "decile",
        (F.col("hi") - F.col("lo")).cast("long").alias("n_users"),
        F.when(
            F.col("e") > 0, round_big_int_ratio(F.col("events_d"), F.col("e"))
        ).alias("events_share"),
        F.when(
            F.col("e") > 0, round_big_int_ratio(F.col("events_cum"), F.col("e"))
        ).alias("cum_share"),
    )


# ---------------------------------------------------------------------------
# Audience-overlap Jaccard between event-type pairs
# ---------------------------------------------------------------------------


def _audience_oracle() -> str:
    from ..functions.exact import sql_round_int_ratio

    return f"""
    WITH ut AS (
      SELECT DISTINCT user_id, event_type FROM events
    ), sizes AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM ut GROUP BY 1
    ), inter AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(count(*) AS BIGINT) AS n_inter
      FROM ut a JOIN ut b
        ON b.user_id = a.user_id AND b.event_type > a.event_type
      GROUP BY 1, 2
    )
    SELECT i.type_a, i.type_b, sa.n AS users_a, sb.n AS users_b,
           i.n_inter, sa.n + sb.n - i.n_inter AS n_union,
           {sql_round_int_ratio('i.n_inter', 'sa.n + sb.n - i.n_inter')}
             AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.event_type = i.type_a
    JOIN sizes sb ON sb.event_type = i.type_b
    """


@register("events_type_audience_jaccard", oracle=_audience_oracle())
def events_type_audience_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap Jaccard between every pair of event types:
    |users doing both| / |users doing either| — the product-analytics
    segmentation primitive ("are purchasers a subset of clickers, or
    a different crowd?") that the funnel/attribution queries assume
    but never measure. Pairs with zero shared users drop out (no row),
    identically on both engines.

    Scale shape: the fact scan first collapses to DISTINCT (user,
    type) — a hash aggregate bounded by users × 5 — then the
    intersection is a user-keyed equi self-join whose per-user fan-out
    is ≤ C(5,2) = 10 rows BY MECHANISM (type-pair grid, never
    user-pair); sizes join back on the ≤ 5-row type table. Jaccard is
    one exact round_int_ratio.
    """
    from ..functions.exact import round_int_ratio

    t = Tables(spark, sf_dir)
    ut = t.events.select("user_id", "event_type").distinct()
    sizes = ut.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select(F.col("user_id").alias("uid_b"), F.col("event_type").alias("type_b"))
    inter = (
        a.join(
            b,
            (F.col("uid_b") == F.col("user_id"))
            & (F.col("type_b") > F.col("type_a")),
        )
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("event_type").alias("type_a"), F.col("n").alias("users_a"))
    sb = sizes.select(F.col("event_type").alias("type_b"), F.col("n").alias("users_b"))
    j = inter.join(F.broadcast(sa), "type_a").join(F.broadcast(sb), "type_b")
    uni = F.col("users_a") + F.col("users_b") - F.col("n_inter")
    return j.select(
        "type_a",
        "type_b",
        "users_a",
        "users_b",
        "n_inter",
        uni.alias("n_union"),
        round_int_ratio(F.col("n_inter"), uni).alias("jaccard"),
    )
