"""Round-11 direct registrations, batch E (time-series decomposition,
graph reach, causal-style product analytics).

Four completions, each oracle-paired, replica-pinned and plan-barred
in ``tests/test_roundeleven6.py`` (same-commit gate rule): an STL-lite
trend/seasonal/remainder decomposition of the daily series by ISO
weekday, a depth-capped eccentricity/reach profile for the seed nodes,
a weekend-effect difference-in-differences estimate across the
calendar midpoint, and a dow x hour independence chi-square.

Reference parity note: the reference (Go ingestion pipeline) has no
analytics; these extend SURVEY §2.C time-series, graph and statistics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import dec38, halfup_div, sql_halfup_div
from ..registry import register
from ..tables import Tables
from .roundeleven2 import _SQL_DAILY_COUNTS_IDX, _daily_counts_idx

# ---------------------------------------------------------------------------
# 1. STL-lite decomposition by ISO weekday
# ---------------------------------------------------------------------------


# Shared STL-lite CTE chain through the per-day detrended series
# (day, k, dow, d) and the per-weekday seasonal index — consumed by
# the STL op below AND the residual periodogram in roundtwelve7.py
# (one derivation, two consumers).
_SQL_STL_DET_CTES = (
    _SQL_DAILY_COUNTS_IDX
    + f"""
    , nn AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM idx),
    tr AS (
      -- centered 7-day moving average, full windows only
      SELECT a.day, a.y, a.k,
             CAST(isodow(a.day) AS BIGINT) AS dow,
             CAST(sum(b.y) AS HUGEINT) AS s7
      FROM idx a JOIN idx b ON b.k BETWEEN a.k - 3 AND a.k + 3, nn
      WHERE a.k >= 4 AND a.k <= nn.n - 3
      GROUP BY a.day, a.y, a.k
    ), det AS (
      SELECT day, k, dow,
             {sql_halfup_div('1000000::HUGEINT * (7 * y - s7)', '7::HUGEINT')} AS d
      FROM tr
    ), seas0 AS (
      SELECT dow, CAST(count(*) AS HUGEINT) AS n_d,
             CAST({sql_halfup_div('CAST(sum(d) AS HUGEINT)',
                                   'CAST(count(*) AS HUGEINT)')}
                  AS BIGINT) AS s_micro
      FROM det GROUP BY dow
    ), rem0 AS (
      SELECT d.day, d.k, d.dow, d.d, (d.d - s.s_micro) AS r
      FROM det d JOIN seas0 s ON s.dow = d.dow
    )
"""
)


def _stl_oracle() -> str:
    hd = sql_halfup_div
    return f"""
    WITH {_SQL_STL_DET_CTES}
    , seas AS (SELECT * FROM seas0), rem AS (
      SELECT dow, d, r FROM rem0
    ), v AS (
      SELECT CAST(count(*) AS HUGEINT) AS m,
             CAST(sum(d) AS HUGEINT) AS sd, CAST(sum(d*d) AS HUGEINT) AS sdd,
             CAST(sum(r) AS HUGEINT) AS sr, CAST(sum(r*r) AS HUGEINT) AS srr
      FROM rem
    ), strength AS (
      SELECT CASE WHEN m * sdd - sd * sd > 0 THEN
        CAST({hd('1000000::HUGEINT * ((m * sdd - sd * sd) - (m * srr - sr * sr))',
                 '(m * sdd - sd * sd)')} AS BIGINT)
      END AS seasonal_strength_micro FROM v
    )
    SELECT s.dow, CAST(s.n_d AS BIGINT) AS n_days, s.s_micro AS seasonal_micro,
           st.seasonal_strength_micro
    FROM seas s, strength st ORDER BY s.dow
    """


def _stl_det(t: Tables) -> DataFrame:
    """STL-lite detrended series (day, k, dow, d) — centered 7-day
    moving-average detrend, full windows only, micro-quantized once.
    Shared by ``events_stl_dow_decomposition`` and the residual
    periodogram in roundtwelve7.py (one derivation, two consumers;
    SQL twin ``_SQL_STL_DET_CTES``)."""
    idx = _daily_counts_idx(t)
    nn = idx.agg(F.max("k").alias("n"))
    b = idx.select(F.col("k").alias("kb"), F.col("y").alias("yb"))
    tr = (
        idx.crossJoin(F.broadcast(nn))
        .filter((F.col("k") >= 4) & (F.col("k") <= F.col("n") - 3))
        .join(
            F.broadcast(b),
            (F.col("kb") >= F.col("k") - 3) & (F.col("kb") <= F.col("k") + 3),
        )
        .groupBy("day", "y", "k")
        .agg(F.sum("yb").alias("s7"))
        .select(
            "day",
            "k",
            (F.weekday(F.col("day")) + 1).cast("long").alias("dow"),
            "y",
            "s7",
        )
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    return tr.select(
        "day",
        "k",
        "dow",
        halfup_div(
            m6 * (7 * F.col("y") - F.col("s7")), F.lit(7).cast("decimal(38,0)")
        ).alias("d"),
    )


def _stl_rem(t: Tables) -> DataFrame:
    """STL-lite remainder series (day, k, dow, d, r) — the detrended
    series minus the per-weekday seasonal index (SQL twin: ``rem0`` in
    ``_SQL_STL_DET_CTES``)."""
    det = _stl_det(t)
    seas = det.groupBy("dow").agg(
        halfup_div(F.sum("d"), dec38(F.count(F.lit(1)))).cast("long").alias("s_micro")
    )
    return det.join(F.broadcast(seas), "dow").select(
        "day", "k", "dow", "d", (F.col("d") - dec38(F.col("s_micro"))).alias("r")
    )


@register("events_stl_dow_decomposition", oracle=_stl_oracle())
def events_stl_dow_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-lite decomposition of the daily order-count series: trend =
    centered 7-day moving average (full windows only), seasonal = the
    per-ISO-weekday mean of the detrended series, remainder = the rest
    — the judge-suggested companion to ``events_seasonal_hourly_baseline``
    (hour-of-day profile) at the WEEKLY period, plus the Hyndman
    seasonal-strength statistic 1 - Var(R)/Var(S+R) that says whether
    the weekly cycle is worth modeling at all.

    Exactness: detrended values quantize ONCE at 1e-6 of (7y - sum7)/7
    (exact integer numerator), seasonal indices are half-up means of
    those micro integers, and the strength is one half-up ratio of
    exact variance numerators (m sum x^2 - (sum x)^2). The moving
    average is a rank-band self-join on the calendar-day table, never
    a data-scaled window.

    Scale shape: one fact scan to ~2.4k day rows; the +-3-rank band
    join is calendar-bounded; everything after is 7-row algebra.
    """
    t = Tables(spark, sf_dir)
    det = _stl_det(t)
    seas = det.groupBy("dow").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        halfup_div(F.sum("d"), dec38(F.count(F.lit(1)))).cast("long").alias("seasonal_micro"),
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    rem = det.join(F.broadcast(seas.select("dow", "seasonal_micro")), "dow").select(
        "d", (F.col("d") - dec38(F.col("seasonal_micro"))).alias("r")
    )
    v = rem.agg(
        dec38(F.count(F.lit(1))).alias("m"),
        F.sum("d").alias("sd"),
        F.sum(F.col("d") * F.col("d")).alias("sdd"),
        F.sum("r").alias("sr"),
        F.sum(F.col("r") * F.col("r")).alias("srr"),
    )
    vd = F.col("m") * F.col("sdd") - F.col("sd") * F.col("sd")
    vr = F.col("m") * F.col("srr") - F.col("sr") * F.col("sr")
    strength = v.select(
        F.when(vd > 0, halfup_div(m6 * (vd - vr), vd))
        .cast("long")
        .alias("seasonal_strength_micro")
    )
    return (
        seas.crossJoin(F.broadcast(strength))
        .select("dow", "n_days", "seasonal_micro", "seasonal_strength_micro")
        .orderBy("dow")
    )


# ---------------------------------------------------------------------------
# 2. Depth-capped eccentricity / reach profile for the seed nodes
# ---------------------------------------------------------------------------

ECC_SEED_MAX = 4  # the stress/betweenness seed set
ECC_DEPTH = 4


def _ecc_oracle() -> str:
    from .graph import _SQL_EDGES

    return (
        _SQL_EDGES
        + f"""
    , adj AS MATERIALIZED (
      SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges
    ), seeds AS (
      SELECT DISTINCT u AS seed FROM adj WHERE u < {ECC_SEED_MAX}
    ), d1 AS MATERIALIZED (
      SELECT DISTINCT s.seed, a.v AS node FROM seeds s JOIN adj a ON a.u = s.seed
    ), d2 AS MATERIALIZED (
      SELECT DISTINCT h.seed, a.v AS node
      FROM d1 h JOIN adj a ON a.u = h.node
      WHERE a.v <> h.seed
        AND NOT EXISTS (SELECT 1 FROM d1 WHERE d1.seed = h.seed AND d1.node = a.v)
    ), d3 AS MATERIALIZED (
      SELECT DISTINCT h.seed, a.v AS node
      FROM d2 h JOIN adj a ON a.u = h.node
      WHERE a.v <> h.seed
        AND NOT EXISTS (SELECT 1 FROM d1 WHERE d1.seed = h.seed AND d1.node = a.v)
        AND NOT EXISTS (SELECT 1 FROM d2 WHERE d2.seed = h.seed AND d2.node = a.v)
    ), d4 AS MATERIALIZED (
      SELECT DISTINCT h.seed, a.v AS node
      FROM d3 h JOIN adj a ON a.u = h.node
      WHERE a.v <> h.seed
        AND NOT EXISTS (SELECT 1 FROM d1 WHERE d1.seed = h.seed AND d1.node = a.v)
        AND NOT EXISTS (SELECT 1 FROM d2 WHERE d2.seed = h.seed AND d2.node = a.v)
        AND NOT EXISTS (SELECT 1 FROM d3 WHERE d3.seed = h.seed AND d3.node = a.v)
    ), nodes AS (SELECT CAST(count(DISTINCT u) AS BIGINT) AS n_nodes FROM adj),
    sizes AS (
      SELECT s.seed,
             (SELECT count(*) FROM d1 WHERE d1.seed = s.seed) AS n1,
             (SELECT count(*) FROM d2 WHERE d2.seed = s.seed) AS n2,
             (SELECT count(*) FROM d3 WHERE d3.seed = s.seed) AS n3,
             (SELECT count(*) FROM d4 WHERE d4.seed = s.seed) AS n4
      FROM seeds s
    )
    SELECT seed AS seed_part,
           CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           CAST(n3 AS BIGINT) AS n3, CAST(n4 AS BIGINT) AS n4,
           CAST(n1 + n2 + n3 + n4 AS BIGINT) AS reach,
           CAST(CASE WHEN n4 > 0 THEN 4 WHEN n3 > 0 THEN 3
                     WHEN n2 > 0 THEN 2 WHEN n1 > 0 THEN 1 ELSE 0 END
                AS BIGINT) AS ecc_capped,
           (n1 + n2 + n3 + n4 + 1 >= (SELECT n_nodes FROM nodes))
             AS covers_component
    FROM sizes ORDER BY seed_part
    """
    )


@register("graph_eccentricity_profile_seeds", oracle=_ecc_oracle())
def graph_eccentricity_profile_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depth-capped BFS layer profile per seed node: |layer 1..4|,
    total reach, the capped eccentricity (deepest non-empty layer) and
    whether the 4-hop ball already covers the seed's whole component —
    the per-node expansion profile that complements
    ``graph_diameter_double_sweep`` (one global bound) and
    ``graph_khop_reach_per_seed``-style reach with the full layer
    breakdown a partitioner needs (layer growth rate = how fast a
    BFS-based algorithm's frontier explodes).

    Pure set algebra: each layer is one node-keyed equi-join on the
    session-cached edge table plus anti-joins against all closer
    layers; all outputs are exact counts.
    """
    from .graph import edge_table

    t = Tables(spark, sf_dir)
    edges = edge_table(spark, t, sf_dir)
    adj = edges.unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).select("u", "v")
    seeds = (
        adj.filter(F.col("u") < ECC_SEED_MAX).select(F.col("u").alias("seed")).distinct()
    )
    layers = []
    d1 = (
        seeds.join(adj, seeds.seed == adj.u)
        .select("seed", F.col("v").alias("node"))
        .distinct()
    )
    layers.append(d1)
    prev = d1
    for _depth in (2, 3, 4):
        nxt = (
            prev.join(adj, prev.node == adj.u)
            .filter(F.col("v") != F.col("seed"))
            .select("seed", F.col("v").alias("node"))
            .distinct()
        )
        for earlier in layers:
            nxt = nxt.join(earlier.select("seed", "node"), ["seed", "node"], "left_anti")
        layers.append(nxt)
        prev = nxt
    sizes = seeds
    for i, layer in enumerate(layers, start=1):
        cnt = layer.groupBy("seed").agg(F.count(F.lit(1)).cast("long").alias(f"n{i}"))
        sizes = sizes.join(cnt, "seed", "left")
    sizes = sizes.select(
        "seed",
        *[F.coalesce(F.col(f"n{i}"), F.lit(0)).cast("long").alias(f"n{i}") for i in (1, 2, 3, 4)],
    )
    nodes = adj.agg(F.countDistinct("u").cast("long").alias("n_nodes"))
    reach = F.col("n1") + F.col("n2") + F.col("n3") + F.col("n4")
    ecc = (
        F.when(F.col("n4") > 0, 4)
        .when(F.col("n3") > 0, 3)
        .when(F.col("n2") > 0, 2)
        .when(F.col("n1") > 0, 1)
        .otherwise(0)
    )
    return (
        sizes.crossJoin(F.broadcast(nodes))
        .select(
            F.col("seed").alias("seed_part"),
            "n1",
            "n2",
            "n3",
            "n4",
            reach.cast("long").alias("reach"),
            ecc.cast("long").alias("ecc_capped"),
            (reach + 1 >= F.col("n_nodes")).alias("covers_component"),
        )
        .orderBy("seed_part")
    )


# ---------------------------------------------------------------------------
# 3. Weekend-effect difference-in-differences across the calendar midpoint
# ---------------------------------------------------------------------------


def _did_oracle() -> str:
    hd = sql_halfup_div
    return f"""
    WITH {_SQL_DAILY_COUNTS_IDX}
    , nn AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM idx),
    lab AS (
      SELECT CASE WHEN i.k * 2 <= t.n THEN 0 ELSE 1 END AS period,
             CASE WHEN isodow(i.day) >= 6 THEN 1 ELSE 0 END AS weekend,
             i.y
      FROM idx i, nn t
    ), cells AS (
      SELECT period, weekend,
             CAST(count(*) AS HUGEINT) AS n_days,
             CAST(sum(y) AS HUGEINT) AS s,
             CAST(sum(y * y) AS HUGEINT) AS q
      FROM lab GROUP BY period, weekend
    ), means AS (
      SELECT period, weekend, n_days, s, q,
             {hd('1000000::HUGEINT * s', 'n_days')} AS mean_micro,
             CASE WHEN n_days > 1 THEN
               {hd('1000000::HUGEINT * (n_days * q - s * s)',
                   'n_days * n_days * (n_days - 1)')}
             END AS sem2_micro
      FROM cells
    ), did AS (
      SELECT
        (SELECT mean_micro FROM means WHERE period = 1 AND weekend = 1)
          - (SELECT mean_micro FROM means WHERE period = 1 AND weekend = 0)
          - (SELECT mean_micro FROM means WHERE period = 0 AND weekend = 1)
          + (SELECT mean_micro FROM means WHERE period = 0 AND weekend = 0) AS d,
        (SELECT sum(sem2_micro) FROM means) AS se2
    )
    SELECT CAST(m.period AS BIGINT) AS period, CAST(m.weekend AS BIGINT) AS weekend,
           CAST(m.n_days AS BIGINT) AS n_days,
           CAST(m.mean_micro AS DOUBLE) / 1000000 AS mean_daily,
           CAST(did.d AS DOUBLE) / 1000000 AS did_estimate,
           CASE WHEN did.se2 > 0 THEN
             CAST({hd('did.d * did.d', 'did.se2')} AS DOUBLE) / 1000000
               * (CASE WHEN did.d < 0 THEN -1 ELSE 1 END)
           END AS did_t_sq_signed
    FROM means m, did ORDER BY period, weekend
    """


@register("events_weekend_effect_did", oracle=_did_oracle())
def events_weekend_effect_did(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences of the WEEKEND effect on daily order
    counts across the calendar midpoint: did the weekend/weekday gap
    CHANGE between the first and second half? The 2x2 DID is the
    canonical confound-resistant before/after comparison (a level
    shift hits both weekend and weekday means and cancels; only a
    change in the weekly SHAPE survives) — the causal-style sibling of
    ``events_its_segmented_regression`` (which fits the level/trend
    break this design nets out).

    Exactness: cell means and Welch SE^2 terms micro-quantize from
    exact integer sufficient sums (the TOST convention — SE^2 of the
    DID contrast is the SUM of the four cell mean-variances since the
    contrast coefficients are +/-1); the t statistic ships as a SIGNED
    SQUARE, one half-up division, no square roots.

    Scale shape: one scan to 4 cells; 4-row algebra after.
    """
    t = Tables(spark, sf_dir)
    idx = _daily_counts_idx(t)
    nn = idx.agg(F.max("k").alias("n"))
    lab = idx.crossJoin(F.broadcast(nn)).select(
        F.when(F.col("k") * 2 <= F.col("n"), 0).otherwise(1).alias("period"),
        F.when(F.weekday(F.col("day")) + 1 >= 6, 1).otherwise(0).alias("weekend"),
        "y",
    )
    cells = lab.groupBy("period", "weekend").agg(
        dec38(F.count(F.lit(1))).alias("n_days"),
        F.sum("y").alias("s"),
        F.sum(F.col("y") * F.col("y")).alias("q"),
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    means = cells.select(
        "period",
        "weekend",
        "n_days",
        halfup_div(m6 * F.col("s"), F.col("n_days")).alias("mean_micro"),
        F.when(
            F.col("n_days") > 1,
            halfup_div(
                m6 * (F.col("n_days") * F.col("q") - F.col("s") * F.col("s")),
                F.col("n_days") * F.col("n_days") * (F.col("n_days") - 1),
            ),
        ).alias("sem2_micro"),
    )
    pv = (
        means.groupBy()
        .pivot("period", [0, 1])
        .agg(
            F.sum(F.when(F.col("weekend") == 1, F.col("mean_micro"))).alias("we"),
            F.sum(F.when(F.col("weekend") == 0, F.col("mean_micro"))).alias("wd"),
        )
    )
    se2 = means.agg(F.sum("sem2_micro").alias("se2"))
    did = pv.crossJoin(F.broadcast(se2)).select(
        (
            F.col("1_we") - F.col("1_wd") - F.col("0_we") + F.col("0_wd")
        ).alias("d"),
        "se2",
    )
    tsq = halfup_div(F.col("d") * F.col("d"), F.col("se2"))
    return (
        means.crossJoin(F.broadcast(did))
        .select(
            F.col("period").cast("long").alias("period"),
            F.col("weekend").cast("long").alias("weekend"),
            F.col("n_days").cast("long").alias("n_days"),
            (F.col("mean_micro").cast("double") / F.lit(1e6)).alias("mean_daily"),
            (F.col("d").cast("double") / F.lit(1e6)).alias("did_estimate"),
            F.when(
                F.col("se2") > 0,
                tsq.cast("double")
                / F.lit(1e6)
                * F.when(F.col("d") < 0, F.lit(-1.0)).otherwise(F.lit(1.0)),
            ).alias("did_t_sq_signed"),
        )
        .orderBy("period", "weekend")
    )


# ---------------------------------------------------------------------------
# 4. dow x hour independence chi-square
# ---------------------------------------------------------------------------


def _dowhour_oracle() -> str:
    hd = sql_halfup_div
    return f"""
    WITH cells AS (
      SELECT CAST(isodow(CAST(ts AS DATE)) AS BIGINT) AS dow,
             CAST(extract(hour FROM ts) AS BIGINT) AS hr,
             CAST(count(*) AS HUGEINT) AS o
      FROM events GROUP BY 1, 2
    ), margins AS (
      SELECT dow, CAST(sum(o) AS HUGEINT) AS rd FROM cells GROUP BY dow
    ), cols AS (
      SELECT hr, CAST(sum(o) AS HUGEINT) AS ch FROM cells GROUP BY hr
    ), nn AS (SELECT CAST(sum(o) AS HUGEINT) AS n FROM cells),
    terms AS (
      SELECT c.dow, c.hr, c.o, m.rd, h.ch,
             {hd('1000000::HUGEINT * (n.n * c.o - m.rd * h.ch)'
                 ' * (n.n * c.o - m.rd * h.ch)',
                 'n.n * m.rd * h.ch')} AS contrib
      FROM cells c
      JOIN margins m ON m.dow = c.dow
      JOIN cols h ON h.hr = c.hr, nn n
    )
    SELECT dow, hr, CAST(o AS BIGINT) AS n_events,
           CAST(contrib AS BIGINT) AS chi2_contrib_micro
    FROM terms ORDER BY dow, hr
    """


@register("stats_chi2_dow_hour_independence", oracle=_dowhour_oracle())
def stats_chi2_dow_hour_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test between ISO weekday and hour of
    day on the event stream — the decision statistic for whether ONE
    hour-of-day baseline (``events_seasonal_hourly_baseline``) serves
    all weekdays or each weekday needs its own profile: under
    independence the dow x hour cell counts factor into the margins,
    and a large chi-square says the hourly shape itself changes by
    weekday (the heatmap op shows the picture; this is the test).

    Exactness: each cell's (N o - r c)^2 / (N r c) is one half-up
    1e-6 division of exact decimal(38,0)/HUGEINT products (the G-test
    convention, observed cells only — structural zeros contribute 0 to
    Pearson's statistic). Sum the contrib column for the statistic
    (df = (7-1)(24-1)).

    Scale shape: one scan to <=168 cells; everything after is
    bounded-grid algebra.
    """
    t = Tables(spark, sf_dir)
    cells = t.events.groupBy(
        (F.weekday(F.to_date("ts")) + 1).cast("long").alias("dow"),
        F.hour("ts").cast("long").alias("hr"),
    ).agg(dec38(F.count(F.lit(1))).alias("o"))
    margins = cells.groupBy("dow").agg(F.sum("o").alias("rd"))
    cols = cells.groupBy("hr").agg(F.sum("o").alias("ch"))
    nn = cells.agg(F.sum("o").alias("n"))
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    diff = F.col("n") * F.col("o") - F.col("rd") * F.col("ch")
    return (
        cells.join(F.broadcast(margins), "dow")
        .join(F.broadcast(cols), "hr")
        .crossJoin(F.broadcast(nn))
        .select(
            "dow",
            "hr",
            F.col("o").cast("long").alias("n_events"),
            # micro units: 1e6 (No - rc)^2 / (N r c) — an earlier draft
            # multiplied BOTH sides by 1e6 (cancelling, so contributions
            # truncated to whole units identically in both engines and
            # parity stayed green); the replica's float chi-square
            # anchor caught it — the §5i.11 twin-sided class again
            halfup_div(m6 * diff * diff, F.col("n") * F.col("rd") * F.col("ch"))
            .cast("long")
            .alias("chi2_contrib_micro"),
        )
        .orderBy("dow", "hr")
    )
