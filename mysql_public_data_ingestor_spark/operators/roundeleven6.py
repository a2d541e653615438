"""Round-11 direct registrations, batch E (time-series decomposition,
causal-style product analytics).

Four completions, each oracle-paired, replica-pinned and plan-barred
in ``tests/test_roundeleven6.py`` (same-commit gate rule): an STL-lite
trend/seasonal/remainder decomposition of the daily series by ISO
weekday, a weekend-effect difference-in-differences estimate across the
calendar midpoint, and a dow x hour independence chi-square.

Reference parity note: the reference (Go ingestion pipeline) has no
analytics; these extend SURVEY §2.C time-series, graph and statistics.

``events_stl_dow_decomposition`` and ``events_weekend_effect_did``
live in ``operators/daily_change.py`` with the other daily-series
queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import dec38, halfup_div, sql_halfup_div
from ..registry import register
from ..tables import Tables


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
