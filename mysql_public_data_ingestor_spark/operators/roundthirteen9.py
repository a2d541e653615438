"""Round-13 direct registrations, batch X (regularity, temporal
memory, measurement agreement, FDR multiplicity, autocorrelation-aware
sample size).

Five window-slot completions, each oracle-paired, replica-pinned and
plan-barred in ``tests/test_roundthirteen9.py`` (same-commit gate
rule). Every name was checked against the full 558-name registry
inventory before design (the SCALE §5j.7 authoring rule):

* ``events_interarrival_memory_coeff`` — the Goh-Barabási memory
  coefficient M (lag-1 correlation of inter-arrival times), the
  missing axis of the (B, M) phase diagram next to
  ``events_interarrival_burstiness``.
* ``stats_bland_altman_price_agreement`` — Bland-Altman agreement of
  invoiced vs list-derived line value (bias, limits of agreement,
  exact within-limits ppm).
* ``stats_bh_fdr_nation_urgency`` — Benjamini-Hochberg step-up FDR
  control over the per-nation urgency-rate z^2 family.

``events_sample_entropy_daily``, ``stats_effective_sample_size_daily``
live in ``operators/daily_hypothesis.py`` and
``operators/daily_spectral.py`` with the other daily-series queries.

Reference parity note: the reference (Go ingestion pipeline,
``/root/reference/main.go``) has no analytics; these extend SURVEY
§2.C time-series / warehouse statistics.

``stats_bland_altman_price_agreement`` lives in
``operators/stats_tables.py``; ``stats_bh_fdr_nation_urgency`` lives in
``operators/stats_models.py`` with the other stats queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import dec38
from ..registry import register
from ..tables import Tables


# ---------------------------------------------------------------------------
# 2. Goh-Barabási memory coefficient of inter-arrival times
# ---------------------------------------------------------------------------


def _memory_oracle() -> str:
    return """
    WITH ordered AS (
      SELECT event_type, ts, event_id,
             CAST(floor(epoch(ts)) AS BIGINT)
               - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
                   PARTITION BY event_type ORDER BY ts, event_id) AS gap
      FROM events
    ), lagged AS (
      SELECT event_type, gap AS y,
             lag(gap) OVER (PARTITION BY event_type
                            ORDER BY ts, event_id) AS x
      FROM ordered
    ), agg AS (
      SELECT event_type,
             CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
             CAST(sum(x * CAST(y AS HUGEINT)) AS HUGEINT) AS sxy,
             CAST(sum(x * CAST(x AS HUGEINT)) AS HUGEINT) AS sxx,
             CAST(sum(y * CAST(y AS HUGEINT)) AS HUGEINT) AS syy
      FROM lagged WHERE x IS NOT NULL AND y IS NOT NULL GROUP BY 1
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_pairs,
           CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN
             CAST(floor(abs(CAST(n * sxy - sx * sy AS DOUBLE)) * 1000000.0
                  / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                         * CAST(n * syy - sy * sy AS DOUBLE)) + 0.5) AS BIGINT)
             * (CASE WHEN n * sxy - sx * sy < 0 THEN -1 ELSE 1 END)
           END AS memory_micro
    FROM agg ORDER BY event_type
    """


@register("events_interarrival_memory_coeff", oracle=_memory_oracle())
def events_interarrival_memory_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goh-Barabási memory coefficient M per event type — the Pearson
    correlation of CONSECUTIVE inter-arrival times (Goh & Barabási
    2008): M > 0 means long gaps follow long gaps (congestion /
    session structure), M < 0 means alternation. Together with
    ``events_interarrival_burstiness`` this completes the (B, M)
    phase diagram that separates bursty-by-heavy-tail traffic (B high,
    M ~ 0) from bursty-by-correlation traffic (M high) — different
    capacity-planning answers.

    CAVEAT (documented, replica-pinned): the consecutive-gap pairing
    uses the SAME deterministic event order as the burstiness op
    (ts, event_id within type).

    Exactness: gaps are integer epoch-second diffs (the burstiness
    convention); all six sufficient statistics are exact integers; the
    correlation is ONE shape-matched IEEE double sequence (|num| *
    1e6 / sqrt(denx * deny), sign carried separately — the Dunn
    precedent), NULL-guarded for degenerate variance.

    Scale shape: two chained lag windows partitioned by event_type
    (hash-partitioned, parallel across types — the burstiness shape),
    then a per-type aggregate. |types| rows out.
    """
    from pyspark.sql.window import Window

    t = Tables(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    gaps = t.events.select(
        "event_type",
        "ts",
        "event_id",
        (F.unix_timestamp("ts") - F.lag(F.unix_timestamp("ts")).over(w)).alias("y"),
    )
    lagged = gaps.select(
        "event_type", "y", F.lag("y").over(w).alias("x")
    ).where(F.col("x").isNotNull() & F.col("y").isNotNull())
    agg = lagged.groupBy("event_type").agg(
        dec38(F.count(F.lit(1))).alias("n"),
        F.sum(dec38(F.col("x"))).alias("sx"),
        F.sum(dec38(F.col("y"))).alias("sy"),
        F.sum(dec38(F.col("x")) * F.col("y")).alias("sxy"),
        F.sum(dec38(F.col("x")) * F.col("x")).alias("sxx"),
        F.sum(dec38(F.col("y")) * F.col("y")).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    denx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    r = F.floor(
        F.abs(num.cast("double")) * F.lit(1000000.0)
        / F.sqrt(denx.cast("double") * deny.cast("double"))
        + F.lit(0.5)
    ).cast("long") * F.when(num < 0, F.lit(-1)).otherwise(F.lit(1))
    return agg.select(
        "event_type",
        F.col("n").cast("long").alias("n_pairs"),
        F.when((denx > 0) & (deny > 0), r).alias("memory_micro"),
    ).orderBy("event_type")
