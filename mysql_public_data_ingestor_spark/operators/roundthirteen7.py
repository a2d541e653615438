"""Round-13 direct registrations, batch V (combined rank tests,
process capability, operating-point selection, and detrended fluctuation analysis).

Five window-slot completions, each oracle-paired, replica-pinned and
plan-barred in ``tests/test_roundthirteen7.py`` (same-commit gate
rule). Every name was checked against the full 548-name registry
inventory before design (the SCALE §5j.7 authoring rule):

* ``stats_lepage_location_scale`` — the Lepage combined
  location-scale rank test (Wilcoxon z^2 + Ansari-Bradley z^2).
* ``stats_process_capability_latency`` — Cp^2 / signed Cpk^2 process
  capability of order->ship latency against fixed spec limits.
* ``ml_recall_at_precision_floor`` — max recall subject to a
  precision SLA over the exact score grid (3 floors).

``events_dfa_daily`` lives in ``operators/daily_spectral.py`` with the
other daily-series queries.

Reference parity note: the reference (Go ingestion pipeline,
``/root/reference/main.go``) has no analytics; these extend SURVEY
§2.C warehouse statistics / ML / graph / time-series.

``stats_lepage_location_scale`` lives in ``operators/stats_rank.py``;
``stats_process_capability_latency`` lives in
``operators/stats_dist.py`` with the other stats queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import dec38, halfup_div, sql_halfup_div
from ..registry import register
from ..tables import Tables


# ---------------------------------------------------------------------------
# 3. Max recall at a precision floor over the score grid
# ---------------------------------------------------------------------------

PRECISION_FLOORS = ((4, 5), (9, 10), (19, 20))  # 0.80, 0.90, 0.95


def _recall_floor_oracle() -> str:
    from .ml import _scored_labeled_sql

    hd = sql_halfup_div
    floors = ", ".join(f"({n}, {d})" for n, d in PRECISION_FLOORS)
    return (
        _scored_labeled_sql()
        + f"""
    , grid AS (
      SELECT score_q, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(label) AS BIGINT) AS pos
      FROM scored GROUP BY score_q
    ), tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(pos) AS BIGINT) AS p
      FROM grid
    ), cum AS (
      SELECT score_q AS v,
             sum(n) OVER (ORDER BY score_q DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_sel,
             sum(pos) OVER (ORDER BY score_q DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp
      FROM grid
    ), floors(pn, pd) AS (VALUES {floors}),
    feasible AS (
      SELECT f.pn, f.pd, c.v, c.n_sel, c.tp,
             row_number() OVER (PARTITION BY f.pn, f.pd
               ORDER BY c.tp DESC, c.v ASC) AS r
      FROM floors f JOIN cum c ON c.tp * f.pd >= c.n_sel * f.pn
    )
    SELECT CAST(f.pn AS BIGINT) AS floor_num, CAST(f.pd AS BIGINT) AS floor_den,
           CAST(b.v AS BIGINT) AS best_threshold_q,
           CAST(b.n_sel AS BIGINT) AS n_selected,
           CAST(b.tp AS BIGINT) AS tp,
           CASE WHEN b.v IS NOT NULL THEN
             CAST({hd('1000000::HUGEINT * b.tp', 'b.n_sel')} AS BIGINT) END
             AS precision_micro,
           CASE WHEN b.v IS NOT NULL THEN
             CAST({hd('1000000::HUGEINT * b.tp', 't.p')} AS BIGINT) END
             AS recall_micro
    FROM floors f
    LEFT JOIN (SELECT * FROM feasible WHERE r = 1) b
      ON b.pn = f.pn AND b.pd = f.pd, tot t
    ORDER BY f.pn * 1.0 / f.pd
    """
    )


@register("ml_recall_at_precision_floor", oracle=_recall_floor_oracle())
def ml_recall_at_precision_floor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum recall subject to a precision SLA, for floors 0.80 /
    0.90 / 0.95, over the classifier's exact score grid — the
    operating-point selection a production filter actually deploys
    ("keep precision >= 90%, then recall as much as possible").
    ``ml_fbeta_optimal_thresholds`` trades the two smoothly; this is
    the hard-constraint version (the feasible set can be
    non-contiguous in the threshold, so the exact grid scan matters —
    a bisection on threshold would miss re-entrant feasible points).

    Exactness: TP / n_selected come off the descending score-grid
    cumulative (exact integers); the floor test is cross-multiplied
    (tp * pd >= n_sel * pn — never a per-row division); the argmax
    uses (tp desc, threshold asc); precision/recall quantize half-up
    at micro only in the output. Infeasible floors emit a NULL row
    (LEFT JOIN), so the row count is always 3.

    Scale shape: one scored scan to the <= 10001-value grid; the
    cumulative and per-floor ranking run over the POST-AGGREGATION
    grid (allowlist class, the fbeta/Youden precedent); 3 rows out.
    """
    from pyspark.sql.window import Window

    from .ml import _scored_labeled

    t = Tables(spark, sf_dir)
    grid = _scored_labeled(t).groupBy("score_q").agg(
        F.count(F.lit(1)).alias("n"), F.sum("label").alias("pos")
    )
    tot = grid.agg(
        F.sum("n").cast("long").alias("nn"), F.sum("pos").cast("long").alias("p")
    )
    w = Window.orderBy(F.col("score_q").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = grid.select(
        F.col("score_q").alias("v"),
        F.sum("n").over(w).cast("long").alias("n_sel"),
        F.sum("pos").over(w).cast("long").alias("tp"),
    )
    floors = grid.sparkSession.createDataFrame(
        [(n, d) for n, d in PRECISION_FLOORS], "pn long, pd long"
    )
    feasible = floors.join(
        cum, F.col("tp") * F.col("pd") >= F.col("n_sel") * F.col("pn")
    )
    wb = Window.partitionBy("pn", "pd").orderBy(
        F.col("tp").desc(), F.col("v").asc()
    )
    best = (
        feasible.withColumn("r", F.row_number().over(wb))
        .filter(F.col("r") == 1)
        .select("pn", "pd", "v", "n_sel", "tp")
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    return (
        floors.join(best, ["pn", "pd"], "left")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("pn").alias("floor_num"),
            F.col("pd").alias("floor_den"),
            F.col("v").alias("best_threshold_q"),
            F.col("n_sel").alias("n_selected"),
            "tp",
            F.when(
                F.col("v").isNotNull(),
                halfup_div(m6 * dec38(F.col("tp")), dec38(F.col("n_sel"))).cast(
                    "long"
                ),
            ).alias("precision_micro"),
            F.when(
                F.col("v").isNotNull(),
                halfup_div(m6 * dec38(F.col("tp")), dec38(F.col("p"))).cast("long"),
            ).alias("recall_micro"),
        )
        .orderBy(F.col("floor_num").cast("double") / F.col("floor_den"))
    )
