"""Round-14 operator batch 2.

Gates: ``tests/test_roundfourteen2.py``; SCALE.md §5s records the
×10 ladder.

Batch theme — optimal thresholding, distributional shift, rank
stability and sketch error: Otsu's between-class-variance threshold on
the daily-count histogram, the Doksum quantile shift function for the
returned-vs-refused comparison, cross-year nation revenue rank
stability (Kendall tau-b), and the full-population Count-Min error
profile (the estimator-audit family's third member). Every name was
checked against the full 563-name registry inventory before design
(the SCALE §5j.7 authoring rule).

Reference parity note: the reference (Go ingestion pipeline,
``/root/reference/main.go``) has no analytics; these extend SURVEY
§2.C time-series / warehouse statistics / sketches.

``events_otsu_threshold_daily`` lives in ``operators/daily_change.py``
with the other daily-series queries.

``stats_nation_rank_stability_tau`` and
``stats_quantile_shift_function`` live in ``operators/stats_rank.py``
with the other stats queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import dec38, halfup_div, sql_halfup_div
from ..registry import register
from ..tables import Tables


# ---------------------------------------------------------------------------
# 4. Count-Min full-population error profile
# ---------------------------------------------------------------------------


def _cm_error_oracle() -> str:
    from .sketches import CM_SEEDS, CM_W, _sql_uhash

    hd = sql_halfup_div
    cells = " UNION ALL ".join(
        f"SELECT {j} AS depth, {_sql_uhash('user_id', a, b, CM_W)} AS bucket, "
        "count(*) AS c FROM ev GROUP BY 1, 2"
        for j, (a, b) in enumerate(CM_SEEDS)
    )
    probes = " UNION ALL ".join(
        f"SELECT user_id, exact_n, {j} AS depth, "
        f"{_sql_uhash('user_id', a, b, CM_W)} AS bucket FROM exact"
        for j, (a, b) in enumerate(CM_SEEDS)
    )
    return f"""
    WITH ev AS (
      SELECT user_id FROM events
    ), exact AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS exact_n
      FROM ev GROUP BY user_id
    ), cells AS ({cells}), probes AS ({probes}),
    est AS (
      SELECT p.user_id, p.exact_n, CAST(min(c.c) AS BIGINT) AS cm
      FROM probes p JOIN cells c ON c.depth = p.depth AND c.bucket = p.bucket
      GROUP BY p.user_id, p.exact_n
    ), ov AS (
      SELECT (cm - exact_n) AS o FROM est
    ), og AS (
      SELECT o, CAST(count(*) AS HUGEINT) AS c FROM ov GROUP BY o
    ), ocum AS (
      SELECT a.o, CAST(sum(b.c) AS HUGEINT) AS cum
      FROM og a JOIN og b ON b.o <= a.o GROUP BY a.o
    ), s AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(CASE WHEN o = 0 THEN 1 ELSE 0 END) AS HUGEINT)
               AS n_exact,
             CAST(sum(o) AS HUGEINT) AS so, CAST(max(o) AS BIGINT) AS mx
      FROM ov
    )
    SELECT CAST(s.n AS BIGINT) AS n_users,
           CAST({hd('1000000::HUGEINT * s.n_exact', 's.n')} AS BIGINT)
             AS exact_ppm,
           CAST({hd('1000::HUGEINT * s.so', 's.n')} AS BIGINT)
             AS mean_overcount_milli,
           (SELECT CAST(min(o) AS BIGINT) FROM ocum, s
            WHERE 10 * cum >= 9 * s.n) AS p90_overcount,
           s.mx AS max_overcount
    FROM s
    """


@register("sketch_countmin_error_profile", _cm_error_oracle())
def sketch_countmin_error_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-population error profile of the Count-Min sketch (depth 4
    x width 512, the production ``sketch_countmin_heavy_hitters``
    geometry): for EVERY user, the overcount cm_estimate - exact
    (always >= 0 by the CM guarantee), summarized as the exactly-
    estimated share, mean, exact-discrete p90 and max. The heavy-
    hitter op shows the sketch is right where it matters most; this is
    the estimator-audit family's question (with the MinHash and PQ
    audits): what error does EVERYONE ELSE eat, measured against the
    epsilon = e/w theory bound instead of assumed. A p90 far under
    2 N e / w means the workload's skew is protecting the tail.

    Derivation sharing: the cell build and the probe hashes reuse
    ``sketches._uhash`` / ``CM_SEEDS`` / ``CM_W`` verbatim — the audit
    audits the shipped sketch, not a lookalike.

    Exactness: cells, exact counts and overcounts are exact integers;
    the p90 is an exact discrete quantile off the bounded overcount
    value grid (broadcast prefix sums); one half-up division each for
    the ppm and milli outputs.

    Scale shape: the sketch build is the registered op's bounded
    (depth x width) aggregate; exact counts are one user-keyed
    aggregate; the probe join broadcasts the <= 2048-row sketch; the
    audit grid is bounded by distinct overcount values. 1 row out.
    """
    from .sketches import CM_SEEDS, CM_W, _uhash

    t = Tables(spark, sf_dir)
    ev = t.events.select("user_id")
    cells = (
        ev.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).alias("depth"),
                            _uhash(F.col("user_id"), a, b, CM_W).alias("bucket"),
                        )
                        for j, (a, b) in enumerate(CM_SEEDS)
                    ]
                )
            ).alias("cell")
        )
        .groupBy(
            F.col("cell.depth").alias("depth"), F.col("cell.bucket").alias("bucket")
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).cast("long").alias("exact_n"))
    probes = exact.select(
        "user_id",
        "exact_n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("depth"),
                        _uhash(F.col("user_id"), a, b, CM_W).alias("bucket"),
                    )
                    for j, (a, b) in enumerate(CM_SEEDS)
                ]
            )
        ).alias("probe"),
    ).select(
        "user_id",
        "exact_n",
        F.col("probe.depth").alias("depth"),
        F.col("probe.bucket").alias("bucket"),
    )
    ov = (
        probes.join(F.broadcast(cells), ["depth", "bucket"])
        .groupBy("user_id", "exact_n")
        .agg(F.min("c").alias("cm"))
        .select((F.col("cm") - F.col("exact_n")).cast("long").alias("o"))
        .localCheckpoint(eager=False)  # user-sized; three consumers
    )
    og = ov.groupBy("o").agg(dec38(F.count(F.lit(1))).alias("c"))
    ob = og.select(F.col("o").alias("o_b"), F.col("c").alias("c_b"))
    ocum = (
        og.join(F.broadcast(ob), F.col("o_b") <= F.col("o"))
        .groupBy("o")
        .agg(F.sum("c_b").alias("cum"))
    )
    s = ov.agg(
        dec38(F.count(F.lit(1))).alias("n"),
        F.sum(F.when(F.col("o") == 0, 1).otherwise(0))
        .cast("decimal(38,0)")
        .alias("n_exact"),
        F.sum(dec38(F.col("o"))).alias("so"),
        F.max("o").alias("mx"),
    )
    p90 = (
        ocum.crossJoin(F.broadcast(s.select("n")))
        .filter(
            F.lit(10).cast("decimal(38,0)") * F.col("cum")
            >= F.lit(9).cast("decimal(38,0)") * F.col("n")
        )
        .agg(F.min("o").alias("p90"))
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    k3 = F.lit(1000).cast("decimal(38,0)")
    return s.crossJoin(F.broadcast(p90)).select(
        F.col("n").cast("long").alias("n_users"),
        halfup_div(m6 * F.col("n_exact"), F.col("n")).cast("long").alias(
            "exact_ppm"
        ),
        halfup_div(k3 * F.col("so"), F.col("n")).cast("long").alias(
            "mean_overcount_milli"
        ),
        F.col("p90").cast("long").alias("p90_overcount"),
        F.col("mx").cast("long").alias("max_overcount"),
    )
