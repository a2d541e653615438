"""Round-14 operator batch 3.

Gates: ``tests/test_roundfourteen3.py``; SCALE.md §5s records the
×10 ladder.

Batch theme — the utility side of anonymization and the
prevalence-honest side of operating points: the generalization
information-loss audit (what suppressing nation to region COSTS, next
to ``privacy_k_anonymity_audit`` which prices what it buys) and the
precision-recall-GAIN transform (Flach & Kull 2015) at the deployed
precision floors. Every name was checked against the full 573-name
registry+bank inventory before design (the SCALE §5j.7 authoring
rule).

Reference parity note: the reference (Go ingestion pipeline,
``/root/reference/main.go``) has no analytics; these extend SURVEY
§2.C privacy / ML.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import dec38, halfup_div, sql_halfup_div
from ..registry import register
from ..tables import Tables

# ---------------------------------------------------------------------------
# 1. Generalization information-loss audit (nation -> region)
# ---------------------------------------------------------------------------


def _info_loss_oracle() -> str:
    hd = sql_halfup_div
    return f"""
    WITH base AS (
      SELECT c.c_custkey, n.n_nationkey AS nat, n.n_regionkey AS reg,
             c.c_mktsegment AS seg
      FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
    ), raw AS (
      SELECT nat, seg, CAST(count(*) AS HUGEINT) AS c
      FROM base GROUP BY 1, 2
    ), gen AS (
      SELECT reg, seg, CAST(count(*) AS HUGEINT) AS c
      FROM base GROUP BY 1, 2
    ), natreg AS (
      SELECT n_regionkey AS reg, CAST(count(*) AS HUGEINT) AS n_nat
      FROM nation GROUP BY 1
    ), tot AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             (SELECT CAST(count(*) AS HUGEINT) FROM nation) AS n_nations
      FROM base
    ), ncp AS (
      SELECT CAST(sum(b.cnt * (r.n_nat - 1)) AS HUGEINT) AS ncp_num
      FROM (SELECT reg, CAST(count(*) AS HUGEINT) AS cnt
            FROM base GROUP BY reg) b
      JOIN natreg r ON r.reg = b.reg
    ), s AS (
      SELECT (SELECT count(*) FROM raw) AS n_classes_raw,
             (SELECT count(*) FROM gen) AS n_classes_gen,
             (SELECT CAST(sum(c * c) AS HUGEINT) FROM raw) AS dm_raw,
             (SELECT CAST(sum(c * c) AS HUGEINT) FROM gen) AS dm_gen,
             (SELECT CAST(min(c) AS BIGINT) FROM raw) AS min_class_raw,
             (SELECT CAST(min(c) AS BIGINT) FROM gen) AS min_class_gen
    )
    SELECT CAST(t.n AS BIGINT) AS n,
           CAST(s.n_classes_raw AS BIGINT) AS n_classes_raw,
           CAST(s.n_classes_gen AS BIGINT) AS n_classes_gen,
           CAST(s.dm_raw AS BIGINT) AS dm_raw,
           CAST(s.dm_gen AS BIGINT) AS dm_gen,
           s.min_class_raw, s.min_class_gen,
           CAST({hd('1000000::HUGEINT * p.ncp_num',
                    't.n * (t.n_nations - 1)')} AS BIGINT) AS ncp_micro
    FROM s, tot t, ncp p
    """


@register("privacy_generalization_info_loss", _info_loss_oracle())
def privacy_generalization_info_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Information-loss audit of the standard anonymization move for
    the (nation, market-segment) quasi-identifier: generalize nation
    one level up its hierarchy to REGION, and price both sides of the
    trade — what it buys (the minimum equivalence-class size, i.e. the
    achieved k, and the discernibility metric DM = sum |class|^2,
    Bayardo & Agrawal 2005) and what it costs (the normalized
    certainty penalty NCP: each record's nation now hides among
    n_nations(region), so NCP = sum_r cnt_r (|r| - 1) / (N (|nations|
    - 1)), Xu et al. 2006). ``privacy_k_anonymity_audit`` reports the
    RISK of the raw table; this is the utility-cost column the privacy
    review reads next to it before approving the generalization.

    Exactness: class sizes, DM sums and the NCP numerator are exact
    integers (the nation->region hierarchy is the data's own foreign
    key, deterministic); ONE half-up micro division for NCP.

    Scale shape: one customer scan with a broadcast nation join
    partial-aggregates to the bounded (QI-class) grids (<= 125 raw
    cells, <= 25 generalized); everything after is grid algebra.
    1 row out.
    """
    from ..functions.partitioning import gated_broadcast

    t = Tables(spark, sf_dir)
    base = t.customer.select("c_custkey", "c_nationkey", "c_mktsegment").join(
        gated_broadcast(t.nation.select("n_nationkey", "n_regionkey")),
        F.col("n_nationkey") == F.col("c_nationkey"),
    ).select(
        F.col("n_nationkey").alias("nat"),
        F.col("n_regionkey").alias("reg"),
        F.col("c_mktsegment").alias("seg"),
    )
    raw = base.groupBy("nat", "seg").agg(dec38(F.count(F.lit(1))).alias("c"))
    gen = base.groupBy("reg", "seg").agg(dec38(F.count(F.lit(1))).alias("c"))
    natreg = t.nation.groupBy(F.col("n_regionkey").alias("reg")).agg(
        dec38(F.count(F.lit(1))).alias("n_nat")
    )
    tot = base.agg(dec38(F.count(F.lit(1))).alias("n")).crossJoin(
        F.broadcast(t.nation.agg(dec38(F.count(F.lit(1))).alias("n_nations")))
    )
    ncp = (
        base.groupBy("reg")
        .agg(dec38(F.count(F.lit(1))).alias("cnt"))
        .join(F.broadcast(natreg), "reg")
        .agg(F.sum(F.col("cnt") * (F.col("n_nat") - 1)).alias("ncp_num"))
    )
    sraw = raw.agg(
        F.count(F.lit(1)).cast("long").alias("n_classes_raw"),
        F.sum(F.col("c") * F.col("c")).alias("dm_raw"),
        F.min("c").cast("long").alias("min_class_raw"),
    )
    sgen = gen.agg(
        F.count(F.lit(1)).cast("long").alias("n_classes_gen"),
        F.sum(F.col("c") * F.col("c")).alias("dm_gen"),
        F.min("c").cast("long").alias("min_class_gen"),
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    return (
        sraw.crossJoin(F.broadcast(sgen))
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(ncp))
        .select(
            F.col("n").cast("long").alias("n"),
            "n_classes_raw",
            "n_classes_gen",
            F.col("dm_raw").cast("long").alias("dm_raw"),
            F.col("dm_gen").cast("long").alias("dm_gen"),
            "min_class_raw",
            "min_class_gen",
            halfup_div(
                m6 * F.col("ncp_num"), F.col("n") * (F.col("n_nations") - 1)
            )
            .cast("long")
            .alias("ncp_micro"),
        )
    )


# ---------------------------------------------------------------------------
# 2. Precision-recall-gain at the deployed operating points
# ---------------------------------------------------------------------------


def _prg_oracle() -> str:
    from .ml import _scored_labeled_sql
    from .roundthirteen7 import PRECISION_FLOORS

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
           CAST(b.v AS BIGINT) AS threshold_q,
           CASE WHEN b.v IS NOT NULL AND b.tp > 0 THEN
             CAST({hd('1000000::HUGEINT * (CAST(b.tp AS HUGEINT) * t.nn'
                      ' - CAST(t.p AS HUGEINT) * b.n_sel)',
                      'CAST(b.tp AS HUGEINT) * (t.nn - t.p)')} AS BIGINT) END
             AS prec_gain_micro,
           CASE WHEN b.v IS NOT NULL AND b.tp > 0 THEN
             CAST({hd('1000000::HUGEINT * (CAST(b.tp AS HUGEINT) * t.nn'
                      ' - CAST(t.p AS HUGEINT) * t.p)',
                      'CAST(b.tp AS HUGEINT) * (t.nn - t.p)')} AS BIGINT) END
             AS rec_gain_micro
    FROM floors f
    LEFT JOIN (SELECT * FROM feasible WHERE r = 1) b
      ON b.pn = f.pn AND b.pd = f.pd, tot t
    ORDER BY f.pn * 1.0 / f.pd
    """
    )


@register("ml_prg_at_operating_points", _prg_oracle())
def ml_prg_at_operating_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision-recall GAIN (Flach & Kull, NeurIPS 2015) at the
    deployed precision-floor operating points: precG = (prec - pi) /
    ((1 - pi) prec) and recG = (rec - pi) / ((1 - pi) rec), where pi
    is the base rate — the transform that fixes raw PR's known
    pathologies (a precision of 0.9 is trivial when pi = 0.89 and
    heroic when pi = 0.01; raw PR can't tell them apart, PRG maps the
    always-positive baseline to gain 0 and the perfect classifier to
    1). Reported at the SAME thresholds ``ml_recall_at_precision_floor``
    deploys, so the two tables read side by side: a floor that looks
    fine in raw precision but has near-zero precision GAIN is buying
    nothing over predict-all.

    Exactness: tp / n_sel off the descending score-grid cumulative
    (exact integers; the same derivation shape as the operating-point
    op); both gains collapse to single half-up micro divisions of
    cross-multiplied integers — precG = (tp N - P n_sel) / (tp (N -
    P)), recG = (tp N - P^2) / (tp (N - P)) — signed (gain < 0 means
    worse than baseline), NULL for infeasible floors or tp = 0.

    Scale shape: one scored scan to the <= 10001-value grid; the
    shared cumulative is the fbeta/Youden allowlist class (flagged for
    activation time); 3 rows out.
    """
    from pyspark.sql.window import Window

    from .ml import _scored_labeled
    from .roundthirteen7 import PRECISION_FLOORS

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
    wb = Window.partitionBy("pn", "pd").orderBy(F.col("tp").desc(), F.col("v").asc())
    best = (
        feasible.withColumn("r", F.row_number().over(wb))
        .filter(F.col("r") == 1)
        .select("pn", "pd", "v", "n_sel", "tp")
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    den = dec38(F.col("tp")) * dec38(F.col("nn") - F.col("p"))
    prec_g = halfup_div(
        m6 * (dec38(F.col("tp")) * F.col("nn") - dec38(F.col("p")) * F.col("n_sel")),
        den,
    )
    rec_g = halfup_div(
        m6 * (dec38(F.col("tp")) * F.col("nn") - dec38(F.col("p")) * F.col("p")),
        den,
    )
    ok = F.col("v").isNotNull() & (F.col("tp") > 0)
    return (
        floors.join(best, ["pn", "pd"], "left")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("pn").alias("floor_num"),
            F.col("pd").alias("floor_den"),
            F.col("v").alias("threshold_q"),
            F.when(ok, prec_g.cast("long")).alias("prec_gain_micro"),
            F.when(ok, rec_g.cast("long")).alias("rec_gain_micro"),
        )
        .orderBy(F.col("floor_num").cast("double") / F.col("floor_den"))
    )
