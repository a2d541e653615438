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

``ml_prg_at_operating_points`` lives in ``operators/ml_thresholds.py``
with the other ml queries.
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
