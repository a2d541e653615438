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
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import dec38, halfup_div, sql_halfup_div
from ..registry import register
from ..tables import Tables


# ---------------------------------------------------------------------------
# 2. Doksum quantile shift function (A vs R quantity)
# ---------------------------------------------------------------------------

SHIFT_PCTS = tuple(range(10, 100, 10))


def _shift_oracle() -> str:
    ps = ", ".join(str(p) for p in SHIFT_PCTS)
    return f"""
    WITH gv AS (
      SELECT CAST(l_quantity AS BIGINT) AS v,
             CAST(sum(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END)
                  AS HUGEINT) AS na_v,
             CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS HUGEINT) AS nr_v
      FROM lineitem
      WHERE l_returnflag IN ('A', 'R') AND l_quantity IS NOT NULL
      GROUP BY 1
    ), cum AS (
      SELECT a.v, CAST(sum(b.na_v) AS HUGEINT) AS ca,
             CAST(sum(b.nr_v) AS HUGEINT) AS cr
      FROM gv a JOIN gv b ON b.v <= a.v GROUP BY a.v
    ), tot AS (
      SELECT CAST(sum(na_v) AS HUGEINT) AS na, CAST(sum(nr_v) AS HUGEINT) AS nr
      FROM gv
    ), ps(p) AS (SELECT unnest([{ps}])),
    q AS (
      SELECT ps.p,
             (SELECT min(c.v) FROM cum c, tot t
              WHERE 100 * c.ca >= ps.p * t.na) AS q_a,
             (SELECT min(c.v) FROM cum c, tot t
              WHERE 100 * c.cr >= ps.p * t.nr) AS q_r
      FROM ps
    )
    SELECT CAST(p AS BIGINT) AS pct, CAST(q_a AS BIGINT) AS q_a,
           CAST(q_r AS BIGINT) AS q_r,
           CAST(q_r - q_a AS BIGINT) AS shift
    FROM q ORDER BY p
    """


@register("stats_quantile_shift_function", _shift_oracle())
def stats_quantile_shift_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doksum's quantile shift function (Doksum 1974) for lineitem
    quantity, returned (A) vs refused (R): Delta(p) = q_R(p) - q_A(p)
    at each decile — WHERE the two distributions differ, not just
    whether. The location tests in the family (Mann-Whitney, HL,
    Tukey quick) compress the comparison to one number and miss the
    classic crossing pattern (tails shifted one way, center the
    other); the shift function is the standard robust-statistics
    answer (Wilcox's comparison-of-quantiles), and a flat nonzero
    profile vs a sloped one distinguishes a pure location shift from
    a scale change at a glance.

    Exactness: exact discrete lower quantiles (min v with 100 cum >=
    p n — cross-multiplied, never a division) off one pooled value
    grid with broadcast prefix sums; shifts are integer differences.

    Scale shape: one fact scan to the <= 50-value grid; the decile
    probes are 9 bounded lookups (explode x filter x min). 9 rows
    out.
    """
    t = Tables(spark, sf_dir)
    gv = (
        t.lineitem.filter(
            F.col("l_returnflag").isin("A", "R") & F.col("l_quantity").isNotNull()
        )
        .select(
            F.col("l_quantity").cast("long").alias("v"),
            F.when(F.col("l_returnflag") == "A", 1).otherwise(0).alias("ia"),
            F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("ir"),
        )
        .groupBy("v")
        .agg(
            F.sum(dec38(F.col("ia"))).alias("na_v"),
            F.sum(dec38(F.col("ir"))).alias("nr_v"),
        )
        .localCheckpoint(eager=True)  # <= 50 rows; three consumers
    )
    b = gv.select(
        F.col("v").alias("v_b"), F.col("na_v").alias("na_b"), F.col("nr_v").alias("nr_b")
    )
    cum = (
        gv.join(F.broadcast(b), F.col("v_b") <= F.col("v"))
        .groupBy("v")
        .agg(F.sum("na_b").alias("ca"), F.sum("nr_b").alias("cr"))
    )
    tot = gv.agg(F.sum("na_v").alias("na"), F.sum("nr_v").alias("nr"))
    ps = gv.sparkSession.createDataFrame(
        [(p,) for p in SHIFT_PCTS], "p long"
    )
    probe = cum.crossJoin(F.broadcast(tot)).crossJoin(F.broadcast(ps))
    qa = (
        probe.filter(
            F.lit(100).cast("decimal(38,0)") * F.col("ca")
            >= F.col("p") * F.col("na")
        )
        .groupBy("p")
        .agg(F.min("v").alias("q_a"))
    )
    qr = (
        probe.filter(
            F.lit(100).cast("decimal(38,0)") * F.col("cr")
            >= F.col("p") * F.col("nr")
        )
        .groupBy("p")
        .agg(F.min("v").alias("q_r"))
    )
    return (
        qa.join(qr, "p")
        .select(
            F.col("p").alias("pct"),
            F.col("q_a").cast("long").alias("q_a"),
            F.col("q_r").cast("long").alias("q_r"),
            (F.col("q_r") - F.col("q_a")).cast("long").alias("shift"),
        )
        .orderBy("pct")
    )


# ---------------------------------------------------------------------------
# 3. Cross-year nation revenue rank stability (Kendall tau-b)
# ---------------------------------------------------------------------------


def _rank_stability_oracle() -> str:
    return """
    WITH yr AS (
      SELECT CAST(max(date_part('year', o_orderdate)) AS BIGINT) AS y1
      FROM orders
    ), rev AS (
      SELECT n.n_name AS nation,
             CAST(date_part('year', o.o_orderdate) AS BIGINT) AS yy,
             CAST(sum(CAST(floor(o.o_totalprice * 100.0 + 0.5) AS BIGINT))
                  AS HUGEINT) AS r
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey, yr
      WHERE CAST(date_part('year', o.o_orderdate) AS BIGINT)
            IN (yr.y1, yr.y1 - 1)
      GROUP BY 1, 2
    ), wide AS (
      SELECT a.nation, a.r AS r0, b.r AS r1
      FROM rev a JOIN rev b ON b.nation = a.nation AND b.yy = a.yy + 1, yr
      WHERE a.yy = yr.y1 - 1
    ), pairs AS (
      SELECT CAST(sum(CASE WHEN (a.r0 < b.r0 AND a.r1 < b.r1)
                             OR (a.r0 > b.r0 AND a.r1 > b.r1)
                      THEN 1 ELSE 0 END) AS HUGEINT) AS conc,
             CAST(sum(CASE WHEN (a.r0 < b.r0 AND a.r1 > b.r1)
                             OR (a.r0 > b.r0 AND a.r1 < b.r1)
                      THEN 1 ELSE 0 END) AS HUGEINT) AS disc,
             CAST(sum(CASE WHEN a.r0 = b.r0 THEN 1 ELSE 0 END) AS HUGEINT)
               AS tx,
             CAST(sum(CASE WHEN a.r1 = b.r1 THEN 1 ELSE 0 END) AS HUGEINT)
               AS ty,
             CAST(count(*) AS HUGEINT) AS n0
      FROM wide a JOIN wide b ON a.nation < b.nation
    )
    SELECT (SELECT CAST(y1 - 1 AS BIGINT) FROM yr) AS year_a,
           (SELECT CAST(y1 AS BIGINT) FROM yr) AS year_b,
           (SELECT CAST(count(*) AS BIGINT) FROM wide) AS n_nations,
           CAST(conc AS BIGINT) AS concordant,
           CAST(disc AS BIGINT) AS discordant,
           CASE WHEN n0 - tx > 0 AND n0 - ty > 0 THEN
             CAST(floor(abs(CAST(conc - disc AS DOUBLE)) * 1000000.0
                  / sqrt(CAST(n0 - tx AS DOUBLE) * CAST(n0 - ty AS DOUBLE))
                  + 0.5) AS BIGINT)
             * (CASE WHEN conc < disc THEN -1 ELSE 1 END)
           END AS tau_b_micro
    FROM pairs
    """


@register("stats_nation_rank_stability_tau", _rank_stability_oracle())
def stats_nation_rank_stability_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-year rank stability of nation revenue: Kendall tau-b
    between the per-nation order revenue rankings of the last two
    calendar years in the data. ``stats_kendall_tau_b`` measures
    within-snapshot ordinal association; this is the LONGITUDINAL
    question a market analyst actually asks — did the league table
    hold? — with tau-b's tie correction handling revenue ties
    exactly. tau ~ 1 means a frozen competitive order; tau near 0
    means the ranking reshuffles yearly and single-year market-share
    reports are noise.

    Exactness: yearly revenues are exact integer cents (floor + 0.5
    extraction, both engines); concordant/discordant/tie counts are
    exact integers over the bounded 25 x 25 nation-pair self-join;
    tau-b is ONE shape-matched IEEE double sequence (|C - D| * 1e6 /
    sqrt((n0 - tx)(n0 - ty)), sign carried separately — the Dunn
    precedent), NULL-guarded for all-tied degenerates.

    Scale shape: one orders scan (year-pruned at the source) with two
    broadcast dim joins partial-aggregates to <= 50 (nation, year)
    cells; everything after is 25-row algebra. 1 row out.
    """
    from ..functions.partitioning import gated_broadcast

    t = Tables(spark, sf_dir)
    yr = t.orders.agg(
        F.max(F.year(F.to_date("o_orderdate"))).cast("long").alias("y1")
    )
    rev = (
        t.orders.select(
            "o_custkey",
            F.year(F.to_date("o_orderdate")).cast("long").alias("yy"),
            F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        .crossJoin(F.broadcast(yr))
        .filter((F.col("yy") == F.col("y1")) | (F.col("yy") == F.col("y1") - 1))
        .join(
            gated_broadcast(t.customer.select("c_custkey", "c_nationkey")),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .join(
            gated_broadcast(t.nation.select("n_nationkey", "n_name")),
            F.col("n_nationkey") == F.col("c_nationkey"),
        )
        .groupBy(F.col("n_name").alias("nation"), "yy", "y1")
        .agg(F.sum(dec38(F.col("cents"))).alias("r"))
    )
    a = rev.filter(F.col("yy") == F.col("y1") - 1).select(
        "nation", F.col("r").alias("r0"), "y1"
    )
    bb = rev.filter(F.col("yy") == F.col("y1")).select(
        F.col("nation").alias("nation_b"), F.col("r").alias("r1")
    )
    wide = a.join(
        F.broadcast(bb), F.col("nation_b") == F.col("nation")
    ).select("nation", "r0", "r1", "y1").localCheckpoint(eager=True)  # 25 rows
    w2 = wide.select(
        F.col("nation").alias("nation_2"),
        F.col("r0").alias("r0_2"),
        F.col("r1").alias("r1_2"),
    )
    pairs = wide.join(F.broadcast(w2), F.col("nation") < F.col("nation_2"))
    conc = F.sum(
        F.when(
            ((F.col("r0") < F.col("r0_2")) & (F.col("r1") < F.col("r1_2")))
            | ((F.col("r0") > F.col("r0_2")) & (F.col("r1") > F.col("r1_2"))),
            1,
        ).otherwise(0)
    ).cast("decimal(38,0)")
    disc = F.sum(
        F.when(
            ((F.col("r0") < F.col("r0_2")) & (F.col("r1") > F.col("r1_2")))
            | ((F.col("r0") > F.col("r0_2")) & (F.col("r1") < F.col("r1_2"))),
            1,
        ).otherwise(0)
    ).cast("decimal(38,0)")
    agg = pairs.agg(
        conc.alias("conc"),
        disc.alias("disc"),
        F.sum(F.when(F.col("r0") == F.col("r0_2"), 1).otherwise(0))
        .cast("decimal(38,0)")
        .alias("tx"),
        F.sum(F.when(F.col("r1") == F.col("r1_2"), 1).otherwise(0))
        .cast("decimal(38,0)")
        .alias("ty"),
        dec38(F.count(F.lit(1))).alias("n0"),
        F.first("y1").alias("y1"),
    )
    nn = wide.agg(F.count(F.lit(1)).cast("long").alias("n_nations"))
    num = F.col("conc") - F.col("disc")
    dx = F.col("n0") - F.col("tx")
    dy = F.col("n0") - F.col("ty")
    tau = F.floor(
        F.abs(num.cast("double")) * F.lit(1000000.0)
        / F.sqrt(dx.cast("double") * dy.cast("double"))
        + F.lit(0.5)
    ).cast("long") * F.when(num < 0, F.lit(-1)).otherwise(F.lit(1))
    return agg.crossJoin(F.broadcast(nn)).select(
        (F.col("y1") - 1).cast("long").alias("year_a"),
        F.col("y1").cast("long").alias("year_b"),
        "n_nations",
        F.col("conc").cast("long").alias("concordant"),
        F.col("disc").cast("long").alias("discordant"),
        F.when((dx > 0) & (dy > 0), tau).alias("tau_b_micro"),
    )


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
