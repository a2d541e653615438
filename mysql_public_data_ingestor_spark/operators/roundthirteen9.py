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
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import dec38, halfup_div, sql_halfup_div
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


# ---------------------------------------------------------------------------
# 3. Bland-Altman agreement: invoiced vs list-derived line value
# ---------------------------------------------------------------------------

# limits of agreement at +-1.96 sd: 1.96^2 = 9604/2500 exactly
BA_Z_SQ_NUM = 9604
BA_Z_SQ_DEN = 2500


def _bland_altman_oracle() -> str:
    hd = sql_halfup_div
    return f"""
    WITH d AS (
      SELECT CAST(CAST(floor(l.l_extendedprice * 100.0 + 0.5) AS BIGINT)
                  - CAST(floor(p.p_retailprice * 100.0 + 0.5) AS BIGINT)
                    * CAST(l.l_quantity AS BIGINT) AS HUGEINT) AS d
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ), s AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(d) AS HUGEINT) AS sd,
             CAST(sum(d * d) AS HUGEINT) AS sdd
      FROM d
    ), c AS (
      SELECT n, sd, sdd, (n * sdd - sd * sd) AS vc FROM s
    ), lim AS (
      SELECT c.*,
             {hd(f'{BA_Z_SQ_NUM}::HUGEINT * 1000 * vc',
                 f'{BA_Z_SQ_DEN}::HUGEINT * n * (n - 1)')} AS loa_sq_milli
      FROM c
    ), w AS (
      SELECT CAST(sum(CASE WHEN
               {hd('1000::HUGEINT * (d.d * l.n - l.sd)', 'l.n')}
               * {hd('1000::HUGEINT * (d.d * l.n - l.sd)', 'l.n')}
               <= 1000::HUGEINT * l.loa_sq_milli THEN 1 ELSE 0 END)
             AS HUGEINT) AS n_within
      FROM d, lim l
    )
    SELECT CAST(l.n AS BIGINT) AS n,
           CAST({hd('1000::HUGEINT * l.sd', 'l.n')} AS BIGINT) AS bias_milli,
           CASE WHEN {hd('1000::HUGEINT * l.vc', 'l.n * (l.n - 1)')}
                     <= 9223372036854775807::HUGEINT THEN
             CAST({hd('1000::HUGEINT * l.vc', 'l.n * (l.n - 1)')} AS BIGINT)
           END AS var_d_milli,
           CASE WHEN l.loa_sq_milli <= 9223372036854775807::HUGEINT THEN
             CAST(l.loa_sq_milli AS BIGINT) END AS loa_sq_milli,
           CAST({hd('1000000::HUGEINT * w.n_within', 'l.n')} AS BIGINT)
             AS within_loa_ppm
    FROM lim l, w
    """


@register("stats_bland_altman_price_agreement", oracle=_bland_altman_oracle())
def stats_bland_altman_price_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bland-Altman agreement analysis (Bland & Altman 1986) between
    two "measurements" of the same line value: the invoiced
    l_extendedprice vs the list-derived p_retailprice x quantity.
    Reports the bias (mean difference, milli-cents), the difference
    variance, the squared half-width of the 95% limits of agreement
    (1.96^2 sigma^2 — the squared-index convention), and the EXACT
    share of lines inside the limits. Correlation answers "do they
    move together"; Bland-Altman answers the operative question — "by
    how much do they disagree, and is the disagreement within
    tolerance" — the standard for method comparison.

    Exactness: differences are exact integer cents; N, sum d, sum d^2
    exact; the limits compare per row as centered milli deviations
    (two-stage half-up quantization, the Cpk precedent — keeps the
    squared terms inside decimal(38,0) at 1e12 rows) against the
    milli-quantized squared limit; one half-up division per output.

    Scale shape: one lineitem-part equi-join (partkey, dim broadcast
    under the gate), one global aggregate, one broadcast-back
    conditional count. 1 row out.
    """
    t = Tables(spark, sf_dir)
    d = (
        t.lineitem.select("l_partkey", "l_extendedprice", "l_quantity")
        .join(
            t.part.select("p_partkey", "p_retailprice"),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .select(
            (
                dec38(F.floor(F.col("l_extendedprice") * F.lit(100.0) + F.lit(0.5))
                     .cast("long"))
                - dec38(F.floor(F.col("p_retailprice") * F.lit(100.0) + F.lit(0.5))
                       .cast("long"))
                * dec38(F.col("l_quantity").cast("long"))
            ).alias("d")
        )
    )
    s = d.agg(
        dec38(F.count(F.lit(1))).alias("n"),
        F.sum("d").alias("sd"),
        F.sum(F.col("d") * F.col("d")).alias("sdd"),
    )
    vc = F.col("n") * F.col("sdd") - F.col("sd") * F.col("sd")
    k3 = F.lit(1000).cast("decimal(38,0)")
    lim = s.select(
        "n",
        "sd",
        vc.alias("vc"),
        halfup_div(
            F.lit(BA_Z_SQ_NUM).cast("decimal(38,0)") * k3 * vc,
            F.lit(BA_Z_SQ_DEN).cast("decimal(38,0)")
            * F.col("n")
            * (F.col("n") - 1),
        ).alias("loa_sq_milli"),
    )
    dev_milli = halfup_div(k3 * (F.col("d") * F.col("n") - F.col("sd")), F.col("n"))
    w = (
        d.crossJoin(F.broadcast(lim))
        .select(
            F.when(
                dev_milli * dev_milli <= k3 * F.col("loa_sq_milli"), 1
            )
            .otherwise(0)
            .alias("inside")
        )
        .agg(F.sum("inside").cast("decimal(38,0)").alias("n_within"))
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    i64max = F.lit(9223372036854775807).cast("decimal(38,0)")
    var_milli = halfup_div(k3 * F.col("vc"), F.col("n") * (F.col("n") - 1))
    return lim.crossJoin(F.broadcast(w)).select(
        F.col("n").cast("long").alias("n"),
        halfup_div(k3 * F.col("sd"), F.col("n")).cast("long").alias("bias_milli"),
        # int64 magnitude guards (the adversarial value-fuzz profile
        # inflates cents^2 variances past BIGINT; both engines emit
        # NULL identically rather than overflow)
        F.when(var_milli <= i64max, var_milli.cast("long")).alias("var_d_milli"),
        F.when(F.col("loa_sq_milli") <= i64max,
               F.col("loa_sq_milli").cast("long")).alias("loa_sq_milli"),
        halfup_div(m6 * F.col("n_within"), F.col("n"))
        .cast("long")
        .alias("within_loa_ppm"),
    )


# ---------------------------------------------------------------------------
# 4. Benjamini-Hochberg FDR over the per-nation urgency family
# ---------------------------------------------------------------------------

# chi^2_1 quantiles at 1 - 0.05*k/25, k = 1..25, in micro units —
# the BH step-up ladder for m = 25 simultaneous nation tests at
# FDR alpha = 0.05. Fixed literals computed by bisection on erfc and
# re-derived independently in tests/test_roundthirteen9.py.
BH_CRIT_MICRO = {
    1: 9549536, 2: 8283815, 3: 7550303, 4: 7033474, 5: 6634897,
    6: 6310869, 7: 6038143, 8: 5802874, 9: 5596149, 10: 5411894,
    11: 5245785, 12: 5094632, 13: 4956019, 14: 4828067, 15: 4709292,
    16: 4598497, 17: 4494704, 18: 4397105, 19: 4305022, 20: 4217885,
    21: 4135204, 22: 4056562, 23: 3981594, 24: 3909986, 25: 3841459,
}


def _bh_oracle() -> str:
    crit = " ".join(f"WHEN {k} THEN {c}" for k, c in sorted(BH_CRIT_MICRO.items()))
    return f"""
    WITH nat AS (
      SELECT n.n_name AS nation,
             CAST(count(*) AS HUGEINT) AS n_i,
             CAST(sum(CASE WHEN o.o_orderpriority = '1-URGENT'
                      THEN 1 ELSE 0 END) AS HUGEINT) AS k_i
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY 1
    ), tot AS (
      SELECT CAST(sum(n_i) AS HUGEINT) AS nn, CAST(sum(k_i) AS HUGEINT) AS kk
      FROM nat
    ), z AS (
      SELECT nation, n_i, k_i,
             CAST(floor(
               (CAST(k_i * t.nn - n_i * t.kk AS DOUBLE)
                * CAST(k_i * t.nn - n_i * t.kk AS DOUBLE)) * 1000000.0
               / CAST(n_i AS DOUBLE) / CAST(t.kk AS DOUBLE)
               / CAST(t.nn - t.kk AS DOUBLE) + 0.5) AS BIGINT) AS z2
      FROM nat, tot t
    ), rk AS (
      SELECT a.nation, a.n_i, a.k_i, a.z2,
             1 + (SELECT count(*) FROM z b
                  WHERE b.z2 > a.z2
                     OR (b.z2 = a.z2 AND b.nation < a.nation)) AS bh_rank
      FROM z a
    ), rr AS (
      SELECT rk.*, (CASE bh_rank {crit} END) AS crit_micro,
             CASE WHEN z2 >= (CASE bh_rank {crit} END) THEN 1 ELSE 0 END
               AS raw_pass
      FROM rk
    ), kstar AS (
      SELECT coalesce(max(bh_rank), 0) AS k_star FROM rr WHERE raw_pass = 1
    )
    SELECT r.nation, CAST(r.n_i AS BIGINT) AS n_orders,
           CAST(r.k_i AS BIGINT) AS n_urgent,
           CAST(r.z2 AS BIGINT) AS z2_micro,
           CAST(r.bh_rank AS BIGINT) AS bh_rank,
           CAST(r.crit_micro AS BIGINT) AS crit_micro,
           CAST(CASE WHEN r.bh_rank <= s.k_star THEN 1 ELSE 0 END AS BIGINT)
             AS reject
    FROM rr r, kstar s ORDER BY r.bh_rank, r.nation
    """


@register("stats_bh_fdr_nation_urgency", oracle=_bh_oracle())
def stats_bh_fdr_nation_urgency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg step-UP false-discovery-rate control
    (Benjamini & Hochberg 1995) over the 25-nation family of
    urgency-rate deviation tests: per nation, the one-sample
    proportion z^2 against the global urgent share; rank by
    significance; find the LARGEST rank k with z^2_(k) above the
    chi^2_1(1 - alpha k/m) ladder and reject everything at or above
    it. The Holm wrapper in the family controls FWER (any false
    positive); BH controls the false-discovery RATE — the multiplicity
    regime a 25-way dashboard actually runs at, uniformly more
    powerful when many nations genuinely deviate. Step-UP vs Holm's
    step-DOWN is the structural difference the replica pins: a rank
    below a passing rank is rejected even if its own raw test fails.

    Exactness: per-nation z^2 is ONE shape-matched IEEE double
    sequence over exact integers (d = k_i N - n_i K; z^2 = d^2 /
    (n_i K (N-K)), the Dunn precedent); the 25-value critical ladder
    is fixed integer micro literals (erf bisection, independently
    re-derived in the anchor test); ranking (predecessor-count
    self-join, deterministic (z^2 desc, nation) tiebreak), k* and
    rejection are pure integer logic.

    Scale shape: one orders scan with two broadcast dim joins
    partial-aggregates to 25 nation cells; everything after is
    25-row algebra. 25 rows out.
    """
    from ..functions.partitioning import gated_broadcast

    t = Tables(spark, sf_dir)
    nat = (
        t.orders.select("o_custkey", "o_orderpriority")
        .join(
            gated_broadcast(t.customer.select("c_custkey", "c_nationkey")),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .join(
            gated_broadcast(t.nation.select("n_nationkey", "n_name")),
            F.col("n_nationkey") == F.col("c_nationkey"),
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            dec38(F.count(F.lit(1))).alias("n_i"),
            F.sum(
                F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
            )
            .cast("decimal(38,0)")
            .alias("k_i"),
        )
        .localCheckpoint(eager=True)  # 25 rows; five consumers
    )
    tot = nat.agg(F.sum("n_i").alias("nn"), F.sum("k_i").alias("kk"))
    dd = (F.col("k_i") * F.col("nn") - F.col("n_i") * F.col("kk")).cast("double")
    z2 = F.floor(
        (dd * dd) * F.lit(1000000.0)
        / F.col("n_i").cast("double")
        / F.col("kk").cast("double")
        / (F.col("nn") - F.col("kk")).cast("double")
        + F.lit(0.5)
    ).cast("long")
    z = nat.crossJoin(F.broadcast(tot)).select(
        "nation", "n_i", "k_i", z2.alias("z2")
    )
    zb = z.select(F.col("nation").alias("nation_b"), F.col("z2").alias("z2_b"))
    before = (F.col("z2_b") > F.col("z2")) | (
        (F.col("z2_b") == F.col("z2")) & (F.col("nation_b") < F.col("nation"))
    )
    rk = (
        z.join(F.broadcast(zb), before, "left")
        .groupBy("nation", "n_i", "k_i", "z2")
        .agg((F.count("nation_b") + 1).alias("bh_rank"))
    )
    crit = F.create_map(
        *[F.lit(x) for kv in sorted(BH_CRIT_MICRO.items()) for x in kv]
    )
    rr = rk.select(
        "nation",
        "n_i",
        "k_i",
        "z2",
        "bh_rank",
        crit[F.col("bh_rank")].alias("crit_micro"),
        F.when(F.col("z2") >= crit[F.col("bh_rank")], 1).otherwise(0).alias(
            "raw_pass"
        ),
    )
    kstar = rr.filter(F.col("raw_pass") == 1).agg(
        F.coalesce(F.max("bh_rank"), F.lit(0).cast("long")).alias("k_star")
    )
    return (
        rr.crossJoin(F.broadcast(kstar))
        .select(
            "nation",
            F.col("n_i").cast("long").alias("n_orders"),
            F.col("k_i").cast("long").alias("n_urgent"),
            F.col("z2").alias("z2_micro"),
            F.col("bh_rank").cast("long").alias("bh_rank"),
            F.col("crit_micro").cast("long").alias("crit_micro"),
            F.when(F.col("bh_rank") <= F.col("k_star"), 1)
            .otherwise(0)
            .cast("long")
            .alias("reject"),
        )
        .orderBy("bh_rank", "nation")
    )
