"""Round-13 direct registrations, batch W (circular statistics,
resampled operating points, PQ index quality, seasonal
diagnostics).

Five window-slot completions, each oracle-paired, replica-pinned and
plan-barred in ``tests/test_roundthirteen8.py`` (same-commit gate
rule). Every name was checked against the full 553-name registry
inventory before design (the SCALE §5j.7 authoring rule):

* ``stats_circular_weekday_concentration`` — circular resultant
  length / Rayleigh test of the order weekday distribution.
* ``ml_youden_threshold_jackknife`` — delete-one-block jackknife of
  the Youden-optimal operating point (threshold stability).
* ``embedding_pq_distortion_audit`` — per-subspace quantization
  distortion of the production PQ codebook.
* ``events_qs_seasonality_test`` — QS statistic (Ljung-Box at
  seasonal lags 7/14) on the differenced daily series.

Reference parity note: the reference (Go ingestion pipeline,
``/root/reference/main.go``) has no analytics; these extend SURVEY
§2.C warehouse statistics / graph / ML / embedding / time-series.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import dec38, halfup_div, sql_halfup_div
from ..registry import register
from ..tables import Tables

# ---------------------------------------------------------------------------
# 1. Circular concentration of the order weekday distribution
# ---------------------------------------------------------------------------

# 1e6-quantized cos/sin(2*pi*(dow-1)/7) for ISO dow 1..7 — fixed
# literals shared verbatim by both engines; re-derived independently
# in tests/test_roundthirteen8.py (the SCALE §5n anchor rule).
COS7_MICRO = {1: 1000000, 2: 623490, 3: -222521, 4: -900969,
              5: -900969, 6: -222521, 7: 623490}
SIN7_MICRO = {1: 0, 2: 781831, 3: 974928, 4: 433884,
              5: -433884, 6: -974928, 7: -781831}


def _circular_oracle() -> str:
    hd = sql_halfup_div
    cosc = " ".join(f"WHEN {d} THEN {c}" for d, c in sorted(COS7_MICRO.items()))
    sinc = " ".join(f"WHEN {d} THEN {c}" for d, c in sorted(SIN7_MICRO.items()))
    return f"""
    WITH dw AS (
      SELECT CAST(isodow(CAST(o_orderdate AS DATE)) AS BIGINT) AS dow,
             CAST(count(*) AS HUGEINT) AS n_d
      FROM orders GROUP BY 1
    ), s AS (
      SELECT CAST(sum(n_d) AS HUGEINT) AS n,
             CAST(sum(n_d * (CASE dow {cosc} END)) AS HUGEINT) AS c,
             CAST(sum(n_d * (CASE dow {sinc} END)) AS HUGEINT) AS sn,
             (SELECT dow FROM dw ORDER BY n_d DESC, dow ASC LIMIT 1)
               AS modal_dow
      FROM dw
    )
    SELECT CAST(n AS BIGINT) AS n, CAST(modal_dow AS BIGINT) AS modal_dow,
           CAST({hd('1000000::HUGEINT * (c * c + sn * sn)',
                    'n * n * 1000000000000::HUGEINT')} AS BIGINT)
             AS rbar_sq_micro,
           CAST({hd('1000::HUGEINT * (c * c + sn * sn)',
                    'n * 1000000000000::HUGEINT')} AS BIGINT)
             AS rayleigh_z_milli
    FROM s
    """


@register("stats_circular_weekday_concentration", oracle=_circular_oracle())
def stats_circular_weekday_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Circular concentration of order placement around the week:
    treat ISO weekday d as the angle 2 pi (d-1)/7 and report the
    squared mean resultant length Rbar^2 = (C^2 + S^2) / N^2 (Fisher,
    Statistical Analysis of Circular Data) and the Rayleigh statistic
    z = N Rbar^2 — the uniformity test that respects the week's
    WRAPAROUND (a chi-square sees Mon..Sun as unordered categories;
    the circular statistic knows Sunday neighbors Monday, so a
    weekend hump concentrates mass in one arc and lights up z).
    Squared form keeps exact rational arithmetic (the Guiraud/Cpk
    convention); the modal weekday rides along.

    Exactness: C = sum n_d cos_q, S = sum n_d sin_q over the 7-cell
    weekday table with 1e6-quantized trig LITERALS (constant-anchored
    against an independent re-derivation) — pure integers; one
    half-up division each for Rbar^2 (micro) and z (milli). Headroom:
    C^2 peaks ~ (N * 1e6)^2 = 1e36 at 1e12 rows — inside
    decimal(38,0)/HUGEINT (documented bound).

    Scale shape: one fact scan partial-aggregates to 7 weekday cells;
    1 row out.
    """
    t = Tables(spark, sf_dir)
    cosc = F.create_map(
        *[F.lit(x) for kv in sorted(COS7_MICRO.items()) for x in kv]
    )
    sinc = F.create_map(
        *[F.lit(x) for kv in sorted(SIN7_MICRO.items()) for x in kv]
    )
    dow = (F.weekday(F.to_date("o_orderdate")) + 1).cast("long")
    dw = t.orders.select(dow.alias("dow")).groupBy("dow").agg(
        dec38(F.count(F.lit(1))).alias("n_d")
    )
    s = dw.agg(
        F.sum("n_d").alias("n"),
        F.sum(F.col("n_d") * dec38(cosc[F.col("dow")])).alias("c"),
        F.sum(F.col("n_d") * dec38(sinc[F.col("dow")])).alias("sn"),
        F.min_by("dow", F.struct((-F.col("n_d")).alias("a"), F.col("dow").alias("b")))
        .alias("modal_dow"),
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    t12 = F.lit(10**12).cast("decimal(38,0)")
    r2 = F.col("c") * F.col("c") + F.col("sn") * F.col("sn")
    return s.select(
        F.col("n").cast("long").alias("n"),
        F.col("modal_dow").cast("long").alias("modal_dow"),
        halfup_div(m6 * r2, F.col("n") * F.col("n") * t12)
        .cast("long")
        .alias("rbar_sq_micro"),
        halfup_div(F.lit(1000).cast("decimal(38,0)") * r2, F.col("n") * t12)
        .cast("long")
        .alias("rayleigh_z_milli"),
    )


# ---------------------------------------------------------------------------
# 3. Delete-one-block jackknife of the Youden-optimal threshold
# ---------------------------------------------------------------------------

YJ_BLOCKS = 32


def _youden_jk_oracle() -> str:
    from .ml import _scored_labeled_sql

    hd = sql_halfup_div
    return (
        _scored_labeled_sql()
        + f"""
    , gb AS (
      SELECT score_q, CAST(doc_id % {YJ_BLOCKS} AS BIGINT) AS b,
             CAST(count(*) AS BIGINT) AS nb,
             CAST(sum(label) AS BIGINT) AS posb
      FROM scored GROUP BY 1, 2
    ), grid AS (
      SELECT score_q, CAST(sum(nb) AS BIGINT) AS n,
             CAST(sum(posb) AS BIGINT) AS pos
      FROM gb GROUP BY 1
    ), btot AS (
      SELECT b, CAST(sum(nb) AS BIGINT) AS nb_tot,
             CAST(sum(posb) AS BIGINT) AS posb_tot
      FROM gb GROUP BY b
    ), tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(pos) AS BIGINT) AS p
      FROM grid
    ), reps AS (
      SELECT -1 AS b, 0::BIGINT AS nb_tot, 0::BIGINT AS posb_tot FROM tot
      UNION ALL SELECT b, nb_tot, posb_tot FROM btot
    ), delgrid AS (
      SELECT r.b, g.score_q AS v,
             g.n - coalesce(x.nb, 0) AS n_r,
             g.pos - coalesce(x.posb, 0) AS pos_r
      FROM reps r JOIN grid g ON true
      LEFT JOIN gb x ON x.b = r.b AND x.score_q = g.score_q
    ), cum AS (
      SELECT d.b, d.v,
             sum(d.n_r) OVER (PARTITION BY d.b ORDER BY d.v DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_sel,
             sum(d.pos_r) OVER (PARTITION BY d.b ORDER BY d.v DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp
      FROM delgrid d
    ), jv AS (
      SELECT c.b, c.v, c.n_sel, c.tp,
             (t.p - r.posb_tot) AS pp,
             (t.nn - r.nb_tot) - (t.p - r.posb_tot) AS qq
      FROM cum c JOIN reps r ON r.b = c.b, tot t
    ), jm AS (
      SELECT b, v,
             {hd('1000000::HUGEINT * (CAST(tp AS HUGEINT) * qq - (n_sel - tp) * CAST(pp AS HUGEINT))',
                 'CAST(pp AS HUGEINT) * qq')} AS j_micro
      FROM jv WHERE pp > 0 AND qq > 0
    ), best AS (
      SELECT b, v, j_micro FROM (
        SELECT b, v, j_micro,
               row_number() OVER (PARTITION BY b
                 ORDER BY j_micro DESC, v ASC) AS rn
        FROM jm
      ) WHERE rn = 1
    ), full_b AS (
      SELECT v AS thr_full, j_micro AS j_full FROM best WHERE b = -1
    ), jk AS (
      SELECT CAST(count(*) AS BIGINT) AS n_blocks,
             CAST(min(v) AS BIGINT) AS thr_jk_min,
             CAST(max(v) AS BIGINT) AS thr_jk_max,
             CAST(count(DISTINCT v) AS BIGINT) AS n_distinct_thr,
             CAST(sum(j_micro) AS HUGEINT) AS sj
      FROM best WHERE b >= 0
    ), jk2 AS (
      SELECT k.*, {hd('k.sj', 'k.n_blocks')} AS jbar FROM jk k
    ), var_ AS (
      SELECT CAST(sum((b.j_micro - k.jbar) * (b.j_micro - k.jbar))
                  AS HUGEINT) AS ss
      FROM best b, jk2 k WHERE b.b >= 0
    )
    SELECT k.n_blocks, CAST(f.thr_full AS BIGINT) AS thr_full,
           CAST(f.j_full AS BIGINT) AS j_full_micro,
           k.thr_jk_min, k.thr_jk_max, k.n_distinct_thr,
           CAST(k.jbar AS BIGINT) AS j_jk_mean_micro,
           CAST({hd('(k.n_blocks - 1) * v.ss', 'k.n_blocks')} AS BIGINT)
             AS jk_var_micro2
    FROM jk2 k, full_b f, var_ v
    """
    )


@register("ml_youden_threshold_jackknife", oracle=_youden_jk_oracle())
def ml_youden_threshold_jackknife(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-block jackknife of the Youden-optimal operating
    point: re-derive the J-maximizing threshold on each of 32
    leave-one-block-out replicas (blocks = doc_id % 32, the
    ``stats_jackknife_mean_ci`` RNG-free resampling convention) and
    report how stable the DEPLOYED number actually is — the min/max/
    distinct-count of the replica thresholds and the jackknife
    variance of J. ``ml_youden_optimal_threshold`` publishes a single
    point; this says whether that point is a plateau (one distinct
    threshold across replicas) or a knife-edge the next data batch
    will move (Efron & Stein 1981).

    Exactness: the full grid and every replica grid are exact integer
    counts (replica = full minus the block's per-score contributions,
    computed once from ONE (score, block) partial aggregate); J
    compares as ONE half-up micro division of cross-multiplied
    integers per candidate; the full data rides as replica b = -1 so
    every cumulative is block-partitioned (no global window). The
    jackknife variance is pure integer arithmetic on the quantized
    replica maxima.

    Scale shape: one scored scan to the (score, block) grid
    (<= 10001 x 32 POST-AGGREGATION rows); cumulatives and rankings
    partition by replica (hash-partitioned windows, never
    SinglePartition); 1 row out.
    """
    from pyspark.sql.window import Window

    from .ml import _scored_labeled

    t = Tables(spark, sf_dir)
    gb = (
        _scored_labeled(t)
        .groupBy(
            "score_q", (F.col("doc_id") % YJ_BLOCKS).cast("long").alias("b")
        )
        .agg(F.count(F.lit(1)).alias("nb"), F.sum("label").alias("posb"))
        .localCheckpoint(eager=True)  # bounded grid; many consumers
    )
    grid = gb.groupBy("score_q").agg(
        F.sum("nb").alias("n"), F.sum("posb").alias("pos")
    )
    btot = gb.groupBy("b").agg(
        F.sum("nb").alias("nb_tot"), F.sum("posb").alias("posb_tot")
    )
    tot = grid.agg(F.sum("n").alias("nn"), F.sum("pos").alias("p"))
    reps = btot.unionByName(
        tot.select(
            F.lit(-1).cast("long").alias("b"),
            F.lit(0).cast("long").alias("nb_tot"),
            F.lit(0).cast("long").alias("posb_tot"),
        )
    )
    delgrid = (
        grid.crossJoin(F.broadcast(reps))
        .join(
            gb.select(
                F.col("b").alias("b_x"),
                F.col("score_q").alias("v_x"),
                "nb",
                "posb",
            ),
            (F.col("b_x") == F.col("b")) & (F.col("v_x") == F.col("score_q")),
            "left",
        )
        .select(
            "b",
            F.col("score_q").alias("v"),
            (F.col("n") - F.coalesce(F.col("nb"), F.lit(0))).alias("n_r"),
            (F.col("pos") - F.coalesce(F.col("posb"), F.lit(0))).alias("pos_r"),
        )
    )
    w = Window.partitionBy("b").orderBy(F.col("v").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = delgrid.select(
        "b",
        "v",
        F.sum("n_r").over(w).alias("n_sel"),
        F.sum("pos_r").over(w).alias("tp"),
    )
    jv = (
        cum.join(
            reps.select(F.col("b"), "nb_tot", "posb_tot"), "b"
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "b",
            "v",
            "n_sel",
            "tp",
            (F.col("p") - F.col("posb_tot")).alias("pp"),
            ((F.col("nn") - F.col("nb_tot")) - (F.col("p") - F.col("posb_tot")))
            .alias("qq"),
        )
        .filter((F.col("pp") > 0) & (F.col("qq") > 0))
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    jm = jv.select(
        "b",
        "v",
        halfup_div(
            m6
            * (
                dec38(F.col("tp")) * F.col("qq")
                - dec38(F.col("n_sel") - F.col("tp")) * F.col("pp")
            ),
            dec38(F.col("pp")) * F.col("qq"),
        ).alias("j_micro"),
    )
    wb = Window.partitionBy("b").orderBy(F.col("j_micro").desc(), F.col("v").asc())
    best = (
        jm.withColumn("rn", F.row_number().over(wb))
        .filter(F.col("rn") == 1)
        .select("b", "v", "j_micro")
        .localCheckpoint(eager=True)  # 33 rows; consumed four ways
    )
    full_b = best.filter(F.col("b") == -1).select(
        F.col("v").alias("thr_full"), F.col("j_micro").alias("j_full")
    )
    jkrows = best.filter(F.col("b") >= 0)
    jk = jkrows.agg(
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        F.min("v").cast("long").alias("thr_jk_min"),
        F.max("v").cast("long").alias("thr_jk_max"),
        F.countDistinct("v").cast("long").alias("n_distinct_thr"),
        F.sum("j_micro").alias("sj"),
    ).select(
        "*", halfup_div(F.col("sj"), dec38(F.col("n_blocks"))).alias("jbar")
    )
    var_ = (
        jkrows.crossJoin(F.broadcast(jk.select("jbar")))
        .select(
            ((F.col("j_micro") - F.col("jbar")) * (F.col("j_micro") - F.col("jbar")))
            .alias("d2")
        )
        .agg(F.sum("d2").alias("ss"))
    )
    return (
        jk.crossJoin(F.broadcast(full_b))
        .crossJoin(F.broadcast(var_))
        .select(
            "n_blocks",
            F.col("thr_full").cast("long").alias("thr_full"),
            F.col("j_full").cast("long").alias("j_full_micro"),
            "thr_jk_min",
            "thr_jk_max",
            "n_distinct_thr",
            F.col("jbar").cast("long").alias("j_jk_mean_micro"),
            halfup_div(
                dec38(F.col("n_blocks") - 1) * F.col("ss"), dec38(F.col("n_blocks"))
            )
            .cast("long")
            .alias("jk_var_micro2"),
        )
    )


# ---------------------------------------------------------------------------
# 4. PQ codebook distortion audit
# ---------------------------------------------------------------------------


def _pq_distortion_oracle() -> str:
    from .similarity import PQ_CODEWORDS, PQ_M, PQ_SUBDIM

    hd = sql_halfup_div
    subs = " UNION ALL ".join(
        f"SELECT vec_id, {m} AS m, v[{m * PQ_SUBDIM + 1}:{(m + 1) * PQ_SUBDIM}] AS sv "
        "FROM emb"
        for m in range(PQ_M)
    )
    cbs = " UNION ALL ".join(
        f"SELECT vec_id AS cid, {m} AS m, v[{m * PQ_SUBDIM + 1}:{(m + 1) * PQ_SUBDIM}] AS cv "
        f"FROM emb WHERE vec_id < {PQ_CODEWORDS}"
        for m in range(PQ_M)
    )
    return f"""
    WITH emb AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), sub AS ({subs}), cb AS ({cbs}),
    dists AS (
      SELECT s.vec_id, s.m, c.cid,
             list_sum(list_transform(range(1, {PQ_SUBDIM} + 1),
                      i -> (s.sv[i] - c.cv[i]) * (s.sv[i] - c.cv[i]))) AS d2
      FROM sub s JOIN cb c USING (m)
    ), assigned AS (
      SELECT m, cid, CAST(floor(d2 * 1000000.0 + 0.5) AS BIGINT) AS d2q
      FROM (
        SELECT vec_id, m, cid, d2,
               row_number() OVER (PARTITION BY vec_id, m
                                  ORDER BY round(d2, 9), cid) AS rn
        FROM dists
      ) WHERE rn = 1
    )
    SELECT CAST(m AS BIGINT) AS m,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST({hd('CAST(sum(d2q) AS HUGEINT)', 'count(*)')} AS BIGINT)
             AS mean_d2_micro,
           CAST(max(d2q) AS BIGINT) AS max_d2_micro,
           CAST(count(DISTINCT cid) AS BIGINT) AS n_codewords_used
    FROM assigned GROUP BY m ORDER BY m
    """


@register("embedding_pq_distortion_audit", oracle=_pq_distortion_oracle())
def embedding_pq_distortion_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-subspace quantization distortion of the production PQ
    codebook: for each of the M=4 subspaces, the mean and max squared
    distance between a vector's sub-block and its assigned codeword,
    plus how many of the 8 codewords the assignment actually uses —
    the index-quality report behind ``similarity_pq_adc_topk`` /
    ``similarity_ivfpq_topk`` (Jégou, Douze & Schmid 2011: ADC error
    is bounded by exactly this quantization distortion). A subspace
    with high distortion or dead codewords is where recall leaks and
    the codebook needs re-training.

    Derivation sharing: the subspace/codebook head is
    ``similarity._pq_sub_cb`` — the SAME object the ADC search scans,
    extracted (not rewritten) in round 13; codeword assignment reuses
    the (round(d2, 9), cid) argmin tie-break verbatim.

    Exactness: the winning distance quantizes once at micro (floor
    +0.5 of the deterministically-selected double), then all
    aggregates are exact integers with ONE half-up mean division.

    Scale shape: the distance computation is the ADC assign stage
    (vectors x 8 codewords, codebook broadcast, map-side); the audit
    aggregate is 4-key bounded. 4 rows out.
    """
    from .similarity import _pq_sub_cb

    t = Tables(spark, sf_dir)
    sub, cb = _pq_sub_cb(t)
    d2 = F.aggregate(
        F.zip_with(F.col("sv"), F.col("cv"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    assigned = (
        sub.join(F.broadcast(cb), "m")
        .select("vec_id", "m", "cid", d2.alias("d2"))
        .groupBy("vec_id", "m")
        .agg(
            F.min(
                F.struct(
                    F.round(F.col("d2"), 9).alias("d2r"),
                    F.col("cid").alias("cid"),
                    F.col("d2").alias("d2"),
                )
            ).alias("b")
        )
        .select(
            "m",
            F.col("b.cid").alias("cid"),
            F.floor(F.col("b.d2") * F.lit(1e6) + F.lit(0.5)).cast("long").alias(
                "d2q"
            ),
        )
    )
    return (
        assigned.groupBy("m")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            halfup_div(F.sum(dec38(F.col("d2q"))), dec38(F.count(F.lit(1))))
            .cast("long")
            .alias("mean_d2_micro"),
            F.max("d2q").alias("max_d2_micro"),
            F.countDistinct("cid").cast("long").alias("n_codewords_used"),
        )
        .select(F.col("m").cast("long").alias("m"), "n_vecs", "mean_d2_micro",
                "max_d2_micro", "n_codewords_used")
        .orderBy("m")
    )


# ---------------------------------------------------------------------------
# 5. QS seasonality test on the differenced daily series
# ---------------------------------------------------------------------------

QS_LAGS = (7, 14)


def _qs_oracle() -> str:
    from .roundeleven2 import _SQL_DAILY_COUNTS_IDX

    lag_terms = " + ".join(
        f"((CAST(c{L} AS DOUBLE) * CAST(c{L} AS DOUBLE)) / CAST(c0 AS DOUBLE)"
        f" / CAST(c0 AS DOUBLE) / CAST(m - {L} AS DOUBLE))"
        for L in QS_LAGS
    )
    lag_cols = ", ".join(
        f"""(SELECT CAST(sum(a.w * b.w) AS HUGEINT) FROM wser a
             JOIN wser b ON b.j = a.j + {L}) AS c{L}"""
        for L in QS_LAGS
    )
    r_cols = ", ".join(
        f"""CASE WHEN c0 > 0 THEN
              CAST(floor(abs(CAST(c{L} AS DOUBLE) / CAST(c0 AS DOUBLE))
                         * 1000000.0 + 0.5) AS BIGINT)
              * (CASE WHEN c{L} < 0 THEN -1 ELSE 1 END) END AS r{L}_micro"""
        for L in QS_LAGS
    )
    return f"""
    WITH {_SQL_DAILY_COUNTS_IDX.strip()}
    , zser AS (
      SELECT CAST(a.k - 1 AS HUGEINT) AS j, CAST(a.y - b.y AS HUGEINT) AS z
      FROM idx a JOIN idx b ON b.k = a.k - 1
    ), mt AS (
      SELECT CAST(count(*) AS HUGEINT) AS m, CAST(sum(z) AS HUGEINT) AS sz
      FROM zser
    ), wser AS (
      SELECT z.j, (t.m * z.z - t.sz) AS w FROM zser z, mt t
    ), cc AS (
      SELECT (SELECT CAST(sum(w * w) AS HUGEINT) FROM wser) AS c0,
             {lag_cols},
             (SELECT m FROM mt) AS m
    )
    SELECT CAST(m AS BIGINT) AS m, {r_cols},
           CASE WHEN c0 > 0 THEN CAST(floor(
             ({lag_terms}) * CAST(m * (m + 2) AS DOUBLE) * 1000.0 + 0.5)
             AS BIGINT) END AS qs_milli
    FROM cc
    """


@register("events_qs_seasonality_test", oracle=_qs_oracle())
def events_qs_seasonality_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QS residual-seasonality test on the FIRST-DIFFERENCED daily
    order series: the Ljung-Box statistic restricted to the seasonal
    lags {{7, 14}} (the X-13ARIMA-SEATS / `seasonal` package QS
    diagnostic) — "after removing the trend by differencing, is there
    still weekly structure?". ``stats_ljung_box_daily`` sweeps the
    short lags of the level series (trend leaks into every lag); QS
    isolates exactly the two harmonics a weekly cycle would leave in
    the differences, which is the accept/reject gate seasonal
    adjustment pipelines publish.

    Exactness: differencing and centering stay integer (w_j = m z_j -
    sum z, the N-scaled centering shared with the DFA profile); the
    lag products c_7 / c_14 and the energy c_0 are exact integer sums
    over calendar-bounded lag joins; each r_L and the QS combination
    are ONE shape-matched IEEE double sequence each (the Dunn
    precedent), sign-carried for r_L, quantized at micro/milli.

    Scale shape: one fact scan partial-aggregates to the calendar-day
    domain; the difference and lag joins are day-keyed equi-joins on
    the POST-AGGREGATION calendar table; 1 row out.
    """
    from .roundeleven2 import _daily_counts_idx

    t = Tables(spark, sf_dir)
    idx = _daily_counts_idx(t).localCheckpoint(eager=True)
    prev = idx.select((F.col("k") + 1).alias("k"), F.col("y").alias("y_prev"))
    zser = (
        idx.join(prev, "k")
        .select((F.col("k") - 1).alias("j"), (F.col("y") - F.col("y_prev")).alias("z"))
        .localCheckpoint(eager=True)  # calendar-sized; four consumers
    )
    mt = zser.agg(dec38(F.count(F.lit(1))).alias("m"), F.sum("z").alias("sz"))
    wser = zser.crossJoin(F.broadcast(mt)).select(
        "j", (F.col("m") * F.col("z") - F.col("sz")).alias("w"), "m"
    )
    c0 = wser.agg(F.sum(F.col("w") * F.col("w")).alias("c0"), F.first("m").alias("m"))
    lag_aggs = {}
    for L in QS_LAGS:
        b = wser.select((F.col("j") + L).alias("j"), F.col("w").alias("w_b"))
        lag_aggs[L] = (
            wser.join(b, "j")
            .agg(F.sum(F.col("w_b") * F.col("w")).alias(f"c{L}"))
        )
    cc = c0
    for L in QS_LAGS:
        cc = cc.crossJoin(F.broadcast(lag_aggs[L]))
    md = F.col("m").cast("double")
    cols = [F.col("m").cast("long").alias("m")]
    qs_terms = None
    for L in QS_LAGS:
        cL = F.col(f"c{L}")
        r = F.floor(
            F.abs(cL.cast("double") / F.col("c0").cast("double")) * F.lit(1e6)
            + F.lit(0.5)
        ).cast("long") * F.when(cL < 0, F.lit(-1)).otherwise(F.lit(1))
        cols.append(F.when(F.col("c0") > 0, r).alias(f"r{L}_micro"))
        term = (
            (cL.cast("double") * cL.cast("double"))
            / F.col("c0").cast("double")
            / F.col("c0").cast("double")
            / (F.col("m") - L).cast("double")
        )
        qs_terms = term if qs_terms is None else qs_terms + term
    qs = F.floor(
        qs_terms * (F.col("m") * (F.col("m") + 2)).cast("double") * F.lit(1000.0)
        + F.lit(0.5)
    ).cast("long")
    cols.append(F.when(F.col("c0") > 0, qs).alias("qs_milli"))
    return cc.select(*cols)
