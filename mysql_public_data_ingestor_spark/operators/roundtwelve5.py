"""Round-12 operator batch J.

Gates: raw-frame oracle parity, plan bars and Python replicas with
float anchors in ``tests/test_roundtwelve5.py``; SCALE.md §5j.11
records the ×10 ladder.

Batch theme — stationarity, privacy adversary baselines, and
categorical drift: the KPSS test in both level- and trend-stationarity
forms (the NULL-of-stationarity complement to the Mann-Kendall /
variance-ratio / Hurst alternatives already shipped), the attribute-
inference baseline accuracy over quasi-identifier cells (the
majority-vote adversary every anonymization review prices first), and
a first-half/second-half categorical value-drift audit (new/vanished
category detection — the VALUE-level sibling of ``dq_schema_drift``).
Every name was checked against the full registry inventory before
design (the §5j.7 authoring rule).

Reference parity note: the reference (Go ingestion pipeline) has no
analytics; these extend SURVEY §2.C warehouse statistics / privacy /
DQ.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import dec38, halfup_div, sql_halfup_div
from ..registry import register
from ..tables import Tables

# ---------------------------------------------------------------------------
# 1. KPSS stationarity test (level and trend forms) on daily counts
# ---------------------------------------------------------------------------

KPSS_LAGS = 4          # Bartlett truncation lag (fixed literal)
KPSS_RES_SCALE = 100   # centi residuals for the trend form (BP convention)


def _kpss_oracle() -> str:
    q = KPSS_LAGS
    hd = sql_halfup_div
    # Bartlett weights scaled by (q+1): (q+1) * gamma0 + 2 * sum (q+1-l) gamma_l
    lag_terms_lvl = " + ".join(
        f"2 * {q + 1 - l} * (SELECT CAST(sum(a.e * b.e) AS HUGEINT) "
        f"FROM lvl a JOIN lvl b ON b.k = a.k - {l})"
        for l in range(1, q + 1)
    )
    lag_terms_tr = " + ".join(
        f"2 * {q + 1 - l} * (SELECT CAST(sum(a.u * b.u) AS HUGEINT) "
        f"FROM tr a JOIN tr b ON b.k = a.k - {l})"
        for l in range(1, q + 1)
    )
    return f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day, CAST(count(*) AS HUGEINT) AS y
      FROM orders GROUP BY 1
    ), idx AS (
      SELECT a.day, a.y, CAST(count(*) AS HUGEINT) AS k,
             CAST(sum(b.y) AS HUGEINT) AS p
      FROM daily a JOIN daily b ON b.day <= a.day
      GROUP BY a.day, a.y
    ), tot AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(y) AS HUGEINT) AS s,
             CAST(sum(k) AS HUGEINT) AS sk,
             CAST(sum(k * k) AS HUGEINT) AS skk,
             CAST(sum(k * y) AS HUGEINT) AS sky
      FROM idx
    ), lvl AS (
      -- scaled demeaned series e'_k = n y_k - S and its prefix sum
      SELECT i.k, (t.n * i.y - t.s) AS e, (t.n * i.p - i.k * t.s) AS sp
      FROM idx i, tot t
    ), lvl_sums AS (
      SELECT CAST(sum(sp * sp) AS HUGEINT) AS ss2,
             (SELECT ({q + 1}::HUGEINT
                      * (SELECT CAST(sum(e * e) AS HUGEINT) FROM lvl))
                     + {lag_terms_lvl}) AS v
      FROM lvl
    ), coef AS (
      SELECT n, sk, s AS sy, (n * skk - sk * sk) AS d, (n * sky - sk * s) AS b
      FROM tot
    ), tr AS (
      -- centi-quantized OLS residuals (trend form)
      SELECT i.k,
             {hd(f'{KPSS_RES_SCALE}::HUGEINT * '
                 '(c.n * c.d * i.y - c.d * c.sy + c.b * c.sk - c.n * c.b * i.k)',
                 'c.n * c.d')} AS u
      FROM idx i, coef c
    ), trp AS (
      SELECT a.k, CAST(sum(b.u) AS HUGEINT) AS sp
      FROM tr a JOIN tr b ON b.k <= a.k GROUP BY a.k
    ), tr_sums AS (
      SELECT (SELECT CAST(sum(sp * sp) AS HUGEINT) FROM trp) AS ss2,
             (SELECT ({q + 1}::HUGEINT
                      * (SELECT CAST(sum(u * u) AS HUGEINT) FROM tr))
                     + {lag_terms_tr}) AS v
    )
    SELECT CAST(t.n AS BIGINT) AS n_days,
           CASE WHEN l.v > 0 THEN
             CAST({hd(f'1000000::HUGEINT * {q + 1} * l.ss2', 't.n * l.v')}
                  AS BIGINT)
           END AS kpss_level_micro,
           CASE WHEN r.v > 0 THEN
             CAST({hd(f'1000000::HUGEINT * {q + 1} * r.ss2', 't.n * r.v')}
                  AS BIGINT)
           END AS kpss_trend_micro
    FROM tot t, lvl_sums l, tr_sums r
    """


def _kpss_tbl(t: Tables) -> DataFrame:
    """Session-materialized per-k KPSS series (k, y, e, sp, u):
    e = n*y - S (scaled demeaned level), sp = n*P_k - k*S (scaled level
    prefix sums), u = centi-quantized OLS-detrended residual — all
    decimal(38,0), exact parquet round-trip. One ~2.4k-row table feeds
    every branch of the statistic (guide §2.4; VERDICT r14 item 1)."""
    from ..warehouse import ensure_table, fixture_tag

    tag = fixture_tag(t.spark, t.sf_dir, ("orders.parquet",))
    return ensure_table(
        t.spark,
        f"stats_kpss_idx_{tag}",
        lambda: _kpss_tbl_build(t).sortWithinPartitions("k"),
    )


def _kpss_tbl_build(t: Tables) -> DataFrame:
    """The unmaterialized build — the round-13 derivation chain
    unchanged, with the lvl (e, sp) and tr (u) columns attached to the
    rank index in one crossJoin of the shared 1-row sufficient-sum
    frame (value-identical: same expressions over the same scalars)."""
    daily = t.orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        dec38(F.count(F.lit(1))).alias("y")
    )
    b0 = daily.select(F.col("day").alias("day_b"), F.col("y").alias("yb"))
    idx = (
        daily.join(F.broadcast(b0), F.col("day_b") <= F.col("day"))
        .groupBy("day", "y")
        .agg(dec38(F.count(F.lit(1))).alias("k"), F.sum("yb").alias("p"))
    )
    tot = idx.agg(
        dec38(F.count(F.lit(1))).alias("n"),
        F.sum("y").alias("s"),
        F.sum("k").alias("sk"),
        F.sum(F.col("k") * F.col("k")).alias("skk"),
        F.sum(F.col("k") * F.col("y")).alias("sky"),
    )
    coefed = tot.select(
        "n",
        "s",
        "sk",
        (F.col("n") * F.col("skk") - F.col("sk") * F.col("sk")).alias("d"),
        (F.col("n") * F.col("sky") - F.col("sk") * F.col("s")).alias("b"),
    )
    rnum = (
        F.col("n") * F.col("d") * F.col("y")
        - F.col("d") * F.col("s")
        + F.col("b") * F.col("sk")
        - F.col("n") * F.col("b") * F.col("k")
    )
    return idx.crossJoin(F.broadcast(coefed)).select(
        "k",
        "y",
        (F.col("n") * F.col("y") - F.col("s")).alias("e"),
        (F.col("n") * F.col("p") - F.col("k") * F.col("s")).alias("sp"),
        halfup_div(
            F.lit(KPSS_RES_SCALE).cast("decimal(38,0)") * rnum,
            F.col("n") * F.col("d"),
        ).alias("u"),
    )


@register("stats_kpss_level_trend_daily", _kpss_oracle())
def stats_kpss_level_trend_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KPSS stationarity test on the daily order-count series, both
    forms: level-stationarity (partial sums of the demeaned series)
    and trend-stationarity (partial sums of the OLS-detrended
    residuals), each normalized by the Bartlett long-run variance at
    lag {KPSS_LAGS}. The NULL here is STATIONARITY — the mirror image
    of ``stats_mann_kendall_daily`` / ``events_variance_ratio_test`` /
    ``stats_hurst_rs_daily`` (whose nulls are no-trend / random-walk):
    running both directions is the standard unit-root protocol, and
    "KPSS rejects level but not trend" is precisely the signal that a
    deterministic trend (not differencing) is the right modeling fix.

    Exactness: the level form runs on the exact integer scaled series
    e' = n y - S with exact prefix sums n P_k - k S; the trend form on
    centi-quantized residuals from exact integer numerators (the
    Breusch-Pagan convention — the statistic is scale-invariant so
    only the single quantization matters); the Bartlett combination
    (q+1) g0 + 2 sum (q+1-l) g_l is exact integer arithmetic, and each
    statistic is ONE half-up 1e-6 division (q+1 carried to keep the
    weights rational).

    Scale shape: one fact scan to the ~2.4k-day table; prefix sums and
    lag pairings are calendar-bounded rank joins; everything after is
    scalar algebra.
    """
    t = Tables(spark, sf_dir)
    q = KPSS_LAGS
    # Round-15 optimization (guide §2.4; VERDICT r14 item 1): the
    # round-14 eager localCheckpoints of idx/lvl/tr serialized all
    # three builds into EVERY timed run — driver-contradicted
    # (5.87→8.47 s). The per-k series (k, y, e, sp, u) is a pure
    # function of the fixture (~2.4k rows, all decimal(38,0) — exact
    # parquet round-trip), so materialize it ONCE per (application,
    # fixture) via the warehouse mechanism the driver confirmed
    # elsewhere; each of the ~15 plan branches (tot, both Bartlett lag
    # ladders, trp, tr_ss2) is now a tiny 5-column parquet scan.
    tbl = _kpss_tbl(t)
    lvl = tbl.select("k", "e", "sp")

    def bartlett(df, col):
        g0 = df.agg(F.sum(F.col(col) * F.col(col)).alias("g")).select(
            (F.lit(q + 1).cast("decimal(38,0)") * F.col("g")).alias("acc")
        )
        acc = g0
        for l in range(1, q + 1):
            lag = df.select((F.col("k") + l).alias("k"), F.col(col).alias("xl"))
            gl = (
                df.join(lag, "k")
                .agg(F.sum(F.col(col) * F.col("xl")).alias("g"))
                .select((F.lit(2 * (q + 1 - l)).cast("decimal(38,0)") * F.col("g")).alias("gl"))
            )
            acc = acc.crossJoin(F.broadcast(gl)).select(
                (F.col("acc") + F.col("gl")).alias("acc")
            )
        return acc.select(F.col("acc").alias("v"))

    lvl_ss2 = lvl.agg(F.sum(F.col("sp") * F.col("sp")).alias("ss2"))
    lvl_v = bartlett(lvl.select("k", "e"), "e")

    tr = tbl.select("k", "u")
    trb = tr.select(F.col("k").alias("kb"), F.col("u").alias("ub"))
    trp = (
        tr.join(F.broadcast(trb), F.col("kb") <= F.col("k"))
        .groupBy("k")
        .agg(F.sum("ub").alias("sp"))
    )
    tr_ss2 = trp.agg(F.sum(F.col("sp") * F.col("sp")).alias("ss2"))
    tr_v = bartlett(tr, "u")

    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    qq = F.lit(q + 1).cast("decimal(38,0)")
    return (
        tbl.agg(dec38(F.count(F.lit(1))).alias("n"))
        .crossJoin(F.broadcast(lvl_ss2.select(F.col("ss2").alias("l_ss2"))))
        .crossJoin(F.broadcast(lvl_v.select(F.col("v").alias("l_v"))))
        .crossJoin(F.broadcast(tr_ss2.select(F.col("ss2").alias("t_ss2"))))
        .crossJoin(F.broadcast(tr_v.select(F.col("v").alias("t_v"))))
        .select(
            F.col("n").cast("long").alias("n_days"),
            F.when(
                F.col("l_v") > 0,
                halfup_div(m6 * qq * F.col("l_ss2"), F.col("n") * F.col("l_v")),
            )
            .cast("long")
            .alias("kpss_level_micro"),
            F.when(
                F.col("t_v") > 0,
                halfup_div(m6 * qq * F.col("t_ss2"), F.col("n") * F.col("t_v")),
            )
            .cast("long")
            .alias("kpss_trend_micro"),
        )
    )


# ---------------------------------------------------------------------------
# 2. Attribute-inference baseline accuracy over quasi-identifier cells
# ---------------------------------------------------------------------------


def _attr_inference_oracle() -> str:
    hd = sql_halfup_div
    return f"""
    WITH qi AS (
      SELECT c_nationkey AS nat,
             CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
             c_mktsegment AS sens
      FROM customer
    ), cells AS (
      SELECT nat, bal_band, sens, CAST(count(*) AS HUGEINT) AS c
      FROM qi GROUP BY nat, bal_band, sens
    ), per_cell AS (
      SELECT nat, bal_band,
             CAST(sum(c) AS HUGEINT) AS n_cell,
             CAST(max(c) AS HUGEINT) AS maj
      FROM cells GROUP BY nat, bal_band
    ), gsum AS (
      SELECT CAST(sum(n_cell) AS HUGEINT) AS n,
             CAST(sum(maj) AS HUGEINT) AS hits,
             CAST(count(*) AS BIGINT) AS n_cells
      FROM per_cell
    ), marg AS (
      SELECT CAST(max(s) AS HUGEINT) AS gmaj FROM (
        SELECT sens, sum(c) AS s FROM cells GROUP BY sens
      )
    )
    SELECT g.n_cells, CAST(g.n AS BIGINT) AS n_records,
           CAST({hd('1000000::HUGEINT * g.hits', 'g.n')} AS BIGINT)
             AS attacker_acc_micro,
           CAST({hd('1000000::HUGEINT * m.gmaj', 'g.n')} AS BIGINT)
             AS marginal_acc_micro,
           CASE WHEN g.n > m.gmaj THEN
             CAST({hd('1000000::HUGEINT * (g.hits - m.gmaj)', 'g.n - m.gmaj')}
                  AS BIGINT)
           END AS inference_lift_micro
    FROM gsum g, marg m
    """


@register("privacy_attribute_inference_baseline", _attr_inference_oracle())
def privacy_attribute_inference_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribute-inference baseline: an adversary who knows each
    customer's quasi-identifiers (nation, account-balance band) and
    guesses the MAJORITY market segment of that QI cell — the
    cell-majority accuracy versus the marginal-majority accuracy an
    adversary achieves with NO quasi-identifiers, and the normalized
    lift between them (Cramer-lambda form: how much of the remaining
    uncertainty the QIs remove). This is the first number an
    anonymization review prices — ``privacy_k_anonymity_audit`` counts
    small cells and ``privacy_l_diversity_audit`` counts distinct
    sensitive values, but neither says how ACCURATE the induced
    attack actually is.

    Exactness: all counts exact integers; the three accuracies are
    single half-up 1e-6 divisions (the lift denominator n - gmaj is
    the residual error mass of the marginal guesser — Goodman-Kruskal
    lambda's exact form); when the marginal guesser is already perfect
    (n == gmaj) the lift is NULL on both engines rather than a
    divide-by-zero (ADVICE r11).

    Scale shape: one customer scan partial-aggregating to the
    (nation x balance-band x segment) grid (bounded by the QI domain,
    not by rows); per-cell majorities and the three scalars are
    bounded-grid algebra.
    """
    t = Tables(spark, sf_dir)
    cells = t.customer.groupBy(
        F.col("c_nationkey").alias("nat"),
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_band"),
        F.col("c_mktsegment").alias("sens"),
    ).agg(dec38(F.count(F.lit(1))).alias("c"))
    per_cell = cells.groupBy("nat", "bal_band").agg(
        F.sum("c").alias("n_cell"), F.max("c").alias("maj")
    )
    glob = per_cell.agg(
        F.sum("n_cell").alias("n"),
        F.sum("maj").alias("hits"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
    )
    marg = cells.groupBy("sens").agg(F.sum("c").alias("s")).agg(
        F.max("s").alias("gmaj")
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    return glob.crossJoin(F.broadcast(marg)).select(
        "n_cells",
        F.col("n").cast("long").alias("n_records"),
        halfup_div(m6 * F.col("hits"), F.col("n")).cast("long").alias(
            "attacker_acc_micro"
        ),
        halfup_div(m6 * F.col("gmaj"), F.col("n")).cast("long").alias(
            "marginal_acc_micro"
        ),
        F.when(
            F.col("n") > F.col("gmaj"),
            halfup_div(
                m6 * (F.col("hits") - F.col("gmaj")), F.col("n") - F.col("gmaj")
            ).cast("long"),
        ).alias("inference_lift_micro"),
    )


# ---------------------------------------------------------------------------
# 3. First-half/second-half categorical value-drift audit
# ---------------------------------------------------------------------------


def _cat_drift_oracle() -> str:
    hd = sql_halfup_div
    parts = []
    for col_name, table, col, half_expr in (
        ("events.event_type", "events", "event_type",
         "epoch_us(ts) * 2 <= (SELECT min(epoch_us(ts)) + max(epoch_us(ts)) FROM events)"),
        ("documents.source", "documents", "source",
         "doc_id * 2 <= (SELECT min(doc_id) + max(doc_id) FROM documents)"),
        ("orders.o_orderpriority", "orders", "o_orderpriority",
         "epoch(CAST(o_orderdate AS TIMESTAMP)) * 2 <= "
         "(SELECT min(epoch(CAST(o_orderdate AS TIMESTAMP)))"
         " + max(epoch(CAST(o_orderdate AS TIMESTAMP))) FROM orders)"),
    ):
        parts.append(f"""
    SELECT '{col_name}' AS column_name,
           (SELECT CAST(count(DISTINCT {col}) AS BIGINT) FROM {table}
            WHERE {half_expr}) AS n_cats_first,
           (SELECT CAST(count(DISTINCT {col}) AS BIGINT) FROM {table}
            WHERE NOT ({half_expr})) AS n_cats_second,
           (SELECT CAST(count(*) AS BIGINT) FROM (
              SELECT DISTINCT {col} FROM {table} WHERE NOT ({half_expr})
              EXCEPT SELECT DISTINCT {col} FROM {table} WHERE {half_expr}
            )) AS n_new,
           (SELECT CAST(count(*) AS BIGINT) FROM (
              SELECT DISTINCT {col} FROM {table} WHERE {half_expr}
              EXCEPT SELECT DISTINCT {col} FROM {table} WHERE NOT ({half_expr})
            )) AS n_vanished""")
    unions = " UNION ALL ".join(parts)
    return f"""
    WITH levels AS ({unions})
    SELECT column_name, n_cats_first, n_cats_second, n_new, n_vanished,
           CASE WHEN n_cats_first + n_cats_second > 0 THEN
             CAST({hd('1000000::HUGEINT * (n_cats_first + n_cats_second'
                      ' - n_new - n_vanished)',
                      'n_cats_first + n_cats_second + n_new + n_vanished')}
                  AS BIGINT)
           END AS jaccard_micro
    FROM levels ORDER BY column_name
    """


@register("dq_category_drift_halves", _cat_drift_oracle())
def dq_category_drift_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical value-drift audit between the first and second half
    of each table's natural order (event time, document id, order
    date): per monitored low-cardinality column, the category counts
    in each half, the NEW categories (second half only — an upstream
    enum grew), the VANISHED ones (first half only — a source went
    dark), and the Jaccard overlap of the two category sets.
    ``dq_schema_drift`` detects COLUMN-level drift; this is the
    VALUE-level sibling — the check that catches a new event type or
    source feed before a downstream `pivot`/dictionary-encoded join
    silently drops it.

    Set identity used for the Jaccard: with F/S the per-half distinct
    counts, |intersection| = F - vanished = S - new and |union| =
    |intersection| + new + vanished, so 2|I| = F + S - new - vanished
    and 2|U| = F + S + new + vanished — the Jaccard is the exact ratio
    of those two integers (the replica pins it against directly
    computed category sets).

    Scale shape: per column one scan to the distinct category sets per
    half (domain-bounded aggregates); the half split is a broadcast
    min/max midpoint predicate, never a sort.
    """
    t = Tables(spark, sf_dir)
    m6 = F.lit(1_000_000).cast("decimal(38,0)")

    def audit(df, col, order_col_expr, label):
        mm = df.agg(
            (F.min(order_col_expr) + F.max(order_col_expr)).alias("mid2")
        )
        halves = df.crossJoin(F.broadcast(mm)).select(
            F.col(col).alias("v"),
            (order_col_expr * 2 <= F.col("mid2")).alias("first_half"),
        )
        sets = halves.groupBy("v").agg(
            F.max(F.when(F.col("first_half"), 1).otherwise(0)).alias("in_first"),
            F.max(F.when(~F.col("first_half"), 1).otherwise(0)).alias("in_second"),
        )
        return sets.agg(
            F.lit(label).alias("column_name"),
            F.sum("in_first").cast("long").alias("n_cats_first"),
            F.sum("in_second").cast("long").alias("n_cats_second"),
            F.sum(F.when((F.col("in_second") == 1) & (F.col("in_first") == 0), 1).otherwise(0))
            .cast("long")
            .alias("n_new"),
            F.sum(F.when((F.col("in_first") == 1) & (F.col("in_second") == 0), 1).otherwise(0))
            .cast("long")
            .alias("n_vanished"),
        )

    rows = audit(
        t.events, "event_type", F.unix_micros(F.col("ts")), "events.event_type"
    ).unionAll(
        audit(t.documents, "source", F.col("doc_id"), "documents.source")
    ).unionAll(
        audit(
            t.orders,
            "o_orderpriority",
            F.unix_seconds(F.to_timestamp(F.col("o_orderdate"))),
            "orders.o_orderpriority",
        )
    )
    total = F.col("n_cats_first") + F.col("n_cats_second")
    inter_union_num = total - F.col("n_new") - F.col("n_vanished")
    union_den = total + F.col("n_new") + F.col("n_vanished")
    return rows.select(
        "column_name",
        "n_cats_first",
        "n_cats_second",
        "n_new",
        "n_vanished",
        F.when(
            total > 0,
            halfup_div(m6 * dec38(inter_union_num), dec38(union_den)),
        )
        .cast("long")
        .alias("jaccard_micro"),
    ).orderBy("column_name")
