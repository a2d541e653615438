"""Round-12 operator batch G.

Gates: raw-frame oracle parity, plan bars and Python replicas with
float anchors in ``tests/test_roundtwelve2.py``; SCALE.md §5j.8
records the ×10 ladder.

Batch theme — plan/layout cost audits and ordered-category tests: a
mutual-information audit between language and document-length
bucket, the Cochran–Armitage trend test for a binary outcome across
ordered priorities, a min/max data-skipping effectiveness audit over
month partitions, and the session-count sensitivity curve across gap
thresholds. (Three first-draft ops — a daily Grubbs test, a CUSUM
locator, and a score-KS — were dropped PRE-BANK when the inventory
check found ``stats_grubbs_acctbal_nation``, ``events_cusum_
changepoint`` and ``ml_score_ks_separation`` already covering them;
the inventory check is now part of the authoring rule.)

Reference parity note: the reference (Go ingestion pipeline,
``/root/reference/main.go``) has no analytics; these extend SURVEY
§2.C warehouse statistics / graph analytics / LM-scoring audits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import dec38, halfup_div, sql_halfup_div
from ..registry import register
from ..tables import Tables


# ---------------------------------------------------------------------------
# 2. Mutual information between language and document-length bucket
# ---------------------------------------------------------------------------

MI_BUCKET_W = 50   # tokens per length bucket
MI_BUCKET_MAX = 4  # buckets 0..4 (last one open-ended)


def _mi_oracle() -> str:
    from ..functions.detmath import sql_det_ln_steps
    from .corpus import _SQL_TOKENS

    hd = sql_halfup_div
    return f"""
    WITH docs AS (
      SELECT lang,
             least(CAST(len({_SQL_TOKENS}) AS BIGINT) // {MI_BUCKET_W},
                   {MI_BUCKET_MAX}) AS lb
      FROM documents
    ), cells AS (
      SELECT lang, lb, CAST(count(*) AS BIGINT) AS c FROM docs GROUP BY lang, lb
    ), rows_ AS (SELECT lang, CAST(sum(c) AS BIGINT) AS r FROM cells GROUP BY lang),
    cols_ AS (SELECT lb, CAST(sum(c) AS BIGINT) AS cc FROM cells GROUP BY lb),
    nn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cells),
    joint AS (
      SELECT ce.lang, ce.lb, ce.c, r.r, co.cc, nn.n,
             ce.c * nn.n AS num_arg, r.r * co.cc AS den_arg
      FROM cells ce
      JOIN rows_ r ON r.lang = ce.lang
      JOIN cols_ co ON co.lb = ce.lb, nn
    ), {sql_det_ln_steps('joint', 'num_arg', 'ln_num')},
    {sql_det_ln_steps('ln_num_rel', 'den_arg', 'ln_den')}
    SELECT lang, lb, CAST(c AS BIGINT) AS n_docs,
           CAST({hd('c::HUGEINT * (ln_num - ln_den)', 'n::HUGEINT')} AS BIGINT)
             AS mi_contrib_micro
    FROM ln_den_rel ORDER BY lang, lb
    """


@register("corpus_mi_lang_length", _mi_oracle())
def corpus_mi_lang_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between document language and length bucket
    (50-token buckets, top-coded at {MI_BUCKET_MAX}): per-cell
    contribution c_ij/n * ln(n c_ij / (r_i c_j)) in micro-nats — sums
    to I(lang; length). Near-zero MI says one packing/truncation
    policy serves all languages; high MI says per-language sequence
    budgets differ enough that a shared ``corpus_pack_sequences``
    target length systematically truncates one language's documents
    (the decision input for per-lang packing, beside
    ``corpus_truncation_loss_curve`` which prices ONE policy globally).

    Exactness: both ln arguments are exact integer products (c*n and
    r*c, within double-exact range at any realistic shard size); each
    goes through the det-ln fixed-point chain (identical int64
    micro-lns on both engines); the contribution is ONE half-up
    division of the exact integer c * (ln_num - ln_den) by n.

    Scale shape: one tokenize scan partial-aggregating to <= |langs| x
    5 cells; marginals and lns are bounded-grid algebra after.
    """
    from ..functions.detmath import det_ln_q
    from ..functions.textnorm import whitespace_tokens

    t = Tables(spark, sf_dir)
    lb = F.least(
        F.floor(F.size(whitespace_tokens(F.col("text"))) / MI_BUCKET_W).cast("long"),
        F.lit(MI_BUCKET_MAX).cast("long"),
    )
    cells = t.documents.groupBy("lang", lb.alias("lb")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    rows_ = cells.groupBy("lang").agg(F.sum("c").cast("long").alias("r"))
    cols_ = cells.groupBy("lb").agg(F.sum("c").cast("long").alias("cc"))
    nn = cells.agg(F.sum("c").cast("long").alias("n"))
    joint = (
        cells.join(F.broadcast(rows_), "lang")
        .join(F.broadcast(cols_), "lb")
        .crossJoin(F.broadcast(nn))
    )
    ln_num = det_ln_q((F.col("c") * F.col("n")).cast("double"))
    ln_den = det_ln_q((F.col("r") * F.col("cc")).cast("double"))
    return joint.select(
        "lang",
        "lb",
        F.col("c").alias("n_docs"),
        halfup_div(dec38(F.col("c")) * dec38(ln_num - ln_den), dec38(F.col("n")))
        .cast("long")
        .alias("mi_contrib_micro"),
    ).orderBy("lang", "lb")


# ---------------------------------------------------------------------------
# 3. Cochran–Armitage trend test: order status across ordered priorities
# ---------------------------------------------------------------------------


def _armitage_oracle() -> str:
    hd = sql_halfup_div
    return f"""
    WITH lab AS (
      SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS j,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS pos
      FROM orders
    ), cells AS (
      SELECT j, CAST(count(*) AS HUGEINT) AS n_j,
             CAST(sum(pos) AS HUGEINT) AS r_j
      FROM lab GROUP BY j
    ), tot AS (
      SELECT CAST(sum(n_j) AS HUGEINT) AS n,
             CAST(sum(r_j) AS HUGEINT) AS r,
             CAST(sum(j * n_j) AS HUGEINT) AS sns,
             CAST(sum(j * j * n_j) AS HUGEINT) AS snss
      FROM cells
    ), tstat AS (
      SELECT t.n, t.r,
             (SELECT sum(c.j * (t.n * c.r_j - c.n_j * t.r)) FROM cells c) AS tn,
             (t.r * (t.n - t.r) * (t.n * t.snss - t.sns * t.sns)) AS var_s
      FROM tot t
    )
    SELECT c.j, CAST(c.n_j AS BIGINT) AS n_orders, CAST(c.r_j AS BIGINT) AS n_pos,
           CAST({hd('1000000::HUGEINT * c.r_j', 'c.n_j')} AS BIGINT)
             AS p_hat_micro,
           CASE WHEN t.var_s > 0 THEN
             CAST({hd('1000000::HUGEINT * t.tn * t.tn * t.n', 't.var_s')} AS BIGINT)
               * (CASE WHEN t.tn < 0 THEN -1 ELSE 1 END)
           END AS trend_z_sq_signed_micro
    FROM cells c, tstat t ORDER BY c.j
    """


@register("stats_cochran_armitage_trend", _armitage_oracle())
def stats_cochran_armitage_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran–Armitage trend test: does the proportion of finished
    ('F') orders TREND monotonically across the five ordered priority
    levels? The chi-square independence family
    (``stats_chi_square_lang_source``, ``stats_g_test_dow_type``)
    spends its df on ANY deviation; this test spends ONE df on the
    ordered alternative — far more powerful when the question is "does
    urgency change the outcome RATE monotonically", the same reason
    ``stats_jonckheere_terpstra_priority`` exists for continuous
    outcomes (this is its binary-outcome sibling).

    Exactness: T*N = sum_j j (N r_j - n_j R) and Var*N^3 =
    R(N-R)(N sum n j^2 - (sum n j)^2) are exact integers; the signed
    squared statistic Z^2 = (TN)^2 N / Var*N^3-scaled is ONE half-up
    1e-6 division, sign carried from T (positive = completion rate
    rises toward LOW priority numbers... i.e. with j).

    Scale shape: one fact scan partial-aggregating to 5 (priority)
    cells; everything after is 5-row algebra.
    """
    t = Tables(spark, sf_dir)
    lab = t.orders.select(
        F.substring("o_orderpriority", 1, 1).cast("long").alias("j"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("pos"),
    )
    cells = lab.groupBy("j").agg(
        dec38(F.count(F.lit(1))).alias("n_j"), dec38(F.sum("pos")).alias("r_j")
    )
    tot = cells.agg(
        F.sum("n_j").alias("n"),
        F.sum("r_j").alias("r"),
        F.sum(dec38(F.col("j")) * F.col("n_j")).alias("sns"),
        F.sum(dec38(F.col("j")) * F.col("j") * F.col("n_j")).alias("snss"),
    )
    tn_parts = cells.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            dec38(F.col("j")) * (F.col("n") * F.col("r_j") - F.col("n_j") * F.col("r"))
        ).alias("tn")
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    stat = (
        tot.crossJoin(F.broadcast(tn_parts))
        .select(
            "tn",
            (
                F.col("r")
                * (F.col("n") - F.col("r"))
                * (F.col("n") * F.col("snss") - F.col("sns") * F.col("sns"))
            ).alias("var_s"),
            "n",
        )
    )
    return (
        cells.crossJoin(F.broadcast(stat))
        .select(
            "j",
            F.col("n_j").cast("long").alias("n_orders"),
            F.col("r_j").cast("long").alias("n_pos"),
            halfup_div(m6 * F.col("r_j"), F.col("n_j")).cast("long").alias("p_hat_micro"),
            F.when(
                F.col("var_s") > 0,
                halfup_div(m6 * F.col("tn") * F.col("tn") * F.col("n"), F.col("var_s"))
                * F.when(F.col("tn") < 0, F.lit(-1)).otherwise(F.lit(1)),
            )
            .cast("long")
            .alias("trend_z_sq_signed_micro"),
        )
        .orderBy("j")
    )


# ---------------------------------------------------------------------------
# 4. Min/max data-skipping effectiveness audit over month partitions
# ---------------------------------------------------------------------------

SKIP_THRESHOLDS_CENTS = (10_000_00, 20_000_00, 30_000_00, 40_000_00, 50_000_00)


def _skipping_oracle() -> str:
    hd = sql_halfup_div
    per_thr = " UNION ALL ".join(
        f"""
    SELECT {thr}::BIGINT AS thr_cents,
           (SELECT CAST(count(*) AS BIGINT) FROM parts) AS n_parts,
           (SELECT CAST(count(*) AS BIGINT) FROM parts WHERE max_c <= {thr})
             AS n_parts_skipped,
           (SELECT CAST(coalesce(sum(n_rows), 0) AS BIGINT) FROM parts
            WHERE max_c <= {thr}) AS rows_skipped,
           (SELECT CAST(coalesce(sum(m_{i}), 0) AS BIGINT) FROM parts)
             AS rows_matching,
           (SELECT CAST(sum(n_rows) AS BIGINT) FROM parts) AS rows_total"""
        for i, thr in enumerate(SKIP_THRESHOLDS_CENTS)
    )
    m_cols = ",\n             ".join(
        f"CAST(sum(CASE WHEN c > {thr} THEN 1 ELSE 0 END) AS HUGEINT) AS m_{i}"
        for i, thr in enumerate(SKIP_THRESHOLDS_CENTS)
    )
    return f"""
    WITH rows_ AS (
      SELECT CAST(extract(year FROM o_orderdate) * 100
                  + extract(month FROM o_orderdate) AS BIGINT) AS part,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c
      FROM orders
    ), parts AS (
      SELECT part, CAST(count(*) AS HUGEINT) AS n_rows,
             CAST(min(c) AS BIGINT) AS min_c, CAST(max(c) AS BIGINT) AS max_c,
             {m_cols}
      FROM rows_ GROUP BY part
    ), levels AS ({per_thr})
    SELECT thr_cents, n_parts, n_parts_skipped, rows_skipped, rows_matching,
           CASE WHEN rows_total - rows_matching > 0 THEN
             CAST({hd('1000000::HUGEINT * rows_skipped',
                      'rows_total - rows_matching')} AS BIGINT)
           END AS skip_efficiency_micro
    FROM levels ORDER BY thr_cents
    """


@register("layout_minmax_skipping_audit", _skipping_oracle())
def layout_minmax_skipping_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read-side data-skipping effectiveness audit: partition orders by
    month (the natural ingest partitioning), collect the per-partition
    min/max footer stats a parquet reader prunes with, and for each of
    five price-threshold predicates report how many partitions and
    rows min/max pruning would skip versus the rows the predicate
    actually rejects — skip efficiency = skipped / non-matching. The
    read-side complement of ``layout_zorder_stats`` (which audits the
    WRITE-side clustering): efficiency near 1 means the layout already
    serves this predicate family; near 0 means values are scattered
    across partitions and a sort/Z-order rewrite (or a bloom index)
    is what buys the scan reduction at 100 TB.

    Exactness: all counts exact integers off one scan (prices in
    cents); efficiency is ONE half-up 1e-6 division per threshold.

    Scale shape: one scan partial-aggregating to the ~84-row month-
    partition table carrying min/max plus the five per-threshold
    match counts as conditional sums (thresholds are literals — no
    re-scan per threshold); the 5-row curve is bounded-table algebra.
    """
    t = Tables(spark, sf_dir)
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    rows_ = t.orders.select(
        (F.year("o_orderdate") * 100 + F.month("o_orderdate")).cast("long").alias("part"),
        cents.alias("c"),
    )
    parts = rows_.groupBy("part").agg(
        dec38(F.count(F.lit(1))).alias("n_rows"),
        F.min("c").alias("min_c"),
        F.max("c").alias("max_c"),
        *[
            dec38(F.sum(F.when(F.col("c") > thr, 1).otherwise(0))).alias(f"m_{i}")
            for i, thr in enumerate(SKIP_THRESHOLDS_CENTS)
        ],
    )
    agg = parts.agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.sum("n_rows").alias("rows_total"),
        *[
            F.sum(F.when(F.col("max_c") <= thr, 1).otherwise(0))
            .cast("long")
            .alias(f"p_{i}")
            for i, thr in enumerate(SKIP_THRESHOLDS_CENTS)
        ],
        *[
            F.coalesce(
                F.sum(F.when(F.col("max_c") <= thr, F.col("n_rows"))),
                F.lit(0).cast("decimal(38,0)"),
            ).alias(f"s_{i}")
            for i, thr in enumerate(SKIP_THRESHOLDS_CENTS)
        ],
        *[F.sum(F.col(f"m_{i}")).alias(f"mt_{i}") for i in range(len(SKIP_THRESHOLDS_CENTS))],
    )
    levels = agg.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(thr).cast("long").alias("thr_cents"),
                        F.col("n_parts").alias("n_parts"),
                        F.col(f"p_{i}").alias("n_parts_skipped"),
                        F.col(f"s_{i}").cast("long").alias("rows_skipped"),
                        F.col(f"mt_{i}").cast("long").alias("rows_matching"),
                        F.col("rows_total").cast("long").alias("rows_total"),
                    )
                    for i, thr in enumerate(SKIP_THRESHOLDS_CENTS)
                ]
            )
        ).alias("s")
    ).select("s.*")
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    nonmatch = F.col("rows_total") - F.col("rows_matching")
    return levels.select(
        "thr_cents",
        "n_parts",
        "n_parts_skipped",
        "rows_skipped",
        "rows_matching",
        F.when(
            nonmatch > 0,
            halfup_div(m6 * dec38(F.col("rows_skipped")), dec38(nonmatch)),
        )
        .cast("long")
        .alias("skip_efficiency_micro"),
    ).orderBy("thr_cents")


# ---------------------------------------------------------------------------
# 5. Session-count sensitivity curve across gap thresholds
# ---------------------------------------------------------------------------

SESSION_GAPS_S = (300, 900, 1800, 3600, 7200)


def _gap_sensitivity_oracle() -> str:
    hd = sql_halfup_div
    per_thr = " UNION ALL ".join(
        f"""
    SELECT {thr}::BIGINT AS gap_s,
           (SELECT n_users FROM tot) AS n_users,
           (SELECT n_events FROM tot) AS n_events,
           (SELECT n_users FROM tot)
             + (SELECT CAST(coalesce(sum(CASE WHEN g > {thr}::BIGINT * 1000000
                                         THEN 1 ELSE 0 END), 0) AS BIGINT)
                FROM gaps WHERE g IS NOT NULL) AS n_sessions"""
        for thr in SESSION_GAPS_S
    )
    return f"""
    WITH gaps AS (
      SELECT epoch_us(ts) - lag(epoch_us(ts)) OVER w AS g
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), tot AS (
      SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events
    ), levels AS ({per_thr})
    SELECT gap_s, n_users, n_events, n_sessions,
           CAST({hd('1000000::HUGEINT * n_sessions', 'n_users')} AS BIGINT)
             AS sessions_per_user_micro,
           CAST({hd('1000000::HUGEINT * n_events', 'n_sessions')} AS BIGINT)
             AS events_per_session_micro
    FROM levels ORDER BY gap_s
    """


@register("events_session_gap_sensitivity", _gap_sensitivity_oracle())
def events_session_gap_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-count sensitivity curve: for each candidate inactivity
    timeout (5m/15m/30m/1h/2h), the total session count (= users +
    gaps exceeding the timeout), sessions per user, and events per
    session. THE capacity-planning input for every session-keyed
    stage: ``events_sessionization`` materializes sessions at ONE
    fixed gap — this prices the whole policy ladder in one pass, the
    same policy-pricing-curve shape as ``dedup_lsh_band_tuning_curve``
    and ``corpus_truncation_loss_curve`` (pick the knee, then run the
    expensive materialization once). A flat curve says the timeout
    barely matters (bursty usage with long silences); a steep one says
    session state size is dominated by the policy choice.

    Exactness: session counts are exact integers (sessions = users +
    #(gap > T), the per-user telescoping identity); the two ratios are
    single half-up 1e-6 divisions per threshold.

    Scale shape: one user-partitioned lag (hash-parallel, never a
    global window) feeding ONE aggregate that evaluates all five
    thresholds as conditional sums (literals — no per-threshold scan);
    the 5-row curve is scalar algebra after.
    """
    from pyspark.sql.window import Window

    t = Tables(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = t.events.select(
        (F.unix_micros(F.col("ts")) - F.unix_micros(F.lag(F.col("ts")).over(w))).alias("g")
    )
    over = gaps.agg(
        *[
            F.sum(F.when(F.col("g") > thr * 1_000_000, 1).otherwise(0))
            .cast("long")
            .alias(f"o_{i}")
            for i, thr in enumerate(SESSION_GAPS_S)
        ]
    )
    tot = t.events.agg(
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    levels = (
        tot.crossJoin(F.broadcast(over))
        .select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(thr).cast("long").alias("gap_s"),
                            F.col("n_users").alias("n_users"),
                            F.col("n_events").alias("n_events"),
                            (F.col("n_users") + F.coalesce(F.col(f"o_{i}"), F.lit(0)))
                            .cast("long")
                            .alias("n_sessions"),
                        )
                        for i, thr in enumerate(SESSION_GAPS_S)
                    ]
                )
            ).alias("s")
        )
        .select("s.*")
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    return levels.select(
        "gap_s",
        "n_users",
        "n_events",
        "n_sessions",
        halfup_div(m6 * dec38(F.col("n_sessions")), dec38(F.col("n_users")))
        .cast("long")
        .alias("sessions_per_user_micro"),
        halfup_div(m6 * dec38(F.col("n_events")), dec38(F.col("n_sessions")))
        .cast("long")
        .alias("events_per_session_micro"),
    ).orderBy("gap_s")
