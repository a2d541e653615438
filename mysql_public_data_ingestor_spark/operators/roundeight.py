"""Round-8 operators: the VERDICT r7 item-5 follow-throughs.

An IVF-PQ recall audit against the exact scan, residual
diagnostics for the in-warehouse logistic model, an oracle-paired
mergeable quantile sketch, and a robust-stats / testing pack
(Cohen's d, trimmed/winsorized means, McNemar, runs test, n-gram
novelty curve).

Every operator keeps the house discipline: declarative DataFrame plans
(no collect, no RDDs), exact integer/decimal arithmetic everywhere a
value crosses the engine boundary (functions/exact.py), partial
aggregation to a bounded domain before any window or pair join, and a
DuckDB oracle twin per query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.exact import dec38
from ..registry import register
from ..tables import Tables


# ---------------------------------------------------------------------------
# 3. IVF-PQ recall audit vs the exact L2 scan
# ---------------------------------------------------------------------------


def _recall_oracle() -> str:
    from ..functions.exact import sql_round_int_ratio
    from .roundsix2 import _ivfpq_oracle
    from .similarity import DIM, PQ_PROBES, PQ_TOPK

    d2 = (
        f"list_sum(list_transform(range(1, {DIM} + 1), "
        "i -> (q.v[i] - c.v[i]) * (q.v[i] - c.v[i])))"
    )
    return f"""
    WITH exact_ranked AS MATERIALIZED (
      SELECT q.vec_id AS probe_id, c.vec_id AS neighbor_id,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY CAST(floor({d2} * 1000000.0 + 0.5) AS BIGINT), c.vec_id
             ) AS rnk
      FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
            WHERE vec_id < {PQ_PROBES}) q
      JOIN (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings) c
        ON c.vec_id <> q.vec_id
    ), ivf AS MATERIALIZED (
      SELECT probe_id, neighbor_id FROM ({_ivfpq_oracle()})
    ), hits AS (
      SELECT e.probe_id,
             CAST(count(i.neighbor_id) AS BIGINT) AS n_hits
      FROM (SELECT * FROM exact_ranked WHERE rnk <= {PQ_TOPK}) e
      LEFT JOIN ivf i
        ON i.probe_id = e.probe_id AND i.neighbor_id = e.neighbor_id
      GROUP BY e.probe_id
    )
    SELECT probe_id, n_hits,
           {sql_round_int_ratio('n_hits', str(PQ_TOPK))} AS recall
    FROM hits
    """


@register("similarity_ivfpq_recall_audit", oracle=_recall_oracle())
def similarity_ivfpq_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the IVF-PQ index against the exact L2 scan, per
    probe — the accuracy audit every ANN deployment ships next to its
    index (VERDICT r7 item 5 named this pairing explicitly): how many
    of the true top-{PQ_TOPK} neighbors does the nprobe-bounded,
    quantized search return?

    The exact side is a brute-force L2 top-k for the SAME probe set
    (probes broadcast; corpus scan stays partitioned with per-probe
    windows — the ground-truth pass is |probes| x corpus, bounded by
    the probe set, never all-pairs). The approximate side reuses the
    registered ``similarity_ivfpq_topk`` plan unchanged. Distances
    quantize to micro-units before ranking (identical fold arithmetic
    on both engines), so rank order and therefore recall are exact —
    this audit is hash-verified, not rows-only.
    """
    from ..functions.exact import round_int_ratio
    from .roundsix2 import similarity_ivfpq_topk
    from .similarity import PQ_PROBES, PQ_TOPK

    t = Tables(spark, sf_dir)
    emb = t.embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    probes = emb.where(F.col("vec_id") < PQ_PROBES).select(
        F.col("vec_id").alias("probe_id"), F.col("v").alias("qv")
    )
    corpus = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv"))
    d2 = F.aggregate(
        F.zip_with(F.col("qv"), F.col("cv"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    d2q = F.floor(d2 * F.lit(1e6) + F.lit(0.5)).cast("long")
    w = Window.partitionBy("probe_id").orderBy("d2q", "neighbor_id")
    exact = (
        corpus.join(F.broadcast(probes), F.col("neighbor_id") != F.col("probe_id"))
        .select("probe_id", "neighbor_id", d2q.alias("d2q"))
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= PQ_TOPK)
        .select("probe_id", "neighbor_id")
    )
    ivf = similarity_ivfpq_topk(spark, sf_dir).select(
        F.col("probe_id").alias("ivf_probe"),
        F.col("neighbor_id").alias("ivf_neighbor"),
    )
    hits = (
        exact.join(
            ivf,
            (F.col("probe_id") == F.col("ivf_probe"))
            & (F.col("neighbor_id") == F.col("ivf_neighbor")),
            "left",
        )
        .groupBy("probe_id")
        .agg(F.count(F.col("ivf_neighbor")).alias("n_hits"))
    )
    return hits.select(
        "probe_id",
        "n_hits",
        round_int_ratio(F.col("n_hits"), F.lit(PQ_TOPK)).alias("recall"),
    )


# ---------------------------------------------------------------------------
# 4. Logistic-model fit diagnostics (VERDICT r7 item 5)
# ---------------------------------------------------------------------------


def _logit_quality_oracle() -> str:
    from ..functions.exact import sql_round_int_ratio
    from .roundfive import logit_cte_chain

    ctes, w0, w1 = logit_cte_chain()
    p = f"1.0 / (1.0 + exp(-(({w0}) / 1000000.0 + ({w1}) / 1000000.0 * x)))"
    return (
        "WITH "
        + ", ".join(ctes)
        + f"""
    , sc AS (SELECT x, y, {p} AS p FROM base)
    , a AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(y AS BIGINT)) AS BIGINT) AS n_pos,
             CAST(sum(CASE WHEN (p >= 0.5) = (y = 1.0) THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_correct,
             sum(CAST(floor(p * 1000000.0 + 0.5) AS BIGINT)) AS sum_p_micro,
             sum(CAST(floor((p - y) * (p - y) * 1000000.0 + 0.5) AS BIGINT))
               AS sse_micro
      FROM sc)
    SELECT n, n_pos, n_correct,
           {sql_round_int_ratio('n_pos', 'n')} AS pos_rate,
           {sql_round_int_ratio('sum_p_micro', '1000000 * n')} AS mean_p,
           {sql_round_int_ratio('sse_micro', '1000000 * n')} AS brier,
           {sql_round_int_ratio('n_correct', 'n')} AS accuracy
    FROM a
    """
    )


@register("ml_logistic_fit_quality", oracle=_logit_quality_oracle())
def ml_logistic_fit_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual diagnostics of the in-warehouse GD logistic model
    (``stats_logistic_gd``): Brier score (mean squared residual),
    accuracy at 0.5, and calibration-in-the-large (mean predicted p vs
    observed positive rate) — the "is the trained model any good"
    audit VERDICT r7 item 5 asked to sit next to the trainer.

    Brier rather than ln-deviance by design: the deviance needs ln(p)
    per ROW of a continuous score, which would put the interpreted
    det-ln fold on a row-bounded domain (the exact anti-pattern
    SCALE.md §5e documents); the Brier score is a strictly proper
    scoring rule with purely polynomial arithmetic — per-row quantized
    residuals, exact integer sums, exact final ratios.

    Scale: ONE scan of the training frame scored with the broadcast
    1-row weight table (the training steps themselves are
    localCheckpointed 2-value aggregates, shared with the trajectory
    query via ``logit_weight_steps``).
    """
    from ..functions.exact import round_int_ratio
    from .roundfive import logit_base, logit_sigmoid, logit_weight_steps

    t = Tables(spark, sf_dir)
    w = logit_weight_steps(t)[-1]
    p = logit_sigmoid(F.col("x"), F.col("w0q"), F.col("w1q"))
    sc = logit_base(t).crossJoin(F.broadcast(w)).select(
        F.col("y"),
        p.alias("p"),
    )
    a = sc.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("y").cast("long")).alias("n_pos"),
        # predict 1 iff p >= 0.5: correct contributes y there, 1-y below
        F.sum(
            F.when(F.col("p") >= 0.5, F.col("y").cast("long")).otherwise(
                F.lit(1) - F.col("y").cast("long")
            )
        ).alias("n_correct"),
        F.sum(F.floor(F.col("p") * F.lit(1e6) + F.lit(0.5)).cast("long")).alias(
            "sum_p_micro"
        ),
        F.sum(
            F.floor(
                (F.col("p") - F.col("y")) * (F.col("p") - F.col("y")) * F.lit(1e6)
                + F.lit(0.5)
            ).cast("long")
        ).alias("sse_micro"),
    )
    return a.select(
        "n",
        "n_pos",
        "n_correct",
        round_int_ratio(F.col("n_pos"), F.col("n")).alias("pos_rate"),
        round_int_ratio(F.col("sum_p_micro"), F.lit(1000000) * F.col("n")).alias(
            "mean_p"
        ),
        round_int_ratio(F.col("sse_micro"), F.lit(1000000) * F.col("n")).alias(
            "brier"
        ),
        round_int_ratio(F.col("n_correct"), F.col("n")).alias("accuracy"),
    )


# ---------------------------------------------------------------------------
# 5. Mergeable fixed-bin quantile sketch (oracle-paired)
# ---------------------------------------------------------------------------

QSKETCH_BIN_CENTS = 100_000  # $1000 bins over o_totalprice
QSKETCH_QUANTILES = [(50, 1, 2), (90, 9, 10), (99, 99, 100)]  # (pct, num, den)


def _qsketch_oracle() -> str:
    targets = " UNION ALL ".join(
        f"SELECT CAST({pct} AS BIGINT) AS quantile_pct, {num} AS qnum, {den} AS qden"
        for pct, num, den in QSKETCH_QUANTILES
    )
    return f"""
    WITH partial AS (
      SELECT o_orderpriority AS shard, cents // {QSKETCH_BIN_CENTS} AS bin,
             CAST(count(*) AS BIGINT) AS bin_n
      FROM (SELECT o_orderpriority,
                   CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
            FROM orders)
      WHERE cents > 0
      GROUP BY 1, 2
    ), merged AS (
      SELECT bin, CAST(sum(bin_n) AS BIGINT) AS bin_n
      FROM partial GROUP BY bin
    ), cum AS (
      SELECT bin, bin_n,
             CAST(sum(bin_n) OVER (ORDER BY bin
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_n
      FROM merged
    ), tot AS (
      SELECT CAST(sum(bin_n) AS BIGINT) AS n FROM merged
    ), t AS ({targets})
    SELECT t.quantile_pct,
           ((tot.n * t.qnum + t.qden - 1)
            - ((tot.n * t.qnum + t.qden - 1) % t.qden)) // t.qden AS k_rank,
           cum.bin AS bin_idx, cum.bin_n, cum.cum_n,
           CAST(cum.bin * {QSKETCH_BIN_CENTS // 100} + {QSKETCH_BIN_CENTS // 200}
                AS DOUBLE) AS est_price
    FROM t, tot, cum
    WHERE cum.cum_n - cum.bin_n
            < ((tot.n * t.qnum + t.qden - 1)
               - ((tot.n * t.qnum + t.qden - 1) % t.qden)) // t.qden
      AND ((tot.n * t.qnum + t.qden - 1)
           - ((tot.n * t.qnum + t.qden - 1) % t.qden)) // t.qden <= cum.cum_n
    """


@register("sketch_fixedbin_quantile_merge", oracle=_qsketch_oracle())
def sketch_fixedbin_quantile_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable fixed-bin quantile sketch: per-shard ($1000-bin)
    histograms built per order priority, merged by bin addition, then
    p50/p90/p99 read off the cumulative counts — the deterministic,
    ORACLE-PAIRED mergeability twin VERDICT r7 item 5 asked for next
    to ``percentiles_approx`` (whose KLL sketch is merge-order
    dependent and therefore rows-only by design; fixed-bin counts are
    associative, so the sharded merge is bit-equal to a single pass
    and the whole path hash-verifies).

    Scale: the partial sketches are exactly what executors emit
    map-side (bounded: |shards| x |bins|); the merge is a |bins|-row
    aggregate, and the cumulative window runs over the ~600-row bin
    domain (the same bounded-domain global window as
    ``diag_key_skew_profile``), never over raw rows. Rank targets are
    pure integer arithmetic (ceil(n*q) via integer division), bin
    estimates are midpoints — no floats until the final literal
    midpoint column.
    """
    t = Tables(spark, sf_dir)
    cents = F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5)).cast("long")
    binned = (
        t.orders.select(F.col("o_orderpriority").alias("shard"), cents.alias("cents"))
        .where(F.col("cents") > 0)
        .select(
            "shard",
            ((F.col("cents") - F.col("cents") % QSKETCH_BIN_CENTS) / QSKETCH_BIN_CENTS)
            .cast("long")
            .alias("bin"),
        )
    )
    partial = binned.groupBy("shard", "bin").agg(F.count(F.lit(1)).alias("bin_n"))
    merged = partial.groupBy("bin").agg(F.sum("bin_n").alias("bin_n"))
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = merged.withColumn("cum_n", F.sum("bin_n").over(w))
    tot = merged.agg(F.sum("bin_n").alias("n"))
    targets = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(pct).cast("long").alias("quantile_pct"),
                    F.lit(num).cast("long").alias("qnum"),
                    F.lit(den).cast("long").alias("qden"),
                )
                for pct, num, den in QSKETCH_QUANTILES
            ]
        )
    )
    a = F.col("n") * F.col("qnum") + F.col("qden") - F.lit(1)
    k = ((a - a % F.col("qden")) / F.col("qden")).cast("long")
    return (
        cum.crossJoin(F.broadcast(tot.select("n", targets.alias("t"))))
        .select(
            F.col("t.quantile_pct").alias("quantile_pct"),
            "bin",
            "bin_n",
            "cum_n",
            "n",
            F.col("t.qnum").alias("qnum"),
            F.col("t.qden").alias("qden"),
        )
        .withColumn("k_rank", k)
        .where(
            (F.col("cum_n") - F.col("bin_n") < F.col("k_rank"))
            & (F.col("k_rank") <= F.col("cum_n"))
        )
        .select(
            "quantile_pct",
            "k_rank",
            F.col("bin").alias("bin_idx"),
            "bin_n",
            "cum_n",
            (
                F.col("bin") * F.lit(QSKETCH_BIN_CENTS // 100)
                + F.lit(QSKETCH_BIN_CENTS // 200)
            )
            .cast("double")
            .alias("est_price"),
        )
    )

# ---------------------------------------------------------------------------
# 6. Cohen's d effect size: urgent vs non-urgent order value
# ---------------------------------------------------------------------------


def _cohens_d_oracle() -> str:
    from ..functions.exact import sql_round_big_int_ratio

    m1 = "CAST(s1 AS DOUBLE) / n1"
    m2 = "CAST(s2 AS DOUBLE) / n2"
    v1 = f"CAST(ss1 AS DOUBLE) - n1 * ({m1}) * ({m1})"
    v2 = f"CAST(ss2 AS DOUBLE) - n2 * ({m2}) * ({m2})"
    sp2 = f"(({v1}) + ({v2})) / (n1 + n2 - 2)"
    d = f"(({m1}) - ({m2})) / sqrt({sp2})"
    return f"""
    WITH c AS (
      SELECT CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents,
             CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS g
      FROM orders
      WHERE o_totalprice IS NOT NULL
    ), a AS (
      SELECT CAST(sum(g) AS BIGINT) AS n1,
             CAST(count(*) - sum(g) AS BIGINT) AS n2,
             sum(CASE WHEN g = 1 THEN cents::HUGEINT ELSE 0 END) AS s1,
             sum(CASE WHEN g = 0 THEN cents::HUGEINT ELSE 0 END) AS s2,
             sum(CASE WHEN g = 1 THEN cents::HUGEINT * cents ELSE 0 END) AS ss1,
             sum(CASE WHEN g = 0 THEN cents::HUGEINT * cents ELSE 0 END) AS ss2
      FROM c)
    SELECT n1 AS n_urgent, n2 AS n_other,
           {sql_round_big_int_ratio('s1', '100 * n1', 4)} AS mean_urgent,
           {sql_round_big_int_ratio('s2', '100 * n2', 4)} AS mean_other,
           CASE WHEN n1 >= 2 AND n2 >= 2 AND ({sp2}) > 0
                THEN CAST(floor(({d}) * 1000000.0 + 0.5) AS BIGINT) / 1000000.0
           END AS cohens_d
    FROM a
    """


@register("stats_cohens_d_priority", oracle=_cohens_d_oracle())
def stats_cohens_d_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d standardized effect size of urgent-vs-other order
    value — the "is the difference MEANINGFUL, not just significant"
    companion to the t/z tests in the stats family.

    Sufficient statistics only: conditional exact cents sums and
    decimal(38,0) sums of squares (cast BEFORE the square — int64
    overflows at web-scale magnitudes) in ONE scan, then the pooled-SD
    ratio as a single identical IEEE expression off identical integers
    (same float discipline as ``graph_degree_assortativity``).
    Degenerate groups (n < 2, zero pooled variance) yield NULL on both
    engines rather than a division error — the fuzz profiles hit this.
    """
    from ..functions.exact import round_big_int_ratio

    t = Tables(spark, sf_dir)
    cents = F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5)).cast("long")
    c = t.orders.where(F.col("o_totalprice").isNotNull()).select(
        cents.alias("cents"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("g"),
    )
    zero = F.lit(0).cast("decimal(38,0)")
    a = c.agg(
        F.sum("g").cast("long").alias("n1"),
        (F.count(F.lit(1)) - F.sum("g")).cast("long").alias("n2"),
        F.sum(F.when(F.col("g") == 1, dec38(F.col("cents"))).otherwise(zero)).alias("s1"),
        F.sum(F.when(F.col("g") == 0, dec38(F.col("cents"))).otherwise(zero)).alias("s2"),
        F.sum(
            F.when(F.col("g") == 1, dec38(F.col("cents")) * F.col("cents")).otherwise(zero)
        ).alias("ss1"),
        F.sum(
            F.when(F.col("g") == 0, dec38(F.col("cents")) * F.col("cents")).otherwise(zero)
        ).alias("ss2"),
    )
    n1d, n2d = F.col("n1").cast("double"), F.col("n2").cast("double")
    m1 = F.col("s1").cast("double") / n1d
    m2 = F.col("s2").cast("double") / n2d
    v1 = F.col("ss1").cast("double") - n1d * m1 * m1
    v2 = F.col("ss2").cast("double") - n2d * m2 * m2
    sp2 = (v1 + v2) / (n1d + n2d - F.lit(2.0))
    d = (m1 - m2) / F.sqrt(sp2)
    return a.select(
        F.col("n1").alias("n_urgent"),
        F.col("n2").alias("n_other"),
        round_big_int_ratio(F.col("s1"), F.lit(100) * F.col("n1"), 4).alias(
            "mean_urgent"
        ),
        round_big_int_ratio(F.col("s2"), F.lit(100) * F.col("n2"), 4).alias(
            "mean_other"
        ),
        F.when(
            (F.col("n1") >= 2) & (F.col("n2") >= 2) & (sp2 > 0),
            F.floor(d * F.lit(1e6) + F.lit(0.5)).cast("long") / F.lit(1e6),
        ).alias("cohens_d"),
    )


# ---------------------------------------------------------------------------
# 7. Trimmed / winsorized means per nation (robust location)
# ---------------------------------------------------------------------------


def _trimmed_oracle() -> str:
    from ..functions.exact import sql_round_big_int_ratio

    return f"""
    WITH c AS (
      SELECT n.n_name, o.o_orderkey,
             CAST(floor(o.o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
      FROM orders o
      JOIN customer cu ON cu.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = cu.c_nationkey
      WHERE o.o_totalprice IS NOT NULL
    ), r AS (
      SELECT n_name, cents,
             row_number() OVER (PARTITION BY n_name
                                ORDER BY cents, o_orderkey) AS rn,
             count(*) OVER (PARTITION BY n_name) AS cnt
      FROM c
    ), a AS (
      SELECT n_name,
             CAST(max(cnt) AS BIGINT) AS n,
             CAST(max(cnt) // 10 AS BIGINT) AS k_trim,
             sum(cents::HUGEINT) AS sum_all,
             sum(CASE WHEN rn > cnt // 10 AND rn <= cnt - cnt // 10
                      THEN cents::HUGEINT ELSE 0 END) AS sum_trim,
             max(CASE WHEN rn = cnt // 10 + 1 THEN cents END) AS lo,
             max(CASE WHEN rn = cnt - cnt // 10 THEN cents END) AS hi
      FROM r GROUP BY n_name)
    SELECT n_name, n, k_trim,
           {sql_round_big_int_ratio('sum_all', '100 * n', 4)} AS mean_price,
           {sql_round_big_int_ratio('sum_trim', '100 * (n - 2 * k_trim)', 4)}
             AS trimmed_mean,
           {sql_round_big_int_ratio(
               'sum_trim + k_trim::HUGEINT * lo + k_trim::HUGEINT * hi',
               '100 * n', 4)} AS winsorized_mean
    FROM a
    """


@register("stats_trimmed_winsorized_price", oracle=_trimmed_oracle())
def stats_trimmed_winsorized_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10% trimmed and winsorized mean order value per nation — the
    robust-location estimators an outlier-ridden revenue series needs
    (trimming drops each tail's floor(n/10) rows; winsorizing clamps
    them to the surviving extremes).

    One partitioned rank window (cents, orderkey — a total order, so
    the trim cut is deterministic), then a per-nation aggregate whose
    winsorized sum needs NO second pass: clamped tails contribute
    k * boundary-value, and the boundary values are single-row
    conditional aggregates off the same ranked rows. Exact cents in
    decimal(38,0) end-to-end; means leave as exact half-up ratios.
    Scale: windows partition by nation (never global), and the two
    dimension joins broadcast.
    """
    from ..functions.exact import round_big_int_ratio

    t = Tables(spark, sf_dir)
    cents = F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5)).cast("long")
    c = (
        t.orders.where(F.col("o_totalprice").isNotNull())
        .join(
            F.broadcast(t.customer.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(t.nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("n_name", "o_orderkey", cents.alias("cents"))
    )
    wp = Window.partitionBy("n_name")
    wo = wp.orderBy("cents", "o_orderkey")
    r = c.select(
        "n_name",
        "cents",
        F.row_number().over(wo).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("cnt"),
    )
    k = ((F.col("cnt") - F.col("cnt") % 10) / 10).cast("long")
    zero = F.lit(0).cast("decimal(38,0)")
    a = r.withColumn("k", k).groupBy("n_name").agg(
        F.max("cnt").cast("long").alias("n"),
        F.max("k").cast("long").alias("k_trim"),
        F.sum(dec38(F.col("cents"))).alias("sum_all"),
        F.sum(
            F.when(
                (F.col("rn") > F.col("k")) & (F.col("rn") <= F.col("cnt") - F.col("k")),
                dec38(F.col("cents")),
            ).otherwise(zero)
        ).alias("sum_trim"),
        F.max(F.when(F.col("rn") == F.col("k") + 1, F.col("cents"))).alias("lo"),
        F.max(F.when(F.col("rn") == F.col("cnt") - F.col("k"), F.col("cents"))).alias(
            "hi"
        ),
    )
    return a.select(
        "n_name",
        "n",
        "k_trim",
        round_big_int_ratio(F.col("sum_all"), F.lit(100) * F.col("n"), 4).alias(
            "mean_price"
        ),
        round_big_int_ratio(
            F.col("sum_trim"), F.lit(100) * (F.col("n") - F.lit(2) * F.col("k_trim")), 4
        ).alias("trimmed_mean"),
        round_big_int_ratio(
            F.col("sum_trim")
            + dec38(F.col("k_trim")) * F.col("lo")
            + dec38(F.col("k_trim")) * F.col("hi"),
            F.lit(100) * F.col("n"),
            4,
        ).alias("winsorized_mean"),
    )


# ---------------------------------------------------------------------------
# 8. McNemar's test on paired document-quality rules
# ---------------------------------------------------------------------------

MCNEMAR_MIN_CHARS = 300
MCNEMAR_MIN_TOKENS = 60


def _mcnemar_oracle() -> str:
    from ..functions.exact import sql_round_int_ratio
    from .corpus import _SQL_TOKENS

    return f"""
    WITH flags AS (
      SELECT CASE WHEN n_chars >= {MCNEMAR_MIN_CHARS} THEN 1 ELSE 0 END AS a,
             CASE WHEN len({_SQL_TOKENS}) >= {MCNEMAR_MIN_TOKENS} THEN 1 ELSE 0 END AS b
      FROM documents
    ), agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(a * b) AS BIGINT) AS n_both,
             CAST(sum(a * (1 - b)) AS BIGINT) AS n_a_only,
             CAST(sum((1 - a) * b) AS BIGINT) AS n_b_only,
             CAST(sum((1 - a) * (1 - b)) AS BIGINT) AS n_neither
      FROM flags)
    SELECT n_docs, n_both, n_a_only, n_b_only, n_neither,
           CASE WHEN n_a_only + n_b_only > 0 THEN
             {sql_round_int_ratio(
                 '(n_a_only - n_b_only) * (n_a_only - n_b_only)',
                 'n_a_only + n_b_only')}
           END AS mcnemar_chi2
    FROM agg
    """


@register("stats_mcnemar_quality_rules", oracle=_mcnemar_oracle())
def stats_mcnemar_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test for PAIRED binary classifiers: do the char-length
    gate (n_chars >= {MCNEMAR_MIN_CHARS}) and the token-count gate
    (tokens >= {MCNEMAR_MIN_TOKENS}) disagree symmetrically on the same
    documents? The discordant-pair statistic (b - c)^2 / (b + c) is the
    right comparison for two quality filters evaluated on one corpus —
    marginal accuracy comparisons double-count the concordant mass.

    One scan, one 5-value aggregate; the statistic is an exact integer
    half-up ratio, NULL when there are no discordant pairs (fuzz
    profiles produce degenerate corpora where both gates agree
    everywhere).
    """
    from ..functions.exact import round_int_ratio
    from ..functions.textnorm import whitespace_tokens

    t = Tables(spark, sf_dir)
    flags = t.documents.select(
        F.when(F.col("n_chars") >= MCNEMAR_MIN_CHARS, 1).otherwise(0).alias("a"),
        F.when(
            F.size(whitespace_tokens(F.col("text"))) >= MCNEMAR_MIN_TOKENS, 1
        ).otherwise(0).alias("b"),
    )
    agg = flags.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("a") * F.col("b")).cast("long").alias("n_both"),
        F.sum(F.col("a") * (F.lit(1) - F.col("b"))).cast("long").alias("n_a_only"),
        F.sum((F.lit(1) - F.col("a")) * F.col("b")).cast("long").alias("n_b_only"),
        F.sum((F.lit(1) - F.col("a")) * (F.lit(1) - F.col("b")))
        .cast("long")
        .alias("n_neither"),
    )
    diff = F.col("n_a_only") - F.col("n_b_only")
    disc = F.col("n_a_only") + F.col("n_b_only")
    return agg.select(
        "n_docs",
        "n_both",
        "n_a_only",
        "n_b_only",
        "n_neither",
        F.when(disc > 0, round_int_ratio(diff * diff, disc)).alias("mcnemar_chi2"),
    )

# ---------------------------------------------------------------------------
# 9. N-gram novelty curve over corpus deciles
# ---------------------------------------------------------------------------


def _novelty_oracle() -> str:
    from ..functions.exact import sql_round_int_ratio
    from .corpus import DECON_K, _SQL_TOKENS

    grams = f"""
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(t) - {DECON_K - 1}, 0) + 1),
               i -> ('0x' || substr(sha256(array_to_string(t[i:i+{DECON_K - 1}], ' ')),
                                    1, 15))::BIGINT)) AS gs
      FROM (SELECT doc_id, {_SQL_TOKENS} AS t FROM documents)
    """
    return f"""
    WITH g AS MATERIALIZED ({grams}),
    m AS (SELECT max(doc_id) + 1 AS m FROM documents),
    dd AS (
      SELECT CAST(floor(doc_id * 10.0 / m) AS BIGINT) AS decile
      FROM documents, m
    ), docs_per AS (
      SELECT decile, CAST(count(*) AS BIGINT) AS n_docs FROM dd GROUP BY 1
    ), flat AS MATERIALIZED (
      SELECT doc_id, unnest(gs) AS gg FROM g
    ), inst AS (
      SELECT CAST(floor(doc_id * 10.0 / m) AS BIGINT) AS decile,
             CAST(count(*) AS BIGINT) AS n_instances
      FROM flat, m GROUP BY 1
    ), firsts AS (
      SELECT gg, min(doc_id) AS d0 FROM flat GROUP BY gg
    ), news AS (
      SELECT CAST(floor(d0 * 10.0 / m) AS BIGINT) AS decile,
             CAST(count(*) AS BIGINT) AS n_new
      FROM firsts, m GROUP BY 1
    )
    SELECT d.decile, d.n_docs,
           coalesce(i.n_instances, 0) AS n_gram_instances,
           coalesce(nw.n_new, 0) AS n_new_grams,
           CASE WHEN coalesce(i.n_instances, 0) > 0 THEN
             {sql_round_int_ratio('coalesce(nw.n_new, 0)',
                                  'coalesce(i.n_instances, 1)')}
           END AS novelty_rate
    FROM docs_per d
    LEFT JOIN inst i ON i.decile = d.decile
    LEFT JOIN news nw ON nw.decile = d.decile
    """


@register("corpus_ngram_novelty_deciles", oracle=_novelty_oracle())
def corpus_ngram_novelty_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram novelty curve: per corpus decile (by doc_id order — the
    ingest order proxy), what fraction of the decile's distinct-per-doc
    k-grams are seen for the FIRST time? The diminishing-returns audit
    of corpus growth: a collapsing novelty rate says new crawl batches
    mostly repeat the existing corpus (dedup pressure), a flat one says
    the corpus is still learning new text.

    Scale: the gram stream is the same Arrow-vectorized shingle hash
    the dedup/decontamination family uses (linear in corpus tokens);
    first occurrences are ONE hash-keyed min-aggregate over it; decile
    attribution is map-side arithmetic off the broadcast max-id. No
    text ever shuffles — hash streams only.
    """
    from ..functions.exact import round_int_ratio
    from ..functions.partitioning import cpu_repartition
    from ..functions.textnorm import shingle_base_hash_udf
    from .corpus import DECON_K

    t = Tables(spark, sf_dir)
    bases_udf = shingle_base_hash_udf(DECON_K)
    m = t.documents.agg((F.max("doc_id") + F.lit(1)).alias("m"))

    def decile(doc_col):
        return F.floor(doc_col * 10 / F.col("m")).cast("long")

    flat = (
        cpu_repartition(t.documents, "doc_id")
        .select("doc_id", F.explode(bases_udf(F.col("text"))).alias("gg"))
    )
    docs_per = (
        t.documents.crossJoin(F.broadcast(m))
        .select(decile(F.col("doc_id")).alias("decile"))
        .groupBy("decile")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    inst = (
        flat.crossJoin(F.broadcast(m))
        .select(decile(F.col("doc_id")).alias("decile"))
        .groupBy("decile")
        .agg(F.count(F.lit(1)).alias("n_instances"))
    )
    news = (
        flat.groupBy("gg")
        .agg(F.min("doc_id").alias("d0"))
        .crossJoin(F.broadcast(m))
        .select(decile(F.col("d0")).alias("decile"))
        .groupBy("decile")
        .agg(F.count(F.lit(1)).alias("n_new"))
    )
    out = (
        docs_per.join(inst, "decile", "left")
        .join(news, "decile", "left")
        .select(
            "decile",
            "n_docs",
            F.coalesce(F.col("n_instances"), F.lit(0)).alias("n_gram_instances"),
            F.coalesce(F.col("n_new"), F.lit(0)).alias("n_new_grams"),
        )
    )
    return out.withColumn(
        "novelty_rate",
        F.when(
            F.col("n_gram_instances") > 0,
            round_int_ratio(F.col("n_new_grams"), F.col("n_gram_instances")),
        ),
    )


# ---------------------------------------------------------------------------
# 10. Wald–Wolfowitz runs test on the daily value series
# ---------------------------------------------------------------------------


def _runs_oracle() -> str:
    z = (
        "(CAST(n_runs AS DOUBLE) - (1.0 + 2.0 * n_above * n_below / (n_above + n_below)))"
        " / sqrt(2.0 * n_above * n_below * (2.0 * n_above * n_below - n_above - n_below)"
        " / ((1.0 * (n_above + n_below)) * (n_above + n_below) * (n_above + n_below - 1)))"
    )
    return f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS x
      FROM events GROUP BY 1, 2
    ), ranked AS (
      SELECT event_type, day, x,
             row_number() OVER (PARTITION BY event_type ORDER BY x, day) AS rn,
             count(*) OVER (PARTITION BY event_type) AS cnt
      FROM daily
    ), med AS (
      SELECT event_type, max(CASE WHEN rn = (cnt + 1) // 2 THEN x END) AS med
      FROM ranked GROUP BY event_type
    ), signs AS (
      SELECT d.event_type, d.day,
             CASE WHEN d.x > m.med THEN 1 ELSE 0 END AS s
      FROM daily d JOIN med m ON m.event_type = d.event_type
      WHERE d.x <> m.med
    ), runs AS (
      SELECT event_type, s,
             CASE WHEN s <> lag(s) OVER (PARTITION BY event_type ORDER BY day)
                  THEN 1 ELSE 0 END AS chg
      FROM signs
    ), a AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_eff,
             CAST(sum(s) AS BIGINT) AS n_above,
             CAST(count(*) - sum(s) AS BIGINT) AS n_below,
             CAST(sum(chg) + 1 AS BIGINT) AS n_runs
      FROM runs GROUP BY event_type)
    SELECT event_type, n_eff, n_above, n_below, n_runs,
           CASE WHEN n_above > 0 AND n_below > 0
                     AND 2.0 * n_above * n_below > n_above + n_below
                     AND n_above + n_below > 1 THEN
             CAST(floor(({z}) * 1000000.0 + 0.5) AS BIGINT) / 1000000.0
           END AS z
    FROM a
    """


@register("events_runs_test_daily", oracle=_runs_oracle())
def events_runs_test_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test per event type: is the daily value
    series' above/below-median sequence random, or does it trend/
    oscillate? (Too few runs = level persistence / drift; too many =
    alternation.) The independence audit that complements the CUSUM
    change-point and ACF queries on the same daily series.

    The median is the lower order statistic ((n+1)//2-th) from a
    per-type rank window — integer-exact, no percentile interpolation;
    tie days (x = median) are excluded per the standard construction.
    Runs count is a lag window over the calendar-bounded per-type
    series. n_above/n_below/n_runs are exact integers; z is one
    identical IEEE expression off them (sqrt is correctly rounded),
    NULL for degenerate one-sided series (fuzz hits this).
    """
    t = Tables(spark, sf_dir)
    daily = (
        t.events.select(
            "event_type",
            F.to_date(F.col("ts")).alias("day"),
            F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5)).cast("long").alias("v_u"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("v_u").alias("x"))
    )
    wp = Window.partitionBy("event_type")
    ranked = daily.select(
        "event_type",
        "day",
        "x",
        F.row_number().over(wp.orderBy("x", "day")).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("cnt"),
    )
    kth = (F.col("cnt") + 1 - (F.col("cnt") + 1) % 2) / 2
    med = ranked.groupBy("event_type").agg(
        F.max(F.when(F.col("rn") == kth.cast("long"), F.col("x"))).alias("med")
    )
    signs = (
        daily.join(F.broadcast(med), "event_type")
        .where(F.col("x") != F.col("med"))
        .select(
            "event_type", "day", F.when(F.col("x") > F.col("med"), 1).otherwise(0).alias("s")
        )
    )
    lag_s = F.lag("s").over(wp.orderBy("day"))
    runs = signs.select(
        "event_type",
        "s",
        F.when(F.col("s") != lag_s, 1).otherwise(0).alias("chg"),
    )
    a = runs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_eff"),
        F.sum("s").cast("long").alias("n_above"),
        (F.count(F.lit(1)) - F.sum("s")).cast("long").alias("n_below"),
        (F.sum("chg") + 1).cast("long").alias("n_runs"),
    )
    na, nb = F.col("n_above"), F.col("n_below")
    nn = na + nb
    z = (
        F.col("n_runs").cast("double")
        - (F.lit(1.0) + F.lit(2.0) * na * nb / nn)
    ) / F.sqrt(
        F.lit(2.0) * na * nb * (F.lit(2.0) * na * nb - na - nb)
        / ((F.lit(1.0) * nn) * nn * (nn - 1))
    )
    return a.select(
        "event_type",
        "n_eff",
        "n_above",
        "n_below",
        "n_runs",
        F.when(
            (na > 0) & (nb > 0) & (F.lit(2.0) * na * nb > nn) & (nn > 1),
            F.floor(z * F.lit(1e6) + F.lit(0.5)).cast("long") / F.lit(1e6),
        ).alias("z"),
    )

# ---------------------------------------------------------------------------
# 11. Hour-of-day entropy profile per event type (det-ln)
# ---------------------------------------------------------------------------

# ln(24) at dp=9 via the deterministic fixed-point ln — the identical
# constant both engines would compute; embedded as a literal.
_LN24_NANO = 3_178_053_830


def _hourly_entropy_oracle() -> str:
    from ..functions.detmath import sql_det_ln_steps
    from ..functions.exact import sql_round_big_int_ratio

    return f"""
    WITH hist AS (
      SELECT event_type, extract(hour FROM ts) AS hr,
             CAST(count(*) AS BIGINT) AS n_h
      FROM events GROUP BY 1, 2
    ), {sql_det_ln_steps('hist', 'n_h', 'ln_nh', 9)},
    tot AS (
      SELECT event_type, CAST(sum(n_h) AS BIGINT) AS n_events,
             CAST(count(*) AS BIGINT) AS n_active_hours,
             sum(n_h::HUGEINT * ln_nh) AS s_nln
      FROM ln_nh_rel GROUP BY event_type
    ), {sql_det_ln_steps('tot', 'n_events', 'ln_n', 9)}
    SELECT event_type, n_events, n_active_hours,
           {sql_round_big_int_ratio(
               'n_events::HUGEINT * ln_n - s_nln',
               'n_events::HUGEINT * 1000000000', 6)} AS entropy_nats,
           {sql_round_big_int_ratio(
               'n_events::HUGEINT * ln_n - s_nln',
               f'n_events::HUGEINT * {_LN24_NANO}', 6)} AS entropy_ratio
    FROM ln_n_rel
    """


@register("events_hourly_entropy_profile", oracle=_hourly_entropy_oracle())
def events_hourly_entropy_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each event type's hour-of-day distribution
    (nats, plus the ratio to the ln(24) uniform maximum) — the
    "is this feed diurnal or flat" profile a stream monitor keys
    alerting thresholds on; near-0 ratio = single-hour spike traffic,
    near-1 = uniform.

    H = ln(N) - (1/N) sum_h n_h ln(n_h), evaluated with the
    deterministic fixed-point ln (detmath, dp=9) on the BOUNDED
    |types| x 24 histogram — never per event row (the §5e det-ln
    domain discipline); ln(24) is a compile-time constant from the
    same construction. All sums exact decimal; both outputs exact
    half-up ratios.
    """
    from ..functions.detmath import det_ln_q
    from ..functions.exact import round_big_int_ratio

    t = Tables(spark, sf_dir)
    hist = (
        t.events.select("event_type", F.hour("ts").alias("hr"))
        .groupBy("event_type", "hr")
        .agg(F.count(F.lit(1)).alias("n_h"))
    )
    ln_nh = hist.withColumn("ln_nh", det_ln_q(F.col("n_h"), 9))
    tot = ln_nh.groupBy("event_type").agg(
        F.sum("n_h").alias("n_events"),
        F.count(F.lit(1)).alias("n_active_hours"),
        F.sum(dec38(F.col("n_h")) * F.col("ln_nh")).alias("s_nln"),
    )
    out = tot.withColumn("ln_n", det_ln_q(F.col("n_events"), 9))
    num = dec38(F.col("n_events")) * F.col("ln_n") - F.col("s_nln")
    return out.select(
        "event_type",
        "n_events",
        "n_active_hours",
        round_big_int_ratio(num, dec38(F.col("n_events")) * F.lit(1_000_000_000), 6).alias(
            "entropy_nats"
        ),
        round_big_int_ratio(num, dec38(F.col("n_events")) * F.lit(_LN24_NANO), 6).alias(
            "entropy_ratio"
        ),
    )


# ---------------------------------------------------------------------------
# 12. Levene's test (variance homogeneity across order priorities)
# ---------------------------------------------------------------------------


def _levene_oracle() -> str:
    return f"""
    WITH c AS (
      SELECT o_orderpriority AS g,
             CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
      FROM orders WHERE o_totalprice IS NOT NULL
    ), gs AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n_g,
             CAST(sum(cents::HUGEINT) AS HUGEINT) AS s_g
      FROM c GROUP BY g
    ), z AS (
      SELECT c.g,
             CAST(floor(abs(CAST(c.cents AS DOUBLE)
                            - CAST(gs.s_g AS DOUBLE) / gs.n_g)
                        * 100.0 + 0.5) AS BIGINT) AS z_q
      FROM c JOIN gs USING (g)
    ), zg AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n_g,
             CAST(sum(z_q::HUGEINT) AS HUGEINT) AS sz_g,
             CAST(sum(z_q::HUGEINT * z_q) AS HUGEINT) AS szz_g
      FROM z GROUP BY g
    ), a AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(n_g) AS BIGINT) AS n_total,
             CAST(sum(sz_g) AS HUGEINT) AS sz,
             CAST(sum((sz_g * sz_g) // n_g) AS HUGEINT) AS bet_sum,
             CAST(sum(szz_g) AS HUGEINT) AS szz
      FROM zg)
    SELECT k, n_total,
           CASE WHEN k >= 2 AND n_total > k
                     AND CAST(szz - bet_sum AS DOUBLE) > 0 THEN
             CAST(floor(((CAST(n_total - k AS DOUBLE) / (k - 1))
                         * (CAST(bet_sum - (sz * sz) // n_total AS DOUBLE)
                            / CAST(szz - bet_sum AS DOUBLE)))
                        * 1000000.0 + 0.5) AS BIGINT) / 1000000.0
           END AS levene_w
    FROM a
    """


@register("stats_levene_priority", oracle=_levene_oracle())
def stats_levene_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levene\'s test statistic W for homogeneity of order-value
    variance across the five order priorities — the assumption check
    gating every pooled-variance test in the family (Welch ANOVA
    exists for unequal variances; Levene tells you when you need it).

    Exactness: mean-centered absolute deviations z_ij = |x - mean_g|
    quantize per row at 1e-2 cents BEFORE any sum (the mean is the
    identical s_g/n_g double on both engines), so every sum is an
    exact integer; the two quadratic forms then stay EXACT via
    truncated integer division (sz_g^2 // n_g in decimal/HUGEINT —
    never a cross-group float sum, whose partial-aggregation order
    would differ between engines), and W assembles as one identical
    IEEE expression off those integers. Headroom: sz_g^2 fits
    decimal(38,0) up to ~1e7 rows/group at this quantization; larger
    corpora drop the z scale (documented trade, same class as the
    Cram\xe9r\'s V overflow rework).

    Scale: two scans (group moments, then deviations), a broadcast
    |groups|-row join, 5-row final domain. Degenerate inputs (k < 2,
    zero within-group variance) yield NULL on both engines.
    """
    t = Tables(spark, sf_dir)
    cents = F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5)).cast("long")
    c = t.orders.where(F.col("o_totalprice").isNotNull()).select(
        F.col("o_orderpriority").alias("g"), cents.alias("cents")
    )
    gs = c.groupBy("g").agg(
        F.count(F.lit(1)).alias("n_g"), F.sum(dec38(F.col("cents"))).alias("s_g")
    )
    z_q = F.floor(
        F.abs(
            F.col("cents").cast("double")
            - F.col("s_g").cast("double") / F.col("n_g")
        )
        * F.lit(100.0)
        + F.lit(0.5)
    ).cast("long")
    z = c.join(F.broadcast(gs), "g").select("g", z_q.alias("z_q"))
    zg = z.groupBy("g").agg(
        F.count(F.lit(1)).alias("n_g"),
        F.sum(dec38(F.col("z_q"))).alias("sz_g"),
        F.sum(dec38(F.col("z_q")) * F.col("z_q")).alias("szz_g"),
    )

    def _tdiv(num, den):
        # exact truncated integer division in decimal: (a - a % b) / b
        return (num - num % den) / den

    a = zg.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n_g").cast("long").alias("n_total"),
        F.sum(F.col("sz_g")).alias("sz"),
        F.sum(_tdiv(F.col("sz_g") * F.col("sz_g"), dec38(F.col("n_g")))).alias(
            "bet_sum"
        ),
        F.sum(F.col("szz_g")).alias("szz"),
    )
    kd = F.col("k").cast("double")
    within = (F.col("szz") - F.col("bet_sum")).cast("double")
    between = (
        F.col("bet_sum") - _tdiv(F.col("sz") * F.col("sz"), dec38(F.col("n_total")))
    ).cast("double")
    w_stat = ((F.col("n_total").cast("double") - kd) / (kd - F.lit(1.0))) * (
        between / within
    )
    return a.select(
        "k",
        "n_total",
        F.when(
            (F.col("k") >= 2) & (F.col("n_total") > F.col("k")) & (within > 0),
            F.floor(w_stat * F.lit(1e6) + F.lit(0.5)).cast("long") / F.lit(1e6),
        ).alias("levene_w"),
    )

# ---------------------------------------------------------------------------
# 13. Cochran's Q across three document-quality gates
# ---------------------------------------------------------------------------

COCHRAN_MIN_SENTENCES = 2


def _cochran_oracle() -> str:
    from ..functions.exact import sql_round_big_int_ratio
    from .corpus import _SQL_TOKENS

    return f"""
    WITH flags AS (
      SELECT CASE WHEN n_chars >= {MCNEMAR_MIN_CHARS} THEN 1 ELSE 0 END AS a,
             CASE WHEN len({_SQL_TOKENS}) >= {MCNEMAR_MIN_TOKENS} THEN 1 ELSE 0 END AS b,
             CASE WHEN len(string_split(text, '.')) - 1 >= {COCHRAN_MIN_SENTENCES}
                  THEN 1 ELSE 0 END AS c
      FROM documents
    ), agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(a) AS BIGINT) AS g_a,
             CAST(sum(b) AS BIGINT) AS g_b,
             CAST(sum(c) AS BIGINT) AS g_c,
             CAST(sum(a + b + c) AS BIGINT) AS sl,
             CAST(sum((a + b + c) * (a + b + c)) AS BIGINT) AS sll
      FROM flags)
    SELECT n_docs, g_a, g_b, g_c,
           CASE WHEN 3 * sl - sll > 0 THEN
             {sql_round_big_int_ratio(
                 '2 * (3 * (g_a::HUGEINT * g_a + g_b::HUGEINT * g_b '
                 '+ g_c::HUGEINT * g_c) - sl::HUGEINT * sl)',
                 '3 * sl - sll')}
           END AS cochran_q
    FROM agg
    """


@register("stats_cochran_q_gates", oracle=_cochran_oracle())
def stats_cochran_q_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q for THREE paired binary quality gates (char-length,
    token-count, sentence-count) on the same documents — the k-gate
    generalization of the McNemar pair: do the gates admit
    significantly different fractions of the corpus?

    Q = (k-1) (k Sum G_j^2 - (Sum G_j)^2) / (k Sum L_i - Sum L_i^2)
    with G the per-gate totals and L the per-document pass counts —
    every term an exact integer off ONE scan (L in {{0..3}}, so the
    row-level squares are trivial), the statistic one exact half-up
    decimal ratio, NULL when every document passes all or no gates.
    """
    from ..functions.exact import round_big_int_ratio
    from ..functions.textnorm import whitespace_tokens

    t = Tables(spark, sf_dir)
    a = F.when(F.col("n_chars") >= MCNEMAR_MIN_CHARS, 1).otherwise(0)
    b = F.when(
        F.size(whitespace_tokens(F.col("text"))) >= MCNEMAR_MIN_TOKENS, 1
    ).otherwise(0)
    cgate = F.when(
        F.size(F.split(F.col("text"), "\\.", -1)) - 1 >= COCHRAN_MIN_SENTENCES, 1
    ).otherwise(0)
    li = a + b + cgate
    agg = t.documents.select(
        a.alias("a"), b.alias("b"), cgate.alias("c"), li.alias("l")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("a").cast("long").alias("g_a"),
        F.sum("b").cast("long").alias("g_b"),
        F.sum("c").cast("long").alias("g_c"),
        F.sum("l").cast("long").alias("sl"),
        F.sum(F.col("l") * F.col("l")).cast("long").alias("sll"),
    )
    num = F.lit(2).cast("decimal(38,0)") * (
        F.lit(3).cast("decimal(38,0)")
        * (
            dec38(F.col("g_a")) * F.col("g_a")
            + dec38(F.col("g_b")) * F.col("g_b")
            + dec38(F.col("g_c")) * F.col("g_c")
        )
        - dec38(F.col("sl")) * F.col("sl")
    )
    den = F.lit(3) * F.col("sl") - F.col("sll")
    return agg.select(
        "n_docs",
        "g_a",
        "g_b",
        "g_c",
        F.when(den > 0, round_big_int_ratio(num, dec38(den))).alias("cochran_q"),
    )


# ---------------------------------------------------------------------------
# 14. Logistic calibration slope / intercept (linear recalibration)
# ---------------------------------------------------------------------------


def _calibration_oracle() -> str:
    from .roundfive import logit_cte_chain

    ctes, w0, w1 = logit_cte_chain()
    p = f"1.0 / (1.0 + exp(-(({w0}) / 1000000.0 + ({w1}) / 1000000.0 * x)))"
    slope = (
        "(CAST(n AS DOUBLE) * spy - CAST(sp AS DOUBLE) * sy)"
        " / (CAST(n AS DOUBLE) * spp - CAST(sp AS DOUBLE) * sp)"
    )
    # intercept is rescaling-invariant: a = mean(y) - b_micro * mean(p_u)
    intercept = f"(CAST(sy AS DOUBLE) - ({slope}) * sp) / n"
    return (
        "WITH "
        + ", ".join(ctes)
        + f"""
    , sc AS (SELECT CAST(floor({p} * 1000000.0 + 0.5) AS BIGINT) AS p_u,
                    CAST(y AS BIGINT) AS yi FROM base)
    , a AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(p_u) AS HUGEINT) AS sp,
             CAST(sum(p_u::HUGEINT * p_u) AS HUGEINT) AS spp,
             CAST(sum(yi) AS BIGINT) AS sy,
             CAST(sum(p_u * yi) AS HUGEINT) AS spy
      FROM sc)
    SELECT n, sy AS n_pos,
           CASE WHEN CAST(n AS DOUBLE) * spp - CAST(sp AS DOUBLE) * sp > 0 THEN
             CAST(floor(({slope}) * 1000000.0 * 1000000.0 + 0.5) AS BIGINT)
               / 1000000.0
           END AS calib_slope_micro,
           CASE WHEN CAST(n AS DOUBLE) * spp - CAST(sp AS DOUBLE) * sp > 0 THEN
             CAST(floor(({intercept}) * 1000000.0 + 0.5) AS BIGINT) / 1000000.0
           END AS calib_intercept
    FROM a
    """
    )


@register("ml_calibration_slope_intercept", oracle=_calibration_oracle())
def ml_calibration_slope_intercept(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear recalibration line of the GD logistic model: OLS of the
    binary label on the predicted probability (slope 1, intercept 0 =
    perfectly calibrated; slope < 1 = overconfident). The
    slope/intercept pair is the standard recalibration audit next to
    ``ml_logistic_fit_quality``'s calibration-in-the-large.

    Predictions quantize to micro-units per row; all five sufficient
    statistics are exact integer sums in ONE scan, and slope/intercept
    assemble as identical IEEE expressions off them (slope reported in
    micro-probability units to keep the quantized-domain arithmetic
    transparent). Degenerate zero-variance predictions yield NULL.
    """
    from .roundfive import logit_base, logit_sigmoid, logit_weight_steps

    t = Tables(spark, sf_dir)
    w = logit_weight_steps(t)[-1]
    p = logit_sigmoid(F.col("x"), F.col("w0q"), F.col("w1q"))
    sc = logit_base(t).crossJoin(F.broadcast(w)).select(
        F.floor(p * F.lit(1e6) + F.lit(0.5)).cast("long").alias("p_u"),
        F.col("y").cast("long").alias("yi"),
    )
    a = sc.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec38(F.col("p_u"))).alias("sp"),
        F.sum(dec38(F.col("p_u")) * F.col("p_u")).alias("spp"),
        F.sum("yi").cast("long").alias("sy"),
        F.sum(dec38(F.col("p_u") * F.col("yi"))).alias("spy"),
    )
    nd = F.col("n").cast("double")
    spd = F.col("sp").cast("double")
    var = nd * F.col("spp").cast("double") - spd * spd
    slope = (nd * F.col("spy").cast("double") - spd * F.col("sy").cast("double")) / var
    intercept = (F.col("sy").cast("double") - slope * spd) / F.col("n")
    return a.select(
        "n",
        F.col("sy").alias("n_pos"),
        F.when(
            var > 0,
            F.floor(slope * F.lit(1e6) * F.lit(1e6) + F.lit(0.5)).cast("long")
            / F.lit(1e6),
        ).alias("calib_slope_micro"),
        F.when(
            var > 0,
            F.floor(intercept * F.lit(1e6) + F.lit(0.5)).cast("long") / F.lit(1e6),
        ).alias("calib_intercept"),
    )

# ---------------------------------------------------------------------------
# 15. IQR fence outlier audit per nation
# ---------------------------------------------------------------------------


def _iqr_oracle() -> str:
    return """
    WITH c AS (
      SELECT n.n_name,
             CAST(floor(o.o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents,
             o.o_orderkey
      FROM orders o
      JOIN customer cu ON cu.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = cu.c_nationkey
      WHERE o.o_totalprice IS NOT NULL
    ), r AS (
      SELECT n_name, cents,
             row_number() OVER (PARTITION BY n_name
                                ORDER BY cents, o_orderkey) AS rn,
             count(*) OVER (PARTITION BY n_name) AS cnt
      FROM c
    ), q AS (
      SELECT n_name,
             CAST(max(cnt) AS BIGINT) AS n,
             max(CASE WHEN rn = (cnt + 3) // 4 THEN cents END) AS q1,
             max(CASE WHEN rn = (3 * cnt + 3) // 4 THEN cents END) AS q3
      FROM r GROUP BY n_name
    )
    SELECT q.n_name, q.n,
           CAST(q.q1 AS DOUBLE) / 100.0 AS q1_price,
           CAST(q.q3 AS DOUBLE) / 100.0 AS q3_price,
           CAST(sum(CASE WHEN 2 * r.cents < 5 * q.q1 - 3 * q.q3 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_low_outliers,
           CAST(sum(CASE WHEN 2 * r.cents > 5 * q.q3 - 3 * q.q1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_high_outliers
    FROM r JOIN q USING (n_name)
    GROUP BY q.n_name, q.n, q.q1, q.q3
    """


@register("dq_iqr_outlier_fences", oracle=_iqr_oracle())
def dq_iqr_outlier_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey IQR fence outlier audit per nation: order values beyond
    [q1 - 1.5 IQR, q3 + 1.5 IQR] — the robust per-segment outlier
    count a DQ dashboard tracks alongside the MAD z-scores.

    Quartiles are EXACT nearest-rank order statistics (ceil(n/4),
    ceil(3n/4)) from one partitioned rank window; the 1.5x fences
    compare in doubled-cents integer space (2x < 5 q1 - 3 q3), so no
    float ever enters the decision — fuzz-stable by construction.
    Scale: per-nation windows, broadcast dimension joins, 25-row
    output.
    """
    t = Tables(spark, sf_dir)
    cents = F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5)).cast("long")
    c = (
        t.orders.where(F.col("o_totalprice").isNotNull())
        .join(
            F.broadcast(t.customer.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(t.nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("n_name", cents.alias("cents"), "o_orderkey")
    )
    wp = Window.partitionBy("n_name")
    r = c.select(
        "n_name",
        "cents",
        F.row_number().over(wp.orderBy("cents", "o_orderkey")).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("cnt"),
    )

    def _ceil_div(num, den):
        a = num + den - 1
        return ((a - a % den) / den).cast("long")

    k1 = _ceil_div(F.col("cnt"), F.lit(4))
    k3 = _ceil_div(F.lit(3) * F.col("cnt"), F.lit(4))
    q = r.groupBy("n_name").agg(
        F.max("cnt").cast("long").alias("n"),
        F.max(F.when(F.col("rn") == k1, F.col("cents"))).alias("q1"),
        F.max(F.when(F.col("rn") == k3, F.col("cents"))).alias("q3"),
    )
    j = r.select("n_name", "cents").join(F.broadcast(q), "n_name")
    return (
        j.groupBy("n_name", "n", "q1", "q3")
        .agg(
            F.sum(
                F.when(
                    F.lit(2) * F.col("cents") < F.lit(5) * F.col("q1") - F.lit(3) * F.col("q3"),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_low_outliers"),
            F.sum(
                F.when(
                    F.lit(2) * F.col("cents") > F.lit(5) * F.col("q3") - F.lit(3) * F.col("q1"),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_high_outliers"),
        )
        .select(
            "n_name",
            "n",
            (F.col("q1").cast("double") / F.lit(100.0)).alias("q1_price"),
            (F.col("q3").cast("double") / F.lit(100.0)).alias("q3_price"),
            "n_low_outliers",
            "n_high_outliers",
        )
    )
