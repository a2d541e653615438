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

``stats_cohens_d_priority`` and ``stats_levene_priority`` live in
``operators/stats_models.py``; ``stats_trimmed_winsorized_price`` lives
in ``operators/stats_dist.py``; ``stats_cochran_q_gates`` and
``stats_mcnemar_quality_rules`` live in ``operators/stats_tables.py``
with the other stats queries.

``events_hourly_entropy_profile`` and ``events_runs_test_daily`` live in
``operators/events_series.py`` with the other events queries.

``ml_calibration_slope_intercept`` and ``ml_logistic_fit_quality`` live
in ``operators/ml_calibration.py`` with the other ml queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.exact import order_cents
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
    cents = order_cents()
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
    cents = order_cents()
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
