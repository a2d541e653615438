"""Round-9 registered additions (window slots beyond the activated
round-8 queue — VERDICT r8 item 6).

Batch themes, per the verdict's follow-through list: a second
MERGEABLE quantile sketch (bounded per-shard rank sampling — the
summary a 1000-executor job would actually emit), sequential
pattern mining off the sessionization shuffle,
plus standard-toolbox members their families still lacked
(Mann-Kendall trend, shard-skew audit, precision@k ranking metrics).

House discipline: every query is a DataFrame plan with a DuckDB
oracle twin; exact integer/decimal arithmetic crosses the engine
boundary (ratios via round_int_ratio / round_big_int_ratio, logs via
the det-ln fixed-point chain); global ordered passes run only over
bounded domains (sketch summaries, calendar days, seed
neighborhoods) — never raw fact rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.exact import dec38
from ..registry import register
from ..tables import Tables


# ---------------------------------------------------------------------------
# 1. Mergeable rank-sampled quantile summary + exact rank audit
# ---------------------------------------------------------------------------

QS_SHARDS = 32
QS_PER_SHARD = 256
QS_QUANTILES = (1, 5, 25, 50, 75, 95, 99)


def _qsketch_oracle() -> str:
    from ..functions.exact import sql_round_big_int_ratio

    s, per = QS_SHARDS, QS_PER_SHARD
    qlist = ", ".join(str(q) for q in QS_QUANTILES)
    return f"""
    WITH rws AS (
      SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v,
             l_orderkey, l_linenumber,
             l_orderkey % {s} AS shard
      FROM lineitem
    ), ranked AS (
      SELECT shard, v, l_orderkey, l_linenumber,
             row_number() OVER (PARTITION BY shard
                                ORDER BY v, l_orderkey, l_linenumber) AS rn,
             count(*) OVER (PARTITION BY shard) AS n_sh
      FROM rws
    ), samples AS (
      SELECT shard, v, rn,
             CAST((n_sh + {per - 1}) // {per} AS BIGINT) AS wt
      FROM ranked WHERE rn % ((n_sh + {per - 1}) // {per}) = 0
    ), cum AS (
      SELECT *, sum(wt) OVER (ORDER BY v, shard, rn) AS cw FROM samples
    ), tot AS (
      SELECT CAST(sum(wt) AS BIGINT) AS w,
             (SELECT CAST(count(*) AS BIGINT) FROM rws) AS n
      FROM samples
    ), qs AS (SELECT CAST(unnest([{qlist}]) AS BIGINT) AS q),
    est AS (
      SELECT q,
             (SELECT min(v) FROM cum, tot
              WHERE cw >= (q * tot.w + 99) // 100) AS est_cents
      FROM qs
    )
    SELECT e.q, e.est_cents, t.w AS w_total, t.n AS n_total,
           (SELECT CAST(count(*) AS BIGINT) FROM rws WHERE v <= e.est_cents)
             AS achieved_rank,
           {sql_round_big_int_ratio(
               '''abs(100 * (SELECT count(*) FROM rws WHERE v <= e.est_cents)
                  - e.q * t.n)''',
               '100::HUGEINT * t.n')} AS rank_err
    FROM est e, tot t
    WHERE t.n > 0
    """


@register("sketch_rank_sample_quantile_merge", oracle=_qsketch_oracle())
def sketch_rank_sample_quantile_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable BOUNDED quantile summary: each of 32 hash shards
    emits at most 256 rank-spaced samples (stride = ceil(n_shard/256),
    every stride-th order statistic, weight = stride), the per-shard
    summaries merge by weighted-rank cumulation, and each requested
    quantile is answered from the merged 8k-row summary — the second
    mergeable-quantile twin beside ``sketch_fixedbin_quantile_merge``
    (that one buckets by VALUE and is exact per bin; this one samples
    by RANK, the t-digest/Munro-Paterson family shape whose summary
    size is fixed REGARDLESS of the value distribution). The audit
    joins each estimate back to the full data for its exact achieved
    rank and reports the rank error vs the target — the sketch's
    ±stride guarantee made visible per quantile.

    Scale: the per-shard ranking partitions by shard (32-way
    parallel); the merged cumulative runs over ≤ 32×256 = 8192 sample
    rows BY MECHANISM (stride grows with the data, the summary does
    not — that is the sketch contract); the audit side is one
    broadcast non-equi probe of the 7 estimates against the fact scan
    (counts, no sort). Deterministic: integer cents, lexicographic
    (v, orderkey, linenumber) tiebreaks, integer stride arithmetic in
    both engines.
    """
    from ..functions.exact import round_big_int_ratio

    s, per = QS_SHARDS, QS_PER_SHARD
    t = Tables(spark, sf_dir)
    rws = t.lineitem.select(
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long").alias("v"),
        "l_orderkey",
        "l_linenumber",
        F.pmod(F.col("l_orderkey"), F.lit(s)).cast("long").alias("shard"),
    )
    w_sh = Window.partitionBy("shard").orderBy("v", "l_orderkey", "l_linenumber")
    ranked = rws.select(
        "shard",
        "v",
        F.row_number().over(w_sh).cast("long").alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("shard")).alias("n_sh"),
    )
    stride = F.expr(f"(n_sh + {per - 1}) div {per}")
    samples = ranked.filter(F.col("rn") % stride == 0).select(
        "shard", "v", "rn", stride.alias("wt")
    )
    w_cum = Window.orderBy("v", "shard", "rn").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = samples.select("v", "shard", "rn", "wt", F.sum("wt").over(w_cum).alias("cw"))
    tot = samples.agg(F.sum("wt").alias("w")).crossJoin(
        F.broadcast(rws.agg(F.count(F.lit(1)).alias("n")))
    )
    qs = spark.range(1).select(
        F.explode(F.array(*[F.lit(q).cast("long") for q in QS_QUANTILES])).alias("q")
    )
    target = F.expr("(q * w + 99) div 100")
    est = (
        qs.crossJoin(F.broadcast(tot))
        .join(cum, F.col("cw") >= target, "left")
        .groupBy("q", "w", "n")
        .agg(F.min("v").alias("est_cents"))
    )
    # Empty-input parity (ADVICE r9): with an empty lineitem the inner
    # probe join would emit 0 rows while the oracle's scalar subqueries
    # emitted 7 NULL-estimate rows — both sides now guard identically on
    # n_total > 0 (also keeps the rank-err ratio's denominator nonzero),
    # so an empty table yields 0 rows in BOTH engines.
    ach = (
        rws.join(F.broadcast(est.filter(F.col("n") > 0)), rws.v <= F.col("est_cents"))
        .groupBy("q", "w", "n", "est_cents")
        .agg(F.count(F.lit(1)).alias("achieved_rank"))
    )
    return ach.select(
        "q",
        "est_cents",
        F.col("w").alias("w_total"),
        F.col("n").alias("n_total"),
        "achieved_rank",
        round_big_int_ratio(
            F.abs(F.lit(100) * dec38(F.col("achieved_rank")) - dec38(F.col("q")) * F.col("n")),
            F.lit(100).cast("decimal(38,0)") * F.col("n"),
        ).alias("rank_err"),
    )


# ---------------------------------------------------------------------------
# 3. Sequential patterns: top session event-type trigrams
# ---------------------------------------------------------------------------

SEQPAT_TOPK = 20


def _seqpat_oracle() -> str:
    from ..streaming.batch_equivalents import SESSION_GAP_MIN

    return f"""
    WITH flagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                       > {SESSION_GAP_MIN} * 60000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, ts, event_id, event_type,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM flagged
    ), grams AS (
      SELECT event_type AS e1,
             lead(event_type, 1) OVER w2 AS e2,
             lead(event_type, 2) OVER w2 AS e3,
             session_id,
             lead(session_id, 2) OVER w2 AS sid3
      FROM sessions
      WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), pat AS (
      SELECT e1 || '>' || e2 || '>' || e3 AS pattern,
             CAST(count(*) AS BIGINT) AS n
      FROM grams
      WHERE sid3 = session_id
        AND e1 IS NOT NULL AND e2 IS NOT NULL AND e3 IS NOT NULL
      GROUP BY 1
    )
    SELECT pattern, n FROM pat
    ORDER BY n DESC, pattern LIMIT {SEQPAT_TOPK}
    """


@register("events_sequential_patterns_topk", oracle=_seqpat_oracle())
def events_sequential_patterns_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern mining, bounded to length-3: the most
    frequent consecutive event-type trigrams WITHIN a session (same
    30-min-gap sessionization as ``events_sessionization``) — the
    contiguous-sequence member of the product-analytics family
    (funnels check ONE fixed path; this surfaces the top observed
    paths), VERDICT r8 item 6's "sequential-pattern mining off the
    sessionization shuffle".

    One user-keyed shuffle serves both the session ids and the
    two-step lead() gram assembly (same window); a trigram survives
    only if its third event is still in the SAME session (lead of the
    cumulative session id equals the current one — cheaper than two
    boundary checks and exactly equivalent). The global top-k is a
    TakeOrderedAndProject over the (pattern → count) aggregate, whose
    domain is |event_types|^3, not rows. Tie-break on the pattern
    string keeps the cross-engine hash stable.
    """
    from ..streaming.batch_equivalents import SESSION_GAP_MIN

    t = Tables(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag(F.col("ts")).over(w))
    flagged = t.events.select("user_id", "ts", "event_id", "event_type").withColumn(
        "is_new",
        F.when(gap.isNull() | (gap > SESSION_GAP_MIN * 60_000_000), 1).otherwise(0),
    )
    cum = w.rowsBetween(Window.unboundedPreceding, 0)
    sessions = flagged.withColumn("session_id", F.sum("is_new").over(cum))
    grams = sessions.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
        "session_id",
        F.lead("session_id", 2).over(w).alias("sid3"),
    )
    # NULL parity (ADVICE r9): concat_ws SKIPS null components while the
    # oracle's || propagates them — a NULL event_type would make Spark
    # count a malformed 2-part pattern the oracle drops. Both engines
    # now filter null components explicitly, so the semantics agree for
    # any input, not just the null-free fixtures.
    pat = (
        grams.filter(
            (F.col("sid3") == F.col("session_id"))
            & F.col("e1").isNotNull()
            & F.col("e2").isNotNull()
            & F.col("e3").isNotNull()
        )
        .select(F.concat_ws(">", "e1", "e2", "e3").alias("pattern"))
        .groupBy("pattern")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return pat.orderBy(F.col("n").desc(), "pattern").limit(SEQPAT_TOPK)


# ---------------------------------------------------------------------------
# 4. Mann-Kendall trend test on the daily order-count series
# ---------------------------------------------------------------------------


def _mann_kendall_oracle() -> str:
    return """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS x
      FROM orders GROUP BY 1
    ), s AS (
      SELECT CAST(sum(CASE WHEN b.x > a.x THEN 1
                           WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT) AS s_mk
      FROM daily a JOIN daily b ON a.day < b.day
    ), nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily),
    ties AS (
      SELECT CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT) AS tie18
      FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM daily GROUP BY x)
      WHERE t > 1
    ), var18 AS (
      SELECT n, s_mk, tie18,
             n * (n - 1) * (2 * n + 5) - tie18 AS v18
      FROM s, nn, ties
    )
    SELECT n AS n_days, s_mk, v18 AS var_s_x18,
           CASE WHEN v18 > 0 THEN
             CAST(floor((CASE WHEN s_mk > 0 THEN CAST(s_mk - 1 AS DOUBLE)
                              WHEN s_mk < 0 THEN CAST(s_mk + 1 AS DOUBLE)
                              ELSE 0.0::DOUBLE END)
                        / sqrt(CAST(v18 AS DOUBLE) / 18.0::DOUBLE)
                        * 1000000.0 + 0.5) AS BIGINT) / 1000000.0
           END AS z_mk
    FROM var18
    """


@register("stats_mann_kendall_daily", oracle=_mann_kendall_oracle())
def stats_mann_kendall_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotone-trend test on the daily order-count
    series: S = sum over day pairs i<j of sign(x_j - x_i), the
    tie-corrected variance (x18 exact integer units), and the
    continuity-corrected normal z — the RANK trend test beside the
    Theil-Sen slope (``stats_theil_sen_trend`` estimates the slope;
    MK tests its existence — the pair every trend toolbox ships).

    The pairwise pass joins the POST-AGGREGATION calendar-day series
    to itself (~2.4k rows at any corpus size — the same bounded-domain
    self-join class as Theil-Sen); the fact scan collapses to days
    map-side first. S, the tie term, and 18*Var(S) are exact int64;
    the single sqrt+divide runs on exact integers with an identical
    expression chain in both engines, quantized half-up 1e-6.
    """
    t = Tables(spark, sf_dir)
    daily = t.orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.count(F.lit(1)).alias("x")
    )
    a = daily.select(F.col("day").alias("da"), F.col("x").alias("xa"))
    b = daily.select(F.col("day").alias("db"), F.col("x").alias("xb"))
    s = a.join(b, F.col("da") < F.col("db")).agg(
        F.sum(
            F.when(F.col("xb") > F.col("xa"), 1)
            .when(F.col("xb") < F.col("xa"), -1)
            .otherwise(0)
        ).alias("s_mk")
    )
    nn = daily.agg(F.count(F.lit(1)).alias("n"))
    ties = (
        daily.groupBy("x")
        .agg(F.count(F.lit(1)).alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)), F.lit(0)
            ).alias("tie18")
        )
    )
    v = (
        s.crossJoin(F.broadcast(nn))
        .crossJoin(F.broadcast(ties))
        .select(
            "n",
            "s_mk",
            (
                F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5) - F.col("tie18")
            ).alias("v18"),
        )
    )
    num = (
        F.when(F.col("s_mk") > 0, (F.col("s_mk") - 1).cast("double"))
        .when(F.col("s_mk") < 0, (F.col("s_mk") + 1).cast("double"))
        .otherwise(F.lit(0.0))
    )
    z = num / F.sqrt(F.col("v18").cast("double") / F.lit(18.0))
    return v.select(
        F.col("n").alias("n_days"),
        "s_mk",
        F.col("v18").alias("var_s_x18"),
        F.when(
            F.col("v18") > 0,
            F.floor(z * F.lit(1000000.0) + F.lit(0.5)).cast("long") / F.lit(1e6),
        ).alias("z_mk"),
    )


# ---------------------------------------------------------------------------
# 5. Hash-shard skew audit of document payloads
# ---------------------------------------------------------------------------

SKEW_N_SHARDS = 16


def _shard_skew_oracle() -> str:
    from ..functions.exact import sql_round_int_ratio

    n = SKEW_N_SHARDS
    return f"""
    WITH sharded AS (
      SELECT (('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15)))::BIGINT
               % {n} AS shard,
             n_chars
      FROM documents
    ), per AS (
      SELECT CAST(shard AS BIGINT) AS shard,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS total_chars
      FROM sharded GROUP BY shard
    ), tot AS (
      SELECT CAST(sum(total_chars) AS BIGINT) AS t,
             CAST(count(*) AS BIGINT) AS k
      FROM per
    )
    SELECT p.shard, p.n_docs, p.total_chars,
           {sql_round_int_ratio('p.total_chars', 't.t')} AS char_share,
           {sql_round_int_ratio('p.total_chars * t.k', 't.t')}
             AS load_factor
    FROM per p, tot t ORDER BY p.shard
    """


@register("corpus_shard_skew_audit", oracle=_shard_skew_oracle())
def corpus_shard_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-balance audit of plain HASH sharding (16 shards by
    sha(doc_id)): per-shard doc count, total chars, char share, and
    load factor (shard bytes / ideal bytes, 1.0 = perfectly even) —
    the BASELINE the planned assignments are judged against
    (``layout_serpentine_shard_balance`` plans for balance; this
    measures what content-blind hashing actually delivers, the number
    a shard-writer checks before deciding the serpentine pass is
    worth a sort).

    One partial-aggregated scan to 16 rows; shares and load factors
    are exact integer ratios. The sha-derived shard id is the same
    portable 60-bit hash family the dedup/split operators use, so the
    audit reproduces bit-identically in both engines at any scale.
    """
    from ..functions.exact import round_int_ratio
    from ..functions.textnorm import sha256_prefix_i64

    t = Tables(spark, sf_dir)
    per = (
        t.documents.select(
            (sha256_prefix_i64(F.col("doc_id").cast("string")) % SKEW_N_SHARDS).alias(
                "shard"
            ),
            "n_chars",
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )
    tot = per.agg(
        F.sum("total_chars").alias("t"), F.count(F.lit(1)).alias("k")
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "shard",
        "n_docs",
        "total_chars",
        round_int_ratio(F.col("total_chars"), F.col("t")).alias("char_share"),
        round_int_ratio(F.col("total_chars") * F.col("k"), F.col("t")).alias(
            "load_factor"
        ),
    )


# ---------------------------------------------------------------------------
# 6. Precision@k / lift of the classifier ranking, per language
# ---------------------------------------------------------------------------

PAK_K = 20


def _precision_at_k_oracle() -> str:
    from .ml import _scored_labeled_sql
    from ..functions.exact import sql_round_int_ratio

    return (
        _scored_labeled_sql()
        + f"""
    , ranked AS (
      SELECT lang, label,
             row_number() OVER (PARTITION BY lang
                                ORDER BY score_q DESC, doc_id) AS rnk
      FROM scored
    ), per AS (
      SELECT lang,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(label) AS BIGINT) AS n_pos,
             CAST(sum(CASE WHEN rnk <= {PAK_K} THEN label ELSE 0 END) AS BIGINT)
               AS hits_at_k,
             CAST(sum(CASE WHEN rnk <= {PAK_K} THEN 1 ELSE 0 END) AS BIGINT)
               AS k_eff
      FROM ranked GROUP BY lang
    )
    SELECT lang, n, n_pos, k_eff, hits_at_k,
           {sql_round_int_ratio('hits_at_k', 'k_eff')} AS precision_at_k,
           CASE WHEN n_pos > 0 THEN
             {sql_round_int_ratio('hits_at_k * n', 'k_eff * n_pos')}
           END AS lift_at_k
    FROM per
    """
    )


@register("ml_precision_at_k_by_lang", oracle=_precision_at_k_oracle())
def ml_precision_at_k_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision@20 and lift@20 of the hashed-classifier ranking per
    language: of each language's 20 highest-scored documents, the
    fraction that pass the quality gate, and that precision relative
    to the language's base rate — the RANKING-CUTOFF quality metrics
    beside the threshold metrics (AUC/PR-AUC integrate over all
    cutoffs; a selection pipeline ships exactly one k).

    Reuses the single-scan ``_scored_labeled`` projection (scores and
    labels from one token pass, no joins); the per-language ranking
    partitions by lang (top-k never leaves its partition group);
    precision and lift are exact integer ratios with the k_eff
    denominator handling languages smaller than k. Deterministic
    tiebreak (score desc, doc_id) in both engines.
    """
    from .ml import _scored_labeled
    from ..functions.exact import round_int_ratio

    t = Tables(spark, sf_dir)
    sc = _scored_labeled(t)
    w = Window.partitionBy("lang").orderBy(F.col("score_q").desc(), "doc_id")
    ranked = sc.select("lang", "label", F.row_number().over(w).alias("rnk"))
    per = ranked.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("label").alias("n_pos"),
        F.sum(F.when(F.col("rnk") <= PAK_K, F.col("label")).otherwise(0)).alias(
            "hits_at_k"
        ),
        F.sum(F.when(F.col("rnk") <= PAK_K, 1).otherwise(0)).alias("k_eff"),
    )
    return per.select(
        "lang",
        "n",
        "n_pos",
        "k_eff",
        "hits_at_k",
        round_int_ratio(F.col("hits_at_k"), F.col("k_eff")).alias("precision_at_k"),
        F.when(
            F.col("n_pos") > 0,
            round_int_ratio(
                F.col("hits_at_k") * F.col("n"), F.col("k_eff") * F.col("n_pos")
            ),
        ).alias("lift_at_k"),
    )


# ---------------------------------------------------------------------------
# 7. Jonckheere-Terpstra ordered-alternative test: quantity by priority
# ---------------------------------------------------------------------------


def _jonckheere_oracle() -> str:
    return """
    WITH q AS (
      SELECT o.o_orderpriority AS g, CAST(l.l_quantity AS BIGINT) AS v
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE l.l_quantity IS NOT NULL
    ), cells AS (
      SELECT g, v, CAST(count(*) AS BIGINT) AS c FROM q GROUP BY g, v
    ), jt AS (
      SELECT CAST(coalesce(sum(CASE WHEN a.v < b.v THEN 2 * a.c * b.c
                                    WHEN a.v = b.v THEN a.c * b.c
                                    ELSE 0 END), 0) AS BIGINT) AS jt2
      FROM cells a JOIN cells b ON a.g < b.g
    ), grp AS (
      SELECT CAST(sum(n_g) AS BIGINT) AS n,
             CAST(sum(n_g::HUGEINT * n_g) AS HUGEINT) AS sn2,
             CAST(sum(n_g::HUGEINT * (n_g-1) * (2*n_g+5)) AS HUGEINT) AS ga,
             CAST(sum(n_g::HUGEINT * (n_g-1) * (n_g-2)) AS HUGEINT) AS gb,
             CAST(sum(n_g::HUGEINT * (n_g-1)) AS HUGEINT) AS gd
      FROM (SELECT g, CAST(sum(c) AS BIGINT) AS n_g FROM cells GROUP BY g)
    ), tie AS (
      SELECT CAST(coalesce(sum(t::HUGEINT * (t-1) * (2*t+5)), 0) AS HUGEINT) AS ta,
             CAST(coalesce(sum(t::HUGEINT * (t-1) * (t-2)), 0) AS HUGEINT) AS tb,
             CAST(coalesce(sum(t::HUGEINT * (t-1)), 0) AS HUGEINT) AS td
      FROM (SELECT v, CAST(sum(c) AS BIGINT) AS t FROM cells GROUP BY v)
    ), stat AS (
      SELECT jt2, n,
             n::HUGEINT * n - sn2 AS e4,
             CAST(n::HUGEINT * (n-1) * (2*n+5) - ga - ta AS DOUBLE) / 72.0::DOUBLE
             + (CAST(gb AS DOUBLE) * CAST(tb AS DOUBLE))
               / (36.0::DOUBLE * CAST(n::HUGEINT * (n-1) * (n-2) AS DOUBLE))
             + (CAST(gd AS DOUBLE) * CAST(td AS DOUBLE))
               / (8.0::DOUBLE * CAST(n::HUGEINT * (n-1) AS DOUBLE)) AS var_jt
      FROM jt, grp, tie
    )
    SELECT n AS n_total, jt2, CAST(e4 AS BIGINT) AS e_jt_x4,
           CASE WHEN var_jt > 0 THEN
             CAST(floor(CAST(2::HUGEINT * jt2 - e4 AS DOUBLE)
                        / (4.0::DOUBLE * sqrt(var_jt))
                        * 1000000.0 + 0.5) AS BIGINT) / 1000000.0
           END AS z_jt
    FROM stat
    """


@register("stats_jonckheere_terpstra_priority", oracle=_jonckheere_oracle())
def stats_jonckheere_terpstra_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jonckheere-Terpstra ordered-alternative test: does lineitem
    quantity trend MONOTONICALLY across the ordered priority classes
    (1-URGENT -> 5-LOW)? JT = sum over ordered group pairs of the
    between-group Mann-Whitney counts — the test Kruskal-Wallis cannot
    replace when the alternative is ordered (KW spends power on
    arbitrary differences; JT concentrates it on the trend), finishing
    the ordered-groups corner of the nonparametric family.

    Everything runs on the (group, value) COUNT GRID — 5 priorities x
    <= 50 distinct quantities — so the pairwise "joins" are 250-row
    cell products, never row pairs: JT2 (doubled, tie-in-halves exact)
    is one cell-grid join-aggregate, and the Lehmann tie-corrected
    variance's three terms come from per-group and per-value count
    aggregates. Count cubes exceed int64 at fuzz magnitudes, so they
    accumulate in decimal/HUGEINT; the two >1e38 cross-products
    (gb*tb, gd*td) multiply AFTER the correctly-rounded double cast,
    in the same association order in both engines; z quantizes
    half-up 1e-6.
    """
    t = Tables(spark, sf_dir)
    q = (
        t.lineitem.filter(F.col("l_quantity").isNotNull())
        .join(t.orders, t.lineitem.l_orderkey == t.orders.o_orderkey)
        .select(
            F.col("o_orderpriority").alias("g"),
            F.col("l_quantity").cast("long").alias("v"),
        )
    )
    cells = q.groupBy("g", "v").agg(F.count(F.lit(1)).alias("c"))
    a = cells.select(
        F.col("g").alias("ga_"), F.col("v").alias("va_"), F.col("c").alias("ca_")
    )
    b = cells.select(
        F.col("g").alias("gb_"), F.col("v").alias("vb_"), F.col("c").alias("cb_")
    )
    # the cell grid is bounded (|priorities| x |quantity domain| <= 250
    # rows at any corpus size) — broadcast one side so the ordered-pair
    # non-equi join plans as a BroadcastNestedLoopJoin over the tiny
    # grid, never a CartesianProduct
    jt = a.join(F.broadcast(b), F.col("ga_") < F.col("gb_")).agg(
        F.coalesce(
            F.sum(
                F.when(F.col("va_") < F.col("vb_"), 2 * F.col("ca_") * F.col("cb_"))
                .when(F.col("va_") == F.col("vb_"), F.col("ca_") * F.col("cb_"))
                .otherwise(0)
            ),
            F.lit(0),
        ).alias("jt2")
    )
    ng = cells.groupBy("g").agg(F.sum("c").alias("n_g"))
    grp = ng.agg(
        F.sum("n_g").alias("n"),
        F.sum(dec38(F.col("n_g")) * F.col("n_g")).alias("sn2"),
        F.sum(
            dec38(F.col("n_g")) * (F.col("n_g") - 1) * (2 * F.col("n_g") + 5)
        ).alias("ga"),
        F.sum(dec38(F.col("n_g")) * (F.col("n_g") - 1) * (F.col("n_g") - 2)).alias(
            "gb"
        ),
        F.sum(dec38(F.col("n_g")) * (F.col("n_g") - 1)).alias("gd"),
    )
    tv = cells.groupBy("v").agg(F.sum("c").alias("t"))
    tie = tv.agg(
        F.coalesce(
            F.sum(dec38(F.col("t")) * (F.col("t") - 1) * (2 * F.col("t") + 5)),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("ta"),
        F.coalesce(
            F.sum(dec38(F.col("t")) * (F.col("t") - 1) * (F.col("t") - 2)),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("tb"),
        F.coalesce(
            F.sum(dec38(F.col("t")) * (F.col("t") - 1)),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("td"),
    )
    st = jt.crossJoin(F.broadcast(grp)).crossJoin(F.broadcast(tie))
    nd = dec38(F.col("n"))
    e4 = nd * F.col("n") - F.col("sn2")
    var_jt = (
        (nd * (F.col("n") - 1) * (2 * F.col("n") + 5) - F.col("ga") - F.col("ta")).cast(
            "double"
        )
        / F.lit(72.0)
        + (F.col("gb").cast("double") * F.col("tb").cast("double"))
        / (F.lit(36.0) * (nd * (F.col("n") - 1) * (F.col("n") - 2)).cast("double"))
        + (F.col("gd").cast("double") * F.col("td").cast("double"))
        / (F.lit(8.0) * (nd * (F.col("n") - 1)).cast("double"))
    )
    z = (F.lit(2).cast("decimal(38,0)") * F.col("jt2") - e4).cast("double") / (
        F.lit(4.0) * F.sqrt(var_jt)
    )
    return st.select(
        F.col("n").alias("n_total"),
        "jt2",
        e4.cast("long").alias("e_jt_x4"),
        F.when(
            var_jt > 0,
            F.floor(z * F.lit(1000000.0) + F.lit(0.5)).cast("long") / F.lit(1e6),
        ).alias("z_jt"),
    )


# ---------------------------------------------------------------------------
# 8. Bartlett's test for equal order-total variance across priorities
# ---------------------------------------------------------------------------


def _bartlett_oracle() -> str:
    from ..functions.detmath import sql_det_ln_steps

    return f"""
    WITH px AS (
      SELECT o_orderpriority AS g,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS x
      FROM orders
    ), per AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n_g,
             CAST(sum(x) AS HUGEINT) AS s,
             CAST(sum(x::HUGEINT * x) AS HUGEINT) AS qq
      FROM px GROUP BY g
    ), s2t AS (
      SELECT g, n_g,
             CAST((n_g::HUGEINT * qq - s * s) // (n_g::HUGEINT * (n_g - 1))
               AS BIGINT) AS s2_g,
             (n_g::HUGEINT * qq - s * s) // n_g::HUGEINT AS ss_g
      FROM per WHERE n_g >= 2
    ), {sql_det_ln_steps('s2t', 's2_g', 'lg')},
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(n_g) AS BIGINT) AS n,
             CAST(sum(ss_g) AS HUGEINT) AS sssum,
             CAST(sum((n_g - 1)::HUGEINT * lg) AS HUGEINT) AS slg,
             CAST(sum(1000000000000000000::HUGEINT // (n_g - 1)) AS BIGINT)
               AS invsum_u
      FROM lg_rel
    ), pool AS (
      SELECT k, n, slg, invsum_u,
             CAST(sssum // (n - k)::HUGEINT AS BIGINT) AS sp2
      FROM tot
    ), {sql_det_ln_steps('pool', 'sp2', 'lp')}
    SELECT k AS k_groups, n AS n_total, sp2 AS pooled_var_cents2,
           CASE WHEN k >= 2 AND n > k THEN
             CAST(floor(
               (CAST((n - k)::HUGEINT * lp - slg AS DOUBLE) / 1000000.0::DOUBLE)
               / (1.0::DOUBLE + ((CAST(invsum_u AS DOUBLE)
                   - CAST(1000000000000000000::HUGEINT // (n - k)::HUGEINT
                          AS DOUBLE)) / 1e18::DOUBLE)
                  / (3.0::DOUBLE * (k - 1)))
               * 1000000.0 + 0.5) AS BIGINT) / 1000000.0
           END AS t_bartlett
    FROM lp_rel
    """


@register("stats_bartlett_variance_priority", oracle=_bartlett_oracle())
def stats_bartlett_variance_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartlett's test for homogeneity of order-total variance across
    the five priority classes — the NORMAL-theory variance test beside
    the robust ones (Levene tests deviations from group centers,
    Mood/Ansari test scale by ranks; Bartlett is the likelihood-ratio
    test every ANOVA textbook gates on, most powerful under normality
    and the right "did the spread change" screen when the data are
    well-behaved).

    T = [(N-k) ln s_p^2 - sum (n_i-1) ln s_i^2] / C. Variances are
    integer-truncated cents^2 (exact decimal (n*Q - S^2) // d in both
    engines — the <1 cents^2 truncation is part of the statistic's
    definition here, identically on both sides); the logs are the
    det-ln fixed-point chain, so (N-k) ln s_p^2 - sum (n_i-1) ln s_i^2
    is an EXACT int64 in 1e-6 ln-units (the ln-unit shift from cents^2
    scaling cancels because the coefficients sum to zero); the C
    correction's reciprocal sum accumulates as exact 1e-18-unit
    integer divisions, so C is bit-identical cross-engine. One scan to
    5 group rows; everything after is constant-size.
    """
    from ..functions.detmath import det_ln_q

    t = Tables(spark, sf_dir)
    px = t.orders.select(
        F.col("o_orderpriority").alias("g"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("x"),
    )
    per = px.groupBy("g").agg(
        F.count(F.lit(1)).alias("n_g"),
        F.sum(dec38(F.col("x"))).alias("s"),
        F.sum(dec38(F.col("x")) * F.col("x")).alias("qq"),
    ).filter(F.col("n_g") >= 2)

    def tdiv(num, den):
        return (num - num % den) / den

    ssnum = dec38(F.col("n_g")) * F.col("qq") - F.col("s") * F.col("s")
    s2t = per.select(
        "g",
        "n_g",
        tdiv(ssnum, dec38(F.col("n_g")) * (F.col("n_g") - 1)).cast("long").alias("s2_g"),
        tdiv(ssnum, dec38(F.col("n_g"))).alias("ss_g"),
    )
    lg = s2t.select("n_g", "ss_g", det_ln_q(F.col("s2_g")).alias("lg"))
    big = F.lit(10**18).cast("decimal(38,0)")
    tot = lg.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n_g").alias("n"),
        F.sum(F.col("ss_g")).alias("sssum"),
        F.sum(dec38(F.col("n_g") - 1) * F.col("lg")).alias("slg"),
        F.sum(tdiv(big, dec38(F.col("n_g") - 1)).cast("long")).alias("invsum_u"),
    )
    pool = tot.select(
        "k",
        "n",
        "slg",
        "invsum_u",
        tdiv(F.col("sssum"), dec38(F.col("n") - F.col("k"))).cast("long").alias("sp2"),
    )
    lp = pool.select("*", det_ln_q(F.col("sp2")).alias("lp"))
    t_num = (
        (dec38(F.col("n") - F.col("k")) * F.col("lp") - F.col("slg")).cast("double")
        / F.lit(1000000.0)
    )
    c_corr = F.lit(1.0) + (
        (
            F.col("invsum_u").cast("double")
            - tdiv(big, dec38(F.col("n") - F.col("k"))).cast("double")
        )
        / F.lit(1e18)
    ) / (F.lit(3.0) * (F.col("k") - 1))
    return lp.select(
        F.col("k").alias("k_groups"),
        F.col("n").alias("n_total"),
        F.col("sp2").alias("pooled_var_cents2"),
        F.when(
            (F.col("k") >= 2) & (F.col("n") > F.col("k")),
            F.floor(t_num / c_corr * F.lit(1000000.0) + F.lit(0.5)).cast("long")
            / F.lit(1e6),
        ).alias("t_bartlett"),
    )


# ---------------------------------------------------------------------------
# 9. Partial correlation: price ~ quantity controlling for discount
# ---------------------------------------------------------------------------


def _partial_corr_oracle() -> str:
    r = (
        "(CAST(n AS DOUBLE) * CAST(s{a}{b} AS DOUBLE)"
        " - CAST(s{a} AS DOUBLE) * CAST(s{b} AS DOUBLE))"
        " / sqrt((CAST(n AS DOUBLE) * CAST(s{a}{a} AS DOUBLE)"
        " - CAST(s{a} AS DOUBLE) * CAST(s{a} AS DOUBLE))"
        " * (CAST(n AS DOUBLE) * CAST(s{b}{b} AS DOUBLE)"
        " - CAST(s{b} AS DOUBLE) * CAST(s{b} AS DOUBLE)))"
    )
    rxy, rxz, ryz = r.format(a="x", b="y"), r.format(a="x", b="z"), r.format(a="y", b="z")
    return f"""
    WITH v AS (
      SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS x,
             CAST(l_quantity AS BIGINT) AS y,
             CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS z
      FROM lineitem
      WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
        AND l_discount IS NOT NULL
    ), a AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
             CAST(sum(z) AS HUGEINT) AS sz,
             CAST(sum(x::HUGEINT * x) AS HUGEINT) AS sxx,
             CAST(sum(y::HUGEINT * y) AS HUGEINT) AS syy,
             CAST(sum(z::HUGEINT * z) AS HUGEINT) AS szz,
             CAST(sum(x::HUGEINT * y) AS HUGEINT) AS sxy,
             CAST(sum(x::HUGEINT * z) AS HUGEINT) AS sxz,
             CAST(sum(y::HUGEINT * z) AS HUGEINT) AS syz
      FROM v
    ), rr AS (
      SELECT n, {rxy} AS rxy, {rxz} AS rxz, {ryz} AS ryz FROM a
    )
    SELECT n AS n_rows,
           CAST(floor(rxy * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS r_xy,
           CAST(floor(rxz * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS r_xz,
           CAST(floor(ryz * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS r_yz,
           CASE WHEN (1.0::DOUBLE - rxz * rxz) * (1.0::DOUBLE - ryz * ryz) > 0 THEN
             CAST(floor((rxy - rxz * ryz)
                        / sqrt((1.0::DOUBLE - rxz * rxz)
                               * (1.0::DOUBLE - ryz * ryz))
                        * 1000000.0 + 0.5) AS BIGINT) / 1000000.0
           END AS r_xy_given_z
    FROM rr
    """


@register("stats_partial_correlation_price", oracle=_partial_corr_oracle())
def stats_partial_correlation_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial correlation of extended price and quantity CONTROLLING
    for discount: r_xy.z = (r_xy - r_xz r_yz)/sqrt((1-r_xz^2)(1-r_yz^2))
    — the "is the price-quantity relationship real or
    discount-mediated" question the marginal correlations
    (``stats_spearman_corr``, ``stats_kendall_tau_b``) cannot answer;
    the three-variable conditioning member of the correlation family.

    One scan accumulates all ten exact decimal moment sums (cents /
    integer units, squares widened BEFORE multiplication); the three
    Pearson r's and the partial r are evaluated in double from those
    exact integers with an identical association order in both
    engines, each quantized half-up 1e-6. Degenerate conditioning
    (|r_xz| or |r_yz| = 1) yields NULL on both sides.
    """
    t = Tables(spark, sf_dir)
    v = t.lineitem.filter(
        F.col("l_extendedprice").isNotNull()
        & F.col("l_quantity").isNotNull()
        & F.col("l_discount").isNotNull()
    ).select(
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long").alias("x"),
        F.col("l_quantity").cast("long").alias("y"),
        F.floor(F.col("l_discount") * 100 + F.lit(0.5)).cast("long").alias("z"),
    )
    a = v.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec38(F.col("x"))).alias("sx"),
        F.sum(dec38(F.col("y"))).alias("sy"),
        F.sum(dec38(F.col("z"))).alias("sz"),
        F.sum(dec38(F.col("x")) * F.col("x")).alias("sxx"),
        F.sum(dec38(F.col("y")) * F.col("y")).alias("syy"),
        F.sum(dec38(F.col("z")) * F.col("z")).alias("szz"),
        F.sum(dec38(F.col("x")) * F.col("y")).alias("sxy"),
        F.sum(dec38(F.col("x")) * F.col("z")).alias("sxz"),
        F.sum(dec38(F.col("y")) * F.col("z")).alias("syz"),
    )

    def r(sa, sb, sab, saa, sbb):
        nd = F.col("n").cast("double")
        num = nd * F.col(sab).cast("double") - F.col(sa).cast("double") * F.col(
            sb
        ).cast("double")
        den = F.sqrt(
            (nd * F.col(saa).cast("double") - F.col(sa).cast("double") * F.col(sa).cast("double"))
            * (nd * F.col(sbb).cast("double") - F.col(sb).cast("double") * F.col(sb).cast("double"))
        )
        return num / den

    rxy = r("sx", "sy", "sxy", "sxx", "syy")
    rxz = r("sx", "sz", "sxz", "sxx", "szz")
    ryz = r("sy", "sz", "syz", "syy", "szz")

    def q6(c):
        return F.floor(c * F.lit(1000000.0) + F.lit(0.5)).cast("long") / F.lit(1e6)

    pden = (F.lit(1.0) - rxz * rxz) * (F.lit(1.0) - ryz * ryz)
    return a.select(
        F.col("n").alias("n_rows"),
        q6(rxy).alias("r_xy"),
        q6(rxz).alias("r_xz"),
        q6(ryz).alias("r_yz"),
        F.when(pden > 0, q6((rxy - rxz * ryz) / F.sqrt(pden))).alias("r_xy_given_z"),
    )


# ---------------------------------------------------------------------------
# 10. Cronbach's alpha over the three document-quality gates
# ---------------------------------------------------------------------------


def _cronbach_oracle() -> str:
    from .roundeight import MCNEMAR_MIN_CHARS, MCNEMAR_MIN_TOKENS, COCHRAN_MIN_SENTENCES
    from .corpus import _SQL_TOKENS
    from ..functions.exact import sql_round_big_int_ratio

    return f"""
    WITH flags AS (
      SELECT CASE WHEN n_chars >= {MCNEMAR_MIN_CHARS} THEN 1 ELSE 0 END AS a,
             CASE WHEN len({_SQL_TOKENS}) >= {MCNEMAR_MIN_TOKENS} THEN 1 ELSE 0 END AS b,
             CASE WHEN len(string_split(text, '.')) - 1 >= {COCHRAN_MIN_SENTENCES}
                  THEN 1 ELSE 0 END AS c
      FROM documents
    ), agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(a) AS BIGINT) AS g_a,
             CAST(sum(b) AS BIGINT) AS g_b,
             CAST(sum(c) AS BIGINT) AS g_c,
             CAST(sum(a + b + c) AS BIGINT) AS sl,
             CAST(sum((a + b + c) * (a + b + c)) AS BIGINT) AS sll
      FROM flags
    ), vv AS (
      SELECT n, g_a, g_b, g_c,
             n::HUGEINT * sll - sl::HUGEINT * sl AS vt,
             (n::HUGEINT * g_a - g_a::HUGEINT * g_a)
             + (n::HUGEINT * g_b - g_b::HUGEINT * g_b)
             + (n::HUGEINT * g_c - g_c::HUGEINT * g_c) AS vi
      FROM agg
    )
    SELECT n AS n_docs, g_a, g_b, g_c,
           CASE WHEN vt > 0 THEN
             {sql_round_big_int_ratio('3::HUGEINT * (vt - vi)', '2::HUGEINT * vt')}
           END AS cronbach_alpha
    FROM vv
    """


@register("stats_cronbach_alpha_gates", oracle=_cronbach_oracle())
def stats_cronbach_alpha_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cronbach's alpha internal-consistency coefficient over the same
    three binary quality gates Cochran's Q tests
    (``stats_cochran_q_gates``: char-length, token-count,
    sentence-count): alpha = k/(k-1) * (1 - sum item variances /
    variance of the summed score) — Cochran asks whether the gates
    DISAGREE in pass rate; alpha asks whether they measure ONE
    underlying "quality" trait (the scale-reliability read a corpus
    team wants before collapsing gates into a single score).

    With binary items the population variances reduce to
    n*G_i - G_i^2 and n*sum(L^2) - (sum L)^2 — so alpha is ONE exact
    big-integer ratio off the same single-scan aggregate Cochran uses
    (k=3 hard-coded: 3(vt - vi) / 2 vt); no float enters at any
    point. NULL when the summed score is constant (zero variance).
    One scan to one row.
    """
    from .roundeight import (
        MCNEMAR_MIN_CHARS,
        MCNEMAR_MIN_TOKENS,
        COCHRAN_MIN_SENTENCES,
    )
    from ..functions.exact import round_big_int_ratio
    from ..functions.textnorm import whitespace_tokens

    t = Tables(spark, sf_dir)
    a = F.when(F.col("n_chars") >= MCNEMAR_MIN_CHARS, 1).otherwise(0)
    b = F.when(
        F.size(whitespace_tokens(F.col("text"))) >= MCNEMAR_MIN_TOKENS, 1
    ).otherwise(0)
    c = F.when(
        F.size(F.split(F.col("text"), "\\.", -1)) - 1 >= COCHRAN_MIN_SENTENCES, 1
    ).otherwise(0)
    li = a + b + c
    agg = t.documents.select(
        a.alias("a"), b.alias("b"), c.alias("c"), li.alias("l")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("a").cast("long").alias("g_a"),
        F.sum("b").cast("long").alias("g_b"),
        F.sum("c").cast("long").alias("g_c"),
        F.sum("l").cast("long").alias("sl"),
        F.sum(F.col("l") * F.col("l")).cast("long").alias("sll"),
    )
    nd = dec38(F.col("n"))
    vt = nd * F.col("sll") - dec38(F.col("sl")) * F.col("sl")
    vi = (
        (nd * F.col("g_a") - dec38(F.col("g_a")) * F.col("g_a"))
        + (nd * F.col("g_b") - dec38(F.col("g_b")) * F.col("g_b"))
        + (nd * F.col("g_c") - dec38(F.col("g_c")) * F.col("g_c"))
    )
    return agg.select(
        F.col("n").alias("n_docs"),
        "g_a",
        "g_b",
        "g_c",
        F.when(
            vt > 0,
            round_big_int_ratio(
                F.lit(3).cast("decimal(38,0)") * (vt - vi),
                F.lit(2).cast("decimal(38,0)") * vt,
            ),
        ).alias("cronbach_alpha"),
    )


# ---------------------------------------------------------------------------
# 11. Gumbel fit of the daily maximum event value (method of moments)
# ---------------------------------------------------------------------------

GUMBEL_PI = 3.141592653589793
GUMBEL_GAMMA = 0.5772156649015329


def _gumbel_oracle() -> str:
    from ..functions.exact import sql_round_big_int_ratio

    return f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(max(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS m
      FROM events WHERE value IS NOT NULL GROUP BY 1
    ), a AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(m) AS HUGEINT) AS s,
             CAST(sum(m::HUGEINT * m) AS HUGEINT) AS q
      FROM daily
    ), fit AS (
      SELECT n, s,
             sqrt(6.0::DOUBLE * (CAST(n AS DOUBLE) * CAST(q AS DOUBLE)
                  - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                  / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0::DOUBLE)))
             / {GUMBEL_PI!r}::DOUBLE AS beta_micro
      FROM a WHERE n >= 2
    )
    SELECT n AS n_days,
           {sql_round_big_int_ratio('s', 'n::HUGEINT * 1000000')} AS mean_max,
           CAST(floor(beta_micro / 1000000.0::DOUBLE * 1000000.0 + 0.5) AS BIGINT)
             / 1000000.0 AS gumbel_beta,
           CAST(floor((CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                       - {GUMBEL_GAMMA!r}::DOUBLE * beta_micro) / 1000000.0::DOUBLE
                      * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS gumbel_mu
    FROM fit
    """


@register("stats_gumbel_daily_max_fit", oracle=_gumbel_oracle())
def stats_gumbel_daily_max_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel (type-I extreme value) fit of the DAILY MAXIMUM event
    value by the method of moments: beta = sqrt(6 Var)/pi,
    mu = mean - gamma*beta — the block-maxima member of the
    distribution-fitting family (Weibull fits the latency BODY,
    negative-binomial the counts; extreme-value theory says block
    maxima converge to Gumbel, and the fitted (mu, beta) is what a
    capacity planner feeds return-level estimates: the p-quantile of
    tomorrow's peak).

    The block-maxima reduction (one groupBy day -> max) is the scan;
    moments accumulate as exact decimal micro-unit sums over the
    ~2.4k-day series. The sqrt and the pi/gamma double literals
    (identical spellings both engines) enter only in the final
    constant-size projection, quantized half-up 1e-6. Sample variance
    uses the n-1 denominator in both engines.
    """
    t = Tables(spark, sf_dir)
    daily = (
        t.events.filter(F.col("value").isNotNull())
        .select(
            F.to_date("ts").alias("day"),
            F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("long").alias("mu_v"),
        )
        .groupBy("day")
        .agg(F.max("mu_v").alias("m"))
    )
    a = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec38(F.col("m"))).alias("s"),
        F.sum(dec38(F.col("m")) * F.col("m")).alias("q"),
    ).filter(F.col("n") >= 2)
    from ..functions.exact import round_big_int_ratio

    nd = F.col("n").cast("double")
    beta_micro = (
        F.sqrt(
            F.lit(6.0)
            * (nd * F.col("q").cast("double") - F.col("s").cast("double") * F.col("s").cast("double"))
            / (nd * (nd - F.lit(1.0)))
        )
        / F.lit(GUMBEL_PI)
    )

    def q6(c):
        return F.floor(c * F.lit(1000000.0) + F.lit(0.5)).cast("long") / F.lit(1e6)

    return a.select(
        F.col("n").alias("n_days"),
        round_big_int_ratio(
            F.col("s"), dec38(F.col("n")) * F.lit(1000000)
        ).alias("mean_max"),
        q6(beta_micro / F.lit(1000000.0)).alias("gumbel_beta"),
        q6(
            (F.col("s").cast("double") / nd - F.lit(GUMBEL_GAMMA) * beta_micro)
            / F.lit(1000000.0)
        ).alias("gumbel_mu"),
    )


# ---------------------------------------------------------------------------
# 12. Peak-over-threshold exceedance clusters in the daily order series
# ---------------------------------------------------------------------------


def _pot_oracle() -> str:
    from ..functions.exact import sql_round_big_int_ratio

    return """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS x
      FROM orders GROUP BY 1
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s
      FROM daily
    ), exc AS (
      SELECT day, x FROM daily, tot WHERE 4 * n * x > 5 * s
    ), flagged AS (
      SELECT day, x,
             CASE WHEN lag(day) OVER (ORDER BY day) IS NULL
                    OR date_diff('day', lag(day) OVER (ORDER BY day), day) > 1
                  THEN 1 ELSE 0 END AS is_new
      FROM exc
    ), clustered AS (
      SELECT day, x, sum(is_new) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cid
      FROM flagged
    ), per AS (
      SELECT cid, CAST(count(*) AS BIGINT) AS len FROM clustered GROUP BY cid
    )
    SELECT t.n AS n_days,
           (SELECT CAST(coalesce(count(*), 0) AS BIGINT) FROM exc) AS n_exceed,
           (SELECT CAST(coalesce(count(*), 0) AS BIGINT) FROM per) AS n_clusters,
           (SELECT CAST(coalesce(max(len), 0) AS BIGINT) FROM per)
             AS max_cluster_len,
           """ + sql_round_big_int_ratio("5::HUGEINT * t.s", "4::HUGEINT * t.n") + """
             AS threshold
    FROM tot t
    """


@register("events_peak_over_threshold_clusters", oracle=_pot_oracle())
def events_peak_over_threshold_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak-over-threshold exceedance clustering of the daily order
    series at threshold 1.25x the mean daily count: how many days
    exceed, how many CLUSTERS (runs of consecutive calendar days) the
    exceedances form, and the longest run — the extremal-dependence
    read (declustering is the standard first step of a POT analysis:
    n_exceed >> n_clusters means peaks arrive in persistent episodes,
    not independent shocks) beside the single-changepoint and drift
    monitors.

    The exceedance test is EXACT rational arithmetic (x > 1.25*mean
    <=> 4*n*x > 5*S — no float threshold can disagree cross-engine);
    run detection is the same lag/flag/cumsum kernel as
    ``events_sessionization``, here over the POST-AGGREGATION
    calendar-day series (~2.4k rows at any corpus size). The reported
    threshold itself is one exact half-up ratio.
    """
    from ..functions.exact import round_big_int_ratio

    t = Tables(spark, sf_dir)
    daily = t.orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.count(F.lit(1)).alias("x")
    )
    tot = daily.agg(F.count(F.lit(1)).alias("n"), F.sum("x").alias("s"))
    exc = daily.crossJoin(F.broadcast(tot)).filter(
        4 * F.col("n") * F.col("x") > 5 * F.col("s")
    )
    w = Window.orderBy("day")
    flagged = exc.select(
        "day",
        F.when(
            F.lag("day").over(w).isNull()
            | (F.datediff(F.col("day"), F.lag("day").over(w)) > 1),
            1,
        )
        .otherwise(0)
        .alias("is_new"),
    )
    cum = w.rowsBetween(Window.unboundedPreceding, 0)
    clustered = flagged.select("day", F.sum("is_new").over(cum).alias("cid"))
    per = clustered.groupBy("cid").agg(F.count(F.lit(1)).alias("len"))
    stats = per.agg(
        F.coalesce(F.count(F.lit(1)), F.lit(0)).alias("n_clusters"),
        F.coalesce(F.sum("len"), F.lit(0)).alias("n_exceed"),
        F.coalesce(F.max("len"), F.lit(0)).alias("max_cluster_len"),
    )
    return stats.crossJoin(F.broadcast(tot)).select(
        F.col("n").alias("n_days"),
        "n_exceed",
        "n_clusters",
        "max_cluster_len",
        round_big_int_ratio(
            F.lit(5).cast("decimal(38,0)") * F.col("s"),
            F.lit(4).cast("decimal(38,0)") * F.col("n"),
        ).alias("threshold"),
    )


# ---------------------------------------------------------------------------
# 13. Heaps' law fit of vocabulary growth
# ---------------------------------------------------------------------------

HEAPS_POINTS = 10


def _heaps_oracle() -> str:
    from .corpus import _SQL_TOKENS

    j = HEAPS_POINTS
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest({_SQL_TOKENS}) AS token FROM documents
    ), firsts AS (
      SELECT token, CAST(min(doc_id) AS BIGINT) AS first_doc FROM toks GROUP BY token
    ), mx AS (SELECT CAST(max(doc_id) AS BIGINT) AS mx FROM documents),
    thr AS (
      SELECT CAST(unnest(range(1, {j + 1})) AS BIGINT) AS pt,
             (CAST(unnest(range(1, {j + 1})) AS BIGINT) * mx) // {j} AS t
      FROM mx
    ), pts AS (
      SELECT pt,
             (SELECT CAST(count(*) AS BIGINT) FROM documents WHERE doc_id <= t)
               AS n_j,
             (SELECT CAST(count(*) AS BIGINT) FROM firsts WHERE first_doc <= t)
               AS v_j
      FROM thr
    ), good AS (SELECT * FROM pts WHERE n_j > 0 AND v_j > 0),
    {{LN_N}}, {{LN_V}},
    sums AS (
      SELECT CAST(count(*) AS BIGINT) AS m,
             CAST(sum(ln_n::HUGEINT) AS HUGEINT) AS sx,
             CAST(sum(ln_v::HUGEINT) AS HUGEINT) AS sy,
             CAST(sum(ln_n::HUGEINT * ln_v) AS HUGEINT) AS sxy,
             CAST(sum(ln_n::HUGEINT * ln_n) AS HUGEINT) AS sxx
      FROM ln_v_rel
    ), fit AS (
      SELECT m,
             CAST(m::HUGEINT * sxy - sx * sy AS DOUBLE)
               / CAST(m::HUGEINT * sxx - sx * sx AS DOUBLE) AS beta
      FROM sums WHERE m >= 2 AND m::HUGEINT * sxx - sx * sx <> 0
    )
    SELECT f.m AS n_points,
           CAST(floor(f.beta * 1000000.0 + 0.5) AS BIGINT) / 1000000.0
             AS heaps_beta,
           CAST(floor(((CAST(s.sy AS DOUBLE) - f.beta * CAST(s.sx AS DOUBLE))
                       / f.m) / 1000000.0::DOUBLE * 1000000.0 + 0.5) AS BIGINT)
             / 1000000.0 AS heaps_ln_k
    FROM fit f, sums s
    """.replace(
        "{LN_N}", _heaps_ln("good", "n_j", "ln_n")
    ).replace(
        "{LN_V}", _heaps_ln("ln_n_rel", "v_j", "ln_v")
    )


def _heaps_ln(rel: str, col: str, out: str) -> str:
    from ..functions.detmath import sql_det_ln_steps

    return sql_det_ln_steps(rel, col, out)


@register("text_heaps_law_fit", oracle=_heaps_oracle())
def text_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit V(n) = K n^beta of vocabulary growth: distinct
    vocabulary size at 10 corpus-prefix checkpoints (prefix = docs
    with id up to each decile of the id range), log-log least squares
    for the growth exponent beta and ln K — the vocabulary SCALING
    law beside the frequency one (``text_zipf_fit``): Zipf says how
    mass concentrates in existing words, Heaps says how fast NEW
    words keep arriving — together the pair that predicts token/type
    budgets for a growing training corpus.

    The distributed trick: V(prefix_t) never re-scans prefixes — one
    token pass reduces to each term's FIRST document id (min-agg over
    the token shuffle), and every checkpoint count is then a
    first_doc <= t aggregate — 10 scalar counts off the vocab-sized
    firsts table, not 10 corpus scans. Logs go through the det-ln
    fixed-point chain; the 10-point regression is exact integer sums
    with one double division, quantized half-up 1e-6.
    """
    from ..functions.detmath import det_ln_q
    from ..functions.textnorm import whitespace_tokens

    t = Tables(spark, sf_dir)
    toks = t.documents.select(
        "doc_id", F.explode(whitespace_tokens(F.col("text"))).alias("token")
    )
    firsts = toks.groupBy("token").agg(F.min("doc_id").alias("first_doc"))
    mx = t.documents.agg(F.max("doc_id").alias("mx"))
    thr = (
        mx.select(
            F.explode(
                F.array(*[F.lit(p).cast("long") for p in range(1, HEAPS_POINTS + 1)])
            ).alias("pt"),
            "mx",
        )
        .select("pt", F.expr(f"(pt * mx) div {HEAPS_POINTS}").alias("t"))
    )
    n_j = (
        t.documents.join(F.broadcast(thr), F.col("doc_id") <= F.col("t"))
        .groupBy("pt")
        .agg(F.count(F.lit(1)).alias("n_j"))
    )
    v_j = (
        firsts.join(F.broadcast(thr), F.col("first_doc") <= F.col("t"))
        .groupBy("pt")
        .agg(F.count(F.lit(1)).alias("v_j"))
    )
    pts = (
        n_j.join(v_j, "pt")
        .filter((F.col("n_j") > 0) & (F.col("v_j") > 0))
        .select(
            det_ln_q(F.col("n_j")).alias("ln_n"), det_ln_q(F.col("v_j")).alias("ln_v")
        )
    )
    sums = pts.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum(dec38(F.col("ln_n"))).alias("sx"),
        F.sum(dec38(F.col("ln_v"))).alias("sy"),
        F.sum(dec38(F.col("ln_n")) * F.col("ln_v")).alias("sxy"),
        F.sum(dec38(F.col("ln_n")) * F.col("ln_n")).alias("sxx"),
    )
    md = dec38(F.col("m"))
    den = md * F.col("sxx") - F.col("sx") * F.col("sx")
    beta = (md * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double") / den.cast(
        "double"
    )

    def q6(c):
        return F.floor(c * F.lit(1000000.0) + F.lit(0.5)).cast("long") / F.lit(1e6)

    return (
        sums.filter((F.col("m") >= 2) & (den != F.lit(0).cast("decimal(38,0)")))
        .select(
            F.col("m").alias("n_points"),
            q6(beta).alias("heaps_beta"),
            q6(
                (
                    (F.col("sy").cast("double") - beta * F.col("sx").cast("double"))
                    / F.col("m")
                )
                / F.lit(1000000.0)
            ).alias("heaps_ln_k"),
        )
    )


# ---------------------------------------------------------------------------
# 14. Cross-language vocabulary overlap (Jaccard)
# ---------------------------------------------------------------------------


def _vocab_jaccard_oracle() -> str:
    from .corpus import _SQL_TOKENS
    from ..functions.exact import sql_round_int_ratio

    return f"""
    WITH toks AS (
      SELECT DISTINCT lang, unnest({_SQL_TOKENS}) AS token FROM documents
    ), sizes AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS v FROM toks GROUP BY lang
    ), pairs AS (
      SELECT a.lang AS lang_a, b.lang AS lang_b, a.v AS v_a, b.v AS v_b
      FROM sizes a JOIN sizes b ON a.lang < b.lang
    ), inter AS (
      SELECT a.lang AS lang_a, b.lang AS lang_b,
             CAST(count(*) AS BIGINT) AS n_inter
      FROM toks a JOIN toks b ON a.token = b.token AND a.lang < b.lang
      GROUP BY 1, 2
    )
    SELECT p.lang_a, p.lang_b, p.v_a, p.v_b,
           CAST(coalesce(i.n_inter, 0) AS BIGINT) AS n_inter,
           {sql_round_int_ratio('coalesce(i.n_inter, 0)',
                                'p.v_a + p.v_b - coalesce(i.n_inter, 0)')}
             AS jaccard
    FROM pairs p LEFT JOIN inter i
      ON i.lang_a = p.lang_a AND i.lang_b = p.lang_b
    """


@register("text_lang_vocab_jaccard", oracle=_vocab_jaccard_oracle())
def text_lang_vocab_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary overlap between languages: |V_a cap V_b| /
    |V_a cup V_b| over each language's distinct token set — the
    cross-lingual contamination/borrowing screen (a high overlap
    between two "different" languages in a crawled corpus usually
    means mislabeled documents or heavy code-mixing — the corpus-level
    companion to per-document language ID).

    The intersection is ONE token-keyed equi-join of the deduped
    (lang, token) set against itself (never doc pairs, never a
    cartesian: tokens are the join key, language pairs just label the
    rows); unions come from per-language sizes by
    inclusion-exclusion. Language pairs are enumerated from the
    |langs|-row size table so zero-overlap pairs still appear with
    jaccard 0. Exact integer ratio, half-up 1e-6.
    """
    from ..functions.exact import round_int_ratio
    from ..functions.textnorm import whitespace_tokens

    t = Tables(spark, sf_dir)
    toks = t.documents.select(
        "lang", F.explode(whitespace_tokens(F.col("text"))).alias("token")
    ).distinct()
    sizes = toks.groupBy("lang").agg(F.count(F.lit(1)).alias("v"))
    pairs = (
        sizes.select(F.col("lang").alias("lang_a"), F.col("v").alias("v_a"))
        .join(
            sizes.select(F.col("lang").alias("lang_b"), F.col("v").alias("v_b")),
            F.col("lang_a") < F.col("lang_b"),
        )
    )
    inter = (
        toks.select(F.col("lang").alias("lang_a"), "token")
        .join(toks.select(F.col("lang").alias("lang_b"), F.col("token").alias("tb")),
              (F.col("token") == F.col("tb")) & (F.col("lang_a") < F.col("lang_b")))
        .groupBy("lang_a", "lang_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return pairs.join(inter, ["lang_a", "lang_b"], "left").select(
        "lang_a",
        "lang_b",
        "v_a",
        "v_b",
        F.coalesce(F.col("n_inter"), F.lit(0)).alias("n_inter"),
        round_int_ratio(
            F.coalesce(F.col("n_inter"), F.lit(0)),
            F.col("v_a") + F.col("v_b") - F.coalesce(F.col("n_inter"), F.lit(0)),
        ).alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# 15. Train/val/test split balance: smoothed KL over length buckets
# ---------------------------------------------------------------------------

KLB_BUCKET_CHARS = 500


def _split_kl_oracle() -> str:
    from .corpus import _SQL_ID_HASH, TRAIN_CUT, VAL_CUT
    from ..functions.detmath import sql_det_ln_steps
    from ..functions.exact import sql_round_big_int_ratio

    return f"""
    WITH assigned AS (
      SELECT CASE WHEN {_SQL_ID_HASH} % 100 < {TRAIN_CUT} THEN 'train'
                  WHEN {_SQL_ID_HASH} % 100 < {VAL_CUT} THEN 'val'
                  ELSE 'test' END AS split,
             n_chars // {KLB_BUCKET_CHARS} AS bucket
      FROM documents
    ), cells AS (
      SELECT split, bucket, CAST(count(*) AS BIGINT) AS c
      FROM assigned GROUP BY 1, 2
    ), buckets AS (SELECT DISTINCT bucket FROM cells),
    nb AS (SELECT CAST(count(*) AS BIGINT) AS b FROM buckets),
    tots AS (SELECT split, CAST(sum(c) AS BIGINT) AS n FROM cells GROUP BY split),
    grid AS (
      SELECT s.split, bk.bucket,
             coalesce(c.c, 0) + 1 AS cs,
             t.n + nb.b AS ns
      FROM (SELECT DISTINCT split FROM cells) s
      CROSS JOIN buckets bk CROSS JOIN nb
      JOIN tots t ON t.split = s.split
      LEFT JOIN cells c ON c.split = s.split AND c.bucket = bk.bucket
    ), pairsrc AS (
      SELECT p.bucket,
             p.split AS p_split,
             p.cs AS cp, p.ns AS np_,
             q.cs AS cq, q.ns AS nq_
      FROM grid p JOIN grid q
        ON q.split = 'train' AND q.bucket = p.bucket
      WHERE p.split IN ('val', 'test')
    ), la_in AS (
      SELECT p_split, cp, np_,
             cp::HUGEINT * nq_ AS lhs, cq::HUGEINT * np_ AS rhs
      FROM pairsrc
    ), {sql_det_ln_steps('la_in', 'lhs', 'l1')},
    {sql_det_ln_steps('l1_rel', 'rhs', 'l2')},
    terms AS (
      SELECT p_split,
             CAST(max(np_) AS BIGINT) AS np_,
             CAST(sum(cp::HUGEINT * (l1 - l2)) AS HUGEINT) AS tsum
      FROM l2_rel GROUP BY p_split
    )
    SELECT p_split AS split,
           np_ AS n_smoothed,
           {sql_round_big_int_ratio('tsum', "np_::HUGEINT * 1000000")}
             AS kl_vs_train
    FROM terms ORDER BY split
    """


@register("corpus_split_balance_kl", oracle=_split_kl_oracle())
def corpus_split_balance_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributional balance audit of the hash train/val/test split:
    add-1-smoothed KL divergence of the val and test LENGTH-BUCKET
    distributions against train — the check that the split is not just
    size-correct (``split_train_val_test`` reports sizes) but
    DISTRIBUTION-correct (a skewed val set silently mis-estimates
    perplexity on long documents; KL against train is the standard
    drift score, smoothed so empty buckets stay finite).

    KL = sum_b p_b ln(p_b/q_b) decomposes into det-ln terms of exact
    integer PRODUCTS (cross-multiplied numerators/denominators of the
    smoothed rationals), weighted by exact smoothed counts and
    divided once at the end — an exact big-integer ratio of 1e-6
    ln-units, no float until display. The grid is |splits| x
    |buckets| (bounded by max document length / 500), built from one
    aggregated scan.
    """
    from .corpus import TRAIN_CUT, VAL_CUT, _id_hash_bucket
    from ..functions.detmath import det_ln_q
    from ..functions.exact import round_big_int_ratio

    t = Tables(spark, sf_dir)
    b = _id_hash_bucket()
    assigned = t.documents.select(
        F.when(b < TRAIN_CUT, F.lit("train"))
        .when(b < VAL_CUT, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
        F.expr(f"n_chars div {KLB_BUCKET_CHARS}").alias("bucket"),
    )
    cells = assigned.groupBy("split", "bucket").agg(F.count(F.lit(1)).alias("c"))
    buckets = cells.select("bucket").distinct()
    nb = buckets.agg(F.count(F.lit(1)).alias("b"))
    tots = cells.groupBy("split").agg(F.sum("c").alias("n"))
    grid = (
        cells.select("split").distinct()
        .crossJoin(F.broadcast(buckets))
        .crossJoin(F.broadcast(nb))
        .join(tots, "split")
        .join(cells, ["split", "bucket"], "left")
        .select(
            "split",
            "bucket",
            (F.coalesce(F.col("c"), F.lit(0)) + 1).alias("cs"),
            (F.col("n") + F.col("b")).alias("ns"),
        )
    )
    train = grid.filter(F.col("split") == "train").select(
        F.col("bucket").alias("tb"), F.col("cs").alias("cq"), F.col("ns").alias("nq_")
    )
    pair = (
        grid.filter(F.col("split").isin("val", "test"))
        .join(F.broadcast(train), F.col("bucket") == F.col("tb"))
        .select(
            F.col("split").alias("p_split"),
            F.col("cs").alias("cp"),
            F.col("ns").alias("np_"),
            (dec38(F.col("cs")) * F.col("nq_")).alias("lhs"),
            (dec38(F.col("cq")) * F.col("ns")).alias("rhs"),
        )
    )
    withln = pair.select(
        "p_split",
        "cp",
        "np_",
        det_ln_q(F.col("lhs")).alias("l1"),
        det_ln_q(F.col("rhs")).alias("l2"),
    )
    terms = withln.groupBy("p_split").agg(
        F.max("np_").alias("np_"),
        F.sum(dec38(F.col("cp")) * (F.col("l1") - F.col("l2"))).alias("tsum"),
    )
    return terms.select(
        F.col("p_split").alias("split"),
        F.col("np_").alias("n_smoothed"),
        round_big_int_ratio(
            F.col("tsum"), dec38(F.col("np_")) * F.lit(1000000)
        ).alias("kl_vs_train"),
    )


# ---------------------------------------------------------------------------
# 16. Uplift (treatment - control conversion) by engagement tier
# ---------------------------------------------------------------------------

UPLIFT_MAX_TIER = 10


def _uplift_oracle() -> str:
    from ..functions.exact import sql_round_big_int_ratio

    return f"""
    WITH usr AS (
      SELECT user_id,
             (('0x' || substr(sha256(CAST(user_id AS VARCHAR)), 1, 15)))::BIGINT
               % 2 AS treat,
             CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_views,
             CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS BIGINT) AS converted
      FROM events GROUP BY user_id
    ), tiered AS (
      SELECT least(n_views, {UPLIFT_MAX_TIER}) AS tier, treat, converted FROM usr
    ), cells AS (
      SELECT CAST(tier AS BIGINT) AS tier,
             CAST(sum(CASE WHEN treat = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
             CAST(sum(CASE WHEN treat = 1 THEN converted ELSE 0 END) AS BIGINT)
               AS c_t,
             CAST(sum(CASE WHEN treat = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
             CAST(sum(CASE WHEN treat = 0 THEN converted ELSE 0 END) AS BIGINT)
               AS c_c
      FROM tiered GROUP BY tier
    )
    SELECT tier, n_t, c_t, n_c, c_c,
           CASE WHEN n_t > 0 AND n_c > 0 THEN
             {sql_round_big_int_ratio(
                 'c_t::HUGEINT * n_c - c_c::HUGEINT * n_t',
                 'n_t::HUGEINT * n_c')}
           END AS uplift
    FROM cells ORDER BY tier
    """


@register("ml_uplift_by_engagement_tier", oracle=_uplift_oracle())
def ml_uplift_by_engagement_tier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uplift (treatment-minus-control conversion rate) by engagement
    tier: users split 50/50 into treat/control by the portable user
    hash, tiered by view count (capped at 10), conversion = any
    purchase — the heterogeneous-treatment-effect read of the A/B
    family (``stats_proportions_ztest`` answers "did the variant
    lift conversion overall"; this answers "FOR WHOM", the question
    targeting policies are built on — tiers rather than score
    deciles so the cut needs no global sort, only a capped count).

    One user-level aggregate off the event scan (partial-aggregated
    groupBy), one 11-row tier reduce; the uplift difference of two
    rates is computed as a SINGLE exact cross-multiplied big-integer
    ratio (c_t*n_c - c_c*n_t)/(n_t*n_c), so no intermediate float
    subtraction can diverge cross-engine; NULL where either arm is
    empty in a tier.
    """
    from ..functions.exact import round_big_int_ratio
    from ..functions.textnorm import sha256_prefix_i64

    t = Tables(spark, sf_dir)
    usr = t.events.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("n_views"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("converted"),
    ).select(
        (sha256_prefix_i64(F.col("user_id").cast("string")) % 2).alias("treat"),
        F.least(F.col("n_views"), F.lit(UPLIFT_MAX_TIER)).alias("tier"),
        "converted",
    )
    cells = usr.groupBy("tier").agg(
        F.sum(F.when(F.col("treat") == 1, 1).otherwise(0)).alias("n_t"),
        F.sum(F.when(F.col("treat") == 1, F.col("converted")).otherwise(0)).alias(
            "c_t"
        ),
        F.sum(F.when(F.col("treat") == 0, 1).otherwise(0)).alias("n_c"),
        F.sum(F.when(F.col("treat") == 0, F.col("converted")).otherwise(0)).alias(
            "c_c"
        ),
    )
    return cells.select(
        "tier",
        "n_t",
        "c_t",
        "n_c",
        "c_c",
        F.when(
            (F.col("n_t") > 0) & (F.col("n_c") > 0),
            round_big_int_ratio(
                dec38(F.col("c_t")) * F.col("n_c") - dec38(F.col("c_c")) * F.col("n_t"),
                dec38(F.col("n_t")) * F.col("n_c"),
            ),
        ).alias("uplift"),
    )


# ---------------------------------------------------------------------------
# 17. Anderson-Darling two-sample statistic: quantity, returned vs rest
# ---------------------------------------------------------------------------


def _ad_oracle() -> str:
    return """
    WITH c AS (
      SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS v
      FROM lineitem WHERE l_returnflag IN ('R', 'N') AND l_quantity IS NOT NULL
    ), dv AS (
      SELECT v,
             CAST(sum(CASE WHEN g = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS cx,
             CAST(sum(CASE WHEN g = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS cy
      FROM c GROUP BY v
    ), cum AS (
      SELECT v, cx, cy, cx + cy AS ct,
             sum(cx) OVER (ORDER BY v) AS cumx,
             sum(cy) OVER (ORDER BY v) AS cumy,
             sum(cx + cy) OVER (ORDER BY v) AS cumt,
             sum(cx) OVER () AS n, sum(cy) OVER () AS m
      FROM dv
    ), terms AS (
      SELECT n, m, n + m AS nn,
             CASE WHEN cumt < n + m THEN
               CAST((2000000000::HUGEINT
                     * ((m::HUGEINT * cumx - n::HUGEINT * cumy)
                        * (m::HUGEINT * cumx - n::HUGEINT * cumy)) * ct
                     + (n::HUGEINT * m * cumt * (n + m - cumt)))
                    // (2::HUGEINT * n * m * cumt * (n + m - cumt)) AS BIGINT)
             ELSE 0 END AS term_nano
      FROM cum
    )
    SELECT CAST(max(n) AS BIGINT) AS n_returned,
           CAST(max(m) AS BIGINT) AS n_other,
           CAST(sum(term_nano) AS BIGINT) AS ad2_nano,
           CAST(sum(term_nano) AS BIGINT) / 1000000000.0 AS ad2
    FROM terms
    """


@register("stats_anderson_darling_quantity", oracle=_ad_oracle())
def stats_anderson_darling_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anderson-Darling-type two-sample statistic for lineitem
    quantity, returned vs non-returned (discrete-data form): A2 =
    sum_v (m*cumx - n*cumy)^2 * c_v / (n*m*cumt*(N-cumt)) over the
    pooled value domain (H < 1) — the TAIL-WEIGHTED member that
    completes the two-sample ECDF family (KS takes the supremum, CvM
    the unweighted quadratic mean; AD's 1/(H(1-H)) weight is why it
    dominates both when differences live in the tails).

    Cross-multiplied exact arithmetic throughout: each value's term
    is ONE exact decimal division quantized half-up 1e-9 BEFORE the
    cross-value summation (so no float aggregation order exists), and
    the cumulative counts come from a window over the <= 50-value
    quantity domain — the same bounded-domain ordered pass CvM and
    Wilcoxon use, never a row-scaled sort.
    """
    t = Tables(spark, sf_dir)
    c = t.lineitem.filter(
        F.col("l_returnflag").isin("R", "N") & F.col("l_quantity").isNotNull()
    ).select(
        F.col("l_returnflag").alias("g"), F.col("l_quantity").cast("long").alias("v")
    )
    dv = c.groupBy("v").agg(
        F.sum(F.when(F.col("g") == "R", 1).otherwise(0)).alias("cx"),
        F.sum(F.when(F.col("g") == "N", 1).otherwise(0)).alias("cy"),
    )
    w_ord = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = dv.select(
        (F.col("cx") + F.col("cy")).alias("ct"),
        F.sum("cx").over(w_ord).alias("cumx"),
        F.sum("cy").over(w_ord).alias("cumy"),
        F.sum(F.col("cx") + F.col("cy")).over(w_ord).alias("cumt"),
        F.sum("cx").over(w_all).alias("n"),
        F.sum("cy").over(w_all).alias("m"),
    )
    diff = dec38(F.col("m")) * F.col("cumx") - dec38(F.col("n")) * F.col("cumy")
    den = (
        dec38(F.col("n"))
        * F.col("m")
        * F.col("cumt")
        * (F.col("n") + F.col("m") - F.col("cumt"))
    )
    num = F.lit(2000000000).cast("decimal(38,0)") * diff * diff * F.col("ct") + den
    term = F.when(
        F.col("cumt") < F.col("n") + F.col("m"),
        ((num - num % (F.lit(2).cast("decimal(38,0)") * den))
         / (F.lit(2).cast("decimal(38,0)") * den)).cast("long"),
    ).otherwise(F.lit(0))
    return cum.select("n", "m", term.alias("term_nano")).agg(
        F.max("n").alias("n_returned"),
        F.max("m").alias("n_other"),
        F.sum("term_nano").alias("ad2_nano"),
        (F.sum("term_nano") / F.lit(1000000000.0)).alias("ad2"),
    )


# ---------------------------------------------------------------------------
# 18. Lognormal fit of document length (det-ln moments)
# ---------------------------------------------------------------------------


def _lognormal_oracle() -> str:
    from ..functions.detmath import sql_det_ln_steps
    from ..functions.exact import sql_round_big_int_ratio

    return f"""
    WITH d AS (
      SELECT CAST(n_chars AS BIGINT) AS len FROM documents WHERE n_chars >= 1
    ), {sql_det_ln_steps('d', 'len', 'l')},
    a AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(l::HUGEINT) AS HUGEINT) AS sl,
             CAST(sum(l::HUGEINT * l) AS HUGEINT) AS sll
      FROM l_rel
    )
    SELECT n AS n_docs,
           {sql_round_big_int_ratio('sl', 'n::HUGEINT * 1000000')} AS ln_mu,
           CASE WHEN n >= 2 THEN
             CAST(floor(sqrt(CAST(n::HUGEINT * sll - sl * sl AS DOUBLE)
                             / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0::DOUBLE)))
                        / 1000000.0::DOUBLE * 1000000.0 + 0.5) AS BIGINT) / 1000000.0
           END AS ln_sigma
    FROM a
    """


@register("corpus_doclen_lognormal_fit", oracle=_lognormal_oracle())
def corpus_doclen_lognormal_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lognormal (mu, sigma) fit of document length by moments in log
    space — the canonical document-length model (crawled corpora are
    lognormal-ish in chars/tokens; the fitted pair drives sequence-
    packing bin sizes and length-bucket mixture design) joining the
    Weibull/Gamma/Gumbel/NegBin distribution-fitting family on the
    DOCUMENTS table.

    Each length's ln goes through the det-ln fixed-point chain (exact
    1e-6-unit int64), so the two moment sums are exact integers;
    ln_mu is an exact half-up ratio, and only sigma's final sqrt runs
    in double (identical expression both engines), quantized 1e-6.
    One scan, one constant-size reduce.
    """
    from ..functions.detmath import det_ln_q
    from ..functions.exact import round_big_int_ratio

    t = Tables(spark, sf_dir)
    d = t.documents.filter(F.col("n_chars") >= 1).select(
        det_ln_q(F.col("n_chars").cast("long")).alias("l")
    )
    a = d.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec38(F.col("l"))).alias("sl"),
        F.sum(dec38(F.col("l")) * F.col("l")).alias("sll"),
    )
    nd = F.col("n").cast("double")
    sig = F.sqrt(
        (dec38(F.col("n")) * F.col("sll") - F.col("sl") * F.col("sl")).cast("double")
        / (nd * (nd - F.lit(1.0)))
    ) / F.lit(1000000.0)
    return a.select(
        F.col("n").alias("n_docs"),
        round_big_int_ratio(F.col("sl"), dec38(F.col("n")) * F.lit(1000000)).alias(
            "ln_mu"
        ),
        F.when(
            F.col("n") >= 2,
            F.floor(sig * F.lit(1000000.0) + F.lit(0.5)).cast("long") / F.lit(1e6),
        ).alias("ln_sigma"),
    )


# ---------------------------------------------------------------------------
# 19. Candidate-key discovery over the orders table
# ---------------------------------------------------------------------------

CK_COLUMNS = (
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
)


def _candidate_key_oracle() -> str:
    from ..functions.exact import sql_round_int_ratio

    selects = " UNION ALL ".join(
        f"""SELECT '{c}' AS column_name,
               (SELECT CAST(count(DISTINCT {c}) AS BIGINT) FROM orders)
                 AS n_distinct"""
        for c in CK_COLUMNS
    )
    return f"""
    WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM orders),
    cols AS ({selects})
    SELECT c.column_name, c.n_distinct, nn.n_rows,
           CAST(CASE WHEN c.n_distinct = nn.n_rows THEN 1 ELSE 0 END AS BIGINT)
             AS is_candidate_key,
           {sql_round_int_ratio('c.n_distinct', 'nn.n_rows')} AS uniqueness
    FROM cols c, nn ORDER BY c.column_name
    """


@register("dq_candidate_key_discovery", oracle=_candidate_key_oracle())
def dq_candidate_key_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-key discovery over the orders table: exact distinct
    count, uniqueness ratio, and a key verdict per column — the
    schema-profiling step (which columns CAN serve as a primary key /
    join key?) that complements the declared-key audits
    (``dq_uniqueness_violations`` checks a KNOWN key;
    ``dq_functional_dependency_audit`` checks a KNOWN dependency;
    this DISCOVERS the candidates).

    One aggregate computes all six exact distinct counts (Spark
    expands multi-distinct into a single grouping-sets pass — still
    one scan of the 6-column projection); the per-column rows unpivot
    from that 1-row aggregate via a literal array, so no second scan
    exists. Uniqueness is an exact half-up ratio.
    """
    from ..functions.exact import round_int_ratio

    t = Tables(spark, sf_dir)
    agg = t.orders.agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[F.countDistinct(c).alias(f"d_{c}") for c in CK_COLUMNS],
    )
    pairs = F.array(
        *[
            F.struct(
                F.lit(c).alias("column_name"), F.col(f"d_{c}").alias("n_distinct")
            )
            for c in CK_COLUMNS
        ]
    )
    return (
        agg.select("n_rows", F.explode(pairs).alias("p"))
        .select(
            F.col("p.column_name").alias("column_name"),
            F.col("p.n_distinct").alias("n_distinct"),
            "n_rows",
            F.when(F.col("p.n_distinct") == F.col("n_rows"), 1)
            .otherwise(0)
            .cast("long")
            .alias("is_candidate_key"),
            round_int_ratio(F.col("p.n_distinct"), F.col("n_rows")).alias(
                "uniqueness"
            ),
        )
    )
