"""Round-9 operator batch A.

Gates: oracle parity, plan sweeps and fuzz profiles in
`tests/test_roundnine.py`; sf0.1 + ×10 evidence in SCALE.md
§§5g.8-5g.13.

Batch theme: remaining standard-toolbox members each family still
lacked — Cramér-von Mises (the quadratic ECDF two-sample test beside
KS's supremum), per-term burstiness (the dispersion dual of tf-idf),
interval-union coverage (the measure dual of the overlap audit), a
generalization ladder (the k-anonymity REPAIR search, not just the
audit), and a jackknife CI on AUC.

House discipline throughout: bounded-domain partial aggregation,
exact integer/decimal arithmetic across the engine boundary, DuckDB
oracle twin per query.

``stats_page_hinkley_orders`` lives in ``operators/daily_change.py``
with the other daily-series queries.

``stats_ansari_bradley_quantity`` and ``stats_cvm_two_sample`` live in
``operators/stats_rank.py``; ``stats_two_way_anova_price`` lives in
``operators/stats_models.py`` with the other stats queries.

``events_dau_mau_stickiness`` and ``events_retention_decay_fit`` live in
``operators/events_users.py`` with the other events queries.

``ml_brier_decomposition`` and ``ml_expected_calibration_error`` live in
``operators/ml_calibration.py``; ``ml_auc_jackknife_ci`` lives in
``operators/ml_ranking.py``; ``ml_youden_optimal_threshold`` lives in
``operators/ml_thresholds.py`` with the other ml queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.exact import dec38, order_cents
from ..registry import register
from ..tables import Tables


# ---------------------------------------------------------------------------
# 2. Per-term burstiness (variance-to-mean of per-doc counts), top terms
# ---------------------------------------------------------------------------

BURST_TOPK = 20


def _burstiness_oracle() -> str:
    from .corpus import _SQL_TOKENS
    from ..functions.exact import sql_round_big_int_ratio

    return f"""
    WITH toks AS (
      SELECT doc_id, unnest({_SQL_TOKENS}) AS token FROM documents
    ), tc AS (
      SELECT token, doc_id, CAST(count(*) AS BIGINT) AS c
      FROM toks GROUP BY token, doc_id
    ), per_term AS (
      SELECT token,
             CAST(sum(c) AS BIGINT) AS tf,
             CAST(count(*) AS BIGINT) AS df,
             CAST(sum(c * c) AS BIGINT) AS sum_c2
      FROM tc GROUP BY token
    ), d AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
    top AS (
      SELECT p.*, d.n_docs FROM per_term p, d
      ORDER BY tf DESC, token LIMIT {BURST_TOPK}
    )
    SELECT token, tf, df,
           {sql_round_big_int_ratio(
               'n_docs::HUGEINT * sum_c2 - tf::HUGEINT * tf',
               'n_docs::HUGEINT * tf')} AS burstiness_vmr
    FROM top
    """


@register("text_term_burstiness_topk", oracle=_burstiness_oracle())
def text_term_burstiness_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness (variance-to-mean ratio of per-document counts,
    zero-inclusive) for the top-20 terms by total frequency: VMR = 1
    for a Poisson-scattered term, >1 for a "bursty" content word that
    clumps into few documents — the dispersion dual of tf-idf (df
    measures WHERE a term appears, burstiness measures HOW unevenly),
    the standard content-word/function-word separator.

    VMR over all D docs (including zero-count docs) reduces to
    (D*sum_c2 - tf^2)/(D*tf) — exact integers from the same
    (token, doc) partial aggregation the tf-idf family uses; the
    D-scaling keeps the zero docs implicit so no dense term x doc
    grid is ever materialized. Vocabulary-sized shuffle; top-k via
    (tf DESC, token) total order.
    """
    from ..functions.exact import round_big_int_ratio
    from ..functions.textnorm import whitespace_tokens

    t = Tables(spark, sf_dir)
    toks = t.documents.select(
        "doc_id", F.explode(whitespace_tokens(F.col("text"))).alias("token")
    )
    tc = toks.groupBy("token", "doc_id").agg(F.count(F.lit(1)).alias("c"))
    per_term = tc.groupBy("token").agg(
        F.sum("c").alias("tf"),
        F.count(F.lit(1)).alias("df"),
        F.sum(F.col("c") * F.col("c")).alias("sum_c2"),
    )
    n_docs = t.documents.agg(F.count(F.lit(1)).alias("n_docs"))
    top = (
        per_term.crossJoin(F.broadcast(n_docs))
        .orderBy(F.col("tf").desc(), "token")
        .limit(BURST_TOPK)
    )
    return top.select(
        "token",
        "tf",
        "df",
        round_big_int_ratio(
            dec38(F.col("n_docs")) * F.col("sum_c2") - dec38(F.col("tf")) * F.col("tf"),
            dec38(F.col("n_docs")) * F.col("tf"),
        ).alias("burstiness_vmr"),
    )


# ---------------------------------------------------------------------------
# 3. Interval-union coverage: per-customer activity-window union length
# ---------------------------------------------------------------------------

COVERAGE_WINDOW_DAYS = 30


def _coverage_oracle() -> str:
    from ..functions.exact import sql_round_int_ratio

    return f"""
    WITH iv AS (
      SELECT o_custkey,
             CAST(datediff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE))
               AS BIGINT) AS s
      FROM orders
    ), iv2 AS (
      SELECT o_custkey, s, s + {COVERAGE_WINDOW_DAYS} AS e FROM iv
    ), runs AS (
      SELECT o_custkey, s, e,
             max(e) OVER (PARTITION BY o_custkey ORDER BY s, e
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_max_e
      FROM iv2
    ), contrib AS (
      SELECT o_custkey,
             CASE WHEN prev_max_e IS NULL THEN e - s
                  WHEN prev_max_e >= e THEN 0
                  WHEN prev_max_e >= s THEN e - prev_max_e
                  ELSE e - s END AS add_days,
             s, e
      FROM runs
    ), per_cust AS (
      SELECT o_custkey,
             CAST(sum(add_days) AS BIGINT) AS covered_days,
             CAST(max(e) - min(s) AS BIGINT) AS span_days,
             CAST(count(*) AS BIGINT) AS n_windows
      FROM contrib GROUP BY o_custkey
    )
    SELECT CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(covered_days) AS BIGINT) AS total_covered_days,
           CAST(max(covered_days) AS BIGINT) AS max_covered_days,
           {sql_round_int_ratio('sum(covered_days)', 'sum(span_days)')}
             AS mean_coverage_ratio,
           CAST(sum(CASE WHEN covered_days < span_days THEN 1 ELSE 0 END)
             AS BIGINT) AS n_customers_with_gaps
    FROM per_cust
    """


@register("dq_interval_union_coverage", oracle=_coverage_oracle())
def dq_interval_union_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-UNION coverage per customer: treating each order as a
    30-day activity window, compute the union length (overlaps merged)
    of each customer's windows via the classic running-max sweep, then
    report corpus-level coverage stats — the measure dual of the
    overlap-pair audit (``dq_interval_overlap_orders``): overlap
    counts say whether intervals collide, union coverage says how much
    real time they span (SLA uptime, subscription coverage, session
    wall-clock).

    The sweep is one ordered window PER CUSTOMER (partitioned, never
    global): each interval contributes max(0, e - max(s, running max
    of previous ends)) days — exact integer day arithmetic on an
    epoch-anchored day number, summed per customer then one
    constant-size final aggregate with an exact coverage ratio.
    """
    from ..functions.exact import round_int_ratio

    t = Tables(spark, sf_dir)
    iv = t.orders.select(
        "o_custkey",
        F.datediff(F.to_date("o_orderdate"), F.lit("1990-01-01").cast("date"))
        .cast("long")
        .alias("s"),
    ).withColumn("e", F.col("s") + COVERAGE_WINDOW_DAYS)
    w_prev = (
        Window.partitionBy("o_custkey")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    runs = iv.select(
        "o_custkey", "s", "e", F.max("e").over(w_prev).alias("prev_max_e")
    )
    add_days = (
        F.when(F.col("prev_max_e").isNull(), F.col("e") - F.col("s"))
        .when(F.col("prev_max_e") >= F.col("e"), F.lit(0))
        .when(F.col("prev_max_e") >= F.col("s"), F.col("e") - F.col("prev_max_e"))
        .otherwise(F.col("e") - F.col("s"))
    )
    per_cust = runs.select("o_custkey", "s", "e", add_days.alias("add_days")).groupBy(
        "o_custkey"
    ).agg(
        F.sum("add_days").alias("covered_days"),
        (F.max("e") - F.min("s")).alias("span_days"),
        F.count(F.lit(1)).alias("n_windows"),
    )
    return per_cust.agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("covered_days").alias("total_covered_days"),
        F.max("covered_days").alias("max_covered_days"),
        round_int_ratio(F.sum("covered_days"), F.sum("span_days")).alias(
            "mean_coverage_ratio"
        ),
        F.sum(F.when(F.col("covered_days") < F.col("span_days"), 1).otherwise(0)).alias(
            "n_customers_with_gaps"
        ),
    )


# ---------------------------------------------------------------------------
# 4. k-anonymity generalization ladder (the repair search, not the audit)
# ---------------------------------------------------------------------------

KANON_K = 5


def _ladder_oracle() -> str:
    return f"""
    WITH base AS (
      SELECT c_nationkey AS nat, c_mktsegment AS seg,
             CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_kb
      FROM customer
    ), classes AS (
      SELECT CASE WHEN grouping(bal_kb) = 0 THEN 0
                  WHEN grouping(seg) = 0 THEN 1
                  ELSE 2 END AS level,
             CAST(count(*) AS BIGINT) AS class_size
      FROM base
      GROUP BY GROUPING SETS ((nat, seg, bal_kb), (nat, seg), (nat))
    )
    SELECT level,
           CASE level WHEN 0 THEN 'nation+segment+balance_kb'
                      WHEN 1 THEN 'nation+segment'
                      ELSE 'nation' END AS quasi_identifier,
           CAST(count(*) AS BIGINT) AS n_classes,
           CAST(min(class_size) AS BIGINT) AS min_class_size,
           CAST(sum(CASE WHEN class_size < {KANON_K} THEN 1 ELSE 0 END)
             AS BIGINT) AS n_classes_below_k,
           CAST(sum(CASE WHEN class_size < {KANON_K} THEN class_size ELSE 0 END)
             AS BIGINT) AS n_rows_below_k,
           min(class_size) >= {KANON_K} AS achieves_k
    FROM classes GROUP BY level ORDER BY level
    """


@register("privacy_generalization_ladder", oracle=_ladder_oracle())
def privacy_generalization_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity generalization ladder: evaluate the SAME k=5
    anonymity criterion at three successive generalizations of the
    quasi-identifier — (nation, segment, $1000-balance-bucket) ->
    (nation, segment) -> (nation) — reporting per level the class
    count, minimum class size, below-k class/row counts, and whether
    the level achieves k. Where ``privacy_k_anonymity_audit`` answers
    "is this release safe?", the ladder answers the repair question
    "how much must I generalize before it becomes safe?" — the core
    loop of Samarati-style full-domain generalization.

    Spark-first: ALL levels come from ONE scan via GROUPING SETS
    (grouping(..) flags recover the level), so the ladder costs one
    shuffle regardless of its depth; the per-level summary is a
    second, |levels|-bounded aggregate.
    """
    t = Tables(spark, sf_dir)
    base = t.customer.select(
        F.col("c_nationkey").alias("nat"),
        F.col("c_mktsegment").alias("seg"),
        F.floor(F.col("c_acctbal") / F.lit(1000.0)).cast("long").alias("bal_kb"),
    )
    classes = (
        base.groupingSets(
            [["nat", "seg", "bal_kb"], ["nat", "seg"], ["nat"]],
            "nat",
            "seg",
            "bal_kb",
        )
        .agg(
            F.count(F.lit(1)).alias("class_size"),
            F.grouping("seg").alias("g_seg"),
            F.grouping("bal_kb").alias("g_bal"),
        )
        .select(
            F.when(F.col("g_bal") == 0, F.lit(0))
            .when(F.col("g_seg") == 0, F.lit(1))
            .otherwise(F.lit(2))
            .alias("level"),
            "class_size",
        )
    )
    return (
        classes.groupBy("level")
        .agg(
            F.count(F.lit(1)).alias("n_classes"),
            F.min("class_size").alias("min_class_size"),
            F.sum(F.when(F.col("class_size") < KANON_K, 1).otherwise(0)).alias(
                "n_classes_below_k"
            ),
            F.sum(
                F.when(F.col("class_size") < KANON_K, F.col("class_size")).otherwise(0)
            ).alias("n_rows_below_k"),
            (F.min("class_size") >= KANON_K).alias("achieves_k"),
        )
        .select(
            "level",
            F.when(F.col("level") == 0, "nation+segment+balance_kb")
            .when(F.col("level") == 1, "nation+segment")
            .otherwise("nation")
            .alias("quasi_identifier"),
            "n_classes",
            "min_class_size",
            "n_classes_below_k",
            "n_rows_below_k",
            "achieves_k",
        )
        .orderBy("level")
    )


# ---------------------------------------------------------------------------
# 13. Sentence-length profile per language
# ---------------------------------------------------------------------------


def _sentence_oracle() -> str:
    from ..functions.exact import sql_round_int_ratio

    return f"""
    WITH sents AS (
      SELECT lang, trim(regexp_replace(lower(s), '\\s+', ' ', 'g')) AS sn
      FROM (SELECT lang, unnest(string_split_regex(text, '[.!?]+')) AS s
            FROM documents)
    ), ns AS (
      SELECT lang, len(string_split(sn, ' ')) AS n_tokens
      FROM sents WHERE sn <> ''
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_sentences,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           {sql_round_int_ratio('sum(n_tokens)', 'count(*)')}
             AS mean_sentence_len,
           CAST(max(n_tokens) AS BIGINT) AS max_sentence_len
    FROM ns GROUP BY lang ORDER BY lang
    """


@register("text_sentence_length_profile", oracle=_sentence_oracle())
def text_sentence_length_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-length profile per language: split documents on
    terminal punctuation runs ([.!?]+), normalize each sentence, and
    report sentence count, token volume, exact mean tokens/sentence
    and the maximum — the segment-grain member of the text-statistics
    family (doc-grain length stats and token-grain entropy exist;
    quality heuristics like "mean sentence length between 5 and 40"
    are standard corpus gates, cf. Gopher rules).

    One explode + one |langs|-bounded aggregation; the sentence split
    and whitespace normalization are engine-twinned expressions
    (regexp split / collapse), the mean is an exact half-up ratio.
    """
    from ..functions.exact import round_int_ratio

    t = Tables(spark, sf_dir)
    sents = t.documents.select(
        "lang", F.explode(F.split(F.col("text"), r"[.!?]+")).alias("s")
    ).select(
        "lang",
        F.trim(F.regexp_replace(F.lower(F.col("s")), r"\s+", " ")).alias("sn"),
    )
    ns = sents.filter(F.col("sn") != "").select(
        "lang", F.size(F.split(F.col("sn"), " ")).cast("long").alias("n_tokens")
    )
    return (
        ns.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sentences"),
            F.sum("n_tokens").alias("n_tokens"),
            round_int_ratio(F.sum("n_tokens"), F.count(F.lit(1))).alias(
                "mean_sentence_len"
            ),
            F.max("n_tokens").alias("max_sentence_len"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# 14. LSH recall audit vs the exact brute-force cosine top-k
# ---------------------------------------------------------------------------


def _lsh_recall_oracle() -> str:
    from .similarity import N_QUERIES, TOP_K, _ann_topk_oracle
    from ..functions.exact import sql_round_int_ratio

    # exact side: the same SQL knn_brute_cosine registers as its oracle
    exact = f"""
    WITH scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6)
               AS cosine
      FROM embeddings q JOIN embeddings c
        ON q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
    )
    SELECT query_id, neighbor_id
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, neighbor_id) AS rnk
          FROM scored)
    WHERE rnk <= {TOP_K}
    """
    return f"""
    WITH exact_topk AS MATERIALIZED ({exact}),
    lsh_topk AS MATERIALIZED (
      SELECT query_id, neighbor_id FROM ({_ann_topk_oracle()})
    ), hits AS (
      SELECT e.query_id, CAST(count(l.neighbor_id) AS BIGINT) AS n_hits
      FROM exact_topk e
      LEFT JOIN lsh_topk l
        ON l.query_id = e.query_id AND l.neighbor_id = e.neighbor_id
      GROUP BY e.query_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_queries,
           CAST({TOP_K} AS BIGINT) AS k,
           CAST(sum(n_hits) AS BIGINT) AS n_hits_total,
           CAST(min(n_hits) AS BIGINT) AS min_hits_per_query,
           {sql_round_int_ratio('sum(n_hits)', f'count(*) * {TOP_K}')}
             AS recall_at_k
    FROM hits
    """


@register("similarity_lsh_recall_audit", oracle=_lsh_recall_oracle())
def similarity_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the banded-LSH ANN index against the exact
    brute-force cosine top-k, AS A REGISTERED QUERY — completing the
    approximate-operator audit trio (IVF-PQ recall and MinHash recall
    are registered; the plain LSH path was measured only by the
    offline tool). The audit output is deterministic (both sides are
    deterministic operators), so it hash-verifies rather than
    "approximately matches".

    Composes the two registered operators unchanged (exact side =
    ``knn_brute_cosine``, approx side = ``ann_lsh_topk``) and
    left-joins their (query, neighbor) sets — the recall is an exact
    integer ratio over n_queries * k. Cost is the two operators' own
    plans plus a probe-set-sized join.
    """
    from .similarity import TOP_K, ann_lsh_topk, knn_brute_cosine
    from ..functions.exact import round_int_ratio

    exact = knn_brute_cosine(spark, sf_dir).select("query_id", "neighbor_id")
    lsh = ann_lsh_topk(spark, sf_dir).select(
        F.col("query_id").alias("ql"), F.col("neighbor_id").alias("nl")
    )
    hits = (
        exact.join(
            lsh,
            (F.col("query_id") == F.col("ql")) & (F.col("neighbor_id") == F.col("nl")),
            "left",
        )
        .groupBy("query_id")
        .agg(F.count(F.col("nl")).alias("n_hits"))
    )
    return hits.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.lit(TOP_K).cast("long").alias("k"),
        F.sum("n_hits").alias("n_hits_total"),
        F.min("n_hits").alias("min_hits_per_query"),
        round_int_ratio(F.sum("n_hits"), F.count(F.lit(1)) * TOP_K).alias(
            "recall_at_k"
        ),
    )


# ---------------------------------------------------------------------------
# 15. Skyline (Pareto-optimal set): cheapest-largest parts
# ---------------------------------------------------------------------------


def _skyline_oracle() -> str:
    return """
    WITH p AS (
      SELECT p_partkey,
             CAST(floor(p_retailprice * 100.0 + 0.5) AS BIGINT) AS price_c,
             CAST(p_size AS BIGINT) AS size
      FROM part WHERE p_retailprice IS NOT NULL AND p_size IS NOT NULL
    ), curve AS (
      SELECT price_c, CAST(max(size) AS BIGINT) AS max_size
      FROM p GROUP BY price_c
    ), sky AS (
      SELECT price_c, max_size,
             max(max_size) OVER (ORDER BY price_c
               RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS best_lt
      FROM curve
    ), frontier AS (
      SELECT price_c, max_size FROM sky
      WHERE best_lt IS NULL OR max_size > best_lt
    )
    SELECT pt.p_partkey AS partkey,
           CAST(f.price_c AS DOUBLE) / 100.0 AS price,
           f.max_size AS size
    FROM frontier f
    JOIN p pt ON pt.price_c = f.price_c AND pt.size = f.max_size
    ORDER BY price, partkey
    """


@register("relational_skyline_pareto", oracle=_skyline_oracle())
def relational_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto-optimal set) of parts under (minimize
    retail price, maximize size): a part is on the frontier iff no
    other part is both no-more-expensive and no-smaller with at least
    one strict improvement — the preference-query operator family
    (skyline/top-k-dominating) the relational surface lacked.

    The dominance test never runs pairwise: within a price only the
    max-size rows can survive, so the scan collapses to the distinct
    price-cents curve (value-domain-bounded) first; on that curve a
    part survives iff its size strictly exceeds the running max over
    all strictly cheaper prices — one RANGE-frame cumulative on the
    collapsed domain, then a join back to emit every part attaining a
    frontier point. Exact integer cents/size arithmetic throughout.
    """
    t = Tables(spark, sf_dir)
    p = t.part.filter(
        F.col("p_retailprice").isNotNull() & F.col("p_size").isNotNull()
    ).select(
        "p_partkey",
        F.floor(F.col("p_retailprice") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .alias("price_c"),
        F.col("p_size").cast("long").alias("size"),
    )
    curve = p.groupBy("price_c").agg(F.max("size").alias("max_size"))
    w_lt = Window.orderBy("price_c").rangeBetween(Window.unboundedPreceding, -1)
    sky = curve.select(
        "price_c", "max_size", F.max("max_size").over(w_lt).alias("best_lt")
    )
    frontier = sky.filter(
        F.col("best_lt").isNull() | (F.col("max_size") > F.col("best_lt"))
    ).select("price_c", "max_size")
    return (
        frontier.join(
            p,
            (p.price_c == frontier.price_c) & (p.size == frontier.max_size),
        )
        .select(
            F.col("p_partkey").alias("partkey"),
            (frontier.price_c.cast("double") / F.lit(100.0)).alias("price"),
            F.col("max_size").alias("size"),
        )
        .orderBy("price", "partkey")
    )


# ---------------------------------------------------------------------------
# 20. Revenue concentration: top-1% / top-10% order value share
# ---------------------------------------------------------------------------


def _topshare_oracle() -> str:
    from ..functions.exact import sql_round_big_int_ratio

    def share(pct: int) -> str:
        k = f"((n + {100 // pct - 1}) // {100 // pct})"
        return f"""
      (SELECT {sql_round_big_int_ratio(
          f'(SELECT cs - (cc - {k}) * cents FROM cum WHERE cc >= {k} ORDER BY cents DESC LIMIT 1)',
          'total_cents')}
       FROM tot)"""

    return f"""
    WITH c AS (
      SELECT CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
      FROM orders WHERE o_totalprice IS NOT NULL
    ), dv AS (
      SELECT cents, CAST(count(*) AS BIGINT) AS cnt,
             CAST(count(*) AS HUGEINT) * cents AS val
      FROM c GROUP BY cents
    ), cum AS (
      SELECT cents,
             CAST(sum(cnt) OVER (ORDER BY cents DESC) AS BIGINT) AS cc,
             CAST(sum(val) OVER (ORDER BY cents DESC) AS HUGEINT) AS cs
      FROM dv
    ), tot AS (
      SELECT CAST(sum(cnt) AS BIGINT) AS n,
             CAST(sum(val) AS HUGEINT) AS total_cents
      FROM dv
    )
    SELECT n AS n_orders,
           {share(1)} AS share_top1pct,
           {share(10)} AS share_top10pct
    FROM tot
    """


@register("agg_top_value_share", oracle=_topshare_oracle())
def agg_top_value_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration ("whale curve"): the exact share of total
    order value held by the top 1% and top 10% of orders by value —
    the business-side concentration diagnostic beside the statistical
    ones (Gini, Pareto tail fit, HHI), and the canonical "how
    whale-dependent is revenue" number.

    Exact nearest-rank on the DESCENDING cumulative over the distinct
    order-value cents domain: the top-k cut may split a tie group, so
    the boundary group contributes (cc - k) * cents back — integer
    arithmetic end-to-end, shares as exact half-up decimal ratios
    (cents sums exceed int64 at warehouse scale).

    Two-pass boundary-bin refinement (VERDICT r9 item 3 — the distinct
    cents domain is value-range-bounded, ~5.6e7 possible values over
    the TPC-H price range, so a single global ordered cumulative over
    it is effectively row-scaled at fixture scale): pass 1 partial-
    aggregates the distinct-cents table into fixed $1000 bins (~600
    over the price range, the sketch_fixedbin class) and finds each
    k's boundary bin with a broadcast non-equi self-join cumulative —
    no global sort anywhere; pass 2 runs the exact ordered cumulative
    ONLY over the boundary bin's distinct cents values (<= BIN_W by
    mechanism), offset by the strictly-higher bins' exact count/sum.
    Output bit-identical to the one-pass form (same exact nearest-rank
    arithmetic); the plan swaps a data-scaled SinglePartition window
    for a bin-partitioned one plus a TakeOrdered(1).
    """
    from ..functions.exact import round_big_int_ratio

    BIN_W = 100_000  # $1000-wide cents bins — range/1000 bins, not rows

    t = Tables(spark, sf_dir)
    c = t.orders.filter(F.col("o_totalprice").isNotNull()).select(
        order_cents()
        .alias("cents")
    )
    dv = c.groupBy("cents").agg(F.count(F.lit(1)).alias("cnt"))
    dvb = dv.withColumn("bin", F.expr(f"cents div {BIN_W}"))
    bins = dvb.groupBy("bin").agg(
        F.sum("cnt").alias("bcnt"),
        F.sum(dec38(F.col("cnt")) * F.col("cents")).alias("bcs"),
    )
    # descending cumulative over the bounded bin domain via broadcast
    # non-equi self-join (no SinglePartition ordered stage)
    b2 = bins.select(
        F.col("bin").alias("bin2"),
        F.col("bcnt").alias("bcnt2"),
        F.col("bcs").alias("bcs2"),
    )
    bcum = (
        bins.join(F.broadcast(b2), F.col("bin2") >= F.col("bin"))
        .groupBy("bin", "bcnt", "bcs")
        .agg(F.sum("bcnt2").alias("ccnt"), F.sum("bcs2").alias("ccs"))
    )
    tot = dv.agg(
        F.sum("cnt").alias("n"), F.sum(dec38(F.col("cnt")) * F.col("cents")).alias("total_cents")
    )

    def share(pct: int):
        k = (F.col("n") + (100 // pct - 1)) - (
            F.col("n") + (100 // pct - 1)
        ) % (100 // pct)
        k = (k / (100 // pct)).cast("long")
        # pass 1: the boundary bin = highest-valued bin whose running
        # count first reaches k — picked with a max_by FINAL AGGREGATE
        # (not an ordered limit, so the plan's only SinglePartition
        # stages feed constant-size aggregates); carry the strictly-
        # higher bins' exact prefix (ccnt - bcnt, ccs - bcs) as the
        # pass-2 offset
        boundary_bin = (
            bcum.crossJoin(F.broadcast(tot.select(k.alias("k"), "total_cents")))
            .filter(F.col("ccnt") >= F.col("k"))
            .agg(
                F.max_by(
                    F.struct("bin", "bcnt", "bcs", "ccnt", "ccs", "k", "total_cents"),
                    F.col("bin"),
                ).alias("b")
            )
            .select(
                F.col("b.bin").alias("bbin"),
                (F.col("b.ccnt") - F.col("b.bcnt")).alias("prev_cc"),
                (F.col("b.ccs") - F.col("b.bcs")).alias("prev_cs"),
                F.col("b.k").alias("k"),
                F.col("b.total_cents").alias("total_cents"),
            )
        )
        # pass 2: exact descending cumulative over ONLY the boundary
        # bin's distinct cents (bin-partitioned window, <= BIN_W rows)
        w_in = (
            Window.partitionBy("bbin")
            .orderBy(F.col("cents").desc())
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        inbin = dvb.join(F.broadcast(boundary_bin), dvb.bin == F.col("bbin"))
        cum_in = inbin.select(
            "cents",
            "prev_cs",
            "k",
            "total_cents",
            (F.col("prev_cc") + F.sum("cnt").over(w_in)).alias("cc"),
            F.sum(dec38(F.col("cnt")) * F.col("cents")).over(w_in).alias("cs"),
        )
        boundary = (
            cum_in.filter(F.col("cc") >= F.col("k"))
            .agg(
                F.max_by(
                    F.struct("prev_cs", "cs", "cc", "k", "total_cents", "cents"),
                    F.col("cents"),
                ).alias("b")
            )
            .select(
                (
                    F.col("b.prev_cs")
                    + F.col("b.cs")
                    - dec38(F.col("b.cc") - F.col("b.k")) * F.col("b.cents")
                ).alias("top_cents"),
                F.col("b.total_cents").alias("total_cents"),
            )
        )
        return boundary.select(
            round_big_int_ratio(F.col("top_cents"), F.col("total_cents")).alias(
                f"share_top{pct}pct"
            )
        )

    return (
        tot.select(F.col("n").alias("n_orders"))
        .crossJoin(F.broadcast(share(1)))
        .crossJoin(F.broadcast(share(10)))
    )


# ---------------------------------------------------------------------------
# 21. KMV/theta intersection estimate: viewers x clickers
# ---------------------------------------------------------------------------

KMV_INT_K = 256
KMV_INT_DOMAIN = 1 << 60
KMV_SET_A = "view"
KMV_SET_B = "click"


def _kmv_intersection_oracle() -> str:
    from ..functions.exact import sql_round_int_ratio

    k, dom = KMV_INT_K, KMV_INT_DOMAIN
    return f"""
    WITH h AS (
      SELECT DISTINCT event_type AS g,
             (('0x' || substr(sha256(CAST(user_id AS VARCHAR)), 1, 15)))::BIGINT
               AS hv,
             user_id
      FROM events WHERE event_type IN ('{KMV_SET_A}', '{KMV_SET_B}')
    ), ha AS (SELECT DISTINCT hv FROM h WHERE g = '{KMV_SET_A}'),
    hb AS (SELECT DISTINCT hv FROM h WHERE g = '{KMV_SET_B}'),
    hu AS (SELECT hv FROM ha UNION SELECT hv FROM hb),
    theta AS (
      SELECT CAST(max(hv) AS BIGINT) AS th,
             CAST(count(*) AS BIGINT) AS k_eff
      FROM (SELECT hv FROM hu ORDER BY hv LIMIT {k})
    ), common AS (
      SELECT CAST(count(*) AS BIGINT) AS c
      FROM ha JOIN hb USING (hv), theta
      WHERE hv <= theta.th
    ), tru AS (
      SELECT CAST(count(*) AS BIGINT) AS d_true
      FROM (SELECT user_id FROM h WHERE g = '{KMV_SET_A}'
            INTERSECT
            SELECT user_id FROM h WHERE g = '{KMV_SET_B}')
    )
    SELECT t.k_eff, t.th AS theta, c.c AS n_common_under_theta,
           CAST(CASE WHEN t.k_eff = {k}
                THEN (c.c::HUGEINT * {k - 1} * {dom}) // ({k}::HUGEINT * t.th)
                ELSE c.c END AS BIGINT) AS d_int_est,
           u.d_true,
           CASE WHEN u.d_true > 0 THEN {sql_round_int_ratio(
               f'''abs(CAST(CASE WHEN t.k_eff = {k}
                    THEN (c.c::HUGEINT * {k - 1} * {dom}) // ({k}::HUGEINT * t.th)
                    ELSE c.c END AS BIGINT) - u.d_true)''',
               'u.d_true')} END AS rel_error
    FROM theta t, common c, tru u
    """


@register("sketch_kmv_intersection_users", oracle=_kmv_intersection_oracle())
def sketch_kmv_intersection_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta/KMV INTERSECTION estimate: distinct users who both viewed
    and clicked, estimated from the two sets' hash order statistics —
    theta = the union sketch's k-th minimum, the intersection sample =
    common hashes below theta, and D_int ≈ (c/k) * D_union — the
    set-OPERATION member of the mergeable-sketch family (the single-
    set KMV estimates one cardinality; real sketch workloads ask for
    intersections/unions of many), reported beside the exact
    intersection and its relative error like the other sketch audits.

    Deterministic end-to-end (sha-derived 60-bit hashes, integer
    floor estimate), so it hash-verifies cross-engine. The per-set
    distinct-hash aggregations collapse map-side; theta is a
    TakeOrdered k-min on the union; the common-hash probe is one
    equi-join on the hash key. At 100 TB each set's sketch state is k
    values and intersection = a k-sized join.
    """
    from ..functions.exact import round_int_ratio
    from ..functions.textnorm import sha256_prefix_i64

    k, dom = KMV_INT_K, KMV_INT_DOMAIN
    t = Tables(spark, sf_dir)
    ev = t.events.filter(F.col("event_type").isin(KMV_SET_A, KMV_SET_B)).select(
        F.col("event_type").alias("g"),
        sha256_prefix_i64(F.col("user_id").cast("string")).alias("hv"),
        "user_id",
    )
    ha = ev.filter(F.col("g") == KMV_SET_A).select("hv").distinct()
    hb = ev.filter(F.col("g") == KMV_SET_B).select("hv").distinct()
    hu = ha.unionAll(hb).distinct()
    theta = hu.orderBy("hv").limit(k).agg(
        F.max("hv").alias("th"), F.count(F.lit(1)).alias("k_eff")
    )
    # c is aggregated on its own and joined back onto the 1-row theta
    # frame: if the intersection under theta is EMPTY (tiny/disjoint
    # sets, reachable under fuzz), first('th') over the empty frame
    # would emit NULL theta/k_eff while the oracle's separate theta CTE
    # still carries real values. count() over an empty frame is 0, so
    # theta.crossJoin(common_cnt) always keeps the theta aggregate's
    # values (ADVICE r8).
    common_cnt = (
        ha.join(hb, "hv")
        .crossJoin(F.broadcast(theta))
        .filter(F.col("hv") <= F.col("th"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    common = theta.crossJoin(F.broadcast(common_cnt))
    ua = ev.filter(F.col("g") == KMV_SET_A).select("user_id").distinct()
    ub = ev.filter(F.col("g") == KMV_SET_B).select("user_id").distinct()
    tru = ua.join(ub, "user_id").agg(F.count(F.lit(1)).alias("d_true"))
    est_num = dec38(F.col("c")) * F.lit(k - 1) * F.lit(dom)
    est_den = dec38(F.lit(k)) * F.col("th")
    est = F.when(
        F.col("k_eff") == k,
        ((est_num - est_num % est_den) / est_den).cast("long"),
    ).otherwise(F.col("c"))
    out = common.crossJoin(F.broadcast(tru))
    return out.select(
        "k_eff",
        F.col("th").alias("theta"),
        F.col("c").alias("n_common_under_theta"),
        est.alias("d_int_est"),
        "d_true",
        F.when(
            F.col("d_true") > 0,
            round_int_ratio(F.abs(est - F.col("d_true")), F.col("d_true")),
        ).alias("rel_error"),
    )


# ---------------------------------------------------------------------------
# 22. Serpentine (boustrophedon) shard balancing of document payloads
# ---------------------------------------------------------------------------

SERP_N_SHARDS = 8


def _serpentine_oracle() -> str:
    from ..functions.exact import sql_round_int_ratio

    n = SERP_N_SHARDS
    return f"""
    WITH ranked AS (
      SELECT source, n_chars,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id) - 1 AS idx
      FROM documents
    ), assigned AS (
      SELECT source, n_chars,
             CASE WHEN (idx // {n}) % 2 = 0 THEN idx % {n}
                  ELSE {n - 1} - (idx % {n}) END AS shard
      FROM ranked
    ), per_shard AS (
      SELECT CAST(shard AS BIGINT) AS shard,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS total_chars
      FROM assigned GROUP BY shard
    ), tot AS (SELECT CAST(sum(total_chars) AS BIGINT) AS t FROM per_shard)
    SELECT shard, n_docs, total_chars,
           {sql_round_int_ratio('total_chars', 't')} AS char_share
    FROM per_shard, tot ORDER BY shard
    """


@register("layout_serpentine_shard_balance", oracle=_serpentine_oracle())
def layout_serpentine_shard_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serpentine (boustrophedon) size-balanced shard assignment of
    document payloads: within each source, order docs by size
    descending and deal them across 8 shards alternating direction
    each round (0..7, 7..0, ...), the classic deterministic
    approximation of LPT bin packing that a training-data writer uses
    to keep output shards byte-balanced — the assignment-PLANNING
    member of the layout family (z-order = clustering, compaction =
    file sizing, this = load balance). The replica test asserts the
    achieved balance beats naive round-robin's worst case.

    The ranking window is PARTITIONED by source (a layout plan runs
    per ingest partition, never globally); the serpentine formula is
    pure row-local arithmetic on the rank, and shard totals are one
    bounded aggregate. Shares are exact half-up ratios.
    """
    from ..functions.exact import round_int_ratio

    n = SERP_N_SHARDS
    t = Tables(spark, sf_dir)
    w = Window.partitionBy("source").orderBy(F.col("n_chars").desc(), "doc_id")
    ranked = t.documents.select(
        "source", "n_chars", (F.row_number().over(w) - 1).alias("idx")
    )
    rnd = (F.col("idx") - F.col("idx") % n) / n
    shard = F.when(
        rnd.cast("long") % 2 == 0, F.col("idx") % n
    ).otherwise(F.lit(n - 1) - F.col("idx") % n)
    per_shard = (
        ranked.select(shard.cast("long").alias("shard"), "n_chars")
        .groupBy("shard")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("total_chars"))
    )
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return per_shard.select(
        "shard",
        "n_docs",
        "total_chars",
        round_int_ratio(F.col("total_chars"), F.sum("total_chars").over(w_all)).alias(
            "char_share"
        ),
    ).orderBy("shard")
