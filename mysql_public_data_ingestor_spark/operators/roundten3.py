"""Round-10 batch 5: seven oracle-paired operators extending the
warehouse-statistics, ML-quality, time-series, text and corpus
families (VERDICT r9 item 5 follow-through — filling the remaining
driver-window slots under the full gate discipline).

1.  ``ml_isotonic_calibration_pav`` — closed-form isotonic (PAV)
    calibration of the hashed classifier over a bounded score-bin
    grid via the max-min prefix-average identity.
2.  ``ml_fairness_threshold_gaps`` — per-language selection-rate /
    TPR / FPR gaps vs global at a fixed decision threshold.
3.  ``text_keyword_log_odds`` — Monroe et al. informative-Dirichlet
    weighted log-odds terms separating the two largest languages.
4.  ``corpus_truncation_loss_curve`` — token loss of chunk-and-drop
    packing at a context-length ladder.

``stats_durbin_watson_daily`` and ``stats_hurst_rs_daily`` live in
``operators/daily_*.py`` with the other daily-series queries.

House discipline (same as roundten2): every query is a DataFrame
plan with a DuckDB oracle twin; exact integer/decimal arithmetic
crosses the engine boundary (round_int_ratio / round_big_int_ratio /
det_ln_q twins); global ordered passes run only over bounded
POST-AGGREGATION domains (calendar days, score bins, lag grids) via
broadcast non-equi self-joins or key-partitioned windows — never an
unpartitioned window over data-scaled rows.

``stats_g_test_dow_type`` lives in ``operators/stats_tables.py``;
``stats_rayleigh_hour_uniformity`` lives in ``operators/stats_dist.py``
with the other stats queries.

``events_markov_entropy_rate`` lives in
``operators/events_sequence.py``; ``events_ccf_types_lags`` and
``events_decayed_value_halflife`` live in
``operators/events_series.py``; ``events_type_audience_jaccard`` lives
in ``operators/events_users.py`` with the other events queries.

``ml_isotonic_calibration_pav`` and ``ml_spiegelhalter_z_calibration``
live in ``operators/ml_calibration.py``; ``ml_fairness_threshold_gaps``
lives in ``operators/ml_thresholds.py`` with the other ml queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.exact import halfup_div, sql_halfup_div
from ..registry import register
from ..tables import Tables


# ---------------------------------------------------------------------------
# 6. Weighted log-odds keywords between the two largest languages
# ---------------------------------------------------------------------------

LOGODDS_ALPHA0 = 200
LOGODDS_TOPK = 20


def _logodds_oracle() -> str:
    from .corpus import _SQL_TOKENS
    from ..functions.detmath import sql_det_ln_steps

    a0 = LOGODDS_ALPHA0
    return f"""
    WITH toks AS (
      SELECT lang, unnest({_SQL_TOKENS}) AS token FROM documents
    ), lc AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY lang
    ), rk AS (
      SELECT a.lang, CAST(count(*) AS BIGINT) AS rnk
      FROM lc a JOIN lc b
        ON b.n_docs > a.n_docs OR (b.n_docs = a.n_docs AND b.lang <= a.lang)
      GROUP BY a.lang
    ), pair AS (
      SELECT max(CASE WHEN rnk = 1 THEN lang END) AS lang_a,
             max(CASE WHEN rnk = 2 THEN lang END) AS lang_b
      FROM rk
    ), cnt AS (
      SELECT t.lang, t.token, CAST(count(*) AS BIGINT) AS c
      FROM toks t, pair p
      WHERE t.lang IN (p.lang_a, p.lang_b)
      GROUP BY t.lang, t.token
    ), tots AS (
      SELECT CAST(sum(CASE WHEN c1.lang = p.lang_a THEN c1.c ELSE 0 END)
                  AS BIGINT) AS n1,
             CAST(sum(CASE WHEN c1.lang = p.lang_b THEN c1.c ELSE 0 END)
                  AS BIGINT) AS n2
      FROM cnt c1, pair p
    ), wide AS (
      SELECT token,
             CAST(sum(CASE WHEN c.lang = p.lang_a THEN c.c ELSE 0 END)
                  AS BIGINT) AS y1,
             CAST(sum(CASE WHEN c.lang = p.lang_b THEN c.c ELSE 0 END)
                  AS BIGINT) AS y2
      FROM cnt c, pair p
      GROUP BY token
    ), args AS (
      SELECT w.token, w.y1, w.y2, t.n1, t.n2,
             w.y1 * (t.n1 + t.n2) + {a0} * (w.y1 + w.y2) AS a1,
             (t.n1 + {a0}) * (t.n1 + t.n2)
               - (w.y1 * (t.n1 + t.n2) + {a0} * (w.y1 + w.y2)) AS b1,
             w.y2 * (t.n1 + t.n2) + {a0} * (w.y1 + w.y2) AS a2,
             (t.n2 + {a0}) * (t.n1 + t.n2)
               - (w.y2 * (t.n1 + t.n2) + {a0} * (w.y1 + w.y2)) AS b2
      FROM wide w, tots t
    ), pos_ AS (
      SELECT * FROM args WHERE a1 > 0 AND b1 > 0 AND a2 > 0 AND b2 > 0
    ), {sql_det_ln_steps('pos_', 'a1', 'la1')},
    {sql_det_ln_steps('la1_rel', 'b1', 'lb1')},
    {sql_det_ln_steps('lb1_rel', 'a2', 'la2')},
    {sql_det_ln_steps('la2_rel', 'b2', 'lb2')},
    scored2 AS (
      -- every float literal is ::DOUBLE-cast: DuckDB parses a bare
      -- decimal literal as DECIMAL, which would turn the int*1e-6
      -- step into exact-decimal arithmetic while Spark runs IEEE
      -- doubles (the detmath.py trap)
      SELECT token, y1, y2, n1, n2,
             (la1 - lb1 - la2 + lb2) AS dq,
             CAST(la1 - lb1 - la2 + lb2 AS DOUBLE) * 0.000001::DOUBLE
               AS ddbl,
             ((n1 + n2)::DOUBLE / a1::DOUBLE)
               + ((n1 + n2)::DOUBLE / a2::DOUBLE) AS vdbl
      FROM lb2_rel
    ), zs AS (
      SELECT token, y1, y2, dq,
             CAST(floor(ddbl * ddbl / vdbl * 1000000.0::DOUBLE + 0.5::DOUBLE)
                  AS BIGINT) AS z2q
      FROM scored2
    )
    SELECT z.token, p.lang_a, p.lang_b, z.y1 AS count_a, z.y2 AS count_b,
           z.dq / 1000000.0 AS delta_ln,
           z.z2q / 1000000.0 AS z_squared
    FROM zs z, pair p
    ORDER BY z.z2q DESC, z.token
    LIMIT {LOGODDS_TOPK}
    """


@register("text_keyword_log_odds", oracle=_logodds_oracle())
def text_keyword_log_odds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monroe/Colaresi/Quinn "Fightin' Words" weighted log-odds with
    an informative Dirichlet prior: the top terms separating the two
    LARGEST languages (by doc count; count-desc/lang-asc rank over the
    ≤5-row language table), scored by z² = δ²/Var(δ) where δ is the
    prior-smoothed log-odds-ratio difference and the prior α_w =
    α₀·(y₁+y₂)/N is the pooled distribution. The standard
    corpus-comparison keyword statistic — raw log-odds overweights
    rare terms, tf-idf ignores the comparison corpus; this is the
    member the text family lacked beside PMI, tf-idf and burstiness.

    Exactness: all four log arguments are exact integers after
    clearing the α denominator by N (a₁ = y₁N + α₀(y₁+y₂), …), each
    ln via the det_ln_q twins; δ in micro-nats is an int64 sum. The
    variance uses two int64→double divisions N/a (each one correctly-
    rounded IEEE op on exactly-representable ints — args ≤ N² ≲ 10¹⁴
    through sf1, under 2⁵³), identical association order in the SQL
    twin; z² quantizes once at 1e-6 and top-k orders by (z²_q desc,
    token asc) — fully deterministic tie-breaking on both engines.

    Scale shape: token explosion partial-aggregates to the
    vocabulary-bounded (lang, token) grid; the two-language restriction
    and totals ride a broadcast 1-row pair; global top-20 is a
    TakeOrderedAndProject, never a full sort.
    """
    from ..functions.detmath import det_ln_q
    from ..functions.textnorm import whitespace_tokens

    a0 = LOGODDS_ALPHA0
    t = Tables(spark, sf_dir)
    lc = t.documents.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    lcb = lc.select(F.col("lang").alias("lang_b"), F.col("n_docs").alias("nd_b"))
    rk = (
        lc.join(
            F.broadcast(lcb),
            (F.col("nd_b") > F.col("n_docs"))
            | ((F.col("nd_b") == F.col("n_docs")) & (F.col("lang_b") <= F.col("lang"))),
        )
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("rnk"))
    )
    pair = rk.agg(
        F.max(F.when(F.col("rnk") == 1, F.col("lang"))).alias("lang_a"),
        F.max(F.when(F.col("rnk") == 2, F.col("lang"))).alias("lang_b"),
    )
    toks = t.documents.select(
        "lang", F.explode(whitespace_tokens(F.col("text"))).alias("token")
    )
    cnt = (
        toks.crossJoin(F.broadcast(pair))
        .filter((F.col("lang") == F.col("lang_a")) | (F.col("lang") == F.col("lang_b")))
        .groupBy("lang", "lang_a", "lang_b", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tots = cnt.agg(
        F.sum(F.when(F.col("lang") == F.col("lang_a"), F.col("c")).otherwise(0)).alias(
            "n1"
        ),
        F.sum(F.when(F.col("lang") == F.col("lang_b"), F.col("c")).otherwise(0)).alias(
            "n2"
        ),
    )
    wide = cnt.groupBy("token", "lang_a", "lang_b").agg(
        F.sum(F.when(F.col("lang") == F.col("lang_a"), F.col("c")).otherwise(0)).alias(
            "y1"
        ),
        F.sum(F.when(F.col("lang") == F.col("lang_b"), F.col("c")).otherwise(0)).alias(
            "y2"
        ),
    )
    nn = F.col("n1") + F.col("n2")
    yw = F.col("y1") + F.col("y2")
    args = wide.crossJoin(F.broadcast(tots)).select(
        "token",
        "lang_a",
        "lang_b",
        "y1",
        "y2",
        "n1",
        "n2",
        (F.col("y1") * nn + F.lit(a0) * yw).alias("a1"),
        ((F.col("n1") + F.lit(a0)) * nn - (F.col("y1") * nn + F.lit(a0) * yw)).alias(
            "b1"
        ),
        (F.col("y2") * nn + F.lit(a0) * yw).alias("a2"),
        ((F.col("n2") + F.lit(a0)) * nn - (F.col("y2") * nn + F.lit(a0) * yw)).alias(
            "b2"
        ),
    )
    pos = args.filter(
        (F.col("a1") > 0) & (F.col("b1") > 0) & (F.col("a2") > 0) & (F.col("b2") > 0)
    )
    dq = (
        det_ln_q(F.col("a1"))
        - det_ln_q(F.col("b1"))
        - det_ln_q(F.col("a2"))
        + det_ln_q(F.col("b2"))
    )
    scored = pos.select(
        "token",
        "lang_a",
        "lang_b",
        "y1",
        "y2",
        dq.alias("dq"),
        (
            (F.col("n1") + F.col("n2")).cast("double") / F.col("a1").cast("double")
            + (F.col("n1") + F.col("n2")).cast("double") / F.col("a2").cast("double")
        ).alias("vdbl"),
    )
    ddbl = F.col("dq") * F.lit(0.000001)
    zs = scored.select(
        "token",
        "lang_a",
        "lang_b",
        "y1",
        "y2",
        "dq",
        F.floor(ddbl * ddbl / F.col("vdbl") * F.lit(1000000.0) + F.lit(0.5))
        .cast("long")
        .alias("z2q"),
    )
    return (
        zs.orderBy(F.col("z2q").desc(), F.col("token").asc())
        .limit(LOGODDS_TOPK)
        .select(
            "token",
            "lang_a",
            "lang_b",
            F.col("y1").alias("count_a"),
            F.col("y2").alias("count_b"),
            (F.col("dq") / F.lit(1e6)).alias("delta_ln"),
            (F.col("z2q") / F.lit(1e6)).alias("z_squared"),
        )
    )


# ---------------------------------------------------------------------------
# 7. Token loss of chunk-and-drop packing at a context-length ladder
# ---------------------------------------------------------------------------

TRUNC_LENGTHS = (64, 128, 256, 512)


def _trunc_oracle() -> str:
    from .corpus import _SQL_TOKENS
    from ..functions.exact import sql_round_int_ratio

    lens = ", ".join(str(x) for x in TRUNC_LENGTHS)
    return f"""
    WITH dc AS (
      SELECT CAST(len({_SQL_TOKENS}) AS BIGINT) AS c
      FROM documents
      WHERE len({_SQL_TOKENS}) >= 1
    ), grid AS (
      SELECT d.c, CAST(l.l AS BIGINT) AS l
      FROM dc d JOIN (SELECT unnest([{lens}]) AS l) l ON true
    ), kept AS (
      SELECT l, c,
             (c // l) * l
               + CASE WHEN c % l >= l // 4 THEN c % l ELSE 0 END AS k,
             CASE WHEN c % l > 0 AND c % l < l // 4 THEN 1 ELSE 0 END
               AS tail_dropped
      FROM grid
    )
    SELECT l AS context_len,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(tail_dropped) AS BIGINT) AS docs_tail_dropped,
           CAST(sum(c) AS BIGINT) AS tokens_total,
           CAST(sum(k) AS BIGINT) AS tokens_kept,
           CAST(sum(c - k) AS BIGINT) AS tokens_dropped,
           CAST(sum(c // l) AS BIGINT) AS full_chunks,
           {sql_round_int_ratio('sum(c - k)', 'sum(c)')} AS loss_ratio
    FROM kept GROUP BY l
    """


@register("corpus_truncation_loss_curve", oracle=_trunc_oracle())
def corpus_truncation_loss_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-loss curve of the chunk-and-drop packing policy at a
    context-length ladder (64/128/256/512): each document is split
    into ⌊c/L⌋ full chunks plus a tail of c mod L tokens, and the tail
    is KEPT only when it reaches L/4 (shorter fragments train badly
    and waste padding). Reports, per L, the documents whose tail is
    dropped, exact token totals, and the loss ratio — the standard
    what-if table before committing a corpus to a context length;
    corpus_pack_sequences plans the actual packing, this prices the
    policy across candidate lengths.

    Pure integer arithmetic per (doc, L) cell (floor-div / mod), one
    partial-aggregated pass: the token-count scan aggregates to one
    row per document-length, the 4-element ladder rides an explode
    (no join at all on the Spark side), and the output is 4 rows of
    int64 sums with one exact half-up ratio each. Empty documents
    (zero tokens) are excluded identically on both engines.
    """
    from ..functions.exact import round_int_ratio
    from ..functions.textnorm import whitespace_tokens

    t = Tables(spark, sf_dir)
    dc = t.documents.select(
        F.size(whitespace_tokens(F.col("text"))).cast("long").alias("c")
    ).filter(F.col("c") >= 1)
    grid = dc.select(
        "c",
        F.explode(
            F.array(*[F.lit(x).cast("long") for x in TRUNC_LENGTHS])
        ).alias("l"),
    )
    tail = F.col("c") % F.col("l")
    keep_tail = tail >= (F.col("l") / 4).cast("long")
    kept = grid.select(
        "l",
        "c",
        (
            (F.col("c") / F.col("l")).cast("long") * F.col("l")
            + F.when(keep_tail, tail).otherwise(F.lit(0))
        ).alias("k"),
        F.when((tail > 0) & ~keep_tail, 1).otherwise(0).alias("tail_dropped"),
        (F.col("c") / F.col("l")).cast("long").alias("fc"),
    )
    return kept.groupBy(F.col("l").alias("context_len")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("tail_dropped").alias("docs_tail_dropped"),
        F.sum("c").alias("tokens_total"),
        F.sum("k").alias("tokens_kept"),
        F.sum(F.col("c") - F.col("k")).alias("tokens_dropped"),
        F.sum("fc").alias("full_chunks"),
        round_int_ratio(
            F.sum(F.col("c") - F.col("k")), F.sum(F.col("c"))
        ).alias("loss_ratio"),
    )


# ---------------------------------------------------------------------------
# 11. Quasi-identifier entropy / re-identification risk audit
# ---------------------------------------------------------------------------


def _qi_entropy_oracle() -> str:
    from ..functions.detmath import sql_det_ln_steps
    from ..functions.exact import sql_round_int_ratio

    return f"""
    WITH cells AS (
      SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS c
      FROM customer GROUP BY 1, 2
    ), {sql_det_ln_steps('cells', 'c', 'lc')},
    tot AS (
      SELECT CAST(sum(c) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS n_cells,
             CAST(sum(c * lc) AS BIGINT) AS clc,
             CAST(max(c) AS BIGINT) AS max_c,
             CAST(min(c) AS BIGINT) AS min_c
      FROM lc_rel
    ), witharg AS (
      SELECT *, n AS arg_n, n_cells AS arg_m FROM tot
    ), {sql_det_ln_steps('witharg', 'arg_n', 'ln_n')},
    {sql_det_ln_steps('ln_n_rel', 'arg_m', 'ln_m')}
    SELECT n AS n_rows, n_cells, min_c AS min_cell_size,
           {sql_round_int_ratio('max_c', 'n')} AS max_cell_share,
           {sql_halfup_div('(n * ln_n - clc)', 'n')} / 1000000.0
             AS entropy_nats,
           ln_m / 1000000.0 AS ln_cells
    FROM ln_m_rel
    """


@register("privacy_qi_entropy_risk", oracle=_qi_entropy_oracle())
def privacy_qi_entropy_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy-based re-identification risk of the customer
    quasi-identifier pair (nation, market segment): Shannon entropy
    H = ln N − (Σ c·ln c)/N of the QI-cell distribution, its ceiling
    ln(#cells), the smallest cell (the k-anonymity floor the
    k-map/k-anon audits threshold on) and the largest cell share (the
    prosecutor-model worst-case linkage probability's complement).
    The information-theoretic summary BESIDE the threshold audits:
    two releases can both pass k=5 yet differ hugely in how close
    their QI distribution sits to its uniform ceiling.

    Exactness: counts are integers, every ln is det_ln_q (args ≤ N <
    2⁵³ at any realistic scale), Σc·L(c) an int64 sum, entropy one
    shared half-up integer division quantized at micro-nats with a
    single /10⁶ display divide; the max share is an exact
    round_int_ratio. One partial-aggregated scan to the bounded QI
    grid (≤ 25·5 cells); everything downstream is scalar.
    """
    from ..functions.detmath import det_ln_q
    from ..functions.exact import round_int_ratio

    t = Tables(spark, sf_dir)
    cells = t.customer.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("c")
    )
    tot = cells.agg(
        F.sum("c").alias("n"),
        F.count(F.lit(1)).alias("n_cells"),
        F.sum(F.col("c") * det_ln_q(F.col("c"))).alias("clc"),
        F.max("c").alias("max_c"),
        F.min("c").alias("min_c"),
    )
    return tot.select(
        F.col("n").alias("n_rows"),
        "n_cells",
        F.col("min_c").alias("min_cell_size"),
        round_int_ratio(F.col("max_c"), F.col("n")).alias("max_cell_share"),
        (
            halfup_div(
                F.col("n") * det_ln_q(F.col("n")) - F.col("clc"), F.col("n")
            ).cast("long")
            / F.lit(1e6)
        ).alias("entropy_nats"),
        (det_ln_q(F.col("n_cells")) / F.lit(1e6)).alias("ln_cells"),
    )


# ===========================================================================
# Batch 7 (round-10 final window fill)
# ===========================================================================


# ---------------------------------------------------------------------------
# 15. IVF recall-vs-nprobe tuning curve
# ---------------------------------------------------------------------------

IVFC_CENTROIDS = 8
IVFC_QUERIES = 16
IVFC_TOPK = 10
IVFC_PROBES = (1, 2, 4, 8)


def _ivf_curve_oracle() -> str:
    from ..functions.exact import sql_round_int_ratio

    probes = ", ".join(str(p) for p in IVFC_PROBES)
    return f"""
    WITH emb AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), cent AS (
      SELECT vec_id AS centroid_id, v AS cv FROM emb
      WHERE vec_id < {IVFC_CENTROIDS}
    ), assigned AS (
      SELECT vec_id, centroid_id,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY round(list_cosine_similarity(v, cv), 9)
                                           DESC, centroid_id) AS rn
      FROM emb, cent
    ), cells AS (
      SELECT vec_id, centroid_id AS cell FROM assigned WHERE rn = 1
    ), queries AS (
      SELECT vec_id AS query_id, v AS qv FROM emb
      WHERE vec_id < {IVFC_QUERIES}
    ), proberank AS (
      SELECT q.query_id, c.centroid_id AS cell,
             CAST(row_number() OVER (PARTITION BY q.query_id
                                     ORDER BY round(list_cosine_similarity(q.qv, c.cv), 9)
                                                DESC, c.centroid_id) AS BIGINT) AS rp
      FROM queries q, cent c
    ), truth AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.query_id
                                  ORDER BY round(list_cosine_similarity(q.qv, e.v), 6)
                                             DESC, e.vec_id) AS rnk
        FROM queries q JOIN emb e ON e.vec_id <> q.query_id
      ) WHERE rnk <= {IVFC_TOPK}
    ), hit_r AS (
      SELECT t.query_id, pr.rp
      FROM truth t
      JOIN cells cl ON cl.vec_id = t.neighbor_id
      JOIN proberank pr ON pr.query_id = t.query_id AND pr.cell = cl.cell
    ), by_r AS (
      SELECT rp, CAST(count(*) AS BIGINT) AS cnt FROM hit_r GROUP BY rp
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n_true,
             CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries
      FROM truth
    ), ps AS (SELECT CAST(unnest([{probes}]) AS BIGINT) AS nprobe)
    SELECT p.nprobe, t.n_queries, t.n_true,
           CAST(coalesce(sum(b.cnt), 0) AS BIGINT) AS n_found,
           {sql_round_int_ratio('coalesce(sum(b.cnt), 0)', 't.n_true')}
             AS recall
    FROM ps p
    LEFT JOIN by_r b ON b.rp <= p.nprobe
    CROSS JOIN tot t
    GROUP BY p.nprobe, t.n_queries, t.n_true
    """


@register("similarity_ivf_nprobe_recall_curve", oracle=_ivf_curve_oracle())
def similarity_ivf_nprobe_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the IVF index as a function of nprobe (1/2/4/8
    probed cells out of 8) — the IVF twin of the LSH banding tuning
    curve (dedup_lsh_band_tuning_curve): the capacity-planning table
    that prices "how many cells must a query touch for the recall the
    product needs". ann_ivf_topk ships ONE operating point; this
    measures the whole trade.

    Mechanism: every truth neighbor (exact brute-force top-10 for 16
    fixed query vectors) is labeled with the probe rank of ITS cell
    in the query's centroid ordering; recall at nprobe = share of
    truth rows with rank ≤ nprobe, a cumulative over the ≤ 8-row
    rank histogram against the broadcast 4-row probe grid — the
    curve costs ONE brute-force pass, not one per operating point.
    Cell argmax and rankings reuse ann_ivf_topk's determinism recipe
    (cosines rounded at 9/6 decimals with id tie-breaks, identical
    in the SQL twin); recall is an exact round_int_ratio.

    Scale shape: the only corpus-scaled stage is the 16-query
    brute-force join (the knn_brute_cosine shape, broadcast queries,
    no cartesian) and the one-broadcast-join cell assignment;
    everything downstream is bounded (160 truth rows, 128 probe
    ranks, 8+4-row grids).
    """
    from ..functions.exact import round_int_ratio

    t = Tables(spark, sf_dir)
    norm = F.sqrt(F.aggregate(F.col("v"), F.lit(0.0), lambda a, x: a + x * x))
    emb = t.embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).withColumn("nrm", norm)
    centroids = emb.filter(F.col("vec_id") < IVFC_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cn"),
    )

    def dot(a, b):
        return F.aggregate(
            F.zip_with(F.col(a), F.col(b), lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    scored = emb.join(F.broadcast(centroids)).select(
        "vec_id",
        "centroid_id",
        F.round(dot("v", "cv") / (F.col("nrm") * F.col("cn")), 9).alias("sim"),
    )
    w_assign = Window.partitionBy("vec_id").orderBy(
        F.col("sim").desc(), F.col("centroid_id")
    )
    cells = (
        scored.withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("centroid_id").alias("cell"))
    )
    queries = emb.filter(F.col("vec_id") < IVFC_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    proberank = (
        queries.crossJoin(F.broadcast(centroids))
        .select(
            "query_id",
            F.col("centroid_id").alias("cell"),
            F.round(dot("qv", "cv") / (F.col("qn") * F.col("cn")), 9).alias(
                "sim"
            ),
        )
        .withColumn(
            "rp",
            F.row_number()
            .over(
                Window.partitionBy("query_id").orderBy(
                    F.col("sim").desc(), F.col("cell")
                )
            )
            .cast("long"),
        )
        .select("query_id", "cell", "rp")
    )
    pairs = emb.join(
        F.broadcast(queries), F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(dot("v", "qv") / (F.col("nrm") * F.col("qn")), 6).alias(
            "cosine"
        ),
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    truth = (
        pairs.withColumn("rnk", F.row_number().over(w_rank))
        .filter(F.col("rnk") <= IVFC_TOPK)
        .select("query_id", "neighbor_id")
    )
    hit_r = truth.join(
        cells.select(F.col("vec_id").alias("neighbor_id"), "cell"),
        "neighbor_id",
    ).join(F.broadcast(proberank), ["query_id", "cell"])
    by_r = hit_r.groupBy("rp").agg(F.count(F.lit(1)).alias("cnt"))
    tot = truth.agg(
        F.count(F.lit(1)).alias("n_true"),
        F.countDistinct("query_id").alias("n_queries"),
    )
    ps = F.explode(
        F.array(*[F.lit(p).cast("long") for p in IVFC_PROBES])
    ).alias("nprobe")
    grid = tot.select(ps, "n_queries", "n_true")
    return (
        grid.join(F.broadcast(by_r), F.col("rp") <= F.col("nprobe"), "left")
        .groupBy("nprobe", "n_queries", "n_true")
        .agg(F.coalesce(F.sum("cnt"), F.lit(0)).alias("n_found"))
        .select(
            "nprobe",
            "n_queries",
            "n_true",
            "n_found",
            round_int_ratio(F.col("n_found"), F.col("n_true")).alias("recall"),
        )
    )


# ---------------------------------------------------------------------------
# 17. Duplicate-cap retention curve
# ---------------------------------------------------------------------------

DUPCAP_CAPS = (1, 2, 4, 8)


def _dupcap_oracle() -> str:
    from .corpus import _SQL_TOKENS
    from ..functions.exact import sql_round_int_ratio

    caps = ", ".join(str(c) for c in DUPCAP_CAPS)
    return f"""
    WITH keyed AS (
      SELECT sha256(text) AS kk, CAST(len({_SQL_TOKENS}) AS BIGINT) AS tok
      FROM documents
    ), clusters AS (
      SELECT kk, CAST(count(*) AS BIGINT) AS c,
             CAST(max(tok) AS BIGINT) AS tok_one
      FROM keyed GROUP BY kk
    ), caps AS (SELECT CAST(unnest([{caps}]) AS BIGINT) AS cap),
    grid AS (
      SELECT cap, c, tok_one, least(c, cap) AS kept
      FROM clusters, caps
    )
    SELECT cap,
           CAST(sum(c) AS BIGINT) AS n_docs,
           CAST(sum(kept) AS BIGINT) AS docs_kept,
           CAST(sum(c * tok_one) AS BIGINT) AS tokens_total,
           CAST(sum(kept * tok_one) AS BIGINT) AS tokens_kept,
           {sql_round_int_ratio('sum(kept)', 'sum(c)')} AS doc_retention,
           {sql_round_int_ratio('sum(kept * tok_one)', 'sum(c * tok_one)')}
             AS token_retention
    FROM grid GROUP BY cap
    """


@register("corpus_dup_cap_retention_curve", oracle=_dupcap_oracle())
def corpus_dup_cap_retention_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention curve of the cap-duplicates-at-m policy (m = 1/2/4/8
    copies kept per exact-duplicate cluster): per cap, documents and
    tokens surviving — the dedup twin of the truncation-loss curve,
    pricing the standard "keep a few copies" family
    of LLM-corpus dedup policies (keep-one is m=1; unbounded is the
    raw corpus) before committing to one. Cluster key is sha256 of the
    raw text (the dedup_exact_text identity); every copy in a cluster
    has the same token count by construction, so token retention is
    min(c,m)·t per cluster — all integer arithmetic with exact
    round_int_ratio shares.

    One partial-aggregated scan to the cluster table (hash-keyed
    groupBy, no global sort), then a 4-element cap ladder over the
    cluster-size domain.
    """
    from ..functions.exact import round_int_ratio
    from ..functions.textnorm import whitespace_tokens

    t = Tables(spark, sf_dir)
    keyed = t.documents.select(
        F.sha2(F.col("text"), 256).alias("kk"),
        F.size(whitespace_tokens(F.col("text"))).cast("long").alias("tok"),
    )
    clusters = keyed.groupBy("kk").agg(
        F.count(F.lit(1)).alias("c"), F.max("tok").alias("tok_one")
    )
    caps = F.explode(
        F.array(*[F.lit(c).cast("long") for c in DUPCAP_CAPS])
    ).alias("cap")
    grid = clusters.select("c", "tok_one", caps).select(
        "cap", "c", "tok_one", F.least(F.col("c"), F.col("cap")).alias("kept")
    )
    return grid.groupBy("cap").agg(
        F.sum("c").alias("n_docs"),
        F.sum("kept").alias("docs_kept"),
        F.sum(F.col("c") * F.col("tok_one")).alias("tokens_total"),
        F.sum(F.col("kept") * F.col("tok_one")).alias("tokens_kept"),
        round_int_ratio(F.sum("kept"), F.sum("c")).alias("doc_retention"),
        round_int_ratio(
            F.sum(F.col("kept") * F.col("tok_one")),
            F.sum(F.col("c") * F.col("tok_one")),
        ).alias("token_retention"),
    )
