"""Small trained models and agreement measures: a naive Bayes language
classifier, a decision stump and split-quality metrics, uplift by
engagement tier, Cohen's kappa (plain and weighted) between the
classifier and the gates, and permutation importance of the classifier
score.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import dec38, halfup_div, order_cents, sql_halfup_div
from ..registry import register
from ..tables import Tables
from .ml_scores import confusion_df, confusion_sql, scored_labeled, scored_labeled_sql
from .sketches import _P

# ---------------------------------------------------------------------------
# Naive Bayes language classifier (train + score + confusion)
# ---------------------------------------------------------------------------

NB_HASH_A, NB_HASH_B = 214_013, 2_531_011
NB_TEST_MOD = 5          # doc_id hash % 5 == 0 -> held-out test fold
NB_MAX_CHARS = 400       # per-doc char cap bounds the bigram fanout


def _nb_oracle() -> str:
    from ..functions.detmath import sql_det_ln_steps

    return f"""
    WITH docs AS (
      SELECT doc_id, lang,
             substr(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), 1,
                    {NB_MAX_CHARS}) AS norm,
             ((((doc_id % {_P}) * {NB_HASH_A} + {NB_HASH_B}) % {_P})
              % {NB_TEST_MOD} = 0) AS is_test
      FROM documents
    ), grams AS (
      SELECT doc_id, lang, is_test, substr(norm, CAST(i AS INTEGER), 2) AS bg
      FROM docs, unnest(generate_series(1, len(norm) - 1)) AS t(i)
      WHERE len(norm) >= 2
    ), model AS (
      SELECT lang, bg, CAST(count(*) AS BIGINT) AS c
      FROM grams WHERE NOT is_test GROUP BY lang, bg
    ), vocab AS (
      SELECT CAST(count(DISTINCT bg) AS BIGINT) AS v
      FROM grams WHERE NOT is_test
    ), lang_tot AS (
      SELECT m.lang, CAST(sum(m.c) AS BIGINT) AS t_l,
             CAST(sum(m.c) + v.v AS BIGINT) AS denom
      FROM model m CROSS JOIN vocab v GROUP BY m.lang, v.v
    ), prior_base AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS nl,
             CAST(sum(count(*)) OVER () AS BIGINT) AS ntr
      FROM docs WHERE NOT is_test GROUP BY lang
    ), modeld AS (
      SELECT m.lang, m.bg,
             (CAST(m.c AS DOUBLE) + 1.0) / CAST(lt.denom AS DOUBLE) AS pr
      FROM model m JOIN lang_tot lt USING (lang)
    ), {sql_det_ln_steps('modeld', 'pr', 'logp_q', 6)},
    langd AS (
      SELECT lt.lang, lt.denom,
             1.0 / CAST(lt.denom AS DOUBLE) AS pr0,
             CAST(pb.nl AS DOUBLE) / CAST(pb.ntr AS DOUBLE) AS prior
      FROM lang_tot lt JOIN prior_base pb USING (lang)
    ), {sql_det_ln_steps('langd', 'pr0', 'logp0_q', 6)},
    {sql_det_ln_steps('logp0_q_rel', 'prior', 'prior_q', 6)},
    test_grams AS (
      SELECT doc_id, lang AS true_lang, bg, CAST(count(*) AS BIGINT) AS cnt
      FROM grams WHERE is_test GROUP BY doc_id, lang, bg
    ), contrib AS (
      SELECT tg.doc_id, tg.true_lang, l.lang AS cand,
             CAST(sum(tg.cnt * coalesce(m.logp_q, l.logp0_q)) AS BIGINT) AS s
      FROM test_grams tg
      CROSS JOIN prior_q_rel l
      LEFT JOIN logp_q_rel m ON m.lang = l.lang AND m.bg = tg.bg
      GROUP BY tg.doc_id, tg.true_lang, l.lang
    ), test_docs AS (
      SELECT doc_id, lang AS true_lang FROM docs WHERE is_test
    ), scores AS (
      SELECT td.doc_id, td.true_lang, l.lang AS cand,
             l.prior_q + coalesce(c.s, 0) AS score
      FROM test_docs td
      CROSS JOIN prior_q_rel l
      LEFT JOIN contrib c ON c.doc_id = td.doc_id AND c.cand = l.lang
    ), pred AS (
      SELECT doc_id, true_lang, cand AS pred_lang,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, cand) AS rn
      FROM scores
    )
    SELECT true_lang, pred_lang, CAST(count(*) AS BIGINT) AS n_docs
    FROM pred WHERE rn = 1
    GROUP BY true_lang, pred_lang
    """


@register("ml_naive_bayes_langid", oracle=_nb_oracle())
def ml_naive_bayes_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial naive Bayes language identifier, trained AND
    evaluated in one declarative plan: character-bigram counts from a
    hash-held-out 80% train fold, Laplace-smoothed log-probabilities,
    argmax scoring of the 20% test fold, confusion matrix out — the
    classic "train a simple model inside the warehouse" pattern
    (complements ``text_lang_id``'s fixed heuristic with a LEARNED
    classifier, and ``stats_logistic_gd``'s regression with a
    generative model).

    Every log-probability is the deterministic fixed-point ln
    (functions/detmath.py) quantized to micro-nat int64 ON THE MODEL
    TABLE (|langs| x |bigrams|-bounded), so per-doc scores are exact
    integer dot products — bit-identical argmax on both engines.
    Scale: train counts partial-aggregate; scoring joins test bigrams
    to the broadcastable model; the per-doc fanout is |langs| (~5).
    """
    from ..functions.detmath import det_ln_q
    from ..functions.textnorm import normalized_text

    t = Tables(spark, sf_dir)
    h = ((F.col("doc_id") % _P) * NB_HASH_A + NB_HASH_B) % _P
    docs = t.documents.select(
        "doc_id",
        "lang",
        F.substring(normalized_text(F.col("text")), 1, NB_MAX_CHARS).alias("norm"),
        (h % NB_TEST_MOD == 0).alias("is_test"),
    )
    grams = docs.where(F.length("norm") >= 2).select(
        "doc_id",
        "lang",
        "is_test",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("norm") - 1),
                lambda i: F.col("norm").substr(i, F.lit(2)),
            )
        ).alias("bg"),
    )
    train = grams.where(~F.col("is_test"))
    model = train.groupBy("lang", "bg").agg(F.count(F.lit(1)).alias("c"))
    vocab = train.agg(F.countDistinct("bg").alias("v"))
    lang_tot = (
        model.groupBy("lang")
        .agg(F.sum("c").alias("t_l"))
        .crossJoin(F.broadcast(vocab))
        .select("lang", "t_l", (F.col("t_l") + F.col("v")).alias("denom"))
    )
    lang_counts = (
        docs.where(~F.col("is_test")).groupBy("lang").agg(F.count(F.lit(1)).alias("nl"))
    )
    # broadcast 1-row total, not a global window — keeps the registry
    # free of SinglePartition-fed Window stages (tests/test_plans.py)
    prior_base = lang_counts.crossJoin(
        F.broadcast(lang_counts.agg(F.sum("nl").alias("ntr")))
    )
    scored_model = model.join(lang_tot, "lang").select(
        "lang",
        "bg",
        det_ln_q(
            (F.col("c").cast("double") + F.lit(1.0)) / F.col("denom").cast("double"),
            6,
        ).alias("logp_q"),
    )
    lang_scores = lang_tot.join(prior_base, "lang").select(
        "lang",
        det_ln_q(F.lit(1.0) / F.col("denom").cast("double"), 6).alias("logp0_q"),
        det_ln_q(
            F.col("nl").cast("double") / F.col("ntr").cast("double"), 6
        ).alias("prior_q"),
    )
    test_grams = (
        grams.where(F.col("is_test"))
        .groupBy("doc_id", F.col("lang").alias("true_lang"), "bg")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    contrib = (
        test_grams.crossJoin(F.broadcast(lang_scores.select("lang", "logp0_q")))
        .join(
            F.broadcast(scored_model.withColumnRenamed("lang", "m_lang")),
            (F.col("m_lang") == F.col("lang")) & (scored_model.bg == test_grams.bg),
            "left",
        )
        .groupBy("doc_id", "true_lang", F.col("lang").alias("cand"))
        .agg(
            F.sum(
                F.col("cnt") * F.coalesce(F.col("logp_q"), F.col("logp0_q"))
            ).alias("s")
        )
    )
    test_docs = docs.where(F.col("is_test")).select(
        "doc_id", F.col("lang").alias("true_lang")
    )
    scores = (
        test_docs.crossJoin(F.broadcast(lang_scores.select("lang", "prior_q")))
        .join(
            contrib.withColumnRenamed("cand", "lang"),
            ["doc_id", "true_lang", "lang"],
            "left",
        )
        .select(
            "doc_id",
            "true_lang",
            F.col("lang").alias("cand"),
            (F.col("prior_q") + F.coalesce(F.col("s"), F.lit(0))).alias("score"),
        )
    )
    pred = scores.select(
        "*",
        F.row_number()
        .over(
            Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "cand")
        )
        .alias("rn"),
    ).where(F.col("rn") == 1)
    return pred.groupBy(
        "true_lang", F.col("cand").alias("pred_lang")
    ).agg(F.count(F.lit(1)).alias("n_docs"))


# ---------------------------------------------------------------------------
# Decision stump training (1-split tree by exact Gini scan)
# ---------------------------------------------------------------------------

STUMP_BIN_CENTS = 1_000_000  # $10,000 candidate-threshold bins


def _stump_oracle() -> str:
    return f"""
    WITH o AS (
      SELECT CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)
               // {STUMP_BIN_CENTS} AS bin,
             CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END AS label
      FROM orders
    ), binned AS (
      SELECT bin, CAST(count(*) AS BIGINT) AS n, CAST(sum(label) AS BIGINT) AS pos
      FROM o GROUP BY bin
    ), c AS (
      SELECT bin,
             sum(n) OVER (ORDER BY bin) AS nl,
             sum(pos) OVER (ORDER BY bin) AS posl,
             sum(n) OVER () AS nt, sum(pos) OVER () AS post
      FROM binned
    ), cand AS (
      SELECT bin, nl, posl, nl - posl AS negl,
             nt - nl AS nr, post - posl AS posr,
             (nt - nl) - (post - posl) AS negr, nt, post
      FROM c WHERE nl < nt
    ), scored AS (
      SELECT bin, nl, nr, nt, post, posl, negl, posr, negr,
             CAST(floor(
               ((CAST(nl AS DOUBLE) * nl - CAST(posl AS DOUBLE) * posl
                 - CAST(negl AS DOUBLE) * negl) / CAST(nl AS DOUBLE)
                + (CAST(nr AS DOUBLE) * nr - CAST(posr AS DOUBLE) * posr
                   - CAST(negr AS DOUBLE) * negr) / CAST(nr AS DOUBLE))
               * 1000000.0 + 0.5) AS BIGINT) AS g_q
      FROM cand
    ), best AS (
      SELECT *, row_number() OVER (ORDER BY g_q, bin) AS rn FROM scored
    )
    SELECT CAST((bin + 1) * {STUMP_BIN_CENTS} AS BIGINT) AS threshold_cents,
           CAST(nl AS BIGINT) AS n_left, CAST(nr AS BIGINT) AS n_right, g_q,
           CAST(((2000000::HUGEINT * (greatest(posl, negl) + greatest(posr, negr))
                  + nt) // (2::HUGEINT * nt)) AS BIGINT) / 1000000.0
             AS stump_accuracy
    FROM best WHERE rn = 1
    """


@register("ml_decision_stump", oracle=_stump_oracle())
def ml_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a one-split decision tree (stump) predicting urgent/high
    priority from order value, by exact Gini-impurity scan over binned
    thresholds — the "can the warehouse train the baseline model"
    primitive, and the building block of boosted trees and of feature
    split-finding in distributed GBDT (per-feature histogram -> prefix
    scan -> best split is exactly how LightGBM/XGBoost's histogram
    mode works at scale).

    Candidates are $10k bins, so the scan is histogram-sized no matter
    the corpus: one partial-aggregated groupBy, one ordered prefix
    window over the bins, and the weighted Gini (kept as the exact
    integer identity n - (pos^2 + neg^2)/n per side, evaluated in
    doubles from identical integers) ranks splits with a bin
    tie-break. Stump accuracy is an exact half-up ratio.
    """
    t = Tables(spark, sf_dir)
    o = t.orders.select(
        (
            order_cents()
            / F.lit(STUMP_BIN_CENTS)
        )
        .cast("long")
        .alias("bin"),
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
        )
        .otherwise(0)
        .alias("label"),
    )
    binned = o.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"), F.sum("label").alias("pos")
    )
    # The split scan runs as ARRAY algebra inside one final aggregate —
    # the bin histogram (domain-bounded, ~50 rows) collects into a
    # sorted struct array, prefix sums come from slice-folds per
    # candidate, and the argmin is array_min over (g_q, bin, ...)
    # structs. No global Window/Sort anywhere, so the registry-wide
    # "SinglePartition only feeds final aggregates" plan property
    # holds (tests/test_plans.py); the O(bins^2) fold is on the
    # histogram, never the data.
    row = binned.agg(
        F.sort_array(F.collect_list(F.struct("bin", "n", "pos"))).alias("arr")
    )
    arr = F.col("arr")
    zero = F.lit(0).cast("long")
    nt = F.aggregate(arr, zero, lambda a, x: a + x["n"])
    post = F.aggregate(arr, zero, lambda a, x: a + x["pos"])

    def prefix(field, i):
        return F.aggregate(
            F.slice(arr, F.lit(1), i + 1), zero, lambda a, x: a + x[field]
        )

    def cand_struct(x, i):
        nl = prefix("n", i)
        posl = prefix("pos", i)
        negl = nl - posl
        nr = nt - nl
        posr = post - posl
        negr = nr - posr
        dd = lambda c_: c_.cast("double")  # noqa: E731
        # the last element (nr = 0) is filtered out below, but ANSI
        # division must still be guarded during the transform
        g_q = F.when(
            nr > 0,
            F.floor(
                (
                    (dd(nl) * nl - dd(posl) * posl - dd(negl) * negl) / dd(nl)
                    + (dd(nr) * nr - dd(posr) * posr - dd(negr) * negr) / dd(nr)
                )
                * F.lit(1e6)
                + F.lit(0.5)
            ).cast("long"),
        ).otherwise(F.lit(2**62))
        return F.struct(
            g_q.alias("g_q"),
            x["bin"].alias("bin"),
            nl.alias("nl"),
            posl.alias("posl"),
            negl.alias("negl"),
            nr.alias("nr"),
            posr.alias("posr"),
            negr.alias("negr"),
        )

    cands = F.filter(
        F.transform(arr, cand_struct), lambda c_: c_["nl"] < nt
    )
    scored = row.select(F.array_min(cands).alias("b"), nt.alias("nt"))
    from ..functions.exact import round_big_int_ratio

    b = F.col("b")
    return scored.select(
        ((b["bin"] + 1) * STUMP_BIN_CENTS).cast("long").alias("threshold_cents"),
        b["nl"].alias("n_left"),
        b["nr"].alias("n_right"),
        b["g_q"].alias("g_q"),
        round_big_int_ratio(
            dec38(F.greatest(b["posl"], b["negl"])) + dec38(F.greatest(b["posr"], b["negr"])),
            dec38(F.col("nt")),
        ).alias("stump_accuracy"),
    )


# ---------------------------------------------------------------------------
# Split-quality metrics (weighted Gini, information gain)
# ---------------------------------------------------------------------------

SPLIT_THRESHOLDS = (10, 20, 40, 80, 160)  # candidate n_tokens cuts


def _split_quality_oracle() -> str:
    from ..functions.detmath import sql_det_ln_steps
    from .corpus import _SQL_TOKENS
    from .text import STOPWORDS

    stop_in = ", ".join(f"'{w}'" for w in STOPWORDS)
    th_values = ", ".join(f"({th})" for th in SPLIT_THRESHOLDS)
    return f"""
    WITH docs AS (
      SELECT len({_SQL_TOKENS}) AS n_tok,
             CASE WHEN len({_SQL_TOKENS}) >= 20
                   AND 5 * len(list_filter({_SQL_TOKENS},
                                           w -> w IN ({stop_in})))
                       <= 3 * len({_SQL_TOKENS})
                  THEN 1 ELSE 0 END AS label
      FROM documents
    ), th(threshold) AS (VALUES {th_values}),
    conf AS (
      SELECT th.threshold,
             CAST(sum(CASE WHEN n_tok <= th.threshold AND label = 1
                           THEN 1 ELSE 0 END) AS BIGINT) AS l1,
             CAST(sum(CASE WHEN n_tok <= th.threshold AND label = 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS l0,
             CAST(sum(CASE WHEN n_tok > th.threshold AND label = 1
                           THEN 1 ELSE 0 END) AS BIGINT) AS r1,
             CAST(sum(CASE WHEN n_tok > th.threshold AND label = 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS r0
      FROM docs CROSS JOIN th GROUP BY 1
    ), sides AS (
      SELECT threshold, 'L' AS side, l1 AS n1, l0 AS n0 FROM conf
      UNION ALL
      SELECT threshold, 'R', r1, r0 FROM conf
      UNION ALL
      SELECT threshold, 'P', l1 + r1, l0 + r0 FROM conf
    ), sn AS (
      SELECT *, n1 + n0 AS n FROM sides
    ), pr AS (
      SELECT *,
             CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE) AS p1,
             CAST(n0 AS DOUBLE) / CAST(n AS DOUBLE) AS p0
      FROM sn WHERE n > 0
    ), {sql_det_ln_steps('pr', 'p1', 'ln1', as_double=True)},
    {sql_det_ln_steps('ln1_rel', 'p0', 'ln0', as_double=True)},
    ent AS (
      SELECT threshold, side, n,
             CAST(floor(-(CASE WHEN n1 > 0 THEN p1 * ln1 ELSE 0.0 END
                          + CASE WHEN n0 > 0 THEN p0 * ln0 ELSE 0.0 END)
                        * 1000000000.0 + 0.5) AS BIGINT) AS h_q
      FROM ln0_rel
    ), wide AS (
      SELECT c.threshold, c.l1, c.l0, c.r1, c.r0,
             c.l1 + c.l0 AS n_l, c.r1 + c.r0 AS n_r,
             c.l1 + c.l0 + c.r1 + c.r0 AS big_n,
             coalesce(max(CASE WHEN e.side = 'L' THEN e.h_q END), 0) AS h_l,
             coalesce(max(CASE WHEN e.side = 'R' THEN e.h_q END), 0) AS h_r,
             max(CASE WHEN e.side = 'P' THEN e.h_q END) AS h_p
      FROM conf c JOIN ent e ON e.threshold = c.threshold
      GROUP BY 1, 2, 3, 4, 5
    )
    SELECT CAST(threshold AS BIGINT) AS threshold,
           CAST(n_l AS BIGINT) AS n_left, CAST(n_r AS BIGINT) AS n_right,
           CASE WHEN n_l = 0 OR n_r = 0 THEN
             CAST(((2000000::HUGEINT
                    * (big_n::HUGEINT * big_n
                       - ((l1+r1)::HUGEINT * (l1+r1) + (l0+r0)::HUGEINT * (l0+r0)))
                    + big_n::HUGEINT * big_n)
                   // (2::HUGEINT * big_n * big_n)) AS BIGINT) / 1000000.0
           ELSE
             CAST(((2000000::HUGEINT
                    * (n_r::HUGEINT * (n_l::HUGEINT * n_l
                                       - (l1::HUGEINT * l1 + l0::HUGEINT * l0))
                       + n_l::HUGEINT * (n_r::HUGEINT * n_r
                                       - (r1::HUGEINT * r1 + r0::HUGEINT * r0)))
                    + big_n::HUGEINT * n_l * n_r)
                   // (2::HUGEINT * big_n * n_l * n_r)) AS BIGINT) / 1000000.0
           END AS weighted_gini,
           (h_p - CAST(((2::HUGEINT
                         * (n_l::HUGEINT * h_l + n_r::HUGEINT * h_r)
                         + big_n) // (2::HUGEINT * big_n)) AS BIGINT))
             / 1000000000.0 AS info_gain_nats
    FROM wide
    ORDER BY threshold
    """


@register("ml_split_quality_metrics", oracle=_split_quality_oracle())
def ml_split_quality_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-tree split-quality scan: for each candidate token-count
    threshold, the weighted Gini impurity and the information gain of
    splitting the corpus against the rule-gate label — the metric pair
    behind ``ml_decision_stump``'s argmax, exposed as a full profile
    (the stump picks ONE split; this reports the whole candidate
    ladder so the choice is auditable).

    Exactness: the per-threshold confusion counts are one conditional
    aggregate; weighted Gini reduces to a single integer ratio
    [n_r(n_l^2 - s_l) + n_l(n_r^2 - s_r)] / (N n_l n_r) in
    decimal/HUGEINT; entropies use the deterministic fixed-point ln on
    correctly-rounded class fractions, quantized to 1e-9 per side, and
    the n_l/N-weighted mix is an exact integer half-up ratio. An empty
    side degrades to the parent Gini and zero gain by construction.

    Scale: one document scan (token counts + gate), a 5-row broadcast
    threshold cross, and 15 rows of scalar math. The label derivation
    matches ml_scores.scored_labeled's gate exactly (n >= 20 and stopword
    ratio <= 0.6), so θ=20 dominating the gain column is the expected
    self-consistency check.
    """
    from ..functions.detmath import det_ln_dbl
    from ..functions.exact import round_big_int_ratio
    from ..functions.textnorm import whitespace_tokens
    from .text import STOPWORDS

    t = Tables(spark, sf_dir)
    toks = F.col("toks")
    docs = t.documents.select(
        whitespace_tokens(F.col("text")).alias("toks")
    ).select(
        F.size(toks).cast("long").alias("n_tok"),
        F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS))).alias("n_stop"),
    ).select(
        "n_tok",
        F.when(
            (F.col("n_tok") >= 20) & (5 * F.col("n_stop") <= 3 * F.col("n_tok")),
            1,
        )
        .otherwise(0)
        .alias("label"),
    )
    th = spark.createDataFrame(
        [(int(x),) for x in SPLIT_THRESHOLDS], "threshold long"
    )
    left = F.col("n_tok") <= F.col("threshold")
    pos = F.col("label") == 1
    conf = (
        docs.crossJoin(F.broadcast(th))
        .groupBy("threshold")
        .agg(
            F.sum(F.when(left & pos, 1).otherwise(0)).alias("l1"),
            F.sum(F.when(left & ~pos, 1).otherwise(0)).alias("l0"),
            F.sum(F.when(~left & pos, 1).otherwise(0)).alias("r1"),
            F.sum(F.when(~left & ~pos, 1).otherwise(0)).alias("r0"),
        )
    )
    sides = conf.select(
        "threshold",
        F.explode(
            F.array(
                F.struct(
                    F.lit("L").alias("side"),
                    F.col("l1").alias("n1"),
                    F.col("l0").alias("n0"),
                ),
                F.struct(
                    F.lit("R").alias("side"),
                    F.col("r1").alias("n1"),
                    F.col("r0").alias("n0"),
                ),
                F.struct(
                    F.lit("P").alias("side"),
                    (F.col("l1") + F.col("r1")).alias("n1"),
                    (F.col("l0") + F.col("r0")).alias("n0"),
                ),
            )
        ).alias("s"),
    ).select(
        "threshold",
        F.col("s.side").alias("side"),
        F.col("s.n1").alias("n1"),
        F.col("s.n0").alias("n0"),
        (F.col("s.n1") + F.col("s.n0")).alias("n"),
    ).where(F.col("n") > 0)
    p1 = F.col("n1").cast("double") / F.col("n").cast("double")
    p0 = F.col("n0").cast("double") / F.col("n").cast("double")
    t1 = F.when(F.col("n1") > 0, p1 * det_ln_dbl(p1)).otherwise(F.lit(0.0))
    t0 = F.when(F.col("n0") > 0, p0 * det_ln_dbl(p0)).otherwise(F.lit(0.0))
    ent = sides.select(
        "threshold",
        "side",
        F.floor(-(t1 + t0) * F.lit(1_000_000_000.0) + F.lit(0.5))
        .cast("long")
        .alias("h_q"),
    )
    wide = (
        conf.join(ent, "threshold")
        .groupBy("threshold", "l1", "l0", "r1", "r0")
        .agg(
            F.coalesce(
                F.max(F.when(F.col("side") == "L", F.col("h_q"))), F.lit(0)
            ).alias("h_l"),
            F.coalesce(
                F.max(F.when(F.col("side") == "R", F.col("h_q"))), F.lit(0)
            ).alias("h_r"),
            F.max(F.when(F.col("side") == "P", F.col("h_q"))).alias("h_p"),
        )
    )
    l1, l0, r1, r0 = (F.col(x) for x in ("l1", "l0", "r1", "r0"))
    n_l, n_r = l1 + l0, r1 + r0
    big_n = n_l + n_r
    s_l = dec38(l1) * dec38(l1) + dec38(l0) * dec38(l0)
    s_r = dec38(r1) * dec38(r1) + dec38(r0) * dec38(r0)
    s_p = (dec38(l1 + r1) * dec38(l1 + r1)
           + dec38(l0 + r0) * dec38(l0 + r0))
    gini_split = round_big_int_ratio(
        dec38(n_r) * (dec38(n_l) * dec38(n_l) - s_l)
        + dec38(n_l) * (dec38(n_r) * dec38(n_r) - s_r),
        dec38(big_n) * dec38(n_l) * dec38(n_r),
    )
    gini_parent = round_big_int_ratio(
        dec38(big_n) * dec38(big_n) - s_p, dec38(big_n) * dec38(big_n)
    )
    # n/N-weighted entropy mix, half-up on the exact integer ratio
    wnum = dec38(n_l) * dec38(F.col("h_l")) + dec38(n_r) * dec38(F.col("h_r"))
    a = F.lit(2).cast("decimal(38,0)") * wnum + dec38(big_n)
    b = F.lit(2).cast("decimal(38,0)") * dec38(big_n)
    h_mix_q = ((a - a % b) / b).cast("long")
    return wide.select(
        "threshold",
        n_l.alias("n_left"),
        n_r.alias("n_right"),
        F.when((n_l == 0) | (n_r == 0), gini_parent)
        .otherwise(gini_split)
        .alias("weighted_gini"),
        ((F.col("h_p") - h_mix_q) / F.lit(1_000_000_000.0)).alias(
            "info_gain_nats"
        ),
    ).orderBy("threshold")


# ---------------------------------------------------------------------------
# Uplift (treatment - control conversion) by engagement tier
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
# Cohen's kappa between the classifier and the rule gate
# ---------------------------------------------------------------------------


def _kappa_oracle() -> str:
    return (
        scored_labeled_sql()
        + ", "
        + confusion_sql()
        + """
    SELECT lang, CAST(n AS BIGINT) AS n_docs,
           CAST(tp + tn AS BIGINT) AS n_agree,
           CASE WHEN n::HUGEINT * n
                     = (tp+fp)::HUGEINT * (tp+fn) + (fn+tn)::HUGEINT * (fp+tn)
                THEN 0.0
                ELSE CAST(CASE WHEN
                    (n::HUGEINT * (tp+tn)
                     - ((tp+fp)::HUGEINT * (tp+fn) + (fn+tn)::HUGEINT * (fp+tn))) < 0
                  THEN -((2000000::HUGEINT * abs(n::HUGEINT * (tp+tn)
                           - ((tp+fp)::HUGEINT * (tp+fn) + (fn+tn)::HUGEINT * (fp+tn)))
                          + (n::HUGEINT * n
                             - ((tp+fp)::HUGEINT * (tp+fn) + (fn+tn)::HUGEINT * (fp+tn))))
                         // (2::HUGEINT * (n::HUGEINT * n
                             - ((tp+fp)::HUGEINT * (tp+fn) + (fn+tn)::HUGEINT * (fp+tn)))))
                  ELSE ((2000000::HUGEINT * (n::HUGEINT * (tp+tn)
                           - ((tp+fp)::HUGEINT * (tp+fn) + (fn+tn)::HUGEINT * (fp+tn)))
                          + (n::HUGEINT * n
                             - ((tp+fp)::HUGEINT * (tp+fn) + (fn+tn)::HUGEINT * (fp+tn))))
                         // (2::HUGEINT * (n::HUGEINT * n
                             - ((tp+fp)::HUGEINT * (tp+fn) + (fn+tn)::HUGEINT * (fp+tn)))))
                  END AS BIGINT) / 1000000.0
           END AS kappa
    FROM conf ORDER BY lang
    """
    )


@register("ml_cohens_kappa_gates", oracle=_kappa_oracle())
def ml_cohens_kappa_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa agreement between the learned classifier (at the
    softsign midpoint) and the rule-based quality gate, per language —
    chance-corrected agreement between two annotators, the standard
    check before swapping a rule gate for a model gate in a corpus
    pipeline (raw agreement inflates when both raters mostly say
    "keep").

    Exactness: kappa = (N*agree - sum(r_i*c_i)) / (N^2 - sum(r_i*c_i))
    is a pure integer ratio of confusion-margin products — one
    decimal-domain half-up quantization, zero floats until the final
    scale-down. The chance-only denominator-zero case defines
    kappa = 0 on both engines.

    Scale: shared classifier scan + |langs|-row reduce.
    """
    from ..functions.exact import round_big_int_ratio

    t = Tables(spark, sf_dir)
    c = confusion_df(t)
    tp, fp, tn, fn, n = (F.col(x) for x in ("tp", "fp", "tn", "fn", "n"))
    pe = dec38(tp + fp) * dec38(tp + fn) + dec38(fn + tn) * dec38(fp + tn)
    num = dec38(n) * dec38(tp + tn) - pe
    den = dec38(n) * dec38(n) - pe
    kappa = F.when(den == F.lit(0).cast("decimal(38,0)"), F.lit(0.0)).otherwise(
        round_big_int_ratio(num, den)
    )
    return c.select(
        "lang",
        n.alias("n_docs"),
        (tp + tn).alias("n_agree"),
        kappa.alias("kappa"),
    ).orderBy("lang")


# ---------------------------------------------------------------------------
# Weighted Cohen kappa between score band and length band
# ---------------------------------------------------------------------------

KAPPA_BANDS = 4


def _wkappa_oracle() -> str:
    hd = sql_halfup_div
    b = KAPPA_BANDS
    return (
        scored_labeled_sql()
        + f"""
    , lab AS (
      SELECT least(s.score_q // {10000 // b}, {b - 1}) AS i,
             least(d.n_chars // 1000, {b - 1}) AS j
      FROM scored s JOIN documents d ON d.doc_id = s.doc_id
    ), cells AS (
      SELECT i, j, CAST(count(*) AS HUGEINT) AS n FROM lab GROUP BY i, j
    ), marg AS (
      SELECT CAST(sum(n) AS HUGEINT) AS m,
             CAST(sum(CASE WHEN i = j THEN n ELSE 0 END) AS HUGEINT) AS diag
      FROM cells
    ), ri AS (SELECT i, CAST(sum(n) AS HUGEINT) AS r FROM cells GROUP BY i),
    cj AS (SELECT j, CAST(sum(n) AS HUGEINT) AS c FROM cells GROUP BY j),
    sums AS (
      SELECT
        (SELECT sum(abs(a.i - b.j) * a.r * b.c) FROM ri a, cj b) AS el,
        (SELECT sum((a.i - b.j) * (a.i - b.j) * a.r * b.c) FROM ri a, cj b)
          AS eq,
        (SELECT sum(abs(i - j) * n) FROM cells) AS ol,
        (SELECT sum((i - j) * (i - j) * n) FROM cells) AS oq,
        m.m, m.diag
      FROM marg m
    )
    SELECT CAST(m AS BIGINT) AS n_docs,
           CAST({hd('1000000::HUGEINT * diag', 'm')} AS BIGINT)
             AS diag_share_micro,
           CASE WHEN el > 0 THEN
             CAST(1000000 - {hd('1000000::HUGEINT * ol * m', 'el')} AS BIGINT)
           END AS kappa_linear_micro,
           CASE WHEN eq > 0 THEN
             CAST(1000000 - {hd('1000000::HUGEINT * oq * m', 'eq')} AS BIGINT)
           END AS kappa_quadratic_micro
    FROM sums
    """
    )


@register("ml_weighted_kappa_bands", oracle=_wkappa_oracle())
def ml_weighted_kappa_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted Cohen's kappa (Cohen 1968) between two ORDINAL
    labelings of the corpus — the classifier score band (4 quartile
    cutpoints) and the document length band — with both linear
    |i - j| and quadratic (i - j)^2 disagreement weights: kappa_w =
    1 - sum(w O) / sum(w E). ``ml_cohens_kappa_gates`` covers the
    binary case where weighting is vacuous; the weighted form is what
    ordinal raters need (near-misses cost less than gross
    disagreements — quadratic kappa is the competition-standard
    agreement metric for graded labels).

    Exactness: contingency cells and both margin products are exact
    integers (the expected-disagreement sums run over the 4x4 margin
    cross, not over rows); each kappa is 1e6 minus ONE half-up micro
    division, NULL-guarded for degenerate margins.

    Scale shape: one scored scan joined to the documents dimension on
    doc_id (co-keyed equi-join), partial-aggregated to <= 16 cells;
    everything downstream is 4x4 algebra.
    """
    b = KAPPA_BANDS
    t = Tables(spark, sf_dir)
    nchars = t.documents.select("doc_id", "n_chars")
    lab = (
        scored_labeled(t)
        .join(nchars, "doc_id")
        .select(
            F.least(F.floor(F.col("score_q") / (10000 // b)), F.lit(b - 1))
            .cast("long")
            .alias("i"),
            F.least(F.floor(F.col("n_chars") / 1000), F.lit(b - 1))
            .cast("long")
            .alias("j"),
        )
    )
    cells = lab.groupBy("i", "j").agg(dec38(F.count(F.lit(1))).alias("n"))
    marg = cells.agg(
        F.sum("n").alias("m"),
        F.sum(
            F.when(F.col("i") == F.col("j"), F.col("n")).otherwise(
                F.lit(0).cast("decimal(38,0)")
            )
        ).alias("diag"),
    )
    ri = cells.groupBy("i").agg(F.sum("n").alias("r"))
    cj = cells.groupBy("j").agg(F.sum("n").alias("c"))
    ex = ri.crossJoin(F.broadcast(cj)).agg(
        F.sum(F.abs(F.col("i") - F.col("j")) * F.col("r") * F.col("c")).alias("el"),
        F.sum(
            (F.col("i") - F.col("j")) * (F.col("i") - F.col("j")) * F.col("r") * F.col("c")
        ).alias("eq"),
    )
    ob = cells.agg(
        F.sum(F.abs(F.col("i") - F.col("j")) * F.col("n")).alias("ol"),
        F.sum(
            (F.col("i") - F.col("j")) * (F.col("i") - F.col("j")) * F.col("n")
        ).alias("oq"),
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    return (
        marg.crossJoin(F.broadcast(ex))
        .crossJoin(F.broadcast(ob))
        .select(
            F.col("m").cast("long").alias("n_docs"),
            halfup_div(m6 * F.col("diag"), F.col("m")).cast("long").alias(
                "diag_share_micro"
            ),
            F.when(
                F.col("el") > 0,
                (
                    F.lit(1_000_000)
                    - halfup_div(m6 * F.col("ol") * F.col("m"), F.col("el"))
                ).cast("long"),
            ).alias("kappa_linear_micro"),
            F.when(
                F.col("eq") > 0,
                (
                    F.lit(1_000_000)
                    - halfup_div(m6 * F.col("oq") * F.col("m"), F.col("eq"))
                ).cast("long"),
            ).alias("kappa_quadratic_micro"),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic permutation importance of the classifier score
# ---------------------------------------------------------------------------

PERM_BUCKETS = 256  # derangement buckets (partitioned windows only)


def _perm_importance_oracle() -> str:
    from ..functions.exact import sql_round_big_int_ratio

    def auc_cte(rel: str, score: str, out: str) -> str:
        # mid-rank Mann-Whitney identity off the score-bin cumulative:
        # 2*R1 = sum over bins n1b * (2*below + nb + 1);
        # AUC = (2R1 - n1(n1+1)) / (2 n1 n0)
        return f"""
    {out}_bins AS (
      SELECT {score} AS s, CAST(count(*) AS HUGEINT) AS nb,
             CAST(sum(label) AS HUGEINT) AS n1b
      FROM {rel} GROUP BY {score}
    ), {out}_cum AS (
      SELECT a.s, a.nb, a.n1b,
             CAST(coalesce(sum(b.nb), 0) AS HUGEINT) AS below
      FROM {out}_bins a LEFT JOIN {out}_bins b ON b.s < a.s
      GROUP BY a.s, a.nb, a.n1b
    ), {out}_t AS (
      SELECT CAST(sum(n1b * (2 * below + nb + 1)) AS HUGEINT) AS r1x2,
             CAST(sum(n1b) AS HUGEINT) AS n1,
             CAST(sum(nb - n1b) AS HUGEINT) AS n0
      FROM {out}_cum
    )"""

    return (
        scored_labeled_sql()
        + f"""
    , bucketed AS (
      SELECT doc_id, score_q, label,
             ('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
               % {PERM_BUCKETS} AS bkt
      FROM scored
    ), base AS (
      SELECT bkt, score_q, label,
             row_number() OVER (PARTITION BY bkt ORDER BY doc_id) AS rid
      FROM bucketed
    ), perm_s AS (
      SELECT bkt,
             row_number() OVER (
               PARTITION BY bkt
               ORDER BY ('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
                        doc_id) AS rid,
             score_q AS perm_score
      FROM bucketed
    ), perm AS (
      SELECT b.label, p.perm_score
      FROM base b JOIN perm_s p ON p.bkt = b.bkt AND p.rid = b.rid
    ), {auc_cte('base', 'score_q', 'o')}, {auc_cte('perm', 'perm_score', 'p')}
    SELECT CAST(o_t.n1 AS BIGINT) AS n_pos, CAST(o_t.n0 AS BIGINT) AS n_neg,
           {sql_round_big_int_ratio(
               'o_t.r1x2 - o_t.n1 * (o_t.n1 + 1)', '2 * o_t.n1 * o_t.n0')} AS auc,
           {sql_round_big_int_ratio(
               'p_t.r1x2 - p_t.n1 * (p_t.n1 + 1)', '2 * p_t.n1 * p_t.n0')} AS auc_permuted,
           {sql_round_big_int_ratio(
               '(o_t.r1x2 - o_t.n1 * (o_t.n1 + 1)) - (p_t.r1x2 - p_t.n1 * (p_t.n1 + 1))',
               '2 * o_t.n1 * o_t.n0')} AS importance
    FROM o_t, p_t
    """
    )


@register("ml_permutation_importance_score", _perm_importance_oracle())
def ml_permutation_importance_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMUTATION IMPORTANCE of the quality-classifier score against
    the rule-gate label: mid-rank Mann-Whitney AUC on the true
    (score, label) pairing minus the AUC after a DETERMINISTIC
    derangement — scores re-paired to documents inside each of
    {PERM_BUCKETS} sha-derived buckets by (sha order vs doc_id order),
    the reproducible stand-in for a random shuffle that preserves the
    score marginal exactly. A small drop says the apparent AUC is a
    pairing artifact, not score skill.

    Exactness: AUC via the MID-RANK identity computed from the
    score-bin cumulative — 2*R1 = sum over bins n1b (2 below + nb + 1),
    AUC = (2R1 - n1(n1+1))/(2 n1 n0) — all exact integers in both
    engines (mid-ranks absorb the tie correction; no per-row ranks).

    Scale shape: score bins are bounded (score_q has <= 10001 values),
    so the rank algebra runs on the bin table via a broadcast non-equi
    cumulative; the derangement uses PARTITIONED windows only (256
    hash buckets — never a global row_number), and the re-pairing is a
    (bucket, rid) equi-join.
    """
    from ..functions.exact import round_big_int_ratio
    from ..functions.textnorm import sha256_prefix_i64

    t = Tables(spark, sf_dir)
    scored = scored_labeled(t).select("doc_id", "score_q", "label")
    # localCheckpoint: the derangement (base + perm_s) and both AUC
    # branches would otherwise re-run the sha-heavy scored scan (the
    # decontaminate-op convention)
    bucketed = (
        scored.withColumn("hv", sha256_prefix_i64(F.col("doc_id").cast("string")))
        .withColumn("bkt", F.col("hv") % PERM_BUCKETS)
        .localCheckpoint(eager=False)
    )
    w_id = Window.partitionBy("bkt").orderBy("doc_id")
    w_sha = Window.partitionBy("bkt").orderBy("hv", "doc_id")
    base = bucketed.select(
        "bkt", "score_q", "label", F.row_number().over(w_id).alias("rid")
    )
    perm_s = bucketed.select(
        "bkt",
        F.row_number().over(w_sha).alias("rid"),
        F.col("score_q").alias("perm_score"),
    )
    perm = base.select("bkt", "rid", "label").join(perm_s, ["bkt", "rid"])

    def auc_terms(df, score_col):
        bins = df.groupBy(F.col(score_col).alias("s")).agg(
            dec38(F.count(F.lit(1))).alias("nb"),
            dec38(F.sum("label")).alias("n1b"),
        )
        b2 = bins.select(F.col("s").alias("s2"), F.col("nb").alias("nb2"))
        cum = (
            bins.join(F.broadcast(b2), F.col("s2") < F.col("s"), "left")
            .groupBy("s", "nb", "n1b")
            .agg(
                F.coalesce(F.sum("nb2"), F.lit(0).cast("decimal(38,0)")).alias(
                    "below"
                )
            )
        )
        return cum.agg(
            F.sum(
                F.col("n1b") * (2 * F.col("below") + F.col("nb") + 1)
            ).alias("r1x2"),
            F.sum("n1b").alias("n1"),
            F.sum(F.col("nb") - F.col("n1b")).alias("n0"),
        )

    o = auc_terms(base, "score_q")
    p = auc_terms(perm, "perm_score").select(
        F.col("r1x2").alias("pr1x2"),
        F.col("n1").alias("pn1"),
        F.col("n0").alias("pn0"),
    )
    j = o.crossJoin(F.broadcast(p))
    num_o = F.col("r1x2") - F.col("n1") * (F.col("n1") + 1)
    num_p = F.col("pr1x2") - F.col("pn1") * (F.col("pn1") + 1)
    den = 2 * F.col("n1") * F.col("n0")
    return j.select(
        F.col("n1").cast("long").alias("n_pos"),
        F.col("n0").cast("long").alias("n_neg"),
        round_big_int_ratio(num_o, den).alias("auc"),
        round_big_int_ratio(num_p, 2 * F.col("pn1") * F.col("pn0")).alias(
            "auc_permuted"
        ),
        round_big_int_ratio(num_o - num_p, den).alias("importance"),
    )
