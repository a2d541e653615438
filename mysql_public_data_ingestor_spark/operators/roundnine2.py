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

``stats_mann_kendall_daily`` and
``events_peak_over_threshold_clusters`` live in
``operators/daily_*.py`` with the other daily-series queries.

``stats_anderson_darling_quantity`` and
``stats_jonckheere_terpstra_priority`` live in
``operators/stats_rank.py``; ``stats_bartlett_variance_priority`` and
``stats_partial_correlation_price`` live in
``operators/stats_models.py``; ``stats_cronbach_alpha_gates`` lives in
``operators/stats_tables.py``; ``stats_gumbel_daily_max_fit`` lives in
``operators/stats_dist.py`` with the other stats queries.

``events_sequential_patterns_topk`` lives in
``operators/events_sequence.py`` with the other events queries.

``ml_uplift_by_engagement_tier`` lives in ``operators/ml_models.py``;
``ml_precision_at_k_by_lang`` lives in ``operators/ml_ranking.py`` with
the other ml queries.
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
