"""Round-12 direct registrations, batch M (text corpus labeling).

Five window-slot completions, each oracle-paired, replica-pinned and
plan-barred in ``tests/test_roundtwelve8.py`` (same-commit gate rule).
Every name was checked against the full registry inventory before
design (the SCALE §5j.7 authoring rule):

* ``text_vmeasure_lang_source`` — homogeneity / completeness /
  V-measure between the language and source labelings (VERDICT r11's
  conditional-entropy suggestion beside the MI pair).
* ``text_msttr_segmental`` — mean segmental type-token ratio, the
  length-robust lexical-diversity member.

Reference parity note: the reference (Go ingestion pipeline,
``/root/reference/main.go``) has no analytics; these extend SURVEY
§2.C graph analytics / text analysis.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import dec38, halfup_div, sql_halfup_div
from ..registry import register
from ..tables import Tables


# ---------------------------------------------------------------------------
# 4. V-measure (homogeneity / completeness) between lang and source
# ---------------------------------------------------------------------------


def _vmeasure_oracle() -> str:
    from ..functions.detmath import sql_det_ln_steps

    hd = sql_halfup_div
    return f"""
    WITH ck AS (
      SELECT lang AS c, source AS k, CAST(count(*) AS BIGINT) AS n_ck
      FROM documents GROUP BY lang, source
    ), cc AS (
      SELECT c, CAST(sum(n_ck) AS BIGINT) AS n_c FROM ck GROUP BY c
    ), kk AS (
      SELECT k, CAST(sum(n_ck) AS BIGINT) AS n_k FROM ck GROUP BY k
    ), nn AS (SELECT CAST(sum(n_ck) AS BIGINT) AS n FROM ck),
    crat AS (
      SELECT c, n_c, CAST(nn.n AS DOUBLE) / CAST(n_c AS DOUBLE) AS rc FROM cc, nn
    ), {sql_det_ln_steps('crat', 'rc', 'lnc')},
    wc AS (
      SELECT CAST(sum(n_c::HUGEINT * lnc) AS HUGEINT) AS w_c FROM lnc_rel
    ), krat AS (
      SELECT k, n_k, CAST(nn.n AS DOUBLE) / CAST(n_k AS DOUBLE) AS rk FROM kk, nn
    ), {sql_det_ln_steps('krat', 'rk', 'lnk')},
    wk AS (
      SELECT CAST(sum(n_k::HUGEINT * lnk) AS HUGEINT) AS w_k FROM lnk_rel
    ), ckrat AS (
      SELECT ck.c, ck.k, ck.n_ck,
             CAST(kk.n_k AS DOUBLE) / CAST(ck.n_ck AS DOUBLE) AS rck,
             CAST(cc.n_c AS DOUBLE) / CAST(ck.n_ck AS DOUBLE) AS rkc
      FROM ck JOIN kk ON kk.k = ck.k JOIN cc ON cc.c = ck.c
    ), {sql_det_ln_steps('ckrat', 'rck', 'lnck')},
    {sql_det_ln_steps('lnck_rel', 'rkc', 'lnkc')},
    wx AS (
      SELECT CAST(sum(n_ck::HUGEINT * lnck) AS HUGEINT) AS w_ck,
             CAST(sum(n_ck::HUGEINT * lnkc) AS HUGEINT) AS w_kc
      FROM lnkc_rel
    ), hc AS (
      SELECT CASE WHEN wc.w_c > 0 THEN
               {hd('1000000::HUGEINT * (wc.w_c - wx.w_ck)', 'wc.w_c')} END AS h,
             CASE WHEN wk.w_k > 0 THEN
               {hd('1000000::HUGEINT * (wk.w_k - wx.w_kc)', 'wk.w_k')} END AS cm
      FROM wc, wk, wx
    )
    SELECT (SELECT CAST(n AS BIGINT) FROM nn) AS n_docs,
           (SELECT CAST(count(*) AS BIGINT) FROM cc) AS n_langs,
           (SELECT CAST(count(*) AS BIGINT) FROM kk) AS n_sources,
           CAST(h AS BIGINT) AS homogeneity_micro,
           CAST(cm AS BIGINT) AS completeness_micro,
           CASE WHEN h + cm > 0 THEN
             CAST({hd('2::HUGEINT * h * cm', 'h + cm')} AS BIGINT)
           END AS v_measure_micro
    FROM hc
    """


@register("text_vmeasure_lang_source", oracle=_vmeasure_oracle())
def text_vmeasure_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V-measure (Rosenberg & Hirschberg 2007) between the language
    and source labelings of the corpus: homogeneity h = 1 -
    H(lang|source)/H(lang), completeness c = 1 - H(source|lang)/
    H(source), V = their harmonic mean — the conditional-entropy
    companion VERDICT r11 suggested beside ``corpus_mi_lang_length``
    (MI says HOW MUCH the labelings share; h/c say in WHICH DIRECTION
    the dependency runs — do sources specialize in languages, do
    languages concentrate in sources — which is the first question a
    mixture-rebalancing pass asks).

    Exactness: all entropy masses accumulate as exact integer products
    n * det_ln(ratio) in micro-nats (the shared deterministic
    fixed-point ln, functions/detmath.py — N*H(C) = sum n_c ln(N/n_c),
    N*H(C|K) = sum n_ck ln(n_k/n_ck)); h and c are single half-up
    micro ratios of those masses (the common 1/N cancels), V is one
    more half-up ratio of h and c. NULL-guarded degenerate entropies.

    Scale shape: one documents scan partial-aggregating to the
    (lang x source) grid (domain-bounded); everything downstream is
    grid-bounded algebra.
    """
    from ..functions.detmath import det_ln_q

    t = Tables(spark, sf_dir)
    ck = t.documents.groupBy(
        F.col("lang").alias("c"), F.col("source").alias("k")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_ck"))
    cc = ck.groupBy("c").agg(F.sum("n_ck").cast("long").alias("n_c"))
    kk = ck.groupBy("k").agg(F.sum("n_ck").cast("long").alias("n_k"))
    nn = ck.agg(F.sum("n_ck").cast("long").alias("n"))
    wc = (
        cc.crossJoin(F.broadcast(nn))
        .select(
            (
                dec38(F.col("n_c"))
                * det_ln_q(F.col("n").cast("double") / F.col("n_c").cast("double"))
            ).alias("t")
        )
        .agg(F.sum("t").alias("w_c"))
    )
    wk = (
        kk.crossJoin(F.broadcast(nn))
        .select(
            (
                dec38(F.col("n_k"))
                * det_ln_q(F.col("n").cast("double") / F.col("n_k").cast("double"))
            ).alias("t")
        )
        .agg(F.sum("t").alias("w_k"))
    )
    wx = (
        ck.join(F.broadcast(kk), "k")
        .join(F.broadcast(cc), "c")
        .select(
            (
                dec38(F.col("n_ck"))
                * det_ln_q(F.col("n_k").cast("double") / F.col("n_ck").cast("double"))
            ).alias("tck"),
            (
                dec38(F.col("n_ck"))
                * det_ln_q(F.col("n_c").cast("double") / F.col("n_ck").cast("double"))
            ).alias("tkc"),
        )
        .agg(F.sum("tck").alias("w_ck"), F.sum("tkc").alias("w_kc"))
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    h = F.when(
        F.col("w_c") > 0,
        halfup_div(m6 * (F.col("w_c") - F.col("w_ck")), F.col("w_c")),
    )
    cm = F.when(
        F.col("w_k") > 0,
        halfup_div(m6 * (F.col("w_k") - F.col("w_kc")), F.col("w_k")),
    )
    counts = (
        nn.crossJoin(F.broadcast(cc.agg(F.count(F.lit(1)).cast("long").alias("n_langs"))))
        .crossJoin(F.broadcast(kk.agg(F.count(F.lit(1)).cast("long").alias("n_sources"))))
    )
    hc = (
        wc.crossJoin(F.broadcast(wk))
        .crossJoin(F.broadcast(wx))
        .select(h.alias("h"), cm.alias("cm"))
    )
    return counts.crossJoin(F.broadcast(hc)).select(
        F.col("n").alias("n_docs"),
        "n_langs",
        "n_sources",
        F.col("h").cast("long").alias("homogeneity_micro"),
        F.col("cm").cast("long").alias("completeness_micro"),
        F.when(
            F.col("h") + F.col("cm") > 0,
            halfup_div(
                F.lit(2).cast("decimal(38,0)") * F.col("h") * F.col("cm"),
                F.col("h") + F.col("cm"),
            ).cast("long"),
        ).alias("v_measure_micro"),
    )


# ---------------------------------------------------------------------------
# 5. Mean segmental type-token ratio (MSTTR)
# ---------------------------------------------------------------------------

MSTTR_SEG = 50  # tokens per segment (the Johnson 1944 convention)


def _msttr_oracle() -> str:
    hd = sql_halfup_div
    return f"""
    WITH toks AS (
      SELECT doc_id, lang,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')
               AS tk
      FROM documents
    ), pos AS (
      SELECT doc_id, lang,
             generate_subscripts(tk, 1) AS p, unnest(tk) AS tok,
             len(tk) AS n_tok
      FROM toks
    ), segtok AS (
      SELECT DISTINCT doc_id, lang, ((p - 1) // {MSTTR_SEG}) AS seg, tok
      FROM pos
      WHERE ((p - 1) // {MSTTR_SEG}) < (n_tok // {MSTTR_SEG})
    ), segtypes AS (
      SELECT doc_id, lang, seg, CAST(count(*) AS BIGINT) AS n_types
      FROM segtok GROUP BY doc_id, lang, seg
    ), bylang AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_segments,
             CAST(sum(n_types) AS HUGEINT) AS sum_types
      FROM segtypes GROUP BY lang
    )
    SELECT lang, n_segments,
           CAST({hd('1000000::HUGEINT * sum_types',
                    f'{MSTTR_SEG}::HUGEINT * n_segments')} AS BIGINT)
             AS msttr_micro
    FROM bylang ORDER BY lang
    """


@register("text_msttr_segmental", oracle=_msttr_oracle())
def text_msttr_segmental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean segmental type-token ratio (Johnson 1944): chop every
    document's token stream into complete {MSTTR_SEG}-token segments,
    take each segment's type/token ratio, and average per language.
    The LENGTH-ROBUST lexical-diversity member: raw TTR
    (``text_ttr_hapax_by_lang``) falls mechanically with document
    length and ``text_yule_k_richness`` prices repeat structure —
    MSTTR is the one that compares corpora with different length mixes
    on equal footing, which is what a data-mixing review needs.

    Exactness: segment ids are integer position arithmetic (complete
    segments only — the trailing fragment is dropped on both engines
    by the same floor test); per-segment type counts are exact
    DISTINCT counts; since every segment has exactly {MSTTR_SEG}
    tokens, the per-language mean is ONE half-up micro division
    sum_types / ({MSTTR_SEG} * n_segments).

    Scale shape: one documents scan; the explode keys by (doc,
    segment, token) and partial-aggregates before the per-language
    rollup — embarrassingly parallel, no joins, no windows.
    """
    from ..functions.textnorm import whitespace_tokens

    t = Tables(spark, sf_dir)
    toks = t.documents.select(
        "doc_id", "lang", whitespace_tokens(F.col("text")).alias("tk")
    ).select("doc_id", "lang", "tk", F.size("tk").alias("n_tok"))
    pos = toks.select(
        "doc_id",
        "lang",
        F.floor(F.col("n_tok") / MSTTR_SEG).alias("n_full"),
        F.posexplode("tk").alias("p0", "tok"),
    )
    segtok = (
        pos.select(
            "doc_id",
            "lang",
            F.floor(F.col("p0") / MSTTR_SEG).alias("seg"),
            "tok",
            "n_full",
        )
        .filter(F.col("seg") < F.col("n_full"))
        .select("doc_id", "lang", "seg", "tok")
        .distinct()
    )
    segtypes = segtok.groupBy("doc_id", "lang", "seg").agg(
        F.count(F.lit(1)).cast("long").alias("n_types")
    )
    bylang = segtypes.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_segments"),
        F.sum("n_types").alias("sum_types"),
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    return bylang.select(
        "lang",
        "n_segments",
        halfup_div(
            m6 * dec38(F.col("sum_types")),
            F.lit(MSTTR_SEG).cast("decimal(38,0)") * F.col("n_segments"),
        )
        .cast("long")
        .alias("msttr_micro"),
    ).orderBy("lang")
