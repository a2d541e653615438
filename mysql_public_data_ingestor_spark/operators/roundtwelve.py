"""Round-12 operator batch F.

Gates: raw-frame oracle parity, plan bars and Python replicas with
float anchors in ``tests/test_roundtwelve.py``; SCALE.md §5j.6
records the ×10 ladder.

Batch theme — scale-curve and audit completions: spectral entropy of
the fixed-period periodogram, the Fano-factor burstiness curve across
window widths, a punctuation-profile chi-square between sources,
deterministic permutation importance
for the classifier score, and a bottom-k sketch mergeability audit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import dec38, halfup_div, sql_halfup_div
from ..registry import register
from ..tables import Tables

# ---------------------------------------------------------------------------
# 1. Spectral entropy over the fixed-period periodogram shares
# ---------------------------------------------------------------------------


def _spectral_oracle() -> str:
    from ..functions.detmath import sql_det_ln_steps
    from .roundeleven import PGRAM_COSQ, PGRAM_PERIODS, PGRAM_SINQ

    per_p = []
    for p in PGRAM_PERIODS:
        cosl = ", ".join(str(v) for v in PGRAM_COSQ[p])
        sinl = ", ".join(str(v) for v in PGRAM_SINQ[p])
        per_p.append(
            f"""
      SELECT {p}::BIGINT AS period,
             CAST(sum(z * ([{cosl}])[((k - 1) % {p}) + 1]) AS HUGEINT) AS sc,
             CAST(sum(z * ([{sinl}])[((k - 1) % {p}) + 1]) AS HUGEINT) AS ss
      FROM cent"""
        )
    unions = " UNION ALL ".join(per_p)
    hd = sql_halfup_div
    return f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day, CAST(count(*) AS BIGINT) AS y
      FROM orders GROUP BY 1
    ), idx AS (
      SELECT a.day, a.y, CAST(count(*) AS BIGINT) AS k
      FROM daily a JOIN daily b ON b.day <= a.day
      GROUP BY a.day, a.y
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS s
      FROM idx
    ), cent AS (
      SELECT i.k, (t.n * i.y - t.s) AS z FROM idx i, tot t
    ), vecs AS ({unions}),
    pw AS (
      SELECT period, (sc * sc + ss * ss) AS p FROM vecs
    ), tp AS (SELECT CAST(sum(p) AS HUGEINT) AS tpw FROM pw),
    shares AS (
      SELECT period, CAST({hd('1000000::HUGEINT * p', 'tp.tpw')} AS BIGINT) AS share_micro
      FROM pw, tp WHERE tp.tpw > 0
    ), sh2 AS (SELECT period, share_micro FROM shares WHERE share_micro > 0),
    {sql_det_ln_steps('sh2', 'share_micro', 'lns')},
    ent AS (
      -- H = -sum p ln p = sum p (ln 1e6 - ln(share_micro)) with p = share/1e6
      SELECT CAST(sum(share_micro * (13815511 - lns)) AS HUGEINT) AS hraw
      FROM lns_rel
    )
    SELECT s.period, s.share_micro,
           -- hraw is share_micro * ln_micro = 1e12 * (p ln p); micro
           -- output divides by 1e6 ONLY (the dow-hour cancel trap)
           CAST({hd('e.hraw', '1000000::HUGEINT')} AS BIGINT)
             AS spectral_entropy_micro
    FROM shares s, ent e ORDER BY s.period
    """


@register("events_spectral_entropy_periods", _spectral_oracle())
def events_spectral_entropy_periods(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral ENTROPY of the fixed-period periodogram: normalize the
    (7, 30, 91)-day spectral powers of the daily order-count series to
    shares, then H = -sum p ln p — the scalar "is the calendar signal
    concentrated in one period or smeared" companion of
    ``events_periodogram_fixed_periods`` (which reports the shares;
    low entropy = one dominant cycle worth a seasonal model, high =
    no single period explains the variance). Reuses the periodogram's
    quantized trig tables verbatim (the shared-derivation rule).

    Exactness: powers sc^2+ss^2 are exact integers; shares half-up
    micro-quantize against the total; ln terms are the shared
    deterministic fixed-point ln of the micro shares (ln p = ln
    share_micro - ln 1e6, with ln 1e6 the fixed 13815511 micro
    literal), so H accumulates as exact integer products.
    """
    from ..functions.detmath import det_ln_q
    from .roundeleven import PGRAM_COSQ, PGRAM_PERIODS, PGRAM_SINQ

    t = Tables(spark, sf_dir)
    daily = t.orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("y")
    )
    b0 = daily.select(F.col("day").alias("day_b"))
    idx = (
        daily.join(F.broadcast(b0), F.col("day_b") <= F.col("day"))
        .groupBy("day", "y")
        .agg(F.count(F.lit(1)).cast("long").alias("k"))
    )
    tot = idx.agg(
        dec38(F.count(F.lit(1))).alias("n"), dec38(F.sum("y")).alias("s")
    )
    cent = idx.crossJoin(F.broadcast(tot)).select(
        "k", (F.col("n") * F.col("y") - F.col("s")).alias("z")
    )
    vecs = None
    for p in PGRAM_PERIODS:
        cosv = F.array(*[F.lit(v) for v in PGRAM_COSQ[p]])
        sinv = F.array(*[F.lit(v) for v in PGRAM_SINQ[p]])
        part = cent.select(
            F.lit(p).cast("long").alias("period"),
            (F.col("z") * F.element_at(cosv, ((F.col("k") - 1) % p + 1).cast("int")).cast("decimal(38,0)")).alias("zc"),
            (F.col("z") * F.element_at(sinv, ((F.col("k") - 1) % p + 1).cast("int")).cast("decimal(38,0)")).alias("zs"),
        ).groupBy("period").agg(F.sum("zc").alias("sc"), F.sum("zs").alias("ss"))
        vecs = part if vecs is None else vecs.unionAll(part)
    pw = vecs.select(
        "period", (F.col("sc") * F.col("sc") + F.col("ss") * F.col("ss")).alias("p")
    )
    tp = pw.agg(F.sum("p").alias("tpw"))
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    shares = (
        pw.crossJoin(F.broadcast(tp))
        .filter(F.col("tpw") > 0)
        .select(
            "period",
            halfup_div(m6 * F.col("p"), F.col("tpw")).cast("long").alias("share_micro"),
        )
    )
    LN_1E6_MICRO = 13_815_511  # det-ln(1e6) micro literal, shared
    ent = shares.filter(F.col("share_micro") > 0).select(
        (
            dec38(F.col("share_micro"))
            * (F.lit(LN_1E6_MICRO).cast("decimal(38,0)") - det_ln_q(F.col("share_micro")))
        ).alias("hterm")
    ).agg(F.sum("hterm").alias("hraw"))
    return (
        shares.crossJoin(F.broadcast(ent))
        .select(
            "period",
            "share_micro",
            halfup_div(F.col("hraw"), F.lit(10**6).cast("decimal(38,0)"))
            .cast("long")
            .alias("spectral_entropy_micro"),
        )
        .orderBy("period")
    )


# ---------------------------------------------------------------------------
# 2. Fano-factor burstiness curve across window widths
# ---------------------------------------------------------------------------

FANO_WINDOWS_H = (1, 6, 24, 168)


def _fano_oracle() -> str:
    hd = sql_halfup_div
    per_w = []
    for w in FANO_WINDOWS_H:
        per_w.append(
            f"""
      SELECT {w}::BIGINT AS window_h, bucket, CAST(count(*) AS HUGEINT) AS c
      FROM (SELECT epoch_us(ts) // {w * 3600 * 1000000} AS bucket FROM events)
      GROUP BY bucket"""
        )
    unions = " UNION ALL ".join(per_w)
    return f"""
    WITH cells AS ({unions}),
    s AS (
      SELECT window_h, CAST(count(*) AS HUGEINT) AS m,
             CAST(sum(c) AS HUGEINT) AS sc,
             CAST(sum(c * c) AS HUGEINT) AS scc
      FROM cells GROUP BY window_h
    )
    SELECT window_h, CAST(m AS BIGINT) AS n_buckets,
           CAST(sc AS BIGINT) AS n_events,
           CASE WHEN m > 1 AND sc > 0 THEN
             CAST({hd('1000000::HUGEINT * (m * scc - sc * sc)',
                      '(m - 1) * sc')} AS BIGINT)
           END AS fano_micro
    FROM s ORDER BY window_h
    """


@register("events_fano_factor_curve", _fano_oracle())
def events_fano_factor_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fano factor (variance-to-mean of bucket counts) of the event
    stream across window widths 1h/6h/24h/168h — the SCALE-CURVE form
    of burstiness: a Poisson process holds F = 1 at every width, while
    clustered arrivals push F up with widening windows, and the slope
    of the curve is the standard long-range-dependence fingerprint
    (complements ``events_interarrival_burstiness``, one number at the
    gap level, and ``stats_overdispersion_vmr``, one width).

    Exactness: occupied-bucket counts only (structural-zero policy
    shared with the burstiness op, documented there); F = (m sum c^2 -
    (sum c)^2) * m / (m^2 (m-1) sum c) is one half-up micro ratio of
    exact integers per width — sample variance over mean with the
    common denominators multiplied through.

    Scale shape: one scan per width fans out from a static 4-way
    union of row-local bucket projections, each partial-aggregating
    to its bucket table; nothing downstream exceeds bucket counts.
    """
    t = Tables(spark, sf_dir)
    cells = None
    for w in FANO_WINDOWS_H:
        part = (
            t.events.select(
                F.expr(f"unix_micros(ts) div {w * 3600 * 1000000}").alias("bucket")
            )
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("c"))
            .select(F.lit(w).cast("long").alias("window_h"), "bucket", "c")
        )
        cells = part if cells is None else cells.unionAll(part)
    s = cells.groupBy("window_h").agg(
        dec38(F.count(F.lit(1))).alias("m"),
        dec38(F.sum("c")).alias("sc"),
        F.sum(dec38(F.col("c")) * F.col("c")).alias("scc"),
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    return s.select(
        "window_h",
        F.col("m").cast("long").alias("n_buckets"),
        F.col("sc").cast("long").alias("n_events"),
        F.when(
            (F.col("m") > 1) & (F.col("sc") > 0),
            # F = var/mean = (m scc - sc^2) / ((m-1) sc): an earlier
            # draft carried an extra m on both sides (F/m, parity green
            # — the twin-sided class); the replica's float var/mean
            # anchor caught it, the FOURTH such catch this round
            halfup_div(
                m6 * (F.col("m") * F.col("scc") - F.col("sc") * F.col("sc")),
                (F.col("m") - 1) * F.col("sc"),
            ),
        )
        .cast("long")
        .alias("fano_micro"),
    ).orderBy("window_h")


# ---------------------------------------------------------------------------
# 3. Punctuation-profile chi-square between sources
# ---------------------------------------------------------------------------

PUNCT_CLASSES = (".", ",", "!", "?", ";", ":")


def _punct_oracle() -> str:
    hd = sql_halfup_div
    per_c = []
    for i, ch in enumerate(PUNCT_CLASSES):
        esc = ch
        per_c.append(
            f"SELECT source, {i}::BIGINT AS cls,"
            f" CAST(sum(len(text) - len(replace(text, '{esc}', ''))) AS HUGEINT) AS o"
            f" FROM documents GROUP BY source"
        )
    unions = " UNION ALL ".join(per_c)
    return f"""
    WITH cells0 AS ({unions}),
    cells AS (SELECT source, cls, o FROM cells0 WHERE o > 0),
    rows_m AS (SELECT source, CAST(sum(o) AS HUGEINT) AS r FROM cells GROUP BY source),
    cols_m AS (SELECT cls, CAST(sum(o) AS HUGEINT) AS c FROM cells GROUP BY cls),
    nn AS (SELECT CAST(sum(o) AS HUGEINT) AS n FROM cells)
    SELECT ce.source, ce.cls, CAST(ce.o AS BIGINT) AS n_marks,
           CAST({hd('1000000::HUGEINT * (n.n * ce.o - rm.r * cm.c)'
                    ' * (n.n * ce.o - rm.r * cm.c)',
                    'n.n * rm.r * cm.c')} AS BIGINT) AS chi2_contrib_micro
    FROM cells ce
    JOIN rows_m rm ON rm.source = ce.source
    JOIN cols_m cm ON cm.cls = ce.cls, nn n
    ORDER BY ce.source, ce.cls
    """


@register("text_punct_profile_chi2_by_source", _punct_oracle())
def text_punct_profile_chi2_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Punctuation-profile chi-square across sources: the distribution
    of {'.', ',', '!', '?', ';', ':'} marks per source against the
    independence expectation — the cheapest stylometric drift signal
    there is (punctuation rates survive topic shift but not
    source/generator change), complementing the token-level
    ``text_char_trigram_profile`` and ``text_unigram_js_lang_pairs``
    at ~1/100 the feature width.

    Exactness: mark counts are length-difference integers (no regex);
    each occupied cell's (No - rc)^2/(Nrc) is one half-up 1e-6
    division (the dow x hour convention — and the same 1e6-cancel trap
    documented there, avoided by construction here).

    Scale shape: one scan per class from a static 6-way union of
    row-local projections, partial-aggregated to |sources| x 6 cells.
    """
    t = Tables(spark, sf_dir)
    cells = None
    for i, ch in enumerate(PUNCT_CLASSES):
        cnt = F.length(F.col("text")) - F.length(F.regexp_replace("text", f"\\{ch}", ""))
        part = t.documents.groupBy("source").agg(
            dec38(F.sum(cnt)).alias("o")
        ).select("source", F.lit(i).cast("long").alias("cls"), "o")
        cells = part if cells is None else cells.unionAll(part)
    cells = cells.filter(F.col("o") > 0)
    rows_m = cells.groupBy("source").agg(F.sum("o").alias("r"))
    cols_m = cells.groupBy("cls").agg(F.sum("o").alias("c"))
    nn = cells.agg(F.sum("o").alias("n"))
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    diff = F.col("n") * F.col("o") - F.col("r") * F.col("c")
    return (
        cells.join(F.broadcast(rows_m), "source")
        .join(F.broadcast(cols_m), "cls")
        .crossJoin(F.broadcast(nn))
        .select(
            "source",
            "cls",
            F.col("o").cast("long").alias("n_marks"),
            halfup_div(m6 * diff * diff, F.col("n") * F.col("r") * F.col("c"))
            .cast("long")
            .alias("chi2_contrib_micro"),
        )
        .orderBy("source", "cls")
    )


# ---------------------------------------------------------------------------
# 5. Deterministic permutation importance of the classifier score
# ---------------------------------------------------------------------------

PERM_BUCKETS = 256  # derangement buckets (partitioned windows only)


def _perm_importance_oracle() -> str:
    from ..functions.exact import sql_round_big_int_ratio
    from .ml import _scored_labeled_sql

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
        _scored_labeled_sql()
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
    from pyspark.sql.window import Window

    from ..functions.exact import round_big_int_ratio
    from ..functions.textnorm import sha256_prefix_i64
    from .ml import _scored_labeled

    t = Tables(spark, sf_dir)
    scored = _scored_labeled(t).select("doc_id", "score_q", "label")
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


# ---------------------------------------------------------------------------
# 6. Bottom-k sketch mergeability audit
# ---------------------------------------------------------------------------

BKM_K = 128
BKM_A, BKM_B = 1_103_515_245, 12_345
BKM_P = 2_147_483_647


def _bkmerge_oracle() -> str:
    h = f"((((doc_id % {BKM_P}) * {BKM_A} + {BKM_B}) % {BKM_P}))"
    hd = sql_halfup_div
    return f"""
    WITH hashed AS (
      SELECT doc_id, doc_id % 2 AS shard, {h} AS h FROM documents
    ), s0 AS (
      SELECT h FROM hashed WHERE shard = 0 ORDER BY h, doc_id LIMIT {BKM_K}
    ), s1 AS (
      SELECT h FROM hashed WHERE shard = 1 ORDER BY h, doc_id LIMIT {BKM_K}
    ), merged AS (
      SELECT h FROM (SELECT h FROM s0 UNION ALL SELECT h FROM s1)
      ORDER BY h LIMIT {BKM_K}
    ), direct AS (
      SELECT h FROM hashed ORDER BY h, doc_id LIMIT {BKM_K}
    ), cmp AS (
      SELECT (SELECT CAST(max(h) AS BIGINT) FROM merged) AS thr_merged,
             (SELECT CAST(max(h) AS BIGINT) FROM direct) AS thr_direct,
             (SELECT CAST(count(*) AS BIGINT)
              FROM (SELECT h FROM merged INTERSECT SELECT h FROM direct)) AS n_common
    ), nn AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM hashed)
    SELECT {BKM_K}::BIGINT AS k, nn.n_total, cmp.thr_merged, cmp.thr_direct,
           cmp.n_common,
           (cmp.thr_merged = cmp.thr_direct AND cmp.n_common = {BKM_K})
             AS merge_lossless,
           CAST({hd(f'({BKM_K}::HUGEINT - 1) * {BKM_P}',
                    'CAST(cmp.thr_merged AS HUGEINT)')} AS BIGINT) AS est_n
    FROM cmp, nn
    """


@register("sketch_bottomk_merge_audit", _bkmerge_oracle())
def sketch_bottomk_merge_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeability audit for the bottom-k sketch: build per-shard
    bottom-k sketches (doc_id parity shards), merge them by keeping
    the k smallest of the union, and verify the merged sketch is
    IDENTICAL to the sketch built directly over the whole corpus —
    the property that makes bottom-k the distributed sampler
    (``corpus_reservoir_sample_audit`` uses it; this op proves the
    shard-and-merge path gives the same sample and the same KMV
    estimate, which is what a 1000-executor tree aggregation relies
    on).

    Note the merge is PROVABLY lossless when hash values are distinct
    within the bottom-k region (min-k of a union = min-k of min-k's) —
    the audit exists to catch hash-collision and tie-handling bugs in
    an implementation, which is exactly what the cross-engine pair
    checks.

    Scale shape: per-shard TakeOrdered k, a 2k-row merge, one global
    TakeOrdered for the reference; all integer.
    """
    from ..functions.exact import round_int_ratio  # noqa: F401  (kept for parity with family imports)

    t = Tables(spark, sf_dir)
    h = ((F.col("doc_id") % BKM_P) * BKM_A + BKM_B) % BKM_P
    hashed = t.documents.select(
        "doc_id", (F.col("doc_id") % 2).alias("shard"), h.alias("h")
    )
    s0 = hashed.filter(F.col("shard") == 0).orderBy("h", "doc_id").limit(BKM_K)
    s1 = hashed.filter(F.col("shard") == 1).orderBy("h", "doc_id").limit(BKM_K)
    merged = s0.select("h").unionAll(s1.select("h")).orderBy("h").limit(BKM_K)
    direct = hashed.orderBy("h", "doc_id").limit(BKM_K).select("h")
    thr_m = merged.agg(F.max("h").cast("long").alias("thr_merged"))
    thr_d = direct.agg(F.max("h").cast("long").alias("thr_direct"))
    common = merged.intersect(direct).agg(
        F.count(F.lit(1)).cast("long").alias("n_common")
    )
    nn = hashed.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    est = halfup_div(
        (F.lit(BKM_K).cast("decimal(38,0)") - 1) * F.lit(BKM_P).cast("decimal(38,0)"),
        dec38(F.col("thr_merged")),
    )
    return (
        thr_m.crossJoin(F.broadcast(thr_d))
        .crossJoin(F.broadcast(common))
        .crossJoin(F.broadcast(nn))
        .select(
            F.lit(BKM_K).cast("long").alias("k"),
            "n_total",
            "thr_merged",
            "thr_direct",
            "n_common",
            (
                (F.col("thr_merged") == F.col("thr_direct"))
                & (F.col("n_common") == BKM_K)
            ).alias("merge_lossless"),
            est.cast("long").alias("est_n"),
        )
    )
