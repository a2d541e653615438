"""Round-12 operator batch F.

Gates: raw-frame oracle parity, plan bars and Python replicas with
float anchors in ``tests/test_roundtwelve.py``; SCALE.md §5j.6
records the ×10 ladder.

Batch theme — scale-curve and audit completions: spectral entropy of
the fixed-period periodogram, the Fano-factor burstiness curve across
window widths, a punctuation-profile chi-square between sources,
deterministic permutation importance
for the classifier score, and a bottom-k sketch mergeability audit.

``events_spectral_entropy_periods`` lives in
``operators/daily_spectral.py`` with the other daily-series queries.

``events_fano_factor_curve`` lives in ``operators/events_series.py``
with the other events queries.

``ml_permutation_importance_score`` lives in ``operators/ml_models.py``
with the other ml queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import dec38, halfup_div, sql_halfup_div
from ..registry import register
from ..tables import Tables


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
