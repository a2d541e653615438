"""Round-13 direct registrations, batch T — the VERDICT r12 item-3
follow-throughs (a PAV-calibrated Brier decomposition beside the PAV/ROC-hull audit, and
the trend-strength summary off the shared STL derivation) plus the
Kuiper two-sample test. Each op is oracle-paired, replica-pinned and
plan-barred in ``tests/test_roundthirteen5.py`` (same-commit gate
rule). Every name was checked against the full 538-name registry
inventory before design (the SCALE §5j.7 authoring rule).

* ``ml_brier_pav_decomposition`` — Murphy decomposition of the Brier
  score over the PAV (isotonic) calibration blocks.
* ``stats_kuiper_ab`` — the rotation-invariant KS sibling
  (V = D+ + D-) on returned-vs-refused quantity.

``events_stl_trend_strength`` lives in ``operators/daily_change.py``
with the other daily-series queries.

Reference parity note: the reference (Go ingestion pipeline,
``/root/reference/main.go``) has no analytics; these extend SURVEY
§2.C graph / ML / time-series / warehouse statistics.

``stats_kuiper_ab`` lives in ``operators/stats_rank.py`` with the other
stats queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import dec38, halfup_div, sql_halfup_div
from ..registry import register
from ..tables import Tables


# ---------------------------------------------------------------------------
# 3. Murphy decomposition of the Brier score over PAV blocks
# ---------------------------------------------------------------------------


def _brier_pav_oracle() -> str:
    from .ml import _scored_labeled_sql
    from .roundten3 import ISO_BINS, _sql_iso_fit_ctes

    width = 10000 // ISO_BINS
    hd = sql_halfup_div
    return (
        _scored_labeled_sql()
        + ", "
        + _sql_iso_fit_ctes()
        + f"""
    , binstats AS (
      SELECT CAST(least(score_q // {width}, {ISO_BINS - 1}) AS BIGINT) AS bin,
             CAST(sum(score_q) AS HUGEINT) AS ssum,
             CAST(sum((score_q - 10000 * label)
                      * CAST((score_q - 10000 * label) AS HUGEINT))
                  AS HUGEINT) AS sqe
      FROM scored GROUP BY 1
    ), blocks AS (
      SELECT f.v,
             CAST(sum(f.n) AS HUGEINT) AS n_b,
             CAST(sum(f.pos) AS HUGEINT) AS pos_b,
             CAST(sum(s.ssum) AS HUGEINT) AS ssum_b
      FROM fit f JOIN binstats s ON s.bin = f.bin
      GROUP BY f.v
    ), tot AS (
      SELECT CAST(sum(n) AS HUGEINT) AS n,
             CAST(sum(pos) AS HUGEINT) AS p,
             (SELECT CAST(sum(sqe) AS HUGEINT) FROM binstats) AS sqe
      FROM bins
    ), bterm AS (
      SELECT b.n_b,
             {hd('1000000::HUGEINT * b.pos_b', 'b.n_b')} AS obar_b,
             {hd('100::HUGEINT * b.ssum_b', 'b.n_b')} AS sbar_b,
             {hd('1000000::HUGEINT * t.p', 't.n')} AS obar
      FROM blocks b, tot t
    ), comps AS (
      SELECT CAST(count(*) AS BIGINT) AS n_blocks,
             CAST(sum(n_b * (sbar_b - obar_b)
                      * CAST((sbar_b - obar_b) AS HUGEINT)) AS HUGEINT) AS rel_n,
             CAST(sum(n_b * (obar_b - obar)
                      * CAST((obar_b - obar) AS HUGEINT)) AS HUGEINT) AS res_n
      FROM bterm
    )
    SELECT CAST(t.n AS BIGINT) AS n, CAST(t.p AS BIGINT) AS n_pos,
           c.n_blocks,
           CAST({hd('1000000::HUGEINT * t.sqe', '100000000::HUGEINT * t.n')}
                AS BIGINT) AS brier_micro,
           CAST({hd('c.rel_n', '1000000::HUGEINT * t.n')} AS BIGINT)
             AS rel_pav_micro,
           CAST({hd('c.res_n', '1000000::HUGEINT * t.n')} AS BIGINT)
             AS res_pav_micro,
           CAST({hd('1000000::HUGEINT * t.p * (t.n - t.p)', 't.n * t.n')}
                AS BIGINT) AS unc_micro,
           CAST({hd('1000000::HUGEINT * t.sqe', '100000000::HUGEINT * t.n')}
                - ({hd('1000000::HUGEINT * t.p * (t.n - t.p)', 't.n * t.n')}
                   + {hd('c.rel_n', '1000000::HUGEINT * t.n')}
                   - {hd('c.res_n', '1000000::HUGEINT * t.n')})
                AS BIGINT) AS decomp_residual_micro
    FROM tot t, comps c
    """
    )


@register("ml_brier_pav_decomposition", oracle=_brier_pav_oracle())
def ml_brier_pav_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy (1973) decomposition of the classifier's Brier score
    computed over the PAV (isotonic) calibration blocks — the binning
    that makes reliability/resolution canonical rather than an
    arbitrary decile choice (VERDICT r12 suggestion: "a PAV-calibrated
    Brier decomposition beside the PAV/ROC-hull audit").
    ``ml_brier_decomposition`` bins by deciles; here the bins are the
    PAV blocks themselves (maximal score runs the isotonic fit pools),
    where the fitted probability IS the block positive rate, so
    reliability measures exactly the gap the isotonic recalibration
    would remove. Reported: Brier, PAV-reliability, PAV-resolution,
    uncertainty, and the decomposition residual (the within-block
    forecast variance/covariance remainder — Stephenson et al. 2008 —
    an explicit output so the replica can assert the identity).

    Derivation sharing: the score/label scan is ``ml._scored_labeled``;
    the PAV fit is ``roundten3._iso_fit`` over the shared 20-bin grid
    (one derivation, three consumers with the isotonic op and the
    PAV/hull audit).

    Exactness: block rates quantize once at micro (half-up integer
    divisions of exact integer counts/score sums); the component sums
    are then pure integer arithmetic, divided once by N. The residual
    is integer subtraction of the published components, so the Murphy
    identity holds bit-exactly in the output by construction.

    Scale shape: everything after the partial-aggregated document scan
    runs on the <= 20-bin POST-AGGREGATION grid (the isotonic-fit
    bounded-domain class); 1 row out.
    """
    from .ml import _scored_labeled
    from .roundten3 import ISO_BINS, _iso_fit

    t = Tables(spark, sf_dir)
    width = 10000 // ISO_BINS
    scored = _scored_labeled(t)
    # ONE partial-aggregated pass over the scored documents carries
    # every sufficient statistic (n/pos for the fit, ssum for block
    # score means, the squared-error partials for Brier) — the three
    # downstream consumers branch off the identical groupBy(bin)
    # exchange, which Spark's ReuseExchange collapses to a single
    # execution of the expensive sha2 scoring scan (measured 2.7 s ->
    # ~1 s at sf0.1 vs three independent aggregates).
    err = dec38(F.col("score_q") - F.lit(10000) * F.col("label"))
    stats = scored.groupBy(
        F.least(F.floor(F.col("score_q") / F.lit(width)), F.lit(ISO_BINS - 1))
        .cast("long")
        .alias("bin")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("label").alias("pos"),
        F.sum(dec38(F.col("score_q"))).alias("ssum"),
        F.sum(err * err).alias("sqe"),
    )
    # the fit's prefix-sum minimax chain references the bin grid ~9
    # times; an eager localCheckpoint of the 20-row grid pins the
    # expensive scoring scan to exactly ONE execution (the PageRank /
    # power-iteration lineage discipline; 9 sha2 scans in the static
    # plan -> 1). The remaining wall is the single scoring scan itself
    # (the _scored_labeled class every classifier op pays).
    stats = stats.localCheckpoint(eager=True)
    fit = _iso_fit(stats.select("bin", "n", "pos"))
    blocks = (
        fit.join(stats.select("bin", "ssum"), "bin")
        .groupBy("v")
        .agg(
            F.sum(dec38(F.col("n"))).alias("n_b"),
            F.sum(dec38(F.col("pos"))).alias("pos_b"),
            F.sum(F.col("ssum")).alias("ssum_b"),
        )
    )
    tot = stats.agg(
        F.sum(dec38(F.col("n"))).alias("n"),
        F.sum(dec38(F.col("pos"))).alias("p"),
        F.sum("sqe").alias("sqe"),
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    bterm = blocks.crossJoin(F.broadcast(tot)).select(
        "n_b",
        halfup_div(m6 * F.col("pos_b"), F.col("n_b")).alias("obar_b"),
        halfup_div(F.lit(100).cast("decimal(38,0)") * F.col("ssum_b"), F.col("n_b"))
        .alias("sbar_b"),
        halfup_div(m6 * F.col("p"), F.col("n")).alias("obar"),
    )
    comps = bterm.agg(
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        F.sum(
            F.col("n_b")
            * (F.col("sbar_b") - F.col("obar_b"))
            * (F.col("sbar_b") - F.col("obar_b"))
        ).alias("rel_n"),
        F.sum(
            F.col("n_b")
            * (F.col("obar_b") - F.col("obar"))
            * (F.col("obar_b") - F.col("obar"))
        ).alias("res_n"),
    )
    m8 = F.lit(100_000_000).cast("decimal(38,0)")
    j = tot.crossJoin(F.broadcast(comps))
    brier = halfup_div(m6 * F.col("sqe"), m8 * F.col("n"))
    rel = halfup_div(F.col("rel_n"), m6 * F.col("n"))
    res = halfup_div(F.col("res_n"), m6 * F.col("n"))
    unc = halfup_div(m6 * F.col("p") * (F.col("n") - F.col("p")),
                      F.col("n") * F.col("n"))
    return j.select(
        F.col("n").cast("long").alias("n"),
        F.col("p").cast("long").alias("n_pos"),
        "n_blocks",
        brier.cast("long").alias("brier_micro"),
        rel.cast("long").alias("rel_pav_micro"),
        res.cast("long").alias("res_pav_micro"),
        unc.cast("long").alias("unc_micro"),
        (brier - (unc + rel - res)).cast("long").alias("decomp_residual_micro"),
    )
