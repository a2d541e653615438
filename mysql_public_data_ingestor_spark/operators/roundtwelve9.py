"""Round-12 direct registrations, batch N (model evaluation).

Five window-slot completions, each oracle-paired, replica-pinned and
plan-barred in ``tests/test_roundtwelve9.py`` (same-commit gate rule).
Every name was checked against the full registry inventory before
design (the SCALE §5j.7 authoring rule):

* ``ml_pav_roc_hull_audit`` — VERDICT r11's "PAV beside the convex
  hull": verify the isotonic-fit block structure against the ROC
  upper hull (Fawcett & Niculescu-Mizil 2007 equivalence), off the
  SHARED ``roundten3._iso_fit`` derivation.
* ``ml_decision_curve_net_benefit`` — decision-curve analysis
  (Vickers & Elkin 2006) net benefit across a threshold grid.
* ``ml_hosmer_lemeshow_bins`` — HL goodness-of-fit over the shared
  fixed score-decile bins (the Brier-decomposition grid).
* ``ml_weighted_kappa_bands`` — linear- and quadratic-weighted Cohen
  kappa between the score band and the length band.
* ``ml_rank_rbo_overlap`` — truncated rank-biased overlap (Webber,
  Moffat & Zobel 2010) between the classifier and length rankers.

Reference parity note: the reference (Go ingestion pipeline,
``/root/reference/main.go``) has no analytics; these extend SURVEY
§2.C LM/text scoring & ML evaluation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import dec38, halfup_div, sql_halfup_div
from ..registry import register
from ..tables import Tables

# ---------------------------------------------------------------------------
# 1. PAV blocks vs ROC upper-hull vertices
# ---------------------------------------------------------------------------


def _pav_hull_oracle() -> str:
    from .ml import _scored_labeled_sql
    from .roundten3 import _sql_iso_fit_ctes

    hd = sql_halfup_div
    return (
        _scored_labeled_sql()
        + ", "
        + _sql_iso_fit_ctes()
        + f"""
    , blocks AS (
      SELECT CAST(count(DISTINCT CAST(floor(v * 1000000.0 + 0.5) AS BIGINT))
                  AS BIGINT) AS n_blocks,
             CAST(count(*) AS BIGINT) AS n_bins
      FROM fit
    ), pts AS (
      -- ROC points in DESCENDING score order: after including the m
      -- highest bins, x = cum FP, y = cum TP; m = 0 is the origin
      SELECT CAST(count(b.bin) AS BIGINT) AS m,
             CAST(coalesce(sum(b.n - b.pos), 0) AS HUGEINT) AS x,
             CAST(coalesce(sum(b.pos), 0) AS HUGEINT) AS y
      FROM (SELECT DISTINCT bin FROM bins UNION ALL SELECT NULL) a
      LEFT JOIN bins b ON b.bin >= a.bin
      GROUP BY a.bin
    ), interior AS (
      SELECT p.m,
             CASE WHEN min((p.y - i.y) * (j.x - i.x)
                           - (j.y - i.y) * (p.x - i.x)) > 0
                  THEN 1 ELSE 0 END AS is_vertex
      FROM pts p
      JOIN pts i ON i.m < p.m
      JOIN pts j ON j.m > p.m
      GROUP BY p.m, p.x, p.y
    ), hull AS (
      SELECT CAST(2 + sum(is_vertex) AS BIGINT) AS n_vertices
      FROM interior
    ), auc AS (
      -- 2*P*N-scaled hull area via the trapezoid sum over ALL points
      -- (non-vertex points are collinear, adding them changes nothing)
      SELECT CAST(sum((b.x - a.x) * (a.y + b.y)) AS HUGEINT) AS tri2,
             (SELECT max(x) FROM pts) AS nneg,
             (SELECT max(y) FROM pts) AS npos
      FROM pts a JOIN pts b ON b.m = a.m + 1
    )
    SELECT bl.n_bins, bl.n_blocks, h.n_vertices AS n_hull_vertices,
           CAST(CASE WHEN bl.n_blocks = h.n_vertices - 1 THEN 1 ELSE 0 END
                AS BIGINT) AS pav_hull_equiv,
           CASE WHEN a.nneg > 0 AND a.npos > 0 THEN
             CAST({hd('1000000::HUGEINT * a.tri2', '2 * a.nneg * a.npos')}
                  AS BIGINT)
           END AS hull_auc_micro
    FROM blocks bl, hull h, auc a
    """
    )


@register("ml_pav_roc_hull_audit", oracle=_pav_hull_oracle())
def ml_pav_roc_hull_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PAV-vs-ROC-hull equivalence audit (VERDICT r11's suggestion):
    the isotonic-regression fit over the score bins and the upper
    convex hull of the bin-level ROC curve are the SAME object viewed
    two ways (Fawcett & Niculescu-Mizil 2007 — PAV blocks are hull
    segments, block rates are segment slopes), so the number of
    distinct fitted values must equal the number of hull segments.
    This op computes BOTH independently — the PAV side off the shared
    ``roundten3._iso_fit`` minimax derivation, the hull side by the
    exact-integer chord test on descending-score cumulative points —
    and reports the equivalence flag plus the hull AUC. A 0 flag means
    one of the two derivations is wrong: it is a built-in consistency
    check of the calibration family, not just a statistic.

    Exactness: hull vertex membership is min-over-chords of exact
    integer cross products (strictly-above test — collinear points are
    not vertices, matching PAV's merge of equal-rate bins); the AUC
    trapezoid sum runs over ALL points (collinear extras contribute
    exactly their segment share) with ONE half-up micro division.

    Scale shape: everything after the one scored-corpus scan lives on
    the <= 21-point bin grid (the O(B^3) chord test is ~1.3k rows).
    """
    from .roundten3 import _iso_bins, _iso_fit

    t = Tables(spark, sf_dir)
    bins = _iso_bins(t)
    fit = _iso_fit(bins)
    blocks = fit.agg(
        F.countDistinct(
            F.floor(F.col("v") * F.lit(1000000.0) + F.lit(0.5)).cast("long")
        ).alias("n_blocks"),
        F.count(F.lit(1)).cast("long").alias("n_bins"),
    )
    # descending-score cumulative ROC points (m = #bins included)
    a = bins.select(F.col("bin").alias("abin")).unionAll(
        bins.agg(F.lit(None).cast("long").alias("abin"))
    ).distinct()
    b = bins.select(
        F.col("bin").alias("bbin"),
        (F.col("n") - F.col("pos")).alias("fp"),
        F.col("pos").alias("tp"),
    )
    pts = (
        a.join(F.broadcast(b), F.col("bbin") >= F.col("abin"), "left")
        .groupBy("abin")
        .agg(
            F.count("bbin").cast("long").alias("m"),
            dec38(F.coalesce(F.sum("fp"), F.lit(0))).alias("x"),
            dec38(F.coalesce(F.sum("tp"), F.lit(0))).alias("y"),
        )
        .select("m", "x", "y")
    )
    pi = pts.select(
        F.col("m").alias("mi"), F.col("x").alias("xi"), F.col("y").alias("yi")
    )
    pj = pts.select(
        F.col("m").alias("mj"), F.col("x").alias("xj"), F.col("y").alias("yj")
    )
    cross = (F.col("y") - F.col("yi")) * (F.col("xj") - F.col("xi")) - (
        F.col("yj") - F.col("yi")
    ) * (F.col("x") - F.col("xi"))
    interior = (
        pts.join(F.broadcast(pi), F.col("mi") < F.col("m"))
        .join(F.broadcast(pj), F.col("mj") > F.col("m"))
        .groupBy("m", "x", "y")
        .agg(
            F.when(F.min(cross) > 0, F.lit(1)).otherwise(F.lit(0)).alias("is_vertex")
        )
    )
    hull = interior.agg((2 + F.sum("is_vertex")).cast("long").alias("n_vertices"))
    pb = pts.select(
        F.col("m").alias("mb"), F.col("x").alias("xb"), F.col("y").alias("yb")
    )
    auc = (
        pts.join(F.broadcast(pb), F.col("mb") == F.col("m") + 1)
        .agg(
            F.sum(
                (F.col("xb") - F.col("x")) * (F.col("y") + F.col("yb"))
            ).alias("tri2")
        )
        .crossJoin(
            F.broadcast(
                pts.agg(F.max("x").alias("nneg"), F.max("y").alias("npos"))
            )
        )
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    return (
        blocks.crossJoin(F.broadcast(hull))
        .crossJoin(F.broadcast(auc))
        .select(
            "n_bins",
            "n_blocks",
            F.col("n_vertices").alias("n_hull_vertices"),
            F.when(F.col("n_blocks") == F.col("n_vertices") - 1, 1)
            .otherwise(0)
            .cast("long")
            .alias("pav_hull_equiv"),
            F.when(
                (F.col("nneg") > 0) & (F.col("npos") > 0),
                halfup_div(
                    m6 * F.col("tri2"), 2 * F.col("nneg") * F.col("npos")
                ).cast("long"),
            ).alias("hull_auc_micro"),
        )
    )


# ---------------------------------------------------------------------------
# 2. Decision-curve net benefit across a threshold grid
# ---------------------------------------------------------------------------

DCA_THRESHOLDS_MILLI = tuple(range(100, 1000, 100))  # 0.1 .. 0.9


def _dca_oracle() -> str:
    from .ml import _scored_labeled_sql

    hd = sql_halfup_div
    ts = ", ".join(str(t) for t in DCA_THRESHOLDS_MILLI)
    return (
        _scored_labeled_sql()
        + f"""
    , grid AS (
      SELECT score_q, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(label) AS BIGINT) AS pos
      FROM scored GROUP BY score_q
    ), tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(pos) AS BIGINT) AS p
      FROM grid
    ), th AS (SELECT CAST(unnest([{ts}]) AS BIGINT) AS t),
    sel AS (
      SELECT th.t,
             CAST(coalesce(sum(g.n), 0) AS BIGINT) AS n_sel,
             CAST(coalesce(sum(g.pos), 0) AS BIGINT) AS tp
      FROM th LEFT JOIN grid g ON g.score_q >= 10 * th.t
      GROUP BY th.t
    )
    SELECT s.t AS threshold_milli, s.n_sel, s.tp,
           (s.n_sel - s.tp) AS fp,
           CAST({hd('1000000::HUGEINT * (s.tp * (1000 - s.t)'
                    ' - (s.n_sel - s.tp) * s.t)',
                    'tt.nn * (1000 - s.t)')} AS BIGINT) AS net_benefit_micro,
           CAST({hd('1000000::HUGEINT * (tt.p * (1000 - s.t)'
                    ' - (tt.nn - tt.p) * s.t)',
                    'tt.nn * (1000 - s.t)')} AS BIGINT) AS nb_treat_all_micro
    FROM sel s, tot tt ORDER BY s.t
    """
    )


@register("ml_decision_curve_net_benefit", oracle=_dca_oracle())
def ml_decision_curve_net_benefit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-curve analysis (Vickers & Elkin 2006) of the quality
    classifier: at each probability threshold t the NET BENEFIT
    TP/N - FP/N * t/(1-t) prices true positives against false
    positives at the odds the threshold itself implies — the clinical
    standard for "is using this model better than treat-all or
    treat-none", which for a data pipeline reads "is gating on this
    score better than keeping everything (treat-all baseline, also
    reported) or dropping everything (zero)". Completes the
    threshold family: Youden/cost pick ONE optimal threshold, the
    confusion sweep reports raw counts; DCA weighs them by the
    threshold's own cost ratio across the grid.

    Exactness: per-threshold counts come off the bounded score grid
    (<= 10001 rows) via a broadcast >= join; net benefit reduces to
    ONE half-up micro division of exact integers per threshold over
    the common denominator N*(1000-t) (t in milli units).

    Scale shape: one scored-corpus scan partial-aggregating to the
    score grid; a 9-row threshold broadcast; 9 rows out.
    """
    from .ml import _scored_labeled

    t = Tables(spark, sf_dir)
    grid = _scored_labeled(t).groupBy("score_q").agg(
        F.count(F.lit(1)).alias("n"), F.sum("label").alias("pos")
    )
    tot = grid.agg(
        F.sum("n").cast("long").alias("nn"), F.sum("pos").cast("long").alias("p")
    )
    th = grid.sparkSession.range(1).select(
        F.explode(
            F.array(*[F.lit(x).cast("long") for x in DCA_THRESHOLDS_MILLI])
        ).alias("t")
    )
    sel = (
        th.join(F.broadcast(grid), F.col("score_q") >= 10 * F.col("t"), "left")
        .groupBy("t")
        .agg(
            F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("n_sel"),
            F.coalesce(F.sum("pos"), F.lit(0)).cast("long").alias("tp"),
        )
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    fp = F.col("n_sel") - F.col("tp")
    den = dec38(F.col("nn")) * (1000 - F.col("t"))
    return (
        sel.crossJoin(F.broadcast(tot))
        .select(
            F.col("t").alias("threshold_milli"),
            "n_sel",
            "tp",
            fp.alias("fp"),
            halfup_div(
                m6 * (dec38(F.col("tp")) * (1000 - F.col("t")) - dec38(fp) * F.col("t")),
                den,
            )
            .cast("long")
            .alias("net_benefit_micro"),
            halfup_div(
                m6
                * (
                    dec38(F.col("p")) * (1000 - F.col("t"))
                    - dec38(F.col("nn") - F.col("p")) * F.col("t")
                ),
                den,
            )
            .cast("long")
            .alias("nb_treat_all_micro"),
        )
        .orderBy("threshold_milli")
    )


# ---------------------------------------------------------------------------
# 3. Hosmer–Lemeshow goodness-of-fit over the fixed score-decile bins
# ---------------------------------------------------------------------------


def _hl_oracle() -> str:
    from .ml import _scored_labeled_sql

    hd = sql_halfup_div
    return (
        _scored_labeled_sql()
        + f"""
    , bins AS (
      SELECT CAST(least(score_q // 1000, 9) AS BIGINT) AS decile,
             CAST(count(*) AS BIGINT) AS n_k,
             CAST(sum(label) AS BIGINT) AS pos_k,
             CAST(sum(score_q) AS HUGEINT) AS s_k
      FROM scored GROUP BY 1
    ), terms AS (
      SELECT decile, n_k, pos_k, s_k,
             CASE WHEN s_k > 0 AND s_k < 10000::HUGEINT * n_k THEN
               {hd('1000000::HUGEINT * (10000 * pos_k - s_k)'
                   ' * (10000 * pos_k - s_k) * n_k',
                   's_k * (10000 * n_k - s_k)')}
             END AS hl_term
      FROM bins
    ), tot AS (
      SELECT CAST(sum(hl_term) AS HUGEINT) AS hl,
             CAST(count(*) AS BIGINT) AS n_bins
      FROM terms
    )
    SELECT t.decile, t.n_k AS n, t.pos_k AS obs_pos,
           CAST(100 * t.s_k AS BIGINT) AS exp_pos_micro,
           CAST(t.hl_term AS BIGINT) AS hl_term_micro,
           CAST(tt.hl AS BIGINT) AS hl_total_micro,
           tt.n_bins
    FROM terms t, tot tt ORDER BY t.decile
    """
    )


@register("ml_hosmer_lemeshow_bins", oracle=_hl_oracle())
def ml_hosmer_lemeshow_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hosmer–Lemeshow goodness-of-fit over the classifier's fixed
    score-decile bins (the SAME grid as ``ml_brier_decomposition`` and
    the calibration curve — deciles of risk by fixed cutpoints): per
    bin the observed positives, expected positives (sum of predicted
    probabilities) and the chi-square term (O - E)^2 / (E(1 - E/n)),
    plus the total HL statistic (chi-square, df = bins - 2 under fit).
    The hypothesis-TEST member of the calibration family: ECE/
    reliability report calibration error magnitudes; HL says whether
    the miscalibration is statistically distinguishable from noise at
    this corpus size.

    Exactness: E = S/10^4 (score_q is 1e-4-quantized), so each term
    reduces to the exact rational (10^4 O - S)^2 n / (S (10^4 n - S)),
    half-up micro-quantized ONCE per bin (<= 10 quantizations total);
    expected positives are exactly 100*S micro. Degenerate bins
    (all-0 or all-1 predicted mass) contribute NULL and drop from the
    total on both engines.

    Scale shape: one scored-corpus scan partial-aggregating to <= 10
    bins; scalar algebra out.
    """
    from .ml import _scored_labeled

    t = Tables(spark, sf_dir)
    bins = _scored_labeled(t).groupBy(
        F.least(F.floor(F.col("score_q") / 1000), F.lit(9)).cast("long").alias("decile")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_k"),
        F.sum("label").cast("long").alias("pos_k"),
        dec38(F.sum("score_q")).alias("s_k"),
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    onum = dec38(10000 * F.col("pos_k")) - F.col("s_k")
    term = F.when(
        (F.col("s_k") > 0) & (F.col("s_k") < dec38(10000 * F.col("n_k"))),
        halfup_div(
            m6 * onum * onum * F.col("n_k"),
            F.col("s_k") * (dec38(10000 * F.col("n_k")) - F.col("s_k")),
        ),
    )
    terms = bins.select(
        "decile", "n_k", "pos_k", "s_k", term.alias("hl_term")
    )
    tot = terms.agg(
        F.sum("hl_term").alias("hl"), F.count(F.lit(1)).cast("long").alias("n_bins")
    )
    return (
        terms.crossJoin(F.broadcast(tot))
        .select(
            "decile",
            F.col("n_k").alias("n"),
            F.col("pos_k").alias("obs_pos"),
            (F.lit(100).cast("decimal(38,0)") * F.col("s_k"))
            .cast("long")
            .alias("exp_pos_micro"),
            F.col("hl_term").cast("long").alias("hl_term_micro"),
            F.col("hl").cast("long").alias("hl_total_micro"),
            "n_bins",
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# 4. Weighted Cohen kappa between score band and length band
# ---------------------------------------------------------------------------

KAPPA_BANDS = 4


def _wkappa_oracle() -> str:
    from .ml import _scored_labeled_sql

    hd = sql_halfup_div
    b = KAPPA_BANDS
    return (
        _scored_labeled_sql()
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
    from .ml import _scored_labeled

    b = KAPPA_BANDS
    t = Tables(spark, sf_dir)
    nchars = t.documents.select("doc_id", "n_chars")
    lab = (
        _scored_labeled(t)
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
# 5. Truncated rank-biased overlap between two rankers
# ---------------------------------------------------------------------------

RBO_DEPTH = 50
# (1-p) p^(d-1) at p = 0.9, micro units, d = 1..50 — fixed literals
# shared verbatim by both engines (the PGRAM-table convention)
RBO_W_MICRO = (
    100000, 90000, 81000, 72900, 65610, 59049, 53144, 47830, 43047, 38742,
    34868, 31381, 28243, 25419, 22877, 20589, 18530, 16677, 15009, 13509,
    12158, 10942, 9848, 8863, 7977, 7179, 6461, 5815, 5233, 4710,
    4239, 3815, 3434, 3090, 2781, 2503, 2253, 2028, 1825, 1642,
    1478, 1330, 1197, 1078, 970, 873, 786, 707, 636, 573,
)


def _rbo_oracle() -> str:
    from .ml import _scored_labeled_sql

    hd = sql_halfup_div
    d = RBO_DEPTH
    ws = ", ".join(str(w) for w in RBO_W_MICRO)
    return (
        _scored_labeled_sql()
        + f"""
    , joined AS (
      SELECT s.doc_id, s.score_q, d.n_chars
      FROM scored s JOIN documents d ON d.doc_id = s.doc_id
    ), top1 AS (
      SELECT doc_id, row_number() OVER (ORDER BY score_q DESC, doc_id) AS r1
      FROM joined ORDER BY score_q DESC, doc_id LIMIT {d}
    ), top2 AS (
      SELECT doc_id, row_number() OVER (ORDER BY n_chars DESC, doc_id) AS r2
      FROM joined ORDER BY n_chars DESC, doc_id LIMIT {d}
    ), common AS (
      SELECT t1.doc_id, greatest(t1.r1, t2.r2) AS maxr
      FROM top1 t1 JOIN top2 t2 ON t2.doc_id = t1.doc_id
    ), depths AS (SELECT unnest(range(1, {d + 1})) AS dep),
    agree AS (
      SELECT dep, CAST(count(c.doc_id) AS BIGINT) AS cd
      FROM depths LEFT JOIN common c ON c.maxr <= dep
      GROUP BY dep
    ), w AS (SELECT unnest(range(1, {d + 1})) AS dep,
                    unnest([{ws}]) AS wm),
    terms AS (
      SELECT a.dep, a.cd, w.wm,
             {hd('w.wm * a.cd', 'a.dep')} AS term
      FROM agree a JOIN w ON w.dep = a.dep
    )
    SELECT CAST({d} AS BIGINT) AS depth,
           (SELECT CAST(count(*) AS BIGINT) FROM common) AS n_common,
           (SELECT CAST(cd AS BIGINT) FROM agree WHERE dep = 10)
             AS overlap_at_10,
           (SELECT CAST(cd AS BIGINT) FROM agree WHERE dep = {d})
             AS overlap_at_{d},
           CAST(sum(term) AS BIGINT) AS rbo_trunc_micro
    FROM terms
    """
    )


@register("ml_rank_rbo_overlap", oracle=_rbo_oracle())
def ml_rank_rbo_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated rank-biased overlap (Webber, Moffat & Zobel 2010,
    p = 0.9, depth 50) between two top-k rankers over the corpus —
    the classifier score and the raw document length: RBO@50 =
    sum_d (1-p) p^(d-1) |S_d ∩ T_d| / d. THE comparison metric for
    indefinite rankings (top-weighted, handles non-conjoint lists),
    which neither Kendall/Spearman (need full permutations) nor plain
    overlap (ignores rank position) provides; for a pipeline it prices
    how much a cheap ranker (length) agrees with the model ranker at
    the head, where selection actually happens.

    Exactness: ranks use the deterministic (key desc, doc_id) total
    order; per-depth agreement counts come from the exact
    max(r1, r2) <= d cumulative over the <= 50-row common set; the
    (1-p) p^(d-1) weights are 50 fixed micro literals shared verbatim
    by both engines (the PGRAM-table convention), so each term is ONE
    half-up division w*c/d of exact integers. Truncation (no
    extrapolation) is documented — both engines compute the same
    partial sum.

    Scale shape: two TakeOrdered top-50s off one scan (no global
    window — rank-within-50 runs on the collected bounded set via a
    50x50 predecessor count); everything downstream is depth-bounded.
    """
    from .ml import _scored_labeled

    d = RBO_DEPTH
    t = Tables(spark, sf_dir)
    joined = _scored_labeled(t).join(
        t.documents.select("doc_id", "n_chars"), "doc_id"
    )
    top1 = joined.orderBy(F.col("score_q").desc(), "doc_id").limit(d).select(
        "doc_id", "score_q"
    )
    top2 = joined.orderBy(F.col("n_chars").desc(), "doc_id").limit(d).select(
        "doc_id", "n_chars"
    )
    # ranks within the bounded top-k via predecessor count (no global
    # window): r = 1 + #rows strictly before in the same total order
    b1 = top1.select(F.col("score_q").alias("sq_b"), F.col("doc_id").alias("id_b"))
    r1 = (
        top1.join(
            F.broadcast(b1),
            (F.col("sq_b") > F.col("score_q"))
            | ((F.col("sq_b") == F.col("score_q")) & (F.col("id_b") < F.col("doc_id"))),
            "left",
        )
        .groupBy("doc_id")
        .agg((1 + F.count("id_b")).cast("long").alias("r1"))
    )
    b2 = top2.select(F.col("n_chars").alias("nc_b"), F.col("doc_id").alias("id_b"))
    r2 = (
        top2.join(
            F.broadcast(b2),
            (F.col("nc_b") > F.col("n_chars"))
            | ((F.col("nc_b") == F.col("n_chars")) & (F.col("id_b") < F.col("doc_id"))),
            "left",
        )
        .groupBy("doc_id")
        .agg((1 + F.count("id_b")).cast("long").alias("r2"))
    )
    common = r1.join(r2, "doc_id").select(
        "doc_id", F.greatest("r1", "r2").alias("maxr")
    )
    depths = joined.sparkSession.range(1, d + 1).select(
        F.col("id").cast("long").alias("dep")
    )
    agree = (
        depths.join(F.broadcast(common), F.col("maxr") <= F.col("dep"), "left")
        .groupBy("dep")
        .agg(F.count("doc_id").cast("long").alias("cd"))
    )
    warr = F.array(*[F.lit(w).cast("long") for w in RBO_W_MICRO])
    terms = agree.select(
        "dep",
        "cd",
        halfup_div(
            dec38(F.element_at(warr, F.col("dep").cast("int")) * F.col("cd")),
            dec38(F.col("dep")),
        ).alias("term"),
    )
    n_common = common.agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    o10 = agree.filter(F.col("dep") == 10).select(
        F.col("cd").alias("overlap_at_10")
    )
    od = agree.filter(F.col("dep") == d).select(
        F.col("cd").alias(f"overlap_at_{d}")
    )
    return (
        terms.agg(F.sum("term").cast("long").alias("rbo_trunc_micro"))
        .crossJoin(F.broadcast(n_common))
        .crossJoin(F.broadcast(o10))
        .crossJoin(F.broadcast(od))
        .select(
            F.lit(d).cast("long").alias("depth"),
            "n_common",
            "overlap_at_10",
            f"overlap_at_{d}",
            "rbo_trunc_micro",
        )
    )
