"""Round-14 direct registrations, batch AC (partial-AUC / EER / cost
curves off the shared ROC grid, attribute-disclosure and
re-identification risk, and the covariance participation ratio).

Six window-slot completions, each oracle-paired, replica-pinned and
plan-barred in ``tests/test_roundfourteen8.py`` (same-commit gate
rule; the THREE new single-partition allowlist entries —
``ml_partial_auc_mcclish``, ``ml_equal_error_rate``,
``ml_cost_curve_envelope``, all the fbeta/Youden descending
score-grid cumulative class — land in ``tests/test_plans.py`` in the
same commit). Every name was checked against the full 599-name
registry inventory before design (the SCALE §5j.7 authoring rule):

* ``ml_partial_auc_mcclish`` — partial AUC on FPR <= 0.1 with the
  McClish (1989) standardization.
* ``ml_equal_error_rate`` — the FPR = FNR operating point with exact
  bracketing and linear interpolation.
* ``ml_cost_curve_envelope`` — the Drummond-Holte (2006) lower cost
  envelope over a probability-cost grid.
* ``privacy_beta_likeness_audit`` — beta-likeness attribute
  disclosure over the shared QI grouping (Cao & Karras 2012).
* ``privacy_reid_risk_prosecutor`` — prosecutor re-identification
  risk profile (average / maximum / share above 1/k).
* ``embedding_participation_ratio`` — covariance spectrum
  participation ratio (tr S)^2 / ||S||_F^2, fully exact integers.

Reference parity note: the reference (Go ingestion pipeline,
``/root/reference/main.go``) has no analytics; these extend SURVEY
§2.C ML / privacy / embedding compression.

``ml_partial_auc_mcclish`` lives in ``operators/ml_ranking.py``;
``ml_cost_curve_envelope`` and ``ml_equal_error_rate`` live in
``operators/ml_thresholds.py`` with the other ml queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import dec38, halfup_div, sql_halfup_div
from ..registry import register
from ..tables import Tables

# ---------------------------------------------------------------------------
# 4. beta-likeness attribute-disclosure audit
# ---------------------------------------------------------------------------

BETA_BUCKET = 500  # n_chars QI bucket width (the t-closeness convention)
BETA_THRESH = ((1, 2), (1, 1), (2, 1))  # beta = 0.5, 1, 2


def _beta_oracle() -> str:
    hd = sql_halfup_div
    thr_cols = []
    for bn, bd in BETA_THRESH:
        nm = f"share_groups_beta_gt_{bn}_{bd}_micro"
        thr = 1_000_000 * bn // bd
        num = f"1000000::HUGEINT * sum(CASE WHEN mb > {thr} THEN 1 ELSE 0 END)"
        thr_cols.append(f"CAST({hd(num, 'count(*)')} AS BIGINT) AS {nm}")
    return f"""
    WITH docs AS (
      SELECT lang, CAST(n_chars // {BETA_BUCKET} AS BIGINT) AS len_bucket, source
      FROM documents
    ), gsrc AS (
      SELECT source, CAST(count(*) AS BIGINT) AS cs FROM docs GROUP BY source
    ), n AS (SELECT CAST(count(*) AS BIGINT) AS big_n FROM docs),
    grp AS (
      SELECT lang, len_bucket, source, CAST(count(*) AS BIGINT) AS c
      FROM docs GROUP BY 1, 2, 3
    ), gsize AS (
      SELECT lang, len_bucket, CAST(sum(c) AS BIGINT) AS ng
      FROM grp GROUP BY 1, 2
    ), cells AS (
      SELECT g.lang, g.len_bucket,
             CASE WHEN g.c::HUGEINT * n.big_n > s.cs::HUGEINT * gs.ng THEN
               {hd('1000000::HUGEINT * (g.c::HUGEINT * n.big_n - s.cs::HUGEINT * gs.ng)',
                   's.cs::HUGEINT * gs.ng')}
             ELSE 0 END AS beta_micro
      FROM grp g
      JOIN gsize gs USING (lang, len_bucket)
      JOIN gsrc s USING (source), n
    ), per_group AS (
      SELECT lang, len_bucket, CAST(max(beta_micro) AS BIGINT) AS mb
      FROM cells GROUP BY lang, len_bucket
    )
    SELECT CAST(count(*) AS BIGINT) AS n_groups,
           CAST(max(mb) AS BIGINT) AS max_beta_micro,
           {", ".join(thr_cols)}
    FROM per_group
    """


@register("privacy_beta_likeness_audit", oracle=_beta_oracle())
def privacy_beta_likeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """beta-likeness attribute-disclosure audit (Cao & Karras 2012)
    over the shared (lang x n_chars-bucket) quasi-identifier grouping
    with source as the sensitive attribute: a QI group breaches beta
    when some sensitive value's in-group frequency EXCEEDS its global
    baseline by a relative factor > beta, max over values of
    (p_group - p)/p. t-closeness (``privacy_t_closeness_audit``)
    bounds the TOTAL distributional shift; beta-likeness bounds the
    POSITIVE per-value gain — the quantity an attacker actually
    exploits ("members of this group are 3x as likely to be from
    source X"), and negative deviations deliberately do not offset
    it. Reported: group count, worst relative gain, and the share of
    groups breaching beta in {{1/2, 1, 2}}.

    Exactness: the relative gain per (group, value) cell is the exact
    integer comparison c_g * N vs c_v * n_g lifted to ONE half-up
    micro ratio only when positive; per-group maxima and breach
    shares are exact integer aggregates of the quantized cells.

    Scale shape: one document scan to the bounded QI x source grid
    (the t-closeness class); group- and corpus-level aggregates after.
    1 row out.
    """
    t = Tables(spark, sf_dir)
    docs = t.documents.select(
        "lang",
        (F.col("n_chars") / BETA_BUCKET).cast("long").alias("len_bucket"),
        "source",
    )
    grp = docs.groupBy("lang", "len_bucket", "source").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    gsize = grp.groupBy("lang", "len_bucket").agg(F.sum("c").cast("long").alias("ng"))
    gsrc = grp.groupBy("source").agg(F.sum("c").cast("long").alias("cs"))
    nn = docs.agg(F.count(F.lit(1)).cast("long").alias("big_n"))
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    cells = (
        grp.join(gsize, ["lang", "len_bucket"])
        .join(F.broadcast(gsrc), "source")
        .crossJoin(F.broadcast(nn))
        .select(
            "lang",
            "len_bucket",
            F.when(
                dec38(F.col("c")) * F.col("big_n") > dec38(F.col("cs")) * F.col("ng"),
                halfup_div(
                    m6 * (dec38(F.col("c")) * F.col("big_n") - dec38(F.col("cs")) * F.col("ng")),
                    dec38(F.col("cs")) * F.col("ng"),
                ).cast("long"),
            )
            .otherwise(F.lit(0).cast("long"))
            .alias("beta_micro"),
        )
    )
    per_group = cells.groupBy("lang", "len_bucket").agg(
        F.max("beta_micro").alias("mb")
    )
    cols = [
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.max("mb").alias("max_beta_micro"),
    ]
    for bn, bd in BETA_THRESH:
        thr = 1_000_000 * bn // bd
        cols.append(
            halfup_div(
                m6 * dec38(F.sum(F.when(F.col("mb") > thr, 1).otherwise(0))),
                dec38(F.count(F.lit(1))),
            )
            .cast("long")
            .alias(f"share_groups_beta_gt_{bn}_{bd}_micro")
        )
    return per_group.agg(*cols)


# ---------------------------------------------------------------------------
# 5. Prosecutor re-identification risk profile
# ---------------------------------------------------------------------------

REID_KS = (5, 10, 20)


def _reid_oracle() -> str:
    hd = sql_halfup_div
    kcols = []
    for k in REID_KS:
        num = f"1000000::HUGEINT * sum(CASE WHEN ng < {k} THEN ng ELSE 0 END)"
        kcols.append(
            f"CAST({hd(num, 'sum(ng)')} AS BIGINT)"
            f" AS share_records_risk_gt_1_{k}_micro"
        )
    return f"""
    WITH docs AS (
      SELECT lang, CAST(n_chars // {BETA_BUCKET} AS BIGINT) AS len_bucket
      FROM documents
    ), gsize AS (
      SELECT lang, len_bucket, CAST(count(*) AS BIGINT) AS ng
      FROM docs GROUP BY 1, 2
    )
    SELECT CAST(sum(ng) AS BIGINT) AS n_records,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST({hd('1000000::HUGEINT * count(*)', 'sum(ng)')} AS BIGINT)
             AS avg_risk_micro,
           CAST({hd('1000000::HUGEINT', 'min(ng)')} AS BIGINT) AS max_risk_micro,
           {", ".join(kcols)}
    FROM gsize
    """


@register("privacy_reid_risk_prosecutor", oracle=_reid_oracle())
def privacy_reid_risk_prosecutor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prosecutor-model re-identification risk profile over the shared
    (lang x n_chars-bucket) quasi-identifier grouping: the adversary
    knows the target IS in the dataset, so a record's risk is
    1/|its QI group|. Reported: average risk (= groups/records — the
    El Emam expected re-identification rate), maximum risk (1/min
    group size — what ``privacy_k_anonymity_audit``'s k bounds), and
    the share of RECORDS at risk above 1/k for k in {5, 10, 20} (the
    journalist thresholds regulators quote). k-anonymity gives the
    worst case; this gives the whole risk distribution, which is what
    a release decision actually weighs.

    Exactness: group sizes are exact; every reported rate is ONE
    half-up micro division of exact integer sums (risk > 1/k is the
    exact integer condition size < k).

    Scale shape: one document scan to the bounded QI grid; one
    constant-size aggregate. 1 row out.
    """
    t = Tables(spark, sf_dir)
    gsize = (
        t.documents.select(
            "lang", (F.col("n_chars") / BETA_BUCKET).cast("long").alias("len_bucket")
        )
        .groupBy("lang", "len_bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("ng"))
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    zero = F.lit(0).cast("decimal(38,0)")
    cols = [
        F.sum("ng").cast("long").alias("n_records"),
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        halfup_div(m6 * dec38(F.count(F.lit(1))), F.sum(dec38(F.col("ng"))))
        .cast("long")
        .alias("avg_risk_micro"),
        halfup_div(m6, dec38(F.min("ng"))).cast("long").alias("max_risk_micro"),
    ]
    for k in REID_KS:
        cols.append(
            halfup_div(
                m6 * F.sum(F.when(F.col("ng") < k, dec38(F.col("ng"))).otherwise(zero)),
                F.sum(dec38(F.col("ng"))),
            )
            .cast("long")
            .alias(f"share_records_risk_gt_1_{k}_micro")
        )
    return gsize.agg(*cols)


# ---------------------------------------------------------------------------
# 6. Covariance participation ratio (exact integer scatter)
# ---------------------------------------------------------------------------

PR_Q = 10_000  # per-element quantization; 1e4 (not the cov-power 1e6)
# keeps tr(S)^2 and ||S||_F^2 inside decimal(38,0) through the x10
# replica and beyond (~1e10 vectors x 64 dims) -- the micro scale
# overflowed at x10 (caught by the pre-registration ladder)


def _pr_oracle() -> str:
    hd = sql_halfup_div
    return f"""
    WITH ex AS (
      SELECT vec_id, i,
             CAST(floor(CAST(x AS DOUBLE) * {PR_Q}.0 + 0.5) AS BIGINT) AS xq
      FROM (SELECT vec_id, unnest(embedding) AS x,
                   generate_subscripts(embedding, 1) AS i
            FROM embeddings)
    ), nn AS (
      SELECT CAST(count(DISTINCT vec_id) AS HUGEINT) AS n,
             CAST(max(i) AS BIGINT) AS d
      FROM ex
    ), means AS (
      SELECT i, CAST({hd('CAST(sum(xq) AS HUGEINT)', '(SELECT n FROM nn)')}
                     AS BIGINT) AS m
      FROM ex GROUP BY i
    ), cx AS (
      SELECT e.vec_id, e.i, e.xq - m.m AS c
      FROM ex e JOIN means m USING (i)
    ), scatter AS (
      SELECT a.i AS di, b.i AS dj,
             CAST(sum(a.c::HUGEINT * b.c) AS HUGEINT) AS s
      FROM cx a JOIN cx b ON a.vec_id = b.vec_id AND a.i <= b.i
      GROUP BY a.i, b.i
    ), traces AS (
      SELECT CAST(sum(CASE WHEN di = dj THEN s ELSE 0 END) AS HUGEINT) AS tr_s,
             CAST(sum(CASE WHEN di = dj THEN s * s ELSE 2 * s * s END)
                  AS HUGEINT) AS frob2
      FROM scatter
    )
    SELECT CAST(n.n AS BIGINT) AS n_vecs, n.d AS dim,
           CAST(t.tr_s AS BIGINT) AS trace_scatter,
           CAST({hd('1000000::HUGEINT * t.tr_s * t.tr_s', 't.frob2')} AS BIGINT)
             AS participation_ratio_micro,
           CAST({hd('1000000::HUGEINT * t.tr_s * t.tr_s', 't.frob2 * n.d')}
                AS BIGINT) AS pr_over_d_micro
    FROM traces t, nn n
    """


@register("embedding_participation_ratio", oracle=_pr_oracle())
def embedding_participation_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Participation ratio of the embedding covariance spectrum:
    PR = (sum lambda)^2 / sum lambda^2 = (tr S)^2 / ||S||_F^2 — the
    effective number of dimensions the variance actually occupies
    (PR = d for isotropic, 1 for rank-one), computed WITHOUT any
    eigendecomposition because both invariants come straight off the
    scatter matrix. ``embedding_cov_top_eigen_power`` finds the top
    direction; ``embedding_intrinsic_dim_twonn`` estimates local ID;
    PR is the global spectral-flatness number that decides how many
    PQ subspaces / projection dims are worth keeping, and its exact
    integer form makes it the cheapest of the three.

    Exactness: components micro-quantize once and center on half-up
    integer per-dim means (the cov-power convention); every scatter
    entry S_ij = sum c_i c_j is an exact decimal(38,0) integer, so
    tr S, ||S||_F^2, and the two output ratios are EXACT integer
    arithmetic end to end — no doubles anywhere. The 1e4 per-element
    quantization (vs the cov-power 1e6) keeps the Frobenius sum and
    the (tr S)^2 numerator inside decimal(38,0) out to ~1e10 vectors
    — the x10 ladder caught the micro-scale overflow before any
    driver run (the Bland-Altman class).

    Scale shape: the d^2-fan self-join on vec_id generates d(d+1)/2
    products per vector map-side and partial-aggregates to the
    bounded d x d grid; constant-size algebra after. 1 row out.
    """
    t = Tables(spark, sf_dir)
    ex = (
        t.embeddings.select(
            "vec_id",
            F.posexplode(F.col("embedding").cast("array<double>")).alias("pos0", "x"),
        )
        .select(
            "vec_id",
            (F.col("pos0") + 1).alias("i"),
            F.floor(F.col("x") * F.lit(float(PR_Q)) + F.lit(0.5))
            .cast("long")
            .alias("xq"),
        )
        .localCheckpoint(eager=False)
    )
    nn = ex.agg(
        F.countDistinct("vec_id").cast("decimal(38,0)").alias("n"),
        F.max("i").cast("long").alias("d"),
    )
    means = (
        ex.groupBy("i")
        .agg(F.sum(dec38(F.col("xq"))).alias("sx"))
        .crossJoin(F.broadcast(nn.select("n")))
        .select("i", halfup_div(F.col("sx"), F.col("n")).cast("long").alias("m"))
    )
    cx = ex.join(F.broadcast(means), "i").select(
        "vec_id", "i", (F.col("xq") - F.col("m")).alias("c")
    )
    a = cx.select("vec_id", F.col("i").alias("di"), F.col("c").alias("ca"))
    b = cx.select("vec_id", F.col("i").alias("dj"), F.col("c").alias("cb"))
    scatter = (
        a.join(b, "vec_id")
        .where(F.col("di") <= F.col("dj"))
        .groupBy("di", "dj")
        .agg(F.sum(dec38(F.col("ca")) * F.col("cb")).alias("s"))
    )
    traces = scatter.agg(
        F.sum(F.when(F.col("di") == F.col("dj"), F.col("s")).otherwise(
            F.lit(0).cast("decimal(38,0)")
        )).alias("tr_s"),
        F.sum(
            F.when(F.col("di") == F.col("dj"), F.col("s") * F.col("s")).otherwise(
                F.lit(2).cast("decimal(38,0)") * F.col("s") * F.col("s")
            )
        ).alias("frob2"),
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    return traces.crossJoin(F.broadcast(nn)).select(
        F.col("n").cast("long").alias("n_vecs"),
        F.col("d").alias("dim"),
        F.col("tr_s").cast("long").alias("trace_scatter"),
        halfup_div(m6 * F.col("tr_s") * F.col("tr_s"), F.col("frob2"))
        .cast("long")
        .alias("participation_ratio_micro"),
        halfup_div(
            m6 * F.col("tr_s") * F.col("tr_s"), F.col("frob2") * dec38(F.col("d"))
        )
        .cast("long")
        .alias("pr_over_d_micro"),
    )
