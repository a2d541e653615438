"""Round-14 direct registrations, batch AD (ANN-graph symmetry,
degree-distribution criticality, recurrence structure, binary-gate
association, distributional affinity, and bias-corrected association
strength).

Six window-slot completions, each oracle-paired, replica-pinned and
plan-barred in ``tests/test_roundfourteen9.py`` (same-commit gate
rule; the ONE new single-partition allowlist entry —
``events_recurrence_rate_daily``, the bounded value-grid median
class — lands in ``tests/test_plans.py`` in the same commit). Every
name was checked against the full 605-name registry inventory before
design (the SCALE §5j.7 authoring rule):

* ``similarity_knn_reciprocity_audit`` — share of directed cosine
  kNN edges that are mutual, over the hubness-audit hash sample.
* ``stats_phi_yule_q_gates`` — phi coefficient and Yule's Q for each
  quality-gate pair (the 2x2 association shelf).
* ``stats_bhattacharyya_hellinger_priority`` — Bhattacharyya
  coefficient / Hellinger distance between urgent and non-urgent
  discount distributions.
* ``stats_cramers_v_bias_corrected`` — Bergsma (2013) bias-corrected
  Cramer's V for priority x status.

``events_recurrence_rate_daily`` lives in
``operators/daily_spectral.py`` with the other daily-series queries.

Reference parity note: the reference (Go ingestion pipeline,
``/root/reference/main.go``) has no analytics; these extend SURVEY
§2.C similarity / graph / time-series / warehouse statistics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import dec38, halfup_div, sql_halfup_div
from ..registry import register
from ..tables import Tables

# ---------------------------------------------------------------------------
# 1. kNN reciprocity audit over the hubness hash sample
# ---------------------------------------------------------------------------


def _recip_oracle() -> str:
    from .roundtwelve10 import HUB_BUCKETS, HUB_K, HUB_PER_BUCKET

    hd = sql_halfup_div
    B, CAP, K = HUB_BUCKETS, HUB_PER_BUCKET, HUB_K
    return f"""
    WITH ranked AS (
      SELECT vec_id, embedding,
             row_number() OVER (PARTITION BY
               ('0x' || substr(sha256(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT % {B}
               ORDER BY ('0x' || substr(sha256('hub|' || CAST(vec_id AS VARCHAR)),
                         1, 15))::BIGINT, vec_id) AS rnk
      FROM embeddings
    ), vq AS (
      SELECT vec_id,
             generate_subscripts(embedding, 1) AS pos,
             CAST(floor(unnest(embedding::DOUBLE[]) * 1000000.0 + 0.5) AS BIGINT)
               AS xq
      FROM ranked WHERE rnk <= {CAP}
    ), norms AS (
      SELECT vec_id, CAST(sum(xq * xq) AS HUGEINT) AS n2
      FROM vq GROUP BY vec_id
    ), dots AS (
      SELECT a.vec_id AS va, b.vec_id AS vb,
             CAST(sum(a.xq * b.xq) AS HUGEINT) AS dot
      FROM vq a JOIN vq b ON a.pos = b.pos AND a.vec_id < b.vec_id
      GROUP BY a.vec_id, b.vec_id
    ), cos2 AS (
      SELECT va, vb,
             CAST(floor(CAST(dot AS DOUBLE)
                  / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
                  * 1000000.0) AS BIGINT) AS cq
      FROM dots
      JOIN norms na ON na.vec_id = va
      JOIN norms nb ON nb.vec_id = vb
      WHERE na.n2 > 0 AND nb.n2 > 0
    ), sym AS (
      SELECT va, vb, cq FROM cos2
      UNION ALL SELECT vb, va, cq FROM cos2
    ), nbr AS (
      SELECT va, vb,
             row_number() OVER (PARTITION BY va ORDER BY cq DESC, vb) AS r
      FROM sym
    ), knn AS (
      SELECT va, vb, r FROM nbr WHERE r <= {K}
    ), mut AS (
      SELECT a.va, a.vb, a.r AS r_ab, b.r AS r_ba
      FROM knn a JOIN knn b ON b.va = a.vb AND b.vb = a.va
    ), agg AS (
      SELECT
        (SELECT CAST(count(DISTINCT va) AS BIGINT) FROM knn) AS n_sample,
        (SELECT CAST(count(*) AS BIGINT) FROM knn) AS n_directed,
        (SELECT CAST(count(*) AS BIGINT) FROM mut) AS n_mutual,
        (SELECT CAST(count(*) AS BIGINT) FROM mut WHERE r_ab = 1 AND r_ba = 1)
          AS n_nn_mutual_x2
    )
    SELECT n_sample, CAST({K} AS BIGINT) AS k, n_directed, n_mutual,
           CAST({hd('1000000::HUGEINT * n_mutual', 'n_directed')} AS BIGINT)
             AS reciprocity_micro,
           CAST({hd('1000000::HUGEINT * n_nn_mutual_x2', 'n_sample')} AS BIGINT)
             AS nn_mutual_micro
    FROM agg
    """


@register("similarity_knn_reciprocity_audit", oracle=_recip_oracle())
def similarity_knn_reciprocity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocity of the directed cosine kNN graph over the
    deterministic 256-vector hash sample: the share of "a lists b in
    its top-k" edges where b also lists a, plus the share of points
    whose single nearest neighbor is MUTUAL. Low reciprocity is the
    operational face of hubness (``embedding_knn_hubness_audit``
    measures the k-occurrence skew; this measures the asymmetry it
    induces) and directly prices two pipeline choices: mutual-kNN
    pruning for dedup graphs and the reliability of symmetric-kNN
    assumptions in graph-based ANN indexes (Radovanovic et al. 2010;
    the mutual-NN condition is also the classic Fraley-Raftery
    clusterability signal).

    Determinism & exactness: the sample, quantized cosines and
    (cq desc, vec_id) neighbor ranking are the hubness-audit
    construction verbatim (re-stated per-op by that family's
    convention); edge and mutual-pair counts are exact integers off
    the self-join of the ranked edge list; two half-up micro
    divisions total.

    Scale shape: sample-bounded everywhere (256^2/2 x dim pair join;
    anchor-partitioned ranking windows); the audit cost does not grow
    with corpus size. 1 row out.
    """
    from pyspark.sql.window import Window

    from .roundtwelve10 import HUB_BUCKETS, HUB_K, HUB_PER_BUCKET

    B, CAP, K = HUB_BUCKETS, HUB_PER_BUCKET, HUB_K
    t = Tables(spark, sf_dir)
    sha = lambda c: F.conv(F.substring(F.sha2(c, 256), 1, 15), 16, 10).cast(  # noqa: E731
        "long"
    )
    w = Window.partitionBy("bkt").orderBy("hkey", "vec_id")
    ranked = (
        t.embeddings.select(
            "vec_id",
            "embedding",
            (sha(F.col("vec_id").cast("string")) % B).alias("bkt"),
            sha(F.concat(F.lit("hub|"), F.col("vec_id").cast("string"))).alias("hkey"),
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= CAP)
    )
    vq = ranked.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos0", "x"),
    ).select(
        "vec_id",
        (F.col("pos0") + 1).alias("pos"),
        F.floor(F.col("x") * 1000000.0 + 0.5).cast("long").alias("xq"),
    )
    norms = vq.groupBy("vec_id").agg(
        F.sum(dec38(F.col("xq") * F.col("xq"))).alias("n2")
    )
    a = vq.select(F.col("vec_id").alias("va"), "pos", F.col("xq").alias("xa"))
    bq = vq.select(F.col("vec_id").alias("vb"), "pos", F.col("xq").alias("xb"))
    dots = (
        a.join(bq, ["pos"])
        .filter(F.col("va") < F.col("vb"))
        .groupBy("va", "vb")
        .agg(F.sum(dec38(F.col("xa") * F.col("xb"))).alias("dot"))
    )
    na = norms.select(F.col("vec_id").alias("va"), F.col("n2").alias("na"))
    nb = norms.select(F.col("vec_id").alias("vb"), F.col("n2").alias("nb"))
    cos2 = (
        dots.join(F.broadcast(na), "va")
        .join(F.broadcast(nb), "vb")
        .filter((F.col("na") > 0) & (F.col("nb") > 0))
        .select(
            "va",
            "vb",
            F.floor(
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("na").cast("double"))
                    * F.sqrt(F.col("nb").cast("double"))
                )
                * F.lit(1e6)
            )
            .cast("long")
            .alias("cq"),
        )
    )
    sym = cos2.unionAll(
        cos2.select(F.col("vb").alias("va"), F.col("va").alias("vb"), "cq")
    )
    wn = Window.partitionBy("va").orderBy(F.col("cq").desc(), "vb")
    knn = sym.withColumn("r", F.row_number().over(wn)).filter(F.col("r") <= K)
    rev = knn.select(
        F.col("va").alias("vb"), F.col("vb").alias("va"), F.col("r").alias("r_ba")
    )
    mut = knn.join(rev, ["va", "vb"])
    counts = knn.agg(
        F.countDistinct("va").cast("long").alias("n_sample"),
        F.count(F.lit(1)).cast("long").alias("n_directed"),
    )
    mcounts = mut.agg(
        F.count(F.lit(1)).cast("long").alias("n_mutual"),
        F.sum(
            F.when((F.col("r") == 1) & (F.col("r_ba") == 1), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_nn_mutual_x2"),
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    return counts.crossJoin(F.broadcast(mcounts)).select(
        "n_sample",
        F.lit(K).cast("long").alias("k"),
        "n_directed",
        "n_mutual",
        halfup_div(m6 * dec38(F.col("n_mutual")), dec38(F.col("n_directed")))
        .cast("long")
        .alias("reciprocity_micro"),
        halfup_div(m6 * dec38(F.col("n_nn_mutual_x2")), dec38(F.col("n_sample")))
        .cast("long")
        .alias("nn_mutual_micro"),
    )


# ---------------------------------------------------------------------------
# 4. Phi coefficient + Yule's Q for each quality-gate pair
# ---------------------------------------------------------------------------


def _phi_oracle() -> str:
    from .roundfourteen5 import _gate_flags_sql  # noqa: F401  (convention ref)
    from .corpus import _SQL_TOKENS
    from .roundeight import (
        COCHRAN_MIN_SENTENCES,
        MCNEMAR_MIN_CHARS,
        MCNEMAR_MIN_TOKENS,
    )

    pair_rows = []
    for name, x, y in (
        ("chars_tokens", "a", "b"),
        ("chars_sentences", "a", "c"),
        ("tokens_sentences", "b", "c"),
    ):
        pair_rows.append(
            f"SELECT '{name}' AS pair, n, n_{x} AS nx, n_{y} AS ny,"
            f" n_{x}{y} AS nxy FROM agg"
        )
    return f"""
    WITH flags AS (
      SELECT CASE WHEN n_chars >= {MCNEMAR_MIN_CHARS} THEN 1 ELSE 0 END AS a,
             CASE WHEN len({_SQL_TOKENS}) >= {MCNEMAR_MIN_TOKENS} THEN 1 ELSE 0 END AS b,
             CASE WHEN len(string_split(text, '.')) - 1 >= {COCHRAN_MIN_SENTENCES}
                  THEN 1 ELSE 0 END AS c
      FROM documents
    ), agg AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(a) AS HUGEINT) AS n_a, CAST(sum(b) AS HUGEINT) AS n_b,
             CAST(sum(c) AS HUGEINT) AS n_c,
             CAST(sum(a * b) AS HUGEINT) AS n_ab,
             CAST(sum(a * c) AS HUGEINT) AS n_ac,
             CAST(sum(b * c) AS HUGEINT) AS n_bc
      FROM flags
    ), pairs AS (
      {" UNION ALL ".join(pair_rows)}
    ), cells AS (
      SELECT pair, n, nxy AS n11, nx - nxy AS n10, ny - nxy AS n01,
             n - nx - ny + nxy AS n00, nx, ny
      FROM pairs
    )
    SELECT pair,
           CAST(n11 AS BIGINT) AS n11, CAST(n10 AS BIGINT) AS n10,
           CAST(n01 AS BIGINT) AS n01, CAST(n00 AS BIGINT) AS n00,
           CASE WHEN nx > 0 AND ny > 0 AND nx < n AND ny < n THEN
             CAST(floor(CAST(n11 * n00 - n10 * n01 AS DOUBLE)
                        / (sqrt(CAST(nx AS DOUBLE)) * sqrt(CAST(n - nx AS DOUBLE))
                           * sqrt(CAST(ny AS DOUBLE)) * sqrt(CAST(n - ny AS DOUBLE)))
                        * 1000000.0::DOUBLE + 0.5) AS BIGINT)
           END AS phi_micro,
           CASE WHEN n11 * n00 + n10 * n01 > 0 THEN
             CAST((CASE WHEN (n11 * n00 - n10 * n01) < 0
                   THEN -((2000000::HUGEINT * abs(n11 * n00 - n10 * n01)
                           + (n11 * n00 + n10 * n01))
                          // (2::HUGEINT * (n11 * n00 + n10 * n01)))
                   ELSE ((2000000::HUGEINT * (n11 * n00 - n10 * n01)
                          + (n11 * n00 + n10 * n01))
                         // (2::HUGEINT * (n11 * n00 + n10 * n01)))
                   END) AS BIGINT)
           END AS yule_q_micro
    FROM cells ORDER BY pair
    """


@register("stats_phi_yule_q_gates", oracle=_phi_oracle())
def stats_phi_yule_q_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phi coefficient and Yule's Q for each PAIR of the three shared
    binary quality gates — the 2x2 association shelf: phi is the
    Pearson correlation of the indicator pair (margin-sensitive,
    bounded by the marginal imbalance), Yule's Q the odds-ratio
    transform (margin-free, hits +-1 whenever a cell empties).
    Reading them together separates "the gates agree because both
    nearly always pass" (phi small, Q large) from genuine overlap —
    the pairwise refinement of the multi-rater coefficients
    (``stats_fleiss_kappa_gates`` / ``stats_gwet_ac1_gates`` /
    ``stats_krippendorff_alpha_binary``) that tells WHICH gate is the
    redundant one.

    Exactness: the seven sufficient sums come off ONE document scan;
    all four 2x2 cells per pair are exact integer algebra; Q is one
    half-up micro division of exact cross-products; phi is a
    mirrored IEEE expression (four correctly-rounded sqrts of exact
    integers), quantized at micro. Degenerate margins NULL the
    respective coefficient.

    Scale shape: one partial-aggregated scan to seven scalars; the
    3-row pair fan is constant-size algebra. 3 rows out.
    """
    from ..functions.textnorm import whitespace_tokens
    from .roundeight import (
        COCHRAN_MIN_SENTENCES,
        MCNEMAR_MIN_CHARS,
        MCNEMAR_MIN_TOKENS,
    )

    t = Tables(spark, sf_dir)
    a = F.when(F.col("n_chars") >= MCNEMAR_MIN_CHARS, 1).otherwise(0)
    b = F.when(
        F.size(whitespace_tokens(F.col("text"))) >= MCNEMAR_MIN_TOKENS, 1
    ).otherwise(0)
    c = F.when(
        F.size(F.split(F.col("text"), "\\.", -1)) - 1 >= COCHRAN_MIN_SENTENCES, 1
    ).otherwise(0)
    agg = t.documents.select(a.alias("a"), b.alias("b"), c.alias("c")).agg(
        dec38(F.count(F.lit(1))).alias("n"),
        F.sum(dec38(F.col("a"))).alias("n_a"),
        F.sum(dec38(F.col("b"))).alias("n_b"),
        F.sum(dec38(F.col("c"))).alias("n_c"),
        F.sum(dec38(F.col("a") * F.col("b"))).alias("n_ab"),
        F.sum(dec38(F.col("a") * F.col("c"))).alias("n_ac"),
        F.sum(dec38(F.col("b") * F.col("c"))).alias("n_bc"),
    )
    rows = []
    for name, x, y, xy in (
        ("chars_tokens", "n_a", "n_b", "n_ab"),
        ("chars_sentences", "n_a", "n_c", "n_ac"),
        ("tokens_sentences", "n_b", "n_c", "n_bc"),
    ):
        rows.append(
            agg.select(
                F.lit(name).alias("pair"),
                F.col("n").alias("n"),
                F.col(x).alias("nx"),
                F.col(y).alias("ny"),
                F.col(xy).alias("nxy"),
            )
        )
    pairs = rows[0]
    for r in rows[1:]:
        pairs = pairs.unionByName(r)
    n11 = F.col("nxy")
    n10 = F.col("nx") - F.col("nxy")
    n01 = F.col("ny") - F.col("nxy")
    n00 = F.col("n") - F.col("nx") - F.col("ny") + F.col("nxy")
    num = n11 * n00 - n10 * n01
    qden = n11 * n00 + n10 * n01
    phi = num.cast("double") / (
        F.sqrt(F.col("nx").cast("double"))
        * F.sqrt((F.col("n") - F.col("nx")).cast("double"))
        * F.sqrt(F.col("ny").cast("double"))
        * F.sqrt((F.col("n") - F.col("ny")).cast("double"))
    )
    valid = (
        (F.col("nx") > 0)
        & (F.col("ny") > 0)
        & (F.col("nx") < F.col("n"))
        & (F.col("ny") < F.col("n"))
    )
    m6 = F.lit(2_000_000).cast("decimal(38,0)")  # via halfup_div(1e6*num, den)
    return pairs.select(
        "pair",
        n11.cast("long").alias("n11"),
        n10.cast("long").alias("n10"),
        n01.cast("long").alias("n01"),
        n00.cast("long").alias("n00"),
        F.when(valid, F.floor(phi * F.lit(1e6) + F.lit(0.5)).cast("long")).alias(
            "phi_micro"
        ),
        F.when(
            qden > 0,
            halfup_div(F.lit(1_000_000).cast("decimal(38,0)") * num, qden).cast(
                "long"
            ),
        ).alias("yule_q_micro"),
    ).orderBy("pair")


# ---------------------------------------------------------------------------
# 5. Bhattacharyya / Hellinger affinity of urgent vs other discounts
# ---------------------------------------------------------------------------


def _bhatt_oracle() -> str:
    hd = sql_halfup_div
    return """
    WITH li AS (
      SELECT CAST(floor(l.l_discount * 100.0 + 0.5) AS BIGINT) AS disc,
             CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS g
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ), cells AS (
      SELECT disc,
             CAST(sum(g) AS BIGINT) AS c1,
             CAST(count(*) - sum(g) AS BIGINT) AS c2
      FROM li GROUP BY disc
    ), tot AS (
      SELECT CAST(sum(c1) AS HUGEINT) AS n1, CAST(sum(c2) AS HUGEINT) AS n2
      FROM cells
    ), terms AS (
      SELECT CAST(sum(CAST(floor(sqrt(CAST(c1 AS DOUBLE) * CAST(c2 AS DOUBLE))
                                 * 1000.0::DOUBLE + 0.5) AS BIGINT)) AS HUGEINT)
               AS sq_milli
      FROM cells
    )
    SELECT CAST(t.n1 AS BIGINT) AS n_urgent, CAST(t.n2 AS BIGINT) AS n_other,
           CAST(floor(CAST(s.sq_milli AS DOUBLE) / 1000.0::DOUBLE
                      / (sqrt(CAST(t.n1 AS DOUBLE)) * sqrt(CAST(t.n2 AS DOUBLE)))
                      * 1000000.0::DOUBLE + 0.5) AS BIGINT) AS bhattacharyya_micro,
           CAST(floor(sqrt(1.0::DOUBLE
                           - CAST(s.sq_milli AS DOUBLE) / 1000.0::DOUBLE
                             / (sqrt(CAST(t.n1 AS DOUBLE))
                                * sqrt(CAST(t.n2 AS DOUBLE))))
                      * 1000000.0::DOUBLE + 0.5) AS BIGINT) AS hellinger_micro
    FROM tot t, terms s
    """


@register("stats_bhattacharyya_hellinger_priority", oracle=_bhatt_oracle())
def stats_bhattacharyya_hellinger_priority(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Bhattacharyya coefficient and Hellinger distance between the
    discount distributions of urgent and non-urgent order lines:
    BC = sum sqrt(p_i q_i) over the bounded discount grid, H =
    sqrt(1 - BC). The divergence shelf already prices these two
    distributions asymmetrically (KL-flavored members explode on
    empty cells) and symmetrically-but-unbounded; Hellinger is the
    bounded TRUE METRIC member (triangle inequality holds), which is
    what downstream threshold rules and clustering on distribution
    distances actually require, and BC is the Bayes-error bound
    (error >= (1 - sqrt(1 - BC^2))/2) behind "can any classifier even
    separate these groups".

    Exactness: cell counts are exact off one join-fan scan;
    sqrt(c1*c2) per bounded cell is a correctly-rounded IEEE sqrt of
    an exact integer product quantized to milli BEFORE the integer
    sum (11-cell domain); the BC/H assembly is one mirrored double
    expression, quantized at micro.

    Scale shape: one lineitem-orders equi-join partial-aggregates to
    the <= 101-cell discount grid; constant-size algebra after.
    1 row out.
    """
    t = Tables(spark, sf_dir)
    li = t.lineitem.join(
        t.orders.select("o_orderkey", "o_orderpriority"),
        t.lineitem.l_orderkey == F.col("o_orderkey"),
    ).select(
        F.floor(F.col("l_discount") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .alias("disc"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("g"),
    )
    cells = li.groupBy("disc").agg(
        F.sum("g").cast("long").alias("c1"),
        (F.count(F.lit(1)) - F.sum("g")).cast("long").alias("c2"),
    )
    tot = cells.agg(
        F.sum(dec38(F.col("c1"))).alias("n1"), F.sum(dec38(F.col("c2"))).alias("n2")
    )
    terms = cells.agg(
        F.sum(
            F.floor(
                F.sqrt(F.col("c1").cast("double") * F.col("c2").cast("double"))
                * F.lit(1e3)
                + F.lit(0.5)
            ).cast("long")
        ).alias("sq_milli")
    )
    bc = (
        F.col("sq_milli").cast("double")
        / F.lit(1e3)
        / (F.sqrt(F.col("n1").cast("double")) * F.sqrt(F.col("n2").cast("double")))
    )
    return tot.crossJoin(F.broadcast(terms)).select(
        F.col("n1").cast("long").alias("n_urgent"),
        F.col("n2").cast("long").alias("n_other"),
        F.floor(bc * F.lit(1e6) + F.lit(0.5)).cast("long").alias(
            "bhattacharyya_micro"
        ),
        F.floor(F.sqrt(F.lit(1.0) - bc) * F.lit(1e6) + F.lit(0.5))
        .cast("long")
        .alias("hellinger_micro"),
    )


# ---------------------------------------------------------------------------
# 6. Bias-corrected Cramer's V (Bergsma 2013) for priority x status
# ---------------------------------------------------------------------------


def _vcorr_oracle() -> str:
    return """
    WITH grid AS (
      SELECT o_orderpriority AS x, o_orderstatus AS y,
             CAST(count(*) AS HUGEINT) AS c
      FROM orders GROUP BY 1, 2
    ), margs AS (
      SELECT x, CAST(sum(c) AS HUGEINT) AS rx FROM grid GROUP BY x
    ), margc AS (
      SELECT y, CAST(sum(c) AS HUGEINT) AS cy FROM grid GROUP BY y
    ), nn AS (
      SELECT CAST(sum(c) AS HUGEINT) AS n,
             (SELECT CAST(count(*) AS HUGEINT) FROM margs) AS r,
             (SELECT CAST(count(*) AS HUGEINT) FROM margc) AS cc
      FROM grid
    ), terms AS (
      SELECT CAST(sum(
        (2000000000000::HUGEINT * g.c * g.c + m.rx * mc.cy)
        // (2::HUGEINT * m.rx * mc.cy)
      ) AS HUGEINT) AS chi_pico
      FROM grid g JOIN margs m USING (x) JOIN margc mc USING (y)
    )
    SELECT CAST(n.n AS BIGINT) AS n,
           CAST(n.r AS BIGINT) AS n_rows, CAST(n.cc AS BIGINT) AS n_cols,
           CAST(floor(
             sqrt(
               greatest(0.0::DOUBLE,
                 (CAST(t.chi_pico AS DOUBLE) / 1000000000000.0::DOUBLE
                  - 1.0::DOUBLE)
                 - CAST((n.r - 1) * (n.cc - 1) AS DOUBLE)
                   / CAST(n.n - 1 AS DOUBLE))
               / CAST(least(
                   n.r - ((n.r - 1) * (n.r - 1)) // (n.n - 1),
                   n.cc - ((n.cc - 1) * (n.cc - 1)) // (n.n - 1)) - 1 AS DOUBLE)
             ) * 1000000.0::DOUBLE + 0.5) AS BIGINT) AS cramers_v_corrected_micro
    FROM nn n, terms t
    """


@register("stats_cramers_v_bias_corrected", oracle=_vcorr_oracle())
def stats_cramers_v_bias_corrected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bias-corrected Cramer's V (Bergsma 2013) for order priority x
    order status: the plug-in V (``stats_cramers_v_priority_status``)
    is upward-biased — under exact independence its expectation is
    ~sqrt((r-1)(c-1)/(n-1)), not 0 — so small tables and weak
    associations read as spurious signal. The correction subtracts
    the independence expectation from phi^2 and shrinks the effective
    row/column counts, giving an estimator that is ~0 when nothing is
    there. Reporting it beside the uncorrected V turns the pair into
    a significance-free effect-size reading.

    Exactness: the chi-square sum quantizes each bounded cell's
    c^2/(r_i c_j) term at pico via exact half-up integer division
    (<= 15 cells) and sums integers; the Bergsma assembly (including
    the integer-floor shrunken dimensions, mirrored with // on both
    engines) is one double expression quantized at micro.

    Scale shape: one fact scan partial-aggregates to the bounded
    priority x status grid; constant-size algebra after. 1 row out.
    """
    t = Tables(spark, sf_dir)
    grid = t.orders.groupBy(
        F.col("o_orderpriority").alias("x"), F.col("o_orderstatus").alias("y")
    ).agg(dec38(F.count(F.lit(1))).alias("c"))
    margs = grid.groupBy("x").agg(F.sum("c").alias("rx"))
    margc = grid.groupBy("y").agg(F.sum("c").alias("cy"))
    nn = grid.agg(
        F.sum("c").alias("n"),
        dec38(F.countDistinct("x")).alias("r"),
        dec38(F.countDistinct("y")).alias("cc"),
    )
    terms = (
        grid.join(F.broadcast(margs), "x")
        .join(F.broadcast(margc), "y")
        .agg(
            F.sum(
                halfup_div(
                    F.lit(1_000_000_000_000).cast("decimal(38,0)")
                    * F.col("c")
                    * F.col("c"),
                    F.col("rx") * F.col("cy"),
                )
            ).alias("chi_pico")
        )
    )
    j = nn.crossJoin(F.broadcast(terms))
    phi2 = F.col("chi_pico").cast("double") / F.lit(1e12) - F.lit(1.0)
    corr = (
        (F.col("r") - 1) * (F.col("cc") - 1)
    ).cast("double") / (F.col("n") - 1).cast("double")
    # exact integer floor division (x - x % y) / y, mirroring SQL //
    def _fdiv(x, y):
        return (x - x % y) / y

    rsh = F.col("r") - _fdiv(
        (F.col("r") - 1) * (F.col("r") - 1), F.col("n") - 1
    )
    csh = F.col("cc") - _fdiv(
        (F.col("cc") - 1) * (F.col("cc") - 1), F.col("n") - 1
    )
    v = F.sqrt(
        F.greatest(F.lit(0.0), phi2 - corr)
        / (F.least(rsh, csh) - 1).cast("double")
    )
    return j.select(
        F.col("n").cast("long").alias("n"),
        F.col("r").cast("long").alias("n_rows"),
        F.col("cc").cast("long").alias("n_cols"),
        F.floor(v * F.lit(1e6) + F.lit(0.5)).cast("long").alias(
            "cramers_v_corrected_micro"
        ),
    )
