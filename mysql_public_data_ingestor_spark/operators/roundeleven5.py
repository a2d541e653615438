"""Round-11 direct registrations, batch D (sketches, ML eval, DQ,
privacy, embeddings).

Six completions, each oracle-paired, replica-pinned and plan-barred in
``tests/test_roundeleven5.py`` (same-commit gate rule): a Count-Sketch
median-of-rows frequency estimator (the signed sibling of CountMin),
the ROC convex hull (the achievable-classifier frontier), Nigrini's
first-two-digit Benford test, a discrete-Laplace (two-sided geometric)
DP release demo, the TwoNN intrinsic-dimension estimator, and an HLL
register-level audit (register histogram + raw & linear-counting
estimates, exactly reproducible cross-engine).

Reference parity note: the reference (Go ingestion pipeline) has no
analytics; these extend SURVEY §2.C sketches/privacy and §2.B ML-eval.

``ml_roc_convex_hull`` lives in ``operators/ml_ranking.py`` with the
other ml queries.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import dec38, halfup_div, order_cents, sql_halfup_div
from ..registry import register
from ..tables import Tables
from .sketches import _P, _sql_uhash, _uhash

# ---------------------------------------------------------------------------
# 1. Count-Sketch median-of-rows frequency estimator
# ---------------------------------------------------------------------------

CS_D = 5      # hash rows (odd -> exact integer median)
CS_W = 256    # buckets per row
CS_TOP = 20   # heavy users audited
# (a, b) for the bucket hash and (c, e) for the sign hash, per row
CS_ROWS = [
    (1_103_515_245, 12_345, 1_234_567, 89),
    (69_069, 362_437, 2_654_435, 769),
    (1_664_525, 1_013_904_223, 22_695_477, 1),
    (48_271, 0, 65_539, 7),
    (134_775_813, 1, 214_013, 2_531_011),
]


def _countsketch_oracle() -> str:
    rows_sql = []
    for i, (a, b, c, e) in enumerate(CS_ROWS):
        rows_sql.append(
            f"SELECT {i} AS i, user_id, {_sql_uhash('user_id', a, b, CS_W)} AS bkt,"
            f" 1 - 2 * ({_sql_uhash('user_id', c, e, 2)}) AS sgn"
            f" FROM ev"
        )
    hashes = " UNION ALL ".join(rows_sql)
    return f"""
    WITH ev AS (SELECT user_id FROM events),
    hx AS ({hashes}),
    counters AS (
      SELECT i, bkt, CAST(sum(sgn) AS BIGINT) AS cnt
      FROM hx GROUP BY i, bkt
    ), exact AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS exact_n
      FROM ev GROUP BY user_id
    ), top AS (
      SELECT user_id, exact_n FROM exact
      ORDER BY exact_n DESC, user_id LIMIT {CS_TOP}
    ), est_rows AS (
      SELECT t.user_id, t.exact_n, h.i, h.sgn * c.cnt AS est_i
      FROM top t
      JOIN (SELECT DISTINCT i, user_id, bkt, sgn FROM hx) h
        ON h.user_id = t.user_id
      JOIN counters c ON c.i = h.i AND c.bkt = h.bkt
    )
    SELECT user_id, exact_n,
           CAST(list_sort(list(est_i))[({CS_D} + 1) // 2] AS BIGINT) AS est_n,
           CAST(abs(list_sort(list(est_i))[({CS_D} + 1) // 2] - exact_n)
                AS BIGINT) AS abs_err
    FROM est_rows GROUP BY user_id, exact_n
    ORDER BY exact_n DESC, user_id
    """


@register("sketch_countmedian_topk_freq", oracle=_countsketch_oracle())
def sketch_countmedian_topk_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Sketch (Charikar-Chen-Farach-Colton) frequency estimates
    for the top-{CS_TOP} heavy users: d=5 signed counter rows of w=256
    buckets, estimate = MEDIAN over rows of sign(u) * C[i, h_i(u)] —
    the signed sibling of ``sketch_countmin_heavy_hitters`` (CountMin's
    min-of-rows biases UP under collisions; Count-Sketch's signed
    median is unbiased, which matters when heavy hitters share buckets
    — the audit columns let the two be compared directly on the same
    keys).

    Exactness: universal hashes are the shared reduce-before-multiply
    family (``sketches._uhash``, property-tested at +/-2^62); counters
    and the 5-row median (odd d -> exact middle element) are pure
    integers in both engines.

    Scale shape: one fan-out of d hash projections (a static 5-way
    union, each a row-local projection), partial-aggregated counters
    (d*w = 1280 cells BY MECHANISM), a top-k TakeOrdered on the exact
    side, and a 1280-row broadcast join back. The sketch state is
    mergeable across shards by cell-wise addition.
    """
    t = Tables(spark, sf_dir)
    ev = t.events.select("user_id")
    hx = None
    for i, (a, b, c, e) in enumerate(CS_ROWS):
        part = ev.select(
            F.lit(i).alias("i"),
            "user_id",
            _uhash(F.col("user_id"), a, b, CS_W).alias("bkt"),
            (1 - 2 * _uhash(F.col("user_id"), c, e, 2)).alias("sgn"),
        )
        hx = part if hx is None else hx.unionAll(part)
    counters = hx.groupBy("i", "bkt").agg(F.sum("sgn").cast("long").alias("cnt"))
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).cast("long").alias("exact_n"))
    top = exact.orderBy(F.col("exact_n").desc(), "user_id").limit(CS_TOP)
    key_hashes = hx.select("i", "user_id", "bkt", "sgn").distinct()
    est_rows = (
        top.join(key_hashes, "user_id")
        .join(F.broadcast(counters), ["i", "bkt"])
        .select("user_id", "exact_n", (F.col("sgn") * F.col("cnt")).alias("est_i"))
    )
    med = F.element_at(F.array_sort(F.collect_list("est_i")), (CS_D + 1) // 2)
    return (
        est_rows.groupBy("user_id", "exact_n")
        .agg(med.cast("long").alias("est_n"))
        .select(
            "user_id",
            "exact_n",
            "est_n",
            F.abs(F.col("est_n") - F.col("exact_n")).cast("long").alias("abs_err"),
        )
        .orderBy(F.col("exact_n").desc(), "user_id")
    )


# ---------------------------------------------------------------------------
# 3. Benford first-two-digit test (Nigrini)
# ---------------------------------------------------------------------------

# expected micro-probabilities log10(1 + 1/d), d = 10..99 — fixed
# integer literals shared by both engines (the PGRAM table convention)
F2D_P_MICRO = {
    d: int(math.log10(1.0 + 1.0 / d) * 1_000_000 + 0.5) for d in range(10, 100)
}


def _benford2_oracle() -> str:
    cases = " ".join(
        f"WHEN {d} THEN {p}" for d, p in F2D_P_MICRO.items()
    )
    hd = sql_halfup_div
    return f"""
    WITH v AS (
      SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders WHERE o_totalprice IS NOT NULL
        AND floor(o_totalprice * 100 + 0.5) >= 10
    ), d2 AS (
      SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 2) AS BIGINT) AS d
      FROM v
    ), obs AS (
      SELECT d, CAST(count(*) AS BIGINT) AS n_obs FROM d2 GROUP BY d
    ), spine AS (
      SELECT unnest(range(10, 100)) AS d
    ), nn AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM d2)
    SELECT CAST(s.d AS BIGINT) AS first_two,
           CAST(coalesce(o.n_obs, 0) AS BIGINT) AS n_obs,
           CAST(CASE s.d {cases} END AS BIGINT) AS expected_micro,
           CAST({hd(
               '(1000000::HUGEINT * coalesce(o.n_obs, 0)'
               ' - nn.n * (CASE s.d ' + cases + ' END))'
               ' * (1000000::HUGEINT * coalesce(o.n_obs, 0)'
               ' - nn.n * (CASE s.d ' + cases + ' END))',
               'nn.n * (CASE s.d ' + cases + ' END) * 1000000::HUGEINT')}
             AS BIGINT) AS chi2_contrib_micro
    FROM spine s LEFT JOIN obs o ON o.d = s.d, nn
    ORDER BY first_two
    """


@register("dq_benford_first_two_digits", oracle=_benford2_oracle())
def dq_benford_first_two_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nigrini's FIRST-TWO-DIGIT Benford test on order totals (in
    cents): chi-square contribution of each leading pair d = 10..99
    against log10(1 + 1/d) — the forensic-accounting standard one level
    finer than the first-digit (``dq_benford_order_totals``) and
    second-digit tests already in the family: duplicated or invented
    amounts cluster at specific PAIRS (round prices, psychological
    99s) that the marginal digit tests smear out.

    Exactness: digits come from decimal-string truncation (identical
    in both engines, no float log); expected probabilities are 90
    fixed micro-integer literals generated once in Python and embedded
    in BOTH plans (the periodogram-table convention); each cell's
    (1e6 n_d - N p_d)^2 / (N p_d 1e6) is one half-up division of exact
    decimal(38,0)/HUGEINT terms.

    Scale shape: one scan to <=90 observed cells, zero-filled against
    the static digit spine; everything after is 90-row algebra.
    """
    t = Tables(spark, sf_dir)
    cents = order_cents()
    v = t.orders.filter(F.col("o_totalprice").isNotNull()).select(
        cents.alias("cents")
    ).filter(F.col("cents") >= 10)
    d2 = v.select(F.substring(F.col("cents").cast("string"), 1, 2).cast("long").alias("d"))
    obs = d2.groupBy("d").agg(F.count(F.lit(1)).cast("long").alias("n_obs"))
    nn = d2.agg(dec38(F.count(F.lit(1))).alias("n"))
    spine = d2.sparkSession.range(10, 100).select(F.col("id").alias("d"))
    pmap = F.create_map(
        *[F.lit(x) for dp in F2D_P_MICRO.items() for x in dp]
    )
    m = F.lit(1_000_000).cast("decimal(38,0)")
    joined = (
        spine.join(obs, "d", "left")
        .crossJoin(F.broadcast(nn))
        .select(
            F.col("d").alias("first_two"),
            F.coalesce(F.col("n_obs"), F.lit(0)).cast("long").alias("n_obs"),
            pmap[F.col("d")].cast("long").alias("expected_micro"),
            "n",
        )
    )
    diff = m * F.col("n_obs") - F.col("n") * dec38(F.col("expected_micro"))
    return joined.select(
        "first_two",
        "n_obs",
        "expected_micro",
        halfup_div(diff * diff, F.col("n") * dec38(F.col("expected_micro")) * m)
        .cast("long")
        .alias("chi2_contrib_micro"),
    ).orderBy("first_two")


# ---------------------------------------------------------------------------
# 4. Discrete-Laplace (two-sided geometric) DP release demo
# ---------------------------------------------------------------------------

GEO_HASH_A, GEO_HASH_B = 69_069, 362_437
# eps = 0.5 -> alpha = e^-0.5; |k| = floor(-2 ln u) needs NO ln(alpha)
GEO_INV_EPS = 2.0


def _geo_oracle() -> str:
    from ..functions.detmath import sql_det_ln_steps

    return f"""
    WITH counts AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS true_count
      FROM events GROUP BY 1
    ), u AS (
      SELECT event_type, true_count,
             (CAST({_sql_uhash(
                 "(('0x' || substr(sha256(event_type), 1, 15))::BIGINT)",
                 GEO_HASH_A, GEO_HASH_B, _P)} AS DOUBLE) + 1.0)
               / {float(_P + 1)!r}::DOUBLE AS u01
      FROM counts
    ), centered AS (
      SELECT event_type, true_count, u01 - 0.5 AS c,
             1.0 - 2.0 * abs(u01 - 0.5) AS arg
      FROM u
    ), {sql_det_ln_steps('centered', 'arg', 'lnv', as_double=True)}, noise AS (
      SELECT event_type, true_count,
             CAST(CASE WHEN c >= 0 THEN 1 ELSE -1 END
                  * CAST(floor(-{GEO_INV_EPS!r}::DOUBLE * lnv) AS BIGINT)
                  AS BIGINT) AS noise_k
      FROM lnv_rel
    )
    SELECT event_type, true_count, noise_k,
           true_count + noise_k AS noisy_count,
           CAST(abs(noise_k) AS BIGINT) AS abs_err
    FROM noise ORDER BY event_type
    """


@register("privacy_geometric_mechanism_counts", oracle=_geo_oracle())
def privacy_geometric_mechanism_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type counts released under discrete-Laplace
    (two-sided geometric) pseudo-noise, the INTEGER-valued DP
    mechanism: magnitude |k| = floor(-ln(u)/eps) is inverse-CDF
    Geometric(1 - e^-eps), sign symmetric — for count queries the
    geometric mechanism is utility-optimal among eps-DP mechanisms
    (Ghosh-Roughgarden-Sundararajan) and never emits fractional
    counts, unlike the Laplace demo (``privacy_dp_laplace_counts``),
    whose plumbing-not-privacy caveat applies verbatim here: the noise
    is a deterministic function of the public group key with constants
    in source (a production release substitutes a secret-salted seed;
    the transform below is unchanged).

    Exactness: eps = 0.5 makes the magnitude floor(-2 ln u) — the one
    transcendental is the shared deterministic fixed-point ln
    (functions/detmath), so noise_k is the identical int64 in both
    engines; everything else is integer.

    Scale shape: one partial-aggregated count to |event_type| rows of
    scalar math.
    """
    from ..functions.detmath import det_ln_dbl
    from ..functions.textnorm import sha256_prefix_i64

    t = Tables(spark, sf_dir)
    counts = t.events.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("true_count")
    )
    h = _uhash(sha256_prefix_i64(F.col("event_type")), GEO_HASH_A, GEO_HASH_B, _P)
    u01 = (h.cast("double") + F.lit(1.0)) / F.lit(float(_P + 1))
    centered = counts.select(
        "event_type",
        "true_count",
        (u01 - F.lit(0.5)).alias("c"),
        (F.lit(1.0) - F.lit(2.0) * F.abs(u01 - F.lit(0.5))).alias("arg"),
    )
    mag = F.floor(F.lit(-GEO_INV_EPS) * det_ln_dbl(F.col("arg"))).cast("long")
    noise_k = (
        F.when(F.col("c") >= 0, F.lit(1)).otherwise(F.lit(-1)) * mag
    ).cast("long")
    return centered.select(
        "event_type",
        "true_count",
        noise_k.alias("noise_k"),
        (F.col("true_count") + noise_k).alias("noisy_count"),
        F.abs(noise_k).alias("abs_err"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# 5. TwoNN intrinsic-dimension estimator
# ---------------------------------------------------------------------------

TWONN_Q = 10_000    # coordinate quantization (1e-4) before exact distances
TWONN_ANCHORS = 128  # anchor sample size (hash-ordered, scale-invariant)


def _twonn_oracle() -> str:
    return f"""
    WITH qv AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * {TWONN_Q} + 0.5) AS BIGINT)) AS q
      FROM embeddings
    ), anchors AS (
      SELECT vec_id, q FROM (
        SELECT vec_id, q,
               ('0x' || substr(sha256(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT AS hv
        FROM qv ORDER BY hv, vec_id LIMIT {TWONN_ANCHORS}
      )
    ), coords_a AS (
      SELECT vec_id, i, q[i] AS x
      FROM anchors, unnest(range(1, len(q) + 1)) AS r(i)
    ), coords AS (
      SELECT vec_id, i, q[i] AS x
      FROM qv, unnest(range(1, len(q) + 1)) AS r(i)
    ), d2 AS (
      SELECT a.vec_id AS va, b.vec_id AS vb,
             CAST(sum((a.x - b.x) * (a.x - b.x)) AS BIGINT) AS dsq
      FROM coords_a a JOIN coords b ON a.i = b.i AND a.vec_id <> b.vec_id
      GROUP BY a.vec_id, b.vec_id
    ), pos AS (SELECT va, dsq FROM d2 WHERE dsq > 0),
    m1 AS (
      SELECT va, CAST(min(dsq) AS BIGINT) AS d1 FROM pos GROUP BY va
    ), m2 AS (
      SELECT p.va, CAST(min(p.dsq) AS BIGINT) AS d2
      FROM pos p JOIN m1 ON m1.va = p.va AND p.dsq > m1.d1
      GROUP BY p.va
    ), lnr AS (
      SELECT CAST(m2.d2 AS BIGINT) AS num, CAST(m1.d1 AS BIGINT) AS den
      FROM m1 JOIN m2 ON m2.va = m1.va
    ), dl AS (
      SELECT DISTINCT v FROM (SELECT num AS v FROM lnr UNION ALL SELECT den FROM lnr)
    ), {{LN_STEPS}}, lq AS (
      SELECT v, lv FROM lv_rel
    ), s AS (
      SELECT CAST(count(*) AS BIGINT) AS n_used,
             CAST(sum(ln_num.lv - ln_den.lv) AS HUGEINT) AS sum_2lnmu
      FROM lnr
      JOIN lq ln_num ON ln_num.v = lnr.num
      JOIN lq ln_den ON ln_den.v = lnr.den
    ), nn AS (SELECT CAST(count(*) AS BIGINT) AS n_vecs FROM qv)
    SELECT nn.n_vecs, s.n_used,
           CASE WHEN s.sum_2lnmu > 0 THEN
             CAST({sql_halfup_div('2000000000000::HUGEINT * s.n_used',
                                   's.sum_2lnmu')} AS BIGINT)
           END AS intrinsic_dim_micro
    FROM s, nn
    """


def _twonn_oracle_final() -> str:
    from ..functions.detmath import sql_det_ln_steps

    return _twonn_oracle().replace(
        "{LN_STEPS}", sql_det_ln_steps("dl", "v", "lv")
    )


@register("embedding_intrinsic_dim_twonn", oracle=_twonn_oracle_final())
def embedding_intrinsic_dim_twonn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TwoNN intrinsic-dimension estimate (Facco et al. 2017) of the
    embedding manifold: for each vector the ratio mu = r2/r1 of its
    two nearest-neighbor distances is Pareto(d) under local uniformity,
    so d_hat = n / sum ln(mu_i) — the capacity-planning number for the
    ANN family (IVF cell counts, PQ codebook sizes and LSH bandwidths
    all key off the INTRINSIC dimension, which for real embeddings sits
    far below the ambient 64).

    Exactness: coordinates quantize once at 1e-4, so squared euclidean
    distances are EXACT int64 (no float dot-product summation-order
    hazard — the reason this uses euclidean, not cosine); mu^2 ratios
    feed the shared deterministic fixed-point ln, and
    sum ln mu = sum (ln d2sq - ln d1sq)/2 is an exact micro-nat
    integer. Zero distances (duplicate vectors) are excluded; d2 is
    the smallest STRICTLY greater distance (ties at d1 contribute
    ln 1 = 0 either way).

    Scale shape: the estimator runs on a BOUNDED anchor sample — the
    {TWONN_ANCHORS} vectors smallest in (sha(vec_id), vec_id) order, a
    deterministic scale-invariant draw — broadcast against the
    partitioned corpus scan (the knn_brute query-side-broadcast shape,
    O(anchors * n), never the O(n^2) self-join; each mu_i is an iid
    Pareto(d) draw, so a fixed-size anchor sample is the statistically
    standard estimator, not an approximation shortcut). The ln fold
    and everything after run on <= {TWONN_ANCHORS} rows.
    """
    from ..functions.detmath import det_ln_q
    from ..functions.textnorm import sha256_prefix_i64

    t = Tables(spark, sf_dir)
    qv = t.embeddings.select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda x: F.floor(x.cast("double") * TWONN_Q + F.lit(0.5)).cast("long"),
        ).alias("q"),
    )
    anchors = (
        qv.withColumn("hv", sha256_prefix_i64(F.col("vec_id").cast("string")))
        .orderBy("hv", "vec_id")
        .limit(TWONN_ANCHORS)
        .select(F.col("vec_id"), F.col("q"))
    )
    # coordinate-exploded distance pass: (corpus coord rows) broadcast-
    # joined to anchor coord rows on the DIMENSION index keeps the whole
    # O(anchors * n * dim) pass inside whole-stage codegen with map-side
    # partial aggregation — the interpreted zip_with/aggregate HOF form
    # of the same join measured ~10x slower at the x10 scale (the
    # token-entropy det-ln note documents the same interpreted-fold
    # cost class)
    coords_a = anchors.select(
        F.col("vec_id").alias("va"), F.posexplode("q").alias("i", "xa")
    )
    coords = qv.select(
        F.col("vec_id").alias("vb"), F.posexplode("q").alias("i", "xb")
    )
    d2 = (
        coords.join(F.broadcast(coords_a), "i")
        .filter(F.col("va") != F.col("vb"))
        .groupBy(F.col("va").alias("vec_id"), "vb")
        .agg(
            F.sum((F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb"))).alias(
                "dsq"
            )
        )
        .select("vec_id", "dsq")
        .filter(F.col("dsq") > 0)
    )
    m1 = d2.groupBy("vec_id").agg(F.min("dsq").alias("d1"))
    m2 = (
        d2.join(F.broadcast(m1), "vec_id")
        .filter(F.col("dsq") > F.col("d1"))
        .groupBy("vec_id")
        .agg(F.min("dsq").alias("dd2"), F.max("d1").alias("d1"))
    )
    lnr = m2.select(
        (det_ln_q(F.col("dd2")) - det_ln_q(F.col("d1"))).alias("l2mu")
    )
    s = lnr.agg(
        F.count(F.lit(1)).cast("long").alias("n_used"),
        dec38(F.sum("l2mu")).alias("sum_2lnmu"),
    )
    nn = qv.agg(F.count(F.lit(1)).cast("long").alias("n_vecs"))
    return s.crossJoin(F.broadcast(nn)).select(
        "n_vecs",
        "n_used",
        F.when(
            F.col("sum_2lnmu") > 0,
            halfup_div(
                F.lit(2_000_000_000_000).cast("decimal(38,0)") * F.col("n_used"),
                F.col("sum_2lnmu"),
            ),
        )
        .cast("long")
        .alias("intrinsic_dim_micro"),
    )


# ---------------------------------------------------------------------------
# 6. HLL register-level audit (exactly reproducible cross-engine)
# ---------------------------------------------------------------------------

HLL_M = 256          # registers (2^8)
HLL_W_BITS = 52      # suffix bits ranked for leading zeros
HLL_ALPHA_MICRO = int(0.7213 / (1.0 + 1.079 / 256) * 1_000_000 + 0.5)


def _hll_oracle() -> str:
    from ..functions.detmath import sql_det_ln_steps

    m = HLL_M
    wb = HLL_W_BITS
    return f"""
    WITH h AS (
      SELECT DISTINCT ('0x' || substr(sha256(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS hv
      FROM events
    ), parts AS (
      SELECT hv % {m} AS reg, (hv // {m}) % {1 << wb} AS w FROM h
    ), rho AS (
      SELECT reg,
             CASE WHEN w = 0 THEN {wb + 1}
                  ELSE {wb} - (length(bin(w)) - 1) END AS r
      FROM parts
    ), regs AS (
      SELECT reg, CAST(max(r) AS BIGINT) AS mj FROM rho GROUP BY reg
    ), full_regs AS (
      SELECT s.reg, coalesce(r.mj, 0) AS mj
      FROM (SELECT unnest(range(0, {m})) AS reg) s
      LEFT JOIN regs r ON r.reg = s.reg
    ), s AS (
      SELECT CAST(sum(1::HUGEINT << ({wb + 1} - mj)) AS HUGEINT) AS denom_units,
             CAST(sum(CASE WHEN mj = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_empty,
             CAST(max(mj) AS BIGINT) AS max_reg
      FROM full_regs
    ), ex AS (
      SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users FROM events
    ), lc0 AS (
      SELECT CASE WHEN n_empty > 0 THEN {m} * 1000000 / n_empty END AS ratio_m,
             n_empty FROM s
    ), lcarg AS (
      SELECT CAST({m} AS DOUBLE) / CAST(n_empty AS DOUBLE) AS arg, n_empty
      FROM s WHERE n_empty > 0
    ), {sql_det_ln_steps('lcarg', 'arg', 'lnr', as_double=True)}
    SELECT {m}::BIGINT AS m_registers, ex.exact_users, s.n_empty, s.max_reg,
           CAST({sql_halfup_div(
               f'{HLL_ALPHA_MICRO}::HUGEINT * {m} * {m} * (1::HUGEINT << {wb + 1})',
               '1000000::HUGEINT * s.denom_units')} AS BIGINT) AS hll_raw_est,
           (SELECT CAST(floor({m} * lnr + 0.5) AS BIGINT) FROM lnr_rel)
             AS linear_counting_est
    FROM s, ex
    """


@register("sketch_hll_registers_audit", oracle=_hll_oracle())
def sketch_hll_registers_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog REGISTER-LEVEL audit over distinct users: build the
    m=256 registers explicitly from the portable 60-bit sha hash
    (register = h mod m, rank = leading-zero count of the next 52 bits
    + 1 via the binary-string-length idiom), and report BOTH
    estimators — the raw harmonic-mean HLL estimate and the
    linear-counting (empty-register) estimate — beside the exact count.
    This is the oracle-PAIRED member of the HLL family:
    ``agg_approx_count_distinct`` and ``events_hll_daily_union`` ride
    engine sketches whose hash is engine-private (rows-only checks);
    building the registers from the shared hash makes every register
    value, and therefore both estimates, bit-identical cross-engine.

    Exactness: the harmonic denominator sum 2^-M_j scales by 2^53 to
    an exact integer sum (register values bounded by 53, so each term
    is an exact power of two); alpha_256 is a fixed micro literal; the
    one ln (linear counting) is the shared deterministic ln.

    Scale shape: one distinct-user pass, one 256-cell register
    aggregate (mergeable by max, the HLL union property), 1-row
    algebra after.
    """
    from ..functions.detmath import det_ln_dbl
    from ..functions.textnorm import sha256_prefix_i64

    t = Tables(spark, sf_dir)
    m, wb = HLL_M, HLL_W_BITS
    h = t.events.select(
        sha256_prefix_i64(F.col("user_id").cast("string")).alias("hv")
    ).distinct()
    parts = h.select(
        (F.col("hv") % m).alias("reg"),
        ((F.col("hv") / m).cast("long") % F.lit(1 << wb)).alias("w"),
    )
    rho = parts.select(
        "reg",
        F.when(F.col("w") == 0, F.lit(wb + 1))
        .otherwise(F.lit(wb) - (F.length(F.bin(F.col("w"))) - 1))
        .cast("long")
        .alias("r"),
    )
    regs = rho.groupBy("reg").agg(F.max("r").alias("mj"))
    spine = h.sparkSession.range(0, m).select(F.col("id").alias("reg"))
    full_regs = spine.join(regs, "reg", "left").select(
        "reg", F.coalesce(F.col("mj"), F.lit(0)).cast("long").alias("mj")
    )
    s = full_regs.agg(
        F.sum(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST({wb + 1} - mj AS INT))").cast(
                "decimal(38,0)"
            )
        ).alias("denom_units"),
        F.sum(F.when(F.col("mj") == 0, 1).otherwise(0)).cast("long").alias("n_empty"),
        F.max("mj").alias("max_reg"),
    )
    ex = t.events.agg(F.countDistinct("user_id").cast("long").alias("exact_users"))
    lc = F.when(
        F.col("n_empty") > 0,
        F.floor(
            F.lit(float(m))
            * det_ln_dbl(F.lit(float(m)) / F.col("n_empty").cast("double"))
            + F.lit(0.5)
        ).cast("long"),
    )
    raw = halfup_div(
        F.lit(HLL_ALPHA_MICRO).cast("decimal(38,0)")
        * m
        * m
        * F.lit(1 << (wb + 1)).cast("decimal(38,0)"),
        F.lit(1_000_000).cast("decimal(38,0)") * F.col("denom_units"),
    )
    return s.crossJoin(F.broadcast(ex)).select(
        F.lit(m).cast("long").alias("m_registers"),
        "exact_users",
        "n_empty",
        F.col("max_reg").cast("long").alias("max_reg"),
        raw.cast("long").alias("hll_raw_est"),
        lc.alias("linear_counting_est"),
    )
