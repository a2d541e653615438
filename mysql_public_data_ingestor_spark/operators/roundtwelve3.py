"""Round-12 operator batch H.

Gates: raw-frame oracle parity, plan bars and Python replicas with
float anchors in ``tests/test_roundtwelve3.py``; SCALE.md §5j.9
records the ×10 ladder.

Batch theme — post-hoc tests, provenance and DP budget planning: the
Dunn nonparametric post-hoc pairwise test behind the existing
Kruskal–Wallis, a cross-source exact-duplicate contamination matrix,
and a differential-privacy budget utility
curve across epsilon levels. Every name was checked against the full
registry inventory before design (the §5j.7 authoring rule).

Reference parity note: the reference (Go ingestion pipeline) has no
analytics; these extend SURVEY §2.C warehouse statistics / dedup /
graph analytics / privacy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import dec38, halfup_div, sql_halfup_div
from ..registry import register
from ..tables import Tables

# ---------------------------------------------------------------------------
# 1. Dunn nonparametric post-hoc pairwise test (return-flag groups)
# ---------------------------------------------------------------------------


# Shared CTE chain up to the per-pair table (g_i, g_j, n_i, n_j, a_ij,
# n, cnum) — consumed by BOTH the Dunn oracle below and the Holm
# step-down oracle in roundtwelve6.py (one derivation, two tests: the
# r10 twin-sided-bug rule).
_DUNN_PAIR_CTES = """
    q AS (
      SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS v
      FROM lineitem WHERE l_quantity IS NOT NULL
    ), dv AS (
      SELECT v, CAST(count(*) AS BIGINT) AS cnt FROM q GROUP BY v
    ), r AS (
      SELECT v, cnt,
             coalesce(sum(cnt) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
      FROM dv
    ), gv AS (
      SELECT g, v, CAST(count(*) AS BIGINT) AS cnt_g FROM q GROUP BY g, v
    ), rg AS (
      SELECT gv.g,
             CAST(sum(gv.cnt_g) AS HUGEINT) AS n_g,
             CAST(sum(gv.cnt_g::HUGEINT * (2 * r.cum + r.cnt + 1)) AS HUGEINT)
               AS r2_g
      FROM gv JOIN r ON gv.v = r.v GROUP BY gv.g
    ), nt AS (
      SELECT CAST(sum(n_g) AS HUGEINT) AS n,
             (SELECT CAST(sum(cnt::HUGEINT * cnt * cnt - cnt) AS HUGEINT)
              FROM dv) AS tie3
      FROM rg
    ), cn AS (
      SELECT n, (n * (n + 1) * (n - 1) - tie3) AS cnum FROM nt
    ), pairs AS (
      SELECT a.g AS g_i, b.g AS g_j, a.n_g AS n_i, b.n_g AS n_j,
             (a.r2_g * b.n_g - b.r2_g * a.n_g) AS a_ij,
             c.n, c.cnum
      FROM rg a JOIN rg b ON a.g < b.g, cn c
    )
"""

# z^2 in shape-matched IEEE double (the KW-oracle precedent: *, / are
# correctly rounded identically in both engines; the exact-integer A^2
# path overflows decimal(38,0) at x10) — shared with roundtwelve6.
_SQL_DUNN_Z2 = """CAST(floor(
             ((((3.0 * CAST(n - 1 AS DOUBLE)) * CAST(a_ij AS DOUBLE))
               * CAST(a_ij AS DOUBLE)) * 1000000.0)
             / CAST(n_i * n_j AS DOUBLE)
             / CAST(n_i + n_j AS DOUBLE)
             / CAST(cnum AS DOUBLE) + 0.5) AS BIGINT)
             * (CASE WHEN a_ij < 0 THEN -1 ELSE 1 END)"""


def _dunn_oracle() -> str:
    hd = sql_halfup_div
    return f"""
    WITH {_DUNN_PAIR_CTES}
    SELECT g_i, g_j, CAST(n_i AS BIGINT) AS n_i, CAST(n_j AS BIGINT) AS n_j,
           CAST({hd('1000000::HUGEINT * a_ij', '2 * n_i * n_j')} AS BIGINT)
             AS rank_diff_micro,
           {_SQL_DUNN_Z2}
             AS dunn_z_sq_signed_micro
    FROM pairs ORDER BY g_i, g_j
    """


def _dunn_pairs(t: Tables) -> DataFrame:
    """Per-pair table (g_i, g_j, n_i, n_j, a_ij, n, cnum) of the Dunn
    derivation — 2x-midrank sums on the <= 50-value quantity grid, the
    exact pair numerator A_ij and the tie-corrected variance core.
    Shared by ``stats_dunn_posthoc_quantity`` and the Holm step-down
    wrapper in roundtwelve6.py (one derivation, two consumers)."""
    from pyspark.sql.window import Window

    q = t.lineitem.filter(F.col("l_quantity").isNotNull()).select(
        F.col("l_returnflag").alias("g"), F.col("l_quantity").cast("long").alias("v")
    )
    dv = q.groupBy("v").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    r = dv.select(
        "v", "cnt", F.coalesce(F.sum("cnt").over(w), F.lit(0)).alias("cum")
    )
    gv = q.groupBy("g", "v").agg(F.count(F.lit(1)).alias("cnt_g"))
    rg = (
        gv.join(F.broadcast(r), "v")
        .groupBy("g")
        .agg(
            dec38(F.sum("cnt_g")).alias("n_g"),
            F.sum(
                dec38(F.col("cnt_g")) * (2 * F.col("cum") + F.col("cnt") + 1)
            ).alias("r2_g"),
        )
    )
    tie3 = dv.agg(
        F.sum(
            dec38(F.col("cnt")) * F.col("cnt") * F.col("cnt") - dec38(F.col("cnt"))
        ).alias("tie3")
    )
    cn = (
        rg.agg(F.sum("n_g").alias("n"))
        .crossJoin(F.broadcast(tie3))
        .select(
            "n",
            (F.col("n") * (F.col("n") + 1) * (F.col("n") - 1) - F.col("tie3")).alias(
                "cnum"
            ),
        )
    )
    b = rg.select(
        F.col("g").alias("g_j"), F.col("n_g").alias("n_j"), F.col("r2_g").alias("r2_j")
    )
    pairs = (
        rg.select(
            F.col("g").alias("g_i"), F.col("n_g").alias("n_i"), F.col("r2_g").alias("r2_i")
        )
        .join(F.broadcast(b), F.col("g_i") < F.col("g_j"))
        .crossJoin(F.broadcast(cn))
        .select(
            "g_i",
            "g_j",
            "n_i",
            "n_j",
            (F.col("r2_i") * F.col("n_j") - F.col("r2_j") * F.col("n_i")).alias("a_ij"),
            "n",
            "cnum",
        )
    )
    return pairs


def _dunn_z2_unsigned():
    """Unsigned z^2 micro column over a ``_dunn_pairs`` row, in the
    shape-matched IEEE double sequence twinned by ``_SQL_DUNN_Z2``."""
    ad = F.col("a_ij").cast("double")
    return F.floor(
        (((F.lit(3.0) * (F.col("n") - 1).cast("double")) * ad) * ad * F.lit(1000000.0))
        / (F.col("n_i") * F.col("n_j")).cast("double")
        / (F.col("n_i") + F.col("n_j")).cast("double")
        / F.col("cnum").cast("double")
        + F.lit(0.5)
    ).cast("long")


@register("stats_dunn_posthoc_quantity", _dunn_oracle())
def stats_dunn_posthoc_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dunn post-hoc pairwise rank test behind
    ``stats_kruskal_wallis_quantity``: once KW rejects "all return-flag
    groups share a quantity distribution", Dunn says WHICH pairs differ
    — mean-rank difference per pair with the tie-corrected z statistic
    (signed square, the convention that avoids square roots). The
    nonparametric sibling of ``stats_tukey_hsd_priority`` (parametric
    post-hoc), sharing KW's bounded-grid rank machinery.

    Exactness: rank sums run in exact 2x-midrank units on the <= 50-row
    quantity grid (the KW convention); A_ij = r2_i n_j - r2_j n_i and
    the tie-corrected variance core Cn = N(N+1)(N-1) - sum(t^3 - t)
    are exact integers; z^2 = 3(N-1) A^2 / (n_i n_j (n_i+n_j) Cn) is
    evaluated in SHAPE-MATCHED IEEE double (the Kruskal-Wallis oracle
    precedent: double *, / are correctly rounded, so two engines
    evaluating the identical expression tree produce the identical
    bits; the exact-integer 1e6 A^2 numerator overflows decimal(38,0)
    at the x10 replica scale, and no integer staging balances the
    factor magnitudes) — the replica re-runs the same double sequence
    AND anchors against the textbook float formula.

    Scale shape: one scan to the (group x quantity-value) grid; the
    midrank cumulative is a window over <= 50 DISTINCT VALUES (domain-
    bounded, never row-scaled); pairs are a 3-row self-join.
    """
    t = Tables(spark, sf_dir)
    pairs = _dunn_pairs(t)
    # Cross-engine contract (ADVICE r11): a_ij is an exact integer that
    # can exceed 2^53 at x10 replica scale, so Spark's decimal->double
    # and DuckDB's HUGEINT->double casts must round identically. Both
    # engines use IEEE-754 round-to-nearest-even for integer->double
    # conversion (same precedent as the Kruskal-Wallis H path); the x10
    # replica in tests/test_roundtwelve3.py anchors this — if either
    # engine ever changes conversion rounding, that parity test is the
    # tripwire.
    z2 = _dunn_z2_unsigned()
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    return pairs.select(
        "g_i",
        "g_j",
        F.col("n_i").cast("long").alias("n_i"),
        F.col("n_j").cast("long").alias("n_j"),
        halfup_div(m6 * F.col("a_ij"), 2 * F.col("n_i") * F.col("n_j"))
        .cast("long")
        .alias("rank_diff_micro"),
        (z2 * F.when(F.col("a_ij") < 0, F.lit(-1)).otherwise(F.lit(1)))
        .cast("long")
        .alias("dunn_z_sq_signed_micro"),
    ).orderBy("g_i", "g_j")


# ---------------------------------------------------------------------------
# 2. Cross-source exact-duplicate contamination matrix
# ---------------------------------------------------------------------------


def _cross_source_oracle() -> str:
    hd = sql_halfup_div
    return f"""
    WITH hs AS (
      SELECT DISTINCT source, sha256(text) AS h FROM documents
    ), per_s AS (
      SELECT source, CAST(count(*) AS HUGEINT) AS n_hashes FROM hs GROUP BY source
    ), shared AS (
      SELECT a.source AS s_i, b.source AS s_j,
             CAST(count(*) AS HUGEINT) AS n_shared
      FROM hs a JOIN hs b ON a.h = b.h AND a.source < b.source
      GROUP BY a.source, b.source
    ), pairs AS (
      SELECT pi.source AS s_i, pj.source AS s_j,
             pi.n_hashes AS d_i, pj.n_hashes AS d_j,
             coalesce(sh.n_shared, 0::HUGEINT) AS n_shared
      FROM per_s pi
      JOIN per_s pj ON pi.source < pj.source
      LEFT JOIN shared sh ON sh.s_i = pi.source AND sh.s_j = pj.source
    )
    SELECT s_i, s_j, CAST(d_i AS BIGINT) AS n_distinct_i,
           CAST(d_j AS BIGINT) AS n_distinct_j,
           CAST(n_shared AS BIGINT) AS n_shared,
           CASE WHEN d_i + d_j - n_shared > 0 THEN
             CAST({hd('1000000::HUGEINT * n_shared', 'd_i + d_j - n_shared')}
                  AS BIGINT)
           END AS jaccard_micro
    FROM pairs ORDER BY s_i, s_j
    """


@register("dedup_cross_source_matrix", _cross_source_oracle())
def dedup_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source exact-duplicate contamination matrix: for every
    source pair, how many distinct document texts (by sha256) appear in
    BOTH — the provenance/licensing audit the within-corpus dedup
    family never answers (``dedup_exact_text`` finds duplicates;
    this attributes them to SOURCE pairs, which is what a takedown,
    license review, or crawler-overlap investigation consumes). Also
    the mirror-detection signal: a high-Jaccard pair means two feeds
    crawl the same upstream.

    Exactness: all counts exact integers; the Jaccard is ONE half-up
    1e-6 division per pair.

    Scale shape: one scan to the distinct (source, sha256) posting
    list; the pair counts ride a hash-keyed equi-self-join (the
    standard dedup-class shuffle — a text hash collides across at most
    |sources| rows, so the join output is bounded by |sources|^2 per
    hash, never quadratic in documents); the matrix is |sources|^2
    rows of algebra.
    """
    t = Tables(spark, sf_dir)
    hs = t.documents.select("source", F.sha2("text", 256).alias("h")).distinct()
    per_s = hs.groupBy("source").agg(dec38(F.count(F.lit(1))).alias("n_hashes"))
    b = hs.select(F.col("source").alias("s_j"), F.col("h").alias("h_j"))
    shared = (
        hs.join(b, (F.col("h") == F.col("h_j")) & (F.col("source") < F.col("s_j")))
        .groupBy(F.col("source").alias("s_i"), "s_j")
        .agg(dec38(F.count(F.lit(1))).alias("n_shared"))
    )
    pj = per_s.select(F.col("source").alias("s_j"), F.col("n_hashes").alias("d_j"))
    pairs = (
        per_s.select(F.col("source").alias("s_i"), F.col("n_hashes").alias("d_i"))
        .join(F.broadcast(pj), F.col("s_i") < F.col("s_j"))
        .join(F.broadcast(shared), ["s_i", "s_j"], "left")
        .select(
            "s_i",
            "s_j",
            "d_i",
            "d_j",
            F.coalesce(F.col("n_shared"), F.lit(0).cast("decimal(38,0)")).alias(
                "n_shared"
            ),
        )
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    union = F.col("d_i") + F.col("d_j") - F.col("n_shared")
    return pairs.select(
        "s_i",
        "s_j",
        F.col("d_i").cast("long").alias("n_distinct_i"),
        F.col("d_j").cast("long").alias("n_distinct_j"),
        F.col("n_shared").cast("long").alias("n_shared"),
        F.when(union > 0, halfup_div(m6 * F.col("n_shared"), union))
        .cast("long")
        .alias("jaccard_micro"),
    ).orderBy("s_i", "s_j")


# ---------------------------------------------------------------------------
# 4. Differential-privacy budget utility curve across epsilon levels
# ---------------------------------------------------------------------------

DP_EPS_MICRO = (100_000, 500_000, 1_000_000, 2_000_000, 5_000_000)


def _dp_utility_oracle() -> str:
    hd = sql_halfup_div
    per_eps = " UNION ALL ".join(
        f"""
    SELECT {e}::BIGINT AS eps_micro,
           (SELECT CAST(count(*) AS BIGINT) FROM cells) AS n_cells,
           (SELECT CAST(min(c) AS BIGINT) FROM cells) AS min_count,
           CAST({hd('1000000000000::HUGEINT', f'{e}::HUGEINT')} AS BIGINT)
             AS expected_abs_noise_micro,
           (SELECT CAST(count(*) AS BIGINT) FROM cells
            WHERE c * {e}::HUGEINT < 1000000000000::HUGEINT) AS cells_drowned,
           (SELECT CAST({hd('1000000000000000000::HUGEINT',
                            f'{e}::HUGEINT * min(c)')} AS BIGINT)
            FROM cells) AS worst_rel_err_micro"""
        for e in DP_EPS_MICRO
    )
    return f"""
    WITH cells AS (
      SELECT event_type, CAST(count(*) AS HUGEINT) AS c
      FROM events GROUP BY event_type
    ), levels AS ({per_eps})
    SELECT eps_micro, n_cells, min_count, expected_abs_noise_micro,
           cells_drowned, worst_rel_err_micro
    FROM levels ORDER BY eps_micro
    """


@register("privacy_dp_budget_utility_curve", _dp_utility_oracle())
def privacy_dp_budget_utility_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differential-privacy budget planning curve: for each epsilon in
    the standard ladder (0.1 / 0.5 / 1 / 2 / 5), the EXPECTED absolute
    Laplace noise per histogram cell (E|Lap(1/eps)| = 1/eps), how many
    event-type cells would be DROWNED (true count below the expected
    noise — their released value is mostly noise), and the worst-case
    relative error at the smallest cell. ``privacy_dp_laplace_counts``
    releases ONE noised histogram at a fixed epsilon; this prices the
    whole budget ladder analytically BEFORE any release — the
    epsilon-selection artifact a privacy review actually consumes
    (same policy-pricing-curve shape as the LSH banding and truncation
    curves).

    Exactness: everything is closed-form integer arithmetic — no
    sampled noise anywhere (deterministic by construction): expected
    noise is one half-up division 1e12/eps_micro, the drowned test is
    the exact integer inequality c * eps_micro < 1e12.

    Scale shape: one scan to the |event_type| cells; the 5-row ladder
    is scalar algebra per level.
    """
    t = Tables(spark, sf_dir)
    cells = t.events.groupBy("event_type").agg(dec38(F.count(F.lit(1))).alias("c"))
    t12 = F.lit(10**12).cast("decimal(38,0)")
    t18 = F.lit(10**18).cast("decimal(38,0)")
    agg = cells.agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.min("c").cast("long").alias("min_count"),
        *[
            F.sum(
                F.when(F.col("c") * F.lit(e).cast("decimal(38,0)") < t12, 1).otherwise(0)
            )
            .cast("long")
            .alias(f"dr_{i}")
            for i, e in enumerate(DP_EPS_MICRO)
        ],
    )
    levels = agg.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(e).cast("long").alias("eps_micro"),
                        F.col("n_cells").alias("n_cells"),
                        F.col("min_count").alias("min_count"),
                        F.col(f"dr_{i}").alias("cells_drowned"),
                    )
                    for i, e in enumerate(DP_EPS_MICRO)
                ]
            )
        ).alias("s")
    ).select("s.*")
    return levels.select(
        "eps_micro",
        "n_cells",
        "min_count",
        halfup_div(t12, dec38(F.col("eps_micro")))
        .cast("long")
        .alias("expected_abs_noise_micro"),
        "cells_drowned",
        halfup_div(t18, dec38(F.col("eps_micro")) * dec38(F.col("min_count")))
        .cast("long")
        .alias("worst_rel_err_micro"),
    ).orderBy("eps_micro")


# ---------------------------------------------------------------------------
# 5. Top covariance eigenpair via distributed power iteration
# ---------------------------------------------------------------------------

POWER_ITERS = 6
EIGEN_TOPK = 5


def _eigen_oracle() -> str:
    hd = sql_halfup_div
    steps = []
    prev_v = "v0"
    for t in range(1, POWER_ITERS + 1):
        steps.append(
            f"""s{t} AS MATERIALIZED (
      SELECT cx.vec_id, CAST(sum(cx.c * v.v) AS HUGEINT) AS s
      FROM cx JOIN {prev_v} v ON v.i = cx.i GROUP BY cx.vec_id
    ), w{t} AS MATERIALIZED (
      SELECT cx.i, CAST(sum(cx.c * s.s) AS HUGEINT) AS w
      FROM cx JOIN s{t} s ON s.vec_id = cx.vec_id GROUP BY cx.i
    ), m{t} AS (SELECT CAST(max(abs(w)) AS HUGEINT) AS m FROM w{t}),
    v{t} AS MATERIALIZED (
      SELECT w.i, {hd('1000000::HUGEINT * w.w', 'm.m')} AS v
      FROM w{t} w, m{t} m
    )"""
        )
        prev_v = f"v{t}"
    chain = ",\n    ".join(steps)
    T = POWER_ITERS
    return f"""
    WITH ex AS MATERIALIZED (
      SELECT vec_id, generate_subscripts(embedding, 1) AS i,
             CAST(floor(unnest(embedding::DOUBLE[]) * 1000000.0 + 0.5) AS BIGINT)
               AS xq
      FROM embeddings
    ), nn AS (SELECT CAST(count(DISTINCT vec_id) AS HUGEINT) AS n FROM ex),
    means AS (
      SELECT i, {hd('CAST(sum(xq) AS HUGEINT)', '(SELECT n FROM nn)')} AS m
      FROM ex GROUP BY i
    ), cx AS MATERIALIZED (
      SELECT e.vec_id, e.i, (e.xq - mm.m) AS c
      FROM ex e JOIN means mm ON mm.i = e.i
    ), v0 AS (
      SELECT unnest(range(1, (SELECT CAST(max(i) AS BIGINT) + 1 FROM ex))) AS i,
             1000000::HUGEINT AS v
    ),
    {chain},
    sf AS (
      SELECT cx.vec_id, CAST(sum(cx.c * v.v) AS HUGEINT) AS s
      FROM cx JOIN v{T} v ON v.i = cx.i GROUP BY cx.vec_id
    ), ray AS (
      SELECT (SELECT CAST(sum(s * s) AS HUGEINT) FROM sf) AS num,
             (SELECT CAST(sum(v * v) AS HUGEINT) FROM v{T}) AS den,
             (SELECT n FROM nn) AS n
    ), delta AS (
      SELECT CAST(max(abs(a.v - b.v)) AS BIGINT) AS d
      FROM v{T} a JOIN v{T - 1} b ON a.i = b.i
    )
    SELECT row_number() OVER (ORDER BY abs(v.v) DESC, v.i ASC) AS rank,
           CAST(v.i AS BIGINT) AS dim,
           CAST(v.v AS BIGINT) AS v_micro,
           CAST({hd('r.num', '1000000::HUGEINT * r.den * r.n')} AS BIGINT)
             AS eigenvalue_micro,
           CAST(r.n AS BIGINT) AS n_vecs,
           d.d AS delta_micro
    FROM v{T} v, ray r, delta d
    ORDER BY abs(v.v) DESC, v.i ASC
    LIMIT {EIGEN_TOPK}
    """


@register("embedding_cov_top_eigen_power", _eigen_oracle())
def embedding_cov_top_eigen_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top covariance eigenpair of the embedding corpus via
    DISTRIBUTED POWER ITERATION — the first PCA step every embedding-
    compression decision reads (how much variance lives in one
    direction decides whether PQ/OPQ rotation or dimension dropping is
    worth it; ``embedding_dim_correlation_topk`` finds correlated DIM
    PAIRS, this finds the global dominant direction). Reports the
    top-{EIGEN_TOPK} loading dims of the iterate, its Rayleigh
    quotient (per-vector variance units — a GUARANTEED lower bound on
    the top eigenvalue, tight iff converged), and the last-iteration
    sup-norm delta as the convergence certificate. A large delta with
    a Rayleigh well below trace/1 says the spectrum is FLAT — no
    dominant direction exists and one-direction compression is
    pointless, which is itself the decision output (the fixture's
    organic embeddings show exactly this; the planted-cluster fuzz
    profile converges fast).

    The Spark shape IS the textbook distributed algorithm: v lives as
    a broadcast 64-row table; each iteration is one map-side
    s_r = <c_r, v> per vector and one dim-keyed partial aggregate
    w_i = sum_r s_r c_ri — never a materialized 64x64 covariance, so
    the same plan runs at any corpus size with 2 narrow shuffles per
    iteration. {POWER_ITERS} unrolled iterations (the PageRank BSP
    convention).

    Determinism path: components micro-quantize ONCE at load (the
    norm2-ANOVA convention); centering subtracts the half-up integer
    per-dim mean; every iteration renormalizes v to max-abs = 1e6 by
    ONE half-up division (exact integer state -> the whole trajectory
    is bit-identical on both engines by induction); the eigenvalue is
    one final half-up Rayleigh ratio. The replica re-runs the exact
    integer trajectory AND anchors the eigenvalue/eigenvector against
    numpy.linalg.eigh on the float covariance (the §5i.11 twin-sided
    guard).

    Scale shape: the exploded (vec, dim, centered) table
    localCheckpoints once and feeds all {POWER_ITERS} iterations; the
    per-iteration reduce is 64 cells; the vec-keyed join reuses the
    same hash partitioning every iteration.
    """
    from pyspark.sql.window import Window

    t = Tables(spark, sf_dir)
    ex = (
        t.embeddings.select(
            "vec_id",
            F.posexplode(F.col("embedding").cast("array<double>")).alias("pos0", "x"),
        )
        .select(
            "vec_id",
            (F.col("pos0") + 1).alias("i"),
            F.floor(F.col("x") * F.lit(1e6) + F.lit(0.5)).cast("long").alias("xq"),
        )
        .localCheckpoint(eager=False)
    )
    nn = ex.agg(F.countDistinct("vec_id").cast("decimal(38,0)").alias("n"))
    means = (
        ex.groupBy("i")
        .agg(F.sum(dec38(F.col("xq"))).alias("sx"))
        .crossJoin(F.broadcast(nn))
        .select("i", halfup_div(F.col("sx"), F.col("n")).alias("m"))
    )
    cx = (
        ex.join(F.broadcast(means), "i")
        .select("vec_id", "i", (dec38(F.col("xq")) - F.col("m")).alias("c"))
        # EAGER: all 6 iterations re-read this table; a lazy checkpoint
        # would leave 6 nested copies of the scan in one analyzed plan
        .localCheckpoint(eager=True)
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    v = means.select("i", m6.alias("v"))  # v0: all-ones direction
    v_prev = None
    for _t in range(POWER_ITERS):
        s = (
            cx.join(F.broadcast(v), "i")
            .groupBy("vec_id")
            .agg(F.sum(F.col("c") * F.col("v")).alias("s"))
        )
        w = (
            cx.join(s, "vec_id")
            .groupBy("i")
            .agg(F.sum(F.col("c") * F.col("s")).alias("w"))
        )
        mx = w.agg(F.max(F.abs(F.col("w"))).alias("m"))
        v_prev = v
        v = w.crossJoin(F.broadcast(mx)).select(
            "i", halfup_div(m6 * F.col("w"), F.col("m")).alias("v")
        )
        # EAGER: cut the lineage each BSP step (the PageRank convention) —
        # chained lazy plans grow superlinearly in analysis time
        v = v.localCheckpoint(eager=True)
    sf = (
        cx.join(F.broadcast(v), "i")
        .groupBy("vec_id")
        .agg(F.sum(F.col("c") * F.col("v")).alias("s"))
    )
    ray = (
        sf.agg(F.sum(F.col("s") * F.col("s")).alias("num"))
        .crossJoin(F.broadcast(v.agg(F.sum(F.col("v") * F.col("v")).alias("den"))))
        .crossJoin(F.broadcast(nn))
    )
    delta = (
        v.join(
            v_prev.select(F.col("i").alias("i2"), F.col("v").alias("vp")),
            F.col("i") == F.col("i2"),
        )
        .agg(F.max(F.abs(F.col("v") - F.col("vp"))).cast("long").alias("d"))
    )
    lam = halfup_div(F.col("num"), m6 * F.col("den") * F.col("n"))
    return (
        v.crossJoin(F.broadcast(ray))
        .crossJoin(F.broadcast(delta))
        .orderBy(F.abs(F.col("v")).desc(), F.col("i").asc())
        .limit(EIGEN_TOPK)
        .select(
            F.row_number()
            .over(Window.orderBy(F.abs(F.col("v")).desc(), F.col("i").asc()))
            .cast("long")
            .alias("rank"),
            F.col("i").cast("long").alias("dim"),
            F.col("v").cast("long").alias("v_micro"),
            lam.cast("long").alias("eigenvalue_micro"),
            F.col("n").cast("long").alias("n_vecs"),
            F.col("d").alias("delta_micro"),
        )
    )
