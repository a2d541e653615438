"""Round-9 operator batch B.

Gates: oracle parity, plan checks, fuzz profiles and replica tests in
``tests/test_roundten.py``.

Batch theme: remaining family corners — Page's trend test (the
ordered-alternative member of the Friedman block design), linear
counting (the bitmap-fill-rate cardinality sketch beside KMV and the
exact bitmap), discrete churn hazard (the derivative view of the
Kaplan-Meier curve), Benford second-digit forensics, binary-payload
dedup (the multimodal family's blob-store planner), and a Gamma
method-of-moments fit (completing Weibull/NegBin/Gumbel).

``stats_page_trend_l`` lives in ``operators/stats_rank.py``;
``stats_gamma_latency_fit_moments`` lives in ``operators/stats_dist.py``
with the other stats queries.

``events_churn_hazard_by_tenure`` lives in ``operators/events_users.py``
with the other events queries.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import order_cents
from ..registry import register
from ..tables import Tables


# ---------------------------------------------------------------------------
# 2. Linear counting (bitmap fill rate) distinct-user estimate + audit
# ---------------------------------------------------------------------------

LC_M = 4096


def _linear_counting_oracle() -> str:
    from ..functions.exact import sql_round_int_ratio

    m = LC_M
    return f"""
    WITH h AS (
      SELECT DISTINCT (('0x' || substr(sha256(CAST(user_id AS VARCHAR)), 1, 15)))::BIGINT
               % {m} AS bucket
      FROM events
    ), occ AS (SELECT CAST(count(*) AS BIGINT) AS occupied FROM h),
    ex AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS d_exact FROM events),
    {{LN_M}}, {{LN_V}}
    SELECT o.occupied, CAST({m} AS BIGINT) AS m, x.d_exact,
           CASE WHEN o.occupied < {m} THEN lnv.d_lc_est END AS d_lc_est,
           CASE WHEN o.occupied < {m} AND x.d_exact > 0 THEN
             {sql_round_int_ratio('abs(lnv.d_lc_est - x.d_exact)', 'x.d_exact')}
           END AS rel_error
    FROM occ o, ex x, lnv_rel lnv
    """


def _lc_ln_ctes() -> tuple[str, str]:
    from ..functions.detmath import sql_det_ln_steps

    m = LC_M
    base = f"""lnbase AS (
      SELECT occupied, CAST({m} AS BIGINT) AS mm,
             CAST({m} AS BIGINT) - occupied AS vv
      FROM occ
    ), {sql_det_ln_steps('lnbase', 'mm', 'lm')}"""
    est = f"""{sql_det_ln_steps('lm_rel', 'vv', 'lv')},
    lnv_rel AS (
      SELECT *,
             CAST((2 * {m}::HUGEINT * (lm - lv) + 1000000)
                  // 2000000 AS BIGINT) AS d_lc_est
      FROM lv_rel
    )"""
    return base, est


def _linear_counting_oracle_full() -> str:
    base, est = _lc_ln_ctes()
    return _linear_counting_oracle().replace("{LN_M}", base).replace("{LN_V}", est)


@register("sketch_linear_counting_users", oracle=_linear_counting_oracle_full())
def sketch_linear_counting_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear counting estimate of distinct event users: hash users
    into an m=4096-bucket bitmap and estimate D = m ln(m/V) from the
    count V of EMPTY buckets — the fill-rate cardinality sketch that
    completes the distinct-count family (exact bitmap = exact at
    bitmap cost; KMV = order statistics; linear counting = the
    small-range estimator HLL itself falls back to), reported beside
    the exact count with its relative error like every sketch audit
    in the registry.

    Mergeable by construction (bitmaps OR; the occupied-bucket set is
    a distinct-agg over bucket ids, which is exactly a map-side
    partial bitmap per partition). ln(m/V) = det-ln(m) - det-ln(V) in
    exact 1e-6 fixed-point units, so the estimate is an exact
    half-up integer division — bit-identical cross-engine. NULL at
    saturation (V = 0), where the estimator is undefined.
    """
    from ..functions.detmath import det_ln_q
    from ..functions.exact import round_int_ratio
    from ..functions.textnorm import sha256_prefix_i64

    m = LC_M
    t = Tables(spark, sf_dir)
    occ = (
        t.events.select(
            (sha256_prefix_i64(F.col("user_id").cast("string")) % m).alias("bucket")
        )
        .distinct()
        .agg(F.count(F.lit(1)).alias("occupied"))
    )
    ex = t.events.agg(F.countDistinct("user_id").alias("d_exact"))
    base = occ.select(
        "occupied",
        F.lit(m).cast("long").alias("m"),
        (F.lit(m) - F.col("occupied")).alias("vv"),
    )
    lncols = base.select(
        "occupied",
        "m",
        det_ln_q(F.col("m")).alias("lm"),
        det_ln_q(F.col("vv")).alias("lv"),
    )
    est_num = F.lit(2) * F.lit(m).cast("decimal(38,0)") * (F.col("lm") - F.col("lv")) + F.lit(
        1000000
    )
    est = (est_num - est_num % 2000000) / 2000000
    out = lncols.crossJoin(F.broadcast(ex))
    return out.select(
        "occupied",
        "m",
        "d_exact",
        F.when(F.col("occupied") < m, est.cast("long")).alias("d_lc_est"),
        F.when(
            (F.col("occupied") < m) & (F.col("d_exact") > 0),
            round_int_ratio(
                F.abs(est.cast("long") - F.col("d_exact")), F.col("d_exact")
            ),
        ).alias("rel_error"),
    )


# ---------------------------------------------------------------------------
# 4. Benford second-digit forensic audit of order totals
# ---------------------------------------------------------------------------

# P(second digit = d) = sum_{k=1..9} log10(1 + 1/(10k + d)); double
# literals generated once and spliced into BOTH engines verbatim.
BENFORD2_P = tuple(
    sum(math.log10(1.0 + 1.0 / (10 * k + d)) for k in range(1, 10)) for d in range(10)
)


def _benford2_oracle() -> str:
    cases = " ".join(
        f"WHEN {d} THEN {BENFORD2_P[d]!r}::DOUBLE" for d in range(10)
    )
    return f"""
    WITH v AS (
      SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders WHERE floor(o_totalprice * 100 + 0.5) >= 10
    ), d2 AS (
      SELECT CAST(substr(CAST(cents AS VARCHAR), 2, 1) AS BIGINT) AS digit FROM v
    ), obs AS (
      SELECT digit, CAST(count(*) AS BIGINT) AS observed FROM d2 GROUP BY digit
    ), dom AS (SELECT CAST(unnest(range(0, 10)) AS BIGINT) AS digit),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d2),
    cells AS (
      SELECT dom.digit, coalesce(obs.observed, 0) AS observed,
             CASE dom.digit {cases} END AS p
      FROM dom LEFT JOIN obs USING (digit)
    )
    SELECT c.digit, c.observed,
           CAST(floor(CAST(nn.n AS DOUBLE) * c.p * 1000000.0 + 0.5) AS BIGINT)
             AS expected_u,
           CAST(floor((CAST(c.observed AS DOUBLE) - CAST(nn.n AS DOUBLE) * c.p)
                      * (CAST(c.observed AS DOUBLE) - CAST(nn.n AS DOUBLE) * c.p)
                      / (CAST(nn.n AS DOUBLE) * c.p) * 1000000.0 + 0.5) AS BIGINT)
             / 1000000.0 AS chi2_contrib
    FROM cells c, nn ORDER BY c.digit
    """


@register("dq_benford_second_digit_totals", oracle=_benford2_oracle())
def dq_benford_second_digit_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford SECOND-digit audit of order totals: observed vs
    expected distribution of the second significant digit of the
    cent amount, with each digit's chi-square contribution — the
    standard forensic-accounting escalation of the first-digit test
    (``dq_benford_order_totals``): fabricated or rounded amounts
    distort the second digit long after the first digit looks clean
    (psychological round-number pricing shows up as mass on 0/5).

    The second significant digit of a positive integer is character
    two of its decimal rendering — identical string semantics in both
    engines, no float log extraction. The ten Benford probabilities
    are module-level double literals spliced verbatim into both
    sides; each digit's chi-square contribution quantizes half-up
    1e-6 BEFORE any cross-row summation, so no float aggregation
    order exists anywhere. One scan to a 10-row grid.
    """
    t = Tables(spark, sf_dir)
    cents = order_cents()
    v = t.orders.select(cents.alias("cents")).filter(F.col("cents") >= 10)
    d2 = v.select(F.substring(F.col("cents").cast("string"), 2, 1).cast("long").alias("digit"))
    obs = d2.groupBy("digit").agg(F.count(F.lit(1)).alias("observed"))
    dom = spark.range(10).select(F.col("id").alias("digit"))
    nn = d2.agg(F.count(F.lit(1)).alias("n"))
    p = None
    for d in range(10):
        p = (
            F.when(F.col("digit") == d, F.lit(BENFORD2_P[d]))
            if p is None
            else p.when(F.col("digit") == d, F.lit(BENFORD2_P[d]))
        )
    cells = (
        dom.join(obs, "digit", "left")
        .select("digit", F.coalesce(F.col("observed"), F.lit(0)).alias("observed"))
        .crossJoin(F.broadcast(nn))
        .select("digit", "observed", "n", p.alias("p"))
    )
    dev = F.col("observed").cast("double") - F.col("n").cast("double") * F.col("p")
    return cells.select(
        "digit",
        "observed",
        F.floor(F.col("n").cast("double") * F.col("p") * F.lit(1000000.0) + F.lit(0.5))
        .cast("long")
        .alias("expected_u"),
        (
            F.floor(
                dev * dev / (F.col("n").cast("double") * F.col("p")) * F.lit(1000000.0)
                + F.lit(0.5)
            ).cast("long")
            / F.lit(1e6)
        ).alias("chi2_contrib"),
    )


# ---------------------------------------------------------------------------
# 5. Binary payload dedup manifest (multimodal blob-store planning)
# ---------------------------------------------------------------------------

PAYLOAD_DEDUP_TOPK = 20


def _payload_dedup_oracle() -> str:
    return f"""
    WITH p AS (
      SELECT sha256(text) AS payload_sha,
             CAST(octet_length(encode(text)) AS BIGINT) AS payload_bytes
      FROM documents
    ), g AS (
      SELECT payload_sha,
             CAST(count(*) AS BIGINT) AS n_copies,
             CAST(max(payload_bytes) AS BIGINT) AS payload_bytes
      FROM p GROUP BY payload_sha
    )
    SELECT payload_sha, n_copies, payload_bytes,
           (n_copies - 1) * payload_bytes AS bytes_saved
    FROM g WHERE n_copies >= 2
    ORDER BY bytes_saved DESC, payload_sha LIMIT {PAYLOAD_DEDUP_TOPK}
    """


@register("multimodal_payload_dedup_manifest", oracle=_payload_dedup_oracle())
def multimodal_payload_dedup_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressed dedup manifest for opaque binary payloads:
    group payloads by content hash, surface the duplicate groups that
    save the most bytes if stored once — the blob-store planning step
    of the multimodal family (image/audio corpora routinely carry
    30%+ byte-identical duplicates; a content-addressed store needs
    exactly this manifest). Payload = encode(text) like the other
    multimodal ops (the fixture has no binary column; the SHAPE —
    hash over bytes, group, size accounting — is what matters).

    The hash-groupBy is the exact-dedup kernel (``dedup_exact_text``)
    with byte accounting instead of survivorship; top-k is a
    TakeOrderedAndProject over the duplicate groups (bounded by the
    answer, tie-broken on the hash). The binary column itself never
    shuffles — only its 64-hex digest and length do.
    """
    t = Tables(spark, sf_dir)
    p = t.documents.select(
        F.sha2(F.col("text"), 256).alias("payload_sha"),
        F.octet_length(F.encode(F.col("text"), "utf-8")).cast("long").alias(
            "payload_bytes"
        ),
    )
    g = p.groupBy("payload_sha").agg(
        F.count(F.lit(1)).alias("n_copies"),
        F.max("payload_bytes").alias("payload_bytes"),
    )
    return (
        g.filter(F.col("n_copies") >= 2)
        .select(
            "payload_sha",
            "n_copies",
            "payload_bytes",
            ((F.col("n_copies") - 1) * F.col("payload_bytes")).alias("bytes_saved"),
        )
        .orderBy(F.col("bytes_saved").desc(), "payload_sha")
        .limit(PAYLOAD_DEDUP_TOPK)
    )
