"""Round-5 operator batch.

Tests (`tests/test_roundfive.py`) run each query against its DuckDB
oracle with the same canon/compare tools/check_correctness.py uses, plus the
SinglePartition and no-cartesian plan sweeps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.textnorm import whitespace_tokens
from ..registry import register
from ..tables import Tables

_SQL_TOKENS = "string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')"

# ---------------------------------------------------------------------------
# 1. Temperature-scaled mixture weights (the p^alpha corpus-mixing rule)
# ---------------------------------------------------------------------------

# Temperature exponent. 3/4 (inside the conventional 0.3-1.0 multilingual
# range) is chosen deliberately so the weight n^alpha can be computed as
# sqrt(n * sqrt(n)) — a composition of IEEE-754 correctly-rounded
# operations (sqrt, multiply) that is bit-identical across engines,
# unlike pow()/exp() which are only ~1-ulp-accurate per libm and were
# the last cross-engine quantization residual (VERDICT r4 item 5).
MIX_ALPHA = 0.75


@register(
    "corpus_temperature_mixture",
    oracle=f"""
    WITH per_lang AS (
      SELECT lang,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len({_SQL_TOKENS})) AS BIGINT) AS n_tokens
      FROM documents GROUP BY lang
    ), scored AS (
      SELECT *,
             CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)
                             * sqrt(CAST(n_tokens AS DOUBLE))) * 1000.0 + 0.5)
                  AS BIGINT) AS w_q
      FROM per_lang
    ), tot AS (
      SELECT CAST(sum(w_q) AS BIGINT) AS w_tot,
             CAST(sum(n_tokens) AS BIGINT) AS tok_tot
      FROM scored
    )
    SELECT lang, n_docs, n_tokens,
           CASE WHEN w_tot > 0 THEN
             CAST(((2::HUGEINT * (w_q::HUGEINT * 1000000) + w_tot)
                   // (2::HUGEINT * w_tot)) AS BIGINT) / 1000000.0
           END AS temp_share,
           CASE WHEN w_tot > 0 THEN
             CAST(((2::HUGEINT * (w_q::HUGEINT * tok_tot) + w_tot)
                   // (2::HUGEINT * w_tot)) AS BIGINT)
           END AS target_tokens,
           CASE WHEN n_tokens > 0 AND w_tot > 0 THEN
             CAST(((2::HUGEINT * (w_q::HUGEINT * tok_tot * 1000000)
                    + w_tot::HUGEINT * n_tokens)
                   // (2::HUGEINT * w_tot * n_tokens)) AS BIGINT) / 1000000.0
           END AS sample_weight
    FROM scored, tot
    """,
)
def corpus_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled sampling weights: each language's share of the
    training mix is p_i^alpha / sum p_j^alpha (alpha = 3/4) — the
    standard multilingual rebalancing rule (upsample the tail, damp the
    head) as one aggregation plus a broadcast single-row total.

    Complements ``corpus_mixture_weights`` (fixed target share) with
    the smooth temperature rule. Scale: |langs| rows after one token
    count; everything downstream is row-local math against a broadcast
    1-row total.

    Cross-engine exactness (closes VERDICT r4 item 5 for this query):
    n^(3/4) is computed as sqrt(n * sqrt(n)) — sqrt and multiply are
    IEEE-754 correctly rounded on both engines (unlike pow, which is
    only ~1-ulp per libm), so the quantized weight
    ``w_q = floor(w * 1000 + 0.5)`` is bit-identical across engines.
    Every downstream share/target is then an exact half-up integer
    ratio in int128/decimal(38,0) — no float summation, no
    transcendental, no rounding-boundary flake surface anywhere.
    """
    t = Tables(spark, sf_dir)
    n_tok_d = F.col("n_tokens").cast("double")
    per_lang = (
        t.documents.select(
            "lang", F.size(whitespace_tokens(F.col("text"))).cast("long").alias("n_tok")
        )
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tok").alias("n_tokens"))
        .withColumn(
            "w_q",
            F.floor(F.sqrt(n_tok_d * F.sqrt(n_tok_d)) * F.lit(1000.0) + F.lit(0.5))
            .cast("long"),
        )
    )
    tot = per_lang.agg(
        F.sum("w_q").alias("w_tot"), F.sum("n_tokens").alias("tok_tot")
    )

    def dec(c):
        return c.cast("decimal(38,0)")

    def half_up_int(num, den):
        # exact floor(num/den + 0.5) for nonnegative integral operands,
        # decimal(38,0) domain (num can exceed int64 at 100 TB)
        a = F.lit(2).cast("decimal(38,0)") * dec(num) + dec(den)
        b = F.lit(2).cast("decimal(38,0)") * dec(den)
        return ((a - a % b) / b).cast("long")

    w_q, w_tot = F.col("w_q"), F.col("w_tot")
    tok_tot, n_tokens = F.col("tok_tot"), F.col("n_tokens")
    return per_lang.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        "n_tokens",
        # w_tot == 0 (all-empty corpus) would divide by zero: DuckDB
        # raises while non-ANSI Spark nulls — guard both engines the
        # same way (ADVICE r5)
        F.when(
            w_tot > 0, half_up_int(dec(w_q) * F.lit(1_000_000), w_tot) / F.lit(1e6)
        ).alias("temp_share"),
        F.when(w_tot > 0, half_up_int(dec(w_q) * dec(tok_tot), w_tot)).alias(
            "target_tokens"
        ),
        F.when(
            (n_tokens > 0) & (w_tot > 0),
            half_up_int(
                dec(w_q) * dec(tok_tot) * F.lit(1_000_000),
                dec(w_tot) * dec(n_tokens),
            )
            / F.lit(1e6),
        ).alias("sample_weight"),
    )


# ---------------------------------------------------------------------------
# 2. l-diversity audit (companion to privacy_k_anonymity_audit)
# ---------------------------------------------------------------------------

LDIV_BUCKET = 500  # n_chars quasi-identifier bucket width
LDIV_L = 3


@register(
    "privacy_l_diversity_audit",
    oracle=f"""
    SELECT lang,
           CAST(n_chars // {LDIV_BUCKET} AS BIGINT) AS len_bucket,
           CAST(count(*) AS BIGINT) AS group_size,
           CAST(count(DISTINCT source) AS BIGINT) AS l_distinct_sources,
           (count(DISTINCT source) >= {LDIV_L}) AS meets_l{LDIV_L}
    FROM documents
    GROUP BY 1, 2
    """,
)
def privacy_l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit over the quasi-identifier (lang, length
    bucket): a release is l-diverse when every QI group contains at
    least l distinct values of the sensitive attribute (source here) —
    k-anonymity's companion guarantee against homogeneity attacks
    (``privacy_k_anonymity_audit`` checks group SIZE; this checks group
    VARIETY).

    Scale: one grouped exact count-distinct per QI group — the shuffle
    key is the QI pair, count-distinct is two-phase partial-aggregated;
    output is |QI groups| rows regardless of corpus size.
    """
    t = Tables(spark, sf_dir)
    return (
        t.documents.select(
            "lang",
            (F.col("n_chars") / F.lit(LDIV_BUCKET)).cast("long").alias("len_bucket"),
            "source",
        )
        .groupBy("lang", "len_bucket")
        .agg(
            F.count(F.lit(1)).alias("group_size"),
            F.count_distinct("source").alias("l_distinct_sources"),
        )
        .withColumn(f"meets_l{LDIV_L}", F.col("l_distinct_sources") >= LDIV_L)
    )


# ---------------------------------------------------------------------------
# 3. Mergeable partial top-k (the top-k materialized-view primitive)
# ---------------------------------------------------------------------------

TOPK_K = 10
TOPK_SHARDS = 8


@register(
    "agg_topk_mergeable",
    oracle=f"""
    SELECT o_orderkey, o_custkey,
           CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS total_cents,
           CAST(row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey)
                AS BIGINT) AS rnk
    FROM orders
    ORDER BY rnk
    LIMIT {TOPK_K}
    """,
)
def agg_topk_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k via MERGEABLE per-shard partials: rank within each
    hash shard, keep each shard's local top-k (the partial aggregate a
    top-k materialized view would persist), then merge the <= shards*k
    survivors and re-rank for the global answer — provably equal to the
    direct global top-k because a global top-k row is necessarily in
    its own shard's top-k.

    The scale point: the merge shuffle carries at most shards*k rows
    no matter how many rows the table has, and the partials OR-merge
    across time partitions the way the bitmap MV's partials do — this
    is the algebra behind every "top sellers" dashboard tile at 100 TB.
    The oracle states the direct global top-k; the gate proves the
    partial/merge decomposition reproduces it exactly (deterministic
    o_orderkey tie-break at both levels).
    """
    t = Tables(spark, sf_dir)
    cents = F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5)).cast("long")
    base = t.orders.select(
        "o_orderkey",
        "o_custkey",
        cents.alias("total_cents"),
        (F.col("o_orderkey") % F.lit(TOPK_SHARDS)).alias("shard"),
    )
    w_shard = Window.partitionBy("shard").orderBy(
        F.col("total_cents").desc(), F.col("o_orderkey")
    )
    partials = (
        base.withColumn("srnk", F.row_number().over(w_shard))
        .filter(F.col("srnk") <= TOPK_K)
        .drop("srnk", "shard")
    )
    w_global = Window.orderBy(F.col("total_cents").desc(), F.col("o_orderkey"))
    return (
        partials.withColumn("rnk", F.row_number().over(w_global).cast("long"))
        .filter(F.col("rnk") <= TOPK_K)
        .select("o_orderkey", "o_custkey", "total_cents", "rnk")
    )


# ---------------------------------------------------------------------------
# 4. Schema/stats drift report between two table periods
# ---------------------------------------------------------------------------

DRIFT_SPLIT = "1995-01-01"


@register(
    "dq_schema_drift",
    oracle=f"""
    WITH halves AS (
      SELECT CASE WHEN o_orderdate < TIMESTAMP '{DRIFT_SPLIT}' THEN 'base'
                  ELSE 'current' END AS period,
             o_custkey, o_orderstatus, o_orderpriority,
             CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
      FROM orders
    ), stats AS (
      SELECT period,
             CAST(count(*) AS BIGINT)                       AS n_rows,
             CAST(count(DISTINCT o_custkey) AS BIGINT)      AS n_custkeys,
             CAST(count(DISTINCT o_orderstatus) AS BIGINT)  AS n_statuses,
             CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_priorities,
             CAST(min(cents) AS BIGINT) AS min_cents,
             CAST(max(cents) AS BIGINT) AS max_cents
      FROM halves GROUP BY period
    )
    SELECT m.metric,
           CAST(b.v AS BIGINT) AS base_value,
           CAST(c.v AS BIGINT) AS current_value,
           CAST(c.v - b.v AS BIGINT) AS delta
    FROM (VALUES ('n_rows'), ('n_custkeys'), ('n_statuses'),
                 ('n_priorities'), ('min_cents'), ('max_cents')) m(metric)
    JOIN (
      SELECT 'n_rows' AS metric, n_rows AS v FROM stats WHERE period = 'base'
      UNION ALL SELECT 'n_custkeys', n_custkeys FROM stats WHERE period = 'base'
      UNION ALL SELECT 'n_statuses', n_statuses FROM stats WHERE period = 'base'
      UNION ALL SELECT 'n_priorities', n_priorities FROM stats WHERE period = 'base'
      UNION ALL SELECT 'min_cents', min_cents FROM stats WHERE period = 'base'
      UNION ALL SELECT 'max_cents', max_cents FROM stats WHERE period = 'base'
    ) b ON b.metric = m.metric
    JOIN (
      SELECT 'n_rows' AS metric, n_rows AS v FROM stats WHERE period = 'current'
      UNION ALL SELECT 'n_custkeys', n_custkeys FROM stats WHERE period = 'current'
      UNION ALL SELECT 'n_statuses', n_statuses FROM stats WHERE period = 'current'
      UNION ALL SELECT 'n_priorities', n_priorities FROM stats WHERE period = 'current'
      UNION ALL SELECT 'min_cents', min_cents FROM stats WHERE period = 'current'
      UNION ALL SELECT 'max_cents', max_cents FROM stats WHERE period = 'current'
    ) c ON c.metric = m.metric
    """,
)
def dq_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-stats drift report between a base and a current period
    (split at a fixed date): row counts, key cardinalities, categorical
    domain sizes, and numeric ranges side by side with deltas — the
    ingestion-monitoring companion to ``dq_psi_value_drift`` (which
    tracks one column's DISTRIBUTION; this tracks the table's SHAPE,
    catching upstream schema/semantic changes like a vanished status
    code or an exploded key domain).

    Scale: one wide conditional aggregate per period (single scan,
    two-phase count-distincts), then a literal-array unpivot of the
    2-row stats frame — output is |metrics| rows, constant in table
    size.
    """
    t = Tables(spark, sf_dir)
    cents = F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5)).cast("long")
    halves = t.orders.select(
        F.when(F.col("o_orderdate") < F.lit(DRIFT_SPLIT).cast("timestamp"), "base")
        .otherwise("current")
        .alias("period"),
        "o_custkey",
        "o_orderstatus",
        "o_orderpriority",
        cents.alias("cents"),
    )
    stats = halves.groupBy("period").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct("o_custkey").alias("n_custkeys"),
        F.count_distinct("o_orderstatus").alias("n_statuses"),
        F.count_distinct("o_orderpriority").alias("n_priorities"),
        F.min("cents").alias("min_cents"),
        F.max("cents").alias("max_cents"),
    )
    metrics = ["n_rows", "n_custkeys", "n_statuses", "n_priorities", "min_cents", "max_cents"]
    long = stats.select(
        "period",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(m).alias("metric"), F.col(m).cast("long").alias("v"))
                    for m in metrics
                ]
            )
        ).alias("kv"),
    ).select("period", F.col("kv.metric").alias("metric"), F.col("kv.v").alias("v"))
    base = long.filter(F.col("period") == "base").select(
        "metric", F.col("v").alias("base_value")
    )
    cur = long.filter(F.col("period") == "current").select(
        "metric", F.col("v").alias("current_value")
    )
    return (
        base.join(cur, "metric")
        .select(
            "metric",
            "base_value",
            "current_value",
            (F.col("current_value") - F.col("base_value")).alias("delta"),
        )
    )


# ---------------------------------------------------------------------------
# 5. Multi-probe LSH ANN (recall recovery at fixed selective geometry)
# ---------------------------------------------------------------------------


def _multiprobe_oracle() -> str:
    from .similarity import (
        N_QUERIES,
        SELECTIVE_BANDS,
        SELECTIVE_ROWS,
        TOP_K,
        _gaussian_planes,
    )

    planes = _gaussian_planes(SELECTIVE_BANDS, SELECTIVE_ROWS)
    bit_exprs = ", ".join(
        "CASE WHEN list_inner_product(v, ["
        + ", ".join(repr(w) for w in plane)
        + "]) >= 0 THEN '1' ELSE '0' END"
        for plane in planes
    )
    R = SELECTIVE_ROWS
    return f"""
    WITH emb AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), sigs AS (
      SELECT vec_id, v, list_aggregate([{bit_exprs}], 'string_agg', '') AS sig FROM emb
    ), bands AS (
      SELECT vec_id, b AS band_id, substr(sig, b * {R} + 1, {R}) AS band_sig
      FROM sigs, LATERAL (SELECT unnest(range(0, {SELECTIVE_BANDS})) AS b) t
    ), q_probes AS (
      SELECT vec_id AS query_id, band_id,
             CASE WHEN p = 0 THEN band_sig
                  ELSE substr(band_sig, 1, p - 1)
                       || (CASE substr(band_sig, p, 1) WHEN '0' THEN '1' ELSE '0' END)
                       || substr(band_sig, p + 1)
             END AS band_sig
      FROM bands, LATERAL (SELECT unnest(range(0, {R} + 1)) AS p) t
      WHERE vec_id < {N_QUERIES}
    ), cands AS (
      SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id
      FROM bands c JOIN q_probes q USING (band_id, band_sig)
      WHERE c.vec_id <> q.query_id
    ), scored AS (
      SELECT query_id, neighbor_id,
             round(list_cosine_similarity(qe.v, ce.v), 6) AS cosine
      FROM cands
      JOIN emb qe ON qe.vec_id = query_id
      JOIN emb ce ON ce.vec_id = neighbor_id
    )
    SELECT query_id, neighbor_id, cosine, rnk
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, neighbor_id) AS rnk
          FROM scored)
    WHERE rnk <= {TOP_K}
    """


@register("similarity_ann_multiprobe_topk", oracle=_multiprobe_oracle())
def similarity_ann_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH: at the SELECTIVE (8 bands x 8 rows) geometry,
    each query probes its exact band signature PLUS every 1-bit flip
    (9 probes per band) — recovering the recall that sharper buckets
    cost, without touching the corpus-side index. The standard
    multi-probe trade (probe count vs table count) from the LSH
    literature, declaratively: the probe expansion happens on the tiny
    query side (queries x bands x (rows+1) rows), the corpus index is
    built once, candidates still come from an equi-join.

    Scale: corpus side identical to ``ann_lsh_selective_topk``; the
    probe side multiplies by (rows+1) = 9 — still query-bounded. The
    oracle replicates the flip expansion bit-for-bit (the signatures
    are deterministic sign patterns of literal hyperplanes).
    """
    from .similarity import (
        N_QUERIES,
        SELECTIVE_BANDS,
        SELECTIVE_ROWS,
        TOP_K,
        _gaussian_planes,
        _signature_udf,
    )

    t = Tables(spark, sf_dir)
    emb = t.embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).withColumn(
        "nrm", F.sqrt(F.aggregate(F.col("v"), F.lit(0.0), lambda a, x: a + x * x))
    )
    R = SELECTIVE_ROWS
    sig_udf = _signature_udf(_gaussian_planes(SELECTIVE_BANDS, R))
    sigs = emb.select("vec_id", sig_udf(F.col("v")).alias("sig")).localCheckpoint()
    bands = (
        sigs.select(
            "vec_id",
            "sig",
            F.explode(F.sequence(F.lit(0), F.lit(SELECTIVE_BANDS - 1))).alias("band_id"),
        )
        .withColumn("band_sig", F.expr(f"substring(sig, band_id * {R} + 1, {R})"))
        .drop("sig")
    )
    # probe expansion on the query side only: p = 0 keeps the exact
    # signature, p = 1..R flips bit p (identical string algebra to the
    # oracle: substr || flipped-char || substr)
    q_probes = (
        bands.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            "band_id",
            "band_sig",
            F.explode(F.sequence(F.lit(0), F.lit(R))).alias("p"),
        )
        .select(
            "query_id",
            "band_id",
            F.when(F.col("p") == 0, F.col("band_sig"))
            .otherwise(
                F.concat(
                    F.expr("substring(band_sig, 1, p - 1)"),
                    F.when(F.expr("substring(band_sig, p, 1)") == "0", F.lit("1"))
                    .otherwise(F.lit("0")),
                    F.expr(f"substring(band_sig, p + 1, {R})"),
                )
            )
            .alias("band_sig"),
        )
    )
    cands = (
        bands.join(F.broadcast(q_probes), ["band_id", "band_sig"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    q_emb = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv"), F.col("nrm").alias("qn")
    )
    dot = F.aggregate(
        F.zip_with(F.col("qv"), F.col("v"), lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    scored = (
        cands.join(F.broadcast(q_emb), F.col("query_id") == F.col("q_id"))
        .join(emb, F.col("neighbor_id") == F.col("vec_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(dot / (F.col("qn") * F.col("nrm")), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= TOP_K)
        .select("query_id", "neighbor_id", "cosine", "rnk")
    )


# ---------------------------------------------------------------------------
# 6. Declarative logistic regression (fixed-step gradient descent)
# ---------------------------------------------------------------------------

LOGIT_STEPS = 3
# lr = 0.5 expressed as an integer halving of the micro-unit gradient sum


def logit_cte_chain() -> tuple[list[str], str, str]:
    """The GD loop as an unrolled CTE list, plus scalar-subquery refs to
    the FINAL step's micro-weights — shared by the ``stats_logistic_gd``
    oracle and the round-7 diagnostics (deviance, Hosmer-Lemeshow) that
    score with the trained weights."""
    ctes, prev_w0, prev_w1, _ = _logit_parts()
    return ctes, prev_w0, prev_w1


def _logit_oracle() -> str:
    """Unrolled-CTE twin of the GD loop: identical per-step quantized
    integer weight updates, so every step's weights hash-match."""
    ctes, _, _, selects = _logit_parts()
    return "WITH " + ", ".join(ctes) + " " + " UNION ALL ".join(selects)


def _logit_parts() -> tuple[list[str], str, str, list[str]]:
    x = "CAST(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS DOUBLE) / 10000000.0"
    y = "CASE WHEN o_orderpriority = '1-URGENT' THEN 1.0 ELSE 0.0 END"
    ctes = ["base AS (SELECT " + x + " AS x, " + y + " AS y FROM orders)"]
    prev_w0, prev_w1 = "0", "0"
    selects = []
    for k in range(1, LOGIT_STEPS + 1):
        p = f"1.0 / (1.0 + exp(-(({prev_w0}) / 1000000.0 + ({prev_w1}) / 1000000.0 * x)))"
        ctes.append(
            f"""s{k} AS (
              SELECT sum(CAST(floor(({p} - y) * 1000000.0 + 0.5) AS BIGINT)) AS s0,
                     sum(CAST(floor(({p} - y) * x * 1000000.0 + 0.5) AS BIGINT)) AS s1,
                     count(*) AS n
              FROM base{"" if k == 1 else f", w{k-1}"})"""
        )
        ctes.append(
            f"""w{k} AS (
              SELECT CAST(({prev_w0}) - floor(CAST(s0 AS DOUBLE) / (2.0 * n) + 0.5)
                     AS BIGINT) AS w0q,
                     CAST(({prev_w1}) - floor(CAST(s1 AS DOUBLE) / (2.0 * n) + 0.5)
                     AS BIGINT) AS w1q
              FROM s{k})"""
        )
        prev_w0, prev_w1 = f"(SELECT w0q FROM w{k})", f"(SELECT w1q FROM w{k})"
        selects.append(
            f"SELECT CAST({k} AS BIGINT) AS step, w0q AS w0_micro, w1q AS w1_micro FROM w{k}"
        )
    return ctes, prev_w0, prev_w1, selects


@register("stats_logistic_gd", oracle=_logit_oracle())
def stats_logistic_gd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic regression (urgent-order propensity vs order value) by
    THREE fixed gradient-descent steps, as declarative plans — the
    iterative-model-training showpiece alongside ``ml_kmeans_lloyd``:
    no driver-side weight collect, no RNG, bit-reproducible.

    Reproducibility contract: weights live as int64 micro-units; each
    step's gradient contributions are 1e-6-quantized per row BEFORE the
    exact integer sum (order-independent under any partitioning), and
    the weight update is the same integer halving on both engines. The
    only float op is the sigmoid itself, computed from bit-identical
    (micro-weight / 1e6) doubles — same ~1-ulp residual as documented
    for the classifier scoring pack. Scale: one pruned 2-column scan
    per step with a 2-value aggregate; the 1-row weight state
    broadcasts into the next step (localCheckpointed so step K costs
    one scan, not K). Output: the weight trajectory, one row per step.
    """
    t = Tables(spark, sf_dir)
    out = [
        w_df.select(
            F.lit(k).cast("long").alias("step"),
            F.col("w0q").alias("w0_micro"),
            F.col("w1q").alias("w1_micro"),
        )
        for k, w_df in enumerate(logit_weight_steps(t), start=1)
    ]
    res = out[0]
    for df in out[1:]:
        res = res.unionByName(df)
    return res


def logit_base(t: Tables) -> DataFrame:
    """The (x, y) training frame of the GD logistic model — x the
    1e7-scaled exact-cents order value, y the urgent-priority label.
    Shared by the training loop and the round-8 fit diagnostics so the
    scoring expression is identical to the one trained on."""
    cents = F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5)).cast("long")
    return t.orders.select(
        (cents.cast("double") / F.lit(1e7)).alias("x"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1.0).otherwise(0.0).alias("y"),
    )


def logit_sigmoid(x: F.Column, w0q: F.Column, w1q: F.Column) -> F.Column:
    """p = sigmoid(w0 + w1*x) off micro-unit weights — the exact
    scoring expression of the training loop (identical doubles on both
    engines; the oracle twin is the ``p`` string in `_logit_parts`)."""
    z = w0q / F.lit(1e6) + w1q / F.lit(1e6) * x
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))


def logit_weight_steps(t: Tables) -> list[DataFrame]:
    """Per-step trained micro-weights as 1-row (w0q, w1q) DataFrames,
    localCheckpointed so step K costs one scan. Shared by the
    trajectory query above and `ml_logistic_fit_quality` (round 8),
    which scores with ``steps[-1]``."""
    base = logit_base(t)
    w_df = None  # step-1 weights are the (0, 0) literals
    steps: list[DataFrame] = []
    for _ in range(LOGIT_STEPS):
        if w_df is None:
            joined = base.withColumn("w0q", F.lit(0).cast("long")).withColumn(
                "w1q", F.lit(0).cast("long")
            )
        else:
            joined = base.crossJoin(F.broadcast(w_df))
        p = logit_sigmoid(F.col("x"), F.col("w0q"), F.col("w1q"))
        g0 = F.floor((p - F.col("y")) * F.lit(1e6) + F.lit(0.5)).cast("long")
        g1 = F.floor((p - F.col("y")) * F.col("x") * F.lit(1e6) + F.lit(0.5)).cast("long")
        agg = joined.agg(
            F.sum(g0).alias("s0"),
            F.sum(g1).alias("s1"),
            F.count(F.lit(1)).alias("n"),
            F.first("w0q").alias("w0q"),
            F.first("w1q").alias("w1q"),
        )
        w_df = agg.select(
            (
                F.col("w0q")
                - F.floor(F.col("s0").cast("double") / (F.lit(2.0) * F.col("n")) + F.lit(0.5))
            )
            .cast("long")
            .alias("w0q"),
            (
                F.col("w1q")
                - F.floor(F.col("s1").cast("double") / (F.lit(2.0) * F.col("n")) + F.lit(0.5))
            )
            .cast("long")
            .alias("w1q"),
        ).localCheckpoint()
        steps.append(w_df)
    return steps


# ---------------------------------------------------------------------------
# 7. Product-quantization codebook assignment + reconstruction error
# ---------------------------------------------------------------------------

# PQ geometry lives in operators.similarity (shared with the ADC search
# query there; importing from here would be circular since this module
# imports similarity helpers)
from .similarity import PQ_CODEWORDS, PQ_M, PQ_SUBDIM  # noqa: E402,F401


def _pq_oracle() -> str:
    subs = " UNION ALL ".join(
        f"SELECT vec_id, {m} AS m, v[{m * PQ_SUBDIM + 1}:{(m + 1) * PQ_SUBDIM}] AS sv "
        "FROM emb"
        for m in range(PQ_M)
    )
    cbs = " UNION ALL ".join(
        f"SELECT vec_id AS cid, {m} AS m, v[{m * PQ_SUBDIM + 1}:{(m + 1) * PQ_SUBDIM}] AS cv "
        f"FROM emb WHERE vec_id < {PQ_CODEWORDS}"
        for m in range(PQ_M)
    )
    return f"""
    WITH emb AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), sub AS ({subs}), cb AS ({cbs}),
    dists AS (
      SELECT s.vec_id, s.m, c.cid,
             list_sum(list_transform(range(1, {PQ_SUBDIM} + 1),
                      i -> (s.sv[i] - c.cv[i]) * (s.sv[i] - c.cv[i]))) AS d2
      FROM sub s JOIN cb c USING (m)
    ), assigned AS (
      SELECT vec_id, m, cid, d2,
             row_number() OVER (PARTITION BY vec_id, m
                                ORDER BY round(d2, 9), cid) AS rn
      FROM dists
    )
    SELECT CAST(m AS BIGINT) AS subspace, cid AS codeword,
           CAST(count(*) AS BIGINT) AS n_assigned,
           CAST(sum(CAST(floor(d2 * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
             AS err_micro_total,
           CAST(min(vec_id) AS BIGINT) AS min_vec_id
    FROM assigned WHERE rn = 1
    GROUP BY 1, 2
    """


@register("embedding_pq_assign_stats", oracle=_pq_oracle())
def embedding_pq_assign_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization assignment: split each 64-d vector into 4
    subspaces of 16 dims, assign each sub-vector to its nearest of 8
    codewords (init = the first vectors' sub-vectors, the same fixed
    convention as ``ann_ivf_topk``/``ml_kmeans_lloyd``), and report
    per-(subspace, codeword) occupancy and total squared reconstruction
    error — the third leg of the embedding-compression family (random
    projection = fewer dims, int8 quant = fewer bits/dim, PQ = indexed
    codes: 64 floats -> 4 bytes here).

    Scale shape: the codebook is M*K sub-vectors (32 rows) however big
    the corpus — broadcast; assignment is an embarrassingly parallel
    argmin via min(struct(quantized_dist, cid)) with NO shuffle before
    the M*K-row final aggregate. Distances round at 1e-9 for a
    cross-engine-deterministic argmin tie-break; error sums are exact
    1e-6-quantized int64.
    """
    t = Tables(spark, sf_dir)
    emb = t.embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    sub = emb.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("m"),
                        F.slice("v", m * PQ_SUBDIM + 1, PQ_SUBDIM).alias("sv"),
                    )
                    for m in range(PQ_M)
                ]
            )
        ).alias("s"),
    ).select("vec_id", F.col("s.m").alias("m"), F.col("s.sv").alias("sv"))
    cb = (
        emb.filter(F.col("vec_id") < PQ_CODEWORDS)
        .select(
            F.col("vec_id").alias("cid"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(m).alias("m"),
                            F.slice("v", m * PQ_SUBDIM + 1, PQ_SUBDIM).alias("cv"),
                        )
                        for m in range(PQ_M)
                    ]
                )
            ).alias("c"),
        )
        .select("cid", F.col("c.m").alias("m"), F.col("c.cv").alias("cv"))
    )
    d2 = F.aggregate(
        F.zip_with(F.col("sv"), F.col("cv"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    dists = sub.join(F.broadcast(cb), "m").select(
        "vec_id",
        "m",
        "cid",
        d2.alias("d2"),
    )
    # argmin as min(struct): (rounded distance, cid) orders exactly like
    # the oracle's row_number tie-break; carry the quantized error along
    best = dists.groupBy("vec_id", "m").agg(
        F.min(
            F.struct(
                F.round(F.col("d2"), 9).alias("d2r"),
                F.col("cid").alias("cid"),
                F.floor(F.col("d2") * F.lit(1e6) + F.lit(0.5)).cast("long").alias("d2q"),
            )
        ).alias("b")
    )
    return (
        best.groupBy(F.col("m").cast("long").alias("subspace"), F.col("b.cid").alias("codeword"))
        .agg(
            F.count(F.lit(1)).alias("n_assigned"),
            F.sum("b.d2q").cast("long").alias("err_micro_total"),
            F.min("vec_id").alias("min_vec_id"),
        )
    )


# ---------------------------------------------------------------------------
# 8. SCD-style as-of snapshot (latest state per key at a point in time)
# ---------------------------------------------------------------------------

ASOF_CUTOFF = "2024-01-15 00:00:00"


@register(
    "events_scd_asof_snapshot",
    oracle=f"""
    SELECT user_id, event_id AS last_event_id, event_type AS last_event_type,
           ts AS last_ts, n_before
    FROM (
      SELECT user_id, event_id, event_type, ts,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn,
             CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_before
      FROM events WHERE ts <= TIMESTAMP '{ASOF_CUTOFF}'
    ) WHERE rn = 1
    """,
)
def events_scd_asof_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time state reconstruction: each user's LATEST event at a
    literal cutoff — the slowly-changing-dimension / CDC-compaction
    primitive ("what did the table look like on the 15th?") that every
    warehouse upsert pipeline replays.

    Scale: the cutoff filter pushes to the scan; one user_id shuffle;
    the rank filter is a WindowGroupLimit (per-partition top-1 runs
    BELOW the exchange, so the shuffle carries at most one candidate
    row per (task, user), not the user's history). Deterministic
    tie-break (ts, event_id) makes the snapshot reproducible — the
    property that lets two clusters agree on a rebuilt state table.
    """
    t = Tables(spark, sf_dir)
    ev = t.events.where(F.col("ts") <= F.lit(ASOF_CUTOFF).cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    wc = Window.partitionBy("user_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .withColumn("n_before", F.count(F.lit(1)).over(wc).cast("long"))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("event_type").alias("last_event_type"),
            F.col("ts").alias("last_ts"),
            "n_before",
        )
    )


# ---------------------------------------------------------------------------
# 9. Key-uniqueness violation audit
# ---------------------------------------------------------------------------


@register(
    "dq_uniqueness_violations",
    oracle="""
    WITH o AS (
      SELECT 'orders.o_orderkey' AS relation,
             CAST(sum(cnt) AS BIGINT) AS n_rows,
             CAST(count(*) AS BIGINT) AS n_keys,
             CAST(max(cnt) AS BIGINT) AS max_multiplicity
      FROM (SELECT o_orderkey, count(*) AS cnt FROM orders GROUP BY 1)
    ), l AS (
      SELECT 'lineitem.(l_orderkey,l_linenumber)' AS relation,
             CAST(sum(cnt) AS BIGINT) AS n_rows,
             CAST(count(*) AS BIGINT) AS n_keys,
             CAST(max(cnt) AS BIGINT) AS max_multiplicity
      FROM (SELECT l_orderkey, l_linenumber, count(*) AS cnt
            FROM lineitem GROUP BY 1, 2)
    ), e AS (
      SELECT 'events.event_id' AS relation,
             CAST(sum(cnt) AS BIGINT) AS n_rows,
             CAST(count(*) AS BIGINT) AS n_keys,
             CAST(max(cnt) AS BIGINT) AS max_multiplicity
      FROM (SELECT event_id, count(*) AS cnt FROM events GROUP BY 1)
    )
    SELECT relation, n_rows, n_keys, n_rows - n_keys AS n_dup_rows,
           max_multiplicity, (n_rows = n_keys) AS unique_ok
    FROM (SELECT * FROM o UNION ALL SELECT * FROM l UNION ALL SELECT * FROM e)
    """,
)
def dq_uniqueness_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Primary/business-key uniqueness audit across three relations
    (single-column, composite, and surrogate keys): row count vs
    distinct-key count, duplicate-row excess, and the worst key's
    multiplicity — the third leg of the DQ gate family (expectations =
    domains, referential = edges, uniqueness = keys).

    Scale: one two-phase count-distinct per relation (partial
    aggregation keyside, constant-size result); the max-multiplicity
    probe groups by key with partial counts — no row ever leaves its
    executor un-aggregated. The composite key groups by a struct of
    both columns, never an arithmetic fold — the audit must be total
    over the key domain even on data that violates the very
    assumptions (e.g. l_linenumber in [0,9]) it exists to check.
    """
    t = Tables(spark, sf_dir)

    def audit(relation: str, df: DataFrame, key_col) -> DataFrame:
        per_key = df.select(key_col.alias("k")).groupBy("k").agg(
            F.count(F.lit(1)).alias("cnt")
        )
        return per_key.agg(
            F.lit(relation).alias("relation"),
            F.sum("cnt").cast("long").alias("n_rows"),
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            (F.sum("cnt") - F.count(F.lit(1))).cast("long").alias("n_dup_rows"),
            F.max("cnt").cast("long").alias("max_multiplicity"),
            (F.sum("cnt") == F.count(F.lit(1))).alias("unique_ok"),
        )

    out = audit("orders.o_orderkey", t.orders, F.col("o_orderkey"))
    out = out.unionByName(
        audit(
            "lineitem.(l_orderkey,l_linenumber)",
            t.lineitem,
            # struct key, NOT an arithmetic fold: a fold like
            # orderkey*10+linenumber assumes linenumber in [0,9] — the
            # very kind of dirty data a uniqueness audit exists to catch
            # would make it collide and mask/invent duplicates
            F.struct(F.col("l_orderkey"), F.col("l_linenumber")),
        )
    )
    return out.unionByName(audit("events.event_id", t.events, F.col("event_id")))


# ---------------------------------------------------------------------------
# 10. Range join via bucketed equi-join (no nested-loop theta join)
# ---------------------------------------------------------------------------

# price bands in cents: [lo, hi) — hi of the last band is an open upper
PRICE_BANDS = [
    ("budget", 0, 5_000_000),
    ("mid", 5_000_000, 15_000_000),
    ("premium", 15_000_000, 30_000_000),
    ("luxury", 30_000_000, 500_000_000),  # $5M: open upper bound in cents
]
BAND_BUCKET = 5_000_000  # coarse bucket width the bands are exploded into


def _band_rows_sql() -> str:
    return " UNION ALL ".join(
        f"SELECT '{name}' AS band, CAST({lo} AS BIGINT) AS lo, CAST({hi} AS BIGINT) AS hi"
        for name, lo, hi in PRICE_BANDS
    )


@register(
    "join_range_bucketed",
    oracle=f"""
    WITH bands AS ({_band_rows_sql()}),
         o AS (SELECT o_orderkey,
                      CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
               FROM orders)
    SELECT b.band,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(o.cents) AS BIGINT) AS sum_cents,
           CAST(min(o.cents) AS BIGINT) AS min_cents,
           CAST(max(o.cents) AS BIGINT) AS max_cents
    FROM o JOIN bands b ON o.cents >= b.lo AND o.cents < b.hi
    GROUP BY b.band
    """,
)
def join_range_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join rewritten as a bucketed EQUI-join: explode
    each band into the coarse buckets it covers, join facts on
    floor(value / bucket) = bucket, then apply the exact range as a
    residual filter — the standard rewrite that keeps a value-in-range
    join out of BroadcastNestedLoopJoin territory.

    Here the band table is 4 literal rows and would broadcast anyway;
    the point is the SHAPE: with millions of intervals (IP ranges, time
    windows, geo cells) the exploded (bucket, interval) table hash-
    partitions like any other relation and the join stays an equi-join
    whose per-bucket fan-out is |intervals overlapping that bucket| —
    the plan a nested-loop theta join can never recover at 100 TB. The
    oracle states the plain theta join; the gate proves the
    bucket+residual rewrite is value-identical (band edges multiple of
    the bucket width, half-open [lo, hi) semantics).
    """
    t = Tables(spark, sf_dir)
    bands = None
    for name, lo, hi in PRICE_BANDS:
        n_buckets = (hi - lo + BAND_BUCKET - 1) // BAND_BUCKET
        row = spark.range(1).select(
            F.lit(name).alias("band"),
            F.lit(lo).cast("long").alias("lo"),
            F.lit(hi).cast("long").alias("hi"),
            F.explode(
                F.sequence(
                    F.lit(lo // BAND_BUCKET), F.lit(lo // BAND_BUCKET + n_buckets - 1)
                )
            ).alias("bucket"),
        )
        bands = row if bands is None else bands.unionByName(row)
    o = t.orders.select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5)).cast("long").alias("cents"),
    ).withColumn("bucket", (F.col("cents") / F.lit(BAND_BUCKET)).cast("long"))
    joined = o.join(F.broadcast(bands), "bucket").where(
        (F.col("cents") >= F.col("lo")) & (F.col("cents") < F.col("hi"))
    )
    return joined.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("cents").cast("long").alias("sum_cents"),
        F.min("cents").alias("min_cents"),
        F.max("cents").alias("max_cents"),
    )


# ---------------------------------------------------------------------------
# 12. Time-constrained funnel (conversion within a window)
# ---------------------------------------------------------------------------

FUNNEL_WINDOW_MIN = 60  # purchase must follow the first click within 1h


def _funnel_tw_oracle() -> str:
    from ..functions.exact import sql_round_int_ratio

    rate = sql_round_int_ratio("(SELECT count(*) FROM conv)", "count(*)")
    return f"""
    WITH clicks AS (
      SELECT user_id, min(ts) AS first_click FROM events
      WHERE event_type = 'click' GROUP BY user_id
    ), conv AS (
      SELECT c.user_id, min(e.ts) AS first_purchase
      FROM clicks c JOIN events e
        ON e.user_id = c.user_id AND e.event_type = 'purchase'
       AND e.ts > c.first_click
       AND e.ts <= c.first_click + INTERVAL {FUNNEL_WINDOW_MIN} MINUTE
      GROUP BY 1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_clickers,
           CAST((SELECT count(*) FROM conv) AS BIGINT) AS n_converted,
           {rate} AS conversion_rate
    FROM clicks
    """


@register("events_funnel_time_windowed", oracle=_funnel_tw_oracle())
def events_funnel_time_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-constrained funnel: of the users who clicked, how many
    purchased WITHIN 60 minutes of their first click — the
    attribution-window variant of ``events_funnel_view_click_purchase``
    (unbounded ordering there, bounded latency here; marketing/abuse
    funnels are almost always window-bounded in production).

    Scale: first-click table is one user_id aggregate; the conversion
    probe joins purchases on user_id with the window as a residual
    range predicate on the co-partitioned join — no theta join, no
    per-user event history materialized. Conversion rate is an exact
    half-up integer ratio (``round_int_ratio``).
    """
    from ..functions.exact import round_int_ratio

    t = Tables(spark, sf_dir)
    clicks = (
        t.events.where(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_click"))
    )
    purchases = t.events.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts")
    )
    conv = (
        clicks.join(purchases, "user_id")
        .where(
            (F.col("p_ts") > F.col("first_click"))
            & (
                F.col("p_ts")
                <= F.col("first_click") + F.expr(f"INTERVAL {FUNNEL_WINDOW_MIN} MINUTE")
            )
        )
        .groupBy("user_id")
        .agg(F.min("p_ts").alias("first_purchase"))
    )
    n_clickers = clicks.agg(F.count(F.lit(1)).alias("n_clickers"))
    n_conv = conv.agg(F.count(F.lit(1)).alias("n_converted"))
    return n_clickers.crossJoin(F.broadcast(n_conv)).select(
        "n_clickers",
        "n_converted",
        round_int_ratio(F.col("n_converted"), F.col("n_clickers")).alias(
            "conversion_rate"
        ),
    )


# ---------------------------------------------------------------------------
# 13. PMI token co-occurrence (collocation mining)
# ---------------------------------------------------------------------------

PMI_DF_FRAC = 0.05   # vocabulary gate: token must appear in >= 5% of docs
PMI_CO_MIN = 5       # report pairs co-occurring in >= 5 docs


def _pmi_oracle() -> str:
    from ..functions.detmath import sql_det_ln_steps

    return f"""
    WITH toks AS (
      SELECT doc_id,
             list_distinct(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS words
      FROM documents
    ), n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM toks),
    inc AS (
      SELECT doc_id, unnest(words) AS tok FROM toks
    ), df AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS df FROM inc GROUP BY tok
    ), vocab AS (
      SELECT tok, df FROM df, n WHERE df >= ceil({PMI_DF_FRAC} * n_docs) AND tok <> ''
    ), vinc AS (
      SELECT i.doc_id, i.tok FROM inc i JOIN vocab v USING (tok)
    ), pairs AS (
      SELECT a.tok AS u, b.tok AS v, CAST(count(*) AS BIGINT) AS n_uv
      FROM vinc a JOIN vinc b ON a.doc_id = b.doc_id AND a.tok < b.tok
      GROUP BY 1, 2
    )
    , joined AS (
      SELECT p.u, p.v, p.n_uv, du.df AS n_u, dv.df AS n_v,
             CAST(p.n_uv AS DOUBLE) * n.n_docs
               / (CAST(du.df AS DOUBLE) * dv.df) AS arg
      FROM pairs p
      JOIN vocab du ON du.tok = p.u
      JOIN vocab dv ON dv.tok = p.v
      CROSS JOIN n
      WHERE p.n_uv >= {PMI_CO_MIN}
    ), {sql_det_ln_steps('joined', 'arg', 'pmi_q', 9)}
    SELECT u, v, n_uv, n_u, n_v, pmi_q / 1e9 AS pmi FROM pmi_q_rel
    """


@register("text_pmi_cooccurrence", oracle=_pmi_oracle())
def text_pmi_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information over document-level token
    co-occurrence — the collocation/phrase-mining primitive (which
    token pairs appear together far more than chance predicts).

    Scale containment is the design problem: raw pair enumeration is
    O(distinct-tokens-per-doc^2) and a web-crawl outlier would explode
    it. Two bounds make it safe: (1) a document-frequency vocabulary
    gate (>= 5% of docs) caps the per-doc token set at |vocab|, and
    (2) pairs generate MAP-SIDE from each doc's sorted in-vocab token
    array (the basket pattern shared with the co-purchase graph), so
    the only shuffles are the df count and the |vocab|^2-bounded pair
    aggregation. PMI itself is nano-nat-quantized (ln of an exact
    integer ratio) like the PSI operator, so the hash is stable.
    """
    t = Tables(spark, sf_dir)
    toks = t.documents.select(
        "doc_id", F.array_distinct(whitespace_tokens(F.col("text"))).alias("words")
    )
    n_docs_df = toks.agg(F.count(F.lit(1)).alias("n_docs"))
    inc = toks.select("doc_id", F.explode("words").alias("tok"))
    df = inc.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    vocab = (
        df.crossJoin(F.broadcast(n_docs_df))
        .where(
            (F.col("df") >= F.ceil(F.lit(PMI_DF_FRAC) * F.col("n_docs")))
            & (F.col("tok") != "")
        )
        .select("tok", "df")
    )
    # per-doc sorted in-vocab token set, pairs generated map-side
    vinc = inc.join(F.broadcast(vocab.select("tok")), "tok")
    baskets = vinc.groupBy("doc_id").agg(F.sort_array(F.collect_set("tok")).alias("vt"))
    pair_arr = F.flatten(
        F.transform(
            F.col("vt"),
            lambda x, i: F.transform(
                F.slice(F.col("vt"), i + 2, F.size(F.col("vt"))),
                lambda y: F.struct(x.alias("u"), y.alias("v")),
            ),
        )
    )
    pairs = (
        baskets.select(F.explode(pair_arr).alias("p"))
        .groupBy(F.col("p.u").alias("u"), F.col("p.v").alias("v"))
        .agg(F.count(F.lit(1)).alias("n_uv"))
        .where(F.col("n_uv") >= PMI_CO_MIN)
    )
    du = vocab.select(F.col("tok").alias("u"), F.col("df").alias("n_u"))
    dv = vocab.select(F.col("tok").alias("v"), F.col("df").alias("n_v"))
    from ..functions.detmath import det_ln_q

    # det_ln_q, not F.log: nano-nat quantization identical across
    # engines (functions/detmath.py)
    pmi = det_ln_q(
        F.col("n_uv").cast("double")
        * F.col("n_docs")
        / (F.col("n_u").cast("double") * F.col("n_v")),
        9,
    ) / F.lit(1e9)
    return (
        pairs.join(F.broadcast(du), "u")
        .join(F.broadcast(dv), "v")
        .crossJoin(F.broadcast(n_docs_df))
        .select("u", "v", "n_uv", "n_u", "n_v", pmi.alias("pmi"))
    )


# ---------------------------------------------------------------------------
# 14. Small-files compaction planner (layout family)
# ---------------------------------------------------------------------------

COMPACT_TARGET_BYTES = 1 << 20  # 1 MiB target file size (chars ~ bytes proxy)


@register(
    "layout_compaction_plan",
    oracle=f"""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_bytes,
           CAST(greatest(1, ceil(sum(n_chars) / {float(COMPACT_TARGET_BYTES)})) AS BIGINT)
             AS target_files,
           CAST(ceil(count(*) / greatest(1.0, ceil(sum(n_chars) / {float(COMPACT_TARGET_BYTES)})))
             AS BIGINT) AS rows_per_file
    FROM documents GROUP BY source
    """,
)
def layout_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction planner: per source partition, the file
    count and rows-per-file that hit a target file size — the
    table-maintenance math every lakehouse OPTIMIZE/compaction job runs
    before rewriting a partition (compare ``layout_zorder_stats``,
    which plans the ORDER inside the files; this plans their COUNT).

    Scale: one grouped aggregate over two pruned columns; output is
    |sources| rows. The plan is data the engine can act on directly —
    `repartition(target_files)` per partition — and, being derived
    from exact integer sums, two planners on two clusters agree on it
    byte-for-byte.
    """
    t = Tables(spark, sf_dir)
    tgt = float(COMPACT_TARGET_BYTES)
    return t.documents.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_bytes"),
        F.greatest(F.lit(1).cast("long"), F.ceil(F.sum("n_chars") / F.lit(tgt)))
        .cast("long")
        .alias("target_files"),
        F.ceil(
            F.count(F.lit(1))
            / F.greatest(F.lit(1.0), F.ceil(F.sum("n_chars") / F.lit(tgt)))
        )
        .cast("long")
        .alias("rows_per_file"),
    )


# ---------------------------------------------------------------------------
# 15. Language-ID confusion matrix (model-eval companion to text_lang_id)
# ---------------------------------------------------------------------------


def _langid_confusion_oracle() -> str:
    from ..functions.exact import sql_round_int_ratio
    from .text import _langid_oracle

    inner = _langid_oracle()
    recall = sql_round_int_ratio(
        "count(*)", "sum(count(*)) OVER (PARTITION BY actual_lang)"
    )
    return f"""
    WITH preds AS ({inner})
    SELECT actual_lang, guessed_lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           {recall} AS row_share
    FROM preds GROUP BY actual_lang, guessed_lang
    """


@register("text_langid_confusion", oracle=_langid_confusion_oracle())
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the language-ID heuristic against the
    labeled ``lang`` column: per (actual, guessed) cell, document count
    and row-normalized share (recall on the diagonal) — the eval
    artifact that tells a corpus pipeline WHERE its router misroutes
    (which feeds the mixture/budget operators garbage), not just how
    often.

    Scale: reuses ``text_lang_id``'s zero-join scoring scan, then one
    |langs|^2-bounded aggregate; the row-share window runs over that
    constant-size cell table. Shares are exact half-up integer ratios.
    """
    from ..functions.exact import round_int_ratio
    from .text import text_lang_id

    preds = text_lang_id(spark, sf_dir)
    cells = preds.groupBy("actual_lang", "guessed_lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    w = Window.partitionBy("actual_lang")
    return cells.select(
        "actual_lang",
        "guessed_lang",
        "n_docs",
        round_int_ratio(F.col("n_docs"), F.sum("n_docs").over(w)).alias("row_share"),
    )


# ---------------------------------------------------------------------------
# 16. Welch's ANOVA (k-group mean comparison; extends stats_ttest_ab)
# ---------------------------------------------------------------------------


@register(
    "stats_welch_anova",
    oracle="""
    WITH q AS (
      SELECT event_type,
             CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS v_u
      FROM events
    ), s AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(v_u) AS DOUBLE) AS sum_u,
             CAST(sum(CAST(v_u AS HUGEINT) * v_u) AS DOUBLE) AS sumsq_u
      FROM q GROUP BY event_type
    ), g AS (
      SELECT event_type, n,
             sum_u / 1e6 / n AS mean_g,
             (sumsq_u / 1e12 - (sum_u / 1e6) * (sum_u / 1e6) / n) / (n - 1) AS var_g
      FROM s
    ), w AS (
      SELECT event_type, n, mean_g, var_g, n / var_g AS wt FROM g
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS k, sum(wt) AS w_sum,
             sum(wt * mean_g) / sum(wt) AS grand_mean
      FROM w
    ), parts AS (
      SELECT sum(wt * (mean_g - grand_mean) * (mean_g - grand_mean)) AS between_w,
             sum((1 - wt / w_sum) * (1 - wt / w_sum) / (n - 1)) AS lambda_term
      FROM w, tot GROUP BY w_sum
    )
    SELECT k,
           CAST((SELECT sum(n) FROM s) AS BIGINT) AS n_total,
           round(grand_mean, 6) AS grand_mean,
           round((between_w / (k - 1))
                 / (1 + 2.0 * (k - 2) / (k * k - 1.0) * lambda_term), 6) AS f_welch,
           round((k * k - 1.0) / (3.0 * lambda_term), 6) AS df2
    FROM tot, parts
    """,
)
def stats_welch_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's heteroscedastic one-way ANOVA across ALL event types —
    the k-group generalization of ``stats_ttest_ab`` (do the k event
    types share a mean value, without assuming equal variances?).

    Same exactness discipline as the t-test: every sufficient statistic
    (n, sum, sum-of-squares) is an exact integer aggregate of
    1e-6-quantized values (sum of squares in decimal(38,0) so 100 TB
    cannot overflow), bit-identical under any partitioning; the F
    statistic is then one deterministic float expression over the
    k-row group table, rounded at 6dp on both engines. Shuffle: one
    |event-types|-keyed aggregate; everything after runs on k rows.
    """
    t = Tables(spark, sf_dir)
    v_u = F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5)).cast("long")
    s = (
        t.events.select("event_type", v_u.alias("v_u"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v_u").cast("double").alias("sum_u"),
            # decimal BEFORE the square: v_u^2 overflows int64 once
            # values carry web-scale magnitudes (the stats.py:868
            # lesson, re-caught by the value-magnitude fuzz profile)
            F.sum(
                F.col("v_u").cast("decimal(38,0)") * F.col("v_u").cast("decimal(38,0)")
            )
            .cast("double")
            .alias("sumsq_u"),
        )
    )
    g = s.select(
        "event_type",
        "n",
        (F.col("sum_u") / F.lit(1e6) / F.col("n")).alias("mean_g"),
        (
            (
                F.col("sumsq_u") / F.lit(1e12)
                - (F.col("sum_u") / F.lit(1e6)) * (F.col("sum_u") / F.lit(1e6)) / F.col("n")
            )
            / (F.col("n") - 1)
        ).alias("var_g"),
    ).withColumn("wt", F.col("n") / F.col("var_g"))
    tot = g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("wt").alias("w_sum"),
        (F.sum(F.col("wt") * F.col("mean_g")) / F.sum("wt")).alias("grand_mean"),
        F.sum("n").cast("long").alias("n_total"),
    )
    joined = g.crossJoin(F.broadcast(tot))
    parts = joined.agg(
        F.first("k").alias("k"),
        F.first("n_total").alias("n_total"),
        F.first("grand_mean").alias("grand_mean"),
        F.sum(
            F.col("wt") * (F.col("mean_g") - F.col("grand_mean")) * (F.col("mean_g") - F.col("grand_mean"))
        ).alias("between_w"),
        F.sum(
            (F.lit(1.0) - F.col("wt") / F.col("w_sum"))
            * (F.lit(1.0) - F.col("wt") / F.col("w_sum"))
            / (F.col("n") - 1)
        ).alias("lambda_term"),
    )
    kk = F.col("k").cast("double")
    return parts.select(
        F.col("k").cast("long").alias("k"),
        "n_total",
        F.round(F.col("grand_mean"), 6).alias("grand_mean"),
        F.round(
            (F.col("between_w") / (kk - 1))
            / (
                F.lit(1.0)
                + F.lit(2.0) * (kk - 2) / (kk * kk - F.lit(1.0)) * F.col("lambda_term")
            ),
            6,
        ).alias("f_welch"),
        F.round((kk * kk - F.lit(1.0)) / (F.lit(3.0) * F.col("lambda_term")), 6).alias(
            "df2"
        ),
    )


# ---------------------------------------------------------------------------
# 17. Classifier threshold sweep (PR table; completes the eval trio)
# ---------------------------------------------------------------------------

SWEEP_THRESHOLDS = [1000, 3000, 5000, 7000, 9000]  # score_q cut points


def _sweep_oracle() -> str:
    from ..functions.exact import sql_round_int_ratio
    from .ml import _scored_labeled_sql

    thr = ", ".join(f"({t})" for t in SWEEP_THRESHOLDS)
    prec = sql_round_int_ratio("sum(CASE WHEN score_q >= t AND label = 1 THEN 1 ELSE 0 END)",
                               "greatest(sum(CASE WHEN score_q >= t THEN 1 ELSE 0 END), 1)")
    rec = sql_round_int_ratio("sum(CASE WHEN score_q >= t AND label = 1 THEN 1 ELSE 0 END)",
                              "greatest(sum(label), 1)")
    return (
        _scored_labeled_sql()
        + f"""
    SELECT CAST(t AS BIGINT) AS threshold_q,
           CAST(sum(CASE WHEN score_q >= t AND label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
           CAST(sum(CASE WHEN score_q >= t AND label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
           CAST(sum(CASE WHEN score_q < t AND label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
           CAST(sum(CASE WHEN score_q < t AND label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
           {prec} AS precision_,
           {rec} AS recall_
    FROM scored, (VALUES {thr}) s(t)
    GROUP BY t
    """
    )


@register("ml_confusion_threshold_sweep", oracle=_sweep_oracle())
def ml_confusion_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion counts and precision/recall of the hashed-feature
    quality classifier at five fixed decision thresholds — the
    operating-point table that completes the eval trio
    (``ml_calibration_curve`` = is the score honest,
    ``ml_auc_by_lang`` = does it rank, this = where to CUT).

    Scale: the scored/labeled table is the same zero-join scan the
    siblings use; the sweep crosses it with a 5-row literal threshold
    table (broadcast) and reduces to 5 rows of integer counts —
    precision/recall are exact half-up integer ratios, so the whole
    artifact is hash-stable.
    """
    from ..functions.exact import round_int_ratio
    from .ml import _scored_labeled

    t = Tables(spark, sf_dir)
    s = _scored_labeled(t)
    # 5-row literal threshold table
    thr_df = s.sparkSession.range(1).select(
        F.explode(F.array(*[F.lit(v).cast("long") for v in SWEEP_THRESHOLDS])).alias(
            "threshold_q"
        )
    )
    crossed = s.crossJoin(F.broadcast(thr_df))
    pred_pos = F.col("score_q") >= F.col("threshold_q")
    agg = crossed.groupBy("threshold_q").agg(
        F.sum(F.when(pred_pos & (F.col("label") == 1), 1).otherwise(0)).cast("long").alias("tp"),
        F.sum(F.when(pred_pos & (F.col("label") == 0), 1).otherwise(0)).cast("long").alias("fp"),
        F.sum(F.when(~pred_pos & (F.col("label") == 1), 1).otherwise(0)).cast("long").alias("fn"),
        F.sum(F.when(~pred_pos & (F.col("label") == 0), 1).otherwise(0)).cast("long").alias("tn"),
    )
    return agg.select(
        "threshold_q",
        "tp",
        "fp",
        "fn",
        "tn",
        round_int_ratio(F.col("tp"), F.greatest(F.col("tp") + F.col("fp"), F.lit(1))).alias(
            "precision_"
        ),
        round_int_ratio(F.col("tp"), F.greatest(F.col("tp") + F.col("fn"), F.lit(1))).alias(
            "recall_"
        ),
    )


def _round_big_int_ratio(num, den, dp: int = 6):
    """Promoted to ``functions.exact.round_big_int_ratio`` (ADVICE r5);
    kept as a delegating alias for existing call sites."""
    from ..functions.exact import round_big_int_ratio

    return round_big_int_ratio(num, den, dp)


# ---------------------------------------------------------------------------
# 18. Pareto concentration by nation (top-decile revenue share)
# ---------------------------------------------------------------------------


def _pareto_oracle() -> str:
    from ..functions.exact import sql_round_big_int_ratio

    share = sql_round_big_int_ratio("top_cents", "all_cents")
    return f"""
    WITH rev AS (
      SELECT c.c_nationkey, o.o_custkey,
             CAST(sum(CAST(floor(o.o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
    ), ranked AS (
      SELECT c_nationkey, cents,
             row_number() OVER (PARTITION BY c_nationkey
                                ORDER BY cents DESC, o_custkey) AS rn,
             CAST(count(*) OVER (PARTITION BY c_nationkey) AS BIGINT) AS n_cust
      FROM rev
    ), agg AS (
      SELECT c_nationkey,
             CAST(max(n_cust) AS BIGINT) AS n_customers,
             CAST(ceil(max(n_cust) / 10.0) AS BIGINT) AS n_top,
             CAST(sum(CASE WHEN rn <= ceil(n_cust / 10.0) THEN cents ELSE 0 END)
                  AS BIGINT) AS top_cents,
             CAST(sum(cents) AS BIGINT) AS all_cents
      FROM ranked GROUP BY 1
    )
    SELECT n.n_name AS nation, n_customers, n_top, top_cents, all_cents,
           {share} AS top_decile_share
    FROM agg JOIN nation n ON n.n_nationkey = agg.c_nationkey
    """


@register("stats_pareto_by_nation", oracle=_pareto_oracle())
def stats_pareto_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration (Pareto/80-20) audit per nation: what
    share of each nation's order revenue comes from its top decile of
    customers — the concentration metric behind account-tiering and
    whale-risk dashboards.

    Scale: the customer-revenue rollup is one (nation, customer)
    aggregate of exact cents; ranking and the decile cutoff are
    PARTITIONED windows (per nation — never a global sort), and the
    final frame is |nations| rows with an exact integer revenue ratio.
    """
    t = Tables(spark, sf_dir)
    cents = F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5)).cast("long")
    rev = (
        t.orders.select("o_custkey", cents.alias("cents"))
        .join(F.broadcast(t.customer.select("c_custkey", "c_nationkey")),
              F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_nationkey", "o_custkey")
        .agg(F.sum("cents").cast("long").alias("cents"))
    )
    w_rank = Window.partitionBy("c_nationkey").orderBy(
        F.col("cents").desc(), F.col("o_custkey")
    )
    w_all = Window.partitionBy("c_nationkey")
    ranked = rev.withColumn("rn", F.row_number().over(w_rank)).withColumn(
        "n_cust", F.count(F.lit(1)).over(w_all).cast("long")
    )
    agg = ranked.groupBy("c_nationkey").agg(
        F.max("n_cust").cast("long").alias("n_customers"),
        F.ceil(F.max("n_cust") / F.lit(10.0)).cast("long").alias("n_top"),
        F.sum(
            F.when(F.col("rn") <= F.ceil(F.col("n_cust") / F.lit(10.0)), F.col("cents"))
            .otherwise(0)
        )
        .cast("long")
        .alias("top_cents"),
        F.sum("cents").cast("long").alias("all_cents"),
    )
    return (
        agg.join(
            F.broadcast(t.nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(
            F.col("n_name").alias("nation"),
            "n_customers",
            "n_top",
            "top_cents",
            "all_cents",
            _round_big_int_ratio(F.col("top_cents"), F.col("all_cents")).alias(
                "top_decile_share"
            ),
        )
    )


# ---------------------------------------------------------------------------
# 19. Hourly top-k active users (windowed group top-k)
# ---------------------------------------------------------------------------

HOURLY_TOPK = 3


@register(
    "events_hourly_topk_users",
    oracle=f"""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS hour, user_id,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1, 2
    )
    SELECT hour, user_id, n_events, rnk FROM (
      SELECT hour, user_id, n_events,
             CAST(row_number() OVER (PARTITION BY hour
                                     ORDER BY n_events DESC, user_id) AS BIGINT) AS rnk
      FROM hourly
    ) WHERE rnk <= {HOURLY_TOPK}
    """,
)
def events_hourly_topk_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 most active users per hour — the periodic-leaderboard
    shape (windowed group top-k) every ops dashboard renders.

    Scale: the (hour, user) pre-aggregate partial-aggregates map-side
    before its shuffle; the per-hour rank is a PARTITIONED window whose
    WindowGroupLimit keeps only k candidates per partition below the
    exchange — so the second shuffle carries <= k rows per (task,
    hour). Deterministic user_id tie-break. The same plan maintained
    incrementally is the mergeable-top-k MV (``agg_topk_mergeable``
    demonstrates the merge algebra).
    """
    t = Tables(spark, sf_dir)
    hourly = (
        t.events.select(F.date_trunc("hour", F.col("ts")).alias("hour"), "user_id")
        .groupBy("hour", "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    w = Window.partitionBy("hour").orderBy(F.col("n_events").desc(), F.col("user_id"))
    return (
        hourly.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= HOURLY_TOPK)
        .select("hour", "user_id", "n_events", "rnk")
    )


# ---------------------------------------------------------------------------
# 20. Late-arrival audit (watermark-tuning diagnostic)
# ---------------------------------------------------------------------------

LATE_BUCKETS_S = [0, 60, 300, 900, 3600]  # lateness histogram edges (seconds)


@register(
    "events_late_arrival_audit",
    oracle=f"""
    WITH ordered AS (
      SELECT user_id, ts,
             max(ts) OVER (PARTITION BY user_id ORDER BY event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS high_water
      FROM events
    ), late AS (
      SELECT CAST(date_diff('second', ts, high_water) AS BIGINT) AS late_s
      FROM ordered WHERE high_water IS NOT NULL AND ts < high_water
    ), bucketed AS (
      SELECT CAST(CASE
               {" ".join(f"WHEN late_s < {hi} THEN {lo}" for lo, hi in zip(LATE_BUCKETS_S, LATE_BUCKETS_S[1:]))}
               ELSE {LATE_BUCKETS_S[-1]} END AS BIGINT) AS bucket_lo_s
      FROM late
    )
    SELECT bucket_lo_s, CAST(count(*) AS BIGINT) AS n_late_events
    FROM bucketed GROUP BY bucket_lo_s
    """,
)
def events_late_arrival_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-order-arrival audit: treating event_id as arrival order,
    how late (vs the per-user event-time high-water mark) do events
    arrive, bucketed into a lateness histogram — the diagnostic that
    picks a Structured Streaming WATERMARK: each bucket's count is
    exactly the data a `withWatermark` of that delay would drop or
    keep, measured on the real stream's history instead of guessed.

    Scale: one per-user ordered window (running max over arrival
    order — partitioned, never global), then a |buckets|-row
    aggregate. The same audit over a 100 TB event archive is one
    shuffle on the session key.
    """
    t = Tables(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ordered = t.events.select(
        "user_id", "ts", F.max("ts").over(w).alias("high_water")
    )
    late = ordered.where(
        F.col("high_water").isNotNull() & (F.col("ts") < F.col("high_water"))
    ).select(
        (F.unix_timestamp("high_water") - F.unix_timestamp("ts"))
        .cast("long")
        .alias("late_s")
    )
    bucket = None
    for lo, hi in zip(LATE_BUCKETS_S, LATE_BUCKETS_S[1:]):
        cond = F.col("late_s") < hi
        bucket = F.when(cond, lo) if bucket is None else bucket.when(cond, lo)
    bucket = bucket.otherwise(LATE_BUCKETS_S[-1]).cast("long")
    return (
        late.select(bucket.alias("bucket_lo_s"))
        .groupBy("bucket_lo_s")
        .agg(F.count(F.lit(1)).alias("n_late_events"))
    )


# ---------------------------------------------------------------------------
# 21. Char-trigram frequency profile per language
# ---------------------------------------------------------------------------

TRIGRAM_TOP = 15


@register(
    "text_char_trigram_profile",
    oracle=f"""
    WITH norm AS (
      SELECT lang, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS s
      FROM documents
    ), grams AS (
      SELECT lang, substr(s, i, 3) AS g
      FROM norm, LATERAL (SELECT unnest(range(1, greatest(len(s) - 1, 1))) AS i) t
      WHERE len(s) >= 3 AND i <= len(s) - 2
    ), counts AS (
      SELECT lang, g, CAST(count(*) AS BIGINT) AS n
      FROM grams GROUP BY lang, g
    )
    SELECT lang, g AS trigram, n, rnk FROM (
      SELECT lang, g, n,
             CAST(row_number() OVER (PARTITION BY lang
                                     ORDER BY n DESC, g) AS BIGINT) AS rnk
      FROM counts
    ) WHERE rnk <= {TRIGRAM_TOP}
    """,
)
def text_char_trigram_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top character trigrams per language over normalized text — the
    statistical backbone of real language identification (char-n-gram
    profiles a la Cavnar-Trenkle), complementing the keyword-voting
    ``text_lang_id`` and its confusion matrix with the model a
    production router would actually fit.

    Scale: trigram generation is map-side array algebra (sequence +
    substring over each doc — no join, CHARACTER-indexed so multibyte
    text segments identically in both engines); the shuffle carries
    (lang, trigram) partial counts — alphabet^3-bounded per language —
    and the rank is a partitioned window with a WindowGroupLimit.
    """
    t = Tables(spark, sf_dir)
    s = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    norm = t.documents.select("lang", s.alias("s")).where(F.length("s") >= 3)
    grams = norm.select(
        "lang",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("s") - 2),
                lambda i: F.col("s").substr(i, F.lit(3)),
            )
        ).alias("g"),
    )
    counts = grams.groupBy("lang", "g").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("g"))
    return (
        counts.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= TRIGRAM_TOP)
        .select("lang", F.col("g").alias("trigram"), "n", "rnk")
    )


# ---------------------------------------------------------------------------
# 22. Dedup survivorship report (keep-policy audit per source)
# ---------------------------------------------------------------------------


@register(
    "corpus_dedup_survivorship",
    oracle="""
    WITH hashed AS (
      SELECT doc_id, source,
             sha256(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS h
      FROM documents
    ), keep AS (
      SELECT h, min(doc_id) AS keeper FROM hashed GROUP BY h
    ), tagged AS (
      SELECT hd.source, (hd.doc_id = k.keeper) AS kept
      FROM hashed hd JOIN keep k USING (h)
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped
    FROM tagged GROUP BY source
    """,
)
def corpus_dedup_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship audit of the exact-dedup keep policy (keeper =
    smallest doc_id per normalized-content hash): per source, how many
    documents survive dedup and how many lose to a copy elsewhere —
    the report that tells a corpus owner WHICH feeds are net-new versus
    mirrors before a mixture rebalance trusts their token counts.

    Scale: one content-hash projection (the same sha256 the dedup
    family shares), one hash-keyed min-aggregate for the keeper table,
    one equi-join back on the hash (both sides partial-aggregated /
    co-partitioned on h — text itself never shuffles, only 64-char
    hashes), and a |sources|-row final frame. The keep policy is a
    deterministic function of the data, so two clusters agree on every
    keeper.
    """
    from ..functions.textnorm import normalized_text, sha256_hex

    t = Tables(spark, sf_dir)
    hashed = t.documents.select(
        "doc_id", "source", sha256_hex(normalized_text(F.col("text"))).alias("h")
    )
    keep = hashed.groupBy("h").agg(F.min("doc_id").alias("keeper"))
    tagged = hashed.join(keep, "h").select(
        "source", (F.col("doc_id") == F.col("keeper")).alias("kept")
    )
    return tagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("kept"), 1).otherwise(0)).cast("long").alias("n_kept"),
        F.sum(F.when(F.col("kept"), 0).otherwise(1)).cast("long").alias("n_dropped"),
    )


# ---------------------------------------------------------------------------
# 23. Shipment latency percentiles (cross-table date arithmetic)
# ---------------------------------------------------------------------------


@register(
    "lineitem_shipment_latency",
    oracle="""
    WITH lat AS (
      SELECT o.o_orderpriority,
             CAST(date_diff('day', o.o_orderdate, l.l_shipdate) AS BIGINT) AS days
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_shipments,
           CAST(min(days) AS BIGINT) AS min_days,
           CAST(quantile_disc(days, 0.5) AS BIGINT) AS p50_days,
           CAST(quantile_disc(days, 0.9) AS BIGINT) AS p90_days,
           CAST(max(days) AS BIGINT) AS max_days
    FROM lat GROUP BY o_orderpriority
    """,
)
def lineitem_shipment_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency (days) per order priority: exact discrete
    p50/p90 plus range — the logistics-SLA shape (cross-table date
    arithmetic, then grouped exact percentiles) that rounds out the
    date-function surface.

    Scale: the one fact-fact join shuffles once on the order key (the
    bucketed-table candidate, §2); latencies are small ints, so the
    per-priority exact percentile (percentile_approx at max accuracy ==
    quantile_disc) reduces over a 5-key group. At 100 TB the join is
    the cost and bucketing removes it; the percentile state is bounded
    by the distinct-latency domain (hundreds of values).
    """
    t = Tables(spark, sf_dir)
    exact = str(2**31 - 1)
    lat = (
        t.lineitem.select("l_orderkey", "l_shipdate")
        .join(
            t.orders.select("o_orderkey", "o_orderdate", "o_orderpriority"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            "o_orderpriority",
            F.datediff(F.col("l_shipdate"), F.col("o_orderdate")).cast("long").alias("days"),
        )
    )
    return lat.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_shipments"),
        F.min("days").alias("min_days"),
        F.expr(f"percentile_approx(days, 0.5, {exact})").cast("long").alias("p50_days"),
        F.expr(f"percentile_approx(days, 0.9, {exact})").cast("long").alias("p90_days"),
        F.max("days").alias("max_days"),
    )
