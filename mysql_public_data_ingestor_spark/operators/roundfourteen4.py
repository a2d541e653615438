"""Round-14 direct registrations, batch Y (VERDICT r13 item-4
follow-throughs).

Window-slot completions beside the activated round-14 bank, each
oracle-paired, replica-pinned and plan-barred in
``tests/test_roundfourteen4.py`` (same-commit gate rule). Every name
was checked against the full 575-name registry inventory before
design (the SCALE §5j.7 authoring rule). The batch's three graph
queries (weighted PageRank, the C4 census, the local-bridges audit)
live in the ``graph_*`` domain modules.

* ``ml_pav_reliability_diagram`` — the per-block reliability-diagram
  export of the PAV fit (VERDICT r13 suggestion, beside
  ``ml_brier_pav_decomposition``).
* ``corpus_chao_shen_entropy`` — coverage-adjusted Shannon entropy
  (Chao & Shen 2003) with plug-in and Miller-Madow companions, built
  on the new deterministic integer power ``detmath.det_pow_int``
  (VERDICT r13 suggestion, beside ``corpus_good_turing_coverage``).
* ``dedup_mantel_jaccard_cosine`` — Mantel-type correlation between
  exact shingle-Jaccard distance and embedding-cosine distance over
  the shared blocked pair set (VERDICT r13 suggestion, beside
  ``dedup_minhash_estimator_audit``).

Reference parity note: the reference (Go ingestion pipeline,
``/root/reference/main.go``) has no analytics; these extend SURVEY
§2.C graph analytics / ML / corpus management / dedup.

``ml_pav_reliability_diagram`` lives in ``operators/ml_calibration.py``
with the other ml queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import dec38, halfup_div, sql_halfup_div
from ..registry import register
from ..tables import Tables

# ---------------------------------------------------------------------------
# 5. Chao-Shen coverage-adjusted entropy (+ plug-in, Miller-Madow)
# ---------------------------------------------------------------------------


def _chao_shen_oracle() -> str:
    from ..functions.detmath import sql_det_ln_steps, sql_det_pow_steps
    from .roundthirteen6 import _SQL_FREQ_SPECTRUM

    hd = sql_halfup_div
    return f"""
    WITH {_SQL_FREQ_SPECTRUM.strip()}
    , grid AS (
      SELECT lang, c, CAST(count(*) AS BIGINT) AS vc
      FROM tf GROUP BY lang, c
    ), base AS (
      SELECT g.lang, g.c, g.vc,
             CAST(s.n_tokens AS BIGINT) AS n,
             CAST(s.vocab AS BIGINT) AS vocab,
             CAST(s.v1 AS BIGINT) AS v1,
             CAST(g.c AS DOUBLE) / CAST(s.n_tokens AS DOUBLE) AS p,
             (1.0::DOUBLE - CAST(s.v1 AS DOUBLE) / CAST(s.n_tokens AS DOUBLE))
               * (CAST(g.c AS DOUBLE) / CAST(s.n_tokens AS DOUBLE)) AS cp
      FROM grid g JOIN spectrum s USING (lang)
    ), withq AS (
      SELECT *, 1.0::DOUBLE - cp AS one_minus_cp FROM base
    ), {sql_det_ln_steps('withq', 'p', 'lnp', as_double=True)}
    , {sql_det_ln_steps('lnp_rel', 'cp', 'lncp', as_double=True)}
    , {sql_det_pow_steps('lncp_rel', 'one_minus_cp', 'n', 'qpow')}
    , terms AS (
      SELECT lang, n, vocab, v1, vc,
             CAST(floor((p * lnp) * 1000000000.0::DOUBLE + 0.5) AS BIGINT)
               AS t_plugin_nano,
             CASE WHEN v1 < n THEN
               CAST(floor(((cp * lncp) / (1.0::DOUBLE - qpow))
                          * 1000000000.0::DOUBLE + 0.5) AS BIGINT)
             END AS t_cs_nano
      FROM qpow_rel
    ), agg AS (
      SELECT lang, n, vocab, v1,
             CAST(-sum(vc * t_plugin_nano) AS BIGINT) AS h_plugin_nano,
             CAST(-sum(vc * t_cs_nano) AS BIGINT) AS h_cs_nano
      FROM terms GROUP BY lang, n, vocab, v1
    )
    SELECT lang, n AS n_tokens, vocab,
           CAST(1000000 - {hd('1000000::HUGEINT * v1', 'n')} AS BIGINT)
             AS coverage_micro,
           h_plugin_nano,
           h_plugin_nano
             + CAST({hd('1000000000::HUGEINT * (vocab - 1)', '2 * n')} AS BIGINT)
             AS h_mm_nano,
           h_cs_nano AS h_chao_shen_nano
    FROM agg ORDER BY lang
    """


@register("corpus_chao_shen_entropy", oracle=_chao_shen_oracle())
def corpus_chao_shen_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coverage-adjusted Shannon entropy per language (Chao & Shen
    2003) beside its plug-in and Miller-Madow companions (VERDICT r13
    item 4). The plug-in estimator is negatively biased exactly when
    the vocabulary is under-sampled — the regime
    ``corpus_good_turing_coverage`` diagnoses; Chao-Shen combines the
    Good-Turing coverage C = 1 - V1/N (shrink each observed
    probability to C*p) with a Horvitz-Thompson correction
    1/(1 - (1-C*p)^N) for the types the sample missed. The spread
    between the three columns is the sampling-bias picture a corpus
    planner reads before trusting any diversity number.

    Deterministic transcendentals: ln via ``detmath.det_ln_dbl`` and
    the N-th power via the NEW ``detmath.det_pow_int`` (48-step
    square-and-multiply; correctly-rounded IEEE multiplies only) — so
    every per-spectrum-row double trajectory is bit-identical across
    engines, and each term quantizes to nano-nats BEFORE the
    order-independent integer sum (the FP-summation discipline). N is
    bounded by det_pow_int's 2^48 exponent domain (~2.8e14 tokens per
    language — two orders above the 100 TB corpus).

    Derivation sharing: the per-(lang, count) grid extends the
    ``roundthirteen6`` frequency-spectrum family's tf head (the
    spectrum CTE itself is consumed unchanged — no invalidation).

    Exactness: all counts exact; per-distinct-count terms are
    deterministic doubles quantized at nano; Miller-Madow adds ONE
    half-up division (V-1)/(2N); coverage is the Good-Turing micro
    complement. Chao-Shen is NULL-guarded for the degenerate all-
    singleton case (C = 0).

    Scale shape: one (lang, token) partial aggregate, then a BOUNDED
    (lang x distinct-count) grid (~1e3 rows per language) carries the
    40-step ln folds and the 48-step pow fold; per-language scalars
    out. |langs| rows.
    """
    from ..functions.detmath import det_ln_dbl, det_pow_int
    from ..functions.textnorm import whitespace_tokens

    t = Tables(spark, sf_dir)
    tf = (
        t.documents.select(
            "lang", F.explode(whitespace_tokens(F.col("text"))).alias("tok")
        )
        .groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    grid = tf.groupBy("lang", "c").agg(F.count(F.lit(1)).cast("long").alias("vc"))
    spectrum = tf.groupBy("lang").agg(
        F.sum("c").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("long").alias("v1"),
    )
    j = grid.join(F.broadcast(spectrum), "lang")
    p = F.col("c").cast("double") / F.col("n").cast("double")
    ccov = F.lit(1.0) - F.col("v1").cast("double") / F.col("n").cast("double")
    cp = ccov * p
    base = j.select(
        "lang", "n", "vocab", "v1", "vc",
        p.alias("p"), cp.alias("cp"), (F.lit(1.0) - cp).alias("one_minus_cp"),
    )
    t_plugin = F.floor(
        (F.col("p") * det_ln_dbl(F.col("p"))) * F.lit(1_000_000_000.0) + F.lit(0.5)
    ).cast("long")
    qpow = det_pow_int(F.col("one_minus_cp"), F.col("n"))
    t_cs = F.when(
        F.col("v1") < F.col("n"),
        F.floor(
            ((F.col("cp") * det_ln_dbl(F.col("cp"))) / (F.lit(1.0) - qpow))
            * F.lit(1_000_000_000.0)
            + F.lit(0.5)
        ).cast("long"),
    )
    terms = base.select(
        "lang", "n", "vocab", "v1", "vc",
        t_plugin.alias("t_plugin_nano"), t_cs.alias("t_cs_nano"),
    )
    agg = terms.groupBy("lang", "n", "vocab", "v1").agg(
        (-F.sum(F.col("vc") * F.col("t_plugin_nano"))).cast("long").alias("h_plugin_nano"),
        (-F.sum(F.col("vc") * F.col("t_cs_nano"))).cast("long").alias("h_cs_nano"),
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    g9 = F.lit(1_000_000_000).cast("decimal(38,0)")
    return agg.select(
        "lang",
        F.col("n").alias("n_tokens"),
        "vocab",
        (F.lit(1_000_000) - halfup_div(m6 * dec38(F.col("v1")), dec38(F.col("n"))))
        .cast("long")
        .alias("coverage_micro"),
        "h_plugin_nano",
        (
            F.col("h_plugin_nano")
            + halfup_div(
                g9 * dec38(F.col("vocab") - 1),
                F.lit(2).cast("decimal(38,0)") * dec38(F.col("n")),
            ).cast("long")
        ).alias("h_mm_nano"),
        F.col("h_cs_nano").alias("h_chao_shen_nano"),
    ).orderBy("lang")


# ---------------------------------------------------------------------------
# 6. Mantel-type correlation: shingle-Jaccard vs embedding-cosine distance
# ---------------------------------------------------------------------------

EMB_Q = 1_000_000  # per-element embedding quantization for the exact dot


def _mantel_oracle() -> str:
    from .dedup import _SQL_SHINGLES

    hd = sql_halfup_div
    return f"""
    WITH norm AS (
{_SQL_SHINGLES}
    ), keyed AS (
      SELECT n.doc_id, d.lang, d.n_chars // 100 AS len_bucket,
             list_distinct(list_transform(n.shingles,
               s -> ('0x' || substr(sha256(s), 1, 15))::BIGINT)) AS hs,
             list_transform(e.embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * {EMB_Q}.0 + 0.5) AS BIGINT)) AS q
      FROM norm n
      JOIN documents d USING (doc_id)
      JOIN embeddings e ON e.vec_id = n.doc_id
      WHERE len(n.shingles) > 0
    ), normed AS (
      SELECT doc_id, lang, len_bucket, hs, q,
             CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS nq
      FROM keyed
    ), pairs AS (
      SELECT 1000000 - {hd('1000000::HUGEINT * len(list_intersect(a.hs, b.hs))',
                           'len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs))')}
               AS x,
             1000000 - CAST(round(
               (CAST(list_sum(list_transform(list_zip(a.q, b.q),
                                             z -> z[1] * z[2])) AS DOUBLE)
                / (sqrt(CAST(a.nq AS DOUBLE)) * sqrt(CAST(b.nq AS DOUBLE))))
               * 1000000.0::DOUBLE) AS BIGINT) AS y
      FROM normed a JOIN normed b
        ON a.lang = b.lang AND a.len_bucket = b.len_bucket
       AND a.doc_id < b.doc_id
    ), s AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
             CAST(sum(x::HUGEINT * x) AS HUGEINT) AS sxx,
             CAST(sum(y::HUGEINT * y) AS HUGEINT) AS syy,
             CAST(sum(x::HUGEINT * y) AS HUGEINT) AS sxy
      FROM pairs
    )
    SELECT CAST(n AS BIGINT) AS n_pairs,
           CAST({hd('sx', 'n')} AS BIGINT) AS mean_jac_dist_micro,
           CAST({hd('sy', 'n')} AS BIGINT) AS mean_cos_dist_micro,
           CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0 THEN
             CAST(floor((CAST(n * sxy - sx * sy AS DOUBLE)
                         / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                            * sqrt(CAST(n * syy - sy * sy AS DOUBLE))))
                        * 1000000.0::DOUBLE + 0.5) AS BIGINT)
           END AS mantel_r_micro
    FROM s
    """


@register("dedup_mantel_jaccard_cosine", oracle=_mantel_oracle())
def dedup_mantel_jaccard_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mantel-type distance correlation between the EXACT shingle
    Jaccard distance and the embedding-cosine distance over the shared
    blocked candidate pair set (VERDICT r13 item 4: "a Mantel-type
    distance correlation on the shared blocked pair set beside
    dedup_minhash_estimator_audit"). The Mantel r statistic (Mantel
    1967) is the Pearson correlation of two inter-object distance
    matrices restricted to the same pair set; high r means lexical
    dedup (MinHash/LSH) and semantic dedup (SemDeDup cosine cells)
    would kill largely the SAME pairs — low r is the quantitative
    argument for running both. Permutation p-values are omitted by
    design (they need randomization; the statistic is the decision
    input). Pairs are the registered lang x length-bucket blocking —
    the estimator audit's exact pair class, never all-pairs.

    Exactness: Jaccard distance is exact half-up micro off integer
    set sizes; cosine quantizes each embedding element to int64 at
    1e-6 FIRST, so dot and norms are ORDER-INDEPENDENT exact integer
    sums and the cosine is one deterministic double expression (exact
    int64 -> double conversions, two correctly-rounded sqrts, one
    division) rounded once at micro; the five correlation sufficient
    sums are exact decimal(38,0); the final r assembles from their
    exact-to-double casts with sqrt — identical IEEE trajectory in
    both engines (the ``stats_corr_price_quantity`` pattern).
    Zero-variance sides NULL the r.

    Scale shape: the pair generation is the blocked equi-self-join;
    the 64-dim integer dot adds a fixed per-pair cost;
    the audit aggregate is one constant-size row. 1 row out.
    """
    from ..functions.partitioning import gated_broadcast
    from .dedup import pair_intersections_table

    # Round-14 optimization: the blocked pair set + exact intersection
    # sizes come off the session-materialized
    # ``dedup.pair_intersections_table`` (one derivation, five
    # consumers); the quantized embedding vectors join each pair side
    # as a doc-sized gated-broadcast table. Docs without an embedding
    # row drop from the pair set through the inner joins exactly as
    # the build-round inner join before pairing did; every integer
    # (inter, sa, sb, q, nq) is unchanged, so x/y and the oracle are
    # value-identical.
    t = Tables(spark, sf_dir)
    qarr = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x: F.floor(x * F.lit(float(EMB_Q)) + F.lit(0.5)).cast("long"),
    )
    qn = t.embeddings.select(
        F.col("vec_id").alias("doc_id"), qarr.alias("q")
    ).withColumn(
        "nq",
        F.aggregate(F.col("q"), F.lit(0).cast("long"), lambda acc, x: acc + x * x),
    )
    qa = qn.select(
        F.col("doc_id").alias("doc_a"), F.col("q").alias("qa"), F.col("nq").alias("na")
    )
    qb = qn.select(
        F.col("doc_id").alias("doc_b"), F.col("q").alias("qb"), F.col("nq").alias("nb")
    )
    inter = F.col("inter")
    union = F.col("sa") + F.col("sb") - inter
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    xdist = (F.lit(1_000_000) - halfup_div(m6 * dec38(inter), dec38(union))).cast("long")
    dot = F.aggregate(
        F.zip_with(F.col("qa"), F.col("qb"), lambda p_, q_: p_ * q_),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    cos = dot.cast("double") / (
        F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double"))
    )
    ydist = (F.lit(1_000_000) - F.round(cos * F.lit(1_000_000.0)).cast("long"))
    pairs = (
        pair_intersections_table(t)
        .filter(F.col("lb_a") == F.col("lb_b"))
        .join(gated_broadcast(qa), "doc_a")
        .join(gated_broadcast(qb), "doc_b")
        .select(xdist.alias("x"), ydist.alias("y"))
    )
    s = pairs.agg(
        dec38(F.count(F.lit(1))).alias("n"),
        F.sum(dec38(F.col("x"))).alias("sx"),
        F.sum(dec38(F.col("y"))).alias("sy"),
        F.sum(dec38(F.col("x")) * dec38(F.col("x"))).alias("sxx"),
        F.sum(dec38(F.col("y")) * dec38(F.col("y"))).alias("syy"),
        F.sum(dec38(F.col("x")) * dec38(F.col("y"))).alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    dx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    dy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    r = num.cast("double") / (
        F.sqrt(dx.cast("double")) * F.sqrt(dy.cast("double"))
    )
    return s.select(
        F.col("n").cast("long").alias("n_pairs"),
        halfup_div(F.col("sx"), F.col("n")).cast("long").alias("mean_jac_dist_micro"),
        halfup_div(F.col("sy"), F.col("n")).cast("long").alias("mean_cos_dist_micro"),
        F.when(
            (dx > 0) & (dy > 0),
            F.floor(r * F.lit(1_000_000.0) + F.lit(0.5)).cast("long"),
        ).alias("mantel_r_micro"),
    )
