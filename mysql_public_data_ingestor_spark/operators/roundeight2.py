"""Round-8 batch-3 operators: nonparametric tests, information theory,
weighted link prediction, and recall auditing for the dedup family.

Kruskal-Wallis and Mood's median fill out the nonparametric testing
family (complementing Mann-Whitney / Welch ANOVA / Levene); mutual
information extends the det-ln information-theory surface from text to
warehouse columns; and the MinHash recall audit closes
the loop VERDICT r7 opened for IVF-PQ — measure the approximate
operator against its exact ground truth *as a registered query*.

House discipline throughout: declarative DataFrame plans, partial
aggregation to a bounded domain before any window/join that could
otherwise scale with rows, exact integer/decimal arithmetic on every
value that crosses the engine boundary, det-ln (functions/detmath)
wherever the semantics are logarithmic, and a DuckDB oracle twin per
query.

``stats_friedman_nation_priority``, ``stats_kruskal_wallis_quantity``
and ``stats_mood_median_discount`` live in ``operators/stats_rank.py``;
``stats_mutual_info_priority_segment`` lives in
``operators/stats_tables.py``; ``stats_bowley_skew_priority``,
``stats_moments_skew_kurtosis``, ``stats_negbin_hourly_fit``,
``stats_theil_index_nation`` and ``stats_weibull_latency_fit`` live in
``operators/stats_dist.py``; ``stats_grubbs_acctbal_nation`` and
``stats_ols_influence_daily`` live in ``operators/stats_models.py`` with
the other stats queries.

``events_markov_stationary`` lives in ``operators/events_sequence.py``;
``events_changepoint_pettitt`` and ``events_seasonal_strength`` live in
``operators/events_series.py`` with the other events queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.exact import dec38
from ..registry import register
from ..tables import Tables


# ---------------------------------------------------------------------------
# 5. MinHash-LSH recall audit vs exact blocked Jaccard ground truth
# ---------------------------------------------------------------------------


# Deterministic per-block cap on the recall audit's exact-truth side
# (VERDICT r8 item 4): at most this many hash-selected docs per
# (lang, len_bucket) block enter the exact-Jaccard pair enumeration,
# so truth pair volume is <= n_blocks * C(cap, 2) BY MECHANISM — one
# hot block at 100 TB can no longer make the audit quadratic. 64 docs
# per block keeps every sf0.01/sf0.1 block intact in practice while
# the x10 duplicate-amplified fixture caps out.
RECALL_AUDIT_BLOCK_CAP = 64


def _minhash_recall_oracle() -> str:
    from .dedup import (
        N_BANDS,
        N_MINHASH,
        ROWS_PER_BAND,
        _SQL_SHINGLES,
        _sql_minhash,
    )
    from ..functions.exact import sql_round_int_ratio

    hcols = ",\n             ".join(_sql_minhash(i) for i in range(N_MINHASH))
    bcols = ", ".join(
        "concat("
        + ", ',', ".join(f"h{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND))
        + f") AS b{b}"
        for b in range(N_BANDS)
    )
    bmatch = " OR ".join(f"a.b{b} = b.b{b}" for b in range(N_BANDS))
    return f"""
    WITH norm AS (
{_SQL_SHINGLES}
    ), sigs AS (
      SELECT doc_id,
             list_distinct(list_transform(shingles,
               s -> ('0x' || substr(sha256(s), 1, 15))::BIGINT)) AS bases,
             {hcols}
      FROM norm WHERE len(shingles) > 0
    ), banded AS (
      SELECT doc_id, {bcols} FROM sigs
    ), lsh AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM banded a JOIN banded b
        ON a.doc_id < b.doc_id AND ({bmatch})
    ), keyed AS (
      SELECT s.doc_id, d.lang, d.n_chars // 100 AS len_bucket, s.bases AS hs,
             (('0x' || substr(sha256('ra|' || CAST(s.doc_id AS VARCHAR)),
                              1, 15)))::BIGINT AS smp_h
      FROM sigs s JOIN documents d USING (doc_id)
    ), capped AS (
      SELECT doc_id, lang, len_bucket, hs
      FROM (SELECT *, row_number() OVER (PARTITION BY lang, len_bucket
                                         ORDER BY smp_h, doc_id) AS rk
            FROM keyed)
      WHERE rk <= {RECALL_AUDIT_BLOCK_CAP}
    ), truth AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             len(list_intersect(a.hs, b.hs)) AS inter,
             len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs)) AS uni
      FROM capped a JOIN capped b
        ON a.lang = b.lang AND a.len_bucket = b.len_bucket
           AND a.doc_id < b.doc_id
      WHERE 2 * len(list_intersect(a.hs, b.hs))
            >= len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs))
    ), marked AS (
      SELECT least((10 * t.inter) // t.uni, 9) AS decile,
             CASE WHEN l.doc_a IS NOT NULL THEN 1 ELSE 0 END AS hit
      FROM truth t LEFT JOIN lsh l
        ON t.doc_a = l.doc_a AND t.doc_b = l.doc_b
    )
    SELECT CAST(decile AS BIGINT) AS decile,
           CAST(count(*) AS BIGINT) AS n_truth,
           CAST(sum(hit) AS BIGINT) AS n_hit,
           {sql_round_int_ratio('sum(hit)', 'count(*)')} AS recall
    FROM marked GROUP BY decile
    """


@register("dedup_minhash_recall_audit", oracle=_minhash_recall_oracle())
def dedup_minhash_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall of the MinHash-LSH candidate generator against
    exact blocked-Jaccard ground truth, per Jaccard decile — the
    registered self-audit VERDICT r7 asked the approximate family to
    carry (the dedup twin of ``similarity_ivfpq_recall_audit``): the
    (bands, rows) = (4, 2) scheme's S-curve is visible directly as
    recall rising with similarity, and a threshold/band change shows up
    as a hash-checked diff, not an argument.

    Ground truth is the exact shingle-set Jaccard >= 0.5 over the same
    (lang, length-bucket) blocking ``dedup_ngram_jaccard`` uses — the
    bounded exact pair set available without an O(n^2) scan (the audit
    measures recall over blocked truth; LSH candidates are global so
    this only overstates recall if a near-dup pair crosses a length
    block, which verbatim and near-verbatim duplicates do not).
    Within each block at most ``RECALL_AUDIT_BLOCK_CAP`` docs —
    selected by a deterministic salted hash rank, identical in both
    engines — enter the pair enumeration (VERDICT r8 item 4): block
    density no longer drives pair volume, so one hot (lang, bucket)
    block at 100 TB costs C(cap, 2) pairs instead of C(block, 2),
    while the hash-random sample preserves the per-decile S-curve.
    Decile assignment is pure integer arithmetic ((10*inter)//union,
    capped at 9) — no float boundary can flip a bucket cross-engine.
    One shingle+hash pass is shared by both sides via localCheckpoint;
    the band join shuffles on narrow band keys and the truth join on
    block keys — no cartesian anywhere at any scale.
    """
    from .dedup import (
        MERSENNE_P,
        N_BANDS,
        ROWS_PER_BAND,
        SHINGLE_K,
        _minhash_cols,
    )
    from ..functions.exact import round_int_ratio
    from ..functions.partitioning import cpu_repartition
    from ..functions.textnorm import sha256_prefix_i64, shingle_base_hash_udf

    t = Tables(spark, sf_dir)
    bases_udf = shingle_base_hash_udf(SHINGLE_K)
    norm = (
        cpu_repartition(t.documents, "doc_id")
        .select(
            "doc_id",
            "lang",
            (F.col("n_chars") / 100).cast("long").alias("len_bucket"),
            bases_udf(F.col("text")).alias("bases"),
        )
        .filter(F.size("bases") > 0)
        .localCheckpoint(eager=False)
    )
    sigs = norm.select(
        "doc_id",
        *_minhash_cols(F.transform(F.col("bases"), lambda x: x % MERSENNE_P)),
    )
    band_cols = [
        F.concat_ws(
            ",", *[F.col(f"h{b * ROWS_PER_BAND + r}") for r in range(ROWS_PER_BAND)]
        ).alias(f"b{b}")
        for b in range(N_BANDS)
    ]
    banded = sigs.select(
        "doc_id", F.posexplode(F.array(*band_cols)).alias("band_id", "band_key")
    )
    lsh = (
        banded.select(F.col("doc_id").alias("doc_a"), "band_id", "band_key")
        .join(
            banded.select(F.col("doc_id").alias("doc_b"), "band_id", "band_key"),
            ["band_id", "band_key"],
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    w_blk = Window.partitionBy("lang", "len_bucket").orderBy("smp_h", "doc_id")
    capped = (
        norm.withColumn(
            "smp_h",
            sha256_prefix_i64(
                F.concat(F.lit("ra|"), F.col("doc_id").cast("string"))
            ),
        )
        .withColumn("rk", F.row_number().over(w_blk))
        .filter(F.col("rk") <= RECALL_AUDIT_BLOCK_CAP)
        .drop("smp_h", "rk")
    )
    a = capped.select(
        F.col("doc_id").alias("doc_a"), "lang", "len_bucket", F.col("bases").alias("ha")
    )
    b_ = capped.select(
        F.col("doc_id").alias("doc_b"),
        F.col("lang").alias("lang_b"),
        F.col("len_bucket").alias("len_bucket_b"),
        F.col("bases").alias("hb"),
    )
    inter = F.size(F.array_intersect(F.col("ha"), F.col("hb")))
    union = F.size("ha") + F.size("hb") - inter
    truth = (
        a.join(
            b_,
            (F.col("lang") == F.col("lang_b"))
            & (F.col("len_bucket") == F.col("len_bucket_b"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .select("doc_a", "doc_b", inter.alias("inter"), union.alias("uni"))
        .filter(2 * F.col("inter") >= F.col("uni"))
    )
    marked = truth.join(
        lsh.withColumn("hit", F.lit(1)), ["doc_a", "doc_b"], "left"
    ).select(
        F.least(
            F.floor((10 * F.col("inter")) / F.col("uni")).cast("long"), F.lit(9)
        ).alias("decile"),
        F.coalesce(F.col("hit"), F.lit(0)).alias("hit"),
    )
    return marked.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_truth"),
        F.sum("hit").alias("n_hit"),
        round_int_ratio(F.sum("hit"), F.count(F.lit(1))).alias("recall"),
    )


# ---------------------------------------------------------------------------
# 10. Vocabulary coverage curve (top-k token share, count-of-counts route)
# ---------------------------------------------------------------------------

COVERAGE_KS = (10, 100, 1000)


def _coverage_oracle() -> str:
    from .corpus import _SQL_TOKENS
    from ..functions.exact import sql_round_big_int_ratio

    ks = ", ".join(str(k) for k in COVERAGE_KS)
    return f"""
    WITH toks AS (
      SELECT unnest({_SQL_TOKENS}) AS token FROM documents
    ), vocab AS (
      SELECT token, CAST(count(*) AS BIGINT) AS tf FROM toks
      WHERE token <> '' GROUP BY token
    ), coc AS (
      SELECT tf, CAST(count(*) AS BIGINT) AS n_toks FROM vocab GROUP BY tf
    ), cum AS (
      SELECT c.tf,
             CAST(coalesce(sum(hi.n_toks), 0) AS BIGINT) AS n_above,
             CAST(coalesce(sum(hi.n_toks * hi.tf), 0) AS HUGEINT) AS mass_above
      FROM coc c LEFT JOIN coc hi ON hi.tf > c.tf
      GROUP BY c.tf
    ), tot AS (
      SELECT CAST(sum(n_toks::HUGEINT * tf) AS HUGEINT) AS total_mass,
             CAST(sum(n_toks) AS BIGINT) AS vocab_size
      FROM coc
    ), ks AS (
      SELECT unnest([{ks}]) AS k
    ), pick AS (
      SELECT k.k, min(c.tf) AS f_k
      FROM ks k JOIN cum c
        ON c.n_above < k.k
      GROUP BY k.k
    ), cov AS (
      SELECT p.k, c.n_above, c.mass_above, p.f_k,
             c.mass_above
               + least(p.k - c.n_above,
                       (SELECT n_toks FROM coc WHERE tf = p.f_k))::HUGEINT
                 * p.f_k AS covered
      FROM pick p JOIN cum c ON c.tf = p.f_k
    )
    SELECT CAST(v.k AS BIGINT) AS k, t.vocab_size,
           CAST(v.covered AS BIGINT) AS tokens_covered,
           {sql_round_big_int_ratio('v.covered', 't.total_mass')} AS coverage
    FROM cov v, tot t
    """


@register("text_vocab_coverage_curve", oracle=_coverage_oracle())
def text_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-mass coverage of the top-k vocabulary at k = 10 / 100 /
    1000 — the curve a tokenizer-budget decision reads ("how much of
    the corpus do the k most frequent types cover"), and the
    Zipf-practical companion of ``text_zipf_fit``.

    No global sort of the vocabulary: coverage comes from the
    count-of-counts table (distinct frequency -> #types), where
    "top-k" resolves to a frequency threshold f_k (the highest f with
    fewer than k strictly-more-frequent types) plus an exact partial
    take of the f_k tie class — so ranking work is bounded by the
    number of DISTINCT frequencies (~sqrt(N) under Zipf), not vocab
    size, and ties contribute identically on both engines (any k types
    of equal frequency cover the same mass). Cumulatives run via a
    non-equi self-join of the bounded count-of-counts aggregate, never
    a SinglePartition window; everything downstream of the one
    vocab-building shuffle is exact integer arithmetic.
    """
    from ..functions.exact import round_big_int_ratio
    from ..functions.textnorm import whitespace_tokens

    t = Tables(spark, sf_dir)
    vocab = (
        t.documents.select(F.explode(whitespace_tokens(F.col("text"))).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    coc = vocab.groupBy("tf").agg(F.count(F.lit(1)).alias("n_toks"))
    hi = coc.select(F.col("tf").alias("tf_hi"), F.col("n_toks").alias("n_hi"))
    cum = (
        coc.join(F.broadcast(hi), F.col("tf_hi") > F.col("tf"), "left")
        .groupBy("tf", "n_toks")
        .agg(
            F.coalesce(F.sum("n_hi"), F.lit(0)).alias("n_above"),
            F.coalesce(F.sum(dec38(F.col("n_hi")) * F.col("tf_hi")), dec38(F.lit(0))).alias(
                "mass_above"
            ),
        )
    )
    tot = coc.agg(
        F.sum(dec38(F.col("n_toks")) * F.col("tf")).alias("total_mass"),
        F.sum("n_toks").alias("vocab_size"),
    )
    ks = spark.range(len(COVERAGE_KS)).select(
        F.element_at(
            F.array(*[F.lit(k) for k in COVERAGE_KS]), (F.col("id") + 1).cast("int")
        ).alias("k")
    )
    pick = (
        ks.join(F.broadcast(cum), F.col("n_above") < F.col("k"))
        .groupBy("k")
        .agg(F.min("tf").alias("f_k"))
    )
    cov = pick.join(
        F.broadcast(cum.select("tf", "n_toks", "n_above", "mass_above")),
        F.col("tf") == F.col("f_k"),
    ).select(
        "k",
        (
            F.col("mass_above")
            + dec38(F.least(F.col("k") - F.col("n_above"), F.col("n_toks"))) * F.col("f_k")
        ).alias("covered"),
    )
    out = cov.join(F.broadcast(tot))
    return out.select(
        F.col("k").cast("long").alias("k"),
        "vocab_size",
        F.col("covered").cast("long").alias("tokens_covered"),
        round_big_int_ratio(F.col("covered"), F.col("total_mass")).alias("coverage"),
    )


# ---------------------------------------------------------------------------
# 13. Dense-key gap audit over order keys
# ---------------------------------------------------------------------------

GAP_BUCKET = 1 << 13  # 8192-key buckets


def _gap_oracle() -> str:
    return f"""
    WITH b AS (
      SELECT o_orderkey // {GAP_BUCKET} AS bucket,
             CAST(count(*) AS BIGINT) AS n_keys,
             CAST(min(o_orderkey) AS BIGINT) AS k_min,
             CAST(max(o_orderkey) AS BIGINT) AS k_max
      FROM orders GROUP BY 1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(sum(n_keys) AS BIGINT) AS n_keys,
           CAST(sum(k_max - k_min + 1 - n_keys) AS BIGINT) AS missing_in_span,
           CAST(max(k_max - k_min + 1 - n_keys) AS BIGINT) AS worst_bucket_gap
    FROM b
    """


@register("dq_orderkey_gap_audit", oracle=_gap_oracle())
def dq_orderkey_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense-surrogate-key gap audit: how many keys are missing inside
    each observed 8192-key bucket's [min, max] span (TPC-H orderkeys
    are deliberately sparse — 8 of every 32 — so the expected result
    is large and stable; on a warehouse's AUTO_INCREMENT key the same
    query surfaces deleted/failed-insert ranges). Complements
    ``dq_uniqueness_violations`` (duplicates) with the opposite
    failure mode (holes).

    One partial-aggregated scan: per-bucket (count, min, max) are the
    only state, span-minus-count needs no per-key materialization, and
    the bucket modulus keeps every group's span arithmetic in int64.
    The global rollup is a second constant-size aggregate — no windows,
    no joins, scales as a pure scan at any corpus size.
    """
    t = Tables(spark, sf_dir)
    b = (
        t.orders.select(
            (F.col("o_orderkey") - F.col("o_orderkey") % GAP_BUCKET).alias("bucket"),
            "o_orderkey",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.min("o_orderkey").alias("k_min"),
            F.max("o_orderkey").alias("k_max"),
        )
    )
    gap = F.col("k_max") - F.col("k_min") + 1 - F.col("n_keys")
    return b.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum("n_keys").alias("n_keys"),
        F.sum(gap).alias("missing_in_span"),
        F.max(gap).alias("worst_bucket_gap"),
    )


# ---------------------------------------------------------------------------
# 16. Mode (most frequent value) per group with deterministic tie-break
# ---------------------------------------------------------------------------


def _mode_oracle() -> str:
    from ..functions.exact import sql_round_int_ratio

    return f"""
    WITH cnts AS (
      SELECT p_brand, p_type, CAST(count(*) AS BIGINT) AS n
      FROM part GROUP BY 1, 2
    ), tot AS (
      SELECT p_brand, CAST(sum(n) AS BIGINT) AS n_total FROM cnts GROUP BY 1
    ), r AS (
      SELECT c.p_brand, c.p_type, c.n, t.n_total,
             row_number() OVER (PARTITION BY c.p_brand
                                ORDER BY c.n DESC, c.p_type) AS rnk
      FROM cnts c JOIN tot t USING (p_brand)
    )
    SELECT p_brand, p_type AS mode_type, n AS n_mode, n_total,
           {sql_round_int_ratio('n', 'n_total')} AS mode_share
    FROM r WHERE rnk = 1
    """


@register("agg_mode_per_group", oracle=_mode_oracle())
def agg_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mode (most frequent part type) per brand with its support share
    — the categorical central-tendency aggregate SQL lacks natively
    (``mode()`` where available is tie-nondeterministic; this one
    total-orders ties by (count DESC, value ASC) so the answer is
    reproducible by construction).

    Two partial-aggregated groupBys to the |brand| x |type| bounded
    table, a per-brand window for the argmax, and an exact half-up
    integer share. The same shape is the building block for
    per-group most-common-value imputation in a feature pipeline.
    """
    from ..functions.exact import round_int_ratio

    t = Tables(spark, sf_dir)
    cnts = t.part.groupBy("p_brand", "p_type").agg(F.count(F.lit(1)).alias("n"))
    tot = cnts.groupBy("p_brand").agg(F.sum("n").alias("n_total"))
    w = Window.partitionBy("p_brand").orderBy(F.col("n").desc(), F.col("p_type"))
    r = cnts.join(tot, "p_brand").withColumn("rnk", F.row_number().over(w))
    return r.filter(F.col("rnk") == 1).select(
        "p_brand",
        F.col("p_type").alias("mode_type"),
        F.col("n").alias("n_mode"),
        "n_total",
        round_int_ratio(F.col("n"), F.col("n_total")).alias("mode_share"),
    )


# ---------------------------------------------------------------------------
# 20. KMV (k-minimum-values) distinct-count sketch with exact audit
# ---------------------------------------------------------------------------

KMV_K = 256
KMV_DOMAIN = 1 << 60  # sha256 15-hex-char prefix domain


def _kmv_oracle() -> str:
    from ..functions.exact import sql_round_int_ratio

    return f"""
    WITH h AS (
      SELECT DISTINCT (('0x' || substr(sha256(CAST(user_id AS VARCHAR)), 1, 15)))::BIGINT AS hv,
             user_id
      FROM events
    ), hd AS (
      SELECT DISTINCT hv FROM h
    ), topk AS (
      SELECT hv FROM hd ORDER BY hv LIMIT {KMV_K}
    ), kth AS (
      SELECT CAST(max(hv) AS BIGINT) AS h_k,
             CAST(count(*) AS BIGINT) AS k_eff
      FROM topk
    ), tru AS (
      SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS d_true FROM h
    )
    SELECT k.k_eff, k.h_k,
           CAST(CASE WHEN k.k_eff = {KMV_K}
                THEN ({KMV_K - 1}::BIGINT * {KMV_DOMAIN}::HUGEINT) // k.h_k
                ELSE k.k_eff END AS BIGINT) AS d_est,
           t.d_true,
           {sql_round_int_ratio(
               f'''abs(CAST(CASE WHEN k.k_eff = {KMV_K}
                    THEN ({KMV_K - 1}::BIGINT * {KMV_DOMAIN}::HUGEINT) // k.h_k
                    ELSE k.k_eff END AS BIGINT) - t.d_true)''',
               't.d_true')} AS rel_error
    FROM kth k, tru t
    """


@register("sketch_kmv_distinct_users", oracle=_kmv_oracle())
def sketch_kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-user estimator with its exact
    audit: keep the k = 256 smallest 60-bit portable hashes of
    user_id, estimate D = (k-1) * 2^60 / h_(k), and report the exact
    distinct count + relative error alongside — the third member of
    the mergeable-sketch family (bitmap = exact, HLL = register-based
    approximate, KMV = order-statistics approximate with a tunable-k
    error bound ~1/sqrt(k)), and like the others fully deterministic
    (sha-derived hashes, integer estimate) so it hash-verifies
    cross-engine rather than "approximately matches".

    Scale: the hash + distinct is one shuffle on the hash key (partial
    aggregation collapses duplicates map-side); the k smallest resolve
    via TakeOrdered (no global sort materializes); the estimate is
    one integer division. The exact-side audit shares the distinct
    pass. At 100 TB the sketch state is k values — merging shards =
    unioning their k-sets and re-taking the k minimum.
    """
    from ..functions.exact import round_int_ratio
    from ..functions.textnorm import sha256_prefix_i64

    t = Tables(spark, sf_dir)
    h = t.events.select(
        sha256_prefix_i64(F.col("user_id").cast("string")).alias("hv")
    ).distinct()
    topk = h.orderBy("hv").limit(KMV_K)
    kth = topk.agg(F.max("hv").alias("h_k"), F.count(F.lit(1)).alias("k_eff"))
    tru = t.events.agg(F.countDistinct("user_id").alias("d_true"))
    est_num = dec38(F.lit(KMV_K - 1)) * F.lit(KMV_DOMAIN)
    est = F.when(
        F.col("k_eff") == KMV_K,
        ((est_num - est_num % dec38(F.col("h_k"))) / dec38(F.col("h_k"))).cast("long"),
    ).otherwise(F.col("k_eff"))
    out = kth.join(F.broadcast(tru))
    return out.select(
        "k_eff",
        "h_k",
        est.alias("d_est"),
        "d_true",
        round_int_ratio(F.abs(est - F.col("d_true")), F.col("d_true")).alias("rel_error"),
    )


# ---------------------------------------------------------------------------
# 21. Interval-overlap audit over per-customer order activity windows
# ---------------------------------------------------------------------------

OVERLAP_WINDOW_DAYS = 30


def _overlap_oracle() -> str:
    return f"""
    WITH iv AS (
      SELECT o_custkey, o_orderkey,
             CAST(o_orderdate AS DATE) AS s,
             CAST(o_orderdate AS DATE) + INTERVAL {OVERLAP_WINDOW_DAYS} DAY AS e
      FROM orders
    ), pairs AS (
      SELECT a.o_custkey,
             CAST(count(*) AS BIGINT) AS n_pairs
      FROM iv a JOIN iv b
        ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey
           AND a.s < b.e AND b.s < a.e
      GROUP BY a.o_custkey
    )
    SELECT CAST(count(*) AS BIGINT) AS n_customers_overlapping,
           CAST(sum(n_pairs) AS BIGINT) AS n_overlap_pairs,
           CAST(max(n_pairs) AS BIGINT) AS max_pairs_per_customer
    FROM pairs
    """


@register("dq_interval_overlap_orders", oracle=_overlap_oracle())
def dq_interval_overlap_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap audit: treating each order as a 30-day
    activity window, count per-customer overlapping window pairs —
    the validity-interval DQ primitive (SCD2 ranges, subscription
    periods, session windows) where ANY overlap is a modeling bug;
    here the TPC-H order cadence makes the expected overlap volume a
    stable fixture-verified value.

    The pair join is an equi-join ON THE KEY (customer) with the
    overlap predicate as a residual filter — per-key interval counts
    are bounded (orders per customer), so the join output is
    sum-of-C(k,2)-per-key, never a cartesian; one shuffle on custkey,
    then a two-level constant-size aggregate.
    """
    t = Tables(spark, sf_dir)
    iv = t.orders.select(
        "o_custkey",
        "o_orderkey",
        F.to_date("o_orderdate").alias("s"),
        F.date_add(F.to_date("o_orderdate"), OVERLAP_WINDOW_DAYS).alias("e"),
    )
    b = iv.select(
        F.col("o_custkey").alias("ck"),
        F.col("o_orderkey").alias("ok_b"),
        F.col("s").alias("s_b"),
        F.col("e").alias("e_b"),
    )
    pairs = (
        iv.join(
            b,
            (F.col("o_custkey") == F.col("ck"))
            & (F.col("o_orderkey") < F.col("ok_b"))
            & (F.col("s") < F.col("e_b"))
            & (F.col("s_b") < F.col("e")),
        )
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    return pairs.agg(
        F.count(F.lit(1)).alias("n_customers_overlapping"),
        F.sum("n_pairs").alias("n_overlap_pairs"),
        F.max("n_pairs").alias("max_pairs_per_customer"),
    )
