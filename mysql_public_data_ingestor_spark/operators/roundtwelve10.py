"""Round-12 direct registrations, batch O (privacy, layout, embedding
geometry, reconciliation, forecasting).

Five window-slot completions, each oracle-paired, replica-pinned and
plan-barred in ``tests/test_roundtwelve10.py`` (same-commit gate
rule). Every name was checked against the full registry inventory
before design (the SCALE §5j.7 authoring rule):

* ``privacy_randomized_response_audit`` — Warner's randomized
  response (1965) with deterministic hash coins; debiased estimates
  vs ground truth.
* ``layout_clustering_depth_audit`` — min/max overlap depth per
  candidate layout key (the Snowflake clustering-depth read, beside
  ``layout_minmax_skipping_audit``'s query-pruning read).
* ``embedding_knn_hubness_audit`` — k-occurrence (hubness) profile
  of the kNN graph over a deterministic hash sample (Radovanovic,
  Nanopoulos & Ivanovic 2010).
* ``stats_lin_ccc_reconciliation`` — Lin's concordance correlation
  (1989) between the order header total and the line-derived total.

``stats_diebold_mariano_daily`` lives in
``operators/daily_hypothesis.py`` with the other daily-series queries.

Reference parity note: the reference (Go ingestion pipeline,
``/root/reference/main.go``) has no analytics; these extend SURVEY
§2.C privacy / layout / embedding / statistics.

``stats_lin_ccc_reconciliation`` lives in ``operators/stats_tables.py``
with the other stats queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import dec38, halfup_div, sql_halfup_div
from ..registry import register
from ..tables import Tables

# ---------------------------------------------------------------------------
# 1. Randomized-response audit over market segments
# ---------------------------------------------------------------------------

RR_KEEP_NUM = 3  # keep probability p = RR_KEEP_NUM / RR_KEEP_DEN
RR_KEEP_DEN = 4


def _sha_mod_sql(expr: str, mod: int) -> str:
    return f"(('0x' || substr(sha256({expr}), 1, 15))::BIGINT % {mod})"


def _rr_oracle() -> str:
    hd = sql_halfup_div
    keep = _sha_mod_sql("'rr|' || CAST(c_custkey AS VARCHAR)", RR_KEEP_DEN)
    return f"""
    WITH segs AS (
      SELECT a.seg, CAST(count(*) AS BIGINT) - 1 AS r
      FROM (SELECT DISTINCT c_mktsegment AS seg FROM customer) a
      JOIN (SELECT DISTINCT c_mktsegment AS seg FROM customer) b
        ON b.seg <= a.seg
      GROUP BY a.seg
    ), kk AS (SELECT CAST(count(*) AS BIGINT) AS k FROM segs),
    rep AS (
      SELECT c.c_mktsegment AS true_seg,
             CASE WHEN {keep} < {RR_KEEP_NUM} THEN c.c_mktsegment
                  ELSE (SELECT s.seg FROM segs s, kk
                        WHERE s.r = {_sha_mod_sql(
                            "'rrc|' || CAST(c_custkey AS VARCHAR)", 10**9)}
                              % kk.k)
             END AS rep_seg
      FROM customer c
    ), truth AS (
      SELECT true_seg AS segment, CAST(count(*) AS BIGINT) AS true_n
      FROM rep GROUP BY 1
    ), obs AS (
      SELECT rep_seg AS segment, CAST(count(*) AS BIGINT) AS reported_n
      FROM rep GROUP BY 1
    ), nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM rep)
    SELECT t.segment, t.true_n,
           COALESCE(o.reported_n, 0) AS reported_n,
           CAST({hd(f'1000000::HUGEINT * ({RR_KEEP_DEN} * kk.k'
                    ' * COALESCE(o.reported_n, 0) - nn.n)',
                    f'{RR_KEEP_NUM}::HUGEINT * kk.k')} AS BIGINT)
             AS est_count_micro,
           CAST({hd(f'1000000::HUGEINT * ({RR_KEEP_DEN} * kk.k'
                    ' * COALESCE(o.reported_n, 0) - nn.n)',
                    f'{RR_KEEP_NUM}::HUGEINT * kk.k')}
                - 1000000::HUGEINT * t.true_n AS BIGINT) AS est_err_micro
    FROM truth t LEFT JOIN obs o ON o.segment = t.segment, kk, nn
    ORDER BY t.segment
    """


@register("privacy_randomized_response_audit", oracle=_rr_oracle())
def privacy_randomized_response_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warner randomized-response audit (1965) on the market-segment
    attribute: each customer reports their TRUE segment with
    probability 3/4 and a hash-uniform random segment otherwise; the
    debiased estimator est_c = (obs_c - n(1-p)/k) / p recovers the
    true histogram. Reports per segment the truth, the noised
    observation, the debiased estimate and its error — the LOCAL-DP
    member of the privacy shelf (``privacy_dp_laplace_counts`` etc.
    add noise CENTRALLY after aggregation; RR perturbs at the RECORD
    level before collection, the model telemetry systems actually
    deploy), with the audit showing the utility cost at this n.

    Determinism: the "coins" are sha256 hashes of the customer key
    (house convention) — both engines flip identical coins, so the
    noised histogram is bit-reproducible and the estimator's error is
    a fixed measurable quantity, not a random variable.

    Exactness: counts exact; with p = 3/4 the estimate reduces to
    (4k*obs - n)/(3k), ONE half-up micro division per segment; the
    error column subtracts the exact 1e6-scaled truth.

    Scale shape: one customer scan (the random-branch segment lookup
    is a broadcast join against the <= 5-row indexed segment list);
    segment-bounded algebra out.
    """
    t = Tables(spark, sf_dir)
    segs_raw = t.customer.select(F.col("c_mktsegment").alias("seg")).distinct()
    b = segs_raw.select(F.col("seg").alias("seg_b"))
    segs = (
        segs_raw.join(F.broadcast(b), F.col("seg_b") <= F.col("seg"))
        .groupBy("seg")
        .agg((F.count(F.lit(1)) - 1).cast("long").alias("r"))
    )
    kk = segs.agg(F.count(F.lit(1)).cast("long").alias("k"))
    sha = lambda s: F.conv(F.substring(F.sha2(s, 256), 1, 15), 16, 10).cast(  # noqa: E731
        "long"
    )
    cust = t.customer.select(
        F.col("c_mktsegment").alias("true_seg"),
        (sha(F.concat(F.lit("rr|"), F.col("c_custkey").cast("string"))) % RR_KEEP_DEN)
        .alias("coin"),
        (sha(F.concat(F.lit("rrc|"), F.col("c_custkey").cast("string"))) % 10**9)
        .alias("pick"),
    ).crossJoin(F.broadcast(kk))
    rnd = segs.select(F.col("r").alias("pick_r"), F.col("seg").alias("rand_seg"))
    rep = cust.join(
        F.broadcast(rnd), F.col("pick_r") == F.col("pick") % F.col("k")
    ).select(
        "true_seg",
        F.when(F.col("coin") < RR_KEEP_NUM, F.col("true_seg"))
        .otherwise(F.col("rand_seg"))
        .alias("rep_seg"),
        "k",
    )
    truth = rep.groupBy(F.col("true_seg").alias("segment")).agg(
        F.count(F.lit(1)).cast("long").alias("true_n")
    )
    obs = rep.groupBy(F.col("rep_seg").alias("segment")).agg(
        F.count(F.lit(1)).cast("long").alias("reported_n")
    )
    nn = rep.agg(F.count(F.lit(1)).cast("long").alias("n"))
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    est = halfup_div(
        m6
        * (
            dec38(F.lit(RR_KEEP_DEN) * F.col("k") * F.coalesce(F.col("reported_n"), F.lit(0)))
            - F.col("n")
        ),
        dec38(F.lit(RR_KEEP_NUM) * F.col("k")),
    )
    return (
        truth.join(obs, "segment", "left")
        .crossJoin(F.broadcast(kk))
        .crossJoin(F.broadcast(nn))
        .select(
            "segment",
            "true_n",
            F.coalesce(F.col("reported_n"), F.lit(0)).cast("long").alias(
                "reported_n"
            ),
            est.cast("long").alias("est_count_micro"),
            (est - m6 * F.col("true_n")).cast("long").alias("est_err_micro"),
        )
        .orderBy("segment")
    )


# ---------------------------------------------------------------------------
# 2. Clustering-depth audit over candidate layout keys
# ---------------------------------------------------------------------------

CLUSTER_FILES = 32


def _cluster_depth_oracle() -> str:
    hd = sql_halfup_div
    fcount = CLUSTER_FILES
    keys = [
        ("l_orderkey", "CAST(l_orderkey AS BIGINT)"),
        ("l_partkey", "CAST(l_partkey AS BIGINT)"),
        ("l_shipdate_days", "CAST(datediff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS BIGINT)"),
        ("l_extprice_cents", "CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)"),
    ]
    parts = []
    for name, expr in keys:
        parts.append(f"""
      SELECT '{name}' AS key_name, f.file,
             min({expr}) AS lo, max({expr}) AS hi
      FROM files f GROUP BY f.file""")
    unions = " UNION ALL ".join(parts)
    return f"""
    WITH mx AS (
      SELECT CAST(max(l_orderkey) AS BIGINT) AS mo FROM lineitem
    ), files AS (
      SELECT l.*,
             CAST(l.l_orderkey // ((mx.mo + {fcount}) // {fcount}) AS BIGINT)
               AS file
      FROM lineitem l, mx
    ), ranges AS ({unions}),
    ov AS (
      SELECT a.key_name, a.file, CAST(count(*) AS BIGINT) AS depth
      FROM ranges a JOIN ranges b
        ON b.key_name = a.key_name AND b.lo <= a.hi AND b.hi >= a.lo
      GROUP BY a.key_name, a.file
    )
    SELECT key_name, CAST(count(*) AS BIGINT) AS n_files,
           CAST({hd('1000000::HUGEINT * sum(depth)', 'count(*)')} AS BIGINT)
             AS avg_depth_micro,
           CAST(max(depth) AS BIGINT) AS max_depth
    FROM ov GROUP BY key_name ORDER BY key_name
    """


@register("layout_clustering_depth_audit", oracle=_cluster_depth_oracle())
def layout_clustering_depth_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-depth audit (the Snowflake clustering metric) over
    candidate layout keys for the fact table: model the CURRENT
    physical layout as {CLUSTER_FILES} equal-width orderkey-range
    files (arrival order), compute each file's [min, max] range per
    candidate key, and report the average/maximum OVERLAP DEPTH —
    how many files' ranges intersect a given file's range. Depth ~1
    means the key is already well-clustered (min/max pruning will
    skip most files); depth ~{CLUSTER_FILES} means a re-sort or
    Z-order on that key is required before its predicates can prune.
    ``layout_minmax_skipping_audit`` measures pruning for a QUERY SET
    under the current layout; this measures the LAYOUT itself per
    candidate key — the metric a clustering/compaction service
    monitors continuously.

    Exactness: file ids are integer range arithmetic off one max
    aggregate (no global sort); ranges, pairwise overlaps (file x
    file, {CLUSTER_FILES}^2-bounded) and depths are exact integers
    with ONE half-up micro mean per key.

    Scale shape: one fact scan partial-aggregating to
    (key x {CLUSTER_FILES}) ranges; the overlap join is bounded by
    files^2 per key; four rows out.
    """
    t = Tables(spark, sf_dir)
    mx = t.lineitem.agg(F.max("l_orderkey").cast("long").alias("mo"))
    li = t.lineitem.crossJoin(F.broadcast(mx)).withColumn(
        "file",
        F.floor(
            F.col("l_orderkey")
            / F.floor((F.col("mo") + CLUSTER_FILES) / CLUSTER_FILES)
        ).cast("long"),
    )
    keyexprs = [
        ("l_orderkey", F.col("l_orderkey").cast("long")),
        ("l_partkey", F.col("l_partkey").cast("long")),
        (
            "l_shipdate_days",
            F.datediff(F.to_date("l_shipdate"), F.lit("1970-01-01").cast("date")).cast(
                "long"
            ),
        ),
        (
            "l_extprice_cents",
            F.floor(F.col("l_extendedprice") * 100.0 + 0.5).cast("long"),
        ),
    ]
    ranges = None
    for name, expr in keyexprs:
        part = li.groupBy("file").agg(
            F.lit(name).alias("key_name"),
            F.min(expr).alias("lo"),
            F.max(expr).alias("hi"),
        )
        ranges = part if ranges is None else ranges.unionByName(part)
    bb = ranges.select(
        F.col("key_name").alias("kb"),
        F.col("lo").alias("lo_b"),
        F.col("hi").alias("hi_b"),
    )
    ov = (
        ranges.join(
            F.broadcast(bb),
            (F.col("kb") == F.col("key_name"))
            & (F.col("lo_b") <= F.col("hi"))
            & (F.col("hi_b") >= F.col("lo")),
        )
        .groupBy("key_name", "file")
        .agg(F.count(F.lit(1)).cast("long").alias("depth"))
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    return (
        ov.groupBy("key_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_files"),
            halfup_div(m6 * dec38(F.sum("depth")), dec38(F.count(F.lit(1))))
            .cast("long")
            .alias("avg_depth_micro"),
            F.max("depth").alias("max_depth"),
        )
        .orderBy("key_name")
    )


# ---------------------------------------------------------------------------
# 3. kNN hubness (k-occurrence) audit over a hash sample
# ---------------------------------------------------------------------------

HUB_BUCKETS = 64
HUB_PER_BUCKET = 4
HUB_K = 10


def _hubness_oracle() -> str:
    hd = sql_halfup_div
    B, CAP, K = HUB_BUCKETS, HUB_PER_BUCKET, HUB_K
    return f"""
    WITH ranked AS (
      SELECT vec_id, embedding,
             ('0x' || substr(sha256(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT
               % {B} AS bkt,
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
    ), occ AS (
      SELECT s.vec_id,
             CAST(coalesce(cnt.c, 0) AS BIGINT) AS k_occ
      FROM (SELECT DISTINCT vec_id FROM vq) s
      LEFT JOIN (
        SELECT vb, CAST(count(*) AS BIGINT) AS c FROM nbr WHERE r <= {K}
        GROUP BY vb
      ) cnt ON cnt.vb = s.vec_id
    ), agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_sample,
             CAST(max(k_occ) AS BIGINT) AS max_k_occ,
             CAST(sum(CASE WHEN k_occ >= 2 * {K} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hubs,
             CAST(sum(CASE WHEN k_occ = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_antihubs,
             CAST(sum(k_occ * k_occ) AS HUGEINT) AS sksq,
             CAST(sum(k_occ) AS HUGEINT) AS sk
      FROM occ
    )
    SELECT n_sample, CAST({K} AS BIGINT) AS k, max_k_occ, n_hubs, n_antihubs,
           CAST({hd('1000000::HUGEINT * (n_sample * sksq - sk * sk)',
                    'n_sample * n_sample')} AS BIGINT) AS k_occ_var_micro
    FROM agg
    """


@register("embedding_knn_hubness_audit", oracle=_hubness_oracle())
def embedding_knn_hubness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN hubness audit (Radovanovic, Nanopoulos & Ivanovic 2010)
    over a deterministic 256-vector hash sample: the k-occurrence
    N_k(x) = how many sample points list x among their cosine top-k,
    summarized as the max, the hub count (N_k >= 2k), the anti-hub
    count (N_k = 0) and the k-occurrence variance. High-dimensional
    concentration makes a few points near the data mean appear in
    EVERYONE's neighbor lists — hubness is THE intrinsic-dimension
    symptom that silently degrades kNN dedup and ANN recall, so this
    is the geometry read taken beside
    ``similarity_cosine_pair_histogram`` (pair distances) and
    ``embedding_intrinsic_dim_twonn`` (ID estimate) before trusting
    the registry's ANN indexes.

    Determinism & exactness: the sample is the cosine-histogram
    convention (64 id-hash buckets x 4 hash-ranked picks); vectors
    micro-quantize once; dot products and norms are exact integers
    computed on a < b pairs and mirrored; cosines quantize through the
    identical double sequence; neighbor ranking uses (cq desc, vec_id)
    — total order, no ambiguity; k-occurrence counts and the variance
    numerator n*sum(N^2) - (sum N)^2 are exact integers with ONE
    half-up micro division.

    Scale shape: sample-bounded everywhere — the pair join is
    256^2/2 x dim rows, the ranking window partitions BY ANCHOR (256
    hash partitions, never SinglePartition). At 100 TB the sample cap
    is the mechanism: the audit cost does not grow with corpus size.
    """
    from pyspark.sql.window import Window

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
        "vec_id", F.posexplode(F.col("embedding").cast("array<double>")).alias("pos0", "x")
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
                * F.lit(1000000.0)
            )
            .cast("long")
            .alias("cq"),
        )
    )
    sym = cos2.unionAll(
        cos2.select(F.col("vb").alias("va"), F.col("va").alias("vb"), "cq")
    )
    wn = Window.partitionBy("va").orderBy(F.col("cq").desc(), "vb")
    topk = (
        sym.withColumn("r", F.row_number().over(wn))
        .filter(F.col("r") <= K)
        .groupBy("vb")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    occ = (
        ranked.select("vec_id")
        .join(topk.select(F.col("vb").alias("vec_id"), "c"), "vec_id", "left")
        .select(F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("k_occ"))
    )
    agg = occ.agg(
        F.count(F.lit(1)).cast("long").alias("n_sample"),
        F.max("k_occ").alias("max_k_occ"),
        F.sum(F.when(F.col("k_occ") >= 2 * K, 1).otherwise(0))
        .cast("long")
        .alias("n_hubs"),
        F.sum(F.when(F.col("k_occ") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_antihubs"),
        F.sum(dec38(F.col("k_occ")) * F.col("k_occ")).alias("sksq"),
        dec38(F.sum("k_occ")).alias("sk"),
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    return agg.select(
        "n_sample",
        F.lit(K).cast("long").alias("k"),
        "max_k_occ",
        "n_hubs",
        "n_antihubs",
        halfup_div(
            m6 * (dec38(F.col("n_sample")) * F.col("sksq") - F.col("sk") * F.col("sk")),
            dec38(F.col("n_sample")) * F.col("n_sample"),
        )
        .cast("long")
        .alias("k_occ_var_micro"),
    )
