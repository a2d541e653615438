"""Distributed ML primitives over the ``embeddings`` / ``lineitem``
tables: deterministic Lloyd k-means and a feature-engineering pack.

K-means is THE canonical iterative algorithm a training-data pipeline
needs (IVF index training, SemDeDup clustering, mixture balancing).
The classic MLlib implementation collects centroids to the driver each
round; here the whole fixed-iteration fit is ONE declarative DataFrame
DAG — centroids stay DataFrames, each assignment is a broadcast join +
partial-aggregated argmin (``min(struct(dist, cid))`` — a map-side
combinable reduction, NOT a row_number window), and every arithmetic
step is int64-quantized so the result is bit-identical across engines,
partition counts, and scheduling orders.

Scale notes (100 TB corpus, K clusters, D dims):
- the exploded corpus (N*D rows) broadcast-joins the K*D centroid
  table — no corpus-side shuffle to score distances;
- per-(vec,cid) distances partial-aggregate before the one shuffle on
  vec_id (shuffle rows = N*K, map-side combined from N*K*D);
- centroid recompute shuffles K*D rows after partial aggregation —
  constant-sized, independent of N;
- at ITERS iterations the plan depth grows linearly; past ~4 rounds
  you'd ``localCheckpoint`` per round exactly like
  ``dedup.connected_components`` does. Two rounds keeps the whole fit
  visible to Catalyst as one plan.

Reference scope note: the reference ingestor (main.go) has no ML
surface; this module belongs to the driver-mandated LLM-pipeline
surface (SemDeDup/IVF-style clustering, feature scaling).

The classifier-evaluation queries live by theme in ``ml_calibration``,
``ml_thresholds``, ``ml_ranking`` and ``ml_models``, over the scored
frame and score grid of ``ml_scores``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import quantize, round_int_ratio
from ..registry import register
from ..tables import Tables

KMEANS_K = 8          # clusters; init = embeddings of vec_id 0..K-1
KMEANS_ITERS = 2      # fixed Lloyd rounds (assign -> recompute, twice)
_QC = 9               # centroid-sum quantization scale (10^-9)
_QD = 12              # per-dim squared-distance quantization scale


def _exploded_embeddings(t: Tables) -> DataFrame:
    """(vec_id, pos 1-based, v double) — one row per vector dimension."""
    return t.embeddings.select(
        "vec_id", F.posexplode(F.col("embedding").cast("array<double>")).alias("pos0", "v")
    ).select("vec_id", (F.col("pos0") + 1).cast("long").alias("pos"), "v")


def _assign(ex: DataFrame, centroids: DataFrame, shards: int = 1) -> DataFrame:
    """Nearest-centroid assignment: (vec_id, cid, dist2q).

    dist2q = sum over dims of floor((v-c)^2 * 10^12 + 0.5) — an int64,
    so the sum is associative/commutative (order-free across engines
    and partitionings) and the argmin is exact. The argmin itself is
    ``min(struct(dist2q, cid))`` — partial-aggregatable, tie-broken by
    the smaller cid, no window shuffle.

    ``shards > 1`` is the past-broadcast-limit regime (centroid table
    over ~1e8 (cid, pos) entries, i.e. K*D too big for one broadcast):
    the centroid table splits into ``shards`` disjoint cid-hash ranges,
    each small enough to broadcast; every shard yields a per-vector
    local argmin and the global argmin is one more
    ``min(struct(dist2q, cid))`` over the union. Exact int64 distances
    make the two-level min identical to the single-pass result (min is
    associative; ties still break to the smaller cid because cid is
    inside the struct). The corpus side is scanned once per shard but
    NEVER shuffles on pos — the N*D explode stays map-local, which is
    the whole point versus a sort-merge join; at scale you
    persist/localCheckpoint ``ex`` so the S passes re-read columnar
    cache, not parquet.
    """
    d = F.col("v") - F.col("c")

    def shard_best(cents: DataFrame) -> DataFrame:
        dists = (
            ex.join(F.broadcast(cents), "pos")
            .groupBy("vec_id", "cid")
            .agg(F.sum(quantize(d * d, _QD)).alias("dist2q"))
        )
        return dists.groupBy("vec_id").agg(F.min(F.struct("dist2q", "cid")).alias("b"))

    if shards <= 1:
        best = shard_best(centroids)
    else:
        parts = [
            shard_best(centroids.filter(F.pmod(F.col("cid"), F.lit(shards)) == s))
            for s in range(shards)
        ]
        allb = parts[0]
        for p in parts[1:]:
            allb = allb.unionByName(p)
        best = allb.groupBy("vec_id").agg(F.min("b").alias("b"))
    return best.select("vec_id", F.col("b.cid").alias("cid"), F.col("b.dist2q").alias("dist2q"))


def _assign_shards(spark: SparkSession) -> int:
    """Shard count for the centroid-assignment join (used by both
    SemDeDup and k-means). 1 (default) = single broadcast; set
    ``spark_graft.semdedup.assign_shards`` above 1 when K*D outgrows
    one broadcast (~1e8 entries)."""
    return int(spark.conf.get("spark_graft.semdedup.assign_shards", "1"))


def _recompute(ex: DataFrame, assign: DataFrame) -> DataFrame:
    """Exact fixed-point centroid mean per (cid, pos) — the same recipe
    as ``corpus.embedding_centroid_outliers`` (int64 coordinate sums,
    one division), so both engines produce identical double centroids.
    """
    return (
        ex.join(assign.select("vec_id", "cid"), "vec_id")
        .groupBy("cid", "pos")
        .agg(
            (
                F.sum(quantize(F.col("v"), _QC)).cast("double")
                / (F.lit(float(10**_QC)) * F.count(F.lit(1)).cast("double"))
            ).alias("c")
        )
    )


_SQL_EX = """
      SELECT vec_id, pos, CAST(embedding[pos] AS DOUBLE) AS v
      FROM embeddings, LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS pos) p
"""


def _sql_assign(ex: str, cents: str) -> str:
    return f"""
      SELECT vec_id, cid, dist2q FROM (
        SELECT d.vec_id, d.cid, d.dist2q,
               row_number() OVER (PARTITION BY d.vec_id ORDER BY d.dist2q, d.cid) AS rn
        FROM (
          SELECT e.vec_id, c.cid,
                 sum(CAST(floor((e.v - c.c) * (e.v - c.c) * 1000000000000.0 + 0.5)
                          AS BIGINT)) AS dist2q
          FROM {ex} e JOIN {cents} c USING (pos)
          GROUP BY e.vec_id, c.cid
        ) d
      ) WHERE rn = 1
"""


def _sql_recompute(ex: str, assign: str) -> str:
    return f"""
      SELECT a.cid, e.pos,
             CAST(sum(CAST(floor(e.v * 1000000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
               / (1000000000.0 * CAST(count(*) AS DOUBLE)) AS c
      FROM {ex} e JOIN {assign} a USING (vec_id)
      GROUP BY a.cid, e.pos
"""


def _kmeans_oracle() -> str:
    return f"""
    WITH ex AS ({_SQL_EX}
    ), c0 AS (
      SELECT vec_id AS cid, pos, v AS c FROM ex WHERE vec_id < {KMEANS_K}
    ), a1 AS ({_sql_assign("ex", "c0")}
    ), c1 AS ({_sql_recompute("ex", "a1")}
    ), a2 AS ({_sql_assign("ex", "c1")}
    )
    SELECT cid                                    AS cluster_id,
           CAST(count(*) AS BIGINT)               AS n_points,
           round(CAST(sum(dist2q) AS DOUBLE) / 1000000000000.0 / count(*), 6)
                                                  AS avg_sq_dist,
           min(vec_id)                            AS min_vec_id
    FROM a2 GROUP BY cid
    """


SEMDEDUP_TAU = 0.3    # same near-dup bar as dedup_embedding_cosine
SEMDEDUP_MIN_K = 8    # cell-count floor for tiny corpora

# K = max(8, ceil(sqrt(N))): with K cells the expected work is
# N*K (assignment) + N^2/K (within-cell pairs); K = sqrt(N) balances
# the two at O(N^1.5) total. A fixed K would leave the pair term
# O(N^2/K) — still quadratic in corpus size. Both engines compute K
# from the same count via IEEE sqrt/ceil, so the seeds are identical.
_SQL_SEMDEDUP_K = (
    f"(SELECT greatest({SEMDEDUP_MIN_K}, CAST(ceil(sqrt(count(*))) AS BIGINT)) FROM embeddings)"
)


def _semdedup_oracle() -> str:
    return f"""
    WITH ex AS ({_SQL_EX}
    ), c0 AS (
      SELECT vec_id AS cid, pos, v AS c FROM ex WHERE vec_id < {_SQL_SEMDEDUP_K}
    ), a1 AS ({_sql_assign("ex", "c0")}
    ), cells AS (
      SELECT vec_id, cid AS cell FROM a1
    ), pairs AS (
      SELECT ca.vec_id AS va, cb.vec_id AS vb
      FROM cells ca JOIN cells cb ON ca.cell = cb.cell AND ca.vec_id <> cb.vec_id
      JOIN embeddings ea ON ea.vec_id = ca.vec_id
      JOIN embeddings eb ON eb.vec_id = cb.vec_id
      WHERE round(list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]), 6)
            >= {SEMDEDUP_TAU}
    ), d AS (
      SELECT va, CAST(count(*) AS BIGINT) AS n_dups,
             CAST(count(*) FILTER (vb < va) AS BIGINT) AS n_better
      FROM pairs GROUP BY va
    )
    SELECT c.vec_id, c.cell,
           coalesce(d.n_dups, 0)                               AS n_dups,
           CASE WHEN coalesce(d.n_better, 0) = 0 THEN 1 ELSE 0 END AS keep
    FROM cells c LEFT JOIN d ON d.va = c.vec_id
    """


@register("dedup_semantic_cells", oracle=_semdedup_oracle())
def dedup_semantic_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: cluster-then-dedup over the embedding space.

    Assign every vector to its nearest k-means cell (one exact Lloyd
    assignment against the deterministic init centroids), then find
    near-duplicate pairs ONLY within cells — the pairwise work drops
    from O(N^2) to sum over cells of O(n_c^2), which is the entire
    point of SemDeDup at 100 TB. A vector survives (``keep=1``) unless
    a smaller-id near-duplicate shares its cell — the deterministic
    stand-in for "keep one exemplar per semantic duplicate group".

    The cell count SCALES with the corpus: K = max(8, ceil(sqrt(N))),
    computed as a 1-row aggregate broadcast into the seed filter (no
    driver-side count). Assignment costs N*K row-pairs and the
    within-cell join N^2/K, so K = sqrt(N) makes the whole operator
    O(N^1.5) — a 10^10-vector corpus gets K = 10^5 cells (the SemDeDup
    paper's regime) instead of 8 quadratic mega-cells. The broadcast
    centroid table is K*D rows; past ~10^8 entries set
    ``spark_graft.semdedup.assign_shards`` > 1 and the assignment join
    shards the centroid table into broadcastable cid-hash ranges,
    unioning per-shard argmins (see ``_assign``) — same exact result,
    never a corpus-side shuffle.

    Unlike ``dedup_embedding_cosine`` (blocked by the GIVEN label),
    the blocking key here is COMPUTED — the real pipeline shape when no
    labels exist. Plan: broadcast centroid join -> cell equi-self-join
    (no cartesian) -> per-vector counts -> left join back.
    """
    t = Tables(spark, sf_dir)
    shards = _assign_shards(spark)
    ex = _exploded_embeddings(t)
    if shards > 1:
        # the sharded regime scans ex once per shard — materialize the
        # N*D explode once so the S passes re-read executor storage,
        # not parquet (the prescription in _assign's docstring)
        ex = ex.localCheckpoint()
    kdf = t.embeddings.agg(
        F.greatest(
            F.lit(SEMDEDUP_MIN_K).cast("long"),
            F.ceil(F.sqrt(F.count(F.lit(1)))).cast("long"),
        ).alias("k")
    )
    c0 = (
        ex.join(F.broadcast(kdf), F.col("vec_id") < F.col("k"))
        .select(F.col("vec_id").alias("cid"), "pos", F.col("v").alias("c"))
    )
    cells = (
        _assign(ex, c0, shards=shards)
        .select("vec_id", F.col("cid").alias("cell"))
        .localCheckpoint()
    )
    emb = t.embeddings.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    # norm once per VECTOR, not per pair: the fold expressions are
    # interpreted (outside codegen), so recomputing both norms inside
    # the pair filter tripled the per-pair work. Same expression tree
    # per vector -> bit-identical doubles -> oracle parity unchanged.
    norm = F.sqrt(F.aggregate(F.col("v"), F.lit(0.0), lambda acc, x: acc + x * x))
    m = emb.join(cells, "vec_id").withColumn("nrm", norm)
    a = m.select(F.col("vec_id").alias("va"), "cell", F.col("v").alias("xa"), F.col("nrm").alias("na"))
    b = m.select(
        F.col("vec_id").alias("vb"),
        F.col("cell").alias("cell_b"),
        F.col("v").alias("xb"),
        F.col("nrm").alias("nb"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("xa"), F.col("xb"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    pairs = (
        a.join(b, (F.col("cell") == F.col("cell_b")) & (F.col("va") != F.col("vb")))
        .filter(F.round(dot / (F.col("na") * F.col("nb")), 6) >= SEMDEDUP_TAU)
        .select("va", "vb")
    )
    d = pairs.groupBy("va").agg(
        F.count(F.lit(1)).alias("n_dups"),
        F.count(F.when(F.col("vb") < F.col("va"), F.lit(1))).alias("n_better"),
    )
    return cells.join(d, cells.vec_id == d.va, "left").select(
        "vec_id",
        "cell",
        F.coalesce(F.col("n_dups"), F.lit(0).cast("long")).alias("n_dups"),
        F.when(F.coalesce(F.col("n_better"), F.lit(0)) == 0, 1).otherwise(0).alias("keep"),
    )


@register("ml_kmeans_lloyd", oracle=_kmeans_oracle())
def ml_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two fixed Lloyd iterations of k-means over the embedding corpus,
    as ONE declarative plan — no driver-side centroid collect, no RNG
    (init = the first K vectors, the same convention as
    ``ann_ivf_topk``).

    Output: per-cluster size, mean squared distance (the inertia/N
    convergence metric), and the smallest member id as a stable sample.
    Every quantity is exact fixed-point, so the fit is reproducible
    bit-for-bit — the property that makes a 100 TB IVF/SemDeDup
    clustering job re-runnable and auditable.
    """
    t = Tables(spark, sf_dir)
    shards = _assign_shards(spark)
    ex = _exploded_embeddings(t)
    if shards > 1:
        # ex is re-read S times per Lloyd iteration in the sharded
        # regime — checkpoint the explode once up front
        ex = ex.localCheckpoint()
    cents = ex.filter(F.col("vec_id") < KMEANS_K).select(
        F.col("vec_id").alias("cid"), "pos", F.col("v").alias("c")
    )
    assign = None
    for _ in range(KMEANS_ITERS):
        assign = _assign(ex, cents, shards=shards)
        cents = _recompute(ex, assign)
    return assign.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.round(
            F.sum("dist2q").cast("double") / F.lit(1e12) / F.count(F.lit(1)), 6
        ).alias("avg_sq_dist"),
        F.min("vec_id").alias("min_vec_id"),
    ).select(
        F.col("cid").alias("cluster_id"), "n_points", "avg_sq_dist", "min_vec_id"
    )


def _feature_oracle() -> str:
    return """
    WITH st AS (
      SELECT min(l_extendedprice) AS mn, max(l_extendedprice) AS mx,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)) AS DOUBLE)
               AS sum_c,
             CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)
                      * CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)) AS DOUBLE)
               AS sumsq_c,
             quantile_disc(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT),
                           [0.25, 0.5, 0.75]) AS th
      FROM lineitem
    )
    SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
           l_extendedprice AS price,
           round((l_extendedprice - mn) / (mx - mn), 6) AS price_minmax,
           round((CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) - sum_c / n)
                 / sqrt((sumsq_c - sum_c * sum_c / n) / n), 6) AS price_z,
           CAST(len(list_filter(th, t -> CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) > t))
                + 1 AS BIGINT) AS price_quartile,
           round(sqrt(l_extendedprice), 6) AS price_sqrt
    FROM lineitem CROSS JOIN st
    """


@register("ml_feature_scaling_pack", oracle=_feature_oracle())
def ml_feature_scaling_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-engineering pack: min-max scaling, z-score, exact
    quartile binning, and a sqrt transform of ``l_extendedprice`` —
    the fit+transform step of an ML feature pipeline as one plan.

    The "fit" (min/max/moments/quartiles) is ONE all-to-one aggregate
    whose single row broadcasts into the per-row "transform"
    projection — the scale-correct replacement for sklearn-style
    two-pass fitting. Moments come from exact int64 cent sums (the
    sum of squares in decimal(38,0) so 100 TB can't overflow), the
    quartiles from the exact discrete percentile, and sqrt is
    IEEE-correctly-rounded in both engines — every derived feature is
    bit-identical cross-engine.
    """
    t = Tables(spark, sf_dir)
    cents = F.floor(F.col("l_extendedprice") * 100.0 + F.lit(0.5)).cast("long")
    exact = str(2**31 - 1)
    st = t.lineitem.agg(
        F.min("l_extendedprice").alias("mn"),
        F.max("l_extendedprice").alias("mx"),
        F.count(F.lit(1)).alias("n"),
        F.sum(cents).cast("double").alias("sum_c"),
        F.sum((cents * cents).cast("decimal(38,0)")).cast("double").alias("sumsq_c"),
        F.expr(
            f"percentile_approx(cast(floor(l_extendedprice * 100.0 + 0.5) as long),"
            f" array(0.25, 0.5, 0.75), {exact})"
        ).alias("th"),
    )
    z = (cents - F.col("sum_c") / F.col("n")) / F.sqrt(
        (F.col("sumsq_c") - F.col("sum_c") * F.col("sum_c") / F.col("n")) / F.col("n")
    )
    return (
        t.lineitem.select("l_orderkey", "l_linenumber", "l_extendedprice")
        .crossJoin(F.broadcast(st))
        .select(
            "l_orderkey",
            F.col("l_linenumber").cast("long").alias("l_linenumber"),
            F.col("l_extendedprice").alias("price"),
            F.round(
                (F.col("l_extendedprice") - F.col("mn")) / (F.col("mx") - F.col("mn")), 6
            ).alias("price_minmax"),
            F.round(z, 6).alias("price_z"),
            (F.size(F.filter(F.col("th"), lambda x: cents > x)) + 1)
            .cast("long")
            .alias("price_quartile"),
            F.round(F.sqrt(F.col("l_extendedprice")), 6).alias("price_sqrt"),
        )
    )


@register(
    "ml_user_feature_pack",
    oracle="""
    WITH daily AS (
      SELECT user_id,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_no,
             CAST(count(*) AS BIGINT) AS n_ev,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pur,
             CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS day_u
      FROM events GROUP BY 1, 2
    ), mx AS (
      SELECT max(day_no) AS max_day FROM daily
    ), u AS (
      SELECT user_id,
             CAST(sum(n_ev) AS BIGINT)  AS n_events,
             CAST(sum(n_pur) AS BIGINT) AS n_purchases,
             CAST(count(*) AS BIGINT)   AS active_days,
             CAST(max(max_day) - max(day_no) AS BIGINT) AS recency_days,
             CAST(sum(day_u) AS BIGINT) AS sy_u,
             CAST(sum(day_u) AS DOUBLE) AS sy,
             CAST(sum(CAST(day_no AS HUGEINT) * day_u) AS DOUBLE) AS sxy,
             CAST(sum(day_no) AS DOUBLE) AS sx,
             CAST(sum(CAST(day_no AS HUGEINT) * day_no) AS DOUBLE) AS sxx
      FROM daily CROSS JOIN mx GROUP BY user_id
    )
    SELECT user_id, n_events, n_purchases, active_days, recency_days,
           (CASE WHEN sy_u < 0
                 THEN -((2*abs(sy_u) + n_events) // (2*n_events))
                 ELSE  ((2*abs(sy_u) + n_events) // (2*n_events)) END)
             / 1000000.0 AS mean_value,
           ((2*1000000*n_events + active_days) // (2*active_days)) / 1000000.0
             AS events_per_active_day,
           round(CASE WHEN active_days > 1
                 THEN (active_days * sxy - sx * sy)
                      / (active_days * sxx - sx * sx) / 1000000.0
                 ELSE NULL END, 6) AS value_trend_slope
    FROM u
    """,
)
def ml_user_feature_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user behavioral feature vector — the feature-store build
    step for churn/propensity models: counts, recency, active days,
    exact mean value, events per active day, and the per-user OLS
    slope of daily spend over time (trend).

    Two chained aggregations — (user, day) then (user) — each map-side
    combined, so the first shuffle carries |user-days| partial rows
    (not raw events) and the second only |user-days| -> |users|;
    cheaper at scale than forcing one shuffle of raw rows. The global
    max-day anchor is a broadcast 1-row cross join. The trend slope assembles from exact integer sufficient
    statistics (micro-value x day-number sums as decimals), the same
    discipline as ``stats_linear_regression`` — order-independent,
    cross-engine identical, no per-user value lists. At 100 TB: output
    rows = |users|, shuffle rows = |user-days|, both data-model
    bounded.
    """
    t = Tables(spark, sf_dir)
    daily = (
        t.events.select(
            "user_id",
            F.unix_date(F.to_date(F.col("ts"))).cast("long").alias("day_no"),
            F.col("event_type"),
            F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5)).cast("long").alias("v_u"),
        )
        .groupBy("user_id", "day_no")
        .agg(
            F.count(F.lit(1)).alias("n_ev"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("n_pur"),
            F.sum("v_u").alias("day_u"),
        )
    )
    mx = daily.agg(F.max("day_no").alias("max_day"))
    u = (
        daily.crossJoin(F.broadcast(mx))
        .groupBy("user_id")
        .agg(
            F.sum("n_ev").alias("n_events"),
            F.sum("n_pur").alias("n_purchases"),
            F.count(F.lit(1)).alias("active_days"),
            (F.max("max_day") - F.max("day_no")).cast("long").alias("recency_days"),
            F.sum("day_u").alias("sy_u"),
            F.sum(F.col("day_no").cast("decimal(38,0)") * F.col("day_u"))
            .cast("double")
            .alias("sxy"),
            F.sum("day_no").cast("double").alias("sx"),
            F.sum(F.col("day_no").cast("decimal(38,0)") * F.col("day_no"))
            .cast("double")
            .alias("sxx"),
        )
    )
    ad = F.col("active_days")
    sy = F.col("sy_u").cast("double")
    slope = F.when(
        ad > 1,
        (ad * F.col("sxy") - F.col("sx") * sy)
        / (ad * F.col("sxx") - F.col("sx") * F.col("sx"))
        / F.lit(1e6),
    )
    return u.select(
        "user_id",
        "n_events",
        "n_purchases",
        "active_days",
        "recency_days",
        # mean in micro-units is an integer ratio (sum of quantized
        # values over a count): round half-up at the micro-unit level
        # with exact integer division — a user with 2 events and an odd
        # micro-sum lands exactly ON the .5 boundary, where
        # F.round-vs-DuckDB-round diverge (fixture values happen to be
        # even multiples today; regenerated data need not be)
        (round_int_ratio(F.col("sy_u"), F.col("n_events"), 0) / F.lit(1e6)).alias(
            "mean_value"
        ),
        round_int_ratio(F.col("n_events"), ad).alias("events_per_active_day"),
        F.round(slope, 6).alias("value_trend_slope"),
    )
