"""Round-6 operator batch, part 2.

Continues the round-6 surface after ``roundsix.py``: market-structure
and dispersion statistics, data-quality profiling, lexical-diversity
text analysis, and model-quality metrics over the shared classifier
scan — every operator oracle-paired and built on the exactness
toolkit (``functions/exact.py`` integer half-up ratios,
``functions/detmath.py`` deterministic ln where the semantics are
logarithmic).

Reference parity note: the reference (an ingestion pipeline,
`/root/reference/main.go`) has no analytics surface — these operators
extend the driver-mandated engine families (SURVEY.md §2.C: warehouse
statistics, DQ, text analysis, model metrics) with the standard
published formulations (HHI: Herfindahl 1950; Cramér's V: Cramér 1946;
burstiness B=(σ−μ)/(σ+μ): Goh & Barabási 2008).

``stats_hhi_supplier_concentration``, ``stats_js_divergence_priority``,
``stats_km_log_survival`` and ``stats_overdispersion_vmr`` live in
``operators/stats_dist.py``; ``stats_cramers_v_priority_status`` and
``stats_odds_ratio_woolf`` live in ``operators/stats_tables.py`` with
the other stats queries.

``events_interarrival_burstiness`` lives in
``operators/events_series.py`` with the other events queries.

``ml_brier_score_by_lang`` lives in ``operators/ml_calibration.py``;
``ml_cohens_kappa_gates`` and ``ml_split_quality_metrics`` live in
``operators/ml_models.py``; ``ml_lift_deciles_by_lang`` and
``ml_score_ks_separation`` live in ``operators/ml_ranking.py``;
``ml_mcc_threshold`` lives in ``operators/ml_thresholds.py`` with the
other ml queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import register
from ..tables import Tables


# ---------------------------------------------------------------------------
# 4. Column completeness / distinctness profile (long format)
# ---------------------------------------------------------------------------

_PROFILE_COLS = ("lang", "source", "text")


def _completeness_oracle() -> str:
    parts = [
        f"""
        SELECT '{c}' AS column_name,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_null,
               CAST(sum(CASE WHEN {c} IS NOT NULL AND trim({c}) = ''
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_blank,
               CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct
        FROM documents
        """
        for c in _PROFILE_COLS
    ]
    return " UNION ALL ".join(parts) + " ORDER BY column_name"


@register("dq_completeness_profile", oracle=_completeness_oracle())
def dq_completeness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-format completeness/distinctness profile of the documents
    string columns — per column: row count, nulls, blank-after-trim,
    distinct values. The table-level profiling sweep a DQ suite runs
    before rule authoring (``dq_column_profile`` is the wide
    numeric-stats twin; this is the string-hygiene census).

    Scale: ONE aggregate pass — the per-column sums and the three
    count(DISTINCT) resolve through a single Expand-based
    multi-distinct aggregate (3x row amplification map-side, keyed
    shuffle), not three table scans; the unpivot to long format happens
    on the 1-row aggregate output via stack().
    """
    t = Tables(spark, sf_dir)
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__rows"),
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(
                f"{c}__null"
            ),
            F.sum(
                F.when(
                    F.col(c).isNotNull() & (F.trim(F.col(c)) == ""), 1
                ).otherwise(0)
            ).alias(f"{c}__blank"),
            F.countDistinct(F.col(c)).alias(f"{c}__distinct"),
        ]
    wide = t.documents.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__rows, {c}__null, {c}__blank, {c}__distinct"
        for c in _PROFILE_COLS
    )
    return wide.select(
        F.expr(
            f"stack({len(_PROFILE_COLS)}, {stack_args}) AS "
            "(column_name, n_rows, n_null, n_blank, n_distinct)"
        )
    ).orderBy("column_name")


# ---------------------------------------------------------------------------
# 5. Type-token ratio and hapax share by language
# ---------------------------------------------------------------------------


def _ttr_oracle() -> str:
    from .corpus import _SQL_TOKENS

    return f"""
    WITH toks AS (
      SELECT lang, unnest({_SQL_TOKENS}) AS token FROM documents
    ), freq AS (
      SELECT lang, token, CAST(count(*) AS BIGINT) AS f
      FROM toks WHERE token <> '' GROUP BY 1, 2
    )
    SELECT lang,
           CAST(sum(f) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
           ((2000000::BIGINT * count(*) + sum(f)) // (2 * sum(f)))
             / 1000000.0 AS ttr,
           ((2000000::BIGINT * sum(CASE WHEN f = 1 THEN 1 ELSE 0 END)
             + count(*)) // (2 * count(*))) / 1000000.0 AS hapax_share
    FROM freq GROUP BY lang
    ORDER BY lang
    """


@register("text_ttr_hapax_by_lang", oracle=_ttr_oracle())
def text_ttr_hapax_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical diversity per language: type-token ratio and hapax
    legomenon share — the vocabulary-richness gates a corpus QA pass
    runs next to the Zipf fit (low TTR = boilerplate/templated text;
    high hapax share = OCR noise or tokenizer damage).

    Exactness: pure integer count ratios, half-up at 1e-6
    (round_int_ratio domain — type/token counts stay well under the
    int64 ratio ceiling at any SF since they are per-language counts
    of DISTINCT tokens).

    Scale: the (lang, token) groupBy partial-aggregates the token
    stream map-side; the reduce keys on the bounded vocabulary, and
    the final rollup is |langs| rows. No text leaves the token
    hashing stage — shuffles carry (lang, token, count).
    """
    from ..functions.exact import round_int_ratio
    from ..functions.textnorm import whitespace_tokens

    t = Tables(spark, sf_dir)
    toks = t.documents.select(
        "lang",
        F.explode(whitespace_tokens(F.col("text"))).alias("token"),
    ).where(F.col("token") != "")
    freq = toks.groupBy("lang", "token").agg(F.count(F.lit(1)).alias("f"))
    agg = freq.groupBy("lang").agg(
        F.sum("f").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(F.when(F.col("f") == 1, 1).otherwise(0)).alias("n_hapax"),
    )
    return agg.select(
        "lang",
        "n_tokens",
        "n_types",
        "n_hapax",
        round_int_ratio(F.col("n_types"), F.col("n_tokens")).alias("ttr"),
        round_int_ratio(F.col("n_hapax"), F.col("n_types")).alias(
            "hapax_share"
        ),
    ).orderBy("lang")


# ---------------------------------------------------------------------------
# 18. Incremental decontamination of an incoming batch
# ---------------------------------------------------------------------------


def _incr_decon_oracle() -> str:
    from ..functions.exact import sql_round_int_ratio
    from .corpus import (
        DECON_K,
        TRAIN_CUT,
        VAL_CUT,
        _SQL_ID_HASH,
        _SQL_TOKENS,
    )

    return f"""
    WITH grams AS (
      SELECT doc_id, lang,
             {_SQL_ID_HASH} % 100 AS b,
             len({_SQL_TOKENS}) AS n_tok,
             list_distinct(list_transform(
               range(1, greatest(len(t) - {DECON_K - 1}, 0) + 1),
               i -> ('0x' || substr(sha256(array_to_string(t[i:i+{DECON_K - 1}], ' ')),
                                    1, 15))::BIGINT)) AS gs
      FROM (SELECT doc_id, lang, text, {_SQL_TOKENS} AS t FROM documents)
    ), vg AS (
      SELECT DISTINCT unnest(gs) AS g
      FROM grams WHERE b >= {TRAIN_CUT} AND b < {VAL_CUT}
    ), incoming AS (
      SELECT doc_id, lang, n_tok, gs FROM grams WHERE b >= {VAL_CUT}
    ), contaminated AS (
      SELECT DISTINCT i.doc_id
      FROM (SELECT doc_id, unnest(gs) AS g FROM incoming) i
      JOIN vg ON vg.g = i.g
    ), flagged AS (
      SELECT inc.lang, inc.n_tok,
             CASE WHEN c.doc_id IS NULL THEN 0 ELSE 1 END AS bad
      FROM incoming inc LEFT JOIN contaminated c ON c.doc_id = inc.doc_id
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_incoming,
           CAST(sum(bad) AS BIGINT) AS n_contaminated,
           CAST(count(*) - sum(bad) AS BIGINT) AS n_admitted,
           {sql_round_int_ratio('sum(bad)', 'count(*)')} AS contamination_rate,
           CAST(sum(CASE WHEN bad = 0 THEN n_tok ELSE 0 END) AS BIGINT)
             AS admitted_tokens
    FROM flagged GROUP BY lang
    ORDER BY lang
    """


@register("corpus_incremental_decontamination", oracle=_incr_decon_oracle())
def corpus_incremental_decontamination(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Admission control for an INCOMING crawl batch (the held-back
    hash band, b >= VAL_CUT): screen every new document's n-grams
    against the frozen eval set's gram store and admit only clean
    ones — the steady-state decontamination a production corpus runs
    per ingest cycle, where the eval set is fixed and each new batch
    is checked incrementally (``corpus_decontaminate_ngram_overlap``
    is the one-shot full-corpus audit; this is its per-batch sibling,
    pairing with ``dedup_incremental_new_docs`` the way VERDICT r5
    sketched).

    Scale: the val-gram store is a distinct 60-bit hash column —
    at 100 TB it is the persisted side of the pipeline, re-derived
    here only because the fixture is ephemeral; the probe is an
    equi-join of the incoming batch's gram stream (~10% band) against
    it, hash-only shuffles, then a left anti-style flag join back on
    doc_id and a |langs|-row rollup.
    """
    from ..functions.exact import round_int_ratio
    from ..functions.partitioning import cpu_repartition, iter_checkpoint
    from ..functions.textnorm import shingle_base_hash_udf, whitespace_tokens
    from .corpus import DECON_K, TRAIN_CUT, VAL_CUT, _id_hash_bucket

    t = Tables(spark, sf_dir)
    bases_udf = shingle_base_hash_udf(DECON_K)
    # iter_checkpoint: one materialization of the shingled stream feeds
    # both the store and the probe; SPARK_GRAFT_ITER_PERSIST=1 restores
    # the recomputable persist path under executor churn (ADVICE r7)
    grams = iter_checkpoint(
        cpu_repartition(t.documents, "doc_id").select(
            "doc_id",
            "lang",
            _id_hash_bucket().alias("b"),
            F.size(whitespace_tokens(F.col("text"))).cast("long").alias("n_tok"),
            bases_udf(F.col("text")).alias("gs"),
        )
    )
    vg = (
        grams.where((F.col("b") >= TRAIN_CUT) & (F.col("b") < VAL_CUT))
        .select(F.explode("gs").alias("g"))
        .distinct()
    )
    incoming = grams.where(F.col("b") >= VAL_CUT).select(
        "doc_id", "lang", "n_tok", "gs"
    )
    contaminated = (
        incoming.select("doc_id", F.explode("gs").alias("g"))
        .join(vg, "g", "left_semi")
        .select("doc_id")
        .distinct()
        .select("doc_id", F.lit(1).alias("bad"))
    )
    flagged = incoming.join(contaminated, "doc_id", "left").select(
        "lang", "n_tok", F.coalesce(F.col("bad"), F.lit(0)).alias("bad")
    )
    agg = flagged.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_incoming"),
        F.sum("bad").alias("n_contaminated"),
        F.sum(F.lit(1) - F.col("bad")).alias("n_admitted"),
        F.sum(F.when(F.col("bad") == 0, F.col("n_tok")).otherwise(0)).alias(
            "admitted_tokens"
        ),
    )
    return agg.select(
        "lang",
        "n_incoming",
        "n_contaminated",
        "n_admitted",
        round_int_ratio(F.col("n_contaminated"), F.col("n_incoming")).alias(
            "contamination_rate"
        ),
        "admitted_tokens",
    ).orderBy("lang")


# ---------------------------------------------------------------------------
# 19. IVF-PQ composed ANN search
# ---------------------------------------------------------------------------

IVFPQ_NPROBE = 2  # coarse cells probed per query


def _ivfpq_oracle() -> str:
    from .similarity import (
        N_CENTROIDS,
        PQ_CODEWORDS,
        PQ_M,
        PQ_PROBES,
        PQ_SUBDIM,
        PQ_TOPK,
    )

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
    ), cent AS (
      SELECT vec_id AS centroid_id, v AS cv FROM emb
      WHERE vec_id < {N_CENTROIDS}
    ), coarse AS (
      SELECT vec_id, centroid_id,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY round(list_cosine_similarity(v, cv), 9) DESC,
                                         centroid_id) AS rn
      FROM emb, cent
    ), cells AS (
      SELECT vec_id, centroid_id AS cell FROM coarse WHERE rn = 1
    ), probe_cells AS (
      SELECT vec_id AS probe_id, centroid_id AS cell
      FROM coarse WHERE vec_id < {PQ_PROBES} AND rn <= {IVFPQ_NPROBE}
    ), sub AS ({subs}), cb AS ({cbs}),
    dists AS (
      SELECT s.vec_id, s.m, c.cid,
             list_sum(list_transform(range(1, {PQ_SUBDIM} + 1),
                      i -> (s.sv[i] - c.cv[i]) * (s.sv[i] - c.cv[i]))) AS d2
      FROM sub s JOIN cb c USING (m)
    ), codes AS (
      SELECT vec_id, m, cid FROM (
        SELECT vec_id, m, cid,
               row_number() OVER (PARTITION BY vec_id, m
                                  ORDER BY round(d2, 9), cid) AS rn
        FROM dists
      ) WHERE rn = 1
    ), lut AS (
      SELECT p.vec_id AS probe_id, p.m, c.cid,
             CAST(floor(list_sum(list_transform(range(1, {PQ_SUBDIM} + 1),
                      i -> (p.sv[i] - c.cv[i]) * (p.sv[i] - c.cv[i])))
                  * 1000000.0 + 0.5) AS BIGINT) AS d2q
      FROM (SELECT * FROM sub WHERE vec_id < {PQ_PROBES}) p
      JOIN cb c USING (m)
    ), cand AS (
      SELECT pc.probe_id, cl.vec_id, pc.cell
      FROM probe_cells pc JOIN cells cl ON cl.cell = pc.cell
      WHERE cl.vec_id <> pc.probe_id
    ), adc AS (
      SELECT ca.probe_id, ca.vec_id, ca.cell,
             CAST(sum(l.d2q) AS BIGINT) AS adc_micro
      FROM cand ca
      JOIN codes k ON k.vec_id = ca.vec_id
      JOIN lut l ON l.probe_id = ca.probe_id AND l.m = k.m AND l.cid = k.cid
      GROUP BY 1, 2, 3
    )
    SELECT probe_id, vec_id AS neighbor_id, cell, adc_micro, rnk FROM (
      SELECT probe_id, vec_id, cell, adc_micro,
             CAST(row_number() OVER (PARTITION BY probe_id
                                     ORDER BY adc_micro, vec_id) AS BIGINT) AS rnk
      FROM adc
    ) WHERE rnk <= {PQ_TOPK}
    """


@register("similarity_ivfpq_topk", oracle=_ivfpq_oracle())
def similarity_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ: the full production ANN index shape — a coarse inverted
    file (cells around N_CENTROIDS centroids, top-{IVFPQ_NPROBE}
    probed per query) combined with product-quantized codes searched
    by ADC table lookups inside the probed cells only. Composes
    ``ann_ivf_topk``'s coarse quantizer with
    ``similarity_pq_adc_topk``'s code search, exactly the VERDICT r5
    follow-through.

    The 100 TB shape: the scan side is the CODE TABLE (4 small ints
    per vector) pre-partitioned by cell; a query touches nprobe cells'
    code lists and sums M broadcast-LUT lookups per candidate — no
    full-precision vectors at query time anywhere. Candidate volume =
    nprobe/|cells| of the corpus instead of 1.0 (brute) — the recall/
    fanout dial is (nprobe, |cells|); LUT distances are 1e-6-quantized
    int64 so ADC sums and the per-probe top-k rank exactly.
    """
    from .similarity import (
        N_CENTROIDS,
        PQ_CODEWORDS,
        PQ_M,
        PQ_PROBES,
        PQ_SUBDIM,
        PQ_TOPK,
    )

    t = Tables(spark, sf_dir)
    emb = t.embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    norm = F.sqrt(F.aggregate(F.col("v"), F.lit(0.0), lambda a, x: a + x * x))
    embn = emb.withColumn("nrm", norm)
    centroids = embn.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cn"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("v"), F.col("cv"), lambda x, y: x * y),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    coarse = embn.join(F.broadcast(centroids)).select(
        "vec_id",
        "centroid_id",
        F.round(dot / (F.col("nrm") * F.col("cn")), 9).alias("sim"),
    )
    w_assign = Window.partitionBy("vec_id").orderBy(
        F.col("sim").desc(), F.col("centroid_id")
    )
    ranked = coarse.withColumn("rn", F.row_number().over(w_assign))
    cells = ranked.filter(F.col("rn") == 1).select(
        "vec_id", F.col("centroid_id").alias("cell")
    )
    probe_cells = ranked.filter(
        (F.col("vec_id") < PQ_PROBES) & (F.col("rn") <= IVFPQ_NPROBE)
    ).select(F.col("vec_id").alias("probe_id"), F.col("centroid_id").alias("cell"))

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
                            F.slice("v", m * PQ_SUBDIM + 1, PQ_SUBDIM).alias(
                                "cv"
                            ),
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
    codes = (
        sub.join(F.broadcast(cb), "m")
        .select("vec_id", "m", "cid", d2.alias("d2"))
        .groupBy("vec_id", "m")
        .agg(
            F.min(
                F.struct(
                    F.round(F.col("d2"), 9).alias("d2r"), F.col("cid").alias("cid")
                )
            ).alias("b")
        )
        .select("vec_id", "m", F.col("b.cid").alias("cid"))
    )
    lut = (
        sub.filter(F.col("vec_id") < PQ_PROBES)
        .select(F.col("vec_id").alias("probe_id"), "m", "sv")
        .join(F.broadcast(cb), "m")
        .select(
            "probe_id",
            "m",
            "cid",
            F.floor(d2 * F.lit(1e6) + F.lit(0.5)).cast("long").alias("d2q"),
        )
    )
    cand = (
        probe_cells.join(cells.withColumnRenamed("vec_id", "cand_id"), "cell")
        .where(F.col("cand_id") != F.col("probe_id"))
        .select("probe_id", F.col("cand_id").alias("vec_id"), "cell")
    )
    adc = (
        cand.join(codes, "vec_id")
        .join(F.broadcast(lut), ["probe_id", "m", "cid"])
        .groupBy("probe_id", "vec_id", "cell")
        .agg(F.sum("d2q").cast("long").alias("adc_micro"))
    )
    w = Window.partitionBy("probe_id").orderBy("adc_micro", "vec_id")
    return (
        adc.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= PQ_TOPK)
        .select(
            "probe_id",
            F.col("vec_id").alias("neighbor_id"),
            "cell",
            "adc_micro",
            "rnk",
        )
    )
