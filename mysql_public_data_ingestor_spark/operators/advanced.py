"""Advanced operator surface: SQL-API queries (CTEs, correlated and
EXISTS/IN subqueries, GROUPING SETS), unpivot, array/map function
packs, exact percentiles, Levenshtein, and the Python-UDF surface
(scalar pandas UDF + grouped-map applyInPandas) — each with a DuckDB
oracle wherever the semantics are engine-portable.

The pandas-UDF queries intentionally compute *deterministic
arithmetic* so even the UDF path is value-verified against SQL — the
UDF is the mechanism under test, not the math.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import order_cents
from ..registry import register
from ..tables import Tables


def _views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    t = Tables(spark, sf_dir)
    for n in names:
        getattr(t, n).createOrReplaceTempView(n)


# --------------------------------------------------------------------------
# SQL API surface
# --------------------------------------------------------------------------


@register(
    "sql_cte_exists_in",
    oracle="""
    WITH big_orders AS (
      SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      WHERE o_totalprice > 100000
    )
    SELECT c_custkey, c_name
    FROM customer
    WHERE EXISTS (SELECT 1 FROM big_orders b WHERE b.o_custkey = c_custkey)
      AND c_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey <= 2)
    """,
)
def sql_cte_exists_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL entry point: CTE + correlated EXISTS + IN subquery.

    Catalyst rewrites both subqueries to semi-joins — same physical
    shape as the DataFrame API; this query pins the SQL-API parity.
    """
    _views(spark, sf_dir, "customer", "orders", "nation")
    return spark.sql(
        """
        WITH big_orders AS (
          SELECT o_orderkey, o_custkey, o_totalprice FROM orders
          WHERE o_totalprice > 100000
        )
        SELECT c_custkey, c_name
        FROM customer
        WHERE EXISTS (SELECT 1 FROM big_orders b WHERE b.o_custkey = c_custkey)
          AND c_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey <= 2)
        """
    )


@register(
    "sql_correlated_scalar_subquery",
    oracle="""
    SELECT c_custkey,
           (SELECT count(*) FROM orders WHERE o_custkey = c_custkey) AS n_orders
    FROM customer
    """,
)
def sql_correlated_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (decorrelated to an outer-join agg)."""
    _views(spark, sf_dir, "customer", "orders")
    return spark.sql(
        """
        SELECT c_custkey,
               (SELECT count(*) FROM orders WHERE o_custkey = c_custkey) AS n_orders
        FROM customer
        """
    )


@register(
    "sql_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus, count(*) AS n_items
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
    """,
)
def sql_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form behind rollup/cube)."""
    _views(spark, sf_dir, "lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, count(*) AS n_items
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
        """
    )


# --------------------------------------------------------------------------
# reshaping + function packs
# --------------------------------------------------------------------------


@register(
    "unpivot_measures",
    oracle="""
    SELECT l_orderkey, l_linenumber, measure, round(val, 2) AS val
    FROM (
      SELECT l_orderkey, l_linenumber, 'quantity' AS measure, l_quantity AS val FROM lineitem
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'price', l_extendedprice FROM lineitem
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'discount', l_discount FROM lineitem
    )
    """,
)
def unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt) wide measures into (measure, val) rows."""
    t = Tables(spark, sf_dir)
    return (
        t.lineitem.unpivot(
            ["l_orderkey", "l_linenumber"],
            ["l_quantity", "l_extendedprice", "l_discount"],
            "measure",
            "val",
        )
        .withColumn(
            "measure",
            F.when(F.col("measure") == "l_quantity", "quantity")
            .when(F.col("measure") == "l_extendedprice", "price")
            .otherwise("discount"),
        )
        .select("l_orderkey", "l_linenumber", "measure", F.round("val", 2).alias("val"))
    )


@register(
    "array_functions_pack",
    oracle="""
    SELECT vec_id,
           len(embedding)                                          AS dim,
           round(embedding[1]::DOUBLE, 6)                          AS first_val,
           round(embedding[len(embedding)]::DOUBLE, 6)             AS last_val,
           round(list_sum(embedding::DOUBLE[]), 6)                 AS vec_sum,
           round(list_max(embedding::DOUBLE[]), 6)                 AS vec_max,
           round(list_min(embedding::DOUBLE[]), 6)                 AS vec_min,
           len(list_filter(embedding::DOUBLE[], x -> x > 0))       AS n_positive,
           round(list_sum(list_transform(embedding::DOUBLE[], x -> x * x)), 6) AS sq_norm
    FROM embeddings
    """,
)
def array_functions_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array function surface: size, element_at (both ends), aggregate,
    array_max/min, filter, transform — scalar outputs for hash parity.

    NB vec_sum/sq_norm rely on left-to-right accumulation in both
    engines over identical element order — reproducible, unlike a
    parallel sum.
    """
    t = Tables(spark, sf_dir)
    v = F.col("embedding").cast("array<double>")
    return t.embeddings.select(
        "vec_id",
        F.size(v).cast("long").alias("dim"),
        F.round(F.element_at(v, 1), 6).alias("first_val"),
        F.round(F.element_at(v, -1), 6).alias("last_val"),
        F.round(F.aggregate(v, F.lit(0.0), lambda a, x: a + x), 6).alias("vec_sum"),
        F.round(F.array_max(v), 6).alias("vec_max"),
        F.round(F.array_min(v), 6).alias("vec_min"),
        F.size(F.filter(v, lambda x: x > 0)).cast("long").alias("n_positive"),
        F.round(
            F.aggregate(F.transform(v, lambda x: x * x), F.lit(0.0), lambda a, x: a + x), 6
        ).alias("sq_norm"),
    )


@register(
    "map_functions_pack",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT)      AS k_value,
           len(json_keys(props))                                  AS n_keys,
           CASE WHEN json_extract_string(props, '$.k') IS NOT NULL
                THEN 1 ELSE 0 END                                  AS has_k
    FROM events
    """,
)
def map_functions_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed column surface: JSON -> map<string,long>, key lookup,
    map_keys size, map_contains_key — scalar outputs."""
    t = Tables(spark, sf_dir)
    m = F.from_json("props", "map<string,bigint>")
    return t.events.select(
        "event_id",
        F.element_at(m, "k").alias("k_value"),
        F.size(F.map_keys(m)).cast("long").alias("n_keys"),
        F.when(F.map_contains_key(m, "k"), 1).otherwise(0).alias("has_k"),
    )


@register(
    "percentiles_exact",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5), 4)  AS median_price,
           round(quantile_cont(l_extendedprice, 0.9), 4)  AS p90_price,
           round(quantile_cont(l_extendedprice, 0.99), 4) AS p99_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def percentiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (median/p90/p99) per group.

    Exact percentile needs the group's values materialized — fine per
    group; the 100 TB-safe variant is ``approx_percentile`` (see
    ``percentiles_approx``, rows-only)."""
    t = Tables(spark, sf_dir)
    return t.lineitem.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", F.lit(0.5)), 4).alias("median_price"),
        F.round(F.percentile("l_extendedprice", F.lit(0.9)), 4).alias("p90_price"),
        F.round(F.percentile("l_extendedprice", F.lit(0.99)), 4).alias("p99_price"),
    )


@register("percentiles_approx", oracle=None)
def percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile sketch — the scale path (rows-only check:
    sketches are engine-specific; exact twin is ``percentiles_exact``).

    Emits scalar doubles (p50/p90/p99), not the raw array: scalar
    columns canonicalize cleanly in any comparison harness, and at
    scale the sketch merge is a single partial-agg shuffle either way.
    """
    t = Tables(spark, sf_dir)
    pcts = F.percentile_approx("l_extendedprice", [0.5, 0.9, 0.99], 10000)
    return t.lineitem.groupBy("l_returnflag").agg(
        F.element_at(pcts, 1).alias("p50"),
        F.element_at(pcts, 2).alias("p90"),
        F.element_at(pcts, 3).alias("p99"),
    )


@register(
    "scalar_levenshtein",
    oracle="""
    SELECT p_partkey,
           levenshtein(p_brand, p_type)                  AS brand_type_dist,
           levenshtein(lower(p_name), lower(p_brand))    AS name_brand_dist
    FROM part
    """,
)
def scalar_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance functions (fuzzy-matching surface)."""
    t = Tables(spark, sf_dir)
    return t.part.select(
        "p_partkey",
        F.levenshtein("p_brand", "p_type").cast("long").alias("brand_type_dist"),
        F.levenshtein(F.lower("p_name"), F.lower("p_brand")).cast("long").alias("name_brand_dist"),
    )


# --------------------------------------------------------------------------
# Python UDF surface (pandas UDF + applyInPandas) — deterministic math so
# even the UDF path gets an oracle
# --------------------------------------------------------------------------


@register(
    "pandas_udf_score",
    oracle="""
    SELECT doc_id,
           round(ln(1.0 + n_chars) * 10.0 + (doc_id % 7), 6) AS score
    FROM documents
    """,
)
def pandas_udf_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar pandas UDF (Arrow-vectorized): the sanctioned slow path.

    The math is trivially SQL-expressible on purpose — the query
    verifies the Arrow UDF machinery end-to-end against the oracle.
    """
    import numpy as np

    @F.pandas_udf("double")
    def score(n_chars: pd.Series, doc_id: pd.Series) -> pd.Series:
        return np.round(np.log1p(n_chars.astype("float64")) * 10.0 + (doc_id % 7), 6)

    t = Tables(spark, sf_dir)
    return t.documents.select("doc_id", score("n_chars", "doc_id").alias("score"))


@register(
    "applyinpandas_zscore",
    oracle="""
    SELECT doc_id, lang,
           round((n_chars - avg(n_chars) OVER (PARTITION BY lang))
                 / stddev_samp(n_chars) OVER (PARTITION BY lang), 4) AS z
    FROM documents
    """,
)
def applyinpandas_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas (per-group pandas DataFrame in/out):
    z-score of n_chars within each lang. pandas ddof=1 == stddev_samp.
    """

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        x = pdf["n_chars"].astype("float64")
        pdf["z"] = ((x - x.mean()) / x.std(ddof=1)).round(4)
        return pdf[["doc_id", "lang", "z"]]

    t = Tables(spark, sf_dir)
    return t.documents.select("doc_id", "lang", "n_chars").groupBy("lang").applyInPandas(
        zscore, schema="doc_id long, lang string, z double"
    )


@register(
    "agg_grouping_id",
    oracle="""
    SELECT r_name, n_name,
           CAST(grouping(r_name) AS INT)*2 + CAST(grouping(n_name) AS INT) AS gid,
           count(*) AS n_customers
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def agg_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """grouping()/grouping_id() metadata on rollup levels (distinguishes
    'NULL because subtotal' from 'NULL in the data')."""
    t = Tables(spark, sf_dir)
    joined = t.customer.join(
        F.broadcast(t.nation), F.col("c_nationkey") == F.col("n_nationkey")
    ).join(F.broadcast(t.region), F.col("n_regionkey") == F.col("r_regionkey"))
    return joined.rollup("r_name", "n_name").agg(
        F.grouping_id().cast("int").alias("gid"),
        F.count(F.lit(1)).alias("n_customers"),
    ).select("r_name", "n_name", "gid", "n_customers")


@register(
    "lateral_posexplode_tokens",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS words
      FROM documents WHERE doc_id < 20
    )
    SELECT doc_id, CAST(i - 1 AS INT) AS pos, words[i] AS token
    FROM toks, LATERAL (SELECT unnest(range(1, len(words) + 1)) AS i) t
    """,
)
def lateral_posexplode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode (LATERAL VIEW): one row per (doc, position, token)."""
    from ..functions.textnorm import whitespace_tokens

    t = Tables(spark, sf_dir)
    d = t.documents.filter(F.col("doc_id") < 20).select(
        "doc_id", whitespace_tokens(F.col("text")).alias("words")
    )
    return d.select("doc_id", F.posexplode("words").alias("pos", "token"))


@register(
    "sorted_tokens_digest",
    oracle="""
    SELECT doc_id,
           array_to_string(list_sort(list_distinct(
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '))), '|')
             AS vocab_digest,
           len(list_distinct(
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')))
             AS vocab_size
    FROM documents
    """,
)
def sorted_tokens_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """array sort/distinct/join surface: per-doc sorted-vocabulary digest
    (ASCII byte order — identical collation in both engines)."""
    from ..functions.textnorm import whitespace_tokens

    t = Tables(spark, sf_dir)
    vocab = F.array_distinct(whitespace_tokens(F.col("text")))
    return t.documents.select(
        "doc_id",
        F.array_join(F.array_sort(vocab), "|").alias("vocab_digest"),
        F.size(vocab).cast("long").alias("vocab_size"),
    )


@register(
    "null_handling_pack",
    oracle="""
    SELECT c_custkey,
           coalesce(nullif(c_mktsegment, 'BUILDING'), 'OTHER')        AS seg_or_other,
           CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END       AS bal_or_null,
           coalesce(CASE WHEN c_acctbal < 0 THEN NULL
                         ELSE round(c_acctbal, 2) END, 0.0)           AS bal_default,
           CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END              AS bal_is_null,
           greatest(round(c_acctbal, 2), 0.0)                         AS bal_floor0,
           least(round(c_acctbal, 2), 1000.0)                         AS bal_cap
    FROM customer
    """,
)
def null_handling_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-handling surface: nullif/coalesce/greatest/least/is-null."""
    t = Tables(spark, sf_dir)
    bal2 = F.round("c_acctbal", 2)
    bal_or_null = F.when(F.col("c_acctbal") < 0, F.lit(None)).otherwise(F.col("c_acctbal"))
    return t.customer.select(
        "c_custkey",
        F.coalesce(F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")), F.lit("OTHER")).alias(
            "seg_or_other"
        ),
        bal_or_null.alias("bal_or_null"),
        F.coalesce(F.when(F.col("c_acctbal") < 0, F.lit(None)).otherwise(bal2), F.lit(0.0)).alias(
            "bal_default"
        ),
        F.when(F.col("c_acctbal").isNull(), 1).otherwise(0).alias("bal_is_null"),
        F.greatest(bal2, F.lit(0.0)).alias("bal_floor0"),
        F.least(bal2, F.lit(1000.0)).alias("bal_cap"),
    )


# Per-stratum sample percentages shared by the Spark plan and the oracle.
_STRAT_PCT = {"en": 50, "fr": 30, "de": 30, "es": 30, "zh": 30}
_STRAT_VALUES = ", ".join(f"('{k}', {v})" for k, v in _STRAT_PCT.items())
# Salted so the stratified sample is independent of sample_hash_mod's
# bucket (same raw hash would select the same documents in both).
_STRAT_SQL_BUCKET = "(('0x' || substr(sha256('strat:' || CAST(doc_id AS VARCHAR)), 1, 15)))::BIGINT % 100"


@register(
    "sample_stratified",
    oracle=f"""
    WITH f(lang, pct_target) AS (VALUES {_STRAT_VALUES}),
    b AS (
      SELECT d.lang, f.pct_target, d.doc_id,
             ({_STRAT_SQL_BUCKET}) < f.pct_target AS keep
      FROM documents d JOIN f ON d.lang = f.lang
    )
    SELECT lang,
           pct_target,
           count(*) AS n_total,
           CAST(floor(count(*) * pct_target / 100.0) AS BIGINT) AS n_expected,
           CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
           min(CASE WHEN keep THEN doc_id END) AS min_doc_id
    FROM b GROUP BY lang, pct_target
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: per-stratum fractions applied
    via a salted hash-mod on the key (the reproducible replacement for
    ``sampleBy``'s per-partition RNG, whose output shifts with cluster
    layout). Emits per-stratum expected vs actual counts, so the whole
    sample — membership included (min_doc_id) — is oracle-checkable.

    Scale note: the keep-predicate is row-local — a map-side filter
    with no shuffle until the tiny per-stratum summary agg; the
    100 TB-safe way to cut a training subset, and new documents join
    the sample iff their hash lands under the stratum cut (composes
    with incremental ingestion).
    """
    from ..functions.textnorm import sha256_prefix_i64

    t = Tables(spark, sf_dir)
    pct = F.create_map(
        *[F.lit(x) for kv in _STRAT_PCT.items() for x in kv]
    )[F.col("lang")].alias("pct_target")
    bucket = (
        sha256_prefix_i64(F.concat(F.lit("strat:"), F.col("doc_id").cast("string"))) % 100
    )
    docs = t.documents.filter(F.col("lang").isin(*_STRAT_PCT)).select(
        "lang", "doc_id", pct, (bucket < F.col("pct_target")).alias("keep")
    )
    return docs.groupBy("lang", "pct_target").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.floor(F.count(F.lit(1)) * F.col("pct_target") / F.lit(100.0)).alias("n_expected"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("n_sampled"),
        F.min(F.when(F.col("keep"), F.col("doc_id"))).alias("min_doc_id"),
    )


@register(
    "udf_mapinarrow_token_count",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS BIGINT)
             AS n_tokens,
           CAST(length(text) AS BIGINT) AS n_chars
    FROM documents
    """,
)
def udf_mapinarrow_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapInArrow`` tokenization: zero-copy Arrow batches end to end.

    Completes the Python-interop surface (pandas UDF, applyInPandas,
    mapInPandas, applyInPandasWithState, mapInArrow): where mapInPandas
    pays pandas Series construction per batch, mapInArrow hands the raw
    Arrow RecordBatch to pyarrow.compute kernels — the cheapest Python
    path for columnar string work. Values match the JVM/DuckDB
    normalization exactly (lower -> collapse whitespace -> trim ->
    split), so the query is oracle-verified like any built-in.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    from ..functions.partitioning import cpu_repartition

    def count_tokens(batches):
        for batch in batches:
            text = batch.column("text")
            norm = pc.utf8_trim_whitespace(
                pc.replace_substring_regex(pc.utf8_lower(text), r"\s+", " ")
            )
            toks = pc.split_pattern(norm, " ")
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("doc_id"),
                    pc.cast(pc.list_value_length(toks), pa.int64()),
                    pc.cast(pc.utf8_length(text), pa.int64()),
                ],
                ["doc_id", "n_tokens", "n_chars"],
            )

    t = Tables(spark, sf_dir)
    docs = cpu_repartition(t.documents.select("doc_id", "text"), "doc_id")
    return docs.mapInArrow(
        count_tokens, "doc_id bigint, n_tokens bigint, n_chars bigint"
    )


@register(
    "sql_recursive_month_spine",
    oracle="""
    WITH RECURSIVE bounds AS (
      SELECT date_trunc('month', min(o_orderdate)) AS lo,
             date_trunc('month', max(o_orderdate)) AS hi
      FROM orders
    ), spine AS (
      SELECT lo AS month_start, hi FROM bounds
      UNION ALL
      SELECT month_start + INTERVAL 1 MONTH, hi
      FROM spine WHERE month_start < hi
    ), monthly AS (
      SELECT date_trunc('month', o_orderdate) AS month_start,
             CAST(count(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY 1
    )
    SELECT s.month_start, coalesce(m.n_orders, 0) AS n_orders
    FROM spine s LEFT JOIN monthly m USING (month_start)
    """,
)
def sql_recursive_month_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4 ``WITH RECURSIVE``): generate the
    complete month spine spanning ``orders`` and left-join monthly
    order counts onto it, surfacing zero-order months that a plain
    GROUP BY would silently drop.

    Exercises the recursive-CTE surface end to end. Recursion depth is
    the month span (~80 for TPC-H dates) — independent of row count,
    so the shape is scale-safe; the monthly rollup is one shuffle and
    the spine side is a handful of rows (broadcast join).
    """
    _views(spark, sf_dir, "orders")
    return spark.sql(
        """
        WITH RECURSIVE spine(month_start, hi) AS (
          SELECT date_trunc('MONTH', min(o_orderdate)),
                 date_trunc('MONTH', max(o_orderdate))
          FROM orders
          UNION ALL
          SELECT month_start + INTERVAL 1 MONTH, hi
          FROM spine WHERE month_start < hi
        ), monthly AS (
          SELECT date_trunc('MONTH', o_orderdate) AS month_start,
                 count(*) AS n_orders
          FROM orders GROUP BY 1
        )
        SELECT s.month_start, coalesce(m.n_orders, 0) AS n_orders
        FROM spine s LEFT JOIN monthly m USING (month_start)
        """
    )


@register(
    "udtf_props_kv_flatten",
    oracle="""
    WITH keyed AS (
      SELECT event_id, unnest(json_keys(props::JSON)) AS prop_key, props
      FROM events WHERE props IS NOT NULL
    )
    SELECT event_id, prop_key,
           json_extract_string(props::JSON, '$.' || prop_key) AS prop_value
    FROM keyed
    """,
)
def udtf_props_kv_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (table function, Spark 3.5+/4.x) flattening each
    event's JSON ``props`` into (key, value) rows via ``LATERAL``.

    The UDTF surface demo: schema-on-read over a semi-structured
    column whose key set is unknown at plan time — exactly where a
    table function beats a fixed ``get_json_object`` projection. The
    UDTF is Arrow-optimized (``useArrow=True``: columnar batch
    transfer instead of pickled rows); output is one row per
    (event, key), values serialized as strings.

    Scale note: this is the *extension-point* demo, not the scale
    path — ``events_kv_flatten_native`` computes the identical result
    through the engine-native ``variant_explode`` generator (~28x
    faster at sf0.1) and is what a 100 TB pipeline should run.
    """
    import json

    from pyspark.sql.functions import udtf

    @udtf(returnType="prop_key string, prop_value string", useArrow=True)
    class JsonKv:
        def eval(self, props: str):
            if props is None:
                return
            obj = json.loads(props)
            for k in sorted(obj):
                v = obj[k]
                yield k, json.dumps(v) if isinstance(v, (dict, list)) else str(v)

    spark.udtf.register("json_kv", JsonKv)
    _views(spark, sf_dir, "events")
    return spark.sql(
        """
        SELECT e.event_id, kv.prop_key, kv.prop_value
        FROM events e, LATERAL json_kv(e.props) kv
        WHERE e.props IS NOT NULL
        """
    )


@register(
    "events_kv_flatten_native",
    oracle="""
    WITH keyed AS (
      SELECT event_id, unnest(json_keys(props::JSON)) AS prop_key, props
      FROM events WHERE props IS NOT NULL
    )
    SELECT event_id, prop_key,
           json_extract_string(props::JSON, '$.' || prop_key) AS prop_value
    FROM keyed
    """,
)
def events_kv_flatten_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-native twin of ``udtf_props_kv_flatten``: the same
    schema-on-read key/value flatten through Spark 4's
    ``variant_explode`` table function — ``parse_json`` once, explode
    keys JVM-side, zero Python in the hot path.

    This is the 100 TB plan for semi-structured flattening (the Python
    UDTF stays registered as the *extension-point* demo; measured
    ~28x slower at sf0.1, which is exactly why the native generator is
    the headline path). Scalars render via a variant string cast;
    nested values re-serialize with ``to_json`` — matching the JSON
    text the oracle extracts.
    """
    _views(spark, sf_dir, "events")
    return spark.sql(
        """
        SELECT e.event_id, kv.key AS prop_key,
               CASE WHEN schema_of_variant(kv.value) LIKE 'OBJECT%'
                      OR schema_of_variant(kv.value) LIKE 'ARRAY%'
                    THEN to_json(kv.value)
                    ELSE cast(kv.value AS string) END AS prop_value
        FROM events e, LATERAL variant_explode(parse_json(e.props)) kv
        WHERE e.props IS NOT NULL
        """
    )


@register(
    "events_variant_props",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(json_extract_string(props::JSON, '$.k') AS BIGINT)) AS BIGINT)
             AS sum_k,
           sum(CAST(json_extract_string(props::JSON, '$.k') AS BIGINT)) * 1.0 / count(*)
             AS avg_k
    FROM events WHERE props IS NOT NULL
    GROUP BY event_type
    """,
)
def events_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured analytics through the VARIANT type (Spark 4):
    ``parse_json`` once, then typed ``variant_get`` extraction —
    binary-encoded variant beats per-access JSON string re-parsing and
    is the engine-native path for schema-on-read columns.

    Aggregation is exact (integer sum / count); the average divides as
    the identical double expression in both engines.
    """
    t = Tables(spark, sf_dir)
    v = (
        t.events.where(F.col("props").isNotNull())
        .select("event_type", F.parse_json("props").alias("v"))
        .select("event_type", F.expr("variant_get(v, '$.k', 'long')").alias("k"))
    )
    return v.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").alias("sum_k"),
        (F.sum("k") * F.lit(1.0) / F.count(F.lit(1))).alias("avg_k"),
    )


@register(
    "sql_pipe_syntax_segments",
    oracle="""
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_customers,
           sum(CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT)) / 100.0 AS total_acctbal
    FROM customer
    WHERE c_acctbal > 0
    GROUP BY c_mktsegment
    """,
)
def sql_pipe_syntax_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4 ``|>`` operator chains): the same
    logical plan as the classic form, written as a linear dataflow.
    Parses to identical Catalyst plans — zero cost, improved
    composability for generated SQL.
    """
    _views(spark, sf_dir, "customer")
    return spark.sql(
        """
        FROM customer
        |> WHERE c_acctbal > 0
        |> AGGREGATE count(*) AS n_customers,
                     sum(CAST(floor(c_acctbal * 100.0D + 0.5D) AS BIGINT)) / 100.0D
                       AS total_acctbal
           GROUP BY c_mktsegment
        """
    )


@register(
    "sql_lateral_customer_order_profile",
    oracle="""
    SELECT c.c_custkey, l.n_orders, l.max_price, l.last_order_date
    FROM customer c,
    LATERAL (
      SELECT CAST(count(*) AS BIGINT) AS n_orders,
             CAST(max(floor(o_totalprice * 100.0 + 0.5)) AS BIGINT) / 100.0
               AS max_price,
             max(o_orderdate) AS last_order_date
      FROM orders o WHERE o.o_custkey = c.c_custkey
    ) l
    WHERE l.n_orders > 0
    """,
)
def sql_lateral_customer_order_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery join: a multi-column per-customer
    order profile computed by a correlated aggregate — the SQL surface
    where one correlated subquery returns several measures at once
    (a scalar subquery would need one rescan per measure).

    Catalyst decorrelates the lateral aggregate into a grouped
    aggregation joined back on the key — the same physical plan a
    hand-written groupBy+join produces, so the per-customer "loop" in
    the SQL never executes as a loop.
    """
    _views(spark, sf_dir, "customer", "orders")
    return spark.sql(
        """
        SELECT c.c_custkey, l.n_orders, l.max_price, l.last_order_date
        FROM customer c,
        LATERAL (
          SELECT count(*) AS n_orders,
                 CAST(max(floor(o_totalprice * 100.0D + 0.5D)) AS BIGINT) / 100.0D
                   AS max_price,
                 max(o_orderdate) AS last_order_date
          FROM orders o WHERE o.o_custkey = c.c_custkey
        ) l
        WHERE l.n_orders > 0
        """
    )


MV_CUTOFF = "1997-07-01"  # base/delta split for the incremental merge


@register(
    "mv_incremental_agg_merge",
    oracle=f"""
    WITH base AS (
      SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS cents
      FROM orders WHERE o_orderdate < TIMESTAMP '{MV_CUTOFF}'
      GROUP BY o_orderpriority
    ), delta AS (
      SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS cents
      FROM orders WHERE o_orderdate >= TIMESTAMP '{MV_CUTOFF}'
      GROUP BY o_orderpriority
    ), merged AS (
      SELECT o_orderpriority, CAST(sum(n) AS BIGINT) AS n_orders,
             CAST(sum(cents) AS BIGINT) AS cents
      FROM (SELECT * FROM base UNION ALL SELECT * FROM delta)
      GROUP BY o_orderpriority
    ), f_all AS (
      SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS cents
      FROM orders GROUP BY o_orderpriority
    )
    SELECT m.o_orderpriority, m.n_orders,
           round(m.cents / 100.0, 2) AS total_price,
           CASE WHEN m.n_orders = f.n AND m.cents = f.cents THEN 1 ELSE 0 END
             AS matches_full
    FROM merged m JOIN f_all f USING (o_orderpriority)
    """,
)
def mv_incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance via mergeable partial
    aggregates: a pre-computed BASE state (orders before the cutoff)
    merges with a DELTA state (orders since) by unioning the partial
    (count, exact-cents-sum) states and re-aggregating — never
    rescanning history. ``matches_full`` proves in-plan that the merge
    equals the from-scratch aggregate.

    At 100 TB this is the nightly-refresh pattern: the base state is
    table-sized-independent (one row per group), the delta scan is
    partition-pruned to the new data, and because count/sum states are
    commutative monoids the merge is a tiny groupBy. (AVG would carry
    (sum, count); percentiles would carry a sketch — same shape.)
    """
    t = Tables(spark, sf_dir)
    cents = order_cents()
    cutoff = F.lit(MV_CUTOFF).cast("timestamp")

    def state(df):
        return df.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n"), F.sum(cents).alias("cents")
        )

    base = state(t.orders.filter(F.col("o_orderdate") < cutoff))
    delta = state(t.orders.filter(F.col("o_orderdate") >= cutoff))
    merged = (
        base.unionAll(delta)
        .groupBy("o_orderpriority")
        .agg(F.sum("n").alias("n_orders"), F.sum("cents").alias("cents"))
    )
    full = state(t.orders).withColumnsRenamed({"n": "n_full", "cents": "cents_full"})
    return merged.join(full, "o_orderpriority").select(
        "o_orderpriority",
        "n_orders",
        F.round(F.col("cents") / 100.0, 2).alias("total_price"),
        F.when(
            (F.col("n_orders") == F.col("n_full")) & (F.col("cents") == F.col("cents_full")), 1
        )
        .otherwise(0)
        .alias("matches_full"),
    )


@register(
    "mv_incremental_join_merge",
    oracle=f"""
    WITH enrich AS (
      SELECT o.o_orderkey, n.n_name, o.o_orderdate,
             CAST(floor(o.o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
    ), merged AS (
      SELECT * FROM enrich WHERE o_orderdate < TIMESTAMP '{MV_CUTOFF}'
      UNION ALL
      SELECT * FROM enrich WHERE o_orderdate >= TIMESTAMP '{MV_CUTOFF}'
    ), m AS (
      SELECT n_name, CAST(count(*) AS BIGINT) AS n_orders,
             CAST(sum(cents) AS BIGINT) AS cents
      FROM merged GROUP BY n_name
    ), f AS (
      SELECT n_name, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS BIGINT) AS cents
      FROM enrich GROUP BY n_name
    )
    SELECT m.n_name, m.n_orders, round(m.cents / 100.0, 2) AS total_price,
           CASE WHEN m.n_orders = f.n AND m.cents = f.cents THEN 1 ELSE 0 END
             AS matches_full
    FROM m JOIN f USING (n_name)
    """,
)
def mv_incremental_join_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN materialized view (orders
    enriched with customer nation): the base MV rows (orders before the
    cutoff, already joined) merge with freshly-joined DELTA rows by
    simple union — only the delta ever touches the join again, history
    is never re-joined. ``matches_full`` proves in-plan that base ∪
    delta-join equals the from-scratch join.

    The sibling of ``mv_incremental_agg_merge`` one level earlier in
    the pipeline: join MVs are unioned row states, aggregate MVs are
    merged partial-agg states. At 100 TB the delta scan is
    partition-pruned to new data, the dims broadcast (zero fact
    shuffle), and the nightly refresh cost is O(delta), not O(history).
    """
    t = Tables(spark, sf_dir)
    cutoff = F.lit(MV_CUTOFF).cast("timestamp")
    dims = t.customer.select("c_custkey", "c_nationkey").join(
        F.broadcast(t.nation.select("n_nationkey", "n_name")),
        F.col("c_nationkey") == F.col("n_nationkey"),
    )
    cents = order_cents()

    def enrich(orders):
        return orders.select("o_orderkey", "o_custkey", cents.alias("cents")).join(
            F.broadcast(dims), F.col("o_custkey") == F.col("c_custkey")
        ).select("o_orderkey", "n_name", "cents")

    base_mv = enrich(t.orders.filter(F.col("o_orderdate") < cutoff))
    delta_mv = enrich(t.orders.filter(F.col("o_orderdate") >= cutoff))
    merged = (
        base_mv.unionAll(delta_mv)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_orders"), F.sum("cents").alias("cents"))
    )
    full = (
        enrich(t.orders)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_full"), F.sum("cents").alias("cents_full"))
    )
    return merged.join(full, "n_name").select(
        "n_name",
        "n_orders",
        F.round(F.col("cents") / 100.0, 2).alias("total_price"),
        F.when(
            (F.col("n_orders") == F.col("n_full")) & (F.col("cents") == F.col("cents_full")),
            1,
        )
        .otherwise(0)
        .alias("matches_full"),
    )
