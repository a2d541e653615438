"""Round-10 operator batch (roundtenb).

Gates: raw-frame oracle parity, plan sweeps and Python replicas in
``tests/test_roundtenb.py``; fuzz profiles / sf0.1 / x10 in SCALE.md
§5i.

Batch theme: concordance effect size (Kendall's W over the Friedman
rank table), product session-duration distribution, a code-detection
corpus gate, cost-sensitive threshold selection, the AMS F2 moment
sketch with exact audit, and a weekday-adjusted volume anomaly
monitor with EXACT integer flagging.

``dq_weekday_volume_anomaly`` lives in ``operators/daily_change.py``
with the other daily-series queries.

``stats_kendall_w_nation_priority`` lives in ``operators/stats_rank.py``
with the other stats queries.

``events_session_duration_histogram`` lives in
``operators/events_sequence.py`` with the other events queries.

``ml_cost_optimal_threshold`` lives in ``operators/ml_thresholds.py``
with the other ml queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..tables import Tables


# ---------------------------------------------------------------------------
# 3. Code-detection heuristic gate per language
# ---------------------------------------------------------------------------

CODE_SYMBOLS = "{};<>="
CODE_PCT_X20 = 1  # code-like iff 20 * n_sym > n_chars (> 5% symbol density)


def _code_detect_oracle() -> str:
    from ..functions.exact import sql_round_int_ratio

    return f"""
    WITH d AS (
      SELECT lang,
             CAST(n_chars AS BIGINT) AS n_chars,
             CAST(length(text) - length(translate(text, '{CODE_SYMBOLS}', ''))
               AS BIGINT) AS n_sym
      FROM documents
    ), per AS (
      SELECT lang,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN n_chars > 0 AND 20 * n_sym > n_chars
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_code_like,
             CAST(sum(n_sym) AS BIGINT) AS total_symbols
      FROM d GROUP BY lang
    )
    SELECT lang, n_docs, n_code_like, total_symbols,
           {sql_round_int_ratio('n_code_like', 'n_docs')} AS code_share
    FROM per ORDER BY lang
    """


@register("text_code_detection_gate", oracle=_code_detect_oracle())
def text_code_detection_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-detection heuristic per language: flag documents whose
    structural-symbol density ({{}};<>=) exceeds 5% of characters —
    the classic cheap code-vs-prose separator a natural-language
    corpus pipeline runs BEFORE the quality gates (code in a prose
    corpus poisons both the LM filter and dedup shingles; prose in a
    code corpus is the symmetric problem), completing the filter
    family beside language ID, Gopher gates, and the classifier.

    The symbol count is character arithmetic (length minus
    translate-stripped length — identical semantics both engines, no
    regex engine in the loop) and the 5% test is the exact integer
    comparison 20*n_sym > n_chars, so no float threshold exists. One
    scan to |langs| rows.
    """
    from ..functions.exact import round_int_ratio

    t = Tables(spark, sf_dir)
    n_sym = (
        F.length("text") - F.length(F.translate(F.col("text"), CODE_SYMBOLS, ""))
    ).cast("long")
    d = t.documents.select(
        "lang", F.col("n_chars").cast("long").alias("n_chars"), n_sym.alias("n_sym")
    )
    per = d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.when((F.col("n_chars") > 0) & (20 * F.col("n_sym") > F.col("n_chars")), 1)
            .otherwise(0)
        ).alias("n_code_like"),
        F.sum("n_sym").alias("total_symbols"),
    )
    return per.select(
        "lang",
        "n_docs",
        "n_code_like",
        "total_symbols",
        round_int_ratio(F.col("n_code_like"), F.col("n_docs")).alias("code_share"),
    )


# ---------------------------------------------------------------------------
# 5. AMS F2 (second frequency moment) sketch with exact audit
# ---------------------------------------------------------------------------

AMS_ESTIMATORS = 16


def _ams_oracle() -> str:
    from ..functions.exact import sql_round_int_ratio

    j = AMS_ESTIMATORS
    return f"""
    WITH freq AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY user_id
    ), exact AS (
      SELECT CAST(sum(c * c) AS BIGINT) AS f2_exact FROM freq
    ), signs AS (
      SELECT f.c, j.j,
             2 * ((('0x' || substr(sha256('ams' || CAST(j.j AS VARCHAR) || '|'
                    || CAST(f.user_id AS VARCHAR)), 1, 15)))::BIGINT % 2) - 1
               AS s
      FROM freq f, (SELECT unnest(range(0, {j})) AS j) j
    ), xs AS (
      SELECT j, CAST(sum(s * c) AS BIGINT) AS x FROM signs GROUP BY j
    ), ests AS (
      SELECT list_sort(list(x * x)) AS arr FROM xs
    ), med AS (
      SELECT CAST((arr[{j // 2}] + arr[{j // 2 + 1}]) // 2 AS BIGINT) AS f2_ams
      FROM ests
    )
    SELECT CAST({j} AS BIGINT) AS n_estimators, e.f2_exact, m.f2_ams,
           CASE WHEN e.f2_exact > 0 THEN
             {sql_round_int_ratio('abs(m.f2_ams - e.f2_exact)', 'e.f2_exact')}
           END AS rel_error
    FROM exact e, med m
    """


@register("sketch_ams_f2_users", oracle=_ams_oracle())
def sketch_ams_f2_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS (Alon-Matias-Szegedy) sketch of the second frequency
    moment F2 = sum_u count(u)^2 of per-user event counts — THE
    self-join-size / skew estimator (F2 is exactly the output size of
    a user-keyed self-join, what a cost-based optimizer wants before
    picking a join strategy), completing the sketch family's moment
    corner beside the cardinality (F0: KMV/linear counting/bitmap)
    and heavy-hitter (CountMin) members. Reported beside the exact F2
    with relative error like every sketch audit in the registry.

    Sixteen +-1 estimators from the portable salted sha parity; each
    X_j = sum s_j(u)*c_u is one exact int64 aggregate over a
    16-way-replicated user-frequency table (the replication is of the
    AGGREGATED per-user counts, not raw events), and the median of
    the 16 X_j^2 comes from a sorted 16-element array in a single-row
    aggregate — no window, no driver loop. Estimator state is 16
    integers: mergeable by addition across any partitioning.
    """
    from ..functions.exact import round_int_ratio
    from ..functions.textnorm import sha256_prefix_i64

    jn = AMS_ESTIMATORS
    t = Tables(spark, sf_dir)
    freq = t.events.groupBy("user_id").agg(F.count(F.lit(1)).alias("c"))
    exact = freq.agg(F.sum(F.col("c") * F.col("c")).alias("f2_exact"))
    js = spark.range(jn).select(F.col("id").alias("j"))
    sign = (
        2
        * (
            sha256_prefix_i64(
                F.concat(
                    F.lit("ams"),
                    F.col("j").cast("string"),
                    F.lit("|"),
                    F.col("user_id").cast("string"),
                )
            )
            % 2
        )
        - 1
    )
    xs = (
        freq.crossJoin(F.broadcast(js))
        .select("j", (sign * F.col("c")).alias("sc"))
        .groupBy("j")
        .agg(F.sum("sc").alias("x"))
    )
    med = xs.agg(
        F.sort_array(F.collect_list(F.col("x") * F.col("x"))).alias("arr")
    ).select(
        F.expr(f"(arr[{jn // 2 - 1}] + arr[{jn // 2}]) div 2").alias("f2_ams")
    )
    out = med.crossJoin(F.broadcast(exact))
    return out.select(
        F.lit(jn).cast("long").alias("n_estimators"),
        "f2_exact",
        "f2_ams",
        F.when(
            F.col("f2_exact") > 0,
            round_int_ratio(
                F.abs(F.col("f2_ams") - F.col("f2_exact")), F.col("f2_exact")
            ),
        ).alias("rel_error"),
    )
