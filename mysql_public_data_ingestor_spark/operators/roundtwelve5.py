"""Round-12 operator batch J.

Gates: raw-frame oracle parity, plan bars and Python replicas with
float anchors in ``tests/test_roundtwelve5.py``; SCALE.md §5j.11
records the ×10 ladder.

Batch theme — stationarity, privacy adversary baselines, and
categorical drift: the KPSS test in both level- and trend-stationarity
forms (the NULL-of-stationarity complement to the Mann-Kendall /
variance-ratio / Hurst alternatives already shipped), the attribute-
inference baseline accuracy over quasi-identifier cells (the
majority-vote adversary every anonymization review prices first), and
a first-half/second-half categorical value-drift audit (new/vanished
category detection — the VALUE-level sibling of ``dq_schema_drift``).
Every name was checked against the full registry inventory before
design (the §5j.7 authoring rule).

Reference parity note: the reference (Go ingestion pipeline) has no
analytics; these extend SURVEY §2.C warehouse statistics / privacy /
DQ.

``stats_kpss_level_trend_daily`` lives in
``operators/daily_hypothesis.py`` with the other daily-series queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import dec38, halfup_div, sql_halfup_div
from ..registry import register
from ..tables import Tables


# ---------------------------------------------------------------------------
# 2. Attribute-inference baseline accuracy over quasi-identifier cells
# ---------------------------------------------------------------------------


def _attr_inference_oracle() -> str:
    hd = sql_halfup_div
    return f"""
    WITH qi AS (
      SELECT c_nationkey AS nat,
             CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
             c_mktsegment AS sens
      FROM customer
    ), cells AS (
      SELECT nat, bal_band, sens, CAST(count(*) AS HUGEINT) AS c
      FROM qi GROUP BY nat, bal_band, sens
    ), per_cell AS (
      SELECT nat, bal_band,
             CAST(sum(c) AS HUGEINT) AS n_cell,
             CAST(max(c) AS HUGEINT) AS maj
      FROM cells GROUP BY nat, bal_band
    ), gsum AS (
      SELECT CAST(sum(n_cell) AS HUGEINT) AS n,
             CAST(sum(maj) AS HUGEINT) AS hits,
             CAST(count(*) AS BIGINT) AS n_cells
      FROM per_cell
    ), marg AS (
      SELECT CAST(max(s) AS HUGEINT) AS gmaj FROM (
        SELECT sens, sum(c) AS s FROM cells GROUP BY sens
      )
    )
    SELECT g.n_cells, CAST(g.n AS BIGINT) AS n_records,
           CAST({hd('1000000::HUGEINT * g.hits', 'g.n')} AS BIGINT)
             AS attacker_acc_micro,
           CAST({hd('1000000::HUGEINT * m.gmaj', 'g.n')} AS BIGINT)
             AS marginal_acc_micro,
           CASE WHEN g.n > m.gmaj THEN
             CAST({hd('1000000::HUGEINT * (g.hits - m.gmaj)', 'g.n - m.gmaj')}
                  AS BIGINT)
           END AS inference_lift_micro
    FROM gsum g, marg m
    """


@register("privacy_attribute_inference_baseline", _attr_inference_oracle())
def privacy_attribute_inference_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribute-inference baseline: an adversary who knows each
    customer's quasi-identifiers (nation, account-balance band) and
    guesses the MAJORITY market segment of that QI cell — the
    cell-majority accuracy versus the marginal-majority accuracy an
    adversary achieves with NO quasi-identifiers, and the normalized
    lift between them (Cramer-lambda form: how much of the remaining
    uncertainty the QIs remove). This is the first number an
    anonymization review prices — ``privacy_k_anonymity_audit`` counts
    small cells and ``privacy_l_diversity_audit`` counts distinct
    sensitive values, but neither says how ACCURATE the induced
    attack actually is.

    Exactness: all counts exact integers; the three accuracies are
    single half-up 1e-6 divisions (the lift denominator n - gmaj is
    the residual error mass of the marginal guesser — Goodman-Kruskal
    lambda's exact form); when the marginal guesser is already perfect
    (n == gmaj) the lift is NULL on both engines rather than a
    divide-by-zero (ADVICE r11).

    Scale shape: one customer scan partial-aggregating to the
    (nation x balance-band x segment) grid (bounded by the QI domain,
    not by rows); per-cell majorities and the three scalars are
    bounded-grid algebra.
    """
    t = Tables(spark, sf_dir)
    cells = t.customer.groupBy(
        F.col("c_nationkey").alias("nat"),
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_band"),
        F.col("c_mktsegment").alias("sens"),
    ).agg(dec38(F.count(F.lit(1))).alias("c"))
    per_cell = cells.groupBy("nat", "bal_band").agg(
        F.sum("c").alias("n_cell"), F.max("c").alias("maj")
    )
    glob = per_cell.agg(
        F.sum("n_cell").alias("n"),
        F.sum("maj").alias("hits"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
    )
    marg = cells.groupBy("sens").agg(F.sum("c").alias("s")).agg(
        F.max("s").alias("gmaj")
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    return glob.crossJoin(F.broadcast(marg)).select(
        "n_cells",
        F.col("n").cast("long").alias("n_records"),
        halfup_div(m6 * F.col("hits"), F.col("n")).cast("long").alias(
            "attacker_acc_micro"
        ),
        halfup_div(m6 * F.col("gmaj"), F.col("n")).cast("long").alias(
            "marginal_acc_micro"
        ),
        F.when(
            F.col("n") > F.col("gmaj"),
            halfup_div(
                m6 * (F.col("hits") - F.col("gmaj")), F.col("n") - F.col("gmaj")
            ).cast("long"),
        ).alias("inference_lift_micro"),
    )


# ---------------------------------------------------------------------------
# 3. First-half/second-half categorical value-drift audit
# ---------------------------------------------------------------------------


def _cat_drift_oracle() -> str:
    hd = sql_halfup_div
    parts = []
    for col_name, table, col, half_expr in (
        ("events.event_type", "events", "event_type",
         "epoch_us(ts) * 2 <= (SELECT min(epoch_us(ts)) + max(epoch_us(ts)) FROM events)"),
        ("documents.source", "documents", "source",
         "doc_id * 2 <= (SELECT min(doc_id) + max(doc_id) FROM documents)"),
        ("orders.o_orderpriority", "orders", "o_orderpriority",
         "epoch(CAST(o_orderdate AS TIMESTAMP)) * 2 <= "
         "(SELECT min(epoch(CAST(o_orderdate AS TIMESTAMP)))"
         " + max(epoch(CAST(o_orderdate AS TIMESTAMP))) FROM orders)"),
    ):
        parts.append(f"""
    SELECT '{col_name}' AS column_name,
           (SELECT CAST(count(DISTINCT {col}) AS BIGINT) FROM {table}
            WHERE {half_expr}) AS n_cats_first,
           (SELECT CAST(count(DISTINCT {col}) AS BIGINT) FROM {table}
            WHERE NOT ({half_expr})) AS n_cats_second,
           (SELECT CAST(count(*) AS BIGINT) FROM (
              SELECT DISTINCT {col} FROM {table} WHERE NOT ({half_expr})
              EXCEPT SELECT DISTINCT {col} FROM {table} WHERE {half_expr}
            )) AS n_new,
           (SELECT CAST(count(*) AS BIGINT) FROM (
              SELECT DISTINCT {col} FROM {table} WHERE {half_expr}
              EXCEPT SELECT DISTINCT {col} FROM {table} WHERE NOT ({half_expr})
            )) AS n_vanished""")
    unions = " UNION ALL ".join(parts)
    return f"""
    WITH levels AS ({unions})
    SELECT column_name, n_cats_first, n_cats_second, n_new, n_vanished,
           CASE WHEN n_cats_first + n_cats_second > 0 THEN
             CAST({hd('1000000::HUGEINT * (n_cats_first + n_cats_second'
                      ' - n_new - n_vanished)',
                      'n_cats_first + n_cats_second + n_new + n_vanished')}
                  AS BIGINT)
           END AS jaccard_micro
    FROM levels ORDER BY column_name
    """


@register("dq_category_drift_halves", _cat_drift_oracle())
def dq_category_drift_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical value-drift audit between the first and second half
    of each table's natural order (event time, document id, order
    date): per monitored low-cardinality column, the category counts
    in each half, the NEW categories (second half only — an upstream
    enum grew), the VANISHED ones (first half only — a source went
    dark), and the Jaccard overlap of the two category sets.
    ``dq_schema_drift`` detects COLUMN-level drift; this is the
    VALUE-level sibling — the check that catches a new event type or
    source feed before a downstream `pivot`/dictionary-encoded join
    silently drops it.

    Set identity used for the Jaccard: with F/S the per-half distinct
    counts, |intersection| = F - vanished = S - new and |union| =
    |intersection| + new + vanished, so 2|I| = F + S - new - vanished
    and 2|U| = F + S + new + vanished — the Jaccard is the exact ratio
    of those two integers (the replica pins it against directly
    computed category sets).

    Scale shape: per column one scan to the distinct category sets per
    half (domain-bounded aggregates); the half split is a broadcast
    min/max midpoint predicate, never a sort.
    """
    t = Tables(spark, sf_dir)
    m6 = F.lit(1_000_000).cast("decimal(38,0)")

    def audit(df, col, order_col_expr, label):
        mm = df.agg(
            (F.min(order_col_expr) + F.max(order_col_expr)).alias("mid2")
        )
        halves = df.crossJoin(F.broadcast(mm)).select(
            F.col(col).alias("v"),
            (order_col_expr * 2 <= F.col("mid2")).alias("first_half"),
        )
        sets = halves.groupBy("v").agg(
            F.max(F.when(F.col("first_half"), 1).otherwise(0)).alias("in_first"),
            F.max(F.when(~F.col("first_half"), 1).otherwise(0)).alias("in_second"),
        )
        return sets.agg(
            F.lit(label).alias("column_name"),
            F.sum("in_first").cast("long").alias("n_cats_first"),
            F.sum("in_second").cast("long").alias("n_cats_second"),
            F.sum(F.when((F.col("in_second") == 1) & (F.col("in_first") == 0), 1).otherwise(0))
            .cast("long")
            .alias("n_new"),
            F.sum(F.when((F.col("in_first") == 1) & (F.col("in_second") == 0), 1).otherwise(0))
            .cast("long")
            .alias("n_vanished"),
        )

    rows = audit(
        t.events, "event_type", F.unix_micros(F.col("ts")), "events.event_type"
    ).unionAll(
        audit(t.documents, "source", F.col("doc_id"), "documents.source")
    ).unionAll(
        audit(
            t.orders,
            "o_orderpriority",
            F.unix_seconds(F.to_timestamp(F.col("o_orderdate"))),
            "orders.o_orderpriority",
        )
    )
    total = F.col("n_cats_first") + F.col("n_cats_second")
    inter_union_num = total - F.col("n_new") - F.col("n_vanished")
    union_den = total + F.col("n_new") + F.col("n_vanished")
    return rows.select(
        "column_name",
        "n_cats_first",
        "n_cats_second",
        "n_new",
        "n_vanished",
        F.when(
            total > 0,
            halfup_div(m6 * dec38(inter_union_num), dec38(union_den)),
        )
        .cast("long")
        .alias("jaccard_micro"),
    ).orderBy("column_name")
