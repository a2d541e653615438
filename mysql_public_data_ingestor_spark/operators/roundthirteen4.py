"""Round-13 operator batch S.

Gates: ``tests/test_roundthirteen4.py``; SCALE.md §5o records the
×10 ladder.

Batch theme — coverage, deployment arithmetic and budget
concentration: how the classifier's fixed operating point degrades
under prevalence shift, and how concentrated the corpus token budget
is across documents. Every name was checked against the full registry
inventory before design.

Reference parity note: the reference (Go ingestion pipeline) has no
analytics; these extend SURVEY §2.C graph / ML / corpus management.

``ml_ppv_prevalence_grid`` lives in ``operators/ml_thresholds.py`` with
the other ml queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import dec38, halfup_div, sql_halfup_div
from ..registry import register
from ..tables import Tables


# ---------------------------------------------------------------------------
# 3. Corpus token-mass Lorenz deciles
# ---------------------------------------------------------------------------

TML_DECILES = 10


def _tml_oracle() -> str:
    hd = sql_halfup_div
    k = TML_DECILES
    return f"""
    WITH dl AS (
      SELECT n_chars, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(n_chars AS HUGEINT) * count(*) AS mass
      FROM documents GROUP BY n_chars
    ), nn AS (
      SELECT CAST(sum(n_docs) AS BIGINT) AS total_docs,
             CAST(sum(mass) AS HUGEINT) AS total_mass
      FROM dl
    ), cum AS (
      SELECT n_chars, n_docs, mass,
             coalesce(sum(n_docs) OVER (ORDER BY n_chars
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
      FROM dl
    ), binned AS (
      SELECT least(CAST({k} * c.before // nn.total_docs AS BIGINT), {k - 1})
               AS decile,
             c.n_docs, c.mass
      FROM cum c, nn
    ), bins AS (
      SELECT decile, CAST(sum(n_docs) AS BIGINT) AS n_docs,
             CAST(sum(mass) AS HUGEINT) AS mass
      FROM binned GROUP BY decile
    ), lorenz AS (
      SELECT b.decile, b.n_docs, CAST(b.mass AS BIGINT) AS char_mass,
             CAST({hd('1000000::HUGEINT * b.mass', 'nn.total_mass')} AS BIGINT)
               AS mass_share_micro,
             CAST({hd('1000000::HUGEINT * sum(b.mass) OVER '
                      '(ORDER BY b.decile ROWS BETWEEN UNBOUNDED PRECEDING'
                      ' AND CURRENT ROW)', 'nn.total_mass')} AS BIGINT)
               AS cum_mass_share_micro
      FROM bins b, nn
    )
    SELECT * FROM lorenz ORDER BY decile
    """


@register("corpus_token_mass_lorenz", _tml_oracle())
def corpus_token_mass_lorenz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve of corpus character mass across document-length
    deciles: sort documents by length, cut into {TML_DECILES}
    equal-COUNT deciles, and report each decile's share and
    cumulative share of total characters. The budget-concentration
    read a data-mixing pass needs: if the top length decile carries
    60% of the character (≈ token) budget, dedup/truncation decisions
    about a handful of long documents dominate the training mixture
    regardless of how the other 90% of documents are curated.
    ``corpus_doclen_lognormal_fit`` models the length DISTRIBUTION;
    ``events_user_activity_lorenz_deciles`` is the behavioral cousin;
    this is the corpus-budget form.

    Exactness: decile assignment is integer arithmetic on the
    length-VALUE grid cumulative (every distinct length lands wholly
    in one decile — deterministic, no per-document ordering
    ambiguity); masses and shares are exact integers with one half-up
    micro division per row.

    Scale shape: one scan to the length-value grid (bounded by the
    length domain); grid cumulatives (allowlist class at activation);
    {TML_DECILES} rows out.
    """
    from pyspark.sql.window import Window

    k = TML_DECILES
    t = Tables(spark, sf_dir)
    dl = t.documents.groupBy("n_chars").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        (dec38(F.col("n_chars")) * F.count(F.lit(1))).alias("mass"),
    )
    nn = dl.agg(
        F.sum("n_docs").cast("long").alias("total_docs"),
        F.sum("mass").alias("total_mass"),
    )
    w = Window.orderBy("n_chars").rowsBetween(Window.unboundedPreceding, -1)
    cum = dl.select(
        "n_chars",
        "n_docs",
        "mass",
        F.coalesce(F.sum("n_docs").over(w), F.lit(0)).cast("long").alias("before"),
    )
    binned = cum.crossJoin(F.broadcast(nn)).select(
        F.least(
            F.floor(k * F.col("before") / F.col("total_docs")), F.lit(k - 1)
        )
        .cast("long")
        .alias("decile"),
        "n_docs",
        "mass",
        "total_mass",
    )
    bins = binned.groupBy("decile", "total_mass").agg(
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum("mass").alias("mass"),
    )
    wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    return bins.select(
        "decile",
        "n_docs",
        F.col("mass").cast("long").alias("char_mass"),
        halfup_div(m6 * F.col("mass"), F.col("total_mass"))
        .cast("long")
        .alias("mass_share_micro"),
        halfup_div(m6 * F.sum("mass").over(wc), F.col("total_mass"))
        .cast("long")
        .alias("cum_mass_share_micro"),
    ).orderBy("decile")
