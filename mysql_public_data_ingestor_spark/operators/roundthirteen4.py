"""Round-13 operator batch S.

Gates: ``tests/test_roundthirteen4.py``; SCALE.md §5o records the
×10 ladder.

Batch theme — coverage, deployment arithmetic and budget
concentration: which parts the co-purchase graph can see at all, how
the classifier's fixed operating point degrades under prevalence
shift, and how concentrated the corpus token budget is across
documents. Every name was checked against the full registry
inventory before design.

Reference parity note: the reference (Go ingestion pipeline) has no
analytics; these extend SURVEY §2.C graph / ML / corpus management.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import dec38, halfup_div, sql_halfup_div
from ..registry import register
from ..tables import Tables

# ---------------------------------------------------------------------------
# 1. Co-purchase graph coverage audit
# ---------------------------------------------------------------------------


def _coverage_oracle() -> str:
    from .graph import _SQL_EDGES

    hd = sql_halfup_div
    return _SQL_EDGES + f"""
    , nodes AS (
      SELECT DISTINCT node FROM (
        SELECT u AS node FROM edges UNION ALL SELECT v FROM edges
      )
    ), pt AS (
      SELECT CAST(count(*) AS BIGINT) AS n_parts FROM part
    ), sold AS (
      SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_sold FROM lineitem
    ), ng AS (SELECT CAST(count(*) AS BIGINT) AS n_in_graph FROM nodes)
    SELECT pt.n_parts, sold.n_sold, ng.n_in_graph,
           (pt.n_parts - sold.n_sold) AS n_never_sold,
           (sold.n_sold - ng.n_in_graph) AS n_sold_isolated,
           CAST({hd('1000000::HUGEINT * ng.n_in_graph', 'pt.n_parts')} AS BIGINT)
             AS graph_coverage_micro,
           CAST({hd('1000000::HUGEINT * ng.n_in_graph', 'sold.n_sold')} AS BIGINT)
             AS sold_coverage_micro
    FROM pt, sold, ng
    """


@register("graph_copurchase_coverage_audit", _coverage_oracle())
def graph_copurchase_coverage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coverage audit of the co-purchase graph against the part
    dimension: how many parts exist, how many were ever sold, how
    many appear in at least one co-purchase edge, and the two
    shortfalls — never-sold parts and sold-but-isolated parts (only
    ever purchased alone). Every graph-family statistic implicitly
    conditions on "node is in the graph"; this op prices that
    selection (a 60% coverage means PageRank/link-prediction scores
    exist for 60% of the catalog — the first number a recommender
    integration asks). The dimension-reconciliation member of the
    graph shelf, off the SHARED ``graph.edge_table``.

    Exactness: pure exact distinct counts and two half-up micro
    shares.

    Scale shape: edge list from the session warehouse; one lineitem
    distinct aggregate; one part count; scalar algebra.
    """
    from .graph import edge_table

    t = Tables(spark, sf_dir)
    edges = edge_table(spark, t, sf_dir)
    nodes = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .distinct()
    )
    pt = t.part.agg(F.count(F.lit(1)).cast("long").alias("n_parts"))
    sold = t.lineitem.agg(
        F.countDistinct("l_partkey").cast("long").alias("n_sold")
    )
    ng = nodes.agg(F.count(F.lit(1)).cast("long").alias("n_in_graph"))
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    return (
        pt.crossJoin(F.broadcast(sold))
        .crossJoin(F.broadcast(ng))
        .select(
            "n_parts",
            "n_sold",
            "n_in_graph",
            (F.col("n_parts") - F.col("n_sold")).alias("n_never_sold"),
            (F.col("n_sold") - F.col("n_in_graph")).alias("n_sold_isolated"),
            halfup_div(m6 * dec38(F.col("n_in_graph")), dec38(F.col("n_parts")))
            .cast("long")
            .alias("graph_coverage_micro"),
            halfup_div(m6 * dec38(F.col("n_in_graph")), dec38(F.col("n_sold")))
            .cast("long")
            .alias("sold_coverage_micro"),
        )
    )


# ---------------------------------------------------------------------------
# 2. PPV/NPV under prevalence shift at the fixed gate threshold
# ---------------------------------------------------------------------------

PPV_THRESHOLD = 5000  # the fairness-op fixed operating point
PPV_PREVALENCE_MILLI = (10, 50, 100, 250, 500)


def _ppv_oracle() -> str:
    from .ml import _scored_labeled_sql

    hd = sql_halfup_div
    th = PPV_THRESHOLD
    ps = ", ".join(str(x) for x in PPV_PREVALENCE_MILLI)
    return (
        _scored_labeled_sql()
        + f"""
    , conf AS (
      SELECT CAST(sum(CASE WHEN label = 1 AND score_q >= {th} THEN 1 ELSE 0 END)
                  AS HUGEINT) AS tp,
             CAST(sum(CASE WHEN label = 1 AND score_q < {th} THEN 1 ELSE 0 END)
                  AS HUGEINT) AS fn,
             CAST(sum(CASE WHEN label = 0 AND score_q >= {th} THEN 1 ELSE 0 END)
                  AS HUGEINT) AS fp,
             CAST(sum(CASE WHEN label = 0 AND score_q < {th} THEN 1 ELSE 0 END)
                  AS HUGEINT) AS tn
      FROM scored
    ), pis AS (SELECT CAST(unnest([{ps}]) AS BIGINT) AS pi_milli),
    adj AS (
      -- Bayes: ppv(pi) = pi*se / (pi*se + (1-pi)(1-sp)); with
      -- se = tp/(tp+fn), sp = tn/(tn+fp), clear denominators:
      -- ppv = pi*tp*(tn+fp) / (pi*tp*(tn+fp) + (1000-pi)*fp*(tp+fn))
      SELECT p.pi_milli, c.tp, c.fp, c.fn, c.tn,
             (p.pi_milli * c.tp * (c.tn + c.fp)) AS a,
             ((1000 - p.pi_milli) * c.fp * (c.tp + c.fn)) AS b,
             ((1000 - p.pi_milli) * c.tn * (c.tp + c.fn)) AS cnpv,
             (p.pi_milli * c.fn * (c.tn + c.fp)) AS dnpv
      FROM pis p, conf c
    )
    SELECT pi_milli AS prevalence_milli,
           CASE WHEN a + b > 0 THEN
             CAST({hd('1000000::HUGEINT * a', 'a + b')} AS BIGINT)
           END AS ppv_micro,
           CASE WHEN cnpv + dnpv > 0 THEN
             CAST({hd('1000000::HUGEINT * cnpv', 'cnpv + dnpv')} AS BIGINT)
           END AS npv_micro
    FROM adj ORDER BY pi_milli
    """
    )


@register("ml_ppv_prevalence_grid", _ppv_oracle())
def ml_ppv_prevalence_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PPV/NPV of the classifier's fixed 0.5 operating point under a
    PREVALENCE grid (1%, 5%, 10%, 25%, 50%): Bayes-adjust the
    measured sensitivity/specificity to each deployment base rate —
    ppv(pi) = pi se / (pi se + (1-pi)(1-sp)). Sensitivity and
    specificity travel across datasets; PPV does NOT, and deploying a
    gate tuned on a balanced benchmark onto a 1%-positive stream is
    THE classic precision collapse. The threshold family optimizes ON
    the evaluation corpus (`ml_youden_optimal_threshold`,
    `ml_fbeta_optimal_thresholds`); this op prices the SAME operating
    point everywhere else.

    Exactness: the 2x2 confusion counts are exact; clearing the
    se/sp denominators makes each adjusted value ONE half-up micro
    division of exact integer products with milli prevalence weights;
    NULL-guarded degenerate margins.

    Scale shape: one scored scan to four counters; a 5-row grid
    broadcast; 5 rows out.
    """
    from .ml import _scored_labeled

    t = Tables(spark, sf_dir)
    s = _scored_labeled(t)
    th = PPV_THRESHOLD
    conf = s.agg(
        F.sum(
            F.when((F.col("label") == 1) & (F.col("score_q") >= th), 1).otherwise(0)
        ).alias("tp"),
        F.sum(
            F.when((F.col("label") == 1) & (F.col("score_q") < th), 1).otherwise(0)
        ).alias("fn"),
        F.sum(
            F.when((F.col("label") == 0) & (F.col("score_q") >= th), 1).otherwise(0)
        ).alias("fp"),
        F.sum(
            F.when((F.col("label") == 0) & (F.col("score_q") < th), 1).otherwise(0)
        ).alias("tn"),
    )
    pis = s.sparkSession.range(1).select(
        F.explode(
            F.array(*[F.lit(x).cast("long") for x in PPV_PREVALENCE_MILLI])
        ).alias("pi_milli")
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    a = dec38(F.col("pi_milli")) * F.col("tp") * (F.col("tn") + F.col("fp"))
    b = dec38(1000 - F.col("pi_milli")) * F.col("fp") * (F.col("tp") + F.col("fn"))
    cnpv = dec38(1000 - F.col("pi_milli")) * F.col("tn") * (
        F.col("tp") + F.col("fn")
    )
    dnpv = dec38(F.col("pi_milli")) * F.col("fn") * (F.col("tn") + F.col("fp"))
    return (
        pis.crossJoin(F.broadcast(conf))
        .select(
            F.col("pi_milli").alias("prevalence_milli"),
            F.when(a + b > 0, halfup_div(m6 * a, a + b).cast("long")).alias(
                "ppv_micro"
            ),
            F.when(
                cnpv + dnpv > 0, halfup_div(m6 * cnpv, cnpv + dnpv).cast("long")
            ).alias("npv_micro"),
        )
        .orderBy("prevalence_milli")
    )


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
