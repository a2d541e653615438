"""The samples and sample designs the stats queries share.

This module registers no query. The stats queries live by theme next
to it:

- ``stats_rank``: rank, ECDF and location/scale tests;
- ``stats_tables``: contingency tables, agreement and proportions;
- ``stats_models``: parametric tests, variance, regression and
  multiplicity;
- ``stats_dist``: distribution fits, moments, survival and inequality.

Shared steps, one copy each:

- the lineitem quantity samples: ``flag_quantities`` (``(g, v)``: the
  return flag and the whole quantity, over every flag or a chosen
  pair) and ``priority_lines`` / ``priority_quantities`` (lineitem
  joined to its order's priority);
- the complete-block design ``block_ranks``: the nation x priority
  cells of whole-cent order value, the blocks holding every priority,
  and the within-block rank of each cell;
- the three document quality gates (``gate_flags``, ``gate_sums`` and
  their SQL twins), with their constants;
- ``value_cum``: the running count below each value of a bounded
  histogram, as a broadcast band self-join (no global window).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.exact import dec38, order_cents
from ..functions.textnorm import whitespace_tokens
from ..tables import Tables
from .corpus import _SQL_TOKENS

# ---------------------------------------------------------------------------
# lineitem quantity samples
# ---------------------------------------------------------------------------


def flag_quantities(t: Tables, flags: tuple[str, ...] = ()) -> DataFrame:
    """``(g, v)``: the return flag and the quantity as a long of every
    lineitem with a quantity — only the lines whose flag is in
    ``flags`` when it is given."""
    keep = F.col("l_quantity").isNotNull()
    if flags:
        keep = F.col("l_returnflag").isin(*flags) & keep
    return t.lineitem.filter(keep).select(
        F.col("l_returnflag").alias("g"), F.col("l_quantity").cast("long").alias("v")
    )


def priority_lines(t: Tables) -> DataFrame:
    """Every lineitem with its order's ``o_orderpriority``."""
    return t.lineitem.join(
        t.orders.select("o_orderkey", "o_orderpriority"),
        t.lineitem.l_orderkey == F.col("o_orderkey"),
    )


def priority_quantities(t: Tables) -> DataFrame:
    """``(g, q)``: each lineitem's order priority and its quantity as a
    long."""
    return priority_lines(t).select(
        F.col("o_orderpriority").alias("g"),
        F.col("l_quantity").cast("long").alias("q"),
    )


# ---------------------------------------------------------------------------
# the complete-block nation x priority design
# ---------------------------------------------------------------------------


def block_ranks(t: Tables) -> tuple[DataFrame, DataFrame, DataFrame]:
    """``(ranked, kk, complete)`` of the order-value design blocked by
    customer nation (``blk``) with the order priority as treatment
    (``trt``):

    - ``ranked``: ``(blk, trt, n_cell, s_cell, rnk)`` for the blocks
      holding every treatment, where ``s_cell`` is the exact
      decimal(38,0) sum of whole-cent order values and ``rnk`` the
      1-based rank of the cell's mean within its block (ties broken by
      the treatment label, so ranks are total and engine-independent);
    - ``kk``: one row, ``k`` = the number of distinct treatments;
    - ``complete``: ``(blk)`` of the complete blocks.

    The cells are |nations| x |priorities| rows off one
    partial-aggregated join, and the window partitions by block.
    """
    cells = (
        t.orders.select(
            "o_custkey", F.col("o_orderpriority").alias("trt"), order_cents().alias("cents")
        )
        .join(
            t.customer.select(
                F.col("c_custkey").alias("o_custkey"), F.col("c_nationkey").alias("blk")
            ),
            "o_custkey",
        )
        .groupBy("blk", "trt")
        .agg(F.count(F.lit(1)).alias("n_cell"), F.sum(dec38(F.col("cents"))).alias("s_cell"))
    )
    kk = cells.agg(F.countDistinct("trt").alias("k"))
    complete = (
        cells.join(F.broadcast(kk))
        .groupBy("blk")
        .agg(F.count(F.lit(1)).alias("n_trt"), F.max("k").alias("k"))
        .filter(F.col("n_trt") == F.col("k"))
        .select("blk")
    )
    w = Window.partitionBy("blk").orderBy(
        F.col("s_cell").cast("double") / F.col("n_cell"), F.col("trt")
    )
    ranked = cells.join(F.broadcast(complete), "blk").withColumn(
        "rnk", F.row_number().over(w).cast("long")
    )
    return ranked, kk, complete


# ---------------------------------------------------------------------------
# the three document quality gates
# ---------------------------------------------------------------------------

MCNEMAR_MIN_CHARS = 300
MCNEMAR_MIN_TOKENS = 60
COCHRAN_MIN_SENTENCES = 2


def gate_flags() -> tuple[Column, Column, Column]:
    """The 0/1 pass flag of each quality gate over a ``documents`` row:
    the char-length gate, the token-count gate and the sentence-count
    gate."""
    a = F.when(F.col("n_chars") >= MCNEMAR_MIN_CHARS, 1).otherwise(0)
    b = F.when(
        F.size(whitespace_tokens(F.col("text"))) >= MCNEMAR_MIN_TOKENS, 1
    ).otherwise(0)
    c = F.when(
        F.size(F.split(F.col("text"), "\\.", -1)) - 1 >= COCHRAN_MIN_SENTENCES, 1
    ).otherwise(0)
    return a, b, c


def gate_sums(t: Tables) -> DataFrame:
    """One row ``(n, sl, sll)``, decimal(38,0): the document count and
    the sums of the per-document pass count L and of L^2."""
    a, b, c = gate_flags()
    return t.documents.select((a + b + c).alias("l")).agg(
        dec38(F.count(F.lit(1))).alias("n"),
        dec38(F.sum("l")).alias("sl"),
        dec38(F.sum(F.col("l") * F.col("l"))).alias("sll"),
    )


# The gates in SQL, as the ``flags`` CTE (``a``, ``b`` and, in the
# three-gate form, ``c``) and as the ``flags`` + ``agg`` CTEs of
# ``gate_sums``.
_SQL_GATE_A = f"CASE WHEN n_chars >= {MCNEMAR_MIN_CHARS} THEN 1 ELSE 0 END"
_SQL_GATE_B = f"CASE WHEN len({_SQL_TOKENS}) >= {MCNEMAR_MIN_TOKENS} THEN 1 ELSE 0 END"
_SQL_GATE_C = f"CASE WHEN len(string_split(text, '.')) - 1 >= {COCHRAN_MIN_SENTENCES}"
_SQL_GATE_FLAGS_AB = f"""flags AS (
      SELECT {_SQL_GATE_A} AS a,
             {_SQL_GATE_B} AS b
      FROM documents
    )"""
_SQL_GATE_FLAGS = f"""flags AS (
      SELECT {_SQL_GATE_A} AS a,
             {_SQL_GATE_B} AS b,
             {_SQL_GATE_C}
                  THEN 1 ELSE 0 END AS c
      FROM documents
    )"""
_SQL_GATE_SUMS = f"""flags AS (
      SELECT {_SQL_GATE_A}
             + {_SQL_GATE_B}
             + {_SQL_GATE_C}
                    THEN 1 ELSE 0 END AS l
      FROM documents
    ), agg AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(l) AS HUGEINT) AS sl,
             CAST(sum(l * l) AS HUGEINT) AS sll
      FROM flags
    )"""


# ---------------------------------------------------------------------------
# running counts over a value histogram
# ---------------------------------------------------------------------------


def value_cum(hist: DataFrame, key: str = "v", **cums: str) -> DataFrame:
    """``hist`` (one row per ``key``) plus one column per
    ``out=count``: the sum of ``count`` over every smaller ``key``, 0
    at the smallest. A value's mid-rank is then ``out + (count + 1) / 2``
    and its inclusive running count ``out + count``.

    The histograms are bounded by their value domain (at most 150
    values: 50 quantities, or 50 quantities x 3 group scalings), so the
    running sums come from a broadcast band self-join instead of a
    global window, which would pull the histogram into one partition.
    """
    lo = hist.select(
        F.col(key).alias(f"{key}_lo"), *(F.col(c).alias(f"{c}_lo") for c in cums.values())
    )
    return (
        hist.join(F.broadcast(lo), F.col(f"{key}_lo") < F.col(key), "left")
        .groupBy(*hist.columns)
        .agg(*(F.coalesce(F.sum(f"{c}_lo"), F.lit(0)).alias(out) for out, c in cums.items()))
    )
