"""Round-12 direct registrations, batch M (graph structure + text
corpus labeling).

Five window-slot completions, each oracle-paired, replica-pinned and
plan-barred in ``tests/test_roundtwelve8.py`` (same-commit gate rule).
Every name was checked against the full registry inventory before
design (the SCALE §5j.7 authoring rule):

* ``graph_weighted_triangles`` — VERDICT r11's suggested weighted
  (co-order strength) triangle aggregate off the shared triangle
  warehouse.
* ``graph_attribute_assortativity_brand`` — Newman's attribute
  (categorical) assortativity over part brands.
* ``graph_avg_neighbor_degree_curve`` — the Pastor-Satorras knn(k)
  degree-correlation curve (the full-curve sibling of the scalar
  ``graph_degree_assortativity``).
* ``text_vmeasure_lang_source`` — homogeneity / completeness /
  V-measure between the language and source labelings (VERDICT r11's
  conditional-entropy suggestion beside the MI pair).
* ``text_msttr_segmental`` — mean segmental type-token ratio, the
  length-robust lexical-diversity member.

Reference parity note: the reference (Go ingestion pipeline,
``/root/reference/main.go``) has no analytics; these extend SURVEY
§2.C graph analytics / text analysis.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import dec38, halfup_div, sql_halfup_div
from ..registry import register
from ..tables import Tables

# ---------------------------------------------------------------------------
# 1. Weighted (co-order strength) triangle aggregate
# ---------------------------------------------------------------------------

# weighted co-purchase edges: w = number of orders containing BOTH
# parts (the multiplicity the unweighted shared edge table drops).
_SQL_WEDGES = """
    wli AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), wedges AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v,
             CAST(count(*) AS BIGINT) AS w
      FROM wli a JOIN wli b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
    )
"""


def _wtri_oracle() -> str:
    from .graph import _SQL_TRI_CTES

    hd = sql_halfup_div
    return _SQL_TRI_CTES + f"""
    , {_SQL_WEDGES.strip().rstrip()}
    , tw AS (
      SELECT least(t.a, t.b) AS ab_u, w1.w AS w_ab, w2.w AS w_ac, w3.w AS w_bc
      FROM tris t
      JOIN wedges w1 ON w1.u = least(t.a, t.b) AND w1.v = greatest(t.a, t.b)
      JOIN wedges w2 ON w2.u = least(t.a, t.c) AND w2.v = greatest(t.a, t.c)
      JOIN wedges w3 ON w3.u = t.b AND w3.v = t.c
    ), agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_triangles,
             CAST(sum(least(w_ab, w_ac, w_bc)) AS HUGEINT) AS sum_min_w,
             CAST(sum(greatest(w_ab, w_ac, w_bc)) AS HUGEINT) AS sum_max_w
      FROM tw
    )
    SELECT n_triangles,
           CAST(sum_min_w AS BIGINT) AS sum_min_w,
           CAST(sum_max_w AS BIGINT) AS sum_max_w,
           CASE WHEN n_triangles > 0 THEN
             CAST({hd('1000000::HUGEINT * sum_min_w', 'n_triangles')} AS BIGINT)
           END AS mean_min_w_micro
    FROM agg
    """


def _wedges(t: Tables) -> DataFrame:
    """Session-materialized weighted co-purchase edge list (u < v,
    w = co-order multiplicity). SQL twin: ``_SQL_WEDGES``.

    Round-14 optimization (the SCALE §5v candidate, executed): four
    registered queries consume this derivation
    (``graph_weighted_triangles``, ``graph_weighted_clustering_barrat``,
    ``graph_pagerank_weighted``, ``graph_strength_assortativity``) and
    each previously re-ran the basket pair generation + pair-count
    aggregate (~2-4 s at sf0.1 apiece). Like ``graph.edge_table`` it
    now materializes ONCE per (application, fixture) into the
    warehouse, sorted by u so the src-keyed joins every consumer
    starts with get run-length-friendly parquet. Values bit-identical:
    the build below is the unchanged derivation and (u, v, w) are all
    int64."""
    from ..warehouse import ensure_table, fixture_tag

    tag = fixture_tag(t.spark, t.sf_dir, ("lineitem.parquet",))
    # NOTE: roundnine2.weighted_edge_table already owns the
    # ``graph_wedges_<tag>`` name for the affinity-DISTANCE table
    # (w = 1e6 div (cnt+1)); this is the raw co-order COUNT table, so
    # it must carry a distinct name (caught by the round-14 full
    # oracle-parity gate: the collision fed count weights into
    # graph_weighted_sssp_seeds).
    return ensure_table(
        t.spark,
        f"graph_cowedges_{tag}",
        lambda: _wedges_build(t).sortWithinPartitions("u", "v"),
    )


def _wedges_build(t: Tables) -> DataFrame:
    """Weighted co-purchase edges (u < v, w = co-order multiplicity) —
    the same basket pair generation as ``graph._edges`` but keeping
    multiplicity. Extracted in round 13 so the Barrat weighted-
    clustering op shares ONE derivation with
    ``graph_weighted_triangles``."""
    arr = F.sort_array(F.collect_set("l_partkey"))
    baskets = (
        t.lineitem.select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(arr.alias("parts"))
    )
    pairs = F.flatten(
        F.transform(
            F.col("parts"),
            lambda x, i: F.transform(
                F.slice(F.col("parts"), i + 2, F.size(F.col("parts"))),
                lambda y: F.struct(x.alias("u"), y.alias("v")),
            ),
        )
    )
    return (
        baskets.select(F.explode(pairs).alias("e"))
        .select(F.col("e.u").alias("u"), F.col("e.v").alias("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )


@register("graph_weighted_triangles", oracle=_wtri_oracle())
def graph_weighted_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strength-weighted triangle aggregate over the co-purchase graph
    (VERDICT r11's suggestion): each edge's weight is its CO-ORDER
    count, each triangle is priced by its weakest edge (the bottleneck
    convention of weighted-motif analysis — a triangle is only as
    strong as its rarest co-purchase), reporting triangle count, total
    min-edge strength, total max-edge strength, and the mean bottleneck
    strength. ``graph_triangle_count`` counts topology;
    ``graph_edge_triangle_support`` ranks edges by closure; this says
    whether closed triples are built from STRONG ties (dense repeat
    co-purchase communities) or weak one-off baskets.

    Derivation sharing: triangles come from the session-shared
    ``graph.triangle_table`` (one enumeration feeds the whole closure
    family); weights come from the same basket pair generation as the
    edge list, kept at multiplicity.

    Exactness: weights and triangle corners are exact integers; ONE
    half-up micro division for the mean.

    Scale shape: the three weight joins are equi-joins on canonical
    (u < v) corner keys against the (u, v)-grouped weighted edge
    table; no wedge re-enumeration, no cartesian.
    """
    from .graph import edge_table, triangle_table

    t = Tables(spark, sf_dir)
    tris = triangle_table(spark, t, sf_dir)
    # weighted edges: shared derivation (_wedges; SQL twin _SQL_WEDGES)
    wedges = _wedges(t)
    w1 = wedges.select(
        F.col("u").alias("u1"), F.col("v").alias("v1"), F.col("w").alias("w_ab")
    )
    w2 = wedges.select(
        F.col("u").alias("u2"), F.col("v").alias("v2"), F.col("w").alias("w_ac")
    )
    w3 = wedges.select(
        F.col("u").alias("u3"), F.col("v").alias("v3"), F.col("w").alias("w_bc")
    )
    tw = (
        tris.join(
            w1,
            (F.col("u1") == F.least("a", "b")) & (F.col("v1") == F.greatest("a", "b")),
        )
        .join(
            w2,
            (F.col("u2") == F.least("a", "c")) & (F.col("v2") == F.greatest("a", "c")),
        )
        .join(w3, (F.col("u3") == F.col("b")) & (F.col("v3") == F.col("c")))
    )
    agg = tw.agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles"),
        F.sum(F.least("w_ab", "w_ac", "w_bc")).cast("long").alias("sum_min_w"),
        F.sum(F.greatest("w_ab", "w_ac", "w_bc")).cast("long").alias("sum_max_w"),
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    return agg.select(
        "n_triangles",
        "sum_min_w",
        "sum_max_w",
        F.when(
            F.col("n_triangles") > 0,
            halfup_div(m6 * dec38(F.col("sum_min_w")), dec38(F.col("n_triangles")))
            .cast("long"),
        ).alias("mean_min_w_micro"),
    )


# ---------------------------------------------------------------------------
# 2. Newman attribute assortativity by part brand
# ---------------------------------------------------------------------------


def _brand_assort_oracle() -> str:
    from .graph import _SQL_EDGES

    hd = sql_halfup_div
    return _SQL_EDGES + f"""
    , ends AS (
      SELECT e.u AS node, e.v AS other FROM edges e
      UNION ALL SELECT e.v, e.u FROM edges e
    ), lab AS (
      SELECT en.node, en.other, p.p_brand AS bx
      FROM ends en JOIN part p ON p.p_partkey = en.node
    ), mix AS (
      SELECT l.bx, p2.p_brand AS by_, CAST(count(*) AS HUGEINT) AS e_xy
      FROM lab l JOIN part p2 ON p2.p_partkey = l.other
      GROUP BY l.bx, p2.p_brand
    ), sums AS (
      SELECT CAST(sum(e_xy) AS HUGEINT) AS m,
             CAST(sum(CASE WHEN bx = by_ THEN e_xy ELSE 0 END) AS HUGEINT) AS tr
      FROM mix
    ), rows_ AS (
      SELECT bx, CAST(sum(e_xy) AS HUGEINT) AS a_x FROM mix GROUP BY bx
    ), sq AS (
      SELECT CAST(sum(a_x * a_x) AS HUGEINT) AS sa2,
             CAST(count(*) AS BIGINT) AS n_brands
      FROM rows_
    )
    SELECT sq.n_brands, CAST(s.m AS BIGINT) AS n_edge_ends,
           CAST(s.tr AS BIGINT) AS n_same_brand_ends,
           CASE WHEN s.m * s.m > sq.sa2 THEN
             CAST({hd('1000000::HUGEINT * (s.m * s.tr - sq.sa2)',
                      's.m * s.m - sq.sa2')} AS BIGINT)
           END AS assortativity_micro
    FROM sums s, sq
    """


@register("graph_attribute_assortativity_brand", oracle=_brand_assort_oracle())
def graph_attribute_assortativity_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman's categorical (attribute) assortativity of the
    co-purchase graph by part BRAND: r = (Tr e - sum a_x b_x) /
    (1 - sum a_x b_x) over the edge-end brand mixing matrix — do
    co-purchased parts share a brand more than chance?
    ``graph_degree_assortativity`` asks the same question about
    DEGREE; the attribute form is the homophily measure (r=1 perfect
    brand homophily, r=0 random mixing, r<0 cross-brand baskets) that
    prices whether brand is a usable blocking/partition key for this
    graph.

    Exactness: the mixing matrix counts each undirected edge as two
    ordered ends (exact integers, symmetric by construction); with
    M = 2|E|, r = (M*Tr - sum a_x^2) / (M^2 - sum a_x^2) is ONE
    half-up micro division of exact products, NULL-guarded for the
    single-brand degenerate.

    Scale shape: edges from the session-shared ``graph.edge_table``;
    two dimension equi-joins to part (brand lookup); the mixing matrix
    is brand^2-bounded (~25x25); scalar algebra out.
    """
    from .graph import edge_table

    t = Tables(spark, sf_dir)
    edges = edge_table(spark, t, sf_dir)
    ends = edges.select(F.col("u").alias("node"), F.col("v").alias("other")).unionAll(
        edges.select(F.col("v").alias("node"), F.col("u").alias("other"))
    )
    brand = t.part.select(F.col("p_partkey").alias("node"), F.col("p_brand").alias("bx"))
    brand2 = t.part.select(
        F.col("p_partkey").alias("other"), F.col("p_brand").alias("by_")
    )
    mix = (
        ends.join(brand, "node")
        .join(brand2, "other")
        .groupBy("bx", "by_")
        .agg(dec38(F.count(F.lit(1))).alias("e_xy"))
    )
    sums = mix.agg(
        F.sum("e_xy").alias("m"),
        F.sum(F.when(F.col("bx") == F.col("by_"), F.col("e_xy")).otherwise(
            F.lit(0).cast("decimal(38,0)")
        )).alias("tr"),
    )
    rows_ = mix.groupBy("bx").agg(F.sum("e_xy").alias("a_x"))
    sq = rows_.agg(
        F.sum(F.col("a_x") * F.col("a_x")).alias("sa2"),
        F.count(F.lit(1)).cast("long").alias("n_brands"),
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    den = F.col("m") * F.col("m") - F.col("sa2")
    return sq.crossJoin(F.broadcast(sums)).select(
        "n_brands",
        F.col("m").cast("long").alias("n_edge_ends"),
        F.col("tr").cast("long").alias("n_same_brand_ends"),
        F.when(
            den > 0,
            halfup_div(m6 * (F.col("m") * F.col("tr") - F.col("sa2")), den).cast(
                "long"
            ),
        ).alias("assortativity_micro"),
    )


# ---------------------------------------------------------------------------
# 3. Average-neighbor-degree curve knn(k)
# ---------------------------------------------------------------------------


def _knn_curve_oracle() -> str:
    from .graph import _SQL_EDGES

    hd = sql_halfup_div
    return _SQL_EDGES + f"""
    , ends AS (
      SELECT u AS node, v AS other FROM edges
      UNION ALL SELECT v, u FROM edges
    ), deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS degree FROM ends GROUP BY node
    ), nsum AS (
      SELECT e.node, CAST(sum(d2.degree) AS HUGEINT) AS snd
      FROM ends e JOIN deg d2 ON d2.node = e.other
      GROUP BY e.node
    ), curve AS (
      SELECT d.degree, CAST(count(*) AS BIGINT) AS n_nodes,
             CAST(sum(ns.snd) AS HUGEINT) AS ssnd
      FROM deg d JOIN nsum ns ON ns.node = d.node
      GROUP BY d.degree
    )
    SELECT degree, n_nodes,
           CAST({hd('1000000::HUGEINT * ssnd', 'degree * n_nodes')} AS BIGINT)
             AS avg_neighbor_degree_micro
    FROM curve ORDER BY degree
    """


@register("graph_avg_neighbor_degree_curve", oracle=_knn_curve_oracle())
def graph_avg_neighbor_degree_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average-neighbor-degree curve knn(k) (Pastor-Satorras, Vazquez
    & Vespignani 2001): for each degree class k, the mean degree of
    the neighbors of degree-k nodes. THE full-curve read of degree
    correlation — ``graph_degree_assortativity`` compresses this to
    one scalar; the curve's SHAPE (rising = assortative core-periphery,
    falling = disassortative hub-and-spoke) decides whether hub
    partitioning or peripheral blocking wins for this graph, and
    ``graph_clustering_by_degree_curve`` reads it beside the closure
    hierarchy.

    Exactness: within a degree class every node divides its neighbor
    degree sum by the SAME k, so knn(k) = sum(snd)/(k * n_nodes_k) is
    ONE half-up micro division of exact integers per class — no
    per-node rational ever materializes.

    Scale shape: edges from the session-shared ``graph.edge_table``;
    degree and neighbor-sum are two hash aggregations over the
    2|E|-row end list; the curve is distinct-degree-bounded (~sqrt
    scaling under heavy tails).
    """
    from .graph import edge_table

    t = Tables(spark, sf_dir)
    edges = edge_table(spark, t, sf_dir)
    ends = edges.select(F.col("u").alias("node"), F.col("v").alias("other")).unionAll(
        edges.select(F.col("v").alias("node"), F.col("u").alias("other"))
    )
    deg = ends.groupBy("node").agg(F.count(F.lit(1)).cast("long").alias("degree"))
    d2 = deg.select(F.col("node").alias("other"), F.col("degree").alias("odeg"))
    nsum = (
        ends.join(d2, "other")
        .groupBy("node")
        .agg(dec38(F.sum("odeg")).alias("snd"))
    )
    curve = (
        deg.join(nsum, "node")
        .groupBy("degree")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.sum("snd").alias("ssnd"),
        )
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    return curve.select(
        "degree",
        "n_nodes",
        halfup_div(
            m6 * F.col("ssnd"), dec38(F.col("degree")) * F.col("n_nodes")
        )
        .cast("long")
        .alias("avg_neighbor_degree_micro"),
    ).orderBy("degree")


# ---------------------------------------------------------------------------
# 4. V-measure (homogeneity / completeness) between lang and source
# ---------------------------------------------------------------------------


def _vmeasure_oracle() -> str:
    from ..functions.detmath import sql_det_ln_steps

    hd = sql_halfup_div
    return f"""
    WITH ck AS (
      SELECT lang AS c, source AS k, CAST(count(*) AS BIGINT) AS n_ck
      FROM documents GROUP BY lang, source
    ), cc AS (
      SELECT c, CAST(sum(n_ck) AS BIGINT) AS n_c FROM ck GROUP BY c
    ), kk AS (
      SELECT k, CAST(sum(n_ck) AS BIGINT) AS n_k FROM ck GROUP BY k
    ), nn AS (SELECT CAST(sum(n_ck) AS BIGINT) AS n FROM ck),
    crat AS (
      SELECT c, n_c, CAST(nn.n AS DOUBLE) / CAST(n_c AS DOUBLE) AS rc FROM cc, nn
    ), {sql_det_ln_steps('crat', 'rc', 'lnc')},
    wc AS (
      SELECT CAST(sum(n_c::HUGEINT * lnc) AS HUGEINT) AS w_c FROM lnc_rel
    ), krat AS (
      SELECT k, n_k, CAST(nn.n AS DOUBLE) / CAST(n_k AS DOUBLE) AS rk FROM kk, nn
    ), {sql_det_ln_steps('krat', 'rk', 'lnk')},
    wk AS (
      SELECT CAST(sum(n_k::HUGEINT * lnk) AS HUGEINT) AS w_k FROM lnk_rel
    ), ckrat AS (
      SELECT ck.c, ck.k, ck.n_ck,
             CAST(kk.n_k AS DOUBLE) / CAST(ck.n_ck AS DOUBLE) AS rck,
             CAST(cc.n_c AS DOUBLE) / CAST(ck.n_ck AS DOUBLE) AS rkc
      FROM ck JOIN kk ON kk.k = ck.k JOIN cc ON cc.c = ck.c
    ), {sql_det_ln_steps('ckrat', 'rck', 'lnck')},
    {sql_det_ln_steps('lnck_rel', 'rkc', 'lnkc')},
    wx AS (
      SELECT CAST(sum(n_ck::HUGEINT * lnck) AS HUGEINT) AS w_ck,
             CAST(sum(n_ck::HUGEINT * lnkc) AS HUGEINT) AS w_kc
      FROM lnkc_rel
    ), hc AS (
      SELECT CASE WHEN wc.w_c > 0 THEN
               {hd('1000000::HUGEINT * (wc.w_c - wx.w_ck)', 'wc.w_c')} END AS h,
             CASE WHEN wk.w_k > 0 THEN
               {hd('1000000::HUGEINT * (wk.w_k - wx.w_kc)', 'wk.w_k')} END AS cm
      FROM wc, wk, wx
    )
    SELECT (SELECT CAST(n AS BIGINT) FROM nn) AS n_docs,
           (SELECT CAST(count(*) AS BIGINT) FROM cc) AS n_langs,
           (SELECT CAST(count(*) AS BIGINT) FROM kk) AS n_sources,
           CAST(h AS BIGINT) AS homogeneity_micro,
           CAST(cm AS BIGINT) AS completeness_micro,
           CASE WHEN h + cm > 0 THEN
             CAST({hd('2::HUGEINT * h * cm', 'h + cm')} AS BIGINT)
           END AS v_measure_micro
    FROM hc
    """


@register("text_vmeasure_lang_source", oracle=_vmeasure_oracle())
def text_vmeasure_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V-measure (Rosenberg & Hirschberg 2007) between the language
    and source labelings of the corpus: homogeneity h = 1 -
    H(lang|source)/H(lang), completeness c = 1 - H(source|lang)/
    H(source), V = their harmonic mean — the conditional-entropy
    companion VERDICT r11 suggested beside ``corpus_mi_lang_length``
    (MI says HOW MUCH the labelings share; h/c say in WHICH DIRECTION
    the dependency runs — do sources specialize in languages, do
    languages concentrate in sources — which is the first question a
    mixture-rebalancing pass asks).

    Exactness: all entropy masses accumulate as exact integer products
    n * det_ln(ratio) in micro-nats (the shared deterministic
    fixed-point ln, functions/detmath.py — N*H(C) = sum n_c ln(N/n_c),
    N*H(C|K) = sum n_ck ln(n_k/n_ck)); h and c are single half-up
    micro ratios of those masses (the common 1/N cancels), V is one
    more half-up ratio of h and c. NULL-guarded degenerate entropies.

    Scale shape: one documents scan partial-aggregating to the
    (lang x source) grid (domain-bounded); everything downstream is
    grid-bounded algebra.
    """
    from ..functions.detmath import det_ln_q

    t = Tables(spark, sf_dir)
    ck = t.documents.groupBy(
        F.col("lang").alias("c"), F.col("source").alias("k")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_ck"))
    cc = ck.groupBy("c").agg(F.sum("n_ck").cast("long").alias("n_c"))
    kk = ck.groupBy("k").agg(F.sum("n_ck").cast("long").alias("n_k"))
    nn = ck.agg(F.sum("n_ck").cast("long").alias("n"))
    wc = (
        cc.crossJoin(F.broadcast(nn))
        .select(
            (
                dec38(F.col("n_c"))
                * det_ln_q(F.col("n").cast("double") / F.col("n_c").cast("double"))
            ).alias("t")
        )
        .agg(F.sum("t").alias("w_c"))
    )
    wk = (
        kk.crossJoin(F.broadcast(nn))
        .select(
            (
                dec38(F.col("n_k"))
                * det_ln_q(F.col("n").cast("double") / F.col("n_k").cast("double"))
            ).alias("t")
        )
        .agg(F.sum("t").alias("w_k"))
    )
    wx = (
        ck.join(F.broadcast(kk), "k")
        .join(F.broadcast(cc), "c")
        .select(
            (
                dec38(F.col("n_ck"))
                * det_ln_q(F.col("n_k").cast("double") / F.col("n_ck").cast("double"))
            ).alias("tck"),
            (
                dec38(F.col("n_ck"))
                * det_ln_q(F.col("n_c").cast("double") / F.col("n_ck").cast("double"))
            ).alias("tkc"),
        )
        .agg(F.sum("tck").alias("w_ck"), F.sum("tkc").alias("w_kc"))
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    h = F.when(
        F.col("w_c") > 0,
        halfup_div(m6 * (F.col("w_c") - F.col("w_ck")), F.col("w_c")),
    )
    cm = F.when(
        F.col("w_k") > 0,
        halfup_div(m6 * (F.col("w_k") - F.col("w_kc")), F.col("w_k")),
    )
    counts = (
        nn.crossJoin(F.broadcast(cc.agg(F.count(F.lit(1)).cast("long").alias("n_langs"))))
        .crossJoin(F.broadcast(kk.agg(F.count(F.lit(1)).cast("long").alias("n_sources"))))
    )
    hc = (
        wc.crossJoin(F.broadcast(wk))
        .crossJoin(F.broadcast(wx))
        .select(h.alias("h"), cm.alias("cm"))
    )
    return counts.crossJoin(F.broadcast(hc)).select(
        F.col("n").alias("n_docs"),
        "n_langs",
        "n_sources",
        F.col("h").cast("long").alias("homogeneity_micro"),
        F.col("cm").cast("long").alias("completeness_micro"),
        F.when(
            F.col("h") + F.col("cm") > 0,
            halfup_div(
                F.lit(2).cast("decimal(38,0)") * F.col("h") * F.col("cm"),
                F.col("h") + F.col("cm"),
            ).cast("long"),
        ).alias("v_measure_micro"),
    )


# ---------------------------------------------------------------------------
# 5. Mean segmental type-token ratio (MSTTR)
# ---------------------------------------------------------------------------

MSTTR_SEG = 50  # tokens per segment (the Johnson 1944 convention)


def _msttr_oracle() -> str:
    hd = sql_halfup_div
    return f"""
    WITH toks AS (
      SELECT doc_id, lang,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')
               AS tk
      FROM documents
    ), pos AS (
      SELECT doc_id, lang,
             generate_subscripts(tk, 1) AS p, unnest(tk) AS tok,
             len(tk) AS n_tok
      FROM toks
    ), segtok AS (
      SELECT DISTINCT doc_id, lang, ((p - 1) // {MSTTR_SEG}) AS seg, tok
      FROM pos
      WHERE ((p - 1) // {MSTTR_SEG}) < (n_tok // {MSTTR_SEG})
    ), segtypes AS (
      SELECT doc_id, lang, seg, CAST(count(*) AS BIGINT) AS n_types
      FROM segtok GROUP BY doc_id, lang, seg
    ), bylang AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_segments,
             CAST(sum(n_types) AS HUGEINT) AS sum_types
      FROM segtypes GROUP BY lang
    )
    SELECT lang, n_segments,
           CAST({hd('1000000::HUGEINT * sum_types',
                    f'{MSTTR_SEG}::HUGEINT * n_segments')} AS BIGINT)
             AS msttr_micro
    FROM bylang ORDER BY lang
    """


@register("text_msttr_segmental", oracle=_msttr_oracle())
def text_msttr_segmental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean segmental type-token ratio (Johnson 1944): chop every
    document's token stream into complete {MSTTR_SEG}-token segments,
    take each segment's type/token ratio, and average per language.
    The LENGTH-ROBUST lexical-diversity member: raw TTR
    (``text_ttr_hapax_by_lang``) falls mechanically with document
    length and ``text_yule_k_richness`` prices repeat structure —
    MSTTR is the one that compares corpora with different length mixes
    on equal footing, which is what a data-mixing review needs.

    Exactness: segment ids are integer position arithmetic (complete
    segments only — the trailing fragment is dropped on both engines
    by the same floor test); per-segment type counts are exact
    DISTINCT counts; since every segment has exactly {MSTTR_SEG}
    tokens, the per-language mean is ONE half-up micro division
    sum_types / ({MSTTR_SEG} * n_segments).

    Scale shape: one documents scan; the explode keys by (doc,
    segment, token) and partial-aggregates before the per-language
    rollup — embarrassingly parallel, no joins, no windows.
    """
    from ..functions.textnorm import whitespace_tokens

    t = Tables(spark, sf_dir)
    toks = t.documents.select(
        "doc_id", "lang", whitespace_tokens(F.col("text")).alias("tk")
    ).select("doc_id", "lang", "tk", F.size("tk").alias("n_tok"))
    pos = toks.select(
        "doc_id",
        "lang",
        F.floor(F.col("n_tok") / MSTTR_SEG).alias("n_full"),
        F.posexplode("tk").alias("p0", "tok"),
    )
    segtok = (
        pos.select(
            "doc_id",
            "lang",
            F.floor(F.col("p0") / MSTTR_SEG).alias("seg"),
            "tok",
            "n_full",
        )
        .filter(F.col("seg") < F.col("n_full"))
        .select("doc_id", "lang", "seg", "tok")
        .distinct()
    )
    segtypes = segtok.groupBy("doc_id", "lang", "seg").agg(
        F.count(F.lit(1)).cast("long").alias("n_types")
    )
    bylang = segtypes.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_segments"),
        F.sum("n_types").alias("sum_types"),
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    return bylang.select(
        "lang",
        "n_segments",
        halfup_div(
            m6 * dec38(F.col("sum_types")),
            F.lit(MSTTR_SEG).cast("decimal(38,0)") * F.col("n_segments"),
        )
        .cast("long")
        .alias("msttr_micro"),
    ).orderBy("lang")
