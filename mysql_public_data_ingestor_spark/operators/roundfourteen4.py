"""Round-14 direct registrations, batch Y (the VERDICT r13 item-4
follow-throughs plus two closure-family completions).

Six window-slot completions beside the activated round-14 bank, each
oracle-paired, replica-pinned and plan-barred in
``tests/test_roundfourteen4.py`` (same-commit gate rule). Every name
was checked against the full 575-name registry inventory before
design (the SCALE §5j.7 authoring rule):

* ``graph_pagerank_weighted`` — strength-weighted PageRank over the
  weighted co-purchase graph (VERDICT r13 suggestion: "a weighted
  PageRank beside the Katz/EC trio, reuse the gated hop-broadcast
  plan"), 6 unrolled integer-micro iterations.
* ``graph_square_count_c4`` — exact 4-cycle census off the
  common-neighbor (diagonal-pair) table.
* ``graph_local_bridges_audit`` — edges with zero triangle support
  (local bridges) vs embedded edges, with endpoint-degree profiles.
* ``ml_pav_reliability_diagram`` — the per-block reliability-diagram
  export of the PAV fit (VERDICT r13 suggestion, beside
  ``ml_brier_pav_decomposition``).
* ``corpus_chao_shen_entropy`` — coverage-adjusted Shannon entropy
  (Chao & Shen 2003) with plug-in and Miller-Madow companions, built
  on the new deterministic integer power ``detmath.det_pow_int``
  (VERDICT r13 suggestion, beside ``corpus_good_turing_coverage``).
* ``dedup_mantel_jaccard_cosine`` — Mantel-type correlation between
  exact shingle-Jaccard distance and embedding-cosine distance over
  the shared blocked pair set (VERDICT r13 suggestion, beside
  ``dedup_minhash_estimator_audit``).

Reference parity note: the reference (Go ingestion pipeline,
``/root/reference/main.go``) has no analytics; these extend SURVEY
§2.C graph analytics / ML / corpus management / dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import dec38, halfup_div, sql_halfup_div
from ..registry import register
from ..tables import Tables

# ---------------------------------------------------------------------------
# 1. Strength-weighted PageRank, 6 unrolled integer-micro iterations
# ---------------------------------------------------------------------------

PRW_ITERS = 6
PRW_SCALE = 1_000_000
PRW_DAMP_NUM, PRW_DAMP_DEN = 85, 100
PRW_TOPK = 10


def _prw_oracle() -> str:
    from .roundtwelve8 import _SQL_WEDGES

    parts = [
        "WITH "
        + _SQL_WEDGES.strip()
        + """
    , both_w AS (
      SELECT u, v, w FROM wedges UNION ALL SELECT v AS u, u AS v, w FROM wedges
    ), strength AS (
      SELECT u, CAST(sum(w) AS BIGINT) AS s FROM both_w GROUP BY u
    ), ew AS MATERIALIZED (
      SELECT b.u, b.v, b.w, s.s FROM both_w b JOIN strength s USING (u)
    ), nn AS (
      SELECT count(*) AS n_nodes FROM strength
    ), r0 AS MATERIALIZED (
      SELECT u AS node, CAST(({scale} // n_nodes) AS BIGINT) AS rank_u
      FROM strength, nn
    )""".format(scale=PRW_SCALE),
    ]
    prev = "r0"
    for i in range(1, PRW_ITERS + 1):
        parts.append(
            """
    , c{i} AS MATERIALIZED (
      SELECT e.v AS node,
             CAST(sum(CAST(trunc(CAST(r.rank_u * e.w AS DOUBLE)
                                 / CAST(e.s AS DOUBLE)) AS BIGINT)) AS BIGINT)
               AS in_sum
      FROM ew e JOIN {prev} r ON r.node = e.u
      GROUP BY e.v
    ), r{i} AS MATERIALIZED (
      SELECT r.node,
             CAST(((({dden} - {dnum}) * {scale}) // ({dden} * nn.n_nodes))
                  + CAST(trunc(CAST(coalesce(c.in_sum, 0) * {dnum} AS DOUBLE)
                               / {dden}.0) AS BIGINT) AS BIGINT) AS rank_u
      FROM {prev} r LEFT JOIN c{i} c ON c.node = r.node, nn
    )""".format(i=i, prev=prev, scale=PRW_SCALE, dnum=PRW_DAMP_NUM, dden=PRW_DAMP_DEN)
        )
        prev = f"r{i}"
    parts.append(
        f"""
    SELECT node, rank_u AS rank_micro
    FROM {prev} ORDER BY rank_u DESC, node LIMIT {PRW_TOPK}
    """
    )
    return "".join(parts)


@register("graph_pagerank_weighted", oracle=_prw_oracle())
def graph_pagerank_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strength-weighted PageRank over the weighted co-purchase graph
    — 6 fixed power iterations where a node distributes its rank to
    neighbors PROPORTIONALLY TO EDGE WEIGHT (co-order multiplicity)
    rather than uniformly: share(u->v) = rank_u * w_uv / strength_u
    (Newman 2004 weighted-network extension of Brin & Page 1998).
    Unweighted PageRank treats a part co-ordered once exactly like a
    part co-ordered fifty times; the weighted walk follows actual
    purchase intensity, so the top-10 differs precisely where weight
    concentration and degree disagree.

    Derivation sharing: weighted edges via ``roundtwelve8._wedges``
    (third consumer, unchanged derivation — no evidence invalidation);
    the hop plan is ``graph_eigenvector_centrality_power``'s
    gated-broadcast shape (VERDICT r13 item 4: reuse the hop-broadcast
    plan of roundthirteen5.py).

    Exactness: ranks are int64 micro-units; the per-edge share is ONE
    double division of exact int64s (rank_u * w < 2^53, so conversion
    is exact and the IEEE division + trunc is the identical operation
    in both engines — the ``graph_pagerank_copurchase`` determinism
    argument), the damped update is trunc(in_sum * 85 / 100.0). The
    six iterations unroll as MATERIALIZED CTEs, so even this iterative
    operator is hash-verified value-for-value.

    Scale shape per hop: ONE groupBy(dst) over the strength-annotated
    edge list (localCheckpointed once, never re-shuffled — the
    node-sized rank table gated-broadcasts into the hop); top-k via
    TakeOrderedAndProject. 10 rows out.
    """
    from ..functions.partitioning import gated_broadcast
    from .roundtwelve8 import _wedges

    t = Tables(spark, sf_dir)
    wedges = _wedges(t)
    both = wedges.unionByName(
        wedges.select(F.col("v").alias("u"), F.col("u").alias("v"), "w")
    )
    strength = both.groupBy("u").agg(F.sum("w").cast("long").alias("s"))
    ew = both.join(strength, "u").localCheckpoint(eager=True)

    nodes = strength.select(F.col("u").alias("node"))
    n_nodes = nodes.count()
    base = (PRW_DAMP_DEN - PRW_DAMP_NUM) * PRW_SCALE // (PRW_DAMP_DEN * n_nodes)

    ranks = nodes.select(
        "node", F.lit(PRW_SCALE // n_nodes).cast("long").alias("rank_u")
    ).localCheckpoint(eager=True)

    for _ in range(PRW_ITERS):
        contrib = (
            ew.join(
                gated_broadcast(
                    ranks.select(F.col("node").alias("u"), "rank_u")
                ),
                "u",
            )
            .select(
                "v",
                (F.col("rank_u") * F.col("w") / F.col("s")).cast("long").alias("share"),
            )
            .groupBy(F.col("v").alias("node"))
            .agg(F.sum("share").alias("in_sum"))
        )
        ranks = (
            ranks.join(contrib, "node", "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + (
                        F.coalesce(F.col("in_sum"), F.lit(0))
                        * PRW_DAMP_NUM
                        / PRW_DAMP_DEN
                    ).cast("long")
                ).alias("rank_u"),
            )
            .localCheckpoint(eager=True)
        )

    return (
        ranks.select("node", F.col("rank_u").alias("rank_micro"))
        .orderBy(F.col("rank_micro").desc(), "node")
        .limit(PRW_TOPK)
    )


# ---------------------------------------------------------------------------
# 2. Exact 4-cycle (C4) census via diagonal common-neighbor pairs
# ---------------------------------------------------------------------------


def _c4_oracle() -> str:
    from .graph import _SQL_EDGES

    return (
        _SQL_EDGES
        + """
    , both_e AS (
      SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges
    ), cn AS (
      SELECT a.v AS x, b.v AS y, CAST(count(*) AS BIGINT) AS c
      FROM both_e a JOIN both_e b ON a.u = b.u AND a.v < b.v
      GROUP BY a.v, b.v
    ), agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_diag_pairs,
             CAST(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pairs_cn2,
             CAST(sum(c * (c - 1) / 2) AS HUGEINT) AS sum_c2,
             CAST(max(c) AS BIGINT) AS max_cn
      FROM cn
    )
    SELECT n_diag_pairs, n_pairs_cn2,
           CAST(sum_c2 // 2 AS BIGINT) AS n_c4, max_cn
    FROM agg
    """
    )


@register("graph_square_count_c4", oracle=_c4_oracle())
def graph_square_count_c4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 4-cycle (square) census of the co-purchase graph. The
    triangle census (``graph_triangle_count``) prices 3-cliques; C4 is
    the canonical BIPARTITE-like motif — two parts co-ordered with the
    same two other parts without being co-ordered themselves — and the
    square/triangle balance separates clustered from bipartite-ish
    regions of the graph. Identity: every C4 has exactly two diagonals
    {u,v}, and choosing 2 of the cn(u,v) common neighbors of a
    diagonal pair closes a square, so n_C4 = (1/2) * sum over pairs of
    C(cn, 2) — exact, no sampling (Wang et al. 2014 rectangle
    counting).

    Exactness: pure integer counting end to end — the diagonal-pair
    table comes off one equi-self-join of the directed edge list on
    the shared apex, C(c,2) = c(c-1)/2 is exact (c*(c-1) always even),
    and the final halving is an exact integer division because the sum
    double-counts every square by construction.

    Scale shape: the wedge generation is the standard sum-of-deg^2
    equi-join every triangle count pays (hash-partitioned on the apex,
    never all-pairs); the census aggregate is a constant-size final
    row. 1 row out.
    """
    from .graph import edge_table

    t = Tables(spark, sf_dir)
    edges = edge_table(spark, t, sf_dir)
    both = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    # Round-14 optimization (guide §2.3/§4.2); the measured ladder at
    # sf0.1 over the 148M-wedge / 101M-distinct-pair stream:
    #   56 s  two-column diagonal-pair key (round-14 build, rejected)
    #   36 s  pair packed into ONE int64 key (round-14 build shape)
    #   ~32 s of that was the 101M-distinct-key JVM hash aggregate
    #         (partial agg only removes the 1.46x duplicate factor and
    #         churns a multi-million-entry hash map per task)
    #   12 s  this shape: (1) wedges generated map-side from sorted
    #         adjacency arrays (one groupBy(u) instead of the apex
    #         self-join — each unordered pair emitted ONCE, halving
    #         the generated stream and removing one exchange), then
    #         (2) hash-repartition by the packed pair key and count
    #         per partition in ONE vectorized pass
    #         (pyarrow.compute.value_counts inside mapInArrow), then
    #         (3) collapse each partition's counts to a count-of-counts
    #         histogram (at most max_cn rows per partition), so the
    #         JVM-side final aggregate sees a few hundred rows.
    # Exactness is unchanged: hash partitioning sends every distinct
    # pair wholly to one partition, value_counts is exact int64
    # counting, and the final sums run in decimal(38,0) over exact
    # per-histogram-cell products. A degree-ordered out-out pruning
    # pass was measured and rejected in the build round (only 3.6x
    # wedge-volume reduction on this near-uniform graph, below its
    # extra semi-join cost). At 100 TB this runs as a periodic derived
    # table beside the triangle warehouse, not an interactive query.
    adj = both.groupBy("u").agg(F.sort_array(F.collect_list("v")).alias("ns"))
    pairs = F.flatten(
        F.transform(
            F.col("ns"),
            lambda x, i: F.transform(
                F.slice(F.col("ns"), i + 2, F.size(F.col("ns"))),
                lambda y: F.shiftleft(x, 32) + y,
            ),
        )
    )
    wedge_p = adj.select(F.explode(pairs).alias("p"))
    hist = wedge_p.repartition("p").mapInArrow(_cn_count_hist, "c long, m long")
    two = F.lit(2).cast("decimal(38,0)")
    agg = hist.agg(
        # coalesce matches the oracle's count(*) = 0 on an empty edge
        # set (ADVICE r14: a bare sum over the empty histogram is NULL;
        # the oracle's other aggregates are sums/max and stay NULL)
        F.coalesce(F.sum("m"), F.lit(0)).cast("long").alias("n_diag_pairs"),
        F.sum(F.when(F.col("c") >= 2, F.col("m")).otherwise(0))
        .cast("long")
        .alias("n_pairs_cn2"),
        F.sum(dec38(F.col("m")) * dec38(F.col("c") * (F.col("c") - 1) / 2)).alias(
            "sum_c2"
        ),
        F.max("c").alias("max_cn"),
    )
    return agg.select(
        "n_diag_pairs",
        "n_pairs_cn2",
        ((F.col("sum_c2") - F.col("sum_c2") % two) / two)
        .cast("long")
        .alias("n_c4"),
        "max_cn",
    )


def _cn_count_hist(batches):
    """Per-partition common-neighbor count histogram: value-count the
    packed diagonal-pair keys of this partition (every distinct pair
    is wholly here — upstream hash repartition on the key), then
    value-count the counts. Emits (c, m): m pairs in this partition
    have exactly c common neighbors — at most max_cn rows, so the
    downstream JVM aggregate is trivially small. Exact int64 counting
    end to end (pyarrow.compute.value_counts); one vectorized pass
    instead of a 101M-distinct-key JVM hash aggregate (guide §4.2)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    chunks = [batch.column(0) for batch in batches]
    if not chunks:
        return
    vc = pc.value_counts(pa.chunked_array(chunks))
    hist = pc.value_counts(vc.field("counts"))
    yield pa.record_batch(
        [hist.field("values"), hist.field("counts")], names=["c", "m"]
    )


# ---------------------------------------------------------------------------
# 3. Local-bridges audit: zero-support edges vs embedded edges
# ---------------------------------------------------------------------------


def _bridges_oracle() -> str:
    from .graph import _SQL_TRI_CTES

    hd = sql_halfup_div
    return (
        _SQL_TRI_CTES
        + f"""
    , tri_edges AS (
      SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v FROM tris
      UNION SELECT DISTINCT least(a, c), greatest(a, c) FROM tris
      UNION SELECT DISTINCT b, c FROM tris
    ), flagged AS (
      SELECT e.u, e.v,
             CASE WHEN te.u IS NULL THEN 1 ELSE 0 END AS is_bridge,
             du.degree AS deg_u, dv.degree AS deg_v
      FROM edges e
      LEFT JOIN tri_edges te ON te.u = e.u AND te.v = e.v
      JOIN deg du ON du.node = e.u
      JOIN deg dv ON dv.node = e.v
    )
    SELECT is_bridge,
           CAST(count(*) AS BIGINT) AS n_edges,
           CAST({hd('1000000::HUGEINT * sum(least(deg_u, deg_v))', 'count(*)')}
                AS BIGINT) AS mean_min_deg_micro,
           CAST({hd('1000000::HUGEINT * sum(greatest(deg_u, deg_v))', 'count(*)')}
                AS BIGINT) AS mean_max_deg_micro
    FROM flagged GROUP BY is_bridge ORDER BY is_bridge
    """
    )


@register("graph_local_bridges_audit", oracle=_bridges_oracle())
def graph_local_bridges_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-bridge audit: an edge whose endpoints share NO common
    neighbor (zero triangle support) is a local bridge — removing it
    raises its endpoints' distance above 2, so these are the weak-tie
    shortcuts of Granovetter's strength-of-weak-ties argument, and in
    a co-purchase graph they mark cross-category purchases that no
    third product mediates. Reported: edge counts and endpoint-degree
    profiles (mean min / mean max endpoint degree) for bridges vs
    embedded edges — bridges systematically attach to lower-degree
    endpoints if the periphery is where categories meet.

    Derivation sharing: the session triangle warehouse
    (``graph.triangle_table``) supplies the embedded-edge set; the
    edge and degree tables are the session-shared ``edge_table`` /
    ``_degrees`` (unchanged derivations — no evidence invalidation).

    Exactness: pure integer counting; the two mean-degree profiles are
    single half-up micro divisions of exact integer sums.

    Scale shape: one distinct-corner unpivot of the triangle list, one
    edge-keyed left anti-ish join (LEFT JOIN + null flag so both
    classes aggregate in one pass), two node-sized degree joins; the
    final aggregate is 2-key bounded. 2 rows out.
    """
    from .graph import _degrees, edge_table, triangle_table

    t = Tables(spark, sf_dir)
    edges = edge_table(spark, t, sf_dir)
    tris = triangle_table(spark, t, sf_dir)
    tri_edges = (
        tris.select(F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v"))
        .unionAll(
            tris.select(F.least("a", "c").alias("u"), F.greatest("a", "c").alias("v"))
        )
        .unionAll(tris.select(F.col("b").alias("u"), F.col("c").alias("v")))
        .distinct()
        .withColumn("in_tri", F.lit(1))
    )
    deg = _degrees(edges)
    flagged = (
        edges.join(tri_edges, ["u", "v"], "left")
        .join(deg.select(F.col("node").alias("u"), F.col("degree").alias("deg_u")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("degree").alias("deg_v")), "v")
        .select(
            F.when(F.col("in_tri").isNull(), 1).otherwise(0).alias("is_bridge"),
            F.least("deg_u", "deg_v").alias("mn"),
            F.greatest("deg_u", "deg_v").alias("mx"),
        )
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    return (
        flagged.groupBy("is_bridge")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_edges"),
            halfup_div(m6 * F.sum(dec38(F.col("mn"))), dec38(F.count(F.lit(1))))
            .cast("long")
            .alias("mean_min_deg_micro"),
            halfup_div(m6 * F.sum(dec38(F.col("mx"))), dec38(F.count(F.lit(1))))
            .cast("long")
            .alias("mean_max_deg_micro"),
        )
        .orderBy("is_bridge")
    )


# ---------------------------------------------------------------------------
# 4. PAV reliability-diagram export
# ---------------------------------------------------------------------------


def _pav_diagram_oracle() -> str:
    from .ml import _scored_labeled_sql
    from .roundten3 import ISO_BINS, _sql_iso_fit_ctes

    width = 10000 // ISO_BINS
    hd = sql_halfup_div
    return (
        _scored_labeled_sql()
        + ", "
        + _sql_iso_fit_ctes()
        + f"""
    , binsum AS (
      SELECT CAST(least(score_q // {width}, {ISO_BINS - 1}) AS BIGINT) AS bin,
             CAST(sum(score_q) AS HUGEINT) AS ssum
      FROM scored GROUP BY 1
    ), blocks AS (
      SELECT f.v,
             CAST(sum(f.n) AS HUGEINT) AS n_b,
             CAST(sum(f.pos) AS HUGEINT) AS pos_b,
             CAST(sum(s.ssum) AS HUGEINT) AS ssum_b
      FROM fit f JOIN binsum s ON s.bin = f.bin
      GROUP BY f.v
    )
    SELECT CAST({hd('1000000::HUGEINT * pos_b', 'n_b')} AS BIGINT)
             AS fitted_micro,
           CAST(n_b AS BIGINT) AS n_b,
           CAST(pos_b AS BIGINT) AS pos_b,
           CAST({hd('100::HUGEINT * ssum_b', 'n_b')} AS BIGINT)
             AS mean_score_micro,
           CAST({hd('100::HUGEINT * ssum_b', 'n_b')}
                - {hd('1000000::HUGEINT * pos_b', 'n_b')} AS BIGINT)
             AS gap_micro
    FROM blocks ORDER BY fitted_micro
    """
    )


@register("ml_pav_reliability_diagram", oracle=_pav_diagram_oracle())
def ml_pav_reliability_diagram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram over the PAV (isotonic) calibration blocks
    — the per-block export behind ``ml_brier_pav_decomposition``'s
    scalars (VERDICT r13 item 4: "a PAV reliability-diagram export
    beside ml_brier_pav_decomposition"). Each row is one maximal
    isotonic block: its fitted probability (the block positive rate —
    what PAV would recalibrate TO), size, positive count, mean raw
    score (what the classifier said), and the signed gap. Decile
    reliability diagrams (``ml_calibration_curve``) impose arbitrary
    bins; the PAV blocks are the CANONICAL bins — the coarsest
    partition on which the empirical rates are monotone — so the gap
    column IS the reliability component, block by block (Dimitriadis,
    Gneiting & Jordan 2021 CORP reliability diagrams).

    Derivation sharing: ``ml._scored_labeled`` scan and the
    ``roundten3._iso_fit`` prefix-sum minimax PAV over the shared
    20-bin grid (existing shared helpers, unchanged — no evidence
    invalidation; this is the fourth consumer of the fit).

    Exactness: block counts are exact integers off the bounded bin
    grid; fitted rate, mean score and gap are single half-up micro
    divisions (the gap is the exact integer difference of the two
    published quotients, so diagram and decomposition are consistent
    by construction).

    Scale shape: everything after the partial-aggregated document scan
    runs on the <= 20-bin POST-AGGREGATION grid; the 20-row grid is
    eagerly localCheckpointed so the fit's minimax chain pins the
    sha2 scoring scan to ONE execution (the Brier-PAV discipline).
    <= 20 rows out.
    """
    from .ml import _scored_labeled
    from .roundten3 import ISO_BINS, _iso_fit

    t = Tables(spark, sf_dir)
    width = 10000 // ISO_BINS
    scored = _scored_labeled(t)
    stats = scored.groupBy(
        F.least(F.floor(F.col("score_q") / F.lit(width)), F.lit(ISO_BINS - 1))
        .cast("long")
        .alias("bin")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("label").alias("pos"),
        F.sum(dec38(F.col("score_q"))).alias("ssum"),
    )
    stats = stats.localCheckpoint(eager=True)
    fit = _iso_fit(stats.select("bin", "n", "pos"))
    blocks = (
        fit.join(stats.select("bin", "ssum"), "bin")
        .groupBy("v")
        .agg(
            F.sum(dec38(F.col("n"))).alias("n_b"),
            F.sum(dec38(F.col("pos"))).alias("pos_b"),
            F.sum(F.col("ssum")).alias("ssum_b"),
        )
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    c100 = F.lit(100).cast("decimal(38,0)")
    fitted = halfup_div(m6 * F.col("pos_b"), F.col("n_b"))
    mean_s = halfup_div(c100 * F.col("ssum_b"), F.col("n_b"))
    return (
        blocks.select(
            fitted.cast("long").alias("fitted_micro"),
            F.col("n_b").cast("long").alias("n_b"),
            F.col("pos_b").cast("long").alias("pos_b"),
            mean_s.cast("long").alias("mean_score_micro"),
            (mean_s - fitted).cast("long").alias("gap_micro"),
        )
        .orderBy("fitted_micro")
    )

# ---------------------------------------------------------------------------
# 5. Chao-Shen coverage-adjusted entropy (+ plug-in, Miller-Madow)
# ---------------------------------------------------------------------------


def _chao_shen_oracle() -> str:
    from ..functions.detmath import sql_det_ln_steps, sql_det_pow_steps
    from .roundthirteen6 import _SQL_FREQ_SPECTRUM

    hd = sql_halfup_div
    return f"""
    WITH {_SQL_FREQ_SPECTRUM.strip()}
    , grid AS (
      SELECT lang, c, CAST(count(*) AS BIGINT) AS vc
      FROM tf GROUP BY lang, c
    ), base AS (
      SELECT g.lang, g.c, g.vc,
             CAST(s.n_tokens AS BIGINT) AS n,
             CAST(s.vocab AS BIGINT) AS vocab,
             CAST(s.v1 AS BIGINT) AS v1,
             CAST(g.c AS DOUBLE) / CAST(s.n_tokens AS DOUBLE) AS p,
             (1.0::DOUBLE - CAST(s.v1 AS DOUBLE) / CAST(s.n_tokens AS DOUBLE))
               * (CAST(g.c AS DOUBLE) / CAST(s.n_tokens AS DOUBLE)) AS cp
      FROM grid g JOIN spectrum s USING (lang)
    ), withq AS (
      SELECT *, 1.0::DOUBLE - cp AS one_minus_cp FROM base
    ), {sql_det_ln_steps('withq', 'p', 'lnp', as_double=True)}
    , {sql_det_ln_steps('lnp_rel', 'cp', 'lncp', as_double=True)}
    , {sql_det_pow_steps('lncp_rel', 'one_minus_cp', 'n', 'qpow')}
    , terms AS (
      SELECT lang, n, vocab, v1, vc,
             CAST(floor((p * lnp) * 1000000000.0::DOUBLE + 0.5) AS BIGINT)
               AS t_plugin_nano,
             CASE WHEN v1 < n THEN
               CAST(floor(((cp * lncp) / (1.0::DOUBLE - qpow))
                          * 1000000000.0::DOUBLE + 0.5) AS BIGINT)
             END AS t_cs_nano
      FROM qpow_rel
    ), agg AS (
      SELECT lang, n, vocab, v1,
             CAST(-sum(vc * t_plugin_nano) AS BIGINT) AS h_plugin_nano,
             CAST(-sum(vc * t_cs_nano) AS BIGINT) AS h_cs_nano
      FROM terms GROUP BY lang, n, vocab, v1
    )
    SELECT lang, n AS n_tokens, vocab,
           CAST(1000000 - {hd('1000000::HUGEINT * v1', 'n')} AS BIGINT)
             AS coverage_micro,
           h_plugin_nano,
           h_plugin_nano
             + CAST({hd('1000000000::HUGEINT * (vocab - 1)', '2 * n')} AS BIGINT)
             AS h_mm_nano,
           h_cs_nano AS h_chao_shen_nano
    FROM agg ORDER BY lang
    """


@register("corpus_chao_shen_entropy", oracle=_chao_shen_oracle())
def corpus_chao_shen_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coverage-adjusted Shannon entropy per language (Chao & Shen
    2003) beside its plug-in and Miller-Madow companions (VERDICT r13
    item 4). The plug-in estimator is negatively biased exactly when
    the vocabulary is under-sampled — the regime
    ``corpus_good_turing_coverage`` diagnoses; Chao-Shen combines the
    Good-Turing coverage C = 1 - V1/N (shrink each observed
    probability to C*p) with a Horvitz-Thompson correction
    1/(1 - (1-C*p)^N) for the types the sample missed. The spread
    between the three columns is the sampling-bias picture a corpus
    planner reads before trusting any diversity number.

    Deterministic transcendentals: ln via ``detmath.det_ln_dbl`` and
    the N-th power via the NEW ``detmath.det_pow_int`` (48-step
    square-and-multiply; correctly-rounded IEEE multiplies only) — so
    every per-spectrum-row double trajectory is bit-identical across
    engines, and each term quantizes to nano-nats BEFORE the
    order-independent integer sum (the FP-summation discipline). N is
    bounded by det_pow_int's 2^48 exponent domain (~2.8e14 tokens per
    language — two orders above the 100 TB corpus).

    Derivation sharing: the per-(lang, count) grid extends the
    ``roundthirteen6`` frequency-spectrum family's tf head (the
    spectrum CTE itself is consumed unchanged — no invalidation).

    Exactness: all counts exact; per-distinct-count terms are
    deterministic doubles quantized at nano; Miller-Madow adds ONE
    half-up division (V-1)/(2N); coverage is the Good-Turing micro
    complement. Chao-Shen is NULL-guarded for the degenerate all-
    singleton case (C = 0).

    Scale shape: one (lang, token) partial aggregate, then a BOUNDED
    (lang x distinct-count) grid (~1e3 rows per language) carries the
    40-step ln folds and the 48-step pow fold; per-language scalars
    out. |langs| rows.
    """
    from ..functions.detmath import det_ln_dbl, det_pow_int
    from ..functions.textnorm import whitespace_tokens

    t = Tables(spark, sf_dir)
    tf = (
        t.documents.select(
            "lang", F.explode(whitespace_tokens(F.col("text"))).alias("tok")
        )
        .groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    grid = tf.groupBy("lang", "c").agg(F.count(F.lit(1)).cast("long").alias("vc"))
    spectrum = tf.groupBy("lang").agg(
        F.sum("c").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("long").alias("v1"),
    )
    j = grid.join(F.broadcast(spectrum), "lang")
    p = F.col("c").cast("double") / F.col("n").cast("double")
    ccov = F.lit(1.0) - F.col("v1").cast("double") / F.col("n").cast("double")
    cp = ccov * p
    base = j.select(
        "lang", "n", "vocab", "v1", "vc",
        p.alias("p"), cp.alias("cp"), (F.lit(1.0) - cp).alias("one_minus_cp"),
    )
    t_plugin = F.floor(
        (F.col("p") * det_ln_dbl(F.col("p"))) * F.lit(1_000_000_000.0) + F.lit(0.5)
    ).cast("long")
    qpow = det_pow_int(F.col("one_minus_cp"), F.col("n"))
    t_cs = F.when(
        F.col("v1") < F.col("n"),
        F.floor(
            ((F.col("cp") * det_ln_dbl(F.col("cp"))) / (F.lit(1.0) - qpow))
            * F.lit(1_000_000_000.0)
            + F.lit(0.5)
        ).cast("long"),
    )
    terms = base.select(
        "lang", "n", "vocab", "v1", "vc",
        t_plugin.alias("t_plugin_nano"), t_cs.alias("t_cs_nano"),
    )
    agg = terms.groupBy("lang", "n", "vocab", "v1").agg(
        (-F.sum(F.col("vc") * F.col("t_plugin_nano"))).cast("long").alias("h_plugin_nano"),
        (-F.sum(F.col("vc") * F.col("t_cs_nano"))).cast("long").alias("h_cs_nano"),
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    g9 = F.lit(1_000_000_000).cast("decimal(38,0)")
    return agg.select(
        "lang",
        F.col("n").alias("n_tokens"),
        "vocab",
        (F.lit(1_000_000) - halfup_div(m6 * dec38(F.col("v1")), dec38(F.col("n"))))
        .cast("long")
        .alias("coverage_micro"),
        "h_plugin_nano",
        (
            F.col("h_plugin_nano")
            + halfup_div(
                g9 * dec38(F.col("vocab") - 1),
                F.lit(2).cast("decimal(38,0)") * dec38(F.col("n")),
            ).cast("long")
        ).alias("h_mm_nano"),
        F.col("h_cs_nano").alias("h_chao_shen_nano"),
    ).orderBy("lang")


# ---------------------------------------------------------------------------
# 6. Mantel-type correlation: shingle-Jaccard vs embedding-cosine distance
# ---------------------------------------------------------------------------

EMB_Q = 1_000_000  # per-element embedding quantization for the exact dot


def _mantel_oracle() -> str:
    from .dedup import _SQL_SHINGLES

    hd = sql_halfup_div
    return f"""
    WITH norm AS (
{_SQL_SHINGLES}
    ), keyed AS (
      SELECT n.doc_id, d.lang, d.n_chars // 100 AS len_bucket,
             list_distinct(list_transform(n.shingles,
               s -> ('0x' || substr(sha256(s), 1, 15))::BIGINT)) AS hs,
             list_transform(e.embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * {EMB_Q}.0 + 0.5) AS BIGINT)) AS q
      FROM norm n
      JOIN documents d USING (doc_id)
      JOIN embeddings e ON e.vec_id = n.doc_id
      WHERE len(n.shingles) > 0
    ), normed AS (
      SELECT doc_id, lang, len_bucket, hs, q,
             CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS nq
      FROM keyed
    ), pairs AS (
      SELECT 1000000 - {hd('1000000::HUGEINT * len(list_intersect(a.hs, b.hs))',
                           'len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs))')}
               AS x,
             1000000 - CAST(round(
               (CAST(list_sum(list_transform(list_zip(a.q, b.q),
                                             z -> z[1] * z[2])) AS DOUBLE)
                / (sqrt(CAST(a.nq AS DOUBLE)) * sqrt(CAST(b.nq AS DOUBLE))))
               * 1000000.0::DOUBLE) AS BIGINT) AS y
      FROM normed a JOIN normed b
        ON a.lang = b.lang AND a.len_bucket = b.len_bucket
       AND a.doc_id < b.doc_id
    ), s AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
             CAST(sum(x::HUGEINT * x) AS HUGEINT) AS sxx,
             CAST(sum(y::HUGEINT * y) AS HUGEINT) AS syy,
             CAST(sum(x::HUGEINT * y) AS HUGEINT) AS sxy
      FROM pairs
    )
    SELECT CAST(n AS BIGINT) AS n_pairs,
           CAST({hd('sx', 'n')} AS BIGINT) AS mean_jac_dist_micro,
           CAST({hd('sy', 'n')} AS BIGINT) AS mean_cos_dist_micro,
           CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0 THEN
             CAST(floor((CAST(n * sxy - sx * sy AS DOUBLE)
                         / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                            * sqrt(CAST(n * syy - sy * sy AS DOUBLE))))
                        * 1000000.0::DOUBLE + 0.5) AS BIGINT)
           END AS mantel_r_micro
    FROM s
    """


@register("dedup_mantel_jaccard_cosine", oracle=_mantel_oracle())
def dedup_mantel_jaccard_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mantel-type distance correlation between the EXACT shingle
    Jaccard distance and the embedding-cosine distance over the shared
    blocked candidate pair set (VERDICT r13 item 4: "a Mantel-type
    distance correlation on the shared blocked pair set beside
    dedup_minhash_estimator_audit"). The Mantel r statistic (Mantel
    1967) is the Pearson correlation of two inter-object distance
    matrices restricted to the same pair set; high r means lexical
    dedup (MinHash/LSH) and semantic dedup (SemDeDup cosine cells)
    would kill largely the SAME pairs — low r is the quantitative
    argument for running both. Permutation p-values are omitted by
    design (they need randomization; the statistic is the decision
    input). Pairs are the registered lang x length-bucket blocking —
    the estimator audit's exact pair class, never all-pairs.

    Exactness: Jaccard distance is exact half-up micro off integer
    set sizes; cosine quantizes each embedding element to int64 at
    1e-6 FIRST, so dot and norms are ORDER-INDEPENDENT exact integer
    sums and the cosine is one deterministic double expression (exact
    int64 -> double conversions, two correctly-rounded sqrts, one
    division) rounded once at micro; the five correlation sufficient
    sums are exact decimal(38,0); the final r assembles from their
    exact-to-double casts with sqrt — identical IEEE trajectory in
    both engines (the ``stats_corr_price_quantity`` pattern).
    Zero-variance sides NULL the r.

    Scale shape: the pair generation is the blocked equi-self-join;
    the 64-dim integer dot adds a fixed per-pair cost;
    the audit aggregate is one constant-size row. 1 row out.
    """
    from ..functions.partitioning import gated_broadcast
    from .dedup import pair_intersections_table

    # Round-14 optimization: the blocked pair set + exact intersection
    # sizes come off the session-materialized
    # ``dedup.pair_intersections_table`` (one derivation, five
    # consumers); the quantized embedding vectors join each pair side
    # as a doc-sized gated-broadcast table. Docs without an embedding
    # row drop from the pair set through the inner joins exactly as
    # the build-round inner join before pairing did; every integer
    # (inter, sa, sb, q, nq) is unchanged, so x/y and the oracle are
    # value-identical.
    t = Tables(spark, sf_dir)
    qarr = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x: F.floor(x * F.lit(float(EMB_Q)) + F.lit(0.5)).cast("long"),
    )
    qn = t.embeddings.select(
        F.col("vec_id").alias("doc_id"), qarr.alias("q")
    ).withColumn(
        "nq",
        F.aggregate(F.col("q"), F.lit(0).cast("long"), lambda acc, x: acc + x * x),
    )
    qa = qn.select(
        F.col("doc_id").alias("doc_a"), F.col("q").alias("qa"), F.col("nq").alias("na")
    )
    qb = qn.select(
        F.col("doc_id").alias("doc_b"), F.col("q").alias("qb"), F.col("nq").alias("nb")
    )
    inter = F.col("inter")
    union = F.col("sa") + F.col("sb") - inter
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    xdist = (F.lit(1_000_000) - halfup_div(m6 * dec38(inter), dec38(union))).cast("long")
    dot = F.aggregate(
        F.zip_with(F.col("qa"), F.col("qb"), lambda p_, q_: p_ * q_),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    cos = dot.cast("double") / (
        F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double"))
    )
    ydist = (F.lit(1_000_000) - F.round(cos * F.lit(1_000_000.0)).cast("long"))
    pairs = (
        pair_intersections_table(t)
        .filter(F.col("lb_a") == F.col("lb_b"))
        .join(gated_broadcast(qa), "doc_a")
        .join(gated_broadcast(qb), "doc_b")
        .select(xdist.alias("x"), ydist.alias("y"))
    )
    s = pairs.agg(
        dec38(F.count(F.lit(1))).alias("n"),
        F.sum(dec38(F.col("x"))).alias("sx"),
        F.sum(dec38(F.col("y"))).alias("sy"),
        F.sum(dec38(F.col("x")) * dec38(F.col("x"))).alias("sxx"),
        F.sum(dec38(F.col("y")) * dec38(F.col("y"))).alias("syy"),
        F.sum(dec38(F.col("x")) * dec38(F.col("y"))).alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    dx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    dy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    r = num.cast("double") / (
        F.sqrt(dx.cast("double")) * F.sqrt(dy.cast("double"))
    )
    return s.select(
        F.col("n").cast("long").alias("n_pairs"),
        halfup_div(F.col("sx"), F.col("n")).cast("long").alias("mean_jac_dist_micro"),
        halfup_div(F.col("sy"), F.col("n")).cast("long").alias("mean_cos_dist_micro"),
        F.when(
            (dx > 0) & (dy > 0),
            F.floor(r * F.lit(1_000_000.0) + F.lit(0.5)).cast("long"),
        ).alias("mantel_r_micro"),
    )
