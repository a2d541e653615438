"""Round-13 direct registrations, batch U (categorical PRE measures,
frequency-spectrum lexical statistics, and a MinHash estimator audit).

Five window-slot completions beside the activated bank and batch T,
each oracle-paired, replica-pinned and plan-barred in
``tests/test_roundthirteen6.py`` (same-commit gate rule). Every name
was checked against the full 543-name registry inventory before
design (the SCALE §5j.7 authoring rule):

* ``stats_goodman_kruskal_lambda`` — modal proportional-reduction-in-
  error association (both directions + symmetric), pure integers.
* ``stats_goodman_kruskal_tau`` — the variance-based PRE sibling
  (Goodman-Kruskal tau), exact rational arithmetic.
* ``text_sichel_guiraud_richness`` — Sichel's S (dis-legomena share)
  and Guiraud's R^2 off a shared per-language frequency spectrum.
* ``corpus_good_turing_coverage`` — Good-Turing sample coverage /
  unseen-mass estimate + Chao1 richness floor, same spectrum.
* ``dedup_minhash_estimator_audit`` — MinHash-estimated vs exact
  Jaccard over the blocked candidate pairs, grouped by signature
  agreement (the estimator-quality table behind the LSH thresholds).

Reference parity note: the reference (Go ingestion pipeline,
``/root/reference/main.go``) has no analytics; these extend SURVEY
§2.C warehouse statistics / text analysis / corpus management / dedup.

``stats_goodman_kruskal_lambda`` and ``stats_goodman_kruskal_tau`` live
in ``operators/stats_tables.py`` with the other stats queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import dec38, halfup_div, sql_halfup_div
from ..registry import register
from ..tables import Tables


# ---------------------------------------------------------------------------
# shared: per-language token frequency spectrum (two consumers below)
# ---------------------------------------------------------------------------

_SQL_FREQ_SPECTRUM = """
    toks AS (
      SELECT lang,
             unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                    ' ')) AS tok
      FROM documents
    ), tf AS (
      SELECT lang, tok, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY lang, tok
    ), spectrum AS (
      SELECT lang,
             CAST(sum(c) AS HUGEINT) AS n_tokens,
             CAST(count(*) AS HUGEINT) AS vocab,
             CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS HUGEINT) AS v1,
             CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS HUGEINT) AS v2
      FROM tf GROUP BY lang
    )
"""


def _freq_spectrum(t: Tables) -> DataFrame:
    """(lang, n_tokens, vocab, v1, v2) — the frequency-spectrum head
    both lexical ops consume (SQL twin ``_SQL_FREQ_SPECTRUM``)."""
    from ..functions.textnorm import whitespace_tokens

    tf = (
        t.documents.select(
            "lang", F.explode(whitespace_tokens(F.col("text"))).alias("tok")
        )
        .groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return tf.groupBy("lang").agg(
        F.sum(dec38(F.col("c"))).alias("n_tokens"),
        dec38(F.count(F.lit(1))).alias("vocab"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("decimal(38,0)").alias("v1"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0)).cast("decimal(38,0)").alias("v2"),
    )


# ---------------------------------------------------------------------------
# 3. Sichel's S + Guiraud's R^2 lexical richness
# ---------------------------------------------------------------------------


def _sichel_oracle() -> str:
    hd = sql_halfup_div
    return f"""
    WITH {_SQL_FREQ_SPECTRUM.strip()}
    SELECT lang, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(vocab AS BIGINT) AS vocab, CAST(v2 AS BIGINT) AS v2,
           CAST({hd('1000000::HUGEINT * v2', 'vocab')} AS BIGINT)
             AS sichel_s_micro,
           CAST({hd('1000000::HUGEINT * vocab * vocab', 'n_tokens')} AS BIGINT)
             AS guiraud_sq_micro
    FROM spectrum ORDER BY lang
    """


@register("text_sichel_guiraud_richness", oracle=_sichel_oracle())
def text_sichel_guiraud_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sichel's S and (squared) Guiraud's R per language — two
    frequency-spectrum richness statistics beside Honoré's R and
    Yule's K: S = V2/V (Sichel 1975 — the dis-legomena share, nearly
    constant for an author across sample sizes, so a shift flags mixed
    or templated sources) and Guiraud's R = V/sqrt(N) (1954 — the
    length-corrected type-token ratio), reported as R^2 = V^2/N so the
    statistic stays inside exact rational arithmetic (no sqrt; the
    squared form is order-preserving, documented convention shared
    with the squared-index ops in the stats family).

    Derivation sharing: the per-language frequency spectrum
    (``_freq_spectrum`` / ``_SQL_FREQ_SPECTRUM``) — one (lang, token)
    aggregate feeding this op and ``corpus_good_turing_coverage``.

    Exactness: V, V2, N are exact counts; two half-up micro divisions
    per language.

    Scale shape: one scan exploding to (lang, token) with partial
    aggregation (map-side combine absorbs the token skew), then
    per-language scalars. |langs| rows out.
    """
    t = Tables(spark, sf_dir)
    sp = _freq_spectrum(t)
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    return sp.select(
        "lang",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("vocab").cast("long").alias("vocab"),
        F.col("v2").cast("long").alias("v2"),
        halfup_div(m6 * F.col("v2"), F.col("vocab")).cast("long").alias(
            "sichel_s_micro"
        ),
        halfup_div(m6 * F.col("vocab") * F.col("vocab"), F.col("n_tokens"))
        .cast("long")
        .alias("guiraud_sq_micro"),
    ).orderBy("lang")


# ---------------------------------------------------------------------------
# 4. Good-Turing sample coverage + Chao1 richness floor
# ---------------------------------------------------------------------------


def _gt_oracle() -> str:
    hd = sql_halfup_div
    return f"""
    WITH {_SQL_FREQ_SPECTRUM.strip()}
    SELECT lang, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(vocab AS BIGINT) AS vocab, CAST(v1 AS BIGINT) AS v1,
           CAST(1000000 - {hd('1000000::HUGEINT * v1', 'n_tokens')} AS BIGINT)
             AS coverage_micro,
           CAST({hd('1000000::HUGEINT * v1', 'n_tokens')} AS BIGINT)
             AS p_unseen_micro,
           CASE WHEN v2 > 0 THEN
             CAST(100 * vocab + {hd('100::HUGEINT * v1 * v1', '2 * v2')} AS BIGINT)
           END AS chao1_centi
    FROM spectrum ORDER BY lang
    """


@register("corpus_good_turing_coverage", oracle=_gt_oracle())
def corpus_good_turing_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing sample coverage per language: C = 1 - V1/N (Good
    1953) — the probability that the NEXT token drawn is a type
    already seen — plus the unseen-mass estimate V1/N and the Chao1
    nonparametric richness floor V + V1^2/(2 V2) (Chao 1984). The
    corpus-planning numbers behind "have we crawled enough of this
    language": low coverage = the vocabulary is still growing fast and
    more data materially helps; Chao1 - V = how many types the crawl
    provably hasn't seen yet.

    Derivation sharing: the same per-language frequency spectrum as
    ``text_sichel_guiraud_richness`` (one derivation, two consumers).

    Exactness: V1, V2, V, N exact; one half-up micro division for the
    unseen mass (coverage is its exact complement, 1e6 - p_unseen, so
    the pair is consistent by construction); Chao1 reported in centi
    units with its single half-up division, NULL-guarded for V2 = 0.

    Scale shape: identical to the sibling — one (lang, token) partial
    aggregate, per-language scalars, |langs| rows out.
    """
    t = Tables(spark, sf_dir)
    sp = _freq_spectrum(t)
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    c100 = F.lit(100).cast("decimal(38,0)")
    p_unseen = halfup_div(m6 * F.col("v1"), F.col("n_tokens"))
    return sp.select(
        "lang",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("vocab").cast("long").alias("vocab"),
        F.col("v1").cast("long").alias("v1"),
        (F.lit(1_000_000) - p_unseen).cast("long").alias("coverage_micro"),
        p_unseen.cast("long").alias("p_unseen_micro"),
        F.when(
            F.col("v2") > 0,
            (
                c100 * F.col("vocab")
                + halfup_div(
                    c100 * F.col("v1") * F.col("v1"),
                    F.lit(2).cast("decimal(38,0)") * F.col("v2"),
                )
            ).cast("long"),
        ).alias("chao1_centi"),
    ).orderBy("lang")


# ---------------------------------------------------------------------------
# 5. MinHash estimator audit over the blocked candidate pairs
# ---------------------------------------------------------------------------


def _minhash_audit_oracle() -> str:
    from .dedup import _SQL_SHINGLES, _sql_minhash, N_MINHASH

    hcols = ",\n             ".join(_sql_minhash(i) for i in range(N_MINHASH))
    kmatch = " + ".join(
        f"(CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END)" for i in range(N_MINHASH)
    )
    hd = sql_halfup_div
    return f"""
    WITH norm AS (
{_SQL_SHINGLES}
    ), keyed AS (
      SELECT n.doc_id, d.lang, d.n_chars // 100 AS len_bucket,
             list_distinct(list_transform(n.shingles,
               s -> ('0x' || substr(sha256(s), 1, 15))::BIGINT)) AS hs,
             {hcols}
      FROM norm n JOIN documents d USING (doc_id)
      WHERE len(n.shingles) > 0
    ), pairs AS (
      SELECT CAST(({kmatch}) AS BIGINT) AS k,
             CAST(len(list_intersect(a.hs, b.hs)) AS HUGEINT) AS inter,
             CAST(len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs))
                  AS HUGEINT) AS un
      FROM keyed a JOIN keyed b
        ON a.lang = b.lang AND a.len_bucket = b.len_bucket
       AND a.doc_id < b.doc_id
    ), jm AS (
      SELECT k, {hd('1000000::HUGEINT * inter', 'un')} AS jac_micro
      FROM pairs
    ), byk AS (
      SELECT k, CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(jac_micro) AS HUGEINT) AS sj
      FROM jm GROUP BY k
    )
    SELECT k AS n_sig_matches, n_pairs,
           CAST({hd('sj', 'n_pairs')} AS BIGINT) AS mean_jaccard_micro,
           CAST({hd(f'1000000::HUGEINT * k', str(N_MINHASH))} AS BIGINT)
             AS est_jaccard_micro,
           CAST({hd(f'1000000::HUGEINT * k', str(N_MINHASH))}
                - {hd('sj', 'n_pairs')} AS BIGINT) AS bias_micro
    FROM byk ORDER BY k
    """


@register("dedup_minhash_estimator_audit", oracle=_minhash_audit_oracle())
def dedup_minhash_estimator_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator-quality audit: over the blocked candidate
    pair set (the ``dedup_ngram_jaccard`` lang x length-bucket
    blocking), group pairs by how many of the 8 signature components
    agree and compare the MinHash estimate k/8 against the mean EXACT
    shingle Jaccard of those pairs. The estimator is unbiased per pair
    (P[h_i(A) = h_i(B)] = J); this table shows what the 8-permutation
    variance does to it in THIS corpus — the empirical error the
    ``dedup_lsh_band_tuning_curve`` S-curves assume, measured instead
    of assumed (Broder 1997).

    Derivation sharing: shingle base hashes via
    ``textnorm.shingle_base_hash_udf`` and the signature family via
    ``dedup._minhash_cols`` / ``dedup._sql_minhash`` — the exact
    objects the production LSH pipeline uses, so the audit audits the
    shipped estimator, not a lookalike.

    Exactness: signature agreement counts are integer; the exact
    Jaccard quantizes half-up at micro per pair from integer
    intersection/union sizes and SUMS as integers (never a double
    mean); the estimate k/8 and the bias are exact micro arithmetic.

    Scale shape: the pair generation is the registered blocked
    equi-self-join (no crossJoin, no all-pairs); signature columns add
    8 integer comparisons per candidate; the audit aggregate is
    <= 9-key bounded. <= 9 rows out.
    """
    from ..functions.partitioning import cpu_repartition, gated_broadcast
    from ..functions.textnorm import shingle_base_hash_udf
    from .dedup import (
        MERSENNE_P,
        N_MINHASH,
        SHINGLE_K,
        _minhash_cols,
        pair_intersections_table,
    )

    # Round-14 optimization: the blocked pair set + exact intersection
    # sizes come off the session-materialized
    # ``dedup.pair_intersections_table`` (one derivation, five
    # consumers); the 8 signature components are recomputed once per
    # document (a doc-sized table, gated-broadcast onto each pair
    # side) instead of riding through the pair self-join. All the
    # audit's integers are unchanged, so jac_micro/k and the oracle
    # are value-identical.
    t = Tables(spark, sf_dir)
    bases_udf = shingle_base_hash_udf(SHINGLE_K)
    sigs = (
        cpu_repartition(t.documents, "doc_id")
        .select("doc_id", bases_udf(F.col("text")).alias("hs"))
        .filter(F.size("hs") > 0)
        .select(
            "doc_id",
            *_minhash_cols(F.transform(F.col("hs"), lambda x: x % MERSENNE_P)),
        )
    )
    pairs = pair_intersections_table(t).filter(F.col("lb_a") == F.col("lb_b"))
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"h{i}").alias(f"ha{i}") for i in range(N_MINHASH)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"h{i}").alias(f"hb{i}") for i in range(N_MINHASH)],
    )
    k = sum(
        F.when(F.col(f"ha{i}") == F.col(f"hb{i}"), 1).otherwise(0)
        for i in range(N_MINHASH)
    ).cast("long")
    inter = F.col("inter")
    union = F.col("sa") + F.col("sb") - inter
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    jm = (
        pairs.join(gated_broadcast(sa), "doc_a")
        .join(gated_broadcast(sb), "doc_b")
        .select(
            k.alias("k"),
            halfup_div(m6 * dec38(inter), dec38(union)).alias("jac_micro"),
        )
    )
    byk = jm.groupBy("k").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum("jac_micro").alias("sj"),
    )
    est = halfup_div(m6 * dec38(F.col("k")), F.lit(N_MINHASH).cast("decimal(38,0)"))
    mean_j = halfup_div(F.col("sj"), dec38(F.col("n_pairs")))
    return byk.select(
        F.col("k").alias("n_sig_matches"),
        "n_pairs",
        mean_j.cast("long").alias("mean_jaccard_micro"),
        est.cast("long").alias("est_jaccard_micro"),
        (est - mean_j).cast("long").alias("bias_micro"),
    ).orderBy("n_sig_matches")
