"""Deduplication operators over ``documents`` / ``embeddings``:

- exact dedup (hash groupBy),
- normalized-content hash dedup,
- MinHash + LSH near-dup (shingle -> minhash signature -> band ->
  bucket self-join -> exact-Jaccard verify),
- SimHash fingerprints (bit-vote over token hashes),
- bucketed exact n-gram Jaccard pairs,
- embedding-cosine near-dup.

Portability: every hash is sha256-derived (identical in Spark and
DuckDB), so even MinHash-LSH and SimHash are oracle-verified
value-for-value — not just row counts.

Scale: the LSH design is the 100 TB path — candidate generation is an
equi-join on band keys (shuffle on narrow string keys, no O(n^2)
crossJoin anywhere); exact verification runs only on bucket-collision
pairs. Band width/count trade recall vs candidate volume; both are
module constants.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.textnorm import (
    normalized_text,
    sha256_hex,
    sha256_prefix_i64,
    shingle_base_hash_udf,
    whitespace_tokens,
)
from ..functions.partitioning import cpu_repartition
from ..registry import register
from ..tables import Tables

SHINGLE_K = 3          # words per shingle
N_MINHASH = 8          # signature length
N_BANDS = 4            # LSH bands (rows per band = N_MINHASH // N_BANDS)
ROWS_PER_BAND = N_MINHASH // N_BANDS
JACCARD_THRESHOLD = 0.8
SIMHASH_BITS = 60      # bits recoverable from a 15-hex-char sha prefix
COSINE_DUP_THRESHOLD = 0.3

# DuckDB snippet producing (doc_id, shingles) — the twin of
# word_shingles(whitespace_tokens(text), SHINGLE_K) + array_distinct.
_SQL_SHINGLES = f"""
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(toks) - {SHINGLE_K - 1}, 0) + 1),
               i -> array_to_string(toks[i:i+{SHINGLE_K - 1}], ' '))) AS shingles
      FROM (SELECT doc_id,
                   string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
            FROM documents)
"""


@register(
    "dedup_exact_text",
    oracle="""
    SELECT text, min(doc_id) AS keep_doc_id, count(*) AS n_copies
    FROM documents
    GROUP BY text
    """,
)
def dedup_exact_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group identical content, keep min doc_id.

    (A groupBy, not ``dropDuplicates``, so the surviving representative
    is deterministic — dropDuplicates keeps an arbitrary row.)
    """
    t = Tables(spark, sf_dir)
    return t.documents.groupBy("text").agg(
        F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies")
    )


@register(
    "dedup_normalized_hash",
    oracle="""
    SELECT sha256(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS content_hash,
           min(doc_id) AS keep_doc_id,
           count(*)    AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def dedup_normalized_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-exact dedup on a normalized-content hash.

    At 100 TB this is the first-pass dedup: shuffle carries 64-byte
    hashes instead of document bodies.
    """
    t = Tables(spark, sf_dir)
    return (
        t.documents.select("doc_id", sha256_hex(normalized_text(F.col("text"))).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


# Universal-hash family over a portable sha256-derived base hash:
#   base(s) = sha256_prefix_i64(s) % P;  h_i(s) = (A_i * base + B_i) % P
# P = 2^31 - 1 keeps every intermediate < 2^62, so the arithmetic is
# exact (no overflow) in both Spark and DuckDB int64.
MERSENNE_P = 2147483647
HASH_AB = [
    (1103515245, 12345),
    (1299721, 54321),
    (2246822519, 7919),
    (2654435761, 104729),
    (805459861, 130363),
    (3266489917, 39916801),
    (374761393, 268435399),
    (668265263, 987654323),
]
# reduce A_i mod P up front so A_i * base < 2^62
HASH_AB = [(a % MERSENNE_P, b % MERSENNE_P) for a, b in HASH_AB[:N_MINHASH]]


def _base_hashes(shingles_col):
    """shingle array -> int64 base-hash array (one sha256 per shingle)."""
    return F.transform(shingles_col, lambda s: sha256_prefix_i64(s) % MERSENNE_P)


def _minhash_cols(bases_col):
    """base-hash array -> minhash columns h0..h{N-1}.

    The sha256 is computed once per shingle (in ``_base_hashes``); each
    signature slot is then two integer ops per shingle.
    NB: F.transform inspects lambda arity, so the (a, b) constants are
    bound via a closure factory, never extra lambda params.
    """

    def hash_fn(a: int, b: int):
        return lambda x: (F.lit(a) * x + F.lit(b)) % MERSENNE_P

    return [
        F.array_min(F.transform(bases_col, hash_fn(a, b))).alias(f"h{i}")
        for i, (a, b) in enumerate(HASH_AB)
    ]


def _sql_minhash(i: int) -> str:
    a, b = HASH_AB[i]
    base = f"(('0x' || substr(sha256(s), 1, 15))::BIGINT % {MERSENNE_P})"
    return (
        f"list_min(list_transform(shingles, s -> ({a} * {base} + {b}) % {MERSENNE_P})) AS h{i}"
    )


def _minhash_lsh_oracle() -> str:
    hcols = ",\n             ".join(_sql_minhash(i) for i in range(N_MINHASH))
    bcols = ", ".join(
        "concat("
        + ", ',', ".join(f"h{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND))
        + f") AS b{b}"
        for b in range(N_BANDS)
    )
    bmatch = " OR ".join(f"a.b{b} = b.b{b}" for b in range(N_BANDS))
    return f"""
    WITH norm AS (
{_SQL_SHINGLES}
    ), sigs AS (
      SELECT doc_id,
             list_distinct(list_transform(shingles,
               s -> ('0x' || substr(sha256(s), 1, 15))::BIGINT)) AS bases,
             {hcols}
      FROM norm WHERE len(shingles) > 0
    ), banded AS (
      SELECT doc_id, bases, {bcols} FROM sigs
    ), cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.bases AS sa, b.bases AS sb
      FROM banded a JOIN banded b
        ON a.doc_id < b.doc_id AND ({bmatch})
    )
    SELECT doc_a, doc_b,
           round(len(list_intersect(sa, sb)) * 1.0
                 / (len(sa) + len(sb) - len(list_intersect(sa, sb))), 6) AS jaccard
    FROM cand
    WHERE round(len(list_intersect(sa, sb)) * 1.0
                / (len(sa) + len(sb) - len(list_intersect(sa, sb))), 6) >= {JACCARD_THRESHOLD}
    """


@register("dedup_minhash_lsh", oracle=_minhash_lsh_oracle())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-duplicate pairs, exact-Jaccard verified.

    Pipeline: shingle (3-word) -> 8 sha256-minhashes -> 4 bands of 2 ->
    equi-self-join per band -> union+distinct candidates -> exact
    Jaccard on the candidate pairs only -> threshold filter.

    The band joins are plain equi-joins on short strings — at 100 TB
    each is one shuffle on the band key, and AQE splits skewed buckets.
    No crossJoin exists in this plan.
    """
    t = Tables(spark, sf_dir)
    # Shingle+hash is the CPU-heavy per-row stage: an Arrow pandas UDF
    # (one sha256 per distinct shingle, vectorized batches) beats the
    # interpreted higher-order-function pipeline ~4x while producing
    # bit-identical hash values. Repartition so parallelism is cores,
    # not parquet splits; localCheckpoint materializes once for the 2+2
    # join branches (cheaper than columnar-caching arrays).
    bases_udf = shingle_base_hash_udf(SHINGLE_K)
    norm = (
        cpu_repartition(t.documents, "doc_id")
        .select("doc_id", bases_udf(F.col("text")).alias("bases"))
        .filter(F.size("bases") > 0)
        .localCheckpoint(eager=False)
    )
    sigs = norm.select(
        "doc_id", "bases", *_minhash_cols(F.transform(F.col("bases"), lambda x: x % MERSENNE_P))
    )
    band_cols = [
        F.concat_ws(",", *[F.col(f"h{b * ROWS_PER_BAND + r}") for r in range(ROWS_PER_BAND)]).alias(
            f"b{b}"
        )
        for b in range(N_BANDS)
    ]
    # one (band_id, band_key) row per doc per band -> a single equi-join
    # on (band_id, key); identical left/right subtrees let Spark reuse
    # the shuffle exchange instead of hashing shingles once per band.
    banded = sigs.select(
        "doc_id",
        F.posexplode(F.array(*band_cols)).alias("band_id", "band_key"),
    ).localCheckpoint(eager=False)
    left = banded.select(F.col("doc_id").alias("doc_a"), "band_id", "band_key")
    right = banded.select(F.col("doc_id").alias("doc_b"), "band_id", "band_key")
    cand = (
        left.join(right, ["band_id", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )

    a = norm.select(F.col("doc_id").alias("doc_a"), F.col("bases").alias("sa"))
    b_ = norm.select(F.col("doc_id").alias("doc_b"), F.col("bases").alias("sb"))
    inter = F.size(F.array_intersect(F.col("sa"), F.col("sb")))
    union = F.size("sa") + F.size("sb") - inter
    jac = F.round(inter / union, 6)
    return (
        cand.join(a, "doc_a")
        .join(b_, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


def _simhash_oracle() -> str:
    # per-token 60-bit portable hash, then a sign-vote per bit
    bit_votes = " + ".join(
        f"(CASE WHEN sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) > 0 "
        f"THEN (1::BIGINT << {b}) ELSE 0 END)"
        for b in range(SIMHASH_BITS)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_distinct(
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '))) AS token
      FROM documents
    ), hashed AS (
      SELECT doc_id, ('0x' || substr(sha256(token), 1, 15))::BIGINT AS h
      FROM toks
    )
    SELECT doc_id, ({bit_votes}) AS simhash
    FROM hashed
    GROUP BY doc_id
    """


@register("dedup_simhash", oracle=_simhash_oracle())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash document fingerprints (60-bit, portable sha256 token hash).

    Explode distinct tokens, hash each to 60 bits, majority-vote each
    bit, reassemble. One explode + one groupBy(doc_id) — shuffle volume
    is one long per (doc, token), aggregated map-side first.
    """
    t = Tables(spark, sf_dir)
    toks = cpu_repartition(t.documents, "doc_id").select(
        "doc_id",
        F.explode(F.array_distinct(whitespace_tokens(F.col("text")))).alias("token"),
    )
    hashed = toks.select("doc_id", sha256_prefix_i64(F.col("token")).alias("h"))
    vote = sum(
        F.when(
            F.sum(F.when(F.shiftright(F.col("h"), b).bitwiseAND(1) == 1, 1).otherwise(-1)) > 0,
            F.lit(1).cast("long") * (1 << b),
        ).otherwise(F.lit(0).cast("long"))
        for b in range(SIMHASH_BITS)
    )
    return hashed.groupBy("doc_id").agg(vote.alias("simhash"))


def pair_intersections_table(t: Tables) -> DataFrame:
    """Session-materialized blocked candidate pair table
    (doc_a, doc_b, lang, lb_a, lb_b, inter, sa, sb): every lang-blocked
    document pair (doc_a < doc_b, both with non-empty 3-word shingle
    sets) with its exact shingle-hash intersection size and the two
    set sizes.

    Round-14 optimization (guide §2.3/§2.4): five registered queries
    re-ran the blocked self-join + per-pair ``array_intersect`` (the
    single most expensive per-pair stage of the dedup family — 3.2M
    lang-blocked pairs at sf0.1): dedup_containment (lang blocking),
    dedup_ngram_jaccard + dedup_pair_jaccard_threshold_curve +
    dedup_minhash_estimator_audit + dedup_mantel_jaccard_cosine (the
    lang × length-bucket subset, lb_a = lb_b). The intersection sizes
    are pure integers, so every consumer's similarity expression
    (Jaccard, containment, micro quantizations) computes bit-identical
    values from this table; consumers' DuckDB oracles are untouched.
    Materialized once per (application, fixture) — warehouse.py
    fingerprint/app-id rules, no cross-run reuse.

    Size bound (ADVICE r14): the table is the full lang-blocked
    quadratic candidate set — sum over languages of C(n_lang, 2) rows
    (3.2M rows / ~90 MB parquet at sf0.1's ~5k docs/lang). It grows
    with the square of per-language corpus size, so at corpus scales
    where n_lang exceeds ~10^6 the 100 TB path is NOT this exact table
    but the MinHash-LSH banding family (dedup_minhash_lsh etc.), which
    bounds candidates per block by construction; this table is the
    exact-similarity workbench the audit/curve queries are defined
    over, and those queries' semantics are inherently pairwise."""
    from ..warehouse import ensure_table, fixture_tag

    tag = fixture_tag(t.spark, t.sf_dir, ("documents.parquet",))

    def build() -> DataFrame:
        bases_udf = shingle_base_hash_udf(SHINGLE_K)
        keyed = (
            cpu_repartition(t.documents, "doc_id")
            .select(
                "doc_id",
                "lang",
                (F.col("n_chars") / 100).cast("long").alias("len_bucket"),
                bases_udf(F.col("text")).alias("hs"),
            )
            .filter(F.size("hs") > 0)
            .localCheckpoint(eager=False)  # feeds both join sides; hash once
        )
        a = keyed.select(
            F.col("doc_id").alias("doc_a"),
            "lang",
            F.col("len_bucket").alias("lb_a"),
            F.col("hs").alias("ha"),
        )
        b = keyed.select(
            F.col("doc_id").alias("doc_b"),
            F.col("lang").alias("lang_b"),
            F.col("len_bucket").alias("lb_b"),
            F.col("hs").alias("hb"),
        )
        inter = F.size(F.array_intersect(F.col("ha"), F.col("hb")))
        return (
            a.join(
                b,
                (F.col("lang") == F.col("lang_b"))
                & (F.col("doc_a") < F.col("doc_b")),
            )
            .select(
                "doc_a",
                "doc_b",
                "lang",
                "lb_a",
                "lb_b",
                inter.alias("inter"),
                F.size("ha").alias("sa"),
                F.size("hb").alias("sb"),
            )
        )

    return ensure_table(t.spark, f"dedup_pairs_{tag}", build)


# DuckDB twin of the blocked ngram-Jaccard pair derivation — a module
# constant so the round-13 threshold-curve op (roundthirteen3.py) can
# reuse the IDENTICAL pair set (one derivation, two consumers).
_NGRAM_JACCARD_ORACLE = f"""
    WITH norm AS (
{_SQL_SHINGLES}
    ), keyed AS (
      SELECT n.doc_id, d.lang, d.n_chars // 100 AS len_bucket,
             list_distinct(list_transform(n.shingles,
               s -> ('0x' || substr(sha256(s), 1, 15))::BIGINT)) AS hs
      FROM norm n JOIN documents d USING (doc_id)
      WHERE len(n.shingles) > 0
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(len(list_intersect(a.hs, b.hs)) * 1.0
                 / (len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs))), 6) AS jaccard
    FROM keyed a JOIN keyed b
      ON a.lang = b.lang AND a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id
    WHERE round(len(list_intersect(a.hs, b.hs)) * 1.0
                / (len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs))), 6) >= 0.5
    """


@register("dedup_ngram_jaccard", oracle=_NGRAM_JACCARD_ORACLE)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram (3-word shingle) Jaccard over blocked candidates.

    Blocking key = (lang, length-bucket): the exact-similarity
    complement to LSH when a cheap natural blocking key exists. The
    self-join is an equi-join on the block key — no crossJoin.

    The Jaccard runs on portable int64 shingle hashes, not the shingle
    strings: identical values in both engines (sha256-derived), and
    intersecting fixed-width ints is ~5x cheaper than strings at the
    pair count this blocking yields.
    """
    # Round-14 optimization: the blocked pair set + intersection sizes
    # come off the session-materialized ``pair_intersections_table``
    # (one derivation, five consumers — see its docstring); the
    # Jaccard expression below computes the identical double from the
    # identical integers, so values and the oracle are unchanged.
    t = Tables(spark, sf_dir)
    p = pair_intersections_table(t).filter(F.col("lb_a") == F.col("lb_b"))
    inter = F.col("inter")
    union = F.col("sa") + F.col("sb") - inter
    jac = F.round(inter / union, 6)
    return (
        p.select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.5)
    )


@register(
    "dedup_embedding_cosine",
    oracle=f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label,
           round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6)
             AS cosine
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6)
          >= {COSINE_DUP_THRESHOLD}
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, blocked by label.

    Blocking by a cluster/label key keeps the pairwise work inside
    blocks (the IVF idea); the cosine itself is pure `F.aggregate`/
    `zip_with` arithmetic — JVM-side, no UDF.
    """
    t = Tables(spark, sf_dir)
    # norm once per vector before the pair join (the folds are
    # interpreted; recomputing norms per pair tripled the work —
    # same expression tree, bit-identical doubles, oracle unchanged)
    norm = F.sqrt(F.aggregate(F.col("v"), F.lit(0.0), lambda acc, x: acc + x * x))
    emb = t.embeddings.select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    ).withColumn("nrm", norm)
    a = emb.select(
        F.col("vec_id").alias("vec_a"), "label", F.col("v").alias("va"), F.col("nrm").alias("na")
    )
    b = emb.select(
        F.col("vec_id").alias("vec_b"),
        F.col("label").alias("label_b"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("va"), F.col("vb"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cos = F.round(dot / (F.col("na") * F.col("nb")), 6)
    return (
        a.join(b, (F.col("label") == F.col("label_b")) & (F.col("vec_a") < F.col("vec_b")))
        .select("vec_a", "vec_b", "label", cos.alias("cosine"))
        .filter(F.col("cosine") >= COSINE_DUP_THRESHOLD)
    )


def _clusters_oracle() -> str:
    pairs_sql = _minhash_lsh_oracle()
    return f"""
    WITH RECURSIVE pairs AS (
{pairs_sql}
    ), edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
      UNION
      SELECT doc_a, doc_a FROM pairs
      UNION
      SELECT doc_b, doc_b FROM pairs
    ), reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    )
    SELECT a AS doc_id, min(b) AS cluster_id
    FROM reach
    GROUP BY a
    """


def connected_components(pairs: DataFrame) -> DataFrame:
    """Distributed connected components over an undirected pair list
    ``(doc_a, doc_b)`` -> ``(doc_id, cluster_id)`` with cluster_id = the
    component's minimum node id.

    Algorithm: min-label propagation *with pointer jumping* — each round
    first takes the min over neighbors' labels, then replaces every
    label by its label's label (``l[v] <- l[l[v]]``). The jump halves
    the distance to the component minimum, so convergence is
    O(log diameter) rounds instead of O(diameter) — a diameter-1M chain
    needs ~20 rounds, not a million. Rounds are bounded by
    ``ceil(log2(n)) + 3``; if the fixpoint still hasn't been reached
    (cannot happen unless the bound's derivation is violated) the
    function RAISES rather than returning silently-wrong labels.

    Invariant making the jump safe: labels only decrease and
    ``l[v] <= v``, so ``l[l[v]]`` is always defined on the label table
    and always <= ``l[v]``.
    """
    import math

    edges = (
        pairs.select("doc_a", "doc_b")
        .unionByName(pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("doc_a").alias("doc_id"))
        .distinct()
        .withColumn("cluster_id", F.col("doc_id"))
        .localCheckpoint(eager=True)
    )
    n_nodes = labels.count()
    if n_nodes == 0:
        return labels.select("doc_id", "cluster_id")
    max_rounds = int(math.ceil(math.log2(max(n_nodes, 2)))) + 3
    for _ in range(max_rounds):
        neighbor_min = (
            edges.join(labels, edges["doc_b"] == labels["doc_id"])
            .groupBy(edges["doc_a"].alias("doc_id"))
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        stepped = labels.join(neighbor_min, "doc_id", "left").select(
            "doc_id",
            F.least(F.col("cluster_id"), F.coalesce(F.col("nbr_min"), F.col("cluster_id"))).alias(
                "cluster_id"
            ),
        )
        # pointer jump: l[v] <- l[l[v]] (labels are node ids, so the
        # lookup is a self-join on the label table)
        parent = stepped.select(
            F.col("doc_id").alias("p_id"), F.col("cluster_id").alias("p_cluster")
        )
        new_labels = (
            stepped.join(parent, stepped["cluster_id"] == parent["p_id"], "left")
            .select(
                "doc_id",
                F.coalesce(F.col("p_cluster"), F.col("cluster_id")).alias("cluster_id"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .filter(F.col("n.cluster_id") != F.col("o.cluster_id"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels.select("doc_id", "cluster_id")
    raise RuntimeError(
        f"connected_components did not converge within {max_rounds} rounds "
        f"over {n_nodes} nodes — refusing to return non-converged labels"
    )


@register("dedup_clusters", oracle=_clusters_oracle())
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate clusters: connected components over the LSH pair
    graph (each member labeled with the smallest doc_id reachable — the
    canonical representative).

    Uses ``connected_components`` — min-label propagation with pointer
    jumping (O(log diameter) rounds, convergence-guarded: raises rather
    than emitting wrong labels if the round bound is hit). Oracle:
    DuckDB recursive-CTE transitive closure — even the iterative
    algorithm is value-checked.
    """
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    return connected_components(pairs)


CONTAINMENT_THRESHOLD = 0.8


@register(
    "dedup_containment",
    oracle=f"""
    WITH norm AS (
{_SQL_SHINGLES}
    ), keyed AS (
      SELECT n.doc_id, d.lang, d.n_chars // 100 AS len_bucket,
             list_distinct(list_transform(n.shingles,
               s -> ('0x' || substr(sha256(s), 1, 15))::BIGINT)) AS hs
      FROM norm n JOIN documents d USING (doc_id)
      WHERE len(n.shingles) > 0
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(len(list_intersect(a.hs, b.hs)) * 1.0
                 / least(len(a.hs), len(b.hs)), 6) AS containment
    FROM keyed a JOIN keyed b
      ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE len(list_intersect(a.hs, b.hs)) * 1.0
          / least(len(a.hs), len(b.hs)) >= {CONTAINMENT_THRESHOLD}
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dup: |A ∩ B| / min(|A|, |B|) over
    3-word-shingle hash sets — catches the sub/superset pairs (a doc
    embedded inside a longer one) that symmetric Jaccard misses, the
    standard second pass of a corpus dedup (Broder's containment
    coefficient).

    Blocked on ``lang`` only (no length bucket — containment pairs
    differ in length by construction); the self-join stays an equi-join
    on the block key, and the set math runs on portable int64 shingle
    hashes, so shuffles carry hashes, not text. At 100 TB the lang
    block alone is too coarse — compose with the LSH band join
    (``dedup_minhash_lsh``) as the candidate generator and keep this
    operator as the exact verifier on candidate pairs.
    """
    # Round-14 optimization: pairs + intersection sizes come off the
    # session-materialized ``pair_intersections_table`` (lang blocking
    # is exactly its pair set); the containment ratio below computes
    # the identical double from the identical integers.
    t = Tables(spark, sf_dir)
    p = pair_intersections_table(t)
    containment = F.col("inter") / F.least(F.col("sa"), F.col("sb"))
    return (
        p.withColumn("containment_raw", containment)
        .filter(F.col("containment_raw") >= CONTAINMENT_THRESHOLD)
        .select(
            "doc_a", "doc_b", F.round(F.col("containment_raw"), 6).alias("containment")
        )
    )


FUZZY_EDIT_MAX = 3  # max edit distance for a name-pair match


@register(
    "dedup_fuzzy_name_pairs",
    oracle=f"""
    WITH names AS (
      SELECT p_name, CAST(count(*) AS BIGINT) AS n_parts
      FROM part GROUP BY p_name
    ), blocked AS (
      SELECT p_name, n_parts, string_split(p_name, ' ')[-1] AS block_key
      FROM names
    )
    SELECT a.p_name                                   AS name_a,
           b.p_name                                   AS name_b,
           a.block_key,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist,
           a.n_parts                                  AS n_parts_a,
           b.n_parts                                  AS n_parts_b
    FROM blocked a JOIN blocked b
      ON a.block_key = b.block_key AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= {FUZZY_EDIT_MAX}
    """,
)
def dedup_fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution: fuzzy-match catalog names with blocking.

    The naive form is an O(N^2) cross join with a per-pair edit
    distance; the scale form is (1) collapse to DISTINCT names with
    occurrence counts — the shuffle carries names, not rows — then
    (2) equi-join on a cheap blocking key (here the head noun, i.e.
    the last token) so Levenshtein only runs inside blocks. Both
    engines compute the same Levenshtein, so pairs match
    value-for-value.
    """
    t = Tables(spark, sf_dir)
    names = t.part.groupBy("p_name").agg(F.count(F.lit(1)).alias("n_parts"))
    blocked = names.select(
        "p_name", "n_parts", F.element_at(F.split("p_name", " "), -1).alias("block_key")
    )
    a = blocked.select(
        F.col("p_name").alias("name_a"), F.col("n_parts").alias("n_parts_a"), "block_key"
    )
    b = blocked.select(
        F.col("p_name").alias("name_b"),
        F.col("n_parts").alias("n_parts_b"),
        F.col("block_key").alias("block_b"),
    )
    dist = F.levenshtein(F.col("name_a"), F.col("name_b"))
    return (
        a.join(b, (F.col("block_key") == F.col("block_b")) & (F.col("name_a") < F.col("name_b")))
        .filter(dist <= FUZZY_EDIT_MAX)
        .select(
            "name_a",
            "name_b",
            "block_key",
            dist.cast("long").alias("edit_dist"),
            "n_parts_a",
            "n_parts_b",
        )
    )


# --- incremental MinHash probe against a persisted signature store ---------

STORE_REVIEW_J = 0.5  # pairs at [0.5, 0.8) -> 'review'; >= 0.8 -> 'drop_near'


def _store_probe_oracle() -> str:
    from ..functions.exact import sql_round_int_ratio
    from .corpus import NEW_BATCH_SOURCES

    hcols = ",\n             ".join(_sql_minhash(i) for i in range(N_MINHASH))
    bcols = ", ".join(
        "concat("
        + ", ',', ".join(f"h{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND))
        + f") AS b{b}"
        for b in range(N_BANDS)
    )
    bmatch = " OR ".join(f"a.b{b} = b.b{b}" for b in range(N_BANDS))
    new_in = ", ".join(f"'{s}'" for s in NEW_BATCH_SOURCES)
    inter = "len(list_intersect(sa, sb))"
    uni = f"(len(sa) + len(sb) - {inter})"
    return f"""
    WITH norm AS (
{_SQL_SHINGLES}
    ), sigs AS (
      SELECT n.doc_id, d.source,
             list_distinct(list_transform(n.shingles,
               s -> ('0x' || substr(sha256(s), 1, 15))::BIGINT)) AS bases,
             {hcols}
      FROM (SELECT doc_id, shingles FROM norm) n
      JOIN documents d USING (doc_id)
      WHERE len(n.shingles) > 0
    ), banded AS (
      SELECT doc_id, source, bases, {bcols} FROM sigs
    ), cand AS (
      SELECT DISTINCT a.doc_id AS new_doc, b.doc_id AS store_doc,
             a.bases AS sa, b.bases AS sb
      FROM banded a JOIN banded b ON ({bmatch})
      WHERE a.source IN ({new_in}) AND b.source NOT IN ({new_in})
    )
    SELECT new_doc, store_doc,
           {sql_round_int_ratio(inter, uni)} AS jaccard,
           CASE WHEN 5 * {inter} >= 4 * {uni} THEN 'drop_near'
                ELSE 'review' END AS decision
    FROM cand
    WHERE 2 * {inter} >= {uni}
    """


@register("dedup_minhash_store_probe", oracle=_store_probe_oracle())
def dedup_minhash_store_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup detection for an incoming batch: probe the
    new docs' MinHash signatures against the already-ingested corpus's
    signature store (the near-dup completion of
    ``dedup_incremental_new_docs``, which probes exact hashes only —
    VERDICT r4 item 2's "incremental MinHash against a persisted
    signature store").

    The steady-state 100 TB shape: the store side (band_id, band_key ->
    doc) is a persisted, bucketed table maintained once per ingest; an
    incoming batch re-banded the same way probes it with one equi-join
    on (band_id, band_key) — the full corpus is never re-paired against
    itself, and the probe shuffle is proportional to the BATCH, not the
    store. Candidates are verified with exact Jaccard over the shingle
    hash sets; both the [0.5, 0.8) 'review' band and the >= 0.8
    'drop_near' band are exact integer threshold tests, and the
    reported Jaccard is an exact half-up integer ratio.
    """
    from ..functions.exact import round_int_ratio
    from .corpus import NEW_BATCH_SOURCES

    t = Tables(spark, sf_dir)
    bases_udf = shingle_base_hash_udf(SHINGLE_K)
    norm = (
        cpu_repartition(t.documents, "doc_id")
        .select("doc_id", "source", bases_udf(F.col("text")).alias("bases"))
        .filter(F.size("bases") > 0)
        .localCheckpoint(eager=False)
    )
    sigs = norm.select(
        "doc_id",
        "source",
        *_minhash_cols(F.transform(F.col("bases"), lambda x: x % MERSENNE_P)),
    )
    band_cols = [
        F.concat_ws(
            ",", *[F.col(f"h{b * ROWS_PER_BAND + r}") for r in range(ROWS_PER_BAND)]
        ).alias(f"b{b}")
        for b in range(N_BANDS)
    ]
    banded = sigs.select(
        "doc_id",
        "source",
        F.posexplode(F.array(*band_cols)).alias("band_id", "band_key"),
    ).localCheckpoint(eager=False)
    is_new = F.col("source").isin(*NEW_BATCH_SOURCES)
    probe = banded.filter(is_new).select(
        F.col("doc_id").alias("new_doc"), "band_id", "band_key"
    )
    store = banded.filter(~is_new).select(
        F.col("doc_id").alias("store_doc"), "band_id", "band_key"
    )
    cand = (
        probe.join(store, ["band_id", "band_key"])
        .select("new_doc", "store_doc")
        .distinct()
    )
    a = norm.select(F.col("doc_id").alias("new_doc"), F.col("bases").alias("sa"))
    b_ = norm.select(F.col("doc_id").alias("store_doc"), F.col("bases").alias("sb"))
    inter = F.size(F.array_intersect(F.col("sa"), F.col("sb"))).cast("long")
    uni = (F.size("sa") + F.size("sb")).cast("long") - inter
    return (
        cand.join(a, "new_doc")
        .join(b_, "store_doc")
        .filter(F.lit(2) * inter >= uni)
        .select(
            "new_doc",
            "store_doc",
            round_int_ratio(inter, uni).alias("jaccard"),
            F.when(F.lit(5) * inter >= F.lit(4) * uni, F.lit("drop_near"))
            .otherwise(F.lit("review"))
            .alias("decision"),
        )
    )


# --- SimHash hamming-distance near-dup pairs -------------------------------

SIMHASH_CHUNKS = 4        # 60 bits -> 4 chunks of 15
SIMHASH_HAM_MAX = 3       # pigeonhole: hamming <= 3 => >= 1 chunk equal


def _simhash_sigs_sql() -> str:
    bit_votes = " + ".join(
        f"(CASE WHEN sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) > 0 "
        f"THEN (1::BIGINT << {b}) ELSE 0 END)"
        for b in range(SIMHASH_BITS)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_distinct(
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '))) AS token
      FROM documents
    ), hashed AS (
      SELECT doc_id, ('0x' || substr(sha256(token), 1, 15))::BIGINT AS h
      FROM toks
    ), sigs AS (
      SELECT doc_id, ({bit_votes}) AS simhash
      FROM hashed GROUP BY doc_id
    )
    """


@register(
    "dedup_simhash_pairs",
    oracle=_simhash_sigs_sql()
    + f"""
    , chunks AS (
      SELECT doc_id, simhash, CAST(c AS BIGINT) AS chunk_id,
             (simhash >> (15 * CAST(c AS INTEGER))) & 32767 AS chunk_val
      FROM sigs, unnest(range(0, {SIMHASH_CHUNKS})) AS t(c)
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.simhash AS sa, b.simhash AS sb
      FROM chunks a JOIN chunks b
        ON a.chunk_id = b.chunk_id AND a.chunk_val = b.chunk_val
       AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
    FROM cand WHERE bit_count(xor(sa, sb)) <= {SIMHASH_HAM_MAX}
    """,
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup PAIRS — the pairing step the fingerprint query
    (``dedup_simhash``) feeds: two docs are near-dups when their 60-bit
    fingerprints differ in at most ``SIMHASH_HAM_MAX`` bits. Candidate
    generation is exact by pigeonhole: split the fingerprint into 4
    chunks of 15 bits — hamming <= 3 forces at least one chunk to match
    exactly, so an equi-join on (chunk_id, chunk_val) finds EVERY
    qualifying pair with zero recall loss (Manku et al., WWW'07 — the
    web-dedup production design), then a popcount verifies.

    Scale: the corpus expands 4x into chunk rows; candidates come from
    bucket-sized equi-join groups (never all-pairs) and each verifies
    with one xor+popcount on two int64s — the cheapest verification of
    any near-dup family here (no set intersection, no text).
    """
    sigs = dedup_simhash(spark, sf_dir)
    chunks = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).cast("long").alias("chunk_id"),
                        F.shiftright(F.col("simhash"), 15 * c)
                        .bitwiseAND(32767)
                        .alias("chunk_val"),
                    )
                    for c in range(SIMHASH_CHUNKS)
                ]
            )
        ).alias("c"),
    ).select("doc_id", "simhash", F.col("c.chunk_id"), F.col("c.chunk_val"))
    a = chunks.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sa"),
        "chunk_id", "chunk_val",
    )
    b = chunks.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sb"),
        "chunk_id", "chunk_val",
    )
    cand = (
        a.join(b, ["chunk_id", "chunk_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sa", "sb")
        .distinct()
    )
    ham = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).cast("long")
    return cand.filter(ham <= SIMHASH_HAM_MAX).select(
        "doc_a", "doc_b", ham.alias("hamming")
    )
