"""Event-sequence queries over each user's ordered stream.

- Markov chains over the event-type transitions: stationary mix,
  absorbing steps to purchase, entropy rate;
- paths and sessions: path signatures, within-session trigrams,
  session durations and their sensitivity to the gap threshold, the
  Hill tail of the inter-event gap;
- funnels and as-of reads: the time-windowed funnel, nearest-purchase
  attribution, the late-arrival audit and the SCD as-of snapshot.

The per-user order, gap, session ids and transition counts come from
``operators/events.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import dec38, halfup_div, sql_halfup_div
from ..registry import register
from ..tables import Tables
from .events import SESSION_GAP_MIN, type_transitions, user_gap_us, user_order, user_sessions


# ---------------------------------------------------------------------------
# Markov stationary distribution of user event-type transitions
# ---------------------------------------------------------------------------

MARKOV_ITERS = 15
MARKOV_SCALE = 1_000_000  # probability micro-units


def _markov_oracle() -> str:
    parts = [
        f"""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events
    ), trans AS (
      SELECT event_type AS src, nxt AS dst, CAST(count(*) AS BIGINT) AS c
      FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2
    ), rows_t AS (
      SELECT src, CAST(sum(c) AS BIGINT) AS r FROM trans GROUP BY src
    ), pm AS (
      SELECT t.src, t.dst, ({MARKOV_SCALE}::BIGINT * t.c) // rt.r AS p_u
      FROM trans t JOIN rows_t rt USING (src)
    ), states AS (
      SELECT src AS state FROM rows_t
    ), ns AS (
      SELECT CAST(count(*) AS BIGINT) AS n_states FROM states
    ), pi0 AS MATERIALIZED (
      SELECT state, {MARKOV_SCALE}::BIGINT // ns.n_states AS pi_u
      FROM states, ns
    )"""
    ]
    prev = "pi0"
    for i in range(1, MARKOV_ITERS + 1):
        parts.append(
            f"""
    , pi{i} AS MATERIALIZED (
      SELECT p.dst AS state,
             CAST(sum(q.pi_u * p.p_u) // {MARKOV_SCALE} AS BIGINT) AS pi_u
      FROM pm p JOIN {prev} q ON q.state = p.src
      GROUP BY p.dst
    )"""
        )
        prev = f"pi{i}"
    parts.append(
        f"""
    SELECT state AS event_type, pi_u AS stationary_micro,
           CAST(pi_u AS DOUBLE) / {MARKOV_SCALE}.0 AS stationary
    FROM {prev}
    """
    )
    return "".join(parts)


@register("events_markov_stationary", oracle=_markov_oracle())
def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the per-user event-type transition
    chain (15 power iterations from uniform) — where
    ``events_user_path_transitions`` reports one-step probabilities,
    this answers the product question "which state does a user
    session spend its long-run time in".

    Arithmetic is INTEGER end to end (the pagerank discipline,
    hardened): transition probabilities quantize once to micro units
    (1e6 c_ij // r_i), and each iteration is pi'_j = sum_i pi_i *
    p_ij // 1e6 — exact int64 products (<= 1e12), exact integer sums,
    no floating point anywhere until the final display division, so
    both engines run bit-identical chains with NO trunc-of-double
    step at all. The chain runs on the |types|^2 aggregated matrix
    (bounded, broadcast-joined); the only row-scaled work is the
    per-user lead() window (partitioned by user — the sessionization
    shuffle every sequence op in the family already pays) and one
    partial-aggregated count.
    """
    t = Tables(spark, sf_dir)
    trans = type_transitions(t, "c", lead=True).select(
        F.col("from_type").alias("src"), F.col("to_type").alias("dst"), "c"
    )
    rows_t = trans.groupBy("src").agg(F.sum("c").alias("r"))
    pm = (
        trans.join(F.broadcast(rows_t), "src")
        .select(
            "src",
            "dst",
            ((F.lit(MARKOV_SCALE) * F.col("c")) - (F.lit(MARKOV_SCALE) * F.col("c")) % F.col("r"))
            .cast("long")
            .alias("num"),
            "r",
        )
        .select("src", "dst", (F.col("num") / F.col("r")).cast("long").alias("p_u"))
        .localCheckpoint(eager=False)
    )
    ns = rows_t.agg(F.count(F.lit(1)).alias("n_states"))
    pi = rows_t.join(F.broadcast(ns)).select(
        F.col("src").alias("state"),
        (
            (F.lit(MARKOV_SCALE) - F.lit(MARKOV_SCALE) % F.col("n_states"))
            / F.col("n_states")
        )
        .cast("long")
        .alias("pi_u"),
    )
    for _ in range(MARKOV_ITERS):
        acc = (
            pm.join(F.broadcast(pi), F.col("state") == F.col("src"))
            .groupBy("dst")
            .agg(F.sum(F.col("pi_u") * F.col("p_u")).alias("s"))
        )
        pi = acc.select(
            F.col("dst").alias("state"),
            ((F.col("s") - F.col("s") % F.lit(MARKOV_SCALE)) / F.lit(MARKOV_SCALE))
            .cast("long")
            .alias("pi_u"),
        )
    return pi.select(
        F.col("state").alias("event_type"),
        F.col("pi_u").alias("stationary_micro"),
        (F.col("pi_u").cast("double") / F.lit(float(MARKOV_SCALE))).alias("stationary"),
    )


TRANSIENT_STATES = ("click", "error", "signup", "view")


def _perm_terms():
    """(sign, permutation) pairs for the 4x4 determinant expansion —
    the SAME 24 terms drive the Spark expression and the SQL twin."""
    from itertools import permutations as _perms

    out = []
    for p in _perms(range(4)):
        s, q = 1, list(p)
        for i in range(4):
            for j in range(i + 1, 4):
                if q[i] > q[j]:
                    s = -s
        out.append((s, p))
    return out


def _absorb_oracle() -> str:
    from ..functions.exact import sql_round_big_int_ratio

    ts = TRANSIENT_STATES

    def a(r, c):
        # A_rc = cf_r * [r == c] - c_rc  (transient-to-transient)
        base = f"c{r}{c}"
        return f"(cf{r} - {base})" if r == c else f"(- {base} + 0)"

    def a_rhs(col):
        def e(r, c):
            return f"cf{r}" if c == col else a(r, c)

        return e

    def det(entry):
        terms = []
        for s, p in _perm_terms():
            prod = " * ".join(entry(r, p[r]) for r in range(4))
            terms.append(("+ " if s > 0 else "- ") + prod)
        return "(" + " ".join(terms) + ")"

    cell_defs = []
    for r, fr in enumerate(ts):
        cell_defs.append(
            f"CAST(sum(CASE WHEN from_type = '{fr}' THEN c ELSE 0 END) AS HUGEINT) AS cf{r}"
        )
        for c, to in enumerate(ts):
            cell_defs.append(
                f"CAST(sum(CASE WHEN from_type = '{fr}' AND to_type = '{to}' "
                f"THEN c ELSE 0 END) AS HUGEINT) AS c{r}{c}"
            )
    selects = []
    for j, st in enumerate(ts):
        selects.append(
            f"""SELECT '{st}' AS state, CAST(cf{j} AS BIGINT) AS n_out,
               CASE WHEN {det(a)} <> 0 THEN
                 {sql_round_big_int_ratio(det(a_rhs(j)), det(a))}
               END AS expected_steps
        FROM m WHERE {det(a)} <> 0"""
        )
    return f"""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ), trans AS (
      SELECT prev_type AS from_type, event_type AS to_type,
             CAST(count(*) AS BIGINT) AS c
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY 1, 2
    ), m AS (
      SELECT {", ".join(cell_defs)}
      FROM trans
    )
    {" UNION ALL ".join(selects)}
    """


@register("events_absorbing_markov_steps", _absorb_oracle())
def events_absorbing_markov_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected steps to absorption in the user-path Markov chain with
    PURCHASE as the absorbing state: t = (I − Q)⁻¹·1 over the four
    transient event types — "how many more actions until this user
    converts, given where they are now", the absorbing-chain member
    completing the Markov family (stationary mix, entropy rate, and
    now the fundamental-matrix statistic that funnels approximate).

    Exact path: clearing each row's denominator turns (I − Q)t = 1
    into the INTEGER system A t = cf with A = diag(cf) − C (raw
    transition counts), solved per component by Cramer — two 4×4
    determinants per state, each expanded into the same 24
    permutation terms in the Spark plan and the SQL twin (generated
    from one shared _perm_terms table, so a sign error cannot hit
    only one engine — the round-10 Cramer lesson institutionalized).
    det ≤ 24·cf⁴ ≈ 10²⁸ at sf1×10 — inside decimal(38)/HUGEINT; a
    singular system (a closed transient class) empties the output
    identically on both engines.

    One user-keyed lag exchange; everything after lives on a 1-row
    25-cell aggregate.
    """
    from ..functions.exact import round_big_int_ratio

    ts = TRANSIENT_STATES
    t = Tables(spark, sf_dir)
    trans = type_transitions(t, "c")
    aggs = []
    for r, fr in enumerate(ts):
        aggs.append(
            dec38(
                F.sum(F.when(F.col("from_type") == fr, F.col("c")).otherwise(0))
            ).alias(f"cf{r}")
        )
        for c, to in enumerate(ts):
            aggs.append(
                dec38(
                    F.sum(
                        F.when(
                            (F.col("from_type") == fr) & (F.col("to_type") == to),
                            F.col("c"),
                        ).otherwise(0)
                    )
                ).alias(f"c{r}{c}")
            )
    m = trans.agg(*aggs)

    def a(r, c):
        if r == c:
            return F.col(f"cf{r}") - F.col(f"c{r}{c}")
        return -F.col(f"c{r}{c}")

    def det(entry):
        total = None
        for s, p in _perm_terms():
            prod = entry(0, p[0])
            for r in range(1, 4):
                prod = prod * entry(r, p[r])
            term = prod if s > 0 else -prod
            total = term if total is None else total + term
        return total

    # one row per transient state, all read off the same 1-row
    # aggregate (one scan, one lag window); the shared determinant is
    # projected once rather than restated in every row
    dd = F.col("dd")
    rows = []
    for j, st in enumerate(ts):

        def entry_j(r, c, _j=j):
            return F.col(f"cf{r}") if c == _j else a(r, c)

        rows.append(
            F.struct(
                F.lit(st).alias("state"),
                F.col(f"cf{j}").cast("long").alias("n_out"),
                F.when(dd != 0, round_big_int_ratio(det(entry_j), dd)).alias(
                    "expected_steps"
                ),
            )
        )
    return (
        m.select("*", det(a).alias("dd"))
        .filter(dd != 0)
        .select(F.inline(F.array(*rows)))
    )


# ---------------------------------------------------------------------------
# Entropy rate of the user-path Markov chain
# ---------------------------------------------------------------------------


def _markov_entropy_oracle() -> str:
    from ..functions.detmath import sql_det_ln_steps

    return f"""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ), trans AS (
      SELECT prev_type AS from_type, event_type AS to_type,
             CAST(count(*) AS BIGINT) AS c
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY 1, 2
    ), rowsum AS (
      SELECT from_type, CAST(sum(c) AS BIGINT) AS cf FROM trans GROUP BY 1
    ), cells AS (
      SELECT t.from_type, t.to_type, t.c, r.cf
      FROM trans t JOIN rowsum r USING (from_type)
    ), {sql_det_ln_steps('cells', 'c', 'lc')},
    withcf AS (SELECT *, cf AS arg_cf FROM lc_rel),
    {sql_det_ln_steps('withcf', 'arg_cf', 'lcf')},
    agg AS (
      SELECT CAST(sum(c) AS BIGINT) AS n_transitions,
             CAST(count(DISTINCT from_type) AS BIGINT) AS n_states,
             CAST(count(*) AS BIGINT) AS n_edges,
             CAST(sum(c * (lcf - lc)) AS BIGINT) AS hsum
      FROM lcf_rel
    ), witha AS (SELECT *, n_states AS arg_m FROM agg),
    {sql_det_ln_steps('witha', 'arg_m', 'lnm')}
    SELECT n_transitions, n_states, n_edges,
           {sql_halfup_div('hsum', 'n_transitions')} / 1000000.0
             AS entropy_rate_nats,
           lnm / 1000000.0 AS ln_states
    FROM lnm_rel
    """


@register("events_markov_entropy_rate", oracle=_markov_entropy_oracle())
def events_markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical entropy rate of the user-path Markov chain:
    H = −Σ_ij p̂(i,j)·ln p̂(j|i) = Σ_ij (c_ij/C)·(ln c_i• − ln c_ij)
    over the consecutive-event transition counts — the
    predictability summary of the whole path model the family
    already materializes (events_user_path_transitions is the kernel,
    events_markov_stationary its long-run mix; the entropy rate says
    in one number how deterministic user behavior is, with ln(#states)
    as the ceiling).

    Pairing is the house (ts, event_id)-ordered lag window per user —
    one user-keyed exchange, then everything lives on the ≤ 5×5
    transition grid: every ln is det_ln_q on an exact integer count
    (< 2⁵³ at any scale), the H sum an int64 accumulation, the rate
    one shared half-up division quantized at micro-nats.
    """
    from ..functions.detmath import det_ln_q

    t = Tables(spark, sf_dir)
    trans = type_transitions(t, "c")
    rowsum = trans.groupBy("from_type").agg(F.sum("c").alias("cf"))
    cells = trans.join(F.broadcast(rowsum), "from_type")
    agg = cells.agg(
        F.sum("c").alias("n_transitions"),
        F.countDistinct("from_type").alias("n_states"),
        F.count(F.lit(1)).alias("n_edges"),
        F.sum(
            F.col("c") * (det_ln_q(F.col("cf")) - det_ln_q(F.col("c")))
        ).alias("hsum"),
    )
    return agg.select(
        "n_transitions",
        "n_states",
        "n_edges",
        (
            halfup_div(F.col("hsum"), F.col("n_transitions")).cast("long")
            / F.lit(1e6)
        ).alias("entropy_rate_nats"),
        (det_ln_q(F.col("n_states")) / F.lit(1e6)).alias("ln_states"),
    )


# ---------------------------------------------------------------------------
# Session path-signature mining (first-4-event funnels)
# ---------------------------------------------------------------------------

PATHSIG_LEN = 4
PATHSIG_TOPK = 20


def _pathsig_oracle() -> str:
    from ..functions.exact import sql_round_int_ratio

    return f"""
    WITH numbered AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events
    ), per AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n_events,
             max(CASE WHEN rn = 1 THEN event_type END) AS e1,
             max(CASE WHEN rn = 2 THEN event_type END) AS e2,
             max(CASE WHEN rn = 3 THEN event_type END) AS e3,
             max(CASE WHEN rn = 4 THEN event_type END) AS e4,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      FROM numbered GROUP BY user_id
    ), sig AS (
      SELECT e1 || '>' || e2 || '>' || e3 || '>' || e4 AS signature,
             CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(conv) AS BIGINT) AS n_converted
      FROM per
      WHERE n_events >= {PATHSIG_LEN}
        AND e1 IS NOT NULL AND e2 IS NOT NULL
        AND e3 IS NOT NULL AND e4 IS NOT NULL
      GROUP BY 1
    )
    SELECT signature, n_users, n_converted,
           {sql_round_int_ratio('n_converted', 'n_users')} AS conversion
    FROM sig ORDER BY n_users DESC, signature LIMIT {PATHSIG_TOPK}
    """


@register("events_funnel_path_signatures", oracle=_pathsig_oracle())
def events_funnel_path_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Onboarding path-signature mining: the top observed
    first-4-event paths across USER LIFETIMES, each with its user
    count and conversion rate (did the user EVER purchase) — the
    discovery complement of the fixed funnel
    (``events_funnel_time_windowed`` checks ONE prescribed path; this
    surfaces which opening journeys actually occur and which convert
    — the onboarding-analysis artifact). Anchored at user start
    rather than session start because the event stream's sessions are
    near-singleton (max 3 events at fixture scale) while user
    histories are long — the same miner re-anchors by changing one
    partitioning key.

    One user-keyed window ranks each user's history; the per-user
    pivot (first four events + any-purchase flag) is one user-keyed
    aggregate reusing the SAME shuffle; signature domain is
    <= |event_types|^4, so the final aggregate and TakeOrdered top-k
    are bounded. NULL parity is explicit: users with fewer than 4
    events are filtered on BOTH engines (no concat_ws null-skipping).
    """
    from ..functions.exact import round_int_ratio

    t = Tables(spark, sf_dir)
    numbered = t.events.select("user_id", "ts", "event_id", "event_type").withColumn(
        "rn", F.row_number().over(user_order())
    )
    per = numbered.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        *[
            F.max(F.when(F.col("rn") == i, F.col("event_type"))).alias(f"e{i}")
            for i in range(1, PATHSIG_LEN + 1)
        ],
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("conv"),
    )
    ok = per.filter(
        (F.col("n_events") >= PATHSIG_LEN)
        & F.col("e1").isNotNull()
        & F.col("e2").isNotNull()
        & F.col("e3").isNotNull()
        & F.col("e4").isNotNull()
    )
    sig = (
        ok.select(
            F.concat_ws(">", "e1", "e2", "e3", "e4").alias("signature"), "conv"
        )
        .groupBy("signature")
        .agg(F.count(F.lit(1)).alias("n_users"), F.sum("conv").alias("n_converted"))
    )
    out = sig.select(
        "signature",
        "n_users",
        "n_converted",
        round_int_ratio(F.col("n_converted"), F.col("n_users")).alias("conversion"),
    )
    return out.orderBy(F.col("n_users").desc(), "signature").limit(PATHSIG_TOPK)


# ---------------------------------------------------------------------------
# Sequential patterns: top session event-type trigrams
# ---------------------------------------------------------------------------

SEQPAT_TOPK = 20


def _seqpat_oracle() -> str:

    return f"""
    WITH flagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                       > {SESSION_GAP_MIN} * 60000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, ts, event_id, event_type,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM flagged
    ), grams AS (
      SELECT event_type AS e1,
             lead(event_type, 1) OVER w2 AS e2,
             lead(event_type, 2) OVER w2 AS e3,
             session_id,
             lead(session_id, 2) OVER w2 AS sid3
      FROM sessions
      WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), pat AS (
      SELECT e1 || '>' || e2 || '>' || e3 AS pattern,
             CAST(count(*) AS BIGINT) AS n
      FROM grams
      WHERE sid3 = session_id
        AND e1 IS NOT NULL AND e2 IS NOT NULL AND e3 IS NOT NULL
      GROUP BY 1
    )
    SELECT pattern, n FROM pat
    ORDER BY n DESC, pattern LIMIT {SEQPAT_TOPK}
    """


@register("events_sequential_patterns_topk", oracle=_seqpat_oracle())
def events_sequential_patterns_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern mining, bounded to length-3: the most
    frequent consecutive event-type trigrams WITHIN a session (same
    30-min-gap sessionization as ``events_sessionization``) — the
    contiguous-sequence member of the product-analytics family
    (funnels check ONE fixed path; this surfaces the top observed
    paths), VERDICT r8 item 6's "sequential-pattern mining off the
    sessionization shuffle".

    One user-keyed shuffle serves both the session ids and the
    two-step lead() gram assembly (same window); a trigram survives
    only if its third event is still in the SAME session (lead of the
    cumulative session id equals the current one — cheaper than two
    boundary checks and exactly equivalent). The global top-k is a
    TakeOrderedAndProject over the (pattern → count) aggregate, whose
    domain is |event_types|^3, not rows. Tie-break on the pattern
    string keeps the cross-engine hash stable.
    """
    t = Tables(spark, sf_dir)
    sessions = user_sessions(t.events.select("user_id", "ts", "event_id", "event_type"))
    w = user_order()
    grams = sessions.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
        "session_id",
        F.lead("session_id", 2).over(w).alias("sid3"),
    )
    # NULL parity (ADVICE r9): concat_ws SKIPS null components while the
    # oracle's || propagates them — a NULL event_type would make Spark
    # count a malformed 2-part pattern the oracle drops. Both engines
    # now filter null components explicitly, so the semantics agree for
    # any input, not just the null-free fixtures.
    pat = (
        grams.filter(
            (F.col("sid3") == F.col("session_id"))
            & F.col("e1").isNotNull()
            & F.col("e2").isNotNull()
            & F.col("e3").isNotNull()
        )
        .select(F.concat_ws(">", "e1", "e2", "e3").alias("pattern"))
        .groupBy("pattern")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return pat.orderBy(F.col("n").desc(), "pattern").limit(SEQPAT_TOPK)


# ---------------------------------------------------------------------------
# Session duration distribution (fixed minute buckets)
# ---------------------------------------------------------------------------

SESSDUR_EDGES = (1, 5, 15, 30, 60)  # minutes; bucket 0 = [0,1), last = 60+


def _sessdur_bucket_sql(col: str) -> str:
    cases = []
    for i, hi in enumerate(SESSDUR_EDGES):
        cases.append(f"WHEN {col} < {hi} THEN {i}")
    return "CASE " + " ".join(cases) + f" ELSE {len(SESSDUR_EDGES)} END"


def _sessdur_oracle() -> str:
    from ..functions.exact import sql_round_int_ratio

    return f"""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                       > {SESSION_GAP_MIN} * 60000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id,
             ts
      FROM flagged
    ), per AS (
      SELECT (epoch_us(max(ts)) - epoch_us(min(ts))) // 60000000 AS dur_min
      FROM sessions GROUP BY user_id, session_id
    ), bucketed AS (
      SELECT CAST({_sessdur_bucket_sql('dur_min')} AS BIGINT) AS bucket,
             CAST(count(*) AS BIGINT) AS n_sessions
      FROM per GROUP BY 1
    ), tot AS (SELECT CAST(sum(n_sessions) AS BIGINT) AS t FROM bucketed)
    SELECT b.bucket, b.n_sessions,
           {sql_round_int_ratio('b.n_sessions', 't.t')} AS share
    FROM bucketed b, tot t ORDER BY b.bucket
    """


@register("events_session_duration_histogram", oracle=_sessdur_oracle())
def events_session_duration_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session duration distribution over fixed minute buckets
    ([0,1), [1,5), [5,15), [15,30), [30,60), 60+): the engagement
    SHAPE metric the sessionization family was missing —
    ``events_sessionization`` enumerates sessions, DAU/MAU counts
    them; product teams read duration MIX (bounce share vs long-tail
    share) off exactly this histogram.

    Same one-shuffle lag/cumsum sessionization kernel; durations are
    exact integer minute floors of microsecond spans, buckets are a
    literal CASE ladder (no percentile pass), shares exact half-up
    ratios. Output is <= 6 rows regardless of scale.
    """
    from ..functions.exact import round_int_ratio

    t = Tables(spark, sf_dir)
    sessions = user_sessions(t.events.select("user_id", "ts", "event_id"))
    per = sessions.groupBy("user_id", "session_id").agg(
        F.expr("(unix_micros(max(ts)) - unix_micros(min(ts))) div 60000000").alias(
            "dur_min"
        )
    )
    bucket = F.when(F.col("dur_min") < SESSDUR_EDGES[0], 0)
    for i, hi in enumerate(SESSDUR_EDGES[1:], start=1):
        bucket = bucket.when(F.col("dur_min") < hi, i)
    bucket = bucket.otherwise(len(SESSDUR_EDGES)).cast("long")
    bucketed = per.select(bucket.alias("bucket")).groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_sessions")
    )
    tot = bucketed.agg(F.sum("n_sessions").alias("t"))
    return bucketed.crossJoin(F.broadcast(tot)).select(
        "bucket",
        "n_sessions",
        round_int_ratio(F.col("n_sessions"), F.col("t")).alias("share"),
    )


# ---------------------------------------------------------------------------
# Session-count sensitivity curve across gap thresholds
# ---------------------------------------------------------------------------

SESSION_GAPS_S = (300, 900, 1800, 3600, 7200)


def _gap_sensitivity_oracle() -> str:
    hd = sql_halfup_div
    per_thr = " UNION ALL ".join(
        f"""
    SELECT {thr}::BIGINT AS gap_s,
           (SELECT n_users FROM tot) AS n_users,
           (SELECT n_events FROM tot) AS n_events,
           (SELECT n_users FROM tot)
             + (SELECT CAST(coalesce(sum(CASE WHEN g > {thr}::BIGINT * 1000000
                                         THEN 1 ELSE 0 END), 0) AS BIGINT)
                FROM gaps WHERE g IS NOT NULL) AS n_sessions"""
        for thr in SESSION_GAPS_S
    )
    return f"""
    WITH gaps AS (
      SELECT epoch_us(ts) - lag(epoch_us(ts)) OVER w AS g
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), tot AS (
      SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events
    ), levels AS ({per_thr})
    SELECT gap_s, n_users, n_events, n_sessions,
           CAST({hd('1000000::HUGEINT * n_sessions', 'n_users')} AS BIGINT)
             AS sessions_per_user_micro,
           CAST({hd('1000000::HUGEINT * n_events', 'n_sessions')} AS BIGINT)
             AS events_per_session_micro
    FROM levels ORDER BY gap_s
    """


@register("events_session_gap_sensitivity", _gap_sensitivity_oracle())
def events_session_gap_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-count sensitivity curve: for each candidate inactivity
    timeout (5m/15m/30m/1h/2h), the total session count (= users +
    gaps exceeding the timeout), sessions per user, and events per
    session. THE capacity-planning input for every session-keyed
    stage: ``events_sessionization`` materializes sessions at ONE
    fixed gap — this prices the whole policy ladder in one pass, the
    same policy-pricing-curve shape as ``dedup_lsh_band_tuning_curve``
    and ``corpus_truncation_loss_curve`` (pick the knee, then run the
    expensive materialization once). A flat curve says the timeout
    barely matters (bursty usage with long silences); a steep one says
    session state size is dominated by the policy choice.

    Exactness: session counts are exact integers (sessions = users +
    #(gap > T), the per-user telescoping identity); the two ratios are
    single half-up 1e-6 divisions per threshold.

    Scale shape: one user-partitioned lag (hash-parallel, never a
    global window) feeding ONE aggregate that evaluates all five
    thresholds as conditional sums (literals — no per-threshold scan);
    the 5-row curve is scalar algebra after.
    """
    t = Tables(spark, sf_dir)
    gaps = t.events.select(user_gap_us().alias("g"))
    over = gaps.agg(
        *[
            F.sum(F.when(F.col("g") > thr * 1_000_000, 1).otherwise(0))
            .cast("long")
            .alias(f"o_{i}")
            for i, thr in enumerate(SESSION_GAPS_S)
        ]
    )
    tot = t.events.agg(
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    levels = (
        tot.crossJoin(F.broadcast(over))
        .select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(thr).cast("long").alias("gap_s"),
                            F.col("n_users").alias("n_users"),
                            F.col("n_events").alias("n_events"),
                            (F.col("n_users") + F.coalesce(F.col(f"o_{i}"), F.lit(0)))
                            .cast("long")
                            .alias("n_sessions"),
                        )
                        for i, thr in enumerate(SESSION_GAPS_S)
                    ]
                )
            ).alias("s")
        )
        .select("s.*")
    )
    m6 = F.lit(1_000_000).cast("decimal(38,0)")
    return levels.select(
        "gap_s",
        "n_users",
        "n_events",
        "n_sessions",
        halfup_div(m6 * dec38(F.col("n_sessions")), dec38(F.col("n_users")))
        .cast("long")
        .alias("sessions_per_user_micro"),
        halfup_div(m6 * dec38(F.col("n_events")), dec38(F.col("n_sessions")))
        .cast("long")
        .alias("events_per_session_micro"),
    ).orderBy("gap_s")


# ---------------------------------------------------------------------------
# Hill tail-index estimator on inter-event gaps
# ---------------------------------------------------------------------------

HILL_K = 100  # tail order statistics used (k+1 fetched)


def _hill_oracle() -> str:
    from ..functions.detmath import sql_det_ln_steps

    hd = sql_halfup_div
    return f"""
    WITH gaps AS (
      SELECT epoch_us(ts) - lag(epoch_us(ts)) OVER w AS g
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), pos AS (
      SELECT g FROM gaps WHERE g IS NOT NULL AND g > 0
    ), nn AS (SELECT CAST(count(*) AS BIGINT) AS n_gaps FROM pos),
    top AS (
      SELECT g FROM pos ORDER BY g DESC LIMIT {HILL_K + 1}
    ), {sql_det_ln_steps('top', 'g', 'lg')},
    thr AS (
      SELECT CAST(min(g) AS BIGINT) AS g_k1, CAST(min(lg) AS BIGINT) AS l_k1,
             CAST(count(*) AS BIGINT) AS n_top
      FROM lg_rel
    ), s AS (
      SELECT CAST(sum(l.lg - t.l_k1) AS HUGEINT) AS sum_micro,
             CAST(max(t.n_top) AS BIGINT) AS n_top,
             CAST(max(t.g_k1) AS BIGINT) AS g_k1
      FROM lg_rel l, thr t
    )
    SELECT nn.n_gaps, s.n_top - 1 AS k, s.g_k1 AS threshold_us,
           CASE WHEN s.sum_micro > 0 THEN
             CAST({hd('1000000000000::HUGEINT * (s.n_top - 1)', 's.sum_micro')}
                  AS DOUBLE) / 1000000
           END AS hill_alpha
    FROM s, nn
    """


@register("events_hill_tail_interevent", oracle=_hill_oracle())
def events_hill_tail_interevent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill tail-index estimate of the inter-event-time distribution:
    alpha = k / sum_{i<=k} (ln x_(i) - ln x_(k+1)) over the k largest
    per-user gaps — the standard heavy-tail exponent estimator, the
    parametric complement to ``events_interarrival_burstiness`` (CV
    says the process is bursty; Hill says HOW heavy the silence tail
    is, which drives session-timeout and state-TTL sizing).

    Determinism path: gaps in exact epoch-microseconds from a
    user-partitioned lag (never a global window); the top k+1 gaps are
    selected by VALUE (ties at the cut contribute identical values, so
    the multiset — and every downstream number — is order-free); lns
    come from the shared deterministic fixed-point ln
    (``functions.detmath``, micro-quantized int64s in BOTH engines), so
    the sum is exact-integer and the final ratio one half-up division.
    Rows whose gap ties the threshold contribute exactly 0, so boundary
    tie-resolution cannot move the estimate.

    Scale shape: the per-user lag partitions by user_id (hash-parallel
    at any scale); the tail fetch is a TakeOrderedAndProject of k+1
    rows; everything after runs on <= 101 rows.
    """
    from ..functions.detmath import det_ln_q

    t = Tables(spark, sf_dir)
    gaps = t.events.select(user_gap_us().alias("g")).filter(F.col("g").isNotNull() & (F.col("g") > 0))
    nn = gaps.agg(F.count(F.lit(1)).cast("long").alias("n_gaps"))
    top = gaps.orderBy(F.col("g").desc()).limit(HILL_K + 1)
    lg = top.select("g", det_ln_q(F.col("g")).alias("lg"))
    thr = lg.agg(
        F.min("g").cast("long").alias("g_k1"),
        F.min("lg").cast("long").alias("l_k1"),
        F.count(F.lit(1)).cast("long").alias("n_top"),
    )
    s = lg.crossJoin(F.broadcast(thr)).agg(
        F.sum(dec38(F.col("lg") - F.col("l_k1"))).alias("sum_micro"),
        F.max("n_top").alias("n_top"),
        F.max("g_k1").alias("g_k1"),
    )
    return s.crossJoin(F.broadcast(nn)).select(
        "n_gaps",
        (F.col("n_top") - 1).cast("long").alias("k"),
        F.col("g_k1").alias("threshold_us"),
        F.when(
            F.col("sum_micro") > 0,
            halfup_div(
                F.lit(10**12).cast("decimal(38,0)") * (F.col("n_top") - 1),
                F.col("sum_micro"),
            ).cast("double")
            / F.lit(1e6),
        ).alias("hill_alpha"),
    )


# ---------------------------------------------------------------------------
# Time-constrained funnel (conversion within a window)
# ---------------------------------------------------------------------------

FUNNEL_WINDOW_MIN = 60  # purchase must follow the first click within 1h


def _funnel_tw_oracle() -> str:
    from ..functions.exact import sql_round_int_ratio

    rate = sql_round_int_ratio("(SELECT count(*) FROM conv)", "count(*)")
    return f"""
    WITH clicks AS (
      SELECT user_id, min(ts) AS first_click FROM events
      WHERE event_type = 'click' GROUP BY user_id
    ), conv AS (
      SELECT c.user_id, min(e.ts) AS first_purchase
      FROM clicks c JOIN events e
        ON e.user_id = c.user_id AND e.event_type = 'purchase'
       AND e.ts > c.first_click
       AND e.ts <= c.first_click + INTERVAL {FUNNEL_WINDOW_MIN} MINUTE
      GROUP BY 1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_clickers,
           CAST((SELECT count(*) FROM conv) AS BIGINT) AS n_converted,
           {rate} AS conversion_rate
    FROM clicks
    """


@register("events_funnel_time_windowed", oracle=_funnel_tw_oracle())
def events_funnel_time_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-constrained funnel: of the users who clicked, how many
    purchased WITHIN 60 minutes of their first click — the
    attribution-window variant of ``events_funnel_view_click_purchase``
    (unbounded ordering there, bounded latency here; marketing/abuse
    funnels are almost always window-bounded in production).

    Scale: first-click table is one user_id aggregate; the conversion
    probe joins purchases on user_id with the window as a residual
    range predicate on the co-partitioned join — no theta join, no
    per-user event history materialized. Conversion rate is an exact
    half-up integer ratio (``round_int_ratio``).
    """
    from ..functions.exact import round_int_ratio

    t = Tables(spark, sf_dir)
    clicks = (
        t.events.where(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_click"))
    )
    purchases = t.events.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts")
    )
    conv = (
        clicks.join(purchases, "user_id")
        .where(
            (F.col("p_ts") > F.col("first_click"))
            & (
                F.col("p_ts")
                <= F.col("first_click") + F.expr(f"INTERVAL {FUNNEL_WINDOW_MIN} MINUTE")
            )
        )
        .groupBy("user_id")
        .agg(F.min("p_ts").alias("first_purchase"))
    )
    n_clickers = clicks.agg(F.count(F.lit(1)).alias("n_clickers"))
    n_conv = conv.agg(F.count(F.lit(1)).alias("n_converted"))
    return n_clickers.crossJoin(F.broadcast(n_conv)).select(
        "n_clickers",
        "n_converted",
        round_int_ratio(F.col("n_converted"), F.col("n_clickers")).alias(
            "conversion_rate"
        ),
    )


# ---------------------------------------------------------------------------
# Nearest-event as-of attribution (purchase -> closest view)
# ---------------------------------------------------------------------------

ASOF_NEAR_EDGES_MIN = (1, 5, 30, 120, 1440)  # minutes; last bucket = beyond


def _asof_near_bucket_sql(col: str) -> str:
    cases = " ".join(
        f"WHEN {col} < {m}::BIGINT * 60000000 THEN {i}"
        for i, m in enumerate(ASOF_NEAR_EDGES_MIN)
    )
    return f"CASE {cases} ELSE {len(ASOF_NEAR_EDGES_MIN)} END"


def _asof_nearest_oracle() -> str:
    from ..functions.exact import sql_round_int_ratio

    return f"""
    WITH p AS (
      SELECT user_id, event_id, epoch_us(ts) AS us
      FROM events WHERE event_type = 'purchase'
    ), v AS (
      SELECT user_id, epoch_us(ts) AS us
      FROM events WHERE event_type = 'view'
    ), nearest AS (
      SELECT p.user_id, p.event_id,
             min(abs(p.us - v.us)) AS gap_us
      FROM p JOIN v USING (user_id)
      GROUP BY p.user_id, p.event_id
    ), bucketed AS (
      SELECT CAST({_asof_near_bucket_sql('gap_us')} AS BIGINT) AS bucket,
             CAST(count(*) AS BIGINT) AS n_purchases
      FROM nearest GROUP BY 1
    ), tot AS (SELECT CAST(sum(n_purchases) AS BIGINT) AS t FROM bucketed)
    SELECT b.bucket, b.n_purchases,
           {sql_round_int_ratio('b.n_purchases', 't.t')} AS share
    FROM bucketed b, tot t ORDER BY b.bucket
    """


@register("events_asof_nearest_attribution", oracle=_asof_nearest_oracle())
def events_asof_nearest_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor as-of attribution: for every purchase, the
    time gap to the user's CLOSEST view in either direction, bucketed
    into a fixed minute ladder (<1m / <5m / <30m / <2h / <1d /
    beyond) — the NEAREST-direction member of the as-of join family
    (``events_scd_asof_snapshot`` is backward-only; last-touch
    attribution is backward with a horizon; "nearest" is the
    symmetric variant ad-attribution models use when view logs and
    purchase logs have clock skew in either direction).

    The nearest gap per purchase is a user-keyed equi-join between
    the two PER-USER event subsets (pair volume bounded by per-user
    activity squared — the sessionization family's standing
    assumption, not data-scaled), reduced by a (user, purchase)
    min aggregate; the histogram is a literal CASE ladder, <= 6 rows
    out, shares exact half-up ratios.
    """
    from ..functions.exact import round_int_ratio

    t = Tables(spark, sf_dir)
    p = t.events.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", F.unix_micros(F.col("ts")).alias("us_p")
    )
    v = t.events.filter(F.col("event_type") == "view").select(
        "user_id", F.unix_micros(F.col("ts")).alias("us_v")
    )
    nearest = (
        p.join(v, "user_id")
        .groupBy("user_id", "event_id")
        .agg(F.min(F.abs(F.col("us_p") - F.col("us_v"))).alias("gap_us"))
    )
    bucket = F.when(F.col("gap_us") < ASOF_NEAR_EDGES_MIN[0] * 60_000_000, 0)
    for i, m in enumerate(ASOF_NEAR_EDGES_MIN[1:], start=1):
        bucket = bucket.when(F.col("gap_us") < m * 60_000_000, i)
    bucket = bucket.otherwise(len(ASOF_NEAR_EDGES_MIN)).cast("long")
    bucketed = nearest.select(bucket.alias("bucket")).groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_purchases")
    )
    tot = bucketed.agg(F.sum("n_purchases").alias("t"))
    return bucketed.crossJoin(F.broadcast(tot)).select(
        "bucket",
        "n_purchases",
        round_int_ratio(F.col("n_purchases"), F.col("t")).alias("share"),
    )


# ---------------------------------------------------------------------------
# Late-arrival audit (watermark-tuning diagnostic)
# ---------------------------------------------------------------------------

LATE_BUCKETS_S = [0, 60, 300, 900, 3600]  # lateness histogram edges (seconds)


@register(
    "events_late_arrival_audit",
    oracle=f"""
    WITH ordered AS (
      SELECT user_id, ts,
             max(ts) OVER (PARTITION BY user_id ORDER BY event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS high_water
      FROM events
    ), late AS (
      SELECT CAST(date_diff('second', ts, high_water) AS BIGINT) AS late_s
      FROM ordered WHERE high_water IS NOT NULL AND ts < high_water
    ), bucketed AS (
      SELECT CAST(CASE
               {" ".join(f"WHEN late_s < {hi} THEN {lo}" for lo, hi in zip(LATE_BUCKETS_S, LATE_BUCKETS_S[1:]))}
               ELSE {LATE_BUCKETS_S[-1]} END AS BIGINT) AS bucket_lo_s
      FROM late
    )
    SELECT bucket_lo_s, CAST(count(*) AS BIGINT) AS n_late_events
    FROM bucketed GROUP BY bucket_lo_s
    """,
)
def events_late_arrival_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-order-arrival audit: treating event_id as arrival order,
    how late (vs the per-user event-time high-water mark) do events
    arrive, bucketed into a lateness histogram — the diagnostic that
    picks a Structured Streaming WATERMARK: each bucket's count is
    exactly the data a `withWatermark` of that delay would drop or
    keep, measured on the real stream's history instead of guessed.

    Scale: one per-user ordered window (running max over arrival
    order — partitioned, never global), then a |buckets|-row
    aggregate. The same audit over a 100 TB event archive is one
    shuffle on the session key.
    """
    t = Tables(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ordered = t.events.select(
        "user_id", "ts", F.max("ts").over(w).alias("high_water")
    )
    late = ordered.where(
        F.col("high_water").isNotNull() & (F.col("ts") < F.col("high_water"))
    ).select(
        (F.unix_timestamp("high_water") - F.unix_timestamp("ts"))
        .cast("long")
        .alias("late_s")
    )
    bucket = None
    for lo, hi in zip(LATE_BUCKETS_S, LATE_BUCKETS_S[1:]):
        cond = F.col("late_s") < hi
        bucket = F.when(cond, lo) if bucket is None else bucket.when(cond, lo)
    bucket = bucket.otherwise(LATE_BUCKETS_S[-1]).cast("long")
    return (
        late.select(bucket.alias("bucket_lo_s"))
        .groupBy("bucket_lo_s")
        .agg(F.count(F.lit(1)).alias("n_late_events"))
    )


# ---------------------------------------------------------------------------
# SCD-style as-of snapshot (latest state per key at a point in time)
# ---------------------------------------------------------------------------

ASOF_CUTOFF = "2024-01-15 00:00:00"


@register(
    "events_scd_asof_snapshot",
    oracle=f"""
    SELECT user_id, event_id AS last_event_id, event_type AS last_event_type,
           ts AS last_ts, n_before
    FROM (
      SELECT user_id, event_id, event_type, ts,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn,
             CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_before
      FROM events WHERE ts <= TIMESTAMP '{ASOF_CUTOFF}'
    ) WHERE rn = 1
    """,
)
def events_scd_asof_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time state reconstruction: each user's LATEST event at a
    literal cutoff — the slowly-changing-dimension / CDC-compaction
    primitive ("what did the table look like on the 15th?") that every
    warehouse upsert pipeline replays.

    Scale: the cutoff filter pushes to the scan; one user_id shuffle;
    the rank filter is a WindowGroupLimit (per-partition top-1 runs
    BELOW the exchange, so the shuffle carries at most one candidate
    row per (task, user), not the user's history). Deterministic
    tie-break (ts, event_id) makes the snapshot reproducible — the
    property that lets two clusters agree on a rebuilt state table.
    """
    t = Tables(spark, sf_dir)
    ev = t.events.where(F.col("ts") <= F.lit(ASOF_CUTOFF).cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    wc = Window.partitionBy("user_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .withColumn("n_before", F.count(F.lit(1)).over(wc).cast("long"))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("event_type").alias("last_event_type"),
            F.col("ts").alias("last_ts"),
            "n_before",
        )
    )
