"""Independent float anchors for every hand-derived numeric literal
embedded in operator modules (VERDICT r11 item 5: the replica tests
that REUSE a module constant cannot catch a wrong constant — the
twin-sided class — so each literal is re-derived here from its
mathematical definition with arithmetic that shares nothing with the
module). Grep-able inventory: SCALE.md §5n.
"""

from __future__ import annotations

import math


def _halfup_int(num: int, den: int) -> int:
    mag = (2 * abs(num) + den) // (2 * den)
    return -mag if num < 0 else mag


def test_harmonic_closeness_reciprocals():
    """graph_paths.HARM_R1/R2/R3 are half-up 1e12-scaled 1/1, 1/2, 1/3."""
    from mysql_public_data_ingestor_spark.operators import graph_paths

    assert graph_paths.HARM_R1 == _halfup_int(10**12, 1)
    assert graph_paths.HARM_R2 == _halfup_int(10**12, 2)
    assert graph_paths.HARM_R3 == _halfup_int(10**12, 3)


def test_gumbel_constants():
    """roundnine2.GUMBEL_PI / GUMBEL_GAMMA: pi from math, Euler gamma
    re-derived via the Euler–Maclaurin tail (error O(n^-4))."""
    from mysql_public_data_ingestor_spark.operators import stats_dist

    assert stats_dist.GUMBEL_PI == math.pi
    n = 10**6
    h = sum(1.0 / i for i in range(1, n + 1))
    gamma = h - math.log(n) - 1.0 / (2 * n) + 1.0 / (12 * n * n)
    assert abs(stats_dist.GUMBEL_GAMMA - gamma) < 1e-12


def test_holm_critical_ladder():
    """roundtwelve6.HOLM_CRIT_MICRO re-derived by erf bisection:
    chi2_1 quantile at 1 - 0.05/(m - rank + 1) for m = 3."""
    from mysql_public_data_ingestor_spark.operators.stats_rank import HOLM_CRIT_MICRO

    def ppf_norm(p: float) -> float:
        lo, hi = 0.0, 10.0
        for _ in range(200):
            mid = (lo + hi) / 2
            if 0.5 * (1 + math.erf(mid / math.sqrt(2))) < p:
                lo = mid
            else:
                hi = mid
        return (lo + hi) / 2

    for rank, crit in HOLM_CRIT_MICRO.items():
        a = 0.05 / (3 - rank + 1)
        z = ppf_norm(1 - a / 2)
        assert crit == round(z * z * 1e6), (rank, crit, z * z)


def test_rbo_weight_table():
    """ml_ranking.RBO_W_MICRO[d] = round(1e6 (1-p) p^(d-1)), p=0.9."""
    from mysql_public_data_ingestor_spark.operators.ml_ranking import (
        RBO_DEPTH,
        RBO_W_MICRO,
    )

    assert len(RBO_W_MICRO) == RBO_DEPTH
    for d in range(1, RBO_DEPTH + 1):
        assert RBO_W_MICRO[d - 1] == round(1e6 * 0.1 * 0.9 ** (d - 1)), d


def test_pgram_trig_tables():
    """daily_spectral.PGRAM_COSQ/SINQ[p][i] = round(1e3 cos/sin(2 pi i/p))."""
    from mysql_public_data_ingestor_spark.operators.daily_spectral import (
        PGRAM_COSQ,
        PGRAM_PERIODS,
        PGRAM_SINQ,
    )

    for p in PGRAM_PERIODS:
        assert len(PGRAM_COSQ[p]) == p and len(PGRAM_SINQ[p]) == p
        for i in range(p):
            ang = 2 * math.pi * i / p
            assert PGRAM_COSQ[p][i] == round(1e3 * math.cos(ang)), (p, i)
            assert PGRAM_SINQ[p][i] == round(1e3 * math.sin(ang)), (p, i)


def test_det_ln_literals():
    """LN_6_MICRO / LN_1E6_MICRO equal the deterministic fixed-point
    ln of their arguments AND sit within one quantum of libm."""
    from mysql_public_data_ingestor_spark.functions.detmath import ref_det_ln_q
    from mysql_public_data_ingestor_spark.operators.daily_spectral import (
        LN_1E6_MICRO,
        LN_6_MICRO,
    )

    assert LN_6_MICRO == ref_det_ln_q(6.0)
    assert LN_1E6_MICRO == ref_det_ln_q(1e6)
    assert abs(LN_6_MICRO - 1e6 * math.log(6)) <= 1
    assert abs(LN_1E6_MICRO - 1e6 * math.log(1e6)) <= 1
