"""Round-11 direct batch F gate (``operators/roundeleven7.py``):
raw-frame oracle parity, plan bars, and an
independent Python replica with a float anchor for the Breusch–Pagan
heteroscedasticity test.
"""

from __future__ import annotations

from collections import defaultdict

from mysql_public_data_ingestor_spark.operators.daily import BP_RES_SCALE
from mysql_public_data_ingestor_spark.tables import Tables
from tools.check_correctness import compare, duck_connection

NAME = "stats_breusch_pagan_daily"


def _spec(name):
    from mysql_public_data_ingestor_spark import registry

    registry._ensure_loaded()
    return registry._REGISTRY[name]


def _halfup_int(num: int, den: int) -> int:
    mag = (2 * abs(num) + den) // (2 * den)
    return -mag if num < 0 else mag


def test_registered_with_oracle():
    spec = _spec(NAME)
    assert spec.oracle is not None


def test_query_matches_oracle(spark, sf_dir):
    spec = _spec(NAME)
    sdf = spec.fn(spark, sf_dir).toPandas()
    con = duck_connection(sf_dir)
    try:
        odf = con.execute(spec.oracle).fetchdf()
    finally:
        con.close()
    problems = compare(NAME, sdf, odf)
    assert not problems, f"{NAME}: {problems}"


def test_plan_bars(spark, sf_dir):
    from mysql_public_data_ingestor_spark.plans import assert_no_cartesian

    assert_no_cartesian(_spec(NAME).fn(spark, sf_dir))


def test_bp_matches_python(spark, sf_dir):
    """Independent replica: exact big-int OLS residuals, the same
    staged half-up quantization, plus a FLOAT anchor against the plain
    Breusch–Pagan formula fit in float arithmetic (guards the
    twin-sided class: an algebra error replicated into the SQL twin is
    invisible to oracle parity — SCALE §5i.11)."""
    pdf = Tables(spark, sf_dir).orders.select("o_orderdate").toPandas()
    acc: dict = defaultdict(int)
    for v in pdf["o_orderdate"]:
        acc[v.date() if hasattr(v, "date") else v] += 1
    days = sorted(acc.items())
    n = len(days)
    ys = [y for _, y in days]
    ks = list(range(1, n + 1))
    sk = sum(ks)
    skk = sum(k * k for k in ks)
    sy = sum(ys)
    sky = sum(k * y for k, y in zip(ks, ys))
    d = n * skk - sk * sk
    b = n * sky - sk * sy
    us = [
        _halfup_int(
            BP_RES_SCALE * (n * d * y - d * sy + b * sk - n * b * k), n * d
        )
        for k, y in zip(ks, ys)
    ]
    zs = [u * u for u in us]
    sz = sum(zs)
    skz = sum(k * z for k, z in zip(ks, zs))
    szz = sum(z * z for z in zs)
    cc = n * skz - sk * sz
    vz = n * szz - sz * sz
    q1 = _halfup_int(10**9 * cc, d)
    r2 = _halfup_int(q1 * cc, 1000 * vz)

    got = _spec(NAME).fn(spark, sf_dir).toPandas().iloc[0]
    assert int(got["n_days"]) == n
    assert int(got["ols_slope_micro"]) == _halfup_int(10**6 * b, d)
    assert int(got["bp_r2_micro"]) == r2
    assert int(got["bp_lm_micro"]) == n * r2

    # float anchor: fit OLS in float, regress squared residuals on k,
    # compare R^2 and LM (tolerance absorbs the centi quantization of
    # the residuals and the staged rounding)
    mean_k = sk / n
    mean_y = sy / n
    beta = (sky - n * mean_k * mean_y) / (skk - n * mean_k * mean_k)
    alpha = mean_y - beta * mean_k
    e2 = [(y - alpha - beta * k) ** 2 for k, y in zip(ks, ys)]
    mz = sum(e2) / n
    cov = sum((k - mean_k) * (z - mz) for k, z in zip(ks, e2))
    var_k = sum((k - mean_k) ** 2 for k in ks)
    var_z = sum((z - mz) ** 2 for z in e2)
    r2_f = (cov * cov) / (var_k * var_z) if var_z > 0 else 0.0
    assert abs(r2 / 1e6 - r2_f) < 5e-3
    assert abs(n * r2 / 1e6 - n * r2_f) < 5e-3 * n
    assert 0 <= r2 <= 10**6
