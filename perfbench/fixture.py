"""Seeded input generators for the benchmark.

Two kinds of input, both built before any timing starts:

- ``write_fixture`` writes the ten analytics tables the query registry
  reads (``tables.TABLE_NAMES``), with the column names, physical types
  and value domains of the TPC-H-style fixtures the registry is tested
  on. ``scale`` plays the role of the fixtures' scale factor
  (``scale=0.01`` gives 60k lineitem rows).
- ``opensky_snapshots`` builds state-vector snapshots in the OpenSky
  REST payload shape, returning both the JSON bytes the source decodes
  and the typed rows a correct decode must produce.

The same seed always gives the same bytes.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()


def _days(start: str, end: str, n: int, rng: np.random.Generator) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _table(cols: dict, types: dict) -> pa.Table:
    return pa.table({k: pa.array(v, type=types[k]) for k, v in cols.items()})


def write_fixture(out_dir: str, scale: float, seed: int) -> dict[str, int]:
    """Write the ten fixture tables under ``out_dir``; return row counts."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    i64, i32, f64, s = pa.int64(), pa.int32(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    n_cust = max(int(150_000 * scale), 15)
    n_supp = max(int(10_000 * scale), 10)
    n_part = max(int(200_000 * scale), 200)
    n_ord = max(int(1_500_000 * scale), 150)
    n_line = max(int(6_000_000 * scale), 600)
    n_ev = max(int(1_000_000 * scale), 100)
    n_users = max(int(15_000 * scale), 15)
    n_docs = max(int(50_000 * scale), 500)
    n_vec = max(int(20_000 * scale), 500)

    tables: dict[str, pa.Table] = {}
    tables["region"] = _table(
        {"r_regionkey": range(5), "r_name": REGIONS}, {"r_regionkey": i32, "r_name": s}
    )
    tables["nation"] = _table(
        {
            "n_nationkey": range(25),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": [i % 5 for i in range(25)],
        },
        {"n_nationkey": i32, "n_name": s, "n_regionkey": i32},
    )
    tables["customer"] = _table(
        {
            "c_custkey": np.arange(n_cust),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust),
            "c_acctbal": _money(rng, -1000, 10000, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        },
        {"c_custkey": i64, "c_name": s, "c_nationkey": i32, "c_acctbal": f64, "c_mktsegment": s},
    )
    tables["supplier"] = _table(
        {
            "s_suppkey": np.arange(n_supp),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp),
            "s_acctbal": _money(rng, -1000, 10000, n_supp),
        },
        {"s_suppkey": i64, "s_name": s, "s_nationkey": i32, "s_acctbal": f64},
    )
    tables["part"] = _table(
        {
            "p_partkey": np.arange(n_part),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
        },
        {"p_partkey": i64, "p_name": s, "p_brand": s, "p_type": s, "p_size": i32, "p_retailprice": f64},
    )
    tables["orders"] = _table(
        {
            "o_orderkey": np.arange(n_ord),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000, 500000, n_ord),
            "o_orderdate": _days("1995-01-01", "2001-08-01", n_ord, rng),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        },
        {
            "o_orderkey": i64, "o_custkey": i64, "o_orderstatus": s,
            "o_totalprice": f64, "o_orderdate": ts, "o_orderpriority": s,
        },
    )
    tables["lineitem"] = _table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": rng.integers(1, 8, n_line),
            "l_quantity": rng.integers(1, 51, n_line).astype(float),
            "l_extendedprice": _money(rng, 900, 105000, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _days("1995-01-02", "2001-11-04", n_line, rng),
        },
        {
            "l_orderkey": i64, "l_partkey": i64, "l_suppkey": i64, "l_linenumber": i32,
            "l_quantity": f64, "l_extendedprice": f64, "l_discount": f64, "l_tax": f64,
            "l_returnflag": s, "l_linestatus": s, "l_shipdate": ts,
        },
    )
    month_us = 30 * 86_400 * 1_000_000
    ev_ts = np.sort(rng.integers(0, month_us, n_ev)) + np.datetime64("2024-01-01", "us")
    tables["events"] = _table(
        {
            "event_id": np.arange(n_ev),
            "ts": ev_ts,
            "user_id": rng.integers(0, n_users, n_ev),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        },
        {"event_id": i64, "ts": ts, "user_id": i64, "event_type": s, "value": f64, "props": s},
    )
    texts = [
        " ".join(rng.choice(VOCAB, int(k))) for k in rng.integers(10, 100, n_docs)
    ]
    # one document in twenty repeats another with a marker word, so the
    # dedup and decontamination queries have near-duplicates to find
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):
        texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
    tables["documents"] = _table(
        {
            "doc_id": np.arange(n_docs),
            "text": texts,
            "lang": rng.choice(LANGS, n_docs, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": [len(t) for t in texts],
        },
        {"doc_id": i64, "text": s, "lang": s, "source": s, "n_chars": i64},
    )
    vecs = rng.standard_normal((n_vec, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vec), type=i64),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vec), type=i32),
        }
    )
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def opensky_snapshots(
    n_snapshots: int, rows: int, seed: int
) -> list[tuple[bytes, list[tuple]]]:
    """``n_snapshots`` OpenSky payloads of ``rows`` state vectors each.

    Returns ``(payload_bytes, expected_rows)`` pairs. The payload writes
    some integer columns as JSON floats and leaves some cells null, the
    shapes the source's decoder must coerce; ``expected_rows`` holds the
    18 typed values each state vector must decode to.
    """
    rng = np.random.default_rng([seed, 2])
    countries = ["Germany", "United States", "France", "Brazil", "Japan", "India"]
    out = []
    for k in range(n_snapshots):
        t0 = 1_700_000_000 + 60 * k
        icao = rng.integers(0, 1 << 24, rows)
        lon = np.round(rng.uniform(-180, 180, rows), 4)
        lat = np.round(rng.uniform(-90, 90, rows), 4)
        alt = np.round(rng.uniform(0, 12_000, rows), 2)
        vel = np.round(rng.uniform(0, 300, rows), 2)
        trk = np.round(rng.uniform(0, 360, rows), 2)
        vr = np.round(rng.uniform(-20, 20, rows), 2)
        lag = rng.integers(0, 30, rows)
        null_pos = rng.random(rows) < 0.05
        with_sensors = rng.random(rows) < 0.2
        states, expected = [], []
        for i in range(rows):
            pos = None if null_pos[i] else float(lon[i])
            sensors = [int(x) for x in rng.integers(0, 500, 2)] if with_sensors[i] else None
            t_pos = None if null_pos[i] else t0 - int(lag[i])
            typed = (
                t0, f"{icao[i]:06x}", f"CS{i % 997:04d}", countries[i % len(countries)],
                t_pos, t0 - int(lag[i]) // 2, pos, None if null_pos[i] else float(lat[i]),
                float(alt[i]), bool(alt[i] < 50), float(vel[i]), float(trk[i]), float(vr[i]),
                json.dumps(sensors) if sensors is not None else None,
                float(alt[i]) + 25.0, f"{i % 7000:04d}", i % 5 == 0, i % 4,
            )
            state = list(typed)
            state[13] = sensors
            if i % 3 == 0:  # JSON-widened integers, as the live API sends them
                state[0], state[5] = float(state[0]), float(state[5])
            states.append(state)
            expected.append(typed)
        payload = json.dumps({"time": t0, "states": states}).encode()
        out.append((payload, expected))
    return out


def row_multiset_hash(rows) -> int:
    """Order-insensitive hash of typed rows: the sum, mod 2**64, of a
    per-row digest. Two tables hash equal iff they hold the same rows
    the same number of times (up to digest collisions)."""
    import hashlib

    total = 0
    for row in rows:
        digest = hashlib.blake2b(repr(tuple(row)).encode(), digest_size=8).digest()
        total = (total + int.from_bytes(digest, "little")) & 0xFFFFFFFFFFFFFFFF
    return total
