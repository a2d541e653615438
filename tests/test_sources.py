"""Source plugin + registry + JDBC option tests (mirrors
api_plugins/registry_test.go, opensky_plugin_test.go fixtures)."""

from __future__ import annotations

import json

import pyarrow as pa
import pytest
from pyspark.sql.pandas.types import to_arrow_schema

from mysql_public_data_ingestor_spark.config import MySQLConfig, PoolConfig
from mysql_public_data_ingestor_spark.schema import FLIGHTS_SCHEMA
from mysql_public_data_ingestor_spark.sources.batch import table_rows
from mysql_public_data_ingestor_spark.sources.jdbc import (
    PartitionSpec,
    jdbc_read_options,
    jdbc_write_options,
)
from mysql_public_data_ingestor_spark.sources.opensky import (
    OpenSkyPlugin,
    parse_states_payload,
)
from mysql_public_data_ingestor_spark.sources.registry import (
    init_plugin,
    load_plugins,
    registered_plugins,
)
from mysql_public_data_ingestor_spark.topology import SinkTarget

# the 18-element mock state vector from opensky_plugin_test.go:62-64
MOCK_STATE = [
    1234567890, "abc123", "CALLSIGN", "Country", 1234567890, 1234567890,
    10.0, 20.0, 30.0, True, 40.0, 50.0, 60.0, None, 70.0, "SQUAWK", True, 1,
]


def payload(states) -> bytes:
    return json.dumps({"time": 1234567890, "states": states}).encode()


def test_parse_states_ordered_and_typed():
    rows = table_rows(parse_states_payload(payload([MOCK_STATE])))
    assert len(rows) == 1
    row = rows[0]
    assert row[0] == 1234567890 and isinstance(row[0], int)   # time -> long
    assert row[1] == "abc123"
    assert row[6] == 10.0 and isinstance(row[6], float)       # longitude
    assert row[9] is True                                     # on_ground
    assert row[13] is None                                    # sensors null
    assert row[17] == 1                                       # position_source


def test_parse_states_float_widening_fixed():
    # JSON ints arrive as floats for FLOAT columns and floats for INT
    # columns must cast back (opensky_plugin_test.go:104-115)
    state = list(MOCK_STATE)
    state[0] = 1234567890.0   # time as float -> must become int
    state[6] = 10              # longitude as int -> must become float
    rows = table_rows(parse_states_payload(payload([state])))
    assert rows[0][0] == 1234567890 and isinstance(rows[0][0], int)
    assert rows[0][6] == 10.0 and isinstance(rows[0][6], float)


def test_parse_states_sensors_json_roundtrip():
    state = list(MOCK_STATE)
    state[13] = [1, 2, 3]
    rows = table_rows(parse_states_payload(payload([state])))
    assert rows[0][13] == "[1, 2, 3]"


def test_parse_short_vector_padded():
    rows = table_rows(parse_states_payload(payload([MOCK_STATE[:5]])))
    assert len(rows[0]) == 18
    assert rows[0][5] is None


# --- decode semantics: the whole table against the expected typed rows ---

ARROW_FLIGHTS = to_arrow_schema(FLIGHTS_SCHEMA)


def decoded(states) -> list[tuple]:
    table = parse_states_payload(payload(states))
    assert table.schema == ARROW_FLIGHTS
    return table_rows(table)


def test_decode_json_widened_ints_and_ints_in_double_columns():
    state, want = list(MOCK_STATE), list(MOCK_STATE)
    state[0], state[4], state[5] = 1234567890.0, 1234567891.0, 1234567892.0   # long columns
    want[0], want[4], want[5] = 1234567890, 1234567891, 1234567892
    state[17], want[17] = 3.0, 3                                               # int column
    state[6], state[7], state[8], state[14] = 10, -20, 0, 70                   # double columns
    want[6], want[7], want[8], want[14] = 10.0, -20.0, 0.0, 70.0
    got = decoded([state, MOCK_STATE])
    assert got == [tuple(want), tuple(MOCK_STATE)]
    assert [type(v) for v in got[0]] == [type(v) for v in got[1]]
    assert isinstance(got[0][0], int) and isinstance(got[0][6], float)


def test_decode_nulls_keep_every_column_type():
    state = [None] * 18
    state[1] = "abc123"
    got = decoded([state, MOCK_STATE])
    assert got == [(None, "abc123") + (None,) * 16, tuple(MOCK_STATE)]


def test_decode_pads_short_and_truncates_overlong_vectors():
    overlong = list(MOCK_STATE) + [99, "extra", None]
    got = decoded([MOCK_STATE[:5], overlong, MOCK_STATE[:17]])
    assert got == [
        tuple(MOCK_STATE[:5]) + (None,) * 13,
        tuple(MOCK_STATE),
        tuple(MOCK_STATE[:17]) + (None,),
    ]


def test_decode_sensors_list_becomes_json_string():
    with_list, with_dict = list(MOCK_STATE), list(MOCK_STATE)
    with_list[13], with_dict[13] = [1, 2, 3], {"a": [4]}
    got = decoded([with_list, MOCK_STATE, with_dict])
    assert [r[13] for r in got] == ["[1, 2, 3]", None, '{"a": [4]}']
    assert [r[:13] + r[14:] for r in got] == [tuple(MOCK_STATE[:13] + MOCK_STATE[14:])] * 3


@pytest.mark.parametrize("states", [None, []], ids=["null", "empty"])
def test_decode_no_states_is_a_zero_row_table_with_every_column(states):
    table = parse_states_payload(payload(states))
    assert table.num_rows == 0
    assert table.schema == ARROW_FLIGHTS
    assert table.num_columns == 18
    assert table_rows(table) == []


def test_decode_numeric_strings_cast_like_int_and_float():
    # Arrow refuses strings in numeric columns; the fallback must give
    # exactly int() / float() of each cell
    state, want = list(MOCK_STATE), list(MOCK_STATE)
    for i, text in [(0, "1234567899"), (5, "-7"), (17, "2")]:
        state[i], want[i] = text, int(text)
    for i, text in [(6, "10.5"), (7, "-1e3"), (12, "7")]:
        state[i], want[i] = text, float(text)
    assert decoded([state, MOCK_STATE]) == [tuple(want), tuple(MOCK_STATE)]


def _reference_cast(value, arrow_type):
    """The per-cell cast the decode must agree with on every JSON value."""
    if value is None:
        return None
    if pa.types.is_integer(arrow_type):
        return int(value)
    if pa.types.is_floating(arrow_type):
        return float(value)
    if pa.types.is_boolean(arrow_type):
        return bool(value)
    return json.dumps(value) if isinstance(value, (list, dict)) else str(value)


JSON_VALUES = [None, True, False, 0, 7, -3, 2.0, -1.5, 0.25, 1e300, "12", "-0.5", "x", [1, "a"], {"k": 1}]


@pytest.mark.parametrize("col", range(18), ids=[f.name for f in FLIGHTS_SCHEMA.fields])
def test_decode_agrees_with_the_per_cell_cast_on_every_json_value(col):
    # each value alone in its column (Arrow's own conversion where it
    # accepts it) and all values together (where it does not): the cell
    # is the reference cast either way, and a value the cast rejects
    # fails the decode
    arrow_type = ARROW_FLIGHTS.field(col).type
    castable = []
    for v in JSON_VALUES:
        state = list(MOCK_STATE)
        state[col] = v
        try:
            want = _reference_cast(v, arrow_type)
            pa.array([want], type=arrow_type)
        except (TypeError, ValueError, OverflowError, pa.ArrowInvalid):
            with pytest.raises((TypeError, ValueError, OverflowError, pa.ArrowInvalid)):
                decoded([state])
            continue
        castable.append(v)
        assert decoded([state])[0][col] == want, v
    states = [list(MOCK_STATE) for _ in castable]
    for state, v in zip(states, castable):
        state[col] = v
    assert [r[col] for r in decoded(states)] == [_reference_cast(v, arrow_type) for v in castable]


def test_fetch_rows_via_fake_http():
    calls = []

    def fake_get(url, auth):
        calls.append((url, auth))
        return payload([MOCK_STATE, MOCK_STATE])

    p = OpenSkyPlugin(auth=("u", "p"), http_get=fake_get)
    rows = p.fetch_rows()
    assert isinstance(rows, pa.Table)
    assert len(rows) == 2
    assert calls[0][1] == ("u", "p")
    assert p.schema() is FLIGHTS_SCHEMA


def test_validate_config_requires_auth_and_binds_interval():
    # the reference parses but never binds interval (SURVEY defects);
    # here validate_config must bind it
    p = OpenSkyPlugin(http_get=lambda url, auth: payload([]))
    with pytest.raises(ValueError):
        p.validate_config({"auth": {"username": "u"}})
    p.validate_config({"auth": {"username": "u", "password": "pw"}, "interval": 7})
    assert p.interval() == 7
    assert p.auth == ("u", "pw")


def test_registry_register_init_unknown():
    # registry_test.go:10-64 semantics
    load_plugins()
    assert "opensky" in registered_plugins()
    assert init_plugin("opensky").name() == "opensky"
    with pytest.raises(KeyError):
        init_plugin("nope")


def test_jdbc_options_pool_mapping():
    cfg = MySQLConfig(host="h", port=3307, username="u", password="p",
                      pool=PoolConfig(max_open_conns=30))
    w = jdbc_write_options(cfg, SinkTarget("db1", "t1"), batch_size=500)
    assert w["url"] == "jdbc:mysql://h:3307"
    assert w["dbtable"] == "db1.t1"
    assert w["batchsize"] == "500"
    assert w["numPartitions"] == "30"   # pool max_open_conns intent
    r = jdbc_read_options(cfg, "big", PartitionSpec("id", 0, 1_000_000, 16))
    assert r["partitionColumn"] == "id"
    assert r["numPartitions"] == "16"


def test_jdbc_tls_url():
    cfg = MySQLConfig(host="h")
    cfg.tls.enabled = True
    assert "sslMode=REQUIRED" in cfg.jdbc_url()
