"""OpenSky-style REST poll source.

Reference behavior being re-expressed (not ported):
  - HTTP GET of a state-vector snapshot with basic auth
    (api_plugins/opensky/opensky_plugin.go:86-115, URL :142);
  - JSON decode of ``{"time": int, "states": [[18 values...]]}``
    (opensky_plugin.go:23-26,107-112);
  - credential validation by probing the endpoint
    (opensky_plugin.go:60-84,129-151);
  - poll interval from plugin config (opensky_plugin.go:153-155) —
    NB the reference never binds it (SURVEY §2.A defects), we do;
  - the *intended* ordered 18-column row (SURVEY §1.4): JSON ints
    arrive as floats and must be cast to the declared schema
    (opensky_plugin_test.go:104-115).

Spark-first design: a Python DataSource (pyspark.sql.datasource) whose
stream reader polls once per micro-batch, registered as
``spark.dataSource.register(OpenSkyDataSource)`` and read with
``spark.readStream.format("opensky")``. The HTTP transport is an
injectable callable so tests fake the endpoint (the reference uses
httptest servers the same way, opensky_plugin_test.go:26-43).
"""

from __future__ import annotations

import json
import urllib.request
from typing import Callable, Iterator, Optional

import pyarrow as pa
from pyspark.sql import types as T

from ..schema import FLIGHTS_SCHEMA
from .batch import rows_to_table, table_rows
from .registry import register_plugin

OPENSKY_URL = "https://opensky-network.org/api/states/all"

HttpGet = Callable[[str, Optional[tuple[str, str]]], bytes]


def _default_http_get(url: str, auth: Optional[tuple[str, str]]) -> bytes:
    req = urllib.request.Request(url)
    if auth:
        import base64

        token = base64.b64encode(f"{auth[0]}:{auth[1]}".encode()).decode()
        req.add_header("Authorization", f"Basic {token}")
    with urllib.request.urlopen(req, timeout=30) as resp:  # pragma: no cover (network)
        return resp.read()


def parse_states_payload(payload: bytes, schema: T.StructType = FLIGHTS_SCHEMA) -> pa.Table:
    """``{"time": t, "states": [...]}`` -> one table of ordered, typed rows
    (zero rows when ``states`` is null or empty)."""
    return rows_to_table(json.loads(payload).get("states") or [], schema)


class OpenSkyPlugin:
    """Driver-side plugin object implementing sources.registry.SourcePlugin."""

    def __init__(
        self,
        url: str = OPENSKY_URL,
        auth: Optional[tuple[str, str]] = None,
        interval_s: int = 60,
        http_get: HttpGet = _default_http_get,
    ):
        self.url = url
        self.auth = auth
        self.interval_s = interval_s
        self.http_get = http_get

    def name(self) -> str:
        return "opensky"

    def schema(self) -> T.StructType:
        return FLIGHTS_SCHEMA

    def interval(self) -> int:
        return self.interval_s

    def fetch_rows(self) -> pa.Table:
        """One poll = one table of ordered typed rows (reference:
        FetchData + the *intended* Response handling, main.go:129-146)."""
        return parse_states_payload(self.http_get(self.url, self.auth))

    def validate_config(self, config: dict) -> None:
        """reference: ValidateConfig, opensky_plugin.go:129-151 — require
        credentials, bind interval, then probe the endpoint live."""
        auth = config.get("auth", {})
        user, pw = auth.get("username"), auth.get("password")
        if not user or not pw:
            raise ValueError("opensky: auth.username and auth.password are required")
        self.auth = (user, pw)
        if "interval" in config:
            self.interval_s = int(config["interval"])
        # live probe (ValidateCredentials, opensky_plugin.go:60-84)
        self.http_get(self.url, self.auth)


register_plugin(OpenSkyPlugin())


# --- Python DataSource (streaming) ----------------------------------------

try:  # pyspark>=4 ships the Python DataSource API
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        DataSourceStreamReader,
        InputPartition,
    )

    class _SnapshotPartition(InputPartition):
        """A slice of a poll's table, held as Arrow IPC stream bytes:
        pickling a table slice would ship the whole poll's buffers to
        every partition's task."""

        def __init__(self, table: pa.Table):
            sink = pa.BufferOutputStream()
            with pa.ipc.new_stream(sink, table.schema) as writer:
                writer.write_table(table)
            self.ipc = sink.getvalue()

        def table(self) -> pa.Table:
            return pa.ipc.open_stream(self.ipc).read_all()

        @property
        def rows(self) -> list[tuple]:
            return table_rows(self.table())

    def _partitions(table: pa.Table) -> list[_SnapshotPartition]:
        """About 1000 rows per partition, and always at least one: an
        empty poll must still produce an (empty) micro-batch."""
        n = max(table.num_rows // 1000, 1)
        size = max(-(-table.num_rows // n), 1)
        return [
            _SnapshotPartition(table.slice(i, size))
            for i in range(0, max(table.num_rows, 1), size)
        ]

    class OpenSkyStreamReader(DataSourceStreamReader):
        """Micro-batch reader: one poll per trigger tick.

        Offsets count polls; every poll is a fresh snapshot (the
        reference has the same semantics, SURVEY §3.2). The poll happens
        driver-side at planning (the payload is one ~10^4-row
        snapshot); partitions then distribute rows to executors.

        Replay durability: with the ``spool_dir`` option each poll's
        rows are spilled to a file *before* its offset is returned, so
        after a crash/restart the replayed epoch's ``partitions()``
        reloads the same rows — end-to-end exactly-once when paired
        with ``IdempotentParquetSink``. Without ``spool_dir`` the rows
        live only in this process's memory and a restarted query
        replays the in-flight epoch as EMPTY: at-most-once for that
        poll window (duplicate-free but lossy). Spool files are deleted
        on ``commit``.
        """

        def __init__(self, options):
            import os

            url = options.get("url", OPENSKY_URL)
            user = options.get("user")
            pw = options.get("password")
            # file-replay transport: poll a local JSON payload instead of
            # the network (tests + offline replay; the reader runs in its
            # own Python process, so this must be option-driven)
            payload_file = options.get("payload_file")
            http_get: HttpGet = _default_http_get
            if payload_file:
                def http_get(u, a, _p=payload_file):  # noqa: F811
                    with open(_p, "rb") as f:
                        return f.read()
            self.plugin = OpenSkyPlugin(
                url=url, auth=(user, pw) if user else None, http_get=http_get
            )
            self._poll = 0
            self._pending: dict[int, pa.Table] = {}
            self._spool_dir = options.get("spool_dir")
            if self._spool_dir:
                os.makedirs(self._spool_dir, exist_ok=True)

        def _spool_path(self, poll: int) -> str:
            return f"{self._spool_dir}/poll_{poll}.json"

        def _spool_write(self, poll: int, table: pa.Table) -> None:
            """Durable spill of the poll's rows as a JSON list of rows,
            before the offset becomes visible (tmp + rename so a crash
            mid-write never leaves a torn file)."""
            import os

            tmp = self._spool_path(poll) + ".tmp"
            with open(tmp, "w") as f:
                json.dump(table_rows(table), f)
            os.replace(tmp, self._spool_path(poll))

        def _spool_read(self, poll: int) -> Optional[pa.Table]:
            import os

            path = self._spool_path(poll)
            if not os.path.exists(path):
                return None
            with open(path) as f:
                # the same decode as a live poll
                return rows_to_table(json.load(f), self.plugin.schema())

        def initialOffset(self) -> dict:
            return {"poll": 0}

        def latestOffset(self) -> dict:
            self._poll += 1
            table = self.plugin.fetch_rows()
            if self._spool_dir:
                self._spool_write(self._poll, table)
            self._pending[self._poll] = table
            return {"poll": self._poll}

        def partitions(self, start: dict, end: dict):
            polls = []
            for p in range(start["poll"] + 1, end["poll"] + 1):
                got = self._pending.get(p)
                if got is None and self._spool_dir:
                    got = self._spool_read(p)  # crash-replay path
                if got is not None:
                    polls.append(got)
            if not polls:
                return _partitions(rows_to_table([], self.plugin.schema()))
            return _partitions(pa.concat_tables(polls))

        def read(self, partition: _SnapshotPartition) -> Iterator[pa.RecordBatch]:
            yield from partition.table().to_batches()

        def commit(self, end: dict) -> None:
            import os

            for p in list(self._pending):
                if p <= end["poll"]:
                    del self._pending[p]
            if self._spool_dir:
                for name in os.listdir(self._spool_dir):
                    if not name.startswith("poll_") or not name.endswith(".json"):
                        continue
                    try:
                        poll = int(name[len("poll_"):-len(".json")])
                    except ValueError:
                        continue
                    if poll <= end["poll"]:
                        try:
                            os.remove(f"{self._spool_dir}/{name}")
                        except FileNotFoundError:
                            pass

    class OpenSkyBatchReader(DataSourceReader):
        """One-shot snapshot read: ``spark.read.format("opensky")``."""

        def __init__(self, options):
            self._stream = OpenSkyStreamReader(options)

        def partitions(self):
            return _partitions(self._stream.plugin.fetch_rows())

        def read(self, partition: _SnapshotPartition) -> Iterator[pa.RecordBatch]:
            yield from partition.table().to_batches()

    class OpenSkyDataSource(DataSource):
        """``spark.read(.Stream)?.format("opensky")`` source."""

        @classmethod
        def name(cls) -> str:
            return "opensky"

        def schema(self):
            return FLIGHTS_SCHEMA

        def reader(self, schema):
            return OpenSkyBatchReader(self.options)

        def streamReader(self, schema):
            return OpenSkyStreamReader(self.options)

    DATASOURCE_AVAILABLE = True
except ImportError:  # pragma: no cover
    OpenSkyDataSource = None  # type: ignore[assignment]
    DATASOURCE_AVAILABLE = False


def register_datasource(spark) -> None:
    if not DATASOURCE_AVAILABLE:  # pragma: no cover
        raise RuntimeError("pyspark.sql.datasource not available")
    spark.dataSource.register(OpenSkyDataSource)
