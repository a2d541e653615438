"""Source-plugin registry.

reference: api_plugins/registry.go:10-55 — plugins register by name;
``init_plugin`` selects one; unknown names error. The reference loads
Go ``.so`` files (and its Makefile glob never matches any, SURVEY §2.A
defects); here discovery is ``importlib`` over a package, the Python
idiom for the same extension point.
"""

from __future__ import annotations

import importlib
import pkgutil
from typing import Protocol

import pyarrow as pa
from pyspark.sql import types as T


class SourcePlugin(Protocol):
    """The engine's plugin contract (reference: APIPlugin interface,
    api_plugins/api_plugin.go:17-27)."""

    def name(self) -> str: ...

    def schema(self) -> T.StructType: ...

    def interval(self) -> int: ...

    def fetch_rows(self) -> pa.Table:
        """One poll as one ``pyarrow.Table`` with ``schema()``'s columns,
        order and types (build it with ``sources.batch.rows_to_table``);
        no rows is a zero-row table."""
        ...

    def validate_config(self, config: dict) -> None: ...


_PLUGINS: dict[str, SourcePlugin] = {}


def register_plugin(plugin: SourcePlugin) -> None:
    """reference: Register, api_plugins/registry.go:16-22."""
    _PLUGINS[plugin.name()] = plugin


def init_plugin(name: str) -> SourcePlugin:
    """reference: InitPlugin, api_plugins/registry.go:24-31."""
    try:
        return _PLUGINS[name]
    except KeyError:
        raise KeyError(f"plugin {name!r} not found; registered: {sorted(_PLUGINS)}")


def registered_plugins() -> list[str]:
    return sorted(_PLUGINS)


def load_plugins(package: str = "mysql_public_data_ingestor_spark.sources") -> list[str]:
    """Import every module in the sources package so module-level
    ``register_plugin`` calls run (reference: LoadPlugins glob + dlopen,
    api_plugins/registry.go:33-55)."""
    pkg = importlib.import_module(package)
    for mod in pkgutil.iter_modules(pkg.__path__):
        importlib.import_module(f"{package}.{mod.name}")
    return registered_plugins()
