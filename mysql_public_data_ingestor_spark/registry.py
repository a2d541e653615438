"""Central query registry backing ``__spark_entry__.py``.

A query registers one way: decorate ``fn(spark, sf_dir) -> DataFrame``
with ``@register(name, oracle=...)`` in an ``operators`` module, and list
that module in :func:`_ensure_loaded`'s import tuple.
  - ``fn`` is the Spark-first implementation;
  - ``oracle`` is equivalent ANSI SQL for the DuckDB oracle (or ``None``
    for genuinely non-SQL-expressible ops → driver runs rows-only check).

:func:`all_queries` returns the registry sorted by name, so the order
does not depend on which module was imported first.

Column names of the Spark result and the oracle result MUST match
(driver sorts columns by name then value-hashes). Aggregate/computed
doubles are rounded identically on both sides so FP summation order
cannot flip the hash.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: Optional[str]
    doc: str = ""


_REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: Optional[str] = None, doc: str = ""):
    """Decorator: register ``fn(spark, sf_dir) -> DataFrame`` under ``name``."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle, doc=doc or (fn.__doc__ or ""))
        return fn

    return deco


def all_queries() -> dict[str, QuerySpec]:
    """Every registered query, sorted by name. The order is fixed by the
    names alone, so neither module import order nor helper calls made at
    decoration time can change it."""
    _ensure_loaded()
    return {name: _REGISTRY[name] for name in sorted(_REGISTRY)}


def queries() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in all_queries().items()}


def oracle_sql() -> dict[str, str]:
    return {name: spec.oracle for name, spec in all_queries().items() if spec.oracle is not None}


_LOADED = False


def _ensure_loaded() -> None:
    """Import every operator module so its @register calls run."""
    global _LOADED
    if _LOADED:
        return
    from .operators import (  # noqa: F401
        advanced,
        bucketed,
        corpus,
        daily_change,
        daily_hypothesis,
        daily_spectral,
        dedup,
        events_sequence,
        events_series,
        events_users,
        graph_centrality,
        graph_community,
        graph_linkpred,
        graph_paths,
        graph_structure,
        layout,
        ml,
        ml_calibration,
        ml_models,
        ml_ranking,
        ml_thresholds,
        multimodal,
        pipeline,
        privacy,
        relational,
        roundeight,
        roundeight2,
        roundeight3,
        roundeleven,
        roundeleven2,
        roundeleven4,
        roundeleven5,
        roundfive,
        roundfourteen,
        roundfourteen2,
        roundfourteen3,
        roundfourteen4,
        roundfourteen7,
        roundfourteen8,
        roundfourteen9,
        roundnine,
        roundnine2,
        roundsix,
        roundsix2,
        roundten,
        roundten2,
        roundten3,
        roundtenb,
        roundthirteen3,
        roundthirteen4,
        roundthirteen6,
        roundthirteen8,
        roundtwelve,
        roundtwelve10,
        roundtwelve2,
        roundtwelve3,
        roundtwelve4,
        roundtwelve5,
        roundtwelve8,
        similarity,
        sketches,
        stats,
        stats_dist,
        stats_models,
        stats_rank,
        stats_tables,
        text,
        timeseries,
        tpch,
        tpch2,
        windows,
    )
    from .streaming import batch_equivalents  # noqa: F401

    _LOADED = True
