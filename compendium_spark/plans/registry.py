"""Plan registry.

Every query/operator the engine claims is registered here as a
``Plan``: a pure function ``(spark, sf_dir) -> DataFrame`` plus
(where SQL-expressible) the equivalent ANSI SQL a DuckDB oracle can run
on the same parquet tables. ``all_plans()`` returns them in
registration order; ``tests/test_parity.py`` hash-checks every plan
against its oracle.

Parity rules (so value-hashes match across engines):
  * alias every computed column identically in Spark and SQL;
  * aggregate money/quantity in DECIMAL (exact, order-independent),
    cast the final value to DOUBLE;
  * round genuinely-floating results (stddev, cosine) to a fixed scale;
  * pin session timezone UTC (session.py) so timestamps agree.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Plan:
    name: str
    fn: QueryFn
    oracle: str | None  # None => non-SQL-expressible; rows-only check
    doc: str


_REGISTRY: dict[str, Plan] = {}


def plan(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query plan under ``name`` with its oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate plan name {name!r}")
        _REGISTRY[name] = Plan(name, fn, oracle, (fn.__doc__ or "").strip())
        return fn

    return deco


def all_plans() -> dict[str, Plan]:
    return dict(_REGISTRY)

