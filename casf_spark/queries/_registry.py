"""The query registry: one ``@query(name, oracle=...)`` declaration per query.

Each registered query is a Spark body ``fn(spark, sf_dir) -> DataFrame`` and
the DuckDB SQL twin that must return the same rows over the same parquet
tables. Registration order is declaration order, so the package's family
import order fixes the order of every name after the driver window.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


class Registry:
    """Query name -> (Spark body, oracle SQL), in declaration order."""

    def __init__(self) -> None:
        self.queries: dict[str, QueryFn] = {}
        self.oracles: dict[str, str] = {}

    def query(self, name: str, oracle: str) -> Callable[[QueryFn], QueryFn]:
        """Register the decorated function as query ``name``; raises on a
        duplicate name or a missing or empty ``oracle``."""
        if not isinstance(oracle, str) or not oracle.strip():
            raise ValueError(f"query {name!r}: oracle SQL is missing or empty")

        def register(fn: QueryFn) -> QueryFn:
            if name in self.queries:
                raise ValueError(
                    f"query {name!r} is declared twice: "
                    f"{self.queries[name].__module__}."
                    f"{self.queries[name].__qualname__} and "
                    f"{fn.__module__}.{fn.__qualname__}")
            self.queries[name] = fn
            self.oracles[name] = oracle
            return fn

        return register

    def ordered(self, first: Iterable[str]) -> list[str]:
        """Every registered name: ``first`` in its order, then the rest in
        declaration order. Raises when a name in ``first`` is unregistered
        or repeated."""
        first = list(first)
        missing = [n for n in first if n not in self.queries]
        if missing:
            raise ValueError(f"names not registered: {missing}")
        if len(set(first)) != len(first):
            raise ValueError(f"repeated names in {first}")
        head = set(first)
        return first + [n for n in self.queries if n not in head]


REGISTRY = Registry()
query = REGISTRY.query
