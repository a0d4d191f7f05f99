"""Operator inventory — each module registers named queries with their
DuckDB oracle SQL twins (SURVEY §5 differential-testing strategy)."""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    """A named engine query: Spark implementation + oracle SQL.

    ``oracle`` is ANSI-ish SQL runnable by DuckDB against the testdata
    parquet views (region nation customer supplier part orders lineitem
    events documents embeddings).
    """

    name: str
    fn: QueryFn
    oracle: str
    doc: str = ""


class Registry:
    def __init__(self) -> None:
        self._queries: dict[str, Query] = {}

    def add(self, name: str, oracle: str, doc: str = "") -> Callable[[QueryFn], QueryFn]:
        def deco(fn: QueryFn) -> QueryFn:
            if name in self._queries:
                raise ValueError(f"duplicate query name {name!r}")
            self._queries[name] = Query(name, fn, oracle, doc)
            return fn

        return deco

    @property
    def queries(self) -> dict[str, Query]:
        return dict(self._queries)


def merge_registries(*regs: Registry) -> dict[str, Query]:
    out: dict[str, Query] = {}
    for r in regs:
        for name, q in r.queries.items():
            if name in out:
                raise ValueError(f"duplicate query name across registries: {name!r}")
            out[name] = q
    return out
