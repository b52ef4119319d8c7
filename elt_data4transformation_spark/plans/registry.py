"""Query registry: one entry per implemented operator/query.

Each spec carries the Spark plan builder ``fn(spark, sf_dir) ->
DataFrame`` and, when the semantics are ANSI-SQL-expressible, a DuckDB
``oracle`` query over the same parquet tables. The driver (and our
tests) run both and hash-compare; column names must match exactly, so
every computed column is aliased identically on both sides.

Float note: aggregate outputs are rounded (usually to 4-6 decimals) on
BOTH sides so that summation-order differences between engines cannot
flip the value hash.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]
Prepare = Callable[[SparkSession, str], object]


@dataclass
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL; None -> driver does rows-only check
    tags: tuple[str, ...] = ()
    doc: str = ""  # reference citation (SURVEY.md §2 operator ids)
    # Stored-artifact lifecycle setup (index build, segment merges,
    # signature stores) for queries whose steady-state shape is a PROBE
    # of pre-built state: ``prepare(spark, sf_dir)`` ensures the
    # artifacts exist so a benchmark can run it UNTIMED and time only
    # the recurring per-invocation work — the production premise of the
    # stored family is that index construction is amortized at ingest
    # time, not paid per query. ``register`` takes a stored-artifact
    # record (plans.dedup.Stored) or a tuple of records, called in
    # order. ``fn`` must stay correct standalone (it re-ensures
    # internally); prepare only moves WHERE the one-time cost lands in
    # a measurement.
    prepare: Prepare | None = None


REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
    doc: str = "",
    prepare: Prepare | tuple[Prepare, ...] | None = None,
) -> Callable[[QueryFn], QueryFn]:
    if isinstance(prepare, tuple):
        prepare = _in_order(prepare)

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = QuerySpec(
            name=name, fn=fn, oracle=oracle, tags=tags, doc=doc, prepare=prepare
        )
        return fn

    return deco


def _in_order(hooks: tuple[Prepare, ...]) -> Prepare:
    def prepare(spark: SparkSession, sf_dir: str) -> None:
        for hook in hooks:
            hook(spark, sf_dir)

    return prepare
