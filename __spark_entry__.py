"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query at sf0.001; ``queries()`` /
``oracle_sql()`` expose the full inventory from ``cdc_spark.queries``
(one entry per operator in SURVEY.md §2).

The driver's correctness gate samples the first 50 entries, so the
order is the gate rotation. It is derived from the fingerprint ledger
(``tests/registry_fingerprints.json``) by
``cdc_spark.queries.fingerprint.gate_order``: entries changed since
their last gate first, then the oldest gated; rows-only entries last.
``tools/update_fingerprints.py`` records changes and turns a round.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from cdc_spark.queries import REGISTRY
from cdc_spark.queries.fingerprint import gate_order, load_ledger

_SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1-shape pricing summary) on sf0.001."""
    from cdc_spark.queries.relational import q01_pricing_summary

    return q01_pricing_summary(spark, _SF0001)


def _gate_order() -> list[str]:
    oracled = {n for n, s in REGISTRY.items() if s.oracle is not None}
    return gate_order(REGISTRY, load_ledger(), oracled)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: REGISTRY[name].fn for name in _gate_order()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for every SQL-expressible query."""
    return {
        name: REGISTRY[name].oracle
        for name in _gate_order()
        if REGISTRY[name].oracle is not None
    }
