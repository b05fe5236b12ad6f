"""Registry for parity queries and their DuckDB oracles.

A parity query is ``fn(spark, sf_dir) -> DataFrame``; its oracle is an ANSI
SQL string DuckDB runs against the same parquet tables (pre-registered views
``region nation customer supplier part orders lineitem events documents
embeddings``). The driver compares row count + schema + order-insensitive
value hash, sorting columns by name — so every computed column is aliased
identically on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def query(name: str, oracle: str | None = None):
    """Register a parity query; ``oracle`` is the DuckDB SQL twin (or None
    for non-SQL-expressible operators → driver does a rows-only check)."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    """Load the named driver parquet tables (all of TABLES when empty)."""
    names = names or TABLES
    return {n: t(spark, sf_dir, n) for n in names}


# Analyzed-DataFrame cache for the (immutable) driver star-schema tables:
# every spark.read.parquet call pays a footer/schema + listing roundtrip
# (~0.2-0.3 s, CLAUDE.md r5 lesson), and a parity sweep / bench session
# reads the same handful of tables hundreds of times. This caches only
# the ANALYZED plan (schema + file listing) — every action still scans
# the parquet data, so no results or intermediates are reused. Keyed by
# applicationId so a restarted session never sees a dead plan; entries
# of other applications are evicted on allocation (the _MODEL_BC_CACHE
# pattern). CONTRACT: driver tables under sf_dir are immutable inputs —
# this cache has no writer invalidation; anything that rewrites a table
# at a cached path in-application must not read it through t().
_READ_CACHE: dict = {}


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    import os

    app = spark.sparkContext.applicationId
    key = (app, os.path.abspath(f"{sf_dir}/{name}.parquet"))
    df = _READ_CACHE.get(key)
    if df is None:
        for stale in [k for k in _READ_CACHE if k[0] != app]:
            del _READ_CACHE[stale]
        df = spark.read.parquet(key[1])
        _READ_CACHE[key] = df
    return df
