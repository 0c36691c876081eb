"""Registry plumbing shared by all operator modules.

Each operator is an `Op`: a name, a Spark DataFrame builder
`(spark, sf_dir) -> DataFrame`, and (when SQL-expressible) the equivalent
ANSI SQL that DuckDB runs over the same parquet tables. The driver compares
the two per-query (row count + schema + order-insensitive value hash), so
every computed column is aliased identically on both sides and floating
aggregates are rounded identically on both sides.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


@dataclass(frozen=True)
class Op:
    name: str
    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | None = None  # DuckDB SQL; None → rows-only check
    doc: str = ""


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _pin_utc(fn: Callable[[SparkSession, str], DataFrame]):
    """Wrap an op builder so its PLAN is analyzed under UTC, then restore.

    Timestamp-sensitive ops (string→timestamp casts, date_format, window)
    must agree with DuckDB's naive-timestamp semantics; the external
    harness builds its OWN SparkSession with an arbitrary timezone. Spark
    resolves a DataFrame eagerly at construction (ResolveTimeZone bakes the
    session zone into the analyzed expressions), so pinning for the
    duration of fn() and restoring afterwards leaves the returned plan UTC
    while the caller's session keeps its own zone for everything else —
    round-1 ADVICE flagged the permanent mutation. A regression test pins
    this eager-analysis assumption (tests/test_operators.py).
    """

    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        prev = spark.conf.get("spark.sql.session.timeZone")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        try:
            return fn(spark, sf_dir)
        finally:
            spark.conf.set("spark.sql.session.timeZone", prev)

    return wrapped


_REGISTRY: dict[str, Op] = {}


def register(name: str, oracle: str | None = None, doc: str = ""):
    """Decorator: @register("q1", oracle="SELECT ...")."""

    def wrap(fn: Callable[[SparkSession, str], DataFrame]):
        _REGISTRY[name] = Op(name=name, build=_pin_utc(fn), oracle=oracle, doc=doc)
        return fn

    return wrap


def all_ops() -> dict[str, Op]:
    # import for side effects: modules self-register
    from pdf_extractor_spark import annotate  # noqa: F401
    from pdf_extractor_spark.operators import (  # noqa: F401
        curation,
        dedup,
        relational,
        similarity,
        textstats,
    )

    return dict(_REGISTRY)
