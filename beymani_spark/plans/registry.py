"""Query registry: every implemented operator exposed as a (Spark builder,
DuckDB oracle SQL) pair for the driver's correctness harness.

Conventions (driver contract, see __spark_entry__.py):
- builder(spark, sf_dir) -> DataFrame; oracle is ANSI SQL over pre-registered
  views of the same parquet tables.
- Column names match exactly on both sides; every computed double is rounded
  to 6 decimals on both sides so order-of-summation float noise doesn't break
  the value hash.
- Session timezone is pinned to UTC (sources.tables.utc_session) so datetime
  functions agree with DuckDB's naive-UTC timestamps.
"""
from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, "Query"] = {}


#: sf dir the driver's correctness harness runs at — callable oracles are
#: resolved against it when no explicit sf_dir is given
DRIVER_SF_DIR = "/root/testdata/sf0.01"


@dataclass
class Query:
    name: str
    builder: Callable[[SparkSession, str], DataFrame]
    #: ANSI SQL string, or a callable (sf_dir) -> SQL for oracles that bake
    #: a data-dependent fitted model into the statement (model_oracles.py)
    oracle: str | Callable[[str], str] | None = None

    def oracle_sql(self, sf_dir: str = DRIVER_SF_DIR) -> str | None:
        return self.oracle(sf_dir) if callable(self.oracle) else self.oracle


def register(name: str, oracle: str | Callable[[str], str] | None = None):
    def deco(fn):
        QUERIES[name] = Query(name, fn, oracle)
        return fn

    return deco


# importing the modules populates QUERIES
from . import queries_stats  # noqa: E402,F401
from . import queries_histogram  # noqa: E402,F401
from . import queries_markov  # noqa: E402,F401
from . import queries_knn  # noqa: E402,F401
from . import queries_text  # noqa: E402,F401
from . import queries_multivariate  # noqa: E402,F401
from . import queries_drift  # noqa: E402,F401
from . import queries_gaps  # noqa: E402,F401
from . import queries_relational  # noqa: E402,F401
from . import queries_packing  # noqa: E402,F401
