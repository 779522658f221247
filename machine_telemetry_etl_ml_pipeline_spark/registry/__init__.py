"""Declared-query registry: every implemented operator from SURVEY.md §2
as a (spark_builder, duckdb_oracle_sql) pair over the driver's testdata.

One module per entry-name family (``ref``, ``ext``, ``tpch``,
``stream``, ``llm``, ``ml``, ``graph``, ``udf``); ``sql_scripting``
holds the ``ext_*`` SQL-scripting entries. Importing this package
imports every module below it, which fills ``REGISTRY``. The order the
driver reads is ``__spark_entry__.QUERY_ORDER``, not registration order.

Conventions (driver compares row count + schema + order-insensitive
value hash):
- every computed column is aliased identically in Spark and SQL;
- float outputs are rounded to 4 decimals on BOTH sides;
- timestamps are projected as epoch seconds (BIGINT) to dodge
  timezone/precision representation differences;
- every top-k has a deterministic tiebreak on a key column.
"""

from __future__ import annotations

import functools
import importlib
import pkgutil
import shutil
import tempfile
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import tune_session
from ..sources.catalog import load_table


@dataclass
class Query:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None -> rows-only check


REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str | None):
    """Register ``fn`` as entry ``name``. ``Query.fn`` tunes the caller's
    session (`session.tune_session`) and then runs ``fn``: dispatch is
    the one place an entry's conf is set. Returns ``fn`` itself."""

    def deco(fn):
        @functools.wraps(fn)
        def dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
            return fn(tune_session(spark), sf_dir)

        REGISTRY[name] = Query(fn=dispatch, oracle=oracle)
        return fn

    return deco


_t = load_table


def _views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register testdata tables as temp views for the spark.sql entries
    (EP2: the SQL-string lifecycle the reference delegates to Postgres,
    SURVEY §3)."""
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)


@contextmanager
def _scratch(prefix: str):
    """A fresh temp dir for an entry's files, removed on exit. An entry
    that writes files works under it and returns ``_materialize``-d rows
    from inside the block, so nothing it wrote outlives the call. Those
    results are bounded by construction: a digest, per-type count or
    literal payload of 1 to 50 rows, the 20 files ext_source_binaryfile
    mints, or ext_manifest_pruned_scan's 4-user window, whose events
    per user stay flat as SF grows (266 rows at sf0.001, 258 at sf0.01,
    289 at sf0.1)."""
    work = tempfile.mkdtemp(prefix=prefix)
    try:
        yield work
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _materialize(df):
    """``df``'s rows as a local frame, so the result outlives the
    files it was read from. The collect is bounded: see ``_scratch``."""
    return df.sparkSession.createDataFrame(df.collect(), df.schema)


def _epoch(col: str = "ts"):
    """Epoch seconds as BIGINT; floor matches DuckDB CAST(floor(epoch(ts)))."""
    return F.unix_timestamp(F.col(col)).cast("long")


# The family modules import the names above, so they load last.
for _mod in pkgutil.iter_modules(__path__):
    importlib.import_module(f"{__name__}.{_mod.name}")
