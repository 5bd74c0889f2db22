"""Parquet table readers for the driver test tables (TESTDATA.md).

At 100 TB these reads become partitioned-lake scans; everything here is
a plain ``spark.read.parquet`` so Catalyst keeps predicate pushdown,
column pruning, and partition pruning (SURVEY §4).
"""

from __future__ import annotations

import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Session-scoped catalog cache: ``spark.read.parquet`` re-reads the
# footer (schema discovery) through py4j on EVERY call — measured
# ~0.2-0.3 s of pure driver-side latency per query build when a query
# touches 2-4 tables. A real warehouse caches table metadata in its
# catalog; this dict is that catalog for the path-addressed test lake.
# Keyed by (applicationId, path, file mtime) so a new session or a
# rewritten file never sees a stale plan; DataFrames are immutable so
# sharing one logical plan across queries is safe.
_TABLE_CACHE: dict[tuple, DataFrame] = {}


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one test table as a DataFrame (catalog-cached per session).

    ``events.parquet`` carries TIMESTAMP(NANOS). Depending on the Spark
    build, the scan either rejects it unless
    ``spark.sql.legacy.parquet.nanosAsLong`` is set (ts arrives as a
    nanosecond ``long``) or reads it natively as ``timestamp_ntz``
    (micro-truncated). Branch on the schema actually read so both
    behaviors land on the same micro-truncated TIMESTAMP_NTZ column —
    the truncation DuckDB applies, so oracle comparisons stay exact.
    The conf set is an idempotent fallback for driver-built vanilla
    sessions (the driver harness constructs its own SparkSession).
    """
    path = f"{sf_dir}/{name}.parquet"
    try:
        mtime = os.path.getmtime(path)
    except OSError:
        mtime = None
    key = (spark.sparkContext.applicationId, path, mtime)
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        return cached
    if name == "events":
        if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        df = spark.read.parquet(path)
    if len(_TABLE_CACHE) > 256:
        # bound growth across many test sessions: evict DEAD sessions'
        # entries (stopped SparkSessions pin py4j-backed plans forever
        # otherwise) and keep the live session's hot entries — a full
        # clear() would force footer re-reads for every current table
        app = key[0]
        for k in [k for k in _TABLE_CACHE if k[0] != app]:
            del _TABLE_CACHE[k]
    _TABLE_CACHE[key] = df
    return df


def spread(df: DataFrame, partitions: int | None = None) -> DataFrame:
    """Ensure ``df`` is partitioned at least ``defaultParallelism``-wide
    before a CPU-heavy stage (Python kernel, interpreted HOF chain,
    external-call fan-out).

    The test parquet files are single-row-group, so Spark's scan yields
    ONE partition per file and everything downstream of the scan runs on
    one core of 32 unless a shuffle intervenes. On a production lake the
    input arrives with >= cores partitions and this is a no-op — the
    partition-count probe makes the repartition conditional, so no
    shuffle is ever added at scale. When it does fire, the shuffled
    frame is the narrow kernel input (ids + text / vectors), never wide
    intermediate state.
    """
    target = partitions or df.sparkSession.sparkContext.defaultParallelism
    # the probe converts the plan to an RDD (a full physical-planning
    # round trip, ~50-100 ms driver-side); memoize it on the DataFrame
    # object — table() returns session-cached frames, so repeated
    # queries over the same table pay the probe once
    nparts = getattr(df, "_sg_nparts", None)
    if nparts is None:
        nparts = df.rdd.getNumPartitions()
        try:
            df._sg_nparts = nparts
        except AttributeError:
            pass
    if nparts >= target:
        return df
    return df.repartition(target)


def load(spark: SparkSession, sf_dir: str, *names: str) -> tuple[DataFrame, ...]:
    """Read several tables at once: ``li, ords = load(spark, d, "lineitem", "orders")``."""
    return tuple(table(spark, sf_dir, n) for n in names)


def sql_query(text: str) -> Callable[[SparkSession, str], DataFrame]:
    """A registry builder that runs the SQL ``text`` itself.

    Every table named as a word in ``text`` is bound under its own name
    by a leading CTE over a ``spark.sql`` DataFrame parameter. PySpark
    registers each parameter under a unique temp-view name and drops it
    once the statement is analyzed, so concurrent calls against
    different ``sf_dir`` never share catalog state (a fixed view name
    raced — tests/test_concurrent_queries.py pins that). Only the named
    tables are read, so fixture directories holding a subset of the
    tables still work. Braces in ``text`` are doubled so the parameter
    formatter passes them through verbatim. The builder carries
    ``text`` as ``sql_text`` so tests can pin which queries run it.
    """
    names = [t for t in TABLES if re.search(rf"\b{t}\b", text)]
    ctes = ", ".join(f"{t} AS (SELECT * FROM {{{t}}})" for t in names)
    body = text.replace("{", "{{").replace("}", "}}")
    statement = f"WITH {ctes}\nSELECT * FROM (\n{body}\n)"

    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        return spark.sql(statement, **{t: table(spark, sf_dir, t) for t in names})

    build.sql_text = text
    return build
