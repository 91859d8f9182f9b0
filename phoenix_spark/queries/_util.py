"""Shared helpers for the oracle-paired query inventory.

Determinism contract (this is what makes the DuckDB hash-compare stable):

  * Floating-point SUMs are order-dependent; Spark shuffles make them
    nondeterministic run-to-run, and DuckDB would sum in yet another order.
    Every hashed aggregate therefore runs on exact DECIMAL values (decimal
    addition is associative/exact) and only the *final* scalar is cast to
    double — identical bits on both engines.
  * Final output columns are explicitly cast (double / bigint / string) so
    the Spark schema matches DuckDB's inferred schema.
  * Every aggregate / computed column is aliased identically in the Spark
    builder and the oracle SQL (driver compares by column name).
  * TopK / LIMIT queries always order by a unique key suffix so the cut is
    deterministic.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

QueryFn = Callable[[SparkSession, str], DataFrame]

# Exact-arithmetic casts for the TPC-H-ish double columns (values have <= 2
# decimal digits — see FIXTURES.md — so DECIMAL(18,2) is lossless).
DEC = "decimal(18,2)"


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from phoenix_spark.catalog import read_table

    return read_table(spark, f"{sf_dir.rstrip('/')}/{name}.parquet")


def dec(col: str | F.Column, scale: int = 2):
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal(18,{scale})")


def d12(col: str | F.Column):
    """decimal(12,2) cast: keeps 3-way products within decimal(38,6) so
    revenue expressions stay exact on both engines."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("decimal(12,2)")


def dsum(col: str | F.Column, scale: int = 2):
    """Exact sum of a double column → double (deterministic both engines)."""
    return F.sum(dec(col, scale)).cast("double")


def bsum(col: str | F.Column):
    """Integer sum with explicit bigint result (DuckDB sums ints to HUGEINT)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c).cast("long")


def views(spark: SparkSession, sf_dir: str) -> None:
    """Ensure all fixture tables of ``sf_dir`` are temp views on ``spark``.

    The registered-dir marker lives in the session's own conf (not an
    ``id(spark)``-keyed dict, which could collide after a session is stopped
    and its address reused).
    """
    from phoenix_spark.catalog import TABLE_NAMES

    marker = "phoenix_spark.registered_sf_dir"
    try:
        if spark.conf.get(marker, "") == sf_dir:
            return
    except Exception:
        pass
    for name in TABLE_NAMES:
        t(spark, sf_dir, name).createOrReplaceTempView(name)
    spark.conf.set(marker, sf_dir)


def ship_package(spark: SparkSession) -> None:
    """Make the ``phoenix_spark`` package importable on executor Python
    workers (cloudpickle serializes module-level Pandas-UDF functions BY
    REFERENCE, so the worker must import the defining module).

    A driver launched outside the repo (the grading driver, spark-submit
    from elsewhere, a real cluster) has no ``phoenix_spark`` on executor
    PYTHONPATH — this zips the package once per session and distributes it
    via ``addPyFile``, the same mechanism that ships application eggs on a
    1000-executor cluster.  Local sessions whose workers inherit the repo
    cwd work either way; the guard attribute keeps it one-shot.
    """
    if getattr(spark, "_phoenix_spark_pkg_shipped", False):
        return
    import os
    import shutil
    import tempfile

    import phoenix_spark

    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(phoenix_spark.__file__)))
    tmp = tempfile.mkdtemp(prefix="phoenix_spark_pyfiles_")
    zip_path = shutil.make_archive(
        os.path.join(tmp, "phoenix_spark_pkg"),
        "zip",
        root_dir=pkg_root,
        base_dir="phoenix_spark",
    )
    spark.sparkContext.addPyFile(zip_path)
    spark._phoenix_spark_pkg_shipped = True


class Registry:
    """Collects (name -> query builder, name -> oracle sql)."""

    def __init__(self) -> None:
        self.queries: dict[str, QueryFn] = {}
        self.oracles: dict[str, str] = {}

    def add(self, name: str, fn: QueryFn, oracle: str | None = None) -> None:
        assert name not in self.queries, f"duplicate query name {name}"
        self.queries[name] = fn
        if oracle is not None:
            self.oracles[name] = oracle

    def merge(self, other: "Registry") -> None:
        for name, fn in other.queries.items():
            self.add(name, fn, other.oracles.get(name))


# Split-count memo for spread(): df.rdd.getNumPartitions() converts the plan
# to an RDD (~0.1-0.9 s of driver time per fresh DataFrame object — measured),
# but the answer depends only on the scanned files, so cache it per file set.
_SPLIT_COUNT_CACHE: dict[tuple[str, ...], int] = {}
# spread()'s size cap: one round-robin partition per this many input bytes
_SPREAD_CHUNK = 128 * 1024


def spread(spark, df):
    """Round-robin a DataFrame across cores before CPU-heavy per-row maps —
    but ONLY when the scan is under-split, and only as wide as the input's
    SIZE justifies.

    The fixture tables are single parquet files = one input split, which
    would serialize hash/shingle/projection-heavy maps onto one core
    (measured 38 s → 6 s for dedup_simhash at sf0.1).  The guard matters at
    scale: an unconditional repartition() would round-robin-shuffle the
    ENTIRE input (100 TB of raw rows), so when the scan already carries at
    least one split per core — the normal 100 TB layout — this is a no-op
    and the maps run directly on the scan tasks.

    Size-aware ceiling (round 9): a fixed spread to defaultParallelism gave
    32 tasks of ~18 KB each on the 580 KB sf0.1 documents file, and the
    measured per-task cost — ~20-60 ms of fixed JVM overhead plus ~300 ms
    of Python round-trip wait on mapInArrow stages — dwarfed the per-row
    work (CPU for an identical query measured 9.5 s at 132 tasks vs 1.8 s
    at 36, OPTIMIZATION_r09.md §5).  The target is therefore capped
    at one partition per ``_SPREAD_CHUNK`` (128 KiB) of compressed input,
    so tiny inputs get a handful of tasks, 10x data gets proportionally
    more, and at-scale inputs keep the no-op branch.  When the source has
    no file list, or file sizes are unavailable (non-local storage), the
    cores-wide target is kept.
    """
    target = spark.sparkContext.defaultParallelism
    try:
        key = tuple(sorted(df.inputFiles()))
    except Exception:
        key = ()
    if key:
        n = _SPLIT_COUNT_CACHE.get(key)
        if n is None:
            n = df.rdd.getNumPartitions()
            _SPLIT_COUNT_CACHE[key] = n
    else:
        n = df.rdd.getNumPartitions()
    if n >= target:
        return df
    import os  # noqa: PLC0415

    # only a file-backed source is size-capped; a source without a file list
    # keeps the cores-wide target
    if key:
        try:
            total = sum(
                os.path.getsize(p.removeprefix("file:")) for p in key
            )
            target = max(1, min(target, -(-total // _SPREAD_CHUNK)))
        except OSError:
            pass  # unknown sizes: keep the cores-wide target
    if n >= target:
        return df
    return df.repartition(target)
