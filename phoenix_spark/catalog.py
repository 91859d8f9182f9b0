"""Table catalog: the Phoenix SYSTEM.CATALOG analogue.

Phoenix stores table metadata (schema, composite PK with per-column sort
order, salt buckets, multi-tenancy) in a catalog table maintained by a
coprocessor endpoint (reference: phoenix-core-server/.../coprocessor/
MetaDataEndpointImpl.java; PTable at phoenix-core-client/.../schema/
PTable.java:57).  Here the catalog is a dict of TableMeta over parquet
directories; the physical concerns Phoenix encodes in the row key (salting,
sort order) map to Spark partitioning and are recorded as metadata only.

Metadata cache.  Phoenix's client keeps each table's PTable in its
PMetaData cache and re-resolves it only when the table's last-DDL
timestamp moves (VerifyLastDDLTimestamp).  Here ``read_table`` keeps one
frame per table *version*: the key is the live SparkSession, the path and
the path's ``file_signature`` — ``(size, mtime_ns)`` of a file, or the
sorted ``(name, size, mtime_ns)`` of every parquet file under a directory.
A hit costs one ``stat`` (a directory walk for a directory) and starts no
Spark job; a new signature or a new session reads the path again and
replaces its entry, so the cache holds one frame per path.  The listing,
the schema inference and the TIMESTAMP(NANOS) footer probe run once per
version.  A rewrite that keeps a file's size within one filesystem
timestamp tick would go unseen, as it would by ``make``.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

# The driver fixture tables (TESTDATA.md / FIXTURES.md §A) with their declared
# primary keys — PK = Phoenix composite row key; used for deterministic
# ordering, RVC pagination and change-log compaction identity.
FIXTURE_PKS: dict[str, tuple[str, ...]] = {
    "region": ("r_regionkey",),
    "nation": ("n_nationkey",),
    "customer": ("c_custkey",),
    "supplier": ("s_suppkey",),
    "part": ("p_partkey",),
    "orders": ("o_orderkey",),
    "lineitem": ("l_orderkey", "l_linenumber"),
    "events": ("event_id",),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}

TABLE_NAMES = tuple(FIXTURE_PKS)


@dataclass
class TableMeta:
    name: str
    path: str
    pk: tuple[str, ...] = ()
    salt_buckets: int = 0  # parsed-and-ignored: hash partitioning is native
    props: dict = field(default_factory=dict)


class Catalog:
    """Registry of tables for one data directory (one 'schema')."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = spark
        self.sf_dir = sf_dir.rstrip("/")
        self.tables: dict[str, TableMeta] = {}
        for name, pk in FIXTURE_PKS.items():
            self.tables[name] = TableMeta(
                name=name, path=f"{self.sf_dir}/{name}.parquet", pk=pk
            )

    def df(self, name: str) -> DataFrame:
        meta = self.tables[name]
        return read_table(self.spark, meta.path)

    def register_all(self) -> None:
        """Expose every table as a temp view so spark.sql() sees the schema."""
        for name in self.tables:
            self.df(name).createOrReplaceTempView(name)


# path -> (session, signature, frame, TIMESTAMP(NANOS) column names)
_FRAMES: dict[str, tuple[SparkSession, tuple, DataFrame, list[str]]] = {}


def file_signature(path: str) -> tuple:
    """The version of a parquet file or directory: ``(size, mtime_ns)`` of
    a file, the sorted ``(name, size, mtime_ns)`` of the parquet files
    under a directory (names relative to it)."""
    if not os.path.isdir(path):
        st = os.stat(path)
        return (st.st_size, st.st_mtime_ns)
    sig = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                st = os.stat(os.path.join(root, f))
                rel = os.path.relpath(os.path.join(root, f), path)
                sig.append((rel, st.st_size, st.st_mtime_ns))
    return tuple(sorted(sig))


def read_table(spark: SparkSession, path: str) -> DataFrame:
    """Read a parquet table, tolerating TIMESTAMP(NANOS) columns; one frame
    per session and table version (see the module docstring).

    Spark has no nanosecond timestamp type; parquet TIMESTAMP(NANOS) columns
    (the events.ts ROW_TIMESTAMP analogue) raise PARQUET_TYPE_ILLEGAL.  With
    ``spark.sql.legacy.parquet.nanosAsLong`` they read as raw nano counts,
    which we convert to TimestampType (µs, truncating) — matching Phoenix's
    own behavior of truncating TIMESTAMP nanos beyond its ms+nanos model
    (reference: phoenix-core-client/.../schema/types/PTimestamp.java).
    """
    import pyspark.sql.functions as F

    sig = file_signature(path)
    hit = _FRAMES.get(path)
    if hit is not None and hit[0] is spark and hit[1] == sig:
        df, nanos_cols = hit[2], hit[3]
    else:
        nanos_cols = _nanos_columns(path)
        df = None
    if nanos_cols:
        # Leave the conf on: it only affects TIMESTAMP(NANOS) columns, and
        # the scan itself (action time) still needs it — on a hit too.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if df is None:
        df = spark.read.parquet(path)
        for name in nanos_cols:
            # Exact ns→µs truncation in integer arithmetic: epoch nanos
            # (~1.8e18) exceed double's 2^53 exact range, so `col / 1000`
            # (double division) could land a microsecond off; `div` stays
            # in long arithmetic.
            df = df.withColumn(
                name, F.timestamp_micros(F.expr(f"`{name}` div 1000"))
            )
        _FRAMES[path] = (spark, sig, df, nanos_cols)
    return df


def _nanos_columns(path: str) -> list[str]:
    """Names of TIMESTAMP(NANOS) columns, probed from one parquet footer.

    Handles both a single .parquet file and a directory of part files (the
    100 TB table shape) — all fragments of one table share a schema.
    """
    import glob

    import pyarrow.parquet as pq

    probe = path
    if os.path.isdir(path):
        parts = sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
        if not parts:
            return []
        probe = parts[0]
    arrow_schema = pq.read_schema(probe)
    return [f.name for f in arrow_schema if str(f.type).startswith("timestamp[ns")]

