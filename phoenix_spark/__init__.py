"""phoenix_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of Apache Phoenix (reference: apache/phoenix).

Architecture (Spark-first, NOT a port):
  - ``session``   : tuned SparkSession factory (AQE, shuffle sizing, UTC).
  - ``types``     : Phoenix type strings → Spark DataTypes.
  - ``sqllex``    : the dialect lexer every SQL-scanning module shares
                    (masking, depth-0 splitting, bracket matching).
  - ``sqlfront``  : dialect front-end (literal-safe function rewrites,
                    statement classification).
  - ``ddl``       : CREATE TABLE/VIEW/SEQUENCE, UPSERT, DELETE parsing.
  - ``catalog``   : fixture-table registry over parquet directories.
  - ``mutations`` : change-log tables — UPSERT/DELETE segments, latest-wins
                    compaction, snapshot reads, CDC images (SYSTEM.CATALOG +
                    MutationState analogue).
  - ``engine``    : Engine(spark).sql(...) front door / statement router;
                    sequences, views, UDF binding, bulk load.
  - ``streaming`` : change-log / CDC surface on Structured Streaming.
  - ``queries``   : the operator inventory from SURVEY.md §2 expressed as
                    DataFrame/SQL builders, each paired with a DuckDB oracle.
"""

__version__ = "0.1.0"

from phoenix_spark.engine import Engine  # noqa: F401
