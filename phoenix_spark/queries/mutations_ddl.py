"""Mutation + DDL correctness entries (SURVEY.md §2.9 / §2.10).

Each query builds a THROWAWAY managed table in a fresh temp warehouse, runs
a deterministic mutation script derived from the fixture tables, and returns
the final compacted state — which the DuckDB oracle reproduces as a plain
SELECT over the same fixtures.  This pins the full UPSERT → change-log →
latest-wins-compaction → DELETE-tombstone pipeline (UpsertCompiler /
DeleteCompiler / MutationState semantics) behind a value-hash check.

Arithmetic in the scripts sticks to exactness-preserving ops on doubles
(*2 is a power-of-two scale; +1000 is a single correctly-rounded IEEE add
both engines perform identically).
"""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from phoenix_spark.queries._util import Registry

REG = Registry()


def _engine(spark, sf):
    from phoenix_spark.engine import Engine

    return Engine(spark, sf_dir=sf, warehouse=tempfile.mkdtemp(prefix="phx_wh_"))


# --- UPSERT VALUES/SELECT + latest-wins + DELETE tombstones ------------------
def _upsert_compaction(spark, sf):
    e = _engine(spark, sf)
    e.sql(
        "CREATE TABLE t_orders (o_orderkey BIGINT NOT NULL, o_totalprice DOUBLE, "
        "o_orderstatus VARCHAR, CONSTRAINT pk PRIMARY KEY (o_orderkey))"
    )
    e.sql(
        "UPSERT INTO t_orders SELECT o_orderkey, o_totalprice, o_orderstatus "
        "FROM orders WHERE o_orderkey <= 100"
    )
    # second batch overwrites the even keys with doubled price (latest wins)
    e.sql(
        "UPSERT INTO t_orders SELECT o_orderkey, o_totalprice * 2, o_orderstatus "
        "FROM orders WHERE o_orderkey <= 100 AND o_orderkey % 2 = 0"
    )
    e.sql("DELETE FROM t_orders WHERE o_orderkey % 10 = 0")
    return e.table("t_orders").select(
        "o_orderkey",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
        "o_orderstatus",
    )


REG.add(
    "mutation_upsert_compaction",
    _upsert_compaction,
    """
    SELECT o_orderkey,
           CAST(CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice * 2
                     ELSE o_totalprice END AS DOUBLE) AS o_totalprice,
           o_orderstatus
    FROM orders
    WHERE o_orderkey <= 100 AND o_orderkey % 10 <> 0
    """,
)

# --- snapshot (AS OF) read: time travel across mutation batches --------------
def _snapshot_read(spark, sf):
    e = _engine(spark, sf)
    e.sql(
        "CREATE TABLE t_snap (o_orderkey BIGINT NOT NULL, o_totalprice DOUBLE, "
        "CONSTRAINT pk PRIMARY KEY (o_orderkey))"
    )
    e.sql(
        "UPSERT INTO t_snap SELECT o_orderkey, o_totalprice FROM orders "
        "WHERE o_orderkey <= 50"
    )
    e.sql(
        "UPSERT INTO t_snap SELECT o_orderkey, o_totalprice + 1000 FROM orders "
        "WHERE o_orderkey <= 50"
    )
    # read AS OF the first commit: the +1000 batch is invisible
    return (
        e.managed("t_snap")
        .read(as_of=1)
        .select(
            "o_orderkey", F.col("o_totalprice").cast("double").alias("o_totalprice")
        )
    )


REG.add(
    "mutation_snapshot_read",
    _snapshot_read,
    """
    SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice
    FROM orders WHERE o_orderkey <= 50
    """,
)

# --- CDC change feed with pre/post images ------------------------------------
def _cdc_feed(spark, sf):
    e = _engine(spark, sf)
    e.sql(
        "CREATE TABLE t_cdc (o_orderkey BIGINT NOT NULL, o_totalprice DOUBLE, "
        "CONSTRAINT pk PRIMARY KEY (o_orderkey))"
    )
    e.sql(
        "UPSERT INTO t_cdc SELECT o_orderkey, o_totalprice FROM orders "
        "WHERE o_orderkey <= 20"
    )
    e.sql(
        "UPSERT INTO t_cdc SELECT o_orderkey, o_totalprice * 2 FROM orders "
        "WHERE o_orderkey <= 10"
    )
    ch = e.managed("t_cdc").changes()
    return ch.select(
        "o_orderkey",
        "change_ts",
        "change_op",
        F.col("pre_image.o_totalprice").cast("double").alias("pre_price"),
        F.col("post_image.o_totalprice").cast("double").alias("post_price"),
    )


REG.add(
    "mutation_cdc_feed",
    _cdc_feed,
    """
    SELECT o_orderkey, CAST(1 AS BIGINT) AS change_ts, 'UPSERT' AS change_op,
           CAST(NULL AS DOUBLE) AS pre_price,
           CAST(o_totalprice AS DOUBLE) AS post_price
    FROM orders WHERE o_orderkey <= 20
    UNION ALL
    SELECT o_orderkey, CAST(2 AS BIGINT), 'UPSERT',
           CAST(o_totalprice AS DOUBLE),
           CAST(o_totalprice * 2 AS DOUBLE)
    FROM orders WHERE o_orderkey <= 10
    """,
)

# --- salted table round-trip: SALT_BUCKETS parsed, hash-partitioning native --
# Reference: SaltingUtil.java:32-70 — the salt byte spreads write-hot
# monotonic keys across regions; Spark's hash partitioning does this natively,
# so the DDL property is recorded and the data path is a semantic no-op.
def _salted_roundtrip(spark, sf):
    e = _engine(spark, sf)
    e.sql(
        "CREATE TABLE t_salted (n_nationkey INTEGER NOT NULL, n_name VARCHAR, "
        "n_regionkey INTEGER, CONSTRAINT pk PRIMARY KEY (n_nationkey)) "
        "SALT_BUCKETS=8"
    )
    assert e.managed("t_salted").meta["props"]["SALT_BUCKETS"] == "8"
    e.sql("UPSERT INTO t_salted SELECT n_nationkey, n_name, n_regionkey FROM nation")
    return e.table("t_salted")


REG.add(
    "scan_salted_roundtrip",
    _salted_roundtrip,
    "SELECT n_nationkey, n_name, n_regionkey FROM nation",
)

# --- PHOENIX_ROW_TIMESTAMP(): commit-ts metadata column ----------------------
def _row_timestamp(spark, sf):
    e = _engine(spark, sf)
    e.sql(
        "CREATE TABLE t_rts (r_regionkey INTEGER NOT NULL, r_name VARCHAR, "
        "CONSTRAINT pk PRIMARY KEY (r_regionkey))"
    )
    e.sql("UPSERT INTO t_rts SELECT r_regionkey, r_name FROM region WHERE r_regionkey < 3")
    e.sql("UPSERT INTO t_rts SELECT r_regionkey, r_name FROM region WHERE r_regionkey >= 3")
    return e.managed("t_rts").read(with_row_timestamp=True)


REG.add(
    "meta_row_timestamp",
    _row_timestamp,
    """
    SELECT r_regionkey, r_name,
           CAST(CASE WHEN r_regionkey < 3 THEN 1 ELSE 2 END AS BIGINT)
             AS phoenix_row_timestamp
    FROM region
    """,
)

# --- Engine.sql round-trip: the JDBC-surface analogue with Phoenix-dialect
# function names flowing through the sqlfront tokenizer -----------------------
def _engine_sql(spark, sf):
    e = _engine(spark, sf)
    return e.sql(
        """
        SELECT p_partkey,
               REGEXP_SUBSTR(p_name, '[0-9]+') AS first_num,
               ARRAY_LENGTH(STRING_TO_ARRAY(p_type, ' ')) AS n_type_words,
               TO_NUMBER(SUBSTR(CAST(p_partkey AS STRING), 1, 2)) AS key2
        FROM part WHERE p_size <= 10
        """
    )


REG.add(
    "engine_sql_roundtrip",
    _engine_sql,
    """
    SELECT p_partkey,
           regexp_extract(p_name, '[0-9]+')                    AS first_num,
           CAST(len(string_split(p_type, ' ')) AS INT)         AS n_type_words,
           CAST(substr(CAST(p_partkey AS VARCHAR), 1, 2) AS DOUBLE) AS key2
    FROM part WHERE p_size <= 10
    """,
)

# --- CREATE VIEW: stored predicate recompiled per read (§2.10) ---------------
def _view_predicate(spark, sf):
    e = _engine(spark, sf)
    e.sql("CREATE VIEW rich_customers AS SELECT * FROM customer WHERE c_acctbal > 9000")
    return e.table("rich_customers").select(
        "c_custkey",
        "c_name",
        F.col("c_acctbal").cast("double").alias("c_acctbal"),
        "c_mktsegment",
    )


REG.add(
    "ddl_view_predicate",
    _view_predicate,
    """
    SELECT c_custkey, c_name, CAST(c_acctbal AS DOUBLE) AS c_acctbal, c_mktsegment
    FROM customer WHERE c_acctbal > 9000
    """,
)

# --- CREATE SEQUENCE + NEXT VALUE FOR (§2.10, SequenceRegionObserver) --------
def _sequence_rows(spark, sf):
    e = _engine(spark, sf)
    e.sql("CREATE SEQUENCE ids START WITH 100 INCREMENT BY 5")
    e.sql(
        "CREATE TABLE t_seq (id BIGINT NOT NULL, tag VARCHAR, "
        "CONSTRAINT pk PRIMARY KEY (id))"
    )
    for tag in ("a", "b", "c", "d"):
        e.sql(f"UPSERT INTO t_seq VALUES (NEXT VALUE FOR ids, '{tag}')")
    return e.table("t_seq")


REG.add(
    "ddl_sequence_rows",
    _sequence_rows,
    """
    SELECT * FROM (VALUES (CAST(100 AS BIGINT), 'a'), (105, 'b'), (110, 'c'),
                          (115, 'd')) AS t(id, tag)
    """,
)


# --- secondary index: covered scan substitution (SURVEY §1.1 Index row;
# CreateIndexCompiler / IndexMaintainer.java:143 / QueryOptimizer.java:230) ---
def _index_scan(spark, sf):
    e = _engine(spark, sf)
    e.sql(
        "CREATE TABLE t_ixo (o_orderkey BIGINT NOT NULL, o_custkey BIGINT, "
        "o_totalprice DOUBLE, o_orderstatus VARCHAR, "
        "CONSTRAINT pk PRIMARY KEY (o_orderkey))"
    )
    e.sql(
        "UPSERT INTO t_ixo SELECT o_orderkey, o_custkey, o_totalprice, "
        "o_orderstatus FROM orders"
    )
    e.sql("CREATE INDEX ix_cust ON t_ixo (o_custkey) INCLUDE (o_totalprice)")
    df = e.sql(
        "SELECT o_custkey, o_orderkey, o_totalprice FROM t_ixo "
        "WHERE o_custkey <= 500"
    )
    # the entry pins INDEX USAGE, not just result parity: fail loudly if the
    # optimizer fell back to the base table
    assert any(
        "/ix_cust/segments/" in f for f in df.inputFiles()
    ), "covered index was not substituted"
    return df.select(
        "o_custkey",
        "o_orderkey",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
    )


REG.add(
    "ddl_index_scan",
    _index_scan,
    """
    SELECT o_custkey, o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice
    FROM orders WHERE o_custkey <= 500
    """,
)


# --- partial index: CREATE INDEX ... WHERE (Phoenix 5.2 partial indexes;
# CreateIndexCompiler's index WHERE) — the projection holds ONLY rows
# satisfying the predicate, mutations maintain membership (rows updated out
# of the predicate leave the index), and substitution requires the query's
# WHERE to contain the index predicate ------------------------------------
def _index_partial(spark, sf):
    e = _engine(spark, sf)
    e.sql(
        "CREATE TABLE t_ixp (o_orderkey BIGINT NOT NULL, o_custkey BIGINT, "
        "o_totalprice DOUBLE, o_orderstatus VARCHAR, "
        "CONSTRAINT pk PRIMARY KEY (o_orderkey))"
    )
    e.sql(
        "UPSERT INTO t_ixp SELECT o_orderkey, o_custkey, o_totalprice, "
        "o_orderstatus FROM orders"
    )
    e.sql(
        "CREATE INDEX ix_open ON t_ixp (o_custkey) INCLUDE (o_totalprice) "
        "WHERE o_orderstatus = 'O'"
    )
    df = e.sql(
        "SELECT o_custkey, o_orderkey, o_totalprice FROM t_ixp "
        "WHERE o_orderstatus = 'O' AND o_custkey <= 500"
    )
    assert any(
        "/ix_open/segments/" in f for f in df.inputFiles()
    ), "partial index was not substituted"
    # a query whose WHERE does NOT contain the index predicate must fall
    # back to the base table (the partial index is incomplete for it)
    full = e.sql("SELECT o_custkey, o_orderkey FROM t_ixp WHERE o_custkey <= 500")
    assert not any("/ix_open/segments/" in f for f in full.inputFiles()), (
        "partial index substituted for a query it does not cover"
    )
    return df.select(
        "o_custkey",
        "o_orderkey",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
    )


REG.add(
    "ddl_index_partial",
    _index_partial,
    """
    SELECT o_custkey, o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice
    FROM orders WHERE o_orderstatus = 'O' AND o_custkey <= 500
    """,
)


# --- functional index: expression key (CreateIndexCompiler expression keys;
# IndexMaintainer stores the evaluated expression) ---------------------------
def _index_functional(spark, sf):
    e = _engine(spark, sf)
    e.sql(
        "CREATE TABLE t_ixf (o_orderkey BIGINT NOT NULL, o_custkey BIGINT, "
        "o_totalprice DOUBLE, "
        "CONSTRAINT pk PRIMARY KEY (o_orderkey))"
    )
    e.sql(
        "UPSERT INTO t_ixf SELECT o_orderkey, o_custkey, o_totalprice "
        "FROM orders"
    )
    e.sql(
        "CREATE INDEX ix_floor ON t_ixf (FLOOR(o_totalprice)) "
        "INCLUDE (o_custkey)"
    )
    df = e.sql(
        "SELECT o_orderkey, o_custkey FROM t_ixf "
        "WHERE FLOOR(o_totalprice) < 10000"
    )
    assert any(
        "/ix_floor/segments/" in f for f in df.inputFiles()
    ), "functional index was not substituted"
    return df.select("o_orderkey", "o_custkey")


REG.add(
    "ddl_index_functional",
    _index_functional,
    """
    SELECT o_orderkey, o_custkey
    FROM orders WHERE FLOOR(o_totalprice) < 10000
    """,
)


# --- uncovered index: probe answered by the index, joined back to the base
# (GlobalIndexOptimizationIT.java behavior; QueryOptimizer.java:225-353 picks
# the uncovered path automatically for UNCOVERED indexes, by hint otherwise) --
def _index_uncovered(spark, sf):
    e = _engine(spark, sf)
    e.sql(
        "CREATE TABLE t_ixu (o_orderkey BIGINT NOT NULL, o_custkey BIGINT, "
        "o_totalprice DOUBLE, o_orderstatus VARCHAR, "
        "CONSTRAINT pk PRIMARY KEY (o_orderkey))"
    )
    e.sql(
        "UPSERT INTO t_ixu SELECT o_orderkey, o_custkey, o_totalprice, "
        "o_orderstatus FROM orders"
    )
    e.sql("CREATE UNCOVERED INDEX ixu_cust ON t_ixu (o_custkey)")
    # o_totalprice/o_orderstatus are NOT in the index → coverage fails; the
    # plan must scan the narrow index for matching PKs and broadcast-semi-join
    # back to the base table (never a full unpruned base scan per key)
    df = e.sql(
        "SELECT o_custkey, o_orderkey, o_totalprice, o_orderstatus "
        "FROM t_ixu WHERE o_custkey <= 500"
    )
    files = df.inputFiles()
    assert any("/ixu_cust/segments/" in f for f in files), (
        "uncovered index did not answer the probe"
    )
    assert any("/t_ixu/segments/" in f for f in files), (
        "join-back to the base table missing"
    )
    return df.select(
        "o_custkey",
        "o_orderkey",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
        "o_orderstatus",
    )


REG.add(
    "ddl_index_uncovered",
    _index_uncovered,
    """
    SELECT o_custkey, o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice,
           o_orderstatus
    FROM orders WHERE o_custkey <= 500
    """,
)


# --- UPSERT SELECT: single source pass + partial-column cell semantics -------
# The reference writes only the LISTED cells (UpsertCompiler builds one Put
# per listed column): a partial-column UPSERT SELECT preserves the unlisted
# columns of existing rows.  The entry pins both the preserved values (the
# CASE oracle keeps o_orderstatus untouched) and the executeUpdate row count.
def _upsert_select(spark, sf):
    e = _engine(spark, sf)
    e.sql(
        "CREATE TABLE t_usel (o_orderkey BIGINT NOT NULL, o_totalprice DOUBLE, "
        "o_orderstatus VARCHAR, CONSTRAINT pk PRIMARY KEY (o_orderkey))"
    )
    e.sql(
        "UPSERT INTO t_usel SELECT o_orderkey, o_totalprice, o_orderstatus "
        "FROM orders WHERE o_orderkey <= 200"
    )
    n = e.sql(
        "UPSERT INTO t_usel (o_orderkey, o_totalprice) "
        "SELECT o_orderkey, o_totalprice * 2 FROM orders "
        "WHERE o_orderkey <= 200 AND o_orderkey % 3 = 0"
    )
    expect = e.table("orders").filter(
        "o_orderkey <= 200 AND o_orderkey % 3 = 0"
    ).count()
    assert n == expect, f"executeUpdate count {n} != {expect}"
    return e.table("t_usel").select(
        "o_orderkey",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
        "o_orderstatus",
    )


REG.add(
    "mutation_upsert_select",
    _upsert_select,
    """
    SELECT o_orderkey,
           CAST(CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 2
                     ELSE o_totalprice END AS DOUBLE) AS o_totalprice,
           o_orderstatus
    FROM orders
    WHERE o_orderkey <= 200
    """,
)


# --- streaming CDC feed, externally verified ---------------------------------
# A REAL Structured Streaming job (availableNow trigger) over the change log:
# mutations commit, the readStream CDC source drains them into a memory sink,
# and the verified result is the per-op change count + exact key sum — fully
# deterministic, so the STREAMING surface gets a value-hash oracle row, not
# just local tests.  Scale shape: the stream source lists only new segment
# files per micro-batch; the sink aggregate is map-side combined.
def _stream_cdc_counts(spark, sf):
    import tempfile
    import uuid

    from phoenix_spark.streaming import stream_changes

    e = _engine(spark, sf)
    e.sql(
        "CREATE TABLE t_scdc (o_orderkey BIGINT NOT NULL, o_totalprice DOUBLE, "
        "CONSTRAINT pk PRIMARY KEY (o_orderkey))"
    )
    e.sql(
        "UPSERT INTO t_scdc SELECT o_orderkey, o_totalprice FROM orders "
        "WHERE o_orderkey <= 100"
    )
    e.sql(
        "UPSERT INTO t_scdc SELECT o_orderkey, o_totalprice * 2 FROM orders "
        "WHERE o_orderkey <= 100 AND o_orderkey % 2 = 0"
    )
    e.sql("DELETE FROM t_scdc WHERE o_orderkey % 10 = 0")
    sink = f"scdc_sink_{uuid.uuid4().hex[:8]}"
    q = (
        stream_changes(spark, e.managed("t_scdc"))
        .writeStream.format("memory")
        .queryName(sink)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="scdc_ck_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.table(sink)
        .groupBy("change_op")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_changes"),
            F.sum("o_orderkey").cast("long").alias("key_sum"),
        )
    )


REG.add(
    "stream_cdc_counts",
    _stream_cdc_counts,
    """
    WITH b AS (SELECT o_orderkey FROM orders WHERE o_orderkey <= 100)
    SELECT 'UPSERT' AS change_op,
           CAST((SELECT COUNT(*) FROM b)
                + (SELECT COUNT(*) FROM b WHERE o_orderkey % 2 = 0)
                AS BIGINT) AS n_changes,
           CAST((SELECT SUM(o_orderkey) FROM b)
                + (SELECT SUM(o_orderkey) FROM b WHERE o_orderkey % 2 = 0)
                AS BIGINT) AS key_sum
    UNION ALL
    SELECT 'DELETE',
           CAST((SELECT COUNT(*) FROM b WHERE o_orderkey % 10 = 0) AS BIGINT),
           CAST((SELECT SUM(o_orderkey) FROM b WHERE o_orderkey % 10 = 0) AS BIGINT)
    """,
)


# --- custom stateful streaming operator, externally verified -----------------
# applyInPandasWithState (the §2.11 custom-stateful surface) behind a
# value-hash oracle: per-user state (event count + exact int64 id checksum)
# accumulates in the state store across an availableNow run and the final
# per-key rows hash-match a plain relational aggregate.  The source copy is
# coalesced to ONE file so the run is a single micro-batch and the update-
# mode memory sink holds exactly one row per key.
def _stream_stateful_checksum(spark, sf):
    import tempfile
    import uuid

    from phoenix_spark.queries._util import t as _t
    from phoenix_spark.streaming import stateful_user_checksum

    src = tempfile.mkdtemp(prefix="phx_sst_") + "/ev"
    (
        _t(spark, sf, "events")
        .select("user_id", "event_id")
        .coalesce(1)
        .write.parquet(src)
    )
    stream = spark.readStream.schema("user_id bigint, event_id bigint").parquet(src)
    sink = f"sst_sink_{uuid.uuid4().hex[:8]}"
    q = (
        stateful_user_checksum(stream)
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("update")
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="phx_sst_ck_"))
        .start()
    )
    q.awaitTermination()
    return spark.table(sink).select("user_id", "n_events", "id_sum")


REG.add(
    "stream_stateful_checksum",
    _stream_stateful_checksum,
    """
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT)      AS n_events,
           CAST(SUM(event_id) AS BIGINT) AS id_sum
    FROM events
    GROUP BY user_id
    """,
)


# --- queryable SYSTEM.CATALOG (PhoenixDatabaseMetaData; the reference's IT
# scripts read it with plain SQL — query_view_index.sql) ----------------------
def _system_catalog(spark, sf):
    e = _engine(spark, sf)
    e.sql(
        "CREATE TABLE app.users (tenant CHAR(4) NOT NULL, uid BIGINT NOT NULL, "
        "score DOUBLE, CONSTRAINT pk PRIMARY KEY (tenant, uid)) "
        "MULTI_TENANT = true"
    )
    e.sql(
        "CREATE VIEW app.power_users (level BIGINT) "
        "AS SELECT * FROM app.users WHERE tenant = 'T001'"
    )
    e.sql("CREATE INDEX ix_score ON app.users (score DESC) INCLUDE (uid)")
    return e.sql(
        """
        SELECT TABLE_SCHEM, TABLE_NAME, TABLE_TYPE, COLUMN_COUNT,
               DATA_TABLE_NAME, MULTI_TENANT
        FROM SYSTEM.CATALOG
        WHERE COLUMN_COUNT IS NOT NULL
        ORDER BY TABLE_SCHEM, TABLE_NAME
        """
    )


REG.add(
    "ddl_system_catalog",
    _system_catalog,
    """
    SELECT * FROM (VALUES
      ('APP', 'IX_SCORE',    'i', 3, 'USERS', FALSE),
      ('APP', 'POWER_USERS', 'v', 1, 'APP.USERS', FALSE),
      ('APP', 'USERS',       'u', 3, NULL, TRUE)
    ) AS t(TABLE_SCHEM, TABLE_NAME, TABLE_TYPE, COLUMN_COUNT,
           DATA_TABLE_NAME, MULTI_TENANT)
    """,
)


# --- view lifecycle parity: write-through views with restated constants +
# diverged views (EXCLUDED_COLUMN) — the reference's IT scenario shapes
# (create_diverged_view.sql / create_add.sql) ---------------------------------
def _view_diverge(spark, sf):
    e = _engine(spark, sf)
    e.sql(
        "CREATE TABLE vd.t (a INTEGER NOT NULL, b INTEGER, c VARCHAR, "
        "d INTEGER, CONSTRAINT pk PRIMARY KEY (a))"
    )
    e.sql(
        "CREATE VIEW vd.v (va INTEGER, vb INTEGER) "
        "AS SELECT * FROM vd.t WHERE b = 200"
    )
    # restating the view constant with the SAME value is allowed
    # (UpsertCompiler viewConstants); the added columns land in the base's
    # hidden overflow cells
    e.sql("UPSERT INTO vd.v (a, b, c, d, va, vb) VALUES (2, 200, 'x', -20, 91, 101)")
    e.sql("UPSERT INTO vd.v (a, c, d, va, vb) VALUES (3, 'y', -30, 92, 102)")
    e.sql("ALTER VIEW vd.v DROP COLUMN c")  # diverge: base keeps c
    return e.sql("SELECT a, b, d, va, vb FROM vd.v ORDER BY a")


REG.add(
    "ddl_view_diverge",
    _view_diverge,
    """
    SELECT * FROM (VALUES
      (2, 200, -20, 91, 101),
      (3, 200, -30, 92, 102)
    ) AS t(a, b, d, va, vb)
    """,
)

# --- streaming exact dedup: dropDuplicates in a real stream job --------------
# The streaming face of dedup_exact: documents arrive as a file stream and
# Structured Streaming's dropDuplicates keeps one row per content hash in
# state (at 100 TB: bound the state with dropDuplicatesWithinWatermark over
# the ingest-time column; the fixture has no event time on documents, and an
# availableNow batch holds state only for the run).  Which row of a
# duplicate group survives is engine order — so the result aggregates only
# per-group-invariant values (the hash set and the duplicate texts are
# identical by construction).
def _stream_dedup_exact(spark, sf):
    import tempfile
    import uuid

    from phoenix_spark.queries._util import t as _t

    schema = _t(spark, sf, "documents").schema
    # the fixture table is a single file; the streaming file source wants a
    # directory, so point it at the sf dir with a glob selecting the table
    src = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf)
        .withColumn("h", F.md5("text"))
        .dropDuplicates(["h"])
    )
    sink = f"sdedup_{uuid.uuid4().hex[:8]}"
    q = (
        src.writeStream.format("memory")
        .queryName(sink)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="sdedup_ck_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink).agg(
        F.count(F.lit(1)).cast("long").alias("n_unique"),
        F.sum(F.length("text")).cast("long").alias("total_chars"),
        F.sum(F.conv(F.substring("h", 1, 8), 16, 10).cast("long"))
        .cast("long")
        .alias("hkey_sum"),
    )


REG.add(
    "stream_dedup_exact",
    _stream_dedup_exact,
    """
    WITH u AS (
      SELECT md5(text) AS h, MIN(LENGTH(text)) AS len
      FROM documents GROUP BY md5(text)
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_unique,
           CAST(SUM(len) AS BIGINT) AS total_chars,
           CAST(SUM(CAST(('0x' || substr(h, 1, 8))::BIGINT AS BIGINT)) AS BIGINT)
             AS hkey_sum
    FROM u
    """,
)

# --- TTL / max-lookback: physical expiry at compaction ------------------------
# SURVEY §2.11 TTL row (PhoenixTTLRegionObserver + CompactionScanner): rows
# older than the retention horizon are hidden by the logical `ttl_view` and
# physically reclaimed by `compact_with_ttl`.  This entry pins the PHYSICAL
# path — write the events table, expire with a pinned 'now' (the reference
# similarly evaluates TTL against a per-operation timestamp), and return the
# surviving table state.  The logical-view twin is pinned by
# tests/test_streaming.py::test_ttl_view_retention.  The expiry delete is a
# distributed predicate scan + tombstone append — no driver materialization.
def _ttl_retention_view(spark, sf):
    from phoenix_spark.streaming import compact_with_ttl

    e = _engine(spark, sf)
    e.sql(
        "CREATE TABLE t_ttl (event_id BIGINT NOT NULL, ts TIMESTAMP, "
        "value DOUBLE, CONSTRAINT pk PRIMARY KEY (event_id)) TTL=864000"
    )
    e.sql("UPSERT INTO t_ttl SELECT event_id, ts, value FROM events")
    # TTL=864000 s = 10 days; 'now' pinned for determinism
    compact_with_ttl(
        e.managed("t_ttl"), "ts", "10 DAYS", "TIMESTAMP '2024-02-01 00:00:00'"
    )
    # Phoenix TIMESTAMP maps to Spark LTZ (types.py); the returned column
    # casts back to NTZ so collect-time values are naive like DuckDB's.
    # The NTZ→LTZ→NTZ round-trip runs inside ONE session, so the session
    # zone cancels exactly whatever it is.
    return e.table("t_ttl").select(
        "event_id",
        F.col("ts").cast("timestamp_ntz").alias("ts"),
        F.col("value").cast("double").alias("value"),
    )


REG.add(
    "ttl_retention_view",
    _ttl_retention_view,
    """
    SELECT event_id, ts, CAST(value AS DOUBLE) AS value
    FROM events
    WHERE ts > TIMESTAMP '2024-02-01 00:00:00' - INTERVAL 10 DAY
    """,
)

# --- UDF surface: CREATE FUNCTION → registered Python callable ----------------
# SURVEY §2.12 (grammar PhoenixSQL.g:737-745; UDFExpression.java:47-59): the
# reference binds scalar UDFs from JARs; the Spark-native binding registers a
# Python callable under the SQL name.  math.sqrt and the oracle's SQRT are
# both correctly-rounded IEEE doubles, so the hash compare is exact.  Python
# UDFs are deliberately the slow path (engine docstring) — this entry pins
# the BINDING surface, not a recommended hot-path pattern.
def _udf_create_function(spark, sf):
    e = _engine(spark, sf)
    e.sql("CREATE FUNCTION py_sqrt AS 'math:sqrt' RETURNS DOUBLE")
    return e.sql(
        "SELECT o_orderkey, py_sqrt(o_totalprice) AS root FROM orders "
        "WHERE o_orderkey <= 300"
    )


REG.add(
    "udf_create_function",
    _udf_create_function,
    """
    SELECT o_orderkey, SQRT(o_totalprice) AS root FROM orders
    WHERE o_orderkey <= 300
    """,
)

# --- ON DUPLICATE KEY UPDATE_ONLY: update-if-exists, never insert --------------
# Grammar PhoenixSQL.g:899,911 (OnDuplicateKeyType.UPDATE_ONLY);
# IndexRegionObserver.java:2305-2311: a row whose PK is absent is dropped,
# never inserted.  Script: seed odd keys <= 40, then UPDATE_ONLY-upsert keys
# <= 60 — even keys (absent) must NOT appear; odd seeded keys get the update
# expression applied over the EXISTING row.
def _upsert_update_only(spark, sf):
    e = _engine(spark, sf)
    e.sql(
        "CREATE TABLE t_uponly (o_orderkey BIGINT NOT NULL, o_totalprice DOUBLE, "
        "cnt BIGINT, CONSTRAINT pk PRIMARY KEY (o_orderkey))"
    )
    e.sql(
        "UPSERT INTO t_uponly SELECT o_orderkey, o_totalprice, 1 FROM orders "
        "WHERE o_orderkey <= 40 AND o_orderkey % 2 = 1"
    )
    for k in (7, 8):  # 7 exists (updates), 8 does not (dropped)
        e.sql(
            f"UPSERT INTO t_uponly VALUES ({k}, 0.0, 0) "
            "ON DUPLICATE KEY UPDATE_ONLY o_totalprice = o_totalprice * 2, "
            "cnt = cnt + 1"
        )
    return e.table("t_uponly").select(
        "o_orderkey",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
        F.col("cnt").cast("long").alias("cnt"),
    )


REG.add(
    "mutation_upsert_update_only",
    _upsert_update_only,
    """
    SELECT o_orderkey,
           CAST(CASE WHEN o_orderkey = 7 THEN o_totalprice * 2
                     ELSE o_totalprice END AS DOUBLE) AS o_totalprice,
           CAST(CASE WHEN o_orderkey = 7 THEN 2 ELSE 1 END AS BIGINT) AS cnt
    FROM orders
    WHERE o_orderkey <= 40 AND o_orderkey % 2 = 1
    """,
)

# --- typed dialect rewrites: nested integral division + typed || chains ------
# Round-6 expression-level typing (sqlfront._TypedRewriter): Phoenix integral
# division truncates even when the operands are NESTED arithmetic or
# aggregates (LongDivideExpression.java:35-55 — `sum(x)/count(*)`, `(a+b)/7`),
# and || chains type through string functions (StringConcatExpression.java:
# 69-77 NULL-skip).  The DuckDB oracle spells truncation with `//` (all
# values positive, so floor == trunc) and the NULL-skip with the surviving
# operand.
def _sql_int_div_nested(spark, sf):
    e = _engine(spark, sf)
    return e.sql(
        "SELECT o_orderstatus, "
        "SUM(o_orderkey) / COUNT(*) AS avg_key_trunc, "
        "MIN((o_orderkey + o_custkey) / 7) AS min_div7, "
        "MAX(o_orderkey / (o_custkey + 1)) AS max_ratio, "
        "MIN(UPPER(o_orderpriority) || NULLIF(o_orderstatus, o_orderstatus)) "
        "AS tag "
        "FROM orders WHERE o_orderkey <= 2000 "
        "GROUP BY o_orderstatus"
    )


REG.add(
    "sql_int_div_nested",
    _sql_int_div_nested,
    """
    SELECT o_orderstatus,
           CAST(SUM(o_orderkey) // COUNT(*) AS BIGINT) AS avg_key_trunc,
           CAST(MIN((o_orderkey + o_custkey) // 7) AS BIGINT) AS min_div7,
           CAST(MAX(o_orderkey // (o_custkey + 1)) AS BIGINT) AS max_ratio,
           MIN(UPPER(o_orderpriority)) AS tag
    FROM orders WHERE o_orderkey <= 2000
    GROUP BY o_orderstatus
    """,
)


# --- ordered top-N DELETE (§2.9, DeleteCompiler's LIMIT path; TopNIT) --------
def _delete_topn(spark, sf):
    e = _engine(spark, sf)
    e.sql(
        "CREATE TABLE t_dtn (o_orderkey BIGINT NOT NULL, o_totalprice DOUBLE, "
        "CONSTRAINT pk PRIMARY KEY (o_orderkey))"
    )
    e.sql(
        "UPSERT INTO t_dtn SELECT o_orderkey, o_totalprice FROM orders "
        "WHERE o_orderkey <= 200"
    )
    # DeleteCompiler compiles DELETE ... ORDER BY ... LIMIT n as a top-N scan
    # feeding the delete mutation (TopNIT.testTopNDelete) — plans as
    # TakeOrderedAndProject, not a global sort
    e.sql(
        "DELETE FROM t_dtn WHERE o_totalprice > 1000 "
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"
    )
    return e.table("t_dtn").select(
        "o_orderkey", F.col("o_totalprice").cast("double").alias("o_totalprice")
    )


REG.add(
    "mutation_delete_topn",
    _delete_topn,
    """
    SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice
    FROM orders
    WHERE o_orderkey <= 200 AND o_orderkey NOT IN (
      SELECT o_orderkey FROM orders
      WHERE o_orderkey <= 200 AND o_totalprice > 1000
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 10)
    """,
)


# --- multi-tenant scoped read/write (§2.10 MULTI_TENANT; TenantSpecific
# TablesDMLIT) — a tenant connection sees an implicit tenant filter, never the
# tenant column, and writes fill the tenant id implicitly ---------------------
def _tenant_scoped_read(spark, sf):
    e = _engine(spark, sf)
    e.sql(
        "CREATE TABLE t_mt (tenant VARCHAR NOT NULL, k BIGINT NOT NULL, "
        "v DOUBLE, CONSTRAINT pk PRIMARY KEY (tenant, k)) MULTI_TENANT=true"
    )
    # global connection loads two tenants from the fixture
    e.sql(
        "UPSERT INTO t_mt SELECT 'acme', o_orderkey, o_totalprice "
        "FROM orders WHERE o_orderkey <= 100"
    )
    e.sql(
        "UPSERT INTO t_mt SELECT 'globex', o_orderkey, o_totalprice * 2 "
        "FROM orders WHERE o_orderkey <= 50"
    )
    t = e.with_tenant("acme")
    t.sql("UPSERT INTO t_mt VALUES (1000001, 42.0)")  # implicit tenant fill
    # tenant-scoped DELETE must not touch globex rows with the same keys
    t.sql("DELETE FROM t_mt WHERE k > 90 AND k <= 100")
    return t.sql("SELECT k, v FROM t_mt").select(
        "k", F.col("v").cast("double").alias("v")
    )


REG.add(
    "tenant_scoped_read",
    _tenant_scoped_read,
    """
    SELECT o_orderkey AS k, CAST(o_totalprice AS DOUBLE) AS v
    FROM orders WHERE o_orderkey <= 90
    UNION ALL
    SELECT CAST(1000001 AS BIGINT), CAST(42.0 AS DOUBLE)
    """,
)


# --- NEXT n VALUES FOR bulk allocation (§2.10; SequenceBulkAllocationIT,
# SequenceUtil.isBulkAllocation) — each call reserves n slots and yields the
# block's FIRST value ---------------------------------------------------------
def _sequence_bulk(spark, sf):
    e = _engine(spark, sf)
    e.sql("CREATE SEQUENCE bulk_ids START WITH 10 INCREMENT BY 2")
    e.sql(
        "CREATE TABLE t_sb (id BIGINT NOT NULL, tag VARCHAR, "
        "CONSTRAINT pk PRIMARY KEY (id))"
    )
    for tag in ("a", "b", "c"):
        e.sql(f"UPSERT INTO t_sb VALUES (NEXT 5 VALUES FOR bulk_ids, '{tag}')")
    # the single-value form continues AFTER the reserved blocks
    e.sql("UPSERT INTO t_sb VALUES (NEXT VALUE FOR bulk_ids, 'd')")
    return e.table("t_sb")


REG.add(
    "ddl_sequence_bulk",
    _sequence_bulk,
    """
    SELECT * FROM (VALUES (CAST(10 AS BIGINT), 'a'), (20, 'b'), (30, 'c'),
                          (40, 'd')) AS t(id, tag)
    """,
)


# --- SCN point-in-time read matrix (§2.1; PointInTimeQueryIT) — two snapshot
# reads of the same table at different commit timestamps joined in one result,
# with a later DELETE invisible at both SCNs ----------------------------------
def _point_in_time(spark, sf):
    e = _engine(spark, sf)
    e.sql(
        "CREATE TABLE t_pit (k BIGINT NOT NULL, v DOUBLE, s VARCHAR, "
        "CONSTRAINT pk PRIMARY KEY (k))"
    )
    e.sql(
        "UPSERT INTO t_pit SELECT o_orderkey, o_totalprice, o_orderstatus "
        "FROM orders WHERE o_orderkey <= 60"
    )
    e.sql(
        "UPSERT INTO t_pit SELECT o_orderkey, o_totalprice * 2, o_orderstatus "
        "FROM orders WHERE o_orderkey <= 30"
    )
    e.sql("DELETE FROM t_pit WHERE k <= 10")
    s1 = e.managed("t_pit").read(as_of=1).select("k", F.col("v").alias("v1"))
    s2 = (
        e.managed("t_pit")
        .read(as_of=2)
        .select("k", F.col("v").alias("v2"), "s")
    )
    return s1.join(s2, "k").select(
        "k",
        F.col("v1").cast("double").alias("v1"),
        F.col("v2").cast("double").alias("v2"),
        "s",
    )


REG.add(
    "scan_point_in_time",
    _point_in_time,
    """
    SELECT o_orderkey AS k,
           CAST(o_totalprice AS DOUBLE) AS v1,
           CAST(CASE WHEN o_orderkey <= 30 THEN o_totalprice * 2
                     ELSE o_totalprice END AS DOUBLE) AS v2,
           o_orderstatus AS s
    FROM orders WHERE o_orderkey <= 60
    """,
)
