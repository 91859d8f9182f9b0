"""SYSTEM.* metadata tables, generated from engine state.

The reference keeps its catalog in HBase-backed SYSTEM tables
(PhoenixDatabaseMetaData.java: SYSTEM.CATALOG / SEQUENCE / FUNCTION /
STATS / TASK / LOG) and lets users query them with plain SQL — e.g. the
shipped IT scripts read ``SELECT VIEW_INDEX_ID FROM SYSTEM.CATALOG ...``
(phoenix-core/src/it/resources/sql_files/query_view_index.sql) and
``SELECT TASK_TYPE, ... FROM SYSTEM.TASK`` (query_index_rebuild_async.sql).

This engine's catalog is the warehouse metadata (meta.json per managed
table, ``_views.json``, ``_indexes.json``, ``_sequences.json``); these
builders project it into DataFrames with the reference's column names so
those queries run unchanged.  The frames are tiny (one row per
table/column) and built driver-side on demand — metadata scale, never
data scale.

Column subset per table (names follow PhoenixDatabaseMetaData):

* ``SYSTEM.CATALOG`` — one header row per table/view/index (COLUMN_NAME
  NULL, COLUMN_COUNT set — the reference's table-row layout) plus one row
  per column (COLUMN_NAME set, COLUMN_COUNT NULL, DATA_TYPE =
  java.sql.Types code, ORDINAL_POSITION, KEY_SEQ for PK columns).
  TABLE_TYPE: 'u' user table, 'v' view, 'i' index (PTableType serialized
  values).  Identifiers are upper-cased like the reference's normalized
  (unquoted) identifiers.
* ``SYSTEM.SEQUENCE`` — one row per sequence (Sequence.java state).
* ``SYSTEM.FUNCTION`` — one row per CREATE FUNCTION binding.
* ``SYSTEM.TASK`` — one row per recorded task (PTable.TaskType:
  INDEX_REBUILD = 2), appended by ALTER INDEX ... REBUILD ... ASYNC.
* ``SYSTEM.STATS`` — one row per UPDATE STATISTICS run (guidepost
  analogue: row count + segment count live in table meta).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, types as T

from phoenix_spark.mutations import local_frame

# java.sql.Types codes (public JDBC constants) keyed by Spark type name —
# what the reference's DATA_TYPE column carries (PDataType.getSqlType()).
_JDBC_TYPE = {
    "string": 12,  # VARCHAR
    "int": 4,
    "integer": 4,
    "bigint": -5,
    "long": -5,
    "smallint": 5,
    "short": 5,
    "tinyint": -6,
    "byte": -6,
    "float": 6,
    "double": 8,
    "boolean": 16,
    "date": 91,
    "timestamp": 93,
    "timestamp_ntz": 93,
    "binary": -3,  # VARBINARY
}


def _jdbc_type(dt: T.DataType) -> int:
    name = dt.typeName()
    if name.startswith("decimal"):
        return 3  # DECIMAL
    if isinstance(dt, T.ArrayType):
        return 2003  # ARRAY
    return _JDBC_TYPE.get(name, 1111)  # OTHER


def _split(name: str) -> tuple[str | None, str]:
    """dotted name -> (TABLE_SCHEM or None, TABLE_NAME), upper-cased."""
    parts = name.upper().split(".")
    return (parts[-2] if len(parts) > 1 else None), parts[-1]


_CATALOG_SCHEMA = T.StructType(
    [
        T.StructField("TENANT_ID", T.StringType()),
        T.StructField("TABLE_SCHEM", T.StringType()),
        T.StructField("TABLE_NAME", T.StringType()),
        T.StructField("COLUMN_NAME", T.StringType()),
        T.StructField("COLUMN_FAMILY", T.StringType()),
        T.StructField("TABLE_TYPE", T.StringType()),
        T.StructField("PK_NAME", T.StringType()),
        T.StructField("COLUMN_COUNT", T.IntegerType()),
        T.StructField("SALT_BUCKETS", T.IntegerType()),
        T.StructField("MULTI_TENANT", T.BooleanType()),
        T.StructField("IMMUTABLE_ROWS", T.BooleanType()),
        T.StructField("DATA_TABLE_NAME", T.StringType()),
        T.StructField("INDEX_STATE", T.StringType()),
        T.StructField("VIEW_STATEMENT", T.StringType()),
        T.StructField("VIEW_TYPE", T.StringType()),
        T.StructField("VIEW_INDEX_ID", T.LongType()),
        T.StructField("DATA_TYPE", T.IntegerType()),
        T.StructField("ORDINAL_POSITION", T.IntegerType()),
        T.StructField("KEY_SEQ", T.IntegerType()),
        T.StructField("NULLABLE", T.IntegerType()),
    ]
)


def catalog_df(engine) -> DataFrame:
    rows: list[dict] = []

    def emit(
        name: str,
        table_type: str,
        schema: T.StructType | None,
        pk: list[str],
        *,
        props: dict | None = None,
        data_table: str | None = None,
        index_state: str | None = None,
        view_statement: str | None = None,
        view_type: str | None = None,
        view_index_id: int | None = None,
    ) -> None:
        schem, tbl = _split(name)
        props = props or {}
        base = {
            "TENANT_ID": None,
            "TABLE_SCHEM": schem,
            "TABLE_NAME": tbl,
            "COLUMN_FAMILY": None,
            "TABLE_TYPE": table_type,
            "DATA_TABLE_NAME": data_table.upper() if data_table else None,
            "INDEX_STATE": index_state,
            "VIEW_STATEMENT": view_statement,
            "VIEW_TYPE": view_type,
            "VIEW_INDEX_ID": view_index_id,
        }
        salt = props.get("SALT_BUCKETS")
        if schema is not None and props.get("HIDDEN_OVERFLOW"):
            # the auto-provisioned view-column cell store is not a declared
            # column — it never appears in the catalog
            schema = T.StructType(
                [f for f in schema.fields if f.name != "props"]
            )
        rows.append(
            {
                **base,
                "COLUMN_NAME": None,
                "PK_NAME": "PK" if pk else None,
                "COLUMN_COUNT": len(schema.fields) if schema else None,
                "SALT_BUCKETS": int(salt) if salt is not None else None,
                "MULTI_TENANT": str(props.get("MULTI_TENANT", "")).lower()
                == "true",
                "IMMUTABLE_ROWS": str(props.get("IMMUTABLE_ROWS", "")).lower()
                == "true",
                "DATA_TYPE": None,
                "ORDINAL_POSITION": None,
                "KEY_SEQ": None,
                "NULLABLE": None,
            }
        )
        for pos, f in enumerate(schema.fields if schema else [], start=1):
            rows.append(
                {
                    **base,
                    "COLUMN_NAME": f.name.upper(),
                    "PK_NAME": None,
                    "COLUMN_COUNT": None,
                    "SALT_BUCKETS": None,
                    "MULTI_TENANT": None,
                    "IMMUTABLE_ROWS": None,
                    "DATA_TYPE": _jdbc_type(f.dataType),
                    "ORDINAL_POSITION": pos,
                    "KEY_SEQ": pk.index(f.name) + 1 if f.name in pk else None,
                    "NULLABLE": 0 if f.name in pk else 1,
                }
            )

    from phoenix_spark.mutations import ManagedTable

    index_names = set(engine._indexes)
    for name in sorted(engine._managed_names()):
        if name in index_names:
            continue  # emitted below with index metadata
        mt = ManagedTable(engine.spark, engine.warehouse, name)
        emit(name, "u", mt.schema, mt.pk, props=mt.meta.get("props", {}))

    # view-index ids: the reference assigns a short id per index on a view
    # (MetaDataUtil.getViewIndexIdDataType); dense 1-based by name here
    view_ix_id = 0
    for name, d in sorted(engine._indexes.items()):
        imt = ManagedTable(engine.spark, engine.warehouse, name)
        # the index lives in its table's or view's schema (MetaDataClient
        # puts the index row under the data table's TABLE_SCHEM): the one
        # its registry entry names
        on_view = d.chain is not None
        if on_view:
            view_ix_id += 1
        schem, data_table = _split(d.table)
        emit(
            f"{schem}.{name}" if schem else name,
            "i",
            imt.schema if imt.exists() else None,
            imt.pk if imt.exists() else [],
            data_table=data_table,
            index_state=d.state,
            view_index_id=view_ix_id if on_view else None,
        )

    for vname, (parent, where, vcols) in sorted(engine._views.items()):
        stmt = f"SELECT * FROM {parent.upper()}" + (
            f" WHERE {where}" if where else ""
        )
        from phoenix_spark.types import parse_type

        vschema = T.StructType(
            [
                T.StructField(c, parse_type(t))
                for c, t in (vcols or {}).items()
                if t is not None  # None = excluded parent column (diverged)
            ]
        )
        emit(
            vname,
            "v",
            vschema,
            [],
            data_table=parent,
            view_statement=stmt,
            view_type="u",  # predicate-plus-columns views are updatable
        )

    return local_frame(engine.spark, rows, _CATALOG_SCHEMA)


_SEQUENCE_SCHEMA = (
    "SEQUENCE_SCHEMA string, SEQUENCE_NAME string, CURRENT_VALUE bigint, "
    "INCREMENT_BY bigint, CACHE_SIZE bigint, MIN_VALUE bigint, "
    "MAX_VALUE bigint, CYCLE_FLAG boolean"
)


def sequence_df(engine) -> DataFrame:
    rows = []
    for name, s in sorted(engine._sequences().items()):
        schem, seq = _split(name)
        rows.append(
            (
                schem,
                seq,
                s["next"],  # CURRENT_VALUE = next value to hand out
                s["increment"],
                s.get("cache", 100),
                s.get("min"),
                s.get("max"),
                bool(s.get("cycle")),
            )
        )
    return local_frame(engine.spark, rows, _SEQUENCE_SCHEMA)


_FUNCTION_SCHEMA = (
    "FUNCTION_NAME string, CLASS_NAME string, RETURN_TYPE string, "
    "NUM_ARGS integer, JAR_PATH string"
)


def function_df(engine) -> DataFrame:
    rows = [
        (name.upper(), cls, rtype, nargs, None)
        for name, (cls, rtype, nargs) in sorted(
            getattr(engine, "_functions", {}).items()
        )
    ]
    return local_frame(engine.spark, rows, _FUNCTION_SCHEMA)


_TASK_SCHEMA = (
    "TASK_TYPE integer, TENANT_ID string, TABLE_SCHEM string, "
    "TABLE_NAME string, TASK_TS timestamp_ntz, TASK_END_TS timestamp_ntz, "
    "TASK_PRIORITY integer, TASK_STATUS string, TASK_DATA string"
)


def task_df(engine) -> DataFrame:
    import datetime as _dt

    rows = []
    for t in engine._tasks():
        schem, tbl = _split(t["table"])
        ts = _dt.datetime.fromisoformat(t["ts"])
        end = _dt.datetime.fromisoformat(t["end_ts"]) if t.get("end_ts") else None
        rows.append(
            (
                t["type"],
                None,
                schem,
                tbl,
                ts,
                end,
                t.get("priority", 0),
                t["status"],
                t.get("data"),
            )
        )
    return local_frame(engine.spark, rows, _TASK_SCHEMA)


_STATS_SCHEMA = (
    "PHYSICAL_NAME string, GUIDE_POSTS_ROW_COUNT bigint, "
    "GUIDE_POSTS_WIDTH bigint"
)


def stats_df(engine) -> DataFrame:
    from phoenix_spark.mutations import ManagedTable

    rows = []
    for name in sorted(engine._managed_names()):
        mt = ManagedTable(engine.spark, engine.warehouse, name)
        stats = mt.meta.get("stats")
        if stats:
            rows.append(
                (
                    name.upper(),
                    stats.get("row_count"),
                    stats.get("n_segments"),
                )
            )
    return local_frame(engine.spark, rows, _STATS_SCHEMA)


BUILDERS = {
    "catalog": catalog_df,
    "sequence": sequence_df,
    "function": function_df,
    "task": task_df,
    "stats": stats_df,
}
