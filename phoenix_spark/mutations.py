"""Mutations over change-log tables (SURVEY.md §2.9).

Phoenix buffers mutations client-side in MutationState (reference:
phoenix-core-client/.../execute/MutationState.java:153) and commits them as
HBase batch RPCs; UPSERT VALUES / UPSERT SELECT / ON DUPLICATE KEY compile in
UpsertCompiler.java, DELETE in DeleteCompiler.java.  HBase gives latest-wins
per (rowkey, timestamp) natively.

The Spark-native analogue is an append-only **change log**: every commit
writes one immutable parquet segment stamped with a monotonically increasing
``_mutation_ts``; deletes append tombstones (``_deleted = true``).  A commit's
segment holds whole rows, so it is the post-image of exactly the keys the
statement touched.  The table read is the latest-wins compaction::

    row_number() OVER (PARTITION BY pk ORDER BY _mutation_ts DESC) = 1
    ... AND NOT _deleted

Scale design (100 TB):
  * segments are immutable + append-only — a commit never rewrites data, and
    a single atomic rename publishes it (object-store friendly);
  * every segment is read with the stored schema (``meta.json`` plus the two
    change-log columns), so building a read launches no job and no footer
    is opened until an action;
  * a DML statement reads only its own keys: ``read(keys=...)`` semi-joins
    the raw segment union with the touched keys *before* the window (valid
    because the window partitions on exactly the PK), so the window shuffles
    the touched keys' versions, never the table;
  * the commit maintains the table's indexes, whatever wrote it (DML, bulk
    loads, CDC apply, TTL expiry): the post-image is the commit's own
    segment (``read_commit``), the pre-image a snapshot read scoped to its
    keys, and the index rows follow the index's registry entry;
  * a statement whose rows the driver holds — UPSERT VALUES in every form
    (client-built rows reach Spark as an Arrow-built ``LocalRelation``,
    ``local_frame``) of up to ``_CLIENT_BATCH_ROWS`` rows, and a DELETE
    that pins every PK column to a literal — commits as Phoenix's client
    batch (MutationState): one read of its keys' current rows serves ON
    DUPLICATE KEY, the partial-column merge and the index pre-image; the
    post-image and every index's rows are derived over LocalRelations,
    which Catalyst folds without a job; and each segment is written by
    pyarrow as one file into a staging directory, all of them before any
    is renamed into ``segments/``;
  * that read of a key set's current rows (``_current``) is one pyarrow
    read on the driver — HBase's batch of Gets: the segments' parquet files
    filtered by an Arrow ``is_in`` on the keys (row groups pruned on their
    statistics), latest-wins resolved over the few versions it keeps.  It
    also serves ``read(keys=<Arrow table>)``, the engine's point SELECT.
    So a point statement runs no Spark job, and one that fails publishes
    nothing;
  * every other commit (UPSERT SELECT, bulk loads, CDC apply, TTL expiry,
    other DELETEs, larger driver-held batches) writes its segment as a
    Spark job, sorted within each write task by the PK or an index's key —
    the LSM shape of an HBase flush.  No range partitioning, so no
    sampling job re-runs the statement's reads;
  * the global sort is left to whole-table rewrites (``rewrite``: the index
    build, ``REBUILD`` and ``compact()``), which lay the table out as
    disjoint sorted files in one base segment; reads of a single segment
    take the fast path (plain scan, zero shuffle);
  * snapshot reads (time travel) prune whole segments by the commit ts in
    the filename — no data read from newer segments.

Columns carry a physical name in the segments.  It equals the logical name
unless a dropped column is re-added: the re-added column gets a fresh
physical name (``meta["physical"]``), so the dropped column's bytes never
resurface — the analogue of Phoenix's column encoding.

Single-writer batch semantics (no concurrent-commit arbitration) — the same
scope Phoenix documents for its non-transactional tables (SURVEY §7 hard
parts #3/#4).
"""

from __future__ import annotations

import json
import os
import re
import uuid
import weakref
from datetime import timedelta, timezone
from typing import TYPE_CHECKING
from decimal import ROUND_HALF_UP, Context, Decimal
from zoneinfo import ZoneInfo

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from phoenix_spark import indexes as IX
from phoenix_spark.sqllex import match_forward, split_top

if TYPE_CHECKING:
    import pyarrow as pa

_TS_COL = "_mutation_ts"
_DEL_COL = "_deleted"
_SEG_RE = re.compile(r"seg-(\d{12})-")
# wide enough for any DECIMAL(38, s) value (the default context holds 28)
_WIDE = Context(prec=80)


def _seg_ts(path: str) -> int:
    return int(_SEG_RE.search(os.path.basename(path)).group(1))


def _half_up(v, dt: T.DataType):
    """``v`` with its decimals rounded half up to ``dt``'s scale, as Spark's
    row conversion rounds them (Arrow refuses a lossy rescale)."""
    if v is None:
        return None
    if isinstance(dt, T.DecimalType):
        return v.quantize(Decimal(1).scaleb(-dt.scale), ROUND_HALF_UP, _WIDE)
    if isinstance(dt, T.ArrayType):
        return [_half_up(x, dt.elementType) for x in v]
    return v


def _instant(v, zone):
    """TIMESTAMP value ``v`` (alone or as array elements) as a UTC instant;
    a naive datetime is wall clock in ``zone``.  It resolves as Spark's SQL
    literal does (java.time): a time the zone repeats takes the earlier
    offset, and a time it skips shifts forward by the gap, which is what
    zoneinfo's ``fold=0`` gives."""
    if v is None:
        return None
    if isinstance(v, list):
        return [_instant(x, zone) for x in v]
    if v.tzinfo is None:
        v = v.replace(tzinfo=zone)
    return v.astimezone(timezone.utc)


def _zone(name: str):
    """Session time zone ``name``: a region ID, or a fixed offset such as
    ``+05:30`` or ``GMT-8``."""
    m = re.fullmatch(r"(?:UTC|GMT)?([+-])(\d\d?):?(\d\d)?", name)
    if m is None:
        return ZoneInfo(name)
    off = timedelta(hours=int(m[2]), minutes=int(m[3] or 0))
    return timezone(-off if m[1] == "-" else off)


def _is_ltz(t: T.DataType) -> bool:
    """A TIMESTAMP column (session-zone), alone or as array elements."""
    if isinstance(t, T.ArrayType):
        t = t.elementType
    return isinstance(t, T.TimestampType)


def local_frame(
    spark: SparkSession, rows: list, schema: T.StructType | str
) -> DataFrame:
    """A frame of driver-side ``rows`` (tuples, Rows or dicts): the
    client-built batch, as Phoenix's MutationState holds it.

    The rows travel as one Arrow table and plan as a ``LocalRelation``
    (``LocalTableScan``), so no task that scans the frame starts a Python
    worker — a pickled list becomes an RDD that re-pickles through Python
    on every evaluation.  Each row is checked against ``schema`` first, with
    the errors the pickled path raised (Arrow would silently truncate
    ``1.5`` into an integer column).  A naive datetime in a TIMESTAMP
    column is a wall-clock time in the session time zone, as a SQL
    literal is."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    verify = T._make_type_verifier(schema)
    decimals = [
        f for f in schema.fields if "decimal" in f.dataType.simpleString()
    ]
    stamps = [f.name for f in schema.fields if _is_ltz(f.dataType)]
    zone = _zone(spark.conf.get("spark.sql.session.timeZone")) if stamps else None
    recs = []
    for r in rows:
        verify(r)
        rec = dict(r) if isinstance(r, dict) else dict(zip(schema.names, r))
        for f in decimals:
            rec[f.name] = _half_up(rec.get(f.name), f.dataType)
        for name in stamps:
            rec[name] = _instant(rec.get(name), zone)
        recs.append(rec)
    table = pa.Table.from_pylist(recs, schema=to_arrow_schema(schema))
    return spark.createDataFrame(table, schema)


def _epoch(name: str, dt: T.DataType) -> F.Column | None:
    """Column ``name``'s TIMESTAMP values (alone or as array elements) as
    epoch microseconds; None for a column that holds none."""
    if isinstance(dt, T.TimestampType):
        return F.unix_micros(F.col(name))
    if isinstance(dt, T.ArrayType) and isinstance(dt.elementType, T.TimestampType):
        return F.transform(F.col(name), F.unix_micros)
    return None


def collect_arrow(df: DataFrame):
    """The rows of ``df`` as a ``pyarrow.Table`` of its schema's Arrow types
    (TIMESTAMP as UTC instants).  ``collect`` over a plan that folds to a
    ``LocalRelation`` runs no job (an Arrow collect always runs one), and
    TIMESTAMPs travel as epoch microseconds, so no time zone shifts them
    (as scalars or array elements: the Phoenix column types); a
    TIMESTAMP_NTZ travels as the naive datetime it is."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    fields = df.schema.fields
    epochs = [_epoch(f.name, f.dataType) for f in fields]
    if any(c is not None for c in epochs):
        df = df.select(
            *[F.col(f.name) if c is None else c.alias(f.name) for f, c in zip(fields, epochs)]
        )
    rows = df.collect()
    values = list(zip(*rows)) or [()] * len(fields)
    arrays = []
    for f, vals, epoch in zip(fields, values, epochs):
        at = to_arrow_type(f.dataType)
        carrier = at
        if epoch is not None:
            carrier = pa.list_(pa.int64()) if pa.types.is_list(at) else pa.int64()
        arrays.append(pa.array(vals, carrier).cast(at))
    return pa.Table.from_arrays(arrays, names=[f.name for f in fields])


# The largest driver-held batch that commits as a client batch.  Its Python
# work per row grows with the batch, and its read with the table: the keys
# of a scattered batch prune few row groups, so the read decodes most of
# every segment.  N rows, half of them present at random keys, into a table
# of R x N rows (one Spark-written segment and four small ones) with a
# two-column PK and one index commit this way / through a Spark write in
# (seconds, 2 runs each, 4 vCPU, local[4]):
#   N \ R         10                      100                    200-400
#   1,000    0.41-0.51 / 1.63-1.85   0.45-0.53 / 1.35-1.40
#   2,000    0.44-0.47 / 1.12-1.14   0.37-0.40 / 1.07-1.13
#   5,000    0.65-0.75 / 1.16-1.24   0.72-0.82 / 1.11-1.13   0.95-1.08 / 1.90-2.24 (x400)
#   10,000   0.98-1.05 / 0.97-1.29   1.00-1.04 / 1.37-1.40   0.95-1.11 / 1.48-1.69 (x200)
#   20,000   1.95-2.10 / 1.36-1.52
# The Spark write's scan grows with the table faster than the driver read,
# so the crossover sits near 10,000 rows for the smallest tables and above
# it for larger ones.
_CLIENT_BATCH_ROWS = 10_000


def _driver_held(df: DataFrame) -> bool:
    """Whether ``df`` is a client batch: rows the driver holds, at most
    ``_CLIENT_BATCH_ROWS`` of them.  Its optimized plan is one
    ``LocalRelation`` (Catalyst folds projections and filters of a
    ``local_frame`` into one)."""
    plan = df._jdf.queryExecution().optimizedPlan()
    return (
        plan.getClass().getSimpleName() == "LocalRelation"
        and plan.data().size() <= _CLIENT_BATCH_ROWS
    )


_NAN = float("nan")


def _key_part(v):
    """Key component ``v``, hashable; every NaN is one object, equal to
    itself, as Spark's grouping and join keys normalize NaN."""
    if isinstance(v, list):
        return tuple(v)
    return _NAN if v != v else v


def _keys(rows, cols: list[str]) -> list[tuple]:
    """The key of each row of Arrow table ``rows``: its ``cols`` values,
    hashable, equal where Spark's NULL-safe equality holds."""
    cols = [rows.column(c).to_pylist() for c in cols]
    return [tuple(_key_part(v) for v in key) for key in zip(*cols)]


def _publish(segments: list) -> None:
    """Write each ``(table, ts, rows)`` segment as one parquet file in a
    staging directory beside the table's ``segments/``, then publish each
    with one rename.  Nothing is published until every segment is written;
    a failed write removes what was staged."""
    import shutil

    import pyarrow.parquet as pq

    staged = []
    try:
        for mt, ts, rows in segments:
            stage = os.path.join(mt.dir, f"_stage-{uuid.uuid4().hex[:8]}")
            staged.append((stage, mt._segment_path(ts)))
            os.makedirs(stage)
            pq.write_table(rows, os.path.join(stage, "part-00000.parquet"))
    except BaseException:
        for stage, _ in staged:
            shutil.rmtree(stage, ignore_errors=True)
        raise
    for stage, seg in staged:
        os.rename(stage, seg)


_PIN_RE = re.compile(
    r"(?P<qual>(?:`?\w+`?\.)*)`?(?P<col>\w+)`?\s*="
    r"\s*(?P<lit>[-+]?\d+(?:\.\d+)?(?:[eE][-+]?\d+)?"
    r"|(?:(?:TIMESTAMP(?:_NTZ)?|DATE)\s*)?'(?:[^']|'')*')",
    re.I | re.S,
)


def _conjuncts(cond: str) -> list[str]:
    """The top-level AND conjuncts of ``cond``, nested parentheses opened.
    A condition with a top-level OR is one conjunct: AND binds tighter, so
    ``a AND b OR c`` is ``(a AND b) OR c``."""
    if len(split_top(cond, "OR")) > 1:
        return [cond.strip()]
    out = []
    for part in split_top(cond, "AND"):
        p = part.strip()
        while p.startswith("(") and match_forward(p, 1) == len(p):
            p = p[1:-1].strip()
        out += _conjuncts(p) if len(split_top(p, "AND")) > 1 else [p]
    return out


def _pk_pins(cond: str, pk: list[str], quals: frozenset[str] = frozenset()) -> list[str] | None:
    """The conjuncts of ``cond`` that fix a PK column to a literal
    (``col = literal``, the column unqualified or qualified by one of
    ``quals``, lower case), one per PK column, when every PK column has
    one — a point lookup (ScanRanges.isPointLookup) — else None.  Pins of
    other columns are left out: they must not filter stored versions
    before latest-wins picks the current one."""
    pins = {}
    for c in _conjuncts(cond):
        m = _PIN_RE.fullmatch(c)
        qual = m and m["qual"].replace("`", "").lower()[:-1]
        if m and (not qual or qual in quals):
            pins[m["col"].lower()] = c
    if not {c.lower() for c in pk} <= set(pins):
        return None
    return [pins[c.lower()] for c in pk]


_EXACT = (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.DecimalType)
_FRACTIONAL = (T.FloatType, T.DoubleType)
_INSTANTS = (T.DateType, T.TimestampType, T.TimestampNTZType)
# one literal-free row per SparkSession, to evaluate pin literals over
_ONE_ROW: "weakref.WeakKeyDictionary[SparkSession, DataFrame]" = weakref.WeakKeyDictionary()


def _one_to_one(col: T.DataType, lit: T.DataType) -> bool:
    """Whether Spark's ``col = lit`` compares in a type that every value of
    ``col`` maps into one to one, so a column value equals the literal only
    if it equals the literal converted to ``col``'s type.  (A BIGINT column
    against a DOUBLE literal fails: 2^53 and 2^53 + 1 both equal 2^53E0; a
    VARCHAR against a number fails: '05' = 5.)"""
    if isinstance(col, (*_EXACT, *_FRACTIONAL)) and isinstance(lit, (*_EXACT, *_FRACTIONAL)):
        return isinstance(col, _FRACTIONAL) or not isinstance(lit, _FRACTIONAL)
    if isinstance(col, _INSTANTS):
        # an NTZ column compared with a TIMESTAMP converts through the zone,
        # which maps two wall clocks of a skipped hour to one instant
        ltz_vs_ntz = isinstance(col, T.TimestampNTZType) and isinstance(lit, T.TimestampType)
        return isinstance(lit, (T.StringType, *_INSTANTS)) and not ltz_vs_ntz
    if isinstance(col, T.BinaryType):
        return isinstance(lit, (T.BinaryType, T.StringType))
    return type(col) is type(lit) and not isinstance(col, T.ArrayType)


def pin_keys(spark: SparkSession, pins: list[str], schema: T.StructType) -> pa.Table | None:
    """The key that ``pins`` (``_pk_pins``, Spark SQL) fix, as a one-row
    Arrow table of the PK columns under their column types, or None when a
    literal does not convert exactly — then no read by that value is sure
    to find every row the pin matches.  The literals are evaluated by Spark
    over a LocalRelation, which runs no job: each is cast to its column's
    type (``try_cast``) and must compare equal to itself after the cast."""
    types = {f.name.lower(): f for f in schema.fields}
    one = _ONE_ROW.get(spark)
    if one is None:
        one = _ONE_ROW[spark] = local_frame(spark, [(0,)], "_ int")
    exprs, cols = [], []
    for i, pin in enumerate(pins):
        m = _PIN_RE.fullmatch(pin)
        f, lit = types[m["col"].lower()], m["lit"]
        cast = f"try_cast({lit} AS {f.dataType.simpleString()})"
        exprs += [f"{lit} AS _l{i}", f"{cast} AS _v{i}", f"{cast} = {lit} AS _e{i}"]
        cols.append(f)
    frame = one.selectExpr(*exprs)
    lits = frame.schema.fields[::3]
    if not all(_one_to_one(f.dataType, lit.dataType) for f, lit in zip(cols, lits)):
        return None
    got = collect_arrow(frame)
    if not all(got.column(f"_e{i}")[0].as_py() for i in range(len(pins))):
        return None
    return got.select([f"_v{i}" for i in range(len(pins))]).rename_columns([f.name for f in cols])


def wall_clock(df: DataFrame) -> DataFrame:
    """``df`` with its TIMESTAMP values as session-zone wall-clock times
    (TIMESTAMP_NTZ), so collected datetimes mean what ``local_frame``
    reads them as — collect otherwise yields the Python process's local
    time."""

    def ntz(dt: T.DataType) -> T.DataType:
        if isinstance(dt, T.TimestampType):
            return T.TimestampNTZType()
        if isinstance(dt, T.ArrayType):
            return T.ArrayType(ntz(dt.elementType), dt.containsNull)
        if isinstance(dt, T.MapType):
            return T.MapType(ntz(dt.keyType), ntz(dt.valueType), dt.valueContainsNull)
        if isinstance(dt, T.StructType):
            return T.StructType(
                [T.StructField(f.name, ntz(f.dataType), f.nullable) for f in dt.fields]
            )
        return dt

    types = [ntz(f.dataType) for f in df.schema.fields]
    if types == [f.dataType for f in df.schema.fields]:
        return df
    # positional: a SELECT may repeat a column name
    tmp = [f"_c{i}" for i in range(len(types))]
    return df.toDF(*tmp).select(
        *[F.col(c).cast(dt) for c, dt in zip(tmp, types)]
    ).toDF(*df.columns)


def key_join(left: DataFrame, right: DataFrame, pk: list[str], how: str) -> DataFrame:
    """Join ``left`` to ``right`` on the PK columns with NULL-safe equality —
    the latest-wins window groups NULL key components together, so key
    matching must too.  Returns ``left``'s columns plus, for an outer join,
    ``right``'s non-key columns."""
    tmp = {c: f"__key_{c}" for c in pk}
    r = right.withColumnsRenamed(tmp)
    on = [F.col(c).eqNullSafe(F.col(t)) for c, t in tmp.items()]
    out = left.join(r, on=on, how=how)
    return out if how in ("left_semi", "left_anti") else out.drop(*tmp.values())


class ManagedTable:
    """One change-log table under ``<warehouse>/<name>/``."""

    def __init__(self, spark: SparkSession, warehouse: str, name: str):
        self.spark = spark
        self.warehouse = warehouse
        self.name = name
        # dotted names (schema.table, grammar :516-518) nest as directories
        self.dir = os.path.join(warehouse, *name.split("."))
        self.meta_path = os.path.join(self.dir, "meta.json")
        self.seg_dir = os.path.join(self.dir, "segments")

    # -- DDL ---------------------------------------------------------------

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        warehouse: str,
        name: str,
        schema: T.StructType,
        pk: list[str],
        sort_orders: dict[str, str] | None = None,
        props: dict | None = None,
        if_not_exists: bool = False,
        defaults: dict | None = None,
        not_null: list | None = None,
    ) -> "ManagedTable":
        tbl = cls(spark, warehouse, name)
        if os.path.exists(tbl.meta_path):
            if if_not_exists:
                return tbl
            raise ValueError(f"table {name} already exists")
        assert pk, "Phoenix tables require a PRIMARY KEY constraint"
        for c in pk:
            assert c in schema.fieldNames(), f"PK column {c} not in schema"
        os.makedirs(tbl.seg_dir, exist_ok=True)
        meta = {
            "name": name,
            "schema": schema.jsonValue(),
            "pk": list(pk),
            "sort_orders": sort_orders or {},
            "props": props or {},  # SALT_BUCKETS et al: parsed-and-recorded;
            # hash partitioning is Spark-native (SaltingUtil analogue is a no-op)
            # column DEFAULTs as TRANSLATED Spark SQL expression text — the
            # read path coalesces absent cells to these
            # (DefaultValueExpression analogue)
            "defaults": defaults or {},
            # NOT NULL columns (None for pre-existing metadata → callers
            # fall back to treating every PK column as required)
            "not_null": not_null,
        }
        tbl._save_meta(meta)
        return tbl

    def drop(self) -> None:
        import shutil

        shutil.rmtree(self.dir, ignore_errors=True)

    def truncate(self) -> None:
        """Drop every row, of this table's indexes too."""
        import shutil

        shutil.rmtree(self.seg_dir, ignore_errors=True)
        os.makedirs(self.seg_dir, exist_ok=True)
        for d in self._indexes():
            ManagedTable(self.spark, self.warehouse, d.name).truncate()

    def add_column(self, name: str, dtype: T.DataType) -> None:
        """ALTER TABLE ADD (metadata-only).  A name some segment may
        already hold — a dropped column's, or another column's physical
        name — gets a fresh physical name, so old cells never read back
        under the new column."""
        meta = self.meta
        schema = T.StructType.fromJson(meta["schema"])
        phys = meta.get("physical", {})
        taken = {phys.get(f.name, f.name).lower() for f in schema.fields}
        taken |= {p.lower() for p in meta.get("retired", [])}
        physical, n = name, 1
        while physical.lower() in taken:
            n += 1
            physical = f"{name}_{n}"
        if physical != name:
            meta["physical"] = {**phys, name: physical}
        meta["schema"] = schema.add(name, dtype).jsonValue()
        self._save_meta(meta)

    def drop_column(self, name: str) -> None:
        """ALTER TABLE DROP (metadata-only): the column leaves the schema
        and its physical name is retired for good."""
        meta = self.meta
        if name in meta["pk"]:
            raise ValueError("cannot drop a PK column")
        schema = T.StructType.fromJson(meta["schema"])
        phys = meta.get("physical", {})
        meta["retired"] = [*meta.get("retired", []), phys.pop(name, name)]
        meta["schema"] = T.StructType(
            [f for f in schema.fields if f.name != name]
        ).jsonValue()
        self._save_meta(meta)

    # -- metadata ----------------------------------------------------------

    @property
    def meta(self) -> dict:
        with open(self.meta_path) as f:
            return json.load(f)

    def _save_meta(self, meta: dict) -> None:
        with open(self.meta_path, "w") as f:
            json.dump(meta, f, indent=1)

    @property
    def schema(self) -> T.StructType:
        return T.StructType.fromJson(self.meta["schema"])

    @property
    def pk(self) -> list[str]:
        return list(self.meta["pk"])

    def exists(self) -> bool:
        return os.path.exists(self.meta_path)

    def _segments(self) -> list[str]:
        if not os.path.isdir(self.seg_dir):
            return []
        return sorted(
            os.path.join(self.seg_dir, p)
            for p in os.listdir(self.seg_dir)
            if p.startswith("seg-") and p.endswith(".parquet")
        )

    def _next_ts(self) -> int:
        return max((_seg_ts(p) for p in self._segments()), default=0) + 1

    def _indexes(self) -> list["IX.IndexDef"]:
        """The indexes whose physical base is this table (view indexes too)."""
        return [
            d for d in IX.load_indexes(self.warehouse).values()
            if d.base == self.name
        ]

    # -- stored layout -----------------------------------------------------

    @staticmethod
    def stored_schema(meta: dict) -> T.StructType:
        """The segment schema: data columns under their physical names,
        then the change-log columns."""
        phys = meta.get("physical", {})
        return T.StructType(
            [
                T.StructField(phys.get(f.name, f.name), f.dataType)
                for f in T.StructType.fromJson(meta["schema"]).fields
            ]
            + [
                T.StructField(_TS_COL, T.LongType()),
                T.StructField(_DEL_COL, T.BooleanType()),
            ]
        )

    @staticmethod
    def logical(raw: DataFrame, meta: dict) -> DataFrame:
        """Project stored rows onto the logical columns (physical names
        mapped back, DEFAULTs applied) plus the change-log columns.
        Schema evolution is metadata-only: a column an older segment lacks
        reads NULL, and a dropped column is simply not projected."""
        phys = meta.get("physical", {})
        dfl = meta.get("defaults", {})
        cols = []
        for f in T.StructType.fromJson(meta["schema"]).fields:
            c = F.col(phys.get(f.name, f.name))
            if f.name in dfl:
                # DefaultValueExpression: an absent (or explicitly nulled)
                # cell reads as the declared default
                c = F.coalesce(c, F.expr(dfl[f.name]).cast(f.dataType))
            cols.append(c.alias(f.name))
        return raw.select(*cols, _TS_COL, _DEL_COL)

    def _scan(self, segs: list[str], meta: dict) -> DataFrame:
        """Every stored row of ``segs`` (see ``logical``)."""
        stored = self.stored_schema(meta)
        if segs:
            raw = self.spark.read.schema(stored).parquet(*segs)
        else:
            # limit(0) turns the empty frame into an empty LocalRelation, so
            # the optimizer prunes joins against it (a table's first commit
            # has an empty pre-image) instead of broadcasting the other side
            raw = local_frame(self.spark, [], stored).limit(0)
        return self.logical(raw, meta)

    def _to_stored(self, df: DataFrame, ts: int, deleted: bool, meta: dict) -> DataFrame:
        """Rows ready to write at ``ts``: typed, canonicalized, under their
        physical names.  A ``_deleted`` column in ``df`` marks per-row
        tombstones; otherwise every row is flagged ``deleted``."""
        # Phoenix stores the empty string as NULL — an empty byte array IS
        # the VARCHAR/CHAR null representation (PVarchar;
        # NullIT.testEmptyStringValue) — canonicalize at write time so every
        # path (VALUES, SELECT, dup-update expressions) agrees.  A NULL (or
        # empty-string, which IS null) value in a NOT NULL PK column is
        # rejected (PTableImpl.newKey: ConstraintViolation "may not be null"
        # only when !column.isNullable(), PTableImpl.java:1254-1257) —
        # NULLABLE PK components legally hold null
        # (SkipScanQueryIT.testSkipScanFilterQuery upserts '' into a middle
        # nullable PK column).
        nn = meta.get("not_null")
        required = set(meta["pk"] if nn is None else nn) & set(meta["pk"])
        phys = meta.get("physical", {})
        cols = []
        for f in T.StructType.fromJson(meta["schema"]).fields:
            c = F.col(f.name).cast(f.dataType)
            if isinstance(f.dataType, T.StringType):
                if f.name in required:
                    c = F.when(
                        c.isNull() | (c == ""),
                        F.raise_error(
                            F.lit(
                                f"{self.name}.{f.name} may not be null"
                            )
                        ).cast(f.dataType),
                    ).otherwise(c)
                else:
                    c = F.nullif(c, F.lit(""))
            cols.append(c.alias(phys.get(f.name, f.name)))
        flag = F.col(_DEL_COL) if _DEL_COL in df.columns else F.lit(deleted)
        return df.select(
            *cols,
            F.lit(ts).cast("long").alias(_TS_COL),
            flag.cast("boolean").alias(_DEL_COL),
        )

    # -- write path --------------------------------------------------------

    @staticmethod
    def _sort_cols(meta: dict) -> list[str]:
        """The physical columns a segment is sorted by: the ``WRITE_SORT``
        prop (an index's key) or else the PK — the reference's row-key
        order (SURVEY §1.1)."""
        phys = meta.get("physical", {})
        keys = meta.get("props", {}).get("WRITE_SORT") or meta["pk"]
        return [phys.get(c, c) for c in keys]

    def _segment_path(self, ts: int) -> str:
        return os.path.join(self.seg_dir, f"seg-{ts:012d}-{uuid.uuid4().hex[:8]}.parquet")

    def _append_segment(self, df: DataFrame, ts: int, deleted: bool = False) -> int:
        # A delta segment is written the way HBase flushes a memstore: each
        # task writes a locally sorted run of its own partition, so parquet
        # row-group min/max stats prune key range/point scans.  No range
        # partitioning: its sampling jobs would re-run the source (a DML
        # statement's key-scoped pre-image read) before the write runs it
        # again, and double-fire observe() metrics.  Only a whole-table
        # ``rewrite`` sorts globally.
        meta = self.meta
        out = self._to_stored(df, ts, deleted, meta)
        out = out.sortWithinPartitions(*self._sort_cols(meta))
        out.write.mode("errorifexists").parquet(self._segment_path(ts))
        self._maintain_indexes(ts)
        return ts

    def _maintain_indexes(self, ts: int) -> None:
        """Maintain every index that is not DISABLED for the commit at
        ``ts`` (IndexRegionObserver).  The commit's segment holds whole rows
        for exactly the touched keys, so it is the post-image (tombstones
        for deleted rows); the pre-image is a snapshot read at ``ts - 1``
        scoped to those keys.  Each index gets one segment: the post-image's
        index rows, plus tombstones for pre-image index rows not re-put (key
        or predicate outcome changed).  A re-put key gets no tombstone: both
        would carry the same ts and tie."""
        defs = [d for d in self._indexes() if d.state != "DISABLED"]
        if not defs:
            return
        commit = self.read_commit(ts)
        post = commit.filter(~F.col(_DEL_COL)).drop(_DEL_COL)
        pre = self.read(as_of=ts - 1, keys=commit)
        pk = self.pk
        for d in defs:
            imt = ManagedTable(self.spark, self.warehouse, d.name)
            puts = IX.index_rows(post, d, pk)
            gone = key_join(IX.index_rows(pre, d, pk), puts, imt.pk, "left_anti")
            imt._append_segment(
                puts.withColumn(_DEL_COL, F.lit(False)).unionByName(
                    gone.withColumn(_DEL_COL, F.lit(True))
                ),
                imt._next_ts(),
            )

    def upsert_df(self, df: DataFrame, on_duplicate: str | dict | None = None) -> int:
        """UPSERT SELECT / VALUES: insert-or-overwrite by PK.

        Contract: one COMMIT must not contain two rows with the same PK —
        rows in a segment share a mutation_ts, so the read-side latest-wins
        window cannot order them.  The VALUES path dedupes last-write-wins
        before reaching here (upsert_rows / Engine); an UPSERT SELECT whose
        SOURCE yields duplicate PKs is the caller's responsibility, matching
        the reference, where the winner is the unspecified scan order of the
        server-side upsert.

        ``df`` may leave out non-PK columns: Phoenix writes only the listed
        cells (UpsertCompiler builds one Put per listed column), so an
        existing row keeps its unlisted cells and a new row reads NULL.

        ``on_duplicate``:
          * None      — plain upsert (latest wins at read time; no read
                        needed for whole rows); a boolean ``_deleted``
                        column in ``df`` makes its true rows tombstones, so
                        one change-log batch commits puts and deletes
                        together
          * 'ignore'  — ON DUPLICATE KEY IGNORE: only rows whose PK is absent
                        are appended
          * {col: expr} — ON DUPLICATE KEY UPDATE: expressions evaluated over
                        the EXISTING row's columns for matched PKs; unmatched
                        rows insert as given.  Values are SQL strings or
                        Columns — e.g. bson.bson_update_expression for the
                        reference's atomic BSON document updates
                        (UpsertCompiler + PhoenixIndexBuilder ON DUPLICATE
                        KEY UPDATE b = BSON_UPDATE_EXPRESSION(b, '...'))
          * ddl.UpdateOnly({col: expr}) — ON DUPLICATE KEY UPDATE_ONLY
                        (grammar :899,911): matched PKs update as above;
                        unmatched rows are DROPPED, never inserted
                        (IndexRegionObserver.java:2305-2311)

        All of them, and the partial-column merge, are one left join of the
        incoming rows against the current rows of their own keys (``_merge``);
        they differ only in which rows they keep.  Rows the driver holds (a
        ``local_frame``, as UPSERT VALUES builds), up to
        ``_CLIENT_BATCH_ROWS`` of them, commit as a client batch
        (``_upsert_point``); any other frame commits through a distributed
        write.  Returns the commit ts, except for IGNORE and UPDATE_ONLY,
        which return the count of rows actually written
        (OnDuplicateKey2IT.testIgnoreReturnValue:112 pins 0 for a
        fully-ignored upsert; the reference's IndexRegionObserver returns no
        mutation for an UPDATE_ONLY on an absent PK).
        """
        from pyspark.sql import Observation

        from phoenix_spark.ddl import UpdateOnly

        schema = self.schema
        counts = on_duplicate == "ignore" or isinstance(on_duplicate, UpdateOnly)
        if _DEL_COL not in df.columns and _driver_held(df):
            ts, n = self._upsert_point(df, on_duplicate)
            return n if counts else ts
        ts = self._next_ts()
        names = schema.fieldNames()
        if on_duplicate is None and set(names) <= set(df.columns):
            return self._append_segment(df, ts)
        given = [c for c in names if c in df.columns]
        incoming = df.select(*[F.col(c).alias(f"__in_{c}") for c in given])
        current = self.read(keys=df).withColumn("__hit", F.lit(True))
        joined = incoming.join(
            current,
            on=[F.col(f"__in_{c}").eqNullSafe(F.col(c)) for c in self.pk],
            how="left",
        )
        out = self._merge(joined, given, on_duplicate)[1]
        obs = Observation()
        self._append_segment(out.observe(obs, F.count(F.lit(1)).alias("n")), ts)
        return int(obs.get["n"]) if counts else ts

    def _merge(
        self, joined: DataFrame, given: list[str], on_duplicate
    ) -> tuple[DataFrame, DataFrame]:
        """The rows an upsert writes, from ``joined``: each incoming row
        (its ``given`` columns as ``__in_<col>``) beside the current row of
        its key (the table's columns, and ``__hit`` non-NULL where one
        exists).  Returns the joined rows ``on_duplicate`` keeps and their
        post-image: a hit keeps each cell the statement does not set."""
        from phoenix_spark.ddl import UpdateOnly

        hit = F.col("__hit").isNotNull()
        new = {
            f.name: F.col(f"__in_{f.name}")
            if f.name in given
            else F.lit(None).cast(f.dataType)
            for f in self.schema.fields
        }
        sets: dict = {}
        if on_duplicate is None:
            sets = {c: new[c] for c in given}
        elif on_duplicate == "ignore":
            joined = joined.filter(~hit)
        else:
            sets = {
                c: e if isinstance(e, F.Column) else F.expr(e)
                for c, e in on_duplicate.items()
            }
            if isinstance(on_duplicate, UpdateOnly):
                joined = joined.filter(hit)
        pk = self.pk
        out = joined.select(
            *[
                v.alias(c)
                if c in pk
                else F.when(hit, sets.get(c, F.col(c))).otherwise(v).alias(c)
                for c, v in new.items()
            ]
        )
        return joined, out

    # -- point commits: the client batch -----------------------------------

    def _part_files(self, as_of: int | None = None) -> list[str]:
        """The parquet files of the segments committed at or before
        ``as_of`` (all of them for None).  A segment is a directory whose
        data files are ``part-*.parquet``; Spark writes its ``_SUCCESS`` and
        ``.crc`` files beside them."""
        files = []
        for seg in self._segments():
            if as_of is None or _seg_ts(seg) <= as_of:
                files += sorted(
                    os.path.join(seg, p)
                    for p in os.listdir(seg)
                    if p.startswith("part-") and p.endswith(".parquet")
                )
        return files

    def _current(self, keys: pa.Table, meta: dict, as_of: int | None = None) -> pa.Table | None:
        """The current rows (at ``as_of``) of the keys in Arrow table
        ``keys`` (its PK columns hold them), as an Arrow table of the data
        columns under the types ``collect_arrow`` gives them — or None when
        no PK column is Arrow-filterable (an ARRAY), where ``read(keys=...)``
        serves.

        One pyarrow read on the driver, no Spark job: the segments' parquet
        files, filtered by an ``is_in`` on each PK column (row groups pruned
        on their statistics), INT96 timestamps read as microseconds (the
        nanosecond default wraps years before 1677).  The rows are projected
        as ``logical`` projects them — DEFAULTs applied by Spark over a
        LocalRelation, which runs no job — and latest-wins is resolved on
        the driver over the few versions of the keys the filter keeps."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.dataset as ds
        from pyspark.sql.pandas.types import to_arrow_schema

        schema = T.StructType.fromJson(meta["schema"])
        arrow = to_arrow_schema(schema)
        pk, phys, dfl = meta["pk"], meta.get("physical", {}), meta.get("defaults", {})
        keys = keys.select(pk).cast(pa.schema([arrow.field(c) for c in pk]))
        cond = None
        for c in pk:
            if pa.types.is_list(keys.schema.field(c).type):
                continue
            vals = pc.unique(keys.column(c))
            if pa.types.is_floating(vals.type):
                # Spark's = holds between 0.0 and -0.0; is_in compares bits
                vals = pc.unique(pa.concat_arrays([vals, pc.negate(vals)]))
            term = ds.field(phys.get(c, c)).isin(vals)
            if c in dfl:
                term = term | ds.field(phys.get(c, c)).is_null()  # reads as the default
            cond = term if cond is None else cond & term
        if cond is None:
            return None
        stored = self.stored_schema(meta)
        fmt = ds.ParquetFileFormat(
            read_options=ds.ParquetReadOptions(coerce_int96_timestamp_unit="us")
        )
        raw = ds.dataset(
            self._part_files(as_of), schema=to_arrow_schema(stored), format=fmt
        ).to_table(filter=cond)
        # one chunk per file, most of them empty; createDataFrame drops every
        # batch that follows an empty one
        raw = raw.combine_chunks()
        if dfl:
            raw = collect_arrow(self.logical(self.spark.createDataFrame(raw, stored), meta))
        else:
            names = [*schema.names, _TS_COL, _DEL_COL]
            raw = raw.select([phys.get(c, c) for c in names]).rename_columns(names)
        want = set(_keys(keys, pk))
        latest: dict = {}
        for i, (k, ts) in enumerate(zip(_keys(raw, pk), raw.column(_TS_COL).to_pylist())):
            if k in want and (k not in latest or ts > latest[k][1]):
                latest[k] = (i, ts)
        dead = raw.column(_DEL_COL).to_pylist()
        live = sorted(i for i, _ in latest.values() if not dead[i])
        rows = raw.take(pa.array(live, pa.int64())).drop_columns([_TS_COL, _DEL_COL])
        return rows.cast(arrow).combine_chunks()

    def _upsert_point(self, df: DataFrame, on_duplicate) -> tuple[int, int]:
        """Commit driver-held rows ``df`` as Phoenix's MutationState commits
        a client batch: one read of the touched keys' current rows (for ON
        DUPLICATE KEY, the partial-column merge and the index pre-image),
        then the post-image and every index's rows derived over
        LocalRelations, which run no job, and all segments published
        together (``_publish``).  Returns the commit ts and the count of
        rows written."""
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        meta = self.meta
        schema = T.StructType.fromJson(meta["schema"])
        fields = schema.fields
        given = [f for f in df.schema.fields if f.name in {g.name for g in fields}]
        defs = [d for d in self._indexes() if d.state != "DISABLED"]
        ts = self._next_ts()
        inc = collect_arrow(df)
        keys = _keys(inc, meta["pk"])
        # a plain upsert of whole rows into an unindexed table reads nothing
        merges = on_duplicate is not None or defs or len(given) < len(fields)
        cur = self._current(inc, meta) if merges else to_arrow_schema(schema).empty_table()
        if cur is None:
            # no Arrow-filterable PK column: a semi-join scopes the read to
            # the keys instead of collecting every stored version
            cur = collect_arrow(self.read(keys=df))
        at = dict(zip(_keys(cur, meta["pk"]), range(cur.num_rows)))
        take = pa.array([at.get(k) for k in keys], pa.int64())
        joined = {f"__in_{f.name}": inc.column(f.name) for f in given}
        joined.update({f.name: cur.column(f.name).take(take) for f in fields})
        joined["__hit"] = pa.array([i is not None or None for i in take.to_pylist()], pa.bool_())
        frame = self.spark.createDataFrame(
            pa.Table.from_pydict(joined),
            T.StructType(
                [T.StructField(f"__in_{f.name}", f.dataType) for f in given]
                + list(fields)
                + [T.StructField("__hit", T.BooleanType())]
            ),
        )
        kept, out = self._merge(frame, [f.name for f in given], on_duplicate)
        stored = self._to_stored(out, ts, False, meta)
        rows = collect_arrow(stored)
        if not rows.num_rows:
            return ts, 0
        segments = [(self, ts, rows)]
        if defs:
            post = self.logical(stored, meta).drop(_TS_COL, _DEL_COL)
            hits = on_duplicate != "ignore" and take.null_count < len(keys)
            pre = kept.filter(F.col("__hit").isNotNull()).select(*[f.name for f in fields])
            segments += self._index_segments(defs, post, pre if hits else None)
        _publish(segments)
        return ts, rows.num_rows

    def _delete_point(self, condition: str, keys: pa.Table, limit: int | None) -> int:
        """DELETE of the keys in Arrow table ``keys`` (those its PK pins
        fix, ``pin_keys``) as a client batch: one read of their current
        rows (``_current``), then ``condition``, the tombstones and the index
        tombstones evaluated over a LocalRelation, and every segment
        published together."""
        meta = self.meta
        ts = self._next_ts()
        cur = self._current(keys, meta)
        if not cur.num_rows:
            return 0
        victims = self.spark.createDataFrame(cur, self.schema).filter(condition)
        if limit is not None:
            victims = victims.limit(limit)
        rows = collect_arrow(self._to_stored(victims, ts, True, meta))
        if not rows.num_rows:
            return 0
        segments = [(self, ts, rows)]
        defs = [d for d in self._indexes() if d.state != "DISABLED"]
        if defs:
            segments += self._index_segments(defs, None, victims)
        _publish(segments)
        return rows.num_rows

    def _index_segments(
        self, defs: list, post: DataFrame | None, pre: DataFrame | None
    ) -> list:
        """The segment of each index in ``defs`` for a point commit, as
        ``_publish`` takes them: the index rows of the post-image ``post``,
        plus tombstones for the index rows of the pre-image ``pre`` that it
        does not re-put (see ``_maintain_indexes``).  Empty ones are left
        out."""
        import pyarrow as pa

        pk, out = self.pk, []
        for d in defs:
            imt = ManagedTable(self.spark, self.warehouse, d.name)
            imeta, ts = imt.meta, imt._next_ts()
            ikey = [imeta.get("physical", {}).get(c, c) for c in imeta["pk"]]
            parts = []
            for frame, deleted in ((post, False), (pre, True)):
                if frame is not None:
                    rows = IX.index_rows(frame, d, pk)
                    parts.append(collect_arrow(imt._to_stored(rows, ts, deleted, imeta)))
            if post is not None and pre is not None:
                put = set(_keys(parts[0], ikey))
                parts[1] = parts[1].filter(
                    pa.array([k not in put for k in _keys(parts[1], ikey)], pa.bool_())
                )
            seg = pa.concat_tables(parts)
            if seg.num_rows:
                out.append((imt, ts, seg))
        return out

    def upsert_rows(self, rows: list[dict], on_duplicate: str | dict | None = None) -> int:
        """UPSERT VALUES: literal rows (partial columns allowed → NULL fill).

        Duplicate PKs within one batch resolve LAST-WRITE-WINS before the
        commit (MutationState buffers mutations by PK, so a later VALUES row
        silently replaces an earlier one in the same statement) — without
        this, both rows would land in one segment with equal mutation_ts and
        the read-side latest-wins window would break the tie arbitrarily."""
        schema, pk = self.schema, self.pk
        full = [{f.name: r.get(f.name) for f in schema.fields} for r in rows]
        by_pk = {tuple(r[c] for c in pk): r for r in full}
        df = local_frame(self.spark, list(by_pk.values()), schema)
        return self.upsert_df(df, on_duplicate=on_duplicate)

    def delete_where(
        self,
        condition: str | F.Column | None,
        order_by: str | None = None,
        limit: int | None = None,
    ) -> int:
        """DELETE FROM t WHERE ... [ORDER BY ... LIMIT n]: append tombstones
        for matching PKs; returns the DELETED-row count (observed on the
        tombstone write itself).

        Mirrors DeleteCompiler's "run a query for the row keys, emit delete
        mutations" shape — the scan is distributed, only tombstone rows are
        written.  The ordered LIMIT form is DeleteCompiler's top-N delete
        (TopNIT.testTopNDelete): sort, cut, tombstone.  The tombstones are
        whole rows, so the commit's segment (``read_commit``) is the exact
        victim set for RETURNING and index maintenance.  A predicate on PK
        columns only is pushed below the latest-wins window by Catalyst.  A
        condition that pins every PK column to a literal that converts
        exactly to its type is a point lookup, committed as a client batch
        (``_delete_point``).
        """
        from pyspark.sql import Observation

        pins = (
            _pk_pins(condition, self.pk)
            if order_by is None and isinstance(condition, str)
            else None
        )
        keys = pin_keys(self.spark, pins, self.schema) if pins else None
        if keys is not None:
            return self._delete_point(condition, keys, limit)
        ts = self._next_ts()
        cur = self.read()
        victims = cur.filter(condition) if condition is not None else cur
        if order_by:
            sort_cols = []
            for item in split_top(order_by, ","):
                m = re.match(
                    r"(.*?)\s*(ASC|DESC)?\s*(?:NULLS\s+(FIRST|LAST))?\s*$",
                    item.strip(), re.I | re.S,
                )
                col = F.expr(m.group(1))
                desc = (m.group(2) or "").upper() == "DESC"
                # Phoenix default: NULLS FIRST in both directions
                nulls_last = (m.group(3) or "").upper() == "LAST"
                if desc:
                    col = (
                        col.desc_nulls_last() if nulls_last
                        else col.desc_nulls_first()
                    )
                else:
                    col = (
                        col.asc_nulls_last() if nulls_last
                        else col.asc_nulls_first()
                    )
                sort_cols.append(col)
            victims = victims.orderBy(*sort_cols)
        if limit is not None:
            victims = victims.limit(limit)
        obs = Observation()
        self._append_segment(
            victims.observe(obs, F.count(F.lit(1)).alias("n")),
            ts,
            deleted=True,
        )
        return int(obs.get["n"])

    def rewrite(self, df: DataFrame) -> None:
        """Replace the table's contents with the rows of ``df`` (one row per
        PK), written as one base segment at a new ts.

        This is the one write that sorts globally — the analogue of a major
        compaction: one range shuffle lays the table out as disjoint sorted
        files (the sampling pass is amortized over the full rewrite), so the
        single-segment fast path serves key scans with maximal row-group
        pruning.  The write lands in a temp dir and is published by a single
        atomic rename before the superseded segments are removed."""
        import shutil

        meta = self.meta
        ts = self._next_ts()
        cols = self._sort_cols(meta)
        out = self._to_stored(df, ts, False, meta)
        out = out.repartitionByRange(*cols).sortWithinPartitions(*cols)
        tmp = os.path.join(self.dir, f"_rewrite-{uuid.uuid4().hex[:8]}.parquet")
        out.write.mode("errorifexists").parquet(tmp)
        old = self._segments()
        shutil.move(tmp, self._segment_path(ts))
        for p in old:
            shutil.rmtree(p, ignore_errors=True)

    def compact(self) -> None:
        """Fold all segments into one base segment (retention/TTL hook)."""
        self.rewrite(self.read())

    # -- read path ---------------------------------------------------------

    def read(
        self,
        as_of: int | None = None,
        with_row_timestamp: bool = False,
        keys: DataFrame | pa.Table | None = None,
    ) -> DataFrame:
        """Latest-wins compacted view (optionally AS OF a mutation ts — the
        TableSnapshotResultIterator analogue).  ``with_row_timestamp``
        exposes the commit ts as ``phoenix_row_timestamp`` (the
        PhoenixRowTimestampFunction analogue).  ``keys`` (a frame holding
        the PK columns of one statement's rows) scopes the read to those
        keys: a broadcast semi-join on the raw segment rows, before the
        window, so only their versions are shuffled.  Keys the driver holds
        (an Arrow table of PK values, a point lookup) are read by
        ``_current`` into a LocalRelation, with no job."""
        meta = self.meta
        if keys is not None and not isinstance(keys, DataFrame):
            rows = None if with_row_timestamp else self._current(keys, meta, as_of)
            if rows is not None:
                return self.spark.createDataFrame(rows, T.StructType.fromJson(meta["schema"]))
            keys = self.spark.createDataFrame(keys)
        segs = self._segments()
        if as_of is not None:
            segs = [p for p in segs if _seg_ts(p) <= as_of]
        df = self._scan(segs, meta)
        if keys is not None:
            keys = F.broadcast(keys.select(*meta["pk"]))
            df = key_join(df, keys, meta["pk"], "left_semi")
        data_cols = [f["name"] for f in meta["schema"]["fields"]]
        if with_row_timestamp:
            data_cols.append("phoenix_row_timestamp")
            df = df.withColumn("phoenix_row_timestamp", F.col(_TS_COL))
        if len(segs) <= 1:
            # Fast path: a single segment holds no superseded versions; only
            # tombstones (rare in a fresh segment) need filtering.
            return df.filter(~F.col(_DEL_COL)).select(*data_cols)
        w = Window.partitionBy(*meta["pk"]).orderBy(F.col(_TS_COL).desc())
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter((F.col("_rn") == 1) & ~F.col(_DEL_COL))
            .select(*data_cols)
        )

    def read_commit(self, ts: int) -> DataFrame:
        """The rows committed at ``ts``: the data columns plus ``_deleted``.
        One statement commits one segment of whole rows, so this is the
        statement's post-image, with a tombstone per deleted row."""
        meta = self.meta
        segs = [p for p in self._segments() if _seg_ts(p) == ts]
        return self._scan(segs, meta).drop(_TS_COL)

    # -- CDC surface (SURVEY §2.11) ---------------------------------------

    def changes(self, since: int = 0, scope: str = "CHANGE") -> DataFrame:
        """CDC change feed over the change log (CREATE CDC analogue;
        reference CDCGlobalIndexRegionScanner.java:99, change scopes
        PRE/POST/CHANGE per grammar PhoenixSQL.g:611-616).

        Returns one row per mutation with pre/post images computed via
        lag() over the PK history — the batch twin of the readStream source.
        """
        segs = self._segments()
        if not segs:
            raise ValueError("no changes")
        meta = self.meta
        df = self._scan(segs, meta).filter(F.col(_TS_COL) > since)
        pk = meta["pk"]
        data_cols = [f["name"] for f in meta["schema"]["fields"]]
        w = Window.partitionBy(*pk).orderBy(F.col(_TS_COL).asc())
        img = F.struct(*[F.col(c) for c in data_cols])
        out = df.select(
            *pk,
            F.col(_TS_COL).alias("change_ts"),
            F.when(F.col(_DEL_COL), F.lit("DELETE")).otherwise(F.lit("UPSERT")).alias(
                "change_op"
            ),
            F.lag(img).over(w).alias("pre_image"),
            F.when(~F.col(_DEL_COL), img).alias("post_image"),
        )
        if scope == "PRE":
            return out.select(*pk, "change_ts", "change_op", "pre_image")
        if scope == "POST":
            return out.select(*pk, "change_ts", "change_op", "post_image")
        return out
