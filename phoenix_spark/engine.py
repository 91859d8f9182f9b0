"""Engine: the JDBC-driver analogue (reference: phoenix-core-client/.../jdbc/
PhoenixStatement.java — parse → compile → optimize → execute; executeQuery
for SELECT, executeUpdate for UPSERT/DELETE/DDL).

The Spark-first split of that pipeline (SURVEY.md §3.1):
  * SELECT → dialect translation (sqlfront) → ``spark.sql`` → Catalyst does
    analysis/optimization/physical planning (no custom planner: predicate
    pushdown, column pruning, join selection, subquery decorrelation are
    Catalyst built-ins — §4.1 maps each Phoenix optimization to its
    equivalent).
  * UPSERT / DELETE → ddl.py parse → ManagedTable change-log commits (§2.9).
  * CREATE TABLE / VIEW / SEQUENCE, DROP, TRUNCATE → catalog metadata ops
    (MetaDataClient → MetaDataEndpointImpl analogue, minus the RPC).
  * EXPLAIN → Spark's formatted plan.

Table references bind once per statement, as FromCompiler binds each one to a
PTable by (tenant, schema, name): ``_resolve`` maps a name to the managed
table, view or index it denotes on the connection (USE'd schema, tenant,
SCN), and ``_bind`` reads it through a temp view of its own, registered when
a statement reads it and again only after the table has moved.  Writes
register nothing.  A SELECT whose one table reference has its whole PK
pinned to literals is a point lookup (``_point_lookup``): it chooses no
index and binds the reference to that key's rows, read on the driver
without a Spark job.

Views are Phoenix-semantics views: single-table, predicate-only, recompiled
into every read (QueryCompiler.java:803-806).  Sequences are a single-writer
metadata counter (SequenceRegionObserver analogue; SURVEY §7 documents the
no-concurrent-writers scope).
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import re
import weakref
from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from phoenix_spark import ddl as D
from phoenix_spark import indexes as IX
from phoenix_spark.catalog import Catalog, file_signature
from phoenix_spark.mutations import (
    _DEL_COL,
    ManagedTable,
    _pk_pins,
    key_join,
    local_frame,
    pin_keys,
    wall_clock,
)
from phoenix_spark.sqlfront import (
    _ALIAS_STOP_KW,
    _rewrite_aliased_table_qualifiers,
    classify,
    translate_phoenix_sql,
)
from phoenix_spark.sqllex import code_start, iter_top, mask, split_top, tokens, unmask
from phoenix_spark.types import parse_type

if TYPE_CHECKING:
    import pyarrow as pa

# translate_phoenix_sql's catalog arguments and the Spark types each holds
_COLUMN_KINDS = {
    "ts_columns": (T.DateType, T.TimestampType, T.TimestampNTZType),
    "int_columns": (T.ByteType, T.ShortType, T.IntegerType, T.LongType),
    "str_columns": (T.StringType,),
    "float_columns": (T.FloatType,),
}
_WORD_RE = re.compile(r"[A-Za-z_]\w*")


def _words(text: str) -> set[str]:
    return {m.lower() for m in _WORD_RE.findall(text)}


def _column_kinds(schema: T.StructType) -> dict[str, set[str]]:
    return {
        kind: {f.name for f in schema.fields if isinstance(f.dataType, types)}
        for kind, types in _COLUMN_KINDS.items()
    }


# The temp views ``Engine._bind`` registered, per SparkSession (whose
# temp-view namespace they share): view name -> the binding it shows,
# ``(warehouse, qualified name, tenant, SCN, dynamic columns, point keys,
# version)``.
_BOUND: "weakref.WeakKeyDictionary[SparkSession, dict[str, tuple]]" = (
    weakref.WeakKeyDictionary()
)
# words that end a FROM item list at their bracket depth
_FROM_END = frozenset(
    "WHERE GROUP ORDER HAVING LIMIT OFFSET FETCH UNION INTERSECT EXCEPT "
    "MINUS WINDOW SELECT".split()
)
# words after FROM that begin no table reference
_NOT_A_TABLE = frozenset({"SELECT", "WITH", "VALUES", "LATERAL"})
# words after a table name that are no alias of it
_ALIAS_STOP = _ALIAS_STOP_KW | {"WINDOW", "MINUS", "TABLESAMPLE"}
# words that end a WHERE clause at its bracket depth
_WHERE_END = _FROM_END - {"WHERE", "SELECT"} | {";"}
_SET_OPS = frozenset({"UNION", "INTERSECT", "EXCEPT", "MINUS"})


def _ident(tok) -> str:
    """The name a word or quoted-identifier token spells."""
    return tok.text[1:-1].replace('""', '"') if tok.kind == "ident" else tok.text


def _table_refs(toks: list) -> Iterator[tuple[int, int]]:
    """The span ``(first, last)`` in ``toks`` of each table reference's
    (dotted) name: after a SELECT's FROM or a JOIN, in a FROM item list, or
    opening a parenthesized join.  CTE names and table functions are
    references too; the caller tells them apart."""
    selects: set[int] = set()  # depths whose bracket group has a SELECT
    lists: set[int] = set()  # depths inside a FROM item list
    expect = False
    i = 0
    while i < len(toks):
        t = toks[i]
        word = t.text.upper() if t.kind == "word" else ""
        if t.kind == "open":
            selects.discard(t.depth + 1)
            lists.discard(t.depth + 1)
            i += 1  # a derived table or a parenthesized join follows
            continue
        if expect and t.kind in ("word", "ident") and word not in _NOT_A_TABLE:
            expect = False
            j = i
            while (
                j + 2 < len(toks)
                and toks[j + 1].text == "."
                and toks[j + 2].kind in ("word", "ident")
            ):
                j += 2
            yield i, j
            i = j + 1
            continue
        expect = False
        if word == "SELECT":
            selects.add(t.depth)
            lists.discard(t.depth)
        elif (word == "FROM" and t.depth in selects) or word == "JOIN":
            lists.add(t.depth)
            expect = True
        elif t.text == "," and t.depth in lists:
            expect = True
        elif word in _FROM_END:
            lists.discard(t.depth)
        i += 1


class Engine:
    def __init__(
        self,
        spark: SparkSession,
        sf_dir: str | None = None,
        warehouse: str | None = None,
        tenant_id: str | None = None,
        scn: int | None = None,
    ):
        self.spark = spark
        try:
            # deep-path BSON updates nest one lambda per path level per op;
            # the analyzer resolves one nesting level per pass (see
            # session.py) — set here too for externally-built sessions
            spark.conf.set("spark.sql.analyzer.maxIterations", "1000")
        except Exception:
            pass  # read-only conf on some deployments: non-fatal
        self.catalog: Catalog | None = None
        self.warehouse = warehouse or os.path.join(
            os.environ.get("PHOENIX_SPARK_WAREHOUSE", "/tmp/phoenix_spark_wh")
        )
        os.makedirs(self.warehouse, exist_ok=True)
        # views persist in the warehouse (SYSTEM.CATALOG analogue): a view is
        # (parent, stored predicate, view-defined columns), recompiled into
        # every read; older warehouses stored 2-tuples — normalize on load
        self._views_path = os.path.join(self.warehouse, "_views.json")
        self._views: dict[str, tuple[str, str | None, dict[str, str]]] = {}
        if os.path.exists(self._views_path):
            with open(self._views_path) as f:
                self._views = {
                    k: (v[0], v[1], v[2] if len(v) > 2 else {})
                    for k, v in json.load(f).items()
                }
        # Tenant-owned views (CREATE VIEW through a tenant connection) are
        # scoped to that tenant — other connections get the reference's
        # TableNotFoundException (TenantSpecificTablesDMLIT
        # .testTenantTableCannotBeUsedInStatementsInNonMultitenantConnections)
        self._view_owners_path = os.path.join(self.warehouse, "_view_owners.json")
        self._view_owners: dict[str, str] = {}
        if os.path.exists(self._view_owners_path):
            with open(self._view_owners_path) as f:
                self._view_owners = json.load(f)
        self._seq_path = os.path.join(self.warehouse, "_sequences.json")
        # secondary indexes (SYSTEM.CATALOG's PTableType.INDEX rows analogue)
        self._indexes = IX.load_indexes(self.warehouse)
        self._cursors: dict[str, dict] = {}
        # CDC objects (CREATE CDC, grammar :593-616): name -> (table, scope)
        self._cdcs_path = os.path.join(self.warehouse, "_cdcs.json")
        self._cdcs: dict[str, tuple[str, str]] = {}
        if os.path.exists(self._cdcs_path):
            with open(self._cdcs_path) as f:
                self._cdcs = {k: tuple(v) for k, v in json.load(f).items()}
        self.default_schema: str | None = None
        # Tenant-specific connection (PTable.isMultiTenant, PTable.java:915):
        # the first PK column of a MULTI_TENANT table is the tenant id; a
        # tenant connection sees an implicit WHERE tenant = ? and never the
        # tenant column itself.
        self.tenant_id = tenant_id
        # Point-in-time connection (the CurrentSCN connection attribute,
        # PhoenixRuntime.CURRENT_SCN_ATTRIB; PointInTimeQueryIT): every
        # managed-table read resolves AS OF this commit timestamp, and the
        # connection is read-only (the reference rejects mutations at an SCN
        # with SQLExceptionCode.CANNOT_UPSERT_WITH_SCN_SET & friends).
        self.scn = scn
        # CREATE FUNCTION bindings (SYSTEM.FUNCTION rows): name ->
        # (class_name, return_type, num_args).  Session-scoped like the
        # Spark UDF registry the callables live in.
        self._functions: dict[str, tuple[str, str | None, int | None]] = {}
        # meta.json or attached parquet path -> (file signature, column
        # kinds): one column-type map per table version (_typed_columns)
        self._columns: dict[str, tuple[tuple, dict[str, set[str]]]] = {}
        if sf_dir is not None:
            self.attach(sf_dir)
        # a registry written before indexes recorded their base: bind each
        # entry once, or base commits would never maintain it
        unbound = [d for d in self._indexes.values() if d.base is None]
        for d in unbound:
            try:
                self._bind_index(d)
            except ValueError:
                continue  # its base is gone; never served (_maybe_use_index)
        if unbound:
            IX.save_indexes(self.warehouse, self._indexes)

    def with_tenant(self, tenant_id: str) -> "Engine":
        """A tenant-scoped connection sharing this engine's warehouse."""
        return self._connection(tenant_id, None)

    def with_scn(self, scn: int) -> "Engine":
        """A point-in-time connection (CurrentSCN): reads resolve AS OF the
        given commit timestamp; mutations are rejected."""
        return self._connection(self.tenant_id, scn)

    def _connection(self, tenant_id: str | None, scn: int | None) -> "Engine":
        """A connection sharing this engine's warehouse, catalog and views."""
        e = Engine(self.spark, warehouse=self.warehouse, tenant_id=tenant_id, scn=scn)
        e.catalog = self.catalog
        e._views = self._views
        e._view_owners = self._view_owners
        return e

    def _check_mutable(self) -> None:
        """A CurrentSCN connection is read-only (SQLExceptionCode
        .CANNOT_UPSERT_WITH_SCN_SET / CANNOT_DELETE_WITH_SCN_SET)."""
        if self.scn is not None:
            raise ValueError(
                "connection with CurrentSCN set is read-only: mutations are "
                "not allowed at a point-in-time snapshot"
            )

    def commit_ts(self, table: str) -> int:
        """The latest commit timestamp of a managed table — what a fresh
        CurrentSCN connection would need to see all current data."""
        mt = ManagedTable(self.spark, self.warehouse, self._qualify(table))
        return mt._next_ts() - 1

    def _tenant_col(self, mt: ManagedTable) -> str | None:
        props = mt.meta.get("props", {})
        if str(props.get("MULTI_TENANT", "")).lower() == "true":
            return mt.pk[0]
        return None

    # -- catalog wiring ----------------------------------------------------

    def attach(self, sf_dir: str) -> "Engine":
        """Point the engine at a data directory and register its tables."""
        self.catalog = Catalog(self.spark, sf_dir)
        self.catalog.register_all()
        return self

    def table(
        self,
        name: str,
        dyn_cols: dict[str, str] | None = None,
        json_col: str = "props",
        keys: pa.Table | None = None,
    ) -> DataFrame:
        """Resolve a table/view.

        ``dyn_cols`` is the dynamic-column surface (``SELECT * FROM t (mycol
        VARCHAR)`` — grammar PhoenixSQL.g:832-855): extra typed columns
        declared at query time, resolved from the table's JSON overflow
        column (schema-on-read).  ``keys`` (an Arrow table of the root
        table's PK values) reads only those keys' rows, on the driver
        (``ManagedTable.read``).
        """
        name = self._qualify(name)
        if name in self._views:
            owner = self._view_owners.get(name)
            if owner is not None and owner != self.tenant_id:
                # tenant-owned view on a foreign/global connection:
                # TableNotFoundException (MetaDataClient resolves tenant
                # views only under their tenant)
                raise ValueError(f"Table undefined. tableName={name}")
            parent, where, vcols = self._views[name]
            # view-defined columns resolve like dynamic columns: typed reads
            # from the parent's JSON overflow column (the reference stores
            # view columns as ordinary cells of the same physical table; the
            # overflow column is this engine's cell store for them).  A None
            # type marks a parent column EXCLUDED via ALTER VIEW DROP COLUMN
            # (the reference's diverged views, LinkType.EXCLUDED_COLUMN).
            added = {c: t for c, t in (vcols or {}).items() if t is not None}
            excluded = [c for c, t in (vcols or {}).items() if t is None]
            df = self.table(parent, dyn_cols=added or None, json_col=json_col, keys=keys)
            df = df.filter(where) if where else df
            if excluded:
                df = df.drop(*excluded)
        else:
            mt = ManagedTable(self.spark, self.warehouse, name)
            if mt.exists():
                df = mt.read(as_of=self.scn, keys=keys)
                tcol = self._tenant_col(mt) if self.tenant_id else None
                if tcol:
                    df = df.filter(F.col(tcol) == self.tenant_id).drop(tcol)
                if mt.meta.get("props", {}).get("HIDDEN_OVERFLOW"):
                    # overflow auto-provisioned for view columns: resolve
                    # dyn/view columns from it, then hide it (the base's
                    # declared column list never changes)
                    if dyn_cols and json_col == "props":
                        from phoenix_spark.types import parse_type

                        for col, typ in dyn_cols.items():
                            df = df.withColumn(
                                col,
                                F.get_json_object(
                                    F.col(json_col), f"$.{col}"
                                ).cast(parse_type(typ)),
                            )
                        dyn_cols = None
                    df = df.drop("props")
            else:
                assert self.catalog is not None, "attach(sf_dir) first"
                df = self.catalog.df(name)
        if dyn_cols:
            from phoenix_spark.types import parse_type

            for col, typ in dyn_cols.items():
                # a base with no JSON overflow column reads added view /
                # dynamic columns as NULL (no cell written yet)
                src = (
                    F.get_json_object(F.col(json_col), f"$.{col}")
                    if json_col in df.columns
                    else F.lit(None)
                )
                df = df.withColumn(col, src.cast(parse_type(typ)))
        return df

    def managed(self, name: str) -> ManagedTable:
        mt = ManagedTable(self.spark, self.warehouse, self._qualify(name))
        if not mt.exists():
            raise ValueError(f"no managed table {name}")
        return mt

    def _managed_names(self) -> list[str]:
        """All managed-table names in the warehouse (dotted for
        schema-qualified tables — ManagedTable nests them as directories)."""
        names: list[str] = []
        for root, dirs, files in os.walk(self.warehouse):
            if "meta.json" in files:
                rel = os.path.relpath(root, self.warehouse)
                names.append(rel.replace(os.sep, ".").lower())
                dirs[:] = []  # table dirs do not nest further tables
        return names

    # -- name resolution (FromCompiler / ColumnResolver analogue) -----------

    def _resolve(self, ref: str) -> str | None:
        """The qualified name of the view, managed table or index that
        table reference ``ref`` denotes on this connection (the USE'd
        schema first), or None when it denotes none of them: an attached
        table, a CDC object or another temp view keeps its own name.  A
        view another tenant owns is not found (TableNotFoundException)."""
        q = self._qualify(ref)
        if q in self._views:
            owner = self._view_owners.get(q)
            if owner is not None and owner != self.tenant_id:
                raise ValueError(f"Table undefined. tableName={q}")
            return q
        return q if ManagedTable(self.spark, self.warehouse, q).exists() else None

    def _bind(
        self, q: str, dyn: dict[str, str] | None = None, keys: pa.Table | None = None
    ) -> str:
        """The temp view that shows ``q`` (a name ``_resolve`` returned, with
        dynamic columns ``dyn``) on this connection, registered now unless
        it already shows ``q`` at its current version.  Its name is ``q``'s
        under a reserved prefix (``_p_<schema>__<name>``), suffixed with the
        connection's tenant, SCN and dynamic-column spec, so no two
        bindings a statement reads share a name.  With point ``keys``
        (``_point_lookup``) the view, suffixed ``__pt``, shows only their
        rows, read on the driver into a LocalRelation (``ManagedTable.read``
        with Arrow keys)."""
        schema, _, name = q.rpartition(".")
        view = f"_p_{schema}__{name}"
        if self.tenant_id is not None:
            view += f"__tn{hashlib.md5(self.tenant_id.encode()).hexdigest()[:8]}"
        if self.scn is not None:
            view += f"__scn{self.scn}"
        spec = ",".join(f"{k}:{v}" for k, v in sorted((dyn or {}).items()))
        if spec:
            view += f"__dyn{hashlib.md5(spec.encode()).hexdigest()[:8]}"
        if keys is not None:
            view += "__pt"
        points = None if keys is None else keys.to_pylist()
        key = (self.warehouse, q, self.tenant_id, self.scn, spec, points, self._version(q))
        bound = _BOUND.setdefault(self.spark, {})
        if bound.get(view) != key:
            self.table(q, dyn_cols=dyn, keys=keys).createOrReplaceTempView(view)
            bound[view] = key
        return view

    def _version(self, q: str) -> tuple:
        """What a temp view of ``q`` pins: the definitions along its view
        chain, and its physical root's ``meta.json`` signature and segment
        files (every commit adds one, with a unique name)."""
        chain, root = self._view_chain(q)
        mt = ManagedTable(self.spark, self.warehouse, root)
        if not mt.exists():
            return (repr(chain),)  # a view over an attached table
        return (repr(chain), file_signature(mt.meta_path), tuple(mt._segments()))

    def _unbind(self, q: str) -> None:
        """Drop every temp view bound to ``q`` in this warehouse."""
        bound = _BOUND.get(self.spark, {})
        for view, key in list(bound.items()):
            if key[:2] == (self.warehouse, q):
                self.spark.catalog.dropTempView(view)
                del bound[view]

    def _bind_refs(self, text: str, point: tuple[str, pa.Table] | None = None) -> str:
        """Rewrite each table reference of ``text`` — after a SELECT's FROM
        or a JOIN, in a FROM item list, or opening a parenthesized join — to
        the temp view of its binding (``_bind``), aliased by its bare name
        unless the statement gives an alias; ``schema.table.col`` column
        references become ``alias.col``.  A name that resolves to no managed
        table, view or index (an attached table, a CTE, a CDC object, any
        other temp view) stays as written.  This is where a statement's
        table names resolve, once each.  ``point`` (``_point_lookup``'s
        relation and keys) binds that relation to its point read."""
        toks = [t for t in tokens(text) if t.kind != "comment"]
        ctes = {
            toks[i - 1].text.lower()
            for i in range(1, len(toks) - 1)
            if toks[i].text.upper() == "AS"
            and toks[i + 1].kind == "open"
            and toks[i - 1].kind == "word"
        }
        edits: list[tuple[int, int, str]] = []
        aliases: dict[str, str] = {}  # dotted name as written -> its alias
        views: dict[str, str] = {}  # view -> the name bound to it here
        for i, j in _table_refs(toks):
            name = ".".join(_ident(p) for p in toks[i : j + 1 : 2])
            nxt = toks[j + 1] if j + 1 < len(toks) else None
            if (nxt is not None and nxt.text == "(") or name.lower() in ctes:
                continue
            q = self._resolve(name)
            if q is None:
                continue
            view = self._bind(q, keys=point[1] if point and point[0] == q else None)
            if views.setdefault(view, q) != q:
                raise ValueError(f"tables {views[view]} and {q} share view {view}")
            bare = _ident(toks[j])
            alias = None
            if nxt is not None and nxt.text.upper() == "AS" and j + 2 < len(toks):
                alias = _ident(toks[j + 2])
            elif nxt is not None and nxt.kind in ("word", "ident") and (
                nxt.text.upper() not in _ALIAS_STOP
            ):
                alias = _ident(nxt)
            edits.append((toks[i].start, toks[j].end, view if alias else f"{view} {bare}"))
            if j > i:
                aliases[name.lower()] = alias or bare
        # schema.table.column -> alias.column
        for k in range(len(toks) - 3):
            if toks[k + 1].text == "." and toks[k + 3].text == ".":
                alias = aliases.get(f"{_ident(toks[k])}.{_ident(toks[k + 2])}".lower())
                if alias is not None:
                    edits.append((toks[k].start, toks[k + 2].end, alias))
        out, pos = [], 0
        for start, end, new in sorted(edits):
            out += [text[pos:start], new]
            pos = end
        return "".join(out) + text[pos:]

    def _point_lookup(self, text: str) -> tuple[str, pa.Table] | None:
        """The relation and keys of a point SELECT: a SELECT with no set
        operator whose FROM holds just one table reference — a managed
        table or view (no dynamic columns), maybe aliased, no join or
        derived table beside it — and no other reference, whose WHERE pins
        every PK column of its root table with a top-level ``col = literal``
        conjunct (``_pk_pins``, on the translated WHERE; a qualified column
        must name that reference) to a literal that converts exactly
        (``pin_keys``).  Phoenix runs such a query as a batch of Gets and
        chooses no index for it (ScanRanges.isPointLookup,
        QueryOptimizer.java:230-236).  None for any other statement, and on
        a tenant connection, whose tenant pin is implicit."""
        if self.tenant_id is not None:
            return None
        toks = [t for t in tokens(text) if t.kind != "comment"]
        refs = list(_table_refs(toks))
        if len(refs) != 1 or toks[0].text.upper() != "SELECT":
            return None
        top = [k for k, t in enumerate(toks) if t.depth == 0]
        if any(toks[k].text.upper() in _SET_OPS for k in top):
            return None
        i, j = refs[0]
        if toks[i].depth or toks[i - 1].text.upper() != "FROM":
            return None
        # the FROM item is the name, maybe aliased, and a WHERE follows it
        end = next((k for k in top if k > j and toks[k].text.upper() in _FROM_END | {";"}),
                   len(toks))
        alias = [t for t in toks[j + 1 : end] if t.text.upper() != "AS"]
        if len(alias) > 1 or alias and (
            alias[0].kind not in ("word", "ident") or alias[0].text.upper() in _ALIAS_STOP
        ):
            return None
        if end == len(toks) or toks[end].text.upper() != "WHERE":
            return None
        name = ".".join(_ident(p) for p in toks[i : j + 1 : 2])
        quals = frozenset(
            n.lower() for n in ([_ident(alias[0])] if alias else [name, _ident(toks[j])])
        )
        q = self._resolve(name)
        root = q and ManagedTable(self.spark, self.warehouse, self._view_chain(q)[1])
        if not root or not root.exists():
            return None
        stop = next((k for k in top if k > end and toks[k].text.upper() in _WHERE_END), None)
        cond = text[toks[end].end : len(text) if stop is None else toks[stop].start]
        if not _pk_pins(cond, root.pk, quals):
            return None  # spares the translation of every other WHERE
        pins = _pk_pins(translate_phoenix_sql(cond, **self._table_columns(q)), root.pk, quals)
        keys = pins and pin_keys(self.spark, pins, root.schema)
        return None if keys is None else (q, keys)

    def _view_chain(self, name: str) -> tuple[list[tuple], str]:
        """The ``(parent, where, columns)`` definitions along view ``name``'s
        chain, outermost first, and the table at its bottom (``[]`` and
        ``name`` when it is no view)."""
        node, chain = self._qualify(name), []
        while node in self._views:
            chain.append(self._views[node])
            node = self._qualify(self._views[node][0])
        return chain, node

    def _typed_columns(self, text: str) -> dict[str, set[str]]:
        """The catalog knowledge ``translate_phoenix_sql`` takes, as its
        keyword arguments: the ``ts_columns`` (date ± int, the
        DateAddExpression analogue), ``int_columns`` (truncating division,
        LongDivideExpression), ``str_columns`` (NULL-as-empty ``||``,
        StringConcatExpression) and ``float_columns`` (float-precision
        comparison literals, NotQueryIT) of the tables ``text`` names.
        Scoped to those tables: a column that is numeric in the queried
        table but a timestamp elsewhere must not trigger a rewrite.

        The PMetaData analogue: each table's map is built once per version
        and checked against it on every lookup, as the client checks a
        cached PTable's last-DDL timestamp.  A managed table or index reads
        its ``meta.json``, versioned by that file's signature, so the map
        needs no Spark job and sees DDL run by another ``Engine`` on the
        warehouse; an attached table reads its ``read_table`` frame,
        versioned by the parquet file's signature.  A temp view ``_bind``
        registered stands for its table or view; a view adds the columns
        its chain declares to its root table's."""
        sets: dict[str, set[str]] = {kind: set() for kind in _COLUMN_KINDS}
        for word in _words(text):
            for kind, cols in self._table_columns(word).items():
                sets[kind] |= cols
        return sets

    def _table_columns(self, name: str) -> dict[str, set[str]]:
        """Column kinds of the relation a word names ({} if none)."""
        key = _BOUND.get(self.spark, {}).get(name)
        chain, q = self._view_chain(key[1] if key else name)
        sets = _column_kinds(
            T.StructType(
                [
                    T.StructField(c, parse_type(t))
                    for _parent, _where, vcols in chain
                    for c, t in (vcols or {}).items()
                    if t is not None
                ]
            )
        )
        mt = ManagedTable(self.spark, self.warehouse, q)
        if mt.exists():
            path = mt.meta_path
        elif self.catalog is not None and q in self.catalog.tables:
            path = self.catalog.tables[q].path
        else:
            return sets
        sig = file_signature(path)
        hit = self._columns.get(path)
        if hit is None or hit[0] != sig:
            schema = mt.schema if mt.exists() else self.catalog.df(q).schema
            hit = self._columns[path] = (sig, _column_kinds(schema))
        return {kind: sets[kind] | cols for kind, cols in hit[1].items()}

    # -- sequences (SequenceRegionObserver analogue) -----------------------

    def _sequences(self) -> dict:
        if os.path.exists(self._seq_path):
            with open(self._seq_path) as f:
                return json.load(f)
        return {}

    def _save_sequences(self, seqs: dict) -> None:
        with open(self._seq_path, "w") as f:
            json.dump(seqs, f)

    # -- SYSTEM.TASK store (PTable.TaskType; Task.java) --------------------

    def _tasks(self) -> list[dict]:
        path = os.path.join(self.warehouse, "_tasks.json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        return []

    def _add_task(self, **task) -> None:
        tasks = self._tasks()
        tasks.append(task)
        with open(os.path.join(self.warehouse, "_tasks.json"), "w") as f:
            json.dump(tasks, f, indent=1)

    _LONG_MIN, _LONG_MAX = -(2**63), 2**63 - 1

    def create_sequence(
        self,
        name: str,
        start: int | None = None,
        increment: int = 1,
        min_value: int = _LONG_MIN,
        max_value: int = _LONG_MAX,
        cycle: bool = False,
        cache: int = 100,
        if_not_exists: bool = False,
    ) -> None:
        """CREATE SEQUENCE with the reference's full option set (grammar
        :619-628).  START defaults to MINVALUE for increasing / MAXVALUE for
        decreasing sequences (CreateSequenceCompiler.java:192-196).  CACHE
        models the reference's client-side reservation (SequenceRegion
        Observer + Sequence.java): single NEXT VALUE calls dispense from a
        cached block reserved in CACHE-size chunks, while a bulk
        ``NEXT n VALUES`` DISCARDS the remaining cached values and allocates
        directly at the server value (SequenceBulkAllocationIT
        .testNextValuesForSequenceWithPreviouslyAllocatedValues: after two
        NEXT VALUEs under CACHE 100, the bulk block starts at 101)."""
        seqs = self._sequences()
        if name in seqs:
            if if_not_exists:
                return
            raise ValueError(f"sequence {name} exists")
        if start is None:
            start = min_value if increment > 0 else max_value
        seqs[name] = {
            "next": start,
            "increment": increment,
            "min": min_value,
            "max": max_value,
            "cycle": cycle,
            "cache": cache,
        }
        self._save_sequences(seqs)

    def next_value_block(self, name: str, n: int, per_row: int = 1) -> int:
        """Reserve ``n × per_row`` sequence values; returns the first.

        MINVALUE/MAXVALUE/CYCLE follow Sequence.java:163-190 +
        SequenceUtil.checkIfLimitReached: a single-slot request past the
        limit wraps to MINVALUE (increasing) / MAXVALUE (decreasing) when
        CYCLE is set, else errors; bulk allocations (NEXT n VALUES FOR, and
        per-row reservations for a SELECT) never cycle mid-block — the
        reference disallows cycling on bulk allocation
        (SequenceUtil.isCycleAllowed).

        CACHE semantics (SequenceBulkAllocationIT): a single NEXT VALUE
        dispenses from the cached block, reserving a CACHE-size chunk
        (clamped at the limit) when empty; a bulk allocation (per_row > 1)
        DISCARDS the remaining cached values and starts at the server
        value.  Multi-row single-value reservations (NEXT VALUE FOR in a
        SELECT) drain the cache contiguously into a fresh reservation —
        contiguity holds because the server value always sits one increment
        past the cached block's end."""
        seqs = self._sequences()
        if name not in seqs:
            raise ValueError(f"no sequence {name}")
        s = seqs[name]
        inc = s["increment"]
        lo = s.get("min", self._LONG_MIN)
        hi = s.get("max", self._LONG_MAX)
        increasing = inc > 0

        def past_limit(v: int) -> bool:
            return v > hi if increasing else v < lo

        total = n * per_row
        bulk = per_row > 1
        if bulk and s.get("cycle"):
            # NUM_SEQ_TO_ALLOCATE_NOT_SUPPORTED: bulk allocation is rejected
            # outright on CYCLE sequences (SequenceBulkAllocationIT
            # .testNextValuesForSequenceWithCycles — even far from the limit)
            raise ValueError(
                f"sequence {name}: NEXT n VALUES FOR is not supported on "
                "sequences with the cycle flag"
            )
        cached = s.get("cached_next")
        if bulk and cached is not None:
            # a bulk allocation is served FROM the cached block when it
            # fits (testNextValuesForSequenceAllocationLessThanCacheSize);
            # otherwise the remaining cached values are DISCARDED and the
            # block starts at the server value
            remaining = (s["next"] - cached) // inc
            if total > remaining:
                cached = None
        cur = cached if cached is not None else s["next"]
        if past_limit(cur):
            if s.get("cycle"):
                cur = lo if increasing else hi
                cached = None
            else:
                raise ValueError(
                    f"sequence {name} has reached its "
                    f"{'MAXVALUE' if increasing else 'MINVALUE'} limit"
                )
        last = cur + (total - 1) * inc
        if total > 1 and past_limit(last):
            raise ValueError(
                f"sequence {name}: allocation of {total} values exceeds its "
                f"{'MAXVALUE' if increasing else 'MINVALUE'} limit"
            )
        if total == 1 and not bulk:
            if cached is not None:
                # dispense from the cached block
                nxt = cur + inc
                s["cached_next"] = None if nxt == s["next"] else nxt
            else:
                # reserve a CACHE-size chunk, clamped at the limit
                cache = max(1, int(s.get("cache", 1) or 1))
                limit = hi if increasing else lo
                k = min(cache, (limit - cur) // inc + 1)
                s["next"] = cur + k * inc
                s["cached_next"] = cur + inc if k > 1 else None
        elif bulk and cached is not None:
            # bulk served from the cache: advance within the block
            nxt = cur + total * inc
            s["cached_next"] = None if nxt == s["next"] else nxt
        else:
            # multi-value from the server: absorb any cached remainder +
            # reserve so the handed-out run stays contiguous
            s["next"] = cur + total * inc
            s["cached_next"] = None
        s["last"] = last
        self._save_sequences(seqs)
        return cur

    def current_value(self, name: str) -> int:
        """CURRENT VALUE FOR: the value last dispensed — after a bulk
        allocation, the LAST value of the reserved block
        (SequenceBulkAllocationIT.assertExpectedCurrentValueForSequence)."""
        seqs = self._sequences()
        s = seqs[name]
        if s.get("last") is None:
            # CANNOT_CALL_CURRENT_BEFORE_NEXT_VALUE (SQLExceptionCode)
            raise ValueError(
                f"sequence {name}: CURRENT VALUE FOR called before "
                "NEXT VALUE FOR"
            )
        return s["last"]

    # -- statement router --------------------------------------------------

    def sql(self, text: str, params: list | tuple | None = None) -> DataFrame | int:
        """Run SQL.  SELECTs return a DataFrame; mutations/DDL return a row
        count (or 0) like JDBC executeUpdate.

        ``params`` binds JDBC-style ``?`` placeholders positionally (the
        PreparedStatement surface — PhoenixPreparedStatement.java; grammar
        bind_expression :1129).  Values are rendered as SQL literals
        (strings escaped, datetimes as TIMESTAMP literals), so binds work
        uniformly across SELECT/UPSERT/DELETE and the engine rewrites."""
        if params is not None:
            text = self._bind_params(text, list(params))
        stmt = classify(text)
        handler = getattr(self, f"_exec_{stmt.kind}", None)
        if handler is None:
            raise ValueError(f"unsupported statement kind {stmt.kind}")
        return handler(stmt.text)

    @staticmethod
    def _render_literal(v) -> str:
        import datetime as _dt

        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return "TRUE" if v else "FALSE"
        if isinstance(v, (int, float)):
            return repr(v)
        if isinstance(v, _dt.datetime):
            return f"TIMESTAMP '{v.strftime('%Y-%m-%d %H:%M:%S.%f')}'"
        if isinstance(v, _dt.date):
            return f"DATE '{v.isoformat()}'"
        if isinstance(v, (bytes, bytearray)):
            return f"X'{bytes(v).hex()}'"
        if isinstance(v, str):
            return "'" + v.replace("'", "''") + "'"
        raise ValueError(f"unbindable parameter type {type(v).__name__}")

    def _bind_params(self, text: str, params: list) -> str:
        """Substitute ``?`` placeholders OUTSIDE string literals/comments,
        left to right, erroring on arity mismatch like the reference."""
        masked, stash = mask(text)
        n_slots = masked.count("?")
        if n_slots != len(params):
            raise ValueError(
                f"bind parameter arity mismatch: statement has {n_slots} "
                f"placeholder(s), got {len(params)} value(s)"
            )
        it = iter(params)
        masked = re.sub(r"\?", lambda _m: self._render_literal(next(it)), masked)
        return unmask(masked, stash)

    def script(self, text: str) -> list[DataFrame | int]:
        """Run a multi-statement script (the SQL-file surface — reference
        fixture scripts live in phoenix-core/src/it/resources/sql_files/).
        Statements split on ';' outside literals and comments; a piece
        holding only comments is no statement."""
        return [
            self.sql(stmt)
            for stmt in split_top(text, ";")
            if code_start(stmt) < len(stmt)
        ]

    def explain(self, text: str) -> str:
        # consume_sequences=False: explaining a query must not advance
        # sequences (the reference compiles without running the sequence RPC)
        sql, point = self._plan_select(text, consume_sequences=False)
        return self._explain_plan(self.spark.sql(sql), point)

    def _explain_plan(self, df: DataFrame, point: tuple[str, pa.Table] | None) -> str:
        """Spark's formatted plan of ``df``, headed, for a point SELECT
        (``point``), as Phoenix heads a point lookup's plan."""
        plan = df._jdf.queryExecution().explainString(  # noqa: SLF001
            self.spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(  # noqa: SLF001
                "formatted"
            )
        )
        return plan if point is None else f"POINT LOOKUP ON 1 KEY OVER {point[0]}\n{plan}"

    # -- per-statement executors -------------------------------------------

    # NEXT VALUE FOR seq and the bulk form NEXT <n> VALUES FOR seq (grammar
    # :1203-1208; bulk allocation per SequenceUtil.isBulkAllocation)
    _NEXT_VAL_RE = re.compile(
        r"NEXT\s+(?:(\d+)\s+VALUES|VALUE)\s+FOR\s+([\w.]+)", re.I
    )
    # malformed <n>: NULL / quoted / negative / zero — the reference rejects
    # these at parse/compile time (SequenceBulkAllocationIT
    # .testSequenceParseNextValues*: NUM_SEQ_TO_ALLOCATE_MUST_BE_CONSTANT)
    _NEXT_VAL_BAD_RE = re.compile(
        r"NEXT\s+(?!VALUES?\b)(0\s|\x00\d+\x00\s*|NULL\s+|-\s*\d+\s+|'[^']*'\s+)"
        r"VALUES\s+FOR\b",
        re.I,
    )
    _CURR_VAL_RE = re.compile(r"CURRENT\s+VALUE\s+FOR\s+([\w.]+)", re.I)
    _ORDER_BY_RE = re.compile(r"ORDER\s+BY\b", re.I)

    def _check_next_values_n(self, text: str) -> None:
        m = self._NEXT_VAL_BAD_RE.search(text)
        if m:
            raise ValueError(
                "NEXT <n> VALUES FOR: <n> must be a positive integer "
                "constant (NUM_SEQ_TO_ALLOCATE_MUST_BE_CONSTANT): "
                f"{m.group(0)!r}"
            )

    def _exec_select(self, text: str, consume_sequences: bool = True) -> DataFrame:
        return self.spark.sql(self._plan_select(text, consume_sequences)[0])

    def _plan_select(
        self, text: str, consume_sequences: bool = True
    ) -> tuple[str, tuple[str, pa.Table] | None]:
        """The Spark SQL of a SELECT, every table reference bound, and the
        relation and keys it reads as a point lookup (None for any other
        read): a point SELECT binds its one reference to the rows of the
        pinned key before index choice, which it skips; every other SELECT
        chooses an index, then binds."""
        if self._cdcs:
            self._register_cdc_views(text)
        # literals, quoted identifiers and comments are masked, so the
        # engine-level regex rewrites (sequences, TABLESAMPLE, dynamic
        # columns) can never fire inside one — e.g. a VARCHAR value
        # containing the words 'NEXT VALUE FOR s'
        masked, stash = mask(text)
        restore = functools.partial(unmask, stash=stash)
        masked = self._SYSTEM_REF_RE.sub(self._system_view, masked)
        # table-name qualifiers over an aliased table must resolve to the
        # alias BEFORE index substitution renames the FROM item
        # (QueryIT.testColumnAliasMapping under an index variant)
        masked = _rewrite_aliased_table_qualifiers(masked)
        masked = self._rewrite_distinct_orderby(masked)
        masked = self._rewrite_rvc_offset(masked, restore)
        masked = self._rewrite_dynamic_cols(masked)
        masked = self._rewrite_tablesample(masked)
        masked = self._rewrite_sequence_refs(
            masked, restore, consume=consume_sequences
        )
        # point detection and index substitution run on the UNMASKED text:
        # pins and partial-index predicates are literal-containing
        # conjuncts; the table references index choice leaves then bind
        text = restore(masked)
        point = self._point_lookup(text)
        bound = self._bind_refs(text if point else self._maybe_use_index(text), point)
        return translate_phoenix_sql(bound, **self._typed_columns(bound)), point

    # SELECT DISTINCT ... GROUP BY g1,g2 ORDER BY g1,g2 where a sort key is
    # a GROUPING column absent from the projection: Phoenix orders the
    # aggregated rows BEFORE DISTINCT collapses them (the IT script
    # query_ordered_groupby.sql ships this shape); Spark rejects the
    # unresolvable key.  Dropping the non-projected keys preserves the
    # deterministic order of the projected prefix — only the intra-group
    # tie order (unobservable after DISTINCT collapses equal rows) differs.
    _DISTINCT_OB_RE = re.compile(
        r"^(?P<head>\s*SELECT\s+DISTINCT\b.*\bGROUP\s+BY\s+(?P<gb>[^;]*?))"
        r"\bORDER\s+BY\s+(?P<ob>.+?)"
        r"(?P<tail>\s+(?:LIMIT|OFFSET|FETCH)\b.*)?;?\s*$",
        re.IGNORECASE | re.DOTALL,
    )

    def _rewrite_distinct_orderby(self, text: str) -> str:
        m = self._DISTINCT_OB_RE.match(text)
        if not m:
            return text
        proj = re.search(
            r"SELECT\s+DISTINCT\s+(.*?)\s+FROM\b", m.group("head"), re.I | re.S
        )
        if not proj:
            return text
        proj_tokens = {t.lower() for t in re.findall(r"[A-Za-z_]\w*", proj.group(1))}
        gb_cols = {
            c.strip().split(".")[-1].lower()
            for c in m.group("gb").split(",")
            if re.match(r"^\s*[\w.]+\s*$", c)
        }
        kept = []
        for key in m.group("ob").split(","):
            km = re.match(r"^\s*([\w.]+)(\s+(?:ASC|DESC))?\s*$", key, re.I)
            bare = km.group(1).split(".")[-1].lower() if km else None
            if km and bare not in proj_tokens and bare in gb_cols:
                continue  # grouping-only sort key, unobservable post-DISTINCT
            kept.append(key.strip())
        if len(kept) == len([k for k in m.group("ob").split(",") if k.strip()]):
            return text
        tail = m.group("tail") or ""
        if kept:
            return f"{m.group('head')}ORDER BY {', '.join(kept)}{tail}"
        return f"{m.group('head').rstrip()}{tail}"

    _SYSTEM_REF_RE = re.compile(
        r"\bSYSTEM\s*\.\s*\"?(CATALOG|SEQUENCE|FUNCTION|TASK|STATS)\"?", re.I
    )

    def _system_view(self, m: re.Match) -> str:
        """``SYSTEM.X`` materializes the metadata table from engine state
        (PhoenixDatabaseMetaData surface; see system_tables.py) as a temp
        view, whose name replaces the reference."""
        from phoenix_spark import system_tables as ST

        kind = m.group(1).lower()
        view = f"system_{kind}"
        ST.BUILDERS[kind](self).createOrReplaceTempView(view)
        return view

    # OFFSET (pk1, pk2, ...) = (v1, v2, ...) — the RVC OFFSET pagination
    # form (RVCOffsetCompiler.java; QueryMoreIT
    # .testRVCOnDescWithLeadingPKEquality): resume the scan strictly AFTER
    # the given primary-key point in the table's PK STORAGE order, i.e.
    # each DESC component flips its comparison.  Lowered to the
    # lexicographic residual predicate, which Catalyst pushes to the scan —
    # O(1) pagination, never a row-skip.
    _RVC_OFFSET_RE = re.compile(
        r"\bOFFSET\s*\(([^)]*)\)\s*=\s*\(([^)]*)\)", re.IGNORECASE
    )

    def _rewrite_rvc_offset(self, masked: str, unmask) -> str:
        m = self._RVC_OFFSET_RE.search(masked)
        if not m:
            return masked
        cols = [c.strip().strip('"').lower() for c in m.group(1).split(",")]
        vals = [unmask(v.strip()) for v in m.group(2).split(",")]
        fm = re.search(r"\bFROM\s+([\w.]+)", masked, re.I)
        if not fm:
            raise ValueError("RVC OFFSET requires a single FROM table")
        mt = self.managed(self._qualify(fm.group(1)))
        if cols != [c.lower() for c in mt.pk] or len(vals) != len(cols):
            # RVCOffsetCompiler requires the offset to cover the entire PK
            raise ValueError(
                f"RVC OFFSET must name the full primary key {mt.pk} in order"
            )
        orders = {
            k.lower(): v.upper()
            for k, v in (mt.meta.get("sort_orders") or {}).items()
        }
        disjuncts = []
        for i, col in enumerate(cols):
            conj = [f"{cols[j]} = {vals[j]}" for j in range(i)]
            op = "<" if orders.get(col) == "DESC" else ">"
            conj.append(f"{col} {op} {vals[i]}")
            disjuncts.append("(" + " AND ".join(conj) + ")")
        pred = "(" + " OR ".join(disjuncts) + ")"
        head = masked[: m.start()]
        tail = masked[m.end():]
        if re.search(r"\bWHERE\b", head, re.I):
            # splice into the existing WHERE (the offset point intersects
            # the query's own predicates, as in the reference)
            head = re.sub(
                r"\bWHERE\b", f"WHERE {pred} AND ", head, count=1, flags=re.I
            )
            return head + tail
        # no WHERE yet: the predicate must precede GROUP/ORDER/LIMIT
        cm = re.search(
            r"\b(GROUP\s+BY|ORDER\s+BY|LIMIT|HAVING)\b", head, re.I
        )
        if cm:
            return (
                head[: cm.start()] + f" WHERE {pred} " + head[cm.start():]
                + tail
            )
        return head + f" WHERE {pred} " + tail

    # FROM t (col TYPE, ...) — dynamic columns (grammar :832-855).  The
    # col-TYPE pair shape distinguishes it from a derived table `FROM (SELECT
    # ...)`, whose first token is SELECT.
    _DYN_COLS_RE = re.compile(
        r"\b(FROM|JOIN)\s+([\w.]+)"
        r"(?:\s+(?:AS\s+)?(?!ON\b|WHERE\b|JOIN\b)([A-Za-z_]\w*))?\s*\(\s*"
        r"([A-Za-z_]\w*\s+[A-Za-z_]\w*(?:\s*\(\s*\d+(?:\s*,\s*\d+)?\s*\))?"
        r"(?:\s*,\s*[A-Za-z_]\w*\s+[A-Za-z_]\w*(?:\s*\(\s*\d+(?:\s*,\s*\d+)?\s*\))?)*)"
        r"\s*\)",
        re.IGNORECASE,
    )

    def _rewrite_dynamic_cols(self, text: str) -> str:
        """``SELECT * FROM t (mycol VARCHAR)`` (also ``t alias(mycol
        VARCHAR)``, HashJoinMoreIT.java:255) → temp view with the dynamic
        columns resolved from the table's JSON overflow column, substituted
        for the table reference (the Engine.table(dyn_cols=...) surface,
        reachable from plain SQL)."""

        def _sub(m: re.Match) -> str:
            table = m.group(2)
            dyn: dict[str, str] = {}
            for item in m.group(4).split(","):
                parts = item.strip().split(None, 1)
                if len(parts) != 2:
                    return m.group(0)
                dyn[parts[0].lower()] = parts[1]
            q = self._resolve(table) or table.lower()  # or an attached table
            view = self._bind(q, dyn)
            if m.group(3):  # alias written BEFORE the dyn-column list
                return f"{m.group(1)} {view} {m.group(3)}"
            # keep qualified references (t.col) resolving: alias the view as
            # the table name unless the query supplies its own alias next
            nxt = re.match(r"\s*(?:AS\s+)?([A-Za-z_]\w*)", m.string[m.end() :])
            has_alias = nxt and nxt.group(1).upper() not in _ALIAS_STOP
            alias = "" if has_alias else f" {q.rpartition('.')[2]}"
            return f"{m.group(1)} {view}{alias}"

        return self._DYN_COLS_RE.sub(_sub, text)

    _TABLESAMPLE_RE = re.compile(
        r"\b(FROM|JOIN)\s+([\w.]+)(\s+(?:AS\s+)?(\w+))?\s+TABLESAMPLE\s*\(\s*"
        r"(\d+(?:\.\d+)?)\s*\)",
        re.IGNORECASE,
    )

    def _rewrite_tablesample(self, text: str) -> str:
        """``t TABLESAMPLE(n)`` (grammar :1039) -> deterministic hash-mod
        predicate on the table's PK, the TableSamplerPredicate analogue
        (FNV1a over the rowkey).  NOT Spark's ``TABLESAMPLE (n PERCENT)``,
        which is seed/partition-dependent — Phoenix's contract is that the
        same rows are sampled on every execution.  Murmur3 ``hash()`` over
        the PK columns is value-deterministic and layout-independent; the
        mod-2^31 pre-reduction keeps the Knuth multiply inside int64
        (same overflow-safe shape as the scan_tablesample query entry)."""

        def _sub(m: re.Match) -> str:
            table = m.group(2)
            alias = m.group(4) or table.rpartition(".")[2]
            # decimal rates (grammar accepts e.g. TABLESAMPLE(0.5)): scale
            # both sides so the threshold compare stays in exact integers
            rate = float(m.group(5))
            scale = 10 ** max(
                len(m.group(5).partition(".")[2]), 0
            )
            pk: tuple[str, ...] | None = None
            try:
                pk = tuple(self.managed(table).pk)
            except ValueError:
                if self.catalog is not None and table.lower() in self.catalog.tables:
                    pk = tuple(self.catalog.tables[table.lower()].pk)
            if not pk:
                raise ValueError(
                    f"TABLESAMPLE on {table}: primary key unknown — register "
                    "the table or sample explicitly with a hash predicate"
                )
            pred = (
                f"pmod(pmod(pmod(abs(hash({', '.join(pk)})), 2147483648)"
                f" * 2654435761, 4294967296), {100 * scale}) < {int(rate * scale)}"
            )
            return (
                f"{m.group(1)} (SELECT * FROM {table} WHERE {pred}) {alias}"
            )

        return self._TABLESAMPLE_RE.sub(_sub, text)

    def _rewrite_sequence_refs(
        self, text: str, unmask=None, consume: bool = True
    ) -> str:
        """Per-row sequence values in a SELECT (SequenceValueExpression;
        grammar :1203-1208) — the UPSERT SELECT id-assignment idiom.

        SURVEY §7 M6 design, scale-correct shape: reserve ONE block sized by
        a probe run, then assign values PER PARTITION — each scan partition
        p gets the contiguous sub-range [base_p, base_p + count_p), and a
        row's value is ``base_p + partition-local row index``.  The local
        index comes from the low 33 bits of ``monotonically_increasing_id()``
        (partition id in the high bits, a dense 0-based counter in the low
        bits), so the assignment is a narrow per-row expression with NO
        global window — the previous shape funnelled every row through one
        partition, which single-threads a 100 TB SELECT.

        Phoenix evaluates NEXT VALUE FOR per row DURING the scan
        (server-side SequenceRegionObserver), so values follow evaluation
        order, not output order — under ORDER BY/LIMIT the returned values
        can be non-contiguous, exactly as in the reference.  The reservation
        covers the pre-pagination row count (probe with trailing
        LIMIT/OFFSET/FETCH stripped), so assigned values never escape the
        reserved block.  The probe run is the analogue of the reference's
        sequence RPC round-trip; determinism of the probe→final partition
        layout follows from Spark's deterministic file splitting (same
        input, same conf ⇒ same partitions).

        ``text`` is literal-masked by the caller; ``unmask`` restores
        literals for the probe execution.  ``consume=False`` (the EXPLAIN
        path) substitutes the would-be next value WITHOUT reserving —
        explaining a query must not consume sequence values.
        """
        unmask = unmask or (lambda s: s)
        self._check_next_values_n(text)
        refs = sorted(
            {
                (m.group(2).lower(), int(m.group(1) or 1))
                for m in self._NEXT_VAL_RE.finditer(text)
            }
        )
        next_names = {nm for nm, _k in refs}
        curr = {
            m.group(1).lower() for m in self._CURR_VAL_RE.finditer(text)
        }
        for name in curr - next_names:
            # \b guard: a sequence named as a prefix of another referenced
            # sequence must not corrupt the longer reference.  A CURRENT
            # VALUE sharing the statement with a NEXT expression for the
            # SAME sequence is handled below: it returns this statement's
            # allocated value (SequenceBulkAllocationIT
            # .testCurrentValueForAndNextValuesForExpressionsForSameSequence)
            text = re.sub(
                rf"CURRENT\s+VALUE\s+FOR\s+{re.escape(name)}\b",
                str(self.current_value(name)),
                text,
                flags=re.I,
            )
        if not refs:
            return text
        seqs = self._sequences()
        for name, _k in refs:
            if name not in seqs:
                raise ValueError(f"no sequence {name}")

        def ref_pattern(name: str, k: int) -> str:
            # repeated identical refs substitute identically (SequenceManager
            # dedups same-sequence expressions to one value per row)
            form = rf"(?:{k}\s+VALUES|VALUE)" if k == 1 else rf"{k}\s+VALUES"
            return rf"NEXT\s+{form}\s+FOR\s+{re.escape(name)}\b"

        if not consume:
            for name, k in refs:
                text = re.sub(
                    ref_pattern(name, k), str(seqs[name]["next"]), text, flags=re.I
                )
            for name in curr & next_names:
                text = re.sub(
                    rf"CURRENT\s+VALUE\s+FOR\s+{re.escape(name)}\b",
                    str(seqs[name]["next"]), text, flags=re.I,
                )
            return text
        # CURRENT VALUE refs left in the text at this point share the
        # statement with a NEXT expression (same sequence) — neutralize them
        # in the probe the same way
        probe = self._CURR_VAL_RE.sub("0", self._NEXT_VAL_RE.sub("0", text))
        # The probe must measure the partition layout at the PLAN POSITION
        # where the final query evaluates the assignment expression: the
        # select-list projection, which sits BELOW any top-level ORDER BY
        # (Catalyst evaluates nondeterministic select items before the sort).
        # So strip the trailing top-level ORDER BY (and pagination) — the
        # probe's own count aggregate then runs directly on that projection's
        # partitions.
        order_bys = list(iter_top(probe, self._ORDER_BY_RE))
        if order_bys:
            probe = probe[: order_bys[-1].start()]
        probe = re.sub(
            r"(?:\s+(?:LIMIT\s+\d+|OFFSET\s+\d+(?:\s+ROWS?)?"
            r"|FETCH\s+(?:FIRST|NEXT)\s+\d+\s+ROWS?\s+ONLY))+\s*;?\s*$",
            "",
            probe,
            flags=re.IGNORECASE,
        )
        probe_sql = self._bind_refs(unmask(probe))
        pdf = self.spark.sql(
            translate_phoenix_sql(probe_sql, **self._typed_columns(probe_sql))
        )
        # per-partition row counts: one tiny aggregate (num-partitions rows)
        counts = sorted(
            (int(r["__pid"]), int(r["cnt"]))
            for r in pdf.groupBy(
                F.shiftright(F.monotonically_increasing_id(), 33).alias("__pid")
            )
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        )
        n = sum(c for _, c in counts)
        if n == 0:
            return self._CURR_VAL_RE.sub("0", self._NEXT_VAL_RE.sub("0", text))
        # SequenceManager collapses every NEXT expression for the SAME
        # sequence in one statement to a single allocation sized by the
        # HIGHEST <n>; all of them (and a same-statement CURRENT VALUE)
        # return that allocation's value (SequenceBulkAllocationIT
        # .testMultipleNextValuesForExpressionsForSameSequence /
        # .testMultipleDifferentExpressionsForSameSequence)
        by_name: dict[str, set[int]] = {}
        for nm, k in refs:
            by_name.setdefault(nm, set()).add(k)
        for name, ks in sorted(by_name.items()):
            per_row = max(ks)
            inc = seqs[name]["increment"]
            # bulk form (NEXT k VALUES FOR): each row reserves k slots and
            # the expression yields the first — rows stride by k*increment
            stride = inc * per_row
            base = self.next_value_block(name, n, per_row=per_row)
            pids, bases = [], []
            run = base
            for pid, cnt in counts:
                pids.append(pid)
                bases.append(run)
                run += cnt * stride
            # transform-over-singleton binds monotonically_increasing_id()
            # ONCE (two independent instances could in principle be split
            # into different Projects by the optimizer; one bound variable
            # cannot)
            offsets = (
                f"map_from_arrays(array({', '.join(f'{p}L' for p in pids)}), "
                f"array({', '.join(f'{b}L' for b in bases)}))"
            )
            # Runtime guard (r04 advice): the assignment is only valid if
            # the execution run reproduces the probed partition layout.  A
            # partition id the probe never saw, or a partition yielding more
            # rows than probed, would silently hand out values outside the
            # reserved block (colliding with later allocations) — raise
            # instead.  element_at on a missing pid is NULL, and NULL < x is
            # NULL, so one bounds check covers both divergence modes.
            limits = (
                f"map_from_arrays(array({', '.join(f'{p}L' for p in pids)}), "
                f"array({', '.join(f'{c}L' for _, c in counts)}))"
            )
            assign = (
                "element_at(transform(array(monotonically_increasing_id()), "
                f"__m -> if((__m & 8589934591) < "
                f"element_at({limits}, shiftright(__m, 33)), "
                f"element_at({offsets}, shiftright(__m, 33))"
                f" + (__m & 8589934591) * {stride}L, "
                "cast(raise_error('NEXT VALUE FOR: partition layout diverged "
                "from the probed plan; sequence block cannot be applied "
                "safely') as bigint))), 1)"
            )
            for k in sorted(ks):
                text = re.sub(ref_pattern(name, k), assign, text, flags=re.I)
            if name in curr:
                text = re.sub(
                    rf"CURRENT\s+VALUE\s+FOR\s+{re.escape(name)}\b",
                    assign, text, flags=re.I,
                )
        return text

    def _maybe_use_index(self, text: str) -> str:
        """QueryOptimizer.java:225-353 analogue: substitute a covered index
        for the base table when the index covers every referenced column and
        its leading key appears in the WHERE clause; otherwise try the
        uncovered probe → broadcast-join-back-to-base plan (UNCOVERED
        indexes automatically, others only when the INDEX(...) hint names
        them).  /*+ NO_INDEX */ vetoes both (HintNode.java:50-128).  Tenant
        connections never substitute (the tenant filter lives on the base
        read path), and neither do SCN connections (the index table's commit
        timeline is independent of the base's — resolving the base AS OF its
        own timeline is always correct)."""
        if not self._indexes or self.tenant_id is not None or self.scn is not None:
            return text
        no_index, forced = IX.parse_index_hint(text)
        if no_index:
            return text

        def base_cols_of(table: str):
            try:
                b, chain = self._index_base(table)
            except ValueError:
                return None
            if chain is None:
                return set(b.schema.fieldNames())
            # a VIEW with indexes: columns of its resolved frame
            frame = IX.apply_view_chain(b.read(), chain)
            return set(frame.schema.fieldNames())  # analysis only, no job

        def base_pk_of(table: str):
            return self._index_base(table)[0].pk

        active = {
            k: d for k, d in self._indexes.items() if d.state == "ACTIVE" and d.base
        }
        forced = {self._qualify(t): ixs for t, ixs in forced.items()}
        if forced:
            # INDEX(t ix...) restricts each hinted table to the named indexes
            active = {
                k: d
                for k, d in active.items()
                if d.table not in forced or k in forced[d.table]
            }
        if not active:
            return text
        choice = IX.choose_index(text, active, self._resolve, base_cols_of, base_pk_of)
        if choice is not None:
            table_ref, d, eff_text = choice
            return IX.substitute_table(eff_text, table_ref, self._bind(d.name))
        jb = IX.choose_join_back(
            text, active, self._resolve, base_cols_of, base_pk_of, forced=forced
        )
        if jb is None:
            return text
        table_ref, d, probe_pred = jb
        q = self._resolve(table_ref)
        # the FROM target may be a VIEW carrying the index (view indexes,
        # MetaDataClient.createIndex accepts views): resolve the physical
        # base through the view chain instead of managed(), which only
        # accepts tables.  table() below replays the chain (predicates +
        # view columns), so joining its frame on the base PK is sound —
        # unless a diverged view EXCLUDED a PK column, in which case the
        # join-back can't anchor and we fall back to the plain view scan.
        base, _chain = self._index_base(q)
        target = self.table(q)
        if not set(base.pk) <= set(target.schema.fieldNames()):
            return text
        # narrow index scan answers the probe, the (small) matching-PK set
        # broadcasts into a semi-join against the base — the base is
        # filtered by the join, never re-scanned per key
        probe = self.table(d.name).filter(
            F.expr(self._translate_pred(probe_pred, d.table))
        )
        keys = F.broadcast(probe.select(*base.pk).distinct())
        pruned = target.join(keys, base.pk, "semi")
        view = f"_p_viaix_{hashlib.md5(f'{q}|{d.name}|{probe_pred}'.encode()).hexdigest()[:8]}"
        pruned.createOrReplaceTempView(view)
        return IX.substitute_table(text, table_ref, view)

    def _exec_explain(self, text: str) -> DataFrame:
        """EXPLAIN [WITH REGIONS] over SELECT, UPSERT, or DELETE (grammar
        :479-488: explain_node accepts all three).  WITH REGIONS appends the
        scan's input splits — the analogue of Phoenix printing the HBase
        region boundaries the scan touches.  Mutation EXPLAINs show the
        source/victim scan's plan under a mutation header and have no side
        effects (nothing written, no sequence values consumed)."""
        m = re.match(r"^\s*EXPLAIN\s+(WITH\s+REGIONS\s+)?", text, flags=re.I)
        body = text[m.end() :]
        kind = classify(body).kind
        if kind == "upsert":
            up = D.parse_upsert(body)
            if up.select is not None:
                plan = (
                    f"UPSERT SELECT INTO {up.table}\n"
                    + self.explain(up.select)
                )
            else:
                plan = (
                    f"UPSERT VALUES INTO {up.table}: "
                    f"{len(up.values)} literal row(s), client-evaluated"
                )
            return local_frame(
                self.spark, [(line,) for line in plan.splitlines()], "plan: string"
            )
        if kind == "delete":
            dl = D.parse_delete(body)
            victims = f"SELECT * FROM {dl.table}" + (
                f" WHERE {dl.where}" if dl.where else ""
            )
            plan = (
                f"DELETE FROM {dl.table} (tombstone append over victim scan)\n"
                + self.explain(victims)
            )
            return local_frame(
                self.spark, [(line,) for line in plan.splitlines()], "plan: string"
            )
        sql, point = self._plan_select(body, consume_sequences=False)
        df = self.spark.sql(sql)
        lines = [(line,) for line in self._explain_plan(df, point).splitlines()]
        if m.group(1):
            # a point read opens its root table's segment files itself
            files = (
                ManagedTable(self.spark, self.warehouse, self._view_chain(point[0])[1])
                ._part_files(self.scn)
                if point
                else df.inputFiles()
            )
            lines.append(("-- input splits (region analogue):",))
            lines.extend((f"--   {f}",) for f in sorted(files))
        return local_frame(self.spark, lines, "plan: string")

    def _exec_create_table(self, text: str) -> int:
        if self.tenant_id is not None:
            # CANNOT_CREATE_TENANT_SPECIFIC_TABLE (TenantSpecificTablesDDLIT
            # .testCreationOfParentTableFailsOnTenantSpecificConnection):
            # tenant connections may only create VIEWS over multi-tenant
            # tables
            raise ValueError(
                "cannot create table on a tenant-specific connection: "
                "create a VIEW over a MULTI_TENANT table instead"
            )
        ct = D.parse_create_table(text)
        if str((ct.props or {}).get("MULTI_TENANT", "")).lower() == "true" and len(
            ct.pk
        ) < 2:
            # INSUFFICIENT_MULTI_TENANT_COLUMNS: the tenant id occupies the
            # leading PK slot, so a multi-tenant table needs at least one
            # more PK column (TenantSpecificTablesDDLIT
            # .testBaseTableWrongFormatWithTenantTypeId)
            raise ValueError(
                f"MULTI_TENANT table {ct.name} needs at least 2 PRIMARY KEY "
                "columns (the first is the tenant id)"
            )
        ManagedTable.create(
            self.spark,
            self.warehouse,
            self._qualify_new(ct.name),
            ct.schema,
            ct.pk,
            sort_orders=ct.sort_orders,
            props=ct.props,
            if_not_exists=ct.if_not_exists,
            defaults={
                c: translate_phoenix_sql(e)
                for c, e in (ct.defaults or {}).items()
            },
            not_null=ct.not_null,
        )
        return 0

    def _save_views(self) -> None:
        with open(self._views_path, "w") as f:
            json.dump({k: list(v) for k, v in self._views.items()}, f)

    def _exec_create_view(self, text: str) -> int:
        cv = D.parse_create_view(text)
        # the view lands in the USE'd schema, and keeps reading the parent
        # it names now whatever schema a later statement USEs
        cv.name, cv.parent = self._qualify_new(cv.name), self._qualify(cv.parent)
        if self.tenant_id is not None:
            # a tenant connection resolves only MULTI_TENANT bases
            # (TenantSpecificTablesDDLIT.testCreateTenantViewFromNonMultiTenant
            # -> TableNotFoundException)
            try:
                base_mt0 = self.managed(self._view_chain(cv.parent)[1])
            except ValueError:
                base_mt0 = None
            if base_mt0 is None or self._tenant_col(base_mt0) is None:
                raise ValueError(f"Table undefined. tableName={cv.parent}")
        if cv.columns:
            # a view column may not shadow a parent column
            # (ColumnAlreadyExistsException; TenantSpecificTablesDDLIT
            # .testTenantSpecificTableCannotOverrideParentCol)
            chain, node = self._view_chain(cv.parent)
            parent_cols = {c.lower() for _p, _w, vcols in chain for c in (vcols or {})}
            try:
                parent_cols |= {
                    f.lower() for f in self.managed(node).schema.fieldNames()
                }
            except ValueError:
                pass
            clash = [
                c for c in cv.columns if c.lower() in parent_cols
            ]
            if clash:
                raise ValueError(
                    f"column(s) {sorted(clash)} already exist on the parent "
                    f"of view {cv.name}"
                )
        if cv.name in self._views:
            # MetaDataClient.createTable: TABLE_ALREADY_EXIST unless IF NOT
            # EXISTS (a view is a catalog row of the same namespace)
            if cv.if_not_exists:
                return 0
            raise ValueError(f"view {cv.name} already exists")
        if cv.columns:
            # view-added columns physically live in the base's JSON overflow
            # column (the reference writes them as ordinary cells of the same
            # physical HBase table — any row can grow cells; here the base
            # grows the overflow column once, metadata-only)
            base_mt = self.managed(self._view_chain(cv.parent)[1])
            if "props" not in base_mt.schema.fieldNames():
                from pyspark.sql import types as T

                base_mt.add_column("props", T.StringType())
                # HIDDEN: the base's declared columns must not change when a
                # view adds columns — the overflow is dropped from default
                # projections (see table())
                meta = base_mt.meta
                meta["props"]["HIDDEN_OVERFLOW"] = True
                base_mt._save_meta(meta)
        self._views[cv.name] = (cv.parent, cv.where, cv.columns or {})
        if self.tenant_id is not None:
            # a view created through a tenant connection is tenant-owned
            self._view_owners[cv.name] = self.tenant_id
            with open(self._view_owners_path, "w") as f:
                json.dump(self._view_owners, f)
        self._save_views()
        return 0

    def _exec_create_sequence(self, text: str) -> int:
        cs = D.parse_create_sequence(text)
        self.create_sequence(
            cs.name,
            cs.start,
            cs.increment,
            min_value=cs.min_value,
            max_value=cs.max_value,
            cycle=cs.cycle,
            cache=cs.cache,
            if_not_exists=cs.if_not_exists,
        )
        return 0

    # -- schemas (grammar PhoenixSQL.g:516-518: CREATE SCHEMA / USE) --------

    def _exec_upgrade(self, text: str) -> int:
        """EXECUTE UPGRADE (grammar execute_upgrade_node) migrates the
        reference's SYSTEM.* tables between versions.  This engine's catalog
        is the warehouse metadata files, which carry no version skew — the
        statement is accepted as a no-op so version-management scripts run
        unchanged."""
        return 0

    def _exec_grant(self, text: str) -> int:
        """GRANT/REVOKE (grammar :630-638) delegate to HBase's AccessController
        in the reference — there is no per-user ACL surface in a single-user
        Spark engine, so this fails loudly instead of silently accepting a
        security statement it cannot enforce."""
        raise ValueError(
            "GRANT/REVOKE are out of scope: the reference delegates them to "
            "HBase cell-level ACLs; enforce access control at the "
            "storage/catalog layer of your Spark deployment instead"
        )

    def _exec_trace(self, text: str) -> DataFrame:
        """TRACE ON|OFF (grammar trace_node).  The reference starts an HTrace
        span and returns its trace id; here TRACE ON only sets a Spark job
        group on subsequent jobs and returns its id, and TRACE OFF clears
        it.  No span is recorded, and ``WITH SAMPLING`` is parsed and
        ignored until per-statement traces exist (ROADMAP item 2)."""
        m = re.match(r"^\s*TRACE\s+(ON|OFF)(?:\s+WITH\s+SAMPLING\s+[\d.]+)?\s*;?\s*$",
                     text, re.I)
        if not m:
            raise ValueError(f"unparseable TRACE: {text[:60]!r}")
        if m.group(1).upper() == "ON":
            self._trace_id = getattr(self, "_trace_id", 0) + 1
            self.spark.sparkContext.setJobGroup(
                f"phoenix-trace-{self._trace_id}", "TRACE ON session"
            )
            rows = [(self._trace_id,)]
        else:
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            self.spark.sparkContext.setLocalProperty(
                "spark.job.description", None
            )
            rows = [(getattr(self, "_trace_id", 0),)]
        return local_frame(self.spark, rows, "trace_id: bigint")

    def _exec_alter_session(self, text: str) -> int:
        """ALTER SESSION SET k=v, ... (grammar :768-771).  The reference's
        one documented property is CONSISTENCY; properties are recorded on
        the connection and surfaced to Spark as session-local confs under
        phoenix_spark.session.*."""
        m = re.match(r"^\s*ALTER\s+SESSION\s+SET\s+(.+?)\s*;?\s*$", text, re.I | re.S)
        if not m:
            raise ValueError(f"unparseable ALTER SESSION: {text[:80]!r}")
        for item in (x.strip() for x in split_top(m.group(1), ",") if x.strip()):
            k, _, v = item.partition("=")
            if not _:
                raise ValueError(f"bad session property {item!r}")
            self.spark.conf.set(
                f"phoenix_spark.session.{k.strip().lower()}",
                v.strip().strip("'"),
            )
        return 0

    def _exec_create_schema(self, text: str) -> int:
        m = re.match(
            r"^\s*CREATE\s+SCHEMA\s+(?:IF\s+NOT\s+EXISTS\s+)?([\w\"]+)\s*;?\s*$",
            text,
            re.I,
        )
        if not m:
            raise ValueError(f"unparseable CREATE SCHEMA: {text[:80]!r}")
        os.makedirs(os.path.join(self.warehouse, m.group(1).strip('"').lower()), exist_ok=True)
        return 0

    def _exec_use_schema(self, text: str) -> int:
        m = re.match(r"^\s*USE\s+([\w\"]+)\s*;?\s*$", text, re.I)
        if not m:
            raise ValueError(f"unparseable USE: {text[:80]!r}")
        name = m.group(1).strip('"').lower()
        self.default_schema = None if name == "default" else name
        return 0

    def _qualify_new(self, name: str) -> str:
        """The name a CREATE gives a new table or view: an unqualified one
        lands in the USE'd schema (the reference resolves names against the
        connection schema, MetaDataClient via connection.getSchema())."""
        name = name.lower()
        if "." not in name and self.default_schema:
            return f"{self.default_schema}.{name}"
        return name

    def _qualify(self, name: str) -> str:
        """Resolve an unqualified table or view name against the USE'd
        schema."""
        name = name.lower()
        if "." not in name and getattr(self, "default_schema", None):
            qualified = f"{self.default_schema}.{name}"
            if (
                qualified in self._views
                or ManagedTable(self.spark, self.warehouse, qualified).exists()
            ):
                return qualified
        return name

    # -- cursors (grammar PhoenixSQL.g:935-950: DECLARE/OPEN/FETCH/CLOSE) --

    def _exec_declare_cursor(self, text: str) -> int:
        m = re.match(r"^\s*DECLARE\s+(\w+)\s+CURSOR\s+FOR\s+(.+)$", text, re.I | re.S)
        if not m:
            raise ValueError(f"unparseable DECLARE CURSOR: {text[:80]!r}")
        self._cursors[m.group(1).lower()] = {"sql": m.group(2), "it": None}
        return 0

    def _exec_open_cursor(self, text: str) -> int:
        m = re.match(r"^\s*OPEN\s+(\w+)\s*;?\s*$", text, re.I)
        cur = self._cursors[m.group(1).lower()]
        # toLocalIterator streams partition-by-partition — client paging
        # without materializing the result on the driver.
        df = self._exec_select(cur["sql"])
        cur["it"] = wall_clock(df).toLocalIterator()
        cur["schema"] = df.schema  # FETCH reuses it (no per-fetch recompile)
        return 0

    def _exec_fetch_cursor(self, text: str) -> DataFrame:
        m = re.match(
            r"^\s*FETCH\s+NEXT(?:\s+(\d+)\s+ROWS?)?\s+FROM\s+(\w+)\s*;?\s*$", text, re.I
        )
        if not m:
            raise ValueError(f"unparseable FETCH: {text[:80]!r}")
        n = int(m.group(1) or 1)
        cur = self._cursors[m.group(2).lower()]
        assert cur["it"] is not None, "cursor not open"
        import itertools

        rows = list(itertools.islice(cur["it"], n))
        return local_frame(self.spark, rows, schema=cur["schema"])

    def _exec_close_cursor(self, text: str) -> int:
        m = re.match(r"^\s*CLOSE\s+(\w+)\s*;?\s*$", text, re.I)
        self._cursors.pop(m.group(1).lower(), None)
        return 0

    def _exec_create_function(self, text: str) -> int:
        """CREATE [TEMPORARY] FUNCTION name AS 'module:callable' RETURNS type.

        Phoenix binds scalar UDFs from JARs at runtime (grammar
        PhoenixSQL.g:737-745; UDFExpression.java:47-59 DynamicClassLoader);
        the Spark-native binding is a registered Python callable — strictly
        more capable (SURVEY §2.12).  Python UDFs are the slow path: prefer
        built-ins; this is the escape hatch.
        """
        if re.search(r"\bUSING\s+JAR\b", text, re.I):
            raise ValueError(
                "CREATE FUNCTION ... USING JAR loads a Java class through "
                "the reference's DynamicClassLoader (UDFExpression.java:47) "
                "— a JVM-bytecode surface a PySpark engine does not host. "
                "Bind a Python callable instead: CREATE FUNCTION name AS "
                "'module:callable' [RETURNS type], or Engine.create_function"
            )
        m = re.match(
            r"^\s*CREATE\s+(?:TEMPORARY\s+)?FUNCTION\s+(\w+)\s+AS\s+"
            r"'([\w.]+):(\w+)'(?:\s+RETURNS\s+([\w()0-9,]+))?\s*;?\s*$",
            text,
            re.I,
        )
        if not m:
            raise ValueError(
                "CREATE FUNCTION must be "
                "`CREATE FUNCTION name AS 'module:callable' [RETURNS type]`"
            )
        name, module, func, rtype = m.groups()
        import importlib

        fn = getattr(importlib.import_module(module), func)
        from phoenix_spark.types import parse_type

        self.spark.udf.register(
            name, fn, parse_type(rtype) if rtype else None
        )
        import inspect

        try:
            nargs = len(inspect.signature(fn).parameters)
        except (TypeError, ValueError):
            nargs = None
        self._functions[name.lower()] = (f"{module}:{func}", rtype, nargs)
        return 0

    def create_function(self, name: str, fn, return_type=None) -> None:
        """Programmatic CREATE FUNCTION (bind any Python callable)."""
        self.spark.udf.register(name, fn, return_type)

    def bulk_load_csv(self, table: str, csv_path: str, header: bool = True) -> int:
        """CSV bulk load into a managed table (CsvBulkLoadTool analogue —
        reference phoenix-core-server/.../mapreduce/CsvBulkLoadTool; here a
        distributed spark.read.csv → one change-log commit)."""
        mt = self.managed(table)
        df = self.spark.read.csv(csv_path, header=header, schema=mt.schema)
        return self._load_once(mt, df)

    def bulk_load_json(self, table: str, json_path: str) -> int:
        """JSON-lines bulk load (the reference bulkload module's JSON input
        format, same mapreduce/ package)."""
        mt = self.managed(table)
        df = self.spark.read.schema(mt.schema).json(json_path)
        return self._load_once(mt, df)

    def _load_once(self, mt: "ManagedTable", df: DataFrame) -> int:
        """Commit ``df`` and return its row count with a SINGLE scan of the
        input: ``observe()`` counts on the write action itself (a separate
        ``df.count()`` would read a 100 TB load twice)."""
        from pyspark.sql import Observation

        obs = Observation()
        mt.upsert_df(df.observe(obs, F.count(F.lit(1)).alias("n")))
        return obs.get["n"]

    _CREATE_CDC_RE = re.compile(
        r"^\s*CREATE\s+CDC\s+(?:IF\s+NOT\s+(EXISTS)\s+)?([\w.]+)\s+ON\s+"
        r"([\w.]+)(?:\s+INCLUDE\s*\(\s*([\w\s,]+?)\s*\))?\s*;?\s*$",
        re.IGNORECASE,
    )

    def _exec_create_cdc(self, text: str) -> int:
        """CREATE CDC name ON table [INCLUDE (pre|post|change)] (grammar
        :593-616; CDCGlobalIndexRegionScanner analogue).  The CDC object is
        queried like a table: one row per mutation with change_ts /
        change_op plus the pre/post images the scope selects — backed by
        ``ManagedTable.changes``, re-registered per SELECT so new committed
        segments are always visible."""
        m = self._CREATE_CDC_RE.match(text)
        if not m:
            raise ValueError(f"unparseable CREATE CDC: {text[:100]!r}")
        if_not_exists, name, table = m.group(1), m.group(2).lower(), m.group(3).lower()
        scopes = {
            s.strip().upper()
            for s in (m.group(4) or "CHANGE").split(",")
            if s.strip()
        }
        bad = scopes - {"PRE", "POST", "CHANGE"}
        if bad:
            raise ValueError(
                f"unsupported CDC change scope(s) {sorted(bad)}; this engine "
                "implements PRE/POST/CHANGE (IDX_MUTATIONS/DATA_ROW_STATE "
                "are HBase-internal image forms)"
            )
        # CHANGE is the superset row shape; PRE/POST narrow the image columns
        scope = "CHANGE" if "CHANGE" in scopes or len(scopes) == 2 else next(iter(scopes))
        if name in self._cdcs:
            if if_not_exists:
                return 0
            raise ValueError(f"CDC {name} already exists")
        self.managed(table)  # validate target now, loudly
        self._cdcs[name] = (table, scope)
        self._save_cdcs()
        return 0

    def _save_cdcs(self) -> None:
        with open(self._cdcs_path, "w") as f:
            json.dump(self._cdcs, f, indent=1)

    def _register_cdc_views(self, text: str) -> None:
        """Re-register any CDC objects referenced by ``text`` as temp views
        over the CURRENT change log (a cached DataFrame would pin the file
        listing of segments that existed at registration time).

        Besides the typed pre/post image structs, the view exposes the
        reference's ``"CDC JSON"`` column (CDCChangeBuilder + QueryConstants
        CDC_* keys; CDCQueryIT.testSelectCDC): a JSON document with
        ``event_type`` ("upsert"/"delete") plus, per the effective change
        scopes, ``pre_image`` / ``change_image`` / ``post_image`` objects —
        a ``/*+ CDC_INCLUDE(...) */`` hint in the statement overrides the
        CDC's declared scopes.  change_image is the mutation's written
        cells; this engine's change log is row-level, so it equals the
        post image.  ``phoenix_row_timestamp`` mirrors change_ts (the
        PHOENIX_ROW_TIMESTAMP() surface)."""
        hm = re.search(r"CDC_INCLUDE\s*\(([^)]*)\)", text, re.IGNORECASE)
        hint_scopes = (
            {s.strip().upper() for s in hm.group(1).split(",") if s.strip()}
            if hm
            else None
        )
        for name, (table, scope) in self._cdcs.items():
            if not re.search(rf"\b{re.escape(name)}\b", text, re.IGNORECASE):
                continue
            scopes = hint_scopes if hint_scopes is not None else (
                {s.strip().upper() for s in (scope or "CHANGE").split(",")}
            )
            df = self.managed(table).changes(scope="CHANGE")
            is_del = F.col("change_op") == "DELETE"
            parts = []
            if "PRE" in scopes:
                parts.append(
                    F.concat(
                        F.lit('"pre_image":'),
                        F.coalesce(
                            F.to_json(F.col("pre_image")), F.lit("{}")
                        ),
                    )
                )
            if "CHANGE" in scopes:
                # images of the written cells — absent on deletes
                parts.append(
                    F.when(
                        ~is_del,
                        F.concat(
                            F.lit('"change_image":'),
                            F.to_json(F.col("post_image")),
                        ),
                    )
                )
            if "POST" in scopes:
                parts.append(
                    F.when(
                        ~is_del,
                        F.concat(
                            F.lit('"post_image":'),
                            F.to_json(F.col("post_image")),
                        ),
                    )
                )
            parts.append(
                F.concat(
                    F.lit('"event_type":"'),
                    F.lower(F.col("change_op")),
                    F.lit('"'),
                )
            )
            cdc_json = F.concat(
                F.lit("{"), F.concat_ws(",", *parts), F.lit("}")
            )
            mt = self.managed(table)
            keep = [*mt.pk, "change_ts", "change_op"]
            if scopes & {"PRE", "CHANGE"}:
                keep.append("pre_image")
            if scopes & {"POST", "CHANGE"}:
                keep.append("post_image")
            (
                df.withColumn("CDC JSON", cdc_json)
                .withColumn("phoenix_row_timestamp", F.col("change_ts"))
                .select(*keep, "CDC JSON", "phoenix_row_timestamp")
                .createOrReplaceTempView(name)
            )

    def _exec_create_index(self, text: str) -> int:
        """CREATE INDEX → materialized covered projection (see indexes.py:
        CreateIndexCompiler.java / IndexMaintainer.java:143 analogue).

        The index is a ManagedTable with PK = (index key ++ base PK) whose
        segments are sorted by the index key (WRITE_SORT), read-path
        substituted by _exec_select when it covers a query.  Every commit
        on the base maintains it, from what ``_bind_index`` records."""
        d, if_not_exists = IX.parse_create_index(text)
        d.table = self._qualify(d.table)
        if d.name in self._indexes:
            if if_not_exists:
                return 0
            raise ValueError(f"index {d.name} already exists")
        base = self._bind_index(d)
        source = base.read()
        if d.chain is not None:
            # view index: rows come from the view's filtered frame; the PK
            # stays the BASE table's row key (view rows are base rows)
            source = IX.apply_view_chain(source, d.chain)
        # functional keys: the generated columns' types come from evaluating
        # the expressions against the base schema
        fields = {
            f.name.lower(): f for f in IX.with_index_exprs(source, d).schema.fields
        }
        cols = d.covered(base.pk)
        for c in cols:
            if c not in fields:
                raise ValueError(f"index column {c} not in table {d.table}")
        from pyspark.sql import types as T

        schema = T.StructType([fields[c] for c in cols])
        nn = base.meta.get("not_null")
        required = base.pk if nn is None else nn
        imt = ManagedTable.create(
            self.spark,
            self.warehouse,
            d.name,
            schema,
            pk=d.key + [c for c in base.pk if c not in d.key],
            sort_orders=d.sort_orders,
            props={"INDEX_OF": d.table, "WRITE_SORT": d.key},
            # index key columns keep the base's nullability: only the base
            # row key's NOT NULL columns are required
            not_null=[c for c in base.pk if c in required],
        )
        # initial build: one distributed projection scan of the base table,
        # written globally sorted by the index key
        imt.rewrite(IX.index_rows(base.read(), d, base.pk))
        self._indexes[d.name] = d
        IX.save_indexes(self.warehouse, self._indexes)
        return 0

    def _bind_index(self, d: "IX.IndexDef") -> ManagedTable:
        """Record in ``d`` what a commit on its base needs to maintain it —
        the serialized IndexMaintainer analogue: the physical base table,
        the view chain, and the Spark SQL of the functional keys and of the
        partial predicate.  Returns the physical base.  A table index
        resolves its declared table until ``base`` is first bound, then
        ``base``; a view index resolves its view again, by name."""
        name = d.base if d.base is not None and d.chain is None else d.table
        base, d.chain = self._index_base(name)
        d.base = base.name
        d.expr_sql = {n: self._translate_pred(x, d.table) for n, x in d.exprs.items()}
        d.where_sql = d.where and self._translate_pred(d.where, d.table)
        return base

    def _drop_index(self, name: str) -> None:
        self._indexes.pop(name, None)
        IX.save_indexes(self.warehouse, self._indexes)
        ManagedTable(self.spark, self.warehouse, name).drop()
        self._unbind(name)

    def _index_base(self, table: str):
        """Resolve an index's declared base to ``(ManagedTable, chain)``.

        ``chain`` is ``None`` for a plain table; for a VIEW (the reference's
        view indexes — MetaDataClient.createIndex accepts views, see IT
        add_view_index.sql) it is the view chain base-outward as
        ``[(where, vcols), ...]`` to replay over any base frame."""
        chain, root = self._view_chain(table)
        replay = [(where, vcols) for _parent, where, vcols in reversed(chain)]
        return self.managed(root), replay or None

    def _translate_pred(self, pred: str, table: str | None = None) -> str:
        """Phoenix-dialect predicate fragment -> Spark SQL condition (the
        same translation the SELECT path applies to full statements).
        ``table`` scopes the date-arith rewrite's ts-column set to the
        indexed table or view."""
        ts = self._table_columns(table)["ts_columns"] if table else set()
        return translate_phoenix_sql(pred, ts)

    def _exec_drop(self, text: str) -> int:
        fm = re.match(
            r"^\s*DROP\s+FUNCTION\s+(?:IF\s+(EXISTS)\s+)?(\w+)\s*;?\s*$",
            text,
            re.IGNORECASE,
        )
        if fm:
            # DROP FUNCTION (grammar :751-753): unbind a CREATE FUNCTION UDF
            name = fm.group(2).lower()
            try:
                self.spark.sql(f"DROP TEMPORARY FUNCTION IF EXISTS {name}")
            except Exception:
                if not fm.group(1):
                    raise
            self._functions.pop(name, None)
            return 0
        dm = re.match(
            r"^\s*DROP\s+CDC\s+(?:IF\s+(EXISTS)\s+)?([\w.]+)\s+ON\s+[\w.]+\s*;?\s*$",
            text,
            re.IGNORECASE,
        )
        if dm:
            name = dm.group(2).lower()
            if self._cdcs.pop(name, None) is None and not dm.group(1):
                raise ValueError(f"no CDC {name}")
            self._save_cdcs()
            return 0
        sm = re.match(
            r"^\s*DROP\s+SCHEMA\s+(?:IF\s+(EXISTS)\s+)?([\w\"]+)\s*;?\s*$",
            text,
            re.IGNORECASE,
        )
        if sm:
            # DROP SCHEMA (grammar drop_schema_node): refuses a non-empty
            # schema, like the reference (MetaDataClient.dropSchema)
            schema = sm.group(2).strip('"').lower()
            path = os.path.join(self.warehouse, schema)
            if not os.path.isdir(path):
                if sm.group(1):
                    return 0
                raise ValueError(f"no schema {schema}")
            for _root, _dirs, files in os.walk(path):
                if "meta.json" in files:
                    raise ValueError(f"schema {schema} is not empty")
            import shutil

            shutil.rmtree(path, ignore_errors=True)
            if self.default_schema == schema:
                self.default_schema = None
            return 0
        di = IX.parse_drop_index(text)
        if di is not None:
            name, _table, if_exists = di
            if name not in self._indexes:
                if if_exists:
                    return 0
                raise ValueError(f"no index {name}")
            self._drop_index(name)
            return 0
        dr = D.parse_drop(text)
        if dr.kind == "sequence":
            seqs = self._sequences()
            if dr.name in seqs:
                del seqs[dr.name]
                self._save_sequences(seqs)
            elif not dr.if_exists:
                raise ValueError(f"no sequence {dr.name}")
            return 0
        if dr.kind == "view":
            vname = self._qualify(dr.name)
            if self._view_owners.pop(vname, None) is not None:
                with open(self._view_owners_path, "w") as f:
                    json.dump(self._view_owners, f)
            if self._views.pop(vname, None) is None and not dr.if_exists:
                raise ValueError(f"no view {dr.name}")
            self._save_views()
            self._unbind(vname)
            # its indexes go with it: base commits would keep maintaining them
            for d in list(self._indexes.values()):
                if d.chain is not None and d.table == vname:
                    self._drop_index(d.name)
            return 0
        mt = ManagedTable(self.spark, self.warehouse, self._qualify(dr.name))
        if not mt.exists():
            if dr.if_exists:
                return 0
            raise ValueError(f"no table {dr.name}")
        if self.tenant_id is not None and not dr.truncate:
            # a tenant connection cannot drop the (global) physical table
            # (TenantSpecificTablesDDLIT
            # .testDeletionOfParentTableFailsOnTenantSpecificConnection ->
            # TableNotFoundException)
            raise ValueError(f"Table undefined. tableName={dr.name}")
        # child views block a plain DROP TABLE; CASCADE drops them too
        # (MetaDataClient.dropTable: CANNOT_MUTATE_TABLE unless cascade)
        # whole chains: a view-of-a-view goes too
        child_views = [v for v in self._views if self._view_chain(v)[1] == mt.name]
        if child_views and not dr.truncate:
            if not dr.cascade:
                raise ValueError(
                    f"cannot drop table {dr.name}: dependent view(s) "
                    f"{sorted(child_views)} exist — use DROP TABLE ... CASCADE"
                )
            for v in child_views:
                self._views.pop(v, None)
                self._unbind(v)
            self._save_views()
        if dr.truncate:
            mt.truncate()  # its indexes too
        else:
            mt.drop()
            self._unbind(mt.name)
            # its indexes go with it, those on the dropped child views too
            # (r04 advice: they otherwise stay ACTIVE with orphaned segments)
            for d in mt._indexes():
                self._drop_index(d.name)
        return 0

    _ALTER_INDEX_RE = re.compile(
        r"^\s*ALTER\s+INDEX\s+(?:IF\s+(EXISTS)\s+)?([\w.]+)\s+ON\s+([\w.]+)"
        r"\s+(USABLE|UNUSABLE|REBUILD|DISABLE|ACTIVE)(\s+ALL)?(\s+ASYNC)?"
        r"\s*;?\s*$",
        re.IGNORECASE,
    )

    def _exec_alter(self, text: str) -> int:
        """ALTER TABLE t ADD|DROP COLUMN ... — metadata-only, like the
        reference (grammar PhoenixSQL.g:774-778; MetaDataClient.addColumn):
        existing segments are untouched; reads project the evolved schema
        (missing columns read as NULL; a re-added column gets a fresh
        physical name, ManagedTable.add_column).  ALTER INDEX i ON t <state>
        (grammar :725, PIndexState) drives the index lifecycle: DISABLE
        stops maintenance and substitution, UNUSABLE stops substitution
        only, REBUILD re-materializes from the current base state and
        reactivates."""
        am = self._ALTER_INDEX_RE.match(text)
        if am:
            if_exists, iname, _table, verb = (
                am.group(1),
                am.group(2).lower(),
                am.group(3),
                am.group(4).upper(),
            )
            d = self._indexes.get(iname)
            if d is None:
                if if_exists:
                    return 0
                raise ValueError(f"no such index {iname}")
            if verb in ("USABLE", "ACTIVE"):
                d.state = "ACTIVE"
            elif verb == "UNUSABLE":
                d.state = "UNUSABLE"
            elif verb == "DISABLE":
                d.state = "DISABLED"
            else:  # REBUILD: full re-materialization from the base table
                import datetime as _dt

                start = _dt.datetime.now().isoformat()
                base = self._bind_index(d)
                imt = self.managed(d.name)
                imt.rewrite(IX.index_rows(base.read(), d, base.pk))
                d.state = "ACTIVE"
                if am.group(6):  # ASYNC: recorded in SYSTEM.TASK (the
                    # reference queues TaskType.INDEX_REBUILD=2 in SYSTEM.TASK
                    # (PTable.java:206-208) for TaskRegionObserver to pick up;
                    # this engine rebuilds inline, so the task row lands
                    # COMPLETED — the observable catalog state once the
                    # reference's background rebuild finishes)
                    self._add_task(
                        type=2,
                        table=d.table,
                        ts=start,
                        end_ts=_dt.datetime.now().isoformat(),
                        status="COMPLETED",
                        data=f"INDEX_REBUILD {d.name}",
                    )
            IX.save_indexes(self.warehouse, self._indexes)
            return 0
        m = re.match(
            r"^\s*ALTER\s+(TABLE|VIEW)\s+([\w.]+)\s+(ADD|DROP|SET)\s+"
            r"(?:COLUMN\s+)?(.+?)\s*;?\s*$",
            text,
            re.I | re.S,
        )
        if not m:
            raise ValueError(f"unparseable ALTER TABLE: {text[:120]!r}")
        what = m.group(1).upper()
        name, op, rest = m.group(2).lower(), m.group(3).upper(), m.group(4)
        if what == "VIEW" or self._qualify(name) in self._views:
            # ALTER VIEW v ADD/DROP column (grammar :774-778 accepts VIEW):
            # view-defined columns live in the view metadata; parent columns
            # cannot be dropped through a view (MetaDataClient rejects too)
            vname = self._qualify(name)
            if vname not in self._views:
                raise ValueError(f"no view {name}")
            parent, where, vcols = self._views[vname]
            vcols = dict(vcols)
            if op == "ADD":
                col, typ = rest.split(None, 1)
                vcols[col.strip('"').lower()] = re.sub(
                    r"\bNOT\s+NULL\b|\bNULL\b", "", typ, flags=re.I
                ).strip()
            elif op == "DROP":
                col = rest.strip().strip('"').lower()
                if col in vcols and vcols[col] is not None:
                    del vcols[col]
                else:
                    # dropping a PARENT column diverges the view from its
                    # base (MetaDataClient.dropColumn on a view records an
                    # EXCLUDED_COLUMN link — IT create_diverged_view.sql);
                    # a None-typed entry marks the exclusion here.  PK
                    # columns can never be dropped (MetaDataClient rejects:
                    # the row key is the physical row identity).
                    if col not in {c.lower() for c in self.table(parent).columns}:
                        raise ValueError(
                            f"cannot drop {col} through view {name}: "
                            "no such column"
                        )
                    if col in self.managed(self._view_chain(parent)[1]).pk:
                        raise ValueError(
                            f"cannot drop PK column {col} through view "
                            f"{name}: the row key is the row identity"
                        )
                    vcols[col] = None
            else:
                raise ValueError("ALTER VIEW supports ADD/DROP COLUMN only")
            self._views[vname] = (parent, where, vcols)
            self._save_views()
            return 0
        mt = self.managed(name)
        if op == "SET":
            # ALTER TABLE t SET k=v, ... (fam_properties): metadata-only
            meta = mt.meta
            for item in (x.strip() for x in split_top(rest, ",") if x.strip()):
                k, _, v = item.partition("=")
                if not _:
                    raise ValueError(f"bad table property {item!r}")
                meta.setdefault("props", {})[k.strip().upper()] = v.strip().strip("'")
            mt._save_meta(meta)
            return 0
        if op == "ADD":
            from phoenix_spark.types import parse_type

            col, typ = rest.split(None, 1)
            typ = re.sub(r"\bNOT\s+NULL\b|\bNULL\b", "", typ, flags=re.I)
            mt.add_column(col.lower(), parse_type(typ.strip()))
        else:
            mt.drop_column(rest.strip().strip('"').lower())
        return 0

    def _exec_show(self, text: str) -> DataFrame:
        """SHOW TABLES / SHOW SEQUENCES / SHOW CREATE TABLE over the
        combined catalog (grammar :546-554)."""
        up = text.upper()
        m = re.match(
            r"^\s*SHOW\s+CREATE\s+TABLE\s+([\w.\"]+)\s*;?\s*$", text, re.I
        )
        if m:
            name = m.group(1).strip('"').lower()
            ddl = self._render_create_table(name)
            return local_frame(
                self.spark, [(name, ddl)], "table: string, create_statement: string"
            )
        if "SEQUENCE" in up:
            rows = [(k,) for k in sorted(self._sequences())]
            return local_frame(self.spark, rows or [("",)], "sequence_name: string")
        names = {*self._managed_names(), *self._views}
        if self.catalog is not None:
            names |= set(self.catalog.tables)
        return local_frame(
            self.spark, [(n,) for n in sorted(names)], "table_name: string"
        )

    def _render_create_table(self, name: str) -> str:
        """Reconstruct a canonical CREATE TABLE from catalog metadata
        (MetaDataClient reads SYSTEM.CATALOG; Phoenix prints types in their
        canonical form, so DATE round-trips as TIMESTAMP here — both carry
        full time in this engine, see types.py)."""
        from pyspark.sql import types as T

        def phx_type(dt: T.DataType) -> str:
            if isinstance(dt, T.ArrayType):
                return f"{phx_type(dt.elementType)} ARRAY"
            if isinstance(dt, T.DecimalType):
                return f"DECIMAL({dt.precision},{dt.scale})"
            return {
                T.LongType(): "BIGINT",
                T.IntegerType(): "INTEGER",
                T.ShortType(): "SMALLINT",
                T.ByteType(): "TINYINT",
                T.StringType(): "VARCHAR",
                T.DoubleType(): "DOUBLE",
                T.FloatType(): "FLOAT",
                T.BooleanType(): "BOOLEAN",
                T.BinaryType(): "VARBINARY",
                T.TimestampNTZType(): "TIMESTAMP",
                T.TimestampType(): "TIMESTAMP",
                T.DateType(): "DATE",
            }.get(dt, dt.simpleString().upper())

        try:
            mt = self.managed(name)
            schema, pk = mt.schema, list(mt.pk)
            sort_orders = mt.meta.get("sort_orders", {})
            props = mt.meta.get("props", {})
        except ValueError:
            if self.catalog is None or name not in self.catalog.tables:
                raise ValueError(f"no such table {name}")
            meta = self.catalog.tables[name]
            schema = self.catalog.df(name).schema
            pk, sort_orders, props = list(meta.pk), {}, {}
        hidden = props.get("HIDDEN_OVERFLOW") and "props"
        cols = ",\n  ".join(
            f"{f.name.upper()} {phx_type(f.dataType)}"
            + (" NOT NULL" if f.name in pk else "")
            for f in schema.fields
            if f.name != hidden
        )
        pk_parts = ", ".join(
            c.upper() + (f" {sort_orders[c]}" if c in sort_orders else "")
            for c in pk
        )
        tail = "".join(
            f" {k}={v}" for k, v in props.items() if k not in ("INDEX_OF", "WRITE_SORT")
        )
        return (
            f"CREATE TABLE {name.upper()} (\n  {cols},\n"
            f"  CONSTRAINT PK PRIMARY KEY ({pk_parts})\n){tail}".rstrip()
        )

    def update_statistics(self, name: str) -> dict:
        """UPDATE STATISTICS t — collect row-count/size stats into the table
        meta (guidepost analogue: reference DefaultStatisticsCollector;
        Spark's AQE replaces guidepost-driven parallelism, so these stats are
        informational)."""
        mt = self.managed(name)
        stats = {
            "row_count": mt.read().count(),
            "n_segments": len(mt._segments()),
        }
        meta = mt.meta
        meta["stats"] = stats
        mt._save_meta(meta)
        return stats

    def _exec_update_stats(self, text: str) -> int:
        m = re.match(r"^\s*UPDATE\s+STATISTICS\s+([\w.]+)", text, re.I)
        if not m:
            raise ValueError(f"unparseable UPDATE STATISTICS: {text[:80]!r}")
        self.update_statistics(m.group(1).lower())
        return 0

    def _view_constants(self, name: str) -> tuple[str, dict[str, object]] | None:
        """Resolve a view chain to (base table, {col: constant}) when every
        predicate in the chain is an AND of simple ``col = literal``
        equalities — the reference's UPDATABLE view rule (PTable.ViewType:68:
        equality-only views are UPDATABLE and their WHERE columns become
        viewConstants auto-filled on write, UpsertCompiler viewConstants).
        Returns None if ``name`` is not a view; raises if the view is
        read-only (any non-equality predicate)."""
        name = self._qualify(name)
        if name not in self._views:
            return None
        owner = self._view_owners.get(name)
        if owner is not None and owner != self.tenant_id:
            raise ValueError(f"Table undefined. tableName={name}")
        consts: dict[str, object] = {}
        chain, root = self._view_chain(name)
        for where in (w for _parent, w, _cols in chain if w):
            # conjunct analysis runs on literal-MASKED text (r04 advice): a
            # constant like 'rock AND roll' or 'a<b' must not read as a
            # compound/inequality predicate
            masked_where, stash = mask(where)
            for conj in split_top(masked_where, "AND"):
                m = re.match(r"^\s*([A-Za-z_]\w*)\s*=\s*(.+?)\s*$", conj, re.S)
                if not m or re.search(r"[<>]|\bOR\b|\bAND\b", conj, re.I):
                    raise ValueError(
                        f"view {name} is read-only: predicate "
                        f"{unmask(conj, stash).strip()!r} is not a simple "
                        "equality (ViewType.UPDATABLE requires col = literal)"
                    )
                consts.setdefault(
                    m.group(1).lower(), self._eval_literal(unmask(m.group(2), stash))
                )
        return root, consts

    def _exec_upsert(self, text: str) -> DataFrame | int:
        self._check_mutable()
        up = D.parse_upsert(text)
        if isinstance(up.on_duplicate, dict):
            # ON DUPLICATE KEY UPDATE expressions are Phoenix-dialect SQL
            # (JsonFunctionsIT: jsoncol = JSON_MODIFY(jsoncol, ...)); they
            # evaluate via F.expr over the existing row, so run them through
            # the same translator the SELECT path uses.
            # BSON_UPDATE_EXPRESSION (the reference's atomic document
            # update, PhoenixIndexBuilder ON DUPLICATE KEY) binds straight
            # to the bson.py compiler — its output is a Column, which
            # upsert_df accepts alongside SQL strings.
            def _tr(s: str) -> str:
                # dup-update expressions evaluate over the EXISTING row, so
                # the catalog-typed dialect rewrites (|| NULL-skip, int
                # division, date±int) apply exactly as in a SELECT over the
                # same table (OnDuplicateKeyIT: counter1 = counter1 || ...,
                # counter1 = counter1 + 1)
                return translate_phoenix_sql(s, **self._table_columns(up.table))

            def _dup_expr(e: str):
                m = re.fullmatch(
                    r"\s*BSON_UPDATE_EXPRESSION\s*\(\s*([\w.]+)\s*,\s*"
                    r"'((?:[^']|'')*)'\s*\)\s*",
                    e,
                    flags=re.IGNORECASE | re.DOTALL,
                )
                if m:
                    from phoenix_spark.bson import bson_update_expression

                    return bson_update_expression(
                        m.group(1), m.group(2).replace("''", "'")
                    )
                # Conditional atomic update (Bson4IT.java:652-662):
                #   CASE WHEN <cond> THEN <expr> ELSE <expr> END
                # where a branch may itself be a BSON_UPDATE_EXPRESSION —
                # a Column, which plain SQL text cannot embed, so the CASE
                # composes as F.when over the recursively-bound branches.
                # Keyword scan runs on literal-MASKED text (a condition
                # document could contain ' THEN ' inside a string).
                masked, stash = mask(e)
                cm = re.fullmatch(
                    r"\s*CASE\s+WHEN\s+(.+?)\s+THEN\s+(.+?)"
                    r"\s+ELSE\s+(.+?)\s+END\s*",
                    masked,
                    flags=re.IGNORECASE | re.DOTALL,
                )
                # single non-nested CASE only: a nested CASE would defeat
                # the lazy THEN/ELSE split — fall back to the translator,
                # which fails loudly on an embedded BSON_UPDATE_EXPRESSION
                # instead of silently mis-splitting
                if cm and len(re.findall(r"\bCASE\b", masked, re.I)) == 1:
                    cond, then, els = (unmask(g, stash) for g in cm.groups())
                    then_c, els_c = _dup_expr(then), _dup_expr(els)
                    if isinstance(then_c, F.Column) or isinstance(
                        els_c, F.Column
                    ):
                        def _col(x):
                            return (
                                x
                                if isinstance(x, F.Column)
                                else F.expr(x)
                            )

                        return F.when(
                            F.expr(_tr(cond)), _col(then_c)
                        ).otherwise(_col(els_c))
                return _tr(e)

            up = D.Upsert(
                up.table,
                up.columns,
                up.values,
                up.select,
                # type(...) keeps UpdateOnly's no-insert semantics intact
                type(up.on_duplicate)(
                    {c: _dup_expr(e) for c, e in up.on_duplicate.items()}
                ),
                up.returning,
            )
        vc = self._view_constants(up.table)
        if vc is not None:
            # UPSERT through an updatable view: write to the base table with
            # the view's equality constants auto-filled (viewConstants)
            base, consts = vc
            mt0 = self.managed(base)
            hidden0 = (
                "props"
                if mt0.meta.get("props", {}).get("HIDDEN_OVERFLOW")
                else None
            )
            # view-added columns, view chain order (needed for the implicit
            # column list below and for overflow routing later)
            vcols: dict[str, str | None] = {}
            for _parent, _where, cols in self._view_chain(up.table)[0]:
                for cname, ctype in (cols or {}).items():
                    vcols.setdefault(cname, ctype)
            # Implicit column list = the VIEW's columns: parent columns in
            # declared order (minus the hidden overflow and, on a tenant
            # connection, the tenant column) INCLUDING view constants (a
            # full-row VALUES restates them, verified equal below —
            # TenantSpecificTablesDMLIT.testBasicUpsertSelect2 writes
            # ('me','abc',1,'Cheap Sunglasses') through the type-id view),
            # then the view-added columns.
            tcol0 = self._tenant_col(mt0) if self.tenant_id else None
            listed = up.columns or (
                [
                    c
                    for c in mt0.schema.fieldNames()
                    if c != hidden0 and c != tcol0
                ]
                + [c for c, t in vcols.items() if t is not None]
            )
            values = up.values
            if not up.columns and values:
                # implicit column list + short VALUES: prefix mapping onto
                # the LEADING view columns (UpsertCompiler's "Resize down to
                # allow a subset of columns to be specifiable") — if that
                # lands a value on a view-constant column, the equality
                # verification below applies, as in the reference
                n0 = len(values[0])
                if n0 < len(listed):
                    listed = listed[:n0]
            const_pos = [
                i
                for i, c in enumerate(listed)
                if c.split(None, 1)[0] in consts
            ]
            if const_pos:
                # restating a view-constant column is allowed when the value
                # EQUALS the constant (UpsertCompiler: viewConstants are
                # verified, not forbidden — IT create_diverged_view.sql
                # upserts B=200 through a WHERE B=200 view; UPSERT SELECT *
                # through the view restates them too, TenantSpecificTables
                # DMLIT.testBasicUpsertSelect2); a different value is the
                # reference's CANNOT_UPDATE_VIEW_COLUMN
                drop = set(const_pos)
                if values is None:
                    # SELECT source: verify each restated constant at
                    # runtime, then drop the column before the base write
                    import uuid as _uuid

                    names = [c.split(None, 1)[0] for c in listed]
                    src0 = self._exec_select(up.select).toDF(*names)
                    for i in const_pos:
                        cname = names[i]
                        src0 = src0.filter(
                            F.when(
                                F.col(cname).eqNullSafe(F.lit(consts[cname])),
                                F.lit(True),
                            ).otherwise(
                                F.raise_error(
                                    F.lit(
                                        f"cannot set view-constant column "
                                        f"{cname} to a different value "
                                        f"through view {up.table}"
                                    )
                                )
                            )
                        )
                    src0 = src0.drop(*[names[i] for i in const_pos])
                    vtmp = f"__upsert_src_{_uuid.uuid4().hex[:8]}"
                    src0.createOrReplaceTempView(vtmp)
                    up = D.Upsert(
                        up.table, up.columns, None,
                        f"SELECT * FROM {vtmp}", up.on_duplicate,
                        up.returning,
                    )
                else:
                    for row in values:
                        for i in const_pos:
                            cname = listed[i].split(None, 1)[0]
                            if self._eval_literal(row[i]) != consts[cname]:
                                raise ValueError(
                                    f"cannot set view-constant column {cname} "
                                    f"to a different value through view "
                                    f"{up.table}"
                                )
                    values = [
                        [v for i, v in enumerate(row) if i not in drop]
                        for row in values
                    ]
                listed = [c for i, c in enumerate(listed) if i not in drop]
            # view-defined columns write like dynamic columns: tag listed
            # view columns with their declared type so the overflow-column
            # routing below picks them up; None-typed entries are parent
            # columns EXCLUDED by ALTER VIEW DROP COLUMN (diverged views) —
            # the view no longer exposes them
            gone = [
                c for c in listed if vcols.get(c.split(None, 1)[0], "") is None
            ]
            if gone:
                raise ValueError(
                    f"column(s) {gone} were dropped from view {up.table}"
                )
            listed = [
                f"{c} {vcols[c]}" if vcols.get(c) else c for c in listed
            ]
            cols = [*listed, *consts]
            # constants re-render through _render_literal (r04 advice): an
            # apostrophe inside a view constant must escape, not break the
            # generated UPSERT SQL
            if values is not None:
                lits = [self._render_literal(v) for v in consts.values()]
                up = D.Upsert(
                    base, cols,
                    [[*row, *lits] for row in values],
                    None, up.on_duplicate, up.returning,
                )
            else:
                sel_lits = ", ".join(
                    self._render_literal(v) for v in consts.values()
                )
                up = D.Upsert(
                    base, cols, None,
                    f"SELECT __v.*, {sel_lits} FROM ({up.select}) __v",
                    up.on_duplicate, up.returning,
                )
        mt = self.managed(up.table)
        tcol = self._tenant_col(mt) if self.tenant_id else None
        base_fields = set(mt.schema.fieldNames())
        # dynamic columns at UPSERT time (grammar PhoenixSQL.g:927-931
        # upsert_column_refs: `UPSERT INTO t (col, dyncol TYPE) VALUES ...`):
        # a `name TYPE` item naming a column outside the schema routes its
        # value into the JSON overflow column, typed — the write-side twin of
        # `SELECT * FROM t (dyncol TYPE)` (Engine.table dyn_cols).
        dyn: dict[str, str] = {}
        if up.columns:
            parsed: list[str] = []
            for c in up.columns:
                p = c.split(None, 1)
                if len(p) == 2 and p[0] not in base_fields:
                    dyn[p[0]] = p[1]
                    parsed.append(p[0])
                else:
                    parsed.append(c)
            up = D.Upsert(
                up.table, parsed, up.values, up.select,
                up.on_duplicate, up.returning,
            )
        hidden = (
            "props"
            if mt.meta.get("props", {}).get("HIDDEN_OVERFLOW")
            else None
        )
        cols = up.columns or [
            c for c in mt.schema.fieldNames() if c != tcol and c != hidden
        ]
        if not up.columns and up.values is not None and up.values:
            # A short VALUES list with no column list maps positionally onto
            # the LEADING schema columns (UpsertCompiler: trailing columns
            # are simply not set — OnDuplicateKeyIT writes VALUES('a',0)
            # into 3-column tables throughout); the partial-column
            # read-modify-write below then preserves/NULL-fills the rest.
            n = len(up.values[0])
            if any(len(r) != n for r in up.values):
                raise ValueError("UPSERT VALUES rows differ in arity")
            if n < len(cols):
                cols = cols[:n]
        if dyn:
            json_col = "props"  # the dynamic-column overflow convention
            if json_col not in base_fields:
                raise ValueError(
                    f"dynamic columns on {up.table} need a '{json_col}' JSON "
                    "overflow column (the schema-on-read surface)"
                )
        if tcol and tcol not in cols:
            # tenant connections write their tenant id implicitly
            if up.values is not None:
                up = D.Upsert(
                    up.table,
                    [tcol, *cols],
                    [[f"'{self.tenant_id}'", *row] for row in up.values],
                    None,
                    up.on_duplicate,
                    up.returning,
                )
            else:
                up = D.Upsert(
                    up.table,
                    [tcol, *cols],
                    None,
                    f"SELECT '{self.tenant_id}', * FROM ({up.select})",
                    up.on_duplicate,
                    up.returning,
                )
            cols = up.columns
        missing_pk = [c for c in mt.pk if c not in cols]
        if missing_pk:
            # NOT NULL membership from DDL metadata; tables created before
            # the field existed treat every PK column as required
            nn = mt.meta.get("not_null")
            required = [
                c for c in missing_pk if c in (mt.pk if nn is None else nn)
            ]
            if required:
                raise ValueError(
                    f"UPSERT into {up.table} must supply the full primary "
                    f"key; missing NOT NULL column(s) {required}"
                )
            # NULLABLE pk columns may be omitted — the row key pads with
            # NULL (UpsertCompiler; IsNullIT writes VALUES('a') into a
            # (k1, k2, k3) key).  They are part of the KEY, not cells to
            # read-modify-write, so they append as NULL literals here.
            cols = [*cols, *missing_pk]
            if up.values is not None:
                up = D.Upsert(
                    up.table, up.columns,
                    [[*r, *(["NULL"] * len(missing_pk))] for r in up.values],
                    None, up.on_duplicate, up.returning,
                )
            else:
                nulls = ", ".join(["NULL"] * len(missing_pk))
                up = D.Upsert(
                    up.table, up.columns, None,
                    f"SELECT __p.*, {nulls} FROM ({up.select}) __p",
                    up.on_duplicate, up.returning,
                )
        from pyspark.sql import Observation
        from pyspark.sql import types as T

        from phoenix_spark.types import parse_type

        base_by_name = {f.name: f for f in mt.schema.fields}
        if up.select is not None:
            src = self._exec_select(up.select).toDF(*cols)
            for c in dyn:
                # dynamic columns from a SELECT source: enforce the declared
                # type before the JSON-overflow merge, as the VALUES path does
                src = src.withColumn(c, F.col(c).cast(parse_type(dyn[c])))
        else:
            rows = []
            for lits in up.values:
                assert len(lits) == len(cols), "VALUES arity mismatch"
                rows.append(
                    tuple(self._eval_literal(v) for v in lits)
                )
            # duplicate PKs within one VALUES batch: LAST write wins, as in
            # the reference (MutationState buffers by PK) — resolved here so
            # equal-mutation-ts rows never reach the read-side tie-break
            pk_pos = [cols.index(c) for c in mt.pk]

            def _hk(v):
                # array-typed PK components (Array3IT.testPKWithDescArray)
                return tuple(v) if isinstance(v, list) else v

            rows = list(
                {tuple(_hk(r[i]) for i in pk_pos): r for r in rows}.values()
            )
            src_schema = T.StructType(
                [
                    base_by_name[c]
                    if c in base_by_name
                    else T.StructField(c, parse_type(dyn[c]))
                    for c in cols
                ]
            )
            # literal coercion to the column type: a `3.9` literal into a
            # DECIMAL column binds as an exact Decimal('3.9') (the reference
            # parses decimal literals as BigDecimal, never through a double),
            # and an integer literal into a DOUBLE/FLOAT column widens
            from decimal import Decimal

            def _coerce(v, dt):
                if v is None:
                    return None
                if isinstance(dt, T.ArrayType) and isinstance(
                    v, (list, tuple)
                ):
                    # ARRAY[...] literals: coerce each element to the
                    # declared element type (a 25.343 literal parses as
                    # exact Decimal; a double array[] column needs floats)
                    return [_coerce(e, dt.elementType) for e in v]
                if isinstance(dt, T.DecimalType) and isinstance(
                    v, (int, float)
                ):
                    return Decimal(str(v))
                if isinstance(dt, (T.DoubleType, T.FloatType)) and isinstance(
                    v, (int, Decimal)
                ):
                    return float(v)
                if isinstance(
                    dt, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)
                ) and isinstance(v, Decimal):
                    return int(v)
                if isinstance(dt, T.BinaryType) and isinstance(v, str):
                    # string literal into BINARY/VARBINARY: UTF-8 bytes
                    # (PVarbinary coercion; NullIT.testBinaryNullAssignment)
                    return v.encode("utf-8")
                if isinstance(dt, T.StringType) and v == "":
                    # Phoenix stores '' as NULL — an empty byte array IS the
                    # null representation for VARCHAR/CHAR
                    # (NullIT.testEmptyStringValue)
                    return None
                return v

            rows = [
                tuple(
                    _coerce(v, f.dataType)
                    for v, f in zip(r, src_schema.fields)
                )
                for r in rows
            ]
            src = local_frame(self.spark, rows, schema=src_schema)
        # A partial column list leaves the unlisted cells out of ``df``:
        # upsert_df keeps an existing row's cells and NULL-fills a new row's.
        if dyn:
            if "props" not in cols:
                # the JSON overflow merge below needs the row's own ``props``
                cur = mt.read(keys=src).select(*mt.pk, "props")
                src = key_join(src, cur, mt.pk, "left")
            # merge the typed dynamic values into the JSON overflow column,
            # preserving unrelated keys of an existing row's JSON
            patch = F.create_map(
                *[
                    x
                    for name in dyn
                    for x in (F.lit(name), F.col(name).cast("string"))
                ]
            )
            existing = F.coalesce(
                F.from_json(F.col("props"), "map<string,string>"),
                F.expr("map()"),
            )
            keep = F.map_filter(
                existing, lambda k, _v: ~k.isin(*list(dyn))
            )
            src = src.withColumn(
                "props", F.to_json(F.map_concat(keep, patch))
            ).drop(*dyn)
        df = src.select(*[c for c in mt.schema.fieldNames() if c in src.columns])
        if up.select is not None:
            # single-pass: count on the write action itself (observe), never
            # a separate .count() pre-scan — a 100 TB INSERT-SELECT must read
            # its source exactly once
            obs = Observation()
            df = df.observe(obs, F.count(F.lit(1)).alias("n"))
            # PK invariant: a source that yields DUPLICATE target PKs must
            # collapse to one row per key, last-in-source-order winning —
            # the reference's sequential puts overwrite the same rowkey
            # (UpsertSelectIT.testUpsertSelectWithOrderBy: 513 rows with
            # one constant key leave ONE row, the ORDER BY's last).
            # monotonically_increasing_id AFTER the (possibly sorted)
            # source preserves its order: the sort's range exchange orders
            # partitions, and ids carry the partition in their high bits.
            # One window shuffle on the PK — the same co-location the
            # segment write wants anyway.
            from pyspark.sql import Window as _W

            df = (
                df.withColumn("__ord", F.monotonically_increasing_id())
                .withColumn(
                    "__rn",
                    F.row_number().over(
                        _W.partitionBy(*mt.pk).orderBy(F.col("__ord").desc())
                    ),
                )
                .filter(F.col("__rn") == 1)
                .drop("__ord", "__rn")
            )
            ts = mt.upsert_df(df, on_duplicate=up.on_duplicate)
            n = obs.get["n"]
        else:
            from phoenix_spark.ddl import UpdateOnly

            # UPDATE_ONLY drops absent-PK rows; IGNORE drops present-PK
            # rows — either way the mutation count is the written-row count
            # upsert_df returns, not the incoming VALUES arity (r7 advice
            # fix + OnDuplicateKey2IT.testIgnoreReturnValue)
            ts = n = mt.upsert_df(df, on_duplicate=up.on_duplicate)
            if not (isinstance(up.on_duplicate, UpdateOnly) or up.on_duplicate == "ignore"):
                n = len(up.values)
        if up.returning:
            # RETURNING * (grammar :901): the written slice as full rows.
            # With ON DUPLICATE KEY the reference returns the POST-operation
            # row state (IndexRegionObserver context.returnResult: the
            # existing row for IGNORE, the updated row for UPDATE[_ONLY],
            # and nothing for UPDATE_ONLY on an absent PK) — read back the
            # stored rows for the incoming PKs rather than echoing the
            # incoming values.
            if up.on_duplicate is not None:
                return mt.read(keys=df)
            return mt.read_commit(ts).drop(_DEL_COL)
        return n

    def _exec_delete(self, text: str) -> DataFrame | int:
        self._check_mutable()
        dl = D.parse_delete(text)
        if self._qualify(dl.table) in self._views:
            # DELETE through an updatable view: scope the delete to the
            # view's predicate chain on the base table (DeleteCompiler over
            # ViewType.UPDATABLE)
            self._view_constants(dl.table)  # raises if the view is read-only
            chain, node = self._view_chain(dl.table)
            preds = [f"({where})" for _parent, where, _cols in chain if where]
            if dl.where:
                preds.append(f"({dl.where})")
            dl = D.Delete(
                node, " AND ".join(preds) or None, dl.returning,
                dl.order_by, dl.limit,
            )
        mt = self.managed(dl.table)
        tcol = self._tenant_col(mt) if self.tenant_id else None
        if tcol:
            # tenant connections delete ONLY their rows (DeleteCompiler under
            # a tenant-specific connection; TenantSpecificTablesDMLIT
            # .testDeleteOnlyDeletesTenantData)
            tpred = f"{tcol} = '{self.tenant_id}'"
            dl = D.Delete(
                dl.table,
                f"({dl.where}) AND {tpred}" if dl.where else tpred,
                dl.returning, dl.order_by, dl.limit,
            )
        # subqueries in the WHERE read through their bindings
        cond = translate_phoenix_sql(self._bind_refs(dl.where)) if dl.where else None
        order = translate_phoenix_sql(dl.order_by) if dl.order_by else None
        ts = mt._next_ts()  # this statement's commit (RETURNING)
        n = mt.delete_where(cond, order_by=order, limit=dl.limit)
        if dl.returning:
            # the tombstones are the exact victim rows, top-N cut included
            return mt.read_commit(ts).drop(_DEL_COL)
        return n

    def _eval_literal(self, lit: str):
        """Evaluate one UPSERT VALUES literal driver-side (UpsertCompiler's
        LiteralExpression path), including NEXT VALUE FOR."""
        s = lit.strip()
        m = re.match(r"NEXT\s+(?:(\d+)\s+VALUES|VALUE)\s+FOR\s+([\w.]+)", s, re.I)
        if m:
            per_row = int(m.group(1) or 1)
            if per_row < 1:
                raise ValueError(
                    "NEXT <n> VALUES FOR: <n> must be a positive integer "
                    "constant (NUM_SEQ_TO_ALLOCATE_MUST_BE_CONSTANT)"
                )
            return self.next_value_block(m.group(2).lower(), 1, per_row=per_row)
        if re.match(r"NEXT\s+\S", s, re.I) and "VALUES" in s.upper():
            raise ValueError(
                "NEXT <n> VALUES FOR: <n> must be a positive integer "
                f"constant (NUM_SEQ_TO_ALLOCATE_MUST_BE_CONSTANT): {s!r}"
            )
        m = re.match(r"CURRENT\s+VALUE\s+FOR\s+([\w.]+)", s, re.I)
        if m:
            return self.current_value(m.group(1).lower())
        if s.upper() == "NULL":
            return None
        if s.upper() in ("TRUE", "FALSE"):
            return s.upper() == "TRUE"
        if s.startswith("'") and s.endswith("'"):
            return s[1:-1].replace("''", "'")
        # fullmatch, not match: `TIMESTAMP '...' + 1` must NOT silently drop
        # its arithmetic tail — the optional `± n` applies Phoenix date
        # arithmetic (DateAddExpression: integers are DAYS); anything else
        # trailing falls through to the loud Spark-eval path below
        m = re.fullmatch(
            r"(?:DATE|TIME|TIMESTAMP)\s*'(.*)'(?:\s*([+-])\s*(\d+))?",
            s,
            re.I,
        )
        if m:
            import datetime as dt

            txt = m.group(1)
            for fmt in ("%Y-%m-%d %H:%M:%S.%f", "%Y-%m-%d %H:%M:%S", "%Y-%m-%d"):
                try:
                    val = dt.datetime.strptime(txt, fmt)
                    break
                except ValueError:
                    continue
            else:
                raise ValueError(f"bad datetime literal {txt!r}")
            if m.group(2):
                days = int(m.group(3)) * (1 if m.group(2) == "+" else -1)
                val += dt.timedelta(days=days)
            return val
        try:
            return int(s)
        except ValueError:
            pass
        try:
            return float(s)
        except ValueError:
            pass
        # last resort: let Spark evaluate the scalar expression
        row = wall_clock(
            self.spark.range(1).select(F.expr(translate_phoenix_sql(s)))
        ).head()
        return row[0]
