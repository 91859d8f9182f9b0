"""DDL + DML statement parsing (SURVEY.md §2.9/§2.10).

Phoenix parses these with its ANTLR3 grammar (reference: phoenix-core-client/
src/main/antlr3/PhoenixSQL.g — create_table_node :491-499, create_view_node
:557-565, create_sequence_node :619-627, upsert_node :891-914, delete_node
:953-961) and compiles one statement type per compiler class
(CreateTableCompiler, UpsertCompiler, DeleteCompiler, ...).

This module is the parse half: statement text → plain dataclasses the Engine
lowers onto the catalog / ManagedTable layers.  It covers the grammar shapes
exercised by Phoenix's own ITs (composite PK with per-column ASC/DESC and
ROW_TIMESTAMP, SALT_BUCKETS & table props, partial-column upserts,
ON DUPLICATE KEY, NEXT VALUE FOR).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import types as T

from phoenix_spark.sqllex import iter_top, match_forward, segments, split_top
from phoenix_spark.types import parse_type


@dataclass
class CreateTable:
    name: str
    schema: T.StructType
    pk: list[str]
    sort_orders: dict[str, str]
    row_timestamp: str | None
    props: dict
    if_not_exists: bool
    # Phoenix column families (grammar: `FAMILY.col TYPE`, e.g. the shipped
    # examples/WEB_STAT.sql's USAGE.CORE).  Families are an HBase storage
    # concern — columnar parquet already gives per-column locality — so the
    # engine records the mapping for catalog fidelity and addresses columns
    # by their unqualified name, exactly how Phoenix queries reference them.
    families: dict = None  # col -> family
    # DEFAULT expressions (grammar :816 `DEFAULT df=expression`).  The
    # reference evaluates these at READ time when the cell is absent
    # (DefaultValueExpression wraps the column ref), so an explicit NULL
    # write reads as the default again — mirrored by coalesce-at-read.
    defaults: dict = None  # col -> raw default expression text
    # Columns declared NOT NULL (or inline PRIMARY KEY, which implies it).
    # PK columns WITHOUT it are nullable in the dialect: they may hold NULL
    # and be omitted from UPSERTs (the row key pads with NULL — IsNullIT).
    not_null: list = None


@dataclass
class CreateView:
    name: str
    parent: str
    where: str | None
    # view-defined columns (grammar :557-565 allows a column-def list: a view
    # may ADD typed columns beyond its parent's schema) — name -> type text
    columns: dict[str, str] | None = None
    if_not_exists: bool = False
    # view columns marked PRIMARY KEY extend the parent's row key
    # (ColumnDef.isPK inside a view, e.g. reference IT add_view_index.sql)
    pk_cols: list[str] | None = None


@dataclass
class CreateSequence:
    """CREATE SEQUENCE options (grammar PhoenixSQL.g:619-628;
    CreateSequenceCompiler defaults: MINVALUE=Long.MIN, MAXVALUE=Long.MAX,
    INCREMENT=1, START = MINVALUE for increasing / MAXVALUE for decreasing
    sequences when omitted — CreateSequenceCompiler.java:192-196)."""

    name: str
    start: int | None = None
    increment: int = 1
    min_value: int = -(2**63)
    max_value: int = 2**63 - 1
    cycle: bool = False
    cache: int = 100  # DEFAULT_SEQUENCE_CACHE_SIZE (QueryServicesOptions:229)
    if_not_exists: bool = False


class UpdateOnly(dict):
    """ON DUPLICATE KEY UPDATE_ONLY assignments (grammar PhoenixSQL.g:899,911
    — UpsertStatement.OnDuplicateKeyType.UPDATE_ONLY): apply the update
    expressions to EXISTING rows; rows whose PK is absent are dropped, never
    inserted (IndexRegionObserver.java:2305-2311 "If row doesn't exist, do
    nothing").  A dict subclass so every {col: expr} code path (expression
    translation, upsert_df) handles both flavors; the type carries the
    no-insert semantics."""


@dataclass
class Upsert:
    table: str
    columns: list[str]  # empty = all, in schema order
    values: list[list[str]] | None  # literal rows (as SQL expr strings)
    select: str | None  # UPSERT ... SELECT text
    on_duplicate: str | dict | None  # None | 'ignore' | {col: expr} | UpdateOnly
    returning: bool = False  # RETURNING * (grammar :901)


@dataclass
class Delete:
    table: str
    where: str | None
    returning: bool = False  # RETURNING * (grammar :958)
    order_by: str | None = None  # DELETE ... ORDER BY ... LIMIT n (TopNIT)
    limit: int | None = None


@dataclass
class Drop:
    kind: str  # table | view | sequence
    name: str
    if_exists: bool
    truncate: bool = False
    cascade: bool = False  # DROP TABLE ... CASCADE drops dependent views


def _strip(s: str) -> str:
    return s.strip().rstrip(";").strip()


_CREATE_TABLE_RE = re.compile(
    r"^\s*CREATE\s+TABLE\s+(?P<ine>IF\s+NOT\s+EXISTS\s+)?(?P<name>[\w.\"]+)\s*\((?P<body>.*)\)\s*(?P<tail>.*)$",
    re.IGNORECASE | re.DOTALL,
)
_PK_CONSTRAINT_RE = re.compile(
    r"^CONSTRAINT\s+\w+\s+PRIMARY\s+KEY\s*\((?P<cols>.*)\)$", re.IGNORECASE | re.DOTALL
)


def parse_create_table(sql: str) -> CreateTable:
    # comments go first: a `-- note, with comma` in the column list would
    # otherwise reach the column parser as text
    sql = "".join(" " if kind == "comment" else text for kind, text in segments(sql))
    m = _CREATE_TABLE_RE.match(_strip(sql))
    if not m:
        raise ValueError(f"unparseable CREATE TABLE: {sql[:120]!r}")
    name = m.group("name").strip('"').lower()  # may be schema-qualified
    # the greedy regex grabs the LAST close paren; the column list ends at
    # the one matching its open paren, and `SALT_BUCKETS=...` follows it
    raw = _strip(sql)
    start = raw.index("(") + 1
    end = match_forward(raw, start)
    body = raw[start : end - 1]
    tail = raw[end:]

    fields: list[T.StructField] = []
    pk: list[str] = []
    not_null: list[str] = []
    defaults: dict[str, str] = {}
    sort_orders: dict[str, str] = {}
    row_timestamp: str | None = None
    families: dict[str, str] = {}
    items = []
    for item in (x.strip() for x in split_top(body, ",") if x.strip()):
        # Phoenix's grammar accepts the CONSTRAINT clause without a
        # preceding comma (see the shipped examples/WEB_STAT.sql) — split a
        # trailing constraint off the last column def.
        mm_c = re.search(
            r"\bCONSTRAINT\s+\w+\s+PRIMARY\s+KEY\s*\(", item, re.IGNORECASE
        )
        if mm_c and mm_c.start() > 0:
            items.append(item[: mm_c.start()].strip())
            items.append(item[mm_c.start() :].strip())
        else:
            items.append(item.strip())
    for item in items:
        cm = _PK_CONSTRAINT_RE.match(item.strip())
        if cm:
            for colspec in filter(str.strip, split_top(cm.group("cols"), ",")):
                toks = colspec.split()
                col = toks[0].strip('"').lower()
                rest = [t.upper() for t in toks[1:]]
                pk.append(col)
                if "DESC" in rest:
                    sort_orders[col] = "DESC"
                elif "ASC" in rest:
                    sort_orders[col] = "ASC"
                if "ROW_TIMESTAMP" in rest:
                    row_timestamp = col
            continue
        toks = item.split(None, 1)
        col = toks[0].strip('"').lower()
        if "." in col:  # FAMILY.col — see CreateTable.families
            fam, col = col.split(".", 1)
            families[col] = fam
        rest = toks[1] if len(toks) > 1 else ""
        up = rest.upper()
        if re.search(r"\bNOT\s+NULL\b", up) or "PRIMARY KEY" in up:
            not_null.append(col)
        inline_pk = "PRIMARY KEY" in up
        if inline_pk:
            rest = re.sub(r"PRIMARY\s+KEY(\s+(ASC|DESC))?", "", rest, flags=re.I)
            pk.append(col)
            mm = re.search(r"PRIMARY\s+KEY\s+(ASC|DESC)", up)
            if mm:
                sort_orders[col] = mm.group(1)
        dm = re.search(r"\bDEFAULT\s+(.+?)\s*$", rest, flags=re.I | re.S)
        if dm:
            defaults[col] = dm.group(1).strip()
            rest = rest[: dm.start()]
        rest = re.sub(r"\bNOT\s+NULL\b|\bNULL\b|\bROW_TIMESTAMP\b", "", rest, flags=re.I)
        if re.search(r"\bROW_TIMESTAMP\b", up):
            row_timestamp = col
        fields.append(T.StructField(col, parse_type(rest.strip()), True))

    props: dict = {}
    tail = tail.strip().rstrip(";")
    if tail:
        tail = re.sub(r"SPLIT\s+ON\s*\([^)]*\)", "", tail, flags=re.I).strip()
        for kv in split_top(tail, ","):
            if "=" in kv:
                k, v = kv.split("=", 1)
                props[k.strip().upper()] = v.strip().strip("'")
    return CreateTable(
        name=name,
        schema=T.StructType(fields),
        pk=pk,
        sort_orders=sort_orders,
        row_timestamp=row_timestamp,
        props=props,
        if_not_exists=bool(m.group("ine")),
        families=families,
        defaults=defaults,
        not_null=not_null,
    )


_CREATE_VIEW_RE = re.compile(
    r"^\s*CREATE\s+VIEW\s+(?:IF\s+NOT\s+(?P<ine>EXISTS)\s+)?(?P<name>[\w.\"]+)\s*"
    r"(?:\(\s*(?P<cols>[^)]*?)\s*\)\s*)?"
    r"AS\s+SELECT\s+\*\s+FROM\s+"
    r"(?P<parent>[\w.\"]+)(?:\s+WHERE\s+(?P<where>.*))?$",
    re.IGNORECASE | re.DOTALL,
)

_VIEW_PK_SUFFIX_RE = re.compile(r"\s+(?:NOT\s+NULL\s+)?PRIMARY\s+KEY\s*$", re.IGNORECASE)


def parse_create_view(sql: str) -> CreateView:
    m = _CREATE_VIEW_RE.match(_strip(sql))
    if not m:
        raise ValueError(
            "CREATE VIEW must be `CREATE VIEW v [(col TYPE, ...)] AS "
            "SELECT * FROM t [WHERE ...]` (Phoenix views are single-table, "
            "predicate-plus-added-columns — PhoenixSQL.g:557-565)"
        )
    columns: dict[str, str] = {}
    pk_cols: list[str] = []
    if m.group("cols"):
        for item in split_top(m.group("cols"), ","):
            parts = item.strip().split(None, 1)
            if len(parts) != 2:
                raise ValueError(f"bad view column definition {item.strip()!r}")
            name, typ = parts[0].strip('"').lower(), parts[1].strip()
            # `A BIGINT PRIMARY KEY` inside a view extends the parent row key
            stripped = _VIEW_PK_SUFFIX_RE.sub("", typ)
            if stripped != typ:
                pk_cols.append(name)
                typ = stripped.strip()
            columns[name] = typ
    return CreateView(
        name=m.group("name").strip('"').lower(),
        parent=m.group("parent").strip('"').lower(),
        where=_strip(m.group("where")) if m.group("where") else None,
        columns=columns or None,
        if_not_exists=bool(m.group("ine")),
        pk_cols=pk_cols or None,
    )


_CREATE_SEQ_RE = re.compile(
    r"^\s*CREATE\s+SEQUENCE\s+(?:IF\s+NOT\s+(?P<ine>EXISTS)\s+)?(?P<name>[\w.\"]+)"
    r"(?:\s+START\s+(?:WITH\s+)?(?P<start>-?\d+))?"
    r"(?:\s+INCREMENT\s+(?:BY\s+)?(?P<inc>-?\d+))?"
    r"(?:\s+MINVALUE\s+(?P<min>-?\d+))?"
    r"(?:\s+MAXVALUE\s+(?P<max>-?\d+))?"
    r"(?:\s+(?P<cycle>CYCLE))?"
    r"(?:\s+CACHE\s+(?P<cache>\d+))?\s*;?\s*$",
    re.IGNORECASE,
)


def parse_create_sequence(sql: str) -> CreateSequence:
    m = _CREATE_SEQ_RE.match(_strip(sql))
    if not m:
        raise ValueError(f"unparseable CREATE SEQUENCE: {sql[:120]!r}")
    inc = int(m.group("inc") or 1)
    if inc == 0:
        raise ValueError("INCREMENT BY must not be zero")
    mn = int(m.group("min")) if m.group("min") else -(2**63)
    mx = int(m.group("max")) if m.group("max") else 2**63 - 1
    if mn > mx:
        raise ValueError("MINVALUE must be less than or equal to MAXVALUE")
    start = int(m.group("start")) if m.group("start") else None
    if start is None and m.group("min") is None and m.group("max") is None:
        # bare CREATE SEQUENCE (no START WITH/MINVALUE/MAXVALUE) starts at 1
        # for backward compatibility (CreateSequenceStatement.java:41-44) —
        # only when a MIN/MAX bound is given does START fall back to
        # MINVALUE/MAXVALUE (CreateSequenceCompiler.java:192-196)
        start = 1
    if start is not None and not (mn <= start <= mx):
        raise ValueError("START WITH must be between MINVALUE and MAXVALUE")
    cache = int(m.group("cache") or 100)
    if cache < 1:
        raise ValueError("CACHE must be at least 1")
    return CreateSequence(
        name=m.group("name").strip('"').lower(),
        start=start,
        increment=inc,
        min_value=mn,
        max_value=mx,
        cycle=bool(m.group("cycle")),
        cache=cache,
        if_not_exists=bool(m.group("ine")),
    )


_UPSERT_RE = re.compile(
    r"^\s*UPSERT\s+INTO\s+(?P<name>[\w.\"]+)\s*"
    r"(?:\((?P<cols>[^)]*)\)\s*)?"
    r"(?P<rest>VALUES\s*\(.*|SELECT\s+.*)$",
    re.IGNORECASE | re.DOTALL,
)
_ON_DUP_RE = re.compile(
    r"\s+ON\s+DUPLICATE\s+KEY\s+(?P<what>IGNORE|UPDATE_ONLY\s+.*|UPDATE\s+.*)$",
    re.IGNORECASE | re.DOTALL,
)


_RETURNING_RE = re.compile(r"\s+RETURNING\s+\*\s*$", re.IGNORECASE)


def parse_upsert(sql: str) -> Upsert:
    sql, n_ret = _RETURNING_RE.subn("", _strip(sql))
    m = _UPSERT_RE.match(_strip(sql))
    if not m:
        raise ValueError(f"unparseable UPSERT: {sql[:120]!r}")
    table = m.group("name").strip('"').lower()
    columns = (
        [c.strip().strip('"').lower() for c in split_top(m.group("cols"), ",")]
        if m.group("cols")
        else []
    )
    rest = m.group("rest")
    on_dup: str | dict | None = None
    dm = _ON_DUP_RE.search(rest)
    if dm:
        rest = rest[: dm.start()]
        what = dm.group("what")
        if what.upper() == "IGNORE":
            on_dup = "ignore"
        else:
            update_only = what.upper().startswith("UPDATE_ONLY")
            kw = "UPDATE_ONLY" if update_only else "UPDATE"
            assigns = UpdateOnly() if update_only else {}
            for a in filter(str.strip, split_top(what[len(kw) :], ",")):
                col, expr = a.split("=", 1)
                assigns[col.strip().strip('"').lower()] = expr.strip()
            on_dup = assigns
    rest = rest.strip()
    if rest.upper().startswith("VALUES"):
        vals_text = rest[len("VALUES") :].strip()
        rows = []
        for grp in (x.strip() for x in split_top(vals_text, ",") if x.strip()):
            if not (grp.startswith("(") and grp.endswith(")")):
                raise ValueError(f"bad VALUES row: {grp!r}")
            rows.append([v.strip() for v in split_top(grp[1:-1], ",") if v.strip()])
        return Upsert(table, columns, rows, None, on_dup, returning=bool(n_ret))
    return Upsert(table, columns, None, rest, on_dup, returning=bool(n_ret))


_DELETE_HEAD_RE = re.compile(
    r"^\s*DELETE\s+FROM\s+(?P<name>[\w.\"]+)\s*(?P<tail>.*)$",
    re.IGNORECASE | re.DOTALL,
)
_DELETE_CLAUSE_RE = re.compile(
    r"\b(WHERE|ORDER\s+BY|LIMIT)\b", re.IGNORECASE | re.DOTALL
)


def parse_delete(sql: str) -> Delete:
    """DELETE FROM t [WHERE ...] [ORDER BY ...] [LIMIT n] — the ordered
    top-N delete is DeleteCompiler's LIMIT path (TopNIT.testTopNDelete).
    Clause keywords are recognized only at bracket depth 0, outside
    literals, quoted identifiers and comments, so ``WHERE id IN (SELECT ... ORDER BY x LIMIT 5)`` keeps the
    subquery's ORDER BY/LIMIT inside the predicate."""
    sql, n_ret = _RETURNING_RE.subn("", _strip(sql))
    m = _DELETE_HEAD_RE.match(_strip(sql))
    if not m:
        raise ValueError(f"unparseable DELETE: {sql[:120]!r}")
    where = order_by = None
    limit = None
    tail = m.group("tail").strip()
    marks = list(iter_top(tail, _DELETE_CLAUSE_RE))
    if tail and (not marks or marks[0].start() != 0):
        raise ValueError(f"unparseable DELETE tail: {tail[:120]!r}")
    for k, cm in enumerate(marks):
        kw = re.sub(r"\s+", " ", cm.group(1).upper())
        stop = marks[k + 1].start() if k + 1 < len(marks) else len(tail)
        body = tail[cm.end() : stop].strip()
        if kw == "WHERE":
            where = body or None
        elif kw == "ORDER BY":
            order_by = body or None
        elif kw == "LIMIT":
            if not re.fullmatch(r"\d+", body):
                raise ValueError(f"bad DELETE LIMIT: {body!r}")
            limit = int(body)
    return Delete(
        table=m.group("name").strip('"').lower(),
        where=where,
        returning=bool(n_ret),
        order_by=order_by,
        limit=limit,
    )


_DROP_RE = re.compile(
    r"^\s*(?P<op>DROP|TRUNCATE)\s+(?P<kind>TABLE|VIEW|SEQUENCE)\s+"
    r"(?P<ie>IF\s+EXISTS\s+)?(?P<name>[\w.\"]+)(?P<cascade>\s+CASCADE)?\s*$",
    re.IGNORECASE,
)


def parse_drop(sql: str) -> Drop:
    m = _DROP_RE.match(_strip(sql))
    if not m:
        raise ValueError(f"unparseable DROP/TRUNCATE: {sql[:120]!r}")
    return Drop(
        kind=m.group("kind").lower(),
        name=m.group("name").strip('"').lower(),
        if_exists=bool(m.group("ie")),
        truncate=m.group("op").upper() == "TRUNCATE",
        cascade=bool(m.group("cascade")),
    )
