"""Secondary indexes: materialized covered projections + read-path rewrite.

Reference behavior being reproduced (NOT ported):
  * CREATE INDEX grammar — /root/reference/phoenix-core-client/src/main/
    antlr3/PhoenixSQL.g:568-591, compiled by CreateIndexCompiler.java
  * an index row = index key ++ base PK (++ INCLUDE columns), kept in sync
    with the base table on every mutation — IndexMaintainer.java:143 (the
    delete-stale + put-new pair per updated row)
  * the optimizer substitutes the index table when the index covers the
    query's columns and its leading key appears in the filter —
    QueryOptimizer.java:230-236, exercised by GlobalIndexOptimizationIT.java

Spark-first design: an index is a ManagedTable holding the covered
projection with PK = (index key ++ base PK).  Its segments are sorted by
the index key (the ``WRITE_SORT`` table prop): a maintenance segment within
each write task, the way an HBase flush writes one sorted file; the build and
``REBUILD`` globally, as disjoint sorted files (``ManagedTable.rewrite``).
So a probe on that key scans a NARROW table whose parquet row-groups
prune by min/max statistics — the covered-index O(result) win, delivered by
the Parquet reader instead of an HBase row-key scan.  At 100 TB the index is
a fraction of the base table's width and the probe reads only the row-groups
whose [min,max] straddle the predicate.

The commit maintains the indexes, whatever wrote it (DML, a bulk load, a
CDC apply, a TTL expiry), as IndexRegionObserver applies the IndexMaintainer
riding on every mutation batch.  CREATE INDEX and ``REBUILD`` record in the
registry entry what the commit needs (``IndexDef.base`` and what follows),
and ``ManagedTable``'s commit derives one segment per index from the segment
it wrote: post-image index rows, plus tombstones for pre-image rows not
re-put — never a full rewrite of the index.  ``index_rows`` is the one row
derivation of the build, ``REBUILD`` and the commit.

Read-path plan selection (QueryOptimizer.java:225-353 analogue):
  * covered substitution — the index table replaces the base table when it
    covers every referenced column and its leading key is filtered on
    (choose_index);
  * uncovered probe → join-back-to-base — when coverage fails but the
    query's WHERE has conjuncts over the index key, the index is scanned
    for matching base PKs and broadcast-semi-joined back to the base table
    (choose_join_back; the GlobalIndexOptimizationIT.java behavior).
    Generated automatically for ``CREATE UNCOVERED INDEX`` indexes and for
    any index the user forces via the INDEX(...) hint — exactly the
    reference's rule (a non-covering global index is only chosen when
    hinted, HintNode.Hint.INDEX);
  * hints — /*+ NO_INDEX */ vetoes all substitution; /*+ INDEX(t ix...) */
    restricts candidates to the named indexes and enables the join-back
    plan for them (HintNode.java:50-128);
  * functional indexes (expression keys) materialize a generated ``ixk<N>``
    column and the read path rewrites matching expressions to it before
    coverage analysis;
  * tenant-scoped connections never substitute (the tenant filter is
    applied by the base-table read path).
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import asdict, dataclass, field

from pyspark.sql import DataFrame, functions as F

from phoenix_spark.sqllex import match_forward, segments, split_top

REGISTRY = "_indexes.json"


class IndexError_(ValueError):
    pass


@dataclass
class IndexDef:
    name: str
    table: str
    key: list[str]
    sort_orders: dict[str, str] = field(default_factory=dict)
    include: list[str] = field(default_factory=list)
    local: bool = False
    uncovered: bool = False
    # Partial index (reference: Phoenix 5.2 CREATE INDEX ... WHERE,
    # CreateIndexCompiler's index.where) — the projection holds ONLY rows
    # satisfying this predicate, and substitution requires the query's WHERE
    # to textually contain it (see choose_index).
    where: str | None = None
    # Functional index keys (reference: expression keys compiled by
    # CreateIndexCompiler; IndexMaintainer stores the evaluated expression):
    # maps a generated index column name (ixk<N>, appears in ``key``) to the
    # Phoenix expression text it materializes.  The read path replaces
    # occurrences of the expression in a query with the generated column
    # before coverage analysis (see choose_index).
    exprs: dict[str, str] = field(default_factory=dict)
    # PIndexState analogue (ALTER INDEX ... USABLE|UNUSABLE|DISABLE|REBUILD,
    # grammar :725): ACTIVE = substituted + maintained; UNUSABLE = maintained
    # but never substituted; DISABLED = neither (REBUILD required to
    # reactivate, as in the reference).
    state: str = "ACTIVE"
    # IndexMaintainer analogue, recorded by CREATE INDEX and REBUILD so a
    # base commit derives the index rows without the engine: the physical
    # base, the view chain (base-outward ``[where, vcols]``; None on a table)
    # and the Spark SQL of the functional keys and the partial predicate.
    # ``table`` is the declared table or view, schema-qualified, that a
    # query's FROM reference must resolve to for the index to serve it.
    base: str | None = None
    chain: list | None = None
    expr_sql: dict[str, str] = field(default_factory=dict)
    where_sql: str | None = None

    def covered(self, base_pk: list[str]) -> list[str]:
        """All columns present in the index table, in storage order."""
        cols = list(self.key)
        cols += [c for c in base_pk if c not in cols]
        cols += [c for c in self.include if c not in cols]
        return cols

    def to_json(self) -> dict:
        return asdict(self)

    @classmethod
    def from_json(cls, d: dict) -> "IndexDef":
        return cls(**d)


def load_indexes(warehouse: str) -> dict[str, IndexDef]:
    """The warehouse's index registry, the one store of index state."""
    path = os.path.join(warehouse, REGISTRY)
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return {k: IndexDef.from_json(v) for k, v in json.load(f).items()}


def save_indexes(warehouse: str, defs: dict[str, IndexDef]) -> None:
    """Write the registry ``load_indexes`` reads."""
    with open(os.path.join(warehouse, REGISTRY), "w") as f:
        json.dump({k: d.to_json() for k, d in defs.items()}, f, indent=1)


def apply_view_chain(df: DataFrame, chain: list) -> DataFrame:
    """Replay a view chain over base rows ``df`` as ``Engine.table`` does:
    each view's added columns resolve from the JSON overflow column
    ``props`` (NULL when the base has none), then its predicate filters."""
    from phoenix_spark.types import parse_type

    for where, vcols in chain:
        excluded = []
        for col, typ in (vcols or {}).items():
            if typ is None:  # diverged view: parent column excluded
                excluded.append(col)
                continue
            src = (
                F.get_json_object(F.col("props"), f"$.{col}")
                if "props" in df.columns
                else F.lit(None)
            )
            df = df.withColumn(col, src.cast(parse_type(typ)))
        if where:
            df = df.filter(where)
        if excluded:
            df = df.drop(*excluded)
    return df


def with_index_exprs(df: DataFrame, d: IndexDef) -> DataFrame:
    """Materialize an index's functional-key expressions as columns."""
    for name, sql in d.expr_sql.items():
        df = df.withColumn(name, F.expr(sql))
    return df


def index_rows(df: DataFrame, d: IndexDef, pk: list[str]) -> DataFrame:
    """IndexMaintainer.buildRowKey analogue: the index rows of base rows
    ``df`` (base PK ``pk``) — view chain replayed, functional keys
    materialized, and for a partial index only the rows satisfying its
    predicate."""
    if d.chain is not None:
        df = apply_view_chain(df, d.chain)
    df = with_index_exprs(df, d)
    if d.where_sql is not None:
        df = df.filter(d.where_sql)
    return df.select(*d.covered(pk))


_HEAD_RE = re.compile(
    r"^\s*CREATE\s+(?P<local>LOCAL\s+)?(?P<uncovered>UNCOVERED\s+)?INDEX\s+"
    r"(?P<ine>IF\s+NOT\s+EXISTS\s+)?(?P<name>[\w.]+)\s+ON\s+(?P<table>[\w.]+)\s*",
    re.I,
)

_IDENT_RE = re.compile(r"^[A-Za-z_]\w*$")


def parse_create_index(text: str) -> tuple[IndexDef, bool]:
    """Parse CREATE [LOCAL|UNCOVERED] INDEX; returns (def, if_not_exists).

    Key parts are bare column names or functional expressions
    (CreateIndexCompiler's expression keys) — an expression key is stored
    as a generated ``ixk<N>`` column materializing the expression.
    Expressions containing string literals are rejected (the read-path
    expression matcher is case-insensitive, which would corrupt literal
    matching).
    """
    m = _HEAD_RE.match(text)
    if not m:
        raise IndexError_(f"unparseable CREATE INDEX: {text[:120]!r}")
    pos = m.end()
    if pos >= len(text) or text[pos] != "(":
        raise IndexError_(f"CREATE INDEX missing key list: {text[:120]!r}")
    end = match_forward(text, pos + 1)
    if end > len(text):
        raise IndexError_("unbalanced parens in CREATE INDEX")
    key_text, tail = text[pos + 1 : end - 1], text[end:]
    key: list[str] = []
    sort_orders: dict[str, str] = {}
    exprs: dict[str, str] = {}
    for part in (x.strip() for x in split_top(key_text, ",") if x.strip()):
        pm = re.match(r"^(.*?)\s*(ASC|DESC)?$", part, re.I | re.S)
        col = pm.group(1).strip()
        if _IDENT_RE.match(col):
            name = col.lower()
        else:
            if "'" in col:
                raise IndexError_(
                    f"functional index key {col!r}: expressions containing "
                    "string literals are not supported (case-insensitive "
                    "matching would corrupt them)"
                )
            name = f"ixk{len(exprs)}"
            exprs[name] = col
        key.append(name)
        if pm.group(2) and pm.group(2).upper() == "DESC":
            sort_orders[name] = "DESC"
    if not key:
        raise IndexError_("CREATE INDEX requires at least one key column")
    im = re.match(r"\s*INCLUDE\s*\(", tail, re.I)
    include: list[str] = []
    if im:
        end = match_forward(tail, im.end())
        if end > len(tail):
            raise IndexError_("unbalanced parens in CREATE INDEX")
        inc_text, tail = tail[im.end() : end - 1], tail[end:]
        include = [c.strip().lower() for c in split_top(inc_text, ",") if c.strip()]
    for c in include:
        if not _IDENT_RE.match(c):
            raise IndexError_(f"bad INCLUDE column {c!r}")
    where = None
    wm = re.match(r"\s*WHERE\s+(.*?)\s*(ASYNC\s*)?;?\s*$", tail, re.I | re.S)
    if wm:
        where = wm.group(1).strip() or None
    elif not re.match(r"\s*(ASYNC\s*)?;?\s*$", tail, re.I):
        raise IndexError_(f"unparseable CREATE INDEX tail: {tail[:80]!r}")
    d = IndexDef(
        name=m.group("name").lower(),
        table=m.group("table").lower(),
        key=key,
        sort_orders=sort_orders,
        include=include,
        local=bool(m.group("local")),
        uncovered=bool(m.group("uncovered")),
        where=where,
        exprs=exprs,
    )
    return d, bool(m.group("ine"))


_DROP_INDEX_RE = re.compile(
    r"^\s*DROP\s+INDEX\s+(IF\s+EXISTS\s+)?([\w.]+)\s+ON\s+([\w.]+)\s*;?\s*$", re.I
)


def parse_drop_index(text: str):
    """Returns (name, table, if_exists) or None if not a DROP INDEX.  The
    name is kept as written, as ``parse_create_index`` records it."""
    m = _DROP_INDEX_RE.match(text)
    if not m:
        return None
    return m.group(2).lower(), m.group(3).lower(), bool(m.group(1))


# --- query hints (HintNode.java:50-128) --------------------------------------

_HINT_BLOCK_RE = re.compile(r"/\*\+(.*?)\*/", re.S)


def parse_index_hint(text: str) -> tuple[bool, dict[str, list[str]]]:
    """Extract index-selection hints from a ``/*+ ... */`` block.

    Returns ``(no_index, forced)`` where ``forced`` maps a table name, as
    written, to the index names the INDEX(table ix1 ix2...) hint restricts
    it to.  Matches the reference's HintNode parsing: NO_INDEX vetoes
    substitution outright; INDEX(...) both restricts candidates and
    authorizes plans that need a join back to the data table
    (QueryOptimizer.java:225-353)."""
    no_index = False
    forced: dict[str, list[str]] = {}
    for hm in _HINT_BLOCK_RE.finditer(text):
        body = hm.group(1)
        if re.search(r"\bNO_INDEX\b", body, re.I):
            no_index = True
        for im in re.finditer(r"\bINDEX\s*\(([^)]*)\)", body, re.I):
            parts = im.group(1).split()
            if len(parts) >= 2:
                forced.setdefault(parts[0].lower(), []).extend(
                    p.lower().split(".")[-1] for p in parts[1:]
                )
    return no_index, forced


# --- read-path substitution (QueryOptimizer.java:230-236 analogue) -----------

_FROM_RE = re.compile(r"\bFROM\s+([A-Za-z_][\w.]*)", re.I)
_WHERE_RE = re.compile(
    r"\bWHERE\b(.*?)(?:\bGROUP\s+BY\b|\bORDER\s+BY\b|\bLIMIT\b|\bOFFSET\b|\bFETCH\b|$)",
    re.I | re.S,
)


def _expr_pattern(expr: str) -> "re.Pattern[str]":
    """Whitespace-flexible, case-insensitive regex matching an index
    expression as written in a query (tokens fixed, spacing free)."""
    tokens = re.findall(r"\w+|[^\w\s]", expr)
    return re.compile(r"\s*".join(re.escape(t) for t in tokens), re.I)


def _replace_exprs(text: str, exprs: dict[str, str]) -> str:
    """Replace occurrences of each functional-key expression with its
    generated index column name — outside string literals only."""
    out = []
    for kind, seg in segments(text):
        if kind == "code":
            for name, ex in exprs.items():
                seg = _expr_pattern(ex).sub(name, seg)
        out.append(seg)
    return "".join(out)


def choose_index(
    text: str,
    indexes: dict[str, IndexDef],
    resolve,
    base_cols_of,
    base_pk_of,
) -> tuple[str, IndexDef, str] | None:
    """If ``text`` is a single-table SELECT whose referenced base-table
    columns are all covered by an index on that table AND whose WHERE
    references the index's leading key column, return (table_ref, IndexDef,
    effective_text) for substitution.  Conservative by construction: any
    shape this parser doesn't fully understand (joins, subqueries, ``*``)
    is left alone.

    Partial indexes (``d.where``): substitutable only when the query's WHERE
    is a top-level AND-conjunction with one conjunct equal (normalized) to
    the index predicate — an OR-embedded match would be UNSOUND (the index
    lacks rows failing the predicate that pass the other arm).  The matched
    conjunct is replaced by TRUE in ``effective_text``: every index row
    satisfies it by construction, and the predicate's columns need not be
    stored in the index.

    ``resolve(ref) -> str | None`` gives the qualified table or view a FROM
    reference denotes, which an index's ``table`` must equal;
    ``base_cols_of(table) -> set[str] | None`` and ``base_pk_of(table) ->
    list[str]`` supply catalog knowledge of it.
    """
    froms = _FROM_RE.findall(text)
    if len(froms) != 1:
        return None  # joins with comma-FROM, subqueries, or no table at all
    if re.search(r"\bJOIN\b|\bUNION\b|\bINTERSECT\b|\bEXCEPT\b", text, re.I):
        return None
    if re.search(r"SELECT\s+(DISTINCT\s+)?\*", text, re.I) or re.search(
        r"\.\s*\*", text
    ):
        return None  # * expands to the base schema, never covered
    table = resolve(froms[0])
    cands = [d for d in indexes.values() if d.table == table]
    if not cands:
        return None
    base_cols = base_cols_of(table)
    if not base_cols:
        return None
    base_cols = {c.lower() for c in base_cols}
    wm = _WHERE_RE.search(text)
    if not wm:
        return None  # no filter → full scan either way; keep the base table
    pk = [c.lower() for c in base_pk_of(table)]
    best = None
    for d in cands:
        eff_text = text
        if d.exprs:
            # functional keys: rewrite the expression to the materialized
            # index column FIRST — coverage analysis then sees the generated
            # column; a query using the raw underlying column some other way
            # fails coverage and falls back to the base table.
            eff_text = _replace_exprs(eff_text, d.exprs)
            if not any(k in eff_text for k in d.exprs):
                continue  # expression not used by this query
        if d.where is not None:
            # find the predicate as a top-level AND conjunct of the WHERE
            target = _norm_pred(d.where)
            ewm0 = _WHERE_RE.search(eff_text)
            if not ewm0:
                continue
            conjuncts = split_top(ewm0.group(1), "AND")
            match = next(
                (c for c in conjuncts if _norm_pred(c) == target), None
            )
            if match is None:
                continue
            eff_text = eff_text.replace(match, " TRUE ", 1)
        tokens = {t.lower() for t in re.findall(r"[A-Za-z_]\w*", eff_text)}
        ref = {t.lower() for t in re.findall(r"[A-Za-z_]\w*", froms[0])}
        used = (tokens - ref) & base_cols
        ewm = _WHERE_RE.search(eff_text)
        where_tokens = (
            {t.lower() for t in re.findall(r"[A-Za-z_]\w*", ewm.group(1))}
            if ewm
            else set()
        )
        covered = {c.lower() for c in d.covered(pk)}
        if used <= covered and d.key[0] in where_tokens:
            # prefer the index whose key prefix matches the most WHERE columns
            score = 0
            for k in d.key:
                if k in where_tokens:
                    score += 1
                else:
                    break
            if best is None or score > best[0]:
                best = (score, froms[0], d, eff_text)
    if best is None:
        return None
    return best[1], best[2], best[3]


def choose_join_back(
    text: str,
    indexes: dict[str, IndexDef],
    resolve,
    base_cols_of,
    base_pk_of,
    forced: dict[str, list[str]] | None = None,
) -> tuple[str, IndexDef, str] | None:
    """Uncovered-index probe plan (GlobalIndexOptimizationIT.java behavior):
    when no index covers the query but the WHERE constrains an index's
    leading key, answer the probe by scanning the INDEX for matching base
    PKs and joining back to the data table.  Returns (table_ref, IndexDef,
    probe_predicate) — the caller builds the broadcast-semi-join view and
    substitutes it for the table reference.

    Eligibility mirrors the reference: ``CREATE UNCOVERED INDEX`` indexes
    participate automatically; any other index only when the INDEX(...)
    hint names it (a non-covering global index is never chosen unhinted).
    The probe predicate is the AND of the WHERE's top-level conjuncts whose
    columns all live in the index key — the part of the filter the narrow
    index scan can answer; everything else stays residual on the joined
    base rows (the full WHERE is re-applied by the outer query).

    Conservative: single-table SELECTs only; partial (``WHERE``) and
    functional (expression-key) indexes are excluded — their membership /
    rewrite preconditions belong to the covered path."""
    froms = _FROM_RE.findall(text)
    if len(froms) != 1:
        return None
    if re.search(r"\bJOIN\b|\bUNION\b|\bINTERSECT\b|\bEXCEPT\b", text, re.I):
        return None
    table = resolve(froms[0])
    if table is None:
        return None
    base_cols = base_cols_of(table)
    if not base_cols:
        return None
    base_cols = {c.lower() for c in base_cols}
    wm = _WHERE_RE.search(text)
    if not wm:
        return None
    allowed = set((forced or {}).get(table, []))
    cands = [
        d
        for d in indexes.values()
        if d.table == table
        and d.where is None
        and not d.exprs
        and (d.uncovered or d.name in allowed)
    ]
    if not cands:
        return None
    conjuncts = split_top(wm.group(1), "AND")
    best = None
    for d in cands:
        keyset = set(d.key)
        probe = [
            c
            for c in conjuncts
            if c.strip()
            and {t.lower() for t in re.findall(r"[A-Za-z_]\w*", c)} & base_cols
            <= keyset
        ]
        if not any(
            d.key[0] in {t.lower() for t in re.findall(r"[A-Za-z_]\w*", c)}
            for c in probe
        ):
            continue  # leading key unconstrained → index scan can't prune
        score = len(probe)
        if best is None or score > best[0]:
            best = (score, froms[0], d, " AND ".join(p.strip() for p in probe))
    if best is None:
        return None
    return best[1], best[2], best[3]


def _norm_pred(p: str) -> str:
    """Normalize a predicate for textual containment: lowercase, collapse
    whitespace, drop redundant outer parens."""
    p = re.sub(r"\s+", " ", p.strip().lower())
    # strip only a pair: the first '(' must close at the last ')'
    while p.startswith("(") and match_forward(p, 1) == len(p):
        p = p[1:-1].strip()
    return p


def substitute_table(text: str, table_ref: str, index_name: str) -> str:
    """Swap the FROM table reference for the index table name."""
    return re.sub(
        rf"(\bFROM\s+){re.escape(table_ref)}\b",
        rf"\g<1>{index_name}",
        text,
        count=1,
        flags=re.I,
    )
