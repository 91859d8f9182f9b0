"""Index consistency under random write scripts (IndexRegionObserver pin).

A random script runs against a table carrying a covered index, a partial
(``WHERE``) index, two functional indexes and an index on a view over it.
One property draws Engine.sql DML: UPSERT VALUES, partial-column UPSERT, ON
DUPLICATE KEY IGNORE / UPDATE / UPDATE_ONLY, DELETE (by PK and by PK
range), and a statement that raises — a row whose functional index key
overflows its CAST, by UPSERT VALUES or by UPSERT SELECT.  The other draws
the writers outside Engine.sql: CSV and JSON bulk loads and availableNow
CDC-apply micro-batches (``streaming.apply_changes``) from a source table,
between UPSERTs and range DELETEs.  Every one of these writers commits
through the change log, and the commit maintains the indexes.  After every
statement:

  * the base table equals a Python dict model of the script;
  * each index's live rows equal the model projected the way the index
    declares (key, base PK, INCLUDE columns; partial predicate; expression);
  * a snapshot read ``as_of`` the previous commit still shows the previous
    state — a statement never rewrites history;
  * no staged segment is left behind, and a statement that raises changes
    nothing.

Values include NULLs in index key columns, which the latest-wins window and
the maintenance key matching must group like any other value.
"""

from __future__ import annotations

import json
import os

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

KEYS = st.integers(min_value=0, max_value=5)
A = st.sampled_from(["x", "y", None])
B = st.one_of(st.none(), st.integers(min_value=-3, max_value=3))
C = st.sampled_from(["p", "Q", "q", None])
ROW = st.tuples(KEYS, A, B, C)
BATCH = st.lists(ROW, min_size=1, max_size=3)
# one bulk-load commit holds each key once (upsert_df's contract)
LOAD = st.lists(ROW, min_size=1, max_size=3, unique_by=lambda r: r[0])

# ON DUPLICATE KEY UPDATE assignments and their effect on an existing
# (a, b, c) row; no assignment reads a column another one writes
ASSIGNS = {
    "b = b + 1": lambda a, b, c: (a, None if b is None else b + 1, c),
    "a = 'x', b = b + 1": lambda a, b, c: ("x", None if b is None else b + 1, c),
    "c = 'Q'": lambda a, b, c: (a, b, "Q"),
    "a = 'y', c = NULL": lambda a, b, c: ("y", b, None),
}

UPSERT = st.tuples(st.just("upsert"), BATCH)
DELETE_RANGE = st.tuples(st.just("delete_range"), KEYS, KEYS)
# Engine.sql DML
STATEMENTS = st.lists(
    st.one_of(
        UPSERT,
        st.tuples(st.just("partial"), BATCH),
        st.tuples(st.just("ignore"), BATCH),
        st.tuples(st.just("update"), BATCH, st.sampled_from(sorted(ASSIGNS))),
        st.tuples(st.just("update_only"), BATCH, st.sampled_from(sorted(ASSIGNS))),
        st.tuples(st.just("delete_pk"), KEYS),
        DELETE_RANGE,
        st.tuples(st.just("raises"), BATCH, st.booleans()),
    ),
    min_size=1,
    max_size=5,
)
# the writers outside Engine.sql, between DML that changes and removes rows
LOADS = st.lists(
    st.one_of(
        st.tuples(st.just("load_csv"), LOAD),
        st.tuples(st.just("load_json"), LOAD),
        st.tuples(st.just("stream"), BATCH, KEYS),
        UPSERT,
        DELETE_RANGE,
    ),
    min_size=1,
    max_size=4,
)


def _lit(v) -> str:
    if v is None:
        return "NULL"
    return f"'{v}'" if isinstance(v, str) else str(v)


def _values(rows) -> str:
    return ", ".join("(" + ", ".join(_lit(v) for v in r) + ")" for r in rows)


def _last_wins(rows) -> dict:
    # one statement's VALUES rows: the last row per key wins (MutationState)
    return {r[0]: r[1:] for r in rows}


class Writer:
    """Runs statements against ``ic`` (and, for the streaming kind, its
    change-log source ``ic_src``) with the files they need under ``tmp``."""

    def __init__(self, spark, e, tmp):
        self.spark, self.e, self.tmp = spark, e, tmp
        self.src_model: dict = {}
        self.n = 0

    def _file(self, suffix: str) -> str:
        self.n += 1
        return str(self.tmp / f"load{self.n}.{suffix}")

    def run(self, model: dict, stmt) -> None:
        """Execute one statement and fold it into ``model``."""
        op, e = stmt[0], self.e
        if op == "load_csv":
            path = self._file("csv")
            with open(path, "w") as f:
                f.write("k,a,b,c\n")
                for r in stmt[1]:
                    f.write(",".join("" if v is None else str(v) for v in r) + "\n")
            e.bulk_load_csv("ic", path)
            model.update(_last_wins(stmt[1]))
        elif op == "load_json":
            path = self._file("json")
            with open(path, "w") as f:
                for r in stmt[1]:
                    f.write(json.dumps(dict(zip("kabc", r))) + "\n")
            e.bulk_load_json("ic", path)
            model.update(_last_wins(stmt[1]))
        elif op == "stream":
            self.stream(model, stmt[1], stmt[2])
        else:
            _run(e, model, stmt)

    def stream(self, model: dict, rows, victim) -> None:
        """One availableNow micro-batch: the source gets an UPSERT and a
        DELETE, and ``apply_changes`` replays both into ``ic``."""
        from phoenix_spark.streaming import apply_changes

        e = self.e
        e.sql(f"UPSERT INTO ic_src VALUES {_values(rows)}")
        e.sql(f"DELETE FROM ic_src WHERE k = {victim}")
        self.src_model.update(_last_wins(rows))
        model.update(_last_wins(rows))
        if self.src_model.pop(victim, None) is not None:
            model.pop(victim, None)
        q = apply_changes(
            self.spark, e.managed("ic_src"), e.managed("ic"), str(self.tmp / "ckpt")
        )
        assert q.awaitTermination(120)
        assert q.exception() is None


def _run(e, model: dict, stmt) -> None:
    """Execute one statement and fold it into ``model`` ({k: (a, b, c)})."""
    op = stmt[0]
    if op == "upsert":
        e.sql(f"UPSERT INTO ic VALUES {_values(stmt[1])}")
        model.update(_last_wins(stmt[1]))
    elif op == "partial":
        # only (k, b) are written; a and c of an existing row are kept
        rows = [(k, b) for k, _a, b, _c in stmt[1]]
        e.sql(f"UPSERT INTO ic (k, b) VALUES {_values(rows)}")
        for k, b in {k: b for k, b in rows}.items():
            a, _b, c = model.get(k, (None, None, None))
            model[k] = (a, b, c)
    elif op == "ignore":
        e.sql(f"UPSERT INTO ic VALUES {_values(stmt[1])} ON DUPLICATE KEY IGNORE")
        for k, v in _last_wins(stmt[1]).items():
            model.setdefault(k, v)
    elif op in ("update", "update_only"):
        kw = "UPDATE_ONLY" if op == "update_only" else "UPDATE"
        e.sql(
            f"UPSERT INTO ic VALUES {_values(stmt[1])} "
            f"ON DUPLICATE KEY {kw} {stmt[2]}"
        )
        for k, v in _last_wins(stmt[1]).items():
            if k in model:
                model[k] = ASSIGNS[stmt[2]](*model[k])
            elif op == "update":
                model[k] = v
    elif op == "raises":
        # b = 1000 overflows ic_cast's CAST(b AS TINYINT), by VALUES (always)
        # or by SELECT (when any row holds a b); either way nothing changes
        if stmt[2]:
            sql = "UPSERT INTO ic SELECT k, a, b + 1000, c FROM ic"
            raises = any(b is not None for _a, b, _c in model.values())
        else:
            k, a, _b, c = stmt[1][-1]
            sql = f"UPSERT INTO ic VALUES {_values([*stmt[1][:-1], (k, a, 1000, c)])}"
            raises = True
        try:
            e.sql(sql)
        except Exception as exc:  # noqa: BLE001 - checked below
            assert raises and "CAST_OVERFLOW" in str(exc), exc
        else:
            assert not raises, sql
    elif op == "delete_pk":
        e.sql(f"DELETE FROM ic WHERE k = {stmt[1]}")
        model.pop(stmt[1], None)
    else:
        lo, hi = sorted(stmt[1:])
        e.sql(f"DELETE FROM ic WHERE k BETWEEN {lo} AND {hi}")
        for k in [k for k in model if lo <= k <= hi]:
            del model[k]


def _expected_indexes(model: dict) -> dict:
    return {
        # CREATE INDEX ic_cov ON ic (a) INCLUDE (b)
        "ic_cov": {(a, k, b) for k, (a, b, c) in model.items()},
        # CREATE INDEX ic_part ON ic (b) INCLUDE (c) WHERE a = 'x'
        "ic_part": {(b, k, c) for k, (a, b, c) in model.items() if a == "x"},
        # CREATE INDEX ic_fn ON ic (UPPER(c)) INCLUDE (b)
        "ic_fn": {
            (None if c is None else c.upper(), k, b)
            for k, (a, b, c) in model.items()
        },
        # CREATE INDEX ic_cast ON ic (CAST(b AS TINYINT))
        "ic_cast": {(b, k) for k, (a, b, c) in model.items()},
        # CREATE VIEW icv AS SELECT * FROM ic WHERE b > 0;
        # CREATE INDEX icv_ix ON icv (c) INCLUDE (a)
        "icv_ix": {
            (c, k, a) for k, (a, b, c) in model.items() if b is not None and b > 0
        },
    }


def _rows(df) -> set:
    return {tuple(r) for r in df.collect()}


def _check(spark, tmp, script) -> None:
    """Run ``script`` against ``ic`` and its indexes, checking each step."""
    from phoenix_spark.engine import Engine

    e = Engine(spark, warehouse=str(tmp / "wh"))
    for t in ("ic", "ic_src"):
        e.sql(
            f"CREATE TABLE {t} (k BIGINT NOT NULL, a VARCHAR, b BIGINT, "
            "c VARCHAR, CONSTRAINT pk PRIMARY KEY (k))"
        )
    e.sql("CREATE INDEX ic_cov ON ic (a) INCLUDE (b)")
    e.sql("CREATE INDEX ic_part ON ic (b) INCLUDE (c) WHERE a = 'x'")
    e.sql("CREATE INDEX ic_fn ON ic (UPPER(c)) INCLUDE (b)")
    e.sql("CREATE INDEX ic_cast ON ic (CAST(b AS TINYINT))")
    e.sql("CREATE VIEW icv AS SELECT * FROM ic WHERE b > 0")
    e.sql("CREATE INDEX icv_ix ON icv (c) INCLUDE (a)")
    base = e.managed("ic")
    writer = Writer(spark, e, tmp)
    model: dict = {}
    for stmt in script:
        before, prev_ts = dict(model), e.commit_ts("ic")
        writer.run(model, stmt)
        want = {(k, *v) for k, v in model.items()}
        assert _rows(base.read()) == want, stmt
        for name, rows in _expected_indexes(model).items():
            assert _rows(e.managed(name).read()) == rows, (name, stmt)
        snapshot = _rows(base.read(as_of=prev_ts))
        assert snapshot == {(k, *v) for k, v in before.items()}, stmt
        for name in ("ic", *_expected_indexes(model)):
            assert not [p for p in os.listdir(e.managed(name).dir) if p.startswith("_stage")]


_SETTINGS = dict(
    deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture]
)


@settings(max_examples=8, **_SETTINGS)
@given(script=STATEMENTS)
def test_indexes_match_base_projection(spark, tmp_path_factory, script):
    _check(spark, tmp_path_factory.mktemp("ic"), script)


@settings(max_examples=4, **_SETTINGS)
@given(script=LOADS)
def test_bulk_loads_and_stream_match_base_projection(
    spark, tmp_path_factory, script
):
    _check(spark, tmp_path_factory.mktemp("ic"), script)


# -- writers outside Engine.sql: failing-first reproductions ------------------

_Q = "SELECT v, w FROM {} WHERE v >= 'a'"


def _indexed(spark, tmp_path, view_pred=None, first=()):
    """A table ``t`` with an index on it, or on a view ``tv`` over it, made
    after the statements ``first``."""
    from phoenix_spark.engine import Engine

    e = Engine(spark, warehouse=str(tmp_path / "wh"))
    for stmt in first:
        e.sql(stmt)
    e.sql("CREATE TABLE t (k INTEGER PRIMARY KEY, v VARCHAR, w INTEGER)")
    if view_pred is None:
        e.sql("CREATE INDEX ix ON t (v) INCLUDE (w)")
    else:
        e.sql(f"CREATE VIEW tv AS SELECT * FROM t WHERE {view_pred}")
        e.sql("CREATE INDEX ix ON tv (v) INCLUDE (w)")
    e.sql("UPSERT INTO t VALUES (1, 'a', 10)")
    return e


def _served(e, table: str) -> tuple[list, list]:
    """Rows of the probe query as the index serves it, and with NO_INDEX."""
    q = _Q.format(table)
    hinted = q.replace("SELECT", "SELECT /*+ NO_INDEX */", 1)
    return (
        sorted(tuple(r) for r in e.sql(q).collect()),
        sorted(tuple(r) for r in e.sql(hinted).collect()),
    )


def _by_index(e, table: str) -> bool:
    return os.path.join("ix", "segments") in e.explain(_Q.format(table))


def test_bulk_load_csv_maintains_index(spark, tmp_path):
    e = _indexed(spark, tmp_path)
    path = tmp_path / "load.csv"
    path.write_text("k,v,w\n2,b,20\n3,c,30\n1,z,11\n")
    assert e.bulk_load_csv("t", str(path)) == 3
    assert _by_index(e, "t")
    want = [("b", 20), ("c", 30), ("z", 11)]
    assert _served(e, "t") == (want, want)


def _apply_stream(spark, e, tmp_path):
    """Apply, by an availableNow ``apply_changes`` micro-batch, the changes
    of a source ``s`` that puts (2, 'd', 40), (3, 'q', 5) and deletes k=1."""
    from phoenix_spark.streaming import apply_changes

    e.sql("CREATE TABLE s (k INTEGER PRIMARY KEY, v VARCHAR, w INTEGER)")
    e.sql("UPSERT INTO s VALUES (1, 'x', 1), (2, 'd', 40), (3, 'q', 5)")
    e.sql("DELETE FROM s WHERE k = 1")
    q = apply_changes(spark, e.managed("s"), e.managed("t"), str(tmp_path / "ckpt"))
    assert q.awaitTermination(120)
    assert q.exception() is None


def test_apply_changes_maintains_index(spark, tmp_path):
    e = _indexed(spark, tmp_path)
    t = e.managed("t")
    segs = len(t._segments())
    _apply_stream(spark, e, tmp_path)
    assert sorted(tuple(r) for r in t.read().collect()) == [(2, "d", 40), (3, "q", 5)]
    assert sorted(tuple(r) for r in e.managed("ix").read().collect()) == [
        ("d", 2, 40),
        ("q", 3, 5),
    ]
    # the micro-batch's puts and tombstone are one commit
    assert len(t._segments()) == segs + 1


def test_engine_serves_a_commit_made_outside_it(spark, tmp_path):
    """A commit by ``ManagedTable.upsert_df`` (as streaming and TTL
    expiry make them) reaches the Engine's temp views, base and index."""
    e = _indexed(spark, tmp_path)
    e.managed("t").upsert_df(
        spark.createDataFrame([(2, "d", 40)], "k int, v string, w int")
    )
    want = [("a", 10), ("d", 40)]
    assert _served(e, "t") == (want, want)


def test_engine_serves_rows_applied_by_a_stream(spark, tmp_path):
    e = _indexed(spark, tmp_path)
    _served(e, "t")  # the temp views as the engine registered them
    _apply_stream(spark, e, tmp_path)
    want = [("d", 40), ("q", 5)]
    assert _by_index(e, "t")
    assert _served(e, "t") == (want, want)


def test_index_on_qualified_table_beside_a_view_of_its_bare_name(spark, tmp_path):
    """``CREATE INDEX ix2 ON s2.tv`` indexes table ``s2.tv``, not the view
    ``tv`` over ``t``."""
    from phoenix_spark.indexes import load_indexes

    first = ("CREATE TABLE s2.tv (k INTEGER PRIMARY KEY, v VARCHAR)",)
    e = _indexed(spark, tmp_path, view_pred="w > 5", first=first)
    e.sql("CREATE INDEX ix2 ON s2.tv (v)")
    d = load_indexes(e.warehouse)["ix2"]
    assert (d.base, d.chain) == ("s2.tv", None)
    e.sql("UPSERT INTO s2.tv VALUES (7, 'm')")
    assert [tuple(r) for r in e.managed("ix2").read().collect()] == [("m", 7)]


def test_catalog_places_index_on_qualified_table_beside_a_view(spark, tmp_path):
    """SYSTEM.CATALOG lists ``ix2`` under its table's schema ``S2``, not as
    a view index on the view ``tv`` of the same bare name; the view index
    ``ix`` keeps its view index id."""
    first = ("CREATE TABLE s2.tv (k INTEGER PRIMARY KEY, v VARCHAR)",)
    e = _indexed(spark, tmp_path, view_pred="w > 5", first=first)
    e.sql("CREATE INDEX ix2 ON s2.tv (v)")
    rows = e.sql(
        "SELECT TABLE_NAME, TABLE_SCHEM, VIEW_INDEX_ID FROM SYSTEM.CATALOG "
        "WHERE TABLE_TYPE = 'i' AND COLUMN_COUNT IS NOT NULL"
    ).collect()
    assert sorted(tuple(r) for r in rows) == [("IX", None, 1), ("IX2", "S2", None)]


def test_truncate_clears_view_index(spark, tmp_path):
    e = _indexed(spark, tmp_path, view_pred="w > 5")
    assert _by_index(e, "tv")
    assert _served(e, "tv") == ([("a", 10)], [("a", 10)])
    e.sql("TRUNCATE TABLE t")
    assert _served(e, "tv") == ([], [])


def test_drop_view_drops_its_index(spark, tmp_path):
    from phoenix_spark.indexes import load_indexes

    # a table of the view's bare name in another schema keeps its index
    first = (
        "CREATE TABLE s2.tv (k INTEGER PRIMARY KEY, v VARCHAR)",
        "CREATE INDEX ix2 ON s2.tv (v)",
    )
    e = _indexed(spark, tmp_path, view_pred="w > 5", first=first)
    e.sql("DROP VIEW tv")
    assert set(load_indexes(e.warehouse)) == {"ix2"}
    e.sql("UPSERT INTO t VALUES (2, 'b', 20)")
    assert not os.path.exists(os.path.join(e.warehouse, "ix"))


@pytest.mark.parametrize("view_pred", [None, "w > 5"])
def test_registry_without_base_is_bound_and_maintained(spark, tmp_path, view_pred):
    """An index entry written before the registry recorded the physical base
    is bound when an engine opens the warehouse, and commits maintain it."""
    from phoenix_spark.engine import Engine
    from phoenix_spark.indexes import REGISTRY, load_indexes

    e = _indexed(spark, tmp_path, view_pred)
    path = os.path.join(e.warehouse, REGISTRY)
    with open(path) as f:
        reg = json.load(f)
    for entry in reg.values():
        for k in ("base", "chain", "expr_sql", "where_sql"):
            del entry[k]
    with open(path, "w") as f:
        json.dump(reg, f)
    e = Engine(spark, warehouse=e.warehouse)
    assert load_indexes(e.warehouse)["ix"].base == "t"
    e.sql("UPSERT INTO t VALUES (1, 'z', 11), (2, 'b', 20)")
    table = "t" if view_pred is None else "tv"
    assert _by_index(e, table)
    want = [("b", 20), ("z", 11)]
    assert _served(e, table) == (want, want)
