"""Index consistency under random DML scripts (IndexRegionObserver pin).

A random script of UPSERT VALUES, partial-column UPSERT, ON DUPLICATE KEY
IGNORE / UPDATE / UPDATE_ONLY and DELETE (by PK and by PK range) runs
through ``Engine.sql`` against a table carrying a covered index, a partial
(``WHERE``) index and a functional index.  After every statement:

  * the base table equals a Python dict model of the script;
  * each index's live rows equal the model projected the way the index
    declares (key, base PK, INCLUDE columns; partial predicate; expression);
  * a snapshot read ``as_of`` the previous commit still shows the previous
    state — a statement never rewrites history.

Values include NULLs in index key columns, which the latest-wins window and
the maintenance key matching must group like any other value.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

KEYS = st.integers(min_value=0, max_value=5)
A = st.sampled_from(["x", "y", None])
B = st.one_of(st.none(), st.integers(min_value=-3, max_value=3))
C = st.sampled_from(["p", "Q", "q", None])
ROW = st.tuples(KEYS, A, B, C)
BATCH = st.lists(ROW, min_size=1, max_size=3)

# ON DUPLICATE KEY UPDATE assignments and their effect on an existing
# (a, b, c) row; no assignment reads a column another one writes
ASSIGNS = {
    "b = b + 1": lambda a, b, c: (a, None if b is None else b + 1, c),
    "a = 'x', b = b + 1": lambda a, b, c: ("x", None if b is None else b + 1, c),
    "c = 'Q'": lambda a, b, c: (a, b, "Q"),
    "a = 'y', c = NULL": lambda a, b, c: ("y", b, None),
}

STATEMENTS = st.lists(
    st.one_of(
        st.tuples(st.just("upsert"), BATCH),
        st.tuples(st.just("partial"), BATCH),
        st.tuples(st.just("ignore"), BATCH),
        st.tuples(st.just("update"), BATCH, st.sampled_from(sorted(ASSIGNS))),
        st.tuples(st.just("update_only"), BATCH, st.sampled_from(sorted(ASSIGNS))),
        st.tuples(st.just("delete_pk"), KEYS),
        st.tuples(st.just("delete_range"), KEYS, KEYS),
    ),
    min_size=1,
    max_size=5,
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
    }


def _rows(df) -> set:
    return {tuple(r) for r in df.collect()}


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(script=STATEMENTS)
def test_indexes_match_base_projection(spark, tmp_path_factory, script):
    from phoenix_spark.engine import Engine

    e = Engine(spark, warehouse=str(tmp_path_factory.mktemp("ic_wh")))
    e.sql(
        "CREATE TABLE ic (k BIGINT NOT NULL, a VARCHAR, b BIGINT, c VARCHAR, "
        "CONSTRAINT pk PRIMARY KEY (k))"
    )
    e.sql("CREATE INDEX ic_cov ON ic (a) INCLUDE (b)")
    e.sql("CREATE INDEX ic_part ON ic (b) INCLUDE (c) WHERE a = 'x'")
    e.sql("CREATE INDEX ic_fn ON ic (UPPER(c)) INCLUDE (b)")
    base = e.managed("ic")
    model: dict = {}
    for stmt in script:
        before, prev_ts = dict(model), e.commit_ts("ic")
        _run(e, model, stmt)
        want = {(k, *v) for k, v in model.items()}
        assert _rows(base.read()) == want, stmt
        for name, rows in _expected_indexes(model).items():
            assert _rows(e.managed(name).read()) == rows, (name, stmt)
        snapshot = _rows(base.read(as_of=prev_ts))
        assert snapshot == {(k, *v) for k, v in before.items()}, stmt
