"""Name resolution: every table, view and index reference binds once, by its
qualified name, in the connection's context.

Phoenix's FromCompiler resolves each table reference against the catalog by
(tenant, schema, name) and uses that binding for the whole statement.  Here a
reference resolves to one managed table, view or index of the USE'd schema,
the tenant and the SCN of the connection, and reads it through a temp view of
its own, registered when a statement reads it and again only when the table
has moved since.  So a name never shows another schema's table, a scoped
connection never reads unscoped rows through any FROM form, and a write
registers nothing.

Also here: LTRIM/RTRIM take one argument, and a TIMESTAMP literal the session
zone repeats or skips commits as the instant Spark's SQL literal gives.
"""

from __future__ import annotations

import os

import pytest


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture
def engine(spark, tmp_path):
    from phoenix_spark.engine import Engine

    return Engine(spark, warehouse=str(tmp_path / "wh"))


def test_view_does_not_read_a_table_of_its_bare_name(engine):
    e = engine
    e.sql("CREATE TABLE t (k INTEGER PRIMARY KEY, v VARCHAR, w INTEGER)")
    e.sql("CREATE VIEW tv AS SELECT * FROM t WHERE w > 5")
    e.sql("CREATE SCHEMA s2")
    e.sql("CREATE TABLE s2.tv (k INTEGER PRIMARY KEY, v VARCHAR)")
    e.sql("UPSERT INTO t VALUES (1, 'a', 10)")
    e.sql("UPSERT INTO s2.tv VALUES (7, 'm')")
    assert _rows(e.sql("SELECT k, v FROM tv")) == [(1, "a")]
    assert _rows(e.sql("SELECT k, v FROM s2.tv")) == [(7, "m")]
    assert _rows(e.sql("SELECT s2.tv.k FROM s2.tv")) == [(7,)]
    # both in one statement, each under its own binding
    got = e.sql("SELECT a.v, b.v FROM tv a JOIN s2.tv b ON a.k < b.k")
    assert _rows(got) == [("a", "m")]


def test_one_bare_name_in_two_schemas(engine):
    """``s1.t`` and ``s2.t``: a view over one and an index on the other
    each read their own table, whichever was written last."""
    e = engine
    for s, rows in (("s1", "(1, 'a', 10)"), ("s2", "(2, 'a', 20)")):
        e.sql(f"CREATE SCHEMA {s}")
        e.sql(f"CREATE TABLE {s}.t (k INTEGER PRIMARY KEY, v VARCHAR, w INTEGER)")
        e.sql(f"UPSERT INTO {s}.t VALUES {rows}")
    e.sql("CREATE VIEW v1 AS SELECT * FROM s1.t WHERE w > 5")
    e.sql("CREATE INDEX ix2 ON s2.t (v) INCLUDE (w)")
    e.sql("UPSERT INTO s2.t VALUES (3, 'b', 30)")
    assert _rows(e.sql("SELECT k, w FROM v1")) == [(1, 10)]
    q2 = "SELECT k, w FROM s2.t WHERE v = 'a'"
    assert os.path.join("ix2", "segments") in e.explain(q2)
    assert _rows(e.sql(q2)) == [(2, 20)]
    # the index on s2.t never serves s1.t
    q1 = "SELECT k, w FROM s1.t WHERE v = 'a'"
    assert os.path.join("ix2", "segments") not in e.explain(q1)
    assert _rows(e.sql(q1)) == [(1, 10)]
    # a DELETE's subquery binds its own references
    e.sql("DELETE FROM s1.t WHERE k IN (SELECT k - 1 FROM s2.t WHERE v = 'a')")
    assert _rows(e.sql("SELECT k FROM v1")) == []
    # USE s2 makes the bare name s2's
    e.sql("USE s2")
    assert _rows(e.sql("SELECT k FROM t WHERE v = 'b'")) == [(3,)]


def test_index_on_qualified_table_beside_an_unqualified_one(engine):
    e = engine
    e.sql("CREATE TABLE t (k INTEGER PRIMARY KEY, v VARCHAR, w INTEGER)")
    e.sql("CREATE SCHEMA s")
    e.sql("CREATE TABLE s.t (k INTEGER PRIMARY KEY, v VARCHAR, w INTEGER)")
    e.sql("UPSERT INTO t VALUES (1, 'a', 10)")
    e.sql("UPSERT INTO s.t VALUES (2, 'a', 20)")
    e.sql("CREATE INDEX ix ON s.t (v) INCLUDE (w)")
    q = "SELECT k, w FROM t WHERE v = 'a'"
    assert os.path.join("ix", "segments") not in e.explain(q)
    assert _rows(e.sql(q)) == [(1, 10)]
    assert _rows(e.sql("SELECT k, w FROM s.t WHERE v = 'a'")) == [(2, 20)]
    # maintained by s.t's commits only
    e.sql("UPSERT INTO t VALUES (3, 'a', 30)")
    e.sql("UPSERT INTO s.t VALUES (4, 'a', 40)")
    assert _rows(e.managed("ix").read().select("k", "w")) == [(2, 20), (4, 40)]


def test_schema_qualified_index_is_altered_and_dropped_by_its_name(engine):
    """``CREATE INDEX s2.ix2`` records ``s2.ix2``; ALTER INDEX and DROP
    INDEX find it by the same name."""
    e = engine
    e.sql("CREATE SCHEMA s2")
    e.sql("CREATE TABLE s2.t (k INTEGER PRIMARY KEY, v VARCHAR, w INTEGER)")
    e.sql("UPSERT INTO s2.t VALUES (1, 'a', 10)")
    e.sql("CREATE INDEX s2.ix2 ON s2.t (v) INCLUDE (w)")
    q = "SELECT k, w FROM s2.t WHERE v = 'a'"
    served = os.path.join("s2", "ix2", "segments")
    assert served in e.explain(q)
    e.sql("ALTER INDEX s2.ix2 ON s2.t UNUSABLE")
    assert served not in e.explain(q)
    e.sql("ALTER INDEX s2.ix2 ON s2.t REBUILD")
    assert served in e.explain(q)
    e.sql("DROP INDEX s2.ix2 ON s2.t")
    assert "s2.ix2" not in e._indexes
    assert served not in e.explain(q)
    assert _rows(e.sql(q)) == [(1, 10)]


def test_views_of_one_name_in_two_schemas(engine):
    """``CREATE VIEW v`` under ``USE s`` makes ``s.v``, over the parent it
    names in ``s``: two schemas' ``v`` coexist, and each reads its own
    table's rows whatever schema is USE'd when it is read."""
    e = engine
    for s, row in (("s1", "(1, 'a')"), ("s2", "(2, 'b')")):
        e.sql(f"CREATE SCHEMA {s}")
        e.sql(f"USE {s}")
        e.sql("CREATE TABLE t (k INTEGER PRIMARY KEY, v VARCHAR)")
        e.sql(f"UPSERT INTO t VALUES {row}")
        e.sql("CREATE VIEW v AS SELECT * FROM t")
    assert sorted(e._views) == ["s1.v", "s2.v"]
    assert _rows(e.sql("SELECT k, v FROM v")) == [(2, "b")]
    assert _rows(e.sql("SELECT k, v FROM s1.v")) == [(1, "a")]
    e.sql("USE s1")
    assert _rows(e.sql("SELECT k, v FROM v")) == [(1, "a")]
    assert _rows(e.sql("SELECT k, v FROM s2.v")) == [(2, "b")]
    e.sql("DROP VIEW v")
    assert sorted(e._views) == ["s2.v"]


def _tenant_tables(e):
    e.sql(
        "CREATE TABLE mt (tid VARCHAR NOT NULL, k INTEGER NOT NULL, v VARCHAR, "
        "CONSTRAINT pk PRIMARY KEY (tid, k)) MULTI_TENANT=true"
    )
    e.sql("CREATE TABLE one (k INTEGER PRIMARY KEY)")
    e.sql("UPSERT INTO one VALUES (1)")
    e.sql("UPSERT INTO mt VALUES ('a', 1, 'mine'), ('b', 2, 'theirs')")


def test_tenant_connection_scopes_comma_joins(engine):
    _tenant_tables(engine)
    a = engine.with_tenant("a")
    assert _rows(a.sql("SELECT m.* FROM one JOIN mt m ON 1 = 1")) == [(1, "mine")]
    assert _rows(a.sql("SELECT m.* FROM one, mt m")) == [(1, "mine")]
    assert _rows(a.sql("SELECT mt.v FROM one, mt")) == [("mine",)]
    # the unscoped connection still sees every tenant
    assert len(engine.sql("SELECT m.* FROM one, mt m").collect()) == 2


def test_scn_connection_reads_its_snapshot_through_comma_joins(engine):
    e = engine
    e.sql("CREATE TABLE one (k INTEGER PRIMARY KEY)")
    e.sql("UPSERT INTO one VALUES (1)")
    e.sql("CREATE TABLE t (k INTEGER PRIMARY KEY, v VARCHAR)")
    e.sql("UPSERT INTO t VALUES (1, 'old')")
    scn = e.commit_ts("t")
    e.sql("UPSERT INTO t VALUES (1, 'new'), (2, 'later')")
    at = e.with_scn(scn)
    assert _rows(at.sql("SELECT t.k, t.v FROM one JOIN t ON one.k = t.k")) == [
        (1, "old")
    ]
    assert _rows(at.sql("SELECT t.k, t.v FROM one, t")) == [(1, "old")]
    assert _rows(e.sql("SELECT t.k, t.v FROM one, t")) == [(1, "new"), (2, "later")]


def test_writes_register_no_view_and_reads_register_what_they_read(
    spark, engine, monkeypatch
):
    """A point UPSERT or DELETE on a table with indexes and a view registers
    no temp view; the next SELECT registers only the relations it reads, and
    a commit made outside the engine is still seen."""
    e = engine
    e.sql("CREATE TABLE t (k INTEGER PRIMARY KEY, v VARCHAR, w INTEGER, x INTEGER)")
    e.sql("CREATE INDEX ix_v ON t (v) INCLUDE (w)")
    e.sql("CREATE INDEX ix_w ON t (w)")
    e.sql("CREATE VIEW tv AS SELECT * FROM t WHERE w > 5")
    registered: list[str] = []
    frame = type(spark.range(0))  # the session's DataFrame class
    real = frame.createOrReplaceTempView

    def counted(df, name):
        registered.append(name)
        return real(df, name)

    monkeypatch.setattr(frame, "createOrReplaceTempView", counted)
    e.sql("UPSERT INTO t VALUES (1, 'a', 10, 0), (2, 'b', 20, 0)")
    e.sql("DELETE FROM t WHERE k = 2")
    assert registered == []
    assert _rows(e.sql("SELECT k, x FROM t WHERE k = 1")) == [(1, 0)]
    assert len(registered) == 1
    assert _rows(e.sql("SELECT k, x FROM t WHERE k = 1")) == [(1, 0)]
    assert len(registered) == 1  # the table has not moved
    e.managed("t").upsert_rows([{"k": 3, "v": "c", "w": 30, "x": 0}])
    assert _rows(e.sql("SELECT k FROM t WHERE x = 0")) == [(1,), (3,)]
    assert len(registered) == 2
    assert _rows(e.sql("SELECT k FROM tv")) == [(1,), (3,)]
    assert len(registered) == 3


@pytest.mark.parametrize("fn", ["LTRIM", "RTRIM"])
def test_trim_takes_one_argument(spark, fn):
    from phoenix_spark.sqlfront import PhoenixTranslationError, translate_phoenix_sql

    with pytest.raises(PhoenixTranslationError, match=f"{fn} takes one argument"):
        translate_phoenix_sql(f"SELECT {fn}('xxabxx', 'x')")
    sql = translate_phoenix_sql(f"SELECT {fn}('  ab  ') AS r")
    want = {"LTRIM": "ab  ", "RTRIM": "  ab"}[fn]
    assert spark.sql(sql).collect()[0].r == want


# a time New York repeats (fall back) and one it skips (spring forward)
_STAMPS = ["2020-11-01 01:30:00.123456", "2020-03-08 02:30:00"]


@pytest.mark.parametrize("path", ["point", "distributed"])
def test_timestamp_the_zone_repeats_or_skips(spark, tmp_path, monkeypatch, path):
    from phoenix_spark import mutations
    from phoenix_spark.engine import Engine

    if path == "distributed":
        monkeypatch.setattr(mutations, "_driver_held", lambda df: False)
    saved = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        e = Engine(spark, warehouse=str(tmp_path / "wh"))
        e.sql("CREATE TABLE ts_t (k INTEGER PRIMARY KEY, ts TIMESTAMP)")
        values = ", ".join(f"({i}, TIMESTAMP '{s}')" for i, s in enumerate(_STAMPS))
        e.sql(f"UPSERT INTO ts_t VALUES {values}")
        got = _rows(e.sql("SELECT k, ts FROM ts_t").selectExpr("k", "unix_micros(ts)"))
        want = [
            (i, spark.sql(f"SELECT unix_micros(TIMESTAMP '{s}')").collect()[0][0])
            for i, s in enumerate(_STAMPS)
        ]
    finally:
        spark.conf.set("spark.sql.session.timeZone", saved)
    assert got == want
