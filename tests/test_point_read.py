"""Point reads: a statement that pins the whole primary key reads its key's
rows with one pyarrow read on the driver, and runs no Spark job.

``ManagedTable._current`` reads the segments' parquet files itself, filtered
by an Arrow ``is_in`` on the keys, and resolves latest-wins on the driver.
It must return exactly the rows Spark's latest-wins read returns for the
same keys, whatever wrote the segments (a Spark job or the driver), over
every Phoenix column type, tombstones, DEFAULTs, re-added columns and
snapshot reads.  A SELECT that pins its one table's PK reads through it
(Phoenix's point lookup: a batch of Gets, no index choice) and must return
what the latest-wins read returns for the same statement; statements it
cannot serve exactly keep that read.
"""

from __future__ import annotations

import os

import pytest


def _jobs(spark, fn):
    """``fn()`` and the number of Spark jobs it starts."""
    sc = spark.sparkContext
    sc.setJobGroup("point_read", "point_read")
    before = set(sc.statusTracker().getJobIdsForGroup("point_read"))
    out = fn()
    return out, len(set(sc.statusTracker().getJobIdsForGroup("point_read")) - before)


def _sorted(table) -> list[str]:
    return sorted(repr(r) for r in table.to_pylist())


@pytest.fixture
def engine(spark, tmp_path):
    from phoenix_spark.engine import Engine

    return Engine(spark, warehouse=str(tmp_path / "wh"))


_ROW = (
    "({k}, {i}, {d}, {f}, '{s}', '{b}', DATE '{dt}', TIMESTAMP '{ts}', ARRAY[{k}, {i}], {k})"
)
_PK = "k, i, d, f, s, b, dt, ts"
# pins every PK column of _typed_table's row k = 3, and of k = 2 (DOUBLE -0.0
# stored, 0.0 pinned), which a Spark job's DELETE tombstones after the SCN
_PIN3 = (
    "k = 3 AND i = 3 AND d = 0.01 AND f = 1e300 AND s = 'x y' AND b = '' "
    "AND dt = DATE '2020-02-29' AND ts = TIMESTAMP '2038-01-19 03:14:08'"
)
_PIN2 = (
    "k = 2 AND i = -2 AND d = -3.5 AND f = 0.0 AND s = 'neg' AND b = 'cd' "
    "AND dt = DATE '1200-01-01' AND ts = TIMESTAMP '1969-12-31 23:59:59.999999'"
)


def _typed_table(e) -> int:
    """A table keyed on every scalar Phoenix type, with an ARRAY, a DEFAULT
    and a re-added column, written by Spark jobs and by the driver; returns
    the commit ts before its last three statements."""
    cols = (
        "k BIGINT NOT NULL, i INTEGER NOT NULL, d DECIMAL(10,2) NOT NULL, "
        "f DOUBLE NOT NULL, s VARCHAR, b VARBINARY NOT NULL, dt DATE NOT NULL, "
        "ts TIMESTAMP NOT NULL, a INTEGER ARRAY, y INTEGER"
    )
    e.sql(f"CREATE TABLE src ({cols}, CONSTRAINT pk PRIMARY KEY ({_PK}))")
    e.sql(f"CREATE TABLE ty ({cols}, x INTEGER DEFAULT 7, CONSTRAINT pk PRIMARY KEY ({_PK}))")
    rows = [
        dict(k=1, i=1, d="1.25", f="0.5", s="it''s", b="ab", dt="1500-03-01",
             ts="0001-01-01 00:00:00"),
        dict(k=2, i=-2, d="-3.50", f="-0.0", s="neg", b="cd", dt="1200-01-01",
             ts="1969-12-31 23:59:59.999999"),
        dict(k=3, i=3, d="0.01", f="1e300", s="x y", b="", dt="2020-02-29",
             ts="2038-01-19 03:14:08"),
        # '' is stored as NULL: a NULL key component
        dict(k=5, i=5, d="5", f="5", s="", b="gh", dt="0001-01-01", ts="9999-12-31 00:00:00"),
    ]
    e.sql("UPSERT INTO src VALUES " + ", ".join(_ROW.format(**r) for r in rows))
    # a Spark job writes the first segment (INT96 timestamps: year 1 and
    # 9999 among them) ...
    e.sql("UPSERT INTO ty (k, i, d, f, s, b, dt, ts, a, y) SELECT * FROM src")
    # ... the driver the next ones
    e.sql("UPSERT INTO ty (k, i, d, f, s, b, dt, ts, y, x) VALUES "
          "(5, 5, 5, 5, '', 'gh', DATE '0001-01-01', TIMESTAMP '9999-12-31 00:00:00', 50, NULL)")
    e.sql("ALTER TABLE ty DROP COLUMN y")
    e.sql("ALTER TABLE ty ADD y VARCHAR")
    e.sql("UPSERT INTO ty (k, i, d, f, s, b, dt, ts, y) VALUES "
          "(3, 3, 0.01, 1e300, 'x y', '', DATE '2020-02-29', "
          "TIMESTAMP '2038-01-19 03:14:08', 'new')")
    scn = e.commit_ts("ty")
    # tombstones from a Spark job and from the driver
    e.sql("DELETE FROM ty WHERE i < 0")
    e.sql("UPSERT INTO ty (k, i, d, f, s, b, dt, ts) VALUES "
          "(4, 4, 4, 4, 'four', 'ef', DATE '1582-10-04', TIMESTAMP '1582-10-15 00:00:00')")
    e.sql("DELETE FROM ty WHERE k = 4 AND i = 4 AND d = 4 AND f = 4 AND s = 'four' "
          "AND b = 'ef' AND dt = DATE '1582-10-04' AND ts = TIMESTAMP '1582-10-15 00:00:00'")
    return scn


def test_arrow_read_matches_spark_read_over_every_type(spark, engine):
    from phoenix_spark.mutations import collect_arrow

    scn = _typed_table(engine)
    mt = engine.managed("ty")
    meta = mt.meta
    assert meta.get("physical") == {"y": "y_2"}
    # every key ever stored, tombstoned ones and absent versions too
    keys = collect_arrow(mt._scan(mt._segments(), meta).select(*meta["pk"]))
    assert keys.num_rows > mt.read().count()
    for as_of in (None, scn):
        want = collect_arrow(mt.read(as_of=as_of, keys=spark.createDataFrame(keys)))
        got = mt._current(keys, meta, as_of)
        assert [(f.name, f.type) for f in got.schema] == [(f.name, f.type) for f in want.schema]
        assert _sorted(got) == _sorted(want), as_of
    got = mt._current(keys, meta)
    assert sorted(got.select(["k", "x", "y"]).to_pylist(), key=lambda r: r["k"]) == [
        {"k": 1, "x": 7, "y": None},  # the DEFAULT; the dropped y stays dropped
        {"k": 3, "x": 7, "y": "new"},
        {"k": 5, "x": 7, "y": None},
    ]
    # the years 1 and 9999 a Spark job wrote as INT96 read back unwrapped
    years = sorted(t.year for t in got.column("ts").to_pylist())
    assert years == [1, 2038, 9999]


def test_arrow_read_opens_only_parquet_part_files(engine):
    _typed_table(engine)
    mt = engine.managed("ty")
    files = mt._part_files()
    listed = {os.path.basename(f) for s in mt._segments() for f in os.listdir(s)}
    assert "_SUCCESS" in listed and any(f.endswith(".crc") for f in listed)
    assert files and all(os.path.basename(f).startswith("part-") for f in files)
    assert all(f.endswith(".parquet") for f in files)


def test_array_key_is_not_arrow_read(spark, engine):
    from phoenix_spark.mutations import collect_arrow

    e = engine
    e.sql("CREATE TABLE ak (k INTEGER ARRAY NOT NULL, v INTEGER, CONSTRAINT pk PRIMARY KEY (k))")
    e.sql("UPSERT INTO ak VALUES (ARRAY[1], 1), (ARRAY[2], 2)")
    mt = e.managed("ak")
    keys = collect_arrow(mt.read().select("k"))
    assert mt._current(keys, mt.meta) is None
    assert sorted(r.v for r in mt.read(keys=keys).collect()) == [1, 2]


_SELECTS = [
    "SELECT * FROM t WHERE k = 2",
    "SELECT v, w FROM t WHERE k = 2 AND w > 0",
    "SELECT v FROM t WHERE k = 2 AND w < 0",
    "SELECT COUNT(*), MAX(w) FROM t WHERE (k = 3)",
    "SELECT x.v FROM t x WHERE x.k = 1 ORDER BY x.v LIMIT 1",
    "SELECT s.t.v FROM s.t WHERE k = 7",
    "SELECT * FROM tv WHERE k = 3",
    "SELECT * FROM tv WHERE k = 1",
    "SELECT * FROM t WHERE k = 9",
    "SELECT * FROM t WHERE k = 1 AND v = 'a' OR k = 3",
    "SELECT * FROM c WHERE a = 'p' AND n = 2",
    "SELECT * FROM c WHERE n = 2",
    "SELECT * FROM t WHERE k = 1.5",
    "SELECT * FROM t WHERE k = 2.0",
    "SELECT * FROM t WHERE k = '3'",
    "SELECT * FROM c WHERE a = 'p' AND n = 2 UNION ALL SELECT * FROM c WHERE a = 'q' AND n = 1",
    "SELECT * FROM t WHERE k = 3 AND v IN (SELECT v FROM t WHERE w > 1)",
    # b is stored NULL and reads as its DEFAULT
    "SELECT * FROM dp WHERE a = 1 AND b = 5",
    "SELECT t.v FROM t WHERE t.k = 2",
    # a pin in another branch, or on another relation, does not pin t
    "SELECT k, v FROM t UNION ALL SELECT * FROM (SELECT 1 AS k, 'x' AS v) d WHERE k = 1",
    "SELECT t.v FROM t, (SELECT 1 AS k) s WHERE s.k = 1",
    "SELECT t.v FROM t CROSS JOIN (SELECT 1 AS k) s WHERE s.k = 1",
]
# the statements served by a point read, and those of them that run no job
# (an aggregate or a sort over a LocalRelation still runs one)
_POINT = {0, 1, 2, 3, 4, 5, 6, 7, 8, 10, 13, 17, 18}
_NO_JOB = _POINT - {3, 4}


def _point_tables(e):
    e.sql("CREATE TABLE t (k INTEGER PRIMARY KEY, v VARCHAR, w INTEGER)")
    e.sql("CREATE INDEX t_v ON t (v) INCLUDE (w)")
    e.sql("CREATE VIEW tv AS SELECT * FROM t WHERE w > 5")
    e.sql("CREATE SCHEMA s")
    e.sql("CREATE TABLE s.t (k INTEGER PRIMARY KEY, v VARCHAR)")
    e.sql("CREATE TABLE c (a VARCHAR NOT NULL, n BIGINT NOT NULL, m DOUBLE, "
          "CONSTRAINT pk PRIMARY KEY (a, n))")
    e.sql("UPSERT INTO t VALUES (1, 'a', 1), (2, 'b', 2), (3, 'c', 30)")
    e.sql("UPSERT INTO t VALUES (2, 'bb', 20)")
    e.sql("DELETE FROM t WHERE k = 9")
    e.sql("UPSERT INTO s.t VALUES (7, 'seven')")
    e.sql("UPSERT INTO c VALUES ('p', 2, 0.5), ('q', 1, 1.5), ('p', 1, 2.5)")
    e.sql("CREATE TABLE dp (a INTEGER NOT NULL, b INTEGER DEFAULT 5, v VARCHAR, "
          "CONSTRAINT pk PRIMARY KEY (a, b))")
    e.sql("UPSERT INTO dp (a, v) VALUES (1, 'x')")


def test_point_select_returns_what_the_window_read_returns(spark, engine, monkeypatch):
    from phoenix_spark.engine import Engine

    e = engine
    _point_tables(e)
    point = {}
    for i, q in enumerate(_SELECTS):
        assert e.explain(q).startswith("POINT LOOKUP ON 1 KEY OVER") == (i in _POINT), q
        rows, jobs = _jobs(spark, lambda q=q: e.sql(q).collect())
        point[q] = sorted(map(tuple, rows))
        if i in _NO_JOB:
            assert jobs == 0, q
    monkeypatch.setattr(Engine, "_point_lookup", lambda self, text: None)
    for q in _SELECTS:
        assert not e.explain(q).startswith("POINT LOOKUP"), q
        assert sorted(map(tuple, e.sql(q).collect())) == point[q], q
    assert point[_SELECTS[0]] == [(2, "bb", 20)]
    assert point[_SELECTS[6]] == [(3, "c", 30)]
    assert point[_SELECTS[9]] == [(1, "a", 1), (3, "c", 30)]
    assert point[_SELECTS[17]] == [(1, 5, "x")]
    assert point[_SELECTS[19]] == [(1, "a"), (1, "x"), (2, "bb"), (3, "c")]
    assert point[_SELECTS[20]] == point[_SELECTS[21]] == [("a",), ("bb",), ("c",)]


def test_point_select_reads_a_snapshot_and_skips_tenant_connections(spark, engine):
    e = engine
    _point_tables(e)
    scn = e.commit_ts("t")
    e.sql("UPSERT INTO t VALUES (2, 'later', 0)")
    at = e.with_scn(scn)
    got, jobs = _jobs(spark, lambda: at.sql("SELECT v FROM t WHERE k = 2").collect())
    assert [r.v for r in got] == ["bb"] and jobs == 0
    e.sql(
        "CREATE TABLE mt (tid VARCHAR NOT NULL, k INTEGER NOT NULL, v VARCHAR, "
        "CONSTRAINT pk PRIMARY KEY (tid, k)) MULTI_TENANT=true"
    )
    e.sql("UPSERT INTO mt VALUES ('a', 1, 'mine'), ('b', 1, 'theirs')")
    a = e.with_tenant("a")
    assert a._point_lookup("SELECT v FROM mt WHERE k = 1") is None
    assert [r.v for r in a.sql("SELECT v FROM mt WHERE k = 1").collect()] == ["mine"]


@pytest.mark.parametrize("zone", ["UTC", "America/New_York"])
def test_point_select_pins_every_type(spark, engine, monkeypatch, zone):
    from phoenix_spark.engine import Engine

    saved = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", zone)
    try:
        scn = _typed_table(engine)
        at = engine.with_scn(scn)
        q3 = f"SELECT k, CAST(ts AS VARCHAR), x, y FROM ty WHERE {_PIN3}"
        q2 = f"SELECT k, f FROM ty WHERE {_PIN2}"
        got = {}
        for e, q in ((engine, q3), (engine, q2), (at, q2)):
            assert e.explain(q).startswith("POINT LOOKUP"), q
            got[e, q], jobs = _jobs(spark, lambda e=e, q=q: e.sql(q).collect())
            assert jobs == 0, q
        monkeypatch.setattr(Engine, "_point_lookup", lambda self, text: None)
        for e, q in got:
            assert got[e, q] == e.sql(q).collect(), q
    finally:
        spark.conf.set("spark.sql.session.timeZone", saved)
    assert [tuple(r) for r in got[engine, q3]] == [(3, "2038-01-19 03:14:08", 7, "new")]
    assert got[engine, q2] == []  # tombstoned by a Spark job
    assert [tuple(r) for r in got[at, q2]] == [(2, -0.0)]


def test_double_keys_match_as_spark_compares_them(engine):
    """A point commit finds a DOUBLE key as Spark's NULL-safe equality does:
    0.0 finds -0.0, and NaN finds NaN."""
    import math

    e = engine
    e.sql("CREATE TABLE dk (f DOUBLE NOT NULL PRIMARY KEY, n INTEGER)")
    e.sql("UPSERT INTO dk VALUES (-0.0, 1), (CAST('NaN' AS DOUBLE), 1)")
    e.sql(
        "UPSERT INTO dk VALUES (0.0, 0), (CAST('NaN' AS DOUBLE), 0) "
        "ON DUPLICATE KEY UPDATE n = n + 1"
    )
    rows = sorted((math.isnan(r.f), r.n) for r in e.sql("SELECT f, n FROM dk").collect())
    assert rows == [(False, 2), (True, 2)]


def test_or_binds_looser_than_and(engine):
    """``k = 1 AND v = 'x' OR k = 2`` is ``(k = 1 AND v = 'x') OR k = 2``:
    it pins no key, so DELETE and SELECT read every key it matches."""
    e = engine
    e.sql("CREATE TABLE t (k INTEGER PRIMARY KEY, v VARCHAR)")
    e.sql("UPSERT INTO t VALUES (1, 'x'), (2, 'y'), (3, 'z')")
    cond = "k = 1 AND v = 'x' OR k = 2"
    assert sorted(r.k for r in e.sql(f"SELECT k FROM t WHERE {cond}").collect()) == [1, 2]
    assert e.sql(f"DELETE FROM t WHERE {cond}") == 2
    assert [r.k for r in e.sql("SELECT k FROM t").collect()] == [3]


def test_explain_names_the_point_lookup_and_its_files(engine):
    e = engine
    _point_tables(e)
    plan = [r.plan for r in e.sql("EXPLAIN SELECT v FROM t WHERE k = 2").collect()]
    assert plan[0] == "POINT LOOKUP ON 1 KEY OVER t"
    other = [r.plan for r in e.sql("EXPLAIN SELECT v FROM t WHERE w = 2").collect()]
    assert not any("POINT LOOKUP" in line for line in other)
    regions = [r.plan for r in e.sql("EXPLAIN WITH REGIONS SELECT v FROM tv WHERE k = 3").collect()]
    assert regions[0] == "POINT LOOKUP ON 1 KEY OVER tv"
    files = regions[regions.index("-- input splits (region analogue):") + 1 :]
    assert [f.strip("- ") for f in files] == sorted(e.managed("t")._part_files())
