"""Small DML commits: client-built rows and index temp views.

UPSERT VALUES rows are evaluated in the client, as Phoenix's MutationState
evaluates them, and reach Spark as a LocalRelation built from Arrow: no
frame a commit evaluates may scan a Python-pickled RDD (every task over one
runs a Python worker, on every evaluation), and the commit writes its
segments from the driver, without a Spark job.  The rows must keep their
values through that path, TIMESTAMP literals included, whatever the time
zone of the Python process.

An index-served SELECT reads the index through a temp view bound at the
index's current version, so it must see rows written by ``ALTER INDEX ...
REBUILD`` and by another ``Engine`` over the same session and warehouse.
"""

from __future__ import annotations

import os
import time
from decimal import Decimal

import pytest


@pytest.fixture
def engine(spark, tmp_path):
    from phoenix_spark.engine import Engine

    return Engine(spark, warehouse=str(tmp_path / "wh"))


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _jobs(spark, fn) -> int:
    """The number of Spark jobs ``fn()`` starts."""
    sc = spark.sparkContext
    sc.setJobGroup("local_commit", "local_commit")
    before = set(sc.statusTracker().getJobIdsForGroup("local_commit"))
    fn()
    return len(set(sc.statusTracker().getJobIdsForGroup("local_commit")) - before)


def test_values_commits_scan_no_python_rdd(engine, spark, monkeypatch):
    """A VALUES commit evaluates no Python-pickled RDD and runs no write
    job: the only job an ON DUPLICATE KEY statement starts is the read of
    its keys' current rows, and a plain one into a new table starts none."""
    from pyspark.sql import DataFrame

    from phoenix_spark import mutations
    from phoenix_spark.mutations import ManagedTable

    evaluated = []
    collect = mutations.collect_arrow

    def capture(df):
        evaluated.append(_optimized(df))
        return collect(df)

    stage = ManagedTable._stage

    def driver_only(self, ts, rows, *args, **kw):
        if isinstance(rows, DataFrame):
            raise AssertionError("a VALUES commit wrote through a Spark job")
        return stage(self, ts, rows, *args, **kw)

    monkeypatch.setattr(mutations, "collect_arrow", capture)
    monkeypatch.setattr(ManagedTable, "_stage", driver_only)
    engine.sql("CREATE TABLE lc (k INTEGER PRIMARY KEY, v VARCHAR, n BIGINT)")
    assert _jobs(spark, lambda: engine.sql("UPSERT INTO lc VALUES (1, 'a', 10), (2, 'b', 20)")) == 0
    # the table has one segment, so a Spark read of its keys is one scan
    # job; the statement reads them with pyarrow on the driver, with none
    read = _jobs(spark, lambda: engine.managed("lc").read().filter("k IN (2, 3)").collect())
    assert read == 1
    on_dup = _jobs(
        spark,
        lambda: engine.sql(
            "UPSERT INTO lc VALUES (2, 'x', 1), (3, 'c', 30) "
            "ON DUPLICATE KEY UPDATE n = n + 1"
        ),
    )
    assert on_dup == 0
    assert evaluated
    for plan in evaluated:
        assert "LogicalRDD" not in plan, plan
    got = {tuple(r) for r in engine.sql("SELECT k, v, n FROM lc").collect()}
    assert got == {(1, "a", 10), (2, "b", 21), (3, "c", 30)}


def test_values_round_trip_every_literal_kind(engine):
    engine.sql(
        "CREATE TABLE rt (k INTEGER PRIMARY KEY, d DECIMAL(10,2), dt DATE, "
        "ts TIMESTAMP, b VARBINARY, da DECIMAL(6,3) ARRAY, f FLOAT, "
        "big BIGINT, s VARCHAR, props VARCHAR)"
    )
    engine.sql(
        "UPSERT INTO rt (k, d, dt, ts, b, da, f, big, s, score INTEGER) "
        "VALUES (1, 3.9, DATE '2020-02-03', "
        "TIMESTAMP '2020-01-01 12:30:00.123456', 'ab', ARRAY[25.343, NULL], "
        "1.25, 9007199254740993, '', 7)"
    )
    r = engine.sql(
        "SELECT d, CAST(dt AS VARCHAR) AS dt, CAST(ts AS VARCHAR) AS ts, b, "
        "da, f, big, s, score FROM rt (score INTEGER)"
    ).collect()
    assert len(r) == 1
    r = r[0]
    assert r.d == Decimal("3.9") and str(r.d) == "3.90"  # exact, no double
    assert r.dt == "2020-02-03 00:00:00"
    assert r.ts == "2020-01-01 12:30:00.123456"
    assert bytes(r.b) == b"ab"
    assert r.da == [Decimal("25.343"), None]
    assert r.f == 1.25
    assert r.big == 2**53 + 1
    assert r.s is None  # Phoenix stores '' as NULL
    assert r.score == 7
    # a literal finer than the column's scale rounds half up, as Spark's row
    # conversion rounds it
    engine.sql("UPSERT INTO rt (k, d, da) VALUES (2, 3.995, ARRAY[1.0005])")
    r = engine.sql("SELECT d, da FROM rt WHERE k = 2").collect()[0]
    assert r.d == Decimal("4.00") and r.da == [Decimal("1.001")]


def test_timestamp_literal_ignores_process_timezone(engine):
    saved = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        engine.sql("CREATE TABLE tzt (k INTEGER PRIMARY KEY, ts TIMESTAMP)")
        engine.sql("UPSERT INTO tzt VALUES (1, TIMESTAMP '2020-01-01 12:30:00')")
        assert engine.sql("SELECT CAST(ts AS VARCHAR) FROM tzt").collect()[0][0] == (
            "2020-01-01 12:30:00"
        )
        n = engine.sql(
            "SELECT COUNT(*) FROM tzt WHERE ts = TIMESTAMP '2020-01-01 12:30:00'"
        ).collect()[0][0]
        assert n == 1
        # a value Spark evaluates driver-side reaches the commit unshifted too
        engine.sql("UPSERT INTO tzt VALUES (2, TO_TIMESTAMP('2020-01-01 12:30:00'))")
        got = engine.sql("SELECT k, CAST(ts AS VARCHAR) FROM tzt").collect()
        assert sorted(tuple(r) for r in got) == [
            (1, "2020-01-01 12:30:00"),
            (2, "2020-01-01 12:30:00"),
        ]
        # and so does a row a cursor fetches back to the client
        engine.sql("DECLARE c CURSOR FOR SELECT k, ts FROM tzt WHERE k = 1")
        engine.sql("OPEN c")
        fetched = engine.sql("FETCH NEXT 1 ROWS FROM c")
        assert fetched.selectExpr("CAST(ts AS STRING)").collect()[0][0] == (
            "2020-01-01 12:30:00"
        )
    finally:
        if saved is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = saved
        time.tzset()


_IX_QUERY = "SELECT v, w FROM it WHERE v >= 'a'"


def _served_by_index(e) -> bool:
    return os.path.join("ix_v", "segments") in e.explain(_IX_QUERY)


def _ix_rows(e) -> list:
    return sorted(tuple(r) for r in e.sql(_IX_QUERY).collect())


def test_index_view_sees_rebuild_and_other_engine(spark, tmp_path):
    from phoenix_spark.engine import Engine

    wh = str(tmp_path / "wh")
    e = Engine(spark, warehouse=wh)
    e.sql("CREATE TABLE it (k INTEGER PRIMARY KEY, v VARCHAR, w INTEGER)")
    e.sql("CREATE INDEX ix_v ON it (v) INCLUDE (w)")
    e.sql("UPSERT INTO it VALUES (1, 'a', 10)")
    assert _served_by_index(e)
    assert _ix_rows(e) == [("a", 10)]

    # a disabled index is not maintained; REBUILD brings it up to date
    e.sql("ALTER INDEX ix_v ON it DISABLE")
    e.sql("UPSERT INTO it VALUES (2, 'b', 20)")
    e.sql("ALTER INDEX ix_v ON it REBUILD")
    assert _served_by_index(e)
    assert _ix_rows(e) == [("a", 10), ("b", 20)]

    other = Engine(spark, warehouse=wh)
    other.sql("UPSERT INTO it VALUES (3, 'c', 30)")
    assert _served_by_index(e)
    assert _ix_rows(e) == [("a", 10), ("b", 20), ("c", 30)]

    e.sql("TRUNCATE TABLE it")
    assert _ix_rows(e) == []
