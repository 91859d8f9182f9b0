"""The metadata cache: one ``read_table`` frame and one column-type map per
table version (the PMetaData analogue; see the ``catalog`` module docstring
and ``Engine._typed_columns``).

Hits must cost no Spark job and no catalog read; every version change —
a rewritten parquet file, a new session, DDL by another ``Engine``, a table
dropped and created again with other types — must be seen."""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq

from tests.conftest import SF_TEST_DIR


def _jobs(spark, group: str, fn):
    """``fn()`` and the ids of the Spark jobs it started."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_hit_returns_the_same_frame_without_a_job(spark, tmp_path):
    from phoenix_spark.catalog import read_table

    path = str(tmp_path / "a.parquet")
    pq.write_table(pa.table({"k": [1, 2], "v": ["x", "y"]}), path)
    first, miss_jobs = _jobs(spark, "mc-miss", lambda: read_table(spark, path))
    assert miss_jobs  # the listing / schema inference the cache saves
    again, hit_jobs = _jobs(spark, "mc-hit", lambda: read_table(spark, path))
    assert again is first
    assert hit_jobs == []


def test_rewritten_file_reads_back_its_new_rows(spark, tmp_path):
    from phoenix_spark.catalog import read_table

    path = str(tmp_path / "a.parquet")
    pq.write_table(pa.table({"k": [1, 2], "v": ["x", "y"]}), path)
    first = read_table(spark, path)
    assert sorted(tuple(r) for r in first.collect()) == [(1, "x"), (2, "y")]
    # same row count and types: the file may keep its size
    pq.write_table(pa.table({"k": [3, 4], "v": ["z", "w"]}), path)
    again = read_table(spark, path)
    assert again is not first
    assert sorted(tuple(r) for r in again.collect()) == [(3, "z"), (4, "w")]
    # a directory table: a new part file is a new version
    d = tmp_path / "dir.parquet"
    d.mkdir()
    pq.write_table(pa.table({"k": [1]}), str(d / "part-0.parquet"))
    assert read_table(spark, str(d)).count() == 1
    pq.write_table(pa.table({"k": [2]}), str(d / "part-1.parquet"))
    assert read_table(spark, str(d)).count() == 2


def test_nanos_table_converts_on_a_hit(spark, tmp_path):
    from phoenix_spark.catalog import read_table

    path = str(tmp_path / "ns.parquet")
    ts = pa.array([1_600_000_000_123_456_789], pa.timestamp("ns"))
    pq.write_table(pa.table({"k": [1], "ts": ts}), path)
    first = read_table(spark, path)
    # the scan needs the conf at action time: a hit must turn it back on
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    again = read_table(spark, path)
    assert again is first
    [row] = again.collect()
    # ns truncated to µs; TIMESTAMP collects as local wall-clock time
    assert row.ts == dt.datetime.fromtimestamp(1_600_000_000).replace(
        microsecond=123456
    )


def test_new_session_gets_a_fresh_frame(spark, tmp_path):
    from phoenix_spark.catalog import read_table

    path = str(tmp_path / "a.parquet")
    pq.write_table(pa.table({"k": [1]}), path)
    first = read_table(spark, path)
    other = spark.newSession()
    fresh = read_table(other, path)
    assert fresh is not first
    assert fresh.sparkSession is other
    assert read_table(other, path) is fresh


def test_steady_state_select_reads_no_table(spark, monkeypatch):
    """A repeated SELECT on attached tables builds its column-type map from
    the cache: no ``read_table`` call (it made 30 per SELECT before)."""
    from phoenix_spark import catalog
    from phoenix_spark.engine import Engine

    e = Engine(spark, SF_TEST_DIR)
    q = (
        "SELECT o_orderkey, o_orderdate + 1 FROM orders JOIN customer "
        "ON o_custkey = c_custkey WHERE o_orderkey = 1"
    )
    e.sql(q)
    calls = []
    real = catalog.read_table

    def counted(spark, path):
        calls.append(path)
        return real(spark, path)

    monkeypatch.setattr(catalog, "read_table", counted)
    e.sql(q).collect()
    assert calls == []
    assert "o_orderdate" in e._typed_columns(q)["ts_columns"]


def test_other_engines_add_column_is_seen(spark, tmp_path):
    """Two Engines on one warehouse: one adds a DATE column, the other's
    ``d + 1`` (days, DateAddExpression) must be rewritten for it."""
    from phoenix_spark.engine import Engine

    wh = str(tmp_path / "wh")
    e1 = Engine(spark, warehouse=wh)
    e2 = Engine(spark, warehouse=wh)
    e2.sql("CREATE TABLE t (k INTEGER PRIMARY KEY, v INTEGER)")
    e2.sql("UPSERT INTO t VALUES (1, 5)")
    assert [tuple(r) for r in e2.sql("SELECT k, v FROM t").collect()] == [(1, 5)]
    e1.sql("ALTER TABLE t ADD d DATE")
    e1.sql("UPSERT INTO t (k, v, d) VALUES (1, 5, TO_DATE('2020-01-01'))")
    [row] = e2.sql("SELECT d + 1 AS d1 FROM t").collect()
    assert row.d1 == dt.datetime(2020, 1, 2)


def test_drop_and_recreate_switches_division(spark, tmp_path):
    """``a/2`` truncates on an INTEGER column (LongDivideExpression) and is
    real division on a DOUBLE one: the map follows the table's version."""
    from phoenix_spark.engine import Engine

    e = Engine(spark, warehouse=str(tmp_path / "wh"))
    e.sql("CREATE TABLE t (k INTEGER PRIMARY KEY, a INTEGER)")
    e.sql("UPSERT INTO t VALUES (1, 5)")
    assert e.sql("SELECT a/2 AS h FROM t").collect()[0].h == 2
    e.sql("DROP TABLE t")
    e.sql("CREATE TABLE t (k INTEGER PRIMARY KEY, a DOUBLE)")
    e.sql("UPSERT INTO t VALUES (1, 5.0)")
    assert e.sql("SELECT a/2 AS h FROM t").collect()[0].h == 2.5
