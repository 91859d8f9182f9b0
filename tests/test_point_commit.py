"""Point DML commits: a statement whose rows the driver holds commits as one
client batch.

UPSERT VALUES (every form, up to ``_CLIENT_BATCH_ROWS`` rows) and a DELETE
whose WHERE pins every PK column to a literal read their keys' current rows
once, derive the post-image and every index's rows on the driver, and write
each segment from the driver, as Phoenix's MutationState sends a client
batch.  Every other statement commits through a distributed write.  The two
paths must leave the same rows in the table and in every index, whatever
the column types and the session time zone.  A point statement runs no
Spark job and never shows a stream a segment before it is whole.  A
statement that fails publishes nothing, on either path, and writers that
commit at once never share a commit ts.
"""

from __future__ import annotations

import os
from collections import Counter

import pytest


def _jobs(spark, fn) -> int:
    """The number of Spark jobs ``fn()`` starts."""
    sc = spark.sparkContext
    sc.setJobGroup("point_commit", "point_commit")
    before = set(sc.statusTracker().getJobIdsForGroup("point_commit"))
    fn()
    return len(set(sc.statusTracker().getJobIdsForGroup("point_commit")) - before)


def _rows(df) -> list[str]:
    return sorted(repr(tuple(r)) for r in df.collect())


def _replay(spark, wh: str, script: list[str], names: list[str]):
    """Run ``script`` on a new warehouse; return each statement's outcome
    (count, RETURNING rows, or the error's first line) and the stored rows
    of every table and index in ``names``."""
    from phoenix_spark.engine import Engine

    e = Engine(spark, warehouse=wh)
    outcomes = []
    for stmt in script:
        try:
            r = e.sql(stmt)
            outcomes.append(r if isinstance(r, int) else _rows(r))
        except Exception as exc:  # noqa: BLE001 - compared across paths
            outcomes.append(f"{type(exc).__name__}: {str(exc).splitlines()[0]}")
    return outcomes, {n: _rows(e.managed(n).read()) for n in names}


def _distributed(m) -> None:
    """Force every statement onto the distributed write (``m`` patches)."""
    from phoenix_spark import mutations

    m.setattr(mutations, "_driver_held", lambda df: False)
    m.setattr(mutations, "_pk_pins", lambda cond, pk: None)


def _both_ways(spark, tmp_path, monkeypatch, script, names, zone="UTC"):
    """``_replay`` in session time zone ``zone`` as committed, and with
    every statement forced onto the distributed write; asserts both leave
    the same outcomes and rows.  The scripts' rows fit in one shuffle
    partition, which keeps the distributed replay short."""
    confs = {"spark.sql.session.timeZone": zone, "spark.sql.shuffle.partitions": "1"}
    saved = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        point = _replay(spark, str(tmp_path / "point"), script, names)
        with monkeypatch.context() as m:
            _distributed(m)
            distributed = _replay(spark, str(tmp_path / "distributed"), script, names)
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert point == distributed
    return point


_TYPED = [
    "CREATE TABLE ty (k INTEGER NOT NULL, ts TIMESTAMP NOT NULL, "
    "d DECIMAL(10,2) NOT NULL, dt DATE, b VARBINARY, a INTEGER ARRAY, "
    "j JSON, f FLOAT, s VARCHAR, CONSTRAINT pk PRIMARY KEY (k, ts, d))",
    "CREATE INDEX ty_dt ON ty (dt) INCLUDE (b, a, j)",
    "UPSERT INTO ty VALUES (1, TIMESTAMP '2020-03-08 12:30:00', 1.25, "
    "DATE '2021-01-02', 'ab', ARRAY[1, 2], '{\"x\": 1}', 1.5, 'p'), "
    "(2, TIMESTAMP '2020-11-01 08:30:00.123456', 2.5, DATE '2021-05-06', "
    "'cd', ARRAY[3, NULL], '{}', 2.5, '')",
    # a partial column list, a present key and a new one
    "UPSERT INTO ty (k, ts, d, dt, a, f) VALUES "
    "(2, TIMESTAMP '2020-11-01 08:30:00.123456', 2.5, DATE '2022-01-01', ARRAY[9], 0), "
    "(3, TIMESTAMP '1969-12-31 23:59:59.999999', 3.999, NULL, NULL, 1) "
    "ON DUPLICATE KEY UPDATE dt = DATE '2023-07-08', a = ARRAY[7, 8], f = f * 2",
    "DELETE FROM ty WHERE k = 1 AND ts = TIMESTAMP '2020-03-08 12:30:00' "
    "AND d = 1.25 RETURNING *",
    "SELECT k, CAST(ts AS VARCHAR), d, CAST(dt AS VARCHAR), b, a, j, f, s FROM ty",
]


@pytest.mark.parametrize("zone", ["UTC", "America/New_York"])
def test_every_type_commits_alike(spark, tmp_path, monkeypatch, zone):
    outcomes, state = _both_ways(
        spark, tmp_path, monkeypatch, _TYPED, ["ty", "ty_dt"], zone
    )
    assert [o for o in outcomes if isinstance(o, str)] == []
    assert len(state["ty"]) == 2 and len(state["ty_dt"]) == 2
    assert outcomes[-1][0].startswith("(2, '2020-11-01 08:30:00.123456', Decimal('2.50'), '2023-07-08")


_INDEXED = [
    "CREATE TABLE t (k INTEGER PRIMARY KEY, v VARCHAR, w INTEGER, x INTEGER)",
    "CREATE VIEW tv AS SELECT * FROM t WHERE w > 3",
    "CREATE VIEW t5 AS SELECT * FROM t WHERE w = 5",
    "CREATE INDEX ix_cov ON t (v) INCLUDE (w)",
    # a functional, partial index on a view
    "CREATE INDEX ix_view ON tv (w * 2) INCLUDE (v) WHERE x > 0",
    "ALTER INDEX ix_cov ON t UNUSABLE",
    "UPSERT INTO t VALUES (1, 'a', 5, 1), (2, 'b', 2, 0), (3, 'c', 9, -1)",
    # a partial column list; a key leaves the view and the partial index
    "UPSERT INTO t (k, v, w) VALUES (1, 'a2', 1), (4, 'd', 4) RETURNING *",
    # each ON DUPLICATE KEY form on one present and one absent key
    "UPSERT INTO t VALUES (3, 'z', 0, 0), (6, 'f', 6, 6) "
    "ON DUPLICATE KEY IGNORE RETURNING *",
    "UPSERT INTO t VALUES (3, 'z', 0, 0), (7, 'g', 1, 1) "
    "ON DUPLICATE KEY UPDATE w = w + 10, x = 5",
    "UPSERT INTO t VALUES (4, 'q', 0, 0), (8, 'q', 0, 0) "
    "ON DUPLICATE KEY UPDATE_ONLY w = w + 100",
    # an equality on a non-PK column matches only k=1's superseded version,
    # directly and through a view k=1 has left: neither deletes it
    "DELETE FROM t WHERE k = 1 AND v = 'a' RETURNING *",
    "DELETE FROM t5 WHERE k = 1",
    "ALTER INDEX ix_cov ON t DISABLE",
    "DELETE FROM t WHERE (k = 6) AND x > 0 RETURNING *",
]


def test_indexes_and_on_duplicate_forms_commit_alike(spark, tmp_path, monkeypatch):
    outcomes, state = _both_ways(
        spark, tmp_path, monkeypatch, _INDEXED, ["t", "ix_cov", "ix_view"]
    )
    assert [o for o in outcomes if isinstance(o, str)] == []
    got = dict(zip(_INDEXED, outcomes))
    assert [got[s] for s in _INDEXED[7:13]] == [
        ["(1, 'a2', 1, 1)", "(4, 'd', 4, None)"],
        ["(3, 'c', 9, -1)", "(6, 'f', 6, 6)"],
        2,
        1,
        [],
        0,
    ]
    assert got[_INDEXED[-1]] == ["(6, 'f', 6, 6)"]
    assert state["t"] == [
        "(1, 'a2', 1, 1)",
        "(2, 'b', 2, 0)",
        "(3, 'c', 19, 5)",
        "(4, 'd', 104, None)",
        "(7, 'g', 1, 1)",
    ]
    assert state["ix_view"] == ["(38, 3, 'c')"]
    # maintained while UNUSABLE; not once DISABLED, so k=6 stays
    assert state["ix_cov"] == [
        "('a2', 1, 1)",
        "('b', 2, 2)",
        "('c', 3, 19)",
        "('d', 4, 104)",
        "('f', 6, 6)",
        "('g', 7, 1)",
    ]


def test_array_key_reads_only_its_keys(spark, tmp_path, monkeypatch):
    """A PK with no literal Parquet prunes on (an ARRAY) scopes the point
    read by a semi-join on the statement's keys: the driver receives the
    touched key's row, not every stored version."""
    from phoenix_spark import mutations
    from phoenix_spark.engine import Engine

    e = Engine(spark, warehouse=str(tmp_path / "wh"))
    e.sql("CREATE TABLE ak (k INTEGER ARRAY NOT NULL, v INTEGER, CONSTRAINT pk PRIMARY KEY (k))")
    e.sql("UPSERT INTO ak VALUES (ARRAY[1], 1), (ARRAY[2], 2), (ARRAY[3], 3)")
    collected = []
    collect = mutations.collect_arrow
    monkeypatch.setattr(
        mutations, "collect_arrow", lambda df: collected.append(collect(df)) or collected[-1]
    )
    e.sql("UPSERT INTO ak VALUES (ARRAY[2], 0) ON DUPLICATE KEY UPDATE v = v + 10")
    assert collected and max(t.num_rows for t in collected) == 1
    assert _rows(e.sql("SELECT * FROM ak")) == ["([1], 1)", "([2], 12)", "([3], 3)"]


def test_large_batch_commits_through_a_spark_write(spark, tmp_path, monkeypatch):
    """A driver-held batch of more than ``_CLIENT_BATCH_ROWS`` rows commits
    through the distributed write; one of at most that many does not."""
    from pyspark.sql import DataFrame

    from phoenix_spark import mutations
    from phoenix_spark.engine import Engine

    e = Engine(spark, warehouse=str(tmp_path / "wh"))
    e.sql("CREATE TABLE lb (k INTEGER PRIMARY KEY, v VARCHAR)")
    writes = []
    stage = mutations.ManagedTable._stage

    def spy(self, ts, rows, *args, **kw):
        if isinstance(rows, DataFrame):
            writes.append(ts)
        return stage(self, ts, rows, *args, **kw)

    monkeypatch.setattr(mutations, "_CLIENT_BATCH_ROWS", 2)
    monkeypatch.setattr(mutations.ManagedTable, "_stage", spy)
    e.sql("UPSERT INTO lb VALUES (1, 'a'), (2, 'b')")
    assert writes == []
    e.sql("UPSERT INTO lb VALUES (1, 'x'), (3, 'c'), (4, 'd')")
    assert writes == [2]
    assert _rows(e.sql("SELECT * FROM lb")) == [
        "(1, 'x')", "(2, 'b')", "(3, 'c')", "(4, 'd')"
    ]


def test_not_null_pk_error_is_unchanged(spark, tmp_path, monkeypatch):
    script = [
        "CREATE TABLE nn (k VARCHAR NOT NULL, n INTEGER, CONSTRAINT pk PRIMARY KEY (k))",
        "UPSERT INTO nn VALUES ('', 1)",
        "UPSERT INTO nn VALUES ('a', 1)",
    ]
    outcomes, state = _both_ways(spark, tmp_path, monkeypatch, script, ["nn"])
    assert "nn.k may not be null" in outcomes[1]
    assert state["nn"] == ["('a', 1)"]


def test_point_statement_runs_only_its_read(spark, tmp_path):
    """Every point statement runs no Spark job: its read of the keys'
    current rows is a pyarrow read on the driver, and its segments are
    written from the driver."""
    from phoenix_spark.engine import Engine

    e = Engine(spark, warehouse=str(tmp_path / "wh"))
    e.sql("CREATE TABLE pj (k INTEGER PRIMARY KEY, v VARCHAR, w INTEGER)")
    e.sql("CREATE INDEX pj_v ON pj (v) INCLUDE (w)")
    for stmt in (
        "UPSERT INTO pj VALUES (1, 'a', 1), (2, 'b', 2)",
        "UPSERT INTO pj VALUES (2, 'c', 3), (3, 'd', 4)",
        "UPSERT INTO pj (k, w) VALUES (1, 9)",
        "UPSERT INTO pj VALUES (3, 'e', 5) ON DUPLICATE KEY UPDATE w = w + 1",
        "UPSERT INTO pj VALUES (4, 'f', 6) ON DUPLICATE KEY IGNORE",
        "DELETE FROM pj WHERE k = 2",
    ):
        assert _jobs(spark, lambda: e.sql(stmt)) == 0, stmt
    assert _rows(e.sql("SELECT * FROM pj")) == [
        "(1, 'a', 9)", "(3, 'd', 5)", "(4, 'f', 6)"
    ]


def _indexed_by_cast(spark, wh: str):
    """An engine on a new warehouse with table ``t`` (one row) and a
    functional index ``ix`` whose key CASTs ``v`` to an INTEGER."""
    from phoenix_spark.engine import Engine

    e = Engine(spark, warehouse=wh)
    e.sql("CREATE TABLE t (k INTEGER PRIMARY KEY, v VARCHAR, w INTEGER)")
    e.sql("CREATE INDEX ix ON t (CAST(v AS INTEGER)) INCLUDE (w)")
    e.sql("UPSERT INTO t VALUES (1, '5', 10)")
    return e


def _published_nothing(e) -> None:
    """``t`` and ``ix`` hold only their first row, however they are read,
    and no staged segment is left behind."""
    assert _rows(e.managed("t").read()) == ["(1, '5', 10)"]
    assert _rows(e.managed("ix").read()) == ["(5, 1, 10)"]
    assert _rows(e.sql("SELECT /*+ NO_INDEX */ k, w FROM t")) == ["(1, 10)"]
    for name in ("t", "ix"):
        assert not [p for p in os.listdir(e.managed(name).dir) if p.startswith("_stage")]


def test_failed_statement_publishes_nothing(spark, tmp_path, monkeypatch):
    """An index row that cannot be derived fails the statement before any
    segment is published, on the point path and on the distributed one:
    neither the base nor the index holds the row."""
    for path in ("point", "distributed"):
        with monkeypatch.context() as m:
            if path == "distributed":
                _distributed(m)
            e = _indexed_by_cast(spark, str(tmp_path / path))
            with pytest.raises(Exception, match="CAST_INVALID_INPUT"):
                e.sql("UPSERT INTO t VALUES (2, 'abc', 20)")
        _published_nothing(e)


def test_failed_upsert_select_publishes_nothing(spark, tmp_path):
    e = _indexed_by_cast(spark, str(tmp_path / "wh"))
    e.sql("CREATE TABLE s (k INTEGER PRIMARY KEY, v VARCHAR)")
    e.sql("UPSERT INTO s VALUES (2, 'abc')")
    with pytest.raises(Exception, match="CAST_INVALID_INPUT"):
        e.sql("UPSERT INTO t SELECT k, v, 20 FROM s")
    _published_nothing(e)


def test_commit_of_no_rows_publishes_nothing(spark, tmp_path):
    """A distributed commit whose rows come up empty at run time (AQE then
    drops the plan above its empty shuffle stage, with the row counts
    observed below it) counts 0 rows and publishes nothing: an UPSERT
    SELECT from a table never written, and the compaction of a table whose
    rows are all deleted."""
    from phoenix_spark.engine import Engine

    e = Engine(spark, warehouse=str(tmp_path / "wh"))
    e.sql("CREATE TABLE t (k INTEGER PRIMARY KEY, v INTEGER)")
    e.sql("CREATE INDEX t_v ON t (v)")
    e.sql("CREATE TABLE s (k INTEGER PRIMARY KEY, v INTEGER)")
    e.sql("UPSERT INTO t VALUES (1, 1)")
    assert e.sql("UPSERT INTO t SELECT k, v FROM s") == 0
    e.sql("DELETE FROM t WHERE k = 1")
    mt = e.managed("t")
    mt.compact()
    assert mt._segments() == [] and _rows(mt.read()) == []


def test_concurrent_writers_never_share_a_timestamp(spark, tmp_path):
    """Two engines on one warehouse, each committing point UPSERTs from its
    own thread while a third thread commits an UPSERT SELECT, give every
    segment of the table and of its index its own commit ts, and each key
    reads the value of its last commit."""
    from concurrent.futures import ThreadPoolExecutor

    from phoenix_spark.engine import Engine
    from phoenix_spark.mutations import _seg_ts

    wh = str(tmp_path / "wh")
    e = Engine(spark, warehouse=wh)
    e.sql("CREATE TABLE cw (k INTEGER PRIMARY KEY, v INTEGER)")
    e.sql("CREATE INDEX cw_v ON cw (v)")
    e.sql("CREATE TABLE src (k INTEGER PRIMARY KEY, v INTEGER)")
    e.sql("UPSERT INTO src VALUES (100, 1), (101, 2)")

    def points(base: int) -> None:
        own = Engine(spark, warehouse=wh)
        for i in range(6):
            own.sql(f"UPSERT INTO cw VALUES ({base + i % 3}, {base + i})")

    def select() -> None:
        Engine(spark, warehouse=wh).sql("UPSERT INTO cw SELECT k, v FROM src")

    with ThreadPoolExecutor(3) as pool:
        for f in [pool.submit(points, 0), pool.submit(points, 10), pool.submit(select)]:
            f.result(timeout=600)
    for name in ("cw", "cw_v"):
        ts = [_seg_ts(p) for p in e.managed(name)._segments()]
        assert len(ts) == len(set(ts)), (name, sorted(ts))
    assert len(e.managed("cw")._segments()) == 13
    want = [(0, 3), (1, 4), (2, 5), (10, 13), (11, 14), (12, 15), (100, 1), (101, 2)]
    assert sorted(tuple(r) for r in e.sql("SELECT k, v FROM cw").collect()) == want
    assert sorted(tuple(r) for r in e.managed("cw_v").read().collect()) == sorted(
        (v, k) for k, v in want
    )


def test_claims_are_exclusive_under_contention(spark, tmp_path):
    """More threads than cores claiming commit ts of one table, switching
    as often as the interpreter allows, claim each ts exactly once."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    from phoenix_spark.mutations import ManagedTable

    def claims() -> list[int]:
        mt = ManagedTable(spark, str(tmp_path), "t")
        return [mt._claim() for _ in range(25)]

    workers = (os.cpu_count() or 1) + 2
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(workers) as pool:
            futures = [pool.submit(claims) for _ in range(workers)]
            got = [ts for f in futures for ts in f.result(timeout=120)]
    finally:
        sys.setswitchinterval(interval)
    assert sorted(got) == list(range(1, workers * 25 + 1))


def test_stream_sees_each_point_commit_once(spark, tmp_path):
    """An availableNow change stream reads each commit's rows once, from
    published segments only, across two runs on one checkpoint."""
    from pyspark.sql import functions as F

    from phoenix_spark.engine import Engine
    from phoenix_spark.streaming import stream_changes

    e = Engine(spark, warehouse=str(tmp_path / "wh"))
    e.sql("CREATE TABLE sc (k INTEGER PRIMARY KEY, v VARCHAR)")
    mt = e.managed("sc")
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")

    def drain():
        q = (
            stream_changes(spark, mt)
            .withColumn("f", F.input_file_name())
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        assert q.exception() is None
        return spark.read.parquet(sink).collect()

    e.sql("UPSERT INTO sc VALUES (1, 'a'), (2, 'b')")
    e.sql("UPSERT INTO sc VALUES (2, 'x') ON DUPLICATE KEY UPDATE v = v || '!'")
    first = drain()
    e.sql("DELETE FROM sc WHERE k = 1")
    rows = drain()
    assert len(first) == 3
    assert Counter((r.change_ts, r.change_op) for r in rows) == {
        (1, "UPSERT"): 2,
        (2, "UPSERT"): 1,
        (3, "DELETE"): 1,
    }
    assert all("/segments/seg-" in r.f and "_stage" not in r.f for r in rows)
