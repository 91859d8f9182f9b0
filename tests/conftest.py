from __future__ import annotations

import os

import duckdb
import pytest

SF_TEST_DIR = os.environ.get("PHOENIX_SPARK_TEST_SF", "/root/testdata/sf0.001")

# The FAST test set (run by default — see pytest.ini): full oracle parity
# for every registered query, the 100 TB plan-contract sweep, the
# Arrow-kernel equivalence pins, the exact integer dot behind every cosine,
# the SQL front end (the dialect lexer's primitives and the sqlfront
# property tests), the index-consistency property tests over random write
# scripts — every writer of an indexed table: Engine.sql DML, both bulk
# loads and an availableNow streaming CDC apply — the small-commit pins
# (client-built rows, index temp views), the point commits (client-batch
# UPSERT VALUES and pinned DELETE against the distributed write, their
# jobs, their atomicity and an availableNow change stream over them), the
# metadata cache (one frame and one column-type map per table version, and
# what invalidates them), name resolution (each table, view and index
# reference bound by its qualified name in the connection's schema, tenant
# and SCN, registered only when a statement reads it) and the point reads
# (the driver's Arrow read of a pinned key against Spark's latest-wins read,
# and the point SELECT against the window read).  Everything else
# (the IT-replay suites, engine/mutation/streaming tests) is marked slow and
# runs via `pytest tests/ -m "" -q`.
_FAST_FILES = {
    "test_oracle_parity.py",
    "test_plans.py",
    "test_text_kernel.py",
    "test_shingle_kernel.py",
    "test_exact_dot.py",
    "test_sqllex.py",
    "test_sqlfront_properties.py",
    "test_index_consistency.py",
    "test_local_commit.py",
    "test_point_commit.py",
    "test_metadata_cache.py",
    "test_name_resolution.py",
    "test_point_read.py",
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        if os.path.basename(str(item.fspath)) not in _FAST_FILES:
            item.add_marker(pytest.mark.slow)


def pytest_terminal_summary(terminalreporter):
    """Say how many tests the fast run left out as slow, and name every test
    skipped because the Phoenix reference tree is absent (their skip reasons
    read "reference ... not present"), so a green run says which checks it
    did not make."""
    slow = [
        i
        for i in terminalreporter.stats.get("deselected", [])
        if i.get_closest_marker("slow")
    ]
    if slow:
        terminalreporter.write_line(
            f"fast set: {len(slow)} tests deselected as slow; "
            'run -m "" for the full suite'
        )
    names = [
        r.nodeid
        for r in terminalreporter.stats.get("skipped", [])
        if "reference" in str(r.longrepr) and "not present" in str(r.longrepr)
    ]
    if names:
        terminalreporter.section("skipped: reference tree absent")
        for name in names:
            terminalreporter.line(name)


TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


@pytest.fixture(scope="session")
def spark():
    from phoenix_spark.session import get_spark

    s = get_spark(app_name="phoenix_spark_tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(autouse=True)
def _clear_sql_cache():
    """r8 ADVICE: query builders persist() intermediates with no unpersist
    path; on the shared session cached entries would otherwise accumulate
    across the whole suite (and cached subtrees would substitute into later
    tests' plans).  Clearing after each test keeps tests independent and
    bounds memory; a no-op when no Spark session is active."""
    yield
    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession()
    if s is not None:
        try:
            s.catalog.clearCache()
        except Exception:
            pass


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{SF_TEST_DIR}/{name}.parquet'"
        )
    yield con
    con.close()
