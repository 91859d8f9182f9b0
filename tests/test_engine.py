"""Engine / DDL / mutation / sqlfront tests (the UpsertCompiler /
DeleteCompiler / CreateTableCompiler / MutationState behavior pins —
reference ITs: phoenix-core/src/it/.../end2end/UpsertValuesIT.java,
DeleteIT.java, CreateTableIT.java, SequenceIT.java, CDCQueryIT.java)."""

from __future__ import annotations

import pytest

from phoenix_spark.sqlfront import PhoenixTranslationError, translate_phoenix_sql
from tests.conftest import SF_TEST_DIR


# ---------------------------------------------------------------------------
# sqlfront translation (pure, no Spark needed)
# ---------------------------------------------------------------------------

def test_translate_preserves_string_literals():
    sql = "SELECT 'CALL ARRAY_LENGTH(x)' AS s, ARRAY_LENGTH(a) AS n FROM t"
    out = translate_phoenix_sql(sql)
    assert "'CALL ARRAY_LENGTH(x)'" in out
    assert "size(a) AS n" in out


def test_translate_regexp_substr_whole_match():
    out = translate_phoenix_sql("SELECT REGEXP_SUBSTR(s, '[0-9]+') FROM t")
    assert "regexp_extract(s, '[0-9]+', 0)" in out


def test_translate_regexp_substr_offset():
    out = translate_phoenix_sql("SELECT REGEXP_SUBSTR(s, 'a.c', 5) FROM t")
    assert "regexp_extract(substring(s, 5), 'a.c', 0)" in out


def test_translate_string_to_array_escapes_delimiter():
    out = translate_phoenix_sql("SELECT STRING_TO_ARRAY(s, '.') FROM t")
    assert "split(s, '\\\\.')" in out


def test_translate_to_number_two_arg_formats():
    # DecimalFormat patterns now translate (widened int part, explicit sign)
    out = translate_phoenix_sql("SELECT TO_NUMBER(s, '#,##0') FROM t")
    assert "to_number(" in out and "999,999,999,999,990" in out
    # untranslatable patterns still rejected loudly
    with pytest.raises(PhoenixTranslationError):
        translate_phoenix_sql("SELECT TO_NUMBER(s, '0.00E0') FROM t")


def test_translate_nested_call():
    out = translate_phoenix_sql("SELECT ARRAY_LENGTH(ARRAY_CAT(a, b)) FROM t")
    # ARRAY_CAT now lowers null-aware (a NULL side yields the other side,
    # ArrayConcatFunctionIT.testNullArrayConcat), nested inside size()
    assert out == (
        "SELECT size(if((a) IS NULL, b, if((b) IS NULL, a, concat(a, b)))) "
        "FROM t"
    )


# ---------------------------------------------------------------------------
# DDL parsing (pure)
# ---------------------------------------------------------------------------

def test_parse_create_table_composite_pk():
    from phoenix_spark.ddl import parse_create_table

    ct = parse_create_table(
        """
        CREATE TABLE IF NOT EXISTS web_stat (
          host VARCHAR NOT NULL,
          created DATE NOT NULL,
          usage_core DECIMAL(10,2),
          active_visitor INTEGER,
          CONSTRAINT pk PRIMARY KEY (host, created DESC ROW_TIMESTAMP)
        ) SALT_BUCKETS=16, IMMUTABLE_ROWS=true
        """
    )
    assert ct.name == "web_stat"
    assert ct.pk == ["host", "created"]
    assert ct.sort_orders == {"created": "DESC"}
    assert ct.row_timestamp == "created"
    assert ct.if_not_exists
    assert ct.props["SALT_BUCKETS"] == "16"
    assert [f.name for f in ct.schema.fields] == [
        "host",
        "created",
        "usage_core",
        "active_visitor",
    ]
    assert ct.schema["created"].dataType.simpleString() == "timestamp"
    assert ct.schema["usage_core"].dataType.simpleString() == "decimal(10,2)"


def test_parse_upsert_values_on_duplicate():
    from phoenix_spark.ddl import parse_upsert

    up = parse_upsert(
        "UPSERT INTO t (id, n) VALUES (1, 10), (2, 20) "
        "ON DUPLICATE KEY UPDATE n = n + 1"
    )
    assert up.table == "t"
    assert up.columns == ["id", "n"]
    assert up.values == [["1", "10"], ["2", "20"]]
    assert up.on_duplicate == {"n": "n + 1"}


def test_parse_delete_clause_keywords_inside_quoted_identifier():
    from phoenix_spark.ddl import parse_delete

    d = parse_delete('DELETE FROM t WHERE "ORDER BY" = 1 ORDER BY k LIMIT 2')
    assert (d.where, d.order_by, d.limit) == ('"ORDER BY" = 1', "k", 2)


# ---------------------------------------------------------------------------
# Engine end-to-end (Spark)
# ---------------------------------------------------------------------------

@pytest.fixture()
def engine(spark, tmp_path):
    from phoenix_spark.engine import Engine

    return Engine(spark, sf_dir=SF_TEST_DIR, warehouse=str(tmp_path / "wh"))


def test_create_upsert_latest_wins(engine):
    engine.sql("CREATE TABLE kv (k BIGINT NOT NULL, v VARCHAR, CONSTRAINT pk PRIMARY KEY (k))")
    assert engine.sql("UPSERT INTO kv VALUES (1, 'a'), (2, 'b')") == 2
    assert engine.sql("UPSERT INTO kv VALUES (2, 'b2'), (3, 'c')") == 2
    got = {r.k: r.v for r in engine.table("kv").collect()}
    assert got == {1: "a", 2: "b2", 3: "c"}


def test_upsert_partial_columns_null_fill(engine):
    engine.sql(
        "CREATE TABLE p (k BIGINT NOT NULL, a VARCHAR, b DOUBLE, CONSTRAINT pk PRIMARY KEY (k))"
    )
    engine.sql("UPSERT INTO p (k, b) VALUES (7, 1.5)")
    row = engine.table("p").collect()[0]
    assert row.k == 7 and row.a is None and row.b == 1.5


def test_on_duplicate_key_ignore_and_update(engine):
    engine.sql("CREATE TABLE c (k BIGINT NOT NULL, n BIGINT, CONSTRAINT pk PRIMARY KEY (k))")
    engine.sql("UPSERT INTO c VALUES (1, 10)")
    engine.sql("UPSERT INTO c VALUES (1, 99), (2, 20) ON DUPLICATE KEY IGNORE")
    got = {r.k: r.n for r in engine.table("c").collect()}
    assert got == {1: 10, 2: 20}  # k=1 kept its original value
    engine.sql("UPSERT INTO c VALUES (1, 0), (3, 30) ON DUPLICATE KEY UPDATE n = n + 1")
    got = {r.k: r.n for r in engine.table("c").collect()}
    assert got == {1: 11, 2: 20, 3: 30}  # matched incremented, unmatched inserted
    # UPDATE_ONLY (grammar :899,911; IndexRegionObserver:2305-2311): matched
    # rows update, absent PKs are dropped — never inserted
    n = engine.sql(
        "UPSERT INTO c VALUES (2, 0), (9, 90) ON DUPLICATE KEY UPDATE_ONLY n = n + 100"
    )
    got = {r.k: r.n for r in engine.table("c").collect()}
    assert got == {1: 11, 2: 120, 3: 30}  # k=9 not inserted
    # executeUpdate count excludes the dropped absent-PK row (r7 advice fix):
    # only k=2 was actually mutated
    assert n == 1
    # all-absent batch mutates nothing and says so
    n = engine.sql(
        "UPSERT INTO c VALUES (77, 0) ON DUPLICATE KEY UPDATE_ONLY n = n + 1"
    )
    assert n == 0


def test_upsert_select_and_delete(engine):
    engine.sql(
        "CREATE TABLE big_orders (o_orderkey BIGINT NOT NULL, o_totalprice DOUBLE, "
        "CONSTRAINT pk PRIMARY KEY (o_orderkey))"
    )
    n = engine.sql(
        "UPSERT INTO big_orders SELECT o_orderkey, o_totalprice FROM orders "
        "WHERE o_totalprice > 400000"
    )
    assert n > 0
    engine.sql("DELETE FROM big_orders WHERE o_orderkey % 2 = 0")
    rows = engine.table("big_orders").collect()
    assert rows and all(r.o_orderkey % 2 == 1 for r in rows)


def test_snapshot_read_time_travel(engine):
    engine.sql("CREATE TABLE s (k BIGINT NOT NULL, v VARCHAR, CONSTRAINT pk PRIMARY KEY (k))")
    engine.sql("UPSERT INTO s VALUES (1, 'v1')")
    engine.sql("UPSERT INTO s VALUES (1, 'v2')")
    mt = engine.managed("s")
    assert mt.read().collect()[0].v == "v2"
    assert mt.read(as_of=1).collect()[0].v == "v1"


def test_compact_preserves_state(engine):
    engine.sql("CREATE TABLE cp (k BIGINT NOT NULL, v BIGINT, CONSTRAINT pk PRIMARY KEY (k))")
    engine.sql("UPSERT INTO cp VALUES (1, 1), (2, 2)")
    engine.sql("UPSERT INTO cp VALUES (2, 22)")
    engine.sql("DELETE FROM cp WHERE k = 1")
    mt = engine.managed("cp")
    before = {r.k: r.v for r in mt.read().collect()}
    mt.compact()
    assert len(mt._segments()) == 1
    assert {r.k: r.v for r in mt.read().collect()} == before == {2: 22}


def test_cdc_changes_pre_post_images(engine):
    engine.sql("CREATE TABLE cd (k BIGINT NOT NULL, v VARCHAR, CONSTRAINT pk PRIMARY KEY (k))")
    engine.sql("UPSERT INTO cd VALUES (1, 'a')")
    engine.sql("UPSERT INTO cd VALUES (1, 'b')")
    engine.sql("DELETE FROM cd WHERE k = 1")
    ch = engine.managed("cd").changes().orderBy("change_ts").collect()
    assert [c.change_op for c in ch] == ["UPSERT", "UPSERT", "DELETE"]
    assert ch[0].pre_image is None and ch[0].post_image.v == "a"
    assert ch[1].pre_image.v == "a" and ch[1].post_image.v == "b"
    assert ch[2].pre_image.v == "b" and ch[2].post_image is None


def test_cdc_changes_after_add_column(engine):
    """changes() reads every segment with the stored schema: a column added
    by ALTER TABLE reads NULL in the images of older commits."""
    engine.sql("CREATE TABLE ca (k BIGINT NOT NULL, v VARCHAR, CONSTRAINT pk PRIMARY KEY (k))")
    engine.sql("UPSERT INTO ca VALUES (1, 'a')")
    engine.sql("ALTER TABLE ca ADD d INTEGER")
    engine.sql("UPSERT INTO ca VALUES (1, 'b', 7)")
    ch = engine.managed("ca").changes().orderBy("change_ts").collect()
    assert [(c.post_image.v, c.post_image.d) for c in ch] == [("a", None), ("b", 7)]
    assert ch[1].pre_image.v == "a" and ch[1].pre_image.d is None


def test_readded_column_does_not_resurrect_dropped_values(engine):
    """DROP COLUMN then ADD of the same name (here with another type) is a
    new, empty column: the re-added column gets a fresh physical name, so
    the dropped cells never read back — in table reads, after compaction
    and in the CDC feed."""
    engine.sql("CREATE TABLE ra (k BIGINT NOT NULL, c INTEGER, CONSTRAINT pk PRIMARY KEY (k))")
    engine.sql("UPSERT INTO ra VALUES (1, 10)")
    engine.sql("ALTER TABLE ra DROP COLUMN c")
    engine.sql("ALTER TABLE ra ADD c VARCHAR")
    assert [tuple(r) for r in engine.sql("SELECT k, c FROM ra").collect()] == [(1, None)]
    engine.sql("UPSERT INTO ra VALUES (2, 'x')")
    mt = engine.managed("ra")
    want = [(1, None), (2, "x")]
    assert sorted(tuple(r) for r in mt.read().collect()) == want
    mt.compact()
    assert sorted(tuple(r) for r in mt.read().collect()) == want
    engine.sql("UPSERT INTO ra VALUES (3, 'y')")
    post = {r.k: r.post_image.c for r in mt.changes().collect()}
    assert post == {1: None, 2: "x", 3: "y"}


def test_sequence_next_value(engine):
    engine.sql("CREATE SEQUENCE my_seq START WITH 100 INCREMENT BY 5")
    engine.sql("CREATE TABLE sq (id BIGINT NOT NULL, tag VARCHAR, CONSTRAINT pk PRIMARY KEY (id))")
    engine.sql("UPSERT INTO sq VALUES (NEXT VALUE FOR my_seq, 'x')")
    engine.sql("UPSERT INTO sq VALUES (NEXT VALUE FOR my_seq, 'y')")
    ids = sorted(r.id for r in engine.table("sq").collect())
    assert ids == [100, 105]
    assert engine.current_value("my_seq") == 105


def test_view_stored_predicate(engine):
    engine.sql("CREATE TABLE vt (k BIGINT NOT NULL, v BIGINT, CONSTRAINT pk PRIMARY KEY (k))")
    engine.sql("UPSERT INTO vt VALUES (1, 5), (2, 50), (3, 500)")
    engine.sql("CREATE VIEW big_vt AS SELECT * FROM vt WHERE v >= 50")
    ks = sorted(r.k for r in engine.table("big_vt").collect())
    assert ks == [2, 3]
    # view recompiles against current data (QueryCompiler.java:803-806)
    engine.sql("UPSERT INTO vt VALUES (4, 5000)")
    assert sorted(r.k for r in engine.table("big_vt").collect()) == [2, 3, 4]


def test_drop_and_truncate(engine):
    engine.sql("CREATE TABLE dt (k BIGINT NOT NULL, CONSTRAINT pk PRIMARY KEY (k))")
    engine.sql("UPSERT INTO dt VALUES (1)")
    engine.sql("TRUNCATE TABLE dt")
    assert engine.table("dt").count() == 0
    engine.sql("DROP TABLE dt")
    with pytest.raises(ValueError):
        engine.managed("dt")


def test_explain_and_fixture_query(engine):
    df = engine.sql("SELECT o_orderkey FROM orders WHERE o_orderkey = 5")
    assert df.count() <= 1
    plan = engine.explain("SELECT count(*) FROM lineitem WHERE l_orderkey > 100")
    assert "PushedFilters" in plan or "Filter" in plan


def test_create_function_udf_binding(engine):
    engine.sql("CREATE FUNCTION py_sqrt AS 'math:sqrt' RETURNS DOUBLE")
    row = engine.sql("SELECT py_sqrt(16.0) AS r").collect()[0]
    assert row.r == 4.0
    engine.create_function("twice", lambda x: x * 2, "long")
    assert engine.sql("SELECT twice(21) AS r").collect()[0].r == 42


def test_alter_table_add_drop_column(engine):
    engine.sql("CREATE TABLE al (k BIGINT NOT NULL, v VARCHAR, CONSTRAINT pk PRIMARY KEY (k))")
    engine.sql("UPSERT INTO al VALUES (1, 'a')")
    engine.sql("ALTER TABLE al ADD extra DOUBLE")
    engine.sql("UPSERT INTO al VALUES (2, 'b', 2.5)")
    rows = {r.k: (r.v, r.extra) for r in engine.table("al").collect()}
    assert rows == {1: ("a", None), 2: ("b", 2.5)}  # old rows null-fill
    engine.sql("ALTER TABLE al DROP COLUMN v")
    assert engine.table("al").columns == ["k", "extra"]


def test_show_tables_and_update_statistics(engine):
    engine.sql("CREATE TABLE shw (k BIGINT NOT NULL, CONSTRAINT pk PRIMARY KEY (k))")
    names = [r.table_name for r in engine.sql("SHOW TABLES").collect()]
    assert "shw" in names and "lineitem" in names
    engine.sql("UPSERT INTO shw VALUES (1), (2)")
    engine.sql("UPDATE STATISTICS shw")
    assert engine.managed("shw").meta["stats"]["row_count"] == 2


def test_upsert_delete_returning(engine):
    engine.sql("CREATE TABLE rt (k BIGINT NOT NULL, v VARCHAR, CONSTRAINT pk PRIMARY KEY (k))")
    out = engine.sql("UPSERT INTO rt VALUES (1, 'a'), (2, 'b') RETURNING *")
    assert {(r.k, r.v) for r in out.collect()} == {(1, "a"), (2, "b")}
    out = engine.sql("DELETE FROM rt WHERE k = 1 RETURNING *")
    assert [(r.k, r.v) for r in out.collect()] == [(1, "a")]
    assert {r.k for r in engine.table("rt").collect()} == {2}
    # RETURNING with ON DUPLICATE KEY returns the POST-operation row state
    # (IndexRegionObserver returnResult), not an echo of the incoming values
    out = engine.sql("UPSERT INTO rt VALUES (2, 'zz') ON DUPLICATE KEY IGNORE RETURNING *")
    assert [(r.k, r.v) for r in out.collect()] == [(2, "b")]  # existing row
    out = engine.sql(
        "UPSERT INTO rt VALUES (2, 'x') ON DUPLICATE KEY UPDATE v = v || '!' RETURNING *"
    )
    assert [(r.k, r.v) for r in out.collect()] == [(2, "b!")]  # updated row
    out = engine.sql(
        "UPSERT INTO rt VALUES (9, 'n') ON DUPLICATE KEY UPDATE_ONLY v = v RETURNING *"
    )
    assert out.collect() == []  # absent PK: nothing written, nothing returned


def test_multi_tenant_connections(engine):
    engine.sql(
        "CREATE TABLE mt_tab (tenant VARCHAR NOT NULL, k BIGINT NOT NULL, v VARCHAR, "
        "CONSTRAINT pk PRIMARY KEY (tenant, k)) MULTI_TENANT=true"
    )
    engine.sql("UPSERT INTO mt_tab VALUES ('t1', 1, 'a'), ('t2', 1, 'b')")
    t1 = engine.with_tenant("t1")
    rows = t1.table("mt_tab").collect()
    assert [(r.k, r.v) for r in rows] == [(1, "a")]
    assert "tenant" not in t1.table("mt_tab").columns  # tenant col hidden
    t1.sql("UPSERT INTO mt_tab VALUES (2, 'c')")  # implicit tenant fill
    assert {(r.k, r.v) for r in t1.table("mt_tab").collect()} == {(1, "a"), (2, "c")}
    # global connection still sees both tenants
    assert engine.table("mt_tab").count() == 3


def test_cursor_paging(engine):
    engine.sql("DECLARE c1 CURSOR FOR SELECT o_orderkey FROM orders ORDER BY o_orderkey")
    engine.sql("OPEN c1")
    first = [r.o_orderkey for r in engine.sql("FETCH NEXT 3 ROWS FROM c1").collect()]
    nxt = [r.o_orderkey for r in engine.sql("FETCH NEXT 2 ROWS FROM c1").collect()]
    assert len(first) == 3 and len(nxt) == 2
    assert nxt[0] > first[-1]  # paging advances in order
    engine.sql("CLOSE c1")


def test_create_schema_and_use(engine):
    engine.sql("CREATE SCHEMA s1")
    engine.sql(
        "CREATE TABLE s1.t (k BIGINT NOT NULL, v VARCHAR, CONSTRAINT pk PRIMARY KEY (k))"
    )
    engine.sql("USE s1")
    engine.sql("UPSERT INTO t VALUES (1, 'x')")  # resolves via default schema
    assert [(r.k, r.v) for r in engine.table("t").collect()] == [(1, "x")]
    assert [(r.k, r.v) for r in engine.table("s1.t").collect()] == [(1, "x")]
    names = [r.table_name for r in engine.sql("SHOW TABLES").collect()]
    assert "s1.t" in names
    engine.sql("USE DEFAULT")
    assert engine.default_schema is None


def test_views_persist_across_engine_instances(spark, tmp_path):
    from phoenix_spark.engine import Engine

    wh = str(tmp_path / "wh_persist")
    e1 = Engine(spark, sf_dir=SF_TEST_DIR, warehouse=wh)
    e1.sql("CREATE TABLE pv (k BIGINT NOT NULL, v BIGINT, CONSTRAINT pk PRIMARY KEY (k))")
    e1.sql("UPSERT INTO pv VALUES (1, 10), (2, 200)")
    e1.sql("CREATE VIEW big_pv AS SELECT * FROM pv WHERE v >= 100")
    # a brand-new engine over the same warehouse sees table AND view
    e2 = Engine(spark, sf_dir=SF_TEST_DIR, warehouse=wh)
    assert [r.k for r in e2.table("big_pv").collect()] == [2]


def test_script_multi_statement(engine):
    results = engine.script(
        """
        CREATE TABLE sc (k BIGINT NOT NULL, v VARCHAR, CONSTRAINT pk PRIMARY KEY (k));
        UPSERT INTO sc VALUES (1, 'a;b');
        SELECT k, v FROM sc
        """
    )
    assert results[1] == 1
    assert [(r.k, r.v) for r in results[2].collect()] == [(1, "a;b")]
    # the apostrophe in a comment opens no literal, so the ';' still splits
    results = engine.script(
        "-- don't split\nUPSERT INTO sc VALUES (3, 'c');\nSELECT COUNT(*) FROM sc"
    )
    assert results[0] == 1
    assert results[1].collect()[0][0] == 2


def test_statement_leading_comment_routes_by_first_token(engine):
    engine.sql("CREATE TABLE kv (k BIGINT NOT NULL, v VARCHAR, CONSTRAINT pk PRIMARY KEY (k))")
    assert engine.sql("-- load\nUPSERT INTO kv VALUES (1, 'a')") == 1
    assert engine.sql("/* c */ UPSERT INTO kv VALUES (2, 'b')") == 1
    got = {r.k: r.v for r in engine.table("kv").collect()}
    assert got == {1: "a", 2: "b"}


def test_quoted_identifier_with_separator_round_trip(engine):
    # the ',' inside "a,b" is part of the name, not a column-list separator
    engine.sql(
        'CREATE TABLE qc ("a,b" BIGINT NOT NULL, v VARCHAR, '
        'CONSTRAINT pk PRIMARY KEY ("a,b"))'
    )
    assert engine.sql("""UPSERT INTO qc ("a,b", v) VALUES (1, 'x')""") == 1
    assert [tuple(r) for r in engine.sql('SELECT "a,b", v FROM qc').collect()] == [
        (1, "x")
    ]


def test_bulk_load_json(engine, tmp_path):
    engine.sql(
        "CREATE TABLE jl (k BIGINT NOT NULL, v VARCHAR, CONSTRAINT pk PRIMARY KEY (k))"
    )
    p = tmp_path / "rows.jsonl"
    p.write_text('{"k": 1, "v": "a"}\n{"k": 2, "v": "b"}\n')
    assert engine.bulk_load_json("jl", str(p)) == 2
    assert {(r.k, r.v) for r in engine.table("jl").collect()} == {(1, "a"), (2, "b")}


def test_cdc_scopes_pre_post(engine):
    engine.sql("CREATE TABLE sc2 (k BIGINT NOT NULL, v VARCHAR, CONSTRAINT pk PRIMARY KEY (k))")
    engine.sql("UPSERT INTO sc2 VALUES (1, 'a')")
    engine.sql("UPSERT INTO sc2 VALUES (1, 'b')")
    pre = engine.managed("sc2").changes(scope="PRE").orderBy("change_ts").collect()
    post = engine.managed("sc2").changes(scope="POST").orderBy("change_ts").collect()
    assert "post_image" not in pre[0].asDict() and "pre_image" not in post[0].asDict()
    assert pre[1].pre_image.v == "a" and post[1].post_image.v == "b"
    # incremental feed: only changes after ts 1
    inc = engine.managed("sc2").changes(since=1).collect()
    assert len(inc) == 1 and inc[0].change_ts == 2


def test_upsert_quoted_string_literals(engine):
    engine.sql("CREATE TABLE q (k BIGINT NOT NULL, v VARCHAR, CONSTRAINT pk PRIMARY KEY (k))")
    engine.sql("UPSERT INTO q VALUES (1, 'O''Brien, MD'), (2, 'a;b,(c)')")
    got = {r.k: r.v for r in engine.table("q").collect()}
    assert got == {1: "O'Brien, MD", 2: "a;b,(c)"}


def test_error_paths(engine):
    import pytest as _pt

    with _pt.raises(ValueError, match="no managed table"):
        engine.managed("nope")
    with _pt.raises(Exception):
        engine.sql("UPSERT INTO missing_table VALUES (1)")
    engine.sql("CREATE TABLE dup_t (k BIGINT NOT NULL, CONSTRAINT pk PRIMARY KEY (k))")
    with _pt.raises(ValueError, match="already exists"):
        engine.sql("CREATE TABLE dup_t (k BIGINT NOT NULL, CONSTRAINT pk PRIMARY KEY (k))")
    engine.sql("CREATE TABLE IF NOT EXISTS dup_t (k BIGINT NOT NULL, CONSTRAINT pk PRIMARY KEY (k))")
    with _pt.raises(AssertionError, match="PRIMARY KEY"):
        engine.sql("CREATE TABLE nopk (k BIGINT)")
    with _pt.raises(ValueError, match="no sequence"):
        engine.sql("DROP SEQUENCE ghost_seq")


def test_on_duplicate_key_bson_update(engine):
    """ON DUPLICATE KEY UPDATE with a BSON update expression Column —
    the reference's atomic document update path (UpsertCompiler +
    BsonUpdateExpressionFunction)."""
    from phoenix_spark.bson import bson_update_expression

    engine.sql(
        "CREATE TABLE bdoc (k BIGINT NOT NULL, props VARCHAR, "
        "CONSTRAINT pk PRIMARY KEY (k))"
    )
    engine.sql('UPSERT INTO bdoc VALUES (1, \'{"hits": 1, "tags": ["a"]}\')')
    tbl = engine.managed("bdoc")
    df = engine.spark.createDataFrame(
        [(1, None), (2, '{"hits": 5}')], schema=tbl.schema
    )
    tbl.upsert_df(
        df,
        on_duplicate={
            "props": bson_update_expression(
                "props", '{"$ADD": {"hits": 1, "tags": ["b"]}}'
            )
        },
    )
    got = {r.k: r.props for r in engine.table("bdoc").collect()}
    assert got[1] == '{"hits":2,"tags":["a","b"]}'
    assert got[2] == '{"hits": 5}'


def test_hint_use_sort_merge_join_forces_smj(engine):
    """/*+ USE_SORT_MERGE_JOIN */ through Engine.sql lands as a Spark
    MERGE(relation) hint and flips the physical join strategy."""
    df = engine.sql(
        "SELECT /*+ USE_SORT_MERGE_JOIN */ o.o_orderkey, c.c_name "
        "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan and "BroadcastHashJoin" not in plan
    # default (no hint): the dimension side broadcasts
    df2 = engine.sql(
        "SELECT o.o_orderkey, c.c_name "
        "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey"
    )
    assert "BroadcastHashJoin" in df2._jdf.queryExecution().executedPlan().toString()


# ---------------------------------------------------------------------------
# Phoenix-dialect TPC-H through Engine.sql (the §3.1 executeQuery lifecycle:
# dialect translate → Catalyst → DataFrame), vs the DataFrame builders
# ---------------------------------------------------------------------------

def test_translate_to_date_carries_time():
    out = translate_phoenix_sql("SELECT TO_DATE('1996-01-01') FROM t")
    assert "cast(to_timestamp('1996-01-01') as timestamp_ntz)" in out


def test_translate_date_plus_int_is_days():
    out = translate_phoenix_sql(
        "SELECT * FROM t WHERE l_shipdate > o_orderdate + 60 AND l_quantity + 60 > 0",
        ts_columns={"o_orderdate", "l_shipdate"},
    )
    assert "o_orderdate + INTERVAL '60' DAY" in out
    # non-date columns keep plain integer arithmetic
    assert "l_quantity + 60 > 0" in out


def test_engine_sql_phoenix_dialect_q4(spark):
    """Q4 written in Phoenix dialect (TO_DATE literals, date+int day
    arithmetic, EXISTS) must equal the DataFrame builder's result."""
    from phoenix_spark.engine import Engine
    from phoenix_spark.queries import all_queries

    e = Engine(spark, SF_TEST_DIR)
    got = e.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS order_count
        FROM orders
        WHERE o_orderdate >= TO_DATE('1996-01-01')
          AND o_orderdate < TO_DATE('1996-04-01')
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey
                        AND l_shipdate > o_orderdate + 60)
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """
    ).collect()
    want = all_queries()["q4_order_priority"](spark, SF_TEST_DIR).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_translate_date_minus_date_fractional_days():
    out = translate_phoenix_sql(
        "SELECT l_shipdate - o_orderdate AS lag_days, a - b FROM t",
        ts_columns={"o_orderdate", "l_shipdate"},
    )
    # Epoch derivation must be timezone-independent (pure NTZ field
    # arithmetic, no NTZ→LTZ cast through the session zone).
    from phoenix_spark.functions import ntz_epoch_micros_sql

    assert (
        f"(cast({ntz_epoch_micros_sql('l_shipdate')}"
        f" - {ntz_epoch_micros_sql('o_orderdate')} as double)"
        " / 86400000000) AS lag_days" in out
    )
    assert "unix_micros" not in out  # LTZ-cast epoch would be zone-dependent
    assert "a - b" in out  # non-date pairs untouched


def test_engine_sql_date_minus_date(spark):
    from phoenix_spark.engine import Engine

    e = Engine(spark, SF_TEST_DIR)
    row = e.sql(
        """
        SELECT MAX(l_shipdate - o_orderdate) AS max_lag
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        """
    ).collect()[0]
    assert isinstance(row.max_lag, float)  # DOUBLE days, not an interval
    assert 0 < row.max_lag < 10_000  # synthetic fixture lags span years


def test_rvc_pagination_partitions_table(spark):
    """Walking the whole table in RVC-offset pages (resume strictly after the
    last seen PK, ORDER BY PK, LIMIT k) must visit every row exactly once —
    the RVCOffsetCompiler O(1)-per-page contract.  Uses the region+nation-
    sized customer table so the walk stays fast."""
    import pyspark.sql.functions as F

    from phoenix_spark.queries._util import t

    k = 37
    base = t(spark, SF_TEST_DIR, "customer").select("c_custkey")
    total = base.count()
    seen = []
    last = None
    for _ in range(total // k + 2):
        page = base
        if last is not None:
            page = page.filter(F.col("c_custkey") > F.lit(last))
        rows = [r.c_custkey for r in page.orderBy("c_custkey").limit(k).collect()]
        if not rows:
            break
        assert rows == sorted(rows)
        seen.extend(rows)
        last = rows[-1]
    assert len(seen) == total
    assert len(set(seen)) == total  # no row visited twice


def test_ts_columns_scoped_to_referenced_tables(spark):
    from phoenix_spark.engine import Engine

    e = Engine(spark, SF_TEST_DIR)
    # orders is not referenced → its o_orderdate must not be rewritten
    def ts_cols(text):
        return e._typed_columns(text)["ts_columns"]

    assert "o_orderdate" not in ts_cols("SELECT l_quantity FROM lineitem")
    assert "o_orderdate" in ts_cols("SELECT o_orderdate - 3 FROM orders")
    # a numeric column sharing a ts column's NAME in another, unreferenced
    # table stays untouched: only referenced tables contribute ts columns
    cols = ts_cols("SELECT ts FROM events")
    assert "ts" in cols and "o_orderdate" not in cols


# ---------------------------------------------------------------------------
# Secondary indexes (CreateIndexCompiler / IndexMaintainer / QueryOptimizer
# analogues — reference behavior: GlobalIndexOptimizationIT.java)
# ---------------------------------------------------------------------------

def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def _reads_index(df, name):
    """True iff the query's scan reads the index table's files (the plan
    toString truncates long path lists, so check inputFiles directly)."""
    return any(f"/{name}/segments/" in f for f in df.inputFiles())


@pytest.fixture()
def ixengine(engine):
    engine.sql(
        "CREATE TABLE ixt (k BIGINT NOT NULL, a VARCHAR, b DOUBLE, c VARCHAR, "
        "CONSTRAINT pk PRIMARY KEY (k))"
    )
    engine.sql(
        "UPSERT INTO ixt SELECT o_orderkey, o_orderstatus, o_totalprice, "
        "o_orderpriority FROM orders WHERE o_orderkey <= 300"
    )
    engine.sql("CREATE INDEX ix_a ON ixt (a) INCLUDE (b)")
    return engine


def test_index_substituted_when_covering(ixengine):
    df = ixengine.sql("SELECT a, b FROM ixt WHERE a = 'F'")
    assert _reads_index(df, "ix_a") and not _reads_index(df, "ixt")
    # values identical to the base-table read
    base = ixengine.sql("SELECT a, b, c FROM ixt WHERE a = 'F'")
    assert sorted((r.a, r.b) for r in df.collect()) == sorted(
        (r.a, r.b) for r in base.collect()
    )


def test_index_not_substituted_when_not_covering(ixengine):
    # c is not covered → base table
    assert not _reads_index(ixengine.sql("SELECT a, c FROM ixt WHERE a = 'F'"), "ix_a")
    # SELECT * expands to the full base schema → base table
    assert not _reads_index(ixengine.sql("SELECT * FROM ixt WHERE a = 'F'"), "ix_a")
    # no WHERE on the leading key → base table
    assert not _reads_index(ixengine.sql("SELECT a, b FROM ixt WHERE b > 100"), "ix_a")


def test_index_maintained_on_upsert_and_delete(ixengine):
    e = ixengine
    # move keys 1..50 from their old status to 'Z' — stale index rows must go
    e.sql(
        "UPSERT INTO ixt SELECT o_orderkey, 'Z', o_totalprice * 2, "
        "o_orderpriority FROM orders WHERE o_orderkey <= 50"
    )
    e.sql("DELETE FROM ixt WHERE k > 250")
    for pred in ("a = 'Z'", "a = 'F'"):
        via_index = e.sql(f"SELECT a, b FROM ixt WHERE {pred}")
        assert _reads_index(via_index, "ix_a")
        via_base = e.sql(f"SELECT a, b, c FROM ixt WHERE {pred}")
        assert sorted((r.a, r.b) for r in via_index.collect()) == sorted(
            (r.a, r.b) for r in via_base.collect()
        )


def test_delete_top_n_returning_on_indexed_table(ixengine):
    """DELETE ... ORDER BY ... LIMIT with RETURNING on an indexed table
    (TopNIT.testTopNDelete shape): the top-N cut is computed once, RETURNING
    shows exactly the tombstoned rows, and the index drops the same rows."""
    e = ixengine
    out = e.sql("DELETE FROM ixt ORDER BY k DESC LIMIT 3 RETURNING *")
    assert out.columns == ["k", "a", "b", "c"]
    assert sorted(r.k for r in out.collect()) == [298, 299, 300]
    assert e.sql("SELECT k FROM ixt WHERE k > 297").collect() == []
    for pred in ("a = 'F'", "a = 'O'", "a = 'P'"):
        via_index = e.sql(f"SELECT k, a, b FROM ixt WHERE {pred}")
        assert _reads_index(via_index, "ix_a")
        via_base = e.sql(f"SELECT k, a, b, c FROM ixt WHERE {pred}")
        assert sorted((r.k, r.b) for r in via_index.collect()) == sorted(
            (r.k, r.b) for r in via_base.collect()
        )


def test_index_dropped_with_table_and_explicitly(ixengine):
    e = ixengine
    e.sql("DROP INDEX ix_a ON ixt")
    assert "ix_a" not in e._indexes
    assert not _reads_index(e.sql("SELECT a, b FROM ixt WHERE a = 'F'"), "ix_a")
    e.sql("CREATE INDEX ix_a2 ON ixt (a)")
    e.sql("DROP TABLE ixt")
    assert "ix_a2" not in e._indexes  # cascade


def test_functional_index_literal_exprs_rejected_loudly(engine):
    # expression keys are supported (test_functional_index_expression_key);
    # ones containing string literals are rejected because the read-path
    # expression matcher is case-insensitive and would corrupt them
    from phoenix_spark.indexes import IndexError_

    engine.sql(
        "CREATE TABLE fxr (k BIGINT NOT NULL, s VARCHAR, CONSTRAINT pk PRIMARY KEY (k))"
    )
    with pytest.raises(IndexError_):
        engine.sql("CREATE INDEX fixr ON fxr (COALESCE(s, 'x'))")


def test_index_segments_sorted_by_key(ixengine):
    """The physical covered-index win: index segments are written sorted by
    the index key, so parquet row-group min/max stats prune key probes."""
    import pyarrow.parquet as pq
    import glob, os

    seg_dir = os.path.join(ixengine.warehouse, "ix_a", "segments")
    files = glob.glob(os.path.join(seg_dir, "*", "*.parquet"))
    assert files
    for f in files:
        col = pq.read_table(f, columns=["a"]).column("a").to_pylist()
        assert col == sorted(col), f


def test_engine_sql_to_number_to_char_formats(spark):
    """TO_NUMBER(v, fmt) / TO_CHAR(v, fmt) with DecimalFormat patterns and
    TO_CHAR(date, pattern) run end-to-end through Engine.sql."""
    from phoenix_spark.engine import Engine

    e = Engine(spark, SF_TEST_DIR)
    rows = e.sql(
        """
        SELECT c_custkey,
               TO_CHAR(c_acctbal, '$#,##0.00') AS bal_cur,
               TO_NUMBER('1,234.56', '#,##0.00') AS parsed
        FROM customer
        ORDER BY c_custkey
        LIMIT 3
        """
    ).collect()
    assert len(rows) == 3
    for r in rows:
        assert r.bal_cur.startswith(("$", "-$")) and "." in r.bal_cur
        assert abs(r.parsed - 1234.56) < 1e-9
    # date pattern goes through the translation table
    rows = e.sql(
        "SELECT TO_CHAR(o_orderdate, 'yyyy-MM-dd') AS d FROM orders LIMIT 2"
    ).collect()
    assert all(len(r.d) == 10 and r.d[4] == "-" for r in rows)
    # banned pattern letters fail at translate time, not runtime
    import pytest as _pytest

    from phoenix_spark.sqlfront import PhoenixTranslationError

    with _pytest.raises(PhoenixTranslationError):
        e.sql("SELECT TO_CHAR(o_orderdate, 'YYYY-ww') AS d FROM orders")


def test_partial_index_membership_maintenance(engine):
    """A partial index holds only rows satisfying its predicate; updates
    that move a row out of the predicate remove it from the index, and an
    OR-embedded predicate match must NOT substitute (unsound)."""
    engine.sql(
        "CREATE TABLE po (k BIGINT NOT NULL, status VARCHAR, amt DOUBLE, "
        "CONSTRAINT pk PRIMARY KEY (k))"
    )
    engine.sql(
        "UPSERT INTO po VALUES (1, 'O', 10.0), (2, 'F', 20.0), (3, 'O', 30.0)"
    )
    engine.sql(
        "CREATE INDEX po_open ON po (amt) WHERE status = 'O'"
    )
    q = "SELECT amt, k FROM po WHERE status = 'O' AND amt >= 0"
    df = engine.sql(q)
    assert any("/po_open/segments/" in f for f in df.inputFiles())
    assert {r.k for r in df.collect()} == {1, 3}
    # row 3 leaves the predicate -> leaves the index
    engine.sql("UPSERT INTO po VALUES (3, 'F', 30.0)")
    assert {r.k for r in engine.sql(q).collect()} == {1}
    # row 2 enters the predicate -> enters the index
    engine.sql("UPSERT INTO po VALUES (2, 'O', 25.0)")
    assert {r.k: r.amt for r in engine.sql(q).collect()} == {1: 10.0, 2: 25.0}
    # OR-embedded predicate: substitution would drop rows -> must use base
    orq = "SELECT amt, k FROM po WHERE amt >= 20 OR status = 'O'"
    odf = engine.sql(orq)
    assert not any("/po_open/segments/" in f for f in odf.inputFiles())
    assert {r.k for r in odf.collect()} == {1, 2, 3}


def test_partial_index_parse_and_drop(engine):
    from phoenix_spark.indexes import parse_create_index

    d, _ = parse_create_index(
        "CREATE INDEX i1 ON t (a) INCLUDE (b) WHERE c = 'x' AND d > 3"
    )
    assert d.where == "c = 'x' AND d > 3"
    d2, _ = parse_create_index("CREATE INDEX i2 ON t (a) ASYNC")
    assert d2.where is None


def test_functional_index_expression_key(engine):
    """CREATE INDEX on an expression key (UPPER(name)) materializes the
    expression; queries filtering on the same expression substitute the
    index, while queries using the raw column fall back to the base."""
    engine.sql(
        "CREATE TABLE fx (k BIGINT NOT NULL, name VARCHAR, amt DOUBLE, "
        "CONSTRAINT pk PRIMARY KEY (k))"
    )
    engine.sql(
        "UPSERT INTO fx VALUES (1, 'alice', 1.0), (2, 'Bob', 2.0), (3, 'CARL', 3.0)"
    )
    engine.sql("CREATE INDEX fx_upper ON fx (UPPER(name)) INCLUDE (amt)")
    q = "SELECT k, amt FROM fx WHERE UPPER(name) = 'BOB'"
    df = engine.sql(q)
    assert any("/fx_upper/segments/" in f for f in df.inputFiles())
    assert [(r.k, r.amt) for r in df.collect()] == [(2, 2.0)]
    # maintenance: update flows through the expression
    engine.sql("UPSERT INTO fx VALUES (2, 'bobby', 2.5)")
    assert engine.sql(q).collect() == []
    got = engine.sql("SELECT k FROM fx WHERE UPPER(name) = 'BOBBY'").collect()
    assert [r.k for r in got] == [2]
    # raw-column query is NOT covered (name itself is not stored)
    raw = engine.sql("SELECT k FROM fx WHERE name = 'alice'")
    assert not any("/fx_upper/segments/" in f for f in raw.inputFiles())
    assert [r.k for r in raw.collect()] == [1]


def test_sequence_in_select_and_upsert_select(engine):
    """NEXT/CURRENT VALUE FOR inside SELECT (SequenceValueExpression) — the
    UPSERT SELECT id-assignment idiom.  Values follow evaluation (scan)
    order as in the reference, so the reservation covers the pre-pagination
    row count and values never escape the reserved block."""
    engine.sql("CREATE SEQUENCE sel_seq START WITH 100 INCREMENT BY 1")
    engine.sql(
        "CREATE TABLE seq_src (k BIGINT NOT NULL, nm VARCHAR, "
        "CONSTRAINT pk PRIMARY KEY (k))"
    )
    engine.sql(
        "UPSERT INTO seq_src VALUES (1, 'a'), (2, 'b'), (3, 'c'), (4, 'd')"
    )
    ids = [
        r.id
        for r in engine.sql(
            "SELECT NEXT VALUE FOR sel_seq AS id FROM seq_src"
        ).collect()
    ]
    assert sorted(ids) == [100, 101, 102, 103]
    assert engine.current_value("sel_seq") == 103
    # LIMIT: evaluation order semantics — 4 evaluated (reserved), 2 returned,
    # returned values stay inside the reserved block
    ids = [
        r.id
        for r in engine.sql(
            "SELECT NEXT VALUE FOR sel_seq AS id FROM seq_src "
            "ORDER BY nm LIMIT 2"
        ).collect()
    ]
    assert all(104 <= i <= 107 for i in ids) and len(set(ids)) == 2
    assert engine.current_value("sel_seq") == 107
    # CURRENT VALUE is a statement-stable scalar
    got = engine.sql(
        "SELECT CURRENT VALUE FOR sel_seq AS c FROM seq_src LIMIT 1"
    ).collect()[0]
    assert got.c == 107
    # UPSERT SELECT assigning fresh ids
    engine.sql(
        "CREATE TABLE seq_dst (id BIGINT NOT NULL, nm VARCHAR, "
        "CONSTRAINT pk PRIMARY KEY (id))"
    )
    engine.sql(
        "UPSERT INTO seq_dst SELECT NEXT VALUE FOR sel_seq, nm FROM seq_src"
    )
    rows = engine.sql("SELECT id, nm FROM seq_dst").collect()
    assert len(rows) == 4 and len({r.id for r in rows}) == 4
    assert all(108 <= r.id <= 111 for r in rows)


def test_fetch_first_and_offset_rows(engine):
    engine.sql(
        "CREATE TABLE pg (k BIGINT NOT NULL, CONSTRAINT pk PRIMARY KEY (k))"
    )
    engine.sql("UPSERT INTO pg VALUES (1), (2), (3), (4), (5), (6)")
    q = "SELECT k FROM pg ORDER BY k FETCH FIRST 3 ROWS ONLY"
    assert [r.k for r in engine.sql(q).collect()] == [1, 2, 3]
    q = "SELECT k FROM pg ORDER BY k OFFSET 2 ROWS FETCH NEXT 2 ROWS ONLY"
    assert [r.k for r in engine.sql(q).collect()] == [3, 4]
    q = "SELECT k FROM pg ORDER BY k OFFSET 4 ROWS"
    assert [r.k for r in engine.sql(q).collect()] == [5, 6]
    q = "SELECT k FROM pg ORDER BY k FETCH NEXT 1 ROW ONLY"
    assert [r.k for r in engine.sql(q).collect()] == [1]


def test_array_ctor_tablesample_and_cast_aliases(engine):
    # ARRAY[...] constructor (grammar :1166-1170)
    row = engine.sql("SELECT ARRAY[1,2,3] AS a FROM region LIMIT 1").collect()[0]
    assert list(row.a) == [1, 2, 3]
    # bare-VARCHAR / UNSIGNED_* CAST targets
    row = engine.sql(
        "SELECT CAST(r_regionkey AS VARCHAR) AS s, "
        "CAST(r_regionkey AS UNSIGNED_LONG) AS u FROM region LIMIT 1"
    ).collect()[0]
    assert isinstance(row.s, str) and isinstance(row.u, int)
    # TABLESAMPLE: deterministic (same rows every execution), PK-hash based
    a = sorted(
        r.r_name
        for r in engine.sql("SELECT r_name FROM region TABLESAMPLE(60)").collect()
    )
    b = sorted(
        r.r_name
        for r in engine.sql("SELECT r_name FROM region TABLESAMPLE(60)").collect()
    )
    assert a == b
    full = engine.sql("SELECT r_name FROM region TABLESAMPLE(100)").count()
    assert full == 5  # rate 100 keeps everything


def test_upsert_select_with_column_list(engine):
    engine.sql(
        "CREATE TABLE ucl (k BIGINT NOT NULL, v VARCHAR, d DATE, "
        "CONSTRAINT pk PRIMARY KEY (k))"
    )
    engine.sql(
        "UPSERT INTO ucl (k, d) SELECT r_regionkey + 10, "
        "TO_DATE('2021-03-04') FROM region WHERE r_regionkey < 2"
    )
    rows = engine.sql("SELECT k, v, d FROM ucl ORDER BY k").collect()
    assert [r.k for r in rows] == [10, 11]
    assert all(r.v is None for r in rows)  # unlisted column NULL-filled
    assert all(r.d is not None for r in rows)


def test_alter_index_lifecycle(engine):
    """ALTER INDEX ... UNUSABLE/DISABLE/REBUILD/USABLE (grammar :725,
    PIndexState): UNUSABLE = maintained but not substituted; DISABLE =
    neither (stale until REBUILD); REBUILD = re-materialize + reactivate."""
    engine.sql(
        "CREATE TABLE ali (k BIGINT NOT NULL, name VARCHAR, x BIGINT, "
        "CONSTRAINT pk PRIMARY KEY (k))"
    )
    engine.sql("UPSERT INTO ali VALUES (1, 'a', 10), (2, 'b', 20)")
    engine.sql("CREATE INDEX ali_ix ON ali (name) INCLUDE (x)")

    def uses_index(q="SELECT name, x FROM ali WHERE name = 'a'"):
        return any("/ali_ix/segments/" in f for f in engine.sql(q).inputFiles())

    assert uses_index()
    # UNUSABLE: no substitution, but maintenance continues
    engine.sql("ALTER INDEX ali_ix ON ali UNUSABLE")
    assert not uses_index()
    engine.sql("UPSERT INTO ali VALUES (3, 'c', 30)")
    engine.sql("ALTER INDEX ali_ix ON ali USABLE")
    assert uses_index()
    got = engine.sql("SELECT x FROM ali WHERE name = 'c'").collect()
    assert [r.x for r in got] == [30]  # maintained while unusable
    # DISABLE: maintenance stops — index goes stale
    engine.sql("ALTER INDEX ali_ix ON ali DISABLE")
    engine.sql("UPSERT INTO ali VALUES (4, 'd', 40)")
    assert not uses_index()
    # REBUILD: re-materialized from current base, active again
    engine.sql("ALTER INDEX ali_ix ON ali REBUILD")
    assert uses_index()
    got = engine.sql("SELECT x FROM ali WHERE name = 'd'").collect()
    assert [r.x for r in got] == [40]
    # IF EXISTS on a missing index is a no-op; without it, loud
    assert engine.sql("ALTER INDEX IF EXISTS nope ON ali DISABLE") == 0
    import pytest as _pytest

    with _pytest.raises(ValueError):
        engine.sql("ALTER INDEX nope ON ali DISABLE")


def test_create_cdc_ddl(engine):
    """CREATE CDC name ON t [INCLUDE (scope)] (grammar :593-616): the CDC
    object queries like a table over the live change feed."""
    engine.sql(
        "CREATE TABLE cdt (k BIGINT NOT NULL, v VARCHAR, "
        "CONSTRAINT pk PRIMARY KEY (k))"
    )
    engine.sql("CREATE CDC cdt_feed ON cdt")
    engine.sql("CREATE CDC cdt_pre ON cdt INCLUDE (PRE)")
    engine.sql("UPSERT INTO cdt VALUES (1, 'a')")
    engine.sql("UPSERT INTO cdt VALUES (1, 'b'), (2, 'x')")
    engine.sql("DELETE FROM cdt WHERE k = 2")
    rows = engine.sql(
        "SELECT k, change_op, pre_image, post_image FROM cdt_feed "
        "ORDER BY change_ts, k"
    ).collect()
    assert [(r.k, r.change_op) for r in rows] == [
        (1, "UPSERT"), (1, "UPSERT"), (2, "UPSERT"), (2, "DELETE"),
    ]
    assert rows[0].pre_image is None and rows[0].post_image.v == "a"
    assert rows[1].pre_image.v == "a" and rows[1].post_image.v == "b"
    assert rows[3].post_image is None  # delete has no post image
    # the feed is LIVE: a later mutation appears without re-creating the CDC
    engine.sql("UPSERT INTO cdt VALUES (3, 'z')")
    assert engine.sql("SELECT COUNT(*) AS n FROM cdt_feed").collect()[0].n == 5
    # PRE scope narrows the image columns
    cols = engine.sql("SELECT * FROM cdt_pre").columns
    assert "pre_image" in cols and "post_image" not in cols
    # lifecycle: IF NOT EXISTS no-op, duplicate loud, DROP removes
    assert engine.sql("CREATE CDC IF NOT EXISTS cdt_feed ON cdt") == 0
    import pytest as _pytest

    with _pytest.raises(ValueError):
        engine.sql("CREATE CDC cdt_feed ON cdt")
    engine.sql("DROP CDC cdt_pre ON cdt")
    with _pytest.raises(ValueError):
        engine.sql("DROP CDC cdt_pre ON cdt")
    assert engine.sql("DROP CDC IF EXISTS cdt_pre ON cdt") == 0


def test_show_create_table_and_explain_with_regions(engine):
    engine.sql(
        "CREATE TABLE sct (k BIGINT NOT NULL, v VARCHAR, p DOUBLE, "
        "CONSTRAINT pk PRIMARY KEY (k DESC)) SALT_BUCKETS=4"
    )
    row = engine.sql("SHOW CREATE TABLE sct").collect()[0]
    ddl = row.create_statement
    assert "K BIGINT NOT NULL" in ddl and "PRIMARY KEY (K DESC)" in ddl
    assert "SALT_BUCKETS=4" in ddl
    # the rendered DDL round-trips through the parser
    from phoenix_spark import ddl as D

    ct = D.parse_create_table(ddl)
    assert ct.pk == ["k"] and ct.sort_orders == {"k": "DESC"}
    # EXPLAIN WITH REGIONS appends the scan's input splits
    engine.sql("UPSERT INTO sct VALUES (1, 'a', 1.5)")
    lines = [r.plan for r in engine.sql(
        "EXPLAIN WITH REGIONS SELECT * FROM sct"
    ).collect()]
    assert any("input splits" in line for line in lines)
    assert any(".parquet" in line for line in lines if line.startswith("--   "))


def test_dynamic_columns_in_sql(engine):
    """SELECT ... FROM t (col TYPE, ...) (grammar :832-855): dynamic typed
    columns resolved from the JSON overflow column, straight from SQL."""
    engine.sql(
        "CREATE TABLE dyn (k BIGINT NOT NULL, props VARCHAR, "
        "CONSTRAINT pk PRIMARY KEY (k))"
    )
    engine.sql(
        "UPSERT INTO dyn VALUES "
        "(1, '{\"score\": 7, \"tag\": \"x\"}'), "
        "(2, '{\"score\": 3, \"tag\": \"y\"}')"
    )
    got = engine.sql(
        "SELECT k, score FROM dyn (score INTEGER) WHERE score > 5"
    ).collect()
    assert [(r.k, r.score) for r in got] == [(1, 7)]
    # qualified references and explicit aliases both resolve
    got = engine.sql(
        "SELECT d.k, d.tag FROM dyn (tag VARCHAR) d ORDER BY d.k"
    ).collect()
    assert [(r.k, r.tag) for r in got] == [(1, "x"), (2, "y")]
    # derived tables are untouched by the rewrite
    assert engine.sql("SELECT COUNT(*) AS n FROM (SELECT k FROM dyn) q").collect()[0].n == 2


def test_partial_upsert_preserves_unlisted_columns(engine):
    """Phoenix writes only the LISTED cells (UpsertCompiler builds one Put
    per listed column): a partial-column UPSERT must preserve the unlisted
    columns of an EXISTING row, not overwrite them with NULL."""
    engine.sql(
        "CREATE TABLE pup (k BIGINT NOT NULL, a VARCHAR, b DOUBLE, "
        "CONSTRAINT pk PRIMARY KEY (k))"
    )
    engine.sql("UPSERT INTO pup VALUES (1, 'keepme', 1.5), (2, 'also', 2.5)")
    # VALUES path
    engine.sql("UPSERT INTO pup (k, b) VALUES (1, 9.5)")
    got = {r.k: (r.a, r.b) for r in engine.table("pup").collect()}
    assert got[1] == ("keepme", 9.5)  # a preserved, b updated
    assert got[2] == ("also", 2.5)
    # SELECT path
    engine.sql("UPSERT INTO pup (k, b) SELECT k, b * 2 FROM pup WHERE k = 2")
    got = {r.k: (r.a, r.b) for r in engine.table("pup").collect()}
    assert got[2] == ("also", 5.0)
    # a brand-new row still NULL-fills the unlisted column
    engine.sql("UPSERT INTO pup (k, b) VALUES (3, 3.5)")
    got = {r.k: (r.a, r.b) for r in engine.table("pup").collect()}
    assert got[3] == (None, 3.5)


def test_upsert_requires_full_pk(engine):
    engine.sql(
        "CREATE TABLE fpk (k BIGINT NOT NULL, a VARCHAR, "
        "CONSTRAINT pk PRIMARY KEY (k))"
    )
    with pytest.raises(ValueError, match="primary key"):
        engine.sql("UPSERT INTO fpk (a) VALUES ('x')")


def test_upsert_select_single_pass(engine, monkeypatch):
    """UPSERT SELECT must read its source exactly once: the row count comes
    from observe() on the write action, never a separate .count() pre-scan
    (which would read a 100 TB source twice)."""
    from pyspark.sql import DataFrame

    engine.sql(
        "CREATE TABLE sp1 (k BIGINT NOT NULL, v DOUBLE, "
        "CONSTRAINT pk PRIMARY KEY (k))"
    )

    def _no_count(self):
        raise AssertionError("UPSERT SELECT called DataFrame.count()")

    monkeypatch.setattr(DataFrame, "count", _no_count)
    n = engine.sql(
        "UPSERT INTO sp1 SELECT r_regionkey, r_regionkey * 1.5 FROM region"
    )
    monkeypatch.undo()
    assert n == 5
    assert engine.table("sp1").count() == 5


def test_index_hints_no_index_and_forced(engine):
    """/*+ NO_INDEX */ vetoes substitution; /*+ INDEX(t ix) */ restricts
    candidates and authorizes the join-back plan for a non-covering index
    (HintNode.java:50-128; QueryOptimizer.java:225-353)."""
    engine.sql(
        "CREATE TABLE ht (k BIGINT NOT NULL, a VARCHAR, b DOUBLE, c VARCHAR, "
        "CONSTRAINT pk PRIMARY KEY (k))"
    )
    engine.sql("UPSERT INTO ht VALUES (1, 'x', 1.5, 'p'), (2, 'y', 2.5, 'q')")
    engine.sql("CREATE INDEX htx ON ht (a) INCLUDE (b)")

    def files(q):
        return engine.sql(q).inputFiles()

    covered = "SELECT a, b FROM ht WHERE a = 'x'"
    assert any("/htx/segments/" in f for f in files(covered))
    # NO_INDEX: the same query must read the base table
    assert not any(
        "/htx/segments/" in f
        for f in files("SELECT /*+ NO_INDEX */ a, b FROM ht WHERE a = 'x'")
    )
    # INDEX(t other) restricts candidates away from htx → base table
    assert not any(
        "/htx/segments/" in f
        for f in files("SELECT /*+ INDEX(ht nosuch) */ a, b FROM ht WHERE a = 'x'")
    )
    # uncovered query (c not in index): unhinted → base only; hinted →
    # join-back plan reading BOTH the index and the base
    uncov = "SELECT a, c FROM ht WHERE a = 'x'"
    assert not any("/htx/segments/" in f for f in files(uncov))
    hinted = files("SELECT /*+ INDEX(ht htx) */ a, c FROM ht WHERE a = 'x'")
    assert any("/htx/segments/" in f for f in hinted)
    assert any("/ht/segments/" in f for f in hinted)
    rows = engine.sql(
        "SELECT /*+ INDEX(ht htx) */ a, c FROM ht WHERE a = 'x'"
    ).collect()
    assert [(r.a, r.c) for r in rows] == [("x", "p")]


def test_view_uncovered_index_join_back(engine):
    """A SELECT on a VIEW that carries an UNCOVERED index and filters on the
    index key used to raise ``no managed table <view>`` in the join-back
    path (r04 advice); the physical base now resolves through the view
    chain, and the view's predicate still applies to the joined frame."""
    engine.sql(
        "CREATE TABLE vb (k BIGINT NOT NULL, kind VARCHAR, a VARCHAR, "
        "c VARCHAR, CONSTRAINT pk PRIMARY KEY (k))"
    )
    engine.sql(
        "UPSERT INTO vb VALUES (1, 'g', 'x', 'p'), (2, 'g', 'y', 'q'), "
        "(3, 'h', 'x', 'p')"
    )
    engine.sql("CREATE VIEW vvix AS SELECT * FROM vb WHERE kind = 'g'")
    engine.sql("CREATE UNCOVERED INDEX vix ON vvix (c)")
    # a (not in the index) forces the join-back plan; only the kind='g'
    # row with c='p' may surface even though the base holds another c='p'
    rows = engine.sql("SELECT a FROM vvix WHERE c = 'p'").collect()
    assert [r.a for r in rows] == ["x"]


def test_sequence_rewrite_literal_safe(engine):
    """A string literal containing 'NEXT VALUE FOR s' must never trigger the
    sequence rewrite, and a sequence named as a prefix of another must not
    corrupt the longer reference (\\b anchoring)."""
    engine.sql("CREATE TABLE lit (k BIGINT NOT NULL, v VARCHAR, "
               "CONSTRAINT pk PRIMARY KEY (k))")
    engine.sql("UPSERT INTO lit VALUES (1, 'NEXT VALUE FOR ghost')")
    got = engine.sql("SELECT v FROM lit WHERE v = 'NEXT VALUE FOR ghost'").collect()
    assert [r.v for r in got] == ["NEXT VALUE FOR ghost"]
    engine.sql("CREATE SEQUENCE s START WITH 10 INCREMENT BY 1")
    engine.sql("CREATE SEQUENCE s2 START WITH 500 INCREMENT BY 1")
    # CURRENT VALUE FOR before any NEXT VALUE FOR throws
    # (SQLExceptionCode.CANNOT_CALL_CURRENT_BEFORE_NEXT_VALUE)
    import pytest as _pt

    with _pt.raises(ValueError, match="before"):
        engine.sql("SELECT CURRENT VALUE FOR s2 AS c2 FROM lit")
    # consume one value of s2 first so CURRENT VALUE is defined
    first = engine.sql("SELECT NEXT VALUE FOR s2 AS n FROM lit").collect()
    assert [r.n for r in first] == [500]
    got = engine.sql("SELECT CURRENT VALUE FOR s2 AS c FROM lit").collect()
    assert [r.c for r in got] == [500]  # not corrupted by prefix-name 's'


def test_tablesample_decimal_rate(engine):
    engine.sql("CREATE TABLE tsd (k BIGINT NOT NULL, "
               "CONSTRAINT pk PRIMARY KEY (k))")
    engine.sql("UPSERT INTO tsd SELECT o_orderkey FROM orders")
    total = engine.sql("SELECT k FROM tsd").count()
    frac = engine.sql("SELECT k FROM tsd TABLESAMPLE(0.5)").count()
    # deterministic and roughly rate-proportional (md5-bucket, not RNG)
    assert frac == engine.sql("SELECT k FROM tsd TABLESAMPLE(0.5)").count()
    assert 0 < frac < total * 0.05


def test_explain_does_not_consume_sequence(engine):
    engine.sql("CREATE SEQUENCE exp_seq START WITH 7 INCREMENT BY 1")
    engine.sql("CREATE TABLE exq (k BIGINT NOT NULL, "
               "CONSTRAINT pk PRIMARY KEY (k))")
    engine.sql("UPSERT INTO exq VALUES (1), (2)")
    engine.explain("SELECT NEXT VALUE FOR exp_seq AS id FROM exq")
    engine.sql("EXPLAIN WITH REGIONS SELECT NEXT VALUE FOR exp_seq AS id FROM exq")
    ids = [r.id for r in engine.sql(
        "SELECT NEXT VALUE FOR exp_seq AS id FROM exq").collect()]
    assert sorted(ids) == [7, 8]  # EXPLAIN consumed nothing


def test_dynamic_columns_in_upsert(engine):
    """UPSERT INTO t (col, dyncol TYPE) VALUES ... (grammar :927-931
    upsert_column_refs): typed dynamic values land in the JSON overflow
    column, merging with — not clobbering — unrelated existing keys."""
    engine.sql(
        "CREATE TABLE dup (k BIGINT NOT NULL, props VARCHAR, "
        "CONSTRAINT pk PRIMARY KEY (k))"
    )
    engine.sql('UPSERT INTO dup VALUES (1, \'{"keep": "yes", "score": 1}\')')
    engine.sql("UPSERT INTO dup (k, score BIGINT) VALUES (1, 42), (2, 7)")
    got = {
        (r.k): (r.keep, r.score)
        for r in engine.sql(
            "SELECT k, keep, score FROM dup (keep VARCHAR, score BIGINT)"
        ).collect()
    }
    assert got[1] == ("yes", 42)  # unrelated key preserved, score replaced
    assert got[2] == (None, 7)


def test_dynamic_column_upsert_keeps_unlisted_cells(engine):
    """A dynamic-column UPSERT writes only its listed cells: an existing
    row keeps its other columns, plainly and under ON DUPLICATE KEY."""
    engine.sql(
        "CREATE TABLE dku (k BIGINT NOT NULL, a VARCHAR, props VARCHAR, "
        "CONSTRAINT pk PRIMARY KEY (k))"
    )
    engine.sql("UPSERT INTO dku VALUES (1, 'keep', '{\"x\": \"1\"}'), (2, 'also', NULL)")
    engine.sql("UPSERT INTO dku (k, score BIGINT) VALUES (1, 42), (3, 7)")
    engine.sql(
        "UPSERT INTO dku (k, score BIGINT) VALUES (2, 5), (4, 9) "
        "ON DUPLICATE KEY UPDATE a = 'hit'"
    )
    got = {
        r.k: (r.a, r.x, r.score)
        for r in engine.sql(
            "SELECT k, a, x, score FROM dku (x VARCHAR, score BIGINT)"
        ).collect()
    }
    assert got == {
        1: ("keep", "1", 42),
        2: ("hit", None, None),
        3: (None, None, 7),
        4: (None, None, 9),
    }


def test_sequence_options_minmax_cycle_bulk(engine):
    """CREATE SEQUENCE MINVALUE/MAXVALUE/CYCLE/CACHE + NEXT n VALUES FOR
    (grammar :619-628, :1203-1208; Sequence.java limit/cycle semantics:
    single-slot requests wrap under CYCLE, bulk allocations never cycle)."""
    import pytest as _pt

    engine.sql("CREATE TABLE sq1 (k BIGINT NOT NULL, CONSTRAINT pk PRIMARY KEY (k))")
    # MAXVALUE without CYCLE: exhaustion errors with the limit message
    engine.sql("CREATE SEQUENCE lim START WITH 1 INCREMENT BY 1 MAXVALUE 3")
    got = [engine.sql("UPSERT INTO sq1 VALUES (NEXT VALUE FOR lim)") for _ in range(3)]
    assert [r.k for r in engine.sql("SELECT k FROM sq1 ORDER BY k").collect()] == [1, 2, 3]
    with _pt.raises(ValueError, match="MAXVALUE"):
        engine.sql("UPSERT INTO sq1 VALUES (NEXT VALUE FOR lim)")
    # CYCLE: wraps back to MINVALUE
    engine.sql("CREATE SEQUENCE cyc START WITH 8 INCREMENT BY 1 MINVALUE 7 MAXVALUE 9 CYCLE")
    vals = [engine._eval_literal("NEXT VALUE FOR cyc") for _ in range(4)]
    assert vals == [8, 9, 7, 8]
    # decreasing sequence: START defaults to MAXVALUE
    engine.sql("CREATE SEQUENCE down INCREMENT BY -2 MINVALUE 0 MAXVALUE 10")
    vals = [engine._eval_literal("NEXT VALUE FOR down") for _ in range(3)]
    assert vals == [10, 8, 6]
    # bulk allocation: NEXT n VALUES FOR reserves n, returns the first
    engine.sql("CREATE SEQUENCE blk START WITH 100 INCREMENT BY 1 CACHE 10")
    assert engine._eval_literal("NEXT 5 VALUES FOR blk") == 100
    assert engine._eval_literal("NEXT VALUE FOR blk") == 105
    # bulk in a SELECT: each row strides by k*increment.  The preceding
    # NEXT VALUE reserved a CACHE 10 chunk (105-114, server at 115); a bulk
    # allocation DISCARDS the cached remainder and starts at the server
    # value (SequenceBulkAllocationIT
    # .testNextValuesForSequenceWithPreviouslyAllocatedValues)
    engine.sql("CREATE TABLE sqsrc (k BIGINT NOT NULL, CONSTRAINT pk PRIMARY KEY (k))")
    engine.sql("UPSERT INTO sqsrc VALUES (1), (2), (3)")
    ids = sorted(
        r.id for r in engine.sql(
            "SELECT NEXT 4 VALUES FOR blk AS id FROM sqsrc").collect()
    )
    assert ids == [115, 119, 123]
    # bulk allocation past the limit: errors, never cycles
    engine.sql("CREATE SEQUENCE blim START WITH 1 INCREMENT BY 1 MAXVALUE 4 CYCLE")
    with _pt.raises(ValueError, match="exceeds|cycle"):
        engine._eval_literal("NEXT 10 VALUES FOR blim")
    # IF NOT EXISTS is honored
    engine.sql("CREATE SEQUENCE IF NOT EXISTS lim START WITH 99")
    with _pt.raises(ValueError, match="exists"):
        engine.sql("CREATE SEQUENCE lim START WITH 99")


def test_updatable_view_upsert_delete(engine):
    """Writes through views (PTable.ViewType.UPDATABLE: equality-only
    predicates make a view updatable; its WHERE columns become view
    constants auto-filled on UPSERT — UpsertCompiler viewConstants)."""
    import pytest as _pt

    engine.sql(
        "CREATE TABLE evt (id BIGINT NOT NULL, kind VARCHAR, v DOUBLE, "
        "CONSTRAINT pk PRIMARY KEY (id))"
    )
    engine.sql("CREATE VIEW clicks AS SELECT * FROM evt WHERE kind = 'click'")
    # VALUES through the view: kind auto-set to the view constant
    engine.sql("UPSERT INTO clicks (id, v) VALUES (1, 1.5), (2, 2.5)")
    got = {r.id: (r.kind, r.v) for r in engine.table("evt").collect()}
    assert got == {1: ("click", 1.5), 2: ("click", 2.5)}
    # SELECT path through the view
    engine.sql("UPSERT INTO clicks (id, v) SELECT id + 10, v * 2 FROM clicks")
    got = {r.id: r.kind for r in engine.table("evt").collect()}
    assert got == {1: "click", 2: "click", 11: "click", 12: "click"}
    # the implicit column list is the VIEW's full column list, so a
    # full-row VALUES restates the constant (verified equal, allowed)
    engine.sql("UPSERT INTO clicks VALUES (3, 'click', 3.5)")
    assert engine.sql("SELECT v FROM clicks WHERE id = 3").collect()[0].v == 3.5
    # a short implicit VALUES prefix-maps onto the LEADING view columns
    # (UpsertCompiler's resize-down), so the second value lands on the
    # kind view-constant and is rejected (CANNOT_UPDATE_VIEW_COLUMN)
    with _pt.raises(ValueError, match="view-constant"):
        engine.sql("UPSERT INTO clicks VALUES (4, 4.5)")
    # setting the constant explicitly is rejected
    with _pt.raises(ValueError, match="view-constant"):
        engine.sql("UPSERT INTO clicks (id, kind, v) VALUES (4, 'view', 4.5)")
    # DELETE through the view only touches the view's slice
    engine.sql("UPSERT INTO evt VALUES (99, 'scroll', 0.5)")
    engine.sql("DELETE FROM clicks WHERE id <= 2")
    ids = sorted(r.id for r in engine.table("evt").collect())
    assert ids == [3, 11, 12, 99]  # the scroll row survived
    # a range-predicate view is read-only, as in the reference
    engine.sql("CREATE VIEW big AS SELECT * FROM evt WHERE v > 100")
    with _pt.raises(ValueError, match="read-only"):
        engine.sql("UPSERT INTO big (id, kind) VALUES (5, 'x')")


def test_explain_mutations_and_drop_function(engine):
    engine.sql(
        "CREATE TABLE exm (k BIGINT NOT NULL, v DOUBLE, "
        "CONSTRAINT pk PRIMARY KEY (k))"
    )
    engine.sql("UPSERT INTO exm VALUES (1, 1.5)")
    lines = [r.plan for r in engine.sql(
        "EXPLAIN UPSERT INTO exm SELECT r_regionkey, r_regionkey * 1.0 FROM region"
    ).collect()]
    assert any("UPSERT SELECT INTO exm" in line for line in lines)
    assert any("Scan" in line or "Physical Plan" in line for line in lines)
    assert engine.table("exm").count() == 1  # EXPLAIN wrote nothing
    lines = [r.plan for r in engine.sql(
        "EXPLAIN DELETE FROM exm WHERE k = 1").collect()]
    assert any("DELETE FROM exm" in line for line in lines)
    assert engine.table("exm").count() == 1  # EXPLAIN deleted nothing
    lines = [r.plan for r in engine.sql(
        "EXPLAIN UPSERT INTO exm VALUES (2, 2.5)").collect()]
    assert any("literal row" in line for line in lines)
    # DROP FUNCTION unbinds a CREATE FUNCTION UDF
    engine.sql("CREATE FUNCTION trip AS 'math:trunc' RETURNS BIGINT")
    assert engine.sql("SELECT trip(1.7) AS t").collect()[0].t == 1
    engine.sql("DROP FUNCTION trip")
    import pytest as _pt

    with _pt.raises(Exception):
        engine.sql("SELECT trip(1.7) AS t").collect()
    engine.sql("DROP FUNCTION IF EXISTS trip")  # idempotent


def test_multiple_sequences_in_one_statement(engine):
    engine.sql("CREATE SEQUENCE ms_a START WITH 10 INCREMENT BY 1")
    engine.sql("CREATE SEQUENCE ms_b START WITH 500 INCREMENT BY 5")
    engine.sql("CREATE TABLE mss (k BIGINT NOT NULL, CONSTRAINT pk PRIMARY KEY (k))")
    engine.sql("UPSERT INTO mss VALUES (1), (2), (3)")
    rows = engine.sql(
        "SELECT NEXT VALUE FOR ms_a AS a, NEXT VALUE FOR ms_b AS b, "
        "NEXT VALUE FOR ms_a AS a2 FROM mss"
    ).collect()
    assert sorted(r.a for r in rows) == [10, 11, 12]
    assert sorted(r.b for r in rows) == [500, 505, 510]
    # repeated refs of the same sequence yield the SAME value per row
    assert all(r.a == r.a2 for r in rows)


def test_view_defined_columns(engine):
    """CREATE VIEW v (col TYPE) AS ... (grammar :557-565): views may ADD
    typed columns; they read and write through the parent's JSON overflow
    column, the same cell store the dynamic-column surface uses."""
    engine.sql(
        "CREATE TABLE prod (id BIGINT NOT NULL, kind VARCHAR, props VARCHAR, "
        "CONSTRAINT pk PRIMARY KEY (id))"
    )
    engine.sql(
        "CREATE VIEW widgets (weight BIGINT, label VARCHAR) "
        "AS SELECT * FROM prod WHERE kind = 'widget'"
    )
    engine.sql(
        "UPSERT INTO widgets (id, weight, label) VALUES "
        "(1, 42, 'heavy'), (2, 7, 'light')"
    )
    got = {
        r.id: (r.kind, r.weight, r.label)
        for r in engine.sql("SELECT id, kind, weight, label FROM widgets").collect()
    }
    assert got == {1: ("widget", 42, "heavy"), 2: ("widget", 7, "light")}
    # typed: weight is a BIGINT on read
    row = engine.sql("SELECT weight FROM widgets WHERE id = 1").collect()[0]
    assert isinstance(row.weight, int)
    # view columns are invisible on the parent (stored in the overflow col)
    assert "weight" not in engine.table("prod").columns


def test_schema_ddl_alter_set_and_session(engine, tmp_path):
    import pytest as _pt

    # DROP SCHEMA: empty drops, non-empty refuses (MetaDataClient.dropSchema)
    engine.sql("CREATE SCHEMA app")
    engine.sql("USE app")
    engine.sql("CREATE TABLE t1 (k BIGINT NOT NULL, CONSTRAINT pk PRIMARY KEY (k))")
    engine.sql("USE DEFAULT")
    with _pt.raises(ValueError, match="not empty"):
        engine.sql("DROP SCHEMA app")
    engine.sql("DROP TABLE app.t1")
    engine.sql("DROP SCHEMA app")
    engine.sql("DROP SCHEMA IF EXISTS app")
    with _pt.raises(ValueError, match="no schema"):
        engine.sql("DROP SCHEMA app")
    # ALTER TABLE SET properties: metadata-only
    engine.sql("CREATE TABLE ats (k BIGINT NOT NULL, CONSTRAINT pk PRIMARY KEY (k))")
    engine.sql("ALTER TABLE ats SET TTL=86400, REPLICATION_SCOPE=1")
    props = engine.managed("ats").meta["props"]
    assert props["TTL"] == "86400" and props["REPLICATION_SCOPE"] == "1"
    # ALTER VIEW ADD/DROP view-defined columns
    engine.sql("CREATE TABLE avp (id BIGINT NOT NULL, props VARCHAR, "
               "CONSTRAINT pk PRIMARY KEY (id))")
    engine.sql("CREATE VIEW av AS SELECT * FROM avp")
    engine.sql("ALTER VIEW av ADD score BIGINT")
    engine.sql("UPSERT INTO av (id, score) VALUES (1, 9)")
    assert engine.sql("SELECT score FROM av WHERE id = 1").collect()[0].score == 9
    engine.sql("ALTER VIEW av DROP COLUMN score")
    with _pt.raises(Exception):
        engine.sql("SELECT score FROM av").collect()
    with _pt.raises(ValueError, match="PK column"):
        engine.sql("ALTER VIEW av DROP COLUMN id")  # row key never drops
    # dropping a non-PK PARENT column diverges the view (EXCLUDED_COLUMN
    # link, reference IT create_diverged_view.sql) — the base keeps it
    engine.sql("ALTER VIEW av DROP COLUMN props")
    assert "props" not in engine.sql("SELECT * FROM av").columns
    assert "props" in engine.sql("SELECT * FROM avp").columns
    # ALTER SESSION records properties; GRANT/REVOKE fail loudly; TRACE
    engine.sql("ALTER SESSION SET CONSISTENCY = 'timeline'")
    assert engine.spark.conf.get("phoenix_spark.session.consistency") == "timeline"
    with _pt.raises(ValueError, match="out of scope"):
        engine.sql("GRANT 'RX' ON app.t1 TO 'user'")
    tid = engine.sql("TRACE ON").collect()[0].trace_id
    assert tid >= 1
    engine.sql("TRACE OFF")


def test_dynamic_columns_in_upsert_select(engine):
    engine.sql(
        "CREATE TABLE dus (id BIGINT NOT NULL, props VARCHAR, "
        "CONSTRAINT pk PRIMARY KEY (id))"
    )
    engine.sql(
        "UPSERT INTO dus (id, score BIGINT) "
        "SELECT r_regionkey, r_regionkey * 10 FROM region"
    )
    got = {
        r.id: r.score
        for r in engine.sql("SELECT id, score FROM dus (score BIGINT)").collect()
    }
    assert got == {k: k * 10 for k in range(5)}


def test_execute_upgrade_noop(engine):
    assert engine.sql("EXECUTE UPGRADE") == 0


def test_bind_parameters(engine):
    """JDBC-style ? binds (PhoenixPreparedStatement surface): positional,
    literal-safe, uniform across SELECT and mutations."""
    import datetime as dt

    import pytest as _pt

    engine.sql(
        "CREATE TABLE bp (k BIGINT NOT NULL, name VARCHAR, ts TIMESTAMP, "
        "CONSTRAINT pk PRIMARY KEY (k))"
    )
    engine.sql(
        "UPSERT INTO bp VALUES (?, ?, ?)",
        params=[1, "O'Brien?", dt.datetime(2021, 3, 4, 5, 6, 7)],
    )
    row = engine.sql(
        "SELECT k, name, ts FROM bp WHERE name = ?", params=["O'Brien?"]
    ).collect()[0]
    assert row.k == 1 and row.name == "O'Brien?"
    assert row.ts == dt.datetime(2021, 3, 4, 5, 6, 7)
    # a ? inside a string literal is NOT a placeholder
    got = engine.sql(
        "SELECT k FROM bp WHERE name LIKE '%?' AND k = ?", params=[1]
    ).collect()
    assert [r.k for r in got] == [1]
    with _pt.raises(ValueError, match="arity"):
        engine.sql("SELECT k FROM bp WHERE k = ?", params=[1, 2])


def test_segments_written_pk_sorted(engine):
    """Managed-table segments are range-partitioned and sorted by the PK by
    default (the reference's row-key order, SURVEY §1.1) so parquet
    row-group min/max stats prune PK range scans to O(result)."""
    import os

    engine.sql(
        "CREATE TABLE srt (k BIGINT NOT NULL, v DOUBLE, "
        "CONSTRAINT pk PRIMARY KEY (k))"
    )
    engine.sql("UPSERT INTO srt SELECT o_orderkey, o_totalprice FROM orders")
    mt = engine.managed("srt")
    segs = mt._segments()
    assert segs
    parts = [
        os.path.join(segs[0], p)
        for p in os.listdir(segs[0])
        if p.startswith("part-") and p.endswith(".parquet")
    ]
    assert parts
    import pyarrow.parquet as pq

    for p in parts:
        ks = pq.read_table(p, columns=["k"]).column("k").to_pylist()
        assert ks == sorted(ks), f"segment file {p} not PK-sorted"
    # after compaction the whole table is ONE range-partitioned sorted run:
    # files cover disjoint key ranges (maximal row-group pruning)
    mt.compact()
    seg = mt._segments()[0]
    ranges = sorted(
        (
            lambda ks: (min(ks), max(ks))
        )(pq.read_table(os.path.join(seg, p), columns=["k"]).column("k").to_pylist())
        for p in os.listdir(seg)
        if p.startswith("part-") and p.endswith(".parquet")
        and pq.read_table(os.path.join(seg, p), columns=["k"]).num_rows
    )
    for (_lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, "compacted segment files overlap in key range"


def test_create_function_using_jar_scope_error(engine):
    import pytest as _pt

    with _pt.raises(ValueError, match="USING JAR|DynamicClassLoader"):
        engine.sql(
            "CREATE FUNCTION myudf(VARCHAR) RETURNS VARCHAR AS "
            "'com.example.MyUdf' USING JAR '/tmp/udf.jar'"
        )


def test_tenant_view_composition(engine):
    """Tenant connections + views compose (the reference's SaaS pattern:
    tenant-specific views over a MULTI_TENANT base): the view predicate and
    the implicit tenant filter both apply on read, and writes through the
    view fill both the tenant id and the view constants."""
    engine.sql(
        "CREATE TABLE saas (tenant VARCHAR NOT NULL, k BIGINT NOT NULL, "
        "kind VARCHAR, v DOUBLE, "
        "CONSTRAINT pk PRIMARY KEY (tenant, k)) MULTI_TENANT=true"
    )
    engine.sql(
        "UPSERT INTO saas VALUES ('t1', 1, 'click', 1.5), "
        "('t1', 2, 'view', 2.5), ('t2', 1, 'click', 9.5)"
    )
    t1 = engine.with_tenant("t1")
    t1.sql("CREATE VIEW t1_clicks AS SELECT * FROM saas WHERE kind = 'click'")
    rows = t1.table("t1_clicks").collect()
    assert [(r.k, r.v) for r in rows] == [(1, 1.5)]  # tenant AND view filters
    # write through the view from the tenant connection: tenant id + view
    # constant both auto-filled
    t1.sql("UPSERT INTO t1_clicks (k, v) VALUES (3, 3.5)")
    got = {
        (r.tenant, r.k): (r.kind, r.v) for r in engine.table("saas").collect()
    }
    assert got[("t1", 3)] == ("click", 3.5)
    assert ("t2", 3) not in got


def test_duplicate_pk_in_one_values_batch_last_wins(engine):
    """MutationState buffers by PK: a later VALUES row in the SAME statement
    replaces an earlier one deterministically (not an arbitrary read-side
    tie-break between equal-mutation-ts rows)."""
    engine.sql(
        "CREATE TABLE dupb (k BIGINT NOT NULL, v VARCHAR, "
        "CONSTRAINT pk PRIMARY KEY (k))"
    )
    n = engine.sql("UPSERT INTO dupb VALUES (1, 'first'), (2, 'x'), (1, 'last')")
    assert n == 3  # executeUpdate counts processed rows
    got = {r.k: r.v for r in engine.table("dupb").collect()}
    assert got == {1: "last", 2: "x"}


def test_drop_table_cascade_views(engine):
    """MetaDataClient.dropTable: child views block a plain DROP TABLE;
    CASCADE drops the whole view chain with the table."""
    import pytest as _pt

    engine.sql("CREATE TABLE casc (k BIGINT NOT NULL, kind VARCHAR, "
               "CONSTRAINT pk PRIMARY KEY (k))")
    engine.sql("CREATE VIEW casc_v AS SELECT * FROM casc WHERE kind = 'a'")
    engine.sql("CREATE VIEW casc_vv AS SELECT * FROM casc_v")
    # an index ON a dependent view must cascade too (r04 advice: it used
    # to survive the drop as an ACTIVE orphan)
    engine.sql("CREATE INDEX casc_vix ON casc_v (kind)")
    with _pt.raises(ValueError, match="CASCADE"):
        engine.sql("DROP TABLE casc")
    engine.sql("DROP TABLE casc CASCADE")
    with _pt.raises(ValueError):
        engine.managed("casc")
    assert "casc_v" not in engine._views and "casc_vv" not in engine._views
    assert "casc_vix" not in engine._indexes


def test_view_constant_apostrophe_and_keyword_literal(engine):
    """An updatable-view constant containing an apostrophe or the word AND
    must survive the UPSERT rewrite (r04 advice: the constant was rendered
    unescaped and the conjunct scan ran on unmasked text)."""
    engine.sql(
        "CREATE TABLE vq (k BIGINT NOT NULL, label VARCHAR, v VARCHAR, "
        "CONSTRAINT pk PRIMARY KEY (k))"
    )
    engine.sql(
        "CREATE VIEW vq_v AS SELECT * FROM vq "
        "WHERE label = 'rock ''n'' AND roll'"
    )
    engine.sql("UPSERT INTO vq_v (k, v) VALUES (1, 'x')")
    rows = engine.sql("SELECT k, label, v FROM vq_v").collect()
    assert [(r.k, r.label, r.v) for r in rows] == [(1, "rock 'n' AND roll", "x")]


def test_column_default_values(engine):
    """CREATE TABLE ... DEFAULT expr (grammar :816): the reference evaluates
    defaults at READ time when the cell is absent (DefaultValueExpression
    wraps the column ref), so unsupplied columns AND explicitly-nulled
    cells both read as the default."""
    engine.sql(
        "CREATE TABLE dft (k BIGINT NOT NULL, v VARCHAR DEFAULT 'dflt', "
        "n INTEGER DEFAULT 7, CONSTRAINT pk PRIMARY KEY (k))"
    )
    engine.sql("UPSERT INTO dft (k) VALUES (1)")
    engine.sql("UPSERT INTO dft (k, v) VALUES (2, 'x')")
    got = {(r.k, r.v, r.n) for r in engine.sql("SELECT k, v, n FROM dft").collect()}
    assert got == {(1, "dflt", 7), (2, "x", 7)}
    # explicit NULL deletes the cell in the reference → reads as default
    engine.sql("UPSERT INTO dft (k, v) VALUES (2, NULL)")
    assert engine.sql("SELECT v FROM dft WHERE k = 2").collect()[0].v == "dflt"
    # defaults participate in predicates too
    assert engine.sql("SELECT k FROM dft WHERE n = 7 ORDER BY k").collect()[0].k == 1
