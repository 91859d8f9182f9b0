"""Property-based tests for the sqlfront tokenizer (hypothesis).

The invariants that make the dialect rewriter safe to run on arbitrary SQL:
  1. Text containing none of the mapped function names passes through
     unchanged.
  2. String-literal contents are never rewritten, no matter what function
     names they contain (the round-1 regex rewriter failed this).
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from phoenix_spark.sqlfront import RENAME, translate_phoenix_sql
from phoenix_spark.sqllex import segments

_PLAIN = st.text(
    alphabet=st.characters(
        whitelist_categories=("Lu", "Ll", "Nd", "Zs"), max_codepoint=0x7E
    ),
    max_size=60,
)

_FN_NAMES = st.sampled_from(sorted(RENAME))


@settings(max_examples=200, deadline=None)
@given(_PLAIN)
def test_plain_text_passthrough(text):
    # no mapped names, no quotes → identity
    if any(fn in text.upper() for fn in RENAME) or "'" in text or '"' in text:
        return
    assert translate_phoenix_sql(text) == text


@settings(max_examples=200, deadline=None)
@given(_FN_NAMES, _PLAIN)
def test_literal_contents_never_rewritten(fn, payload):
    lit = f"{fn}({payload.replace(chr(39), '')})"
    sql = f"SELECT '{lit}' AS s FROM t"
    out = translate_phoenix_sql(sql)
    assert f"'{lit}'" in out  # literal survives byte-for-byte


@settings(max_examples=200, deadline=None)
@given(st.lists(st.sampled_from(["code ", "'a''b'", '"Quoted Id"', "-- c\n"]), max_size=8))
def test_segments_partition_is_lossless(parts):
    sql = "".join(parts)
    segs = segments(sql)
    assert "".join(text for _, text in segs) == sql


def test_hint_translation():
    from phoenix_spark.sqlfront import translate_phoenix_sql

    # SERIAL and USE_SORT_MERGE_JOIN get Spark analogs; HBase-mechanics
    # hints (scan/index/cache) are dropped per SURVEY §4.1
    out = translate_phoenix_sql(
        "SELECT /*+ SERIAL */ r_name FROM region ORDER BY r_name"
    )
    assert "/*+ COALESCE(1) */" in out
    out = translate_phoenix_sql(
        "SELECT /*+ USE_SORT_MERGE_JOIN */ o.o_orderkey "
        "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey"
    )
    assert "/*+ MERGE(o) */" in out  # binds to the alias, as Spark requires
    out = translate_phoenix_sql(
        "SELECT /*+ USE_SORT_MERGE_JOIN */ o_orderkey "
        "FROM orders JOIN customer ON o_custkey = c_custkey"
    )
    assert "/*+ MERGE(orders) */" in out  # no alias → table name
    out = translate_phoenix_sql(
        "SELECT /*+ NO_INDEX, SKIP_SCAN, INDEX(t idx) */ 1 FROM orders"
    )
    assert "/*+" not in out  # all dropped, Spark parses clean
    # hint-shaped text inside a string literal is untouched
    out = translate_phoenix_sql("SELECT '/*+ SERIAL */' AS s FROM region")
    assert "'/*+ SERIAL */'" in out


# ---------------------------------------------------------------------------
# Format-pattern translation (TO_NUMBER / TO_CHAR / TO_DATE patterns)
# ---------------------------------------------------------------------------

import pytest

from phoenix_spark.sqlfront import (
    PhoenixTranslationError,
    to_char_numeric_expr,
    to_number_expr,
    translate_datetime_pattern,
)


def test_datetime_pattern_letters_enumerated():
    """Every letter java.text documents either translates or raises —
    nothing passes through unvetted (the round-2 gap: exotic letters only
    failed at runtime)."""
    same_meaning = "GyMLdDEaHhKkmsQq"
    for c in same_meaning:
        assert translate_datetime_pattern(c) == c
    # differ in meaning, banned by Spark's parser, or (zone letters) would
    # silently inject the session timezone into NTZ values
    for c in "uYwWFzZX":
        with pytest.raises(PhoenixTranslationError):
            translate_datetime_pattern(c)
    for c in "bBcefgijlnNoprtvx":  # no verified translation -> loud
        with pytest.raises(PhoenixTranslationError):
            translate_datetime_pattern(c)


def test_datetime_pattern_quoted_literals_pass_through():
    assert translate_datetime_pattern("yyyy'T'HH") == "yyyy'T'HH"
    assert translate_datetime_pattern("'week' d") == "'week' d"
    # banned letters inside quotes are literal text, not pattern letters
    assert translate_datetime_pattern("'u w W'yyyy") == "'u w W'yyyy"


def test_datetime_pattern_fraction_only_sss():
    assert translate_datetime_pattern("HH:mm:ss.SSS") == "HH:mm:ss.SSS"
    for bad in ("S", "SS", "SSSS"):
        with pytest.raises(PhoenixTranslationError):
            translate_datetime_pattern(bad)


def test_number_format_translation_shapes():
    # DecimalFormat '#,##0.00' widens within the 38-digit decimal budget:
    # 26 int positions + a 12-'9' lenient parse fraction (DecimalFormat
    # .parse ignores the pattern's fraction digits); sign handled explicitly
    e = to_number_expr("x", "#,##0.00")
    assert ",990.999999999999'" in e and e.count("999,") >= 7
    assert "LIKE '-%'" in e
    # leniency emulation: integer-only patterns still parse fractions
    assert ".999999999999'" in to_number_expr("x", "#,##0")
    e = to_char_numeric_expr("x", "$#,##0.00")
    assert "'$'" in e and "bround(x, 2)" in e and "abs(" in e
    assert ",990.00'" in e  # format direction keeps the pattern's fraction
    # integer-only format -> scale-0 rounding
    assert "bround(x, 0)" in to_char_numeric_expr("x", "#,##0")


def test_datetime_format_only_letters_rejected_for_parse():
    # 'E'/'Q'/'q' format fine (date_format) but Spark's to_timestamp
    # rejects them at runtime -> the parse direction fails at translate time
    for c in "EQq":
        assert translate_datetime_pattern(c) == c
        with pytest.raises(PhoenixTranslationError):
            translate_datetime_pattern(c, parse=True)
    from phoenix_spark.sqlfront import translate_phoenix_sql

    with pytest.raises(PhoenixTranslationError):
        translate_phoenix_sql("SELECT TO_DATE(s, 'EEE yyyy-MM-dd') FROM t")


def test_to_char_numeric_dispatch_on_digit_positions():
    """A pattern containing digit positions routes to the DecimalFormat
    translator even when it has DecimalFormat features we reject — so the
    user sees the specific rejection, not a baffling date_format type
    error."""
    from phoenix_spark.sqlfront import translate_phoenix_sql

    for bad in ("0.00E0", "#,##0%", "0.00;-0.00"):
        with pytest.raises(PhoenixTranslationError):
            translate_phoenix_sql(f"SELECT TO_CHAR(x, '{bad}') FROM t")


def test_number_format_rejections():
    for bad in ("0.00E0", "#,##0%", "0.00;-0.00", "#,####", "0'x'0", "abc"):
        with pytest.raises(PhoenixTranslationError):
            to_number_expr("x", bad)
    # fraction '#' drops trailing zeros - representable in parse, not format
    to_number_expr("x", "0.##")
    with pytest.raises(PhoenixTranslationError):
        to_char_numeric_expr("x", "0.##")


@settings(max_examples=100, deadline=None)
@given(
    st.integers(min_value=-10**12, max_value=10**12),
    st.integers(min_value=0, max_value=99),
)
def test_decimalformat_parity_on_spark(spark, int_part, cents):
    """The translated TO_CHAR expression reproduces java.text.DecimalFormat
    on '#,##0.00' (ground truth captured from JDK 17 DecimalFormat: grouped
    thousands, no padding, '-' prefix), and TO_NUMBER round-trips it."""
    val = int_part + (cents / 100 if int_part >= 0 else -cents / 100)
    expected = f"{abs(val):,.2f}"  # Python grouping matches DecimalFormat
    if val < 0:
        expected = "-" + expected
    expr = to_char_numeric_expr(f"cast('{val:.2f}' as double)", "#,##0.00")
    got = spark.sql(f"SELECT {expr} AS r").collect()[0][0]
    assert got == expected, (val, got, expected)
    back = to_number_expr(f"'{got}'", "#,##0.00")
    rt = spark.sql(f"SELECT {back} AS r").collect()[0][0]
    assert abs(rt - round(val, 2)) < 1e-9


# --- JSON_MODIFY round-trip (deep-path rebuild correctness) ------------------

_JKEY = st.sampled_from(["a", "b", "c", "kk", "x1"])
_JVAL = st.one_of(
    st.integers(min_value=-10**9, max_value=10**9),
    st.booleans(),
    st.none(),
    st.text(
        alphabet=st.characters(
            whitelist_categories=("Lu", "Ll", "Nd"), max_codepoint=0x7E
        ),
        max_size=12,
    ),
)


@settings(max_examples=25, deadline=None)
@given(
    st.dictionaries(_JKEY, _JVAL, min_size=1, max_size=4),
    _JKEY,
    _JVAL,
)
def test_json_modify_roundtrip(spark, doc, key, new_val):
    """Setting any top-level key through the JSON_MODIFY lowering yields
    exactly the source dict with that key replaced — every other field keeps
    its type (ints stay ints, bools stay bools, nulls stay nulls)."""
    import json

    doc_lit = json.dumps(doc).replace("'", "''")
    nv_lit = json.dumps(new_val).replace("'", "''")
    sql = translate_phoenix_sql(
        f"SELECT JSON_MODIFY('{doc_lit}', '$.{key}', '{nv_lit}') AS v"
    )
    out = spark.sql(sql).collect()[0].v
    assert json.loads(out) == {**doc, key: new_val}


# --- typed || chain rewrite decision (r6) ------------------------------------
# The concat_ws('', ...) rewrite must fire iff EVERY operand is string-typed
# (literal, catalog VARCHAR column, string function, string CAST, or NULL —
# with at least one non-NULL), matching StringConcatExpression.java:69-77's
# NULL-skip being safe only for string children.

_CHAIN_OPERANDS = st.sampled_from(
    [
        ("'lit'", "str"),
        ("name", "str"),            # catalog VARCHAR
        ("TRIM(name)", "str"),      # string function
        ("CAST(x AS VARCHAR)", "str"),
        ("NULL", "null"),
        ("arrcol", "other"),        # not in the catalog
        ("CURRENT_DATE()", "other"),  # unknown function
        ("x", "other"),             # integral column
        # nested chains (r7 advice): an operand that is itself a || chain —
        # its inner rewrite must survive into the outer replacement text
        ("(name || 'in')", "str"),
        ("UPPER(name || 'q')", "str"),
        ("(name || x)", "other"),   # inner chain not all-string
    ]
)


@settings(max_examples=200, deadline=None)
@given(st.lists(_CHAIN_OPERANDS, min_size=2, max_size=5))
def test_concat_chain_rewrite_iff_all_string(ops):
    sql = "SELECT " + " || ".join(o for o, _ in ops) + " AS v FROM t"
    out = translate_phoenix_sql(
        sql, str_columns={"name"}, int_columns={"x"}
    )
    kinds = [k for _, k in ops]
    should = all(k in ("str", "null") for k in kinds) and "str" in kinds
    # The TOP-LEVEL chain rewrite fires iff every top-level operand is
    # string-typed.  A nested parenthesized chain operand is its own
    # StringConcatExpression and may rewrite independently, so test the
    # outer decision by the statement head, not by substring presence.
    assert out.startswith("SELECT concat_ws('', ") == should, out
    if should:
        # The outer rewrite must embed the nested rewrites: no raw || may
        # survive anywhere in the statement (r7 advice — the splice used to
        # take operand text from the ORIGINAL source, reverting inner
        # concat_ws/div rewrites).
        assert "||" not in out, out
    else:
        # outer chain untouched: its separators must survive
        assert "||" in out, out


def test_concat_nested_chain_rewrites_survive():
    """r7 advice repros, pinned exactly: nested || chains and a div rewrite
    inside an outer chain operand must appear rewritten in the output."""
    out = translate_phoenix_sql(
        "SELECT (a || b) || c AS v FROM t", str_columns={"a", "b", "c"}
    )
    assert out == "SELECT concat_ws('', (concat_ws('', a, b)), c) AS v FROM t"
    out = translate_phoenix_sql(
        "SELECT UPPER(a || b) || c AS v FROM t", str_columns={"a", "b", "c"}
    )
    assert out == "SELECT concat_ws('', upper(concat_ws('', a, b)), c) AS v FROM t"
    out = translate_phoenix_sql(
        "SELECT SUBSTR(s, n/m, 2) || y AS v FROM t",
        str_columns={"s", "y"}, int_columns={"n", "m"},
    )
    assert "n div m" in out and "concat_ws" in out, out


def test_concat_suffix_of_failed_head_not_rewritten():
    """A || chain whose head fails to parse (scalar subquery) must not get a
    suffix-only rewrite — that would change the enclosing chain's NULL
    semantics (Phoenix NULL-skips the whole chain or none of it)."""
    sql = "SELECT (SELECT name FROM u) || a || b AS v FROM t"
    out = translate_phoenix_sql(sql, str_columns={"a", "b", "name"})
    assert "concat_ws" not in out, out


def test_rvc_compares_element_by_element(spark, tmp_path):
    """Row value constructors of equal arity compare element by element,
    each pair of elements widened to a common type: a BIGINT PK column
    against INTEGER literals, in a comparison and in an IN list."""
    from phoenix_spark.engine import Engine

    e = Engine(spark, warehouse=str(tmp_path / "wh"))
    e.sql(
        "CREATE TABLE r (a BIGINT NOT NULL, b INTEGER NOT NULL, v VARCHAR, "
        "CONSTRAINT pk PRIMARY KEY (a, b))"
    )
    e.sql("UPSERT INTO r VALUES (1, 2, 'p'), (1, 3, 'q'), (2, 3, 'r')")

    def v(where: str) -> list[str]:
        return sorted(r.v for r in e.sql(f"SELECT v FROM r WHERE {where}").collect())

    assert v("(a, b) > (1, 2)") == ["q", "r"]
    assert v("(a, b) <= (1, 3)") == ["p", "q"]
    assert v("(a, b) = (1, 3)") == ["q"]
    assert v("(a, b) IN ((2, 3))") == ["r"]
    assert v("(a, b) NOT IN ((2, 3), (1, 2))") == ["q"]
    assert v("(a, b, v) > (1, 2)") == ["p", "q", "r"]  # the longer RVC wins a tie
