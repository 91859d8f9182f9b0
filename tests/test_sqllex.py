"""Pins for the Phoenix dialect lexer (phoenix_spark/sqllex.py) and the
primitives built on it.  Pure Python: no Spark session.

Every case mixes the constructs a SQL scanner most easily gets wrong: ''
escapes in string literals, "" escapes and separators inside quoted
identifiers, ``--`` and ``/* */`` comments, ``[`` brackets, and
``\\x00N\\x00`` mask markers.
"""

from __future__ import annotations

import re

from hypothesis import given, settings
from hypothesis import strategies as st

from phoenix_spark.sqllex import (
    code_start,
    find_top,
    iter_top,
    mask,
    match_backward,
    match_forward,
    segments,
    split_top,
    tokens,
    unmask,
)


def _kinds(text):
    return [(t.kind, t.text, t.depth) for t in tokens(text)]


def test_tokens_kinds_and_depths():
    assert _kinds("f(a[1], 'x)''y') -- c)\n") == [
        ("word", "f", 0),
        ("open", "(", 0),
        ("word", "a", 1),
        ("open", "[", 1),
        ("number", "1", 2),
        ("close", "]", 1),
        ("op", ",", 1),
        ("string", "'x)''y'", 1),
        ("close", ")", 0),
        ("comment", "-- c)", 0),
    ]
    assert _kinds('"a""b" /* ( */ \x003\x00 <= 1.5e3') == [
        ("ident", '"a""b"', 0),
        ("comment", "/* ( */", 0),
        ("mask", "\x003\x00", 0),
        ("op", "<=", 0),
        ("number", "1.5e3", 0),
    ]
    # an unmatched close bracket sits below depth 0
    assert [t.depth for t in tokens("a) b")] == [0, -1, -1]


def test_unterminated_literal_and_comment_run_to_end():
    assert _kinds("a 'b, c") == [("word", "a", 0), ("string", "'b, c", 0)]
    assert _kinds('"x, y') == [("ident", '"x, y', 0)]
    assert _kinds("a /* b, c") == [("word", "a", 0), ("comment", "/* b, c", 0)]
    assert split_top("a 'b, c", ",") == ["a 'b, c"]


def test_segments():
    sql = "SELECT 'it''s', \"Q\"\"id\" -- note\nFROM t /* x */"
    assert segments(sql) == [
        ("code", "SELECT "),
        ("string", "'it''s'"),
        ("code", ", "),
        ("ident", '"Q""id"'),
        ("code", " "),
        ("comment", "-- note"),
        ("code", "\nFROM t "),
        ("comment", "/* x */"),
    ]


def test_mask_unmask_round_trip():
    sql = "SELECT 'a?b', \"c?\" -- d?\n FROM t WHERE k = ? /* ? */"
    masked, stash = mask(sql)
    assert masked == "SELECT \x000\x00, \x001\x00 \x002\x00\n FROM t WHERE k = ? \x003\x00"
    assert stash == ["'a?b'", '"c?"', "-- d?", "/* ? */"]
    assert masked.count("?") == 1
    assert unmask(masked, stash) == sql
    # text that is already masked keeps its markers as single tokens
    assert _kinds("f(\x000\x00)") == [
        ("word", "f", 0),
        ("open", "(", 0),
        ("mask", "\x000\x00", 1),
        ("close", ")", 0),
    ]


def test_code_start_skips_comments():
    assert code_start("-- load\nUPSERT INTO t") == 8
    assert code_start("/* c */  /* d */ SELECT 1") == 17
    assert code_start("  -- only a comment") == len("  -- only a comment")
    assert code_start("") == 0


def test_split_top_commas():
    text = "a, f(b, c), 'x,y', 'it''s, ok', \"a,b\", arr[1, 2] -- ,\n, z"
    assert [x.strip() for x in split_top(text, ",")] == [
        "a",
        "f(b, c)",
        "'x,y'",
        "'it''s, ok'",
        '"a,b"',
        "arr[1, 2] -- ,",
        "z",
    ]
    # raw items: callers strip and drop empties themselves
    assert split_top("", ",") == [""]
    assert split_top("a,,b,", ",") == ["a", "", "b", ""]


def test_split_top_statements():
    script = "-- don't split\nUPSERT INTO kv VALUES (3, 'c;d');\nSELECT 1 /* ; */;"
    assert split_top(script, ";") == [
        "-- don't split\nUPSERT INTO kv VALUES (3, 'c;d')",
        "\nSELECT 1 /* ; */",
        "",
    ]


def test_split_top_keyword():
    assert split_top(' "X AND Y" = 1 AND k = 2', "AND") == [' "X AND Y" = 1 ', " k = 2"]
    assert split_top("a and (b AND c) AND 'p AND q' and brand = 1", "AND") == [
        "a ",
        " (b AND c) ",
        " 'p AND q' ",
        " brand = 1",
    ]


def test_split_top_equals_ignores_compound_operators():
    assert split_top("a.k <=> b.k", "=") == ["a.k <=> b.k"]
    assert split_top("f(x = 1) >= 2", "=") == ["f(x = 1) >= 2"]
    assert split_top("a.k = b.k", "=") == ["a.k ", " b.k"]


_CLAUSE_RE = re.compile(r"(WHERE|ORDER\s+BY|LIMIT)\b", re.I)


def test_iter_top_depth_zero_matches_only():
    tail = "WHERE \"ORDER BY\" IN (SELECT x FROM t ORDER BY x LIMIT 5) ORDER BY k LIMIT 3"
    got = [(m.start(), re.sub(r"\s+", " ", m.group(1)).upper()) for m in iter_top(tail, _CLAUSE_RE)]
    assert got == [(0, "WHERE"), (tail.index(") ORDER") + 2, "ORDER BY"), (tail.rindex("LIMIT"), "LIMIT")]
    # a keyword inside a longer word is not a match
    assert list(iter_top("xlimit = 1", _CLAUSE_RE)) == []
    # the scan ends at an unmatched close bracket
    assert [m.group(0) for m in iter_top("a LIMIT 1) LIMIT 2", _CLAUSE_RE)] == ["LIMIT"]


def test_find_top_clause_end():
    end_re = re.compile(r"(LIMIT|OFFSET)\b", re.I)
    sql = "SELECT * FROM t ORDER BY f(a, 'LIMIT'), b DESC LIMIT 3"
    start = sql.index("BY") + 2
    assert find_top(sql, end_re, start) == sql.index("LIMIT 3")
    # inside a group the clause ends at the group's close bracket
    sub = "x IN (SELECT y FROM u ORDER BY y DESC) AND z"
    start = sub.index("BY") + 2
    assert find_top(sub, end_re, start) == sub.index(")")
    assert find_top("a, b", end_re) == 4


def test_match_forward():
    text = "f(a, g(b), ')', \")\", [c]) + 1"
    assert match_forward(text, 2) == text.index(" + 1")
    assert text[match_forward(text, 7) - 1] == ")"  # closes g(
    assert match_forward("ARRAY[1, [2]] x", 6) == len("ARRAY[1, [2]]")
    # never closes: as if closed just past the end
    assert match_forward("(a, b", 1) == len("(a, b") + 1


def test_match_backward():
    text = "x + f(a, (b), ')') < 3"
    end = text.index(" < 3")
    assert match_backward(text, end) == text.index("(")
    assert match_backward("(a)(b)", 6) == 3
    assert match_backward("a) b)", 5) == -1


_PIECES = st.sampled_from(
    [
        "a", "1", " ", ",", ";", "(", ")", "[", "]", "AND", "and", "=", "<=",
        "'x,y'", "'it''s;'", "'", '"q,;"', '"', "-- c,;\n", "/* , ; */", "/*",
        "\x000\x00",
    ]
)


@settings(max_examples=300, deadline=None)
@given(st.lists(_PIECES, max_size=20), st.sampled_from([",", ";", "=", "AND"]))
def test_split_top_rejoin_is_lossless(pieces, sep):
    """Splitting then re-joining gives the text back, and no item holds a
    separator at depth 0 of its own."""
    text = "".join(pieces)
    parts = split_top(text, sep)
    if sep == "AND":
        assert sep.join(parts).upper() == text.upper()
    else:
        assert sep.join(parts) == text
    assert all(split_top(p, sep) == [p] for p in parts)


def test_create_table_drops_comments_in_column_list():
    from phoenix_spark.ddl import parse_create_table

    ct = parse_create_table(
        "CREATE TABLE c2 (k INTEGER PRIMARY KEY, -- note, with comma\n"
        " v VARCHAR DEFAULT '-- kept, as text', /* w, */ n BIGINT)"
    )
    assert ct.schema.fieldNames() == ["k", "v", "n"]
    assert ct.pk == ["k"]
    assert ct.defaults == {"v": "'-- kept, as text'"}
