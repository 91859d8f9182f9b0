"""Phoenix SQL dialect front-end.

Phoenix parses its dialect with an ANTLR3 grammar (reference:
phoenix-core-client/src/main/antlr3/PhoenixSQL.g).  Spark SQL covers the ANSI
core, so this front-end closes the *dialect* gap:

  * literal safety from the dialect lexer (``sqllex``) — rewrites run on
    masked text, so function renames never touch the inside of string
    literals ('...'), quoted identifiers ("..."), or comments;
  * per-function rewrite rules, including argument-shape fixes:
      - REGEXP_SUBSTR(s, p)      → regexp_extract(s, p, 0)   (Phoenix returns
        the WHOLE match; Spark's default group 1 errors on group-free
        patterns — reference ByteBasedRegexpSubstrFunction.java)
      - REGEXP_SUBSTR(s, p, off) → regexp_extract(substr(s, off), p, 0)
      - STRING_TO_ARRAY(s, 'd')  → split(s, <regex-escaped d>)  (Phoenix
        delimiters are literal; Spark split takes a regex)
      - TO_NUMBER(x)             → cast(x as double); the 2-arg
        format-pattern form is rejected loudly instead of mistranslated
      - ARRAY_ELEM/ARRAY_LENGTH/... → element_at/size/... (1:1 renames)
  * statement classification so Engine.sql can route UPSERT / DDL / DELETE
    to the mutation and catalog layers (PhoenixStatement.executeUpdate
    analogue).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from phoenix_spark.sqllex import (
    code_start,
    find_top,
    iter_top,
    mask,
    match_backward,
    match_forward,
    split_top,
    tokens,
    unmask,
)

# 1:1 function renames (semantics verified in queries/scalar_*.py).
RENAME = {
    "ARRAY_LENGTH": "size",
    "ARRAY_ELEM": "element_at",
    "ARRAY_TO_STRING": "array_join",
    "JSON_VALUE": "get_json_object",
    # JSON_QUERY returns the JSON fragment at the path (JsonQueryFunction);
    # get_json_object returns fragments for objects/arrays untouched
    "JSON_QUERY": "get_json_object",
    "CURRENT_DATE": "current_timestamp",  # Phoenix DATE carries time (§1.4)
    "CURRENT_TIME": "current_timestamp",
    "OCTET_LENGTH": "octet_length",
    "SUBBINARY": "substring",
    "REGEXP_SPLIT": "split",
}

# Functions that need argument-shape rewrites (paren-matched below).
_SHAPE_FNS = (
    "TRUNC",
    "ROUND",
    "FLOOR",
    "CEIL",
    "REGEXP_SUBSTR",
    "REGEXP_REPLACE",  # 2-arg form removes matches
    "STRING_TO_ARRAY",
    "TO_NUMBER",
    "TO_CHAR",
    "TO_DATE",
    "TO_TIME",
    "TO_TIMESTAMP",
    "LOG",
    "SIGN",    # INTEGER result (SignFunction), not Spark's DOUBLE
    "PHOENIX_ROW_TIMESTAMP",  # -> the commit-timestamp column
    "CONVERT_TZ",
    "TIMEZONE_OFFSET",
    "DAYOFWEEK",
    "WEEK",
    "ENCODE",
    "DECODE",
    "GET_BYTE",
    "GET_BIT",
    "SET_BYTE",
    "SET_BIT",
    "ENCODE_BINARY",
    "DECODE_BINARY",
    "COLLATION_KEY",
    "JSON_EXISTS",
    "JSON_MODIFY",
    "PARTITION_ID",
    "ARRAY_PREPEND",  # Phoenix (elem, arr) vs Spark (arr, elem); NULL rules
    "ARRAY_APPEND",   # NULL element -> unchanged; NULL array -> singleton
    "ARRAY_CAT",      # NULL side -> the other side
    "ARRAY_REMOVE",   # NULL element -> unchanged
    "ARRAY_FILL",     # length < 1 -> error (ArrayFillFunctionIT)
    "BSON_CONDITION_EXPRESSION",
    "BSON_VALUE",
    "BSON_VALUE_TYPE",
    "UPPER",   # optional locale argument
    "LOWER",
    "LPAD",    # empty fill / non-positive length → NULL (StringIT)
    "LTRIM",   # one argument only: Spark's 2-arg form is (trimStr, str)
    "RTRIM",
)

_WORD_RE = re.compile(
    r"\b(" + "|".join(list(RENAME) + list(_SHAPE_FNS)) + r")\s*\(",
    re.IGNORECASE,
)


class PhoenixTranslationError(ValueError):
    """A Phoenix construct this front-end refuses to silently mistranslate."""


# ---------------------------------------------------------------------------
# Format-pattern translation (reference: ToNumberFunction.java /
# ToCharFunction.java use java.text.DecimalFormat; ToDateFunction.java /
# DateUtil.java use java.text SimpleDateFormat-style patterns).  Spark's
# datetime patterns share most letters with java.text but several DIFFER IN
# MEANING or are banned by Spark's parser — those are rejected loudly here
# instead of passing through to a runtime error or, worse, a silently wrong
# result ('u': day-number-of-week in java.text, year-era in Spark).
# ---------------------------------------------------------------------------

# Letters with the SAME meaning in java.text and Spark datetime patterns.
_DT_OK = set("GyMLdDEaHhKkmsQq")
# Of those, the ones Spark supports only for FORMATTING (day-of-week text,
# quarter): to_timestamp raises on them, date_format is fine.
_FORMAT_ONLY = set("EQq")
# Letters whose meaning differs or that Spark's parser bans outright.
_ZONE_MSG = (
    "zone letter on the engine's zoneless (NTZ) timestamps would silently "
    "inject the session timezone (verified: formatting prints the session "
    "zone, parsing shifts wall time through it); use CONVERT_TZ with "
    "explicit zones instead"
)
_DT_BAD = {
    "u": "day-number-of-week in java.text but year-of-era in Spark",
    "Y": "week-based year (rejected by Spark's datetime parser)",
    "w": "week-of-year (rejected by Spark's datetime parser)",
    "W": "week-of-month (rejected by Spark's datetime parser)",
    "F": "day-of-week-in-month (no Spark pattern equivalent)",
    "z": _ZONE_MSG,
    "Z": _ZONE_MSG,
    "X": _ZONE_MSG,
}


def translate_datetime_pattern(fmt: str, parse: bool = False) -> str:
    """java.text datetime pattern -> Spark datetime pattern (or raise).

    ``fmt`` is the raw pattern (no surrounding SQL quotes).  Quoted literal
    sections ('...') use identical syntax in both and pass through; every
    unquoted letter is checked against the translation table.  'S' is
    accepted only as 'SSS': java.text 'S' is the millisecond VALUE while
    Spark 'S' is fraction-of-second, so only the 3-digit run means the same
    thing for the engine's microsecond timestamps.  ``parse=True`` (the
    TO_DATE/TO_TIME/TO_TIMESTAMP direction) additionally rejects the
    letters Spark allows only when FORMATTING (verified: to_timestamp with
    'E'/'Q'/'q' raises at runtime) — the table's whole point is failing at
    translate time instead.
    """
    out: list[str] = []
    i = 0
    while i < len(fmt):
        c = fmt[i]
        if c == "'":
            j = i + 1
            while j < len(fmt):
                if fmt[j] == "'":
                    if j + 1 < len(fmt) and fmt[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            out.append(fmt[i : j + 1])
            i = j + 1
            continue
        if c.isalpha():
            j = i
            while j < len(fmt) and fmt[j] == c:
                j += 1
            run = fmt[i:j]
            if c in _DT_BAD:
                raise PhoenixTranslationError(
                    f"datetime pattern letter {c!r}: {_DT_BAD[c]}"
                )
            if parse and c in _FORMAT_ONLY:
                raise PhoenixTranslationError(
                    f"datetime pattern letter {c!r} is format-only in "
                    "Spark (to_timestamp rejects it at runtime)"
                )
            if c == "S":
                if run != "SSS":
                    raise PhoenixTranslationError(
                        "datetime pattern 'S' differs between java.text "
                        "(millisecond value) and Spark (fraction); only "
                        "'SSS' is portable"
                    )
                out.append(run)
            elif c in _DT_OK:
                out.append(run)
            else:
                raise PhoenixTranslationError(
                    f"datetime pattern letter {c!r} has no verified Spark "
                    "translation"
                )
            i = j
        else:
            out.append(c)
            i += 1
    return "".join(out)


_NUM_FMT_CHARS = set("0#.,$¤")


def _looks_like_number_format(fmt: str) -> bool:
    """DecimalFormat patterns are digits-and-punctuation; any other letter
    means a datetime pattern (TO_CHAR dispatches on this — the reference
    dispatches on the ARGUMENT type, which the textual front-end can't see,
    but the two pattern languages are disjoint on every real format)."""
    return bool(fmt) and any(c in "0#" for c in fmt) and all(
        c in _NUM_FMT_CHARS for c in fmt
    )


def _parse_decimal_format(fmt: str) -> tuple[str, bool, int, str]:
    """java.text.DecimalFormat pattern -> (currency, grouping, min_int, frac).

    Accepts the practical subset: optional currency prefix ('$' or the
    generic '¤'), '#'/'0' digit positions, group size 3, one decimal point.
    Scientific notation, percent/permille scaling, positive;negative
    sub-patterns, quoted literals, non-3 group sizes, and non-prefix
    currency have no Spark to_number/to_char analogue — rejected loudly
    (reference: ToNumberFunction.java / ToCharFunction.java delegate to
    java.text.DecimalFormat; this covers its common constructions).
    """
    bad = {
        "E": "scientific notation",
        "%": "percent scaling",
        "‰": "permille scaling",
        ";": "positive;negative sub-patterns",
        "'": "quoted literals",
        "-": "literal sign prefix",
    }
    for c in fmt:
        if c in bad:
            raise PhoenixTranslationError(
                f"number format {c!r} ({bad[c]}) has no Spark "
                "to_number/to_char equivalent"
            )
    currency = ""
    body = fmt
    if body[:1] in ("$", "¤"):
        currency = "$"
        body = body[1:]
    if any(c in "$¤" for c in body):
        raise PhoenixTranslationError(
            "currency symbol is only supported as a format prefix"
        )
    if body.count(".") > 1:
        raise PhoenixTranslationError("multiple decimal points in format")
    int_part, _, frac = body.partition(".")
    if not int_part or not all(c in "0#," for c in int_part):
        raise PhoenixTranslationError(
            f"untranslatable integer part in number format {fmt!r}"
        )
    if not all(c in "0#" for c in frac):
        raise PhoenixTranslationError(
            f"untranslatable fraction part in number format {fmt!r}"
        )
    grouping = "," in int_part
    if grouping and len(int_part.rsplit(",", 1)[1]) != 3:
        raise PhoenixTranslationError(
            "only group size 3 is translatable (DecimalFormat group size is "
            "defined by the digits after the last ',')"
        )
    min_int = int_part.count("0")
    return currency, grouping, min_int, frac


def _widened_int(grouping: bool, min_int: int, width: int) -> str:
    """``width`` integer digit positions with the last ``min_int``
    always-printed.  DecimalFormat's integer part is unbounded; Spark's
    decimal caps total precision at 38, so the integer width is whatever
    the 38-digit budget leaves after the fraction: 26 positions for the
    parse direction (12 lenient fraction digits), 38-len(frac) for the
    format direction."""
    min_int = max(min_int, 1)
    digits = "9" * (width - min_int) + "0" * min_int
    if not grouping:
        return digits
    out = []
    for i, c in enumerate(reversed(digits)):
        if i and i % 3 == 0:
            out.append(",")
        out.append(c)
    return "".join(reversed(out))


def to_number_expr(arg: str, fmt: str) -> str:
    """TO_NUMBER(value, DecimalFormat) -> Spark SQL expression (double).

    DecimalFormat.parse accepts any magnitude, a leading '-', and ANY
    number of fraction digits regardless of the pattern (it ignores
    maximum/minimumFractionDigits when parsing); Spark's to_number is
    fixed-width and unsigned-by-default.  So the integer part is widened to
    26 positions (the 38-digit decimal budget minus the lenient fraction),
    the fraction is replaced by twelve optional '9' positions
    (leniency emulation: '1.234' and '12' both parse against '#,##0.00',
    as DecimalFormat.parse does), and the sign is handled explicitly.
    Known (documented) strictness difference vs java.text: a GROUPED format
    requires grouped input ('1234.56' will not parse against '#,##0.00' —
    write it '1,234.56' as DecimalFormat.format would).
    """
    currency, grouping, min_int, frac = _parse_decimal_format(fmt)
    spark_fmt = currency + _widened_int(grouping, min_int, 26) + "." + "9" * 12
    # strip exactly ONE leading '-' (DecimalFormat rejects '--5' too —
    # a double minus must still fail to parse, not silently negate twice)
    body = (
        f"(CASE WHEN trim({arg}) LIKE '-%' THEN substring(trim({arg}), 2)"
        f" ELSE trim({arg}) END)"
    )
    sign = f"(CASE WHEN trim({arg}) LIKE '-%' THEN -1 ELSE 1 END)"
    return f"cast({sign} * to_number({body}, '{spark_fmt}') as double)"


def to_char_numeric_expr(arg: str, fmt: str) -> str:
    """TO_CHAR(numeric, DecimalFormat) -> Spark SQL expression (string).

    The value is rounded to the format's scale first with ``bround``
    (DecimalFormat rounds HALF_EVEN; Spark's to_char overflows with '#'),
    formatted with a widened integer part, and trimmed (Spark space-pads
    dropped '9' positions; DecimalFormat does not).  Sign and currency are
    emitted as explicit prefixes in DecimalFormat's order (-$1,234.50)
    because Spark's to_char drops the sign and pads after '$'.  Fraction
    '#' (drop trailing zeros) has no Spark analogue — rejected.  Verified
    against java.text.DecimalFormat outputs (jshell) for the grouped,
    currency, negative, rounding-tie, and magnitude-overflow cases.
    """
    currency, grouping, min_int, frac = _parse_decimal_format(fmt)
    if "#" in frac:
        raise PhoenixTranslationError(
            "TO_CHAR fraction '#' (drop trailing zeros) has no Spark "
            "to_char equivalent; use '0' fraction digits"
        )
    spark_fmt = _widened_int(grouping, min_int, 38 - len(frac))
    if frac:
        spark_fmt += "." + frac
    v = f"cast(bround({arg}, {len(frac)}) as decimal(38,{len(frac)}))"
    sign = f"CASE WHEN {v} < 0 THEN '-' ELSE '' END"
    return (
        f"concat({sign}, '{currency}', trim(to_char(abs({v}), '{spark_fmt}')))"
    )


def _literal_text(arg: str) -> str | None:
    """'...literal...' -> inner text (SQL-unescaped), else None."""
    a = arg.strip()
    if len(a) >= 2 and a.startswith("'") and a.endswith("'"):
        return a[1:-1].replace("''", "'")
    return None


_JAVA_STRPTIME = [
    ("EEEE", "%A"), ("EEE", "%a"), ("EE", "%a"), ("E", "%a"),
    ("MMMM", "%B"), ("MMM", "%b"), ("MM", "%m"), ("M", "%m"),
    ("dd", "%d"), ("d", "%d"), ("yyyy", "%Y"), ("yy", "%y"),
    ("HH", "%H"), ("H", "%H"), ("hh", "%I"), ("h", "%I"),
    ("mm", "%M"), ("m", "%M"), ("ss", "%S"), ("s", "%S"),
    ("SSS", "%f"), ("a", "%p"), ("z", "%Z"),
]


def _python_parse_dt_literal(value, java_fmt, tz):
    """Translate-time constant fold for TO_DATE/TO_TIMESTAMP literals whose
    java.text pattern uses letters Spark's parser rejects (EEE is
    format-only in Spark).  Phoenix parses these with SimpleDateFormat
    (DateUtil.getDateParser); a LITERAL value + pattern folds to the same
    instant here via strptime.  Returns a TIMESTAMP_NTZ literal (UTC wall,
    the engine's rendering convention) or None when not foldable."""
    import datetime as _dt

    if value is None:
        return None
    fmt, i = [], 0
    while i < len(java_fmt):
        c = java_fmt[i]
        if c == "'":  # java quoted literal section
            j = java_fmt.find("'", i + 1)
            if j < 0:
                return None
            fmt.append(java_fmt[i + 1 : j].replace("%", "%%"))
            i = j + 1
            continue
        for tok, py in _JAVA_STRPTIME:
            if java_fmt.startswith(tok, i):
                fmt.append(py)
                i += len(tok)
                break
        else:
            if c.isalpha():
                return None  # unmapped pattern letter
            fmt.append("%%" if c == "%" else c)
            i += 1
    try:
        d = _dt.datetime.strptime(value, "".join(fmt))
    except ValueError:
        return None
    if d.tzinfo is not None:
        d = d.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    elif "%Z" in "".join(fmt) and re.search(r"\b(GMT|UTC)\b", value):
        pass  # already UTC wall
    elif tz and tz.upper() not in ("UTC", "GMT"):
        try:
            from zoneinfo import ZoneInfo

            d = (
                d.replace(tzinfo=ZoneInfo(tz))
                .astimezone(_dt.timezone.utc)
                .replace(tzinfo=None)
            )
        except Exception:
            return None
    return f"timestamp_ntz'{d:%Y-%m-%d %H:%M:%S.%f}'"


def _regex_escape_literal(lit: str) -> str:
    """'a.b' (SQL literal) → 'a\\.b' (regex-quoted SQL literal)."""
    inner = lit[1:-1].replace("''", "'")
    escaped = re.escape(inner)
    return "'" + escaped.replace("\\", "\\\\").replace("'", "''") + "'"


def _parse_json_path(path: str) -> list[object] | None:
    """'$.a.b[0].c' -> ['a', 'b', 0, 'c']; None if not a simple JSONPath."""
    if not path.startswith("$"):
        return None
    segs: list[object] = []
    rest = path[1:]
    while rest:
        m = re.match(r"\.([A-Za-z_]\w*)", rest)
        if m:
            segs.append(m.group(1))
            rest = rest[m.end() :]
            continue
        m = re.match(r"\[(\d+)\]", rest)
        if m:
            segs.append(int(m.group(1)))
            rest = rest[m.end() :]
            continue
        return None
    return segs


def _json_modify_expr(doc: str, segs: list[object], nv: str) -> str:
    """Updated-JSON-text expression for JSON_MODIFY (JsonModifyFunction).

    Each object level rebuilds a map<string,variant> (other fields keep
    their types; keys render sorted for determinism, as in
    bson_update_expression); each array level splices the element at the
    reference's 0-based index via slice+concat."""
    seg, rest = segs[0], segs[1:]
    if isinstance(seg, int):
        arr = f"from_json({doc}, 'array<variant>')"
        if rest:
            inner = f"to_json(element_at({arr}, {seg + 1}))"
            new_text = _json_modify_expr(inner, rest, nv)
        else:
            new_text = nv
        # suffix length = size(arr): any length >= remaining works (start
        # past the end yields []), while start+length must not overflow int
        # (a 2147483647 length silently empties the slice)
        return (
            f"to_json(concat(slice({arr}, 1, {seg}), "
            f"array(parse_json({new_text})), "
            f"slice({arr}, {seg + 2}, size({arr}))))"
        )
    if rest:
        inner = f"coalesce(get_json_object({doc}, '$.{seg}'), '{{}}')"
        new_text = _json_modify_expr(inner, rest, nv)
    else:
        new_text = nv
    merged = (
        f"map_concat(map_filter("
        f"from_json({doc}, 'map<string,variant>'), "
        f"(__k, __v) -> __k != '{seg}'), "
        f"map('{seg}', parse_json({new_text})))"
    )
    # sorted-key rendering: variant values are not orderable, so the
    # comparator sorts entries by key alone
    return (
        f"to_json(map_from_entries(array_sort(map_entries({merged}), "
        f"(__a, __b) -> case when __a.key < __b.key then -1 "
        f"when __a.key > __b.key then 1 else 0 end)))"
    )


def _rewrite_call(name: str, args: list[str]) -> str:
    up = name.upper()
    if up in ("TRUNC", "ROUND", "FLOOR", "CEIL"):
        from phoenix_spark.functions import DATE_ROUND_UNITS, ntz_date_round_sql

        # Date form: second arg is a time-unit string literal (the two
        # Phoenix overloads are distinguished by argument TYPE — a textual
        # front-end distinguishes by the unit literal, which never collides
        # with the numeric scale arg).  TimeUnit.java names; optional
        # integer multiplier (RoundDateExpression).
        lit = _literal_text(args[1]) if len(args) >= 2 else None
        if lit is not None and lit.upper() in DATE_ROUND_UNITS and len(args) <= 3:
            mult = 1
            if len(args) == 3:
                try:
                    mult = int(args[2])
                except ValueError:
                    raise PhoenixTranslationError(
                        f"{up} multiplier must be an integer literal"
                    )
            try:
                return ntz_date_round_sql(
                    "FLOOR" if up == "TRUNC" else up, args[0], lit, mult
                )
            except ValueError as exc:
                raise PhoenixTranslationError(str(exc)) from None
        if up == "TRUNC":
            # numeric TRUNC is an ALIAS of FLOOR (TruncFunction.java
            # derives FloorParseNode); 2-arg form floors at decimal scale
            if len(args) == 1:
                return f"floor({args[0]})"
            if len(args) == 2:
                return (
                    f"(floor(({args[0]}) * pow(10, {args[1]}))"
                    f" / pow(10, {args[1]}))"
                )
            raise PhoenixTranslationError(f"TRUNC with {len(args)} args")
        return f"{up.lower()}({', '.join(args)})"
    if up == "REGEXP_SUBSTR":
        if len(args) == 2:
            return f"regexp_extract({args[0]}, {args[1]}, 0)"
        if len(args) == 3:
            return f"regexp_extract(substring({args[0]}, {args[2]}), {args[1]}, 0)"
        raise PhoenixTranslationError(f"REGEXP_SUBSTR with {len(args)} args")
    if up == "STRING_TO_ARRAY":
        if len(args) != 2:
            raise PhoenixTranslationError(
                "STRING_TO_ARRAY requires (string, delimiter)"
            )
        delim = args[1]
        if delim.startswith("'") and delim.endswith("'"):
            delim = _regex_escape_literal(delim)
        else:
            raise PhoenixTranslationError(
                "STRING_TO_ARRAY with a non-literal delimiter is not supported"
            )
        return f"split({args[0]}, {delim})"
    if up == "TO_NUMBER":
        if len(args) == 1:
            return f"cast({args[0]} as double)"
        if len(args) == 2:
            # DecimalFormat pattern (ToNumberFunction.java) -> Spark
            # to_number; result cast to double to match the engine's
            # TO_NUMBER discipline (Phoenix returns DECIMAL).
            lit = _literal_text(args[1])
            if lit is None:
                raise PhoenixTranslationError(
                    "TO_NUMBER format must be a string literal"
                )
            return to_number_expr(args[0], lit)
        raise PhoenixTranslationError(f"TO_NUMBER with {len(args)} args")
    if up == "TO_CHAR":
        # ToCharFunction.java dispatches on the argument's runtime type; the
        # textual front-end dispatches on the format pattern instead — the
        # DecimalFormat and SimpleDateFormat languages are disjoint on every
        # real-world pattern (#/0 vs letters).
        if len(args) == 1:
            return f"cast({args[0]} as string)"
        if len(args) == 2:
            lit = _literal_text(args[1])
            if lit is None:
                raise PhoenixTranslationError(
                    "TO_CHAR format must be a string literal"
                )
            if any(c in "0#" for c in lit):
                # digit positions never appear in datetime patterns; route
                # to the DecimalFormat translator so unsupported features
                # (E/%/;/...) raise ITS specific error, not a baffling
                # date_format type error downstream
                return to_char_numeric_expr(args[0], lit)
            df = translate_datetime_pattern(lit).replace("'", "''")
            return f"date_format({args[0]}, '{df}')"
        raise PhoenixTranslationError(f"TO_CHAR with {len(args)} args")
    if up in ("TO_DATE", "TO_TIME", "TO_TIMESTAMP"):
        # Phoenix DATE/TIME/TIMESTAMP all carry full time (PDate is ms-epoch
        # — ToDateFunction.java), so every variant maps to a timestamp, NOT
        # Spark's to_date (which truncates to DateType).  Cast to NTZ to
        # match the engine's naive-timestamp column discipline.
        if len(args) == 1:
            # Phoenix's default parser is Joda ISODateTimeFormat.dateParser()
            # + optional time (DateUtil.java:76-79), which also accepts ISO
            # week dates (2015-W05[-3]) and ordinal dates (2015-063).  Spark
            # has no parser for those, so literal week/ordinal forms resolve
            # to a concrete date at translate time.
            lit = _literal_text(args[0])
            if lit is not None:
                import datetime as _dt

                m = re.fullmatch(r"(\d{4})-W(\d{2})(?:-(\d))?", lit)
                if m:
                    d = _dt.datetime.strptime(
                        f"{m.group(1)}-W{m.group(2)}-{m.group(3) or 1}",
                        "%G-W%V-%u",
                    )
                    return f"timestamp_ntz'{d:%Y-%m-%d %H:%M:%S}'"
                m = re.fullmatch(r"(\d{4})-(\d{3})", lit)
                if m:
                    d = _dt.datetime.strptime(lit, "%Y-%j")
                    return f"timestamp_ntz'{d:%Y-%m-%d %H:%M:%S}'"
            return f"cast(to_timestamp({args[0]}) as timestamp_ntz)"
        if len(args) == 3:
            # TO_DATE(str, fmt, tz): the tz is the parser's DEFAULT zone
            # (DateUtil.getDateParser(format, timeZone)); an explicit zone
            # in the string (pattern carries z/Z/X/x/O/V) wins.  Phoenix
            # renders DATE values in GMT, and this session pins UTC, so a
            # zone-bearing parse needs only the LTZ→NTZ cast; a zone-less
            # pattern re-interprets the parsed wall time in tz.
            fmt = _literal_text(args[1])
            tz = _literal_text(args[2])
            if fmt is None or tz is None:
                raise PhoenixTranslationError(
                    f"{up} format and timezone must be string literals"
                )
            try:
                spark_fmt = translate_datetime_pattern(
                    fmt, parse=True
                ).replace("'", "''")
            except PhoenixTranslationError:
                folded = _python_parse_dt_literal(
                    _literal_text(args[0]), fmt, tz
                )
                if folded is not None:
                    return folded
                raise
            if any(c in fmt for c in "zZXxOV"):
                return (
                    f"cast(to_timestamp({args[0]}, '{spark_fmt}') "
                    "as timestamp_ntz)"
                )
            tz_lit = tz.replace("'", "''")
            return (
                f"cast(to_utc_timestamp(to_timestamp_ntz({args[0]}, "
                f"'{spark_fmt}'), '{tz_lit}') as timestamp_ntz)"
            )
        if len(args) == 2:
            # java.text pattern -> Spark pattern via the translation table
            # (letters that differ in meaning or are banned raise here
            # rather than failing downstream or silently diverging).
            lit = _literal_text(args[1])
            if lit is None:
                raise PhoenixTranslationError(
                    f"{up} format must be a string literal"
                )
            try:
                spark_fmt = translate_datetime_pattern(
                    lit, parse=True
                ).replace("'", "''")
            except PhoenixTranslationError:
                folded = _python_parse_dt_literal(
                    _literal_text(args[0]), lit, None
                )
                if folded is not None:
                    return folded
                raise
            return (
                f"cast(to_timestamp({args[0]}, '{spark_fmt}') as timestamp_ntz)"
            )
        raise PhoenixTranslationError(f"{up} with {len(args)} args")
    if up == "REGEXP_REPLACE":
        # 2-arg form REMOVES matches (RegexpReplaceFunction's replacement
        # defaults to empty; RegexpReplaceFunctionIT.java:78); Spark's
        # builtin requires the replacement
        if len(args) == 2:
            return f"regexp_replace({args[0]}, {args[1]}, '')"
        return f"regexp_replace({', '.join(args)})"
    if up == "LPAD":
        # LPadFunction (StringIT.java:159-232): a non-positive output
        # length yields NULL, and an EMPTY/NULL fill yields NULL only when
        # padding is actually needed — the truncation fast-paths
        # (LpadFunction.evaluate: outputStrLen <= inputStrLen returns before
        # the fill expression is evaluated) make LPAD('hello', 3, '') =
        # 'hel'.  Spark's lpad returns '' / the unpadded string instead.
        if len(args) not in (2, 3):
            raise PhoenixTranslationError(f"LPAD with {len(args)} args")
        fill = args[2] if len(args) == 3 else "' '"
        return (
            f"if(({args[1]}) < 1, NULL, "
            f"if(({args[1]}) <= length({args[0]}), "
            f"lpad({args[0]}, {args[1]}, ' '), "
            f"if(length({fill}) = 0, NULL, "
            f"lpad({args[0]}, {args[1]}, {fill}))))"
        )
    if up in ("LTRIM", "RTRIM"):
        # LTrimFunction/RTrimFunction take one argument; Spark's two-argument
        # ltrim(trimStr, str) reverses the order, so passing a second
        # argument through would trim the wrong string
        if len(args) != 1:
            raise PhoenixTranslationError(f"{up} takes one argument")
        return f"{up.lower()}({args[0]})"
    if up == "SIGN":
        # SignFunction returns INTEGER (-1/0/1; SignFunction.java:67
        # getDataType = PInteger); Spark's sign() returns DOUBLE
        if len(args) != 1:
            raise PhoenixTranslationError("SIGN takes one argument")
        return f"cast(sign({args[0]}) as int)"
    if up == "LOG":
        # Phoenix LOG(x[, base]) defaults to base 10; Spark log(base, x)
        if len(args) == 1:
            return f"log10({args[0]})"
        return f"log({args[1]}, {args[0]})"
    if up == "CONVERT_TZ":
        if len(args) != 3:
            raise PhoenixTranslationError("CONVERT_TZ requires (ts, from, to)")
        return f"from_utc_timestamp(to_utc_timestamp({args[0]}, {args[1]}), {args[2]})"
    if up == "TIMEZONE_OFFSET":
        if len(args) != 2:
            raise PhoenixTranslationError("TIMEZONE_OFFSET requires (tz, ts)")
        return (
            f"cast((unix_timestamp(from_utc_timestamp({args[1]}, {args[0]}))"
            f" - unix_timestamp({args[1]})) / 60 as int)"
        )
    if up == "DAYOFWEEK":
        # ISO Monday=1 (DayOfWeekFunction.java:66 via Joda)
        return f"cast(weekday({args[0]}) + 1 as int)"
    if up == "WEEK":
        return f"weekofyear({args[0]})"
    if up in ("ENCODE", "DECODE"):
        from phoenix_spark.functions import _B62

        fmt = args[1].strip().strip("'").upper() if len(args) == 2 else None
        if up == "DECODE" and fmt == "HEX":
            return f"unhex({args[0]})"
        if up == "DECODE" and fmt == "BASE64":
            return f"unbase64({args[0]})"
        if up == "ENCODE" and fmt == "BASE64":
            return f"base64({args[0]})"
        if up == "ENCODE" and fmt == "BASE62":
            # EncodeFunction BASE62: bigint → base-62 text; the same 11-step
            # aggregate fold as phoenix_spark.functions.encode_base62
            # (62^11 > 2^63), emitted as pure Spark SQL
            return (
                f"aggregate(sequence(0, 10), named_struct("
                f"'rem', cast({args[0]} as bigint), 's', ''), "
                f"(__acc, __i) -> if(__acc.rem > 0 or __i = 0, named_struct("
                f"'rem', cast((__acc.rem - pmod(__acc.rem, 62)) / 62 as bigint), "
                f"'s', concat(substr('{_B62}', "
                f"cast(pmod(__acc.rem, 62) + 1 as int), 1), __acc.s)), __acc), "
                f"__acc -> __acc.s)"
            )
        if up == "DECODE" and fmt == "BASE62":
            return (
                f"aggregate(sequence(1, length({args[0]})), cast(0 as bigint), "
                f"(__acc, __i) -> __acc * 62 + "
                f"instr('{_B62}', substr({args[0]}, __i, 1)) - 1)"
            )
        raise PhoenixTranslationError(
            f"{up} format {fmt!r} unsupported in SQL "
            "(EncodeFormat: HEX/BASE64/BASE62)"
        )
    if up == "ENCODE_BINARY":
        # EncodeBinaryFunction: HEX is HBase Bytes.toHex (lowercase);
        # HBASE (toStringBinary's printable-ASCII escaping) has no Spark
        # equivalent and raises rather than silently diverging
        fmt = args[1].strip().strip("'").upper() if len(args) == 2 else None
        if fmt == "HEX":
            return f"lower(hex({args[0]}))"
        if fmt == "BASE64":
            return f"base64({args[0]})"
        raise PhoenixTranslationError(
            f"ENCODE_BINARY format {fmt!r} unsupported (HEX/BASE64)"
        )
    if up == "DECODE_BINARY":
        fmt = args[1].strip().strip("'").upper() if len(args) == 2 else None
        if fmt == "HEX":
            return f"unhex({args[0]})"
        if fmt == "BASE64":
            return f"unbase64({args[0]})"
        raise PhoenixTranslationError(
            f"DECODE_BINARY format {fmt!r} unsupported (HEX/BASE64)"
        )
    if up == "COLLATION_KEY":
        # CollationKeyFunction(expr, locale[, upperCollator, strength,
        # decomposition]) returns a binary sort key; the Spark-first analogue
        # keeps the VALUE and attaches the equivalent ICU collation, which
        # gives the same ordering/equality behavior in ORDER BY / compares.
        # Strength PRIMARY(0)/SECONDARY(1) → case-insensitive variant.
        if len(args) < 2:
            raise PhoenixTranslationError("COLLATION_KEY requires a locale")
        loc = _literal_text(args[1])
        if loc is None:
            raise PhoenixTranslationError(
                "COLLATION_KEY locale must be a string literal"
            )
        lang = loc.split("_")[0].split("-")[0] or "UNICODE"
        strength = None
        if len(args) >= 4:
            try:
                strength = int(args[3])
            except ValueError:
                raise PhoenixTranslationError(
                    "COLLATION_KEY strength must be an integer literal"
                )
        name = lang + ("_CI" if strength in (0, 1) else "")
        return f"collate({args[0]}, '{name}')"
    if up == "JSON_EXISTS":
        if len(args) != 2:
            raise PhoenixTranslationError("JSON_EXISTS requires (doc, path)")
        return f"(get_json_object({args[0]}, {args[1]}) IS NOT NULL)"
    if up == "JSON_MODIFY":
        # JsonModifyFunction(doc, path, newValue): newValue is JSON text
        # (strings arrive quoted, as in JsonFunctionsIT's queries).  Deep
        # paths ('$.info.address.town', '$.info.tags[1]') rebuild each level:
        # object levels via a variant map rebuild (type-preserving,
        # sorted-key rendering like bson_update_expression), array levels
        # via slice-splice at the 0-based reference index.  Missing
        # intermediate objects are created as {}.
        if len(args) != 3:
            raise PhoenixTranslationError(
                "JSON_MODIFY requires (doc, path, newValue)"
            )
        path = _literal_text(args[1])
        segs = _parse_json_path(path) if path is not None else None
        if not segs:
            raise PhoenixTranslationError(
                "JSON_MODIFY path must be a literal like '$.a.b[0].c'"
            )
        return _json_modify_expr(args[0], segs, args[2])
    if up in ("UPPER", "LOWER"):
        # UpperFunction/LowerFunction accept an optional locale ISO code
        # (UpperFunction.java:52-74, Java toUpperCase(locale)).  Java's
        # locale-cased result equals the root-locale result for every
        # locale except Turkish/Azeri (dotted i) and Lithuanian — those
        # raise rather than silently case-fold wrong.
        if len(args) == 1:
            return f"{up.lower()}({args[0]})"
        loc = _literal_text(args[1]) if len(args) == 2 else None
        if loc is None:
            raise PhoenixTranslationError(
                f"{up} locale must be a string literal"
            )
        if loc.split("_")[0].split("-")[0].lower() in ("tr", "az", "lt"):
            raise PhoenixTranslationError(
                f"{up} with locale {loc!r}: Turkish/Azeri/Lithuanian case "
                "mappings differ from the root locale and are not supported"
            )
        return f"{up.lower()}({args[0]})"
    if up == "PARTITION_ID":
        # PartitionIdFunction: the physical partition of the row
        return "spark_partition_id()"
    if up == "BSON_CONDITION_EXPRESSION":
        # BsonConditionExpressionFunction: second arg is the condition —
        # either a bare expression or the {"$EXPR","$VAL","$KEYS"} document
        # (Bson1IT) — compiled to pure Spark SQL by the bson grammar's SQL
        # backend (phoenix_spark.bson._SqlOps)
        from phoenix_spark.bson import BsonConditionError, bson_condition_sql

        if len(args) != 2:
            raise PhoenixTranslationError(
                "BSON_CONDITION_EXPRESSION requires (doc, condition)"
            )
        cond = _literal_text(args[1])
        if cond is None:
            raise PhoenixTranslationError(
                "BSON_CONDITION_EXPRESSION condition must be a string literal"
            )
        try:
            return bson_condition_sql(args[0], cond)
        except BsonConditionError as e:
            raise PhoenixTranslationError(str(e)) from None
    if up == "BSON_VALUE":
        # BsonValueFunction(doc, fieldKey, sqlType[, default]): typed leaf
        # extraction; the 4-arg form (Bson6IT.java:117) substitutes the
        # default when the field is absent
        from phoenix_spark.types import parse_type

        if len(args) not in (3, 4):
            raise PhoenixTranslationError(
                "BSON_VALUE requires (doc, field, type[, default])"
            )
        field, typ = _literal_text(args[1]), _literal_text(args[2])
        if field is None or typ is None:
            raise PhoenixTranslationError(
                "BSON_VALUE field and type must be string literals"
            )
        if typ.upper() in ("BSON", "JSON"):
            expr = f"get_json_object({args[0]}, '$.{field}')"
        else:
            spark_t = parse_type(typ).simpleString()
            expr = f"cast(get_json_object({args[0]}, '$.{field}') as {spark_t})"
        if len(args) == 4:
            if typ.upper() not in ("BSON", "JSON"):
                return f"coalesce({expr}, cast({args[3]} as {spark_t}))"
            return f"coalesce({expr}, {args[3]})"
        return expr
    if up == "BSON_VALUE_TYPE":
        # BsonValueTypeFunction:121-143 — Phoenix SQL type name of the
        # field; SQL rendering of functions.bson_value_type's variant probe
        if len(args) != 2:
            raise PhoenixTranslationError(
                "BSON_VALUE_TYPE requires (doc, field)"
            )
        field = _literal_text(args[1])
        if field is None:
            raise PhoenixTranslationError(
                "BSON_VALUE_TYPE field must be a string literal"
            )
        v = f"try_variant_get(parse_json({args[0]}), '$.{field}', 'variant')"
        t = f"schema_of_variant({v})"
        as_long = f"try_variant_get(parse_json({args[0]}), '$.{field}', 'long')"
        return (
            f"CASE WHEN {v} IS NULL THEN cast(NULL as string) "
            f"WHEN {t} = 'VOID' THEN 'NULL' "
            f"WHEN {t} = 'STRING' THEN 'VARCHAR' "
            f"WHEN {t} = 'BOOLEAN' THEN 'BOOLEAN' "
            f"WHEN {t} IN ('TINYINT', 'SMALLINT', 'INT', 'BIGINT') THEN "
            f"(CASE WHEN {as_long} BETWEEN -2147483648 AND 2147483647 "
            f"THEN 'INTEGER' ELSE 'BIGINT' END) "
            f"WHEN {t} LIKE 'DECIMAL%' OR {t} IN ('DOUBLE', 'FLOAT') "
            f"THEN 'DOUBLE' "
            f"WHEN {t} LIKE 'OBJECT%' OR {t} LIKE 'ARRAY%' OR {t} LIKE 'MAP%' "
            f"THEN 'BSON' ELSE 'VARCHAR' END"
        )
    if up == "ARRAY_PREPEND":
        # ArrayModifierFunction (ArrayAppend/PrependFunctionIT): a NULL
        # element leaves the array untouched; a NULL/absent array yields a
        # singleton of the element.  Spark's array_prepend would instead
        # prepend a NULL / return NULL.
        if len(args) != 2:
            raise PhoenixTranslationError("ARRAY_PREPEND requires (elem, array)")
        e, a = args
        return (
            f"if(({e}) IS NULL, {a}, if(({a}) IS NULL, array({e}), "
            f"array_prepend({a}, {e})))"
        )
    if up == "ARRAY_APPEND":
        if len(args) != 2:
            raise PhoenixTranslationError("ARRAY_APPEND requires (array, elem)")
        a, e = args
        return (
            f"if(({e}) IS NULL, {a}, if(({a}) IS NULL, array({e}), "
            f"array_append({a}, {e})))"
        )
    if up == "ARRAY_CAT":
        # ArrayConcatFunction: a NULL side yields the other side (interior
        # NULL elements are preserved); Spark's concat returns NULL
        if len(args) != 2:
            raise PhoenixTranslationError("ARRAY_CAT requires (array, array)")
        a, b = args
        return (
            f"if(({a}) IS NULL, {b}, if(({b}) IS NULL, {a}, "
            f"concat({a}, {b})))"
        )
    if up == "ARRAY_REMOVE":
        # ArrayRemoveFunction: removing NULL is a no-op (Spark returns NULL)
        if len(args) != 2:
            raise PhoenixTranslationError("ARRAY_REMOVE requires (array, elem)")
        a, e = args
        return f"if(({e}) IS NULL, {a}, array_remove({a}, {e}))"
    if up == "ARRAY_FILL":
        # ArrayFillFunction: a non-positive length is an error, not an
        # empty array (ArrayFillFunctionIT.testArrayFillFunctionInvalidLength)
        if len(args) != 2:
            raise PhoenixTranslationError("ARRAY_FILL requires (value, length)")
        v, n = args
        return (
            f"if(({n}) < 1, raise_error('ARRAY_FILL: length must be "
            f"positive'), array_repeat({v}, cast({n} as int)))"
        )
    if up in ("SET_BYTE", "SET_BIT"):
        try:
            off = int(args[1])
        except (IndexError, ValueError):
            raise PhoenixTranslationError(f"{up} requires a literal int offset")
        if len(args) != 3:
            raise PhoenixTranslationError(f"{up} requires (binary, offset, value)")
        if up == "SET_BYTE":
            # splice one byte (SetByteFunction; mirrors functions.set_byte)
            return (
                f"concat(substring({args[0]}, 1, {off}), "
                f"unhex(lpad(hex({args[2]}), 2, '0')), "
                f"substring({args[0]}, {off + 2}, 2147483647))"
            )
        byte = (
            f"cast(conv(substring(hex({args[0]}), {2 * (off // 8) + 1}, 2), "
            f"16, 10) as int)"
        )
        mask = 1 << (off % 8)
        return (
            f"concat(substring({args[0]}, 1, {off // 8}), "
            f"unhex(lpad(hex(({byte} & {~mask & 0xFF}) | "
            f"if(({args[2]}) != 0, {mask}, 0)), 2, '0')), "
            f"substring({args[0]}, {off // 8 + 2}, 2147483647))"
        )
    if up in ("GET_BYTE", "GET_BIT"):
        try:
            off = int(args[1])
        except (IndexError, ValueError):
            raise PhoenixTranslationError(f"{up} requires a literal int offset")
        if up == "GET_BYTE":
            return f"cast(conv(substring(hex({args[0]}), {2 * off + 1}, 2), 16, 10) as int)"
        byte = f"cast(conv(substring(hex({args[0]}), {2 * (off // 8) + 1}, 2), 16, 10) as int)"
        return f"cast((shiftright({byte}, {off % 8}) & 1) as int)"
    if up == "PHOENIX_ROW_TIMESTAMP":
        # PhoenixRowTimestampFunction: the row's commit timestamp — reads
        # the phoenix_row_timestamp column CDC views / with_row_timestamp
        # reads expose
        if args and any(a.strip() for a in args):
            raise PhoenixTranslationError("PHOENIX_ROW_TIMESTAMP takes no arguments")
        return "phoenix_row_timestamp"
    return f"{RENAME[up]}({', '.join(args)})"


# Phoenix query hints (HintNode.java:50-128) → Spark hints.  Most of the
# surface targets HBase scan/index/cache mechanics that Catalyst owns
# outright (RANGE_SCAN, SKIP_SCAN, INDEX/NO_INDEX, NO_CACHE, SEEK_TO_COLUMN,
# HASH_AGGREGATE, ...) — those are dropped, matching SURVEY §4.1's
# index-selection decision.  The two with real Spark analogs translate:
#   SERIAL              → COALESCE(1)      (single-partition result)
#   USE_SORT_MERGE_JOIN → MERGE(<first FROM table>)  (Spark join-strategy
#     hints bind to a relation; Phoenix's is query-global, so it is pinned
#     to the first FROM table — forcing SMJ for every join touching it)


def _translate_hint_body(body: str, first_table: str | None) -> str:
    out = []
    for name, _args in re.findall(
        r"([A-Za-z_][A-Za-z_0-9]*)\s*(\([^)]*\))?", body
    ):
        up = name.upper()
        if up == "SERIAL":
            out.append("COALESCE(1)")
        elif up == "USE_SORT_MERGE_JOIN" and first_table:
            out.append(f"MERGE({first_table})")
    return f"/*+ {', '.join(out)} */ " if out else " "




# Phoenix integer/long division truncates (LongDivideExpression.java:35-55
# runs Java's long `/=`), and `||` treats NULL children as empty strings
# (StringConcatExpression.java:69-77 skips non-evaluating children), while
# Spark's `/` always yields a double and its concat propagates NULL.  A
# bottom-up typed parse of the (literal-masked) expression text drives both
# rewrites COMPOSITIONALLY: `(a+b)/2` and `sum(x)/count(*)` over integral
# columns rewrite to Spark's `div` (also Java truncation toward zero,
# verified on negatives), and || chains whose every operand is string-typed
# — including through string functions, CAST, and nested concatenation —
# rewrite to concat_ws('', ...), which skips NULLs.  Anything the parser
# cannot type (subqueries as operands, CASE, unknown functions) stays
# untouched: a visible double / NULL beats a silently shifted value.
# Rewrites splice MINIMAL spans into the original text (`/` → `div`, the
# full || chain → one concat_ws call), so untouched SQL passes through
# byte-identical (the hypothesis passthrough property).

# Keywords that terminate a scalar expression; comparison operators and
# anything else unrecognized end a parse naturally (the driver loop then
# advances token-by-token, so inner regions are still scanned for rewrites).
_EXPR_BOUNDARY_KW = frozenset(
    """SELECT FROM WHERE GROUP BY HAVING ORDER LIMIT OFFSET FETCH UNION
    INTERSECT EXCEPT ALL DISTINCT AS AND OR NOT IN IS LIKE ILIKE BETWEEN
    EXISTS ANY SOME JOIN LEFT RIGHT FULL INNER OUTER CROSS ON USING CASE
    WHEN THEN ELSE END ASC DESC NULLS FIRST LAST INTERVAL OVER PARTITION
    ROWS RANGE CURRENT PRECEDING FOLLOWING UNBOUNDED WITHIN FILTER VALUES
    INTO ONLY ROW WITH ESCAPE""".split()
)

_INT_CAST_TYPES = frozenset(
    {"INT", "INTEGER", "BIGINT", "SMALLINT", "TINYINT", "LONG",
     "UNSIGNED_INT", "UNSIGNED_LONG", "UNSIGNED_SMALLINT", "UNSIGNED_TINYINT"}
)
_STR_CAST_TYPES = frozenset({"VARCHAR", "CHAR", "STRING"})
_NUM_CAST_TYPES = frozenset({"DECIMAL", "NUMERIC", "DOUBLE", "FLOAT", "REAL"})

# Functions with a fixed integral result in BOTH dialects (Spark's length /
# instr / ascii return INT, count returns BIGINT — matching the reference's
# INTEGER/LONG results).
_INT_RESULT_FNS = frozenset({"COUNT", "LENGTH", "CHAR_LENGTH", "INSTR", "ASCII"})
# Functions with a string result in both dialects (Phoenix and Spark names —
# this pass runs before the per-call rename).
_STR_RESULT_FNS = frozenset(
    {"TRIM", "LTRIM", "RTRIM", "UPPER", "LOWER", "SUBSTR", "SUBSTRING",
     "REVERSE", "TRANSLATE", "REPLACE", "REGEXP_REPLACE", "REGEXP_SUBSTR",
     "LPAD", "RPAD", "CONCAT", "CHR", "REPEAT", "INITCAP", "TO_CHAR", "SPACE"}
)
# Type flows through the arguments: SUM of an integral column is a long in
# both engines; MIN/MAX/ABS/COALESCE/... preserve their input type.  The
# merged type applies only when every (non-NULL-literal) argument agrees.
_ARG_TYPED_FNS = frozenset(
    {"SUM", "MIN", "MAX", "ABS", "COALESCE", "NULLIF", "GREATEST", "LEAST",
     "MOD", "IFNULL", "NVL", "FIRST_VALUE", "LAST_VALUE"}
)

_T_INT, _T_NUM, _T_STR, _T_NULL, _T_UNK = "int", "num", "str", "null", "?"


class _TypedRewriter:
    """One left-to-right pass over the masked statement: attempt a typed
    expression parse at every position, record span replacements where the
    dialect semantics diverge.  Any successfully parsed SUBexpression's
    rewrite is locally valid even when the enclosing parse fails, so there
    is no rollback — failed regions are simply re-scanned token-by-token."""

    def __init__(self, masked, int_cols, str_cols, stash):
        self.src = masked
        # (text, start, end, bracket depth) of every code token
        self.toks = [
            (t.text, t.start, t.end, t.depth)
            for t in tokens(masked)
            if t.kind != "comment"
        ]
        self.int_cols = {c.lower() for c in int_cols}
        self.str_cols = {c.lower() for c in str_cols}
        self.stash = stash
        self.repls: dict[tuple[int, int], str] = {}

    def run(self) -> str:
        i, n = 0, len(self.toks)
        while i < n:
            j, _t = self._concat(i)
            i = j if j > i else i + 1
        if not self.repls:
            return self.src
        # Replacements nested inside an enclosing span were already folded
        # into the outer replacement's text at record time (_render), so the
        # splice skips them here rather than dropping their rewrites.
        return self._render(0, len(self.src))

    def _render(self, s, e):
        """Render ``src[s:e]`` with every recorded replacement whose span
        falls inside it applied.  Nested replacements are handled by
        construction: an outer replacement's text was itself built with
        _render over its operand spans, so it already embeds the inner
        rewrites and the contained spans are simply skipped when splicing."""
        inner = sorted((a, b) for (a, b) in self.repls if s <= a and b <= e)
        out, pos = [], s
        for a, b in inner:
            if a < pos:  # contained in an already-spliced enclosing span
                continue
            out.append(self.src[pos:a])
            out.append(self.repls[(a, b)])
            pos = b
        out.append(self.src[pos:e])
        return "".join(out)

    # Every rule returns (next_index, type); next_index == start means "no
    # parse from here".  Binary rules return the longest valid prefix.

    def _concat(self, i):
        j, t = self._add(i)
        if j == i:
            return i, _T_UNK
        ops = [(i, j, t)]
        k = j
        while k < len(self.toks) and self.toks[k][0] == "||":
            m, t2 = self._add(k + 1)
            if m == k + 1:
                return k, _T_UNK  # dangling || — stop before it
            ops.append((k + 1, m, t2))
            k = m
        if len(ops) > 1:
            types = [t3 for _a, _b, t3 in ops]
            allstr = all(t3 in (_T_STR, _T_NULL) for t3 in types)
            # Suffix guard: if this chain is preceded by `||`, it is the
            # tail of a larger concat whose head failed to parse (scalar
            # subquery, row constructor) — rewriting just the suffix would
            # change the enclosing chain's NULL semantics, so leave it.
            suffix = i > 0 and self.toks[i - 1][0] == "||"
            if self.str_cols and allstr and _T_STR in types and not suffix:
                start = self.toks[ops[0][0]][1]
                end = self.toks[ops[-1][1] - 1][2]
                # Render each operand with its own nested rewrites applied
                # (inner || chains, int-division) — taking raw source text
                # here would silently revert them (round-7 advice fix).
                parts = ", ".join(
                    self._render(self.toks[a][1], self.toks[b - 1][2])
                    for a, b, _t3 in ops
                )
                self.repls[(start, end)] = f"concat_ws('', {parts})"
            return k, _T_STR if allstr else _T_UNK
        return j, t

    def _add(self, i):
        j, t = self._mul(i)
        if j == i:
            return i, _T_UNK
        k = j
        while k < len(self.toks) and self.toks[k][0] in ("+", "-"):
            m, t2 = self._mul(k + 1)
            if m == k + 1:
                return k, _T_UNK
            t = self._merge_num(t, t2)
            k = m
        return k, t

    def _mul(self, i):
        j, t = self._unary(i)
        if j == i:
            return i, _T_UNK
        k = j
        while k < len(self.toks) and self.toks[k][0] in ("*", "/", "%"):
            op, s, e, _d = self.toks[k]
            m, t2 = self._unary(k + 1)
            if m == k + 1:
                return k, _T_UNK
            if op == "/":
                if self.int_cols and t == _T_INT and t2 == _T_INT:
                    self.repls[(s, e)] = " div "
                    t = _T_INT
                else:
                    t = (
                        _T_NUM
                        if t in (_T_INT, _T_NUM) and t2 in (_T_INT, _T_NUM)
                        else _T_UNK
                    )
            else:
                t = self._merge_num(t, t2)
            k = m
        return k, t

    def _unary(self, i):
        if i < len(self.toks) and self.toks[i][0] in ("+", "-"):
            j, t = self._unary(i + 1)
            return (i, _T_UNK) if j == i + 1 else (j, t)
        return self._primary(i)

    def _primary(self, i):
        if i >= len(self.toks):
            return i, _T_UNK
        tok, _s, _e, _d = self.toks[i]
        if tok.startswith("\x00"):
            return i + 1, self._placeholder_type(tok)
        if tok[0].isdigit() or tok[0] == ".":
            return i + 1, _T_INT if tok.isdigit() else _T_NUM
        if tok == "(":
            j, t = self._concat(i + 1)
            if j > i + 1 and j < len(self.toks) and self.toks[j][0] == ")":
                return self._postfix(j + 1, t)
            return i, _T_UNK  # subquery / row constructor / unparseable
        if not re.match(r"[A-Za-z_]", tok):
            return i, _T_UNK
        up = tok.upper()
        if up == "NULL":
            return i + 1, _T_NULL
        if up == "CAST":
            return self._cast(i)
        if up == "CASE":
            return self._case(i)
        if up in _EXPR_BOUNDARY_KW:
            return i, _T_UNK
        if i + 1 < len(self.toks) and self.toks[i + 1][0] == "(":
            return self._call(i, up)
        # (qualified) column reference; type by the last name segment, the
        # same convention the catalog sets use
        j, last = i + 1, tok
        while (
            j + 1 < len(self.toks)
            and self.toks[j][0] == "."
            and re.match(r"[A-Za-z_\x00*]", self.toks[j + 1][0])
        ):
            nxt = self.toks[j + 1][0]
            j += 2
            if nxt == "*":
                return j, _T_UNK
            last = nxt
        if last.startswith("\x00"):
            return self._postfix(j, self._placeholder_type(last))
        name = last.lower()
        t = (
            _T_INT
            if name in self.int_cols
            else _T_STR if name in self.str_cols else _T_UNK
        )
        return self._postfix(j, t)

    def _postfix(self, i, t):
        # array subscript: expr[idx] (1-based rewrite happens later)
        while i < len(self.toks) and self.toks[i][0] == "[":
            j, _t2 = self._concat(i + 1)
            if j > i + 1 and j < len(self.toks) and self.toks[j][0] == "]":
                i, t = j + 1, _T_UNK
            else:
                return i, _T_UNK
        return i, t

    def _case(self, i):
        """CASE typing: the branch VALUES (THEN/ELSE) determine the result
        type — `SUM(CASE WHEN ... THEN 1 ELSE 0 END) / COUNT(*)` is the
        reference's canonical conditional-count shape (CaseExpression +
        LongDivideExpression) and must truncate.  Conditions are skipped
        with nesting-aware scanning that still harvests rewrites inside."""
        n = len(self.toks)
        j = i + 1
        k, _t = self._concat(j)  # optional simple-CASE operand
        if k > j:
            j = k
        types = []
        saw_else = False
        while True:
            j = self._scan_region_until(j, {"WHEN", "ELSE", "END"})
            if j >= n or self.toks[j][0] in ")]":
                return i, _T_UNK  # unterminated — region already scanned
            kw = self.toks[j][0].upper()
            if kw == "END":
                if not saw_else:
                    types.append(_T_NULL)  # implicit ELSE NULL
                return self._postfix(j + 1, self._merge_branches(types))
            if kw == "WHEN":
                j = self._scan_region_until(j + 1, {"THEN"})
                if j >= n or self.toks[j][0] in ")]":
                    return i, _T_UNK
                j += 1  # past THEN
            else:  # ELSE
                saw_else = True
                j += 1
            k, t = self._concat(j)
            types.append(t if k > j else _T_UNK)
            start = max(k, j)
            j = self._scan_region_until(start, {"WHEN", "ELSE", "END"})
            if j > start:
                types[-1] = _T_UNK  # leftover untyped tokens in the branch

    def _scan_region_until(self, i, stops):
        """Advance to the next token in ``stops`` at the current nesting
        level (brackets and nested CASE...END), or to the close bracket that
        ends the level, typed-parsing along the way so rewrites inside the
        skipped region still land.  CASE...END nesting is counted here: the
        lexer tracks brackets, not keyword pairs."""
        n = len(self.toks)
        if i >= n:
            return i
        tok, _s, _e, level = self.toks[i]
        level += tok in ")]"  # a close bracket sits one level out
        depth_c = 0
        while i < n:
            tok, _s, _e, d = self.toks[i]
            up = tok.upper()
            if d < level or (d == level and depth_c == 0 and up in stops):
                return i
            j, _t = self._concat(i)
            if j > i:
                i = j
                continue
            if up == "CASE":
                depth_c += 1
            elif up == "END":
                depth_c -= 1
            i += 1
        return i

    @staticmethod
    def _merge_branches(types):
        ts = [t for t in types if t != _T_NULL]
        if not ts:
            return _T_NULL
        if all(t == ts[0] for t in ts) and ts[0] != _T_UNK:
            return ts[0]
        if all(t in (_T_INT, _T_NUM) for t in ts):
            return _T_NUM
        return _T_UNK

    def _cast(self, i):
        if i + 1 >= len(self.toks) or self.toks[i + 1][0] != "(":
            return i, _T_UNK
        j, _t = self._concat(i + 2)
        if (
            j > i + 2
            and j < len(self.toks)
            and self.toks[j][0].upper() == "AS"
            and j + 1 < len(self.toks)
        ):
            ty = self.toks[j + 1][0].upper()
            k = j + 2
            if k < len(self.toks) and self.toks[k][0] == "(":
                while k < len(self.toks) and self.toks[k][0] != ")":
                    k += 1
                k += 1
            if k < len(self.toks) and self.toks[k][0] == ")":
                t = (
                    _T_INT
                    if ty in _INT_CAST_TYPES
                    else _T_STR
                    if ty in _STR_CAST_TYPES
                    else _T_NUM if ty in _NUM_CAST_TYPES else _T_UNK
                )
                return self._postfix(k + 1, t)
        return i, _T_UNK

    def _call(self, i, up):
        j = i + 2
        n = len(self.toks)
        if j < n and self.toks[j][0] == ")":
            return self._postfix(j + 1, self._fn_type(up, []))
        if (
            up == "COUNT"
            and j + 1 < n
            and self.toks[j][0] == "*"
            and self.toks[j + 1][0] == ")"
        ):
            return self._postfix(j + 2, _T_INT)
        arg_types = []
        while j < n:
            if self.toks[j][0].upper() in ("DISTINCT", "ALL"):
                j += 1
            k, t = self._concat(j)
            if k == j:
                return i, _T_UNK  # unparseable arg; region re-scans itself
            arg_types.append(t)
            if k >= n:
                return i, _T_UNK
            nxt = self.toks[k][0]
            if nxt == ",":
                j = k + 1
                continue
            if nxt == ")":
                return self._postfix(k + 1, self._fn_type(up, arg_types))
            return i, _T_UNK
        return i, _T_UNK

    def _fn_type(self, up, arg_types):
        if up in _INT_RESULT_FNS:
            return _T_INT
        if up in _STR_RESULT_FNS:
            return _T_STR
        if up in _ARG_TYPED_FNS and arg_types:
            ts = [t for t in arg_types if t != _T_NULL]
            if ts and all(t == ts[0] for t in ts) and ts[0] != _T_UNK:
                return ts[0]
        return _T_UNK

    def _placeholder_type(self, tok):
        sv = self.stash[int(tok.strip("\x00"))]
        if sv.startswith("'"):
            return _T_STR
        if sv.startswith("`"):  # quoted identifier → catalog lookup
            name = sv[1:-1].replace("``", "`").lower()
            if name in self.str_cols:
                return _T_STR
            if name in self.int_cols:
                return _T_INT
        return _T_UNK

    @staticmethod
    def _merge_num(t, t2):
        if t == _T_INT and t2 == _T_INT:
            return _T_INT
        if t in (_T_INT, _T_NUM) and t2 in (_T_INT, _T_NUM):
            return _T_NUM
        return _T_UNK


def _rewrite_typed_expressions(
    masked: str, int_columns: set[str], str_columns: set[str], stash: list[str]
) -> str:
    return _TypedRewriter(masked, int_columns, str_columns, stash).run()


# SELECT DISTINCT ... ORDER BY <select-list expression>: the dialect
# resolves ORDER BY expressions against the projected select list
# (OrderByCompiler via RowProjector), so `SELECT DISTINCT a, count(1) ...
# GROUP BY a, b ORDER BY count(1)` orders by the projected count — Spark
# rejects an aggregate above a Distinct.  Matching ORDER BY items rewrite to
# their 1-based ORDINAL (valid above DISTINCT in Spark).  Applied only to
# single-SELECT statements (no subqueries) — the conservative scope the
# reference ITs exercise (GroupByIT:95-169).
def _rewrite_distinct_orderby(masked: str) -> str:
    if len(re.findall(r"\bSELECT\b", masked, re.I)) != 1:
        return masked
    m = re.match(
        r"(\s*SELECT\s+DISTINCT\s+)(.*?)(\s+FROM\s+.*?)(\bORDER\s+BY\s+)(.*?)"
        r"(\s+LIMIT\s+.*|\s+OFFSET\s+.*|\s*;?\s*)$",
        masked,
        re.I | re.S,
    )
    if not m:
        return masked
    head, sel, mid, okw, order, tail = m.groups()

    def _norm(s):
        return re.sub(r"\s+", " ", s).strip().lower()

    items = []
    for it in (x.strip() for x in split_top(sel, ",")):
        alias = None
        am = re.match(r"(.*?)\s+AS\s+([A-Za-z_]\w*)\s*$", it, re.I | re.S)
        if am:
            it, alias = am.group(1), am.group(2)
        items.append((_norm(it), _norm(alias) if alias else None))
    out = []
    changed = False
    for ob in (x.strip() for x in split_top(order, ",")):
        dm = re.match(r"(.*?)(\s+(?:ASC|DESC))?(\s+NULLS\s+\w+)?\s*$", ob, re.I | re.S)
        expr, sfx = dm.group(1), (dm.group(2) or "") + (dm.group(3) or "")
        key = _norm(expr)
        pos = next(
            (i + 1 for i, (e, a) in enumerate(items) if key in (e, a)), None
        )
        if pos is not None and not key.isdigit():
            out.append(f"{pos}{sfx}")
            changed = True
        else:
            out.append(ob)
    if not changed:
        return masked
    return f"{head}{sel}{mid}{okw}{', '.join(out)}{tail}"


# Row-value-constructor comparisons with UNEQUAL arity
# (RowValueConstructorIT:128-230; RowValueConstructorExpression): the dialect
# compares the common prefix lexicographically and, on a prefix TIE, the
# LONGER side wins (like string prefix ordering: (7,5) > (7)).  Spark's
# native struct comparison requires equal arity, so the longer side truncates
# to the prefix and the operator absorbs the tie-break:
#   L longer:  L >  R  ≡  Lp >= R      L >= R  ≡  Lp >= R
#              L <  R  ≡  Lp <  R      L <= R  ≡  Lp <  R
#   R longer:  mirrored (tie means R is greater).
# Equality with unequal arity stays untouched (never true in the dialect;
# Spark rejects it loudly rather than silently mis-matching).  Equal-arity
# RVCs pass through to Spark's native struct compare.
_RVC_SIMPLE_TOKEN = re.compile(r"(?:\x00\d+\x00|[A-Za-z_][\w.]*|\d+(?:\.\d+)?)$")


def _rewrite_rvc_arity(masked: str) -> str:
    def _left_operand(s, i):
        """Operand ending at position i (exclusive): (list) or simple token.
        A close-paren preceded (at its matching open) by an identifier is a
        FUNCTION CALL — one scalar operand spanning name+args, never an RVC
        (pmod(x, 100) < r must not read as a 2-item constructor)."""
        j = i
        while j > 0 and s[j - 1].isspace():
            j -= 1
        if j > 0 and s[j - 1] == ")":
            k = match_backward(s, j)
            if k < 0:
                return None
            # function call?  walk back over a (qualified) name
            p = k
            while p > 0 and (s[p - 1].isalnum() or s[p - 1] in "_.\x00"):
                p -= 1
            if p < k:
                if s[p:k].strip().upper() in ("ANY", "SOME", "ALL"):
                    return None  # quantified form, not a function call
                return (p, j, [s[p:j]])
            body = s[k + 1 : j - 1]
            if re.match(r"\s*SELECT\b", body, re.I):
                return None
            return (k, j, [x.strip() for x in split_top(body, ",")])
        m = _RVC_SIMPLE_TOKEN.search(s[:j])
        if m and m.group(0):
            return (m.start(), j, [m.group(0)])
        return None

    def _right_operand(s, i):
        j = i
        while j < len(s) and s[j].isspace():
            j += 1
        if j < len(s) and s[j] == "(":
            k = match_forward(s, j + 1)
            if k > len(s):
                return None
            body = s[j + 1 : k - 1]
            if re.match(r"\s*SELECT\b", body, re.I):
                return None
            return (j, k, [x.strip() for x in split_top(body, ",")])
        m = re.match(r"(?:\x00\d+\x00|[A-Za-z_][\w.]*|\d+(?:\.\d+)?)", s[j:])
        if m:
            end = j + m.end()
            # identifier followed by '(' = function call: consume its args
            # as part of this single scalar operand
            k = end
            while k < len(s) and s[k].isspace():
                k += 1
            if k < len(s) and s[k] == "(" and re.match(r"[A-Za-z_]", m.group(0)):
                # Quantified comparison, not a function call: (a, b) >= ANY
                # (SELECT ...) must NOT be arity-rewritten into a scalar
                # compare against "ANY(...)" — leave the statement alone so
                # the quantified-comparison pass (or Spark) handles/rejects
                # it loudly (r7 advice fix).
                if m.group(0).upper() in ("ANY", "SOME", "ALL"):
                    return None
                end = match_forward(s, k + 1)
                if end > len(s):
                    return None
            return (j, end, [s[j:end]])
        return None

    ops = {">": (">=", ">"), ">=": (">=", ">"), "<": ("<", "<="), "<=": ("<", "<=")}
    # op -> (operator when LEFT is longer, operator when RIGHT is longer)
    pos = 0
    while True:
        m = re.search(r"<=|>=|<(?![=>])|>(?!=)", masked[pos:])
        if not m:
            return masked
        op = m.group(0)
        at = pos + m.start()
        end = pos + m.end()
        left = _left_operand(masked, at)
        right = _right_operand(masked, end)
        if not left or not right or len(left[2]) == len(right[2]):
            pos = end
            continue
        n = min(len(left[2]), len(right[2]))
        lx = left[2][:n]
        rx = right[2][:n]
        new_op = ops[op][0] if len(left[2]) > n else ops[op][1]

        def _side(items):
            return items[0] if n == 1 else "(" + ", ".join(items) + ")"

        masked = (
            masked[: left[0]]
            + f"{_side(lx)} {new_op} {_side(rx)}"
            + masked[right[1] :]
        )
        pos = left[0] + 1
    return masked


_DATE_FN_RE = re.compile(
    r"\b(TO_DATE|TO_TIMESTAMP|TO_TIME|NOW|CURRENT_DATE|CURRENT_TIME"
    r"|CURRENT_TIMESTAMP)\s*\(",
    re.IGNORECASE,
)

# LTZ-producing builtins: wrap in an NTZ cast so the day-difference math
# stays on naive values (session renders UTC, Phoenix renders GMT — equal)
_DATE_FN_LTZ = {"NOW", "CURRENT_DATE", "CURRENT_TIME", "CURRENT_TIMESTAMP"}


_AS_RE = re.compile(r"AS\b", re.I)

_NUM_CAST_TARGETS = {
    "BIGINT": "bigint", "INTEGER": "int", "INT": "int", "SMALLINT": "smallint",
    "TINYINT": "tinyint", "DOUBLE": "double", "FLOAT": "float",
    "DECIMAL": "decimal(38,3)", "NUMERIC": "decimal(38,3)",
    "UNSIGNED_LONG": "bigint", "UNSIGNED_INT": "int",
    "UNSIGNED_SMALLINT": "smallint", "UNSIGNED_TINYINT": "tinyint",
    "UNSIGNED_DOUBLE": "double", "UNSIGNED_FLOAT": "float",
}
_DT_CAST_TARGETS = {
    "DATE", "TIME", "TIMESTAMP", "UNSIGNED_DATE", "UNSIGNED_TIME",
    "UNSIGNED_TIMESTAMP",
}


def _ntz_from_epoch_micros(expr: str) -> str:
    """Pure (session-zone-independent) epoch-µs → TIMESTAMP_NTZ."""
    return (
        "(timestamp_ntz'1970-01-01 00:00:00' + make_dt_interval(0, 0, 0, "
        f"cast({expr} as decimal(30,6)) / 1000000))"
    )


def _rewrite_datetime_casts(
    masked: str, ts_columns: set[str], int_columns: set[str]
) -> str:
    """Phoenix datetime↔numeric CAST semantics (CastAndCoerceIT.java:200):
    DATE/TIME/TIMESTAMP hold epoch millis, so CAST(date AS BIGINT/DECIMAL)
    yields the ms count (PDateCodec), CAST(n AS DATE) reads n as ms, and a
    datetime→datetime cast keeps the time-of-day (PDate carries time).
    Spark's casts (seconds-based / truncating) silently diverge, so the
    recognizable shapes rewrite here; anything untyped passes through."""
    ts_l = {c.lower() for c in ts_columns}
    int_l = {c.lower() for c in int_columns}

    def _is_date_typed(inner: str) -> bool:
        t = inner.strip()
        if re.fullmatch(r"(?:[A-Za-z_]\w*\.)?([A-Za-z_]\w*)", t):
            return t.rsplit(".", 1)[-1].lower() in ts_l
        m = _DATE_FN_RE.match(t)
        if m and match_forward(t, m.end()) == len(t):
            return True
        if re.match(r"(?:TIMESTAMP(?:_NTZ)?)\s*\x00?", t, re.I):
            return True
        m = re.match(r"CAST\s*\(", t, re.I)
        if m and match_forward(t, m.end()) == len(t):
            return bool(
                re.search(
                    r"\bAS\s+(?:UNSIGNED_)?(?:DATE|TIME|TIMESTAMP)\s*\)\s*$",
                    t, re.I,
                )
            )
        return False

    def _is_numeric(inner: str) -> bool:
        t = inner.strip()
        if re.fullmatch(r"-?\d+(?:\.\d+)?", t):
            return True
        if re.fullmatch(r"(?:[A-Za-z_]\w*\.)?([A-Za-z_]\w*)", t):
            return t.rsplit(".", 1)[-1].lower() in int_l
        # a (possibly already-rewritten) cast to a numeric target — covers
        # CAST(CAST(date AS BIGINT) AS DATE) round-trips
        m = re.match(r"CAST\s*\(", t, re.I)
        if m and match_forward(t, m.end()) == len(t):
            return bool(
                re.search(
                    r"\bAS\s+(?:bigint|int|integer|smallint|tinyint|double"
                    r"|float|(?:decimal|numeric)\s*(?:\(\s*\d+\s*,\s*\d+\s*\))?)"
                    r"\s*\)\s*$",
                    t, re.I,
                )
            )
        return False

    out, pos = [], 0
    for m in re.finditer(r"\bCAST\s*\(", masked, re.I):
        if m.start() < pos:
            continue
        end = match_forward(masked, m.end())
        body = masked[m.end() : end - 1]
        # recurse into nested casts first
        body = _rewrite_datetime_casts(body, ts_columns, int_columns)
        # the last top-level AS wins (the expression can't contain one)
        ases = list(iter_top(body, _AS_RE))
        if not ases:
            continue
        am = ases[-1]
        inner = body[: am.start()].strip()
        target = body[am.end() :].strip().rstrip()
        t_up = re.sub(r"\s*\(.*$", "", target).upper()
        repl = None
        micros = None

        def _micros(x: str) -> str:
            from phoenix_spark.functions import ntz_epoch_micros_sql

            return ntz_epoch_micros_sql(f"cast({x} as timestamp_ntz)")

        if _is_date_typed(inner):
            if t_up in _NUM_CAST_TARGETS:
                spark_t = (
                    target
                    if "(" in target and t_up in ("DECIMAL", "NUMERIC")
                    else _NUM_CAST_TARGETS[t_up]
                )
                micros = _micros(inner)
                if spark_t in ("int", "bigint", "smallint", "tinyint"):
                    repl = f"cast(({micros}) div 1000 as {spark_t})"
                else:
                    repl = (
                        f"cast(cast({micros} as decimal(38,6)) / 1000 "
                        f"as {spark_t})"
                    )
            elif t_up in _DT_CAST_TARGETS:
                repl = f"cast({inner} as timestamp_ntz)"
        elif t_up in _DT_CAST_TARGETS and _is_numeric(inner):
            repl = _ntz_from_epoch_micros(f"({inner}) * 1000")
        if repl is None:
            if body != masked[m.end() : end - 1]:
                out.append(masked[pos : m.end()])
                out.append(body)
                out.append(")")
                pos = end
            continue
        out.append(masked[pos : m.start()])
        out.append(repl)
        pos = end
    out.append(masked[pos:])
    return "".join(out)


def _rewrite_date_arith(masked: str, ts_columns: set[str]) -> str:
    """Phoenix date arithmetic (DateAddExpression / DateSubtractExpression)
    for date-typed TERMS — catalog date/timestamp columns AND date-valued
    function calls (TO_DATE/TO_TIME/TO_TIMESTAMP/NOW/CURRENT_*):

      date ± n    → n DAYS of INTERVAL arithmetic (Spark rejects ts ± int)
      date - date → fractional days as DOUBLE (Phoenix returns DECIMAL days;
                    DateTimeIT.testDateSubtractionCompareNumber:1696)

    Masked text: literals can't false-match."""
    lowered = {c.lower() for c in ts_columns}

    def _days(col: str) -> str:
        from phoenix_spark.functions import ntz_epoch_micros_sql

        return ntz_epoch_micros_sql(col)

    # collect date-typed term spans: function calls first (balanced parens),
    # then ts columns not inside a function-term span
    terms: list[tuple[int, int, str]] = []  # (start, end, term_sql)
    fn_spans: list[tuple[int, int]] = []
    for m in _DATE_FN_RE.finditer(masked):
        end = match_forward(masked, m.end())
        text = masked[m.start() : end]
        if m.group(1).upper() in _DATE_FN_LTZ:
            # only the ARITHMETIC form needs the naive view; standalone
            # calls pass through untouched (see the `touched` check below)
            text = f"cast({text} as timestamp_ntz)"
        terms.append((m.start(), end, text))
        fn_spans.append((m.start(), end))
    for m in re.finditer(r"(?:[A-Za-z_]\w*\.)?([A-Za-z_]\w*)", masked):
        if m.group(1).lower() not in lowered:
            continue
        if any(s <= m.start() < e for s, e in fn_spans):
            continue
        # not a function-call name itself
        if re.match(r"\s*\(", masked[m.end():]):
            continue
        terms.append((m.start(), m.end(), m.group(0)))
    terms.sort()

    out, pos, i = [], 0, 0
    while i < len(terms):
        s, e, text = terms[i]
        if s < pos:
            i += 1
            continue
        out.append(masked[pos:s])
        # date - date → fractional-day difference
        if i + 1 < len(terms):
            s2, e2, text2 = terms[i + 1]
            between = masked[e:s2]
            if between.strip() == "-":
                out.append(
                    f"(cast({_days(text)} - {_days(text2)} as double)"
                    " / 86400000000)"
                )
                pos = e2
                i += 2
                continue
        # date ± int → day interval
        m = re.match(r"\s*([+-])\s*(\d+)\b(?!\s*\.\d)", masked[e:])
        if m:
            out.append(f"{text} {m.group(1)} INTERVAL '{m.group(2)}' DAY")
            pos = e + m.end()
            i += 1
            continue
        # standalone term: pass through VERBATIM (no NTZ wrap) — only the
        # arithmetic rewrites need the naive view
        out.append(masked[s:e])
        pos = e
        i += 1
    out.append(masked[pos:])
    return "".join(out)


def translate_phoenix_sql(
    sql: str,
    ts_columns: set[str] | None = None,
    int_columns: set[str] | None = None,
    str_columns: set[str] | None = None,
    float_columns: set[str] | None = None,
) -> str:
    """Rewrite Phoenix-dialect SQL into Spark SQL (literal-safe).

    ``ts_columns``: names of date/timestamp-typed columns (the caller's
    catalog knowledge) — enables the Phoenix ``date ± int`` (days) rewrite.
    ``int_columns``: names of integral-typed columns — enables the
    truncating-division rewrite (LongDivideExpression: long/long ``/``
    truncates in the dialect; Spark's ``/`` returns a double).
    ``str_columns``: names of string-typed columns — enables the
    NULL-as-empty ``||`` rewrite (StringConcatExpression skips null
    children; Spark's concat propagates NULL).
    """
    # Rewrites apply to code only.  Function calls may span literal
    # boundaries (an argument IS a literal), so rather than rewriting code
    # segments independently, mask literals, rewrite, unmask.  Comments are
    # put back at once (as a space, or a hint's Spark translation); ``view``
    # maps every other marker to itself.
    masked, stash = mask(sql)
    view = [f"\x00{i}\x00" for i in range(len(stash))]
    hints: list[int] = []
    for i, tok in enumerate(stash):
        if tok.startswith('"'):
            # ANSI double-quoted identifiers (grammar: case-sensitive
            # names) → Spark backticks; `""` unescapes to `"`
            inner = tok[1:-1].replace('""', '"').replace("`", "``")
            stash[i] = f"`{inner}`"
        elif tok.startswith("/*+"):
            hints.append(i)
        elif not tok.startswith("'"):
            view[i] = " "
    masked = unmask(masked, view)
    if hints:
        # Spark join hints bind to the relation ALIAS when one exists
        mfrom = re.search(
            r"\bFROM\s+([A-Za-z_]\w*(?:\.[A-Za-z_]\w*)?)"
            r"(?:\s+(?:AS\s+)?([A-Za-z_]\w*))?",
            masked,
            re.I,
        )
        _KEYWORDS = {
            "WHERE", "JOIN", "ON", "GROUP", "ORDER", "LEFT", "RIGHT",
            "INNER", "CROSS", "FULL", "UNION", "LIMIT", "HAVING", "AS",
        }
        first_table = None
        if mfrom:
            alias = mfrom.group(2)
            first_table = (
                alias
                if alias and alias.upper() not in _KEYWORDS
                else mfrom.group(1)
            )
        for i in hints:
            view[i] = _translate_hint_body(stash[i][3:-2], first_table)
        masked = unmask(masked, view)

    def _unmask(s: str) -> str:
        return unmask(s, stash)

    # ANSI pagination (grammar :1026-1036): Phoenix accepts `OFFSET m ROWS
    # FETCH FIRST|NEXT n ROWS ONLY`; Spark's grammar wants `LIMIT n OFFSET m`
    # (in that order) and takes no ROW/ROWS noise words.
    masked = re.sub(
        r"OFFSET\s+(\d+)(?:\s+ROWS?)?\s+FETCH\s+(?:FIRST|NEXT)\s+(\d+)\s+ROWS?\s+ONLY",
        r"LIMIT \2 OFFSET \1",
        masked,
        flags=re.IGNORECASE,
    )
    masked = re.sub(
        r"FETCH\s+(?:FIRST|NEXT)\s+(\d+)\s+ROWS?\s+ONLY",
        r"LIMIT \1",
        masked,
        flags=re.IGNORECASE,
    )
    masked = re.sub(
        r"OFFSET\s+(\d+)\s+ROWS?\b", r"OFFSET \1", masked, flags=re.IGNORECASE
    )
    # Phoenix DATE/TIME typed literals carry full time-of-day (PDate is
    # ms-epoch; DateTimeIT.testSelectWhereDateAndTimestampEqual pins
    # DATE '2012-09-08 07:08:23' = TIMESTAMP '...' as TRUE).  Spark's DATE
    # literal truncates (and rejects a time component), so both map to
    # TIMESTAMP_NTZ literals — the engine's naive-timestamp discipline.
    def _typed_dt_literal(m: re.Match) -> str:
        tok = stash[int(m.group(2))]
        if not tok.startswith("'"):
            return m.group(0)  # quoted identifier, not a literal
        return f"TIMESTAMP_NTZ {m.group(1)}"

    masked = re.sub(
        r"\b(?:DATE|TIME)\s*(\x00(\d+)\x00)", _typed_dt_literal, masked,
        flags=re.IGNORECASE,
    )
    # ARRAY[...] constructor (grammar :1166-1170) -> array(...); Phoenix
    # arrays are 1-D, but the scan balances brackets anyway (an element
    # expression could index another array).
    masked = _rewrite_array_ctor(masked)
    # CAST target types Phoenix spells differently from Spark: bare VARCHAR
    # (no length -> STRING), and the UNSIGNED_* family (PUnsignedInt & co
    # fold to their signed Spark type — same value domain on the read path,
    # matching types.py's DDL mapping).
    masked = re.sub(
        r"\bAS\s+VARCHAR\s*(?=[,)])", "AS STRING", masked, flags=re.IGNORECASE
    )
    _UNSIGNED = {
        "UNSIGNED_INT": "INT",
        "UNSIGNED_LONG": "BIGINT",
        "UNSIGNED_SMALLINT": "SMALLINT",
        "UNSIGNED_TINYINT": "TINYINT",
        "UNSIGNED_FLOAT": "FLOAT",
        "UNSIGNED_DOUBLE": "DOUBLE",
        "UNSIGNED_DATE": "TIMESTAMP_NTZ",
        "UNSIGNED_TIME": "TIMESTAMP_NTZ",
        "UNSIGNED_TIMESTAMP": "TIMESTAMP_NTZ",
    }
    masked = re.sub(
        r"\bAS\s+(UNSIGNED_\w+)\s*(?=[,)])",
        lambda m: "AS " + _UNSIGNED.get(m.group(1).upper(), m.group(1)),
        masked,
        flags=re.IGNORECASE,
    )
    masked = _rewrite_rvc_arity(masked)
    masked = _rewrite_aliased_table_qualifiers(masked)
    masked = _rewrite_on_nullsafe(masked, stash)
    masked = _rewrite_orderby_null_default(masked)
    masked = _rewrite_distinct_orderby(masked)
    # always run: date-valued FUNCTION terms (TO_DATE/NOW/CURRENT_*) need no
    # catalog knowledge; ts_columns adds the catalog-typed column terms
    masked = _rewrite_datetime_casts(
        masked, ts_columns or set(), int_columns or set()
    )
    masked = _rewrite_date_arith(masked, ts_columns or set())
    if float_columns:
        masked = _rewrite_float_literal_cmp(masked, float_columns)
    if int_columns or str_columns:
        masked = _rewrite_typed_expressions(
            masked, int_columns or set(), str_columns or set(), stash
        )
    # 1-based subscripts and quantified comparisons first (their output may
    # contain functions), then ordered-set aggregates and INVERT — all
    # BEFORE the per-call pass so argument expressions still flow through
    # the function renames.
    masked = _rewrite_subscripts(masked)
    masked = _rewrite_quantified(masked)
    masked = _rewrite_within_group(masked)
    masked = _rewrite_invert_orderby(masked)
    # Rewrites need literal args visible (STRING_TO_ARRAY escapes them), so
    # unmask per-argument inside the rewriter via a wrapper.
    rewritten = _rewrite_code_masked(masked, _unmask)
    return _unmask(rewritten)


def _rewrite_float_literal_cmp(masked: str, float_columns: set[str]) -> str:
    """Phoenix coerces comparison literals to the COLUMN's type, so
    ``a_float = 0.01`` compares at FLOAT precision and matches the stored
    0.01f (NotQueryIT.testNotInListOfFloat).  Spark promotes the float
    column to double instead, where 0.01f != 0.01d — every such comparison
    silently fails.  Cast numeric literals compared (=, !=, <, IN, BETWEEN)
    against known float-typed columns to FLOAT."""
    if not float_columns:
        return masked
    cols = "|".join(
        re.escape(c) for c in sorted(float_columns, key=len, reverse=True)
    )
    colref = rf"(?<![\w.])(?:[A-Za-z_]\w*\.)?(?:{cols})\b"
    num = r"-?\d+(?:\.\d+)?"

    def cast(lit: str) -> str:
        return f"CAST({lit} AS FLOAT)"

    masked = re.sub(
        rf"({colref})(\s*(?:<=|>=|<>|!=|=|<|>)\s*)({num})(?![\w.])",
        lambda m: m.group(1) + m.group(2) + cast(m.group(3)),
        masked, flags=re.I,
    )
    masked = re.sub(
        rf"(?<![\w.])({num})(\s*(?:<=|>=|<>|!=|=|<|>)\s*)({colref})",
        lambda m: cast(m.group(1)) + m.group(2) + m.group(3),
        masked, flags=re.I,
    )

    def _in(m: re.Match) -> str:
        items = [x.strip() for x in m.group(3).split(",")]
        if items and all(re.fullmatch(num, x) for x in items):
            return (
                m.group(1) + m.group(2)
                + "(" + ", ".join(cast(x) for x in items) + ")"
            )
        return m.group(0)

    masked = re.sub(
        rf"({colref})(\s+(?:NOT\s+)?IN\s*)\(([^()]*)\)", _in, masked, flags=re.I
    )
    masked = re.sub(
        rf"({colref})(\s+(?:NOT\s+)?BETWEEN\s+)({num})(\s+AND\s+)({num})(?![\w.])",
        lambda m: m.group(1) + m.group(2) + cast(m.group(3))
        + m.group(4) + cast(m.group(5)),
        masked, flags=re.I,
    )
    return masked


def _rewrite_orderby_null_default(masked: str) -> str:
    """Phoenix's ORDER BY defaults to NULLS FIRST for BOTH directions
    (PhoenixSQL.g:1017-1021: ``boolean nullsLast = false`` regardless of
    ASC/DESC; SortMergeJoinIT.testRightLeftJoin pins a NULL key sorting
    before non-NULLs under DESC).  Spark's DESC default is NULLS LAST, so
    append an explicit NULLS FIRST to every ORDER BY item that ends in a
    bare DESC.  ASC items already default to NULLS FIRST in Spark.

    Applies to statement-level ORDER BY only: ``OVER (... ORDER BY ...)``
    and ``WITHIN GROUP (ORDER BY ...)`` are beyond-reference / separately
    rewritten surfaces that keep their established semantics."""
    skip = [
        (m.end(), match_forward(masked, m.end()))
        for m in re.finditer(r"\b(?:OVER|GROUP)\s*\(", masked, re.I)
    ]

    out, pos = [], 0
    for m in re.finditer(r"\bORDER\s+BY\b", masked, re.I):
        if any(s <= m.start() < e for s, e in skip):
            continue
        if m.start() < pos:
            continue
        # item list: up to the next top-level boundary; patch items ending
        # in bare DESC
        end = find_top(masked, _OB_END_RE, m.end())
        items = split_top(masked[m.end() : end], ",")
        changed = False
        for ii, item in enumerate(items):
            if re.search(r"\bDESC\s*$", item, re.I) and not re.search(
                r"\bNULLS\s+(?:FIRST|LAST)", item, re.I
            ):
                items[ii] = item.rstrip() + " NULLS FIRST "
                changed = True
        if changed:
            out.append(masked[pos : m.end()])
            out.append(",".join(items))
            pos = end
    out.append(masked[pos:])
    return "".join(out)


_ON_REGION_END_RE = re.compile(
    r",|(?:JOIN|INNER|LEFT|RIGHT|FULL|CROSS|WHERE|GROUP|ORDER|HAVING|LIMIT"
    r"|OFFSET|UNION|INTERSECT|EXCEPT|FETCH|ON)\b",
    re.I,
)

_EXPR_NONCOL_KW = {
    "AND", "OR", "NOT", "NULL", "TRUE", "FALSE", "IS", "IN", "LIKE",
    "BETWEEN", "CASE", "WHEN", "THEN", "ELSE", "END", "AS", "ANY", "ALL",
    "SOME", "EXISTS", "SELECT", "FROM", "DISTINCT", "ESCAPE", "ILIKE",
}


_ALIAS_STOP_KW = {
    "WHERE", "JOIN", "ON", "GROUP", "ORDER", "LEFT", "RIGHT", "INNER",
    "CROSS", "FULL", "UNION", "INTERSECT", "EXCEPT", "LIMIT", "OFFSET",
    "HAVING", "AS", "SET", "VALUES", "SELECT", "FETCH", "USING", "NATURAL",
}


def _rewrite_aliased_table_qualifiers(masked: str) -> str:
    """Phoenix resolves a column qualified by the TABLE NAME even when the
    table carries an alias — FromCompiler's resolver binds both names
    (QueryIT.testColumnAliasMapping: ``SELECT a.a_string, atable.b_string
    FROM atable a``).  Spark binds only the alias, so rewrite ``tbl.col`` to
    ``alias.col`` — conservatively: only when ``tbl`` is aliased exactly
    once in the statement and never appears unaliased (anything else is
    ambiguous in Phoenix too)."""
    pairs: dict[str, set[str]] = {}
    bare: set[str] = set()
    for m in re.finditer(
        r"\b(?:FROM|JOIN)\s+([A-Za-z_]\w*)(?:\s+(?:AS\s+)?([A-Za-z_]\w*))?",
        masked,
        re.I,
    ):
        tbl, alias = m.group(1).lower(), m.group(2)
        if alias and alias.upper() in _ALIAS_STOP_KW:
            alias = None
        if alias:
            pairs.setdefault(tbl, set()).add(alias)
        else:
            bare.add(tbl)
    out = masked
    for tbl, aliases in pairs.items():
        if len(aliases) != 1 or tbl in bare:
            continue
        alias = next(iter(aliases))
        if alias.lower() == tbl:
            continue
        out = re.sub(
            rf"\b{re.escape(tbl)}\s*\.", f"{alias}.", out, flags=re.I
        )
    return out


def _rewrite_on_nullsafe(masked: str, stash: list[str]) -> str:
    """Phoenix equi-join keys are NULL-safe: the hash/sort-merge join key is
    the byte-concatenation of the ON clause's equality operands with an
    unevaluated (NULL) component encoded as empty bytes
    (TupleUtil.getConcatenatedValue, phoenix-core-client .../util/
    TupleUtil.java:148-176; HashJoinRegionScanner.java:173), so NULL keys
    match NULL keys — HashJoinIT/SortMergeJoinIT.testJoinMultiJoinKeys pins
    C3-S3 matching on ``c.loc_id = s.loc_id`` with both NULL.  Spark/ANSI
    ``=`` never matches NULLs, so rewrite each top-level AND-ed ``a = b``
    conjunct of a JOIN ON clause to Spark's null-safe ``<=>`` when both
    sides are column-bearing expressions of different relations (a literal
    comparison or same-relation equality is a Phoenix PRE/POST-filter with
    standard 3VL semantics — left untouched)."""

    def _ident_tokens(text: str) -> list[tuple[str, int]]:
        out = []
        for m in re.finditer(r"\x00\d+\x00|[A-Za-z_]\w*", text):
            tok = m.group(0)
            if tok.startswith("\x00"):
                # masked token: quoted identifier (backtick in stash) or a
                # string literal — only the former is a column reference
                if stash[int(tok.strip("\x00"))].startswith("`"):
                    out.append((tok, m.end()))
            elif tok.upper() not in _EXPR_NONCOL_KW:
                out.append((tok, m.end()))
        return out

    def _analyze(side: str):
        """(has_column, qualifier_set) for one equality operand."""
        if re.search(r"\bNULL\b", side, re.I):
            return False, set()
        quals: set[str] = set()
        has_col = False
        for tok, end in _ident_tokens(side):
            rest = side[end:]
            mdot = re.match(r"\s*\.", rest)
            if mdot:
                quals.add(tok.lower())
                continue
            if re.match(r"\s*\(", rest):
                continue  # function call name
            has_col = True
        return has_col or bool(quals), quals

    out, pos = [], 0
    for m in re.finditer(r"\bON\b(?!\s+DUPLICATE\b)", masked, re.I):
        if m.start() < pos:
            continue
        # region: from after ON to the next top-level boundary
        end = find_top(masked, _ON_REGION_END_RE, m.end())
        conjuncts = split_top(masked[m.end() : end], "AND")
        changed = False
        for ci, conj in enumerate(conjuncts):
            if re.search(r"\bOR\b", conj, re.I):
                continue
            # exactly one top-level bare `=` (the lexer reads !=, <=, >=
            # and <=> as whole operators)
            sides = split_top(conj, "=")
            if len(sides) != 2:
                continue
            lhs, rhs = sides
            lcol, lq = _analyze(lhs)
            rcol, rq = _analyze(rhs)
            if not (lcol and rcol):
                continue
            # The rewrite needs PROOF the equality is cross-relation: both
            # sides explicitly qualified, with disjoint qualifier sets.  A
            # bare column (empty qualifier set) could belong to either
            # relation — e.g. ``ON a.k = b.k AND a.x = x2`` where x2 is also
            # a's column is a same-relation pre-filter Phoenix evaluates
            # with standard 3VL; rewriting it to <=> would let NULL = NULL
            # pass a filter.  When ambiguous, keep ANSI `=`.
            if not (lq and rq) or (lq & rq):
                continue
            conjuncts[ci] = f"{lhs}<=>{rhs}"
            changed = True
        if changed:
            out.append(masked[pos : m.end()])
            out.append(" AND ".join(conjuncts))
            pos = end
    out.append(masked[pos:])
    return "".join(out)


def _rewrite_array_ctor(masked: str) -> str:
    """``ARRAY[a, b, c]`` -> ``array(a, b, c)`` with balanced brackets."""
    out: list[str] = []
    pos = 0
    pat = re.compile(r"\bARRAY\s*\[", re.IGNORECASE)
    while True:
        m = pat.search(masked, pos)
        if not m:
            out.append(masked[pos:])
            return "".join(out)
        out.append(masked[pos : m.start()])
        out.append("array(")
        end = match_forward(masked, m.end())
        out.append(_rewrite_array_ctor(masked[m.end() : end - 1]))
        out.append(")")
        pos = end


# ---------------------------------------------------------------------------
# Ordered-set aggregates: NAME(args) WITHIN GROUP (ORDER BY key [ASC|DESC])
# (FirstValueFunction / LastValueFunction / NthValueFunction /
# FirstValuesFunction / LastValuesFunction / PercentRankClientAggregator).
# Spark supports WITHIN GROUP only for percentile_cont/disc/mode, so the
# rest lower to plain aggregate expressions:
#   FIRST_VALUE  → min_by/max_by
#   NTH/FIRST/LAST_VALUES → array_sort(collect_list(struct)) + slice/element_at
#   PERCENT_RANK(v) → count_if(key <= v)/count(key)  (ASC; the reference sums
#     distinct-value counts while colValue <= v — PercentRankClientAggregator
#     .evaluate; DESC counts colValue > v)
# ---------------------------------------------------------------------------

_WG_FNS = (
    "FIRST_VALUES",
    "LAST_VALUES",
    "FIRST_VALUE",
    "LAST_VALUE",
    "NTH_VALUE",
    "PERCENT_RANK",
    "PERCENTILE_CONT",
    "PERCENTILE_DISC",
)
_WG_RE = re.compile(r"\b(" + "|".join(_WG_FNS) + r")\s*\(", re.IGNORECASE)
_WG_TAIL_RE = re.compile(r"\s*WITHIN\s+GROUP\s*\(\s*ORDER\s+BY\s+", re.IGNORECASE)


def _lower_within_group(name: str, args: list[str], key: str, desc: bool) -> str:
    if name == "FIRST_VALUE":
        return f"{'max_by' if desc else 'min_by'}({args[0]}, {key})"
    if name == "LAST_VALUE":
        return f"{'min_by' if desc else 'max_by'}({args[0]}, {key})"
    if name == "PERCENT_RANK":
        cmp = ">" if desc else "<="
        return f"(cast(count_if(({key}) {cmp} ({args[0]})) as double) / count({key}))"
    if name == "PERCENTILE_CONT":
        # PercentileClientAggregator.evaluate: i = p*N + 0.5, k = floor(i),
        # f = i - k, result = v[k]*(1-f) + v[k+1]*f over the ordered
        # multiset, clamped to v[1]/v[N] at the edges — NOT the ANSI
        # p*(N-1)+1 rule Spark/DuckDB use (PERCENTILE_CONT(0.9) over 1..9 is
        # 8.6 in Phoenix, 8.2 under ANSI; PercentileIT.testPercentile).
        # Like the reference's client aggregator, the group is materialized
        # (the at-scale path is APPROX_PERCENTILE, aggregates_ext.py).
        p = args[0]
        srt = f"array_sort(collect_list(cast(({key}) as double)))"
        arr = f"reverse({srt})" if desc else srt
        i = f"(({p}) * size(__pa) + 0.5d)"
        k = f"cast(floor({i}) as int)"
        f_ = f"({i} - floor({i}))"
        body = (
            f"case when size(__pa) = 0 then cast(null as double) "
            f"when {k} < 1 then element_at(__pa, 1) "
            f"when {k} >= size(__pa) then element_at(__pa, size(__pa)) "
            f"else element_at(__pa, {k}) * (1.0d - {f_}) "
            f"+ element_at(__pa, {k} + 1) * {f_} end"
        )
        return f"element_at(transform(array({arr}), __pa -> {body}), 1)"
    if name == "PERCENTILE_DISC":
        # PercentileDiscClientAggregator: the first value in the chosen
        # order whose cumulative distribution reaches p — index
        # max(1, ceil(p*N)); keeps the column's type
        p = args[0]
        srt = f"array_sort(collect_list({key}))"
        arr = f"reverse({srt})" if desc else srt
        return (
            f"element_at(transform(array({arr}), __pa -> try_element_at("
            f"__pa, greatest(1, cast(ceil(({p}) * size(__pa)) as int)))), 1)"
        )
    sorted_asc = (
        f"array_sort(collect_list(named_struct('_o', {key}, '_v', {args[0]})))"
    )
    fwd = f"reverse({sorted_asc})" if desc else sorted_asc
    bwd = sorted_asc if desc else f"reverse({sorted_asc})"
    if name == "NTH_VALUE":
        # n beyond the group size is NULL, never an error (NthValueFunction
        # returns no value; CoalesceFunctionIT.java:157 composes
        # NTH_VALUE(c, 100) over a one-row group inside COALESCE)
        return f"try_element_at(transform({fwd}, __s -> __s._v), {args[1]})"
    if name == "FIRST_VALUES":
        return f"transform(slice({fwd}, 1, {args[1]}), __s -> __s._v)"
    # LAST_VALUES: last n, emitted nearest-the-end first (LastValuesFunction)
    return f"transform(slice({bwd}, 1, {args[1]}), __s -> __s._v)"


def _rewrite_within_group(masked: str) -> str:
    out, pos = [], 0
    while True:
        m = _WG_RE.search(masked, pos)
        if not m:
            out.append(masked[pos:])
            return "".join(out)
        close = match_forward(masked, m.end())
        tm = _WG_TAIL_RE.match(masked, close)
        if not tm:
            # no WITHIN GROUP: leave for Spark (e.g. window first_value)
            out.append(masked[pos : m.end()])
            pos = m.end()
            continue
        wg_close = match_forward(masked, tm.end())
        order = masked[tm.end() : wg_close - 1].strip()
        if len(split_top(order, ",")) != 1:
            raise PhoenixTranslationError(
                f"{m.group(1).upper()} WITHIN GROUP supports a single "
                "ORDER BY expression (as in the reference grammar)"
            )
        dm = re.search(r"\s+(ASC|DESC)\s*$", order, re.IGNORECASE)
        desc = bool(dm and dm.group(1).upper() == "DESC")
        key = (order[: dm.start()] if dm else order).strip()
        args = [a.strip() for a in split_top(masked[m.end() : close - 1], ",")]
        out.append(masked[pos : m.start()])
        out.append(_lower_within_group(m.group(1).upper(), args, key, desc))
        pos = wg_close
    # unreachable


def _term_start(s: str, i: int) -> int:
    """Start index of the term ending just before ``i`` (skipping trailing
    whitespace): a qualified identifier / literal placeholder, optionally a
    call or parenthesized group with its name."""
    j = i
    while j > 0 and s[j - 1].isspace():
        j -= 1
    if j > 0 and s[j - 1] == ")":
        j = max(match_backward(s, j), 0)
    while j > 0 and (s[j - 1].isalnum() or s[j - 1] in "_.\x00"):
        j -= 1
    return j


# ---------------------------------------------------------------------------
# Array subscripts: term[e] (grammar :1149 arrayElemRef) is ONE-based in
# Phoenix; Spark's [] is zero-based, so passing it through would silently
# return the neighboring element.  Lower to try_element_at (also 1-based):
# an out-of-range index yields NULL, never an error
# (PArrayDataTypeDecoder.positionAtArrayElement:63-66 sets an empty ptr;
# Array1IT.testArraySelectWithORCondition relies on a_char_array[0] being
# NULL).  Runs after the ARRAY[...] constructor rewrite, so every remaining
# '[' preceded by a term is a subscript.
# ---------------------------------------------------------------------------


def _rewrite_subscripts(masked: str) -> str:
    i = 0
    while True:
        idx = masked.find("[", i)
        if idx == -1:
            return masked
        j = idx
        while j > 0 and masked[j - 1].isspace():
            j -= 1
        if j == 0 or not (masked[j - 1].isalnum() or masked[j - 1] in "_\x00)"):
            i = idx + 1
            continue
        start = _term_start(masked, idx)
        term = masked[start:j]
        if term.strip().upper() == "END":
            # CASE ... END [n]: the subscripted term is the whole CASE
            # expression — walk back to the matching CASE keyword
            depth_c = 1
            for cm in reversed(
                list(re.finditer(r"\b(CASE|END)\b", masked[:start], re.I))
            ):
                if cm.group(1).upper() == "END":
                    depth_c += 1
                else:
                    depth_c -= 1
                    if depth_c == 0:
                        start = cm.start()
                        break
            term = masked[start:j]
        k = match_forward(masked, idx + 1)
        inner = masked[idx + 1 : k - 1]
        # Spark's try_element_at still errors on index 0 and reads negative
        # indices from the END — both meaningless in Phoenix (NULL); guard
        # non-positive indices unless the literal is provably positive
        if re.fullmatch(r"\s*\d+\s*", inner) and int(inner) > 0:
            repl = f"try_element_at({term}, {inner})"
        else:
            repl = (
                f"try_element_at({term}, "
                f"if(({inner}) < 1, 2147483647, ({inner})))"
            )
        masked = masked[:start] + repl + masked[k:]
        i = start
    # unreachable


# ---------------------------------------------------------------------------
# Quantified comparisons (grammar :1087): x op ANY|SOME|ALL (array | subquery).
#  * arrays (ArrayAnyComparisonExpression / ArrayAllComparisonExpression):
#    lower to exists()/forall() lambdas — JVM-side, codegen'd.
#  * subqueries: the reference compiles these to aggregate comparisons; same
#    here — = ANY → IN, <> ALL → NOT IN, range ops → MIN/MAX scalar subquery
#    (the exact rewrite the registry documents for subq_all_quantified).
# ---------------------------------------------------------------------------

_QUANT_RE = re.compile(
    r"(=|!=|<>|<=|>=|<|>)\s*(ANY|SOME|ALL)\s*\(", re.IGNORECASE
)


def _rewrite_quantified(masked: str) -> str:
    out, pos = [], 0
    while True:
        m = _QUANT_RE.search(masked, pos)
        if not m:
            out.append(masked[pos:])
            return "".join(out)
        close = match_forward(masked, m.end())
        # nested quantified comparisons inside the subquery/array operand
        # must rewrite too (HashJoinMoreIT.testSubqueryWithoutData nests
        # `> ALL` and `< ANY` inside an `= ANY` subquery)
        inner = _rewrite_quantified(masked[m.end() : close - 1].strip())
        op = {"!=": "<>"}.get(m.group(1), m.group(1))
        quant = m.group(2).upper().replace("SOME", "ANY")
        lstart = _term_start(masked, m.start())
        left = masked[lstart : m.start()].strip()
        if not left:
            raise PhoenixTranslationError(
                f"cannot resolve the left operand of {op} {quant}(...)"
            )
        if re.match(r"SELECT\b", inner, re.IGNORECASE):
            if op == "=" and quant == "ANY":
                repl = f"{left} IN ({inner})"
            elif op == "<>" and quant == "ALL":
                repl = f"{left} NOT IN ({inner})"
            elif op in ("<", "<=", ">", ">="):
                # < ANY / <= ANY → MAX;  > ANY / >= ANY → MIN
                # < ALL / <= ALL → MIN;  > ALL / >= ALL → MAX
                agg = "MAX" if (quant == "ANY") == (op in ("<", "<=")) else "MIN"
                repl = (
                    f"{left} {op} (SELECT {agg}(__c) "
                    f"FROM ({inner}) AS __q(__c))"
                )
            elif op == "=" and quant == "ALL":
                # x = ALL(sub): every element equals x
                # (SubqueryIT.testAnyAllComparisonSubquery:918).  Lowered to
                # NOT EXISTS over the refuting rows, which Spark decorrelates
                # even for correlated inners with GROUP BY.  IS DISTINCT FROM
                # refutes NULL elements (ANSI yields unknown there — same
                # WHERE-context effect); the x IS NOT NULL guard keeps a NULL
                # left operand from vacuously matching.
                repl = (
                    f"(({left}) IS NOT NULL AND NOT EXISTS (SELECT 1 "
                    f"FROM ({inner}) AS __q(__c) "
                    f"WHERE __c IS DISTINCT FROM ({left})))"
                )
            elif op == "<>" and quant == "ANY":
                # x <> ANY(sub): some element differs from x; plain <> in
                # the refutation so NULL elements never satisfy it (3VL).
                repl = (
                    f"EXISTS (SELECT 1 FROM ({inner}) AS __q(__c) "
                    f"WHERE __c <> ({left}))"
                )
            else:
                raise PhoenixTranslationError(
                    f"{op} {quant} (subquery) is not supported"
                )
        else:
            fn = "exists" if quant == "ANY" else "forall"
            repl = f"{fn}({inner}, __e -> ({left}) {op} __e)"
        out.append(masked[pos:lstart])
        out.append(repl)
        pos = close
    # unreachable


# ---------------------------------------------------------------------------
# INVERT(expr) (InvertFunction — Phoenix's DESC-sort-order wrapper): inside
# an ORDER BY list it flips the sort direction of its argument; anywhere
# else it would have to materialize complement-of-bytes values, which has
# no Spark analogue and raises loudly instead of mis-sorting.
# ---------------------------------------------------------------------------

_OB_END_RE = re.compile(
    r"\b(LIMIT|OFFSET|FETCH|UNION|INTERSECT|EXCEPT|WINDOW)\b", re.IGNORECASE
)


def _rewrite_invert_orderby(masked: str) -> str:
    if not re.search(r"\bINVERT\s*\(", masked, re.IGNORECASE):
        return masked
    spans = [
        (m.end(), find_top(masked, _OB_END_RE, m.end()))
        for m in re.finditer(r"\bORDER\s+BY\b", masked, re.IGNORECASE)
    ]
    inv = re.compile(r"\bINVERT\s*\(", re.IGNORECASE)
    for start, end in reversed(spans):
        clause = masked[start:end]
        pieces, pos = [], 0
        while True:
            im = inv.search(clause, pos)
            if im is None:
                pieces.append(clause[pos:])
                break
            close = match_forward(clause, im.end())
            inner = clause[im.end() : close - 1]
            dm = re.match(r"\s*(ASC|DESC)\b", clause[close:], re.IGNORECASE)
            if dm:
                direction = "ASC" if dm.group(1).upper() == "DESC" else "DESC"
                close += dm.end()
            else:
                direction = "DESC"
            pieces.append(clause[pos : im.start()])
            pieces.append(f"{inner} {direction}")
            pos = close
        masked = masked[:start] + "".join(pieces) + masked[end:]
    if re.search(r"\bINVERT\s*\(", masked, re.IGNORECASE):
        raise PhoenixTranslationError(
            "INVERT outside an ORDER BY list is not supported (it exists to "
            "flip sort order; use ORDER BY ... DESC)"
        )
    return masked


def _rewrite_code_masked(masked: str, unmask) -> str:
    out = []
    pos = 0
    while True:
        m = _WORD_RE.search(masked, pos)
        if not m:
            out.append(masked[pos:])
            return "".join(out)
        out.append(masked[pos : m.start()])
        i = match_forward(masked, m.end())
        argtext = masked[m.end() : i - 1]
        # recurse so nested calls inside arguments are rewritten too
        args = [
            unmask(_rewrite_code_masked(a.strip(), unmask))
            for a in split_top(argtext, ",")
            if argtext.strip()
        ]
        out.append(_rewrite_call(m.group(1), args))
        pos = i


# ---------------------------------------------------------------------------
# Statement classification (PhoenixStatement.executeQuery vs executeUpdate)
# ---------------------------------------------------------------------------

@dataclass
class Statement:
    kind: str  # select | upsert | delete | create_table | create_view |
    #            create_sequence | drop | explain | show | other_ddl
    text: str


_KIND_RE = [
    ("upsert", re.compile(r"^\s*UPSERT\b", re.I)),
    ("delete", re.compile(r"^\s*DELETE\b", re.I)),
    ("create_table", re.compile(r"^\s*CREATE\s+TABLE\b", re.I)),
    ("create_view", re.compile(r"^\s*CREATE\s+VIEW\b", re.I)),
    ("create_sequence", re.compile(r"^\s*CREATE\s+SEQUENCE\b", re.I)),
    ("create_schema", re.compile(r"^\s*CREATE\s+SCHEMA\b", re.I)),
    ("use_schema", re.compile(r"^\s*USE\b", re.I)),
    ("create_function", re.compile(r"^\s*CREATE\s+(TEMPORARY\s+)?FUNCTION\b", re.I)),
    ("create_index", re.compile(r"^\s*CREATE\s+(LOCAL\s+|UNCOVERED\s+)?INDEX\b", re.I)),
    ("create_cdc", re.compile(r"^\s*CREATE\s+CDC\b", re.I)),
    ("drop", re.compile(r"^\s*(DROP|TRUNCATE)\b", re.I)),
    ("explain", re.compile(r"^\s*EXPLAIN\b", re.I)),
    ("show", re.compile(r"^\s*SHOW\b", re.I)),
    ("alter_session", re.compile(r"^\s*ALTER\s+SESSION\b", re.I)),
    ("alter", re.compile(r"^\s*ALTER\b", re.I)),
    ("grant", re.compile(r"^\s*(GRANT|REVOKE)\b", re.I)),
    ("trace", re.compile(r"^\s*TRACE\b", re.I)),
    ("upgrade", re.compile(r"^\s*EXECUTE\s+UPGRADE\b", re.I)),
    ("update_stats", re.compile(r"^\s*UPDATE\s+STATISTICS\b", re.I)),
    ("declare_cursor", re.compile(r"^\s*DECLARE\b", re.I)),
    ("open_cursor", re.compile(r"^\s*OPEN\b", re.I)),
    ("fetch_cursor", re.compile(r"^\s*FETCH\b", re.I)),
    ("close_cursor", re.compile(r"^\s*CLOSE\b", re.I)),
]


def classify(sql: str) -> Statement:
    """Route on the first code token, as the grammar does: leading comments
    are skipped, and ``Statement.text`` starts at that token."""
    sql = sql[code_start(sql) :]
    for kind, rx in _KIND_RE:
        if rx.match(sql):
            return Statement(kind, sql)
    return Statement("select", sql)
