"""Phoenix type system → Spark DataType mapping (SURVEY.md §1.4).

Reference: one class per type under phoenix-core-client/.../schema/types/
(PDataType.java:51 base; PInteger, PDecimal, PVarchar, PDate, P<T>Array ...).
Only the *logical* type survives the mapping — Phoenix's sort-order-preserving
byte encodings are an HBase row-key concern with no Spark counterpart.

Pinned semantics:
  * Phoenix DATE / TIME / TIMESTAMP all carry date+time (PDate is ms-epoch
    with time!) → all three map to TimestampType; TIMESTAMP's extra nanos
    truncate to Spark's µs.
  * UNSIGNED_* variants share the signed Spark type (value-domain ≥ 0 is a
    constraint, not a distinct type).
  * CHAR(n) keeps StringType; the space-padding comparison rule is handled
    at expression level, not storage.
  * `<type> ARRAY` / `<type>[]` → ArrayType (1-D only, like Phoenix).
"""

from __future__ import annotations

import re

from pyspark.sql import types as T

_SCALARS: dict[str, T.DataType] = {
    "INTEGER": T.IntegerType(),
    "INT": T.IntegerType(),
    "BIGINT": T.LongType(),
    "LONG": T.LongType(),
    "SMALLINT": T.ShortType(),
    "TINYINT": T.ByteType(),
    "FLOAT": T.FloatType(),
    "DOUBLE": T.DoubleType(),
    "BOOLEAN": T.BooleanType(),
    "VARCHAR": T.StringType(),
    "CHAR": T.StringType(),
    "DATE": T.TimestampType(),  # Phoenix DATE carries time (PDate.java)
    "TIME": T.TimestampType(),
    "TIMESTAMP": T.TimestampType(),
    "VARBINARY": T.BinaryType(),
    "BINARY": T.BinaryType(),
    "VARBINARY_ENCODED": T.BinaryType(),
    "JSON": T.StringType(),  # PJson extends PVarbinary; queried as text
    "BSON": T.StringType(),
    "UNSIGNED_INT": T.IntegerType(),
    "UNSIGNED_LONG": T.LongType(),
    "UNSIGNED_SMALLINT": T.ShortType(),
    "UNSIGNED_TINYINT": T.ByteType(),
    "UNSIGNED_FLOAT": T.FloatType(),
    "UNSIGNED_DOUBLE": T.DoubleType(),
    "UNSIGNED_DATE": T.TimestampType(),
    "UNSIGNED_TIME": T.TimestampType(),
    "UNSIGNED_TIMESTAMP": T.TimestampType(),
}

_TYPE_RE = re.compile(
    r"""^\s*
        (?P<base>[A-Z_]+)
        (?:\s*\(\s*(?P<p>\d+)\s*(?:,\s*(?P<s>\d+)\s*)?\))?   # (p[,s])
        (?P<arr>\s+ARRAY(?:\s*\[\s*\d*\s*\])?|\s*\[\s*\d*\s*\])?  # ARRAY / []
        \s*$""",
    re.IGNORECASE | re.VERBOSE,
)


def parse_type(text: str) -> T.DataType:
    """Parse a Phoenix type string (e.g. ``DECIMAL(10,2)``, ``VARCHAR(32)``,
    ``INTEGER ARRAY``, ``DOUBLE[]``) into a Spark DataType."""
    m = _TYPE_RE.match(text)
    if not m:
        raise ValueError(f"unparseable Phoenix type: {text!r}")
    base = m.group("base").upper()
    if base == "DECIMAL":
        p = int(m.group("p") or 38)
        s = int(m.group("s") or 0)
        dt: T.DataType = T.DecimalType(p, s)
    elif base in _SCALARS:
        dt = _SCALARS[base]  # (p) on VARCHAR/CHAR/BINARY is a length, dropped
    else:
        raise ValueError(f"unknown Phoenix type: {base}")
    if m.group("arr"):
        dt = T.ArrayType(dt)
    return dt

