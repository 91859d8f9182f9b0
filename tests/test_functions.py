"""Function-surface tests: the §2.8 helpers with no Spark builtin, plus the
sqlfront shape rewrites, each checked against hand-computed (or DuckDB)
expectations.  Registry completeness is asserted against docs/phoenix.csv's
82 documented functions; the registry additionally carries the post-doc
reference functions (group "postdoc": SIN/COS/TAN/PI, JSON_*, BSON_*,
STRING_TO_ARRAY, ARRAY_REMOVE, ENCODE/DECODE_BINARY, SUB_BINARY,
PHOENIX_ROW_TIMESTAMP, PARTITION_ID)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from phoenix_spark.functions import (
    FUNCTIONS,
    convert_tz,
    decode_hex,
    dayofweek_iso,
    encode_base62,
    get_bit,
    get_byte,
    set_bit,
    set_byte,
    timezone_offset,
)
from phoenix_spark.sqlfront import translate_phoenix_sql


_PHOENIX_CSV = "/root/reference/docs/phoenix.csv"


@pytest.mark.skipif(
    not os.path.exists(_PHOENIX_CSV), reason="reference docs/phoenix.csv not present"
)
def test_registry_covers_all_documented_functions():
    import csv

    rows = csv.reader(open(_PHOENIX_CSV))
    documented = {r[1] for r in rows if len(r) > 1 and r[0].startswith("Functions")}
    assert documented <= set(FUNCTIONS), sorted(documented - set(FUNCTIONS))


def test_byte_bit_helpers(spark):
    df = spark.createDataFrame([("abc",)], "s: string").select(
        F.col("s").cast("binary").alias("b")
    )
    row = df.select(
        get_byte("b", 0).alias("b0"),
        get_byte("b", 2).alias("b2"),
        get_bit("b", 0).alias("bit0"),   # 'a'=0x61, bit0 = 1
        get_bit("b", 1).alias("bit1"),   # bit1 of 0x61 = 0
        set_byte("b", 1, 0x7A).cast("string").alias("sb"),
        set_bit("b", 1, 1).cast("string").alias("sbit"),
    ).collect()[0]
    assert (row.b0, row.b2) == (ord("a"), ord("c"))
    assert (row.bit0, row.bit1) == (1, 0)
    assert row.sb == "azc"
    assert row.sbit == "cbc"  # 0x61 | 0b10 = 0x63 = 'c'


def test_encode_base62_decode_hex(spark):
    df = spark.range(1).select(
        encode_base62(F.lit(0)).alias("zero"),
        encode_base62(F.lit(61)).alias("z"),
        encode_base62(F.lit(62)).alias("ten"),
        encode_base62(F.lit(3843)).alias("zz"),
        encode_base62(F.lit(123456789)).alias("big"),
        decode_hex(F.lit("616263")).cast("string").alias("abc"),
    )
    row = df.collect()[0]
    assert (row.zero, row.z, row.ten, row.zz) == ("0", "z", "10", "zz")
    # 123456789 = 8*62^4 + 14*62^3 + 31*62^2 + 11*62 + 33 -> '8EVBX'
    n, s = 123456789, ""
    B = "0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
    while n:
        s = B[n % 62] + s
        n //= 62
    assert row.big == s
    assert row.abc == "abc"


def test_tz_helpers(spark):
    row = spark.range(1).select(
        convert_tz(
            F.lit("2024-07-01 12:00:00").cast("timestamp"),
            "America/New_York",
            "Europe/Berlin",
        ).alias("ct"),
        timezone_offset("America/New_York", F.lit("2024-07-01 12:00:00").cast("timestamp")).alias("off_summer"),
        timezone_offset("America/New_York", F.lit("2024-01-01 12:00:00").cast("timestamp")).alias("off_winter"),
        dayofweek_iso(F.lit("2004-01-18 10:00:10").cast("timestamp")).alias("dow"),
    ).collect()[0]
    assert str(row.ct) == "2024-07-01 18:00:00"  # NY noon EDT = Berlin 18:00 CEST
    assert row.off_summer == -240 and row.off_winter == -300  # EDT/EST
    assert row.dow == 7  # 2004-01-18 is a Sunday (phoenix.csv example)


def test_sqlfront_shape_rewrites(spark):
    out = translate_phoenix_sql("SELECT LOG(100), LOG(8, 2), WEEK(ts), DAYOFWEEK(ts) FROM t")
    assert "log10(100)" in out and "log(2, 8)" in out
    assert "weekofyear(ts)" in out and "weekday(ts) + 1" in out
    out2 = translate_phoenix_sql("SELECT CONVERT_TZ(ts, 'UTC', 'Asia/Tokyo') FROM t")
    assert "from_utc_timestamp(to_utc_timestamp(ts, 'UTC'), 'Asia/Tokyo')" in out2
    out3 = translate_phoenix_sql("SELECT DECODE(h, 'HEX'), GET_BYTE(b, 2) FROM t")
    assert "unhex(h)" in out3 and "substring(hex(b), 5, 2)" in out3
    # evaluate one end-to-end through Spark
    row = spark.sql(translate_phoenix_sql("SELECT LOG(8, 2) AS lg")).collect()[0]
    assert row.lg == 3.0


def test_collect_distinct_row_size_rowkey(spark):
    from phoenix_spark.functions import (
        bson_value_type,
        collect_distinct,
        row_size,
        rowkey_bytes_string,
    )

    df = spark.createDataFrame(
        [(1, "a"), (1, "b"), (1, "a"), (2, "c")], ["k", "v"]
    )
    rows = (
        df.groupBy("k")
        .agg(collect_distinct("v").alias("vs"))
        .orderBy("k")
        .collect()
    )
    assert [r.vs for r in rows] == [["a", "b"], ["c"]]

    r = df.select(
        row_size("k", "v").alias("sz"),
        rowkey_bytes_string("k", "v").alias("rk"),
    ).collect()[0]
    assert r.sz == len('{"k":1,"v":"a"}')
    assert r.rk == "1\x00a"

    # type probe over a literal document (full branch coverage incl. the
    # INTEGER/BIGINT magnitude split, json-null, and absent field)
    doc = (
        '{"s":"x","i":7,"big":4000000000,"d":1.5,"b":true,'
        '"arr":[1],"obj":{"n":1},"z":null}'
    )
    t = spark.createDataFrame([(doc,)], ["doc"]).select(
        *[
            bson_value_type("doc", f).alias(f)
            for f in ("s", "i", "big", "d", "b", "arr", "obj", "z", "zz")
        ]
    ).collect()[0]
    assert t.asDict() == {
        "s": "VARCHAR", "i": "INTEGER", "big": "BIGINT", "d": "DOUBLE",
        "b": "BOOLEAN", "arr": "BSON", "obj": "BSON", "z": "NULL",
        "zz": None,
    }


def test_date_round_reference_parity(spark):
    """Pins the reference's EXACT rounding semantics
    (RoundDateExpression.roundTime: Java truncating division — pre-epoch
    values round toward zero; Round{Week,Month,Year}Expression: joda
    roundHalfEvenCopy — midpoint ties go to the even field value)."""
    from phoenix_spark.functions import ntz_date_round_sql

    def run(mode, ts, unit, mult=1):
        sql = ntz_date_round_sql(mode, f"TIMESTAMP_NTZ'{ts}'", unit, mult)
        return str(spark.sql(f"SELECT {sql} AS v").head()[0])

    # pre-epoch truncating division (reference quirk, deliberately mirrored):
    # FLOOR of a pre-1970 day lands on 1970-01-01, not the calendar floor
    assert run("FLOOR", "1969-12-31 10:00:00", "DAY") == "1970-01-01 00:00:00"
    assert run("FLOOR", "1969-12-30 00:00:00", "DAY") == "1969-12-30 00:00:00"
    assert run("CEIL", "1969-12-28 01:00:00", "DAY") == "1969-12-30 00:00:00"
    # positive-side fixed units: ordinary floor/half-up/ceil
    assert run("ROUND", "2020-03-15 12:30:00", "HOUR") == "2020-03-15 13:00:00"
    assert run("ROUND", "2020-03-15 12:29:59", "HOUR") == "2020-03-15 12:00:00"
    assert run("CEIL", "2020-03-15 12:00:00", "HOUR") == "2020-03-15 12:00:00"
    assert run("FLOOR", "2020-03-15 13:47:11", "HOUR", 6) == "2020-03-15 12:00:00"
    # joda WEEK: true Monday floor even pre-epoch (NOT truncating division)
    assert run("FLOOR", "1969-12-31 10:00:00", "WEEK") == "1969-12-29 00:00:00"
    # half-even ties: June (even month) wins the 30-day midpoint; Monday of
    # ISO week 2 (even) wins the Thursday-noon midpoint
    assert run("ROUND", "2020-06-16 00:00:00", "MONTH") == "2020-06-01 00:00:00"
    # 31-day May: midpoint is the 16th at NOON; the tie goes to June (even)
    assert run("ROUND", "2021-05-16 12:00:00", "MONTH") == "2021-06-01 00:00:00"
    assert run("ROUND", "2021-05-16 00:00:00", "MONTH") == "2021-05-01 00:00:00"
    assert run("ROUND", "2021-01-14 12:00:00", "WEEK") == "2021-01-11 00:00:00"
    # non-tie month/year rounds pick the nearer boundary
    assert run("ROUND", "2021-05-20 00:00:00", "MONTH") == "2021-06-01 00:00:00"
    assert run("ROUND", "2021-02-10 00:00:00", "YEAR") == "2021-01-01 00:00:00"
