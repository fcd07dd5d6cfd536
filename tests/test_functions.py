from __future__ import annotations

from spark_etl_framework_spark.functions.binary import (
    _binary_split,
    _com3_to_double,
    _com3_to_int,
    register_binary_functions,
)


def test_binary_split_plain():
    assert _binary_split(b"a|b||c", b"|") == [b"a", b"b", b"", b"c"]
    assert _binary_split(b"abc", b"|") == [b"abc"]


def test_com3_decode():
    # 12345 positive: nibbles 1 2 3 4 5 C
    assert _com3_to_int(bytes([0x12, 0x34, 0x5C])) == 12345
    # negative sign nibble D
    assert _com3_to_int(bytes([0x12, 0x34, 0x5D])) == -12345
    # 0xB is the other standard negative encoding; the reference treats every
    # nibble except 0xC as negative (Decoder.scala:43-57) — so do we
    assert _com3_to_int(bytes([0x12, 0x34, 0x5B])) == -12345
    assert _com3_to_double(bytes([0x12, 0x34, 0x5B]), 2) == -123.45
    assert _com3_to_double(bytes([0x12, 0x34, 0x5C]), 2) == 123.45


def test_sql_registration(spark):
    register_binary_functions(spark, prefix="u_")
    row = spark.sql(
        "select u_com3_to_int(X'12345C') as i, u_bytes_to_hex(X'0A0B') as h, "
        "u_bytes_to_string(X'68656C6C6F', 'utf-8') as s"
    ).collect()[0]
    assert row["i"] == 12345 and row["h"] == "0a0b" and row["s"] == "hello"


def test_registration_reuses_jvm_functions_across_sessions(spark):
    """A pipeline job registers the system UDFs in a fresh session; the JVM
    functions are built once and shared, and work in every session."""
    from spark_etl_framework_spark.functions import binary

    register_binary_functions(spark)
    built = dict(binary._judfs[spark.sparkContext])
    other = spark.newSession()
    register_binary_functions(other)
    now = binary._judfs[spark.sparkContext]
    assert now.keys() == built.keys() and all(now[k] is built[k] for k in built)
    row = other.sql(
        "select com3_to_int(X'12345D') as i, bytes_to_hex(X'0A0B') as h, "
        "binary_split(X'610062', X'00') as parts"
    ).collect()[0]
    assert row["i"] == -12345 and row["h"] == "0a0b" and row["parts"] == [b"a", b"b"]
