"""Binary/COMP-3 column functions (reference: etl/functions/{BinarySplitter,
Decoder}.scala).

``bytes_to_hex`` / ``bytes_to_string`` map to Spark built-ins (JVM-side);
``binary_split`` and the COMP-3 packed-decimal decoders are genuine Python
UDFs — they exist for mainframe-style byte records, which are small and
row-oriented by nature, so the UDF cost is acceptable and confined.
"""

from __future__ import annotations

import weakref

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.udf import UserDefinedFunction


def _binary_split(data: bytes | None, delim: bytes | None) -> list[bytes] | None:
    """Split a byte array on a byte-sequence delimiter
    (reference: etl/functions/BinarySplitter.scala:14-37)."""
    if data is None or not delim:
        return None
    out, start = [], 0
    data = bytes(data)
    delim = bytes(delim)
    while True:
        i = data.find(delim, start)
        if i < 0:
            out.append(data[start:])
            return out
        out.append(data[start:i])
        start = i + len(delim)


def _com3_digits(data: bytes) -> tuple[int, int]:
    """Packed-decimal nibbles → (unsigned value, sign). Sign nibble: only
    0xC is positive, everything else (0xD, 0xB, ...) negative — matching the
    reference exactly (etl/functions/Decoder.scala:43-57 `if last == 'c' then
    1 else -1`; standard packed decimal also encodes negative as 0xB)."""
    value = 0
    data = bytes(data)
    for i, byte in enumerate(data):
        hi, lo = byte >> 4, byte & 0x0F
        value = value * 10 + hi
        if i == len(data) - 1:
            sign = 1 if lo == 0x0C else -1
            return value, sign
        value = value * 10 + lo
    return 0, 1


def _com3_to_double(data: bytes | None, scale: int | None) -> float | None:
    if data is None:
        return None
    v, sign = _com3_digits(data)
    return sign * v / (10 ** (scale or 0))


def _com3_to_int(data: bytes | None) -> int | None:
    if data is None:
        return None
    v, sign = _com3_digits(data)
    return sign * v


_judfs: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _register(spark: SparkSession, name: str, fn, return_type) -> None:
    """``spark.udf.register`` that pickles ``fn`` once per SparkContext (kept
    in ``_judfs`` by name), not once per pipeline job."""
    judfs = _judfs.setdefault(spark.sparkContext, {})
    if name not in judfs:
        judfs[name] = UserDefinedFunction(fn, return_type, name)._judf
    spark._jsparkSession.udf().registerPython(name, judfs[name])


def register_binary_functions(spark: SparkSession, prefix: str = "") -> None:
    """Register the reference's system UDFs under an optional name prefix
    (reference: etl/common/UdfRegister.scala:24-37)."""
    _register(spark, f"{prefix}binary_split", _binary_split, T.ArrayType(T.BinaryType()))
    _register(spark, f"{prefix}com3_to_double", _com3_to_double, T.DoubleType())
    _register(spark, f"{prefix}com3_to_int", _com3_to_int, T.LongType())
    # built-in-backed: register as SQL-callable names for parity
    _register(
        spark, f"{prefix}bytes_to_string",
        lambda b, charset: bytes(b).decode(charset or "utf-8", errors="replace")
        if b is not None
        else None,
        T.StringType(),
    )
    _register(
        spark, f"{prefix}bytes_to_hex",
        lambda b, _charset=None: bytes(b).hex() if b is not None else None,
        T.StringType(),
    )


def bytes_to_hex_col(col):
    """Column-level built-in path: lowercase hex of a binary column."""
    return F.lower(F.hex(col))


def bytes_to_string_col(col, charset: str = "utf-8"):
    """Column-level built-in path: decode binary with charset."""
    return F.decode(col, charset)
