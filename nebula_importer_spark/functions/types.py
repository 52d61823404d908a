"""Type conversion: string value → typed Column.

Re-expresses the reference's rendering-rule type system
(pkg/picker/converter_type.go:58-121, pkg/spec/v3/value.go:10-42) as Spark
casts. The reference renders strings into nGQL literals; we cast into real
Spark types — NULL becomes a true SQL null instead of the literal ``NULL``
(pkg/spec/v3/value.go:8).

All converters run on Columns of StringType (the pick domain is row-of-strings,
reference pkg/spec/base/record.go:3-6) and are pure built-in expressions —
whole-stage-codegen'd, zero Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Unsigned integer literal detection, decimal or hex — drives the TIMESTAMP
# dual mode and INT hex support (reference pkg/utils/string.go:5-48).
UNSIGNED_INT_RE = r"^(0[xX][0-9a-fA-F]+|[0-9]+)$"
HEX_RE = r"^[+-]?0[xX][0-9a-fA-F]+$"
# TIME literal (no TIME type in Spark: validated, kept as canonical string).
TIME_RE = r"^\d{1,2}:\d{1,2}:\d{1,2}(\.\d+)?$"
# WKT shape prefixes for GEOGRAPHY validation (reference wraps WKT in
# ST_GeogFromText, converter_type.go:91-106; validation is server-side there,
# scan-side here).
_WKT_SHAPES = {
    "GEOGRAPHY": r"(?i)^\s*(point|linestring|polygon)\s*\(",
    "GEOGRAPHY(POINT)": r"(?i)^\s*point\s*\(",
    "GEOGRAPHY(LINESTRING)": r"(?i)^\s*linestring\s*\(",
    "GEOGRAPHY(POLYGON)": r"(?i)^\s*polygon\s*\(",
}


def _int_expr(c: Column) -> Column:
    # Hex literals parse via conv(); plain decimals via cast. Bad input → null
    # (ANSI off), which the rejects pass surfaces.
    digits = F.conv(F.regexp_replace(c, r"(?i)^[+-]?0x", ""), 16, 10).cast("long")
    sign = F.when(c.startswith("-"), F.lit(-1)).otherwise(F.lit(1)).cast("long")
    return F.when(c.rlike(HEX_RE), sign * digits).otherwise(c.cast("long"))


def _timestamp_expr(c: Column) -> Column:
    # Dual mode (reference converter_type.go:82-90): pure-integer string is a
    # unix epoch; anything else is a datetime literal.
    epoch = F.timestamp_seconds(_int_expr(c))
    return F.when(c.rlike(UNSIGNED_INT_RE), epoch).otherwise(c.cast("timestamp"))


def _geography_expr(c: Column, decl: str) -> Column:
    return F.when(c.rlike(_WKT_SHAPES[decl]), F.trim(c)).otherwise(F.lit(None).cast("string"))


def convert_type(c: Column, value_type: str) -> Column:
    """Convert a string Column to the declared prop type (§1.3 map)."""
    t = value_type.upper()
    if t == "BOOL":
        return c.cast("boolean")
    if t == "INT":
        return _int_expr(c)
    if t == "FLOAT":
        return c.cast("float")
    if t == "DOUBLE":
        return c.cast("double")
    if t == "STRING":
        return c.cast("string")
    if t == "DATE":
        return c.cast("date")
    if t == "TIME":
        # Spark has no TIME type: validate + canonicalize, keep string.
        return F.when(c.rlike(TIME_RE), c).otherwise(F.lit(None).cast("string"))
    if t == "DATETIME":
        return c.cast("timestamp_ntz")
    if t == "TIMESTAMP":
        return _timestamp_expr(c)
    if t in _WKT_SHAPES:
        return _geography_expr(c, t)
    raise ValueError(f"unsupported type {value_type!r}")

