"""tryParse casts (reference §2.5, DslRecordMapping.java:212-244).

Semantics: unparseable input yields *absent* (null), never an error —
``try_cast`` under Spark 4's default ANSI mode (a plain ``cast`` would
throw on malformed input).

- ``parse x to bool`` is ``Boolean.parseBoolean`` — true iff the string
  case-insensitively equals "true". Spark's cast('boolean') also
  accepts 1/0/t/f/y/n/yes/no and must NOT be used.
- int32/int64: Java ``Integer/Long.parseLong`` reject decimal points;
  a regex guard pins that down (try_cast alone accepts "3.0" forms in
  some versions).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_INT_RE = "^[+-]?\\d+$"


def try_parse_int32(col: Column) -> Column:
    v = F.when(col.rlike(_INT_RE), col.try_cast("long"))
    return F.when(v.between(-(2**31), 2**31 - 1), v).try_cast("int")


def try_parse_int64(col: Column) -> Column:
    return F.when(col.rlike(_INT_RE), col.try_cast("long"))


def try_parse_fp64(col: Column) -> Column:
    return col.try_cast("double")


def try_parse_bool(col: Column) -> Column:
    """``Boolean.parseBoolean``: case-insensitive equality with "true";
    any other non-null input is false; null stays null (absent)."""
    return F.when(col.isNotNull(), F.lower(col) == "true")
