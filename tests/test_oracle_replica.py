"""Regression tests for the local oracle replica (tools/check_oracle.py)
and the signed-zero discipline of gated query outputs.

The round-4 driver failure class: Spark's JVM double arithmetic can
emit IEEE ``-0.0`` (e.g. ``0 * -2.25``) where DuckDB's decimal-then-
cast path emits ``+0.0``; the driver's exact value hash distinguishes
them, so the replica's strict mode must too (it silently folded
``-0.0 -> 0.0`` for four rounds), and no gated query should emit a
negative zero at all (``+ F.lit(0.0)`` normalizes it).
"""

from __future__ import annotations

import importlib.util
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, FloatType

from divolte_collector_spark.queries import all_queries

SF_DIR = "/root/testdata/sf0.001"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_check_oracle():
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_strict_norm_preserves_signed_zero():
    co = _load_check_oracle()
    # strict mode is byte-faithful to the driver hash: -0.0 != 0.0
    assert co.norm_cell(-0.0, strict=True) != co.norm_cell(0.0, strict=True)
    assert co.norm_cell(-0.0, strict=True) == "-0.0"
    # loose mode still folds the sign away (diagnostic convenience)
    assert co.norm_cell(-0.0, strict=False) == co.norm_cell(0.0, strict=False)
    # and strict repr stays exact for ordinary doubles
    assert co.norm_cell(0.1 + 0.2, strict=True) == repr(0.30000000000000004)


def test_no_gated_query_emits_negative_zero(spark):
    """Property (VERDICT r4 #9): no double/float cell of any gated
    query output is a negative zero. JVM ``Double.toString(-0.0)``
    is ``"-0.0"``, so casting to string detects the sign without
    ANSI-unsafe division, and the check aggregates executor-side
    without collecting result rows."""
    offenders = {}
    for name, rq in sorted(all_queries().items()):
        df = rq.fn(spark, SF_DIR)
        fcols = [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, (DoubleType, FloatType))
        ]
        if not fcols:
            continue
        aggs = [
            F.sum(
                F.when(
                    (F.col(c) == 0)
                    & F.col(c).cast("string").startswith("-"),
                    1,
                ).otherwise(0)
            ).alias(c)
            for c in fcols
        ]
        row = df.agg(*aggs).collect()[0]
        bad = [c for c in fcols if (row[c] or 0) > 0]
        if bad:
            offenders[name] = bad
        spark.catalog.clearCache()
    assert not offenders, f"negative-zero cells in: {offenders}"


# --- oracle output TYPE parity (the round-12 gini blind spot) ---------------
# The driver's value hash is type-aware: DuckDB HUGEINT (an un-CAST
# sum(BIGINT)) canonicalizes as decimal128(38,0), never equal to
# Spark's int64 — but duckdb's fetchall() folds HUGEINT into a python
# int, so the value-level replica called the row green while the
# driver failed it (agg_user_activity_gini, round 12). audit_types()
# closes the gap by comparing the oracle's LIMIT-0 Arrow schema
# against the Spark dtypes, family-wise.

_ORACLE_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def test_type_audit_catches_hugeint_oracle_columns():
    import duckdb

    co = _load_check_oracle()
    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE t AS SELECT CAST(1 AS BIGINT) AS c")
        # un-CAST sum(BIGINT) -> HUGEINT -> decimal128(38,0) via Arrow
        diffs = co.audit_types(
            con, "SELECT sum(c) AS s FROM t", [("s", "bigint")]
        )
        assert diffs and "decimal128(38, 0)" in diffs[0]
        # the CAST discipline passes
        assert co.audit_types(
            con, "SELECT CAST(sum(c) AS BIGINT) AS s FROM t",
            [("s", "bigint")],
        ) == []
        # int WIDTH is not distinguishable by the driver's value hash
        assert co.audit_types(
            con, "SELECT CAST(1 AS INTEGER) AS s FROM t", [("s", "bigint")]
        ) == []
        # but decimal SCALE is (Decimal('4.50') != Decimal('4.5'))
        assert co.audit_types(
            con, "SELECT CAST(1 AS DECIMAL(12,2)) AS s FROM t",
            [("s", "decimal(12,3)")],
        )
    finally:
        con.close()


def test_no_gated_oracle_returns_hugeint_columns():
    """Discipline pin: every oracle CASTs integral aggregates, so no
    oracle output column binds as HUGEINT/decimal128(38,0) — the one
    DuckDB type fetchall() silently folds into int. Binding is
    LIMIT 0: nothing executes."""
    import duckdb

    con = duckdb.connect()
    offenders = {}
    try:
        for t in _ORACLE_TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
            )
        for name, rq in sorted(all_queries().items()):
            if rq.oracle is None:
                continue
            sch = con.execute(
                f"SELECT * FROM ({rq.oracle}) _q LIMIT 0"
            ).arrow().schema
            bad = [
                f.name for f in sch if str(f.type) == "decimal128(38, 0)"
            ]
            if bad:
                offenders[name] = bad
    finally:
        con.close()
    assert not offenders, (
        f"HUGEINT oracle output columns (add CAST(... AS BIGINT), the "
        f"driver's type-aware hash will fail them): {offenders}"
    )


def test_gini_value_is_exact_integer_space_halfup(spark):
    """Pin agg_user_activity_gini's 6-decimal value to the exact
    HALF_UP rounding of the true rational (2S - T(n+1)) / (nT),
    computed in unbounded python ints — nothing float-space remains
    for a Spark/DuckDB round() implementation to disagree on."""
    import duckdb

    rq = all_queries()["agg_user_activity_gini"]
    row = rq.fn(spark, SF_DIR).collect()[0]
    spark.catalog.clearCache()
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM '{SF_DIR}/events.parquet'"
        )
        n, t, s = con.execute("""
            WITH per_user AS (
                SELECT user_id, CAST(count(*) AS BIGINT) AS c
                FROM events GROUP BY user_id
            ),
            ranked AS (
                SELECT c, CAST(row_number() OVER (ORDER BY c, user_id)
                               AS BIGINT) AS i
                FROM per_user
            )
            SELECT count(*), sum(c), sum(CAST(i AS HUGEINT) * c)
            FROM ranked
        """).fetchone()
    finally:
        con.close()
    n, t, s = int(n), int(t), int(s)
    a, b = 2 * s - t * (n + 1), n * t
    exact = ((2 * a * 1000000 + b) // (2 * b)) / 1e6
    assert row["gini"] == exact
    assert row["n_users"] == n and row["n_events"] == t


def test_parallel_norm_rows_matches_serial():
    """norm_rows fans 200k+ rows over a fork pool; the multiset must be
    identical to the serial path (same norm_cell, summed sub-Counters).
    Exercises the value kinds the sweeps actually carry: floats (incl.
    -0.0/NaN), ints, strings, None, Decimal, datetime, bytes, lists."""
    import datetime
    import decimal
    import sys

    # a real import (not _load_check_oracle): the fork pool resolves
    # _norm_chunk by module name, so the module must be in sys.modules
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check_oracle as co

    rows = []
    for i in range(210_000):
        rows.append((
            i % 997,
            -0.0 if i % 5 == 0 else i * 0.1,
            float("nan") if i % 1000 == 0 else 1.5,
            f"s{i % 313}",
            None if i % 7 == 0 else decimal.Decimal(i) / 100,
            datetime.datetime(2026, 1, 1 + i % 28),
            bytes([i % 251]),
            [i % 3, i % 5],
        ))
    cols = ["a", "b", "c", "d", "e", "f", "g", "h"]
    # force both paths: the parallel cut-in is 200_000 rows
    par = co.norm_rows(cols, rows, strict=True)
    seq = co.Counter(
        tuple(co.norm_cell(r[i], True)
              for i in sorted(range(len(cols)), key=lambda i: cols[i]))
        for r in rows
    )
    assert par == seq
