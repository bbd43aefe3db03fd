"""Standing strict-oracle sweep over EVICTED board rows.

The round driver hash-checks only the first 50 query names in sort
order; window rotations (README "board window" section) move flagship
queries in and necessarily evict others. An evicted query loses
external per-round checking — this sweep is the compensating control
(ADVICE r10): every query that was EVER on a driver board but now
sorts outside the checked prefix is strict-oracle-verified here, at
sf0.001, on every test run.

The evicted set is DERIVED (historical CORRECTNESS_r*.json boards,
mapped through the registry's alias table to canonical names), so a
future rotation extends this sweep automatically — no list to forget
to update. A historical name that no longer resolves fails loudly:
renames must register their old name in ``aliases=``.
"""

from __future__ import annotations

import glob
import importlib.util
import json
import os

import duckdb
import pytest

from divolte_collector_spark.queries import alias_map, all_queries

SF_DIR = "/root/testdata/sf0.001"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _check_oracle():
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _evicted_names() -> list[str]:
    am = alias_map()
    qs = sorted(all_queries())
    window = set(qs[:50])
    ever: set[str] = set()
    for f in sorted(glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json"))):
        ever |= set(json.load(open(f)).keys())
    canon = {am.get(n, n) for n in ever}
    unknown = canon - set(qs)
    assert not unknown, (
        f"historical board names with no registry entry or alias: "
        f"{sorted(unknown)} — register the old name in aliases=()"
    )
    return sorted(canon - window)


def test_every_historical_board_name_resolves():
    # the derivation itself asserts resolution; run it standalone so a
    # missing alias fails fast even if the sweep below is filtered out
    names = _evicted_names()
    assert len(names) >= 36  # monotone: rotations only ever add


@pytest.mark.parametrize("name", _evicted_names())
def test_evicted_board_row_still_strict_green(spark, name):
    """Exact-hash parity vs DuckDB (the driver's own compare,
    strict mode) for one formerly-board-checked query."""
    co = _check_oracle()
    rq = all_queries()[name]
    sdf = rq.fn(spark, SF_DIR)
    scols, srows = sdf.columns, sdf.collect()
    spark.catalog.clearCache()
    if rq.oracle is None:
        # rows-only gate (matches the driver's weaker check)
        assert srows is not None
        return
    con = duckdb.connect()
    try:
        for t in _TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
            )
        res = con.execute(rq.oracle)
        dcols = [d[0] for d in res.description]
        drows = res.fetchall()
        # type-family audit (the round-12 gini blind spot: fetchall
        # folds HUGEINT to int, the driver's type-aware hash does not)
        type_diffs = co.audit_types(con, rq.oracle, sdf.dtypes)
    finally:
        con.close()
    assert sorted(scols) == sorted(dcols), name
    assert len(srows) == len(drows), name
    assert not type_diffs, f"{name}: type mismatch {type_diffs}"
    s_ms = co.norm_rows(scols, [tuple(r) for r in srows], strict=True)
    d_ms = co.norm_rows(dcols, drows, strict=True)
    assert s_ms == d_ms, f"{name}: value mismatch"


# --- alias-table invariants --------------------------------------------------


def test_alias_table_invariants():
    """Aliases never collide with canonical names, never chain, and
    never leak into all_queries() (they would reshuffle the driver's
    sorted 50-name window and double-check queries under two names)."""
    from divolte_collector_spark.queries import get_query

    qs = all_queries()
    am = alias_map()
    assert not set(am) & set(qs)            # no alias shadows a name
    for a, canon in am.items():
        assert canon in qs, (a, canon)      # every alias resolves
        assert canon not in am              # no alias chains
        assert get_query(a) is qs[canon]
    # per-query aliases round-trip through the map
    for name, rq in qs.items():
        for a in rq.aliases:
            assert am[a] == name
