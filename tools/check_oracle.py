"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin
on DuckDB at the given SF, then compares row count, column names, and
an order-insensitive value multiset.

STRICT comparison (exact float repr, DECIMAL kept distinct from
DOUBLE — byte-faithful to the round driver's value hash) is the
DEFAULT; ``--loose`` restores the old 9-significant-digit float
normalization, which HID the three-round geoip DECIMAL drift and the
q9 half-cent summation flip — use it only for diagnosis.

Usage: python tools/check_oracle.py [--window] [--loose]
           [--skip-oracle-infeasible] [--volume-100x]
           [--oracle-timeout=SECS] [sf_dir] [query ...]
(--window = only the driver-checked first 50 sorted names;
 --skip-oracle-infeasible = skip the named rows whose DUCKDB oracle —
 not the engine — is computationally infeasible at scaled volumes;
 --volume-100x = additionally skip ORACLE_INFEASIBLE_100X, the rows
 feasible at 10x but not at the 100x volume;
 --oracle-timeout=SECS = interrupt() a DuckDB oracle past the budget
 and record the row as a named failure instead of hanging the sweep)
"""

from __future__ import annotations

import math
import os
import re
import sys
import time
from collections import Counter

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

# Rows whose ORACLE (the DuckDB twin, not the Spark engine) is
# deliberately super-linear and stops being runnable on scaled
# volumes (tools/scale_data.py 10x/100x). The engine side of each row
# stays sub-quadratic and is separately measured on the scale curve;
# the EXACT-parity gate for these rows is the driver SF family
# (sf0.001/0.01/0.1), where the quadratic oracle is affordable.
# --skip-oracle-infeasible names them explicitly so a scaled sweep is
# "all 184 minus THIS list", never a silent truncation.
ORACLE_INFEASIBLE = {
    "vector_near_dup_exact": (
        "the gated query IS the deliberately quadratic exact-recall "
        "baseline; its oracle is |vectors|^2 list-cosines in DuckDB "
        "(~4e10 multiply-adds at 10x) - the LSH sibling "
        "embedding_near_dup_lsh covers the family at scale"
    ),
    "ann_nnd_convergence": (
        "the oracle SIMULATES 4 NN-Descent rounds as chained, "
        "multiply-referenced CTEs; DuckDB materializes every round's "
        "O(n*(2K)^2) scored candidate relation (measured: >55 GB "
        "resident, >25 min, not finished at 10x before being stopped) "
        "- the engine side stays on the scale curve, exact parity "
        "gated at the driver SFs"
    ),
    "vector_nn_descent_graph": (
        "same chained graph-round CTE oracle as ann_nnd_convergence "
        "(2 rounds) - same materialized-candidate blowup in DuckDB"
    ),
    "vector_nn_descent_recall": (
        "same chained graph-round CTE oracle as ann_nnd_convergence "
        "plus the probes-x-corpus exact baseline - same blowup"
    ),
}

# Per-SF extension (VERDICT r11 item 3): rows whose oracle is fine at
# 10x but crosses into infeasibility at the 100x volume (~sf10) — the
# threshold is the VOLUME, so these skip only under --volume-100x
# (always combined with --skip-oracle-infeasible). Populated from
# measurement: each entry names what was observed when the 100x sweep
# first attempted it. The engine side still runs (rows-only).
ORACLE_INFEASIBLE_100X: dict[str, str] = {
    "embedding_near_dup_lsh": (
        "DuckDB's oracle is the all-bands self-join + list-cosine "
        "verify over 200k 64-dim vectors; at 307 s already at 10x it "
        "projects to hours at 100x (super-linear candidate growth) - "
        "engine parity for the family is gated by the 10x sweep and "
        "the driver SFs"
    ),
    "streaming_upsert_moved_keys": (
        "the oracle replays the full upsert history as one window "
        "over all versions (274.5 s at 10x, dominated by DuckDB's "
        "single-node sort of the 100x-replicated version history) - "
        "10x parity recorded in SWEEP_10x_r11"
    ),
}


def norm_cell(v, strict=False):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # strict = byte-faithful to the driver's hash: exact repr
        # (which distinguishes -0.0 from 0.0 — the signed-zero drift
        # that hid the 4-round geoip failure), no significant-digit
        # rounding (a Spark double and a DuckDB double must be the
        # SAME double). Loose mode still folds -0.0 into 0.0.
        if strict:
            return repr(v)
        if v == 0:
            v = 0.0
        return f"{v:.9g}"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(norm_cell(x, strict) for x in v)
    if isinstance(v, bytes):
        return v.hex()
    import decimal

    if isinstance(v, decimal.Decimal):
        # strict: a DECIMAL result is NOT a double — Spark returns float64
        # while duckdb hands back decimal.Decimal with its own scale
        # (Decimal('-4.50') vs -4.5), which no exact hash can reconcile.
        # Keep the type visible so the oracle gets an explicit CAST.
        return ("dec", str(v)) if strict else f"{float(v):.9g}"
    return v


_INT_SPARK = {"tinyint", "smallint", "int", "bigint"}


def spark_type_family(dt: str):
    """Collapse a Spark dtype string to the family the driver's value
    hash can distinguish. Int WIDTH is not distinguishable (int32 and
    int64 both canonicalize to a plain integer), but int-vs-decimal
    IS: DuckDB's fetchall() folds HUGEINT into a python int — hiding
    it locally — while the driver's canonicalization is type-aware
    (via Arrow, HUGEINT is decimal128(38,0)); that exact blind spot
    shipped the round-12 agg_user_activity_gini hash failure
    (`sum(c) AS n_events` un-CAST in the oracle, green here, red at
    the driver). Decimal SCALE is kept: Decimal('4.50') != '4.5'."""
    dt = dt.lower()
    if dt in _INT_SPARK:
        return "int"
    m = re.match(r"decimal\((\d+),(\d+)\)", dt)
    if m:
        return ("dec", int(m.group(2)))
    if dt.startswith("array"):
        return "list"
    if dt.startswith("map"):
        return "map"
    if dt.startswith("struct"):
        return "struct"
    if dt.startswith("timestamp"):
        return "timestamp"
    return dt


def arrow_type_family(t):
    """DuckDB-oracle side of the same collapse (pyarrow type)."""
    s = str(t)
    if s.startswith(("int", "uint")):
        return "int"
    m = re.match(r"decimal\d+\((\d+), (\d+)\)", s)
    if m:
        return ("dec", int(m.group(2)))
    if s == "bool":
        return "boolean"
    if s.startswith("timestamp"):
        return "timestamp"
    if s.startswith("date"):
        return "date"
    if s.endswith("string"):
        return "string"
    if s.endswith("binary"):
        return "binary"
    if "list" in s.split("<")[0]:
        return "list"
    if s.startswith("map"):
        return "map"
    if s.startswith("struct"):
        return "struct"
    return s


def audit_types(con, sql, spark_dtypes):
    """Compare the oracle's LIMIT-0 Arrow schema against the Spark
    result schema, family-wise. Returns a list of mismatch strings
    (empty = ok). LIMIT 0 binds the query without executing it."""
    sch = con.execute(f"SELECT * FROM ({sql}) _q LIMIT 0").arrow().schema
    sdt = dict(spark_dtypes)
    diffs = []
    for f in sch:
        if f.name not in sdt:
            continue  # column-name check reports this separately
        sf, af = spark_type_family(sdt[f.name]), arrow_type_family(f.type)
        if sf != af:
            diffs.append(f"{f.name}: spark {sdt[f.name]} vs oracle {f.type}")
    return diffs


_NR_ROWS = None  # fork-shared input for the parallel normalizer


def _norm_chunk(args):
    lo, hi, order, strict = args
    return Counter(
        tuple(norm_cell(r[i], strict) for i in order)
        for r in _NR_ROWS[lo:hi]
    )


def norm_rows(cols, rows, strict=False):
    """Normalize a result set to a multiset of canonical tuples.

    Large results (the 10x/100x sweeps hash 10M-row relations) fan the
    normalization out over a fork pool — each worker applies the SAME
    ``norm_cell`` to a slice and the sub-Counters are summed, so the
    multiset is identical to the serial path (pinned by
    tests/test_oracle_replica.py); only the wall time changes
    (measured 32 s -> ~5 s per 10M-row side). The fork inherits the
    rows list copy-on-write; workers never touch the JVM gateway or
    the DuckDB connection.
    """
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    procs = min(8, os.cpu_count() or 1)
    if len(rows) < 200_000 or procs <= 1:
        return Counter(
            tuple(norm_cell(r[i], strict) for i in order) for r in rows
        )
    global _NR_ROWS
    _NR_ROWS = rows
    try:
        import multiprocessing as mp

        n = len(rows)
        chunk = (n + procs - 1) // procs
        with mp.get_context("fork").Pool(procs) as pool:
            parts = pool.map(
                _norm_chunk,
                [(i, min(i + chunk, n), order, strict)
                 for i in range(0, n, chunk)],
            )
    finally:
        _NR_ROWS = None
    total = parts[0]
    for p in parts[1:]:
        total.update(p)
    return total


def run_oracle_with_timeout(con, sql, timeout_s):
    """Execute the DuckDB oracle on a worker thread; interrupt() it
    past ``timeout_s`` (None = unbounded). Returns (cols, rows) or
    raises — a TimeoutError names the budget so a 100x sweep records
    WHY a row moved to ORACLE_INFEASIBLE_100X instead of hanging."""
    if not timeout_s:
        res = con.execute(sql)
        return [d[0] for d in res.description], res.fetchall()
    import threading

    holder = {}

    def work():
        try:
            res = con.execute(sql)
            holder["cols"] = [d[0] for d in res.description]
            holder["rows"] = res.fetchall()
        except Exception as ex:  # surfaced on the caller thread
            holder["err"] = ex

    t = threading.Thread(target=work, daemon=True)
    t.start()
    t.join(timeout_s)
    if t.is_alive():
        con.interrupt()
        t.join(60)
        raise TimeoutError(f"oracle exceeded --oracle-timeout={timeout_s}s")
    if "err" in holder:
        raise holder["err"]
    return holder["cols"], holder["rows"]


def main() -> int:
    flags = (
        "--window", "--strict", "--loose", "--skip-oracle-infeasible",
        "--volume-100x",
    )
    raw = sys.argv[1:]
    oracle_timeout = None
    for a in raw:
        if a.startswith("--oracle-timeout="):
            oracle_timeout = float(a.split("=", 1)[1])
    args = [
        a for a in raw
        if a not in flags and not a.startswith("--oracle-timeout=")
    ]
    window_only = "--window" in raw
    strict = "--loose" not in raw
    skip_infeasible = "--skip-oracle-infeasible" in raw
    infeasible = dict(ORACLE_INFEASIBLE)
    if "--volume-100x" in raw:
        infeasible.update(ORACLE_INFEASIBLE_100X)
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    import __spark_entry__ as e
    from divolte_collector_spark.session import get_spark

    if window_only:
        # the driver's checked prefix: first 50 names in sort order
        only = set(sorted(e.queries())[:50])

    spark = get_spark("oracle-check")
    con = duckdb.connect()
    # Scaled sweeps (10x/100x) can run two checker processes side by
    # side; DuckDB's default memory budget (~80% of RAM) assumes it
    # owns the box and the pair OOMs. An explicit cap makes DuckDB
    # spill to disk instead — affects speed only, never values.
    mem_cap = os.environ.get("DUCKDB_MEM_LIMIT")
    if mem_cap:
        con.execute(f"SET memory_limit='{mem_cap}'")
        con.execute("SET temp_directory='/tmp/duckspill'")
    threads_cap = os.environ.get("DUCKDB_THREADS")
    if threads_cap:
        # side-by-side sweep shards each default to every hw thread;
        # capping divides the box instead of thrashing it (speed only)
        con.execute(f"SET threads={int(threads_cap)}")
    for t in TABLES:
        # driver testdata ships single-file tables; Spark-written dirs
        # (e.g. tools/scale_data.py output) need a part-file glob —
        # supporting both lets the strict gate run on the scaled
        # curve volumes too
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    qs = e.queries()
    oracles = e.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if skip_infeasible and name in infeasible:
            # the ENGINE side still runs (rows-only, like a no-oracle
            # row) — only the DuckDB twin is skipped
            t0 = time.time()
            try:
                n = fn(spark, sf_dir).count()
                spark.catalog.clearCache()
            except Exception as ex:
                failures.append(name)
                print(f"FAIL  {name}: spark error: {ex}", flush=True)
                continue
            print(
                f"SKIP  {name}: {n} rows, oracle skipped as infeasible "
                f"at this volume ({infeasible[name]}) "
                f"[{time.time()-t0:.1f}s]",
                flush=True,
            )
            continue
        t0 = time.time()
        # the DuckDB oracle and the Spark computation are independent
        # until the compare — run the oracle on a worker thread while
        # Spark executes (the connection only ever serves ONE query at
        # a time: the next use, audit_types, happens after the join)
        fut = None
        if name in oracles:
            from concurrent.futures import ThreadPoolExecutor

            pool = ThreadPoolExecutor(1)
            fut = pool.submit(
                run_oracle_with_timeout, con, oracles[name], oracle_timeout
            )
            pool.shutdown(wait=False)
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = sdf.collect()
            # queries that persist() intermediates would otherwise
            # accumulate executor cache across the whole sweep
            spark.catalog.clearCache()
        except Exception as ex:
            failures.append(name)
            print(f"FAIL  {name}: spark error: {ex}", flush=True)
            if fut is not None:
                con.interrupt()
                try:
                    fut.result()
                except Exception:
                    pass
            continue
        if fut is None:
            print(f"ROWS  {name}: {len(srows)} rows (no oracle) [{time.time()-t0:.1f}s]", flush=True)
            del srows
            continue
        try:
            dcols, drows = fut.result()
        except Exception as ex:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {ex}", flush=True)
            continue
        ok_cols = sorted(scols) == sorted(dcols)
        ok_count = len(srows) == len(drows)
        s_ms = norm_rows(scols, [tuple(r) for r in srows], strict)
        d_ms = norm_rows(dcols, drows, strict)
        ok_vals = s_ms == d_ms
        type_diffs = []
        if strict:
            try:
                type_diffs = audit_types(con, oracles[name], sdf.dtypes)
            except Exception as ex:  # audit must not mask a value pass
                type_diffs = [f"audit error: {str(ex)[:120]}"]
        ok_types = not type_diffs
        status = (
            "OK  " if (ok_cols and ok_count and ok_vals and ok_types)
            else "FAIL"
        )
        if status == "FAIL":
            failures.append(name)
        print(
            f"{status}  {name}: rows {len(srows)}/{len(drows)}"
            f" cols={'ok' if ok_cols else f'{sorted(scols)} vs {sorted(dcols)}'}"
            f" vals={'ok' if ok_vals else 'MISMATCH'}"
            f"{'' if ok_types else ' types=' + '; '.join(type_diffs)}"
            f" [{time.time()-t0:.1f}s]",
            flush=True,
        )
        if not ok_vals and ok_cols and ok_count:
            diff_s = [k for k in s_ms if s_ms[k] != d_ms.get(k)][:3]
            diff_d = [k for k in d_ms if d_ms[k] != s_ms.get(k)][:3]
            print(f"      spark-only: {diff_s}")
            print(f"      duck-only : {diff_d}")
        # a long sweep would otherwise carry every row's result sets as
        # arena high-water: drop them eagerly (10M-row relations at the
        # scaled volumes are multiple GB per side)
        del srows, drows, s_ms, d_ms
        import gc

        gc.collect()
    print(f"\n{'ALL GREEN' if not failures else 'FAILURES: ' + ', '.join(failures)}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
