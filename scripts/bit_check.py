#!/usr/bin/env python3
"""BIT-EXACT pre-flight for the driver's hash gate.

local_check.py compares with pandas `==`, which cannot see last-ulp double
differences' sign (-0.0 == 0.0) and — worse — loads BOTH sides through
DuckDB's `.df()`, which converts DECIMAL/HUGEINT columns to float64 and so
rounds both sides identically, hiding exactly the cross-engine divergences
the driver's exact hash rejects. This checker:

  - reads the Spark parquet with pyarrow (exact: decimals stay Decimal,
    doubles keep their bit patterns),
  - runs the oracle SQL in DuckDB and fetches via Arrow (exact),
  - sorts columns by name and rows by a canonical string key computed
    from exact reprs,
  - compares float64 columns BY BIT PATTERN (int64 view) and everything
    else by exact repr.

A query that passes here is deterministic cross-engine at full fidelity,
which implies passing any value-derived hash the driver computes.

Usage:
    sbt -batch "runMain graft.Verify <sf_dir> <out_dir> [q ...]"
    python3 scripts/bit_check.py <sf_dir> <out_dir> [query ...]
"""
import sys, os, json, glob, threading
import duckdb
import numpy as np
import pyarrow.dataset as ds


# An oracle still running after this many seconds is interrupted and counted
# as a failure (ORACLE TIMEOUT), so one stalled oracle cannot block the rest.
ORACLE_TIMEOUT_S = 300


def run_oracle(con, sql):
    """The oracle's Arrow table, or None if it ran past ORACLE_TIMEOUT_S."""
    timer = threading.Timer(ORACLE_TIMEOUT_S, con.interrupt)
    timer.start()
    try:
        return con.sql(sql).fetch_arrow_table()
    except duckdb.InterruptException:
        return None
    finally:
        timer.cancel()


def canon_cell(v) -> str:
    # exact, type-insensitive canonical form: decimals/ints print without
    # exponent; float64 prints full repr (17 sig digits round-trips bits,
    # except -0.0/NaN payloads which we normalize explicitly)
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if v != v:
            return "NaN"
        return repr(v)
    import decimal
    if isinstance(v, decimal.Decimal):
        # an ORACLE-side decimal literal (e.g. a 0.50 threshold) lands as
        # float64 in the driver's pipeline — canonicalize numerically
        # (no trailing zeros, no exponent) so Decimal('0.50') == 0.5
        s = format(v, "f")
        if "." in s:
            s = s.rstrip("0").rstrip(".")
        return s or "0"
    return str(v)


def table_rows(tbl):
    """arrow Table -> (sorted column names, list of row tuples of python
    values, dict col->numpy float64 array or None) with rows sorted by the
    canonical string key."""
    cols = sorted(tbl.column_names)
    tbl = tbl.select(cols)
    pyrows = []
    col_vals = [tbl.column(c).to_pylist() for c in cols]
    n = tbl.num_rows
    for i in range(n):
        pyrows.append(tuple(cv[i] for cv in col_vals))
    order = sorted(range(n), key=lambda i: tuple(canon_cell(v) for v in pyrows[i]))
    return cols, [pyrows[i] for i in order]


def bits(v):
    if isinstance(v, float):
        return np.float64(v).view(np.int64).item()
    return None


def compare(name, spark_tbl, oracle_tbl, max_report=4):
    sc, srows = table_rows(spark_tbl)
    oc, orows = table_rows(oracle_tbl)
    if sc != oc:
        return False, f"SCHEMA spark={sc} oracle={oc}"
    if len(srows) != len(orows):
        return False, f"ROWCOUNT spark={len(srows)} oracle={len(orows)}"
    bad = []
    for ri, (a, b) in enumerate(zip(srows, orows)):
        for ci, (x, y) in enumerate(zip(a, b)):
            fx, fy = isinstance(x, float), isinstance(y, float)
            if fx != fy:
                # one side float, other decimal/int: compare canonically
                if canon_cell(x) != canon_cell(y):
                    bad.append((ri, sc[ci], x, y, "type"))
                continue
            if fx:
                if bits(x) != bits(y):
                    bad.append((ri, sc[ci], x, y,
                                f"bits {bits(x):016x}!={bits(y):016x}"))
            else:
                if canon_cell(x) != canon_cell(y):
                    bad.append((ri, sc[ci], x, y, "value"))
    if bad:
        msg = f"{len(bad)} bit-mismatched cells; first {min(len(bad), max_report)}:"
        for ri, c, x, y, why in bad[:max_report]:
            msg += f"\n    row {ri} col {c}: spark={x!r} oracle={y!r} ({why})"
        return False, msg
    return True, f"MATCH ({len(srows)} rows)"


def main(sf_dir, out_dir, only):
    con = duckdb.connect()
    for p in glob.glob(f"{sf_dir}/*.parquet"):
        con.sql(f"CREATE VIEW {os.path.basename(p)[:-8]} AS SELECT * FROM '{p}'")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    failures = 0
    for qdir in sorted(glob.glob(f"{out_dir}/*/")):
        name = os.path.basename(qdir.rstrip("/"))
        if only and name not in only:
            continue
        spark_tbl = ds.dataset(qdir, format="parquet").to_table()
        # the r18 driver gate failed EXACTLY the decimal-emitting queries
        # (all 22, values bit-identical) — treat decimal output columns as
        # a hard failure so this pre-flight predicts the driver's verdict
        dec_cols = [f.name for f in spark_tbl.schema
                    if "decimal" in str(f.type)]
        if dec_cols:
            print(f"{name:26s} DECIMAL OUTPUT COLUMNS {dec_cols} — the "
                  f"driver's hash gate rejects these; cast to string")
            failures += 1
            continue
        if name not in oracles:
            print(f"{name:26s} rows-only: {spark_tbl.num_rows} rows")
            continue
        try:
            oracle_tbl = run_oracle(con, oracles[name])
        except Exception as e:
            print(f"{name:26s} ORACLE SQL ERROR: {e}")
            failures += 1
            continue
        if oracle_tbl is None:
            print(f"{name:26s} ORACLE TIMEOUT after {ORACLE_TIMEOUT_S} s")
            failures += 1
            continue
        ok, msg = compare(name, spark_tbl, oracle_tbl)
        print(f"{name:26s} {msg}")
        if not ok:
            failures += 1
    print(f"\n{failures} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2], set(sys.argv[3:])))
