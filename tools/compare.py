#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB oracle compare.

Usage: python3 tools/compare.py <sfDir> <verifyOutDir> [query ...]

Reads each <verifyOutDir>/<name> parquet (Spark result), runs the matching
oracle SQL from oracle_sql.json in DuckDB over the same parquet tables,
sorts columns by name + rows by all columns, and diffs cell-by-cell.
Queries are compared in a pool of os.cpu_count() worker processes, each
with its own DuckDB connection; results print in name order.
"""
import sys, json, glob, math, multiprocessing, os

import duckdb
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def normalize(v):
    if v is None:
        return None
    if isinstance(v, float):
        return ("f", v)
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, int):
        return ("i", int(v))
    if isinstance(v, (list, tuple)):
        return tuple(normalize(x) for x in v)
    try:
        import numpy as np
        if isinstance(v, np.floating):
            return ("f", float(v))
        if isinstance(v, np.integer):
            return ("i", int(v))
        if isinstance(v, np.bool_):
            return ("b", bool(v))
        if isinstance(v, np.ndarray):
            return tuple(normalize(x) for x in v.tolist())
    except ImportError:
        pass
    import decimal, datetime
    if isinstance(v, decimal.Decimal):
        return ("f", float(v))
    if isinstance(v, datetime.datetime):
        return ("t", v.isoformat())
    if isinstance(v, datetime.date):
        return ("t", v.isoformat())
    return ("s", str(v))


def table_rows(tbl):
    cols = sorted(tbl.column_names)
    data = [tbl.column(c).to_pylist() for c in cols]
    rows = [tuple(normalize(data[j][i]) for j in range(len(cols)))
            for i in range(tbl.num_rows)]
    return cols, sorted(rows, key=repr)


_con = None


def open_views(sfdir):
    """Pool initializer: each worker opens its own DuckDB connection."""
    global _con
    _con = duckdb.connect()
    for t in TABLES:
        _con.execute(
            f"create view {t} as select * from read_parquet('{sfdir}/{t}.parquet')")


def compare_one(job):
    """Diff one query's Spark output against its oracle; returns the lines
    to print and whether the query failed."""
    outdir, name, sql = job
    out = []
    try:
        files = sorted(glob.glob(f"{outdir}/{name}/*.parquet"))
        if not files:
            out.append(f"FAIL {name}: no spark output")
            return out, True
        stbl = pq.read_table(files[0])
        scols, srows = table_rows(stbl)
        dtbl = _con.sql(sql).arrow()
        dcols, drows = table_rows(dtbl)
        if scols != dcols:
            out.append(f"FAIL {name}: cols spark={scols} duck={dcols}")
            return out, True
        if len(srows) != len(drows):
            out.append(f"FAIL {name}: rows spark={len(srows)} duck={len(drows)}")
            return out, True
        bad = 0
        maxfloatdiff = 0.0
        for i, (a, b) in enumerate(zip(srows, drows)):
            if a != b:
                # float tolerance report
                diffs = []
                for j, (x, y) in enumerate(zip(a, b)):
                    if x != y:
                        if (isinstance(x, tuple) and isinstance(y, tuple)
                                and x and y and x[0] == "f" and y[0] == "f"
                                and x[1] is not None and y[1] is not None):
                            d = abs(x[1] - y[1])
                            maxfloatdiff = max(maxfloatdiff, d)
                        diffs.append((scols[j], x, y))
                if bad < 3:
                    out.append(f"  diff {name} row {i}: {diffs}")
                bad += 1
        if bad:
            out.append(f"FAIL {name}: {bad}/{len(srows)} rows differ"
                       f" (max float diff {maxfloatdiff:.3e})")
            return out, True
        out.append(f"OK   {name} ({len(srows)} rows)")
        return out, False
    except Exception as e:
        out.append(f"ERROR {name}: {type(e).__name__}: {e}")
        return out, True


def main():
    sfdir, outdir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    jobs = [(outdir, name, oracle[name]) for name in sorted(oracle)
            if not only or name in only]
    nfail = 0
    # one DuckDB connection per worker; imap keeps the name order
    with multiprocessing.Pool(os.cpu_count(), open_views, (sfdir,)) as pool:
        for lines, failed in pool.imap(compare_one, jobs):
            for line in lines:
                print(line, flush=True)
            nfail += failed
    print(f"== {nfail} failures / {len(oracle)} oracled queries ==")
    sys.exit(1 if nfail else 0)


if __name__ == "__main__":
    main()
