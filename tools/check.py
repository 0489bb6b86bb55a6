#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate: run Verify's parquet
dumps against DuckDB executing each gate's oracle SQL (SparkEntry.oracleSql,
which Verify dumps as oracle_sql.json) over the same fixture tables, and
compare strictly (columns sorted by name, rows sorted, exact cell
equality). Usage: tools/check.py <sfDir> <verifyOutDir> [query ...]
"""
import sys, os, json, glob, decimal, math
import duckdb
import pyarrow.parquet as pq

TABLES = ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]

def canon_cell(v):
    if v is None:
        return ("null",)
    if isinstance(v, bool):
        return ("bool", v)
    if isinstance(v, decimal.Decimal):
        return ("num", str(v.normalize()))
    if isinstance(v, float):
        if math.isnan(v):
            return ("nan",)
        # integral floats == ints for cross-type compare
        return ("float", repr(v))
    if isinstance(v, int):
        return ("int", v)
    if isinstance(v, (list, tuple)):
        return ("list", tuple(canon_cell(x) for x in v))
    if isinstance(v, dict):
        return ("map", tuple(sorted((k, canon_cell(x)) for k, x in v.items())))
    return ("str", str(v))

def canon_table(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(canon_cell(r[i]) for i in order) for r in rows]
    out.sort()
    return [cols[i] for i in order], out

def main():
    sfdir, outdir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sfdir}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    n_pass = n_fail = 0
    results = {}
    for name in sorted(oracle):
        if only and name not in only:
            continue
        sql = oracle[name]
        pdir = f"{outdir}/{name}"
        if not glob.glob(f"{pdir}/*.parquet"):
            results[name] = "fail: no spark output"
            print(f"FAIL {name}: no spark output at {pdir}")
            n_fail += 1
            continue
        try:
            tbl = pq.read_table(pdir)
            s_cols = tbl.column_names
            s_rows = [tuple(r[c] for c in s_cols) for r in tbl.to_pylist()]
        except Exception as e:
            results[name] = f"fail: cannot read spark output: {e}"
            print(f"FAIL {name}: cannot read spark output: {e}")
            n_fail += 1
            continue
        try:
            res = con.sql(sql)
            o_cols = list(res.columns)
            o_rows = res.fetchall()
        except Exception as e:
            results[name] = f"fail: oracle SQL error: {e}"
            print(f"FAIL {name}: oracle SQL error: {e}")
            n_fail += 1
            continue
        sc, sr = canon_table(s_cols, s_rows)
        oc, orows = canon_table(o_cols, o_rows)
        if sc != oc:
            results[name] = "fail: schema mismatch"
            print(f"FAIL {name}: schema mismatch spark={sc} oracle={oc}")
            n_fail += 1
            continue
        if len(sr) != len(orows):
            results[name] = f"fail: rowcount {len(sr)} vs {len(orows)}"
            print(f"FAIL {name}: rowcount spark={len(sr)} oracle={len(orows)}")
            n_fail += 1
            continue
        bad = [(a, b) for a, b in zip(sr, orows) if a != b]
        if bad:
            results[name] = f"fail: {len(bad)}/{len(sr)} rows differ"
            print(f"FAIL {name}: {len(bad)}/{len(sr)} rows differ; first: spark={bad[0][0]} oracle={bad[0][1]}")
            n_fail += 1
            continue
        results[name] = f"pass ({len(sr)} rows)"
        print(f"PASS {name} ({len(sr)} rows)")
        n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    jout = os.environ.get("CHECK_JSON_OUT")
    if jout:
        json.dump({"sf_dir": sfdir, "n_pass": n_pass, "n_fail": n_fail,
                   "queries": results}, open(jout, "w"), indent=0)
    sys.exit(1 if n_fail else 0)

main()
