#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB oracle compare.

Usage: python3 tools/check.py <sfDir> <verifyOutDir>
Reads each <verifyOutDir>/<name>/ parquet (written by graft.Verify) and
compares against the oracle SQL in <verifyOutDir>/oracle_sql.json run
over <sfDir>'s tables. Sorts columns by name, then rows, then compares.

dtype-FAITHFUL on purpose: values come back via fetchall() as native
Python objects (DECIMAL -> decimal.Decimal, DOUBLE -> float, ...) and
are compared on their str() serialization. A Spark DECIMAL(27,6) column
vs a DuckDB DOUBLE oracle column then shows up as '3.600000' vs '3.6'
and FAILS -- the same divergence the driver's hash compare sees. The
previous pandas fetchdf() path collapsed DECIMAL to float64 before
comparing, which silently erased exactly that class of failure
(how q1_sql shipped red in round 3).
"""
import json, sys, glob, os
import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def fetch(con, sql):
    """Run sql, return (sorted column names, rows re-ordered to those
    columns, each value serialized with str() on its NATIVE type)."""
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(str(r[i]) for i in order) for r in cur.fetchall()]
    rows.sort()
    return sorted(cols), rows


def main(sfdir, outdir):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sfdir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    # every oracle key is checked, output or not: a query that threw
    # while graft.Verify built it wrote no directory, and must fail
    dirs = [os.path.basename(d) for d in glob.glob(f"{outdir}/*") if os.path.isdir(d)]
    names = sorted(set(dirs) | set(oracle))
    n_pass = n_fail = n_rowsonly = 0
    for name in names:
        files = glob.glob(f"{outdir}/{name}/*.parquet")
        if not files:
            print(f"FAIL  {name}: no spark output"); n_fail += 1; continue
        gc, g = fetch(con, f"SELECT * FROM read_parquet({files!r})")
        if name not in oracle:
            print(f"rows  {name}: rows-only ({len(g)} rows)"); n_rowsonly += 1; continue
        try:
            ec, e = fetch(con, oracle[name])
        except Exception as ex:
            print(f"FAIL  {name}: oracle SQL error: {ex}"); n_fail += 1; continue
        if gc != ec:
            print(f"FAIL  {name}: columns differ spark={gc} oracle={ec}"); n_fail += 1; continue
        if len(g) != len(e):
            print(f"FAIL  {name}: rowcount spark={len(g)} oracle={len(e)}"); n_fail += 1; continue
        if g == e:
            print(f"PASS  {name} ({len(g)} rows)"); n_pass += 1
        else:
            bad = [i for i, (a, b) in enumerate(zip(g, e)) if a != b]
            print(f"FAIL  {name}: {len(bad)}/{len(g)} rows differ; first:")
            for i in bad[:3]:
                print(f"      spark : {dict(zip(gc, g[i]))}")
                print(f"      oracle: {dict(zip(gc, e[i]))}")
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
