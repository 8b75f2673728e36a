"""DuckDB oracle compare for the query_mix validation pass.

Each query's Spark result (parquet under <out>/<name>/) must equal its
`SparkEntry.oracleSql` twin run by DuckDB over the same generated
tables. The compare is dtype-faithful, as in tools/check.py: values
come back as native Python objects and are compared on their str()
form, so a DECIMAL column against a DOUBLE oracle column fails.
"""
import glob
import json
import os

import duckdb

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def _fetch(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted(tuple(str(r[i]) for i in order) for r in cur.fetchall())
    return sorted(cols), rows


def compare(tables, out, skip=()):
    """Return one failure string per query whose result differs from
    its oracle. Queries named in `skip` (already failed) are left out."""
    failed_names = {s.split(":")[0] for s in skip}
    con = duckdb.connect()
    try:
        for t in TABLES:
            p = f"{tables}/{t}.parquet"
            if os.path.exists(p):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        with open(f"{out}/oracle_sql.json") as f:
            sqls = json.load(f)
        failures = []
        for name, sql in sorted(sqls.items()):
            if name in failed_names:
                continue
            files = glob.glob(f"{out}/{name}/*.parquet")
            if not files:
                failures.append(f"{name}: no Spark output")
                continue
            got_cols, got = _fetch(con, f"SELECT * FROM read_parquet({files!r})")
            try:
                want_cols, want = _fetch(con, sql)
            except duckdb.Error as e:
                failures.append(f"{name}: oracle SQL error: {e}")
                continue
            if got_cols != want_cols:
                failures.append(f"{name}: columns {got_cols} != oracle {want_cols}")
            elif got != want:
                bad = sum(a != b for a, b in zip(got, want)) + abs(len(got) - len(want))
                failures.append(f"{name}: {bad} of {len(want)} rows differ from the oracle")
        return failures
    finally:
        con.close()
