"""DuckDB oracle comparison for the query suite: each oracle query's
Spark output (parquet written by the harness) must equal its oracle SQL
run by DuckDB over the same input tables. Rows and columns are compared
order-independently, doubles rounded to 9 digits (the catalog's oracle
contract)."""

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = round(v, 9)
                if v == 0.0:
                    v = 0.0
            vals.append(str(v))
        out.append("\x01".join(vals))
    out.sort()
    return out


def compare(tables_dir, out_dir, oracles):
    """Returns {query: (ok, detail)}."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{tables_dir}/{t}.parquet')")
    res = {}
    for name, sql in sorted(oracles.items()):
        try:
            srel = con.sql(f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')")
            scols = [c.lower() for c in srel.columns]
            orel = con.sql(sql)
            ocols = [c.lower() for c in orel.columns]
            if sorted(scols) != sorted(ocols):
                res[name] = (False, f"columns {sorted(scols)} vs {sorted(ocols)}")
                continue
            a, b = _canon(srel.fetchall(), scols), _canon(orel.fetchall(), ocols)
            if a != b:
                diff = next((x, y) for x, y in zip(a + [""], b + [""]) if x != y)
                res[name] = (False, f"{len(a)} vs {len(b)} rows; first difference "
                                    f"{diff[0][:120]!r} vs {diff[1][:120]!r}")
            else:
                res[name] = (True, f"{len(a)} rows")
        except Exception as e:  # a query the oracle cannot run fails its check
            res[name] = (False, f"{type(e).__name__}: {e}")
    return res
