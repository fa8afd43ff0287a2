"""Correctness check of a run's op outputs, done outside the timed passes.

Ops with an oracle (`SparkEntry.oracleSql`) are compared with DuckDB
running that SQL over the same generated tables: same columns (by name),
same row count, and equal values in the oracle's ORDER BY order, exact for
integers and strings and bitwise for floats, as the repo's oracle check
does it. Ops without an oracle are written twice; both results must have
the same order-independent content hash.
"""
import duckdb

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def compare_with_oracle(con, out_path, sql):
    """Return None when the Spark output matches the oracle, else why not."""
    got = con.execute(f"SELECT * FROM read_parquet('{out_path}/*.parquet')").df()
    exp = con.execute(sql).df()
    got = got.reindex(sorted(got.columns), axis=1)
    exp = exp.reindex(sorted(exp.columns), axis=1)
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} vs {list(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} vs {len(exp)}"
    for c in got.columns:
        a, b = got[c], exp[c]
        try:
            eq = (a.values == b.values) | (a.isna().values & b.isna().values)
        except Exception:
            eq = a.astype(str).values == b.astype(str).values
        if not eq.all():
            i = int((~eq).argmax())
            return f"{c}[row {i}]: {a.iloc[i]!r} vs {b.iloc[i]!r} ({(~eq).sum()} diffs)"
    return None


def content_hash(con, out_path):
    """Row count and an order-independent hash of every row."""
    return con.execute(
        f"SELECT count(*), sum(hash(t)) FROM read_parquet('{out_path}/*.parquet') t"
    ).fetchone()


def check(data_dir, checks):
    """`checks`: [{name, paths, oracle_sql}] from the run's result. Returns
    (failures: {name: reason}, oracle_checked, stability_checked)."""
    con = connect(data_dir)
    failures = {}
    oracle_n = stable_n = 0
    for c in checks:
        name, paths, sql = c["name"], c["paths"], c.get("oracle_sql")
        try:
            if sql:
                oracle_n += 1
                why = compare_with_oracle(con, paths[0], sql)
            else:
                stable_n += 1
                h = [content_hash(con, p) for p in paths]
                why = None if h[0] == h[1] else f"unstable result: {h[0]} vs {h[1]}"
        except Exception as e:  # a missing or unreadable output is a failure
            why = f"check error: {str(e)[:300]}"
        if why:
            failures[name] = why
    con.close()
    return failures, oracle_n, stable_n
