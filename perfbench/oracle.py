"""Output checks: DuckDB reference answers for the registered queries, and the
generator's expected counts for the two ETL pipelines.

A query's reference is its `SparkEntry.oracleSql` statement run in DuckDB over
the same tables; outputs are compared the way tools/check.py does it (column
names and types, then every row with columns sorted by name and floats at 9
significant digits), through a hash of the canonical rows. A query without an
oracle is gated in its own plan and emits no rows when its gate fails.
"""
import hashlib
import math

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def connect(sf_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    if sf_dir:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _canonical(rel):
    cols = list(rel.columns)
    types = dict(zip(cols, map(str, rel.types)))
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = []
    for r in rel.fetchall():
        vals = []
        for i in idx:
            v = r[i]
            if isinstance(v, float):
                v = "NaN" if math.isnan(v) else f"{v:.9g}"
            vals.append(repr(v))
        rows.append("|".join(vals))
    rows.sort()
    h = hashlib.sha256("\n".join(rows).encode()).hexdigest()
    return {"cols": sorted(cols), "types": types, "rows": len(rows), "hash": h}


def references(con, oracle_sql):
    return {name: _canonical(con.sql(sql)) for name, sql in oracle_sql.items()}


def _read(con, path):
    return con.sql(f"SELECT * FROM read_parquet('{path}/*.parquet')")


def _count(con, path):
    return con.execute(f"SELECT count(*) FROM read_parquet('{path}/*.parquet')").fetchone()[0]


def check_query(con, op, ref):
    """None if the output matches its reference (or passes its gate)."""
    if ref is None:
        n = _count(con, op["out"])
        return None if n > 0 else "gate emitted no rows"
    got = _canonical(_read(con, op["out"]))
    if got["cols"] != ref["cols"]:
        return f"columns {got['cols']} != {ref['cols']}"
    if got["types"] != ref["types"]:
        return f"types {got['types']} != {ref['types']}"
    if got["hash"] != ref["hash"]:
        return f"rows differ from the oracle ({got['rows']} vs {ref['rows']} rows)"
    return None


MEERTRAP_TABLES = {"observation": "num_obs", "beam": "beams", "candidate": "num_cands",
                   "corrupt_run_summaries": "corrupt_run_summaries",
                   "quarantined_spccl": "quarantined_spccl"}


def check_meertrap(con, op, expected):
    errors = []
    for k, want in sorted(expected.items()):
        got = op["metrics"].get(k)
        if got != want:
            errors.append(f"metric {k}={got}, expected {want}")
    for table, k in MEERTRAP_TABLES.items():
        got = _count(con, f"{op['out']}/{table}")
        if got != expected[k]:
            errors.append(f"{table} has {got} rows, expected {expected[k]}")
    return "; ".join(errors) or None


def check_atnf(con, op, expected):
    n, ids = con.execute(
        f"SELECT count(*), count(DISTINCT known_pulsar_id) "
        f"FROM read_parquet('{op['out']}/*.parquet')").fetchone()
    want = expected["known_pulsars"]
    if n != want or ids != want:
        return f"{n} rows / {ids} ids, expected {want} known pulsars"
    return None
