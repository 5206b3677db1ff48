"""Output digests and the DuckDB oracle comparison.

A digest is (row count, sorted column names, order-independent hash):
each row is rendered canonically, hashed to 64 bits, and the hashes are
summed modulo 2**64, so row order does not matter but every value does.
Floats compare by their exact repr, as the engine's oracle gate does.
"""
import datetime
import decimal
import hashlib

import duckdb
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _canon(v):
    if v is None:
        return "\0N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return str(v.normalize())
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, (datetime.date, datetime.time)):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def digest(table):
    cols = sorted(table.column_names)
    total = 0
    for row in table.select(cols).to_pylist():
        line = "\x1f".join(_canon(row[c]) for c in cols).encode()
        total = (total + int.from_bytes(hashlib.blake2b(line, digest_size=8).digest(), "little")) % (1 << 64)
    return table.num_rows, cols, total


def oracle_failures(checks):
    """Compare each check's engine output with its DuckDB oracle on the
    same data. Returns {key: reason} for every mismatch."""
    bad = {}
    cons = {}
    for c in checks:
        key = c["key"]
        if "error" in c and c["error"]:
            bad[key] = c["error"]
            continue
        if not c.get("repeat_ok", True):
            bad[key] = "digest changed across repetitions: " + ", ".join(c.get("repeat_digests", []))
            continue
        sql = c.get("oracle_sql")
        if not sql:
            bad[key] = "no oracle for this statement"
            continue
        d = c["oracle_dir"]
        if d not in cons:
            con = duckdb.connect()
            con.execute("SET threads TO 2")
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")
            cons[d] = con
        try:
            got = digest(pq.read_table(c["parquet"]))
            exp = digest(cons[d].execute(sql).arrow())
        except Exception as e:  # an oracle that cannot run is a failed check
            bad[key] = f"{type(e).__name__}: {e}"
            continue
        if got != exp:
            bad[key] = (f"engine: {got[0]} rows, columns {got[1]}, hash {got[2]}; "
                        f"oracle: {exp[0]} rows, columns {exp[1]}, hash {exp[2]}")
    for con in cons.values():
        con.close()
    return bad
