"""Batch output check against the DuckDB oracle (`SparkEntry.oracleSql`),
compared the way `scripts/check.py` does: columns in declared order, rows
sorted, every value tagged with its Python type, doubles exact."""
import base64
import datetime
import decimal
import hashlib
import json
import math
import os
import struct

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
EPOCH = datetime.datetime(1970, 1, 1)


def norm(v):
    """Type-tagged, hashable, order-comparable form of one cell."""
    if v is None:
        return ("NoneType", None)
    if isinstance(v, float):
        return ("float", "NaN" if math.isnan(v) else repr(v))
    if isinstance(v, (list, tuple)):
        return ("list", tuple(norm(x) for x in v))
    if isinstance(v, dict):
        return ("dict", tuple(sorted((repr(norm(k)), norm(x)) for k, x in v.items())))
    return (type(v).__name__, v)


def canon(columns, rows):
    out = [tuple(norm(v) for v in r) for r in rows]
    out.sort(key=repr)
    return list(columns), out


def fingerprint(columns, rows):
    cols, out = canon(columns, rows)
    return hashlib.sha256(repr((cols, out)).encode()).hexdigest()


def decode_cell(c):
    """A typed JSON cell written by the JVM harness → the Python value
    DuckDB's fetchall() gives for the same SQL type."""
    if c is None:
        return None
    tag, v = c
    if tag == "f":
        return struct.unpack(">d", int(v, 16).to_bytes(8, "big"))[0]
    if tag == "i":
        return int(v)
    if tag == "d":
        return decimal.Decimal(v)
    if tag == "ts":
        return EPOCH + datetime.timedelta(microseconds=v)
    if tag == "dt":
        return datetime.date(1970, 1, 1) + datetime.timedelta(days=v)
    if tag == "bin":
        return base64.b64decode(v)
    if tag == "l":
        return [decode_cell(x) for x in v]
    if tag == "m":
        return {decode_cell(k): decode_cell(x) for k, x in v}
    if tag == "st":
        return {k: decode_cell(x) for k, x in v}
    return v


def spark_fingerprint(result):
    rows = [[decode_cell(c) for c in r] for r in result["rows"]]
    return fingerprint(result["columns"], rows)


def oracle_fingerprint(con, sql):
    rel = con.sql(sql)
    return fingerprint(rel.columns, rel.fetchall())


def check_results(results_dir, data_dir, cache_dir):
    """{query: None if the Spark rows equal the oracle's, else a reason}.
    Oracle fingerprints are derived once per input set and cached."""
    import duckdb
    os.makedirs(cache_dir, exist_ok=True)
    con = None
    out = {}
    for f in sorted(os.listdir(results_dir)):
        name = f[:-len(".json")]
        with open(os.path.join(results_dir, f)) as fh:
            res = json.load(fh)
        cached = os.path.join(cache_dir, name + ".sha256")
        if os.path.exists(cached):
            want = open(cached).read()
        else:
            if not res["oracle_sql"]:
                out[name] = "no oracle SQL"
                continue
            if con is None:
                con = duckdb.connect()
                for t in TABLES:
                    con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{os.path.join(data_dir, t)}.parquet'")
            try:
                want = oracle_fingerprint(con, res["oracle_sql"])
            except Exception as e:  # an oracle that cannot run is a failure
                out[name] = f"oracle error: {e}"
                continue
            with open(cached, "w") as fh:
                fh.write(want)
        got = spark_fingerprint(res)
        out[name] = None if got == want else "result differs from the oracle"
    return out
