"""Expected result fingerprints for the benchmark's fixture queries, from
the DuckDB oracle: runs each query's `SparkEntry.oracleSql` twin over the
frozen fixture and writes `expected.json`. Run it once, after a change to
the query list or the fixture; the benchmark only reads the stored file.

    python3 perfbench/oracle.py

The fingerprint is the row count plus an order-independent hash; its
canonical row text must match `src/perfbench/Fingerprint.scala`.
"""
import datetime
import decimal
import hashlib
import json
import math
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURE = os.path.join(HERE, "fixture", "sf0.1")
EXPECTED = os.path.join(HERE, "expected.json")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]
SEP = "\x1f"
EPOCH = datetime.datetime(1970, 1, 1)
EPOCH_UTC = EPOCH.replace(tzinfo=datetime.timezone.utc)
MICRO = datetime.timedelta(microseconds=1)


def g12(v):
    if math.isnan(v):
        return "NaN"
    if v == 0:
        return "0"
    if math.isinf(v):
        return "inf" if v > 0 else "-inf"
    return "%.12g" % v


def canon(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return g12(v)
    if isinstance(v, decimal.Decimal):
        return g12(float(v))
    if isinstance(v, int):
        return str(v)
    if isinstance(v, str):
        return v
    if isinstance(v, datetime.datetime):
        base = EPOCH_UTC if v.tzinfo else EPOCH
        return str((v - base) // MICRO)
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, dict):
        return "{" + ",".join(canon(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def fingerprint(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    acc = 0
    for r in rows:
        text = SEP.join(canon(r[i]) for i in order)
        acc += int.from_bytes(hashlib.sha256(text.encode()).digest()[:8], "big")
    return {"rows": len(rows), "hash": "%016x" % (acc % (1 << 64))}


def main():
    import duckdb
    sys.path.insert(0, HERE)
    import build
    cp = build.build()
    with tempfile.TemporaryDirectory(dir=os.path.join(HERE, os.pardir, ".bench_build")) as tmp:
        out = os.path.join(tmp, "oracle_sql.json")
        subprocess.run([build.java(), "-cp", cp, "perfbench.Harness", "--oracle-sql", out],
                       check=True)
        sql = json.load(open(out))
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{FIXTURE}/{t}.parquet')")
    queries = {}
    for name in sorted(sql):
        cur = con.execute(sql[name])
        queries[name] = fingerprint([d[0] for d in cur.description], cur.fetchall())
        print(name, queries[name], file=sys.stderr)
    with open(os.path.join(HERE, "fixture", "SHA256SUMS"), "rb") as fh:
        sums = hashlib.sha256(fh.read()).hexdigest()
    rows = {t: con.execute(f"SELECT count(*) FROM {t}").fetchone()[0] for t in TABLES}
    doc = {"oracle": f"duckdb {duckdb.__version__}", "fixture_sha256sums": sums,
           "fixture_rows": rows, "queries": queries}
    with open(EXPECTED, "w") as fh:
        json.dump(doc, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
