#!/usr/bin/env python3
"""Record the DuckDB oracle digest of every query of the query workload.

Usage (from the root of a checkout, after one benchmark run has built the
harness):

    python3 perfbench/oracle_digests.py

Asks the harness for the listed queries' `SparkEntry.oracleSql`, runs each
in DuckDB over the fixture tables in `perfbench/fixtures/<fixture>/`, and
rewrites the fixture's rows of `perfbench/expected/query_digests.tsv`.
The digest is the one `graft.perfbench.Digest` computes on the Spark
side; `canon` below must stay in step with `Digest.canon`. Needs the
`duckdb` Python package; the benchmark itself does not.
"""
import datetime
import decimal
import hashlib
import json
import os
import subprocess
import sys
import tempfile

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURE = "sf0.01"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
CTX = decimal.Context(prec=200)
NS = decimal.Decimal("1e-9")
EPOCH = datetime.datetime(1970, 1, 1)


def canon(v):
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if v != v:
            return "nan"
        if v in (float("inf"), float("-inf")):
            return "inf" if v > 0 else "-inf"
        q = decimal.Decimal(v).quantize(NS, rounding=decimal.ROUND_HALF_EVEN, context=CTX)
        return "0" if q == 0 else format(q.normalize(CTX), "f")
    if isinstance(v, decimal.Decimal):
        return "0" if v == 0 else format(v.normalize(CTX), "f")
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return str((v - EPOCH) // datetime.timedelta(microseconds=1))
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, dict):
        return "{" + ",".join(sorted(canon(k) + ":" + canon(x) for k, x in v.items())) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def digest(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    for r in rows:
        s = "\u0001".join(f"{columns[i]}={canon(r[i])}" for i in order)
        total += int.from_bytes(hashlib.sha256(s.encode("utf-8")).digest()[:8], "big")
    return f"{len(rows)}:{total % (1 << 64):016x}"


def oracle_sql():
    spark_home = os.environ["SPARK_HOME"]
    cp = os.pathsep.join([os.path.join(HERE, "target", "scala-2.13", "classes"),
                          os.path.join(spark_home, "jars", "*")])
    with tempfile.TemporaryDirectory() as d:
        out = os.path.join(d, "oracle.json")
        subprocess.run(["java", "-cp", cp, "graft.perfbench.Main", "--oracle-sql", out],
                       check=True, stdin=subprocess.DEVNULL)
        with open(out) as f:
            return json.load(f)


def main():
    fixture_dir = os.path.join(HERE, "fixtures", FIXTURE)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{fixture_dir}/{t}.parquet'")
    rows = []
    for name, sql in oracle_sql().items():
        rel = con.sql(sql)
        d = digest(list(rel.columns), rel.fetchall())
        print(f"{name}\t{d}")
        rows.append(f"{FIXTURE}\t{name}\t{d}")
    path = os.path.join(HERE, "expected", "query_digests.tsv")
    keep = []
    if os.path.exists(path):
        with open(path) as f:
            keep = [l.rstrip("\n") for l in f if not l.startswith(f"{FIXTURE}\t")]
    with open(path, "w") as f:
        f.write("\n".join(keep + rows) + "\n")


if __name__ == "__main__":
    sys.exit(main())
