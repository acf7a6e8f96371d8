#!/usr/bin/env python3
"""DuckDB answers to the oracle SQL of the `spark_queries` keys.

Usage: oracle.py <sql.jsonl> <sf_dir> <out.tsv>

Tables are views over the parquet files in sf_dir, as in
`tools/check_oracle.py`. Each answer is reduced to the digest that
`graftbench.Digest` computes over Spark's collected rows: columns in name
order, cells rendered canonically (doubles by their bits, decimals in plain
notation, timestamps as epoch microseconds), each row hashed with SHA-256,
and the first eight bytes of the row hashes summed modulo 2^64.
Output: one line per key, `key<TAB>rows<TAB>col,col,...<TAB>digest`.
"""
import datetime
import decimal
import hashlib
import json
import os
import struct
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
EPOCH = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)


def cell(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return "d:" + format(struct.unpack(">Q", struct.pack(">d", v))[0], "x")
    if isinstance(v, decimal.Decimal):
        return format(v, "f")
    if isinstance(v, datetime.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=datetime.timezone.utc)
        d = v - EPOCH
        return "t:" + str((d.days * 86400 + d.seconds) * 1000000 + d.microseconds)
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    return str(v)


def digest(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    for r in rows:
        line = "\u0001".join(cell(r[i]) for i in order)
        total += int.from_bytes(hashlib.sha256(line.encode("utf-8")).digest()[:8], "big")
    return [columns[i] for i in order], len(rows), format(total % (1 << 64), "x")


def main(sql_file, sf_dir, out_file):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    lines = []
    with open(sql_file, encoding="utf-8") as f:
        for raw in f:
            if not raw.strip():
                continue
            q = json.loads(raw)
            rel = con.sql(q["sql"])
            cols, n, d = digest(rel.columns, rel.fetchall())
            lines.append(f"{q['key']}\t{n}\t{','.join(cols)}\t{d}")
    with open(out_file, "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    main(*sys.argv[1:4])
