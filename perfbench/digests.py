#!/usr/bin/env python3
"""Expected result digests for the batch labels, from the DuckDB oracle.

    python3 perfbench/digests.py ORACLE_JSON DATA_DIR OUT_JSON

ORACLE_JSON maps each label to its oracle SQL (written by
`perfbench.Main --dump-oracle`); DATA_DIR holds the parquet tables.
The digest is Digest.scala's, computed over DuckDB's rows: columns
sorted by name, each value in one canonical text (numbers as their
exact decimal expansion, timestamps as UTC epoch microseconds), rows
sorted by their UTF-8 bytes, SHA-256 over the lot.
"""
import datetime
import decimal
import hashlib
import json
import math
import sys
import threading

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
TIMEOUT_S = 600
EPOCH = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)


def plain(d: decimal.Decimal) -> str:
    if d == 0:
        return "0"
    s = format(d, "f")
    if "." in s:
        s = s.rstrip("0").rstrip(".")
    return s


def canon(v) -> str:
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "Inf" if v > 0 else "-Inf"
        return plain(decimal.Decimal(v))
    if isinstance(v, decimal.Decimal):
        return plain(v)
    if isinstance(v, str):
        return f"s{len(v.encode())}:{v}"
    if isinstance(v, datetime.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=datetime.timezone.utc)
        d = v - EPOCH
        return f"t{(d.days * 86400 + d.seconds) * 1000000 + d.microseconds}"
    if isinstance(v, datetime.date):
        return "d" + v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return "b" + bytes(v).hex()
    if isinstance(v, dict):
        return "(" + ",".join(canon(x) for x in v.values()) + ")"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return "?" + str(v)


def digest(names, rows):
    order = sorted(range(len(names)), key=lambda i: names[i].encode())
    lines = sorted(("|".join(canon(r[i]) for i in order)).encode() for r in rows)
    h = hashlib.sha256(",".join(names[i] for i in order).encode())
    for line in lines:
        h.update(b"\n")
        h.update(line)
    return h.hexdigest(), len(lines)


def main():
    oracle_json, data_dir, out_json = sys.argv[1:4]
    con = duckdb.connect(config={"memory_limit": "3GB", "threads": 2})
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    out = {}
    for label, sql in sorted(json.load(open(oracle_json)).items()):
        # an oracle DuckDB cannot finish in memory is left out, and the
        # label's check then reports it as missing
        timer = threading.Timer(TIMEOUT_S, con.interrupt)
        timer.start()
        try:
            cur = con.execute(sql)
            names = [d[0] for d in cur.description]
            d, n = digest(names, cur.fetchall())
        except duckdb.Error as e:
            print(f"{label}: oracle failed: {str(e)[:200]}", file=sys.stderr)
            continue
        finally:
            timer.cancel()
        out[label] = {"digest": d, "rows": n}
        print(f"{label}: {n} rows {d[:12]}", file=sys.stderr)
    with open(out_json, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
