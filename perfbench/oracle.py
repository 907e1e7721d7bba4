"""DuckDB oracle for the query faces of the graph_and_sql workload.

Runs each face's oracle SQL over the generated parquet tables and writes
one `<face>\t<rows>\t<sha256>` line per face.  The digest mirrors
graftbench.Canonical on the engine side: columns sorted by name, values
encoded by kind, rows sorted, SHA-256.

Usage: python3 perfbench/oracle.py <tables_dir> <oracle_sql.json> <out.tsv>
"""
import datetime
import decimal
import glob
import hashlib
import json
import math
import os
import struct
import sys

import duckdb

EPOCH = datetime.datetime(1970, 1, 1)


def _float(x):
    x = float(x)
    if math.isnan(x):
        return "fnan"
    if x == 0.0:
        x = 0.0
    return "f" + format(struct.unpack("<q", struct.pack("<d", x))[0] & 0xFFFFFFFFFFFFFFFF, "x")


def enc(v):
    if v is None:
        return "~"
    if isinstance(v, bool):
        return "b1" if v else "b0"
    if isinstance(v, int):
        return f"i{v}"
    if isinstance(v, (float, decimal.Decimal)):
        return _float(v)
    if isinstance(v, str):
        return f"s{len(v.encode('utf-16-le')) // 2}:{v}"
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return f"t{(v - EPOCH) // datetime.timedelta(microseconds=1)}"
    if isinstance(v, datetime.date):
        return f"d{(v - EPOCH.date()).days}"
    if isinstance(v, (bytes, bytearray)):
        return "x" + v.hex()
    if isinstance(v, dict):
        return "{" + ",".join(enc(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(enc(x) for x in v) + "]"
    raise TypeError(f"no canonical encoding for {type(v).__name__}")


def digest(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\u0001".join(enc(r[i]) for i in order) for r in rows)
    h = hashlib.sha256(",".join(sorted(columns)).encode())
    for line in lines:
        h.update(b"\n" + line.encode())
    return len(rows), h.hexdigest()


def main(tables_dir, sql_path, out_path):
    con = duckdb.connect()
    # one thread: the oracle runs beside the engine's session start-up
    con.execute("SET threads TO 1")
    for p in sorted(glob.glob(os.path.join(tables_dir, "*.parquet"))):
        name = os.path.basename(p)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    faces = json.load(open(sql_path))
    with open(out_path, "w") as out:
        for face in sorted(faces):
            cur = con.execute(faces[face])
            columns = [d[0] for d in cur.description]
            n, sha = digest(columns, cur.fetchall())
            out.write(f"{face}\t{n}\t{sha}\n")


if __name__ == "__main__":
    main(*sys.argv[1:4])
