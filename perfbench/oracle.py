"""DuckDB answers to the gates' oracle SQL, hashed exactly as Canon.scala
hashes the program's results: row count plus the wrapping sum of one 64-bit
hash per row, over the columns sorted by name.

Answers are cached on disk, keyed by the SQL text and a signature of the
input files, so each (query, data) pair is computed once.
"""
import datetime
import decimal
import hashlib
import json
import math
import os
import struct

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
EPOCH = datetime.datetime(1970, 1, 1)
EPOCH_DAY = datetime.date(1970, 1, 1)


def num(d):
    if math.isnan(d):
        return "NaN"
    if math.isinf(d):
        return "Inf" if d > 0 else "-Inf"
    if d == math.floor(d) and abs(d) < 2.0 ** 53:
        return str(int(d))
    return "D" + str(struct.unpack(">q", struct.pack(">d", d))[0])


def cell(v):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return num(v)
    if isinstance(v, decimal.Decimal):
        return str(int(v)) if v == v.to_integral_value() else num(float(v))
    if isinstance(v, str):
        return "S" + v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        d = v - EPOCH
        return "t" + str((d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds)
    if isinstance(v, datetime.date):
        return "t" + str((v - EPOCH_DAY).days * 86_400_000_000)
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "B" + bytes(v).hex()
    if isinstance(v, dict):
        if set(v) == {"key", "value"} and isinstance(v["key"], list):
            pairs = sorted(cell(k) + ":" + cell(x) for k, x in zip(v["key"], v["value"]))
            return "<" + ",".join(pairs) + ">"
        return "{" + ",".join(cell(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    return "?" + str(v)


def row_hash(cells):
    d = hashlib.md5("\x1f".join(cells).encode("utf-8")).digest()
    return int.from_bytes(d[:8], "big")


def digest(columns, rows):
    """{cols, rows, hash} of a result given its column names and row tuples."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    for r in rows:
        total = (total + row_hash([cell(r[i]) for i in order])) % (1 << 64)
    return {"cols": [columns[i] for i in order], "rows": len(rows), "hash": str(total)}


def data_signature(data_dir):
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(data_dir, f"{t}.parquet"), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


class Oracle:
    """Caching DuckDB oracle over one data directory."""

    def __init__(self, data_dir, cache_dir):
        self.data_dir = data_dir
        self.cache_dir = cache_dir
        self.sig = data_signature(data_dir)
        self.con = None
        os.makedirs(cache_dir, exist_ok=True)

    def _connect(self):
        con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(self.data_dir, f"{t}.parquet").replace("'", "''")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        return con

    def answer(self, sql):
        key = hashlib.sha256((self.sig + "\n" + sql).encode("utf-8")).hexdigest()
        path = os.path.join(self.cache_dir, key + ".json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        if self.con is None:
            self.con = self._connect()
        try:
            cur = self.con.execute(sql)
            ans = digest([d[0] for d in cur.description], cur.fetchall())
        except duckdb.Error as e:
            ans = {"error": str(e)[:300]}
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(ans, f)
        os.replace(tmp, path)
        return ans
