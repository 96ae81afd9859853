"""DuckDB side of the output check.

Runs a registry query's oracle SQL over the benchmark's parquet tables and
fingerprints the answer exactly as `Fingerprint.scala` fingerprints Spark's:
row count plus the sum (mod 2^64) of the first 8 bytes of the MD5 of each
row's canonical text, columns in name order, non-integral numbers rounded to
six significant digits.
"""
import datetime
import decimal
import hashlib
import math
import os

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
_CTX = decimal.Context(prec=6, rounding=decimal.ROUND_HALF_EVEN)
_EPOCH = datetime.datetime(1970, 1, 1)
_EPOCH_TZ = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)


def _fraction(d):
    if d == 0:
        return "0"
    return format(_CTX.plus(d).normalize(), "f")


def canon(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, decimal.Decimal):
        if v == 0:
            return "0"
        if v == v.to_integral_value():
            return str(int(v))
        return _fraction(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "Inf" if v > 0 else "-Inf"
        if v == 0.0:
            return "0"
        return _fraction(decimal.Decimal(v))
    if isinstance(v, str):
        return f"{len(v)}:{v}"
    if isinstance(v, datetime.datetime):
        base = _EPOCH_TZ if v.tzinfo is not None else _EPOCH
        return "t" + str((v - base) // datetime.timedelta(microseconds=1))
    if isinstance(v, datetime.date):
        return "d" + str((v - datetime.date(1970, 1, 1)).days)
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "x" + bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join(canon(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def row_text(columns, row):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return "|".join(canon(row[i]) for i in order)


def row_digest(text):
    return int.from_bytes(hashlib.md5(text.encode("utf-8")).digest()[:8], "big")


def fingerprint(columns, rows):
    total = 0
    n = 0
    for r in rows:
        total = (total + row_digest(row_text(columns, r))) % (1 << 64)
        n += 1
    return f"{n}:{total:016x}"


def connect(data_dir):
    import duckdb
    con = duckdb.connect()
    # one thread: float aggregates are summed in the same order on every run
    con.execute("SET threads TO 1")
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def oracle_fingerprint(con, sql):
    cur = con.execute(sql)
    columns = [d[0] for d in cur.description]
    return fingerprint(columns, cur.fetchall())
