"""Canonical result digests, shared with the Scala harness (Digest.scala).

A result is digested as: the column names sorted by name, then every row's
values in that column order, each value encoded with a one-byte type tag.
Rows are compared as a multiset (their encodings are sorted), so a tie in an
ORDER BY cannot flip the verdict. Numbers that are not integers are rounded
to 10 significant digits, so the last-ulp differences two engines may show
in transcendental functions do not count as a mismatch.
"""
import datetime as dt
import decimal
import hashlib
import struct

from inputs import TABLES

_CTX = decimal.Context(prec=10, rounding=decimal.ROUND_HALF_EVEN)
_EPOCH = dt.datetime(1970, 1, 1)
_EPOCH_DATE = dt.date(1970, 1, 1)


def _blob(tag, b):
    return tag + struct.pack(">i", len(b)) + b


def _number(d):
    """Exact decimal -> 10-significant-digit (unscaled, exponent) text."""
    if d.is_nan():
        return b"NaN"
    if d.is_infinite():
        return b"+Inf" if d > 0 else b"-Inf"
    if d == 0:
        return b"0e0"
    sign, digits, exp = _CTX.plus(d).normalize(_CTX).as_tuple()
    unscaled = int("".join(map(str, digits))) * (-1 if sign else 1)
    return f"{unscaled}e{exp}".encode()


def encode(v):
    if v is None:
        return b"n"
    if isinstance(v, bool):
        return b"o1" if v else b"o0"
    if isinstance(v, int):
        return _blob(b"i", str(v).encode())
    if isinstance(v, float):
        return _blob(b"f", _number(decimal.Decimal(v)))
    if isinstance(v, decimal.Decimal):
        return _blob(b"f", _number(v))
    if isinstance(v, str):
        return _blob(b"s", v.encode("utf-8"))
    if isinstance(v, (bytes, bytearray, memoryview)):
        return _blob(b"b", bytes(v))
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return _blob(b"t", str((v - _EPOCH) // dt.timedelta(microseconds=1)).encode())
    if isinstance(v, dt.date):
        return _blob(b"d", str((v - _EPOCH_DATE).days).encode())
    if isinstance(v, (list, tuple)):
        return _blob(b"l", b"".join(encode(x) for x in v))
    if isinstance(v, dict):
        return _blob(b"r", b"".join(encode(x) for x in v.values()))
    raise TypeError(f"no canonical form for {type(v).__name__}")


def digest(columns, rows):
    """sha256 hex of a result given its column names and row tuples."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    h = hashlib.sha256()
    for i in order:
        h.update(_blob(b"c", columns[i].encode("utf-8")))
    encoded = sorted(b"".join(encode(row[i]) for i in order) for row in rows)
    h.update(struct.pack(">q", len(encoded)))
    for e in encoded:
        h.update(struct.pack(">i", len(e)))
        h.update(e)
    return h.hexdigest()


def oracle_digests(table_dir, oracle_sql):
    """{query: digest} of each DuckDB oracle over the parquet tables."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_dir}/{t}.parquet')")
    out = {}
    for name, sql in oracle_sql.items():
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        out[name] = digest(cols, cur.fetchall())
    con.close()
    return out
