"""Order-insensitive result digests and their DuckDB oracle counterparts.

A digest is the row count plus the sum (mod 2**64) of one hash per row,
taken over cells normalized the way ``tools/check_correctness.py``
compares them: columns in name order, floats to 9 significant digits,
everything else through ``str``.  The oracle side runs each query's
registered DuckDB SQL over the same fixtures.  Fixtures are fixed bytes,
so oracle digests are cached in the checkout, keyed by SQL text and
fixture sizes; the first run in a checkout pays for them, after its
timed passes.
"""

from __future__ import annotations

import hashlib
import json
import math
import os

_MASK = (1 << 64) - 1


def _cell(v) -> str:
    if v is None:
        return "\x00"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.9g}"
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, dict):  # a DuckDB struct; Spark hands back a Row (a tuple)
        v = list(v.values())
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def digest(rows, columns) -> tuple[int, str]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    for r in rows:
        key = "\x1f".join(_cell(r[i]) for i in order).encode()
        total += int.from_bytes(hashlib.blake2b(key, digest_size=8).digest(), "big")
    return len(rows), f"{total & _MASK:016x}"


class OracleCache:
    """DuckDB oracle digests for one fixture dir, cached as JSON files."""

    TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings")

    def __init__(self, cache_dir: str, sf_dir: str, threads: int):
        self.sf_dir = sf_dir
        self.threads = threads
        self.cache_dir = cache_dir
        sizes = "".join(
            f"{t}:{os.path.getsize(os.path.join(sf_dir, t + '.parquet'))};"
            for t in self.TABLES
        )
        self._fixture_key = os.path.abspath(sf_dir) + "|" + sizes
        self._con = None

    def _path(self, name: str, sql: str) -> str:
        key = hashlib.sha256((self._fixture_key + "|" + sql).encode()).hexdigest()[:16]
        return os.path.join(self.cache_dir, f"{name}-{key}.json")

    def expected(self, name: str, sql: str) -> tuple[int, str]:
        path = self._path(name, sql)
        try:
            with open(path) as fh:
                rec = json.load(fh)
            return rec["rows"], rec["digest"]
        except FileNotFoundError:
            pass
        rel = self._connect().sql(sql)
        n, h = digest(rel.fetchall(), list(rel.columns))
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = f"{path}.tmp-{os.getpid()}"
        with open(tmp, "w") as fh:
            json.dump({"query": name, "rows": n, "digest": h}, fh)
        os.replace(tmp, path)
        return n, h

    def _connect(self):
        if self._con is None:
            import duckdb

            self._con = duckdb.connect()
            self._con.execute(f"SET threads={self.threads}")
            for t in self.TABLES:
                self._con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(self.sf_dir, t)}.parquet')"
                )
        return self._con

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None
