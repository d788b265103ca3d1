"""Output checks, run outside the timed interval.

Query and gate outputs are compared with the registry's DuckDB oracle
SQL over the same generated parquet files; the replicated destination
is compared with a DuckDB replay of the same increments. Rows compare as
multisets of values in column-name order: ints of any width compare
equal, floats compare by their exact digits, timestamps without zone.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math

import duckdb


def _norm(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, float):
        return ("f", "nan" if math.isnan(v) else repr(v))
    if isinstance(v, decimal.Decimal):
        return ("f", repr(float(v)))
    if isinstance(v, dt.datetime):
        return ("ts", v.replace(tzinfo=None).isoformat())
    if isinstance(v, dt.date):
        return ("d", v.isoformat())
    if isinstance(v, (bytes, bytearray, memoryview)):
        return ("x", bytes(v).hex())
    if isinstance(v, dict):
        return ("m", tuple(sorted((str(k), repr(_norm(x))) for k, x in v.items())))
    if isinstance(v, (list, tuple)):
        if hasattr(v, "asDict"):  # a Spark struct
            return _norm(v.asDict(recursive=False))
        return ("l", tuple(_norm(x) for x in v))
    return ("s", str(v))


def digest(columns: list[str], rows) -> str:
    """Order-independent digest of a result: columns sorted by name, rows
    sorted by their normalised values."""
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    names = [columns[i].lower() for i in order]
    canon = sorted(repr(tuple(_norm(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256(repr(names).encode())
    for line in canon:
        h.update(line.encode())
    return f"{len(canon)}:{h.hexdigest()[:16]}"


def spark_digest(df) -> str:
    return digest(df.columns, df.collect())


class Oracles:
    """DuckDB views over the generated tables, one oracle digest per query."""

    def __init__(self, data_dir: str, tables: tuple[str, ...]):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 1")
        for t in tables:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )
        self._cache: dict[str, str] = {}

    def digest(self, name: str, sql: str) -> str:
        if name not in self._cache:
            cur = self.con.execute(sql)
            cols = [d[0] for d in cur.description]
            self._cache[name] = digest(cols, cur.fetchall())
        return self._cache[name]

    def close(self) -> None:
        self.con.close()


def replay_matches(source_path: str, increments: list[tuple[str, list[int]]],
                   dest_arrow, key: str) -> tuple[bool, str]:
    """Replay full copy + upserts + deletions in DuckDB and compare the
    result with the destination's rows (an Arrow table) exactly."""
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 1")
        con.execute(f"CREATE TABLE t AS SELECT * FROM read_parquet('{source_path}')")
        for inc_path, deleted in increments:
            con.execute(
                f"DELETE FROM t WHERE {key} IN "
                f"(SELECT {key} FROM read_parquet('{inc_path}'))"
            )
            con.execute(f"INSERT INTO t SELECT * FROM read_parquet('{inc_path}')")
            if deleted:
                con.execute(
                    f"DELETE FROM t WHERE {key} IN ({','.join(str(int(k)) for k in deleted)})"
                )
        con.register("dest_raw", dest_arrow)
        cols = ", ".join(c[0] for c in con.execute("SELECT * FROM t LIMIT 0").description)
        con.execute(f"CREATE TABLE d AS SELECT {cols} FROM dest_raw")
        n_t = con.execute("SELECT count(*) FROM t").fetchone()[0]
        n_d = con.execute("SELECT count(*) FROM d").fetchone()[0]
        only_t = con.execute("SELECT count(*) FROM (SELECT * FROM t EXCEPT ALL SELECT * FROM d)").fetchone()[0]
        only_d = con.execute("SELECT count(*) FROM (SELECT * FROM d EXCEPT ALL SELECT * FROM t)").fetchone()[0]
        ok = n_t == n_d and only_t == 0 and only_d == 0
        return ok, f"replay rows {n_t}, destination rows {n_d}, only-replay {only_t}, only-destination {only_d}"
    finally:
        con.close()
