"""Check an entry's output against its DuckDB oracle, inside DuckDB.

The normalization follows ``scripts/verify_oracle.py``: columns are matched
by name, floats are rounded to 9 places, timestamps compare as their text
at microsecond precision, and rows compare as a multiset. The multiset
comparison runs as ``EXCEPT ALL`` in DuckDB, because sorting a large
result in Python takes minutes.
"""

from __future__ import annotations

import hashlib
import os

import duckdb


def connect(data_dir: str, tables: tuple[str, ...], threads: int) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads = {int(threads)}")
    con.execute("SET TimeZone = 'UTC'")
    for t in tables:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _family(dtype: str) -> str:
    if dtype.endswith("]") or dtype.startswith(("STRUCT", "MAP")):
        return "nested"
    if dtype.startswith(("TIMESTAMP", "DATE", "TIME")):
        return "time"
    if dtype in ("VARCHAR", "BLOB"):
        return dtype
    return "number"


def _q(col: str) -> str:
    return '"' + col.replace('"', '""') + '"'


def _norm(col: str, dtype: str) -> str:
    q = _q(col)
    if dtype in ("DOUBLE", "FLOAT"):
        return f"round({q}, 9)"
    if dtype in ("DOUBLE[]", "FLOAT[]"):
        return f"list_transform({q}, x -> round(x, 9))"
    if dtype.startswith("TIMESTAMP"):
        return f"CAST(CAST({q} AS TIMESTAMP) AS VARCHAR)"
    if dtype == "DATE":
        return f"CAST({q} AS VARCHAR)"
    if dtype == "BLOB":
        return f"hex({q})"
    return q


def _columns(con: duckdb.DuckDBPyConnection, relation: str) -> dict[str, str]:
    return {r[0]: r[1] for r in con.execute(f"DESCRIBE {relation}").fetchall()}


def load_oracle(con: duckdb.DuckDBPyConnection, table: str, sql: str, cache_dir: str, data_key: str) -> None:
    """Materialize an oracle's result as ``table``. The result depends only
    on the SQL, the tables and DuckDB, so it is kept in ``cache_dir`` under
    a hash of the three and read back on later runs."""
    key = hashlib.sha256("\0".join((duckdb.__version__, data_key, sql)).encode()).hexdigest()[:24]
    path = os.path.join(cache_dir, f"{key}.parquet")
    if not os.path.exists(path):
        con.execute(f"CREATE OR REPLACE TEMP VIEW oracle_sql AS {sql.strip().rstrip(';')}")
        # parquet stores HUGEINT as DOUBLE; DECIMAL(38,0) keeps sums exact
        cols = ", ".join(
            f"CAST({_q(c)} AS DECIMAL(38,0)) AS {_q(c)}" if t in ("HUGEINT", "UHUGEINT") else _q(c)
            for c, t in _columns(con, "oracle_sql").items()
        )
        os.makedirs(cache_dir, exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        con.execute(f"COPY (SELECT {cols} FROM oracle_sql) TO '{tmp}' (FORMAT parquet)")
        os.replace(tmp, path)
    con.execute(f"CREATE OR REPLACE TABLE {table} AS SELECT * FROM read_parquet('{path}')")


def data_key(data_dir: str, tables: tuple[str, ...]) -> str:
    """A hash of the tables' bytes."""
    h = hashlib.sha256()
    for t in tables:
        with open(os.path.join(data_dir, f"{t}.parquet"), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def compare(con: duckdb.DuckDBPyConnection, result, oracle_table: str) -> str | None:
    """None when ``result`` (an Arrow table) equals ``oracle_table``, else a
    one-line reason."""
    con.register("result", result)
    got, want = _columns(con, "result"), _columns(con, oracle_table)
    if sorted(got) != sorted(want):
        return f"columns spark={sorted(got)} duckdb={sorted(want)}"
    cols = sorted(got)
    bad = [c for c in cols if _family(got[c]) != _family(want[c])]
    if bad:
        return "types differ: " + ", ".join(f"{c} {got[c]} vs {want[c]}" for c in bad)
    n_got = con.execute("SELECT count(*) FROM result").fetchone()[0]
    n_want = con.execute(f"SELECT count(*) FROM {oracle_table}").fetchone()[0]
    if n_got != n_want:
        return f"rowcount spark={n_got} duckdb={n_want}"
    s = ", ".join(_norm(c, got[c]) for c in cols)
    o = ", ".join(_norm(c, want[c]) for c in cols)
    missing = con.execute(
        f"SELECT count(*) FROM (SELECT {o} FROM {oracle_table} EXCEPT ALL SELECT {s} FROM result)"
    ).fetchone()[0]
    if missing:
        return f"{missing} of {n_want} oracle rows not in the result"
    return None
