"""Expected results from the DuckDB oracle, hashed the way
``scripts/verify_driver.py`` hashes them, and cached per checkout.

Expected values come from DuckDB only, never from the engine. Some oracle
queries are slow (``q_winnow_pairs`` takes about 8 s), so hashes are
cached in a JSON file. The cache key covers everything the hash depends
on: the oracle SQL, the bytes of the input tables, the DuckDB version and
the source of the hashing functions.
"""

from __future__ import annotations

import hashlib
import inspect
import json
import os
import sys
from importlib import metadata

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def _hashing():
    if os.path.join(ROOT, "scripts") not in sys.path:
        sys.path.insert(0, os.path.join(ROOT, "scripts"))
    from verify_driver import _canon, _value_hash

    return _canon, _value_hash


def data_digest(sf_dir: str) -> str:
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(sf_dir, f"{t}.parquet"), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def environment_digest() -> str:
    """The DuckDB version and the source of the hashing functions."""
    h = hashlib.sha256(metadata.version("duckdb").encode())
    for fn in _hashing():
        h.update(inspect.getsource(fn).encode())
    return h.hexdigest()


def cache_key(sql: str, digest: str) -> str:
    return hashlib.sha256(f"{digest}\n{sql}".encode()).hexdigest()


def compute(sf_dir: str, sqls: dict[str, str]) -> dict[str, dict]:
    """Run each oracle SQL in DuckDB and hash its canonical frame."""
    import duckdb

    _canon, _value_hash = _hashing()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"'{os.path.join(sf_dir, t)}.parquet'"
        )
    out = {}
    for key, sql in sqls.items():
        pdf = con.execute(sql).df()
        out[key] = {"columns": sorted(pdf.columns), "rows": len(pdf),
                    "hash": _value_hash(_canon(pdf))}
    con.close()
    return out


def expected(sf_dir: str, sqls: dict[str, str], cache_path: str) -> dict:
    """Oracle hashes by operation, computing and caching the missing ones."""
    digest = f"{data_digest(sf_dir)}\n{environment_digest()}"
    keys = {op: cache_key(sql, digest) for op, sql in sqls.items()}
    try:
        with open(cache_path) as f:
            cache = json.load(f)
    except (OSError, ValueError):
        cache = {}
    missing = {k: sqls[op] for op, k in keys.items() if k not in cache}
    if missing:
        cache.update(compute(sf_dir, missing))
        os.makedirs(os.path.dirname(cache_path), exist_ok=True)
        tmp = f"{cache_path}.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(cache, f)
        os.replace(tmp, cache_path)
    return {op: cache[k] for op, k in keys.items()}


def compare(check: dict, expected: dict | None) -> str | None:
    """None when the engine's result matches the oracle, else the reason."""
    if check.get("error"):
        return check["error"]
    if expected is None:
        return "no oracle"
    if check["columns"] != expected["columns"]:
        return f"columns {check['columns']} vs {expected['columns']}"
    if check["rows"] != expected["rows"]:
        return f"rows {check['rows']} vs {expected['rows']}"
    if check["hash"] != expected["hash"]:
        return "values differ"
    return None
