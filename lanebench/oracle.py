"""Result checks against the DuckDB value oracles.

Every result is hashed with ``canon`` from ``scripts/driver_sim.py``, the
simulator of the correctness check of ``__spark_entry__``, and compared
with the hash of the query's oracle SQL run through DuckDB over the same
fixtures. All of
this happens outside the timed regions.

Oracle hashes are cached on disk under a key made of the query name, its
SQL text and the fixture directory. Within a run, a result whose
order-insensitive row fingerprint was already verified for the same
query is accepted without re-running ``canon``; any other result gets the
full comparison."""

from __future__ import annotations

import ast
import hashlib
import json
import os
from collections.abc import Callable

import pandas as pd


def load_canon(repo: str) -> Callable[[pd.DataFrame], str]:
    """The ``canon`` function of ``scripts/driver_sim.py``, taken from its
    source (importing the script would run the whole simulation)."""
    path = os.path.join(repo, "scripts", "driver_sim.py")
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    fn = next(n for n in tree.body
              if isinstance(n, ast.FunctionDef) and n.name == "canon")
    ns = {"pd": pd, "hashlib": hashlib}
    exec(compile(ast.Module([fn], []), path, "exec"), ns)
    return ns["canon"]


def fingerprint(pdf: pd.DataFrame) -> str | None:
    """Order-insensitive digest of a result's rows, column names and
    dtypes; ``None`` when a cell type cannot be hashed this way."""
    try:
        rows = pd.util.hash_pandas_object(pdf, index=False).to_numpy().copy()
    except TypeError:
        return None
    rows.sort()
    head = "|".join(f"{c}:{t}" for c, t in zip(pdf.columns, pdf.dtypes))
    return hashlib.sha256(head.encode() + rows.tobytes()).hexdigest()


class Oracle:
    def __init__(self, repo: str, sf_dir: str, cache_dir: str):
        self.canon = load_canon(repo)
        self.sf_dir = sf_dir
        self.cache_dir = cache_dir
        self._con = None
        self._verified: dict[str, set[str]] = {}

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None

    def _duck(self):
        if self._con is None:
            import duckdb
            from shippinglanes_spark.io import TABLES

            self._con = duckdb.connect()
            self._con.sql("SET threads=2")
            self._con.sql("SET memory_limit='2GB'")
            for t in TABLES:  # the names the oracle SQL uses
                self._con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                              f"read_parquet('{self.sf_dir}/{t}.parquet')")
        return self._con

    def summary(self, pdf: pd.DataFrame) -> dict:
        return {"rows": len(pdf), "cols": sorted(map(str, pdf.columns)),
                "hash": self.canon(pdf)}

    def expected(self, name: str, sql: str) -> dict:
        key = hashlib.sha256(
            "\0".join((name, sql, self.sf_dir)).encode()).hexdigest()
        path = os.path.join(self.cache_dir, f"{name}-{key[:16]}.json")
        try:
            with open(path) as f:
                return json.load(f)
        except FileNotFoundError:
            pass
        want = self.summary(self._duck().sql(sql).df())
        os.makedirs(self.cache_dir, exist_ok=True)
        with open(path + ".part", "w") as f:
            json.dump(want, f)
        os.replace(path + ".part", path)
        return want

    def check(self, name: str, sql: str, pdf: pd.DataFrame) -> bool:
        """True when ``pdf`` matches the oracle's row count, column names
        and canonical hash."""
        fp = fingerprint(pdf)
        seen = self._verified.setdefault(name, set())
        if fp is not None and fp in seen:
            return True
        if self.summary(pdf) != self.expected(name, sql):
            return False
        if fp is not None:
            seen.add(fp)
        return True
