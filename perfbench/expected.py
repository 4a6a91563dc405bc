"""Expected results from the DuckDB oracle, stored as a row count plus a digest.

A key's expected result is its ``oracle_sql()`` run by DuckDB over the same
parquet fixtures, canonicalized the way ``tests/oracle.py`` does (columns
sorted by name, every cell canonicalized, rows sorted). It is computed once
per (key, fixture directory, oracle-SQL digest) and stored in
``expected.json`` beside this file, so DuckDB never runs inside a timed
region. An entry whose SQL digest no longer matches is recomputed and kept
in a cache under the run directory, leaving the committed file as it is.
"""

from __future__ import annotations

import hashlib
import json
import os

HERE = os.path.dirname(os.path.abspath(__file__))
STORE = os.path.join(HERE, "expected.json")


def sql_digest(sql: str) -> str:
    return hashlib.sha256(sql.encode()).hexdigest()[:16]


def result_digest(pdf, canonical_rows) -> tuple[int, str]:
    """(row count, digest) of a pandas result in the oracle's canonical form."""
    h = hashlib.sha256()
    h.update("\x1f".join(sorted(map(str, pdf.columns))).encode())
    for row in canonical_rows(pdf):
        h.update(b"\x1e" + "\x1f".join(row).encode())
    return len(pdf), h.hexdigest()


class Expected:
    """Lookup of expected (rows, digest) per key for one fixture directory."""

    def __init__(self, fixture: str, oracle_sql: dict[str, str], cache_path: str):
        self._fixture = fixture
        self._sql = oracle_sql
        self._cache_path = cache_path
        self._entries: dict[str, dict] = {}
        for path in (STORE, cache_path):
            if os.path.exists(path):
                with open(path) as fh:
                    self._entries.update(json.load(fh).get(fixture, {}))

    def _stale(self, key: str) -> bool:
        entry = self._entries.get(key)
        return entry is None or entry["sql"] != sql_digest(self._sql[key])

    def compute(self, keys, sf_dir: str, duckdb_connect, canonical_rows) -> None:
        """Run the oracle for every stale key and cache the results."""
        stale = [k for k in keys if self._stale(k)]
        if not stale:
            return
        con = duckdb_connect(sf_dir)
        try:
            for key in stale:
                rows, digest = result_digest(con.sql(self._sql[key]).df(), canonical_rows)
                self._entries[key] = {"sql": sql_digest(self._sql[key]), "rows": rows, "digest": digest}
        finally:
            con.close()
        self._save(self._cache_path, stale)

    def _save(self, path: str, keys) -> None:
        data = {}
        if os.path.exists(path):
            with open(path) as fh:
                data = json.load(fh)
        data.setdefault(self._fixture, {}).update({k: self._entries[k] for k in keys})
        for fixture in data:
            data[fixture] = dict(sorted(data[fixture].items()))
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(data, fh, indent=1, sort_keys=True)
            fh.write("\n")

    def get(self, key: str) -> tuple[int, str]:
        entry = self._entries[key]
        return entry["rows"], entry["digest"]


def main() -> None:
    """Fill ``expected.json`` for every workload key missing from it, at every fixture."""
    import sys

    import workloads

    root = os.path.dirname(HERE)
    sys.path.insert(0, root)
    import __spark_entry__ as em
    from tests.oracle import canonical_rows, duckdb_connect

    oracle_sql = em.oracle_sql()
    keys = sorted({k for w in workloads.WORKLOADS.values() for k in w["keys"]})
    for fixture in sorted(os.listdir(os.path.join(HERE, "data"))):
        exp = Expected(fixture, oracle_sql, STORE)
        exp.compute(keys, os.path.join(HERE, "data", fixture), duckdb_connect, canonical_rows)
        print(f"{fixture}: {len(keys)} keys")


if __name__ == "__main__":
    main()
