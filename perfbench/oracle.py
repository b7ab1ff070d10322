"""DuckDB oracle answers for the query workloads, cached in the
benchmark's work directory.

Some oracles are slow (qb2's recursive connected-components SQL takes
about a minute), so each answer is computed once per checkout and
stored under a key that hashes the oracle SQL, the input tables' bytes
and the DuckDB version: a change to any of them recomputes it.

Checks go through ``rastercube_spark.testing.compare``, the repo's own
oracle harness, fed the rows the timed operation already collected, so
the verdict uses the repo's normalisation and exact float equality.
"""

from __future__ import annotations

import hashlib
import os
import pickle

DATA_TABLES = ("documents", "embeddings", "part")


class _Rows:
    """Collected rows with the members ``compare`` reads from a Spark
    DataFrame (``columns``, ``collect``) and a DuckDB relation
    (``columns``, ``fetchall``)."""

    def __init__(self, columns: list[str], rows: list[tuple]):
        self.columns = columns
        self._rows = rows

    def collect(self) -> list[tuple]:
        return self._rows

    fetchall = collect


class _CachedCon:
    """Stands in for the DuckDB connection ``compare`` queries."""

    def __init__(self, answer: _Rows):
        self._answer = answer

    def sql(self, _sql: str) -> _Rows:
        return self._answer


class OracleCache:
    def __init__(self, sf_dir: str, cache_dir: str):
        import duckdb

        self.sf_dir = sf_dir
        self.cache_dir = cache_dir
        h = hashlib.sha256(duckdb.__version__.encode())
        for t in DATA_TABLES:
            with open(os.path.join(sf_dir, f"{t}.parquet"), "rb") as f:
                h.update(f.read())
        self._data_key = h.hexdigest()
        self._answers: dict[str, _Rows] = {}

    def _path(self, name: str, sql: str) -> str:
        key = hashlib.sha256((self._data_key + sql).encode()).hexdigest()[:24]
        return os.path.join(self.cache_dir, f"{name}.{key}.pkl")

    def missing(self, oracles: dict[str, str]) -> dict[str, str]:
        return {n: s for n, s in oracles.items() if not os.path.exists(self._path(n, s))}

    def ensure(self, oracles: dict[str, str]) -> int:
        """Compute and store every missing answer; return how many were
        computed."""
        import duckdb

        missing = self.missing(oracles)
        if not missing:
            return 0
        os.makedirs(self.cache_dir, exist_ok=True)
        con = duckdb.connect()
        try:
            for t in DATA_TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{self.sf_dir}/{t}.parquet')"
                )
            for name, sql in sorted(missing.items()):
                rel = con.sql(sql)
                answer = (list(rel.columns), rel.fetchall())
                path = self._path(name, sql)
                with open(path + ".tmp", "wb") as f:
                    pickle.dump(answer, f)
                os.replace(path + ".tmp", path)
        finally:
            con.close()
        return len(missing)

    def answer(self, name: str, sql: str) -> _Rows:
        if name not in self._answers:
            # only files this class wrote, keyed by content hash
            with open(self._path(name, sql), "rb") as f:
                cols, rows = pickle.load(f)
            self._answers[name] = _Rows(cols, rows)
        return self._answers[name]

    def check(self, name: str, sql: str, columns: list[str], rows: list[tuple]) -> dict:
        from rastercube_spark.testing import compare

        return compare(
            _Rows(columns, rows), _CachedCon(self.answer(name, sql)), sql
        )
