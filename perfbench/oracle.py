"""DuckDB references for the benchmark's correctness checks.

Every reference is computed from the landed input files alone, never from
the engine's tables, and compared with the engine's final snapshot (written
once as Parquet) as multisets: rows missing from the engine's output and
rows it has that the reference lacks are both counted.
"""

from __future__ import annotations

import duckdb


def _files(paths: list[str]) -> str:
    return "[" + ", ".join(f"'{p}'" for p in paths) + "]"


class Oracle:
    def __init__(self, memory_limit: str = "1GB"):
        self.db = duckdb.connect()
        self.db.execute("SET threads = 2")
        self.db.execute(f"SET memory_limit = '{memory_limit}'")
        self.db.execute("SET enable_progress_bar = false")

    def _diff(self, expected: str, actual: str, cols: list[str], what: str) -> list[str]:
        sel = ", ".join(cols)
        # the reference is computed once: some references are expensive
        self.db.execute(f"CREATE OR REPLACE TEMP TABLE expected AS SELECT {sel} FROM ({expected})")
        self.db.execute(f"CREATE OR REPLACE TEMP TABLE actual AS SELECT {sel} FROM ({actual})")
        out = []
        for name, a, b in (("missing", "expected", "actual"), ("unexpected", "actual", "expected")):
            n = self.db.execute(
                f"SELECT count(*) FROM (SELECT * FROM {a} EXCEPT ALL SELECT * FROM {b})"
            ).fetchone()[0]
            if n:
                out.append(f"{what}: {n} {name} rows")
        return out

    def _cols(self, final: str) -> list[str]:
        return [
            r[0]
            for r in self.db.execute(
                f"DESCRIBE SELECT * FROM read_parquet('{final}/*.parquet')"
            ).fetchall()
        ]

    def compare_latest(self, files: list[str], key: str, ver: str, final: str) -> list[str]:
        """Final snapshot == the latest version of each key over all
        batches (versions strictly increase, so the latest is unique)."""
        expected = (
            f"SELECT * EXCLUDE (_rn) FROM (SELECT *, row_number() OVER "
            f"(PARTITION BY {key} ORDER BY {ver} DESC) AS _rn "
            f"FROM read_parquet({_files(files)}, union_by_name = true)) "
            f"WHERE _rn = 1"
        )
        actual = f"SELECT * FROM read_parquet('{final}/*.parquet')"
        return self._diff(expected, actual, self._cols(final), "final snapshot")

    def compare_gold(self, customers: list[str], orders: list[str], final: str) -> list[str]:
        """Gold == latest orders joined with customers (insert-only)."""
        expected = f"""
            WITH o AS (
                SELECT * EXCLUDE (_rn) FROM (
                    SELECT *, row_number() OVER (
                        PARTITION BY order_id ORDER BY order_date DESC) AS _rn
                    FROM read_parquet({_files(orders)})) WHERE _rn = 1),
            c AS (SELECT DISTINCT * FROM read_parquet({_files(customers)}))
            SELECT c.customer_id, c.name AS customer_name, c.email,
                   o.order_id, o.name AS order_name, o.order_value
            FROM c JOIN o ON c.customer_id = o.customer_id
        """
        actual = f"SELECT * FROM read_parquet('{final}/*.parquet')"
        return self._diff(expected, actual, self._cols(final), "gold")

    def compare_sql(
        self, sql: str, views: dict[str, str], final: str, cols: list[str]
    ) -> list[str]:
        """Columns ``cols`` of the final table == ``sql`` run over the
        named Parquet inputs."""
        for name, path in views.items():
            self.db.execute(
                f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
            )
        actual = f"SELECT * FROM read_parquet('{final}/*.parquet')"
        return self._diff(sql, actual, cols, "corpus gold")
