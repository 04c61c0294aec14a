"""Independent DuckDB evaluation of every checked result.

The oracle builds its own ``triples`` table, either from the same parquet
tables the engine derives its store from (through ``TRIPLES_CTE``, the SQL
twin of ``derive_triples``) or from the rows the corpus generator wrote,
and answers each query and update with plain SQL. Results are compared by
row count and an order-insensitive fingerprint.
"""

from __future__ import annotations

import hashlib

import duckdb
import pyarrow as pa

from rippledb_spark.queries.triples import TRIPLES_CTE

_COLS = ["s", "s_kind", "p", "o_value", "o_kind", "o_lang", "o_datatype"]


def fingerprint(rows) -> tuple[int, str]:
    """(row count, hash of the sorted rows) with every value as text."""
    norm = sorted(
        tuple("\x00" if v is None else str(v) for v in r) for r in rows
    )
    return len(norm), hashlib.sha1(repr(norm).encode()).hexdigest()


class Oracle:
    def __init__(self, con: duckdb.DuckDBPyConnection):
        self.con = con

    @classmethod
    def from_tables(cls, tables_dir: str) -> "Oracle":
        con = duckdb.connect()
        for name in ("orders", "lineitem", "customer", "supplier", "nation"):
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{tables_dir}/{name}.parquet')"
            )
        con.execute(f"CREATE TABLE base AS WITH {TRIPLES_CTE.strip()} SELECT * FROM triples")
        con.execute("CREATE TABLE triples AS SELECT * FROM base")
        return cls(con)

    @classmethod
    def from_rows(cls, rows: list[tuple]) -> "Oracle":
        con = duckdb.connect()
        arrow = pa.table({c: [r[i] for r in rows] for i, c in enumerate(_COLS)})
        con.register("rows_in", arrow)
        con.execute("CREATE TABLE base AS SELECT DISTINCT * FROM rows_in")
        con.unregister("rows_in")
        con.execute("CREATE TABLE triples AS SELECT * FROM base")
        return cls(con)

    def reset(self) -> None:
        """Back to the base graph (each update chain starts from it)."""
        self.con.execute("DELETE FROM triples")
        self.con.execute("INSERT INTO triples SELECT * FROM base")

    def apply(self, statements) -> None:
        for sql in statements:
            self.con.execute(sql)

    def count(self) -> int:
        return self.con.execute("SELECT COUNT(*) FROM triples").fetchone()[0]

    def base_count(self) -> int:
        return self.con.execute("SELECT COUNT(*) FROM base").fetchone()[0]

    def expect(self, sql: str) -> tuple[int, str]:
        return fingerprint(self.con.execute(sql).fetchall())

    def base_fingerprint(self) -> tuple[int, str]:
        return self.expect(f"SELECT {', '.join(_COLS)} FROM base")

    def base_rows(self) -> list[tuple]:
        """The base graph's rows, in a fixed order."""
        return self.con.execute(f"SELECT {', '.join(_COLS)} FROM base ORDER BY ALL").fetchall()

