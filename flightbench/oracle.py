"""Output checks that never run through `domanda_etl_spark`: DuckDB reads
the parquet files of one table version straight from disk and compares
them with the generator's model or with the engine's query answers."""

from __future__ import annotations

import duckdb

from lake import PRICE_COL, SUPPLIERS, TAX_COL

TOTALS_KEYS = ["rows", "final_sum"] + [
    f"{s}.{k}" for s in SUPPLIERS for k in ("price_n", "price_sum", "tax_n", "tax_sum")
]


class Oracle:
    def __init__(self, temp_dir: str):
        self.con = duckdb.connect(config={"temp_directory": temp_dir,
                                          "autoinstall_known_extensions": False})

    def close(self) -> None:
        self.con.close()

    def totals(self, files: list[str]) -> dict:
        cols = ", ".join(
            f"count({PRICE_COL[s]}), sum({PRICE_COL[s]}), count({TAX_COL[s]}), sum({TAX_COL[s]})"
            for s in SUPPLIERS
        )
        row = self.con.execute(
            f"SELECT count(*), sum(CAST(final_price AS BIGINT)), {cols} FROM read_parquet(?)", [files]
        ).fetchone()
        return {k: int(v or 0) for k, v in zip(TOTALS_KEYS, row)}

    def batch_problems(self, files: list[str], expected: dict) -> list[str]:
        """Daily load: model totals, one row per dedup group, no NULL gds_type."""
        got = self.totals(files)
        bad = [f"{k}: expected {expected[k]}, got {got[k]}" for k in TOTALS_KEYS if got[k] != expected[k]]
        groups, null_gds = self.con.execute(
            "SELECT (SELECT count(*) FROM (SELECT DISTINCT * EXCLUDE (creation_time) FROM read_parquet($f))),"
            " (SELECT count(*) FROM read_parquet($f) WHERE gds_type IS NULL)",
            {"f": files},
        ).fetchone()
        if groups != got["rows"]:
            bad.append(f"dedup groups {groups} != rows {got['rows']}")
        if null_gds:
            bad.append(f"{null_gds} rows with NULL gds_type")
        return bad

    def load(self, name: str, files: list[str], columns: str) -> None:
        """Copy the queried columns of one table version's files into
        DuckDB once, so each query check does not re-read them."""
        self.con.execute(f"CREATE OR REPLACE TABLE {name} AS SELECT {columns} FROM read_parquet(?)", [files])

    def query(self, sql: str, name: str) -> list[tuple]:
        return self.con.execute(sql.format(t=name)).fetchall()


def same_rows(a: list[tuple], b: list[tuple]) -> bool:
    def norm(rows):
        return sorted(
            (tuple((v is None, float(v) if isinstance(v, (int, float)) else v) for v in r) for r in rows),
            key=repr,
        )

    return norm(a) == norm(b)
