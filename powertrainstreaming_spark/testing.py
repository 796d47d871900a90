"""Local replica of the driver's t2 correctness harness.

Canonicalization follows SURVEY.md §7.5 #6 / §5.2: columns sorted by
name, each row rendered ``"|".join(str(v))``, rows sorted, md5 over the
joined lines — order-insensitive value hash, identical for Spark
``Row`` tuples and DuckDB ``fetchall`` tuples.
"""

from __future__ import annotations

import hashlib
import os
import time
from dataclasses import dataclass

import duckdb

from powertrainstreaming_spark.sources.loaders import TABLES, table_path

DEFAULT_SF_DIRS = (
    "/root/testdata/sf0.001",
    "/root/testdata/sf0.01",
)


def canonical_hash(rows: list[tuple], colnames: list[str]) -> str:
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted("|".join(str(row[i]) for i in order) for row in rows)
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def canonical_lines(rows: list[tuple], colnames: list[str]) -> list[str]:
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    return sorted("|".join(str(row[i]) for i in order) for row in rows)


def oracle_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with the fixture tables registered as views."""
    con = duckdb.connect()
    for name in TABLES:
        path = table_path(sf_dir, name)
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
            )
    return con


@dataclass
class CompareResult:
    name: str
    rows_spark: int
    rows_oracle: int
    cols_spark: list[str]
    cols_oracle: list[str]
    hash_spark: str
    hash_oracle: str

    @property
    def ok(self) -> bool:
        return (
            self.rows_spark == self.rows_oracle
            and sorted(self.cols_spark) == sorted(self.cols_oracle)
            and self.hash_spark == self.hash_oracle
        )


def compare(name, spark_df, con, oracle_sql) -> tuple[CompareResult, list[str], list[str]]:
    """Run both sides, return the comparison plus canonical lines for diffs."""
    s_rows = [tuple(r) for r in spark_df.collect()]
    s_cols = list(spark_df.columns)
    cur = con.execute(oracle_sql)
    o_cols = [d[0] for d in cur.description]
    o_rows = cur.fetchall()
    res = CompareResult(
        name=name,
        rows_spark=len(s_rows),
        rows_oracle=len(o_rows),
        cols_spark=s_cols,
        cols_oracle=o_cols,
        hash_spark=canonical_hash(s_rows, s_cols),
        hash_oracle=canonical_hash(o_rows, o_cols),
    )
    return res, canonical_lines(s_rows, s_cols), canonical_lines(o_rows, o_cols)


def check_queries(spark, sf_dir, names, fns, oracles) -> list[str]:
    """Run each named query and hash-compare it to its oracle, printing
    one ``name  status  seconds`` line per query as it finishes.
    ``fns`` maps name → ``fn(spark, sf_dir)``; a name without an entry
    in ``oracles`` is run rows-only.  Errors are reported and the loop
    continues.  Returns the names that mismatched or raised."""
    failures = []
    with oracle_connection(sf_dir) as con:
        for name in names:
            t0 = time.perf_counter()
            try:
                df = fns[name](spark, sf_dir)
                if name not in oracles:
                    status = f"rows-only ({df.count()} rows)"
                else:
                    res, _, _ = compare(name, df, con, oracles[name])
                    status = "ok" if res.ok else (
                        f"MISMATCH rows {res.rows_spark}/{res.rows_oracle} "
                        f"hash {res.hash_spark[:8]}/{res.hash_oracle[:8]}"
                    )
                    if not res.ok:
                        failures.append(name)
            except Exception as exc:  # noqa: BLE001 — report and continue
                status = f"ERROR {type(exc).__name__}: {exc}"
                failures.append(name)
            print(
                f"{name:40s} {status:30s} {time.perf_counter() - t0:6.1f}s",
                flush=True,
            )
    return failures
