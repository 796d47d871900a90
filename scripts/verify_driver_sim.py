"""Vanilla-session driver simulation (.claude/skills/verify recipe §1).

Mimics the external driver exactly: a VANILLA SparkSession (no repo
confs — probes that sources.loaders self-set nanosAsLong/UTC), then
`entry()` plus the first-50 `queries()` window hash-checked against
`oracle_sql()` via DuckDB at sf0.01.  Extra names may be passed as
argv to also check specific queries beyond the window.

    python scripts/verify_driver_sim.py [query_name ...]
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

os.environ["TZ"] = "UTC"
time.tzset()
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
WINDOW = 50  # the driver checks the first 50 queries() entries only


def main() -> int:
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.master("local[8]").getOrCreate()

    import __spark_entry__ as e
    from powertrainstreaming_spark.testing import check_queries

    rows = e.entry(spark).collect()
    assert len(rows) >= 0 and len(rows[0].__fields__) > 0
    print(f"entry(): {len(rows)} rows OK", flush=True)

    qs = e.queries()
    oracles = e.oracle_sql()
    names = list(qs)[:WINDOW] + [a for a in sys.argv[1:] if a in qs]
    failures = check_queries(spark, SF, names, qs, oracles)
    print(f"\n{len(names)} checked, {len(failures)} failures: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
