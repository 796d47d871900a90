"""Full-surface sf0.1 oracle sweep (the README's standing claim).

The driver gate runs at sf0.01; this sweep re-verifies EVERY registered
query against its DuckDB oracle at 10x that scale, where boundary/tie/
duplicate latents live (it caught two in round 2).  Run per round:

    python scripts/sweep_sf01.py

Prints one line per query; exits non-zero on any mismatch.
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

os.environ["TZ"] = "UTC"
time.tzset()
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

# Honors bench.py's SPARK_GRAFT_SF_DIR knob; SPARK_GRAFT_SWEEP_DIR is a
# sweep-specific override that wins when both are set.  Default: 10x gate.
SF = os.environ.get(
    "SPARK_GRAFT_SWEEP_DIR",
    os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
)


def main() -> int:
    from powertrainstreaming_spark.plans.registry import all_defs
    from powertrainstreaming_spark.session import get_spark
    from powertrainstreaming_spark.testing import check_queries

    spark = get_spark(app_name="pts-sweep-sf01")
    defs = all_defs()
    failures = check_queries(
        spark,
        SF,
        list(defs),
        {name: qd.fn for name, qd in defs.items()},
        {name: qd.oracle for name, qd in defs.items() if qd.oracle is not None},
    )
    print(f"\n{len(defs)} queries, {len(failures)} failures: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
