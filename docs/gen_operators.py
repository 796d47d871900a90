"""Render docs/OPERATORS.md from the query registry.

    python docs/gen_operators.py > docs/OPERATORS.md

Each row cites its implementation as `module.py::function`, which stays
valid when code above the function moves.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from powertrainstreaming_spark.plans.registry import all_defs


def render() -> str:
    rows = []
    for name, qd in all_defs().items():
        fn = qd.fn
        mod = fn.__module__.replace("powertrainstreaming_spark.", "")
        oracle = "SQL hash" if qd.oracle else "rows-only"
        rows.append(
            (qd.tier, name, f"{mod.replace('.', '/')}.py::{fn.__name__}", oracle)
        )

    rows.sort(key=lambda r: (r[0], r[1]))
    out = ["# Operator inventory",
           "",
           "Every registered query, its tier (SURVEY.md §2), implementation site,",
           "and driver-check mode.  Generated from `plans/registry.py` — the",
           "registry is the source of truth; regenerate with",
           "`python docs/gen_operators.py > docs/OPERATORS.md`.",
           "",
           "| Tier | Query key | Implementation | Check |",
           "|---|---|---|---|"]
    for tier, name, where, oracle in rows:
        out.append(f"| {tier} | `{name}` | `powertrainstreaming_spark/{where}` | {oracle} |")
    out.append("")
    out.append(f"Total: {len(rows)} queries "
               f"({sum(1 for r in rows if r[3]=='SQL hash')} SQL-hash-checked, "
               f"{sum(1 for r in rows if r[3]=='rows-only')} rows-only).")
    return "\n".join(out) + "\n"


if __name__ == "__main__":
    sys.stdout.write(render())
