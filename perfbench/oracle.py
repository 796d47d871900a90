"""DuckDB oracle hashes for every oracle-backed benchmark check.

Runs in a process that never starts a JVM (an oracle timed next to a
live Spark JVM reads several times slow), and prints one JSON object
``{check_key: canonical_hash}`` for the fixture dir given::

    python3 perfbench/oracle.py <sf_dir>
"""

from __future__ import annotations

import json
import os
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def oracle_hashes(sf_dir: str) -> dict[str, str]:
    from ops import oracle_keys

    from powertrainstreaming_spark.plans.registry import get_query
    from powertrainstreaming_spark.testing import canonical_hash, oracle_connection

    con = oracle_connection(sf_dir)
    out = {}
    for check, key in oracle_keys().items():
        if key is None:
            continue
        cur = con.execute(get_query(key).oracle)
        cols = [d[0] for d in cur.description]
        out[check] = canonical_hash(cur.fetchall(), cols)
    return out


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit("usage: oracle.py <sf_dir>")
    print(json.dumps(oracle_hashes(sys.argv[1]), sort_keys=True))
