"""Pin the expected output hashes in ``expected.json``.

For each generated fixture (every op group's scale and the smoke
test's) it drops the old entry, so that ``run.py`` computes
the DuckDB oracle hashes in a JVM-free process, and runs every workload
once against them: a run that fails any check aborts the pinning, so an
entry is only written for a fixture on which the engine matches the
oracle (stream replays included).  The run's hashes of the rows-only
ops, which have no oracle, are pinned as they are.

    python3 perfbench/pin.py

Re-run it only after an intentional change to a checked op's output.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import fixtures  # noqa: E402
from run import GROUP_SF, WORK, WORKLOADS  # noqa: E402

SMOKE_SF = 0.001


def _run(workload: str, sf_dir: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "0", "--seconds", "0", "--sf-dir", sf_dir]
    out = subprocess.run(cmd, cwd=ROOT, check=True, capture_output=True, text=True).stdout
    lines = out.strip().splitlines()
    result = json.loads(lines[-1])
    host = json.loads(next(x for x in lines if x.startswith("perfbench-host "))[15:])
    if not result["correct"]:
        sys.exit(f"{workload} on {sf_dir} failed its checks: {host['errors']}")
    return host["hashes"]


def main() -> None:
    gen = os.path.join(WORK, "fixtures")
    sf_dirs = [fixtures.ensure(gen, sf) for sf in sorted({SMOKE_SF, *GROUP_SF.values()})]

    path = os.path.join(HERE, "expected.json")
    with open(path) as f:
        pinned = json.load(f)
    for sf_dir in sf_dirs:
        fid = fixtures.fixture_id(sf_dir)
        pinned.pop(fid, None)
        cached_oracle = os.path.join(WORK, f"oracle-{fid}.json")
        if os.path.exists(cached_oracle):
            os.remove(cached_oracle)
        with open(path, "w") as f:
            json.dump(pinned, f, indent=1, sort_keys=True)
        hashes: dict[str, str] = {}
        for workload in sorted(WORKLOADS):
            print(f"pin: {workload} on {sf_dir}", file=sys.stderr)
            hashes.update(_run(workload, sf_dir))
        label = os.path.basename(sf_dir.rstrip("/"))
        pinned[fid] = {"fixture": label, "hashes": dict(sorted(hashes.items()))}
        with open(path, "w") as f:
            json.dump(pinned, f, indent=1, sort_keys=True)
            f.write("\n")


if __name__ == "__main__":
    main()
