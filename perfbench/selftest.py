"""Benchmark self-test: exact counts repeat on one seed and change on another.

    python3 perfbench/selftest.py [workload ...]

For each workload (default: every workload in BENCHMARK.json) it runs
``perfbench/run.py`` three times, on seed A twice and seed B once, and
compares the ``COUNTS`` line each run prints: Spark jobs and stages,
checkpoint files and per-iteration batch/fresh counts for crawls, valid
rows and near-duplicate pairs for ``payload_validate``. Every run must also
pass its own output check. Exits non-zero on the first violation.
"""

from __future__ import annotations

import json
import subprocess
import sys

SEED_A, SEED_B = 101, 202


def counts(workload: str, seed: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", "0"]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=300)
    lines = out.stdout.splitlines()
    result = json.loads(lines[-1])
    if out.returncode != 0 or not result["correct"]:
        sys.exit(f"{workload} seed {seed}: run failed\n{out.stderr[-2000:]}")
    found = [ln[len("COUNTS "):] for ln in lines if ln.startswith("COUNTS ")]
    return json.loads(found[0])


def main(argv: list[str]) -> int:
    if argv:
        workloads = argv
    else:
        with open("BENCHMARK.json") as f:
            workloads = [w["name"] for w in json.load(f)["workloads"]]
    for w in workloads:
        a1, a2, b = counts(w, SEED_A), counts(w, SEED_A), counts(w, SEED_B)
        print(f"{w}: seed {SEED_A} {a1}\n{w}: seed {SEED_A} {a2}\n{w}: seed {SEED_B} {b}")
        if a1 != a2:
            sys.exit(f"{w}: counts differ between two runs on seed {SEED_A}")
        changed = [k for k in a1 if a1[k] != b.get(k)]
        # Spark job and stage counts follow the plan, not the data, so only
        # the data-dependent counts must move with the seed
        if not [k for k in changed if k not in ("jobs", "stages")]:
            sys.exit(f"{w}: no data count changed between seeds {SEED_A} and {SEED_B}")
        print(f"{w}: OK (same on repeat; changed with seed: {changed})")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
