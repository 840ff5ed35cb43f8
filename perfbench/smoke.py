"""Toy-size smoke check of the benchmark: every workload, untraced and
traced, on R-MAT scale-8 inputs; each run must exit 0, report correct
results and print every metric BENCHMARK.json names.

    python3 perfbench/smoke.py        # from the repository root
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def main() -> int:
    with open(ROOT / "BENCHMARK.json") as f:
        spec = json.load(f)
    bad = 0
    for w in spec["workloads"]:
        for trace, section in ((0, "end_to_end"), (1, "per_layer")):
            cmd = [*spec["command"], "--workload", w["name"], "--seed", "1",
                   "--seconds", "1", "--trace", str(trace), "--toy"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                               timeout=300)
            lines = p.stdout.strip().splitlines()
            result = json.loads(lines[-1]) if p.returncode == 0 and lines else {}
            want = {m["name"]: m["unit"] for m in spec[section]}
            got = {k: v["unit"] for k, v in result.get("metrics", {}).items()}
            ok = result.get("correct") is True and got == want
            bad += not ok
            print(f"{'ok  ' if ok else 'FAIL'} {w['name']} trace={trace}"
                  f" exit={p.returncode} metrics={len(got)}/{len(want)}")
            if not ok:
                print(p.stdout[-2000:], p.stderr[-2000:], sep="\n")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
