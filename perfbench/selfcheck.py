"""Smoke self-check: every named metric prints, with its unit, on the
smallest inputs.

    python3 perfbench/selfcheck.py

Run from the root of a source checkout. For each workload in BENCHMARK.json
it runs ``run.py --size smoke`` once untraced and once traced, and checks
that the last stdout line is the result object, that the outputs were
correct, and that the metrics are exactly the ``end_to_end`` (untraced) or
``per_layer`` (traced) names of BENCHMARK.json with the same units. Exits
non-zero on the first mismatch.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys


def main() -> int:
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    run = [*spec["command"], "--size", "smoke"]
    for wl in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            args = [*run, "--workload", wl["name"], "--seed", "1", "--seconds", "1",
                    "--trace", str(trace)]
            proc = subprocess.run(args, capture_output=True, text=True, timeout=300)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                print(f"FAIL {wl['name']} trace={trace}: exit {proc.returncode}\n"
                      f"{proc.stderr[-2000:]}")
                return 1
            result = json.loads(lines[-1])
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            problems = []
            if set(result) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"result keys {sorted(result)}")
            if not result["correct"] or result["failed"]:
                problems.append(f"outputs not correct: {result['failed']} failed")
            if got != want:
                missing = sorted(set(want) - set(got))
                extra = sorted(set(got) - set(want))
                units = sorted(k for k in set(want) & set(got) if want[k] != got[k])
                problems.append(f"missing={missing} extra={extra} unit_mismatch={units}")
            status = "FAIL" if problems else "ok  "
            print(f"{status} {wl['name']} trace={trace}: {len(got)} metrics "
                  f"{'; '.join(problems)}")
            if problems:
                return 1
    return 0


if __name__ == "__main__":
    if not os.path.isfile("BENCHMARK.json"):
        sys.exit("run from the root of the checkout (BENCHMARK.json not found)")
    sys.exit(main())
