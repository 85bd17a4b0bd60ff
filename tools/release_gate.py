"""The end-of-round release gate — run this at the FINAL commit, in order.

The repeated defect of rounds 6-8 (VERDICT r8, "What's wrong" item 2) was
structural, not accidental: docs and sweeps froze mid-round, then more
operators landed, and the recorded counts drifted from HEAD three rounds
running. The fix is a single command that runs every release check against
whatever the registry says RIGHT NOW and refuses to summarize unless all of
them exit clean:

    python tools/release_gate.py            # full gate (~50 min on local[32])
    python tools/release_gate.py --fast     # pytest + count check only

Order (each step is a subprocess so one bad Spark session can't poison the
next, and each writes its own log under .tmp/):

1. ``pytest tests/ -q``                       — engine + contract tests
2. ``tools/check.py  $SF01_DIR``              — full sf0.1 DuckDB-oracle sweep
   (the harness that caught the only latent bugs of rounds 4-6; the driver
   itself only checks sf0.01)
3. ``tools/determinism.py $SF001_DIR``        — every query (including the
   rows-only entries the oracle harness can't value-check) hashed under two
   shuffle-partition counts
4. count-triple check                         — len(queries()) / len(oracle_sql())
   counted from a FRESH import and printed as the one line BASELINE.md's
   round section must quote

Exit 0 only if every step passed; the summary block at the end is written
to ``.tmp/release_gate_summary.txt`` ready to be transcribed into
BASELINE.md's round section.
"""

from __future__ import annotations

import os
import re
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TMP = os.path.join(REPO, ".tmp")
SF01_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SF001_DIR = os.environ.get("SPARK_GRAFT_DET_DIR", "/root/testdata/sf0.01")


def _run(name: str, cmd: list[str]) -> tuple[int, str]:
    os.makedirs(TMP, exist_ok=True)
    log = os.path.join(TMP, f"release_gate_{name}.log")
    t0 = time.time()
    with open(log, "w") as fh:
        rc = subprocess.run(cmd, cwd=REPO, stdout=fh, stderr=subprocess.STDOUT).returncode
    dt = time.time() - t0
    print(f"[gate] {name}: exit {rc} in {dt / 60:.1f} min ({log})", flush=True)
    return rc, log


def _grep_tail(log: str, pattern: str) -> str:
    text = open(log, errors="replace").read().replace("\r", "\n")
    hits = re.findall(pattern, text)
    return hits[-1] if hits else "<not found>"


def main() -> int:
    fast = "--fast" in sys.argv
    results: list[tuple[str, int, str]] = []

    rc, log = _run("pytest", [sys.executable, "-m", "pytest", "tests/", "-q"])
    results.append(("pytest", rc, _grep_tail(log, r"\d+ passed[^\n]*")))

    if not fast:
        # --dump: any failing comparison leaves its full per-row symmetric
        # difference in .tmp/diff_<name>.txt (divergence forensics, r10)
        rc, log = _run("sweep_sf01", [sys.executable, "tools/check.py", "--dump", SF01_DIR])
        results.append((f"oracle sweep @ {SF01_DIR}", rc, _grep_tail(log, r"\d+ failures[^\n]*")))
        if rc != 0:
            print(f"[gate] sweep FAILED — per-query row diffs under {TMP}/diff_*.txt", flush=True)

        rc, log = _run("determinism", [sys.executable, "tools/determinism.py", SF001_DIR])
        results.append((f"determinism @ {SF001_DIR}", rc, _grep_tail(log, r"\d+ failures[^\n]*")))

        # fresh-process-per-query × core-count matrix over the driver-red
        # families (the axes the in-process determinism sweep cannot vary)
        rc, log = _run(
            "isolation_matrix", [sys.executable, "tools/isolation_matrix.py", SF001_DIR]
        )
        results.append(
            (f"isolation matrix @ {SF001_DIR}", rc, _grep_tail(log, r"\d+ failing cells[^\n]*"))
        )

        # registry-wide physical-plan census: every batch plan must build
        # and contain zero CartesianProduct nodes (late r12 — the
        # "no all-pairs on a data path" claim as an enforced invariant)
        rc, log = _run(
            "plan_census", [sys.executable, "tools/plan_census.py", "--assert"]
        )
        results.append(
            ("plan census (no cartesian)", rc, _grep_tail(log, r"\d+ cartesians[^\n]*"))
        )

    # Count triple from a FRESH interpreter — the number BASELINE.md quotes.
    count_code = (
        "import __spark_entry__ as e; q=e.queries(); o=e.oracle_sql(); "
        "print(f'{len(q)} queries / {len(o)} oracle-checked / {len(q)-len(o)} rows-only')"
    )
    proc = subprocess.run(
        [sys.executable, "-c", count_code], cwd=REPO, capture_output=True, text=True
    )
    triple = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else "<import failed>"
    results.append(("registry count triple", proc.returncode, triple))

    lines = ["release gate @ " + time.strftime("%Y-%m-%d %H:%M UTC", time.gmtime())]
    ok = True
    for name, rc, summary in results:
        ok = ok and rc == 0
        lines.append(f"  {'PASS' if rc == 0 else 'FAIL'}  {name}: {summary}")
    lines.append("GATE " + ("GREEN — transcribe into BASELINE.md" if ok else "RED — do NOT record"))
    out = "\n".join(lines)
    print(out, flush=True)
    with open(os.path.join(TMP, "release_gate_summary.txt"), "w") as fh:
        fh.write(out + "\n")
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
