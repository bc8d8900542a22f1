#!/usr/bin/env python3
"""Self-test of the benchmark at sf0.001.

    python3 perfbench/selftest.py

For each workload: one short run must pass every output check and print
every end-to-end metric named in BENCHMARK.json with its unit; a second
run with one deliberately corrupted result must count that op as failed
(``failed`` >= 1, ``ok_frac`` < 1). A traced run of one workload must
print every per-layer metric. Exits non-zero on the first violation.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def run(workload: str, *extra: str, trace: int = 0) -> dict:
    cmd = [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--sf", "0.001", *extra]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        sys.exit(f"FAIL {workload} {extra}: exit {out.returncode}\n{out.stderr[-3000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def expect(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        sys.exit(1)


def main() -> None:
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    for w in (x["name"] for x in SPEC["workloads"]):
        r = run(w)
        got = {k: v["unit"] for k, v in r["metrics"].items()}
        expect(got == want, f"{w}: every end-to-end metric with its unit")
        expect(r["correct"] and r["failed"] == 0, f"{w}: all {r['attempted']} ops pass")
        expect(all(v["value"] > 0 for v in r["metrics"].values()), f"{w}: no metric reads 0")
        bad = run(w, "--corrupt")
        expect(bad["failed"] >= 1 and not bad["correct"]
               and bad["metrics"]["ok_frac"]["value"] < 1,
               f"{w}: a corrupted result fails its check ({bad['failed']} failed)")
    layers = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    r = run(SPEC["workloads"][0]["name"], trace=1)
    got = {k: v["unit"] for k, v in r["metrics"].items()}
    expect(got == layers, "traced run: every per-layer metric with its unit")


if __name__ == "__main__":
    main()
