"""Smoke check: every workload at its tiny size, untraced and traced.

    python3 perfbench/smoke.py

Runs the whole benchmark command per (workload, trace) with ``--size
smoke`` and asserts that it exits 0, that the oracle checks pass, and that
every metric ``BENCHMARK.json`` names appears with its unit. Takes a few
minutes, most of it JVM start-up.
"""

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bad = []
    for w in bench["workloads"]:
        for trace, kinds in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
            cmd = bench["command"] + [
                "--workload", w["name"], "--seed", "7", "--seconds", "1",
                "--trace", str(trace), "--size", "smoke",
            ]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            label, n_bad = f"{w['name']} trace={trace}", len(bad)
            if p.returncode != 0:
                bad.append(f"{label}: exit {p.returncode}: {p.stderr[-2000:]}")
                continue
            res = json.loads(p.stdout.strip().splitlines()[-1])
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                bad.append(f"{label}: correct={res['correct']} failed={res['failed']}")
            want = {k["name"]: k["unit"] for k in kinds}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want:
                bad.append(f"{label}: metrics differ from BENCHMARK.json: "
                           f"missing {sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}")
            print(f"{label}: ok={len(bad) == n_bad} attempted={res['attempted']}", flush=True)
    for b in bad:
        print("FAIL", b)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
