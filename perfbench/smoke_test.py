#!/usr/bin/env python3
"""Benchmark smoke test: every workload once at scale factor 0.001, untraced
and traced. Asserts that each run passes all its checks and reports every
metric BENCHMARK.json names, with the unit it names.

    python3 perfbench/smoke_test.py      # from the repository root, ~4 min
"""
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main():
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    failures = []
    for w in spec["workloads"]:
        for trace, names in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            cmd = spec["command"] + ["--workload", w["name"], "--seed", "7",
                                     "--seconds", "1", "--trace", str(trace), "--sf", "0.001"]
            p = subprocess.run(cmd, cwd=REPO, stdout=subprocess.PIPE,
                               stderr=subprocess.DEVNULL, text=True)
            label = f"{w['name']} trace={trace}"
            try:
                r = json.loads(p.stdout.strip().splitlines()[-1])
            except (IndexError, json.JSONDecodeError):
                failures.append(f"{label}: no result line (exit {p.returncode})")
                continue
            if p.returncode != 0 or not r["correct"] or r["failed"] != 0:
                failures.append(f"{label}: checks failed (exit {p.returncode}, "
                                f"failed {r['failed']} of {r['attempted']})")
            for m in names:
                got = r["metrics"].get(m["name"])
                if got is None or got["unit"] != m["unit"] or got["value"] is None:
                    failures.append(f"{label}: metric {m['name']} [{m['unit']}] missing: {got}")
            extra = set(r["metrics"]) - {m["name"] for m in names}
            if extra:
                failures.append(f"{label}: metrics not in BENCHMARK.json: {sorted(extra)}")
            print(f"{label}: ok" if not any(f.startswith(label) for f in failures)
                  else f"{label}: FAILED", flush=True)
    for f in failures:
        print("FAIL", f)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
