#!/usr/bin/env python3
"""The benchmark's own tests.

    python3 perfbench/selftest.py

1. Smoke: each workload runs for one second with tracing off and must pass
   its checks and print every end-to-end metric of BENCHMARK.json with a
   non-zero value; one traced run must print every per-layer metric.
2. Negative audit: with a producer that drops one record, and with one that
   duplicates one record, the drain must fail its broker audit (exit code 1,
   "correct": false) and name the fault.
Exits non-zero when any test fails.
"""
import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def run(workload, trace=0, fault="none"):
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
                        "--seconds", "1", "--trace", str(trace), "--fault", fault],
                       cwd=ROOT, capture_output=True, text=True)
    lines = r.stdout.strip().splitlines()
    detail = json.loads(lines[-2])["detail"] if len(lines) >= 2 else {}
    return r.returncode, (json.loads(lines[-1]) if lines else {}), detail, r.stderr


def main():
    failures = []

    def check(name, ok, why=""):
        print(f"{'PASS' if ok else 'FAIL'} {name} {why}", flush=True)
        if not ok:
            failures.append(name)

    for w in SPEC["workloads"]:
        code, res, detail, err = run(w["name"])
        names = {m["name"] for m in SPEC["end_to_end"]}
        got = res.get("metrics", {})
        check(f"smoke {w['name']}",
              code == 0 and res.get("correct") is True and set(got) == names
              and all(v["value"] != 0 for v in got.values()),
              "" if code == 0 else f"exit {code}: {err[-800:]} {detail.get('problems')}")

    code, res, detail, err = run("mysql_drain_2k_fanout", trace=1)
    names = [m["name"] for m in SPEC["per_layer"]]
    check("traced run reports every per-layer metric",
          code == 0 and res.get("correct") is True and list(res.get("metrics", {})) == names,
          "" if code == 0 else f"exit {code}: {err[-800:]}")
    cov = res.get("metrics", {}).get("pipeline.span_coverage", {}).get("value", 0)
    check("spans cover at least 90% of the drain wall", cov >= 0.9, f"coverage {cov:.3f}")

    for fault, word, label in (("drop", "missing", "dropped"), ("dup", "more than once", "duplicated")):
        code, res, detail, _ = run("mysql_drain_2k_fanout", fault=fault)
        problems = detail.get("problems", [])
        check(f"audit fails on a {label} record",
              code == 1 and res.get("correct") is False and any(word in p for p in problems),
              f"exit {code} problems {problems}")

    print(f"{len(failures)} failed" if failures else "all passed")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
