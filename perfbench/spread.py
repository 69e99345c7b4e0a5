#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py <workload> [runs] [first_seed]

Runs the workload `runs` times (default 10), each with another seed, and
prints per metric the median and the quartile distance as a share of the
median (statistics.quantiles(values, n=4)), next to the metric's bound in
BENCHMARK.json.
"""
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def main():
    workload = sys.argv[1]
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    first = int(sys.argv[3]) if len(sys.argv) > 3 else 1
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    values = {}
    for seed in range(first, first + runs):
        r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
                            "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                           cwd=ROOT, capture_output=True, text=True)
        last = json.loads(r.stdout.strip().splitlines()[-1]) if r.stdout.strip() else {}
        ok = r.returncode == 0 and last.get("correct")
        lines = r.stdout.strip().splitlines()
        detail = json.loads(lines[-2])["detail"] if len(lines) > 1 else {}
        rounds = {k: v for k, v in detail.items() if k.endswith("_rounds")}
        print(f"seed {seed}: exit {r.returncode} correct {last.get('correct')} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in last.get("metrics", {}).items())
              + f" wall_s={detail.get('wall_s')} rounds={json.dumps(rounds)}"
              + f" noise={json.dumps(detail.get('host_noise'))}", flush=True)
        if not ok:
            print(r.stderr[-2000:])
            continue
        for k, v in last["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4)
        print(f"{k:20s} median {statistics.median(vs):12.4f}  spread {(q3 - q1) / statistics.median(vs):.4f}"
              f"  bound {bounds.get(k)}")


if __name__ == "__main__":
    main()
