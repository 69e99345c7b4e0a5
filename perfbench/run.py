#!/usr/bin/env python3
"""End-to-end CDC benchmark of the graft library.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the library and the
benchmark from source with sbt (perfbench/build.sbt) into perfbench/target
and records the classpath in .bench_build/; later runs reuse the build while
the sources are unchanged. Each run starts one JVM (perfbench.Main) that
drives the workload through the deployed path, checks the outputs, and
writes its numbers by name; this script adds the LLM oracle check, takes
the metrics' order and units from BENCHMARK.json, and prints the result as
the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. A line before it carries the run's detail (host noise,
sample counts, problems found). Exits non-zero when a check fails or the
run cannot complete. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
WORKLOADS = ("mysql_drain_2k_fanout", "llm_corpus_batch")
RUN_LIMIT_S = 170

JVM_OPTS = [
    "-Xms3g", "-Xmx3g", "-Xmn512m", "-XX:+UseG1GC", "-XX:ReservedCodeCacheSize=256m",
    "-XX:-UseDynamicNumberOfCompilerThreads",
    "-Dspark.ui.enabled=false", "-Dlog4j2.level=error",
] + [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    files = [ROOT / "perfbench" / "build.sbt", ROOT / "perfbench" / "project" / "build.properties"]
    for d in (ROOT / "src" / "main" / "scala", HERE / "src" / "main" / "scala"):
        files += sorted(d.rglob("*.scala"))
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compile with sbt unless the sources are unchanged since the last build."""
    stamp = source_stamp()
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp.txt"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    BUILD.mkdir(exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "--batch",
           "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"]
    log("building (sbt compile)")
    t0 = time.time()
    with open(BUILD / "build.log", "w") as out:
        r = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out,
                           stdin=subprocess.DEVNULL, text=True, timeout=840)
        out.write(r.stdout)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines or "classes" not in lines[-1]:
        raise SystemExit(f"build failed (see {BUILD / 'build.log'})")
    cp_file.write_text(lines[-1].strip())
    stamp_file.write_text(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return lines[-1].strip()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--fault", choices=("none", "drop", "dup"), default="none",
                    help="make the Kafka producer drop or duplicate one record (audit self-test)")
    a = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        raise SystemExit("the library sources (src/main/scala) are missing; run from a full checkout")
    classpath = build()
    started = time.time()

    work = BUILD / "work" / a.workload
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out = work / "result.json"
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", str(work), "--out", str(out), "--fault", a.fault]
    corpus_dir = None
    if a.workload == "llm_corpus_batch":
        import corpus
        corpus_dir = work / "corpus"
        corpus.write_corpus(corpus_dir, a.seed)
        args += ["--input", str(corpus_dir)]

    java = shutil.which("java") or "java"
    cmd = [java, *JVM_OPTS, f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", classpath, "perfbench.Main", *args]
    with open(work / "jvm.log", "w") as jlog:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=jlog, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            code = proc.wait(timeout=max(10.0, RUN_LIMIT_S - (time.time() - started)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"the run exceeded {RUN_LIMIT_S} s (see {work / 'jvm.log'})")
    if code != 0 or not out.exists():
        tail = (work / "jvm.log").read_text(errors="replace").splitlines()[-15:]
        raise SystemExit(f"the benchmark JVM failed with code {code}:\n" + "\n".join(tail))

    res = json.loads(out.read_text())
    problems = list(res["problems"])
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    metrics = {}
    for m in spec["per_layer" if a.trace else "end_to_end"]:
        value = res["metrics"].get(m["name"])
        if value is None and a.trace:
            value = 0.0  # a layer this workload does not use
        if value is None or (not a.trace and value <= 0):
            problems.append(f"metric {m['name']} not measured (got {value})")
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    if corpus_dir is not None:
        import corpus
        problems += corpus.compare(corpus_dir, Path(res["detail"]["llm_outputs"]),
                                   BUILD / "oracle-cache")
    res["detail"]["problems"] = problems
    res["detail"]["wall_s"] = round(time.time() - started, 3)
    print(json.dumps({"detail": res["detail"]}))
    correct = res["correct"] and not problems
    print(json.dumps({"correct": correct, "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    sys.path.insert(0, str(HERE))
    main()
