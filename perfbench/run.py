#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload crawl|queries --seed N --seconds S --trace 0|1

Builds the program from source (perfbench/build.py), makes the workload's
inputs from the seed, runs one pinned JVM (perfbench/src), checks its
outputs, and prints one JSON line: correct, attempted, failed and the
metrics BENCHMARK.json lists (end_to_end, or per_layer with --trace 1).
Everything a run makes lives under .perfbench/run-<pid>/ and is deleted
when the run ends, also on failure or timeout.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402

WORKLOADS = ("crawl", "queries")
CORES = 4
HEAP = "4g"
QUERY_SF = 0.01       # the query workload's tables: lineitem = 60,000 rows
FIXTURE_SF = 0.001    # kernel fixtures of the traced run,
FIXTURE_SEED = 42     # fixed whatever the run seed
JVM_TIMEOUT_S = 165
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(1)


def run_jvm(classes, jars, run_dir, args, cores):
    cpus = ",".join(str(c) for c in sorted(os.sched_getaffinity(0))[:cores])
    cmd = ["taskset", "-c", cpus, "java", "-XX:-UsePerfData",
           f"-XX:ActiveProcessorCount={cores}", f"-Xmx{HEAP}",
           *ADD_OPENS, f"-Djava.io.tmpdir={run_dir / 'tmp'}", "-Dspark.ui.enabled=false",
           "-cp", f"{classes}{os.pathsep}{jars / '*'}", "perfbench.Main", *args]
    (run_dir / "tmp").mkdir(parents=True, exist_ok=True)
    with open(run_dir / "jvm.log", "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if rc != 0:
        shutil.copy(run_dir / "jvm.log", run_dir.parent / "jvm-failed.log")
        lines = (run_dir / "jvm.log").read_text(errors="replace").splitlines()
        first = next((i for i, l in enumerate(lines) if "Exception" in l or "Error" in l), len(lines))
        fail(f"JVM exited with {rc} (log kept in .perfbench/jvm-failed.log):\n" +
             "\n".join(lines[first:first + 15]))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload}; one of {WORKLOADS}")
    spec_path = ROOT / "BENCHMARK.json"
    if not spec_path.exists():
        fail("BENCHMARK.json missing")
    spec = json.loads(spec_path.read_text())
    wanted = spec["per_layer" if a.trace else "end_to_end"]

    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    classes, jars = build.build()
    cores = min(CORES, len(os.sched_getaffinity(0)))
    run_dir = ROOT / ".perfbench" / f"run-{os.getpid()}"
    try:
        shutil.rmtree(run_dir, ignore_errors=True)
        run_dir.mkdir(parents=True)
        import gen_tables
        if a.workload == "queries":
            gen_tables.generate(str(run_dir / "data" / "main"), QUERY_SF, a.seed)
        if a.trace:
            gen_tables.generate(str(run_dir / "data" / "fixture"), FIXTURE_SF, FIXTURE_SEED)
        run_jvm(classes, jars, run_dir, [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(cores), "--run-dir", str(run_dir)], cores)
        res = json.loads((run_dir / "result.json").read_text())
        checks = dict(res["checks"])
        attempted, failed = res["attempted"], res["failed"]
        if a.workload == "queries":
            import oracle
            verdicts, rows = oracle.compare(str(run_dir / "data" / "main"), str(run_dir / "out"))
            for q, v in verdicts.items():
                checks[f"oracle:{q}"] = v or "ok"
            attempted += len(verdicts)
            failed += sum(v is not None for v in verdicts.values())
            res["metrics"]["store_bytes_per_unit"] = (
                sum(f.stat().st_size for f in (run_dir / "out").rglob("*.parquet")) / max(rows, 1))
        if a.trace:
            spans = ROOT / ".perfbench" / "traces"
            spans.mkdir(parents=True, exist_ok=True)
            dest = spans / f"{a.workload}-seed{a.seed}-{int(time.time())}.jsonl"
            shutil.copy(run_dir / "spans.jsonl", dest)
            sys.stderr.write(f"perfbench: spans in {dest.relative_to(ROOT)}\n")
        bad = {k: v for k, v in checks.items() if v != "ok"}
        for k, v in bad.items():
            sys.stderr.write(f"perfbench: check {k} failed: {v}\n")
        sys.stderr.write("perfbench: " + json.dumps({k: v for k, v in res.items() if k != "checks"}) + "\n")
        missing = [m["name"] for m in wanted if res["metrics"].get(m["name"]) is None]
        if missing:
            fail(f"metrics not measured: {missing}")
        out = {"correct": not bad and failed == 0, "attempted": attempted, "failed": failed,
               "metrics": {m["name"]: {"value": res["metrics"][m["name"]], "unit": m["unit"]}
                           for m in wanted}}
        print(json.dumps(out))
        sys.exit(0 if out["correct"] else 1)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
