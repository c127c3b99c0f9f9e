#!/usr/bin/env python3
"""Benchmark of graft's write path, read path and training-data path.

    python3 perfbench/run.py --workload metrics_ingest --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --selfcheck

Each run builds the program if its sources changed (perfbench/build.py),
generates its inputs from the seed (perfbench/gen.py), runs the workload
in a fresh JVM on Spark local[nproc], checks the recorded outputs with
DuckDB and Python (perfbench/checks.py), and prints one JSON object as
its last line: the end-to-end metrics, or with --trace 1 the per-layer
metrics. Every file it writes stays under .bench_work/ in the checkout.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ["metrics_ingest", "metrics_dashboard", "corpus_dedup"]
HEAP = "3g"
JVM_TIMEOUT_S = 150
END_TO_END = [("setup_s", "s"), ("throughput_per_s", "1/s"), ("op_p50_s", "s"),
              ("retained_heap_bytes", "B")]

# Input sizes. FULL is what a measured run uses; PROBE is the small side
# input a traced run probes the layers of the other data family on;
# TINY is the self-check.
FULL = {"hosts": 32, "days": 7, "late_batches": 64, "late_points": 3000, "pool": 8,
        "docs": 20000}
PROBE = {"hosts": 8, "days": 2, "late_batches": 4, "late_points": 500, "pool": 5,
         "docs": 4000}
TINY = {"hosts": 4, "days": 2, "late_batches": 4, "late_points": 200, "pool": 4,
        "docs": 2000}

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def generate(kind, out_dir, seed, size):
    os.makedirs(out_dir)
    if kind == "grid":
        gen.metrics_grid(out_dir, seed, size["hosts"], size["days"],
                         size["late_batches"], size["late_points"])
        gen.dashboard_queries(out_dir, seed, size["hosts"], size["days"], size["pool"])
    else:
        gen.corpus(out_dir, seed, size["docs"])


def filesystem(path):
    """fstype of the mount that holds `path`, from /proc/mounts."""
    best, fstype = "", "unknown"
    try:
        with open("/proc/mounts") as f:
            for line in f:
                parts = line.split()
                mnt = parts[1]
                if str(path).startswith(mnt) and len(mnt) > len(best):
                    best, fstype = mnt, parts[2]
    except OSError:
        pass
    return fstype


def steal_seconds():
    """CPU time the hypervisor gave to other guests, from /proc/stat; a
    run that loses much of it was measured on a contended host."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return float("nan")


def git_sha():
    try:
        p = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        return p.stdout.strip() if p.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def run_one(workload, seed, seconds, trace, size):
    cp, digest, jdk = build.build()
    work = ROOT / ".bench_work" / workload
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    family = "corpus" if workload == "corpus_dedup" else "grid"
    t0 = time.time()
    generate(family, work / "in", seed, size)
    if trace:
        generate("grid" if family == "corpus" else "corpus", work / "probe_in", seed,
                 PROBE if size is FULL else TINY)
    gen_s = time.time() - t0
    cpus = len(os.sched_getaffinity(0))
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work / 'tmp'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", "1" if trace else "0",
            "--cpus", str(cpus), "--in", str(work / "in"),
            "--probe_in", str(work / "probe_in"), "--work", str(work)]
    t0, steal0 = time.time(), steal_seconds()
    with open(work / "jvm.log", "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = "timeout"
    if code != 0:
        sys.stderr.write((work / "jvm.log").read_text()[-4000:])
        raise SystemExit(f"{workload}: JVM exited with {code}")
    jvm_s, steal_s = time.time() - t0, steal_seconds() - steal0
    with open(work / "report.json") as f:
        report = json.load(f)
    t0 = time.time()
    errors = checks.check(workload, str(work / "in"), str(work))
    report.update({
        "correct": not errors, "check_errors": errors, "gen_s": gen_s, "jvm_s": jvm_s,
        "steal_s": steal_s,
        "check_s": time.time() - t0,
        "git_sha": git_sha(), "source_digest": digest, "nproc": cpus, "heap": HEAP,
        "jdk": jdk, "filesystem": filesystem(work), "work_dir": str(work),
        "seconds": seconds, "sizes": size})
    with open(work / "summary.json", "w") as f:
        json.dump(report, f, indent=1)
    return report


def result_line(report, trace):
    if trace:
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in report["per_layer"].items()}
    else:
        metrics = {k: {"value": report[k], "unit": u} for k, u in END_TO_END}
    bad = [k for k, m in metrics.items()
           if not isinstance(m["value"], (int, float)) or m["value"] != m["value"]]
    if bad:
        raise SystemExit(f"metrics without a value: {bad}")
    return {"correct": report["correct"], "attempted": report["attempted"],
            "failed": report["failed"], "metrics": metrics}


def unit_of(name):
    """Unit of a per-layer metric, from its name."""
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_per_point") or name.endswith("_per_late_point"):
        return "B/point"
    if name.endswith(("_yield", "_ratio")):
        return "ratio"
    if "bytes" in name:
        return "B"
    return "count"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selfcheck", action="store_true",
                    help="every workload on tiny inputs for one second, traced")
    a = ap.parse_args()
    if a.selfcheck:
        ok = True
        for w in WORKLOADS:
            r = run_one(w, a.seed, 1, True, TINY)
            print(json.dumps({"workload": w, "correct": r["correct"],
                              "check_errors": r["check_errors"],
                              "attempted": r["attempted"], "failed": r["failed"]}))
            ok &= r["correct"] and r["failed"] == 0
        print(json.dumps({"selfcheck": "pass" if ok else "fail"}))
        sys.exit(0 if ok else 1)
    if a.workload is None:
        ap.error("--workload is required")
    report = run_one(a.workload, a.seed, a.seconds, bool(a.trace), FULL)
    keep = ["workload", "seed", "git_sha", "source_digest", "nproc", "heap", "jdk",
            "spark_version", "filesystem", "steal_s", "session_s", "setup_passes_s", "gen_s",
            "op_samples", "check_errors"]
    print(json.dumps({k: report.get(k) for k in keep}))
    print(json.dumps(result_line(report, bool(a.trace))))


if __name__ == "__main__":
    main()
