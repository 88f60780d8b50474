#!/usr/bin/env python3
"""Layered salted-store benchmark for graft.

Run from the repository root:

    python3 perfbench/run.py --workload ts_scan --seed 1 --seconds 8 --trace 0

Builds the library and the benchmark from source with sbt when the sources
changed since the last build, then runs one workload in one JVM against
Spark local[k], k = min(4, nproc). The last line of standard output is the
result: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end metrics of BENCHMARK.json; with --trace 1 they
are its per-layer metrics. The line before it is the full report (every
end-to-end metric by its workload-specific name, tail percentiles and
sample counts, sizes). The exit code is 0 only when every output check
passed.

    python3 perfbench/run.py --calib

prints one graft.Calib.bracketAll sample (box-contamination evidence).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("ts_scan", "corpus_refresh")
RUN_LIMIT_S = 170  # a run must end within 180 s
BUILD_LIMIT_S = 600
JVM_HEAP = "2g"

# Spark on JDK 17 outside spark-submit needs the module openings that
# spark-submit would add (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=1):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads, as paths relative to the root."""
    files = ["build.sbt", os.path.join("perfbench", "build.sbt")]
    for d in ("project", os.path.join("perfbench", "project")):
        full = os.path.join(ROOT, d)
        if os.path.isdir(full):
            files += [os.path.join(d, f) for f in os.listdir(full)
                      if f.endswith((".sbt", ".scala", ".properties"))]
    for d in (os.path.join("src", "main"), os.path.join("perfbench", "src")):
        for base, _, names in os.walk(os.path.join(ROOT, d)):
            files += [os.path.relpath(os.path.join(base, n), ROOT) for n in names]
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode())
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout and
    always waits for it to end."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail(f"timed out after {timeout:.0f} s: {' '.join(cmd[:3])} ...")
    return p.returncode, out, err


def classpath():
    """Builds when any source changed; returns the runtime classpath."""
    cp_file = os.path.join(STATE, "classpath.txt")
    hash_file = os.path.join(STATE, "build.hash")
    digest = source_hash()
    if os.path.exists(cp_file) and os.path.exists(hash_file):
        with open(hash_file) as fh:
            if fh.read().strip() == digest:
                with open(cp_file) as fh:
                    return fh.read().strip()
    os.makedirs(STATE, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "compile", "export Runtime/fullClasspath"]
    rc, out, err = run_group(cmd, BUILD_LIMIT_S, cwd=HERE, env=env,
                             stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = [l for l in out.splitlines() if ".jar" in l and not l.startswith("[")]
    if rc != 0 or not lines:
        sys.stderr.write(out[-4000:] + err[-4000:])
        fail(f"build failed (sbt exit {rc})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(hash_file, "w") as fh:
        fh.write(digest)
    return cp


def java_cmd(cp, tmp):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return [java, f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-Xmn512m", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            *opens, "-cp", cp]


def cores():
    return max(1, min(4, os.cpu_count() or 1))


def calib():
    cp = classpath()
    tmp = os.path.join(STATE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    rc, out, _ = run_group(java_cmd(cp, tmp) + ["graft.Calib", str(cores())], RUN_LIMIT_S,
                           stdout=subprocess.PIPE, text=True)
    if rc != 0:
        fail(f"graft.Calib exited {rc}")
    print(out.strip().splitlines()[-1])


def result_line(report, spec, trace):
    if trace:
        layers = report["traced"]["layers"]
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
        attempted = report["attempted"] + report["traced"]["attempted"]
        failed = report["failed"] + report["traced"]["failed"]
    else:
        common = report["common"]
        metrics = {m["name"]: {"value": float(common[m["name"]]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}
        attempted, failed = report["attempted"], report["failed"]
    return {"correct": failed == 0 and attempted > 0, "attempted": attempted,
            "failed": failed, "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--calib", action="store_true", help="print one graft.Calib sample and exit")
    a = ap.parse_args()
    for need in ("build.sbt", os.path.join("src", "main", "scala"), "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found under {ROOT}: run from a full checkout", 2)
    if a.calib:
        return calib()
    if a.workload is None or a.seed is None or a.seconds is None:
        ap.error("--workload, --seed and --seconds are required")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    out_dir = os.path.join(STATE, "out")
    report_file = os.path.join(out_dir, f"{a.workload}.json")
    os.makedirs(out_dir, exist_ok=True)
    if os.path.exists(report_file):
        os.remove(report_file)  # never leave a stale result behind

    cp = classpath()
    work = os.path.join(STATE, "work", a.workload)
    tmp = os.path.join(work, "tmp")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(tmp)
    cmd = java_cmd(cp, tmp) + ["perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                               "--seconds", str(a.seconds), "--trace", str(a.trace),
                               "--work", os.path.join(work, "run"), "--out", report_file,
                               "--cores", str(cores())]
    rc, _, _ = run_group(cmd, RUN_LIMIT_S, stdout=subprocess.DEVNULL)
    shutil.rmtree(work, ignore_errors=True)
    if not os.path.exists(report_file):
        fail(f"the run wrote no report (exit {rc})")
    with open(report_file) as fh:
        report = json.load(fh)
    if rc not in (0, 3):
        fail(f"the run exited {rc}")
    report.pop("spans", None)
    res = result_line(report, spec, a.trace == 1)
    print(json.dumps(report, sort_keys=True))
    print(json.dumps(res))
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
