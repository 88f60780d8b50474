#!/usr/bin/env python3
"""Steadiness self-check for the benchmark in BENCHMARK.json.

Runs two sets of runs of the same code, each set one run per seed (1 to
10) on every workload, and checks every end-to-end metric against its
bound:

  * spread: the distance between the first and third quartile of a set's
    values (statistics.quantiles, n=4), as a share of their median, must
    stay within the bound;
  * agreement: the two sets' medians must differ by no more than the
    bound, as a share of the first set's median, in either direction.

A graft.Calib.bracketAll sample is taken before and after each set and
printed next to the figures as evidence of box contamination; it is not a
metric. Run from the repository root:

    python3 perfbench/tests/steadiness.py

Exits 0 when every check holds, 1 otherwise. The full table is also
written to .bench_build/perfbench/steadiness.json.
"""
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
RUN = [sys.executable, os.path.join("perfbench", "run.py")]
SEEDS = range(1, 11)
SETS = 2


def run(args):
    p = subprocess.run(RUN + args, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None)


def calib():
    p = subprocess.run(RUN + ["--calib"], cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    return json.loads(p.stdout.strip().splitlines()[-1]) if p.returncode == 0 else None


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    workloads = [w["name"] for w in spec["workloads"]]
    metrics = spec["end_to_end"]
    sets, brackets, ok = [], [], True
    for s in range(SETS):
        pre = calib()
        values = {w: {m["name"]: [] for m in metrics} for w in workloads}
        for w in workloads:
            for seed in SEEDS:
                t0 = time.time()
                rc, res = run(["--workload", w, "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"])
                if rc != 0 or not res or not res["correct"]:
                    print(f"set {s + 1} {w} seed {seed}: run failed (exit {rc})")
                    ok = False
                    continue
                for m in metrics:
                    values[w][m["name"]].append(res["metrics"][m["name"]]["value"])
                print(f"set {s + 1} {w} seed {seed}: {time.time() - t0:.0f} s "
                      + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        post = calib()
        brackets.append({"pre": pre, "post": post})
        print(f"set {s + 1} calib pre={pre} post={post}")
        sets.append(values)

    report = []
    for w in workloads:
        for m in metrics:
            name, bound = m["name"], m["bound"]
            meds, spreads = [], []
            for values in sets:
                v = values[w][name]
                if len(v) >= 2:
                    meds.append(statistics.median(v))
                    spreads.append(spread(v))
            line = {"workload": w, "metric": name, "bound": bound, "medians": meds, "spreads": spreads}
            bad = [f"spread {x:.3f}" for x in spreads if x > bound]
            for prev, cur in zip(meds, meds[1:]):
                drift = (cur - prev) / prev
                line.setdefault("drifts", []).append(drift)
                if abs(drift) > bound:
                    bad.append(f"drift {drift:+.3f}")
            line["ok"] = not bad
            ok &= not bad
            report.append(line)
            print(f"{w:16s} {name:14s} bound {bound:.2f} spreads "
                  + ",".join(f"{x:.3f}" for x in spreads)
                  + " drifts " + ",".join(f"{x:+.3f}" for x in line.get("drifts", []))
                  + ("" if not bad else "  FAIL " + "; ".join(bad)))
    out = os.path.join(ROOT, ".bench_build", "perfbench", "steadiness.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as fh:
        json.dump({"calib": brackets, "checks": report, "sets": sets}, fh, indent=1)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
