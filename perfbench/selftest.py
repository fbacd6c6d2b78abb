#!/usr/bin/env python3
"""Self-test of the benchmark, and its tracing overhead.

Usage (from the root of a checkout):

    python3 perfbench/selftest.py [--scale 0.01] [--seconds 1] [workload ...]

For each workload (all by default) it runs perfbench/run.py four times on
sf0.001-sized inputs (scale 0.01 of sf0.1) with a tiny run length:
untraced with seed 1, traced with seed 1 twice, and traced with seed 2. It
checks that

  * every metric of BENCHMARK.json is printed, by name and unit, and the
    run is correct;
  * the same seed gives the identical op sequence and identical `jobs`,
    `scan_bytes` and `artifact_builds` totals;
  * a different seed gives a different op order, or for a pipeline-order
    workload different inputs.

It then prints the tracing overhead: the traced run's end-to-end values
minus the untraced run's, for the same seed. Exits 1 on any failed check.
"""
import argparse
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
REPORTS = HERE / ".work" / "reports"


def run(workload, seed, trace, scale, seconds):
    out = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace), "--scale", str(scale)],
        cwd=ROOT, stdout=subprocess.PIPE, text=True)
    if out.returncode != 0:
        raise SystemExit(f"{workload}: run.py exited {out.returncode}")
    line = json.loads(out.stdout.strip().splitlines()[-1])
    report = json.loads((REPORTS / f"{workload}-seed{seed}-trace{trace}.json").read_text())
    return line, report


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--scale", type=float, default=0.01)
    ap.add_argument("--seconds", type=float, default=1)
    ap.add_argument("workloads", nargs="*")
    a = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    spec = json.loads((HERE / "workloads.json").read_text())["workloads"]
    names = a.workloads or [w["name"] for w in bench["workloads"]]
    problems = []

    def check(ok, msg):
        print(("ok   " if ok else "FAIL ") + msg)
        if not ok:
            problems.append(msg)

    for w in names:
        plain, plain_rep = run(w, 1, 0, a.scale, a.seconds)
        t1, rep1 = run(w, 1, 1, a.scale, a.seconds)
        t1b, rep1b = run(w, 1, 1, a.scale, a.seconds)
        t2, rep2 = run(w, 2, 1, a.scale, a.seconds)
        for line, group in ((plain, "end_to_end"), (t1, "per_layer")):
            want = {m["name"]: m["unit"] for m in bench[group]}
            got = {n: v["unit"] for n, v in line["metrics"].items()}
            check(got == want, f"{w}: {group} metric names and units")
            check(line["correct"] and line["failed"] == 0, f"{w}: correct, no failed op")
        seq = lambda r: [(o["query"], o["ds"]) for o in r["ops"]]
        check(seq(rep1) == seq(rep1b) == seq(plain_rep), f"{w}: same seed, same op sequence")
        for m in ("jobs.total", "scan_bytes.total", "artifact_builds.total"):
            a1, b1 = t1["metrics"][m]["value"], t1b["metrics"][m]["value"]
            check(a1 == b1, f"{w}: same seed, same {m} ({a1} vs {b1})")
        if spec[w]["order"] == "shuffled":
            check(seq(rep1) != seq(rep2), f"{w}: different seed, different order")
        else:
            check(rep1["inputs"] != rep2["inputs"], f"{w}: different seed, different inputs")
        print(f"     {w}: tracing overhead (traced - untraced, seed 1):")
        for m in bench["end_to_end"]:
            n = m["name"]
            u, t = plain_rep["end_to_end"][n]["value"], rep1["end_to_end"][n]["value"]
            print(f"       {n:20s} {u:12.3f} -> {t:12.3f}  ({t - u:+.3f} {m['unit']})")
    print(f"== {len(problems)} failed checks ==")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
