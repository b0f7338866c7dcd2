#!/usr/bin/env python3
"""Steadiness runner: repeat each workload with distinct seeds and report,
per end-to-end metric, the median, the quartiles and the spread (quartile
distance over median) against the bound in BENCHMARK.json.

    python3 perfbench/steady.py --runs 10 --first-seed 1 [--workload harvest ...]
        [--save .bench_out/steady-a.json] [--compare .bench_out/steady-b.json]

The spread of every metric, setup_s included, must stay within its bound
(the target is a third of it). With --compare, a metric whose median is
worse than the other set's by more than its bound is flagged as well.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds):
    t0 = time.time()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}")
    res = json.loads(lines[-1])
    if not res["correct"] or res["failed"]:
        raise SystemExit(f"{workload} seed {seed}: correct={res['correct']} failed={res['failed']}")
    values = {k: v["value"] for k, v in res["metrics"].items()}
    print(f"{workload} seed {seed}: {time.time() - t0:.0f} s; "
          + ", ".join(f"{k} {v:.5g}" for k, v in values.items()), file=sys.stderr, flush=True)
    return values


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", action="append",
                    choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--save")
    ap.add_argument("--compare")
    a = ap.parse_args()
    workloads = a.workload or [w["name"] for w in spec["workloads"]]
    other = json.load(open(a.compare)) if a.compare else {}
    values = {}
    ok = True
    for w in workloads:
        values[w] = {m["name"]: [] for m in spec["end_to_end"]}
        for i in range(a.runs):
            for k, v in run(w, a.first_seed + i, spec["run_seconds"]).items():
                values[w][k].append(v)
        print(f"\n{w} ({a.runs} runs, seeds {a.first_seed}..{a.first_seed + a.runs - 1})")
        print(f"  {'metric':<30}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}{'bound':>7}  verdict")
        for m in spec["end_to_end"]:
            xs = values[w][m["name"]]
            q1, med, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / med
            verdict = "ok" if spread <= m["bound"] / 3 else "within bound" \
                if spread <= m["bound"] else "TOO WIDE"
            if spread > m["bound"]:
                ok = False
            if w in other:
                base = statistics.median(other[w][m["name"]])
                worse = (med - base) / base if m["better"] == "lower" else (base - med) / base
                verdict += f"; vs other median {worse:+.3f}"
                if worse > m["bound"]:
                    verdict += " WORSE"
                    ok = False
            print(f"  {m['name']:<30}{med:>12.5g}{q1:>12.5g}{q3:>12.5g}{spread:>9.3f}{m['bound']:>7}  {verdict}")
    if a.save:
        os.makedirs(os.path.dirname(os.path.abspath(a.save)), exist_ok=True)
        with open(a.save, "w") as f:
            json.dump(values, f, indent=1)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
