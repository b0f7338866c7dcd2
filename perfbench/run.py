#!/usr/bin/env python3
"""Benchmark entry point: one seeded, closed-loop run of one workload.

    python3 perfbench/run.py --workload harvest --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the library and the
harness with sbt (offline) into perfbench/target; later runs reuse that build
while the sources are unchanged. Each run generates its inputs from the seed
in a fresh work directory, starts one JVM at local[<cores>], times the
workload's operations for --seconds, checks the outputs, deletes the work
directory and prints one JSON object as the last line of standard output:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1. The
exit code is 1 when an output check fails and 2 when the checkout has no
library sources to measure.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import checks
import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
HEAP = "3g"
JAVA_MODULES = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
SBT_ENV = {
    "COURSIER_MODE": "offline",
    "SBT_OPTS": "-Dsbt.override.build.repos=true -Dsbt.repository.config="
                + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx2g",
}
# Input sizes are fixed, so every seed does the same amount of work.
REPORT_SF = 0.1
DEDUP_CORPUS, DEDUP_BATCHES, DEDUP_BATCH_DOCS, DEDUP_VOCAB = 2_000, 12, 100, 500
JVM_TIMEOUT_S = 160


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def sources_digest():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "project")):
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p.encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    with open(os.path.join(HERE, "build.sbt"), "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Compile library + harness if the sources changed; return the classpath."""
    os.makedirs(BUILD, exist_ok=True)
    stamp, cp_file = os.path.join(BUILD, "sources.sha256"), os.path.join(BUILD, "classpath.txt")
    digest = sources_digest()
    if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    log("perfbench: building library and harness with sbt ...")
    env = dict(os.environ, **SBT_ENV)
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out, text=True, timeout=850)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("perfbench: build failed (see .bench_build/build.log)")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp, "w") as f:
        f.write(digest)
    return lines[-1]


def cores():
    return len(os.sched_getaffinity(0))


def tail_latency(samples):
    """The highest percentile with at least 10 samples beyond it (the 11th
    largest sample), or the largest sample when that percentile would not
    lie above the median (fewer than 21 samples)."""
    s = sorted(samples)
    i = len(s) - 11 if len(s) >= 21 else len(s) - 1
    return s[i], 100.0 * (i + 1) / len(s)


def self_times(spans_file):
    """Per span name: (self time summed over the traced operations, spans)."""
    out = {}
    with open(spans_file) as f:
        for line in f:
            s = json.loads(line)
            t, n = out.get(s["name"], (0.0, 0))
            out[s["name"]] = (t + s["self_s"], n + 1)
    return out


def run_jvm(cp, args, work):
    """Run the harness JVM; it is killed if it outlives JVM_TIMEOUT_S or
    this process is terminated."""
    cmd = (["java"] + [f"--add-opens=java.base/{m}=ALL-UNNAMED" for m in JAVA_MODULES]
           + [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Duser.timezone=UTC",
              f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
              "-cp", cp, "perfbench.Main"] + args)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT)
        try:
            return proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            return -1
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["harvest", "query_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # turn SIGTERM into SystemExit, so the cleanup below kills the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log("perfbench: no library sources under src/main/scala/graft")
        sys.exit(2)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    cp = classpath()
    t_start = time.time()
    work = os.path.join(WORK, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        data = os.path.join(work, "inputs")
        if a.workload == "query_mix":
            gen.report_tables(data, a.seed, REPORT_SF)
            gen.dedup_inputs(os.path.join(data, "dedup"), a.seed, DEDUP_CORPUS, DEDUP_BATCHES,
                             DEDUP_BATCH_DOCS, DEDUP_VOCAB)
        checks.pre_read(data)
        out = os.path.join(work, "result.json")
        rc = run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                          "--trace", str(a.trace), "--data", data, "--work", work,
                          "--out", out, "--cores", str(cores())], work)
        if rc != 0 or not os.path.exists(out):
            with open(os.path.join(work, "jvm.log")) as f:
                sys.stderr.write(f.read()[-6000:])
            raise SystemExit(f"perfbench: harness exited with {rc}")
        t_jvm = time.time()
        with open(out) as f:
            res = json.load(f)
        failures = list(res["verify_failures"])
        extra_layer = {}
        if a.workload == "query_mix":
            failures += checks.query_oracles(data, os.path.join(work, "results"))
            bad, recall = checks.dedup_pairs(os.path.join(data, "dedup"),
                                             os.path.join(work, "reported_pairs.jsonl"),
                                             res["info"]["processed_hi"])
            failures += bad
            extra_layer["recall"] = recall
        log(f"  after the JVM: checks {time.time() - t_jvm:.2f} s; JVM ran "
            f"{t_jvm - res['first_op_epoch_ms'] / 1e3:.2f} s past the first operation")
        if a.trace:
            spans = out + ".spans.jsonl"
            keep = os.path.join(ROOT, ".bench_out")
            os.makedirs(keep, exist_ok=True)
            shutil.copy(spans, os.path.join(keep, f"spans-{a.workload}-{a.seed}.jsonl"))
            self_s = self_times(spans)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK)
        except OSError:
            pass

    lat = res["latencies"]
    plain = [x for x, t in zip(lat, res["traced"]) if not t]
    for f in failures:
        log(f"CHECK FAILED: {f}")
    for e in res["errors"]:
        log(f"operation failed: {e}")
    log(f"perfbench: {a.workload} seed={a.seed}: {len(lat)} operations "
        f"({res['failed']} failed), info={json.dumps(res['info'])}")
    if not plain:
        raise SystemExit("perfbench: no untraced operation succeeded")
    log("  latencies_s: " + " ".join(f"{n}={x:.3f}{'*' if t else ''}"
                                     for n, x, t in zip(res["op_names"], lat, res["traced"])))
    log("  per op: " + ", ".join(f"{k} {sum(res[k]) / len(lat):.3f}"
                                 for k in ("cpu_s", "stolen_s", "gc_s", "jit_s")))
    log(f"  setup: inputs {res['jvm_start_epoch_ms'] / 1e3 - t_start:.2f} s, "
        f"JVM + session {(res['session_ready_epoch_ms'] - res['jvm_start_epoch_ms']) / 1e3:.2f} s, "
        f"workload {(res['first_op_epoch_ms'] - res['session_ready_epoch_ms']) / 1e3:.2f} s")

    if a.trace:
        log("  self time per span (time outside child spans), over the traced operations:")
        for name, (t, n) in sorted(self_s.items(), key=lambda kv: -kv[1][0]):
            log(f"    {name}: {t:.3f} s in {n} spans")
        traced = [x for x, t in zip(lat, res["traced"]) if t]
        layer = dict(res["layer"], **extra_layer)
        layer["trace_overhead_s"] = (statistics.median(traced) - statistics.median(plain)
                                     if traced and plain else 0.0)
        metrics = {m["name"]: {"value": float(layer.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        values = {
            "setup_s": res["first_op_epoch_ms"] / 1e3 - t_start,
            "op_p50_s": statistics.median(plain),
            "throughput_per_s": res["units"] / res["busy_s"],
            "peak_rss_mb": res["peak_rss_mb"],
            "stored_bytes_per_input_byte": res["info"]["stored_bytes_per_input_byte"],
        }
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
        # Reported for reading only: too few samples for a bounded tail, a
        # ratio that is 0 on a healthy run, and a workload-specific figure.
        tail, pct = tail_latency(plain)
        log(f"  op_tail_s = {tail:.6g} s (p{pct:.0f} of {len(plain)} samples)")
        log(f"  error_rate = {res['failed'] / res['attempted']:.6g} ratio")
        if "recall" in extra_layer:
            log(f"  recall = {extra_layer['recall']:.6g} ratio")
    log(f"  wall: {time.time() - t_start:.2f} s from the end of the build, "
        f"of which {time.time() - t_jvm:.2f} s after the JVM exited")
    for k, v in metrics.items():
        log(f"  {k} = {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": not failures, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
