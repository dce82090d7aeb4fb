#!/usr/bin/env python3
"""Benchmark of the sql-flow pipelines (see perfbench/README.md).

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program with
its own sbt build, then the benchmark's Scala sources with
perfbench/build.sbt against the program's classpath, and caches the
result under perfbench/.build. `--workload all` runs every workload in
turn. The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with
--trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. Exits non-zero when a correctness check fails or the
run cannot complete."""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
RUNS = os.path.join(HERE, ".run")
WORKLOADS = ("clickstream_agg", "window_upsert")
LOAD_TIMEOUT_S = 150


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of everything the builds read, so a changed tree rebuilds."""
    h = hashlib.sha1()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "scala")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def sbt_classpath(cwd, env, what, log_name):
    """Runs `sbt compile` in `cwd`; returns its exported runtime classpath."""
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"]
    log(f"building {what}: {' '.join(cmd)}")
    p = subprocess.run(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=400)
    with open(os.path.join(BUILD, log_name), "w") as f:
        f.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        raise SystemExit(f"perfbench: {what} build failed (see {BUILD}/{log_name})")
    return lines[-1].strip()


def build():
    """Compiles the program (its own unchanged build at the root), then
    the benchmark (perfbench/build.sbt) against the program's classpath;
    returns the file holding the benchmark's runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise SystemExit("perfbench: no sbt project at the checkout root")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    stamp = source_stamp()
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return cp_file
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.isfile(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx2g")
    t0 = time.time()
    program = sbt_classpath(ROOT, env, "program", "sbt-program.log")
    with open(os.path.join(BUILD, "program-classpath.txt"), "w") as f:
        f.write(program)
    bench = sbt_classpath(HERE, env, "benchmark", "sbt-perfbench.log")
    with open(cp_file, "w") as f:
        f.write(bench)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f}s")
    return cp_file


def load(cp_file, workload, seed, seconds, trace, out):
    """Runs the load process; returns its raw result."""
    with open(cp_file) as f:
        cp = f.read().strip()
    cmd = ["java", "-Xms1g", "-Xmx1g", "-XX:+UseSerialGC", f"-Djava.io.tmpdir={out}", "-cp", cp, "perfbench.Load",
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", "1" if trace else "0", "--classpath", cp_file, "--out", out]
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr)
    try:
        rc = proc.wait(timeout=LOAD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        # SIGTERM lets the load process stop the SUT it started
        proc.send_signal(signal.SIGTERM)
        try:
            proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        raise SystemExit(f"perfbench: {workload} exceeded {LOAD_TIMEOUT_S}s")
    if rc != 0:
        raise SystemExit(f"perfbench: load process failed ({rc}); logs under {out}")
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f)


def run_one(cp_file, workload, seed, seconds, trace):
    out = os.path.join(RUNS, f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    result = load(cp_file, workload, seed, seconds, trace, out)
    e2e, notes = stats.end_to_end(result)
    attempted, failed, problems = 0, 0, []
    for i, life in enumerate(result["lives"], 1):
        checks = life["checks"]
        attempted += checks["attempted"]
        failed += checks["failed"]
        problems += [f"lifetime {i}: {p}" for p in checks["problems"]]
        errors = life["metrics"].get("sqlflow_error_count", 0)
        if errors:
            problems.append(f"lifetime {i}: SUT counted {errors:g} errors")
            failed += int(errors)
        if not life["open"]["covered"] or not life["drain"]["covered"]:
            problems.append(f"lifetime {i}: outputs incomplete at the end of a phase")
    metrics = e2e
    if trace:
        with open(result["lives"][0]["trace_file"]) as f:
            records = [json.loads(l) for l in f if l.strip()]
        modules = stats.module_map(os.path.join(ROOT, "src", "main", "scala"))
        layer, lnotes = stats.per_layer(result, records, modules)
        layer["load.late_frac"] = (notes["late_frac"], "ratio")
        # the traced run's own end-to-end figures; their gap to the
        # untraced runs is the tracing overhead
        for k in ("throughput_eps", "latency_p50_ms"):
            layer["traced." + k] = e2e[k]
        layer["traced.latency_p90_ms"] = (notes["latency_p90_ms"], "ms")
        notes.update(lnotes)
        metrics = layer
    correct = failed == 0 and not problems
    if correct:
        shutil.rmtree(out, ignore_errors=True)
    else:
        log(f"{workload}: check failed; logs kept under {out}")
    for k, (v, unit) in metrics.items():
        print(f"{workload} {k} = {v:.6g} {unit}")
    for k, v in notes.items():
        print(f"{workload} note {k} = {v}")
    for p in problems:
        print(f"{workload} CHECK FAILED: {p}")
    return {
        "correct": correct,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    cp_file = build()
    names = WORKLOADS if a.workload == "all" else (a.workload,)
    outs = [run_one(cp_file, w, a.seed, a.seconds, a.trace == 1) for w in names]
    out = outs[0] if len(outs) == 1 else {
        "correct": all(o["correct"] for o in outs),
        "attempted": sum(o["attempted"] for o in outs),
        "failed": sum(o["failed"] for o in outs),
        "metrics": {f"{w}.{k}": v for w, o in zip(names, outs) for k, v in o["metrics"].items()},
    }
    print(json.dumps(out), flush=True)
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
