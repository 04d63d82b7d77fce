#!/usr/bin/env python3
"""Repo benchmark: one workload, one seed, one JVM.

    python3 graftbench/run.py --workload query_short --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. It builds the program and the harness with
sbt (once per source state), generates the inputs from the seed, computes
the expected outputs, runs the workload in one JVM and prints one JSON
object as the last line of stdout. See graftbench/README.md.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # write nothing into the checkout but .build/ and results/

import digest  # noqa: E402
import inputs  # noqa: E402
from workloads import (END_TO_END, PER_LAYER, SETUP_ROUNDS,  # noqa: E402
                       WARMUP_PASSES, WORKLOADS)

ROOT = os.getcwd()
BUILD = os.path.join(HERE, ".build")
RESULTS = os.path.join(HERE, "results")
RUN_LIMIT_S = 170

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = ["build.sbt", "project/build.properties", "src/main",
             os.path.relpath(os.path.join(HERE, "build.sbt"), ROOT),
             os.path.relpath(os.path.join(HERE, "project/build.properties"), ROOT),
             os.path.relpath(os.path.join(HERE, "src"), ROOT),
             os.path.relpath(os.path.join(HERE, "workloads.py"), ROOT)]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def java_cmd(classpath, *args, tmp=None):
    """A harness JVM. The heap may grow to 2 GB; it starts small, so peak RSS
    follows what the run keeps on the heap."""
    cmd = ["java", "-Xmx2g"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    if tmp:
        cmd.append(f"-Djava.io.tmpdir={tmp}")
    return cmd + ["-cp", classpath, "graftbench.Harness", *args]


def ensure_build():
    """Compile the program and the harness; cache the classpath and the
    oracle SQL of the registry under .build/."""
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return (open(os.path.join(BUILD, "classpath")).read(),
                json.load(open(os.path.join(BUILD, "oracles.json"))))
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", " ".join(
        ([f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"]
         if os.path.exists(repos) else []) + ["-Dsbt.offline=true", "-Xmx2g"]))
    log("building the program and the harness with sbt")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "export Runtime/fullClasspathAsJars"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit("graftbench: build failed")
    classpath = lines[-1].strip()
    oracles_file = os.path.join(BUILD, "oracles.json")
    subprocess.run(java_cmd(classpath, "--dump-oracles", oracles_file),
                   check=True, stdin=subprocess.DEVNULL, capture_output=True)
    with open(os.path.join(BUILD, "classpath"), "w") as f:
        f.write(classpath)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath, json.load(open(oracles_file))


def make_inputs(wl, seed, idir, oracles):
    """Generate the seed's inputs and their expected outputs."""
    if wl["kind"] == "osm":
        os.makedirs(idir)
        path = os.path.join(idir, "extract.osm")
        size, counts, expected = inputs.write_osm(path, seed, wl["nodes"])
        return {"file": path, "bytes": size, "elements": counts, "expected": expected}
    size, rows = inputs.write_tables(idir, seed, wl["sf"])
    sql = {q: oracles[q] for q in wl["queries"]}
    return {"bytes": size, "rows": rows, "expected": digest.oracle_digests(idir, sql)}


def set_up_once(classpath, nproc, work):
    """One set-up round in a fresh JVM: load the program, start a session.
    Returns the seconds from the JVM's start until the session was ready."""
    rdir = os.path.join(work, "setup")
    os.makedirs(os.path.join(rdir, "tmp"))
    try:
        p = subprocess.run(java_cmd(classpath, "--setup", str(nproc), rdir,
                                    tmp=os.path.join(rdir, "tmp")),
                           cwd=rdir, stdin=subprocess.DEVNULL, capture_output=True,
                           text=True, timeout=60)
    finally:
        shutil.rmtree(rdir, ignore_errors=True)
    times = [float(l.split()[1]) for l in p.stdout.splitlines() if l.startswith("setup_s ")]
    if p.returncode != 0 or not times:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"graftbench: set-up round exited with {p.returncode}")
    return times[0]


def op_order(queries, seed):
    """The seed's permutation of the workload's queries."""
    order = list(queries)
    random.Random(seed).shuffle(order)
    return order


def quantile(xs, q):
    s = sorted(xs)
    return s[min(len(s) - 1, int(q * len(s)))]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "build.sbt")):
        raise SystemExit("graftbench: run from the root of the repository checkout")
    wl = WORKLOADS[args.workload]
    classpath, oracles = ensure_build()
    started = time.time()  # the time limit covers the run, not the one-off build
    load_before = os.getloadavg()
    nproc = len(os.sched_getaffinity(0))

    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    try:
        t0 = time.perf_counter()
        info = make_inputs(wl, args.seed, os.path.join(work, "inputs"), oracles)
        inputs_s = time.perf_counter() - t0
        # the harness JVM's own start is the last set-up round
        setup = [set_up_once(classpath, nproc, work) for _ in range(SETUP_ROUNDS - 1)]
        order = op_order(wl.get("queries", []), args.seed)
        spec = {"workload": args.workload, "nproc": nproc, "work": work,
                "seconds": args.seconds, "trace": bool(args.trace),
                "warmup_passes": WARMUP_PASSES, "dir": os.path.join(work, "inputs"),
                "queries": order, "expected": info["expected"],
                "result": os.path.join(work, "result.json"),
                "spans": os.path.join(RESULTS, f"{args.workload}-seed{args.seed}.spans.jsonl")}
        if wl["kind"] == "osm":
            spec["osm"] = {"file": info["file"], "mapping": inputs.STREET_MAPPING,
                           "expected": info["expected"]}
        with open(os.path.join(work, "spec.json"), "w") as f:
            json.dump(spec, f)
        budget = RUN_LIMIT_S - (time.time() - started)
        os.makedirs(RESULTS, exist_ok=True)
        jvm_log = os.path.join(RESULTS, f"{args.workload}-seed{args.seed}-trace{args.trace}.jvm.log")
        with open(jvm_log, "w") as jlog:
            jvm = subprocess.Popen(
                java_cmd(classpath, os.path.join(work, "spec.json"), tmp=os.path.join(work, "tmp")),
                cwd=work, stdin=subprocess.DEVNULL, stdout=jlog, stderr=subprocess.STDOUT)
            try:
                rc = jvm.wait(timeout=max(10, budget))
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()
                rc = -1
        if rc != 0:
            sys.stderr.write(open(jvm_log).read()[-6000:])
            raise SystemExit(f"graftbench: harness exited with {rc}")
        res = json.load(open(spec["result"]))
        with open(jvm_log) as f:
            problems = [l.rstrip() for l in f if l.startswith("[graftbench]")]
        for p in problems:
            log(p[len("[graftbench] "):])
    finally:
        shutil.rmtree(work, ignore_errors=True)

    setup.append(res["setup_s"])
    timed = res["passes"]
    plain = [p for p in timed if not p["traced"]]
    ops = [o for p in timed for o in p["ops"]]
    attempted, failed = len(ops), sum(1 for o in ops if not o["ok"])
    op_ms = [o["ms"] for p in plain for o in p["ops"] if o["ok"]]
    pass_s = statistics.median(p["wall_s"] for p in plain)
    input_mb = info["bytes"] / 1e6
    p90 = quantile(op_ms, 0.9) if op_ms else None
    beyond = sum(1 for x in op_ms if p90 is not None and x > p90)
    stamp = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": nproc,
        "loadavg_before": [round(x, 2) for x in load_before],
        "loadavg_after": [round(x, 2) for x in os.getloadavg()],
        "heap_max_mb": round(res["heap_max_mb"]), "spark_version": res["spark_version"],
        "input_mb": round(input_mb, 3),
        "input": ({"sf": wl["sf"], "queries": len(order), "rows": info["rows"]}
                  if wl["kind"] == "queries"
                  else {"elements": info["elements"],
                        "rows": {t: v["rows"] for t, v in info["expected"].items()}}),
        "inputs_s": round(inputs_s, 3),
        "setup_rounds_s": [round(x, 3) for x in setup],
        "warmup_pass_s": [round(x, 3) for x in res["warmup_pass_s"]],
        "timed_pass_s": [round(p["wall_s"], 3) for p in plain],
        "op_ms_p50": statistics.median(op_ms) if op_ms else None,
        "op_ms_samples": len(op_ms),
        "op_ms_p90": p90 if beyond >= 10 else None,
        "op_ms_p90_samples_beyond": beyond,
        "cpu_s_per_pass": statistics.median(p["cpu_s"] for p in plain),
        "peak_rss_mb": res["peak_rss_mb"],
    }
    stamp["warmup_s"] = sum(res["warmup_pass_s"])
    if wl["kind"] == "osm":
        stamp["mb_per_s"] = input_mb / pass_s
    if args.trace:
        layers = dict(res.get("layers", {}))
        traced = [p["wall_s"] for p in timed if p["traced"]]
        layers["jvm.session_s"] = res["setup_s"]
        layers["jvm.peak_rss_mb"] = res["peak_rss_mb"]
        layers["trace.pass_s"] = statistics.median(traced)
        layers["trace.overhead_pct"] = 100 * (layers["trace.pass_s"] / pass_s - 1)
        metrics = {n: {"value": layers.get(n, 0.0), "unit": u} for n, u, _ in PER_LAYER}
    else:
        values = {
            "setup_s": statistics.median(setup),
            "pass_s": pass_s,
            "live_heap_mb": max(p["live_heap_mb"] for p in plain),
            "ok_ratio": (attempted - failed) / attempted,
        }
        metrics = {n: {"value": values[n], "unit": u} for n, u, _ in END_TO_END}
    os.makedirs(RESULTS, exist_ok=True)
    full = {"stamp": stamp, "metrics": metrics, "harness": res}
    with open(os.path.join(RESULTS, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(full, f, indent=1)
    print(json.dumps({"stamp": stamp}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
