#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 repobench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the harness (and with it the engine) from source on first use,
opens or generates the workload's inputs, and runs the harness in a
fresh JVM with its own scratch directory: cache root, Spark local dirs,
checkpoints, sink roots and java.io.tmpdir all live under
``.bench_build/runs/<id>/`` and are removed when the run ends. Set-up time
is the measured JVM's own: from process spawn to the harness's READY line.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. The lines before it print every
metric by name with its unit (with ``--trace 1`` the full layer record,
span self times and the tracing overhead).

Extra modes, not used for measuring:
  --record     write the run's result fingerprints to expected/<W>.json
  --selftest   check that a corrupted expected value is counted as failed
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import threading
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
BUILD = os.path.join(ROOT, ".bench_build")

sys.path.insert(0, HERE)
import gen  # noqa: E402

# The curation ops read the documents table of the
# repository's sf 0.1 test fixture (seed 42), copied here unchanged.
FIXTURE = os.path.join(HERE, "data", "sf0.1")
CENSUS_TRACTS = 1000

# Warm passes discarded before counting, per workload. A census pass takes
# ~10 s, so discarding one would cost a sixth of the run; the spread across
# runs is host drift more than JIT position (see README.md).
DISCARD = {"llm_curation": 1, "census_pipeline": 0}

HEAP = "3g"
RUN_DEADLINE_S = 170

# Metric names and units of the final JSON line come from BENCHMARK.json:
# end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
# A per-layer name is a layer-record metric (median over the traced warm
# passes), a "cold."-prefixed one (its cold-pass value), or a top-level
# result field (trace.overhead_ratio).
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    _DECL = json.load(_f)
END_TO_END = [(m["name"], m["unit"]) for m in _DECL["end_to_end"]]
PER_LAYER = [(m["name"], m["unit"]) for m in _DECL["per_layer"]]


def unit_of(metric):
    """Unit of a layer-record metric, from its name."""
    leaf = metric.rsplit(".", 1)[-1]
    if "bytes" in leaf:
        return "bytes"
    for suffix, unit in (("_s", "s"), ("_ratio", "ratio"), ("_amplification", "x"),
                         ("_amp", "x"), ("_mb", "MB")):
        if leaf.endswith(suffix):
            return unit
    return "count"


def log(msg):
    print(msg, file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def _source_stamp():
    """Digest of every file the build reads, so a changed engine or
    harness source forces a rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "build.sbt"),
             os.path.join(HARNESS, "project", "build.properties"), os.path.join(HARNESS, "src")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def classpath():
    stamp = _source_stamp()
    cp_file = os.path.join(BUILD, "classpath.json")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            cached = json.load(f)
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    log("[repobench] building harness and engine (sbt)")
    os.makedirs(BUILD, exist_ok=True)
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd=HARNESS, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=840)
    cps = [ln.strip() for ln in proc.stdout.splitlines()
           if ln.strip().startswith("/") and ".jar" in ln]
    if proc.returncode != 0 or not cps:
        log(proc.stdout[-4000:])
        raise SystemExit("[repobench] build failed")
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": cps[-1]}, f)
    return cps[-1]


# ---------------------------------------------------------------- inputs

def inputs(workload, seed):
    """Return the input dir; census inputs are generated from the seed
    (once per generator version)."""
    if workload == "llm_curation":
        return FIXTURE
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:10]
    d = os.path.join(BUILD, "inputs", f"census_t{CENSUS_TRACTS}_s{seed}_{version}")
    if not os.path.exists(os.path.join(d, ".done")):
        shutil.rmtree(d, ignore_errors=True)
        gen.census(d, seed, CENSUS_TRACTS)
        open(os.path.join(d, ".done"), "w").close()
    return d


# ---------------------------------------------------------------- JVM runs

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def java_bin():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def launch(cp, run_dir, harness_args, deadline):
    """Start one harness JVM with its own scratch dirs. Returns
    (seconds from spawn to READY, RESULT json or None, exit code)."""
    for sub in ("cache", "tmp", "local", "checkpoint"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    cmd = [java_bin(), f"-Xms{HEAP}", f"-Xmx{HEAP}", *ADD_OPENS,
           "-Duser.timezone=UTC",
           f"-Dgraft.cache.root={os.path.join(run_dir, 'cache')}",
           f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
           "-cp", cp, "graftbench.Harness", "--work", run_dir, *harness_args]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"))
    with open(os.path.join(run_dir, "jvm.log"), "w") as err:
        t0 = time.monotonic()
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                                env=env, cwd=run_dir)
        timer = threading.Timer(max(1.0, deadline - time.monotonic()), proc.kill)
        timer.start()
        ready, result = None, None
        try:
            for line in proc.stdout:
                if line.startswith("READY") and ready is None:
                    ready = time.monotonic() - t0
                elif line.startswith("RESULT "):
                    result = json.loads(line[len("RESULT "):])
            code = proc.wait()
        finally:
            timer.cancel()
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0 or ready is None:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            log(f.read()[-6000:])
    return ready, result, code


def run(workload, seed, seconds, trace, extra=()):
    t0 = time.monotonic()
    cp = classpath()
    data = inputs(workload, seed)
    # building and input generation happen once per checkout: after them
    # the measured part still gets most of the usual limit
    deadline = max(t0 + RUN_DEADLINE_S, time.monotonic() + RUN_DEADLINE_S - 20)
    expected = os.path.join(HERE, "expected", f"{workload}.json")
    run_dir = os.path.join(BUILD, "runs", uuid.uuid4().hex[:12])
    try:
        traces = os.path.join(BUILD, "traces")
        os.makedirs(traces, exist_ok=True)
        args = ["--workload", workload, "--seed", str(seed), "--data", data,
                "--discard", str(DISCARD[workload]),
                "--spans", os.path.join(traces, f"{workload}_seed{seed}.jsonl"),
                "--expected", expected, "--trace", str(trace), "--seconds", str(seconds),
                *extra]
        ready, result, code = launch(cp, run_dir, args, deadline)
        if code != 0 or result is None:
            raise SystemExit(f"[repobench] harness failed (exit {code})")
        result["setup_s"] = ready
        return result
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


# ---------------------------------------------------------------- report

def report(result, trace):
    print(f"workload {result['workload']}: {result['passes_counted']} counted warm passes "
          f"after {result['passes_discarded']} discarded; cold pass {result['cold_pass_s']:.3f} s, "
          f"warm pass median {result['warm_pass_median_s']:.3f} s")
    print("pass seconds: " + ", ".join(f"{s:.3f}" for s in result["pass_seconds"]))
    print("pass wall seconds: " + ", ".join(f"{s:.3f}" for s in result["pass_wall_seconds"])
          + f"; JVM uptime at result {result['jvm_uptime_s']:.1f} s")
    for name, unit in END_TO_END:
        print(f"{name} {result[name]:.6g} {unit}")
    print(f"ops_attempted {result['ops_attempted']}")
    print(f"ops_failed {result['ops_failed']}")
    for f in result["failures"]:
        print(f"failure {f}")
    for name, v in sorted(result["op_seconds"].items()):
        print(f"op {name} cold {v['cold']:.4f} s, warm median {v['warm_median']:.4f} s")
    for name, state in result["known_defects"].items():
        print(f"known_defect {name}: {state}")
    if trace:
        for name, v in sorted(result["layers"].items()):
            print(f"layer {name} cold={v['cold']:.6g} warm={v['warm']:.6g} {unit_of(name)}")
        print(f"trace.overhead_ratio {result['trace.overhead_ratio']:.4f} ratio")


def final_line(result, trace):
    def value(name):
        if name in result:
            return result[name]
        if name.startswith("cold."):
            return result["layers"].get(name[5:], {}).get("cold", 0.0)
        return result["layers"].get(name, {}).get("warm", 0.0)
    decl = PER_LAYER if trace else END_TO_END
    return {"correct": result["ops_failed"] == 0, "attempted": result["ops_attempted"],
            "failed": result["ops_failed"],
            "metrics": {n: {"value": value(n), "unit": u} for n, u in decl}}


def selftest():
    """A corrupted expected fingerprint must be counted as a failed op,
    every time that op runs, while the other ops still pass."""
    ops = ["dedup_simhash", "text_tfidf"]
    r = run("llm_curation", 1, 1, 0, ["--only", ",".join(ops), "--corrupt", ops[0]])
    per_op = r["ops_attempted"] // len(ops)
    ok = r["ops_failed"] == per_op and all(f.split(":")[0].endswith(ops[0])
                                           for f in r["failures"])
    print(f"selftest: {r['ops_failed']} of {r['ops_attempted']} ops failed, "
          f"expected {per_op} (every run of {ops[0]}): {'PASS' if ok else 'FAIL'}")
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(DISCARD))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log("[repobench] no engine sources next to the benchmark: run it from a checkout "
            "of the repository")
        return 2
    if a.selftest:
        return selftest()
    if not a.workload:
        ap.error("--workload is required")
    extra = ["--record", os.path.join(HERE, "expected", f"{a.workload}.json")] if a.record else []
    result = run(a.workload, a.seed, a.seconds, a.trace, extra)
    report(result, a.trace)
    print(json.dumps(final_line(result, a.trace)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
