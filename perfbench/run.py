#!/usr/bin/env python3
"""Benchmark of the graft CDC engine: one run of one workload.

Usage (from the repository root):

    python3 perfbench/run.py --workload cdc_stream|drive_gates --seed N \
        --seconds S --trace 0|1

The first run in a checkout builds the program and the harness from source
with sbt (offline) into `perfbench/target` and the repository's `target`.
Every run then starts one JVM (`perfbench.Main`) that sets up, warms up,
measures and checks the program's outputs. `--seconds` sets the length of
the `cdc_stream` live loop and of the `drive_gates` loop beyond its three
passes; the drains and those passes are fixed (see README.md). For
`drive_gates` this script also compares one execution of every gate with
its `SparkEntry.oracleSql` query in DuckDB, by scripts/oracle_check.py.

The last line of standard output is the result:
`{"correct": .., "attempted": .., "failed": .., "metrics": {..}}`. With
`--trace 0` the metrics are the end-to-end metrics of BENCHMARK.json
(`setup_s`, `pass_s`); with `--trace 1` the per-layer metrics, from a
second measured phase with Spark listeners attached. A traced run also
writes its span tree under `.perfbench/` and prints the per-layer split of
its wall time on standard error (see render.py).

Inputs: `cdc_stream` takes its row images from the sf0.1 TPC-H tables and
`drive_gates` runs its gates on sf0.001, both under PERFBENCH_DATA_ROOT
(default `testdata` in the home directory, the layout TESTDATA.md
describes). The JVM runs with the program's own `javaOptions` from its
build.sbt, heap included.
"""
import argparse
import contextlib
import hashlib
import io
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
SCALE = {"cdc_stream": "sf0.1", "drive_gates": "sf0.001"}
E2E = ("setup_s", "pass_s")
RUN_BUDGET_S = 175


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_digest():
    """Digest of every input of the build, so a source change rebuilds."""
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, dirs, files in os.walk(base):
            dirs.sort()
            paths += [os.path.join(d, f) for f in sorted(files)]
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile program and harness once per source state; return JVM args."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no program sources next to perfbench/ (expected build.sbt and "
             "src/main/scala at the repository root)")
    launcher = os.path.join(HERE, "target", "launcher.txt")
    stamp = os.path.join(STATE, "build.stamp")
    digest = sources_digest()
    if not (os.path.exists(launcher) and os.path.exists(stamp)
            and open(stamp).read() == digest):
        os.makedirs(STATE, exist_ok=True)
        env = dict(os.environ, COURSIER_MODE="offline")
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
        t0 = time.time()
        with open(os.path.join(STATE, "build.log"), "w") as log:
            rc = subprocess.call(
                ["sbt", "--batch", "-Dsbt.log.noformat=true",
                 "-Dsbt.server.forcestart=false", "launcher"],
                cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL)
        if rc != 0 or not os.path.exists(launcher):
            fail(f"build failed (see {os.path.join(STATE, 'build.log')})", 1)
        with open(stamp, "w") as fh:
            fh.write(digest)
        print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    with open(launcher) as fh:
        return [line for line in fh.read().split("\n") if line]


def run_jvm(jvm, args, trace, deadline):
    """One JVM run; returns its result with setup_s and oracle checks added."""
    tag = f"{args.workload}-s{args.seed}-t{trace}-{os.getpid()}"
    work = os.path.join(STATE, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.json")
    spans = os.path.join(STATE, f"spans-{args.workload}-s{args.seed}.json")
    cp_at = jvm.index("-cp")
    cmd = (["java"] + jvm[:cp_at] +
           [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dderby.system.home={work}"] + jvm[cp_at:] +
           ["perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(trace),
            "--sf", args.data, "--work", work, "--result", result, "--spans", spans])
    os.makedirs(os.path.join(STATE, "logs"), exist_ok=True)
    log_path = os.path.join(STATE, "logs", tag + ".log")
    spawned = time.time()
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL, start_new_session=True)

            def stop(signum, _frame):
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                sys.exit(128 + signum)
            signal.signal(signal.SIGTERM, stop)
            signal.signal(signal.SIGINT, stop)
            try:
                rc = proc.wait(timeout=max(1.0, deadline - time.time()))
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                fail(f"run exceeded its time budget (log: {log_path})", 1)
        if rc != 0 or not os.path.exists(result):
            fail(f"JVM exited with {rc} (log: {log_path})", 1)
        print(f"perfbench: JVM ran {time.time() - spawned:.1f} s", file=sys.stderr)
        with open(result) as fh:
            res = json.load(fh)
        res["metrics"]["setup_s"] = res["setup_end_ms"] / 1000.0 - spawned
        res["spans_file"] = spans if trace else None
        res["oracle_checks"] = (oracle_check(res["oracle_dir"], args.data)
                                if "oracle_dir" in res else [])
        return res
    finally:
        shutil.rmtree(work, ignore_errors=True)


def oracle_check(dump, data):
    """Compare each dumped gate result with its `SparkEntry.oracleSql` query
    in DuckDB with the repository's scripts/oracle_check.py; returns one
    (name, ok, detail) per PASS or FAIL line it prints."""
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    import oracle_check as oc
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = oc.main(dump, data)
    out = []
    for line in buf.getvalue().splitlines():
        if line.startswith(("PASS ", "FAIL ")):
            name, _, detail = line[5:].partition(":")
            out.append((name, line.startswith("PASS"), detail.strip()))
        elif line.startswith("  ") and out:
            out[-1] = (out[-1][0], out[-1][1], (out[-1][2] + " " + line.strip()).strip())
    if rc != 0 and all(ok for _, ok, _ in out):
        out.append(("oracle_check", False, f"exited with {rc}"))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SCALE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = os.environ.get("PERFBENCH_DATA_ROOT", os.path.expanduser("~/testdata"))
    args.data = os.path.join(root, SCALE[args.workload])
    if not os.path.isfile(os.path.join(args.data, "customer.parquet")):
        fail(f"TPC-H parquet tables not found in {args.data}")
    jvm = build()
    deadline = time.time() + RUN_BUDGET_S

    res = run_jvm(jvm, args, args.trace, deadline)

    checks = [(c["name"], c["ok"], c["detail"]) for c in res["checks"]]
    checks += [(f"oracle {n}", ok, d) for n, ok, d in res["oracle_checks"]]
    attempted = res["attempted"] + len(res["oracle_checks"])
    failed = res["failed"] + sum(1 for _, ok, _ in res["oracle_checks"] if not ok)
    correct = failed == 0 and all(ok for _, ok, _ in checks)

    if args.trace:
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(res["layers"].items())}
        import render
        render.render(res["spans_file"], sys.stderr)
    else:
        metrics = {k: {"value": res["metrics"][k], "unit": unit_of(k)} for k in E2E}

    for name, ok, detail in checks:
        print(f"{'PASS' if ok else 'FAIL'} {name}: {detail}")
    print(json.dumps({"host": res["host"], "failed_frac": failed / attempted,
                      "measured": res["metrics"], "details": res["details"]}))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def unit_of(name):
    if name.startswith("trace.overhead."):
        name = name[len("trace.overhead."):]
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_mb", "MB"), ("_eps", "1/s"),
                         ("bytes_written", "bytes")):
        if name.endswith(suffix):
            return unit
    return "ratio" if name == "host.cpu_per_wall" else "count"


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    main()
