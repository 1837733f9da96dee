#!/usr/bin/env python3
"""Flu pipeline benchmark: one run of one workload.

    python3 perfbench/run.py --workload flu_etl --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. The first run builds the repository's
main code and the harness in perfbench/ with sbt (offline); later runs
reuse the build while the sources are unchanged. Inputs come from
feedgen.py and the seed. The JVM writes a record file; this script
prints, as the last line of stdout, one JSON object with `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics of
BENCHMARK.json with `--trace 0`, its per-layer metrics with `--trace 1`.
Everything the run writes lives under .bench_build/ in the checkout.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave nothing behind in the checkout
import feedgen  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
RUN_LIMIT_S = 170          # the JVM run, build excluded
BUILD_LIMIT_S = 840
DRIVER_HEAP = "2g"
MAIN = "perfbench.FluBench"
# RHINO demographic values per key. flu_api serves tables of the same
# size (they do not depend on this) but builds them in every set-up.
DEMOGRAPHICS = {"flu_etl": 10, "flu_api": 2}
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Everything the build reads from the checkout."""
    pats = ["build.sbt", "project/build.properties", "src/main/**/*",
            "perfbench/build.sbt", "perfbench/project/build.properties",
            "perfbench/src/**/*"]
    files = set()
    for p in pats:
        files.update(f for f in glob.glob(os.path.join(ROOT, p), recursive=True)
                     if os.path.isfile(f))
    return sorted(files)


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Xmx3g", "-Dsbt.offline=true", "-Dsbt.server.autostart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build(fp):
    """Compile once per source fingerprint; return the runtime classpath."""
    stamp = os.path.join(BUILD, "classpath-" + fp)
    if os.path.isfile(stamp):
        with open(stamp) as f:
            return f.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        p = subprocess.Popen(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                              "export Runtime/fullClasspath"],
                             cwd=HERE, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        code = wait(p, BUILD_LIMIT_S)
    with open(log) as f:
        lines = f.read().splitlines()
    cp = [l for l in lines if ".jar" in l and os.pathsep in l and not l.startswith("[")]
    if code != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {code}); see {log}")
    for old in glob.glob(os.path.join(BUILD, "classpath-*")) + \
            glob.glob(os.path.join(BUILD, "golden-ok-*")):
        os.remove(old)
    with open(stamp, "w") as f:
        f.write(cp[-1])
    return cp[-1]


def wait(p, limit):
    """Wait for `p`; past `limit` seconds kill its process group."""
    try:
        return p.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None


def run_jvm(cp, args, work, trace, limit, golden):
    """One JVM run; returns its record, or None if it crashed."""
    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    out = os.path.join(work, f"record-{trace}.json")
    cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    env = dict(os.environ, SPARK_LOCAL_DIRS=local, SPARK_GRAFT_CPUS=str(cpus))
    env.pop("SPARK_GRAFT_ONLY_Q", None)
    cmd = (["java", f"-Xms{DRIVER_HEAP}", f"-Xmx{DRIVER_HEAP}", "-XX:+UseG1GC"] + ADD_OPENS +
           ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={work}", "-cp", cp, MAIN,
            "--workload", args.workload, "--seconds", str(args.seconds),
            "--trace", str(trace), "--seed", str(args.seed),
            "--feeds", os.path.join(work, "feeds"), "--work", work, "--root", ROOT,
            "--out", out, "--golden", "1" if golden else "0"])
    log = os.path.join(work, f"jvm-{trace}.log")
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=fh, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        code = wait(p, limit)
    if code is None or not os.path.isfile(out):
        with open(log, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        return None
    with open(out) as f:
        rec = json.load(f)
    rec["exit"] = code
    return rec


def untraced_dir(fp, workload):
    return os.path.join(BUILD, "untraced", fp, workload)


def save_untraced(fp, workload, metrics):
    d = untraced_dir(fp, workload)
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, f"{time.time_ns()}.json"), "w") as f:
        json.dump(metrics, f)


def untraced(fp, workload):
    """Metrics of the passing untraced runs of this build and workload."""
    recs = []
    for path in glob.glob(os.path.join(untraced_dir(fp, workload), "*.json")):
        with open(path) as f:
            recs.append(json.load(f))
    return recs


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    started = time.time()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {args.workload}")
    for need in ("build.sbt", "src/main/scala/graft/flu/FluFeeds.scala",
                 "src/test/resources/feeds_golden/rhino.csv"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            fail(f"{need} is missing: run from the root of a full checkout")

    fp = fingerprint()
    cp = build(fp)
    work = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        _, props = feedgen.write(args.seed, os.path.join(work, "feeds"),
                                 DEMOGRAPHICS[args.workload])
        # the golden-feed start-up check tests the program, not the seed:
        # once per build, until it has passed
        golden_ok = os.path.join(BUILD, "golden-ok-" + fp)
        golden = args.workload == "flu_etl" and not os.path.isfile(golden_ok)
        rec = run_jvm(cp, args, work, args.trace, RUN_LIMIT_S, golden)
        if rec is None:
            fail("benchmark JVM failed", 1)
        if golden and not rec["failed"]:
            open(golden_ok, "w").close()
        if not args.trace and not rec["failed"] and rec["exit"] == 0:
            save_untraced(fp, args.workload, rec["metrics"])
        metrics = dict(rec["metrics"])
        e2e = [m["name"] for m in spec["end_to_end"]]
        if args.trace:
            # tracing overhead: this traced run against the median of the
            # untraced runs of the same build and workload in this checkout
            base = untraced(fp, args.workload)
            overhead = {f"{name}_traced/untraced": metrics[name] / statistics.median(
                b[name] for b in base) for name in e2e} if base else \
                "no untraced run of this build and workload yet"
            report = {"workload": args.workload, "seed": args.seed, "input": props,
                      "metrics": metrics, "info": rec["info"],
                      "tracing_overhead": overhead, "untraced_runs": len(base)}
            os.makedirs(os.path.join(BUILD, "reports"), exist_ok=True)
            stem = os.path.join(BUILD, "reports", f"{args.workload}-seed{args.seed}")
            with open(stem + "-trace.json", "w") as f:
                json.dump(report, f, indent=1)
            if os.path.isfile(os.path.join(work, "spans.json")):
                shutil.copy(os.path.join(work, "spans.json"), stem + "-spans.json")
        wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
        missing = [m["name"] for m in wanted if m["name"] not in metrics]
        if missing:
            fail(f"record lacks metrics {missing}; errors: {rec['errors'][:5]}", 1)
        for e in rec["errors"]:
            print(f"check failed: {e}")
        print(json.dumps({"input": props, "info": rec["info"]}))
        if args.trace:
            print(json.dumps({"self_ms": {k: v for k, v in metrics.items() if k.startswith("self.")},
                              "tracing_overhead": overhead}))
        result = {
            "correct": rec["failed"] == 0 and rec["exit"] == 0,
            "attempted": rec["attempted"],
            "failed": rec["failed"],
            "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                        for m in wanted},
        }
        print(f"perfbench: {args.workload} seed {args.seed} took "
              f"{time.time() - started:.1f} s", file=sys.stderr)
        print(json.dumps(result))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
