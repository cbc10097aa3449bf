#!/usr/bin/env python3
"""Run one benchmark workload against this checkout and print its metrics.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload cron_window|catalog \
        --seed N --seconds S --trace 0|1

The first run builds the program and the benchmark from source with sbt
(perfbench/build.sbt depends on the enclosing build) into .bench_build/;
later runs reuse the build while the sources are unchanged. Each run gets a
fresh private java.io.tmpdir under .bench_build/runs/, so persisted indexes
(keyed on data and parameters, not on code) are rebuilt by the code under
test and their cost lands in setup_s.

The last line of stdout is one JSON object: correct, attempted, failed and
metrics -- the end-to-end metrics of BENCHMARK.json with --trace 0, its
per-layer metrics with --trace 1. Lines before it name every figure with its
unit. The exit code is 1 when an output check fails and 2 when the benchmark
could not run; either way stderr ends with what went wrong.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CATALOG_DATA = os.path.join(HERE, "data", "sf0.001")
WORKLOADS = ("cron_window", "catalog")
LOG_CONFIG = os.path.join(ROOT, "tools", "log4j2-quiet.properties")
JVM_TIMEOUT_S = 160
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg, log=None):
    """Exit 2 (the benchmark could not run), with the tail of `log` on stderr."""
    if log and os.path.exists(log):
        with open(log, errors="replace") as fh:
            sys.stderr.write(fh.read()[-3000:])
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run(cmd, timeout, **kw):
    """subprocess.run in its own process group; on timeout the whole group
    is killed and waited for, so no child outlives the benchmark."""
    with subprocess.Popen(cmd, start_new_session=True, **kw) as p:
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:  # it ended on its own meanwhile
                pass
            p.wait()
            raise
        return subprocess.CompletedProcess(cmd, p.returncode, out)


def tree_digest(paths):
    """Digest of every file under `paths`, so an edited source rebuilds."""
    h = hashlib.sha256()
    for p in paths:
        if os.path.isfile(p):
            files = [p]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the checkout and the benchmark; return the runtime classpath."""
    needed = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main"),
              os.path.join(HERE, "build.sbt"), os.path.join(HERE, "src")]
    missing = [p for p in needed if not os.path.exists(p)]
    if missing:
        fail("not a checkout of the program: missing " + ", ".join(
            os.path.relpath(p, ROOT) for p in missing))
    digest = tree_digest(needed + [os.path.join(ROOT, "project", "build.properties"),
                                   os.path.join(HERE, "project", "build.properties")])
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = os.path.join(BUILD, "classpath.digest")
    if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] += f" -Djava.io.tmpdir={tmp}"
    env["TMPDIR"] = tmp
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        try:
            p = run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                     "export Runtime/fullClasspath"],
                    840, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=fh, text=True)
        except subprocess.TimeoutExpired:
            fail("build timed out", log)
        fh.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        fail(f"build failed (exit {p.returncode})", log)
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    with open(stamp, "w") as fh:
        fh.write(digest)
    return lines[-1]


def run_jvm(cp, args, run_dir):
    if not os.path.exists(LOG_CONFIG):
        fail("tools/log4j2-quiet.properties is missing")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile=file:{LOG_CONFIG}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           # the loopback SensorThings server sets TCP_NODELAY, as production
           # HTTP servers do, so its replies are not held back by Nagle
           "-Dsun.net.httpserver.nodelay=true"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--out", run_dir, "--data", CATALOG_DATA]
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as fh:
        try:
            p = run(cmd, JVM_TIMEOUT_S, cwd=run_dir, stdout=fh, stderr=subprocess.STDOUT)
        except subprocess.TimeoutExpired:
            fail("benchmark JVM timed out", log)
    with open(log, errors="replace") as fh:
        log_tail = fh.read()[-3000:]
    result = os.path.join(run_dir, "result.json")
    if p.returncode != 0 or not os.path.exists(result):
        sys.stderr.write(log_tail)
        fail(f"benchmark JVM failed (exit {p.returncode})")
    with open(result) as fh:
        return json.load(fh), log_tail


def oracle_check(run_dir):
    """Compare the catalog's Spark fingerprints with their DuckDB oracles
    through tools/manifest_check.py. Its verdict depends only on the
    fingerprints, the oracle SQL, the data and the checker, so it is cached
    on a digest of those. Returns the names of queries without a match."""
    checker = os.path.join(ROOT, "tools", "manifest_check.py")
    if not os.path.exists(checker):
        fail("tools/manifest_check.py is missing")
    key = tree_digest([os.path.join(run_dir, "verify_manifest.jsonl"),
                       os.path.join(run_dir, "oracle_sql.json"), CATALOG_DATA, checker])
    cache = os.path.join(BUILD, "oracle-cache", key)
    if not os.path.exists(cache):
        try:
            p = run([sys.executable, checker, CATALOG_DATA, run_dir], 120, cwd=run_dir,
                    env=dict(os.environ, TMPDIR=run_dir), stdout=subprocess.PIPE,
                    stderr=subprocess.STDOUT, text=True)
        except subprocess.TimeoutExpired:
            fail("manifest_check timed out")
        if p.returncode not in (0, 1):
            fail("manifest_check crashed:\n" + p.stdout[-2000:])
        os.makedirs(os.path.dirname(cache), exist_ok=True)
        with open(cache + ".tmp", "w") as fh:
            fh.write(p.stdout)
        os.replace(cache + ".tmp", cache)
    with open(cache) as fh:
        out = fh.read()
    if not any(l.startswith("manifest_check: ") for l in out.splitlines()):
        os.remove(cache)
        fail("manifest_check printed no verdict:\n" + out[-2000:])
    # a query passes only on an explicit match: FAIL and SKIP (no oracle) both fail it
    return [l.split()[1].rstrip(":") for l in out.splitlines()
            if l.startswith("FAIL ") or l.startswith("SKIP ")]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json is missing")
    with open(spec_path) as fh:
        spec = json.load(fh)

    cp = build()
    run_dir = os.path.join(BUILD, "runs",
                           f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}-{time.time_ns()}")
    os.makedirs(run_dir)
    try:
        r, log_tail = run_jvm(cp, args, run_dir)
        checks = [(c["name"], c["ok"], c["detail"]) for c in r["checks"]]
        failed = r["failed"]
        if args.workload == "catalog":
            bad = oracle_check(run_dir)
            for q in json.load(open(os.path.join(run_dir, "oracle_sql.json"))):
                ok = q not in bad
                checks.append((f"{q}: Canon fingerprint equals its DuckDB oracle", ok, ""))
                if not ok:
                    failed += int(r["extra"].get(f"executions.{q}", "1"))
        if args.trace:
            os.makedirs(os.path.join(BUILD, "spans"), exist_ok=True)
            shutil.copy(os.path.join(run_dir, "spans.json"), os.path.join(
                BUILD, "spans", f"{args.workload}-seed{args.seed}.json"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted = r["attempted"]
    correct = failed == 0 and all(ok for _, ok, _ in checks)
    for name, ok, detail in checks:
        if not ok:
            print(f"check FAILED: {name} {detail}")
            print(f"check FAILED: {name} {detail}", file=sys.stderr)
    if not correct:
        # the run's own log, for whoever reads only stderr
        sys.stderr.write(log_tail)
    print(f"checks: {sum(ok for _, ok, _ in checks)}/{len(checks)} passed")
    for k, v in r["extra"].items():
        if not k.startswith("executions."):
            print(f"{k}: {v}")
    shown = dict(r["report"])
    shown.update(r["end_to_end"])
    shown["failed_ratio"] = {"value": failed / max(1, attempted), "unit": "ratio"}
    if args.trace:
        shown.update(r["per_layer"])
    for k, v in shown.items():
        print(f"{k} = {v['value']} {v['unit']}")

    kind = "per_layer" if args.trace else "end_to_end"
    metrics = {}
    for m in spec[kind]:
        v = r[kind].get(m["name"])
        if v is None and kind == "end_to_end":
            fail(f"the benchmark JVM did not measure {m['name']}")
        # a layer the workload never calls into did no work
        metrics[m["name"]] = {"value": v["value"] if v else 0.0, "unit": m["unit"]}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    try:
        main()
    except Exception:  # exit 1 is kept for failed output checks
        traceback.print_exc()
        fail("crashed")
