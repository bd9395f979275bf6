#!/usr/bin/env python3
"""GENIE pipeline benchmark.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <release_cycle|delta_reprocess|curation_lifecycle> \
        --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark from source with sbt (once per
source state), runs one workload in a fresh JVM, checks its outputs and
prints one JSON object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
ones. `python3 perfbench/run.py --self-test` runs the benchmark's own
tests (generator, checker, listener) instead. Every file the run writes stays under `.bench_build/` in the
checkout. The exit code is non-zero when a call failed, an output was
wrong, or the checkout holds no program to build.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["release_cycle", "delta_reprocess", "curation_lifecycle"]
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Digest of everything the build reads, so an unchanged checkout
    reuses its build."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    # sbt's own scratch files (server socket dir) stay in the checkout too
    tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false",
            f"-Djava.io.tmpdir={tmp}", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile program + benchmark; returns the launcher lines
    (JVM options, then the classpath)."""
    stamp = os.path.join(BUILD, "launch.stamp")
    launch = os.path.join(BUILD, "launch.txt")
    digest = source_digest()
    if os.path.isfile(stamp) and os.path.isfile(launch) and open(stamp).read() == digest:
        return open(launch).read().splitlines()
    log("building program and benchmark with sbt")
    os.makedirs(BUILD, exist_ok=True)
    proc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLauncher"],
                          cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout.decode(errors="replace")[-4000:])
        raise SystemExit("build failed")
    shutil.copyfile(os.path.join(HERE, "target", "launch.txt"), launch)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return open(launch).read().splitlines()


def run_jvm(launch, args, work, result):
    opts, classpath = launch[:-1], launch[-1]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    log4j = os.path.join(work, "log4j2.properties")
    with open(log4j, "w") as fh:
        fh.write("rootLogger.level = warn\nrootLogger.appenderRef.stderr.ref = console\n"
                 "appender.console.type = Console\nappender.console.name = console\n"
                 "appender.console.target = SYSTEM_ERR\n"
                 "appender.console.layout.type = PatternLayout\n"
                 "appender.console.layout.pattern = %d{HH:mm:ss} %p %c{1}: %m%n\n")
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env.pop("SPARK_HOME", None)
    # A fixed 2 GB heap, touched at start, in place of the build's -Xmx
    # (16 GB by default). With a growing heap, when the collector grows
    # it varies from run to run, and so do peak RSS (IQR/median 0.26 over
    # five seeds on 4 cores) and the cycle time; with a fixed heap left
    # untouched, peak RSS still jumps by 0.4 GB between runs that touch
    # all of it and runs that do not. The price: peak_rss_mb measures
    # native memory on top of the heap, not heap demand.
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={env['SPARK_LOCAL_DIRS']}",
            f"-Dlog4j2.configurationFile={log4j}"] + opts +
           ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", os.path.join(work, "data"), "--result", result])
    # the JVM's stdout is diagnostics only: keep ours for the result line
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr, stderr=sys.stderr)
    try:
        return proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        log(f"JVM exceeded {JVM_TIMEOUT_S} s and was stopped")
        return -1
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()


def curation_wrong(out_dir, corpus_dir):
    """Compare each query's written result with its oracle SQL in DuckDB,
    by the program's own comparison rules (tools/check_oracle.py)."""
    sys.dont_write_bytecode = True
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py"))
    co = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(co)
    con = co.connect(corpus_dir)
    with open(os.path.join(out_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    wrong = 0
    for name in sorted(oracle):
        status, n_rows, detail = co.compare_one(con, out_dir, name, oracle[name])
        if status != "PASS":
            wrong += 1
            log(f"wrong output: {name}: {status} {detail}")
    return wrong


def self_test():
    proc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "test"],
                          cwd=HERE, env=sbt_env(), timeout=BUILD_TIMEOUT_S)
    return proc.returncode


def main():
    # a terminated run still stops its JVM (the finally blocks run)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if sys.argv[1:] == ["--self-test"]:
        return self_test()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    args = ap.parse_args()

    missing = [p for p in ("build.sbt", os.path.join("src", "main", "scala"),
                           os.path.join("tools", "check_oracle.py"))
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        log(f"no program to benchmark here: missing {', '.join(missing)}")
        return 2

    launch = build()
    work = os.path.join(BUILD, f"work-{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result = os.path.join(work, "result.json")
    try:
        code = run_jvm(launch, args, work, result)
        if code != 0 or not os.path.isfile(result):
            log(f"benchmark JVM exited with code {code}")
            return 1
        with open(result) as fh:
            res = json.load(fh)
        wrong = res["wrong_outputs"]
        if res.get("curation_out"):
            wrong += curation_wrong(res["curation_out"], os.path.join(work, "data", "corpus"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if res.get("spans"):
        trace_file = os.path.join(BUILD, f"trace-{args.workload}-{args.seed}.json")
        with open(trace_file, "w") as fh:
            json.dump(res["spans"], fh)
        log(f"spans written to {os.path.relpath(trace_file, ROOT)}")
    for k, v in res.get("shares", {}).items():
        print(f"# input {k} = {v:.6g}")
    attempted, failed = res["attempted"], res["failed"]
    print(f"# {args.workload}: {res['cycles']} cycles, {attempted} calls, "
          f"fail_frac = {failed / max(1, attempted):.6g} (ratio, n={attempted}), "
          f"wrong_outputs = {wrong} (count)")
    for name, m in res["metrics"].items():
        print(f"# {name} = {m['value']:.6g} {m['unit']} (n={m['samples']})")
    out = {"correct": wrong == 0 and failed == 0, "attempted": attempted, "failed": failed,
           "metrics": {k: {"value": m["value"], "unit": m["unit"]}
                       for k, m in res["metrics"].items()}}
    print(json.dumps(out), flush=True)
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
