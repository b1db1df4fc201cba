#!/usr/bin/env python3
"""Benchmark of the graft Kafka backup path and operator battery.

Run from the repository root:

    python3 perfbench/run.py --workload backup|restore|battery --seed N \
        --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

The first run builds the program and the harness from source with sbt (the
harness is its own sbt build in this directory, depending on the root build)
and caches the classpath under perfbench/target/. Every run then starts one
JVM with Spark in local mode on all cores, sets up its seeded inputs, measures
for at least --seconds, checks every output, and prints two lines: the full
report (host stamp, per-operation counts, notes), then the result line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones, from a run that alternates traced and untraced rounds.
"""
import argparse
import contextlib
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
WORK = os.path.join(TARGET, "work")
DEADLINE_S = 175

END_TO_END_UNITS = {
    "setup_s": "s", "round_s": "s", "op_p50_s": "s", "op_p90_s": "s",
    "mb_s": "MB/s", "cpu_s": "CPU-s", "peak_rss_mb": "MB",
}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def layer_unit(name):
    if name.endswith("_mb_s"):
        return "MB/s"
    if name.endswith("cpu_s"):
        return "CPU-s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("cores_busy"):
        return "cores"
    if name.endswith(("_frac", "_ratio", "_skew")):
        return "ratio"
    return "count"


def sources_stamp():
    """Hash of every build input, so a changed source triggers a rebuild."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
            os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "build.sbt"),
            os.path.join(BENCH, "project"), os.path.join(BENCH, "src")]
    for top in tops:
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(top)
            if "target" not in os.path.relpath(d, top).split(os.sep) for f in fs)
        for f in files:
            if f.endswith((".scala", ".sbt", ".properties", ".java")):
                st = os.stat(f)
                h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile the program and the harness; return the runtime classpath."""
    stamp_file = os.path.join(TARGET, "kbench-build.json")
    stamp = sources_stamp()
    try:
        with open(stamp_file) as f:
            cached = json.load(f)
        if cached["stamp"] == stamp:
            return cached["classpath"]
    except (OSError, ValueError, KeyError):
        pass
    env = dict(os.environ, COURSIER_MODE="offline")
    if not env.get("SBT_OPTS"):
        opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx3g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts.append(f"-Dsbt.repository.config={repos}")
        env["SBT_OPTS"] = " ".join(opts)
    log("[perfbench] building with sbt ...")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=BENCH, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=850)
    if p.returncode != 0:
        log(p.stdout[-6000:])
        raise SystemExit(f"build failed (exit {p.returncode})")
    cp = [ln.strip() for ln in p.stdout.splitlines()
          if ln.strip().endswith(".jar") and os.pathsep in ln and "classes" in ln]
    if not cp:
        log(p.stdout[-3000:])
        raise SystemExit("build printed no classpath")
    os.makedirs(TARGET, exist_ok=True)
    with open(stamp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp[-1]}, f)
    log(f"[perfbench] built in {time.time() - t0:.0f} s")
    return cp[-1]


def run_jvm(classpath, args, deadline):
    java = shutil.which("java") or os.path.join(os.environ.get("JAVA_HOME", ""), "bin", "java")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # a fixed heap: with a growable one, peak RSS follows the collector's
    # sizing decisions more than the program's memory use
    cmd += ["-Xms1g", "-Xmx1g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
    log4j = os.path.join(ROOT, "conf", "log4j2.properties")
    if os.path.isfile(log4j):
        cmd.append(f"-Dlog4j2.configurationFile=file:{log4j}")
    cmd += ["-cp", classpath, "kbench.Main"] + args
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=ROOT,
                            start_new_session=True)
    try:
        rc = proc.wait(timeout=max(10, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit("benchmark JVM timed out")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if rc != 0:
        raise SystemExit(f"benchmark JVM failed (exit {rc})")


def oracle_results(out_dir, sf_dir):
    """Per-entry verdicts of tools/oracle_check.py (DuckDB, same normalisation)."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import oracle_check
    with contextlib.redirect_stdout(sys.stderr):
        oracle_check.main(out_dir, sf_dir)
    with open(os.path.join(out_dir, "local_check.json")) as f:
        return json.load(f)


def selftest(classpath, deadline):
    out = os.path.join(WORK, "selftest.json")
    run_jvm(classpath, ["--workload", "selftest", "--seed", "1", "--seconds", "1",
                        "--trace", "0", "--work", WORK, "--out", out], deadline)
    with open(out) as f:
        results = json.load(f)
    import pandas as pd
    out_dir, sf_dir = os.path.join(WORK, "out"), os.path.join(WORK, "sf")
    green = oracle_results(out_dir, sf_dir)
    results["intact battery output matches its oracle hash"] = all(
        v.get("hash_match") is True for v in green.values()) and bool(green)
    # alter one cell of one entry's output: the hash check must catch it
    entry = next(iter(green))
    part = next(f for f in sorted(os.listdir(os.path.join(out_dir, entry)))
                if f.endswith(".parquet"))
    path = os.path.join(out_dir, entry, part)
    df = pd.read_parquet(path)
    col = df.columns[-1]
    df.loc[0, col] = df.loc[0, col] + 1
    os.remove(path)
    df.to_parquet(path, index=False)
    bad = oracle_results(out_dir, sf_dir)
    results["altered battery output fails its oracle hash"] = bad[entry].get("hash_match") is False
    for k, v in results.items():
        log(f"[selftest] {'ok  ' if v else 'FAIL'} {k}")
    return all(results.values())


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=["backup", "restore", "battery"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise SystemExit(f"no program to benchmark: {ROOT} has no build.sbt and src/main/scala")

    classpath = build()
    # a run's deadline starts after the (one-off) build
    deadline = time.time() + DEADLINE_S
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    try:
        if a.selftest:
            ok = selftest(classpath, deadline)
            print(json.dumps({"selftest": "pass" if ok else "fail"}))
            return 0 if ok else 1
        out = os.path.join(WORK, "result.json")
        run_jvm(classpath, ["--workload", a.workload, "--seed", str(a.seed),
                            "--seconds", str(a.seconds), "--trace", str(a.trace),
                            "--work", WORK, "--out", out], deadline)
        with open(out) as f:
            report = json.load(f)
        attempted, failed = report["attempted"], report["failed"]
        if a.workload == "battery":
            t0 = time.time()
            verdicts = oracle_results(os.path.join(WORK, "out"), os.path.join(WORK, "sf"))
            log(f"[perfbench] oracle check took {time.time() - t0:.1f} s")
            checked = [e for e in report["notes"]["checked_entries"].split(",") if e]
            bad = [e for e in checked if verdicts.get(e, {}).get("hash_match") is not True]
            attempted += len(checked)
            failed += len(bad)
            report["oracle_mismatch"] = bad
        metrics = report["per_layer"] if a.trace else report["end_to_end"]
        units = layer_unit if a.trace else END_TO_END_UNITS.get
        print(json.dumps(report))
        print(json.dumps({
            "correct": failed == 0 and attempted >= 1,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units(k)} for k, v in sorted(metrics.items())},
        }))
        return 0
    finally:
        shutil.rmtree(WORK, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
