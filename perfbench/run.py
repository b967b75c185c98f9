#!/usr/bin/env python3
"""Benchmark launcher for the engine's batch plane, streaming plane and
a round-loop query slice.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads are listed in BENCHMARK.json. The first run in a checkout
compiles the engine's sources together with the benchmark main
(perfbench/build.sbt, offline sbt); later runs reuse the build while
the sources are unchanged. Each run starts one JVM with Spark
local[min(4, cores)], which generates the workload's inputs from the
read-only fixture and the seed, measures for --seconds seconds, checks
its outputs, and writes its figures to a work directory under
perfbench/target that is removed afterwards. This launcher adds the
JVM's peak resident memory and the DuckDB oracle checks, then prints
one human-readable summary line and, last, the result object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end metrics;
with --trace 1 they are its per_layer metrics, and the run's spans and
per-entry classification are kept in perfbench/target/traces/.
Exits nonzero when a check fails or the program cannot be built.
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

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
TARGET = os.path.join(BENCH, "target")
FIXTURES = "/root/testdata"  # read-only fixture tables, one dir per scale
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)
    sys.exit(2)


def source_stamp():
    """Content hash of everything the build compiles."""
    roots = [os.path.join(ROOT, "src", "main", "scala"),
             os.path.join(BENCH, "src"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    h = hashlib.sha1()
    for r in roots:
        if not os.path.exists(r):
            fail(f"missing {os.path.relpath(r, ROOT)}: not a checkout "
                 "of the program")
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(stamp):
    """Compiles the benchmark main and the engine; returns the runtime
    classpath."""
    cp_file = os.path.join(TARGET, "perfbench.classpath")
    stamp_file = os.path.join(TARGET, "perfbench.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=/root/.sbt/repositories "
                   "-Dsbt.offline=true -Xmx3g")
    try:
        p = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdin=subprocess.DEVNULL,
            capture_output=True, text=True, timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build did not run: {e}")
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    os.makedirs(TARGET, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def run_jvm(cp, args, work):
    """Runs the benchmark main; returns (exit status, peak RSS in MB)."""
    # a fixed heap and young generation keep the collector's sizing, and
    # with it the peak resident memory, the same from run to run
    cmd = (["java", "-Xms3g", "-Xmx3g", "-Xmn768m",
            f"-Djava.io.tmpdir={work}/tmp"] +
           [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", cp, "perfbench.Main"] + args)
    os.makedirs(f"{work}/tmp", exist_ok=True)
    with open(f"{work}/jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, cwd=work)
        deadline = time.monotonic() + RUN_TIMEOUT_S
        try:
            while True:
                pid, status, ru = os.wait4(proc.pid, os.WNOHANG)
                if pid:
                    break
                if time.monotonic() > deadline:
                    proc.kill()
                    _, status, ru = os.wait4(proc.pid, 0)
                    break
                time.sleep(0.05)
        except BaseException:
            proc.kill()
            os.wait4(proc.pid, 0)
            raise
    proc.returncode = os.waitstatus_to_exitcode(status)
    return proc.returncode, ru.ru_maxrss / 1024.0


def oracle_check(o, check):
    """Compares a Spark output with its DuckDB oracle using the
    canonicalization of tools/check.py. Returns an error or None."""
    import duckdb
    con = duckdb.connect()
    con.sql("SET threads TO 4")
    for t, sql in o["views"].items():
        con.sql(f"CREATE VIEW {t} AS {sql}")
    got_rel = con.sql(f"SELECT * FROM read_parquet('{o['got']}/*.parquet')")
    want_rel = con.sql(o["sql"])
    skew = check.dtype_skew(got_rel, want_rel)
    if skew:
        return f"dtype skew {skew}"
    got, want = check.canon(got_rel.df()), check.canon(want_rel.df())
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} vs {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    if got.equals(want):  # NaN == NaN, same dtypes: the common case
        return None
    for c in got.columns:
        for a, b in zip(got[c].tolist(), want[c].tolist()):
            if not check.cell_eq(a, b):
                return f"column {c}: {a!r} vs {b!r}"
    return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except OSError as e:
        fail(f"cannot read BENCHMARK.json: {e}")
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")
    stamp = source_stamp()
    cp = build(stamp)
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check  # the oracle gate's canonicalization

    work = os.path.join(TARGET, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    verified = os.path.join(TARGET, f"verified-{stamp[:16]}.tsv")
    try:
        status, rss_mb = run_jvm(cp, [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--fixtures", FIXTURES, "--verified", verified,
            "--out", f"{work}/jvm.json"], work)
        if status != 0 or not os.path.exists(f"{work}/jvm.json"):
            with open(f"{work}/jvm.log", errors="replace") as f:
                sys.stderr.write(f.read()[-6000:])
            fail(f"benchmark main exited with status {status}")
        with open(f"{work}/jvm.json") as f:
            out = json.load(f)
        with open(f"{work}/jvm.log", errors="replace") as f:
            sys.stderr.write("".join(
                ln for ln in f if ln.startswith("[perfbench")))

        if a.trace:
            traces = os.path.join(TARGET, "traces")
            os.makedirs(traces, exist_ok=True)
            with open(os.path.join(
                    traces, f"{a.workload}-seed{a.seed}.json"), "w") as f:
                json.dump(out["trace"], f)
        failures = [f"{c['name']}: {c['detail']}" for c in out["checks"]
                    if c["ok"] is not True]
        attempted = out["attempted"] + len(out["checks"])
        for o in out["oracles"]:
            attempted += 1
            if not o["got"]:
                continue  # output hash already verified for this build
            err = oracle_check(o, check)
            if err:
                failures.append(f"oracle {o['name']}: {err}")
            elif o["hash"] != 0:
                with open(verified, "a") as f:
                    f.write(f"{o['name']}\t{o['hash']}\n")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    got = dict(out["metrics"])
    got["peak_rss_mb"] = rss_mb
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        if got.get(m["name"]) is None:
            failures.append(f"metric {m['name']} not measured")
            continue
        metrics[m["name"]] = {"value": got[m["name"]], "unit": m["unit"]}
    failed = len(failures)
    summary = dict(out["named"], peak_rss_mb=rss_mb,
                   ops_failed_frac=failed / attempted)
    print(json.dumps({"workload": a.workload, "seed": a.seed,
                      "workload_metrics": summary, "failures": failures}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
