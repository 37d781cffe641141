#!/usr/bin/env python3
"""Benchmark of the graft CDC engine at local[4].

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Builds the engine and the Scala harness from source with sbt (once per
source state; the build lands in `.perfbench/` and `perfbench/target/`),
runs one workload in one JVM, checks its outputs and prints, as the last line
of standard output, one JSON object with the keys `correct`, `attempted`,
`failed` and `metrics`. `--trace 0` reports the end-to-end metrics of
BENCHMARK.json, `--trace 1` the per-layer ones and writes spans plus a
per-layer self-time table under `.perfbench/traces/`. See perfbench/README.md.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
# scale of read_mix's operator-query corpus (60k lineitems) and of the
# oracle self-test's
SF_SCALE = 0.01

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]

LOG4J = """rootLogger.level = error
rootLogger.appenderRef.stderr.ref = stderr
appender.stderr.type = Console
appender.stderr.name = stderr
appender.stderr.target = SYSTEM_ERR
appender.stderr.layout.type = PatternLayout
appender.stderr.layout.pattern = %d{HH:mm:ss} %p %c{1}: %m%n
"""


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "project")):
        for d, dirs, files in sorted(os.walk(base)):
            dirs[:] = sorted(x for x in dirs if x != "target")
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    with open(os.path.join(HERE, "build.sbt"), "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness once per source state; return the classpath."""
    os.makedirs(STATE, exist_ok=True)
    stamp_file = os.path.join(STATE, "build.stamp")
    cp_file = os.path.join(STATE, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh2:
                    return fh2.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    log("building engine and harness with sbt")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=BUILD_TIMEOUT_S)
    # `export` prints the classpath as a bare line among sbt's [info] lines
    lines = [l.strip() for l in p.stdout.splitlines()
             if l.strip() and not l.startswith("[") and os.pathsep in l]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit("perfbench: build failed")
    cp = lines[-1]
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"build done in {time.time() - t0:.1f}s")
    return cp


def java_cmd(cp, main, args, work):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    log4j = os.path.join(work, "log4j2.properties")
    with open(log4j, "w") as fh:
        fh.write(LOG4J)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # fixed, pre-touched heap: no window pays for the collector growing the
    # heap or for first-touch page faults. Resident memory therefore does
    # not follow use; the gated memory figure is retained_mb (see README.md)
    return [java, *opens, "-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
            f"-Dlog4j2.configurationFile={log4j}", "-cp", cp, main, *args]


def run_jvm(cmd, timeout):
    """Run the harness JVM in its own process group; return (rc, stdout)."""
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                         text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise SystemExit(f"perfbench: run exceeded {timeout}s")
    return p.returncode, out


def oracle_selftest(sf_dir, results_dir):
    """The DuckDB oracle accepts Spark's results and rejects them once one
    value of one result is changed; returns the number of failures."""
    import oracle
    import pandas as pd
    failures = 0

    def expect(name, ok):
        nonlocal failures
        print(f"{'PASS' if ok else 'FAIL'} {name}", flush=True)
        failures += 0 if ok else 1

    got = oracle.check(sf_dir, results_dir)
    expect(f"oracle gate holds on Spark's results ({len(got)} queries)",
           got and all(f is None for _, f in got))
    name = sorted(n for n, _ in got)[0]
    path = os.path.join(results_dir, name + ".parquet")
    df = pd.read_parquet(path)
    col = df.columns[0]
    v = df.at[0, col]
    df.at[0, col] = v + "x" if isinstance(v, str) else v + 1
    shutil.rmtree(path)
    df.to_parquet(path)
    bad = dict(oracle.check(sf_dir, results_dir))
    expect(f"oracle gate fails on a {name} result with one value changed",
           bad[name] is not None)
    return failures


def load_contract():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: engine sources (src/main/scala/graft) not found; "
                         "run from the root of a repository checkout")
    contract = load_contract()
    cp = build()
    tag = "selftest" if a.selftest else f"{a.workload}-{a.seed}-{a.trace}"
    work = os.path.join(STATE, "work", f"{tag}-{os.getpid()}")
    out_dir = os.path.join(STATE, "traces")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    try:
        if a.selftest:
            sys.path.insert(0, HERE)
            import sfgen
            sf_dir = os.path.join(work, "sf")
            sfgen.generate(sf_dir, 1, SF_SCALE)
            rc, out = run_jvm(java_cmd(cp, "perfbench.SelfTest", [work, sf_dir], work),
                              RUN_TIMEOUT_S)
            sys.stdout.write(out)
            if rc == 0:
                rc = 1 if oracle_selftest(sf_dir, os.path.join(work, "st-results")) else 0
            print("oracle selftest: " + ("all passed" if rc == 0 else "FAILED"))
            raise SystemExit(rc)
        listed = {w["name"] for w in contract["workloads"]}
        if a.workload not in listed:
            raise SystemExit(f"perfbench: unknown workload {a.workload!r}")
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--work", work, "--out", out_dir]
        sf_dir = os.path.join(work, "sf")
        gen_s = 0.0
        if a.workload == "read_mix":
            sys.path.insert(0, HERE)
            import sfgen
            t0 = time.time()
            sfgen.generate(sf_dir, a.seed, SF_SCALE)
            gen_s = time.time() - t0
            args += ["--sf-dir", sf_dir]
        rc, out = run_jvm(java_cmd(cp, "perfbench.Main", args, work), RUN_TIMEOUT_S)
        lines = [l for l in out.splitlines() if l.startswith("PERFBENCH ")]
        if rc != 0 or not lines:
            raise SystemExit(f"perfbench: workload {a.workload} failed (rc={rc})")
        r = json.loads(lines[-1][len("PERFBENCH "):])
        if a.workload == "read_mix":
            import oracle
            if "setup_s" in r["metrics"]:
                r["metrics"]["setup_s"] += gen_s
            for name, failure in oracle.check(sf_dir, os.path.join(work, "ops-results")):
                r["attempted"] += 1
                if failure:
                    r["failed"] += 1
                    r["failures"].append(f"DuckDB oracle {name}: {failure}")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    section = "per_layer" if a.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in contract[section]}
    if set(units) != set(r["metrics"]):
        raise SystemExit(
            f"perfbench: harness metrics differ from BENCHMARK.json {section}: "
            f"{sorted(set(units) ^ set(r['metrics']))}")
    for f in r["failures"]:
        log(f"FAILED: {f}")
    result = {
        "correct": r["correct"] and r["failed"] == 0,
        "attempted": int(r["attempted"]),
        "failed": int(r["failed"]),
        "metrics": {n: {"value": r["metrics"][n], "unit": units[n]}
                    for n in (m["name"] for m in contract[section])},
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
