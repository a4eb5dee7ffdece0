#!/usr/bin/env python3
"""Benchmark of the spark-graft engine: one workload per invocation.

Usage (from the repository root):

    python3 perfbench/run.py --workload chain|slider|surface --seed N \
        --seconds S --trace 0|1

Builds the engine and the runner from this checkout's sources (once; the
build is reused while the sources are unchanged), runs the workload in one
JVM (`perfbench.Main`), compares the checked outputs with the engine's
DuckDB oracles through `scripts/local_check.py`, and prints one JSON object
as the last line of standard output. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH)
JAR = os.path.join(BENCH, "target", "perfbench.jar")
STAMP = os.path.join(BENCH, "target", "perfbench.stamp")
# Class-data archive of the classes a JVM loads up to its first Spark job,
# written once after each build and mapped by every run: a run's JVM then
# reaches its first job in about half the time.
CDS = os.path.join(BENCH, "target", "perfbench.jsa")
DEADLINE_S = 170

END_TO_END = ["setup_s", "pass_s", "pass_tail_s", "pass_cpu_s", "op_p50_ms",
              "op_tail_ms", "peak_rss_mb"]

# Spark 4 on JDK 17 outside spark-submit (same list as the root build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def repo_setting(path, pattern):
    """A location the repository itself records, so it is written once."""
    with open(os.path.join(REPO, path)) as fh:
        m = re.search(pattern, fh.read())
    if not m:
        fail(f"{path} no longer matches {pattern}", 2)
    return m.group(1).rstrip("/")


def spark_jars():
    """The Spark jars the root build links against."""
    return repo_setting("build.sbt", r'unmanagedBase := file\("([^"]+)"\)')


def fixture_dir():
    """The read-only sf0.1 fixture, as TESTDATA.md lists it."""
    return repo_setting("TESTDATA.md", r"\|\s*0\.1\s*\|\s*`([^`]+)`")


def sources():
    roots = [os.path.join(REPO, "src", "main", "scala"),
             os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(files)


def build():
    """Compiles and packages the engine plus runner into one jar (class-data
    archives take classes from jars only), unless the stamp matches the
    sources."""
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    for f in (STAMP, CDS):
        if os.path.exists(f):
            os.remove(f)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", (
        "-Dsbt.override.build.repos=true -Dsbt.repository.config="
        + os.path.expanduser("~/.sbt/repositories")
        + " -Dsbt.offline=true -Xmx2g"))
    log = os.path.join(BENCH, "target", "build.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as out:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true",
                              "package"], cwd=BENCH, env=env, stdout=out,
                             stderr=subprocess.STDOUT, timeout=800)
    if rc != 0:
        fail(f"build failed (exit {rc}), see {log}", 3)
    archive_classes()
    with open(STAMP, "w") as fh:
        fh.write(stamp)


def cpus():
    return min(4, len(os.sched_getaffinity(0)))


def java(work, *flags):
    """The runner's JVM command line, up to its main class."""
    return ["java", *[x for p in ADD_OPENS for x in ("--add-opens",
                                                     f"{p}=ALL-UNNAMED")],
            # a fixed, pre-touched heap: resident memory then varies only
            # with what the engine allocates outside the heap
            "-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch", *flags,
            f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{JAR}:{spark_jars()}/*"]


def archive_classes():
    """Writes the class-data archive; runs go on without one if this fails
    (the JVM also ignores an archive that no longer matches its jars)."""
    work = os.path.join(BENCH, ".work", f"archive-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    new = os.path.join(work, "classes.jsa")
    try:
        with open(os.path.join(work, "jvm.log"), "w") as log:
            rc = subprocess.call(
                java(work, f"-XX:ArchiveClassesAtExit={new}") +
                ["perfbench.Archive", work, str(cpus())],
                stdout=log, stderr=subprocess.STDOUT, timeout=300)
        if rc == 0 and os.path.exists(new):
            os.replace(new, CDS)
        else:
            print(f"perfbench: no class-data archive (exit {rc})",
                  file=sys.stderr)
    except subprocess.TimeoutExpired:
        print("perfbench: class-data archive timed out", file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def tail(xs):
    """The highest percentile with at least ten samples beyond it, once
    there are enough samples for it to sit at or above the median;
    otherwise the maximum. Returns (value, percentile, sample count)."""
    s = sorted(xs)
    n = len(s)
    if n >= 20:
        return s[n - 11], 100.0 * (n - 10) / n, n
    return s[-1], 100.0, n


def consolidate(parts_dir, sf_dir):
    """The comparator reads `<sf>/events.parquet` as one file."""
    import pyarrow.parquet as pq
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(pq.read_table(parts_dir),
                   os.path.join(sf_dir, "events.parquet"))


def run_gate(gate, timeout):
    """Returns [(op, cause)] for every checked op that failed its oracle."""
    if gate.get("events_parts"):
        consolidate(gate["events_parts"], gate["sf_dir"])
    names = sorted(gate["ops"])
    if not names:
        return []
    try:
        p = subprocess.run(
            [sys.executable, os.path.join(REPO, "scripts", "local_check.py"),
             gate["out_dir"], gate["sf_dir"], *names],
            capture_output=True, text=True, timeout=timeout)
    except subprocess.TimeoutExpired:
        return [("gate", f"local_check did not finish in {timeout:.0f} s")]
    bad = []
    in_fail = False
    for line in p.stdout.splitlines():
        if line.startswith("FAIL"):
            in_fail = True
        elif in_fail and line.startswith("  ") and ":" in line:
            name, why = line.strip().split(":", 1)
            bad.append((gate["ops"].get(name, name), "oracle: " + why.strip()))
    if p.returncode != 0 and not bad:
        bad.append(("gate", f"local_check exit {p.returncode}: "
                    + (p.stderr.strip().splitlines() or [""])[-1][:300]))
    return bad


def clean_tmp(run_tag, pid):
    """The engine derives /tmp scratch from the input dir's basename (which
    carries the run tag) and from the JVM pid (streaming rigs)."""
    pats = [f"/tmp/graft*{run_tag}*", f"/tmp/graft-stream-*-run{pid}-*"]
    for pat in pats:
        for p in glob.glob(pat):
            shutil.rmtree(p, ignore_errors=True) if os.path.isdir(p) \
                else os.remove(p)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["chain", "slider", "surface"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="tiny inputs, for the smoke test")
    a = ap.parse_args()

    for need in [os.path.join(REPO, "src", "main", "scala", "graft",
                              "SparkEntry.scala"),
                 os.path.join(REPO, "scripts", "local_check.py")]:
        if not os.path.exists(need):
            fail(f"{os.path.relpath(need, REPO)} is missing: run from a "
                 "checkout of the repository", 2)
    fixture = fixture_dir()
    if a.workload == "surface" and not os.path.isdir(fixture):
        fail(f"surface needs the read-only fixture {fixture}", 2)
    build()
    t_start = time.monotonic()

    n_cpus = cpus()
    work = os.path.join(BENCH, ".work",
                        f"{a.workload}-s{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    shared = [f"-XX:SharedArchiveFile={CDS}"] if os.path.exists(CDS) else []
    cmd = java(work, *shared) + [
           "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--work", work, "--bench", BENCH, "--fixture", fixture,
           "--cpus", str(n_cpus), "--tiny", "1" if a.tiny else "0"]
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("SPARK_", "PYSPARK_"))}
    log_path = os.path.join(work, "jvm.log")
    proc = None
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                    env=env, start_new_session=True)
            try:
                rc = proc.wait(timeout=max(
                    10, DEADLINE_S - (time.monotonic() - t_start)))
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                fail("workload timed out", 4)
        if rc != 0:
            with open(log_path) as fh:
                last = [l for l in fh.read().splitlines()
                        if "Exception" in l or "Error" in l][-5:]
            fail(f"runner exited {rc}: " + " | ".join(last), 5)
        with open(os.path.join(work, "result.json")) as fh:
            r = json.load(fh)

        failures = [(f["op"], f["cause"]) for f in r["failures"]]
        for g in r["gates"]:
            failures += run_gate(g, max(
                10, DEADLINE_S - (time.monotonic() - t_start)))
        attempted = r["attempted"]
        failed = min(len(failures), attempted)
        for op, why in failures:
            print(f"FAILED {op}: {why}")

        if a.trace:
            metrics = {m["name"]: {"value": m["value"], "unit": m["unit"]}
                       for m in r["layers"]}
            metrics["ops_failed_ratio"] = {"value": failed / attempted,
                                           "unit": "ratio"}
            out = os.path.join(BENCH, "out")
            os.makedirs(out, exist_ok=True)
            art = os.path.join(out, f"layers-{a.workload}-s{a.seed}.json")
            with open(art, "w") as fh:
                json.dump({"workload": a.workload, "seed": a.seed,
                           "seconds": a.seconds, "cpus": n_cpus,
                           "metrics": metrics}, fh, indent=1, sort_keys=True)
            print(f"per-layer record: {os.path.relpath(art, REPO)}")
        else:
            pass_tail, pass_pct, n_pass = tail(r["pass_ms"])
            op_tail, op_pct, n_op = tail(r["op_ms"])
            print(f"pass_tail_s = p{pass_pct:.1f} of {n_pass} passes; "
                  f"op_tail_ms = p{op_pct:.1f} of {n_op} ops")
            vals = {
                "setup_s": (statistics.median(r["setup_s"]), "s"),
                "pass_s": (statistics.median(r["pass_ms"]) / 1e3, "s"),
                "pass_tail_s": (pass_tail / 1e3, "s"),
                "pass_cpu_s": (statistics.median(r["pass_cpu_s"]), "s"),
                "op_p50_ms": (statistics.median(r["op_ms"]), "ms"),
                "op_tail_ms": (op_tail, "ms"),
                "peak_rss_mb": (r["peak_rss_mb"], "MiB"),
            }
            metrics = {k: {"value": vals[k][0], "unit": vals[k][1]}
                       for k in END_TO_END}
        print("set-ups: " + ", ".join(f"{x:.2f}" for x in r["setup_s"])
              + f" s; warm passes (untimed): {r['warm_s']:.2f} s")
        print(f"host: steal_pct={r['steal_pct']:.2f} "
              f"load_avg={r['load_avg']:.2f} cpus={n_cpus}")
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        if proc is not None:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
            clean_tmp(f"pb-{a.workload}-s{a.seed}-{proc.pid}", proc.pid)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
