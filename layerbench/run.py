#!/usr/bin/env python3
"""Layer-by-layer benchmark of graft: query passes plus the grouper lane.

Run from the repository root:

    python3 layerbench/run.py --workload barrier_heavy --seed 1 --seconds 9 --trace 0

The first run builds the repository's sources and the harness with sbt
(offline) and records the classpath; later runs launch the JVM directly.
With --trace 0 the last stdout line is a JSON object holding every
end-to-end metric of BENCHMARK.json; with --trace 1 it holds every
per-layer metric. Every metric is also printed above it with its unit and
sample count, followed by the error rate and any failed operations.

The inputs are the sf0.01 fixture tables in layerbench/fixtures/sf0.01.
Maintainers re-record the expected query results with

    python3 layerbench/run.py --capture

which runs every benchmarked query on them, checks each row count against
the DuckDB oracle's (layerbench/oracle_rows.json) and writes
layerbench/expected.json.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
RUN_DIR = os.path.join(BENCH, ".run")
CLASSPATH = os.path.join(BENCH, "target", "classpath.txt")
STAMP = os.path.join(BENCH, "target", "classpath.stamp")
EXPECTED = os.path.join(BENCH, "expected.json")
ORACLE = os.path.join(BENCH, "oracle_rows.json")
FIXTURE = os.path.join(BENCH, "fixtures", "sf0.01")
SOURCES = [os.path.join(ROOT, "src", "main", "scala"),
           os.path.join(BENCH, "src", "main", "scala")]
BUILD_FILES = [os.path.join(BENCH, "build.sbt"),
               os.path.join(BENCH, "project", "build.properties")]

# the module options spark-submit would add on JDK 17
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(code, msg):
    print(f"[layerbench] {msg}", file=sys.stderr)
    sys.exit(code)


def call(cmd, log, timeout_s, **kw):
    """Runs `cmd` with output to `log`; returns its exit code, or "timeout"
    after killing it. Both commands run here end as one process (sbt's
    launcher execs its JVM), so killing it leaves nothing behind."""
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, **kw)
        try:
            return p.wait(timeout=max(1, timeout_s))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return "timeout"


def tail(log):
    with open(log) as fh:
        sys.stderr.write("".join(fh.readlines()[-40:]))


def source_stamp():
    h = hashlib.sha256()
    files = list(BUILD_FILES)
    for top in SOURCES:
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(timeout_s):
    """Compiles with sbt unless the recorded classpath matches the sources."""
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == stamp:
                return False
    tmp = os.path.join(RUN_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # no sbt server (its socket would go to the system temp dir), no JVM
    # perf data files (also for the launcher's version probe), and
    # temporary files inside the checkout
    env = dict(os.environ, COURSIER_MODE="offline", TMPDIR=tmp,
               JAVA_TOOL_OPTIONS="-XX:-UsePerfData")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.autostart=false",
            f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(RUN_DIR, "build.log")
    rc = call(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
              log, timeout_s, cwd=BENCH, env=env)
    if rc != 0 or not os.path.exists(CLASSPATH):
        tail(log)
        die(3, f"build failed ({rc}); log in {log}")
    with open(STAMP, "w") as fh:
        fh.write(stamp + "\n")
    return True


def jvm(args, work, timeout_s, out=None):
    """Runs layerbench.Main; returns the JSON file `out` it wrote, parsed.
    Exits the benchmark if the JVM fails, hangs or writes no `out`."""
    with open(CLASSPATH) as fh:
        cp = ":".join(line.strip() for line in fh if line.strip())
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # a fixed heap, so resident memory does not follow the collector's
    # resizing decisions from run to run
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-Dspark.sql.extensions=graft.GraftExtensions",
        f"-Dspark.local.dir={work}/spark-local",
        f"-Djava.io.tmpdir={work}/tmp",
        f"-Dlayerbench.launchMs={int(time.time() * 1000)}",
        "-cp", cp, "layerbench.Main", "--work", work,
    ] + (["--out", out] if out else []) + args
    log = os.path.join(work, "jvm.log")
    rc = call(cmd, log, timeout_s)
    if rc != 0 or (out and not os.path.exists(out)):
        tail(log)
        die(4, f"benchmark JVM failed ({rc})")
    if out:
        with open(out) as fh:
            return json.load(fh)


def cpu_times():
    """The machine's cumulative CPU times (user, nice, system, idle,
    iowait, irq, softirq, steal, ...) in clock ticks; empty if unknown."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except OSError:
        return []


def capture(work):
    """Records expected.json from the fixture tables, after checking every
    query's row count against the oracle's."""
    out = os.path.join(work, "expected.json")
    jvm(["--mode", "capture", "--data-dir", FIXTURE], work, 1800, out)
    with open(os.path.join(work, "jvm.log")) as fh:
        sys.stderr.writelines(l for l in fh if l.startswith("[capture]"))
    with open(out) as fh:
        got = json.load(fh)["queries"]
    with open(ORACLE) as fh:
        oracle = json.load(fh)["queries"]
    wrong = {n: (q["rows"], oracle.get(n)) for n, q in got.items()
             if q["rows"] != oracle.get(n)}
    if wrong:
        die(6, f"row counts differ from the oracle (rows, oracle rows): {wrong}")
    shutil.copy(out, EXPECTED)


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--capture", action="store_true")
    a = ap.parse_args()

    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "SparkEntry.scala")):
        die(2, f"no graft sources under {ROOT}/src; run from a repository checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workloads = [w["name"] for w in spec["workloads"]]
    if not a.capture and a.workload not in workloads:
        die(2, f"unknown workload {a.workload!r}; known: {', '.join(workloads)}")

    built = build(850)
    work = os.path.join(RUN_DIR, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        if a.capture:
            capture(work)
            return
        # each set-up registers its own copy, under its own path
        for k in range(3):
            shutil.copytree(FIXTURE, os.path.join(work, f"data_{k}"))
        # a run must end within 180 s, or 900 s when it had to build
        budget = (890 if built else 172) - (time.time() - t_start)
        cpu0 = cpu_times()
        res = jvm(["--mode", "run", "--workload", a.workload,
                   "--seed", str(a.seed), "--seconds", str(a.seconds),
                   "--trace", str(a.trace), "--expected", EXPECTED],
                  work, budget, os.path.join(work, "result.json"))
        # a virtual machine's stolen CPU time slows every metric of the run
        # at once; say how much there was, so a slow run can be told apart
        d = [b - a for a, b in zip(cpu0, cpu_times())]
        if len(d) > 7 and sum(d) > 0:
            res["notes"].append(f"host steal {d[7] / sum(d):.1%} of CPU time during the run")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    report(spec, a, res)


def report(spec, a, res):
    metrics = res["metrics"]
    wanted = spec["per_layer" if a.trace else "end_to_end"]
    for name, m in metrics.items():
        print(f"{a.workload} {name} = {m['value']} {m['unit']} (n={m['samples']})")
    for note in res["notes"]:
        print(f"{a.workload} {note}")
    for op, n in res["failures"].items():
        print(f"{a.workload} FAILED {op}: {n}")

    saved = os.path.join(RUN_DIR, f"untraced-{a.workload}.json")
    e2e = {m["name"] for m in spec["end_to_end"]}
    if a.trace == 0:
        with open(saved, "w") as fh:
            json.dump({k: v["value"] for k, v in metrics.items() if k in e2e}, fh)
    elif os.path.exists(saved):
        # tracing overhead: this traced run against the last untraced one
        with open(saved) as fh:
            base = json.load(fh)
        for k in sorted(e2e):
            if base.get(k) and metrics.get(k, {}).get("value") is not None:
                d = metrics[k]["value"] / base[k] - 1
                print(f"{a.workload} traced vs untraced {k}: {d:+.1%}")

    out = {}
    for m in wanted:
        v = metrics.get(m["name"], {}).get("value")
        if v is None:
            die(5, f"metric {m['name']} was not measured")
        out[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps({"correct": bool(res["correct"]),
                      "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": out}))


if __name__ == "__main__":
    main()
