#!/usr/bin/env python3
"""Run one graft benchmark workload and print its metrics.

    python3 perfbench/run.py --workload scrape_floor --seed 1 --seconds 25 --trace 0

Run from the repository root. The first run builds the library and the
harness (perfbench/build.sbt, offline sbt) and caches the classpath under
perfbench/target; later runs start the JVM directly. The JVM runs at
local[<cores>] on the tables in perfbench/data/<scale> (scrape_floor: sf0.1,
iterative_build: sf0.01) and does:

  * one set-up (session, warm scans), timed from JVM start -> setup_s;
  * an untimed check pass: every entry once, its result fingerprinted
    against perfbench/data/<scale>.tsv;
  * the timed loop: passes of the workload's entries, each pass a
    permutation drawn from --seed, for --seconds (at least one whole pass).

The last stdout line is one JSON object {correct, attempted, failed,
metrics}: the end-to-end metrics with --trace 0, the per-layer metrics
with --trace 1 (which also writes a span trace under perfbench/target).
The line before it is the run report: failures by name, fail ratio, the
median and tail latency with the tail's percentile and the sample count,
per-entry medians, and the host context (load average, CPU steal share), which is context and not
a metric.

    python3 perfbench/run.py --pin <workload>   # re-pin fingerprints
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data")
TARGET = os.path.join(HERE, "target")
WORK = os.path.join(TARGET, "work")
CLASSPATH = os.path.join(TARGET, "classpath.txt")

# the modules Spark 4 needs opened on JDK 17 outside spark-submit
# (the same list as the library's build.sbt)
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]

E2E = ["setup_s", "entries_per_s", "cpu_s_per_entry", "peak_rss_mb"]

# JVM time allowed beyond --seconds: set-up, check pass, the pass the loop
# ends in, and the three whole passes of a traced run
ALLOWANCE_S = 140
# a run that also built may use the first-run allowance
FIRST_RUN_S = 600


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout
    and wait for it, so nothing outlives the benchmark."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{os.path.basename(cmd[0])} exceeded {timeout:.0f} s")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def source_stamp():
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
            os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project"), os.path.join(HERE, "src", "main")]
    for top in tops:
        for dirpath, dirs, files in os.walk(top):
            dirs[:] = sorted(d for d in dirs if d not in ("target", "project"))
            for f in sorted(files):
                if f.endswith((".scala", ".sbt", ".properties", ".java")):
                    p = os.path.join(dirpath, f)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as fh:
                        h.update(hashlib.sha256(fh.read()).digest())
        if os.path.isfile(top):
            with open(top, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def classpath():
    """The harness classpath, building first when the sources changed."""
    stamp = source_stamp()
    if os.path.exists(CLASSPATH):
        with open(CLASSPATH) as f:
            cached_stamp, cp = f.read().split("\n", 1)
        if cached_stamp == stamp:
            return cp.strip(), False
    os.makedirs(TARGET, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx3g")
    log = os.path.join(TARGET, "build.log")
    with open(log, "w") as out:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                          "-Dsbt.server.autostart=false", "export Runtime/fullClasspath"],
                         840, cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL)
    with open(log) as f:
        lines = f.read().splitlines()
    cps = [l for l in lines if os.path.join(HERE, "target") in l and ":" in l
           and not l.startswith("[")]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (rc={rc}); log in {log}")
    with open(CLASSPATH, "w") as f:
        f.write(stamp + "\n" + cps[-1] + "\n")
    return cps[-1], True


def cpu_times():
    """(steal, total) jiffies from /proc/stat, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
        return v[7], sum(v)
    except (OSError, ValueError, IndexError):
        return None


def load1():
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except (OSError, ValueError):
        return None


def jvm(cp, args, timeout):
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    opens = [x for p in OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # -Xmn: a fixed young generation, so peak RSS follows retained data
    # rather than G1's run-to-run choice of eden size; -XX:-UsePerfData:
    # no /tmp/hsperfdata file, so the JVM writes only inside the checkout
    cmd = [java, *opens, "-Xmx3g", "-Xmn768m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
           f"-Dderby.system.home={WORK}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Main", *args]
    log = os.path.join(WORK, "jvm.log")
    with open(log, "w") as out:
        rc = run_bounded(cmd, timeout, cwd=WORK, stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL)
    if rc != 0:
        with open(log, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"benchmark JVM exited with {rc}; log in {log}")


def main():
    t_start = time.monotonic()
    # turn SIGTERM into SystemExit, so run_bounded stops the child it waits on
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=25)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", metavar="WORKLOAD",
                    help="write the workload's fingerprints to stdout instead")
    ap.add_argument("--scale", help="table directory under perfbench/data "
                    "(default: the workload's own)")
    a = ap.parse_args()
    workload = a.pin or a.workload
    if not workload:
        fail("--workload is required")
    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no graft sources next to {HERE}: run from a checkout of the repository")
    if not os.path.isdir(DATA):
        fail(f"missing benchmark tables in {DATA}")

    cp, built = classpath()
    os.makedirs(WORK, exist_ok=True)
    out = os.path.join(WORK, f"result-{os.getpid()}.json")
    common = ["--workload", workload, "--data-root", DATA, "--work", WORK]
    if a.scale:
        common += ["--scale", a.scale]
    budget = (FIRST_RUN_S if built
              else ALLOWANCE_S + a.seconds - (time.monotonic() - t_start))
    if a.pin:
        jvm(cp, common + ["--pin", out], budget)
        with open(out) as f:
            sys.stdout.write(f.read())
        os.remove(out)
        return

    cpu0, l0 = cpu_times(), load1()
    jvm(cp, common + ["--seed", str(a.seed), "--seconds", str(a.seconds),
                      "--trace", str(a.trace), "--out", out],
        budget)
    cpu1, l1 = cpu_times(), load1()
    with open(out) as f:
        res = json.load(f)
    os.remove(out)

    rep = res["report"]
    rep["host"] = {
        "load1_start": l0, "load1_end": l1,
        "steal_share": (cpu1[0] - cpu0[0]) / max(1, cpu1[1] - cpu0[1])
        if cpu0 and cpu1 else None,
    }
    rep["trace_file"] = res["trace_file"] and os.path.relpath(res["trace_file"], ROOT)
    metrics = res["per_layer"] if a.trace else {k: res["end_to_end"][k] for k in E2E}
    correct = rep["failed"] == 0 and all(
        isinstance(m["value"], (int, float)) for m in metrics.values())
    print(json.dumps({"report": rep}, sort_keys=True))
    print(json.dumps({"correct": correct, "attempted": rep["attempted"],
                      "failed": rep["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
