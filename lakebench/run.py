#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

Usage (from the repository root):
  python3 lakebench/run.py --workload cycle|stream|suite --seed N --seconds S --trace 0|1

Builds the engine and the harness with sbt on first use (or when a source is
newer than the last build), then launches one JVM that runs the workload and
prints its figures. The last line of standard output is the result:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with every end-to-end metric of BENCHMARK.json (--trace 0) or every per-layer
metric (--trace 1). The line before it stamps the run's configuration.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
ENGINE_SRC = os.path.join(ROOT, "src", "main")
CLASSPATH = os.path.join(BENCH, "target", "classpath.txt")
WORK = os.path.join(BENCH, "work")
TRACES = os.path.join(BENCH, "traces")
HEAP = "3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# Spark on JDK 17 needs these when the session is created outside
# spark-submit; the same list as the engine build's javaOptions.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[lakebench] {msg}", file=sys.stderr, flush=True)


def sources():
    for top in (ENGINE_SRC, os.path.join(BENCH, "src"), os.path.join(BENCH, "build.sbt"),
                os.path.join(BENCH, "project", "build.properties")):
        if os.path.isfile(top):
            yield top
        for d, _, files in os.walk(top):
            for f in sorted(files):
                yield os.path.join(d, f)


def build():
    """Compile engine + harness unless the last build is newer than every source."""
    if os.path.exists(CLASSPATH):
        built = os.path.getmtime(CLASSPATH)
        if all(os.path.getmtime(s) <= built for s in sources()):
            return
    log("building engine and harness with sbt")
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "classpathFile"],
                       cwd=BENCH, stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0 or not os.path.exists(CLASSPATH):
        sys.exit(f"[lakebench] build failed (exit {r.returncode})")
    log(f"build took {time.time() - t0:.1f} s")


def source_id():
    """Git commit when the checkout is a repository, else a digest of the sources."""
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        if sha.returncode == 0:
            return "git:" + sha.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.sha256()
    for s in sorted(sources()):
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    return "sha256:" + h.hexdigest()[:16]


def busy_jiffies():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    # idle, iowait, guest and guest_nice are not busy time (guest is folded into user)
    return sum(x for i, x in enumerate(v) if i not in (3, 4, 8, 9))


def steal_jiffies():
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def cotenant_cpu(window=0.5):
    """Cores kept busy by other processes over `window` seconds (no JVM of ours runs)."""
    b0 = busy_jiffies()
    time.sleep(window)
    return round((busy_jiffies() - b0) / os.sysconf("SC_CLK_TCK") / window, 2)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        sys.exit(f"[lakebench] unknown workload {a.workload}")
    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala", "graft")):
        sys.exit("[lakebench] engine sources (src/main/scala/graft) not found: "
                 "run from the root of a repository checkout")
    build()

    nproc = len(os.sched_getaffinity(0))
    stamp = {"source": source_id(), "workload": a.workload, "seed": a.seed,
             "seconds": a.seconds, "trace": a.trace, "nproc": nproc, "heap": HEAP,
             "sf": "0.01", "cotenant_cpu_start": cotenant_cpu()}
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc),
               SPARK_GRAFT_DATA_ROOT=os.path.join(BENCH, "data"),
               SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"))
    env.pop("SPARK_GRAFT_CONF", None)
    shutil.rmtree(WORK, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    # C1 only: a run lives about a minute, and C2's background compiles would
    # otherwise land at random points of the measuring window on a few cores.
    # A fixed heap keeps heap resizing out of the window too.
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:TieredStopAtLevel=1", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "lakebench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--data", os.path.join(BENCH, "data"), "--work", WORK])
    if a.trace:
        os.makedirs(TRACES, exist_ok=True)
        cmd += ["--spans", os.path.join(TRACES, f"{a.workload}-seed{a.seed}.jsonl")]
    steal0, t0 = steal_jiffies(), time.time()
    proc = subprocess.Popen(cmd, env=env, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(f"[lakebench] run exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    if proc.returncode != 0:
        sys.exit(f"[lakebench] workload exited with {proc.returncode}")
    lines = out.splitlines()
    jvm_stamp = next((json.loads(l[6:]) for l in lines if l.startswith("STAMP ")), {})
    result = next((json.loads(l[7:]) for l in reversed(lines) if l.startswith("RESULT ")), None)
    if result is None:
        sys.exit("[lakebench] workload printed no result")

    wanted = spec["per_layer" if a.trace else "end_to_end"]
    got = result["metrics"]
    metrics = {}
    for m in wanted:
        if m["name"] not in got and not a.trace:
            sys.exit(f"[lakebench] end-to-end metric {m['name']} missing")
        # a layer the workload does not run reports zero work
        metrics[m["name"]] = {"value": got.get(m["name"], 0.0), "unit": m["unit"]}
    stamp.update(jvm_stamp)
    # CPU time the hypervisor gave other guests while the run was on
    stamp["steal_pct"] = round(100 * (steal_jiffies() - steal0) / os.sysconf("SC_CLK_TCK")
                               / (time.time() - t0) / os.cpu_count(), 2)
    stamp["cotenant_cpu_end"] = cotenant_cpu()
    print(json.dumps({"stamp": stamp}))
    print(json.dumps({"correct": result["correct"], "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
