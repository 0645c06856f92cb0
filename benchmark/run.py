#!/usr/bin/env python3
"""End-to-end benchmark of the graft engine.

Usage, from the root of a checkout:

    python3 benchmark/run.py --workload <etl_load|query_floor>
        --seed <n> --seconds <s> --trace <0|1>
    python3 benchmark/run.py --selftest
    python3 benchmark/run.py --goldens <dir>    # see tools/make_goldens.py

Builds the engine and the benchmark with sbt when their sources changed
(the build is not part of any measurement), then runs one JVM from the
prebuilt classpath. The JVM's last stdout line, one JSON object, is the
result; it is printed as this program's last line. A run's scratch
directory lives under .bench_run/ and is deleted when the run ends; logs
and traces go to .bench_out/.
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
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ("etl_load", "query_floor")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("a Spark 4 distribution is needed: set SPARK_HOME")
    return home


def source_stamp():
    h = hashlib.sha256()
    for top in (ENGINE_SRC, os.path.join(BENCH, "src")):
        for d, _, files in sorted(os.walk(top)):
            for f in sorted(files):
                if f.endswith((".scala", ".java")):
                    p = os.path.join(d, f)
                    h.update(p.encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        with open(os.path.join(BENCH, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise SystemExit(f"{cmd[0]} timed out after {timeout} s")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out


def build(out_dir):
    if not os.path.isdir(ENGINE_SRC):
        raise SystemExit("engine sources (src/main/scala) not found next to the benchmark")
    meta = os.path.join(ROOT, ".bench_build")
    os.makedirs(meta, exist_ok=True)
    stamp_file = os.path.join(meta, "graftbench.stamp")
    classes = os.path.join(BENCH, "target", "scala-2.13", "classes")
    stamp = source_stamp()
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                return classes
    log("building engine and benchmark with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    t0 = time.time()
    with open(os.path.join(out_dir, "build.log"), "w") as fh:
        code, _ = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                             "-Dsbt.server.autostart=false", "compile"],
                            BUILD_TIMEOUT_S, cwd=BENCH, env=env,
                            stdout=fh, stderr=subprocess.STDOUT)
    if code != 0:
        raise SystemExit(f"build failed, see {out_dir}/build.log")
    log(f"built in {time.time() - t0:.0f} s")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes


def cpu_steal_jiffies():
    try:
        with open("/proc/stat") as fh:
            f = fh.readline().split()
        total = sum(int(x) for x in f[1:])
        return int(f[8]), total
    except (OSError, IndexError, ValueError):
        return None


def loadavg():
    try:
        with open("/proc/loadavg") as fh:
            return [float(x) for x in fh.read().split()[:3]]
    except (OSError, ValueError):
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--goldens", metavar="DIR")
    a = ap.parse_args()
    # a terminated run still stops the JVM it started (run_group)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (a.selftest or a.goldens or a.workload):
        ap.error("--workload is required")

    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    classes = build(out_dir)
    jars = os.path.join(spark_home(), "jars", "*")
    tag = (a.workload or ("selftest" if a.selftest else "goldens")) + \
        f"-s{a.seed}-t{a.trace}-{os.getpid()}"
    run_dir = os.path.join(ROOT, ".bench_run", tag)
    for sub in ("tmp", "stream"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)

    args = ["--bench-dir", BENCH, "--run-dir", run_dir]
    if a.selftest:
        args += ["--mode", "selftest"]
    elif a.goldens:
        args += ["--mode", "goldens", "--out", os.path.abspath(a.goldens)]
    else:
        args += ["--mode", "run", "--workload", a.workload, "--seed", str(a.seed),
                 "--seconds", str(a.seconds), "--trace", str(a.trace),
                 "--trace-out", os.path.join(out_dir, "traces", tag)]
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={run_dir}/tmp"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}{os.pathsep}{jars}", "graftbench.Main"] + args)
    env = dict(os.environ, SPARK_GRAFT_STREAM_SCRATCH=os.path.join(run_dir, "stream"))

    steal0, load0, t0 = cpu_steal_jiffies(), loadavg(), time.time()
    log_path = os.path.join(out_dir, f"{tag}.log")
    try:
        with open(log_path, "w") as err:
            code, out = run_group(cmd, JVM_TIMEOUT_S if a.workload else 1800,
                                  cwd=ROOT, env=env, stdout=subprocess.PIPE,
                                  stderr=err, text=True)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    steal1, load1 = cpu_steal_jiffies(), loadavg()
    diag = {"tag": tag, "wall_s": round(time.time() - t0, 3),
            "loadavg_start": load0, "loadavg_end": load1}
    if steal0 and steal1 and steal1[1] > steal0[1]:
        diag["steal_pct"] = round(100.0 * (steal1[0] - steal0[0]) / (steal1[1] - steal0[1]), 3)
    with open(os.path.join(out_dir, "runs.jsonl"), "a") as fh:
        fh.write(json.dumps(diag) + "\n")
    log(f"host: {json.dumps(diag)}")

    lines = [l for l in out.splitlines() if l.strip()]
    if a.selftest or a.goldens:
        print("\n".join(lines))
        return code
    if code != 0 or not lines:
        log(f"JVM exited with {code}; see {log_path}")
        return code or 1
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        log(f"unexpected result line: {lines[-1]}")
        return 1
    print(lines[-1])
    return 0


if __name__ == "__main__":
    sys.exit(main())
