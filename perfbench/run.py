#!/usr/bin/env python3
"""STAC conversion benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run compiles the engine
(src/main/scala) and the benchmark (perfbench/src, plus the test suite's
JsonEquals oracle) with the Scala compiler
shipped in the Spark distribution into .bench_build/; later runs reuse the
classes while the sources are unchanged. The run then starts one JVM with a
local[nproc] Spark session, which generates the seeded inputs from the
committed fixture items, sets up, measures for --seconds, checks every
output and prints one JSON line. With --trace 0 the line carries the
end-to-end metrics of BENCHMARK.json, with --trace 1 the per-layer ones.
The exit code is 0 only when every operation succeeded and every check held.
See perfbench/GLOSSARY.md for what each metric means.
"""
import argparse
import fcntl
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_setting(key):
    """A string setting of build.sbt, e.g. scalaVersion or unmanagedBase."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(key + r'\s*:=\s*(?:file\()?"([^"]+)"', f.read())
    if not m:
        fail(f"build.sbt sets no {key}")
    return m.group(1)


def sources(*dirs):
    out = []
    for d in dirs:
        for base, _, files in os.walk(os.path.join(ROOT, d)):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def scalac(srcs, out, classpath, jars_dir):
    """Compile srcs into out (replaced atomically) unless already current."""
    stamp = os.path.join(out, ".stamp")
    key = digest(srcs) + classpath
    if os.path.exists(stamp) and open(stamp).read() == key:
        return
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args = os.path.join(tmp, ".args")
    with open(args, "w") as f:
        f.write("\n".join(srcs))
    version = build_setting("scalaVersion")
    jars = [os.path.join(jars_dir, f"scala-{n}-{version}.jar")
            for n in ("compiler", "library", "reflect")]
    for j in jars:
        if not os.path.exists(j):
            fail(f"missing {j}")
    cmd = ["java", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-Xss8m", "-Xmx2g",
           "-cp", ":".join(jars), "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", classpath, "@" + args]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-20000:])
        fail(f"compilation into {out} failed")
    os.remove(args)
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(key)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def build():
    main_srcs = sources("src/main/scala")
    # the test suite's json_equals oracle checks the round trip
    oracle = os.path.join(ROOT, "src/test/scala/graft/stac/JsonEquals.scala")
    bench_srcs = sources("perfbench/src")
    if not main_srcs or not bench_srcs or not os.path.isfile(oracle):
        fail("run from the repository root: src/main/scala, perfbench/src and "
             "src/test/scala/graft/stac/JsonEquals.scala are needed")
    bench_srcs.append(oracle)
    # the Spark distribution's jars, which build.sbt compiles against
    jars_dir = (os.path.join(os.environ["SPARK_HOME"], "jars") if "SPARK_HOME" in os.environ
                else build_setting("unmanagedBase"))
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        spark_cp = os.path.join(jars_dir, "*")
        main_out = os.path.join(BUILD, "main")
        scalac(main_srcs, main_out, spark_cp, jars_dir)
        bench_out = os.path.join(BUILD, "bench")
        scalac(bench_srcs, bench_out, main_out + ":" + spark_cp, jars_dir)
    return [bench_out, main_out, os.path.join(ROOT, "src/main/resources"), spark_cp]


def loadavg():
    with open("/proc/loadavg") as f:
        return f.read().strip()


def main():
    # SIGTERM unwinds through the finally blocks that stop child processes
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    data = os.path.join(ROOT, "src/test/resources/data")
    if not os.path.isfile(spec_path) or not os.path.isdir(data):
        fail("run from the repository root: BENCHMARK.json and src/test/resources/data are needed")
    with open(spec_path) as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")
    declared = spec["per_layer"] if a.trace == "1" else spec["end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}

    classpath = build()
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    stamp = {"workload": a.workload, "seed": a.seed, "trace": int(a.trace), "nproc": nproc,
             "loadavg_start": loadavg()}
    # the whole heap is touched (on huge pages where the kernel offers
    # them) before main, so no operation pays first-touch page faults
    cmd = (["java", "-XX:-UsePerfData", "-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch",
            "-XX:+UseTransparentHugePages", "-Xss8m", f"-Djava.io.tmpdir={work}/tmp"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", ":".join(classpath), "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--work", work, "--data", data, "--cores", str(nproc)])
    log_path = os.path.join(BUILD, f"last-{a.workload}.log")
    # set-up and checks take about as long as the measured part again
    timeout_s = 130 + 2 * a.seconds
    started = time.monotonic()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True, cwd=work)
        try:
            out, _ = proc.communicate(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            fail(f"run exceeded {timeout_s} s; log in {log_path}")
        finally:
            # also on a timeout or SIGTERM: leave no JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    for name in ("spans.jsonl", "self_s.json"):
        if os.path.exists(os.path.join(work, name)):
            os.makedirs(os.path.join(BUILD, "trace"), exist_ok=True)
            shutil.move(os.path.join(work, name),
                        os.path.join(BUILD, "trace", f"{a.workload}-{a.seed}.{name}"))
    shutil.rmtree(work, ignore_errors=True)

    lines = [l for l in out.splitlines() if l.startswith("{")]
    if not lines:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-20000:])
        fail(f"no result (exit code {proc.returncode}); log in {log_path}")
    res = json.loads(lines[-1])
    values = res["values"]
    extra = sorted(set(values) - set(units))
    missing = sorted(set(units) - set(values))
    if extra or (missing and a.trace == "0"):
        fail(f"metrics differ from BENCHMARK.json: extra {extra}, missing {missing}")
    # a per-layer metric of a layer this workload does not exercise reads 0
    metrics = {n: {"value": values.get(n, 0.0), "unit": u} for n, u in units.items()}
    stamp.update(inputs=res["inputs"], setup_reps_s=res["setup_reps_s"], loadavg_end=loadavg(),
                 wall_s=round(time.monotonic() - started, 3))
    print(json.dumps({"stamp": stamp}))
    correct = bool(res["correct"]) and proc.returncode == 0
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
