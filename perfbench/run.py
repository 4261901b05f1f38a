#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Run from the root of the checkout. The first run compiles the engine's
sources together with the benchmark driver (perfbench/build.sbt) into
.bench_build/; later runs reuse that build while the sources are unchanged.
With --trace 0 the last stdout line holds every end-to-end metric of
BENCHMARK.json, with --trace 1 every per-layer metric. Lines before it show
the same figures by name and unit, the reference anchors, and the run's
provenance. Full results (all metrics, provenance, oracle mismatches) are
kept in .bench_build/results/.
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
BUILD = os.path.join(ROOT, ".bench_build")
BENCH_DIR = os.path.join(ROOT, "perfbench")
SOURCES = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH_DIR, "src", "main"),
           os.path.join(BENCH_DIR, "build.sbt"),
           os.path.join(BENCH_DIR, "project", "build.properties")]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
JAVA_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    for top in SOURCES:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout or
    when this script is terminated."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)

    def stop(signum, _frame):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail("timed out after %ds: %s" % (timeout, " ".join(cmd[:3])))
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    return p.returncode, out


def build(stamp):
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved = json.load(f)
        if saved.get("stamp") == stamp:
            return saved["classpath"]
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    os.makedirs(BUILD, exist_ok=True)
    # resolve only from the local caches, as the repository's own build does
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"))
    t0 = time.time()
    code, out = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "-J-XX:-UsePerfData", "compile", "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=BENCH_DIR, env=env, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, text=True)
    if code != 0:
        sys.stderr.write(out[-4000:])
        fail("build failed")
    cp = [l for l in out.splitlines() if "scala-2.13" in l and os.pathsep in l and
          not l.startswith("[")]
    if not cp:
        fail("build printed no classpath")
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp[-1].strip()}, f)
    print("# built in %.1f s" % (time.time() - t0), file=sys.stderr)
    return cp[-1].strip()


def code_sha(stamp):
    """The checkout's git commit, or a hash of its sources outside git."""
    try:
        r = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        top, sha = (r.stdout.split() + ["", ""])[:2]
        if r.returncode == 0 and os.path.realpath(top) == os.path.realpath(ROOT):
            return sha
    except (OSError, subprocess.SubprocessError):
        pass
    return "sources-sha256:" + stamp[:16]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("run from the checkout root (no BENCHMARK.json here)")
    with open(spec_path) as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail("unknown workload " + a.workload)
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no engine sources (src/main/scala) in this checkout")

    stamp = source_stamp()
    cp = build(stamp)
    tag = "%s-seed%d-trace%d" % (a.workload, a.seed, a.trace)
    work = os.path.join(BUILD, "work", "%s-%d" % (tag, os.getpid()))
    results = os.path.join(BUILD, "results")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(results, exist_ok=True)
    opens = [x for p in JAVA_OPENS for x in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]
    # a fixed heap, touched at start so that its page faults do not fall
    # in timed operations; 16 MB G1 regions, so that the multi-megabyte
    # buffers of Spark's in-memory cache are not humongous objects
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC",
            "-XX:G1HeapRegionSize=16m", "-XX:-UsePerfData",
            "--add-modules", "jdk.incubator.vector"] + opens +
           ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"), "-Dspark.ui.enabled=false",
            "-cp", cp, "graft.perfbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work-dir", work, "--code-sha", code_sha(stamp),
            "--spans", os.path.join(results, tag + ".spans.jsonl")])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    try:
        with open(os.path.join(results, tag + ".stderr.log"), "w") as err:
            code, out = run_group(cmd, RUN_TIMEOUT_S, cwd=work, env=env, stdout=subprocess.PIPE,
                                  stderr=err, stdin=subprocess.DEVNULL, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    if code != 0 or not lines:
        sys.stdout.write("\n".join(lines[-40:]) + "\n")
        fail("benchmark program exited with code %d" % code)
    raw = json.loads(lines[-1])
    prov = next((json.loads(l[len("provenance "):]) for l in lines
                 if l.startswith("provenance ")), {})
    with open(os.path.join(results, tag + ".json"), "w") as f:
        json.dump({"provenance": prov, "result": raw,
                   "log": [l for l in lines if l.startswith("#")]}, f, indent=1)

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in raw["metrics"]]
    if missing and raw["correct"] and not a.trace:
        fail("program did not report " + ", ".join(missing))
    metrics = {m["name"]: {"value": raw["metrics"].get(m["name"], 0.0), "unit": m["unit"]}
               for m in wanted}
    for l in lines:
        if l.startswith("#"):
            print(l)
    if missing and a.trace:
        print("# layers this workload bypasses read 0: " + ", ".join(missing))
    print("# provenance " + json.dumps(prov, sort_keys=True))
    for name, m in metrics.items():
        print("# %-48s %16.6g %s" % (name, m["value"], m["unit"]))
    print(json.dumps({"correct": bool(raw["correct"]), "attempted": int(raw["attempted"]),
                      "failed": int(raw["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
