#!/usr/bin/env python3
"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The run
  1. builds the engine and the benchmark harness from source with the Scala
     compiler that ships with the Spark jars the sbt build uses (cached
     under .bench_build/ by a hash of the sources);
  2. makes the inputs with gen.py (cached per seed): a part of the sf0.1
     corpus kept in perfbench/sf0.1, and a seeded changelog;
  3. starts one JVM on the compiled classpath, which sets up, warms up and
     measures a fixed amount of the workload, sized by --seconds;
  4. checks the outputs (check.py) and prints a line of figures kept
     beside the metrics (wall-clock figures, the unscaled CPU cost), a
     host-noise line and, as the last line, one JSON object:
     {"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
     of BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import check  # noqa: E402

BUILD = os.path.join(".bench_build", "perfbench")
KEEP_SEEDS = 12
HEAP = "2g"

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """The jar directory the sbt build compiles against (its unmanagedBase),
    or $SPARK_HOME/jars."""
    if not os.path.exists("build.sbt"):
        raise SystemExit("build.sbt not found: run from the root of a checkout")
    with open("build.sbt") as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    d = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""),
                                          "jars")
    jars = sorted(glob.glob(os.path.join(d, "*.jar")))
    if not jars:
        raise SystemExit(f"no Spark jars in {d}")
    return jars


def build(jars):
    """Compile src/main/scala and the harness into one classes directory."""
    srcs = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True) +
                  glob.glob(os.path.join(HERE, "src", "**", "*.scala"),
                            recursive=True))
    if not srcs:
        raise SystemExit("no sources to build: run from a checkout root")
    h = hashlib.sha256()
    for p in srcs + jars:
        h.update(p.encode())
        if p.endswith(".scala"):
            with open(p, "rb") as fh:
                h.update(fh.read())
    key = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp = os.path.join(BUILD, "classes.key")
    if os.path.exists(stamp) and open(stamp).read() == key:
        return classes
    log(f"compiling {len(srcs)} sources")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    cp = os.pathsep.join(jars)
    if subprocess.run(["java", "-Xss8m", "-Xmx3g", "-cp", cp,
                       "scala.tools.nsc.Main", "-nowarn", "-d", classes,
                       "-classpath", cp, "@" + argfile]).returncode:
        raise SystemExit("build failed")
    with open(stamp, "w") as fh:
        fh.write(key)
    return classes


def inputs(seed):
    """Seeded changelog, generated once per seed; all but the KEEP_SEEDS
    most recently used seeds are evicted."""
    root = os.path.join(BUILD, "data")
    with open(os.path.join(HERE, "gen.py"), "rb") as fh:
        version = hashlib.sha256(fh.read()).hexdigest()[:12]
    d = os.path.join(root, f"seed-{seed}-{version}")
    if not os.path.exists(os.path.join(d, "truth", "truth.json")):
        log(f"generating inputs for seed {seed}")
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        subprocess.run([sys.executable, os.path.join(HERE, "gen.py"),
                        str(seed), tmp], check=True)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    os.utime(d)
    seeds = sorted(glob.glob(os.path.join(root, "seed-*")),
                   key=os.path.getmtime)
    for old in seeds[:-KEEP_SEEDS]:
        if not old.endswith(".tmp"):
            shutil.rmtree(old, ignore_errors=True)
    return d


def cpu_times():
    with open("/proc/stat") as fh:
        v = [int(x) for x in fh.readline().split()[1:]]
    return v[7] if len(v) > 7 else 0, sum(v)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        raise SystemExit(f"unknown workload {a.workload}")
    declared = spec["per_layer" if a.trace else "end_to_end"]

    jars = spark_jars()
    classes = build(jars)
    data = inputs(a.seed)
    work = os.path.abspath(os.path.join(BUILD, "work", a.workload))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")

    steal0, total0 = cpu_times()
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}",
            f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] +
           [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", os.pathsep.join([os.path.abspath(classes),
                                    os.path.abspath("src/main/resources")]
                                   + jars),
            "graft.perfbench.Main", a.workload,
            os.path.abspath(os.path.join(data, "corpus")),
            os.path.abspath(data), work,
            str(a.seconds), str(a.trace), out])
    launched = time.time()
    proc = subprocess.run(cmd, stdout=sys.stderr, timeout=170)
    if proc.returncode != 0:
        raise SystemExit(f"engine run failed with exit code {proc.returncode}")
    steal1, total1 = cpu_times()
    with open(out) as fh:
        res = json.load(fh)

    problems = check.check(a.workload, data, res["check"])
    for p in problems:
        log(f"CHECK FAILED: {p}")
    measured = dict(res["per_layer"] if a.trace else res["end_to_end"])
    if not a.trace:
        measured["setup_s"] = res["timed_start_ms"] / 1000.0 - launched
    metrics = {}
    for m in declared:
        v = measured.get(m["name"])
        if v is None:
            if not a.trace:
                raise SystemExit(f"metric {m['name']} was not measured")
            v = 0.0  # a layer this workload never calls
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    # wall-clock figures and host noise go beside the metrics, not into
    # them: the shared host's speed moves wall time beyond any bound
    print("beside " + json.dumps(res["beside"]))
    print("noise " + json.dumps({
        "steal_share": (steal1 - steal0) / max(1, total1 - total0),
        "calibration_ms": res["calibration_ms"]}))
    print(json.dumps({"correct": not problems,
                      "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
