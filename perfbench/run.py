#!/usr/bin/env python3
"""Closed-loop benchmark of the graft engine on one host (local[nproc]).

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run in a checkout compiles the engine
(src/main/scala) and the harness (perfbench/src) with the Scala compiler that
ships with Spark, makes the x10 corpus from perfbench/data/sf0.1 with
tools/make_sfstep.py and fills the workload's model root; later runs reuse
all of them from .bench_build/.

The seed permutes the query order of every pass; the data never changes.
The last stdout line is one JSON object: correct, attempted, failed and the
metrics (end-to-end with --trace 0, per-layer with --trace 1). See README.md.
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
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
CPUS = len(os.sched_getaffinity(0))
HEAP = "3g"
# A fixed young generation: with G1 sizing it from pause times, the heap the
# JVM committed (and so peak_rss_mb) varied by a third from run to run. The
# old generation still grows with what the program retains.
YOUNG = "1g"
JVM_TIMEOUT_S = 170

WORKLOADS = {
    # warmup: passes after the check pass before timing starts, enough for
    # the pass time to level off (README.md, "Warm-up").
    # cold_trains: models the traced run's cold pass must train.
    "zonal_x10": dict(
        data="x10", keys="zs_zonal_stats zs_vector_enrich zs_tile_pyramid", warmup=3, cold_trains=0,
        row_check="zs_tile_pyramid:1000000"),
    "iterative": dict(
        data="base", keys="ann_graph_layered", warmup=9, cold_trains=2),
}

# No perf-data file: the JVM would otherwise write it under /tmp.
NO_PERF_DATA = "-XX:-UsePerfData"
JDK_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio "
    "java.util java.util.concurrent java.util.concurrent.atomic sun.nio.ch "
    "sun.nio.cs sun.security.action sun.util.calendar").split()]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def tree_hash(files):
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def spark_jars():
    """The Spark jars the engine builds against: build.sbt's unmanagedBase,
    else $SPARK_HOME/jars."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    return m.group(1) if m else os.path.join(os.environ["SPARK_HOME"], "jars")


def run_child(cmd, timeout, **kw):
    """Run a child process to completion; kill it (and wait) on timeout."""
    with subprocess.Popen(cmd, **kw) as p:
        try:
            out, _ = p.communicate(timeout=timeout)
        except BaseException:
            p.kill()
            p.wait()
            raise
    return p.returncode, out


def scalac(srcs, cp, out, what):
    """Compile `srcs` into `out` (once; `out` is keyed by a source hash)."""
    if os.path.isdir(out):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    log(f"compiling {len(srcs)} {what} sources")
    rc, _ = run_child(["java", NO_PERF_DATA, "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
                       "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", cp] + srcs, 850)
    if rc != 0:
        sys.exit(f"perfbench: compile of the {what} failed ({rc})")
    os.rename(tmp, out)
    return out


def build():
    """Compile the engine, then the harness against it; return the classpath
    entries of both."""
    srcs = glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True)
    if not srcs:
        sys.exit("perfbench: no engine sources under src/main/scala")
    jars = os.path.join(spark_jars(), "*")
    engine = scalac(srcs, jars, os.path.join(BUILD, "engine-" + tree_hash(srcs)), "engine")
    hsrcs = glob.glob(os.path.join(HERE, "src/*.scala"))
    harness = scalac(hsrcs, engine + os.pathsep + jars,
                     os.path.join(BUILD, f"harness-{tree_hash(hsrcs)}-{os.path.basename(engine)}"), "harness")
    return harness + os.pathsep + engine


def corpus():
    """The sf0.1 corpus (a copy of the seed-42 test data kept in
    perfbench/data, checked against its pinned sha256 sums) and its x10
    step-up, made once by the repository's tools/make_sfstep.py."""
    base = os.path.join(HERE, "data", "sf0.1")
    with open(base + ".sha256") as f:
        pinned = dict(reversed(line.split()) for line in f if line.strip())
    have = {}
    for name in sorted(os.listdir(base)):
        with open(os.path.join(base, name), "rb") as fh:
            have[name] = hashlib.sha256(fh.read()).hexdigest()
    if have != pinned:
        sys.exit(f"perfbench: {os.path.relpath(base, ROOT)} differs from its pinned sha256 sums")
    x10 = os.path.join(BUILD, "x10")
    if not os.path.isdir(x10):
        tmp = x10 + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        log("generating the x10 corpus")
        rc, _ = run_child([sys.executable, os.path.join(ROOT, "tools", "make_sfstep.py"), base, tmp, "10"], 600)
        if rc != 0:
            sys.exit(f"perfbench: x10 corpus generation failed ({rc})")
        os.rename(tmp, x10)
    return {"base": base, "x10": x10}


def jvm(classes, workload, args, timeout=JVM_TIMEOUT_S):
    """Run the harness JVM; return its last stdout line parsed as JSON."""
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    work = os.path.join(BUILD, "work")
    tmpdir = os.path.join(work, "tmp")
    os.makedirs(tmpdir, exist_ok=True)
    models = os.path.join(BUILD, "models", workload)
    os.makedirs(models, exist_ok=True)
    # Two malloc arenas: with one per thread, native fragmentation made the
    # JVM's resident set vary by hundreds of MB from run to run.
    env = dict(os.environ, SPARK_GRAFT_MODEL_DIR=models, SPARK_LOCAL_DIRS=os.path.join(work, "local"),
               MALLOC_ARENA_MAX="2")
    cmd = (["java", NO_PERF_DATA] + JDK_OPENS +
           [f"-Xmx{HEAP}", f"-Xmn{YOUNG}", f"-Djava.io.tmpdir={tmpdir}", "-Dspark.ui.enabled=false",
            "-cp", classes + os.pathsep + os.path.join(spark_jars(), "*"),
            "perfbench.PerfBench", "--t0", str(int(time.time() * 1000)),
            "--cpus", str(CPUS)] + args)
    logf = os.path.join(BUILD, "logs", f"{workload}.log")
    with open(logf, "w") as err:
        rc, out = run_child(cmd, timeout, stdout=subprocess.PIPE, stderr=err, cwd=work, env=env, text=True)
    with open(logf) as f:  # the harness's own diagnostics
        for line in f:
            if line.startswith("[perfbench]"):
                print(line, end="", file=sys.stderr)
    lines = out.strip().splitlines()
    if rc != 0 or not lines:
        sys.exit(f"perfbench: harness JVM exited {rc}; see {logf}")
    return json.loads(lines[-1])


def record(dumps):
    """Pin expected digests from result dumps that the DuckDB oracle
    checked (graft.Verify + tools/check.py on this corpus; see README.md)."""
    classes = build()
    expected = {}
    for d, dump in dumps.items():
        keys = sorted({k for w in WORKLOADS.values() if w["data"] == d for k in w["keys"].split()})
        expected[d] = jvm(classes, "record", ["--mode", "digest", "--dumps", dump, "--keys", ",".join(keys)],
                          timeout=600)
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")


def main():
    if sys.argv[1:2] == ["--record"]:
        return record(dict(a.split("=", 1) for a in sys.argv[2:]))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    w = WORKLOADS[a.workload]
    keys = ",".join(w["keys"].split())

    classes = build()
    data = corpus()
    # Fill the workload's model root once per build, outside the timed run.
    models = os.path.join(BUILD, "models", a.workload)
    ready = models + ".ready-" + hashlib.sha256((classes + keys).encode()).hexdigest()[:16]
    if not os.path.exists(ready):
        log(f"filling the {a.workload} model root")
        shutil.rmtree(models, ignore_errors=True)
        r = jvm(classes, a.workload, ["--mode", "prepare", "--data", data[w["data"]], "--keys", keys, "--seed", "0"],
                timeout=600)
        if r["failed"]:
            sys.exit("perfbench: model root preparation failed")
        for old in glob.glob(models + ".ready-*"):
            os.remove(old)
        open(ready, "w").close()

    args = ["--mode", "run", "--data", data[w["data"]], "--keys", keys, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--warmup", str(w["warmup"]),
            "--expect", os.path.join(HERE, "expected.json"), "--expect-key", w["data"]]
    if w.get("row_check"):
        args += ["--row-check", w["row_check"]]
    if a.trace:
        os.makedirs(os.path.join(BUILD, "trace"), exist_ok=True)
        trace = os.path.join(BUILD, "trace", f"{a.workload}-seed{a.seed}.json")
        args += ["--trace-out", trace, "--cold-trains", str(w["cold_trains"])]
        log(f"spans and per-key breakdown: {os.path.relpath(trace, ROOT)}")
    r = jvm(classes, a.workload, args)
    log(f"samples: {json.dumps(r.pop('samples'))}")
    print(json.dumps(r))


if __name__ == "__main__":
    main()
