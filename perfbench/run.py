#!/usr/bin/env python3
"""Benchmark of graft: one command per workload run.

Run from the root of a checkout:

    python3 perfbench/run.py --heap 4g --workload gate_board --seed 1 --seconds 20 --trace 0

It builds graft and the harness from source (once per source state),
generates the workloads' inputs (once per checkout), starts a fresh JVM
that runs the workload as one closed-loop client on local[4], checks
every operation's output against the digests recorded in
perfbench/digests.json, and prints one JSON object as the last line of
standard output. With --trace 0 that object carries the end-to-end
metrics named in BENCHMARK.json, with --trace 1 the per-layer metrics of
a separate traced run. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
DATA = os.path.join(WORK, "data")
BASE = os.path.join(HERE, "data", "sf0.1")
DIGESTS = os.path.join(HERE, "digests.json")
BENCHMARK = os.path.join(ROOT, "BENCHMARK.json")

WORKLOADS = ("gate_board", "corpus_x10")
TEXT_VARIANTS = 4          # must match Workloads.TextVariants
# Seconds allowed to each step; together they stay within the 900 s a
# checkout's first run (which builds and generates) may take.
BUILD_TIMEOUT = 480
PREPARE_TIMEOUT = 240
RUN_TIMEOUT = 170

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Size and mtime of every file the build reads."""
    h = hashlib.sha1()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in tops:
        for dirpath, dirnames, filenames in os.walk(top):
            dirnames[:] = sorted(d for d in dirnames if d not in ("target", "project"))
            files += [os.path.join(dirpath, f) for f in sorted(filenames)
                      if f.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in files:
        if os.path.isfile(f):
            st = os.stat(f)
            h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def run_proc(cmd, log_path, timeout, cwd=None, env=None):
    """Runs cmd in its own process group, output to log_path; kills the
    whole group if it outlives timeout."""
    with open(log_path, "ab") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=cwd, env=env,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            shutil.copy(log_path, os.path.join(WORK, "failed-timeout.log"))
            raise BenchError(f"{cmd[0]} timed out after {timeout}s")
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def tail(path, n=30):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def build():
    """Compiles graft and the harness with sbt; returns the classpath."""
    state = os.path.join(WORK, "build.json")
    stamp = source_stamp()
    if os.path.exists(state):
        with open(state) as f:
            b = json.load(f)
        if b.get("stamp") == stamp:
            return b["classpath"]
    log_path = os.path.join(WORK, "build.log")
    if os.path.exists(log_path):
        os.remove(log_path)
    log("building graft and the harness with sbt")
    rc = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                   "export Runtime/fullClasspath"], log_path, BUILD_TIMEOUT, cwd=HERE)
    if rc != 0:
        raise BenchError(f"build failed (exit {rc}):\n{tail(log_path)}")
    with open(log_path, errors="replace") as f:
        lines = [ln.strip() for ln in f if ".jar" in ln and os.pathsep in ln
                 and not ln.startswith("[")]
    if not lines:
        raise BenchError("build printed no classpath")
    classpath = lines[-1]
    with open(state, "w") as f:
        json.dump({"stamp": stamp, "classpath": classpath}, f)
    return classpath


def java_cmd(classpath, heap, scratch, args):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    opts = [o for p in JVM_OPENS for o in ("--add-opens", f"{p}=ALL-UNNAMED")]
    opts += [f"-Xms{heap}", f"-Xmx{heap}", "-XX:ReservedCodeCacheSize=512m",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-Duser.timezone=UTC", f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')}"]
    return [java, *opts, "-cp", classpath, "perfbench.Main", "--work", scratch, "--base", BASE,
            "--data", DATA, *args]


def jvm(classpath, heap, scratch, args, timeout, name):
    """Runs one benchmark JVM; returns its JSON result and start time."""
    os.makedirs(os.path.join(scratch, "tmp"), exist_ok=True)
    out = os.path.join(scratch, f"{name}.json")
    log_path = os.path.join(scratch, f"{name}.log")
    t0 = time.time()
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir; keep both in scratch.
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(scratch, "spark-local"))
    rc = run_proc(java_cmd(classpath, heap, scratch, ["--out", out, *args]), log_path, timeout,
                  env=env)
    shutil.copy(log_path, os.path.join(WORK, f"last-{name}.log"))
    if rc != 0 or not os.path.exists(out):
        raise BenchError(f"{name} JVM failed (exit {rc}):\n{tail(log_path)}")
    with open(out) as f:
        return json.load(f), t0


def prepare(classpath, heap):
    """Generates every workload's inputs once per checkout."""
    gen_path = os.path.join(DATA, "gen.json")
    if os.path.exists(gen_path):
        with open(gen_path) as f:
            return json.load(f)
    log("generating inputs (corpus_x10 tables, text corpora)")
    scratch = os.path.join(WORK, "prepare")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(DATA, exist_ok=True)
    gen, _ = jvm(classpath, heap, scratch, ["--mode", "prepare"], PREPARE_TIMEOUT, "prepare")
    with open(gen_path + ".tmp", "w") as f:
        json.dump(gen, f)
    os.replace(gen_path + ".tmp", gen_path)
    shutil.rmtree(scratch, ignore_errors=True)
    return gen


def text_variant(seed):
    return seed % TEXT_VARIANTS


def digest_key(workload, seed):
    """Key of a run's inputs: gate_board's text corpus depends on the seed."""
    return f"{workload}/v{text_variant(seed)}" if workload == "gate_board" else workload


def check_outputs(ops, expected):
    """Returns {op: reason} for every operation whose output is wrong."""
    bad = {}
    for op in ops:
        name = op["name"]
        if op["error"]:
            bad[name] = f"threw: {op['error']}"
        elif op["digest"] is None:
            bad[name] = "no digest"
        elif name not in expected:
            bad[name] = "no recorded digest"
        elif op["digest"] != expected[name]:
            bad[name] = f"digest {op['digest']} != recorded {expected[name]}"
    return bad


def end_to_end(res, setup_s):
    """The end-to-end metrics of one untraced run."""
    ops = [o for o in res["ops"] if not o["error"]]
    warm_total = sum(statistics.median(o["warm_s"]) for o in ops if o["warm_s"])
    input_mb = sum(o["input_bytes"] for o in ops) / 1e6
    return {
        "setup_s": setup_s,
        "warm_total_s": warm_total,
        "cold_total_s": sum(o["cold_s"] for o in ops if o["cold_s"] is not None),
        "input_mb_s": input_mb / warm_total if warm_total > 0 else 0.0,
        "peak_heap_mb": res["peak_heap_mb"],
    }


def summarize(res, expected, metric_specs, values):
    """The result line: output checks against the recorded digests, and
    the named metrics taken from values."""
    bad = check_outputs(res["ops"], expected)
    for name, why in sorted(bad.items()):
        log(f"FAILED {name}: {why}")
    attempted = sum(o["attempts"] for o in res["ops"])
    failed = sum(o["attempts"] if o["name"] in bad else o["errors"] for o in res["ops"])
    metrics = {}
    for m in metric_specs:
        if m["name"] not in values:
            raise BenchError(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": values[m["name"]], "unit": m["unit"]}
    return {"correct": not bad, "attempted": attempted, "failed": failed, "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--heap", default="4g", help="JVM heap, fixed for every run")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        raise BenchError("graft's sources are not next to perfbench/; run from a checkout root")
    with open(BENCHMARK) as f:
        spec = json.load(f)
    os.makedirs(WORK, exist_ok=True)
    classpath = build()
    gen = prepare(classpath, a.heap)

    scratch = os.path.join(WORK, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    text = os.path.join(DATA, "text", f"corpus_v{text_variant(a.seed)}.txt")
    for d in ("traces", "results"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}.json"
    args = ["--mode", "run", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--text", text,
            "--trace-file", os.path.join(WORK, "traces", name)]
    try:
        res, t0 = jvm(classpath, a.heap, os.path.join(scratch, "main"), args, RUN_TIMEOUT, "run")
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    with open(os.path.join(WORK, "results", name), "w") as f:
        json.dump(res, f, indent=1)

    with open(DIGESTS) as f:
        expected = json.load(f).get(digest_key(a.workload, a.seed), {})

    if a.trace:
        g = gen["corpus_x10"] if a.workload == "corpus_x10" else gen[f"text/v{text_variant(a.seed)}"]
        values = dict(res["layers"], **{"gen.s": g["s"], "gen.mb": g["mb"]})
        line = summarize(res, expected, spec["per_layer"], values)
    else:
        log(f"passes={res['passes']} warm_loop_s={res['warm_loop_s']:.1f}")
        values = end_to_end(res, res["setup"]["ready_ms"] / 1e3 - t0)
        line = summarize(res, expected, spec["end_to_end"], values)
    print(json.dumps(line))


if __name__ == "__main__":
    # A terminated run still stops its JVM (run_proc's finally kills it).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        main()
    except (BenchError, OSError, KeyError, ValueError) as e:
        log(f"error: {e}")
        sys.exit(2)
