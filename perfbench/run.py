#!/usr/bin/env python3
"""Link-graph benchmark: build the engine and the harness from source, run one
workload in one JVM, check its outputs, print one JSON result line.

Run from the repository root:

    python3 perfbench/run.py --workload pr-web --seed 1 --seconds 10 --trace 0

`--trace 0` prints the end-to-end metrics, `--trace 1` the per-layer ones.
`--smoke` runs at tiny input sizes (the self-test uses it). Build outputs go
to `.bench_build/`, scratch files to `.bench_work/` (deleted after the run),
and each run's full record (per-job times, load average, steal, spans) to
`.bench_out/`. See perfbench/README.md.
"""
import argparse
import contextlib
import glob
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
import time

WORKLOADS = ("pr-web", "crawl-graph", "hub-skew", "docgraph-drivers")
HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = ".bench_build"
WORK = ".bench_work"
OUT = ".bench_out"
# the benchmark JVM's time limit, within the 180 s a run may take;
# docgraph-drivers, which BENCHMARK.json does not list, runs 40-50 s jobs
# and needs about 200 s traced
DEADLINE_S = {"docgraph-drivers": 400}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME, else the first Spark
    distribution whose bin/spark-submit is on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        if glob.glob(os.path.join(home, "jars", "spark-core_*.jar")):
            return os.path.join(home, "jars", "*")
    sys.exit("no Spark distribution found; set SPARK_HOME")


def build():
    """Compile the engine (src/main/scala) and the harness into a classes
    directory keyed by the sources' hash; reuse it when it exists."""
    sources = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not sources:
        sys.exit("no engine sources under src/main/scala: run from the repository root")
    sources += sorted(glob.glob(os.path.join(os.path.relpath(HERE), "src/**/*.scala"), recursive=True))
    h = hashlib.sha256()
    for s in sources:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    classes = os.path.join(BUILD, "perfbench", "classes-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(classes, ".complete")):
        return classes
    tmp = f"{classes}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    log(f"compiling {len(sources)} sources")
    t0 = time.time()
    rc = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
                         "-cp", spark_jars(), "scala.tools.nsc.Main",
                         "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile],
                        stdout=sys.stderr, timeout=800).returncode
    if rc != 0:
        sys.exit(f"compilation failed ({rc})")
    os.remove(argfile)
    open(os.path.join(tmp, ".complete"), "w").close()
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    log(f"compiled in {time.time() - t0:.1f} s")
    return classes


def run_jvm(classes, args, work, result):
    tmpdir = os.path.join(work, "tmp")
    os.makedirs(tmpdir, exist_ok=True)
    # fixed heap, parallel collector with fixed generation sizes: peak RSS
    # then tracks live data, not the collector's heap-sizing decisions
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy",
           "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmpdir}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}{os.pathsep}{spark_jars()}", "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work, "--result", result]
    if args.smoke:
        cmd.append("--smoke")
    proc = subprocess.Popen(cmd, stdout=sys.stderr)
    try:
        return proc.wait(timeout=DEADLINE_S.get(args.workload, 175))
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()


def oracle_check(work):
    """DuckDB oracle parity of the doc-graph reference rows, via the repo's
    tools/check_oracles.py (the same compare graft.Verify's dump gets)."""
    if not os.path.exists(os.path.join(work, "oracle_inputs")):
        return False  # no job produced reference rows
    sys.dont_write_bytecode = True
    spec = importlib.util.spec_from_file_location("check_oracles", os.path.join("tools", "check_oracles.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    with open(os.path.join(work, "oracle_inputs")) as f:
        docs_dir = f.read().strip()
    with contextlib.redirect_stdout(sys.stderr):
        return mod.main(os.path.join(work, "oracle"), docs_dir) == 0


def stop(signum, frame):
    # unwinds through the finally blocks and subprocess.run's cleanup, which
    # kill and wait for the compiler or benchmark JVM
    raise SystemExit(f"stopped by signal {signum}")


def main():
    signal.signal(signal.SIGTERM, stop)
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for the self-test")
    args = ap.parse_args()

    classes = build()
    work = os.path.abspath(os.path.join(WORK, f"run-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(OUT, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}{'-smoke' if args.smoke else ''}"
    result = os.path.join(OUT, tag + ".json")
    try:
        if os.path.exists(result):
            os.remove(result)
        t0 = time.time()
        rc = run_jvm(classes, args, work, result)
        log(f"benchmark JVM exited ({rc}) after {time.time() - t0:.1f} s")
        if rc != 0 or not os.path.exists(result):
            sys.exit(f"benchmark JVM failed ({rc})")
        with open(result) as f:
            rec = json.load(f)
        if args.workload == "docgraph-drivers" and rec["failed"] < rec["attempted"]:
            t0 = time.time()
            rec["oracle_ok"] = oracle_check(work)
            log(f"oracle check took {time.time() - t0:.1f} s")
            if not rec["oracle_ok"]:
                # every job matched the first job's rows, which the oracles reject
                rec["failed"] = rec["attempted"]
                rec["correct"] = False
        with open(result, "w") as f:
            json.dump(rec, f)
        if args.trace:
            shutil.copy(os.path.join(work, "spans.jsonl"), os.path.join(OUT, tag + ".spans.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": rec["correct"], "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": rec["metrics"]}))


if __name__ == "__main__":
    main()
