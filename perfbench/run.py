#!/usr/bin/env python3
"""Lakehouse pipeline benchmark: one closed-loop run of one workload.

    python3 perfbench/run.py --workload cdc_microbatch --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --selftest

Run from the repository root. The first run compiles the library
(``src/main/scala``) and the harness (``perfbench/src``) with the Scala
compiler that ships in Spark's jars, into ``.bench_build/``. Each run then
starts a fresh JVM (``local[nproc]``, fixed driver heap) with its own
scratch root under ``.bench_build/runs/``, which is deleted at the end.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` -- the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. A traced run also
writes its spans and jobs to ``.bench_build/traces/``.
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402

WORKLOADS = ("cdc_microbatch", "cdc_backfill", "llm_curation")
HEAP = "4g"
RUN_LIMIT_S = 170  # the whole run, build excluded
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail("no Spark installation with a Scala compiler jar found "
             "(set SPARK_HOME)")
    return jars


def sources(root):
    lib = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(lib):
        fail(f"library sources not found under {lib}; run from the repository root")
    out = []
    for base in (lib, os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(root, jars):
    """Compile library + harness once per source state; returns the
    classes directory."""
    srcs = sources(root)
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    base = os.path.join(root, ".bench_build", "perfbench")
    classes = os.path.join(base, h.hexdigest()[:16])
    if os.path.isdir(classes):
        return classes
    os.makedirs(base, exist_ok=True)
    tmp = f"{classes}.tmp{os.getpid()}"
    os.makedirs(tmp)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    cp = os.path.join(jars, "*")
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp,
                        "scala.tools.nsc.Main",
                        "-nowarn", "-d", tmp, "-classpath", cp, f"@{argfile}"],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("compilation failed:\n" + r.stdout[-4000:])
    os.remove(argfile)
    for old in glob.glob(os.path.join(base, "*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, classes)
    return classes


def run_jvm(root, classes, jars, args, seconds, started):
    """One fresh JVM in its own scratch root; returns the raw record."""
    run_root = os.path.join(root, ".bench_build", "runs",
                            f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_root, ignore_errors=True)
    os.makedirs(os.path.join(run_root, "tmp"))
    out = os.path.join(run_root, "record.json")
    log = os.path.join(run_root, "jvm.log")
    cmd = (["java", "-XX:-UsePerfData"] + ADD_OPENS +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={run_root}/tmp", "-Dspark.ui.enabled=false",
            "-cp", f"{classes}{os.pathsep}{os.path.join(jars, '*')}", "perfbench.Main",
            args.workload, str(args.seed), str(seconds), str(args.trace), run_root, out])
    try:
        with open(log, "w") as lf:
            p = subprocess.Popen(cmd, cwd=run_root, stdout=lf, stderr=subprocess.STDOUT,
                                 start_new_session=True)

            def stop(signum, _frame):
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
                shutil.rmtree(run_root, ignore_errors=True)
                sys.exit(128 + signum)
            signal.signal(signal.SIGTERM, stop)
            signal.signal(signal.SIGINT, stop)
            try:
                p.wait(timeout=max(10, RUN_LIMIT_S - (time.time() - started)))
            except subprocess.TimeoutExpired:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
                fail("the run exceeded its time limit")
            finally:
                if p.poll() is None:
                    os.killpg(p.pid, signal.SIGKILL)
                    p.wait()
        if p.returncode != 0 or not os.path.exists(out):
            with open(log, errors="replace") as lf:
                tail = [ln for ln in lf.read().splitlines() if " INFO " not in ln][-40:]
            fail(f"JVM exited with {p.returncode}:\n" + "\n".join(tail))
        with open(out) as fh:
            return json.load(fh)
    finally:
        shutil.rmtree(run_root, ignore_errors=True)


def header(rec):
    print(f"# workload={rec['workload']} seed={rec['seed']} cores={rec['cores']} "
          f"heap_max_mb={rec['heap_max_mb']:.0f} spark={rec['spark_version']} "
          f"loop=closed clients=1")
    print("# session conf: " + " ".join(f"{k}={v}" for k, v in rec["conf"].items()
                                         if k.startswith(("spark.sql.", "spark.master",
                                                          "spark.hadoop."))))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    root = os.getcwd()
    jars = spark_jars()
    classes = build(root, jars)
    if args.selftest:
        import unittest
        suite = unittest.defaultTestLoader.discover(HERE, pattern="test_*.py")
        if not unittest.TextTestRunner(verbosity=1).run(suite).wasSuccessful():
            sys.exit(1)
        r = subprocess.run(["java", "-XX:-UsePerfData", "-cp",
                            f"{classes}{os.pathsep}{os.path.join(jars, '*')}",
                            "perfbench.SelfTest"])
        sys.exit(r.returncode)
    if not args.workload:
        ap.error("--workload is required")
    started = time.time()
    rec = run_jvm(root, classes, jars, args, args.seconds, started)
    header(rec)
    e2e = metrics.end_to_end(rec)
    for k, v in metrics.tails(rec).items():
        print(f"# {k}: " + ("unsupported (fewer than 11 samples)" if v is None else
                            f"p{v['percentile']} of {v['samples']} = {v['value']:.4f}"))
    attempted = len(rec["samples"])
    failed = sum(1 for s in rec["samples"] if not s["ok"])
    print(f"# error_rate: {failed}/{attempted} = {failed / max(1, attempted):.4f}")
    for f in rec["failures"]:
        print(f"# FAILED {f}")
    writes = sum(1 for s in rec["samples"] if s["kind"] == "write")
    reads = sum(1 for s in rec["samples"] if s["kind"] == "read")
    correct = failed == 0 and writes > 0 and reads > 0
    units = {"setup_s": "s", "write_rows_per_s": "rows/s", "write_p50_s": "s",
             "read_p50_s": "s", "storage_amplification": "ratio"}
    if args.trace:
        for k, v in e2e.items():
            print(f"# traced end-to-end {k}: {v:.6g}")
        layers = metrics.per_layer(rec)
        for k, v in metrics.layer_split(rec).items():
            print(f"# self time {k}: {v:.4f} s")
        os.makedirs(os.path.join(root, ".bench_build", "traces"), exist_ok=True)
        with open(os.path.join(root, ".bench_build", "traces",
                               f"{args.workload}-seed{args.seed}.json"), "w") as fh:
            json.dump({k: rec[k] for k in ("workload", "seed", "spans", "jobs", "stages",
                                            "notes", "samples")}, fh)
        out = {k: {"value": v, "unit": metrics.LAYER_UNITS[k]} for k, v in layers.items()}
    else:
        out = {k: {"value": v, "unit": units[k]} for k, v in e2e.items()}
    print(f"# writes={writes} reads={reads} wall_s={rec['wall_s']:.3f} "
          f"session_s={rec['session_s']:.3f} prepare_s={rec['prepare_s']} "
          f"warmup_s={rec['warmup_s']:.3f}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": out}))


if __name__ == "__main__":
    main()
