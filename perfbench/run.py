#!/usr/bin/env python3
"""Seeded benchmark of graft's sink path and query layer.

Run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from source on first use (sbt, offline) into .bench_build/,
generates the workload's inputs from the seed under .bench_work/, runs the
workload in one JVM, checks its outputs, and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics are
the end-to-end ones of BENCHMARK.json, with --trace 1 the per-layer ones.
The full run record (units, percentiles, sample counts, machine, Spark conf,
input sizes, exclusions) is written to .bench_work/records/. See
perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

T0 = time.monotonic()
ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
WORK_ROOT = os.path.join(ROOT, ".bench_work")
# Class-data sharing archive of the Spark and program classes: the first run
# in a checkout writes it at exit, later runs map it, which shortens JVM
# class loading (part of every run's cold start).
CDS_ARCHIVE = os.path.join(BUILD, "classes.jsa")
WORKLOADS = ("stream_float_json", "backlog_nwic_msgpack", "queries_sf001")
BUILD_LIMIT_S = 850
RUN_LIMIT_S = 180  # a run, as the benchmark contract allows
FIRST_RUN_LIMIT_S = 900  # the first run in a checkout, which also builds
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_fingerprint():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile program + harness with sbt unless the sources are unchanged.
    Returns the runtime classpath."""
    stamp = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    fp = source_fingerprint()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read().strip() == fp:
                with open(cp_file) as f:
                    return f.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    opts = ["-Dsbt.log.noformat=true", "-Dsbt.offline=true", "-Dsbt.server.forcestart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        try:
            p = subprocess.run(["sbt", "--batch", *opts, "compile", "export Runtime/fullClasspath"],
                               cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S)
        except subprocess.TimeoutExpired:
            die(f"build timed out after {BUILD_LIMIT_S} s (log: {log})")
    with open(log) as f:
        lines = f.read().splitlines()
    cps = [l for l in lines if ".jar" in l and os.pathsep in l and not l.startswith("[")]
    if p.returncode != 0 or not cps:
        print("\n".join(lines[-40:]), file=sys.stderr)
        die(f"build failed (log: {log})")
    if os.path.exists(CDS_ARCHIVE):
        os.remove(CDS_ARCHIVE)
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp, "w") as f:
        f.write(fp)
    return cps[-1]


def fmt(v):
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(BENCH, "run.py"))
            and os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala"))):
        die("the program's sources (src/main/scala/graft) and perfbench/ are not in the current "
            "directory; run from the root of a graft checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]

    built_here = not os.path.exists(os.path.join(BUILD, "stamp"))
    classpath = build()
    t_build = time.monotonic() - T0
    limit = (FIRST_RUN_LIMIT_S if built_here else RUN_LIMIT_S) - 5 - (time.monotonic() - T0)

    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    cds = (f"-XX:SharedArchiveFile={CDS_ARCHIVE}" if os.path.exists(CDS_ARCHIVE)
           else f"-XX:ArchiveClassesAtExit={CDS_ARCHIVE}")
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC", cds, "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           *[x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-cp", classpath, "graft.bench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--work", work, "--cache", os.path.join(WORK_ROOT, "cache"),
           "--out", out, "--pins", os.path.join(BENCH, "query_pins.json")]
    log = os.path.join(work, "jvm.log")
    t_jvm = time.monotonic()
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(10.0, limit))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = None
    if rc != 0 or not os.path.exists(out):
        with open(log) as f:
            tail = f.read().splitlines()[-60:]
        print("\n".join(tail), file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        die("benchmark JVM " + ("timed out" if rc is None else f"exited with {rc}"), 1)

    print(f"perfbench: build check {t_build:.1f} s, jvm {time.monotonic() - t_jvm:.1f} s",
          file=sys.stderr)
    with open(out) as f:
        res = json.load(f)
    rec = res["record"]
    rec_dir = os.path.join(WORK_ROOT, "records")
    os.makedirs(rec_dir, exist_ok=True)
    stem = os.path.join(rec_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}")
    with open(stem + ".json", "w") as f:
        json.dump(rec, f, indent=1, sort_keys=True)
    shutil.move(log, stem + ".log")
    shutil.rmtree(work, ignore_errors=True)

    produced = res["per_layer"] if a.trace else res["end_to_end"]
    metrics = {}
    for m in wanted:
        got = produced.get(m["name"])
        if got is None and not a.trace:
            die(f"end-to-end metric {m['name']} was not produced", 1)
        if got is not None and got["unit"] != m["unit"]:
            die(f"metric {m['name']} has unit {got['unit']}, BENCHMARK.json says {m['unit']}", 1)
        # A layer that does no work on this workload reports 0.
        metrics[m["name"]] = {"value": got["value"] if got else 0.0, "unit": m["unit"]}

    detail = {m["name"]: m for m in rec["metrics"]}
    print(f"workload={a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace} "
          f"nproc={rec['machine']['nproc']} inputs={json.dumps(rec['inputs'], sort_keys=True)}")
    for name, m in metrics.items():
        d = detail.get(name, {})
        print(f"  {name} = {fmt(m['value'])} {m['unit']} "
              f"({d.get('stat', 'layer idle on this workload')}, n={d.get('samples', 0)})")
    print(f"  fail_frac = {fmt(rec['fail_frac'])} ({res['failed']} of {res['attempted']} operations)")
    for note in rec["check_notes"]:
        print(f"  check: {note}")
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
