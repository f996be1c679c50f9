#!/usr/bin/env python3
"""The repository benchmark: one command per workload run.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. It builds the library and the
benchmark program in perfbench/ with sbt (once per source state), runs workload W in one
JVM on local[nproc], checks every output, and prints as its last
stdout line one JSON object: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the end-to-end metrics of
BENCHMARK.json, with --trace 1 its per-layer metrics. The line before
it is a report with the workload-specific figures, the environment and
every failure. The full result, including the traced pass's span tree
and job census, is kept under .bench_build/results/. Exits 1 when any
call fails or any output check disagrees, 2 on a usage or build error.
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

import oracle

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("etl_daily", "graph", "curation_week")
# the benchmark JVM's heap, pre-sized so every run starts from the same heap
HEAP = "2g"
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 850
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file whose change requires a rebuild, in a stable order."""
    out = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(top):
            out += [os.path.join(top, f) for f in sorted(os.listdir(top))
                    if f.endswith((".sbt", ".properties", ".scala"))]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, dirs, files in os.walk(top):
            dirs.sort()
            out += [os.path.join(d, f) for f in sorted(files)]
    return out


def run_killable(cmd, timeout, **kw):
    """Runs cmd in its own process group; on timeout kills the whole
    group and waits for it. Returns the exit code, or None on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build():
    """Returns the benchmark program's classpath, building when the sources
    changed."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no graft library sources next to {HERE}: run from a full checkout")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.isfile(cp_file):
        with open(cp_file) as fh:
            saved = json.load(fh)
        if saved["stamp"] == stamp:
            return saved["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS="-Dsbt.offline=true -Dsbt.override.build.repos=true -Xmx2g")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = run_killable(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                           "export Runtime/fullClasspath"], BUILD_TIMEOUT_S,
                          cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                          stdin=subprocess.DEVNULL)
    with open(log) as fh:
        lines = [l.strip() for l in fh]
    cps = [l for l in lines if ".jar" in l and os.pathsep in l and not l.startswith("[")]
    if rc != 0 or not cps:
        fail(f"build failed (exit {rc}); see {log}")
    with open(cp_file, "w") as fh:
        json.dump({"stamp": stamp, "classpath": cps[-1]}, fh)
    return cps[-1]


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def launch(classpath, args, work, out_json):
    """Runs the benchmark JVM for one workload run; returns its exit code."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_LOCAL_DIR=os.path.join(work, "spark-local"))
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cpus", str(cpus()), "--work", work, "--out", out_json]
    if args.inject_failure:
        cmd += ["--inject-failure", args.inject_failure]
    log = os.path.join(BUILD, "logs", f"{args.workload}-s{args.seed}-t{args.trace}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as out:
        rc = run_killable(cmd, JVM_TIMEOUT_S, cwd=work, env=env, stdout=out,
                          stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    return rc, log


def quantile(xs, q):
    """Linear-interpolation quantile; None without samples."""
    if not xs:
        return None
    s = sorted(xs)
    pos = q * (len(s) - 1)
    i = int(pos)
    return s[-1] if i + 1 >= len(s) else s[i] + (s[i + 1] - s[i]) * (pos - i)


# report names of the curation week's call kinds
KIND_NAMES = {"absorb": "ingest"}


def end_to_end(raw):
    """End-to-end figures of a timed run, and context figures that are
    reported but not gated: latency per kind of call (fewer than ten
    samples lie beyond its p90, and the host's speed swings move a
    median over a few dozen calls by more than the bounds) and the
    workload's own figures."""
    timed = [c for c in raw["calls"]
             if c["pass"] >= 0 and c["kind"] != "check" and c["error"] is None]
    passes = sorted({c["pass"] for c in raw["calls"] if c["pass"] >= 0})
    suites = [sum(c["s"] for c in timed if c["pass"] == p) for p in passes]
    extra = {"passes": len(passes), **raw["figures"]}
    for kind in sorted({c["kind"] for c in timed}):
        xs = [c["s"] for c in timed if c["kind"] == kind]
        name = KIND_NAMES.get(kind, kind)
        extra[f"{name}_n"] = len(xs)
        extra[f"{name}_p50_s"] = quantile(xs, 0.5)
        extra[f"{name}_p90_s"] = quantile(xs, 0.9)
        if kind == "absorb":
            extra["ingest_docs_per_s"] = raw["figures"]["batch_docs"] * len(xs) / sum(xs)
    return {
        # process start to session, the median state set-up, and the
        # warm-up check pass
        "setup_s": raw["jvm_ready_s"] + statistics.median(raw["setup_s"]) + raw["check_s"],
        "suite_s": statistics.median(suites) if suites else None,
        "heap_retained_mb": raw["heap_retained_mb"],
    }, extra


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-failure", metavar="CALL",
                    help="make the named call throw (for the benchmark's own tests)")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    classpath = build()

    work = os.path.join(BUILD, "work", args.workload)
    out_json = os.path.join(work, "result.json")
    os.makedirs(work, exist_ok=True)
    if os.path.exists(out_json):
        os.remove(out_json)
    try:
        t0 = time.time()
        rc, log = launch(classpath, args, work, out_json)
        if rc != 0 or not os.path.isfile(out_json):
            fail(f"benchmark JVM {'timed out' if rc is None else f'exited {rc}'}; see {log}", 1)
        with open(out_json) as fh:
            raw = json.load(fh)
        mismatches = oracle.check(work, raw["calls"])
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failures = [f"{c['name']}: {c['error']}" for c in raw["calls"] if c["error"]]
    failures += [f"{n}: {why}" for n, why in mismatches]
    attempted = len(raw["calls"])
    failed = len(failures)
    e2e, extra = end_to_end(raw)
    if args.trace:
        values = raw["trace"]["layers"]
        wanted = spec["per_layer"]
    else:
        values = e2e
        wanted = spec["end_to_end"]
    metrics = {}
    for m in wanted:
        v = values.get(m["name"])
        if v is None:
            failures.append(f"metric {m['name']}: not measured")
            failed += 1
            continue
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}

    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "wall_s": round(time.time() - t0, 3), "sf": raw["sf"], "cpus": raw["cpus"],
        "heap_max_mb": raw["heap_max_mb"], "spark_local_dir": os.path.relpath(
            raw["spark_local_dir"], ROOT), "present_before_wipe": raw["present_before_wipe"],
        "failed_frac": failed / attempted, "failures": failures, **extra,
    }
    if args.trace:
        report["trace_overhead_frac"] = raw["trace"]["layers"]["trace.overhead_frac"]
        report["eager_calls"] = raw["trace"]["eager_calls"]
        # Spark jobs per call: [while building the frame, while
        # evaluating it, in all]
        report["census"] = {c["call"]: [c["build_jobs"], c["exec_jobs"], c["jobs"]]
                            for c in raw["trace"]["census"]}
    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    name = f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time() * 1000)}.json"
    with open(os.path.join(results, name), "w") as fh:
        json.dump({"report": report, "metrics": metrics, "raw": raw}, fh)
    print("report " + json.dumps(report))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
