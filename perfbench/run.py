#!/usr/bin/env python3
"""Run one benchmark workload against the program in this checkout.

    python3 perfbench/run.py --catalog-rate R --workload W --seed N --seconds S --trace 0|1

builds the program from source (once per source state, with sbt, into
perfbench/target), runs the workload in a fresh JVM whose scratch
directories all live in a per-run directory that is deleted afterwards,
prints a provenance line and, as the last line, the result object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

Other modes:
    --selftest                 generator determinism self-test
    --determinism              two traced runs with one seed; lists which
                               per-span counters repeat exactly

See perfbench/README.md for the workloads and metrics.
"""
import argparse
import datetime
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
STAMP = os.path.join(TARGET, "perfbench-build.json")
RUNS = os.path.join(ROOT, ".perfbench-run")
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 840
HEAP = "3g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads, in a stable order."""
    dirs = [os.path.join(HERE, "src"), os.path.join(ROOT, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names]
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def supervised(cmd, cwd, env, limit_s, stderr=None):
    """Run `cmd` in its own process group and wait for it. On timeout, or
    when this process is told to stop, the whole group is killed and
    waited for. Returns (exit code or None on timeout, stdout)."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE, stderr=stderr,
                            stdin=subprocess.DEVNULL, text=True, start_new_session=True)

    def kill_group():
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()

    def on_signal(signum, _frame):
        kill_group()
        sys.exit(128 + signum)

    previous = {s: signal.signal(s, on_signal) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        out, _ = proc.communicate(timeout=limit_s)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        kill_group()
        return None, ""
    finally:
        for s, h in previous.items():
            signal.signal(s, h)


def build():
    """Compile the program and the benchmark; return the JVM classpath."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("the program's sources (build.sbt, src/main/scala) are not next "
             "to perfbench/; run from a checkout of the repository")
    stamp = source_hash()
    if os.path.isfile(STAMP):
        with open(STAMP) as fh:
            built = json.load(fh)
        if built.get("sources") == stamp and all(
                os.path.exists(p) for p in built["classpath"].split(os.pathsep)):
            return built["classpath"], stamp
    t0 = time.time()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "compile", "export Runtime/fullClasspath"]
    try:
        code, stdout = supervised(cmd, HERE, dict(os.environ), BUILD_LIMIT_S,
                                  stderr=subprocess.STDOUT)
    except FileNotFoundError:
        fail("sbt is not on PATH")
    if code is None:
        fail("build timed out")
    lines = stdout.splitlines()
    cp = [ln for ln in lines if os.pathsep in ln and ".jar" in ln and not ln.startswith("[")]
    if code != 0 or not cp:
        sys.stderr.write("\n".join(lines[-60:]) + "\n")
        fail("build failed")
    os.makedirs(TARGET, exist_ok=True)
    with open(STAMP, "w") as fh:
        json.dump({"sources": stamp, "classpath": cp[-1].strip(),
                   "build_s": round(time.time() - t0, 1)}, fh)
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    return cp[-1].strip(), stamp


def git_state():
    try:
        head = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=20)
        if head.returncode != 0:
            return None, None
        dirty = subprocess.run(["git", "status", "--porcelain", "--untracked-files=no"],
                               cwd=ROOT, capture_output=True, text=True, timeout=20)
        return head.stdout.strip(), bool(dirty.stdout.strip())
    except (OSError, subprocess.TimeoutExpired):
        return None, None


def run_jvm(classpath, jvm_args, limit_s, check=True):
    """Run perfbench.Main in a fresh per-run directory; returns its stdout
    lines, or exits non-zero when the JVM overruns (or, with `check`,
    fails)."""
    os.makedirs(RUNS, exist_ok=True)
    work = os.path.join(RUNS, f"run-{os.getpid()}-{int(time.time() * 1000)}")
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", "--work", work] + jvm_args
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    try:
        code, out = supervised(cmd, work, env, limit_s)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(RUNS)
        except OSError:
            pass
    if code is None:
        fail(f"the run did not finish within {limit_s} s", 3)
    if code != 0 and check:
        fail(f"the benchmark JVM exited with code {code}", 3)
    return out.splitlines() if check else (code, out.splitlines())


def parse(lines):
    info = next((json.loads(ln.split(" ", 1)[1]) for ln in reversed(lines)
                 if ln.startswith("PERFBENCH_INFO ")), {})
    result = json.loads(lines[-1]) if lines else None
    if not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed",
                                                       "metrics"}:
        fail("the benchmark JVM printed no result", 3)
    return info, result


def declared():
    """BENCHMARK.json, or None when absent."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        return None
    with open(path) as fh:
        return json.load(fh)


def shape(result, workload, trace):
    """For a workload BENCHMARK.json declares, keep exactly the declared
    metrics: a per-layer metric the workload does not exercise reads 0, and
    a missing end-to-end metric is an error. Other workloads print what
    they measured."""
    spec = declared()
    if not spec or workload not in {w["name"] for w in spec["workloads"]}:
        return result
    want = spec["per_layer"] if trace else spec["end_to_end"]
    got = result["metrics"]
    out = {}
    for m in want:
        if m["name"] in got:
            out[m["name"]] = got[m["name"]]
        elif trace:
            out[m["name"]] = {"value": 0, "unit": m["unit"]}
        else:
            fail(f"end-to-end metric {m['name']} was not measured", 3)
    result["metrics"] = out
    return result


def one_run(args, classpath, stamp, started):
    jvm_args = ["--workload", args.workload, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--trace", str(args.trace),
                "--catalog-rate", str(args.catalog_rate)]
    limit = max(30, RUN_LIMIT_S - int(time.time() - started))
    lines = run_jvm(classpath, jvm_args, limit)
    info, result = parse(lines)
    head, dirty = git_state()
    provenance = {
        "nproc": info.get("cpus"), "master": info.get("master"),
        "driver_heap": HEAP, "driver_heap_max_mb": info.get("driver_heap_max_mb"),
        "spark_version": info.get("spark_version"),
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace,
        "sf_dir": "generated per run (perfbench SfGen, sf0.1 shape)"
        if args.workload == "sf01_batch" else
        "generated per run for the queries layer (perfbench SfGen, sf0.02)"
        if args.workload == "index_churn" and args.trace else None,
        "git_head": head, "git_dirty": dirty, "source_sha256": stamp,
        "timestamp": datetime.datetime.now(datetime.timezone.utc).isoformat(timespec="seconds"),
        "params": info.get("params"),
        "detail": {k: v for k, v in info.items() if k not in ("params", "spans")},
    }
    return info, result, provenance


def determinism(args, classpath, stamp):
    """Two traced runs with the same seed: which per-span counters repeat."""
    args.trace = 1
    runs = [one_run(args, classpath, stamp, time.time())[0] for _ in range(2)]
    report = {}
    for name, a in runs[0].get("spans", {}).items():
        b = runs[1].get("spans", {}).get(name, {})
        for counter in ("jobs", "tasks", "shuffle_bytes", "input_bytes", "bytes_written"):
            x, y = a.get(counter), b.get(counter)
            if x is None or not any(x):
                continue
            report[f"{name}.{counter}"] = "exact" if x == y else \
                f"varies ({sum(1 for p, q in zip(x, y) if p != q)} of {len(x)} calls differ)"
    for k in sorted(report):
        print(f"{k:60s} {report[k]}")
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "exact": sorted(k for k, v in report.items() if v == "exact"),
                      "varies": sorted(k for k, v in report.items() if v != "exact")}))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=["catalog_api", "sf01_batch", "index_churn"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--catalog-rate", type=float,
                    help="catalog_api arrival rate, requests per second "
                         "(BENCHMARK.json's command sets it)")
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--determinism", action="store_true")
    args = ap.parse_args()
    if not args.selftest and (not args.workload or args.seconds is None
                              or args.catalog_rate is None):
        fail("--workload, --seconds and --catalog-rate are required")
    classpath, stamp = build()
    started = time.time()
    if args.selftest:
        code, lines = run_jvm(classpath, ["--selftest"], RUN_LIMIT_S, check=False)
        print("\n".join(lines))
        sys.exit(1 if code else 0)
    if args.determinism:
        determinism(args, classpath, stamp)
        return
    _, result, provenance = one_run(args, classpath, stamp, started)
    print("PERFBENCH_PROVENANCE " + json.dumps(provenance, sort_keys=True))
    print(json.dumps(shape(result, args.workload, args.trace)))


if __name__ == "__main__":
    main()
