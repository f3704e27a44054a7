#!/usr/bin/env python3
"""Benchmark entry point: builds the harness, runs one workload, prints its
metrics.

Usage (from the repository root):
  python3 perfbench/run.py --workload <uber_build|operator_mix>
                           --seed <n> --seconds <s> --trace <0|1>

The harness (perfbench/build.sbt) compiles against the product sources of
the tree it sits in; the build is cached under .bench_build/ and redone
when any source changes. All inputs and outputs live under .bench_work/.
The last stdout line is one JSON object: correct, attempted, failed and the
metrics (end-to-end with --trace 0, per-layer with --trace 1). The line
before it records the host calibration probe.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import analysis  # noqa: E402

WORKLOADS = ("uber_build", "operator_mix")
CONFIG = {
    "fact_rows": 200_000,       # uber_build fact rows
    "setup_reps": 15,
}
# operator_mix reads the repository's sf0.01 test tables (lineitem = 60k rows)
TABLES = os.path.join(HERE, "tables", "sf0.01")
BUILD_INPUTS = ["build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src"]
BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout kill the whole group
    and wait for it."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"{cmd[0]} timed out after {timeout:.0f}s")
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def source_fingerprint():
    h = hashlib.sha1()
    for rel in BUILD_INPUTS:
        path = os.path.join(ROOT, rel)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def jvm_args(timeout, heap):
    """The harness JVM's arguments before the main class: the product
    build's JVM options with the given heap size, and the classpath. Builds
    first if the sources changed."""
    fp = source_fingerprint()
    stamp, args_file = os.path.join(BUILD_DIR, "fingerprint"), os.path.join(BUILD_DIR, "jvm_args.json")
    if not (os.path.exists(stamp) and open(stamp).read() == fp and os.path.exists(args_file)):
        build(timeout)
        with open(stamp, "w") as f:
            f.write(fp)
    args = json.load(open(args_file))
    return [o for o in args["java_options"] if not o.startswith("-Xmx")] \
        + [f"-Xmx{heap}", "-cp", args["classpath"]]


def build(timeout):
    """Compiles the harness and caches its classpath and the product
    build's JVM options (`javaOptions`, which build.sbt takes from the
    product) in jvm_args.json."""
    os.makedirs(BUILD_DIR, exist_ok=True)
    env = dict(os.environ)
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(BUILD_DIR, "build.log")
    with open(log, "w") as out:
        rc = run_group(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath", "print javaOptions"],
                       timeout, cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL)
    lines = open(log).read().splitlines()
    # sbt's own lines carry a [level] prefix; `export` prints the classpath
    # bare, `print` one "* <option>" line per element
    bare = [ln for ln in lines if ln and not ln.startswith("[")]
    options = [ln[2:] for ln in bare if ln.startswith("* ")]
    paths = [ln for ln in bare if not ln.startswith("* ")]
    if rc != 0 or len(paths) != 1 or not options:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"harness build failed (exit {rc})")
    with open(os.path.join(BUILD_DIR, "jvm_args.json"), "w") as f:
        json.dump({"classpath": paths[0], "java_options": options}, f)


def main():
    t_start = time.monotonic()
    # a terminated run still stops the JVM or sbt it started (run_group)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for rel in ("build.sbt", "src/main/scala/graft"):
        if not os.path.exists(os.path.join(ROOT, rel)):
            fail(f"no product sources at {rel}: run from a full checkout")

    first_build = not os.path.exists(os.path.join(BUILD_DIR, "jvm_args.json"))
    jvm = jvm_args(timeout=840, heap="3g")
    budget = (890 if first_build else 175) - (time.monotonic() - t_start)

    work = os.path.join(ROOT, ".bench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    record_path = os.path.join(work, "record.json")
    env = dict(os.environ,
               SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    env.pop("SPARK_GRAFT_SF_DIR", None)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    kv = dict(CONFIG, workload=args.workload, seed=args.seed, seconds=args.seconds,
              trace=args.trace, work=work, out=record_path, tables_dir=TABLES,
              expected_hashes=os.path.join(HERE, "expected_hashes.txt"))
    cmd = [java, *jvm, f"-Djava.io.tmpdir={work}/tmp", "perfbench.Main"] \
        + [f"{k}={v}" for k, v in kv.items()]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        rc = run_group(cmd, budget, cwd=work, env=env, stdout=out, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.exists(record_path):
        sys.stderr.write("".join(open(log).readlines()[-40:]))
        fail(f"harness exited with {rc}")
    record = json.load(open(record_path))
    # keep the record and log, drop the generated data
    for name in os.listdir(work):
        if name not in ("record.json", "jvm.log"):
            p = os.path.join(work, name)
            shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)

    attempted, failed = analysis.outcome(record)
    if args.trace:
        spans = record["traced"]["spans"]
        own = analysis.self_times(spans)
        with open(os.path.join(work, "trace.json"), "w") as f:
            json.dump([dict(s, self_s=own[s["id"]]) for s in spans], f, indent=1)
        values = analysis.per_layer(record)
        metrics = {k: {"value": v, "unit": analysis.PER_LAYER_UNITS[k]} for k, v in values.items()}
    else:
        values = analysis.end_to_end(record)
        metrics = {k: {"value": v, "unit": analysis.END_TO_END[k]} for k, v in values.items()}
    for g in record["gates"]:
        if g["expected"] != g["actual"]:
            print(f"gate failed: {g['name']}: expected {g['expected']}, got {g['actual']}",
                  file=sys.stderr)
    for j in (record.get("traced") or {}).get("job_checks", []):
        if j["entry_jobs"] != j["parts_jobs"]:
            print(f"job totals differ: {j['name']}: entry {j['entry_jobs']:.0f}, "
                  f"parts {j['parts_jobs']:.0f}", file=sys.stderr)
    for a in record["attempts"]:
        if a.get("error"):
            print(f"attempt failed: {a['name']}: {a['error']}", file=sys.stderr)
    print("calibration " + json.dumps(record["calibration"]))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
