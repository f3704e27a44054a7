#!/usr/bin/env python3
"""Records the operator_mix gate: the fingerprint of every mix query's
result on the benchmark's test tables, accepted only after the same results
pass the repository's DuckDB oracle compare (tools/check.py against
SparkEntry.oracleSql).

Usage (from the repository root): python3 perfbench/record_expected.py
Rewrites perfbench/expected_hashes.txt; re-run it when a query's output
legitimately changes.
"""
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402


def main():
    work = os.path.join(run.ROOT, ".bench_work", "record")
    shutil.rmtree(work, ignore_errors=True)
    out = os.path.join(work, "out")
    os.makedirs(work)
    jvm = run.jvm_args(timeout=840, heap="3g")
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    env.pop("SPARK_GRAFT_SF_DIR", None)
    subprocess.run(["java", *jvm, f"-Djava.io.tmpdir={work}", "perfbench.Record",
                    run.TABLES, out], check=True, cwd=work, env=env)
    queries = [line.split()[0] for line in open(os.path.join(out, "fingerprints.txt"))]
    check = subprocess.run([sys.executable, os.path.join(run.ROOT, "tools", "check.py"),
                            run.TABLES, out, ",".join(queries)])
    if check.returncode != 0:
        sys.exit("oracle compare failed: expected hashes not recorded")
    with open(os.path.join(HERE, "expected_hashes.txt"), "w") as f:
        f.write("# operator_mix gate: <query> <rows>:<hash> on tables/sf0.01;\n"
                "# every result matched its SparkEntry.oracleSql twin in DuckDB "
                "(tools/check.py) when recorded\n")
        f.write(open(os.path.join(out, "fingerprints.txt")).read())
    shutil.rmtree(work)


if __name__ == "__main__":
    main()
