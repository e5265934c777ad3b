"""The repository benchmark: one command for every workload.

    python3 perfbench/run.py --workload route-batch --seed 1 --seconds 10 --trace 0

Run from the repository root. It builds the program from source
(perfbench/build.py), writes the seeded inputs (perfbench/gen.py), runs the
JVM harness (perfbench/src) in one process on `local[4]`, checks the
program's outputs against references, and prints one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics of BENCHMARK.json, `--trace 1`
the per-layer ones. Everything it writes stays under `.bench_build/`.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("route-batch", "queries-analyst", "stream-lifecycle")
HEAP = "3g"
# the harness is stopped this long after the build, well inside the 180 s
# a run may take once the build is cached
DEADLINE_S = 165
# The module openings Spark needs on JDK 17 when started outside
# spark-submit (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def declared_metrics(root, trace):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def run_jvm(root, classes, args, data, layer_data, run_dir, deadline):
    jars = build.spark_jars(root)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xms" + HEAP, "-Xmx" + HEAP, "-Xss4m", "-Djava.io.tmpdir=" + tmp,
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Harness",
            "--workload", args.workload, "--data", data, "--layer-data", layer_data, "--run", run_dir,
            "--seconds", str(args.seconds), "--trace", str(args.trace)]
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_LOCAL_DIRS", "SPARK_CONF_DIR", "JAVA_TOOL_OPTIONS")}
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=max(deadline - time.time(), 1))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("harness timed out; see " + os.path.join(run_dir, "jvm.log"), 1)
    if code != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail("harness exited with %d" % code, 1)
    with open(os.path.join(run_dir, "result.json")) as f:
        return json.load(f)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", default=None, help="size preset of gen.py (default: the workload's)")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not (os.path.isdir(os.path.join(root, "src", "main", "scala"))
            and os.path.isfile(os.path.join(root, "build.sbt"))):
        fail("run from the repository root: the program sources are missing here")
    names = declared_metrics(root, args.trace)

    classes = build.build(root)
    deadline = time.time() + DEADLINE_S
    base = os.path.join(root, build.BUILD)
    data = gen.generate(os.path.join(base, "data"), args.workload, args.seed, args.size)
    # the traced run's layer suite reads one fixed-size table per seed, so
    # layer figures compare across workloads and the run stays short
    layer_data = gen.generate(os.path.join(base, "data"), "queries-analyst", args.seed) \
        if args.trace and args.size is None else data
    run_dir = os.path.join(base, "runs", "%s-s%d-t%d" % (args.workload, args.seed, args.trace))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)

    res = run_jvm(root, classes, args, data, layer_data, run_dir, deadline)
    checks = [(c["name"], c["ok"], c["detail"]) for c in res["checks"]]
    attempted, failed = res["attempted"], res["failed"]
    qdir = os.path.join(run_dir, "check")
    if os.path.isdir(qdir):
        with open(os.path.join(qdir, "oracle_sql.json")) as f:
            qnames = list(json.load(f))
        for name, ok, detail in check.check_queries(qdir, data, sorted(qnames)):
            checks.append(("oracle." + name, ok, detail))
            attempted += 1
            failed += 0 if ok else 1
        if len(qnames) != 15:
            checks.append(("oracle.query_count", False, "%d queries" % len(qnames)))
            failed += 1
    for name, ok, detail in checks:
        if not ok:
            print("perfbench: check %s failed: %s" % (name, detail), file=sys.stderr)

    got = res["metrics"]
    missing = [n for n in names if n not in got or got[n]["value"] is None]
    if missing:
        fail("metrics not measured: " + ", ".join(missing), 1)
    metrics = {n: {"value": got[n]["value"], "unit": got[n]["unit"]} for n in names}
    for n, m in metrics.items():
        print("%-40s %14.6g %s" % (n, m["value"], m["unit"]))
    for n in got:
        if n not in metrics and got[n]["value"] is not None:
            print("%-40s %14.6g %s  (not in BENCHMARK.json)" % (n, got[n]["value"], got[n]["unit"]))
    print(json.dumps({"correct": failed == 0 and all(c[1] for c in checks),
                      "attempted": attempted, "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
