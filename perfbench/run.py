#!/usr/bin/env python3
"""graft's benchmark. From the root of a checkout:

    python3 perfbench/run.py --workload cmf_train --seed 1 --seconds 10 --trace 0

builds graft and the benchmark (first run only, see build.py), runs one
workload in a fresh local[4] JVM and prints the workload's own figures, then
one JSON line {"correct", "attempted", "failed", "metrics"}: the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1. The full
result, the span file (traced runs) and the Spark log go to
.bench_build/perfbench/{results,logs}/. `--record-rows` rewrites
query_rows_sf0.01.tsv from the current code instead of running a workload.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ("cmf_train", "corpus_pipeline", "query_sweep")
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
RUN_TIMEOUT_S = 170
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def check_data():
    """The sf0.01 tables must be the byte-identical copy the manifest names."""
    data = os.path.join(HERE, "data")
    with open(os.path.join(data, "sf0.01.sha256")) as fh:
        for line in fh:
            digest, name = line.split()
            with open(os.path.join(data, "sf0.01", name), "rb") as f:
                if hashlib.sha256(f.read()).hexdigest() != digest:
                    raise SystemExit("perfbench: data/sf0.01/%s differs from its manifest" % name)


def java_cmd(classes, run_dir, main_args):
    props = {
        "log4j2.configurationFile": os.path.join(HERE, "log4j2.properties"),
        "java.io.tmpdir": os.path.join(run_dir, "tmp"),
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.ui.enabled": "false",
        "spark.sql.session.timeZone": "UTC",
    }
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    opens = [a for p in JDK17_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
    # -XX:-UsePerfData: no hsperfdata file outside the checkout.
    return (["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss8m"] + opens
            + ["-D%s=%s" % kv for kv in props.items()]
            + ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(ROOT), "*"),
               "perfbench.Main", "--bench-dir", HERE] + main_args)


def run_java(cmd, log_path):
    """Runs the JVM; returns (exit code, stdout lines). The JVM is killed on
    timeout or when this script is interrupted or terminated."""
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(min(4, os.cpu_count() or 4))
    env["SPARK_LOCAL_IP"] = "127.0.0.1"
    env.pop("SPARK_GRAFT_SHUFFLE", None)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=log,
                                text=True)
        signal.signal(signal.SIGTERM, lambda *a: sys.exit(143))
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except BaseException:
            proc.kill()
            proc.wait()
            raise
    return proc.returncode, out.splitlines()


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-rows", action="store_true")
    a = ap.parse_args()
    if not a.record_rows and a.workload is None:
        ap.error("--workload is required")

    os.makedirs(OUT, exist_ok=True)
    classes = build.ensure(ROOT, HERE, OUT)
    check_data()
    tag = "record-rows" if a.record_rows else "%s-seed%d-trace%d" % (a.workload, a.seed, a.trace)
    run_dir = os.path.join(OUT, "run", tag)
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("results", "logs"):
        os.makedirs(os.path.join(OUT, d), exist_ok=True)
    result = os.path.join(OUT, "results", tag + ".json")
    log_path = os.path.join(OUT, "logs", tag + ".log")
    main_args = (["--record-rows"] if a.record_rows else
                 ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                  "--trace", str(a.trace), "--out", result])
    try:
        code, lines = run_java(java_cmd(classes, run_dir, main_args), log_path)
    except subprocess.TimeoutExpired:
        sys.exit("perfbench: run exceeded %d s; log in %s" % (RUN_TIMEOUT_S, log_path))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if a.record_rows:
        sys.exit(code)
    last = json.loads(lines[-1]) if code == 0 and lines and lines[-1].startswith("{") else None
    if last is None:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        sys.exit("perfbench: run failed (exit %d); log in %s" % (code, log_path))

    for line in lines[:-1]:
        print(line)
    if a.trace:
        # Tracing overhead: this traced run's wall_s minus the untraced run's
        # of the same workload and seed, when that run is on disk.
        plain = os.path.join(OUT, "results", "%s-seed%d-trace0.json" % (a.workload, a.seed))
        with open(result) as fh:
            traced = json.load(fh)
        if os.path.exists(plain) and traced["end_to_end"]:
            with open(plain) as fh:
                untraced = json.load(fh)["end_to_end"]
            if untraced:
                over = traced["end_to_end"]["wall_s"]["value"] - untraced["wall_s"]["value"]
                traced["tracing_overhead_s"] = over
                with open(result, "w") as fh:
                    json.dump(traced, fh, indent=1)
                print("tracing_overhead_s = %.6g s (traced wall_s minus untraced)" % over)
    print("result: %s" % os.path.relpath(result, ROOT))
    print(json.dumps(last, separators=(", ", ": ")))


if __name__ == "__main__":
    main()
