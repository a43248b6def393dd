"""Benchmark command for the injector and the batch query library.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds the program and the benchmark
(perfbench/build.py), runs one measurement JVM, and prints as its last line
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are BENCHMARK.json's end_to_end metrics; with
--trace 1 its per_layer metrics. Every run also writes its full result
(and, traced, its spans) to .bench_build/perfbench/results/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

HERE = os.path.relpath(os.path.dirname(os.path.abspath(__file__)))
JVM_LIMIT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        sys.exit(f"unknown workload {a.workload}")
    wanted = spec["per_layer" if a.trace else "end_to_end"]

    proc = None

    def stop(signum, _frame):
        build.stop_child()
        if proc is not None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)
    out = build.OUT
    work = os.path.join(out, "work", f"{a.workload}-{os.getpid()}")
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)

    try:
        classes = build.build()
    except build.BuildError as e:
        sys.exit(f"build failed: {e}")

    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = [build.java(), "-Xms3g", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData",
           "-Dsun.net.httpserver.nodelay=true",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([classes,
                                    os.path.join(build.spark_jars(), "*")]),
            "perfbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work,
            "--data", os.path.join(out, "basket-data"),
            "--expected", os.path.join(HERE, "basket_expected.json"),
            "--results", os.path.join(out, "results"),
            "--limit", str(JVM_LIMIT_S)]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE,
                            start_new_session=True)
    try:
        stdout, _ = proc.communicate(timeout=JVM_LIMIT_S + 5)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit("benchmark JVM timed out")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = stdout.decode(errors="replace").splitlines()
    result = [l for l in lines if l.startswith("PERFBENCH ")]
    if proc.returncode != 0 or not result:
        sys.exit(f"benchmark JVM failed with code {proc.returncode}")
    full = json.loads(result[-1][len("PERFBENCH "):])
    measured = full["per_layer" if a.trace else "end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in measured]
    if missing:
        sys.exit(f"metrics not measured: {missing}")
    for l in lines:
        if not l.startswith("PERFBENCH "):
            print(l)
    print(json.dumps({
        "correct": bool(full["correct"]),
        "attempted": int(full["attempted"]),
        "failed": int(full["failed"]),
        "metrics": {m["name"]: measured[m["name"]] for m in wanted},
    }))


if __name__ == "__main__":
    main()
