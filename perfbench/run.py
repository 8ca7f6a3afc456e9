"""Runs one benchmark workload from the root of a checkout.

    python3 perfbench/run.py --workload steady_delta --seed 1 --seconds 15 --trace 0

Builds the library and the benchmark if needed (perfbench/build.py), runs
the workload in one JVM on local[min(nproc, 4)], relays its record lines and
prints the result object as the last line of standard output. With
--trace 0 the result holds every end-to-end metric of BENCHMARK.json, with
--trace 1 every per-layer metric. Exits non-zero, without a result, when the
build fails, the JVM fails or hangs, or the result does not match
BENCHMARK.json; exits 1 with a result when a correctness check failed.
All files go under .bench_build/ in the checkout; the JVM's working files
are removed when it ends.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = build.ROOT
RUN_BUDGET_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg: str, code: int = 2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec_file = ROOT / "BENCHMARK.json"
    if not spec_file.is_file():
        fail("BENCHMARK.json not found at the checkout root")
    spec = json.loads(spec_file.read_text())
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {a.workload}")
    want = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]

    try:
        classes = build.build()
        jars = build.spark_jars()
        java = build.java()
    except build.BuildError as e:
        fail(f"build failed: {e}")

    out = build.OUT
    work = out / "work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    logs = out / "logs"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    logs.mkdir(parents=True, exist_ok=True)
    log = logs / f"{a.workload}-{a.seed}-{a.trace}.log"

    cmd = [java, "-Xmx3g", "-Xss8m", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dlog4j2.configurationFile={ROOT / 'perfbench' / 'log4j2.properties'}",
            "-cp", f"{classes}{os.pathsep}{jars / '*'}", "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", str(work)]
    started = time.monotonic()
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err, text=True)

        def stop(*_):
            proc.kill()
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)

        def on_signal(signum, _frame):
            stop()
            fail(f"stopped by signal {signum}", 5)

        signal.signal(signal.SIGTERM, on_signal)
        signal.signal(signal.SIGINT, on_signal)
        try:
            stdout, _ = proc.communicate(timeout=RUN_BUDGET_S)
        except subprocess.TimeoutExpired:
            stop()
            fail(f"workload did not finish within {RUN_BUDGET_S} s (log: {log})", 3)
    shutil.rmtree(work, ignore_errors=True)
    wall = time.monotonic() - started

    lines = [l for l in stdout.splitlines() if l.strip()]
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except json.JSONDecodeError:
            result = None
    if not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}:
        tail = log.read_text()[-3000:] if log.exists() else ""
        fail(f"no result from the workload (exit {proc.returncode}, log: {log})\n{tail}", 4)
    if list(result["metrics"]) != want:
        fail(f"metric names differ from BENCHMARK.json: {sorted(set(want) ^ set(result['metrics']))}", 4)
    for line in lines[:-1]:
        print(line)
    print(json.dumps({"run_wall_s": wall}))
    print(json.dumps(result))
    sys.stdout.flush()
    if proc.returncode != 0 and result["correct"]:
        fail(f"workload exited {proc.returncode} (log: {log})", 4)
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
