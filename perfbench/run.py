#!/usr/bin/env python3
"""Runs one workload of the CDC engine's benchmark and prints its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the engine and the benchmark from
source on first use (see build.py), starts one JVM with Spark at local[k]
(k = min(4, cores)), and prints the benchmark's own lines followed, as the
last line, by one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are BENCHMARK.json's end_to_end list, with
--trace 1 its per_layer list. Everything the run writes stays under
.bench_build/ in the checkout and the run's work directory is removed at exit.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = build.ROOT
TIMEOUT_S = 170
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


def java_command(classes: Path, jars: Path, work: Path, main: str, args: list) -> list:
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ["java", "-Xms3g", "-Xmx3g", "-XX:+UseG1GC", "-XX:Tier3InvocationThreshold=100", "-XX:Tier4InvocationThreshold=1000", "-XX:Tier4CompileThreshold=2000", "-XX:-UsePerfData", *opens,
            f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dlog4j2.configurationFile={build.BENCH / 'log4j2.properties'}",
            "-Dspark.ui.enabled=false",
            "-cp", f"{classes}{os.pathsep}{jars / '*'}", main, *args]


def run_jvm(cmd: list) -> tuple:
    """Run the JVM in its own process group; return (exit code, stdout lines)."""
    # Spark would prefer SPARK_LOCAL_DIRS over spark.local.dir, which keeps
    # shuffle files inside the run's work directory
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                         start_new_session=True, env=env)
    try:
        out, _ = p.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -1, []
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    return p.returncode, out.splitlines()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec_path = ROOT / "BENCHMARK.json"
    if not spec_path.is_file():
        fail("BENCHMARK.json not found at the checkout root")
    spec = json.loads(spec_path.read_text())
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload!r}")
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    units = {m["name"]: m["unit"] for m in wanted}

    try:
        classes = build.build()
        jars = build.spark_jars()
    except build.BuildError as e:
        fail(f"build failed: {e}")

    cores = max(1, min(4, (os.cpu_count() or 2) - 1))
    work = ROOT / ".bench_build" / "work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    spans = ROOT / ".bench_build" / "spans" / f"{a.workload}-{a.seed}.jsonl"
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(cores), "--work", str(work)]
    if a.trace:
        args += ["--spans", str(spans)]
    try:
        code, lines = run_jvm(java_command(classes, jars, work, "perfbench.Main", args))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not lines:
        fail(f"benchmark JVM exited with {code}" + (" (timeout)" if code == -1 else ""), 3)
    try:
        res = json.loads(lines[-1])
    except json.JSONDecodeError:
        fail("benchmark JVM printed no result line", 3)
    got = res["metrics"]
    extra = sorted(set(got) - set(units))
    missing = sorted(set(units) - set(got))
    if extra or (missing and not a.trace):
        fail(f"metric set differs from BENCHMARK.json: missing {missing}, extra {extra}", 3)
    # a layer the workload does not run reads 0 in the traced result
    got = {**{k: 0.0 for k in missing}, **got}
    for line in lines[:-1]:
        print(line)
    out = {"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
           "failed": int(res["failed"]),
           "metrics": {k: {"value": float(got[k]), "unit": units[k]} for k in sorted(units)}}
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
