#!/usr/bin/env python3
"""Runs the benchmark's own tests (perfbench/test/SelfTest.scala):

    python3 perfbench/selftest.py

Checks the highest-supported-percentile maths, that the digest gate rejects
a state with one batch dropped or one delete resurrected, and that the
open-loop generator times from the due time. Exits non-zero on a failure.
"""
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
import build  # noqa: E402
import run  # noqa: E402

if __name__ == "__main__":
    try:
        classes = build.build()
        jars = build.spark_jars()
    except build.BuildError as e:
        run.fail(f"build failed: {e}")
    work = build.ROOT / ".bench_build" / "work" / "selftest"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    try:
        code = subprocess.call(run.java_command(classes, jars, work, "perfbench.SelfTest", []))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)
