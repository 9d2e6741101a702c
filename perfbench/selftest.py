#!/usr/bin/env python3
"""Self-test of the graft benchmark, run from the root of a checkout:

    python3 perfbench/selftest.py

Runs the statistics unit tests, builds graft and the harness, then runs
graftbench.SelfTest: generator determinism, output checks that reject
a wrong answer, and failure counting in the closed loop."""

import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402


def main():
    tests = unittest.defaultTestLoader.discover(HERE, pattern="test_*.py")
    if not unittest.TextTestRunner(verbosity=1).run(tests).wasSuccessful():
        sys.exit(1)
    out_dir = os.path.join(os.getcwd(), ".bench_build", "graftbench")
    os.makedirs(out_dir, exist_ok=True)
    classes = run.build(os.getcwd(), out_dir)
    work = os.path.join(out_dir, "selftest")
    cmd = (["java", "-Xmx2g", f"-Djava.io.tmpdir={out_dir}"] + run.jvm_opens()
           + ["-cp", run.classpath(classes), "graftbench.SelfTest", "--work", work])
    sys.exit(subprocess.run(cmd, stderr=subprocess.DEVNULL).returncode)


if __name__ == "__main__":
    main()
