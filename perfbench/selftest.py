#!/usr/bin/env python3
"""Tests of the benchmark's checkers and generators (perfbench.SelfTest).

    python3 perfbench/selftest.py        # from the repository root
"""
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402

if __name__ == "__main__":
    cp = build.build()
    tmp = os.path.join(build.build_dir(), "selftest-tmp")
    os.makedirs(tmp, exist_ok=True)
    sys.exit(subprocess.run(run.jvm_flags(tmp) + ["-cp", cp, "perfbench.SelfTest"],
                            cwd=tmp).returncode)
