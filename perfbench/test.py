"""The benchmark's own tests (no Spark session needed):

    python3 perfbench/test.py
"""
import os
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

if __name__ == "__main__":
    sys.exit(subprocess.run(build.java_cmd("graftbench.SelfTest", [], heap="1g"),
                            cwd=build.ROOT).returncode)
