"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload window_rocksdb --seed 1 --seconds 5 --trace 0

The last line of standard output is one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
The first run in a checkout compiles the library and the benchmark.
"""
import os
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

# a run must end well inside three minutes; the JVM is stopped before that
TIMEOUT_S = 170


def main():
    cmd = build.java_cmd("graftbench.Main", sys.argv[1:])
    # the JVM runs in its own process group, so stopping the group stops
    # everything it started
    p = subprocess.Popen(cmd, cwd=build.ROOT, start_new_session=True)
    try:
        code = p.wait(timeout=TIMEOUT_S)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        sys.exit("run: benchmark stopped before it finished")
    sys.exit(code)


if __name__ == "__main__":
    main()
