"""Suite-level benchmark of data_check_spark.

Run from the root of a checkout:

    python3 suitebench/run.py --workload text_gates --seed 1 --seconds 10 --trace 0

Workloads: ``resume_audit``, ``text_gates`` (listed in
``BENCHMARK.json``) and ``pages_suite``; ``README.md`` says why each
exists. The run itself happens in one child process (``measure.py``,
one Spark driver on ``local[4]``); this process starts it in its own
process group, enforces the time limit, stops whatever the child left
running, and prints the result object as the last line of standard
output. Everything the run writes goes under ``.suitebench_work/`` in
the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORK_DIR = ".suitebench_work"
LIMIT_S = 170


def _group_alive(pgid: int) -> bool:
    """Any non-zombie process left in process group ``pgid``?"""
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[0] != "Z" and int(fields[2]) == pgid:
            return True
    return False


def _stop_group(pgid: int) -> None:
    """Terminate, then kill, whatever is left in the group; wait until
    it is gone."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        if not _group_alive(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + grace
        while _group_alive(pgid) and time.monotonic() < deadline:
            time.sleep(0.1)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "data_check_spark", "__init__.py")):
        print("run from the root of a data_check_spark checkout", file=sys.stderr)
        return 2
    work = os.path.join(root, WORK_DIR, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    result_path = os.path.join(work, "result.json")
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join([root, HERE]),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        # every JVM, the spark-submit launcher's too: temp files in the
        # checkout, no /tmp/hsperfdata
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    )
    cmd = [
        sys.executable,
        os.path.join(HERE, "measure.py"),
        "--workload", args.workload,
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--trace", str(args.trace),
        "--work", work,
        "--result", result_path,
    ]
    # the child's own output (Spark's log, tracebacks) goes to stderr:
    # stdout carries only the result line
    proc = subprocess.Popen(
        cmd, cwd=root, env=env, stdout=sys.stderr, start_new_session=True
    )
    # a SIGTERM to this process still stops the child's process group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    try:
        rc = proc.wait(timeout=LIMIT_S)
    except subprocess.TimeoutExpired:
        print(f"run exceeded {LIMIT_S} s", file=sys.stderr)
        rc = None
    finally:
        _stop_group(proc.pid)
        proc.wait()
    if rc != 0 or not os.path.isfile(result_path):
        return 1
    with open(result_path) as f:
        result = json.load(f)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
