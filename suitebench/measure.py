"""One benchmark run of one workload in one Spark driver.

Started by ``run.py`` (which owns the time limit and process cleanup);
writes the result object to ``--result``. Run from the checkout root:

    python3 suitebench/measure.py --workload pages_suite --seed 1 \\
        --seconds 10 --trace 0 --work .suitebench_work/pages_suite \\
        --result out.json

Untraced (``--trace 0``): set-up, one cold repetition, then measured
repetitions for ``--seconds`` (at least the workload's ``MIN_REPS``);
reports the end-to-end metrics. Traced (``--trace 1``): the same, then
a second session with the Spark event log on and measured repetitions
for ``--seconds`` more; reports the per-layer metrics of the traced
repetitions, docs/s of the untraced ones, and the tracing overhead
(traced minus untraced ``run_s``).

Metric names and units are read from ``BENCHMARK.json``: a metric
listed there that the run does not produce is an error.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import gen
from layers import CORES, Spans, layer_report, read_event_log
from workloads import WORKLOADS, pinned_state

from data_check_spark.session import get_spark

HERE = os.path.dirname(os.path.abspath(__file__))
SETUP_REPEATS = 3
# stop starting repetitions after this many seconds of the run, so the
# run ends inside run.py's limit
LAST_START_S = 120

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
    _BENCH = json.load(f)
# metric name -> unit, for --trace 0 and --trace 1
END_TO_END = {m["name"]: m["unit"] for m in _BENCH["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _BENCH["per_layer"]}


def session(work: str, event_dir: str | None = None):
    conf = {
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # heap fixed at its maximum: peak RSS then does not depend on
        # when G1 decides to grow the heap
        "spark.driver.extraJavaOptions": "-Xms2g",
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark("suitebench", master=f"local[{CORES}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop the session, then the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM for the JVM")


class Runner:
    """Repetitions of one workload, with the failure count and the
    counters each repetition left."""

    def __init__(self, wl, spans: Spans, t_start: float):
        self.wl = wl
        self.spans = spans
        self.t_start = t_start
        self.next_rep = 0
        self.attempted = 0
        self.failed = 0
        self.counters: dict[int, dict[str, float]] = {}

    def one(self, spark) -> tuple[int, float | None]:
        i = self.next_rep
        self.next_rep += 1
        self.attempted += 1
        try:
            wall, counters, err = self.wl.rep(spark, i, self.spans)
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return i, None
        print(f"repetition {i}: {wall:.2f} s {err or 'ok'}", file=sys.stderr)
        if err:
            self.failed += 1
        counters.update(pinned_state(spark))
        self.counters[i] = counters
        return i, wall

    def phase(
        self, spark, seconds: float, cold: bool = True
    ) -> tuple[float | None, dict[int, float]]:
        """If ``cold``: a cold repetition first. Then measured
        repetitions for ``seconds``, at least the workload's
        ``MIN_REPS``."""
        first = self.one(spark)[1] if cold else None
        warm: dict[int, float] = {}
        t0 = time.perf_counter()
        while time.perf_counter() - self.t_start < LAST_START_S and (
            time.perf_counter() - t0 < seconds or len(warm) < self.wl.MIN_REPS
        ):
            i, wall = self.one(spark)
            if wall is not None:
                warm[i] = wall
        return first, warm


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--result", required=True)
    args = ap.parse_args(argv)
    t_start = time.perf_counter()
    work = args.work
    spans = Spans()

    inputs_dir = os.path.join(work, "inputs")
    gen_s = []
    with spans.span("setup"):
        for _ in range(SETUP_REPEATS):
            shutil.rmtree(inputs_dir, ignore_errors=True)
            t = time.perf_counter()
            inputs = gen.generate(args.workload, args.seed, inputs_dir)
            gen_s.append(time.perf_counter() - t)
    t = time.perf_counter()
    with spans.span("get_spark"):
        spark = session(work)
    session_s = time.perf_counter() - t
    wl = WORKLOADS[args.workload](inputs, work)
    wl.bind(spark)
    runner = Runner(wl, spans, t_start)
    first, warm = runner.phase(spark, args.seconds)
    if first is None or not warm:
        print("no timed repetition completed", file=sys.stderr)
        return 1
    run_s = statistics.median(warm.values())

    if not args.trace:
        metrics = {
            "setup_s": statistics.median(gen_s) + session_s,
            "first_run_s": first,
            "run_s": run_s,
            "jvm_peak_rss_mb": jvm_peak_rss_mb(spark),
        }
        t = time.perf_counter()
        runner.failed += wl.final_gate(spark)
        print(f"final gate: {time.perf_counter() - t:.2f} s", file=sys.stderr)
        shutdown(spark)
        units = END_TO_END
    else:
        spark.stop()
        event_dir = os.path.join(work, "eventlog")
        shutil.rmtree(event_dir, ignore_errors=True)
        with spans.span("get_spark"):
            spark = session(work, event_dir)
        wl.bind(spark)
        # the JVM is warm already: no second cold repetition
        _, traced = runner.phase(spark, args.seconds, cold=False)
        if not traced:
            print("no traced repetition completed", file=sys.stderr)
            return 1
        runner.failed += wl.final_gate(spark)
        shutdown(spark)
        spans.dump(os.path.join(work, "spans.json"))
        [log_file] = os.listdir(event_dir)
        log = read_event_log(os.path.join(event_dir, log_file))
        metrics = layer_report(log, spans.items, sorted(traced), runner.counters)
        metrics["docs_per_s"] = inputs["rows"] / run_s
        metrics["trace.overhead_s"] = statistics.median(traced.values()) - run_s
        units = PER_LAYER

    result = {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    with open(args.result, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
