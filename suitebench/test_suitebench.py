"""Tests of the benchmark's own parts: the seeded generator and the
event-log reader. Run from the checkout root:

    python3 -m pytest suitebench/test_suitebench.py -q
"""

from __future__ import annotations

import collections
import hashlib
import json
import os
import sys

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402
import layers  # noqa: E402
import workloads  # noqa: E402


def _digest(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.mark.parametrize("workload", ["resume_audit", "text_gates"])
def test_same_seed_same_bytes(tmp_path, workload):
    a = gen.generate(workload, 7, str(tmp_path / "a"))
    b = gen.generate(workload, 7, str(tmp_path / "b"))
    c = gen.generate(workload, 8, str(tmp_path / "c"))
    assert a["truth"] == b["truth"]
    da, db = _digest(str(tmp_path / "a")), _digest(str(tmp_path / "b"))
    assert da and da == db
    assert _digest(str(tmp_path / "c")) != da


def test_truth_counts_what_was_written(tmp_path):
    info = gen.generate("resume_audit", 3, str(tmp_path))
    table = pq.read_table(info["full"])
    assert table.num_rows == info["rows"]
    days = pc.strftime(table["warc_ts"], format="%Y-%m-%d").to_pylist()
    urls = table["url"].to_pylist()
    per_day = collections.defaultdict(list)
    for i, d in enumerate(days):
        per_day[d].append(i)
    truth = {t["day"]: t for t in info["truth"]}
    assert sorted(per_day) == sorted(truth)
    text, lang = table["text"].to_pylist(), table["lang"].to_pylist()
    for day, rows in per_day.items():
        t = truth[day]
        counts = collections.Counter(urls[i] for i in rows)
        assert len(rows) == t["rows"]
        assert sum(n > 1 for n in counts.values()) == t["dup_urls"]
        assert max(counts.values()) == 2
        domains = [urls[i].split("/")[2] for i in rows]
        unknown = [
            d for d in domains
            if d.startswith("site-") and int(d[5:].split(".")[0]) % 10 == 4
        ]
        assert len(unknown) == t["unknown_domain_rows"]
        assert sum(text[i] is None for i in rows) == t["null_text"]
        assert sum(lang[i] is None for i in rows) == t["null_lang"]
    half = pq.read_table(info["half"])
    assert half.num_rows == info["rows"] - info["pending_rows"]


def test_event_log_reader_on_a_tiny_run(tmp_path):
    """One traced repetition of a tiny job mix: a parquet scan with a
    shuffle, a pandas UDF, and a DataFrame built from a Python list."""
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    events = tmp_path / "events"
    events.mkdir()
    pq.write_table(pa.table({"k": list(range(1000))}), str(tmp_path / "t.parquet"))
    spark = (
        SparkSession.builder.master("local[2]")
        .appName("suitebench-test")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "1g")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", "file://" + str(events))
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .getOrCreate()
    )
    spans = layers.Spans()
    try:
        spark.range(1).count()  # outside any span: not attributed
        with spans.span("rep", rep=0):
            with spans.span("run", rep=0):
                df = spark.read.parquet(str(tmp_path / "t.parquet"))
                n_groups = df.groupBy(F.col("k") % 7).count().count()

            @F.pandas_udf("long")
            def plus_one(s: pd.Series) -> pd.Series:
                return s + 1

            with spans.span("force:udf", rep=0):
                total = df.select(plus_one("k").alias("v")).agg(F.sum("v")).first()[0]
                listed = spark.createDataFrame([(i,) for i in range(10)], "x long").count()
        counters = workloads.pinned_state(spark)
    finally:
        spark.stop()
    assert (n_groups, total, listed) == (7, sum(range(1, 1001)), 10)
    [name] = os.listdir(events)
    log = layers.read_event_log(str(events / name))
    m = layers.rep_metrics(log, spans.items, 0, counters)
    assert m["sources.input_rows"] == 2000  # two scans of the file
    assert m["operators.shuffle_write_bytes"] > 0
    assert m["operators.shuffle_read_bytes"] > 0
    assert m["python.rows_returned"] == 1000
    assert m["python.bytes_sent"] > 0
    assert 0 < m["python.udf_s"] <= m["operators.exec_run_s"]
    assert m["python.rdd_tasks"] > 0
    assert m["plans.suite.jobs"] >= 3
    assert m["plans.suite.stages"] >= 3
    assert m["plans.suite.call_s"] > 0 and m["plans.suite.force_s"] > 0
    assert 0 < m["plans.suite.core_busy_frac"] <= 1
    assert m["plans.audit.write_s"] == 0
    # every job but the unspanned count lies inside the repetition
    assert m["plans.suite.jobs"] == len(log.jobs) - 1
    # every per-layer metric BENCHMARK.json lists is produced: by the
    # reader, or by measure.py from the untraced part of the run
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        listed_metrics = {x["name"] for x in json.load(f)["per_layer"]}
    assert listed_metrics - set(m) == {"docs_per_s", "trace.overhead_s"}


def test_covered_merges_and_clips():
    got = layers._covered([(0, 2), (1, 3), (5, 6), (9, 12)], 0.5, 10)
    assert got == pytest.approx(2.5 + 1 + 1)
