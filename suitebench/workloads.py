"""The three workloads, driven through the library's public functions.

Each workload object binds its generated inputs to a session
(``bind``), runs one repetition (``rep``) under spans and checks that
repetition's outputs (the correctness gate). ``rep`` returns the
seconds the repetition took, a dict of per-repetition counters, and
the gate's complaint or None; it raises when the library call itself
fails. ``final_gate`` runs the checks that need every repetition and
returns how many repetitions failed them.
"""

from __future__ import annotations

import contextlib
import io
import math
import os
import shutil
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from data_check_spark import runner
from data_check_spark.plans.manifest import Manifest
from data_check_spark.plans.suite import (
    CheckSuite,
    KSDigestDriftCheck,
    LineDupCheck,
    LMCheck,
    ReferentialCheck,
    RepetitionCheck,
    SchemaCheck,
)
from data_check_spark.sources.synth import domain_of, synth_domains

from layers import Spans

VERDICT_COLS = ["partition", "column", "check", "metric", "threshold", "passed"]


class GateError(Exception):
    """A library call returned what no correct run returns."""


def _rows(df) -> list[tuple]:
    return sorted(
        (tuple(r) for r in df.select(*VERDICT_COLS).collect()),
        key=lambda t: tuple("" if x is None else str(x) for x in t),
    )


def _same_rows(a: list[tuple], b: list[tuple]) -> bool:
    """Equal verdict rows; metrics compared to 1e-9 relative."""
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        if ra[:3] != rb[:3] or ra[4:] != rb[4:]:
            return False
        ma, mb = ra[3], rb[3]
        if (ma is None) != (mb is None):
            return False
        if ma is not None and not math.isclose(ma, mb, rel_tol=1e-9, abs_tol=1e-12):
            return False
    return True


def pinned_state(spark: SparkSession) -> dict[str, float]:
    """Session state left behind: persistent RDDs, their stored bytes,
    and JVM heap in use (read through the JVM gateway)."""
    jsc = spark.sparkContext._jsc
    infos = jsc.sc().getRDDStorageInfo()
    rt = spark._jvm.java.lang.Runtime.getRuntime()
    return {
        "session.pinned_rdds_after": float(jsc.getPersistentRDDs().size()),
        "session.pinned_bytes_after": float(
            sum(i.memSize() + i.diskSize() for i in infos)
        ),
        "session.heap_used_mb_after": (rt.totalMemory() - rt.freeMemory()) / 2**20,
    }


def _tree_bytes(path: str) -> tuple[int, int]:
    n = size = 0
    for d, _, files in os.walk(path):
        for f in files:
            n += 1
            size += os.path.getsize(os.path.join(d, f))
    return n, size


def _with_day(df):
    return df.withColumn("warc_day", F.to_date("warc_ts"))


class PagesSuite:
    """``runner.default_pages_suite(with_drift=True)`` through
    ``CheckSuite.run``; forces the verdicts and every violation frame,
    then ``SuiteResult.unpersist()``."""

    MIN_REPS = 2

    def __init__(self, inputs: dict, work: str):
        self.inputs = inputs
        self.truth = inputs["truth"]
        self.suite = runner.default_pages_suite(with_drift=True)
        self.first: tuple | None = None

    def bind(self, spark: SparkSession) -> None:
        self.df = _with_day(spark.read.parquet(self.inputs["data"]))
        self.ref = _with_day(spark.read.parquet(self.inputs["reference"]))

    def rep(
        self, spark: SparkSession, i: int, spans: Spans
    ) -> tuple[float, dict, str | None]:
        t0 = time.perf_counter()
        with spans.span("rep", rep=i):
            with spans.span("run", rep=i):
                res = self.suite.run(spark, self.df, "warc_day", reference_df=self.ref)
            with spans.span("force:verdicts", rep=i):
                verdicts = _rows(res.verdicts)
            viol = {}
            for name, frame in sorted(res.violations.items()):
                with spans.span(f"force:{name}", rep=i):
                    viol[name] = frame.collect()
            with spans.span("unpersist", rep=i):
                res.unpersist()
        wall = time.perf_counter() - t0
        return wall, {}, self._gate(verdicts, viol)

    def _gate(self, verdicts: list[tuple], viol: dict) -> str | None:
        got = {(p, c, k): m for p, c, k, m, _, _ in verdicts}
        for t in self.truth:
            d, n = t["day"], t["rows"]
            want = {
                (d, "text", "min_rows"): n,
                (d, "url", "unique"): t["dup_urls"],
                (d, "domain_in_snapshot", "refint"): t["unknown_domain_rows"],
                (d, "text", "max_null_rate"): t["null_text"] / n,
                (d, "lang", "max_null_rate"): t["null_lang"] / n,
                (d, "url", "max_null_rate"): 0.0,
            }
            for key, w in want.items():
                m = got.get(key)
                if m is None or not math.isclose(m, w, rel_tol=1e-9, abs_tol=1e-12):
                    return f"{key}: metric {m}, planted {w}"
        n_dup = sum(t["dup_urls"] for t in self.truth)
        n_unknown = sum(t["unknown_domain_rows"] for t in self.truth)
        if len(viol.get("unique:url", [])) != n_dup:
            return "unique:url violation rows differ from planted"
        if sum(r["n"] for r in viol.get("refint:domain_in_snapshot", [])) != n_unknown:
            return "refint violation rows differ from planted"
        counts = {k: len(v) for k, v in viol.items()}
        if self.first is None:
            self.first = (verdicts, counts)
        elif not _same_rows(verdicts, self.first[0]) or counts != self.first[1]:
            return "repetition disagrees with the first repetition"
        return None

    def final_gate(self, spark: SparkSession) -> int:
        return 0


class TextGates:
    """Five text checks through ``CheckSuite.run``: t-digest KS drift,
    bloom referential probe, line-dup mass, bigram-LM band and Gopher
    repetition; forces the verdicts, then ``SuiteResult.unpersist()``."""

    # the first warm repetition is still JIT-warming: a median over two
    # halves its weight
    MIN_REPS = 2

    def __init__(self, inputs: dict, work: str):
        self.inputs = inputs
        self.truth = {t["day"]: t for t in inputs["truth"]}
        self.suite = CheckSuite(
            [
                KSDigestDriftCheck(
                    name="text_length", expr=lambda: F.length("text"), max_ks=0.2
                ),
                ReferentialCheck(
                    name="domain_bloom",
                    fact_key=lambda: domain_of(F.col("url")),
                    dim=synth_domains,
                    dim_key="domain",
                    mode="bloom",
                ),
                LineDupCheck(text_col="text", id_col="url", max_dup_line_frac=0.5),
                LMCheck(text_col="text", id_col="url"),
                RepetitionCheck(
                    text_col="text",
                    max_mean_dup_2gram=0.2,
                    id_col="url",
                    doc_dup_2gram_limit=0.5,
                ),
            ]
        )
        self.first: list[tuple] | None = None

    def bind(self, spark: SparkSession) -> None:
        self.df = _with_day(spark.read.parquet(self.inputs["data"]))
        self.ref = _with_day(spark.read.parquet(self.inputs["reference"]))

    def rep(
        self, spark: SparkSession, i: int, spans: Spans
    ) -> tuple[float, dict, str | None]:
        t0 = time.perf_counter()
        with spans.span("rep", rep=i):
            with spans.span("run", rep=i):
                res = self.suite.run(spark, self.df, "warc_day", reference_df=self.ref)
            with spans.span("force:verdicts", rep=i):
                verdicts = _rows(res.verdicts)
            with spans.span("unpersist", rep=i):
                res.unpersist()
        wall = time.perf_counter() - t0
        return wall, {}, self._gate(verdicts)

    def _gate(self, verdicts: list[tuple]) -> str | None:
        if self.first is None:
            # a bloom FAIL is certain: it never counts more violating
            # rows than were planted (it may miss an fpp share)
            for p, _, k, m, _, _ in verdicts:
                if k == "refint" and not 0 < m <= self.truth[p]["unknown_domain_rows"]:
                    return f"bloom refint {p}: {m} rows"
            self.first = verdicts
        elif not _same_rows(verdicts, self.first):
            return "verdict rows differ from the cold repetition"
        return None

    def final_gate(self, spark: SparkSession) -> int:
        return 0


class ResumeAudit:
    """``runner.main`` twice on a fresh ``--out``: installment 1 reads
    the first half of the warc days, installment 2 the full table, so
    only the new days are pending. The audit verdicts of both must
    equal one uninterrupted run over the full table."""

    FLAGS = ["--drift-from-audit", "--schema-from-audit"]
    # a repetition takes ~20 s warm: one is what the benchmark's time
    # budget leaves after the cold one and the uninterrupted reference
    MIN_REPS = 1

    def __init__(self, inputs: dict, work: str):
        self.inputs = inputs
        self.root = os.path.join(work, "resume_out")
        self.reps: list[list[tuple]] = []

    def bind(self, spark: SparkSession) -> None:
        pass

    def _main(self, data: str, out: str) -> None:
        with contextlib.redirect_stdout(io.StringIO()):
            rc = runner.main(["--data", data, "--out", out, *self.FLAGS])
        if rc not in (0, 1):
            raise GateError(f"runner.main returned {rc}")

    def rep(
        self, spark: SparkSession, i: int, spans: Spans
    ) -> tuple[float, dict, str | None]:
        out = os.path.join(self.root, f"rep{i}")
        shutil.rmtree(out, ignore_errors=True)
        t0 = time.perf_counter()
        with spans.span("rep", rep=i):
            with spans.span("main:1", rep=i):
                self._main(self.inputs["half"], out)
            done_1 = len(Manifest(f"{out}/manifest").completed())
            with spans.span("main:2", rep=i):
                self._main(self.inputs["full"], out)
        wall = time.perf_counter() - t0
        pending = len(Manifest(f"{out}/manifest").completed()) - done_1
        files, size = _tree_bytes(out)
        self.reps.append(_rows(spark.read.parquet(f"{out}/audit/verdicts")))
        shutil.rmtree(out, ignore_errors=True)
        err = None
        if pending != self.inputs["days_added"]:
            err = f"{pending} days pending, {self.inputs['days_added']} added"
        return wall, {
            "plans.audit.bytes_written": float(size),
            "plans.audit.files_written": float(files),
            "plans.manifest.pending": float(pending),
            "pending_rows": float(self.inputs["pending_rows"]),
        }, err

    def uninterrupted(self, spark: SparkSession) -> list[tuple]:
        """The verdicts one run over the full table gives, against the
        baseline installment 1 stores: the half table's drift profile
        and schema."""
        half = _with_day(spark.read.parquet(self.inputs["half"]))
        full = _with_day(spark.read.parquet(self.inputs["full"]))
        pages = runner.default_pages_suite(with_drift=True)
        profile = pages.drift_profile_of(half)
        schema = {f.name: f.dataType.simpleString() for f in half.schema.fields}
        suite = CheckSuite([SchemaCheck(expected=schema, exact=True)] + pages.checks)
        manifest_dir = os.path.join(self.root, "uninterrupted_manifest")
        shutil.rmtree(manifest_dir, ignore_errors=True)
        res = suite.run_resumable(
            spark, full, "warc_day", Manifest(manifest_dir), reference_profile=profile
        )
        rows = _rows(res.verdicts)
        res.unpersist()
        shutil.rmtree(manifest_dir, ignore_errors=True)
        return rows

    def final_gate(self, spark: SparkSession) -> int:
        """Compare every repetition with the uninterrupted run; return
        the number of repetitions that disagree."""
        if not self.reps:
            return 0
        expected = self.uninterrupted(spark)
        return sum(not _same_rows(r, expected) for r in self.reps)


WORKLOADS = {
    "pages_suite": PagesSuite,
    "resume_audit": ResumeAudit,
    "text_gates": TextGates,
}
