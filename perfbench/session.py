"""Spark side of the benchmark: one SparkSession driving the extraction
job the way ``submit_job.py`` does, timed only from outside the
engine's public functions.

perfbench/run.py starts this file as a child process and reads its
standard output.  The child prints ``READY`` once
``engine.session.build_session`` has returned and one trivial action
has finished; that ends the set-up clock the parent started with the
process.  It then runs the cold job, the warm-up job and the timed jobs
(checking every committed document against the oracle), and with
``--trace 1`` the traced jobs and the cumulative per-layer plans.  It
prints ``DONE`` once the JSON result file is written.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import time

import pyarrow as pa
import pyarrow.parquet as pq

from procmem import ProcSampler
from tracing import Tracer
from verify import check_store, table_bytes

RUN_ID = "perfbench"
BUCKETS = 4096          # submit_job.py's --buckets default
WARMUP_JOBS = 1         # job 2 of a session still runs ~45% slow
MIN_TIMED_JOBS = 3
TRACED_JOBS = 2


def _identity(batches):
    """The JVM<->Arrow crossing with no UDF body."""
    yield from batches


def _timed_kernel(batches):
    """The kernel UDF body, timed in the worker; the weighted
    repartition puts bin k in partition k."""
    from pyspark import TaskContext

    from ai_pdf_ocr_spark.kernel.extract import extract_record_batch
    secs, docs = 0.0, 0
    for rb in batches:
        if rb.num_rows:
            t = time.perf_counter()
            extract_record_batch(rb)
            secs += time.perf_counter() - t
            docs += rb.num_rows
    yield pa.RecordBatch.from_pydict(
        {"bin": [TaskContext.get().partitionId()], "kernel_s": [secs],
         "docs": [docs]},
        schema=pa.schema([("bin", pa.int32()), ("kernel_s", pa.float64()),
                          ("docs", pa.int64())]))


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(fn) -> float:
    t = time.perf_counter()
    fn()
    return time.perf_counter() - t


class Bench:
    def __init__(self, spark, args):
        self.spark = spark
        self.args = args
        self.p = 2 * spark.sparkContext.defaultParallelism
        self.input = os.path.join(args.corpus, "input")
        self.expected = pq.read_table(
            os.path.join(args.corpus, "expected.parquet"))
        with open(os.path.join(args.corpus, "meta.json")) as f:
            self.meta = json.load(f)
        self.tracer = Tracer(bool(args.trace))
        self.jobs: list[dict] = []
        self.groups: list[str] = []

    # ---- jobs ----------------------------------------------------------

    def _group(self, name: str) -> None:
        self.groups.append(name)
        self.spark.sparkContext.setJobGroup(name, name)

    def job(self, phase: str) -> dict:
        """One run_extraction into a fresh TableStore, timed from the
        read_documents call to its return (lineage committed), then
        checked against the oracle."""
        from ai_pdf_ocr_spark.engine.checkpoint import run_extraction
        from ai_pdf_ocr_spark.engine.io import TableStore
        from ai_pdf_ocr_spark.engine.sources import read_documents
        k = len(self.jobs)
        store = os.path.join(self.args.work, f"job-{k}")
        self._group(f"job-{k}")
        with self.tracer.span(f"job.{phase}"):
            t0 = time.perf_counter()
            docs = read_documents(self.spark, self.input)
            summary = run_extraction(
                self.spark, docs, TableStore(self.spark, store), RUN_ID,
                self.p, buckets=BUCKETS)
            wall = time.perf_counter() - t0
        extracted = os.path.join(store, "documents_extracted")
        lineage = pq.read_table(
            os.path.join(store, "checkpoint"),
            columns=["span_count_in"]).column(0).to_pylist()
        rec = {"phase": phase, "wall_s": wall,
               "docs": summary["docs_processed"], "spans": sum(lineage),
               "attempted": self.meta["docs"],
               **check_store(extracted, self.expected),
               "out_bytes": table_bytes(extracted),
               "lineage_rows": len(lineage),
               "weight_skew": max(lineage) / statistics.mean(lineage)}
        shutil.rmtree(store)
        self.jobs.append(rec)
        return rec

    # ---- per-layer plans (--trace 1) -----------------------------------

    def plans(self) -> dict:
        """Cumulative plans, each the previous one plus one layer, in
        the order run_extraction composes them; differences give each
        layer's cost."""
        from ai_pdf_ocr_spark.engine.io import TableStore
        from ai_pdf_ocr_spark.engine.partitioning import (
            assign_bins, compute_assignment, mapping_df, with_bin)
        from ai_pdf_ocr_spark.engine.pipeline import extract_documents
        from ai_pdf_ocr_spark.engine.sources import read_documents

        spark, p = self.spark, self.p
        self._group("plans")
        docs = read_documents(spark, self.input)
        out = {}
        with self.tracer.span("plan.scan"):
            t_scan = _timed(lambda: _noop(docs))
        with self.tracer.span("plan.weights"):
            t0 = time.perf_counter()
            assignment = compute_assignment(docs, p, BUCKETS)
            t_weights = time.perf_counter() - t0
        binned = assign_bins(docs, p, BUCKETS, assignment=assignment)
        part = binned.repartition(p, "rep").sortWithinPartitions("doc_id")
        with self.tracer.span("plan.exchange"):
            t_exchange = _timed(lambda: _noop(part))
        pair = part.select("doc_id", "spans")
        with self.tracer.span("plan.arrow_boundary"):
            t_boundary = _timed(lambda: _noop(
                pair.mapInArrow(_identity, schema=pair.schema)))
        with self.tracer.span("plan.kernel"):
            t_kernel = _timed(lambda: _noop(extract_documents(part)))
        sink = os.path.join(self.args.work, "sink")
        with self.tracer.span("plan.sink"):
            t_sink = _timed(lambda: TableStore(spark, sink).write_extracted(
                with_bin(extract_documents(part),
                         mapping_df(spark, assignment, p),
                         BUCKETS).drop("rep"),
                mode="overwrite"))
        out["io.sink_bytes"] = table_bytes(
            os.path.join(sink, "documents_extracted"))
        shutil.rmtree(sink)

        with self.tracer.span("plan.bin_kernel"):
            per_bin = [r.kernel_s for r in pair.mapInArrow(
                _timed_kernel, "bin int, kernel_s double, docs long"
            ).collect() if r.docs]
        pq.write_table(binned.select("doc_id", "bin").toArrow(),
                       self.args.binmap)

        timed = statistics.median(
            j["wall_s"] for j in self.jobs if j["phase"] == "timed")
        out.update({
            "sources.scan_s": t_scan,
            "partitioning.weights_s": t_weights,
            "partitioning.exchange_s": t_exchange - t_scan,
            "pipeline.arrow_boundary_s": t_boundary - t_exchange,
            "pipeline.kernel_stage_s": t_kernel - t_boundary,
            "io.sink_s": t_sink - t_kernel,
            "checkpoint.overhead_s": timed - (t_sink + t_weights),
            "bins.kernel_s_skew": max(per_bin) / statistics.mean(per_bin),
        })
        return out

    def tasks_failed(self) -> int:
        st = self.spark.sparkContext.statusTracker()
        failed = 0
        for g in self.groups:
            for jid in st.getJobIdsForGroup(g):
                info = st.getJobInfo(jid)
                for sid in (info.stageIds if info else ()):
                    stage = st.getStageInfo(sid)
                    failed += stage.numFailedTasks if stage else 0
        return failed

    # ---- the run -------------------------------------------------------

    def run(self) -> dict:
        a = self.args
        res = {}
        with ProcSampler(os.getpid()) as mem, self.tracer.span("session"):
            res["cold_job_s"] = self.job("cold")["wall_s"]
            for _ in range(WARMUP_JOBS):
                self.job("warmup")
            mem.open_window()
            t_end = time.perf_counter() + a.seconds
            n = 0
            while n < MIN_TIMED_JOBS or time.perf_counter() < t_end:
                self.job("timed")
                n += 1
            res["rss_peak_mb"] = mem.peaks_mb()
            if a.trace:
                # the traced jobs add span recording and 10x finer
                # /proc sampling; the rest of --trace 1 is separate plans
                mem.interval_s /= 10
                for _ in range(TRACED_JOBS):
                    self.job("traced")
                res["layers"] = self.plans()
        res["tasks_failed"] = self.tasks_failed()
        res["jobs"] = self.jobs
        res["spans"] = self.tracer.spans
        return res


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--corpus", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--binmap", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, required=True)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    from ai_pdf_ocr_spark.engine.session import build_session
    spark = build_session(app="perfbench", master=f"local[{args.cores}]")
    spark.range(1).count()
    print("READY", flush=True)
    spark.sparkContext.setLogLevel("ERROR")
    result = Bench(spark, args).run()
    with open(args.result, "w") as f:
        json.dump(result, f)
    # the parent stops this process and the JVM once it reads DONE
    print("DONE", flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
