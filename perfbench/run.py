"""Job-level benchmark of the extraction job ``submit_job.py`` runs.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload bulk_mixed --seed 1 \\
        --seconds 10 --trace 0

The last line of standard output is one JSON object: ``correct``,
``attempted`` and ``failed`` count documents checked against
``tests/oracle.py`` (every committed document of every job), and
``metrics`` holds the end-to-end metrics (``--trace 0``) or the
per-layer metrics (``--trace 1``) listed in BENCHMARK.json.  The
workloads, the metrics and which layer each metric belongs to are
described in perfbench/README.md.

Everything the run writes (corpora, oracle output, Spark scratch, job
output, logs, spans) goes under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import corpus  # noqa: E402
import procmem  # noqa: E402
from tracing import Tracer  # noqa: E402

# workload -> (corpus generator in corpus.py, documents)
WORKLOADS = {"bulk_mixed": ("bulk", 1600), "dense_pages": ("dense", 200)}
DEADLINE_S = 170        # a run must exit within 180 s
PR_SET_CHILD_SUBREAPER = 36


class BenchError(RuntimeError):
    pass


def _stop(signum, frame):
    raise BenchError("run exceeded its deadline" if signum == signal.SIGALRM
                     else f"stopped by signal {signum}")


def _become_subreaper() -> None:
    """Have orphaned descendants (a session's JVM and the pyspark daemon
    outlive the Python process that started them) re-parented to this
    process, so that it can stop them and wait for them."""
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _reap(proc: subprocess.Popen) -> None:
    """Kill a child and every process under it, then wait for each."""
    if proc.poll() is None:
        for pid in [proc.pid, *procmem.descendants(proc.pid)]:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    proc.wait()
    end = time.monotonic() + 30
    while pids := procmem.descendants(os.getpid()):
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        while True:
            try:
                if os.waitpid(-1, os.WNOHANG)[0] == 0:
                    break
            except ChildProcessError:
                break
        if time.monotonic() > end:
            raise BenchError(f"processes {pids} did not end")
        time.sleep(0.05)


class Runner:
    def __init__(self, root: str, args):
        self.root = root
        self.args = args
        self.cores = len(os.sched_getaffinity(0))
        self.cache = os.path.join(root, ".perfbench")
        self.run_dir = os.path.join(
            self.cache, "runs", f"{args.workload}-t{args.trace}")
        shutil.rmtree(self.run_dir, ignore_errors=True)
        os.makedirs(self.run_dir)
        tmp = os.path.join(self.cache, "tmp")
        local = os.path.join(self.cache, "spark-local")
        shutil.rmtree(local, ignore_errors=True)
        for d in (tmp, local):
            os.makedirs(d, exist_ok=True)
        env = dict(os.environ)
        # the Python workers import the engine from this checkout
        env["PYTHONPATH"] = os.pathsep.join(
            p for p in (root, env.get("PYTHONPATH")) if p)
        env["PYSPARK_PYTHON"] = sys.executable
        env["SPARK_LOCAL_DIRS"] = local
        env["TMPDIR"] = tmp
        env["SPARK_SUBMIT_OPTS"] = " ".join(
            p for p in (env.get("SPARK_SUBMIT_OPTS"),
                        f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData") if p)
        self.env = env
        self.log = open(os.path.join(self.run_dir, "children.log"), "w")
        self.tracer = Tracer(bool(args.trace))
        self.procs: list[subprocess.Popen] = []

    def _spawn(self, script: str, *argv: str) -> subprocess.Popen:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, script), *argv],
            cwd=self.run_dir, env=self.env, stdout=subprocess.PIPE,
            stderr=self.log, text=True, start_new_session=True)
        self.procs.append(proc)
        return proc

    def _until(self, proc: subprocess.Popen, word: str) -> None:
        for line in proc.stdout:
            if line.strip() == word:
                return
        raise BenchError(f"Spark session exited before {word}; see "
                         f"{self.log.name}")

    def _finish(self, proc: subprocess.Popen, what: str) -> None:
        # communicate, not wait: the child's JVM holds the stdout pipe
        proc.communicate()
        _reap(proc)
        if proc.returncode != 0:
            raise BenchError(f"{what} failed (exit {proc.returncode}); "
                             f"see {self.log.name}")

    def session(self, corpus_dir: str) -> tuple[float, dict]:
        a = self.args
        result = os.path.join(self.run_dir, "session.json")
        argv = ["--cores", str(self.cores), "--corpus", corpus_dir,
                "--work", os.path.join(self.run_dir, "work"),
                "--result", result,
                "--binmap", os.path.join(self.run_dir, "binmap.parquet"),
                "--seconds", str(a.seconds), "--trace", str(a.trace)]
        with self.tracer.span("session"):
            t0 = time.perf_counter()
            proc = self._spawn("session.py", *argv)
            self._until(proc, "READY")
            setup_s = time.perf_counter() - t0
            self._until(proc, "DONE")
            _reap(proc)
            with open(result) as f:
                res = json.load(f)
            self.tracer.adopt(res.pop("spans"))
        return setup_s, res

    def kernel_pass(self, corpus_dir: str) -> dict:
        result = os.path.join(self.run_dir, "kernel.json")
        with self.tracer.span("kernel_pass"):
            proc = self._spawn(
                "kernel_pass.py", "--corpus", corpus_dir,
                "--binmap", os.path.join(self.run_dir, "binmap.parquet"),
                "--result", result)
            self._finish(proc, "kernel pass")
        with open(result) as f:
            return json.load(f)

    def run(self) -> dict:
        a = self.args
        kind, n_docs = WORKLOADS[a.workload]
        sys.path.insert(0, self.root)
        with self.tracer.span("corpus"):
            corpus_dir, meta = corpus.ensure(
                self.cache, kind, n_docs, a.seed, self.cores)
        setup_s, res = self.session(corpus_dir)

        jobs = res["jobs"]
        timed = [j for j in jobs if j["phase"] == "timed"]
        attempted = sum(j["attempted"] for j in jobs)
        failed = sum(j["errors"] for j in jobs)
        lineage_ok = all(j["docs"] == j["attempted"] for j in jobs)
        out = {"correct": failed == 0 and lineage_ok,
               "attempted": attempted, "failed": failed}
        if not a.trace:
            metrics = {
                "docs_per_s": statistics.median(
                    j["docs"] / j["wall_s"] for j in timed),
                "spans_per_s": statistics.median(
                    j["spans"] / j["wall_s"] for j in timed),
                "cold_job_s": res["cold_job_s"],
                "setup_s": setup_s,
                "worker_rss_peak_mb": res["rss_peak_mb"]["worker"],
                "out_bytes_per_in_byte": statistics.median(
                    j["out_bytes"] for j in timed) / meta["input_bytes"],
            }
        else:
            kern = self.kernel_pass(corpus_dir)
            out["correct"] &= kern["docs"] == timed[-1]["attempted"]
            traced = [j for j in jobs if j["phase"] == "traced"]
            metrics = {
                **res["layers"], **kern["layers"],
                "bins.weight_skew": timed[-1]["weight_skew"],
                "checkpoint.lineage_rows": timed[-1]["lineage_rows"],
                "spark.tasks_failed": res["tasks_failed"],
                "jvm.rss_peak_mb": res["rss_peak_mb"]["jvm"],
                "doc_error_rate": failed / attempted,
                "trace.overhead_s":
                    statistics.median(j["wall_s"] for j in traced)
                    - statistics.median(j["wall_s"] for j in timed),
            }
            with open(os.path.join(self.run_dir, "trace.json"), "w") as f:
                json.dump({"workload": a.workload, "seed": a.seed,
                           "spans": self.tracer.spans}, f)
        # names and units are BENCHMARK.json's
        with open(os.path.join(self.root, "BENCHMARK.json")) as f:
            spec = json.load(f)["per_layer" if a.trace else "end_to_end"]
        units = {m["name"]: m["unit"] for m in spec}
        if set(units) != set(metrics):
            raise BenchError(f"metrics differ from BENCHMARK.json: "
                             f"{sorted(set(units) ^ set(metrics))}")
        out["metrics"] = {k: {"value": metrics[k], "unit": units[k]}
                          for k in units}
        return out

    def close(self) -> None:
        for proc in self.procs:
            _reap(proc)
        self.log.close()


def parse_args(argv=None):
    ap = argparse.ArgumentParser(
        description="Job-level extraction benchmark (see perfbench/README.md)")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    needed = ("ai_pdf_ocr_spark/engine/checkpoint.py", "tests/oracle.py")
    missing = [p for p in needed if not os.path.isfile(os.path.join(root, p))]
    if missing:
        print(f"perfbench: not the root of an ai_pdf_ocr_spark checkout "
              f"(missing {', '.join(missing)})", file=sys.stderr)
        return 2
    _become_subreaper()
    # both unwind through Runner.close, which stops every child
    signal.signal(signal.SIGALRM, _stop)
    signal.signal(signal.SIGTERM, _stop)
    signal.alarm(DEADLINE_S)
    runner = Runner(root, args)
    try:
        out = runner.run()
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    finally:
        signal.alarm(0)
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        runner.close()
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
