"""In-process pass of the extraction kernel over the job's Arrow batches.

The job's docs are grouped by the bin Spark assigned them (the binmap
the Spark session wrote), sorted by doc_id within a bin and cut into
4096-row batches, as the fused ``mapInArrow`` stage receives them.
``kernel.extract`` looks ``decode_flat``, ``process_page_fast`` and
``process_page`` up as module attributes on every call, so wrapping
those attributes times each child layer and reads the page sizes and
candidate lists handed to the small-page layout path.
"""

from __future__ import annotations

import argparse
import json
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from procmem import self_peak_mb

ARROW_BATCH = 4096      # spark.sql.execution.arrow.maxRecordsPerBatch
COUNTERS = ("malformed", "merged_away", "dedup_removed", "filtered")


class KernelProbe:
    """Timing and counting wrappers around the kernel's child layers."""

    def __init__(self, extract_module):
        self.x = extract_module
        self.t = {"decode": 0.0, "small": 0.0, "large": 0.0}
        self.pages_small = self.pages_large = 0
        self.pairs = self.pair_hits = 0
        self._orig = (extract_module.decode_flat,
                      extract_module.process_page_fast,
                      extract_module.process_page)

    def install(self) -> None:
        decode, fast, large = self._orig

        def decode_flat(*a, **k):
            t = time.perf_counter()
            try:
                return decode(*a, **k)
            finally:
                self.t["decode"] += time.perf_counter() - t

        def process_page_fast(blocks, merge_cands, dd_cands):
            n = len(blocks)
            self.pages_small += 1
            self.pairs += n * (n - 1) // 2
            self.pair_hits += len(merge_cands or ()) + len(dd_cands or ())
            t = time.perf_counter()
            try:
                return fast(blocks, merge_cands, dd_cands)
            finally:
                self.t["small"] += time.perf_counter() - t

        def process_page(*a, **k):
            self.pages_large += 1
            t = time.perf_counter()
            try:
                return large(*a, **k)
            finally:
                self.t["large"] += time.perf_counter() - t

        self.x.decode_flat = decode_flat
        self.x.process_page_fast = process_page_fast
        self.x.process_page = process_page


def job_batches(corpus: str, binmap: str) -> list[pa.RecordBatch]:
    docs = pq.read_table(f"{corpus}/input")
    bins = pq.read_table(binmap)
    pos = pc.index_in(docs.column("doc_id"), value_set=bins.column("doc_id"))
    docs = docs.filter(pc.is_valid(pos)).append_column(
        "bin", bins.column("bin").take(pc.drop_null(pos)))
    docs = docs.sort_by([("bin", "ascending"), ("doc_id", "ascending")])
    batches = []
    for b in pc.unique(docs.column("bin")).to_pylist():
        one = docs.filter(pc.equal(docs.column("bin"), b))
        batches += one.select(["doc_id", "spans"]).combine_chunks() \
            .to_batches(max_chunksize=ARROW_BATCH)
    return batches


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--corpus", required=True)
    ap.add_argument("--binmap", required=True)
    ap.add_argument("--result", required=True)
    args = ap.parse_args(argv)

    import ai_pdf_ocr_spark.kernel.extract as extract
    batches = job_batches(args.corpus, args.binmap)
    probe = KernelProbe(extract)
    probe.install()
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")
    total = 0.0
    counts = dict.fromkeys(COUNTERS, 0)
    docs = 0
    for rb in batches:
        t = time.perf_counter()
        out = extract.extract_record_batch(rb)
        total += time.perf_counter() - t
        docs += rb.num_rows
        for c in COUNTERS:
            counts[c] += pc.sum(out.column(c)).as_py()
    layers = {
        "kernel.decode_s": probe.t["decode"],
        "kernel.self_s": total - sum(probe.t.values()),
        "kernel.layout_small_s": probe.t["small"],
        "kernel.layout_large_s": probe.t["large"],
        "kernel.pages_small": probe.pages_small,
        "kernel.pages_large": probe.pages_large,
        "kernel.pairs_enumerated": probe.pairs,
        "kernel.pair_hit_ratio": probe.pair_hits / max(probe.pairs, 1),
        "kernel.rss_peak_mb": self_peak_mb(),
        "kernel.docs_per_s": docs / total,
        **{f"kernel.{c}": v for c, v in counts.items()},
    }
    with open(args.result, "w") as f:
        json.dump({"docs": docs, "layers": layers}, f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
