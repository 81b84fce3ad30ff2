#!/usr/bin/env python
"""Bench harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

The extraction benchmark reads a pre-materialized parquet corpus of
synthetic interleaved documents (generated distributed, cached in
/tmp across runs) so the measured time is the pipeline, not the
generator.
"""

from __future__ import annotations

import json
import os
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
# extraction corpus size scales with sf; sf0.1 is sized so the measured
# time is dominated by pipeline throughput, not per-run fixed overhead
_EXTRACT_DOCS = {"sf0.001": 500, "sf0.01": 4000, "sf0.1": 48000}

HEADLINE = [
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "q5_nation_revenue",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_jaccard_verified",
    "dedup_cluster_resolve",
    "dedup_minhash_lsh",
    "decontaminate_ngram_overlap",
    "text_token_count",
    "text_quality_score",
    "ann_bruteforce_topk",
    "suite_event_probes",        # r4: folds w_lag_gap_sessions + 7 more
    "dedup_embedding_verified",  # r3: sign-LSH + exact-cosine verify
    "release_pipeline",          # r3: composed gate->dedup->split->decon
    "ann_ivf_topk",              # r3: IVF train/assign/probe ANN
    "pack_sequences",            # r3: context-window packing
    "dedup_duplicate_spans",     # r3: substring-level dup windows
    "j_events_asof",             # r3: as-of join (union-window)
    "text_tfidf_top_terms",      # r3: per-doc TF-IDF keywords
    "j_events_asof_bucketed",    # r4: skew-hardened as-of join
    "w_tumbling_event_metrics",  # r4: streaming window batch twin
    "w_session_window_agg",      # r4: session_window batch twin
    "ann_pq_topk",               # r4: product-quantization ADC ANN
    "dedup_cross_epoch",         # r5: cross-epoch dedup batch twin
    "ann_ivfpq_topk",            # r5: IVF-PQ (FAISS IVFADC layout)
    "ann_pq_rerank_topk",        # r5: ADC coarse set -> exact re-rank
]

# Megarow pair queries: timed via a CHECKSUM AGGREGATE (count +
# xxhash64-of-row sum) instead of the noop-format write — the
# aggregate still computes every output column executor-side but
# reduces to ONE row, so the measurement no longer couples to output
# volume x tenancy (VERDICT r3 "What's wrong" #2: the 2.29M-row noop
# write made dedup_ngram_jaccard read as a 2.8x regression in a
# degraded window).
CHECKSUM_QUERIES = {"dedup_ngram_jaccard", "dedup_jaccard_verified"}


def ensure_corpus(spark, n_docs: int) -> str:
    path = f"/tmp/spark_graft_bench/docs_{n_docs}_v3"
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        from pyspark.sql import functions as F

        from ai_pdf_ocr_spark.flagship import synthetic_documents_distributed
        # 64 files: the scan stage must parallelize fully at EVERY
        # tested cluster size (8 files capped local[32] at 8-way reads)
        (synthetic_documents_distributed(spark, n_docs,
                                         heavy_tail_frac=0.02,
                                         partitions=64)
         # span_count stats column: lets the weight profile read one
         # int64 column instead of the nested spans payload
         .withColumn("span_count", F.size("spans"))
         .write.mode("overwrite").parquet(path))
    return path


def bench_extraction(spark, n_docs: int) -> tuple[float, dict]:
    from pyspark.sql import functions as F

    from ai_pdf_ocr_spark.engine.partitioning import weighted_repartition
    from ai_pdf_ocr_spark.engine.pipeline import extract_documents

    from ai_pdf_ocr_spark.engine.partitioning import (compute_assignment,
                                                      extraction_bins)

    path = ensure_corpus(spark, n_docs)
    docs = spark.read.parquet(path)
    bins = extraction_bins(CPUS)
    assignment = compute_assignment(docs, bins)  # table-stats, untimed
    base = extract_documents(weighted_repartition(docs, bins,
                                                  assignment=assignment))

    def run():
        # NB: the agg DataFrame must be rebuilt per run — collecting the
        # SAME DataFrame twice reuses its materialized shuffle output and
        # skips every stage (measured 0.03s "runs")
        return base.agg(F.count("*").alias("docs"),
                        F.sum("span_count_out").alias("spans_out"),
                        F.sum("span_count_in").alias("spans_in")).collect()[0]

    run()  # warm-up (JIT + python workers), untimed
    best = None
    for _ in range(3):
        t0 = time.monotonic()
        out = run()
        dt = time.monotonic() - t0
        if best is None or dt < best[0]:
            best = (dt, out)
    dt, out = best
    return dt, {"docs": out.docs, "spans_in": out.spans_in,
                "spans_out": out.spans_out,
                "docs_per_sec": round(out.docs / dt, 1),
                "spans_in_per_sec": round(out.spans_in / dt, 1)}


def _burn(_):
    t0 = time.monotonic()
    x = 0
    while time.monotonic() - t0 < 2.0:
        x += 1
    return x


def _calibrate(n: int = None) -> float:
    """Raw-CPU capacity (counter Mops over 2 s across n procs) — this
    box has multi-minute 2x tenancy swings (BASELINE.md), so every
    capture records the window's calibration BRACKET; without it, a
    cross-round delta cannot be attributed to code vs load."""
    import multiprocessing as mp
    n = n or CPUS
    with mp.Pool(n) as p:
        return round(sum(p.map(_burn, range(n))) / 1e6, 1)


def main() -> None:
    from ai_pdf_ocr_spark.engine.session import build_session
    from ai_pdf_ocr_spark.queries import MICRO, all_queries

    cal_before = _calibrate()
    spark = build_session(app="bench", master=f"local[{CPUS}]",
                          shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    # registry rows first, micro probes as fallback: queries folded
    # into a suite_* composite (r5: q3/q5/ann_bruteforce) keep their
    # individual bench rows comparable across rounds.  NB all_queries()
    # must run FIRST — its imports populate MICRO as a side effect.
    registry = all_queries()
    reg = {**MICRO, **registry}
    sf_name = os.path.basename(SF_DIR.rstrip("/"))
    sf = float(sf_name.replace("sf", "")) if sf_name.startswith("sf") else 0.1

    timings: dict[str, float] = {}
    rowcounts: dict[str, int] = {}
    # steady-state protocol: one untimed warm pass (JIT/codegen/python
    # worker spin-up; also records rowcounts), then timed passes.
    # Timing action is a noop-format WRITE, not collect() and not
    # count(): collect() adds driver Row-marshaling that measured ~5x
    # the engine time on the 2.3M-row pair queries (8.1s vs 1.4s at
    # local[8], round 2), while count() lets Catalyst prune output
    # columns the count never touches (e.g. the rounded jaccard/cosine
    # projections) — the noop sink consumes EVERY output column in the
    # executors, which is what a real pipeline consumer (a parquet
    # write) costs minus the codec.  (r1 used collect(); r2 used
    # count(); deltas across rounds on large-output queries are
    # protocol-confounded — the protocol string records which.)
    spark.range(1000).count()
    for name in HEADLINE:
        rowcounts[name] = reg[name].fn(spark, SF_DIR).count()
    # best-of-2 per query: this sandbox has multi-minute transient load
    # swings; the minimum is the better estimate of the engine's cost
    from pyspark.sql import functions as F

    def consume(df, name):
        if name in CHECKSUM_QUERIES:
            # pmod bounds the ANSI-mode sum: safe to ~9e9 rows
            chk = F.pmod(F.xxhash64(*df.columns), F.lit(1_000_000_007))
            df.agg(F.count("*").alias("n"),
                   F.sum(chk).alias("chk")).collect()
        else:
            df.write.format("noop").mode("overwrite").save()

    for name in HEADLINE:
        q = reg[name]
        best = None
        for _ in range(2):
            t0 = time.monotonic()
            consume(q.fn(spark, SF_DIR), name)
            dt = time.monotonic() - t0
            best = dt if best is None or dt < best else best
        timings[name] = round(best, 3)

    n_docs = _EXTRACT_DOCS.get(sf_name, 2000)
    ext_s, ext_stats = bench_extraction(spark, n_docs)
    timings["extract_spans"] = round(ext_s, 3)

    total = round(sum(timings.values()), 3)
    spark.stop()
    cal_after = _calibrate()
    # The driver records only a bounded TAIL of this process's output
    # and parses the LAST line (BENCH_r04 was "parsed: null" — the
    # one-line record with rowcounts + a paragraph protocol string
    # outgrew the capture window and got truncated mid-JSON, VERDICT r4
    # "What's wrong" #1).  So: verbose detail (rowcounts, protocol
    # prose) goes to STDERR first; the LAST stdout line is a compact
    # record — calibration bracket, headline sum, per-query times —
    # kept well under the observed ~2.5 KB window.
    print(json.dumps({
        "rows": rowcounts,
        "protocol": "best-of-2/query; timing action = noop-format "
                    "write (computes every output column "
                    "executor-side, no driver marshal) except "
                    f"{sorted(CHECKSUM_QUERIES)}: checksum aggregate "
                    "(count + xxhash64-row sum — output-volume-"
                    "decoupled, r4 protocol; see BASELINE.md). "
                    "calibration_Mops = raw-CPU bracket around the "
                    "run (this box has 2x tenancy swings).",
    }), file=sys.stderr, flush=True)
    print(json.dumps({
        "calibration_Mops": [cal_before, cal_after],
        "metric": "headline query wall time (sum)",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "cpus": CPUS,
        "queries": timings,
        "extraction": {"n_docs": n_docs, **ext_stats},
    }))


if __name__ == "__main__":
    sys.exit(main())
