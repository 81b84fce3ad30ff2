#!/usr/bin/env python
"""PQ memory-bound-scan demo at corpus scale (VERDICT r4 ask #4).

``ann_pq_topk``'s reason to exist is that at 10^12 vectors the float
embedding column cannot live in hot storage but the 8-byte PQ code
column can — this script DEMONSTRATES that on a corpus big enough for
scan cost to dominate (default 500k 64-dim vectors, ~PQ_BENCH_N env):

 1. synthesize a deterministic embedding corpus distributed (64 files,
    xxhash64-derived components — no RNG, reproducible across runs);
 2. ENCODE ONCE at ingest (queries/similarity.py::pq_encode_table,
    zero-shuffle) and persist the codes parquet next to the corpus;
 3. A/B/C the same top-10 query:
      float path  — exact L2 over the float vectors (reads the
                    embedding column: 64 multiplies/row);
      code path   — ADC over the codes parquet (reads the 8-byte
                    codes: 8 table lookups/row; queries/similarity.py
                    ::pq_adc_topk);
      IVF-PQ path — ADC over codes PARTITIONED BY list_id: the nprobe
                    filter is parquet partition pruning, so the scan
                    physically reads only nprobe/IVF_K of the code
                    files (ivfpq_adc_topk);
      re-rank path — two-stage retrieval (similarity.py::
                    pq_rerank_lookup): ADC top-50 over the codes, then
                    an In-list point fetch of those 50 float rows from
                    an id-SORTED parquet layout + exact re-rank —
                    EXACT top-10 order at quantized-scan cost (the
                    record asserts equality with the float path).
    All end in TakeOrderedAndProject; best-of-3 after a warm pass,
    bracketed by the raw-CPU calibration (this box has 2x tenancy
    swings — BASELINE.md).

Prints ONE JSON line: corpus size, bytes scanned per path (parquet
footprint of the columns read), wall times, speedup, and the ADC
recall@10 vs the exact scan (the standard PQ trade: a re-rank pass
over the candidates' float vectors buys back exact order).
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time

N = int(os.environ.get("PQ_BENCH_N", "500000"))
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
# bump _v when synth_embeddings changes — the _SUCCESS cache check
# would otherwise silently reuse a stale corpus (bench.py::ensure_
# corpus learned the same lesson; r5 code-review)
CORPUS_V = 1
BASE = f"/tmp/spark_graft_pqbench/n{N}_v{CORPUS_V}"


def synth_embeddings(spark, n):
    """Deterministic 64-dim corpus: component j of row i is
    (xxhash64(i ':' j) % 2001 - 1000) / 1000 — same family as the
    fixture plane weights; float32 storage like the testdata table.
    Rows 1..20 are PLANTED near-duplicates of the query row 0
    (q + 0.1x-scaled hash noise): sign-quantized recall is only
    meaningful where near-neighbors exist (a uniform corpus's top-10
    gap sits inside one quantization cell — measured round 4), so the
    A/B also reports a recall the operator is designed to deliver."""
    from pyspark.sql import functions as F

    def comp(i_col, j):
        return (F.pmod(F.xxhash64(F.concat_ws(
            ":", i_col.cast("string"), j.cast("string"))),
            F.lit(2001)) - 1000.0) / 1000.0

    vec = F.transform(
        F.sequence(F.lit(0), F.lit(63)),
        lambda j: F.when(
            (F.col("id") >= 1) & (F.col("id") <= 20),
            comp(F.lit(0), j) + comp(F.col("id"), j) / 10.0)
        .otherwise(comp(F.col("id"), j)).cast("float"))
    return (spark.range(n).repartition(64)
            .select(F.col("id").alias("vec_id"), vec.alias("embedding")))


def _bytes(path: str) -> int:
    return sum(os.path.getsize(p)
               for p in glob.glob(os.path.join(path, "*.parquet")))


def _bytes_tree(path: str) -> int:
    """Recursive variant for partitioned tables (list_id=*/...)."""
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path)
               for f in fs if f.endswith(".parquet"))


def _best_of(fn, runs=3):
    fn()  # warm: codegen + python worker spin-up, untimed
    best, out = None, None
    for _ in range(runs):
        t0 = time.monotonic()
        r = fn()
        dt = time.monotonic() - t0
        if best is None or dt < best:
            best, out = dt, r
    return best, out


def main() -> None:
    from bench import _calibrate
    from ai_pdf_ocr_spark.engine.session import build_session
    from pyspark.sql import functions as F

    from ai_pdf_ocr_spark.queries.similarity import (PQ_RERANK_R,
                                                     ivfpq_adc_topk,
                                                     ivfpq_encode_table,
                                                     pq_adc_topk,
                                                     pq_encode_table,
                                                     pq_rerank_lookup)

    cal_before = _calibrate()
    spark = build_session(app="pq_scale_bench", master=f"local[{CPUS}]",
                          shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")

    # the literal IN list of the re-rank fetch must survive to the
    # parquet reader as an eq-list (above this threshold Spark pushes
    # a useless min/max range instead) — see pq_rerank_lookup
    spark.conf.set("spark.sql.parquet.pushdown.inFilterThreshold",
                   str(max(PQ_RERANK_R, 10)))

    emb_path, codes_path = f"{BASE}/embeddings", f"{BASE}/codes"
    if not os.path.exists(os.path.join(emb_path, "_SUCCESS")):
        synth_embeddings(spark, N).write.mode("overwrite").parquet(emb_path)
    e = spark.read.parquet(emb_path)

    # id-SORTED float layout for the stage-2 point fetch: 256 range
    # files, each covering a contiguous vec_id slice, so the pushed
    # In(vec_id, ...) prunes the scan to ~R row groups
    sorted_path = f"{BASE}/embeddings_sorted"
    if not os.path.exists(os.path.join(sorted_path, "_SUCCESS")):
        (e.repartitionByRange(256, "vec_id")
         .sortWithinPartitions("vec_id")
         .write.mode("overwrite").parquet(sorted_path))
    es = spark.read.parquet(sorted_path)

    # ingest-time encode (one pass, untimed: a production corpus pays
    # this once per ingest, not per query).  The codes parquet is
    # cached across runs like the corpus itself; the per-query
    # codebooks are retrained from the same deterministic stride
    # sample (driver-side, seconds) — identical floats, so a cached
    # run serves bit-identical ADC tables.
    from ai_pdf_ocr_spark.queries.similarity import (_ivfpq_train,
                                                     _pq_train,
                                                     _stride_sample)
    if not os.path.exists(os.path.join(codes_path, "_SUCCESS")):
        t0 = time.monotonic()
        codes_df, cbs = pq_encode_table(spark, e.where("vec_id != 0"))
        codes_df.write.mode("overwrite").parquet(codes_path)
        encode_s = round(time.monotonic() - t0, 3)
    else:
        cbs = _pq_train(_stride_sample(e.where("vec_id != 0")))
        encode_s = None  # cached from a previous run
    codes = spark.read.parquet(codes_path)

    q_emb = [float(x) for x in e.where("vec_id = 0").first().embedding]
    q_row = spark.createDataFrame([(q_emb,)], "qe array<double>")

    # IVF-PQ codes partitioned by list_id: the nprobe filter becomes
    # parquet PARTITION PRUNING — the scan reads only nprobe/IVF_K of
    # the code files (plan-pinned in tests/test_plans.py)
    ivfpq_path = f"{BASE}/ivfpq_codes"
    if not os.path.exists(os.path.join(ivfpq_path, "_SUCCESS")):
        t0 = time.monotonic()
        icodes_df, cens, cbs2 = ivfpq_encode_table(spark,
                                                   e.where("vec_id != 0"))
        icodes_df.write.mode("overwrite").partitionBy("list_id") \
            .parquet(ivfpq_path)
        ivfpq_encode_s = round(time.monotonic() - t0, 3)
    else:
        cens, cbs2 = _ivfpq_train(_stride_sample(e.where("vec_id != 0")))
        ivfpq_encode_s = None  # cached from a previous run
    icodes = spark.read.parquet(ivfpq_path)

    def float_scan():
        emb = F.transform("embedding", lambda x: x.cast("double"))
        d = F.aggregate(F.zip_with(F.col("emb"), F.col("qe"),
                                   lambda x, y: (x - y) * (x - y)),
                        F.lit(0.0), lambda a, v: a + v)
        return (e.where("vec_id != 0").withColumn("emb", emb)
                .crossJoin(F.broadcast(q_row))
                .select("vec_id", d.alias("d2"))
                .orderBy("d2", "vec_id").limit(10).collect())

    def code_scan():
        return pq_adc_topk(codes, cbs, q_emb).collect()

    def ivfpq_scan():
        return ivfpq_adc_topk(icodes, cens, cbs2, q_emb).collect()

    def rerank_scan():
        # both stages timed: ADC coarse top-R over codes (bounded
        # R-row collect), then the In-list point fetch + exact re-rank
        ids = [r.vec_id for r in
               pq_adc_topk(codes, cbs, q_emb, k=PQ_RERANK_R).collect()]
        return pq_rerank_lookup(es.where("vec_id != 0"),
                                ids, q_emb).collect()

    def ivfpq_rerank_scan():
        # the full FAISS IVFADC+R serving stack: partition-pruned ADC
        # top-R, then the same point fetch + exact re-rank
        ids = [r.vec_id for r in
               ivfpq_adc_topk(icodes, cens, cbs2, q_emb,
                              k=PQ_RERANK_R).collect()]
        return pq_rerank_lookup(es.where("vec_id != 0"),
                                ids, q_emb).collect()

    t_float, exact = _best_of(float_scan)
    t_code, approx = _best_of(code_scan)
    t_ivfpq, iapprox = _best_of(ivfpq_scan)
    t_rerank, rr = _best_of(rerank_scan)
    t_irerank, irr = _best_of(ivfpq_rerank_scan)
    # recall vs the exact top-10 AND vs the planted set: all 20
    # planted rows quantize into near-identical cells, so their ADC
    # distances tie — ADC returns SOME 10 of the 20 (set retrieval,
    # the standard PQ contract), which depresses exact-top-10 overlap
    # even when every returned row is a planted near-duplicate
    recall = len({r.vec_id for r in exact}
                 & {r.vec_id for r in approx}) / 10.0
    planted = sum(1 for r in approx if 1 <= r.vec_id <= 20) / 10.0
    iplanted = sum(1 for r in iapprox if 1 <= r.vec_id <= 20) / 10.0
    spark.stop()
    cal_after = _calibrate()
    print(json.dumps({
        "calibration_Mops": [cal_before, cal_after],
        "n_vectors": N, "cpus": CPUS,
        "bytes_float_table": _bytes(emb_path),
        "bytes_code_table": _bytes(codes_path),
        "encode_once_s": encode_s,
        "ivfpq_encode_once_s": ivfpq_encode_s,
        "bytes_ivfpq_table": _bytes_tree(ivfpq_path),
        "float_scan_s": round(t_float, 3),
        "adc_scan_s": round(t_code, 3),
        "ivfpq_pruned_scan_s": round(t_ivfpq, 3),
        "speedup": round(t_float / t_code, 2),
        "ivfpq_speedup_vs_float": round(t_float / t_ivfpq, 2),
        "recall_at_10": recall,
        "planted_in_top10": planted,
        "ivfpq_planted_in_top10": iplanted,
        "rerank_total_s": round(t_rerank, 3),
        "rerank_speedup_vs_float": round(t_float / t_rerank, 2),
        # exact ORDER recovered at quantized-scan cost: all 20 planted
        # near-dups land in the ADC top-50, so the re-rank sees every
        # true top-10 row and its exact L2 reproduces the float scan's
        # (vec_id, d2) ordering bit-for-bit
        "rerank_exact_top10":
            [r.vec_id for r in rr] == [r.vec_id for r in exact],
        "ivfpq_rerank_total_s": round(t_irerank, 3),
        "ivfpq_rerank_speedup_vs_float": round(t_float / t_irerank, 2),
        "ivfpq_rerank_exact_top10":
            [r.vec_id for r in irr] == [r.vec_id for r in exact],
    }))


if __name__ == "__main__":
    sys.exit(main())
