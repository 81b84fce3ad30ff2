"""Structured Streaming ingest: file-arrival extraction with
exactly-once file tracking and idempotent epoch replay.

Scenario: corpus files land in two waves; each ``stream_extract`` call
drains what is new (availableNow trigger).  Asserts:
 - wave 1 extracts only wave-1 docs, span sequences match the oracle;
 - wave 2 processes ONLY the new files (streaming checkpoint), union
   output covers the whole corpus exactly once;
 - a third drain with nothing new runs zero epochs and changes nothing;
 - per-epoch lineage rows land in the shared checkpoint table.
"""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
import pytest

from ai_pdf_ocr_spark.engine.io import TableStore
from ai_pdf_ocr_spark.engine.pipeline import documents_df
from ai_pdf_ocr_spark.engine.streaming import (read_stream_extracted,
                                               stream_extract)
from ai_pdf_ocr_spark.fixtures.generate import make_documents
from tests import oracle as O


@pytest.fixture(scope="module")
def corpus():
    return make_documents(40, seed=77)


def _land(spark, docs, input_dir):
    documents_df(spark, docs).coalesce(2).write.mode("append") \
        .parquet(input_dir)


def _spans_by_doc(df):
    rows = df.select("doc_id", "spans").collect()
    return {r.doc_id: [(s.kind, s.text, s.media_ref, s.order)
                       for s in r.spans] for r in rows}


def test_stream_two_waves_then_idle(spark, tmp_path, corpus):
    input_dir = str(tmp_path / "landing")
    store = TableStore(spark, str(tmp_path / "store"))
    wave1, wave2 = corpus[:25], corpus[25:]

    _land(spark, wave1, input_dir)
    r1 = stream_extract(spark, input_dir, store, "s1", num_partitions=4)
    assert r1["epochs_run"] >= 1
    got = _spans_by_doc(read_stream_extracted(spark, store))
    assert set(got) == {d["doc_id"] for d in wave1}

    _land(spark, wave2, input_dir)
    r2 = stream_extract(spark, input_dir, store, "s2", num_partitions=4)
    assert r2["epochs_run"] >= 1
    got = _spans_by_doc(read_stream_extracted(spark, store))
    assert set(got) == {d["doc_id"] for d in corpus}  # once each, no dups

    # nothing new -> zero epochs, output unchanged
    r3 = stream_extract(spark, input_dir, store, "s3", num_partitions=4)
    assert r3["epochs_run"] == 0
    again = _spans_by_doc(read_stream_extracted(spark, store))
    assert again == got

    # span-sequence parity vs the pure oracle over the whole corpus
    want = O.extract_corpus(corpus)
    for doc_id, seq in want.items():
        assert got[doc_id] == seq, doc_id

    # per-epoch lineage rows exist for both waves, carrying the
    # per-stream replay marker (-<stream_id>-e<epoch>)
    ckpt = store.read_checkpoint()
    run_ids = {r.run_id for r in ckpt.select("run_id").distinct().collect()}
    assert any(r.startswith("s1-") and "-e" in r for r in run_ids)
    assert any(r.startswith("s2-") and "-e" in r for r in run_ids)
    lineage = ckpt.collect()
    assert sum(r.doc_count for r in lineage) == len(corpus)
    # every epoch's lineage carries its measured seconds to data commit
    assert all(r.wall_time_s > 0 for r in lineage)

    # the session-wide overwrite mode was NOT flipped by the stream
    # writes (ADVICE r2: a lingering 'dynamic' silently changes later
    # mode('overwrite') writes)
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode",
                          "STATIC").upper() == "STATIC"


def test_epoch_replay_is_idempotent(spark, tmp_path, corpus):
    """Simulate the crash-replay path directly: running the same epoch
    twice must rewrite the same (stream, epoch, bin) partitions and
    append the lineage rows exactly once — even when the replay comes
    in under a DIFFERENT run_id (the marker is the stream id + epoch,
    never the caller's run label)."""
    from ai_pdf_ocr_spark.engine.streaming import _process_epoch

    store = TableStore(spark, str(tmp_path / "store"))
    docs = documents_df(spark, corpus[:12])
    assert _process_epoch(spark, store, "rp", "t1", 4, 4096, docs, 7) \
        is True
    first = _spans_by_doc(read_stream_extracted(spark, store))
    n_ckpt = store.read_checkpoint().count()
    # replay (streaming engine re-invokes the same epoch after a crash)
    assert _process_epoch(spark, store, "rp2", "t1", 4, 4096, docs, 7) \
        is True
    assert _spans_by_doc(read_stream_extracted(spark, store)) == first
    assert store.read_checkpoint().count() == n_ckpt  # no duplicate rows
    # a DIFFERENT stream sharing the TableStore at the same epoch id
    # must NOT be skipped by the replay guard (ADVICE r2: the old
    # endswith('-e<n>') heuristic cross-matched streams)
    docs2 = documents_df(spark, corpus[12:20])
    assert _process_epoch(spark, store, "rp", "t2", 4, 4096, docs2, 7) \
        is True
    assert store.read_checkpoint().count() > n_ckpt



def test_epoch_lineage_empty_bins_one_file(spark, tmp_path, corpus):
    """More bins than docs in one epoch: the epoch appends one
    checkpoint file holding exactly one 'done' row per bin 0..P-1; the
    empty bins carry zero counts and null doc-id bounds (the batch
    lineage builder's rows)."""
    from ai_pdf_ocr_spark.engine.streaming import _process_epoch

    store = TableStore(spark, str(tmp_path / "store"))
    P = 8
    assert _process_epoch(spark, store, "le", "t1", P, 4096,
                          documents_df(spark, corpus[:5]), 0) is True
    files = [f for f in os.listdir(store.path("checkpoint"))
             if f.endswith(".parquet")]
    assert len(files) == 1

    ck = store.read_checkpoint().collect()
    assert sorted(r.bin for r in ck) == list(range(P))
    assert all(r.status == "done" and r.run_id == "le-t1-e0" for r in ck)
    assert sum(r.doc_count for r in ck) == 5
    empty = [r for r in ck if r.doc_count == 0]
    assert empty  # 5 docs cannot fill 8 bins
    for r in empty:
        assert r.doc_id_min is None and r.doc_id_max is None
        assert (r.span_count_in, r.span_count_out, r.dedup_removed) \
            == (0, 0, 0)


def test_stream_tables_use_store_codec(spark, tmp_path, corpus):
    """Stream output and signature history are written in the store's
    codec (zstd by default), like the batch tables."""
    from ai_pdf_ocr_spark.engine.streaming import (SIG_TABLE, STREAM_TABLE,
                                                   _process_epoch)

    store = TableStore(spark, str(tmp_path / "store"))
    assert _process_epoch(spark, store, "zc", "t1", 4, 4096,
                          documents_df(spark, corpus[:6]), 0) is True
    for table in (STREAM_TABLE, SIG_TABLE):
        files = glob.glob(os.path.join(store.path(table), "**",
                                       "*.parquet"), recursive=True)
        assert files, table
        for f in files:
            md = pq.ParquetFile(f).metadata
            codecs = {md.row_group(g).column(c).compression
                      for g in range(md.num_row_groups)
                      for c in range(md.num_columns)}
            assert codecs == {"ZSTD"}, (table, f, codecs)

def test_cross_epoch_dedup_flags(spark, tmp_path, corpus):
    """VERDICT r2 ask #5: a doc re-landing in a later epoch is flagged
    against the checkpointed signature history.
     - identical span content under a new doc_id -> dup_exact (+ near);
     - same text spans but different media refs -> dup_near only
       (LSH band collision), not dup_exact;
     - fresh docs -> neither flag;
     - within-epoch: epoch 1's own docs are never self-flagged."""
    import copy

    input_dir = str(tmp_path / "landing")
    store = TableStore(spark, str(tmp_path / "store"))
    wave1 = corpus[:10]
    _land(spark, wave1, input_dir)
    stream_extract(spark, input_dir, store, "cd1", num_partitions=4)
    out1 = read_stream_extracted(spark, store)
    assert out1.where("dup_exact OR dup_near").count() == 0

    relanded = copy.deepcopy(wave1[0])
    relanded["doc_id"] = "relanded-exact"
    near = copy.deepcopy(wave1[1])
    near["doc_id"] = "relanded-near"
    changed_media = False
    for s in near["spans"]:
        if s["kind"] != "text" and s.get("media_ref"):
            s["media_ref"] = "asset-deadbeef"
            changed_media = True
    assert changed_media, "fixture doc 1 must carry a media span"
    wave2 = [relanded, near] + list(corpus[10:14])
    _land(spark, wave2, input_dir)
    stream_extract(spark, input_dir, store, "cd2", num_partitions=4)

    flags = {r.doc_id: (r.dup_exact, r.dup_near)
             for r in read_stream_extracted(spark, store)
             .select("doc_id", "dup_exact", "dup_near").collect()}
    assert flags["relanded-exact"] == (True, True)
    assert flags["relanded-near"] == (False, True)
    for d in corpus[10:14]:
        assert flags[d["doc_id"]] == (False, False), d["doc_id"]
    for d in wave1:
        assert flags[d["doc_id"]] == (False, False), d["doc_id"]


def test_windowed_metrics_watermark_late_data(spark, tmp_path):
    """Watermarked windowed agg (10-min windows, 20-min lateness):
    across three drains, (a) a window emits EXACTLY ONCE, when the
    watermark passes its end; (b) an event later than the bound is
    DROPPED (never appears in any emission); (c) a late-but-in-bound
    event still counts toward its open window."""
    import datetime as dt

    from ai_pdf_ocr_spark.engine.streaming import (
        stream_windowed_event_metrics)

    base = dt.datetime(2024, 1, 1, 0, 0, 0)

    def _land(minute_vals, name):
        rows = [(i, base + dt.timedelta(minutes=m), 1, "x", float(v), "{}")
                for i, (m, v) in enumerate(minute_vals)]
        (spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, "
                  "event_type string, value double, props string")
         .coalesce(1).write.mode("append")
         .parquet(str(tmp_path / "in" / name)))
        # one drain per landing: move the file into the watched dir
        import shutil
        src = tmp_path / "in" / name
        for f in src.glob("*.parquet"):
            shutil.move(str(f), str(tmp_path / "events" / f.name))

    (tmp_path / "events").mkdir()

    def drain():
        stream_windowed_event_metrics(
            spark, str(tmp_path / "events"),
            str(tmp_path / "ckpt"), str(tmp_path / "out"))

    def emitted():
        import glob
        if not glob.glob(str(tmp_path / "out" / "*.parquet")):
            return {}
        return {r.window_start[11:16]: (r.n_events, r.value_sum)
                for r in spark.read.parquet(str(tmp_path / "out"))
                .collect()}

    # drain 1: events at 00:01, 00:05, 00:12, 00:35 -> watermark 00:15
    # closes [00:00,00:10) with 2 events
    _land([(1, 1.0), (5, 2.0), (12, 4.0), (35, 8.0)], "f1")
    drain()
    assert emitted() == {"00:00": (2, 3.0)}

    # drain 2: 00:03 is BEYOND the bound (watermark 00:15) -> dropped;
    # 00:16 is late-but-in-bound for the open [00:10,00:20) window;
    # 00:55 pushes the watermark to 00:35, closing [00:10,00:20)
    _land([(3, 100.0), (16, 16.0), (55, 32.0)], "f2")
    drain()
    assert emitted() == {"00:00": (2, 3.0), "00:10": (2, 20.0)}

    # drain 3: 01:30 -> watermark 01:10 closes [00:30,00:40) and
    # [00:50,01:00); the 01:30 window stays open (emits on a future
    # drain).  The dropped 00:03 event appears NOWHERE.
    _land([(90, 64.0)], "f3")
    drain()
    assert emitted() == {"00:00": (2, 3.0), "00:10": (2, 20.0),
                         "00:30": (1, 8.0), "00:50": (1, 32.0)}


def test_stream_sessionize_matches_batch_lag_gap(spark, tmp_path):
    """Cross-paradigm parity: native session_window streaming sessions
    over the REAL sf0.001 events table (landed in two drains, so open
    sessions survive in state between drains) produce exactly the
    per-user session counts of the batch lag-gap operator
    (w_lag_gap_sessions, same 30-min gap), and per-user event totals
    are conserved."""
    import datetime as dt

    from ai_pdf_ocr_spark.engine.streaming import stream_sessionize
    from ai_pdf_ocr_spark.queries.relational import w_lag_gap_sessions

    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    # the raw table is TIMESTAMP_NTZ; the stream schema (and
    # session_window) want TIMESTAMP — cast once here (gap semantics
    # are timezone-shift invariant, so batch parity is unaffected)
    ev = (spark.read.parquet(f"{sf}/events.parquet")
          .withColumn("ts", F.col("ts").cast("timestamp")))
    lo, hi = ev.selectExpr("min(ts)", "max(ts)").first()
    mid = lo + (hi - lo) / 2
    (tmp_path / "events").mkdir()

    def drain():
        stream_sessionize(spark, str(tmp_path / "events"),
                          str(tmp_path / "ckpt"), str(tmp_path / "out"))

    def land(df, name):
        # the flat-file stream source does not recurse: stage the
        # write, then move the part files into the watched dir
        import shutil
        stage = tmp_path / "stage" / name
        df.coalesce(1).write.parquet(str(stage))
        for f in stage.glob("*.parquet"):
            shutil.move(str(f), str(tmp_path / "events" / f"{name}_{f.name}"))

    land(ev.where(F.col("ts") <= F.lit(mid)), "w1")
    drain()
    land(ev.where(F.col("ts") > F.lit(mid)), "w2")
    drain()
    # sentinel far past the horizon: advances the GLOBAL watermark so
    # every real user's final open session closes and emits
    flush = [(10 ** 9, hi + dt.timedelta(hours=2), -1, "x", 0.0, "{}")]
    land(spark.createDataFrame(
        flush, "event_id long, ts timestamp, user_id long, "
               "event_type string, value double, props string"), "w3")
    drain()

    got = (spark.read.parquet(str(tmp_path / "out"))
           .where(F.col("user_id") >= 0))
    stream_counts = {(r.user_id): (r.n_sessions, r.n_events) for r in
                     got.groupBy("user_id")
                     .agg(F.count("*").alias("n_sessions"),
                          F.sum("n_events").cast("long").alias("n_events"))
                     .collect()}
    batch = {r.user_id: (r.n_sessions, r.n_events)
             for r in w_lag_gap_sessions(spark, sf).collect()}
    assert stream_counts == batch
