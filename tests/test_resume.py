"""Kill-and-rerun resume semantics (SURVEY.md §5 item 5, FIXTURES.md §3):
a run killed at an arbitrary partition boundary, resumed, must produce a
final table content-identical to a single-shot run, and must not
recompute done bins."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from ai_pdf_ocr_spark.engine.checkpoint import run_extraction
from ai_pdf_ocr_spark.engine.io import TableStore
from ai_pdf_ocr_spark.engine.pipeline import documents_df
from ai_pdf_ocr_spark.fixtures.generate import make_documents


def _content(store):
    rows = (store.read_extracted()
            .select("doc_id", "bin", F.to_json("spans").alias("s"),
                    "span_count_in", "span_count_out", "dedup_removed")
            .collect())
    return sorted(tuple(r) for r in rows)


def test_resume_content_identical(spark, tmp_path):
    docs = make_documents(120, seed=31)
    df = documents_df(spark, docs)
    P = 6

    # single-shot reference run
    full = TableStore(spark, str(tmp_path / "full"))
    s1 = run_extraction(spark, df, full, "run-A", P)
    assert s1["docs_processed"] == 120
    want = _content(full)

    # killed run: only bins {0,1,2} complete
    part = TableStore(spark, str(tmp_path / "part"))
    s2 = run_extraction(spark, df, part, "run-A", P,
                        _bin_filter={0, 1, 2})
    assert set(s2["bins_processed"]) <= {0, 1, 2}
    interim = part.read_extracted().count()
    assert 0 < interim < 120

    # resume: processes exactly the remaining bins
    s3 = run_extraction(spark, df, part, "run-A", P)
    assert set(s3["bins_processed"]) == set(range(P)) - set(s2["bins_processed"])
    assert s2["docs_processed"] + s3["docs_processed"] == 120
    assert _content(part) == want

    # idempotent: a third run is a no-op
    s4 = run_extraction(spark, df, part, "run-A", P)
    assert s4["bins_processed"] == [] and s4["docs_processed"] == 0
    assert _content(part) == want


def test_checkpoint_lineage_rows(spark, tmp_path):
    docs = make_documents(60, seed=77)
    df = documents_df(spark, docs)
    store = TableStore(spark, str(tmp_path / "t"))
    run_extraction(spark, df, store, "run-B", 4)
    ck = store.read_checkpoint().collect()
    assert {r.bin for r in ck} == {0, 1, 2, 3}
    assert all(r.status == "done" and r.run_id == "run-B" for r in ck)
    assert sum(r.doc_count for r in ck) == 60
    total_in = sum(r.span_count_in for r in ck)
    assert total_in == sum(len(d["spans"]) for d in docs)
    for r in ck:
        if r.doc_count:
            assert r.doc_id_min <= r.doc_id_max


def _checkpoint_files(store):
    return sorted(f for f in os.listdir(store.path("checkpoint"))
                  if f.endswith(".parquet"))


def test_lineage_empty_bins_one_file_per_run(spark, tmp_path):
    """More bins than docs: every bin gets exactly one 'done' row (the
    empty ones with zero counts and null doc-id bounds), and each run
    appends exactly one checkpoint file."""
    docs = make_documents(5, seed=13)
    df = documents_df(spark, docs)
    store = TableStore(spark, str(tmp_path / "t"))
    P = 8
    s1 = run_extraction(spark, df, store, "run-E", P)
    assert s1["docs_processed"] == 5
    assert s1["bins_processed"] == list(range(P))
    files = _checkpoint_files(store)
    assert len(files) == 1

    ck = store.read_checkpoint().collect()
    assert sorted(r.bin for r in ck) == list(range(P))
    assert all(r.status == "done" and r.run_id == "run-E" for r in ck)
    assert sum(r.doc_count for r in ck) == 5
    empty = [r for r in ck if r.doc_count == 0]
    assert empty  # 5 docs cannot fill 8 bins
    for r in empty:
        assert r.doc_id_min is None and r.doc_id_max is None
        assert (r.span_count_in, r.span_count_out, r.dedup_removed) \
            == (0, 0, 0)

    # no-op rerun: nothing processed, no lineage appended
    s2 = run_extraction(spark, df, store, "run-E", P)
    assert s2["bins_processed"] == [] and s2["docs_processed"] == 0
    assert _checkpoint_files(store) == files

    # a second run_id over the same store adds exactly one more file
    run_extraction(spark, df, store, "run-F", P)
    assert len(_checkpoint_files(store)) == 2
