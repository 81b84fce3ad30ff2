"""Checkpointed, resumable extraction runs.

Mirrors the reference's checkpoint-exists short-circuit
(``/root/reference/main.py:368-398``: JSON checkpoint written at
``:418``, resume skips OCR at ``:429-430``) at partition granularity:

 - bins are a deterministic pure function of (corpus, P, buckets)
   (see partitioning.py), so a rerun reproduces identical bins;
 - extracted output is written with dynamic partition overwrite, so a
   partially-written bin from a killed run is cleanly replaced;
 - a checkpoint row (lineage + span-count metrics, FIXTURES.md §3) is
   appended per bin only after the data write committed — resume skips
   exactly the bins with a 'done' row (anti-join semantics, J4).
"""

from __future__ import annotations

import time

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from ..kernel.extract import KERNEL_VERSION
from . import schemas
from .io import TableStore
from .partitioning import DEFAULT_BUCKETS, compute_assignment, mapping_df
from .pipeline import binned_extraction

# lineage columns of a bin that received no docs
_EMPTY_BIN = {"doc_id_min": None, "doc_id_max": None, "doc_count": 0,
              "span_count_in": 0, "span_count_out": 0, "dedup_removed": 0}


def done_bins(store: TableStore, run_id: str) -> set[int]:
    """Bins of ``run_id`` that already have a 'done' lineage row."""
    return {
        r.bin for r in
        store.read_checkpoint()
        .where((F.col("run_id") == run_id) & (F.col("status") == "done"))
        .select("bin").distinct().collect()
    }


def append_lineage(store: TableStore, committed: DataFrame,
                   bins: list[int], run_id: str,
                   wall: float) -> list[dict]:
    """Append one 'done' lineage row per bin of ``bins``, aggregated
    once from the ``committed`` output; bins that received zero docs
    still get a row so resume never retargets them.  Returns the rows.

    The rows are collected, then written from an Arrow local relation
    with ``coalesce(1)``: one checkpoint file per call, and no second
    run of the aggregate (up to defaultParallelism tasks would
    otherwise each write a file)."""
    stats = {
        r.bin: r.asDict() for r in
        committed.where(F.col("bin").isin(*bins))
        .groupBy("bin")
        .agg(F.min("doc_id").alias("doc_id_min"),
             F.max("doc_id").alias("doc_id_max"),
             F.count("*").alias("doc_count"),
             F.sum("span_count_in").alias("span_count_in"),
             F.sum("span_count_out").alias("span_count_out"),
             F.sum("dedup_removed").alias("dedup_removed"))
        .collect()
    }
    lineage = [{**stats.get(b, _EMPTY_BIN), "run_id": run_id, "bin": b,
                "kernel_version": KERNEL_VERSION, "wall_time_s": wall,
                "status": "done"} for b in bins]
    store.append_checkpoint(store.spark.createDataFrame(pa.Table.from_pylist(
        lineage, schema=to_arrow_schema(schemas.CHECKPOINT))).coalesce(1))
    return lineage


def run_extraction(spark: SparkSession, documents: DataFrame,
                   store: TableStore, run_id: str,
                   num_partitions: int,
                   buckets: int = DEFAULT_BUCKETS,
                   _bin_filter: set[int] | None = None) -> dict:
    """Run (or resume) one extraction job; returns a summary dict.

    ``_bin_filter`` restricts processing to the given bins — used by the
    kill-and-rerun tests to simulate a job that died mid-corpus."""
    t0 = time.monotonic()

    # deterministic bins MUST be derived from the full corpus (resume
    # filtering happens after) so reruns reproduce identical layout
    assignment = compute_assignment(documents, num_partitions, buckets)
    done = done_bins(store, run_id)
    keep = [~F.col("bin").isin(*done)] if done else []
    if _bin_filter is not None:
        keep.append(F.col("bin").isin(*_bin_filter))

    target_bins = sorted(
        (set(range(num_partitions)) - done)
        & (_bin_filter if _bin_filter is not None
           else set(range(num_partitions))))
    if not target_bins:
        return {"run_id": run_id, "bins_done_prior": sorted(done),
                "bins_processed": [], "docs_processed": 0,
                "wall_time_s": time.monotonic() - t0}

    store.write_extracted(binned_extraction(
        documents, mapping_df(spark, assignment, num_partitions),
        num_partitions, buckets, *keep), mode="overwrite")
    wall = time.monotonic() - t0

    lineage = append_lineage(store, store.read_extracted(), target_bins,
                             run_id, wall)
    return {"run_id": run_id, "bins_done_prior": sorted(done),
            "bins_processed": target_bins,
            "docs_processed": sum(r["doc_count"] for r in lineage),
            "wall_time_s": wall}
