"""The extraction pipeline as one fused Arrow stage.

Spark re-expression of the reference's per-document flow (SURVEY.md
§3 EP1): ``read -> [resume anti-join] -> weighted repartition ->
mapInArrow(extract) -> write``.  Decode + layout + dedupe + filters
are fused into a single ``mapInArrow`` so the heavy span payloads
cross the JVM<->Arrow boundary exactly once (the reference's analog:
lazy one-time model init + page-at-a-time streaming,
/root/reference/ocr_processor.py:47-59, /root/reference/main.py:197-280).
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..kernel.extract import extract_record_batch
from . import schemas
from .partitioning import with_bin


def _extract_iter(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    # iterator form: per-task setup happens once, then Arrow batches
    # stream through with bounded memory (S3 streaming analog,
    # /root/reference/pdf_processor.py:63-83)
    for rb in batches:
        if rb.num_rows:
            yield extract_record_batch(rb)


def extract_documents(df: DataFrame) -> DataFrame:
    """documents(doc_id, spans) -> EXTRACTED rows (spans + metrics).

    mapInArrow, not mapInPandas: the nested spans column stays Arrow
    end-to-end (zero-copy flatten in, offsets+flat-arrays out); the
    pandas list<struct> marshaling measured ~5x the kernel compute.
    Explicitly prunes to the two needed columns before the UDF —
    UDFs are pruning barriers (SURVEY.md §4)."""
    return df.select("doc_id", "spans").mapInArrow(
        _extract_iter, schema=schemas.EXTRACTED)


def binned_extraction(documents: DataFrame, map_df: DataFrame,
                      num_partitions: int, buckets: int,
                      *keep: Column) -> DataFrame:
    """The extraction stage of batch and streaming jobs: bin every doc
    through the broadcast ``map_df`` (partitioning.mapping_df), apply
    the ``keep`` filters on ``bin`` below the Exchange (batch resume),
    place each bin in its own partition, run the kernel, and re-derive
    ``bin`` from doc_id after the UDF via the same mapping table (no
    threading of bin through the Arrow stage)."""
    binned = with_bin(documents, map_df, buckets)
    for cond in keep:
        binned = binned.where(cond)
    part = (binned.repartition(num_partitions, "rep")
            .sortWithinPartitions("doc_id"))
    return with_bin(extract_documents(part), map_df, buckets).drop("rep")


def extracted_spans_flat(extracted: DataFrame) -> DataFrame:
    """Explode to one row per output span, preserving array position."""
    return extracted.select(
        "doc_id", F.posexplode("spans").alias("pos", "span")
    ).select(
        "doc_id", "pos",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.order").alias("order"),
    )


def doc_stats(extracted: DataFrame) -> DataFrame:
    """Per-document summary (A1-A8 analog, pure built-in expressions —
    no UDF): ordered text concat via array HOFs (order-preserving, no
    shuffle), counts, media tally."""
    spans = F.col("spans")
    text_spans = F.filter(spans, lambda s: s.kind == F.lit("text"))
    return extracted.select(
        "doc_id",
        F.size(spans).alias("n_spans"),
        F.size(text_spans).alias("n_text_spans"),
        (F.size(spans) - F.size(text_spans)).alias("n_media_spans"),
        F.concat_ws(" ", F.transform(text_spans, lambda s: s.text))
         .alias("document_text"),
        F.length(F.concat_ws(" ", F.transform(text_spans, lambda s: s.text)))
         .alias("document_length"),
        "span_count_in", "malformed", "merged_away",
        "dedup_removed", "filtered",
    )


def documents_df(spark: SparkSession, docs: list[dict]) -> DataFrame:
    """Build a documents DataFrame from generator output (tests/bench)."""
    rows = [(d["doc_id"],
             [(s["kind"], s["text"], s["media_ref"], s["offset"])
              for s in d["spans"]])
            for d in docs]
    return spark.createDataFrame(rows, schema=schemas.DOCUMENTS)
