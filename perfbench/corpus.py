"""Workload corpora and their oracle output, generated from the seed.

Each corpus is written once per (corpus, seed) into the benchmark's
cache directory: ``input/`` holds the ``documents(doc_id, spans)``
parquet the job reads, ``expected.parquet`` holds the
``tests/oracle.py`` span sequence of every document, and ``meta.json``
holds the sizes the metrics are divided by.  Generation and the oracle
are pure Python, so they run in a spawn pool of one process per core
before any Spark process starts.
"""

from __future__ import annotations

import json
import multiprocessing
import os
import re
import shutil
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# the job's input schema (engine/schemas.py DOCUMENTS) and the oracle's
# output span, written as Arrow types so pyarrow needs no Spark import
SPAN_IN = pa.struct([("kind", pa.string()), ("text", pa.string()),
                     ("media_ref", pa.string()), ("offset", pa.int32())])
SPAN_OUT = pa.struct([("kind", pa.string()), ("text", pa.string()),
                      ("media_ref", pa.string()), ("order", pa.int32())])
DOCUMENTS = pa.schema([pa.field("doc_id", pa.string(), nullable=False),
                       ("spans", pa.list_(SPAN_IN))])
EXPECTED = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(SPAN_OUT))])

# bulk: the submit_job --generate mix (synthetic_documents_distributed
# with heavy_tail_frac=0.02 -> every 50th doc heavy-tailed)
HEAVY_STRIDE = 50
# dense: every COMPOSED_EVERY-th doc gets a page 1 composed from the
# page-1 spans of consecutive generated docs, its size stepping through
# COMPOSED_SPANS (above the kernel's SMALL_PAGE=160, so such pages take
# layout.process_page).  Count and sizes are fixed, not drawn, because
# the O(n^2) cost of these pages dominates the job: the seed varies
# their content, not the amount of work.
COMPOSED_EVERY = 7
COMPOSED_SPANS = (300, 1000)
COMPOSED_STEPS = 8

CHUNK_DOCS = 40          # pool task size; the dense corpus depends on it
INPUT_FILES = 16

_PAGE_RE = re.compile(r"(-?\d+);")


def _page(span: dict) -> int | None:
    m = _PAGE_RE.match(span["text"] or "")
    return int(m.group(1)) if m else None


def _bulk_docs(seed: int, lo: int, hi: int) -> list[dict]:
    from ai_pdf_ocr_spark.fixtures.generate import build_document
    return [build_document(f"doc-{i:08d}", seed,
                           heavy_tail=i % HEAVY_STRIDE == 0)
            for i in range(lo, hi)]


def _dense_docs(seed: int, lo: int, hi: int) -> list[dict]:
    """Heavy-tailed docs; every COMPOSED_EVERY-th one gets a page 1
    that also carries page 1 of the next generated docs (offsets
    renumbered in arrival order)."""
    from ai_pdf_ocr_spark.fixtures.generate import build_document
    lo_n, hi_n = COMPOSED_SPANS
    g = 0

    def gen() -> list[dict]:
        nonlocal g
        g += 1
        d = build_document(f"gen-{lo:08d}-{g:06d}", seed, heavy_tail=True)
        return sorted(d["spans"], key=lambda s: s["offset"])

    docs = []
    for i in range(lo, hi):
        spans = gen()
        if i % COMPOSED_EVERY == 0:
            step = i // COMPOSED_EVERY % COMPOSED_STEPS
            target = lo_n + step * (hi_n - lo_n) // (COMPOSED_STEPS - 1)
            page1 = sum(_page(s) == 1 for s in spans)
            while page1 < target:
                extra = [s for s in gen() if _page(s) == 1]
                if page1 >= lo_n and page1 + len(extra) > hi_n:
                    break
                spans += extra
                page1 += len(extra)
            spans = [dict(s, offset=k) for k, s in enumerate(spans)]
        docs.append({"doc_id": f"dense-{i:08d}", "spans": spans})
    return docs


_GENERATORS = {"bulk": _bulk_docs, "dense": _dense_docs}


def _chunk(task: tuple[str, int, int, int]) -> tuple[pa.Table, pa.Table]:
    """One pool task: (input rows, oracle rows) for docs [lo, hi)."""
    from tests import oracle
    kind, seed, lo, hi = task
    docs = _GENERATORS[kind](seed, lo, hi)
    inp = pa.Table.from_pylist(
        [{"doc_id": d["doc_id"], "spans": d["spans"]} for d in docs],
        schema=DOCUMENTS)
    exp = pa.Table.from_pylist(
        [{"doc_id": d["doc_id"],
          "spans": [dict(zip(("kind", "text", "media_ref", "order"), t))
                    for t in oracle.extract_document(d["spans"])]}
         for d in docs],
        schema=EXPECTED)
    return inp, exp


def ensure(cache: str, kind: str, n_docs: int, seed: int,
           procs: int) -> tuple[str, dict]:
    """Return (corpus dir, meta), generating the corpus if absent."""
    name = f"{kind}-n{n_docs}-s{seed}"
    root = os.path.join(cache, "corpus", name)
    meta_path = os.path.join(root, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return root, json.load(f)

    t0 = time.perf_counter()
    tasks = [(kind, seed, lo, min(lo + CHUNK_DOCS, n_docs))
             for lo in range(0, n_docs, CHUNK_DOCS)]
    with multiprocessing.get_context("spawn").Pool(procs) as pool:
        parts = pool.map(_chunk, tasks)
    inp = pa.concat_tables([p[0] for p in parts])
    exp = pa.concat_tables([p[1] for p in parts])

    tmp = root + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "input"))
    step = -(-inp.num_rows // INPUT_FILES)
    for k in range(INPUT_FILES):
        pq.write_table(inp.slice(k * step, step),
                       os.path.join(tmp, "input", f"part-{k:03d}.parquet"))
    pq.write_table(exp, os.path.join(tmp, "expected.parquet"))
    input_bytes = sum(e.stat().st_size
                      for e in os.scandir(os.path.join(tmp, "input")))
    meta = {"corpus": name, "docs": inp.num_rows,
            "spans": pc.sum(pc.list_value_length(inp.column("spans"))).as_py(),
            "input_bytes": input_bytes,
            "generate_s": time.perf_counter() - t0}
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    os.rename(tmp, root)
    _prune(os.path.join(cache, "corpus"), keep=root)
    return root, meta


def _prune(corpus_dir: str, keep: str, max_kept: int = 6) -> None:
    """Drop the least recently written corpora beyond ``max_kept``."""
    dirs = sorted((e for e in os.scandir(corpus_dir) if e.is_dir()),
                  key=lambda e: e.stat().st_mtime, reverse=True)
    for e in dirs[max_kept:]:
        if e.path != keep:
            shutil.rmtree(e.path, ignore_errors=True)
