"""Oracle check of a committed ``documents_extracted`` table.

Every committed document is compared with the cached
``tests/oracle.py`` output on its ``(kind, text, media_ref, order)``
sequence.  A document counts as an error when it is missing, committed
more than once, not in the corpus, or differs from the oracle.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

FIELDS = ("kind", "text", "media_ref", "order")


def _same(a: pa.Array, b: pa.Array) -> np.ndarray:
    """Elementwise equality with null == null."""
    eq = pc.fill_null(pc.equal(a, b), False)
    both_null = pc.and_(pc.is_null(a), pc.is_null(b))
    return pc.or_(eq, both_null).to_numpy(zero_copy_only=False)


def check_store(extracted_dir: str, expected: pa.Table) -> dict:
    got = pq.read_table(extracted_dir, columns=["doc_id", "spans"])
    ids = got.column("doc_id").combine_chunks()
    exp_ids = expected.column("doc_id").combine_chunks()

    duplicated = len(ids) - len(pc.unique(ids))
    missing = len(exp_ids) - pc.sum(pc.is_in(exp_ids, value_set=ids)).as_py()
    pos = pc.index_in(ids, value_set=exp_ids)
    unknown = pos.null_count

    known = pc.is_valid(pos)
    got_spans = pc.filter(got.column("spans").combine_chunks(), known)
    exp_spans = expected.column("spans").combine_chunks().take(
        pc.filter(pos, known))
    got_len = pc.fill_null(pc.list_value_length(got_spans), -1).to_numpy(
        zero_copy_only=False)
    exp_len = pc.list_value_length(exp_spans).to_numpy(zero_copy_only=False)
    bad = got_len != exp_len
    same_len = pa.array(~bad)
    g = pc.filter(got_spans, same_len)
    e = pc.filter(exp_spans, same_len)
    gf, ef = g.flatten(), e.flatten()
    ok = np.ones(len(gf), bool)
    for name in FIELDS:
        ok &= _same(gf.field(name), ef.field(name))
    row_of = np.repeat(np.arange(len(g)),
                       pc.list_value_length(g).to_numpy(zero_copy_only=False))
    mismatched = int(bad.sum()) + len(np.unique(row_of[~ok]))
    return {"rows": len(ids), "missing": missing, "duplicated": duplicated,
            "unknown": unknown, "mismatched": mismatched,
            "errors": missing + duplicated + unknown + mismatched}


def table_bytes(table_dir: str) -> int:
    """Bytes of a table's data files (no _SUCCESS, no .crc)."""
    total = 0
    for dirpath, _, files in os.walk(table_dir):
        for f in files:
            if not f.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(dirpath, f))
    return total
