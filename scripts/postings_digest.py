"""Per-column digest of every table an index writer writes:
``postings/``, ``doc_stats/``, ``term_stats/`` and ``meta.json``.

    python scripts/postings_digest.py <index_dir>

Prints one line per column, ``<table>.<column> <rows> <sha256>``, then
one line per ``meta.json`` key, ``meta.<key> <json value>``. Rows are put
in a canonical order first (postings by shard, term, block_id; doc_stats
by shard, doc_id; term_stats by term), so the digest does not depend on
how Spark split the tables into files. Two indexes are identical exactly
when every line matches: run it on both and ``diff`` the output (pass the
same ``run_id`` to both writes, since ``meta.json`` records it).
"""

from __future__ import annotations

import hashlib
import json
import os
import struct
import sys

import numpy as np
import pyarrow.dataset as pads

SORT_KEYS = {"postings": ["shard", "term", "block_id"], "doc_stats": ["shard", "doc_id"],
             "term_stats": ["term"]}


def _column_digest(values) -> str:
    h = hashlib.sha256()
    if values.dtype == object:  # strings and binaries: length-prefixed
        for v in values:
            b = v.encode("utf-8") if isinstance(v, str) else bytes(v)
            h.update(struct.pack("<q", len(b)))
            h.update(b)
    else:
        arr = values.to_numpy()
        arr = arr.astype(np.float64 if arr.dtype.kind == "f" else np.int64)
        h.update(np.ascontiguousarray(arr).tobytes())
    return h.hexdigest()


def digest(index_dir: str) -> list[str]:
    lines = []
    for table, keys in SORT_KEYS.items():
        pdf = pads.dataset(os.path.join(index_dir, table), format="parquet",
                           partitioning="hive").to_table().to_pandas()
        if "shard" in pdf:
            pdf["shard"] = pdf["shard"].astype(np.int64)
        pdf = pdf.sort_values(keys, kind="stable").reset_index(drop=True)
        for col in sorted(pdf.columns):
            lines.append(f"{table}.{col} {len(pdf)} {_column_digest(pdf[col])}")
    with open(os.path.join(index_dir, "meta.json")) as f:
        meta = json.load(f)
    lines += [f"meta.{k} {json.dumps(v)}" for k, v in meta.items()]
    return lines


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    print("\n".join(digest(sys.argv[1])))
