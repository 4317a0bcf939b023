"""Per-column digest of a built index's ``postings/`` and ``term_stats/``.

    python scripts/postings_digest.py <index_dir>

Prints one line per column, ``<table>.<column> <rows> <sha256>``. Rows
are put in a canonical order first (postings by shard, term, block_id;
term_stats by term), so the digest does not depend on how Spark split the
tables into files. Two builds hold identical postings exactly when every
line matches: run it on both and ``diff`` the output.
"""

from __future__ import annotations

import hashlib
import os
import struct
import sys

import numpy as np
import pyarrow.dataset as pads

SORT_KEYS = {"postings": ["shard", "term", "block_id"], "term_stats": ["term"]}


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
    return lines


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    print("\n".join(digest(sys.argv[1])))
