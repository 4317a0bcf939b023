"""Index merge / compaction — the engine analogue of ES segment merging and
force-merge (the reference's rollover generations accumulate exactly such
mergeable per-period indexes; sinks/lifecycle.py + streaming ingest create
them incrementally).

`merge_indexes` checks that the sources' meta agree, unions their posting
blocks and doc_stats, and hands them to the build's one index writer,
``index_build.write_index``: the SAME phase-2 merge (decode → lexsort by
(term, doc) → re-block → re-encode) per (shard, term_bucket) group, and
the same postings, doc_stats, manifest, term_stats and meta.json writes.
A compacted index over disjoint doc sets therefore holds the postings of
a from-scratch build over the union corpus (tested, with max_tfn
recomputed against the merged avgdl). Works for positional and
non-positional indexes (flags must match across sources).

Scale shape: one shuffle of the already-compressed blocks keyed by
(shard, term_bucket) — compaction cost tracks index size, not corpus text.
"""

from __future__ import annotations

import functools
import json
import os
import time

from pyspark.sql import SparkSession

from .index_build import write_index


def compact_generations(spark: SparkSession, index_dir: str,
                        dest: str | None = None) -> str:
    """Compact every ``gen=*`` increment under `index_dir` (written by
    streaming.ingest.incremental_index_update) into one index — the
    scheduled force-merge a serving cluster runs between query load peaks."""
    import glob

    gens = sorted(glob.glob(os.path.join(index_dir, "gen=*")))
    if not gens:
        raise ValueError(f"no gen=* increments under {index_dir}")
    dest = dest or os.path.join(index_dir, f"compacted-{int(time.time())}")
    merge_indexes(spark, gens, dest)
    return dest


def merge_indexes(spark: SparkSession, src_dirs: list[str], out_dir: str,
                  run_id: str | None = None) -> dict:
    """Compact `src_dirs` (disjoint doc sets — e.g. rollover generations or
    streaming increments) into one index at `out_dir`."""
    metas = []
    for d in src_dirs:
        with open(os.path.join(d, "meta.json")) as f:
            metas.append(json.load(f))
    m0 = metas[0]
    for m in metas[1:]:
        for key in ("tokenizer", "k1", "b", "n_shards", "with_positions", "block_size"):
            if m.get(key) != m0.get(key):
                raise ValueError(f"meta mismatch on {key!r}: {m.get(key)} vs {m0.get(key)}")
    n_docs = sum(m["n_docs"] for m in metas)
    total_tokens = sum(m["total_tokens"] for m in metas)
    meta = dict(m0, n_docs=n_docs, avgdl=total_tokens / n_docs, total_tokens=total_tokens,
                run_id=run_id or f"merge-{int(time.time())}",
                merged_from=[os.path.basename(d.rstrip("/")) for d in src_dirs])

    def union(table):
        return functools.reduce(
            lambda x, y: x.unionByName(y, allowMissingColumns=True),
            (spark.read.parquet(os.path.join(d, table)) for d in src_dirs))

    write_index(spark, out_dir, meta, [(range(m0["n_shards"]), union("postings"),
                                        union("doc_stats"))])
    return {"meta": meta}
