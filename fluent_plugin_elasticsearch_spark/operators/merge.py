"""Index merge / compaction — the engine analogue of ES segment merging and
force-merge (the reference's rollover generations accumulate exactly such
mergeable per-period indexes; sinks/lifecycle.py + streaming ingest create
them incrementally).

`merge_indexes` unions the source indexes' posting blocks and re-runs the
SAME phase-2 merge used by the build (decode → lexsort by (term, doc) →
re-block → re-encode), per (shard, term_bucket) group — a compacted index
over disjoint doc sets is therefore byte-equivalent in semantics to a
from-scratch build over the union corpus (rank-identity is tested, with
max_tfn recomputed against the merged avgdl). Works for positional and
non-positional indexes (flags must match across sources).

Scale shape: one shuffle of the already-compressed blocks keyed by
(shard, term_bucket) — compaction cost tracks index size, not corpus text.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .index_build import (
    _bucket_col,
    _make_merge_fn,
    _manifest_rows,
    _schemas,
    _shard_metrics,
    _write_manifest_rows,
)


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
    run_id = run_id or f"merge-{int(time.time())}"
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
    avgdl = total_tokens / n_docs
    k1, b, block_size = m0["k1"], m0["b"], m0["block_size"]
    with_positions = bool(m0.get("with_positions"))

    blocks = None
    for d in src_dirs:
        part = spark.read.parquet(os.path.join(d, "postings"))
        blocks = part if blocks is None else blocks.unionByName(part)
    blocks = blocks.withColumn("term_bucket", _bucket_col())
    merge_fn = _make_merge_fn(avgdl, k1, b, block_size, with_positions)

    os.makedirs(out_dir, exist_ok=True)
    merged = blocks.groupBy("shard", "term_bucket").applyInPandas(
        merge_fn, _schemas(with_positions)[1])
    from pyspark.sql import Observation

    obs = Observation("merge_metrics")
    shards = range(m0["n_shards"])
    merged = merged.observe(obs, *_shard_metrics(shards, with_positions))
    t0 = time.time()
    (
        merged.repartition("shard")
        .sortWithinPartitions("term", "first_doc")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(os.path.join(out_dir, "postings"))
    )
    wall = time.time() - t0
    ds = None
    for d in src_dirs:
        part = spark.read.parquet(os.path.join(d, "doc_stats"))
        ds = part if ds is None else ds.unionByName(part, allowMissingColumns=True)
    ds.repartition("shard").write.mode("overwrite").partitionBy("shard").parquet(
        os.path.join(out_dir, "doc_stats")
    )
    (
        spark.read.parquet(os.path.join(out_dir, "postings"))
        .groupBy("term")
        .agg(F.sum("n_docs").alias("df"))
        .repartitionByRange(max(1, m0["n_shards"] // 2), "term")
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "term_stats"))
    )
    meta = dict(m0)
    meta.update(
        n_docs=n_docs, avgdl=avgdl, total_tokens=total_tokens, run_id=run_id,
        merged_from=[os.path.basename(d.rstrip("/")) for d in src_dirs],
    )
    with open(os.path.join(out_dir, "meta.json"), "w") as f:
        json.dump(meta, f)
    rows = _manifest_rows(spark, obs.get, shards, run_id, wall)
    _write_manifest_rows(os.path.join(out_dir, "_manifest"), rows, run_id)
    return {"meta": meta}
