"""WAND serving-latency measurement at index scale (verdict item 1's
done-criterion): p50/p99 under FORCED mode='wand' on the bench query set
(incl. the high-mass all-stopword query) against 600k- and 2M-doc
indexes, plus mode='auto' for the serving default.

Usage: python scripts/wand_latency.py [--json out.json]
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from fluent_plugin_elasticsearch_spark.session import get_spark  # noqa: E402

QUERIES = [
    "the of and",            # pure stopword mass — block-max skipping's worst case
    "bababa",
    "the bababa café",
    "日 本 語",
    "madaba the",
    "cababa bebaba of",
    "zzzznotaterm",
    "café über naïve the",
]


def measure(spark, n_docs: int) -> dict:
    from fluent_plugin_elasticsearch_spark.corpus import write_corpus_spark
    from fluent_plugin_elasticsearch_spark.operators.index_build import (
        build_index, with_doc_id)
    from fluent_plugin_elasticsearch_spark.operators.search import InvertedIndex

    corpus = tempfile.mkdtemp(prefix=f"wl{n_docs}_") + "/webtext"
    write_corpus_spark(spark, corpus, n_docs, seed=42, avg_len=120)
    docs = with_doc_id(spark.read.parquet(corpus), "url")
    idx_dir = tempfile.mkdtemp(prefix=f"wlidx{n_docs}_") + "/idx"
    t0 = time.time()
    # 64, NOT cores: shard sizing is two-sided — one task wave per job
    # wants shards ≈ cores, but per-shard posting mass must stay bounded
    # (measured r4: 32 shards at 2M docs doubles shard mass and moves
    # forced-WAND p50 0.38→3.2 s; 64 keeps both 600k and 2M healthy)
    n_shards = int(os.environ.get("WL_SHARDS", "64"))
    build_index(spark, docs, idx_dir, id_col="doc_id", html_col="html",
                text_col=None, url_col="url", tokenizer="unicode",
                n_shards=n_shards, n_salts=8)
    build_s = time.time() - t0
    idx = InvertedIndex(spark, idx_dir).warm()
    out: dict = {"n_docs": n_docs, "build_wall_s": round(build_s, 1),
                 "build_docs_per_sec": round(n_docs / build_s)}
    for mode in ("wand", "auto"):
        lat: list[float] = []
        per_q: dict[str, float] = {}
        for _pass in range(2):  # pass 2 ≈ steady state; both recorded
            for q in QUERIES:
                t0 = time.time()
                idx.search(q, k=10, mode=mode).collect()
                w = time.time() - t0
                lat.append(w)
                per_q[q] = min(per_q.get(q, w), w)
        lat_s = sorted(lat)
        out[mode] = {
            "p50_s": round(statistics.median(lat_s), 4),
            "p99_s": round(lat_s[min(len(lat_s) - 1, int(0.99 * len(lat_s)))], 4),
            "high_mass_best_s": round(per_q["the of and"], 4),
        }
    return out


def main() -> None:
    spark = get_spark("wand_latency", cores="*", shuffle_partitions=64,
                      tmpfs_scratch=True)
    res = {"600k": measure(spark, 600_000), "2M": measure(spark, 2_000_000)}
    print(json.dumps(res, indent=2))
    if "--json" in sys.argv:
        with open(sys.argv[sys.argv.index("--json") + 1], "w") as f:
            json.dump(res, f, indent=2)
    spark.stop()


if __name__ == "__main__":
    main()
