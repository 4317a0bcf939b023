"""Benchmark harness — prints ONE JSON line:
{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Headline numbers (BASELINE.json metric):
  * index-build throughput (docs/sec) over the deterministic webtext corpus
  * BM25 top-10 query latency p50/p99 (block-max WAND), rank-identical set
  * the sf-dir analytical queries from __spark_entry__ (documents/events/
    lineitem tables)

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32),
     BENCH_DOCS (webtext corpus size, default 100000).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

# mix of head/stopword terms (WAND pruning stress), common and mid-rank
# zipf vocab terms ('bababa' = rank 0, 'madaba' ≈ rank 1000), unicode, and
# an absent term — mirroring the reference query set shape (FIXTURES.md §3)
BENCH_QUERIES = [
    "the of and",
    "bababa",
    "the bababa café",
    "日 本 語",
    "madaba the",
    "cababa bebaba of",
    "zzzznotaterm",
    "café über naïve the",
]


def run_bench(cores: int, sf_dir: str, n_docs: int, out: dict | None = None) -> dict:
    from fluent_plugin_elasticsearch_spark.operators.index_build import build_index, with_doc_id
    from fluent_plugin_elasticsearch_spark.operators.search import InvertedIndex
    from fluent_plugin_elasticsearch_spark.session import get_spark

    res = out if out is not None else {}
    # tmpfs scratch: explicit benchmark opt-in (library default is off;
    # see session.py — the advisor flagged silent tmpfs redirection)
    spark = get_spark(app_name=f"bench{cores}", cores=cores, shuffle_partitions=2 * cores,
                      tmpfs_scratch=True)

    # --- corpus materialization (untimed: input generation, not the engine)
    from fluent_plugin_elasticsearch_spark.corpus import write_corpus_spark

    corpus_path = tempfile.mkdtemp(prefix="bench_corpus_") + "/webtext"
    write_corpus_spark(spark, corpus_path, n_docs, seed=42, avg_len=120)
    docs = with_doc_id(spark.read.parquet(corpus_path), "url")

    # --- index build throughput: best-of-2 serial trials. This sandbox's
    # hypervisor shows ±25-50% wall variance between IDENTICAL runs (all
    # of today's: 25.4/29.4/31.7/35.0 s for the same code); best-of-N is
    # the established estimator here (same protocol as SCALING.json, which
    # records every trial). Both walls are reported.
    # Shard sizing is two-sided: shards ≈ cores gives one task wave per
    # job (64 on 32 cores = 2 waves + stragglers — build 9.7→6.5 s, wand
    # p99 1.05→0.30 s at this corpus), but per-shard posting mass must
    # stay bounded as the corpus grows (at 2M docs, 32 shards doubles
    # shard mass and moves forced-WAND p50 0.38→3.2 s — scripts/
    # wand_latency.py keeps 64 there). Here: 100k docs / 32 shards ≈ 3k
    # docs/shard, comfortably inside the kernel's working set.
    n_shards = cores
    walls = []
    for trial in range(2):
        idx_dir = tempfile.mkdtemp(prefix=f"bench_idx{trial}_") + "/idx"
        t0 = time.time()
        build_index(
            spark, docs, idx_dir, id_col="doc_id", html_col="html", text_col=None,
            url_col="url", tokenizer="unicode", n_shards=n_shards, n_salts=8,
        )
        walls.append(time.time() - t0)
    build_s = min(walls)
    res["index_build_sec"] = round(build_s, 3)
    res["index_build_walls"] = [round(w, 3) for w in walls]
    res["index_build_docs_per_sec"] = round(n_docs / build_s, 1)

    # --- query latency (WAND), p50/p99 over the reference query set
    # (serving mode: postings pinned in memory + the term dictionary, like an
    # ES node with page-cache-resident segments)
    idx = InvertedIndex(spark, idx_dir).warm()
    lat = []
    for q in BENCH_QUERIES:  # cold-ish first pass (worker spin-up included)
        t0 = time.time()
        idx.search(q, k=10, mode="wand").collect()
        lat.append(time.time() - t0)
    for q in BENCH_QUERIES:  # second pass ≈ steady state
        t0 = time.time()
        idx.search(q, k=10, mode="wand").collect()
        lat.append(time.time() - t0)
    lat_s = sorted(lat)
    res["query_p50_sec"] = round(statistics.median(lat_s), 4)
    res["query_p99_sec"] = round(lat_s[min(len(lat_s) - 1, int(0.99 * len(lat_s)))], 4)
    res["query_mean_sec"] = round(sum(lat_s) / len(lat_s), 4)
    # steady-state p99: pass 2 only (pass 1 pays one-time python-worker
    # spin-up; an ES node's serving p99 is the warm number — both published)
    lat2 = sorted(lat[len(BENCH_QUERIES):])
    res["query_p99_steady_sec"] = round(lat2[-1], 4)
    # serving default: mode='auto' (WAND only where shard posting mass pays
    # for the DAAT loop, vectorized exhaustive elsewhere — rank-identical)
    lat_auto = []
    for q in BENCH_QUERIES:
        t0 = time.time()
        idx.search(q, k=10, mode="auto").collect()
        lat_auto.append(time.time() - t0)
    res["query_auto_p50_sec"] = round(statistics.median(sorted(lat_auto)), 4)

    # --- index-backed multi_match serving (VERDICT r5 #2): per-field
    # indexes, postings-only scoring. The main index serves the body-text
    # field; a second (cheap) index over the url field completes the
    # two-field registry. Contract: latency in the same band as
    # single-match WAND — both are one postings job per field.
    from fluent_plugin_elasticsearch_spark.operators.index_build import build_index
    from fluent_plugin_elasticsearch_spark.operators.search import multi_match_topk

    url_idx_dir = tempfile.mkdtemp(prefix="bench_urlidx_") + "/idx"
    build_index(spark, docs, url_idx_dir, id_col="doc_id", text_col="url",
                tokenizer="unicode", n_shards=n_shards, n_salts=8)
    field_idx = {"text": idx,
                 "url": InvertedIndex(spark, url_idx_dir).warm()}
    mm_lat = []
    for _pass in range(2):
        for q in BENCH_QUERIES:
            from fluent_plugin_elasticsearch_spark.textproc import tokenize_unicode
            t0 = time.time()
            multi_match_topk(field_idx, tokenize_unicode(q), k=10).collect()
            mm_lat.append(time.time() - t0)
    mm_s = sorted(mm_lat)
    res["multi_match_p50_sec"] = round(statistics.median(mm_s), 4)
    res["multi_match_p99_sec"] = round(
        mm_s[min(len(mm_s) - 1, int(0.99 * len(mm_s)))], 4)

    # --- index-backed phrase + fuzzy serving (round-6 serving paths):
    # a positional index built once (its wall published separately — the
    # headline build stays the tf index for cross-round comparability),
    # then the match_phrase adjacency kernel and dictionary-expanded
    # fuzzy match, both postings-bounded per query.
    pos_dir = tempfile.mkdtemp(prefix="bench_posidx_") + "/idx"
    t0 = time.time()
    build_index(
        spark, docs, pos_dir, id_col="doc_id", html_col="html", text_col=None,
        url_col="url", tokenizer="unicode", n_shards=n_shards, n_salts=8,
        with_positions=True,
    )
    res["pos_index_build_sec"] = round(time.time() - t0, 3)
    pidx = InvertedIndex(spark, pos_dir).warm()
    ph_lat = []
    for _pass in range(2):
        for p in ["the bababa", "of the", "bababa the café", "madaba of"]:
            t0 = time.time()
            pidx.match_phrase(p, k=10).collect()
            ph_lat.append(time.time() - t0)
    res["match_phrase_p50_sec"] = round(statistics.median(sorted(ph_lat)), 4)
    from fluent_plugin_elasticsearch_spark.operators.search import fuzzy_match_topk

    fz_lat = []
    for _pass in range(2):
        for qf in ["bababa", "madaba the", "cababa"]:
            t0 = time.time()
            fuzzy_match_topk(idx, qf, fuzziness=1, k=10).collect()
            fz_lat.append(time.time() - t0)
    res["fuzzy_p50_sec"] = round(statistics.median(sorted(fz_lat)), 4)

    # --- index-backed sparse_vector serving (round-6): weighted-token
    # dot product from tf postings — the ELSER-style serving clause;
    # integer kernel, work bounded by the query terms' posting data.
    from pyspark.sql import functions as F

    sv_lat = []
    for _pass in range(2):
        for qv in [{"the": 1.5, "bababa": 2.0, "of": 0.5},
                   {"madaba": 2.2, "cafe": 1.1},
                   {"the": 0.3, "a": 0.3, "of": 0.3, "bababa": 3.0}]:
            t0 = time.time()
            (idx.sparse_vector_scores(qv)
             .orderBy(F.desc("score_u"), F.asc("doc_id")).limit(10)
             .collect())
            sv_lat.append(time.time() - t0)
    res["sparse_vector_p50_sec"] = round(statistics.median(sorted(sv_lat)), 4)

    # --- sf-dir analytical queries (documents/events/lineitem)
    import __spark_entry__ as entry_mod

    picks = [
        "bm25_topk", "exact_dedup", "token_counts", "lang_id", "quality_score",
        "ann_cosine_topk", "tpch_q1_agg", "join_topk_customers",
        "window_latest_event", "genid_sha256", "target_index", "upsert_merge",
    ]
    qs = entry_mod.queries()
    per_q = {}
    for name in picks:
        # best-of-2 serial trials: the hypervisor's 25-50% wall variance
        # (documented at the build timer above) otherwise dominates these
        # sub-second queries — round 2's one-shot token_counts reading
        # moved 0.56->0.82 s on noise alone
        best = None
        for _ in range(2):
            t0 = time.time()
            qs[name](spark, sf_dir).collect()
            w = time.time() - t0
            best = w if best is None else min(best, w)
        per_q[name] = round(best, 3)
    # --- batched ANN serving (offline query sets): 100-query batch — one
    # corpus pass scores every query (brute), and IVF with the assignment
    # job run ONCE and reused (IvfIndex), serve time measured separately
    from pyspark.sql import functions as F

    from fluent_plugin_elasticsearch_spark.operators.similarity import (
        IvfIndex, cosine_topk_batch)

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    qdf = emb.filter(F.col("vec_id") < 100).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # matmul batch form (rank-identical to the JVM-fold exactness baseline
    # away from float ties — asserted in tests/test_dedup_similarity.py)
    t0 = time.time()
    cosine_topk_batch(emb, qdf, k=10).collect()
    per_q["ann_batch_100_brute"] = round(time.time() - t0, 3)
    t0 = time.time()
    ivf = IvfIndex(emb, dim=64, n_lists=16)
    ivf.assigned.count()  # materialize the one-time assignment
    res["ivf_train_assign_sec"] = round(time.time() - t0, 3)
    t0 = time.time()
    ivf.search(qdf, k=10, n_probe=4).collect()
    per_q["ivf_batch_100_serve"] = round(time.time() - t0, 3)
    ivf.close()

    res["queries"] = per_q
    res["sf_queries_total_sec"] = round(sum(per_q.values()), 3)

    # --- streaming micro-batch latency (the e2e-tested loops, with numbers):
    # per-batch triggerExecution from the StreamingQuery progress log —
    # Spark's own measure of a micro-batch (planning + execution + commit)
    res["streaming"] = run_streaming_bench(spark)
    spark.stop()
    return res


def _drain_progress(q, min_batches: int, timeout_s: float = 60.0) -> list[float]:
    """Run a streaming query until `min_batches` non-empty batches have
    completed; return their triggerExecution walls (seconds)."""
    t0 = time.time()
    while time.time() - t0 < timeout_s:
        if q.exception() is not None:  # crashed stream: report, don't hang
            break
        done = [p for p in q.recentProgress if p["numInputRows"] > 0]
        if len(done) >= min_batches:
            break
        time.sleep(0.5)
    exc = q.exception()
    q.stop()
    q.awaitTermination(30)
    if exc is not None:
        raise RuntimeError(f"streaming query failed: {str(exc)[:500]}")
    return [
        p["durationMs"]["triggerExecution"] / 1000.0
        for p in q.recentProgress
        if p["numInputRows"] > 0
    ]


def _lat_summary(walls: list[float]) -> dict:
    """walls arrive in batch order; *_steady drops the FIRST batch (plan
    compile + codegen + broadcast build — ES pays the same on percolator
    registration, not per search)."""
    s = sorted(walls)
    steady = sorted(walls[1:])
    return {
        "batches": len(s),
        "p50_sec": round(statistics.median(s), 3) if s else None,
        "p99_sec": round(s[min(len(s) - 1, int(0.99 * len(s)))], 3) if s else None,
        "p99_steady_sec": round(
            steady[min(len(steady) - 1, int(0.99 * len(steady)))], 3) if steady else None,
    }


def run_streaming_bench(spark) -> dict:
    """Micro-batch latency for the two streaming loops at a fixed ingest
    rate: the buffered-write ingest pipeline (rate source → transform →
    partitioned append) and streaming percolation (rate source → reverse-
    index match against a 1000-query registry)."""
    from pyspark.sql import functions as F

    from fluent_plugin_elasticsearch_spark.operators.percolate import (
        make_query_registry, percolate_stream)
    from fluent_plugin_elasticsearch_spark.streaming.ingest import IngestPipeline

    out: dict = {"rows_per_sec": 20000}
    vocab = [f"w{i:02d}" for i in range(50)]

    # ingest: full transform chain (timestamp/target-index/genid/lineage)
    pipe = IngestPipeline(tempfile.mkdtemp(prefix="bench_ing_docs_"),
                          id_keys=["tag", "seq"], write_op="index")
    rate = (
        spark.readStream.format("rate").option("rowsPerSecond", 20000).load()
        .select(F.col("timestamp").alias("time"),
                (F.col("value") % 8).cast("string").alias("tag"),
                F.col("value").alias("seq"),
                F.sha2(F.col("value").cast("string"), 256).alias("message"))
    )
    q = pipe.start_stream(rate, tempfile.mkdtemp(prefix="bench_ing_ck_"),
                          trigger_sec=1)
    out["ingest"] = _lat_summary(_drain_progress(q, min_batches=8))

    # percolate: 1000 stored queries (1-3 terms, msm mixed) against docs of
    # 4 vocab words each
    registry = make_query_registry(spark, [
        (i, [vocab[i % 50], vocab[(i * 7 + 3) % 50]][: 1 + i % 2], 1 + i % 2)
        for i in range(1000)
    ])
    arr = F.array(*[F.lit(w) for w in vocab])

    def run_percolate(rows_per_sec: int) -> dict:
        docs = (
            spark.readStream.format("rate")
            .option("rowsPerSecond", rows_per_sec).load()
            .select(
                F.col("value").alias("doc_id"),
                F.concat_ws(
                    " ",
                    F.element_at(arr, (F.col("value") % 50 + 1).cast("int")),
                    F.element_at(arr, ((F.col("value") * 3 + 7) % 50 + 1).cast("int")),
                    F.element_at(arr, ((F.col("value") * 11 + 1) % 50 + 1).cast("int")),
                    F.element_at(arr, ((F.col("value") * 13 + 5) % 50 + 1).cast("int")),
                ).alias("text"),
            )
        )
        hits = {"n": 0}

        def sink(matches, batch_id):
            hits["n"] += matches.count()

        q = percolate_stream(docs, registry, sink,
                             tempfile.mkdtemp(prefix="bench_perc_ck_"))
        res = _lat_summary(_drain_progress(q, min_batches=8))
        res["rows_per_sec"] = rows_per_sec
        res["total_matches"] = hits["n"]
        return res

    # two operating points: saturated (~75% utilization at 1 s triggers —
    # queueing inflates the tail, reported for throughput context) and a
    # ~40%-utilization serving point where the tail reflects the plan, not
    # the queue
    out["percolate"] = run_percolate(20000)
    out["percolate_40pct"] = run_percolate(8000)
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_docs = int(os.environ.get("BENCH_DOCS", "100000"))
    res = run_bench(cores, sf_dir, n_docs)
    sf = 0.1 if "0.1" in sf_dir else (0.01 if "0.01" in sf_dir else sf_dir)
    total = res["index_build_sec"] + res["sf_queries_total_sec"]
    line = {
        "metric": "index_build+bm25_query+analytics wall seconds "
                  f"(build {n_docs} webtext docs @ {res['index_build_docs_per_sec']} docs/s, "
                  f"best of 2 trials {res['index_build_walls']}; "
                  f"wand p50 {res['query_p50_sec']}s p99 {res['query_p99_sec']}s)",
        "value": round(total, 3),
        "unit": "sec",
        "queries": {
            **res["queries"],
            "index_build": res["index_build_sec"],
            "wand_p50": res["query_p50_sec"],
            "wand_p99": res["query_p99_sec"],
            "wand_p99_steady": res["query_p99_steady_sec"],
            "auto_p50": res["query_auto_p50_sec"],
            "multi_match_p50": res["multi_match_p50_sec"],
            "multi_match_p99": res["multi_match_p99_sec"],
            "pos_index_build": res["pos_index_build_sec"],
            "match_phrase_p50": res["match_phrase_p50_sec"],
            "fuzzy_p50": res["fuzzy_p50_sec"],
            "sparse_vector_p50": res["sparse_vector_p50_sec"],
        },
        "sf": sf,
        "docs_per_sec": res["index_build_docs_per_sec"],
        "cores": cores,
        "streaming": res["streaming"],
    }
    print(json.dumps(line))


if __name__ == "__main__":
    main()
