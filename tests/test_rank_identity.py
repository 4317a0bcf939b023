"""End-to-end rank-identity: compressed index + WAND == exhaustive ==
pure-Python brute-force oracle, on the reference query set (FIXTURES.md §3:
rare terms, head/stopword terms, Unicode terms, multi-term mixes), on both
execution paths (warmed: driver-resident postings; unwarmed: Spark job).
"""

import gc
import sys
import threading

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from fluent_plugin_elasticsearch_spark.operators.search import InvertedIndex
from fluent_plugin_elasticsearch_spark.textproc import bm25_topk_oracle, extract_text, tokenize_unicode

# reference query set: rare / head / unicode / mixed / absent
QUERIES = [
    "the",                      # stopword-scale head term (WAND stress)
    "of and to",                # multiple head terms
    "baba",                     # frequent zipf body term
    "the baba café",            # mixed head + body + unicode
    "日 本",                     # CJK unigrams
    "bizogi the",               # rarer body term + head
    "zzzznotaterm",             # absent term → empty
    "café über naïve",          # accented
]
K = 10


@pytest.fixture(scope="module")
def oracle_docs(corpus_pdf):
    """{doc_id: tokens} with the SAME doc-id derivation as the engine
    (xxhash64(url) >>> 1) — computed via Spark to share the hash impl."""
    return None  # filled by fixture below


@pytest.fixture(scope="module", params=["warmed", "unwarmed"])
def idx(request, spark, index_dir):
    """The index on both execution paths: warmed (driver-resident
    postings, in-process kernels) and unwarmed (one Spark job)."""
    idx = InvertedIndex(spark, index_dir)
    return idx.warm() if request.param == "warmed" else idx


@pytest.fixture(scope="module")
def docs_tokens(spark, corpus_pdf, index_dir):
    idx_docmap = InvertedIndex(spark, index_dir).docmap().select("doc_id", "url").collect()
    url2id = {r["url"]: r["doc_id"] for r in idx_docmap}
    return {
        url2id[row["url"]]: tokenize_unicode(extract_text(row["html"]))
        for _, row in corpus_pdf.iterrows()
    }


@pytest.mark.parametrize("query", QUERIES)
def test_wand_and_exhaustive_match_oracle(idx, docs_tokens, query):
    expected = bm25_topk_oracle(docs_tokens, tokenize_unicode(query), K)
    for mode in ("exhaustive", "wand", "auto"):
        got = idx.search(query, k=K, mode=mode).collect()
        got_ids = [r["doc_id"] for r in got]
        exp_ids = [d for d, _ in expected]
        assert got_ids == exp_ids, f"mode={mode} q={query!r}"
        for (eid, escore), row in zip(expected, got):
            assert abs(row["score"] - escore) < 1e-9, f"mode={mode} q={query!r} doc={eid}"


def test_warm_index_serves_concurrent_clients(spark, index_dir):
    """Two threads searching one warmed index get exactly the rows that
    sequential calls return, and those are bit-identical to the unwarmed
    index's rows."""
    idx = InvertedIndex(spark, index_dir).warm()
    calls = [(q, mode) for q in QUERIES for mode in ("exhaustive", "wand", "auto")]

    def run(call, index=idx):
        q, mode = call
        return [(r["doc_id"], r["score"]) for r in index.search(q, k=K, mode=mode).collect()]

    want = [run(c) for c in calls]
    assert want == [run(c, InvertedIndex(spark, index_dir)) for c in calls]
    calls, want = calls * 2, want * 2
    got: dict[int, list] = {}

    def client(offset: int) -> None:
        for i in range(offset, len(calls), 2):
            got[i] = run(calls[i])

    threads = [threading.Thread(target=client, args=(i,)) for i in range(2)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)  # interleave the two clients finely
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert [got.get(i) for i in range(len(calls))] == want


def test_dropped_warm_index_frees_its_postings(spark, index_dir):
    """A server that re-opens and re-warms an index must not keep the
    resident postings of the index it drops."""
    gc.collect()
    before = pa.total_allocated_bytes()
    idx = InvertedIndex(spark, index_dir).warm()
    assert pa.total_allocated_bytes() > before
    del idx
    gc.collect()
    assert pa.total_allocated_bytes() <= before


def test_index_stats_match_oracle(spark, index_dir, docs_tokens):
    idx = InvertedIndex(spark, index_dir)
    assert idx.meta["n_docs"] == len(docs_tokens)
    avgdl = sum(len(t) for t in docs_tokens.values()) / len(docs_tokens)
    assert idx.meta["avgdl"] == pytest.approx(avgdl, rel=1e-12)
    # df spot check for a head term
    df_the = idx.term_stats().filter(F.col("term") == "the").collect()[0]["df"]
    assert df_the == sum(1 for t in docs_tokens.values() if "the" in t)


def test_postings_partitioned_and_blocked(spark, index_dir):
    idx = InvertedIndex(spark, index_dir)
    posts = idx.postings()
    # doc-sharded layout with per-shard complete lists
    assert posts.select("shard").distinct().count() == idx.meta["n_shards"]
    # block size respected
    assert posts.agg(F.max("n_docs")).collect()[0][0] <= idx.meta["block_size"]
    # sorted, non-overlapping blocks per (shard, term)
    bad = posts.filter(F.col("first_doc") > F.col("last_doc")).count()
    assert bad == 0
    w = (
        posts.groupBy("shard", "term")
        .agg(F.sum("n_docs").alias("n"))
        .join(idx.term_stats(), "term")
    )
    # sum of per-shard posting counts == global df
    tot = w.groupBy("term").agg(F.sum("n").alias("n"), F.first("df").alias("df"))
    assert tot.filter(F.col("n") != F.col("df")).count() == 0


def test_ids_query_and_pagination(spark, index_dir):
    idx = InvertedIndex(spark, index_dir)
    some = [r["doc_id"] for r in idx.doc_stats().limit(5).collect()]
    got = idx.ids_query(some)
    assert got.count() == len(set(some))
    # scroll-style pagination covers all docs exactly once
    seen, last = 0, -1
    while True:
        page = idx.scan_page(after_doc_id=last, page_size=200).collect()
        if not page:
            break
        ids = [r["doc_id"] for r in page]
        assert ids == sorted(ids)
        seen += len(ids)
        last = ids[-1]
    assert seen == idx.meta["n_docs"]


def test_search_batch_matches_per_query(idx, docs_tokens):
    """Batched multi-query mode: one posting pass, rank-identical per query."""
    queries = {1: "the", 2: "of and to", 3: "the baba café", 4: "zzzznotaterm"}
    batch = idx.search_batch(queries, k=K)
    rows = batch.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    for qid, q in queries.items():
        expected = bm25_topk_oracle(docs_tokens, tokenize_unicode(q), K)
        got = sorted(by_q.get(qid, []))
        assert [d for _, d, _ in got] == [d for d, _ in expected], qid
        for (_, _, score), (_, escore) in zip(got, expected):
            assert abs(score - escore) < 1e-9


def test_suggest_prefix_completion(spark, index_dir, docs_tokens):
    """Completion suggester: df-ranked prefix terms match a brute-force
    recount over the tokenized corpus."""
    idx = InvertedIndex(spark, index_dir)
    got = [(r["term"], r["df"]) for r in idx.suggest("ba", 10).collect()]
    from collections import Counter

    df = Counter()
    for toks in docs_tokens.values():
        for t in set(toks):
            if t.startswith("ba"):
                df[t] += 1
    expected = sorted(df.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    assert got == expected and len(got) > 0


def test_search_dismax_matches_oracle(idx, docs_tokens):
    subqueries = ["the bababa", "madaba of café"]
    tie = 0.35
    # brute-force DisMax: full per-subquery scores, max + tie*(sum-max)
    per = [dict(bm25_topk_oracle(docs_tokens, tokenize_unicode(q), len(docs_tokens)))
           for q in subqueries]
    combined = {}
    for d in set().union(*per):
        ss = [p.get(d, 0.0) for p in per]
        mx = max(ss)
        combined[d] = mx + tie * (sum(ss) - mx)
    expected = sorted(combined.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    got = idx.search_dismax(subqueries, tie_breaker=tie, k=10).collect()
    assert [r["doc_id"] for r in got] == [d for d, _ in expected]
    for (eid, escore), row in zip(expected, got):
        assert abs(row["score"] - escore) < 1e-9, eid


def test_search_dismax_single_query_is_exhaustive_search(idx):
    a = [(r["doc_id"], round(r["score"], 9)) for r in
         idx.search("the bababa café", k=10, mode="exhaustive").collect()]
    b = [(r["doc_id"], round(r["score"], 9)) for r in
         idx.search_dismax(["the bababa café"], k=10).collect()]
    assert a == b


@pytest.mark.parametrize("query,msm", [("the bababa café", 2), ("the of bababa madaba", 3)])
def test_search_minimum_should_match(idx, docs_tokens, query, msm):
    terms = sorted(set(tokenize_unicode(query)))
    full = dict(bm25_topk_oracle(docs_tokens, terms, len(docs_tokens)))
    qualified = {d: s for d, s in full.items()
                 if sum(1 for t in terms if t in docs_tokens[d]) >= msm}
    expected = sorted(qualified.items(), key=lambda kv: (-kv[1], kv[0]))[:K]
    got = idx.search(query, k=K, minimum_should_match=msm).collect()
    assert [r["doc_id"] for r in got] == [d for d, _ in expected]
    for (eid, escore), row in zip(expected, got):
        assert abs(row["score"] - escore) < 1e-9


def test_search_operator_and(idx, docs_tokens):
    got = idx.search("the bababa", k=K, operator="and").collect()
    for r in got:
        toks = docs_tokens[r["doc_id"]]
        assert "the" in toks and "bababa" in toks
    # operator=and ≡ msm = n_terms
    via_msm = idx.search("the bababa", k=K, minimum_should_match=2).collect()
    assert [(r["doc_id"], r["score"]) for r in got] == [
        (r["doc_id"], r["score"]) for r in via_msm]


def test_suggest_term_spelling_correction(spark, index_dir, docs_tokens):
    idx = InvertedIndex(spark, index_dir)
    # 'bababa' is the rank-0 vocab term; a 1-edit typo must surface it first
    rows = idx.suggest_term("bababc", max_edits=2, size=5).collect()
    assert rows and rows[0]["term"] == "bababa" and rows[0]["distance"] == 1
    # exact term excluded from its own suggestions
    rows2 = idx.suggest_term("bababa", max_edits=1, size=10).collect()
    assert all(r["term"] != "bababa" for r in rows2)
    # brute-force check of the candidate set
    import itertools
    vocab = {t for toks in docs_tokens.values() for t in toks}
    def lev(a, b):
        if abs(len(a) - len(b)) > 2:
            return 3
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]
    want = {t for t in vocab if t != "bababc" and lev("bababc", t) <= 2}
    got_all = {r["term"] for r in idx.suggest_term("bababc", max_edits=2, size=10000).collect()}
    assert got_all == want


def test_rank_eval_batched_single_job(spark, index_dir):
    """VERDICT r6 #3: with an index, a multi-request rank_eval of plain
    match bodies rides ONE search_batch call (one posting decode for the
    whole eval set) and returns exactly what the per-request loop
    returns."""
    from fluent_plugin_elasticsearch_spark.operators.apis import rank_eval

    idx = InvertedIndex(spark, index_dir)
    docs = idx.doc_stats().select("doc_id")
    some = [r["doc_id"] for r in docs.limit(6).collect()]
    requests = [
        {"id": f"q{i}", "request": {"query": {"match": {"text": q}}},
         "ratings": [{"_id": some[i % len(some)], "rating": 2},
                     {"_id": some[(i + 1) % len(some)], "rating": 1}]}
        for i, q in enumerate(
            ["the", "of and", "baba", "the café", "of the baba", "and"] * 2)
    ]

    calls = {"batch": 0, "single": 0}
    orig_batch, orig_search = idx.search_batch, idx.search

    def counting_batch(*a, **kw):
        calls["batch"] += 1
        return orig_batch(*a, **kw)

    def counting_search(*a, **kw):
        calls["single"] += 1
        return orig_search(*a, **kw)

    idx.search_batch, idx.search = counting_batch, counting_search
    try:
        got = rank_eval(docs, requests, {"dcg": {"k": 5}}, index=idx).collect()
    finally:
        idx.search_batch, idx.search = orig_batch, orig_search
    assert calls["batch"] == 1 and calls["single"] == 0

    # equality with the unbatched path: strip search_batch so the loop runs
    class LoopOnly:
        def __getattr__(self, name):
            if name == "search_batch":
                raise AttributeError(name)
            return getattr(idx, name)

    loop = rank_eval(docs, requests, {"dcg": {"k": 5}}, index=LoopOnly()).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, loop))
