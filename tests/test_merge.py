"""Index merge/compaction: merging two disjoint half-corpus indexes must be
semantically identical to a from-scratch build over the whole corpus —
same posting blocks (ids/tfs/dls byte-exact), rank-identical search."""

from __future__ import annotations

import glob

import pyarrow.parquet as pq
import pytest

from fluent_plugin_elasticsearch_spark.operators.index_build import build_index, with_doc_id
from fluent_plugin_elasticsearch_spark.operators.merge import merge_indexes
from fluent_plugin_elasticsearch_spark.operators.search import InvertedIndex


def block_fingerprint(spark, path):
    """Everything except max_tfn (recomputed against the merged avgdl,
    which can differ from the built avgdl by float-sum-order ulps)."""
    posts = InvertedIndex(spark, path).postings()
    return sorted(
        (r["shard"], r["term"], r["block_id"], r["n_docs"], r["first_doc"], r["last_doc"],
         bytes(r["docs_enc"]).hex(), bytes(r["tfs_enc"]).hex(), bytes(r["dls_enc"]).hex())
        for r in posts.collect()
    )


@pytest.fixture(scope="module")
def halves(spark, corpus_pdf):
    a = with_doc_id(spark.createDataFrame(corpus_pdf[:300]), "url")
    b = with_doc_id(spark.createDataFrame(corpus_pdf[300:]), "url")
    return a, b


def assert_postings_files_sorted(*index_dirs):
    """Every postings file is (term, first_doc)-sorted, so parquet
    row-group min/max stats on `term` prune."""
    for d in index_dirs:
        files = glob.glob(f"{d}/postings/shard=*/*.parquet")
        assert files, d
        for f in files:
            t = pq.read_table(f, columns=["term", "first_doc"])
            keys = list(zip(t["term"].to_pylist(), t["first_doc"].to_pylist()))
            assert keys == sorted(keys), f


def _build(spark, docs, out, **kw):
    build_index(spark, docs, out, id_col="doc_id", html_col="html", text_col=None,
                url_col="url", tokenizer="unicode", n_shards=4, n_salts=2,
                block_size=32, **kw)
    return out


def test_merge_equals_full_build(spark, corpus_pdf, halves, tmp_path):
    a, b = halves
    full = _build(spark, a.unionByName(b), str(tmp_path / "full"))
    ia = _build(spark, a, str(tmp_path / "ia"))
    ib = _build(spark, b, str(tmp_path / "ib"))
    merged = str(tmp_path / "merged")
    res = merge_indexes(spark, [ia, ib], merged)
    assert res["meta"]["n_docs"] == 600
    assert block_fingerprint(spark, merged) == block_fingerprint(spark, full)
    assert_postings_files_sorted(full, ia, ib, merged)
    # a small merge (shards < 2 x cores) writes one term-sorted term_stats file
    assert len(glob.glob(f"{merged}/term_stats/*.parquet")) == 1

    fi, mi = InvertedIndex(spark, full), InvertedIndex(spark, merged)
    assert mi.meta["avgdl"] == pytest.approx(fi.meta["avgdl"], rel=1e-12)
    for q in ["the of", "baba café", "日 本"]:
        got_f = [(r["doc_id"], r["score"]) for r in fi.search(q, 10, mode="auto").collect()]
        got_m = [(r["doc_id"], r["score"]) for r in mi.search(q, 10, mode="auto").collect()]
        assert [d for d, _ in got_f] == [d for d, _ in got_m], q
        for (_, sf_), (_, sm) in zip(got_f, got_m):
            assert abs(sf_ - sm) < 1e-9
    # manifest carries real merged metrics
    m = mi.manifest().collect()
    assert {r["shard"] for r in m} == {0, 1, 2, 3}
    assert all(r["n_postings"] > 0 and r["run_id"].startswith("merge-") for r in m)


def test_term_stats_is_one_sorted_file_at_any_shard_count(spark, halves, tmp_path):
    """A build with at least 2 x defaultParallelism shards writes term_stats
    as one term-sorted file too, as a small build does."""
    a, _ = halves
    out = str(tmp_path / "wide")
    build_index(spark, a, out, id_col="doc_id", html_col="html", text_col=None, url_col="url",
                tokenizer="unicode", n_shards=max(8, 2 * spark.sparkContext.defaultParallelism),
                n_salts=2, block_size=32)
    (f,) = glob.glob(f"{out}/term_stats/*.parquet")
    terms = pq.read_table(f, columns=["term"])["term"].to_pylist()
    assert terms == sorted(terms) and len(terms) > 1


def test_merge_positional_phrase_identical(spark, halves, tmp_path):
    a, b = halves
    full = _build(spark, a.unionByName(b), str(tmp_path / "pfull"), with_positions=True)
    ia = _build(spark, a, str(tmp_path / "pia"), with_positions=True)
    ib = _build(spark, b, str(tmp_path / "pib"), with_positions=True)
    merged = str(tmp_path / "pmerged")
    merge_indexes(spark, [ia, ib], merged)
    assert_postings_files_sorted(full, ia, ib, merged)
    fi, mi = InvertedIndex(spark, full), InvertedIndex(spark, merged)
    for phrase in ["the baba", "of the"]:
        gf = [(r["doc_id"], r["score"]) for r in fi.match_phrase(phrase, 10).collect()]
        gm = [(r["doc_id"], r["score"]) for r in mi.match_phrase(phrase, 10).collect()]
        assert [d for d, _ in gf] == [d for d, _ in gm], phrase
        for (_, s1), (_, s2) in zip(gf, gm):
            assert abs(s1 - s2) < 1e-9


def test_merge_meta_mismatch_rejected(spark, halves, tmp_path):
    a, b = halves
    ia = _build(spark, a, str(tmp_path / "ma"))
    ib = _build(spark, b, str(tmp_path / "mb"), with_positions=True)
    with pytest.raises(ValueError, match="with_positions"):
        merge_indexes(spark, [ia, ib], str(tmp_path / "mm"))


def test_streaming_generations_compact_to_full_build(spark, corpus_pdf, halves, tmp_path):
    """Streaming story end-to-end: two incremental generations (micro-batch
    index updates) compacted == one-shot build over all docs."""
    from fluent_plugin_elasticsearch_spark.operators.merge import compact_generations
    from fluent_plugin_elasticsearch_spark.streaming.ingest import incremental_index_update

    a, b = halves
    gen_dir = str(tmp_path / "gens")
    kw = dict(id_col="doc_id", html_col="html", text_col=None, url_col="url",
              tokenizer="unicode", n_shards=4, n_salts=2, block_size=32)
    incremental_index_update(spark, a, gen_dir, **kw)
    import time as _t

    _t.sleep(0.002)  # distinct gen ids
    incremental_index_update(spark, b, gen_dir, **kw)
    compacted = compact_generations(spark, gen_dir)
    full = _build(spark, a.unionByName(b), str(tmp_path / "cfull"))
    assert block_fingerprint(spark, compacted) == block_fingerprint(spark, full)


def test_reindex_filters_and_rebuilds(spark, corpus_df, tmp_path):
    from fluent_plugin_elasticsearch_spark.operators.index_build import (
        reindex, with_doc_id)
    from fluent_plugin_elasticsearch_spark.operators.search import InvertedIndex

    docs = with_doc_id(corpus_df, "url")
    dest = str(tmp_path / "reidx")
    reindex(
        spark, docs, dest,
        query={"range": {"doc_id": {"lt": 2 ** 62}}},  # lower half of the 63-bit id space
        id_col="doc_id", text_col=None, html_col="html", url_col="url",
        tokenizer="unicode", n_shards=2, n_salts=2,
    )
    idx = InvertedIndex(spark, dest)
    kept = docs.filter(f"doc_id < {2 ** 62}").count()
    assert idx.meta["n_docs"] == kept > 0
    hits = idx.search("the", k=20).collect()
    assert hits and all(r["doc_id"] < 2 ** 62 for r in hits)
    assert kept < docs.count()  # the filter actually dropped docs


def test_compute_only_build_makes_the_build_blocks(spark, halves, tmp_path):
    """build_compute_only (the scaling proxy) runs the build's own plan:
    it produces exactly as many blocks as the real build writes."""
    from fluent_plugin_elasticsearch_spark.operators.index_build import build_compute_only

    a, _ = halves
    built = _build(spark, a, str(tmp_path / "built"))
    n_blocks = build_compute_only(spark, a, id_col="doc_id", html_col="html", text_col=None,
                                  tokenizer="unicode", n_shards=4, n_salts=2, block_size=32)
    assert n_blocks == InvertedIndex(spark, built).postings().count() > 0
