"""match_phrase: positional-index engine path ≡ DataFrame/SQL-oracle form ≡
brute force (Lucene PhraseQuery semantics: tf = exact adjacent phrase
frequency, idf = Σ constituent idfs)."""

from __future__ import annotations

import json
import math
import os

import numpy as np
import pyarrow.dataset as pads
import pytest
from pyspark.sql import Row

from fluent_plugin_elasticsearch_spark.operators.bm25 import match_phrase_df
from fluent_plugin_elasticsearch_spark.operators.codec import decode_postings
from fluent_plugin_elasticsearch_spark.operators.index_build import build_index
from fluent_plugin_elasticsearch_spark.operators.search import InvertedIndex
from fluent_plugin_elasticsearch_spark.operators.wand import _tfn

PHRASES = ["the data", "data query", "the", "the data query", "zzznope data"]


@pytest.fixture(scope="module")
def tf_index(spark, sf_dir, tmp_path_factory):
    """pos_index's corpus and settings, without positions."""
    out = str(tmp_path_factory.mktemp("tfidx") / "idx")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    build_index(spark, docs, out, id_col="doc_id", text_col="text",
                tokenizer="simple", n_shards=4, n_salts=4, block_size=32)
    return out


@pytest.fixture(scope="module", params=["warmed", "unwarmed"])
def pos_idx(request, spark, pos_index):
    """The positional index on both execution paths: warmed
    (driver-resident postings, in-process kernels) and unwarmed (one
    Spark job)."""
    idx = InvertedIndex(spark, pos_index)
    return idx.warm() if request.param == "warmed" else idx


@pytest.mark.parametrize("which", ["index_dir", "pos_index"])
def test_block_max_tfn_is_the_kernels_bound(request, which):
    """Block-max WAND skips a block only when idf × max_tfn cannot beat θ,
    which is safe while max_tfn is EXACTLY the block's maximum of the
    tf-factor the kernels score with — on the tf and the positional
    index alike."""
    path = request.getfixturevalue(which)
    with open(os.path.join(path, "meta.json")) as f:
        meta = json.load(f)
    blocks = _blocks(path)
    p = decode_postings(blocks, positions=bool(meta.get("with_positions")))
    tfn = _tfn(p.tfs, p.dls, meta["avgdl"], meta["k1"], meta["b"])
    got = blocks["max_tfn"].to_numpy()
    want = np.array([t.max() for t in np.split(tfn, np.cumsum(p.n)[:-1])])
    assert len(blocks) > 100 and np.array_equal(got, want)


def _blocks(path):
    return pads.dataset(os.path.join(path, "postings"), format="parquet",
                        partitioning="hive").to_table().to_pandas()


def test_positions_only_add_pos_enc(tf_index, pos_index):
    """with_positions is a column switch in one build: the positional
    index's postings equal the tf-only index's in every other column."""
    keys = ["shard", "term", "block_id"]
    tf = _blocks(tf_index).sort_values(keys).reset_index(drop=True)
    pos = _blocks(pos_index).sort_values(keys).reset_index(drop=True)
    assert "pos_enc" not in tf and pos["pos_enc"].map(len).gt(0).all()
    assert len(tf) > 100
    for col in ["term", "block_id", "n_docs", "first_doc", "last_doc", "docs_enc",
                "tfs_enc", "dls_enc", "max_tfn"]:
        assert tf[col].tolist() == pos[col].tolist(), col


@pytest.mark.parametrize("phrase", PHRASES)
def test_phrase_index_matches_dataframe_form(spark, sf_dir, pos_idx, phrase):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    idx = pos_idx
    got = idx.match_phrase(phrase, k=10).collect()
    exp = match_phrase_df(docs, phrase.split(), k=10).collect()
    assert [r["doc_id"] for r in got] == [r["doc_id"] for r in exp], phrase
    for g, e in zip(got, exp):
        assert math.floor(g["score"] * 1e6) == e["score_u"], (phrase, g["doc_id"])


def test_phrase_freq_exact(spark, tmp_path):
    """Crafted docs with known phrase frequencies: adjacency must be exact
    (no credit for 'a x b', for reversed order, or for term presence)."""
    rows = [
        Row(doc_id=1, text="a b c a b"),        # pf(a b) = 2
        Row(doc_id=2, text="a x b a"),           # pf = 0 (gap)
        Row(doc_id=3, text="b a b a"),           # pf = 1 ("a b" at pos 1)
        Row(doc_id=4, text="a a b"),             # pf = 1
        Row(doc_id=5, text="c c c"),             # pf = 0 (terms absent)
    ]
    docs = spark.createDataFrame(rows)
    out = str(tmp_path / "idx")
    build_index(spark, docs, out, id_col="doc_id", text_col="text",
                tokenizer="simple", n_shards=2, n_salts=2, with_positions=True)
    idx = InvertedIndex(spark, out)
    got = {r["doc_id"]: r["score"] for r in idx.match_phrase("a b", k=10).collect()}
    assert set(got) == {1, 3, 4}
    # doc 1 (pf=2, dl=5) must outscore doc 3 (pf=1, dl=4) and doc 4 (pf=1, dl=3)
    assert got[1] > got[3] and got[1] > got[4]
    # repeated-term phrase: "a a" occurs only in doc 4
    got2 = {r["doc_id"] for r in idx.match_phrase("a a", k=10).collect()}
    assert got2 == {4}


PREFIX_PHRASES = ["the da", "data que", "th", "the data que", "zzznope da"]


@pytest.mark.parametrize("phrase", PREFIX_PHRASES)
def test_phrase_prefix_index_matches_dataframe_form(spark, sf_dir, pos_idx,
                                                    phrase):
    from fluent_plugin_elasticsearch_spark.operators.relevance import (
        match_phrase_prefix_df,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    idx = pos_idx
    got = idx.match_phrase_prefix(phrase, k=10, max_expansions=10**6).collect()
    exp = match_phrase_prefix_df(docs, phrase.split(), k=10).collect()
    assert [r["doc_id"] for r in got] == [r["doc_id"] for r in exp], phrase
    for g, e in zip(got, exp):
        assert math.floor(g["score"] * 1e6) == e["score_u"], (phrase, g["doc_id"])


def test_phrase_prefix_freq_exact(spark, tmp_path):
    """Crafted docs: the final slot matches ANY token with the prefix, but
    adjacency/order still binds (no credit for gaps or reversal)."""
    rows = [
        Row(doc_id=1, text="alpha banana x"),            # pf(alpha ban*) = 1
        Row(doc_id=2, text="alpha band alpha banner"),   # pf = 2
        Row(doc_id=3, text="alpha x banana"),            # pf = 0 (gap)
        Row(doc_id=4, text="banana alpha"),              # pf = 0 (reversed)
        Row(doc_id=5, text="alpha alpha"),               # pf = 0 (no ban*)
    ]
    docs = spark.createDataFrame(rows)
    out = str(tmp_path / "idx")
    build_index(spark, docs, out, id_col="doc_id", text_col="text",
                tokenizer="simple", n_shards=2, n_salts=2, with_positions=True)
    idx = InvertedIndex(spark, out)
    got = {r["doc_id"]: r["score"]
           for r in idx.match_phrase_prefix("alpha ban", k=10).collect()}
    assert set(got) == {1, 2}
    assert got[2] > got[1]  # pf=2 beats pf=1 despite the longer doc
    # prefix-only form: every doc holding any ban* token
    got2 = {r["doc_id"]
            for r in idx.match_phrase_prefix("ban", k=10).collect()}
    assert got2 == {1, 2, 3, 4}


def test_phrase_prefix_on_tf_index_raises(spark, index_dir):
    idx = InvertedIndex(spark, index_dir)
    with pytest.raises(ValueError, match="positions"):
        idx.match_phrase_prefix("the da", 5)


def test_query_ast_match_phrase_prefix_routes(spark, sf_dir, pos_index,
                                              monkeypatch):
    """With a positional index registered for the field the AST serves
    match_phrase_prefix from postings (the DataFrame scorer must NOT run)
    and returns the same docs as the no-index fallback."""
    from fluent_plugin_elasticsearch_spark.operators import relevance as _rel
    from fluent_plugin_elasticsearch_spark.plans.query_ast import compile_query

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    body = {"query": {"match_phrase_prefix": {"text": "the da"}}, "size": 5}
    fallback = [r["doc_id"] for r in compile_query(docs, body, index=None).collect()]

    def _boom(*a, **kw):
        raise AssertionError("DataFrame scorer ran despite positional index")

    monkeypatch.setattr(_rel, "match_phrase_prefix_df", _boom)
    reg = {"text": InvertedIndex(spark, pos_index)}
    served = [r["doc_id"]
              for r in compile_query(docs, body, index=reg).collect()]
    assert served == fallback


@pytest.mark.parametrize("first,second,slop", [
    ("merge", "window", 2), ("the", "data", 0), ("spark", "fast", 5)])
def test_span_near_index_matches_dataframe_form(spark, sf_dir, pos_idx,
                                                first, second, slop):
    from fluent_plugin_elasticsearch_spark.operators.relevance import (
        span_near_df,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    idx = pos_idx
    got = idx.span_near(first, second, slop=slop, k=10).collect()
    exp = span_near_df(docs, first, second, slop=slop, k=10).collect()
    assert [r["doc_id"] for r in got] == [r["doc_id"] for r in exp]
    for g, e in zip(got, exp):
        assert math.floor(g["score"] * 1e6) == e["score_u"]


def test_span_near_slop_semantics(spark, tmp_path):
    """Ordered proximity: slop counts INTERVENING tokens; reversed order
    never matches; each `second` position counted once."""
    rows = [
        Row(doc_id=1, text="a b"),        # gap 0
        Row(doc_id=2, text="a x b"),      # gap 1
        Row(doc_id=3, text="b a"),        # reversed
        Row(doc_id=4, text="a x x b"),    # gap 2
        Row(doc_id=5, text="a b a b"),    # two spans at slop 0
    ]
    docs = spark.createDataFrame(rows)
    out = str(tmp_path / "idx")
    build_index(spark, docs, out, id_col="doc_id", text_col="text",
                tokenizer="simple", n_shards=2, n_salts=2, with_positions=True)
    idx = InvertedIndex(spark, out)

    def hits(slop):
        return sorted(r["doc_id"]
                      for r in idx.span_near("a", "b", slop, 10).collect())

    assert hits(0) == [1, 5]
    assert hits(1) == [1, 2, 5]
    assert hits(2) == [1, 2, 4, 5]
    # doc 5 (sf=2) outscores doc 1 (sf=1) at slop 0 despite longer dl
    sc = {r["doc_id"]: r["score"]
          for r in idx.span_near("a", "b", 0, 10).collect()}
    assert sc[5] > sc[1]


def test_span_family_index_matches_dataframe_forms(spark, sf_dir, pos_idx):
    """span_first / span_or / span_not served from the positional index
    must equal their DataFrame scorers rank- and score-exactly
    (span_or needs only the tf postings; the others use positions)."""
    from fluent_plugin_elasticsearch_spark.operators import relevance as rel

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    idx = pos_idx
    cases = [
        ("span_first", idx.span_first("merge", 5, 10),
         rel.span_first_df(docs, "merge", 5, 10)),
        ("span_first head", idx.span_first("the", 1, 10),
         rel.span_first_df(docs, "the", 1, 10)),
        ("span_or", idx.span_or(["merge", "window", "spark"], 10),
         rel.span_or_df(docs, ["merge", "window", "spark"], 10)),
        ("span_or absent", idx.span_or(["merge", "zzznope"], 10),
         rel.span_or_df(docs, ["merge", "zzznope"], 10)),
        ("span_not", idx.span_not("merge", "window", 0, 0, 10),
         rel.span_not_df(docs, "merge", "window", 0, 0, 10)),
        ("span_not window", idx.span_not("the", "data", 2, 3, 10),
         rel.span_not_df(docs, "the", "data", 2, 3, 10)),
        ("span_not no-excl", idx.span_not("merge", "zzznope", 1, 1, 10),
         rel.span_not_df(docs, "merge", "zzznope", 1, 1, 10)),
    ]
    for name, got_df, want_df in cases:
        got, want = got_df.collect(), want_df.collect()
        assert [r["doc_id"] for r in got] == [r["doc_id"] for r in want], name
        for g, e in zip(got, want):
            assert math.floor(g["score"] * 1e6) == e["score_u"], name
    # self-exclusion: include == exclude rejects every span
    assert idx.span_not("merge", "merge", 0, 0, 10).collect() == []


@pytest.mark.parametrize("terms,mg,ordered", [
    (["merge", "window"], 2, True),
    (["the", "data"], 0, True),
    (["the", "data", "query"], 4, True),
    (["merge", "window"], -1, True),
    (["merge", "window"], 2, False),
    (["the", "data"], -1, False),
    (["the", "the"], 3, False),          # same-term: self-hit correction
    (["the", "data", "the"], 5, True),   # repeated term in the chain
])
def test_intervals_index_matches_dataframe_form(spark, sf_dir, pos_idx,
                                                terms, mg, ordered):
    from fluent_plugin_elasticsearch_spark.operators.relevance import (
        intervals_match_df,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    idx = pos_idx
    got = idx.intervals_match(terms, max_gaps=mg, ordered=ordered, k=10).collect()
    exp = intervals_match_df(docs, terms, max_gaps=mg, ordered=ordered,
                             k=10).collect()
    assert [r["doc_id"] for r in got] == [r["doc_id"] for r in exp]
    for g, e in zip(got, exp):
        assert math.floor(g["score"] * 1e6) == e["score_u"]


def test_intervals_index_guards(spark, pos_index, index_dir):
    from fluent_plugin_elasticsearch_spark.plans.query_ast import (
        UnsupportedQuery,
    )

    idx = InvertedIndex(spark, pos_index)
    with pytest.raises(UnsupportedQuery, match="2 terms"):
        idx.intervals_match(["solo"])
    with pytest.raises(UnsupportedQuery, match="unordered"):
        idx.intervals_match(["a", "b", "c"], ordered=False)
    with pytest.raises(ValueError, match="positions"):
        InvertedIndex(spark, index_dir).intervals_match(["a", "b"], ordered=True)


def test_query_ast_span_clauses_route(spark, sf_dir, pos_index):
    """The six span/intervals clause kinds compile, serve from the
    positional registry, and match the no-index DataFrame path."""
    from fluent_plugin_elasticsearch_spark.plans.query_ast import (
        UnsupportedQuery,
        compile_query,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    reg = {"text": InvertedIndex(spark, pos_index)}
    bodies = [
        {"query": {"span_near": {
            "clauses": [{"span_term": {"text": "merge"}},
                        {"span_term": {"text": "window"}}],
            "slop": 2, "in_order": True}}, "size": 5},
        {"query": {"span_first": {"match": {"span_term": {"text": "merge"}},
                                  "end": 5}}, "size": 5},
        {"query": {"span_or": {"clauses": [{"span_term": {"text": "merge"}},
                                           {"span_term": {"text": "spark"}}]}},
         "size": 5},
        {"query": {"span_term": {"text": "merge"}}, "size": 5},
        {"query": {"span_not": {"include": {"span_term": {"text": "merge"}},
                                "exclude": {"span_term": {"text": "window"}},
                                "pre": 1, "post": 1}}, "size": 5},
        {"query": {"intervals": {"text": {"match": {
            "query": "the data", "max_gaps": 2, "ordered": True}}}},
         "size": 5},
        # n-clause ordered + 2-clause unordered span_near lower to the
        # intervals chain on both paths
        {"query": {"span_near": {
            "clauses": [{"span_term": {"text": "the"}},
                        {"span_term": {"text": "data"}},
                        {"span_term": {"text": "query"}}],
            "slop": 4, "in_order": True}}, "size": 5},
        {"query": {"span_near": {
            "clauses": [{"span_term": {"text": "merge"}},
                        {"span_term": {"text": "window"}}],
            "slop": 2, "in_order": False}}, "size": 5},
    ]
    for b in bodies:
        got = [(r["doc_id"], r["score_u"]) for r in
               compile_query(docs, b, index=reg)
               .select("doc_id", "score_u").collect()]
        want = [(r["doc_id"], r["score_u"]) for r in
                compile_query(docs, b, index=None)
                .select("doc_id", "score_u").collect()]
        assert got == want and got, next(iter(b["query"]))
    with pytest.raises(UnsupportedQuery, match="share a field"):
        compile_query(docs, {"query": {"span_near": {"clauses": [
            {"span_term": {"text": "a"}}, {"span_term": {"lang": "b"}}],
            "slop": 1}}}, index=None)
    with pytest.raises(UnsupportedQuery, match="unordered span_near"):
        compile_query(docs, {"query": {"span_near": {"clauses": [
            {"span_term": {"text": "a"}}, {"span_term": {"text": "b"}},
            {"span_term": {"text": "c"}}],
            "slop": 1, "in_order": False}}}, index=None)


def test_span_serving_bounded_by_postings(spark, pos_index):
    """Every positional serving path reads ONLY posting blocks — no scan
    of the corpus parquet appears in any physical plan."""
    idx = InvertedIndex(spark, pos_index)
    plans = {
        "match_phrase": idx.match_phrase("the data", 10),
        "match_phrase_prefix": idx.match_phrase_prefix("the da", 10),
        "span_near": idx.span_near("the", "data", 2, 10),
        "span_first": idx.span_first("the", 5, 10),
        "span_or": idx.span_or(["the", "data"], 10),
        "span_not": idx.span_not("the", "data", 1, 1, 10),
        "intervals": idx.intervals_match(["the", "data"], 3, True, 10),
    }
    for name, df in plans.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "documents.parquet" not in plan, name
        assert "postings" in plan, name


def test_span_near_on_tf_index_raises(spark, index_dir):
    idx = InvertedIndex(spark, index_dir)
    with pytest.raises(ValueError, match="positions"):
        idx.span_near("the", "data", 1, 5)


def test_phrase_on_tf_index_raises(spark, index_dir):
    idx = InvertedIndex(spark, index_dir)
    with pytest.raises(ValueError, match="positions"):
        idx.match_phrase("the of", 5)


def test_positional_blocks_shape(spark, pos_index):
    from pyspark.sql import functions as F

    posts = InvertedIndex(spark, pos_index).postings()
    assert "pos_enc" in posts.columns
    # every block's positions payload is non-null
    assert posts.filter(F.col("pos_enc").isNull()).count() == 0


def test_query_ast_match_phrase_routes_to_index(spark, sf_dir, pos_index):
    from fluent_plugin_elasticsearch_spark.plans.query_ast import compile_query

    idx = InvertedIndex(spark, pos_index)
    docs = idx.doc_stats()
    out = compile_query(
        docs, {"query": {"match_phrase": {"text": "the data"}}, "size": 5}, index=idx
    )
    rows = out.collect()
    assert len(rows) == 5
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores, reverse=True)


@pytest.mark.parametrize("first,second,little,slop", [
    ("the", "query", "data", 2),
    ("the", "data", "the", 0),       # little == first
    ("merge", "window", "merge", 3),  # little == first, wider slop
    ("the", "data", "data", 1),      # little == second
    ("the", "data", "zzznope", 2),   # absent little → empty
    ("data", "query", "table", 5),
])
def test_span_containing_within_index_matches_df(spark, sf_dir, pos_idx,
                                                 first, second, little, slop):
    from fluent_plugin_elasticsearch_spark.operators.relevance import (
        span_containing_df,
        span_within_df,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    idx = pos_idx
    for got_df, want_df in [
        (idx.span_containing(first, second, little, slop, 10),
         span_containing_df(docs, first, second, little, slop, 10)),
        (idx.span_within(first, second, little, slop, 10),
         span_within_df(docs, first, second, little, slop, 10)),
    ]:
        got, want = got_df.collect(), want_df.collect()
        assert [r["doc_id"] for r in got] == [r["doc_id"] for r in want]
        for g, e in zip(got, want):
            assert math.floor(g["score"] * 1e6) == e["score_u"]


@pytest.mark.parametrize("value,kind,mx", [
    ("mer", "prefix", 50),
    ("th", "prefix", 50),
    ("th", "prefix", 1),        # cap binds → same capped expansion
    ("d?ta", "wildcard", 50),
    ("qu*y", "wildcard", 50),
    ("zzz", "prefix", 50),      # empty expansion
])
def test_span_multi_index_matches_df(spark, sf_dir, pos_idx, value, kind, mx):
    from fluent_plugin_elasticsearch_spark.operators.relevance import (
        span_multi_df,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    idx = pos_idx
    got = idx.span_multi(value, kind=kind, max_expansions=mx, k=10).collect()
    want = span_multi_df(docs, value, kind=kind, max_expansions=mx,
                         k=10).collect()
    assert [r["doc_id"] for r in got] == [r["doc_id"] for r in want]
    for g, e in zip(got, want):
        assert math.floor(g["score"] * 1e6) == e["score_u"]


def test_query_ast_intervals_combinators(spark, sf_dir, pos_index):
    """any_of lowers to span_or, all_of to the intervals chain — both
    identical through the positional registry and the DataFrame path;
    unsupported nesting raises."""
    from fluent_plugin_elasticsearch_spark.plans.query_ast import (
        UnsupportedQuery,
        compile_query,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    reg = {"text": InvertedIndex(spark, pos_index)}
    bodies = [
        {"query": {"intervals": {"text": {"any_of": {"intervals": [
            {"match": {"query": "merge"}},
            {"match": {"query": "window"}}]}}}}, "size": 5},
        {"query": {"intervals": {"text": {"all_of": {
            "intervals": [{"match": {"query": "the"}},
                          {"match": {"query": "data"}}],
            "max_gaps": 3, "ordered": True}}}}, "size": 5},
    ]
    for b in bodies:
        got = [(r["doc_id"], r["score_u"]) for r in
               compile_query(docs, b, index=reg)
               .select("doc_id", "score_u").collect()]
        want = [(r["doc_id"], r["score_u"]) for r in
                compile_query(docs, b, index=None)
                .select("doc_id", "score_u").collect()]
        assert got == want and got, next(iter(b["query"]))
    # any_of identity with the direct span_or clause
    direct = compile_query(docs, {"query": {"span_or": {"clauses": [
        {"span_term": {"text": "merge"}},
        {"span_term": {"text": "window"}}]}}, "size": 5}, index=None)
    via = compile_query(docs, bodies[0], index=None)
    assert ([(r["doc_id"], r["score_u"]) for r in direct.collect()]
            == [(r["doc_id"], r["score_u"]) for r in via.collect()])
    with pytest.raises(UnsupportedQuery, match="one term"):
        compile_query(docs, {"query": {"intervals": {"text": {"any_of": {
            "intervals": [{"match": {"query": "two words"}}]}}}}},
            index=None)
    with pytest.raises(UnsupportedQuery, match="match sub-rules"):
        compile_query(docs, {"query": {"intervals": {"text": {"all_of": {
            "intervals": [{"prefix": {"prefix": "me"}},
                          {"match": {"query": "a"}}]}}}}}, index=None)
