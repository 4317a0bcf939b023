"""Index-backed serving for multi_match / combined_fields / query_string:
rank- AND score-identity vs the self-contained DataFrame scorers
(operators/bm25), which are themselves DuckDB-oracle-green. ES serves every
match kind from the inverted index (reference: the plugin forwards search
bodies verbatim to client.search, out_elasticsearch.rb:957); these tests pin
that the postings-only serving paths reproduce the DataFrame scorers
bit-for-bit on the quantized integers.
"""

import os

import pytest
from pyspark.sql import functions as F

from fluent_plugin_elasticsearch_spark.operators import bm25 as _bm25
from fluent_plugin_elasticsearch_spark.operators.index_build import (
    build_combined_field_index,
    build_field_indexes,
    combined_index_key,
)
from fluent_plugin_elasticsearch_spark.operators.search import (
    InvertedIndex,
    combined_fields_topk,
    match_bool_prefix_topk,
    multi_match_topk,
    query_string_topk,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.01")
TERMS = ["fast", "table", "src1"]


@pytest.fixture(scope="module")
def docs(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    df.persist()
    df.count()
    return df


@pytest.fixture(scope="module")
def field_registry(spark, docs, tmp_path_factory):
    """{field: InvertedIndex} over (text, source) + the combined index —
    the dict registry shape plans.query_ast._resolve_index understands."""
    root = str(tmp_path_factory.mktemp("fieldidx"))
    paths = build_field_indexes(
        spark, docs, root, ["text", "source"],
        id_col="doc_id", tokenizer="simple", n_shards=4, n_salts=2,
    )
    reg = {f: InvertedIndex(spark, p) for f, p in paths.items()}
    ck = combined_index_key(["text", "source"], {"source": 2})
    cpath = os.path.join(root, "combined")
    build_combined_field_index(
        spark, docs, cpath, ["text", "source"], weights={"source": 2},
        id_col="doc_id", tokenizer="simple", n_shards=4, n_salts=2,
    )
    reg[ck] = InvertedIndex(spark, cpath)
    return reg


def _on_path(registry, path):
    """``registry`` on one execution path: "unwarmed" (one Spark job per
    query) or "warmed" (driver-resident postings, in-process kernels)."""
    if path == "unwarmed":
        return registry
    return {f: InvertedIndex(idx.spark, idx.path).warm() for f, idx in registry.items()}


@pytest.fixture(scope="module", params=["warmed", "unwarmed"])
def served_registry(request, field_registry):
    return _on_path(field_registry, request.param)


def _rows(df):
    return [(r["doc_id"], r["score_u"]) for r in df.collect()]


@pytest.mark.parametrize("mtype", ["best_fields", "most_fields"])
def test_multi_match_index_identity(spark, docs, served_registry, mtype):
    want = _rows(_bm25.multi_match_df(docs, TERMS, ["text", "source"],
                                      k=10, match_type=mtype))
    got = _rows(multi_match_topk(
        {f: served_registry[f] for f in ("text", "source")},
        TERMS, k=10, match_type=mtype))
    assert got == want


def test_query_string_index_identity(spark, docs, served_registry):
    q = "fast AND table OR window"
    want = _rows(_bm25.query_string_df(docs, q, k=10))
    got = _rows(query_string_topk(served_registry["text"], q, k=10))
    assert got == want


def test_combined_fields_index_identity(spark, docs, served_registry):
    ck = combined_index_key(["text", "source"], {"source": 2})
    want = _rows(_bm25.combined_fields_df(
        docs, TERMS, ["text", "source"], k=10, weights={"source": 2}))
    got = _rows(combined_fields_topk(served_registry[ck], TERMS, k=10))
    assert got == want


def test_match_bool_prefix_index_identity(spark, docs, served_registry):
    terms = ["merge", "ta"]  # the oracle entry's own query
    want = _rows(_bm25.match_bool_prefix_df(docs, terms, k=15))
    got = _rows(match_bool_prefix_topk(served_registry["text"], terms, k=15))
    assert got == want
    # prefix-only form (no full terms)
    want1 = _rows(_bm25.match_bool_prefix_df(docs, ["ta"], k=15))
    got1 = _rows(match_bool_prefix_topk(served_registry["text"], ["ta"], k=15))
    assert got1 == want1


@pytest.fixture(scope="module")
def pos_field_registry(spark, docs, tmp_path_factory):
    """Per-field POSITIONAL indexes (text, source) — the registry shape
    that lets the AST serve multi_match phrase types from postings."""
    root = str(tmp_path_factory.mktemp("posfieldidx"))
    paths = build_field_indexes(
        spark, docs, root, ["text", "source"],
        id_col="doc_id", tokenizer="simple", n_shards=4, n_salts=2,
        with_positions=True,
    )
    return {f: InvertedIndex(spark, p) for f, p in paths.items()}


@pytest.fixture(scope="module", params=["warmed", "unwarmed"])
def served_pos_registry(request, pos_field_registry):
    return _on_path(pos_field_registry, request.param)


@pytest.mark.parametrize("prefix,phrase", [(False, "the data"),
                                           (True, "the da")])
def test_multi_match_phrase_index_identity(spark, docs, served_pos_registry,
                                           prefix, phrase):
    from fluent_plugin_elasticsearch_spark.operators.relevance import (
        multi_match_phrase_df,
    )
    from fluent_plugin_elasticsearch_spark.operators.search import (
        multi_match_phrase_topk,
    )

    want = _rows(multi_match_phrase_df(docs, phrase.split(),
                                       ["text", "source"], k=10,
                                       prefix=prefix))
    got = _rows(multi_match_phrase_topk(served_pos_registry, phrase, k=10,
                                        prefix=prefix))
    assert got == want


def test_ast_multi_match_phrase_routes(spark, docs, pos_field_registry,
                                       monkeypatch):
    from fluent_plugin_elasticsearch_spark.operators import relevance as _rel
    from fluent_plugin_elasticsearch_spark.plans.query_ast import compile_query

    bodies = [
        {"query": {"multi_match": {"query": "the data", "type": "phrase",
                                   "fields": ["text", "source"]}}, "size": 5},
        {"query": {"multi_match": {"query": "the da",
                                   "type": "phrase_prefix",
                                   "fields": ["text", "source"]}}, "size": 5},
    ]
    fallback = [
        [r["doc_id"] for r in compile_query(docs, b, index=None).collect()]
        for b in bodies
    ]

    def _boom(*a, **kw):
        raise AssertionError("DataFrame scorer ran despite positional registry")

    monkeypatch.setattr(_rel, "multi_match_phrase_df", _boom)
    served = [
        [r["doc_id"] for r in
         compile_query(docs, b, index=pos_field_registry).collect()]
        for b in bodies
    ]
    assert served == fallback


def test_match_phrase_slop_raises(spark, docs, pos_field_registry):
    from fluent_plugin_elasticsearch_spark.plans.query_ast import (
        UnsupportedQuery,
        compile_query,
    )

    for kind in ("match_phrase", "match_phrase_prefix"):
        body = {"query": {kind: {"text": {"query": "the data", "slop": 2}}}}
        with pytest.raises(UnsupportedQuery, match="slop"):
            compile_query(docs, body, index=pos_field_registry)


def test_fuzzy_match_index_identity(spark, docs, served_registry):
    from fluent_plugin_elasticsearch_spark.operators.relevance import (
        fuzzy_match_df,
    )
    from fluent_plugin_elasticsearch_spark.operators.search import (
        fuzzy_match_topk,
    )

    for text, fz in [("mergee window", 1), ("spark tabel", "AUTO")]:
        want = _rows(fuzzy_match_df(docs, text.split(), fuzziness=fz, k=10))
        got = _rows(fuzzy_match_topk(served_registry["text"], text,
                                     fuzziness=fz, k=10))
        assert got == want, (text, fz)
    # no dictionary term within budget -> empty, both paths
    assert _rows(fuzzy_match_topk(served_registry["text"], "qqqqqq",
                                  fuzziness=1, k=10)) == []
    assert _rows(fuzzy_match_df(docs, ["qqqqqq"], fuzziness=1, k=10)) == []


def test_more_like_this_index_identity(spark, docs, served_registry):
    from fluent_plugin_elasticsearch_spark.operators.relevance import (
        more_like_this_df,
    )
    from fluent_plugin_elasticsearch_spark.operators.search import (
        more_like_this_topk,
    )

    for lid, mqt in [(0, 8), (7, 10)]:
        want = _rows(more_like_this_df(docs, lid, max_query_terms=mqt, k=12))
        got = _rows(more_like_this_topk(served_registry["text"], docs, lid,
                                        max_query_terms=mqt, k=12))
        assert got == want, lid
    # absent seed id -> empty
    assert _rows(more_like_this_topk(served_registry["text"], docs,
                                     like_id=10**9, k=5)) == []


def test_ast_more_like_this_routes(spark, docs, field_registry, monkeypatch):
    from fluent_plugin_elasticsearch_spark.operators import relevance as _rel
    from fluent_plugin_elasticsearch_spark.plans.query_ast import compile_query

    body = {"query": {"more_like_this": {"fields": ["text"],
                                         "like": [{"_id": 3}],
                                         "max_query_terms": 8}}, "size": 5}
    fallback = [r["doc_id"]
                for r in compile_query(docs, body, index=None).collect()]

    def _boom(*a, **kw):
        raise AssertionError("DataFrame scorer ran despite index registry")

    monkeypatch.setattr(_rel, "more_like_this_df", _boom)
    served = [r["doc_id"] for r in
              compile_query(docs, body, index=field_registry).collect()]
    assert served == fallback


def test_auto_fuzziness_rule():
    from fluent_plugin_elasticsearch_spark.operators.search import (
        auto_fuzziness,
    )

    assert [auto_fuzziness(t) for t in ("ab", "abc", "abcde", "abcdef")] == [
        0, 1, 1, 2]


def test_ast_fuzzy_match_routes(spark, docs, field_registry, monkeypatch):
    from fluent_plugin_elasticsearch_spark.operators import relevance as _rel
    from fluent_plugin_elasticsearch_spark.plans.query_ast import compile_query

    body = {"query": {"match": {"text": {"query": "mergee window",
                                         "fuzziness": 1}}}, "size": 5}
    fallback = [r["doc_id"]
                for r in compile_query(docs, body, index=None).collect()]

    def _boom(*a, **kw):
        raise AssertionError("DataFrame scorer ran despite index registry")

    monkeypatch.setattr(_rel, "fuzzy_match_df", _boom)
    served = [r["doc_id"] for r in
              compile_query(docs, body, index=field_registry).collect()]
    assert served == fallback


def test_expand_prefix_cap_raises(spark, field_registry):
    idx = field_registry["text"]
    n = len(idx.expand_prefix("", max_expansions=10**9))  # every term
    assert n > 1
    with pytest.raises(ValueError, match="expands"):
        idx.expand_prefix("", max_expansions=n - 1)


def test_match_operator_is_case_insensitive_and_checked(spark, docs, field_registry):
    """ES parses a match `operator` in any case: "AND" gives the rows of
    "and" (not OR's). An unknown operator or search mode raises."""
    from fluent_plugin_elasticsearch_spark.plans.query_ast import compile_query

    def rows(operator):
        body = {"query": {"match": {"text": {"query": "dup fast", "operator": operator}}},
                "size": 50}
        return [(r["doc_id"], r["score"]) for r in
                compile_query(docs, body, index=field_registry).collect()]

    both = rows("and")
    assert rows("AND") == both and len(both) < len(rows("or")) and rows("OR") == rows("or")
    with pytest.raises(ValueError, match="operator"):
        rows("xor")
    with pytest.raises(ValueError, match="mode"):
        field_registry["text"].search("dup fast", mode="wnad")


def test_ast_routes_registry(spark, docs, field_registry, monkeypatch):
    """compile_query with a dict registry serves multi_match /
    query_string / combined_fields from postings (the DF scorers must NOT
    run) and returns the same rows as the DF fallback."""
    from fluent_plugin_elasticsearch_spark.plans.query_ast import compile_query

    bodies = [
        {"query": {"multi_match": {"query": "fast table src1",
                                   "fields": ["text", "source"]}}, "size": 5},
        {"query": {"query_string": {"query": "fast AND table OR window",
                                    "default_field": "text"}}, "size": 5},
        {"query": {"combined_fields": {"query": "fast table src1",
                                       "fields": ["text", "source^2"]}},
         "size": 5},
        {"query": {"match_bool_prefix": {"text": "merge ta"}}, "size": 5},
    ]
    fallback = [
        [r["doc_id"] for r in compile_query(docs, b, index=None).collect()]
        for b in bodies
    ]

    def _boom(*a, **kw):  # any DF-scorer call under the registry is a bug
        raise AssertionError("DataFrame scorer ran despite index registry")

    monkeypatch.setattr(_bm25, "multi_match_df", _boom)
    monkeypatch.setattr(_bm25, "query_string_df", _boom)
    monkeypatch.setattr(_bm25, "combined_fields_df", _boom)
    monkeypatch.setattr(_bm25, "match_bool_prefix_df", _boom)
    served = [
        [r["doc_id"] for r in
         compile_query(docs, b, index=field_registry).collect()]
        for b in bodies
    ]
    assert served == fallback


def test_match_scores_bounded_by_postings(spark, field_registry):
    """The serving primitive reads ONLY the query terms' posting blocks:
    the physical plan filters postings on term before the shard kernel —
    no scan of the corpus parquet appears in the plan."""
    idx = field_registry["text"]
    plan = idx.match_scores(["fast", "table"])._jdf.queryExecution().executedPlan().toString()
    assert "documents.parquet" not in plan
    assert "postings" in plan


def test_query_string_gate_over_64_terms_raises(spark, field_registry):
    terms = [f"t{i}" for i in range(70)]
    with pytest.raises(ValueError, match="64"):
        field_registry["text"].match_scores(terms, groups=[terms])


def test_sparse_vector_index_identity_and_plan(spark, docs, field_registry,
                                               served_registry, monkeypatch):
    from fluent_plugin_elasticsearch_spark.operators import relevance as _rel
    from fluent_plugin_elasticsearch_spark.plans.query_ast import compile_query

    qv = {"fast": 1.5, "table": 0.7, "zzznope": 2.0}
    want = _rows(_rel.sparse_vector_df(docs, qv, k=10))
    idx = served_registry["text"]
    got = _rows(idx.sparse_vector_scores(qv)
                .orderBy(F.desc("score_u"), F.asc("doc_id")).limit(10))
    assert got == want and len(got) == 10
    # the Spark serving path reads only posting blocks, never the corpus
    plan = (field_registry["text"].sparse_vector_scores(qv)
            ._jdf.queryExecution().executedPlan().toString())
    assert "documents.parquet" not in plan and "postings" in plan
    # AST route: DF scorer must not run under a registry
    body = {"query": {"sparse_vector": {"field": "text",
                                        "query_vector": qv}}, "size": 10}
    fallback = [r["doc_id"]
                for r in compile_query(docs, body, index=None).collect()]
    monkeypatch.setattr(_rel, "sparse_vector_df",
                        lambda *a, **kw: (_ for _ in ()).throw(
                            AssertionError("DF scorer ran under registry")))
    served = [r["doc_id"] for r in
              compile_query(docs, body, index=served_registry).collect()]
    assert served == fallback
    # absent-everywhere query vector → empty result, not an error
    assert idx.sparse_vector_scores({"zzznope": 1.0}).count() == 0


_SPAN_OR = {"span_or": {"clauses": [{"span_term": {"text": "merge"}},
                                    {"span_term": {"text": "window"}}]}}
_SPAN_NEAR = {"span_near": {"clauses": [{"span_term": {"text": "merge"}},
                                        {"span_term": {"text": "data"}}],
                            "slop": 2}}
_BIG = {"span_near": {"clauses": [{"span_term": {"text": "the"}},
                                  {"span_term": {"text": "data"}}],
                      "slop": 5}}
_STANDARDS = [{"standard": {"query": _SPAN_OR}},
              {"standard": {"query": {"span_or": {"clauses": [
                  {"span_term": {"text": "fast"}}]}}}}]
# (scored kind, body, registry serving it: "tf", "positional" or None for
# the DataFrame scorer only). Kinds with both serving paths run on both.
_SCORED = [
    ("match", {"query": {"match": {"text": "merge window"}}}, "tf"),
    ("match_fuzzy", {"query": {"match": {"text": {
        "query": "mergee windw", "fuzziness": 1}}}}, "tf"),
    ("multi_match", {"query": {"multi_match": {
        "query": "fast table src1", "fields": ["text", "source"]}}}, "tf"),
    ("multi_match_phrase", {"query": {"multi_match": {
        "query": "the data", "type": "phrase",
        "fields": ["text", "source"]}}}, "positional"),
    ("combined_fields", {"query": {"combined_fields": {
        "query": "fast table src1", "fields": ["text", "source^2"]}}}, "tf"),
    ("query_string", {"query": {"query_string": {
        "query": "fast AND table OR window", "default_field": "text"}}},
     "tf"),
    ("sparse_vector", {"query": {"sparse_vector": {
        "field": "text", "query_vector": {"fast": 1.5, "table": 0.7}}}},
     "tf"),
    ("simple_query_string", {"query": {"simple_query_string": {
        "query": "merge + data | scan*"}}}, None),
    ("span_or", {"query": _SPAN_OR}, "tf"),
    ("span_term", {"query": {"span_term": {"text": "merge"}}}, "tf"),
    ("span_near", {"query": _SPAN_NEAR}, "positional"),
    ("span_first", {"query": {"span_first": {
        "match": {"span_term": {"text": "scan"}}, "end": 5}}}, "positional"),
    ("span_not", {"query": {"span_not": {
        "include": {"span_term": {"text": "scan"}},
        "exclude": {"span_term": {"text": "merge"}},
        "pre": 1, "post": 1}}}, "positional"),
    ("span_containing", {"query": {"span_containing": {
        "big": _BIG, "little": {"span_term": {"text": "merge"}}}}},
     "positional"),
    ("span_within", {"query": {"span_within": {
        "big": _BIG, "little": {"span_term": {"text": "merge"}}}}},
     "positional"),
    ("span_multi", {"query": {"span_multi": {"match": {
        "prefix": {"text": {"value": "sp"}}}}}}, "tf"),
    ("intervals", {"query": {"intervals": {"text": {"match": {
        "query": "merge data", "max_gaps": 2, "ordered": True}}}}},
     "positional"),
    ("more_like_this", {"query": {"more_like_this": {
        "fields": ["text"], "like": [{"_id": 3}], "max_query_terms": 8}}},
     "tf"),
    ("match_phrase", {"query": {"match_phrase": {"text": "the data"}}},
     "positional"),
    ("match_phrase_prefix", {"query": {"match_phrase_prefix": {
        "text": "the da"}}}, "positional"),
    ("match_bool_prefix", {"query": {"match_bool_prefix": {
        "text": "merge ta"}}}, "tf"),
    ("script_score", {"query": {"script_score": {
        "query": {"term": {"lang": "en"}},
        "script": {"source": "n_chars * 2 + doc_id / 100"}}}}, None),
    ("distance_feature", {"query": {"distance_feature": {
        "field": "n_chars", "origin": 300, "pivot": 50}}}, None),
    ("rrf", {"retriever": {"rrf": {"retrievers": _STANDARDS,
                                   "rank_window_size": 20}}}, "tf"),
    ("linear", {"retriever": {"linear": {"retrievers": [
        {"retriever": r, "normalizer": "minmax"} for r in _STANDARDS],
        "rank_window_size": 20}}}, "tf"),
    ("hybrid_knn", {"knn": {"field": "vec", "query_vector": [1.0, 0.5],
                            "k": 8},
                    "query": {"multi_match": {"query": "fast table",
                                              "fields": ["text"]}}}, "tf"),
]
_PAGED = [pytest.param(body, reg if served else None, id=f"{kind}-{served}")
          for kind, body, reg in _SCORED
          for served in ([True, False] if reg else [False])
          if served or kind not in ("match", "match_phrase")]
_SCALE = {"score": 1, "score_u": 1e6, "rrf_u": 1e9, "linear_u": 1e9}


@pytest.mark.parametrize("body,registry", _PAGED)
def test_scored_query_from_min_score_and_sort(spark, docs, field_registry,
                                              pos_field_registry, body,
                                              registry):
    """Every scored query kind, index-served and DataFrame-scored, pages
    with from/size, returns no hits at size 0 (its scorer takes k = 0),
    cuts at min_score and refuses an explicit sort."""
    from fluent_plugin_elasticsearch_spark.plans.query_ast import (
        UnsupportedQuery,
        compile_query,
    )

    index = {"tf": field_registry, "positional": pos_field_registry,
             None: None}[registry]
    d = docs.withColumn("vec", F.array(F.col("n_chars").cast("double"),
                                       (F.col("doc_id") % 7).cast("double")))
    full = compile_query(d, {**body, "size": 5}, index=index)
    (score,) = [c for c in full.columns if c in _SCALE]
    hits = [(r["doc_id"], r[score]) for r in full.collect()]
    assert len(hits) == 5

    page = compile_query(d, {**body, "from": 2, "size": 3}, index=index)
    assert [(r["doc_id"], r[score]) for r in page.collect()] == hits[2:5]
    assert compile_query(d, {**body, "size": 0}, index=index).collect() == []

    bar = hits[2][1]
    cut = compile_query(d, {**body, "size": 5,
                            "min_score": bar / _SCALE[score]}, index=index)
    assert ([(r["doc_id"], r[score]) for r in cut.collect()]
            == [h for h in hits if h[1] >= bar])

    with pytest.raises(UnsupportedQuery, match="sort"):
        compile_query(d, {**body, "sort": [{"doc_id": "asc"}]}, index=index)
