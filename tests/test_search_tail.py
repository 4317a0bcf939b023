"""Every search body kind goes through compile_query's one tail: filter,
constant_score, index-served and DataFrame-scored queries, pure knn,
percolate and post_filter bodies page with from/size, return nothing at
``size: 0``, project with ``_source`` in its list, object and false forms,
and sort where the kind allows it."""

import pytest

from fluent_plugin_elasticsearch_spark.operators.index_build import build_field_indexes
from fluent_plugin_elasticsearch_spark.operators.percolate import make_query_registry
from fluent_plugin_elasticsearch_spark.operators.search import InvertedIndex
from fluent_plugin_elasticsearch_spark.plans.query_ast import (
    UnsupportedQuery,
    compile_query,
)

N = 30
# (query_id, terms, msm): all but query 5 match the document below
REGISTRY = [(1, ["merge"], 1), (2, ["merge", "data"], 2), (3, ["fast", "slow"], 1),
            (4, ["table", "window", "data"], 3), (5, ["nope"], 1), (6, ["data", "window"], 1)]
PERCOLATE = {"query": {"percolate": {"document": {"text": "merge data fast table window"}}}}
SQS = {"query": {"simple_query_string": {"query": "merge data"}}}
KNN = {"field": "vec", "query_vector": [0.0, 1.0]}  # nearest: the highest doc_id

# (id, body, the row id column, the columns _source always keeps,
#  sort spec and its Python key — None where the kind refuses a sort)
CASES = [
    ("filter", {"query": {"term": {"lang": "en"}}}, "doc_id", [],
     [{"n_chars": "desc"}], lambda r: -r["n_chars"]),
    ("constant_score", {"query": {"constant_score": {"filter": {"term": {"lang": "en"}}}}},
     "doc_id", ["score_u"], [{"n_chars": {"order": "desc"}}], lambda r: -r["n_chars"]),
    ("match-index", {"query": {"match": {"text": "merge data"}}}, "doc_id", ["score"],
     None, None),
    ("simple_query_string", SQS, "doc_id", ["score_u"], None, None),
    ("knn", {"knn": {**KNN, "k": 10}}, "doc_id", ["cosine", "rank"],
     [{"_index": "asc"}, {"n_chars": "desc"}], lambda r: (r["index_name"], -r["n_chars"])),
    ("percolate", PERCOLATE, "query_id", ["query_id", "matched_terms"],
     [{"msm": "desc"}], lambda r: (-r["msm"], r["query_id"])),
    ("post_filter", {**SQS, "post_filter": {"term": {"lang": "en"}}}, "doc_id", ["score_u"],
     None, None),
]
PARAMS = [pytest.param(*c[1:], id=c[0]) for c in CASES]


@pytest.fixture(scope="module")
def frames(spark, tmp_path_factory):
    """(docs, stored-query registry, {field: InvertedIndex}) over N docs:
    lang en on even ids, distinct n_chars, cosine to KNN rising with doc_id."""
    docs = spark.createDataFrame(
        [(i, f"merge {'data ' * (i % 5)}w{i}", "en" if i % 2 == 0 else "de",
          (7 * i) % N, f"idx-{i % 3}", [1.0, float(i)]) for i in range(N)],
        "doc_id long, text string, lang string, n_chars long, index_name string,"
        " vec array<double>").persist()
    root = str(tmp_path_factory.mktemp("tailidx"))
    paths = build_field_indexes(spark, docs, root, ["text"], id_col="doc_id",
                                tokenizer="simple", n_shards=2, n_salts=1)
    registry = {f: InvertedIndex(spark, p) for f, p in paths.items()}
    return docs, make_query_registry(spark, REGISTRY), registry


def _run(frames, body, extra):
    docs, reg, index = frames
    on = reg if "percolate" in body.get("query", {}) else docs
    return [r.asDict() for r in compile_query(on, {**body, **extra}, index=index).collect()]


@pytest.mark.parametrize("body,id_col,keep,sort,key", PARAMS)
def test_from_size_pages_and_size_zero_is_empty(frames, body, id_col, keep, sort, key):
    order = {"sort": sort} if sort else {}
    full = _run(frames, body, {**order, "size": 5})
    assert len(full) == 5
    assert _run(frames, body, {**order, "from": 2, "size": 3}) == full[2:5]
    assert _run(frames, body, {**order, "size": 0}) == []


@pytest.mark.parametrize("body,id_col,keep,sort,key", PARAMS)
def test_source_list_object_and_false_forms(frames, body, id_col, keep, sort, key):
    field = "msm" if id_col == "query_id" else "lang"
    lead = [] if id_col == "query_id" else ["doc_id"]
    order = {"sort": sort} if sort else {}
    ids = [r[id_col] for r in _run(frames, body, {**order, "size": 5})]
    for src, cols in (([field], [*lead, field, *keep]),
                      ({"includes": [field[:2] + "*"]}, [*lead, field, *keep]),
                      (False, [*lead, *keep])):
        rows = _run(frames, body, {**order, "size": 5, "_source": src})
        assert [list(r) for r in rows] == [cols] * 5, src
        assert [r[id_col] for r in rows] == ids


@pytest.mark.parametrize("body,id_col,keep,sort,key", PARAMS)
def test_sort_orders_the_hits_where_the_kind_allows_it(frames, body, id_col, keep, sort,
                                                        key):
    if sort is None:  # scored hits are score-ordered
        with pytest.raises(UnsupportedQuery, match="sort"):
            _run(frames, body, {"sort": [{"n_chars": "desc"}]})
        return
    # sort presents the kind's rows (knn: its k nearest) in another order
    assert _run(frames, body, {"sort": sort}) == sorted(_run(frames, body, {}), key=key)


@pytest.mark.parametrize("body", [CASES[0][1], {"knn": {**KNN, "k": 10}}, PERCOLATE],
                         ids=["filter", "knn", "percolate"])
def test_min_score_needs_a_score_column(frames, body):
    with pytest.raises(UnsupportedQuery, match="min_score"):
        _run(frames, body, {"min_score": 0.1})


def test_knn_reads_runtime_fields(frames):
    body = {"knn": {**KNN, "k": 5}, "sort": [{"n2": "desc"}], "_source": ["n2"],
            "runtime_mappings": {"n2": {"type": "long", "script": "n_chars * 2"}}}
    rows = _run(frames, body, {})
    assert [list(r) for r in rows] == [["doc_id", "n2", "cosine", "rank"]] * 5
    assert {r["doc_id"] for r in rows} == {25, 26, 27, 28, 29}
    assert [r["n2"] for r in rows] == sorted((r["n2"] for r in rows), reverse=True)


def test_knn_without_k_takes_size_before_the_post_filter(frames):
    """k defaults to size: the 3 nearest (29, 28, 27), then the filter."""
    body = {"knn": KNN, "post_filter": {"term": {"lang": "de"}}, "size": 3}
    assert [r["doc_id"] for r in _run(frames, body, {})] == [29, 27]
