"""Relevance compositions (operators/relevance.py) + new query-AST
clauses (regexp, terms_set, search_after): semantics checked against
brute-force Python, SQL mirrors checked against DuckDB."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from fluent_plugin_elasticsearch_spark.operators import bm25
from fluent_plugin_elasticsearch_spark.operators import relevance as rel
from fluent_plugin_elasticsearch_spark.operators import simple_query as sq
from fluent_plugin_elasticsearch_spark.plans.query_ast import (
    UnsupportedQuery,
    _compile_clause,
    compile_query,
)

TEXTS = [
    "the quick brown fox jumps over the lazy dog",
    "a quick brown cat sits on the mat",
    "spark engines merge sorted partitions quickly",
    "the lazy dog sleeps all day in the sun",
    "quick quick quick repetition here",
    "merge partition merge partition merge",
    "wholly unrelated content about gardening roses",
    "fox and dog are friends in the park",
]


@pytest.fixture(scope="module")
def docs(spark):
    rows = [Row(doc_id=i, text=t, lang=["en", "fr"][i % 2], n_chars=len(t))
            for i, t in enumerate(TEXTS)]
    return spark.createDataFrame(rows)


@pytest.fixture(scope="module")
def duck(tmp_path_factory, docs):
    con = duckdb.connect()
    pdf = docs.toPandas()
    con.register("docs", pdf)
    return con


def _match(spark_df, con, sql):
    got = [(r["doc_id"], r["score_u"]) for r in spark_df.collect()]
    want = [(int(a), int(b)) for a, b in con.sql(sql).fetchall()]
    assert got == want


def test_dis_max_matches_sql(docs, duck):
    qs = [("text", ["quick", "fox"]), ("text", ["merge", "partition"])]
    df = rel.dis_max_df(docs, qs, tie_breaker=0.3, k=8)
    _match(df, duck, rel.dis_max_sql("docs", qs, tie_breaker=0.3, k=8))


def test_dis_max_tiebreaker_zero_is_pure_max(docs):
    qs = [("text", ["quick"]), ("text", ["merge"])]
    both = rel.dis_max_df(docs, qs, tie_breaker=0.0, k=8).collect()
    a = {r["doc_id"]: r["score_u"] for r in rel.dis_max_df(docs, [qs[0]], k=8).collect()}
    b = {r["doc_id"]: r["score_u"] for r in rel.dis_max_df(docs, [qs[1]], k=8).collect()}
    for r in both:
        assert r["score_u"] == max(a.get(r["doc_id"], 0), b.get(r["doc_id"], 0))


def test_boosting_demotes_not_excludes(docs, duck):
    neg = _compile_clause({"term": {"lang": "fr"}})
    df = rel.boosting_df(docs, ["quick", "dog"], neg, negative_boost=0.4, k=8)
    rows = {r["doc_id"]: r["score_u"] for r in df.collect()}
    plain = {r["doc_id"]: r["score_u"]
             for r in rel.boosting_df(docs, ["quick", "dog"], F.lit(False), k=8).collect()}
    for did, s in rows.items():
        if did % 2 == 1:  # lang == fr
            assert s == int(plain[did] * 0.4) or s == plain[did] * 0.4 // 1
        else:
            assert s == plain[did]
    _match(df, duck, rel.boosting_sql("docs", ["quick", "dog"], "lang = 'fr'",
                                      negative_boost=0.4, k=8))


def test_function_score_matches_sql(docs, duck):
    df = rel.function_score_df(docs, ["quick"], "n_chars", factor=0.1,
                               modifier="log1p", k=8)
    _match(df, duck, rel.function_score_sql("docs", ["quick"], "n_chars",
                                            factor=0.1, modifier="log1p", k=8))


def test_collapse_one_hit_per_group(docs, duck):
    df = rel.collapse_topk(docs, ["quick", "merge"], "lang", k=8)
    rows = df.collect()
    langs = [r["lang"] for r in rows]
    assert len(langs) == len(set(langs))  # one survivor per collapse value
    got = [(r["doc_id"], r["lang"], r["score_u"]) for r in rows]
    want = [(int(a), b, int(c)) for a, b, c in duck.sql(
        rel.collapse_sql("docs", ["quick", "merge"], "lang", k=8)).fetchall()]
    assert got == want


def test_match_phrase_prefix(docs, duck):
    # "quick bro" should hit docs 0 and 1 (quick brown...), not doc 4
    df = rel.match_phrase_prefix_df(docs, ["quick", "bro"], k=8)
    ids = [r["doc_id"] for r in df.collect()]
    assert set(ids) == {0, 1}
    _match(df, duck, rel.match_phrase_prefix_sql("docs", ["quick", "bro"], k=8))


def test_match_phrase_prefix_last_term_whole_word_still_matches(docs):
    ids = {r["doc_id"] for r in
           rel.match_phrase_prefix_df(docs, ["lazy", "dog"], k=8).collect()}
    assert ids == {0, 3}


def test_more_like_this(docs, duck):
    df = rel.more_like_this_df(docs, like_id=0, max_query_terms=5, k=8)
    rows = df.collect()
    ids = [r["doc_id"] for r in rows]
    assert 0 not in ids  # seed excluded
    assert len(ids) > 0
    _match(df, duck, rel.more_like_this_sql("docs", like_id=0,
                                            max_query_terms=5, k=8))


def test_regexp_clause_full_match(docs):
    out = docs.filter(_compile_clause({"regexp": {"lang": "e."}}))
    assert {r["lang"] for r in out.collect()} == {"en"}
    # not a substring match: "n" alone must not match "en"
    assert docs.filter(_compile_clause({"regexp": {"lang": "n"}})).count() == 0


def test_terms_set_minimum_should_match(spark, docs):
    toks = docs.withColumn("tokens", F.split(F.col("text"), " "))
    c = _compile_clause({"terms_set": {"tokens": {
        "terms": ["quick", "fox", "merge"], "minimum_should_match": 2}}})
    ids = {r["doc_id"] for r in toks.filter(c).collect()}
    # brute-force check
    want = {i for i, t in enumerate(TEXTS)
            if len({"quick", "fox", "merge"} & set(t.split())) >= 2}
    assert ids == want


def test_search_after_keyset(docs):
    body = {"sort": [{"n_chars": {"order": "desc"}}, {"doc_id": {"order": "asc"}}],
            "size": 3}
    page1 = compile_query(docs, body).collect()
    cursor = [page1[-1]["n_chars"], page1[-1]["doc_id"]]
    page2 = compile_query(docs, {**body, "search_after": cursor}).collect()
    got = [r["doc_id"] for r in page1 + page2]
    # matches one global sort of everything
    full = [r["doc_id"] for r in compile_query(
        docs, {"sort": body["sort"], "size": 6}).collect()]
    assert got == full
    assert len(set(got)) == 6


def test_search_after_requires_matching_sort(docs):
    with pytest.raises(UnsupportedQuery):
        compile_query(docs, {"sort": [{"n_chars": "asc"}], "search_after": [1, 2]})


def test_rescore_window_rerank(docs, duck):
    df = rel.rescore_df(docs, ["quick", "dog"], ["lazy", "dog"],
                        window_size=5, query_weight=1.0,
                        rescore_query_weight=2.0, k=5)
    _match(df, duck, rel.rescore_sql("docs", ["quick", "dog"], ["lazy", "dog"],
                                     window_size=5, query_weight=1.0,
                                     rescore_query_weight=2.0, k=5))
    # a doc containing the phrase must outrank its base-only position
    rows = {r["doc_id"]: r["score_u"] for r in df.collect()}
    base = {r["doc_id"]: r["score_u"] for r in
            rel.rescore_df(docs, ["quick", "dog"], ["lazy", "dog"],
                           window_size=5, rescore_query_weight=0.0, k=5).collect()}
    for did in rows:
        if did in base:
            assert rows[did] >= base[did]


def test_embedding_neardup_exact_matches_brute(spark):
    import numpy as np
    from fluent_plugin_elasticsearch_spark.operators.similarity import (
        embedding_neardup_exact)
    rng = np.random.RandomState(7)
    vecs = rng.randn(40, 8)
    vecs[13] = vecs[5] + 0.01 * rng.randn(8)  # planted near-dup
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {(r["id_a"], r["id_b"]) for r in
           embedding_neardup_exact(emb, 0.95).collect()}
    want = set()
    for i in range(40):
        for j in range(i + 1, 40):
            c = vecs[i] @ vecs[j] / (np.linalg.norm(vecs[i]) * np.linalg.norm(vecs[j]))
            if c >= 0.95:
                want.add((i, j))
    assert got == want and (5, 13) in got


def test_pinned_query(docs, duck):
    df = rel.pinned_df(docs, [6, 3, 999], ["quick", "dog"], k=4)
    rows = df.collect()
    # pinned first in list order; missing id 999 dropped; organic excludes pinned
    assert [r["doc_id"] for r in rows[:2]] == [6, 3]
    assert rows[0]["score_u"] is None and rows[1]["score_u"] is None
    organic_ids = [r["doc_id"] for r in rows[2:]]
    assert 6 not in organic_ids and 3 not in organic_ids
    got = [(r["doc_id"], r["rank"], r["score_u"]) for r in rows]
    want = [(int(a), int(b), None if c is None else int(c)) for a, b, c in
            duck.sql(rel.pinned_sql("docs", [6, 3, 999], ["quick", "dog"], k=4)).fetchall()]
    assert got == want
    # ES renumbers contiguously: with pin 999 absent from the corpus, the
    # two surviving pins take ranks 1-2 and organic starts at 3 (no gap)
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))


def test_constant_score(docs):
    out = compile_query(docs, {
        "query": {"constant_score": {"filter": {"term": {"lang": "en"}}, "boost": 1.5}},
        "sort": [{"doc_id": "asc"}],
    })
    rows = out.collect()
    assert len(rows) == 4
    assert all(r["score_u"] == 1500000 for r in rows)


def test_constant_score_min_score(docs):
    """min_score compares against constant_score's score_u at its ×1e6
    scale; a filter body has no score, so min_score on it raises."""
    body = {"query": {"constant_score": {"filter": {"term": {"lang": "en"}},
                                         "boost": 1.5}}}
    assert compile_query(docs, {**body, "min_score": 1.5}).count() == 4
    assert compile_query(docs, {**body, "min_score": 2.0}).count() == 0
    with pytest.raises(UnsupportedQuery, match="min_score"):
        compile_query(docs, {"query": {"term": {"lang": "en"}}, "min_score": 1.0})
    with pytest.raises(UnsupportedQuery, match="min_score"):
        compile_query(docs, {"min_score": 1.0})


def test_span_near_slop_semantics(docs, duck):
    # slop=0 ≡ adjacency: "lazy dog" docs 0,3
    ids0 = {r["doc_id"] for r in rel.span_near_df(docs, "lazy", "dog", slop=0, k=8).collect()}
    assert ids0 == {0, 3}
    # "quick ... fox": adjacent? doc 0 is "quick brown fox" — distance 2
    assert {r["doc_id"] for r in rel.span_near_df(docs, "quick", "fox", slop=0, k=8).collect()} == set()
    ids1 = {r["doc_id"] for r in rel.span_near_df(docs, "quick", "fox", slop=1, k=8).collect()}
    assert ids1 == {0}
    # in_order: "dog lazy" never occurs
    assert {r["doc_id"] for r in rel.span_near_df(docs, "dog", "lazy", slop=3, k=8).collect()} == set()
    _match(rel.span_near_df(docs, "quick", "fox", slop=2, k=8), duck,
           rel.span_near_sql("docs", "quick", "fox", slop=2, k=8))


def test_span_near_empty_token_doc(spark):
    # regression: a punctuation-only doc tokenizes to []; sequence(1, 0)
    # is the DESCENDING [1, 0] and an unguarded element_at crashed the job
    # with INVALID_ARRAY_INDEX_IN_ELEMENT_AT
    rows = [Row(doc_id=0, text="quick brown fox"),
            Row(doc_id=1, text="!!! ... ???"),
            Row(doc_id=2, text="")]
    d = spark.createDataFrame(rows)
    got = {r["doc_id"] for r in rel.span_near_df(d, "brown", "fox", slop=0, k=5).collect()}
    assert got == {0}


def test_span_near_slop0_equals_phrase(docs):
    from fluent_plugin_elasticsearch_spark.operators.bm25 import match_phrase_df
    a = [(r["doc_id"], r["score_u"]) for r in
         rel.span_near_df(docs, "lazy", "dog", slop=0, k=8).collect()]
    b = [(r["doc_id"], r["score_u"]) for r in
         match_phrase_df(docs, ["lazy", "dog"], k=8).collect()]
    assert a == b


def test_function_score_rank_feature_modifiers(docs, duck):
    for mod in ("saturation", "sigmoid"):
        df = rel.function_score_df(docs, ["quick"], "n_chars", factor=0.05,
                                   modifier=mod, k=8)
        _match(df, duck, rel.function_score_sql("docs", ["quick"], "n_chars",
                                                factor=0.05, modifier=mod, k=8))
    # saturation is bounded: boost < 1 → boosted score < base score
    base = {r["doc_id"]: r["score_u"] for r in
            rel.function_score_df(docs, ["quick"], "n_chars",
                                  factor=0.05, modifier="none", k=8).collect()}
    sat = {r["doc_id"]: r["score_u"] for r in
           rel.function_score_df(docs, ["quick"], "n_chars",
                                 factor=0.05, modifier="saturation", k=8).collect()}
    for did, s in sat.items():
        assert s <= base[did]


def test_span_first(docs, duck):
    # term in the first N positions only; df/avgdl corpus-level
    got = rel.span_first_df(docs, "quick", 1, k=8).collect()
    # only docs that START with 'quick'
    for r in got:
        assert r["score_u"] > 0
    _match(rel.span_first_df(docs, "quick", 3, k=8), duck,
           rel.span_first_sql("docs", "quick", 3, k=8))
    # end beyond every doc length ≡ plain term match with tf = full count
    _match(rel.span_first_df(docs, "merge", 99, k=8), duck,
           rel.span_first_sql("docs", "merge", 99, k=8))


def test_phrase_suggest(docs, duck):
    got = [tuple(r) for r in rel.phrase_suggest_df(
        docs, ["quik", "brwn", "merge"], max_edit=2).collect()]
    want = [tuple(r) for r in duck.sql(rel.phrase_suggest_sql(
        "docs", ["quik", "brwn", "merge"], max_edit=2)).fetchall()]
    assert got == want
    by_pos = {g[0]: g for g in got}
    assert by_pos[0][2] == "quick"      # quik → quick
    assert by_pos[2][2] == "merge" and by_pos[2][3] == 0  # exact stays


def test_combined_fields_blends_statistics(docs, duck):
    from fluent_plugin_elasticsearch_spark.operators.bm25 import (
        combined_fields_df, combined_fields_sql, multi_match_df)

    got = [(r["doc_id"], r["score_u"]) for r in combined_fields_df(
        docs, ["quick", "en"], ["text", "lang"], k=8).collect()]
    want = [(int(a), int(b)) for a, b in duck.sql(combined_fields_sql(
        "docs", ["quick", "en"], ["text", "lang"], k=8)).fetchall()]
    assert got == want
    # shared statistics ≠ per-field combination: a doc matching only via
    # 'lang' still scores (blended df), and scores differ from most_fields
    mm = {r["doc_id"]: r["score_u"] for r in multi_match_df(
        docs, ["quick", "en"], ["text", "lang"], k=8,
        match_type="most_fields").collect()}
    cf = dict(got)
    assert cf and any(cf.get(d) != mm.get(d) for d in cf)
    # weight floor enforced like ES
    import pytest as _pytest
    with _pytest.raises(ValueError):
        combined_fields_df(docs, ["quick"], ["text"], weights={"text": 0})


def test_span_or_semantics(docs, duck):
    # any occurrence of 'fox' or 'cat': docs 0, 1, 7
    ids = {r["doc_id"] for r in rel.span_or_df(docs, ["fox", "cat"], k=8).collect()}
    assert ids == {0, 1, 7}
    _match(rel.span_or_df(docs, ["fox", "cat"], k=8), duck,
           rel.span_or_sql("docs", ["fox", "cat"], k=8))
    # empty-token docs don't crash
    assert rel.span_or_df(docs, ["zzznope"], k=8).count() == 0


def test_span_not_semantics(docs, duck):
    # 'dog' NOT within 1 token of 'lazy': doc 0/3 have "lazy dog" (adjacent
    # → rejected); doc 7 "fox and dog" survives
    ids = {r["doc_id"] for r in rel.span_not_df(docs, "dog", "lazy", pre=1, post=1, k=8).collect()}
    assert ids == {7}
    # pre/post 0 → only exact-same-position exclusion (impossible) → all dog docs
    ids0 = {r["doc_id"] for r in rel.span_not_df(docs, "dog", "lazy", pre=0, post=0, k=8).collect()}
    assert ids0 == {0, 3, 7}
    _match(rel.span_not_df(docs, "dog", "lazy", pre=2, post=2, k=8), duck,
           rel.span_not_sql("docs", "dog", "lazy", pre=2, post=2, k=8))


def test_intervals_semantics(docs, duck):
    # ordered 'quick'..'fox' with the whole interval gap <= 1:
    # doc 0 "quick brown fox" = width 3, gaps 1 → matches
    ids = {r["doc_id"] for r in rel.intervals_match_df(
        docs, ["quick", "fox"], max_gaps=1, ordered=True, k=8).collect()}
    assert ids == {0}
    assert rel.intervals_match_df(
        docs, ["quick", "fox"], max_gaps=0, ordered=True, k=8).count() == 0
    # unordered finds 'fox'..'quick' in either order
    idsu = {r["doc_id"] for r in rel.intervals_match_df(
        docs, ["fox", "quick"], max_gaps=1, ordered=False, k=8).collect()}
    assert idsu == {0}
    # 3-term ordered chain: 'the quick brown fox jumps over the lazy dog'
    ids3 = {r["doc_id"] for r in rel.intervals_match_df(
        docs, ["quick", "fox", "dog"], max_gaps=10, ordered=True, k=8).collect()}
    assert ids3 == {0}
    # tight gap bound excludes it: quick..dog spans 8 tokens, 5 gaps
    assert rel.intervals_match_df(
        docs, ["quick", "fox", "dog"], max_gaps=4, ordered=True, k=8).count() == 0
    _match(rel.intervals_match_df(docs, ["quick", "fox", "dog"], max_gaps=10,
                                  ordered=True, k=8),
           duck,
           rel.intervals_match_sql("docs", ["quick", "fox", "dog"], max_gaps=10,
                                   ordered=True, k=8))
    with pytest.raises(UnsupportedQuery):
        rel.intervals_match_df(docs, ["a", "b", "c"], ordered=False)
    with pytest.raises(UnsupportedQuery):
        rel.intervals_match_df(docs, ["a"])


def test_knn_candidates_need_a_vector(spark):
    """Docs without an embedding never pad the k nearest hits: with fewer
    than k embedded docs, the knn side returns only those docs."""
    rows = [(i, [1.0, float(i)] if i < 2 else None) for i in range(6)]
    d = spark.createDataFrame(rows, "doc_id long, embedding array<double>")
    body = {"knn": {"field": "embedding", "query_vector": [1.0, 0.0], "k": 4}}
    assert [r["doc_id"] for r in compile_query(d, body).collect()] == [0, 1]


def test_knn_pages_with_from_size(spark):
    """A pure knn body pages its k nearest (in sort order) by from/size;
    without them it returns all k. min_score raises: knn hits carry
    cosine, and knn.similarity is their cutoff."""
    rows = [(i, [1.0, float(i)]) for i in range(8)]
    d = spark.createDataFrame(rows, "doc_id long, embedding array<double>")
    knn = {"field": "embedding", "query_vector": [1.0, 0.0], "k": 5}
    nearest = [r["doc_id"] for r in compile_query(d, {"knn": knn}).collect()]
    assert nearest == [0, 1, 2, 3, 4]
    page = compile_query(d, {"knn": knn, "from": 2, "size": 2}).collect()
    assert [r["doc_id"] for r in page] == [2, 3]
    assert [r["doc_id"] for r in compile_query(
        d, {"knn": knn, "from": 3}).collect()] == [3, 4]
    by_id = compile_query(d, {"knn": knn, "sort": [{"doc_id": "desc"}],
                              "size": 2}).collect()
    assert [r["doc_id"] for r in by_id] == [4, 3]
    with pytest.raises(UnsupportedQuery, match="knn.similarity"):
        compile_query(d, {"knn": knn, "min_score": 0.5})


def test_hybrid_knn_query(spark):
    import math

    rows = [Row(doc_id=i, text=("quick fox " if i < 3 else "other text ") * 3,
                embedding=[1.0 if j == i % 4 else 0.1 for j in range(4)])
            for i in range(8)]
    d = spark.createDataFrame(rows)
    body = {"query": {"multi_match": {"query": "quick fox", "fields": ["text"]}},
            "knn": {"field": "embedding", "query_vector": [1.0, 0.0, 0.0, 0.0],
                    "k": 2, "boost": 2.0},
            "size": 5}
    out = compile_query(d, body).collect()
    got = {r["doc_id"]: r["score_u"] for r in out}
    # doc 0: text hit AND knn cosine 1.0*2.0 → combined dominates
    assert out[0]["doc_id"] == 0
    assert got[0] >= 2_000_000  # knn contribution alone is 2e6
    # knn-only doc (doc 1 = exact match on dim 1? cosine 0 vs query) —
    # query-only docs 1,2 appear with just their text score
    assert 1 in got and 2 in got
    # unsupported query kind still raises
    with pytest.raises(UnsupportedQuery):
        compile_query(d, {"query": {"term": {"text": "x"}},
                          "knn": {"field": "embedding",
                                  "query_vector": [1.0, 0, 0, 0], "k": 2}})


def test_rank_feature_shapes(docs, duck):
    _match(rel.rank_feature_df(docs, "n_chars", k=8, function="saturation", pivot=30.0),
           duck, rel.rank_feature_sql("docs", "n_chars", k=8,
                                      function="saturation", pivot=30.0))
    _match(rel.rank_feature_df(docs, "n_chars", k=8, function="log", scaling_factor=0.1),
           duck, rel.rank_feature_sql("docs", "n_chars", k=8,
                                      function="log", scaling_factor=0.1))
    _match(rel.rank_feature_df(docs, "n_chars", k=8, function="sigmoid",
                               pivot=30.0, exponent=2.0),
           duck, rel.rank_feature_sql("docs", "n_chars", k=8, function="sigmoid",
                                      pivot=30.0, exponent=2.0))
    # default pivot = mean of the field (broadcast single-row subplan)
    rows = rel.rank_feature_df(docs, "n_chars", k=8).collect()
    assert len(rows) == 8 and all(0 <= r["score_u"] <= 1_000_000 for r in rows)
    # saturation is monotone in the feature: longer text scores higher
    by_len = sorted(((r["doc_id"], r["score_u"]) for r in rows))
    chars = {r["doc_id"]: r["n_chars"] for r in docs.collect()}
    ranked = sorted(by_len, key=lambda p: -p[1])
    assert chars[ranked[0][0]] == max(chars[d] for d, _ in by_len)


def test_decay_score_shapes(docs, duck):
    for shape in ("gauss", "exp", "linear"):
        _match(rel.decay_score_df(docs, ["quick", "dog"], "n_chars",
                                  origin=40.0, scale=20.0, decay=0.5,
                                  shape=shape, k=8),
               duck,
               rel.decay_score_sql("docs", ["quick", "dog"], "n_chars",
                                   origin=40.0, scale=20.0, decay=0.5,
                                   shape=shape, k=8))
    # decay(origin) == 1 (no penalty), decay at distance `scale` == decay param
    base = {r["doc_id"]: r["score_u"]
            for r in rel.bm25_scores_df(docs, ["quick", "dog"], "doc_id", "text").collect()}
    chars = {r["doc_id"]: r["n_chars"] for r in docs.collect()}
    for r in rel.decay_score_df(docs, ["quick", "dog"], "n_chars",
                                origin=40.0, scale=20.0, decay=0.5,
                                shape="gauss", k=8).collect():
        d = abs(chars[r["doc_id"]] - 40.0)
        import math
        expect = math.floor(base[r["doc_id"]] * math.exp(-(d * d) / (2 * (20.0 ** 2) / (2 * math.log(2)))))
        assert r["score_u"] == expect


def test_random_score_deterministic(docs, duck):
    a = [(r["doc_id"], r["score_u"]) for r in rel.random_score_df(docs, seed=3, k=8).collect()]
    b = [(r["doc_id"], r["score_u"]) for r in rel.random_score_df(docs, seed=3, k=8).collect()]
    assert a == b  # same seed → same order
    c = [(r["doc_id"], r["score_u"]) for r in rel.random_score_df(docs, seed=4, k=8).collect()]
    assert a != c  # different seed → different scores
    _match(rel.random_score_df(docs, seed=3, k=8), duck,
           rel.random_score_sql("docs", seed=3, k=8))


def test_wrapper_query_decodes_and_recurses(docs):
    import base64
    import json

    inner = {"bool": {"must": [{"term": {"lang": "en"}},
                               {"range": {"n_chars": {"gte": 30}}}]}}
    b64 = base64.b64encode(json.dumps(inner).encode()).decode()
    out = compile_query(docs, {"query": {"wrapper": {"query": b64}},
                               "sort": [{"doc_id": "asc"}]})
    direct = compile_query(docs, {"query": inner, "sort": [{"doc_id": "asc"}]})
    assert [r["doc_id"] for r in out.collect()] == [r["doc_id"] for r in direct.collect()]


def test_unigram_logprob(docs, duck):
    from fluent_plugin_elasticsearch_spark.operators import textquality as tq

    out = tq.unigram_logprob_scores(docs)
    toks_sql = "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')"
    got = sorted(tuple(r) for r in out.collect())
    want = sorted(tuple(int(x) for x in r)
                  for r in duck.sql(tq.unigram_logprob_sql("docs", toks_sql)).fetchall())
    assert got == want
    # the repeated-word doc ("quick quick quick...") has LOW surprisal only
    # if its words are common; doc 6 (unique gardening words) scores HIGH
    scores = {r["doc_id"]: r["mean_nll_micro"] for r in out.collect()}
    assert scores[6] == max(scores.values())


def test_match_bool_prefix(docs, duck):
    from fluent_plugin_elasticsearch_spark.operators import bm25 as B

    # "quick bro" → full term 'quick' scored, prefix 'bro' constant
    df = B.match_bool_prefix_df(docs, ["quick", "bro"], k=8)
    _match(df, duck, B.match_bool_prefix_sql("docs", ["quick", "bro"], k=8))
    rows = {r["doc_id"]: r["score_u"] for r in df.collect()}
    base = {r["doc_id"]: r["score_u"]
            for r in B.bm25_scores_df(docs, ["quick"]).collect()}
    # docs 0/1 have quick AND brown → BM25 + the 1e6 prefix constant;
    # doc 4 has only 'quick' → exactly its BM25, no prefix bonus
    assert rows[0] == base[0] + 1_000_000 and rows[1] == base[1] + 1_000_000
    assert rows[4] == base[4]
    # bool-should: prefix-only docs still match (brown without quick: none
    # here, but 'fo' matches doc 7's fox without any full term)
    only_pref = {r["doc_id"]: r["score_u"]
                 for r in B.match_bool_prefix_df(docs, ["merge", "fo"], k=8).collect()}
    assert only_pref[7] == 1_000_000  # fox prefix, no 'merge'


def test_explain_api_matches_score(docs, duck):
    from fluent_plugin_elasticsearch_spark.operators import bm25 as B

    exp = B.explain_df(docs, ["quick", "dog"], doc_id=0).collect()
    assert [r["term"] for r in exp] == ["dog", "quick"]
    got = [tuple(r) for r in exp]
    want = [tuple(r) for r in duck.sql(
        B.explain_sql("docs", ["quick", "dog"], doc_id=0)).fetchall()]
    assert got == want
    # faithful: Σ contrib equals the scorer's quantized score within 2 ulp
    # of the micro-unit floors (each side floors independently)
    total = sum(r["contrib_u"] for r in exp)
    score = {r["doc_id"]: r["score_u"]
             for r in B.bm25_scores_df(docs, ["quick", "dog"]).collect()}[0]
    assert abs(total - score) <= 2


def test_span_containing_within_semantics(spark, docs, duck):
    # doc 0: the(1) quick(2) brown(3) fox(4) ... big = quick..fox slop=1
    # contains brown(3); doc 1 has quick brown but no fox.
    ids = {r["doc_id"] for r in rel.span_containing_df(
        docs, "quick", "fox", "brown", slop=1, k=8).collect()}
    assert ids == {0}
    # little outside the big span: fox(4) not in [lazy(8), dog(9)]
    assert rel.span_containing_df(
        docs, "lazy", "dog", "fox", slop=0, k=8).count() == 0
    # within mirror: brown(3) within quick..cat in doc 1 (quick(2) cat(4))
    ids = {r["doc_id"] for r in rel.span_within_df(
        docs, "quick", "cat", "brown", slop=1, k=8).collect()}
    assert ids == {1}
    # multiple spans count: doc 5 merge(1) partition(2) merge(3)
    # partition(4) merge(5) — big merge..partition slop=0 → pairs (1,2),
    # (3,4); each contains a merge → containing sf=2; within counts the
    # enclosed merges 1 and 3 (not 5) → sf=2
    c = rel.span_containing_df(docs, "merge", "partition", "merge",
                               slop=0, k=8)
    w = rel.span_within_df(docs, "merge", "partition", "merge",
                           slop=0, k=8)
    assert {r["doc_id"] for r in c.collect()} == {5}
    assert {r["doc_id"] for r in w.collect()} == {5}
    _match(c, duck, rel.span_containing_sql(
        "docs", "merge", "partition", "merge", slop=0, k=8))
    _match(w, duck, rel.span_within_sql(
        "docs", "merge", "partition", "merge", slop=0, k=8))
    _match(rel.span_containing_df(docs, "quick", "fox", "brown", slop=1, k=8),
           duck, rel.span_containing_sql("docs", "quick", "fox", "brown",
                                         slop=1, k=8))
    _match(rel.span_within_df(docs, "quick", "cat", "brown", slop=1, k=8),
           duck, rel.span_within_sql("docs", "quick", "cat", "brown",
                                     slop=1, k=8))


def test_span_containing_ast_route_and_raises(spark, docs):
    body = {"query": {"span_containing": {
        "big": {"span_near": {"clauses": [
            {"span_term": {"text": "quick"}},
            {"span_term": {"text": "fox"}}], "slop": 1, "in_order": True}},
        "little": {"span_term": {"text": "brown"}}}}, "size": 8}
    out = compile_query(docs, body)
    assert {r["doc_id"] for r in out.collect()} == {0}
    with pytest.raises(UnsupportedQuery, match="big must be a span_near"):
        compile_query(docs, {"query": {"span_within": {
            "big": {"span_term": {"text": "a"}},
            "little": {"span_term": {"text": "b"}}}}})
    with pytest.raises(UnsupportedQuery, match="share a field"):
        compile_query(docs, {"query": {"span_containing": {
            "big": {"span_near": {"clauses": [
                {"span_term": {"text": "a"}},
                {"span_term": {"lang": "b"}}]}},
            "little": {"span_term": {"text": "c"}}}}})


def test_span_multi_semantics(spark, docs, duck):
    # prefix 'quick': expansion {quick, quickly}; sf totals occurrences
    got = {r["doc_id"]: r["score_u"] for r in
           rel.span_multi_df(docs, "quick", "prefix", k=8).collect()}
    assert set(got) == {0, 1, 2, 4}
    _match(rel.span_multi_df(docs, "quick", "prefix", k=8), duck,
           rel.span_multi_sql("docs", "quick", "prefix", k=8))
    # wildcard with ? and *
    _match(rel.span_multi_df(docs, "p?rt*", "wildcard", k=8), duck,
           rel.span_multi_sql("docs", "p?rt*", "wildcard", k=8))
    # expansion cap changes the idf sum AND the match set deterministically
    _match(rel.span_multi_df(docs, "qu", "prefix", max_expansions=1, k=8),
           duck, rel.span_multi_sql("docs", "qu", "prefix",
                                    max_expansions=1, k=8))
    # no vocabulary match → empty
    assert rel.span_multi_df(docs, "zzz", "prefix", k=8).count() == 0


def test_span_multi_ast_route_and_raises(spark, docs):
    out = compile_query(docs, {"query": {"span_multi": {"match": {
        "prefix": {"text": {"value": "quick"}}}}}, "size": 8})
    assert {r["doc_id"] for r in out.collect()} == {0, 1, 2, 4}
    with pytest.raises(UnsupportedQuery, match="prefix or wildcard"):
        compile_query(docs, {"query": {"span_multi": {"match": {
            "fuzzy": {"text": {"value": "quick"}}}}}})
    with pytest.raises(UnsupportedQuery, match="literal"):
        rel.span_multi_df(docs, "qu%", "prefix")


def test_rrf_retriever_fusion(spark, docs):
    # retriever A: span_or quick/fox; retriever B: span_or merge/partition
    body = {"retriever": {"rrf": {"retrievers": [
        {"standard": {"query": {"span_or": {"clauses": [
            {"span_term": {"text": "quick"}},
            {"span_term": {"text": "fox"}}]}}}},
        {"standard": {"query": {"span_or": {"clauses": [
            {"span_term": {"text": "merge"}},
            {"span_term": {"text": "partition"}}]}}}},
    ], "rank_constant": 60, "rank_window_size": 10}}, "size": 8}
    from fluent_plugin_elasticsearch_spark.plans.query_ast import (
        compile_query as cq,
    )

    out = cq(docs, body)
    rows = [(r["doc_id"], r["rrf_u"]) for r in out.collect()]
    # brute-force expectation
    a = [r["doc_id"] for r in rel.span_or_df(docs, ["quick", "fox"], k=10).collect()]
    bq = [r["doc_id"] for r in rel.span_or_df(docs, ["merge", "partition"], k=10).collect()]
    import math as m
    exp = {}
    for rank, d in enumerate(a, 1):
        exp[d] = exp.get(d, 0.0) + 1.0 / (60 + rank)
    for rank, d in enumerate(bq, 1):
        exp[d] = exp.get(d, 0.0) + 1.0 / (60 + rank)
    want = sorted(((m.floor(v * 1e9), d) for d, v in exp.items()),
                  key=lambda t: (-t[0], t[1]))[:8]
    assert rows == [(d, u) for u, d in want]
    with pytest.raises(UnsupportedQuery, match=">= 2"):
        cq(docs, {"retriever": {"rrf": {"retrievers": [
            {"standard": {"query": {"match_all": {}}}}]}}})
    with pytest.raises(UnsupportedQuery, match="scored"):
        cq(docs, {"retriever": {"rrf": {"retrievers": [
            {"standard": {"query": {"term": {"lang": "en"}}}},
            {"standard": {"query": {"term": {"lang": "fr"}}}}]}}})


def test_sparse_vector_text_and_map_paths(spark, docs, duck):
    qv = {"quick": 1.5, "fox": 0.25, "merge": -0.5}
    df = rel.sparse_vector_df(docs, qv, k=8)
    _match(df, duck, rel.sparse_vector_sql("docs", qv, k=8))
    # brute force on the text form: score_u = Σ tf·1000·round(w·1e3)
    got = {r["doc_id"]: r["score_u"] for r in df.collect()}
    for i, t in enumerate(TEXTS):
        toks = [w for w in __import__("re").split(r"[^a-z0-9]+", t.lower()) if w]
        s = sum(toks.count(tok) * 1000 * round(w * 1e3)
                for tok, w in qv.items())
        if s > 0:
            assert got[i] == s
        else:
            assert i not in got
    # map<string,double> rank_features column is used directly
    mdocs = spark.createDataFrame(
        [Row(doc_id=0, feats={"quick": 2.0, "fox": 0.5}),
         Row(doc_id=1, feats={"merge": 3.0}),
         Row(doc_id=2, feats={"quick": 0.001})])
    out = {r["doc_id"]: r["score_u"]
           for r in rel.sparse_vector_df(mdocs, {"quick": 1.0, "fox": 2.0},
                                         k=5, field="feats").collect()}
    # doc0: 2000·1000 + 500·2000 = 3_000_000; doc2: 1·1000 = 1000
    assert out == {0: 3_000_000, 2: 1000}


def test_sparse_vector_ast_route_and_raises(spark, docs):
    out = compile_query(docs, {"query": {"sparse_vector": {
        "field": "text", "query_vector": {"quick": 1.0}}}, "size": 5})
    ids = [r["doc_id"] for r in out.select("doc_id").collect()]
    assert set(ids) == {0, 1, 4}  # the quick-bearing docs, tf-ranked
    with pytest.raises(UnsupportedQuery, match="query_vector"):
        compile_query(docs, {"query": {"sparse_vector": {
            "field": "text", "inference_id": "elser",
            "query": "quick fox"}}})
    with pytest.raises(UnsupportedQuery, match="model inference"):
        compile_query(docs, {"query": {"text_expansion": {
            "ml.tokens": {"model_id": "elser", "model_text": "x"}}}})
    with pytest.raises(UnsupportedQuery, match="non-empty"):
        rel.sparse_vector_df(docs, {})
    with pytest.raises(UnsupportedQuery, match="capped"):
        rel.sparse_vector_df(docs, {f"t{i}": 1.0 for i in range(65)})
    with pytest.raises(UnsupportedQuery, match="map or string"):
        rel.sparse_vector_df(docs, {"a": 1.0}, field="doc_id")


def test_linear_retriever_fusion(spark, docs):
    import math as m

    body = {"retriever": {"linear": {"retrievers": [
        {"retriever": {"standard": {"query": {"span_or": {"clauses": [
            {"span_term": {"text": "quick"}},
            {"span_term": {"text": "fox"}}]}}}},
         "weight": 2.0, "normalizer": "minmax"},
        {"retriever": {"standard": {"query": {"span_or": {"clauses": [
            {"span_term": {"text": "merge"}},
            {"span_term": {"text": "partition"}}]}}}},
         "weight": 1.0, "normalizer": "l2_norm"},
    ], "rank_window_size": 10}}, "size": 8}
    out = compile_query(docs, body)
    rows = [(r["doc_id"], r["linear_u"]) for r in out.collect()]
    a = [(r["doc_id"], r["score_u"] / 1e6)
         for r in rel.span_or_df(docs, ["quick", "fox"], k=10).collect()]
    b = [(r["doc_id"], r["score_u"] / 1e6)
         for r in rel.span_or_df(docs, ["merge", "partition"], k=10).collect()]
    exp = {}
    mn, mx = min(s for _, s in a), max(s for _, s in a)
    for d, s in a:
        n = (1.0 if s > 0 else 0.0) if mx == mn else (s - mn) / (mx - mn)
        exp[d] = exp.get(d, 0.0) + 2.0 * n
    l2 = m.sqrt(sum(s * s for _, s in b))
    for d, s in b:
        exp[d] = exp.get(d, 0.0) + (0.0 if l2 == 0 else s / l2)
    want = sorted(((m.floor(v * 1e9), d) for d, v in exp.items()),
                  key=lambda t: (-t[0], t[1]))[:8]
    assert rows == [(d, u) for u, d in want]


def test_linear_retriever_degenerate_minmax_none_and_raises(spark, docs):
    import math as m

    body = {"retriever": {"linear": {"retrievers": [
        {"retriever": {"standard": {"query": {"span_or": {"clauses": [
            {"span_term": {"text": "gardening"}}]}}}},
         "weight": 3.0, "normalizer": "minmax"},
        {"retriever": {"standard": {"query": {"span_or": {"clauses": [
            {"span_term": {"text": "fox"}}]}}}},
         "weight": 1.0, "normalizer": "none"},
    ], "rank_window_size": 10}}, "size": 8}
    by = {r["doc_id"]: r["linear_u"]
          for r in compile_query(docs, body).collect()}
    # doc 6 is the only 'gardening' hit: degenerate max==min window with a
    # positive score normalizes to 1.0 → weight 3 → exactly 3e9
    assert by[6] == 3_000_000_000
    # 'none' keeps the raw float score (score_u / 1e6), weight 1
    fox = {r["doc_id"]: r["score_u"]
           for r in rel.span_or_df(docs, ["fox"], k=10).collect()}
    for d, su in fox.items():
        assert by[d] == m.floor((su / 1e6) * 1e9)
    with pytest.raises(UnsupportedQuery, match=">= 2"):
        compile_query(docs, {"retriever": {"linear": {"retrievers": [
            {"retriever": {"standard": {"query": {"match_all": {}}}}}]}}})
    with pytest.raises(UnsupportedQuery, match="normalizer"):
        compile_query(docs, {"retriever": {"linear": {"retrievers": [
            {"retriever": {"standard": {"query": {"match_all": {}}}},
             "normalizer": "softmax"},
            {"retriever": {"standard": {"query": {"match_all": {}}}}},
        ]}}})


def test_geo_shape_point_in_polygon(spark):
    from pyspark.sql import Row

    pts = spark.createDataFrame([
        Row(doc_id=1, loc=Row(lat=0.5, lon=0.5)),    # inside unit square
        Row(doc_id=2, loc=Row(lat=1.5, lon=0.5)),    # above
        Row(doc_id=3, loc=Row(lat=0.5, lon=-0.5)),   # left
        Row(doc_id=4, loc=Row(lat=0.25, lon=0.75)),  # inside
        Row(doc_id=5, loc=Row(lat=-0.1, lon=0.5)),   # below
    ])
    square = [[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0]]
    out = compile_query(pts, {"query": {"geo_shape": {"loc": {
        "shape": {"type": "polygon", "coordinates": [square]}}}}})
    assert {r["doc_id"] for r in out.collect()} == {1, 4}
    # concave polygon (L-shape): the notch at (1.5, 1.5) is OUTSIDE
    ell = [[0.0, 0.0], [2.0, 0.0], [2.0, 1.0], [1.0, 1.0],
           [1.0, 2.0], [0.0, 2.0]]
    pts2 = spark.createDataFrame([
        Row(doc_id=1, loc=Row(lat=0.5, lon=1.5)),   # in the fat arm
        Row(doc_id=2, loc=Row(lat=1.5, lon=1.5)),   # in the notch → out
        Row(doc_id=3, loc=Row(lat=1.5, lon=0.5)),   # in the tall arm
    ])
    out2 = compile_query(pts2, {"query": {"geo_shape": {"loc": {
        "shape": {"type": "polygon", "coordinates": [ell]}}}}})
    assert {r["doc_id"] for r in out2.collect()} == {1, 3}
    # envelope form
    env = compile_query(pts, {"query": {"geo_shape": {"loc": {
        "shape": {"type": "envelope",
                  "coordinates": [[0.0, 1.0], [1.0, 0.0]]}}}}})
    assert {r["doc_id"] for r in env.collect()} == {1, 4}
    # raises: holes, bad relation, degenerate ring
    with pytest.raises(UnsupportedQuery, match="holes"):
        compile_query(pts, {"query": {"geo_shape": {"loc": {
            "shape": {"type": "polygon",
                      "coordinates": [square, square]}}}}})
    with pytest.raises(UnsupportedQuery, match="relation"):
        compile_query(pts, {"query": {"geo_shape": {"loc": {
            "shape": {"type": "polygon", "coordinates": [square]},
            "relation": "disjoint"}}}})
    with pytest.raises(UnsupportedQuery, match="3 vertices"):
        compile_query(pts, {"query": {"geo_shape": {"loc": {
            "shape": {"type": "polygon",
                      "coordinates": [[[0.0, 0.0], [1.0, 1.0]]]}}}}})


def test_post_filter_prunes_after_topk(spark, docs):
    """ES post_filter filters the scored hits first, then from/size page
    them: the result is the first `size` en-lang docs of the unfiltered
    ranking — also when the filter removes hits inside the top `size` —
    and scores and ranks stay those of the unfiltered query (faceted-
    navigation semantics)."""
    from fluent_plugin_elasticsearch_spark.plans.query_ast import (
        compile_query as cq,
    )

    base = {"query": {"simple_query_string": {"query": "quick | merge"}}}
    ranked = cq(docs, {**base, "size": len(TEXTS)}).collect()
    ranking = [r["doc_id"] for r in ranked]
    en = [d for d in ranking if d % 2 == 0]  # lang 'en' = even ids
    assert any(d % 2 for d in ranking[:3]) and len(en) >= 3
    pf = {"term": {"lang": "en"}}
    got = cq(docs, {**base, "size": 3, "post_filter": pf}).collect()
    assert [r["doc_id"] for r in got] == en[:3]
    scores = {r["doc_id"]: r["score_u"] for r in ranked}
    assert all(r["score_u"] == scores[r["doc_id"]] for r in got)
    paged = cq(docs, {**base, "from": 1, "size": 2, "post_filter": pf}).collect()
    assert [r["doc_id"] for r in paged] == en[1:3]


def test_bigram_logprob(docs, duck, spark):
    import math

    from fluent_plugin_elasticsearch_spark.operators import textquality as tq

    out = tq.bigram_logprob_scores(docs)
    toks_sql = ("list_filter(regexp_split_to_array(lower(text), "
                "'[^a-z0-9]+'), t -> t <> '')")
    got = sorted(tuple(r) for r in out.collect())
    want = sorted(tuple(int(x) for x in r)
                  for r in duck.sql(
                      tq.bigram_logprob_sql("docs", toks_sql)).fetchall())
    assert got == want
    # hand-check on a two-doc corpus: "a b a b" + "a b c" —
    # c(a,b)=3 ctx(a)=3, c(b,a)=1 ctx(b)=2, c(b,c)=1
    d2 = spark.createDataFrame([Row(doc_id=1, text="a b a b"),
                                Row(doc_id=2, text="a b c")])
    r = {x["doc_id"]: x for x in tq.bigram_logprob_scores(d2).collect()}
    # doc 1: first 'a' unigram p=3/7, then p(b|a)=1, p(a|b)=1/2, p(b|a)=1
    nll = [math.floor(-math.log(3 / 7) * 1e6), 0,
           math.floor(-math.log(1 / 2) * 1e6), 0]
    assert r[1]["n_tokens"] == 4
    assert r[1]["mean_nll_micro"] == math.floor(sum(nll) / 4)
    # word salad scores worse than fluent text under the bigram model
    # even when every WORD is common: shuffle doc 0's first words
    base = docs.filter(F.col("doc_id") == 0).collect()[0]["text"]
    words = base.split()
    salad = " ".join(words[::-1])
    aug = docs.select("doc_id", "text").unionByName(
        spark.createDataFrame([Row(doc_id=999, text=salad)]))
    sc = {x["doc_id"]: x["mean_nll_micro"]
          for x in tq.bigram_logprob_scores(aug).collect()}
    assert sc[999] > sc[0]


def test_retriever_tree_rrf_over_linear(spark, docs):
    """ES retriever trees compose: rrf over (linear over standards) +
    a standard — brute-forced from the sub-scorers."""
    import math as m

    lin_spec = {"linear": {"retrievers": [
        {"retriever": {"standard": {"query": {"span_or": {"clauses": [
            {"span_term": {"text": "quick"}},
            {"span_term": {"text": "fox"}}]}}}},
         "weight": 2.0, "normalizer": "minmax"},
        {"retriever": {"standard": {"query": {"span_or": {"clauses": [
            {"span_term": {"text": "merge"}},
            {"span_term": {"text": "partition"}}]}}}},
         "weight": 1.0, "normalizer": "l2_norm"},
    ], "rank_window_size": 10}}
    body = {"retriever": {"rrf": {"retrievers": [
        lin_spec,
        {"standard": {"query": {"span_or": {"clauses": [
            {"span_term": {"text": "dog"}}]}}}},
    ], "rank_constant": 60, "rank_window_size": 10}}, "size": 8}
    rows = [(r["doc_id"], r["rrf_u"])
            for r in compile_query(docs, body).collect()]
    # brute force: linear fused values first
    a = [(r["doc_id"], r["score_u"] / 1e6)
         for r in rel.span_or_df(docs, ["quick", "fox"], k=10).collect()]
    bq = [(r["doc_id"], r["score_u"] / 1e6)
          for r in rel.span_or_df(docs, ["merge", "partition"],
                                  k=10).collect()]
    exp = {}
    mn, mx = min(s for _, s in a), max(s for _, s in a)
    for d, s in a:
        n = (1.0 if s > 0 else 0.0) if mx == mn else (s - mn) / (mx - mn)
        exp[d] = exp.get(d, 0.0) + 2.0 * n
    l2 = m.sqrt(sum(s * s for _, s in bq))
    for d, s in bq:
        exp[d] = exp.get(d, 0.0) + (0.0 if l2 == 0 else s / l2)
    lin_ranked = [d for _, d in sorted(
        ((-m.floor(v * 1e9), d) for d, v in exp.items()))]
    dog = [r["doc_id"] for r in rel.span_or_df(docs, ["dog"],
                                               k=10).collect()]
    want = {}
    for rank, d in enumerate(lin_ranked, 1):
        want[d] = want.get(d, 0.0) + 1.0 / (60 + rank)
    for rank, d in enumerate(dog, 1):
        want[d] = want.get(d, 0.0) + 1.0 / (60 + rank)
    top = sorted(((m.floor(v * 1e9), d) for d, v in want.items()),
                 key=lambda t: (-t[0], t[1]))[:8]
    assert rows == [(d, u) for u, d in top]
    with pytest.raises(UnsupportedQuery, match="standard, rrf, or linear"):
        compile_query(docs, {"retriever": {"rrf": {"retrievers": [
            {"knn": {}}, {"standard": {"query": {"match_all": {}}}}]}}})


def test_collapse_inner_hits(docs, duck):
    out = rel.collapse_inner_hits(docs, ["quick", "merge"], "lang",
                                  inner_size=2, k=2)
    rows = [(r["doc_id"], r["lang"], r["score_u"], r["inner_rank"])
            for r in out.collect()]
    want = [tuple(r) for r in duck.sql(rel.collapse_inner_hits_sql(
        "docs", ["quick", "merge"], "lang", inner_size=2, k=2)).fetchall()]
    assert rows == [(int(a), b, int(c), int(d)) for a, b, c, d in want]
    # group structure: each group contributes <= inner_size hits, ranks
    # start at 1 and the rank-1 hit is the group's best
    by_lang = {}
    for d, lang, s, r in rows:
        by_lang.setdefault(lang, []).append((r, s, d))
    for lang, hits in by_lang.items():
        hits.sort()
        assert [r for r, _, _ in hits] == list(range(1, len(hits) + 1))
        assert len(hits) <= 2
        scores = [(-s, d) for _, s, d in hits]
        assert scores == sorted(scores)


# Edge rows for the DataFrame scorers: an empty text, a punctuation-only
# text, a null text, an upper-case text and a repeated-term text beside
# ordinary ones.
EDGE_ROWS = [
    (0, "the quick brown fox jumps over the lazy dog", "quick fox"),
    (1, "", "brown fox"),
    (2, "... !!! ---", None),
    (3, None, "lazy dog"),
    (4, "THE QUICK Brown FOX Jumps", "QUICK"),
    (5, "fox fox fox quick fox quick brown fox", "fox fox"),
    (6, "a lazy dog and a quick brown cat", ""),
    (7, "brown fox brown fox brown quack", "the brown fox"),
]

# name -> (DataFrame scorer over `d`, its DuckDB mirror over table `t`)
EDGE_SCORERS = {
    "bm25_topk": (lambda d: bm25.bm25_topk_df(d, ["quick", "fox"]),
                  lambda t: bm25.bm25_topk_sql(t, ["quick", "fox"])),
    "multi_match": (
        lambda d: bm25.multi_match_df(d, ["quick", "fox"], ["text", "title"]),
        lambda t: bm25.multi_match_sql(t, ["quick", "fox"], ["text", "title"])),
    "multi_match_most_fields": (
        lambda d: bm25.multi_match_df(d, ["brown", "fox"], ["text", "title"],
                                      match_type="most_fields"),
        lambda t: bm25.multi_match_sql(t, ["brown", "fox"], ["text", "title"],
                                       match_type="most_fields")),
    "query_string": (lambda d: bm25.query_string_df(d, "quick AND fox OR lazy"),
                     lambda t: bm25.query_string_sql(t, "quick AND fox OR lazy")),
    "combined_fields": (
        lambda d: bm25.combined_fields_df(d, ["quick", "fox"], ["text", "title"]),
        lambda t: bm25.combined_fields_sql(t, ["quick", "fox"], ["text", "title"])),
    "match_bool_prefix": (lambda d: bm25.match_bool_prefix_df(d, ["quick", "fo"]),
                          lambda t: bm25.match_bool_prefix_sql(t, ["quick", "fo"])),
    "explain": (lambda d: bm25.explain_df(d, ["quick", "fox", "brown"], 5),
                lambda t: bm25.explain_sql(t, ["quick", "fox", "brown"], 5)),
    "match_phrase": (lambda d: bm25.match_phrase_df(d, ["brown", "fox"]),
                     lambda t: bm25.match_phrase_sql(t, ["brown", "fox"])),
    "match_phrase_prefix": (
        lambda d: rel.match_phrase_prefix_df(d, ["brown", "fo"]),
        lambda t: rel.match_phrase_prefix_sql(t, ["brown", "fo"])),
    "multi_match_phrase": (
        lambda d: rel.multi_match_phrase_df(d, ["brown", "fox"], ["text", "title"]),
        lambda t: rel.multi_match_phrase_sql(t, ["brown", "fox"], ["text", "title"])),
    "multi_match_phrase_prefix": (
        lambda d: rel.multi_match_phrase_df(d, ["quick", "fo"], ["text", "title"],
                                            prefix=True),
        lambda t: rel.multi_match_phrase_sql(t, ["quick", "fo"], ["text", "title"],
                                             prefix=True)),
    "fuzzy_match": (lambda d: rel.fuzzy_match_df(d, ["quack", "fix"]),
                    lambda t: rel.fuzzy_match_sql(t, ["quack", "fix"])),
    "more_like_this": (lambda d: rel.more_like_this_df(d, 0),
                       lambda t: rel.more_like_this_sql(t, 0)),
    "span_near": (lambda d: rel.span_near_df(d, "brown", "fox", slop=1),
                  lambda t: rel.span_near_sql(t, "brown", "fox", slop=1)),
    "span_first": (lambda d: rel.span_first_df(d, "fox", 3),
                   lambda t: rel.span_first_sql(t, "fox", 3)),
    "span_or": (lambda d: rel.span_or_df(d, ["fox", "lazy"]),
                lambda t: rel.span_or_sql(t, ["fox", "lazy"])),
    "span_not": (lambda d: rel.span_not_df(d, "fox", "brown", pre=1),
                 lambda t: rel.span_not_sql(t, "fox", "brown", pre=1)),
    "span_containing": (
        lambda d: rel.span_containing_df(d, "quick", "fox", "brown", slop=2),
        lambda t: rel.span_containing_sql(t, "quick", "fox", "brown", slop=2)),
    "span_within": (
        lambda d: rel.span_within_df(d, "quick", "fox", "brown", slop=2),
        lambda t: rel.span_within_sql(t, "quick", "fox", "brown", slop=2)),
    "span_multi": (lambda d: rel.span_multi_df(d, "fo", "prefix"),
                   lambda t: rel.span_multi_sql(t, "fo", "prefix")),
    "intervals": (
        lambda d: rel.intervals_match_df(d, ["brown", "fox"], max_gaps=1,
                                         ordered=True),
        lambda t: rel.intervals_match_sql(t, ["brown", "fox"], max_gaps=1,
                                          ordered=True)),
    "simple_query_string": (
        lambda d: sq.simple_query_string_df(d, '"brown fox" quick laz* -cat'),
        lambda t: sq.simple_query_string_sql(t, '"brown fox" quick laz* -cat')),
    "dis_max": (
        lambda d: rel.dis_max_df(d, [("text", ["quick"]), ("title", ["fox"])],
                                 tie_breaker=0.3),
        lambda t: rel.dis_max_sql(t, [("text", ["quick"]), ("title", ["fox"])],
                                  tie_breaker=0.3)),
}


@pytest.fixture(scope="module")
def edge(spark):
    d = spark.createDataFrame(EDGE_ROWS, "doc_id long, text string, title string")
    con = duckdb.connect()
    con.register("edge", d.toPandas())
    return d, con


@pytest.mark.parametrize("name", sorted(EDGE_SCORERS))
def test_scorer_matches_sql_mirror_on_edge_rows(edge, name):
    """Each DataFrame term or frequency scorer returns exactly the rows
    of its DuckDB mirror on empty, punctuation-only, null, upper-case
    and repeated-term texts."""
    d, con = edge
    scorer, mirror = EDGE_SCORERS[name]
    got = [tuple(r) for r in scorer(d).collect()]
    assert got == con.sql(mirror("edge")).fetchall()
    assert got, "an edge case that scores nothing checks nothing"
