"""An index's term dictionary answers every df lookup and every prefix or
wildcard expansion on the driver: the same terms, in the same order, as a
Spark scan of ``term_stats``, and no Spark job."""

from __future__ import annotations

import os

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from fluent_plugin_elasticsearch_spark.operators.relevance import _span_multi_like
from fluent_plugin_elasticsearch_spark.operators.search import (
    InvertedIndex,
    TermDictionary,
    _like_regex,
    _ResidentPostings,
)

PREFIXES = ["", "t", "th", "the", "caf", "café", "日", "zzznope"]
# ES span_multi wildcards (? and * at the start, middle and end) as LIKE
# patterns, and LIKE escapes
LIKES = [_span_multi_like(v, "wildcard") for v in
         ["?he", "*e", "*", "?", "t?e", "t*e", "th?", "th*", "c*é", "?é", "日*", "*日*", "zz*",
          "q?q"]] + ["th\\%", "\\_%", "%\\\\%"]


@pytest.fixture(scope="module")
def idx(spark, index_dir):
    return InvertedIndex(spark, index_dir)


def _scan_prefix(idx, prefix):
    return [r["term"] for r in idx.term_stats().filter(F.col("term").startswith(prefix))
            .orderBy("term").collect()]


def _scan_like(idx, pattern, limit):
    return [r["term"] for r in idx.term_stats().filter(F.col("term").like(pattern))
            .orderBy("term").limit(limit).collect()]


def _dict_like(idx, pattern, limit):
    head, regex = _like_regex(pattern)
    return [idx.vocab.terms[i] for i in idx.vocab.scan(head, limit, regex)]


def _all(idx) -> int:
    """A cap above the vocabulary size."""
    return len(idx.vocab.terms) + 1


def test_dictionary_holds_term_stats_in_spark_order(idx):
    rows = idx.term_stats().orderBy("term").collect()
    assert idx.vocab.terms == [r["term"] for r in rows]
    assert idx.vocab.dfs == [r["df"] for r in rows]
    assert all(type(df) is int for df in idx.vocab.dfs)
    assert idx._lookup_dfs(["the", "café", "zzznope"]) == {
        r["term"]: r["df"] for r in rows if r["term"] in ("the", "café")}


@pytest.mark.parametrize("prefix", PREFIXES)
def test_expand_prefix_equals_spark_scan(idx, prefix):
    want = _scan_prefix(idx, prefix)
    assert idx.expand_prefix(prefix, max_expansions=_all(idx)) == want
    if prefix in ("caf", "日"):
        assert want  # the non-ASCII prefixes do match
    if want:
        assert idx.expand_prefix(prefix, max_expansions=len(want)) == want
        with pytest.raises(ValueError, match="expands"):
            idx.expand_prefix(prefix, max_expansions=len(want) - 1)


@pytest.mark.parametrize("pattern", LIKES)
def test_like_expansion_equals_spark_like(idx, pattern):
    for limit in (_all(idx), 3, 0):
        assert _dict_like(idx, pattern, limit) == _scan_like(idx, pattern, limit), limit


@pytest.mark.parametrize("pattern", ["t\\he", "t\\"])
def test_bad_like_escape_raises_as_in_spark(idx, pattern):
    with pytest.raises(ValueError, match="escape"):
        _dict_like(idx, pattern, 10)
    with pytest.raises(AnalysisException, match="escape"):
        _scan_like(idx, pattern, 10)


def test_span_multi_serves_the_capped_expansion(idx):
    """A prefix and the equivalent wildcard expand to the same first
    max_expansions terms, so they score the same rows; an empty
    expansion has no rows."""
    assert len(_scan_prefix(idx, "t")) > 4
    got = idx.span_multi("t", "prefix", max_expansions=4, k=10).collect()
    assert got and got == idx.span_multi("t*", "wildcard", max_expansions=4, k=10).collect()
    assert got != idx.span_multi("t", "prefix", max_expansions=5, k=10).collect()
    assert idx.span_multi("zzz", "prefix").collect() == []


def test_dictionary_reads_start_no_spark_job(spark, idx):
    """Opening, the table readers, an unwarmed search(), span_multi() or
    suggest() (before collect) and expand_prefix start no Spark job."""
    sc = spark.sparkContext
    group = "term-dictionary"
    sc.setJobGroup(group, group)
    try:
        opened = InvertedIndex(spark, idx.path)
        for table in (opened.docmap, opened.doc_stats, opened.term_stats, opened.manifest):
            table()
        opened.search("the café 日", k=5)
        opened.search("the of", k=5, operator="and")
        opened.expand_prefix("th")
        opened.span_multi("?he*", "wildcard")
        opened.suggest("t")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []


def test_a_cap_of_a_billion_returns_every_candidate(spark, idx):
    """Caps far above the vocabulary are clamped before they reach a
    Spark limit, whose top-n buffer is sized by the cap up front (an
    unclamped 10**9 kills the executor)."""
    from fluent_plugin_elasticsearch_spark.operators.apis import terms_enum
    from fluent_plugin_elasticsearch_spark.operators.relevance import span_multi_df

    cap, want = 10**9, _scan_prefix(idx, "t")
    assert sorted(r["term"] for r in idx.suggest("t", cap).collect()) == want
    assert [r["term"] for r in terms_enum(None, "text", "t", size=cap, index=idx)
            .collect()] == want
    near = idx.term_stats().filter((F.levenshtein("term", F.lit("the")) <= 1)
                                   & (F.col("term") != "the"))
    assert ({r["term"] for r in idx.suggest_term("the", max_edits=1, size=cap).collect()}
            == {r["term"] for r in near.collect()})
    docs = spark.createDataFrame([(0, "the then tab"), (1, "then there"), (2, "a tab")],
                                 "doc_id long, text string")
    every = span_multi_df(docs, "t", "prefix", max_expansions=4).collect()
    assert every and span_multi_df(docs, "t", "prefix", max_expansions=cap).collect() == every


def test_resident_postings_need_every_term_in_the_dictionary(idx):
    vocab = TermDictionary(os.path.join(idx.path, "term_stats"))
    vocab.terms.remove("the")
    with pytest.raises(ValueError, match="missing from term_stats"):
        _ResidentPostings(os.path.join(idx.path, "postings"), vocab)
