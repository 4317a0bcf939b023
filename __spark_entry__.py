"""Driver contract for the spark-graft builder (PySpark target).

Each entry in ``queries()`` is an implemented operator from SURVEY.md §2
(or a training-data-pipeline operator), and ``oracle_sql()`` carries the
equivalent DuckDB SQL the driver runs side-by-side at sf=0.01.

Float results are quantized as ``floor(x * 1e6)`` bigints in BOTH engines
(rounding-mode-free), so value hashes compare exactly.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.abspath(__file__))
import sys

if REPO not in sys.path:
    sys.path.insert(0, REPO)

from fluent_plugin_elasticsearch_spark.operators import bm25 as _bm25  # noqa: E402
from fluent_plugin_elasticsearch_spark.operators import relevance as _rel  # noqa: E402
from fluent_plugin_elasticsearch_spark.operators import percolate as _perc  # noqa: E402
from fluent_plugin_elasticsearch_spark.operators import dedup as _dedup  # noqa: E402
from fluent_plugin_elasticsearch_spark.operators import similarity as _sim  # noqa: E402
from fluent_plugin_elasticsearch_spark.operators import textquality as _tq  # noqa: E402
from fluent_plugin_elasticsearch_spark.functions import genid as _genid  # noqa: E402
from fluent_plugin_elasticsearch_spark.functions import transforms as _tr  # noqa: E402
from fluent_plugin_elasticsearch_spark.sinks import write_ops as _wo  # noqa: E402

# flagship BM25 query over the documents table
FLAGSHIP_TERMS = ["data", "query", "join"]
BM25_TERMS_2 = ["spark", "the", "slow"]
PHRASE = ["the", "data"]
IDS_SET = [3, 17, 42, 99, 250, 499]


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _read_dist(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Heavy-compute scans only: the test tables are single-row-group
    parquet files, so the scan yields ONE split and every per-row kernel
    (regex, hashing, tokenization, vector math) serializes on one core
    (guide §2.5 input skew / §6 input split size). One round-robin
    repartition to core count spreads the rows; results are unchanged
    (row order is not part of any declared query's contract — the driver
    hash is order-insensitive). Scale-adaptive: keyed to
    defaultParallelism, and a no-op whenever the source already scans
    with enough splits (as any real multi-file table would)."""
    df = _read(spark, sf_dir, name)
    n = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < n:
        df = df.repartition(n)
    return df


# --- query implementations --------------------------------------------------

def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _bm25.bm25_topk_df(_read_dist(spark, sf_dir, "documents"), FLAGSHIP_TERMS, k=10)


def q_bm25_topk_mixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _bm25.bm25_topk_df(_read_dist(spark, sf_dir, "documents"), BM25_TERMS_2, k=10)


def q_multi_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES multi_match best_fields over (text, source): per-field BM25
    statistics, per-doc MAX of quantized field scores (Lucene DisMax)."""
    return _bm25.multi_match_df(
        _read(spark, sf_dir, "documents"), ["fast", "table", "src1"],
        ["text", "source"], k=10, match_type="best_fields")


def q_multi_match_most_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES multi_match most_fields: SUM of per-field scores."""
    return _bm25.multi_match_df(
        _read(spark, sf_dir, "documents"), ["fast", "table", "src1"],
        ["text", "source"], k=10, match_type="most_fields")


def q_multi_match_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES multi_match type=phrase over (text, source): Lucene PhraseQuery
    scoring per field (each with its own statistics), per-doc MAX of the
    quantized field scores (phrase types imply best_fields/DisMax)."""
    from fluent_plugin_elasticsearch_spark.operators import relevance as rel

    return rel.multi_match_phrase_df(
        _read(spark, sf_dir, "documents"), PHRASE, ["text", "source"], k=10)


def q_multi_match_phrase_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES multi_match type=phrase_prefix: the last term matches as a
    prefix per field (search-as-you-type), MAX combine."""
    from fluent_plugin_elasticsearch_spark.operators import relevance as rel

    return rel.multi_match_phrase_df(
        _read(spark, sf_dir, "documents"), ["merge", "par"],
        ["text", "source"], k=10, prefix=True)


def q_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES match with fuzziness (dictionary-expanded weighted BM25): each
    query token expands against the corpus vocabulary within its edit
    budget; expanded terms score BM25 x the Lucene fuzzy weight
    1 - d/len, integer-quantized per contribution."""
    from fluent_plugin_elasticsearch_spark.operators import relevance as rel

    return rel.fuzzy_match_df(
        _read(spark, sf_dir, "documents"), ["mergee", "window"],
        fuzziness=1, k=15)


def q_query_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES query_string-lite: boolean AND/OR gate + BM25 scoring over the
    unique terms (corpus-global df, like the ES bool-of-match compile)."""
    return _bm25.query_string_df(
        _read(spark, sf_dir, "documents"), "fast AND table OR window", k=10)


def q_match_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 extension — ES match_phrase with Lucene PhraseQuery scoring
    (tf = exact adjacent phrase frequency, idf = Σ constituent idfs)."""
    return _bm25.match_phrase_df(_read(spark, sf_dir, "documents"), PHRASE, k=10)


def q_ids_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 — ids point lookup: broadcast semi-join on doc ids."""
    docs = _read(spark, sf_dir, "documents")
    ids_df = spark.createDataFrame([(i,) for i in IDS_SET], "doc_id long")
    return docs.join(F.broadcast(ids_df), "doc_id", "left_semi").select(
        "doc_id", "lang", "n_chars"
    )


def q_scan_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 — scroll-style pagination: snapshot order + range predicate."""
    docs = _read(spark, sf_dir, "documents")
    return (
        docs.filter(F.col("doc_id") > 100)
        .orderBy("doc_id")
        .limit(50)
        .select("doc_id", "lang", "n_chars")
    )


def q_fuzzy_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES fuzzy term query: edit-distance match via JVM-side levenshtein
    (plans/query_ast.py), pushdown-friendly scan + filter."""
    from fluent_plugin_elasticsearch_spark.plans.query_ast import compile_query

    docs = _read(spark, sf_dir, "documents")
    out = compile_query(docs, {
        "query": {"fuzzy": {"source": {"value": "src1", "fuzziness": 1}}},
        "sort": [{"doc_id": {"order": "asc"}}],
    })
    return out.select("doc_id", "source")


def q_dis_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES dis_max compound query: max of subquery BM25 scores +
    tie_breaker x the rest (operators/relevance.dis_max_df)."""
    from fluent_plugin_elasticsearch_spark.operators import relevance as rel

    return rel.dis_max_df(
        _read(spark, sf_dir, "documents"),
        [("text", ["spark", "query"]), ("text", ["fast", "merge"])],
        tie_breaker=0.3, k=20)


def q_boosting_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES boosting query: BM25 positive, docs matching the negative clause
    demoted by negative_boost (not excluded)."""
    from fluent_plugin_elasticsearch_spark.operators import relevance as rel
    from fluent_plugin_elasticsearch_spark.plans.query_ast import _compile_clause

    return rel.boosting_df(
        _read(spark, sf_dir, "documents"), ["spark", "merge"],
        _compile_clause({"term": {"lang": "zh"}}), negative_boost=0.5, k=20)


def q_function_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES function_score field_value_factor: bm25 x log1p(0.01 x n_chars),
    boost_mode=multiply."""
    from fluent_plugin_elasticsearch_spark.operators import relevance as rel

    return rel.function_score_df(
        _read(spark, sf_dir, "documents"), ["spark", "window"],
        "n_chars", factor=0.01, modifier="log1p", k=20)


def q_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES field collapsing: best hit per lang, then global top-k."""
    from fluent_plugin_elasticsearch_spark.operators import relevance as rel

    return rel.collapse_topk(
        _read(spark, sf_dir, "documents"), ["spark", "merge"], "lang", k=10)


def q_collapse_inner_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES field collapsing with inner_hits: the top-k collapse groups
    expanded to each group's top inner_size hits (relevance.
    collapse_inner_hits) — the '3 results per domain' SERP shape."""
    from fluent_plugin_elasticsearch_spark.operators import relevance as rel

    return rel.collapse_inner_hits(
        _read(spark, sf_dir, "documents"), ["spark", "merge"], "lang",
        inner_size=3, k=4)


def q_match_phrase_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES match_phrase_prefix: adjacency with the last term as a prefix
    (search-as-you-type)."""
    from fluent_plugin_elasticsearch_spark.operators import relevance as rel

    return rel.match_phrase_prefix_df(
        _read(spark, sf_dir, "documents"), ["merge", "par"], k=20)


def q_more_like_this(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES more_like_this: tf-idf-selected interesting terms from the seed
    doc drive a BM25 search, seed excluded."""
    from fluent_plugin_elasticsearch_spark.operators import relevance as rel

    return rel.more_like_this_df(
        _read(spark, sf_dir, "documents"), like_id=0, max_query_terms=8, k=20)


def q_regexp_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES regexp term query: whole-value regex match (anchored rlike)."""
    from fluent_plugin_elasticsearch_spark.plans.query_ast import compile_query

    ev = _read(spark, sf_dir, "events")
    out = compile_query(ev, {
        "query": {"regexp": {"event_type": "p.*e|sig.*"}},
        "sort": [{"event_id": {"order": "asc"}}],
        "size": 500,
    })
    return out.select("event_id", "event_type")


def q_terms_set_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES terms_set: at least minimum_should_match of the given terms
    present in the doc's token array."""
    from fluent_plugin_elasticsearch_spark.extraction import simple_tokens_col
    from fluent_plugin_elasticsearch_spark.plans.query_ast import _compile_clause

    docs = _read(spark, sf_dir, "documents").withColumn(
        "tokens", simple_tokens_col(F.col("text")))
    c = _compile_clause({"terms_set": {"tokens": {
        "terms": ["spark", "merge", "window"], "minimum_should_match": 3}}})
    return docs.filter(c).select("doc_id").orderBy("doc_id")


def q_search_after(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES search_after keyset pagination — PAGE 2 of a (value desc,
    event_id asc) sort: cursor from page 1's last row, strict-after
    filter (plans/query_ast). The scale story vs from/size: the filter is
    sargable, so deep pages stay O(page)."""
    from fluent_plugin_elasticsearch_spark.plans.query_ast import compile_query

    ev = _read(spark, sf_dir, "events")
    body = {"sort": [{"value": {"order": "desc"}}, {"event_id": {"order": "asc"}}],
            "size": 50}
    page1 = compile_query(ev, body).select("event_id", "value").collect()
    cursor = [page1[-1]["value"], page1[-1]["event_id"]]
    out = compile_query(ev, {**body, "search_after": cursor})
    return out.select("event_id", "event_type",
                      F.floor(F.col("value") * 1e2).cast("long").alias("value_u"))


def q_from_offset_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES from/size offset pagination (plans/query_ast.py `from`): page 3
    of a filtered desc sort — Spark plans Offset+Limit under the sort, a
    driver merge of from+size rows from the partition heaps. The
    reference forwards from/size bodies verbatim (in_elasticsearch.rb:33,
    94-99); deep pagination belongs to search_after."""
    from fluent_plugin_elasticsearch_spark.plans.query_ast import compile_query

    docs = _read(spark, sf_dir, "documents")
    out = compile_query(docs, {
        "query": {"term": {"lang": "en"}},
        "sort": [{"doc_id": {"order": "desc"}}],
        "from": 40, "size": 20,
    })
    return out.select("doc_id", "lang", "n_chars")


def q_nested_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `nested` query (plans/query_ast.py): docs whose array-of-structs
    contains at least ONE element matching the whole inner bool — both
    sub-clauses must hold within the SAME element (the semantics that
    distinguish nested from flat object mapping). The nested column is
    built deterministically from events (collect_list of structs per
    user); the predicate compiles to F.exists — JVM higher-order
    function, no explode, no shuffle beyond the groupBy."""
    from fluent_plugin_elasticsearch_spark.plans.query_ast import compile_query

    ev = _read(spark, sf_dir, "events")
    nd = (
        ev.groupBy("user_id")
        .agg(F.collect_list(F.struct("event_type", "value")).alias("evs"))
        .withColumnRenamed("user_id", "doc_id")
    )
    body = {"query": {"nested": {"path": "evs", "query": {"bool": {"must": [
        {"term": {"evs.event_type": "purchase"}},
        {"range": {"evs.value": {"gte": 90}}},
    ]}}}}, "_source": False}
    return compile_query(nd, body)


def _geo_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic geo_point column derived from events (the pinned
    schema has no geo fields; same derive-in-query pattern as
    nested_query): lat from user_id, lon from event_id."""
    ev = _read(spark, sf_dir, "events")
    return ev.select(
        F.col("event_id").alias("doc_id"),
        F.struct(
            (F.col("user_id") % 180 - 90 + 0.25).cast("double").alias("lat"),
            ((F.col("event_id") * 7) % 360 - 180 + 0.5).cast("double").alias("lon"),
        ).alias("loc"),
    )


_GEO_SQL_BASE = (
    "SELECT event_id AS doc_id, "
    "CAST(user_id % 180 - 90 + 0.25 AS DOUBLE) AS lat, "
    "CAST((event_id * 7) % 360 - 180 + 0.5 AS DOUBLE) AS lon FROM events"
)


def q_geo_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES geo_distance query (plans/query_ast.py): haversine arc distance
    on the ES mean earth radius, fixed op order mirrored literal-for-
    literal by haversine_m_sql. Reference forwards geo bodies verbatim
    (in_elasticsearch.rb:94-99)."""
    from fluent_plugin_elasticsearch_spark.plans.query_ast import compile_query

    geo = _geo_events(spark, sf_dir)
    out = compile_query(geo, {"query": {"geo_distance": {
        "distance": "1500km", "loc": {"lat": 10.0, "lon": 20.0}}}})
    return out.select("doc_id")


def q_geo_bounding_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES geo_bounding_box query: pure lat/lon range predicates —
    pushdown-friendly; dateline wrap raises instead of silently wrong."""
    from fluent_plugin_elasticsearch_spark.plans.query_ast import compile_query

    geo = _geo_events(spark, sf_dir)
    out = compile_query(geo, {"query": {"geo_bounding_box": {"loc": {
        "top_left": {"lat": 40, "lon": -10},
        "bottom_right": {"lat": 0, "lon": 60}}}}})
    return out.select("doc_id")


def q_span_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES span_first (operators/relevance.span_first_df): term within the
    first N token positions, BM25 with tf = span frequency."""
    from fluent_plugin_elasticsearch_spark.operators import relevance as rel

    return rel.span_first_df(_read(spark, sf_dir, "documents"), "merge", 5, k=20)


def q_es_top_hits_body(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES top_hits as a BODY sub-agg under terms (plans/aggs._top_hits —
    the real ES aggs-body shape, vs the standalone top_hits helper of
    es_top_hits): best 2 events per event_type bucket by value desc —
    bucket-key-partitioned window, no global funnel. value quantized for
    cross-engine hashing; the SORT runs on the raw double in both engines
    with an event_id tie-break."""
    from fluent_plugin_elasticsearch_spark.plans.aggs import compile_aggs

    ev = _read(spark, sf_dir, "events")
    out = compile_aggs(ev, {"aggs": {"t": {
        "terms": {"field": "event_type", "size": 3},
        "aggs": {"best": {"top_hits": {
            "size": 2, "sort": [{"value": {"order": "desc"}}],
            "_source": ["event_id", "value"]}}},
    }}})["t"]
    return out.select("key", "doc_count", "rank", "event_id",
                      F.floor(F.col("value") * 1e2).cast("long").alias("value_u"))


_DATE_MATH_NOW = "2024-03-15T12:00:00"  # fixed anchor → deterministic plans


def q_range_date_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES date math in range bounds (plans/query_ast.resolve_date_math):
    'now-30d/d' ≤ ts < 'now/d' resolved DRIVER-side into timestamp
    literals (predicate pushdown preserved), anchored at a fixed now for
    determinism. The most-used idiom in the reference's log-analytics
    world (every Kibana time picker emits these)."""
    from fluent_plugin_elasticsearch_spark.plans.query_ast import compile_query

    ev = _read(spark, sf_dir, "events")
    out = compile_query(ev, {"query": {"range": {"ts": {
        "gte": "now-30d/d", "lt": "now/d", "_now": __import__("datetime").datetime
        .fromisoformat(_DATE_MATH_NOW)}}}})
    return out.select("event_id", "event_type")


def q_es_geo_distance_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES geo_distance aggregation (plans/aggs._geo_distance_agg): range
    buckets over haversine distance from an origin — union of filtered
    aggregates sharing the fixed-op-order haversine of the geo_distance
    query."""
    from fluent_plugin_elasticsearch_spark.plans.aggs import compile_aggs

    geo = _geo_events(spark, sf_dir).withColumnRenamed("doc_id", "event_id")
    out = compile_aggs(geo, {"aggs": {"rings": {"geo_distance": {
        "field": "loc", "origin": {"lat": 10.0, "lon": 20.0}, "unit": "km",
        "ranges": [{"to": 2000}, {"from": 2000, "to": 8000}, {"from": 8000}],
    }}}})["rings"]
    return out.select("key", "doc_count")


def q_scrub_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (operators/textquality.scrub_pii): typed redaction of
    emails/IPs/SSNs/phones/cards with pre-redaction audit counts — one
    chained-regexp projection, no shuffle. PII-bearing text derived
    deterministically from documents (the synthetic corpus contains
    none)."""
    from fluent_plugin_elasticsearch_spark.operators.textquality import scrub_pii

    docs = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.col("text"), F.lit(" contact user"),
                 F.col("doc_id").cast("string"),
                 F.lit("@mail.example or 10.0.0."),
                 (F.col("doc_id") % 255).cast("string"),
                 F.lit(" tel 555-123-4567")).alias("text"),
    )
    out = scrub_pii(docs)
    return out.select("doc_id", "n_email", "n_ipv4", "n_phone", "pii_total", "text")


def q_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition features (operators/textquality.
    repetition_scores): duplicate-3-gram fraction + top-gram coverage per
    doc — explode + one (doc_id, gram) partial-aggregated groupBy, the
    word-count shuffle shape at any corpus size."""
    from fluent_plugin_elasticsearch_spark.operators.textquality import (
        repetition_scores)

    return repetition_scores(_read(spark, sf_dir, "documents"), n=3)


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event sessionization (streaming/sessionize.py): gaps-and-islands
    over user event streams — ONE user-keyed window + one (user, session)
    groupBy, the standard shape at any scale. The streaming twin
    (session_window + watermark) is e2e-tested in
    tests/test_streaming_rollup.py."""
    from fluent_plugin_elasticsearch_spark.streaming.sessionize import sessionize

    return sessionize(_read(spark, sf_dir, "events"), gap_seconds=3600).select(
        "user_id", "session_id", "session_start", "session_end", "n_events")


def q_eql_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EQL-style sequence correlation (streaming/sessionize.eql_sequence):
    ordered view→purchase chains per user within 30 min — per-key
    equi-joins with a strictly-increasing timestamp range condition,
    shuffle keyed by user every step."""
    from fluent_plugin_elasticsearch_spark.streaming.sessionize import eql_sequence

    return eql_sequence(
        _read(spark, sf_dir, "events"),
        [{"term": {"event_type": "view"}}, {"term": {"event_type": "purchase"}}],
        within_seconds=1800,
    ).select("user_id", "step0_id", "step1_id", "span_seconds")


def q_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination detection (operators/dedup.
    contamination_check): docs sharing ≥1 word 3-gram with a benchmark
    slice (every 100th doc) — distinct-gram equi-join, benchmark side
    broadcast. The public decontamination recipe (GPT-3 13-grams, Gopher
    8-grams; 3 here so the sf-gate corpus produces a meaningful pair
    set)."""
    from fluent_plugin_elasticsearch_spark.operators.dedup import contamination_check

    docs = _read(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 100 == 7).select(
        F.col("doc_id").alias("bench_id"), "text")
    return contamination_check(docs.filter(F.col("doc_id") % 100 != 7), bench, n=3)


def q_runtime_mappings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES 8 runtime fields (plans/query_ast.py runtime_mappings): computed
    column available to query/sort/_source, compiled by the SAFE
    ast-parsed arithmetic grammar into one Catalyst projection — the
    vectorized replacement for per-row painless (reference T13
    anti-pattern). Output quantized for cross-engine hashing."""
    from fluent_plugin_elasticsearch_spark.plans.query_ast import compile_query

    ev = _read(spark, sf_dir, "events")
    out = compile_query(ev, {
        "runtime_mappings": {"value_sq": {
            "type": "double", "script": {"source": "value * value"}}},
        "query": {"range": {"value_sq": {"gte": 2000}}},
        "sort": [{"event_id": {"order": "asc"}}],
        "_source": ["event_id", "value_sq"],
    })
    return out.select(
        "event_id", F.floor(F.col("value_sq") * 1e2).cast("long").alias("value_sq_u"))


def q_search_template(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES _search/template (plans/query_ast.render_search_template):
    mustache-lite {{var}} substitution through the body tree — exact
    placeholders keep parameter types (size stays an int), embedded ones
    substitute textually — then the rendered body compiles like any
    search."""
    from fluent_plugin_elasticsearch_spark.plans.query_ast import (
        compile_query, render_search_template)

    docs = _read(spark, sf_dir, "documents")
    body = render_search_template(
        {"query": {"bool": {"must": [
            {"term": {"lang": "{{lang}}"}},
            {"range": {"n_chars": {"gte": "{{min_chars}}"}}}]}},
         "sort": [{"doc_id": {"order": "desc"}}], "size": "{{k}}"},
        {"lang": "en", "min_chars": 30, "k": 25})
    return compile_query(docs, body).select("doc_id", "lang", "n_chars")


def q_phrase_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES phrase suggester, unigram-LM form (operators/relevance.
    phrase_suggest_df): best in-vocabulary correction per query term
    under a levenshtein band — vocab-sized work, corpus scanned once."""
    from fluent_plugin_elasticsearch_spark.operators import relevance as rel

    return rel.phrase_suggest_df(
        _read(spark, sf_dir, "documents"), ["tabel", "qury", "spark"])


def q_es_multi_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES multi_terms agg (plans/aggs.py): tuple-keyed buckets in one
    multi-key groupBy, ES order (doc_count desc, keys asc), size cut."""
    from fluent_plugin_elasticsearch_spark.plans.aggs import compile_aggs

    ev = _read(spark, sf_dir, "events").withColumn(
        "value_u", F.floor(F.col("value") * 1e2).cast("long"))
    out = compile_aggs(ev, {"aggs": {"mt": {
        "multi_terms": {"terms": [{"field": "event_type"},
                                  {"field": "user_id"}], "size": 15},
        "aggs": {"v_sum": {"sum": {"field": "value_u"}}},
    }}})["mt"]
    return out.select("key", "event_type", "user_id", "doc_count",
                      F.col("v_sum").cast("long").alias("v_sum"))


def q_es_rare_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES rare_terms agg: the long tail — buckets at or under
    max_doc_count, ordered doc_count asc then key asc."""
    from fluent_plugin_elasticsearch_spark.plans.aggs import compile_aggs

    docs = _read(spark, sf_dir, "documents")
    out = compile_aggs(docs, {"aggs": {"rare": {
        "rare_terms": {"field": "source", "max_doc_count": 60}}}})["rare"]
    return out


def q_es_global_and_filter_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES global + single-filter aggs under a query: global escapes the
    body's query filter (whole-index metrics), filter buckets one clause.
    Both single-row frames, unioned with a tag for one comparable
    result."""
    from fluent_plugin_elasticsearch_spark.plans.aggs import compile_aggs

    ev = _read(spark, sf_dir, "events").withColumn(
        "value_u", F.floor(F.col("value") * 1e2).cast("long"))
    out = compile_aggs(ev, {
        "query": {"range": {"value": {"gte": 50}}},
        "aggs": {
            "g": {"global": {}, "aggs": {"v_sum": {"sum": {"field": "value_u"}}}},
            "f": {"filter": {"term": {"event_type": "purchase"}},
                  "aggs": {"v_sum": {"sum": {"field": "value_u"}}}},
        },
    })
    g = out["g"].select(F.lit("global").alias("agg"), "doc_count",
                        F.col("v_sum").cast("long").alias("v_sum"))
    f = out["f"].select(F.lit("filter").alias("agg"), "doc_count",
                        F.col("v_sum").cast("long").alias("v_sum"))
    return g.unionByName(f).orderBy("agg")


def q_combined_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES combined_fields (operators/bm25.combined_fields_df): fields
    scored as one blended BM25 field (shared tf/dl/df statistics — BM25F
    with the exact weighted-concatenation reduction); field^2 boost
    syntax through the AST."""
    from fluent_plugin_elasticsearch_spark.plans.query_ast import compile_query

    docs = _read(spark, sf_dir, "documents")
    out = compile_query(docs, {"query": {"combined_fields": {
        "query": "merge src3", "fields": ["text", "source^2"]}}, "size": 20})
    return out.select("doc_id", "score_u")


def q_remove_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb/CCNet-style line-level boilerplate removal: lines whose
    normalized form recurs in >= 3 distinct docs are dropped corpus-wide.
    A shared footer + the source tag are injected as extra lines so the
    operator has real boilerplate to strip at any sf."""
    from fluent_plugin_elasticsearch_spark.operators.textquality import (
        remove_repeated_lines,
    )

    docs = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat_ws("\n", F.col("text"), F.lit("shared footer line"),
                    F.col("source")).alias("text"))
    return remove_repeated_lines(docs, min_docs=3)


def q_span_containing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES span_containing (operators/relevance.span_containing_df via the
    AST): big = ordered span_near scan..merge (slop 3), little = table —
    big spans that contain a little occurrence, scored on the big's
    summed idfs (Lucene SpanContainingQuery contract)."""
    from fluent_plugin_elasticsearch_spark.plans.query_ast import compile_query

    docs = _read(spark, sf_dir, "documents")
    out = compile_query(docs, {"query": {"span_containing": {
        "big": {"span_near": {"clauses": [
            {"span_term": {"text": "scan"}},
            {"span_term": {"text": "merge"}}], "slop": 3,
            "in_order": True}},
        "little": {"span_term": {"text": "table"}}}}, "size": 15})
    return out.select("doc_id", "score_u")


def q_span_within_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full engine path: positional index build + span_within served from
    postings/positions (operators/positions.score_shard_span_contain) —
    must equal the plain-SQL span_within oracle exactly."""
    import tempfile

    from fluent_plugin_elasticsearch_spark.operators.index_build import build_index
    from fluent_plugin_elasticsearch_spark.operators.search import InvertedIndex

    docs = _read(spark, sf_dir, "documents")
    out = tempfile.mkdtemp(prefix="entry_spanwidx_") + "/idx"
    build_index(spark, docs, out, id_col="doc_id", text_col="text",
                tokenizer="simple", n_shards=4, n_salts=4, with_positions=True)
    idx = InvertedIndex(spark, out)
    top = idx.span_within("scan", "merge", "table", slop=3, k=15)
    return top.select("doc_id",
                      F.floor(F.col("score") * 1e6).cast("long").alias("score_u"))


_PERCOLATE_REGISTRY = [
    (1, ["merge", "data"], 2),
    (2, ["scan"], 1),
    (3, ["zzznope"], 1),
    (4, ["table", "quick", "fast"], 2),
    (5, ["merge", "slow"], 1),
    (6, ["data", "data", "merge"], 3),  # dup terms: distinct-match rule
]
_PERCOLATE_DOC = "fast merge of data tables and a quick scan"


_GEO_SHAPE_RING = [[-50.0, -20.0], [60.0, -25.0], [10.0, 55.0]]


def q_post_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES post_filter (plans/query_ast.py): the hits are scored and
    top-k'd by the simple_query_string retriever FIRST, then the
    post_filter prunes them — faceted-navigation semantics (a plain
    query-level filter would change the candidate set and ranks)."""
    from fluent_plugin_elasticsearch_spark.plans.query_ast import compile_query

    docs = _read(spark, sf_dir, "documents")
    out = compile_query(docs, {
        "query": {"simple_query_string": {"query": "merge data"}},
        "post_filter": {"term": {"lang": "en"}},
        "size": 30})
    return out.select("doc_id", "score_u")


def q_geo_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES geo_shape query over geo_point docs (plans/query_ast.py):
    point-in-polygon via an even-odd ray cast unrolled over the literal
    ring edges — one boolean-XOR codegen chain, no UDF; the DuckDB
    mirror is generated from the SAME ring (geo_shape_polygon_sql)."""
    from fluent_plugin_elasticsearch_spark.plans.query_ast import compile_query

    geo = _geo_events(spark, sf_dir)
    out = compile_query(geo, {"query": {"geo_shape": {"loc": {
        "shape": {"type": "polygon", "coordinates": [_GEO_SHAPE_RING]},
        "relation": "intersects"}}}})
    return out.select("doc_id")


def q_rrf_retriever(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES 8.x RRF retriever (plans/query_ast.py): reciprocal rank fusion
    of a span_near retriever and a simple_query_string retriever —
    score = Σ 1/(60 + rank), ranks deterministic under the engine-wide
    (score desc, doc_id asc) tie-break, fused sum quantized ×1e9."""
    from fluent_plugin_elasticsearch_spark.plans.query_ast import compile_query

    docs = _read(spark, sf_dir, "documents")
    out = compile_query(docs, {"retriever": {"rrf": {
        "retrievers": [
            {"standard": {"query": {"span_near": {
                "clauses": [{"span_term": {"text": "table"}},
                            {"span_term": {"text": "table"}}],
                "slop": 0, "in_order": True}}}},
            {"standard": {"query": {"simple_query_string": {
                "query": "merge + data | scan*"}}}},
        ],
        "rank_constant": 60, "rank_window_size": 50}}, "size": 15})
    return out.select("doc_id", "rrf_u")


_SPARSE_QV = {"data": 2.25, "merge": 1.5, "scan": 0.75, "table": 0.4}


def q_sparse_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES 8.15 sparse_vector query (operators/relevance.py): weighted-
    token dot product — query weights quantized ×1e3 in the planner,
    doc side BoW tf ×1e3, integer sum == DuckDB bit-exactly."""
    from fluent_plugin_elasticsearch_spark.plans.query_ast import compile_query

    docs = _read(spark, sf_dir, "documents")
    out = compile_query(docs, {"query": {"sparse_vector": {
        "field": "text", "query_vector": _SPARSE_QV}}, "size": 15})
    return out.select("doc_id", "score_u")


def q_linear_retriever(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES 8.16 linear retriever (plans/query_ast.py): weighted sum of
    per-retriever normalized scores — a span_near retriever under
    minmax (weight 2) fused with a simple_query_string retriever under
    l2_norm (weight 1); absent docs contribute 0, fused sum quantized
    ×1e9. Normalization happens over each retriever's own
    rank_window_size result set, per the ES contract."""
    from fluent_plugin_elasticsearch_spark.plans.query_ast import compile_query

    docs = _read(spark, sf_dir, "documents")
    out = compile_query(docs, {"retriever": {"linear": {
        "retrievers": [
            {"retriever": {"standard": {"query": {"span_near": {
                "clauses": [{"span_term": {"text": "table"}},
                            {"span_term": {"text": "table"}}],
                "slop": 0, "in_order": True}}}},
             "weight": 2.0, "normalizer": "minmax"},
            {"retriever": {"standard": {"query": {"simple_query_string": {
                "query": "merge + data | scan*"}}}},
             "weight": 1.0, "normalizer": "l2_norm"},
        ],
        "rank_window_size": 40}}, "size": 15})
    return out.select("doc_id", "linear_u")


def q_retriever_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES 8.16 composable retriever TREE (plans/query_ast.py): rrf over
    (a linear retriever over two standards) + a standard span_or —
    nested retrievers compile recursively, each node window-bounded."""
    from fluent_plugin_elasticsearch_spark.plans.query_ast import compile_query

    docs = _read(spark, sf_dir, "documents")
    out = compile_query(docs, {"retriever": {"rrf": {"retrievers": [
        {"linear": {"retrievers": [
            {"retriever": {"standard": {"query": {"span_near": {
                "clauses": [{"span_term": {"text": "table"}},
                            {"span_term": {"text": "table"}}],
                "slop": 0, "in_order": True}}}},
             "weight": 2.0, "normalizer": "minmax"},
            {"retriever": {"standard": {"query": {"simple_query_string": {
                "query": "merge + data | scan*"}}}},
             "weight": 1.0, "normalizer": "l2_norm"},
        ], "rank_window_size": 40}},
        {"standard": {"query": {"span_or": {"clauses": [
            {"span_term": {"text": "data"}},
            {"span_term": {"text": "merge"}}]}}}},
    ], "rank_constant": 60, "rank_window_size": 40}}, "size": 15})
    return out.select("doc_id", "rrf_u")


def q_percolate_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES percolate QUERY clause (plans/query_ast.py): one inline
    document matched against a stored-query registry — a pure filter
    over the registry (doc terms are a literal array; matched-term
    count via array_intersect), no join, no shuffle. The streaming
    reverse-index form is operators/percolate.percolate_stream."""
    from fluent_plugin_elasticsearch_spark.operators.percolate import (
        make_query_registry,
    )
    from fluent_plugin_elasticsearch_spark.plans.query_ast import compile_query

    reg = make_query_registry(spark, _PERCOLATE_REGISTRY)
    out = compile_query(reg, {"query": {"percolate": {
        "document": {"text": _PERCOLATE_DOC}}}})
    return out.select(F.col("query_id").cast("long").alias("query_id"),
                      F.col("msm").cast("long").alias("msm"),
                      F.col("matched_terms").cast("long")
                      .alias("matched_terms"))


def q_span_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES span_multi (operators/relevance.span_multi_df via the AST):
    wildcard s?a* expanded against the vocabulary (term-asc, capped),
    scored under the span_or contract with an order-free integer-
    quantized idf sum."""
    from fluent_plugin_elasticsearch_spark.plans.query_ast import compile_query

    docs = _read(spark, sf_dir, "documents")
    out = compile_query(docs, {"query": {"span_multi": {"match": {
        "wildcard": {"text": {"value": "s?a*", "max_expansions": 10}}}}},
        "size": 15})
    return out.select("doc_id", "score_u")


def q_simple_query_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES simple_query_string (operators/simple_query.py): the lenient
    end-user grammar — AND junction (+), OR alternatives (|), negation
    (-), phrase ("..."), term-final prefix (*) — compiled to term /
    phrase / prefix clauses scored in exactly two corpus passes (one
    stats aggregate with conditional-sum dfs, one codegen scoring
    projection; zero shuffles before the top-k)."""
    from fluent_plugin_elasticsearch_spark.plans.query_ast import compile_query

    docs = _read(spark, sf_dir, "documents")
    out = compile_query(docs, {"query": {"simple_query_string": {
        "query": 'merge + data | "table table" | scan* -slow',
        "default_operator": "or"}}, "size": 15})
    return out.select("doc_id", "score_u")


def q_ingest_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ingest-pipeline processors (functions/ingest_pipeline): the
    document-shaping subset the reference delegates server-side via the
    request-level `pipeline` parameter (out_elasticsearch.rb:144, :1061),
    compiled into one Catalyst projection chain — set / rename /
    uppercase / gsub / convert / date / split / remove in order."""
    from fluent_plugin_elasticsearch_spark.functions.ingest_pipeline import (
        apply_ingest_pipeline,
    )

    docs = _read(spark, sf_dir, "documents")
    out = apply_ingest_pipeline(docs, [
        {"set": {"field": "env", "value": "prod"}},
        {"rename": {"field": "source", "target_field": "src"}},
        {"uppercase": {"field": "lang", "target_field": "lang_uc"}},
        {"gsub": {"field": "src", "pattern": "src", "replacement": "s"}},
        {"convert": {"field": "doc_id", "type": "string",
                     "target_field": "id_str"}},
        {"date": {"field": "id_str", "formats": ["epoch_second"],
                  "target_field": "ts"}},
        {"split": {"field": "text", "separator": "\\s+",
                   "target_field": "words"}},
        {"remove": {"field": ["text", "id_str"]}},
    ])
    return out.select(
        "doc_id", "env", "src", "lang_uc",
        F.unix_timestamp("ts").alias("ts_epoch"),
        F.size("words").cast("long").alias("n_words"))


def q_reindex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES _reindex (operators/apis.reindex): filtered source → CowTable
    dest through an ingest pipeline — query pushdown on the source scan,
    touched-bucket-only write; returns the reindexed table contents."""
    import tempfile

    from fluent_plugin_elasticsearch_spark.operators.apis import reindex
    from fluent_plugin_elasticsearch_spark.sinks.cow_table import CowTable

    docs = _read(spark, sf_dir, "documents")
    t = CowTable(spark, tempfile.mkdtemp(prefix="reidx_") + "/t",
                 id_col="doc_id", n_buckets=8)
    reindex(docs, t, {
        "source": {"query": {"term": {"lang": "en"}}},
        "pipeline": [
            {"set": {"field": "env", "value": "reindexed"}},
            {"uppercase": {"field": "lang", "target_field": "lang_uc"}}]})
    return t.read().select("doc_id", "lang", "lang_uc", "env", "n_chars")


def q_embedding_pca_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact integer covariance moments of the embeddings table
    (operators/similarity.pca_cov_moments — the input to embedding_pca):
    per-batch int64 Gram matmuls combined through decimal sums, so the
    moments are partition-invariant exact integers. Leading 8 dims for
    the oracle; projection invariants (orthogonality, eigen-variances,
    whitening, determinism) are pinned in tests/test_dedup_similarity."""
    from fluent_plugin_elasticsearch_spark.operators.similarity import (
        pca_cov_moments,
    )

    emb = _read(spark, sf_dir, "embeddings")
    out = pca_cov_moments(emb, dims=8)
    return out.select("i", "j", F.col("q").cast("double").alias("q"),
                      F.col("si").cast("double").alias("si"),
                      F.col("sj").cast("double").alias("sj"),
                      F.col("n").cast("double").alias("n"))


def q_feature_hash_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing bag-of-words embeddings (operators/similarity.
    feature_hash_embed): signed hashing trick, exact integer counts, ONE
    codegen fold per row — no explode, no shuffle. Exploded to
    (doc_id, i, v) for the oracle compare."""
    from fluent_plugin_elasticsearch_spark.operators.similarity import (
        feature_hash_embed,
    )

    emb = feature_hash_embed(_read(spark, sf_dir, "documents"), dim=16)
    return emb.select("doc_id", F.posexplode("emb").alias("i", "v")) \
        .select("doc_id", F.col("i").cast("long").alias("i"),
                F.col("v").cast("long").alias("v"))


def q_exact_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style repeated-span removal (operators/textquality.
    remove_repeated_ngrams — Lee et al. 2022): token 6-grams occurring
    >= 2 times corpus-wide are excised position-wise. A shared promo
    sentence is injected into every third doc so the operator has real
    duplicated spans to strip at any sf (same injection pattern as
    remove_boilerplate_lines)."""
    from fluent_plugin_elasticsearch_spark.operators.textquality import (
        remove_repeated_ngrams,
    )

    docs = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0,
               F.concat_ws(" ", F.col("text"),
                           F.lit("subscribe to our channel for more "
                                 "great content")))
        .otherwise(F.col("text")).alias("text"))
    return remove_repeated_ngrams(docs, n=6, min_count=2)


def q_stemmed_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Light plural stemming (operators/textquality.stem_token_col —
    Harman S-stemmer, the rule set of ES's light plural stemmers) as
    per-doc distinct raw-vs-stemmed term counts; pure column CASE +
    regexp_replace, mirrored verbatim in SQL."""
    from fluent_plugin_elasticsearch_spark.operators.textquality import (
        stemmed_token_counts)

    return stemmed_token_counts(_read(spark, sf_dir, "documents"))


def q_es_terms_options(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES terms-agg options in one body (plans/aggs.py): `missing` bucket
    for null keys, `include` anchored-regex key filter, `order` by a
    metric sub-agg — all inside the single partial-aggregated groupBy."""
    from fluent_plugin_elasticsearch_spark.plans.aggs import compile_aggs

    ev = _read(spark, sf_dir, "events").withColumn(
        "value_u", F.floor(F.col("value") * 1e2).cast("long")).withColumn(
        "event_type",
        F.when(F.col("event_id") % 7 == 0, None).otherwise(F.col("event_type")))
    out = compile_aggs(ev, {"aggs": {"t": {
        "terms": {"field": "event_type", "size": 10, "missing": "N/A",
                  "include": "N/A|p.*|v.*", "order": {"v_sum": "desc"}},
        "aggs": {"v_sum": {"sum": {"field": "value_u"}}},
    }}})["t"]
    return out.select("key", "doc_count", F.col("v_sum").cast("long").alias("v_sum"))


def q_script_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES script_score (plans/query_ast.py): inner-query filter + score
    from the SAFE ast-parsed arithmetic over row fields — the vectorized
    replacement for per-row painless."""
    from fluent_plugin_elasticsearch_spark.plans.query_ast import compile_query

    docs = _read(spark, sf_dir, "documents")
    out = compile_query(docs, {"query": {"script_score": {
        "query": {"term": {"lang": "en"}},
        "script": {"source": "n_chars * 2 + doc_id / 100"}}}, "size": 25})
    return out.select("doc_id", "score_u")


def q_distance_feature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES distance_feature: recency/proximity boost — score = boost *
    pivot / (pivot + |field - origin|), date origin here."""
    from fluent_plugin_elasticsearch_spark.plans.query_ast import compile_query

    ev = _read(spark, sf_dir, "events").withColumnRenamed("event_id", "doc_id")
    out = compile_query(ev, {"query": {"distance_feature": {
        "field": "ts", "origin": "2024-01-15T12:00:00", "pivot": "1d",
        "boost": 2.0}}, "size": 30})
    return out.select("doc_id", "score_u")


def q_es_auto_date_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES auto_date_histogram (plans/aggs._auto_date_histogram): interval
    chosen from the calendar ladder to fit the bucket target, then
    gap-filled date_histogram; the chosen interval rides along (ES
    returns it). The oracle pins the choice the ladder makes for the
    events span (30 days, target 40 → day)."""
    from fluent_plugin_elasticsearch_spark.plans.aggs import compile_aggs

    ev = _read(spark, sf_dir, "events")
    return compile_aggs(ev, {"aggs": {"a": {
        "auto_date_histogram": {"field": "ts", "buckets": 40}}}})["a"]


def q_es_ip_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ip_range agg (plans/aggs._ip_range_agg): [from,to) + CIDR-mask
    buckets over an IPv4 string column — bounds parsed driver-side, the
    row side one split/cast projection. IPs derived deterministically
    from events (no ip column in the pinned schema)."""
    from fluent_plugin_elasticsearch_spark.plans.aggs import compile_aggs

    ev = _read(spark, sf_dir, "events").select(
        "event_id",
        F.concat_ws(".", F.lit("10"), (F.col("user_id") % 256).cast("string"),
                    (F.col("event_id") % 256).cast("string"),
                    ((F.col("event_id") * 7) % 256).cast("string")
                    ).alias("client_ip"))
    out = compile_aggs(ev, {"aggs": {"ips": {"ip_range": {
        "field": "client_ip",
        "ranges": [{"to": "10.64.0.0"},
                   {"from": "10.64.0.0", "to": "10.192.0.0"},
                   {"mask": "10.128.0.0/9"}]}}}})["ips"]
    return out.select("key", "doc_count")


def q_es_ip_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ip_prefix agg (plans/aggs._ip_prefix_agg): one bucket per /12
    network of an IPv4 string column — split/cast to uint32, exact
    integer mod masks the host bits, ONE partial-aggregated groupBy,
    numeric-ip bucket order. Same deterministic ip derivation as
    es_ip_range (the pinned schema has no ip column)."""
    from fluent_plugin_elasticsearch_spark.plans.aggs import compile_aggs

    ev = _read(spark, sf_dir, "events").select(
        "event_id",
        F.concat_ws(".", F.lit("10"), (F.col("user_id") % 256).cast("string"),
                    (F.col("event_id") % 256).cast("string"),
                    ((F.col("event_id") * 7) % 256).cast("string")
                    ).alias("client_ip"))
    out = compile_aggs(ev, {"aggs": {"nets": {"ip_prefix": {
        "field": "client_ip", "prefix_length": 12,
        "append_prefix_length": True}}}})["nets"]
    return out.select("key", "doc_count")


def q_es_change_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES x-pack change_point sibling agg (plans/aggs._sibling_bucket):
    most-likely step change in the per-day doc_count series via the
    pooled-t split scan over exact prefix sums — argmax |t|, key-asc
    tie-break, ×1e6 floor quantization (integer counts → every moment
    sum exact in float64, so the statistic is engine-exact)."""
    from fluent_plugin_elasticsearch_spark.plans.aggs import compile_aggs

    ev = _read(spark, sf_dir, "events")
    out = compile_aggs(ev, {"aggs": {
        "per_day": {"date_histogram": {"field": "ts",
                                       "calendar_interval": "day"}},
        "cp": {"change_point": {"buckets_path": "per_day>_count"}},
    }})["cp"]
    return out.select("cp_key", "cp_type", "cp_t_u")


def q_terms_enum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES _terms_enum API (operators/apis.terms_enum): term-ascending
    autocomplete listing with doc frequencies — map-side per-doc dedup,
    one partial-aggregated shuffle (index path serves the same contract
    from the term_stats dictionary)."""
    from fluent_plugin_elasticsearch_spark.operators.apis import terms_enum

    return terms_enum(_read(spark, sf_dir, "documents"), "text",
                      string="s", size=15)


def q_es_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES x-pack bucket_count_ks_test sibling agg (plans/aggs._sibling_
    bucket): two-sided KS distance between the per-day doc_count
    distribution and uniform — exact running sums, ×1e6 quantization."""
    from fluent_plugin_elasticsearch_spark.plans.aggs import compile_aggs

    ev = _read(spark, sf_dir, "events")
    out = compile_aggs(ev, {"aggs": {
        "per_day": {"date_histogram": {"field": "ts",
                                       "calendar_interval": "day"}},
        "ks": {"bucket_count_ks_test": {"buckets_path": "per_day>_count"}},
    }})["ks"]
    return out.select("ks_d_u")


def q_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-epoch shuffle (operators/packing.
    epoch_shuffle): md5-keyed global permutation, reproducible on any
    engine/partitioning. Entry pins the first 100 docs of epoch 1's
    order (the permutation prefix a resuming trainer would read)."""
    from fluent_plugin_elasticsearch_spark.operators.packing import (
        epoch_shuffle,
    )

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    out = epoch_shuffle(docs, epoch=1)
    return (out.orderBy(F.asc("shuffle_key")).limit(100)
            .select("doc_id", "shuffle_key"))


def q_es_sql_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES SQL API (_sql, operators/es_sql.py): parsed + lowered to a
    declarative DataFrame plan — GROUP BY / aggregate / ORDER BY shape.
    The oracle runs the near-identical ANSI statement in DuckDB."""
    from fluent_plugin_elasticsearch_spark.operators.es_sql import es_sql_query

    return es_sql_query(
        {"documents": _read(spark, sf_dir, "documents")},
        "SELECT lang, COUNT(*) AS n, SUM(n_chars) AS chars, "
        "MAX(n_chars) AS mx FROM documents GROUP BY lang ORDER BY lang")


def q_es_sql_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES SQL MATCH()/SCORE() (operators/es_sql.py): the full-text
    predicate lowers to the engine's BM25 scorer, SCORE() surfaces the
    quantized score_u — bit-identical to the search path's bm25_topk."""
    from fluent_plugin_elasticsearch_spark.operators.es_sql import es_sql_query

    return es_sql_query(
        {"documents": _read(spark, sf_dir, "documents")},
        "SELECT doc_id, SCORE() AS score_u FROM documents "
        "WHERE MATCH(text, 'merge data') "
        "ORDER BY SCORE() DESC, doc_id ASC LIMIT 15")


def q_esql_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL pipe (operators/esql.py): FROM | WHERE | STATS ... BY |
    SORT — each stage a DataFrame transformation, one Catalyst plan."""
    from fluent_plugin_elasticsearch_spark.operators.esql import esql_query

    return esql_query(
        {"documents": _read(spark, sf_dir, "documents")},
        'FROM documents | WHERE n_chars > 100 '
        '| STATS n = COUNT(*), chars = SUM(n_chars), mx = MAX(n_chars) '
        'BY lang | SORT lang')


def q_esql_pipe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL row pipe (operators/esql.py): WHERE + EVAL + RENAME + KEEP +
    SORT + LIMIT composed; MATCH() is the boolean any-token predicate."""
    from fluent_plugin_elasticsearch_spark.operators.esql import esql_query

    return esql_query(
        {"documents": _read(spark, sf_dir, "documents")},
        'FROM documents | WHERE MATCH(text, "merge data") '
        'AND lang == "en" | EVAL dk = n_chars / 100, src = source '
        '| RENAME src AS origin | KEEP doc_id, dk, origin '
        '| SORT dk DESC, doc_id ASC | LIMIT 25')


def q_esql_dissect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL DISSECT stage (operators/esql.py): literal-delimited field
    extraction compiled to one anchored regexp_extract per field."""
    from fluent_plugin_elasticsearch_spark.operators.esql import esql_query

    return esql_query(
        {"events": _read(spark, sf_dir, "events")},
        'FROM events | DISSECT props "{\\"k\\": %{kval}}" '
        '| KEEP event_id, kval | SORT event_id | LIMIT 100')


def q_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + registered-domain keys (textquality.
    url_normalize): tracking params, default ports, fragments, and
    trailing slashes stripped; co.uk-style second-level suffixes
    recognized. URLs synthesized deterministically from doc columns."""
    from fluent_plugin_elasticsearch_spark.operators.textquality import (
        url_normalize,
    )

    docs = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.lit("HTTPS://WWW."), F.upper("source"),
                 F.lit(".Example.co.uk:443/docs/"),
                 F.col("doc_id").cast("string"),
                 F.lit("/?utm_source=feed&lang="), F.col("lang"),
                 F.lit("#top")).alias("url"))
    return url_normalize(docs)


def q_dedup_doc_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-doc repeated-line removal (textquality.dedup_doc_lines):
    first occurrence of each line kept in order, zero shuffle. Docs get
    injected per-page chrome repeats so the operator has work to do."""
    from fluent_plugin_elasticsearch_spark.operators.textquality import (
        dedup_doc_lines,
    )

    docs = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat_ws("\n", F.lit("cookie banner"), F.col("text"),
                    F.lit("cookie banner"), F.col("source"),
                    F.col("text")).alias("text"))
    return dedup_doc_lines(docs)


def q_justext_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """jusText-style boilerplate block classification (textquality.
    justext_blocks, Pomikálek 2011): per-block stopword-density +
    length rules with neighbor resolution. Docs are given real block
    structure (prose | nav chrome | prose) so every class is exercised."""
    from fluent_plugin_elasticsearch_spark.operators.textquality import (
        justext_blocks,
    )

    docs = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat_ws("\n", F.col("text"), F.lit("Home About Contact"),
                    F.col("text")).alias("text"))
    return justext_blocks(docs)


def q_esql_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL ENRICH stage (operators/esql.py): the lookup join — the
    policy table broadcasts (ES materializes enrich indices per node;
    the Spark shape is a broadcast hash join, no main-stream shuffle)."""
    from fluent_plugin_elasticsearch_spark.operators.esql import esql_query

    cust = _read(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("uid"), "c_name")
    return esql_query(
        {"events": _read(spark, sf_dir, "events")},
        'FROM events | ENRICH cust ON user_id WITH c_name '
        '| KEEP event_id, user_id, c_name | SORT event_id | LIMIT 200',
        enrich_policies={"cust": (cust, "uid")})


def q_esql_lookup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL LOOKUP JOIN (8.18): left join against a lookup index on a
    shared field — broadcast by the lookup-index smallness contract."""
    from fluent_plugin_elasticsearch_spark.operators.esql import esql_query

    nation = _read(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nkey"), "n_name")
    cust = _read(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_nationkey").alias("nkey"))
    return esql_query(
        {"cust": cust, "nation": nation},
        'FROM cust | LOOKUP JOIN nation ON nkey '
        '| KEEP c_custkey, nkey, n_name | SORT c_custkey | LIMIT 100')


def q_dsir_logratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance log-ratios (operators/packing.dsir_logratio_scores,
    Xie et al. 2023): hashed unigram+bigram models on target (lang='en')
    vs the raw corpus; per-bucket log-ratio quantized to micro-nats
    before the exact per-doc integer sum."""
    from fluent_plugin_elasticsearch_spark.operators.packing import (
        dsir_logratio_scores,
    )

    docs = _read(spark, sf_dir, "documents")
    return dsir_logratio_scores(docs, "lang = 'en'", buckets=512)


def q_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR Gumbel top-k resampling (operators/packing.dsir_resample):
    k docs sampled ∝ importance weight via deterministic md5-derived
    Gumbel noise — identical selection on any partitioning/engine."""
    from fluent_plugin_elasticsearch_spark.operators.packing import (
        dsir_resample,
    )

    docs = _read(spark, sf_dir, "documents")
    return dsir_resample(docs, "lang = 'en'", k=50, buckets=512, seed=7)


def _events_value_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with value pre-quantized to integer cents — exact long sums
    on both engines (the cross-engine float-accumulation guard used by
    every agg entry)."""
    return _read(spark, sf_dir, "events").withColumn(
        "value_u", F.floor(F.col("value") * 1e2).cast("long"))


def q_es_sibling_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES sibling pipeline aggs avg/sum/min/max_bucket: one metric
    aggregated ACROSS a daily date_histogram's buckets (coordinating-node
    reduce phase)."""
    from fluent_plugin_elasticsearch_spark.plans.aggs import compile_aggs

    out = compile_aggs(_events_value_u(spark, sf_dir), {"aggs": {
        "daily": {"date_histogram": {"field": "ts", "calendar_interval": "day"},
                  "aggs": {"sales": {"sum": {"field": "value_u"}}}},
        "ab": {"avg_bucket": {"buckets_path": "daily>sales"}},
        "sb": {"sum_bucket": {"buckets_path": "daily>sales"}},
        "nb": {"min_bucket": {"buckets_path": "daily>sales"}},
        "xb": {"max_bucket": {"buckets_path": "daily>sales"}},
    }})
    return (
        out["ab"].crossJoin(out["sb"]).crossJoin(out["nb"]).crossJoin(out["xb"])
        .select(F.floor(F.col("ab_value") * 1e6).cast("long").alias("ab_u"),
                F.col("sb_value").cast("long").alias("sb"),
                F.col("nb_value").cast("long").alias("nb"),
                F.col("xb_value").cast("long").alias("xb")))


def q_es_stats_percentiles_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES stats_bucket (over _count) + percentiles_bucket (exact linear
    interpolation, like the percentiles metric agg) across a daily
    histogram's buckets."""
    from fluent_plugin_elasticsearch_spark.plans.aggs import compile_aggs

    out = compile_aggs(_events_value_u(spark, sf_dir), {"aggs": {
        "daily": {"date_histogram": {"field": "ts", "calendar_interval": "day"},
                  "aggs": {"sales": {"sum": {"field": "value_u"}}}},
        "st": {"stats_bucket": {"buckets_path": "daily>_count"}},
        "pb": {"percentiles_bucket": {"buckets_path": "daily>sales",
                                      "percents": [25, 50, 90]}},
    }})
    return (
        out["st"].crossJoin(out["pb"])
        .select(F.col("st_count").alias("st_count"),
                F.col("st_min").cast("long").alias("st_min"),
                F.col("st_max").cast("long").alias("st_max"),
                F.col("st_sum").cast("long").alias("st_sum"),
                F.floor(F.col("st_avg") * 1e6).cast("long").alias("st_avg_u"),
                F.floor(F.col("pb_p25") * 1e6).cast("long").alias("pb_p25_u"),
                F.floor(F.col("pb_p50") * 1e6).cast("long").alias("pb_p50_u"),
                F.floor(F.col("pb_p90") * 1e6).cast("long").alias("pb_p90_u")))


def q_es_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES normalize pipeline agg: percent_of_sum and rescale_0_100 of a
    per-day metric across the bucket series (single-division forms —
    exact-long numerators/denominators, so both engines divide the same
    integers)."""
    from fluent_plugin_elasticsearch_spark.plans.aggs import compile_aggs

    out = compile_aggs(_events_value_u(spark, sf_dir), {"aggs": {
        "daily": {"date_histogram": {"field": "ts", "calendar_interval": "day"},
                  "aggs": {
                      "sales": {"sum": {"field": "value_u"}},
                      "pct": {"normalize": {"buckets_path": "sales",
                                            "method": "percent_of_sum"}},
                      "r100": {"normalize": {"buckets_path": "sales",
                                             "method": "rescale_0_100"}}}},
    }})["daily"]
    return out.select(
        "key", "doc_count", F.col("sales").cast("long").alias("sales"),
        F.floor(F.col("pct") * 1e9).cast("long").alias("pct_u"),
        F.floor(F.col("r100") * 1e6).cast("long").alias("r100_u"))


def q_es_geo_line(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES geo_line agg: customer points as a line ordered by c_custkey
    (first 50), coordinates as integer micro-degrees."""
    from fluent_plugin_elasticsearch_spark.plans.aggs import compile_aggs

    return compile_aggs(_geo_customers(spark, sf_dir), {"aggs": {"gl": {
        "geo_line": {"point": {"field": "loc"},
                     "sort": {"field": "c_custkey"}, "size": 50}}}})["gl"]


def q_es_frequent_item_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES frequent_item_sets agg: size-2 field:value itemsets over
    (lang, source) by document support — the co-occurrence mining
    shape."""
    from fluent_plugin_elasticsearch_spark.plans.aggs import compile_aggs

    return compile_aggs(_read(spark, sf_dir, "documents"), {"aggs": {"f": {
        "frequent_item_sets": {
            "fields": [{"field": "lang"}, {"field": "source"}],
            "minimum_support": 0.01, "minimum_set_size": 2,
            "size": 15}}}})["f"]


def q_es_matrix_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES matrix_stats over (value_u, user_id): exact decimal moments in
    one pass, fixed-float-op-order mean/var/cov/corr (t_test contract)."""
    from fluent_plugin_elasticsearch_spark.plans.aggs import compile_aggs

    return compile_aggs(_events_value_u(spark, sf_dir), {"aggs": {"m": {
        "matrix_stats": {"fields": ["value_u", "user_id"]}}}})["m"]


def q_es_moving_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES moving_percentiles (exact deterministic variant): trailing
    7-bucket window percentiles of daily sales over a date_histogram."""
    from fluent_plugin_elasticsearch_spark.plans.aggs import compile_aggs

    out = compile_aggs(_events_value_u(spark, sf_dir), {"aggs": {
        "daily": {"date_histogram": {"field": "ts", "calendar_interval": "day"},
                  "aggs": {
                      "sales": {"sum": {"field": "value_u"}},
                      "mp": {"moving_percentiles": {
                          "buckets_path": "sales", "window": 7,
                          "percents": [50, 90]}}}},
    }})["daily"]
    return out.select(
        "key", "doc_count", F.col("sales").cast("long").alias("sales"),
        F.floor(F.col("mp_p50") * 1e6).cast("long").alias("mp_p50_u"),
        F.floor(F.col("mp_p90") * 1e6).cast("long").alias("mp_p90_u"))


def q_es_date_histogram_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES min_doc_count=0 date_histogram (plans/aggs.
    _gap_filled_histogram): EVERY day between the data bounds appears,
    empty days with doc_count 0, key-ordered — the dashboard contract
    (gaps render as zeros). Sparse filter guarantees real gaps in the
    sf-gate data."""
    from fluent_plugin_elasticsearch_spark.plans.aggs import compile_aggs

    ev = _read(spark, sf_dir, "events")
    out = compile_aggs(ev, {
        "query": {"range": {"value": {"gte": 300}}},
        "aggs": {"d": {"date_histogram": {
            "field": "ts", "calendar_interval": "day", "min_doc_count": 0}}},
    })["d"]
    return out


def q_es_terms_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES terms-agg key partitioning (plans/aggs.py): huge-cardinality
    paging — {"include": {"partition": 1, "num_partitions": 4}} keeps
    only keys whose md5-derived hash lands in partition 1 (the documented
    cross-engine hash contract), ordered by _key."""
    from fluent_plugin_elasticsearch_spark.plans.aggs import compile_aggs

    ev = _read(spark, sf_dir, "events")
    out = compile_aggs(ev, {"aggs": {"u": {"terms": {
        "field": "user_id", "size": 50,
        "include": {"partition": 1, "num_partitions": 4},
        "order": {"_key": "asc"}}}}})["u"]
    return out.select(F.col("key").cast("long").alias("key"), "doc_count")


def q_es_reverse_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES nested + reverse_nested aggs (plans/aggs.py): aggregation over
    array-of-structs ELEMENTS (terms on evs.event_type buckets nested
    events) with a reverse_nested jump back to distinct PARENT docs per
    bucket, plus an element-level sum. The nested column is built
    deterministically from events (collect_list per user — same derive
    pattern as nested_query); the whole tree is one explode + one
    groupBy."""
    from fluent_plugin_elasticsearch_spark.plans.aggs import compile_aggs

    ev = _read(spark, sf_dir, "events").withColumn(
        "value_u", F.floor(F.col("value") * 1e2).cast("long"))
    nd = (ev.groupBy("user_id")
          .agg(F.collect_list(F.struct("event_type", "value_u")).alias("evs"))
          .withColumnRenamed("user_id", "doc_id"))
    out = compile_aggs(nd, {"aggs": {"e": {
        "nested": {"path": "evs"},
        "aggs": {"types": {
            "terms": {"field": "evs.event_type", "size": 5},
            "aggs": {"docs": {"reverse_nested": {}},
                     "v_sum": {"sum": {"field": "evs.value_u"}}},
        }}}}})["e"]
    return out.select("key", "doc_count", "docs_doc_count",
                      F.col("v_sum").cast("long").alias("v_sum"))


def q_bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE trainer round (operators/bpe.bpe_pair_stats):
    adjacent character-pair counts over the word-frequency table — the
    per-round aggregation of Sennrich-style vocabulary induction. Two
    partial-aggregated shuffles total (word freqs, pair counts), never
    the raw corpus; tie-break (cnt desc, pair asc) is engine-exact."""
    from fluent_plugin_elasticsearch_spark.operators.bpe import (
        bpe_pair_stats,
        word_freqs,
    )

    docs = _read(spark, sf_dir, "documents")
    return bpe_pair_stats(word_freqs(docs), top=20)


def q_es_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES _downsample / TSDB rollup (operators/apis.downsample): one doc
    per (dimension, day bucket) with min/max/sum/value_count per metric
    — ONE partial-aggregated groupBy. Metric pre-quantized to integer
    centi-units so the sums are engine-exact."""
    from fluent_plugin_elasticsearch_spark.operators.apis import downsample

    ev = _read(spark, sf_dir, "events").withColumn(
        "value_u", F.floor(F.col("value") * 1e2).cast("long"))
    out = downsample(ev, "1d", ["event_type"], ["value_u"])
    return out.select(
        "@timestamp", "event_type", "_doc_count",
        "value_u_min", "value_u_max",
        F.col("value_u_sum").cast("long").alias("value_u_sum"),
        "value_u_value_count")


def q_es_bucket_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES x-pack bucket_correlation (plans/aggs._sibling_bucket): Pearson
    correlation between a per-day doc_count series (key order) and a
    provided expectations curve — integer-valued series so every moment
    sum is exact in float64, making the quantized corr engine-exact."""
    from fluent_plugin_elasticsearch_spark.plans.aggs import compile_aggs

    ev = _read(spark, sf_dir, "events")
    exp = [float((i * 7) % 13 + 1) for i in range(31)]
    out = compile_aggs(ev, {"aggs": {
        "per_day": {"date_histogram": {"field": "ts",
                                       "calendar_interval": "day"}},
        "corr": {"bucket_correlation": {
            "buckets_path": "per_day>_count",
            "function": {"count_correlation": {
                "indicator": {"expectations": exp}}}}},
    }})["corr"]
    return out


def q_es_cumulative_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES cumulative_cardinality + the canonical derivative pairing
    (incremental churn: distinct users ever seen per day, and per-day new
    users). Exact first-appearance form (plans/aggs.
    _apply_cumulative_cardinality): groupBy(value).min(bucket) → per-
    bucket new-value counts → running sum over the reduced series — no
    HLL sketch, engine-independent."""
    from fluent_plugin_elasticsearch_spark.plans.aggs import compile_aggs

    ev = _read(spark, sf_dir, "events")
    out = compile_aggs(ev, {"aggs": {"per_day": {
        "date_histogram": {"field": "ts", "calendar_interval": "day"},
        "aggs": {
            "users": {"cardinality": {"field": "user_id"}},
            "total_users": {"cumulative_cardinality":
                            {"buckets_path": "users"}},
            "new_users": {"derivative": {"buckets_path": "total_users"}},
        }}}})["per_day"]
    return out.select(
        "key", "doc_count", F.col("users").cast("long").alias("users"),
        F.col("total_users").cast("long").alias("total_users"),
        # first-bucket NULL derivative → sentinel for the pandas-side hash
        F.coalesce(F.col("new_users"), F.lit(-(2 ** 62)))
        .cast("long").alias("new_users_c"))


def q_cow_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write bucketed table MERGE (sinks/cow_table.CowTable): the
    transactional-style upsert that rewrites ONLY touched buckets +
    atomic manifest swap — closes the r3 verdict's full-table-rewrite
    seam without the absent Iceberg jar. The oracle is the plain SQL
    MERGE result; bucket-rewrite minimality and snapshot isolation are
    asserted in tests/test_cow_table.py."""
    import tempfile

    from fluent_plugin_elasticsearch_spark.sinks.cow_table import CowTable

    docs = _read(spark, sf_dir, "documents")
    t = CowTable(spark, tempfile.mkdtemp(prefix="cow_oracle_") + "/t",
                 id_col="doc_id", n_buckets=8)
    t.create(docs)
    updates = docs.filter(F.col("doc_id") % 50 == 3).withColumn(
        "text", F.concat(F.lit("UPD "), F.col("text")))
    inserts = docs.filter(F.col("doc_id") % 97 == 5).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.lit("NEW "), F.col("text")).alias("text"),
        "lang", "source", "n_chars")
    t.upsert(updates.unionByName(inserts.select(*updates.columns)))
    return t.read().select("doc_id", "text", "lang", "source", "n_chars")


def q_rescore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES rescore: BM25 retrieves a top-100 window, only that window is
    re-ranked with the expensive phrase scorer (score_mode=total)."""
    from fluent_plugin_elasticsearch_spark.operators import relevance as rel

    return rel.rescore_df(
        _read(spark, sf_dir, "documents"), ["merge", "table"], ["merge", "part"],
        window_size=100, query_weight=1.0, rescore_query_weight=2.0, k=20)


def q_es_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES weighted_avg metric agg: sum(v*w)/sum(w) over pre-quantized
    integers (exact cross-engine sums; single float division)."""
    from fluent_plugin_elasticsearch_spark.plans.aggs import compile_aggs

    ev = _read(spark, sf_dir, "events").withColumn(
        "value_u", F.floor(F.col("value") * 1e2).cast("long"))
    out = compile_aggs(ev, {"aggs": {"w": {"weighted_avg": {
        "value": {"field": "value_u"}, "weight": {"field": "user_id"}}}}})["w"]
    return out.select(F.floor(F.col("w") * 1e2).cast("long").alias("wavg_u"))


def q_analyze_edge_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES _analyze with an edge_ngram(2,4) analyzer over documents.text
    (operators/analyze.analyze_api — sorted-distinct gram contract)."""
    from fluent_plugin_elasticsearch_spark.operators.analyze import analyze_api

    out = analyze_api(_read(spark, sf_dir, "documents"), "text",
                      "edge_ngram", min_gram=2, max_gram=4)
    # tokens joined to one string: the driver's value hash is scalar-typed
    return out.select("doc_id", F.concat_ws(" ", "tokens").alias("tokens"),
                      "n_tokens")


def q_analyze_stop_stem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES _analyze: standard analyzer + stopword filter + S-stemmer."""
    from fluent_plugin_elasticsearch_spark.operators.analyze import analyze_api

    out = analyze_api(_read(spark, sf_dir, "documents"), "text",
                      "standard", stopwords=["the", "a", "of", "and"],
                      stem=True)
    return out.select("doc_id", F.concat_ws(" ", "tokens").alias("tokens"),
                      "n_tokens")


def q_analyze_synonym_shingle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES _analyze: standard analyzer + synonym replace filter + 2-word
    shingles (operators/analyze.analyze_col) — the phrase-index chain."""
    from fluent_plugin_elasticsearch_spark.operators.analyze import analyze_api

    out = analyze_api(_read(spark, sf_dir, "documents"), "text",
                      "standard",
                      synonyms={"fast": "quick", "src1": "source"},
                      shingles=2)
    return out.select("doc_id", F.concat_ws(" ", "tokens").alias("tokens"),
                      "n_tokens")


def q_match_bool_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES match_bool_prefix (search-as-you-type): BM25 full terms +
    constant-score prefix clause on the last term
    (operators/bm25.match_bool_prefix_df)."""
    return _bm25.match_bool_prefix_df(
        _read(spark, sf_dir, "documents"), ["merge", "ta"], k=15)


def q_explain_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES _explain API: per-term BM25 breakdown (tf/df/idf/contrib) for
    one document, faithful to the corpus statistics the scorer used
    (operators/bm25.explain_df)."""
    return _bm25.explain_df(
        _read(spark, sf_dir, "documents"), ["merge", "table", "window"], doc_id=42)


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining mixture by TOKEN BUDGET per source, incl. upsampling
    epochs (operators/packing.mixture_by_token_budget — md5-deterministic
    selection, identical rows on any engine/partitioning)."""
    from fluent_plugin_elasticsearch_spark.operators.packing import (
        mixture_by_token_budget)

    out = mixture_by_token_budget(
        _read(spark, sf_dir, "documents"),
        {"src1": 120000.0, "src2": 20000.0})
    return out.select("doc_id", "source", "epoch")


def q_quality_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum quality binning without a global NTILE window: exact
    percentile thresholds from one broadcast agg, bin = thresholds below
    (operators/packing.quality_bins)."""
    from fluent_plugin_elasticsearch_spark.operators.packing import quality_bins

    return quality_bins(_read(spark, sf_dir, "documents"), "n_chars", n_bins=5)


def q_es_variable_width_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES variable_width_histogram: deterministic 1-D integer k-means
    contract (plans/aggs._variable_width_histogram)."""
    from fluent_plugin_elasticsearch_spark.plans.aggs import compile_aggs

    return compile_aggs(_read(spark, sf_dir, "events"),
                        {"aggs": {"v": {"variable_width_histogram": {
                            "field": "value", "buckets": 6}}}})["v"]


def q_es_t_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES t_test agg (Welch's): two filtered populations, moments from
    exact integer aggregates (plans/aggs.py — never Welford var_samp)."""
    from fluent_plugin_elasticsearch_spark.plans.aggs import compile_aggs

    ev = _read(spark, sf_dir, "events").withColumn(
        "value_u", F.floor(F.col("value") * 1e2).cast("long"))
    return compile_aggs(ev, {"aggs": {"tt": {"t_test": {
        "field": "value_u",
        "a": {"filter": {"term": {"event_type": "click"}}},
        "b": {"filter": {"term": {"event_type": "view"}}}}}}})["tt"]


def q_es_boxplot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES boxplot agg: min/max + exact q1/q2/q3 (quantized)."""
    from fluent_plugin_elasticsearch_spark.plans.aggs import compile_aggs

    return compile_aggs(_read(spark, sf_dir, "events"),
                        {"aggs": {"b": {"boxplot": {"field": "value"}}}})["b"]


def q_es_string_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES string_stats agg: lengths + Shannon entropy over the character
    distribution (integer micro-nat quantization — exact cross-engine)."""
    from fluent_plugin_elasticsearch_spark.plans.aggs import compile_aggs

    return compile_aggs(_read(spark, sf_dir, "documents"),
                        {"aggs": {"ss": {"string_stats": {"field": "text"}}}})["ss"]


def q_es_geo_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES geo_bounds agg: bounding box of the synthetic geo_point."""
    from fluent_plugin_elasticsearch_spark.plans.aggs import compile_aggs

    return compile_aggs(_geo_customers(spark, sf_dir),
                        {"aggs": {"gb": {"geo_bounds": {"field": "loc"}}}})["gb"]


def q_es_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES rate agg (doc-count form): events per span unit."""
    from fluent_plugin_elasticsearch_spark.plans.aggs import compile_aggs

    return compile_aggs(_read(spark, sf_dir, "events"),
                        {"aggs": {"r": {"rate": {"bucket_span_units": 7.0}}}})["r"]


def q_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic clustering: distributed Lloyd's k-means
    over the embeddings table — ENTIRELY integer arithmetic, so the
    assignment is bit-identical on any engine/partitioning
    (operators/similarity.kmeans_clusters)."""
    return _sim.kmeans_clusters(
        _read(spark, sf_dir, "embeddings"), k=4, iters=2, init_ids=[0, 1, 2, 3])


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (operators/similarity.semdedup_keep, Abbas et al. 2023):
    cluster-scoped cosine near-dup removal — kmeans + within-cluster
    pairs + connected components, keep the min-id per component."""
    return _sim.semdedup_keep(
        _read(spark, sf_dir, "embeddings"), k=4, iters=2, threshold=0.40,
        init_ids=[0, 1, 2, 3])


def q_es_categorize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES categorize_text agg: log messages clustered by digit-masked
    token-prefix pattern (documented contract in plans/aggs.py)."""
    from fluent_plugin_elasticsearch_spark.plans.aggs import compile_aggs

    return compile_aggs(_read(spark, sf_dir, "documents"),
                        {"aggs": {"cat": {"categorize_text": {
                            "field": "text", "max_matched_tokens": 3,
                            "size": 15}}}})["cat"]


def q_es_sampler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES sampler agg (deterministic md5-keyed variant): metric sub-aggs
    over a fixed-size uniform sample."""
    from fluent_plugin_elasticsearch_spark.plans.aggs import compile_aggs

    ev = _read(spark, sf_dir, "events").withColumn(
        "value_u", F.floor(F.col("value") * 1e2).cast("long"))
    return compile_aggs(ev, {"aggs": {"s": {
        "sampler": {"shard_size": 200, "id_field": "event_id"},
        "aggs": {"v_sum": {"sum": {"field": "value_u"}},
                 "v_max": {"max": {"field": "value_u"}}}}}})["s"]


def q_es_random_sampler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES random_sampler agg (8.2): probabilistic md5-deterministic
    corpus sample, doc_count scaled back by 1/p; sub-aggs restricted to
    scale-invariant metrics (plans/aggs.py raises on sum-like)."""
    from fluent_plugin_elasticsearch_spark.plans.aggs import compile_aggs

    ev = _read(spark, sf_dir, "events").withColumn(
        "value_u", F.floor(F.col("value") * 1e2).cast("long"))
    return compile_aggs(ev, {"aggs": {"s": {
        "random_sampler": {"probability": 0.35, "seed": 7,
                           "id_field": "event_id"},
        "aggs": {"v_min": {"min": {"field": "value_u"}},
                 "v_max": {"max": {"field": "value_u"}}}}}})["s"]


def q_count_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES _count API: count-only aggregate of a compiled query body
    (sources/scan.count_query — column-pruned count plan)."""
    from fluent_plugin_elasticsearch_spark.sources.scan import count_query

    return count_query(_read(spark, sf_dir, "documents"),
                       {"query": {"bool": {"must": [
                           {"term": {"lang": "en"}},
                           {"range": {"n_chars": {"gte": 500}}}]}}})


def q_mget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES _mget API: id-list fetch in REQUEST order (broadcast join)."""
    from fluent_plugin_elasticsearch_spark.sources.scan import mget

    out = mget(_read(spark, sf_dir, "documents"), [42, 7, 499, 123456, 0])
    return out.select("doc_id", "lang", "n_chars")


def q_rank_feature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES rank_feature query: saturation shape over n_chars with an
    explicit pivot (relevance.rank_feature_df)."""
    return _rel.rank_feature_df(
        _read(spark, sf_dir, "documents"), "n_chars", k=20,
        function="saturation", pivot=500.0, boost=2.0)


def q_rank_feature_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES rank_feature, log shape (ln(scaling_factor·x + 1))."""
    return _rel.rank_feature_df(
        _read(spark, sf_dir, "documents"), "n_chars", k=20,
        function="log", scaling_factor=0.01)


def q_function_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES function_score gauss decay over n_chars (origin 600, scale 300,
    decay 0.5) multiplying the BM25 text score."""
    return _rel.decay_score_df(
        _read(spark, sf_dir, "documents"), ["merge", "table"], "n_chars",
        origin=600.0, scale=300.0, decay=0.5, shape="gauss", k=20)


def q_random_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES function_score random_score: deterministic md5(seed:doc_id)
    pseudo-random ordering (documented contract, mirrored bit-exactly)."""
    return _rel.random_score_df(_read(spark, sf_dir, "documents"), seed=7, k=25)


def q_wrapper_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES wrapper query: base64(JSON) inner clause decoded and recursed
    through the same clause compiler."""
    import base64
    import json as _json

    from fluent_plugin_elasticsearch_spark.plans.query_ast import compile_query

    inner = {"bool": {"must": [{"term": {"lang": "en"}},
                               {"range": {"n_chars": {"gte": 300}}}]}}
    b64 = base64.b64encode(_json.dumps(inner).encode()).decode()
    out = compile_query(_read(spark, sf_dir, "documents"),
                        {"query": {"wrapper": {"query": b64}},
                         "sort": [{"doc_id": "asc"}]})
    return out.select("doc_id", "lang", "n_chars")


def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality score: per-doc mean surprisal under the
    corpus unigram LM, integer micro-nat quantization
    (textquality.unigram_logprob_scores)."""
    return _tq.unigram_logprob_scores(_read(spark, sf_dir, "documents"))


def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM perplexity proxy: per-doc mean surprisal under the
    corpus's own bigram model, first token scored by unigram, integer
    micro-nat quantization (textquality.bigram_logprob_scores)."""
    return _tq.bigram_logprob_scores(_read(spark, sf_dir, "documents"))


def q_es_percentile_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES percentile_ranks: % of values <= each given value, exact count
    ratio quantized to 1e-4 % (plans/aggs._metric_cols)."""
    from fluent_plugin_elasticsearch_spark.plans.aggs import compile_aggs

    ev = _read(spark, sf_dir, "events")
    return compile_aggs(ev, {"aggs": {"pr": {"percentile_ranks": {
        "field": "value", "values": [10.0, 50.0, 90.0]}}}})["pr"]


def q_es_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES median_absolute_deviation: median(|x - median(x)|), two chained
    exact medians (inner one a broadcast single-row subplan)."""
    from fluent_plugin_elasticsearch_spark.plans.aggs import compile_aggs

    ev = _read(spark, sf_dir, "events")
    return compile_aggs(ev, {"aggs": {"mad": {
        "median_absolute_deviation": {"field": "value"}}}})["mad"]


def q_es_top_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES top_metrics: metric values from the top-3 docs by value desc
    (deterministic tie-break: metric columns asc)."""
    from fluent_plugin_elasticsearch_spark.plans.aggs import compile_aggs

    ev = _read(spark, sf_dir, "events").withColumn(
        "value_u", F.floor(F.col("value") * 1e2).cast("long"))
    return compile_aggs(ev, {"aggs": {"tm": {"top_metrics": {
        "metrics": [{"field": "event_id"}], "sort": [{"value_u": "desc"}],
        "size": 3}}}})["tm"]


def _geo_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer with a deterministic synthetic geo_point (exact .25-grid
    doubles — cross-engine-stable sums)."""
    return _read(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment",
        F.struct(
            ((F.col("c_custkey") * 7 % 140) - 70 + F.lit(0.25)).cast("double").alias("lat"),
            ((F.col("c_custkey") * 13 % 360) - 180 + F.lit(0.25)).cast("double").alias("lon"),
        ).alias("loc"))


def q_es_geo_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES geo_centroid metric agg: mean lat/lon (here over an exact
    .25-grid synthetic geo_point, so the double sums are exact)."""
    from fluent_plugin_elasticsearch_spark.plans.aggs import compile_aggs

    return compile_aggs(_geo_customers(spark, sf_dir),
                        {"aggs": {"gc": {"geo_centroid": {"field": "loc"}}}})["gc"]


def q_es_geotile_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES geotile_grid bucket agg: web-mercator "z/x/y" tile keys at
    precision 4, ES bucket order (doc_count desc, key asc)."""
    from fluent_plugin_elasticsearch_spark.plans.aggs import compile_aggs

    out = compile_aggs(_geo_customers(spark, sf_dir),
                       {"aggs": {"gt": {"geotile_grid": {
                           "field": "loc", "precision": 4, "size": 20}}}})["gt"]
    return out


def q_es_geohash_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES geohash_grid bucket agg: base32 geohash cell keys at precision
    3, computed closed-form (scale-floor-interleave, no per-row Python),
    ES bucket order."""
    from fluent_plugin_elasticsearch_spark.plans.aggs import compile_aggs

    return compile_aggs(_geo_customers(spark, sf_dir),
                        {"aggs": {"gh": {"geohash_grid": {
                            "field": "loc", "precision": 3, "size": 20}}}})["gh"]


def q_es_diversified_sampler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES diversified_sampler agg (deterministic md5-keyed variant):
    uniform sample with a per-value diversity cap, metric sub-aggs over
    the sample."""
    from fluent_plugin_elasticsearch_spark.plans.aggs import compile_aggs

    return compile_aggs(_events_value_u(spark, sf_dir), {"aggs": {"d": {
        "diversified_sampler": {"shard_size": 120, "max_docs_per_value": 30,
                                "field": "event_type",
                                "id_field": "event_id"},
        "aggs": {"v_sum": {"sum": {"field": "value_u"}},
                 "v_max": {"max": {"field": "value_u"}}}}}})["d"]


def q_es_adjacency_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES adjacency_matrix agg: per-filter buckets plus pairwise
    intersections (key 'a&b')."""
    from fluent_plugin_elasticsearch_spark.plans.aggs import compile_aggs

    ev = _read(spark, sf_dir, "events")
    out = compile_aggs(ev, {"aggs": {"adj": {"adjacency_matrix": {"filters": {
        "clicks": {"term": {"event_type": "click"}},
        "hot": {"range": {"value": {"gte": 120.0}}},
        "early": {"range": {"ts": {"lt": "2024-01-08 00:00:00"}}},
    }}}}})
    return out["adj"]


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, EXACT baseline path
    (operators/similarity.embedding_neardup_exact): O(n²/2) self-join with
    the JVM fold cosine. The LSH-bucketed variant
    (embedding_nneardup_pairs) is the corpus-scale path — recall-tested in
    pytest; this entry pins the exact contract the LSH path approximates."""
    from fluent_plugin_elasticsearch_spark.operators.similarity import (
        embedding_neardup_exact)

    emb = _read(spark, sf_dir, "embeddings")
    pairs = embedding_neardup_exact(emb, threshold=0.40)
    return pairs.select(
        "id_a", "id_b", F.floor(F.col("cosine") * 1e6).cast("long").alias("cosine_u")
    ).orderBy("id_a", "id_b")


_PERC_QUERIES = [
    (1, ["spark"], 1),
    (2, ["merge", "window"], 2),
    (3, ["fast", "slow", "batch"], 2),
]


def q_percolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES percolate — reverse search: registered match queries evaluated
    against the document stream via the reverse-index join
    (operators/percolate.py). Cost ∝ matched (doc, query-term) pairs, not
    |docs| x |queries|."""
    from fluent_plugin_elasticsearch_spark.operators.percolate import (
        make_query_registry, percolate)

    docs = _read(spark, sf_dir, "documents")
    return percolate(docs, make_query_registry(spark, _PERC_QUERIES))


_PERC_RANGE_QUERIES = [
    (1, ["merge", "data"], 1, "n_chars", 200.0, None),
    (2, ["scan"], 1, "n_chars", None, 220.0),
    (3, ["table"], 1, None, None, None),
    (4, ["key", "row"], 2, "doc_id", 50.0, 300.0),
]


def q_percolate_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES percolator with filter context (operators/percolate.
    percolate_ranged): match(terms, msm) AND a per-query numeric range,
    evaluated after the reverse term join against a doc-side field map
    — heterogeneous range fields in ONE plan."""
    from fluent_plugin_elasticsearch_spark.operators.percolate import (
        make_ranged_registry,
        percolate_ranged,
    )

    docs = _read(spark, sf_dir, "documents")
    reg = make_ranged_registry(spark, _PERC_RANGE_QUERIES)
    return percolate_ranged(docs, reg, ["n_chars", "doc_id"])


def q_es_significant_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES significant_text: tokens over-represented in docs mentioning
    'spark' vs the whole corpus (per-doc rates, JLH, min_doc_count 3)."""
    from fluent_plugin_elasticsearch_spark.plans.aggs import compile_aggs

    docs = _read(spark, sf_dir, "documents")
    out = compile_aggs(docs, {
        "query": {"wildcard": {"text": "*spark*"}},
        "aggs": {"sig": {"significant_text": {"field": "text", "size": 10,
                                              "min_doc_count": 3}}},
    })
    return out["sig"]


def q_pinned_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES pinned query: curated ids first (list order), organic BM25
    after, pinned excluded from organic."""
    from fluent_plugin_elasticsearch_spark.operators import relevance as rel

    out = rel.pinned_df(
        _read(spark, sf_dir, "documents"), [42, 7], ["spark", "merge"], k=10)
    # pinned rows carry NULL score (ES synthetic sort-first); the driver
    # fetches oracles via pandas where a nullable BIGINT degrades to
    # float64 — coalesce to a -1 sentinel on BOTH sides for the hash
    return out.select("doc_id", "rank",
                      F.coalesce("score_u", F.lit(-1)).cast("long").alias("score_u"))


def q_constant_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES constant_score: filter-only selection with a literal boost
    score (no statistics, pure pushdown filter plan)."""
    from fluent_plugin_elasticsearch_spark.plans.query_ast import compile_query

    docs = _read(spark, sf_dir, "documents")
    out = compile_query(docs, {
        "query": {"constant_score": {"filter": {"term": {"lang": "en"}},
                                     "boost": 2.5}},
        "sort": [{"doc_id": "asc"}],
        "size": 200,
    })
    return out.select("doc_id", "lang", "score_u")


def q_has_child(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES has_child (join field): orders with ≥ 3 returned line items
    (operators/joins.has_child — child filter pushdown, count-per-parent,
    semi-join)."""
    from fluent_plugin_elasticsearch_spark.operators.joins import has_child

    o = _read(spark, sf_dir, "orders")
    li = _read(spark, sf_dir, "lineitem").withColumnRenamed("l_orderkey", "o_orderkey")
    out = has_child(o, li, F.col("l_returnflag") == "R",
                    "o_orderkey", "o_orderkey", min_children=3)
    return out.select("o_orderkey", "o_orderstatus").orderBy("o_orderkey")


def q_has_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES has_parent: line items whose order is high-priority urgent."""
    from fluent_plugin_elasticsearch_spark.operators.joins import has_parent

    o = _read(spark, sf_dir, "orders")
    li = _read(spark, sf_dir, "lineitem").withColumnRenamed("l_orderkey", "o_orderkey")
    out = has_parent(o, li, F.col("o_orderpriority") == "1-URGENT",
                     "o_orderkey", "o_orderkey")
    return (
        out.select("o_orderkey", "l_linenumber",
                   F.floor(F.col("l_quantity") * 1e2).cast("long").alias("qty_u"))
        .orderBy("o_orderkey", "l_linenumber")
    )


def q_children_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `children` aggregation: per-order line metrics for urgent
    orders (semi-join + one partial-aggregated groupBy on the join key)."""
    from fluent_plugin_elasticsearch_spark.operators.joins import children_aggregation

    o = _read(spark, sf_dir, "orders")
    li = _read(spark, sf_dir, "lineitem").withColumnRenamed("l_orderkey", "o_orderkey")
    li = li.withColumn("qty_u", F.floor(F.col("l_quantity") * 1e2).cast("long"))
    out = children_aggregation(
        o, li, F.col("o_orderpriority") == "1-URGENT",
        [F.sum("qty_u").cast("long").alias("qty_sum_u"),
         F.count(F.lit(1)).alias("n_lines")],
        "o_orderkey", "o_orderkey")
    return out.orderBy("o_orderkey")


def q_span_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES span_near (in_order, slop=2): ordered proximity match with the
    phrase scoring formula (relevance.span_near_df — JVM higher-order
    position scan, no Python)."""
    from fluent_plugin_elasticsearch_spark.operators import relevance as rel

    return rel.span_near_df(
        _read(spark, sf_dir, "documents"), "merge", "window", slop=2, k=20)


def q_span_near_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES span_near with THREE ordered clauses, slop=10 — the query AST
    lowers n-clause span_near to the intervals chain (span_near's slop
    is exactly the intervals max_gaps bound), DF scorer here."""
    from fluent_plugin_elasticsearch_spark.plans.query_ast import compile_query

    docs = _read(spark, sf_dir, "documents")
    body = {"query": {"span_near": {"clauses": [
        {"span_term": {"text": "merge"}},
        {"span_term": {"text": "group"}},
        {"span_term": {"text": "filter"}}],
        "slop": 10, "in_order": True}}, "size": 20}
    return compile_query(docs, body).select("doc_id", "score_u")


def q_span_near_unordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES span_near, two clauses, in_order=false, slop=2 — lowered to
    the unordered intervals pair by the query AST."""
    from fluent_plugin_elasticsearch_spark.plans.query_ast import compile_query

    docs = _read(spark, sf_dir, "documents")
    body = {"query": {"span_near": {"clauses": [
        {"span_term": {"text": "hash"}},
        {"span_term": {"text": "table"}}],
        "slop": 2, "in_order": False}}, "size": 20}
    return compile_query(docs, body).select("doc_id", "score_u")


def q_intervals_any_of(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES intervals any_of rule: union of single-term match sub-rules —
    the AST lowers it onto the span_or scorer (interval freq = summed
    occurrences)."""
    from fluent_plugin_elasticsearch_spark.plans.query_ast import compile_query

    docs = _read(spark, sf_dir, "documents")
    body = {"query": {"intervals": {"text": {"any_of": {"intervals": [
        {"match": {"query": "merge"}},
        {"match": {"query": "window"}}]}}}}, "size": 20}
    return compile_query(docs, body).select("doc_id", "score_u")


def q_intervals_all_of(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES intervals all_of rule: ordered conjunction of single-term
    sub-rules with the combinator's own max_gaps — lowered onto the
    intervals match chain by the AST."""
    from fluent_plugin_elasticsearch_spark.plans.query_ast import compile_query

    docs = _read(spark, sf_dir, "documents")
    body = {"query": {"intervals": {"text": {"all_of": {
        "intervals": [{"match": {"query": "merge"}},
                      {"match": {"query": "group"}},
                      {"match": {"query": "filter"}}],
        "max_gaps": 10, "ordered": True}}}}, "size": 20}
    return compile_query(docs, body).select("doc_id", "score_u")


def q_span_or(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES span_or over single-term clauses (relevance.span_or_df): any
    occurrence of any clause term, span-contract scoring."""
    return _rel.span_or_df(
        _read(spark, sf_dir, "documents"), ["merge", "window"], k=20)


def q_span_not(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES span_not (relevance.span_not_df): 'merge' occurrences not within
    2 tokens of a 'window' occurrence."""
    return _rel.span_not_df(
        _read(spark, sf_dir, "documents"), "merge", "window", pre=2, post=2, k=20)


def q_intervals_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES intervals `match` rule, ordered, 3 terms, max_gaps=10
    (relevance.intervals_match_df — nested JVM exists-chains)."""
    return _rel.intervals_match_df(
        _read(spark, sf_dir, "documents"), ["merge", "group", "filter"],
        max_gaps=10, ordered=True, k=20)


def q_intervals_unordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES intervals `match` rule, unordered pair, max_gaps=2."""
    return _rel.intervals_match_df(
        _read(spark, sf_dir, "documents"), ["hash", "table"],
        max_gaps=2, ordered=False, k=20)


def q_hybrid_knn_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES 8 hybrid search: knn + multi_match in one body, additive score
    combination over the union of both top-k hit sets
    (plans/query_ast.compile_query knn branch)."""
    from fluent_plugin_elasticsearch_spark.plans.query_ast import compile_query

    # LEFT join: the oracle scores the multi_match side over the FULL
    # documents table and the knn side over the embeddings table. An inner
    # join silently shrank the BM25 corpus (n/avgdl/df) wherever coverage
    # is partial (sf0.1: 2000 of 5000 docs have embeddings) — caught by an
    # sf0.1 oracle sweep this round. Docs without an embedding get a NULL
    # cosine (never NaN), which sorts after every real hit, so the knn
    # top-k is exactly the oracle's scan of the embeddings table.
    docs = _read(spark, sf_dir, "documents").join(
        _read(spark, sf_dir, "embeddings").withColumnRenamed("vec_id", "doc_id"),
        "doc_id", "left")
    body = {
        "query": {"multi_match": {"query": "fast table src1",
                                  "fields": ["text", "source"]}},
        "knn": {"field": "embedding", "query_vector": [1.0] * 64,
                "k": 10, "boost": 0.5},
        "size": 10,
    }
    return compile_query(docs, body).select("doc_id", "score_u")


def q_es_pipeline_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES pipeline aggregations over a date_histogram series: derivative,
    cumulative_sum, trailing moving_fn(avg, 2), bucket_script ratio —
    computed on the reduced bucket series (plans/aggs._apply_pipeline_aggs).
    Sums run over pre-quantized ints; the first-bucket NULL derivative is
    coalesced to a sentinel for the pandas-side hash."""
    from fluent_plugin_elasticsearch_spark.plans.aggs import compile_aggs

    ev = _read(spark, sf_dir, "events").withColumn(
        "value_u", F.floor(F.col("value") * 1e2).cast("long"))
    out = compile_aggs(ev, {"aggs": {"per_day": {
        "date_histogram": {"field": "ts", "calendar_interval": "day"},
        "aggs": {
            "v_sum": {"sum": {"field": "value_u"}},
            "diff": {"derivative": {"buckets_path": "v_sum"}},
            "cum": {"cumulative_sum": {"buckets_path": "v_sum"}},
            "ma2": {"moving_fn": {"buckets_path": "v_sum", "window": 2,
                                  "script": "avg"}},
            "per_doc": {"bucket_script": {
                "buckets_path": {"s": "v_sum", "n": "doc_count"},
                "script": "s / n"}},
        }}}})["per_day"]
    return out.select(
        "key", "doc_count",
        F.col("v_sum").cast("long").alias("v_sum"),
        F.coalesce(F.col("diff"), F.lit(-(2 ** 62))).cast("long").alias("diff_c"),
        F.col("cum").cast("long").alias("cum"),
        F.floor(F.col("ma2") * 1e2).cast("long").alias("ma2_u"),
        F.floor(F.col("per_doc") * 1e2).cast("long").alias("per_doc_u"),
    )


def q_terms_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES terms-lookup: the terms list fetched from another index —
    events whose user is a high-balance customer (semi-join, broadcast
    when the lookup set is small; operators/joins.terms_lookup)."""
    from fluent_plugin_elasticsearch_spark.operators.joins import terms_lookup

    ev = _read(spark, sf_dir, "events")
    cust = _read(spark, sf_dir, "customer").withColumnRenamed("c_custkey", "user_id")
    out = terms_lookup(ev, cust, "user_id", "user_id",
                       F.col("c_acctbal") > 9000.0)
    return out.select("event_id", "user_id").orderBy("event_id")


def q_termvectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES _termvectors: one doc's term stats + corpus doc_freq/ttf
    (operators/apis.termvectors)."""
    from fluent_plugin_elasticsearch_spark.operators import apis

    return apis.termvectors(_read(spark, sf_dir, "documents"), doc_id=7)


def q_completion_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES completion suggester (operators/apis.completion_suggest):
    weight-ranked prefix autocomplete with skip_duplicates — the
    completion field is derived deterministically (input = the doc's
    first token, weight = n_chars)."""
    from fluent_plugin_elasticsearch_spark.operators.apis import (
        completion_suggest,
    )

    docs = _read(spark, sf_dir, "documents")
    sugg = docs.select(
        F.element_at(F.split(F.lower("text"), "[^a-z0-9]+"), 1)
        .alias("input"),
        F.col("n_chars").alias("weight"), "doc_id")
    return completion_suggest(sugg, "s", size=10, skip_duplicates=True)


def q_termvectors_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES _termvectors with positions=true (operators/apis.termvectors):
    per-term 1-based token positions inside the doc, ascending."""
    from fluent_plugin_elasticsearch_spark.operators import apis

    out = apis.termvectors(_read(spark, sf_dir, "documents"), doc_id=7,
                           positions=True)
    # positions joined to a string for the driver comparator (array
    # normalization differs between result transports; the operator
    # itself returns the real array<int>)
    return out.select(
        "term", "term_freq", "doc_freq", "ttf",
        F.array_join(F.col("positions").cast("array<string>"), ",")
        .alias("positions"))


def q_mtermvectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES _mtermvectors: several docs' term stats in ONE corpus pass
    (operators/apis.mtermvectors)."""
    from fluent_plugin_elasticsearch_spark.operators import apis

    return apis.mtermvectors(_read(spark, sf_dir, "documents"),
                             doc_ids=[3, 7, 11])


def q_explain_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES _explain: per-term BM25 breakdown for one (doc, query) pair,
    same formula/quantization as the scoring pipeline."""
    from fluent_plugin_elasticsearch_spark.operators import apis

    return apis.explain(_read(spark, sf_dir, "documents"), doc_id=7,
                        query_terms=["the", "spark", "merge"])


def q_sorted_scan_desc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 — sort on metadata field, descending (affinity lookup order)."""
    docs = _read(spark, sf_dir, "documents")
    return docs.orderBy(F.desc("n_chars"), F.asc("doc_id")).limit(20).select("doc_id", "n_chars")


def q_genid_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T11 — deterministic id generation, md5 + base64 (genid filter)."""
    ev = _read_dist(spark, sf_dir, "events")
    seed = _genid.genid_seed(["user_id", "event_type"], separator="_")
    return ev.select(F.col("event_id"), _genid.genid_hash(seed, "md5").alias("_hash"))


def q_genid_sha256(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _read_dist(spark, sf_dir, "events")
    seed = _genid.genid_seed(["user_id", "event_type"], separator="_")
    return ev.select(F.col("event_id"), _genid.genid_hash(seed, "sha256").alias("_hash"))


def q_target_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 — logstash date-index naming as partition column (+count/agg)."""
    ev = _read(spark, sf_dir, "events")
    named = _tr.target_index(ev, time_col="__none__", event_time_col="ts")
    return named.groupBy("index_name").agg(F.count("*").alias("n_docs"))


def q_placeholder_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T14 — `${tag}`/strftime placeholder template compiled to columns."""
    ev = _read(spark, sf_dir, "events").withColumn("tag", F.concat(F.lit("app."), F.col("event_type")))
    tmpl = _tr.expand_placeholders("logs-${tag_parts[1]}-%Y%m%d", tag_col="tag", time_col="ts")
    return ev.select("event_id", tmpl.alias("expanded"))


def q_affinity_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K11 — affinity-targeted routing: updates routed to the OLDEST index
    holding each id (min over existing index names per user)."""
    ev = _read(spark, sf_dir, "events")
    hist = _tr.target_index(ev.filter(F.col("event_id") % 2 == 0), time_col="__n__", event_time_col="ts")
    batch = _tr.target_index(ev.filter(F.col("event_id") % 2 == 1), time_col="__n__", event_time_col="ts")
    routed = _wo.affinity_target_index(
        batch.select(F.col("user_id").alias("doc_id"), "event_id", "index_name"),
        hist.select(F.col("user_id").alias("doc_id"), "index_name"),
    )
    return routed.groupBy("index_name").agg(F.count("*").alias("n"))


def q_error_triage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K9 — bulk partial-failure triage classes (statuses derived
    deterministically from the data)."""
    ev = _read(spark, sf_dir, "events")
    status = (
        F.when(F.col("event_type") == "error", 400)
        .when(F.col("event_type") == "purchase", 409)
        .when(F.col("event_type") == "login", 503)
        .otherwise(201)
    )
    et = F.when(F.col("value") > 195, "es_rejected_execution_exception").otherwise(F.lit(None))
    tagged = ev.withColumn("status", status).withColumn("error_type", et)
    return _wo.triage_stats(tagged)


def q_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K5 — upsert MERGE semantics: target=even events, batch=late events
    (update value where matched, insert where not)."""
    ev = _read(spark, sf_dir, "events").select("event_id", "user_id", "value")
    target = ev.filter(F.col("event_id") % 2 == 0)
    batch = ev.filter(F.col("event_id") % 3 == 0).withColumn("value", F.col("value") * 2.0)
    merged = _wo.op_upsert(target, batch, "event_id")
    return merged.select(
        "event_id", "user_id", F.floor(F.col("value") * 1e6).cast("long").alias("value_u")
    )


def q_create_insert_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 — create op: insert-if-absent; duplicates rejected not written."""
    ev = _read(spark, sf_dir, "events").select("event_id", "user_id", "value")
    target = ev.filter(F.col("event_id") % 2 == 0)
    batch = ev.filter(F.col("event_id") % 3 == 0).withColumn("value", F.col("value") * 2.0)
    merged, _dup = _wo.op_create(target, batch, "event_id")
    return merged.select(
        "event_id", F.floor(F.col("value") * 1e6).cast("long").alias("value_u")
    )


def q_delete_by_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES _delete_by_query: survivors after deleting matches (AST-compiled
    predicate, pushed to the scan)."""
    ev = _read(spark, sf_dir, "events").select("event_id", "event_type", "value")
    body = {"query": {"bool": {"should": [
        {"term": {"event_type": "error"}},
        {"range": {"value": {"gt": 150}}},
    ]}}}
    out = _wo.delete_by_query(ev, body)
    return out.select("event_id", "event_type",
                      F.floor(F.col("value") * 1e2).cast("long").alias("value_u"))


def q_update_by_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES _update_by_query with a vectorized 'script': double clicked
    events' value, stamp a flag column; non-matches untouched."""
    ev = _read(spark, sf_dir, "events").select("event_id", "event_type", "value")
    out = _wo.update_by_query(
        ev,
        {"query": {"term": {"event_type": "click"}}},
        {"value": F.col("value") * 2.0, "boosted": F.lit(True)},
    )
    return out.select("event_id", "event_type",
                      F.floor(F.col("value") * 1e2).cast("long").alias("value_u"),
                      "boosted")


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _dedup.exact_dedup(_read_dist(spark, sf_dir, "documents"))


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ORDER BY doc_id in both engines: pins row order for the driver hash
    return _tq.token_counts(_read_dist(spark, sf_dir, "documents")).orderBy("doc_id")


def q_highlight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES highlight: token-window fragments around the first query-term
    hit, terms wrapped in <em> tags."""
    return _tq.highlight_fragments(
        _read(spark, sf_dir, "documents"), FLAGSHIP_TERMS, window=5
    ).orderBy("doc_id")


def q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _tq.fingerprints(_read(spark, sf_dir, "documents"))


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _tq.lang_id_scores(_read_dist(spark, sf_dir, "documents")).select(
        "doc_id", "predicted_lang", "en_hits", "de_hits", "es_hits", "fr_hits"
    )


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = _tq.quality_score(_read_dist(spark, sf_dir, "documents"))
    return q.select(
        "doc_id", "n_tokens", F.floor(F.col("quality") * 1e6).cast("long").alias("quality_u"), "keep"
    )


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k vs the vec_id=0 embedding (float64 math)."""
    emb = _read_dist(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    qdf = emb.filter(F.col("vec_id") == 0).select(
        F.lit(0).alias("query_id"), F.col("embedding")
    )
    top = _sim.cosine_topk(emb.filter(F.col("vec_id") != 0), qdf, k=10, n_queries=1)
    return top.select(
        "vec_id", F.floor(F.col("cosine") * 1e6).cast("long").alias("cosine_u"), "rank"
    )


def q_knn_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES 8.8 knn `similarity` cutoff: hits of the k nearest below the
    minimum cosine are dropped (fewer than k rows may return)."""
    from fluent_plugin_elasticsearch_spark.plans.query_ast import compile_query

    docs = _read(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    body = {"knn": {"field": "embedding", "query_vector": [1.0] * 64,
                    "k": 10, "similarity": 0.26}}
    out = compile_query(docs, body)
    return out.select(
        "doc_id", F.floor(F.col("cosine") * 1e6).cast("long")
        .alias("cosine_u"), "rank"
    )


def q_knn_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES 8 kNN search body through the query AST (cosine top-k against a
    literal query vector)."""
    from fluent_plugin_elasticsearch_spark.plans.query_ast import compile_query

    docs = _read(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    body = {"knn": {"field": "embedding", "query_vector": [1.0] * 64, "k": 10}}
    out = compile_query(docs, body)
    return out.select(
        "doc_id", F.floor(F.col("cosine") * 1e6).cast("long").alias("cosine_u"), "rank"
    )


def q_knn_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES 8 kNN body with an explicit sort (plans/query_ast): the k
    NEAREST hits are retrieved by cosine, then PRESENTED in the sort
    order (label desc, similarity rank as tie-break) — sort reorders the
    hit page, never the candidate set."""
    from fluent_plugin_elasticsearch_spark.plans.query_ast import compile_query

    docs = _read(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "embedding", "label"
    )
    body = {"knn": {"field": "embedding", "query_vector": [1.0] * 64, "k": 10},
            "sort": [{"label": {"order": "desc"}}]}
    out = compile_query(docs, body)
    return out.select(
        "doc_id", F.col("label").cast("int").alias("label"),
        F.floor(F.col("cosine") * 1e6).cast("long").alias("cosine_u"), "rank"
    )


def q_bm25_wand_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full engine path under the oracle gate: build the compressed
    block-max index over `documents` (simple tokenizer), run block-max WAND
    top-k — must equal the plain-SQL BM25 oracle exactly."""
    import tempfile

    from fluent_plugin_elasticsearch_spark.operators.index_build import build_index
    from fluent_plugin_elasticsearch_spark.operators.search import InvertedIndex

    docs = _read(spark, sf_dir, "documents")
    out = tempfile.mkdtemp(prefix="entry_idx_") + "/idx"
    build_index(spark, docs, out, id_col="doc_id", text_col="text",
                tokenizer="simple", n_shards=4, n_salts=4)
    idx = InvertedIndex(spark, out)
    top = idx.search(" ".join(FLAGSHIP_TERMS), k=10, mode="wand")
    return top.select("doc_id", F.floor(F.col("score") * 1e6).cast("long").alias("score_u"))


def q_span_near_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full engine path: positional index build + span_near served from
    postings/positions — must equal the plain-SQL span oracle exactly."""
    import tempfile

    from fluent_plugin_elasticsearch_spark.operators.index_build import build_index
    from fluent_plugin_elasticsearch_spark.operators.search import InvertedIndex

    docs = _read(spark, sf_dir, "documents")
    out = tempfile.mkdtemp(prefix="entry_spanidx_") + "/idx"
    build_index(spark, docs, out, id_col="doc_id", text_col="text",
                tokenizer="simple", n_shards=4, n_salts=4, with_positions=True)
    idx = InvertedIndex(spark, out)
    top = idx.span_near("merge", "window", slop=2, k=20)
    return top.select("doc_id",
                      F.floor(F.col("score") * 1e6).cast("long").alias("score_u"))


def q_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES completion suggester: top-10 's'-prefixed index terms by df
    (full engine path: build index, prefix-pruned term_stats scan)."""
    import tempfile

    from fluent_plugin_elasticsearch_spark.operators.index_build import build_index
    from fluent_plugin_elasticsearch_spark.operators.search import InvertedIndex

    docs = _read(spark, sf_dir, "documents")
    out = tempfile.mkdtemp(prefix="entry_sug_") + "/idx"
    build_index(spark, docs, out, id_col="doc_id", text_col="text",
                tokenizer="simple", n_shards=4, n_salts=4)
    return InvertedIndex(spark, out).suggest("s", 10)


def q_ngram_overlap_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate generation: top-20 doc pairs by shared distinct
    bigrams, through the CAPPED library path (max_bucket=1000 is provably a
    no-op at sf0.01's 500 docs, so oracle parity holds while the entry
    exercises exactly the function users ship)."""
    from fluent_plugin_elasticsearch_spark.operators.dedup import ngram_overlap_topk

    return ngram_overlap_topk(_read(spark, sf_dir, "documents"), n=2, k=20)


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidate pairs (md5-derived hashes, 16 perms, 8 bands).
    max_bucket=1000 keeps the hot-bucket guard in the plan while being a
    no-op at sf0.01 (a band bucket can hold at most the 500 docs)."""
    from fluent_plugin_elasticsearch_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(
        _read(spark, sf_dir, "documents"), n=2, num_hashes=16, bands=8, max_bucket=1000
    )


def q_simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash 64-bit signatures — md5-derived tf-weighted bit votes, so the
    DuckDB oracle reproduces every signature exactly (bit-vote SQL below)."""
    from fluent_plugin_elasticsearch_spark.operators.dedup import simhash_signatures

    return simhash_signatures(_read(spark, sf_dir, "documents")).orderBy("doc_id")


def q_rank_eval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES _rank_eval API, normalized DCG@5 over two rated search
    requests (each search runs the full query compiler; per-position
    DCG contributions integer-quantized before summation)."""
    from fluent_plugin_elasticsearch_spark.operators.apis import rank_eval

    docs = _read(spark, sf_dir, "documents")
    requests = [
        {"id": "r1",
         "request": {"query": {"term": {"lang": "en"}},
                     "sort": [{"doc_id": "asc"}]},
         "ratings": [{"_id": 3, "rating": 3}, {"_id": 7, "rating": 2},
                     {"_id": 11, "rating": 1}, {"_id": 2, "rating": 0}]},
        {"id": "r2",
         "request": {"query": {"range": {"n_chars": {"gte": 300}}},
                     "sort": [{"doc_id": "asc"}]},
         "ratings": [{"_id": 0, "rating": 1}, {"_id": 1, "rating": 2},
                     {"_id": 2, "rating": 3}, {"_id": 5, "rating": 1}]},
    ]
    return rank_eval(docs, requests, {"dcg": {"k": 5, "normalize": True}})


def q_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy-dedup tail: MinHash-LSH pairs → connected components → keep
    ONE canonical doc (min id) per cluster; the cleaned corpus."""
    from fluent_plugin_elasticsearch_spark.operators.dedup import (
        dedup_apply,
        minhash_lsh_pairs,
    )

    docs = _read(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, n=2, num_hashes=16, bands=8,
                              max_bucket=1000)
    return dedup_apply(docs, pairs)


def q_msearch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES _msearch API: three bodies multiplexed in one request — ids
    lookup, filtered sorted top-k, range + keyset-ordered page — union
    tagged with query_idx."""
    from fluent_plugin_elasticsearch_spark.sources.scan import msearch

    docs = _read(spark, sf_dir, "documents")
    return msearch(docs, [
        {"query": {"ids": {"values": [1, 5, 9]}}},
        {"query": {"term": {"lang": "en"}}, "size": 5,
         "sort": [{"n_chars": "desc"}, {"doc_id": "asc"}]},
        {"query": {"range": {"n_chars": {"gte": 400}}}, "size": 4,
         "sort": [{"doc_id": "asc"}]},
    ])


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster labeling: MinHash-LSH candidate pairs → connected
    components (min-label propagation); cluster_id = min reachable doc id."""
    from fluent_plugin_elasticsearch_spark.operators.dedup import (
        connected_components,
        minhash_lsh_pairs,
    )

    pairs = minhash_lsh_pairs(
        _read(spark, sf_dir, "documents"), n=2, num_hashes=16, bands=8, max_bucket=1000
    )
    return connected_components(pairs).orderBy("doc_id")


def q_pack_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (concat-then-chunk, context 512): distributed
    prefix-sum layout — every doc's byte-deterministic offset/pack
    assignment at any parallelism."""
    from fluent_plugin_elasticsearch_spark.operators.packing import pack_documents

    docs = _read(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", F.size(_tr_simple_tokens(F.col("text"))).alias("n_tokens")
    )
    return pack_documents(base, context_len=512).orderBy("doc_id")


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG chunking: 64-token windows, 16-token overlap — one explode, no
    shuffle; chunk ids parallelism-invariant."""
    from fluent_plugin_elasticsearch_spark.operators.packing import chunk_documents

    return chunk_documents(
        _read(spark, sf_dir, "documents"), chunk_len=64, overlap=16
    ).orderBy("doc_id", "chunk_id")


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic md5-keyed stratified sampling by lang (binary-exact
    fractions so both engines compute identical thresholds)."""
    from fluent_plugin_elasticsearch_spark.operators.packing import stratified_sample

    docs = _read(spark, sf_dir, "documents")
    out = stratified_sample(
        docs, "lang", {"en": 0.5, "de": 0.25, "fr": 0.125}, id_col="doc_id"
    )
    return out.select("doc_id", "lang").orderBy("doc_id")


def _tr_simple_tokens(c):
    toks = F.split(F.lower(c), "[^a-z0-9]+")
    return F.filter(toks, lambda t: t != F.lit(""))


def q_query_ast_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 — ES query-body AST compiled to scan+filter+sort+limit."""
    from fluent_plugin_elasticsearch_spark.plans.query_ast import compile_query

    docs = _read(spark, sf_dir, "documents")
    body = {
        "query": {
            "bool": {
                "filter": [{"range": {"n_chars": {"gte": 200, "lt": 400}}}],
                "must_not": [{"term": {"lang": "zh"}}],
            }
        },
        "sort": [{"n_chars": {"order": "desc"}}, {"doc_id": {"order": "asc"}}],
        "size": 15,
        "_source": ["lang", "n_chars"],
    }
    return compile_query(docs, body)


def q_query_ast_terms_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 extension — terms membership + prefix/wildcard string patterns
    compiled to pushed-down filters."""
    from fluent_plugin_elasticsearch_spark.plans.query_ast import compile_query

    docs = _read(spark, sf_dir, "documents")
    body = {
        "query": {
            "bool": {
                "filter": [
                    {"terms": {"lang": ["en", "de", "fr"]}},
                    {"range": {"n_chars": {"gte": 100}}},
                ],
                "must_not": [{"prefix": {"lang": "f"}}],
            }
        },
        "sort": [{"doc_id": {"order": "asc"}}],
        "size": 40,
        "_source": ["lang", "n_chars"],
    }
    return compile_query(docs, body)


def q_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN (k-means coarse quantizer + probed exact re-rank) —
    rows-only check: the quantizer isn't SQL-expressible; recall vs brute
    force is asserted in tests/test_dedup_similarity.py."""
    from fluent_plugin_elasticsearch_spark.operators.similarity import ivf_cosine_topk

    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    qdf = emb.filter(F.col("vec_id") == 0).select(F.lit(0).alias("query_id"), "embedding")
    top = ivf_cosine_topk(emb.filter(F.col("vec_id") != 0), qdf, dim=64, k=10,
                          n_lists=8, n_probe=8)  # n_probe=n_lists ⇒ exact
    return top.select("vec_id", F.floor(F.col("cosine") * 1e6).cast("long").alias("cosine_u"), "rank")


def q_pq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (operators/similarity.PqIndex): 16x code
    compression + ADC LUT scoring + exact rerank. rerank_factor=50 covers
    the whole sf-gate corpus (k*50 ≥ n), so the reranked result is the
    EXACT cosine top-k — the oracle is brute force, same pattern as the
    IVF entry (n_probe=n_lists). PQ recall at realistic rerank factors is
    asserted in tests/test_dedup_similarity.py."""
    from fluent_plugin_elasticsearch_spark.operators.similarity import PqIndex

    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    qdf = emb.filter(F.col("vec_id") == 0).select(F.lit(0).alias("query_id"), "embedding")
    idx = PqIndex(emb.filter(F.col("vec_id") != 0), dim=64, m=16, seed=7)
    top = idx.search(qdf, k=10, rerank_factor=50)
    idx.close()
    return top.select("vec_id", F.floor(F.col("cosine") * 1e6).cast("long").alias("cosine_u"), "rank")


def q_es_terms_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES aggregations body — terms bucket agg with metric sub-aggs
    (plans/aggs.py). Sub-metric sums run over a pre-quantized integer
    column so both engines produce order-free exact sums."""
    from fluent_plugin_elasticsearch_spark.plans.aggs import compile_aggs

    ev = _read(spark, sf_dir, "events").withColumn(
        "value_u", F.floor(F.col("value") * 1e2).cast("long")
    )
    out = compile_aggs(ev, {
        "aggs": {
            "by_type": {
                "terms": {"field": "event_type", "size": 10},
                "aggs": {
                    "v_sum": {"sum": {"field": "value_u"}},
                    "v_cnt": {"value_count": {"field": "value_u"}},
                },
            }
        }
    })
    return out["by_type"].select(
        "key", "doc_count", F.col("v_sum").cast("long").alias("v_sum"), "v_cnt"
    )


def q_es_date_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES date_histogram bucket agg under a query filter."""
    from fluent_plugin_elasticsearch_spark.plans.aggs import compile_aggs

    ev = _read(spark, sf_dir, "events")
    out = compile_aggs(ev, {
        "query": {"range": {"value": {"gte": 10}}},
        "aggs": {"per_day": {"date_histogram": {"field": "ts", "calendar_interval": "day"}}},
    })
    return out["per_day"]


def q_es_nested_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES NESTED bucket agg (bucket-in-bucket): terms(event_type, size 3)
    → date_histogram(day) with an avg leaf metric — compiled to ONE
    two-key groupBy (plans/aggs.py:_compile_bucket_path); parent
    doc_counts and the per-level size via windows over the aggregated
    bucket rows. Flattened ES response: one row per leaf bucket, ordered
    parent-first ES-style."""
    from fluent_plugin_elasticsearch_spark.plans.aggs import compile_aggs

    ev = _read(spark, sf_dir, "events").withColumn(
        "value_u", F.floor(F.col("value") * 1e2).cast("long")
    )
    out = compile_aggs(ev, {
        "aggs": {
            "by_type": {
                "terms": {"field": "event_type", "size": 3},
                "aggs": {
                    "per_day": {
                        "date_histogram": {"field": "ts", "calendar_interval": "day"},
                        "aggs": {"v_sum": {"sum": {"field": "value_u"}}},
                    }
                },
            }
        }
    })["by_type"]
    return out.select(
        "by_type_key", "per_day_key", "doc_count",
        F.col("v_sum").cast("long").alias("v_sum"), "by_type_doc_count",
    )


def q_es_filters_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES filters agg: named filter buckets, each counting independently
    (a doc may land in several buckets), with a sum sub-metric."""
    from fluent_plugin_elasticsearch_spark.plans.aggs import compile_aggs

    ev = _read(spark, sf_dir, "events").withColumn(
        "value_u", F.floor(F.col("value") * 1e2).cast("long")
    )
    out = compile_aggs(ev, {
        "aggs": {
            "slices": {
                "filters": {"filters": {
                    "errors": {"term": {"event_type": "error"}},
                    "big": {"range": {"value": {"gte": 100}}},
                    "clicks": {"term": {"event_type": "click"}},
                }},
                "aggs": {"v_sum": {"sum": {"field": "value_u"}}},
            }
        }
    })["slices"]
    return out.select("key", "doc_count", F.col("v_sum").cast("long").alias("v_sum"))


def q_es_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES percentiles agg — exact linear-interpolation quantiles (identical
    formula to DuckDB quantile_cont), quantized."""
    from fluent_plugin_elasticsearch_spark.plans.aggs import compile_aggs

    ev = _read(spark, sf_dir, "events")
    out = compile_aggs(ev, {
        "aggs": {"v": {"percentiles": {"field": "value", "percents": [50, 95, 99]}}}
    })["v"]
    return out.select(
        *[F.floor(F.col(c) * 1e6).cast("long").alias(f"{c}_u") for c in out.columns]
    )


def q_es_top_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES top_hits sub-agg: top-3 events per event_type by (value desc,
    event_id asc) — bucket-partitioned window."""
    from fluent_plugin_elasticsearch_spark.plans.aggs import top_hits

    ev = _read(spark, sf_dir, "events").select("event_id", "event_type", "value")
    out = top_hits(ev, "event_type", 3,
                   sort=[{"value": {"order": "desc"}}, {"event_id": {"order": "asc"}}])
    return out.select("event_type", "hit_rank", "event_id",
                      F.floor(F.col("value") * 1e2).cast("long").alias("value_u"))


def q_es_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES cardinality agg (exact mode — approximate=True gives HLL++)."""
    from fluent_plugin_elasticsearch_spark.plans.aggs import compile_aggs

    ev = _read(spark, sf_dir, "events")
    return compile_aggs(ev, {"aggs": {"users": {"cardinality": {"field": "user_id"}}}})["users"]


def q_es_range_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES range agg: independent [from, to) buckets (overlap allowed) with
    a metric sub-agg, returned in given order (plans/aggs._range_agg)."""
    from fluent_plugin_elasticsearch_spark.plans.aggs import compile_aggs

    ev = _read(spark, sf_dir, "events").withColumn(
        "value_u", F.floor(F.col("value") * 1e2).cast("long")
    )
    out = compile_aggs(ev, {
        "aggs": {"vr": {
            "range": {"field": "value", "ranges": [
                {"to": 50}, {"from": 50, "to": 150}, {"from": 100}]},
            "aggs": {"v_sum": {"sum": {"field": "value_u"}}},
        }}
    })
    return out["vr"].select(
        "bucket_idx", "key", "doc_count", F.col("v_sum").cast("long").alias("v_sum")
    )


def q_es_date_range_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES date_range agg over the events timestamp."""
    from fluent_plugin_elasticsearch_spark.plans.aggs import compile_aggs

    ev = _read(spark, sf_dir, "events")
    out = compile_aggs(ev, {
        "aggs": {"dr": {"date_range": {"field": "ts", "ranges": [
            {"to": "2024-01-08 00:00:00"},
            {"from": "2024-01-08 00:00:00", "to": "2024-01-15 00:00:00"},
            {"from": "2024-01-15 00:00:00"},
        ]}}}
    })
    return out["dr"]


def q_es_extended_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES extended_stats metric agg (population variance / std-dev, ES
    semantics). Moments are quantized for the cross-engine hash — float
    summation order differs between engines above the 1e-6 quantum only
    if the accumulators disagree, so sums run over pre-quantized ints and
    the derived moments are floor-quantized at 1e2."""
    from fluent_plugin_elasticsearch_spark.plans.aggs import compile_aggs

    ev = _read(spark, sf_dir, "events").withColumn(
        "value_u", F.floor(F.col("value") * 1e2).cast("long")
    )
    out = compile_aggs(ev, {"aggs": {"vs": {"extended_stats": {"field": "value_u"}}}})["vs"]
    return out.select(
        F.col("vs_count").alias("cnt"),
        F.col("vs_min").cast("long").alias("vmin"),
        F.col("vs_max").cast("long").alias("vmax"),
        F.col("vs_sum").cast("long").alias("vsum"),
        F.floor(F.col("vs_avg") * 1e2).cast("long").alias("vavg_u"),
        F.col("vs_sum_of_squares").cast("long").alias("vsumsq"),
        F.floor(F.col("vs_variance") / 1e4).cast("long").alias("vvar_u"),
        F.floor(F.col("vs_std_deviation") / 1e1).cast("long").alias("vstd_u"),
    )


def q_es_missing_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES missing agg: docs where the field is null (events.props parses
    to NULL k for some rows — use a derived nullable column)."""
    from fluent_plugin_elasticsearch_spark.plans.aggs import compile_aggs

    ev = _read(spark, sf_dir, "events").withColumn(
        "big_val", F.when(F.col("value") > 100, F.col("value"))
    )
    return compile_aggs(ev, {"aggs": {"m": {"missing": {"field": "big_val"}}}})["m"]


def q_es_significant_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES significant_terms: event types over-represented among
    high-value events vs the whole stream, default JLH scoring
    (plans/aggs._significant_terms)."""
    from fluent_plugin_elasticsearch_spark.plans.aggs import compile_aggs

    ev = _read(spark, sf_dir, "events")
    out = compile_aggs(ev, {
        "query": {"range": {"value": {"gte": 120.0}}},
        "aggs": {"sig": {"significant_terms": {"field": "event_type", "size": 5}}},
    })
    return out["sig"]


def q_es_composite_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES composite agg PAGE 2: keyset `after` cursor over
    (event_type, day) bucket tuples — the scale-safe agg pagination
    (plans/aggs._composite). The page-2 framing exercises the strict
    lexicographic-after filter, not just the groupBy."""
    from fluent_plugin_elasticsearch_spark.plans.aggs import compile_aggs

    ev = _read(spark, sf_dir, "events")
    body = {"aggs": {"c": {"composite": {
        "size": 8,
        "sources": [
            {"etype": {"terms": {"field": "event_type"}}},
            {"day": {"date_histogram": {"field": "ts", "calendar_interval": "day"}}},
        ],
    }}}}
    page1 = compile_aggs(ev, body)["c"].collect()
    last = page1[-1]
    body["aggs"]["c"]["composite"]["after"] = {
        "etype": last["etype"], "day": last["day"].strftime("%Y-%m-%d %H:%M:%S")}
    page2 = compile_aggs(ev, {"aggs": {"c": {"composite": {
        **body["aggs"]["c"]["composite"]}}}})["c"]
    return page2


def q_tpch_q1_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.6 group-by agg coverage (TPC-H Q1 shape)."""
    li = _read(spark, sf_dir, "lineitem")
    # per-row quantization BEFORE the sum: identical float64 per row in both
    # engines → exact integer sums (summing doubles first would expose
    # engine-specific addition order at the floor boundary)
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.floor(F.col("l_quantity") * 1e2).cast("long")).alias("sum_qty_u"),
            F.sum(
                F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 1e2).cast("long")
            ).alias("revenue_u"),
            F.count("*").alias("count_order"),
        )
        # total row order pinned in BOTH engines: the driver's value hash is
        # sensitive to row order (and DuckDB sum() yields HUGEINT→float64 via
        # pandas, so oracle sums are CAST AS BIGINT to keep integer reprs)
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_join_topk_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.6 join coverage: broadcast dim join + top-k with tie-break."""
    orders = _read(spark, sf_dir, "orders")
    cust = _read(spark, sf_dir, "customer")
    rev = (
        orders.groupBy("o_custkey")
        .agg(F.sum(F.floor(F.col("o_totalprice") * 1e2).cast("long")).alias("rev_u"))
        .join(F.broadcast(cust.select("c_custkey", "c_name")), F.col("o_custkey") == F.col("c_custkey"))
        .select("c_custkey", "c_name", "rev_u")
    )
    return rev.orderBy(F.desc("rev_u"), F.asc("c_custkey")).limit(25)


def q_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.6 set ops: unionByName + distinct (retry-stream re-ingestion
    pattern — K9 retry rows unioned back into the next batch)."""
    ev = _read(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "error").select("user_id")
    b = ev.filter(F.col("value") > 150).select("user_id")
    return a.unionByName(b).distinct()


def q_rollup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.6 rollup/grouping-sets: event counts by (type, lang-of-day)
    hierarchy with subtotals."""
    ev = _read(spark, sf_dir, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    return (
        ev.rollup("event_type", "day")
        .agg(F.count("*").alias("n"))
        .select(
            F.coalesce(F.col("event_type"), F.lit("ALL")).alias("event_type"),
            F.coalesce(F.col("day"), F.lit("ALL")).alias("day"),
            "n",
        )
    )


def q_window_latest_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.6 window coverage: latest row per key (affinity pick pattern).

    Round-7 plan (guide §2.3 "aggregate before you shuffle"): the
    row_number window shuffled AND sorted every event row; max_by on the
    (ts, -event_id) ordering struct is the same (ts desc, event_id asc)
    pick but runs as a hash aggregate with map-side partial aggregation —
    only ~|users| x partitions partial rows cross the exchange. Result
    set identical (event_id unique => ordering key unique => both forms
    deterministic); the driver hash is row-order-insensitive."""
    ev = _read(spark, sf_dir, "events")
    pick = F.max_by(
        F.struct("event_id", "event_type"),
        F.struct(F.col("ts"), (-F.col("event_id")).alias("neg_id")),
    )
    return (
        ev.groupBy("user_id")
        .agg(pick.alias("__m"))
        .select("user_id", F.col("__m.event_id").alias("event_id"),
                F.col("__m.event_type").alias("event_type"))
    )


# --- registry ----------------------------------------------------------------

def _fmt_terms(terms: list[str]) -> str:
    return ", ".join(f"'{t}'" for t in sorted(set(terms)))


# Entries the driver's 50-entry sample had never covered through round 5
# (VERDICT r5 "next" #6): queries() yields these FIRST so any prefix-biased
# sample hits them before the long-green veterans.
_NEVER_DRIVER_SAMPLED_R5 = [
    "analyze_stop_stem", "match_bool_prefix", "explain_api", "mixture_sample",
    "quality_bins", "es_variable_width_histogram", "es_t_test", "es_boxplot",
    "es_string_stats", "es_geo_bounds", "es_rate", "semantic_clusters",
    "es_categorize_text", "es_sampler", "count_api", "mget", "rank_feature",
    "rank_feature_log", "function_decay", "random_score", "wrapper_query",
    "unigram_logprob", "es_mad", "es_top_metrics", "es_geo_centroid",
    "es_geotile_grid", "span_or", "span_not", "intervals_ordered",
    "intervals_unordered", "hybrid_knn_query", "es_nested_agg",
    "es_filters_agg", "es_range_agg", "es_date_range_agg",
    "es_extended_stats", "es_missing_agg", "es_significant_terms",
    "es_composite_agg",
]


_NEVER_DRIVER_SAMPLED_R6 = [
    "linear_retriever", "sparse_vector", "dsir_logratio", "dsir_resample",
    "mtermvectors", "es_sql_group", "es_sql_match", "semdedup",
    "completion_suggest", "esql_stats", "esql_pipe", "esql_dissect",
    "esql_enrich", "justext_blocks", "termvectors_positions",
    "url_normalize", "percolate_range", "es_random_sampler",
    "collapse_inner_hits", "dedup_doc_lines", "knn_similarity",
    "retriever_tree", "esql_lookup_join",
    "multi_match_phrase", "multi_match_phrase_prefix",
    "es_sibling_buckets", "es_stats_percentiles_bucket", "es_normalize",
    "es_geohash_grid", "es_diversified_sampler", "remove_boilerplate_lines",
    "es_matrix_stats", "es_moving_percentiles", "fuzzy_match",
    "span_near_index", "dedup_apply", "msearch", "rank_eval_ndcg",
    "es_frequent_item_sets", "es_geo_line", "ingest_pipeline",
    "simple_query_string", "es_cumulative_cardinality",
    "span_containing", "span_within_index", "es_reverse_nested",
    "span_multi", "exact_substring_dedup", "percolate_query",
    "rrf_retriever", "geo_shape", "es_terms_partition",
    "feature_hash_embed", "post_filter", "embedding_pca_moments",
    "reindex", "es_bucket_correlation", "es_downsample",
    "bpe_pair_stats", "es_ip_prefix", "es_change_point", "knn_sorted",
    "bigram_logprob", "es_ks_test", "epoch_shuffle", "terms_enum",
    "analyze_synonym_shingle", "span_near_multi", "span_near_unordered",
    "intervals_any_of", "intervals_all_of",
]


# Round-7 rotation fix (VERDICT r6 #1): CORRECTNESS_r06 sampled exactly the
# first 50 names of the R6 head, which shadowed the R5 blind-spot list AGAIN.
# The head is now exactly the 60 entries no driver round has ever sampled —
# r5 leftovers first, then the 21 r6 leftovers (R6[50:]) — so a 50-entry
# prefix sample finally covers them; long-green veterans drop out of the head.
_SAMPLED_IN_R6 = 50  # |CORRECTNESS_r06| — first 50 of the R6 list


def _sample_priority_order(q: dict) -> dict:
    never = _NEVER_DRIVER_SAMPLED_R5 + _NEVER_DRIVER_SAMPLED_R6[_SAMPLED_IN_R6:]
    head = {k: q[k] for k in never if k in q}
    return head | {k: v for k, v in q.items() if k not in head}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _sample_priority_order({
        "bm25_topk": q_bm25_topk,
        "bm25_topk_mixed": q_bm25_topk_mixed,
        "multi_match": q_multi_match,
        "multi_match_most_fields": q_multi_match_most_fields,
        "multi_match_phrase": q_multi_match_phrase,
        "multi_match_phrase_prefix": q_multi_match_phrase_prefix,
        "fuzzy_match": q_fuzzy_match,
        "query_string": q_query_string,
        "match_phrase": q_match_phrase,
        "ids_query": q_ids_query,
        "scan_page": q_scan_page,
        "fuzzy_query": q_fuzzy_query,
        "dis_max": q_dis_max,
        "boosting_query": q_boosting_query,
        "function_score": q_function_score,
        "collapse": q_collapse,
        "match_phrase_prefix": q_match_phrase_prefix,
        "more_like_this": q_more_like_this,
        "regexp_query": q_regexp_query,
        "terms_set_query": q_terms_set_query,
        "search_after": q_search_after,
        "from_offset_page": q_from_offset_page,
        "nested_query": q_nested_query,
        "geo_distance": q_geo_distance,
        "geo_bounding_box": q_geo_bounding_box,
        "span_first": q_span_first,
        "es_top_hits_body": q_es_top_hits_body,
        "range_date_math": q_range_date_math,
        "es_geo_distance_agg": q_es_geo_distance_agg,
        "scrub_pii": q_scrub_pii,
        "repetition_scores": q_repetition_scores,
        "sessionize": q_sessionize,
        "eql_sequence": q_eql_sequence,
        "contamination_check": q_contamination_check,
        "runtime_mappings": q_runtime_mappings,
        "search_template": q_search_template,
        "phrase_suggest": q_phrase_suggest,
        "combined_fields": q_combined_fields,
        "stemmed_token_counts": q_stemmed_token_counts,
        "ingest_pipeline": q_ingest_pipeline,
        "simple_query_string": q_simple_query_string,
        "span_containing": q_span_containing,
        "span_within_index": q_span_within_index,
        "span_multi": q_span_multi,
        "percolate_query": q_percolate_query,
        "rrf_retriever": q_rrf_retriever,
        "linear_retriever": q_linear_retriever,
        "sparse_vector": q_sparse_vector,
        "geo_shape": q_geo_shape,
        "post_filter": q_post_filter,
        "remove_boilerplate_lines": q_remove_boilerplate_lines,
        "exact_substring_dedup": q_exact_substring_dedup,
        "feature_hash_embed": q_feature_hash_embed,
        "embedding_pca_moments": q_embedding_pca_moments,
        "reindex": q_reindex,
        "es_terms_options": q_es_terms_options,
        "script_score": q_script_score,
        "distance_feature": q_distance_feature,
        "es_auto_date_histogram": q_es_auto_date_histogram,
        "es_ip_range": q_es_ip_range,
        "es_date_histogram_gaps": q_es_date_histogram_gaps,
        "es_cumulative_cardinality": q_es_cumulative_cardinality,
        "es_bucket_correlation": q_es_bucket_correlation,
        "es_downsample": q_es_downsample,
        "bpe_pair_stats": q_bpe_pair_stats,
        "es_ip_prefix": q_es_ip_prefix,
        "es_change_point": q_es_change_point,
        "es_ks_test": q_es_ks_test,
        "epoch_shuffle": q_epoch_shuffle,
        "semdedup": q_semdedup,
        "es_sql_group": q_es_sql_group,
        "es_sql_match": q_es_sql_match,
        "esql_stats": q_esql_stats,
        "esql_pipe": q_esql_pipe,
        "esql_dissect": q_esql_dissect,
        "esql_enrich": q_esql_enrich,
        "justext_blocks": q_justext_blocks,
        "url_normalize": q_url_normalize,
        "percolate_range": q_percolate_range,
        "es_random_sampler": q_es_random_sampler,
        "collapse_inner_hits": q_collapse_inner_hits,
        "dedup_doc_lines": q_dedup_doc_lines,
        "knn_similarity": q_knn_similarity,
        "retriever_tree": q_retriever_tree,
        "esql_lookup_join": q_esql_lookup_join,
        "dsir_logratio": q_dsir_logratio,
        "dsir_resample": q_dsir_resample,
        "terms_enum": q_terms_enum,
        "es_reverse_nested": q_es_reverse_nested,
        "es_terms_partition": q_es_terms_partition,
        "es_sibling_buckets": q_es_sibling_buckets,
        "es_matrix_stats": q_es_matrix_stats,
        "es_frequent_item_sets": q_es_frequent_item_sets,
        "es_geo_line": q_es_geo_line,
        "es_moving_percentiles": q_es_moving_percentiles,
        "es_stats_percentiles_bucket": q_es_stats_percentiles_bucket,
        "es_normalize": q_es_normalize,
        "cow_upsert": q_cow_upsert,
        "es_multi_terms": q_es_multi_terms,
        "es_rare_terms": q_es_rare_terms,
        "es_global_filter_agg": q_es_global_and_filter_agg,
        "rescore": q_rescore,
        "es_weighted_avg": q_es_weighted_avg,
        "es_percentile_ranks": q_es_percentile_ranks,
        "analyze_edge_ngram": q_analyze_edge_ngram,
        "analyze_stop_stem": q_analyze_stop_stem,
        "analyze_synonym_shingle": q_analyze_synonym_shingle,
        "match_bool_prefix": q_match_bool_prefix,
        "explain_api": q_explain_api,
        "mixture_sample": q_mixture_sample,
        "quality_bins": q_quality_bins,
        "es_variable_width_histogram": q_es_variable_width_histogram,
        "es_t_test": q_es_t_test,
        "es_boxplot": q_es_boxplot,
        "es_string_stats": q_es_string_stats,
        "es_geo_bounds": q_es_geo_bounds,
        "es_rate": q_es_rate,
        "semantic_clusters": q_semantic_clusters,
        "es_categorize_text": q_es_categorize_text,
        "es_sampler": q_es_sampler,
        "count_api": q_count_api,
        "mget": q_mget,
        "rank_feature": q_rank_feature,
        "rank_feature_log": q_rank_feature_log,
        "function_decay": q_function_decay,
        "random_score": q_random_score,
        "wrapper_query": q_wrapper_query,
        "unigram_logprob": q_unigram_logprob,
        "bigram_logprob": q_bigram_logprob,
        "es_mad": q_es_mad,
        "es_top_metrics": q_es_top_metrics,
        "es_geo_centroid": q_es_geo_centroid,
        "es_geotile_grid": q_es_geotile_grid,
        "es_geohash_grid": q_es_geohash_grid,
        "es_diversified_sampler": q_es_diversified_sampler,
        "es_adjacency_matrix": q_es_adjacency_matrix,
        "embedding_neardup": q_embedding_neardup,
        "percolate": q_percolate,
        "es_significant_text": q_es_significant_text,
        "pinned_query": q_pinned_query,
        "constant_score": q_constant_score,
        "has_child": q_has_child,
        "has_parent": q_has_parent,
        "children_agg": q_children_agg,
        "span_near": q_span_near,
        "span_near_index": q_span_near_index,
        "dedup_apply": q_dedup_apply,
        "msearch": q_msearch,
        "rank_eval_ndcg": q_rank_eval_ndcg,
        "span_or": q_span_or,
        "span_not": q_span_not,
        "intervals_ordered": q_intervals_ordered,
        "intervals_unordered": q_intervals_unordered,
        "span_near_multi": q_span_near_multi,
        "span_near_unordered": q_span_near_unordered,
        "intervals_any_of": q_intervals_any_of,
        "intervals_all_of": q_intervals_all_of,
        "hybrid_knn_query": q_hybrid_knn_query,
        "es_pipeline_aggs": q_es_pipeline_aggs,
        "terms_lookup": q_terms_lookup,
        "pq_ann_topk": q_pq_ann_topk,
        "termvectors": q_termvectors,
        "mtermvectors": q_mtermvectors,
        "termvectors_positions": q_termvectors_positions,
        "completion_suggest": q_completion_suggest,
        "explain_score": q_explain_score,
        "sorted_scan_desc": q_sorted_scan_desc,
        "genid_md5": q_genid_md5,
        "genid_sha256": q_genid_sha256,
        "target_index": q_target_index,
        "placeholder_expansion": q_placeholder_expansion,
        "affinity_routing": q_affinity_routing,
        "error_triage": q_error_triage,
        "upsert_merge": q_upsert_merge,
        "create_insert_only": q_create_insert_only,
        "delete_by_query": q_delete_by_query,
        "update_by_query": q_update_by_query,
        "exact_dedup": q_exact_dedup,
        "token_counts": q_token_counts,
        "highlight": q_highlight,
        "fingerprints": q_fingerprints,
        "lang_id": q_lang_id,
        "quality_score": q_quality_score,
        "ann_cosine_topk": q_ann_cosine_topk,
        "ivf_ann_topk": q_ivf_ann_topk,
        "knn_query": q_knn_query,
        "knn_sorted": q_knn_sorted,
        "bm25_wand_index": q_bm25_wand_index,
        "suggest": q_suggest,
        "ngram_overlap_top20": q_ngram_overlap_top20,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "simhash_signatures": q_simhash_signatures,
        "dedup_clusters": q_dedup_clusters,
        "pack_documents": q_pack_documents,
        "chunk_documents": q_chunk_documents,
        "stratified_sample": q_stratified_sample,
        "query_ast_bool": q_query_ast_bool,
        "query_ast_terms_prefix": q_query_ast_terms_prefix,
        "es_terms_agg": q_es_terms_agg,
        "es_date_histogram": q_es_date_histogram,
        "es_nested_agg": q_es_nested_agg,
        "es_filters_agg": q_es_filters_agg,
        "es_range_agg": q_es_range_agg,
        "es_date_range_agg": q_es_date_range_agg,
        "es_extended_stats": q_es_extended_stats,
        "es_missing_agg": q_es_missing_agg,
        "es_significant_terms": q_es_significant_terms,
        "es_composite_agg": q_es_composite_agg,
        "es_percentiles": q_es_percentiles,
        "es_top_hits": q_es_top_hits,
        "es_cardinality": q_es_cardinality,
        "tpch_q1_agg": q_tpch_q1_agg,
        "join_topk_customers": q_join_topk_customers,
        "window_latest_event": q_window_latest_event,
        "union_distinct": q_union_distinct,
        "rollup_counts": q_rollup_counts,
    })


_TOKS = "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')"


def _vwh_sql_entry() -> str:
    from fluent_plugin_elasticsearch_spark.plans.aggs import (
        variable_width_histogram_sql)

    return variable_width_histogram_sql("events", "value", buckets=6)


def _analyze_sql_entry(analyzer: str, **kw) -> str:
    from fluent_plugin_elasticsearch_spark.operators.analyze import analyze_sql

    toks = analyze_sql("text", analyzer, **kw)
    return (f"SELECT doc_id, array_to_string({toks}, ' ') AS tokens,"
            f" len({toks}) AS n_tokens FROM documents")


def _mixture_sql_entry() -> str:
    from fluent_plugin_elasticsearch_spark.operators.packing import mixture_sql

    return mixture_sql("documents", {"src1": 120000.0, "src2": 20000.0})


def _quality_bins_sql_entry() -> str:
    from fluent_plugin_elasticsearch_spark.operators.packing import quality_bins_sql

    return quality_bins_sql("documents", "n_chars", n_bins=5)


def oracle_sql() -> dict[str, str]:
    from fluent_plugin_elasticsearch_spark.plans.aggs import geohash_grid_sql
    from fluent_plugin_elasticsearch_spark.operators.bm25 import (
        bm25_topk_sql,
        explain_sql,
        match_bool_prefix_sql,
        match_phrase_sql,
        multi_match_sql,
        query_string_sql,
    )

    ids_list = ", ".join(str(i) for i in IDS_SET)
    return {
        "bm25_topk": bm25_topk_sql("documents", FLAGSHIP_TERMS, k=10),
        "bm25_topk_mixed": bm25_topk_sql("documents", BM25_TERMS_2, k=10),
        "match_phrase": match_phrase_sql("documents", PHRASE, k=10),
        "multi_match": multi_match_sql(
            "documents", ["fast", "table", "src1"], ["text", "source"],
            k=10, match_type="best_fields"),
        "multi_match_most_fields": multi_match_sql(
            "documents", ["fast", "table", "src1"], ["text", "source"],
            k=10, match_type="most_fields"),
        "query_string": query_string_sql("documents", "fast AND table OR window", k=10),
        "ids_query": f"SELECT doc_id, lang, n_chars FROM documents WHERE doc_id IN ({ids_list})",
        "scan_page": "SELECT doc_id, lang, n_chars FROM documents WHERE doc_id > 100 ORDER BY doc_id LIMIT 50",
        "fuzzy_query": "SELECT doc_id, source FROM documents WHERE levenshtein(source, 'src1') <= 1 ORDER BY doc_id ASC",
        "dis_max": _rel.dis_max_sql(
            "documents", [("text", ["spark", "query"]), ("text", ["fast", "merge"])],
            tie_breaker=0.3, k=20),
        "boosting_query": _rel.boosting_sql(
            "documents", ["spark", "merge"], "lang = 'zh'", negative_boost=0.5, k=20),
        "function_score": _rel.function_score_sql(
            "documents", ["spark", "window"], "n_chars", factor=0.01,
            modifier="log1p", k=20),
        "collapse": _rel.collapse_sql("documents", ["spark", "merge"], "lang", k=10),
        "collapse_inner_hits": _rel.collapse_inner_hits_sql(
            "documents", ["spark", "merge"], "lang", inner_size=3, k=4),
        "match_phrase_prefix": _rel.match_phrase_prefix_sql(
            "documents", ["merge", "par"], k=20),
        "fuzzy_match": _rel.fuzzy_match_sql(
            "documents", ["mergee", "window"], fuzziness=1, k=15),
        "multi_match_phrase": _rel.multi_match_phrase_sql(
            "documents", PHRASE, ["text", "source"], k=10),
        "multi_match_phrase_prefix": _rel.multi_match_phrase_sql(
            "documents", ["merge", "par"], ["text", "source"], k=10,
            prefix=True),
        "more_like_this": _rel.more_like_this_sql(
            "documents", like_id=0, max_query_terms=8, k=20),
        "rescore": _rel.rescore_sql(
            "documents", ["merge", "table"], ["merge", "part"],
            window_size=100, query_weight=1.0, rescore_query_weight=2.0, k=20),
        "es_weighted_avg": """
SELECT CAST(floor(sum(CAST(floor(value * 1e2) AS BIGINT) * user_id) * 1.0
            / sum(user_id) * 1e2) AS BIGINT) AS wavg_u
FROM events
""",
        "analyze_edge_ngram": _analyze_sql_entry("edge_ngram", min_gram=2, max_gram=4),
        "analyze_stop_stem": _analyze_sql_entry(
            "standard", stopwords=["the", "a", "of", "and"], stem=True),
        "analyze_synonym_shingle": _analyze_sql_entry(
            "standard", synonyms={"fast": "quick", "src1": "source"},
            shingles=2),
        "match_bool_prefix": match_bool_prefix_sql("documents", ["merge", "ta"], k=15),
        "explain_api": explain_sql("documents", ["merge", "table", "window"], doc_id=42),
        "mixture_sample": _mixture_sql_entry(),
        "quality_bins": _quality_bins_sql_entry(),
        "es_variable_width_histogram": _vwh_sql_entry(),
        "es_t_test": """
WITH q AS (SELECT event_type, CAST(floor(value * 1e2) AS BIGINT) AS x FROM events),
m AS (
  SELECT count(CASE WHEN event_type = 'click' THEN x END) AS n1,
         CAST(sum(CASE WHEN event_type = 'click' THEN x END) AS BIGINT) AS s1,
         CAST(sum(CASE WHEN event_type = 'click' THEN x * x END) AS BIGINT) AS q1,
         count(CASE WHEN event_type = 'view' THEN x END) AS n2,
         CAST(sum(CASE WHEN event_type = 'view' THEN x END) AS BIGINT) AS s2,
         CAST(sum(CASE WHEN event_type = 'view' THEN x * x END) AS BIGINT) AS q2
  FROM q
)
SELECT n1, n2,
  CAST(floor((s1 / n1 - s2 / n2)
       / sqrt(((q1 - s1 * s1 / n1) / (n1 - 1)) / n1
            + ((q2 - s2 * s2 / n2) / (n2 - 1)) / n2) * 1e6) AS BIGINT) AS tt_t_u
FROM m
""",
        "es_boxplot": """
SELECT min(value) AS b_min, max(value) AS b_max,
       CAST(floor(quantile_cont(value, 0.25) * 1e6) AS BIGINT) AS b_q1_u,
       CAST(floor(quantile_cont(value, 0.50) * 1e6) AS BIGINT) AS b_q2_u,
       CAST(floor(quantile_cont(value, 0.75) * 1e6) AS BIGINT) AS b_q3_u
FROM events
""",
        "es_string_stats": """
WITH chars AS (SELECT unnest(string_split_regex(text, '')) AS ch FROM documents),
cc AS (SELECT ch, count(*) AS c FROM chars WHERE ch <> '' GROUP BY ch),
ent AS (
  SELECT CAST(floor((ln(CAST(sum(c) AS DOUBLE))
         - CAST(sum(CAST(floor(c * ln(CAST(c AS DOUBLE)) * 1e6) AS BIGINT)) AS DOUBLE)
           / 1e6 / sum(c)) * 1e6) AS BIGINT) AS ss_entropy_u
  FROM cc
)
SELECT count(text) AS ss_count, min(length(text)) AS ss_min_length,
       max(length(text)) AS ss_max_length,
       CAST(floor(avg(length(text)) * 1e2) AS BIGINT) AS ss_avg_length_u,
       (SELECT ss_entropy_u FROM ent) AS ss_entropy_u
FROM documents
""",
        "es_geo_bounds": """
SELECT max((c_custkey * 7 % 140) - 70 + 0.25) AS gb_top,
       min((c_custkey * 7 % 140) - 70 + 0.25) AS gb_bottom,
       min((c_custkey * 13 % 360) - 180 + 0.25) AS gb_left,
       max((c_custkey * 13 % 360) - 180 + 0.25) AS gb_right
FROM customer
""",
        "es_rate": """
SELECT CAST(floor(count(*) / 7.0 * 1e2) AS BIGINT) AS r_u FROM events
""",
        "semantic_clusters": _sim.kmeans_sql(
            "embeddings", k=4, iters=2, init_ids=[0, 1, 2, 3]),
        "semdedup": _sim.semdedup_sql(
            "embeddings", k=4, iters=2, threshold=0.40,
            init_ids=[0, 1, 2, 3]),
        "es_categorize_text": f"""
WITH keyed AS (
  SELECT array_to_string(
    list_transform({_TOKS}, t -> CASE WHEN regexp_matches(t, '^[0-9]+$') THEN '*' ELSE t END)[1:3],
    ' ') AS key
  FROM documents
)
SELECT key, count(*) AS doc_count FROM keyed GROUP BY key
ORDER BY doc_count DESC, key ASC LIMIT 15
""",
        "es_sampler": """
WITH sample AS (
  SELECT CAST(floor(value * 1e2) AS BIGINT) AS value_u FROM events
  ORDER BY md5(CAST(event_id AS VARCHAR)) ASC LIMIT 200
)
SELECT count(*) AS doc_count, CAST(sum(value_u) AS BIGINT) AS v_sum,
       max(value_u) AS v_max
FROM sample
""",
        "es_random_sampler": f"""
WITH sample AS (
  SELECT CAST(floor(value * 1e2) AS BIGINT) AS value_u FROM events
  WHERE CAST('0x' || substring(md5('7|' || CAST(event_id AS VARCHAR)),
             1, 15) AS UBIGINT) < {int(0.35 * float(1 << 60))}
)
SELECT CAST(floor(count(*) / 0.35) AS BIGINT) AS doc_count,
       min(value_u) AS v_min, max(value_u) AS v_max
FROM sample
""",
        "count_api": """
SELECT count(*) AS count FROM documents WHERE lang = 'en' AND n_chars >= 500
""",
        "mget": """
SELECT d.doc_id, d.lang, d.n_chars
FROM (VALUES (0, 42), (1, 7), (2, 499), (3, 123456), (4, 0)) AS r(pos, id)
JOIN documents d ON d.doc_id = r.id
ORDER BY r.pos
""",
        "rank_feature": _rel.rank_feature_sql(
            "documents", "n_chars", k=20, function="saturation",
            pivot=500.0, boost=2.0),
        "rank_feature_log": _rel.rank_feature_sql(
            "documents", "n_chars", k=20, function="log", scaling_factor=0.01),
        "function_decay": _rel.decay_score_sql(
            "documents", ["merge", "table"], "n_chars",
            origin=600.0, scale=300.0, decay=0.5, shape="gauss", k=20),
        "random_score": _rel.random_score_sql("documents", seed=7, k=25),
        "wrapper_query": """
SELECT doc_id, lang, n_chars FROM documents
WHERE lang = 'en' AND n_chars >= 300 ORDER BY doc_id ASC
""",
        "unigram_logprob": _tq.unigram_logprob_sql("documents", _TOKS),
        "bigram_logprob": _tq.bigram_logprob_sql("documents", _TOKS),
        "es_percentile_ranks": """
SELECT CAST(floor(avg(CASE WHEN value <= 10.0 THEN 1.0 ELSE 0.0 END) * 1e6) AS BIGINT) AS pr_rank_10_u,
       CAST(floor(avg(CASE WHEN value <= 50.0 THEN 1.0 ELSE 0.0 END) * 1e6) AS BIGINT) AS pr_rank_50_u,
       CAST(floor(avg(CASE WHEN value <= 90.0 THEN 1.0 ELSE 0.0 END) * 1e6) AS BIGINT) AS pr_rank_90_u
FROM events
""",
        "es_mad": """
WITH m AS (SELECT quantile_cont(value, 0.5) AS med FROM events)
SELECT CAST(floor(quantile_cont(abs(value - m.med), 0.5) * 1e6) AS BIGINT) AS mad_u
FROM events CROSS JOIN m
""",
        "es_top_metrics": """
SELECT CAST(floor(value * 1e2) AS BIGINT) AS sort_value, event_id FROM events
ORDER BY sort_value DESC, event_id ASC LIMIT 3
""",
        "es_geo_centroid": """
SELECT avg((c_custkey * 7 % 140) - 70 + 0.25) AS gc_lat,
       avg((c_custkey * 13 % 360) - 180 + 0.25) AS gc_lon
FROM customer
""",
        "es_geohash_grid": geohash_grid_sql(
            "SELECT ((c_custkey * 7 % 140) - 70 + 0.25)::DOUBLE AS lat, "
            "((c_custkey * 13 % 360) - 180 + 0.25)::DOUBLE AS lon "
            "FROM customer",
            "lat", "lon", precision=3, size=20),
        "es_diversified_sampler": """
WITH s AS (
  SELECT value, md5(CAST(event_id AS VARCHAR)) AS smp,
         row_number() OVER (
           PARTITION BY event_type
           ORDER BY md5(CAST(event_id AS VARCHAR))) AS rk
  FROM events
),
keep AS (SELECT value FROM s WHERE rk <= 30 ORDER BY smp LIMIT 120)
SELECT count(*) AS doc_count,
       CAST(sum(CAST(floor(value * 1e2) AS BIGINT)) AS BIGINT) AS v_sum,
       max(CAST(floor(value * 1e2) AS BIGINT)) AS v_max
FROM keep
""",
        "es_geotile_grid": """
WITH pts AS (
  SELECT ((c_custkey * 7 % 140) - 70 + 0.25)::DOUBLE AS lat,
         ((c_custkey * 13 % 360) - 180 + 0.25)::DOUBLE AS lon FROM customer
), keyed AS (
  SELECT '4/' ||
    CAST(least(greatest(CAST(floor((lon + 180.0) / 360.0 * 16) AS BIGINT), 0), 15) AS VARCHAR)
    || '/' ||
    CAST(least(greatest(CAST(floor((1.0 - ln(tan(radians(lat)) + 1.0 / cos(radians(lat))) / pi())
                             / 2.0 * 16) AS BIGINT), 0), 15) AS VARCHAR) AS key
  FROM pts
)
SELECT key, doc_count FROM (
  SELECT key, count(*) AS doc_count FROM keyed GROUP BY key
) ORDER BY doc_count DESC, key ASC LIMIT 20
""",
        "es_adjacency_matrix": """
SELECT 'clicks' AS key, count(*) AS doc_count FROM events WHERE event_type = 'click'
UNION ALL SELECT 'early', count(*) FROM events WHERE ts < TIMESTAMP '2024-01-08 00:00:00'
UNION ALL SELECT 'hot', count(*) FROM events WHERE value >= 120.0
UNION ALL SELECT 'clicks&early', count(*) FROM events
  WHERE event_type = 'click' AND ts < TIMESTAMP '2024-01-08 00:00:00'
UNION ALL SELECT 'clicks&hot', count(*) FROM events
  WHERE event_type = 'click' AND value >= 120.0
UNION ALL SELECT 'early&hot', count(*) FROM events
  WHERE ts < TIMESTAMP '2024-01-08 00:00:00' AND value >= 120.0
ORDER BY key ASC
""",
        "embedding_neardup": """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       CAST(floor(
         list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
           / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
              * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) * 1e6
       ) AS BIGINT) AS cosine_u
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
        / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
           * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) >= 0.40
ORDER BY id_a, id_b
""",
        "percolate": _perc.percolate_sql("documents", _PERC_QUERIES),
        "pinned_query": (
            "SELECT doc_id, rank, CAST(coalesce(score_u, -1) AS BIGINT) AS score_u FROM ("
            + _rel.pinned_sql("documents", [42, 7], ["spark", "merge"], k=10)
            + ") ORDER BY rank"),
        "constant_score": """
SELECT doc_id, lang, CAST(2500000 AS BIGINT) AS score_u
FROM documents WHERE lang = 'en' ORDER BY doc_id ASC LIMIT 200
""",
        "span_near": _rel.span_near_sql("documents", "merge", "window", slop=2, k=20),
        "span_near_index": _rel.span_near_sql("documents", "merge", "window",
                                              slop=2, k=20),
        "span_or": _rel.span_or_sql("documents", ["merge", "window"], k=20),
        "span_not": _rel.span_not_sql("documents", "merge", "window", pre=2, post=2, k=20),
        "intervals_ordered": _rel.intervals_match_sql(
            "documents", ["merge", "group", "filter"], max_gaps=10, ordered=True, k=20),
        "intervals_unordered": _rel.intervals_match_sql(
            "documents", ["hash", "table"], max_gaps=2, ordered=False, k=20),
        "span_near_multi": _rel.intervals_match_sql(
            "documents", ["merge", "group", "filter"], max_gaps=10,
            ordered=True, k=20),
        "span_near_unordered": _rel.intervals_match_sql(
            "documents", ["hash", "table"], max_gaps=2, ordered=False, k=20),
        "intervals_any_of": _rel.span_or_sql(
            "documents", ["merge", "window"], k=20),
        "intervals_all_of": _rel.intervals_match_sql(
            "documents", ["merge", "group", "filter"], max_gaps=10,
            ordered=True, k=20),
        "hybrid_knn_query": f"""
WITH q AS ({multi_match_sql("documents", ["fast", "table", "src1"],
                            ["text", "source"], k=10, match_type="best_fields")}),
qv AS (SELECT [{", ".join(["1.0"] * 64)}]::DOUBLE[] AS v),
cos AS (
  SELECT vec_id AS doc_id,
         list_dot_product(embedding::DOUBLE[], qv.v)
           / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
              * sqrt(list_dot_product(qv.v, qv.v))) AS cosine
  FROM embeddings CROSS JOIN qv
  ORDER BY cosine DESC, doc_id ASC LIMIT 10
),
knn AS (
  SELECT doc_id, CAST(floor(cosine * 1e6 * 0.5) AS BIGINT) AS knn_u FROM cos
)
SELECT coalesce(q.doc_id, knn.doc_id) AS doc_id,
       CAST(coalesce(q.score_u, 0) + coalesce(knn.knn_u, 0) AS BIGINT) AS score_u
FROM q FULL OUTER JOIN knn ON q.doc_id = knn.doc_id
ORDER BY score_u DESC, doc_id ASC LIMIT 10
""",
        "es_pipeline_aggs": """
WITH b AS (
  SELECT date_trunc('day', ts) AS key, count(*) AS doc_count,
         CAST(sum(CAST(floor(value * 1e2) AS BIGINT)) AS BIGINT) AS v_sum
  FROM events GROUP BY 1
)
SELECT key, doc_count, v_sum,
       CAST(coalesce(v_sum - lag(v_sum, 1) OVER (ORDER BY key), -4611686018427387904) AS BIGINT) AS diff_c,
       CAST(sum(v_sum) OVER (ORDER BY key ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
       CAST(floor(avg(v_sum) OVER (ORDER BY key ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) * 1e2) AS BIGINT) AS ma2_u,
       CAST(floor(v_sum * 1.0 / doc_count * 1e2) AS BIGINT) AS per_doc_u
FROM b ORDER BY key
""",
        "termvectors": f"""
WITH base AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
doc_tf AS (SELECT term, count(*) AS term_freq FROM base WHERE doc_id = 7 GROUP BY 1),
corpus AS (SELECT term, count(DISTINCT doc_id) AS doc_freq, count(*) AS ttf
           FROM base GROUP BY 1)
SELECT term, term_freq, doc_freq, ttf
FROM doc_tf JOIN corpus USING (term) ORDER BY term
""",
        "completion_suggest": """
WITH sugg AS (
  SELECT regexp_split_to_array(lower(text), '[^a-z0-9]+')[1] AS input,
         CAST(n_chars AS BIGINT) AS weight, doc_id
  FROM documents
),
best AS (
  SELECT input, weight, doc_id,
         row_number() OVER (PARTITION BY input
                            ORDER BY weight DESC, doc_id ASC) AS rn
  FROM sugg WHERE starts_with(input, 's')
)
SELECT input, weight, doc_id FROM best WHERE rn = 1
ORDER BY weight DESC, input ASC, doc_id ASC LIMIT 10
""",
        "termvectors_positions": f"""
WITH tk AS (SELECT doc_id, {_TOKS} AS tokens FROM documents),
base AS (SELECT doc_id, unnest(tokens) AS term FROM tk),
p AS (SELECT tokens[i] AS term, i
      FROM (SELECT tokens, unnest(generate_series(1, len(tokens))) AS i
            FROM tk WHERE doc_id = 7)),
pos AS (SELECT term, count(*) AS term_freq,
               array_to_string(list(i ORDER BY i), ',') AS positions
        FROM p GROUP BY term),
corpus AS (SELECT term, count(DISTINCT doc_id) AS doc_freq,
                  count(*) AS ttf FROM base GROUP BY term)
SELECT term, term_freq, doc_freq, ttf, positions
FROM pos JOIN corpus USING (term) ORDER BY term
""",
        "mtermvectors": f"""
WITH base AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
doc_tf AS (SELECT doc_id, term, count(*) AS term_freq FROM base
           WHERE doc_id IN (3, 7, 11) GROUP BY 1, 2),
corpus AS (SELECT term, count(DISTINCT doc_id) AS doc_freq, count(*) AS ttf
           FROM base GROUP BY 1)
SELECT doc_id, term, term_freq, doc_freq, ttf
FROM doc_tf JOIN corpus USING (term) ORDER BY doc_id, term
""",
        "explain_score": f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS tokens FROM documents),
stats AS (SELECT count(*) AS n, avg(len(tokens)) AS avgdl FROM toks),
base AS (SELECT doc_id, len(tokens) AS dl, unnest(tokens) AS term FROM toks),
tfq AS (
  SELECT doc_id, dl, term, count(*) AS tf FROM base
  WHERE term IN ('merge', 'spark', 'the') GROUP BY doc_id, dl, term
),
dfq AS (SELECT term, count(*) AS df FROM tfq GROUP BY term)
SELECT t.term, t.tf, d.df,
       CAST(floor(ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5)) * 1e6) AS BIGINT) AS idf_u,
       CAST(floor(ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5)) * 2.2 * t.tf
            / (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * t.dl / s.avgdl)) * 1e6) AS BIGINT) AS contrib_u
FROM tfq t JOIN dfq d USING (term) CROSS JOIN stats s
WHERE t.doc_id = 7 ORDER BY term
""",
        "terms_lookup": """
SELECT event_id, user_id FROM events
WHERE user_id IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9000.0)
ORDER BY event_id
""",
        "has_child": """
SELECT o_orderkey, o_orderstatus FROM orders
WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R'
  GROUP BY l_orderkey HAVING count(*) >= 3)
ORDER BY o_orderkey
""",
        "has_parent": """
SELECT l.l_orderkey AS o_orderkey, l.l_linenumber,
       CAST(floor(l.l_quantity * 1e2) AS BIGINT) AS qty_u
FROM lineitem l
WHERE l.l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
ORDER BY o_orderkey, l_linenumber
""",
        "children_agg": """
SELECT l_orderkey AS o_orderkey,
       CAST(sum(CAST(floor(l_quantity * 1e2) AS BIGINT)) AS BIGINT) AS qty_sum_u,
       count(*) AS n_lines
FROM lineitem
WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
GROUP BY 1 ORDER BY o_orderkey
""",
        "es_significant_text": f"""
WITH fg_docs AS (SELECT doc_id, text FROM documents WHERE text LIKE '%spark%'),
fg AS (
  SELECT term AS key, count(*) AS doc_count FROM (
    SELECT doc_id, unnest(list_distinct({_TOKS})) AS term FROM fg_docs
  ) GROUP BY 1 HAVING count(*) >= 3
),
bg AS (
  SELECT term AS key, count(*) AS bg_count FROM (
    SELECT doc_id, unnest(list_distinct({_TOKS})) AS term FROM documents
  ) GROUP BY 1
),
t AS (SELECT (SELECT count(*) FROM fg_docs) AS fg_total,
             (SELECT count(*) FROM documents) AS bg_total)
SELECT key, doc_count, bg_count,
       CAST(floor((doc_count * 1.0 / fg_total - bg_count * 1.0 / bg_total)
            * ((doc_count * 1.0 / fg_total) / (bg_count * 1.0 / bg_total)) * 1e6) AS BIGINT) AS score_u
FROM fg JOIN bg USING (key) CROSS JOIN t
WHERE doc_count * 1.0 / fg_total > bg_count * 1.0 / bg_total
ORDER BY score_u DESC, key ASC LIMIT 10
""",
        "regexp_query": """
SELECT event_id, event_type FROM events
WHERE regexp_full_match(event_type, 'p.*e|sig.*')
ORDER BY event_id ASC LIMIT 500
""",
        "terms_set_query": f"""
SELECT doc_id FROM (
  SELECT doc_id, {_TOKS} AS tokens FROM documents
) WHERE len(list_intersect(tokens, ['spark', 'merge', 'window'])) >= 3
ORDER BY doc_id
""",
        "search_after": """
WITH o AS (
  SELECT event_id, event_type, CAST(floor(value * 1e2) AS BIGINT) AS value_u,
         row_number() OVER (ORDER BY value DESC, event_id ASC) AS rn
  FROM events
)
SELECT event_id, event_type, value_u FROM o
WHERE rn > 50 ORDER BY rn LIMIT 50
""",
        "sorted_scan_desc": "SELECT doc_id, n_chars FROM documents ORDER BY n_chars DESC, doc_id ASC LIMIT 20",
        "from_offset_page": (
            "SELECT doc_id, lang, n_chars FROM documents WHERE lang = 'en' "
            "ORDER BY doc_id DESC LIMIT 20 OFFSET 40"
        ),
        "nested_query": (
            "SELECT DISTINCT user_id AS doc_id FROM events "
            "WHERE event_type = 'purchase' AND value >= 90"
        ),
        "range_date_math": (lambda: (
            "SELECT event_id, event_type FROM events WHERE ts >= TIMESTAMP '"
            + __import__("fluent_plugin_elasticsearch_spark.plans.query_ast",
                         fromlist=["resolve_date_math"]).resolve_date_math(
                "now-30d/d", __import__("datetime").datetime.fromisoformat(
                    _DATE_MATH_NOW)).isoformat(sep=" ")
            + "' AND ts < TIMESTAMP '"
            + __import__("fluent_plugin_elasticsearch_spark.plans.query_ast",
                         fromlist=["resolve_date_math"]).resolve_date_math(
                "now/d", __import__("datetime").datetime.fromisoformat(
                    _DATE_MATH_NOW)).isoformat(sep=" ")
            + "'"))(),
        "es_geo_distance_agg": (lambda _h=__import__(
            "fluent_plugin_elasticsearch_spark.plans.query_ast",
            fromlist=["haversine_m_sql"]).haversine_m_sql(
                "lat", "lon", 10.0, 20.0): (
            "WITH g AS (" + _GEO_SQL_BASE + "), d AS (SELECT " + _h + " AS dm FROM g) "
            "SELECT key, doc_count FROM ("
            "SELECT 0 AS i, '*-2000' AS key, count(*) AS doc_count FROM d WHERE dm < 2000000.0 "
            "UNION ALL SELECT 1, '2000-8000', count(*) FROM d WHERE dm >= 2000000.0 AND dm < 8000000.0 "
            "UNION ALL SELECT 2, '8000-*', count(*) FROM d WHERE dm >= 8000000.0"
            ") ORDER BY i"))(),
        "combined_fields": __import__(
            "fluent_plugin_elasticsearch_spark.operators.bm25",
            fromlist=["combined_fields_sql"]).combined_fields_sql(
                "documents", ["merge", "src3"], ["text", "source"], k=20,
                weights={"source": 2}),
        "remove_boilerplate_lines": __import__(
            "fluent_plugin_elasticsearch_spark.operators.textquality",
            fromlist=["remove_repeated_lines_sql"]).remove_repeated_lines_sql(
            "(SELECT doc_id, text || chr(10) || 'shared footer line' || "
            "chr(10) || source AS text FROM documents)",
            min_docs=3),
        "rrf_retriever": (lambda mp=__import__(
            "fluent_plugin_elasticsearch_spark.operators.relevance",
            fromlist=["span_near_sql"]).span_near_sql(
                "documents", "table", "table", slop=0, k=50),
            sq=__import__(
            "fluent_plugin_elasticsearch_spark.operators.simple_query",
            fromlist=["simple_query_string_sql"]).simple_query_string_sql(
                "documents", "merge + data | scan*", k=50): f"""
WITH r0 AS (
  SELECT doc_id, row_number() OVER (ORDER BY score_u DESC, doc_id ASC) AS r
  FROM ({mp}) s0
),
r1 AS (
  SELECT doc_id, row_number() OVER (ORDER BY score_u DESC, doc_id ASC) AS r
  FROM ({sq}) s1
),
f AS (
  SELECT coalesce(r0.doc_id, r1.doc_id) AS doc_id,
         CAST(floor((CASE WHEN r0.r IS NOT NULL THEN 1.0 / (60 + r0.r)
                          ELSE 0.0 END
                   + CASE WHEN r1.r IS NOT NULL THEN 1.0 / (60 + r1.r)
                          ELSE 0.0 END) * 1e9) AS BIGINT) AS rrf_u
  FROM r0 FULL OUTER JOIN r1 ON r0.doc_id = r1.doc_id
)
SELECT doc_id, rrf_u FROM f ORDER BY rrf_u DESC, doc_id ASC LIMIT 15
""")(),
        "sparse_vector": __import__(
            "fluent_plugin_elasticsearch_spark.operators.relevance",
            fromlist=["sparse_vector_sql"]).sparse_vector_sql(
            "documents", _SPARSE_QV, k=15),
        "retriever_tree": (lambda mp=__import__(
            "fluent_plugin_elasticsearch_spark.operators.relevance",
            fromlist=["span_near_sql"]).span_near_sql(
                "documents", "table", "table", slop=0, k=40),
            sq=__import__(
            "fluent_plugin_elasticsearch_spark.operators.simple_query",
            fromlist=["simple_query_string_sql"]).simple_query_string_sql(
                "documents", "merge + data | scan*", k=40),
            so=__import__(
            "fluent_plugin_elasticsearch_spark.operators.relevance",
            fromlist=["span_or_sql"]).span_or_sql(
                "documents", ["data", "merge"], k=40): f"""
WITH s0 AS ({mp}),
n0 AS (
  SELECT doc_id,
         CASE WHEN max(score_u / 1e6) OVER () = min(score_u / 1e6) OVER ()
              THEN CASE WHEN score_u / 1e6 > 0 THEN 1.0 ELSE 0.0 END
              ELSE (score_u / 1e6 - min(score_u / 1e6) OVER ())
                   / (max(score_u / 1e6) OVER () - min(score_u / 1e6) OVER ())
         END AS n
  FROM s0
),
s1 AS ({sq}),
n1 AS (
  SELECT doc_id,
         CASE WHEN sqrt(sum((score_u / 1e6) * (score_u / 1e6)) OVER ()) = 0
              THEN 0.0
              ELSE (score_u / 1e6)
                   / sqrt(sum((score_u / 1e6) * (score_u / 1e6)) OVER ())
         END AS n
  FROM s1
),
lin AS (
  SELECT coalesce(n0.doc_id, n1.doc_id) AS doc_id,
         CAST(floor((coalesce(n0.n, 0.0) * 2.0
                   + coalesce(n1.n, 0.0) * 1.0) * 1e9) AS BIGINT) AS lu
  FROM n0 FULL OUTER JOIN n1 ON n0.doc_id = n1.doc_id
  ORDER BY lu DESC, doc_id ASC LIMIT 40
),
r0 AS (
  SELECT doc_id, row_number() OVER (ORDER BY lu DESC, doc_id ASC) AS r
  FROM lin
),
s2 AS ({so}),
r1 AS (
  SELECT doc_id, row_number() OVER (ORDER BY score_u DESC, doc_id ASC) AS r
  FROM s2
),
f AS (
  SELECT coalesce(r0.doc_id, r1.doc_id) AS doc_id,
         CAST(floor((CASE WHEN r0.r IS NOT NULL THEN 1.0 / (60 + r0.r)
                          ELSE 0.0 END
                   + CASE WHEN r1.r IS NOT NULL THEN 1.0 / (60 + r1.r)
                          ELSE 0.0 END) * 1e9) AS BIGINT) AS rrf_u
  FROM r0 FULL OUTER JOIN r1 ON r0.doc_id = r1.doc_id
)
SELECT doc_id, rrf_u FROM f ORDER BY rrf_u DESC, doc_id ASC LIMIT 15
""")(),
        "linear_retriever": (lambda mp=__import__(
            "fluent_plugin_elasticsearch_spark.operators.relevance",
            fromlist=["span_near_sql"]).span_near_sql(
                "documents", "table", "table", slop=0, k=40),
            sq=__import__(
            "fluent_plugin_elasticsearch_spark.operators.simple_query",
            fromlist=["simple_query_string_sql"]).simple_query_string_sql(
                "documents", "merge + data | scan*", k=40): f"""
WITH s0 AS ({mp}),
n0 AS (
  SELECT doc_id,
         CASE WHEN max(score_u / 1e6) OVER () = min(score_u / 1e6) OVER ()
              THEN CASE WHEN score_u / 1e6 > 0 THEN 1.0 ELSE 0.0 END
              ELSE (score_u / 1e6 - min(score_u / 1e6) OVER ())
                   / (max(score_u / 1e6) OVER () - min(score_u / 1e6) OVER ())
         END AS n
  FROM s0
),
s1 AS ({sq}),
n1 AS (
  SELECT doc_id,
         CASE WHEN sqrt(sum((score_u / 1e6) * (score_u / 1e6)) OVER ()) = 0
              THEN 0.0
              ELSE (score_u / 1e6)
                   / sqrt(sum((score_u / 1e6) * (score_u / 1e6)) OVER ())
         END AS n
  FROM s1
),
f AS (
  SELECT coalesce(n0.doc_id, n1.doc_id) AS doc_id,
         CAST(floor((coalesce(n0.n, 0.0) * 2.0
                   + coalesce(n1.n, 0.0) * 1.0) * 1e9) AS BIGINT) AS linear_u
  FROM n0 FULL OUTER JOIN n1 ON n0.doc_id = n1.doc_id
)
SELECT doc_id, linear_u FROM f ORDER BY linear_u DESC, doc_id ASC LIMIT 15
""")(),
        "percolate_query": (lambda regs=_PERCOLATE_REGISTRY,
                            doc=_PERCOLATE_DOC: (
            "WITH reg(query_id, terms, msm) AS (VALUES "
            + ", ".join(
                "({}, [{}], {})".format(
                    q, ", ".join("'" + t + "'" for t in ts), m)
                for q, ts, m in regs)
            + "), d AS (SELECT CAST(query_id AS BIGINT) AS query_id, "
            "CAST(msm AS BIGINT) AS msm, "
            "CAST(len(list_intersect(list_distinct(terms), "
            "list_distinct(list_filter(regexp_split_to_array(lower('"
            + doc + "'), '[^a-z0-9]+'), t -> t <> '')))) AS BIGINT) "
            "AS matched_terms FROM reg) "
            "SELECT * FROM d WHERE matched_terms >= msm "
            "ORDER BY query_id"))(),
        "span_multi": __import__(
            "fluent_plugin_elasticsearch_spark.operators.relevance",
            fromlist=["span_multi_sql"]).span_multi_sql(
            "documents", "s?a*", kind="wildcard", max_expansions=10, k=15),
        "span_containing": __import__(
            "fluent_plugin_elasticsearch_spark.operators.relevance",
            fromlist=["span_containing_sql"]).span_containing_sql(
            "documents", "scan", "merge", "table", slop=3, k=15),
        "span_within_index": __import__(
            "fluent_plugin_elasticsearch_spark.operators.relevance",
            fromlist=["span_within_sql"]).span_within_sql(
            "documents", "scan", "merge", "table", slop=3, k=15),
        "simple_query_string": __import__(
            "fluent_plugin_elasticsearch_spark.operators.simple_query",
            fromlist=["simple_query_string_sql"]).simple_query_string_sql(
            "documents", 'merge + data | "table table" | scan* -slow',
            k=15, default_operator="or"),
        "ingest_pipeline": """
SELECT doc_id, 'prod' AS env,
       regexp_replace(source, 'src', 's', 'g') AS src,
       upper(lang) AS lang_uc,
       CAST(epoch(to_timestamp(CAST(CAST(doc_id AS VARCHAR) AS BIGINT)))
            AS BIGINT) AS ts_epoch,
       CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT) AS n_words
FROM documents
""",
        # post_filter prunes the WHOLE ranking, then size cuts the page
        "post_filter": (lambda sq=__import__(
            "fluent_plugin_elasticsearch_spark.operators.simple_query",
            fromlist=["simple_query_string_sql"]).simple_query_string_sql(
                "documents", "merge data", k=2**62): (
            f"SELECT s.doc_id, s.score_u FROM ({sq}) s "
            "JOIN documents d ON s.doc_id = d.doc_id WHERE d.lang = 'en' "
            "ORDER BY s.score_u DESC, s.doc_id ASC LIMIT 30"))(),
        "reindex": """
SELECT doc_id, lang, upper(lang) AS lang_uc, 'reindexed' AS env, n_chars
FROM documents WHERE lang = 'en'
""",
        "embedding_pca_moments": __import__(
            "fluent_plugin_elasticsearch_spark.operators.similarity",
            fromlist=["pca_cov_moments_sql"]).pca_cov_moments_sql(
            "embeddings", dims=8),
        "feature_hash_embed": __import__(
            "fluent_plugin_elasticsearch_spark.operators.similarity",
            fromlist=["feature_hash_embed_sql"]).feature_hash_embed_sql(
            "documents", dim=16),
        "exact_substring_dedup": __import__(
            "fluent_plugin_elasticsearch_spark.operators.textquality",
            fromlist=["remove_repeated_ngrams_sql"]).remove_repeated_ngrams_sql(
            "(SELECT doc_id, CASE WHEN doc_id % 3 = 0 THEN text || "
            "' subscribe to our channel for more great content' "
            "ELSE text END AS text FROM documents)",
            n=6, min_count=2),
        "stemmed_token_counts": (lambda _st=__import__(
            "fluent_plugin_elasticsearch_spark.operators.textquality",
            fromlist=["stem_sql_expr"]).stem_sql_expr("t"): (
            "WITH toks AS (SELECT doc_id, list_filter(regexp_split_to_array("
            "lower(text), '[^a-z0-9]+'), t -> t <> '') AS tk FROM documents) "
            "SELECT doc_id, len(list_distinct(tk)) AS n_raw_terms, "
            "len(list_distinct(list_transform(tk, t -> " + _st + "))) "
            "AS n_stemmed_terms FROM toks"))(),
        "es_terms_options": """
WITH src AS (
  SELECT CASE WHEN event_id % 7 = 0 THEN 'N/A' ELSE event_type END AS key,
         CAST(floor(value * 1e2) AS BIGINT) AS value_u
  FROM events
),
agg AS (
  SELECT key, count(*) AS doc_count, CAST(sum(value_u) AS BIGINT) AS v_sum
  FROM src GROUP BY key
)
SELECT key, doc_count, v_sum FROM agg
WHERE regexp_full_match(key, '(?:N/A|p.*|v.*)')
ORDER BY v_sum DESC, key ASC LIMIT 10
""",
        "script_score": """
SELECT doc_id,
       CAST(floor((n_chars * 2 + doc_id / 100) * 1e6) AS BIGINT) AS score_u
FROM documents WHERE lang = 'en'
ORDER BY score_u DESC, doc_id ASC LIMIT 25
""",
        "distance_feature": """
SELECT event_id AS doc_id,
       CAST(floor(2.0 * 86400.0 / (86400.0 + abs(epoch(ts) - epoch(TIMESTAMP '2024-01-15 12:00:00'))) * 1e6) AS BIGINT) AS score_u
FROM events
ORDER BY score_u DESC, doc_id ASC LIMIT 30
""",
        "es_auto_date_histogram": """
WITH agg AS (
  SELECT date_trunc('day', ts) AS k, count(*) AS c FROM events GROUP BY 1
),
b AS (SELECT min(k) AS lo, max(k) AS hi FROM agg),
f AS (SELECT unnest(generate_series((SELECT lo FROM b), (SELECT hi FROM b),
                                    INTERVAL 1 day)) AS key)
SELECT f.key, coalesce(agg.c, 0) AS doc_count, 'day' AS interval
FROM f LEFT JOIN agg ON f.key = agg.k ORDER BY f.key
""",
        "es_ip_range": """
WITH ips AS (
  SELECT CAST(user_id % 256 AS BIGINT) * 65536
       + CAST(event_id % 256 AS BIGINT) * 256
       + CAST((event_id * 7) % 256 AS BIGINT)
       + 10 * 16777216 AS ipl
  FROM events
)
SELECT key, doc_count FROM (
  SELECT 0 AS i, '*-10.64.0.0' AS key, count(*) AS doc_count FROM ips
  WHERE ipl < 10 * 16777216 + 64 * 65536
  UNION ALL
  SELECT 1, '10.64.0.0-10.192.0.0', count(*) FROM ips
  WHERE ipl >= 10 * 16777216 + 64 * 65536 AND ipl < 10 * 16777216 + 192 * 65536
  UNION ALL
  SELECT 2, '10.128.0.0/9', count(*) FROM ips
  WHERE ipl >= 10 * 16777216 + 128 * 65536 AND ipl < 10 * 16777216 + 256 * 65536
) ORDER BY i
""",
        "es_geo_line": """
WITH pts AS (
  SELECT c_custkey,
         ((c_custkey * 7 % 140) - 70 + 0.25)::DOUBLE AS lat,
         ((c_custkey * 13 % 360) - 180 + 0.25)::DOUBLE AS lon
  FROM customer
),
sel AS (
  SELECT c_custkey,
         CAST(floor(lon * 1e6) AS BIGINT) AS lon_u,
         CAST(floor(lat * 1e6) AS BIGINT) AS lat_u
  FROM pts ORDER BY c_custkey ASC, lon_u ASC, lat_u ASC LIMIT 50
)
SELECT string_agg(lon_u || ' ' || lat_u, ','
                  ORDER BY c_custkey, lon_u, lat_u) AS gl_line,
       count(*) AS doc_count
FROM sel
""",
        "es_frequent_item_sets": """
WITH t AS (
  SELECT list_sort(list_distinct(
    ['lang:' || CAST(lang AS VARCHAR), 'source:' || CAST(source AS VARCHAR)]
  )) AS items
  FROM documents
),
n_tx AS (SELECT count(*) AS n FROM t),
pairs AS (
  SELECT items[i] || '|' || items[j] AS itemset, 2 AS set_size
  FROM t, unnest(generate_series(1, len(items))) AS u(i),
       unnest(generate_series(1, len(items))) AS v(j)
  WHERE i < j
),
c AS (SELECT itemset, set_size, count(*) AS doc_count
      FROM pairs GROUP BY itemset, set_size)
SELECT itemset, set_size, doc_count,
       CAST(floor(doc_count / n.n * 1e6) AS BIGINT) AS support_u
FROM c, n_tx n
WHERE CAST(floor(doc_count / n.n * 1e6) AS BIGINT) >= 10000
ORDER BY doc_count DESC, itemset ASC LIMIT 15
""",
        "es_matrix_stats": """
WITH m AS (
  SELECT count(*) AS n,
         sum(CAST(floor(value * 1e2) AS BIGINT)) AS s0,
         sum(user_id) AS s1,
         sum(CAST(floor(value * 1e2) AS BIGINT)
             * CAST(floor(value * 1e2) AS BIGINT)) AS q0_0,
         sum(CAST(floor(value * 1e2) AS BIGINT) * user_id) AS q0_1,
         sum(user_id * user_id) AS q1_1
  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
)
SELECT n AS m_count,
  CAST(floor(s0 / n * 1e6) AS BIGINT) AS m_value_u_mean_u,
  CAST(floor((q0_0 - s0 * s0 / n) / (n - 1) * 1e6) AS BIGINT)
    AS m_value_u_var_u,
  CAST(floor(s1 / n * 1e6) AS BIGINT) AS m_user_id_mean_u,
  CAST(floor((q1_1 - s1 * s1 / n) / (n - 1) * 1e6) AS BIGINT)
    AS m_user_id_var_u,
  CAST(floor((q0_1 - s0 * s1 / n) / (n - 1) * 1e6) AS BIGINT)
    AS m_value_u_user_id_cov_u,
  CAST(floor((q0_1 - s0 * s1 / n) / (n - 1)
       / sqrt(((q0_0 - s0 * s0 / n) / (n - 1))
            * ((q1_1 - s1 * s1 / n) / (n - 1))) * 1e9) AS BIGINT)
    AS m_value_u_user_id_corr_u
FROM m
""",
        "es_moving_percentiles": """
WITH b AS (
  SELECT date_trunc('day', ts) AS key, count(*) AS doc_count,
         CAST(sum(CAST(floor(value * 1e2) AS BIGINT)) AS BIGINT) AS sales
  FROM events GROUP BY 1
)
SELECT key, doc_count, sales,
  CAST(floor(quantile_cont(sales, 0.50) OVER (
    ORDER BY key ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) * 1e6) AS BIGINT)
    AS mp_p50_u,
  CAST(floor(quantile_cont(sales, 0.90) OVER (
    ORDER BY key ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) * 1e6) AS BIGINT)
    AS mp_p90_u
FROM b ORDER BY key
""",
        "es_sibling_buckets": """
WITH b AS (
  SELECT date_trunc('day', ts) AS k,
         CAST(sum(CAST(floor(value * 1e2) AS BIGINT)) AS BIGINT) AS s
  FROM events GROUP BY 1
)
SELECT CAST(floor(avg(s) * 1e6) AS BIGINT) AS ab_u,
       CAST(sum(s) AS BIGINT) AS sb,
       min(s) AS nb,
       max(s) AS xb
FROM b
""",
        "es_stats_percentiles_bucket": """
WITH b AS (
  SELECT date_trunc('day', ts) AS k, count(*) AS dc,
         CAST(sum(CAST(floor(value * 1e2) AS BIGINT)) AS BIGINT) AS s
  FROM events GROUP BY 1
)
SELECT count(dc) AS st_count, min(dc) AS st_min, max(dc) AS st_max,
       CAST(sum(dc) AS BIGINT) AS st_sum,
       CAST(floor(avg(dc) * 1e6) AS BIGINT) AS st_avg_u,
       CAST(floor(quantile_cont(s, 0.25) * 1e6) AS BIGINT) AS pb_p25_u,
       CAST(floor(quantile_cont(s, 0.50) * 1e6) AS BIGINT) AS pb_p50_u,
       CAST(floor(quantile_cont(s, 0.90) * 1e6) AS BIGINT) AS pb_p90_u
FROM b
""",
        "es_normalize": """
WITH b AS (
  SELECT date_trunc('day', ts) AS key, count(*) AS doc_count,
         CAST(sum(CAST(floor(value * 1e2) AS BIGINT)) AS BIGINT) AS sales
  FROM events GROUP BY 1
)
SELECT key, doc_count, sales,
       CAST(floor(CAST(sales AS DOUBLE) / CAST(sum(sales) OVER () AS DOUBLE)
            * 1e9) AS BIGINT) AS pct_u,
       CAST(floor((CAST(sales AS DOUBLE) - CAST(min(sales) OVER () AS DOUBLE))
            * 100.0 / (CAST(max(sales) OVER () AS DOUBLE)
                       - CAST(min(sales) OVER () AS DOUBLE))
            * 1e6) AS BIGINT) AS r100_u
FROM b ORDER BY key
""",
        "es_terms_partition": """
WITH agg AS (SELECT user_id AS key, count(*) AS doc_count
             FROM events GROUP BY 1)
SELECT key, doc_count FROM agg
WHERE CAST(concat('0x', substring(md5(CAST(key AS VARCHAR)), 1, 8))
      AS UBIGINT) % 4 = 1
ORDER BY key ASC LIMIT 50
""",
        "es_reverse_nested": """
SELECT event_type AS key, count(*) AS doc_count,
       count(DISTINCT user_id) AS docs_doc_count,
       CAST(sum(CAST(floor(value * 1e2) AS BIGINT)) AS BIGINT) AS v_sum
FROM events GROUP BY 1 ORDER BY doc_count DESC, key ASC LIMIT 5
""",
        "bpe_pair_stats": __import__(
            "fluent_plugin_elasticsearch_spark.operators.bpe",
            fromlist=["bpe_pair_stats_sql"]).bpe_pair_stats_sql(
                "documents", top=20),
        "es_ip_prefix": """
WITH e AS (
  SELECT 10 * 16777216 + (user_id % 256) * 65536 + (event_id % 256) * 256
         + ((event_id * 7) % 256) AS ip32
  FROM events
),
g AS (
  SELECT ip32 - (ip32 % 1048576) AS net, count(*) AS doc_count
  FROM e GROUP BY 1
)
SELECT CAST(net // 16777216 AS VARCHAR) || '.'
       || CAST((net // 65536) % 256 AS VARCHAR) || '.'
       || CAST((net // 256) % 256 AS VARCHAR) || '.'
       || CAST(net % 256 AS VARCHAR) || '/12' AS key,
       doc_count
FROM g ORDER BY net ASC
""",
        "terms_enum": f"""
WITH ex AS (
  SELECT doc_id, unnest(list_distinct({_TOKS})) AS term FROM documents
)
SELECT term, count(*) AS df FROM ex WHERE term LIKE 's%'
GROUP BY term ORDER BY term ASC LIMIT 15
""",
        "es_ks_test": """
WITH agg AS (
  SELECT date_trunc('day', ts) AS key, CAST(count(*) AS DOUBLE) AS x
  FROM events GROUP BY 1
),
p AS (
  SELECT row_number() OVER (ORDER BY key) AS k,
         sum(x) OVER (ORDER BY key ROWS UNBOUNDED PRECEDING) AS cs,
         count(*) OVER () AS n_tot,
         sum(x) OVER () AS s_tot
  FROM agg
)
SELECT CAST(floor(max(abs(cs / s_tot - CAST(k AS DOUBLE) / CAST(n_tot AS DOUBLE)))
                  * 1e6) AS BIGINT) AS ks_d_u
FROM p
""",
        "dedup_doc_lines": __import__(
            "fluent_plugin_elasticsearch_spark.operators.textquality",
            fromlist=["dedup_doc_lines_sql"]).dedup_doc_lines_sql(
            "(SELECT doc_id, 'cookie banner' || chr(10) || text || "
            "chr(10) || 'cookie banner' || chr(10) || source || "
            "chr(10) || text AS text FROM documents)"),
        "percolate_range": __import__(
            "fluent_plugin_elasticsearch_spark.operators.percolate",
            fromlist=["percolate_ranged_sql"]).percolate_ranged_sql(
            "documents", _PERC_RANGE_QUERIES),
        "url_normalize": __import__(
            "fluent_plugin_elasticsearch_spark.operators.textquality",
            fromlist=["url_normalize_sql"]).url_normalize_sql(
            "(SELECT doc_id, 'HTTPS://WWW.' || upper(source) || "
            "'.Example.co.uk:443/docs/' || CAST(doc_id AS VARCHAR) || "
            "'/?utm_source=feed&lang=' || lang || '#top' AS url "
            "FROM documents)"),
        "justext_blocks": __import__(
            "fluent_plugin_elasticsearch_spark.operators.textquality",
            fromlist=["justext_blocks_sql"]).justext_blocks_sql(
            "(SELECT doc_id, text || chr(10) || 'Home About Contact' || "
            "chr(10) || text AS text FROM documents)"),
        "esql_lookup_join": """
SELECT c.c_custkey, c.c_nationkey AS nkey, n.n_name
FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
ORDER BY c.c_custkey LIMIT 100
""",
        "esql_enrich": """
SELECT e.event_id, e.user_id, c.c_name
FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
ORDER BY e.event_id LIMIT 200
""",
        "esql_dissect": r"""
SELECT event_id, regexp_extract(props, '^\{"k":\ (.*?)\}$', 1) AS kval
FROM events ORDER BY event_id LIMIT 100
""",
        "esql_stats": """
SELECT lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS chars,
       MAX(n_chars) AS mx
FROM documents WHERE n_chars > 100 GROUP BY lang ORDER BY lang
""",
        "esql_pipe": f"""
SELECT doc_id, n_chars / 100 AS dk, source AS origin
FROM documents
WHERE len(list_filter({_TOKS}, t -> t IN ('merge', 'data'))) > 0
  AND lang = 'en'
ORDER BY dk DESC, doc_id ASC LIMIT 25
""",
        "es_sql_group": """
SELECT lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS chars,
       MAX(n_chars) AS mx
FROM documents GROUP BY lang ORDER BY lang
""",
        "es_sql_match": __import__(
            "fluent_plugin_elasticsearch_spark.operators.bm25",
            fromlist=["bm25_topk_sql"]).bm25_topk_sql(
            "documents", ["merge", "data"], k=15),
        "dsir_logratio": __import__(
            "fluent_plugin_elasticsearch_spark.operators.packing",
            fromlist=["dsir_logratio_sql"]).dsir_logratio_sql(
            "documents", "lang = 'en'", buckets=512),
        "dsir_resample": __import__(
            "fluent_plugin_elasticsearch_spark.operators.packing",
            fromlist=["dsir_resample_sql"]).dsir_resample_sql(
            "documents", "lang = 'en'", k=50, buckets=512, seed=7),
        "epoch_shuffle": """
SELECT doc_id, md5('epoch1|' || CAST(doc_id AS VARCHAR)) AS shuffle_key
FROM documents ORDER BY shuffle_key ASC LIMIT 100
""",
        "es_change_point": """
WITH agg AS (
  SELECT date_trunc('day', ts) AS key, CAST(count(*) AS DOUBLE) AS x
  FROM events GROUP BY 1
),
p AS (
  SELECT key, x,
         row_number() OVER (ORDER BY key) AS k,
         sum(x) OVER (ORDER BY key ROWS UNBOUNDED PRECEDING) AS cs,
         sum(x * x) OVER (ORDER BY key ROWS UNBOUNDED PRECEDING) AS cq,
         lead(key) OVER (ORDER BY key) AS nkey,
         count(*) OVER () AS n_tot,
         sum(x) OVER () AS s_tot,
         sum(x * x) OVER () AS q_tot
  FROM agg
),
c AS (
  SELECT nkey,
         CASE WHEN ((cq - cs * cs / k)
                    + ((q_tot - cq)
                       - (s_tot - cs) * (s_tot - cs) / (n_tot - k)))
                   / (n_tot - 2) > 0
              THEN (cs / k - (s_tot - cs) / (n_tot - k))
                   / sqrt((((cq - cs * cs / k)
                            + ((q_tot - cq)
                               - (s_tot - cs) * (s_tot - cs) / (n_tot - k)))
                           / (n_tot - 2))
                          * (1.0 / k + 1.0 / (n_tot - k)))
         END AS t
  FROM p WHERE k < n_tot AND n_tot >= 3
)
SELECT CASE WHEN t IS NOT NULL THEN nkey END AS cp_key,
       CASE WHEN t IS NOT NULL THEN 'step_change'
            ELSE 'stationary' END AS cp_type,
       CAST(floor(t * 1e6) AS BIGINT) AS cp_t_u
FROM c ORDER BY abs(t) DESC NULLS LAST, nkey ASC LIMIT 1
""",
        "es_downsample": """
SELECT date_trunc('day', ts) AS "@timestamp", event_type,
       count(*) AS _doc_count,
       min(CAST(floor(value * 1e2) AS BIGINT)) AS value_u_min,
       max(CAST(floor(value * 1e2) AS BIGINT)) AS value_u_max,
       CAST(sum(CAST(floor(value * 1e2) AS BIGINT)) AS BIGINT)
         AS value_u_sum,
       count(CAST(floor(value * 1e2) AS BIGINT)) AS value_u_value_count
FROM events GROUP BY 1, 2 ORDER BY 1, 2
""",
        "es_bucket_correlation": (lambda exp=[float((i * 7) % 13 + 1)
                                              for i in range(31)]: f"""
WITH agg AS (
  SELECT date_trunc('day', ts) AS key, count(*) AS c FROM events GROUP BY 1
),
p AS (
  SELECT CAST(c AS DOUBLE) AS x,
         ([{', '.join(repr(v) for v in exp)}])[
           row_number() OVER (ORDER BY key)] AS y
  FROM agg
),
f AS (SELECT x, y FROM p WHERE y IS NOT NULL),
m AS (
  SELECT CAST(count(*) AS DOUBLE) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
  FROM f
)
SELECT CAST(floor((sxy - sx * sy / n)
       / sqrt((sxx - sx * sx / n) * (syy - sy * sy / n)) * 1e6) AS BIGINT)
       AS corr_corr_u
FROM m
""")(),
        "es_cumulative_cardinality": """
WITH agg AS (
  SELECT date_trunc('day', ts) AS key, count(*) AS doc_count,
         count(DISTINCT user_id) AS users
  FROM events GROUP BY 1
),
fb AS (
  SELECT user_id, min(date_trunc('day', ts)) AS key FROM events
  WHERE user_id IS NOT NULL GROUP BY 1
),
inc AS (SELECT key, count(*) AS i FROM fb GROUP BY 1),
j AS (
  SELECT a.key, a.doc_count, CAST(a.users AS BIGINT) AS users,
         CAST(sum(coalesce(i.i, 0)) OVER (ORDER BY a.key) AS BIGINT)
           AS total_users
  FROM agg a LEFT JOIN inc i ON a.key = i.key
)
SELECT key, doc_count, users, total_users,
       coalesce(total_users - lag(total_users) OVER (ORDER BY key),
                -4611686018427387904) AS new_users_c
FROM j ORDER BY key
""",
        "es_date_histogram_gaps": """
WITH agg AS (
  SELECT date_trunc('day', ts) AS k, count(*) AS c FROM events
  WHERE value >= 300 GROUP BY 1
),
b AS (SELECT min(k) AS lo, max(k) AS hi FROM agg),
f AS (SELECT unnest(generate_series((SELECT lo FROM b), (SELECT hi FROM b),
                                    INTERVAL 1 day)) AS key)
SELECT f.key, coalesce(agg.c, 0) AS doc_count
FROM f LEFT JOIN agg ON f.key = agg.k ORDER BY f.key
""",
        "cow_upsert": """
WITH batch AS (
  SELECT doc_id, 'UPD ' || text AS text, lang, source, n_chars
  FROM documents WHERE doc_id % 50 = 3
  UNION ALL
  SELECT doc_id + 1000000, 'NEW ' || text, lang, source, n_chars
  FROM documents WHERE doc_id % 97 = 5
)
SELECT doc_id, text, lang, source, n_chars FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM batch)
UNION ALL
SELECT doc_id, text, lang, source, n_chars FROM batch
""",
        "es_multi_terms": """
SELECT event_type || '|' || CAST(user_id AS VARCHAR) AS key,
       event_type, user_id, count(*) AS doc_count,
       CAST(sum(CAST(floor(value * 1e2) AS BIGINT)) AS BIGINT) AS v_sum
FROM events GROUP BY event_type, user_id
ORDER BY doc_count DESC, event_type ASC, user_id ASC LIMIT 15
""",
        "es_rare_terms": """
SELECT source AS key, count(*) AS doc_count FROM documents
GROUP BY source HAVING count(*) <= 60
ORDER BY doc_count ASC, key ASC
""",
        "es_global_filter_agg": """
SELECT 'filter' AS agg, count(*) AS doc_count,
       CAST(sum(CAST(floor(value * 1e2) AS BIGINT)) AS BIGINT) AS v_sum
FROM events WHERE value >= 50 AND event_type = 'purchase'
UNION ALL
SELECT 'global', count(*),
       CAST(sum(CAST(floor(value * 1e2) AS BIGINT)) AS BIGINT)
FROM events
ORDER BY agg
""",
        "phrase_suggest": __import__(
            "fluent_plugin_elasticsearch_spark.operators.relevance",
            fromlist=["phrase_suggest_sql"]).phrase_suggest_sql(
                "documents", ["tabel", "qury", "spark"]),
        "runtime_mappings": (
            "SELECT event_id, CAST(floor(value * value * 1e2) AS BIGINT) AS value_sq_u "
            "FROM events WHERE value * value >= 2000 ORDER BY event_id ASC"
        ),
        "search_template": (
            "SELECT doc_id, lang, n_chars FROM documents "
            "WHERE lang = 'en' AND n_chars >= 30 ORDER BY doc_id DESC LIMIT 25"
        ),
        "sessionize": __import__(
            "fluent_plugin_elasticsearch_spark.streaming.sessionize",
            fromlist=["sessionize_sql"]).sessionize_sql("events", 3600),
        "eql_sequence": """
SELECT a.user_id, a.event_id AS step0_id, b.event_id AS step1_id,
       CAST(floor(epoch(b.ts) - epoch(a.ts)) AS INT) AS span_seconds
FROM events a JOIN events b USING (user_id)
WHERE a.event_type = 'view' AND b.event_type = 'purchase'
  AND b.ts > a.ts AND epoch(b.ts) - epoch(a.ts) <= 1800
ORDER BY user_id, a.ts, step0_id, step1_id
""",
        "contamination_check": """
WITH toks AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                             t -> t <> '') AS tokens FROM documents
),
grams AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
    generate_series(1, greatest(len(tokens) - 2, 0)),
    i -> array_to_string(tokens[i:i+2], ' ')))) AS shingle
  FROM toks WHERE len(tokens) >= 3
)
SELECT d.doc_id AS doc_id, b.doc_id AS bench_id, count(*) AS n_shared_grams
FROM grams d JOIN grams b ON d.shingle = b.shingle
WHERE b.doc_id % 100 = 7 AND d.doc_id % 100 <> 7
GROUP BY 1, 2
ORDER BY n_shared_grams DESC, d.doc_id ASC, bench_id ASC
""",
        "scrub_pii": r"""
WITH src AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example or 10.0.0.'
              || CAST(doc_id % 255 AS VARCHAR) || ' tel 555-123-4567' AS text
  FROM documents
),
counted AS (
  SELECT doc_id, text,
    CAST(len(regexp_split_to_array(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) - 1 AS INT) AS n_email,
    CAST(len(regexp_split_to_array(text, '\b(?:\d{1,3}\.){3}\d{1,3}\b')) - 1 AS INT) AS n_ipv4,
    CAST(len(regexp_split_to_array(text, '(?:\+?\d{1,2}[ .-])?\(?\d{3}\)?[ .-]\d{3}[ .-]\d{4}\b')) - 1 AS INT) AS n_phone,
    CAST(len(regexp_split_to_array(text, '\b\d{3}-\d{2}-\d{4}\b')) - 1 AS INT) AS n_ssn,
    CAST(len(regexp_split_to_array(text, '\b(?:\d{4}[ -]){3}\d{4}\b')) - 1 AS INT) AS n_card
  FROM src
)
SELECT doc_id, n_email, n_ipv4, n_phone,
       n_email + n_ipv4 + n_ssn + n_phone + n_card AS pii_total,
       regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
         text,
         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'),
         '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g'),
         '(?:\+?\d{1,2}[ .-])?\(?\d{3}\)?[ .-]\d{3}[ .-]\d{4}\b', '<PHONE>', 'g'),
         '\b(?:\d{4}[ -]){3}\d{4}\b', '<CARD>', 'g') AS text
FROM counted
""",
        "repetition_scores": """
WITH toks AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                             t -> t <> '') AS tokens FROM documents
),
grams AS (
  SELECT doc_id, unnest(list_transform(
    generate_series(1, greatest(len(tokens) - 2, 0)),
    i -> array_to_string(tokens[i:i+2], ' '))) AS gram
  FROM toks WHERE len(tokens) >= 3
),
pg AS (SELECT doc_id, gram, count(*) AS cnt FROM grams GROUP BY 1, 2)
SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_grams,
       CAST(floor(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) / sum(cnt) * 1e6) AS BIGINT) AS dup_gram_frac_u,
       CAST(floor(max(cnt) / sum(cnt) * 1e6) AS BIGINT) AS top_gram_frac_u
FROM pg GROUP BY doc_id
""",
        "geo_distance": (
            "WITH g AS (" + _GEO_SQL_BASE + ") SELECT doc_id FROM g WHERE "
            + __import__(
                "fluent_plugin_elasticsearch_spark.plans.query_ast",
                fromlist=["haversine_m_sql"]).haversine_m_sql(
                    "lat", "lon", 10.0, 20.0)
            + " <= 1500000.0"
        ),
        "geo_bounding_box": (
            "WITH g AS (" + _GEO_SQL_BASE + ") SELECT doc_id FROM g "
            "WHERE lat <= 40 AND lat >= 0 AND lon >= -10 AND lon <= 60"
        ),
        "geo_shape": (
            "WITH g AS (" + _GEO_SQL_BASE + ") SELECT doc_id FROM g "
            "WHERE " + __import__(
                "fluent_plugin_elasticsearch_spark.plans.query_ast",
                fromlist=["geo_shape_polygon_sql"]).geo_shape_polygon_sql(
                "lat", "lon", _GEO_SHAPE_RING)
        ),
        "span_first": __import__(
            "fluent_plugin_elasticsearch_spark.operators.relevance",
            fromlist=["span_first_sql"]).span_first_sql(
                "documents", "merge", 5, k=20),
        "es_top_hits_body": """
WITH b AS (
  SELECT event_type AS key, count(*) AS doc_count FROM events
  GROUP BY 1 ORDER BY doc_count DESC, key ASC LIMIT 3
),
h AS (
  SELECT e.event_type AS key, b.doc_count,
         CAST(row_number() OVER (PARTITION BY e.event_type
              ORDER BY e.value DESC, e.event_id ASC, e.value ASC) AS INT) AS rank,
         e.event_id, CAST(floor(e.value * 1e2) AS BIGINT) AS value_u
  FROM events e JOIN b ON e.event_type = b.key
)
SELECT key, doc_count, rank, event_id, value_u FROM h WHERE rank <= 2
ORDER BY doc_count DESC, key ASC, rank ASC
""",
        "genid_md5": (
            "SELECT event_id, to_base64(unhex(md5(concat_ws('_', CAST(user_id AS VARCHAR), event_type)))) AS _hash FROM events"
        ),
        "genid_sha256": (
            "SELECT event_id, to_base64(unhex(sha256(concat_ws('_', CAST(user_id AS VARCHAR), event_type)))) AS _hash FROM events"
        ),
        "target_index": (
            "SELECT lower('logstash-' || strftime(ts, '%Y.%m.%d')) AS index_name, count(*) AS n_docs "
            "FROM events GROUP BY 1"
        ),
        "placeholder_expansion": (
            "SELECT event_id, 'logs-' || event_type || '-' || strftime(ts, '%Y%m%d') AS expanded FROM events"
        ),
        "affinity_routing": """
WITH named AS (
  SELECT event_id, user_id, lower('logstash-' || strftime(ts, '%Y.%m.%d')) AS index_name
  FROM events
), hist AS (SELECT * FROM named WHERE event_id % 2 = 0),
   batch AS (SELECT * FROM named WHERE event_id % 2 = 1),
   aff AS (SELECT user_id, min(index_name) AS existing FROM hist GROUP BY user_id)
SELECT coalesce(a.existing, b.index_name) AS index_name, count(*) AS n
FROM batch b LEFT JOIN aff a USING (user_id)
GROUP BY 1
""",
        "error_triage": """
WITH tagged AS (
  SELECT CASE WHEN event_type='error' THEN 400 WHEN event_type='purchase' THEN 409
              WHEN event_type='login' THEN 503 ELSE 201 END AS status,
         CASE WHEN value > 195 THEN 'es_rejected_execution_exception' END AS error_type
  FROM events
)
SELECT CASE WHEN status >= 200 AND status < 300 THEN 'success'
            WHEN status = 409 THEN 'duplicate'
            WHEN error_type IN ('out_of_memory_error','es_rejected_execution_exception') THEN 'abort'
            WHEN status = 400 THEN 'dead_letter'
            ELSE 'retry' END AS class,
       count(*) AS n
FROM tagged GROUP BY 1
""",
        "upsert_merge": """
WITH target AS (SELECT event_id, user_id, value FROM events WHERE event_id % 2 = 0),
     batch  AS (SELECT event_id, user_id, value * 2.0 AS value FROM events WHERE event_id % 3 = 0)
SELECT coalesce(t.event_id, b.event_id) AS event_id,
       coalesce(t.user_id, b.user_id) AS user_id,
       CAST(floor(coalesce(b.value, t.value) * 1e6) AS BIGINT) AS value_u
FROM target t FULL OUTER JOIN batch b ON t.event_id = b.event_id
""",
        "create_insert_only": """
WITH target AS (SELECT event_id, value FROM events WHERE event_id % 2 = 0),
     batch  AS (SELECT event_id, value * 2.0 AS value FROM events WHERE event_id % 3 = 0)
SELECT event_id, CAST(floor(value * 1e6) AS BIGINT) AS value_u FROM target
UNION ALL
SELECT event_id, CAST(floor(value * 1e6) AS BIGINT) AS value_u
FROM batch WHERE event_id NOT IN (SELECT event_id FROM target)
""",
        "delete_by_query": """
SELECT event_id, event_type, CAST(floor(value * 1e2) AS BIGINT) AS value_u
FROM events WHERE NOT coalesce(event_type = 'error' OR value > 150, FALSE)
""",
        "update_by_query": """
SELECT event_id, event_type,
       CAST(floor(CASE WHEN event_type = 'click' THEN value * 2.0 ELSE value END * 1e2) AS BIGINT) AS value_u,
       CASE WHEN event_type = 'click' THEN TRUE END AS boosted
FROM events
""",
        "exact_dedup": (
            "SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint, "
            "min(doc_id) AS keep_id, count(*) AS group_size FROM documents GROUP BY 1"
        ),
        # CAST(... AS BIGINT): DuckDB sum() returns HUGEINT which pandas
        # renders as float64 — cast keeps the integer repr the driver hashes.
        # coalesce(...): empty token arrays must yield 0 (matching Spark's
        # F.aggregate init value), not NULL.
        "token_counts": f"""
SELECT doc_id,
       len(regexp_split_to_array(trim(text), '\\s+')) AS ws_tokens,
       len({_TOKS}) AS word_tokens,
       CAST(coalesce((SELECT sum(CASE WHEN len(t) <= 4 THEN 1 ELSE CAST(ceil(len(t)/4.0) AS BIGINT) END)
        FROM unnest({_TOKS}) AS u(t)), 0) AS BIGINT) AS bpe_est_tokens
FROM documents ORDER BY doc_id
""",
        "highlight": f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS tokens FROM documents),
h AS (
  SELECT doc_id, tokens,
         list_filter(generate_series(1, len(tokens)),
                     i -> list_contains(['data', 'join', 'query'], tokens[i])) AS hits
  FROM toks
)
SELECT doc_id, len(hits) AS n_hits, list_min(hits) AS first_pos,
       array_to_string(list_transform(
         tokens[greatest(list_min(hits) - 5, 1) : greatest(list_min(hits) - 5, 1) + 10],
         t -> CASE WHEN list_contains(['data', 'join', 'query'], t)
                   THEN '<em>' || t || '</em>' ELSE t END), ' ') AS fragment
FROM h WHERE len(hits) > 0 ORDER BY doc_id
""",
        "fingerprints": (
            "SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint, "
            "CAST(concat('0x', substr(md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')), 1, 15)) AS BIGINT) AS fp60 "
            "FROM documents"
        ),
        "lang_id": _lang_id_sql(),
        "quality_score": _quality_sql(),
        # n_probe == n_lists ⇒ IVF degenerates to exact search: same oracle
        # as the brute-force cosine top-k
        "ivf_ann_topk": """
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id,
         list_dot_product(e.embedding::DOUBLE[], q.qv)
           / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
              * sqrt(list_dot_product(q.qv, q.qv))) AS cosine
  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0
)
SELECT vec_id, CAST(floor(cosine * 1e6) AS BIGINT) AS cosine_u,
       CAST(row_number() OVER (ORDER BY cosine DESC, vec_id ASC) AS INT) AS rank
FROM scored ORDER BY cosine DESC, vec_id ASC LIMIT 10
""",
        "pq_ann_topk": """
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id,
         list_dot_product(e.embedding::DOUBLE[], q.qv)
           / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
              * sqrt(list_dot_product(q.qv, q.qv))) AS cosine
  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0
)
SELECT vec_id, CAST(floor(cosine * 1e6) AS BIGINT) AS cosine_u,
       CAST(row_number() OVER (ORDER BY cosine DESC, vec_id ASC) AS INT) AS rank
FROM scored ORDER BY cosine DESC, vec_id ASC LIMIT 10
""",
        "bm25_wand_index": bm25_topk_sql("documents", FLAGSHIP_TERMS, k=10),
        # suggester df = docs containing the term (distinct per doc), like
        # the index's term_stats
        "suggest": f"""
WITH t AS (SELECT doc_id, unnest(list_distinct({_TOKS})) AS term FROM documents)
SELECT term, count(*) AS df FROM t WHERE term LIKE 's%'
GROUP BY term ORDER BY df DESC, term ASC LIMIT 10
""",
        "knn_similarity": f"""
WITH q AS (SELECT [{", ".join(["1.0"] * 64)}]::DOUBLE[] AS qv),
scored AS (
  SELECT e.vec_id AS doc_id,
         list_dot_product(e.embedding::DOUBLE[], q.qv)
           / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
              * sqrt(list_dot_product(q.qv, q.qv))) AS cosine
  FROM embeddings e CROSS JOIN q
),
topk AS (
  SELECT doc_id, cosine,
         CAST(row_number() OVER (ORDER BY cosine DESC, doc_id ASC) AS INT)
           AS rank
  FROM scored ORDER BY cosine DESC, doc_id ASC LIMIT 10
)
SELECT doc_id, CAST(floor(cosine * 1e6) AS BIGINT) AS cosine_u, rank
FROM topk WHERE cosine >= 0.26 ORDER BY rank
""",
        "knn_query": f"""
WITH q AS (SELECT [{", ".join(["1.0"] * 64)}]::DOUBLE[] AS qv),
scored AS (
  SELECT e.vec_id AS doc_id,
         list_dot_product(e.embedding::DOUBLE[], q.qv)
           / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
              * sqrt(list_dot_product(q.qv, q.qv))) AS cosine
  FROM embeddings e CROSS JOIN q
)
SELECT doc_id, CAST(floor(cosine * 1e6) AS BIGINT) AS cosine_u,
       CAST(row_number() OVER (ORDER BY cosine DESC, doc_id ASC) AS INT) AS rank
FROM scored ORDER BY cosine DESC, doc_id ASC LIMIT 10
""",
        "knn_sorted": f"""
WITH q AS (SELECT [{", ".join(["1.0"] * 64)}]::DOUBLE[] AS qv),
scored AS (
  SELECT e.vec_id AS doc_id, e.label,
         list_dot_product(e.embedding::DOUBLE[], q.qv)
           / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
              * sqrt(list_dot_product(q.qv, q.qv))) AS cosine
  FROM embeddings e CROSS JOIN q
),
topk AS (
  SELECT doc_id, label, CAST(floor(cosine * 1e6) AS BIGINT) AS cosine_u,
         CAST(row_number() OVER (ORDER BY cosine DESC, doc_id ASC) AS INT)
           AS rank
  FROM scored ORDER BY cosine DESC, doc_id ASC LIMIT 10
)
SELECT doc_id, label, cosine_u, rank
FROM topk ORDER BY label DESC, rank ASC
""",
        "ngram_overlap_top20": f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS tokens FROM documents),
grams AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
    generate_series(1, greatest(len(tokens) - 1, 0)),
    i -> array_to_string(tokens[i:i+1], ' ')))) AS shingle
  FROM toks
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
FROM grams a JOIN grams b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
GROUP BY 1, 2 ORDER BY inter DESC, id_a ASC, id_b ASC LIMIT 20
""",
        "minhash_lsh_pairs": _minhash_sql(num_hashes=16, bands=8),
        "dedup_clusters": _dedup_clusters_sql(num_hashes=16, bands=8),
        "dedup_apply": _dedup_apply_sql(num_hashes=16, bands=8),
        "rank_eval_ndcg": """
WITH hits1 AS (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY doc_id ASC) AS BIGINT) AS rnk
  FROM (SELECT doc_id FROM documents WHERE lang = 'en'
        ORDER BY doc_id ASC LIMIT 5)
),
r1(rid, rating) AS (VALUES (3, 3), (7, 2), (11, 1), (2, 0)),
j1 AS (SELECT h.rnk, r.rating FROM hits1 h LEFT JOIN r1 r ON h.doc_id = r.rid),
d1 AS (SELECT
  coalesce(sum(CASE WHEN rating IS NOT NULL THEN
    CAST(floor((pow(2.0, rating) - 1.0) / log2(rnk + 1) * 1e9) AS BIGINT)
  END), 0) AS dcg_u,
  CAST(sum(CASE WHEN rating IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS unrated
  FROM j1),
i1 AS (SELECT sum(CAST(floor((pow(2.0, rating) - 1.0) / log2(rk + 1) * 1e9)
       AS BIGINT)) AS idcg_u
       FROM (SELECT rating, row_number() OVER (ORDER BY rating DESC) AS rk
             FROM r1 QUALIFY rk <= 5)),
hits2 AS (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY doc_id ASC) AS BIGINT) AS rnk
  FROM (SELECT doc_id FROM documents WHERE n_chars >= 300
        ORDER BY doc_id ASC LIMIT 5)
),
r2(rid, rating) AS (VALUES (0, 1), (1, 2), (2, 3), (5, 1)),
j2 AS (SELECT h.rnk, r.rating FROM hits2 h LEFT JOIN r2 r ON h.doc_id = r.rid),
d2 AS (SELECT
  coalesce(sum(CASE WHEN rating IS NOT NULL THEN
    CAST(floor((pow(2.0, rating) - 1.0) / log2(rnk + 1) * 1e9) AS BIGINT)
  END), 0) AS dcg_u,
  CAST(sum(CASE WHEN rating IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS unrated
  FROM j2),
i2 AS (SELECT sum(CAST(floor((pow(2.0, rating) - 1.0) / log2(rk + 1) * 1e9)
       AS BIGINT)) AS idcg_u
       FROM (SELECT rating, row_number() OVER (ORDER BY rating DESC) AS rk
             FROM r2 QUALIFY rk <= 5))
SELECT 'r1' AS request_id,
       CAST(floor(CASE WHEN i1.idcg_u > 0 THEN d1.dcg_u / i1.idcg_u
                       ELSE 0 END * 1e6) AS BIGINT) AS metric_u,
       d1.unrated AS unrated_docs
FROM d1, i1
UNION ALL
SELECT 'r2',
       CAST(floor(CASE WHEN i2.idcg_u > 0 THEN d2.dcg_u / i2.idcg_u
                       ELSE 0 END * 1e6) AS BIGINT),
       d2.unrated
FROM d2, i2
ORDER BY request_id
""",
        "msearch": """
SELECT 0 AS query_idx, doc_id, text, lang, source, n_chars
FROM documents WHERE doc_id IN (1, 5, 9)
UNION ALL
SELECT 1, doc_id, text, lang, source, n_chars FROM (
  SELECT * FROM documents WHERE lang = 'en'
  ORDER BY n_chars DESC, doc_id ASC LIMIT 5)
UNION ALL
SELECT 2, doc_id, text, lang, source, n_chars FROM (
  SELECT * FROM documents WHERE n_chars >= 400
  ORDER BY doc_id ASC LIMIT 4)
""",
        # sequence packing: global cumsum over doc_id order (sum() is
        # HUGEINT in DuckDB — cast); // is integer division on BIGINT
        "pack_documents": f"""
WITH toks AS (SELECT doc_id, len({_TOKS}) AS n_tokens FROM documents),
off AS (
  SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS "offset"
  FROM toks
)
SELECT doc_id, n_tokens, "offset",
       CAST("offset" // 512 AS BIGINT) AS pack_id,
       CAST("offset" % 512 AS BIGINT) AS pos_in_pack,
       CAST(CASE WHEN n_tokens > 0 THEN ("offset" + n_tokens - 1) // 512
                 ELSE "offset" // 512 END AS BIGINT) AS end_pack_id
FROM off ORDER BY doc_id
""",
        "chunk_documents": f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS tokens FROM documents),
s AS (
  SELECT doc_id, len(tokens) AS n, tokens,
         unnest(generate_series(1, len(tokens), 48)) AS start_pos
  FROM toks WHERE len(tokens) > 0
)
SELECT doc_id,
       CAST((start_pos - 1) // 48 AS BIGINT) AS chunk_id,
       CAST(start_pos AS BIGINT) AS start_pos,
       CAST(least(64, n - start_pos + 1) AS BIGINT) AS n_tokens,
       array_to_string(tokens[start_pos : start_pos + 63], ' ') AS chunk
FROM s ORDER BY doc_id, chunk_id
""",
        # md5-keyed stratified sample: first 15 md5 hex chars as a 60-bit
        # uniform; thresholds are binary-exact fractions of 2^60
        "stratified_sample": """
SELECT doc_id, lang FROM documents
WHERE CAST(concat('0x', substr(md5('sample|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS UBIGINT)
      < CAST(CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.25 WHEN 'fr' THEN 0.125
             ELSE 0.0 END * 1152921504606846976.0 AS UBIGINT)
ORDER BY doc_id
""",
        # SimHash: per-token md5 → first 8 bytes as uint64; bit k votes
        # +tf/−tf; signature bit k set iff vote > 0; exported as the int64
        # two's-complement view (matching Spark's LongType)
        "simhash_signatures": f"""
WITH toks AS (SELECT doc_id, unnest({_TOKS}) AS t FROM documents),
tf AS (SELECT doc_id, t, count(*) AS tf FROM toks GROUP BY 1, 2),
h AS (SELECT doc_id, tf, CAST(concat('0x', substr(md5(t), 1, 16)) AS UBIGINT) AS hv FROM tf),
votes AS (
  SELECT doc_id, k.k,
         sum(CASE WHEN (hv >> k.k) & 1 = 1 THEN tf ELSE -tf END) AS vote
  FROM h CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS k) k
  GROUP BY 1, 2
),
sig AS (
  SELECT doc_id,
         sum(CASE WHEN vote > 0 THEN CAST(1::UBIGINT << k AS HUGEINT) ELSE 0 END) AS s
  FROM votes GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(coalesce(CASE WHEN s >= 9223372036854775808 THEN s - 18446744073709551616 ELSE s END, 0) AS BIGINT) AS simhash
FROM documents d LEFT JOIN sig USING (doc_id) ORDER BY doc_id
""",
        "query_ast_bool": """
SELECT doc_id, lang, n_chars FROM documents
WHERE n_chars >= 200 AND n_chars < 400 AND lang <> 'zh'
ORDER BY n_chars DESC, doc_id ASC LIMIT 15
""",
        "query_ast_terms_prefix": """
SELECT doc_id, lang, n_chars FROM documents
WHERE lang IN ('en', 'de', 'fr') AND n_chars >= 100 AND lang NOT LIKE 'f%'
ORDER BY doc_id ASC LIMIT 40
""",
        "es_terms_agg": """
SELECT event_type AS key, count(*) AS doc_count,
       CAST(sum(CAST(floor(value * 1e2) AS BIGINT)) AS BIGINT) AS v_sum,
       count(value) AS v_cnt
FROM events GROUP BY 1
ORDER BY doc_count DESC, key ASC LIMIT 10
""",
        "es_date_histogram": """
SELECT date_trunc('day', ts) AS key, count(*) AS doc_count
FROM events WHERE value >= 10 GROUP BY 1
ORDER BY doc_count DESC, key ASC
""",
        "es_nested_agg": """
WITH leaf AS (
  SELECT event_type AS by_type_key, date_trunc('day', ts) AS per_day_key,
         count(*) AS doc_count,
         CAST(sum(CAST(floor(value * 1e2) AS BIGINT)) AS BIGINT) AS v_sum
  FROM events GROUP BY 1, 2
), parent AS (
  SELECT *, CAST(sum(doc_count) OVER (PARTITION BY by_type_key) AS BIGINT) AS by_type_doc_count
  FROM leaf
), ranked AS (
  SELECT *, dense_rank() OVER (ORDER BY by_type_doc_count DESC, by_type_key ASC) AS pr
  FROM parent
)
SELECT by_type_key, per_day_key, doc_count, v_sum, by_type_doc_count
FROM ranked WHERE pr <= 3
ORDER BY by_type_doc_count DESC, by_type_key ASC, doc_count DESC, per_day_key ASC
""",
        "es_filters_agg": """
SELECT 'big' AS key, count(*) AS doc_count,
       CAST(sum(CAST(floor(value * 1e2) AS BIGINT)) AS BIGINT) AS v_sum
FROM events WHERE value >= 100
UNION ALL
SELECT 'clicks', count(*), CAST(sum(CAST(floor(value * 1e2) AS BIGINT)) AS BIGINT)
FROM events WHERE event_type = 'click'
UNION ALL
SELECT 'errors', count(*), CAST(sum(CAST(floor(value * 1e2) AS BIGINT)) AS BIGINT)
FROM events WHERE event_type = 'error'
ORDER BY key ASC
""",
        "es_range_agg": """
SELECT 0 AS bucket_idx, '*-50' AS key, count(*) AS doc_count,
       CAST(sum(CAST(floor(value * 1e2) AS BIGINT)) AS BIGINT) AS v_sum
FROM events WHERE value < 50
UNION ALL
SELECT 1, '50-150', count(*), CAST(sum(CAST(floor(value * 1e2) AS BIGINT)) AS BIGINT)
FROM events WHERE value >= 50 AND value < 150
UNION ALL
SELECT 2, '100-*', count(*), CAST(sum(CAST(floor(value * 1e2) AS BIGINT)) AS BIGINT)
FROM events WHERE value >= 100
ORDER BY bucket_idx
""",
        "es_date_range_agg": """
SELECT 0 AS bucket_idx, '*-2024-01-08 00:00:00' AS key, count(*) AS doc_count
FROM events WHERE ts < TIMESTAMP '2024-01-08 00:00:00'
UNION ALL
SELECT 1, '2024-01-08 00:00:00-2024-01-15 00:00:00', count(*)
FROM events WHERE ts >= TIMESTAMP '2024-01-08 00:00:00' AND ts < TIMESTAMP '2024-01-15 00:00:00'
UNION ALL
SELECT 2, '2024-01-15 00:00:00-*', count(*)
FROM events WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
ORDER BY bucket_idx
""",
        "es_extended_stats": """
WITH q AS (SELECT CAST(floor(value * 1e2) AS BIGINT) AS v FROM events)
SELECT count(*) AS cnt,
       CAST(min(v) AS BIGINT) AS vmin,
       CAST(max(v) AS BIGINT) AS vmax,
       CAST(sum(v) AS BIGINT) AS vsum,
       CAST(floor(avg(v) * 1e2) AS BIGINT) AS vavg_u,
       CAST(sum(v * v) AS BIGINT) AS vsumsq,
       CAST(floor(var_pop(v) / 1e4) AS BIGINT) AS vvar_u,
       CAST(floor(stddev_pop(v) / 1e1) AS BIGINT) AS vstd_u
FROM q
""",
        "es_missing_agg": """
SELECT CAST(sum(CASE WHEN value > 100 THEN 0 ELSE 1 END) AS BIGINT) AS doc_count
FROM events
""",
        "es_significant_terms": """
WITH fg AS (SELECT event_type AS key, count(*) AS doc_count FROM events
            WHERE value >= 120.0 GROUP BY 1),
     bg AS (SELECT event_type AS key, count(*) AS bg_count FROM events GROUP BY 1),
     t AS (SELECT (SELECT count(*) FROM events WHERE value >= 120.0) AS fg_total,
                  (SELECT count(*) FROM events) AS bg_total)
SELECT key, doc_count, bg_count,
       CAST(floor((doc_count * 1.0 / fg_total - bg_count * 1.0 / bg_total)
            * ((doc_count * 1.0 / fg_total) / (bg_count * 1.0 / bg_total)) * 1e6) AS BIGINT) AS score_u
FROM fg JOIN bg USING (key) CROSS JOIN t
WHERE doc_count * 1.0 / fg_total > bg_count * 1.0 / bg_total
ORDER BY score_u DESC, key ASC LIMIT 5
""",
        "es_composite_agg": """
WITH b AS (SELECT event_type AS etype, date_trunc('day', ts) AS day,
                  count(*) AS doc_count
           FROM events GROUP BY 1, 2),
     o AS (SELECT *, row_number() OVER (ORDER BY etype, day) AS rn FROM b)
SELECT etype, day, doc_count FROM o WHERE rn > 8 ORDER BY etype, day LIMIT 8
""",
        "es_percentiles": """
SELECT CAST(floor(quantile_cont(value, 0.5) * 1e6) AS BIGINT) AS v_p50_u,
       CAST(floor(quantile_cont(value, 0.95) * 1e6) AS BIGINT) AS v_p95_u,
       CAST(floor(quantile_cont(value, 0.99) * 1e6) AS BIGINT) AS v_p99_u
FROM events
""",
        "es_top_hits": """
SELECT event_type, CAST(hit_rank AS INT) AS hit_rank, event_id,
       CAST(floor(value * 1e2) AS BIGINT) AS value_u
FROM (
  SELECT event_type, event_id, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id ASC) AS hit_rank
  FROM events
) WHERE hit_rank <= 3
""",
        "es_cardinality": "SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS users FROM events",
        "ann_cosine_topk": """
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id,
         list_dot_product(e.embedding::DOUBLE[], q.qv)
           / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
              * sqrt(list_dot_product(q.qv, q.qv))) AS cosine
  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0
)
SELECT vec_id, CAST(floor(cosine * 1e6) AS BIGINT) AS cosine_u,
       CAST(row_number() OVER (ORDER BY cosine DESC, vec_id ASC) AS INT) AS rank
FROM scored ORDER BY cosine DESC, vec_id ASC LIMIT 10
""",
        "tpch_q1_agg": """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(floor(l_quantity * 1e2) AS BIGINT)) AS BIGINT) AS sum_qty_u,
       CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 1e2) AS BIGINT)) AS BIGINT) AS revenue_u,
       count(*) AS count_order
FROM lineitem WHERE l_shipdate <= '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
        "join_topk_customers": """
SELECT c_custkey, c_name, CAST(sum(CAST(floor(o_totalprice * 1e2) AS BIGINT)) AS BIGINT) AS rev_u
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_custkey, c_name
ORDER BY rev_u DESC, c_custkey ASC LIMIT 25
""",
        "window_latest_event": """
SELECT user_id, event_id, event_type FROM (
  SELECT user_id, event_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id ASC) AS rn
  FROM events
) WHERE rn = 1
""",
        "union_distinct": """
SELECT DISTINCT user_id FROM (
  SELECT user_id FROM events WHERE event_type = 'error'
  UNION ALL
  SELECT user_id FROM events WHERE value > 150
)
""",
        "rollup_counts": """
SELECT coalesce(event_type, 'ALL') AS event_type,
       coalesce(day, 'ALL') AS day,
       count(*) AS n
FROM (SELECT event_type, strftime(ts, '%Y-%m-%d') AS day FROM events)
GROUP BY ROLLUP (event_type, day)
""",
    }


def _minhash_ctes(num_hashes: int = 16, bands: int = 8) -> str:
    """CTE chain toks→grams→sig→bands→pairs, shared by the pair oracle and
    the connected-components clusters oracle."""
    rows = num_hashes // bands
    # Carter-Wegman minhash (matches operators/dedup.py): one md5 per
    # shingle, hash k = a + k*b on its 48-bit hex halves (exact int64)
    mins = ",\n         ".join(
        f"min(CAST(concat('0x', substr(md5(shingle), 1, 12)) AS BIGINT)"
        f" + {k} * CAST(concat('0x', substr(md5(shingle), 13, 12)) AS BIGINT)) AS h{k}"
        for k in range(num_hashes)
    )
    band_rows = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {b} AS band, md5({expr}) AS bh FROM sig".format(
            b=bi,
            expr=" || '|' || ".join(f"h{bi * rows + r}" for r in range(rows)),
        )
        for bi in range(bands)
    )
    return f"""toks AS (SELECT doc_id, {_TOKS} AS tokens FROM documents),
grams AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
    generate_series(1, greatest(len(tokens) - 1, 0)),
    i -> array_to_string(tokens[i:i+1], ' ')))) AS shingle
  FROM toks
),
sig AS (
  SELECT doc_id,
         {mins}
  FROM grams GROUP BY doc_id
),
bands AS (
{band_rows}
),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_bands_shared
  FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)"""


def _minhash_sql(num_hashes: int = 16, bands: int = 8) -> str:
    return f"""
WITH {_minhash_ctes(num_hashes, bands)}
SELECT id_a, id_b, n_bands_shared FROM pairs
"""


def _dedup_clusters_sql(num_hashes: int = 16, bands: int = 8) -> str:
    """Transitive closure over the MinHash pair graph: cluster_id = min
    reachable doc id (recursive CTE — exact, the candidate graph at sf0.01
    is tiny)."""
    return f"""
WITH RECURSIVE {_minhash_ctes(num_hashes, bands)},
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach AS (
  SELECT src AS id, src AS r FROM edges
  UNION
  SELECT e.src AS id, re.r FROM edges e JOIN reach re ON re.id = e.dst
)
SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
FROM reach GROUP BY id ORDER BY doc_id
"""


def _dedup_apply_sql(num_hashes: int = 16, bands: int = 8) -> str:
    """The cleaned corpus after keep-canonical fuzzy dedup: documents
    minus every cluster member that is not its cluster's min id (same
    recursive closure as _dedup_clusters_sql)."""
    return f"""
WITH RECURSIVE {_minhash_ctes(num_hashes, bands)},
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach AS (
  SELECT src AS id, src AS r FROM edges
  UNION
  SELECT e.src AS id, re.r FROM edges e JOIN reach re ON re.id = e.dst
),
cl AS (SELECT id, min(r) AS m FROM reach GROUP BY id)
SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
FROM documents d
WHERE d.doc_id NOT IN (SELECT id FROM cl WHERE id <> m)
"""


def _lang_id_sql() -> str:
    from fluent_plugin_elasticsearch_spark.operators.textquality import LANG_MARKERS

    hits = []
    for lang in LANG_MARKERS:
        lst = ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
        hits.append(
            f"len(list_filter({_TOKS}, t -> t IN ({lst}))) AS {lang}_hits"
        )
    langs = sorted(LANG_MARKERS)
    best = "greatest(" + ", ".join(f"{lang}_hits" for lang in langs) + ")"
    pred = "CASE WHEN " + best + " = 0 THEN 'und' " + " ".join(
        f"WHEN {lang}_hits = {best} THEN '{lang}'" for lang in langs
    ) + " END"
    return f"""
WITH h AS (SELECT doc_id, {', '.join(hits)} FROM documents)
SELECT doc_id, {pred} AS predicted_lang, en_hits, de_hits, es_hits, fr_hits FROM h
"""


def _quality_sql() -> str:
    from fluent_plugin_elasticsearch_spark.operators.textquality import LANG_MARKERS

    en = ", ".join(f"'{m}'" for m in LANG_MARKERS["en"])
    return f"""
WITH feats AS (
  SELECT doc_id,
         length(text) AS n_chars,
         len({_TOKS}) AS n_tokens,
         length(text) * 1.0 / greatest(len({_TOKS}), 1) AS mean_tok_len,
         len(list_filter({_TOKS}, t -> t IN ({en}))) * 1.0 / greatest(len({_TOKS}), 1) AS stopword_ratio,
         length(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g')) * 1.0 / greatest(length(text), 1) AS alnum_ratio
  FROM documents
)
SELECT doc_id, n_tokens,
       CAST(floor((least(n_tokens / 100.0, 1.0) * 0.4
                   + least(stopword_ratio * 4.0, 1.0) * 0.3
                   + alnum_ratio * 0.3) * 1e6) AS BIGINT) AS quality_u,
       (n_tokens >= 10 AND mean_tok_len <= 12.0) AS keep
FROM feats
"""


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_bm25_topk(spark, "/root/testdata/sf0.001")
