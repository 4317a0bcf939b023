"""Sources (S1-S6), query AST (Q4), lifecycle (D1-D6), streaming ingest,
multimodal plumbing."""

import datetime as dt
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fluent_plugin_elasticsearch_spark.plans.query_ast import UnsupportedQuery, compile_query
from fluent_plugin_elasticsearch_spark.sinks.lifecycle import (
    TableManager,
    validate_data_stream_name,
)
from fluent_plugin_elasticsearch_spark.sources.scan import (
    index_scan,
    scroll_pages,
    sliced_scan,
    with_docinfo,
)
from fluent_plugin_elasticsearch_spark.streaming.ingest import IngestPipeline


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [Row(doc_id=i, lang="en" if i % 2 else "de", n=i * 10, index_name=f"idx-{i % 3}") for i in range(20)]
    )


def test_index_scan_pushdown(spark, docs, tmp_path):
    p = str(tmp_path / "t.parquet")
    docs.write.parquet(p)
    out = index_scan(spark, p, columns=["doc_id", "lang"], predicate="doc_id >= 10", size=5)
    assert out.count() == 5 and set(out.columns) == {"doc_id", "lang"}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(doc_id), GreaterThanOrEqual(doc_id,10)]" in plan


def test_sliced_scan(docs):
    assert sliced_scan(docs, 7).rdd.getNumPartitions() == 7


def test_scroll_pages_cover_all(docs):
    seen = []
    for page in scroll_pages(docs, "doc_id", page_size=6):
        ids = [r["doc_id"] for r in page]
        assert ids == sorted(ids)
        seen.extend(ids)
    assert seen == list(range(20))


def test_docinfo(docs):
    out = with_docinfo(docs, id_col="doc_id").collect()[0]
    assert out["@metadata"]["_id"] == str(out["doc_id"])
    assert out["@metadata"]["_index"] == out["index_name"]


def test_query_ast(docs):
    assert compile_query(docs, {"query": {"ids": {"values": [1, 2]}}}).count() == 2
    assert compile_query(docs, {"query": {"term": {"lang": "de"}}}).count() == 10
    out = compile_query(
        docs,
        {
            "query": {"bool": {"filter": [{"range": {"n": {"gte": 50, "lt": 100}}}],
                               "must_not": [{"term": {"lang": "de"}}]}},
            "sort": [{"n": {"order": "desc"}}],
            "size": 2,
        },
    ).collect()
    assert [r["n"] for r in out] == [90, 70]
    proj = compile_query(docs, {"query": {"match_all": {}}, "_source": False})
    assert proj.columns == ["doc_id"]
    with pytest.raises(UnsupportedQuery):
        compile_query(docs, {"query": {"span_near": {"clauses": []}}})
    # regexp: supported since round 3, anchored whole-value match
    assert compile_query(docs, {"query": {"regexp": {"lang": "e."}}}).count() == 10
    # fuzzy: term-level edit distance (supported since round 3)
    fz = compile_query(docs, {"query": {"fuzzy": {"lang": {"value": "enn", "fuzziness": 1}}}})
    assert fz.count() == 10  # 'en' at distance 1; 'de' at 3


def test_query_ast_from_offset(docs):
    # ES from/size: page = rows [from, from+size) of the sort order
    body = {"sort": [{"doc_id": {"order": "asc"}}], "size": 5}
    all_ids = [r["doc_id"] for r in compile_query(docs, {**body, "size": 20}).collect()]
    page = [r["doc_id"] for r in compile_query(docs, {**body, "from": 7}).collect()]
    assert page == all_ids[7:12]
    # from beyond the result set → empty page, not an error (ES behavior)
    assert compile_query(docs, {**body, "from": 100}).count() == 0


def test_query_ast_nested(spark):
    rows = [
        Row(doc_id=0, evs=[Row(t="buy", v=95.0), Row(t="view", v=10.0)]),
        # matches only if BOTH sub-clauses hold in the SAME element:
        # has a "buy" and has v>=90, but never together → must NOT match
        Row(doc_id=1, evs=[Row(t="buy", v=10.0), Row(t="view", v=95.0)]),
        Row(doc_id=2, evs=[]),
        Row(doc_id=3, evs=None),
    ]
    d = spark.createDataFrame(
        rows, "doc_id long, evs array<struct<t:string, v:double>>")
    body = {"query": {"nested": {"path": "evs", "query": {"bool": {"must": [
        {"term": {"evs.t": "buy"}}, {"range": {"evs.v": {"gte": 90}}}]}}}}}
    assert [r["doc_id"] for r in compile_query(d, body).collect()] == [0]
    # single-clause nested over the empty/null arrays stays well-behaved
    one = {"query": {"nested": {"path": "evs", "query": {"term": {"evs.t": "view"}}}}}
    assert sorted(r["doc_id"] for r in compile_query(d, one).collect()) == [0, 1]


def test_query_ast_terms_prefix_wildcard(docs):
    n_de = compile_query(docs, {"query": {"term": {"lang": "de"}}}).count()
    n_en = compile_query(docs, {"query": {"term": {"lang": "en"}}}).count()
    assert compile_query(docs, {"query": {"terms": {"lang": ["de", "en"]}}}).count() == n_de + n_en
    # prefix/wildcard over the lang column ('d*' matches de; 'e?' matches en/es)
    assert compile_query(docs, {"query": {"prefix": {"lang": "d"}}}).count() == n_de
    wc = compile_query(docs, {"query": {"wildcard": {"lang": "e?"}}})
    assert set(r["lang"] for r in wc.select("lang").distinct().collect()) <= {"en", "es"}
    # regex metacharacters in the literal part must be escaped
    assert compile_query(docs, {"query": {"wildcard": {"lang": "d.e"}}}).count() == 0


def test_query_ast_match_routes_to_index(spark, index_dir):
    from fluent_plugin_elasticsearch_spark.operators.search import InvertedIndex

    idx = InvertedIndex(spark, index_dir)
    docs = idx.doc_stats()
    out = compile_query(docs, {"query": {"match": {"text": "the"}}, "size": 5}, index=idx)
    rows = out.collect()
    assert len(rows) == 5
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores, reverse=True)


SCHEMA = T.StructType([T.StructField("a", T.LongType()), T.StructField("b", T.StringType())])


def test_lifecycle_template_and_rollover(spark, tmp_path):
    tm = TableManager(spark, str(tmp_path))
    assert tm.install_template("logs", SCHEMA, {"p": 1})
    assert not tm.install_template("logs", SCHEMA)  # idempotent (D1)
    tm.inject_ilm_settings("logs", {"max_size_bytes": 1, "retention_generations": 2})
    df = spark.range(100).withColumn("b", F.lit("x")).withColumnRenamed("id", "a")
    tm.write_append("logs", df)
    act = tm.maintain("logs")
    assert act["rolled"] == 2  # size threshold 1 byte → rollover (D4/D5)
    tm.write_append("logs", df)
    assert tm.read("logs").count() == 200
    assert tm.read("logs", all_generations=False).count() == 100
    tm.maintain("logs")  # rolls to gen 3, expires gen 1 (retention 2)
    gens = tm._load("logs")["generations"]
    assert 1 not in gens


def test_custom_template_substitution(spark, tmp_path):
    tm = TableManager(spark, str(tmp_path))
    tm.install_custom_template("c1", SCHEMA, {"alias": "logs-{env}"}, {"env": "prod"})
    assert tm._load("c1")["properties"]["alias"] == "logs-prod"


@pytest.mark.parametrize("bad", ["UPPER", "has space", "-lead", "a,b", "x" * 256])
def test_data_stream_name_validation(bad):
    with pytest.raises(ValueError):
        validate_data_stream_name(bad)


def test_data_stream_bootstrap(spark, tmp_path):
    tm = TableManager(spark, str(tmp_path))
    assert tm.bootstrap_data_stream("logs-app-prod", SCHEMA)
    assert not tm.bootstrap_data_stream("logs-app-prod", SCHEMA)  # once per stream


def test_ingest_pipeline_batch_and_create_dedup(spark, tmp_path):
    events = spark.createDataFrame(
        [
            Row(time=dt.datetime(2024, 1, 1, 5), user="u1", msg="a"),
            Row(time=dt.datetime(2024, 1, 2, 5), user="u2", msg="b"),
        ]
    )
    pipe = IngestPipeline(str(tmp_path), id_keys=["user", "msg"], write_op="create")
    pipe.run_batch(events, 0)
    docs = spark.read.parquet(str(tmp_path / "docs"))
    assert docs.count() == 2
    assert set(docs.select("index_name").toPandas()["index_name"]) == {
        "logstash-2024.01.01", "logstash-2024.01.02",
    }
    assert "chunk_id" in docs.columns and "@timestamp" in docs.columns
    # re-ingest same events: create-op dedup → effectively-once
    stats = pipe.run_batch(events, 1)
    assert stats["duplicates"] == 2
    assert spark.read.parquet(str(tmp_path / "docs")).count() == 2


def test_create_op_stores_one_doc_per_id(spark, tmp_path):
    """The same event twice in the first batch and again in the next one
    is stored once under write_op="create" (parquet sink)."""
    ev = Row(time=dt.datetime(2024, 1, 1, 5), user="u1", msg="a")
    pipe = IngestPipeline(str(tmp_path), id_keys=["user", "msg"], write_op="create")
    first = pipe.run_batch(spark.createDataFrame([ev, ev]), 0)
    assert spark.read.parquet(str(tmp_path / "docs")).count() == 1
    second = pipe.run_batch(spark.createDataFrame([ev, ev]), 1)
    assert spark.read.parquet(str(tmp_path / "docs")).count() == 1
    assert (first["duplicates"], second["duplicates"]) == (0, 1)


def test_streaming_ingest(spark, tmp_path):
    src_dir = str(tmp_path / "src")
    events = spark.createDataFrame(
        [Row(time=dt.datetime(2024, 1, 1, 5), user=f"u{i}", msg=f"m{i}") for i in range(10)]
    )
    events.write.parquet(src_dir)
    pipe = IngestPipeline(str(tmp_path / "out"), id_keys=["user"])
    stream = spark.readStream.schema(events.schema).parquet(src_dir)
    q = pipe.start_stream(stream, str(tmp_path / "ckpt"), trigger_sec=1)
    q.processAllAvailable()
    q.stop()
    assert spark.read.parquet(str(tmp_path / "out" / "docs")).count() == 10


def test_multimodal_plumbing(spark):
    from fluent_plugin_elasticsearch_spark.operators.multimodal import (
        extract_media_features,
        sample_frames,
        synthetic_media_df,
    )

    media = synthetic_media_df(spark, 12)
    feats = extract_media_features(media).collect()
    assert len(feats) == 12
    assert all(len(r["feature"]) == 3 and r["n_bytes"] > 0 for r in feats)
    # determinism: same payload → same fake decode
    again = {r["media_id"]: r["mean_intensity"] for r in extract_media_features(media).collect()}
    assert all(again[r["media_id"]] == r["mean_intensity"] for r in feats)
    frames = sample_frames(media, every_ms=1000)
    assert frames.filter(F.col("frame_ts_ms") % 1000 != 0).count() == 0


def test_multimodal_decoder_swap_point(spark):
    """Contract for the stub/real swap (operators/multimodal.py): installing
    a decoder via set_image_decoder changes ONLY the decode — schemas,
    batching, and feature shapes are identical either way."""
    from fluent_plugin_elasticsearch_spark.operators import multimodal as mm

    def _upper_left_decoder(payload: bytes):
        # nested so cloudpickle ships it by VALUE (test modules are not
        # importable on executors); constant white image — distinguishable
        # from the md5-seeded stub output
        import numpy as np

        return np.full((8, 8, 3), 255, dtype=np.uint8)

    media = mm.synthetic_media_df(spark, 6)
    stub_feats = {r["media_id"]: r["mean_intensity"]
                  for r in mm.extract_media_features(media).collect()}
    assert mm.get_image_decoder() is mm._decode_image_stub  # no codecs in image
    try:
        mm.set_image_decoder(_upper_left_decoder)
        real = mm.extract_media_features(media)
        rows = real.collect()
        assert real.schema == mm.FEATURE_SCHEMA
        assert all(r["mean_intensity"] == 255.0 for r in rows)
        assert all(stub_feats[r["media_id"]] != 255.0 for r in rows)
    finally:
        mm.set_image_decoder(None)


def test_es_response_envelope(spark, index_dir):
    from fluent_plugin_elasticsearch_spark.operators.search import (
        InvertedIndex,
        to_es_response,
    )

    idx = InvertedIndex(spark, index_dir)
    resp = to_es_response(idx.search("the of", k=5), index_name="webtext")
    assert resp["hits"]["total"] == {"value": 5, "relation": "eq"}
    hits = resp["hits"]["hits"]
    assert len(hits) == 5
    assert resp["hits"]["max_score"] == hits[0]["_score"]
    assert all(h["_index"] == "webtext" and h["_id"].isdigit() for h in hits)
    assert [h["_score"] for h in hits] == sorted((h["_score"] for h in hits), reverse=True)


@pytest.fixture(scope="module")
def text_docs(spark):
    rows = [
        Row(doc_id=0, text="fast table scan", source="alpha site"),
        Row(doc_id=1, text="slow join", source="fast mirror"),
        Row(doc_id=2, text="window agg fast", source="beta"),
        Row(doc_id=3, text="nothing here", source="gamma"),
        Row(doc_id=4, text="fast fast table", source="fast alpha"),
    ]
    return spark.createDataFrame(rows)


def test_multi_match_best_vs_most(text_docs):
    from fluent_plugin_elasticsearch_spark.operators.bm25 import multi_match_df

    best = {r["doc_id"]: r["score_u"]
            for r in multi_match_df(text_docs, ["fast"], ["text", "source"],
                                    k=10, match_type="best_fields").collect()}
    most = {r["doc_id"]: r["score_u"]
            for r in multi_match_df(text_docs, ["fast"], ["text", "source"],
                                    k=10, match_type="most_fields").collect()}
    # doc 4 matches in BOTH fields: most_fields sums, best_fields takes max
    assert most[4] > best[4]
    # doc 1 matches only in source; doc 3 matches nowhere
    assert 1 in best and 3 not in best
    # single-field matchers identical under both types
    assert best[1] == most[1]


def test_query_string_gate_and_score(text_docs):
    from fluent_plugin_elasticsearch_spark.operators.bm25 import query_string_df

    # 'fast AND table' → docs 0 and 4 only; 'OR join' admits doc 1
    got = {r["doc_id"] for r in
           query_string_df(text_docs, "fast AND table", k=10).collect()}
    assert got == {0, 4}
    got2 = {r["doc_id"] for r in
            query_string_df(text_docs, "fast AND table OR join", k=10).collect()}
    assert got2 == {0, 1, 4}


def test_compile_query_routes_multi_match_and_query_string(text_docs):
    out = compile_query(text_docs, {
        "query": {"multi_match": {"query": "fast table", "fields": ["text", "source"]}},
        "size": 3,
    })
    rows = out.collect()
    assert len(rows) == 3 and "score_u" in out.columns
    out2 = compile_query(text_docs, {
        "query": {"query_string": {"query": "fast AND table"}}, "size": 10,
    })
    assert {r["doc_id"] for r in out2.collect()} == {0, 4}


def test_query_ast_geo(spark):
    from fluent_plugin_elasticsearch_spark.plans.query_ast import parse_distance

    assert parse_distance("10km") == 10000.0
    assert parse_distance("500m") == 500.0
    assert parse_distance("1mi") == 1609.344
    assert parse_distance(250) == 250.0
    rows = [
        Row(doc_id=0, loc=Row(lat=0.0, lon=0.0)),
        Row(doc_id=1, loc=Row(lat=0.0, lon=1.0)),    # ~111 km east
        Row(doc_id=2, loc=Row(lat=50.0, lon=0.0)),
        Row(doc_id=3, loc=Row(lat=0.05, lon=0.05)),  # ~8 km
    ]
    d = spark.createDataFrame(rows, "doc_id long, loc struct<lat:double, lon:double>")
    near = compile_query(d, {"query": {"geo_distance": {
        "distance": "50km", "loc": {"lat": 0.0, "lon": 0.0}}}})
    assert sorted(r["doc_id"] for r in near.collect()) == [0, 3]
    box = compile_query(d, {"query": {"geo_bounding_box": {"loc": {
        "top_left": {"lat": 10, "lon": -0.5}, "bottom_right": {"lat": -10, "lon": 0.5}}}}})
    assert sorted(r["doc_id"] for r in box.collect()) == [0, 3]
    # dateline wrap (left lon > right lon): [170, 180] ∪ [-180, -170]
    d2 = spark.createDataFrame(
        [Row(doc_id=0, loc=Row(lat=0.0, lon=175.0)),
         Row(doc_id=1, loc=Row(lat=0.0, lon=-175.0)),
         Row(doc_id=2, loc=Row(lat=0.0, lon=0.0)),
         Row(doc_id=3, loc=Row(lat=40.0, lon=178.0))],
        "doc_id long, loc struct<lat:double, lon:double>")
    wrap = compile_query(d2, {"query": {"geo_bounding_box": {"loc": {
        "top_left": {"lat": 10, "lon": 170}, "bottom_right": {"lat": -10, "lon": -170}}}}})
    assert sorted(r["doc_id"] for r in wrap.collect()) == [0, 1]


def test_date_math():
    from fluent_plugin_elasticsearch_spark.plans.query_ast import resolve_date_math

    now = dt.datetime(2026, 8, 17, 13, 45, 30)
    assert resolve_date_math("now-7d", now) == dt.datetime(2026, 8, 10, 13, 45, 30)
    assert resolve_date_math("now-7d/d", now) == dt.datetime(2026, 8, 10)
    assert resolve_date_math("now/w", now) == dt.datetime(2026, 8, 17)  # monday
    assert resolve_date_math("now+1M/M", now) == dt.datetime(2026, 9, 1)
    assert resolve_date_math("now-1y/y", now) == dt.datetime(2025, 1, 1)
    # anchored date with || and month-end clamping
    assert resolve_date_math("2024-01-31||+1M", None) == dt.datetime(2024, 2, 29)
    assert resolve_date_math("2024-01-01||+2h+30m", None) == dt.datetime(2024, 1, 1, 2, 30)
    with pytest.raises(UnsupportedQuery):
        resolve_date_math("yesterday", None)
    with pytest.raises(UnsupportedQuery):
        resolve_date_math("now-7q", None)


def test_range_date_math_clause(spark):
    rows = [Row(doc_id=i, ts=dt.datetime(2024, 3, 1 + i)) for i in range(14)]
    d = spark.createDataFrame(rows)
    now = dt.datetime(2024, 3, 10, 15, 30)
    out = compile_query(d, {"query": {"range": {"ts": {
        "gte": "now-3d/d", "lt": "now/d", "_now": now}}}})
    # [2024-03-07, 2024-03-10) → days 7, 8, 9 → doc_ids 6, 7, 8
    assert sorted(r["doc_id"] for r in out.collect()) == [6, 7, 8]


def test_range_string_bound_starting_with_now_is_not_date_math(spark):
    """ADVICE r5: {"gte": "nowhere"} is a plain string bound — only the
    FULL date-math grammar routes to resolve_date_math."""
    rows = [Row(doc_id=0, word="alpha"), Row(doc_id=1, word="nowhere"),
            Row(doc_id=2, word="zulu"), Row(doc_id=3, word="now")]
    d = spark.createDataFrame(rows)
    out = compile_query(d, {"query": {"range": {"word": {"gte": "nowhere"}}}})
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 2]
    # bare "now" (no ops) IS date math and must still resolve
    ts_rows = [Row(doc_id=0, ts=dt.datetime(2000, 1, 1)),
               Row(doc_id=1, ts=dt.datetime(2100, 1, 1))]
    d2 = spark.createDataFrame(ts_rows)
    out2 = compile_query(d2, {"query": {"range": {"ts": {
        "gte": "now", "_now": dt.datetime(2050, 1, 1)}}}})
    assert [r["doc_id"] for r in out2.collect()] == [1]


def test_min_score_filters_hits(spark, index_dir):
    from fluent_plugin_elasticsearch_spark.operators.search import InvertedIndex

    idx = InvertedIndex(spark, index_dir)
    docs = idx.doc_stats()
    full = compile_query(docs, {"query": {"match": {"text": "the"}}, "size": 5},
                         index=idx).collect()
    bar = full[2]["score"]  # cut below the 3rd hit's score
    cut = compile_query(docs, {"query": {"match": {"text": "the"}}, "size": 5,
                               "min_score": bar}, index=idx).collect()
    assert [r["doc_id"] for r in cut] == [r["doc_id"] for r in full if r["score"] >= bar]


def test_runtime_mappings(spark):
    rows = [Row(doc_id=i, a=float(i), b=float(10 - i)) for i in range(10)]
    d = spark.createDataFrame(rows)
    out = compile_query(d, {
        "runtime_mappings": {"score": {"type": "double",
                                       "script": {"source": "a * 2 + b"}}},
        "query": {"range": {"score": {"gte": 12}}},
        "sort": [{"doc_id": {"order": "asc"}}],
    })
    got = [(r["doc_id"], r["score"]) for r in out.collect()]
    want = [(i, i * 2.0 + (10 - i)) for i in range(10) if i * 2 + (10 - i) >= 12]
    assert got == want
    # unknown field names in the script raise (safe grammar, no eval)
    with pytest.raises(UnsupportedQuery):
        compile_query(d, {"runtime_mappings": {
            "x": {"script": {"source": "nope + 1"}}}}).collect()


def test_search_template_rendering():
    from fluent_plugin_elasticsearch_spark.plans.query_ast import (
        render_search_template)

    out = render_search_template(
        {"query": {"term": {"lang": "{{lang}}"}}, "size": "{{k}}",
         "note": "got {{lang}} here", "keep": 7},
        {"lang": "en", "k": 3})
    assert out == {"query": {"term": {"lang": "en"}}, "size": 3,
                   "note": "got en here", "keep": 7}
    # missing params render empty, mustache-style
    assert render_search_template({"a": "{{gone}}"}, {}) == {"a": ""}


def test_script_score_and_distance_feature(spark):
    rows = [Row(doc_id=i, n=float(i * 10), ts=dt.datetime(2024, 1, 1 + i))
            for i in range(10)]
    d = spark.createDataFrame(rows)
    out = compile_query(d, {"query": {"script_score": {
        "query": {"range": {"n": {"gte": 30}}},
        "script": {"source": "n * 2"}}}, "size": 3}).collect()
    assert [(r["doc_id"], r["score_u"]) for r in out] == [
        (9, 180000000), (8, 160000000), (7, 140000000)]
    df = compile_query(d, {"query": {"distance_feature": {
        "field": "ts", "origin": "2024-01-05T00:00:00", "pivot": "1d"}},
        "size": 3}).collect()
    # doc 4 (exactly at origin) scores boost*1.0 = 1e6, neighbors lower
    assert df[0]["doc_id"] == 4 and df[0]["score_u"] == 1000000
    assert {df[1]["doc_id"], df[2]["doc_id"]} == {3, 5}


def test_source_includes_excludes_and_index_patterns(docs):
    from fluent_plugin_elasticsearch_spark.sources.scan import (
        index_pattern_filter)

    out = compile_query(docs, {"_source": {"includes": ["lang", "n*"],
                                           "excludes": ["n"]}})
    assert out.columns == ["doc_id", "lang"]
    out2 = compile_query(docs, {"_source": {"excludes": ["index_*"]}})
    assert "index_name" not in out2.columns and "lang" in out2.columns
    # index patterns over the index_name column (idx-0 / idx-1 / idx-2)
    assert index_pattern_filter(docs, "idx-*").count() == 20
    assert index_pattern_filter(docs, "idx-0,idx-2").count() == 13
    assert index_pattern_filter(docs, "idx-?").count() == 20
    assert index_pattern_filter(docs, "nope-*").count() == 0


def test_case_insensitive_term_prefix_wildcard(spark):
    rows = [Row(doc_id=0, tag="Alpha"), Row(doc_id=1, tag="ALPHA"),
            Row(doc_id=2, tag="beta"), Row(doc_id=3, tag="AlphaBet")]
    d = spark.createDataFrame(rows)
    q = lambda body: sorted(  # noqa: E731
        r["doc_id"] for r in compile_query(d, {"query": body}).collect())
    assert q({"term": {"tag": {"value": "alpha", "case_insensitive": True}}}) == [0, 1]
    assert q({"term": {"tag": {"value": "alpha"}}}) == []
    assert q({"prefix": {"tag": {"value": "alpha", "case_insensitive": True}}}) == [0, 1, 3]
    assert q({"wildcard": {"tag": {"value": "*bet", "case_insensitive": True}}}) == [3]
    assert q({"wildcard": {"tag": {"value": "*bet"}}}) == []


def test_range_string_bound_containing_now_is_not_date_math(spark):
    """ADVICE r4 (low): a plain string bound that merely CONTAINS 'now'
    (e.g. 'knowledge') must compile as a string comparison, not date math."""
    rows = [Row(doc_id=i, title=t) for i, t in
            enumerate(["apple", "knowledge", "snow", "zebra"])]
    d = spark.createDataFrame(rows)
    out = compile_query(d, {"query": {"range": {"title": {"gte": "knowledge"}}}})
    assert sorted(r["title"] for r in out.collect()) == ["knowledge", "snow", "zebra"]
    # r5: a 'now'-PREFIXED string that is not full date-math grammar is
    # ALSO a plain string bound now (see
    # test_range_string_bound_starting_with_now_is_not_date_math)


def test_distance_feature_naive_date_origin_is_utc(spark):
    """ADVICE r4 (low): naive ISO date origins anchor in UTC, matching the
    UTC-epoch field side, regardless of driver timezone."""
    import datetime as _dt

    rows = [Row(doc_id=i, ts=_dt.datetime(2024, 1, 1 + i)) for i in range(5)]
    d = spark.createDataFrame(rows)
    body = {"query": {"distance_feature": {
        "field": "ts", "origin": "2024-01-03T00:00:00", "pivot": "1d"}},
        "size": 5}
    out = compile_query(d, body).collect()
    # doc at the origin scores highest: boost*pivot/(pivot+0) = 1.0
    assert out[0]["doc_id"] == 2
    top = [r["doc_id"] for r in out[:3]]
    assert set(top) == {1, 2, 3}  # symmetric neighbors next


def test_count_mget_msearch_apis(spark):
    from fluent_plugin_elasticsearch_spark.operators.apis import msearch
    from fluent_plugin_elasticsearch_spark.sources.scan import count_query, mget

    rows = [Row(doc_id=i, lang=["en", "fr"][i % 2], n_chars=100 + i * 10)
            for i in range(20)]
    d = spark.createDataFrame(rows)
    assert count_query(d, {"query": {"term": {"lang": "en"}}}).first()["count"] == 10
    assert count_query(d).first()["count"] == 20
    got = mget(d, [7, 3, 999, 0])
    assert [r["doc_id"] for r in got.collect()] == [7, 3, 0]  # request order, missing absent
    outs = msearch(d, [{"query": {"term": {"lang": "fr"}}},
                       {"query": {"range": {"n_chars": {"gte": 250}}},
                        "sort": [{"doc_id": "asc"}]}])
    assert outs[0].count() == 10
    assert [r["doc_id"] for r in outs[1].collect()] == list(range(15, 20))


def test_field_caps(spark):
    from fluent_plugin_elasticsearch_spark.sources.scan import field_caps

    d = spark.createDataFrame(
        [], "doc_id long, text string, emb array<float>, ok boolean,"
            " ts timestamp, raw binary, loc struct<lat:double, lon:double>")
    caps = {r["field"]: (r["type"], r["aggregatable"])
            for r in field_caps(d).collect()}
    assert caps["doc_id"] == ("long", True)
    assert caps["text"] == ("keyword", True)
    assert caps["emb"] == ("double", True)
    assert caps["ts"] == ("date", True)
    assert caps["raw"] == ("binary", False)
    assert caps["loc.lat"] == ("double", True)  # dotted nested path
