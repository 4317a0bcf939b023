"""ES aggregations compiler (plans/aggs.py): terms / date_histogram /
histogram buckets, metric + stats sub-aggs, query-filtered aggs, errors."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from fluent_plugin_elasticsearch_spark.plans.aggs import compile_aggs
from fluent_plugin_elasticsearch_spark.plans.query_ast import UnsupportedQuery


@pytest.fixture(scope="module")
def events(spark):
    rows = [
        Row(event_id=i,
            event_type=["click", "view", "error"][i % 3],
            ts=dt.datetime(2024, 1, 1 + i % 4, 8 + i % 5),
            value=float(i % 50))
        for i in range(300)
    ]
    return spark.createDataFrame(rows)


def test_terms_agg_order_and_size(events):
    out = compile_aggs(events, {"aggs": {"t": {"terms": {"field": "event_type", "size": 2}}}})
    rows = out["t"].collect()
    assert len(rows) == 2
    assert rows[0]["doc_count"] >= rows[1]["doc_count"]
    # tie on doc_count=100 → key asc
    assert [r["key"] for r in rows] == ["click", "error"]


def test_terms_with_metric_subaggs(events):
    out = compile_aggs(events, {
        "aggs": {"t": {"terms": {"field": "event_type"},
                       "aggs": {"v_avg": {"avg": {"field": "value"}},
                                "v_max": {"max": {"field": "value"}}}}}
    })
    rows = {r["key"]: r for r in out["t"].collect()}
    assert set(rows) == {"click", "view", "error"}
    assert all(r["v_max"] <= 49.0 and r["v_avg"] > 0 for r in rows.values())


def test_date_histogram_buckets(events):
    out = compile_aggs(events, {
        "aggs": {"d": {"date_histogram": {"field": "ts", "calendar_interval": "day"}}}
    })
    rows = out["d"].collect()
    assert len(rows) == 4
    assert sum(r["doc_count"] for r in rows) == 300
    assert all(r["key"].hour == 0 for r in rows)  # truncated to day


def test_numeric_histogram(events):
    out = compile_aggs(events, {"aggs": {"h": {"histogram": {"field": "value", "interval": 10.0}}}})
    rows = {r["key"]: r["doc_count"] for r in out["h"].collect()}
    assert set(rows) == {0.0, 10.0, 20.0, 30.0, 40.0}
    assert sum(rows.values()) == 300


def test_stats_and_query_filter(events):
    out = compile_aggs(events, {
        "query": {"term": {"event_type": "click"}},
        "aggs": {"s": {"stats": {"field": "value"}}},
    })
    r = out["s"].collect()[0]
    assert r["s_count"] == 100
    assert r["s_min"] == 0.0 and r["s_max"] == 49.0  # i=99 → click, 99%50=49
    assert r["s_sum"] == pytest.approx(r["s_avg"] * r["s_count"])


def test_percentiles_agg(events):
    out = compile_aggs(events, {
        "aggs": {"p": {"percentiles": {"field": "value", "percents": [50, 99]}}}
    })
    r = out["p"].collect()[0]
    assert r["p_p50"] <= r["p_p99"] <= 49.0
    assert list(out["p"].columns) == ["p_p50", "p_p99"]


def test_unsupported_agg_raises(events):
    with pytest.raises(UnsupportedQuery):
        compile_aggs(events, {"aggs": {"x": {"geo_line": {"field": "value"}}}})
    with pytest.raises(UnsupportedQuery):
        compile_aggs(events, {"aggs": {"x": {"date_histogram": {"field": "ts", "calendar_interval": "fortnight"}}}})


def test_top_hits_per_bucket(events):
    from fluent_plugin_elasticsearch_spark.plans.aggs import top_hits

    out = top_hits(events, "event_type", 2,
                   sort=[{"value": {"order": "desc"}}, {"event_id": {"order": "asc"}}])
    rows = out.collect()
    assert len(rows) == 6  # 3 buckets × 2
    by_bucket = {}
    for r in rows:
        by_bucket.setdefault(r["event_type"], []).append((r["hit_rank"], r["value"]))
    for b, hits in by_bucket.items():
        hits.sort()
        assert [h for h, _ in hits] == [1, 2]
        assert hits[0][1] >= hits[1][1]


def test_cardinality_exact_and_approx(events):
    out = compile_aggs(events, {"aggs": {"c": {"cardinality": {"field": "event_type"}}}})
    assert out["c"].collect()[0]["c"] == 3
    out2 = compile_aggs(events, {"aggs": {"c": {"cardinality": {"field": "event_type", "approximate": True}}}})
    assert out2["c"].collect()[0]["c"] == 3  # HLL++ exact at tiny cardinality


def test_nested_bucket_agg(events):
    """terms → date_histogram nesting: one flattened row per leaf bucket,
    parent doc_count = sum of its leaves, ES ordering parent-first."""
    out = compile_aggs(events, {
        "aggs": {"t": {
            "terms": {"field": "event_type"},
            "aggs": {"d": {
                "date_histogram": {"field": "ts", "calendar_interval": "day"},
                "aggs": {"v_sum": {"sum": {"field": "value"}}},
            }},
        }}
    })["t"]
    rows = out.collect()
    assert set(out.columns) == {"t_key", "d_key", "doc_count", "v_sum", "t_doc_count"}
    # parent count consistency
    by_parent = {}
    for r in rows:
        by_parent.setdefault(r["t_key"], []).append(r)
    for key, grp in by_parent.items():
        assert all(r["t_doc_count"] == sum(g["doc_count"] for g in grp) for r in grp)
    # ordering: parent blocks contiguous, parent count desc then key asc
    parent_seq = []
    for r in rows:
        if not parent_seq or parent_seq[-1][0] != r["t_key"]:
            parent_seq.append((r["t_key"], r["t_doc_count"]))
    assert parent_seq == sorted(parent_seq, key=lambda p: (-p[1], p[0]))
    # within parent: leaf doc_count desc then key asc
    for key, grp in by_parent.items():
        assert grp == sorted(grp, key=lambda r: (-r["doc_count"], r["d_key"]))


def test_nested_bucket_size_keeps_whole_subtrees(events):
    out = compile_aggs(events, {
        "aggs": {"t": {
            "terms": {"field": "event_type", "size": 2},
            "aggs": {"d": {"date_histogram": {"field": "ts", "calendar_interval": "day"}}},
        }}
    })["t"]
    rows = out.collect()
    parents = {r["t_key"] for r in rows}
    assert parents == {"click", "error"}  # 100/100/100 tie → key asc picks first two
    # every surviving parent keeps ALL its day buckets (4 days in fixture)
    for p in parents:
        assert len([r for r in rows if r["t_key"] == p]) == 4


def test_nested_child_size_is_per_parent(events):
    out = compile_aggs(events, {
        "aggs": {"t": {
            "terms": {"field": "event_type"},
            "aggs": {"d": {"date_histogram": {"field": "ts", "calendar_interval": "day",
                                              "size": 2}}},
        }}
    })["t"]
    rows = out.collect()
    by_parent = {}
    for r in rows:
        by_parent.setdefault(r["t_key"], []).append(r)
    assert all(len(g) == 2 for g in by_parent.values())


def test_nested_intermediate_metric_raises(events):
    with pytest.raises(UnsupportedQuery, match="leaf"):
        compile_aggs(events, {
            "aggs": {"t": {
                "terms": {"field": "event_type"},
                "aggs": {
                    "v": {"avg": {"field": "value"}},
                    "d": {"date_histogram": {"field": "ts", "calendar_interval": "day"}},
                },
            }}
        })


def test_filters_agg_buckets(events):
    out = compile_aggs(events, {
        "aggs": {"f": {
            "filters": {"filters": {
                "clicks": {"term": {"event_type": "click"}},
                "big": {"range": {"value": {"gte": 25}}},
            }},
            "aggs": {"v_sum": {"sum": {"field": "value"}}},
        }}
    })["f"]
    rows = {r["key"]: r for r in out.collect()}
    assert set(rows) == {"clicks", "big"}
    assert rows["clicks"]["doc_count"] == 100
    assert rows["big"]["doc_count"] == 150  # values 25..49 of 0..49 cycle


def test_range_agg_buckets(events):
    out = compile_aggs(events, {
        "aggs": {"r": {"range": {"field": "value",
                                 "ranges": [{"to": 10}, {"from": 10, "to": 30}, {"from": 30}]},
                       "aggs": {"v_avg": {"avg": {"field": "value"}}}}}
    })
    rows = out["r"].collect()
    assert [r["key"] for r in rows] == ["*-10", "10-30", "30-*"]
    # from inclusive, to exclusive: 300 events, value = i % 50 uniform
    assert rows[0]["doc_count"] == 60 and rows[1]["doc_count"] == 120 and rows[2]["doc_count"] == 120
    assert rows[0]["v_avg"] < 10 <= rows[1]["v_avg"] < 30 <= rows[2]["v_avg"]


def test_range_agg_overlap_counts_twice(events):
    out = compile_aggs(events, {
        "aggs": {"r": {"range": {"field": "value",
                                 "ranges": [{"to": 30}, {"from": 10}]}}}
    })
    rows = out["r"].collect()
    assert rows[0]["doc_count"] + rows[1]["doc_count"] > 300  # overlap [10,30)


def test_date_range_agg(events):
    out = compile_aggs(events, {
        "aggs": {"d": {"date_range": {"field": "ts", "ranges": [
            {"to": "2024-01-03 00:00:00"}, {"from": "2024-01-03 00:00:00"}]}}}
    })
    rows = out["d"].collect()
    assert rows[0]["doc_count"] + rows[1]["doc_count"] == 300
    assert rows[0]["doc_count"] == 150  # days 1,2 of the 4-day cycle


def test_extended_stats(events):
    out = compile_aggs(events, {"aggs": {"s": {"extended_stats": {"field": "value"}}}})
    r = out["s"].collect()[0]
    assert r["s_count"] == 300
    assert abs(r["s_variance"] - (r["s_sum_of_squares"] / r["s_count"] - (r["s_sum"] / r["s_count"]) ** 2)) < 1e-6
    assert abs(r["s_std_deviation"] ** 2 - r["s_variance"]) < 1e-6


def test_missing_agg(spark, events):
    withnull = events.withColumn(
        "maybe", F.when(F.col("event_id") % 5 == 0, F.lit(None).cast("double")).otherwise(F.col("value")))
    out = compile_aggs(withnull, {"aggs": {"m": {"missing": {"field": "maybe"}}}})
    assert out["m"].collect()[0]["doc_count"] == 60


def test_significant_terms_jlh(events):
    # foreground = high values; 'error' rows (i%3==2) never reach value>=40
    out = compile_aggs(events, {
        "query": {"range": {"value": {"gte": 40.0}}},
        "aggs": {"sig": {"significant_terms": {"field": "event_type", "size": 5}}},
    })
    rows = out["sig"].collect()
    keys = [r["key"] for r in rows]
    # only over-represented terms qualify; scores sorted desc
    assert all(rows[i]["score_u"] >= rows[i + 1]["score_u"] for i in range(len(rows) - 1))
    for r in rows:
        assert r["doc_count"] / 60 > r["bg_count"] / 300  # fg_rate > bg_rate
    assert "error" not in keys or rows[-1]["key"] != keys[0]


def test_composite_pagination_covers_all_buckets(events):
    body = {"aggs": {"c": {"composite": {
        "size": 3, "sources": [
            {"etype": {"terms": {"field": "event_type"}}},
            {"val": {"histogram": {"field": "value", "interval": 25.0}}},
        ]}}}}
    seen = []
    after = None
    while True:
        spec = dict(body["aggs"]["c"]["composite"])
        if after:
            spec["after"] = after
        out = compile_aggs(events, {"aggs": {"c": {"composite": spec}}})
        rows = out["c"].collect()
        if not rows:
            break
        seen += [(r["etype"], r["val"], r["doc_count"]) for r in rows]
        after = {"etype": rows[-1]["etype"], "val": rows[-1]["val"]}
        assert len(rows) <= 3
    # 3 types x 2 histogram buckets, each 50 docs; pages never overlap
    assert len(seen) == 6 and len(set(seen)) == 6
    assert all(c == 50 for _, _, c in seen)
    assert seen == sorted(seen)


def test_composite_with_metrics(events):
    out = compile_aggs(events, {"aggs": {"c": {"composite": {
        "size": 10, "sources": [{"etype": {"terms": {"field": "event_type"}}}]},
        "aggs": {"v_max": {"max": {"field": "value"}}}}}})
    rows = out["c"].collect()
    assert [r["etype"] for r in rows] == ["click", "error", "view"]
    assert all(r["v_max"] <= 49.0 for r in rows)


def test_weighted_avg(events):
    out = compile_aggs(events, {"aggs": {"w": {"weighted_avg": {
        "value": {"field": "value"}, "weight": {"field": "event_id"}}}}})
    r = out["w"].collect()[0]
    rows = events.select("value", "event_id").collect()
    want = sum(x["value"] * x["event_id"] for x in rows) / sum(x["event_id"] for x in rows)
    assert abs(r["w"] - want) < 1e-9


def test_adjacency_matrix(events):
    out = compile_aggs(events, {"aggs": {"adj": {"adjacency_matrix": {"filters": {
        "hot": {"range": {"value": {"gte": 40.0}}},
        "clicks": {"term": {"event_type": "click"}},
    }}}}})
    rows = {r["key"]: r["doc_count"] for r in out["adj"].collect()}
    assert set(rows) == {"clicks", "hot", "clicks&hot"}
    assert rows["hot"] == 60          # value = i%50, >= 40 → 10 of 50 → 60/300
    assert rows["clicks"] == 100
    assert rows["clicks&hot"] == sum(
        1 for i in range(300) if i % 3 == 0 and i % 50 >= 40)


def test_pipeline_aggs_derivative_cumsum_moving(events):
    out = compile_aggs(events, {"aggs": {"per_day": {
        "date_histogram": {"field": "ts", "calendar_interval": "day"},
        "aggs": {
            "v_sum": {"sum": {"field": "value"}},
            "diff": {"derivative": {"buckets_path": "v_sum"}},
            "cum": {"cumulative_sum": {"buckets_path": "v_sum"}},
            "ma2": {"moving_fn": {"buckets_path": "v_sum", "window": 2,
                                  "script": "avg"}},
            "sd2": {"serial_diff": {"buckets_path": "v_sum", "lag": 2}},
        }}}})["per_day"].collect()
    assert len(out) == 4  # 4-day cycle
    vs = [r["v_sum"] for r in out]
    assert out[0]["diff"] is None
    for i in range(1, 4):
        assert abs(out[i]["diff"] - (vs[i] - vs[i - 1])) < 1e-9
        assert abs(out[i]["ma2"] - (vs[i] + vs[i - 1]) / 2) < 1e-9
    assert abs(out[3]["cum"] - sum(vs)) < 1e-9
    assert out[1]["sd2"] is None and abs(out[2]["sd2"] - (vs[2] - vs[0])) < 1e-9


def test_pipeline_bucket_script_and_selector(events):
    out = compile_aggs(events, {"aggs": {"per_day": {
        "date_histogram": {"field": "ts", "calendar_interval": "day"},
        "aggs": {
            "v_sum": {"sum": {"field": "value"}},
            "avg_per_doc": {"bucket_script": {
                "buckets_path": {"s": "v_sum", "n": "doc_count"},
                "script": "s / n"}},
            "keep": {"bucket_selector": {
                "buckets_path": {"n": "doc_count"}, "script": "n >= 75"}},
        }}}})["per_day"].collect()
    for r in out:
        assert r["doc_count"] >= 75
        assert abs(r["avg_per_doc"] - r["v_sum"] / r["doc_count"]) < 1e-9


def test_pipeline_bucket_sort(events):
    out = compile_aggs(events, {"aggs": {"per_day": {
        "date_histogram": {"field": "ts", "calendar_interval": "day"},
        "aggs": {
            "v_sum": {"sum": {"field": "value"}},
            "top2": {"bucket_sort": {"sort": [{"v_sum": {"order": "desc"}}],
                                     "size": 2}},
        }}}})["per_day"].collect()
    assert len(out) == 2
    assert out[0]["v_sum"] >= out[1]["v_sum"]


def test_render_aggregations_envelope(events):
    from fluent_plugin_elasticsearch_spark.plans.aggs_response import (
        render_aggregations)

    body = {"aggs": {
        "by_type": {"terms": {"field": "event_type", "size": 3},
                    "aggs": {"v_avg": {"avg": {"field": "value"}}}},
        "v_stats": {"stats": {"field": "value"}},
        "users": {"value_count": {"field": "event_id"}},
    }}
    env = render_aggregations(compile_aggs(events, body), body)
    assert {b["key"] for b in env["by_type"]["buckets"]} == {"click", "view", "error"}
    b0 = env["by_type"]["buckets"][0]
    assert b0["doc_count"] == 100 and "value" in b0["v_avg"]
    assert env["v_stats"]["count"] == 300 and env["v_stats"]["max"] == 49.0
    assert env["users"]["value"] == 300


def test_render_nested_envelope(events):
    from fluent_plugin_elasticsearch_spark.plans.aggs_response import (
        render_aggregations)

    body = {"aggs": {"t": {
        "terms": {"field": "event_type", "size": 2},
        "aggs": {"d": {"date_histogram": {"field": "ts", "calendar_interval": "day"},
                       "aggs": {"v_max": {"max": {"field": "value"}}}}}}}}
    env = render_aggregations(compile_aggs(events, body), body)
    tops = env["t"]["buckets"]
    assert len(tops) == 2
    for tb in tops:
        assert tb["doc_count"] == sum(db["doc_count"] for db in tb["d"]["buckets"])
        for db in tb["d"]["buckets"]:
            assert db["v_max"]["value"] <= 49.0


def test_render_composite_envelope(events):
    from fluent_plugin_elasticsearch_spark.plans.aggs_response import (
        render_aggregations)

    body = {"aggs": {"c": {"composite": {
        "size": 4, "sources": [{"g": {"terms": {"field": "event_type"}}}]}}}}
    env = render_aggregations(compile_aggs(events, body), body)
    assert env["c"]["after_key"] == {"g": "view"}
    assert [b["key"]["g"] for b in env["c"]["buckets"]] == ["click", "error", "view"]


def test_render_range_agg_drops_bucket_idx(events):
    from fluent_plugin_elasticsearch_spark.plans.aggs_response import (
        render_aggregations)

    body = {"aggs": {"r": {"range": {"field": "value", "ranges": [
        {"to": 10}, {"from": 10, "to": 30}, {"from": 30}]}}}}
    env = render_aggregations(compile_aggs(events, body), body)
    assert [b["key"] for b in env["r"]["buckets"]] == ["*-10", "10-30", "30-*"]
    # the internal ordering helper must NOT leak into the envelope as a
    # fake metric
    for b in env["r"]["buckets"]:
        assert "bucket_idx" not in b


def test_render_aggregations_bucket_cap(events):
    from fluent_plugin_elasticsearch_spark.plans.aggs_response import (
        TooManyBuckets, render_aggregations)

    # event_id is high-cardinality (300 distinct); a cap below that must
    # raise instead of materializing the cardinality on the driver
    body = {"aggs": {"ids": {"terms": {"field": "event_id", "size": 300}}}}
    compiled = compile_aggs(events, body)
    with pytest.raises(TooManyBuckets):
        render_aggregations(compiled, body, max_buckets=100)
    # at/under the cap it renders fine
    env = render_aggregations(compile_aggs(events, body), body, max_buckets=300)
    assert len(env["ids"]["buckets"]) == 300


def test_top_hits_body_agg(events):
    body = {"aggs": {"t": {"terms": {"field": "event_type", "size": 2},
        "aggs": {"best": {"top_hits": {"size": 2,
            "sort": [{"value": {"order": "desc"}}],
            "_source": ["event_id", "value"]}}}}}}
    rows = compile_aggs(events, body)["t"].collect()
    assert len(rows) == 4  # 2 buckets x 2 hits
    assert [r["rank"] for r in rows] == [1, 2, 1, 2]
    # hits sorted by value desc within each bucket
    for i in (0, 2):
        assert rows[i]["value"] >= rows[i + 1]["value"]
    # mixing top_hits with sibling metrics raises (would need a join)
    bad = {"aggs": {"t": {"terms": {"field": "event_type"},
        "aggs": {"best": {"top_hits": {"size": 1, "sort": [{"value": "desc"}]}},
                 "m": {"avg": {"field": "value"}}}}}}
    with pytest.raises(Exception):
        compile_aggs(events, bad)


def test_geo_distance_agg(spark):
    import math

    rows = [Row(event_id=i, loc=Row(lat=0.0, lon=float(i)))
            for i in range(10)]  # ~111 km per degree of longitude at equator
    d = spark.createDataFrame(rows, "event_id long, loc struct<lat:double, lon:double>")
    out = compile_aggs(d, {"aggs": {"rings": {"geo_distance": {
        "field": "loc", "origin": {"lat": 0.0, "lon": 0.0}, "unit": "km",
        "ranges": [{"to": 250}, {"from": 250, "to": 600}, {"from": 600}]}}}})["rings"]
    rows_out = {r["key"]: r["doc_count"] for r in out.collect()}
    # lon 0,1,2 within 250 km; 3,4,5 in [250,600); 6..9 beyond
    assert rows_out == {"*-250": 3, "250-600": 3, "600-*": 4}


def test_textquality_pii_and_repetition(spark):
    from fluent_plugin_elasticsearch_spark.operators.textquality import (
        repetition_scores, scrub_pii)

    docs = spark.createDataFrame([
        Row(doc_id=0, text="mail me at bob@x.io or 10.1.2.3 card 1234 5678 9012 3456"),
        Row(doc_id=1, text="no pii here at all just words"),
    ])
    out = {r["doc_id"]: r for r in scrub_pii(docs).collect()}
    assert out[0]["n_email"] == 1 and out[0]["n_ipv4"] == 1
    assert "<EMAIL>" in out[0]["text"] and "<IP>" in out[0]["text"]
    assert "<CARD>" in out[0]["text"]
    assert out[1]["pii_total"] == 0 and out[1]["text"] == "no pii here at all just words"

    rep_docs = spark.createDataFrame([
        Row(doc_id=0, text="a b c a b c a b c"),     # 7 grams, 'a b c' x3
        Row(doc_id=1, text="one two three four"),     # 2 grams, all unique
        Row(doc_id=2, text="x y"),                    # < n tokens → no row
    ])
    rep = {r["doc_id"]: r for r in repetition_scores(rep_docs, n=3).collect()}
    assert set(rep) == {0, 1}
    assert rep[1]["dup_gram_frac_u"] == 0
    assert rep[0]["n_grams"] == 7
    # 'a b c' x3 + 'b c a' x2 + 'c a b' x2 = all 7 grams are duplicates
    assert rep[0]["dup_gram_frac_u"] == 1000000
    assert rep[0]["top_gram_frac_u"] == 428571  # floor(3/7 * 1e6)


def test_multi_terms_rare_terms_global_filter(events):
    body = {
        "query": {"range": {"value": {"gte": 25}}},
        "aggs": {
            "mt": {"multi_terms": {"terms": [{"field": "event_type"}], "size": 2}},
            "rare": {"rare_terms": {"field": "event_id", "max_doc_count": 1}},
            "g": {"global": {}},
            "f": {"filter": {"term": {"event_type": "error"}}},
        },
    }
    out = compile_aggs(events, body)
    mt = out["mt"].collect()
    assert len(mt) == 2 and mt[0]["doc_count"] >= mt[1]["doc_count"]
    # every event_id is unique → all filtered rows are rare at cap 1
    assert out["rare"].count() == out["g"].first()["doc_count"] / 2
    # global escapes the query filter: 300 total docs regardless
    assert out["g"].first()["doc_count"] == 300
    # filter bucket counts errors WITHIN the query filter
    assert out["f"].first()["doc_count"] == 50


def test_histogram_gap_filling(events, spark):
    # sparse filter → missing days must appear with doc_count 0
    body = {"query": {"term": {"event_type": "error"}},
            "aggs": {"d": {"date_histogram": {
                "field": "ts", "calendar_interval": "day", "min_doc_count": 0}}}}
    rows = compile_aggs(events, body)["d"].collect()
    keys = [r["key"] for r in rows]
    assert keys == sorted(keys)  # key order, not count order
    # dense axis: consecutive days with no holes
    assert len(keys) == (keys[-1] - keys[0]).days + 1
    # numeric histogram honors extended_bounds beyond the data
    body2 = {"aggs": {"h": {"histogram": {
        "field": "value", "interval": 20.0, "min_doc_count": 0,
        "extended_bounds": {"min": -40, "max": 80}}}}}
    rows2 = compile_aggs(events, body2)["h"].collect()
    assert rows2[0]["key"] == -40.0 and rows2[0]["doc_count"] == 0
    assert rows2[-1]["key"] >= 40.0
    ks = [r["key"] for r in rows2]
    assert ks == sorted(ks) and all(b - a == 20.0 for a, b in zip(ks, ks[1:]))
    # a fractional interval: the axis keys are the bucket keys exactly
    # (6 * 0.1 = 0.6000000000000001, not 0.1 + 5 * 0.1), so no doc is lost
    frac = spark.createDataFrame([Row(v=0.15), Row(v=0.35), Row(v=0.65)])
    rows3 = compile_aggs(frac, {"aggs": {"h": {"histogram": {
        "field": "v", "interval": 0.1, "min_doc_count": 0}}}})["h"].collect()
    assert [r["doc_count"] for r in rows3] == [1, 0, 1, 0, 0, 1]


@pytest.mark.parametrize("kind,inner", [
    ("range", {"field": "value", "ranges": []}),
    ("date_range", {"field": "ts", "ranges": []}),
    ("ip_range", {"field": "ip", "ranges": []}),
    ("geo_distance", {"field": "loc", "origin": {"lat": 0.0, "lon": 0.0}, "ranges": []}),
    ("filters", {"filters": {}}),
    ("adjacency_matrix", {"filters": {}}),
])
def test_empty_ranges_or_filters_raise(events, kind, inner):
    with pytest.raises(UnsupportedQuery, match=kind):
        compile_aggs(events, {"aggs": {"x": {kind: inner}}})


def test_ip_range_agg(spark):
    from fluent_plugin_elasticsearch_spark.plans.aggs import ip_to_long

    assert ip_to_long("0.0.0.1") == 1
    assert ip_to_long("10.0.0.0") == 10 * 2**24
    assert ip_to_long("255.255.255.255") == 2**32 - 1
    rows = [Row(i=i, ip=f"192.168.{i}.{i * 3 % 256}") for i in range(10)]
    d = spark.createDataFrame(rows)
    out = compile_aggs(d, {"aggs": {"r": {"ip_range": {"field": "ip", "ranges": [
        {"to": "192.168.5.0"},
        {"from": "192.168.5.0"},
        {"mask": "192.168.4.0/22"},  # covers .4 - .7
    ]}}}})["r"]
    got = {r["key"]: r["doc_count"] for r in out.collect()}
    assert got["*-192.168.5.0"] == 5
    assert got["192.168.5.0-*"] == 5
    assert got["192.168.4.0/22"] == 4


def test_auto_date_histogram(events):
    # events span 4 days x few hours: 10-bucket target → day interval
    out = compile_aggs(events, {"aggs": {"a": {
        "auto_date_histogram": {"field": "ts", "buckets": 10}}}})["a"]
    rows = out.collect()
    assert rows[0]["interval"] == "day"
    assert len(rows) == 4 and sum(r["doc_count"] for r in rows) == 300
    # tight target forces a coarser unit
    out2 = compile_aggs(events, {"aggs": {"a": {
        "auto_date_histogram": {"field": "ts", "buckets": 2}}}})["a"]
    assert out2.collect()[0]["interval"] in ("week", "month")


def test_terms_order_missing_include(events, spark):
    import datetime as _dt

    ev = events.withColumn(
        "event_type",
        F.when(F.col("event_id") % 3 == 0, None).otherwise(F.col("event_type")))
    body = {"aggs": {"t": {"terms": {
        "field": "event_type", "missing": "unknown", "size": 10,
        "order": {"_key": "asc"}}}}}
    rows = compile_aggs(ev, body)["t"].collect()
    keys = [r["key"] for r in rows]
    assert keys == sorted(keys) and "unknown" in keys
    # order by metric sub-agg
    body2 = {"aggs": {"t": {"terms": {"field": "event_type",
                                      "order": {"m": "asc"}, "size": 2},
                            "aggs": {"m": {"max": {"field": "value"}}}}}}
    rows2 = compile_aggs(events, body2)["t"].collect()
    assert rows2[0]["m"] <= rows2[1]["m"]
    # include regex
    body3 = {"aggs": {"t": {"terms": {"field": "event_type", "include": "c.*"}}}}
    assert [r["key"] for r in compile_aggs(events, body3)["t"].collect()] == ["click"]
    # exclude regex drops matching keys
    body4 = {"aggs": {"t": {"terms": {"field": "event_type", "exclude": "c.*|v.*"}}}}
    assert [r["key"] for r in compile_aggs(events, body4)["t"].collect()] == ["error"]

    # the same options on every level of a nested (terms > terms) path
    ev2 = events.withColumn("grp", F.concat(F.lit("g"), (F.col("event_id") % 4).cast("string")))

    def nested(top, child, leaf_aggs=None):
        child_spec = {"terms": {"field": "grp", **child}}
        if leaf_aggs:
            child_spec["aggs"] = leaf_aggs
        return compile_aggs(ev2, {"aggs": {"t": {"terms": {"field": "event_type", **top},
                                                 "aggs": {"g": child_spec}}}})["t"].collect()

    assert {r["t_key"] for r in nested({"include": "click|view"}, {})} == {"click", "view"}
    assert {r["t_key"] for r in nested({"exclude": "c.*|v.*"}, {})} == {"error"}
    # include/exclude drop buckets before the level's size cut
    assert {r["t_key"] for r in nested({"exclude": "click", "size": 1}, {})} == {"error"}
    # a child level's include/exclude leaves every parent's doc_count whole
    rows = nested({}, {"include": "g0|g1"})
    assert {r["g_key"] for r in rows} == {"g0", "g1"}
    assert all(r["t_doc_count"] == 100 for r in rows) and len(rows) == 6
    assert {r["g_key"] for r in nested({}, {"exclude": "g3"})} == {"g0", "g1", "g2"}
    # order by _key on both levels (all counts tie at 25 per leaf)
    rows = nested({"order": {"_key": "desc"}}, {"order": {"_key": "asc"}})
    assert [(r["t_key"], r["g_key"]) for r in rows] == [
        (t, g) for t in ("view", "error", "click") for g in ("g0", "g1", "g2", "g3")]
    # the leaf level may order by its metric; a parent level may not
    rows = nested({}, {"order": {"m": "desc"}, "size": 1},
                  {"m": {"max": {"field": "value"}}})
    assert len(rows) == 3
    for r in rows:
        top = max(e["value"] for e in events.filter(F.col("event_type") == r["t_key"])
                  .select("value").collect())
        assert r["m"] == top
    with pytest.raises(UnsupportedQuery, match="leaf"):
        nested({"order": {"m": "desc"}}, {}, {"m": {"max": {"field": "value"}}})


def test_gap_filled_histogram_with_pipeline_sub(events):
    """ADVICE r4 (medium): derivative under min_doc_count:0 — the canonical
    ES pairing — must gap-fill THEN differentiate over the filled series."""
    body = {"query": {"term": {"event_type": "error"}},
            "aggs": {"d": {
                "date_histogram": {"field": "ts", "calendar_interval": "day",
                                   "min_doc_count": 0},
                "aggs": {"diff": {"derivative": {"buckets_path": "_count"}}}}}}
    rows = compile_aggs(events, body)["d"].collect()
    keys = [r["key"] for r in rows]
    assert keys == sorted(keys)
    assert len(keys) == (keys[-1] - keys[0]).days + 1  # dense axis preserved
    assert rows[0]["diff"] is None  # first bucket has no predecessor
    for prev, cur in zip(rows, rows[1:]):
        assert cur["diff"] == cur["doc_count"] - prev["doc_count"]
    # metric sub-agg + pipeline over it also composes on the filled frame
    body2 = {"query": {"term": {"event_type": "error"}},
             "aggs": {"d": {
                 "date_histogram": {"field": "ts", "calendar_interval": "day",
                                    "min_doc_count": 0},
                 "aggs": {"v_sum": {"sum": {"field": "value"}},
                          "cum": {"cumulative_sum": {"buckets_path": "v_sum"}}}}}}
    rows2 = compile_aggs(events, body2)["d"].collect()
    running = 0.0
    for r in rows2:
        running += r["v_sum"] or 0.0
        assert abs((r["cum"] or running) - running) < 1e-9


def test_percentile_ranks_and_mad(events):
    out = compile_aggs(events, {"aggs": {"pr": {"percentile_ranks": {
        "field": "value", "values": [0.0, 24.0, 49.0]}}}})["pr"].first()
    # values are 0..49 uniformly (i % 50 over 300 docs): rank(49) = 100%
    assert out["pr_rank_49_u"] == 1_000_000
    assert out["pr_rank_0_u"] == 20_000   # 6/300
    assert out["pr_rank_24_u"] == 500_000  # 150/300
    mad = compile_aggs(events, {"aggs": {"m": {
        "median_absolute_deviation": {"field": "value"}}}})["m"].first()
    # median of 0..49 = 24.5; |x - 24.5| has median 12.5
    assert mad["m_u"] == 12_500_000


def test_top_metrics_and_geo_aggs(events, spark):
    tm = compile_aggs(events, {"aggs": {"t": {"top_metrics": {
        "metrics": [{"field": "event_id"}], "sort": [{"value": "desc"}],
        "size": 2}}}})["t"].collect()
    assert len(tm) == 2
    assert all(r["sort_value"] == 49.0 for r in tm)
    assert tm[0]["event_id"] < tm[1]["event_id"]  # deterministic tie-break
    geo = spark.createDataFrame(
        [Row(i=i, loc=Row(lat=10.25 + i, lon=-20.25 + i)) for i in range(4)],
        "i long, loc struct<lat:double, lon:double>")
    gc = compile_aggs(geo, {"aggs": {"c": {"geo_centroid": {"field": "loc"}}}})["c"].first()
    assert gc["c_lat"] == 11.75 and gc["c_lon"] == -18.75
    gt = compile_aggs(geo, {"aggs": {"g": {"geotile_grid": {
        "field": "loc", "precision": 2}}}})["g"].collect()
    # z=2 → 4x4 tiles; all four points land near (lat~10-13, lon~-20..-17):
    # x = floor((lon+180)/360*4) = 1, y: lat>0 → tile 1
    assert all(r["key"].startswith("2/") for r in gt)
    assert sum(r["doc_count"] for r in gt) == 4


def test_script_expr_math_functions(events, spark):
    from fluent_plugin_elasticsearch_spark.plans.aggs import _script_expr

    d = spark.createDataFrame([Row(x=4.0, y=-3.0)])
    row = d.select(
        _script_expr("sqrt(x)", {"x": "x"}).alias("a"),
        _script_expr("Math.abs(y)", {"y": "y"}).alias("b"),
        _script_expr("max(x, Math.abs(y), 1)", {"x": "x", "y": "y"}).alias("c"),
        _script_expr("Math.pow(x, 2) + min(x, y)", {"x": "x", "y": "y"}).alias("d"),
        _script_expr("floor(Math.exp(0))", {}).alias("e"),
    ).first()
    assert (row["a"], row["b"], row["c"], row["d"], row["e"]) == (2.0, 3.0, 4.0, 13.0, 1)
    with pytest.raises(UnsupportedQuery):
        _script_expr("__import__('os')", {})
    with pytest.raises(UnsupportedQuery):
        _script_expr("open('x')", {})
    with pytest.raises(UnsupportedQuery):
        _script_expr("x.foo(1)", {"x": "x"})


def test_categorize_text_and_sampler(spark, events):
    logs = spark.createDataFrame(
        [Row(doc_id=i,
             msg=f"error {1000 + i} connection refused host {i}" if i % 2
             else f"user {i} logged in from {i * 7}")
         for i in range(40)])
    out = compile_aggs(logs, {"aggs": {"c": {"categorize_text": {
        "field": "msg", "max_matched_tokens": 4}}}})["c"].collect()
    keys = {r["key"]: r["doc_count"] for r in out}
    # digits masked → two stable categories
    assert keys == {"error * connection refused": 20, "user * logged in": 20}
    smp = compile_aggs(events, {"aggs": {"s": {
        "sampler": {"shard_size": 50, "id_field": "event_id"},
        "aggs": {"m": {"max": {"field": "value"}}}}}})["s"].first()
    assert smp["doc_count"] == 50 and 0 < smp["m"] <= 49.0
    # deterministic: same sample every run
    smp2 = compile_aggs(events, {"aggs": {"s": {
        "sampler": {"shard_size": 50, "id_field": "event_id"},
        "aggs": {"m": {"max": {"field": "value"}}}}}})["s"].first()
    assert smp["m"] == smp2["m"]


def test_boxplot_geo_bounds_rate_string_stats(events, spark):
    b = compile_aggs(events, {"aggs": {"b": {"boxplot": {"field": "value"}}}})["b"].first()
    assert b["b_min"] == 0.0 and b["b_max"] == 49.0
    assert b["b_q1_u"] <= b["b_q2_u"] <= b["b_q3_u"]
    r = compile_aggs(events, {"aggs": {"r": {"rate": {"bucket_span_units": 4.0}}}})["r"].first()
    assert r["r_u"] == 7500  # 300 docs / 4 units = 75.00
    geo = spark.createDataFrame(
        [Row(loc=Row(lat=float(i), lon=float(-i))) for i in range(5)],
        "loc struct<lat:double, lon:double>")
    gb = compile_aggs(geo, {"aggs": {"g": {"geo_bounds": {"field": "loc"}}}})["g"].first()
    assert (gb["g_top"], gb["g_bottom"], gb["g_left"], gb["g_right"]) == (4.0, 0.0, -4.0, 0.0)
    txt = spark.createDataFrame([Row(t="aab"), Row(t="b")])
    ss = compile_aggs(txt, {"aggs": {"s": {"string_stats": {"field": "t"}}}})["s"].first()
    assert ss["s_count"] == 2 and ss["s_min_length"] == 1 and ss["s_max_length"] == 3
    # chars: a=2, b=2, N=4 → entropy = ln 2 ≈ 0.693147
    assert abs(ss["s_entropy_u"] - 693146) <= 2


def test_t_test_welch(events):
    import math

    out = compile_aggs(events, {"aggs": {"tt": {"t_test": {
        "field": "value",
        "a": {"filter": {"term": {"event_type": "click"}}},
        "b": {"filter": {"range": {"value": {"gte": 25}}}}}}}})["tt"].first()
    # brute-force Welch over the fixture
    a = [float(i % 50) for i in range(300) if i % 3 == 0]
    b = [float(i % 50) for i in range(300) if (i % 50) >= 25]
    def mv(xs):
        m = sum(xs) / len(xs)
        v = sum((x - m) ** 2 for x in xs) / (len(xs) - 1)
        return m, v
    (m1, v1), (m2, v2) = mv(a), mv(b)
    t = (m1 - m2) / math.sqrt(v1 / len(a) + v2 / len(b))
    assert out["n1"] == len(a) and out["n2"] == len(b)
    assert abs(out["tt_t_u"] - math.floor(t * 1e6)) <= 2


def test_variable_width_histogram(events):
    out = compile_aggs(events, {"aggs": {"v": {"variable_width_histogram": {
        "field": "value", "buckets": 5}}}})["v"].collect()
    assert 1 <= len(out) <= 5
    assert sum(r["doc_count"] for r in out) == 300
    keys = [r["key_u"] for r in out]
    assert keys == sorted(keys)
    for r in out:
        assert r["min"] <= r["key_u"] / 1e6 + 1 and r["max"] >= r["key_u"] / 1e6 - 1
    # buckets partition the value range without overlap
    for a, b in zip(out, out[1:]):
        assert a["max"] <= b["min"]
    # deterministic across reruns/partitioning
    again = compile_aggs(events.repartition(7),
                         {"aggs": {"v": {"variable_width_histogram": {
                             "field": "value", "buckets": 5}}}})["v"].collect()
    assert [tuple(r) for r in out] == [tuple(r) for r in again]


def test_sibling_bucket_aggs(events):
    out = compile_aggs(events, {"aggs": {
        "daily": {"date_histogram": {"field": "ts", "calendar_interval": "day"},
                  "aggs": {"v_sum": {"sum": {"field": "value"}}}},
        "ab": {"avg_bucket": {"buckets_path": "daily>v_sum"}},
        "sb": {"sum_bucket": {"buckets_path": "daily>v_sum"}},
        "nb": {"min_bucket": {"buckets_path": "daily>v_sum"}},
        "xb": {"max_bucket": {"buckets_path": "daily>v_sum"}},
        "st": {"stats_bucket": {"buckets_path": "daily>_count"}},
        "pb": {"percentiles_bucket": {"buckets_path": "daily>_count",
                                      "percents": [50]}},
    }})
    buckets = out["daily"].collect()
    sums = [r["v_sum"] for r in buckets]
    counts = sorted(r["doc_count"] for r in buckets)
    assert out["ab"].collect()[0]["ab_value"] == pytest.approx(sum(sums) / len(sums))
    assert out["sb"].collect()[0]["sb_value"] == pytest.approx(sum(sums))
    assert out["nb"].collect()[0]["nb_value"] == min(sums)
    assert out["xb"].collect()[0]["xb_value"] == max(sums)
    st = out["st"].collect()[0]
    assert (st["st_count"], st["st_min"], st["st_max"], st["st_sum"]) == (
        len(buckets), counts[0], counts[-1], 300)
    # exact linear-interpolation median of the per-day doc counts
    import statistics

    assert out["pb"].collect()[0]["pb_p50"] == pytest.approx(
        statistics.median(counts))


def test_sibling_bucket_errors(events):
    with pytest.raises(UnsupportedQuery, match="parent"):
        compile_aggs(events, {"aggs": {
            "ab": {"avg_bucket": {"buckets_path": "nope>v_sum"}}}})
    with pytest.raises(UnsupportedQuery, match="metric"):
        compile_aggs(events, {"aggs": {
            "daily": {"date_histogram": {"field": "ts",
                                         "calendar_interval": "day"}},
            "ab": {"avg_bucket": {"buckets_path": "daily>missing"}}}})
    with pytest.raises(UnsupportedQuery, match="sibling"):
        compile_aggs(events, {"aggs": {
            "daily": {"date_histogram": {"field": "ts",
                                         "calendar_interval": "day"}},
            "ab": {"avg_bucket": {"buckets_path": "daily"}}}})


def test_normalize_methods(events):
    out = compile_aggs(events, {"aggs": {
        "daily": {"date_histogram": {"field": "ts", "calendar_interval": "day"},
                  "aggs": {
                      "v_sum": {"sum": {"field": "value"}},
                      "pct": {"normalize": {"buckets_path": "v_sum",
                                            "method": "percent_of_sum"}},
                      "r01": {"normalize": {"buckets_path": "v_sum",
                                            "method": "rescale_0_1"}},
                      "z": {"normalize": {"buckets_path": "v_sum",
                                          "method": "z-score"}},
                      "sm": {"normalize": {"buckets_path": "_count",
                                           "method": "softmax"}}}},
    }})["daily"].collect()
    assert sum(r["pct"] for r in out) == pytest.approx(1.0)
    assert min(r["r01"] for r in out) == pytest.approx(0.0)
    assert max(r["r01"] for r in out) == pytest.approx(1.0)
    assert sum(r["z"] for r in out) == pytest.approx(0.0, abs=1e-9)
    assert sum(r["sm"] for r in out) == pytest.approx(1.0)
    with pytest.raises(UnsupportedQuery, match="normalize"):
        compile_aggs(events, {"aggs": {
            "daily": {"date_histogram": {"field": "ts",
                                         "calendar_interval": "day"},
                      "aggs": {"x": {"normalize": {"buckets_path": "_count",
                                                   "method": "nope"}}}}}})


def test_diversified_sampler(events):
    out = compile_aggs(events, {"aggs": {"d": {
        "diversified_sampler": {"shard_size": 60, "max_docs_per_value": 10,
                                "field": "event_type",
                                "id_field": "event_id"},
        "aggs": {"v_max": {"max": {"field": "value"}}}}}})["d"].collect()[0]
    # 3 event types x cap 10 = 30 eligible docs < shard_size
    assert out["doc_count"] == 30
    # cap binds: without it the sampler would fill all 60
    plain = compile_aggs(events, {"aggs": {"s": {
        "sampler": {"shard_size": 60, "id_field": "event_id"}}}})["s"].collect()[0]
    assert plain["doc_count"] == 60
    # deterministic across partitioning
    again = compile_aggs(events.repartition(7), {"aggs": {"d": {
        "diversified_sampler": {"shard_size": 60, "max_docs_per_value": 10,
                                "field": "event_type",
                                "id_field": "event_id"},
        "aggs": {"v_max": {"max": {"field": "value"}}}}}})["d"].collect()[0]
    assert tuple(out) == tuple(again)


def test_geohash_grid_matches_bisection_reference(spark):
    """The closed-form scale-floor-interleave geohash must equal the
    textbook bisection encoder char-for-char."""
    import random

    def ref_geohash(lat, lon, p):
        alpha = "0123456789bcdefghjkmnpqrstuvwxyz"
        lat_r, lon_r = [-90.0, 90.0], [-180.0, 180.0]
        bits, out, even, ch = 0, "", True, 0
        while len(out) < p:
            rng = lon_r if even else lat_r
            val = lon if even else lat
            mid = (rng[0] + rng[1]) / 2
            if val >= mid:
                ch, rng[0] = ch * 2 + 1, mid
            else:
                ch, rng[1] = ch * 2, mid
            even = not even
            bits += 1
            if bits == 5:
                out += alpha[ch]
                bits, ch = 0, 0
        return out

    random.seed(11)
    pts = [Row(i=i, loc=Row(lat=random.uniform(-89.9, 89.9),
                            lon=random.uniform(-179.9, 179.9)))
           for i in range(300)]
    df = spark.createDataFrame(pts)
    for p in (1, 4, 6):
        got = {r["key"]: r["doc_count"] for r in compile_aggs(
            df, {"aggs": {"g": {"geohash_grid": {
                "field": "loc", "precision": p, "size": 10000}}}}
        )["g"].collect()}
        want: dict[str, int] = {}
        for r in pts:
            k = ref_geohash(r.loc.lat, r.loc.lon, p)
            want[k] = want.get(k, 0) + 1
        assert got == want, p
    # poles/antimeridian clamp into the last cell, not out of range
    edge = spark.createDataFrame(
        [Row(i=0, loc=Row(lat=90.0, lon=180.0)),
         Row(i=1, loc=Row(lat=-90.0, lon=-180.0))])
    keys = [r["key"] for r in compile_aggs(
        edge, {"aggs": {"g": {"geohash_grid": {
            "field": "loc", "precision": 3}}}})["g"].collect()]
    assert sorted(keys) == ["000", "zzz"]
    with pytest.raises(UnsupportedQuery, match="precision"):
        compile_aggs(edge, {"aggs": {"g": {"geohash_grid": {
            "field": "loc", "precision": 13}}}})


def test_matrix_stats(spark):
    import math

    import numpy as np

    rng = np.random.RandomState(5)
    a = rng.randint(0, 1000, 150)
    b = a * 2 + rng.randint(0, 400, 150)
    df = spark.createDataFrame(
        [Row(i=int(i), a=int(x), b=int(y))
         for i, (x, y) in enumerate(zip(a, b))])
    out = compile_aggs(df, {"aggs": {"m": {"matrix_stats": {
        "fields": ["a", "b"]}}}})["m"].collect()[0]
    cov = np.cov(a, b, ddof=1)
    corr = np.corrcoef(a, b)[0, 1]
    assert out["m_count"] == 150
    assert out["m_a_mean_u"] == math.floor(a.mean() * 1e6)
    assert abs(out["m_a_var_u"] - math.floor(cov[0, 0] * 1e6)) <= 1
    assert abs(out["m_b_var_u"] - math.floor(cov[1, 1] * 1e6)) <= 1
    assert abs(out["m_a_b_cov_u"] - math.floor(cov[0, 1] * 1e6)) <= 1
    assert abs(out["m_a_b_corr_u"] - math.floor(corr * 1e9)) <= 2
    # identical on any partitioning (exact decimal moments)
    again = compile_aggs(df.repartition(13), {"aggs": {"m": {"matrix_stats": {
        "fields": ["a", "b"]}}}})["m"].collect()[0]
    assert tuple(out) == tuple(again)
    with pytest.raises(UnsupportedQuery, match="fields"):
        compile_aggs(df, {"aggs": {"m": {"matrix_stats": {"fields": ["a"]}}}})


def test_moving_percentiles(events):
    import statistics

    out = compile_aggs(events, {"aggs": {"d": {
        "date_histogram": {"field": "ts", "calendar_interval": "day"},
        "aggs": {"vs": {"sum": {"field": "value"}},
                 "mp": {"moving_percentiles": {
                     "buckets_path": "vs", "window": 3,
                     "percents": [50]}}}}}})["d"].collect()
    vals = [r["vs"] for r in out]
    for i, r in enumerate(out):
        win = vals[max(0, i - 2):i + 1]
        assert r["mp_p50"] == pytest.approx(statistics.median(win)), i


def test_frequent_item_sets(spark):
    rows = [Row(doc_id=i,
                color=["red", "red", "blue", "red"][i % 4],
                shape=["sq", "ci", "ci", "sq"][i % 4])
            for i in range(40)]
    docs = spark.createDataFrame(rows)
    out = compile_aggs(docs, {"aggs": {"f": {"frequent_item_sets": {
        "fields": [{"field": "color"}, {"field": "shape"}],
        "minimum_support": 0.2, "size": 10}}}})["f"].collect()
    got = {r["itemset"]: (r["set_size"], r["doc_count"]) for r in out}
    # 40 docs: 20x (red, sq), 10x (red, ci), 10x (blue, ci)
    assert got["color:red"] == (1, 30)
    assert got["color:red|shape:sq"] == (2, 20)
    assert got["color:blue|shape:ci"] == (2, 10)
    assert "color:blue|shape:sq" not in got  # support 0 pair absent
    # support threshold prunes: blue (0.25) in, nothing below 0.2
    assert all(c / 40 >= 0.2 for _s, c in got.values())
    with pytest.raises(UnsupportedQuery, match="maximum_set_size"):
        compile_aggs(docs, {"aggs": {"f": {"frequent_item_sets": {
            "fields": [{"field": "color"}], "maximum_set_size": 3}}}})


def test_geo_line(spark):
    rows = [Row(doc_id=i,
                loc=Row(lat=float(i), lon=float(-i)),
                seq=10 - i)  # sort field reverses the id order
            for i in range(6)]
    docs = spark.createDataFrame(rows)
    out = compile_aggs(docs, {"aggs": {"gl": {"geo_line": {
        "point": {"field": "loc"}, "sort": {"field": "seq"},
        "size": 4}}}})["gl"].collect()[0]
    # seq asc -> ids 5,4,3,2 (size cut drops ids 1,0)
    assert out["doc_count"] == 4
    assert out["gl_line"] == ("-5000000 5000000,-4000000 4000000,"
                              "-3000000 3000000,-2000000 2000000")
    # deterministic under repartitioning
    again = compile_aggs(docs.repartition(5), {"aggs": {"gl": {"geo_line": {
        "point": {"field": "loc"}, "sort": {"field": "seq"},
        "size": 4}}}})["gl"].collect()[0]
    assert tuple(out) == tuple(again)


def test_cumulative_cardinality(spark):
    # users appear across days; each counts once, at its FIRST day
    rows = [Row(ts=dt.datetime(2024, 1, d), user_id=u)
            for d, us in [(1, [1, 1, 2]), (2, [2, 3]), (3, [1, 4, 5]),
                          (4, [5])]
            for u in us]
    ev = spark.createDataFrame(rows)
    out = compile_aggs(ev, {"aggs": {"d": {
        "date_histogram": {"field": "ts", "calendar_interval": "day"},
        "aggs": {"u": {"cardinality": {"field": "user_id"}},
                 "cum": {"cumulative_cardinality": {"buckets_path": "u"}},
                 "churn": {"derivative": {"buckets_path": "cum"}}}}}})["d"]
    got = [(r["doc_count"], r["u"], r["cum"], r["churn"])
           for r in out.collect()]
    assert got == [(3, 2, 2, None), (2, 2, 3, 1), (3, 3, 5, 2), (1, 1, 5, 0)]
    # deterministic under repartitioning (exact, no sketch)
    again = compile_aggs(ev.repartition(7), {"aggs": {"d": {
        "date_histogram": {"field": "ts", "calendar_interval": "day"},
        "aggs": {"u": {"cardinality": {"field": "user_id"}},
                 "cum": {"cumulative_cardinality": {"buckets_path": "u"}}}}}})["d"]
    assert [r["cum"] for r in again.collect()] == [2, 3, 5, 5]


def test_cumulative_cardinality_raises(spark):
    ev = spark.createDataFrame([Row(ts=dt.datetime(2024, 1, 1), user_id=1,
                                    event_type="click")])
    with pytest.raises(UnsupportedQuery, match="histogram parent"):
        compile_aggs(ev, {"aggs": {"t": {
            "terms": {"field": "event_type"},
            "aggs": {"u": {"cardinality": {"field": "user_id"}},
                     "cum": {"cumulative_cardinality": {"buckets_path": "u"}}}}}})
    with pytest.raises(UnsupportedQuery, match="sibling"):
        compile_aggs(ev, {"aggs": {"d": {
            "date_histogram": {"field": "ts", "calendar_interval": "day"},
            "aggs": {"cum": {"cumulative_cardinality":
                             {"buckets_path": "nope"}}}}}})


def test_nested_reverse_nested_agg(spark):
    rows = [
        Row(doc_id=1, evs=[Row(t="a", v=10), Row(t="a", v=20),
                           Row(t="b", v=5)]),
        Row(doc_id=2, evs=[Row(t="a", v=1)]),
        Row(doc_id=3, evs=[Row(t="b", v=7), Row(t="b", v=8)]),
    ]
    nd = spark.createDataFrame(rows)
    out = compile_aggs(nd, {"aggs": {"e": {
        "nested": {"path": "evs"},
        "aggs": {"types": {"terms": {"field": "evs.t", "size": 10},
                           "aggs": {"docs": {"reverse_nested": {}},
                                    "vs": {"sum": {"field": "evs.v"}}}}},
    }}})["e"].collect()
    got = {r["key"]: (r["doc_count"], r["docs_doc_count"], r["vs"])
           for r in out}
    # 'a': 3 elements across docs 1,2; 'b': 3 elements across docs 1,3
    assert got == {"a": (3, 2, 31), "b": (3, 2, 20)}
    # bare nested agg counts ELEMENTS
    bare = compile_aggs(nd, {"aggs": {"e": {"nested": {"path": "evs"}}}})
    assert bare["e"].collect()[0]["doc_count"] == 6
    # field outside the path raises; missing doc_id raises
    with pytest.raises(UnsupportedQuery, match="evs"):
        compile_aggs(nd, {"aggs": {"e": {"nested": {"path": "evs"},
                                         "aggs": {"t": {"terms": {"field": "t"}}}}}})
    with pytest.raises(UnsupportedQuery, match="doc_id"):
        compile_aggs(nd.withColumnRenamed("doc_id", "x"),
                     {"aggs": {"e": {"nested": {"path": "evs"}}}})


def test_terms_include_partition(events):
    parts = []
    for p in range(3):
        out = compile_aggs(events, {"aggs": {"t": {"terms": {
            "field": "event_type", "size": 10,
            "include": {"partition": p, "num_partitions": 3}}}}})["t"]
        parts.append({r["key"]: r["doc_count"] for r in out.collect()})
    # partitions are disjoint and their union is the full key set
    full = compile_aggs(events, {"aggs": {"t": {"terms": {
        "field": "event_type", "size": 10}}}})["t"]
    want = {r["key"]: r["doc_count"] for r in full.collect()}
    merged = {}
    for d in parts:
        assert not set(d) & set(merged)
        merged |= d
    assert merged == want
    with pytest.raises(UnsupportedQuery, match="out of range"):
        compile_aggs(events, {"aggs": {"t": {"terms": {
            "field": "event_type",
            "include": {"partition": 3, "num_partitions": 3}}}}})


def test_bucket_correlation(events):
    import numpy as np

    per_day = compile_aggs(events, {"aggs": {"d": {
        "date_histogram": {"field": "ts", "calendar_interval": "day"},
        "aggs": {"vs": {"sum": {"field": "value"}}}}}})["d"].collect()
    series = [r["vs"] for r in per_day]
    exp = [3.0, 1.0, 4.0, 1.0][:len(series)]
    body = {"aggs": {
        "d": {"date_histogram": {"field": "ts", "calendar_interval": "day"},
              "aggs": {"vs": {"sum": {"field": "value"}}}},
        "c": {"bucket_correlation": {
            "buckets_path": "d>vs",
            "function": {"count_correlation": {
                "indicator": {"expectations": exp}}}}},
    }}
    out = compile_aggs(events, body)["c"].collect()[0]["c_corr_u"]
    want = np.corrcoef(np.array(series, float), np.array(exp))[0, 1]
    import math
    assert out == math.floor(want * 1e6)
    # zero-variance doc_count series (75 per day) -> NULL, not an error
    degen = compile_aggs(events, {"aggs": {
        "d": {"date_histogram": {"field": "ts", "calendar_interval": "day"}},
        "c": {"bucket_correlation": {
            "buckets_path": "d>_count",
            "function": {"count_correlation": {
                "indicator": {"expectations": exp}}}}},
    }})["c"].collect()[0]["c_corr_u"]
    assert degen is None
    with pytest.raises(UnsupportedQuery, match="expectations"):
        compile_aggs(events, {"aggs": {
            "d": {"date_histogram": {"field": "ts",
                                     "calendar_interval": "day"}},
            "c": {"bucket_correlation": {"buckets_path": "d>_count"}}}})


def test_ip_prefix_agg(spark):
    rows = [Row(i=i, ip=f"10.{[2, 10][i % 2]}.{i}.{i * 3 % 256}")
            for i in range(10)]
    d = spark.createDataFrame(rows)
    out = compile_aggs(d, {"aggs": {"n": {"ip_prefix": {
        "field": "ip", "prefix_length": 16}}}})["n"].collect()
    # numeric ip bucket order: 10.2.0.0 BEFORE 10.10.0.0 (string order
    # would invert them)
    assert [(r["key"], r["doc_count"]) for r in out] == [
        ("10.2.0.0", 5), ("10.10.0.0", 5)]
    # /30 masks the low 2 host bits of the last octet
    out30 = compile_aggs(d, {"aggs": {"n": {"ip_prefix": {
        "field": "ip", "prefix_length": 30,
        "append_prefix_length": True}}}})["n"].collect()
    want = {}
    for i in range(10):
        m = (i * 3) % 256
        k = f"10.{[2, 10][i % 2]}.{i}.{m - m % 4}/30"
        want[k] = want.get(k, 0) + 1
    assert {r["key"]: r["doc_count"] for r in out30} == want
    # min_doc_count prunes singleton buckets
    out2 = compile_aggs(d, {"aggs": {"n": {"ip_prefix": {
        "field": "ip", "prefix_length": 16, "min_doc_count": 6}}}})["n"]
    assert out2.collect() == []
    with pytest.raises(UnsupportedQuery, match="is_ipv6"):
        compile_aggs(d, {"aggs": {"n": {"ip_prefix": {
            "field": "ip", "prefix_length": 16, "is_ipv6": True}}}})
    with pytest.raises(UnsupportedQuery, match="out of range"):
        compile_aggs(d, {"aggs": {"n": {"ip_prefix": {
            "field": "ip", "prefix_length": 0}}}})


def _ref_change_point(xs, keys):
    import math

    n = len(xs)
    best = None
    for k in range(1, n):
        s1, q1 = sum(xs[:k]), sum(v * v for v in xs[:k])
        s2, q2 = sum(xs[k:]), sum(v * v for v in xs[k:])
        vp = ((q1 - s1 * s1 / k) + (q2 - s2 * s2 / (n - k))) / (n - 2)
        if vp <= 0:
            continue
        t = (s1 / k - s2 / (n - k)) / math.sqrt(
            vp * (1 / k + 1 / (n - k)))
        if best is None or abs(t) > best[0]:
            best = (abs(t), keys[k], t)
    return best


def test_change_point_step(spark):
    import math

    rows = []
    for d in range(8):
        n = (10 if d < 5 else 40) + d % 3  # step at day 6 plus noise
        rows.extend(Row(event_id=d * 1000 + j,
                        ts=dt.datetime(2024, 1, 1 + d, 9))
                    for j in range(n))
    df = spark.createDataFrame(rows)
    out = compile_aggs(df, {"aggs": {
        "per_day": {"date_histogram": {"field": "ts",
                                       "calendar_interval": "day"}},
        "cp": {"change_point": {"buckets_path": "per_day>_count"}},
    }})["cp"].collect()[0]
    xs = [float((10 if d < 5 else 40) + d % 3) for d in range(8)]
    keys = [dt.datetime(2024, 1, 1 + d) for d in range(8)]
    _, want_key, want_t = _ref_change_point(xs, keys)
    assert out["cp_type"] == "step_change"
    assert out["cp_key"] == want_key == dt.datetime(2024, 1, 6)
    assert out["cp_t_u"] == math.floor(want_t * 1e6)


def test_change_point_stationary(events):
    # the fixture's per-day doc_count is a constant 75 -> every pooled
    # variance is exactly 0 -> stationary verdict, NULL key/statistic
    out = compile_aggs(events, {"aggs": {
        "per_day": {"date_histogram": {"field": "ts",
                                       "calendar_interval": "day"}},
        "cp": {"change_point": {"buckets_path": "per_day>_count"}},
    }})["cp"].collect()[0]
    assert out["cp_type"] == "stationary"
    assert out["cp_key"] is None and out["cp_t_u"] is None


def test_bucket_count_ks_test(events):
    # uniform per-day counts (75 each) -> observed CDF == uniform CDF
    # exactly -> D = 0
    body = {"aggs": {
        "d": {"date_histogram": {"field": "ts", "calendar_interval": "day"}},
        "ks": {"bucket_count_ks_test": {"buckets_path": "d>_count"}}}}
    assert compile_aggs(events, body)["ks"].collect()[0]["ks_d_u"] == 0
    # skewed expected fractions -> D matches the hand-computed max gap
    fr = [0.7, 0.1, 0.1, 0.1]
    body2 = {"aggs": {
        "d": {"date_histogram": {"field": "ts", "calendar_interval": "day"}},
        "ks": {"bucket_count_ks_test": {"buckets_path": "d>_count",
                                        "fractions": fr}}}}
    got = compile_aggs(events, body2)["ks"].collect()[0]["ks_d_u"]
    import math
    obs = [0.25, 0.5, 0.75, 1.0]
    # replicate the engine's normalization float-op-for-float-op
    # (sum then cumulative acc/tot) — 0.7 is not exactly representable
    tot = sum(fr)
    exp, acc = [], 0.0
    for v in fr:
        acc = acc + v
        exp.append(acc / tot)
    want = math.floor(max(abs(o - e) for o, e in zip(obs, exp)) * 1e6)
    assert got == want
    with pytest.raises(UnsupportedQuery, match="two_sided"):
        compile_aggs(events, {"aggs": {
            "d": {"date_histogram": {"field": "ts",
                                     "calendar_interval": "day"}},
            "ks": {"bucket_count_ks_test": {"buckets_path": "d>_count",
                                            "alternatives": ["less"]}}}})


def test_random_sampler_deterministic_and_raises(spark):
    import hashlib

    from pyspark.sql import Row

    from fluent_plugin_elasticsearch_spark.plans.aggs import compile_aggs
    from fluent_plugin_elasticsearch_spark.plans.query_ast import (
        UnsupportedQuery,
    )

    d = spark.createDataFrame(
        [Row(doc_id=i, v=i * 10) for i in range(200)])
    spec = {"aggs": {"s": {
        "random_sampler": {"probability": 0.4, "seed": 3},
        "aggs": {"v_min": {"min": {"field": "v"}},
                 "v_max": {"max": {"field": "v"}}}}}}
    row = compile_aggs(d, spec)["s"].collect()[0]
    # brute force the md5 selection
    thr = int(0.4 * float(1 << 60))
    picked = [i for i in range(200)
              if int(hashlib.md5(f"3|{i}".encode()).hexdigest()[:15], 16)
              < thr]
    import math

    assert row["doc_count"] == math.floor(len(picked) / 0.4)
    assert row["v_min"] == min(picked) * 10
    assert row["v_max"] == max(picked) * 10
    # identical on any partitioning
    row2 = compile_aggs(d.repartition(13), spec)["s"].collect()[0]
    assert tuple(row) == tuple(row2)
    with pytest.raises(UnsupportedQuery, match="count-proportional"):
        compile_aggs(d, {"aggs": {"s": {
            "random_sampler": {"probability": 0.4},
            "aggs": {"t": {"sum": {"field": "v"}}}}}})
    with pytest.raises(UnsupportedQuery, match="probability"):
        compile_aggs(d, {"aggs": {"s": {
            "random_sampler": {"probability": 1.5}}}})
