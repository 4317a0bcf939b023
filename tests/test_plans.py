"""Physical-plan assertions: the plans we designed for are the plans
Catalyst actually produces (pushdown, broadcast, no spurious exchanges)."""

from pyspark.sql import functions as F

from fluent_plugin_elasticsearch_spark.operators.bm25 import bm25_topk_df
from fluent_plugin_elasticsearch_spark.operators.search import InvertedIndex


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_postings_term_filter_pushdown(spark, index_dir):
    idx = InvertedIndex(spark, index_dir)
    blocks = idx.postings().filter(F.col("term").isin(["the", "of"]))
    plan = plan_of(blocks)
    assert "PushedFilters" in plan and "In(term" in plan
    # column pruning: binary payloads only read when selected
    slim = plan_of(idx.postings().filter(F.col("term") == "the").select("term", "n_docs"))
    assert "docs_enc" not in slim.split("ReadSchema")[1][:200]


def test_bm25_df_broadcasts_small_sides(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = plan_of(bm25_topk_df(docs, ["data", "query"], 10))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_warm_search_is_local_and_starts_no_job(spark, index_dir):
    """A warmed search scores on the driver-resident postings:
    its plan is a LocalTableScan, building and collecting it starts no
    Spark job, and its rows are those of the unwarmed index."""
    sc = spark.sparkContext
    idx = InvertedIndex(spark, index_dir).warm()
    group = "warm-search"
    sc.setJobGroup(group, group)
    try:
        q = idx.search("the of", k=5, mode="exhaustive")
        rows = q.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert plan_of(q).startswith("LocalTableScan")
    cold = InvertedIndex(spark, index_dir).search("the of", k=5, mode="exhaustive")
    assert len(rows) == 5 and rows == cold.collect()


def test_ids_query_uses_broadcast_semi_join(spark, index_dir):
    idx = InvertedIndex(spark, index_dir)
    some = [r["doc_id"] for r in idx.doc_stats().limit(3).collect()]
    plan = plan_of(idx.ids_query(some))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_single_query_ann_avoids_global_window(spark, sf_dir):
    """One-query cosine top-k must plan TakeOrderedAndProject, NOT a
    constant-partition window (which would funnel the scored corpus
    through a single partition)."""
    from fluent_plugin_elasticsearch_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    qdf = emb.filter(F.col("vec_id") == 0).select(F.lit(0).alias("query_id"), "embedding")
    top = cosine_topk(emb.filter(F.col("vec_id") != 0), qdf, k=10)
    plan = plan_of(top)
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan
    rows = top.collect()
    assert [r["rank"] for r in rows] == list(range(1, 11))


def test_multi_query_ann_keeps_partitioned_window(spark, sf_dir):
    from fluent_plugin_elasticsearch_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    qdf = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    top = cosine_topk(emb.filter(F.col("vec_id") >= 3), qdf, k=5)
    plan = plan_of(top)
    assert "Window" in plan and "query_id" in plan
    got = {r["query_id"] for r in top.collect()}
    assert got == {0, 1, 2}


def test_aggs_compile_to_partial_aggregates(spark, sf_dir):
    """ES aggs must plan map-side partial aggregation (two HashAggregates)
    and push the body's query filter into the parquet scan."""
    from fluent_plugin_elasticsearch_spark.plans.aggs import compile_aggs

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = compile_aggs(ev, {
        "query": {"range": {"value": {"gte": 10}}},
        "aggs": {"d": {"date_histogram": {"field": "ts", "calendar_interval": "day"}}},
    })["d"]
    plan = plan_of(out)
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert "GreaterThanOrEqual(value,10.0)" in plan  # pushed to the scan


def test_percolate_broadcasts_query_registry(spark, sf_dir):
    from fluent_plugin_elasticsearch_spark.operators.percolate import (
        make_query_registry, percolate)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    reg = make_query_registry(spark, [(1, ["spark"], 1), (2, ["fast", "merge"], 2)])
    plan = plan_of(percolate(docs, reg))
    # reverse-index join: the (tiny) registry broadcasts; the corpus is
    # never shuffled for the join itself
    assert "BroadcastHashJoin" in plan
    assert "HashAggregate" in plan  # partial-aggregated (doc, query) counts


def test_composite_is_partial_aggregated_no_window(spark, sf_dir):
    from fluent_plugin_elasticsearch_spark.plans.aggs import compile_aggs

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    df = compile_aggs(ev, {"aggs": {"c": {"composite": {
        "size": 8, "sources": [
            {"etype": {"terms": {"field": "event_type"}}},
            {"day": {"date_histogram": {"field": "ts", "calendar_interval": "day"}}},
        ],
        "after": {"etype": "click", "day": "2024-01-05 00:00:00"},
    }}}})["c"]
    plan = plan_of(df)
    # one groupBy (partial + final HashAggregate), keyset filter, top-N —
    # no window operator, no second shuffle
    assert "Window" not in plan
    assert plan.count("HashAggregate") >= 2
    assert "TakeOrderedAndProject" in plan


def test_collapse_window_is_field_partitioned(spark, sf_dir):
    from fluent_plugin_elasticsearch_spark.operators.relevance import collapse_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = plan_of(collapse_topk(docs, ["fast", "merge"], "lang", k=10))
    # the dedup window must partition by the collapse field, not funnel
    # everything through one partition
    assert "partitionBy" not in plan or "No Partition Defined" not in plan
    assert "Window" in plan and "lang" in plan.split("Window")[1][:300]


def test_write_ops_broadcast_gate(spark, sf_dir):
    """small_batch=True forces the batch broadcast (streaming micro-batch
    shape); small_batch=False drops the hint so statistics/AQE choose —
    with the auto-broadcast threshold off, the plan must contain NO
    BroadcastExchange (a forced build side would OOM a backfill-sized
    batch)."""
    from fluent_plugin_elasticsearch_spark.sinks.write_ops import op_index, op_update

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "lang")
    batch = docs.limit(50)
    forced = plan_of(op_index(docs, batch, "doc_id"))
    assert "BroadcastExchange" in forced

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        gated = plan_of(op_index(docs, batch, "doc_id", small_batch=False))
        assert "BroadcastExchange" not in gated
        assert "SortMergeJoin" in gated
        gated_u = plan_of(op_update(docs, batch, "doc_id", small_batch=False))
        assert "BroadcastExchange" not in gated_u
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_percolate_registry_broadcast_gate(spark, sf_dir):
    """small_registry=False must leave join-strategy choice to the
    optimizer (no forced BroadcastExchange under a disabled threshold)."""
    from fluent_plugin_elasticsearch_spark.operators.percolate import (
        make_query_registry, percolate)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    reg = make_query_registry(spark, [(1, ["spark"], 1), (2, ["fast", "merge"], 2)])
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = plan_of(percolate(docs, reg, small_registry=False))
        assert "BroadcastExchange" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_sessionize_shuffles_on_user_key(spark, sf_dir):
    from fluent_plugin_elasticsearch_spark.streaming.sessionize import sessionize

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    plan = plan_of(sessionize(ev, 3600))
    # the gaps-and-islands window and the session groupBy both partition
    # by the user key — no unpartitioned window, no extra exchanges
    assert "hashpartitioning(user_id" in plan
    assert "WindowExec: No Partition" not in plan


def test_contamination_broadcasts_benchmark(spark, sf_dir):
    from fluent_plugin_elasticsearch_spark.operators.dedup import (
        contamination_check)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.limit(5).selectExpr("doc_id AS bench_id", "text")
    plan = plan_of(contamination_check(docs, bench, n=3))
    assert "BroadcastHashJoin" in plan  # corpus grams never shuffle for the join
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        gated = plan_of(contamination_check(docs, bench, n=3,
                                            broadcast_benchmark=False))
        assert "BroadcastExchange" not in gated
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_gap_filled_histogram_no_global_window(spark, sf_dir):
    from fluent_plugin_elasticsearch_spark.plans.aggs import compile_aggs

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = compile_aggs(ev, {"aggs": {"d": {"date_histogram": {
        "field": "ts", "calendar_interval": "day", "min_doc_count": 0}}}})["d"]
    plan = plan_of(out)
    # partial aggregation reaches the scan side; the dense-axis join is
    # against the already-aggregated buckets (no corpus re-shuffle)
    assert "HashAggregate" in plan
    assert plan.count("Exchange hashpartitioning") <= 2


def test_hybrid_knn_plan_broadcasts_combined_topk(spark, sf_dir):
    """The hybrid knn+query join back onto the docs must broadcast the
    bounded combined top-k frame — the corpus side must never shuffle."""
    from fluent_plugin_elasticsearch_spark.plans.query_ast import compile_query

    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .join(spark.read.parquet(f"{sf_dir}/embeddings.parquet")
                  .withColumnRenamed("vec_id", "doc_id"), "doc_id"))
    body = {"query": {"multi_match": {"query": "fast table", "fields": ["text"]}},
            "knn": {"field": "embedding", "query_vector": [1.0] * 64, "k": 5},
            "size": 5}
    plan = plan_of(compile_query(docs, body))
    assert "BroadcastExchange" in plan


def test_kmeans_plan_broadcasts_centroids_no_corpus_shuffle_per_distance(spark, sf_dir):
    """Each k-means iteration joins the corpus against the k-row centroid
    frame — that side must arrive by broadcast, and the argmin must be a
    vec_id-keyed window (hash partition), not a global one."""
    from fluent_plugin_elasticsearch_spark.operators.similarity import kmeans_clusters

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    plan = plan_of(kmeans_clusters(emb, k=4, iters=1, init_ids=[0, 1, 2, 3]))
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
    assert "partitionBy" not in plan or "No Partition Defined" not in plan


def test_mixture_plan_broadcasts_ratio_frame(spark, sf_dir):
    """mixture_by_token_budget joins the corpus to the per-source ratio
    frame (source-cardinality-sized): broadcast side, corpus unshuffled."""
    from fluent_plugin_elasticsearch_spark.operators.packing import (
        mixture_by_token_budget)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = plan_of(mixture_by_token_budget(docs, {"src1": 1000.0, "src2": 500.0}))
    assert "BroadcastExchange" in plan


def test_phrase_span_scorers_single_corpus_stats_pass(spark, sf_dir):
    """The phrase/span family must compute n/avgdl AND every per-term df
    in ONE corpus aggregate (corpus_stats_with_dfs), not a per-term
    single-row-aggregate + crossJoin chain: an n-term query must scan the
    parquet source exactly twice (once for the match side, once for the
    combined stats row), independent of n."""
    from fluent_plugin_elasticsearch_spark.operators.bm25 import match_phrase_df
    from fluent_plugin_elasticsearch_spark.operators.relevance import (
        match_phrase_prefix_df, span_near_df, span_first_df)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cases = [
        match_phrase_df(docs, ["the", "data", "model"], 10),
        match_phrase_prefix_df(docs, ["the", "dat"], 10),
        span_near_df(docs, "the", "data", slop=2, k=10),
        span_first_df(docs, "the", 5, k=10),
    ]
    for q in cases:
        plan = plan_of(q)
        assert plan.count("Scan parquet") == 2, plan
