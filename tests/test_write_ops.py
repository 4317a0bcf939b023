"""Write-op MERGE semantics (K2-K6), triage (K9), affinity routing (K11) —
asserted as table outcomes, mirroring the reference's bulk-body goldens
(FIXTURES.md §5: outcomes instead of NDJSON bytes)."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from fluent_plugin_elasticsearch_spark.sinks.write_ops import (
    affinity_target_index,
    op_create,
    op_index,
    op_update,
    op_upsert,
    triage,
    triage_stats,
)


@pytest.fixture()
def target(spark):
    return spark.createDataFrame(
        [Row(id="a", name="Alice", v=1), Row(id="b", name="Bob", v=2)]
    )


@pytest.fixture()
def batch(spark):
    return spark.createDataFrame(
        [Row(id="b", name="Bobby", v=20), Row(id="c", name="Cara", v=30)]
    )


def as_map(df):
    return {r["id"]: (r["name"], r["v"]) for r in df.collect()}


def test_op_index_upserts(target, batch):
    out = as_map(op_index(target, batch, "id"))
    assert out == {"a": ("Alice", 1), "b": ("Bobby", 20), "c": ("Cara", 30)}


def test_op_create_insert_only(target, batch):
    merged, dup = op_create(target, batch, "id")
    assert as_map(merged) == {"a": ("Alice", 1), "b": ("Bob", 2), "c": ("Cara", 30)}
    assert [r["id"] for r in dup.collect()] == ["b"]  # 409-equivalent


def test_op_create_drops_missing_id(spark, target):
    batch = spark.createDataFrame([Row(id=None, name="X", v=9), Row(id="d", name="D", v=4)])
    merged, dup = op_create(target, batch, "id")
    assert as_map(merged) == {"a": ("Alice", 1), "b": ("Bob", 2), "d": ("D", 4)}


def test_op_update_no_insert(target, batch):
    out = as_map(op_update(target, batch, "id"))
    assert out == {"a": ("Alice", 1), "b": ("Bobby", 20)}  # c not inserted


def test_op_update_remove_keys(target, batch):
    out = as_map(op_update(target, batch, "id", remove_keys_on_update=["name"]))
    assert out == {"a": ("Alice", 1), "b": ("Bob", 20)}  # name untouched


def test_op_upsert(target, batch):
    out = as_map(op_upsert(target, batch, "id"))
    assert out == {"a": ("Alice", 1), "b": ("Bobby", 20), "c": ("Cara", 30)}


def test_op_index_last_writer_wins_within_batch(spark, target):
    batch = spark.createDataFrame(
        [Row(id="x", name="v1", v=1, seq=1), Row(id="x", name="v2", v=2, seq=2)]
    )
    from fluent_plugin_elasticsearch_spark.sinks.write_ops import dedup_latest

    out = dedup_latest(batch, "id", order_col="seq").collect()
    assert len(out) == 1 and out[0]["name"] == "v2"


def test_dedup_latest_follows_batch_order(spark, target):
    """Without an order column, batch order (partition, then position)
    decides: last row, first row, or each column's last non-null value;
    an order column ties broken by batch order; op_upsert inserts a fresh
    id as its actions merged in turn."""
    from fluent_plugin_elasticsearch_spark.sinks.write_ops import dedup_latest

    rows = [("x", "n1", 1, 0), ("y", "y1", None, 0), ("x", None, 2, 1), ("x", "n3", None, 1)]
    batch = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3),
                                  "id string, name string, v long, seq long")

    def kept(**kw):
        return {r["id"]: (r["name"], r["v"]) for r in dedup_latest(batch, "id", **kw).collect()}

    assert kept() == {"x": ("n3", None), "y": ("y1", None)}
    assert kept(keep="first") == {"x": ("n1", 1), "y": ("y1", None)}
    assert kept(keep="merge") == {"x": ("n3", 2), "y": ("y1", None)}
    assert kept(order_col="seq", keep="first") == {"x": ("n1", 1), "y": ("y1", None)}
    assert kept(order_col="seq") == {"x": ("n3", None), "y": ("y1", None)}
    with pytest.raises(ValueError, match="keep"):
        dedup_latest(batch, "id", keep="newest")
    up = spark.createDataFrame([Row(id="c", name="C1", v=None), Row(id="c", name=None, v=3),
                                Row(id="a", name=None, v=10)], "id string, name string, v long")
    assert as_map(op_upsert(target, up, "id")) == {
        "a": ("Alice", 10), "b": ("Bob", 2), "c": ("C1", 3)}


def test_triage_routing(spark):
    rows = [
        Row(id=1, status=201, error_type=None),
        Row(id=2, status=409, error_type=None),
        Row(id=3, status=400, error_type="mapper_parsing_exception"),
        Row(id=4, status=429, error_type="es_rejected_execution_exception"),
        Row(id=5, status=503, error_type="some_retryable"),
    ]
    routed = triage(spark.createDataFrame(rows))
    got = {k: [r["id"] for r in v.collect()] for k, v in routed.items()}
    assert got["success"] == [1]
    assert got["duplicate"] == [2]
    assert got["dead_letter"] == [3]
    assert got["abort"] == [4]
    assert got["retry"] == [5]
    stats = {r["class"]: r["n"] for r in triage_stats(spark.createDataFrame(rows)).collect()}
    assert stats == {"success": 1, "duplicate": 1, "dead_letter": 1, "abort": 1, "retry": 1}


def test_affinity_routing_picks_oldest_index(spark):
    docs = spark.createDataFrame(
        [
            Row(doc_id="u1", index_name="logstash-2024.01.05"),
            Row(doc_id="u1", index_name="logstash-2024.01.02"),
            Row(doc_id="u2", index_name="logstash-2024.01.07"),
        ]
    )
    batch = spark.createDataFrame(
        [
            Row(doc_id="u1", index_name="logstash-2024.02.01"),
            Row(doc_id="u3", index_name="logstash-2024.02.01"),
        ]
    )
    out = {r["doc_id"]: r["index_name"] for r in affinity_target_index(batch, docs).collect()}
    assert out["u1"] == "logstash-2024.01.02"  # oldest existing wins
    assert out["u3"] == "logstash-2024.02.01"  # no existing → computed


def test_delete_by_query_null_safety(spark):
    from pyspark.sql import Row

    from fluent_plugin_elasticsearch_spark.sinks.write_ops import delete_by_query

    df = spark.createDataFrame(
        [Row(id=1, v=10.0), Row(id=2, v=None), Row(id=3, v=200.0)],
        "id long, v double",
    )
    out = delete_by_query(df, {"query": {"range": {"v": {"gt": 100}}}})
    # NULL predicate keeps the row — ES only deletes definite matches
    assert sorted(r["id"] for r in out.collect()) == [1, 2]
    import pytest as _pt

    with _pt.raises(ValueError):
        delete_by_query(df, {})


def test_update_by_query_original_row_semantics(spark):
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from fluent_plugin_elasticsearch_spark.sinks.write_ops import update_by_query

    df = spark.createDataFrame([Row(id=1, a=10, b=1), Row(id=2, a=99, b=1)])
    # both set-exprs read the ORIGINAL a, and the predicate uses a too:
    # chained withColumn semantics would corrupt both
    out = update_by_query(
        df, {"query": {"range": {"a": {"lt": 50}}}},
        {"a": F.col("a") + 1, "b": F.col("a") * 100},
    ).collect()
    rows = {r["id"]: r for r in out}
    assert rows[1]["a"] == 11 and rows[1]["b"] == 1000  # b from original a=10
    assert rows[2]["a"] == 99 and rows[2]["b"] == 1     # untouched
