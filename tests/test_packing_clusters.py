"""Training-data assembly operators: sequence packing (distributed prefix
sum), connected-components dedup clustering, deterministic stratified
sampling."""

from __future__ import annotations

import collections

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from fluent_plugin_elasticsearch_spark.operators.dedup import connected_components
from fluent_plugin_elasticsearch_spark.operators.packing import (
    _with_global_offset,
    pack_documents,
    stratified_sample,
)


@pytest.fixture(scope="module")
def sized_docs(spark):
    rows = [Row(doc_id=i, n_tokens=(i * 37) % 200 + (0 if i % 17 else -(i * 37) % 200))
            for i in range(400)]  # every 17th doc has 0 tokens
    return spark.createDataFrame(rows)


def test_pack_documents_matches_bruteforce(spark, sized_docs):
    got = {r["doc_id"]: r for r in pack_documents(sized_docs, 512).collect()}
    offset = 0
    for row in sorted(sized_docs.collect(), key=lambda r: r["doc_id"]):
        g = got[row["doc_id"]]
        assert g["offset"] == offset
        assert g["pack_id"] == offset // 512
        assert g["pos_in_pack"] == offset % 512
        last = offset + row["n_tokens"] - 1 if row["n_tokens"] > 0 else offset
        assert g["end_pack_id"] == last // 512
        offset += row["n_tokens"]


def test_pack_documents_parallelism_invariant(spark, sized_docs):
    """The distributed prefix sum must yield IDENTICAL layout at any
    partitioning — the determinism contract of concat-then-chunk."""
    a = sorted(map(tuple, pack_documents(sized_docs.repartition(1), 512).collect()))
    b = sorted(map(tuple, pack_documents(sized_docs.repartition(13), 512).collect()))
    assert a == b


def test_pack_documents_bucket_is_data_derived(spark, sized_docs):
    """Regression (round 7): the prefix-sum bucket must be a pure function
    of the order column, never spark_partition_id(). The totals pass and
    the final pass are two separate Spark evaluations; the old
    repartitionByRange + spark_partition_id() form let the range
    partitioner re-sample boundaries per plan (and AQE coalesce each
    plan's exchange independently), so the broadcast bases could mismatch
    the final pids — observed as wrong offsets on a 5000-doc corpus."""
    plan = pack_documents(sized_docs, 512)._jdf.queryExecution().analyzed().toString()
    assert "spark_partition_id" not in plan.lower()


def test_pack_documents_5000_docs_matches_bruteforce(spark):
    """Brute-force equality at the corpus size that exposed the round-7
    bucket-consistency bug, with a shuffled, highly-partitioned input."""
    rows = [Row(doc_id=d, n_tokens=(d * 131) % 97)
            for d in ((i * 2654435761) % 5000 for i in range(5000))]
    docs = spark.createDataFrame(list({r.doc_id: r for r in rows}.values()))
    got = {r["doc_id"]: r["offset"]
           for r in pack_documents(docs.repartition(32), 512).collect()}
    offset = 0
    for row in sorted({r.doc_id: r for r in rows}.values(), key=lambda r: r.doc_id):
        assert got[row.doc_id] == offset
        offset += row.n_tokens


def test_pack_documents_no_global_single_partition(spark, sized_docs):
    plan = pack_documents(sized_docs, 512)._jdf.queryExecution().executedPlan().toString()
    # the window must be partitioned (by __pid), never a global sort window
    assert "Window" not in plan.split("partitionBy")[0] or "__pid" in plan


def test_connected_components_matches_bruteforce(spark):
    pairs = [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 20), (3, 4),
             (100, 1)]  # chain 1-2-3-4 + 100, pair 10-11, triangle 20-21-22
    pdf = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = {r["doc_id"]: r["cluster_id"] for r in connected_components(pdf).collect()}
    adj = collections.defaultdict(set)
    for a, b in pairs:
        adj[a].add(b)
        adj[b].add(a)
    expected = {}
    for v in sorted(adj):
        if v in expected:
            continue
        stack, members = [v], []
        while stack:
            x = stack.pop()
            if x in expected:
                continue
            expected[x] = -1
            members.append(x)
            stack.extend(adj[x])
        m = min(members)
        for x in members:
            expected[x] = m
    assert got == expected
    assert got[100] == 1 and got[4] == 1 and got[22] == 20


def test_connected_components_long_chain_converges(spark):
    """A 64-node path graph: pointer jumping must converge in O(log n)
    rounds well inside max_iter (plain min-propagation needs 63)."""
    pdf = spark.createDataFrame([(i, i + 1) for i in range(63)], "id_a long, id_b long")
    got = connected_components(pdf, max_iter=12).collect()
    assert all(r["cluster_id"] == 0 for r in got)
    assert len(got) == 64


def test_stratified_sample_deterministic_and_sized(spark):
    docs = spark.createDataFrame(
        [Row(doc_id=i, lang=["en", "de", "zh"][i % 3]) for i in range(3000)]
    )
    out = stratified_sample(docs, "lang", {"en": 0.5, "de": 0.25})
    rows = out.collect()
    again = set(r["doc_id"] for r in out.collect())
    assert set(r["doc_id"] for r in rows) == again  # deterministic
    by_lang = collections.Counter(r["lang"] for r in rows)
    assert by_lang["zh"] == 0  # absent stratum → dropped
    assert abs(by_lang["en"] / 1000 - 0.5) < 0.08
    assert abs(by_lang["de"] / 1000 - 0.25) < 0.08


def test_chunk_documents_windows(spark):
    from fluent_plugin_elasticsearch_spark.operators.packing import chunk_documents

    docs = spark.createDataFrame(
        [Row(doc_id=1, text=" ".join(f"t{i}" for i in range(10))),
         Row(doc_id=2, text="one two"),
         Row(doc_id=3, text="")]
    )
    out = chunk_documents(docs, chunk_len=4, overlap=2)
    rows = sorted(((r["doc_id"], r["chunk_id"], r["start_pos"], r["n_tokens"], r["chunk"])
                   for r in out.collect()))
    # doc 1: starts 1,3,5,7,9 (step 2)
    assert [r[2] for r in rows if r[0] == 1] == [1, 3, 5, 7, 9]
    assert rows[0][4] == "t0 t1 t2 t3"
    assert [r for r in rows if r[0] == 1][-1] == (1, 4, 9, 2, "t8 t9")
    # doc 2: one partial chunk; doc 3 (empty) emits nothing
    assert [r for r in rows if r[0] == 2] == [(2, 0, 1, 2, "one two")]
    assert not [r for r in rows if r[0] == 3]
    import pytest as _pt

    with _pt.raises(ValueError):
        chunk_documents(docs, chunk_len=4, overlap=4)


def test_global_offset_rejects_non_numeric_order_column(spark):
    """approxQuantile takes only numeric columns: a string or date order
    column raises a ValueError naming the column and its type, before any
    Spark job runs."""
    df = spark.createDataFrame([("a", 1, "2024-01-01"), ("b", 2, "2024-01-02")],
                               "key string, w long, day string").withColumn("day", F.to_date("day"))
    sc = spark.sparkContext
    sc.setJobGroup("offset-check", "offset-check")
    try:
        with pytest.raises(ValueError, match="'key' must be numeric, got string"):
            _with_global_offset(df, "key", "w")
        with pytest.raises(ValueError, match="'day' must be numeric, got date"):
            _with_global_offset(df, "day", "w")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("offset-check") == []
    assert [r["offset"] for r in _with_global_offset(df, "w", "w").orderBy("w").collect()] == [0, 1]
