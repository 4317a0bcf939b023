"""Copy-on-write bucketed table: MERGE correctness vs the full-rewrite
emulation, touched-bucket-only rewrites, snapshot isolation, vacuum."""

import json
import os
import signal
import subprocess
import sys
import threading
import time

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from fluent_plugin_elasticsearch_spark.sinks.cow_table import CowTable
from fluent_plugin_elasticsearch_spark.sinks.write_ops import op_upsert


class _Crash(Exception):
    """A simulated process death at an injected point."""


def _mk(spark, tmp_path, n=200, n_buckets=8):
    t = CowTable(spark, str(tmp_path / "t"), id_col="doc_id", n_buckets=n_buckets)
    df = spark.createDataFrame(
        [Row(doc_id=i, v=f"v{i}", n=i) for i in range(n)])
    t.create(df)
    return t, df


def test_upsert_matches_full_rewrite_emulation(spark, tmp_path):
    t, df = _mk(spark, tmp_path)
    batch = spark.createDataFrame(
        [Row(doc_id=5, v="NEW5", n=500),
         Row(doc_id=7, v="NEW7", n=700),
         Row(doc_id=999, v="NEW999", n=999)])
    want = {(r["doc_id"], r["v"], r["n"])
            for r in op_upsert(df, batch, "doc_id").collect()}
    t.upsert(batch)
    got = {(r["doc_id"], r["v"], r["n"]) for r in t.read().collect()}
    assert got == want
    assert ("NEW5" in {v for _, v, _ in got}) and (999, "NEW999", 999) in got


def test_update_only_mode_skips_inserts(spark, tmp_path):
    t, _ = _mk(spark, tmp_path, n=20)
    batch = spark.createDataFrame(
        [Row(doc_id=3, v="U3", n=33), Row(doc_id=777, v="NOPE", n=0)])
    t.upsert(batch, op="update")
    rows = {r["doc_id"]: r["v"] for r in t.read().collect()}
    assert rows[3] == "U3" and 777 not in rows and len(rows) == 20


def test_only_touched_buckets_rewritten(spark, tmp_path):
    t, _ = _mk(spark, tmp_path, n=500, n_buckets=16)
    import json

    m0 = json.load(open(os.path.join(t.path, "manifest.json")))
    batch = spark.createDataFrame([Row(doc_id=5, v="X", n=0)])
    res = t.upsert(batch)
    m1 = json.load(open(os.path.join(t.path, "manifest.json")))
    # exactly ONE bucket moved to the new generation; 15 untouched
    assert len(res["touched_buckets"]) == 1
    moved = [b for b in map(str, range(16)) if m0["buckets"][b] != m1["buckets"][b]]
    assert len(moved) == 1 and m1["generation"] == m0["generation"] + 1


def test_snapshot_isolation_and_vacuum(spark, tmp_path):
    t, _ = _mk(spark, tmp_path, n=100)
    before = t.read()          # plan bound to gen-0 directories
    n0 = before.count()
    t.upsert(spark.createDataFrame([Row(doc_id=1, v="CHANGED", n=-1)]))
    # the pre-swap reader still sees the old snapshot value
    old_rows = {r["doc_id"]: r["v"] for r in before.collect()}
    assert old_rows[1] == "v1" and len(old_rows) == n0
    new_rows = {r["doc_id"]: r["v"] for r in t.read().collect()}
    assert new_rows[1] == "CHANGED"
    # vacuum drops the retired gen-0 bucket dir
    assert t.vacuum() == 1
    assert {r["doc_id"]: r["v"] for r in t.read().collect()}[1] == "CHANGED"


def test_delete_where_rewrites_matching_buckets_only(spark, tmp_path):
    t, _ = _mk(spark, tmp_path, n=100, n_buckets=8)
    res = t.delete_where(F.col("doc_id") < 10)
    assert 0 < len(res["touched_buckets"]) <= 8
    left = t.read()
    assert left.count() == 90
    assert left.filter(F.col("doc_id") < 10).count() == 0
    # no-match delete touches nothing
    res2 = t.delete_where(F.col("doc_id") > 10_000)
    assert res2["touched_buckets"] == []


def test_create_twice_rejected(spark, tmp_path):
    t, df = _mk(spark, tmp_path, n=10)
    with pytest.raises(ValueError):
        t.create(df)


def test_ingest_pipeline_cow_sink(spark, tmp_path):
    import datetime as dt

    from fluent_plugin_elasticsearch_spark.streaming.ingest import IngestPipeline

    pipe = IngestPipeline(str(tmp_path / "out"), id_keys=["user"],
                          write_op="index", table_format="cow", n_buckets=4)
    b1 = spark.createDataFrame(
        [Row(time=dt.datetime(2024, 1, 1, 5), user=f"u{i}", msg=f"m{i}")
         for i in range(10)])
    pipe.run_batch(b1, 0)
    # second batch: same ids (updated msg) + new ids → cow merge
    b2 = spark.createDataFrame(
        [Row(time=dt.datetime(2024, 1, 1, 6), user="u1", msg="UPDATED"),
         Row(time=dt.datetime(2024, 1, 1, 6), user="u99", msg="fresh")])
    stats = pipe.run_batch(b2, 1)
    assert stats["touched_buckets"]
    rows = {r["user"]: r["msg"] for r in pipe._cow.read().collect()}
    assert rows["u1"] == "UPDATED" and rows["u99"] == "fresh"
    assert len(rows) == 11  # 10 originals + 1 new, u1 replaced not duplicated
    with pytest.raises(ValueError):
        IngestPipeline(str(tmp_path / "x"), table_format="cow")  # no id_keys


def test_retry_after_crash_does_not_duplicate(spark, tmp_path, monkeypatch):
    """ADVICE r4 (medium): a crashed attempt (parquet written, manifest NOT
    swapped) followed by a redelivered retry must not duplicate rows."""
    t, _ = _mk(spark, tmp_path, n=50, n_buckets=4)
    batch = spark.createDataFrame([Row(doc_id=5, v="RETRY", n=55)])

    # simulate the crash: the real upsert stages its data write, then
    # dies before the manifest swap
    def crash(update):
        raise _Crash("before the manifest swap")

    monkeypatch.setattr(t, "_write_manifest", crash)
    with pytest.raises(_Crash):
        t.upsert(batch)
    monkeypatch.undo()
    assert len(os.listdir(os.path.join(t.path, "data"))) == 2  # gen 0 + staged orphan
    # redelivery: the real upsert runs; unique staging dir → no collision
    t.upsert(batch)
    rows = t.read().collect()
    assert len(rows) == 50  # no duplicates
    assert {r["v"] for r in rows if r["doc_id"] == 5} == {"RETRY"}
    # the crashed attempt's orphan dir is swept by vacuum
    n = t.vacuum()
    assert n >= 2  # retired bucket + orphan staging dir
    assert len(t.read().collect()) == 50


def test_upsert_noop_returns_stable_shape(spark, tmp_path):
    """ADVICE r4 (low): empty-batch upsert returns the same summary shape
    as a real one, not the whole manifest."""
    t, df = _mk(spark, tmp_path, n=10, n_buckets=4)
    empty = spark.createDataFrame([], df.schema)
    res = t.upsert(empty)
    assert set(res) == {"generation", "touched_buckets"}
    assert res["touched_buckets"] == []


def test_delete_ids_prunes_scan_to_touched_buckets(spark, tmp_path):
    t, _ = _mk(spark, tmp_path, n=100, n_buckets=8)
    res = t.delete_ids([3, 7])
    assert 0 < len(res["touched_buckets"]) <= 2
    left = t.read()
    assert left.count() == 98
    assert left.filter(F.col("doc_id").isin(3, 7)).count() == 0
    assert t.delete_ids([])["touched_buckets"] == []


def test_compact_coalesces_and_rebuckets(spark, tmp_path):
    t, _ = _mk(spark, tmp_path, n=100, n_buckets=4)
    for i in range(3):  # accrue generations
        t.upsert(spark.createDataFrame([Row(doc_id=i, v=f"g{i}", n=i)]))
    before = {(r["doc_id"], r["v"]) for r in t.read().collect()}
    res = t.compact(target_buckets=16)
    assert len(res["touched_buckets"]) == 16
    t2 = CowTable(spark, t.path)  # reopen — manifest carries new n_buckets
    assert t2.n_buckets == 16
    after = {(r["doc_id"], r["v"]) for r in t2.read().collect()}
    assert after == before
    t2.vacuum()
    assert {(r["doc_id"], r["v"]) for r in t2.read().collect()} == before
    # post-compact upserts still land in the right (new) buckets
    t2.upsert(spark.createDataFrame([Row(doc_id=0, v="after", n=0)]))
    assert {r["v"] for r in t2.read().filter(F.col("doc_id") == 0).collect()} == {"after"}


def test_duplicate_ids_in_one_batch_follow_bulk_order(spark, tmp_path):
    """Repeated ids within one batch resolve as ES applies the bulk actions
    in order (batch order = the order collect() returns): index keeps the
    last row, update each column's last non-null value, create the first
    row; create() initialises like index."""
    schema = "doc_id long, v string, n long"
    t, _ = _mk(spark, tmp_path, n=20, n_buckets=2)
    t.upsert(spark.createDataFrame([(3, "first", 1), (3, "second", 2)], schema))
    t.upsert(spark.createDataFrame([(5, "u1", 51), (5, None, 52), (5, "u3", None),
                                    (6, None, None)], schema), op="update")
    t.upsert(spark.createDataFrame([(3, "dup", 0), (50, "c1", 1), (50, "c2", 2)], schema),
             op="create")
    many = [(7, f"v{i}", i) for i in range(200)]
    t.upsert(spark.createDataFrame(spark.sparkContext.parallelize(many, 4), schema))
    got = {r["doc_id"]: (r["v"], r["n"]) for r in t.read().collect()}
    assert (got[3], got[5], got[6], got[50], got[7]) == (
        ("second", 2), ("u3", 52), ("v6", 6), ("c1", 1), ("v199", 199))
    t2 = CowTable(spark, str(tmp_path / "t2"), id_col="doc_id", n_buckets=2)
    t2.create(spark.createDataFrame(spark.sparkContext.parallelize(many, 4), schema))
    assert [(r["v"], r["n"]) for r in t2.read().collect()] == [("v199", 199)]


def test_one_parquet_file_per_bucket_after_every_write(spark, tmp_path):
    """Every write hash-distributes its rows by bucket: from a
    multi-partition input, each bucket directory the manifest names
    holds exactly one parquet file after each kind of commit."""
    t = CowTable(spark, str(tmp_path / "t"), id_col="doc_id", n_buckets=4)
    want = {i: (f"v{i}", i) for i in range(200)}

    def frame(rows):
        return spark.createDataFrame([Row(doc_id=k, v=v, n=n) for k, (v, n) in rows.items()],
                                     "doc_id long, v string, n long").repartition(4)

    def files_per_bucket():
        m = t._load_manifest()
        return [len([f for f in os.listdir(os.path.join(t.path, rel)) if f.endswith(".parquet")])
                for rel in m["buckets"].values()]

    writes = [
        ("create", lambda: t.create(frame(want))),
        ("upsert index", lambda: t.upsert(frame({i: (f"i{i}", -i) for i in range(0, 240, 3)}))),
        ("upsert create", lambda: t.upsert(frame({i: ("c", i) for i in range(190, 260)}),
                                           op="create")),
        ("upsert update", lambda: t.upsert(frame({i: (None, 7 * i) for i in range(1, 300, 5)}),
                                           op="update")),
        ("delete_ids", lambda: t.delete_ids(list(range(0, 260, 11)))),
        ("delete_where", lambda: t.delete_where(F.col("doc_id") % 13 == 1)),
        ("compact", lambda: t.compact()),
        ("compact(sort_by)", lambda: t.compact(sort_by=["n"])),
        ("compact(target_buckets)", lambda: t.compact(target_buckets=8)),
    ]
    for name, write in writes:
        write()
        counts = files_per_bucket()
        assert counts == [1] * t.n_buckets, (name, counts)
    want.update({i: (f"i{i}", -i) for i in range(0, 240, 3)})
    want.update({i: ("c", i) for i in range(190, 260) if i not in want})
    want.update({i: (want[i][0], 7 * i) for i in range(1, 300, 5) if i in want})
    want = {i: r for i, r in want.items() if i % 11 and i % 13 != 1}
    assert {r["doc_id"]: (r["v"], r["n"]) for r in t.read().collect()} == want


# --- concurrent-writer CAS (VERDICT r5 item #3) ----------------------------

def _buckets_of(spark, t, doc_ids):
    """{doc_id: bucket} of every id, in one Spark job."""
    return {r["doc_id"]: r["b"] for r in
            spark.createDataFrame([Row(doc_id=i) for i in doc_ids])
            .select("doc_id", t._bucket_col(t.n_buckets).alias("b")).collect()}


def test_interleaved_overlapping_upserts_both_land_exactly_once(
        spark, tmp_path, monkeypatch):
    """Writer A stages its merge, writer B commits an OVERLAPPING-bucket
    upsert before A's commit → A's first commit attempt conflicts, A
    re-merges from B's snapshot, and both batches land exactly once."""
    t, _ = _mk(spark, tmp_path, n=100, n_buckets=4)
    t2 = CowTable(spark, t.path)  # independent writer handle

    # find an insert id in the SAME bucket as doc 5 (buckets are
    # xxhash64-based, so probe)
    buckets = _buckets_of(spark, t, [5, *range(2000, 2200)])
    overlap_id = next(i for i in range(2000, 2200) if buckets[i] == buckets[5])
    batch_a = spark.createDataFrame([Row(doc_id=5, v="A5", n=-5),
                                     Row(doc_id=1005, v="A1005", n=-1)])
    batch_b = spark.createDataFrame([Row(doc_id=overlap_id, v="B", n=-9)])

    attempts = []
    orig = t._commit_buckets

    def interleaved(base_dirs, gen_rel):
        if not attempts:
            attempts.append(1)
            t2.upsert(batch_b)  # lands first, moves shared buckets
        return orig(base_dirs, gen_rel)

    monkeypatch.setattr(t, "_commit_buckets", interleaved)
    res = t.upsert(batch_a)
    rows = {r["doc_id"]: (r["v"], r["n"]) for r in t.read().collect()}
    assert rows[5] == ("A5", -5) and rows[1005] == ("A1005", -1)
    assert rows[overlap_id] == ("B", -9)
    assert len(rows) == 102  # 100 original + 2 inserts, no duplicates
    # create=gen0, B=gen1, A's retry commit=gen2
    assert res["generation"] == 2


def test_disjoint_bucket_writers_commit_without_conflict(
        spark, tmp_path, monkeypatch):
    """Two writers on DISJOINT buckets: B commits mid-flight, A's commit
    validates only ITS buckets and succeeds on the first attempt."""
    t, _ = _mk(spark, tmp_path, n=100, n_buckets=4)
    t2 = CowTable(spark, t.path)
    # find two doc ids hashing to different buckets
    buckets, ids = _buckets_of(spark, t, range(1000, 1040)), {}
    for i in range(1000, 1040):
        ids.setdefault(buckets[i], i)
        if len(ids) >= 2:
            break
    (b1, id1), (b2, id2) = sorted(ids.items())[:2]
    assert b1 != b2
    batch_a = spark.createDataFrame([Row(doc_id=id1, v="A", n=1)])
    batch_b = spark.createDataFrame([Row(doc_id=id2, v="B", n=2)])

    commits = []
    orig = t._commit_buckets

    def interleaved(base_dirs, gen_rel):
        if not commits:
            commits.append(1)
            t2.upsert(batch_b)
        return orig(base_dirs, gen_rel)

    monkeypatch.setattr(t, "_commit_buckets", interleaved)
    t.upsert(batch_a)
    assert len(commits) == 1  # single attempt — no conflict retry
    rows = {r["doc_id"]: r["v"] for r in t.read().collect()}
    assert rows[id1] == "A" and rows[id2] == "B" and len(rows) == 102


def test_conflict_retries_exhausted_raises(spark, tmp_path, monkeypatch):
    from fluent_plugin_elasticsearch_spark.sinks.cow_table import CommitConflict

    t, _ = _mk(spark, tmp_path, n=50, n_buckets=2)
    t2 = CowTable(spark, t.path)
    batch_a = spark.createDataFrame([Row(doc_id=3, v="A", n=0)])

    orig = t._commit_buckets
    buckets = _buckets_of(spark, t, [3, *range(1000, 1400)])
    same_bucket = [i for i in range(1000, 1400) if buckets[i] == buckets[3]]

    def always_conflicting(base_dirs, gen_rel):
        t2.upsert(spark.createDataFrame(
            [Row(doc_id=same_bucket.pop(), v="B", n=0)]))
        return orig(base_dirs, gen_rel)

    monkeypatch.setattr(t, "_commit_buckets", always_conflicting)
    with pytest.raises(CommitConflict):
        t.upsert(batch_a, max_retries=1)


def test_killed_lock_holder_never_blocks_upsert(spark, tmp_path):
    """A writer SIGKILLed inside the commit lock leaves no lock behind:
    the kernel drops its flock, so the next upsert commits at once."""
    t, _ = _mk(spark, tmp_path, n=20, n_buckets=2)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    holder = subprocess.Popen([sys.executable, "-c", _HOLDER, repo, t.path],
                              stdout=subprocess.PIPE, text=True)
    try:
        assert holder.stdout.readline().strip() == "inside"
        with pytest.raises(TimeoutError):  # the holder is alive and inside
            with t._commit_lock(timeout=0.2):
                pass
    finally:
        holder.send_signal(signal.SIGKILL)
        holder.wait(30)
    assert holder.returncode == -signal.SIGKILL
    t.upsert(spark.createDataFrame([Row(doc_id=3, v="X", n=0)]))
    assert {r["v"] for r in t.read().filter(F.col("doc_id") == 3).collect()} == {"X"}


def test_fresh_lock_times_out(tmp_path):
    """A waiter gives up with TimeoutError while a live holder is inside
    (here the same thread, through a second open of the lock file)."""
    t = CowTable(None, str(tmp_path))  # the lock needs no Spark
    with t._commit_lock():
        t0 = time.monotonic()
        with pytest.raises(TimeoutError):
            with t._commit_lock(timeout=0.2):
                pass
        assert time.monotonic() - t0 >= 0.2
    with t._commit_lock(timeout=0.2):  # released on exit
        pass


def test_delete_ids_large_int64_ids_match(spark, tmp_path):
    """ADVICE r5: ids >= 2^53 must still delete (no double coercion)."""
    t = CowTable(spark, str(tmp_path / "big"), id_col="doc_id", n_buckets=4)
    big = 2**62 + 12345
    t.create(spark.createDataFrame([Row(doc_id=big, v="big", n=1),
                                    Row(doc_id=7, v="small", n=2)]))
    t.delete_ids([big])
    rows = [r["doc_id"] for r in t.read().collect()]
    assert rows == [7]


def test_compact_sort_by_orders_within_buckets(spark, tmp_path):
    import glob
    import os

    import pyarrow.parquet as pq

    t, _ = _mk(spark, tmp_path, n=200, n_buckets=4)
    before = {(r["doc_id"], r["v"]) for r in t.read().collect()}
    t.compact(sort_by=["n"])
    t2 = CowTable(spark, t.path)
    assert {(r["doc_id"], r["v"]) for r in t2.read().collect()} == before
    # every rewritten parquet file is sorted by n — tight row-group
    # min/max stats are what make sorted compaction pay off on reads
    m = t2._load_manifest()
    files = []
    for rel in set(m["buckets"].values()):
        files += glob.glob(os.path.join(t2.path, rel, "*.parquet"))
    assert files
    for f in files:
        col = pq.read_table(f, columns=["n"]).column("n").to_pylist()
        assert col == sorted(col)


def test_stale_handle_rehashes_after_concurrent_rebucket(spark, tmp_path):
    """ADVICE r6 (medium): a handle opened before another writer's
    compact(target_buckets=...) must pick up the new bucket modulus when
    it reloads the manifest — hashing with the stale modulus would commit
    rows into buckets that don't match their id hash, silently breaking
    later bucket-pruned reads."""
    t1 = CowTable(spark, str(tmp_path / "t"), id_col="doc_id", n_buckets=4)
    t1.create(spark.createDataFrame([Row(doc_id=i, v=f"a{i}")
                                     for i in range(40)]))
    t2 = CowTable(spark, t1.path)          # second writer handle
    assert t2.n_buckets == 4
    t1.compact(target_buckets=8)           # re-bucket under t2's feet
    t2.upsert(spark.createDataFrame([Row(doc_id=i, v=f"b{i}")
                                     for i in range(0, 40, 3)]))
    assert t2.n_buckets == 8               # modulus refreshed on reload
    # every updated row must be found by a bucket-PRUNED id read
    got = {r["doc_id"]: r["v"] for r in t2.read().collect()}
    for i in range(40):
        assert got[i] == (f"b{i}" if i % 3 == 0 else f"a{i}")
    # delete_ids prunes by hash — only correct if rows live where the
    # current modulus says they do
    t2.delete_ids([0, 3, 6])
    left = {r["doc_id"] for r in t2.read().collect()}
    assert left == set(range(40)) - {0, 3, 6}


def test_update_op_keeps_stored_value_for_null_cells(spark, tmp_path):
    """op="update" is ES's partial update (write_ops.op_update): a null
    cell in the batch keeps the stored value."""
    t, _ = _mk(spark, tmp_path, n=10, n_buckets=2)
    t.upsert(spark.createDataFrame([(3, "U3", None)], "doc_id long, v string, n long"),
             op="update")
    assert {r["doc_id"]: (r["v"], r["n"]) for r in t.read().collect()}[3] == ("U3", 3)
    with pytest.raises(ValueError, match="write op"):
        t.upsert(spark.createDataFrame([Row(doc_id=3, v="U3", n=1)]), op="upsert")


def test_read_uses_recorded_schema(spark, tmp_path):
    """read() types its scan with the schema the manifest records: it
    starts no Spark job, and an empty table keeps its column types."""
    t, df = _mk(spark, tmp_path, n=50, n_buckets=4)
    t.upsert(spark.createDataFrame([Row(doc_id=1, v="x", n=-1)]))
    sc = spark.sparkContext
    group = "cow-read"
    sc.setJobGroup(group, group)
    try:
        read = t.read()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert read.dtypes == df.dtypes and read.count() == 50
    t.delete_where(F.lit(True))
    empty = t.read()
    assert empty.dtypes == df.dtypes and empty.count() == 0
    # a manifest that records no schema is rejected by name
    mf = os.path.join(t.path, "manifest.json")
    with open(mf) as f:
        m = json.load(f)
    del m["schema"]
    with open(mf, "w") as f:
        json.dump(m, f)
    with pytest.raises(ValueError, match="'schema'"):
        t.read()


def test_first_cow_batch_follows_the_write_op(spark, tmp_path):
    """The batch that creates the table stores what its write op stores on
    an empty table: `create` keeps an id's first row (ES 409s the later
    ones), `index` its last, `update` nothing (ES 404s a missing doc)."""
    import datetime as dt

    from fluent_plugin_elasticsearch_spark.streaming.ingest import IngestPipeline

    def events(*pairs):
        return spark.createDataFrame([Row(time=dt.datetime(2024, 1, 1, 5), user=u, msg=m)
                                      for u, m in pairs])

    want = {"create": {"a": "first"}, "index": {"a": "second"}, "update": {}}
    for op, rows in want.items():
        pipe = IngestPipeline(str(tmp_path / op), id_keys=["user"], write_op=op,
                              table_format="cow", n_buckets=4)
        pipe.run_batch(events(("a", "first"), ("a", "second")), 0)
        assert {r["user"]: r["msg"] for r in pipe._cow.read().collect()} == rows, op
    pipe = IngestPipeline(str(tmp_path / "create"), id_keys=["user"], write_op="create",
                          table_format="cow", n_buckets=4)
    pipe.run_batch(events(("a", "third"), ("b", "first"), ("b", "second")), 1)
    assert {r["user"]: r["msg"] for r in pipe._cow.read().collect()} == {
        "a": "first", "b": "first"}


def test_ingest_create_op_keeps_concurrent_writers_row(spark, tmp_path, monkeypatch):
    """write_op="create" on the cow sink: writer B commits id X between
    the pipeline's plan and its first commit.  The pipeline's retry
    re-plans on B's snapshot, so X keeps B's row."""
    import datetime as dt

    from fluent_plugin_elasticsearch_spark.streaming.ingest import IngestPipeline

    out = str(tmp_path / "out")

    def events(*pairs):
        return spark.createDataFrame([Row(time=dt.datetime(2024, 1, 1, 5), user=u, msg=m)
                                      for u, m in pairs])

    pipe = IngestPipeline(out, id_keys=["user"], write_op="create",
                          table_format="cow", n_buckets=4)
    pipe.run_batch(events(*[(f"u{i}", f"m{i}") for i in range(5)]), 0)
    other = IngestPipeline(out, id_keys=["user"], write_op="index",
                           table_format="cow", n_buckets=4)
    commits = []
    orig = pipe._cow._commit_buckets

    def interleaved(base_dirs, new_dirs):
        if not commits:
            other.run_batch(events(("X", "B")), 1)
        commits.append(1)
        return orig(base_dirs, new_dirs)

    monkeypatch.setattr(pipe._cow, "_commit_buckets", interleaved)
    pipe.run_batch(events(("X", "A"), ("u1", "A1")), 2)
    assert len(commits) == 2  # the first commit conflicted and was re-planned
    rows = {r["user"]: r["msg"] for r in pipe._cow.read().collect()}
    assert rows == {**{f"u{i}": f"m{i}" for i in range(5)}, "X": "B"}


# --- crash-point matrix ------------------------------------------------------

_BASE = {i: (f"v{i}", i) for i in range(20)}
_BATCH = [Row(doc_id=3, v="U3", n=None), Row(doc_id=100, v="N100", n=100)]
_OPS = {  # op → (run it, the rows it leaves on the table before it)
    "create": (lambda t, spark: t.exists() or t.create(_base_df(spark)), lambda b: _BASE),
    "upsert-index": (lambda t, spark: t.upsert(spark.createDataFrame(_BATCH), op="index"),
                     lambda b: {**b, 3: ("U3", None), 100: ("N100", 100)}),
    "upsert-create": (lambda t, spark: t.upsert(spark.createDataFrame(_BATCH), op="create"),
                      lambda b: {**b, 100: ("N100", 100)}),
    "upsert-update": (lambda t, spark: t.upsert(spark.createDataFrame(_BATCH), op="update"),
                      lambda b: {**b, 3: ("U3", 3)}),
    "delete_where": (lambda t, spark: t.delete_where(F.col("doc_id") < 5),
                     lambda b: {k: v for k, v in b.items() if k >= 5}),
    "delete_ids": (lambda t, spark: t.delete_ids([1, 2]),
                   lambda b: {k: v for k, v in b.items() if k not in (1, 2)}),
    "compact": (lambda t, spark: t.compact(target_buckets=8), lambda b: b),
    "vacuum": (lambda t, spark: t.vacuum(), lambda b: b),
}


def _base_df(spark):
    return spark.createDataFrame([Row(doc_id=k, v=v, n=n) for k, (v, n) in _BASE.items()])


def _snapshot(t):
    if not t.exists():
        return None
    return sorted((r["doc_id"], r["v"], r["n"]) for r in t.read().collect())


def _as_rows(d):
    return None if d is None else sorted((k, v, n) for k, (v, n) in d.items())


@pytest.mark.parametrize("point", ["staged", "temp_written", "swapped"])
@pytest.mark.parametrize("op", sorted(_OPS))
def test_crash_point_matrix(spark, tmp_path, monkeypatch, op, point):
    """A crash after the staging write, between the manifest temp file and
    its os.replace, or after the swap: a reader sees exactly the old or
    the new snapshot, a redelivered retry lands its rows once, and vacuum
    reclaims every orphan dir."""
    run, after = _OPS[op]
    t = CowTable(spark, str(tmp_path / "t"), id_col="doc_id", n_buckets=4)
    old = None
    if op != "create":
        t.create(_base_df(spark))
        t.upsert(spark.createDataFrame([Row(doc_id=7, v="v7", n=7)]))  # retires a dir
        old = _BASE
    new = after(old)
    write = t._write_manifest
    real_replace = os.replace

    if point == "staged":
        def crash(update):
            raise _Crash(point)
        monkeypatch.setattr(t, "_write_manifest", crash)
    elif point == "temp_written":
        def replace(src, dst):
            if dst.endswith("manifest.json"):
                assert os.path.exists(src)
                raise _Crash(point)
            return real_replace(src, dst)
        monkeypatch.setattr(os, "replace", replace)
    else:
        def crash_after(update):
            write(update)
            raise _Crash(point)
        monkeypatch.setattr(t, "_write_manifest", crash_after)
    with pytest.raises(_Crash):
        run(t, spark)
    monkeypatch.undo()

    reader = CowTable(spark, t.path)
    assert _snapshot(reader) == _as_rows(new if point == "swapped" else old)
    run(t, spark)  # redelivery
    assert _snapshot(t) == _as_rows(new)
    t.vacuum()
    m = t._load_manifest()
    live = {rel.split("/__bucket=")[0] for rel in m["buckets"].values()}
    assert {os.path.join("data", d) for d in os.listdir(os.path.join(t.path, "data"))} == live
    assert m["retired"] == [] and _snapshot(t) == _as_rows(new)


# --- commit lock -------------------------------------------------------------

def test_commit_lock_excludes_threads(tmp_path):
    """Two threads of one process: B asks for the lock while A holds it
    and must enter only after A has left."""
    t = CowTable(None, str(tmp_path))  # the lock needs no Spark
    a_inside = threading.Event()
    spans = {}

    def writer(name):
        if name == "B":
            assert a_inside.wait(10)
        with t._commit_lock(timeout=10):
            t0 = time.monotonic()
            if name == "A":
                a_inside.set()
                time.sleep(0.3)
            spans[name] = (t0, time.monotonic())

    threads = [threading.Thread(target=writer, args=(n,), name=n) for n in "AB"]
    for th in threads:
        th.start()
    for th in threads:
        th.join(20)
    assert not any(th.is_alive() for th in threads)
    assert spans["B"][0] >= spans["A"][1]  # B entered only after A left


_HOLDER = """
import sys, time
sys.path.insert(0, sys.argv[1])
from fluent_plugin_elasticsearch_spark.sinks.cow_table import CowTable
with CowTable(None, sys.argv[2])._commit_lock():
    print("inside", flush=True)
    time.sleep(120)
"""

_STRESS_WORKER = """
import json, os, sys, time
sys.path.insert(0, sys.argv[1])
from fluent_plugin_elasticsearch_spark.sinks.cow_table import CowTable
path, wid, n = sys.argv[2], int(sys.argv[3]), int(sys.argv[4])
t = CowTable(None, path)
inside, log = (os.path.join(path, p) for p in ("inside", "log.json"))
overlaps = 0
for i in range(n):
    with t._commit_lock():
        try:
            os.close(os.open(inside, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
            mine = True
        except FileExistsError:
            overlaps, mine = overlaps + 1, False
        with open(log) as f:
            entries = json.load(f)
        time.sleep(0.002)
        with open(log + ".tmp", "w") as f:
            json.dump(entries + [[wid, i]], f)
        os.replace(log + ".tmp", log)
        if mine:
            os.unlink(inside)
print(overlaps)
"""


def test_commit_lock_multiprocess_stress(tmp_path):
    """N processes x M commits through the commit lock: every commit
    lands exactly once and no two holders are ever inside together."""
    n_procs, n_commits = 8, 15
    with open(tmp_path / "log.json", "w") as f:
        f.write("[]")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    procs = [subprocess.Popen([sys.executable, "-c", _STRESS_WORKER, repo, str(tmp_path),
                               str(w), str(n_commits)], stdout=subprocess.PIPE, text=True)
             for w in range(n_procs)]
    outs = [p.communicate(timeout=240)[0] for p in procs]
    assert [p.returncode for p in procs] == [0] * n_procs
    assert sum(int(o.split()[-1]) for o in outs) == 0  # no overlapping holders
    with open(tmp_path / "log.json") as f:
        entries = json.load(f)
    assert sorted(map(tuple, entries)) == [(w, i) for w in range(n_procs)
                                           for i in range(n_commits)]
