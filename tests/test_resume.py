"""Phase-5 resumability (north rule: 'resumable from checkpoint with
per-partition lineage + metrics'): kill the build after the first shard
batch, restart, and assert the resumed index is identical to a one-shot
build — and that completed shards were NOT rebuilt."""

import pytest
from pyspark.sql import functions as F

from fluent_plugin_elasticsearch_spark.operators.index_build import build_index, with_doc_id
from fluent_plugin_elasticsearch_spark.operators.search import InvertedIndex


class Boom(RuntimeError):
    pass


@pytest.fixture(scope="module")
def small_docs(spark, corpus_pdf):
    return with_doc_id(spark.createDataFrame(corpus_pdf[:200]), "url")


def postings_fingerprint(spark, path):
    posts = InvertedIndex(spark, path).postings()
    return sorted(
        (r["shard"], r["term"], r["block_id"], bytes(r["docs_enc"]).hex(), bytes(r["tfs_enc"]).hex())
        for r in posts.collect()
    )


def test_kill_and_resume_identical(spark, small_docs, tmp_path):
    one_shot = str(tmp_path / "one")
    build_index(spark, small_docs, one_shot, id_col="doc_id", html_col="html",
                text_col=None, tokenizer="unicode", n_shards=4, n_salts=2)

    resumed = str(tmp_path / "res")

    def die_after_first(group):
        raise Boom(f"crash after {group}")

    with pytest.raises(Boom):
        build_index(spark, small_docs, resumed, id_col="doc_id", html_col="html",
                    text_col=None, tokenizer="unicode", n_shards=4, n_salts=2,
                    shard_batches=2, run_id="r1", on_batch_done=die_after_first)

    # partial state: manifest has some (not all) shards done
    m1 = spark.read.parquet(f"{resumed}/_manifest")
    done1 = {r["shard"] for r in m1.collect()}
    assert 0 < len(done1) < 4
    assert set(m1.columns) >= {"shard", "status", "run_id", "app_id", "ts",
                               "n_blocks", "n_postings", "enc_bytes", "wall_s"}

    # resume: completes remaining shards only
    build_index(spark, small_docs, resumed, id_col="doc_id", html_col="html",
                text_col=None, tokenizer="unicode", n_shards=4, n_salts=2,
                shard_batches=2, run_id="r2")
    m2 = spark.read.parquet(f"{resumed}/_manifest")
    assert {r["shard"] for r in m2.collect()} == {0, 1, 2, 3}
    # lineage: first-run shards keep their original run_id (not rebuilt)
    runs = {r["shard"]: r["run_id"] for r in m2.collect()}
    assert any(v == "r1" for v in runs.values()) and any(v == "r2" for v in runs.values())

    assert postings_fingerprint(spark, resumed) == postings_fingerprint(spark, one_shot)

    idx_a = InvertedIndex(spark, one_shot)
    idx_b = InvertedIndex(spark, resumed)
    got_a = [(r["doc_id"], r["score"]) for r in idx_a.search("the of café", 10).collect()]
    got_b = [(r["doc_id"], r["score"]) for r in idx_b.search("the of café", 10).collect()]
    assert got_a == got_b


def test_crash_before_term_stats_resumes_to_a_searchable_index(spark, small_docs, tmp_path):
    """Crash after the LAST shard group's manifest rows, before term_stats
    and meta.json: every shard is done, yet the index is unfinished. The
    re-run must write term_stats and meta.json (the writer's finish step
    runs whenever meta.json is absent) and rebuild no shard."""
    import os

    one_shot = str(tmp_path / "one")
    build_index(spark, small_docs, one_shot, id_col="doc_id", html_col="html",
                text_col=None, tokenizer="unicode", n_shards=4, n_salts=2)
    out = str(tmp_path / "idx")
    kw = dict(id_col="doc_id", html_col="html", text_col=None, tokenizer="unicode",
              n_shards=4, n_salts=2, shard_batches=2)
    seen = []

    def die_after_second(group):
        seen.append(group)
        if len(seen) == 2:
            raise Boom(f"crash after {group}")

    with pytest.raises(Boom):
        build_index(spark, small_docs, out, run_id="r1", on_batch_done=die_after_second, **kw)
    assert {r["shard"] for r in spark.read.parquet(f"{out}/_manifest").collect()} == {0, 1, 2, 3}
    assert not os.path.exists(f"{out}/term_stats") and not os.path.exists(f"{out}/meta.json")

    res = build_index(spark, small_docs, out, run_id="r2", **kw)
    assert res["shard_metrics"] == []  # no shard rebuilt
    assert os.path.exists(f"{out}/term_stats") and os.path.exists(f"{out}/meta.json")
    assert postings_fingerprint(spark, out) == postings_fingerprint(spark, one_shot)
    got, want = ([(r["doc_id"], r["score"])
                  for r in InvertedIndex(spark, p).search("the of café", 10).collect()]
                 for p in (out, one_shot))
    assert got == want and got


def test_resume_rejects_changed_settings(spark, small_docs, tmp_path):
    """A checkpoint built with one tokenizer must not be finished with
    another (the index would hold terms its meta's tokenizer never emits)
    nor with positions switched on (its staging table lacks them): the
    resume raises a ValueError naming the setting and leaves the
    checkpoint as it was."""
    out = str(tmp_path / "idx")
    kw = dict(id_col="doc_id", html_col="html", text_col=None, tokenizer="unicode",
              n_shards=4, n_salts=2, shard_batches=2)

    def die_after_first(group):
        raise Boom(f"crash after {group}")

    with pytest.raises(Boom):
        build_index(spark, small_docs, out, run_id="r1", on_batch_done=die_after_first, **kw)
    for changed in ({"tokenizer": "simple"}, {"with_positions": True}, {"n_shards": 2},
                    {"block_size": 4}, {"url_col": "url"}):
        (key,) = changed
        with pytest.raises(ValueError, match=key):
            build_index(spark, small_docs, out, run_id="r2", **{**kw, **changed})
    build_index(spark, small_docs, out, run_id="r3", **kw)
    idx = InvertedIndex(spark, out)
    assert idx.meta["n_docs"] == 200 and idx.meta["tokenizer"] == "unicode"
    assert {r["run_id"] for r in idx.manifest().collect()} == {"r1", "r3"}
    assert idx.search("café", 5).count() > 0


def test_rerun_completed_build_is_noop(spark, small_docs, tmp_path):
    out = str(tmp_path / "idx")
    build_index(spark, small_docs, out, id_col="doc_id", html_col="html",
                text_col=None, n_shards=2, n_salts=2, run_id="first")
    fp = postings_fingerprint(spark, out)
    build_index(spark, small_docs, out, id_col="doc_id", html_col="html",
                text_col=None, n_shards=2, n_salts=2, run_id="second")
    assert postings_fingerprint(spark, out) == fp
    runs = {r["run_id"] for r in spark.read.parquet(f"{out}/_manifest").collect()}
    assert runs == {"first"}  # nothing re-done


def test_torn_write_does_not_double_postings(spark, small_docs, tmp_path):
    """Crash AFTER the postings append but BEFORE the manifest marks shards
    done: the re-run must rebuild those shards from scratch, not re-append
    (which silently doubled postings and BM25 tfs)."""
    import shutil

    out = str(tmp_path / "torn")
    build_index(spark, small_docs, out, id_col="doc_id", html_col="html",
                text_col=None, tokenizer="unicode", n_shards=4, n_salts=2,
                run_id="r1")
    fp = postings_fingerprint(spark, out)
    # simulate the torn state: postings/doc_stats on disk, manifest gone
    shutil.rmtree(f"{out}/_manifest")
    build_index(spark, small_docs, out, id_col="doc_id", html_col="html",
                text_col=None, tokenizer="unicode", n_shards=4, n_salts=2,
                run_id="r2")
    assert postings_fingerprint(spark, out) == fp
    ds = spark.read.parquet(f"{out}/doc_stats")
    assert ds.count() == ds.select("doc_id").distinct().count()


def test_partial_tokenized_staging_is_rebuilt(spark, small_docs, tmp_path):
    """_tokenized reuse is gated on the _SUCCESS marker: a directory from a
    crashed write (no marker) must be rebuilt, not trusted."""
    import os

    out = str(tmp_path / "stage")
    os.makedirs(f"{out}/_tokenized", exist_ok=True)  # torn: dir, no _SUCCESS
    build_index(spark, small_docs, out, id_col="doc_id", html_col="html",
                text_col=None, tokenizer="unicode", n_shards=2, n_salts=2)
    assert os.path.exists(f"{out}/_tokenized/_SUCCESS")
    idx = InvertedIndex(spark, out)
    assert idx.meta["n_docs"] == 200


def test_phase1_group_memory_warning(spark, tmp_path):
    """A deliberately under-sharded build (1 shard x 1 salt with a tiny
    max_group_bytes) must emit the ResourceWarning carrying the sizing
    rule; a correctly sized build must not."""
    import warnings

    from pyspark.sql import Row

    from fluent_plugin_elasticsearch_spark.operators.index_build import build_index

    docs = spark.createDataFrame(
        [Row(doc_id=i, text="alpha beta gamma delta " * 5) for i in range(50)]
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        build_index(spark, docs, str(tmp_path / "idx_warn"), id_col="doc_id",
                    text_col="text", tokenizer="simple", n_shards=1, n_salts=1,
                    max_group_bytes=1024)
        msgs = [str(w.message) for w in caught if issubclass(w.category, ResourceWarning)]
    assert any("n_shards*n_salts" in m for m in msgs), msgs
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        build_index(spark, docs, str(tmp_path / "idx_ok"), id_col="doc_id",
                    text_col="text", tokenizer="simple", n_shards=2, n_salts=2)
        msgs = [str(w.message) for w in caught if issubclass(w.category, ResourceWarning)]
    assert not msgs, msgs
