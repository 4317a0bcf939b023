"""Self-tests of the benchmark: seeded generators, the oracles, and the
metric names it prints. Run with ``python3 -m pytest perfbench/tests -q``."""

import json
import os
import shutil
import subprocess
import sys
import tempfile

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from fluent_plugin_elasticsearch_spark.textproc import (  # noqa: E402
    bm25_topk_oracle, tokenize_unicode)
from perfbench import gen, run  # noqa: E402
from perfbench.oracle import Bm25Oracle, LogModel  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402
from perfbench.workloads import (  # noqa: E402
    SIZES, WAND_FALLBACK_POSTINGS, WORKLOADS, serve_shards)

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def test_generators_are_deterministic_per_seed():
    assert gen.query_stream(5, 300) == gen.query_stream(5, 300)
    assert gen.query_stream(5, 300) != gen.query_stream(6, 300)
    assert gen.cold_queries(5) == gen.cold_queries(5) != gen.cold_queries(6)
    pd.testing.assert_frame_equal(gen.corpus(40, 5), gen.corpus(40, 5))
    a, b = gen.LogEvents(5), gen.LogEvents(5)
    pd.testing.assert_frame_equal(a.initial(500), b.initial(500))
    pd.testing.assert_frame_equal(a.batch(100), b.batch(100))
    assert gen.agg_body(5) == gen.agg_body(5)


def test_log_batches_update_a_fixed_share_over_several_days():
    ev = gen.LogEvents(7)
    ev.initial(1000)
    known = set(ev.keys)
    batch = ev.batch(200)
    keys = list(zip(batch["tag"], batch["seq"]))
    assert len(set(keys)) == len(keys)
    assert sum(k in known for k in keys) == 60
    assert batch["time"].dt.date.nunique() >= 3


def test_stream_repeats_queries_and_mixes_term_kinds():
    stream = gen.query_stream(3, 2000)
    assert len(set(stream)) < len(stream) / 2
    terms = " ".join(stream).split()
    assert any(t in gen.STOPWORDS for t in terms)
    assert any(t.startswith("qx") for t in terms)
    assert any(t in gen._UNICODE_TOKENS for t in terms)


def test_full_size_stream_sends_some_queries_to_wand():
    """At full size some served queries carry enough postings into a shard
    for mode="auto" to pick block-max WAND. Shards hold an even share of the
    docs, so a query whose df sum clears the threshold by 5% per shard takes
    WAND on every shard."""
    n_shards = serve_shards(4)
    pdf = gen.corpus(SIZES["full"]["docs_per_shard"] * n_shards, 1)
    oracle = Bm25Oracle(pdf["doc_id"], list(pdf["text"]))
    df = {t: len(rows) for t, (rows, _) in oracle.postings.items()}
    mass = [sum(df.get(t, 0) for t in set(tokenize_unicode(q))) / n_shards
            for q in gen.query_stream(1, 1000)]
    wand = sum(m >= 1.05 * WAND_FALLBACK_POSTINGS for m in mass)
    assert 0.05 < wand / len(mass) < 0.5
    assert sum(m < 0.95 * WAND_FALLBACK_POSTINGS for m in mass) > len(mass) / 2


def _tiny_oracle():
    pdf = gen.corpus(120, 11)
    return pdf, Bm25Oracle(pdf["doc_id"], list(pdf["text"]))


def test_oracle_scores_match_the_reference_scorer():
    pdf, oracle = _tiny_oracle()
    docs = {int(d): tokenize_unicode(t) for d, t in zip(pdf["doc_id"], pdf["text"])}
    for q in sorted(set(gen.query_stream(11, 60))):
        want = dict(bm25_topk_oracle(docs, tokenize_unicode(q), len(docs)))
        got = oracle.scores(q)
        assert got.keys() == want.keys(), q
        assert all(abs(got[d] - w) <= 1e-9 * max(1.0, w) for d, w in want.items()), q


def test_oracle_counts_a_corrupted_result_as_a_failure():
    _, oracle = _tiny_oracle()
    q = "the " + gen._vocab()[3]
    full = oracle.scores(q)
    want = sorted(full.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    assert oracle.check(q, want, 10) is None
    assert oracle.check(q, want[:-1], 10) is not None  # a hit missing
    assert oracle.check(q, [(want[0][0], want[0][1] * 1.01)] + want[1:], 10) is not None
    outsider = next(d for d, s in full.items() if d not in dict(want) and s < want[0][1] - 1e-3)
    assert oracle.check(q, [(outsider, want[0][1])] + want[1:], 10) is not None
    assert oracle.check("qx1", [], 10) is None


def test_log_model_counts_a_corrupted_agg_as_a_failure():
    ev = gen.LogEvents(2)
    model = LogModel()
    model.apply(ev.initial(300))
    model.apply(ev.batch(50))
    body = gen.agg_body(2)
    want = model.agg_counts(body)
    parents = {}
    for (index, _), n in want.items():
        parents[index] = parents.get(index, 0) + n
    rows = [{"by_index_key": i, "by_tag_key": t, "doc_count": n, "by_index_doc_count": parents[i]}
            for (i, t), n in want.items()]
    assert model.check_aggs({"by_index": rows}, want) is None
    rows[0] = dict(rows[0], doc_count=rows[0]["doc_count"] + 1)
    assert model.check_aggs({"by_index": rows}, want) is not None


@pytest.fixture(scope="module")
def session():
    saved_env, saved_tempdir = dict(os.environ), tempfile.tempdir
    info = run.machine()
    os.makedirs(run.TMP_ROOT, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="test-", dir=run.TMP_ROOT)
    spark, session_s = run.start_spark(tmp, info)
    yield spark, info, session_s, tmp
    run.stop_spark(spark)
    shutil.rmtree(tmp, ignore_errors=True)
    os.environ.clear()
    os.environ.update(saved_env)
    tempfile.tempdir = saved_tempdir


def test_oracle_agrees_with_engine_on_a_tiny_corpus(session):
    from fluent_plugin_elasticsearch_spark.operators.index_build import build_index
    from fluent_plugin_elasticsearch_spark.operators.search import InvertedIndex

    spark, _, _, tmp = session
    pdf, oracle = _tiny_oracle()
    docs = spark.createDataFrame(pdf[["doc_id", "url", "html"]])
    out = os.path.join(tmp, "tiny_idx")
    build_index(spark, docs, out, id_col="doc_id", text_col=None, html_col="html",
                url_col="url", tokenizer="unicode", n_shards=2)
    idx = InvertedIndex(spark, out, cache_term_stats=True)
    for q in sorted(set(gen.query_stream(11, 60))):
        hits = [(r["doc_id"], r["score"]) for r in idx.search(q, k=10, mode="auto").collect()]
        assert oracle.check(q, hits, 10) is None, q


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_metric_names_match_benchmark_json(session, workload):
    spark, info, session_s, tmp = session
    wtmp = tempfile.mkdtemp(dir=tmp)
    ctx = run.make_ctx(spark, info, session_s, Tracer(True),
                       {"seed": 1, "seconds": 1.0, "sizes": SIZES["smoke"], "tmp": wtmp})
    res = WORKLOADS[workload](ctx)
    assert res.failed == 0, res.errors
    layer_names = {m["name"] for m in SPEC["per_layer"]}
    assert set(res.layer) <= layer_names
    for trace, key in ((False, "end_to_end"), (True, "per_layer")):
        line = run.result_line(res, SPEC, trace)
        assert [(k, v["unit"]) for k, v in line["metrics"].items()] == \
            [(m["name"], m["unit"]) for m in SPEC[key]]
    assert all(v > 0 for v in res.e2e.values())


def test_cli_prints_the_result_as_its_last_line():
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "log_ingest",
                        "--seed", "2", "--seconds", "1", "--trace", "0", "--size", "smoke"],
                       cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-2000:]
    line = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["correct"] and line["failed"] == 0 and line["attempted"] >= 1
    assert list(line["metrics"]) == [m["name"] for m in SPEC["end_to_end"]]


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "search_serve",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
