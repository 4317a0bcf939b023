"""A warmed index answers from driver memory: its results are
``Hits`` (a driver-side Arrow table) that collect without a single py4j
call, carry exactly the unwarmed (Spark) path's rows, and become a Spark
DataFrame only when the caller composes them with Spark."""

from __future__ import annotations

import gc
import sys
import threading
from contextlib import contextmanager

import pandas as pd
import pyarrow.pandas_compat
from pyspark.sql import functions as F

from fluent_plugin_elasticsearch_spark.operators import codec
from fluent_plugin_elasticsearch_spark.operators.search import Hits, InvertedIndex, to_es_response

QUERIES = ["the data", "data query", "zzznope"]  # the last is absent


@contextmanager
def _py4j_commands(spark):
    """Record every command this thread sends to the JVM gateway (the
    warm path starts no thread, so that is every command a query sends).
    Other threads — py4j callback threads left by earlier streaming tests
    — release their Java proxies at any time, each release a py4j delete
    command; garbage collected first, a proxy left in a reference cycle
    cannot send one inside the window either."""
    gc.collect()
    client = spark.sparkContext._gateway._gateway_client
    send, sent, caller = client.send_command, [], threading.get_ident()

    def counting(command, *args, **kwargs):
        if threading.get_ident() == caller:
            sent.append(command)
        return send(command, *args, **kwargs)

    client.send_command = counting
    try:
        yield sent
    finally:
        del client.send_command


@contextmanager
def _pandas_frames(monkeypatch):
    """Record every pandas DataFrame this thread constructs and every
    pyarrow ``Table.to_pandas`` it calls (both end in one of the two
    patched functions)."""
    made, caller = [], threading.get_ident()
    init, to_frame = pd.DataFrame.__init__, pyarrow.pandas_compat.table_to_dataframe

    def counting(fn, kind):
        def wrapper(*args, **kwargs):
            if threading.get_ident() == caller:
                made.append(kind)
            return fn(*args, **kwargs)
        return wrapper

    with monkeypatch.context() as m:
        m.setattr(pd.DataFrame, "__init__", counting(init, "DataFrame"))
        m.setattr(pyarrow.pandas_compat, "table_to_dataframe", counting(to_frame, "to_pandas"))
        yield made


@contextmanager
def _varint_decodes(monkeypatch):
    """Record every ``codec.varint_decode`` call this thread makes (every
    posting decode goes through it)."""
    made, caller, decode = [], threading.get_ident(), codec.varint_decode

    def counting(*args, **kwargs):
        if threading.get_ident() == caller:
            made.append(len(args[0]))
        return decode(*args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(codec, "varint_decode", counting)
        yield made


def _typed(rows) -> list:
    """Rows as (field names, values, value types): equal only when the
    two results agree in field order, Python types and values."""
    return [(tuple(r.__fields__), tuple(r), tuple(type(v) for v in r)) for r in rows]


def _requests(idx: InvertedIndex) -> dict:
    out = {}
    for q in QUERIES:
        for k in (5, 0):  # k=0 is ES size: 0, no hits
            for mode in ("auto", "wand", "exhaustive"):
                out[q, mode, k] = _typed(idx.search(q, k=k, mode=mode).collect())
            out[q, "phrase", k] = _typed(idx.match_phrase(q, k=k).collect())
    for k in (5, 0):
        out["batch", k] = sorted(_typed(idx.search_batch(dict(enumerate(QUERIES)), k=k).collect()))
        for q in ("the da", "data qu", "the zz"):  # the last expands to no term
            out["phrase_prefix", q, k] = _typed(idx.match_phrase_prefix(q, k=k).collect())
        for value, kind in (("s", "prefix"), ("zz", "prefix"), ("s*", "wildcard"),
                            ("?a*", "wildcard"), ("*e", "wildcard")):
            out["span_multi", value, kind, k] = _typed(idx.span_multi(value, kind, k=k).collect())
    out["es"] = to_es_response(idx.search("data query", k=5))
    return out


def test_warm_queries_make_no_jvm_call(spark, pos_index, monkeypatch):
    """search (auto, wand, exhaustive, an absent term), search_batch,
    match_phrase, match_phrase_prefix, span_multi (prefix and wildcard)
    and to_es_response on a warmed index, with k=5 and k=0, send no
    command to the JVM, build no pandas frame and decode no posting (the
    postings were decoded once, at warm()), and their rows equal the
    unwarmed index's in value, type and field order."""
    with _varint_decodes(monkeypatch) as decodes:
        warm_idx = InvertedIndex(spark, pos_index).warm()
    assert decodes  # the counter sees warm() decode the index
    with (_py4j_commands(spark) as sent, _pandas_frames(monkeypatch) as frames,
          _varint_decodes(monkeypatch) as decodes):
        got = _requests(warm_idx)
    assert sent == []
    assert frames == []
    assert decodes == []
    with _py4j_commands(spark) as sent:
        want = _requests(InvertedIndex(spark, pos_index))
    assert sent  # the unwarmed path's Spark calls are seen
    assert got == want
    assert got["data query", "auto", 5] and got["zzznope", "auto", 5] == []
    assert got["data query", "wand", 0] == [] and got["batch", 0] == []
    assert got["phrase_prefix", "the da", 5] and got["phrase_prefix", "the zz", 5] == []
    assert got["span_multi", "?a*", "wildcard", 5] and got["span_multi", "zz", "prefix", 5] == []
    assert got["es"]["hits"]["total"]["value"] == 5


def test_warm_hits_compose_with_spark(spark, index_dir):
    """A warmed result used as a DataFrame (search_with_urls, a broadcast
    join, a column reference) gives the unwarmed rows, over one lazily
    built LocalTableScan shared by concurrent callers."""
    warm_idx = InvertedIndex(spark, index_dir).warm()
    cold = InvertedIndex(spark, index_dir)
    assert (warm_idx.search_with_urls("the baba", k=5).collect()
            == cold.search_with_urls("the baba", k=5).collect())

    def composed(idx):
        hits = idx.search("of and to", k=5)
        joined = (idx.docmap().join(F.broadcast(hits), "doc_id")
                  .orderBy(F.desc("score"), F.asc("doc_id")).collect())
        return joined, hits.select(hits["score"]).collect()

    assert composed(warm_idx) == composed(cold)

    hits = warm_idx.search("of and to", k=5)
    assert isinstance(hits, Hits)
    frames = []
    threads = [threading.Thread(target=lambda: frames.append(hits._frame())) for _ in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)  # interleave the callers finely
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert len(frames) == 8 and all(f is frames[0] for f in frames)
    plan = hits._jdf.queryExecution().executedPlan().toString()
    assert plan.startswith("LocalTableScan")
