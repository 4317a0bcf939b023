"""Distributed BPE trainer (operators/bpe): merge sequence must equal
the classic single-machine Sennrich trainer byte-for-byte; encoding and
round-1 pair stats mirrored in DuckDB."""

from __future__ import annotations

import collections

import duckdb
import pytest
from pyspark.sql import Row

from fluent_plugin_elasticsearch_spark.operators.bpe import (
    EOW,
    bpe_encode,
    bpe_pair_stats,
    bpe_pair_stats_sql,
    train_bpe,
    word_freqs,
)

TEXTS = ["low lower lowest low low", "new newer newest new",
         "wider wide wide"]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(TEXTS)])


def _ref_train(wf: dict, n: int):
    """Classic in-memory trainer with the engine's tie-break
    (count desc, pair-string asc)."""
    words = {tuple(list(w) + [EOW]): c for w, c in wf.items()}
    merges = []
    for _ in range(n):
        pc = collections.Counter()
        for syms, c in words.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += c
        if not pc:
            break
        mx = max(pc.values())
        a, _, b = sorted(" ".join(k) for k, v in pc.items()
                         if v == mx)[0].partition(" ")
        merges.append((a, b))
        new = {}
        for syms, c in words.items():
            out, pend = [], ""
            for s in syms:
                if pend == a and s == b:
                    out.append(a + b)
                    pend = ""
                elif pend == "":
                    pend = s
                else:
                    out.append(pend)
                    pend = s
            if pend:
                out.append(pend)
            new[tuple(out)] = new.get(tuple(out), 0) + c
        words = new
    return merges


def test_train_matches_reference_trainer(spark, docs):
    wf = {r["word"]: r["cnt"] for r in word_freqs(docs).collect()}
    m = train_bpe(docs, n_merges=6)
    assert m == _ref_train(wf, 6)
    # determinism under repartitioning
    assert train_bpe(docs.repartition(5), n_merges=6) == m


def test_train_matches_reference_trainer_at_20_merges(spark, docs):
    """Twenty merges nest twenty folds in one column expression, which
    must stay small enough for the driver to plan."""
    wf = {r["word"]: r["cnt"] for r in word_freqs(docs).collect()}
    assert train_bpe(docs, n_merges=20) == _ref_train(wf, 20)


def test_encode_applies_merges_leftmost(spark, docs):
    m = train_bpe(docs, n_merges=4)
    enc = {r["doc_id"]: r["subwords"]
           for r in bpe_encode(docs, m).collect()}
    # 'low' under (l,o),(lo,w),(e,w),(n,ew): -> ['low', EOW]? check via
    # reference application
    assert enc[0][:2] == ["low", EOW]
    # overlapping merge is leftmost-first: 'aaa' under (a,a) -> [aa, a]
    one = spark.createDataFrame([Row(doc_id=1, text="aaa")])
    got = bpe_encode(one, [("a", "a")]).collect()[0]["subwords"]
    assert got == ["aa", "a", EOW]


def test_pair_stats_matches_duckdb(spark, docs):
    con = duckdb.connect()
    con.execute("CREATE TABLE d(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO d VALUES (?, ?)",
                    list(enumerate(TEXTS)))
    want = [tuple(r) for r in
            con.execute(bpe_pair_stats_sql("d", top=15)).fetchall()]
    got = [(r["pair"], r["cnt"]) for r in
           bpe_pair_stats(word_freqs(docs), top=15).collect()]
    assert got == want
