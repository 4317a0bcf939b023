"""Property tests on random corpora (SURVEY §5c): for randomly generated
corpora and queries, compressed-index WAND == exhaustive == pure-Python
brute force, rank-identical with scores to 1e-9."""

import numpy as np
import pytest
from pyspark.sql import Row

from fluent_plugin_elasticsearch_spark.operators.index_build import build_index
from fluent_plugin_elasticsearch_spark.operators.search import InvertedIndex
from fluent_plugin_elasticsearch_spark.textproc import bm25_topk_oracle, tokenize_simple

VOCAB = [f"w{i}" for i in range(60)]  # tiny vocab → heavy collisions/ties


def random_corpus(seed: int, n_docs: int = 150):
    rng = np.random.default_rng(seed)
    docs = {}
    for i in range(n_docs):
        length = int(rng.integers(3, 60))
        # zipf-ish: low ids much more likely
        idx = np.minimum(rng.zipf(1.4, length) - 1, len(VOCAB) - 1)
        docs[i] = " ".join(VOCAB[j] for j in idx)
    return docs


@pytest.mark.parametrize("seed", [7, 23, 99])
def test_random_corpus_rank_identity(spark, tmp_path, seed):
    docs = random_corpus(seed)
    df = spark.createDataFrame([Row(doc_id=k, text=v) for k, v in docs.items()])
    out = str(tmp_path / f"idx{seed}")
    build_index(spark, df, out, id_col="doc_id", text_col="text",
                tokenizer="simple", n_shards=3, n_salts=2, block_size=16)
    idx = InvertedIndex(spark, out)

    tokens = {k: tokenize_simple(v) for k, v in docs.items()}
    rng = np.random.default_rng(seed + 1)
    queries = [
        " ".join(VOCAB[int(j)] for j in rng.integers(0, len(VOCAB), int(rng.integers(1, 5))))
        for _ in range(5)
    ] + ["w0", "w0 w1 w2 w3 w4"]  # head terms: max ties/pruning stress

    for q in queries:
        expected = bm25_topk_oracle(tokens, tokenize_simple(q), 10)
        for mode in ("exhaustive", "wand"):
            got = idx.search(q, k=10, mode=mode).collect()
            assert [r["doc_id"] for r in got] == [d for d, _ in expected], (seed, q, mode)
            for (eid, esc), row in zip(expected, got):
                assert abs(row["score"] - esc) < 1e-9, (seed, q, mode, eid)
