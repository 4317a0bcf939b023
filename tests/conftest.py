import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# The session's default driver heap (48g) is sized for production boxes; the
# suite's corpora are small, and a heap that fits a 16 GB machine keeps the
# JVM from being killed by the kernel instead of collecting garbage.
os.environ.setdefault("SPARK_DRIVER_MEM", "4g")

from fluent_plugin_elasticsearch_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", cores=os.environ.get("SPARK_GRAFT_CPUS", "4"),
                  shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def corpus_pdf():
    from fluent_plugin_elasticsearch_spark.corpus import generate_corpus

    return generate_corpus(600, seed=42, avg_len=80)


@pytest.fixture(scope="session")
def corpus_df(spark, corpus_pdf):
    df = spark.createDataFrame(corpus_pdf)
    df.persist()
    df.count()
    return df


@pytest.fixture(scope="session")
def index_dir(spark, corpus_df, tmp_path_factory):
    """A built index over the webtext corpus (html column → extraction →
    unicode tokenizer), shared across query tests."""
    from fluent_plugin_elasticsearch_spark.operators.index_build import build_index, with_doc_id

    out = str(tmp_path_factory.mktemp("index") / "idx")
    docs = with_doc_id(corpus_df, "url")
    build_index(
        spark, docs, out,
        id_col="doc_id", text_col=None, html_col="html", url_col="url",
        tokenizer="unicode", n_shards=4, n_salts=4, block_size=32,
    )
    return out


@pytest.fixture(scope="session")
def pos_index(spark, sf_dir, tmp_path_factory):
    """A positional index (with_positions=True) over the sf documents'
    text column, simple tokenizer."""
    from fluent_plugin_elasticsearch_spark.operators.index_build import build_index

    out = str(tmp_path_factory.mktemp("pidx") / "idx")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    build_index(spark, docs, out, id_col="doc_id", text_col="text",
                tokenizer="simple", n_shards=4, n_salts=4, block_size=32,
                with_positions=True)
    return out


SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
