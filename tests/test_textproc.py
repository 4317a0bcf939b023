"""Extraction + tokenization unit tests (pure Python, no Spark).

Byte-identity is the per-row invariant from BASELINE.json input_hint:
extract_text(html) == text for every corpus row.
"""

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from fluent_plugin_elasticsearch_spark.corpus import generate_corpus, _wrap_html
from fluent_plugin_elasticsearch_spark.operators.codec import (
    decode_postings,
    delta_decode,
    delta_encode,
    varint_decode,
    varint_encode,
)
from fluent_plugin_elasticsearch_spark.operators.index_build import _make_merge_fn
from fluent_plugin_elasticsearch_spark.operators.wand import _tfn
from fluent_plugin_elasticsearch_spark.textproc import (
    bm25_topk_oracle,
    extract_text,
    tokenize_simple,
    tokenize_unicode,
)


def test_extract_byte_identity_corpus(corpus_pdf):
    for _, row in corpus_pdf.iterrows():
        assert extract_text(row["html"]) == row["text"]


def test_extract_strips_noise():
    html = b"<html><head><title>T</title></head><body><script>x<y</script><p>a &amp; b</p><!-- c --><div>&lt;tag&gt;</div></body></html>"
    assert extract_text(html) == "a & b <tag>"


def test_tokenize_unicode_cjk_and_accents():
    assert tokenize_unicode("Café über ALL") == ["café", "über", "all"]
    assert tokenize_unicode("日本語 ok") == ["日", "本", "語", "ok"]
    assert tokenize_unicode("") == []


def test_tokenize_simple():
    assert tokenize_simple("Hello, World-42!") == ["hello", "world", "42"]
    assert tokenize_simple("  ") == []


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), min_size=0, max_size=500))
@settings(max_examples=50, deadline=None)
def test_varint_roundtrip(values):
    arr = np.array(values, dtype=np.uint64)
    assert (varint_decode(varint_encode(arr), len(values)) == arr).all()


@given(st.sets(st.integers(min_value=0, max_value=2**62), min_size=1, max_size=400))
@settings(max_examples=50, deadline=None)
def test_delta_roundtrip(ids):
    arr = np.array(sorted(ids), dtype=np.uint64)
    assert (delta_decode(delta_encode(arr), len(arr)) == arr).all()


def test_encode_blocks_roundtrip_and_maxscore():
    """The build's phase-2 block encoder: one term's postings, split over
    three salted partials, come back as full blocks in doc order with
    exact first/last doc and the block's max tf-factor."""
    rng = np.random.default_rng(7)
    ids = np.unique(rng.integers(0, 10**9, 1000).astype(np.uint64))
    tfs = rng.integers(1, 50, ids.size).astype(np.uint64)
    dls = rng.integers(1, 300, ids.size).astype(np.uint64)
    salt = rng.integers(0, 3, ids.size)
    partials = pd.DataFrame([
        {"shard": 0, "term": "t", "salt": s, "n_docs": int(m.sum()),
         "docs_enc": delta_encode(ids[m]), "tfs_enc": varint_encode(tfs[m]),
         "dls_enc": varint_encode(dls[m])}
        for s in range(3) for m in [salt == s]
    ])
    avgdl, k1, b = 120.0, 1.2, 0.75
    blocks = _make_merge_fn(avgdl, k1, b, block_size=128)(partials)
    assert blocks["n_docs"].tolist() == [128] * 7 + [ids.size - 7 * 128]
    assert blocks["block_id"].tolist() == list(range(8))
    p = decode_postings(blocks)
    assert (p.ids == ids.astype(np.int64)).all() and (p.tfs == tfs.astype(np.int64)).all()
    assert (p.dls == dls.astype(np.int64)).all()
    pos = 0
    for blk in blocks.itertuples():
        e = pos + blk.n_docs
        assert blk.max_tfn == _tfn(p.tfs[pos:e], p.dls[pos:e], avgdl, k1, b).max()
        assert blk.first_doc == ids[pos] and blk.last_doc == ids[e - 1]
        pos = e
    assert pos == ids.size


def test_oracle_bm25_basics():
    docs = {1: ["a", "b", "a"], 2: ["b", "c"], 3: ["c", "c", "c", "d"]}
    top = bm25_topk_oracle(docs, ["c"], k=2)
    assert [d for d, _ in top] == [3, 2]
    assert all(s > 0 for _, s in top)
    # dedup of repeated query terms
    assert bm25_topk_oracle(docs, ["c", "c"], 3) == bm25_topk_oracle(docs, ["c"], 3)


def test_wrap_html_deterministic():
    a = _wrap_html("x y z", "u", 5)
    b = _wrap_html("x y z", "u", 5)
    assert a == b
    pdf1 = generate_corpus(30, seed=1)
    pdf2 = generate_corpus(30, seed=1)
    assert pdf1.equals(pdf2)


def test_highlight_fragments(spark):
    from pyspark.sql import Row

    from fluent_plugin_elasticsearch_spark.operators.textquality import highlight_fragments

    docs = spark.createDataFrame([
        Row(doc_id=1, text="alpha beta data gamma delta epsilon zeta"),
        Row(doc_id=2, text="no hits here at all"),
        Row(doc_id=3, text="data at the very start"),
        Row(doc_id=4, text=""),
    ])
    out = {r["doc_id"]: r for r in
           highlight_fragments(docs, ["data", "query"], window=2).collect()}
    assert set(out) == {1, 3}
    assert out[1]["fragment"] == "alpha beta <em>data</em> gamma delta"
    assert out[1]["first_pos"] == 3 and out[1]["n_hits"] == 1
    # window start clamps at the document start (still 2w+1 tokens long)
    assert out[3]["fragment"] == "<em>data</em> at the very start"


def test_extract_udf_byte_identity_spark(spark, corpus_df):
    """input_hint per-row invariant through the ACTUAL Arrow UDF path (not
    just the pure-python function): extract_text_udf(html) must be
    byte-identical to the text column for every corpus row."""
    from pyspark.sql import functions as F

    from fluent_plugin_elasticsearch_spark.extraction import extract_text_udf

    bad = corpus_df.filter(extract_text_udf(F.col("html")) != F.col("text")).count()
    assert bad == 0


def test_s_stemmer_rules(spark):
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from fluent_plugin_elasticsearch_spark.operators.textquality import (
        stem_token_col)

    cases = {
        "ladies": "lady", "dishes": "dish", "classes": "class",
        "boxes": "box", "churches": "church", "tables": "table",
        "cats": "cat", "bus": "bus", "kiss": "kiss", "basis": "basis",
        "is": "is",
        # too short for the ies→y rule, but the generic s-rule applies
        "ties": "tie",
        "dog": "dog",
    }
    d = spark.createDataFrame([Row(w=w) for w in cases])
    got = {r["w"]: r["s"] for r in d.select("w", stem_token_col(F.col("w")).alias("s")).collect()}
    assert got == cases


def test_analyze_api_analyzers(spark):
    from pyspark.sql import Row

    from fluent_plugin_elasticsearch_spark.operators.analyze import (
        analyze_api, analyze_col)
    from pyspark.sql import functions as F

    d = spark.createDataFrame([Row(doc_id=0, text="The Cafe cats"),
                               Row(doc_id=1, text="a-b c")])
    std = {r["doc_id"]: r["tokens"] for r in analyze_api(d, "text").collect()}
    assert std[0] == ["the", "cafe", "cats"] and std[1] == ["a", "b", "c"]
    ws = {r["doc_id"]: r["tokens"]
          for r in analyze_api(d, "text", "whitespace").collect()}
    assert ws[1] == ["a-b", "c"]  # no lowercasing, whitespace only
    kw = analyze_api(d, "text", "keyword").collect()[0]["tokens"]
    assert kw == ["The Cafe cats"]
    eg = {r["doc_id"]: r["tokens"]
          for r in analyze_api(d, "text", "edge_ngram", min_gram=2, max_gram=3).collect()}
    assert eg[0] == sorted({"th", "the", "ca", "caf", "cat"})
    ng = {r["doc_id"]: r["tokens"]
          for r in analyze_api(d, "text", "ngram", min_gram=2, max_gram=2).collect()}
    assert ng[0] == sorted({"th", "he", "ca", "af", "fe", "at", "ts"})
    ss = {r["doc_id"]: r["tokens"]
          for r in analyze_api(d, "text", "standard",
                               stopwords=["the"], stem=True).collect()}
    assert ss[0] == ["cafe", "cat"]  # stopword gone, plural stemmed
    folded = d.select(analyze_col(F.lit("Café Ñandú"), folding=True).alias("t")).first()["t"]
    assert folded == ["cafe", "nandu"]
    import pytest as _pt
    with _pt.raises(ValueError):
        analyze_api(d, "text", "snowball_klingon").collect()


def test_remove_repeated_lines(spark):
    """RefinedWeb-style line boilerplate removal: shared lines dropped,
    unique lines kept in order, blank lines never count as boilerplate,
    all-boilerplate docs survive with empty text; DuckDB mirror agrees."""
    import duckdb
    from pyspark.sql import Row

    from fluent_plugin_elasticsearch_spark.operators.textquality import (
        remove_repeated_lines,
        remove_repeated_lines_sql,
    )

    rows = [
        Row(doc_id=1, text="unique alpha\nCookie Banner\n\nbody one"),
        Row(doc_id=2, text="cookie banner \nbody two"),   # normalizes equal
        Row(doc_id=3, text="Cookie Banner"),               # all boilerplate
        Row(doc_id=4, text="\n\n"),                        # blanks only
    ]
    docs = spark.createDataFrame(rows)
    out = {r["doc_id"]: r for r in remove_repeated_lines(docs, min_docs=2).collect()}
    assert set(out) == {1, 2, 3, 4}
    assert out[1]["text"] == "unique alpha\n\nbody one"
    assert (out[1]["n_lines"], out[1]["n_removed"]) == (4, 1)
    assert out[2]["text"] == "body two"
    assert out[3]["text"] == "" and out[3]["n_removed"] == 1
    assert out[4]["text"] == "\n\n" and out[4]["n_removed"] == 0

    con = duckdb.connect()
    con.execute("CREATE TABLE d (doc_id BIGINT, text VARCHAR)")
    for r in rows:
        con.execute("INSERT INTO d VALUES (?, ?)", [r.doc_id, r.text])
    duck = {r[0]: r for r in con.execute(
        remove_repeated_lines_sql("d", min_docs=2)).fetchall()}
    for i in (1, 2, 3, 4):
        assert (duck[i][1], duck[i][2], duck[i][3]) == (
            out[i]["text"], out[i]["n_lines"], out[i]["n_removed"]), i


def test_remove_repeated_ngrams(spark):
    import duckdb
    from pyspark.sql import Row

    from fluent_plugin_elasticsearch_spark.operators.textquality import (
        remove_repeated_ngrams,
        remove_repeated_ngrams_sql,
    )

    shared = "alpha beta gamma delta epsilon"
    rows = [
        Row(doc_id=1, text=f"unique one here {shared} tail one"),
        Row(doc_id=2, text=f"{shared} other content entirely two"),
        Row(doc_id=3, text="loop loop loop loop loop loop shortend"),
        Row(doc_id=4, text="tiny"),  # shorter than n → untouched
        Row(doc_id=5, text="wholly distinct words nothing shared here"),
    ]
    docs = spark.createDataFrame(rows)
    out = remove_repeated_ngrams(docs, n=5, min_count=2)
    got = {r["doc_id"]: (r["text"], r["n_tokens"], r["n_removed"])
           for r in out.collect()}
    # the shared 5-gram is excised from both docs 1 and 2
    assert got[1] == ("unique one here tail one", 10, 5)
    assert got[2] == ("other content entirely two", 9, 5)
    # within-doc repetition: 'loop'*6 has two identical 5-windows
    # (1..5, 2..6) → positions 1..6 covered
    assert got[3] == ("shortend", 7, 6)
    assert got[4] == ("tiny", 1, 0)
    assert got[5][2] == 0
    # DuckDB mirror parity
    con = duckdb.connect()
    con.execute("CREATE TABLE d(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO d VALUES (?, ?)",
                    [(r.doc_id, r.text) for r in rows])
    want = {r[0]: (r[1], r[2], r[3]) for r in con.execute(
        remove_repeated_ngrams_sql("d", n=5, min_count=2)).fetchall()}
    assert got == want


def test_analyze_synonyms_and_shingles(spark):
    import duckdb

    from pyspark.sql import Row
    from fluent_plugin_elasticsearch_spark.operators.analyze import (
        analyze_api, analyze_sql)

    d = spark.createDataFrame(
        [Row(doc_id=0, text="the fast cat runs fast"),
         Row(doc_id=1, text="slow")])
    syn = {"fast": "quick", "runs": "run"}
    got = {r["doc_id"]: r["tokens"]
           for r in analyze_api(d, "text", "standard",
                                synonyms=syn).collect()}
    assert got[0] == ["the", "quick", "cat", "run", "quick"]
    sh = {r["doc_id"]: r["tokens"]
          for r in analyze_api(d, "text", "standard", synonyms=syn,
                               shingles=2).collect()}
    assert sh[0] == ["the quick", "quick cat", "cat run", "run quick"]
    assert sh[1] == []  # shorter than the shingle size
    # three-word shingles compose after stopword removal
    sh3 = analyze_api(d, "text", "standard", stopwords=["the"],
                      shingles=3).collect()[0]["tokens"]
    assert sh3 == ["fast cat runs", "cat runs fast"]
    # DuckDB mirror agrees token-for-token
    con = duckdb.connect()
    con.execute("CREATE TABLE t(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)",
                    [(0, "the fast cat runs fast"), (1, "slow")])
    toks = analyze_sql("text", "standard", synonyms=syn, shingles=2)
    want = dict(con.execute(
        f"SELECT doc_id, {toks} FROM t").fetchall())
    assert {k: list(v) for k, v in want.items()} == sh


def test_justext_blocks_classification_and_context(spark):
    from pyspark.sql import Row

    from fluent_plugin_elasticsearch_spark.operators.textquality import (
        justext_blocks,
    )

    prose = ("the quick brown fox is in the park and it is a fine day "
             "for all of the dogs that run with it")          # dense, long
    nav = "Home About Contact Privacy Terms Careers Sitemap"  # 0 stopwords
    near = ("colorless green ideas sleep furiously with the wind in "
            + ", ".join(["x"] * 6))        # 3/15 stopwords → near band
    d = spark.createDataFrame([
        Row(doc_id=0, text="\n".join([prose, near, nav])),
        Row(doc_id=1, text="\n".join([nav, near, nav])),
        Row(doc_id=2, text="short\n" + prose),
    ])
    out = {(r["doc_id"], r["block_idx"]): r["cls"]
           for r in justext_blocks(d).collect()}
    assert out[(0, 0)] == "good"       # dense prose
    assert out[(0, 1)] == "good"       # near, rescued by the good neighbor
    assert out[(0, 2)] == "bad"        # nav chrome
    assert out[(1, 1)] == "bad"        # near with only bad neighbors
    assert out[(2, 0)] == "bad"        # too short
    assert out[(2, 1)] == "good"


def test_url_canonicalization_and_domain(spark):
    import duckdb
    from pyspark.sql import Row

    from fluent_plugin_elasticsearch_spark.operators.textquality import (
        url_normalize,
        url_normalize_sql,
    )

    urls = [
        "HTTPS://WWW.Example.COM:443/Path/?utm_source=x&q=1#frag",
        "http://sub.shop.co.uk:80/a/b/",
        "https://example.com/?utm_campaign=a&fbclid=zz",
        "https://api.example.com.au/v1?q=2&utm_medium=m&r=3",
        "http://plain.org",
    ]
    d = spark.createDataFrame(
        [Row(doc_id=i, url=u) for i, u in enumerate(urls)])
    got = {r["doc_id"]: (r["canonical_url"], r["domain"])
           for r in url_normalize(d).collect()}
    assert got[0] == ("https://www.example.com/Path/?q=1", "example.com")
    assert got[1] == ("http://sub.shop.co.uk/a/b", "shop.co.uk")
    assert got[2] == ("https://example.com", "example.com")
    assert got[3] == ("https://api.example.com.au/v1?q=2&r=3",
                      "example.com.au")
    assert got[4] == ("http://plain.org", "plain.org")
    # DuckDB mirror bit-identical
    con = duckdb.connect()
    con.register("t", d.toPandas())
    want = {r[0]: (r[1], r[2])
            for r in con.sql(url_normalize_sql("t")).fetchall()}
    assert want == got


def test_dedup_doc_lines(spark):
    from pyspark.sql import Row

    from fluent_plugin_elasticsearch_spark.operators.textquality import (
        dedup_doc_lines,
    )

    d = spark.createDataFrame([
        Row(doc_id=0, text="nav\nbody one\nnav\nbody two\nbody one"),
        Row(doc_id=1, text="only"),
        Row(doc_id=2, text="a\na\na"),
    ])
    got = {r["doc_id"]: (r["text"], r["n_lines"], r["n_removed"])
           for r in dedup_doc_lines(d).collect()}
    assert got[0] == ("nav\nbody one\nbody two", 5, 2)
    assert got[1] == ("only", 1, 0)
    assert got[2] == ("a", 3, 2)
