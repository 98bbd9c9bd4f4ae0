"""BPE subword tokenization (functions/bpe.py): distributed word stats,
driver-side merge learning, Arrow-batched application."""

from __future__ import annotations

from pyspark.sql import functions as F

from hrdp_variant_load_pipeline_spark.functions.bpe import (
    EOW,
    bpe_tokenize,
    learn_bpe,
    word_frequencies,
)


def _corpus(spark):
    # "low"-family corpus from the original BPE paper's running example
    rows = [
        (1, "low low low low low"),
        (2, "lower lower"),
        (3, "newest newest newest newest newest newest"),
        (4, "widest widest widest"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_word_frequencies(spark):
    wf = {r.word: r.freq for r in word_frequencies(_corpus(spark), "text").collect()}
    assert wf == {"low": 5, "lower": 2, "newest": 6, "widest": 3}


def test_learn_bpe_first_merges_follow_frequencies(spark):
    merges = learn_bpe(_corpus(spark), "text", n_merges=10)
    # ("e","s"), ("s","t"), ("t",EOW) all tie at newest(6)+widest(3)=9;
    # the documented lexicographic-max tie-break picks ("t",EOW), and the
    # est</w> unit then assembles right-to-left
    assert merges[:3] == [("t", EOW), ("s", f"t{EOW}"), ("e", f"st{EOW}")]
    # the "low" family merges next: ("o","w") at low(5)+lower(2)=7
    assert merges[3] == ("o", "w")
    assert len(merges) <= 10
    # deterministic across runs
    assert merges == learn_bpe(_corpus(spark), "text", n_merges=10)


def test_tokenize_roundtrip_and_known_segmentation(spark):
    corpus = _corpus(spark)
    merges = learn_bpe(corpus, "text", n_merges=10)
    out = corpus.select(
        "doc_id", "text", bpe_tokenize(F.col("text"), merges).alias("toks")
    )
    for r in out.collect():
        # lossless: stripping markers reconstructs the original text
        rebuilt = (
            "".join(r.toks).replace(EOW, " ").rstrip()
        )
        assert rebuilt == r.text
    toks = {r.doc_id: r.toks for r in out.collect()}
    # frequent word fully merged into one token
    assert toks[1][:1] == [f"low{EOW}"]
    # "newest" ends with the learned est</w> unit
    assert any(t.endswith(f"est{EOW}") for t in toks[3])
    # low</w> was learned as a full-word token
    assert toks[1][0] == f"low{EOW}"


def test_tokenize_unseen_word_falls_back_to_chars(spark):
    corpus = _corpus(spark)
    merges = learn_bpe(corpus, "text", n_merges=10)
    df = corpus.sparkSession.createDataFrame([("zzq",)], "text string")
    toks = df.select(bpe_tokenize(F.col("text"), merges).alias("t")).first().t
    assert toks == ["z", "z", "q", EOW] or toks == ["z", "z", "q" + EOW]


def test_empty_and_null_text(spark):
    df = _corpus(spark).sparkSession.createDataFrame(
        [(1, ""), (2, None)], "doc_id long, text string"
    )
    out = {
        r.doc_id: r.t
        for r in df.select(
            "doc_id", bpe_tokenize(F.col("text"), [("e", "s")]).alias("t")
        ).collect()
    }
    assert out[1] == [] and out[2] == []


def test_training_stats_bounded_cluster_side(spark):
    """min_count / max_words must bound the stats INSIDE the cluster (the
    model-sized-collect contract): hapax noise is dropped, the top-k cap
    keeps the most frequent words, and learned merges ignore noise words
    below the floor."""
    rows = [(1, "low low low low low url9x7 q3k8z"), (2, "lower lower")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    floored = {
        r.word: r.freq
        for r in word_frequencies(df, "text", min_count=2).collect()
    }
    assert floored == {"low": 5, "lower": 2}
    capped = {
        r.word
        for r in word_frequencies(df, "text", max_words=1).collect()
    }
    assert capped == {"low"}
    # default learn_bpe floor: merges must be identical to training on
    # the noise-free corpus
    clean = spark.createDataFrame(
        [(1, "low low low low low"), (2, "lower lower")],
        "doc_id long, text string",
    )
    assert learn_bpe(df, "text", n_merges=5) == learn_bpe(
        clean, "text", n_merges=5
    )
