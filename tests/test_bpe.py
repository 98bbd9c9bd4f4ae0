"""BPE subword tokenization (functions/bpe.py): Arrow-batched application
of an ordered merge list."""

from __future__ import annotations

from pyspark.sql import functions as F

from hrdp_variant_load_pipeline_spark.functions.bpe import (
    EOW,
    bpe_tokenize,
)

#: the first 10 merges greedy BPE learns on ``_corpus`` (word frequencies
#: low 5, lower 2, newest 6, widest 3; the most frequent adjacent pair
#: wins, ties to the lexicographic max): the est</w> unit assembles
#: right-to-left, then the "low" family
MERGES = [
    ("t", EOW), ("s", f"t{EOW}"), ("e", f"st{EOW}"), ("o", "w"), ("l", "ow"),
    ("w", f"est{EOW}"), ("n", "e"), ("ne", f"west{EOW}"), ("low", EOW),
    ("w", "i"),
]


def _corpus(spark):
    # "low"-family corpus from the original BPE paper's running example
    rows = [
        (1, "low low low low low"),
        (2, "lower lower"),
        (3, "newest newest newest newest newest newest"),
        (4, "widest widest widest"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _greedy_bpe(texts, n_merges):
    """Reference greedy BPE learner: per merge, the adjacent symbol pair
    with the largest frequency-weighted count wins (ties to the
    lexicographic max), and it stops once no pair repeats. Returns the
    merge list and each word's final segmentation."""
    freq: dict[str, int] = {}
    for t in texts:
        for w in t.split():
            freq[w] = freq.get(w, 0) + 1
    seg = {w: list(w) + [EOW] for w in freq}
    merges = []
    for _ in range(n_merges):
        pairs: dict[tuple[str, str], int] = {}
        for w, syms in seg.items():
            for p in zip(syms, syms[1:]):
                pairs[p] = pairs.get(p, 0) + freq[w]
        if not pairs:
            break
        pair, count = max(pairs.items(), key=lambda kv: (kv[1], kv[0]))
        if count < 2:
            break
        merges.append(pair)
        for w, syms in seg.items():
            out, i = [], 0
            while i < len(syms):
                if tuple(syms[i:i + 2]) == pair:
                    out.append(syms[i] + syms[i + 1])
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            seg[w] = out
    return merges, seg


def test_learn_bpe_first_merges_follow_frequencies(spark):
    """MERGES is what greedy BPE learns on ``_corpus``, and applying it
    with bpe_tokenize reproduces the learner's own segmentation of every
    training word."""
    corpus = _corpus(spark)
    texts = [r.text for r in corpus.collect()]
    merges, seg = _greedy_bpe(texts, n_merges=10)
    # ("e","s"), ("s","t"), ("t",EOW) all tie at newest(6)+widest(3)=9;
    # the lexicographic-max tie-break picks ("t",EOW), and the est</w>
    # unit then assembles right-to-left
    assert merges[:3] == [("t", EOW), ("s", f"t{EOW}"), ("e", f"st{EOW}")]
    # the "low" family merges next: ("o","w") at low(5)+lower(2)=7
    assert merges[3] == ("o", "w")
    assert merges == MERGES
    words = spark.createDataFrame([(w,) for w in sorted(seg)], "text string")
    got = {
        r.text: r.toks
        for r in words.select(
            "text", bpe_tokenize(F.col("text"), MERGES).alias("toks")
        ).collect()
    }
    assert got == seg


def test_tokenize_roundtrip_and_known_segmentation(spark):
    corpus = _corpus(spark)
    out = corpus.select(
        "doc_id", "text", bpe_tokenize(F.col("text"), MERGES).alias("toks")
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
    df = spark.createDataFrame([("zzq",)], "text string")
    toks = df.select(bpe_tokenize(F.col("text"), MERGES).alias("t")).first().t
    assert toks == ["z", "z", "q", EOW] or toks == ["z", "z", "q" + EOW]


def test_empty_and_null_text(spark):
    df = spark.createDataFrame(
        [(1, ""), (2, None)], "doc_id long, text string"
    )
    out = {
        r.doc_id: r.t
        for r in df.select(
            "doc_id", bpe_tokenize(F.col("text"), [("e", "s")]).alias("t")
        ).collect()
    }
    assert out[1] == [] and out[2] == []
