"""Unigram-LM tokenizer (functions/unigram.py): Viterbi apply, roundtrip
and scale-shape contracts."""

from __future__ import annotations

from hrdp_variant_load_pipeline_spark.functions.unigram import (
    _viterbi_segment,
    unigram_tokenize,
)

#: a (piece, logprob) table: the corpus's repeated substrings beat their
#: characters; "x", "y", "z" are absent and segment by the OOV penalty
PIECES = [
    ("ab", -1.0), ("cd", -1.2),
    ("a", -3.0), ("b", -3.0), ("c", -3.0), ("d", -3.0),
]


def _corpus(spark):
    rows = [
        (1, "ababab ababab cdcd"),
        (2, "ababab cdcd cdcd"),
        (3, "ababab ababab ababab xyz"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_viterbi_prefers_likely_pieces():
    logp = {"ab": -1.0, "a": -3.0, "b": -3.0, "c": -3.0}
    assert _viterbi_segment("abab", logp, 4) == ["ab", "ab"]
    # unknown chars survive with the OOV penalty (total segmentation)
    assert _viterbi_segment("abq", logp, 4) == ["ab", "q"]


def test_unigram_tokenize_roundtrips_and_is_row_local(spark):
    docs = _corpus(spark)
    vocab = spark.createDataFrame(PIECES, "piece string, logprob double")
    out = unigram_tokenize(docs, "text", vocab)
    rows = {r.doc_id: r for r in out.collect()}
    for r in rows.values():
        assert "".join(r.pieces) == r.text.replace(" ", "")
    assert rows[2].pieces == ["ab"] * 3 + ["cd"] * 4
    assert rows[3].pieces[-3:] == ["x", "y", "z"]
    plan = out._jdf.queryExecution().executedPlan().toString()
    # corpus-side: one Arrow-batched map, no shuffle
    assert "Exchange" not in plan
