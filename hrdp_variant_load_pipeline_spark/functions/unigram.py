"""Unigram-LM (SentencePiece-style) subword tokenizer: Viterbi apply of a
piece table (Kudo 2018, arXiv:1804.10959).

Completes the tokenizer-prep family next to ``functions/bpe.py``: where
BPE applies an ordered merge list, the unigram model segments each word
into the pieces of maximal total log-probability under a (piece, logprob)
table. Segmentation is per-word dynamic programming — genuinely
data-dependent row-local looping, the sanctioned Arrow-batched pandas
shape — against a BROADCAST piece table, which is model-sized by
construction; the corpus never shuffles.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame


def _viterbi_segment(word: str, logp: dict, max_len: int) -> list[str]:
    """Best segmentation of ``word`` under piece log-probs; unknown
    single characters get a large penalty so any word segments."""
    n = len(word)
    best = [-math.inf] * (n + 1)
    back = [1] * (n + 1)
    best[0] = 0.0
    for i in range(1, n + 1):
        for piece_len in range(1, min(max_len, i) + 1):
            piece = word[i - piece_len : i]
            lp = logp.get(piece)
            if lp is None:
                if piece_len > 1:
                    continue
                lp = -100.0  # unknown char: OOV penalty, still segmentable
            cand = best[i - piece_len] + lp
            if cand > best[i]:
                best[i] = cand
                back[i] = piece_len
    out: list[str] = []
    i = n
    while i > 0:
        out.append(word[i - back[i] : i])
        i -= back[i]
    return out[::-1]


def unigram_tokenize(
    df: DataFrame,
    text_col: str,
    pieces: DataFrame,
    out_col: str = "pieces",
) -> DataFrame:
    """Viterbi-segment every document's words under a (piece, logprob)
    table. The piece table is model-sized and rides a
    broadcast variable (alive as long as the returned frame — the apply
    side cannot release it); segmentation is Arrow-batched row-local
    work — the corpus never shuffles. Candidate pieces are as long as
    the longest piece IN the table — a fixed bound shorter than the vocab
    would silently ignore its longer pieces.

    Output: input columns + ``out_col`` (array<string>; concatenating a
    word's pieces reproduces the word — tested)."""
    import pandas as pd  # noqa: F401

    if out_col in df.columns:
        raise ValueError(
            f"unigram_tokenize: output column {out_col!r} already exists "
            "on the input — pass a different out_col"
        )
    spark = df.sparkSession
    logp = {
        r["piece"]: r["logprob"] for r in pieces.select("piece", "logprob").collect()
    }
    max_piece_len = max((len(p) for p in logp), default=1)
    b_logp = spark.sparkContext.broadcast(logp)

    def tok(batches):
        lp = b_logp.value
        # task-level memo: Viterbi depends only on (word, lp, max_len),
        # both constant here, and word occurrences are Zipf-distributed —
        # segmenting each DISTINCT word once per task cuts the dominant
        # battery arm 11.8s -> measured ~3x at sf10. Capped so an
        # adversarial all-unique-words corpus cannot grow driver-of-task
        # memory without bound (beyond the cap, segment uncached).
        memo: dict = {}
        cap = 1_000_000
        for pdf in batches:
            out = []
            for text in pdf[text_col]:
                ps: list[str] = []
                for w in (text or "").split():
                    seg = memo.get(w)
                    if seg is None:
                        seg = _viterbi_segment(w, lp, max_piece_len)
                        if len(memo) < cap:
                            memo[w] = seg
                    ps.extend(seg)
                out.append(ps)
            pdf = pdf.copy()
            pdf[out_col] = out
            yield pdf

    from pyspark.sql.types import ArrayType, StringType, StructField, StructType

    # NOTE: StructType.add mutates in place — build a fresh schema so the
    # input frame's own schema object is never widened behind its plan
    schema = StructType(
        list(df.schema.fields)
        + [StructField(out_col, ArrayType(StringType()))]
    )
    return df.mapInPandas(tok, schema)
