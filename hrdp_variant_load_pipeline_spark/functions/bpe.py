"""Byte-pair-encoding subword tokenization: Arrow-batched application of
an ordered merge list.

Application is per-row CPU with data-dependent iteration (repeatedly merge
the best-ranked adjacent pair) — not expressible as built-in column
functions, so it runs as an Arrow-batched pandas UDF (the sanctioned slow
path: one Python roundtrip per BATCH, not per row).

The model is a plain ordered merge list (subword-nmt/GPT-2 convention) —
JSON-serializable, broadcast-friendly.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column

#: end-of-word marker (subword-nmt convention): merges never cross words,
#: and a trailing marker distinguishes "er</w>" from mid-word "er"
EOW = "</w>"


def _merge_word(symbols: tuple[str, ...], pair: tuple[str, str]) -> tuple[str, ...]:
    out: list[str] = []
    i = 0
    while i < len(symbols):
        if (
            i < len(symbols) - 1
            and symbols[i] == pair[0]
            and symbols[i + 1] == pair[1]
        ):
            out.append(pair[0] + pair[1])
            i += 2
        else:
            out.append(symbols[i])
            i += 1
    return tuple(out)


def bpe_tokenize(
    text: Column, merges: list[tuple[str, str]]
) -> Column:
    """Apply an ordered merge list: ``array<string>`` of subword tokens
    (word-final tokens carry ``</w>``). Arrow-batched pandas UDF — the
    merge loop is data-dependent per word, beyond built-in expressions;
    the merge ranks ship once per executor in the UDF closure."""
    from pyspark.sql.functions import pandas_udf

    ranks = {pair: i for i, pair in enumerate(merges)}

    def encode_word(word: str, cache: dict) -> list[str]:
        got = cache.get(word)
        if got is not None:
            return got
        symbols = tuple(word) + (EOW,)
        while len(symbols) > 1:
            ranked = [
                (ranks[p], p)
                for p in zip(symbols, symbols[1:])
                if p in ranks
            ]
            if not ranked:
                break
            symbols = _merge_word(symbols, min(ranked)[1])
        out = list(symbols)
        cache[word] = out
        return out

    @pandas_udf("array<string>")
    def apply(texts: pd.Series) -> pd.Series:
        cache: dict = {}
        out = []
        for t in texts:
            toks: list[str] = []
            for w in (t or "").split():
                toks.extend(encode_word(w, cache))
            out.append(toks)
        return pd.Series(out)

    return apply(text)
