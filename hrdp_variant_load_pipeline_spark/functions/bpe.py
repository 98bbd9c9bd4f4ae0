"""Byte-pair-encoding subword tokenization: distributed statistics,
driver-side merge learning, Arrow-batched application.

Architecture (the same decomposition subword-nmt/GPT-2 training uses):

* BPE training needs only the DISTINCT-WORD frequency table — for
  natural-language corpora that table is vocabulary-sized (10^5..10^7
  rows) regardless of corpus bytes, so ONE distributed hash aggregate
  reduces 100 TB to a driver-safe model input, and the merge loop (pure
  Python over the word-freq dict) never touches the cluster;
* application is per-row CPU with data-dependent iteration (repeatedly
  merge the best-ranked adjacent pair) — not expressible as built-in
  column functions, so it runs as an Arrow-batched pandas UDF (the
  sanctioned slow path: one Python roundtrip per BATCH, not per row).

The learned model is a plain ordered merge list — JSON-serializable,
broadcast-friendly.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

#: end-of-word marker (subword-nmt convention): merges never cross words,
#: and a trailing marker distinguishes "er</w>" from mid-word "er"
EOW = "</w>"


def word_frequencies(
    df: DataFrame,
    text_col: str,
    min_count: int = 1,
    max_words: int | None = None,
) -> DataFrame:
    """(word, freq) over whitespace tokens — the vocabulary-sized reduction
    all BPE training statistics come from. One explode + one hash
    aggregate with map-side combine.

    ``min_count`` drops words below a frequency floor INSIDE the cluster
    (heavy-tailed web text makes the raw distinct-word table corpus-like
    — URLs, ids, typos — so training callers must bound it here, never
    after a collect); ``max_words`` additionally caps to the top-k by
    (freq desc, word asc) via a distributed TakeOrdered, so the result is
    model-sized by construction."""
    stats = (
        df.select(
            F.explode(
                F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != "")
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    if min_count > 1:
        stats = stats.filter(F.col("freq") >= min_count)
    if max_words is not None:
        stats = stats.orderBy(F.desc("freq"), F.asc("word")).limit(max_words)
    return stats


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


def learn_bpe(
    df: DataFrame,
    text_col: str,
    n_merges: int = 100,
    min_count: int = 2,
    max_words: int | None = 1_000_000,
) -> list[tuple[str, str]]:
    """Learn an ordered BPE merge list from the corpus.

    The cluster computes ``word_frequencies`` (the only corpus-sized
    work), BOUNDED cluster-side before the collect: ``min_count`` drops
    hapax words — URLs, ids, typos — which dominate the distinct-word
    table on web text, and a ``max_words`` top-k cap bounds the rest, so
    the driver-side dict is model-sized by construction rather than by
    assumption about the corpus. NOTE the floor is a deliberate
    statistics change, not semantics-preserving: pair counts sum ACROSS
    words, so two different hapax words sharing a bigram ("abc" + "abd"
    → pair (a,b) at weight 2) could previously seed a merge and no
    longer do. That trade — ignore patterns only attested in unrepeated
    words — is what production BPE trainers ship with; the defaults here
    follow them. The greedy merge loop then runs
    driver-side over that vocab-sized dict — per merge: count adjacent
    symbol pairs weighted by word frequency, take the most frequent
    (ties broken lexicographically for determinism), rewrite the
    affected words. Stops early when no pair repeats.

    Pass ``min_count=1, max_words=None`` to reproduce unbounded
    subword-nmt training statistics on small curated corpora.
    """
    vocab: dict[tuple[str, ...], int] = {
        tuple(r["word"]) + (EOW,): r["freq"]
        for r in word_frequencies(
            df, text_col, min_count=min_count, max_words=max_words
        ).collect()
    }
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: dict[tuple[str, str], int] = {}
        for symbols, freq in vocab.items():
            for a, b in zip(symbols, symbols[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + freq
        if not pairs:
            break
        best = max(pairs.items(), key=lambda kv: (kv[1], kv[0]))
        if best[1] < 2:
            break  # nothing repeats; further merges are noise
        pair = best[0]
        merges.append(pair)
        vocab = {
            _merge_word(symbols, pair): freq for symbols, freq in vocab.items()
        }
    return merges


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
