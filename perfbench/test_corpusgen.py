"""Smoke tests of the benchmark's corpus generator (no Spark needed).

Run: python3 -m pytest -q -p no:cacheprovider perfbench/test_corpusgen.py
"""

from __future__ import annotations

import pyarrow.parquet as pq
import corpusgen

STOP = {"the", "a", "of", "and", "to", "in"}


def _quality(text: str) -> float:
    """functions/text.quality_score, restated over a Python string."""
    toks = text.split(" ")
    chars = text.replace(" ", "")
    punct = sum(not c.isalnum() for c in chars) / max(len(chars), 1)
    stop = sum(t in STOP for t in toks) / len(toks)
    return (
        0.25 * min(len(toks) / 20, 1)
        + 0.25 * (1 - min(punct * 5, 1))
        + 0.25 * min(stop * 4, 1)
        + 0.25 * len(set(toks)) / len(toks)
    )


def _gopher_ok(text: str) -> bool:
    """The Gopher rules the chain enables (5-word minimum, mean word length)."""
    words = text.split()
    return len(words) >= 5 and 3 <= len("".join(words)) / len(words) <= 10


def _shingles(text: str) -> set[tuple[str, ...]]:
    return corpusgen._ngrams(text.split(" "), 3)


def test_planted_docs_meet_their_fate(tmp_path):
    c = corpusgen.write_corpus(tmp_path, seed=5)
    docs = pq.read_table(c.tables_dir / "documents.parquet").to_pylist()
    assert len(docs) == c.n_docs
    text = {d["doc_id"]: d["text"] for d in docs}
    good = sorted(c.keepable)
    assert all(_quality(text[i]) >= 0.3 and _gopher_ok(text[i]) for i in good)
    base = corpusgen.N_GOOD
    spans = {}
    for kind in ("exact", "near", "contaminated", "short", "symbol"):
        n = getattr(corpusgen, f"N_{kind.upper()}")
        spans[kind] = range(base, base + n)
        base += n
    for i in spans["exact"]:
        assert sum(text[j] == text[i] for j in good) == 1
    for i in spans["near"]:
        best = max(
            len(_shingles(text[i]) & _shingles(text[j])) / len(_shingles(text[i]) | _shingles(text[j]))
            for j in good
        )
        assert best >= 0.98
    for i in spans["contaminated"]:
        assert corpusgen._ngrams(text[i].split(" "), corpusgen.DECON_N) & c.eval_ngrams
        assert _quality(text[i]) >= 0.3 and _gopher_ok(text[i])
    assert all(_quality(text[i]) >= 0.3 and not _gopher_ok(text[i]) for i in spans["short"])
    assert all(_quality(text[i]) < 0.3 for i in spans["symbol"])


def test_same_seed_same_tables(tmp_path):
    a = corpusgen.write_corpus(tmp_path / "a", seed=3)
    b = corpusgen.write_corpus(tmp_path / "b", seed=3)
    c = corpusgen.write_corpus(tmp_path / "c", seed=4)
    for t in ("documents", "lineitem", "events", "embeddings"):
        ta = pq.read_table(a.tables_dir / f"{t}.parquet")
        assert ta.equals(pq.read_table(b.tables_dir / f"{t}.parquet"))
        assert not ta.equals(pq.read_table(c.tables_dir / f"{t}.parquet"))
