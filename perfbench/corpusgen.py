"""Seeded corpus and query tables for the ``corpus_query`` workload.

Everything is drawn from ``random.Random(seed)`` and written as parquet with
the columns the query registries and the curation chain read (the shapes of
the repository's ``testdata`` tables). The documents carry planted structure
whose fate in the curation chain is known by construction, so the chain's
per-stage counts can be checked without running the engine's logic here:

* ``good``: 100-130 word English-like docs. Every one passes the quality
  and Gopher gates (about a quarter stopwords, no punctuation, words of 2-9
  letters, so the mean length is far inside Gopher's [3, 10]).
* ``short``: 3-word docs. They pass the quality gate but fail Gopher's
  5-word minimum.
* ``symbol``: 30 tokens drawn from two punctuation runs. Their quality score
  is 0.25 + 0.25 * 2/30 < 0.3, so the quality gate drops them.
* ``exact``: verbatim copies of distinct good docs, with higher ids; exact
  dedup keeps the lowest id, so each copy is dropped.
* ``near``: a distinct good doc plus one appended word, with higher ids.
  The word 3-shingle sets then differ by one shingle (Jaccard >= 0.98); the
  chain's MinHash LSH (3 bands of 2 rows) misses such a pair with
  probability below 1e-5, and the verify threshold is 0.8.
* ``contaminated``: good docs with a 12-word span of an eval item spliced
  in; the 8-gram decontamination must drop every one that reaches it.

Nothing else in the corpus shares a word 3-gram with another doc except by
chance over a 400-word vocabulary, so no other doc is a near duplicate.
"""

from __future__ import annotations

import datetime as dt
import math
import random
from dataclasses import dataclass, field
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

N_GOOD = 360
N_SHORT = 20
N_SYMBOL = 20
N_EXACT = 20
N_NEAR = 20
N_CONTAMINATED = 20
N_EVAL = 20
#: the decontamination n-gram; the spliced span is longer than it
DECON_N = 8
SPAN = 12

_STOP = ("the", "of", "and", "to", "in", "a")
_LANGS = ("en", "en", "en", "de", "fr")
_CONS = "bcdfghklmnprstvz"
_VOWELS = "aeiou"


@dataclass
class Corpus:
    """The written tables plus what a correct curation chain must report."""

    tables_dir: Path
    eval_path: Path
    n_docs: int = 0
    #: ids that may survive the chain: the good originals only
    keepable: set[int] = field(default_factory=set)
    #: every word 8-gram of the eval items
    eval_ngrams: set[tuple[str, ...]] = field(default_factory=set)
    input_bytes: int = 0


def _vocab(rng: random.Random, n: int) -> list[str]:
    words: set[str] = set()
    while len(words) < n:
        k = rng.randrange(2, 5)
        words.add("".join(rng.choice(_CONS) + rng.choice(_VOWELS) for _ in range(k)))
    return sorted(words)


def _sentence(rng: random.Random, vocab: list[str], n: int) -> list[str]:
    return [rng.choice(_STOP) if rng.random() < 0.25 else rng.choice(vocab) for _ in range(n)]


def _ngrams(words: list[str], n: int) -> set[tuple[str, ...]]:
    return {tuple(words[i : i + n]) for i in range(len(words) - n + 1)}


def _write(table: pa.Table, path: Path) -> int:
    pq.write_table(table, path)
    return path.stat().st_size


def write_documents(out: Path, rng: random.Random, corpus: Corpus) -> None:
    vocab = _vocab(rng, 400)
    evals = [_sentence(rng, vocab, 30) for _ in range(N_EVAL)]
    for e in evals:
        corpus.eval_ngrams |= _ngrams(e, DECON_N)
    rows: list[tuple[str, str]] = []  # (text, lang); the doc id is the index

    good = [(_sentence(rng, vocab, rng.randrange(100, 131)), rng.choice(_LANGS)) for _ in range(N_GOOD)]
    rows += [(" ".join(w), lang) for w, lang in good]
    corpus.keepable = set(range(N_GOOD))
    originals = rng.sample(range(N_GOOD), N_EXACT + N_NEAR)
    planted: list[tuple[str, str]] = []
    for i in originals[:N_EXACT]:
        planted.append(rows[i])
    for i in originals[N_EXACT:]:
        planted.append((rows[i][0] + " " + rng.choice(vocab), rows[i][1]))
    for _ in range(N_CONTAMINATED):
        words = _sentence(rng, vocab, rng.randrange(100, 131))
        e = rng.choice(evals)
        at, cut = rng.randrange(len(words)), rng.randrange(len(e) - SPAN + 1)
        words[at:at] = e[cut : cut + SPAN]
        planted.append((" ".join(words), rng.choice(_LANGS)))
    for _ in range(N_SHORT):
        planted.append((" ".join(rng.sample(vocab, 3)), "en"))
    for _ in range(N_SYMBOL):
        planted.append((" ".join(rng.choice(("%%%%", "&&&&")) for _ in range(30)), "en"))
    rows += planted
    # no good doc may carry an eval 8-gram by chance
    for text, _lang in rows[:N_GOOD]:
        assert not (_ngrams(text.split(" "), DECON_N) & corpus.eval_ngrams)

    corpus.n_docs = len(rows)
    docs = pa.table(
        {
            "doc_id": pa.array(range(len(rows)), pa.int64()),
            "text": [t for t, _ in rows],
            "lang": [lang for _, lang in rows],
            "source": [f"src{i % 7}" for i in range(len(rows))],
            "n_chars": pa.array([len(t) for t, _ in rows], pa.int64()),
        }
    )
    corpus.input_bytes += _write(docs, out / "documents.parquet")
    eval_dir = corpus.eval_path
    eval_dir.mkdir(parents=True)
    ev = pa.table(
        {
            "doc_id": pa.array(range(N_EVAL), pa.int64()),
            "text": [" ".join(e) for e in evals],
        }
    )
    corpus.input_bytes += _write(ev, eval_dir / "part-0.parquet")


def write_query_tables(out: Path, rng: random.Random, corpus: Corpus) -> None:
    """TPC-H-like star schema, an event stream and unit-scale embeddings."""
    regions = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    n_nation, n_cust, n_supp, n_orders = 25, 300, 20, 3000
    epoch = dt.datetime(1992, 1, 1)
    tables = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(regions)}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(n_nation), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(n_nation)],
                "n_regionkey": pa.array([i % 5 for i in range(n_nation)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(range(n_cust), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array([rng.randrange(n_nation) for _ in range(n_cust)], pa.int32()),
                "c_acctbal": [round(rng.uniform(-999, 9999), 2) for _ in range(n_cust)],
                "c_mktsegment": [
                    rng.choice(("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
                    for _ in range(n_cust)
                ],
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(range(n_supp), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array([rng.randrange(n_nation) for _ in range(n_supp)], pa.int32()),
                "s_acctbal": [round(rng.uniform(-999, 9999), 2) for _ in range(n_supp)],
            }
        ),
    }
    odate = [epoch + dt.timedelta(days=rng.randrange(2400)) for _ in range(n_orders)]
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(n_orders), pa.int64()),
            "o_custkey": pa.array([rng.randrange(n_cust) for _ in range(n_orders)], pa.int64()),
            "o_orderstatus": [rng.choice("FOP") for _ in range(n_orders)],
            "o_totalprice": [round(rng.uniform(900, 400000), 2) for _ in range(n_orders)],
            "o_orderdate": pa.array(odate, pa.timestamp("us")),
            "o_orderpriority": [
                rng.choice(("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
                for _ in range(n_orders)
            ],
        }
    )
    li: dict[str, list] = {k: [] for k in (
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
        "l_shipdate",
    )}
    for ok in range(n_orders):
        for ln in range(1, rng.randrange(2, 8)):
            qty = float(rng.randrange(1, 51))
            ship = odate[ok] + dt.timedelta(days=rng.randrange(1, 122))
            for k, v in zip(li, (
                ok, rng.randrange(200), rng.randrange(n_supp), ln, qty,
                round(qty * rng.uniform(900, 2100), 2), rng.randrange(11) / 100,
                rng.randrange(9) / 100, rng.choice("ANR"),
                "F" if ship < dt.datetime(1995, 6, 17) else "O", ship,
            )):
                li[k].append(v)
    tables["lineitem"] = pa.table(
        {
            **{k: pa.array(v, pa.int64()) for k, v in li.items() if k in ("l_orderkey", "l_partkey", "l_suppkey")},
            "l_linenumber": pa.array(li["l_linenumber"], pa.int32()),
            **{k: li[k] for k in ("l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus")},
            "l_shipdate": pa.array(li["l_shipdate"], pa.timestamp("us")),
        }
    )
    # events: per user, bursts separated by gaps that sometimes exceed the
    # 30-minute session timeout
    ev: dict[str, list] = {k: [] for k in ("ts", "user_id", "event_type", "value", "props")}
    t0 = dt.datetime(2024, 1, 1)
    for user in range(100):
        t = t0 + dt.timedelta(seconds=rng.randrange(3600))
        for _ in range(rng.randrange(10, 50)):
            t += dt.timedelta(seconds=rng.choice((rng.randrange(5, 600), rng.randrange(1500, 7200))))
            ev["ts"].append(t)
            ev["user_id"].append(user)
            ev["event_type"].append(rng.choice(("view", "click", "purchase", "signup", "error")))
            ev["value"].append(round(rng.uniform(0, 500), 2))
            ev["props"].append(f'{{"k": {rng.randrange(100)}}}')
    tables["events"] = pa.table(
        {
            "event_id": pa.array(range(len(ev["ts"])), pa.int64()),
            "ts": pa.array(ev["ts"], pa.timestamp("us")),
            "user_id": pa.array(ev["user_id"], pa.int64()),
            **{k: ev[k] for k in ("event_type", "value", "props")},
        }
    )
    vecs = []
    for _ in range(1000):
        v = [rng.gauss(0, 1) for _ in range(64)]
        norm = math.sqrt(sum(x * x for x in v))
        vecs.append([x / norm for x in v])
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(range(len(vecs)), pa.int64()),
            "embedding": pa.array(vecs, pa.list_(pa.float32())),
            "label": pa.array([rng.randrange(10) for _ in vecs], pa.int32()),
        }
    )
    for name, table in tables.items():
        corpus.input_bytes += _write(table, out / f"{name}.parquet")


def write_corpus(out_dir: Path, seed: int) -> Corpus:
    """Write the documents, the eval slice and the query tables."""
    rng = random.Random(seed)
    corpus = Corpus(tables_dir=out_dir / "tables", eval_path=out_dir / "eval")
    corpus.tables_dir.mkdir(parents=True)
    write_documents(corpus.tables_dir, rng, corpus)
    write_query_tables(corpus.tables_dir, rng, corpus)
    return corpus
