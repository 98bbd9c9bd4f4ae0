"""The ``corpus_query`` workload: the curation chain, then a query battery.

Each iteration, on seeded tables (perfbench/corpusgen.py):

1. ``run_corpus_pipeline`` into empty shard and checkpoint directories:
   PII scrub, quality and Gopher gates, exact and MinHash dedup, the vocab
   LM gate, 8-gram decontamination and DSIR selection, then chunk, pack and
   a seeded shard export;
2. a battery of registry queries (``QUERIES``), each collected and
   compared with its DuckDB oracle.

The oracles run in DuckDB over the same parquet files during set-up; a
query whose oracle does not finish in ``ORACLE_TIMEOUT_S`` counts as
failed, never as passed.
"""

from __future__ import annotations

import math
import threading
from pathlib import Path

import corpusgen
import pyarrow.parquet as pq
from common import Bench, CheckFailed, dir_stats, expect

#: (registry module, query name): the ROADMAP item 4 rows furthest above
#: the DuckDB envelope. MinHash dedup is left to the chain's fuzzy dedup
#: stage; every further query costs 1-5 s of a run's time budget
QUERIES = (
    ("queries_core", "events_sessionize"),
    ("queries_core", "grouping_sets_battery"),
    ("queries_core", "q5_nation_volume"),
    ("queries_ml", "embedding_cosine_topk"),
)
ORACLE_TIMEOUT_S = 60
TABLES = (
    "region nation customer supplier orders lineitem events documents embeddings".split()
)
#: the chain's ticked stages, in plan order
STAGES = (
    "ingested",
    "quality_gate",
    "gopher_gate",
    "exact_dedup",
    "fuzzy_dedup",
    "lm_gate",
    "decontaminated",
    "dsir_selected",
)
#: operator calls inside the chain that do eager work (an action or a
#: checkpoint) while the stage plan is built
CHAIN_SPANS = (
    ("operators.dedup", "minhash_lsh_pairs"),
    ("operators.dsir", "dsir_select_fraction"),
    ("sources.corpus_io", "write_shards"),
)


def _norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 6)
    return v


def canonical(cols: list[str], rows: list[tuple]) -> tuple:
    """Order-insensitive form of a result: columns by name, floats rounded
    to 6 places, rows sorted by their non-float fields first, so a float
    that differs in its last digit does not move its row."""
    cols = [c.lower() for c in cols]
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    body = [tuple(_norm(r[i]) for i in idx) for r in rows]
    body.sort(key=lambda r: (repr([v for v in r if not isinstance(v, float)]), repr(r)))
    return tuple(cols[i] for i in idx), tuple(body)


def _close(a, b) -> bool:
    """Equal, or floats one rounding step apart at the precision the oracle
    printed: summation order differs between the engines, and a sum that
    lands next to a rounding boundary can round either way."""
    if not (isinstance(a, float) and isinstance(b, float)):
        return a == b
    digits = repr(b).partition(".")[2]
    # after the 6-place rounding, only values below 1e-4 print in exponent form
    step = 10.0 ** -len(digits) if digits.isdigit() else 1e-6
    return abs(a - b) <= step * 1.01


class CorpusBench(Bench):
    name = "corpus_query"
    OPS = {
        "run_corpus_pipeline": "plans.corpus_pipeline.run_corpus_pipeline",
    }

    def __init__(self, spark, seed: int, work: Path):
        super().__init__(spark, seed, work)
        self.corpus = None
        self.profile: dict = {}
        self.oracle: dict[str, tuple | None] = {}
        self.fns: dict = {}

    # -- set-up ----------------------------------------------------------------

    def setup(self) -> None:
        import importlib

        from hrdp_variant_load_pipeline_spark.session import tune_for_input

        self.corpus = corpusgen.write_corpus(self.work / "input", self.seed)
        self.profile = tune_for_input(self.spark, str(self.corpus.tables_dir))
        for module, name in QUERIES:
            reg = importlib.import_module(f"hrdp_variant_load_pipeline_spark.{module}").REGISTRY
            self.fns[name], sql = reg[name]
            self.oracle[name] = self.run_oracle(sql)

    def run_oracle(self, sql: str) -> tuple | None:
        """The oracle's canonical result, or None if it did not finish."""
        import duckdb

        con = duckdb.connect()
        timer = threading.Timer(ORACLE_TIMEOUT_S, con.interrupt)
        try:
            con.execute("SET threads TO 1")
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{self.corpus.tables_dir}/{t}.parquet'"
                )
            timer.start()
            res = con.execute(sql)
            return canonical([d[0] for d in res.description], res.fetchall())
        except duckdb.InterruptException:
            return None
        finally:
            timer.cancel()
            con.close()

    # -- ops -------------------------------------------------------------------

    def chain_cfg(self, out: Path) -> dict:
        """The curation chain of tools/corpus_chain_bench.py without its
        mixture stage, on the seeded corpus; the seed also fixes the shard
        shuffle."""
        return {
            "input": {"format": "parquet", "path": str(self.corpus.tables_dir / "documents.parquet")},
            "pii": True,
            "gates": {"min_quality": 0.3, "gopher": {"min_words": 5, "min_stopword_hits": 0}},
            "dedup": {"exact": True, "fuzzy": {"threshold": 0.8}},
            "lm_gate": {"min_count": 2},
            "decontaminate": {"path": str(self.corpus.eval_path), "n": corpusgen.DECON_N},
            "selection": {"dsir": {"target_lang": "en", "n_buckets": 1024, "keep_fraction": 0.6}},
            "chunk": {"chunk_tokens": 512, "overlap_tokens": 32},
            "pack": {"max_tokens": 2048},
            "output": {"dir": str(out / "shards"), "n_shards": 4, "shuffle_seed": self.seed},
            "checkpoint": {"dir": str(out / "ck")},
        }

    def shard_rows(self, out: Path) -> list[tuple[int, int, str]]:
        t = pq.read_table(out / "shards", columns=["doc_id", "chunk_idx", "chunk_text"])
        return sorted(zip(*(t.column(c).to_pylist() for c in t.column_names)))

    def check_chain(self, res, out: Path) -> None:
        c = self.corpus
        n = res.counts
        expect("resumed", res.resumed_from, None)
        expect("ingested", n["ingested"], c.n_docs)
        expect("quality gate", n["quality_gate"], c.n_docs - corpusgen.N_SYMBOL)
        expect("gopher gate", n["gopher_gate"], n["quality_gate"] - corpusgen.N_SHORT)
        expect("exact dedup", n["exact_dedup"], n["gopher_gate"] - corpusgen.N_EXACT)
        expect("fuzzy dedup", n["fuzzy_dedup"], n["exact_dedup"] - corpusgen.N_NEAR)
        chain = [n[s] for s in STAGES[4:]]
        if not all(a >= b > 0 for a, b in zip(chain, chain[1:])):
            raise CheckFailed(f"stage counts not shrinking and positive: {chain}")
        rows = self.shard_rows(out)
        expect("shard rows", len(rows), n["chunks_packed"])
        ids = {d for d, _i, _t in rows}
        expect("docs exported", len(ids), n[STAGES[-1]])
        stray = ids - c.keepable
        if stray:
            raise CheckFailed(f"exported docs that must be dropped: {sorted(stray)[:5]}")
        for _d, _i, text in rows:
            if corpusgen._ngrams(text.split(" "), corpusgen.DECON_N) & c.eval_ngrams:
                raise CheckFailed("an exported chunk carries an eval 8-gram")

    def query(self, name: str) -> tuple:
        df = self.fns[name](self.spark, str(self.corpus.tables_dir))
        return canonical(df.columns, [tuple(r) for r in df.collect()])

    def check_query(self, name: str, got: tuple) -> None:
        want = self.oracle[name]
        if want is None:
            raise CheckFailed(f"{name}: the oracle did not finish, so it is unchecked")
        expect(f"{name} columns", got[0], want[0])
        expect(f"{name} rows", len(got[1]), len(want[1]))
        bad = [
            (a, b)
            for a, b in zip(got[1], want[1])
            if len(a) != len(b) or not all(map(_close, a, b))
        ]
        if bad:
            raise CheckFailed(f"{name}: first differing rows {bad[:2]}")

    # -- iterations and metrics ----------------------------------------------

    def run_iteration(self, rec: dict, out: Path) -> None:
        from hrdp_variant_load_pipeline_spark.plans.corpus_pipeline import run_corpus_pipeline

        cfg = self.chain_cfg(out)
        first = self.op(
            rec, "run_corpus_pipeline", run_corpus_pipeline, self.spark, cfg,
            check=lambda r: self.check_chain(r, out),
        )
        first.unpersist_all()
        rec["out_stats"] = [dir_stats(out / "shards"), dir_stats(out / "ck")]
        for module, name in QUERIES:
            self.op(
                rec, f"{module}.{name}", self.query, name,
                check=lambda got, name=name: self.check_query(name, got),
            )

    def outcome(self, rec: dict) -> dict:
        return {
            "bytes": sum(b for b, _f in rec["out_stats"]),
            "files": sum(f for _b, f in rec["out_stats"]),
            "rows": self.corpus.n_docs,
        }

    @staticmethod
    def layers() -> list[str]:
        return [
            *(f"corpus_pipeline.stage.{s}_s" for s in STAGES),
            "corpus_pipeline.output_s",
            *(f"corpus_pipeline.count.{s}" for s in (*STAGES, "chunks_packed")),
            *(f"{m}.{f}_s" for m, f in CHAIN_SPANS),
            *(f"{m}.{n}{k}" for m, n in QUERIES for k in ("_s", ".jobs")),
        ]

    def layer_row(self, tracer, rec: dict) -> dict[str, float]:
        first = next(o for o in rec["ops"] if o["op"] == "run_corpus_pipeline")
        res = first["out"]
        row: dict[str, float] = {}
        for s in STAGES:
            row[f"corpus_pipeline.stage.{s}_s"] = res.timings.get(s, 0.0)
        row["corpus_pipeline.output_s"] = first["s"] - sum(res.timings.values())
        for s in (*STAGES, "chunks_packed"):
            row[f"corpus_pipeline.count.{s}"] = res.counts[s]
        for m, f in CHAIN_SPANS:
            row[f"{m}.{f}_s"] = self.layer_seconds(tracer, rec, "run_corpus_pipeline", f"{m}.{f}")
        for m, n in QUERIES:
            spans = self.op_spans(tracer, rec, f"{m}.{n}")
            row[f"{m}.{n}_s"] = sum(s["end"] - s["start"] for s in spans)
            row[f"{m}.{n}.jobs"] = sum(tracer.inclusive(s, "jobs") for s in spans)
        return row

    def install_spans(self, tracer) -> None:
        """Wrap the eager operator calls the chain makes; each stage body
        imports them at call time, so the module attribute is what it gets."""
        import importlib

        for module, fn in CHAIN_SPANS:
            mod = importlib.import_module(f"hrdp_variant_load_pipeline_spark.{module}")
            tracer.wrap(mod, fn, f"{module}.{fn}")

    def provenance(self) -> dict:
        sizes = {
            t: (self.corpus.tables_dir / f"{t}.parquet").stat().st_size for t in TABLES
        }
        return {
            "tune_for_input_profile": self.profile,
            "input_bytes": {**sizes, "eval": dir_stats(self.corpus.eval_path)[0]},
            "corpus": {
                "docs": self.corpus.n_docs,
                "planted": {
                    k: getattr(corpusgen, f"N_{k.upper()}")
                    for k in ("short", "symbol", "exact", "near", "contaminated")
                },
            },
            "oracle_unchecked": sorted(n for n, v in self.oracle.items() if v is None),
        }
