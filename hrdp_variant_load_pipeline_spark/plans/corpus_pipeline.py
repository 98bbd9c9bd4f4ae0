"""One-call corpus curation pipeline — the LLM-data counterpart of
``plans.load.run_load``: the README cookbook's stage chain (ingest →
normalize/scrub → quality gates → dedup → LM gate → decontaminate →
selection → mixture → chunk → pack → shards) composed from the engine's
operators and driven by ONE plain-dict config, so the whole curation
run is declarative, reproducible, and auditable stage by stage.

Everything here is composition — no new semantics. Each stage is the
already-tested operator; the plan only decides order, wiring, and what
to count. Stage order is fixed and deliberate:

  1. ingest (jsonl | parquet | warc)           sources/
  2. normalize + PII scrub (row-local)         functions/text.py
  3. heuristic gates: quality_score, gopher    functions/text.py
  4. dedup: exact → paragraph → span → fuzzy   operators/dedup.py
  5. LM perplexity gate (counts from corpus)   operators/vocab.py
  6. decontaminate vs eval set                 operators/corpus.py
  7. DSIR selection toward a target slice      operators/dsir.py
  8. mixture rebalance to a token budget       operators/corpus.py
  9. chunk + pack + shard export               operators/corpus.py, sources/corpus_io.py

Cheap row-local gates run BEFORE expensive corpus-wide stages so
rejected docs never pay shingling or shuffles, mirroring the measured
stage costs in BENCH_NOTES.md.

Metrics: every enabled stage boundary is materialized by ONE action
that also counts it, and leaves ONE cached copy (chained pin/release —
exactly one stage pinned at a time). A checkpointed boundary's action
is its parquet write, counted on the way through (``DataFrame.observe``);
the pin is the committed files read back through
``sources.store.read_parquet`` (footer schema, no inference job). Any
other boundary is a ``persist()`` + ``count()``. The shard export counts
``chunks_packed`` on its write the same way; only a chain without an
``output`` block runs a ``count()`` for it. The pinning keeps the chain
O(stages) instead of O(stages^2): the internal actions several stages perform
(the DSIR log-ratio collect, the mixture-plan collect) would otherwise
each re-execute the whole upstream lineage.

Crash resume: an optional ``checkpoint`` config block commits stage
frames to parquet behind atomic markers (the versioned-store commit
pattern) and a rerun restarts after the latest committed stage — see
:func:`run_corpus_pipeline`. Stage bodies are closures built in plan
order, so resumed-past stages never execute (not even their
driver-side collects).
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from hrdp_variant_load_pipeline_spark.runtime import release, snapshot
from hrdp_variant_load_pipeline_spark.sources.store import (
    _fs,
    _jpath,
    read_parquet,
    write_small_file,
)


@dataclass
class CorpusResult:
    """Final frames + per-stage counts. ``packed``/``shard_dir`` are None
    when the chunk/pack/output stages are disabled. ``cached`` holds the
    frames the plan left persisted (the final stage boundary) — release
    with :meth:`unpersist_all` once outputs are materialized (the registry
    protocol in ``runtime``, same as ``LoadResult.cached``).
    ``resumed_from`` names the stage whose checkpoint this run restarted
    after (None = ran from ingest)."""

    docs: DataFrame
    packed: DataFrame | None
    counts: dict[str, int] = field(default_factory=dict)
    shard_dir: str | None = None
    cached: list = field(default_factory=list)
    resumed_from: str | None = None
    #: wall seconds per executed ticked stage (resumed stages absent);
    #: unticked row-local transforms are lazy and accrue to the next
    #: boundary — the per-stage cost breakdown an operator watches
    timings: dict[str, float] = field(default_factory=dict)
    #: corpus_report(final docs) when cfg["report"] is set
    report: dict | None = None
    #: contamination_report frame (eval-sized) when
    #: cfg["decontaminate"]["report"] is set AND the decontaminate stage
    #: actually ran — a checkpoint resume past it skips the audit (run
    #: operators.corpus.contamination_report directly to regenerate)
    contamination: DataFrame | None = None
    #: (query_id, doc_id, score, rank) hits when
    #: cfg["retrieval_decontaminate"]["report"] is set and the stage ran
    #: — the search-side audit of what got dropped and why
    retrieval_contamination: DataFrame | None = None
    #: (id_a=doc, id_b=negated bench id, cosine) hits when
    #: cfg["semantic_decontaminate"]["report"] is set and the stage ran
    semantic_contamination: DataFrame | None = None

    def unpersist_all(self) -> None:
        release(*self.cached)
        self.cached.clear()


# config keys that determine the stage frames — the checkpoint
# fingerprint hashes exactly these, so edits to output-side keys
# (chunk/pack/output) or to the checkpoint block itself never
# invalidate stage checkpoints, while ANY stage-semantics edit does
_STAGE_KEYS = (
    "input", "id_col", "text_col", "lang_col", "normalize", "pii",
    "langid", "gates", "dedup", "lm_gate", "decontaminate",
    "retrieval_decontaminate", "semantic_decontaminate", "selection",
    "mixture",
)

#: config keys downstream of the stage frames (or plan-only, like
#: ``skew``), never fingerprinted
_OUTPUT_KEYS = ("chunk", "pack", "output", "checkpoint", "report", "skew")

#: stage-block keys the fingerprint ignores: the report flags are
#: audit-only (the stage FRAME is byte-identical with or without the
#: audit, so toggling one must not invalidate a days-long run's
#: checkpoints), and index_dir is a storage location, not a semantics
#: knob (the dropped set is identical wherever the scratch index lands)
_AUDIT_ONLY_KEYS = {
    "decontaminate": ("report",),
    "retrieval_decontaminate": ("report", "index_dir"),
    "semantic_decontaminate": ("report",),
}

_MARKER = "_STAGE_COMMITTED.json"


def _cfg_fingerprint(cfg: dict) -> str:
    payload = {k: cfg[k] for k in _STAGE_KEYS if k in cfg}
    for stage, ignored in _AUDIT_ONLY_KEYS.items():
        if isinstance(payload.get(stage), dict):
            payload[stage] = {
                k: v for k, v in payload[stage].items() if k not in ignored
            }
    return hashlib.md5(
        json.dumps(payload, sort_keys=True).encode()
    ).hexdigest()


def _ck_write_marker(spark: SparkSession, path: str, payload: dict) -> None:
    """One atomic rename commits the stage (``write_small_file`` with
    ``overwrite=False``; the same pattern as the ``_COMMITTED`` marker of
    ``sources.store.commit_store_version``): data files without a marker
    are invisible to resume, so a crash mid-write just recomputes the
    stage."""
    write_small_file(
        spark, path, json.dumps(payload).encode(), overwrite=False
    )


def _ck_read_marker(spark: SparkSession, path: str) -> dict | None:
    fs, jvm = _fs(spark, path)
    jp = _jpath(jvm, path)
    if not fs.exists(jp):
        return None
    stream = fs.open(jp)
    try:
        raw = bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
    finally:
        stream.close()
    try:
        return json.loads(raw.decode())
    except (ValueError, UnicodeDecodeError):
        return None  # torn/foreign marker == no checkpoint


def _ingest(spark: SparkSession, cfg: dict) -> tuple[DataFrame, DataFrame | None]:
    src = cfg["input"]
    fmt, path = src["format"], src["path"]
    if fmt == "parquet":
        return read_parquet(spark, path), None
    if fmt == "jsonl":
        from hrdp_variant_load_pipeline_spark.sources.corpus_io import (
            read_jsonl_docs,
        )

        docs, quarantine = read_jsonl_docs(
            spark, path, schema=src.get("schema", "doc_id LONG, text STRING, lang STRING")
        )
        return docs, quarantine
    if fmt == "warc":
        from hrdp_variant_load_pipeline_spark.sources.warc import (
            html_to_text,
            read_warc,
        )

        raw = read_warc(spark, path)
        docs = html_to_text(raw).select(
            # deterministic id from the record's identity — stable across
            # reruns and partitionings, so downstream dedup/joins are
            # replay-idempotent (monotonically_increasing_id is neither)
            F.conv(
                F.substring(
                    F.md5(F.concat_ws("\x00", "source_file",
                                      F.col("record_offset").cast("string"))),
                    1, 15,
                ), 16, 10,
            ).cast("long").alias("doc_id"),
            F.col("text"),
            F.lit(None).cast("string").alias("lang"),
            "url",
        )
        return docs, None
    raise ValueError(f"run_corpus_pipeline: unknown input format {fmt!r}")


def run_corpus_pipeline(spark: SparkSession, cfg: dict) -> CorpusResult:
    """Run the configured curation chain; see module docstring for the
    stage order. Unknown top-level config keys raise (a typo'd stage
    name silently skipping a GATE would ship uncurated data — same
    failure mode redact_pii guards against).

    Crash resume: ``cfg["checkpoint"] = {"dir": ..., "stages": [...],
    "resume": True}`` writes each (listed, default all) ticked stage
    frame to ``dir/<idx>_<stage>`` and commits it with one atomic
    marker create holding the config fingerprint and the counts so far.
    A rerun with the same stage-semantics config restarts AFTER the
    latest committed stage — at 100 TB the chain runs for days and a
    mid-run failure must not re-pay ingest + dedup. Stage bodies are
    built lazily in plan order, so skipped stages never run their
    driver-side actions (DSIR collect, mixture plan) either. Any edit
    to a stage-semantics key changes the fingerprint and invalidates
    every checkpoint; edits to chunk/pack/output never do (they are
    downstream of the stage frames). A checkpointed stage's parquet
    write is its one action (it also counts the rows), and the stage is
    pinned from the committed files, truncating lineage — a later
    stage failure retries from files, not from a recomputed chain.
    """
    unknown = set(cfg) - set(_STAGE_KEYS) - set(_OUTPUT_KEYS)
    if unknown:
        raise ValueError(
            f"run_corpus_pipeline: unknown config keys {sorted(unknown)}"
        )
    id_col = cfg.get("id_col", "doc_id")
    text_col = cfg.get("text_col", "text")
    lang_col = cfg.get("lang_col", "lang")
    counts: dict[str, int] = {}
    # chained stage pinning — see the module docstring's Metrics note;
    # the final pin is handed to the caller via CorpusResult.cached
    pinned: list[DataFrame] = []

    ck = cfg.get("checkpoint")
    ck_dir = ck["dir"].rstrip("/") if ck else None
    ck_stages = set(ck["stages"]) if ck and ck.get("stages") else None
    fingerprint = _cfg_fingerprint(cfg)

    def _ck_path(idx: int, stage: str) -> str:
        return f"{ck_dir}/{idx:02d}_{stage}"

    def tick(idx: int, stage: str, df: DataFrame) -> DataFrame:
        # one action materializes and counts the boundary; the previous
        # pin is released only after it, or that action would recompute
        # the whole lineage above the previous boundary
        if ck_dir and (ck_stages is None or stage in ck_stages):
            path = _ck_path(idx, stage)
            fs, jvm = _fs(spark, path)
            fs.delete(_jpath(jvm, f"{path}/{_MARKER}"), False)  # invalidate
            # the write counts what it commits: an unnamed Observation on
            # the unpersisted frame (see sources.store.append_to_store)
            obs = Observation()
            df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
                "overwrite"
            ).parquet(path)
            counts[stage] = obs.get["rows"]
            _ck_write_marker(
                spark,
                f"{path}/{_MARKER}",
                {"stage": stage, "idx": idx, "fingerprint": fingerprint,
                 "counts_so_far": dict(counts)},
            )
            # disk-backed lineage, cached by the next boundary's action
            df = read_parquet(spark, path).persist()
        else:
            df = df.persist()
            counts[stage] = df.count()
        if pinned:
            release(pinned.pop())
        pinned.append(df)
        return df

    # ---- build the stage plan (closures; nothing executes yet) -------
    # entries: (stage_name, build(docs) -> DataFrame, ticked)
    # ticked stages are count/pin/checkpoint boundaries; unticked ones
    # are row-local transforms folded into the next boundary's lineage
    plan: list[tuple[str, object, bool]] = []
    # intra-stage caches and snapshots a build wants released only AFTER
    # its boundary materializes (e.g. the DSIR featurized pool; operators
    # append theirs through their cache_registry parameter)
    stage_scratch: list[DataFrame] = []

    def _b_ingest(_docs: DataFrame | None) -> DataFrame:
        docs, quarantine = _ingest(spark, cfg)
        if quarantine is not None:
            # unlike the stage counts, an extra pass over the input
            counts["quarantined"] = quarantine.count()
        return docs

    plan.append(("ingested", _b_ingest, True))

    # ---- 2. row-local normalize + scrub ------------------------------
    from hrdp_variant_load_pipeline_spark.functions import text as TXT

    t = F.col(text_col)
    pii = cfg.get("pii", False)
    if cfg.get("normalize", True) or pii:

        def _b_scrub(docs: DataFrame) -> DataFrame:
            if cfg.get("normalize", True):
                docs = docs.withColumn(text_col, TXT.normalize_text(t))
            if pii:
                kinds = None if pii is True else tuple(pii)
                docs = docs.withColumn(text_col, TXT.redact_pii(t, kinds=kinds))
            return docs

        # unticked: a boundary pin here would materialize the whole
        # corpus one extra time for no gain — codegen evaluates the
        # scrub chain once per row even under the quality filter's many
        # text references (measured: ticked vs unticked chain totals are
        # equal at sf0.1, and the ticked variant pays an extra
        # full-corpus cache — the wrong trade at 100 TB)
        plan.append(("normalize_scrub", _b_scrub, False))

    if cfg.get("langid", False):
        # fill ABSENT language tags from the marker-word predictor so the
        # lang-keyed stages downstream (DSIR target slice, mixture,
        # pack partitioning) see every doc; rows already tagged keep
        # their tag (the upstream tagger is assumed better than the
        # heuristic). Row-local.
        plan.append((
            "langid_fill",
            lambda docs: docs.withColumn(
                lang_col,
                F.coalesce(F.col(lang_col), TXT.lang_predict(t)),
            ),
            False,
        ))

    # ---- 3. heuristic gates (row-local, before anything corpus-wide) -
    gates = cfg.get("gates", {})
    if "min_quality" in gates:
        plan.append((
            "quality_gate",
            lambda docs: docs.filter(
                TXT.quality_score(t) >= float(gates["min_quality"])
            ),
            True,
        ))
    if gates.get("gopher") is not None:
        plan.append((
            "gopher_gate",
            lambda docs: docs.filter(
                TXT.gopher_rules(t, **gates["gopher"])["passes"]
            ),
            True,
        ))
    if gates.get("c4") is not None:
        # C4 line + page cleaning (Raffel et al. 2020 §2.2): rewrite each
        # doc to its surviving lines, then drop pages failing the page
        # rules. Config: {"min_words_per_line": 3, "min_sentences": 5,
        # "drop_phrases": [...]} — all optional; `true` uses defaults.
        c4cfg = gates["c4"] if isinstance(gates["c4"], dict) else {}
        c4_mw = int(c4cfg.get("min_words_per_line", 3))
        c4_ms = int(c4cfg.get("min_sentences", 5))
        c4_dp = tuple(
            c4cfg.get("drop_phrases", TXT.C4_LINE_DROP_PHRASES)
        )

        def _b_c4(docs: DataFrame) -> DataFrame:
            # bind the cleaned text once: the page rules AND the rewrite
            # both consume it, and the kept-lines filter is the stage's
            # whole per-row cost
            staged = docs.select(
                "*",
                TXT.c4_clean(t, min_words=c4_mw, drop_phrases=c4_dp).alias(
                    "__c4_text"
                ),
            )
            kept = staged.filter(
                TXT.c4_page_rules(
                    t, F.col("__c4_text"), min_sentences=c4_ms
                )["passes"]
            )
            return kept.withColumn(text_col, F.col("__c4_text")).drop(
                "__c4_text"
            )

        plan.append(("c4_gate", _b_c4, True))

    # ---- 4. dedup ----------------------------------------------------
    from hrdp_variant_load_pipeline_spark.operators import dedup as DD

    dd = cfg.get("dedup", {})
    if dd.get("exact", True):

        def _b_exact(docs: DataFrame) -> DataFrame:
            canon = DD.exact_dedup_keepers(docs, id_col, text_col)
            return docs.join(canon, id_col, "left_semi")

        plan.append(("exact_dedup", _b_exact, True))
    if dd.get("paragraph", False):
        plan.append((
            "paragraph_dedup",
            lambda docs: DD.paragraph_dedup(docs, id_col, text_col),
            True,
        ))
    if dd.get("span_k"):
        plan.append((
            "span_dedup",
            lambda docs: DD.repeated_span_dedup(
                docs, id_col, text_col, k=int(dd["span_k"])
            ),
            True,
        ))
    if dd.get("fuzzy") is not None:

        def _b_fuzzy(docs: DataFrame) -> DataFrame:
            fz = dd["fuzzy"]
            # the pair set (and, in cluster mode, the final label round)
            # are snapshots read until the stage boundary materializes
            pairs = DD.minhash_lsh_pairs(
                docs, id_col, text_col,
                verify_threshold=float(fz.get("threshold", 0.8)),
                cache_registry=stage_scratch,
            )
            canonical = fz.get("canonical", "pair")
            if canonical == "cluster":
                # cluster-canonical: ONE survivor (min id) per connected
                # near-dup component — transitively-linked chains
                # collapse to one doc, where pair mode keeps every local
                # minimum. The CC rounds honor the chain's top-level
                # `skew:` config (hub-heavy pair graphs — a boilerplate
                # page near-duplicated across a big slice of the crawl —
                # are the kit's non-collapsing-consumer case; `skew:` is
                # plan-only and value-identical, so it is NOT part of
                # the checkpoint fingerprint).
                clusters = DD.connected_components(
                    pairs, skew=cfg.get("skew"), cache_registry=stage_scratch
                )
                drop = (
                    clusters.filter(F.col("doc") != F.col("cluster"))
                    .select(F.col("doc").alias(id_col))
                )
                return docs.join(drop, id_col, "left_anti")
            if canonical != "pair":
                raise ValueError(
                    f"dedup.fuzzy.canonical={canonical!r}: use 'pair' "
                    "or 'cluster'"
                )
            # pair-canonical (default): lowest id of each pair survives
            drop = pairs.select(
                F.greatest("doc_a", "doc_b").alias(id_col)
            ).distinct()
            return docs.join(drop, id_col, "left_anti")

        plan.append(("fuzzy_dedup", _b_fuzzy, True))

    # ---- 5. LM perplexity gate (counts from the surviving corpus) ----
    lm_cfg = cfg.get("lm_gate")
    if lm_cfg is not None:

        def _b_lm(docs: DataFrame) -> DataFrame:
            from hrdp_variant_load_pipeline_spark.operators.vocab import (
                lm_doc_score,
                ngram_counts,
                perplexity_buckets,
            )

            counts_tbl = ngram_counts(
                docs, text_col, n=2, min_count=int(lm_cfg.get("min_count", 2))
            )
            scored = lm_doc_score(
                docs, id_col, text_col, counts_tbl,
                smoothing=lm_cfg.get("smoothing", "stupid_backoff"),
                cache_registry=stage_scratch,
            )
            if lm_cfg.get("drop_tail", True):
                tiers = perplexity_buckets(scored, "lm_logprob")
                # null-safe: a null-text doc has null lm_logprob -> null
                # bucket; `bucket != 'tail'` evaluates to NULL there and a
                # bare filter would silently drop it, contradicting
                # perplexity_buckets' no-silent-disappearance contract.
                # Null-score docs pass through (the quality gates upstream
                # are the stage that rejects empty text).
                return tiers.filter(
                    (F.col("ppl_bucket") != "tail")
                    | F.col("ppl_bucket").isNull()
                ).drop("ppl_bucket", "lm_logprob")
            return scored.drop("lm_logprob")

        plan.append(("lm_gate", _b_lm, True))

    # ---- 6. decontaminate vs the eval set ----------------------------
    dec = cfg.get("decontaminate")
    contamination_out: list[DataFrame] = []
    if dec is not None:

        def _b_decon(docs: DataFrame) -> DataFrame:
            from hrdp_variant_load_pipeline_spark.operators.corpus import (
                contamination_report,
                decontaminate,
            )

            bench = read_parquet(spark, dec["path"])
            if dec.get("report", False):
                # audit BEFORE dropping: which eval items leak, how badly
                # (eval-sized output; same broadcast-shingle scan shape).
                # Materialized NOW (localCheckpoint): its lineage reads
                # this stage's input pin, which later stages release — a
                # lazy frame would re-execute the whole upstream chain
                # when the caller finally evaluates it
                contamination_out.append(snapshot(
                    contamination_report(
                        docs, bench, id_col, text_col,
                        bench_id_col=dec.get("bench_id_col", id_col),
                        bench_text_col=dec.get("bench_text_col"),
                        n=int(dec.get("n", 8)),
                    ),
                    reliable=False,
                ))
            return decontaminate(
                docs, bench, id_col, text_col,
                bench_text_col=dec.get("bench_text_col"),
                n=int(dec.get("n", 8)),
            )

        plan.append(("decontaminated", _b_decon, True))

    # ---- 6b. retrieval-driven decontamination ------------------------
    # The decontamination-by-search pattern the BM25 family exists for
    # (operators/vocab.py bm25_scores docstring): the shingle stage (6)
    # catches verbatim/near-verbatim leakage; this stage catches
    # paraphrase-level leakage — benchmark items whose WORDING drifted
    # but whose term profile still retrieves the source document. Build
    # a scratch inverted index over the surviving corpus ONCE (one
    # tokenization scan, postings clustered by (bucket, term)), probe it
    # with ALL benchmark items in ONE postings pass
    # (text_index_topk_many), and drop every document that ranks in any
    # item's top-k at or above min_score. Cost is O(corpus tokens) to
    # build + O(probed postings) to search — the corpus is never
    # scanned per benchmark item.
    rdec = cfg.get("retrieval_decontaminate")
    retrieval_out: list[DataFrame] = []
    if rdec is not None:

        def _b_rdec(docs: DataFrame) -> DataFrame:
            import tempfile

            from hrdp_variant_load_pipeline_spark.operators.text_index import (
                append_text_index_batch,
                text_index_topk_many,
            )
            from hrdp_variant_load_pipeline_spark.operators.vocab import (
                bm25_tokens,
            )

            idx_dir = rdec.get("index_dir") or (
                f"{ck_dir}/_retrieval_index"
                if ck_dir
                else tempfile.mkdtemp(prefix="graft_rdec_idx_")
            )
            # fresh build per run — a stale index would flag against a
            # previous run's corpus (on a cluster, point index_dir at
            # shared storage, same requirement as every store here)
            fs, jvm = _fs(spark, idx_dir)
            fs.delete(_jpath(jvm, idx_dir), True)
            append_text_index_batch(
                docs,
                idx_dir,
                id_col=id_col,
                text_col=text_col,
                n_buckets=int(rdec.get("n_buckets", 64)),
            )
            bench = read_parquet(spark, rdec["path"])
            btext = rdec.get("bench_text_col", text_col)
            bid = rdec.get("bench_id_col", id_col)
            # term SET per item (array_distinct): BM25 scores a query
            # term once against its df/tf — a repeated stopword must not
            # double its contribution — and tokenless items can't probe
            queries = bench.select(
                F.col(bid).cast("long").alias("query_id"),
                F.array_distinct(bm25_tokens(F.col(btext))).alias("terms"),
            ).filter(F.size("terms") > 0)
            # max_df_frac: benchmark items are whole texts, so their
            # term union includes the corpus's common words — near-zero
            # IDF but a df × queries contribution blowup (measured
            # unrunnable at sf10 without pruning). 0.2 drops only terms
            # in >20% of documents; retrieval of any actually-leaked
            # item rides its rare terms.
            # max_query_terms: probe with each item's 32 rarest
            # surviving terms — bounds the contribution join at
            # items × 32 × df_cap by construction (rare-term probing)
            hits = text_index_topk_many(
                spark,
                idx_dir,
                queries,
                k=int(rdec.get("k", 10)),
                max_df_frac=float(rdec.get("max_df_frac", 0.2)),
                max_query_terms=int(rdec.get("max_query_terms", 32)),
            ).filter(F.col("score") >= float(rdec.get("min_score", 0.0)))
            # eval-sized (≤ |bench|·k rows); materialized NOW — both for
            # the report's lineage (same reason as the shingle
            # contamination report) and so the anti-join's broadcast
            # ships a computed frame instead of running the whole probe
            # inside the broadcast-exchange thread's timeout
            hits = snapshot(hits, reliable=False)
            if rdec.get("report", False):
                retrieval_out.append(hits)
            flagged = hits.select(
                F.col("doc_id").alias(id_col)
            ).distinct()
            # flagged is ≤ |bench|·k ids — query-sized, broadcast is safe
            return docs.join(F.broadcast(flagged), id_col, "left_anti")

        plan.append(("retrieval_decontaminated", _b_rdec, True))

    # ---- 6c. semantic (TF-IDF cosine) decontamination ----------------
    # The third leakage modality: stage 6 catches verbatim/near-verbatim
    # shingle overlap, 6b catches term-profile retrieval, and this
    # catches REWRITES — benchmark items whose wording AND rare-term
    # profile drifted but whose weighted bag-of-words still points at
    # the source document (the paraphrase band between shingle overlap
    # and full semantic embedding). Composition of existing operators:
    # build_vocab over the surviving corpus -> sparse TF-IDF vectors for
    # corpus and benchmark against the SAME vocab/idf -> broadcast
    # sparse-cosine of the (model-sized) benchmark side -> drop docs at
    # or above min_cosine. Scale: vocab bounded by max_vocab, the
    # benchmark side broadcasts, the corpus never shuffles (the cosine
    # is a row-local map lookup) — one corpus scan end to end.
    sdec = cfg.get("semantic_decontaminate")
    semantic_out: list[DataFrame] = []
    if sdec is not None:

        def _b_sdec(docs: DataFrame) -> DataFrame:
            from hrdp_variant_load_pipeline_spark.operators.vocab import (
                build_vocab,
                sparse_cosine_candidates,
                sparse_cosine_pairs,
                tfidf_vectors,
            )

            min_cos = float(sdec.get("min_cosine", 0.9))
            max_vocab = int(sdec.get("max_vocab", 30000))
            # model-sized; consumed by BOTH vector builds below —
            # unmaterialized, each re-runs the corpus vocab pass.
            # eager=False: the snapshot materializes inside the first
            # consuming action, keeping independent subtrees schedulable
            # concurrently (eager serialized the builds as blocking
            # construction-time jobs — measured WORSE: sf10 arm eager
            # 40.4 s vs lazy 37.0 s vs unshared 51.6 s; in the
            # many-component battery eager was a 45% REGRESSION)
            vocab = snapshot(
                build_vocab(docs, text_col, max_vocab=max_vocab),
                eager=False,
                reliable=False,
            )
            # the bench-id disjointness mapping below (-(id)-1) is only
            # collision-free when corpus ids are non-negative — a
            # negative doc id could alias a mapped bench id and have a
            # REAL contamination hit silently dropped by the
            # id_a != id_b self-match guard. Enforce the invariant loud,
            # fused into the n_docs action (one aggregate, same single
            # pass the count() was).
            _nrow = docs.agg(
                F.count("*").alias("n"), F.min(id_col).alias("mn")
            ).collect()[0]
            n_docs = _nrow["n"]
            if _nrow["mn"] is not None and _nrow["mn"] < 0:
                raise ValueError(
                    "semantic_decontaminate requires non-negative corpus "
                    f"doc ids ({id_col} min={_nrow['mn']}): the benchmark "
                    "side is mapped to the negative id space to keep the "
                    "two id domains disjoint"
                )
            dv = tfidf_vectors(
                docs.select(id_col, text_col), id_col, text_col, vocab,
                n_docs=n_docs,
            )
            bench = read_parquet(spark, sdec["path"])
            btext = sdec.get("bench_text_col", text_col)
            bid = sdec.get("bench_id_col", id_col)
            bv = tfidf_vectors(
                bench.select(
                    # sparse_cosine_pairs excludes id_a == id_b
                    # (self-match guard); benchmark ids share the long
                    # domain with doc ids, so map them NEGATIVE to keep
                    # the id spaces disjoint — a bench item numbered
                    # like a corpus doc must still match it
                    (-(F.col(bid).cast("long")) - 1).alias("__bid"),
                    F.col(btext).alias(text_col),
                ),
                "__bid",
                text_col,
                vocab,
                # the corpus idf: bench items score against the
                # corpus's term statistics, not their own tiny set's
                n_docs=n_docs,
            ).select("__bid", "tfidf_idx", "tfidf_val")
            # pair-space bound (same shape as the retrieval stage's
            # rare-term probing): the plain broadcast-cross form is
            # |corpus| x |bench| row-local evaluations — measured
            # unrunnable at the 100x staging (r14). max_probe_terms=None
            # opts back into the exact exhaustive form for small runs.
            mpt = sdec.get("max_probe_terms", 16)
            # sparse_cosine_candidates consumes its corpus side three
            # times (rank-df aggregate, inverted pass, exact cosine);
            # checkpoint the slim vectors so the corpus text pass runs
            # once — O(vector bytes) executor-local storage (vocab-
            # bounded per doc, ≪ text) for the saved corpus passes.
            # eager=False for the same scheduling reason as the vocab
            # above; with n_a passed in (below) nothing materializes
            # until the probe job itself runs.
            a_vecs = snapshot(
                dv.select(id_col, "tfidf_idx", "tfidf_val")
                .withColumnRenamed(id_col, "doc_id"),
                eager=False,
                reliable=False,
            )
            b_vecs = bv.withColumnRenamed("__bid", "doc_id")
            if mpt is None:
                hits = sparse_cosine_pairs(
                    a_vecs, b_vecs, "doc_id", min_cosine=min_cos
                )
            else:
                hits = sparse_cosine_candidates(
                    a_vecs,
                    b_vecs,
                    "doc_id",
                    min_cosine=min_cos,
                    max_df_frac=float(sdec.get("max_df_frac", 0.2)),
                    max_probe_terms=int(mpt),
                    # |a_vecs| == |docs| (tfidf_vectors is row-
                    # preserving): reuse the fused count/min aggregate
                    # above instead of the operator's internal count,
                    # so the vector snapshot materializes inside the
                    # probe job, not a construction-time count
                    n_a=n_docs,
                )
            # materialize before the anti-join broadcast (same rule as
            # the retrieval stage: never run the probe inside the
            # broadcast-exchange thread's timeout)
            hits = snapshot(hits, reliable=False)
            # the vector/vocab snapshots are fully consumed once `hits`
            # materializes (the line above) — release their executor
            # blocks after the stage boundary instead of waiting for
            # driver GC (r15 ADVICE: a_vecs is a corpus-sized slim
            # table, and repeated pipeline runs in one session would
            # accumulate such blocks)
            stage_scratch.extend((vocab, a_vecs))
            if sdec.get("report", False):
                semantic_out.append(hits)
            flagged = hits.select(F.col("id_a").alias(id_col)).distinct()
            return docs.join(F.broadcast(flagged), id_col, "left_anti")

        plan.append(("semantic_decontaminated", _b_sdec, True))

    # ---- 7. DSIR selection toward a target slice ---------------------
    sel = cfg.get("selection")
    if sel is not None:

        def _b_dsir(docs: DataFrame) -> DataFrame:
            from hrdp_variant_load_pipeline_spark.operators.dsir import (
                bucket_logratio,
                dsir_log_weight,
                dsir_select_fraction,
                featurize,
            )

            ds = sel["dsir"]
            n_buckets = int(ds.get("n_buckets", 1024))
            # featurize ONCE and pin: gram construction is the measured
            # dominant DSIR cost (BENCH_NOTES.md) and the naive chain
            # pays it 3x — raw counts, quantile pass, final filter all
            # read the cached bucket arrays instead
            feat = featurize(docs, text_col, n_buckets).persist()
            if "target_lang" in ds:
                # a slice of the pool rides the same cached gram arrays
                target = feat.filter(F.col(lang_col) == ds["target_lang"])
                target_bcol = "_dsir_buckets"
            else:
                target = read_parquet(spark, ds["target_path"])
                target_bcol = None
            lr = bucket_logratio(
                target, feat, text_col, n_buckets=n_buckets,
                raw_buckets_col="_dsir_buckets",
                target_buckets_col=target_bcol,
                cache_registry=stage_scratch,
            )
            scored = dsir_log_weight(
                feat, lr, text_col, n_buckets, buckets_col="_dsir_buckets"
            )
            out = dsir_select_fraction(
                scored, float(ds.get("keep_fraction", 0.5))
            ).drop("dsir_logw", "_dsir_buckets")
            # the final filter pass still READS the cached bucket arrays
            # when the stage boundary materializes (after this closure
            # returns) — defer the release until post-tick, or the gram
            # pass this cache exists to eliminate re-executes once
            stage_scratch.append(feat)
            return out

        plan.append(("dsir_selected", _b_dsir, True))

    # ---- 8. mixture rebalance to a token budget ----------------------
    mix = cfg.get("mixture")
    n_tok_col = "n_tokens"
    plan.append((
        "token_counts",
        lambda docs: docs.withColumn(
            n_tok_col,
            F.size(
                F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != "")
            ).cast("long"),
        ),
        False,
    ))
    if mix is not None:

        def _b_mix(docs: DataFrame) -> DataFrame:
            from hrdp_variant_load_pipeline_spark.operators.corpus import (
                apply_mixture,
                plan_mixture,
                temperature_weights,
            )

            weights = mix.get("weights")
            if weights is None:
                weights = temperature_weights(
                    docs, lang_col, n_tok_col,
                    alpha=float(mix.get("temperature", 0.3)),
                )
            allow_up = bool(mix.get("allow_upsample", False))
            mplan = plan_mixture(
                docs, lang_col, n_tok_col, weights, int(mix["total_tokens"]),
                allow_upsample=allow_up,
            )
            if not allow_up:
                return apply_mixture(docs, lang_col, id_col, mplan).drop(
                    "epoch"
                )
            # upsampling keeps the epoch column: repeats of a doc stay
            # distinguishable so the chunk stage can mint unique uids
            # (epoch is folded into the chunk id as id*256+epoch)
            max_frac = max(p["fraction"] for p in mplan.values())
            if max_frac >= 256:
                raise ValueError(
                    f"mixture.allow_upsample: fraction {max_frac:.1f} needs "
                    ">= 256 epochs of one source; raise its available "
                    "tokens or lower its weight"
                )
            return apply_mixture(docs, lang_col, id_col, mplan)

        plan.append(("mixed", _b_mix, True))

    # ---- resume scan: latest committed stage under this fingerprint --
    if ck_stages is not None:
        # fail loud on typo'd / disabled stage names, same rule as the
        # unknown-config-key check: a silently-unmatched entry would mean
        # a days-long run crashes with zero resumable state
        ticked_names = {s for s, _b, tk in plan if tk}
        bad = ck_stages - ticked_names
        if bad:
            raise ValueError(
                f"checkpoint.stages {sorted(bad)} match no enabled stage; "
                f"enabled: {sorted(ticked_names)}"
            )
    resume_idx = -1
    resumed_from = None
    if ck_dir and ck.get("resume", True):
        for i, (stage, _build, ticked) in enumerate(plan):
            if not ticked or (ck_stages is not None and stage not in ck_stages):
                continue
            marker = _ck_read_marker(
                spark, f"{_ck_path(i, stage)}/{_MARKER}"
            )
            if (
                marker
                and marker.get("fingerprint") == fingerprint
                and marker.get("stage") == stage
                and marker.get("idx") == i
            ):
                resume_idx, resumed_from = i, stage
                resume_counts = marker.get("counts_so_far", {})

    # ---- execute ------------------------------------------------------
    if resume_idx >= 0:
        docs = read_parquet(spark, _ck_path(resume_idx, resumed_from))
        counts.update({k: int(v) for k, v in resume_counts.items()})
    else:
        docs = None
    import time

    timings: dict[str, float] = {}
    t0 = time.monotonic()
    try:
        for i, (stage, build, ticked) in enumerate(plan):
            if i <= resume_idx:
                continue  # body never built: its driver actions skip too
            docs = build(docs)
            if ticked:
                docs = tick(i, stage, docs)
                release(*stage_scratch)
                stage_scratch.clear()
                timings[stage] = round(time.monotonic() - t0, 3)
                t0 = time.monotonic()
    except BaseException:
        # a stage failure must not strand executor memory behind a frame
        # the caller never gets a handle to (the crash case the
        # checkpointing exists for)
        release(*pinned, *stage_scratch)
        raise

    # ---- 9. chunk + pack + shard export ------------------------------
    try:
        packed, shard_dir = _chunk_pack_export(
            spark, cfg, docs, counts, fingerprint, id_col, text_col,
            lang_col, pinned,
        )
        report = None
        rep_cfg = cfg.get("report", False)
        if rep_cfg:
            from hrdp_variant_load_pipeline_spark.sources.corpus_io import (
                corpus_report,
            )

            report = corpus_report(
                docs, text_col=text_col, lang_col=lang_col,
                approx=(rep_cfg == "approx"),  # the 100 TB sketch shape
            )
    except BaseException:
        release(*pinned)
        raise

    return CorpusResult(
        docs=docs, packed=packed,
        counts=counts,
        shard_dir=shard_dir, cached=pinned, resumed_from=resumed_from,
        timings=timings, report=report,
        contamination=contamination_out[0] if contamination_out else None,
        retrieval_contamination=(
            retrieval_out[0] if retrieval_out else None
        ),
        semantic_contamination=(
            semantic_out[0] if semantic_out else None
        ),
    )


def _chunk_pack_export(
    spark: SparkSession,
    cfg: dict,
    docs: DataFrame,
    counts: dict[str, int],
    fingerprint: str,
    id_col: str,
    text_col: str,
    lang_col: str,
    pinned: list[DataFrame] | None = None,
) -> tuple[DataFrame | None, str | None]:
    """Stage 9 (output side): chunk → pack → seeded-shuffle shard export.
    Split out so the executor can wrap it in pin cleanup; mutates
    ``counts`` with chunks_packed and may append to ``pinned`` (the
    densified frame — released by the caller with the stage pins)."""
    packed = None
    shard_dir = None
    ch = cfg.get("chunk")
    if ch is not None:
        from hrdp_variant_load_pipeline_spark.operators.corpus import (
            chunk_documents,
            densify_ids,
            pack_sequences,
        )
        from hrdp_variant_load_pipeline_spark.sources.corpus_io import (
            write_shards,
        )

        # hash-minted ids (e.g. the WARC source's 60-bit ids) are too
        # wide for the chunk-uid arithmetic below: `chunk.densify_ids`
        # remaps them to dense 0..n-1 (one range exchange + O(partitions)
        # driver offsets; original id kept as `{id_col}_src` for
        # provenance)
        densified = bool(ch.get("densify_ids"))
        if densified:
            # persist the densified frame: its rank window (bucket
            # exchange + per-bucket sort over the whole corpus) would
            # otherwise recompute for EVERY downstream action (the guard
            # agg, then the shard write or the chunks_packed count). The
            # guard agg below materializes the pin; the caller releases it
            # with the stage pins.
            docs = densify_ids(
                docs,
                id_col,
                order_extra=["epoch"] if "epoch" in docs.columns else None,
            ).persist()
            if pinned is not None:
                pinned.append(docs)
        # upsampled corpora carry an epoch column: fold it into the chunk
        # id so repeats of a doc mint distinct chunk_uids (guarded < 256
        # epochs at the mixture stage)
        has_epoch = "epoch" in docs.columns
        # uid capacity guard: chunk_uid = id * (256 if epochs) * 1e6 +
        # chunk_idx must fit int64 — hash-minted ids would WRAP and
        # silently collide. One agg (on the densified pin when
        # densify_ids is set — doubling as its materialization — else on
        # the pinned stage frame); fail loud with the remap advice.
        factor = 1_000_000 * (256 if has_epoch else 1)
        max_id = (
            docs.agg(F.max(F.abs(F.col(id_col)))).collect()[0][0] or 0
        )
        if max_id >= (2**63 - 1) // factor:
            raise ValueError(
                f"chunk export: max |{id_col}| {max_id} cannot mint unique "
                f"int64 chunk uids (needs id*{factor}+chunk_idx); set "
                'chunk {"densify_ids": true} to remap wide (hash-minted, '
                "e.g. WARC) ids to dense longs first"
            )
        if has_epoch:
            base = docs.withColumn(
                "__cid", F.col(id_col) * 256 + F.col("epoch")
            )
            cid = "__cid"
        else:
            base, cid = docs, id_col
        pk = cfg.get("pack", {})
        part_col = pk.get("partition_col", lang_col)
        # part_col (and, when densified, the original-id provenance
        # column) ride through the explode row-locally (carry_cols) —
        # NOT a re-join back to the corpus: that join's build side is one
        # row per doc (x epoch), corpus-cardinality, and would OOM a
        # broadcast / force a corpus-wide shuffle at the 100 TB target.
        carry = [part_col] + ([f"{id_col}_src"] if densified else [])
        chunks = chunk_documents(
            base, cid, text_col,
            chunk_tokens=int(ch.get("chunk_tokens", 2048)),
            overlap_tokens=int(ch.get("overlap_tokens", 128)),
            carry_cols=carry,
        )
        with_part = chunks.withColumn(
            "chunk_uid", F.col(cid) * 1_000_000 + F.col("chunk_idx")
        )
        packed = pack_sequences(
            with_part,
            id_col=cid,
            token_count_col="n_tokens",
            max_tokens=int(pk.get("max_tokens", 8192)),
            order_col="chunk_uid",
            partition_col=part_col,
        )
        out = cfg.get("output")
        if out is None:
            counts["chunks_packed"] = packed.count()
        else:
            from hrdp_variant_load_pipeline_spark.sources.corpus_io import (
                shuffle_key,
            )

            shard_dir = out["dir"]
            manifest = {"config_fingerprint": fingerprint}
            if "shuffle_seed" in out:
                # training order: deterministic global shuffle — docs and
                # languages interleaved, replayable from the seed alone
                manifest["shuffle_seed"] = out["shuffle_seed"]
                key = shuffle_key("chunk_uid", out["shuffle_seed"])
                order = "shard_key"
            else:
                # language-major grouping, sequential within a doc. A
                # struct key range-partitions field-by-field (part_col
                # first, then bin_id) — unlike the arithmetic form
                # abs(hash)*K + bin_id it cannot collide across languages
                # when a partition exceeds K bins, and has no
                # abs(Int.MinValue) negative edge.
                key = F.struct(
                    F.col(part_col).alias("part"),
                    F.col("bin_id").alias("bin"),
                )
                order = "chunk_uid"
            # the shard write counts the packed chunks it commits
            counts["chunks_packed"] = write_shards(
                packed.withColumn("shard_key", key),
                shard_dir,
                "shard_key",
                n_shards=int(out.get("n_shards", 16)),
                order_col=order,
                manifest=lambda rows: {
                    **manifest, "counts": {**counts, "chunks_packed": rows}
                },
                format=out.get("format", "parquet"),
            )

    return packed, shard_dir
