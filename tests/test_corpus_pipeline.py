"""run_corpus_pipeline (plans/corpus_pipeline.py): the one-call curation
chain — stage wiring, metric counts, shard export, warc ingest path,
config validation."""

from __future__ import annotations

import gzip
import os

import pytest
from pyspark.sql import functions as F

from hrdp_variant_load_pipeline_spark.plans.corpus_pipeline import (
    run_corpus_pipeline,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


def test_full_chain_over_documents_fixture(spark, tmp_path):
    docs_path = f"{SF_DIR}/documents.parquet"
    bench_dir = str(tmp_path / "bench")
    spark.read.parquet(docs_path).filter(
        F.col("doc_id") % 10 == 0
    ).write.parquet(bench_dir)
    out_dir = str(tmp_path / "shards")
    cfg = {
        "input": {"format": "parquet", "path": docs_path},
        "pii": True,
        "gates": {"min_quality": 0.3, "gopher": {"min_words": 5, "min_stopword_hits": 0}},
        "dedup": {"exact": True, "fuzzy": {"threshold": 0.8}},
        "lm_gate": {"min_count": 2},
        "decontaminate": {"path": bench_dir, "n": 8, "report": True},
        "selection": {"dsir": {"target_lang": "en", "n_buckets": 64, "keep_fraction": 0.6}},
        "mixture": {"temperature": 0.3, "total_tokens": 5000},
        "chunk": {"chunk_tokens": 64, "overlap_tokens": 16},
        "pack": {"max_tokens": 256},
        "output": {"dir": out_dir, "n_shards": 4},
    }
    res = run_corpus_pipeline(spark, cfg)
    c = res.counts
    stages = [
        "ingested", "quality_gate", "gopher_gate", "exact_dedup",
        "fuzzy_dedup", "lm_gate", "decontaminated", "dsir_selected",
        "mixed",
    ]
    assert [s for s in stages if s in c] == stages  # every stage ticked, in order
    # the corpus only ever shrinks through the gates
    sizes = [c[s] for s in stages]
    assert sizes == sorted(sizes, reverse=True)
    assert 0 < c["mixed"] < c["ingested"]
    assert c["chunks_packed"] > 0
    # shards are on disk and lossless vs the packed frame
    back = spark.read.parquet(out_dir)
    assert back.count() == res.packed.count()
    # every surviving doc still carries text + token counts
    assert res.docs.filter(F.col("n_tokens") <= 0).count() == 0
    # the contamination audit is attached, eval-sized, and consistent:
    # leaked items never exceed their own shingle count
    cont = res.contamination
    assert cont is not None
    rows = cont.collect()
    assert 0 < len(rows) <= spark.read.parquet(bench_dir).count()
    assert all(r["n_leaked_shingles"] <= r["n_bench_shingles"] for r in rows)
    assert any(r["n_contaminated_docs"] > 0 for r in rows)  # planted dups


def test_warc_ingest_ids_are_replay_deterministic(spark, tmp_path):
    def rec(body, url):
        http = (f"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n").encode() + body
        h = [b"WARC/1.0", b"WARC-Type: response",
             b"WARC-Target-URI: " + url.encode(),
             b"WARC-Date: 2026-08-15T00:00:00Z",
             b"Content-Type: application/http;msgtype=response",
             b"Content-Length: " + str(len(http)).encode()]
        return b"\r\n".join(h) + b"\r\n\r\n" + http + b"\r\n\r\n"

    blob = b"".join(
        rec(f"<html><body>the page number {i} with the usual words</body></html>".encode(),
            f"http://w.example/{i}")
        for i in range(4)
    )
    (tmp_path / "a.warc.gz").write_bytes(gzip.compress(blob))
    cfg = {
        "input": {"format": "warc", "path": str(tmp_path)},
        "normalize": False,
        "dedup": {"exact": True},
    }
    r1 = run_corpus_pipeline(spark, cfg)
    r2 = run_corpus_pipeline(spark, cfg)
    ids1 = sorted(r["doc_id"] for r in r1.docs.select("doc_id").collect())
    ids2 = sorted(r["doc_id"] for r in r2.docs.select("doc_id").collect())
    assert ids1 == ids2 and len(ids1) == 4 and len(set(ids1)) == 4
    assert r1.counts["ingested"] == 4
    texts = {r["url"]: r["text"] for r in r1.docs.collect()}
    assert texts["http://w.example/2"] == "the page number 2 with the usual words"


def test_lm_gate_null_text_doc_not_silently_dropped(spark, tmp_path):
    """A null-text doc has null lm_logprob -> null ppl_bucket; the tail
    filter must pass it through explicitly (ADVICE r10: `bucket != 'tail'`
    is NULL there and a bare filter silently drops the doc, violating
    perplexity_buckets' no-silent-disappearance contract)."""
    src = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, "common words common words appear again and again") for i in range(30)]
        # rare-gram gibberish: genuinely tail-scoring under the corpus LM
        + [(50 + i, f"zq{i}x wv{i}k jj{i}p qq{i}z xx{i}m") for i in range(10)]
        + [(99, None)],
        "doc_id long, text string",
    ).write.parquet(src)
    res = run_corpus_pipeline(
        spark,
        {
            "input": {"format": "parquet", "path": src},
            "lm_gate": {"min_count": 1},
        },
    )
    # the null-text doc survived the gate (upstream quality gates — not
    # configured here — are the stage that rejects empty text)
    assert res.docs.filter(F.col("doc_id") == 99).count() == 1
    # and the gate still dropped its worst-scoring tail bucket
    assert res.counts["lm_gate"] < res.counts["ingested"]


def test_unknown_config_key_raises(spark):
    with pytest.raises(ValueError, match="unknown config keys"):
        run_corpus_pipeline(
            spark,
            {"input": {"format": "parquet", "path": "x"}, "dedupe": {}},
        )


def _ck_cfg(docs_dir, ck_dir):
    return {
        "input": {"format": "parquet", "path": docs_dir},
        "gates": {"min_quality": 0.3},
        "dedup": {"exact": True, "fuzzy": {"threshold": 0.8}},
        "selection": {"dsir": {"target_lang": "en", "n_buckets": 32,
                               "keep_fraction": 0.6}},
        "checkpoint": {"dir": ck_dir},
    }


def test_checkpoint_resume_skips_every_committed_stage(spark, tmp_path):
    """Rerun with the same stage config must restart AFTER the last
    committed stage: the input is DELETED between runs, so any attempt
    to rebuild ingest (or any upstream stage) would throw — the resumed
    run succeeding proves the skipped bodies never execute."""
    import shutil

    docs_dir = str(tmp_path / "docs")
    spark.read.parquet(f"{SF_DIR}/documents.parquet").filter(
        F.col("doc_id") % 3 == 0
    ).write.parquet(docs_dir)
    cfg = _ck_cfg(docs_dir, str(tmp_path / "ck"))

    r1 = run_corpus_pipeline(spark, cfg)
    assert r1.resumed_from is None
    ids1 = sorted(r["doc_id"] for r in r1.docs.select("doc_id").collect())
    r1.unpersist_all()

    shutil.rmtree(docs_dir)  # resume must not touch the input again
    r2 = run_corpus_pipeline(spark, cfg)
    assert r2.resumed_from == "dsir_selected"  # the last ticked stage
    ids2 = sorted(r["doc_id"] for r in r2.docs.select("doc_id").collect())
    assert ids2 == ids1
    assert r2.counts == r1.counts
    r2.unpersist_all()


def test_checkpoint_fingerprint_invalidates_on_semantics_change(
    spark, tmp_path
):
    docs_dir = str(tmp_path / "docs")
    spark.read.parquet(f"{SF_DIR}/documents.parquet").filter(
        F.col("doc_id") % 5 == 0
    ).write.parquet(docs_dir)
    cfg = _ck_cfg(docs_dir, str(tmp_path / "ck"))
    r1 = run_corpus_pipeline(spark, cfg)
    r1.unpersist_all()

    # an output-side edit (chunk/pack) must NOT invalidate the stages...
    cfg3 = {**cfg, "chunk": {"chunk_tokens": 32, "overlap_tokens": 8},
            "pack": {"max_tokens": 128, "partition_col": "lang"}}
    r3 = run_corpus_pipeline(spark, cfg3)
    assert r3.resumed_from == "dsir_selected"
    assert r3.counts["chunks_packed"] > 0
    r3.unpersist_all()

    # ...as must toggling the audit-only decontaminate.report flag
    # (the stage frame is identical with or without the audit)
    cfg4 = {**cfg, "decontaminate": {"path": docs_dir, "report": True}}
    # note: ADDING a decontaminate stage IS a semantics change; to test
    # the report flag alone, fingerprint the two configs directly
    from hrdp_variant_load_pipeline_spark.plans.corpus_pipeline import (
        _cfg_fingerprint,
    )

    assert _cfg_fingerprint(cfg4) == _cfg_fingerprint(
        {**cfg, "decontaminate": {"path": docs_dir}}
    )
    assert _cfg_fingerprint(cfg4) != _cfg_fingerprint(cfg)

    # ...while a stage-semantics edit must recompute from scratch (its
    # fresh checkpoints then supersede the stale-fingerprint ones)
    cfg2 = {**cfg, "gates": {"min_quality": 0.0}}
    r2 = run_corpus_pipeline(spark, cfg2)
    assert r2.resumed_from is None
    assert r2.counts["quality_gate"] >= r1.counts["quality_gate"]
    r2.unpersist_all()


def test_fingerprint_of_every_audit_only_block_is_pinned():
    """Every audit-only key is stripped, and the hash is the one earlier
    releases wrote into their markers: a changed hash would stop every
    existing checkpoint from resuming."""
    from hrdp_variant_load_pipeline_spark.plans.corpus_pipeline import (
        _cfg_fingerprint,
    )

    cfg = {
        "input": {"format": "parquet", "path": "docs"},
        "gates": {"min_quality": 0.3},
        "dedup": {"exact": True},
        "decontaminate": {"path": "bench", "n": 8, "report": True},
        "retrieval_decontaminate": {
            "path": "bench", "k": 5, "report": True, "index_dir": "idx",
        },
        "semantic_decontaminate": {
            "path": "bench", "min_cosine": 0.8, "report": True,
        },
        "chunk": {"chunk_tokens": 64},
        "checkpoint": {"dir": "ck"},
    }
    assert _cfg_fingerprint(cfg) == "921264c035fb641ca336bb538b5d4a0c"
    stripped = {
        **cfg,
        "decontaminate": {"path": "bench", "n": 8},
        "retrieval_decontaminate": {"path": "bench", "k": 5},
        "semantic_decontaminate": {"path": "bench", "min_cosine": 0.8},
    }
    assert _cfg_fingerprint(stripped) == _cfg_fingerprint(cfg)


def test_checkpointed_stage_is_counted_by_its_write(
    spark, tmp_path, monkeypatch
):
    """A checkpointed boundary is materialized by the parquet write that
    commits it: ``tick`` calls no ``DataFrame.count()``, and the rows the
    writes count equal the counts of the same chain run without a
    checkpoint, per stage and in every stage's marker."""
    import inspect
    import json

    docs_dir = str(tmp_path / "docs")
    spark.read.parquet(f"{SF_DIR}/documents.parquet").filter(
        F.col("doc_id") % 2 == 0
    ).write.parquet(docs_dir)
    cfg = {
        "input": {"format": "parquet", "path": docs_dir},
        "gates": {
            "min_quality": 0.3,
            "gopher": {"min_words": 5, "min_stopword_hits": 0},
        },
        "dedup": {"exact": True},
    }
    # the session's concrete DataFrame class defines its own count()
    frame_cls = type(spark.range(0))
    real_count = frame_cls.count
    callers = []

    def spy(self):
        callers.append(inspect.currentframe().f_back.f_code.co_name)
        return real_count(self)

    monkeypatch.setattr(frame_cls, "count", spy)
    plain = run_corpus_pipeline(spark, cfg)
    want = dict(plain.counts)
    plain.unpersist_all()
    assert list(want) == [
        "ingested", "quality_gate", "gopher_gate", "exact_dedup"
    ]
    assert callers.count("tick") == len(want)  # the uncheckpointed branch

    callers.clear()
    ck_dir = tmp_path / "ck"
    res = run_corpus_pipeline(spark, {**cfg, "checkpoint": {"dir": str(ck_dir)}})
    monkeypatch.undo()
    assert "tick" not in callers
    assert res.counts == want
    res.unpersist_all()

    stages = list(want)
    for name in sorted(os.listdir(ck_dir)):
        marker = json.loads(
            (ck_dir / name / "_STAGE_COMMITTED.json").read_text()
        )
        done = stages[: stages.index(marker["stage"]) + 1]
        assert marker["counts_so_far"] == {s: want[s] for s in done}
    assert len(os.listdir(ck_dir)) == len(stages)


def test_checkpoint_stage_subset_resumes_at_listed_stage(spark, tmp_path):
    docs_dir = str(tmp_path / "docs")
    spark.read.parquet(f"{SF_DIR}/documents.parquet").filter(
        F.col("doc_id") % 5 == 1
    ).write.parquet(docs_dir)
    cfg = _ck_cfg(docs_dir, str(tmp_path / "ck"))
    cfg["checkpoint"]["stages"] = ["exact_dedup"]
    r1 = run_corpus_pipeline(spark, cfg)
    r1.unpersist_all()
    import os as _os

    # exactly one stage directory was written
    assert sorted(_os.listdir(cfg["checkpoint"]["dir"])) == ["03_exact_dedup"]
    r2 = run_corpus_pipeline(spark, cfg)
    assert r2.resumed_from == "exact_dedup"
    assert r2.counts == r1.counts
    r2.unpersist_all()


def test_shuffle_seed_output_is_deterministic_and_lossless(spark, tmp_path):
    """output.shuffle_seed interleaves the training order globally but
    deterministically: same seed => byte-identical (shard, position)
    assignment across reruns; the manifest records provenance."""
    import json

    docs_dir = str(tmp_path / "docs")
    spark.read.parquet(f"{SF_DIR}/documents.parquet").filter(
        F.col("doc_id") % 4 == 0
    ).write.parquet(docs_dir)

    def run(out_dir, seed):
        cfg = {
            "input": {"format": "parquet", "path": docs_dir},
            "dedup": {"exact": True},
            "chunk": {"chunk_tokens": 64, "overlap_tokens": 0},
            "pack": {"max_tokens": 256},
            "output": {"dir": out_dir, "n_shards": 4, "shuffle_seed": seed},
        }
        res = run_corpus_pipeline(spark, cfg)
        res.unpersist_all()
        rows = [
            (r["file"], r["chunk_uid"])
            for r in spark.read.parquet(out_dir)
            .withColumn("file", F.element_at(F.split(F.input_file_name(), "/"), -1))
            .select("file", "chunk_uid")
            .collect()
        ]
        return res, sorted(rows)

    res_a, a = run(str(tmp_path / "s1"), 7)
    _res_b, b = run(str(tmp_path / "s2"), 7)
    _res_c, c = run(str(tmp_path / "s3"), 8)
    # same seed: identical chunk set AND identical shard assignment
    assert [x[1] for x in a] == [x[1] for x in b]
    assert len({x[1] for x in a}) == len(a)  # lossless, no dup chunks
    # different seed: same chunk set, different interleaving somewhere
    assert sorted(x[1] for x in a) == sorted(x[1] for x in c)
    ka = {uid: f for f, uid in a}
    kc = {uid: f for f, uid in c}
    assert any(ka[u] != kc[u] for u in ka)
    # manifest: provenance + the real file listing
    man = json.loads((tmp_path / "s1" / "_MANIFEST.json").read_text())
    assert man["shuffle_seed"] == 7
    assert man["counts"]["chunks_packed"] == len(a)
    names = {f["name"] for f in man["files"]}
    assert names == {f for f, _ in a} and all(
        fobj["bytes"] > 0 for fobj in man["files"]
    )


def test_mixture_upsampling_epochs_flow_through_chunking(spark, tmp_path):
    """allow_upsample repeats scarce sources as whole epochs; the chunk
    stage folds epoch into the chunk id, so repeats survive packing and
    shard export with UNIQUE chunk_uids (no silent collapse)."""
    docs_dir = str(tmp_path / "docs")
    spark.read.parquet(f"{SF_DIR}/documents.parquet").write.parquet(docs_dir)
    zh_tokens = (
        spark.read.parquet(docs_dir)
        .filter(F.col("lang") == "zh")
        .select(F.sum(F.size(F.split("text", r"\s+"))).alias("t"))
        .collect()[0]["t"]
    )
    out_dir = str(tmp_path / "shards")
    cfg = {
        "input": {"format": "parquet", "path": docs_dir},
        "dedup": {"exact": True},
        "mixture": {
            "weights": {"zh": 1.0},
            "total_tokens": int(zh_tokens * 2.5),  # forces ~2.5 epochs
            "allow_upsample": True,
        },
        "chunk": {"chunk_tokens": 64, "overlap_tokens": 0},
        "pack": {"max_tokens": 256},
        "output": {"dir": out_dir, "n_shards": 2, "shuffle_seed": 1},
    }
    res = run_corpus_pipeline(spark, cfg)
    n_zh = (
        spark.read.parquet(docs_dir).filter(F.col("lang") == "zh").count()
    )
    # upsampled: more mixed rows than distinct zh docs, epochs present
    assert res.counts["mixed"] > n_zh
    assert "epoch" in res.docs.columns
    assert res.docs.agg(F.max("epoch")).collect()[0][0] >= 1
    # every chunk row keeps a unique uid through pack + shard export
    back = spark.read.parquet(out_dir)
    assert back.count() == res.counts["chunks_packed"]
    assert back.select("chunk_uid").distinct().count() == back.count()
    # repeats really are on disk: epoch-0 and epoch-1 copies of some doc
    eids = [r[0] for r in back.select((F.col("chunk_uid") / 1_000_000)
            .cast("long").alias("e")).distinct().collect()]
    doc_epochs = {}
    for e in eids:
        doc_epochs.setdefault(e // 256, set()).add(e % 256)
    assert any(len(v) >= 2 for v in doc_epochs.values())
    res.unpersist_all()


def test_langid_fill_timings_and_report(spark, tmp_path):
    """langid fills only ABSENT language tags (row-local, before the
    lang-keyed stages); every executed ticked stage reports wall time;
    report=True attaches the dataset-card summary of the final docs."""
    docs_dir = str(tmp_path / "docs")
    base = spark.read.parquet(f"{SF_DIR}/documents.parquet").filter(
        F.col("doc_id") % 6 == 0
    )
    # strip the tag from half the docs
    base.withColumn(
        "lang",
        F.when(F.col("doc_id") % 2 == 0, F.col("lang")).otherwise(
            F.lit(None).cast("string")
        ),
    ).write.parquet(docs_dir)
    cfg = {
        "input": {"format": "parquet", "path": docs_dir},
        "langid": True,
        "dedup": {"exact": True},
        "report": True,
    }
    res = run_corpus_pipeline(spark, cfg)
    # no doc is left untagged; pre-tagged docs keep their original tag
    assert res.docs.filter(F.col("lang").isNull()).count() == 0
    kept = res.docs.filter(F.col("doc_id") % 2 == 0).select("doc_id", "lang")
    orig = base.filter(F.col("doc_id") % 2 == 0).select("doc_id", "lang")
    assert sorted(map(tuple, kept.collect())) == sorted(
        map(tuple, orig.collect())
    )
    assert set(res.timings) == {"ingested", "exact_dedup"}
    assert all(v >= 0 for v in res.timings.values())
    assert res.report["n_docs"] == res.counts["exact_dedup"]
    assert res.report["total_tokens"] > 0
    res.unpersist_all()


def test_checkpoint_stage_typo_fails_loud(spark, tmp_path):
    docs_dir = str(tmp_path / "docs")
    spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(20).write.parquet(
        docs_dir
    )
    cfg = {
        "input": {"format": "parquet", "path": docs_dir},
        "dedup": {"exact": True},
        "checkpoint": {"dir": str(tmp_path / "ck"),
                       "stages": ["exact_dedupe"]},  # typo'd
    }
    with pytest.raises(ValueError, match="match no enabled stage"):
        run_corpus_pipeline(spark, cfg)


def test_stage_failure_releases_pins(spark, tmp_path):
    """A mid-chain stage failure must not strand persisted frames."""
    docs_dir = str(tmp_path / "docs")
    spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(20).write.parquet(
        docs_dir
    )
    before = len([r for r in spark.sparkContext._jsc.sc()
                  .getRDDStorageInfo()])
    cfg = {
        "input": {"format": "parquet", "path": docs_dir},
        "dedup": {"exact": True},
        # decontaminate points at a nonexistent path -> stage build throws
        "decontaminate": {"path": str(tmp_path / "missing")},
    }
    with pytest.raises(Exception):
        run_corpus_pipeline(spark, cfg)
    after = len([r for r in spark.sparkContext._jsc.sc()
                 .getRDDStorageInfo()])
    assert after <= before


def test_torn_checkpoint_resumes_from_previous_commit(spark, tmp_path):
    """Crash between a stage's parquet write and its marker create: the
    data files exist but are invisible to resume (no marker), so the
    rerun restarts from the PREVIOUS committed stage, recomputes the
    torn one, and recommits it — same counts as the clean run."""
    import os as _os

    docs_dir = str(tmp_path / "docs")
    spark.read.parquet(f"{SF_DIR}/documents.parquet").filter(
        F.col("doc_id") % 3 == 1
    ).write.parquet(docs_dir)
    cfg = _ck_cfg(docs_dir, str(tmp_path / "ck"))
    r1 = run_corpus_pipeline(spark, cfg)
    r1.unpersist_all()

    ck = cfg["checkpoint"]["dir"]
    stages = sorted(_os.listdir(ck))
    last = stages[-1]
    marker = _os.path.join(ck, last, "_STAGE_COMMITTED.json")
    assert _os.path.exists(marker)
    _os.remove(marker)  # the torn commit

    r2 = run_corpus_pipeline(spark, cfg)
    # resumed from the stage BEFORE the torn one
    assert r2.resumed_from is not None
    assert f"_{r2.resumed_from}" in stages[-2]
    assert r2.counts == r1.counts
    assert _os.path.exists(marker)  # recommitted
    r2.unpersist_all()


def test_warc_chain_densify_ids_unlocks_chunk_export(spark, tmp_path):
    """Hash-minted WARC ids are too wide for chunk-uid arithmetic: the
    guard must fail loud WITHOUT chunk.densify_ids and the chain must
    complete (lossless shards + provenance column) WITH it."""
    import gzip

    def rec(body, url):
        http = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + body
        h = [b"WARC/1.0", b"WARC-Type: response",
             b"WARC-Target-URI: " + url.encode(),
             b"Content-Type: application/http;msgtype=response",
             b"Content-Length: " + str(len(http)).encode()]
        return b"\r\n".join(h) + b"\r\n\r\n" + http + b"\r\n\r\n"

    blob = b"".join(
        rec(("<html><body>the page number %d has the usual words and "
             "some more of the usual words</body></html>" % i).encode(),
            f"http://w.example/{i}")
        for i in range(6)
    )
    (tmp_path / "a.warc.gz").write_bytes(gzip.compress(blob))
    base = {
        "input": {"format": "warc", "path": str(tmp_path)},
        "normalize": False,
        "chunk": {"chunk_tokens": 8, "overlap_tokens": 2},
        "pack": {"max_tokens": 32},
    }
    with pytest.raises(ValueError, match="densify_ids"):
        run_corpus_pipeline(spark, base)
    cfg = dict(base)
    cfg["chunk"] = dict(base["chunk"], densify_ids=True)
    cfg["output"] = {"dir": str(tmp_path / "shards"), "n_shards": 2}
    res = run_corpus_pipeline(spark, cfg)
    back = spark.read.parquet(str(tmp_path / "shards"))
    assert back.count() == res.packed.count() > 0
    # shards carry DENSE chunk ids (0..5 doc range) plus the original
    # hash-minted id as provenance (carried row-locally, no re-join)
    assert sorted(
        r["doc_id"] for r in back.select("doc_id").distinct().collect()
    ) == list(range(6))
    src_ids = {r["doc_id_src"] for r in back.select("doc_id_src").collect()}
    assert len(src_ids) == 6 and all(i >= 2**40 for i in src_ids)
    # dense <-> source mapping is order-preserving and 1:1
    pairs = {
        (r["doc_id"], r["doc_id_src"])
        for r in back.select("doc_id", "doc_id_src").collect()
    }
    assert len(pairs) == 6
    assert [p[1] for p in sorted(pairs)] == sorted(src_ids)


def test_language_major_struct_key_jsonl_export(spark, tmp_path):
    """The r11 struct shard key (part_col, bin_id) must survive the gzip
    JSONL export path: range partitioning and within-file ordering work
    on the struct, and it serializes as a JSON object per row."""
    import glob
    import gzip
    import json

    out_dir = str(tmp_path / "shards")
    res = run_corpus_pipeline(
        spark,
        {
            "input": {"format": "parquet",
                      "path": f"{SF_DIR}/documents.parquet"},
            "chunk": {"chunk_tokens": 64, "overlap_tokens": 16},
            "pack": {"max_tokens": 256},
            "output": {"dir": out_dir, "n_shards": 2, "format": "jsonl"},
        },
    )
    rows = []
    for f in glob.glob(f"{out_dir}/*.json.gz"):
        with gzip.open(f, "rt") as fh:
            rows += [json.loads(line) for line in fh]
    assert len(rows) == res.packed.count() > 0
    ks = rows[0]["shard_key"]
    assert isinstance(ks, dict) and set(ks) == {"part", "bin"}
    # language-major: within each file, keys are sorted part-first
    for f in glob.glob(f"{out_dir}/*.json.gz"):
        with gzip.open(f, "rt") as fh:
            parsed = [json.loads(line)["shard_key"] for line in fh]
        keys = [(p["part"], p["bin"]) for p in parsed]
        assert keys == sorted(keys), f


def test_upsampled_epochs_with_densify_ids(spark, tmp_path):
    """epoch x densify interaction (untested until r11): an upsampled
    corpus repeats each doc once per epoch, so densify ranks on
    (id, epoch) ties — every (doc, epoch) copy must mint its own dense
    id, chunk_uids stay unique through the 256x epoch fold, and the
    provenance column maps every dense id back to its wide source id."""
    docs_dir = str(tmp_path / "docs")
    # wide (hash-minted-shaped) ids force the densify path
    spark.read.parquet(f"{SF_DIR}/documents.parquet").withColumn(
        "doc_id", F.col("doc_id") * F.lit(2**40) + 7
    ).write.parquet(docs_dir)
    zh_tokens = (
        spark.read.parquet(docs_dir)
        .filter(F.col("lang") == "zh")
        .select(F.sum(F.size(F.split("text", r"\s+"))).alias("t"))
        .collect()[0]["t"]
    )
    out_dir = str(tmp_path / "shards")
    cfg = {
        "input": {"format": "parquet", "path": docs_dir},
        "mixture": {
            "weights": {"zh": 1.0},
            "total_tokens": int(zh_tokens * 2.5),
            "allow_upsample": True,
        },
        "chunk": {"chunk_tokens": 64, "overlap_tokens": 0,
                  "densify_ids": True},
        "pack": {"max_tokens": 256},
        "output": {"dir": out_dir, "n_shards": 2},
    }
    # without densify the wide ids must fail loud at the uid guard
    no_densify = {**cfg, "chunk": {"chunk_tokens": 64, "overlap_tokens": 0}}
    with pytest.raises(ValueError, match="densify_ids"):
        run_corpus_pipeline(spark, no_densify)
    res = run_corpus_pipeline(spark, cfg)
    back = spark.read.parquet(out_dir)
    assert back.count() == res.counts["chunks_packed"] > 0
    # unique uids across all epoch copies
    assert back.select("chunk_uid").distinct().count() == back.count()
    # epoch path exports the folded id as __cid = dense*256 + epoch;
    # provenance: every folded id maps 1:1 to ONE wide source id, and
    # some wide id appears under >=2 folded ids (its epoch copies)
    pairs = back.select("__cid", "doc_id_src").distinct().collect()
    cid_to_src = {}
    for r in pairs:
        cid_to_src.setdefault(r["__cid"], set()).add(r["doc_id_src"])
    assert all(len(v) == 1 for v in cid_to_src.values())
    src_counts: dict = {}
    for v in cid_to_src.values():
        (s,) = v
        src_counts[s] = src_counts.get(s, 0) + 1
    assert any(c >= 2 for c in src_counts.values())
    assert all(s >= 2**40 for s in src_counts)
    res.unpersist_all()


def test_c4_gate_cleans_lines_and_drops_pages(spark, tmp_path):
    """The optional C4 gate (Raffel et al. 2020 §2.2): line-level cleanup
    rewrites surviving docs to their kept lines; page rules drop brace /
    lorem-ipsum / under-sentenced pages; the stage ticks its counter."""
    five_ok = "\n".join(
        f"This is a perfectly good sentence number {i}." for i in range(5)
    )
    rows = [
        # survives: 5 clean sentences + one droppable line
        (1, five_ok + "\nEnable Javascript to see this content.", "en"),
        # dropped: brace page
        (2, five_ok + "\nfunction f() { return; }", "en"),
        # dropped: lorem ipsum placeholder page
        (3, five_ok + "\nLorem ipsum dolor sit amet today.", "en"),
        # dropped: cleaned text keeps < 5 sentences
        (4, "Only this one line survives the cleanup.", "en"),
    ]
    src = str(tmp_path / "docs")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string"
    ).write.parquet(src)
    cfg = {
        "input": {"format": "parquet", "path": src},
        "normalize": False,
        "gates": {"c4": True},
        "dedup": {"exact": False},
        "chunk": {"chunk_tokens": 16, "overlap_tokens": 0},
        "pack": {"max_tokens": 64},
        "output": {"dir": str(tmp_path / "shards"), "n_shards": 1},
    }
    res = run_corpus_pipeline(spark, cfg)
    assert res.counts["ingested"] == 4
    assert res.counts["c4_gate"] == 1
    kept = res.docs.collect()
    assert [r.doc_id for r in kept] == [1]
    # the droppable Javascript line is gone; the five sentences remain
    assert "Javascript" not in kept[0].text
    assert kept[0].text == five_ok


def test_retrieval_decontaminate_stage_drops_search_hits(spark, tmp_path):
    """Decontamination-by-search (r12 verdict stretch directive): the
    stage indexes the surviving corpus, probes it with every benchmark
    item in one postings pass, and drops the retrieved documents —
    catching paraphrase-level leakage the shingle stage misses (no 8-gram
    is shared below, but the term profile retrieves the source)."""
    docs = spark.createDataFrame(
        [
            (1, "the solar eclipse darkened the ancient citadel at noon",
             "en"),
            (2, "quarterly revenue grew despite headwinds in logistics",
             "en"),
            (3, "completely unrelated text about cooking pasta sauces",
             "en"),
        ],
        "doc_id long, text string, lang string",
    )
    src = str(tmp_path / "docs")
    docs.write.parquet(src)
    # paraphrase of doc 1: word ORDER differs everywhere (no shared
    # 8-gram), term profile nearly identical
    bench = spark.createDataFrame(
        [(100, "at noon the ancient citadel darkened during the solar "
               "eclipse")],
        "doc_id long, text string",
    )
    bpath = str(tmp_path / "bench")
    bench.write.parquet(bpath)
    cfg = {
        "input": {"format": "parquet", "path": src},
        "retrieval_decontaminate": {
            "path": bpath, "k": 1, "min_score": 0.1, "report": True,
            "index_dir": str(tmp_path / "ridx"),
            # the production default (0.2) is calibrated for real
            # corpora; on a 3-doc fixture every term exceeds it
            "max_df_frac": 1.0,
        },
    }
    res = run_corpus_pipeline(spark, cfg)
    kept = sorted(r.doc_id for r in res.docs.select("doc_id").collect())
    assert kept == [2, 3]
    hits = res.retrieval_contamination.collect()
    assert [(r.query_id, r.doc_id) for r in hits] == [(100, 1)]
    assert res.counts["retrieval_decontaminated"] == 2
    res.unpersist_all()

    # fingerprint contract: audit/storage knobs never invalidate a
    # checkpointed run; semantics knobs do
    from hrdp_variant_load_pipeline_spark.plans.corpus_pipeline import (
        _cfg_fingerprint,
    )

    base = _cfg_fingerprint(cfg)
    cfg2 = {**cfg, "retrieval_decontaminate": {
        **cfg["retrieval_decontaminate"], "report": False,
        "index_dir": "/elsewhere"}}
    assert _cfg_fingerprint(cfg2) == base
    cfg3 = {**cfg, "retrieval_decontaminate": {
        **cfg["retrieval_decontaminate"], "k": 5}}
    assert _cfg_fingerprint(cfg3) != base


def test_fuzzy_cluster_canonical_and_skew_config(spark, tmp_path):
    """dedup.fuzzy.canonical='cluster' keeps ONE doc (min id) per
    connected near-dup component — transitive chains collapse where
    pair mode keeps local minima — and the chain's top-level `skew:`
    config routes the CC rounds without changing a single surviving
    row."""
    base = "alpha bravo charlie delta echo foxtrot golf hotel india"
    rows = []
    # a transitive near-dup chain: d0~d1, d1~d2 (d0 vs d2 more distant)
    rows.append((0, base + " juliet kilo lima", "en"))
    rows.append((1, base + " juliet kilo mike", "en"))
    rows.append((2, base + " juliet november mike", "en"))
    # an unrelated singleton
    rows.append((3, "totally different words about completely other things", "en"))
    src = str(tmp_path / "docs")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string"
    ).write.parquet(src)

    def run(canonical, skew=None):
        cfg = {
            "input": {"format": "parquet", "path": src},
            "dedup": {"fuzzy": {"threshold": 0.5, "canonical": canonical}},
        }
        if skew is not None:
            cfg["skew"] = skew
        res = run_corpus_pipeline(spark, cfg)
        ids = {r.doc_id for r in res.docs.select("doc_id").collect()}
        res.unpersist_all()
        return ids

    cluster_ids = run("cluster")
    assert 0 in cluster_ids and 3 in cluster_ids
    assert cluster_ids == run(
        "cluster", skew={"salt": 4, "hot_threshold_frac": 0.2}
    )
    pair_ids = run("pair")
    # pair mode drops the greater id of each matched pair; cluster mode
    # additionally collapses any transitive closure to its minimum
    assert cluster_ids <= pair_ids
    import pytest as _pytest

    with _pytest.raises(ValueError, match="canonical"):
        run("bogus")


def test_chain_runs_leave_no_snapshot_persisted(spark, tmp_path):
    """After ``unpersist_all()`` a chain run leaves no RDD persisted that
    was not persisted before it: the LM gate's count/score snapshots, DSIR's
    bucket-count snapshots and the fuzzy stage's pair set (plus, in
    cluster mode, the final label round) go through the stage's scratch
    registry and are released after its boundary. Two runs per fuzzy
    mode, so snapshots cannot pile up across runs in one session. (The
    set may SHRINK meanwhile: the context cleaner frees garbage-collected
    frames of earlier tests.)"""
    sc = spark.sparkContext

    def persisted_ids():
        return {int(k) for k in sc._jsc.getPersistentRDDs().keySet().toArray()}

    base = persisted_ids()
    for canonical in ("pair", "cluster"):
        cfg = {
            "input": {"format": "parquet", "path": f"{SF_DIR}/documents.parquet"},
            "dedup": {
                "exact": True,
                "fuzzy": {"threshold": 0.8, "canonical": canonical},
            },
            "lm_gate": {"min_count": 2},
            "selection": {"dsir": {
                "target_lang": "en", "n_buckets": 64, "keep_fraction": 0.6,
            }},
        }
        for _ in range(2):
            res = run_corpus_pipeline(spark, cfg)
            assert res.counts["dsir_selected"] > 0
            res.unpersist_all()
            assert persisted_ids() - base == set(), canonical


def test_semantic_decontaminate_catches_rewrites(spark, tmp_path):
    """Stage 6c (r14): TF-IDF-cosine decon drops a REWRITE — same
    weighted bag of words, reordered and lightly edited, so shingle
    overlap is low — keeps unrelated docs, matches a benchmark item
    whose id COLLIDES with a doc_id (the negative bench-id mapping),
    and attaches the hits report. The report flag stays out of the
    checkpoint fingerprint."""
    from hrdp_variant_load_pipeline_spark.plans.corpus_pipeline import (
        _cfg_fingerprint,
    )

    bench_text = (
        "quantum widgets accelerate turbine maintenance schedules "
        "across offshore platforms during winter inspections"
    )
    # rewrite: same content words, different order + two swaps — 3-gram
    # shingles share almost nothing, cosine stays high
    rewrite = (
        "during winter inspections offshore platforms accelerate "
        "turbine maintenance schedules across quantum widgets"
    )
    rows = [
        (7, rewrite, "en"),  # doc_id 7 == bench id 7: must still match
        (8, "completely unrelated prose about gardening and soup", "en"),
    ]
    src = str(tmp_path / "docs")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string"
    ).write.parquet(src)
    bdir = str(tmp_path / "bench")
    spark.createDataFrame(
        [(7, bench_text)], "doc_id long, text string"
    ).write.parquet(bdir)

    cfg = {
        "input": {"format": "parquet", "path": src},
        "dedup": {"exact": False},
        "semantic_decontaminate": {
            "path": bdir, "min_cosine": 0.8, "report": True,
        },
    }
    from hrdp_variant_load_pipeline_spark.plans.corpus_pipeline import (
        run_corpus_pipeline,
    )

    res = run_corpus_pipeline(spark, cfg)
    ids = {r.doc_id for r in res.docs.select("doc_id").collect()}
    assert ids == {8}  # the rewrite is gone, the unrelated doc stays
    hits = res.semantic_contamination.collect()
    assert len(hits) == 1 and hits[0].id_a == 7 and hits[0].cosine >= 0.8
    res.unpersist_all()

    # the shingle stage at the same time would NOT have caught it
    from hrdp_variant_load_pipeline_spark.operators.corpus import (
        decontaminate,
    )

    docs_df = spark.read.parquet(src)
    bench_df = spark.read.parquet(bdir)
    kept = decontaminate(docs_df, bench_df, "doc_id", "text", n=8)
    assert {r.doc_id for r in kept.select("doc_id").collect()} == {7, 8}

    # fingerprint: report toggles freely, min_cosine does not
    base_fp = _cfg_fingerprint(cfg)
    cfg2 = dict(cfg)
    cfg2["semantic_decontaminate"] = {
        **cfg["semantic_decontaminate"], "report": False,
    }
    assert _cfg_fingerprint(cfg2) == base_fp
    cfg3 = dict(cfg)
    cfg3["semantic_decontaminate"] = {
        **cfg["semantic_decontaminate"], "min_cosine": 0.5,
    }
    assert _cfg_fingerprint(cfg3) != base_fp


def test_release_blocks_frees_checkpoint_storage(spark):
    """r15 ADVICE closure: runtime.release must free the executor blocks
    behind BOTH persist() frames and snapshot frames (eager and lazy) —
    Dataset.unpersist alone only reaches the CacheManager, so checkpoint
    RDD blocks otherwise linger until driver GC."""
    from hrdp_variant_load_pipeline_spark.runtime import release, snapshot

    sc = spark.sparkContext

    def persisted_ids():
        return {int(k) for k in sc._jsc.getPersistentRDDs().keySet().toArray()}

    base = persisted_ids()
    frames = [
        spark.range(100).selectExpr("id", "id * 2 AS x").persist(),
        snapshot(spark.range(100).selectExpr("id", "id * 3 AS x"), reliable=False),
        snapshot(
            spark.range(100).selectExpr("id", "id * 5 AS x"),
            eager=False,
            reliable=False,
        ),
    ]
    for df in frames:
        df.count()  # materialize blocks (lazy forms included)
    assert len(persisted_ids() - base) >= 3
    release(*frames)
    assert persisted_ids() - base == set()


def test_semantic_stage_releases_vector_snapshots(spark, tmp_path):
    """The semantic stage's vocab + corpus-vector snapshots (lazy
    localCheckpoints) must be released once the stage boundary
    materializes — a long-lived session running many pipelines must not
    accumulate corpus-sized blocks (r15 ADVICE). Only the stage
    boundary's own pinned frame may remain, and unpersist_all clears
    that."""
    from hrdp_variant_load_pipeline_spark.plans.corpus_pipeline import (
        run_corpus_pipeline,
    )

    rows = [(i, f"alpha beta gamma delta epsilon doc{i}", "en")
            for i in range(30)]
    src = str(tmp_path / "docs")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string"
    ).write.parquet(src)
    bdir = str(tmp_path / "bench")
    spark.createDataFrame(
        [(3, "alpha beta gamma delta epsilon doc3")],
        "doc_id long, text string",
    ).write.parquet(bdir)

    sc = spark.sparkContext

    def persisted_ids():
        return {int(k) for k in sc._jsc.getPersistentRDDs().keySet().toArray()}

    base = persisted_ids()
    res = run_corpus_pipeline(spark, {
        "input": {"format": "parquet", "path": src},
        "dedup": {"exact": False},
        "semantic_decontaminate": {"path": bdir, "min_cosine": 0.9},
    })
    assert {r.doc_id for r in res.docs.select("doc_id").collect()} == (
        set(range(30)) - {3}
    )
    res.unpersist_all()
    leaked = persisted_ids() - base
    # tolerated survivors, both bounded by the BENCHMARK size (never
    # the corpus): the hits checkpoint (handed to the caller when
    # report=True) and sparse_cosine_candidates' internal probe-set
    # snapshot (max_probe_terms rows per bench item). The corpus-sized
    # snapshots (vocab, a_vecs) must be gone — that is the r15 ADVICE
    # this pins.
    assert len(leaked) <= 2, leaked
