"""JSONL corpus ingest with quarantine + shard export (sources/corpus_io)."""

from __future__ import annotations

import gzip
import os

from pyspark.sql import functions as F

from hrdp_variant_load_pipeline_spark.sources.corpus_io import (
    read_jsonl_docs,
    write_shards,
)


def _write_corpus(tmp_path):
    root = tmp_path / "jsonl" / "part=0"
    root.mkdir(parents=True)
    good = [
        '{"doc_id": 1, "text": "hello world", "lang": "en"}',
        '{"doc_id": 2, "text": "hallo welt", "lang": "de"}',
    ]
    bad = [
        '{"doc_id": 3, "text": "truncated',  # cut mid-string
        "not json at all",
    ]
    with gzip.open(root / "a.jsonl.gz", "wt") as f:
        f.write("\n".join(good[:1] + bad[:1]) + "\n")
    with open(root / "b.jsonl", "w") as f:
        f.write("\n".join(good[1:] + bad[1:]) + "\n")
    return str(tmp_path / "jsonl")


def test_read_jsonl_splits_good_and_quarantined(spark, tmp_path):
    path = _write_corpus(tmp_path)
    docs, quarantine = read_jsonl_docs(spark, path)
    got = {r.doc_id: (r.text, r.lang) for r in docs.collect()}
    assert got == {1: ("hello world", "en"), 2: ("hallo welt", "de")}
    raws = sorted(r.raw for r in quarantine.collect())
    # every damaged line is preserved verbatim for replay-after-repair
    assert raws == sorted(['{"doc_id": 3, "text": "truncated', "not json at all"])
    # accounting: nothing vanished
    assert docs.count() + quarantine.count() == 4


def test_write_shards_ranges_disjoint_and_ordered(spark, tmp_path):
    import pyarrow.parquet as pq

    df = spark.range(4000).selectExpr(
        "id % 40 AS bin_id", "id AS doc_id", "repeat('x', 10) AS payload"
    )
    out = str(tmp_path / "shards")
    write_shards(df, out, "bin_id", n_shards=4, order_col="doc_id")
    files = [f for f in os.listdir(out) if f.startswith("part-")]
    assert len(files) == 4
    ranges = []
    for f in files:
        md = pq.ParquetFile(os.path.join(out, f)).metadata
        cols = {md.schema.column(i).name: i for i in range(len(md.schema))}
        st = [
            md.row_group(g).column(cols["bin_id"]).statistics
            for g in range(md.num_row_groups)
        ]
        ranges.append((min(s.min for s in st), max(s.max for s in st)))
    ranges.sort()
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi <= lo, f"shard ranges overlap: {ranges}"
    back = spark.read.parquet(out)
    assert back.count() == 4000


def test_multimodal_embed_feeds_ann_operators(spark):
    """The multimodal -> similarity hand-off: payload embeddings flow
    straight into brute-force and IVF search; an identical payload under
    a new id finds its original as the top-1 neighbor at cosine ~1."""
    import os

    from hrdp_variant_load_pipeline_spark.operators.multimodal import (
        embed_payloads,
        with_binary_payload,
    )
    from hrdp_variant_load_pipeline_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
    )

    sf = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")
    docs = spark.read.parquet(os.path.join(sf, "documents.parquet")).limit(80)
    payloads = with_binary_payload(docs, "doc_id", "text")
    emb = embed_payloads(payloads).withColumnRenamed("doc_id", "vec_id")
    rows = emb.collect()
    assert all(len(r.embedding) == 64 for r in rows)
    assert all(abs(sum(x * x for x in r.embedding) - 1.0) < 1e-9 for r in rows)
    # determinism across evaluations
    assert {tuple(r.embedding) for r in rows} == {
        tuple(r.embedding) for r in emb.collect()
    }

    probe_src = docs.orderBy("doc_id").limit(3)
    probes = embed_payloads(
        with_binary_payload(
            probe_src.select((F.col("doc_id") + 100000).alias("doc_id"), "text"),
            "doc_id",
            "text",
        )
    ).withColumnRenamed("doc_id", "vec_id")
    want = {r.doc_id + 100000: r.doc_id for r in probe_src.collect()}
    for fn in (
        lambda: brute_force_topk(emb, probes, k=1),
        lambda: ivf_topk(emb, probes, n_centroids=4, nprobe=4, k=1),
    ):
        top = {r["query_id"]: r for r in fn().collect()}
        for qid, orig in want.items():
            assert top[qid]["neighbor_id"] == orig
            assert top[qid]["cosine"] > 0.9999


def test_corpus_report_scalars(spark):
    from hrdp_variant_load_pipeline_spark.sources.corpus_io import corpus_report

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox", "en"),
            (2, "the quick brown fox", "en"),  # exact dup
            (3, "der schnelle fuchs", "de"),
            (4, "", "en"),
        ],
        "doc_id long, text string, lang string",
    )
    r = corpus_report(df)
    assert r["n_docs"] == 4
    assert r["exact_dup_rate"] == round(1 - 3 / 4, 6)
    assert r["docs_per_lang"] == {"en": 3, "de": 1}
    assert r["tokens_p50"] is not None and r["total_tokens"] > 0
    # no lang column: section omitted, no error
    r2 = corpus_report(df.drop("lang"))
    assert "docs_per_lang" not in r2


def test_corpus_report_approx_matches_exact_shape(spark):
    import pytest
    """approx=True (the 100 TB shape: GK percentile sketch + HLL
    distinct) reports the same keys with values within sketch error of
    the exact pass."""
    from hrdp_variant_load_pipeline_spark.sources.corpus_io import (
        corpus_report,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    exact = corpus_report(docs)
    approx = corpus_report(docs, approx=True)
    assert exact.keys() == approx.keys()
    assert approx["n_docs"] == exact["n_docs"]
    assert approx["total_tokens"] == exact["total_tokens"]
    # HLL rsd=2%: allow 5x headroom; GK percentiles land on real values
    assert abs(approx["exact_dup_rate"] - exact["exact_dup_rate"]) <= 0.1
    for k in ("tokens_p50", "tokens_p90", "tokens_p99"):
        assert approx[k] == pytest.approx(exact[k], rel=0.1)


def test_write_shards_jsonl_roundtrip_with_manifest(spark, tmp_path):
    """jsonl export: gzip JSON-lines shards, lossless roundtrip, order
    preserved within files, manifest lists the json files."""
    import json

    from hrdp_variant_load_pipeline_spark.sources.corpus_io import (
        write_shards,
    )

    df = spark.range(200).selectExpr(
        "id AS uid", "id % 8 AS shard", "repeat('x', 5) AS text",
        "array(id, id + 1) AS toks",
        "CAST(NULL AS STRING) AS lang",  # all-null column must survive
    )
    out = str(tmp_path / "js")
    write_shards(
        df, out, "shard", n_shards=4, order_col="uid",
        manifest={"note": 1}, format="jsonl",
    )
    back = spark.read.json(out)
    assert back.count() == 200
    assert sorted(r["uid"] for r in back.select("uid").collect()) == list(
        range(200)
    )
    # arrays survive the JSON roundtrip
    row = back.filter(F.col("uid") == 5).collect()[0]
    assert row["toks"] == [5, 6]
    # null columns keep their key (ignoreNullFields off): the read-back
    # schema still carries lang, parquet-parity
    assert "lang" in back.columns and row["lang"] is None
    man = json.loads((tmp_path / "js" / "_MANIFEST.json").read_text())
    assert man["note"] == 1 and man["files"]
    assert all(f["name"].endswith((".json", ".json.gz")) for f in man["files"])
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown format"):
        write_shards(df, out, "shard", format="csvish")
