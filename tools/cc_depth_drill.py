"""Deep-chain connected-components drill: every in-repo fixture converges
the CC loop in ONE label-propagation round (near-dup clusters are
stars/pairs), so the loop's PER-ROUND costs are only ever measured at the
convergence-detection minimum. This drill stages path graphs — N disjoint
chains of length L, min label = chain head — where min-label propagation
needs L-1 rounds plus one detection round, and A/Bs the superseded
3-exchange round form (below) against the shipped union-form
``operators.dedup.connected_components`` (2 exchanges/round over
dst-prepartitioned edges) at that depth. Value identity is asserted on
every rep.

Usage: python tools/cc_depth_drill.py [N_CHAINS] [CHAIN_LEN] [REPS]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

_HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(_HERE))

from pyspark.sql import functions as F  # noqa: E402

from hrdp_variant_load_pipeline_spark.operators import dedup as DD  # noqa: E402
from hrdp_variant_load_pipeline_spark.runtime import release, snapshot  # noqa: E402
from hrdp_variant_load_pipeline_spark.session import get_spark  # noqa: E402


def cc_three_exchange_form(pairs, a_col="doc_a", b_col="doc_b", max_iter=25):
    """The superseded round shape (join + groupBy + label-carry join = 3
    node-sized exchanges/round, edges NOT pre-partitioned) — the
    in-session baseline the shipped union form is drilled against."""
    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionByName(
            pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
        )
        .distinct()
        .persist()
    )
    try:
        edges.count()
        labels = snapshot(
            edges.groupBy("src").agg(
                F.least(F.col("src"), F.min("dst")).alias("label")
            ).select(F.col("src").alias("node"), "label"),
            reliable=False,
        )
        prev_round = labels
        for _ in range(max_iter):
            neighbor_min = (
                edges.join(labels, edges.dst == labels.node)
                .groupBy("src")
                .agg(F.min("label").alias("nmin"))
            )
            stepped = snapshot(
                labels.join(
                    neighbor_min, labels.node == neighbor_min.src, "left"
                ).select(
                    "node",
                    F.col("label").alias("__old"),
                    F.least(
                        F.col("label"),
                        F.coalesce(F.col("nmin"), F.col("label")),
                    ).alias("label"),
                ),
                eager=False,
                reliable=False,
            )
            changed = (
                stepped.filter(F.col("__old") != F.col("label")).limit(1).count()
            )
            labels = stepped.drop("__old")
            release(prev_round)
            prev_round = stepped
            if changed == 0:
                break
    finally:
        release(edges)
    return labels.select(F.col("node").alias("doc"), F.col("label").alias("cluster"))


N_CHAINS = int(sys.argv[1]) if len(sys.argv) > 1 else 150_000
CHAIN_LEN = int(sys.argv[2]) if len(sys.argv) > 2 else 16
REPS = int(sys.argv[3]) if len(sys.argv) > 3 else 2


def main() -> None:
    spark = get_spark("cc_depth_drill")
    # parallelism-shaped shuffle partitions, same rule as the bench
    # profile for sub-GiB inputs
    spark.conf.set(
        "spark.sql.shuffle.partitions", spark.sparkContext.defaultParallelism
    )
    # chains: node ids c*CHAIN_LEN + j, edges (id, id+1) within a chain;
    # written to parquet so every rep re-reads identical, GC-free input
    edges_path = f"/tmp/cc_depth_{N_CHAINS}x{CHAIN_LEN}.parquet"
    import os

    if not os.path.exists(edges_path):
        (
            spark.range(N_CHAINS * CHAIN_LEN)
            .filter((F.col("id") % CHAIN_LEN) != CHAIN_LEN - 1)
            .select(
                F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
            )
            .write.parquet(edges_path)
        )
    pairs = spark.read.parquet(edges_path)
    n = pairs.count()
    max_iter = CHAIN_LEN + 4
    print(
        f"# chains={N_CHAINS} len={CHAIN_LEN} edges={n} "
        f"expected rounds≈{CHAIN_LEN - 1}+1 detection",
        file=sys.stderr,
    )

    def run(fn, tag):
        t0 = time.perf_counter()
        out = fn(pairs)
        # cheap value digest (collect of N_CHAINS*CHAIN_LEN rows is
        # driver-heavy at this size): per-cluster count + checksum
        dig = sorted(
            map(
                tuple,
                out.groupBy()
                .agg(
                    F.count("*"),
                    F.count_distinct("cluster"),
                    F.sum(F.col("cluster") * 2654435761 % 1000000007),
                )
                .collect(),
            )
        )
        el = time.perf_counter() - t0
        print(f"# {tag}: {el:.3f}s digest={dig}", file=sys.stderr)
        return el, dig

    cur_t, old_t, ref = [], [], None
    for _ in range(REPS):
        eo, do = run(
            lambda p: cc_three_exchange_form(p, max_iter=max_iter), "3-exchange"
        )
        ec, dc = run(
            lambda p: DD.connected_components(p, max_iter=max_iter),
            "union-form",
        )
        ref = ref or do
        assert do == ref and dc == ref, "VALUE MISMATCH between CC forms"
        old_t.append(eo)
        cur_t.append(ec)
    rounds = CHAIN_LEN  # L-1 propagation + 1 detection
    print(
        f"RESULT depth={CHAIN_LEN} edges={n} rounds~{rounds}\n"
        f"RESULT 3-exchange best={min(old_t):.3f} per-round~"
        f"{min(old_t) / rounds:.3f} all={[round(t, 3) for t in old_t]}\n"
        f"RESULT union-form best={min(cur_t):.3f} per-round~"
        f"{min(cur_t) / rounds:.3f} all={[round(t, 3) for t in cur_t]}"
    )
    spark.stop()


if __name__ == "__main__":
    main()
