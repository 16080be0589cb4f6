"""sf0.1 -> sf1 scaling spot-bench for the candidate-generation family.

VERDICT.md r3 item 5: convert the 100 TB design story into at least one
order-of-magnitude scaling measurement. Times the dedup/similarity ops
whose scale posture rests on bucketed/banded candidate generation at the
driver's sf0.1 and at the 10x synthetic corpus from tools/gen_stress.py
(documents 5k -> 50k rows, embeddings 2k -> 20k rows), and prints
per-op wall seconds + the scaling ratio. A bucketed path should scale
~linearly in rows + collisions; an accidental all-pairs path would show
a ~100x blowup — that cliff is what this harness exists to catch.

The registered dedup ids cap their corpus at doc_id < 200 (the
oracle-sized fixture), so the dedup rows call the frame functions of
operators/dedup.py instead, on the FULL documents table with its
footer row count as the scale gate's bound. The session comes from
`session.get_spark` (SPARK_GRAFT_CPUS, SPARK_DRIVER_MEM).

Usage: python tools/stress_bench.py [--sf01 /root/testdata/sf0.1]
       [--sf1 /tmp/stress_sf1]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _uncapped_docs(spark, sf_dir):
    from census_postgres_py_spark.tables import t

    # The synthetic corpus is ONE ~5 MB parquet file -> 2 input splits,
    # which serializes the tokenize+shingle scan on 2 of 32 cores (a
    # cluster reading 100 TB gets its parallelism from file splits for
    # free; a one-file fixture has to manufacture it).
    return (
        t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )


def _uncapped(fn):
    """Registry-shaped (spark, sf_dir) call of a dedup frame function
    over the full corpus (no mutation generations — the stress corpus
    has planted near-dups of its own)."""
    from census_postgres_py_spark import stats

    return lambda spark, sf_dir: fn(
        _uncapped_docs(spark, sf_dir), stats.rows(sf_dir, "documents")
    )


def _scaling(spark, name, fn, base_dir, big_dir) -> dict[str, float]:
    """Wall seconds of ``fn`` to a noop sink at both scales, and their
    ratio."""
    row = {}
    for label, sf_dir in (("sf0.1", base_dir), ("sf1", big_dir)):
        t0 = time.time()
        fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        row[label] = round(time.time() - t0, 3)
        print(f"{name} @ {label}: {row[label]:.2f}s", flush=True)
    row["ratio"] = round(row["sf1"] / row["sf0.1"], 2)
    print(f"{name} scaling ratio (10x rows): {row['ratio']}x", flush=True)
    return row


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf01", default="/root/testdata/sf0.1")
    ap.add_argument("--sf1", default="/tmp/stress_sf1")
    ap.add_argument("--heaps01", default="/tmp/stress_heaps_1x")
    ap.add_argument("--heaps1", default="/tmp/stress_heaps_10x")
    args = ap.parse_args()

    from census_postgres_py_spark import registry
    from census_postgres_py_spark.operators import dedup
    from census_postgres_py_spark.session import get_spark

    spark = get_spark("stress-bench")
    spark.sparkContext.setLogLevel("ERROR")

    qs = registry.all_queries()
    runs = [
        ("dedup_minhash", _uncapped(dedup.minhash)),
        ("dedup_simhash", _uncapped(dedup.simhash)),
        ("dedup_embedding_cosine", qs["dedup_embedding_cosine"]),
        ("join_similarity_ivf", qs["join_similarity_ivf"]),
        ("pipeline_dedup_cc", _uncapped(dedup.survivors)),
        # r5 VERDICT item 4: the prefix-filtered signature-cosine path
        ("dedup_tfidf_cosine", qs["dedup_tfidf_cosine"]),
        # r5 VERDICT item 6: the heavy-headline non-dedup families.
        # gen_stress grows orders/lineitem AND the part key space 10x
        # (empirical basket-size histogram), so the co-purchase graph
        # keeps its per-part degree like real TPC-H sf0.1 -> sf1.
        ("graph_triangle_count", qs["graph_triangle_count"]),
        ("join_bipartite_projection", qs["join_bipartite_projection"]),
        ("graph_pagerank_iter", qs["graph_pagerank_iter"]),
        ("agg_basket_lift", qs["agg_basket_lift"]),
        ("join_complement_rank", qs["join_complement_rank"]),
        ("stream_windowed_topk", qs["stream_windowed_topk"]),
        # r6: the bounded-state sessionizer (open-session-tail state
        # + event-time timeout eviction) against 10x events — the
        # scale axis its r5 full-history predecessor would have
        # failed (work per user was O(batches x history)).
        ("stream_sessionize_state", qs["stream_sessionize_state"]),
    ]
    # one warm-up pass so JVM/Arrow first-touch isn't in either side
    runs[0][1](spark, args.sf01).write.mode("overwrite").format(
        "noop"
    ).save()
    results = {
        name: _scaling(spark, name, fn, args.sf01, args.sf1)
        for name, fn in runs
    }
    # tf-idf cosine on the Heaps-law-vocab corpus: the driver-shaped
    # fixture's fixed 40-word vocab makes the TRUE answer Θ(n²)
    # (99,878 -> 6,735,382 pairs for 10x docs, measured via the
    # DuckDB oracle), so the base row above is output-bound for any
    # candidate generator. This row is the same operator on a corpus
    # whose vocabulary grows ~√n (Zipf frequencies) — the realistic
    # shape where near-dup density is linear and the prefix filter
    # has rare terms to index.
    if os.path.isdir(args.heaps01) and os.path.isdir(args.heaps1):
        name = "dedup_tfidf_cosine_heaps"
        results[name] = _scaling(
            spark, name, qs["dedup_tfidf_cosine"], args.heaps01, args.heaps1
        )
    print(json.dumps(results))

if __name__ == "__main__":
    main()
