"""Dedup-family throughput at corpus scale (no external data).

Generates N synthetic documents Spark-side (deterministic, ~25 words from
an 18-word vocab) with PLANTED duplicates whose counts are exactly
checkable: every id≡1 (mod 100) is an exact copy of its neighbor unless it
is also ≡1 (mod 40), in which case one word is appended (near-dup).
Runs exact dedup, MinHash+LSH near-dup, and SimHash blocking; prints one
JSON line per op. Usage: python scripts/bench_dedup.py [n_docs]
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000

    from pyspark.sql import functions as F

    from data_harvesting_spark.operators.dedup import (
        connected_components,
        exact_dedup,
        minhash_lsh_pairs,
        simhash_near_pairs,
    )
    from data_harvesting_spark.session import get_spark

    spark = get_spark("bench-dedup", shuffle_partitions=64)
    spark.sparkContext.setLogLevel("ERROR")

    words = F.array(*[F.lit(w) for w in [
        "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
        "hotel", "india", "juliet", "kilo", "lima", "mike", "november",
        "oscar", "papa", "quebec", "romeo"]])

    def widx(seed_col, i):
        return (F.pmod(F.xxhash64(seed_col * 100 + i), F.lit(18)) + 1).cast("int")

    base = (
        spark.range(0, n, 1, 64)
        .withColumn(
            "seed",
            F.when(F.col("id") % 40 == 1, F.col("id") - 1)
            .when(F.col("id") % 100 == 1, F.col("id") - 1)
            .otherwise(F.col("id")),
        )
        .withColumn(
            "text",
            F.concat_ws(
                " ",
                F.transform(
                    F.sequence(F.lit(0), F.lit(24)),
                    lambda i: F.element_at(words, widx(F.col("seed"), i)),
                ),
            ),
        )
        .withColumn(
            "text",
            F.when(
                F.col("id") % 40 == 1, F.concat(F.col("text"), F.lit(" zulu"))
            ).otherwise(F.col("text")),
        )
        .select(F.col("id").alias("doc_id"), "text")
        .persist()
    )
    base.count()

    state: dict = {}

    def run_minhash() -> int:
        state["pairs"] = minhash_lsh_pairs(base, n=3, threshold=0.5).persist()
        return state["pairs"].count()

    def run_pair_components() -> int:
        # closure over the REAL near-dup pair graph (planted pairs are
        # disjoint 2-cliques, so components == pairs when LSH finds them)
        cc = connected_components(state["pairs"])
        n_comp = cc.select("component").distinct().count()
        state["pairs"].unpersist()
        return n_comp

    def run_cc_chains() -> int:
        # standalone closure scale probe: n nodes in chains of 10
        # (diameter 9 — min-label propagation without star re-rooting
        # would crawl); expected components = exactly n/10
        edges = (
            spark.range(0, n, 1, 64)
            .where(F.col("id") % 10 != 9)
            .select(F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b"))
        )
        return connected_components(edges).select("component").distinct().count()

    ops = [
        ("exact_dedup_kept", lambda: exact_dedup(base).count()),
        ("minhash_lsh_pairs", run_minhash),
        ("neardup_components", run_pair_components),
        ("cc_chains_of_10", run_cc_chains),
        ("simhash_pairs_h3", lambda: simhash_near_pairs(base, max_hamming=3).count()),
    ]
    for name, fn in ops:
        t0 = time.perf_counter()
        result = fn()
        dt = time.perf_counter() - t0
        print(json.dumps({
            "op": name, "n_docs": n, "result": result,
            "sec": round(dt, 2), "docs_per_sec": round(n / dt, 1),
        }))
    spark.stop()


if __name__ == "__main__":
    main()
