#!/usr/bin/env python
"""Skew-salting A/B on the adversarial `skewed` corpus profile (VERDICT r03 #2).

The profile (pdf_extractor_spark/corpus.py, gen_documents) front-loads a 1%
contiguous head of 500-1000-page PDFs — the realistic crawl-dump layout where
one long-document source arrives clustered in input order — followed by 99%
single-page PDFs. The giant head is ~90% of the parse work and lands in the
first parquet file, so the natural scan partitioning serializes it onto one
or two tasks; `balance_partitions`' part-keyed exchange (one task per
hash-assigned part, so still a per-document hash scatter) must spread it
across the parse tasks.

Protocol mirrors bench.py's noise discipline: the arms run INTERLEAVED
(U,B,U,B,...) and each arm reports its best-of-N wall, so a co-tenant burst
hits both arms alike. Straggler evidence robust to host noise is reported
alongside wall-clock: the max per-physical-partition sum(duration_ms) from
the SAME action (duration_ms is the kernel's own per-doc parse timer), i.e.
how long the slowest task spent parsing, independent of scheduling jitter.

Scan configs are the tuned-for-this-input values a production job would set
(maxPartitionBytes sized so the 32 input files yield ~32 scan tasks rather
than being open-cost-packed into two) — the A/B then measures SKEW, not an
artificial lack of scan parallelism.

Usage: python tools/bench_skew.py [--n-docs 4000] [--cores 8] [--reps 2]
Prints one JSON line; paste the table row into BENCH/BASELINE.md.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-docs", type=int, default=4000)
    ap.add_argument("--cores", type=int, default=8)
    ap.add_argument("--reps", type=int, default=2)
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from pdf_extractor_spark.corpus import corpus_parquet
    from pdf_extractor_spark.spark.pipeline import extract_documents

    corpus_dir = corpus_parquet(args.n_docs, profile="skewed")

    spark = (
        SparkSession.builder.master(f"local[{args.cores}]")
        .appName("bench-skew")
        .config("spark.sql.shuffle.partitions", str(args.cores * 8))
        .config("spark.sql.files.maxPartitionBytes", str(1 << 20))
        .config("spark.sql.files.openCostInBytes", str(1 << 17))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.ansi.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    def run(balance: bool) -> tuple[float, int, int]:
        docs = spark.read.parquet(corpus_dir)
        ext = extract_documents(docs, n_parts=64, balance=balance)
        per_part = ext.withColumn("pid", F.spark_partition_id()).groupBy("pid").agg(
            F.sum("duration_ms").alias("ms"),
            F.sum("pages_parsed").alias("pages"),
        )
        t0 = time.monotonic()
        rows = per_part.collect()
        wall = time.monotonic() - t0
        straggler_ms = max(r["ms"] for r in rows)
        total_pages = sum(r["pages"] for r in rows)
        return wall, int(straggler_ms), int(total_pages)

    walls: dict[bool, list[float]] = {False: [], True: []}
    straggler: dict[bool, int] = {}
    pages: dict[bool, int] = {}
    run(False)  # JVM/codegen warmup, discarded
    for _ in range(args.reps):
        for arm in (False, True):
            w, s, p = run(arm)
            walls[arm].append(w)
            straggler[arm] = s  # deterministic given the plan; last rep fine
            pages[arm] = p
    spark.stop()

    assert pages[False] == pages[True], (pages, "arms parsed different work")
    out = {
        "metric": "skew A/B extraction wall (best-of-%d, interleaved)" % args.reps,
        "n_docs": args.n_docs,
        "cores": args.cores,
        "pages": pages[True],
        "unbalanced_s": round(min(walls[False]), 3),
        "balanced_s": round(min(walls[True]), 3),
        "speedup": round(min(walls[False]) / min(walls[True]), 3),
        "straggler_parse_ms_unbalanced": straggler[False],
        "straggler_parse_ms_balanced": straggler[True],
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
