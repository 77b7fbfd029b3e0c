"""Measure the binary-staging win on a PDF-heavy corpus.

The claim (BENCH/BASELINE.md §"10x profiling"): after the kernel
optimizations, wall time is dominated by bytes moved through scan/shuffle/
Arrow, and base64 inflates every PDF byte 4/3. This script quantifies what
a multi-pass pipeline saves per downstream pass by staging once:

  1. write the heavy corpus as the ingest-contract table (base64-in-string)
  2. stage it to the binary staging table (spark/staging.py), timed
  3. run the full extraction pass from EACH table, best-of-N interleaved
  4. report on-disk sizes + per-pass wall + the staging break-even point

Run on an idle box: python tools/bench_staging.py [n_docs] [cpus]
"""

from __future__ import annotations

import json
import pathlib
import shutil
import sys
import tempfile
import time

REPO = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def _dir_size(p: str) -> int:
    return sum(f.stat().st_size for f in pathlib.Path(p).rglob("*.parquet"))


def main() -> int:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 4000
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    rounds = 2

    from pdf_extractor_spark.corpus import corpus_parquet
    from pdf_extractor_spark.spark.pipeline import extract_documents
    from pdf_extractor_spark.spark.session import get_spark
    from pdf_extractor_spark.spark.staging import stage_documents

    spark = get_spark(
        app_name="bench-staging", master=f"local[{cpus}]", shuffle_partitions=cpus * 8
    )
    work = tempfile.mkdtemp(prefix="pes-bench-staging-")
    try:
        ingest_path = corpus_parquet(n_docs, seed=5, profile="heavy")
        staged_path = f"{work}/staged"

        docs = spark.read.parquet(ingest_path)
        t0 = time.perf_counter()
        stage_documents(docs).write.parquet(staged_path)
        stage_sec = time.perf_counter() - t0

        sizes = {"ingest_bytes": _dir_size(ingest_path), "staged_bytes": _dir_size(staged_path)}

        def run_pass(path):
            df = extract_documents(
                spark.read.parquet(path), n_parts=cpus * 8, num_partitions=cpus * 8
            )
            return df.selectExpr("sum(spans_emitted)").collect()[0][0]

        # warm both paths once (codegen, scan setup), then best-of-N interleaved
        assert run_pass(ingest_path) == run_pass(staged_path)
        direct_best = staged_best = float("inf")
        for _ in range(rounds):
            t = time.perf_counter()
            run_pass(ingest_path)
            direct_best = min(direct_best, time.perf_counter() - t)
            t = time.perf_counter()
            run_pass(staged_path)
            staged_best = min(staged_best, time.perf_counter() - t)

        saved_per_pass = direct_best - staged_best
        print(
            json.dumps(
                {
                    "n_docs": n_docs,
                    "cpus": cpus,
                    **sizes,
                    "size_ratio": round(sizes["staged_bytes"] / sizes["ingest_bytes"], 3),
                    "stage_write_sec": round(stage_sec, 2),
                    "direct_pass_sec": round(direct_best, 2),
                    "staged_pass_sec": round(staged_best, 2),
                    "pass_ratio": round(staged_best / direct_best, 3),
                    "breakeven_passes": (
                        round(stage_sec / saved_per_pass, 1) if saved_per_pass > 0 else None
                    ),
                }
            )
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
