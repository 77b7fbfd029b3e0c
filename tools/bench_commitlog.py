#!/usr/bin/env python
"""Commit-path scale probe (VERDICT r03 #6): cost of the marker protocol as
committed-chunk count grows to the 10^3-10^4 regime a long-running ingest
accretes.

Measures, per chunk count C:
  commit_total_s   wall to reserve+commit all C chunks (the WRITE path —
                   each commit validates against the committed set under
                   the lock, so a per-commit re-list is O(C) and the total
                   commit path O(C^2) unless contents are cached)
  list_s           one committed_chunks() call (marker listing)
  part_ids_s       one committed_part_ids() call (resume's committed set)
  owned_s          visible_chunks + per-chunk owned-part resolution (the
                   read-planning driver-side work)
  resume_s         resume_filter(...).count() on a 1k-doc frame (includes
                   the Spark plan build and running its one-literal
                   ``part_id NOT IN (...)`` filter)
  read_plan_s      read_extracted() DataFrame construction (one scan with
                   a chunk PartitionFilter; execution excluded). Every
                   committed part holds one 1-row parquet file, so this
                   includes partition discovery's listing of data/

Usage: python tools/bench_commitlog.py [--chunks 200,1000,2000] [--no-spark]
Prints one JSON line per C; paste into BENCH/BASELINE.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def probe(n_chunks: int, n_parts: int, spark) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pdf_extractor_spark.spark.lineage import CommitLog, _chunk_dirname, resume_filter

    root = tempfile.mkdtemp(prefix=f"pes-commitprobe-{n_chunks}-")
    try:
        log = CommitLog(root)
        t0 = time.monotonic()
        for i in range(n_chunks):
            cid = log.reserve_chunk_id()
            log.commit_chunk(
                cid, [i % n_parts], {"docs": 1, "pages": 1, "failures": 0},
                n_parts=n_parts,
            )
        commit_total = time.monotonic() - t0
        for c in log.committed_chunks():  # one 1-row file per committed part
            part = os.path.join(log.data_dir, _chunk_dirname(c["chunk_id"]), f"part_id={c['part_ids'][0]}")
            os.mkdir(part)
            pq.write_table(pa.table({"doc_id": [str(c["chunk_id"])]}), os.path.join(part, "0.parquet"))

        # cold reader: a fresh CommitLog instance (no warm in-process state)
        log = CommitLog(root)
        t0 = time.monotonic()
        chunks = log.committed_chunks()
        list_s = time.monotonic() - t0
        assert len(chunks) == n_chunks

        t0 = time.monotonic()
        done = log.committed_part_ids()
        part_ids_s = time.monotonic() - t0
        assert len(done) == min(n_parts, n_chunks)

        t0 = time.monotonic()
        whole, partial = log._visible_split(None, chunks)
        owned_s = time.monotonic() - t0
        assert len(whole) == n_chunks and not partial

        out = {
            "chunks": n_chunks,
            "commit_total_s": round(commit_total, 3),
            "commit_avg_ms": round(commit_total / n_chunks * 1000, 3),
            "list_s": round(list_s, 4),
            "part_ids_s": round(part_ids_s, 4),
            "owned_s": round(owned_s, 4),
        }
        if spark is not None:
            docs = spark.range(1000).selectExpr(
                "cast(id as string) as doc_id",
                "array(named_struct('kind','text','text','x','media_ref','',"
                "'offset',0)) as spans",
            )
            t0 = time.monotonic()
            n = resume_filter(docs, log, n_parts).count()
            out["resume_s"] = round(time.monotonic() - t0, 3)
            assert n <= 1000
            t0 = time.monotonic()
            log.read_extracted(spark)
            out["read_plan_s"] = round(time.monotonic() - t0, 3)
        return out
    finally:
        shutil.rmtree(root, ignore_errors=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--chunks", default="200,1000,2000")
    ap.add_argument("--n-parts", type=int, default=256)
    ap.add_argument("--no-spark", action="store_true")
    args = ap.parse_args()

    spark = None
    if not args.no_spark:
        from pdf_extractor_spark.spark.session import get_spark

        spark = get_spark("bench-commitlog", master="local[4]", shuffle_partitions=8)
        spark.sparkContext.setLogLevel("ERROR")

    for c in [int(x) for x in args.chunks.split(",")]:
        print(json.dumps(probe(c, args.n_parts, spark)), flush=True)
    if spark is not None:
        spark.stop()


if __name__ == "__main__":
    main()
