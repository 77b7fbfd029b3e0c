"""The benchmark's workloads: seeded synthetic corpora and the public
engine calls each one drives.

Every workload commits its corpus through ``lineage.run_extraction`` with
``n_parts=32, parts_per_chunk=16``, so each run commits two chunks.
``mixed_chain`` interrupts the first call after one chunk, resumes it, and
(in the traced run) runs the derived chain over the committed table.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from dataclasses import dataclass

N_PARTS = 32
PARTS_PER_CHUNK = 16


@dataclass(frozen=True)
class Workload:
    name: str
    profile: str  # corpus.gen_documents profile
    docs: int
    interrupt: bool  # run_extraction(fail_after_chunks=1), then resume
    chain: bool  # run the derived chain in the traced run
    one_core: bool  # time the same job at local[1] in the traced run


WORKLOADS = {
    w.name: w
    for w in (
        Workload("heavy_pdf", "heavy", 400, False, False, True),
        Workload("mixed_chain", "mixed", 200, True, True, False),
    )
}


def prepare_corpus(cache_dir: str, profile: str, docs: int, seed: int) -> tuple[str, dict]:
    """Generate (or reuse) the seeded corpus parquet; return its directory
    and its input identity."""
    from pdf_extractor_spark import corpus

    out = os.path.join(cache_dir, f"v{corpus._GEN_VERSION}-{profile}-{docs}-{seed}")
    corpus.corpus_parquet(docs, seed=seed, out_dir=out, profile=profile)
    size = sum(
        os.path.getsize(os.path.join(out, f)) for f in os.listdir(out) if f.endswith(".parquet")
    )
    identity = {
        "gen_version": corpus._GEN_VERSION,
        "profile": profile,
        "docs": docs,
        "seed": seed,
        "corpus_bytes": size,
    }
    return out, identity


def expected_rows(corpus_dir: str, docs: int, seed: int, profile: str) -> list[dict]:
    """The generator's closed-form oracle rows, cached beside the corpus
    (the leading underscore hides the file from Spark's parquet reader)."""
    from pdf_extractor_spark.corpus import expected_extraction_rows

    path = os.path.join(corpus_dir, "_expected.json")
    if not os.path.exists(path):
        rows = expected_extraction_rows(docs, seed, profile=profile)
        with open(path + ".tmp", "w") as f:
            json.dump(rows, f)
        os.replace(path + ".tmp", path)
    with open(path) as f:
        return json.load(f)


def extract_once(spark, docs, table_root: str, wl: Workload, span=None) -> tuple[int, float]:
    """One timed extraction of the ``docs`` DataFrame into a fresh table:
    docs committed and the wall from the first ``run_extraction`` call to
    the return of the last, which ``span("extract")`` (when given) encloses."""
    from pdf_extractor_spark.spark import lineage as L

    log = L.CommitLog(table_root)
    with span("extract") if span else contextlib.nullcontext():
        t0 = time.perf_counter()
        if wl.interrupt:
            try:
                L.run_extraction(
                    spark, docs, log, n_parts=N_PARTS, parts_per_chunk=PARTS_PER_CHUNK,
                    fail_after_chunks=1,
                )
            except RuntimeError as e:
                if "injected failure" not in str(e):
                    raise
            else:
                raise RuntimeError("the interrupted extraction did not stop early")
        L.run_extraction(spark, docs, log, n_parts=N_PARTS, parts_per_chunk=PARTS_PER_CHUNK)
        wall = time.perf_counter() - t0
    return sum(m["metrics"]["docs"] for m in log.committed_chunks()), wall


CHAIN_STAGES = ("signals", "curate", "neardup", "pack", "materialize")


def run_chain(spark, src_root: str, out_dir: str, span) -> dict[str, str]:
    """signals -> curate -> neardup -> pack -> materialize over the committed
    table, each public ``run_*`` call inside ``span("derived.<stage>")``.
    Returns the derived table roots by stage."""
    from pdf_extractor_spark.spark.curate import run_curate
    from pdf_extractor_spark.spark.lineage import CommitLog
    from pdf_extractor_spark.spark.materialize import run_materialize
    from pdf_extractor_spark.spark.neardup import run_neardup
    from pdf_extractor_spark.spark.pack import run_pack
    from pdf_extractor_spark.spark.signals import run_signals

    roots = {s: os.path.join(out_dir, s) for s in CHAIN_STAGES}
    src = CommitLog(src_root)
    logs = {s: CommitLog(r) for s, r in roots.items()}
    calls = {
        "signals": lambda: run_signals(spark, src, logs["signals"]),
        "curate": lambda: run_curate(spark, src, logs["curate"]),
        "neardup": lambda: run_neardup(spark, src, logs["neardup"]),
        "pack": lambda: run_pack(spark, src, logs["pack"]),
        "materialize": lambda: run_materialize(spark, src, logs["pack"], logs["materialize"]),
    }
    for stage in CHAIN_STAGES:
        with span(f"derived.{stage}"):
            report = calls[stage]()
        if report.chunks_committed != 1:
            raise RuntimeError(f"{stage} committed {report.chunks_committed} chunks, expected 1")
    return roots
