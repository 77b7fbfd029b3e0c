"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Runs the flagship extraction pipeline plus representative operators from
each family (dedup, similarity, text stats, multimodal, relational) on
``local[--cpus]`` (default: the host's nproc) and prints ONE JSON line:

    {"metric": "...", "value": <total_sec>, "unit": "sec",
     "queries": {...}, "headline_v2": {...}, "sf": ..., "cpus": ...,
     "wall_sec": ..., "scaling": {...}, "scaling_skewed": {...}}

It then runs the extraction pipeline at two or three parallelism levels on
identical input and reports throughput scaling efficiency (the sandbox
proxy for the north_rule's N -> 4N executor criterion), once per corpus
profile: ``scaling`` on uniform heavy PDFs and ``scaling_skewed`` on the
adversarial skewed profile (a 1% head of 500-1000 page PDFs carrying ~90%
of the parse bytes). The default levels are the light pair, the largest
(N, 4N) with 4N <= nproc; ``--two-level`` sweeps local[2], local[8] and
local[32] instead.

``wall_sec`` at the top level is the headline part only: session start,
both headline query sets and session stop. It has meant that since round
1, so cross-round diffs stay valid. Each scaling report carries its own
``wall_sec`` for its whole interleaved sweep, so the process wall is the
sum of the three.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

BENCH_QUERIES = [
    "extract_clean",
    "extract_pdf_corpus",
    "curate_corpus",
    "dedup_exact",
    "minhash_lsh_pairs",
    "simhash",
    "ann_bruteforce",
    "ann_ivf",
    "lang_id",
    "lang_id_ngram",
    "quality",
    "token_counts",
    "fingerprint",
    "media_features",
    "media_resize",
    "render_markdown",
    "pricing_summary",
    "shipping_priority",
    "salted_topk_users",
    "asof_join",
    "transcript_buckets",
    "hourly_windows",
]

# second headline line (VERDICT r03 #4): the r2/r3 operator families the
# frozen v1 set can't see. v1 stays untouched as the cross-round diff base
# for rounds 1-3; v2 is the diff base from round 4 on.
BENCH_QUERIES_V2 = [
    "simhash_neardup",
    "dedup_verified_pairs",
    "dedup_components",
    "extract_encrypted_corpus",
    "extract_staged",
    "bm25_search",
    "hybrid_search",
    "pack_contexts",
    "lm_score",
    "kmeans_train",
    "cube_revenue",
    "ocr_roundtrip",
]


def run_queries(
    spark, sf_dir: str, passes: int = 2, names: list[str] | None = None,
    warmup: bool = True,
) -> dict[str, float]:
    from pdf_extractor_spark.ops.registry import queries

    names = names or BENCH_QUERIES
    qs = queries()
    # unreported warmup: spawn Python workers + compile the Arrow kernel path
    # once, so the first reported query measures the query, not session spinup
    if warmup:
        from pdf_extractor_spark.corpus import corpus_df
        from pdf_extractor_spark.spark.pipeline import extract_documents

        extract_documents(
            corpus_df(spark, 32, seed=1), n_parts=8, num_partitions=8
        ).count()

    from pdf_extractor_spark.ops.dedup import release_caches

    # best-of-N INTERLEAVED passes (like the scaling sweep): this shared host
    # has ±50% co-tenant noise, and a single unlucky pass once recorded a 2x
    # phantom regression across every query (BENCH_r02.json vs the idle
    # baseline). Interleaving means a load burst hurts one pass, not one query.
    timings: dict[str, float] = {}
    for _ in range(passes):
        for name in names:
            fn = qs[name]
            t0 = time.monotonic()
            df = fn(spark, sf_dir)
            n = df.count()  # forces full execution without driver-side collect
            dt = round(time.monotonic() - t0, 3)
            release_caches()  # drop any query-builder cache before the next timing
            assert n >= 0
            if name not in timings or dt < timings[name]:
                timings[name] = dt
    return timings


def extraction_throughput(
    cpus: int, n_docs: int, seed: int = 42, profile: str = "heavy"
) -> float:
    """docs/s of the extraction pipeline at `cpus` threads on a `profile`
    corpus.

    Heavy profile (one 6-14 page PDF per doc) so parse compute dominates
    fixed overhead; skewed for the straggler shape the part-keyed scatter
    has to spread. Warmup run first (JIT + python-worker spawn), then the
    best of two timed runs — a peak-capability measurement, not cold-start.
    """
    from pdf_extractor_spark.corpus import corpus_parquet
    from pdf_extractor_spark.spark.session import get_spark

    corpus_dir = corpus_parquet(n_docs, seed=seed, profile=profile)  # cached on disk
    spark = get_spark(
        f"bench-extract-{cpus}", master=f"local[{cpus}]",
        shuffle_partitions=max(cpus * 4, 32), arrow_max_records=256,
    )
    try:
        from pdf_extractor_spark.spark.pipeline import extract_documents

        docs = spark.read.parquet(corpus_dir)

        def one_run() -> float:
            t0 = time.monotonic()
            ext = extract_documents(docs, n_parts=256, num_partitions=max(cpus * 4, 128))
            n = ext.count()
            assert n == n_docs, f"expected {n_docs} docs out, got {n}"
            return time.monotonic() - t0

        extract_documents(docs.limit(cpus * 8), n_parts=16).count()  # warmup
        dt = min(one_run(), one_run())
        return n_docs / dt
    finally:
        spark.stop()


def scaling_report(
    n_docs: int, levels=(2, 8, 32), rounds: int = 2, profile: str = "heavy"
) -> dict:
    """N -> 4N scaling evidence (sandbox proxy for the two-cluster-size rule).

    Interleaves sessions across levels over `rounds` passes and keeps the
    per-level best: this sandbox is a shared host with large cross-session
    noise, and the question is peak capability at each parallelism, not the
    luck of one scheduling window. The default run measures the light pair
    (``light_pair``) so no level oversubscribes the host: on a 32-CPU box
    the pure-multiprocessing ceiling already drops to ~0.7 efficiency at
    8 -> 32 cores (memory bandwidth / all-core clocks — measured with a
    Spark-free process pool, see BENCH/BASELINE.md), so a pair that fills
    the box measures the silicon, not the pipeline. A real cluster adds
    bandwidth with every executor; a single box does not.
    """
    t0 = time.monotonic()
    best: dict[int, float] = {lvl: 0.0 for lvl in levels}
    pairs = [(a, b) for a, b in zip(levels, levels[1:]) if b == 4 * a]

    def _effs() -> dict[str, float]:
        return {
            f"efficiency_{a}to{b}": round((best[b] / best[a]) / (b / a), 3)
            for a, b in pairs
            if best[a] > 0
        }

    done = 0
    extra_budget = 2
    while True:
        for lvl in levels:  # identical input at every level — non-negotiable
            best[lvl] = max(
                best[lvl], extraction_throughput(lvl, n_docs, profile=profile))
        done += 1
        if done < rounds:
            continue
        # Superlinear "efficiency" (> 1) at identical input on one box is
        # physically impossible; it means the SMALL level's legs were all
        # noise-depressed (r03 driver run read 1.155). Treat it as a noise
        # signal, not a result: keep interleaving rounds (bounded) until
        # the small level gets one fair window and the ratio drops sane.
        if all(e <= 1.05 for e in _effs().values()) or extra_budget == 0:
            break
        extra_budget -= 1
    out = {"docs": n_docs, "rounds_run": done,
           "wall_sec": round(time.monotonic() - t0, 3),
           "levels": {f"local[{k}]": round(v, 1) for k, v in best.items()}}
    out.update(_effs())
    return out


def light_pair(nproc: int) -> tuple[int, int] | None:
    """The light scaling pair: the largest (N, 4N) with 4N <= nproc, so no
    level oversubscribes the host; None below 4 CPUs."""
    n = nproc // 4
    return (n, 4 * n) if n else None


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    nproc = len(os.sched_getaffinity(0))
    ap.add_argument("--cpus", type=int, default=nproc,
                    help="local[N] for the headline queries (default: nproc)")
    ap.add_argument("--two-level", action="store_true",
                    help="full scaling sweep: local[2]/[8]/[32], two rounds")
    ap.add_argument("--no-scaling", action="store_true",
                    help="skip the default light (N, 4N) scaling pair (both profiles)")
    ap.add_argument("--scale-docs", type=int, default=16000,
                    help="heavy-profile corpus size for the scaling measurement "
                         "(~110 core-seconds of parse: large enough that fixed "
                         "overhead does not pollute the efficiency ratio); "
                         "the skewed profile runs min(this, 4000) docs")
    args = ap.parse_args()

    sf = args.sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    t_total0 = time.monotonic()

    from pdf_extractor_spark.spark.session import get_spark

    spark = get_spark(
        "pdf-extractor-spark-bench", master=f"local[{args.cpus}]",
        shuffle_partitions=max(args.cpus * 4, 32), arrow_max_records=256,
    )
    try:
        timings = run_queries(spark, args.sf_dir)
        timings_v2 = run_queries(spark, args.sf_dir, names=BENCH_QUERIES_V2,
                                 warmup=False)
    finally:
        spark.stop()

    result = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "headline_v2": {
            "value": round(sum(timings_v2.values()), 3),
            "queries": timings_v2,
        },
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cpus": args.cpus,
        "wall_sec": round(time.monotonic() - t_total0, 3),
    }

    levels = (2, 8, 32) if args.two_level else (
        None if args.no_scaling else light_pair(nproc))
    if levels:
        # the light pair caps its heavy corpus so each small-level leg stays
        # under ~1.5 min. TWO interleaved rounds, best per level: a single
        # pass measured 0.77 on a loaded co-tenant window where the
        # interleaved-best of two measured 0.92 minutes later — one round
        # has no noise protection and the efficiency ratio is the
        # north-rule gate.
        heavy_docs = args.scale_docs if args.two_level else min(args.scale_docs, 8000)
        result["scaling"] = scaling_report(heavy_docs, levels=levels)
        if not args.two_level:
            result["scaling"]["pair"] = list(levels)
        result["scaling_skewed"] = scaling_report(
            min(args.scale_docs, 4000), levels=levels, profile="skewed")

    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
