#!/usr/bin/env python3
"""Layer-attributed benchmark of the extraction engine.

    python3 perfbench/run.py --workload heavy_pdf --seed 1 --seconds 15 --trace 0

Drives the engine's public entry points at ``local[nproc]`` from this one
process over a seeded synthetic corpus (see workloads.py), checks every
committed output (checks.py) and prints, as its last line, one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the line before it
stamps the host fingerprint and the input identity.

``--trace 0`` reports the end-to-end metrics from untraced runs: the
workload's extraction runs into a fresh table, and again while another
run still fits in ``--seconds``; the median docs/s is reported.
``--trace 1`` reports the per-layer metrics instead: the same extraction
traced (spans + job groups + Spark's event log, tracing.py), the derived
chain where the workload has one, the ``local[1]`` leg where it has one,
and the public kernel functions timed in a process of their own (solo.py).

Scratch state (tables, event logs, Spark local dirs, temp files) lives
under ``.perfbench_work/`` at the checkout root, fresh for every run.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

import checks
import procs
import tracing as tr
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {"docs_per_s": "docs/s", "setup_s": "s"}

PER_LAYER = {
    "session.start_s": "s",
    "session.first_action_s": "s",
    "scan.s": "s",
    "scan.input_bytes": "bytes",
    "scan.tasks": "count",
    "scan.resume_s": "s",
    "exchange.s": "s",
    "exchange.shuffle_write_bytes": "bytes",
    "exchange.fetch_wait_s": "s",
    "exchange.task_s_max_over_median": "ratio",
    "arrow.s": "s",
    "arrow.bytes_to_python": "bytes",
    "arrow.bytes_from_python": "bytes",
    "arrow.worker_start_s": "s",
    "arrow.worker_init_s": "s",
    "arrow.worker_run_s": "s",
    "arrow.overhead_core_s": "s",
    "arrow.plan_s": "s",
    "kernel.s": "s",
    "kernel.core_s": "s",
    "kernel.occupancy": "ratio",
    "kernel.pages": "count",
    "kernel.doc_ms_p50": "ms",
    "kernel.doc_ms_pmax": "ms",
    "kernel.doc_ms_max": "ms",
    "kernel.solo_docs_per_s": "docs/s",
    "kernel.solo.parse_pdf_s": "s",
    "kernel.solo.page_to_spans_s": "s",
    "kernel.solo.extract_main_text_s": "s",
    "kernel.solo.clean_text_s": "s",
    "commit.s": "s",
    "commit.write_s": "s",
    "commit.sort_s": "s",
    "commit.files_written": "count",
    "commit.bytes_written": "bytes",
    "commit.lineage_s": "s",
    "commit.marker_s": "s",
    "commit.chunks": "count",
    **{
        f"{stage}.{m}": unit
        for stage in ("signals", "curate", "neardup", "pack", "materialize")
        for m, unit in (("s", "s"), ("jobs", "count"), ("shuffle_bytes", "bytes"), ("input_files", "count"))
    },
    "jvm.s": "s",
    "jvm.gc_s": "s",
    "peak_rss_mib": "MiB",
    "unattributed_s": "s",
    "attributed_frac": "ratio",
    "trace.wall_s": "s",
    "trace.docs_per_s": "docs/s",
    "chain_docs_per_s": "docs/s",
    "docs_per_s_1core": "docs/s",
    "scaling_eff": "ratio",
    "failed_frac": "ratio",
}


def host_fingerprint(nproc: int) -> dict:
    import pyarrow
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kib = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return {
        "nproc": nproc,
        "mem_gib": round(mem_kib / 2**20, 1),
        "machine": platform.machine(),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
    }


class Bench:
    """One benchmark run: its scratch directories, its Spark session and
    the outcome of its output checks."""

    def __init__(self, args):
        self.args = args
        self.wl = workloads.WORKLOADS[args.workload]
        self.n_docs = args.docs or self.wl.docs
        self.nproc = procs.nproc()
        self.run_id = f"{self.wl.name}-s{args.seed}-t{args.trace}-{os.getpid()}"
        work_root = os.path.join(ROOT, ".perfbench_work")
        self.work = os.path.join(work_root, "runs", self.run_id)
        shutil.rmtree(self.work, ignore_errors=True)
        self.dirs = procs.isolate(ROOT, self.work, event_log=bool(args.trace))
        self.corpus_dir, self.identity = workloads.prepare_corpus(
            os.path.join(work_root, "corpus"), self.wl.profile, self.n_docs, args.seed
        )
        self.expected = workloads.expected_rows(self.corpus_dir, self.n_docs, args.seed, self.wl.profile)
        self.inputs = checks.load_inputs(self.corpus_dir)
        self.sample = checks.sample_ids(self.inputs, 8 if args.trace else 4)
        self.spark = None
        self.iterations: list[float] = []
        self.peak_by_command: dict[str, int] = {}
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    # ---------------------------------------------------------- session

    def start(self, master: str) -> dict[str, float]:
        """get_spark, then the first tiny extraction action: the workload's
        own job over 16 of its docs, so the timed run is not the JVM's first
        pass over its code paths (a production job pays that once, not per
        chunk)."""
        t0 = time.perf_counter()
        from pdf_extractor_spark.spark.session import get_spark

        self.spark = get_spark(app_name="perfbench", master=master)
        t1 = time.perf_counter()
        self.spark.sparkContext.setLogLevel("ERROR")
        tiny = self.spark.read.parquet(self.corpus_dir).limit(16)
        workloads.extract_once(self.spark, tiny, self.table("setup"), self.wl)
        return {"start_s": t1 - t0, "first_action_s": time.perf_counter() - t1}

    def restart(self, master: str) -> None:
        """A new SparkContext, without the event log, in the warm JVM; four
        docs through a small committed job start its Python workers before
        anything is timed."""
        from pdf_extractor_spark.spark import lineage as L
        from pdf_extractor_spark.spark.session import get_spark

        self.spark.stop()
        procs.disable_event_log()
        self.spark = get_spark(app_name="perfbench", master=master)
        L.run_extraction(
            self.spark, self.spark.read.parquet(self.corpus_dir).limit(4),
            L.CommitLog(self.table("restart")), n_parts=4, parts_per_chunk=2, num_partitions=4,
        )

    def table(self, name: str) -> str:
        return os.path.join(self.dirs["tables"], name)

    def extract(self, name: str, span=None) -> tuple[int, float]:
        docs = self.spark.read.parquet(self.corpus_dir)
        return workloads.extract_once(self.spark, docs, self.table(name), self.wl, span)

    def check(self, name: str, sample: list[str]):
        res = checks.check_extraction(self.spark, self.table(name), self.expected, self.inputs, sample)
        self.attempted += len(self.expected)
        self.failed += len(res.failed)
        self.problems += res.problems
        return res

    # ------------------------------------------------------------- runs

    def untraced(self, setup: dict[str, float]) -> dict[str, float]:
        rates: list[float] = []
        t0 = time.perf_counter()
        # another iteration only if it should end inside the window
        while not rates or time.perf_counter() - t0 + wall <= self.args.seconds:
            n, wall = self.extract(f"it{len(rates)}")
            rates.append(n / wall)
        for i in range(len(rates)):
            self.check(f"it{i}", self.sample if i == 0 else [])
        self.iterations = rates
        return {
            "docs_per_s": statistics.median(rates),
            "setup_s": setup["start_s"] + setup["first_action_s"],
        }

    def traced(self, setup: dict[str, float]) -> dict[str, float]:
        """The session was started with the event log on, so the traced
        extraction runs where the untraced runs time theirs: the first
        job after set-up. The local[1] leg comes last, untraced."""

        out = {f"session.{k}": v for k, v in setup.items()}
        tracer = tr.Tracer(self.spark, self.run_id)
        with tracer.lineage_spans(), procs.RssSampler() as rss:
            n, wall = self.extract("traced", tracer.span)
        out["peak_rss_mib"] = rss.peak_bytes / 2**20
        self.peak_by_command = {k: round(v / 2**20) for k, v in rss.peak_by_command.items()}
        committed = self.check("traced", self.sample)
        out["trace.docs_per_s"] = n / wall
        if self.wl.chain:
            roots = workloads.run_chain(self.spark, self.table("traced"), self.table("chain"), tracer.span)
            failed, problems = checks.check_chain(self.spark, self.table("traced"), roots)
            self.failed += len(failed)
            self.problems += problems
        if self.wl.one_core:
            self.restart("local[1]")
            n1, wall1 = self.extract("one_core")
            self.check("one_core", [])
            out["docs_per_s_1core"] = n1 / wall1
            out["scaling_eff"] = out["trace.docs_per_s"] / (self.nproc * out["docs_per_s_1core"])
        procs.stop_spark(self.spark)
        self.spark = None
        tracer.dump(os.path.join(self.work, "spans.json"))

        (event_file,) = os.listdir(self.dirs["events"])
        ev = tr.parse_event_log(os.path.join(self.dirs["events"], event_file))
        root = next(s for s in tracer.spans if s["name"] == "extract")
        out.update(tr.attribute_extraction(tracer.spans, ev, root, committed.kernel_ms_by_part))
        if self.wl.chain:
            out.update(tr.derived_stage_metrics(tracer.spans, ev, workloads.CHAIN_STAGES))
            chain_s = sum(out[f"{s}.s"] for s in workloads.CHAIN_STAGES)
            out["chain_docs_per_s"] = n / chain_s

        durations = sorted(committed.durations_ms)
        out["kernel.core_s"] = sum(durations) / 1e3
        out["kernel.occupancy"] = out["kernel.core_s"] / (wall * self.nproc)
        out["kernel.pages"] = committed.pages
        out["kernel.doc_ms_p50"] = statistics.median(durations)
        # the highest percentile with at least ten docs beyond it
        out["kernel.doc_ms_pmax"] = durations[max(0, len(durations) - 11)]
        out["kernel.doc_ms_max"] = durations[-1]
        out["arrow.overhead_core_s"] = out["arrow.worker_run_s"] - out["kernel.core_s"]
        files = [
            os.path.join(d, f)
            for d, _, fs in os.walk(os.path.join(self.table("traced"), "data"))
            for f in fs
            if f.endswith(".parquet")
        ]
        out["commit.files_written"] = len(files)
        out["commit.bytes_written"] = sum(os.path.getsize(f) for f in files)
        out.update(self.solo())
        return out

    def solo(self) -> dict[str, float]:
        path = os.path.join(self.work, "solo_sample.json")
        with open(path, "w") as f:
            json.dump([[d, self.inputs[d]] for d in self.sample], f)
        res = json.loads(
            subprocess.run(
                [sys.executable, os.path.join(HERE, "solo.py"), path],
                check=True, capture_output=True, text=True, timeout=120,
            ).stdout.splitlines()[-1]
        )
        out = {f"kernel.solo.{k}": res[k] for k in ("parse_pdf_s", "page_to_spans_s", "extract_main_text_s", "clean_text_s")}
        out["kernel.solo_docs_per_s"] = res["docs"] / res["extract_document_s"]
        return out

    def close(self) -> None:
        procs.stop_spark(self.spark)
        self.spark = None
        for k in ("tables", "local", "tmp", "warehouse"):
            shutil.rmtree(self.dirs[k], ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--docs", type=int, default=None, help="override the workload's corpus size (smoke runs)")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "pdf_extractor_spark", "__init__.py")):
        print(f"perfbench: no pdf_extractor_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    bench = Bench(args)
    try:
        setup = bench.start(f"local[{bench.nproc}]")
        metrics = bench.traced(setup) if args.trace else bench.untraced(setup)
    finally:
        bench.close()

    units = PER_LAYER if args.trace else END_TO_END
    if args.trace:
        metrics["failed_frac"] = bench.failed / bench.attempted
        # metrics of a layer the workload does not run read 0
        metrics = {k: metrics.get(k, 0.0) for k in units}
    stamp = {
        "run": bench.run_id,
        "host": host_fingerprint(bench.nproc),
        "input": bench.identity,
        "failed_frac": bench.failed / bench.attempted,
        "iterations_docs_per_s": bench.iterations,
        "peak_mib_by_command": bench.peak_by_command,
        "problems": bench.problems[:20],
    }
    with open(os.path.join(bench.work, "result.json"), "w") as f:
        json.dump({**stamp, "metrics": metrics}, f, indent=1)
    print("perfbench " + json.dumps(stamp))
    result = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
