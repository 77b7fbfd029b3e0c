"""spark-submit entry point: one subcommand per job stage.

    spark-submit --py-files pdf_extractor_spark.zip pdf_extractor_spark/job.py \
        extract --input <documents parquet dir | JSONL | synthetic:N> \
        --output <commit-log root> [--n-parts 256] [--parts-per-chunk 64]

Stages: ``extract`` (resumable; rerunning with the same --output continues
from the last committed chunk), ``refresh`` (re-extract named parts in
place), ``watch`` (incremental drain of a drop directory — the reference's
watch-uploads loop as a CLI), the derived stages ``ocr``/``signals``/
``curate``/``neardup``/``pack``/``materialize``, ``export ROOT PATH``,
``maintain ROOT`` and ``show ROOT DOC_ID`` (one document's metrics and
spans). Each subcommand declares only the flags it reads, so a
flag that would be a no-op in a stage is an argparse error (exit 2) before
the JVM starts.
"""

from __future__ import annotations

import argparse
import contextlib
import csv
import json
import os
import sys
import time


def _positive_int(s: str) -> int:
    n = int(s)
    if n < 1:
        raise argparse.ArgumentTypeError(f"{s} is not >= 1")
    return n


def _part_ids(s: str) -> list[int]:
    parts = [int(x) for x in s.split(",") if x != ""]
    if not parts or min(parts) < 0:
        raise argparse.ArgumentTypeError(f"{s!r} names no part_ids >= 0")
    return parts


def _passwords(s: str) -> tuple[bytes, ...]:
    return tuple(pw.encode("utf-8") for pw in s.split(",") if pw)


def sniff_delimiter(path: str) -> str:
    """A CSV file's delimiter, sniffed from its head by the same rule as a
    ``kind='data'`` span's (``textclean.sniff_delimiter``)."""
    from pdf_extractor_spark.core.textclean import sniff_delimiter as sniff

    with open(path, newline="") as f:
        return sniff(f.read(64 * 1024))


def _header_columns(path: str, delim: str) -> list[str]:
    with open(path, newline="") as f:
        return next(csv.reader(f, delimiter=delim))


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="job.py", description="pdf-extractor-spark jobs, one subcommand per stage"
    )
    sub = p.add_subparsers(dest="stage", required=True, metavar="STAGE")

    def parent() -> argparse.ArgumentParser:
        return argparse.ArgumentParser(add_help=False)

    master = parent()
    master.add_argument("--master", default=None)
    io = parent()
    io.add_argument("--input", required=True)
    io.add_argument("--output", required=True, help="output table root")
    ingest = parent()
    ingest.add_argument("--input-format", choices=["auto", "parquet", "jsonl"],
                        default="auto",
                        help="documents input format; auto sniffs the path and "
                             "REFUSES a directory mixing both kinds")
    ingest.add_argument("--num-partitions", type=_positive_int, default=None,
                        help="parse-stage tasks per chunk (default: the core "
                             "count — whole parts packed by size when a chunk "
                             "has more parts than cores, each part split when "
                             "it has fewer; watch runs one task per part); "
                             "below the chunk's part count whole parts are "
                             "grouped, above it each part is split")
    ingest.add_argument("--passwords", type=_passwords, default=(),
                        metavar="PW[,PW...]",
                        help="candidate passwords for encrypted PDFs, tried "
                             "after the empty password (user then owner path; "
                             "UTF-8); documents none opens quarantine as parse "
                             "failures")
    batch = parent()
    batch.add_argument("--seed", type=int, default=42,
                       help="corpus seed for synthetic:N input")
    batch.add_argument("--password-manifest", default=None, metavar="CSV",
                       help="CSV with header doc_id,password: per-document "
                            "passwords left-joined onto the input (tried "
                            "first, then --passwords)")
    n_parts = parent()
    n_parts.add_argument("--n-parts", type=_positive_int, default=256)
    derived = parent()
    derived.add_argument("--rebuild", action="store_true",
                         help="full recompute committed as one overwrite chunk "
                              "(required after a source partition overwrite)")
    kept = parent()
    kept.add_argument("--kept-from", default=None, metavar="CURATE_ROOT",
                      help="scope to documents whose curation verdict at this "
                           "curate table root is 'keep'")
    kept.add_argument("--drop-neardups-from", default=None, metavar="NEARDUP_ROOT",
                      help="also drop documents this neardup table root flagged "
                           "(dup_of non-null); composes with --kept-from")

    def stage(name, about, run, *parents, tables=()):
        sp = sub.add_parser(name, help=about, description=about,
                            parents=[master, *parents])
        # tables: options naming a committed table root, checked pre-JVM
        sp.set_defaults(run=run, error=sp.error, tables=tables)
        return sp

    sp = stage("extract", "resumable batch extraction into a commit-log table",
               _extract, io, ingest, batch, n_parts)
    sp.add_argument("--parts-per-chunk", type=_positive_int, default=64,
                    help="part_ids per committed chunk: the work at risk "
                         "between commits; the parse stage runs one wave of "
                         "about one task per core whatever its value")
    sp = stage("refresh", "re-extract the named parts in place (dynamic-"
               "partition overwrite)", _extract, io, ingest, batch)
    sp.add_argument("--parts", type=_part_ids, required=True,
                    help="comma-separated part_ids")
    sp = stage("watch", "drain a drop directory of documents files "
               "incrementally (availableNow): each micro-batch commits one "
               "chunk, re-running resumes from the stream checkpoint",
               _watch, io, ingest, n_parts)
    sp.add_argument("--checkpoint", default=None,
                    help="stream checkpoint dir (default: <output>/_checkpoint)")
    stage("ocr", "OCR pass over a committed extraction table: the pdf:// "
          "refs of scanned pages (text-free pages with images) through the "
          "OCR engine (a deterministic stub)", _run_derived, io, derived,
          tables=("input",))
    stage("signals", "derived quality-signals pass over a committed "
          "extraction table (incremental, exactly-once)", _run_derived, io,
          derived, tables=("input",))
    sp = stage("curate", "curation-verdict pass: gates plus exact dedup "
               "against the accumulated kept-digest index", _run_derived, io,
               derived, tables=("input",))
    sp.add_argument("--min-tokens", type=int, default=None,
                    help="too_short gate threshold (default 20)")
    sp.add_argument("--min-stopword-micros", type=int, default=None,
                    help="reject docs whose stopword ratio (micros) is below "
                         "this (default 30000; 0 disables; English-centric)")
    sp.add_argument("--accept-langs", default=None,
                    help="comma-separated languages to keep, or 'any' "
                         "(default: reject only 'unknown'); changing gates on "
                         "a non-empty table requires --rebuild")
    sp.add_argument("--min-logit-micros", type=int, default=None,
                    help="enable the classifier gate: reject docs whose "
                         "logit (micros) is <= this (default: off)")
    sp = stage("neardup", "near-duplicate pass: banded MinHash candidates "
               "verified by exact Jaccard against the batch and the "
               "accumulated band index", _run_derived, io, derived,
               tables=("input", "kept_from"))
    sp.add_argument("--over-kept", dest="kept_from", default=None,
                    metavar="CURATE_ROOT",
                    help="scope the re-decision to the curate-kept corpus "
                         "(the residual-cluster collapse; needs --rebuild)")
    sp = stage("pack", "context-packing pass: per-doc placements in the "
               "512-token context stream", _run_derived, io, derived, kept,
               tables=("input", "kept_from", "drop_neardups_from"))
    sp.add_argument("--cost", choices=["ws", "bpe"], default="ws",
                    help="packing cost model: whitespace tokens or BPE pieces "
                         "(merges frozen in the table's first markers)")
    sp = stage("materialize", "assemble (pack_epoch, ctx, text) context rows "
               "from a committed pack table", _run_derived, io, derived,
               tables=("input", "pack_table"))
    sp.add_argument("--pack-table", required=True, metavar="PACK_ROOT",
                    help="the pack placement table built over --input")
    sp = stage("export", "export every committed document as <doc_id>.md in "
               "deterministic zip archive(s)", _export, kept,
               tables=("root", "kept_from", "drop_neardups_from",
                       "with_ocr_text"))
    sp.add_argument("root", metavar="ROOT", help="committed extraction table")
    sp.add_argument("path", metavar="PATH", help="zip file, or with --shards "
                    "a directory of shard-NNNNN.zip")
    sp.add_argument("--shards", type=_positive_int, default=None, metavar="N",
                    help="write N archives from the executors; a doc's shard "
                         "is pmod(xxhash64(doc_id), N)")
    sp.add_argument("--with-ocr-text", default=None, metavar="OCR_ROOT",
                    help="fold this OCR table's recovered text into the "
                         "spans before rendering")
    sp = stage("maintain", "one maintenance action on a table root",
               _maintain, tables=("root",))
    sp.add_argument("root", metavar="ROOT")
    act = sp.add_mutually_exclusive_group(required=True)
    act.add_argument("--compact", action="store_true",
                     help="rewrite the visible chunks into one, under the "
                          "table's own schema, and reclaim the replaced files")
    act.add_argument("--expire-older-than", type=float, default=None,
                     metavar="SECS",
                     help="reclaim history unreachable from the current view "
                          "and older than SECS (expire_snapshots retention)")
    act.add_argument("--gc-orphans-older-than", type=float, default=None,
                     metavar="SECS",
                     help="delete unmarked chunk dirs older than SECS — staged "
                          "output of crashed or conflict-losing writers (keep "
                          "SECS above any live writer's chunk write time)")
    act.add_argument("--migrate-layout", action="store_true",
                     help="one-time upgrade of a pre-Hive-layout table "
                          "(chunk-K dirs -> chunk=K); run with no live writers")
    sp = stage("show", "print one document's metrics row and its spans from "
               "a committed extraction table", _show, tables=("root",))
    sp.add_argument("root", metavar="ROOT", help="committed extraction table")
    sp.add_argument("doc_id", metavar="DOC_ID")
    sp.add_argument("--page", type=_positive_int, default=None, metavar="N",
                    help="print only the document's N-th span (1-based)")
    sp.add_argument("--as-of", type=int, default=None, metavar="K",
                    help="read the table as of snapshot (chunk id) K")
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    for name in args.tables:
        # a typo'd root must fail before JVM startup, and never silently:
        # a reader handed a missing root creates an empty table there
        root = getattr(args, name)
        if root is not None and not os.path.isdir(os.path.join(root, "commits")):
            args.error(f"{root} is not a committed table root (no commits/ directory)")
    return args.run(args)


@contextlib.contextmanager
def _spark(master: str | None):
    """The job's session. get_spark is getOrCreate, so only a session this
    call created is stopped: an embedding caller (pytest's shared fixture,
    a notebook) keeps the one it lent."""
    from pyspark.sql import SparkSession

    from pdf_extractor_spark.spark.session import get_spark

    borrowed = SparkSession.getActiveSession() is not None
    spark = get_spark(app_name="pdf-extractor-spark-job", master=master)
    try:
        yield spark
    finally:
        if not borrowed:
            spark.stop()


def _input_format(args) -> str:
    if args.input_format != "auto":
        return args.input_format
    from pdf_extractor_spark.ops.jsonl_source import detect_input_format

    return detect_input_format(args.input)


def _report_extraction(verb: str, report, dt: float, log) -> None:
    docs_s = report.docs_processed / dt if dt > 0 else 0.0
    print(
        f"{verb} chunks={report.chunks_committed} "
        f"parts={report.parts_processed} parts_skipped={report.parts_skipped} "
        f"docs={report.docs_processed} wall_s={dt:.2f} docs_per_s={docs_s:.1f}"
    )
    status = sorted(log.part_status().items())
    print("PART_STATUS " + " ".join(f"{k}={v}" for k, v in status))


def _extract(args) -> int:
    """``extract`` and ``refresh``."""
    delim = None
    if args.password_manifest is not None:
        # spark.read.csv with an explicit schema names columns by POSITION,
        # so a swapped header would be silently misread: check it pre-JVM
        if not os.path.isfile(args.password_manifest):
            args.error(f"--password-manifest {args.password_manifest} does not exist")
        delim = sniff_delimiter(args.password_manifest)
        header = _header_columns(args.password_manifest, delim)
        if header != ["doc_id", "password"]:
            args.error(f"--password-manifest needs header columns doc_id,password; got {header}")

    from pdf_extractor_spark.spark.lineage import CommitLog, reextract_parts, run_extraction

    with _spark(args.master) as spark:
        if args.input.startswith("synthetic:"):
            from pdf_extractor_spark.corpus import corpus_df

            docs = corpus_df(spark, int(args.input.split(":", 1)[1]), seed=args.seed)
        elif _input_format(args) == "jsonl":
            from pdf_extractor_spark.ops.jsonl_source import read_jsonl_documents

            docs = (
                read_jsonl_documents(spark, args.input)
                # quarantine: structurally-broken lines (and any partial-
                # result row a future Spark flags)
                .where("doc_id IS NOT NULL AND _corrupt IS NULL")
                .select("doc_id", "spans")
            )
        else:
            docs = spark.read.parquet(args.input).select("doc_id", "spans")
        password_col = None
        if delim is not None:
            from pyspark.sql import functions as F

            pw_df = spark.read.csv(
                args.password_manifest, header=True, sep=delim,
                schema="doc_id STRING, password STRING",
            )
            docs = docs.join(F.broadcast(pw_df), "doc_id", "left")
            password_col = "password"
        log = CommitLog(args.output)
        kw = dict(num_partitions=args.num_partitions, passwords=args.passwords,
                  password_col=password_col)
        t0 = time.monotonic()
        if args.stage == "refresh":
            report = reextract_parts(spark, docs, log, args.parts, **kw)
        else:
            report = run_extraction(spark, docs, log, n_parts=args.n_parts,
                                    parts_per_chunk=args.parts_per_chunk, **kw)
        _report_extraction("EXTRACTION_DONE", report, time.monotonic() - t0, log)
    return 0


def _watch(args) -> int:
    if not os.path.isdir(args.input):
        args.error(f"--input {args.input} is not a drop directory")
    from pdf_extractor_spark.spark.lineage import CommitLog, RunReport
    from pdf_extractor_spark.streaming.ingest import start_extraction_stream

    log = CommitLog(args.output)
    ckpt = args.checkpoint or os.path.join(args.output, "_checkpoint")
    before = {c["chunk_id"] for c in log.committed_chunks()}
    with _spark(args.master) as spark:
        t0 = time.monotonic()
        start_extraction_stream(
            spark, args.input, log, checkpoint_dir=ckpt, n_parts=args.n_parts,
            num_partitions=args.num_partitions or 32,
            fmt=_input_format(args), passwords=args.passwords,
        ).awaitTermination()
        # attribute only THIS stream's chunks (metrics.stream carries the
        # checkpoint realpath): a concurrent writer appending to the same
        # table root during the drain must not inflate the report
        ns = os.path.realpath(ckpt)
        new = [
            c for c in log.committed_chunks()
            if c["chunk_id"] not in before
            and (c.get("metrics") or {}).get("stream") == ns
        ]
        report = RunReport(
            chunks_committed=len(new),
            # DISTINCT parts: one part legitimately spans many micro-batch
            # chunks, and scripts compare this to EXTRACTION_DONE's
            parts_processed=len({p for c in new for p in c["part_ids"]}),
            docs_processed=int(sum((c.get("metrics") or {}).get("docs", 0) for c in new)),
            parts_skipped=0,
        )
        _report_extraction("STREAM_DONE", report, time.monotonic() - t0, log)
    return 0


def _gates(args):
    from dataclasses import replace

    from pdf_extractor_spark.spark.curate import GateConfig

    langs = args.accept_langs
    if langs is not None:
        langs = (
            GateConfig.any_language() if langs.strip().lower() == "any"
            else tuple(s.strip() for s in langs.split(",") if s.strip())
        )
    given = {
        "min_tokens": args.min_tokens,
        "min_stopword_micros": args.min_stopword_micros,
        "accept_langs": langs,
        "min_logit_micros": args.min_logit_micros,
    }
    return replace(GateConfig(), **{k: v for k, v in given.items() if v is not None})


def _derived_stages() -> dict:
    """``{stage: (run(spark, args) -> (RunReport, wall_s), row schema)}``,
    keyed by the ``stage`` every derived commit marker records."""
    from pdf_extractor_spark.spark import curate, materialize, neardup, ocr, pack, signals

    return {
        "ocr": (
            lambda s, a: ocr.run_ocr_job(s, a.input, a.output, rebuild=a.rebuild),
            ocr.OCR_SCHEMA,
        ),
        "signals": (
            lambda s, a: signals.run_signals_job(s, a.input, a.output, rebuild=a.rebuild),
            signals.SIGNALS_SCHEMA,
        ),
        "curate": (
            lambda s, a: curate.run_curate_job(
                s, a.input, a.output, rebuild=a.rebuild, gates=_gates(a)
            ),
            curate.CURATED_SCHEMA,
        ),
        "neardup": (
            lambda s, a: neardup.run_neardup_job(
                s, a.input, a.output, rebuild=a.rebuild, kept_from=a.kept_from
            ),
            neardup.NEARDUP_SCHEMA,
        ),
        "pack": (
            lambda s, a: pack.run_pack_job(
                s, a.input, a.output, rebuild=a.rebuild, kept_from=a.kept_from,
                neardup_from=a.drop_neardups_from, cost=a.cost,
            ),
            pack.PACKED_SCHEMA,
        ),
        "materialize": (
            lambda s, a: materialize.run_materialize_job(
                s, a.input, a.pack_table, a.output, rebuild=a.rebuild
            ),
            materialize.MATERIALIZED_SCHEMA,
        ),
    }


def _run_derived(args) -> int:
    scope = vars(args)
    if scope.get("kept_from") and not args.rebuild:
        # the accumulated state (band index, pack windows) does not
        # describe the kept subset
        args.error("a kept scope (--kept-from / --over-kept) re-decides a "
                   "filtered corpus; it requires --rebuild")
    if scope.get("drop_neardups_from") and not args.kept_from:
        args.error("--drop-neardups-from composes the kept view's flag-"
                   "validity rule; it requires --kept-from")
    run, _schema = _derived_stages()[args.stage]
    with _spark(args.master) as spark:
        report, dt = run(spark, args)
    print(
        f"{args.stage.upper()}_DONE chunks={report.chunks_committed} "
        f"parts={report.parts_processed} rows={report.docs_processed} "
        f"wall_s={dt:.2f}" + (" (rebuild)" if args.rebuild else "")
    )
    return 0


def _export(args) -> int:
    from pdf_extractor_spark.spark.export import (
        export_markdown_zip,
        export_markdown_zip_sharded,
    )

    scope = dict(ocr_from=args.with_ocr_text, kept_from=args.kept_from,
                 drop_neardups_from=args.drop_neardups_from)
    with _spark(args.master) as spark:
        if args.shards is None:
            n = export_markdown_zip(spark, args.root, args.path, **scope)
        else:
            # ANY --shards value, 1 included, means the directory layout
            n = export_markdown_zip_sharded(spark, args.root, args.path, args.shards, **scope)
    shards = "" if args.shards is None else f" shards={args.shards}"
    print(f"EXPORT_DONE zip={args.path}{shards} docs={n}")
    return 0


def _maintain(args) -> int:
    from pdf_extractor_spark.spark.lineage import CommitLog, compact_chunks

    if args.migrate_layout:
        print(f"LAYOUT_MIGRATED dirs={len(CommitLog.migrate_layout(args.root))}")
        return 0
    log = CommitLog(args.root)
    if args.expire_older_than is not None:
        gone = log.expire_snapshots(older_than=time.time() - args.expire_older_than)
        print(f"SNAPSHOTS_EXPIRED chunks={gone}")
    elif args.gc_orphans_older_than is not None:
        print(f"ORPHANS_REMOVED dirs={len(log.gc_orphans(grace_s=args.gc_orphans_older_than))}")
    else:
        from pdf_extractor_spark.spark.derived import latest_metric

        # a table whose markers name no stage is an extraction table; the
        # derived stage cursor survives (compaction markers are window-
        # excluded and carry no src_snapshot)
        stage = latest_metric(log.committed_chunks(), "stage")
        schema = None if stage is None else _derived_stages()[stage][1]
        with _spark(args.master) as spark:
            new_id = compact_chunks(spark, log, schema=schema)
        reclaimed = log.expire_replaced() if new_id is not None else []
        print(f"COMPACTION_DONE chunk={new_id} reclaimed={len(reclaimed)}")
    return 0


_SHOW_METRICS = ("part_id", "pages_parsed", "spans_emitted", "parse_failures",
                 "duration_ms", "scores")


def _show(args) -> int:
    """``DOC {metrics}`` then one ``SPAN {kind, text, media_ref, offset}``
    line per span (offset order) or only the ``--page`` span, as JSON;
    exit 1 if the document or the page is not there."""
    from pdf_extractor_spark.spark.lineage import CommitLog
    from pdf_extractor_spark.spark.preview import doc_row, doc_spans, read_page

    log = CommitLog(args.root)
    where = args.root if args.as_of is None else f"{args.root} as of {args.as_of}"
    with _spark(args.master) as spark:
        rows = doc_row(spark, log, args.doc_id, args.as_of).select(*_SHOW_METRICS).collect()
        if not rows:
            print(f"no document {args.doc_id!r} in {where}", file=sys.stderr)
            return 1
        if args.page is None:
            spans = [r.asDict() for r in
                     doc_spans(spark, log, args.doc_id, args.as_of).drop("doc_id").collect()]
        else:
            page = read_page(spark, log, args.doc_id, args.page, args.as_of)
            if page is None:
                print(f"document {args.doc_id!r} has no page {args.page} in {where}",
                      file=sys.stderr)
                return 1
            spans = [{"kind": page["kind"], "text": page["content"],
                      "media_ref": page["media_ref"], "offset": page["offset"]}]
    print("DOC " + json.dumps({"doc_id": args.doc_id, **rows[0].asDict()},
                              ensure_ascii=False, sort_keys=True))
    for s in spans:
        print("SPAN " + json.dumps(s, ensure_ascii=False))
    return 0


if __name__ == "__main__":
    try:
        import pdf_extractor_spark  # noqa: F401
    except ModuleNotFoundError:  # plain `python job.py` outside the repo root
        sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    sys.exit(main())
