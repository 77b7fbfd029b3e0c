"""spark-submit entry point for the extraction pipeline.

    spark-submit --py-files pdf_extractor_spark.zip pdf_extractor_spark/job.py \
        --input <documents parquet dir | synthetic:N> \
        --output <commit-log root> [--n-parts 256] [--parts-per-chunk 64]

Ships the package to executors via --py-files (north_rule packaging
contract); resumable — rerunning with the same --output continues from the
last committed chunk. ``--watch`` switches to incremental drain of a drop
directory (the reference's watch-uploads loop as a CLI): each micro-batch
commits one chunk, and re-running picks up only new files/epochs.
"""

from __future__ import annotations

import argparse
import sys
import time


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="pdf-extractor-spark batch extraction")
    p.add_argument("--input", default=None,
                   help="documents(doc_id, spans) as a parquet path, a "
                        "JSONL file/dir (*.jsonl: explicit schema, corrupt "
                        "lines quarantined), or synthetic:<n_docs> "
                        "(required except with --migrate-layout)")
    p.add_argument("--input-format", choices=["auto", "parquet", "jsonl"],
                   default="auto",
                   help="documents input format; auto sniffs the path and "
                        "REFUSES a directory mixing both kinds")
    p.add_argument("--output", required=True, help="commit-log root directory")
    p.add_argument("--n-parts", type=int, default=256)
    p.add_argument("--parts-per-chunk", type=int, default=None,
                   help="part_ids per committed chunk in batch mode (default "
                        "64); the parse stage runs one task per part, so this "
                        "is a chunk's parse parallelism: set it to at least "
                        "2x the executor cores")
    p.add_argument("--num-partitions", type=int, default=None,
                   help="parse-stage tasks per chunk (default: one per part, "
                        "or the core count if a chunk has fewer parts); below "
                        "the chunk's part count whole parts are grouped, above "
                        "it each part is split over several tasks")
    p.add_argument("--master", default=None)
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--compact", action="store_true",
                   help="after the run, rewrite visible chunks into one "
                        "(rewrite_data_files analogue) and reclaim replaced files")
    p.add_argument("--refresh-parts", type=str, default=None,
                   help="comma-separated part_ids to re-extract in place "
                        "(dynamic-partition overwrite) instead of appending")
    p.add_argument("--expire-older-than", type=float, default=None, metavar="SECS",
                   help="after the run, reclaim history unreachable from the "
                        "current view and older than SECS seconds "
                        "(expire_snapshots TTL retention, S10 analogue)")
    p.add_argument("--gc-orphans-older-than", type=float, default=None,
                   metavar="SECS",
                   help="after the run, delete unmarked chunk directories "
                        "older than SECS seconds — staged output of crashed "
                        "or conflict-losing writers (remove_orphan_files "
                        "analogue; keep SECS above any live writer's chunk "
                        "write time)")
    p.add_argument("--migrate-layout", action="store_true",
                   help="one-time upgrade of a pre-Hive-layout table "
                        "(chunk-K dirs -> chunk=K) at --output, then exit; "
                        "run with NO live writers (idempotent, resumable)")
    p.add_argument("--export-zip", type=str, default=None, metavar="PATH",
                   help="after the run, export every committed document as "
                        "<doc_id>.md in one deterministic zip archive "
                        "(download-artifact sink; committed data is never "
                        "deleted by exporting)")
    p.add_argument("--shards", type=int, default=None, metavar="N",
                   help="with --export-zip: write N deterministic archives "
                        "(shard-00000.zip ...) under PATH (a directory) via "
                        "executor-side foreachPartition instead of one "
                        "driver-streamed zip; a doc's shard is "
                        "pmod(xxhash64(doc_id), N)")
    p.add_argument("--watch", action="store_true",
                   help="treat --input as a drop directory of documents "
                        "parquet files and drain it incrementally "
                        "(availableNow trigger): each micro-batch commits "
                        "one chunk; re-running resumes from the stream "
                        "checkpoint and skips already-committed epochs — "
                        "the CLI analogue of the reference's watch-uploads "
                        "loop (dashboard.py), minus the UI")
    p.add_argument("--checkpoint", type=str, default=None,
                   help="stream checkpoint dir for --watch "
                        "(default: <output>/_checkpoint)")
    p.add_argument("--route-needs-ocr", action="store_true",
                   help="with --watch: route scanned docs (text-free pages "
                        "with images) into a crash-safe ocr_queue/ side "
                        "output for a downstream OCR stage")
    p.add_argument("--kept-from", type=str, default=None, metavar="DIR",
                   help="with --export-zip: export only documents whose "
                        "curation verdict at this --curate table root is "
                        "'keep' (left-semi join; rejected/duplicate docs "
                        "stay committed in the table, they just don't ship)")
    p.add_argument("--drop-neardups-from", type=str, default=None,
                   metavar="DIR",
                   help="with --export-zip: additionally drop documents the "
                        "near-dup stage flagged (dup_of non-null) at this "
                        "--neardup table root (anti join; composes with "
                        "--kept-from: shipped = kept AND not near-dup)")
    p.add_argument("--with-ocr-text", type=str, default=None, metavar="DIR",
                   help="with --export-zip: fold this stage-2 ocr_text "
                        "table's recovered text into the spans before "
                        "rendering, so scanned documents export with their "
                        "recovered content")
    p.add_argument("--passwords", type=str, default=None, metavar="PW[,PW...]",
                   help="candidate passwords for encrypted PDFs, tried "
                        "after the empty password (user then owner path; "
                        "UTF-8 encoded). Applies to batch extraction, "
                        "--refresh-parts, and --watch; documents no "
                        "candidate opens still quarantine as parse "
                        "failures")
    p.add_argument("--password-manifest", type=str, default=None,
                   metavar="CSV",
                   help="CSV with header columns doc_id,password: per-"
                        "document passwords left-joined onto the input "
                        "before extraction (each locked doc tries its own "
                        "password first, then the --passwords list); "
                        "batch modes only")
    p.add_argument("--state-store", choices=["hdfs", "rocksdb"], default=None,
                   help="state-store backend for stateful streaming "
                        "(--watch / --ocr-stage): rocksdb keeps state "
                        "off-heap on executor-local disk — the production "
                        "setting for unbounded key spaces (see "
                        "streaming/statestore.py); pinned per checkpoint "
                        "at first start")
    p.add_argument("--signals", action="store_true",
                   help="run the derived quality-signals pass instead of "
                        "extraction: --input is a committed extraction table "
                        "root, --output receives the signals table "
                        "(incremental: only source snapshots committed since "
                        "the last run are recomputed; exactly-once via the "
                        "same commit markers)")
    p.add_argument("--curate", action="store_true",
                   help="run the curation-verdict pass instead of "
                        "extraction: --input is a committed extraction table "
                        "root, --output receives the verdict table (gates + "
                        "exact dedup against the accumulated kept-digest "
                        "index; incremental and exactly-once like --signals)")
    p.add_argument("--neardup", action="store_true",
                   help="run the near-duplicate pass instead of extraction: "
                        "--input is a committed extraction table root, "
                        "--output receives per-doc LSH band fingerprints + "
                        "verified dup_of verdicts (banded MinHash candidates "
                        "checked against the batch AND the accumulated band "
                        "index, exact-Jaccard verified; incremental and "
                        "exactly-once like --signals)")
    p.add_argument("--pack", action="store_true",
                   help="run the context-packing pass instead of extraction: "
                        "--input is a committed extraction table root, "
                        "--output receives per-doc placements in the "
                        "512-token context stream (window-local packing, "
                        "pack_epoch = consumed source snapshot; incremental "
                        "and exactly-once like --signals). With --kept-from "
                        "CURATE_ROOT [--drop-neardups-from NEARDUP_ROOT] "
                        "and --rebuild, packs the composed kept corpus")
    p.add_argument("--cost", choices=["ws", "bpe"], default=None,
                   help="with --pack: the packing cost model — 'ws' "
                        "(whitespace tokens, default) or 'bpe' (tokenizer "
                        "pieces; merge rules derived from the table's "
                        "first window and frozen in its commit markers, "
                        "reused by every later incremental window)")
    p.add_argument("--materialize", action="store_true",
                   help="run the shard-materialization pass instead of "
                        "extraction: --input is a committed extraction "
                        "table root, --pack-table the committed placement "
                        "table a prior --pack run produced over it, "
                        "--output receives the assembled (pack_epoch, ctx, "
                        "text) context rows (snapshot-pinned gather join; "
                        "incremental and exactly-once like --signals)")
    p.add_argument("--pack-table", type=str, default=None, metavar="DIR",
                   help="with --materialize: the committed pack placement "
                        "table root to gather from")
    p.add_argument("--over-kept", type=str, default=None, metavar="CURATE_ROOT",
                   help="with --neardup --rebuild: scope the re-decision to "
                        "the curate-KEPT corpus (the residual-cluster "
                        "collapse pass: a full-scope flag whose partner was "
                        "curate-rejected is revived by the kept view's "
                        "validity rule; a kept-scoped table's flags name "
                        "only kept partners, so composing it drops every "
                        "residual)")
    p.add_argument("--rebuild", action="store_true",
                   help="with --signals/--curate/--neardup/--pack: full recompute "
                        "committed as one overwrite chunk (required after a "
                        "source partition overwrite; under --curate dedup — "
                        "and under --neardup near-dup matching — is "
                        "re-decided globally)")
    p.add_argument("--min-tokens", type=int, default=None,
                   help="with --curate: too_short gate threshold "
                        "(default 20)")
    p.add_argument("--min-stopword-micros", type=int, default=None,
                   help="with --curate: quality gate — reject docs whose "
                        "stopword ratio (micros) is below this (default "
                        "30000; 0 disables). English-centric: tune or "
                        "disable for other corpora")
    p.add_argument("--accept-langs", type=str, default=None,
                   help="with --curate: comma-separated predicted "
                        "languages to keep, or 'any' to disable the "
                        "language gate (default: reject only 'unknown'). "
                        "Gate config is recorded per commit; changing it "
                        "on a non-empty table requires --rebuild")
    p.add_argument("--min-logit-micros", type=int, default=None,
                   help="with --curate: enable the model-based classifier "
                        "gate — reject docs whose hashed-linear-model logit "
                        "(integer micros; the quality_classifier op's frozen "
                        "model) is <= this threshold (default: gate off)")
    p.add_argument("--ocr-stage", action="store_true",
                   help="run the stage-2 OCR consumer instead of extraction: "
                        "--input is a stage-1 table root (its ocr_queue/ is "
                        "the source), --output receives the ocr_text table; "
                        "incremental + exactly-once like --watch (the OCR "
                        "engine itself is a declared deterministic stub in "
                        "this container)")
    args = p.parse_args(argv)
    passwords = tuple(
        pw.encode("utf-8") for pw in (args.passwords or "").split(",") if pw
    )

    # modes and flags that would otherwise be silent no-ops fail loudly
    if not args.migrate_layout and not args.input:
        p.error("--input is required (except with --migrate-layout)")
    if args.migrate_layout:
        if (
            args.watch or args.ocr_stage or args.compact or args.refresh_parts
            or args.export_zip or args.route_needs_ocr
            or args.signals or args.curate or args.neardup or args.pack
            or args.materialize
            or args.rebuild
            or args.expire_older_than is not None
            or args.gc_orphans_older_than is not None
        ):
            p.error("--migrate-layout runs alone (offline upgrade, "
                    "no live writers)")
        try:
            from pdf_extractor_spark.spark.lineage import CommitLog
        except ModuleNotFoundError:  # plain `python job.py` outside the root
            import os as _os

            sys.path.insert(
                0, _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
            )
            from pdf_extractor_spark.spark.lineage import CommitLog

        renamed = CommitLog.migrate_layout(args.output)
        print(f"LAYOUT_MIGRATED dirs={len(renamed)}")
        return 0
    if args.ocr_stage and (
        args.watch
        or args.compact
        or args.refresh_parts
        or args.route_needs_ocr
        or args.export_zip
        or args.expire_older_than is not None
        or args.gc_orphans_older_than is not None
    ):
        p.error("--ocr-stage runs alone; maintenance/extraction flags "
                "apply to stage-1 runs against the stage-1 --output")
    if args.rebuild and not (
        args.signals or args.curate or args.neardup or args.pack
        or args.materialize
    ):
        p.error("--rebuild only applies to "
                "--signals/--curate/--neardup/--pack/--materialize")
    if args.over_kept is not None:
        if not args.neardup:
            p.error("--over-kept only applies to --neardup")
        if not args.rebuild:
            p.error("--over-kept re-decides a filtered corpus; it requires "
                    "--rebuild (the accumulated band index does not "
                    "describe the kept subset)")
    if not args.curate and any(
        v is not None
        for v in (args.min_tokens, args.min_stopword_micros, args.accept_langs,
                  args.min_logit_micros)
    ):
        p.error("--min-tokens/--min-stopword-micros/--accept-langs/"
                "--min-logit-micros only apply to --curate")
    if sum((args.signals, args.curate, args.neardup, args.pack,
            args.materialize)) > 1:
        p.error("--signals/--curate/--neardup/--pack/--materialize are "
                "separate passes; run them against separate --output roots")
    if args.materialize and not args.pack_table:
        p.error("--materialize gathers a committed placement table; "
                "pass --pack-table DIR")
    if args.pack_table and not args.materialize:
        p.error("--pack-table only applies to --materialize")
    for flag, on in (("--signals", args.signals), ("--curate", args.curate),
                     ("--neardup", args.neardup), ("--pack", args.pack),
                     ("--materialize", args.materialize)):
        if on and (
            args.watch
            or args.ocr_stage
            or args.refresh_parts
            or args.route_needs_ocr
            or args.export_zip
        ):
            p.error(f"{flag} runs alone; extraction-mode flags apply "
                    "to stage-1 runs against the stage-1 --output")
        if on and args.input.startswith("synthetic:"):
            p.error(f"{flag} reads a committed extraction table root, not "
                    "synthetic: input")
    if args.route_needs_ocr and not args.watch:
        p.error("--route-needs-ocr requires --watch (the batch path has no "
                "side-output router)")
    if args.watch and args.password_manifest:
        p.error("--password-manifest is batch-only (the manifest is joined "
                "onto a static input); use --passwords with --watch")
    if args.watch and args.refresh_parts:
        p.error("--refresh-parts is a batch partition overwrite; "
                "not valid with --watch")
    if args.checkpoint and not (args.watch or args.ocr_stage):
        p.error("--checkpoint only applies to --watch / --ocr-stage "
                "(batch resume state lives in the commit log, not a "
                "stream checkpoint)")
    if args.ocr_stage and args.num_partitions is not None:
        p.error("--num-partitions applies to the extraction parse stage, "
                "not --ocr-stage")
    if args.ocr_stage and args.parts_per_chunk is not None:
        p.error("--parts-per-chunk is batch chunking; not valid with "
                "--ocr-stage")
    if args.with_ocr_text and not args.export_zip:
        p.error("--with-ocr-text only applies to --export-zip")
    if args.kept_from and not (args.export_zip or args.pack):
        p.error("--kept-from only applies to --export-zip or --pack")
    if args.drop_neardups_from and not (args.export_zip or args.pack):
        p.error("--drop-neardups-from only applies to --export-zip or --pack")
    if args.pack and args.kept_from and not args.rebuild:
        p.error("--pack --kept-from packs a corpus another table's verdicts "
                "define; it requires --rebuild (no stable incremental "
                "notion of 'the kept docs of this window')")
    if args.cost is not None and not args.pack:
        p.error("--cost only applies to --pack")
    if args.pack and args.drop_neardups_from and not args.kept_from:
        p.error("--drop-neardups-from composes the kept view's "
                "flag-validity rule; with --pack it requires --kept-from")
    if args.shards is not None:
        if not args.export_zip:
            p.error("--shards only applies to --export-zip")
        if args.shards < 1:
            p.error("--shards must be >= 1")
    if args.watch and args.parts_per_chunk is not None:
        p.error("--parts-per-chunk is batch chunking; micro-batches define "
                "chunks under --watch")
    if args.state_store and not (args.watch or args.ocr_stage):
        p.error("--state-store only applies to streaming modes "
                "(--watch / --ocr-stage)")

    # Pre-JVM table-root validation, for EVERY flag that names a committed
    # table: a typo'd root must fail instantly and loudly, never after
    # paying JVM startup (the --ocr-stage precedent below) — and never
    # silently: handing a nonexistent root to a reader CREATES an empty
    # CommitLog there, so a --kept-from typo would export 0 docs and a
    # --drop-neardups-from typo would ship every near-duplicate, both with
    # exit 0 (review finding).
    import os as _os

    def _require_table_root(opt: str, root: str) -> None:
        if not _os.path.isdir(_os.path.join(root, "commits")):
            p.error(f"{opt} {root} is not a committed table root "
                    "(no commits/ directory)")

    if (args.signals or args.curate or args.neardup or args.pack
            or args.materialize):
        flag = ("--signals" if args.signals else "--curate" if args.curate
                else "--neardup" if args.neardup else "--pack" if args.pack
                else "--materialize")
        _require_table_root(f"{flag} --input", args.input)
    if args.pack_table is not None:
        _require_table_root("--pack-table", args.pack_table)
    pw_manifest_delim = None
    if args.password_manifest is not None:
        # validated PRE-JVM like the table roots: a typo'd manifest must
        # fail instantly and loudly, never after paying JVM startup — and
        # spark.read.csv with an explicit schema names columns by POSITION
        # regardless of the file header, so without this check a swapped/
        # renamed header is silently misread and locked docs quietly
        # quarantine
        from pdf_extractor_spark.sources.manifest import (
            _header_columns,
            sniff_delimiter,
        )

        if not _os.path.isfile(args.password_manifest):
            p.error(f"--password-manifest {args.password_manifest} "
                    "does not exist")
        pw_manifest_delim = sniff_delimiter(args.password_manifest)
        pw_header = _header_columns(args.password_manifest, pw_manifest_delim)
        if pw_header != ["doc_id", "password"]:
            p.error(
                "--password-manifest needs header columns "
                f"doc_id,password; got {pw_header}"
            )
    if args.over_kept is not None:
        _require_table_root("--over-kept", args.over_kept)
    if args.kept_from is not None:
        _require_table_root("--kept-from", args.kept_from)
    if args.drop_neardups_from is not None:
        _require_table_root("--drop-neardups-from", args.drop_neardups_from)

    from pdf_extractor_spark.spark.session import get_spark
    from pdf_extractor_spark.spark.lineage import (
        CommitLog,
        RunReport,
        compact_chunks,
        reextract_parts,
        run_extraction,
    )

    if args.ocr_stage:
        # everything up to the stream itself is Spark-free: validate the
        # typo'd-path case and heal the queue BEFORE paying JVM startup
        import os as _os

        from pdf_extractor_spark.streaming.ingest import (
            maintain_ocr_queue,
            queue_root_for,
        )
        from pdf_extractor_spark.streaming.ocr_stage import (
            OCR_TEXT_DIRNAME,
            start_ocr_stage,
        )

        queue_root = queue_root_for(args.input)
        out_dir = _os.path.join(args.output, OCR_TEXT_DIRNAME)
        ckpt = args.checkpoint or _os.path.join(args.output, "_checkpoint")
        if not _os.path.isdir(_os.path.join(args.input, "commits")):
            p.error(f"--ocr-stage --input {args.input} is not a stage-1 "
                    "table root (no commits/ directory)")
        # heal the commit->publish crash window BEFORE consuming: a stage-1
        # writer killed between marker and publish may never restart, and
        # its committed chunk's queue entry must not stay hidden as
        # .staging-* while this run reports the queue drained.
        # sweep_staging=False: a live stage-1 writer may be mid-window
        # right now, and only the stream's own start (serialized by the
        # checkpoint lock) may delete staging dirs; legacy VISIBLE unmarked
        # dirs are still swept — they can never be a live writer's, and
        # leaving them would feed this consumer duplicate refs
        healed = maintain_ocr_queue(CommitLog(args.input), sweep_staging=False)
        if healed["promoted"] or healed["removed"]:
            ids = ",".join(str(c) for c in healed["promoted"])
            print(
                f"OCR_QUEUE_HEALED promoted={ids or '-'} "
                f"removed={len(healed['removed'])}"
            )

    # only stop a session THIS invocation created: get_spark is
    # getOrCreate, so under programmatic embedding (pytest's shared
    # fixture, a notebook) main() would otherwise stop a session it
    # merely borrowed and every later caller would hit the stopped
    # SparkContext
    from pyspark.sql import SparkSession as _SS

    _borrowed = _SS.getActiveSession() is not None
    spark = get_spark(app_name="pdf-extractor-spark-job", master=args.master)
    if args.state_store:
        from pdf_extractor_spark.streaming.statestore import (
            configure_state_store,
        )

        configure_state_store(spark, args.state_store)
    try:
        if (args.signals or args.curate or args.neardup or args.pack
                or args.materialize):
            # table roots already validated pre-JVM (above)
            if args.signals:
                from pdf_extractor_spark.spark.signals import run_signals_job

                report, dt = run_signals_job(
                    spark, args.input, args.output, rebuild=args.rebuild
                )
                verb = "SIGNALS_DONE"
            elif args.neardup:
                from pdf_extractor_spark.spark.neardup import run_neardup_job

                report, dt = run_neardup_job(
                    spark,
                    args.input,
                    args.output,
                    rebuild=args.rebuild,
                    kept_from=args.over_kept,
                )
                verb = "NEARDUP_DONE"
            elif args.materialize:
                from pdf_extractor_spark.spark.materialize import (
                    run_materialize_job,
                )

                report, dt = run_materialize_job(
                    spark,
                    args.input,
                    args.pack_table,
                    args.output,
                    rebuild=args.rebuild,
                )
                verb = "MATERIALIZE_DONE"
            elif args.pack:
                from pdf_extractor_spark.spark.pack import run_pack_job

                report, dt = run_pack_job(
                    spark,
                    args.input,
                    args.output,
                    rebuild=args.rebuild,
                    kept_from=args.kept_from,
                    neardup_from=args.drop_neardups_from,
                    cost=args.cost or "ws",
                )
                verb = "PACK_DONE"
            else:
                from pdf_extractor_spark.spark.curate import (
                    GateConfig,
                    run_curate_job,
                )

                defaults = GateConfig()
                if args.accept_langs is None:
                    langs = None
                elif args.accept_langs.strip().lower() == "any":
                    langs = GateConfig.any_language()
                else:
                    langs = tuple(
                        s.strip() for s in args.accept_langs.split(",") if s.strip()
                    )
                gates = GateConfig(
                    min_tokens=(
                        defaults.min_tokens if args.min_tokens is None
                        else args.min_tokens
                    ),
                    min_stopword_micros=(
                        defaults.min_stopword_micros
                        if args.min_stopword_micros is None
                        else args.min_stopword_micros
                    ),
                    accept_langs=langs,
                    min_logit_micros=args.min_logit_micros,
                )
                report, dt = run_curate_job(
                    spark, args.input, args.output, rebuild=args.rebuild,
                    gates=gates,
                )
                verb = "CURATE_DONE"
            print(
                f"{verb} chunks={report.chunks_committed} "
                f"parts={report.parts_processed} docs={report.docs_processed} "
                f"wall_s={dt:.2f}"
                + (" (rebuild)" if args.rebuild else "")
            )
            if args.compact:
                # derived tables accrete one chunk per incremental window
                # (the same small-file problem as stage-1 ingest) —
                # compact the STAGE OUTPUT table under its own schema; the
                # cursor survives (markers kept; compaction markers carry
                # no src_snapshot and are window-excluded)
                from pdf_extractor_spark.spark.lineage import compact_chunks

                if args.signals:
                    from pdf_extractor_spark.spark.signals import (
                        SIGNALS_SCHEMA as _sch,
                    )
                elif args.curate:
                    from pdf_extractor_spark.spark.curate import (
                        CURATED_SCHEMA as _sch,
                    )
                elif args.neardup:
                    from pdf_extractor_spark.spark.neardup import (
                        NEARDUP_SCHEMA as _sch,
                    )
                elif args.pack:
                    from pdf_extractor_spark.spark.pack import (
                        PACKED_SCHEMA as _sch,
                    )
                else:
                    from pdf_extractor_spark.spark.materialize import (
                        MATERIALIZED_SCHEMA as _sch,
                    )
                new_id = compact_chunks(
                    spark, CommitLog(args.output), schema=_sch
                )
                print(f"COMPACTED chunk={new_id}"
                      if new_id is not None else "COMPACTED nothing-to-do")
            # retention/GC compose with stage tables the same way they do
            # with the stage-1 table: both are pure CommitLog filesystem
            # maintenance, schema-independent, markers always kept
            if args.expire_older_than is not None:
                gone = CommitLog(args.output).expire_snapshots(
                    older_than=time.time() - args.expire_older_than
                )
                print(f"SNAPSHOTS_EXPIRED chunks={gone}")
            if args.gc_orphans_older_than is not None:
                swept = CommitLog(args.output).gc_orphans(
                    grace_s=args.gc_orphans_older_than
                )
                print(f"ORPHANS_REMOVED dirs={len(swept)}")
            return 0
        if args.ocr_stage:
            t0 = time.monotonic()
            n = 0
            has_chunks = _os.path.isdir(queue_root) and any(
                name.startswith("chunk-") for name in _os.listdir(queue_root)
            )
            if has_chunks:
                q = start_ocr_stage(spark, queue_root, out_dir, ckpt)
                q.awaitTermination()
            if _os.path.isdir(out_dir):
                # always report the TABLE total (not this run's delta): a
                # wrong --input or empty queue is then visibly different
                # from a drained pipeline with prior output
                n = spark.read.parquet(out_dir).count()
            print(
                f"OCR_STAGE_DONE table={out_dir} total_refs={n} "
                f"wall_s={time.monotonic() - t0:.2f}"
            )
            return 0
        if args.watch:
            import os as _os

            from pdf_extractor_spark.streaming.ingest import (
                start_extraction_stream,
            )

            if args.input.startswith("synthetic:"):
                p.error("--watch needs a drop directory, not synthetic: input")
            log = CommitLog(args.output)
            ckpt = args.checkpoint or _os.path.join(args.output, "_checkpoint")
            before = {c["chunk_id"] for c in log.committed_chunks()}
            t0 = time.monotonic()
            if args.input_format == "auto":
                from pdf_extractor_spark.ops.jsonl_source import (
                    detect_input_format,
                )

                fmt = detect_input_format(args.input)
            else:
                fmt = args.input_format
            q = start_extraction_stream(
                spark,
                args.input,
                log,
                checkpoint_dir=ckpt,
                n_parts=args.n_parts,
                num_partitions=args.num_partitions or 32,
                route_needs_ocr=args.route_needs_ocr,
                fmt=fmt,
                passwords=passwords,
            )
            q.awaitTermination()
            # attribute only THIS stream's chunks (metrics.stream carries
            # the checkpoint realpath): a concurrent writer appending to
            # the same table root during the drain must not inflate the
            # report (ADVICE r03)
            ns = _os.path.realpath(ckpt)
            new = [
                c
                for c in log.committed_chunks()
                if c["chunk_id"] not in before
                and (c.get("metrics") or {}).get("stream") == ns
            ]
            n_docs = sum((c.get("metrics") or {}).get("docs", 0) for c in new)
            report = RunReport(
                chunks_committed=len(new),
                # DISTINCT parts: one part legitimately spans many
                # micro-batch chunks, and scripts compare this to the batch
                # path's EXTRACTION_DONE semantics
                parts_processed=len({p for c in new for p in c["part_ids"]}),
                docs_processed=int(n_docs),
                parts_skipped=0,
            )
        else:
            if args.input.startswith("synthetic:"):
                from pdf_extractor_spark.corpus import corpus_df

                docs = corpus_df(
                    spark, int(args.input.split(":", 1)[1]), seed=args.seed
                )
            else:
                from pdf_extractor_spark.ops.jsonl_source import (
                    detect_input_format,
                    read_jsonl_documents,
                )

                fmt = (
                    detect_input_format(args.input)
                    if args.input_format == "auto"
                    else args.input_format
                )
                if fmt == "jsonl":
                    docs = (
                        read_jsonl_documents(spark, args.input)
                        # quarantine: structurally-broken lines (and any
                        # partial-result row a future Spark flags)
                        .where("doc_id IS NOT NULL AND _corrupt IS NULL")
                        .select("doc_id", "spans")
                    )
                else:
                    docs = spark.read.parquet(args.input).select("doc_id", "spans")

            password_col = None
            if args.password_manifest:
                from pyspark.sql import functions as _F

                # header + delimiter validated pre-JVM above
                pw_df = spark.read.csv(
                    args.password_manifest,
                    header=True,
                    sep=pw_manifest_delim,
                    schema="doc_id STRING, password STRING",
                )
                docs = docs.join(_F.broadcast(pw_df), "doc_id", "left")
                password_col = "password"
            log = CommitLog(args.output)
            t0 = time.monotonic()
            if args.refresh_parts:
                parts = [int(x) for x in args.refresh_parts.split(",") if x != ""]
                report = reextract_parts(
                    spark, docs, log, parts,
                    num_partitions=args.num_partitions, passwords=passwords,
                    password_col=password_col,
                )
            else:
                report = run_extraction(
                    spark,
                    docs,
                    log,
                    passwords=passwords,
                    password_col=password_col,
                    n_parts=args.n_parts,
                    parts_per_chunk=(
                        64 if args.parts_per_chunk is None
                        else args.parts_per_chunk
                    ),
                    num_partitions=args.num_partitions,
                )
        if args.compact:
            new_id = compact_chunks(spark, log)
            reclaimed = log.expire_replaced() if new_id is not None else []
            print(f"COMPACTION_DONE chunk={new_id} reclaimed={len(reclaimed)}")
        if args.expire_older_than is not None:
            gone = log.expire_snapshots(older_than=time.time() - args.expire_older_than)
            print(f"SNAPSHOTS_EXPIRED chunks={gone}")
        if args.gc_orphans_older_than is not None:
            swept = log.gc_orphans(grace_s=args.gc_orphans_older_than)
            print(f"ORPHANS_REMOVED dirs={len(swept)}")
        if args.export_zip:
            # ANY --shards value (1 included) means the directory layout:
            # routing --shards 1 to the single-zip writer would os.replace
            # a zip onto the documented shard DIRECTORY path
            if args.shards is not None:
                from pdf_extractor_spark.spark.export import (
                    export_markdown_zip_sharded,
                )

                n_exported = export_markdown_zip_sharded(
                    spark, args.output, args.export_zip, args.shards,
                    ocr_text_dir=args.with_ocr_text,
                    kept_from=args.kept_from,
                    drop_neardups_from=args.drop_neardups_from,
                )
                print(
                    f"EXPORT_DONE zip={args.export_zip} "
                    f"shards={args.shards} docs={n_exported}"
                )
            else:
                from pdf_extractor_spark.spark.export import export_markdown_zip

                n_exported = export_markdown_zip(
                    spark, args.output, args.export_zip,
                    ocr_text_dir=args.with_ocr_text,
                    kept_from=args.kept_from,
                    drop_neardups_from=args.drop_neardups_from,
                )
                print(f"EXPORT_DONE zip={args.export_zip} docs={n_exported}")
        dt = time.monotonic() - t0
        docs_s = report.docs_processed / dt if dt > 0 else 0.0
        verb = "STREAM_DONE" if args.watch else "EXTRACTION_DONE"
        print(
            f"{verb} chunks={report.chunks_committed} "
            f"parts={report.parts_processed} parts_skipped={report.parts_skipped} "
            f"docs={report.docs_processed} wall_s={dt:.2f} docs_per_s={docs_s:.1f}"
        )
        lin = log.read_lineage(spark)
        lin.groupBy("status").count().show()
        return 0
    finally:
        if not _borrowed:
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())
