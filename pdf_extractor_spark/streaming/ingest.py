"""Structured Streaming ingestion for the extraction pipeline.

The reference is batch-only (SURVEY.md §2.9: no watermarks/stateful ops
anywhere), but a 10^12-doc corpus is never static — new documents land
continuously. This module runs the SAME extraction kernel incrementally:

    readStream (file source over documents parquet)
      -> foreachBatch: part-keyed exchange + mapInArrow extract
                       + CommitLog chunk commit (lineage rows included)

``foreachBatch`` rather than a streaming sink because the commit contract
(atomic marker after data+lineage parquet, spark/lineage.py) must hold for
streaming exactly as for batch — a killed stream resumes from the Spark
checkpoint AND the commit log, and replayed micro-batches are idempotent:
an already-committed epoch is skipped by epoch_id, so end-to-end this is
exactly-once into the commit log.

Event-time windowed metrics over the lineage stream (micro-batch counts
per window) come free from the batch lineage table; a watermarked example
lives in ``windowed_lineage_counts``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..spark.lineage import CommitLog, _write_chunk
from ..spark.pipeline import DOCUMENTS_SCHEMA, extract_documents


def stream_documents(
    spark: SparkSession,
    input_dir: str,
    max_files_per_trigger: int = 4,
    fmt: str = "parquet",
) -> DataFrame:
    """File-source stream of documents(doc_id, spans) drops — parquet by
    default, ``fmt="jsonl"`` for newline-delimited JSON drops (the classic
    crawler layout): explicit schema either way (a JSON inference pass per
    micro-batch would re-read every file), corrupt JSONL lines dropped at
    the source with the same quarantine semantics as the batch path
    (ops/jsonl_source.py)."""
    reader = spark.readStream.option("maxFilesPerTrigger", max_files_per_trigger)
    if fmt == "jsonl":
        from ..ops.jsonl_source import JSONL_SCHEMA

        return (
            reader.schema(JSONL_SCHEMA)
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_corrupt")
            .json(input_dir)
            # quarantine: structurally-broken lines (and any partial-result
            # row a future Spark flags via the corrupt column)
            .where(F.col("doc_id").isNotNull() & F.col("_corrupt").isNull())
            .select("doc_id", "spans")
        )
    if fmt != "parquet":
        raise ValueError(f"unknown stream format {fmt!r}")
    return reader.schema(DOCUMENTS_SCHEMA).parquet(input_dir)


def queue_root_for(table_root: str) -> str:
    """Where a stage-1 table's OCR queue lives — the ONE definition shared
    by the producer (the router below) and the stage-2 consumer
    (streaming/ocr_stage.py, ``job.py --ocr-stage``), so the two can never
    silently point at different directories."""
    return os.path.join(table_root.rstrip("/"), "ocr_queue")


def ocr_queue_root(log: CommitLog) -> str:
    return queue_root_for(log.root)


def _ns_token(stream_ns: str) -> str:
    """Filesystem-safe owner token a routed stream stamps on its staging
    dirs, so a sweep can be scoped to the ONE stream that owns them."""
    import hashlib

    return hashlib.md5(stream_ns.encode()).hexdigest()[:8]


def needs_ocr_pred() -> "F.Column":
    """THE routing signal: does this extracted row have text-free pages
    that carry images? One definition shared by the router below and the
    ``ocr_roundtrip`` oracle query — a drift between the two would let the
    oracle silently keep testing stale routing behavior."""
    return (
        F.coalesce(
            F.element_at("scores", "pages_empty_with_images"), F.lit(0.0)
        )
        > 0
    )


def ocr_candidate_refs() -> "F.Column":
    """THE ref projection routed to OCR: the row's pdf:// media refs
    (synthesized by the parser for embedded/inline images). Shared with
    the oracle query like ``needs_ocr_pred``."""
    return F.filter(
        F.transform("spans", lambda s: s["media_ref"]),
        lambda r: r.startswith("pdf://"),
    )


def _ocr_queue_router(log: CommitLog, chunk_id: int, stream_ns: str):
    """Side-output callback for _write_chunk: scanned documents (text-free
    pages with images) land in ``ocr_queue/chunk-*`` with their pdf:// refs,
    so a downstream OCR stage consumes the queue without rescanning the
    corpus (the reference's P6 force-OCR retry, docling_processor.py:235-239,
    as a routed pipeline stage).

    Two-phase so a visible queue directory always implies a COMMITTED
    chunk: the parquet is staged at ``.staging-<owner>-chunk-N`` (hidden
    from consumers globbing ``chunk-*``) before the marker, then atomically
    renamed after the commit flips. A crash before the marker leaves only
    the hidden staging dir (its epoch replays under a NEW chunk id, so the
    stale dir can never shadow real output; ``maintain_ocr_queue`` sweeps
    it); a crash between marker and rename is healed by
    ``maintain_ocr_queue``'s promotion at the next stream start."""

    def side(written: DataFrame):
        queue_root = ocr_queue_root(log)
        # the owner token scopes stream-start sweeps to THIS stream's
        # staging dirs: another routed stream on the same table must never
        # sweep a dir whose writer is merely stalled (see maintain_ocr_queue)
        staging = os.path.join(
            queue_root,
            f".staging-{_ns_token(stream_ns)}-chunk-{chunk_id:06d}",
        )
        final = os.path.join(queue_root, f"chunk-{chunk_id:06d}")
        (
            written.where(needs_ocr_pred())
            .select(
                "doc_id",
                F.coalesce(
                    F.element_at("scores", "pages_empty_with_images"),
                    F.lit(0.0),
                )
                .cast("int")
                .alias("pages_needing_ocr"),
                ocr_candidate_refs().alias("media_refs"),
            )
            .write.mode("overwrite")
            .parquet(staging)
        )

        def publish() -> None:
            try:
                os.rename(staging, final)
            except OSError:
                # a racing maintain_ocr_queue saw the committed marker and
                # promoted our staging dir between commit and this rename —
                # the publish's effect is already in place, not an error
                if os.path.isdir(final) and not os.path.exists(staging):
                    return
                raise

        return publish

    return side


def maintain_ocr_queue(
    log: CommitLog,
    grace_s: float = 3600.0,
    sweep_staging: bool = False,
    owner_ns: str | None = None,
) -> dict:
    """Self-heal the OCR side-output queue against crash windows:

    - a ``.staging-*chunk-N`` whose marker EXISTS is promoted (the writer
      died between commit and publish — the chunk is committed, so its
      queue entry must become visible); any stream's staging qualifies,
      promotion is ownership-blind;
    - a staging dir with NO marker and older than ``grace_s`` is deleted
      (crashed before commit; its epoch replayed under a new chunk id, so
      the content is duplicated elsewhere) — ONLY when ``sweep_staging``
      is true (OFF by default) AND the dir is sweepable by THIS caller:
      an unmarked staging dir can belong to a LIVE stage-1 writer
      mid-commit — a micro-batch stalled past ``grace_s`` between staging
      write and marker commit would have its dir swept, then commit, then
      fail publish, and on restart the epoch is skipped as done, losing
      that committed chunk's queue entry permanently. Staging dirs are
      stamped with their stream's owner token (``_ns_token``), and a sweep
      only touches dirs carrying the token of ``owner_ns`` — the routed
      stream's own start (serialized against other writers of that SAME
      stream by Spark's checkpoint lock) passes its namespace and can
      only ever sweep its own dead dirs, never a DIFFERENT live routed
      stream's on the same table. Legacy pre-token ``.staging-chunk-N``
      dirs are swept by any ``sweep_staging=True`` caller (their writers
      predate the upgrade and are gone). Maintenance jobs and the stage-2
      consumer keep the default (no staging sweep at all);
    - a visible ``chunk-N`` with NO marker (legacy pre-two-phase leftover)
      is deleted after the grace period regardless — the current producer
      only ever makes a dir visible AFTER its marker commits, so a visible
      unmarked dir can never be a live writer's, and leaving it would feed
      the consumer duplicate refs forever.

    Promotion on marker existence alone is sound because chunk ids are
    never reused (``reserve_chunk_id``'s highwater survives
    ``gc_orphans``): marker N and staging N can only come from the same
    reservation, never from an unrelated later writer adopting a dead
    chunk's id. Concurrent maintainers/publishers are tolerated
    throughout: promotion races are benign (both sides tolerate
    already-published) and an entry renamed away between the listdir
    snapshot and its mtime stat is simply skipped."""
    import shutil
    import time as _time

    queue_root = ocr_queue_root(log)
    out = {"promoted": [], "removed": []}
    if not os.path.isdir(queue_root):
        return out
    marked = {c["chunk_id"] for c in log.committed_chunks()}
    cutoff = _time.time() - grace_s
    own = _ns_token(owner_ns) if owner_ns is not None else None

    def _stale(path: str) -> bool:
        # a racing promoter/publisher may rename the entry away between
        # our listdir snapshot and this stat: the entry is healed, skip it
        try:
            return os.path.getmtime(path) < cutoff
        except FileNotFoundError:
            return False

    for name in sorted(os.listdir(queue_root)):
        path = os.path.join(queue_root, name)
        try:
            cid = int(name.rsplit("-", 1)[1])
        except (IndexError, ValueError):
            # stray entry (editor backup, manual copy) — not ours to manage,
            # and it must not abort stream start (same guard as gc_orphans)
            continue
        if name.startswith(".staging-"):
            # ".staging-<token>-chunk-N" (owned) or ".staging-chunk-N"
            # (legacy pre-token)
            mid = name[len(".staging-"):]
            if not ("-chunk-" in mid or mid.startswith("chunk-")):
                continue
            token = mid.split("-chunk-", 1)[0] if "-chunk-" in mid else None
            if cid in marked:
                final = os.path.join(queue_root, f"chunk-{cid:06d}")
                try:
                    os.rename(path, final)
                    out["promoted"].append(cid)
                except OSError:
                    # already published — by the live writer's publish() or
                    # a racing maintainer (either racing past our listdir
                    # snapshot); sweep any leftover staging dir
                    if not os.path.exists(final):
                        raise
                    if os.path.exists(path):
                        shutil.rmtree(path)
            elif (
                sweep_staging
                and (token is None or token == own)
                and _stale(path)
            ):
                shutil.rmtree(path, ignore_errors=True)
                out["removed"].append(path)
        elif name.startswith("chunk-"):
            if cid not in marked and _stale(path):
                shutil.rmtree(path, ignore_errors=True)
                out["removed"].append(path)
    return out


def make_batch_processor(
    spark: SparkSession,
    log: CommitLog,
    n_parts: int = 64,
    num_partitions: int = 32,
    route_needs_ocr: bool = False,
    stream_ns: str = "stream",
    passwords: tuple[bytes, ...] = (),
):
    """foreachBatch callable: (batch_df, epoch_id) -> one committed chunk.

    Replay idempotency is keyed on (stream_ns, epoch_id) recorded in the
    marker metrics, NOT on the chunk id: epoch ids are stable across
    restarts of the same checkpoint, while chunk ids are mkdir-reserved at
    write time (restart-dependent, and shared with concurrent batch
    writers). The old base+epoch scheme broke both ways — a restart
    recomputed base, so a committed-but-uncheckpointed epoch recommitted
    under a new id, and the fixed-id overwrite write could clobber a batch
    writer's reserved directory. ``stream_ns`` (the checkpoint path)
    namespaces epochs so a FRESH checkpoint restarting at epoch 0 is not
    confused with an old stream's epoch 0. One active query per checkpoint
    (Spark enforces this via the checkpoint lock) keeps the epoch check
    race-free.

    The marker, not the Spark checkpoint, is the source of truth for what
    reached the table. ``route_needs_ocr``: see ``_ocr_queue_router``.
    """
    existing = log.n_parts()
    if existing is not None and existing != n_parts:
        # same refusal as run_extraction, surfaced at stream START with the
        # remedy, instead of as a CommitConflict after the first micro-batch
        # (commit_chunk enforces it too — the commit layer is the backstop)
        raise ValueError(
            f"table at {log.root} was written with n_parts={existing}; "
            f"refusing to stream-append with n_parts={n_parts} — pass "
            f"n_parts={existing} or target a fresh table root"
        )
    if route_needs_ocr:
        # heal the commit->publish crash window before processing anything;
        # this is the stream's own start (serialized by the checkpoint
        # lock), the ONLY caller allowed to sweep stale unmarked staging
        # dirs — and only its OWN (owner_ns scopes the sweep, so a second
        # routed stream's live staging on the same table is never touched)
        maintain_ocr_queue(log, sweep_staging=True, owner_ns=stream_ns)
    done_epochs = {
        m["epoch"]
        for c in log.committed_chunks()
        for m in [c.get("metrics") or {}]
        if m.get("stream") == stream_ns and m.get("epoch") is not None
    }

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        eid = int(epoch_id)
        if eid in done_epochs:  # replayed epoch after restart
            return
        extracted = extract_documents(
            batch_df,
            n_parts=n_parts,
            num_partitions=num_partitions,
            passwords=passwords,
        )
        chunk_id = log.reserve_chunk_id()
        side = (
            _ocr_queue_router(log, chunk_id, stream_ns)
            if route_needs_ocr
            else None
        )
        _write_chunk(
            spark,
            log,
            extracted,
            chunk_id,
            chunk_parts=None,  # derived from the written data
            n_parts=n_parts,
            extra_metrics={"epoch": eid, "stream": stream_ns},
            side_output=side,
        )
        done_epochs.add(eid)

    return process_batch


def start_extraction_stream(
    spark: SparkSession,
    input_dir: str,
    log: CommitLog,
    checkpoint_dir: str,
    n_parts: int = 64,
    num_partitions: int = 32,
    max_files_per_trigger: int = 4,
    route_needs_ocr: bool = False,
    fmt: str = "parquet",
    passwords: tuple[bytes, ...] = (),
) -> StreamingQuery:
    """Incremental extraction: each micro-batch becomes one committed chunk.

    Replays after a crash are idempotent: each marker records its
    (checkpoint, epoch) and an epoch already present in the log is skipped
    (see make_batch_processor).
    """
    process_batch = make_batch_processor(
        spark, log, n_parts=n_parts,
        num_partitions=num_partitions, route_needs_ocr=route_needs_ocr,
        passwords=passwords,
        stream_ns=os.path.realpath(checkpoint_dir),
    )
    return (
        stream_documents(spark, input_dir, max_files_per_trigger, fmt=fmt)
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def windowed_lineage_counts(lineage: DataFrame) -> DataFrame:
    """Tumbling event-time window over lineage commits (the A8 shape as a
    streaming-style windowed agg; watermark applies when fed a stream)."""
    src = lineage
    if lineage.isStreaming:
        src = lineage.withWatermark("committed_at", "10 minutes")
    return (
        src.groupBy(F.window("committed_at", "1 minute").alias("w"))
        .agg(
            F.sum("docs_done").alias("docs_done"),
            F.sum("parse_failures").alias("parse_failures"),
        )
        .select(F.col("w.start").alias("window_start"), "docs_done", "parse_failures")
    )
