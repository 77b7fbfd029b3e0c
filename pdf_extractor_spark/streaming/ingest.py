"""Structured Streaming ingestion for the extraction pipeline.

The reference is batch-only (SURVEY.md §2.9: no watermarks/stateful ops
anywhere), but a 10^12-doc corpus is never static — new documents land
continuously. This module runs the SAME extraction kernel incrementally:

    readStream (file source over documents parquet)
      -> foreachBatch: part-keyed exchange + mapInArrow extract
                       + CommitLog chunk commit (marker metrics and touched
                         parts observed during the data write)

``foreachBatch`` rather than a streaming sink because the commit contract
(atomic marker after the data parquet, spark/lineage.py) must hold for
streaming exactly as for batch — a killed stream resumes from the Spark
checkpoint AND the commit log, and replayed micro-batches are idempotent:
an already-committed epoch is skipped by epoch_id, so end-to-end this is
exactly-once into the commit log.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
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
        from ..ops.jsonl_source import ingest_jsonl

        return ingest_jsonl(reader, input_dir)
    if fmt != "parquet":
        raise ValueError(f"unknown stream format {fmt!r}")
    return reader.schema(DOCUMENTS_SCHEMA).parquet(input_dir)


def make_batch_processor(
    spark: SparkSession,
    log: CommitLog,
    n_parts: int = 64,
    num_partitions: int = 32,
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
    reached the table.
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
        _write_chunk(
            spark,
            log,
            extracted,
            log.reserve_chunk_id(),
            chunk_parts=None,  # observed on the write
            n_parts=n_parts,
            extra_metrics={"epoch": eid, "stream": stream_ns},
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
        num_partitions=num_partitions, passwords=passwords,
        stream_ns=os.path.realpath(checkpoint_dir),
    )
    return (
        stream_documents(spark, input_dir, max_files_per_trigger, fmt=fmt)
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
