"""Terminal export sinks for committed extraction output.

Reference S8 (``zip_for_download``, dashboard.py:79-96): the Streamlit app
zips the results directory for a browser download, then DELETES results +
temp. Re-expressed for a pipeline engine: render the committed output to
per-document markdown and pack one deterministic zip archive — the
download artifact a user hands off, not a data-plane sink. The reference's
destructive cleanup is deliberately NOT mirrored here: deleting committed
data is the retention job's decision (``CommitLog.expire_snapshots``, the
S10 analogue), never a side effect of exporting.

Scale shape: markdown rendering is a JVM-side column expression evaluated
distributed (same expression as the ``render_markdown`` query); only the
final byte packing runs on the driver via ``toLocalIterator`` — one
partition in memory at a time — because the zip FORMAT is a single
sequential file. At 100 TB nobody zips the corpus; this sink is for
human-sized result sets (a filtered report, one tenant's documents), and
the data-plane export path remains the parquet/markdown table writers.
When the result set outgrows one driver-streamed archive,
``export_markdown_zip_sharded`` packs N deterministic archives executor-
side via ``foreachPartition`` (doc -> shard by ``pmod(xxhash64(doc_id),
N)``), keeping the single-zip default for reference parity.
"""

from __future__ import annotations

import os
import re
import uuid
import zipfile

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .curate import apply_kept_filters
from .lineage import CommitLog

# fixed timestamp so export bytes depend only on the data (zip stores no
# tz; 1980-01-01 is the format's epoch)
_ZIP_EPOCH = (1980, 1, 1, 0, 0, 0)


def markdown_expr(spans: Column | str) -> Column:
    """Markdown rendering of an extracted ``spans`` array as a pure column
    expression (reference S7 export path, docling_processor.py:241-246):
    text spans become '## Span N' sections, media spans become image
    links — followed by a blockquote of the span's text when one exists
    (recovered OCR text folded in by ``merge_ocr_text``; extraction itself
    always leaves media text empty, so plain pipelines render
    byte-identically to before). JVM-side, no Python.

    Nullable fields are coalesced to '' (the kernel's own ``or ""``): the
    kernel never emits null text/media_ref, but this expression also runs
    over ANY committed table (an externally-written or hand-repaired row)
    — without the coalesce, F.concat propagates the NULL and array_join
    then silently DROPS the whole span from the archive bytes, with only
    a skipped '## Span N' number as evidence."""
    return F.array_join(
        F.transform(
            spans,
            lambda s: F.when(
                s["kind"] == "media",
                F.concat(
                    F.lit("!["),
                    s["kind"],
                    F.lit("]("),
                    F.coalesce(s["media_ref"], F.lit("")),
                    F.lit(")"),
                    F.when(
                        s["text"].isNotNull() & (s["text"] != ""),
                        F.concat(F.lit("\n\n> "), s["text"]),
                    ).otherwise(F.lit("")),
                ),
            ).otherwise(
                F.concat(
                    F.lit("## Span "),
                    (s["offset"] + 1).cast("string"),
                    F.lit("\n\n"),
                    F.coalesce(s["text"], F.lit("")),
                )
            ),
        ),
        "\n\n",
    )


def _markdown_frame(
    spark: SparkSession,
    root: str,
    as_of: int | None,
    ocr_from: str | None,
    kept_from: str | None,
    drop_neardups_from: str | None,
) -> DataFrame:
    """The committed documents an export renders: read at ``as_of``,
    filtered by the kept view (spark/curate.apply_kept_filters) of the
    curate table at ``kept_from`` and the near-dup table at
    ``drop_neardups_from``, either or both, then OCR text merged (filters
    first, so no text is recovered for a dropped doc)."""
    df = apply_kept_filters(
        spark,
        CommitLog(root).read_extracted(spark, as_of=as_of),
        CommitLog(kept_from) if kept_from is not None else None,
        CommitLog(drop_neardups_from) if drop_neardups_from is not None else None,
    )
    if ocr_from is not None:
        from .ocr import merge_ocr_text, read_ocr_text

        df = merge_ocr_text(df, read_ocr_text(spark, CommitLog(ocr_from)))
    return df


def export_markdown_zip(
    spark: SparkSession,
    root: str,
    zip_path: str,
    as_of: int | None = None,
    ocr_from: str | None = None,
    kept_from: str | None = None,
    drop_neardups_from: str | None = None,
) -> int:
    """Export every committed document as ``<doc_id>.md`` inside one zip.

    Entries are sorted by doc_id and carry a fixed timestamp, so the
    archive bytes are a pure function of the committed snapshot (``as_of``
    time-travels like every other read) — plus, when ``ocr_from`` names
    an OCR table root (spark/ocr.py), of that table: recovered OCR text
    is folded into the spans (``merge_ocr_text``) before rendering, so
    scanned documents export with their recovered content as blockquotes
    under the media links. Returns the number of documents written.
    Streams partition-by-partition; never collects the table.
    """
    df = _markdown_frame(
        spark, root, as_of, ocr_from, kept_from, drop_neardups_from
    )
    md = df.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        markdown_expr("spans").alias("markdown"),
    ).orderBy("doc_id", "markdown")
    # the secondary key keeps the archive deterministic even when the table
    # holds duplicate doc_ids (watch appends deliver a doc that is in two
    # drop files twice): which duplicate gets 'X.md' vs 'X~1.md' must not
    # depend on partition arrival order
    # unique temp name: two concurrent exports to the same path must each
    # build their own archive and race only on the final atomic rename
    # (last-publish-wins), never interleave writes into one file
    return _write_zip_atomic(zip_path, md.toLocalIterator())


def _write_zip_atomic(zip_path: str, rows) -> int:
    """Pack (doc_id, markdown) rows — already in final entry order — into
    ``zip_path`` via a unique temp name + atomic rename: readers never see
    a partial file, and two concurrent writers race only on the final
    ``os.replace`` (last-publish-wins), never interleave into one file.
    Returns the entry count."""
    tmp = f"{zip_path}.inprogress-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    n = 0
    seen: set[str] = set()
    os.makedirs(os.path.dirname(os.path.abspath(zip_path)), exist_ok=True)
    try:
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
            for row in rows:
                name = _entry_name(row["doc_id"], seen)
                info = zipfile.ZipInfo(name, date_time=_ZIP_EPOCH)
                info.compress_type = zipfile.ZIP_DEFLATED
                zf.writestr(info, (row["markdown"] or "").encode("utf-8"))
                n += 1
        os.replace(tmp, zip_path)  # atomic: readers never see a partial file
    except BaseException:
        try:
            os.unlink(tmp)
        except OSError:
            pass
        raise
    return n


def shard_zip_name(shard: int) -> str:
    return f"shard-{shard:05d}.zip"


def export_markdown_zip_sharded(
    spark: SparkSession,
    root: str,
    out_dir: str,
    n_shards: int,
    as_of: int | None = None,
    ocr_from: str | None = None,
    kept_from: str | None = None,
    drop_neardups_from: str | None = None,
) -> int:
    """Sharded variant of :func:`export_markdown_zip`: exactly ``n_shards``
    zip archives under ``out_dir`` (``shard-00000.zip`` ...), written by
    the EXECUTORS via ``foreachPartition`` — the driver never streams the
    bytes, so export throughput scales with the cluster instead of being
    bound by one driver-side ``toLocalIterator`` loop (the single-archive
    default keeps reference parity, dashboard.py:79-96).

    Determinism: a document's shard is ``pmod(xxhash64(doc_id), n_shards)``
    — a pure function of the doc_id, stable across runs and cluster sizes —
    and entries within a shard are sorted (doc_id, markdown) with fixed
    timestamps, so every shard's BYTES are a pure function of the committed
    snapshot. Duplicate doc_ids hash identically, so the ~N collision
    suffixes stay intra-shard and archive-deterministic. A retried or
    speculative task rebuilds byte-identical archives and the atomic
    rename makes either attempt's publish equivalent.

    Empty shards (no doc hashes to them) are backfilled with empty zips
    driver-side, so exactly ``n_shards`` files always exist — a consumer
    can glob-and-count to verify completeness.

    Publish is whole-directory: every shard lands in a per-export staging
    dir first, which the driver renames into place at the end — so like
    the single-zip path, concurrent exports to the same ``out_dir`` race
    only on the final renames (last-publish-wins) and a reader can never
    observe a MIXED-snapshot shard set (at worst a brief ENOENT between a
    loser's retire-and-republish renames).

    ``out_dir`` must be a filesystem all executors share (posix mount in
    this sandbox's local mode; object-store mounts in production — the
    same contract every file sink has). Returns total documents written.
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    df = _markdown_frame(
        spark, root, as_of, ocr_from, kept_from, drop_neardups_from
    )
    md = (
        df.select(
            F.col("doc_id").cast("string").alias("doc_id"),
            markdown_expr("spans").alias("markdown"),
        )
        .withColumn("shard", F.pmod(F.xxhash64("doc_id"), F.lit(n_shards)))
        # one shuffle on the shard id; a physical partition may receive
        # several shard values (hash-of-hash collision) or none, but one
        # shard value never splits across partitions — the writer below
        # just rolls to a new archive at each shard boundary
        .repartition(n_shards, "shard")
        .sortWithinPartitions("shard", "doc_id", "markdown")
    )
    out_dir = os.path.abspath(out_dir)
    os.makedirs(os.path.dirname(out_dir), exist_ok=True)
    stage = f"{out_dir}.inprogress-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    os.makedirs(stage)
    counts = spark.sparkContext.accumulator(0)

    def _write_partition(rows) -> None:
        import itertools

        for shard, group in itertools.groupby(rows, key=lambda r: r["shard"]):
            path = os.path.join(stage, shard_zip_name(int(shard)))
            counts.add(_write_zip_atomic(path, group))

    try:
        md.foreachPartition(_write_partition)
        # backfill empty archives for shards no document hashed to
        for k in range(n_shards):
            path = os.path.join(stage, shard_zip_name(k))
            if not os.path.exists(path):
                _write_zip_atomic(path, iter(()))
        _publish_dir(stage, out_dir)
    finally:
        import shutil

        shutil.rmtree(stage, ignore_errors=True)
    return counts.value


_PUBLISH_ATTEMPTS = 20


def _publish_dir(stage: str, out_dir: str) -> None:
    """Atomically move a fully-staged export directory into place. When
    ``out_dir`` is absent (or an empty dir) one rename publishes; when a
    previous export occupies it, retire-then-republish — two renames with
    a brief ENOENT window, never a mixed directory (a reader can confirm
    a consistent observation by checking the directory inode is unchanged
    across its reads). Concurrent publishers retire each other
    last-publish-wins; jittered backoff on contended retries keeps two
    back-to-back exporters from lock-step thrashing (a race test hammered
    25 publishes per thread: 5 lock-step attempts deadlined, 20 jittered
    never have)."""
    import random
    import shutil
    import time as _time
    from contextlib import suppress as contextlib_suppress

    for attempt in range(_PUBLISH_ATTEMPTS):
        try:
            os.rename(stage, out_dir)
            return
        except OSError:
            pass  # out_dir exists and is non-empty: retire it
        retired = f"{out_dir}.retired-{uuid.uuid4().hex[:8]}"
        try:
            os.rename(out_dir, retired)
        except FileNotFoundError:
            retired = None  # a racing publisher is mid-swap; back off, retry
        if retired is not None:
            # publish BEFORE deleting the retired previous export: a crash
            # right here leaves the old bytes recoverable at *.retired-*
            # (litter), never a destroyed-old-export + unpublished-new hole
            # with nothing at out_dir at all
            published = False
            try:
                os.rename(stage, out_dir)
                published = True
            except OSError:
                pass  # a rival republished first; out_dir is theirs now
            # out_dir is occupied again (ours or a rival's) — the retired
            # previous export is litter either way
            if os.path.isdir(retired):
                shutil.rmtree(retired, ignore_errors=True)
            else:
                # a prior SINGLE-ZIP export at this path is a regular
                # file; rmtree would silently leave it behind as litter
                with contextlib_suppress(OSError):
                    os.unlink(retired)
            if published:
                return
        if attempt:
            _time.sleep(random.uniform(0, 0.01 * attempt))
    raise RuntimeError(
        f"could not publish export to {out_dir!r} after {_PUBLISH_ATTEMPTS} attempts "
        f"(concurrent exporters thrashing?)"
    )


_UNSAFE_RE = re.compile(r"[^A-Za-z0-9._-]")


def _entry_name(doc_id: str, seen: set[str]) -> str:
    """Archive-safe entry name for arbitrary doc_ids: path separators and
    other unsafe chars become '_' (no zip-slip / surprise subdirectories),
    leading dots are stripped, and a collision after sanitization gets a
    stable ~N suffix so no document silently shadows another."""
    base = _UNSAFE_RE.sub("_", doc_id).lstrip(".") or "doc"
    name = f"{base}.md"
    k = 1
    while name in seen:
        name = f"{base}~{k}.md"
        k += 1
    seen.add(name)
    return name
