"""Shared incremental consumer loop for DERIVED tables over a CommitLog.

Every post-extraction stage (signals, curation verdicts, ...) has the same
shape: read the SOURCE snapshots committed since this stage's cursor,
compute a per-document projection/verdict over exactly that delta, and
commit the result as one chunk of the stage's OWN CommitLog table — with
the consumed source snapshot recorded in the marker (``metrics.
src_snapshot``) so the cursor survives crashes for free. This module is
that loop, factored once (:func:`run_derived_stage`); the six stage
modules are instances, which ``job.py`` calls directly. Each chunk goes
through ``lineage._write_chunk``, the write path of every writer.

Semantics pinned here (stage modules inherit them):

- **Cursor** = max ``src_snapshot`` over the stage table's committed
  markers. A killed run leaves an unmarked (invisible, gc-able) chunk dir;
  the rerun reprocesses the same delta under a fresh chunk id and the
  cursor advances only when the marker flips — exactly-once at snapshot
  granularity.
- **Append-only windows.** A source partition-overwrite changes history in
  place; folding it into an append-shaped delta would strand the untouched
  docs of the overwritten parts. The loop refuses (``ValueError``) and the
  operator reruns with ``rebuild=True``.
- **A rebuild owns every part.** It is one full recompute committed as an
  overwrite chunk whose marker lists ``range(n_parts)``. It replaces the
  whole table, and an overwrite shadows prior chunks only in the parts it
  lists; owning fewer (the source chunks' parts, or the parts its own rows
  land in) would leave stale rows visible after a rebuild over a source
  that no longer covers a part, a shrunken kept scope, or materialize's
  ``ctx % n_parts`` rows.
- **Table properties.** Every key of the ``extra_metrics`` a stage passes
  (curate's ``gates``, neardup/pack's ``scope``, pack/materialize's
  ``cost``, each ``*_version``) is a property of the whole table: a run
  whose value differs from the table's latest record is refused before
  anything is read, since one table must not mix verdicts decided under
  two configurations; ``rebuild=True`` re-decides the table under the new
  value.
- **Commit-order horizon.** The window is markers strictly after the
  cursor's marker in COMMIT order (not chunk-id order): under concurrent
  source writers a low chunk id can commit late and an id-cursor would
  skip it forever.

Scale shape: each run is bounded by its delta, the compute is whatever the
stage's ``compute`` closure builds (signals/curate keep it map-only plus
at most one digest-keyed exchange), and the only required shuffle is the
writer's ``partitionBy(part_id)`` file layout. 100 TB is a chain of these
runs.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from .lineage import CommitConflict, CommitLog, RunReport, _chunk_dirname, _write_chunk


def latest_metric(markers: list[dict], key: str):
    """Last non-null ``metrics[key]`` over an already-parsed
    committed-marker list, in COMMIT order. Every stage-table property
    recovered from markers (the cursor's ``src_snapshot``, neardup/pack's
    ``scope``, curate's ``gates``) derives through this one scan, so the
    commit-order-not-id-order semantics (see :func:`derived_cursor`) can
    never drift between them."""
    out = None
    for c in markers:
        v = (c.get("metrics") or {}).get(key)
        if v is not None:
            out = v
    return out


def derived_cursor(out_log: CommitLog) -> int | None:
    """Source snapshot consumed by the stage's LAST committed chunk.

    Last in COMMIT order, never the numeric max: after a late-committed low
    source chunk id is consumed (window semantics below), the stage's newest
    marker legitimately records a src_snapshot LOWER than an earlier
    marker's. A numeric-max cursor would rewind to the old horizon and
    re-consume that late chunk on every subsequent run, committing duplicate
    derived rows forever. The newest marker's src_snapshot IS the horizon the
    last run read up to — ``incremental_window`` anchors on it in source
    commit order, so nothing before it is ever re-read and nothing after it
    is skipped."""
    return latest_metric(out_log.committed_chunks(), "src_snapshot")


def check_kept_scope(rebuild: bool, kept_from=None, neardup_from=None) -> None:
    """The kept-scope rule of neardup and pack, checked by the stages and
    by ``job.py`` before the JVM starts: a kept scope is rebuild-only (the
    kept set is decided by another table whose verdicts lag and change,
    and the accumulated state does not describe it), and ``neardup_from``
    composes the kept view's flag-validity rule, so it needs ``kept_from``."""
    if kept_from is not None and not rebuild:
        raise ValueError(
            "a kept scope (kept_from, --kept-from / --over-kept) re-decides "
            "a filtered corpus; it requires --rebuild (rebuild=True)"
        )
    if neardup_from is not None and kept_from is None:
        raise ValueError(
            "neardup_from (--drop-neardups-from) composes the kept view's "
            "flag-validity rule; it requires --kept-from (kept_from)"
        )


def run_derived_stage(
    spark: SparkSession,
    src_log: CommitLog,
    out_log: CommitLog,
    stage: str,
    compute: Callable[[DataFrame, int], DataFrame],
    rebuild: bool = False,
    rebuild_compute: Callable[[DataFrame, int], DataFrame] | None = None,
    extra_metrics: dict | None = None,
    src_schema: StructType | None = None,
) -> RunReport:
    """One incremental pass of a derived stage: consume the source
    snapshots committed since the cursor, or (``rebuild=True``) recompute
    everything as one overwrite chunk, written by ``lineage._write_chunk``:
    its marker records ``extra_metrics``, ``stage``, ``src_snapshot``
    (plus ``rebuild``) and the write's observed ``docs``, and a rebuild's
    marker owns every part (module docstring). The keys ``extra_metrics``
    holds at the call are the table's properties (module docstring).

    ``src_schema`` names the SOURCE table's row shape when the source is
    itself a derived table (materialize consumes the pack table); default
    is the extraction schema. The cursor/window/overwrite semantics are
    schema-independent — derived-on-derived chains inherit them whole.

    ``compute`` maps the DELTA extraction rows to the stage's schema;
    ``rebuild_compute`` (default: ``compute``) maps the FULL table — a
    stage whose incremental path consults its own prior output (e.g.
    curate's kept-digest index) passes a self-contained variant here.
    Both are called with the frame and the window horizon (the source
    snapshot id this run consumes up to, which the marker records as
    ``src_snapshot``): a stage whose rows carry a window tag (pack's
    ``pack_epoch``) takes it from here rather than re-listing the source,
    which would race a concurrent source commit.

    Frames a stage's compute persists via ``ops/dedup._persisted``
    (neardup's shingle/candidate tables, pack's sharded prefix-sum frame)
    are fully consumed by the commit write, so this call's ``finally``
    releases them, scoped to the frames THIS call staged — on the job
    path (``job.py neardup``/``pack``, a long-lived session chaining
    incremental runs) nothing else ever releases them, and leaking one
    pinned InMemoryRelation per window grows executor storage without
    bound.
    """
    from ..ops.dedup import _DF_CACHE

    out_chunks = out_log.committed_chunks()
    # first, so a no-op window is guarded too; keys a compute adds later
    # (pack's bpe_rules) are records, not properties
    for key, value in (extra_metrics or {}).items():
        table = latest_metric(out_chunks, key)
        if table is not None and table != value and not rebuild:
            raise ValueError(
                f"{stage} table's {key!r} is {table!r} but this run's is "
                f"{value!r}; one table must not mix windows decided under "
                f"both — run with rebuild=True (job.py {stage} --rebuild)"
            )
    mark = len(_DF_CACHE)
    try:
        src_chunks = src_log.committed_chunks()  # commit order; reused below
        if not src_chunks:
            return RunReport(0, 0, 0, 0)
        latest = src_chunks[-1]["chunk_id"]
        n_parts = src_log.n_parts(chunks=src_chunks)

        if rebuild:
            # markers=src_chunks pins the read to the SAME snapshot `latest`
            # names: a source chunk committed between the listing above and
            # the read would otherwise be folded into the rebuild output but
            # not into the recorded cursor, so the next incremental run would
            # consume it AGAIN — two derived rows per doc, and the earlier
            # rebuild overwrite cannot shadow the later duplicate append
            src_full = (
                src_log.read_extracted(spark, markers=src_chunks)
                if src_schema is None
                else src_log.read_table(spark, src_schema, markers=src_chunks)
            )
            out = (rebuild_compute or compute)(src_full, latest)
            # a source whose markers record no n_parts (legacy layout)
            # can only name the parts its chunks cover
            parts = (
                list(range(n_parts))
                if n_parts is not None
                else sorted({p for c in src_chunks for p in c["part_ids"]})
            )
            validate = None
        else:
            cursor = latest_metric(out_chunks, "src_snapshot")
            if cursor == latest:
                return RunReport(0, 0, 0, 0)
            # THE window definition lives on CommitLog (shared with the scan
            # that reads it, so the overwrite guard below can never drift
            # from what read_incremental actually returns). The horizon is
            # pinned by chunks=src_chunks — ONE marker listing feeds
            # `latest`, the window, and the read, so a source chunk
            # committing mid-run can appear in none of them or all of them,
            # never a mix.
            window = src_log.incremental_window(cursor, chunks=src_chunks)
            if not window:
                return RunReport(0, 0, 0, 0)
            if any(c.get("overwrite") for c in window):
                raise ValueError(
                    "source window contains a partition overwrite; an "
                    "append-shaped delta would strand the untouched docs of "
                    "the overwritten parts — run with rebuild=True "
                    f"(job.py {stage} --rebuild)"
                )
            # a compaction + expire_replaced while this stage lagged deletes
            # the window chunks' DATA while their markers survive — the
            # chunk-pruned scan would then silently read EMPTY and the
            # cursor would advance past the lost history (the same
            # silent-empty class the legacy-layout guard catches);
            # existence-check the bytes the window promises
            reclaimed = [
                c["chunk_id"]
                for c in window
                if not os.path.isdir(
                    os.path.join(src_log.data_dir, _chunk_dirname(c["chunk_id"]))
                )
            ]
            if reclaimed:
                raise ValueError(
                    f"source chunks {reclaimed} in the incremental window "
                    "have no data on disk (compacted and expired while this "
                    "stage lagged); the delta cannot be reconstructed "
                    "incrementally — run with rebuild=True "
                    f"(job.py {stage} --rebuild)"
                )
            delta = src_log.read_incremental(
                spark,
                after=cursor if cursor is not None else -1,
                window=window,
                schema=src_schema,
            )
            out = compute(delta, latest)
            parts = None  # the parts the write touches

            def validate(committed: list[dict]) -> None:
                # optimistic concurrency, checked under the commit lock: a
                # rival run of this stage that committed since we read the
                # cursor has already consumed (some prefix of) this window —
                # publishing ours too would duplicate every doc's derived row
                now = latest_metric(committed, "src_snapshot")
                if now != cursor:
                    raise CommitConflict(
                        f"stage {stage} cursor moved {cursor} -> {now} under "
                        "a concurrent run; not publishing a duplicate window"
                    )

        # built after compute: a stage's compute may add to extra_metrics
        # (pack records the bpe rules its first window derives)
        metrics = {**(extra_metrics or {}), "stage": stage, "src_snapshot": latest}
        written = _write_chunk(
            spark, out_log, out, out_log.reserve_chunk_id(), parts, n_parts,
            overwrite=rebuild, validate=validate,
            extra_metrics={**metrics, "rebuild": True} if rebuild else metrics,
        )
        return RunReport(
            1, len(written["part_ids"] if parts is None else parts), written["docs"], 0
        )
    finally:
        while len(_DF_CACHE) > mark:
            _DF_CACHE.pop().unpersist()
