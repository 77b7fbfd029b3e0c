"""The extraction pipeline: DataFrame orchestration around the Arrow kernel.

Replaces the reference's sequential driver loop (``dashboard.py:588`` — one
file at a time, no file-level parallelism) with a declarative plan:

    documents --(part-keyed exchange: whole parts per task)--> mapInArrow(extract)
              --> extracted spans + per-doc metrics --> committed parquet +
              an observed per-chunk rollup (see lineage.py)

All per-document logic lives in ``core/`` (pure Python) and runs inside
vectorized Arrow batches — never per-row Python UDFs (BASELINE.json:input_hint).
The same stage takes ingest documents and the binary staging table
(spark/staging.py): the kernel reads the span payload's type.

Scale notes (100 TB / 1000 executors):
- ``part_id`` is a *logical* processing-partition id, a pure function of
  doc_id — stable across cluster sizes and reruns, so resume anti-joins are
  meaningful regardless of physical partitioning.
- The parse exchange routes each row to a task that holds its whole part
  (``balance_partitions``), so every committed part is one parquet file.
  A chunk with more parts than cores runs ONE wave of ``defaultParallelism``
  Python tasks, its parts packed by measured payload bytes (largest part
  onto the lightest task); a chunk with no more parts than cores splits
  each part over several tasks instead of leaving cores idle; an explicit
  ``num_partitions`` sets the task count (whole parts grouped below
  ``len(parts)``, parts split above it). Python tasks are few and large
  because each has a fixed cost whatever its size (~0.09 core-s on a
  4-CPU host, see ``balance_partitions``). ``parts_per_chunk`` is
  therefore only the commit (work-at-risk) granularity, not the parse
  parallelism.
- Skew: ``part_id`` is itself a per-document hash, so a part is a uniform
  sample of the corpus, and the size-balanced packing puts the parts that
  drew the ~1% giant-PDF tail on different cores instead of serializing
  one straggler (SURVEY.md §4 item 1; see ``balance_partitions`` for why
  the earlier size-salted RANGE repartition was measurably wrong on true
  byte skew). There is no join here, so AQE skew-join can't help.
- The extraction stage has NO shuffle other than that single explicit
  exchange; parquet scan prunes to (doc_id, spans, part-key columns) only.
"""

from __future__ import annotations

import heapq

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

SPAN_STRUCT = StructType(
    [
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("offset", IntegerType()),
    ]
)

DOCUMENTS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("spans", ArrayType(SPAN_STRUCT)),
    ]
)

EXTRACTED_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("spans", ArrayType(SPAN_STRUCT)),
        StructField("pages_parsed", IntegerType()),
        StructField("spans_emitted", IntegerType()),
        StructField("parse_failures", IntegerType()),
        StructField("duration_ms", LongType()),
        # per-doc quality scores (Docling confidence analogue,
        # docling_processor.py:135-144) — SURVEY.md §1.4's MAP column
        StructField("scores", MapType(StringType(), DoubleType())),
        StructField("part_id", IntegerType()),
    ]
)


def assign_part_id(df: DataFrame, n_parts: int) -> DataFrame:
    """Stable logical partition id: pmod(xxhash64(doc_id), n_parts).

    The resume/commit unit (analogue of the reference's one-result-JSON-per-
    file checkpoint granularity, helper.py:51-70, coarsened to partition
    granularity for 10^12-doc scale)."""
    return df.withColumn("part_id", F.pmod(F.xxhash64("doc_id"), F.lit(n_parts)).cast("int"))


def int_list(ids) -> str:
    """``ids`` as one SQL literal list body (``3,5,7``): a literal list
    built by ``F.expr`` costs one py4j call, where ``isin`` or
    ``F.array(*map(F.lit, ...))`` pays one per value (16,384 part ids:
    6-7 s of plan build through ``isin``, under 0.5 s as one literal)."""
    return ",".join(str(int(i)) for i in ids)


def in_parts(parts) -> Column:
    """``part_id IN (parts)`` as one SQL literal (see :func:`int_list`)."""
    parts = list(parts)
    return F.expr(f"part_id IN ({int_list(parts)})") if parts else F.lit(False)


def lpt_bins(sizes, n_bins: int) -> list[int]:
    """Longest-processing-time packing: the bin of each item of ``sizes``.

    Items go largest first (ties by position) onto the currently lightest
    bin (ties by bin index), so the result is deterministic and the
    heaviest bin holds at most ``sum(sizes) / n_bins + max(sizes)``."""
    loads = [(0, b) for b in range(n_bins)]
    out = [0] * len(sizes)
    for i in sorted(range(len(sizes)), key=lambda i: (-sizes[i], i)):
        load, b = heapq.heappop(loads)
        out[i] = b
        heapq.heappush(loads, (load + sizes[i], b))
    return out


def sized_wave(spark, n_chunk_parts: int, num_partitions: int | None) -> bool:
    """Whether a chunk of ``n_chunk_parts`` parts runs as one size-balanced
    wave (:func:`balance_partitions`): only with more parts than cores and
    no explicit task count, so a chunk that fits the cores pays no sizing
    pass (:func:`part_bytes`)."""
    return num_partitions is None and n_chunk_parts > spark.sparkContext.defaultParallelism


def part_bytes(df: DataFrame) -> dict[int, int]:
    """Span payload bytes per ``part_id`` of ``df`` (which carries
    ``part_id``): one JVM-only aggregation, no Python task. The payload is
    the span struct's second field, ``text`` for ingest rows and
    ``payload`` for the staging table."""
    payload = df.schema["spans"].dataType.elementType.fieldNames()[1]
    n_bytes = F.expr(
        f"aggregate(spans, 0L, (a, s) -> a + coalesce(octet_length(s.{payload}), 0))"
    )
    rows = df.groupBy("part_id").agg(F.sum(n_bytes).alias("b")).collect()
    return {r["part_id"]: r["b"] or 0 for r in rows}


def balance_partitions(
    df: DataFrame,
    parts,
    num_partitions: int | None = None,
    sizes: dict[int, int] | None = None,
) -> DataFrame:
    """Physical exchange before the parse stage: whole parts per task.

    ``df`` carries ``part_id`` (``assign_part_id``); ``parts`` lists the
    part ids being extracted. Each row goes to a task through
    ``repartitionById``; the task count is ``num_partitions`` if given,
    else ``defaultParallelism`` when ``sizes`` (payload bytes by part,
    :func:`part_bytes`) are given and there are more parts than that,
    else ``max(len(parts), defaultParallelism)``:

    - sized, more parts than cores: ONE wave of ``defaultParallelism``
      tasks, whole parts packed by :func:`lpt_bins` over their bytes;
    - ``len(parts)`` tasks: one task per part, at the part's dense
      position in ``parts``;
    - fewer tasks than parts: whole parts grouped by ``position % tasks``;
    - more tasks than parts (fewer parts than cores, e.g. a one-part
      refresh): each part is split into ``ceil(tasks / len(parts))``
      sub-slots by a second doc_id hash, so no task mixes parts and the
      cores stay busy.

    In every case but the split a part stays whole in one task, so it
    commits as one parquet file. The part lists reach the plan as one SQL
    literal each (:func:`int_list`).

    Why one wave: every Python task has a fixed cost whatever its row
    count. Parsing and writing 200 mixed docs in 32 rather than 4 tasks
    on a 4-CPU host cost ~0.09 core-s of executor time per extra task
    (the Arrow/Python worker hand-off and the partitioned parquet write;
    the worker wrappers already pin the launch archives,
    ``shipping.pin_launch_archives``, without which a one-row task cost
    ~0.28 core-s). A 16-part chunk on 4 cores ran its 16 tasks in 4
    waves; see BENCH/BASELINE.md §"One parse wave per chunk" for the
    end-to-end effect.

    Skew: ``part_id`` IS ``pmod(xxhash64(doc_id), n_parts)``, so the
    unsized paths are a uniform per-document hash scatter with the part
    as the bin; for a map-only stage the expected max-giants-per-bin is
    the balls-in-bins maximum, a small constant multiple of one giant's
    cost. Packing several parts per task must not give that up: grouping
    by position put 53.6% of an adversarial corpus's bytes (a 1% giant
    tail with ~90% of the bytes, 32 parts) into one of 4 tasks, LPT over
    the measured part bytes 25.0%. A row-weighted scheme is worse still
    (the round-3 range repartition over (size class, salt, doc_id): range
    boundaries come from row-proportional sampling, so a 1%-of-rows giant
    class funnelled into ONE partition; BENCH/BASELINE.md's "Skew A/B"
    section measured it worse than no exchange). Salting-by-key remains
    the right tool for skewed JOIN/AGG keys (see ops/dedup.py,
    ops/training.py) — here there is no key, and hash(doc_id) IS the salt.
    """
    parts = list(parts)
    k = max(1, len(parts))
    cores = df.sparkSession.sparkContext.defaultParallelism
    dense = parts == list(range(k))
    # 1-based position of the row's part in ``parts``
    pos = "part_id + 1" if dense else f"int(array_position(array({int_list(parts)}), part_id))"
    if sizes is not None and sized_wave(df.sparkSession, k, num_partitions):
        bins = lpt_bins([sizes.get(p, 0) for p in parts], cores)
        return df.repartitionById(
            cores, F.expr(f"element_at(array({int_list(bins)}), {pos})").cast("int")
        )
    n = num_partitions or max(k, cores)
    slot = F.col("part_id") if dense else F.expr(f"{pos} - 1")
    if n <= k:
        return df.repartitionById(n, slot.cast("int"))
    split = -(-n // k)
    sub = F.pmod(F.hash("doc_id"), F.lit(split))
    return df.repartitionById(k * split, (slot * split + sub).cast("int"))


def _make_extract_batches_arrow(passwords: tuple[bytes, ...] = ()):
    """Columnar Arrow kernel wrapper factory (mapInArrow).

    A "_password" input column (see ``extract_documents`` password_col)
    supplies PER-DOCUMENT candidates tried before the global list — the
    manifest workflow that avoids paying every candidate's V5 key
    derivation on every locked doc.

    Serves both input encodings: the span payload field is read by
    position, so ingest spans arrive as ``str`` and staging-table spans
    (spark/staging.py) as ``bytes``, and ``extract_document`` picks the
    decode from that type (the byte-identical differential contract in
    tests/test_staging.py).

    Never materializes a Python dict per span: input spans are read as four
    flat primitive lists via ``ListArray.flatten()`` + field extraction, and
    output spans are rebuilt columnar with ``StructArray.from_arrays`` +
    ``ListArray.from_arrays``. Only the per-document kernel call remains
    row-wise — that's the extraction itself. It measured at wall-clock
    parity with the retired pandas wrapper (both ~900 docs/s at
    local[8] on the heavy corpus of a 32-CPU host; the parse kernel
    dominates), but allocates no per-span dicts and no pandas frames, which
    matters for worker memory at 50-page-PDF batch sizes.
    """

    def _gen(batches):
        import pyarrow as pa

        from pdf_extractor_spark.core.extractor import extract_document
        from pdf_extractor_spark.shipping import pin_launch_archives

        pin_launch_archives()

        def extract_fn(spans, doc_pw=None):
            cands = (
                passwords
                if doc_pw is None
                else (doc_pw.encode("utf-8"), *passwords)
            )
            return extract_document(spans, passwords=cands)

        span_type = pa.struct(
            [
                ("kind", pa.string()),
                ("text", pa.string()),
                ("media_ref", pa.string()),
                ("offset", pa.int32()),
            ]
        )

        yield from _extract_record_batches(pa, extract_fn, span_type, batches)

    return _gen


def _extract_record_batches(pa, extract_fn, span_type, batches):
    for rb in batches:
        names = rb.schema.names
        doc_ids = rb.column(names.index("doc_id")).to_pylist()
        spans_col = rb.column(names.index("spans"))
        has_part = "part_id" in names
        parts = rb.column(names.index("part_id")).to_pylist() if has_part else None
        pw_col = (
            rb.column(names.index("_password")).to_pylist()
            if "_password" in names
            else None
        )
        n = len(doc_ids)

        lengths = spans_col.value_lengths().to_pylist()
        flat = spans_col.flatten()
        in_kind = flat.field(0).to_pylist()
        in_text = flat.field(1).to_pylist()
        in_ref = flat.field(2).to_pylist()
        in_off = flat.field(3).to_pylist()

        out_kind: list[str] = []
        out_text: list[str] = []
        out_ref: list[str] = []
        out_off: list[int] = []
        list_offsets = [0]
        pages_l: list[int] = []
        emitted_l: list[int] = []
        failures_l: list[int] = []
        duration_l: list[int] = []
        score_keys: list[str] = []
        score_vals: list[float] = []
        score_offsets = [0]

        pos = 0
        for i in range(n):
            ln = lengths[i] or 0
            spans = list(
                zip(
                    in_kind[pos : pos + ln],
                    in_text[pos : pos + ln],
                    in_ref[pos : pos + ln],
                    in_off[pos : pos + ln],
                )
            )
            pos += ln
            res = extract_fn(spans, pw_col[i] if pw_col is not None else None)
            for k, t, m, o in res.spans:
                out_kind.append(k)
                out_text.append(t)
                out_ref.append(m)
                out_off.append(o)
            list_offsets.append(len(out_kind))
            pages_l.append(res.pages_parsed)
            emitted_l.append(res.spans_emitted)
            failures_l.append(res.parse_failures)
            duration_l.append(res.duration_ms)
            for k, v in res.scores.items():
                score_keys.append(k)
                score_vals.append(v)
            score_offsets.append(len(score_keys))

        struct = pa.StructArray.from_arrays(
            [
                pa.array(out_kind, pa.string()),
                pa.array(out_text, pa.string()),
                pa.array(out_ref, pa.string()),
                pa.array(out_off, pa.int32()),
            ],
            fields=list(span_type),
        )
        spans_out = pa.ListArray.from_arrays(pa.array(list_offsets, pa.int32()), struct)
        scores_out = pa.MapArray.from_arrays(
            pa.array(score_offsets, pa.int32()),
            pa.array(score_keys, pa.string()),
            pa.array(score_vals, pa.float64()),
        )
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(doc_ids, pa.string()),
                spans_out,
                pa.array(pages_l, pa.int32()),
                pa.array(emitted_l, pa.int32()),
                pa.array(failures_l, pa.int32()),
                pa.array(duration_l, pa.int64()),
                scores_out,
                pa.array(parts if has_part else [-1] * n, pa.int32()),
            ],
            names=[
                "doc_id",
                "spans",
                "pages_parsed",
                "spans_emitted",
                "parse_failures",
                "duration_ms",
                "scores",
                "part_id",
            ],
        )


def extract_documents(
    df: DataFrame,
    n_parts: int = 256,
    num_partitions: int | None = None,
    passwords: tuple[bytes, ...] = (),
    password_col: str | None = None,
    parts: list[int] | None = None,
    sizes: dict[int, int] | None = None,
) -> DataFrame:
    """documents(doc_id, spans) -> extracted(doc_id, spans, metrics..., part_id).

    The whole reference extraction loop (dashboard.py:588 + processor page
    loops) as one declarative stage. Lazy — call .write / lineage.commit to
    execute. ``df`` is either an ingest frame (``DOCUMENTS_SCHEMA``) or a
    staging table (``staging.STAGED_SCHEMA``, binary payloads); both
    extract to byte-identical output.

    ``passwords`` are GLOBAL candidate passwords for encrypted pdf spans;
    ``password_col`` names an input column carrying a PER-DOCUMENT
    candidate (null = none — a manifest of (doc_id, password) left-joined
    onto the corpus), tried before the global list. Per-doc is the shape
    that scales: the V5/R6 key derivation is a deliberate ~0.3 s work
    factor, so trying a global list of N candidates on every locked doc
    costs N derivations where the manifest pays one.

    ``parts`` lists the part ids to extract (default ``range(n_parts)``);
    rows of other parts are dropped here, so the exchange never sees a part
    it has no slot for. ``sizes`` (payload bytes by part,
    :func:`part_bytes`) lets a list of more parts than cores run as one
    wave of ``defaultParallelism`` tasks; the task count rules are
    ``balance_partitions``'.
    """
    if password_col is not None:
        df = df.select(
            "doc_id", "spans", F.col(password_col).alias("_password")
        )
    else:
        df = df.select("doc_id", "spans")
    df = assign_part_id(df, n_parts)
    if parts is None:
        parts = range(n_parts)
    else:
        df = df.filter(in_parts(parts))
    df = balance_partitions(df, parts, num_partitions, sizes)
    return df.mapInArrow(
        _make_extract_batches_arrow(passwords), schema=EXTRACTED_SCHEMA
    )
