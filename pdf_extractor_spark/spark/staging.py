"""Internal binary-payload staging table for multi-pass pipelines.

The INGEST span schema (kind, text, media_ref, offset — all-string text,
pdf bytes base64-in-string) is pinned by the task contract
(BASELINE.json:input_hint) and never changes. But a multi-pass pipeline —
stage once, then re-read the corpus for extraction, dedup, quality, ANN
passes — should not pay the base64 tax on every pass: the 10x profiling run
(BENCH/BASELINE.md) measured that after kernel optimizations the residual
cost is dominated by bytes moved across scan/shuffle/Arrow, and base64
inflates every PDF byte by 4/3 AND forces a per-doc ``b64decode`` in every
consumer.

So the engine stages internally as::

    staged(doc_id STRING,
           spans ARRAY<STRUCT<kind:STRING, payload:BINARY,
                              media_ref:STRING, offset:INT>>)

- ``stage_documents`` converts ingest -> staged in ONE vectorized Arrow
  pass: pdf base64 is strictly decoded exactly once (same ``validate=True``
  semantics as the direct kernel — ``core.extractor.stage_span``; a payload
  that fails strict decode is staged as NULL, the tombstone the parse stage
  turns into the contract's parse-failure). Text/html payloads become their
  UTF-8 bytes (free: parquet stores string pages as UTF-8 already).
- ``pipeline.extract_documents`` reads the staged frame directly: its
  Arrow wrapper hands the ``bytes`` payloads to ``extract_document``,
  which skips the base64 decode for them, so the output is byte-identical
  to the ingest path (differential-tested in ``tests/test_staging.py``).

Scale math (why this is the right 100-TB shape): a PDF-heavy corpus staged
this way shrinks the *on-disk* table ~25% (base64 also defeats parquet's
byte-stream-split/dictionary tricks), and every downstream pass saves that
25% again in scan + shuffle + Arrow transfer, plus one b64decode per doc
per pass. Measured numbers live in BENCH/BASELINE.md §"Binary staging".
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

STAGED_SPAN_STRUCT = StructType(
    [
        StructField("kind", StringType()),
        StructField("payload", BinaryType()),
        StructField("media_ref", StringType()),
        StructField("offset", IntegerType()),
    ]
)

STAGED_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("spans", ArrayType(STAGED_SPAN_STRUCT)),
    ]
)


def _stage_batches_arrow(batches):
    """documents(doc_id, spans<text>) -> staged(doc_id, spans<binary>).

    Flat per-span conversion: list offsets pass through untouched (staging
    never reorders or renumbers — the parse stage owns offset semantics),
    only the payload encoding changes. No per-span dicts, no pandas.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    from pdf_extractor_spark.core.extractor import stage_span

    staged_type = pa.struct(
        [
            ("kind", pa.string()),
            ("payload", pa.binary()),
            ("media_ref", pa.string()),
            ("offset", pa.int32()),
        ]
    )

    for rb in batches:
        names = rb.schema.names
        doc_ids = rb.column(names.index("doc_id"))
        spans_col = rb.column(names.index("spans"))

        lengths = spans_col.value_lengths().to_pylist()
        flat = spans_col.flatten()
        kinds = flat.field(0)
        texts = flat.field(1)
        in_ref = flat.field(2)
        in_off = flat.field(3)

        # text/html payloads really are free: string -> binary is a
        # zero-copy cast of the existing UTF-8 buffers. Only pdf slots
        # round-trip through Python (the strict base64 decode), scattered
        # back via if_else — no full-column to_pylist on non-pdf corpora.
        # Measured on this box (3000 mixed docs): 105 -> 79 ms vs the
        # all-Python span loop; the all-pdf branch keeps the direct decode
        # because cast + if_else only adds copies when every slot decodes
        # anyway (600 heavy docs: 38 ms direct vs 50 ms scattered).
        pdf_mask = pc.fill_null(pc.equal(kinds, "pdf"), False)
        n_pdf = pc.sum(pdf_mask).as_py() or 0
        if n_pdf == 0:
            payloads = pc.fill_null(texts, "").cast(pa.binary())
        elif n_pdf == len(kinds):
            payloads = pa.array(
                [stage_span("pdf", t) for t in texts.to_pylist()], pa.binary()
            )
        else:
            utf8_payload = pc.fill_null(texts, "").cast(pa.binary())
            idx = pc.indices_nonzero(pdf_mask).to_pylist()
            pdf_texts = texts.take(pa.array(idx, pa.int64())).to_pylist()
            repl: list[bytes | None] = [None] * len(kinds)
            for j, t in zip(idx, pdf_texts):
                repl[j] = stage_span("pdf", t)
            payloads = pc.if_else(
                pdf_mask, pa.array(repl, pa.binary()), utf8_payload
            )

        struct = pa.StructArray.from_arrays(
            [
                kinds,
                payloads,
                in_ref,
                in_off,
            ],
            fields=list(staged_type),
        )
        list_offsets = [0]
        for ln in lengths:
            list_offsets.append(list_offsets[-1] + (ln or 0))
        # a NULL spans row (allowed by DOCUMENTS_SCHEMA, e.g. a JSONL
        # metadata-only doc) must stage as NULL, not as an empty array —
        # the staging table pledges zero semantic change, and `spans IS
        # NULL` predicates must answer the same on staged and direct input
        mask = (
            pa.array([ln is None for ln in lengths])
            if spans_col.null_count
            else None
        )
        spans_out = pa.ListArray.from_arrays(
            pa.array(list_offsets, pa.int32()), struct, mask=mask
        )
        yield pa.RecordBatch.from_arrays([doc_ids, spans_out], names=["doc_id", "spans"])


def stage_documents(df: DataFrame) -> DataFrame:
    """One-time ingest -> staging conversion (lazy; write with
    ``df.write.parquet`` / ``writeTo(...)`` to materialize the staging
    table). Narrow — no shuffle; pipelines straight out of the ingest scan.
    """
    return df.select("doc_id", "spans").mapInArrow(
        _stage_batches_arrow, schema=STAGED_SCHEMA
    )
