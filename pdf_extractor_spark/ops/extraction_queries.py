"""Oracle-checkable queries through the REAL extraction kernel.

The driver's testdata ``documents`` table is flat text, so these queries
wrap each row into the engine's interleaved span shape *deterministically*
(messy-whitespace text span / boilerplate-wrapped HTML span / media span /
an invalid-kind span every 17th doc), push it through the actual
``mapInArrow`` extraction pipeline (pipeline.py), and compare against a
DuckDB oracle that predicts the cleaned output in closed form. That makes
the hot path — Arrow batch plumbing, kind routing, clean_text, DOM
boilerplate strip, failure accounting, span ordering — all value-hash
checked, not just pytest-checked.

The PDF parser can't be expressed in SQL; ``extract_pdf_corpus`` runs it on
the deterministic synthetic corpus as a rows-only check (the pytest suite
holds the byte-exact span oracle for PDFs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..spark.lineage import _chunk_dirname
from ..spark.pipeline import extract_documents
from .portable import tokens, tokens_sql
from .training import (
    CTX_TOKENS,
    PACK_CONTEXTS_SELECT,
    exclusive_prefix_sum,
    pack_bpe_sql,
    pack_ctx_range,
    pack_materialize_bpe_sql,
    pack_materialize_sql,
    pack_placement_ctes,
    pack_slices,
)

# HTML wrapper: nav/script/footer are boilerplate the DOM-density stripper
# must drop; <article><p>text</p></article> is the main content it must keep.
_HTML_PRE = (
    '<html><head><script>var a=1;</script></head><body>'
    '<nav><ul><li><a href="/home">Home</a></li><li><a href="/about">About</a>'
    "</li></ul></nav><article><p>"
)
_HTML_POST = (
    '</p></article><footer><a href="/terms">Terms</a> '
    '<a href="/privacy">Privacy</a></footer></body></html>'
)
# messy-whitespace framing for plain text spans: clean_text must reduce
# "\n  \n\t{text} \n\n \n " back to exactly {text}
_MESSY_PRE = "\n  \n\t"
_MESSY_POST = " \n\n \n  "


def wrap_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flat testdata docs -> interleaved documents(doc_id, spans)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    text_span = F.struct(
        F.lit("text").alias("kind"),
        F.concat(F.lit(_MESSY_PRE), F.col("text"), F.lit(_MESSY_POST)).alias("text"),
        F.lit("").alias("media_ref"),
        F.lit(0).alias("offset"),
    )
    html_span = F.struct(
        F.lit("html").alias("kind"),
        F.concat(F.lit(_HTML_PRE), F.col("text"), F.lit(_HTML_POST)).alias("text"),
        F.lit("").alias("media_ref"),
        F.lit(0).alias("offset"),
    )
    media_span = F.struct(
        F.lit("media").alias("kind"),
        F.lit("").alias("text"),
        F.concat(F.lit("media://"), F.col("doc_id").cast("string")).alias("media_ref"),
        F.lit(1).alias("offset"),
    )
    bogus_span = F.struct(
        F.lit("bogus").alias("kind"),
        F.lit("x").alias("text"),
        F.lit("").alias("media_ref"),
        F.lit(2).alias("offset"),
    )
    first = F.when(F.col("doc_id") % 3 == 0, html_span).otherwise(text_span)
    spans = F.when(
        F.col("doc_id") % 17 == 0, F.array(first, media_span, bogus_span)
    ).otherwise(F.array(first, media_span))
    return docs.select(F.col("doc_id").cast("string").alias("doc_id"), spans.alias("spans"))


def extract_wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full pipeline over the wrapped corpus (the flagship/entry query)."""
    return extract_documents(wrap_documents(spark, sf_dir), n_parts=64, num_partitions=32)


def q_extract_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc extracted text + metrics, oracle-predictable in SQL."""
    ext = extract_wrapped(spark, sf_dir)
    return ext.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.element_at("spans", 1)["text"].alias("extracted_text"),
        F.element_at("spans", 2)["media_ref"].alias("media_ref"),
        F.element_at("spans", 2)["kind"].alias("media_kind"),
        "spans_emitted",
        "pages_parsed",
        "parse_failures",
        # quality-score map (Docling confidence analogue): hash-checkable as
        # exact micros — both engines do one IEEE double division each
        F.floor(F.element_at("scores", "parse_score") * 1e6)
        .cast("bigint")
        .alias("parse_score_micros"),
        F.floor(F.element_at("scores", "avg_span_chars") * 1e6)
        .cast("bigint")
        .alias("avg_chars_micros"),
    ).orderBy("doc_id")


EXTRACT_CLEAN_SQL = """
SELECT doc_id,
       text AS extracted_text,
       'media://' || CAST(doc_id AS VARCHAR) AS media_ref,
       'media' AS media_kind,
       CASE WHEN doc_id % 17 = 0 THEN 3 ELSE 2 END AS spans_emitted,
       0 AS pages_parsed,
       CASE WHEN doc_id % 17 = 0 THEN 1 ELSE 0 END AS parse_failures,
       CAST(floor(CASE WHEN doc_id % 17 = 0 THEN 2.0 / 3.0 ELSE 1.0 END * 1000000.0)
         AS BIGINT) AS parse_score_micros,
       CAST(floor(CAST(length(text) AS DOUBLE)
                  / (CASE WHEN doc_id % 17 = 0 THEN 3 ELSE 2 END) * 1000000.0)
         AS BIGINT) AS avg_chars_micros
FROM documents ORDER BY doc_id
"""


def q_extract_data_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``kind='data'`` span path end to end: each doc wrapped as a
    delimited (csv) data span + a media span, run through the REAL
    extraction pipeline — delimiter sniff, row parse, F4 table framing,
    clean_text — with every byte of the framed table oracle-predicted
    (the reference's data corpus category, app/config.py:9-15, previewed
    as tables in dashboard.py:864-897, here as extraction output)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    csv_text = F.concat(
        F.lit("id,lang,source\n"),
        F.col("doc_id").cast("string"),
        F.lit(","),
        F.col("lang"),
        F.lit(","),
        F.col("source"),
    )
    # every third doc carries JSON instead of csv: the dispatcher must
    # route it through the object-table renderer (sorted key header)
    json_text = F.concat(
        F.lit('[{"id": "'),
        F.col("doc_id").cast("string"),
        F.lit('", "lang": "'),
        F.col("lang"),
        F.lit('"}, {"id": "'),
        F.col("doc_id").cast("string"),
        F.lit('", "lang": "'),
        F.col("source"),
        F.lit('"}]'),
    )
    data_span = F.struct(
        F.lit("data").alias("kind"),
        F.when(F.col("doc_id") % 3 == 0, json_text)
        .otherwise(csv_text)
        .alias("text"),
        F.lit("").alias("media_ref"),
        F.lit(0).alias("offset"),
    )
    media_span = F.struct(
        F.lit("media").alias("kind"),
        F.lit("").alias("text"),
        F.concat(F.lit("media://"), F.col("doc_id").cast("string")).alias(
            "media_ref"
        ),
        F.lit(1).alias("offset"),
    )
    wrapped = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.array(data_span, media_span).alias("spans"),
    )
    ext = extract_documents(wrapped, n_parts=16, num_partitions=8)
    return ext.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.element_at("spans", 1)["text"].alias("table_text"),
        F.element_at("spans", 2)["media_ref"].alias("media_ref"),
        "spans_emitted",
        "parse_failures",
    ).orderBy("doc_id")


EXTRACT_DATA_SQL = """
SELECT doc_id,
       CASE WHEN doc_id % 3 = 0 THEN
         'Table:' || chr(10) || chr(10)
           || '[''id'', ''lang'']' || chr(10) || chr(10)
           || '[''' || CAST(doc_id AS VARCHAR) || ''', ''' || lang
           || ''']' || chr(10) || chr(10)
           || '[''' || CAST(doc_id AS VARCHAR) || ''', ''' || source
           || ''']'
       ELSE
         'Table:' || chr(10) || chr(10)
           || '[''id'', ''lang'', ''source'']' || chr(10) || chr(10)
           || '[''' || CAST(doc_id AS VARCHAR) || ''', ''' || lang
           || ''', ''' || source || ''']'
       END AS table_text,
       'media://' || CAST(doc_id AS VARCHAR) AS media_ref,
       2 AS spans_emitted,
       0 AS parse_failures
FROM documents ORDER BY doc_id
"""


def q_extract_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lineage-style rollup of the extraction run by source (A4/A5 shape)."""
    ext = extract_wrapped(spark, sf_dir).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "spans_emitted",
        "parse_failures",
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "source")
    return (
        ext.join(docs, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").alias("docs_done"),
            F.sum("spans_emitted").alias("spans_emitted"),
            F.sum("parse_failures").alias("parse_failures"),
        )
        .orderBy("source")
    )


EXTRACT_METRICS_SQL = """
SELECT source,
       count(*) AS docs_done,
       CAST(sum(CASE WHEN doc_id % 17 = 0 THEN 3 ELSE 2 END) AS BIGINT) AS spans_emitted,
       CAST(sum(CASE WHEN doc_id % 17 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS parse_failures
FROM documents GROUP BY source ORDER BY source
"""


def q_render_markdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markdown rendering of extracted spans (the S7 export-md sink,
    docling_processor.py:241-246) as a pure column expression — text spans
    become '## Span N' sections, media spans become image links. The sink
    itself is then just `df.write.text` / a second output table; rendering
    is JVM-side, no Python."""
    from ..spark.export import markdown_expr

    ext = extract_wrapped(spark, sf_dir)
    md = markdown_expr("spans")
    return ext.select(
        F.col("doc_id").cast("bigint").alias("doc_id"), md.alias("markdown")
    ).orderBy("doc_id")


RENDER_MARKDOWN_SQL = """
SELECT doc_id,
       '## Span 1' || chr(10) || chr(10) || text
       || chr(10) || chr(10)
       || '![media](media://' || CAST(doc_id AS VARCHAR) || ')'
       || CASE WHEN doc_id % 17 = 0
               THEN chr(10) || chr(10) || '## Span 3' || chr(10) || chr(10)
               ELSE '' END AS markdown
FROM documents ORDER BY doc_id
"""


def q_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-data curation DAG as ONE composed query: REAL
    extraction pipeline -> token counting -> quality filter (>= 5 tokens) ->
    exact dedup on a 5-token prefix fingerprint (keep lowest doc_id) ->
    curated survivors with stats. This is the composition a corpus-curation
    user runs end-to-end; everything after the Arrow extraction stage is
    JVM-side, and the oracle predicts the whole chain in closed form.
    """
    from pyspark.sql import Window

    ext = extract_wrapped(spark, sf_dir)
    txt = ext.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.element_at("spans", 1)["text"].alias("text"),
    )
    tok = tokens("text")
    stats = txt.select(
        "doc_id",
        F.size(tok).alias("n_tokens"),
        F.md5(F.array_join(F.slice(tok, 1, 5), " ")).alias("content_key"),
    ).where(F.col("n_tokens") >= 5)
    w = Window.partitionBy("content_key").orderBy("doc_id")
    return (
        stats.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "content_key", "n_tokens")
        .orderBy("doc_id")
    )


CURATE_CORPUS_SQL = f"""
WITH t AS (
  SELECT doc_id, {tokens_sql('text')} AS tok FROM documents),
stats AS (
  SELECT doc_id,
         len(tok) AS n_tokens,
         md5(array_to_string(tok[1:5], ' ')) AS content_key
  FROM t WHERE len(tok) >= 5),
ranked AS (
  SELECT doc_id, content_key, n_tokens,
         row_number() OVER (PARTITION BY content_key ORDER BY doc_id) AS rn
  FROM stats)
SELECT doc_id, content_key, CAST(n_tokens AS BIGINT) AS n_tokens
FROM ranked WHERE rn = 1 ORDER BY doc_id
"""


def q_extract_failures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PDF failure path through the REAL kernel, value-hash gated:
    every doc gets one valid text span plus one doctored pdf span — invalid
    base64 (doc_id % 3 == 0), valid base64 of non-PDF bytes (% 3 == 1), or a
    truncated header (% 3 == 2). All three must quarantine into
    parse_failures with an empty placeholder span, never abort (the
    helper.py:213-225 validity-gate contract), and the oracle predicts the
    resulting spans/kinds/scores in closed form."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    text_span = F.struct(
        F.lit("text").alias("kind"),
        F.col("text").alias("text"),
        F.lit("").alias("media_ref"),
        F.lit(0).alias("offset"),
    )
    bad_payload = (
        F.when(F.col("doc_id") % 3 == 0, F.lit("!!!not-base64!!!"))
        .when(
            F.col("doc_id") % 3 == 1,
            F.base64(F.encode(F.lit("this is not a pdf at all"), "utf-8")),
        )
        .otherwise(F.base64(F.encode(F.lit("%PDF-1.4\ntruncated"), "utf-8")))
    )
    pdf_span = F.struct(
        F.lit("pdf").alias("kind"),
        bad_payload.alias("text"),
        F.lit("").alias("media_ref"),
        F.lit(1).alias("offset"),
    )
    wrapped = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.array(text_span, pdf_span).alias("spans"),
    )
    ext = extract_documents(wrapped, n_parts=32, num_partitions=16)
    return ext.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "spans_emitted",
        "pages_parsed",
        "parse_failures",
        F.element_at("spans", 2)["text"].alias("failed_text"),
        F.floor(F.element_at("scores", "parse_score") * 1e6)
        .cast("bigint")
        .alias("parse_score_micros"),
    ).orderBy("doc_id")


EXTRACT_FAILURES_SQL = """
SELECT doc_id,
       2 AS spans_emitted,
       0 AS pages_parsed,
       1 AS parse_failures,
       '' AS failed_text,
       CAST(floor(0.5 * 1000000.0) AS BIGINT) AS parse_score_micros
FROM documents ORDER BY doc_id
"""


def q_extract_pdf_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF layout parse over the synthetic interleaved corpus, value-hash
    checked: the oracle table is derived in closed form from the generator's
    structure (page specs: region geometry -> span-kind sequence, image
    names -> pdf:// media refs, text-free image pages -> the needs-OCR
    count — corpus.expected_extraction_rows), never from the parser under
    test. The byte-exact per-span text oracle additionally lives in pytest
    (tests/test_spark_pipeline.py)."""
    from ..corpus import corpus_df

    docs = corpus_df(spark, n_docs=40, seed=42)
    ext = extract_documents(docs, n_parts=16, num_partitions=8)
    return _corpus_projection(ext)


def _corpus_projection(ext):
    """Shared kinds/media_refs/empty_pages projection for the three corpus
    queries (plain, encrypted, staged): the span-kind CSV, non-empty
    pdf:// refs, and the needs-OCR page count — one definition so the
    media-ref synthesis and score key can never diverge between them."""
    kinds = F.array_join(F.transform("spans", lambda s: s["kind"]), ",")
    refs = F.array_join(
        F.filter(F.transform("spans", lambda s: s["media_ref"]), lambda r: r != ""),
        ",",
    )
    return ext.select(
        "doc_id",
        F.col("pages_parsed").cast("bigint").alias("pages_parsed"),
        F.col("spans_emitted").cast("bigint").alias("spans_emitted"),
        F.col("parse_failures").cast("bigint").alias("parse_failures"),
        kinds.alias("kinds"),
        refs.alias("media_refs"),
        F.element_at("scores", "pages_empty_with_images")
        .cast("bigint")
        .alias("empty_pages"),
    ).orderBy("doc_id")


def _pdf_corpus_oracle_sql() -> str:
    # called lazily by registry.oracle_sql(), NOT at import: resolving it
    # builds the synthetic corpus + expected parquet, which must never be an
    # import side effect of the ops registry (ADVICE r02)
    from ..corpus import expected_corpus_parquet

    path = expected_corpus_parquet(40, seed=42)
    return (
        "SELECT doc_id, pages_parsed, spans_emitted, parse_failures, kinds, "
        "media_refs, empty_pages "
        f"FROM read_parquet('{path}') ORDER BY doc_id"
    )


def q_extract_encrypted_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standard-security PDFs through the REAL kernel, value-hash checked:
    the corpus cycles RC4-40 / RC4-128 / AES-128 / AES-256 with an empty user password
    (must decrypt transparently — the pymupdf.open behavior the reference
    relies on, pymu_tesseract_processor.py:84) and every 7th doc carries a
    real user password (must quarantine as a parse failure, never garble).
    The oracle derives from generator structure: page specs for the
    decryptable docs, the failure contract for the passworded ones."""
    from ..corpus import corpus_df

    docs = corpus_df(spark, n_docs=24, seed=7, profile="encrypted")
    ext = extract_documents(docs, n_parts=8, num_partitions=8)
    return _corpus_projection(ext)


def _encrypted_corpus_oracle_sql() -> str:
    from ..corpus import expected_corpus_parquet

    path = expected_corpus_parquet(24, seed=7, profile="encrypted")
    return (
        "SELECT doc_id, pages_parsed, spans_emitted, parse_failures, kinds, "
        "media_refs, empty_pages "
        f"FROM read_parquet('{path}') ORDER BY doc_id"
    )


def q_extract_passworded_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME encrypted corpus as ``extract_encrypted_corpus``, extracted
    WITH a candidate password list (the ingest-manifest workflow; the
    reference's pymupdf path would call ``doc.authenticate(pw)``): the
    every-7th user-passworded docs must now parse from their page specs —
    the wrong first candidate exercises the candidate-iteration path on
    every worker — while the empty-password docs decrypt exactly as before.
    Contrast pair: the listless query above pins that the same docs
    QUARANTINE without the password."""
    from ..corpus import corpus_df

    docs = corpus_df(spark, n_docs=24, seed=7, profile="encrypted")
    ext = extract_documents(
        docs,
        n_parts=8,
        num_partitions=8,
        passwords=(b"wrong-guess", b"real-password"),
    )
    return _corpus_projection(ext)


def q_extract_pw_manifest_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document password manifest (round 4): a (doc_id, password) table
    left-joined onto the encrypted corpus and consumed via
    ``extract_documents(password_col=...)`` — each locked doc pays exactly
    ONE key derivation for its own password (the V5/R6 hash is a ~0.3 s
    work factor by design, so a global candidate list multiplies it by
    list length on every locked doc; the manifest is the shape that scales).
    The manifest is derived from the generator rule (every 7th doc carries
    the password — doc ids are ``doc-<seed>-<d:08d>``), so docs outside it
    get a null password and decrypt via the empty-password path exactly as
    in ``extract_encrypted_corpus``. Same unlocked oracle as
    ``extract_passworded_corpus``: the two distributed password paths
    (global list, per-doc column) must agree value-for-value."""
    from ..corpus import corpus_df

    docs = corpus_df(spark, n_docs=24, seed=7, profile="encrypted")
    manifest = (
        docs.select("doc_id")
        .where(F.substring("doc_id", -8, 8).cast("int") % 7 == 0)
        .withColumn("password", F.lit("real-password"))
    )
    joined = docs.join(F.broadcast(manifest), "doc_id", "left")
    ext = extract_documents(
        joined, n_parts=8, num_partitions=8, password_col="password"
    )
    return _corpus_projection(ext)


def _passworded_corpus_oracle_sql() -> str:
    from ..corpus import expected_corpus_parquet

    path = expected_corpus_parquet(
        24, seed=7, profile="encrypted", unlock_passworded=True
    )
    return (
        "SELECT doc_id, pages_parsed, spans_emitted, parse_failures, kinds, "
        "media_refs, empty_pages "
        f"FROM read_parquet('{path}') ORDER BY doc_id"
    )


def q_extract_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME flagship extraction, but through the internal binary-payload
    staging table (spark/staging.py): ingest -> ``stage_documents`` (one
    strict base64 decode, payload becomes BINARY) -> ``extract_documents``,
    whose kernel skips the decode for binary payloads. Oracled against the
    SAME closed-form SQL as
    ``extract_clean`` — staging is an optimization, not a semantic change,
    so the driver's value-hash must agree bit-for-bit with the direct path's
    oracle. Covers the text / html / media / unknown-kind staged branches."""
    from ..spark.staging import stage_documents

    staged = stage_documents(wrap_documents(spark, sf_dir))
    ext = extract_documents(staged, n_parts=64, num_partitions=32)
    return ext.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.element_at("spans", 1)["text"].alias("extracted_text"),
        F.element_at("spans", 2)["media_ref"].alias("media_ref"),
        F.element_at("spans", 2)["kind"].alias("media_kind"),
        "spans_emitted",
        "pages_parsed",
        "parse_failures",
        F.floor(F.element_at("scores", "parse_score") * 1e6)
        .cast("bigint")
        .alias("parse_score_micros"),
        F.floor(F.element_at("scores", "avg_span_chars") * 1e6)
        .cast("bigint")
        .alias("avg_chars_micros"),
    ).orderBy("doc_id")


def q_staged_pdf_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PDF layout parse through the staging table: pdf base64 decoded
    ONCE at staging, raw bytes shuffled/Arrow-transferred (3/4 the volume),
    parsed from bytes. Same generator-derived oracle as
    ``extract_pdf_corpus`` — media spans, needs-OCR counts and failure
    accounting must survive staging unchanged."""
    from ..corpus import corpus_df
    from ..spark.staging import stage_documents

    docs = corpus_df(spark, n_docs=40, seed=42)
    ext = extract_documents(stage_documents(docs), n_parts=16, num_partitions=8)
    return _corpus_projection(ext)


# --- snapshot time travel over the commit log ------------------------------

_SNAPFIX_CHUNKS = 3  # committed snapshots 0..2; chunk 3 is left uncommitted


def _snapshot_fixture_root() -> str:
    """Deterministic CommitLog directory for the time-travel oracle, built
    with pure pyarrow (no Spark) so BOTH the query and the lazily-resolved
    DuckDB oracle can ensure it idempotently in either order.

    Layout: chunks 0..2 committed with DISJOINT part_ids (chunk k owns
    parts 3k..3k+2, as the append-only writer produces — each part is
    committed exactly once), 4 rows per part, plus a chunk-3 data
    directory with NO commit marker — present on disk, invisible to every
    read, which is the uncommitted-work contract a crashed writer leaves
    behind.

    Concurrent-builder safe: the whole tree is built under a pid-unique
    staging root and atomically renamed into place, so a reader started by
    one process can never observe a second cold-start builder truncating
    parquet files mid-read (review finding; a visible root therefore
    always carries ``.complete``).
    """
    import json
    import os
    import shutil
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    root = os.path.join(tempfile.gettempdir(), "pes-snapshot-fixture-v5")
    done = os.path.join(root, ".complete")
    if os.path.exists(done):
        return root
    build = f"{root}.build-{os.getpid()}"
    for chunk in range(_SNAPFIX_CHUNKS + 1):  # +1: the uncommitted chunk
        for part in range(chunk * 3, chunk * 3 + 3):
            pdir = os.path.join(
                build, "data", _chunk_dirname(chunk), f"part_id={part}"
            )
            os.makedirs(pdir, exist_ok=True)
            rows = {
                "doc_id": [f"d{chunk}_{part}_{i}" for i in range(4)],
                # int32, matching EXTRACTED_SCHEMA: reads enforce the
                # table schema explicitly (empty chunks carry no footer to
                # infer from), so fixture files must type-match it
                "spans_emitted": pa.array(
                    [chunk * 100 + part * 10 + i for i in range(4)],
                    type=pa.int32(),
                ),
            }
            pq.write_table(pa.table(rows), os.path.join(pdir, "part-0.parquet"))
    os.makedirs(os.path.join(build, "commits"), exist_ok=True)
    for chunk in range(_SNAPFIX_CHUNKS):  # chunk 3 gets NO marker
        marker = {
            "chunk_id": chunk,
            "part_ids": [chunk * 3, chunk * 3 + 1, chunk * 3 + 2],
            "n_parts": 12,
            "metrics": {"docs": 12},
            "committed_at": 1700000000.0 + chunk,
        }
        with open(os.path.join(build, "commits", f"commit-{chunk:06d}.json"), "w") as f:
            json.dump(marker, f)
    with open(os.path.join(build, ".complete"), "w") as f:
        f.write("ok")
    try:
        os.rename(build, root)
    except OSError:
        # a rival builder published first; its tree is complete (the
        # rename-last protocol guarantees it) — ours is redundant
        shutil.rmtree(build, ignore_errors=True)
        if not os.path.exists(done):
            raise
    return root


SNAPSHOT_AS_OF = 1


def q_snapshot_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-travel read at snapshot 1 (``VERSION AS OF`` emulation):
    chunk 2 is committed and chunk 3's data exists on disk, but neither is
    visible — the reader sees exactly the table state the snapshot-1 commit
    published. At scale this is the Iceberg snapshot list; here it is the
    CommitLog marker scan (spark/lineage.py:committed_chunks), and the
    pinned property is that visibility is decided ONLY by markers, never
    by directory listing."""
    from ..spark.lineage import CommitLog

    log = CommitLog(_snapshot_fixture_root())
    df = log.read_extracted(spark, as_of=SNAPSHOT_AS_OF)
    return df.select(
        "doc_id",
        F.col("spans_emitted").cast("bigint").alias("spans_emitted"),
        F.col("part_id").cast("bigint").alias("part_id"),
    ).orderBy("doc_id")


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental scan between snapshots (CDC-style): exactly the rows
    snapshots 1..2 appended — snapshot 0's rows must NOT reappear, and the
    uncommitted chunk-3 data stays invisible. This is the delta feed a
    downstream incremental consumer (dedup_incremental) reprocesses."""
    from ..spark.lineage import CommitLog

    log = CommitLog(_snapshot_fixture_root())
    df = log.read_incremental(spark, after=0, until=2)
    return df.select(
        "doc_id",
        F.col("spans_emitted").cast("bigint").alias("spans_emitted"),
        F.col("part_id").cast("bigint").alias("part_id"),
    ).orderBy("doc_id")


def _snapshot_diff_oracle_sql() -> str:
    root = _snapshot_fixture_root()
    paths = ", ".join(
        f"'{root}/data/{_chunk_dirname(c)}/part_id=*/*.parquet'" for c in (1, 2)
    )
    return (
        "SELECT doc_id, spans_emitted, CAST(part_id AS BIGINT) AS part_id "
        f"FROM read_parquet([{paths}], hive_partitioning=1) ORDER BY doc_id"
    )


def _snapshot_read_oracle_sql() -> str:
    root = _snapshot_fixture_root()
    paths = ", ".join(
        f"'{root}/data/{_chunk_dirname(c)}/part_id=*/*.parquet'"
        for c in range(SNAPSHOT_AS_OF + 1)
    )
    return (
        "SELECT doc_id, spans_emitted, CAST(part_id AS BIGINT) AS part_id "
        f"FROM read_parquet([{paths}], hive_partitioning=1) ORDER BY doc_id"
    )


def q_ocr_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full P6 force-OCR loop, value-hash gated end-to-end: extract the
    PDF corpus -> select the ROUTED refs (the OCR stage's own predicate and
    projection, spark/ocr.py: docs with text-free-but-imaged pages, pdf://
    refs) -> the stage's stub engine (``_ocr_batches``) -> ``merge_ocr_text``
    back into the span sequence. Output: every media span with its
    post-merge text — routed refs must carry recovered text at the RIGHT
    span positions, all other media spans must stay empty.
    The oracle derives entirely from generator structure (expected kinds /
    media_refs / empty_pages), so a merge that drops, duplicates, or
    misplaces a span flips the hash."""
    from ..corpus import corpus_df
    from ..spark.ocr import (
        OCR_TEXT_SCHEMA,
        _ocr_batches,
        merge_ocr_text,
        needs_ocr_pred,
        ocr_candidate_refs,
    )
    from .dedup import _persisted

    docs = corpus_df(spark, n_docs=40, seed=42)
    # staged (CLAUDE.md): ext feeds the routed-refs branch AND the merge —
    # un-staged, the PDF parse kernel ran twice per oracle check
    ext = _persisted(extract_documents(docs, n_parts=8, num_partitions=8))
    # the routing predicate and ref projection are the OCR stage's OWN
    # definitions (spark/ocr.py), and the recovered text comes from its
    # REAL engine function — a format drift in stub_ocr (or a routing
    # change) flips this oracle's hash, which is the point
    refs = ext.where(needs_ocr_pred()).select(
        "doc_id", F.explode(ocr_candidate_refs()).alias("media_ref")
    )
    ocr_rows = refs.mapInPandas(_ocr_batches, schema=OCR_TEXT_SCHEMA)
    merged = merge_ocr_text(ext, ocr_rows)
    return (
        merged.select("doc_id", F.explode("spans").alias("s"))
        .where(F.col("s.kind") == "media")
        .select(
            "doc_id",
            F.col("s.offset").cast("bigint").alias("span_idx"),
            F.col("s.media_ref").alias("media_ref"),
            F.col("s.text").alias("text"),
        )
        .orderBy("doc_id", "span_idx")
    )


def _ocr_roundtrip_oracle_sql() -> str:
    from ..corpus import expected_corpus_parquet

    path = expected_corpus_parquet(40, seed=42)
    return f"""
WITH e AS (SELECT * FROM read_parquet('{path}')),
k AS (
  SELECT doc_id, empty_pages,
         unnest(string_split(kinds, ',')) AS kind,
         generate_subscripts(string_split(kinds, ','), 1) AS idx
  FROM e WHERE kinds <> ''),
m AS (
  SELECT doc_id, empty_pages, idx,
         row_number() OVER (PARTITION BY doc_id ORDER BY idx) AS mseq
  FROM k WHERE kind = 'media'),
r AS (
  SELECT doc_id,
         unnest(string_split(media_refs, ',')) AS media_ref,
         generate_subscripts(string_split(media_refs, ','), 1) AS mseq
  FROM e WHERE media_refs <> '')
SELECT m.doc_id,
       CAST(m.idx - 1 AS BIGINT) AS span_idx,
       r.media_ref,
       CASE WHEN m.empty_pages > 0 AND r.media_ref LIKE 'pdf://%'
            THEN '[ocr-stub ' || substr(md5(r.media_ref), 1, 12) || ']'
            ELSE '' END AS text
FROM m JOIN r ON m.doc_id = r.doc_id AND m.mseq = r.mseq
ORDER BY m.doc_id, span_idx
"""


# --- interleaved multimodal sequence packing ---------------------------------

MEDIA_PATCH_TOKENS = 64  # fixed token budget a media span occupies


def _interleaved_placements(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, span_idx, kind, cost, start_tok) span-cost placements of
    the REAL extraction output in the interleaved context stream — the
    shared prelude of q_pack_interleaved and q_pack_interleaved_slices
    (text span = token count, media span = the fixed 64-token patch
    budget, prefix sum via the sampled-range distributed scan)."""
    ext = extract_wrapped(spark, sf_dir)
    sp = ext.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.posexplode("spans").alias("idx0", "s"),
    ).select(
        "doc_id",
        (F.col("idx0") + 1).cast("bigint").alias("span_idx"),
        F.col("s.kind").alias("kind"),
        F.when(F.col("s.kind") == "media", F.lit(MEDIA_PATCH_TOKENS))
        .when(F.length("s.text") == 0, F.lit(0))
        .otherwise(F.size(tokens(F.col("s.text"))))
        .cast("bigint")
        .alias("cost"),
    )
    return exclusive_prefix_sum(sp, ["doc_id", "span_idx"], "cost", "start_tok")


def q_pack_interleaved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal concat-and-chunk packing over the REAL extraction output:
    every extracted span (interleaved text + media, in document order) is
    assigned its token range in the fixed-512-token training-context
    stream, where a text span costs its token count and a media span costs
    a fixed 64-token patch budget (the vision-token accounting of an
    interleaved image-text pretraining mix, Flamingo/MM1-style).

    This is `pack_contexts`' interleaved sibling and the bridge between the
    engine's two halves: the cost stream comes out of the actual
    ``mapInArrow`` pipeline (clean_text, DOM strip, failure placeholders),
    and the oracle predicts every cost in closed form from the wrap rules —
    so span ordering, media passthrough, AND the packing arithmetic are all
    value-hash gated together.

    Scale shape: posexplode is map-only 1-to-many; the global prefix sum is
    ``training.exclusive_prefix_sum`` — the two-phase distributed scan
    shared with ``pack_contexts``. No uniform shard key exists here (doc
    ids may cluster anywhere in their value range — snowflake/epoch ids
    would funnel a value-proportional bucketing into one hot shard), so
    the helper derives order-respecting shards from a SAMPLED range
    partitioning and persists the ranged frame (which also means the
    mapInArrow extraction runs exactly once). Boundary sampling never
    reaches the values: any order-respecting split yields the same
    exclusive prefix.
    """
    first, last, _ = pack_ctx_range("start_tok", "greatest(cost, 1)")
    placed = _interleaved_placements(spark, sf_dir)
    return placed.select(
        "doc_id",
        "span_idx",
        "kind",
        "cost",
        "start_tok",
        first.alias("ctx_first"),
        last.alias("ctx_last"),
    ).orderBy("doc_id", "span_idx")


PACK_INTERLEAVED_SQL = f"""
WITH base AS (
  -- an empty/whitespace-only doc extracts to an empty text span, which the
  -- engine costs 0 (split('') would miscount it as 1 token)
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN 0
              ELSE CAST(len({tokens_sql('text')}) AS BIGINT) END AS text_cost
  FROM documents),
spans AS (
  SELECT doc_id, 1 AS span_idx, 'text' AS kind, text_cost AS cost FROM base
  UNION ALL
  SELECT doc_id, 2, 'media', {MEDIA_PATCH_TOKENS} FROM base
  UNION ALL
  SELECT doc_id, 3, 'text', 0 FROM base WHERE doc_id % 17 = 0),
p AS (
  SELECT doc_id, CAST(span_idx AS BIGINT) AS span_idx, kind, CAST(cost AS BIGINT) AS cost,
         CAST(coalesce(SUM(cost) OVER (
                ORDER BY doc_id, span_idx
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS start_tok
  FROM spans)
SELECT doc_id, span_idx, kind, cost, start_tok,
       start_tok // {CTX_TOKENS} AS ctx_first,
       (start_tok + greatest(cost, 1) - 1) // {CTX_TOKENS} AS ctx_last
FROM p ORDER BY doc_id, span_idx
"""


def q_pack_interleaved_slices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MULTIMODAL per-context gather map — pack_slices' interleaved
    sibling, completing that packing pair too: for every 512-token
    context, which (doc, span) contributes which cost-unit range at
    which offset, WITH the span kind riding along — so a multimodal
    trainer reads, per context, exactly which text slices and which
    media patch budgets to gather, in order. Zero-cost spans (the
    %17-doc empty text span) appear as zero-length slices at their
    stream position (they occupy no budget but their document order is
    part of the contract). Same scale shape as pack_slices: the
    placement subtree plus a map-only explode; no extra shuffle."""
    placed = _interleaved_placements(spark, sf_dir)
    return (
        pack_slices(placed, "start_tok", "cost", range_extent="greatest(cost, 1)")
        .select(
            "ctx",
            "doc_id",
            "span_idx",
            "kind",
            F.col("off_in").alias("off_in_span"),
            "off_in_ctx",
            "n_toks",
        )
        .orderBy("ctx", "off_in_ctx", "doc_id", "span_idx")
    )


PACK_INTERLEAVED_SLICES_SQL = f"""
WITH base AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN 0
              ELSE CAST(len({tokens_sql('text')}) AS BIGINT) END AS text_cost
  FROM documents),
spans AS (
  SELECT doc_id, 1 AS span_idx, 'text' AS kind, text_cost AS cost FROM base
  UNION ALL
  SELECT doc_id, 2, 'media', {MEDIA_PATCH_TOKENS} FROM base
  UNION ALL
  SELECT doc_id, 3, 'text', 0 FROM base WHERE doc_id % 17 = 0),
p AS (
  SELECT doc_id, CAST(span_idx AS BIGINT) AS span_idx, kind,
         CAST(cost AS BIGINT) AS cost,
         CAST(coalesce(SUM(cost) OVER (
                ORDER BY doc_id, span_idx
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS start_tok
  FROM spans),
r AS (
  SELECT doc_id, span_idx, kind, cost, start_tok,
         unnest(generate_series(start_tok // {CTX_TOKENS},
                (start_tok + greatest(cost, 1) - 1) // {CTX_TOKENS})) AS ctx
  FROM p)
SELECT ctx, doc_id, span_idx, kind,
       greatest(start_tok, ctx * {CTX_TOKENS}) - start_tok AS off_in_span,
       greatest(start_tok, ctx * {CTX_TOKENS}) - ctx * {CTX_TOKENS} AS off_in_ctx,
       least(start_tok + cost, (ctx + 1) * {CTX_TOKENS})
         - greatest(start_tok, ctx * {CTX_TOKENS}) AS n_toks
FROM r ORDER BY ctx, off_in_ctx, doc_id, span_idx
"""


# --- derived quality-signals table -------------------------------------------


def _stage_fixture_base(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    version_tag: str,
    corpus_df_fn=None,
):
    """Shared scaffold for the derived-stage fixtures (signals / pack /
    curate / neardup — review finding: the identity-keying and extraction
    contract lived in four copies): identity-keyed tempdir (the documents
    parquet's realpath+mtime+size plus the stage's ``version_tag``, so
    regenerated testdata or a compute-version bump can never hit a stale
    fixture), optional derived-corpus materialization (``corpus_df_fn``),
    and the committed source extraction. Idempotent and commit-protocol-
    resumable: run_extraction resumes past committed parts, stage runs see
    cursor == latest. Returns ``(base_dir, src CommitLog)``."""
    import hashlib
    import os
    import tempfile

    from ..spark.lineage import CommitLog, run_extraction

    src = os.path.join(sf_dir, "documents.parquet")
    st = os.stat(src)
    key = hashlib.md5(
        f"{os.path.realpath(src)}:{st.st_mtime_ns}:{st.st_size}"
        f":{version_tag}".encode()
    ).hexdigest()[:16]
    base = os.path.join(tempfile.gettempdir(), f"pes-{name}-{key}")
    docs_dir = sf_dir
    if corpus_df_fn is not None:
        docs_dir = os.path.join(base, "docs")
        if not os.path.exists(os.path.join(docs_dir, "documents.parquet")):
            corpus_df_fn(spark, sf_dir).write.mode("overwrite").parquet(
                os.path.join(docs_dir, "documents.parquet")
            )
    src_log = CommitLog(os.path.join(base, "src"))
    run_extraction(
        spark,
        wrap_documents(spark, docs_dir),
        src_log,
        n_parts=16,
        parts_per_chunk=8,
        num_partitions=8,
    )
    return base, src_log


def _signals_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Committed source extraction of the wrapped corpus plus its derived
    signals table (idempotence/keying: _stage_fixture_base)."""
    import os

    from ..spark.lineage import CommitLog
    from ..spark.signals import SIGNALS_COMPUTE_VERSION, run_signals

    base, src_log = _stage_fixture_base(
        spark, sf_dir, "signals", f"v{SIGNALS_COMPUTE_VERSION}"
    )
    out_root = os.path.join(base, "out")
    run_signals(spark, src_log, CommitLog(out_root))
    return out_root


def q_signals_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The derived quality-signals STAGE, value-hash gated end-to-end:
    extraction (real kernel) -> commit log -> incremental signals pass
    (spark/signals.py, consumed via read_incremental with a src_snapshot
    cursor) -> committed snapshot read of the signals table. The oracle is
    closed-form on the flat documents table (wrap rules predict every span,
    so token counts, marker-language argmax, stopword ratio and the Simpson
    same-pair sum are all SQL-predictable) — a bug anywhere in the chain
    (a doc dropped by the delta cursor, a double-processed chunk, a signal
    expression drift) flips row count or hash."""
    from ..spark.lineage import CommitLog
    from ..spark.signals import read_signals

    out_root = _signals_fixture(spark, sf_dir)
    df = read_signals(spark, CommitLog(out_root))
    return df.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("n_text_spans").cast("bigint").alias("n_text_spans"),
        F.col("n_media_spans").cast("bigint").alias("n_media_spans"),
        "n_tokens",
        "pred_lang",
        "stopword_micros",
        "simpson_micros",
    ).orderBy("doc_id")


def _signals_oracle_sql() -> str:
    from .textstats import (
        _PRIORITY,
        LANG_MARKERS,
        STOPWORDS,
        _count_in_sql,
    )

    counts = ",\n         ".join(
        f"{_count_in_sql('t', LANG_MARKERS[lg])} AS c_{lg}" for lg in _PRIORITY
    )
    best = "greatest(" + ", ".join(f"c_{lg}" for lg in _PRIORITY) + ")"
    whens = "\n           ".join(
        f"WHEN c_{lg} = {best} THEN '{lg}'" for lg in _PRIORITY
    )
    return f"""
WITH t AS (
  SELECT doc_id, {tokens_sql("text")} AS t FROM documents),
c AS (
  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
         {_count_in_sql('t', STOPWORDS)} AS n_stop,
         {counts}
  FROM t),
pairs AS (
  SELECT doc_id, CAST(sum(cnt * (cnt - 1)) AS BIGINT) AS ps
  FROM (SELECT doc_id, count(*) AS cnt
        FROM (SELECT doc_id, unnest(t) AS w FROM t) GROUP BY doc_id, w)
  GROUP BY doc_id)
SELECT c.doc_id,
       CASE WHEN c.doc_id % 17 = 0 THEN 2 ELSE 1 END AS n_text_spans,
       1 AS n_media_spans,
       c.n_tokens,
       CASE WHEN c.n_tokens <= 0 OR {best} <= 0 THEN 'unknown'
           {whens}
       END AS pred_lang,
       CASE WHEN c.n_tokens > 0
            THEN (n_stop * 1000000) // c.n_tokens ELSE 0 END AS stopword_micros,
       CASE WHEN c.n_tokens >= 2
            THEN (p.ps * 1000000) // (c.n_tokens * (c.n_tokens - 1))
            ELSE 0 END AS simpson_micros
FROM c JOIN pairs p ON c.doc_id = p.doc_id
ORDER BY c.doc_id
"""


# --- context-packing table -----------------------------------------------


def _pack_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Committed extraction of the wrapped corpus + ONE pack pass (the
    first incremental run consumes the whole table as one window, so the
    oracle predicts a single global packing). Idempotence/keying:
    _stage_fixture_base; multi-window/kept-scope paths are pytest-covered
    (tests/test_pack.py)."""
    import os

    from ..spark.lineage import CommitLog
    from ..spark.pack import PACK_COMPUTE_VERSION, run_pack

    base, src_log = _stage_fixture_base(
        spark, sf_dir, "pack", f"packv{PACK_COMPUTE_VERSION}"
    )
    out_root = os.path.join(base, "out")
    run_pack(spark, src_log, CommitLog(out_root))
    return out_root


def q_packed_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The context-packing STAGE, value-hash gated end-to-end: extraction
    (real kernel) -> commit log -> incremental pack pass (spark/pack.py:
    md5 shuffle order, distributed exclusive prefix sum, 512-token context
    ranges) -> committed snapshot read. The oracle predicts every
    placement in closed form from the flat documents table (token counts
    survive the wrap/clean round-trip — the signals_table precedent); a
    doc dropped or double-placed by the window cursor, a prefix-sum shard
    boundary leak, or an off-by-one in the context division flips the
    hash. ``pack_epoch`` is projected out (it names the fixture's source
    snapshot id, an infrastructure detail; uniqueness is pytest-pinned)."""
    from ..spark.lineage import CommitLog
    from ..spark.pack import read_packed

    out_root = _pack_fixture(spark, sf_dir)
    df = read_packed(spark, CommitLog(out_root))
    return df.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "n_tokens",
        "start_off",
        "first_chunk",
        "last_chunk",
        "n_chunks",
    ).orderBy("doc_id")


def _packed_oracle_sql() -> str:
    return (
        f"\nWITH {pack_placement_ctes(empty_guard=True, varchar_tiebreak=True)}"
        f"\n{PACK_CONTEXTS_SELECT}\n"
    )


def q_packed_bpe_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE-COSTED context-packing STAGE (`job.py pack --cost bpe`)
    end to end: extraction -> commit log -> pack pass whose per-doc cost
    is the TOKENIZER piece count (merge rules derived from the table's
    first window and frozen in its commit marker; map-only Arrow costing
    kernel) -> committed snapshot read. The oracle rederives the rule
    table, every word's greedy merge fixpoint, every doc's piece total,
    AND the placement arithmetic through one recursive-CTE closed form —
    a drifted rule rank, a memo bug in the costing kernel, or a
    prefix-sum leak flips the hash. The committed ``n_tokens`` column is
    the stage's cost unit (pieces here), aliased accordingly."""
    import os

    from ..spark.lineage import CommitLog
    from ..spark.pack import PACK_COMPUTE_VERSION, read_packed, run_pack

    base, src_log = _stage_fixture_base(
        spark, sf_dir, "pack", f"packv{PACK_COMPUTE_VERSION}"
    )
    out_root = os.path.join(base, "out-bpe")
    run_pack(spark, src_log, CommitLog(out_root), cost="bpe")
    df = read_packed(spark, CommitLog(out_root))
    return df.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("n_tokens").alias("n_pieces"),
        "start_off",
        "first_chunk",
        "last_chunk",
        "n_chunks",
    ).orderBy("doc_id")


def _packed_bpe_oracle_sql() -> str:
    return pack_bpe_sql(empty_guard=True, varchar_tiebreak=True)


def _materialize_fixture(spark: SparkSession, sf_dir: str) -> str:
    """The pack fixture extended one stage: its committed placements
    gathered into actual context rows by spark/materialize.py. Shares the
    pack fixture's identity-keyed base (same source extraction + pack
    table); the materialize table lives in a version-suffixed subdir so a
    MATERIALIZE_COMPUTE_VERSION bump can never hit a stale output while
    the pack half stays cached."""
    import os

    from ..spark.lineage import CommitLog
    from ..spark.materialize import (
        MATERIALIZE_COMPUTE_VERSION,
        run_materialize,
    )
    from ..spark.pack import PACK_COMPUTE_VERSION, run_pack

    base, src_log = _stage_fixture_base(
        spark, sf_dir, "pack", f"packv{PACK_COMPUTE_VERSION}"
    )
    pack_root = os.path.join(base, "out")
    run_pack(spark, src_log, CommitLog(pack_root))
    mat_root = os.path.join(base, f"mat-v{MATERIALIZE_COMPUTE_VERSION}")
    run_materialize(
        spark, src_log, CommitLog(pack_root), CommitLog(mat_root)
    )
    return mat_root


def q_materialized_bpe_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialized shards of a BPE-COSTED packing: extraction ->
    pack pass under cost='bpe' (tokenizer-piece placement, rules frozen
    in the table marker) -> materialize pass gathering the ENCODED PIECE
    STREAM those offsets index (the recorded rules drive the Arrow
    piece-stream kernel) -> committed snapshot read. The oracle
    rederives rules, per-word merge fixpoints, each doc's flattened
    piece stream, the placement prefix sum, AND every context's
    assembled piece text in one recursive-CTE closed form."""
    import os

    from ..spark.lineage import CommitLog
    from ..spark.materialize import (
        MATERIALIZE_COMPUTE_VERSION,
        read_materialized,
        run_materialize,
    )
    from ..spark.pack import PACK_COMPUTE_VERSION, run_pack

    base, src_log = _stage_fixture_base(
        spark, sf_dir, "pack", f"packv{PACK_COMPUTE_VERSION}"
    )
    pack_root = os.path.join(base, "out-bpe")
    run_pack(spark, src_log, CommitLog(pack_root), cost="bpe")
    mat_root = os.path.join(
        base, f"mat-bpe-v{MATERIALIZE_COMPUTE_VERSION}"
    )
    run_materialize(
        spark, src_log, CommitLog(pack_root), CommitLog(mat_root)
    )
    df = read_materialized(spark, CommitLog(mat_root))
    return df.select("ctx", "n_docs", "n_tokens", "text").orderBy("ctx")


def _materialized_bpe_oracle_sql() -> str:
    return pack_materialize_bpe_sql(empty_guard=True, varchar_tiebreak=True)


def q_materialized_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialized-shard STAGE, value-hash gated end-to-end:
    extraction (real kernel) -> commit log -> pack pass (placements) ->
    materialize pass (spark/materialize.py: snapshot-pinned gather join)
    -> committed snapshot read. The oracle predicts every context's
    ASSEMBLED TEXT in closed form from the flat documents table (the
    extracted text is byte-equal to the raw text — EXTRACT_CLEAN_SQL —
    so the token stream is predictable end to end); a slice off-by-one,
    a mis-ordered gather, or a doc dropped/duplicated anywhere in the
    two-stage chain flips the hash. ``pack_epoch`` is projected out
    (single-window fixture; uniqueness is pytest-pinned)."""
    from ..spark.lineage import CommitLog
    from ..spark.materialize import read_materialized

    out_root = _materialize_fixture(spark, sf_dir)
    df = read_materialized(spark, CommitLog(out_root))
    return df.select("ctx", "n_docs", "n_tokens", "text").orderBy("ctx")


def _materialized_oracle_sql() -> str:
    return pack_materialize_sql(empty_guard=True, varchar_tiebreak=True)


# --- curation-verdict table ---------------------------------------------

# clone-slice offset: divisible by 3 and 17, so a clone keeps the original's
# wrap structure (html-vs-text choice, bogus-span injection) and therefore
# its normalized extracted text — guaranteed duplicate groups for the dedup
# verdicts. % 5 == 0 -> one clone per five base docs.
_CURATE_CLONE_OFFSET = 510_000


def _curate_corpus_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = spark.read.parquet(f"{sf_dir}/documents.parquet")
    clones = base.where(F.col("doc_id") % 5 == 0).withColumn(
        "doc_id", F.col("doc_id") + _CURATE_CLONE_OFFSET
    )
    return base.unionByName(clones)


def _curate_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Committed extraction of the wrapped corpus + its +510000 clone
    slice, then ONE curate pass. Idempotence/keying: _stage_fixture_base;
    the cross-RUN index path is pytest-covered (tests/test_curate.py), the
    oracle value-hashes gates + global dedup."""
    import os

    from ..spark.curate import CURATE_COMPUTE_VERSION, run_curate
    from ..spark.lineage import CommitLog

    base, src_log = _stage_fixture_base(
        spark,
        sf_dir,
        "curate",
        f"curate-v{CURATE_COMPUTE_VERSION}",
        corpus_df_fn=_curate_corpus_df,
    )
    out_root = os.path.join(base, "out")
    run_curate(spark, src_log, CommitLog(out_root))
    return out_root


def q_curated_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation-verdict STAGE, value-hash gated end-to-end: extraction
    (real kernel, duplicate groups injected via the clone slice) -> commit
    log -> curate pass (spark/curate.py: normalized-content digest, gate
    verdicts, digest-window dedup) -> committed snapshot read. The oracle
    predicts every verdict in closed form from the flat documents table —
    a wrong gate order, an unstable dedup winner, or a digest that leaks
    span-boundary whitespace all flip the value hash."""
    from ..spark.curate import read_curated
    from ..spark.lineage import CommitLog

    out_root = _curate_fixture(spark, sf_dir)
    df = read_curated(spark, CommitLog(out_root))
    return df.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "digest",
        "n_tokens",
        "pred_lang",
        "verdict",
        "reason",
        F.col("dup_of").cast("bigint").alias("dup_of"),
    ).orderBy("doc_id")


def _verdict_cte(base_sql: str) -> str:
    """The WITH chain predicting every curation verdict over an arbitrary
    ``base(doc_id, text)`` corpus definition — shared by the
    curated_table / kept_corpus oracles (exact-clone corpus) and the
    kept_collapsed oracle (near-clone corpus); final SELECTs differ."""
    from ..spark.curate import MIN_STOPWORD_MICROS, MIN_TOKENS
    from .textstats import (
        _PRIORITY,
        LANG_MARKERS,
        STOPWORDS,
        _count_in_sql,
    )

    counts = ",\n         ".join(
        f"{_count_in_sql('t', LANG_MARKERS[lg])} AS c_{lg}" for lg in _PRIORITY
    )
    best = "greatest(" + ", ".join(f"c_{lg}" for lg in _PRIORITY) + ")"
    whens = "\n           ".join(
        f"WHEN c_{lg} = {best} THEN '{lg}'" for lg in _PRIORITY
    )
    return f"""
WITH base AS ({base_sql}),
t AS (
  SELECT doc_id, {tokens_sql("text")} AS t,
         md5(array_to_string({tokens_sql("text")}, ' ')) AS digest
  FROM base),
c AS (
  SELECT doc_id, digest, CAST(len(t) AS BIGINT) AS n_tokens,
         {_count_in_sql('t', STOPWORDS)} AS n_stop,
         {counts}
  FROM t),
gated AS (
  SELECT doc_id, digest, n_tokens,
         CASE WHEN n_tokens <= 0 OR {best} <= 0 THEN 'unknown'
             {whens}
         END AS pred_lang,
         CASE WHEN n_tokens > 0
              THEN (n_stop * 1000000) // n_tokens ELSE 0 END AS sw
  FROM c),
reasons AS (
  SELECT *, CASE WHEN n_tokens < {MIN_TOKENS} THEN 'too_short'
                 WHEN pred_lang = 'unknown' THEN 'language'
                 WHEN sw < {MIN_STOPWORD_MICROS} THEN 'quality'
            END AS gate
  FROM gated),
ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY digest, (gate IS NULL)
                            ORDER BY CAST(doc_id AS VARCHAR)) AS rn,
         min(CAST(doc_id AS VARCHAR)) OVER (
             PARTITION BY digest, (gate IS NULL)) AS winner
  FROM reasons)"""


def _curate_cte() -> str:
    """_verdict_cte over the exact-clone curate-fixture corpus."""
    return _verdict_cte(
        f"""
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_CURATE_CLONE_OFFSET}, text FROM documents
  WHERE doc_id % 5 = 0"""
    )


def _curated_oracle_sql() -> str:
    return (
        _curate_cte()
        + """
SELECT doc_id, digest, n_tokens, pred_lang,
       CASE WHEN gate IS NULL AND rn = 1 THEN 'keep' ELSE 'reject' END
         AS verdict,
       coalesce(gate, CASE WHEN rn > 1 THEN 'duplicate' END) AS reason,
       CASE WHEN gate IS NULL AND rn > 1
            THEN CAST(winner AS BIGINT) END AS dup_of
FROM ranked ORDER BY doc_id
"""
    )


def q_kept_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end of the pipeline: extraction ⋉ keep-verdicts (read_kept, the
    publish-as-view path export --kept-from ships) — exactly the
    gate-passing dedup winners, each with its extracted text intact. A
    verdict row that leaks a loser, drops a keeper, or a semi-join that
    duplicates rows all flip the hash."""
    import os

    from ..spark.curate import read_kept
    from ..spark.lineage import CommitLog

    out_root = _curate_fixture(spark, sf_dir)
    src_root = os.path.join(os.path.dirname(out_root), "src")
    df = read_kept(spark, CommitLog(src_root), CommitLog(out_root))
    first_text = F.element_at(
        F.filter("spans", lambda s: s["kind"] == "text"), 1
    )["text"]
    return df.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        first_text.alias("extracted_text"),
    ).orderBy("doc_id")


def _kept_corpus_oracle_sql() -> str:
    return (
        _curate_cte()
        + """
SELECT r.doc_id, b.text AS extracted_text
FROM ranked r JOIN base b ON r.doc_id = b.doc_id
WHERE r.gate IS NULL AND r.rn = 1
ORDER BY r.doc_id
"""
    )


# --- kept corpus with near-dup collapse (--over-kept) --------------------

# near-clone slices: doc_id offsets divisible by 51 (3 x 17) so a clone
# keeps its base's wrap structure; the pad is 10 English marker stopwords,
# so a clone of a gate-REJECTED base (quality/language/too_short) usually
# PASSES — manufacturing kept near-dup clusters whose full-scope winner is
# rejected, the residual case the kept-scoped rerun exists for. Distinct
# tails keep the two clones off the exact-dedup path (different digests).
_NEAR_OFF_A = 714_000
_NEAR_OFF_B = 816_000
_NEAR_PAD = " the of and is to in that it was for"
_NEAR_TAIL_A = " alphaone"
_NEAR_TAIL_B = " betatwo"
_NEAR_MOD, _NEAR_REM = 7, 3


def _neardup_corpus_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = spark.read.parquet(f"{sf_dir}/documents.parquet")
    s = base.where(F.col("doc_id") % _NEAR_MOD == _NEAR_REM)

    def clone(off: int, tail: str) -> DataFrame:
        return s.withColumn("doc_id", F.col("doc_id") + off).withColumn(
            "text", F.concat(F.col("text"), F.lit(_NEAR_PAD + tail))
        )

    return base.unionByName(clone(_NEAR_OFF_A, _NEAR_TAIL_A)).unionByName(
        clone(_NEAR_OFF_B, _NEAR_TAIL_B)
    )


def _neardup_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Committed extraction of the near-clone corpus, one curate pass, then
    the KEPT-SCOPED near-dup re-decision (run_neardup(kept_from=...), the
    job.py neardup --over-kept --rebuild surface). Same idempotence/
    keying contract as _curate_fixture; the rebuild leg is guarded by an
    empty-table check because a rebuild always publishes a fresh overwrite
    chunk (re-running it would still be CORRECT — the overwrite shadows —
    but the fixture should not accrete chunks on every oracle run)."""
    import os

    from ..spark.curate import CURATE_COMPUTE_VERSION, run_curate
    from ..spark.lineage import CommitLog
    from ..spark.neardup import NEARDUP_COMPUTE_VERSION, run_neardup

    base, src_log = _stage_fixture_base(
        spark,
        sf_dir,
        "neardup",
        f"curate-v{CURATE_COMPUTE_VERSION}:neardup-v{NEARDUP_COMPUTE_VERSION}"
        ":kept-collapsed-v1",
        corpus_df_fn=_neardup_corpus_df,
    )
    cur_root = os.path.join(base, "cur")
    run_curate(spark, src_log, CommitLog(cur_root))
    ndk = CommitLog(os.path.join(base, "ndk"))
    if not ndk.committed_chunks():
        run_neardup(
            spark,
            src_log,
            ndk,
            rebuild=True,
            kept_from=CommitLog(cur_root),
        )
    return base


def q_kept_collapsed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fully-collapsed training corpus: extraction ⋉ curate-keep ▷
    kept-scoped near-dup flags (read_kept(neardup_log=<--over-kept
    table>)). Every near-dup cluster WITHIN the kept corpus ships exactly
    its smallest member — including residual clusters whose full-scope
    winner was curate-rejected, the case a full-scope flag table cannot
    collapse (spark/curate.read_kept's validity rule revives them). The
    oracle re-derives the whole chain in closed form: verdict CTE over the
    near-clone corpus, then THE MinHash band arithmetic + exact-Jaccard
    verification (shared SQL builders from ops/dedup) over the kept docs,
    then the anti join. A wrong gate, a drifted band hash, a verification
    against the wrong corpus scope, or an unstable dup winner all flip the
    value hash."""
    import os

    from ..spark.curate import read_kept
    from ..spark.lineage import CommitLog

    b = _neardup_fixture(spark, sf_dir)
    df = read_kept(
        spark,
        CommitLog(os.path.join(b, "src")),
        CommitLog(os.path.join(b, "cur")),
        neardup_log=CommitLog(os.path.join(b, "ndk")),
    )
    first_text = F.element_at(
        F.filter("spans", lambda s: s["kind"] == "text"), 1
    )["text"]
    return df.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        first_text.alias("extracted_text"),
    ).orderBy("doc_id")


def _kept_collapsed_oracle_sql() -> str:
    from .dedup import DUP_JACCARD_PPB, band_rows_sql, _minhash_sig_sql, shingles_sql

    base_sql = f"""
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_NEAR_OFF_A}, text || '{_NEAR_PAD}{_NEAR_TAIL_A}'
  FROM documents WHERE doc_id % {_NEAR_MOD} = {_NEAR_REM}
  UNION ALL
  SELECT doc_id + {_NEAR_OFF_B}, text || '{_NEAR_PAD}{_NEAR_TAIL_B}'
  FROM documents WHERE doc_id % {_NEAR_MOD} = {_NEAR_REM}"""
    return (
        _verdict_cte(base_sql)
        + f""",
keepset AS (
  SELECT doc_id FROM ranked WHERE gate IS NULL AND rn = 1),
kept_docs AS (
  SELECT b.doc_id, b.text FROM base b JOIN keepset USING (doc_id)),
sig AS ({_minhash_sig_sql('kept_docs')}),
banded AS ({band_rows_sql()}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc, b.doc_id AS partner
  FROM banded a JOIN banded b USING (band_id, band_hash)
  WHERE CAST(b.doc_id AS VARCHAR) < CAST(a.doc_id AS VARCHAR)),
sh2 AS ({shingles_sql('kept_docs')}),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh2 GROUP BY doc_id),
common AS (
  SELECT c.doc, c.partner, count(*) AS common
  FROM cand c
  JOIN sh2 s1 ON c.doc = s1.doc_id
  JOIN sh2 s2 ON c.partner = s2.doc_id AND s1.shingle = s2.shingle
  GROUP BY c.doc, c.partner),
flagged AS (
  SELECT DISTINCT c.doc
  FROM cand c
  LEFT JOIN common USING (doc, partner)
  JOIN sizes sa ON c.doc = sa.doc_id
  JOIN sizes sb ON c.partner = sb.doc_id
  WHERE CAST(floor(coalesce(common, 0) * 1000000000
             / (sa.n_sh + sb.n_sh - coalesce(common, 0))) AS BIGINT)
        >= {DUP_JACCARD_PPB})
SELECT k.doc_id, b.text AS extracted_text
FROM keepset k JOIN base b USING (doc_id)
WHERE k.doc_id NOT IN (SELECT doc FROM flagged)
ORDER BY k.doc_id
"""
    )


QUERIES: dict[str, tuple] = {
    "ocr_roundtrip": (q_ocr_roundtrip, _ocr_roundtrip_oracle_sql),
    "signals_table": (q_signals_table, _signals_oracle_sql),
    "packed_table": (q_packed_table, _packed_oracle_sql),
    "materialized_table": (q_materialized_table, _materialized_oracle_sql),
    "packed_bpe_table": (q_packed_bpe_table, _packed_bpe_oracle_sql),
    "materialized_bpe_table": (
        q_materialized_bpe_table,
        _materialized_bpe_oracle_sql,
    ),
    "curated_table": (q_curated_table, _curated_oracle_sql),
    "kept_corpus": (q_kept_corpus, _kept_corpus_oracle_sql),
    "kept_collapsed": (q_kept_collapsed, _kept_collapsed_oracle_sql),
    "pack_interleaved": (q_pack_interleaved, PACK_INTERLEAVED_SQL),
    "pack_interleaved_slices": (
        q_pack_interleaved_slices,
        PACK_INTERLEAVED_SLICES_SQL,
    ),
    "extract_clean": (q_extract_clean, EXTRACT_CLEAN_SQL),
    "extract_data_corpus": (q_extract_data_corpus, EXTRACT_DATA_SQL),
    "snapshot_read": (q_snapshot_read, _snapshot_read_oracle_sql),
    "snapshot_diff": (q_snapshot_diff, _snapshot_diff_oracle_sql),
    "extract_staged": (q_extract_staged, EXTRACT_CLEAN_SQL),
    "staged_pdf_corpus": (q_staged_pdf_corpus, _pdf_corpus_oracle_sql),
    "extract_metrics": (q_extract_metrics, EXTRACT_METRICS_SQL),
    "render_markdown": (q_render_markdown, RENDER_MARKDOWN_SQL),
    "curate_corpus": (q_curate_corpus, CURATE_CORPUS_SQL),
    "extract_failures": (q_extract_failures, EXTRACT_FAILURES_SQL),
    "extract_pdf_corpus": (q_extract_pdf_corpus, _pdf_corpus_oracle_sql),
    "extract_encrypted_corpus": (
        q_extract_encrypted_corpus,
        _encrypted_corpus_oracle_sql,
    ),
    "extract_passworded_corpus": (
        q_extract_passworded_corpus,
        _passworded_corpus_oracle_sql,
    ),
    "extract_pw_manifest_corpus": (
        q_extract_pw_manifest_corpus,
        _passworded_corpus_oracle_sql,
    ),
}
