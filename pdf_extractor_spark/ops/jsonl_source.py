"""JSONL document source (S-family widening): the lingua franca of LLM
corpus interchange, read with an EXPLICIT schema + corrupt-line quarantine.

The reference ingests files a manifest names (SURVEY §2.1); large-scale
corpora additionally arrive as newline-delimited JSON. The engine's
contract for any source holds here: explicit schema (inference is a full
extra pass and nondeterministic under drift), malformed input quarantined
into metrics — never an aborted job (S3 gate semantics), and everything
hash-verified against a DuckDB oracle over the same bytes.

Scale shape: `spark.read.json` with a provided schema is a streaming
single-pass scan (no inference pass), splittable per file, column-pruned;
PERMISSIVE mode turns each corrupt line into an all-null row captured by
``columnNameOfCorruptRecord`` instead of failing the task.

Corrupt-flag semantics, measured on this Spark 4.1.2 (they are
PRUNING-DEPENDENT, which is why the fixture pins six line classes):
- truncated JSON: all data fields null, ``_corrupt`` set — always.
- valid JSON with an unconvertible field (``"spans": 23``, a bad nested
  ``offset``): when the spans column is actually PARSED, Spark sets
  ``_corrupt`` AND keeps the partial result (doc_id populated, offending
  field null) — the >=3.4 partial-results mode; when spans is pruned
  away, the same line is not flagged at all.
- DuckDB ``ignore_errors=true`` keeps every such row with the offending
  field null-ized and has no flag column.

Two gates follow. The INGEST paths (job.py extract/refresh/watch) apply the
POLICY gate ``doc_id IS NOT NULL AND _corrupt IS NULL``: structurally
broken and type-mangled lines quarantine, schema-valid metadata-only docs
ingest as zero-span documents. The ORACLE view (``jsonl_ingest``) gates
on ``doc_id IS NOT NULL`` only, because its job is to value-hash the
PARTIAL-RESULT PARITY: both engines must produce identical null-ized
values for the mangled classes, and that equality is what the hash pins.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..spark.pipeline import DOCUMENTS_SCHEMA

_JSONL_DOCS = 120  # per file
_JSONL_FILES = 3

JSONL_SCHEMA = (
    "doc_id string, source string, "
    "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>, "
    "_corrupt string"
)


def jsonl_fixture_root() -> str:
    """Deterministic JSONL corpus: 3 files x 120 docs with interleaved
    text/media spans, plus per file one of each non-clean line class whose
    cross-engine handling the oracle pins: metadata-only (no spans key),
    text-less span (media span with no text key — the null inside an
    otherwise-valid array), bad-typed spans (not an array), bad nested
    field (unconvertible offset), and a truncated-JSON line. Content is
    formula-driven — bytes depend on nothing but this code.

    Concurrent-builder safe: each part is written to a pid-unique tmp name
    and atomically renamed, so a reader started by one process never sees
    a file a second cold-start builder is mid-truncating; the ``.complete``
    marker is renamed into place the same way (content is deterministic,
    so the last rename winning is harmless)."""
    root = os.path.join(tempfile.gettempdir(), "pes-jsonl-fixture-v3")
    done = os.path.join(root, ".complete")
    if os.path.exists(done):
        return root
    os.makedirs(root, exist_ok=True)
    for f in range(_JSONL_FILES):
        lines = []
        for i in range(_JSONL_DOCS):
            n = f * _JSONL_DOCS + i
            spans = [
                '{"kind":"text","text":"doc %d line %d","media_ref":"","offset":0}'
                % (n, n % 7)
            ]
            if n % 3 == 0:
                spans.append(
                    '{"kind":"media","text":"","media_ref":"media://%d","offset":1}'
                    % n
                )
            lines.append(
                '{"doc_id":"j-%05d","source":"s%d","spans":[%s]}'
                % (n, f, ",".join(spans))
            )
        # one metadata-only doc (valid JSON, no spans key)
        lines.append('{"doc_id":"j-meta-%d","source":"s%d"}' % (f, f))
        # schema-valid doc whose media span has NO text key: the null
        # element inside an otherwise-valid array — pins that the
        # text_chars fold skips nulls identically on both engines
        lines.append(
            '{"doc_id":"j-notext-%d","source":"s%d","spans":'
            '[{"kind":"media","media_ref":"media://nt%d","offset":1},'
            '{"kind":"text","text":"nt %d","media_ref":"","offset":0}]}'
            % (f, f, f, f)
        )
        # valid JSON, spans not an array: both engines null-ize the field
        lines.append('{"doc_id":"j-badtype-%d","source":"s%d","spans":23}' % (f, f))
        # valid JSON, unconvertible nested field: both engines null-ize
        # just the offset, keeping the rest of the struct
        lines.append(
            '{"doc_id":"j-badnest-%d","source":"s%d","spans":'
            '[{"kind":"text","text":"bn %d","media_ref":"","offset":"zz"}]}'
            % (f, f, f)
        )
        # one corrupt line (truncated) — must quarantine, never abort
        lines.append('{"doc_id":"j-trunc-%d","source":' % f)
        tmp = os.path.join(root, f".part-{f}.jsonl.tmp-{os.getpid()}")
        with open(tmp, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        os.rename(tmp, os.path.join(root, f"part-{f}.jsonl"))
    tmp = os.path.join(root, f".complete.tmp-{os.getpid()}")
    with open(tmp, "w") as fh:
        fh.write("ok")
    os.rename(tmp, done)
    return root


def detect_input_format(path: str) -> str:
    """Resolve a batch documents input path to ``"jsonl"`` or
    ``"parquet"``. A single ``*.jsonl``/``*.parquet`` FILE resolves by its
    own extension (a directory merely NAMED ``x.jsonl`` is still scanned
    by contents); a directory by :func:`files_format` over the files at
    any depth under it — sniffing a whole stream's format from whichever
    file landed first would silently misparse every drop of the other
    kind."""
    import glob as _glob

    if os.path.isfile(path):
        if path.endswith(".jsonl"):
            return "jsonl"
        if path.endswith(".parquet"):
            return "parquet"
        raise ValueError(
            f"{path!r} is a file but neither *.jsonl nor *.parquet; pass "
            f"an explicit --input-format"
        )

    def _first(ext: str) -> list[str]:
        # flat first (the landing-dir layout), then recursive for nested
        # parquet tables (Hive partition dirs); iglob short-circuits on the
        # first hit so populated dirs never pay for the deep walk. The base
        # path is escaped — a landing dir named 'drops[1]' must not glob.
        flat = os.path.join(_glob.escape(path), f"*.{ext}")
        deep = os.path.join(_glob.escape(path), "**", f"*.{ext}")
        hit = next(_glob.iglob(flat), None) or next(_glob.iglob(deep, recursive=True), None)
        return [hit] if hit else []

    return files_format(path, _first("jsonl") + _first("parquet"))


def files_format(path: str, files: list[str]) -> str:
    """The format of a directory's input from the files a run reads of it
    (``detect_input_format``'s sniff, or watch's own drop listing, which
    never descends): jsonl or parquet by extension; both is ambiguous."""
    has_jsonl = any(f.endswith(".jsonl") for f in files)
    has_parquet = any(f.endswith(".parquet") for f in files)
    if has_jsonl and has_parquet:
        raise ValueError(
            f"{path!r} mixes *.jsonl and *.parquet drops; pass an explicit "
            f"--input-format (a run reads every file of its input in one "
            f"format — one landing dir cannot serve both)"
        )
    if not has_jsonl and not has_parquet:
        # an empty landing dir is normal for a watcher started ahead of its
        # producer, but a guess would misparse the drops of the other kind
        raise ValueError(
            f"{path!r} holds neither *.jsonl nor *.parquet files; pass an "
            f"explicit --input-format to start on an empty landing dir"
        )
    return "jsonl" if has_jsonl else "parquet"


def read_jsonl_documents(spark: SparkSession, path) -> DataFrame:
    """documents(doc_id, spans, source, _corrupt) from JSONL under the
    explicit schema, unquarantined (the oracle view's read): a corrupt
    line is captured in ``_corrupt`` with every other field null."""
    return (
        spark.read.schema(JSONL_SCHEMA)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(path)
    )


def ingest_jsonl(spark: SparkSession, path) -> DataFrame:
    """documents(doc_id, spans) as the ingest paths see a JSONL file,
    directory or list of files (a watch batch): the policy gate drops
    structurally broken lines and any partial-result row the corrupt
    column flags."""
    return (
        read_jsonl_documents(spark, path)
        .where(F.col("doc_id").isNotNull() & F.col("_corrupt").isNull())
        .select("doc_id", "spans")
    )


def read_documents(spark: SparkSession, paths, fmt: str) -> DataFrame:
    """documents(doc_id, spans) from a path or list of paths in ``fmt``
    ('parquet' or 'jsonl'): the one ingest read of extract, refresh and
    watch. Parquet reads through ``DOCUMENTS_SCHEMA``, so span fields
    resolve by NAME whatever order the file's struct lists them in (the
    parse wrapper takes them by position); JSONL goes through
    :func:`ingest_jsonl`'s quarantine gate."""
    if fmt == "jsonl":
        return ingest_jsonl(spark, paths)
    paths = [paths] if isinstance(paths, str) else paths
    return spark.read.schema(DOCUMENTS_SCHEMA).parquet(*paths)


def q_jsonl_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parseable-row view of the JSONL fixture with per-doc span stats —
    the hash gate for the whole source path: schema projection, nested
    array decode, metadata-only docs, truncated-line exclusion, and the
    partial-result PARITY of the mangled classes (bad-typed spans ->
    n_spans 0, bad nested offset -> struct kept, offset null) — both
    engines must null-ize identically for the hash to match. The ingest
    paths additionally drop the _corrupt-flagged mangled rows (module
    docstring: policy gate vs oracle gate)."""
    df = read_jsonl_documents(spark, jsonl_fixture_root())
    return (
        df.where(F.col("doc_id").isNotNull())
        .select(
            "doc_id",
            "source",
            F.coalesce(F.size("spans"), F.lit(0)).cast("bigint").alias("n_spans"),
            F.coalesce(F.element_at("spans", 1)["kind"], F.lit("")).alias(
                "first_kind"
            ),
            F.coalesce(
                F.aggregate(
                    "spans",
                    F.lit(0).cast("bigint"),
                    # null text (a span with no text key) must not poison
                    # the whole fold: DuckDB's list_sum SKIPS nulls, so the
                    # fold skips them too — pinned by the j-notext-* lines
                    lambda acc, s: acc
                    + F.coalesce(F.length(s["text"]), F.lit(0).cast("bigint")),
                ),
                F.lit(0),
            ).alias("text_chars"),
        )
        .orderBy("doc_id")
    )


def _jsonl_ingest_sql() -> str:
    root = jsonl_fixture_root()
    return f"""
SELECT doc_id, source,
       coalesce(len(spans), 0) AS n_spans,
       coalesce(spans[1].kind, '') AS first_kind,
       CAST(coalesce(list_sum(list_transform(spans, s -> length(s.text))), 0)
            AS BIGINT) AS text_chars
FROM read_json('{root}/part-*.jsonl',
               format='newline_delimited', ignore_errors=true,
               columns={{'doc_id': 'VARCHAR', 'source': 'VARCHAR',
                        'spans': 'STRUCT(kind VARCHAR, text VARCHAR,
                                  media_ref VARCHAR, "offset" INTEGER)[]'}})
WHERE doc_id IS NOT NULL
ORDER BY doc_id
"""


QUERIES: dict[str, tuple] = {
    "jsonl_ingest": (q_jsonl_ingest, _jsonl_ingest_sql),
}
