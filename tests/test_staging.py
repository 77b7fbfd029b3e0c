"""Binary-payload staging table (spark/staging.py): extracting a staged
document must be byte-identical to extracting its ingest-contract form —
staging is an internal optimization for multi-pass pipelines, never a
semantic change."""

import base64

from hypothesis import given, settings
from hypothesis import strategies as st

from pdf_extractor_spark.core.extractor import extract_document, stage_span
from pdf_extractor_spark.corpus import corpus_df
from pdf_extractor_spark.spark.pipeline import DOCUMENTS_SCHEMA, extract_documents
from pdf_extractor_spark.spark.staging import stage_documents


def _stage_local(spans):
    return [(k, stage_span(k, t), m, o) for k, t, m, o in spans]


def _assert_same_result(direct, staged):
    assert staged.spans == direct.spans
    assert staged.pages_parsed == direct.pages_parsed
    assert staged.spans_emitted == direct.spans_emitted
    assert staged.parse_failures == direct.parse_failures
    assert staged.scores == direct.scores


# --- core-level equivalence -------------------------------------------------

_TEXTS = st.one_of(
    st.text(max_size=120),
    # valid base64 of arbitrary bytes (incl. PDF-ish magic sometimes)
    st.binary(max_size=80).map(lambda b: base64.b64encode(b).decode()),
    st.binary(max_size=60).map(lambda b: base64.b64encode(b"%PDF-1.4\n" + b).decode()),
    st.just(""),
    st.just("!!!not-base64!!!"),
    st.just("AAA"),  # bad padding
    st.just("AA==AA=="),  # mid-stream padding
    st.just("déjà vu"),  # non-ascii -> UnicodeEncodeError on the pdf path
)

_SPAN = st.tuples(
    st.sampled_from(["text", "html", "pdf", "media", "data", "bogus", ""]),
    _TEXTS,
    st.text(max_size=20),
    st.integers(min_value=-5, max_value=50),
)


@settings(max_examples=150, deadline=None)
@given(st.lists(_SPAN, max_size=8))
def test_core_staged_equivalence(spans):
    """extract_document(s) == extract_document(stage(s)) for every
    kind x payload shape, including every base64-failure class."""
    _assert_same_result(
        extract_document(list(spans)), extract_document(_stage_local(spans))
    )


def test_stage_span_semantics():
    assert stage_span("pdf", base64.b64encode(b"abc").decode()) == b"abc"
    assert stage_span("pdf", "!!!") is None  # strict-decode tombstone
    assert stage_span("pdf", "déjà") is None  # non-ascii base64
    assert stage_span("pdf", "") == b""  # empty decodes, fails at parse
    assert stage_span("text", "héllo") == "héllo".encode()
    assert stage_span("text", None) == b""


# --- Spark-level differential ----------------------------------------------


def _collect_extracted(df):
    out = {}
    for r in df.collect():
        out[r["doc_id"]] = (
            [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]],
            r["pages_parsed"],
            r["spans_emitted"],
            r["parse_failures"],
            dict(r["scores"]),
        )
    return out


def test_staged_differential_mixed_corpus(spark):
    """Real PDFs (images, CID fonts, rotations), HTML, text, media through
    both paths: identical spans + metrics + scores."""
    docs = corpus_df(spark, 80, seed=11)
    direct = _collect_extracted(extract_documents(docs, n_parts=16, num_partitions=4))
    staged = _collect_extracted(
        extract_documents(stage_documents(docs), n_parts=16, num_partitions=4)
    )
    assert direct == staged
    assert len(direct) == 80


def test_staged_differential_encrypted_corpus(spark):
    """RC4/AES decrypt and the passworded-failure contract survive staging."""
    docs = corpus_df(spark, 24, seed=7, profile="encrypted")
    direct = _collect_extracted(extract_documents(docs, n_parts=8, num_partitions=4))
    staged = _collect_extracted(
        extract_documents(stage_documents(docs), n_parts=8, num_partitions=4)
    )
    assert direct == staged
    assert sum(v[3] for v in direct.values()) > 0  # passworded docs did fail


def test_staged_differential_failure_classes(spark):
    """The three doctored-pdf failure classes stage to tombstone/garbage and
    still produce the exact direct-path failure accounting."""
    rows = []
    payloads = [
        "!!!not-base64!!!",
        base64.b64encode(b"this is not a pdf at all").decode(),
        base64.b64encode(b"%PDF-1.4\ntruncated").decode(),
    ]
    for i in range(30):
        rows.append(
            (
                f"doc{i:03d}",
                [
                    ("text", f"hello {i}", "", 0),
                    ("pdf", payloads[i % 3], "", 1),
                ],
            )
        )
    docs = spark.createDataFrame(rows, DOCUMENTS_SCHEMA)
    direct = _collect_extracted(extract_documents(docs, n_parts=8, num_partitions=2))
    staged = _collect_extracted(
        extract_documents(stage_documents(docs), n_parts=8, num_partitions=2)
    )
    assert direct == staged
    assert all(v[3] == 1 for v in direct.values())  # every doc: 1 pdf failure


def test_staging_preserves_offsets_and_order(spark):
    """The staging pass never reorders or renumbers spans — offset semantics
    belong to the parse stage (which sorts by offset itself)."""
    rows = [
        ("d1", [("text", "b", "", 5), ("media", "", "m://x", 1), ("text", "a", "", 9)]),
    ]
    docs = spark.createDataFrame(rows, DOCUMENTS_SCHEMA)
    [r] = stage_documents(docs).collect()
    assert [(s["kind"], s["offset"]) for s in r["spans"]] == [
        ("text", 5),
        ("media", 1),
        ("text", 9),
    ]
    assert [bytes(s["payload"]) for s in r["spans"]] == [b"b", b"", b"a"]


def test_staging_preserves_null_spans(spark):
    """A NULL spans row (DOCUMENTS_SCHEMA allows it — e.g. a JSONL
    metadata-only doc) must stage as NULL, not as an empty array: the
    staging table is 'never a semantic change', so `spans IS NULL`
    predicates answer identically on staged and direct input (review
    finding)."""
    rows = [
        ("d-null", None),
        ("d-empty", []),
        ("d-one", [("text", "x", "", 0)]),
    ]
    docs = spark.createDataFrame(rows, DOCUMENTS_SCHEMA)
    got = {r["doc_id"]: r["spans"] for r in stage_documents(docs).collect()}
    assert got["d-null"] is None
    assert got["d-empty"] == []
    assert len(got["d-one"]) == 1
    # and the extraction result over the staged form matches the direct path
    direct = {
        r["doc_id"]: r
        for r in extract_documents(docs, n_parts=4, num_partitions=2).collect()
    }
    staged = {
        r["doc_id"]: r
        for r in extract_documents(
            stage_documents(docs), n_parts=4, num_partitions=2
        ).collect()
    }
    assert set(direct) == set(staged)
    for d in direct:
        assert staged[d]["spans"] == direct[d]["spans"], d
        assert staged[d]["scores"] == direct[d]["scores"], d


def test_staged_parquet_smaller_on_pdf_corpus(spark, tmp_path):
    """The staging table's reason to exist at 100 TB: a PDF corpus staged as
    binary must be materially smaller on disk than its base64-in-string
    ingest form (we assert <= 85%; measured ~75% — base64 both inflates 4/3
    and defeats parquet byte-level compression)."""
    docs = corpus_df(spark, 60, seed=3, profile="heavy")
    base_p = str(tmp_path / "ingest")
    staged_p = str(tmp_path / "staged")
    docs.write.parquet(base_p)
    stage_documents(docs).write.parquet(staged_p)

    import pathlib

    def _size(p):
        return sum(f.stat().st_size for f in pathlib.Path(p).rglob("*.parquet"))

    assert _size(staged_p) <= 0.85 * _size(base_p)
