"""Output checks run on every committed table.

1. Every committed doc against the generator's closed-form oracle
   (``corpus.expected_extraction_rows``): pages, spans, failures, the span
   kind sequence and the media refs; every doc exactly once.
2. A sample of docs byte-compared against ``core.extractor.extract_document``
   run in this process.
3. After the derived chain: every doc exactly once in signals and curate,
   every doc with text exactly once in pack (pack places no empty doc),
   and materialized ``n_tokens`` summing to the packed total per epoch.

A check returns the ids of the docs that failed it; ``failed_frac`` is
their count over the docs attempted.
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass, field


@dataclass
class Committed:
    """What the checks read back from one committed extraction table."""

    failed: set[str] = field(default_factory=set)
    problems: list[str] = field(default_factory=list)
    durations_ms: list[int] = field(default_factory=list)
    pages: int = 0
    kernel_ms_by_part: dict[int, int] = field(default_factory=dict)


def load_inputs(corpus_dir: str) -> dict[str, list[dict]]:
    import pyarrow.parquet as pq

    table = pq.read_table(corpus_dir, columns=["doc_id", "spans"])
    return dict(zip(table.column("doc_id").to_pylist(), table.column("spans").to_pylist()))


def sample_ids(doc_ids, k: int) -> list[str]:
    ids = sorted(doc_ids)
    step = max(1, len(ids) // k)
    return ids[::step][:k]


def check_extraction(spark, table_root: str, expected: list[dict], inputs: dict, sample: list[str]) -> Committed:
    from pyspark.sql import functions as F

    from pdf_extractor_spark.core.extractor import extract_document
    from pdf_extractor_spark.spark.lineage import CommitLog

    df = CommitLog(table_root).read_extracted(spark)
    rows = df.select(
        "doc_id", "part_id", "pages_parsed", "spans_emitted", "parse_failures", "duration_ms",
        F.transform("spans", lambda s: s["kind"]).alias("kinds"),
        F.filter(F.transform("spans", lambda s: s["media_ref"]), lambda r: r != "").alias("refs"),
        F.when(F.col("doc_id").isin(sample), F.col("spans")).alias("sample_spans"),
    ).collect()

    out = Committed()
    seen: dict[str, object] = {}
    for r in rows:
        if r["doc_id"] in seen:
            out.failed.add(r["doc_id"])
            out.problems.append(f"{r['doc_id']}: committed twice")
        seen[r["doc_id"]] = r
        out.durations_ms.append(r["duration_ms"])
        out.pages += r["pages_parsed"]
        out.kernel_ms_by_part[r["part_id"]] = out.kernel_ms_by_part.get(r["part_id"], 0) + r["duration_ms"]
    want = {e["doc_id"]: e for e in expected}
    for doc_id in set(seen) - set(want):
        out.failed.add(doc_id)
        out.problems.append(f"{doc_id}: not in the input")
    for doc_id, e in want.items():
        r = seen.get(doc_id)
        if r is None:
            out.failed.add(doc_id)
            out.problems.append(f"{doc_id}: missing")
            continue
        got = (r["pages_parsed"], r["spans_emitted"], r["parse_failures"], ",".join(r["kinds"]), ",".join(r["refs"]))
        exp = (e["pages_parsed"], e["spans_emitted"], e["parse_failures"], e["kinds"], e["media_refs"])
        if got != exp:
            out.failed.add(doc_id)
            out.problems.append(f"{doc_id}: oracle mismatch {got[:3]} != {exp[:3]}")
    for doc_id in sample:
        r = seen.get(doc_id)
        if r is None:
            continue
        ref = extract_document(inputs[doc_id])
        got_spans = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["sample_spans"]]
        if (
            got_spans != [tuple(s) for s in ref.spans]
            or (r["pages_parsed"], r["spans_emitted"], r["parse_failures"])
            != (ref.pages_parsed, ref.spans_emitted, ref.parse_failures)
        ):
            out.failed.add(doc_id)
            out.problems.append(f"{doc_id}: differs from extract_document")
    return out


def check_chain(spark, src_root: str, roots: dict[str, str]) -> tuple[set[str], list[str]]:
    from pyspark.sql import functions as F

    from pdf_extractor_spark.spark.curate import read_curated
    from pdf_extractor_spark.spark.lineage import CommitLog
    from pdf_extractor_spark.spark.materialize import read_materialized
    from pdf_extractor_spark.spark.pack import read_packed
    from pdf_extractor_spark.spark.signals import read_signals

    texts = {
        r["doc_id"]: r["texts"]
        for r in CommitLog(src_root).read_extracted(spark).select(
            "doc_id",
            F.transform(F.filter("spans", lambda s: s["kind"] == "text"), lambda s: s["text"]).alias("texts"),
        ).collect()
    }
    doc_ids = set(texts)
    # pack places only docs with text: an empty doc occupies no tokens
    with_text = {d for d, t in texts.items() if " ".join(t).strip()}
    failed: set[str] = set()
    problems: list[str] = []
    for stage, reader, want in (
        ("signals", read_signals, doc_ids),
        ("curate", read_curated, doc_ids),
        ("pack", read_packed, with_text),
    ):
        ids = Counter(r["doc_id"] for r in reader(spark, CommitLog(roots[stage])).select("doc_id").collect())
        bad = {d for d, n in ids.items() if n > 1} | (want ^ set(ids))
        if bad:
            failed |= bad
            problems.append(f"{stage}: {len(bad)} docs not exactly once")
    packed = read_packed(spark, CommitLog(roots["pack"])).select("doc_id", "pack_epoch", "n_tokens").collect()
    mat = read_materialized(spark, CommitLog(roots["materialize"])).select("pack_epoch", "n_tokens").collect()
    for epoch in {r["pack_epoch"] for r in packed} | {r["pack_epoch"] for r in mat}:
        want = sum(r["n_tokens"] for r in packed if r["pack_epoch"] == epoch)
        got = sum(r["n_tokens"] for r in mat if r["pack_epoch"] == epoch)
        if got != want:
            failed |= {r["doc_id"] for r in packed if r["pack_epoch"] == epoch}
            problems.append(f"materialize epoch {epoch}: {got} tokens != packed {want}")
    return failed, problems
