"""Curation-verdict stage (spark/curate.py): gate reasons, within-batch and
cross-run exact dedup, overwrite refusal + global-dedup rebuild, CLI."""

from __future__ import annotations

import pytest

import pdf_extractor_spark.spark.lineage as L
from pdf_extractor_spark.ops.extraction_queries import wrap_documents
from pdf_extractor_spark.spark.curate import (
    MIN_TOKENS,
    compute_verdicts,
    read_curated,
    run_curate,
)
from tests.helpers import write_docs

KEEP_TEXT = "the and of to a " * 5  # 25 tokens, all stopwords, en markers


def _verdicts(spark, out) -> dict[str, dict]:
    return {r["doc_id"]: r.asDict() for r in read_curated(spark, out).collect()}


def test_gate_reasons_and_batch_dedup(spark, tmp_path):
    """One run over crafted docs: each gate fires for exactly the doc built
    to trip it, first gate wins, and within-batch dedup keeps the
    lexicographically-smallest doc_id among PASSING docs only."""
    texts = {
        1: KEEP_TEXT,
        2: "the cat",  # < MIN_TOKENS
        3: " ".join(f"zz{i}" for i in range(25)),  # no markers -> language
        # >= MIN_TOKENS, en marker, 1/40 stopwords < 3% -> quality
        4: "the " + " ".join(f"qq{i}" for i in range(39)),
        5: KEEP_TEXT,  # batch duplicate of 1 and 10
        10: KEEP_TEXT,  # "10" < "1"? no: "1" < "10" lexicographically
        6: "the cat",  # duplicate TEXT of 2, but both gate-rejected: no
        #   dedup among rejects — each keeps its own too_short reason
    }
    assert len(KEEP_TEXT.split()) >= MIN_TOKENS
    sf_dir = write_docs(tmp_path, texts)
    src = L.CommitLog(str(tmp_path / "src"))
    out = L.CommitLog(str(tmp_path / "out"))
    L.run_extraction(spark, wrap_documents(spark, sf_dir), src, n_parts=4,
                     parts_per_chunk=4)
    rep = run_curate(spark, src, out)
    assert rep.chunks_committed == 1 and rep.docs_processed == 7
    got = _verdicts(spark, out)

    assert (got["2"]["verdict"], got["2"]["reason"]) == ("reject", "too_short")
    assert (got["6"]["verdict"], got["6"]["reason"]) == ("reject", "too_short")
    assert got["2"]["dup_of"] is None and got["6"]["dup_of"] is None
    assert (got["3"]["verdict"], got["3"]["reason"]) == ("reject", "language")
    assert (got["4"]["verdict"], got["4"]["reason"]) == ("reject", "quality")

    # digest group {1, 5, 10}: "1" < "10" < "5" lexicographically
    assert (got["1"]["verdict"], got["1"]["reason"]) == ("keep", None)
    for loser in ("5", "10"):
        assert (got[loser]["verdict"], got[loser]["reason"]) == (
            "reject", "duplicate",
        )
        assert got[loser]["dup_of"] == "1"
    assert got["1"]["digest"] == got["5"]["digest"] == got["10"]["digest"]
    assert got["1"]["n_tokens"] == 25 and got["1"]["pred_lang"] == "en"


def test_classifier_gate_opt_in(spark, tmp_path):
    """The model-based classifier gate is OFF by default (verdicts and gate
    metrics unchanged), and when enabled rejects exactly the docs whose
    frozen-model logit is <= the threshold, after the heuristic gates."""
    from pdf_extractor_spark.spark.curate import GateConfig

    texts = {1: KEEP_TEXT, 2: "the cat", 7: KEEP_TEXT + " extra tail words"}
    sf_dir = write_docs(tmp_path, texts)
    src = L.CommitLog(str(tmp_path / "src"))
    L.run_extraction(spark, wrap_documents(spark, sf_dir), src, n_parts=2,
                     parts_per_chunk=2)

    out_off = L.CommitLog(str(tmp_path / "out_off"))
    run_curate(spark, src, out_off)
    off = _verdicts(spark, out_off)
    assert GateConfig().as_metrics().get("min_logit_micros") is None
    assert off["1"]["verdict"] == "keep"

    # an impossibly-high threshold fails every gate-passing doc; the
    # heuristic gates still win priority (doc 2 stays too_short)
    out_on = L.CommitLog(str(tmp_path / "out_on"))
    run_curate(spark, src, out_on,
               gates=GateConfig(min_logit_micros=10_000_000))
    on = _verdicts(spark, out_on)
    assert (on["2"]["verdict"], on["2"]["reason"]) == ("reject", "too_short")
    for d in ("1", "7"):
        assert (on[d]["verdict"], on[d]["reason"]) == ("reject", "classifier")
    # the threshold is recorded in the table's gate config
    from pdf_extractor_spark.spark.derived import latest_metric

    assert latest_metric(out_on.committed_chunks(), "gates")["min_logit_micros"] == 10_000_000
    assert "min_logit_micros" not in latest_metric(out_off.committed_chunks(), "gates")


def test_cross_run_dedup_is_exactly_once(spark, tmp_path):
    """Crash-split waves: run 2 consumes only the delta, and a digest kept
    by run 1 beats every run-2 contender — exactly one keep per digest
    across the whole table, losers pointing at the actual keeper."""
    # 12 clones of one text scattered across parts + unique fillers
    texts = {i: KEEP_TEXT for i in range(12)}
    texts.update({100 + i: f"unique{i} " + KEEP_TEXT for i in range(20)})
    sf_dir = write_docs(tmp_path, texts)
    docs = wrap_documents(spark, sf_dir)
    src = L.CommitLog(str(tmp_path / "src"))
    out = L.CommitLog(str(tmp_path / "out"))

    with pytest.raises(RuntimeError, match="injected failure"):
        L.run_extraction(spark, docs, src, n_parts=8, parts_per_chunk=4,
                         fail_after_chunks=1)
    r1 = run_curate(spark, src, out)
    assert 0 < r1.docs_processed < 32
    wave1 = set(_verdicts(spark, out))

    L.run_extraction(spark, docs, src, n_parts=8, parts_per_chunk=4)
    r2 = run_curate(spark, src, out)
    assert r1.docs_processed + r2.docs_processed == 32  # delta only
    got = _verdicts(spark, out)
    assert len(got) == 32

    by_digest: dict[str, list[dict]] = {}
    for row in got.values():
        by_digest.setdefault(row["digest"], []).append(row)
    clone_rows = [got[str(i)] for i in range(12)]
    assert len({r["digest"] for r in clone_rows}) == 1
    for rows in by_digest.values():
        keepers = [r for r in rows if r["verdict"] == "keep"]
        assert len(keepers) == 1  # exactly-once across runs
        for r in rows:
            if r["reason"] == "duplicate":
                assert r["dup_of"] == keepers[0]["doc_id"]
    # the clone keeper was decided by the FIRST run that saw the digest
    clone_keeper = next(r for r in clone_rows if r["verdict"] == "keep")
    wave1_clones = {r["doc_id"] for r in clone_rows if r["doc_id"] in wave1}
    if wave1_clones:
        assert clone_keeper["doc_id"] == min(wave1_clones)

    r3 = run_curate(spark, src, out)  # cursor == latest
    assert r3.chunks_committed == 0 and r3.docs_processed == 0


def test_overwrite_refused_then_rebuild_redecides_globally(spark, tmp_path):
    """A source partition overwrite poisons the delta (refused); rebuild
    recomputes ONE overwrite chunk with dedup re-decided globally — the
    keeper is the global lexicographic minimum, not run-1's incumbent."""
    texts = {i: KEEP_TEXT for i in range(8)}
    sf_dir = write_docs(tmp_path, texts)
    docs = wrap_documents(spark, sf_dir)
    src = L.CommitLog(str(tmp_path / "src"))
    out = L.CommitLog(str(tmp_path / "out"))
    L.run_extraction(spark, docs, src, n_parts=4, parts_per_chunk=4)
    run_curate(spark, src, out)
    assert read_curated(spark, out).count() == 8

    L.reextract_parts(spark, docs, src, parts=[0, 1])
    with pytest.raises(ValueError, match="rebuild"):
        run_curate(spark, src, out)

    rep = run_curate(spark, src, out, rebuild=True)
    assert rep.chunks_committed == 1 and rep.docs_processed == 8
    got = _verdicts(spark, out)
    assert len(got) == 8  # overwrite chunk shadows all prior verdicts
    keepers = [d for d, r in got.items() if r["verdict"] == "keep"]
    assert keepers == [min(got)]  # global lexicographic min
    assert all(
        r["dup_of"] == keepers[0]
        for d, r in got.items()
        if d != keepers[0]
    )
    assert run_curate(spark, src, out).docs_processed == 0


def test_compute_verdicts_index_beats_batch(spark, tmp_path):
    """Unit shape: a kept-digest index entry outranks even the batch's
    smallest doc_id — every batch contender becomes a duplicate of the
    index keeper."""
    sf_dir = write_docs(tmp_path, {7: KEEP_TEXT, 8: KEEP_TEXT})
    src = L.CommitLog(str(tmp_path / "src"))
    L.run_extraction(spark, wrap_documents(spark, sf_dir), src, n_parts=2,
                     parts_per_chunk=2)
    batch = src.read_extracted(spark)
    digest = compute_verdicts(batch, None).select("digest").first()["digest"]
    idx = spark.createDataFrame(
        [(digest, "0")], "digest string, _idx_dup_of string"
    )
    rows = {r["doc_id"]: r.asDict()
            for r in compute_verdicts(batch, idx).collect()}
    assert all(r["verdict"] == "reject" for r in rows.values())
    assert all(r["reason"] == "duplicate" for r in rows.values())
    assert all(r["dup_of"] == "0" for r in rows.values())


def test_gate_config_recorded_and_pinned(spark, tmp_path):
    """Custom gates change verdicts; the config is recorded in the marker;
    an incremental run under a DIFFERENT config refuses (verdict
    consistency) and --rebuild re-verdicts everything under the new one."""
    from pdf_extractor_spark.spark.curate import GateConfig, run_curate
    from pdf_extractor_spark.spark.derived import latest_metric

    # markerless (pred_lang unknown) but long: rejected by defaults,
    # kept once the language gate is open and the quality gate is off
    texts = {i: " ".join(f"w{i}x{j}" for j in range(30)) for i in range(6)}
    sf_dir = write_docs(tmp_path, texts)
    src = L.CommitLog(str(tmp_path / "src"))
    out = L.CommitLog(str(tmp_path / "out"))
    docs = wrap_documents(spark, sf_dir)
    with pytest.raises(RuntimeError, match="injected failure"):
        L.run_extraction(spark, docs, src, n_parts=4, parts_per_chunk=2,
                         fail_after_chunks=1)
    open_gates = GateConfig(
        min_stopword_micros=0, accept_langs=GateConfig.any_language()
    )
    run_curate(spark, src, out, gates=open_gates)
    got = _verdicts(spark, out)
    assert got and all(r["verdict"] == "keep" for r in got.values())
    assert latest_metric(out.committed_chunks(), "gates") == open_gates.as_metrics()

    # same config: incremental continues; different config: refuses
    L.run_extraction(spark, docs, src, n_parts=4, parts_per_chunk=2)
    with pytest.raises(ValueError, match="'gates' is "):
        run_curate(spark, src, out)  # defaults != open_gates
    run_curate(spark, src, out, gates=open_gates)
    assert len(_verdicts(spark, out)) == 6

    # rebuild under the DEFAULT gates re-verdicts: all language-rejected
    run_curate(spark, src, out, rebuild=True)
    got = _verdicts(spark, out)
    assert len(got) == 6
    assert all(r["reason"] == "language" for r in got.values())
    assert latest_metric(out.committed_chunks(), "gates") == GateConfig().as_metrics()


def test_read_kept_and_kept_export(spark, tmp_path):
    """read_kept returns exactly the keepers' extraction rows, and both
    export writers honor kept_from (rejected/duplicate docs stay committed
    but don't ship)."""
    import os
    import zipfile

    from pdf_extractor_spark.spark.curate import read_kept, run_curate
    from pdf_extractor_spark.spark.export import (
        export_markdown_zip,
        export_markdown_zip_sharded,
        shard_zip_name,
    )

    texts = {1: KEEP_TEXT, 2: KEEP_TEXT, 3: "the cat",
             4: "keep2 " + KEEP_TEXT}
    sf_dir = write_docs(tmp_path, texts)
    src = L.CommitLog(str(tmp_path / "src"))
    out = L.CommitLog(str(tmp_path / "out"))
    L.run_extraction(spark, wrap_documents(spark, sf_dir), src, n_parts=4,
                     parts_per_chunk=4)
    run_curate(spark, src, out)

    kept = read_kept(spark, src, out)
    assert sorted(r["doc_id"] for r in kept.select("doc_id").collect()) == [
        "1", "4",
    ]
    # extraction rows come through intact (spans, not just ids)
    assert all(len(r["spans"]) >= 2 for r in kept.collect())

    zp = str(tmp_path / "kept.zip")
    n = export_markdown_zip(spark, str(tmp_path / "src"), zp,
                            kept_from=str(tmp_path / "out"))
    assert n == 2
    with zipfile.ZipFile(zp) as z:
        assert sorted(z.namelist()) == ["1.md", "4.md"]

    shard_dir = str(tmp_path / "kept-shards")
    n = export_markdown_zip_sharded(spark, str(tmp_path / "src"), shard_dir,
                                    2, kept_from=str(tmp_path / "out"))
    assert n == 2
    names = []
    for k in range(2):
        with zipfile.ZipFile(os.path.join(shard_dir, shard_zip_name(k))) as z:
            names += z.namelist()
    assert sorted(names) == ["1.md", "4.md"]


def _ref_verdicts(kept_index: dict[str, str], batch: dict[str, str]) -> dict:
    """Pure-Python mirror of one incremental curate wave under the DEFAULT
    gates: portable tokenization, marker-language argmax with the fixed
    priority, floor-micros stopword ratio, gate order, and cross-run exact
    dedup (prior kept-digest index beats the whole batch; within the batch
    the smallest STRING doc_id among gate-passers wins). Mutates
    ``kept_index`` exactly like a committed run accretes it."""
    import hashlib
    import re

    from pdf_extractor_spark.ops.textstats import (
        _PRIORITY,
        LANG_MARKERS,
        STOPWORDS,
    )
    from pdf_extractor_spark.spark.curate import (
        MIN_STOPWORD_MICROS,
        MIN_TOKENS,
    )

    info = {}
    for d, text in batch.items():
        toks = re.split(r"\s+", text.strip().lower())
        n = 0 if text.strip() == "" else len(toks)
        digest = hashlib.md5(" ".join(toks).encode()).hexdigest()
        counts = {
            lg: sum(1 for t in toks if t in LANG_MARKERS[lg])
            for lg in _PRIORITY
        }
        best = max(counts.values())
        lang = (
            "unknown"
            if n <= 0 or best <= 0
            else next(lg for lg in _PRIORITY if counts[lg] == best)
        )
        n_stop = sum(1 for t in toks if t in STOPWORDS)
        sw = n_stop * 10**6 // n if n > 0 else 0
        gate = (
            "too_short"
            if n < MIN_TOKENS
            else "language"
            if lang == "unknown"
            else "quality"
            if sw < MIN_STOPWORD_MICROS
            else None
        )
        info[d] = {"digest": digest, "n_tokens": n, "pred_lang": lang,
                   "gate": gate}
    passers: dict[str, list[str]] = {}
    for d in sorted(batch):  # string order = the dedup window's order
        if info[d]["gate"] is None:
            passers.setdefault(info[d]["digest"], []).append(d)
    out = {}
    for d, i in info.items():
        dup_of = None
        if i["gate"] is None:
            if i["digest"] in kept_index:
                dup_of = kept_index[i["digest"]]
            elif passers[i["digest"]][0] != d:
                dup_of = passers[i["digest"]][0]
        reason = i["gate"] or ("duplicate" if dup_of else None)
        out[d] = {
            "digest": i["digest"],
            "n_tokens": i["n_tokens"],
            "pred_lang": i["pred_lang"],
            "verdict": "keep" if reason is None else "reject",
            "reason": reason,
            "dup_of": dup_of,
        }
    for dg, docs in passers.items():
        if dg not in kept_index:
            kept_index[dg] = docs[0]
    return out


@pytest.mark.parametrize("seed", [11, 24])
def test_curate_incremental_matches_python_reference(spark, tmp_path, seed):
    """Randomized differential test: 3 waves of a seeded corpus (marker/
    stopword-rich, noise-only and marker-no-stopword slices, verbatim
    copies within and across waves) through the real incremental stage;
    every verdict row compared against the pure-Python reference."""
    import random

    from tests.test_neardup import _write_text_chunk

    rng = random.Random(seed)
    en = ["the", "and", "of", "to", "a", "is", "it", "in"]
    es = ["el", "la", "que", "los", "y"]
    noise = ["xray", "qqq", "zzz", "foo", "bar", "baz"]
    src = L.CommitLog(str(tmp_path / "src"))
    out = L.CommitLog(str(tmp_path / "out"))

    kept_index: dict[str, str] = {}
    expect: dict[str, dict] = {}
    wave_of: dict[str, int] = {}
    all_texts: list[str] = []
    ids = list(range(60))
    rng.shuffle(ids)
    it = iter(ids)
    for wave in range(3):
        batch: dict[str, str] = {}
        for _ in range(rng.randrange(12, 20)):
            r = rng.random()
            if all_texts and r < 0.4:
                text = all_texts[rng.randrange(len(all_texts))]  # exact copy
            else:
                vocab = (
                    noise  # -> 'language' rejects
                    if r < 0.55
                    else es + noise  # lang es, zero stopwords -> 'quality'
                    if r < 0.7
                    else en + es + noise
                )
                text = " ".join(
                    rng.choice(vocab) for _ in range(rng.randrange(0, 31))
                )
            batch[f"d{next(it)}"] = text
            all_texts.append(text)
        cid = src.reserve_chunk_id()
        _write_text_chunk(spark, src, cid, batch, part_id=0)
        src.commit_chunk(cid, [0], {"docs": len(batch)}, n_parts=2)
        expect.update(_ref_verdicts(kept_index, batch))
        rep = run_curate(spark, src, out)
        assert rep.docs_processed == len(batch)
        wave_of.update({d: wave for d in batch})

    got = {r["doc_id"]: r.asDict() for r in read_curated(spark, out).collect()}
    assert set(got) == set(expect)
    for d, e in expect.items():
        g = got[d]
        for k in ("digest", "n_tokens", "pred_lang", "verdict", "reason",
                  "dup_of"):
            assert g[k] == e[k], (d, k, g[k], e[k])
    # non-vacuity: every gate reason, keeps, and BOTH dup classes (the
    # prior-run index beating the batch, and the within-batch window)
    reasons = {e["reason"] for e in expect.values()}
    assert reasons >= {"too_short", "language", "quality", "duplicate", None}
    dup_waves = {
        (wave_of[e["dup_of"]] < wave_of[d])
        for d, e in expect.items()
        if e["dup_of"] is not None
    }
    assert dup_waves == {True, False}, dup_waves


def test_curate_job_and_cli_guards(spark, tmp_path):
    """run_curate (the `curate` body) end-to-end against a committed
    root, then the same stage through main() — which borrows the test
    session rather than stopping it."""
    from pdf_extractor_spark.job import main
    from pdf_extractor_spark.spark.curate import run_curate

    texts = {1: KEEP_TEXT, 2: KEEP_TEXT, 3: "the cat"}
    sf_dir = write_docs(tmp_path, texts)
    src_root = str(tmp_path / "src")
    out_root = str(tmp_path / "out")
    L.run_extraction(spark, wrap_documents(spark, sf_dir),
                     L.CommitLog(src_root), n_parts=4, parts_per_chunk=4)
    report = run_curate(spark, L.CommitLog(src_root), L.CommitLog(out_root))
    assert report.chunks_committed == 1 and report.docs_processed == 3
    got = _verdicts(spark, L.CommitLog(out_root))
    assert len(got) == 3
    assert got["1"]["verdict"] == "keep"
    assert (got["2"]["reason"], got["3"]["reason"]) == ("duplicate", "too_short")

    # the stage and its compaction through the CLI dispatch (the refusals
    # live in tests/test_job_cli.py); a rerun and a single-chunk compaction
    # are clean no-ops
    assert main(["curate", "--input", src_root, "--output", out_root]) == 0
    assert main(["maintain", out_root, "--compact"]) == 0
