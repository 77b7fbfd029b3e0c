"""Incremental near-dup stage (spark/neardup.py): batch + cross-run
matching, band fingerprints, rebuild semantics."""

from __future__ import annotations

import pytest

import pdf_extractor_spark.spark.lineage as L
from pdf_extractor_spark.ops.extraction_queries import wrap_documents
from pdf_extractor_spark.spark.neardup import read_neardup, run_neardup
from tests.helpers import write_docs

# 30 distinct words; the tail-appended variants share >=0.9 of their 3-gram
# shingles pairwise (well above the 0.5 Jaccard duplicate threshold)
BASE = " ".join(f"word{i:02d}" for i in range(30))
NEAR1 = BASE + " tailone"
NEAR2 = BASE + " tailtwo"
FAR = " ".join(f"other{i:02d}" for i in range(30))
GROUP = ("1", "5", "9")  # the near-dup cluster's doc ids

TEXTS = {1: BASE, 5: NEAR1, 7: FAR, 8: "ab", 9: NEAR2, 3: "zz " * 40}


def _rows(spark, out) -> dict[str, dict]:
    return {r["doc_id"]: r.asDict() for r in read_neardup(spark, out).collect()}


def _check_invariants(got: dict[str, dict]) -> None:
    assert got["7"]["dup_of"] is None and got["3"]["dup_of"] is None
    assert got["8"]["dup_of"] is None and got["8"]["bh0"] is None  # too short
    for d in GROUP:
        assert got[d]["bh0"] is not None and len(got[d]["bh0"]) == 32
        if got[d]["dup_of"] is not None:
            assert got[d]["dup_of"] in GROUP and got[d]["dup_of"] != d
            assert got[d]["jaccard_ppb"] >= 500_000_000
        else:
            assert got[d]["jaccard_ppb"] is None


def test_single_batch_neardup(spark, tmp_path):
    """All docs in one snapshot: within-batch matching, smallest verified
    partner wins, shingle-less and unrelated docs stay unique."""
    sf = write_docs(tmp_path / "b1", TEXTS)
    src = L.CommitLog(str(tmp_path / "src"))
    out = L.CommitLog(str(tmp_path / "out"))
    L.run_extraction(spark, wrap_documents(spark, sf), src, n_parts=2,
                     parts_per_chunk=2)
    rep = run_neardup(spark, src, out)
    assert rep.chunks_committed == 1 and rep.docs_processed == 6
    got = _rows(spark, out)
    _check_invariants(got)
    assert got["1"]["dup_of"] is None  # smallest id: nothing before it
    assert got["5"]["dup_of"] == "1"
    assert got["9"]["dup_of"] == "1"  # min verified partner among {1, 5}

    # idempotent: cursor == latest -> no-op
    rep2 = run_neardup(spark, src, out)
    assert rep2.chunks_committed == 0 and rep2.docs_processed == 0


def test_incremental_neardup_across_waves(spark, tmp_path):
    """Crash-split waves: run 2 consumes only the delta and matches its docs
    against run 1's committed BAND INDEX (prior partners outrank batch
    ones); the prior corpus is only re-read for the candidate partners."""
    sf = write_docs(tmp_path / "waves", TEXTS)
    docs = wrap_documents(spark, sf)
    src = L.CommitLog(str(tmp_path / "src"))
    out = L.CommitLog(str(tmp_path / "out"))

    with pytest.raises(RuntimeError, match="injected failure"):
        L.run_extraction(spark, docs, src, n_parts=4, parts_per_chunk=2,
                         fail_after_chunks=1)
    r1 = run_neardup(spark, src, out)
    assert r1.chunks_committed == 1
    wave1 = set(_rows(spark, out))

    L.run_extraction(spark, docs, src, n_parts=4, parts_per_chunk=2)
    r2 = run_neardup(spark, src, out)
    assert r1.docs_processed + r2.docs_processed == 6  # delta only
    got = _rows(spark, out)
    assert len(got) == 6
    _check_invariants(got)

    # expected partner per group member, derived from the wave split:
    # wave-1 members match only smaller wave-1 ids; wave-2 members prefer
    # ANY prior (wave-1) member — smallest id — else smaller wave-2 ids
    w1 = sorted(d for d in GROUP if d in wave1)
    w2 = sorted(d for d in GROUP if d not in wave1)
    for i, d in enumerate(w1):
        expect = w1[0] if i > 0 else None
        assert got[d]["dup_of"] == expect, (d, w1, w2)
    for i, d in enumerate(w2):
        if w1:
            expect = w1[0]
        else:
            expect = w2[0] if i > 0 else None
        assert got[d]["dup_of"] == expect, (d, w1, w2)

    # rebuild re-decides globally with an empty prior index: pure batch
    # semantics regardless of the historical wave split
    r3 = run_neardup(spark, src, out, rebuild=True)
    assert r3.chunks_committed == 1 and r3.docs_processed == 6
    got = _rows(spark, out)
    assert len(got) == 6
    _check_invariants(got)
    assert got["1"]["dup_of"] is None
    assert got["5"]["dup_of"] == "1" and got["9"]["dup_of"] == "1"


def test_kept_view_and_export_drop_neardups(spark, tmp_path):
    """read_kept(neardup_log=...) and the export-side filter both reduce to
    curate-keep AND not-near-dup; each near-dup cluster ships exactly its
    first-seen representative."""
    import zipfile

    from pdf_extractor_spark.spark.curate import (
        GateConfig,
        read_kept,
        run_curate,
    )
    from pdf_extractor_spark.spark.export import export_markdown_zip

    sf = write_docs(tmp_path / "kept", TEXTS)
    src = L.CommitLog(str(tmp_path / "src"))
    cur = L.CommitLog(str(tmp_path / "cur"))
    L.run_extraction(spark, wrap_documents(spark, sf), src, n_parts=2,
                     parts_per_chunk=2)
    # the marker-word corpus has no English stopwords: open the heuristic
    # gates so curation keeps everything long enough and the test isolates
    # the NEAR-DUP composition
    run_curate(spark, src, cur, gates=GateConfig(
        min_stopword_micros=0, accept_langs=GateConfig.any_language()))
    nd = L.CommitLog(str(tmp_path / "nd"))
    run_neardup(spark, src, nd)

    kept_plain = {r["doc_id"] for r in read_kept(spark, src, cur).collect()}
    kept_nodups = {
        r["doc_id"]
        for r in read_kept(spark, src, cur, neardup_log=nd).collect()
    }
    # 5 and 9 are near-dups of 1; whatever curate kept, the composed view
    # must not ship them
    assert kept_nodups == kept_plain - {"5", "9"}
    assert "1" in kept_nodups  # the cluster's first-seen representative

    zp = str(tmp_path / "out.zip")
    n = export_markdown_zip(
        spark, str(tmp_path / "src"), zp,
        kept_from=str(tmp_path / "cur"),
        drop_neardups_from=str(tmp_path / "nd"),
    )
    with zipfile.ZipFile(zp) as z:
        names = {m.rsplit(".", 1)[0] for m in z.namelist()}
    assert n == len(kept_nodups) and names == kept_nodups

    # without a curate table every partner counts as kept: the near-dup
    # filter alone drops exactly the flagged docs
    flagged = {d for d, r in _rows(spark, nd).items() if r["dup_of"] is not None}
    assert flagged == {"5", "9"}
    zp = str(tmp_path / "nodups.zip")
    n = export_markdown_zip(
        spark, str(tmp_path / "src"), zp,
        drop_neardups_from=str(tmp_path / "nd"),
    )
    with zipfile.ZipFile(zp) as z:
        names = {m.rsplit(".", 1)[0] for m in z.namelist()}
    assert n == len(TEXTS) - 2 and names == {str(i) for i in TEXTS} - flagged


def _write_text_chunk(spark, src, chunk_id: int, texts: dict[str, str],
                      part_id: int) -> None:
    """Hand-write one extraction chunk's data (marker published by the
    caller) with CONTROLLED span text — the reextraction race below needs
    the same doc_id to carry different text across two chunks."""
    import os

    from pdf_extractor_spark.spark.lineage import _chunk_dirname
    from pdf_extractor_spark.spark.pipeline import EXTRACTED_SCHEMA

    rows = [
        (d, [("text", t, None, 0)], 1, 1, 0, 1, {}, part_id)
        for d, t in texts.items()
    ]
    spark.createDataFrame(rows, EXTRACTED_SCHEMA).write.partitionBy(
        "part_id"
    ).mode("append").parquet(os.path.join(src.data_dir, _chunk_dirname(chunk_id)))


def test_neardup_partner_text_pinned_to_cursor_snapshot(spark, tmp_path):
    """A source partition-overwrite committing MID-RUN (after the stage
    listed its window, before it fetched candidate partners' text) must not
    leak into the verification join: the prior band index describes the
    pre-overwrite bytes, so the partner read is pinned to the stage's
    cursor snapshot. Unpinned, the batch doc here verifies against the
    REWRITTEN partner text (no shared shingle -> verdict flips to unique)
    even though the committed index nominated it from the original text."""
    import pdf_extractor_spark.spark.lineage as LL

    src = L.CommitLog(str(tmp_path / "src"))
    out = L.CommitLog(str(tmp_path / "out"))

    a = src.reserve_chunk_id()
    _write_text_chunk(spark, src, a, {"a1": BASE}, part_id=0)
    src.commit_chunk(a, [0], {"docs": 1}, n_parts=4)
    r1 = run_neardup(spark, src, out)
    assert r1.docs_processed == 1

    b = src.reserve_chunk_id()
    _write_text_chunk(spark, src, b, {"b1": NEAR1}, part_id=1)
    src.commit_chunk(b, [1], {"docs": 1}, n_parts=4)

    real_read = L.CommitLog.read_extracted
    raced = {"done": False}

    def overwrite_then_read(self, spark_, as_of=None, markers=None):
        # the partner-text fetch is the only read_extracted this stage
        # makes on the SOURCE log; land the overwrite just before it
        if self is src and not raced["done"]:
            raced["done"] = True
            c = src.reserve_chunk_id()
            _write_text_chunk(spark_, src, c, {"a1": FAR}, part_id=0)
            src.commit_chunk(c, [0], {"docs": 1}, n_parts=4, overwrite=True)
        return real_read(self, spark_, as_of=as_of, markers=markers)

    LL.CommitLog.read_extracted = overwrite_then_read
    try:
        r2 = run_neardup(spark, src, out)
    finally:
        LL.CommitLog.read_extracted = real_read
    assert raced["done"] and r2.docs_processed == 1
    got = _rows(spark, out)
    assert got["b1"]["dup_of"] == "a1"  # verified against a1's INDEXED text
    assert got["b1"]["jaccard_ppb"] >= 500_000_000

    # the overwrite is now in the next window: the stage refuses the
    # append-shaped delta and directs a rebuild, which re-decides both
    # docs against the rewritten corpus (a1=FAR, so b1 is unique again)
    with pytest.raises(ValueError, match="rebuild=True"):
        run_neardup(spark, src, out)
    r3 = run_neardup(spark, src, out, rebuild=True)
    assert r3.docs_processed == 2
    got = _rows(spark, out)
    assert got["b1"]["dup_of"] is None and got["a1"]["dup_of"] is None


def test_neardup_over_kept_collapses_residual_clusters(spark, tmp_path):
    """A cluster whose full-scope partner was curate-rejected leaves TWO
    kept survivors in the composed view (the flag-validity rule revives the
    one whose partner is gone). The kept-scoped rerun re-decides matching
    over exactly the kept corpus, and composing THAT table collapses the
    residual to one representative. Scope mixing is refused."""
    from pdf_extractor_spark.spark.curate import (
        GateConfig,
        read_kept,
        run_curate,
    )
    from pdf_extractor_spark.spark.derived import latest_metric

    src = L.CommitLog(str(tmp_path / "src"))
    cur = L.CommitLog(str(tmp_path / "cur"))
    nd = L.CommitLog(str(tmp_path / "nd"))
    ndk = L.CommitLog(str(tmp_path / "ndk"))
    a = src.reserve_chunk_id()
    # 1=BASE (30 tokens), 5/9 = BASE + one tail token (31): min_tokens=31
    # curate-rejects exactly the cluster's full-scope winner
    _write_text_chunk(spark, src, a, {"1": BASE, "5": NEAR1, "9": NEAR2},
                      part_id=0)
    src.commit_chunk(a, [0], {"docs": 3}, n_parts=2)
    run_curate(spark, src, cur, gates=GateConfig(
        min_tokens=31, min_stopword_micros=0,
        accept_langs=GateConfig.any_language()))

    run_neardup(spark, src, nd)
    got = _rows(spark, nd)
    assert got["5"]["dup_of"] == "1" and got["9"]["dup_of"] == "1"
    assert latest_metric(nd.committed_chunks(), "scope") == "full"
    # both survivors ship: their flags name the REJECTED doc 1
    kept_full = {r["doc_id"]
                 for r in read_kept(spark, src, cur, neardup_log=nd).collect()}
    assert kept_full == {"5", "9"}

    # the kept-scoped re-decision (job.py neardup --over-kept --rebuild)
    rep = run_neardup(spark, src, ndk, rebuild=True, kept_from=cur)
    assert rep.docs_processed == 2  # only the kept corpus
    got = _rows(spark, ndk)
    assert set(got) == {"5", "9"}
    assert got["5"]["dup_of"] is None and got["9"]["dup_of"] == "5"
    assert latest_metric(ndk.committed_chunks(), "scope") == "kept"
    kept_collapsed = {
        r["doc_id"]
        for r in read_kept(spark, src, cur, neardup_log=ndk).collect()
    }
    assert kept_collapsed == {"5"}  # residual collapsed to one rep

    # scope guards: kept without rebuild, and incremental across scopes
    with pytest.raises(ValueError, match="rebuild=True"):
        run_neardup(spark, src, ndk, kept_from=cur)
    with pytest.raises(ValueError, match="scope"):
        run_neardup(spark, src, ndk)  # full-scope incremental on kept table
    # a full-scope REBUILD legitimately re-scopes the table
    run_neardup(spark, src, ndk, rebuild=True)
    assert latest_metric(ndk.committed_chunks(), "scope") == "full" and len(_rows(spark, ndk)) == 3


def _ref_doc(text: str):
    """Pure-Python mirror of the stage's per-doc signature arithmetic
    (ops/portable tokens -> shingles -> reduced md5 hash -> 16 minhash
    permutations -> 4 band md5s). Returns (shingle_set, band_hashes) or
    None for a shingle-less doc."""
    import hashlib
    import re

    from pdf_extractor_spark.ops.portable import (
        MINHASH_A,
        MINHASH_B,
        MINHASH_BANDS,
        MINHASH_P,
        NUM_MINHASH,
    )

    toks = re.split(r"\s+", text.strip().lower())
    if len(toks) < 3:
        return None
    sh = {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
    hs = [
        int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % MINHASH_P
        for s in sh
    ]
    mh = [
        min((MINHASH_A[k] * h + MINHASH_B[k]) % MINHASH_P for h in hs)
        for k in range(NUM_MINHASH)
    ]
    rpb = NUM_MINHASH // MINHASH_BANDS
    bands = [
        hashlib.md5(
            ",".join(str(mh[b * rpb + r]) for r in range(rpb)).encode()
        ).hexdigest()
        for b in range(MINHASH_BANDS)
    ]
    return sh, bands


def _ref_wave(prior: dict, batch: dict[str, str]) -> dict[str, dict]:
    """Reference verdicts for one incremental wave against ``prior``
    (doc_id -> (shingles, bands) of every previously committed doc),
    implementing the documented semantics: band-collision candidates from
    the prior index plus smaller-STRING-id batch docs, exact floor-ppb
    Jaccard verification, prior partners outrank batch partners, ties on
    the lexicographically smallest partner. Mutates ``prior``."""
    from pdf_extractor_spark.ops.dedup import DUP_JACCARD_PPB

    info = {d: _ref_doc(t) for d, t in batch.items()}
    out = {}
    for d, di in info.items():
        if di is None:
            out[d] = {"bands": [None] * 4, "dup_of": None, "jaccard_ppb": None}
            continue
        sh, bands = di

        def jacc(other_sh):
            common = len(sh & other_sh)
            return common * 10**9 // (len(sh) + len(other_sh) - common)

        def best(cands):
            verified = {
                p: jacc(psh)
                for p, psh in cands
                if jacc(psh) >= DUP_JACCARD_PPB
            }
            return min(verified.items()) if verified else None

        def collides(other_bands):
            # positional: the stage joins on (band_id, band_hash) pairs
            return any(a == b for a, b in zip(bands, other_bands))

        hit = best(
            (p, psh)
            for p, (psh, pbands) in prior.items()
            if collides(pbands)
        ) or best(
            (p, info[p][0])
            for p in batch
            if p < d and info[p] is not None and collides(info[p][1])
        )
        out[d] = {
            "bands": bands,
            "dup_of": hit[0] if hit else None,
            "jaccard_ppb": hit[1] if hit else None,
        }
    for d, di in info.items():
        if di is not None:
            prior[d] = di
    return out


@pytest.mark.parametrize("seed", [7, 23])
def test_neardup_incremental_matches_python_reference(spark, tmp_path, seed):
    """Randomized differential test: 3 waves of a seeded corpus (random
    docs + mutated copies + shingle-less shorts, shuffled string ids) run
    through the real incremental stage, every row — band fingerprints,
    dup_of, jaccard_ppb — compared against the pure-Python reference."""
    import random

    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(12)]
    src = L.CommitLog(str(tmp_path / "src"))
    out = L.CommitLog(str(tmp_path / "out"))

    prior: dict = {}
    expect: dict[str, dict] = {}
    wave_of: dict[str, int] = {}
    all_texts: list[str] = []
    ids = list(range(40))
    rng.shuffle(ids)  # "d0".."d39" arrive in shuffled string order
    it = iter(ids)
    for wave in range(3):
        batch: dict[str, str] = {}
        for _ in range(rng.randrange(8, 14)):
            if all_texts and rng.random() < 0.35:
                t = all_texts[rng.randrange(len(all_texts))].split()
                if t and rng.random() < 0.5:
                    t[rng.randrange(len(t))] = rng.choice(vocab)
                else:
                    t.append(rng.choice(vocab))
                text = " ".join(t)
            else:
                text = " ".join(
                    rng.choice(vocab) for _ in range(rng.randrange(0, 11))
                )
            batch[f"d{next(it)}"] = text
            all_texts.append(text)
        cid = src.reserve_chunk_id()
        _write_text_chunk(spark, src, cid, batch, part_id=0)
        src.commit_chunk(cid, [0], {"docs": len(batch)}, n_parts=2)
        expect.update(_ref_wave(prior, batch))
        rep = run_neardup(spark, src, out)
        assert rep.docs_processed == len(batch)

        wave_of.update({d: wave for d in batch})

    got = _rows(spark, out)
    assert set(got) == set(expect)
    for d, e in expect.items():
        g = got[d]
        assert [g[f"bh{b}"] for b in range(4)] == e["bands"], d
        assert g["dup_of"] == e["dup_of"], (d, g["dup_of"], e["dup_of"])
        assert g["jaccard_ppb"] == e["jaccard_ppb"], d
    # non-vacuity: the corpus must exercise prior-index hits, same-batch
    # hits, and shingle-less docs — else the comparison proves nothing
    dup_waves = {
        (wave_of[e["dup_of"]] < wave_of[d])
        for d, e in expect.items()
        if e["dup_of"] is not None
    }
    assert dup_waves == {True, False}, dup_waves
    assert any(e["bands"] == [None] * 4 for e in expect.values())


def test_neardup_job_and_cli_guards(spark, tmp_path):
    """run_neardup (the `neardup` body) end-to-end against a committed
    root, then the same stage through main() — which borrows the test
    session rather than stopping it."""
    from pdf_extractor_spark.job import main

    sf = write_docs(tmp_path / "cli", {1: BASE, 2: NEAR1})
    src_root = str(tmp_path / "cli_src")
    out_root = str(tmp_path / "cli_out")
    L.run_extraction(spark, wrap_documents(spark, sf),
                     L.CommitLog(src_root), n_parts=2, parts_per_chunk=2)
    report = run_neardup(spark, L.CommitLog(src_root), L.CommitLog(out_root))
    assert report.chunks_committed == 1 and report.docs_processed == 2
    got = _rows(spark, L.CommitLog(out_root))
    assert got["2"]["dup_of"] == "1" and got["1"]["dup_of"] is None

    # the stage and its compaction through the CLI dispatch (the refusals
    # live in tests/test_job_cli.py); a rerun and a single-chunk compaction
    # are clean no-ops
    assert main(["neardup", "--input", src_root, "--output", out_root]) == 0
    assert main(["maintain", out_root, "--compact"]) == 0


def test_kept_view_survives_curate_rejected_partner(spark, tmp_path):
    """A near-dup flag only excludes a doc whose dup_of partner is itself
    curate-KEPT. Neardup runs over ALL extracted docs independent of
    curation, so when a flagged-but-kept doc's partner was curate-rejected
    the doc must survive as its cluster's earliest kept representative —
    an unconditional anti join would drop every member of the cluster from
    the shipped corpus. Flag chains promote the next member: with
    dup_of(B)=A (A rejected) and dup_of(C)=B (B kept), exactly B ships."""
    import os
    import zipfile

    from pdf_extractor_spark.spark.curate import CURATED_SCHEMA, read_kept
    from pdf_extractor_spark.spark.export import export_markdown_zip
    from pdf_extractor_spark.spark.lineage import _chunk_dirname, _write_chunk
    from pdf_extractor_spark.spark.neardup import NEARDUP_SCHEMA
    from pdf_extractor_spark.spark.pipeline import EXTRACTED_SCHEMA

    src = L.CommitLog(str(tmp_path / "src"))
    cid = src.reserve_chunk_id()
    rows = [
        (d, [("text", f"body {d}", None, 0)], 1, 1, 0, 1, {}, 0)
        for d in ["A", "B", "C"]
    ]
    spark.createDataFrame(rows, EXTRACTED_SCHEMA).write.partitionBy(
        "part_id"
    ).mode("append").parquet(os.path.join(src.data_dir, _chunk_dirname(cid)))
    src.commit_chunk(cid, [0], {"docs": 3}, n_parts=2)

    cur = L.CommitLog(str(tmp_path / "cur"))
    cur_rows = [
        ("A", "dA", 2, "en", "reject", "quality", None, 0),
        ("B", "dB", 2, "en", "keep", None, None, 0),
        ("C", "dC", 2, "en", "keep", None, None, 0),
    ]
    _write_chunk(
        spark, cur, spark.createDataFrame(cur_rows, CURATED_SCHEMA),
        cur.reserve_chunk_id(), None, 2,
        extra_metrics={"stage": "curate", "src_snapshot": cid},
    )

    nd = L.CommitLog(str(tmp_path / "nd"))
    nd_rows = [
        ("A", None, None, None, None, None, None, 0),
        ("B", None, None, None, None, "A", 700_000_000, 0),
        ("C", None, None, None, None, "B", 700_000_000, 0),
    ]
    _write_chunk(
        spark, nd, spark.createDataFrame(nd_rows, NEARDUP_SCHEMA),
        nd.reserve_chunk_id(), None, 2,
        extra_metrics={"stage": "neardup", "src_snapshot": cid},
    )

    kept = {
        r["doc_id"] for r in read_kept(spark, src, cur, neardup_log=nd).collect()
    }
    assert kept == {"B"}

    # the export-side filter composes the same rule
    zp = str(tmp_path / "out.zip")
    n = export_markdown_zip(
        spark, str(tmp_path / "src"), zp,
        kept_from=str(tmp_path / "cur"),
        drop_neardups_from=str(tmp_path / "nd"),
    )
    with zipfile.ZipFile(zp) as z:
        assert n == 1 and {m.rsplit(".", 1)[0] for m in z.namelist()} == {"B"}
