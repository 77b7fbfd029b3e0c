"""Semantic invariants for the training-data preparation operators
(ops/training.py) that the value-hash oracle can't express: the packing
layout must tile the token stream exactly, LM scores must be valid
probabilities, and the k-means step must partition the corpus.
"""

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_DIR = "/root/testdata/sf0.001"


def _rows(spark, name):
    from pdf_extractor_spark.ops.registry import queries

    return queries()[name](spark, SF_DIR).collect()


def test_pack_contexts_tiles_token_stream(spark):
    """Offsets in shuffled order form an exact partition of [0, total):
    every document starts where the previous one ends, and chunk spans
    are consistent with CTX_TOKENS."""
    from pdf_extractor_spark.ops.training import CTX_TOKENS

    rows = _rows(spark, "pack_contexts")
    assert len(rows) == 500
    by_off = sorted(rows, key=lambda r: r["start_off"])
    expect = 0
    for r in by_off:
        assert r["start_off"] == expect, "gap or overlap in the packed stream"
        expect += r["n_tokens"]
        assert r["first_chunk"] == r["start_off"] // CTX_TOKENS
        assert r["last_chunk"] == (r["start_off"] + r["n_tokens"] - 1) // CTX_TOKENS
        assert r["n_chunks"] == r["last_chunk"] - r["first_chunk"] + 1 >= 1
    assert expect == sum(r["n_tokens"] for r in rows)
    # the shuffle did something: packed order differs from doc_id order
    assert [r["doc_id"] for r in by_off] != sorted(r["doc_id"] for r in rows)


def test_pack_slices_assemble_every_context_exactly(spark):
    """The gather map is a perfect tiling on BOTH axes: each context's
    slices are contiguous from offset 0 and sum to CTX_TOKENS (except the
    final partial context), and each document's slices partition its
    tokens in order."""
    from collections import defaultdict

    from pdf_extractor_spark.ops.training import CTX_TOKENS

    rows = _rows(spark, "pack_slices")
    docs = {r["doc_id"]: r for r in _rows(spark, "pack_contexts")}
    total = sum(r["n_tokens"] for r in docs.values())
    by_ctx = defaultdict(list)
    by_doc = defaultdict(list)
    for r in rows:
        assert r["n_toks"] >= 1
        by_ctx[r["ctx"]].append(r)
        by_doc[r["doc_id"]].append(r)
    last_ctx = max(by_ctx)
    assert set(by_ctx) == set(range(last_ctx + 1))  # no empty context
    for ctx, slices in by_ctx.items():
        slices.sort(key=lambda r: r["off_in_ctx"])
        off = 0
        for s in slices:
            assert s["off_in_ctx"] == off, "gap inside a context"
            off += s["n_toks"]
        assert off == (CTX_TOKENS if ctx < last_ctx else total - last_ctx * CTX_TOKENS)
    for doc_id, slices in by_doc.items():
        slices.sort(key=lambda r: r["off_in_doc"])
        off = 0
        for s in slices:
            assert s["off_in_doc"] == off, "gap inside a document"
            off += s["n_toks"]
        assert off == docs[doc_id]["n_tokens"]
    # row-count bounds: one row per doc plus one per boundary that CUTS a
    # doc (a doc ending exactly on a context boundary adds none)
    assert len(docs) <= len(rows) <= len(docs) + last_ctx


def test_pack_interleaved_slices_tile_and_partition(spark):
    """The multimodal gather map tiles like pack_slices: each context's
    nonzero slices are contiguous from offset 0 and sum to the context
    budget (final partial excepted), each (doc, span)'s slices partition
    its cost in order, kinds ride through, and zero-cost spans appear as
    zero-length markers at their stream position."""
    from collections import defaultdict

    from pdf_extractor_spark.ops.training import CTX_TOKENS

    rows = _rows(spark, "pack_interleaved_slices")
    spans = {
        (r["doc_id"], r["span_idx"]): r
        for r in _rows(spark, "pack_interleaved")
    }

    total = sum(r["cost"] for r in spans.values())
    by_ctx = defaultdict(list)
    by_span = defaultdict(list)
    for r in rows:
        assert r["n_toks"] >= 0
        assert r["kind"] in ("text", "media")
        if r["n_toks"] > 0:
            by_ctx[r["ctx"]].append(r)
        by_span[(r["doc_id"], r["span_idx"])].append(r)
    last_ctx = max(by_ctx)
    assert set(by_ctx) == set(range(last_ctx + 1))
    for ctx, slices in by_ctx.items():
        slices.sort(key=lambda r: r["off_in_ctx"])
        off = 0
        for s in slices:
            assert s["off_in_ctx"] == off, "gap inside a context"
            off += s["n_toks"]
        assert off == (
            CTX_TOKENS if ctx < last_ctx else total - last_ctx * CTX_TOKENS
        )
    for key, slices in by_span.items():
        slices.sort(key=lambda r: r["off_in_span"])
        off = 0
        for s in slices:
            assert s["off_in_span"] == off, "gap inside a span"
            off += s["n_toks"]
            assert s["kind"] == spans[key]["kind"]
        assert off == spans[key]["cost"]
    # every placed span appears; zero-cost spans exactly once, zero-length
    assert set(by_span) == set(spans)
    for key, r in spans.items():
        if r["cost"] == 0:
            assert [s["n_toks"] for s in by_span[key]] == [0]
    # media spans never straddle more than their 64-budget allows
    for key, slices in by_span.items():
        if spans[key]["kind"] == "media":
            assert len(slices) <= 2  # 64 < CTX -> at most one boundary cut


def test_pack_stats_consistent_with_placements(spark):
    """The one-row diagnostics agree with the placement table recomputed
    row-by-row in Python."""
    from pdf_extractor_spark.ops.training import CTX_TOKENS

    docs = _rows(spark, "pack_contexts")
    [st] = _rows(spark, "pack_stats")
    total = sum(r["n_tokens"] for r in docs)
    n_ctx = -(-total // CTX_TOKENS)
    crossings = sum(r["n_chunks"] - 1 for r in docs)
    assert st["n_docs"] == len(docs)
    assert st["total_tokens"] == total
    assert st["n_contexts"] == n_ctx
    assert st["straddling_docs"] == sum(
        1 for r in docs if r["n_chunks"] > 1
    )
    assert st["boundary_crossings"] == crossings
    assert st["tail_waste_tokens"] == n_ctx * CTX_TOKENS - total
    assert st["mean_doc_tokens_micros"] == total * 10**6 // len(docs)
    assert st["docs_per_context_micros"] == (
        (len(docs) + crossings) * 10**6 // n_ctx
    )


def test_lm_score_is_valid_probability(spark):
    """Every per-position score is a probability in micros: the per-doc sum
    is bounded by n_bigrams * 1e6 and strictly positive (add-one smoothing
    never yields zero), and every multi-token document is scored."""
    import duckdb

    rows = _rows(spark, "lm_score")
    n_expected = duckdb.sql(
        f"""SELECT count(*) FROM '{SF_DIR}/documents.parquet'
            WHERE len(string_split_regex(lower(trim(text)), '\\s+')) >= 2"""
    ).fetchone()[0]
    assert len(rows) == n_expected
    for r in rows:
        assert 0 < r["score_micros"] <= r["n_bigrams"] * 1_000_000
        assert 0 < r["mean_prob_micros"] <= 1_000_000


def test_kmeans_train_wcss_monotone(spark):
    """Lloyd's algorithm must not increase total within-cluster scatter
    across iterations (assignment and update each minimize the objective).
    The floor-quantized centroid is within 1 micro/dim of the true
    minimizer, so in principle the sequence could wobble by that epsilon
    right at convergence — but the arithmetic is fully deterministic, so
    this pin can never flake: it records that on this corpus the descent
    is strict."""
    from pdf_extractor_spark.ops.training import kmeans_train_df

    totals = []
    for n in (1, 2, 3):
        rows = kmeans_train_df(spark, SF_DIR, n).collect()
        assert sum(r["n_members"] for r in rows) == 500
        totals.append(sum(r["wcss"] for r in rows))
    assert totals[0] >= totals[1] >= totals[2], totals


def test_ann_ivf_trained_recall_vs_bruteforce(spark):
    """The trained quantizer must not degrade probe quality below the
    medoid-seeded IVF's bound (recall@3 >= 0.5 vs exact brute force at
    nprobe=2 of 10 cells)."""
    from pdf_extractor_spark.ops.registry import queries

    qs = queries()

    def topk(name, k=3):
        out = {}
        for r in qs[name](spark, SF_DIR).collect():
            if r["rank"] <= k:
                out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return out

    exact = topk("ann_bruteforce")
    trained = topk("ann_ivf_trained")
    recalls = [len(trained.get(q, set()) & exact[q]) / len(exact[q]) for q in exact]
    assert sum(recalls) / len(recalls) >= 0.5, recalls


def test_kmeans_step_partitions_corpus(spark):
    """The Lloyd step assigns every vector to exactly one cell and emits a
    full-dimension centroid per non-empty cell."""
    from pdf_extractor_spark.ops.training import K_DIM

    rows = _rows(spark, "kmeans_step")
    assert sum(r["n_members"] for r in rows) == 500
    for r in rows:
        vals = r["centroid_micros"].split(",")
        assert len(vals) == K_DIM
        assert all(v.lstrip("-").isdigit() for v in vals)


def test_chunk_windows_overlap_invariants(spark, tmp_path):
    """Every position covered, consecutive chunks share exactly
    CHUNK_OVERLAP tokens, last chunk clipped to the doc end."""
    import pandas as pd

    from pdf_extractor_spark.ops.training import (
        CHUNK_OVERLAP,
        CHUNK_SIZE,
        CHUNK_STRIDE,
        q_chunk_windows,
    )

    n_tok = 70
    pd.DataFrame(
        {
            "doc_id": [1, 2],
            "text": [
                " ".join(f"w{i}" for i in range(n_tok)),
                "short doc",
            ],
            "lang": ["en", "en"],
            "source": ["s", "s"],
            "n_chars": [100, 9],
        }
    ).to_parquet(tmp_path / "documents.parquet")
    rows = q_chunk_windows(spark, str(tmp_path)).collect()
    long = [r for r in rows if r["doc_id"] == 1]
    assert [r["start_tok"] for r in long] == [1, 25, 49]
    assert [r["end_tok"] for r in long] == [32, 56, 70]
    assert [r["chunk_idx"] for r in long] == [0, 1, 2]
    for a, b in zip(long, long[1:]):
        assert a["end_tok"] - b["start_tok"] + 1 == CHUNK_OVERLAP
        assert b["start_tok"] - a["start_tok"] == CHUNK_STRIDE
    assert long[0]["n_tokens"] == CHUNK_SIZE
    assert long[-1]["end_tok"] == n_tok  # clipped, full coverage
    short = [r for r in rows if r["doc_id"] == 2]
    assert len(short) == 1
    assert (short[0]["start_tok"], short[0]["end_tok"]) == (1, 2)


def test_chunk_windows_and_normalize_match_python_reference(spark, tmp_path):
    """Randomized (seeded) docs: both new map-only ops must match a
    brute-force Python reference on every row — sliding-window arithmetic
    and stutter/filler folding are exactly the kind of off-by-one surface
    a fixed example can miss."""
    import random

    import pandas as pd

    from pdf_extractor_spark.ops.textstats import (
        FILLER_TOKENS,
        q_transcript_normalize,
    )
    from pdf_extractor_spark.ops.training import (
        CHUNK_OVERLAP,
        CHUNK_SIZE,
        CHUNK_STRIDE,
        q_chunk_windows,
    )

    rng = random.Random(7)
    vocab = ["alpha", "beta", "gamma", "delta", "uh", "um"]
    docs = []
    for i in range(60):
        n = rng.randrange(1, 140)
        toks = []
        while len(toks) < n:
            w = rng.choice(vocab)
            toks.extend([w] * rng.choice([1, 1, 1, 2, 3]))
        docs.append((i, " ".join(toks[:n])))
    pd.DataFrame(
        {
            "doc_id": [d[0] for d in docs],
            "text": [d[1] for d in docs],
            "lang": ["en"] * len(docs),
            "source": ["s"] * len(docs),
            "n_chars": [len(d[1]) for d in docs],
        }
    ).to_parquet(tmp_path / "documents.parquet")

    # chunk_windows reference
    expect = {}
    for i, text in docs:
        t = text.split()
        n = len(t)
        starts = list(range(1, max(n - CHUNK_OVERLAP, 1) + 1, CHUNK_STRIDE))
        expect[i] = [
            (s, min(s + CHUNK_SIZE - 1, n)) for s in starts
        ]
    got = {}
    for r in q_chunk_windows(spark, str(tmp_path)).collect():
        got.setdefault(r["doc_id"], []).append((r["start_tok"], r["end_tok"]))
    assert got == expect
    # coverage + overlap invariants on every doc
    for i, spans in expect.items():
        n = len(docs[i][1].split())
        assert spans[0][0] == 1 and spans[-1][1] == n
        for (s1, e1), (s2, e2) in zip(spans, spans[1:]):
            assert s2 == s1 + CHUNK_STRIDE and s2 <= e1 + 1

    # transcript_normalize reference
    def norm(text: str) -> list[str]:
        out = []
        for w in text.lower().split():
            if out and out[-1] == w:
                continue
            out.append(w)
        return [w for w in out if w not in FILLER_TOKENS]

    rows = {r["doc_id"]: r for r in q_transcript_normalize(spark, str(tmp_path)).collect()}
    for i, text in docs:
        ref = norm(text)
        assert rows[i]["clean_text"] == " ".join(ref)
        assert rows[i]["n_tokens_out"] == len(ref)
        assert rows[i]["n_tokens_in"] == len(text.split())


def test_bpe_encode_word_single_sweep_is_fixpoint():
    """Differential check of the encode kernel: for SINGLE-LEVEL rules
    (pairs of original chars) one greedy sweep per rule in rank order must
    equal running the whole rule loop to fixpoint — the property
    q_bpe_encode's docstring claims makes the oracle's fixed-depth
    recursion exact. Randomized over a small alphabet so repeated chars
    ('aaaa') and chained rules get exercised."""
    import random

    from pdf_extractor_spark.ops.textstats import bpe_encode_word

    def fixpoint(tok, rules):
        syms = list(tok)
        while True:
            changed = False
            for pair in rules:
                a, b = pair[0], pair[1]
                out = []
                for s in syms:
                    if out and out[-1] == a and s == b:
                        out[-1] = pair
                        changed = True
                    else:
                        out.append(s)
                syms = out
            if not changed:
                return syms

    rng = random.Random(42)
    alpha = "abc"
    for _ in range(500):
        tok = "".join(rng.choice(alpha) for _ in range(rng.randint(1, 12)))
        n_rules = rng.randint(1, 6)
        rules = []
        while len(rules) < n_rules:
            p = rng.choice(alpha) + rng.choice(alpha)
            if p not in rules:
                rules.append(p)
        got = bpe_encode_word(tok, rules)
        assert got == fixpoint(tok, rules), (tok, rules, got)
        # merges never lose characters: concatenation round-trips the word
        assert "".join(got) == tok


def test_bpe_encode_reconstructs_corpus(spark):
    """End-to-end invariants on the real query: piece streams reconstruct
    the whitespace-normalized lowercased text exactly (drop the '_' merge
    markers), counts agree, and at least one merge actually fired."""
    import duckdb

    rows = _rows(spark, "bpe_encode")
    con = duckdb.connect()
    texts = dict(
        con.execute(
            f"SELECT doc_id, text FROM read_parquet('{SF_DIR}/documents.parquet')"
        ).fetchall()
    )
    assert len(rows) == len(texts)
    merged_somewhere = False
    for r in rows:
        norm = " ".join(texts[r["doc_id"]].strip().lower().split())
        assert r["encoded_text"].replace("_", "") == norm
        assert r["n_tokens"] == len(norm.split())
        pieces = sum(len(w.split("_")) for w in r["encoded_text"].split())
        assert r["n_pieces"] == pieces <= len(norm.replace(" ", ""))
        if r["n_pieces"] < len(norm.replace(" ", "")):
            merged_somewhere = True
    assert merged_somewhere


def test_bpe_encode_edge_texts_match_oracle(spark, tmp_path):
    """Cross-engine exactness on the tokenizer's edge cases: NULL text is
    ABSENT from the output on both engines (unnest of a NULL split yields
    no rows); empty / whitespace-only / separator-padded docs produce the
    same EMPTY tokens (split keeps leading/trailing empties; trim strips
    spaces only); and a unicode NBSP is NOT a separator (Java/RE2 \\s is
    the ASCII class — Python's str.split() would disagree)."""
    import duckdb
    import pandas as pd

    from pdf_extractor_spark.ops.registry import REGISTRY, queries

    texts = {
        10: None,
        11: "",
        12: "   ",
        13: "\tlead and\ttrail\t",
        14: "a b c",
        15: "aa aab the the the cat",
    }
    pd.DataFrame(
        {
            "doc_id": list(texts),
            "text": [texts[k] for k in texts],
            "lang": ["en"] * len(texts),
            "source": ["s"] * len(texts),
            "n_chars": [len(t or "") for t in texts.values()],
        }
    ).to_parquet(tmp_path / "documents.parquet")

    got = {
        r["doc_id"]: r.asDict()
        for r in queries()["bpe_encode"](spark, str(tmp_path)).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS "
        f"SELECT * FROM read_parquet('{tmp_path}/documents.parquet')"
    )
    want = {
        r[0]: {"doc_id": r[0], "n_tokens": r[1], "n_pieces": r[2],
               "encoded_text": r[3]}
        for r in con.execute(REGISTRY["bpe_encode"][1]).fetchall()
    }
    assert got == want
    assert 10 not in got  # NULL text: no row on either engine
    assert got[11]["n_tokens"] == 1  # '' splits to one EMPTY token
    assert got[12]["n_tokens"] == 1  # spaces trim to the same
    assert got[14]["n_tokens"] == 2  # NBSP is not a separator
