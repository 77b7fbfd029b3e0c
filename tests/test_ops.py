"""Operator library tests: registry integrity, pure-Python stubs, and a
Spark-vs-DuckDB oracle spot check mirroring the driver's correctness gate."""

import math
import sys
from pathlib import Path

import duckdb
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_DIR = "/root/testdata/sf0.001"

# fast, shuffle-light subset for the in-suite oracle check; the full sweep
# runs via tools/check_oracle.py (and the driver at sf0.01)
SPOT_CHECK = [
    "status_rollup",
    "transcript_buckets",
    "dedup_exact",
    "dedup_components",
    "minhash_signatures",
    "simhash",
    "ann_lsh",
    "ann_ivf",
    "lang_id",
    "shipping_priority",
    "salted_topk_users",
    "quality",
    "fingerprint",
    "media_features",
    "media_resize",
    "pack_contexts",
    "lm_score",
    "kmeans_step",
    "approx_distinct_kmv",
    "heavy_hitters_cms",
    "hll_distinct",
    "pagerank",
    "priority_waiting",
    "top_supplier",
    "returned_items",
    "retention_cohorts",
    "funnel_conversion",
    "bm25_search",
    "hybrid_search",
    "snapshot_read",
    "snapshot_diff",
    "quality_classifier",
]


def test_ann_pq_recall_vs_exact_l2(spark):
    """PQ approximates SQUARED-L2 (ADC), so its quality bound is against the
    exact L2 top-5, not the cosine brute force (metric mismatch). On the
    near-random synthetic embeddings — PQ's worst case — the M=16/K=16
    codebook measures recall@5 = 0.38; pin >= 0.2 (deterministic chain, the
    margin only covers testdata regeneration)."""
    import numpy as np

    from pdf_extractor_spark.ops.registry import queries

    emb = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .orderBy("vec_id")
        .collect()
    )
    V = np.floor(np.array([r["embedding"] for r in emb], dtype="float64") * 1e6)
    ids = np.array([r["vec_id"] for r in emb])
    exact = {}
    for q in range(10):
        d2 = ((V - V[q]) ** 2).sum(axis=1)
        order = np.lexsort((ids, d2))
        exact[q] = set([int(ids[i]) for i in order if ids[i] != q][:5])
    got = {}
    for r in queries()["ann_pq"](spark, SF_DIR).collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [len(got.get(q, set()) & exact[q]) / 5 for q in exact]
    assert sum(recalls) / len(recalls) >= 0.2, recalls

    # IVF-PQ sees only nprobe/K of the corpus, so its recall is bounded by
    # (and close to) full PQ: measured 0.32 vs PQ's 0.38
    got = {}
    for r in queries()["ann_ivfpq"](spark, SF_DIR).collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [len(got.get(q, set()) & exact[q]) / 5 for q in exact]
    assert sum(recalls) / len(recalls) >= 0.15, recalls


def test_quality_classifier_gate(spark):
    """The classifier verdict must be a REAL gate (neither keeps nor drops
    everything on the synthetic corpus) and `keep` must be exactly the
    logit-vs-threshold comparison it claims to be."""
    from pdf_extractor_spark.ops.registry import queries
    from pdf_extractor_spark.ops.textstats import CLS_THRESH

    rows = queries()["quality_classifier"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["keep"] == int(r["logit_micros"] > CLS_THRESH)
    rate = sum(r["keep"] for r in rows) / len(rows)
    assert 0.05 < rate < 0.95, rate


def test_registry_complete():
    from pdf_extractor_spark.ops.registry import REGISTRY, oracle_sql, queries

    assert len(REGISTRY) >= 20
    q = queries()
    o = oracle_sql()
    assert set(o) <= set(q)
    # every family is represented
    for name in (
        "extract_clean", "dedup_exact", "dedup_jaccard", "minhash_signatures",
        "minhash_lsh_pairs", "simhash", "embed_neardup", "ann_bruteforce",
        "ann_lsh", "ann_ivf", "lang_id", "quality", "token_counts", "fingerprint",
        "media_features", "media_resize", "frame_sample", "render_markdown",
        "curate_corpus",
        "status_rollup", "bucket_concat",
        "transcript_buckets",
        "resume_antijoin", "pricing_summary", "shipping_priority",
        "salted_topk_users", "asof_join",
    ):
        assert name in q, name


def test_entry_contract_shape():
    import __spark_entry__ as e

    qs = e.queries()
    os_ = e.oracle_sql()
    assert callable(e.entry)
    assert set(os_) <= set(qs)
    assert len(os_) >= 18


def test_decode_image_stub_deterministic():
    from pdf_extractor_spark.ops.multimodal import decode_image

    w1, h1 = decode_image(b"payload")
    w2, h2 = decode_image(b"payload")
    assert (w1, h1) == (w2, h2)
    assert 64 <= w1 < 256 and 64 <= h1 < 256
    assert decode_image(b"other") != (w1, h1)


def test_portable_hash_matches_duckdb():
    from pdf_extractor_spark.ops.portable import h64_sql

    con = duckdb.connect()
    for s in ("hello", "a b c", ""):
        got = con.execute(f"SELECT {h64_sql('?')}", [s]).fetchone()[0]
        # python-side recomputation of the same definition
        import hashlib

        exp = int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
        assert got == exp


def _norm_cell(v):
    if v is None:
        return "<null>"
    if isinstance(v, float):
        return "<nan>" if math.isnan(v) else f"{v:.9g}"
    return str(v)


def _signature(df):
    cols = sorted(df.columns)
    rows = sorted(tuple(_norm_cell(r[c]) for c in cols) for _, r in df.iterrows())
    return len(rows), cols, rows


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in ("events", "documents", "embeddings", "lineitem", "orders",
              "customer", "supplier", "nation"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


@pytest.mark.parametrize("name", SPOT_CHECK)
def test_query_matches_oracle(spark, duck, name):
    from pdf_extractor_spark.ops.registry import REGISTRY

    fn, sql = REGISTRY[name]
    assert sql is not None
    sdf = fn(spark, SF_DIR).toPandas()
    ddf = duck.execute(sql() if callable(sql) else sql).df()
    assert _signature(sdf) == _signature(ddf)


def test_ann_recall_vs_bruteforce(spark):
    """Quality bound for the approximate paths vs exact brute force.

    IVF (nprobe=2 of 10 cells, ~20% of the corpus examined) must reach
    recall@3 >= 0.5 averaged over the 10 queries. The LSH sign-code path is
    NOT bounded here: the synthetic embeddings are near-random (true top-3
    cosine ~0.33, barely above the random-pair distribution), and single-
    probe sign-code LSH has provably low recall on data without cluster
    structure — measured ~0.03-0.4 across table/bit configurations. Its
    structural correctness (only same-bucket candidates, exact re-rank) is
    oracle-checked; on real embeddings with cluster structure the bucket
    join is the scale path. We still pin that LSH returns a nonempty,
    correctly-ranked result set."""
    from pdf_extractor_spark.ops.registry import queries

    qs = queries()

    def topk(name, k=3):
        out = {}
        for r in qs[name](spark, SF_DIR).collect():
            if r["rank"] <= k:
                out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return out

    exact = topk("ann_bruteforce")
    ivf = topk("ann_ivf")
    recalls = [len(ivf.get(q, set()) & exact[q]) / len(exact[q]) for q in exact]
    assert sum(recalls) / len(recalls) >= 0.5, recalls

    lsh_rows = qs["ann_lsh"](spark, SF_DIR).collect()
    assert lsh_rows, "LSH produced no candidates at all"
    by_q = {}
    for r in lsh_rows:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["cosine_micros"]))
    for q, rows in by_q.items():
        rows.sort()
        cos = [c for _, c in rows]
        assert cos == sorted(cos, reverse=True), (q, rows)  # ranked by cosine


def test_multimodal_kernels_null_and_empty_payload_parity(spark, tmp_path):
    """NULL text rows (legal in the documents schema) must yield
    null-featured ROWS from the pandas kernels — bytes(None) used to
    TypeError the whole task — and frame_sample must omit null/empty docs
    on BOTH engines (review finding)."""
    import duckdb
    import pandas as pd

    from pdf_extractor_spark.ops.multimodal import (
        FRAME_SAMPLE_SQL,
        MEDIA_FEATURES_SQL,
        MEDIA_RESIZE_SQL,
        q_frame_sample,
        q_media_features,
        q_media_resize,
    )

    pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": ["hello world", None, ""],
            "lang": ["en"] * 3,
            "source": ["s"] * 3,
            "n_chars": [11, 0, 0],
        }
    ).to_parquet(tmp_path / "documents.parquet")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'"
    )

    for q, sql in (
        (q_media_features, MEDIA_FEATURES_SQL),
        (q_media_resize, MEDIA_RESIZE_SQL),
        (q_frame_sample, FRAME_SAMPLE_SQL),
    ):
        srows = [tuple(r) for r in q(spark, str(tmp_path)).collect()]
        drows = [tuple(r) for r in con.execute(sql).fetchall()]
        assert srows == drows, (q.__name__, srows, drows)
    feats = {r["doc_id"]: r for r in q_media_features(spark, str(tmp_path)).collect()}
    assert feats[2]["content_md5"] is None and feats[2]["decode_status"] == "null"
    assert feats[3]["n_bytes"] == 0  # empty string is a real 0-byte payload
    frame_docs = {r["doc_id"] for r in q_frame_sample(spark, str(tmp_path)).collect()}
    assert frame_docs == {1}  # null and empty docs sample no frames


def test_tokenizer_whitespace_class_cross_engine_on_vertical_tab(spark):
    """Java regex \\s includes \\x0B; this build's DuckDB/RE2 \\s does not
    (probed live — review finding). The shared tokenizer therefore uses an
    EXPLICIT whitespace class on both engines; this pins the parity on the
    one character the engines' \\s classes disagree about, which the
    generated testdata never contains."""
    import duckdb

    import pyspark.sql.functions as F

    from pdf_extractor_spark.ops.portable import tokens, tokens_sql
    from pdf_extractor_spark.ops.textstats import TOKEN_REGEX

    text = "A\x0bb  c\td-e"
    srow = (
        spark.createDataFrame([(text,)], "text string")
        .select(
            tokens("text").alias("t"),
            F.regexp_count("text", F.lit(TOKEN_REGEX)).alias("n"),
        )
        .collect()[0]
    )
    con = duckdb.connect()
    drow = con.execute(
        f"SELECT {tokens_sql('?')} AS t,"
        f" len(regexp_extract_all(?, '{TOKEN_REGEX}')) AS n",
        [text, text],
    ).fetchone()
    assert list(srow["t"]) == list(drow[0]) == ["a", "b", "c", "d-e"]
    assert srow["n"] == drow[1] == 6  # A b c d - e

    # and the Python BPE kernel's class agrees (core is the test oracle)
    import re

    assert re.split(r"[ \t\n\v\f\r]+", text.lower().strip(" ")) == [
        "a", "b", "c", "d-e",
    ]


def test_timestamp_queries_timezone_independent(spark):
    """The driver runs queries in ITS session, whose timezone we don't
    control. Every timestamp-arithmetic query must match its oracle under a
    non-UTC session timezone (portable.epoch_s builds epochs from wall-clock
    fields instead of unix_timestamp's session-zone conversion)."""
    import math

    import duckdb

    from pdf_extractor_spark.ops.registry import REGISTRY

    def norm(v):
        if v is None:
            return "<null>"
        if isinstance(v, float):
            return "<nan>" if math.isnan(v) else f"{v:.9g}"
        return str(v)

    con = duckdb.connect()
    for t in ("events", "documents", "orders", "customer", "lineitem", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        for name in ("bucket_concat", "hourly_windows", "sessionize",
                     "asof_join", "transcript_buckets",
                     "retention_cohorts", "funnel_conversion",
                     "volume_anomaly"):
            fn, sql = REGISTRY[name]
            sdf = fn(spark, SF_DIR).toPandas()
            ddf = con.sql(sql).df()
            cols = sorted(sdf.columns)
            a = sorted(tuple(norm(r[c]) for c in cols) for _, r in sdf.iterrows())
            b = sorted(tuple(norm(r[c]) for c in cols) for _, r in ddf.iterrows())
            assert a == b, f"{name} diverges in a non-UTC session"
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


def test_kernel_queries_work_from_any_cwd(tmp_path):
    """Executors must import pdf_extractor_spark even when the DRIVER process
    runs from an unrelated cwd (the driver harness does not cd into the
    repo). shipping.ensure_shipped addPyFiles the package per session; this
    runs a kernel query in a fresh interpreter with cwd=/tmp to prove it."""
    import subprocess
    import sys as _sys

    script = (
        "import sys; sys.path.insert(0, '/root/repo')\n"
        "import __spark_entry__ as e\n"
        "from pyspark.sql import SparkSession\n"
        "spark = (SparkSession.builder.master('local[2]').appName('cwdtest')\n"
        "         .config('spark.sql.shuffle.partitions','4')\n"
        "         .config('spark.ui.enabled','false').getOrCreate())\n"
        "try:\n"
        "    n = e.queries()['extract_clean'](spark, '/root/testdata/sf0.001').count()\n"
        "    assert n > 0, n\n"
        "    print('CWD_TEST_OK', n)\n"
        "finally:\n"
        "    spark.stop()\n"
    )
    out = subprocess.run(
        [_sys.executable, "-c", script], cwd=str(tmp_path),
        capture_output=True, text=True, timeout=300,
    )
    assert "CWD_TEST_OK" in out.stdout, out.stdout[-2000:] + out.stderr[-2000:]


def test_lang_deviation_grouped_matches_scale_plan(spark):
    """The bounded-group applyInPandas demo and the shipped two-phase
    agg + broadcast-join plan must produce identical rows (VERDICT r01:
    the grouped form is the spec, the agg form is the scale path)."""
    from pdf_extractor_spark.ops.advanced import q_lang_deviation
    from tests.helpers import lang_deviation_grouped

    a = [tuple(r) for r in q_lang_deviation(spark, SF_DIR).collect()]
    b = [tuple(r) for r in lang_deviation_grouped(spark, SF_DIR).collect()]
    assert a == b


def test_transcript_normalize_rules(spark, tmp_path):
    """Filler-token drop + consecutive-repeat collapse on a corpus that
    actually contains fillers (the synthetic testdata has none, so the
    oracle run exercises only the stutter rule)."""
    import pandas as pd

    pd.DataFrame(
        {
            "doc_id": [1, 2],
            "text": [
                "the the the model um works uh uh fine",
                "Um  spaced   out out",
            ],
            "lang": ["en", "en"],
            "source": ["s", "s"],
            "n_chars": [38, 20],
        }
    ).to_parquet(tmp_path / "documents.parquet")
    from pdf_extractor_spark.ops.textstats import q_transcript_normalize

    out = {
        r["doc_id"]: r
        for r in q_transcript_normalize(spark, str(tmp_path)).collect()
    }
    assert out[1]["clean_text"] == "the model works fine"
    assert (out[1]["n_tokens_in"], out[1]["n_tokens_out"]) == (9, 4)
    assert out[2]["clean_text"] == "spaced out"
    assert (out[2]["n_tokens_in"], out[2]["n_tokens_out"]) == (4, 2)


def test_star_contraction_chain_converges_logarithmically(spark):
    """VERDICT r03 #3: a 200-link chain (diameter 200) must converge in
    O(log n) star-contraction rounds — min-label propagation would need
    ~200. Also pins correctness on the adversarial shape: every vertex
    labeled with the chain minimum."""
    import pyspark.sql.functions as F
    from pdf_extractor_spark.ops.dedup import star_contract_components

    edges = spark.createDataFrame(
        [(f"d{i:03d}", f"d{i+1:03d}") for i in range(200)],
        "u string, v string",
    )
    labels, rounds, converged = star_contract_components(edges)
    try:
        assert converged
        assert rounds <= 12, rounds  # log2(200) ~ 7.6; observed 8
        assert labels.count() == 201
        assert labels.where(F.col("comp") != "d000").count() == 0
    finally:
        labels.unpersist()


def test_star_contraction_matches_min_label_propagation(spark):
    """Differential check on a multi-component graph with an isolated
    vertex (self-loop) and a cycle: the star-contraction labels must equal
    the shallow-graph reference implementation's."""
    from pdf_extractor_spark.ops.dedup import star_contract_components
    from tests.helpers import propagate_min_labels

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y"), ("p", "q"), ("q", "r"),
         ("r", "p"), ("z", "z"), ("m", "n"), ("n", "o"), ("o", "m"),
         ("m", "a")],
        "u string, v string",
    )
    stars, _, converged = star_contract_components(edges)
    # the reference impl requires both directions present (its caller
    # symmetrizes); star contraction accepts either orientation
    sym = edges.union(edges.selectExpr("v as u", "u as v")).distinct()
    ref, changed = propagate_min_labels(sym)
    try:
        assert converged and changed == 0
        got = sorted((r["doc_id"], r["comp"]) for r in stars.collect())
        want = sorted((r["doc_id"], r["comp"]) for r in ref.collect())
        assert got == want
    finally:
        stars.unpersist()
        ref.unpersist()


def test_dup_substring_spans_merge_semantics(spark, tmp_path):
    """Exact duplicated-substring spans: cross-doc K-gram hits mark
    positions; overlapping AND adjacent marked intervals merge into one
    maximal span; a phrase repeated only WITHIN one doc is not duplicated;
    docs shorter than K emit nothing."""
    import pandas as pd

    from pdf_extractor_spark.ops.dedup import (
        DUP_SUBSTR_K as K,
        q_dup_substring_spans,
    )

    shared = " ".join(f"w{i}" for i in range(K + 3))  # K+3 tokens -> 4 grams
    texts = {
        # doc 1: shared block at the start, then unique tail
        1: shared + " u1 u2 u3 u4 u5",
        # doc 2: unique head, the same shared block, unique tail — the
        # merged span must sit at the shifted offsets
        2: "h1 h2 " + shared + " t1",
        # doc 3: a genuine INTERNAL repeat — the same K-token phrase twice,
        # so one gram occurs at two positions of ONE doc;
        # count(distinct doc_id) >= 2 must NOT fire on it
        3: " ".join([" ".join(f"y{i}" for i in range(K))] * 2),
        # doc 4: shorter than K tokens -> no grams at all
        4: "a b c",
    }
    pd.DataFrame(
        {
            "doc_id": list(texts),
            "text": [texts[k] for k in texts],
            "lang": ["en"] * 4,
            "source": ["s"] * 4,
            "n_chars": [len(texts[k]) for k in texts],
        }
    ).to_parquet(tmp_path / "documents.parquet")

    rows = q_dup_substring_spans(spark, str(tmp_path)).collect()
    spans = {r["doc_id"]: (r["span_start"], r["span_end"], r["dup_tokens"]) for r in rows}
    # doc 1: tokens 1..K+3 are the shared block — ONE merged span
    assert spans[1] == (1, K + 3, K + 3)
    # doc 2: same block shifted by the 2-token head
    assert spans[2] == (3, K + 5, K + 3)
    # docs 3 and 4: nothing
    assert set(spans) == {1, 2}
    assert len(rows) == 2  # one maximal span each, never fragmented

    # the apply side: duplicated ranges excised, everything else kept,
    # untouched docs pass through whitespace-normalized, every doc emitted
    from pdf_extractor_spark.ops.dedup import q_dup_substring_scrub

    scrub = {
        r["doc_id"]: (r["clean_text"], r["n_tokens_in"], r["n_tokens_kept"])
        for r in q_dup_substring_scrub(spark, str(tmp_path)).collect()
    }
    assert scrub[1] == ("u1 u2 u3 u4 u5", K + 8, 5)
    assert scrub[2] == ("h1 h2 t1", K + 6, 3)
    assert scrub[3][0] == " ".join(texts[3].split())  # untouched
    assert scrub[4] == ("a b c", 3, 3)
    assert set(scrub) == {1, 2, 3, 4}


def test_dup_substring_spans_matches_python_reference(spark, tmp_path):
    """Randomized differential test: the relational gram-mark-merge must
    equal an independent brute-force reference (mark every position whose
    K-gram occurs in >= 2 distinct docs, merge intervals within K)."""
    import random

    import pandas as pd

    from pdf_extractor_spark.ops.dedup import (
        DUP_SUBSTR_K as K,
        q_dup_substring_spans,
    )

    rng = random.Random(907)
    vocab = [f"t{i}" for i in range(12)]  # tiny vocab -> dense collisions
    texts = {
        d: " ".join(rng.choice(vocab) for _ in range(rng.randint(2, 40)))
        for d in range(1, 25)
    }
    pd.DataFrame(
        {
            "doc_id": list(texts),
            "text": [texts[d] for d in texts],
            "lang": ["en"] * len(texts),
            "source": ["s"] * len(texts),
            "n_chars": [len(texts[d]) for d in texts],
        }
    ).to_parquet(tmp_path / "documents.parquet")

    # independent reference
    toks = {d: t.split() for d, t in texts.items()}
    where: dict[str, set] = {}
    for d, ts in toks.items():
        for i in range(len(ts) - K + 1):
            where.setdefault(" ".join(ts[i : i + K]), set()).add(d)
    want = []
    for d, ts in sorted(toks.items()):
        marks = sorted(
            i + 1
            for i in range(len(ts) - K + 1)
            if len(where[" ".join(ts[i : i + K])]) >= 2
        )
        run: list[int] = []
        for i in marks + [10**9]:
            if run and i > run[-1] + K:
                want.append((d, run[0], run[-1] + K - 1, run[-1] + K - run[0]))
                run = []
            run.append(i)
    got = [
        (r["doc_id"], r["span_start"], r["span_end"], r["dup_tokens"])
        for r in q_dup_substring_spans(spark, str(tmp_path)).collect()
    ]
    assert got == sorted(want)


def test_compression_ratio_differential_and_monotone(spark, tmp_path):
    """compression_ratio: every row equals an independent zlib
    recomputation, and the signal orders as the curation heuristic
    requires: repeated junk << natural text << incompressible noise."""
    import zlib

    import pandas as pd

    from pdf_extractor_spark.ops.textstats import (
        _COMPRESS_LEVEL,
        q_compression_ratio,
    )

    texts = {
        1: "spam " * 400,  # repetitive junk
        2: ("the quick brown fox jumps over the lazy dog and then wanders "
            "through a long meadow describing everything it sees ") * 12,
        3: "".join(f"{(i * 2654435761) % 2**32:08x}"
                   for i in range(250)),  # hex noise
    }
    pd.DataFrame(
        {
            "doc_id": list(texts),
            "text": [texts[k] for k in texts],
            "lang": ["en"] * 3,
            "source": ["s"] * 3,
            "n_chars": [len(texts[k]) for k in texts],
        }
    ).to_parquet(tmp_path / "documents.parquet")

    rows = {r["doc_id"]: r for r in q_compression_ratio(spark, str(tmp_path)).collect()}
    for d, t in texts.items():
        b = t.encode("utf-8")
        c = len(zlib.compress(b, _COMPRESS_LEVEL))
        assert rows[d]["raw_bytes"] == len(b)
        assert rows[d]["gz_bytes"] == c
        assert rows[d]["ratio_micros"] == c * 1_000_000 // len(b)
    assert (
        rows[1]["ratio_micros"] < rows[2]["ratio_micros"] < rows[3]["ratio_micros"]
    )


def test_train_split_group_integrity(spark):
    """Every document of one source lands in exactly one split (the
    leakage-control property the group-hash key exists for), and all
    splits are populated on the testdata sources."""
    from pdf_extractor_spark.ops.training import q_train_split

    rows = q_train_split(spark, SF_DIR).collect()
    by_source = {}
    for r in rows:
        by_source.setdefault(r["source"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_source.values()), by_source
    assert {s for sets in by_source.values() for s in sets} == {
        "train", "val", "test",
    }


def test_pack_interleaved_sparse_ids(spark, tmp_path):
    """Differential test on SPARSE doc ids: the driver testdata's ids are
    dense 0..N-1, so its oracle never exercises uneven order-respecting
    shard boundaries (most ids collapsing into one shard, long empty shard
    runs, a lone doc in the top shard). Build such a corpus and check the
    two-phase distributed prefix scan against a plain sequential reference
    computed from the wrap rules (text span = token count, media = 64,
    every-17th bogus placeholder = 0)."""
    import pandas as pd

    from pdf_extractor_spark.ops.extraction_queries import (
        MEDIA_PATCH_TOKENS,
        q_pack_interleaved,
    )
    from pdf_extractor_spark.ops.training import CTX_TOKENS

    ids = [0, 3, 17, 18, 22, 25, 51, 999_999_983, 1_000_000_002, 1_000_000_017]
    texts = {
        did: " ".join(f"w{did % 7}x{i}" for i in range((did % 13) + 2))
        for did in ids
    }
    # empty and whitespace-only docs: the extracted text span is '' and must
    # cost 0 tokens on BOTH engines (split('') would miscount it as 1)
    texts[22] = ""
    texts[25] = "   "
    pd.DataFrame(
        {
            "doc_id": ids,
            "text": [texts[d] for d in ids],
            "lang": ["en"] * len(ids),
            "source": ["s"] * len(ids),
            "n_chars": [len(texts[d]) for d in ids],
        }
    ).to_parquet(tmp_path / "documents.parquet")

    # sequential reference over the same wrap rules, in stream order
    expect = {}
    cum = 0
    for did in sorted(ids):
        spans = [("text", len(texts[did].split())), ("media", MEDIA_PATCH_TOKENS)]
        if did % 17 == 0:
            spans.append(("text", 0))
        for idx, (kind, cost) in enumerate(spans, start=1):
            expect[(did, idx)] = (
                kind,
                cost,
                cum,
                cum // CTX_TOKENS,
                (cum + max(cost, 1) - 1) // CTX_TOKENS,
            )
            cum += cost

    from pdf_extractor_spark.ops.dedup import release_caches

    try:
        rows = q_pack_interleaved(spark, str(tmp_path)).collect()
    finally:
        release_caches()
    got = {
        (r["doc_id"], r["span_idx"]): (
            r["kind"],
            r["cost"],
            r["start_tok"],
            r["ctx_first"],
            r["ctx_last"],
        )
        for r in rows
    }
    assert got == expect
    # stream invariants: offsets partition the token stream exactly
    assert sum(c for _k, c, *_ in got.values()) == cum
    ordered = [got[k] for k in sorted(got)]
    assert all(a[2] + a[1] == b[2] for a, b in zip(ordered, ordered[1:]))


def test_mix_epochs_repeat_factors(spark):
    """Deterministic epoch materialization: per-language emitted rows land
    inside the floor/ceil repeat bounds implied by the uncapped rate, the
    fixture exercises BOTH directions (some doc repeats >= 2, some doc is
    dropped), and (doc_id, epoch) pairs are unique with epochs contiguous
    from 1."""
    import math
    from collections import Counter, defaultdict

    import duckdb

    from pdf_extractor_spark.ops.advanced import MIX_TARGET_PPM
    from pdf_extractor_spark.ops.registry import queries

    rows = queries()["mix_epochs"](spark, SF_DIR).collect()
    con = duckdb.connect()
    counts = dict(
        con.execute(
            f"SELECT lang, count(*) FROM '{SF_DIR}/documents.parquet' GROUP BY lang"
        ).fetchall()
    )
    total = sum(counts.values())
    emitted = Counter(r["lang"] for r in rows)
    for lang, n_docs in counts.items():
        rate_ppm = math.floor(MIX_TARGET_PPM.get(lang, 0) * total / n_docs)
        lo = n_docs * (rate_ppm // 1_000_000)
        hi = n_docs * (rate_ppm // 1_000_000 + (1 if rate_ppm % 1_000_000 else 0))
        assert lo <= emitted.get(lang, 0) <= hi, (lang, rate_ppm, emitted.get(lang))
    assert any(r["epoch"] >= 2 for r in rows), "no language was upsampled"
    seen_docs = {r["doc_id"] for r in rows}
    n_docs_total = con.execute(
        f"SELECT count(*) FROM '{SF_DIR}/documents.parquet'"
    ).fetchone()[0]
    assert len(seen_docs) < n_docs_total, "no doc was downsampled away"
    per_doc = defaultdict(list)
    for r in rows:
        per_doc[r["doc_id"]].append(r["epoch"])
    for d, eps in per_doc.items():
        assert sorted(eps) == list(range(1, len(eps) + 1)), (d, eps)
