"""Physical-plan audit: assert the plans are the ones we'd want at 100 TB.

Correctness says *what* each query returns (tools/check_oracle.py); this
audits *how*: filters must reach the parquet scan (PushedFilters), unused
columns must be pruned (ReadSchema), small dims must broadcast (never
sort-merge), anti-joins must stay broadcast, the extraction stage must have
exactly one exchange (the explicit part-keyed repartition), and map-only operators
must not shuffle at all. These are the properties that decide whether a plan
survives a 1000-executor / 100 TB scale-up, so they are pinned as tests
(tests/test_plans.py) and recorded as evidence in BENCH/PLANS.md.

Run: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def plan_of(df) -> str:
    """Formatted physical plan string (what df.explain('formatted') prints)."""
    spark = df.sparkSession
    return spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def _read_schemas(plan: str) -> list[str]:
    return re.findall(r"ReadSchema: struct<([^>]*)>", plan)


# --- invariant predicates (each returns (ok, detail)) -----------------------

def pushed(plan: str, fragment: str):
    ok = any(
        fragment in m for m in re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    )
    return ok, f"PushedFilters contains {fragment!r}"


def n_scans_at_most(plan: str, n_max: int):
    """Count physical scan nodes via their detail headers — the literal
    'Scan parquet' appears TWICE per node in formatted explain (tree line +
    detail line), so a raw substring count double-counts."""
    found = len(re.findall(r"\(\d+\) Scan parquet", plan))
    return found <= n_max, f"<= {n_max} parquet scan nodes (found {found})"


def partition_filtered(plan: str, fragment: str):
    ok = any(
        fragment in m
        for m in re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    )
    return ok, f"PartitionFilters contains {fragment!r}"


def never_reads(plan: str, column: str):
    ok = all(column not in s for s in _read_schemas(plan))
    return ok, f"column {column!r} pruned from every scan"


def contains(plan: str, token: str, n_min: int = 1):
    ok = plan.count(token) >= n_min
    return ok, f"plan has >= {n_min} x {token!r}"


def absent(plan: str, token: str):
    return token not in plan, f"plan has no {token!r}"


def exchange_count(plan: str, n: int):
    found = len(re.findall(r"\(\d+\) Exchange", plan))
    return found == n, f"exactly {n} Exchange nodes (found {found})"


def passthrough_partitions(plan: str, n: int):
    """Every part-keyed exchange (``repartitionById``) has ``n`` partitions."""
    found = re.findall(r"shufflepartitionidpassthrough\(.*, (\d+)\), REPARTITION_BY_NUM", plan)
    ok = bool(found) and all(int(f) == n for f in found)
    return ok, f"part-keyed exchange has {n} partitions (found {found})"


def _cores() -> int:
    from pyspark import SparkContext

    return SparkContext._active_spark_context.defaultParallelism


def occurs_at_most(plan: str, token: str, n_max: int):
    found = plan.count(token)
    return found <= n_max, f"<= {n_max} occurrences of {token!r} (found {found})"


def _exchanges(plan: str) -> list[tuple[str, str]]:
    """(input columns, partitioning arguments) for every shuffle Exchange in
    the formatted plan's details section. Block shape (Spark 3.5/4.x):

        (26) Exchange
        Input [2]: [w1#71, count#283L]
        Arguments: hashpartitioning(w1#71, 8), ENSURE_REQUIREMENTS, [plan_id=..]
    """
    return re.findall(
        r"\(\d+\) Exchange\nInput \[\d+\]: \[([^\n]*)\]\nArguments: ([^\n]*)",
        plan,
    )


def bare_key_exchanges_are_count_tables(plan: str, key: str, fat_col: str):
    """Every Exchange hash-partitioned on the SINGLE key `key` must be a
    count-table shuffle: its Input columns must not carry `fat_col` (the
    per-document stream's identifying column). Catches the Zipf-skew shape
    where the fat occurrence stream is hash-partitioned on a bare hot token
    — only tiny aggregate tables may ever shuffle on that key. (Checking
    Input columns, not the child node name, matters: the fat stream's
    exchange can ALSO sit directly above a HashAggregate.)"""
    bad = []
    pat = re.compile(rf"hashpartitioning\({re.escape(key)}#\d+, \d+\)")
    for cols, args in _exchanges(plan):
        if pat.search(args) and re.search(rf"\b{re.escape(fat_col)}#", cols):
            bad.append(cols)
    n_bare = sum(1 for cols, args in _exchanges(plan) if pat.search(args))
    return (
        not bad,
        f"bare-{key} exchanges ({n_bare}) never carry {fat_col!r}"
        + (f" (violators: {bad})" if bad else ""),
    )


# --- the audited queries ----------------------------------------------------

def _query_df(spark, sf_dir: str, name: str):
    from pdf_extractor_spark.ops.registry import queries

    return queries()[name](spark, sf_dir)


def _extract_stage_df(spark, sf_dir: str):
    """The raw extraction stage (scan -> part-keyed exchange -> mapInArrow),
    without the oracle query's final projection/sort."""
    from pdf_extractor_spark.ops.extraction_queries import wrap_documents
    from pdf_extractor_spark.spark.pipeline import extract_documents

    return extract_documents(wrap_documents(spark, sf_dir), n_parts=64, num_partitions=32)


def _observed_extract_stage_df(spark, sf_dir: str):
    """The extraction stage as a chunk commit writes it: the commit's
    rollup rides the write as an Observation (CollectMetrics), not a
    read-back of the written files."""
    from pdf_extractor_spark.spark.lineage import observed_rollup

    return observed_rollup(_extract_stage_df(spark, sf_dir))[0]


def _staged_extract_stage_df(spark, sf_dir: str):
    """The staged-binary extraction stage (scan -> stage kernel ->
    part-keyed exchange -> parse kernel), without the oracle projection."""
    from pdf_extractor_spark.ops.extraction_queries import wrap_documents
    from pdf_extractor_spark.spark.pipeline import extract_documents
    from pdf_extractor_spark.spark.staging import stage_documents

    staged = stage_documents(wrap_documents(spark, sf_dir))
    return extract_documents(staged, n_parts=64, num_partitions=32)


def _sized_extract_stage_df(spark, sf_dir: str):
    """The extraction stage of a chunk with more parts than cores and no
    explicit task count, as run_extraction builds it: the parts' payload
    bytes (one JVM-only aggregation, run here) pack them into one wave."""
    from pdf_extractor_spark.ops.extraction_queries import wrap_documents
    from pdf_extractor_spark.spark.pipeline import assign_part_id, extract_documents, part_bytes

    docs = wrap_documents(spark, sf_dir)
    return extract_documents(docs, n_parts=64, sizes=part_bytes(assign_part_id(docs, 64)))


def _resumed_extract_input_df(spark, sf_dir: str):
    """run_extraction's input on a resumed run: resume_filter over a table
    with committed parts (the snapshot fixture commits 9 of its 12)."""
    from pdf_extractor_spark.ops.extraction_queries import (
        _snapshot_fixture_root,
        wrap_documents,
    )
    from pdf_extractor_spark.spark.lineage import CommitLog, resume_filter

    log = CommitLog(_snapshot_fixture_root())
    return resume_filter(wrap_documents(spark, sf_dir), log, log.n_parts())


def _empty_table_read_df(spark, sf_dir: str):
    """A derived stage's read of its own table before its first commit
    (curate's kept-digest index, neardup's band index)."""
    import tempfile

    from pdf_extractor_spark.spark.curate import CURATED_SCHEMA
    from pdf_extractor_spark.spark.lineage import CommitLog

    root = tempfile.gettempdir() + "/plan-audit-empty-table"  # never written
    return CommitLog(root).read_table(spark, CURATED_SCHEMA)


def _snapshot_scan_df(spark, sf_dir: str):
    """read_extracted over the committed-chunk fixture: the snapshot read
    must be ONE parquet scan over the table root with visibility expressed
    as a chunk PartitionFilter — never one DataFrame per chunk glued with
    Union, whose plan build is superlinear in chunk count (7.5/38/156 s at
    200/1000/2000 chunks pre-fix, tools/bench_commitlog.py)."""
    from pdf_extractor_spark.ops.extraction_queries import (
        _snapshot_fixture_root,
    )
    from pdf_extractor_spark.spark.lineage import CommitLog

    log = CommitLog(_snapshot_fixture_root())
    return log.read_extracted(spark)


def _curate_verdicts_df(spark, sf_dir: str):
    """The curate stage's WRITE-side compute plan (compute_verdicts over a
    committed extraction delta + the kept-digest index), as run_curate
    builds it."""
    import os

    from pdf_extractor_spark.ops.extraction_queries import _curate_fixture
    from pdf_extractor_spark.spark.curate import (
        compute_verdicts,
        kept_digest_index,
    )
    from pdf_extractor_spark.spark.lineage import CommitLog

    out_root = _curate_fixture(spark, sf_dir)
    src = CommitLog(os.path.join(os.path.dirname(out_root), "src"))
    return compute_verdicts(
        src.read_extracted(spark), kept_digest_index(spark, CommitLog(out_root))
    )


AUDITS: list[tuple] = [
    (
        "curate_verdicts",
        _curate_verdicts_df,
        [
            # gates + digest ride the delta scan (zero Python end-to-end);
            # dedup is ONE window exchange keyed (digest, gate-pass); the
            # kept-digest index joins BROADCAST at this size (AQE re-sizes
            # as the index grows) — two scans total, never a sort-merge
            lambda p: n_scans_at_most(p, 2),
            lambda p: occurs_at_most(p, "hashpartitioning", 1),
            lambda p: contains(p, "Window", 1),
            lambda p: absent(p, "SortMergeJoin"),
            lambda p: absent(p, "MapInPandas"),
            lambda p: absent(p, "MapInArrow"),
            # the interpreted span-join/token-split chain is STAGED through
            # its own projections and evaluated once per row — inlining it
            # into every consumer (n_tokens, stopwords, Simpson, lang
            # argmax, digest) re-ran it 5-6x (no codegen subexpression
            # elimination for higher-order functions)
            lambda p: occurs_at_most(p, "split(", 1),
            lambda p: occurs_at_most(p, "transform(", 1),
        ],
        False,
    ),
    (
        "curated_table",
        _query_df,
        [
            # the committed verdict table reads like any snapshot: ONE
            # partition-filtered parquet scan, the verdict expressions
            # were spent at WRITE time — no join, no window, no Python
            lambda p: n_scans_at_most(p, 1),
            lambda p: partition_filtered(p, "chunk"),
            lambda p: absent(p, "Join"),
            lambda p: absent(p, "Window"),
            lambda p: absent(p, "MapInPandas"),
        ],
        False,
    ),
    (
        "kept_corpus",
        _query_df,
        [
            # publish-as-view: extraction ⋉ keep-set as a SEMI join on the
            # doc_id-narrow verdict projection — two scans total, the keep
            # side never carries spans, and no full-width shuffle of the
            # extraction table (broadcast at this size; AQE re-sizes)
            lambda p: n_scans_at_most(p, 2),
            lambda p: contains(p, "LeftSemi"),
            lambda p: absent(p, "SortMergeJoin"),
            lambda p: absent(p, "MapInPandas"),
        ],
        False,
    ),
    (
        "kept_collapsed",
        _query_df,
        [
            # kept_corpus's view plus the near-dup exclusion: one extra
            # scan of the doc_id-narrow flag table, composed as SEMI
            # (flag validity) + ANTI (the exclusion) — still no span-wide
            # shuffle, no Python, and the flag table never ships its band
            # columns into the join
            lambda p: n_scans_at_most(p, 4),
            lambda p: contains(p, "LeftSemi"),
            lambda p: contains(p, "LeftAnti"),
            lambda p: absent(p, "SortMergeJoin"),
            lambda p: absent(p, "MapInPandas"),
            lambda p: never_reads(p, "bh0"),
        ],
        False,
    ),
    (
        "snapshot_scan_shape",
        _snapshot_scan_df,
        [
            lambda p: n_scans_at_most(p, 1),
            lambda p: contains(p, "Scan parquet", 1),
            lambda p: absent(p, "Union"),
            lambda p: partition_filtered(p, "chunk#"),
        ],
        False,
    ),
    (
        "point_lookup",
        _query_df,
        [
            lambda p: pushed(p, "EqualTo(doc_id,123)"),
            lambda p: never_reads(p, "text"),  # the fat column never leaves disk
            lambda p: contains(p, "[codegen id :"),  # whole-stage codegen active
        ],
        False,
    ),
    (
        "pricing_summary",
        _query_df,
        [
            lambda p: pushed(p, "LessThanOrEqual(l_shipdate"),
            lambda p: never_reads(p, "l_partkey"),
            lambda p: never_reads(p, "l_tax"),
            # partial + final hash aggregation (map-side combine before shuffle)
            lambda p: contains(p, "HashAggregate", 2),
            # codegen ids only materialize in AQE's final plan -> exec_first
            lambda p: contains(p, "[codegen id :"),
        ],
        True,
    ),
    (
        "revenue_by_segment",
        _query_df,
        [
            lambda p: contains(p, "BroadcastHashJoin"),
            lambda p: absent(p, "SortMergeJoin"),
            lambda p: never_reads(p, "c_name"),
        ],
        False,
    ),
    (
        "shipping_priority",
        _query_df,
        [
            # dim side broadcasts; the single fact-fact join is the only
            # shuffle join in the plan
            lambda p: contains(p, "BroadcastHashJoin"),
            lambda p: pushed(p, "EqualTo(c_mktsegment,BUILDING)"),
            lambda p: pushed(p, "GreaterThan(l_shipdate"),
            lambda p: pushed(p, "LessThan(o_orderdate"),
            lambda p: never_reads(p, "l_tax"),
        ],
        False,
    ),
    (
        "resume_antijoin",
        _query_df,
        [
            lambda p: contains(p, "LeftAnti"),
            lambda p: contains(p, "BroadcastHashJoin"),
            lambda p: absent(p, "SortMergeJoin"),  # anti-join must not shuffle the big side
        ],
        False,
    ),
    (
        "lang_id",
        _query_df,
        [
            # map-only operator: no hash shuffle anywhere (the single range
            # exchange is the oracle's deterministic final sort); formatted
            # mode puts partitioning in the Arguments line, so match the token
            lambda p: absent(p, "hashpartitioning"),
            lambda p: never_reads(p, "source"),
        ],
        False,
    ),
    (
        "salted_topk_users",
        _query_df,
        [
            # two-phase: partial agg keyed (user_id, _salt) then final on user_id
            lambda p: contains(p, "HashAggregate", 4),
            lambda p: contains(p, "_salt"),
            lambda p: never_reads(p, "props"),
        ],
        False,
    ),
    (
        "asof_join",
        _query_df,
        [
            # union+carry-forward as-of plan: window over user_id, NO join
            # node, and exactly one hash exchange (the user_id partition)
            lambda p: contains(p, "Window"),
            lambda p: absent(p, "Join"),
            lambda p: contains(p, "hashpartitioning(user_id", 1),
        ],
        False,
    ),
    (
        "simhash",
        _query_df,
        [
            # map-only signature (VERDICT r01 item "wrong" #3): no token
            # explode, no hash shuffle — the only exchange is the oracle's
            # deterministic final range sort
            lambda p: absent(p, "hashpartitioning"),
            lambda p: absent(p, "Generate"),  # no explode node at all
            lambda p: exchange_count(p, 1),
        ],
        False,
    ),
    (
        "ocr_roundtrip",
        _query_df,
        [
            # the route->OCR->merge loop: extraction is STAGED (CLAUDE.md —
            # the refs branch and the merge both read the cache, the PDF
            # parse kernel runs once), the recovered text flows through the
            # REAL stage-2 mapInPandas engine, and the per-doc OCR map side
            # joins by statistics-chosen broadcast (no forced hint — a
            # scanned-heavy corpus must be free to shuffle instead); never
            # a shuffle keyed on media_ref, never a pairwise product
            lambda p: contains(p, "InMemoryTableScan"),
            lambda p: contains(p, "MapInPandas"),
            lambda p: contains(p, "BroadcastHashJoin"),
            lambda p: absent(p, "CartesianProduct"),
            lambda p: absent(p, "BroadcastNestedLoopJoin"),
        ],
        False,
    ),
    (
        "lang_deviation",
        _query_df,
        [
            # two-phase agg + broadcast join back (VERDICT r01 item 3): no
            # grouped-pandas stage may appear on the corpus path — that form
            # materializes an entire language on one executor
            lambda p: absent(p, "FlatMapGroupsInPandas"),
            lambda p: contains(p, "BroadcastHashJoin"),
            lambda p: absent(p, "SortMergeJoin"),
            lambda p: contains(p, "HashAggregate", 2),  # partial+final stats
            lambda p: never_reads(p, "text"),
        ],
        False,
    ),
    (
        "minhash_signatures",
        _query_df,
        [
            # explode + partial-agg combine: the exchange carries only
            # (doc_id, 16 longs) partials, never raw shingles
            lambda p: contains(p, "HashAggregate", 2),
            lambda p: never_reads(p, "source"),
        ],
        False,
    ),
    (
        "repetition",
        _query_df,
        [
            # mode-by-sorted-run-fold: map-only, no explode, no groupBy —
            # the only exchange is the deterministic final sort
            lambda p: absent(p, "hashpartitioning"),
            lambda p: absent(p, "Generate"),
            lambda p: exchange_count(p, 1),
        ],
        False,
    ),
    (
        "pii_scrub",
        _query_df,
        [
            lambda p: absent(p, "hashpartitioning"),
            lambda p: exchange_count(p, 1),
        ],
        False,
    ),
    (
        "chunk_windows",
        _query_df,
        [
            # map-only 1-to-many chunking: per-row sequence + explode, no
            # window over token position, no self-join; single sort exchange
            lambda p: absent(p, "hashpartitioning"),
            lambda p: contains(p, "Generate"),  # the chunk explode
            lambda p: exchange_count(p, 1),
            lambda p: absent(p, "SortMergeJoin"),
            lambda p: never_reads(p, "lang"),
            lambda p: never_reads(p, "source"),
            lambda p: never_reads(p, "n_chars"),
        ],
        False,
    ),
    (
        "transcript_normalize",
        _query_df,
        [
            # map-only normalization: tokenize + two filter HOFs pipeline
            # into the scan; no explode, no shuffle but the output sort
            lambda p: absent(p, "hashpartitioning"),
            lambda p: absent(p, "Generate"),
            lambda p: exchange_count(p, 1),
            lambda p: never_reads(p, "lang"),
            lambda p: never_reads(p, "source"),
            lambda p: never_reads(p, "n_chars"),
        ],
        False,
    ),
    (
        "polygon_bbox",
        _query_df,
        [
            # map-only geometry: least/greatest pipeline into the scan; the
            # single range exchange is the deterministic output sort
            lambda p: absent(p, "hashpartitioning"),
            lambda p: exchange_count(p, 1),
            lambda p: never_reads(p, "label"),
        ],
        False,
    ),
    (
        "length_quantiles",
        _query_df,
        [
            # counts broadcast back; rank window is the single big shuffle;
            # never a per-group pandas or sort-merge join
            lambda p: contains(p, "Window"),
            lambda p: contains(p, "BroadcastHashJoin"),
            lambda p: absent(p, "SortMergeJoin"),
            lambda p: absent(p, "FlatMapGroupsInPandas"),
        ],
        False,
    ),
    (
        "dedup_verified_pairs",
        _query_df,
        [
            # candidate-bounded exact verification: equi-joins only — a
            # cartesian/nested-loop anywhere means the all-pairs path leaked back
            lambda p: absent(p, "CartesianProduct"),
            lambda p: absent(p, "BroadcastNestedLoopJoin"),
            # staged intermediates (VERDICT r02 #1): the shingle + candidate
            # stages are persisted, so the raw table is scanned at most twice
            # (the un-staged DAG re-scanned it 8x and rebuilt the signature
            # subtree ~4x)
            lambda p: occurs_at_most(p, "documents.parquet", 2),
            lambda p: contains(p, "InMemoryTableScan"),
        ],
        False,
    ),
    (
        "unicode_normalize",
        _query_df,
        [
            # map-only through one Arrow pass: the counts come out of the
            # kernel, so there is no join back to the raw table and no
            # exchange before the final presentation sort
            lambda p: contains(p, "MapInArrow"),
            lambda p: occurs_at_most(p, "hashpartitioning", 0),
            lambda p: n_scans_at_most(p, 1),
        ],
        False,
    ),
    (
        "compression_ratio",
        _query_df,
        [
            # map-only Arrow pass: no exchange, one scan, and only
            # doc_id/text leave the parquet reader
            lambda p: contains(p, "MapInArrow"),
            lambda p: occurs_at_most(p, "hashpartitioning", 0),
            lambda p: n_scans_at_most(p, 1),
            lambda p: never_reads(p, "lang"),
            lambda p: never_reads(p, "n_chars"),
        ],
        False,
    ),
    (
        "train_split",
        _query_df,
        [
            # deterministic group-hash assignment is a pure projection:
            # no exchange (beyond the presentation sort), one scan, and
            # the text column never leaves disk
            lambda p: occurs_at_most(p, "hashpartitioning", 0),
            lambda p: n_scans_at_most(p, 1),
            lambda p: never_reads(p, "text"),
        ],
        False,
    ),
    (
        "signals_table",
        _query_df,
        [
            # the derived signals table reads like any committed snapshot:
            # ONE partition-filtered parquet scan (chunk visibility as a
            # PartitionFilter), no join, no Python stage — the signal
            # expressions were spent at WRITE time, reads are plain scans
            lambda p: n_scans_at_most(p, 1),
            lambda p: partition_filtered(p, "chunk"),
            lambda p: absent(p, "Join"),
            lambda p: absent(p, "MapInPandas"),
        ],
        False,
    ),
    (
        "packed_table",
        _query_df,
        [
            # the committed placement table reads like any snapshot: ONE
            # partition-filtered scan, no join, no Python — the prefix-sum
            # work was spent at WRITE time (pinned on the write side by
            # pack_interleaved/pack_contexts: never a single-partition
            # global window over data rows)
            lambda p: n_scans_at_most(p, 1),
            lambda p: partition_filtered(p, "chunk"),
            lambda p: absent(p, "Join"),
            lambda p: absent(p, "MapInPandas"),
        ],
        False,
    ),
    (
        "pack_interleaved",
        _query_df,
        [
            # the extracted cost stream is persisted (one mapInPandas
            # extraction run feeds the max-id probe, the shard totals AND
            # the placement); the 4096-row shard offsets join back
            # broadcast; the only windows are the 4096-row shard scan and
            # the per-shard running sum — never a global sort-merge join
            lambda p: contains(p, "InMemoryTableScan"),
            lambda p: occurs_at_most(p, "documents.parquet", 1),
            lambda p: contains(p, "BroadcastHashJoin"),
            lambda p: absent(p, "SortMergeJoin"),
            lambda p: absent(p, "CartesianProduct"),
            lambda p: contains(p, "Window"),
        ],
        False,
    ),
    (
        "bpe_pairs",
        _query_df,
        [
            # BPE's own shape: corpus collapses to the (token, count) vocab
            # first (map-side combine), pairs are enumerated over VOCAB rows
            # only, and the top-k is TakeOrderedAndProject — a global sort
            # or a pair explode over the raw token stream is the scale bug
            lambda p: contains(p, "TakeOrderedAndProject"),
            lambda p: n_scans_at_most(p, 1),
            lambda p: never_reads(p, "lang"),
            lambda p: never_reads(p, "source"),
        ],
        False,
    ),
    (
        "local_supplier_volume",
        _query_df,
        [
            # Q5 shape: the whole dim chain broadcasts (>= 3 broadcast
            # joins), never a sort-merge join; the year predicate reaches
            # the orders parquet scan so the single fact shuffle carries
            # one year, not seven
            lambda p: contains(p, "BroadcastHashJoin", 3),
            lambda p: absent(p, "SortMergeJoin"),
            lambda p: absent(p, "CartesianProduct"),
            lambda p: pushed(p, "IsNotNull(o_orderdate)"),
            lambda p: pushed(p, "GreaterThanOrEqual(o_orderdate"),
            lambda p: pushed(p, "EqualTo(r_name,ASIA)"),
        ],
        False,
    ),
    (
        "decontaminate_fuzzy",
        _query_df,
        [
            # cross-set probe: benchmark bands broadcast against the
            # streaming corpus bands (never a shuffle on the band key for
            # the big side), exact verification candidate-bounded via the
            # staged shingle cache — equi-joins only, raw table scanned at
            # most twice
            lambda p: contains(p, "BroadcastHashJoin"),
            lambda p: contains(p, "InMemoryTableScan"),
            lambda p: absent(p, "CartesianProduct"),
            lambda p: absent(p, "BroadcastNestedLoopJoin"),
            lambda p: occurs_at_most(p, "documents.parquet", 2),
        ],
        False,
    ),
    (
        "mix_epochs",
        _query_df,
        [
            # epoch materialization: the tiny uncapped rate table joins
            # back BROADCAST, the repeat emission is a map-only sequence
            # explode (Generate), and the corpus stream itself is never
            # hash-shuffled — only the handful-of-rows language counts
            # aggregate exchanges; text never leaves disk
            lambda p: contains(p, "BroadcastHashJoin"),
            lambda p: absent(p, "SortMergeJoin"),
            lambda p: contains(p, "Generate"),
            lambda p: occurs_at_most(p, "documents.parquet", 2),
            lambda p: never_reads(p, "text"),
            lambda p: never_reads(p, "n_chars"),
        ],
        False,
    ),
    (
        "bpe_encode",
        _query_df,
        [
            # tokenizer application: the rule table was collected at build
            # time (bounded, <= 12 rows, the centroid pattern), so the
            # EXECUTED plan is one map-only Arrow pass over (doc_id, text)
            # — no join against an encoded vocab (the Zipf-hot token join
            # is replaced by the kernel's word memo), no exchange before
            # the presentation sort, one scan, pruned columns
            lambda p: contains(p, "MapInArrow"),
            lambda p: occurs_at_most(p, "hashpartitioning", 0),
            lambda p: absent(p, "Join"),
            lambda p: n_scans_at_most(p, 1),
            lambda p: never_reads(p, "lang"),
            lambda p: never_reads(p, "n_chars"),
        ],
        False,
    ),
    (
        "source_cap",
        _query_df,
        [
            # one window partitioned by source over (source, doc_id,
            # n_chars) projections only — the text column never leaves
            # disk, and no join of any kind appears
            lambda p: contains(p, "Window"),
            lambda p: n_scans_at_most(p, 1),
            lambda p: never_reads(p, "text"),
            lambda p: absent(p, "Join"),
        ],
        False,
    ),
    (
        "lexical_diversity",
        _query_df,
        [
            # zero-shuffle sorted-run fold (the repetition pattern): no
            # exchange beyond the presentation sort, one scan, only
            # doc_id/text read
            lambda p: occurs_at_most(p, "hashpartitioning", 0),
            lambda p: n_scans_at_most(p, 1),
            lambda p: never_reads(p, "lang"),
            lambda p: never_reads(p, "source"),
        ],
        False,
    ),
    (
        "vocab_coverage",
        _query_df,
        [
            # the persisted vocab feeds both the total and the top-k: one
            # raw scan; the rank<=k theta-join is a BroadcastNestedLoopJoin
            # over two BOUNDED sides (3 k-values x <=1000 ranked rows) —
            # acceptable exactly because the limit precedes it; a
            # SortMergeJoin or an unbounded NLJ input would be the bug
            lambda p: occurs_at_most(p, "documents.parquet", 1),
            lambda p: contains(p, "InMemoryTableScan"),
            lambda p: contains(p, "TakeOrderedAndProject"),
            lambda p: contains(p, "BroadcastNestedLoopJoin"),
            lambda p: absent(p, "SortMergeJoin"),
        ],
        False,
    ),
    (
        "dsir_weights",
        _query_df,
        [
            # one explode collapses to persisted (doc, lang, bucket)
            # partials: one raw scan feeds both the weight table and the
            # scoring pass, and the 256-row weight table joins back
            # BROADCAST — the corpus stream is never sort-merge-joined or
            # re-shuffled on the Zipf-hot bucket key
            lambda p: occurs_at_most(p, "documents.parquet", 1),
            lambda p: contains(p, "InMemoryTableScan"),
            lambda p: contains(p, "BroadcastHashJoin"),
            lambda p: absent(p, "SortMergeJoin"),
            lambda p: never_reads(p, "source"),
        ],
        False,
    ),
    (
        "dup_substring_spans",
        _query_df,
        [
            # gram-mark-merge stays relational: gram-keyed equi-joins only
            # (a cartesian means the all-pairs path leaked in), and the
            # islands merge is a real per-doc window. The raw table is
            # read twice by design (dup-gram agg + position join) —
            # recomputing the gram explode beats caching a table BIGGER
            # than the corpus at 100 TB.
            lambda p: absent(p, "CartesianProduct"),
            lambda p: absent(p, "BroadcastNestedLoopJoin"),
            lambda p: contains(p, "Window"),
            lambda p: occurs_at_most(p, "documents.parquet", 2),
        ],
        False,
    ),
    (
        "dup_substring_scrub",
        _query_df,
        [
            # the apply side adds an anti-join on (doc_id, pos) and a
            # per-doc ordered rebuild — still equi-joins only, and the
            # outer emit-every-doc join must not degrade to a loop join
            lambda p: absent(p, "CartesianProduct"),
            lambda p: absent(p, "BroadcastNestedLoopJoin"),
            lambda p: occurs_at_most(p, "documents.parquet", 4),
        ],
        False,
    ),
    (
        "simhash_neardup",
        _query_df,
        [
            # the signature table is persisted: both bucket-join sides read
            # the cache, so the raw table (and the interpreted simhash
            # fold) is hit once, not once per join side
            lambda p: occurs_at_most(p, "documents.parquet", 1),
            lambda p: contains(p, "InMemoryTableScan"),
            lambda p: absent(p, "CartesianProduct"),
            lambda p: absent(p, "BroadcastNestedLoopJoin"),
        ],
        False,
    ),
    (
        "dedup_components",
        _query_df,
        [
            # the LSH pair stage is persisted + materialized before the loop:
            # the result plan reads caches, never the raw table subtree again
            lambda p: occurs_at_most(p, "documents.parquet", 2),
            lambda p: contains(p, "InMemoryTableScan"),
            lambda p: absent(p, "CartesianProduct"),
        ],
        False,
    ),
    (
        "dedup_keep_best",
        _query_df,
        [
            # components (staged/cached) + one quality scan + one argmax
            # window — never a per-group collect or pandas stage
            lambda p: occurs_at_most(p, "documents.parquet", 3),
            lambda p: contains(p, "Window"),
            lambda p: contains(p, "InMemoryTableScan"),
            lambda p: absent(p, "FlatMapGroupsInPandas"),
            lambda p: absent(p, "CartesianProduct"),
        ],
        False,
    ),
    (
        "decontaminate",
        _query_df,
        [
            # the benchmark gram set broadcasts; the corpus-side grams are
            # never shuffled on the gram itself (a heavy-hitter gram would
            # hot-spot a reducer, and the gram side is the 100 TB side).
            # Exactly ONE gram-keyed exchange is allowed: the distinct over
            # the tiny benchmark set — a second would mean the corpus side
            # got shuffled for the join
            lambda p: contains(p, "BroadcastHashJoin"),
            lambda p: absent(p, "SortMergeJoin"),
            lambda p: occurs_at_most(p, "hashpartitioning(shingle", 1),
            # the shingle subtree feeds bench AND corpus branches: staged
            # via _persisted, so the raw corpus is scanned/shingled ONCE
            lambda p: occurs_at_most(p, "documents.parquet", 1),
            lambda p: contains(p, "InMemoryTableScan"),
            lambda p: never_reads(p, "source"),
            lambda p: never_reads(p, "lang"),
        ],
        False,
    ),
    (
        "dedup_incremental",
        _query_df,
        [
            # delta bands broadcast so the corpus side streams map-side; the
            # staged band table means one raw scan feeds all three branches
            lambda p: contains(p, "BroadcastHashJoin"),
            lambda p: absent(p, "SortMergeJoin"),
            lambda p: occurs_at_most(p, "documents.parquet", 1),
            lambda p: contains(p, "InMemoryTableScan"),
            lambda p: absent(p, "CartesianProduct"),
        ],
        False,
    ),
    (
        "corpus_mix",
        _query_df,
        [
            # tiny rate table broadcasts back to the selection scan: the big
            # side is never shuffled for the join
            lambda p: contains(p, "BroadcastHashJoin"),
            lambda p: absent(p, "SortMergeJoin"),
            lambda p: never_reads(p, "text"),
        ],
        False,
    ),
    (
        "source_quality",
        _query_df,
        [
            # map-only per-doc quality + one partial-agg rollup on source
            lambda p: contains(p, "HashAggregate", 2),
            lambda p: never_reads(p, "props"),
        ],
        False,
    ),
    (
        "embed_quantize",
        _query_df,
        [
            # map-only quantization: amax fold + int8 transform + error fold
            # are all per-row JVM expressions — the only exchange is the
            # deterministic output sort
            lambda p: absent(p, "hashpartitioning"),
            lambda p: exchange_count(p, 1),
            lambda p: never_reads(p, "label"),
        ],
        False,
    ),
    (
        "boilerplate_ngrams",
        _query_df,
        [
            # distinct-agg rewrite: partial+final over (gram, doc_id) then
            # partial+final over gram — 4 HashAggregates with map-side dedup,
            # so heavy-hitter grams cannot hot-spot a single reducer
            lambda p: contains(p, "HashAggregate", 4),
            lambda p: contains(p, "Generate"),  # the explode
            lambda p: never_reads(p, "source"),
            lambda p: never_reads(p, "lang"),
        ],
        False,
    ),
    (
        "pack_contexts",
        _query_df,
        [
            # two-phase distributed scan: shard totals are a partial+final
            # agg, the 256-row offset table broadcasts back, and the only
            # partition-less window runs over those <=256 shard rows — the
            # corpus itself is windowed per-shard, never globally
            lambda p: contains(p, "HashAggregate", 2),
            lambda p: contains(p, "BroadcastHashJoin"),
            lambda p: absent(p, "SortMergeJoin"),
            # staged sharded frame: totals + placement passes share ONE
            # source scan (was 2 before the helper persisted this branch)
            lambda p: occurs_at_most(p, "documents.parquet", 1),
            lambda p: contains(p, "InMemoryTableScan"),
            lambda p: never_reads(p, "lang"),
            lambda p: never_reads(p, "source"),
        ],
        False,
    ),
    (
        "pack_slices",
        _query_df,
        [
            # the gather map rides the same placement subtree, then a
            # map-only sequence/explode (Generate) — no extra scan, no
            # join beyond the broadcast shard offsets, nothing Python
            lambda p: contains(p, "Generate"),
            lambda p: contains(p, "BroadcastHashJoin"),
            lambda p: occurs_at_most(p, "documents.parquet", 1),
            lambda p: absent(p, "SortMergeJoin"),
            lambda p: absent(p, "MapInPandas"),
            lambda p: never_reads(p, "lang"),
            lambda p: never_reads(p, "source"),
        ],
        False,
    ),
    (
        "lm_score",
        _query_df,
        [
            # n-gram counts are map-side-combined (partial+final for both
            # unigram and bigram tables); the single-row vocab scalar joins
            # as a broadcast nested loop, never a cartesian materialization
            lambda p: contains(p, "HashAggregate", 4),
            lambda p: contains(p, "Generate"),  # the bigram explode
            lambda p: absent(p, "CartesianProduct"),
            lambda p: contains(p, "InMemoryTableScan"),  # staged intermediate reused across branches
            # CLAUDE.md staged-intermediates rule: pin the SCAN BUDGET, not
            # just cache presence — toks is the only documents read; the
            # un-staged plan re-scanned (and re-tokenized) 4x
            lambda p: occurs_at_most(p, "documents.parquet", 1),
            # Zipf-skew defense: the doc-occurrence stream joins only on the
            # composite (w1,w2); the bare-w1 shuffles are confined to the
            # count-table ⨝ count-table pre-join (no bare-w1 exchange ever
            # carries doc_id, i.e. the fat per-document stream)
            lambda p: bare_key_exchanges_are_count_tables(p, "w1", "doc_id"),
            lambda p: never_reads(p, "lang"),
            lambda p: never_reads(p, "source"),
        ],
        False,
    ),
    (
        "kmeans_step",
        _query_df,
        [
            # assignment is map-only against a broadcast of K centroids; the
            # update shuffle carries (cell, dim) partial sums — partial+final
            # agg after the posexplode, no cartesian materialization
            lambda p: contains(p, "HashAggregate", 2),
            lambda p: contains(p, "Generate"),  # the posexplode
            lambda p: absent(p, "CartesianProduct"),
            lambda p: absent(p, "SortMergeJoin"),
        ],
        False,
    ),
    (
        "kmeans_train",
        _query_df,
        [
            # relational Lloyd loop: distance joins broadcast the K*D
            # centroid side; the assignment->points update join is the one
            # legitimate big-big equi-join (both sides O(N), keyed vec_id —
            # the window already partitioned on it, so the shuffle reuses
            # that partitioning); never a cartesian over the points
            lambda p: contains(p, "BroadcastHashJoin"),
            lambda p: absent(p, "CartesianProduct"),
            lambda p: absent(p, "BroadcastNestedLoopJoin"),
            lambda p: contains(p, "HashAggregate", 4),
            # pts + per-iteration members/cent are persisted (the MLlib
            # KMeans shape): final branches reuse caches, never replay
            # the iteration chain from parquet; scan budget (CLAUDE.md):
            # embeddings is read only to build pts + the broadcast seeds,
            # never once-per-iteration-per-branch
            lambda p: contains(p, "InMemoryTableScan"),
            lambda p: occurs_at_most(p, "embeddings.parquet", 3),
        ],
        False,
    ),
    (
        "json_props",
        _query_df,
        [
            # JSON parse in the map stage, two-phase agg after: only
            # (event_type, k) crosses the exchange, never the raw props
            lambda p: contains(p, "HashAggregate", 2),
            lambda p: never_reads(p, "value"),
        ],
        False,
    ),
    (
        "event_pivot",
        _query_df,
        [
            # pivot = conditional agg: partial+final, no per-value scans
            lambda p: contains(p, "HashAggregate", 2),
            lambda p: never_reads(p, "props"),
            lambda p: never_reads(p, "value"),
        ],
        False,
    ),
    (
        "resample_daily",
        _query_df,
        [
            # the generated grid (days x types, tiny by construction)
            # broadcasts onto the aggregated counts — the raw events table
            # is never shuffled for the gap-fill join
            lambda p: contains(p, "BroadcastHashJoin"),
            lambda p: absent(p, "SortMergeJoin"),
            lambda p: never_reads(p, "props"),
        ],
        False,
    ),
    (
        "tfidf_keywords",
        _query_df,
        [
            # token explode collapses to (doc,term) partials map-side;
            # the vocab-sized df table and the 1-row N both broadcast
            lambda p: contains(p, "HashAggregate", 2),
            lambda p: contains(p, "BroadcastHashJoin"),
            lambda p: absent(p, "SortMergeJoin"),
            lambda p: never_reads(p, "lang"),
            lambda p: never_reads(p, "n_chars"),
        ],
        False,
    ),
    (
        "length_tiers",
        _query_df,
        [
            # NTILE window partitions on source (never a global sort);
            # the fat text column never leaves disk
            lambda p: contains(p, "Window"),
            lambda p: never_reads(p, "text"),
            lambda p: never_reads(p, "lang"),
        ],
        False,
    ),
    (
        "cube_revenue",
        _query_df,
        [
            # grouping sets expand BEFORE the exchange: one shuffle with
            # map-side partials, not one job per grouping set
            lambda p: contains(p, "Expand"),
            lambda p: contains(p, "BroadcastHashJoin"),
            lambda p: absent(p, "SortMergeJoin"),
            lambda p: never_reads(p, "o_comment"),
            lambda p: never_reads(p, "c_name"),
        ],
        False,
    ),
    (
        "moving_window_7d",
        _query_df,
        [
            # the RANGE frame runs over DAILY partials (two-phase agg
            # first), so the window shuffle carries <=365 rows/type/year
            lambda p: contains(p, "Window"),
            lambda p: contains(p, "HashAggregate", 2),
            lambda p: never_reads(p, "props"),
            lambda p: never_reads(p, "user_id"),
        ],
        False,
    ),
    (
        "user_segments",
        _query_df,
        [
            # set ops lower to anti/semi hash joins on the distinct key
            # sets; the type/value predicates reach the parquet scan
            lambda p: contains(p, "LeftAnti"),
            lambda p: contains(p, "LeftSemi"),
            lambda p: absent(p, "CartesianProduct"),
            lambda p: pushed(p, "EqualTo(event_type,purchase)"),
            lambda p: never_reads(p, "props"),
        ],
        False,
    ),
    (
        "approx_distinct_kmv",
        _query_df,
        [
            # both estimators feed off ONE distinct on (event_type, h);
            # the 5-row estimator tables broadcast onto the exact side
            lambda p: contains(p, "Window"),
            lambda p: contains(p, "BroadcastHashJoin"),
            lambda p: absent(p, "SortMergeJoin"),
            lambda p: contains(p, "InMemoryTableScan"),  # hashed staged once
            # scan budget (CLAUDE.md): staged hashed + the exact branch =
            # exactly 2 events reads; un-staged the plan scanned 3x
            lambda p: occurs_at_most(p, "events.parquet", 2),
            lambda p: never_reads(p, "props"),
            lambda p: never_reads(p, "value"),
            lambda p: never_reads(p, "ts"),
        ],
        False,
    ),
    (
        "heavy_hitters_cms",
        _query_df,
        [
            # the <=4096-row sketch broadcasts onto the probe keys;
            # sketch build is a map-side-combined agg over per-key counts
            lambda p: contains(p, "BroadcastHashJoin"),
            lambda p: contains(p, "InMemoryTableScan"),  # counts staged once
            # scan budget (CLAUDE.md): the staged per-key counts are the
            # ONLY events read — sketch build and probe both reuse the cache
            lambda p: occurs_at_most(p, "events.parquet", 1),
            lambda p: absent(p, "SortMergeJoin"),
            lambda p: absent(p, "CartesianProduct"),
            lambda p: never_reads(p, "props"),
            lambda p: never_reads(p, "value"),
            lambda p: never_reads(p, "ts"),
        ],
        False,
    ),
    (
        "pagerank",
        _query_df,
        [
            # loop-invariant edge/degree tables are staged once: one scan
            # each of orders/lineitem feeds all 3 iterations. The
            # per-iteration ranks⨝edges equi-join on src is allowed to be
            # a hash/SMJ join — at web scale the rank table does NOT
            # broadcast; co-location comes from the reused edge
            # partitioning (docstring). No all-pairs shapes anywhere; the
            # only nested-loop joins are the 1-row N-broadcast.
            lambda p: occurs_at_most(p, "orders.parquet", 1),
            lambda p: occurs_at_most(p, "lineitem.parquet", 1),
            lambda p: contains(p, "InMemoryTableScan"),
            lambda p: absent(p, "CartesianProduct"),
            lambda p: contains(p, "TakeOrderedAndProject"),  # top-k, no global sort
            lambda p: never_reads(p, "o_totalprice"),
            lambda p: never_reads(p, "l_extendedprice"),
            lambda p: never_reads(p, "l_quantity"),
        ],
        False,
    ),
    (
        "hll_distinct",
        _query_df,
        [
            # COUNT DISTINCT with no distinct: the register build is a
            # map-side-combined max into <= groups*256 cells — the key
            # itself never shuffles on the sketch side (the exact column
            # is explicit calibration you drop at scale). Registers are
            # staged once and reused by the per-flag and merged-ALL
            # branches; exact rides ONE rollup scan.
            lambda p: contains(p, "InMemoryTableScan"),  # regs staged
            lambda p: occurs_at_most(p, "lineitem.parquet", 2),
            lambda p: absent(p, "SortMergeJoin"),  # 4-row join broadcasts
            lambda p: absent(p, "CartesianProduct"),
            lambda p: never_reads(p, "l_extendedprice"),
            lambda p: never_reads(p, "l_quantity"),
            lambda p: never_reads(p, "l_comment"),
        ],
        False,
    ),
    (
        "semantic_dedup",
        _query_df,
        [
            # candidate-bounded cross-modal verification: the label-blocked
            # embedding join is the only pairwise stage; the staged shingle
            # table feeds all three text branches from one documents scan
            lambda p: absent(p, "CartesianProduct"),
            lambda p: occurs_at_most(p, "documents.parquet", 1),
            lambda p: contains(p, "InMemoryTableScan"),
        ],
        False,
    ),
    (
        "ann_ivf_trained",
        _query_df,
        [
            # trained-quantizer probe: centroid/probe sides broadcast; the
            # only big-big equi-joins are keyed vec_id/cell; no cartesian
            lambda p: contains(p, "BroadcastHashJoin"),
            lambda p: absent(p, "CartesianProduct"),
            lambda p: absent(p, "BroadcastNestedLoopJoin"),
        ],
        False,
    ),
    (
        "volume_anomaly",
        _query_df,
        [
            # one (type, day) partial agg over the pruned scan; per-type
            # stats broadcast back; flag is map-side — no windows, no join
            # of the raw events with anything
            lambda p: contains(p, "BroadcastHashJoin", 1),
            lambda p: absent(p, "Window"),
            lambda p: absent(p, "SortMergeJoin"),
            lambda p: never_reads(p, "props"),
            lambda p: never_reads(p, "value"),
            lambda p: never_reads(p, "user_id"),
        ],
        False,
    ),
    (
        "dq_checks",
        _query_df,
        [
            # FK rules are anti joins on their keys (broadcast at this
            # scale); uniqueness/null/range rules are map-side conditional
            # aggregates — only single-row counts reach the union
            lambda p: contains(p, "LeftAnti", 2),
            lambda p: absent(p, "CartesianProduct"),
            lambda p: contains(p, "Union"),
            lambda p: never_reads(p, "text"),
            lambda p: never_reads(p, "l_comment"),
        ],
        False,
    ),
    (
        "small_quantity_revenue",
        _query_df,
        [
            # decorrelated Q17: part filter pushed to the part scan and
            # broadcast into the fact stream; per-part stats broadcast
            # back; the fact table is never self-joined via sort-merge
            lambda p: contains(p, "BroadcastHashJoin", 2),
            lambda p: absent(p, "SortMergeJoin"),
            lambda p: absent(p, "CartesianProduct"),
            lambda p: pushed(p, "EqualTo(p_brand"),
            lambda p: never_reads(p, "l_shipdate"),
            lambda p: never_reads(p, "l_comment"),
        ],
        False,
    ),
    (
        "cluster_balance",
        _query_df,
        [
            # staged k-means chain feeds assignment; the docs scan reads
            # ONLY doc_id; per-cell ranking is one window exchange on cell;
            # the 1-row total broadcasts (nested-loop on 1 row is fine,
            # a real cartesian is not)
            lambda p: contains(p, "InMemoryTableScan"),
            lambda p: contains(p, "hashpartitioning(cell"),
            lambda p: contains(p, "Window"),
            lambda p: absent(p, "CartesianProduct"),
            lambda p: never_reads(p, "text"),
            lambda p: never_reads(p, "lang"),
            lambda p: never_reads(p, "source"),
        ],
        False,
    ),
    (
        "ann_ivfpq",
        _query_df,
        [
            # composed index: probes + LUT broadcast into the codes stream;
            # raw-vector scans only feed the two staged training pipelines
            # (coarse k-means + PQ codebook); search side never cartesians
            lambda p: contains(p, "InMemoryTableScan"),
            lambda p: contains(p, "BroadcastHashJoin"),
            lambda p: absent(p, "CartesianProduct"),
            lambda p: absent(p, "BroadcastNestedLoopJoin"),
        ],
        False,
    ),
    (
        "ann_pq",
        _query_df,
        [
            # train->encode->ADC: the raw embeddings are scanned ONCE (the
            # staged long-form points table feeds every Lloyd iteration,
            # the encode pass, and the query LUT); codebook and LUT sides
            # broadcast; no cartesian anywhere — the search streams the
            # codes table through keyed partial aggs only
            lambda p: n_scans_at_most(p, 1),
            lambda p: contains(p, "InMemoryTableScan"),
            lambda p: contains(p, "BroadcastHashJoin"),
            lambda p: absent(p, "CartesianProduct"),
            lambda p: absent(p, "BroadcastNestedLoopJoin"),
            lambda p: absent(p, "SortMergeJoin"),
            lambda p: never_reads(p, "label"),
        ],
        False,
    ),
    (
        "priority_waiting",
        _query_df,
        [
            # EXISTS lowers to LeftSemi: each order emitted at most once, no
            # post-join distinct; the returnflag predicate reaches the scan
            # and the lineitem side projects to l_orderkey alone
            lambda p: contains(p, "LeftSemi"),
            lambda p: pushed(p, "EqualTo(l_returnflag,R)"),
            lambda p: never_reads(p, "l_extendedprice"),
            lambda p: never_reads(p, "l_quantity"),
        ],
        False,
    ),
    (
        "top_supplier",
        _query_df,
        [
            # argmax over an aggregate: the 1-row max broadcasts back (BNLJ
            # on a single row, never a cartesian materialization); the
            # supplier dim broadcasts; shipdate range reaches the scan
            lambda p: contains(p, "BroadcastHashJoin"),
            lambda p: absent(p, "CartesianProduct"),
            lambda p: absent(p, "SortMergeJoin"),
            lambda p: pushed(p, "GreaterThanOrEqual(l_shipdate"),
            lambda p: contains(p, "HashAggregate", 2),
        ],
        False,
    ),
    (
        "returned_items",
        _query_df,
        [
            # Q10 shape: customer+nation broadcast, returnflag pushed, and
            # the top-20 is TakeOrderedAndProject (k rows per partition,
            # never a global sort)
            lambda p: contains(p, "BroadcastHashJoin"),
            lambda p: pushed(p, "EqualTo(l_returnflag,R)"),
            lambda p: contains(p, "TakeOrderedAndProject"),
            lambda p: never_reads(p, "l_tax"),
        ],
        False,
    ),
    (
        "retention_cohorts",
        _query_df,
        [
            # one user_id shuffle with partial collect_set (state bounded by
            # day span, not event count); no self-join of the fact table
            lambda p: contains(p, "hashpartitioning(user_id", 1),
            lambda p: contains(p, "Generate"),  # the days explode
            lambda p: absent(p, "Join"),
            lambda p: never_reads(p, "props"),
            lambda p: never_reads(p, "value"),
        ],
        False,
    ),
    (
        "funnel_conversion",
        _query_df,
        [
            # single window pass carries the step marks: no per-step
            # self-joins, one user_id exchange reused by the flag agg;
            # the type filter reaches the scan
            lambda p: contains(p, "Window"),
            lambda p: absent(p, "Join"),
            lambda p: contains(p, "hashpartitioning(user_id", 1),
            lambda p: pushed(p, "In(event_type"),
            lambda p: never_reads(p, "props"),
            lambda p: never_reads(p, "value"),
        ],
        False,
    ),
    (
        "bm25_search",
        _query_df,
        [
            # dl rides through the explode as a group key (no docs⨝stats
            # join); df + corpus totals broadcast; top-k is
            # TakeOrderedAndProject, never a global sort
            lambda p: contains(p, "HashAggregate", 2),
            lambda p: contains(p, "Generate"),
            lambda p: contains(p, "BroadcastHashJoin"),
            lambda p: absent(p, "SortMergeJoin"),
            lambda p: absent(p, "CartesianProduct"),
            lambda p: contains(p, "TakeOrderedAndProject"),
            lambda p: never_reads(p, "lang"),
            lambda p: never_reads(p, "source"),
        ],
        False,
    ),
    (
        "quality_classifier",
        _query_df,
        [
            # tokenize+hash+weight fuse into the scan stage (map-side
            # partial agg), so the one hash exchange carries a row per DOC,
            # not per token; the frozen model is constants in the plan —
            # no join at all; scan reads only (doc_id, text)
            lambda p: contains(p, "hashpartitioning(doc_id", 1),
            lambda p: contains(p, "Generate"),  # the token explode
            lambda p: contains(p, "HashAggregate", 2),
            lambda p: absent(p, "Join"),
            lambda p: never_reads(p, "lang"),
            lambda p: never_reads(p, "source"),
            lambda p: never_reads(p, "n_chars"),
        ],
        False,
    ),
    (
        "hybrid_search",
        _query_df,
        [
            # each modality reduces to a top-k candidate list BEFORE fusion:
            # the vec side is TakeOrderedAndProject then a k-row rank window
            # (a global row_number over all candidates would serialize the
            # corpus through one task); the fusion join sees 2k rows total
            lambda p: contains(p, "TakeOrderedAndProject", 2),
            lambda p: absent(p, "CartesianProduct"),
            lambda p: contains(p, "BroadcastHashJoin"),
            lambda p: never_reads(p, "label"),
            lambda p: never_reads(p, "lang"),
        ],
        False,
    ),
    (
        "extract_stage",
        _extract_stage_df,
        [
            # ONE exchange: the part-keyed scatter (repartitionById on the
            # part's slot; part_id is itself a per-doc hash), never a
            # second per-doc hash exchange and never the r3
            # rangepartitioning — row-proportional range sampling
            # funnels a byte-heavy 1% giant tail into one partition; see
            # balance_partitions + BENCH/BASELINE.md "Skew A/B". Anything more
            # means the pipeline shuffles data it shouldn't. No sizing
            # columns ride the exchange: nothing reads them after it.
            lambda p: exchange_count(p, 1),
            lambda p: contains(p, "shufflepartitionidpassthrough"),
            lambda p: absent(p, "hashpartitioning(doc_id"),
            lambda p: absent(p, "rangepartitioning"),
            lambda p: absent(p, "n_bytes"),
            lambda p: contains(p, "MapInArrow"),
            lambda p: never_reads(p, "n_chars"),
        ],
        False,
    ),
    (
        "observed_extract_stage",
        _observed_extract_stage_df,
        [
            # one-pass chunk commit: the docs/pages/failures/part_ids
            # rollup is CollectMetrics above the parse kernel, so the
            # commit adds no exchange, no aggregate and no second scan
            lambda p: contains(p, "CollectMetrics"),
            lambda p: exchange_count(p, 1),
            lambda p: contains(p, "shufflepartitionidpassthrough"),
            lambda p: contains(p, "Scan parquet"),
            lambda p: n_scans_at_most(p, 1),
            lambda p: absent(p, "HashAggregate"),
        ],
        False,
    ),
    (
        "staged_extract_stage",
        _staged_extract_stage_df,
        [
            # staged multi-pass path: stage kernel pipelines straight out of
            # the scan (narrow), then the SAME single part-keyed exchange —
            # now moving binary payloads (3/4 the base64 bytes) — then the
            # parse kernel. Still exactly one Exchange; two MapInArrow nodes.
            lambda p: exchange_count(p, 1),
            lambda p: contains(p, "shufflepartitionidpassthrough"),
            lambda p: absent(p, "hashpartitioning(doc_id"),
            lambda p: absent(p, "rangepartitioning"),
            lambda p: absent(p, "n_bytes"),
            lambda p: contains(p, "MapInArrow", 2),
            lambda p: never_reads(p, "n_chars"),
        ],
        False,
    ),
    (
        "extract_pw_manifest_corpus",
        _query_df,
        [
            # per-doc password manifest (round 4): the (doc_id, password)
            # side joins BROADCAST onto the corpus before the parse stage —
            # never a sort-merge shuffle of the document payloads on
            # doc_id — and the stage keeps its one part-keyed exchange +
            # Arrow kernel shape with the password column riding through
            lambda p: contains(p, "BroadcastHashJoin"),
            lambda p: absent(p, "SortMergeJoin"),
            lambda p: contains(p, "shufflepartitionidpassthrough"),
            lambda p: absent(p, "hashpartitioning(doc_id"),
            # the single rangepartitioning is the query's FINAL
            # orderBy(doc_id) presentation sort (oracle row order), never
            # the parse-stage scatter (the r3 skew lesson)
            lambda p: occurs_at_most(p, "rangepartitioning", 1),
            lambda p: contains(p, "MapInArrow"),
            lambda p: absent(p, "MapInPandas"),
        ],
        False,
    ),
(
        "pack_materialize",
        _query_df,
        [
            # gather join over the staged placement subtree: the shard
            # offsets and the token-array side both broadcast at this
            # size (AQE; at scale the doc_id join becomes a co-located
            # hash join), the slice explode is a map-only Generate, and
            # the per-context assembly is a partial+final
            # ObjectHashAggregate — per-group state bounded by CTX_TOKENS.
            # Two scans total: the persisted placements + the token side.
            lambda p: n_scans_at_most(p, 2),
            lambda p: contains(p, "Generate"),
            lambda p: contains(p, "ObjectHashAggregate", 2),
            lambda p: contains(p, "BroadcastHashJoin"),
            lambda p: contains(p, "InMemoryTableScan"),
            lambda p: absent(p, "SortMergeJoin"),
            lambda p: absent(p, "MapInPandas"),
            lambda p: never_reads(p, "lang"),
            lambda p: never_reads(p, "source"),
        ],
        False,
    ),
    (
        "pack_bpe",
        _query_df,
        [
            # BPE costing is the map-only Arrow encode (per-task memo, no
            # join/shuffle on the Zipf-hot vocabulary) feeding the same
            # staged 4096-shard prefix scan as pack_contexts: one source
            # scan, shard offsets broadcast, windows per shard only
            lambda p: n_scans_at_most(p, 2),
            lambda p: contains(p, "MapInArrow"),
            lambda p: absent(p, "MapInPandas"),
            lambda p: contains(p, "InMemoryTableScan"),
            lambda p: contains(p, "BroadcastHashJoin"),
            lambda p: absent(p, "SortMergeJoin"),
            lambda p: never_reads(p, "lang"),
            lambda p: never_reads(p, "source"),
        ],
        False,
    ),
    (
        "pagerank_converged",
        _query_df,
        [
            # the loop runs under eager localCheckpoint per iteration
            # (lineage truncated like the CC star loop), so the RESULT
            # plan is just the checkpointed ranks + decode + top-k — the
            # unbounded-plan-growth failure mode is structurally absent
            lambda p: contains(p, "Scan ExistingRDD"),
            lambda p: contains(p, "TakeOrderedAndProject"),
            lambda p: absent(p, "CartesianProduct"),
            lambda p: absent(p, "SortMergeJoin"),
        ],
        False,
    ),
    (
        "materialized_table",
        _query_df,
        [
            # the committed context table reads like any snapshot: ONE
            # partition-filtered scan; the gather was spent at write time
            lambda p: n_scans_at_most(p, 1),
            lambda p: partition_filtered(p, "chunk"),
            lambda p: absent(p, "Join"),
            lambda p: absent(p, "Window"),
            lambda p: absent(p, "MapInPandas"),
            lambda p: absent(p, "MapInArrow"),
        ],
        False,
    ),
    (
        "extract_data_corpus",
        _query_df,
        [
            # the data-span wrap builds csv from doc_id/lang/source only:
            # the text column must be PRUNED at the scan. Same parse-stage
            # shape as extract_clean: one part-keyed exchange into the
            # Arrow kernel, range partitioning only in the final
            # presentation sort
            lambda p: n_scans_at_most(p, 1),
            lambda p: never_reads(p, "text"),
            lambda p: contains(p, "shufflepartitionidpassthrough"),
            lambda p: absent(p, "hashpartitioning(doc_id"),
            lambda p: occurs_at_most(p, "rangepartitioning", 1),
            lambda p: contains(p, "MapInArrow"),
            lambda p: absent(p, "MapInPandas"),
            lambda p: absent(p, "SortMergeJoin"),
        ],
        False,
    ),
(
        "packed_bpe_table",
        _query_df,
        [
            # same snapshot shape as packed_table: the Arrow costing
            # kernel and the prefix scan were spent at WRITE time — the
            # committed read is ONE partition-filtered scan, no Python
            lambda p: n_scans_at_most(p, 1),
            lambda p: partition_filtered(p, "chunk"),
            lambda p: absent(p, "Join"),
            lambda p: absent(p, "Window"),
            lambda p: absent(p, "MapInPandas"),
            lambda p: absent(p, "MapInArrow"),
        ],
        False,
    ),
(
        "materialized_bpe_table",
        _query_df,
        [
            # snapshot read of the piece-stream materialization: the
            # Arrow piece kernel + gather were spent at WRITE time
            lambda p: n_scans_at_most(p, 1),
            lambda p: partition_filtered(p, "chunk"),
            lambda p: absent(p, "Join"),
            lambda p: absent(p, "Window"),
            lambda p: absent(p, "MapInPandas"),
            lambda p: absent(p, "MapInArrow"),
        ],
        False,
    ),
(
        "pack_interleaved_slices",
        _query_df,
        [
            # pack_interleaved's subtree plus ONE map-only Generate (the
            # per-context explode) — no extra scan, shuffle, or join
            lambda p: contains(p, "Generate"),
            lambda p: contains(p, "InMemoryTableScan"),
            lambda p: occurs_at_most(p, "documents.parquet", 1),
            lambda p: contains(p, "BroadcastHashJoin"),
            lambda p: absent(p, "SortMergeJoin"),
            lambda p: absent(p, "CartesianProduct"),
        ],
        False,
    ),
    (
        "pack_stats",
        _query_df,
        [
            # placement subtree + a singleton partial/final aggregate —
            # the 1-row reduce is the only addition
            lambda p: contains(p, "HashAggregate"),
            lambda p: contains(p, "InMemoryTableScan"),
            lambda p: occurs_at_most(p, "documents.parquet", 1),
            lambda p: absent(p, "SortMergeJoin"),
            lambda p: absent(p, "CartesianProduct"),
            lambda p: never_reads(p, "lang"),
            lambda p: never_reads(p, "source"),
        ],
        False,
    ),
(
        "quantile_hist",
        _query_df,
        [
            # ONE map-side-combined (lang, bucket) agg over the corpus;
            # the cumulative window and percentile join run on the
            # <= 1024-cell histogram (broadcast), never the data
            lambda p: n_scans_at_most(p, 1),
            lambda p: contains(p, "InMemoryTableScan"),
            lambda p: contains(p, "BroadcastHashJoin"),
            lambda p: absent(p, "SortMergeJoin"),
            lambda p: absent(p, "CartesianProduct"),
            lambda p: never_reads(p, "text"),
            lambda p: never_reads(p, "source"),
        ],
        False,
    ),
    (
        "sized_extract_stage",
        _sized_extract_stage_df,
        [
            # one wave: whole parts packed into defaultParallelism tasks
            # by size (balance_partitions), still the single part-keyed
            # exchange; the sizes are a literal in its key, so no sizing
            # column or aggregate rides the parse plan
            lambda p: exchange_count(p, 1),
            lambda p: contains(p, "shufflepartitionidpassthrough"),
            lambda p: passthrough_partitions(p, _cores()),
            lambda p: absent(p, "HashAggregate"),
            lambda p: absent(p, "n_bytes"),
            lambda p: contains(p, "MapInArrow"),
        ],
        False,
    ),
    (
        "resumed_extract_input",
        _resumed_extract_input_df,
        [
            # committed parts drop by a part_id NOT IN (...) literal: no
            # join, no broadcast, and no relation built from a Python list
            # (a createDataFrame of the committed set ran a Python job)
            lambda p: contains(p, "Filter"),
            lambda p: absent(p, "Join"),
            lambda p: absent(p, "BroadcastExchange"),
            lambda p: absent(p, "ExistingRDD"),
            lambda p: absent(p, "LocalTableScan"),
            lambda p: n_scans_at_most(p, 1),
        ],
        False,
    ),
    (
        "empty_table_read",
        _empty_table_read_df,
        [
            # an empty LocalTableScan, never a relation built from Python
            # (a broadcast createDataFrame([]) ran a 4-task PythonRDD job)
            lambda p: absent(p, "ExistingRDD"),
            lambda p: contains(p, "LocalTableScan"),
        ],
        False,
    ),
]







def evidence_tree(plan: str) -> str:
    """The formatted plan's node tree as written to BENCH/PLANS.md. A
    broadcast side AQE picks at run time (``BroadcastQueryStage``) flips
    between runs when both join inputs are the same size, moving wrappers,
    operator ids and the ``== Final Plan ==`` listings Spark splices into
    the tree. Such a tree is rebuilt from its columns and written
    side-free: ``Build<runtime>``, no broadcast wrappers, no ids, each
    listing after its tree. Pins read the raw plan."""
    tree = plan.split("\n\n")[0]
    if "BroadcastQueryStage" not in tree:
        return tree
    listings, ctxs = [], []  # [header, roots]; open (column, listing, path)
    for line in tree.splitlines():
        m = re.match(r"((?:[ :]  )*)([+:]- )?(.*)", line)
        col = len(m.group(1)) + len(m.group(2) or "")
        node = [re.sub(r" \(\d+\)", "", m.group(3)), []]  # [label, children]
        if node[0].startswith("== "):  # may sit left of its tree
            while ctxs and ctxs[-1][0] == col:  # Initial Plan closes Final
                ctxs.pop()
            listings.append([node[0], []])
            ctxs.append((col, listings[-1], []))
            continue
        while ctxs:  # innermost open listing the line fits in
            base, listing, path = ctxs[-1]
            if not m.group(2) and col == base:
                listing[1].append(node)
                path[:] = [(col, node)]
                break
            while path and path[-1][0] > col - 3:
                path.pop()
            # a child sits 3 columns in (a cached relation's 6), and only
            # a join or union takes a second one
            up = path[-1] if path else (None, [""])
            if (up[0] == col - 3 or up[0] == col - 6 and up[1][0].startswith("InMemory")) and (
                not up[1][1] or re.search("Join|Union", up[1][0])
            ):
                up[1][1].append(node)
                path.append((col, node))
                break
            ctxs.pop()
        else:
            return tree

    def render(node, depth):
        label, kids = node
        if "BroadcastHashJoin" in label and any("BroadcastQueryStage" in k[0] for k in kids):
            label = re.sub("Build(Left|Right)", "Build<runtime>", label)
            for i, k in enumerate(kids):
                while k[1] and re.search("Broadcast(QueryStage|Exchange)", k[0]):
                    kids[i] = k = k[1][0]
        return ["   " * depth + label] + [x for k in kids for x in render(k, depth + 1)]

    out = []
    for header, roots in listings:
        out += [header] + [x for r in roots for x in render(r, 0)]
    return "\n".join(out)


def run_audit(spark, sf_dir: str):
    """Evaluate every audit; returns [(name, plan, [(ok, detail), ...])]."""
    from pdf_extractor_spark.ops.dedup import release_caches

    results = []
    for name, factory, checks, exec_first in AUDITS:
        df = factory(spark, sf_dir, name) if factory is _query_df else factory(spark, sf_dir)
        if exec_first:
            df.collect()  # materialize AQE's final plan on THIS QueryExecution
        plan = plan_of(df)
        release_caches()  # builders may stage persisted intermediates
        results.append((name, plan, [chk(plan) for chk in checks]))
    return results


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from pdf_extractor_spark.spark.session import get_spark

    spark = get_spark(app_name="plan-audit", master="local[4]", shuffle_partitions=8)
    try:
        results = run_audit(spark, sf_dir)
    finally:
        spark.stop()

    lines = [
        "# Physical-plan audit",
        "",
        "Generated by `python tools/plan_audit.py` (invariants also pinned in",
        "`tests/test_plans.py`). Each query's formatted physical plan is checked",
        "for the properties that make it scale: predicate pushdown, column",
        "pruning, broadcast joins for dims, map-side combine, single-exchange",
        "extraction stage, shuffle-free map-only ops.",
        "",
    ]
    n_fail = 0
    for name, plan, checks in results:
        lines.append(f"## {name}")
        lines.append("")
        for ok, detail in checks:
            mark = "PASS" if ok else "**FAIL**"
            n_fail += 0 if ok else 1
            lines.append(f"- {mark} — {detail}")
            print(("PASS " if ok else "FAIL ") + f"{name}: {detail}")
        # record the compact node tree (header section of the formatted plan)
        lines += ["", "```", evidence_tree(plan), "```", ""]
    out = REPO / "BENCH" / "PLANS.md"
    out.write_text("\n".join(lines))
    print(f"{'OK' if n_fail == 0 else f'{n_fail} FAILURES'} -> {out}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
