"""Training-data preparation operators: context packing, LM quality
scoring, and centroid training.

The last mile of an LLM data pipeline, after extraction/dedup/filtering
(reference scope ends at extraction — `app/processor/*` emits markdown; a
training pipeline consumes it):

- ``pack_contexts``: deterministic corpus shuffle + concat-and-chunk
  sequence packing into fixed token-budget contexts. The prefix sum over
  the shuffled order is computed with the two-phase distributed-scan
  pattern (shard partials + broadcast shard offsets), never a
  single-partition global window.
- ``lm_score``: add-one-smoothed bigram language-model scoring of every
  document against corpus-level n-gram counts — the CCNet/KenLM
  perplexity-filter analogue. All arithmetic is *rational* (integer
  micros per position) because ``ln``/``exp`` are libm-dependent: the last
  ulp of ``log()`` differs between the JVM and DuckDB's C runtime, so a
  log-prob-based score could flip a floor(1e6*x) boundary on one engine
  only. Mean next-token probability ranks documents the same way for
  filtering purposes and is exactly reproducible everywhere.
- ``kmeans_step``: one Lloyd iteration over the embedding corpus in
  fixed-point (micros) arithmetic — the trainer for the IVF coarse
  quantizer in :mod:`similarity` (which currently uses deterministic
  medoid seeds). Float k-means is order-of-summation-dependent; summing
  integer micros is associative, so the step is bit-reproducible across
  engines, partitionings, and retries — the property you want for an
  index build that runs on 1000 executors and must be resumable.

Scale design (100 TB):
- pack_contexts: one groupBy on a 4096-value shard key (tiny), a
  broadcast of 4096 shard offsets, and one window per shard — shards are
  processed in parallel and the only global structure is the 4096-row
  offset table (at 10B docs a shard window sorts ~2.4M rows; recurse the
  same scan if that ever dominates).
- lm_score: n-gram counts are map-side-combined groupBys; the scoring
  pass joins the corpus's bigram stream against the count tables on the
  n-gram key (shuffle hash join). In production the count tables come
  from a held-out reference corpus and the top-V vocabulary is broadcast;
  the shuffle-join form here is the general (unbounded-vocab) shape.
- kmeans_step: assignment is a map-only pass over a broadcast of K
  centroids; the update is posexplode -> partial-agg -> shuffle on
  (cell, dim) — K*DIM groups, i.e. the shuffle carries centroids, not
  vectors. Iterating = re-running the step with the previous output as
  seeds (each step one action, lineage truncated by writing centroids,
  exactly the CC-loop pattern in ops/dedup.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .dedup import _persisted
from .portable import h64, h64_sql, tokens, tokens_sql
from .similarity import DIM as K_DIM

CTX_TOKENS = 512  # context length in tokens
PACK_SHARDS_DIV = 1 << 48  # h64 in [0, 2^60) -> 4096 hash-range shards


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


PREFIX_RANGE_SHARDS = 256  # sampled-range shard count when no shard key given


def exclusive_prefix_sum(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    out_col: str,
    shard_col=None,
) -> DataFrame:
    """Exclusive prefix sum of ``value_col`` over the global ``order_cols``
    order — the two-phase distributed scan shared by ``pack_contexts`` and
    ``pack_interleaved``: order-respecting shards, per-shard totals in one
    tiny groupBy, broadcast shard offsets, intra-shard running-sum window.
    Never a single-partition global window.

    ``shard_col``: an order-respecting shard expression if the caller has a
    uniform one (pack_contexts' md5 top bits). Without one, shards come from
    a SAMPLED range partitioning (Spark's RangePartitioner +
    ``spark_partition_id``) — balanced by observed row mass, so clustered
    key distributions (snowflake/epoch ids piling into one value range)
    cannot funnel into a hot shard the way value-proportional bucketing
    does. The ranged frame is persisted because two consumers read it AND
    because the sampled boundaries must be frozen — recomputation could
    re-sample different (still order-respecting) boundaries between the
    totals pass and the placement pass. The output is boundary-independent
    either way: ANY contiguous order-respecting split yields the same
    exclusive prefix, so sampling nondeterminism never reaches the values.
    Shard count is free for correctness; production sizes it to O(cluster
    cores) and persists to disk-backed storage at corpus scale.
    """
    if shard_col is None:
        sharded = _persisted(
            df.repartitionByRange(
                PREFIX_RANGE_SHARDS, *[F.col(c) for c in order_cols]
            ).withColumn("_shard", F.spark_partition_id())
        )
    else:
        # persisted for the SCAN BUDGET, not determinism (the explicit
        # shard expression is pure): the totals pass and the placement
        # pass both consume this frame, and un-staged each re-ran the
        # source scan + token count (pinned <= 1 scan in plan_audit)
        sharded = _persisted(df.withColumn("_shard", shard_col))
    shard_tot = sharded.groupBy("_shard").agg(F.sum(value_col).alias("_stok"))
    w_shard = Window.orderBy("_shard").rowsBetween(Window.unboundedPreceding, -1)
    shard_off = shard_tot.select(
        "_shard",
        F.coalesce(F.sum("_stok").over(w_shard), F.lit(0)).alias("_shard_off"),
    )
    w_in = (
        Window.partitionBy("_shard")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.col("_shard_off") + F.coalesce(F.sum(value_col).over(w_in), F.lit(0))
    return (
        sharded.join(F.broadcast(shard_off), "_shard")
        .withColumn(out_col, start.cast("bigint"))
        .drop("_shard", "_shard_off")
    )


# --- sequence packing -------------------------------------------------------
# The Spark-side packing arithmetic of both stages and every pack query
# (the DuckDB twins: pack_placement_ctes / pack_materialize_sql).


def pack_place(d: DataFrame, cost_col: str) -> DataFrame:
    """``d`` (doc_id, h = h64(doc_id), ``cost_col``) plus ``start_off``:
    the exclusive prefix sum of the cost in (h, doc_id) order, sharded by
    the hash's top bits."""
    return exclusive_prefix_sum(
        d, ["h", "doc_id"], cost_col, "start_off",
        shard_col=F.expr(f"h div {PACK_SHARDS_DIV}"),
    )


def pack_ctx_range(start: str = "start_off", extent: str = "n_tokens"):
    """(first context, last context, chunk count) of the stream range
    ``[start, start + extent)``. The interleaved queries pass
    ``greatest(cost, 1)`` as the extent: a zero-cost span keeps its
    position."""
    first = F.expr(f"{start} div {CTX_TOKENS}")
    last = F.expr(f"({start} + {extent} - 1) div {CTX_TOKENS}")
    return first, last, last - first + F.lit(1)


def pack_slices(
    placed: DataFrame,
    start: str = "start_off",
    extent: str = "n_tokens",
    range_extent: str | None = None,
    tokens_col: str | None = None,
) -> DataFrame:
    """One row per (placement, context it touches): ``placed``'s columns
    plus ``ctx``, ``off_in`` (offset into the placed item), ``off_in_ctx``
    and ``n_toks``; with ``tokens_col``, also ``_piece``, that slice of
    the cost-unit array. ``range_extent`` (default ``extent``) sizes only
    the context range. One map-only Generate."""
    first, last, _ = pack_ctx_range(start, range_extent or extent)
    lo = f"greatest({start}, ctx * {CTX_TOKENS})"
    n = f"least({start} + {extent}, (ctx + 1) * {CTX_TOKENS}) - {lo}"
    cols = [
        "ctx",
        (F.expr(lo) - F.col(start)).alias("off_in"),
        F.expr(f"{lo} - ctx * {CTX_TOKENS}").alias("off_in_ctx"),
        F.expr(n).alias("n_toks"),
    ]
    if tokens_col is not None:
        cols.append(
            F.expr(
                f"slice({tokens_col}, int({lo} - {start}) + 1, int({n}))"
            ).alias("_piece")
        )
    return placed.select(
        "*", F.explode(F.sequence(first, last)).alias("ctx")
    ).select(*placed.columns, *cols)


def pack_gather(slices: DataFrame, keys: list[str]) -> DataFrame:
    """``n_docs, n_tokens, text`` per ``keys`` group of ``pack_slices``
    rows with ``_piece``: the pieces space-joined in off_in_ctx order
    (the ordered-collect convention, CLAUDE.md; the oracle's
    ``string_agg(... ORDER BY off_in_ctx)``)."""
    return slices.groupBy(*keys).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_toks").cast("bigint").alias("n_tokens"),
        F.array_join(
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("off_in_ctx", "_piece"))
                    ),
                    lambda s: s["_piece"],
                )
            ),
            " ",
        ).alias("text"),
    )


def q_pack_contexts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk packing: where each document lands in the stream of
    fixed 512-token training contexts.

    Documents are first placed in deterministic shuffled order (md5 of
    doc_id — a seedable global shuffle with no RNG state), then assigned
    token offsets by a global exclusive prefix sum over their token
    counts; a document's contexts are ``floor(start/CTX)`` ..
    ``floor((end-1)/CTX)`` — the standard "concatenate then chunk"
    packing used for LLM pre-training batches (documents may straddle
    context boundaries; n_chunks counts the straddle).

    The prefix sum is the textbook two-phase distributed scan: the hash
    order is range-sharded into 4096 buckets by the top bits of the hash
    (so shard boundaries respect the global order), per-shard token
    totals are one tiny groupBy, the 4096 shard offsets are a broadcast
    join, and the intra-shard running sum is a per-shard window — no
    single-partition global window anywhere. At 25B docs the offset
    table is still 4096 rows; recurse the same trick if shards
    themselves grow too large.
    """
    first, last, _ = pack_ctx_range()
    return (
        _pack_placements(spark, sf_dir)
        .select(
            "doc_id",
            "n_tokens",
            "start_off",
            first.alias("first_chunk"),
            last.alias("last_chunk"),
        )
        # a second projection, not the helper's inline count: inlining
        # drops a Project node from this query's pinned plan
        .withColumn("n_chunks", F.col("last_chunk") - F.col("first_chunk") + F.lit(1))
        .orderBy("doc_id")
    )


def _pack_placements(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_tokens, start_off) placements shared by pack_contexts
    and pack_slices — md5 shuffle order + distributed prefix sum."""
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.size(tokens("text")).cast("bigint").alias("n_tokens"),
        h64(F.col("doc_id").cast("string")).alias("h"),
    )
    return pack_place(d, "n_tokens")


def q_pack_slices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-context GATHER map — the other half of packing: for every
    512-token context, which documents contribute which token slices at
    which offsets. This is exactly the join a byte materializer runs
    (placements exploded to (ctx, doc slice), then grouped/shuffled on
    ``ctx`` so each context is assembled from its <= k contributing
    docs) — one map-only explode plus one ctx-keyed exchange at any
    scale, no global ordering stage. Row counts: |docs| + |contexts| - 1
    (each boundary straddle adds one row).

    Invariants pinned in tests/test_training_ops.py: every context except
    the last sums to exactly CTX_TOKENS, slices within a context are
    contiguous from offset 0, and each doc's slices partition its tokens.
    """
    return (
        pack_slices(_pack_placements(spark, sf_dir))
        .select(
            "ctx",
            "doc_id",
            F.col("off_in").alias("off_in_doc"),
            "off_in_ctx",
            "n_toks",
        )
        .orderBy("ctx", "off_in_ctx")
    )


def pack_placement_ctes(*, empty_guard: bool = False,
                        varchar_tiebreak: bool = False) -> str:
    """Shared placement prelude for every packing oracle: CTEs
    ``t(doc_id, n_tokens, h)`` and ``p(doc_id, n_tokens, start_off)`` —
    the md5 shuffle order and the exclusive prefix sum over it. The two
    knobs are the only ways the three consumers (PACK_CONTEXTS_SQL,
    PACK_SLICES_SQL, extraction_queries._packed_oracle_sql) differ:
    ``empty_guard`` zeroes then drops blank-text docs (the staged
    packed_table path packs the EXTRACTED corpus, where empty docs never
    reach placement); ``varchar_tiebreak`` breaks prefix-sum ties on the
    stringified doc_id (the committed table's doc_id is a string).
    """
    n_tokens = f"CAST(len({tokens_sql('text')}) AS BIGINT)"
    if empty_guard:
        n_tokens = f"CASE WHEN trim(text) = '' THEN 0 ELSE {n_tokens} END"
    tiebreak = "CAST(doc_id AS VARCHAR)" if varchar_tiebreak else "doc_id"
    where = "\n  WHERE n_tokens > 0" if empty_guard else ""
    return f"""t AS (
  SELECT doc_id,
         {n_tokens} AS n_tokens,
         {h64_sql("CAST(doc_id AS VARCHAR)")} AS h
  FROM documents),
p AS (
  SELECT doc_id, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (
                ORDER BY h, {tiebreak}
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS start_off
  FROM t{where})"""


PACK_CONTEXTS_SELECT = f"""SELECT doc_id, n_tokens, start_off,
       start_off // {CTX_TOKENS} AS first_chunk,
       (start_off + n_tokens - 1) // {CTX_TOKENS} AS last_chunk,
       ((start_off + n_tokens - 1) // {CTX_TOKENS})
         - (start_off // {CTX_TOKENS}) + 1 AS n_chunks
FROM p ORDER BY doc_id"""


PACK_SLICES_SQL = f"""
WITH {pack_placement_ctes()},
r AS (
  SELECT doc_id, n_tokens, start_off,
         unnest(generate_series(start_off // {CTX_TOKENS},
                                (start_off + n_tokens - 1) // {CTX_TOKENS}))
           AS ctx
  FROM p)
SELECT ctx, doc_id,
       greatest(start_off, ctx * {CTX_TOKENS}) - start_off AS off_in_doc,
       greatest(start_off, ctx * {CTX_TOKENS}) - ctx * {CTX_TOKENS} AS off_in_ctx,
       least(start_off + n_tokens, (ctx + 1) * {CTX_TOKENS})
         - greatest(start_off, ctx * {CTX_TOKENS}) AS n_toks
FROM r ORDER BY ctx, off_in_ctx
"""


PACK_CONTEXTS_SQL = f"""
WITH {pack_placement_ctes()}
{PACK_CONTEXTS_SELECT}
"""


def q_pack_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MATERIALIZED contexts — the training-shard end product: every
    512-token context's actual assembled text (space-joined tokens drawn
    across its contributing documents in stream order), not just the
    gather map. This is ``pack_slices``' consumer run to completion: the
    placement explode, a doc_id-keyed join against the token arrays, a
    map-only array slice per (ctx, doc) contribution, and ONE ctx-keyed
    exchange where each context's <= k slices are ordered and
    concatenated. Per-context state is bounded by CTX_TOKENS regardless
    of corpus size, so the gather never builds a large group.

    Scale shape: the only shuffles are the placement prefix-scan's
    4096-shard machinery (shared with pack_contexts), the doc_id join,
    and the final ctx groupBy; no global ordering stage, no driver-side
    assembly. The incremental/committed twin is spark/materialize.py
    (stage over the committed pack table); this closed-form query is its
    value-hash oracle shape on the flat corpus.
    """
    placed = _pack_placements(spark, sf_dir)
    toks = _docs(spark, sf_dir).select(
        "doc_id", tokens("text").alias("_tok")
    )
    sl = pack_slices(placed.join(toks, "doc_id"), tokens_col="_tok")
    return pack_gather(sl, ["ctx"]).orderBy("ctx")


def pack_materialize_sql(*, empty_guard: bool = False,
                         varchar_tiebreak: bool = False) -> str:
    """Closed-form materialized-context oracle: the placement CTEs
    (knobs as in :func:`pack_placement_ctes`) exploded to per-(ctx, doc)
    slices of the token arrays, assembled per context ordered by
    off_in_ctx. Shared by the flat `pack_materialize` query and the
    staged `materialized_table` oracle (extraction_queries)."""
    return f"""
WITH {pack_placement_ctes(empty_guard=empty_guard,
                          varchar_tiebreak=varchar_tiebreak)},
tok AS (
  SELECT doc_id, {tokens_sql('text')} AS tk FROM documents),
r AS (
  SELECT doc_id, n_tokens, start_off,
         unnest(generate_series(start_off // {CTX_TOKENS},
                                (start_off + n_tokens - 1) // {CTX_TOKENS}))
           AS ctx
  FROM p),
s AS (
  SELECT ctx,
         greatest(start_off, ctx * {CTX_TOKENS}) - ctx * {CTX_TOKENS}
           AS off_in_ctx,
         least(start_off + n_tokens, (ctx + 1) * {CTX_TOKENS})
           - greatest(start_off, ctx * {CTX_TOKENS}) AS n_toks,
         array_to_string(list_slice(tk,
             greatest(start_off, ctx * {CTX_TOKENS}) - start_off + 1,
             least(start_off + n_tokens, (ctx + 1) * {CTX_TOKENS})
               - start_off), ' ') AS piece
  FROM r JOIN tok USING (doc_id))
SELECT ctx, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_toks) AS BIGINT) AS n_tokens,
       string_agg(piece, ' ' ORDER BY off_in_ctx) AS text
FROM s GROUP BY ctx ORDER BY ctx
"""


PACK_MATERIALIZE_SQL = pack_materialize_sql()


def q_pack_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-efficiency diagnostics — the one-row summary a pipeline
    owner reads before shipping shards: corpus/context totals, how many
    documents straddle a context boundary (each straddle is a attention
    -masking / doc-boundary event downstream), total boundary crossings,
    the final partial context's token waste, and floor-micros means
    (tokens per doc, contributing docs per context). All integer
    arithmetic over the placement table; the only addition to the
    placement DAG is one singleton aggregate, so the scale shape is
    pack_contexts' plus a broadcastable 1-row reduce."""
    first, last, _ = pack_ctx_range()
    placed = _pack_placements(spark, sf_dir).select(
        "n_tokens", (last - first).alias("crossings")
    )
    return placed.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.expr(
            f"CAST((sum(n_tokens) + {CTX_TOKENS} - 1) div {CTX_TOKENS}"
            " AS BIGINT)"
        ).alias("n_contexts"),
        F.sum((F.col("crossings") > 0).cast("bigint")).alias(
            "straddling_docs"
        ),
        F.sum("crossings").cast("bigint").alias("boundary_crossings"),
        F.expr(
            f"CAST(((sum(n_tokens) + {CTX_TOKENS} - 1) div {CTX_TOKENS})"
            f" * {CTX_TOKENS} - sum(n_tokens) AS BIGINT)"
        ).alias("tail_waste_tokens"),
        F.expr(
            "CAST(sum(n_tokens) * 1000000 div count(*) AS BIGINT)"
        ).alias("mean_doc_tokens_micros"),
        F.expr(
            "CAST((count(*) + sum(crossings)) * 1000000"
            f" div ((sum(n_tokens) + {CTX_TOKENS} - 1) div {CTX_TOKENS})"
            " AS BIGINT)"
        ).alias("docs_per_context_micros"),
    )


PACK_STATS_SQL = f"""
WITH {pack_placement_ctes()},
c AS (
  SELECT n_tokens,
         (start_off + n_tokens - 1) // {CTX_TOKENS}
           - start_off // {CTX_TOKENS} AS crossings
  FROM p)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST((sum(n_tokens) + {CTX_TOKENS} - 1) // {CTX_TOKENS} AS BIGINT)
         AS n_contexts,
       CAST(sum(CASE WHEN crossings > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS straddling_docs,
       CAST(sum(crossings) AS BIGINT) AS boundary_crossings,
       CAST(((sum(n_tokens) + {CTX_TOKENS} - 1) // {CTX_TOKENS})
            * {CTX_TOKENS} - sum(n_tokens) AS BIGINT) AS tail_waste_tokens,
       CAST(sum(n_tokens) * 1000000 // count(*) AS BIGINT)
         AS mean_doc_tokens_micros,
       CAST((count(*) + sum(crossings)) * 1000000
            // ((sum(n_tokens) + {CTX_TOKENS} - 1) // {CTX_TOKENS})
         AS BIGINT) AS docs_per_context_micros
FROM c
"""


def q_pack_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk packing costed in TOKENIZER pieces, not whitespace
    tokens — what a production packer actually budgets: a context holds
    512 BPE pieces, and a word's cost is however many pieces the merge
    table leaves it (``textstats.q_bpe_encode`` is the costing stage this
    composes). Same deterministic md5 stream order and two-phase
    distributed prefix scan as ``pack_contexts``; only the cost column
    changes, so the placement machinery is shared verbatim.

    Scale shape: rule table <= 12 rows collected once and closure-shipped
    (the k-means-centroid pattern); the costing pass is the map-only
    Arrow encode with its per-task word memo (no join, no shuffle on the
    Zipf-hot vocabulary); then the 4096-shard prefix scan. The oracle
    rederives every piece count through the recursive-CTE tokenizer and
    the packing arithmetic in one closed form.
    """
    from .textstats import (
        _BPE_OUT_SCHEMA,
        _bpe_encode_batches,
        bpe_merge_rules,
    )

    docs = _docs(spark, sf_dir)
    rules = bpe_merge_rules(docs, "text")
    cost = (
        docs.select(F.col("doc_id").cast("bigint").alias("doc_id"), "text")
        .mapInArrow(_bpe_encode_batches(rules), schema=_BPE_OUT_SCHEMA)
        .select(
            "doc_id",
            F.col("n_pieces").alias("n_pieces"),
            h64(F.col("doc_id").cast("string")).alias("h"),
        )
    )
    first, last, _ = pack_ctx_range(extent="n_pieces")
    return (
        pack_place(cost, "n_pieces")
        .select(
            "doc_id",
            "n_pieces",
            "start_off",
            first.alias("first_chunk"),
            last.alias("last_chunk"),
        )
        .withColumn(
            "n_chunks", F.col("last_chunk") - F.col("first_chunk") + F.lit(1)
        )
        .orderBy("doc_id")
    )


def _bpe_placement_ctes(empty_guard: bool, varchar_tiebreak: bool) -> str:
    """The recursive-CTE tokenizer, its per-doc piece counts ``cost`` and
    their placement ``p(doc_id, n_pieces, start_off)``: the prelude of
    both BPE oracles (knobs as in :func:`pack_placement_ctes`)."""
    from .textstats import bpe_encode_ctes

    tiebreak = "CAST(doc_id AS VARCHAR)" if varchar_tiebreak else "doc_id"
    where = "\n  WHERE n_pieces > 0" if empty_guard else ""
    return f"""
WITH RECURSIVE
{bpe_encode_ctes()},
cost AS (
  SELECT t.doc_id, CAST(sum(e.n_pieces) AS BIGINT) AS n_pieces,
         {h64_sql("CAST(t.doc_id AS VARCHAR)")} AS h
  FROM toks t JOIN encoded e USING (tok)
  GROUP BY t.doc_id),
p AS (
  SELECT doc_id, n_pieces,
         CAST(COALESCE(SUM(n_pieces) OVER (
                ORDER BY h, {tiebreak}
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS start_off
  FROM cost{where})"""


def pack_bpe_sql(*, empty_guard: bool = False,
                 varchar_tiebreak: bool = False) -> str:
    """BPE-costed packing oracle: the recursive-CTE tokenizer's per-doc
    piece counts fed through the placement prefix sum. Knobs as in
    :func:`pack_placement_ctes` — the staged ``packed_bpe_table`` oracle
    drops zero-cost (whitespace-only) docs and breaks prefix-sum ties on
    the stringified doc_id; the flat ``pack_bpe`` query uses neither."""
    return _bpe_placement_ctes(empty_guard, varchar_tiebreak) + f"""
SELECT doc_id, n_pieces, start_off,
       start_off // {CTX_TOKENS} AS first_chunk,
       (start_off + n_pieces - 1) // {CTX_TOKENS} AS last_chunk,
       ((start_off + n_pieces - 1) // {CTX_TOKENS})
         - (start_off // {CTX_TOKENS}) + 1 AS n_chunks
FROM p ORDER BY doc_id
"""


def pack_materialize_bpe_sql(*, empty_guard: bool = False,
                             varchar_tiebreak: bool = False) -> str:
    """Materialized-context oracle for a BPE-COSTED packing: the
    recursive-CTE tokenizer's per-word piece LISTS flattened into each
    doc's ordered piece stream, placed by the piece-count prefix sum,
    exploded to per-(ctx, doc) slices of that stream, assembled per
    context. The closed form of spark/materialize.py over a cost='bpe'
    pack table (fixture: ``materialized_bpe_table``)."""
    return _bpe_placement_ctes(empty_guard, varchar_tiebreak) + f""",
stream AS (
  SELECT t.doc_id, flatten(list(e.syms ORDER BY t.pos)) AS tk
  FROM toks t JOIN encoded e USING (tok)
  GROUP BY t.doc_id),
r AS (
  SELECT doc_id, n_pieces, start_off,
         unnest(generate_series(start_off // {CTX_TOKENS},
                                (start_off + n_pieces - 1) // {CTX_TOKENS}))
           AS ctx
  FROM p),
s AS (
  SELECT ctx,
         greatest(start_off, ctx * {CTX_TOKENS}) - ctx * {CTX_TOKENS}
           AS off_in_ctx,
         least(start_off + n_pieces, (ctx + 1) * {CTX_TOKENS})
           - greatest(start_off, ctx * {CTX_TOKENS}) AS n_toks,
         array_to_string(list_slice(tk,
             greatest(start_off, ctx * {CTX_TOKENS}) - start_off + 1,
             least(start_off + n_pieces, (ctx + 1) * {CTX_TOKENS})
               - start_off), ' ') AS piece
  FROM r JOIN stream USING (doc_id))
SELECT ctx, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_toks) AS BIGINT) AS n_tokens,
       string_agg(piece, ' ' ORDER BY off_in_ctx) AS text
FROM s GROUP BY ctx ORDER BY ctx
"""


# --- bigram LM scoring ------------------------------------------------------

def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality score per document (CCNet perplexity-filter
    analogue): mean add-one-smoothed next-token probability under counts
    trained on the corpus itself.

    Per bigram position (w1, w2):
        p = (c(w1,w2) + 1) / (c(w1) + V)
    quantized to ``m = (1e6 * (c+1)) div (c(w1) + V)`` BEFORE summing, so
    the per-document aggregate is a sum of integers — associative,
    order-free, and identical across engines (a log-prob formulation
    would inherit libm's last-ulp differences; see module docstring).

    Bigrams are built map-only (slice + zip_with, no self-join / no
    window over token position); counts are map-side-combined groupBys.
    Skew: the scoring join's keys are tokens, and natural-language token
    frequency is Zipfian — joining the raw per-position stream on w1
    would send every occurrence of "the" to one reducer. Two defenses:
    (1) occurrences are first collapsed to (doc_id, w1, w2, n_occ) — a
    well-distributed key — so the count join moves one row per distinct
    bigram per doc (the score is n_occ * m, exactly); (2) the smoothed
    probability m is computed entirely on the COUNT tables first —
    bigc ⨝ uni is a count-table ⨝ count-table join (one row per
    distinct bigram / unigram, tiny vs the occurrence stream) — so the
    occurrence stream joins exactly once, on the composite (w1, w2) key,
    and is NEVER hash-partitioned on the bare Zipf-hot w1. Pinned in
    tools/plan_audit.py: no bare-w1 exchange carries doc_id in its Input
    columns (only count tables shuffle on w1). Residual skew on (w1, w2) is AQE
    skew-join territory. Documents with fewer than two tokens have no
    bigrams and drop out, as in the oracle.
    """
    # staged intermediates (CLAUDE.md): toks feeds the unigram AND bigram
    # branches, bp feeds counts AND per-doc occurrences — un-staged, the
    # plan re-scanned documents.parquet (and re-tokenized + re-zipped
    # bigrams) 4x. Measured at sf0.1: staged 1.5s vs unstaged 1.1s — the
    # barrier costs at toy scale and pays where tokenization is the
    # dominant cost (the 100 TB regime this exists for).
    toks = _persisted(
        _docs(spark, sf_dir).select("doc_id", tokens("text").alias("t"))
    )
    pairs = F.zip_with(
        F.expr("slice(t, 1, size(t) - 1)"),
        F.expr("slice(t, 2, size(t) - 1)"),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    bp = _persisted(
        toks.select("doc_id", F.explode(pairs).alias("p")).select(
            "doc_id", "p.w1", "p.w2"
        )
    )
    uni = (
        toks.select(F.explode("t").alias("w1"))
        .groupBy("w1")
        .agg(F.count("*").alias("c_uni"))
    )
    bigc = bp.groupBy("w1", "w2").agg(F.count("*").alias("c_big"))
    vocab = uni.agg(F.count("*").alias("v"))
    occ = bp.groupBy("doc_id", "w1", "w2").agg(F.count("*").alias("n_occ"))
    # count-table ⨝ count-table: attach c_uni (and the vocab scalar) to the
    # distinct-bigram table BEFORE touching the occurrence stream, so the
    # only join occ participates in is keyed on composite (w1, w2).
    mtab = (
        bigc.join(uni, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "w1",
            "w2",
            F.expr("(1000000 * (c_big + 1)) div (c_uni + v)").alias("m"),
        )
    )
    scored = occ.join(mtab, ["w1", "w2"]).select("doc_id", "n_occ", "m")
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum("n_occ").alias("n_bigrams"),
            F.sum(F.col("n_occ") * F.col("m")).alias("score_micros"),
        )
        .withColumn("mean_prob_micros", F.expr("score_micros div n_bigrams"))
        .orderBy("doc_id")
    )


LM_SCORE_SQL = f"""
WITH toks AS (SELECT doc_id, {tokens_sql("text")} AS t FROM documents),
pos AS (
  SELECT doc_id, unnest(t) AS w, generate_subscripts(t, 1) AS i FROM toks),
uni AS (SELECT w AS w1, count(*) AS c_uni FROM pos GROUP BY 1),
v AS (SELECT count(*) AS v FROM uni),
big AS (
  SELECT doc_id, w AS w1,
         lead(w) OVER (PARTITION BY doc_id ORDER BY i) AS w2
  FROM pos),
bp AS (SELECT doc_id, w1, w2 FROM big WHERE w2 IS NOT NULL),
bigc AS (SELECT w1, w2, count(*) AS c_big FROM bp GROUP BY w1, w2),
scored AS (
  SELECT bp.doc_id,
         (1000000 * (bigc.c_big + 1)) // (uni.c_uni + v.v) AS m
  FROM bp JOIN bigc USING (w1, w2) JOIN uni USING (w1) CROSS JOIN v)
SELECT doc_id,
       count(*) AS n_bigrams,
       CAST(sum(m) AS BIGINT) AS score_micros,
       CAST(sum(m) AS BIGINT) // count(*) AS mean_prob_micros
FROM scored GROUP BY doc_id ORDER BY doc_id
"""


# --- k-means Lloyd step -----------------------------------------------------
# (K_DIM is similarity.DIM — one authoritative copy of the corpus embedding
# dimension; a drift here would silently truncate the oracle's distance.)


def _floordiv(a: str, b: str) -> str:
    """Spark SQL floor division for possibly-negative a (b > 0): `div`
    truncates toward zero, DuckDB's `//` floors — route both through an
    explicit floor-mod so negative per-dim sums divide identically."""
    return f"(({a}) - pmod({a}, {b})) div ({b})"


def _floordiv_duck(a: str, b: str) -> str:
    return f"((({a}) - ((( ({a}) % ({b}) ) + ({b})) % ({b}))) // ({b}))"


def q_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd iteration of k-means over the embeddings in fixed-point.

    Seeds are the deterministic medoids used by ``ann_ivf`` (min vec_id
    per label); every vector is quantized to integer micros and assigned
    to the nearest seed by *integer* squared-L2 (ties -> lowest cell),
    then each cell's new centroid is the per-dimension floor-mean of its
    members' micros. Integer sums are associative, so the result is
    independent of partitioning/ordering — what makes the step usable as
    the body of a resumable distributed index build (run it again with
    these centroids as seeds for the next iteration).

    Plan shape: broadcast 10 seeds -> map-only assignment; posexplode ->
    partial agg -> shuffle carrying only (cell, dim) groups; final
    per-cell assembly via the ordered-collect convention.
    """
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    vm = F.transform(
        "embedding", lambda x: F.floor(x.cast("double") * 1000000.0).cast("bigint")
    )
    e = emb.select("vec_id", "label", vm.alias("vm"))
    seed_ids = emb.groupBy("label").agg(F.min("vec_id").alias("vec_id"))
    seeds = e.join(F.broadcast(seed_ids), ["label", "vec_id"]).select(
        F.col("label").alias("cell"), F.col("vm").alias("sm")
    )
    dist = F.aggregate(
        F.zip_with("vm", "sm", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    scored = e.crossJoin(F.broadcast(seeds)).select(
        "vec_id", "vm", "cell", dist.alias("d2")
    )
    w = Window.partitionBy("vec_id").orderBy("d2", "cell")
    members = (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("cell", F.posexplode("vm").alias("dim", "val"))
    )
    dim_stats = members.groupBy("cell", "dim").agg(
        F.sum("val").alias("s"), F.count("*").alias("n")
    )
    cm = dim_stats.select(
        "cell", "dim", "n", F.expr(_floordiv("s", "n")).alias("c")
    )
    return (
        cm.groupBy("cell")
        .agg(
            F.max("n").alias("n_members"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "c"))),
                    lambda x: x["c"].cast("string"),
                ),
                ",",
            ).alias("centroid_micros"),
        )
        .orderBy("cell")
    )


def _kmeans_step_sql() -> str:
    d2 = " + ".join(
        f"((e.vm[{i}] - s.sm[{i}]) * (e.vm[{i}] - s.sm[{i}]))"
        for i in range(1, K_DIM + 1)
    )
    return f"""
WITH e AS (
  SELECT vec_id, label,
         list_transform(embedding::DOUBLE[],
                        x -> CAST(floor(x * 1000000.0) AS BIGINT)) AS vm
  FROM embeddings),
seed_ids AS (SELECT label, min(vec_id) AS vec_id FROM embeddings GROUP BY label),
seeds AS (
  SELECT e.label AS cell, e.vm AS sm
  FROM e JOIN seed_ids ON e.label = seed_ids.label AND e.vec_id = seed_ids.vec_id),
scored AS (
  SELECT e.vec_id, e.vm, s.cell, ({d2}) AS d2
  FROM e CROSS JOIN seeds s),
assigned AS (
  SELECT vec_id, vm, cell,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rk
  FROM scored),
members AS (
  SELECT cell, unnest(vm) AS val, generate_subscripts(vm, 1) - 1 AS dim
  FROM assigned WHERE rk = 1),
dim_stats AS (
  SELECT cell, dim, CAST(sum(val) AS BIGINT) AS s, count(*) AS n
  FROM members GROUP BY cell, dim),
cm AS (
  SELECT cell, dim, n, {_floordiv_duck("s", "n")} AS c
  FROM dim_stats)
SELECT cell,
       CAST(max(n) AS BIGINT) AS n_members,
       string_agg(CAST(c AS VARCHAR), ',' ORDER BY dim) AS centroid_micros
FROM cm GROUP BY cell ORDER BY cell
"""


# --- iterative k-means training --------------------------------------------

KMEANS_ITERS = 3


def _points(e: DataFrame) -> DataFrame:
    """(vec_id, dim, val): the long-form micros points table. For the
    iterative trainer the relational long form beats the array-HOF form of
    q_kmeans_step: distances become a broadcast join on `dim` + partial
    agg (all whole-stage codegen), and the SAME pts table feeds every
    iteration's assignment and update without re-exploding (the caller
    stages it via _persisted — Catalyst does no cross-branch CSE)."""
    return e.select("vec_id", F.posexplode("vm").alias("dim", "val"))


def _assign_relational(pts: DataFrame, cent: DataFrame) -> DataFrame:
    """(vec_id, cell, d2) for the nearest centroid (ties -> lowest cell)."""
    diff = F.col("val") - F.col("c")
    d = (
        pts.join(F.broadcast(cent), "dim")
        .groupBy("vec_id", "cell")
        .agg(F.sum(diff * diff).alias("d2"))
    )
    w = Window.partitionBy("vec_id").orderBy("d2", "cell")
    return (
        d.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("vec_id", "cell", "d2")
    )


def _update_centroids(pts: DataFrame, members: DataFrame) -> DataFrame:
    """(cell, dim, c): per-dimension floor-mean of each cell's members."""
    return (
        members.select("vec_id", "cell")
        .join(pts, "vec_id")
        .groupBy("cell", "dim")
        .agg(F.sum("val").alias("s"), F.count("*").alias("n"))
        .select("cell", "dim", F.expr(_floordiv("s", "n")).alias("c"))
    )


def kmeans_loop(spark: SparkSession, sf_dir: str, n_iters: int):
    """Run the unrolled Lloyd loop; returns (pts, members, cent) — the
    long-form points table, the final assignment (vec_id, cell, d2), and
    the final centroids (cell, dim, c). Shared by ``kmeans_train`` and the
    trained-quantizer ANN path (similarity.q_ann_ivf_trained)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    vm = F.transform(
        "embedding", lambda x: F.floor(x.cast("double") * 1000000.0).cast("bigint")
    )
    e = emb.select("vec_id", "label", vm.alias("vm"))
    # staged (CLAUDE.md; same choice MLlib's KMeans makes by persisting its
    # input): pts feeds every iteration's assignment AND centroid update
    # across join branches — un-staged, the 3-iteration plan re-scans
    # embeddings.parquet per reference and replays ALL prior iterations for
    # every final consumer branch (stats / WCSS / trained-IVF probe).
    # Measured at sf0.1 local[16]: staged 4.4s vs unstaged 2.7s — the cache
    # barriers COST ~1.7s at toy scale, where a scan is ~ms; the staging is
    # for the regime the op exists for (10^9-row points tables, where one
    # iteration's scan dwarfs every barrier). Harness releases via
    # release_caches().
    pts = _persisted(_points(e))
    seed_ids = emb.groupBy("label").agg(F.min("vec_id").alias("vec_id"))
    cent = (
        e.join(F.broadcast(seed_ids), ["label", "vec_id"])
        .select(F.col("label").alias("cell"), "vm")
        .select("cell", F.posexplode("vm").alias("dim", "c"))
    )
    if n_iters < 1:
        raise ValueError(f"kmeans_loop needs n_iters >= 1, got {n_iters}")
    members = None
    for _ in range(n_iters):
        # persist each iteration's outputs: members/cent are referenced by
        # the NEXT iteration and by multiple final branches (stats, WCSS,
        # the trained-IVF probe) — caching truncates the recursive lineage
        members = _persisted(_assign_relational(pts, cent))
        cent = _persisted(_update_centroids(pts, members))
    return pts, members, cent


def kmeans_train_df(spark: SparkSession, sf_dir: str, n_iters: int) -> DataFrame:
    """n_iters Lloyd iterations as ONE declarative plan (no driver loop
    actions — the loop unrolls into the DAG; a production build of
    thousands of iterations would checkpoint centroids per iteration like
    the CC label loop in ops/dedup.py, but the plan shape per iteration is
    identical to this)."""
    _pts, members, cent = kmeans_loop(spark, sf_dir, n_iters)
    stats_m = members.groupBy("cell").agg(
        F.count("*").alias("n_members"), F.sum("d2").alias("wcss")
    )
    stats_c = cent.groupBy("cell").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "c"))),
                lambda x: x["c"].cast("string"),
            ),
            ",",
        ).alias("centroid_micros")
    )
    return (
        stats_m.join(stats_c, "cell")
        .select("cell", "n_members", "wcss", "centroid_micros")
        .orderBy("cell")
    )


def q_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three Lloyd iterations over the embeddings, exactly oracled.

    The iterative sibling of ``q_kmeans_step``: same fixed-point micros
    arithmetic (integer sums are associative -> bit-reproducible across
    partitionings, engines, and retries — an index build that restarts
    mid-iteration converges to the same centroids), but in relational long
    form: points explode ONCE into (vec_id, dim, val); each iteration is a
    broadcast join on `dim` (centroids are K*D rows — the broadcast side)
    + a partial-agg distance reduction + an argmax window + a partial-agg
    centroid update. Per-cell WCSS against the final assignment centroids
    is emitted as convergence evidence (monotonically non-increasing over
    iterations — pinned in tests/test_training_ops.py).

    A cell whose membership empties mid-training drops out on both
    engines identically (no resurrection policy, deterministically).
    """
    return kmeans_train_df(spark, sf_dir, KMEANS_ITERS)


def kmeans_ctes(n_iters: int = KMEANS_ITERS) -> list[str]:
    """The Lloyd-loop CTE chain (shared with the trained-IVF oracle):
    after the chain, ``m{n_iters-1}`` is the final assignment and
    ``cent{n_iters}`` the final centroids."""
    ctes = [
        """e AS (
  SELECT vec_id, label,
         list_transform(embedding::DOUBLE[],
                        x -> CAST(floor(x * 1000000.0) AS BIGINT)) AS vm
  FROM embeddings)""",
        """pts AS (
  SELECT vec_id, unnest(vm) AS val, generate_subscripts(vm, 1) - 1 AS dim
  FROM e)""",
        """seed_ids AS (SELECT label, min(vec_id) AS vec_id FROM embeddings GROUP BY label)""",
        """cent0 AS (
  SELECT e.label AS cell, unnest(e.vm) AS c, generate_subscripts(e.vm, 1) - 1 AS dim
  FROM e JOIN seed_ids ON e.label = seed_ids.label AND e.vec_id = seed_ids.vec_id)""",
    ]
    for i in range(n_iters):
        ctes.append(
            f"""d{i} AS (
  SELECT p.vec_id, c.cell,
         CAST(sum((p.val - c.c) * (p.val - c.c)) AS BIGINT) AS d2
  FROM pts p JOIN cent{i} c USING (dim) GROUP BY p.vec_id, c.cell)"""
        )
        ctes.append(
            f"""m{i} AS (
  SELECT vec_id, cell, d2 FROM (
    SELECT vec_id, cell, d2,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rk
    FROM d{i}) WHERE rk = 1)"""
        )
        ctes.append(
            f"""cent{i + 1} AS (
  SELECT m.cell, p.dim,
         {_floordiv_duck("CAST(sum(p.val) AS BIGINT)", "count(*)")} AS c
  FROM m{i} m JOIN pts p USING (vec_id) GROUP BY m.cell, p.dim)"""
        )
    return ctes


def _kmeans_train_sql() -> str:
    last_m, last_c = f"m{KMEANS_ITERS - 1}", f"cent{KMEANS_ITERS}"
    return (
        "WITH "
        + ",\n".join(kmeans_ctes(KMEANS_ITERS))
        + f""",
stats_m AS (
  SELECT cell, count(*) AS n_members, CAST(sum(d2) AS BIGINT) AS wcss
  FROM {last_m} GROUP BY cell),
stats_c AS (
  SELECT cell, string_agg(CAST(c AS VARCHAR), ',' ORDER BY dim) AS centroid_micros
  FROM {last_c} GROUP BY cell)
SELECT cell, n_members, wcss, centroid_micros
FROM stats_m JOIN stats_c USING (cell) ORDER BY cell
"""
    )


# --- RAG chunking -----------------------------------------------------------

# production RAG chunking runs 128-512-token windows; 32/8 here so the
# synthetic corpus (docs <= ~100 tokens) actually yields MULTIPLE
# overlapping chunks per doc and the oracle exercises the overlap/clip
# logic, not just the single-chunk degenerate case
CHUNK_SIZE = 32  # tokens per retrieval chunk
CHUNK_OVERLAP = 8  # tokens shared between neighboring chunks
CHUNK_STRIDE = CHUNK_SIZE - CHUNK_OVERLAP


def q_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping retrieval chunks per document — the ingestion-side
    sibling of ``pack_contexts`` (training packs contexts back-to-back;
    retrieval wants windows that overlap so no answer span straddles a
    boundary unseen). Each document yields chunks of ``CHUNK_SIZE`` tokens
    every ``CHUNK_STRIDE``, the last chunk clipped to the document end, plus
    a 60-bit content fingerprint per chunk for downstream chunk-level dedup
    and index keys.

    Scale: map-only — chunk starts come from a per-row ``sequence`` (no
    self-join, no window over token position), chunk text assembly
    (slice + array_join) runs in the interpreted ``transform``, and the
    md5 fingerprint runs codegen-side AFTER the explode (hashing inside
    the HOF is the measured trap — ops/dedup.py MinHash docstring). The
    only exchange is the output sort. 1-to-many explode fan-out is bounded
    by n_tokens/STRIDE, so executor memory per row stays O(doc)."""
    sz, ov, st = CHUNK_SIZE, CHUNK_OVERLAP, CHUNK_STRIDE
    chunks = (
        f"transform(sequence(1, greatest(size(t) - {ov}, 1), {st}), "
        f"s -> struct(s as start_tok, "
        f"least(s + {sz - 1}, size(t)) as end_tok, "
        f"array_join(slice(t, s, {sz}), ' ') as chunk_text))"
    )
    return (
        _docs(spark, sf_dir)
        .select("doc_id", tokens("text").alias("t"))
        .where(F.size("t") >= 1)
        .select("doc_id", F.explode(F.expr(chunks)).alias("c"))
        .select(
            "doc_id",
            F.expr(f"(c.start_tok - 1) div {st}").cast("bigint").alias("chunk_idx"),
            F.col("c.start_tok").cast("bigint").alias("start_tok"),
            F.col("c.end_tok").cast("bigint").alias("end_tok"),
            (F.col("c.end_tok") - F.col("c.start_tok") + 1)
            .cast("bigint")
            .alias("n_tokens"),
            h64(F.col("c.chunk_text")).alias("chunk_hash"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


CHUNK_WINDOWS_SQL = f"""
WITH toks AS (
  SELECT doc_id, {tokens_sql("text")} AS t FROM documents),
sized AS (
  SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n
  FROM toks WHERE len(t) >= 1),
st AS (
  SELECT doc_id, t, n,
         unnest(generate_series(1, greatest(n - {CHUNK_OVERLAP}, 1),
                                {CHUNK_STRIDE})) AS s
  FROM sized)
SELECT doc_id,
       (s - 1) // {CHUNK_STRIDE} AS chunk_idx,
       CAST(s AS BIGINT) AS start_tok,
       CAST(least(s + {CHUNK_SIZE - 1}, n) AS BIGINT) AS end_tok,
       CAST(least(s + {CHUNK_SIZE - 1}, n) - s + 1 AS BIGINT) AS n_tokens,
       {h64_sql(f"array_to_string(t[s:least(s + {CHUNK_SIZE - 1}, n)], ' ')")}
         AS chunk_hash
FROM st ORDER BY doc_id, chunk_idx
"""


# --- leakage-safe dataset splitting ------------------------------------------

SPLIT_TRAIN_PCT = 80
SPLIT_VAL_PCT = 10  # test = the remainder


def q_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment keyed on the GROUP, not the
    document: ``h64(source) % 100`` decides the split, so every document
    of one source lands in the same split. Splitting per-doc is the
    classic leakage bug — near-duplicates and templated documents inside
    one source straddle train and test, inflating eval. Group-level
    hashing is the standard fix (and why this op exists next to the dedup
    family: dedup bounds within-split duplication, the split key bounds
    CROSS-split duplication).

    Deterministic (no rand(), no sampleBy — reruns and backfills assign
    identically), map-only, zero shuffle; the presentation sort is the
    only ordering. Matching the split downstream is a filter, not a join.
    """
    docs = _docs(spark, sf_dir)
    bucket = F.pmod(h64(F.col("source")), F.lit(100))
    split = (
        F.when(bucket < SPLIT_TRAIN_PCT, F.lit("train"))
        .when(bucket < SPLIT_TRAIN_PCT + SPLIT_VAL_PCT, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return docs.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "source",
        bucket.cast("bigint").alias("split_bucket"),
        split.alias("split"),
    ).orderBy("doc_id")


def _train_split_sql() -> str:
    h = h64_sql("source")
    return f"""
SELECT doc_id, source,
       {h} % 100 AS split_bucket,
       CASE WHEN {h} % 100 < {SPLIT_TRAIN_PCT} THEN 'train'
            WHEN {h} % 100 < {SPLIT_TRAIN_PCT + SPLIT_VAL_PCT} THEN 'val'
            ELSE 'test' END AS split
FROM documents ORDER BY doc_id
"""


TRAIN_SPLIT_SQL = _train_split_sql()


# --- DSIR-style hashed-n-gram importance weights ------------------------------

DSIR_BUCKETS = 256


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al., 2023) over
    hashed unigram features: score every document by how much its hashed
    token distribution looks like a TARGET domain (here the ``lang='en'``
    slice) relative to the full corpus. High-scoring documents are the ones
    importance resampling keeps when curating a pretraining mix toward the
    target.

    Cross-engine exactness: the paper's log-likelihood ratio is libm-bound
    (the lm_score trap), so the score is the rational surrogate — the
    per-token target/source frequency ratio in integer micros, averaged
    over the document. Add-one smoothing over the fixed 256-bucket domain
    keeps every count positive, and the ratio is staged as
    ``((tgt_c * 1e6) DIV src_c) * src_total DIV tgt_total`` — the first
    factor is <= 1e6 because the target slice is a SUBSET of the corpus
    (tgt_c <= src_c bucket-wise, equal smoothing on both), so no divisor
    can be zero and the product stays in int64 up to ~9*10^12 corpus
    tokens. Past that, the fix is not bigger literals: the weight table is
    256 rows, so a >10^13-token deployment computes it driver-side in
    arbitrary precision and broadcasts the constants — the corpus-side
    arithmetic (sum of c*w per doc) is unaffected.

    Scale shape: ONE token explode collapses immediately to
    (doc_id, lang, bucket) partial counts (map-side combine; the staged
    subtree is persisted because both the weight table and the scoring
    pass consume it). The 256-row weight table aggregates those partials
    and joins back BROADCAST — the corpus stream is never shuffled on the
    bucket key (Zipf-hot buckets never hot-spot a reducer, the lesson of
    lm_score's r3 weak row).
    """
    docs = _docs(spark, sf_dir)
    db = _persisted(
        docs.select(
            "doc_id", "lang", F.explode(tokens("text")).alias("term")
        )
        .select(
            "doc_id", "lang", F.pmod(h64("term"), F.lit(DSIR_BUCKETS)).alias("bucket")
        )
        .groupBy("doc_id", "lang", "bucket")
        .agg(F.count("*").alias("c"))
    )
    counts = db.groupBy("bucket").agg(
        F.sum("c").alias("src_raw"),
        F.sum(F.when(F.col("lang") == "en", F.col("c")).otherwise(F.lit(0))).alias(
            "tgt_raw"
        ),
    )
    dom = spark.range(DSIR_BUCKETS).select(F.col("id").alias("bucket"))
    wt0 = (
        dom.join(counts, "bucket", "left")
        .select(
            "bucket",
            (F.coalesce("src_raw", F.lit(0)) + 1).alias("src_c"),
            (F.coalesce("tgt_raw", F.lit(0)) + 1).alias("tgt_c"),
        )
    )
    tot = wt0.agg(
        F.sum("src_c").alias("src_total"), F.sum("tgt_c").alias("tgt_total")
    )
    wt = wt0.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.expr("((tgt_c * 1000000) DIV src_c) * src_total DIV tgt_total").alias(
            "w"
        ),
    )
    return (
        db.join(F.broadcast(wt), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.sum(F.col("c") * F.col("w")).alias("score"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.expr("score DIV n_tokens").alias("dsir_micros"),
        )
        .orderBy("doc_id")
    )


DSIR_WEIGHTS_SQL = f"""
WITH tok AS (
  SELECT doc_id, lang, {h64_sql("term")} % {DSIR_BUCKETS} AS bucket
  FROM (SELECT doc_id, lang, unnest({tokens_sql('text')}) AS term FROM documents)),
db AS (
  SELECT doc_id, lang, bucket, count(*) AS c FROM tok GROUP BY 1, 2, 3),
counts AS (
  SELECT bucket,
         CAST(sum(c) AS BIGINT) AS src_raw,
         CAST(sum(CASE WHEN lang = 'en' THEN c ELSE 0 END) AS BIGINT) AS tgt_raw
  FROM db GROUP BY bucket),
dom AS (SELECT unnest(generate_series(0, {DSIR_BUCKETS - 1})) AS bucket),
wt0 AS (
  SELECT dom.bucket, 1 + coalesce(src_raw, 0) AS src_c,
         1 + coalesce(tgt_raw, 0) AS tgt_c
  FROM dom LEFT JOIN counts ON dom.bucket = counts.bucket),
tot AS (
  SELECT CAST(sum(src_c) AS BIGINT) AS src_total,
         CAST(sum(tgt_c) AS BIGINT) AS tgt_total FROM wt0),
wt AS (
  SELECT bucket,
         ((tgt_c * 1000000) // src_c) * src_total // tgt_total AS w
  FROM wt0, tot),
sc AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(sum(c * w) AS BIGINT) AS score
  FROM db JOIN wt USING (bucket) GROUP BY doc_id)
SELECT doc_id, n_tokens, score // n_tokens AS dsir_micros
FROM sc ORDER BY doc_id
"""


QUERIES: dict[str, tuple] = {
    "train_split": (q_train_split, TRAIN_SPLIT_SQL),
    "dsir_weights": (q_dsir_weights, DSIR_WEIGHTS_SQL),
    "chunk_windows": (q_chunk_windows, CHUNK_WINDOWS_SQL),
    "pack_contexts": (q_pack_contexts, PACK_CONTEXTS_SQL),
    "pack_slices": (q_pack_slices, PACK_SLICES_SQL),
    "pack_materialize": (q_pack_materialize, PACK_MATERIALIZE_SQL),
    "pack_bpe": (q_pack_bpe, pack_bpe_sql),
    "pack_stats": (q_pack_stats, PACK_STATS_SQL),
    "lm_score": (q_lm_score, LM_SCORE_SQL),
    "kmeans_step": (q_kmeans_step, _kmeans_step_sql()),
    "kmeans_train": (q_kmeans_train, _kmeans_train_sql()),
}
