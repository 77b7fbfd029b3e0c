"""Approximate-nearest-neighbor search over an embedding column.

Two paths, as a training-data pipeline needs them:

- ``ann_bruteforce``: exact cosine top-k — broadcast the (small) query set
  against the full corpus; one shuffle on query_id for the per-query top-k
  window. The correctness baseline.
- ``ann_lsh``: the scale path — embeddings are bucketed by an 8-bit
  sign-code (axis-aligned hyperplane LSH: bit_j = [v_j > 0]); queries only
  meet candidates in their own bucket, turning the O(Q*N) cross join into a
  per-bucket join keyed on the code. At 100 TB the bucket code is a
  partition column, so a query touches 1/256th of the corpus.

Dot products fold the array in index order with doubles on both engines, so
ranking compares exactly (ties broken by vec_id).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .portable import EMBED_DIM as DIM, dot_sql, norm_sql

N_QUERIES = 10  # vec_id < 10 are the query set
TOP_K = 5
LSH_BITS = 8


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return emb.select(
        "vec_id",
        "label",
        v.alias("v"),
        F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x)).alias("norm"),
    )


def _cosine(a: str, b: str):
    dot = F.aggregate(
        F.zip_with(F.col(f"{a}.v"), F.col(f"{b}.v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return dot / (F.col(f"{a}.norm") * F.col(f"{b}.norm"))


def q_ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 neighbors for each query vector (vec_id < 10)."""
    emb = _embeddings(spark, sf_dir)
    q = emb.where(F.col("vec_id") < N_QUERIES).alias("q")
    c = emb.alias("c")
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("q.vec_id") != F.col("c.vec_id"))
        .select(
            F.col("q.vec_id").alias("query_id"),
            F.col("c.vec_id").alias("neighbor_id"),
            _cosine("q", "c").alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            "rank",
            F.floor(F.col("cos") * 1000000.0).cast("bigint").alias("cosine_micros"),
        )
        .orderBy("query_id", "rank")
    )


ANN_BRUTEFORCE_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
n AS (SELECT vec_id, v, {norm_sql('v')} AS nrm FROM e),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         ({dot_sql('q.v', 'c.v')}) / (q.nrm * c.nrm) AS cos
  FROM n q, n c
  WHERE q.vec_id < {N_QUERIES} AND q.vec_id <> c.vec_id),
ranked AS (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored)
SELECT query_id, neighbor_id, rank,
       CAST(floor(cos * 1000000.0) AS BIGINT) AS cosine_micros
FROM ranked WHERE rank <= {TOP_K} ORDER BY query_id, rank
"""


def lsh_code(v_col: str):
    """8-bit sign code over the first 8 dims (axis-aligned hyperplanes)."""
    code = None
    for j in range(LSH_BITS):
        bit = F.when(F.element_at(F.col(v_col), j + 1) > 0, F.lit(2**j)).otherwise(F.lit(0))
        code = bit if code is None else code + bit
    return code.cast("int")


def _lsh_code_sql(v: str) -> str:
    return (
        "("
        + " + ".join(f"(CASE WHEN {v}[{j + 1}] > 0 THEN {2**j} ELSE 0 END)" for j in range(LSH_BITS))
        + ")"
    )


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed top-3: candidates share the query's 8-bit sign code.

    The join key is the bucket code — no cross join; this is the plan shape
    that survives 100 TB (code becomes a partition column, per-bucket joins
    are local).
    """
    emb = _embeddings(spark, sf_dir).withColumn("code", lsh_code("v"))
    q = emb.where(F.col("vec_id") < N_QUERIES).alias("q")
    c = emb.alias("c")
    scored = (
        c.join(F.broadcast(q), F.col("q.code") == F.col("c.code"))
        .where(F.col("q.vec_id") != F.col("c.vec_id"))
        .select(
            F.col("q.vec_id").alias("query_id"),
            F.col("c.vec_id").alias("neighbor_id"),
            _cosine("q", "c").alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select(
            "query_id",
            "neighbor_id",
            "rank",
            F.floor(F.col("cos") * 1000000.0).cast("bigint").alias("cosine_micros"),
        )
        .orderBy("query_id", "rank")
    )


ANN_LSH_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
n AS (SELECT vec_id, v, {norm_sql('v')} AS nrm, {_lsh_code_sql('v')} AS code FROM e),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         ({dot_sql('q.v', 'c.v')}) / (q.nrm * c.nrm) AS cos
  FROM n q JOIN n c USING (code)
  WHERE q.vec_id < {N_QUERIES} AND q.vec_id <> c.vec_id),
ranked AS (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored)
SELECT query_id, neighbor_id, rank,
       CAST(floor(cos * 1000000.0) AS BIGINT) AS cosine_micros
FROM ranked WHERE rank <= 3 ORDER BY query_id, rank
"""


NPROBE = 2  # IVF cells probed per query
IVF_TOP_K = 3


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: coarse quantizer cells + nprobe search.

    The inverted-file structure without a float-ambiguous k-means step:
    - **cell seeds** = the embedding with the min vec_id per label
      (deterministic medoid stand-in for trained centroids);
    - **build**: every vector is assigned to its nearest seed by cosine
      (broadcast the 10 seeds, row_number over (cos desc, cell)) — at 100 TB
      this assignment is a map-only pass and `cell` becomes the partition
      column of the index table;
    - **probe**: each query scores only vectors in its NPROBE nearest cells —
      the candidate join is keyed on `cell`, so a query touches
      nprobe/n_cells of the corpus instead of all of it.

    Exact-cosine re-rank inside the probed cells, top-3 per query.
    """
    emb = _embeddings(spark, sf_dir)
    seed_ids = emb.groupBy("label").agg(F.min("vec_id").alias("vec_id"))
    seeds = emb.join(F.broadcast(seed_ids), ["label", "vec_id"]).select(
        F.col("label").alias("cell"),
        F.col("v").alias("sv"),
        F.col("norm").alias("snorm"),
    )
    seed_cos = F.aggregate(
        F.zip_with(F.col("v"), F.col("sv"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    ) / (F.col("norm") * F.col("snorm"))
    cell_scores = emb.crossJoin(F.broadcast(seeds)).select(
        "vec_id", "v", "norm", "cell", seed_cos.alias("seed_cos")
    )
    w_assign = Window.partitionBy("vec_id").orderBy(F.desc("seed_cos"), "cell")
    ranked_cells = cell_scores.withColumn("cell_rank", F.row_number().over(w_assign))
    index = ranked_cells.where(F.col("cell_rank") == 1).select(
        F.col("vec_id").alias("cand_id"),
        F.col("v").alias("cv"),
        F.col("norm").alias("cnorm"),
        "cell",
    )
    probes = (
        ranked_cells.where(
            (F.col("vec_id") < N_QUERIES) & (F.col("cell_rank") <= NPROBE)
        )
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("norm").alias("qnorm"),
            "cell",
        )
    )
    cand_cos = F.aggregate(
        F.zip_with(F.col("qv"), F.col("cv"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    ) / (F.col("qnorm") * F.col("cnorm"))
    scored = (
        index.join(F.broadcast(probes), "cell")
        .where(F.col("query_id") != F.col("cand_id"))
        .select("query_id", F.col("cand_id").alias("neighbor_id"), cand_cos.alias("cos"))
    )
    w_rank = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w_rank))
        .where(F.col("rank") <= IVF_TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            "rank",
            F.floor(F.col("cos") * 1000000.0).cast("bigint").alias("cosine_micros"),
        )
        .orderBy("query_id", "rank")
    )


ANN_IVF_SQL = f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
n AS (SELECT vec_id, label, v, {norm_sql('v')} AS nrm FROM e),
seed_ids AS (SELECT label, min(vec_id) AS vec_id FROM embeddings GROUP BY label),
seeds AS (
  SELECT n.label AS cell, n.v AS sv, n.nrm AS snrm
  FROM n JOIN seed_ids ON n.label = seed_ids.label AND n.vec_id = seed_ids.vec_id),
cell_scores AS (
  SELECT n.vec_id, n.v, n.nrm, seeds.cell,
         ({dot_sql('n.v', 'seeds.sv')}) / (n.nrm * seeds.snrm) AS seed_cos
  FROM n CROSS JOIN seeds),
ranked_cells AS (
  SELECT vec_id, v, nrm, cell,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY seed_cos DESC, cell) AS cell_rank
  FROM cell_scores),
idx AS (
  SELECT vec_id AS cand_id, v AS cv, nrm AS cnrm, cell
  FROM ranked_cells WHERE cell_rank = 1),
probes AS (
  SELECT vec_id AS query_id, v AS qv, nrm AS qnrm, cell
  FROM ranked_cells WHERE vec_id < {N_QUERIES} AND cell_rank <= {NPROBE}),
scored AS (
  SELECT query_id, cand_id AS neighbor_id,
         ({dot_sql('qv', 'cv')}) / (qnrm * cnrm) AS cos
  FROM idx JOIN probes USING (cell)
  WHERE query_id <> cand_id),
ranked AS (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored)
SELECT query_id, neighbor_id, rank,
       CAST(floor(cos * 1000000.0) AS BIGINT) AS cosine_micros
FROM ranked WHERE rank <= {IVF_TOP_K} ORDER BY query_id, rank
"""


def q_ann_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe over a TRAINED coarse quantizer: the index-build pipeline
    end-to-end (train -> assign -> probe) as one oracled query.

    ``q_ann_ivf`` stands in deterministic medoids for its cells; this
    variant plugs in the centroids from three fixed-point Lloyd
    iterations (ops/training.kmeans_loop — the full training chain is
    part of this query's oracle, so the ENTIRE pipeline is value-hash
    gated). Cell assignment is integer squared-L2 against the broadcast
    K*D centroid table; queries probe their NPROBE nearest trained cells;
    exact double-precision cosine re-ranks within the probed cells.

    At 100 TB: training runs on a sample, the centroid table broadcasts,
    assignment is a map-side pass, and `cell` becomes the partition
    column of the index — a query touches nprobe/K of the corpus.
    """
    from .training import KMEANS_ITERS, kmeans_loop

    pts, _members, cent = kmeans_loop(spark, sf_dir, KMEANS_ITERS)
    diff = F.col("val") - F.col("c")
    d = (
        pts.join(F.broadcast(cent), "dim")
        .groupBy("vec_id", "cell")
        .agg(F.sum(diff * diff).alias("d2"))
    )
    w_assign = Window.partitionBy("vec_id").orderBy("d2", "cell")
    ranked_cells = d.withColumn("cell_rank", F.row_number().over(w_assign))
    emb = _embeddings(spark, sf_dir)
    idx = (
        ranked_cells.where(F.col("cell_rank") == 1)
        .join(emb, "vec_id")
        .select(
            F.col("vec_id").alias("cand_id"),
            F.col("v").alias("cv"),
            F.col("norm").alias("cnorm"),
            "cell",
        )
    )
    probes = (
        ranked_cells.where(
            (F.col("vec_id") < N_QUERIES) & (F.col("cell_rank") <= NPROBE)
        )
        .join(emb, "vec_id")
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("norm").alias("qnorm"),
            "cell",
        )
    )
    cand_cos = F.aggregate(
        F.zip_with(F.col("qv"), F.col("cv"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    ) / (F.col("qnorm") * F.col("cnorm"))
    scored = (
        idx.join(F.broadcast(probes), "cell")
        .where(F.col("query_id") != F.col("cand_id"))
        .select("query_id", F.col("cand_id").alias("neighbor_id"), cand_cos.alias("cos"))
    )
    w_rank = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w_rank))
        .where(F.col("rank") <= IVF_TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            "rank",
            F.floor(F.col("cos") * 1000000.0).cast("bigint").alias("cosine_micros"),
        )
        .orderBy("query_id", "rank")
    )


def _ann_ivf_trained_sql() -> str:
    from .training import KMEANS_ITERS, kmeans_ctes

    n = KMEANS_ITERS
    return (
        "WITH "
        + ",\n".join(kmeans_ctes(n))
        + f""",
ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
nv AS (SELECT vec_id, v, {norm_sql('v')} AS nrm FROM ev),
dT AS (
  SELECT p.vec_id, c.cell,
         CAST(sum((p.val - c.c) * (p.val - c.c)) AS BIGINT) AS d2
  FROM pts p JOIN cent{n} c USING (dim) GROUP BY p.vec_id, c.cell),
rankedT AS (
  SELECT vec_id, cell,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS cell_rank
  FROM dT),
idx AS (
  SELECT r.vec_id AS cand_id, nv.v AS cv, nv.nrm AS cnrm, r.cell
  FROM rankedT r JOIN nv ON nv.vec_id = r.vec_id WHERE r.cell_rank = 1),
probes AS (
  SELECT r.vec_id AS query_id, nv.v AS qv, nv.nrm AS qnrm, r.cell
  FROM rankedT r JOIN nv ON nv.vec_id = r.vec_id
  WHERE r.vec_id < {N_QUERIES} AND r.cell_rank <= {NPROBE}),
scored AS (
  SELECT query_id, cand_id AS neighbor_id,
         ({dot_sql('qv', 'cv')}) / (qnrm * cnrm) AS cos
  FROM idx JOIN probes USING (cell)
  WHERE query_id <> cand_id),
ranked AS (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored)
SELECT query_id, neighbor_id, rank,
       CAST(floor(cos * 1000000.0) AS BIGINT) AS cosine_micros
FROM ranked WHERE rank <= {IVF_TOP_K} ORDER BY query_id, rank
"""
    )


# --- cluster-balanced corpus sampling ----------------------------------------

# keep at most n_docs/20 docs per embedding cluster — half the fair share of
# the 10 trained cells, so over-represented semantic regions get truncated
# and small ones survive whole
CLUSTER_CAP_DIV = 20


def q_cluster_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cluster-balanced corpus sampling (the SemDeDup/DoReMi-era
    diversity step): assign every document to its trained k-means cell (3
    fixed-point Lloyd iterations, the same chain as ``ann_ivf_trained``,
    linked docs<->embeddings by id as in ``hybrid_search``), then cap each
    cell at n/20 documents in deterministic hash order — truncating
    over-represented semantic clusters instead of over-represented DOMAINS
    (``source_cap``'s axis). Hash-order selection makes the kept set a
    uniform sample WITHIN each cluster, and the whole chain (training,
    assignment, capping) is value-hash oracled.

    Scale shape: per-cell ranking is one window partitioned by cell; K is
    small so at 100 TB the two-phase top-k-per-key defusal applies (the
    source_cap docstring), or — since the order key is a uniform hash —
    the exact rank collapses to a per-cell hash THRESHOLD (keep h <
    cap/cell_count quantile), turning the cap into a map-only filter
    against broadcast per-cell counts. The one-row total broadcasts.
    """
    from .portable import h64
    from .training import KMEANS_ITERS, kmeans_loop

    _pts, members, _cent = kmeans_loop(spark, sf_dir, KMEANS_ITERS)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    linked = docs.select("doc_id").join(
        members.select(F.col("vec_id").alias("doc_id"), "cell"), "doc_id"
    )
    total = linked.agg(F.count("*").alias("n_total"))
    w = Window.partitionBy("cell").orderBy(
        h64(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        linked.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .crossJoin(F.broadcast(total))
        .where(F.col("rank") <= F.expr(f"n_total DIV {CLUSTER_CAP_DIV}"))
        .select("doc_id", "cell", "rank")
        .orderBy("cell", "rank")
    )


def _cluster_balance_sql() -> str:
    from .portable import h64_sql
    from .training import KMEANS_ITERS, kmeans_ctes

    n = KMEANS_ITERS
    return (
        "WITH "
        + ",\n".join(kmeans_ctes(n))
        + f""",
linked AS (
  SELECT d.doc_id, m.cell FROM documents d JOIN m{n - 1} m ON m.vec_id = d.doc_id),
tot AS (SELECT count(*) AS n_total FROM linked),
ranked AS (
  SELECT doc_id, cell,
         CAST(row_number() OVER (
           PARTITION BY cell
           ORDER BY {h64_sql("CAST(doc_id AS VARCHAR)")}, doc_id) AS BIGINT) AS rank
  FROM linked)
SELECT r.doc_id, r.cell, r.rank
FROM ranked r, tot t WHERE r.rank <= t.n_total // {CLUSTER_CAP_DIV}
ORDER BY r.cell, r.rank
"""
    )


def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization of the embedding column (per-vector absmax
    scaling) plus the reconstruction error — the storage-compression stage
    an embedding pipeline runs before writing vectors at corpus scale (4x
    smaller than float32, 8x than float64).

    Map-only: amax fold, quantize transform, and the error fold are all
    per-row JVM expressions — zero shuffles beyond the deterministic output
    sort. Cross-engine exactness: q_i = floor((x/amax)*127) (floor, never
    round — engines disagree at .5), folds left-associated, outputs as
    floor-micros and the full comma-joined int8 vector so EVERY element is
    value-hash gated.
    """
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    amax = F.aggregate(v, F.lit(0.0), lambda a, x: F.greatest(a, F.abs(x)))
    d = emb.select("vec_id", v.alias("v"), amax.alias("amax"))
    safe = F.when(F.col("amax") == 0.0, F.lit(1.0)).otherwise(F.col("amax"))
    q = F.transform(F.col("v"), lambda x: F.floor((x / safe) * 127).cast("int"))
    d = d.select("vec_id", "v", "amax", q.alias("q"))
    err = F.aggregate(
        F.zip_with(
            "v",
            "q",
            lambda x, qi: (x - (qi.cast("double") * F.col("amax")) / 127)
            * (x - (qi.cast("double") * F.col("amax")) / 127),
        ),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    return d.select(
        "vec_id",
        F.floor(F.col("amax") * 1e6).cast("bigint").alias("amax_micros"),
        F.array_join(F.transform("q", lambda x: x.cast("string")), ",").alias("q_vec"),
        F.floor(err * 1e9).cast("bigint").alias("sq_err_nanos"),
    ).orderBy("vec_id")


def _embed_quantize_sql() -> str:
    amax = "greatest(" + ", ".join(f"abs(v[{i}])" for i in range(1, DIM + 1)) + ")"
    q_i = lambda i: f"CAST(floor((v[{i}] / s) * 127) AS INT)"
    q_list = "[" + ", ".join(q_i(i) for i in range(1, DIM + 1)) + "]"
    err = " + ".join(
        f"((v[{i}] - (CAST(q[{i}] AS DOUBLE) * amax) / 127) "
        f"* (v[{i}] - (CAST(q[{i}] AS DOUBLE) * amax) / 127))"
        for i in range(1, DIM + 1)
    )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
a AS (SELECT vec_id, v, {amax} AS amax,
             CASE WHEN {amax} = 0 THEN 1.0 ELSE {amax} END AS s
      FROM e),
qd AS (SELECT vec_id, v, amax, {q_list} AS q FROM a)
SELECT vec_id,
       CAST(floor(amax * 1000000.0) AS BIGINT) AS amax_micros,
       array_to_string(list_transform(q, x -> CAST(x AS VARCHAR)), ',') AS q_vec,
       CAST(floor(({err}) * 1000000000.0) AS BIGINT) AS sq_err_nanos
FROM qd ORDER BY vec_id
"""


# --- hybrid retrieval: reciprocal-rank fusion ------------------------------

RRF_K = 60  # the standard RRF damping constant
HYBRID_CAND_K = 20  # per-modality candidate depth
HYBRID_TOPK = 10
HYBRID_QUERY_VEC = 0  # the embedding query; doc linkage is vec_id == doc_id


def q_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+dense retrieval: BM25 ranks and embedding-cosine
    ranks fused by reciprocal-rank fusion,
    ``score = Σ 1/(60 + rank)`` in exact integer micros
    (``1_000_000 DIV (60 + rank)`` — rank is a small int, so both engines
    agree bit-for-bit; no floats anywhere in the fusion).

    Scale shape: each modality independently reduces to a top-k candidate
    list (BM25 via the bm25_search plan, cosine via a per-query window) —
    the fusion join touches 2k rows total regardless of corpus size, so it
    is driver-trivial at 100 TB; the expensive parts inherit the audited
    plans of their base operators. Linkage is vec_id == doc_id (the
    embeddings table is the documents' embedding column, as in
    semantic_dedup)."""
    from .textstats import q_bm25_search

    text = q_bm25_search(spark, sf_dir).select(
        F.col("doc_id").alias("id"),
        F.row_number()
        .over(Window.orderBy(F.desc("score_micros"), "doc_id"))
        .alias("text_rank"),
    )
    emb = _embeddings(spark, sf_dir)
    q = emb.where(F.col("vec_id") == HYBRID_QUERY_VEC).alias("q")
    c = emb.where(F.col("vec_id") != HYBRID_QUERY_VEC).alias("c")
    # top-k FIRST (TakeOrderedAndProject: k rows per partition, no global
    # sort), THEN the rank window over the k survivors — a global
    # row_number over all candidates would serialize the corpus through
    # one task
    vec_top = (
        c.crossJoin(F.broadcast(q))
        .select(F.col("c.vec_id").alias("id"), _cosine("q", "c").alias("cos"))
        .orderBy(F.desc("cos"), "id")
        .limit(HYBRID_CAND_K)
    )
    vec = vec_top.select(
        "id",
        F.row_number().over(Window.orderBy(F.desc("cos"), "id")).alias("vec_rank"),
    )
    fused = (
        text.join(vec, "id", "full_outer")
        .select(
            "id",
            "text_rank",
            F.col("vec_rank").cast("int").alias("vec_rank"),
            (
                F.coalesce(
                    F.expr(f"1000000 DIV ({RRF_K} + text_rank)"), F.lit(0)
                )
                + F.coalesce(
                    F.expr(f"1000000 DIV ({RRF_K} + vec_rank)"), F.lit(0)
                )
            ).alias("rrf_micros"),
        )
    )
    return fused.orderBy(F.desc("rrf_micros"), "id").limit(HYBRID_TOPK)


def _hybrid_search_sql() -> str:
    from .textstats import BM25_SEARCH_SQL

    return f"""
WITH text_ranks AS (
  SELECT doc_id AS id,
         CAST(row_number() OVER (ORDER BY score_micros DESC, doc_id) AS INT)
           AS text_rank
  FROM ({BM25_SEARCH_SQL})),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
n AS (SELECT vec_id, v, {norm_sql('v')} AS nrm FROM e),
vec_scored AS (
  SELECT c.vec_id AS id,
         ({dot_sql('q.v', 'c.v')}) / (q.nrm * c.nrm) AS cos
  FROM n c CROSS JOIN (SELECT * FROM n WHERE vec_id = {HYBRID_QUERY_VEC}) q
  WHERE c.vec_id != {HYBRID_QUERY_VEC}),
vec_ranks AS (
  SELECT id, vec_rank FROM (
    SELECT id, CAST(row_number() OVER (ORDER BY cos DESC, id) AS INT)
             AS vec_rank
    FROM vec_scored)
  WHERE vec_rank <= {HYBRID_CAND_K})
SELECT coalesce(t.id, v.id) AS id,
       t.text_rank AS text_rank,
       v.vec_rank AS vec_rank,
       CAST(coalesce(1000000 // ({RRF_K} + t.text_rank), 0)
            + coalesce(1000000 // ({RRF_K} + v.vec_rank), 0) AS BIGINT)
         AS rrf_micros
FROM text_ranks t FULL OUTER JOIN vec_ranks v ON t.id = v.id
ORDER BY rrf_micros DESC, id LIMIT {HYBRID_TOPK}
"""


# --- product quantization (PQ) ANN ------------------------------------------

# DIM=64 split into PQ_M=16 subspaces of 4 dims; PQ_K=16 codewords per
# subspace (toy-scale stand-ins for the production 256-codeword byte codes).
# Codes compress a vector to PQ_M small ints — 16x smaller than float32 —
# which is what makes a 10^12-vector index FIT anywhere at all. Capacity on
# the near-random synthetic embeddings (PQ's worst case — no cluster
# structure for codewords to exploit; cf. the ann_lsh recall note), measured
# recall@5 vs exact L2: (M=8,K=4) 0.08, (M=8,K=16) 0.20, (M=16,K=16) 0.38,
# (M=32,K=16) 0.48 — the monotone capacity curve PQ theory predicts (bound
# pinned in tests/test_ops.py). M/K set the accuracy/memory point, never the
# plan shape.
PQ_M = 16
PQ_SUBDIM = DIM // PQ_M
PQ_K = 16
PQ_ITERS = 2
PQ_TOP_K = 5


def _pq_train(spark: SparkSession, sf_dir: str, base_pts: DataFrame | None = None):
    """Train the PQ codebook and encode the corpus; returns (pts, codes,
    cent) — the staged long-form micros points table (vec_id, dim, sub,
    val), the code table (vec_id, sub, cell), and the final codebook
    (dim, cell, c). Shared by ``ann_pq`` and ``ann_ivfpq``.

    ``base_pts``: an ALREADY-STAGED (vec_id, dim, val) micros table to
    reuse (ivfpq passes kmeans_loop's pts — identical floor(x*1e6)
    arithmetic by construction); the ``sub`` column is a narrow projection
    on top of the shared InMemoryRelation, so the composed index trains
    both quantizers off ONE scan and ONE cached copy of the largest
    intermediate instead of two (review finding)."""
    from .dedup import _persisted
    from .training import _floordiv

    if base_pts is not None:
        pts = base_pts.withColumn("sub", F.expr(f"dim DIV {PQ_SUBDIM}"))
    else:
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        vm = F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * 1000000.0).cast("bigint"),
        )
        e = emb.select("vec_id", vm.alias("vm"))
        # staged: feeds every iteration's assignment + update, the encode
        # pass, and the query LUT (no cross-branch CSE; CLAUDE.md)
        pts = _persisted(
            e.select("vec_id", F.posexplode("vm").alias("dim", "val")).withColumn(
                "sub", F.expr(f"dim DIV {PQ_SUBDIM}")
            )
        )
    # seeds: the first PQ_K vectors' subvectors (cell id = seed vec_id)
    cent = pts.where(F.col("vec_id") < PQ_K).select(
        "dim", F.col("vec_id").alias("cell"), F.col("val").alias("c")
    )
    diff = F.col("val") - F.col("c")
    w = Window.partitionBy("vec_id", "sub").orderBy("d2", "cell")
    codes = None
    for _ in range(PQ_ITERS):
        d = (
            pts.join(F.broadcast(cent), "dim")
            .groupBy("vec_id", "sub", "cell")
            .agg(F.sum(diff * diff).alias("d2"))
        )
        codes = _persisted(
            d.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") == 1)
            .select("vec_id", "sub", "cell")
        )
        cent = _persisted(
            codes.join(pts, ["vec_id", "sub"])
            .groupBy("dim", "cell")
            .agg(F.expr(_floordiv("sum(val)", "count(*)")).alias("c"))
        )
    return pts, codes, cent


def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN, the billion-scale memory path (IVF-PQ's
    PQ half), end-to-end in ONE oracled chain: per-subspace codebook
    training (2 fixed-point Lloyd iterations over each 8-dim subvector,
    all PQ_M subspaces trained in the SAME relational plan keyed by
    ``sub``) -> encoding (argmin codeword per subspace: the vector becomes
    PQ_M ints) -> asymmetric-distance (ADC) search (per-query lookup table
    of query-subvector-to-codeword distances; a candidate's approximate
    distance is the sum of PQ_M table entries selected by its code).

    Everything is integer micros (same fixed-point contract as
    ops/training.kmeans_loop: associative sums -> bit-reproducible across
    partitionings, engines, retries), so the WHOLE train->encode->search
    chain is value-hash gated against the DuckDB CTE chain.

    Scale shape: the codebook (PQ_M*PQ_K*PQ_SUBDIM rows) and each query's
    LUT (PQ_M*PQ_K entries) broadcast; training/encoding are broadcast-join
    + partial-agg passes over the staged long-form points table (one raw
    scan, pinned); the search pass streams the CODES table (never the raw
    vectors) through one (query,cand)-keyed partial agg. At 10^12 vectors
    the codes table is the only full-corpus input — raw embeddings are
    touched once, at encode time.
    """
    pts, codes, cent = _pq_train(spark, sf_dir)
    diff = F.col("val") - F.col("c")
    lut = (
        pts.where(F.col("vec_id") < N_QUERIES)
        .join(F.broadcast(cent), "dim")
        .groupBy(F.col("vec_id").alias("query_id"), "sub", "cell")
        .agg(F.sum(diff * diff).alias("d2"))
    )
    scored = (
        codes.join(F.broadcast(lut), ["sub", "cell"])
        .where(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("d2").alias("adc_d2"))
    )
    w_rank = Window.partitionBy("query_id").orderBy("adc_d2", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w_rank))
        .where(F.col("rank") <= PQ_TOP_K)
        .select("query_id", "neighbor_id", "rank", "adc_d2")
        .orderBy("query_id", "rank")
    )


def _pq_ctes(p: str = "") -> tuple[list[str], str, str]:
    """The PQ train+encode CTE chain with every name prefixed by ``p`` (so
    it composes with kmeans_ctes in the ivfpq oracle without collisions);
    returns (ctes, final_codes_cte, final_codebook_cte)."""
    from .training import _floordiv_duck

    ctes = [
        f"""{p}e AS (
  SELECT vec_id, list_transform(embedding::DOUBLE[],
                                x -> CAST(floor(x * 1000000.0) AS BIGINT)) AS vm
  FROM embeddings)""",
        f"""{p}pts AS (
  SELECT vec_id, generate_subscripts(vm, 1) - 1 AS dim,
         (generate_subscripts(vm, 1) - 1) // {PQ_SUBDIM} AS sub, unnest(vm) AS val
  FROM {p}e)""",
        f"""{p}cent0 AS (
  SELECT dim, vec_id AS cell, val AS c FROM {p}pts WHERE vec_id < {PQ_K})""",
    ]
    for i in range(PQ_ITERS):
        ctes.append(
            f"""{p}d{i} AS (
  SELECT p.vec_id, p.sub, c.cell,
         CAST(sum((p.val - c.c) * (p.val - c.c)) AS BIGINT) AS d2
  FROM {p}pts p JOIN {p}cent{i} c ON p.dim = c.dim GROUP BY p.vec_id, p.sub, c.cell)"""
        )
        ctes.append(
            f"""{p}m{i} AS (
  SELECT vec_id, sub, cell FROM (
    SELECT vec_id, sub, cell,
           row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, cell) AS rk
    FROM {p}d{i}) WHERE rk = 1)"""
        )
        ctes.append(
            f"""{p}cent{i + 1} AS (
  SELECT p.dim, m.cell,
         {_floordiv_duck("CAST(sum(p.val) AS BIGINT)", "count(*)")} AS c
  FROM {p}m{i} m JOIN {p}pts p ON p.vec_id = m.vec_id AND p.sub = m.sub
  GROUP BY p.dim, m.cell)"""
        )
    return ctes, f"{p}m{PQ_ITERS - 1}", f"{p}cent{PQ_ITERS}"


def _ann_pq_sql() -> str:
    ctes, last_m, last_c = _pq_ctes()
    return (
        "WITH "
        + ",\n".join(ctes)
        + f""",
lut AS (
  SELECT p.vec_id AS query_id, p.sub, c.cell,
         CAST(sum((p.val - c.c) * (p.val - c.c)) AS BIGINT) AS d2
  FROM pts p JOIN {last_c} c ON p.dim = c.dim
  WHERE p.vec_id < {N_QUERIES} GROUP BY p.vec_id, p.sub, c.cell),
scored AS (
  SELECT l.query_id, m.vec_id AS neighbor_id, CAST(sum(l.d2) AS BIGINT) AS adc_d2
  FROM {last_m} m JOIN lut l ON m.sub = l.sub AND m.cell = l.cell
  WHERE m.vec_id <> l.query_id GROUP BY l.query_id, m.vec_id),
ranked AS (
  SELECT query_id, neighbor_id, adc_d2,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adc_d2, neighbor_id) AS rank
  FROM scored)
SELECT query_id, neighbor_id, rank, adc_d2
FROM ranked WHERE rank <= {PQ_TOP_K} ORDER BY query_id, rank
"""
    )


def q_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the composed billion-scale index, end-to-end as ONE oracled
    chain: the trained coarse quantizer (3 fixed-point Lloyd iterations,
    ops/training.kmeans_loop — same as ``ann_ivf_trained``) routes each
    query to its NPROBE nearest coarse cells; within the probed cells,
    candidates are ranked by PQ asymmetric distance over their 16-int codes
    (``_pq_train`` — same codebook as ``ann_pq``). Raw vectors appear only
    at train/encode time; the SEARCH path touches the codes-with-coarse-cell
    index table and two broadcast tables (probes, LUT).

    Scale shape: at 10^12 vectors the index materializes once as
    (coarse_cell, vec_id, code) partitioned by coarse_cell — here that
    one-time co-partition is the codes⨝assignment join — and a query then
    streams nprobe/K of the CODES (16 ints/vector, not 64 floats) through a
    broadcast-LUT partial agg. This is the FAISS IVFADC layout expressed
    relationally.
    """
    from .training import KMEANS_ITERS, kmeans_loop

    k_pts, members, k_cent = kmeans_loop(spark, sf_dir, KMEANS_ITERS)
    pq_pts, codes, pq_cent = _pq_train(spark, sf_dir, base_pts=k_pts)
    # query -> NPROBE nearest trained coarse cells
    diff = F.col("val") - F.col("c")
    qd = (
        k_pts.where(F.col("vec_id") < N_QUERIES)
        .join(F.broadcast(k_cent), "dim")
        .groupBy("vec_id", "cell")
        .agg(F.sum(diff * diff).alias("d2"))
    )
    w_probe = Window.partitionBy("vec_id").orderBy("d2", "cell")
    probes = (
        qd.withColumn("rk", F.row_number().over(w_probe))
        .where(F.col("rk") <= NPROBE)
        .select(F.col("vec_id").alias("query_id"), F.col("cell").alias("coarse"))
    )
    # the index: codes co-located with their coarse cell (the one-time write)
    idx = codes.join(
        members.select("vec_id", F.col("cell").alias("coarse")), "vec_id"
    )
    # per-query subspace-distance lookup table against the PQ codebook
    lut = (
        pq_pts.where(F.col("vec_id") < N_QUERIES)
        .join(F.broadcast(pq_cent), "dim")
        .groupBy(F.col("vec_id").alias("query_id"), "sub", "cell")
        .agg(F.sum(diff * diff).alias("d2"))
    )
    scored = (
        idx.join(F.broadcast(probes), "coarse")
        .where(F.col("vec_id") != F.col("query_id"))
        .join(F.broadcast(lut), ["query_id", "sub", "cell"])
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("d2").alias("adc_d2"))
    )
    w_rank = Window.partitionBy("query_id").orderBy("adc_d2", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w_rank))
        .where(F.col("rank") <= PQ_TOP_K)
        .select("query_id", "neighbor_id", "rank", "adc_d2")
        .orderBy("query_id", "rank")
    )


def _ann_ivfpq_sql() -> str:
    from .training import KMEANS_ITERS, kmeans_ctes

    n = KMEANS_ITERS
    pq, pq_m, pq_c = _pq_ctes("pq_")
    return (
        "WITH "
        + ",\n".join(kmeans_ctes(n) + pq)
        + f""",
qd AS (
  SELECT p.vec_id, c.cell,
         CAST(sum((p.val - c.c) * (p.val - c.c)) AS BIGINT) AS d2
  FROM pts p JOIN cent{n} c USING (dim)
  WHERE p.vec_id < {N_QUERIES} GROUP BY p.vec_id, c.cell),
probes AS (
  SELECT vec_id AS query_id, cell AS coarse FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rk
    FROM qd) WHERE rk <= {NPROBE}),
idx AS (
  SELECT k.vec_id, k.sub, k.cell, m.cell AS coarse
  FROM {pq_m} k JOIN m{n - 1} m USING (vec_id)),
lut AS (
  SELECT p.vec_id AS query_id, p.sub, c.cell,
         CAST(sum((p.val - c.c) * (p.val - c.c)) AS BIGINT) AS d2
  FROM pq_pts p JOIN {pq_c} c ON p.dim = c.dim
  WHERE p.vec_id < {N_QUERIES} GROUP BY p.vec_id, p.sub, c.cell),
scored AS (
  SELECT l.query_id, i.vec_id AS neighbor_id, CAST(sum(l.d2) AS BIGINT) AS adc_d2
  FROM idx i
  JOIN probes pr ON i.coarse = pr.coarse
  JOIN lut l ON l.query_id = pr.query_id AND l.sub = i.sub AND l.cell = i.cell
  WHERE i.vec_id <> pr.query_id GROUP BY l.query_id, i.vec_id),
ranked AS (
  SELECT query_id, neighbor_id, adc_d2,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adc_d2, neighbor_id) AS rank
  FROM scored)
SELECT query_id, neighbor_id, rank, adc_d2
FROM ranked WHERE rank <= {PQ_TOP_K} ORDER BY query_id, rank
"""
    )


QUERIES: dict[str, tuple] = {
    "ann_pq": (q_ann_pq, _ann_pq_sql),
    "ann_ivfpq": (q_ann_ivfpq, _ann_ivfpq_sql),
    "cluster_balance": (q_cluster_balance, _cluster_balance_sql),
    "hybrid_search": (q_hybrid_search, _hybrid_search_sql),
    "ann_bruteforce": (q_ann_bruteforce, ANN_BRUTEFORCE_SQL),
    "ann_lsh": (q_ann_lsh, ANN_LSH_SQL),
    "ann_ivf": (q_ann_ivf, ANN_IVF_SQL),
    "ann_ivf_trained": (q_ann_ivf_trained, _ann_ivf_trained_sql),
    "embed_quantize": (q_embed_quantize, _embed_quantize_sql()),
}
