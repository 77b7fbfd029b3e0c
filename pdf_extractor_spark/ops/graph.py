"""Iterative graph centrality — PageRank over the co-purchase graph.

The third iterative-algorithm family in the engine (connected components
in ops/dedup.py, Lloyd's k-means in ops/training.py): damped PageRank over
the undirected customer↔supplier co-purchase graph derived from
orders⨝lineitem. A curation pipeline uses exactly this shape for domain /
host authority over a hyperlink graph (the classic quality prior for
web-scale corpora); the TPC-H tables stand in for the link table so the
loop is oracle-able on the driver's fixed testdata.

Cross-engine exactness (CLAUDE.md rules): ranks are integer
parts-per-billion. The teleport term is ``150 * (10^9 DIV N)`` and the
damped term ``850 * contrib DIV 1000`` — all BIGINT, and every per-edge
share is ``rank DIV degree`` (floor), so integer-sum associativity makes
the result bit-reproducible across partitionings, engines, and retries.
Mass lost to flooring is deterministic on both sides (PageRank consumers
rank by the score; absolute normalization is irrelevant).

Scale shape per iteration: ONE shuffle of per-edge shares on ``dst``
(map-side-combined sum). The rank table is |V| rows vs |E| edges — at toy
scale Spark broadcasts it onto the edge table; on a 10^11-edge web graph
neither side broadcasts, so the edge table is bucketed/pre-partitioned on
``src`` ONCE (it is loop-invariant — exactly the persisted `edges` here)
and every iteration's ranks⨝edges join co-locates on that partitioning,
leaving the dst-sum as the only data movement. Thousands of iterations
would checkpoint ranks per iteration like the CC label loop
(ops/dedup.py); the 3-iteration unroll here keeps the whole chain in one
declarative plan with per-iteration persists.

Reference parity: the reference has no graph op (SURVEY.md §2.4 "beyond
reference" family, like dedup CC); this is the authority-score sibling of
the dedup cluster loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .dedup import _persisted

PR_ITERS = 3
PR_TOPK = 20
# damping 0.85 as the exact rational 850/1000 (no float crosses engines)
PR_DAMP_MILLI = 850
PR_ONE_PPB = 1_000_000_000


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 vertices by 3-iteration damped PageRank, integer ppb.

    Vertices are 'c<custkey>' / 's<suppkey>'; an undirected edge links a
    customer to every supplier it ordered from (distinct pairs — the
    co-purchase multigraph collapses before any iteration touches it).
    Degrees and the vertex count N are loop invariants computed once from
    the persisted edge table; each iteration joins the previous ranks to
    the edges on src, floors rank/degree per edge, and sums shares into
    dst — one exchange per iteration.
    """
    orders = _read(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _read(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    # vertex ids stay BIGINT through the loop (2k = customer, 2k+1 =
    # supplier): every join/shuffle keys on an 8-byte int, not a varchar —
    # at web scale you dictionary-encode vertex ids for the same reason.
    # The readable 'c<k>'/'s<k>' form is decoded on the 20-row output only.
    pairs = _persisted(
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .distinct()
    )
    edges = _persisted(
        pairs.select(F.col("c").alias("src"), F.col("s").alias("dst"))
        .unionByName(pairs.select(F.col("s").alias("src"), F.col("c").alias("dst")))
    )
    # symmetric graph: out-degree == in-degree == degree, every vertex
    # appears as a src, so `deg` doubles as the vertex table
    deg = _persisted(edges.groupBy("src").agg(F.count("*").alias("degree")))
    nv = deg.agg(F.count("*").alias("nv"))
    ranks = deg.crossJoin(F.broadcast(nv)).select(
        F.col("src").alias("vertex"),
        "degree",
        F.expr(f"{PR_ONE_PPB}L DIV nv").alias("r"),
    )
    # NOTE: ranks is consumed exactly ONCE per iteration (a linear chain),
    # so unlike the staged edges/deg loop invariants it is NOT persisted —
    # a cache there would cost a materialization and buy zero reuse.
    for _i in range(PR_ITERS):
        ctb = (
            edges.join(ranks, edges.src == ranks.vertex)
            .select(F.col("dst"), F.expr("r DIV degree").alias("share"))
            .groupBy("dst")
            .agg(F.sum("share").alias("ctb"))
        )
        ranks = (
            deg.crossJoin(F.broadcast(nv))
            .join(ctb, deg.src == ctb.dst, "left")
            .select(
                F.col("src").alias("vertex"),
                "degree",
                F.expr(
                    f"({1000 - PR_DAMP_MILLI} * ({PR_ONE_PPB}L DIV nv)"
                    f" + {PR_DAMP_MILLI} * coalesce(ctb, 0L)) DIV 1000"
                ).alias("r"),
            )
        )
    return (
        ranks.select(
            F.expr(
                "CASE WHEN vertex % 2 = 0"
                " THEN 'c' || CAST(vertex DIV 2 AS STRING)"
                " ELSE 's' || CAST(vertex DIV 2 AS STRING) END"
            ).alias("vertex"),
            "degree",
            F.col("r").alias("rank_ppb"),
        )
        .orderBy(F.desc("rank_ppb"), "vertex")
        .limit(PR_TOPK)
    )


PR_TOL_PPB = 1_000_000  # converged-loop default: max per-vertex step 0.1%
PR_MAX_ITERS = 60


def pagerank_converged(
    edges: DataFrame,
    tol_ppb: int = PR_TOL_PPB,
    max_iters: int = PR_MAX_ITERS,
    damp_milli: int = PR_DAMP_MILLI,
):
    """Residual-thresholded damped PageRank over an edge list
    ``edges(src, dst)`` in which every vertex appears as a src (the
    symmetric-graph shape ``q_pagerank`` builds): iterate until
    ``max |r_k+1 - r_k| <= tol_ppb`` or ``max_iters``.

    Returns ``(ranks, iters, converged, residual)`` — ``ranks(vertex,
    degree, r)`` persisted (caller owns release), ``residual`` the last
    max per-vertex step in ppb. The 3-iteration unroll (``q_pagerank``)
    stays the oracle-able fixed form; this loop is the production shape
    the unroll's docstring promised: per-iteration eager
    ``localCheckpoint`` truncates lineage exactly like the CC star loop
    (an unrolled plan re-references ranks every round and grows without
    bound), and the loop-invariant ``edges``/``deg`` tables are persisted
    ONCE outside the loop — each iteration moves only the dst-keyed
    share sum plus one |V|-row residual aggregate.

    Arithmetic is the same integer-ppb scheme as ``q_pagerank`` (floor
    divisions, BIGINT throughout), so the fixpoint is bit-reproducible
    across engines and retries, and the residual is monotone-decaying at
    rate ~damp (geometric): convergence within
    ``log(r0/tol)/log(1000/damp_milli)`` rounds regardless of graph
    DIAMETER — a chain adversarial for label propagation is no worse
    here (pinned in tests/test_graph.py).
    """
    edges = _persisted(edges.select("src", "dst"))
    deg = _persisted(edges.groupBy("src").agg(F.count("*").alias("degree")))
    nv = deg.agg(F.count("*").alias("nv"))
    ranks = (
        deg.crossJoin(F.broadcast(nv))
        .select(
            F.col("src").alias("vertex"),
            "degree",
            F.expr(f"{PR_ONE_PPB}L DIV nv").alias("r"),
        )
        .localCheckpoint(eager=True)
    )
    iters, converged, residual = 0, False, None
    for _ in range(max_iters):
        ctb = (
            edges.join(ranks, edges.src == ranks.vertex)
            .select(F.col("dst"), F.expr("r DIV degree").alias("share"))
            .groupBy("dst")
            .agg(F.sum("share").alias("ctb"))
        )
        nxt = (
            deg.crossJoin(F.broadcast(nv))
            .join(ctb, deg.src == ctb.dst, "left")
            .select(
                F.col("src").alias("vertex"),
                "degree",
                F.expr(
                    f"({1000 - damp_milli} * ({PR_ONE_PPB}L DIV nv)"
                    f" + {damp_milli} * coalesce(ctb, 0L)) DIV 1000"
                ).alias("r"),
            )
            .localCheckpoint(eager=True)
        )
        iters += 1
        residual = (
            nxt.alias("n")
            .join(ranks.alias("o"), F.col("n.vertex") == F.col("o.vertex"))
            .agg(F.max(F.abs(F.col("n.r") - F.col("o.r"))).alias("res"))
            .collect()[0]["res"]
        )
        ranks.unpersist()  # release the previous round's checkpoint blocks
        ranks = nxt
        if residual <= tol_ppb:
            converged = True
            break
    return ranks, iters, converged, residual


def q_pagerank_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 vertices by CONVERGED damped PageRank over the co-purchase
    graph — the residual-thresholded loop run to its fixpoint instead of
    the fixed 3-iteration unroll. Data-dependent iteration count, so no
    closed-form SQL oracle exists (rows-only driver check); exactness is
    pinned instead by the pure-Python integer rederivation differential
    in tests/test_graph.py (same floor arithmetic, byte-equal ranks)."""
    orders = _read(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _read(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = _persisted(
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .distinct()
    )
    edges = pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionByName(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    ranks, _iters, converged, _res = pagerank_converged(edges)
    if not converged:
        raise RuntimeError(
            f"pagerank did not converge within {PR_MAX_ITERS} iterations"
        )
    return (
        ranks.select(
            F.expr(
                "CASE WHEN vertex % 2 = 0"
                " THEN 'c' || CAST(vertex DIV 2 AS STRING)"
                " ELSE 's' || CAST(vertex DIV 2 AS STRING) END"
            ).alias("vertex"),
            "degree",
            F.col("r").alias("rank_ppb"),
        )
        .orderBy(F.desc("rank_ppb"), "vertex")
        .limit(PR_TOPK)
    )


def _pr_ctes() -> str:
    ctes = [
        """pairs AS (
  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey)""",
        """edges AS (
  SELECT c AS src, s AS dst FROM pairs
  UNION ALL
  SELECT s AS src, c AS dst FROM pairs)""",
        """deg AS (SELECT src, count(*) AS degree FROM edges GROUP BY src)""",
        """n AS (SELECT count(*) AS nv FROM deg)""",
        f"""r0 AS (
  SELECT src AS vertex, degree, {PR_ONE_PPB} // nv AS r
  FROM deg CROSS JOIN n)""",
    ]
    for i in range(PR_ITERS):
        ctes.append(
            f"""c{i} AS (
  SELECT e.dst AS vertex, CAST(sum(r.r // r.degree) AS BIGINT) AS ctb
  FROM edges e JOIN r{i} r ON e.src = r.vertex
  GROUP BY e.dst)"""
        )
        ctes.append(
            f"""r{i + 1} AS (
  SELECT d.src AS vertex, d.degree,
         ({1000 - PR_DAMP_MILLI} * ({PR_ONE_PPB} // n.nv)
          + {PR_DAMP_MILLI} * coalesce(c.ctb, 0)) // 1000 AS r
  FROM deg d CROSS JOIN n LEFT JOIN c{i} c ON d.src = c.vertex)"""
        )
    return ",\n".join(ctes)


PAGERANK_SQL = f"""
WITH {_pr_ctes()}
SELECT CASE WHEN vertex % 2 = 0 THEN 'c' || CAST(vertex // 2 AS VARCHAR)
            ELSE 's' || CAST(vertex // 2 AS VARCHAR) END AS vertex,
       degree, r AS rank_ppb
FROM r{PR_ITERS}
ORDER BY rank_ppb DESC, vertex
LIMIT {PR_TOPK}
"""


QUERIES: dict[str, tuple] = {
    "pagerank": (q_pagerank, PAGERANK_SQL),
    # data-dependent iteration count -> no closed-form SQL; rows-only in
    # the driver gate, byte-exact vs the Python rederivation in pytest
    "pagerank_converged": (q_pagerank_converged, None),
}
