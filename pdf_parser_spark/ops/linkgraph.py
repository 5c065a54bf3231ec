"""Link-graph analysis: exact-integer power-iteration PageRank.

Web-corpus curation weights documents by the authority of their host
(a quality prior for training-data mixing: jobs/linkrank.py ranks the
extracted link graph with :func:`pagerank_over_edges`, and
jobs/curate.py joins the ranks as ``host_rank_e9``), and the canonical
authority score is PageRank (Page, Brin, Motwani, Winograd, "The
PageRank Citation Ranking", Stanford InfoLab 1999 — public).  The
reference engine has no link analysis; this module adds the
iterative-graph algorithm class.

Why exact integers: float PageRank is not engine-comparable — the
damped sum accumulates in engine-specific order, so ranks drift by
ulps and the value-hash gate would flake.  Ranks are fixed-point
BIGINTs at scale 1e9: the uniform init is ``SCALE // n`` (truncating
integer division, Spark ``div`` == DuckDB ``//`` on non-negatives),
each outlink contribution is ``pr // outdeg``, and the damping update
is ``base + (85 * inbound) // 100`` with
``base = ((SCALE // n) * 15) // 100`` — every intermediate is a BIGINT
far from overflow (85 × 1e9 ≪ 2^63), so both engines run the
*identical* deterministic recurrence.  Dangling-node mass is dropped
(not redistributed) — the classic simplification — identically on
both sides, so totals shrink monotonically but deterministically.

The link graph is derived deterministically from ``documents`` (the
driver's sf tables carry no urls): each document lives on host
``h32(doc_id) % 60`` and emits ``K_OUT`` outlinks to hosts
``h32(k || '|' || doc_id) % 60``; self-loops are dropped and parallel
edges collapsed.

Scale design (GraphX-Pregel-shaped, pure DataFrame):

* the edge list is (src, dst) BIGINT pairs — O(links × 16 bytes); the
  documents' text never enters the plan (column pruning to doc_id);
* each iteration is ONE shuffle: contributions ``(dst, pr // outdeg)``
  group-by dst with map-side partial sums; the rank table is O(hosts)
  — orders of magnitude smaller than the corpus — and joins the edge
  list on src (AQE picks broadcast when hosts are few, shuffle-hash
  when web-scale);
* iterations are a fixed unrolled K, so Catalyst sees one static DAG;
  at larger K persist each iteration's rank table to truncate lineage
  (K=3 here keeps the oracle CTE chain readable and the plan shallow).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from pdf_parser_spark.ops.common import (
    h32,
    h32_sql,
    load_table,
    seeded_h32,
    seeded_h32_sql,
)

N_HOSTS = 60       # host-id modulus for the derived link graph
K_OUT = 3          # outlinks emitted per document
PR_ITERS = 3       # power-iteration rounds (unrolled in both engines)
PR_SCALE = 10**9   # fixed-point scale: pagerank_e9 = rank × 1e9


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (src, dst) host pairs, self-loops dropped."""
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("d")
    )
    dsts = F.array(
        *[seeded_h32(k, F.col("d")) % N_HOSTS for k in range(1, K_OUT + 1)]
    )
    return (
        docs.select(
            (h32(F.col("d")) % N_HOSTS).alias("src"),
            F.explode(dsts).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def pagerank_over_edges(edges: DataFrame, iters: int = PR_ITERS) -> DataFrame:
    """Exact-integer damped power iteration over an arbitrary
    distinct-(src, dst) edge DataFrame (any equi-joinable node type);
    returns (node, pr, outdeg) — shared by the oracled derived-graph
    op below and the real extracted-link job (jobs/linkrank.py)."""
    # The graph is O(links)/O(nodes) — tiny next to the corpus — and
    # every iteration references it, so persist once: without the
    # cache the unrolled plan re-derives edges from the RAW SCAN per
    # iteration (measured: 59-Exchange plan, ~10 corpus re-reads at
    # K=3), which is the difference between a graph algorithm and a
    # corpus re-scan loop at 100 TB.
    edges = edges.persist()
    outdeg = edges.groupBy("src").agg(
        F.count(F.lit(1)).alias("outdeg")
    ).persist()
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    n = nodes.count()  # one scalar to the driver
    if n == 0:
        # a corpus whose links are all self-loops yields an empty
        # graph; emit the empty (node, pr, outdeg) frame rather than
        # dividing by zero
        return nodes.selectExpr(
            "node", "CAST(0 AS BIGINT) AS pr", "CAST(0 AS BIGINT) AS outdeg"
        )
    init = PR_SCALE // n
    base = (init * 15) // 100
    ranks = nodes.select("node", F.lit(init).cast("long").alias("pr"))
    for _ in range(iters):
        contrib = (
            edges.join(outdeg, "src")
            .join(ranks.selectExpr("node AS src", "pr"), "src")
            .selectExpr("dst AS cnode", "pr div outdeg AS c")
            .groupBy("cnode")
            .agg(F.sum("c").alias("s"))
        )
        ranks = nodes.join(
            contrib, nodes.node == contrib.cnode, "left"
        ).selectExpr(
            "node",
            f"CAST({base} AS BIGINT)"
            " + (85 * coalesce(s, CAST(0 AS BIGINT))) div 100 AS pr",
        )
    return ranks.join(
        outdeg, ranks.node == outdeg.src, "left"
    ).selectExpr(
        "node",
        "pr",
        "coalesce(outdeg, CAST(0 AS BIGINT)) AS outdeg",
    )


def linkgraph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(host_id, pagerank_e9, out_degree) after ``PR_ITERS`` damped
    power-iteration rounds from the uniform init."""
    return pagerank_over_edges(_edges(spark, sf_dir)).selectExpr(
        "node AS host_id",
        "pr AS pagerank_e9",
        "outdeg AS out_degree",
    )


def _pagerank_sql() -> str:
    """The identical recurrence, unrolled as DuckDB CTEs."""
    sql = f"""
WITH docs AS (SELECT doc_id::VARCHAR AS d FROM documents),
raw_edges AS (
  SELECT {h32_sql('d')} % {N_HOSTS} AS src,
         {seeded_h32_sql('k', 'd')} % {N_HOSTS} AS dst
  FROM docs, generate_series(1, {K_OUT}) AS g(k)
),
edges AS (SELECT DISTINCT src, dst FROM raw_edges WHERE src <> dst),
outdeg AS (SELECT src, count(*)::BIGINT AS outdeg FROM edges GROUP BY 1),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
nn AS (SELECT count(*)::BIGINT AS n FROM nodes),
pr_0 AS (
  SELECT node, ({PR_SCALE} // nn.n)::BIGINT AS pr FROM nodes, nn
)"""
    for i in range(1, PR_ITERS + 1):
        sql += f""", contrib_{i} AS (
  SELECT e.dst AS node, sum(p.pr // d.outdeg)::BIGINT AS s
  FROM edges e
  JOIN pr_{i - 1} p ON p.node = e.src
  JOIN outdeg d ON d.src = e.src
  GROUP BY 1
), pr_{i} AS (
  SELECT nd.node,
         ((({PR_SCALE} // nn.n) * 15) // 100
          + (85 * coalesce(c.s, 0)) // 100)::BIGINT AS pr
  FROM nodes nd CROSS JOIN nn
  LEFT JOIN contrib_{i} c ON c.node = nd.node
)"""
    return sql + f"""
SELECT p.node AS host_id,
       p.pr AS pagerank_e9,
       coalesce(d.outdeg, 0)::BIGINT AS out_degree
FROM pr_{PR_ITERS} p
LEFT JOIN outdeg d ON d.src = p.node
"""


PAGERANK_SQL = _pagerank_sql()

QUERIES = {
    "linkgraph_pagerank": (linkgraph_pagerank, PAGERANK_SQL),
}
