"""HyperBall harmonic centrality: sketch-based host authority.

Harmonic centrality ``H(v) = Σ_{u≠v, d(u,v)<∞} 1/d(u,v)`` is the
authority score Common Crawl publishes for its host-level web graph;
exact all-pairs BFS is Θ(V·E) and quadratic state — dead at web scale.
The production algorithm is HyperBall (Boldi & Vigna, "In-Core
Computation of Geometric Centralities with HyperBall", 2013,
arXiv:1308.2144 — public): each node carries a HyperLogLog counter of
its in-ball ``B_t(v) = {u : d(u,v) ≤ t}``; one relational iteration
max-merges every node's counter with its in-neighbors' counters, and
``H(v) ≈ Σ_t (|B_t| - |B_{t-1}|)/t`` from the counter estimates.  The
reference engine has no graph layer; this adds the sketch-graph class
alongside ops/linkgraph.py's exact-integer PageRank (same derived
host graph).

Why it oracles exactly: every step is an integer recurrence both
engines replay bit-for-bit — registers are (node, bucket, rho) BIGINT
rows with ``bucket = h32('hb|'||node) % M`` and ``rho = least(33 -
length(bin(h32('hr|'||node))), P)`` (bin() prints the same minimal
binary string in Spark and DuckDB, so 33-len IS the 32-bit
leading-zero rank + 1); the merge is groupBy-max; and the raw HLL
estimate ``E = (ALPHA_NUM·M²·2^P) div (ALPHA_DEN·S)`` with
``S = Σ_j 2^(P-M_j)`` is all-BIGINT (α₁₆ = 0.673 as 673/1000,
Flajolet-Fusy-Gandouet-Meunier 2007).  No floats, no libm, no
engine-specific rounding.  P = 20 keeps ``E·HC_SCALE`` ≤ ~1.2e16, far
from BIGINT overflow; the small-range linear-counting correction is
deliberately omitted (it needs ln()) — the op's contract is the
deterministic recurrence, and the unit test pins the estimates
against an exact-BFS Python twin within raw-HLL error.

Scale design (the whole point — this replaces Θ(V²) BFS state):

* per-node state is M register rows of three BIGINTs — O(V·M) total,
  independent of edge count and of ball sizes;
* each radius step is ONE self-union + equi-join on the persisted
  edge list and ONE partial-aggregated groupBy-max — the same
  shuffle shape as a PageRank step, rows are (node, bucket, rho)
  triples only;
* registers and edges are persisted per round: a relation referenced
  twice per step (self-merge + neighbor merge) must be materialized,
  or the lineage re-derives the corpus scan per radius;
* estimates are a (V × M)-row frame per radius, partial-combined to
  one row per node; the final assembly is V-row broadcast-size joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from pdf_parser_spark.ops.common import h32, h32_sql
from pdf_parser_spark.ops.linkgraph import K_OUT, N_HOSTS, _edges

M = 16              # HLL registers per node (2^4 buckets)
P = 20              # fixed-point exponent: empty register = 2^P
T = 3               # ball radius (matches linkgraph's PR_ITERS)
ALPHA_NUM = 673     # alpha_16 = 0.673 (FFGM 2007, public)
ALPHA_DEN = 1000
HC_SCALE = 10**6    # harmonic_e6 = centrality × 1e6

_DST_KEY = "concat(k::VARCHAR, '|', d)"  # linkgraph's seeded_h32(k, d)


def _init_regs(nodes: DataFrame) -> DataFrame:
    """(node, bucket, r): each node's own hash seeds its counter."""
    n = F.col("node").cast("string")
    bucket = h32(F.concat_ws("|", F.lit("hb"), n)) % M
    raw = h32(F.concat_ws("|", F.lit("hr"), n))
    rho = F.least(F.lit(33) - F.length(F.bin(raw)), F.lit(P))
    return nodes.select(
        "node", bucket.alias("bucket"), rho.cast("long").alias("r")
    )


def _merge_step(regs: DataFrame, edges: DataFrame) -> DataFrame:
    """regs_{t+1}(v) = max over {regs_t(v)} ∪ {regs_t(u) : u→v}."""
    inbound = regs.join(
        edges, regs.node == edges.src
    ).select(F.col("dst").alias("node"), "bucket", "r")
    return (
        regs.unionByName(inbound)
        .groupBy("node", "bucket")
        .agg(F.max("r").alias("r"))
    )


def _estimate(nodes: DataFrame, buckets: DataFrame, regs: DataFrame,
              out: str) -> DataFrame:
    """(node, <out>): raw integer-HLL ball-size estimate per node."""
    frame = nodes.crossJoin(buckets).join(regs, ["node", "bucket"], "left")
    s = F.sum(F.expr(
        f"shiftleft(CAST(1 AS BIGINT),"
        f" CAST({P} - coalesce(r, 0) AS INT))"
    ))
    num = (ALPHA_NUM * M * M) << P
    return frame.groupBy("node").agg(s.alias("_s")).selectExpr(
        "node",
        f"CAST({num} AS BIGINT) div ({ALPHA_DEN} * _s) AS {out}",
    )


def hyperball_over_edges(edges: DataFrame, radius: int = T) -> DataFrame:
    """(node, ball0_e..ball<radius>_e, harmonic_e6) over an arbitrary
    distinct-(src, dst) edge DataFrame (any node type whose string
    cast is stable — BIGINT host ids here, hostname strings in the
    real extracted-link job, jobs/linkrank.py) — shared by the oracled
    derived-graph op below, mirroring pagerank_over_edges."""
    spark = edges.sparkSession
    edges = edges.persist()
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    buckets = spark.range(M).select(F.col("id").cast("long").alias("bucket"))

    regs = _init_regs(nodes).persist()
    ests = [_estimate(nodes, buckets, regs, "ball0_e")]
    for t in range(1, radius + 1):
        regs = _merge_step(regs, edges).persist()
        ests.append(_estimate(nodes, buckets, regs, f"ball{t}_e"))

    out = ests[0]
    for e in ests[1:]:
        out = out.join(e, "node")
    harmonic = " + ".join(
        f"((ball{t}_e - ball{t - 1}_e) * {HC_SCALE}) div {t}"
        for t in range(1, radius + 1)
    )
    return out.selectExpr(
        "node",
        *[f"ball{t}_e" for t in range(radius + 1)],
        f"{harmonic} AS harmonic_e6",
    )


def host_centrality_hyperball(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(host_id, ball0_e, ball1_e, ball2_e, ball3_e, harmonic_e6):
    HyperBall harmonic centrality over the derived host graph —
    integer-HLL in-ball estimates at radii 0..T and the harmonic sum
    ``Σ_t (ball_t - ball_{t-1}) × 1e6 div t``."""
    out = hyperball_over_edges(_edges(spark, sf_dir))
    return out.withColumnRenamed("node", "host_id")


def _regs_cte(prev: str, name: str) -> str:
    return f"""{name} AS (
  SELECT node, bucket, max(r) AS r FROM (
    SELECT node, bucket, r FROM {prev}
    UNION ALL
    SELECT e.dst AS node, p.bucket, p.r
    FROM {prev} p JOIN edges e ON p.node = e.src
  ) GROUP BY 1, 2
)"""


def _est_cte(regs: str, name: str, out: str) -> str:
    num = (ALPHA_NUM * M * M) << P
    # sum(BIGINT) is HUGEINT in DuckDB — cast back so the driver's
    # dtype compare sees the same BIGINT as Spark's sum(LONG)
    return f"""{name} AS (
  SELECT n.node,
         ({num}::BIGINT // ({ALPHA_DEN} * sum(
           1::BIGINT << (({P} - coalesce(r.r, 0))::INT))))::BIGINT AS {out}
  FROM nodes n CROSS JOIN buckets b
  LEFT JOIN {regs} r ON r.node = n.node AND r.bucket = b.bucket
  GROUP BY 1
)"""


def _hyperball_sql() -> str:
    hb = h32_sql("concat('hb', '|', node::VARCHAR)")
    hr = h32_sql("concat('hr', '|', node::VARCHAR)")
    bucket = f"{hb} % {M}"
    rho = f"least(33 - length(bin({hr})), {P})"
    ctes = [
        "docs AS (SELECT doc_id::VARCHAR AS d FROM documents)",
        "raw_edges AS (\n"
        f"  SELECT {h32_sql('d')} % {N_HOSTS} AS src,\n"
        f"         {h32_sql(_DST_KEY)} % {N_HOSTS} AS dst\n"
        f"  FROM docs, generate_series(1, {K_OUT}) AS g(k)\n"
        ")",
        "edges AS (SELECT DISTINCT src, dst FROM raw_edges WHERE src <> dst)",
        "nodes AS (SELECT DISTINCT node FROM ("
        "SELECT src AS node FROM edges UNION ALL "
        "SELECT dst AS node FROM edges))",
        f"buckets AS (SELECT g.b::BIGINT AS bucket "
        f"FROM generate_series(0, {M - 1}) AS g(b))",
        f"""regs0 AS (
  SELECT node, {bucket} AS bucket, ({rho})::BIGINT AS r FROM nodes
)""",
    ]
    for t in range(1, T + 1):
        ctes.append(_regs_cte(f"regs{t - 1}", f"regs{t}"))
    for t in range(T + 1):
        ctes.append(_est_cte(f"regs{t}", f"est{t}", f"ball{t}_e"))
    harmonic = " + ".join(
        f"((ball{t}_e - ball{t - 1}_e) * {HC_SCALE}) // {t}"
        for t in range(1, T + 1)
    )
    joins = " ".join(f"JOIN est{t} USING (node)" for t in range(1, T + 1))
    balls = ", ".join(f"ball{t}_e" for t in range(T + 1))
    with_block = ",\n".join(ctes)
    return (
        f"\nWITH {with_block}\n"
        f"SELECT node AS host_id, {balls},"
        f" ({harmonic})::BIGINT AS harmonic_e6\n"
        f"FROM est0 {joins}\n"
    )


HOST_CENTRALITY_HYPERBALL_SQL = _hyperball_sql()


QUERIES = {
    "host_centrality_hyperball": (
        host_centrality_hyperball,
        HOST_CENTRALITY_HYPERBALL_SQL,
    ),
}
