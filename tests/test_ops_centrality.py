"""host_centrality_hyperball: integer-HLL HyperBall vs exact twins.

Two ground truths:

* an EXACT Python replica of the integer recurrence (same md5 hashes,
  same groupwise max-merge, same fixed-point estimator) — the Spark
  result must match it bit-for-bit, register for register;
* exact BFS harmonic centrality over the same graph — the sketch
  estimates must track it (raw HLL at m=16 without the small-range
  correction is a coarse estimator; the test pins rank agreement and
  bounded average error, not per-node closeness).
"""

import os
import sys
from hashlib import md5

import duckdb
import pytest

pyspark = pytest.importorskip("pyspark")

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pdf_parser_spark.ops.centrality import (  # noqa: E402
    ALPHA_DEN,
    ALPHA_NUM,
    HC_SCALE,
    M,
    P,
    T,
    host_centrality_hyperball,
)
from pdf_parser_spark.ops.linkgraph import K_OUT, N_HOSTS  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="driver testdata not present"
)


@pytest.fixture(scope="module")
def spark():
    from pdf_parser_spark.spark.session import build_session

    s = build_session(
        "centrality-tests", master="local[4]", shuffle_partitions=8
    )
    yield s
    s.stop()


def _h32(s: str) -> int:
    return int(md5(s.encode()).hexdigest()[:8], 16)


def _graph(sf_dir):
    con = duckdb.connect()
    ids = [
        r[0]
        for r in con.execute(
            f"SELECT doc_id FROM read_parquet('{sf_dir}/documents.parquet')"
        ).fetchall()
    ]
    edges = set()
    for i in ids:
        src = _h32(str(i)) % N_HOSTS
        for k in range(1, K_OUT + 1):
            dst = _h32(f"{k}|{i}") % N_HOSTS
            if src != dst:
                edges.add((src, dst))
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    return nodes, sorted(edges)


def _estimate(regs: list[int]) -> int:
    s = sum(1 << (P - r) for r in regs)
    return ((ALPHA_NUM * M * M) << P) // (ALPHA_DEN * s)


def _python_twin(nodes, edges):
    """Bit-exact replica of the op's integer recurrence."""
    regs = {}
    for v in nodes:
        r = [0] * M
        b = _h32(f"hb|{v}") % M
        raw = _h32(f"hr|{v}")
        r[b] = min(33 - max(raw.bit_length(), 1), P)
        regs[v] = r
    in_nbrs = {v: [] for v in nodes}
    for s, d in edges:
        in_nbrs[d].append(s)
    ests = {v: [_estimate(regs[v])] for v in nodes}
    for _ in range(T):
        regs = {
            v: [
                max(regs[v][b], *[regs[u][b] for u in in_nbrs[v]] or [0])
                for b in range(M)
            ]
            for v in nodes
        }
        for v in nodes:
            ests[v].append(_estimate(regs[v]))
    out = {}
    for v in nodes:
        e = ests[v]
        harmonic = sum(
            ((e[t] - e[t - 1]) * HC_SCALE) // t for t in range(1, T + 1)
        )
        out[v] = (*e, harmonic)
    return out


def _exact_balls(nodes, edges):
    """|B_t(v)| by BFS over reversed edges (u -> v paths of length <= t)."""
    in_nbrs = {v: set() for v in nodes}
    for s, d in edges:
        in_nbrs[d].add(s)
    balls = {}
    for v in nodes:
        ball = {v}
        sizes = [1]
        for _ in range(T):
            ball = ball | {u for w in ball for u in in_nbrs[w]}
            sizes.append(len(ball))
        balls[v] = sizes
    return balls


@pytest.fixture(scope="module")
def result(spark):
    return {
        r["host_id"]: r
        for r in host_centrality_hyperball(spark, SF_DIR).collect()
    }


@pytest.fixture(scope="module")
def graph():
    return _graph(SF_DIR)


def test_bit_exact_vs_python_twin(result, graph):
    nodes, edges = graph
    twin = _python_twin(nodes, edges)
    assert sorted(result) == nodes
    for v in nodes:
        r = result[v]
        got = (
            r["ball0_e"], r["ball1_e"], r["ball2_e"], r["ball3_e"],
            r["harmonic_e6"],
        )
        assert got == twin[v], f"node {v}: {got} != {twin[v]}"


def test_balls_monotone_harmonic_nonneg(result):
    for r in result.values():
        assert r["ball0_e"] <= r["ball1_e"] <= r["ball2_e"] <= r["ball3_e"]
        assert r["harmonic_e6"] >= 0


def test_tracks_exact_bfs(result, graph):
    nodes, edges = graph
    exact = _exact_balls(nodes, edges)
    # radius 1 is where the derived graph has cross-host spread
    # (radius >= 2 saturates to the full host set at sf0.001); the
    # sketch's radius-1 estimates must correlate with true in-degree+1
    # and carry the right aggregate mass at every radius
    xs = [exact[v][1] for v in nodes]
    ys = [result[v]["ball1_e"] for v in nodes]
    n = len(nodes)
    mx, my = sum(xs) / n, sum(ys) / n
    cov = sum((x - mx) * (y - my) for x, y in zip(xs, ys))
    vx = sum((x - mx) ** 2 for x in xs) ** 0.5
    vy = sum((y - my) ** 2 for y in ys) ** 0.5
    if vx == 0 or vy == 0:
        pytest.skip("degenerate graph: constant radius-1 ball sizes")
    assert cov / (vx * vy) > 0.3
    for t in range(1, T + 1):
        ratio = sum(result[v][f"ball{t}_e"] for v in nodes) / sum(
            exact[v][t] for v in nodes
        )
        assert 0.5 < ratio < 2.0, f"radius {t} mass ratio {ratio}"


def test_plan_radius_steps_reuse_cached_registers(spark):
    """Every radius step reads the persisted register/edge relations
    (InMemoryTableScan: the corpus parquet is scanned once, not once
    per radius), merges are partial-aggregated groupBy-max, and
    nothing but (node, bucket, rho) triples crosses a shuffle.
    InMemoryRelation reprints its cached child plan under every
    InMemoryTableScan, so "Scan parquet" still appears textually; the
    property is that every register/edge reference reads a cache:
    >= T+1 merge reads + T+1 estimate reads."""
    try:
        df = host_centrality_hyperball(spark, SF_DIR)
        p = df._jdf.queryExecution().executedPlan().toString()
        assert p.count("InMemoryTableScan") >= 8
        assert "partial_max" in p
        assert "ArrowEvalPython" not in p
        assert all(
            "text" not in seg[:400]
            for seg in p.split("Exchange hashpartitioning")[1:]
        )
    finally:
        spark.catalog.clearCache()
