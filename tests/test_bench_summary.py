"""The bench summary line must always fit the driver's 2000-byte tail
capture (round 4's official BENCH record was lost to a 2-byte overflow:
`parsed: null`).  Pin that summary_line() stays parseable and under
budget for any realistic — and unrealistic — queries dict size."""

import json

import bench


def _out(n_queries: int, name_len: int = 28) -> dict:
    return {
        "metric": "extraction + corpus-ops wall time",
        "value": 123.456,
        "unit": "sec",
        "queries": {
            f"q{'x' * name_len}{i:04d}": 0.05 + (i % 70) / 10.0
            for i in range(n_queries)
        },
        "sf": 0.1,
        "extract_docs": 69600,
        "extract_docs_per_sec": 8765.43,
        "extract_docs_per_sec_cold": 1234.56,
        "extract_docs_per_sec_warm": 8765.43,
        "extract_decode_errors": 0,
        "host_capacity": 0.407,
        "host_capacity_after": 0.391,
    }


def test_summary_line_always_fits_and_parses():
    for n in (0, 10, 53, 70, 120, 500, 5000):
        line = bench.summary_line(_out(n))
        assert len(line) + 1 <= 1800, (n, len(line))
        parsed = json.loads(line)
        assert parsed["value"] == 123.456
        assert parsed["host_capacity"] == 0.407


def test_summary_line_keeps_full_queries_when_small():
    line = bench.summary_line(_out(8))
    parsed = json.loads(line)
    assert len(parsed["queries"]) == 8
    assert "queries_note" not in parsed


def test_summary_line_slims_before_dropping():
    # 120 queries with 28-char names can't fit whole, but a raised
    # floor keeps SOME per-query data on the line
    parsed = json.loads(bench.summary_line(_out(120)))
    assert "queries_note" in parsed
    if "queries" in parsed:
        assert all(v >= 0.1 for v in parsed["queries"].values())


def test_host_probe_width_follows_cpu_affinity(monkeypatch):
    # one worker per core the process may run on: a 1-core affinity
    # set probes with one process, not a fixed 32
    monkeypatch.setattr(bench.os, "sched_getaffinity", lambda pid: {0})
    probe = bench.host_probe()
    assert "agg1_ops" in probe and "agg32_ops" not in probe
    assert probe["cpu_capacity_frac"] > 0
