"""Tests for the benchmark's own parts: the seeded generator, the
metric names it emits, and the ledger check.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

import pytest  # noqa: E402

from perfbench import corpus, run  # noqa: E402
from perfbench.trace import Tracer, covered, ledger_balanced, parse_sql_metric  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


@pytest.mark.parametrize("workload", sorted(corpus.WORKLOADS))
def test_generator_is_deterministic_per_seed(workload):
    make = corpus.WORKLOADS[workload]
    assert make(7) == make(7)


@pytest.mark.parametrize("workload", sorted(corpus.WORKLOADS))
def test_different_seeds_give_different_documents(workload):
    make = corpus.WORKLOADS[workload]
    a, b = make(1), make(2)
    assert not {p.html for p in a} & {p.html for p in b}
    assert len(a) == len(b)


def test_heavy_docs_exceed_the_jobs_default_threshold():
    from pdf_parser_spark.spark.job import DEFAULT_HEAVY_TAIL_BYTES

    assert corpus.HEAVY_BYTES == DEFAULT_HEAVY_TAIL_BYTES
    heavy = {w: sum(len(p.html) > DEFAULT_HEAVY_TAIL_BYTES for p in corpus.WORKLOADS[w](3))
             for w in corpus.WORKLOADS}
    assert heavy == {"crawl_mix": 2, "pdf_heavy": 3}


def test_crawl_mix_errors_are_rows_and_only_the_malformed_docs_fail():
    from pdf_parser_spark.engine import extract_document

    pages = corpus.crawl_mix(5)
    kinds = [extract_document(p.html)["error_kind"] for p in pages]
    assert sum(k is not None for k in kinds) == 4


def test_workloads_match_benchmark_json():
    assert set(corpus.WORKLOADS) == {w["name"] for w in SPEC["workloads"]}


def test_end_to_end_metric_names_match_benchmark_json():
    m = run.e2e_metrics(100, 2.0, 12.5, [1.0, 1.2], 3.0)
    assert set(m) == {d["name"] for d in SPEC["end_to_end"]}
    assert all(v > 0 for v in m.values())


def _fake_trace_measurements() -> dict:
    udf = {"python_start_s": 1.0, "python_init_s": 1.0, "python_run_s": 2.0,
           "bytes_to_python": 10.0, "bytes_from_python": 5.0}
    stats = {"spark_jobs": 4, "executor_cpu_s": 3.0, "gc_s": 0.1,
             "shuffle_write_bytes": 100, "spill_bytes": 0, "task_s_max_over_p50": 2.0, **udf}
    spans = {"curate.curate": 10.0, "curate.write": 2.0}
    spans.update({f"curate.{s}": 1.0 for s in run.CURATE_STAGES})
    funnel = [{"stage": "input", "rows": 10}] + [
        {"stage": row, "rows": 9} for row in run.CURATE_STAGES.values()]
    engine = {f"engine.{s}_s": 0.1 for s in
              ("parse", "pagetree", "decode", "fonts", "content", "layout", "render",
               "extract_document")}
    engine.update({"engine.doc_us_p50": 1.0, "engine.doc_us_p99": 9.0,
                   "engine.docs_per_core_s": 5.0, "engine.errors": 0,
                   "html.strip_s": 0.2, "html.strip_mb_per_core_s": 3.0})
    return {"nproc": 4, "build_s": 5.0, "setup_stats": stats, "engine": engine,
            "traced_wall": 3.1, "size_classes": {"normal": 10},
            "job_stats": stats, "lineage_stats": stats, "curate_stats": stats,
            "ledger": {"job.lineage": 1.5, "table.append": 1.5, "trace.status_store": 0.05},
            "spark_ledger": {"job.lineage": 1.45, "table.append": 1.4, "trace.status_store": 0.05},
            "replay_ledger": {"table.compact": 0.4}, "written": (2, 300),
            "curate_wall": 12.0, "funnel": funnel, "scan_s": 0.2, "arrow_floor_s": 0.5,
            "resume": {"committed_urls_s": 0.1, "resume_filter_s": 0.2},
            "scaling_eff": 0.8, "spans": spans, "peak_rss": 2e9, "clock_s": 0.01}


def test_per_layer_metric_names_match_benchmark_json():
    m = run.layer_metrics(_fake_trace_measurements())
    assert set(m) == {d["name"] for d in SPEC["per_layer"]}


def test_ledger_check_fails_on_an_unbalanced_ledger():
    assert ledger_balanced({"job.lineage": 0.6, "table.append": 0.35}, 1.0)
    assert not ledger_balanced({"job.lineage": 0.6, "table.append": 0.2}, 1.0)
    assert not ledger_balanced({"job.lineage": 0.9, "table.append": 0.3}, 1.0)


def test_ledger_of_a_pass_with_an_untraced_gap_is_unbalanced():
    import time

    t = Tracer("test")
    with t.span("job.extract"):
        with t.span("job.lineage"):
            time.sleep(0.02)
        time.sleep(0.05)  # work no child span covers
    (idx,) = t.find("job.extract")
    assert not ledger_balanced(t.ledger(idx), t.duration(idx))
    assert t.self_time(idx) >= 0.05


def test_ledger_on_the_spark_clock_leaves_driver_time_out():
    import time

    t = Tracer("test")
    with t.span("job.extract"):
        with t.span("job.run_extract"):  # submits no Spark work
            time.sleep(0.01)
        with t.span("job.lineage"):
            time.sleep(0.1)
    (idx,) = t.find("job.extract")
    (plan,), (lineage,) = t.find("job.run_extract"), t.find("job.lineage")
    start = t.spans[lineage].start + t.epoch
    # Spark recorded work over the whole lineage step: balanced
    full = t.spark_ledger(idx, [(start, start + t.duration(lineage))])
    assert full["job.run_extract"] == t.duration(plan)
    assert ledger_balanced(full, t.duration(idx))
    # two overlapping jobs cover about a third of it: the rest is driver
    # time outside Spark, and the ledger is off its wall
    short = t.spark_ledger(idx, [(start, start + 0.03), (start + 0.01, start + 0.035)])
    assert short["job.lineage"] == pytest.approx(0.035, abs=1e-6)
    assert not ledger_balanced(short, t.duration(idx))


def test_ledger_adds_driver_thread_cpu_to_spark_bearing_steps():
    import itertools

    ticks = itertools.count()
    t = Tracer("test")
    t.cpu_clock = lambda: next(ticks) * 0.01  # each span sees 0.01 s of CPU
    with t.span("job.extract"):
        with t.span("job.run_extract"):
            pass
        with t.span("job.lineage"):
            pass
    (idx,), (plan,), (lineage,) = (t.find(n) for n in ("job.extract", "job.run_extract",
                                                       "job.lineage"))
    start = t.spans[lineage].start + t.epoch
    parts = t.spark_ledger(idx, [(start, start + 0.5)])
    assert t.spans[lineage].cpu == pytest.approx(0.01)
    assert parts["job.lineage"] == pytest.approx(0.51, abs=1e-6)
    assert parts["job.run_extract"] == t.duration(plan)


def test_covered_is_the_union_length():
    assert covered([]) == 0
    assert covered([(0.0, 1.0), (0.5, 2.0), (3.0, 4.0), (3.2, 3.5)]) == 3.0


def test_curate_check_fails_when_two_passes_hash_differently():
    urls, inputs = ["u1", "u2"], {"u1", "u2", "u3"}
    assert run.curated_ok(urls, 2, inputs, ["a", "a"])
    assert not run.curated_ok(urls, 2, inputs, ["a", "b"])
    assert not run.curated_ok(urls, 3, inputs, ["a"])
    assert not run.curated_ok(["u1", "u1"], 2, inputs, ["a"])
    assert not run.curated_ok(["u1", "u9"], 2, inputs, ["a"])


def test_resume_subset_is_seeded():
    pages = corpus.crawl_mix(4)
    a = corpus.subset(pages, 4, 0.9)
    assert a == corpus.subset(pages, 4, 0.9) != corpus.subset(pages, 5, 0.9)
    assert len(a) == 900 and set(a) < set(pages)


def test_parse_sql_metric_reads_totals():
    assert parse_sql_metric("total (min, med, max (stageId: taskId))\n"
                            "3.7 s (7 ms, 1.8 s, 1.9 s (stage 3.0: task 6))") == 3.7
    assert parse_sql_metric("24 ms") == pytest.approx(0.024)
    assert parse_sql_metric("4.9 MiB") == pytest.approx(4.9 * (1 << 20))
    assert parse_sql_metric("1,600") == 1600
