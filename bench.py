"""Benchmark harness (driver contract).

Runs the headline queries on ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) with ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line::

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {...}, "sf": ..., "extract": {...}}

The headline is the extraction job (BASELINE.md: docs/sec over a
deterministic synthetic pages corpus with a heavy-tail class) plus the
corpus operators at the given scale factor.  Scaling is reported by
perfbench's in-run ``job.scaling_eff`` leg (``perfbench/run.py
--trace 1``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

CORPUS_CACHE = "/tmp/pdf_parser_spark_bench"


def host_probe() -> dict:
    """Measure the host's ACTUAL parallel capacity: single-core vs
    aggregate zlib throughput of one process per core this process may
    run on (``os.sched_getaffinity``, the count perfbench's ``nproc()``
    uses), so an idle host reads near 1 whatever its core count.  Two
    working-set sizes separate the two physical limiters:

    - ``parallel_capacity_frac`` — 1 MiB buffers: decompressed output
      streams through DRAM, so on a many-core host this is a combined
      CPU+memory-bandwidth number whose idle maximum falls as the core
      count outgrows the memory bus.
    - ``cpu_capacity_frac`` — 64 KiB buffers, cache-resident.  This
      isolates CPU-core deliverability from the shared memory bus and
      is the right gate for "is a hypervisor-steal epoch in progress"."""
    import multiprocessing as mp
    import zlib

    width = len(os.sched_getaffinity(0))

    def mk(kib: int) -> bytes:
        return zlib.compress(bytes(range(256)) * (kib * 4), 6)

    def one(comp: bytes, dur: float) -> float:
        t0 = time.time()
        k = 0
        while time.time() - t0 < dur:
            zlib.decompress(comp)
            k += 1
        return k / (time.time() - t0)

    def measure(comp: bytes, dur: float) -> tuple[float, float]:
        def worker(q):
            q.put(one(comp, dur))

        single = one(comp, dur)
        q = mp.Queue()
        ps = [mp.Process(target=worker, args=(q,)) for _ in range(width)]
        for p in ps:
            p.start()
        agg = sum(q.get() for _ in ps)
        for p in ps:
            p.join()
        return single, agg

    single, agg = measure(mk(1024), 2.0)
    cpu_single, cpu_agg = measure(mk(64), 1.0)
    return {
        "single_core_ops": round(single, 1),
        f"agg{width}_ops": round(agg, 1),
        "parallel_capacity_frac": round(agg / (width * single), 3),
        "cpu_capacity_frac": round(cpu_agg / (width * cpu_single), 3),
    }


def sf_of(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.1


def corpus_scale(sf: float) -> int:
    """Fixture-corpus repetitions per scale factor: 29 docs/rep
    (incl. one giant PDF and one megapage HTML per rep — the
    heavy-tail class)."""
    return max(10, int(1500 * sf))


def build_session(master: str, shuffle: int):
    from pdf_parser_spark.spark.session import build_session as _b

    return _b("pdf-parser-spark-bench", master=master, shuffle_partitions=shuffle)


def _fixture_fingerprint() -> str:
    """Content hash of the fixture generator AND the pages-schema
    module — keyed into the corpus cache path so a change to either
    invalidates cached corpora instead of silently benchmarking stale
    data across rounds."""
    import hashlib

    h = hashlib.md5()
    for name in (os.path.join(REPO, "fixtures", "gen.py"),
                 os.path.join(REPO, "__spark_entry__.py")):
        with open(name, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:10]


def ensure_corpus(spark, scale: int) -> str:
    """Write the deterministic pages corpus to parquet once per
    (scale, fixture-generator version) — driver-side blobs ×
    Spark-side explode, so the driver never holds scale× copies."""
    from pyspark.sql import functions as F

    import __spark_entry__ as entrymod

    path = f"{CORPUS_CACHE}/pages_x{scale}_{_fixture_fingerprint()}.parquet"
    marker = f"{path}/_SUCCESS"
    if os.path.exists(marker):
        return path
    if os.path.exists(path):
        shutil.rmtree(path)
    base = entrymod._pages_df(spark, scale=1)
    scaled = (
        base.crossJoin(
            F.broadcast(
                spark.range(scale).select(F.col("id").alias("rep"))
            )
        )
        .select(
            F.concat_ws("/", "url", F.col("rep").cast("string")).alias("url"),
            F.timestamp_micros(F.unix_micros("warc_ts") + F.col("rep")).alias("warc_ts"),
            "html",
            "text",
            "lang",
        )
        .repartition(64, "url")
    )
    scaled.write.mode("overwrite").parquet(path)
    return path


def run_extraction(
    spark, corpus_path: str, with_lineage: bool = True, passes: int = 2
) -> dict:
    """Time the full extraction job (skew-routed, spans, lineage agg).

    ``with_lineage=False`` skips the separately-timed lineage pass.
    ``passes`` controls how many timed passes
    run; ``wall_s`` is the best and ``walls_s`` keeps every pass so a
    cold first pass stays visible (r2 ADVICE: cold vs warm must be
    separable, not silently folded into a best-of)."""
    from pyspark.sql import functions as F

    from pdf_parser_spark.spark.job import lineage, run_extract

    pages = spark.read.parquet(corpus_path)
    n_docs = pages.count()
    walls = []
    for _ in range(passes):
        t0 = time.time()
        extracted = run_extract(pages, fmt="txt", threshold=100_000)
        agg = extracted.select(
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.length("text_extracted")).alias("chars"),
            F.sum(F.when(F.col("decode_error").isNotNull(), 1).otherwise(0)).alias(
                "errs"
            ),
        ).collect()[0]
        walls.append(time.time() - t0)
    wall = min(walls)
    out = {
        "docs": n_docs,
        "wall_s": round(wall, 3),
        "walls_s": [round(w, 3) for w in walls],
        "docs_per_sec": round(n_docs / wall, 2),
        "chars": int(agg["chars"]),
        "decode_errors": int(agg["errs"]),
    }
    if with_lineage:
        t1 = time.time()
        lin = lineage(run_extract(pages, fmt="txt", threshold=100_000)).collect()
        out["lineage_partitions"] = len(lin)
        out["lineage_wall_s"] = round(time.time() - t1, 3)
    return out


def run_extract_formats(spark, corpus_path: str, passes: int = 2) -> dict:
    """Time the single-parse multi-format export (all 7 formats per
    document in one narrow map + JVM-side stack unpivot) — the r2
    483→3191 docs/s Arrow lesson (PLANS.md §6) stays regression-guarded
    in the per-round bench."""
    from pyspark.sql import functions as F

    from pdf_parser_spark.spark.udfs import extract_formats_udf, unpivot_formats

    pages = spark.read.parquet(corpus_path)
    n_docs = pages.count()
    walls = []
    for _ in range(passes):
        t0 = time.time()
        (
            pages.withColumn("_fx", extract_formats_udf(F.col("html")))
            .select(unpivot_formats("_fx"))
            .select(F.sum(F.length("text")))
            .collect()
        )
        walls.append(time.time() - t0)
    wall = min(walls)
    return {
        "docs": n_docs,
        "wall_s": round(wall, 3),
        "walls_s": [round(w, 3) for w in walls],
        "docs_per_sec": round(n_docs / wall, 2),
    }


def run_ops(spark, sf_dir: str) -> dict:
    from pdf_parser_spark.ops import all_queries

    times = {}
    for name, (fn, _sql) in all_queries().items():
        best = float("inf")
        for _ in range(2):  # best-of-2 vs bursty VM steal-time noise
            df = fn(spark, sf_dir)
            t0 = time.time()
            # noop sink: materializes EVERY output column.  A count()
            # action lets Catalyst prune the whole projection (column
            # pruning makes "timings" measure a bare parquet scan).
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.time() - t0)
            # release per-query persisted stages (LSH signatures etc.)
            # so cached blocks don't accumulate across queries
            spark.catalog.clearCache()
        times[name] = round(best, 3)
        times[f"{name}_rows"] = df.count()
        spark.catalog.clearCache()
    return times


def summary_line(out: dict, budget: int = 1800) -> str:
    """Final-stdout-line JSON under the driver's 2000-byte tail capture
    (trailing newline + headroom included): iteratively raise the
    per-query slim threshold, and if even the slimmest dict won't fit,
    drop it entirely — every per-query time is duplicated in
    BENCH_DETAIL.json.  Round 4 lost its official record (parsed:null)
    to a 2-byte overflow at a fixed 0.1 s threshold."""
    line = json.dumps(out, separators=(",", ":"))
    for floor in (0.1, 0.2, 0.5, 1.0, 2.0, 5.0):
        if len(line) + 1 <= budget:
            return line
        slim = dict(out)
        slim["queries"] = {
            k: v for k, v in out.get("queries", {}).items() if v >= floor
        }
        slim["queries_note"] = f"queries <{floor}s in BENCH_DETAIL.json"
        line = json.dumps(slim, separators=(",", ":"))
    if len(line) + 1 > budget:
        slim = dict(out)
        slim.pop("queries", None)
        slim["queries_note"] = "per-query times in BENCH_DETAIL.json"
        line = json.dumps(slim, separators=(",", ":"))
    return line


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = sf_of(args.sf_dir)
    scale = corpus_scale(sf)

    # record host contention alongside the numbers (VERDICT r1 §5: a
    # contended epoch makes throughput unrepresentable, not a
    # regression — the probe in the JSON lets rounds be compared
    # honestly); if the epoch is badly contended, wait once and retry
    probe = host_probe()
    if probe["cpu_capacity_frac"] < 0.7:
        time.sleep(60)
        probe = host_probe()

    spark = build_session(f"local[{cpus}]", shuffle=32)
    corpus = ensure_corpus(spark, scale)
    # Cold/warm split (r2 ADVICE): the first pass of the process pays
    # worker imports, JIT and page-cache fill — report it as its own
    # field instead of folding it into a best-of.  The headline
    # (extract_docs_per_sec = warm best-of-2) stays on r2's
    # methodology; _cold is the r1-comparable single cold pass.
    ex_cold = run_extraction(spark, corpus, with_lineage=True, passes=1)
    t_total0 = time.time()
    ex = run_extraction(spark, corpus, with_lineage=False, passes=2)
    exf = run_extract_formats(spark, corpus)
    queries = {
        "extract_pages": ex["wall_s"],
        "extract_formats": exf["wall_s"],
    }
    op_times = run_ops(spark, args.sf_dir)
    total = round(time.time() - t_total0, 3)
    probe_after = host_probe()
    spark.stop()

    queries.update(
        {k: v for k, v in op_times.items() if not k.endswith("_rows")}
    )
    # Full detail (row counts, probe dicts, lineage, per-pass walls)
    # goes to a file + an EARLY stdout line; the driver's tail capture
    # only reliably keeps the LAST ~2 KB, which round 2 proved by
    # truncating the giant single-line JSON into unparseability.
    detail = {
        # FULL per-query times (the summary line may slim or drop its
        # copy to fit the driver's 2000-byte tail capture — this is
        # the complete record the slim note points to)
        "queries": {k: v for k, v in sorted(queries.items())},
        "rows": {
            k[: -len("_rows")]: v
            for k, v in op_times.items()
            if k.endswith("_rows")
        },
        "extract_cold": ex_cold,
        "extract_warm": ex,
        "extract_formats": exf,
        "host_probe": probe,
        "host_probe_after": probe_after,
        "sf": sf,
    }
    with open(os.path.join(REPO, "BENCH_DETAIL.json"), "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
    print(json.dumps(detail, separators=(",", ":")))

    out = {
        "metric": "extraction + corpus-ops wall time",
        "value": total,
        "unit": "sec",
        "queries": {k: v for k, v in sorted(queries.items())},
        "sf": sf,
        "extract_docs": ex["docs"],
        "extract_docs_per_sec": ex["docs_per_sec"],
        "extract_docs_per_sec_cold": ex_cold["docs_per_sec"],
        "extract_docs_per_sec_warm": ex["docs_per_sec"],
        "extract_decode_errors": ex["decode_errors"],
        "host_capacity": probe["parallel_capacity_frac"],
        "host_capacity_after": probe_after["parallel_capacity_frac"],
    }
    print(summary_line(out))


if __name__ == "__main__":
    main()
