"""Benchmark harness (driver contract + scaling evidence).

Default mode: runs the headline queries on ``$SPARK_GRAFT_SF_DIR``
(default /root/testdata/sf0.1) with ``local[$SPARK_GRAFT_CPUS]`` and
prints ONE JSON line::

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {...}, "sf": ..., "extract": {...}}

The headline is the extraction job (BASELINE.md: docs/sec over a
deterministic synthetic pages corpus with a heavy-tail class) plus the
corpus operators at the given scale factor.

``--scaling`` mode: same extraction corpus at local[8] and local[32]
(N vs 4N cores — the sandbox stand-in for N vs 4N executors,
BASELINE.json north_rule) and reports throughput at both plus
efficiency = (docs_per_sec@32 / docs_per_sec@8) / 4.

``--scaling-cluster`` mode: the same N vs 4N comparison with REAL
executor JVMs — ``local-cluster[2,4,m]`` vs ``local-cluster[8,4,m]``
(2 vs 8 four-core executor processes, netty shuffle service, per-
executor Python workers, engine shipped via addPyFile(engine.zip) —
the literal spark-submit deployment).  Each leg pins the whole process
tree to n*4 cpus.  This is the closest the sandbox gets to the north
rule's "N and 4N executors"; both modes are capacity-gated by the
host probe because a hypervisor-stolen box physically cannot show a
4x core speedup (see scripts/scaling_watch.py).
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

# local-cluster scaling legs: executors of CL_CORES cores / CL_MEM_MB MB
CL_CORES = 4
CL_MEM_MB = 6144


def host_probe(n: int = 32) -> dict:
    """Measure the host's ACTUAL parallel capacity (single-core vs
    n-core-aggregate zlib throughput), with TWO working-set sizes that
    separate the two physical limiters:

    - ``parallel_capacity_frac`` — 1 MiB buffers (the original probe).
      At n=32 this streams ~27 GB/s of decompressed output, which
      SATURATES THIS BOX'S DRAM (~12 GB/s ceiling measured on an idle
      host: busy-loop capacity 0.945, 1 MiB zlib capacity 0.483).  So
      at full width this metric is a combined CPU+memory-bandwidth
      deliverability number whose idle-host maximum is ~0.48 — it can
      NEVER read 0.8 at n=32 regardless of contention.  It remains
      useful (a) at n<=8, where the stream fits under the bandwidth
      ceiling and the frac really is CPU deliverability, and (b) as a
      continuity series vs rounds 1-5's recorded probes.
    - ``cpu_capacity_frac`` — 64 KiB buffers (cache-resident, ~0.9 on
      an idle host at n=32).  This isolates CPU-core deliverability
      from the shared memory bus and is the right gate for "is a
      hypervisor-steal epoch in progress".

    Epochs where cpu_capacity_frac itself drops well below ~0.85 are
    genuine steal/contention; a 4x core scaling is physically
    impossible during one, so the scaling bench records both numbers
    alongside its legs and retries noisy legs across spaced trials
    (steal only ever reduces throughput, so best-over-trials estimates
    the intrinsic job scaling).

    ``n`` < 32 probes only the SMALL-leg footprint: a steal epoch that
    caps the box at ~13 core-equivalents can still deliver 8 honest
    cores, which is all a local[2]->local[8] scaling leg needs
    (VERDICT r4 'Next' #4)."""
    import multiprocessing as mp
    import zlib

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
        ps = [mp.Process(target=worker, args=(q,)) for _ in range(n)]
        for p in ps:
            p.start()
        agg = sum(q.get() for _ in ps)
        for p in ps:
            p.join()
        return single, agg

    single, agg = measure(mk(1024), 2.0)
    cpu_single, cpu_agg = measure(mk(64), 1.0)
    out = {
        "single_core_ops": round(single, 1),
        f"agg{n}_ops": round(agg, 1),
        "parallel_capacity_frac": round(agg / (n * single), 3),
        "cpu_capacity_frac": round(cpu_agg / (n * cpu_single), 3),
    }
    if n != 32:
        out["probe_width"] = n
    return out


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

    ``with_lineage=False`` skips the separately-timed lineage pass —
    the scaling legs repeat extraction many times and only need the
    extraction wall time.  ``passes`` controls how many timed passes
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
    in the per-round bench, not only behind --formats."""
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
    ap.add_argument("--scaling", action="store_true",
                    help="measure local[8] vs local[32] extraction throughput")
    ap.add_argument("--scaling-one", type=int, default=0,
                    help="internal: measure ONE parallelism level in this "
                         "process, CPU-pinned to that many cores")
    ap.add_argument("--scaling-cluster", action="store_true",
                    help="measure 2 vs 8 REAL executor JVMs "
                         "(local-cluster mode, 4 cores each)")
    ap.add_argument("--scaling-small", action="store_true",
                    help="measure local[2] vs local[8] — the N->4N leg "
                         "that needs only 8 of the box's 32 cores "
                         "deliverable, so it can succeed inside the "
                         "steal epochs that poison the 8->32 leg")
    ap.add_argument("--scaling-cluster-small", action="store_true",
                    help="measure 1 vs 4 REAL executor JVMs "
                         "(local-cluster, 2 cores each: 2 vs 8 cpus)")
    ap.add_argument("--cluster-one", type=int, default=0,
                    help="internal: one local-cluster leg with N executors")
    ap.add_argument("--cluster-cores", type=int, default=CL_CORES,
                    help="internal: cores per executor for --cluster-one")
    ap.add_argument("--formats", action="store_true",
                    help="measure per-format (txt/md/csv) docs/sec at local[32]")
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = sf_of(args.sf_dir)
    scale = corpus_scale(sf)

    if args.scaling_one:
        # One parallelism level, run in a FRESH process (the py4j JVM
        # is reused across SparkSession restarts, so affinity must be
        # set before the first session of the process).  Pin the WHOLE
        # process tree (driver, JVM, forked Python workers) to n cores:
        # a real n-core executor has n cores for everything, but an
        # unpinned local[8] on a 32-core box leaks JVM GC /
        # Arrow-writer / parquet-decode threads onto the idle 24 cores,
        # inflating T8 and understating the N->4N efficiency the north
        # rule asks for.
        n = args.scaling_one
        os.sched_setaffinity(0, set(range(n)))
        scale = max(2400, scale)
        spark = build_session(f"local[{n}]", shuffle=max(n, 32))
        corpus = ensure_corpus(spark, scale)
        # warm-up: JIT, page cache, worker pool
        run_extraction(spark, corpus, with_lineage=False)
        best = None
        for _ in range(3):  # best-of-3 vs bursty VM steal-time noise
            r = run_extraction(spark, corpus, with_lineage=False)
            if best is None or r["wall_s"] < best["wall_s"]:
                best = r
        spark.stop()
        print(json.dumps(best))
        return

    if args.cluster_one:
        # One MULTI-EXECUTOR leg: local-cluster[n, CL_CORES, mem] runs n
        # REAL executor JVMs (separate processes, netty shuffle, their
        # own Python workers) — the literal "N executors" of the north
        # rule, not thread-count scaling inside one JVM.  The engine
        # ships to executors via addPyFile(dist/engine.zip) — the same
        # artifact spark-submit --py-files deploys.  The whole process
        # tree (driver + executors + Python workers, all forked from
        # here) is pinned to n*CL_CORES cpus so the small leg can't
        # borrow idle cores.
        import subprocess as sp

        n = args.cluster_one
        cores = args.cluster_cores
        os.sched_setaffinity(0, set(range(n * cores)))
        sp.run([sys.executable, os.path.join(REPO, "scripts", "package.py")],
               capture_output=True, check=True)
        scale = max(2400, scale)
        # corpus build is a blob-heavy repartition — do it ONCE in a
        # plain local session (driver heap) and hand the cluster a
        # finished parquet path; a 4-core/6GB executor has no business
        # shuffling MB-blob rows it will only ever scan
        pre = build_session(f"local[{max(n * cores, 2)}]", shuffle=32)
        corpus = ensure_corpus(pre, scale)
        pre.stop()
        spark = build_session(
            f"local-cluster[{n},{cores},{CL_MEM_MB}]", shuffle=32
        )
        spark.sparkContext.addPyFile(os.path.join(REPO, "dist", "engine.zip"))
        run_extraction(spark, corpus, with_lineage=False)  # warm-up
        best = None
        for _ in range(3):
            r = run_extraction(spark, corpus, with_lineage=False)
            if best is None or r["wall_s"] < best["wall_s"]:
                best = r
        spark.stop()
        print(json.dumps(best))
        return

    if args.scaling_cluster:
        # N vs 4N EXECUTORS: 2 x 4-core executor JVMs vs 8 x 4-core
        # (8 vs 32 cpus pinned), each leg in a fresh process
        import subprocess

        def run_cluster(n: int) -> dict:
            pre = host_probe()
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__),
                 "--cluster-one", str(n), "--sf-dir", args.sf_dir],
                capture_output=True, text=True, check=True,
            )
            r = json.loads(proc.stdout.strip().splitlines()[-1])
            r["leg_probe"] = pre
            return r

        results = {2: run_cluster(2), 8: run_cluster(8)}
        for _ in range(2):
            eff = (results[8]["docs_per_sec"]
                   / results[2]["docs_per_sec"]) / 4.0
            post = host_probe()
            # gate on the cache-resident CPU frac: the 1 MiB frac is
            # DRAM-capped at ~0.48 at width 32 even on an idle host
            if eff >= 0.8 and post["cpu_capacity_frac"] >= 0.8:
                break
            time.sleep(60)
            r8 = run_cluster(8)
            if r8["docs_per_sec"] > results[8]["docs_per_sec"]:
                results[8] = r8
            r2 = run_cluster(2)
            if r2["docs_per_sec"] > results[2]["docs_per_sec"]:
                results[2] = r2
        eff = (results[8]["docs_per_sec"] / results[2]["docs_per_sec"]) / 4.0
        out = {
            "metric": "extract scaling 2 vs 8 executors "
                      f"(local-cluster, {CL_CORES} cores each)",
            "value": round(eff, 4),
            "unit": "efficiency",
            "sf": sf,
            "docs": results[2]["docs"],
            "exec2_docs_per_sec": results[2]["docs_per_sec"],
            "exec8_docs_per_sec": results[8]["docs_per_sec"],
            "exec2_leg_probe": results[2]["leg_probe"],
            "exec8_leg_probe": results[8]["leg_probe"],
        }
        print(json.dumps(out))
        return

    if args.scaling_small or args.scaling_cluster_small:
        # N -> 4N at QUARTER footprint (VERDICT r4 'Next' #4): the
        # 8->32-core leg needs the whole box quiet, which the steal
        # epochs never give; a 2->8-core leg needs only 8 of 32 cores
        # deliverable, which a 0.4-capacity epoch (~13 core-equivalents)
        # CAN give.  Gate on an 8-wide probe (the small leg's actual
        # footprint), not the 32-wide one.
        import subprocess

        if args.scaling_small:
            legs, metric = (2, 8), "extract scaling local[2] vs local[8]"

            def run_leg(n: int) -> dict:
                pre = host_probe(8)
                proc = subprocess.run(
                    [sys.executable, os.path.abspath(__file__),
                     "--scaling-one", str(n), "--sf-dir", args.sf_dir],
                    capture_output=True, text=True, check=True,
                )
                r = json.loads(proc.stdout.strip().splitlines()[-1])
                r["leg_probe"] = pre
                return r
        else:
            legs = (1, 4)
            metric = "extract scaling 1 vs 4 executors (local-cluster, 2 cores each)"

            def run_leg(n: int) -> dict:
                pre = host_probe(8)
                proc = subprocess.run(
                    [sys.executable, os.path.abspath(__file__),
                     "--cluster-one", str(n), "--cluster-cores", "2",
                     "--sf-dir", args.sf_dir],
                    capture_output=True, text=True, check=True,
                )
                r = json.loads(proc.stdout.strip().splitlines()[-1])
                r["leg_probe"] = pre
                return r

        small, big = legs
        results = {small: run_leg(small), big: run_leg(big)}
        for _ in range(2):
            eff = (results[big]["docs_per_sec"]
                   / results[small]["docs_per_sec"]) / 4.0
            post = host_probe(8)
            if eff >= 0.8 and post["cpu_capacity_frac"] >= 0.8:
                break
            time.sleep(30)
            rb = run_leg(big)
            if rb["docs_per_sec"] > results[big]["docs_per_sec"]:
                results[big] = rb
            rs = run_leg(small)
            if rs["docs_per_sec"] > results[small]["docs_per_sec"]:
                results[small] = rs
        eff = (results[big]["docs_per_sec"]
               / results[small]["docs_per_sec"]) / 4.0
        out = {
            "metric": metric,
            "value": round(eff, 4),
            "unit": "efficiency",
            "sf": sf,
            "docs": results[small]["docs"],
            f"n{small}_docs_per_sec": results[small]["docs_per_sec"],
            f"n{big}_docs_per_sec": results[big]["docs_per_sec"],
            f"n{small}_wall_s": results[small]["wall_s"],
            f"n{big}_wall_s": results[big]["wall_s"],
            f"n{small}_leg_probe8": results[small]["leg_probe"],
            f"n{big}_leg_probe8": results[big]["leg_probe"],
            "final_probe8": host_probe(8),
        }
        print(json.dumps(out))
        return

    if args.scaling:
        # larger corpus for the scaling measurement: per-job fixed
        # overheads (~2-4 s) must be small vs compute at local[32]
        # (69.6k docs -> ~20 s+ wall at local[32] with the fast engine)
        import subprocess

        def run_one(n: int) -> dict:
            pre = host_probe()  # capacity bracketing THIS leg
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__),
                 "--scaling-one", str(n), "--sf-dir", args.sf_dir],
                capture_output=True, text=True, check=True,
            )
            r = json.loads(proc.stdout.strip().splitlines()[-1])
            r["leg_probe"] = pre
            return r

        probes = [host_probe()]
        results = {8: run_one(8), 32: run_one(32)}
        # the 32-core leg is the one host-contention epochs poison
        # (per-core speed can drop ~3x when all cores are busy);
        # retry it across spaced trials and keep the best
        for _ in range(2):
            eff = (results[32]["docs_per_sec"]
                   / results[8]["docs_per_sec"]) / 4.0
            probes.append(host_probe())
            # cpu_capacity_frac, not the 1 MiB frac: at width 32 the
            # latter is DRAM-bandwidth-capped at ~0.48 on an IDLE host
            # (measured 2026-08-20), so it can never pass a 0.8 gate
            if eff >= 0.8 and probes[-1]["cpu_capacity_frac"] >= 0.8:
                break
            time.sleep(60)
            r32 = run_one(32)
            if r32["docs_per_sec"] > results[32]["docs_per_sec"]:
                results[32] = r32
            r8 = run_one(8)
            if r8["docs_per_sec"] > results[8]["docs_per_sec"]:
                results[8] = r8
        eff = (results[32]["docs_per_sec"] / results[8]["docs_per_sec"]) / 4.0
        out = {
            "metric": "extract scaling local[8] vs local[32]",
            "value": round(eff, 4),
            "unit": "efficiency",
            "sf": sf,
            "docs": results[8]["docs"],
            "local8_docs_per_sec": results[8]["docs_per_sec"],
            "local32_docs_per_sec": results[32]["docs_per_sec"],
            "local8_wall_s": results[8]["wall_s"],
            "local32_wall_s": results[32]["wall_s"],
            "host_probes": probes,
        }
        print(json.dumps(out))
        return

    if args.formats:
        from pyspark.sql import functions as F

        from pdf_parser_spark.spark.job import run_extract

        scale = max(600, scale)
        spark = build_session(f"local[{cpus}]", shuffle=32)
        corpus = ensure_corpus(spark, scale)
        pages = spark.read.parquet(corpus)
        n_docs = pages.count()
        out = {"metric": "per-format extraction throughput", "unit": "docs/sec",
               "sf": sf, "docs": n_docs}
        for fmt in ("txt", "md", "csv"):
            best = float("inf")
            for _ in range(2):
                t0 = time.time()
                run_extract(pages, fmt=fmt, threshold=100_000).select(
                    F.sum(F.length("text_extracted"))
                ).collect()
                best = min(best, time.time() - t0)
            out[fmt] = round(n_docs / best, 2)
        # single-parse multi-format export (all 7 formats per doc in
        # one narrow map) — compare against 7x per-format passes
        from pdf_parser_spark.spark.udfs import extract_formats_udf, unpivot_formats

        best = float("inf")
        for _ in range(2):
            t0 = time.time()
            (
                pages.withColumn("_fx", extract_formats_udf(F.col("html")))
                .select(unpivot_formats("_fx"))
                .select(F.sum(F.length("text")))
                .collect()
            )
            best = min(best, time.time() - t0)
        out["all7_single_parse"] = round(n_docs / best, 2)
        out["value"] = out["txt"]
        spark.stop()
        print(json.dumps(out))
        return

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
    # North-rule N->4N scaling evidence, banked by the quarter-footprint
    # legs (--scaling-small / --scaling-cluster-small, probe-gated; see
    # BASELINE.md "Scaling"): surface the efficiencies in the official
    # record so BENCH_r{N}.json carries them alongside the detail files.
    scal = {}
    for fname, key in (
        ("scaling_small_best.json", "threads_2to8"),
        ("scaling_cluster_small_best.json", "executors_1to4"),
    ):
        try:
            with open(os.path.join(REPO, fname)) as f:
                scal[key] = json.load(f)["value"]
        except (OSError, ValueError, KeyError):
            pass
    if scal:
        out["scaling_efficiency"] = scal
    print(summary_line(out))


if __name__ == "__main__":
    main()
