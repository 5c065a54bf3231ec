"""Seeded extract -> curate benchmark.

Run from the repository root::

    python3 perfbench/run.py --workload crawl_mix --seed 1 --seconds 5 --trace 0

One run builds its workload's pages parquet from ``--seed``
(``perfbench/corpus.py``), starts one Spark application on a fresh JVM with
``build_session`` at ``local[nproc]`` and runs one extract-job pass over
a small fixed slice (together: set-up).  On ``crawl_mix`` it then runs
the curate job once over the slice's table: the JVM's first curate
pass costs half again as much as later ones, and its cost is almost all
fixed, so a pass over 16 rows warms it.  It then runs the workload's
``WARM_PASSES`` untimed passes over the corpus while the JVM compiles
its hot paths, and then a closed loop of measured passes (each starts when the
previous one ends) for ``--seconds`` and at least ``MIN_PASSES``
passes.  A pass is the extract job: the calls ``jobs/extract.py`` makes
(``run_extract`` -> persist -> ``lineage`` ->
``SnapshotParquetTable.append``) into a fresh table.  On ``crawl_mix``
the curate job (``curate()`` plus its parquet write) then runs once
over the last pass's table.

Every run checks its outputs, untimed: each url's ``text_extracted``
sha256 and ``decode_error_kind`` must equal an in-process
``extract_document`` call, the committed table must hold each input url
exactly once, and the curate output's sorted-row hash, printed, must
be the same in every curate pass of a run (the traced run makes two,
over independently committed tables).  A pass that raises or fails a
check counts as failed.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` makes a
traced run instead and prints the per-layer metrics: spans recorded
here around each layer's public calls, Spark task and SQL metrics read
from the live status store, engine stages timed by direct calls on one
thread, a resumed ``--compact`` replay of the extract job over a table
that already holds 90% of the urls, and the 1-core scaling leg.  The
last stdout line is one JSON object; the exit code is non-zero when any
check fails.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

MB = 1e6
# Pass walls fall by a third or more over the first three passes after
# set-up while the JVM compiles its hot paths, then level off; the warm
# passes are run and checked but not timed.  A curate pass does the same:
# the JVM's first one took 20-23 s and the next ones 11-15 s on a 4-core
# box (1000 rows), so crawl_mix warms curate before its timed pass, and
# after that warm-up its extract walls level off one pass sooner.
WARM_PASSES = {"crawl_mix": 2, "pdf_heavy": 3}
MIN_PASSES = 4
RESUME_FRAC = 0.9  # share of the urls the resumed replay finds committed
CURATE_STAGES = {  # stage function in jobs/curate.py -> its funnel row
    "url_admission": "url_admitted",
    "strip_host_templates": "template_strip",
    "quality_floor": "quality",
    "exact_dedup": "exact_dedup",
    "neardup_collapse": "near_dedup",
    "strip_repeated_spans": "span_dedup",
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``,
    and make the repository importable by the Python workers."""
    conf, tmp, local = (os.path.join(work, d) for d in ("conf", "tmp", "spark-local"))
    for d in (conf, tmp, local):
        os.makedirs(d)
    with open(os.path.join(conf, "spark-defaults.conf"), "w") as f:
        f.write(f"spark.local.dir {local}\n"
                f"spark.sql.warehouse.dir {os.path.join(work, 'warehouse')}\n"
                "spark.ui.showConsoleProgress false\n")
    with open(os.path.join(conf, "log4j2.properties"), "w") as f:
        f.write("rootLogger.level = warn\n"
                "rootLogger.appenderRef.stderr.ref = console\n"
                "appender.console.type = Console\n"
                "appender.console.name = console\n"
                "appender.console.target = SYSTEM_ERR\n"
                "appender.console.layout.type = PatternLayout\n"
                "appender.console.layout.pattern = %d{HH:mm:ss} %p %c{1}: %m%n\n")
    os.environ.update(
        SPARK_CONF_DIR=conf,
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        SPARK_GRAFT_CPUS=str(nproc()),
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        # the JVM's temp files and perf-data files stay out of /tmp
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    )
    import tempfile

    tempfile.tempdir = tmp


def shutdown(spark) -> None:
    """Stop the session, then its JVM, and wait until every process the
    run started (JVM, Python daemon and workers) has ended."""
    from pyspark import SparkContext

    from perfbench.trace import descendants

    started = [p for p in descendants(os.getpid()) if p != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits on stdin EOF
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    for pid in started:
        while _running(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _running(pid):
            os.kill(pid, 9)


def _running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


class Bench:
    """One run of one workload: corpus, session, passes and checks."""

    def __init__(self, workload: str, seed: int, work: str, traced: bool):
        from perfbench import corpus
        from perfbench.trace import Tracer

        self.work = work
        self.workload = workload
        self.seed = seed
        self.pages = corpus.WORKLOADS[workload](seed)
        self.urls = {p.url for p in self.pages}
        self.n_docs = len(self.pages)
        self.mb = sum(len(p.html) for p in self.pages) / MB
        self.pages_path = os.path.join(work, "pages.parquet")
        self.warm_path = os.path.join(work, "warm.parquet")
        self.warm_table = os.path.join(work, "warm-table")
        corpus.write_pages(self.pages, self.pages_path, files=nproc())
        # 8 files: on up to 8 cores every core gets a task, so every
        # core's Python worker boots during set-up
        corpus.write_pages(corpus.warmup_pages(), self.warm_path, files=8)
        self.tracer = Tracer(f"{workload}-{seed}-{os.getpid()}", enabled=traced)
        self.untraced = Tracer("untraced", enabled=False)
        self.ref: dict = {}
        self.attempted = self.failed = 0
        self.mismatched: set[str] = set()
        self.curate_hashes: list[str] = []
        self.curate_walls: list[float] = []
        self.warm_walls: list[float] = []
        self.walls: list[float] = []  # measured extract passes at local[nproc], in order
        self.size_classes: dict[str, int] = {}
        self.pass_stats: tuple[dict, dict] | None = None
        self.pass_intervals: list[tuple[float, float]] = []
        self.ledger: dict[str, float] = {}  # the traced pass's, on the JVM's clock
        self.curate_stats: dict | None = None
        self.peak_rss = 0  # bytes, process tree
        self._n_tables = 0

    # -- session --------------------------------------------------------

    def setup(self, master: str):
        """Session build plus a first extract-job pass over the warm-up
        slice into a scratch table (kept in ``self.warm_table``).  Returns
        ``(spark, build_s, setup_s)``."""
        from pdf_parser_spark.spark.session import build_session

        t0 = time.perf_counter()
        spark = build_session("perfbench", master=master)
        build_s = time.perf_counter() - t0
        shutil.rmtree(self.warm_table, ignore_errors=True)
        self._extract(spark, self.warm_path, self.warm_table, self.untraced)
        return spark, build_s, time.perf_counter() - t0

    def warm(self, spark) -> bool:
        """On ``crawl_mix`` one untimed curate pass over the set-up
        slice's table, then the workload's ``WARM_PASSES`` checked,
        untimed extract passes."""
        if self.workload == "crawl_mix":
            out_dir = os.path.join(self.work, "curated-warm")
            try:
                _, funnel = self._curate(spark, self.warm_table, out_dir, self.untraced)
                ok = spark.read.parquet(out_dir).count() == funnel[-1]["rows"]
            except Exception:  # noqa: BLE001 — a failed pass is counted, not fatal
                traceback.print_exc()
                ok = False
            shutil.rmtree(out_dir, ignore_errors=True)
            self.attempted += 1
            if not ok:
                self.failed += 1
                return False
        for _ in range(WARM_PASSES[self.workload]):
            table = self.new_table()
            wall = self.extract_pass(spark, table, self.untraced)
            if wall is None:
                return False
            self.warm_walls.append(wall)
            shutil.rmtree(table)
        return True

    # -- passes ---------------------------------------------------------

    def new_table(self) -> str:
        self._n_tables += 1
        return os.path.join(self.work, f"table-{self._n_tables}")

    def _extract(self, spark, pages_path, table_dir, tracer, resume=False, stats=None) -> float:
        """The extract job's calls; ``resume`` adds its ``--resume
        --compact`` steps."""
        from pdf_parser_spark.spark.job import lineage, resume_filter, run_extract
        from pdf_parser_spark.spark.table import SnapshotParquetTable

        T = tracer
        start = stats.mark() if stats else None
        t0 = time.perf_counter()
        with T.span("job.extract"):
            with T.span("scan.read"):
                pages = spark.read.parquet(pages_path)
                out = SnapshotParquetTable(spark, table_dir)
            if resume:
                with T.span("table.committed_urls"):
                    committed = out.committed_urls()
                if committed is not None:
                    with T.span("job.resume_filter"):
                        pages = resume_filter(pages, committed)
            with T.span("job.run_extract"):
                extracted = run_extract(pages).persist()  # lazy: the work runs in lineage
            if stats:
                with T.span("trace.status_store"):
                    before = stats.mark()
            with T.span("job.lineage"):
                lin = [r.asDict() for r in lineage(extracted).collect()]
            if stats:
                with T.span("trace.status_store"):
                    after = stats.mark()
            with T.span("table.append"):
                out.append(extracted, lineage_rows=lin)
            with T.span("job.unpersist"):
                extracted.unpersist()
            if resume:
                with T.span("table.compact"):
                    out.compact()
        wall = time.perf_counter() - t0
        if stats:
            self.pass_stats = stats.between(start), stats.between(before, after)
            self.pass_intervals = stats.intervals(start)
        return wall

    def extract_pass(self, spark, table_dir, tracer, stats=None, resume=False) -> float | None:
        """One checked extract-job pass; None when it failed.  With
        ``stats``, the pass's Spark totals land in ``self.pass_stats``."""
        self.attempted += 1
        try:
            wall = self._extract(spark, self.pages_path, table_dir, tracer, resume, stats)
            ok = self.check_table(spark, table_dir)
        except Exception:  # noqa: BLE001 — a failed pass is counted, not fatal
            traceback.print_exc()
            ok = False
        if not ok:
            self.failed += 1
            return None
        return wall

    def curate_pass(self, spark, table_dir, tracer, stats=None) -> tuple[float, list[dict]] | None:
        """One checked curate-job pass (``curate()`` plus its parquet
        write) over the committed table; None when it failed.  With
        ``stats``, the pass's Spark totals land in ``self.curate_stats``."""
        self.attempted += 1
        out_dir = os.path.join(self.work, f"curated-{len(self.curate_hashes)}")
        try:
            start = stats.mark() if stats else None
            wall, funnel = self._curate(spark, table_dir, out_dir, tracer)
            if stats:
                self.curate_stats = stats.between(start)
            ok = self.check_curated(spark, out_dir, funnel)
        except Exception:  # noqa: BLE001 — a failed pass is counted, not fatal
            traceback.print_exc()
            ok = False
        shutil.rmtree(out_dir, ignore_errors=True)
        if not ok:
            self.failed += 1
            return None
        self.curate_walls.append(wall)
        return wall, funnel

    def _curate(self, spark, table_dir, out_dir, tracer):
        import jobs.curate as curate_job

        from pdf_parser_spark.spark.table import SnapshotParquetTable

        T = tracer
        t0 = time.perf_counter()
        with T.span("curate.job"):
            extracted = SnapshotParquetTable(spark, table_dir).read()
            with T.span("curate.curate"), StageSpans(curate_job, T):
                curated, funnel = curate_job.curate(extracted)
            with T.span("curate.write"):
                (curated.withColumnRenamed("_n_tok", "n_tokens")
                 .withColumnRenamed("_tok_removed", "span_tokens_removed")
                 .write.mode("overwrite").parquet(out_dir))
                curated.unpersist()
        return time.perf_counter() - t0, funnel

    # -- checks (untimed) ------------------------------------------------

    def check_table(self, spark, table_dir) -> bool:
        """Each input url exactly once; text and error kind per url equal
        to the in-process engine."""
        from pyspark.sql import functions as F

        from pdf_parser_spark.spark.table import SnapshotParquetTable

        rows = (SnapshotParquetTable(spark, table_dir).read()
                .select("url", F.sha2("text_extracted", 256).alias("sha"),
                        "decode_error_kind", "size_class").collect())
        urls = [r.url for r in rows]
        ok = len(urls) == len(set(urls)) and set(urls) == self.urls
        if not ok:
            print(f"check: table holds {len(urls)} rows, {len(set(urls))} distinct urls, "
                  f"expected each of {self.n_docs} once", file=sys.stderr)
        bad = {r.url for r in rows if self.ref.get(r.url) != (r.sha, r.decode_error_kind)}
        self.mismatched |= bad
        self.size_classes = {}
        for r in rows:
            self.size_classes[r.size_class] = self.size_classes.get(r.size_class, 0) + 1
        return ok and not bad

    def check_curated(self, spark, out_dir, funnel) -> bool:
        """See ``curated_ok``; the digest is taken over the sorted
        per-row hashes of every column."""
        from pyspark.sql import functions as F

        df = spark.read.parquet(out_dir)
        rows = df.select("url", F.sha2(F.to_json(F.struct(*sorted(df.columns))), 256)
                         .alias("h")).collect()
        urls = [r.url for r in rows]
        digest = hashlib.sha256("\n".join(sorted(r.h for r in rows)).encode()).hexdigest()
        self.curate_hashes.append(digest)
        ok = curated_ok(urls, funnel[-1]["rows"], self.urls, self.curate_hashes)
        if not ok:
            print(f"check: curate output {len(rows)} rows vs funnel {funnel[-1]['rows']}, "
                  f"hashes {self.curate_hashes}", file=sys.stderr)
        return ok

    def report(self) -> dict:
        """Run facts printed above the result line."""
        out = {"failed_frac": self.failed / max(1, self.attempted),
               "mismatch_docs": len(self.mismatched)}
        if self.curate_hashes:
            out["curate_hash"] = self.curate_hashes[-1]
        if self.warm_walls:
            out["extract_warm_walls_s"] = [round(w, 4) for w in self.warm_walls]
        if self.walls:
            out["extract_pass_walls_s"] = [round(w, 4) for w in self.walls]
        if self.curate_walls:
            out["curate_pass_walls_s"] = [round(w, 4) for w in self.curate_walls]
        if self.peak_rss:
            # printed but not an end-to-end metric: the JVM heap grows by
            # different amounts from run to run (2.0-3.3 GB on pdf_heavy)
            out["peak_rss_mb"] = self.peak_rss / MB
        return out


def curated_ok(urls: list[str], funnel_rows: int, input_urls: set[str],
               digests: list[str]) -> bool:
    """A curate output passes when its row count matches the funnel's
    last row, its urls are unique input urls, and every curate pass of
    the run so far produced the same digest."""
    return (len(urls) == funnel_rows and len(set(urls)) == len(urls)
            and set(urls) <= input_urls and len(set(digests)) == 1)


class StageSpans:
    """Wrap the curate stage functions in ``module`` so each stage's span
    runs from its call to the next stage's call (or the end of
    ``curate()``): a stage's plan is built by its call, and the funnel
    materializes it before the next stage is called."""

    def __init__(self, module, tracer):
        self.module, self.tracer = module, tracer
        self.saved = {name: getattr(module, name) for name in CURATE_STAGES}
        self.open: int | None = None

    def _wrap(self, name, fn):
        def stage(*args, **kwargs):
            self._close()
            self.open = self.tracer.begin(f"curate.{name}")
            return fn(*args, **kwargs)
        return stage

    def _close(self) -> None:
        if self.open is not None:
            self.tracer.end(self.open)
            self.open = None

    def __enter__(self):
        if self.tracer.enabled:
            for name, fn in self.saved.items():
                setattr(self.module, name, self._wrap(name, fn))
        return self

    def __exit__(self, *exc) -> None:
        self._close()
        for name, fn in self.saved.items():
            setattr(self.module, name, fn)


# ---------------------------------------------------------------- probes


def scan_probe(spark, path: str) -> float:
    """Bare parquet scan of the pages to a noop sink."""
    t0 = time.perf_counter()
    spark.read.parquet(path).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def arrow_floor_probe(spark, path: str) -> float:
    """A trivial pandas UDF over ``html``: the Arrow/Python-worker cost
    with no engine work."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def n_bytes(html):
        return html.map(len)

    # real classes, not the postponed string hints, so pandas_udf can
    # infer a Series -> Series UDF
    n_bytes.__annotations__ = {"html": pd.Series, "return": pd.Series}
    udf = pandas_udf(n_bytes, "long")
    t0 = time.perf_counter()
    spark.read.parquet(path).select(udf("html")).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def resume_probes(spark, pages_path: str, table_dir: str) -> dict[str, float]:
    """``committed_urls`` and the ``resume_filter`` anti-join of the full
    pages against ``table_dir``, each run to completion."""
    from pdf_parser_spark.spark.job import resume_filter
    from pdf_parser_spark.spark.table import SnapshotParquetTable

    out = SnapshotParquetTable(spark, table_dir)
    t0 = time.perf_counter()
    out.committed_urls().count()
    t1 = time.perf_counter()
    (resume_filter(spark.read.parquet(pages_path), out.committed_urls())
     .write.format("noop").mode("overwrite").save())
    return {"committed_urls_s": t1 - t0, "resume_filter_s": time.perf_counter() - t1}


def written_files(table_dir: str) -> tuple[int, int]:
    """(files, bytes) of the parquet files in a table's snapshot dirs."""
    n = size = 0
    for d in os.listdir(table_dir):
        if not d.startswith("snap-"):
            continue
        for f in os.listdir(os.path.join(table_dir, d)):
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(table_dir, d, f))
    return n, size


# ------------------------------------------------------------- metrics


def e2e_metrics(n_docs, mb, setup_s, extract_walls, curate_wall) -> dict[str, float]:
    """End-to-end metrics of an untraced run.  ``curate_wall`` is None on
    workloads whose product path ends with the extract job."""
    wall = statistics.median(extract_walls)
    return {
        "setup_s": setup_s,
        "extract_docs_per_s": n_docs / wall,
        "extract_mb_per_s": mb / wall,
        "e2e_docs_per_s": n_docs / (wall + (curate_wall or 0.0)),
    }


def layer_metrics(m: dict) -> dict[str, float]:
    """Per-layer metrics of a traced run from the measured pieces in
    ``m`` (see ``traced_run``)."""
    job, lin, cur = m["job_stats"], m["lineage_stats"], m["curate_stats"]
    out = {
        "session.build_s": m["build_s"],
        "session.python_worker_start_s": m["setup_stats"]["python_start_s"],
        **m["engine"],
        "udfs.python_init_s": lin["python_init_s"],
        "udfs.python_run_s": lin["python_run_s"],
        "udfs.bytes_to_python": lin["bytes_to_python"],
        "udfs.bytes_from_python": lin["bytes_from_python"],
        "udfs.arrow_floor_s": m["arrow_floor_s"],
        "udfs.outside_engine_frac":
            1.0 - m["engine"]["engine.extract_document_s"] / (m["nproc"] * m["ledger"]["job.lineage"]),
        "scan.pages_s": m["scan_s"],
        "job.extract_s": m["traced_wall"],
        # run_extract and persist are lazy, so the scan, the UDFs and the
        # engine all run inside the lineage window: this is the extraction
        "job.lineage_s": m["ledger"]["job.lineage"],
        "job.resume_filter_s": m["resume"]["resume_filter_s"],
        "job.heavy_docs": m["size_classes"].get("heavy", 0),
        "job.normal_docs": m["size_classes"].get("normal", 0),
        "job.task_s_max_over_p50": lin["task_s_max_over_p50"],
        "job.executor_cpu_s": job["executor_cpu_s"],
        "job.gc_s": job["gc_s"],
        "job.spark_jobs": job["spark_jobs"],
        "job.scaling_eff": m["scaling_eff"],
        "table.append_s": m["ledger"]["table.append"],
        "table.committed_urls_s": m["resume"]["committed_urls_s"],
        "table.compact_s": m["replay_ledger"]["table.compact"],
        "table.bytes_written": m["written"][1],
        "table.files_written": m["written"][0],
    }
    funnel = {row["stage"]: row["rows"] for row in m["funnel"]}
    for name, row in CURATE_STAGES.items():
        out[f"curate.{name}_s"] = m["spans"][f"curate.{name}"]
        out[f"curate.{name}_rows_out"] = funnel[row]
    out["curate.curate_s"] = m["spans"]["curate.curate"]
    out["curate.curate_rows_out"] = m["funnel"][-1]["rows"]
    out["curate.write_s"] = m["spans"]["curate.write"]
    out["curate.docs_per_s"] = funnel["input"] / m["curate_wall"]
    out["curate.spark_jobs"] = cur["spark_jobs"]
    out["curate.shuffle_write_bytes"] = cur["shuffle_write_bytes"]
    out["curate.spill_bytes"] = cur["spill_bytes"]
    # the work tracing adds inside the pass: status-store reads and the
    # driver-thread CPU clock read at each span's ends
    out["trace.overhead_frac"] = ((m["ledger"]["trace.status_store"] + m["clock_s"])
                                  / m["traced_wall"])
    out["peak_rss_mb"] = m["peak_rss"] / MB
    out["trace.ledger_gap_frac"] = abs(sum(m["spark_ledger"].values()) / m["traced_wall"] - 1.0)
    return out


# ----------------------------------------------------------------- runs


def untraced_run(b: Bench, seconds: float, n: int, rss) -> dict | None:
    from perfbench.engine_probe import reference

    b.ref = reference(b.pages)
    with rss:
        spark, _, setup_s = b.setup(f"local[{n}]")
        try:
            if not b.warm(spark):
                return None
            walls, table = b.walls, None
            while sum(walls) < seconds or len(walls) < MIN_PASSES:
                if table:
                    shutil.rmtree(table)
                table = b.new_table()
                wall = b.extract_pass(spark, table, b.untraced)
                if wall is None:
                    return None
                walls.append(wall)
            curate_wall = None
            if b.workload == "crawl_mix":
                done = b.curate_pass(spark, table, b.untraced)
                if done is None:
                    return None
                curate_wall = done[0]
        finally:
            shutdown(spark)
    b.peak_rss = rss.peak
    return e2e_metrics(b.n_docs, b.mb, setup_s, walls, curate_wall)


def traced_run(b: Bench, n: int, rss) -> dict | None:
    """The traced extract pass follows the warm passes, and the traced
    curate pass follows the extract passes, as the timed passes of an
    untraced run do, so the ledgers explain such passes.  A resumed
    ``--compact`` replay of the extract job then runs over a table whose
    one snapshot holds a seeded ``RESUME_FRAC`` of the urls: the
    anti-join, the extraction of the rest, a second append and the
    compaction of two snapshots all do real work.  On ``crawl_mix`` an
    untimed curate pass over the replayed table must then hash the same
    as the traced one: two independently committed tables, one curate
    output.  (Untraced runs make one curate pass over the corpus; a
    second would add about a fifth to a run.)  The scaling leg restarts the session (same
    JVM, same settings) at ``local[1]`` and times one pass after the
    warm-up slice, against the last warm pass at ``local[n]``."""
    from perfbench import corpus
    from perfbench.engine_probe import engine_layers
    from perfbench.trace import SparkStats, StatusMark

    T = b.tracer
    m: dict = {"nproc": n}
    m["engine"], b.ref = engine_layers(b.pages)
    resume_path = os.path.join(b.work, "resume.parquet")
    corpus.write_pages(corpus.subset(b.pages, b.seed, RESUME_FRAC), resume_path, files=n)
    with rss:
        spark, m["build_s"], _ = b.setup(f"local[{n}]")
        try:
            stats = SparkStats(spark)
            T.cpu_clock = stats.driver_cpu
            m["setup_stats"] = stats.between(StatusMark(-1, -1, -1))
            if not b.warm(spark):
                return None
            table = b.new_table()
            clock_s = T.clock_s
            m["traced_wall"] = b.extract_pass(spark, table, T, stats)
            if m["traced_wall"] is None:
                return None
            m["clock_s"] = T.clock_s - clock_s
            m["size_classes"] = dict(b.size_classes)
            m["job_stats"], m["lineage_stats"] = b.pass_stats
            (idx,) = T.find("job.extract")
            m["ledger"] = T.ledger(idx)
            m["spark_ledger"] = b.ledger = T.spark_ledger(idx, b.pass_intervals)
            m["written"] = written_files(table)
            done = b.curate_pass(spark, table, T, stats)
            if done is None:
                return None
            m["curate_wall"], m["funnel"] = done
            m["curate_stats"] = b.curate_stats
            m["scan_s"] = scan_probe(spark, b.pages_path)
            m["arrow_floor_s"] = arrow_floor_probe(spark, b.pages_path)
            resumed = b.new_table()
            b._extract(spark, resume_path, resumed, b.untraced)
            m["resume"] = resume_probes(spark, b.pages_path, resumed)
            if b.extract_pass(spark, resumed, T, resume=True) is None:
                return None
            m["replay_ledger"] = T.ledger(T.find("job.extract")[1])
            if b.workload == "crawl_mix" and b.curate_pass(spark, resumed, b.untraced) is None:
                return None
            spark.stop()
            spark, _, _ = b.setup("local[1]")
            one_core = b.extract_pass(spark, b.new_table(), b.untraced)
            if one_core is None:
                return None
            m["scaling_eff"] = one_core / (n * b.warm_walls[-1])
        finally:
            shutdown(spark)
    m["spans"] = {s.name: T.total(s.name) for s in T.spans}
    m["peak_rss"] = rss.peak
    return layer_metrics(m)


def print_trace_summary(b: Bench, wall: float, ledger_ok: bool) -> None:
    """The traced pass's ledger (both clocks) and every span name's self
    time."""
    tracer = b.tracer
    idx = tracer.find("job.extract")[0]
    for label, parts in (("extract spans (s)", tracer.ledger(idx)),
                         ("extract ledger, Spark clock (s)", b.ledger)):
        print(f"{label}: " + ", ".join(f"{k} {v:.4f}" for k, v in parts.items())
              + f"; sum {sum(parts.values()):.4f}; wall {wall:.4f}")
    print(f"ledger balanced {ledger_ok}")
    own: dict[str, float] = {}
    for i, span in enumerate(tracer.spans):
        own[span.name] = own.get(span.name, 0.0) + tracer.self_time(i)
    print("self time (s): " + ", ".join(f"{k} {v:.4f}" for k, v in own.items()))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["crawl_mix", "pdf_heavy"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    try:
        import pyspark  # noqa: F401

        import jobs.curate  # noqa: F401
        from perfbench import corpus  # noqa: F401
        from perfbench.engine_probe import reference  # noqa: F401
        from perfbench.trace import RssSampler, ledger_balanced
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {d["name"]: d["unit"] for d in spec["end_to_end"] + spec["per_layer"]}

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        prepare_env(work)
        b = Bench(args.workload, args.seed, work, traced=bool(args.trace))
        rss = RssSampler(os.getpid())
        n = nproc()
        if args.trace:
            metrics = traced_run(b, n, rss)
        else:
            metrics = untraced_run(b, args.seconds, n, rss)
        if args.trace and metrics is not None:
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            b.tracer.write(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only when no other run uses it

    info = b.report()
    ledger_ok = True
    if args.trace and metrics is not None:
        ledger_ok = ledger_balanced(b.ledger, metrics["job.extract_s"])
        print_trace_summary(b, metrics["job.extract_s"], ledger_ok)
    for k, v in info.items():
        print(f"{k} {v}")
    correct = (metrics is not None and b.failed == 0 and not b.mismatched and ledger_ok)
    result = {"correct": correct, "attempted": max(1, b.attempted), "failed": b.failed,
              "metrics": {}}
    if metrics is not None:
        for name, value in metrics.items():
            print(f"{name} {value} {units[name]}")
        result["metrics"] = {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}
    print(json.dumps(result))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
