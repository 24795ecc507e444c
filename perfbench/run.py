"""Seeded end-to-end benchmark of spark-extract.

    python3 perfbench/run.py --workload extract_fresh --seed 1 \
        --seconds 10 --trace 0

Run from the repository root. One run starts one local[N] Spark session
in this process (N = min(4, nproc)), drives one workload through the
program's public entry points and checks its outputs:

- extract_fresh: `pdf_extraction_api_spark.job.main` over a seeded
  pages corpus into an empty warehouse, once per measured pass.
- extract_resume: `job.main --resume`; an untimed preparation run of
  the same `job.main` commits 75% of the urls first, and each pass adds
  a distinct 25% slice of new docs to a copy of that warehouse.
- headline_queries: one pass over the 15 headline registry queries of
  `__spark_entry__.queries()` (noop sink), in a seed-drawn order.

BENCHMARK.json lists extract_fresh and headline_queries only: a
regression comparison makes 4 + 22 seeded runs per listed workload
within an hour, which a third workload's runs do not fit, so
extract_resume (the only one that exercises `SnapshotCatalog.read` and
the resume anti-join) is run by hand.

With --trace 0 the last stdout line is the result JSON with the
end-to-end metrics; with --trace 1 it carries the per-layer metrics of
a traced run (tracing on every other pass; the passes in between give
the untraced time, so the difference is the tracing overhead). Work
files live under .perfbench/ in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager, nullcontext
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench"
REQUIRED = ("pdf_extraction_api_spark/job.py", "__spark_entry__.py",
            "fixtures/gen_pages.py", "refkernel/extract.py",
            "tools/check_oracles.py")

NPROC = len(os.sched_getaffinity(0))
CORES = min(4, NPROC)
DRIVER_MEMORY = "3g"

# Corpus layout. Spark packs small files into scan splits of about
# total/cores bytes, so how shards pack depends on their sizes. With 16
# shards of 500 docs, pass time swung by up to a third between seeds
# whose kernel work was equal; 8 * cores + 1 smaller shards scan as
# `cores` tasks and halved that spread. A task's ~1,900 docs exceed the
# kernel memo's 1,024 entries per worker, so no pass reuses results
# memoized by the one before it.
SHARDS = 8 * CORES + 1
DOCS_PER_SHARD = 240
EXTRACT_DOCS = SHARDS * DOCS_PER_SHARD
RESUME_COMMITTED = 0.75
ID_STRIDE = 1_000_000      # page sets of one seed take disjoint doc ids
PARITY_SAMPLE = 40
KERNEL_SPLIT_SAMPLE = 200

HEADLINE = [
    "a11_grand_totals", "j1_packaging_join", "j2_range_join",
    "w1_row_number", "w3_topk", "d1_dedup_hash", "dd_minhash_lsh",
    "dd_simhash", "dd_embed_lsh", "ann_topk_brute", "tx_quality",
    "mm_image_metrics", "q5_local_supplier", "aj_asof_join",
    "ex4_flagship_rollup",
]

# Times are CPU seconds of the benchmark's process tree (driver, JVM,
# Python workers), not wall seconds: on a shared host, wall time of the
# same pass doubled while other guests took a fifth of the CPUs (host
# steal 20%), and CPU seconds rose by a tenth to a fifth. Wall times are
# printed with every run and are per-layer metrics of the traced run.
END_TO_END = {"pass_cpu_s": "s", "setup_s": "s", "peak_rss_mb": "MB"}

PER_LAYER = {
    "setup.wall_s": "s", "setup.session_s": "s",
    "setup.worker_first_s": "s",
    "sources.scan_s": "s", "sources.files_read": "count",
    "sources.bytes_read_mb": "MB", "sources.tasks": "count",
    "sources.task_s_max_over_median": "ratio",
    "extract.python_start_s": "s", "extract.python_init_s": "s",
    "extract.python_run_s": "s", "extract.mb_to_python": "MB",
    "extract.mb_from_python": "MB", "extract.boundary_s": "s",
    "kernel.kernel_s": "s", "kernel.doc_us_p50": "us",
    "kernel.doc_us_p99": "us", "kernel.doc_us_max": "us",
    "kernel.error_docs": "count", "kernel.parse_us_per_doc": "us",
    "kernel.tables_us_per_doc": "us", "kernel.assemble_us_per_doc": "us",
    "catalog.append_results_s": "s", "catalog.append_audit_s": "s",
    "catalog.read_s": "s", "catalog.mb_written": "MB",
    "catalog.files_written": "count", "resume.filter_s": "s",
    "resume.skipped_frac": "ratio",
    **{f"operators.{q}_s": "s" for q in HEADLINE},
    "operators.shuffle_mb": "MB", "operators.python_run_s": "s",
    "input.docs": "count", "input.files": "count",
    "input.doc_bytes_p50": "B", "input.doc_bytes_p99": "B",
    "input.dup_body_frac": "ratio",
    "self.job_main_s": "s", "self.load_pages_s": "s",
    "self.resume_filter_s": "s", "self.run_extraction_s": "s",
    "self.kernel_pass_s": "s", "self.audit_metrics_s": "s",
    "self.queries_s": "s", "self.trace_only_s": "s",
    "memory.jvm_hwm_mb": "MB",
    "trace.pass_s": "s", "trace.untraced_pass_s": "s",
    "trace.overhead_s": "s",
}


class Run:
    """State of one benchmark run: the session, the tracer and the
    operation counts that feed `attempted` and `failed`."""

    def __init__(self, workload: str, seed: int, seconds: float,
                 trace: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.rng = random.Random(f"{workload}:{seed}")
        self.attempted = 0
        self.failed = 0
        self.spark = None
        self.tracer = None
        self.sql = None
        self.setup: dict[str, float] = {}
        self.layers: list[dict[str, float]] = []   # one per traced pass
        self.untraced: list[float] = []   # pass wall times
        self.traced: list[float] = []
        self.untraced_cpu: list[float] = []   # pass CPU seconds
        self.extra: dict[str, float] = {}
        self.context: dict = {}
        self.scratch = WORK / "run" / workload
        # session settings beyond the master, memory, UI and dirs
        self.conf: dict[str, str] = {}

    # -- session -------------------------------------------------------

    def start(self, warmup) -> None:
        """Session start + first Python worker + the untimed warm-up
        pass. setup_s is their CPU seconds, setup.wall_s their wall time."""
        from pyspark.sql import SparkSession

        from perfbench.trace import SqlMetrics, Tracer, tree_cpu_s

        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        builder = (
            SparkSession.builder.master(f"local[{CORES}]")
            .appName(f"perfbench-{self.workload}")
            .config("spark.driver.memory", DRIVER_MEMORY)
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.local.dir", str(WORK / "spark-local"))
            # keeps the JVM's temp files inside the checkout
            .config("spark.driver.extraJavaOptions",
                    f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData")
        )
        for key, value in self.conf.items():
            builder = builder.config(key, value)
        self.spark = builder.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        self.spark.range(CORES, numPartitions=CORES).mapInArrow(
            _identity, "id long").collect()
        t2 = time.perf_counter()
        self.tracer = Tracer(f"{self.workload}-{self.seed}", False,
                             self.spark.sparkContext)
        warmup()
        t3 = time.perf_counter()
        self.setup = {"setup_s": tree_cpu_s() - c0, "setup.wall_s": t3 - t0,
                      "setup.session_s": t1 - t0,
                      "setup.worker_first_s": t2 - t1}
        if self.trace:
            self.sql = SqlMetrics(self.spark)

    def jvm_pid(self) -> int:
        return self.spark.sparkContext._gateway.proc.pid

    def stop(self) -> None:
        """Stop the session and the JVM and wait until it has exited."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is None:
            return
        proc = gateway.proc
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        proc.stdin.close()  # the JVM exits on EOF from its parent
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()

    # -- measured loop -------------------------------------------------

    def measure(self, one_pass) -> None:
        """Run passes until `seconds` of timed pass time have elapsed.
        A traced run alternates untraced and traced passes."""
        spent, k = 0.0, 0
        while spent < self.seconds or (self.trace and not self.traced) \
                or not (self.untraced or self.traced):
            traced = self.trace and k % 2 == 1
            self.tracer.enabled = traced
            if traced:
                self.sql.new_executions()  # drop untraced executions
                root = len(self.tracer.spans)
            dt, cpu = one_pass(k, traced)
            (self.traced if traced else self.untraced).append(dt)
            if not traced:
                self.untraced_cpu.append(cpu)
            if traced:
                self.layers.append(self.layer_metrics(root))
            spent += dt
            k += 1

    def layer_metrics(self, root: int) -> dict[str, float]:
        raise NotImplementedError

    # -- result --------------------------------------------------------

    def result(self) -> dict:
        from perfbench.trace import peak_rss_mb

        rss = peak_rss_mb(self.jvm_pid())
        # the JVM's own peak follows G1's heap sizing and swings by a
        # fifth between runs of the same code, so it is a layer metric
        metrics = {"pass_cpu_s": statistics.median(self.untraced_cpu),
                   "setup_s": self.setup["setup_s"],
                   "peak_rss_mb": rss["driver"] + sum(rss["workers"])}
        self.context["rss_mb"] = rss
        self.context["passes"] = self.untraced
        self.context["pass_cpu"] = self.untraced_cpu
        self.context["setup"] = self.setup
        if not self.trace:
            return metrics
        layer = {name: 0.0 for name in PER_LAYER}
        for name in PER_LAYER:
            vals = [d[name] for d in self.layers if name in d]
            if vals:
                layer[name] = statistics.median(vals)
        layer.update({k: v for k, v in self.setup.items() if k in layer})
        layer.update(self.extra)
        layer["memory.jvm_hwm_mb"] = rss["jvm"]
        layer["trace.pass_s"] = statistics.median(self.traced)
        layer["trace.untraced_pass_s"] = statistics.median(self.untraced)
        layer["trace.overhead_s"] = (layer["trace.pass_s"]
                                     - layer["trace.untraced_pass_s"])
        self.context["end_to_end"] = metrics
        self.context["layers"] = self.layers
        return layer


def _identity(batches):
    yield from batches


def _run_job(argv: list[str]) -> None:
    from pdf_extraction_api_spark import job

    rc = job.main(argv)
    if rc != 0:
        raise RuntimeError(f"job.main{argv} returned {rc}")


@contextmanager
def traced_program(tracer, kernel_stats: list):
    """Wrap the program's public functions that job.main calls in
    spans. job.main imports them at call time, so patching the module
    attributes is enough; the originals are restored on exit. Inside
    the results append, the cached kernel output is materialised in its
    own span (`kernel_pass`) so the kernel and the write separate."""
    import pdf_extraction_api_spark.plans.extract as px
    from pdf_extraction_api_spark.sources.catalog import SnapshotCatalog

    saved = {n: getattr(px, n) for n in
             ("load_pages", "resume_filter", "run_extraction",
              "audit_metrics")}
    saved_cat = {n: getattr(SnapshotCatalog, n) for n in ("append", "read")}

    def wrap(name, fn):
        def traced(*a, **k):
            with tracer.span(name):
                return fn(*a, **k)
        return traced

    def audit_metrics(results, run_id):
        with tracer.span("audit_metrics"):
            with tracer.span("trace.kernel_stats"):
                kernel_stats.append(_kernel_stats(results))
            return saved["audit_metrics"](results, run_id)

    def append(self, df, table, run_id):
        with tracer.span(f"catalog.append.{table}"):
            if table == "results":
                with tracer.span("kernel_pass"):
                    df.count()
            return saved_cat["append"](self, df, table, run_id)

    def read(self, spark, table, as_of=None):
        with tracer.span("catalog.read"):
            return saved_cat["read"](self, spark, table, as_of)

    for n in ("load_pages", "resume_filter", "run_extraction"):
        setattr(px, n, wrap(n, saved[n]))
    px.audit_metrics = audit_metrics
    SnapshotCatalog.append = append
    SnapshotCatalog.read = read
    try:
        yield
    finally:
        for n, fn in saved.items():
            setattr(px, n, fn)
        for n, fn in saved_cat.items():
            setattr(SnapshotCatalog, n, fn)


def _kernel_stats(results) -> dict[str, float]:
    from pyspark.sql import functions as F

    row = results.agg(
        F.percentile_approx("kernel_us", [0.5, 0.99], 10000).alias("p"),
        F.max("kernel_us").alias("mx"), F.sum("kernel_us").alias("s"),
        F.count("error").alias("err")).collect()[0]
    return {"kernel.doc_us_p50": float(row["p"][0]),
            "kernel.doc_us_p99": float(row["p"][1]),
            "kernel.doc_us_max": float(row["mx"]),
            "kernel.kernel_s": row["s"] / 1e6,
            "kernel.error_docs": float(row["err"])}


def _is_pages_scan(node) -> bool:
    return node["name"].startswith("Scan") and "html" in node["desc"]


def _python_layer(execs) -> dict[str, float]:
    """extract.* and task straggle from the MapInArrow metrics."""
    from perfbench.trace import metric_sum

    run = [n["metrics"]["time to run Python workers"]
           for e in execs for n in e["nodes"]
           if "time to run Python workers" in n["metrics"]
           and n["metrics"]["time to run Python workers"].get("med")]
    return {
        "extract.python_start_s":
            metric_sum(execs, "time to start Python workers"),
        "extract.python_init_s":
            metric_sum(execs, "time to initialize Python workers"),
        "extract.python_run_s":
            metric_sum(execs, "time to run Python workers"),
        "extract.mb_to_python":
            metric_sum(execs, "data sent to Python workers") / 2**20,
        "extract.mb_from_python":
            metric_sum(execs, "data returned from Python workers") / 2**20,
        "sources.task_s_max_over_median":
            max((m["max"] / m["med"] for m in run), default=0.0),
    }


def _scan_layer(execs, scans=_is_pages_scan) -> dict[str, float]:
    from perfbench.trace import metric_sum

    return {
        "sources.scan_s": metric_sum(execs, "scan time", node_filter=scans),
        "sources.files_read": metric_sum(execs, "number of files read",
                                         node_filter=scans),
        "sources.bytes_read_mb": metric_sum(
            execs, "size of files read", node_filter=scans) / 2**20,
    }


# --- extract workloads -------------------------------------------------

class ExtractRun(Run):
    """Shared by extract_fresh and extract_resume."""

    def __init__(self, *a, **k):
        from perfbench.inputs import input_set

        super().__init__(*a, **k)
        self.data = input_set(WORK, self.workload, EXTRACT_DOCS, self.seed)
        self.kernel_stats: list[dict] = []
        self.input_sets: list[dict] = []

    def timed_job(self, argv: list[str], traced: bool
                  ) -> tuple[float, float]:
        """Wall and CPU seconds of one job.main call."""
        from perfbench.trace import tree_cpu_s

        with traced_program(self.tracer, self.kernel_stats) \
                if traced else nullcontext():
            with self.tracer.span("job.main"):
                c0, t0 = tree_cpu_s(), time.perf_counter()
                _run_job(argv)
                return time.perf_counter() - t0, tree_cpu_s() - c0

    def layer_metrics(self, root: int) -> dict[str, float]:
        from perfbench.trace import metric_sum

        execs = self.sql.new_executions()
        by = {}
        for e in execs:
            by.setdefault(e["description"], []).append(e)
        kern = by.get("kernel_pass", [])
        appends = (by.get("catalog.append.results", [])
                   + by.get("catalog.append.audit", []))
        self_t = self.tracer.self_times(root)
        out = {**_scan_layer(kern), **_python_layer(kern),
               **self.kernel_stats[-1]}
        out["sources.tasks"] = max((e["tasks"] for e in kern), default=0)
        out["extract.boundary_s"] = (out["extract.python_run_s"]
                                     - out["kernel.kernel_s"])
        scanned = metric_sum(kern, "number of output rows",
                             node_filter=_is_pages_scan)
        kernel_rows = metric_sum(
            kern, "number of output rows",
            node_filter=lambda n: n["name"].startswith("MapInArrow"))
        out["resume.skipped_frac"] = (1 - kernel_rows / scanned
                                      if scanned else 0.0)
        out["resume.filter_s"] = sum(
            metric_sum(kern, m) for m in
            ("time to collect", "time to build", "time to broadcast"))
        out["catalog.mb_written"] = metric_sum(appends,
                                               "written output") / 2**20
        out["catalog.files_written"] = metric_sum(appends,
                                                  "number of written files")
        out["catalog.append_results_s"] = self_t.get(
            "catalog.append.results", 0.0)
        out["catalog.append_audit_s"] = self_t.get(
            "catalog.append.audit", 0.0)
        out["catalog.read_s"] = self_t.get("catalog.read", 0.0)
        for span in ("job.main", "load_pages", "resume_filter",
                     "run_extraction", "kernel_pass", "audit_metrics"):
            out[f"self.{span.replace('.', '_')}_s"] = self_t.get(span, 0.0)
        out["self.trace_only_s"] = self_t.get("trace.kernel_stats", 0.0)
        self.context.setdefault("self_times", []).append(self_t)
        return out

    def check_parity(self, warehouse: Path, pages_dir: Path,
                     urls: list[str]) -> None:
        import pyarrow.dataset as ds

        from perfbench import checks

        sample = self.rng.sample(urls, min(PARITY_SAMPLE, len(urls)))
        table = ds.dataset(str(pages_dir), format="parquet").to_table(
            columns=["url", "html"], filter=ds.field("url").isin(sample))
        htmls = dict(zip(table.column("url").to_pylist(),
                         table.column("html").to_pylist()))
        self.attempted += len(sample)
        self.failed += checks.parity(warehouse, htmls)

    def finish_trace(self, pages_dir: Path) -> None:
        """Single-thread kernel split on a seeded sample of the docs."""
        import pyarrow.parquet as pq

        from perfbench.inputs import input_properties
        from perfbench.trace import kernel_split

        self.extra.update(input_properties(self.input_sets))
        rows = []
        for f in sorted(pages_dir.glob("*.parquet")):
            t = pq.read_table(f, columns=["url", "html"])
            rows += list(zip(t.column("url").to_pylist(),
                             t.column("html").to_pylist()))
        self.extra.update(kernel_split(
            self.rng.sample(rows, min(KERNEL_SPLIT_SAMPLE, len(rows)))))


class FreshRun(ExtractRun):
    def go(self) -> None:
        from perfbench import checks, inputs

        corpus, props = inputs.pages(self.data, "corpus", 0, EXTRACT_DOCS,
                                     self.seed, DOCS_PER_SHARD)
        self.input_sets = [props]
        expected = set(props["urls"])

        def one_pass(k: int, traced: bool) -> tuple[float, float]:
            wh = self.scratch / f"wh-{k}"
            shutil.rmtree(wh, ignore_errors=True)
            timing = self.timed_job(["--pages", str(corpus), "--warehouse",
                                     str(wh), "--run-id", f"p{k}"], traced)
            self.attempted += EXTRACT_DOCS
            self.failed += checks.exactly_once(wh, expected, f"p{k}",
                                               EXTRACT_DOCS)
            self.last_wh = wh
            return timing

        self.start(lambda: one_pass(-1, False))  # untimed warm-up
        self.measure(one_pass)
        self.check_parity(self.last_wh, corpus, props["urls"])
        self.context["docs_per_s"] = EXTRACT_DOCS / statistics.median(
            self.traced if self.trace else self.untraced)
        if self.trace:
            self.finish_trace(corpus)


class ResumeRun(ExtractRun):
    def go(self) -> None:
        from perfbench import checks, inputs

        # every shard holds committed and new docs in the same 3:1
        # proportion, so each scan task gets a quarter of the new docs
        n_old = int(EXTRACT_DOCS * RESUME_COMMITTED)
        n_new = EXTRACT_DOCS - n_old
        old, old_props = inputs.pages(self.data, "committed", 0, n_old,
                                      self.seed, n_old // SHARDS)
        base = self.scratch / "base-wh"

        def one_pass(k: int, traced: bool) -> tuple[float, float]:
            new, props = inputs.pages(self.data, f"new{k}",
                                      (k + 2) * ID_STRIDE, n_new, self.seed,
                                      n_new // SHARDS)
            self.input_sets = [old_props, props]
            pages_dir = self.scratch / f"pages-{k}"
            inputs.merge_pages(pages_dir, old, new)
            wh = self.scratch / f"wh-{k}"
            shutil.rmtree(wh, ignore_errors=True)
            shutil.copytree(base, wh, copy_function=os.link)
            timing = self.timed_job(
                ["--pages", str(pages_dir), "--warehouse", str(wh),
                 "--run-id", f"p{k}", "--resume"], traced)
            self.attempted += n_new
            self.failed += checks.exactly_once(
                wh, set(old_props["urls"]) | set(props["urls"]), f"p{k}",
                n_new)
            self.last = (wh, new, props["urls"], pages_dir)
            return timing

        def warmup():
            """The untimed preparation commit, then one untimed pass."""
            _run_job(["--pages", str(old), "--warehouse", str(base),
                      "--run-id", "prep"])
            self.attempted += n_old
            self.failed += checks.exactly_once(
                base, set(old_props["urls"]), "prep", n_old)
            one_pass(-1, False)

        self.start(warmup)
        self.measure(one_pass)
        wh, new, urls, pages_dir = self.last
        self.check_parity(wh, new, urls)
        self.context["docs_per_s"] = n_new / statistics.median(
            self.traced if self.trace else self.untraced)
        if self.trace:
            self.finish_trace(pages_dir)


# --- headline queries ----------------------------------------------------

class QueriesRun(Run):
    def __init__(self, *a, **k):
        from perfbench.inputs import TABLE_ROWS, input_set

        super().__init__(*a, **k)
        self.data = input_set(WORK, self.workload, TABLE_ROWS["lineitem"],
                              self.seed)
        # capped_bucket_pairs reads this key with a "0" fallback that
        # Spark rejects, so dd_minhash_lsh fails while it is unset; the
        # value is bench.py's headline-query setting for this core count
        self.conf = {"spark.sql.shuffle.partitions": str(max(CORES, 8))}

    def go(self) -> None:
        import duckdb

        import __spark_entry__ as entry
        from perfbench import checks, inputs
        from perfbench.trace import tree_cpu_s

        sf, props = inputs.query_tables(self.data, self.seed)
        self.extra.update(props)
        queries = entry.queries()
        oracles = entry.oracle_sql()
        warm_rows: dict[str, tuple[list[str], list[tuple]]] = {}

        def warmup():
            for name in self.rng.sample(HEADLINE, len(HEADLINE)):
                try:
                    df = queries[name](self.spark, str(sf))
                    warm_rows[name] = (df.columns,
                                       [tuple(r) for r in df.collect()])
                except Exception:
                    traceback.print_exc()

        self.start(warmup)
        con = duckdb.connect()
        for t in inputs.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{sf / (t + '.parquet')}')")
        for name in HEADLINE:
            self.attempted += 1
            if name not in warm_rows:
                self.failed += 1
            elif name in oracles:
                cols, rows = warm_rows[name]
                self.failed += checks.oracle(con, oracles[name], cols, rows)
            else:
                expected = inputs.TABLE_ROWS["documents"]
                self.failed += int(len(warm_rows[name][1]) != expected)
        con.close()

        def one_pass(k: int, traced: bool) -> tuple[float, float]:
            order = self.rng.sample(HEADLINE, len(HEADLINE))
            with self.tracer.span("queries"):
                c0, t0 = tree_cpu_s(), time.perf_counter()
                for name in order:
                    self.attempted += 1
                    with self.tracer.span(f"query.{name}"):
                        try:
                            queries[name](self.spark, str(sf)).write.format(
                                "noop").mode("overwrite").save()
                        except Exception:
                            traceback.print_exc()
                            self.failed += 1
                return time.perf_counter() - t0, tree_cpu_s() - c0

        self.measure(one_pass)

    def layer_metrics(self, root: int) -> dict[str, float]:
        from perfbench.trace import metric_sum

        execs = self.sql.new_executions()
        spans = [s for s in self.tracer.spans[root:]
                 if s["name"].startswith("query.")]
        out = {f"operators.{s['name'][6:]}_s": s["end"] - s["start"]
               for s in spans}
        out["operators.shuffle_mb"] = metric_sum(
            execs, "shuffle bytes written") / 2**20
        out["operators.python_run_s"] = metric_sum(
            execs, "time to run Python workers")
        out.update(_scan_layer(
            execs, lambda n: n["name"].startswith("Scan")))
        kernel = [e for e in execs
                  if e["description"] == "query.ex4_flagship_rollup"]
        out.update(_python_layer(kernel))
        self_t = self.tracer.self_times(root)
        out["self.queries_s"] = sum(v for k, v in self_t.items()
                                    if k.startswith("query."))
        out["self.job_main_s"] = self_t.get("queries", 0.0)
        self.context.setdefault("self_times", []).append(self_t)
        return out


WORKLOADS = {"extract_fresh": FreshRun, "extract_resume": ResumeRun,
             "headline_queries": QueriesRun}


def _percentile_line(name: str, vals: list[float], unit: str) -> str:
    """Median plus the highest percentile with at least ten samples
    beyond it (the max when there are too few), with the count."""
    vals = sorted(vals)
    n = len(vals)
    tail = "max"
    hi = vals[-1]
    for q in (99, 90):
        if n * (100 - q) / 100 >= 10:
            tail, hi = f"p{q}", statistics.quantiles(vals, n=100)[q - 1]
            break
    return (f"{name:<16} median {statistics.median(vals):.4f} {unit}, "
            f"{tail} {hi:.4f} {unit} (n={n})")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in REQUIRED if not (ROOT / p).is_file()]
    if missing:
        print(f"perfbench: not a spark-extract checkout (missing "
              f"{', '.join(missing)})", file=sys.stderr)
        return 2

    (WORK / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    sys.path.insert(0, str(ROOT))
    import tempfile
    tempfile.tempdir = str(WORK / "tmp")

    from perfbench.trace import cpu_times, steal_frac

    run = WORKLOADS[args.workload](args.workload, args.seed, args.seconds,
                                   bool(args.trace))
    shutil.rmtree(run.scratch, ignore_errors=True)
    cpu0 = cpu_times()
    t0 = time.perf_counter()
    metrics, ok = {}, True
    try:
        run.go()
        metrics = run.result()
    except Exception:
        traceback.print_exc()
        ok = False
    finally:
        run.stop()
        shutil.rmtree(run.scratch, ignore_errors=True)
        shutil.rmtree(WORK / "tmp", ignore_errors=True)
        if run.tracer is not None and run.trace:
            run.tracer.dump(WORK / "traces"
                            / f"{args.workload}-s{args.seed}.jsonl")
    steal = steal_frac(cpu0, cpu_times())

    attempted = max(1, run.attempted)
    failed = run.failed if ok else attempted
    units = PER_LAYER if args.trace else END_TO_END
    print(f"workload {args.workload}  seed {args.seed}  local[{CORES}]  "
          f"nproc {NPROC}  host steal {100 * steal:.2f}%")
    if ok and not args.trace:
        print(_percentile_line("pass_s", run.context["passes"], "s"))
        if "docs_per_s" in run.context:
            print(f"{'docs_per_s':<16} {run.context['docs_per_s']:.1f} "
                  "docs/s")
        else:
            print(f"{'query_pass_s':<16} "
                  f"{statistics.median(run.context['passes']):.4f} s")
        print(_percentile_line("pass_cpu_s", run.context["pass_cpu"], "s"))
        print(f"{'setup_wall_s':<16} {run.setup['setup.wall_s']:.4f} s")
        for name in ("setup_s", "peak_rss_mb"):
            print(f"{name:<16} {metrics[name]:.4f} {units[name]}")
    print(f"{'failed_frac':<16} {failed / attempted:.4f} ratio "
          f"({failed}/{attempted})")
    record = {"workload": args.workload, "seed": args.seed, "cores": CORES,
              "nproc": NPROC, "steal_frac": steal, "trace": args.trace,
              "metrics": metrics, "context": run.context,
              "attempted": attempted, "failed": failed,
              "wall_s": time.perf_counter() - t0}
    out = WORK / "out" / f"{args.workload}-s{args.seed}-t{args.trace}.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps(record, indent=1, default=float))
    print(json.dumps({
        "correct": ok and failed == 0, "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items() if k in units}}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
