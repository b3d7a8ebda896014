"""The benchmark's workloads and the measurements around them.

Every workload is a closed loop with one client: one job at a time, driven
from this process against the program's public API, at ``local[4]`` (the
``scaling_eff`` pass of ``crawl_extract`` runs at ``local[1]``). The
program receives only the generated parquet tables.

- ``crawl_extract``: ``ExtractJob.run`` over unique news pages into a
  fresh sink with the default chunk size.
- ``curate_text``: ten ``__spark_entry__.queries()`` entries over a
  generated ``documents.parquet``, each collected to the driver.

Each run starts a fresh JVM and does the same sequence of work, so a
measured iteration sits at the same point of the JVM's warm-up in every
run: a fixed number of iterations is timed (more only if ``--seconds`` is
not yet used up), after one untimed warm-up job for ``crawl_extract`` and
with none for ``curate_text``, whose timed pass is each query's first
execution. Set-up is timed three times: once at the start, which also pays
the JVM launch, and twice after the timed iterations; ``setup_s`` is the
median.

Set-up, correctness checks and the in-process kernel pass run outside the
timed regions. End-to-end figures come from untraced iterations only; a
traced run alternates untraced and traced iterations and ends on an
untraced one; the tracing overhead is the median of each traced
iteration's wall minus that of the untraced iteration after it.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
import zlib
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager, nullcontext

import pyarrow as pa

import gen
import oracle
import procstat
import tracing

CORES = 4
LOCAL = f"local[{CORES}]"
# An iteration during which the hypervisor stole, or other processes used,
# this many cores on average measured the neighbourhood, not the program;
# such iterations are counted in the report.
CONTENDED_CORES = 0.25
SETUP_REPEATS = 3
DEFAULT_SEED = 1

CRAWL_PAGES = 1400
CRAWL_FILES = 8
CRAWL_ITERATIONS = 4
LOCAL1_ITERATIONS = 2
CURATE_DOCS = 600

# The queries timed by curate_text, with the per-layer metric of each.
# dup_ngrams, quality and curate_pipeline are left out to keep a run within
# the benchmark's time (see README.md).
CURATE_QUERIES = {
    "dedup_minhash_lsh": "operators.dedup.minhash_lsh_s",
    "near_dup_jaccard": "operators.dedup.jaccard_s",
    "dedup_simhash": "operators.dedup.simhash_s",
    "fingerprint_winnow": "operators.dedup.winnow_s",
    "dedup_clusters": "operators.graph.clusters_s",
    "segment_dedup": "operators.curation.segment_dedup_s",
    "token_rarity": "operators.curation.token_rarity_s",
    "repetition_stats": "operators.curation.repetition_s",
    "lang_id": "functions.textstats.lang_id_s",
    "url_normalize": "functions.urls.normalize_s",
}

EXTRACT_COLUMNS = ("url", "title", "author", "date", "content", "n_blocks",
                   "n_content_blocks", "parse_error")


class Run:
    """State of one benchmark invocation: work directory, tracer, session,
    and the figures gathered so far."""

    def __init__(self, root: str, workload: str, seed: int, seconds: float,
                 trace: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.traced = trace
        self.work = os.path.join(root, ".perfbench_work", workload)
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(os.path.join(self.work, "tmp"), exist_ok=True)
        self.tracer = tracing.Tracer() if trace else tracing.NullTracer()
        self.spark = None
        self.setups: list[tuple[float, float, float]] = []
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.info: dict = {}
        self.attempted = 0
        self.failed = 0
        self.gates: list[tuple[str, bool, str]] = []

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def span(self, name: str, traced: bool = True):
        """A span when this part of the run is traced, else nothing."""
        return self.tracer.span(name) if traced else nullcontext()

    @contextmanager
    def phase(self, name: str):
        """Wall time of one phase of the run, for the report."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            phases = self.info.setdefault("phases", {})
            phases[name] = round(phases.get(name, 0.0)
                                 + time.perf_counter() - t0, 3)

    def gate(self, name: str, ok: bool, detail: str = ""):
        self.gates.append((name, bool(ok), detail))

    def close(self):
        """Stop the session and the JVM behind it, and drop the work
        directory."""
        from pyspark import SparkContext

        with self.phase("close"):
            if self.spark is not None:
                self.spark.stop()
                self.spark = None
            gateway = SparkContext._gateway
            if gateway is not None:
                proc = getattr(gateway, "proc", None)
                gateway.shutdown()
                if proc is not None:
                    proc.terminate()
                    try:
                        proc.wait(timeout=60)
                    except subprocess.TimeoutExpired:
                        proc.kill()
                        proc.wait()
                SparkContext._gateway = None
                SparkContext._jvm = None
            shutil.rmtree(self.work, ignore_errors=True)


# -- session set-up ------------------------------------------------------------

def _build(run: Run, master: str):
    from go_boilerpipe_spark.spark_session import build_session

    tmp = run.path("tmp")
    spark = build_session(
        app_name=f"perfbench-{run.workload}",
        master=master,
        extra_conf={
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": run.path("warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _warm_workers(spark, n: int) -> int:
    """Start ``n`` Python workers and load the kernel in each; returns 1
    when every worker runs the compiled kernel."""
    from probe import kernel_probe

    rows = (spark.range(0, n, 1, n)
            .mapInArrow(kernel_probe, "pid long, c_path int").collect())
    return min(r.c_path for r in rows)


def set_up(run: Run, master: str = LOCAL) -> None:
    """One set-up: stop the current session, build a new one and warm its
    Python workers (which loads the kernel in each)."""
    with run.phase(f"setup {master}"):
        if run.spark is not None:
            run.spark.stop()
            run.spark = None
        with run.span("setup"):
            t0 = time.perf_counter()
            with run.span("spark_session.build"):
                run.spark = _build(run, master)
            t1 = time.perf_counter()
            with run.span("spark_session.warm"):
                c_path = _warm_workers(run.spark, 1 if master == "local[1]" else CORES)
            t2 = time.perf_counter()
    if master == LOCAL:
        run.setups.append((t2 - t0, t1 - t0, t2 - t1))
        run.layer["kernel.c_path"] = min(c_path, run.layer.get("kernel.c_path", 1))


def finish_setups(run: Run) -> None:
    """The remaining set-ups, then ``setup_s`` as the median of all."""
    while len(run.setups) < SETUP_REPEATS:
        set_up(run)
    totals, builds, warms = zip(*run.setups)
    run.e2e["setup_s"] = statistics.median(totals)
    run.info["setup_s_each"] = [round(t, 3) for t in totals]
    run.layer["spark_session.build_s"] = statistics.median(builds)
    run.layer["spark_session.warm_s"] = statistics.median(warms)


# -- the measurement loop ------------------------------------------------------

class Loop:
    """Times ``body(traced)`` at least ``min_iters`` times and until the
    run's seconds are used. Each iteration's region records wall, tree
    CPU, peak RSS and contention; untraced and traced iterations alternate
    in a traced run, which ends on an untraced one."""

    def __init__(self, run: Run, sampler: procstat.TreeSampler):
        self.run = run
        self.sampler = sampler
        self.untraced: list[dict] = []
        self.traced: list[dict] = []
        self.order: list[dict] = []

    def _region(self, body, traced: bool) -> dict:
        self.sampler.reset()
        self.sampler.sample()
        with procstat.Region() as r:
            out = body(traced)
        self.sampler.sample()
        rec = {"wall_s": r.wall_s, "cpu_s": r.cpu_s,
               "peak_rss_mb": self.sampler.peak / 1e6,
               "steal_cores": r.steal_cores, "foreign_cores": r.foreign_cores}
        rec.update(out)
        return rec

    def go(self, body, after=None, min_iters: int = 1) -> None:
        """``body(traced)`` runs inside the timed region and returns a dict
        of figures that override the region's; ``after(rec, traced)`` runs
        outside it."""
        with self.run.phase("measure"):
            t_end = time.perf_counter() + self.run.seconds
            i = 0
            while (len(self.untraced) < min_iters
                   or time.perf_counter() < t_end
                   or (self.run.traced and (not self.traced or i % 2 == 0))):
                traced = self.run.traced and i % 2 == 1
                rec = self._region(body, traced)
                if after is not None:
                    after(rec, traced)
                (self.traced if traced else self.untraced).append(rec)
                self.order.append(rec)
                i += 1

    def med(self, key: str, traced: bool = False) -> float:
        """Median over the traced or the untraced iterations."""
        return _median_of(self.traced if traced else self.untraced, key)

    def report(self) -> None:
        run = self.run
        for k in ("wall_s", "cpu_s", "peak_rss_mb", "docs_per_s"):
            run.e2e[k] = self.med(k)
        run.info["iteration_walls"] = [round(r["wall_s"], 3)
                                       for r in self.untraced]
        run.info["contended_iterations"] = sum(
            r["steal_cores"] + r["foreign_cores"] >= CONTENDED_CORES
            for r in self.untraced)
        for k in ("steal_cores", "foreign_cores"):
            run.info[k] = max(r[k] for r in self.untraced)
            run.layer[f"host.{k}"] = run.info[k]
        if self.traced:
            # each traced iteration against the untraced one right after
            # it, so the JVM's warm-up between them counts against tracing
            traced_ids = {id(r) for r in self.traced}
            diffs = [a["wall_s"] - b["wall_s"]
                     for a, b in zip(self.order, self.order[1:])
                     if id(a) in traced_ids]
            run.layer["trace.overhead_s"] = statistics.median(diffs)


def _median_of(dicts: list[dict], key: str) -> float:
    vals = [d[key] for d in dicts if key in d]
    return statistics.median(vals) if vals else 0.0


def _pct(sorted_vals, q: float) -> float:
    if not sorted_vals:
        return 0.0
    return sorted_vals[min(len(sorted_vals) - 1, int(q * len(sorted_vals)))]


# -- extraction helpers --------------------------------------------------------

def _digest(rows) -> str:
    """Order-independent digest of extracted rows: sha256 over the sorted
    ``url\\tcontent`` lines."""
    h = hashlib.sha256()
    for url, content in sorted(rows, key=lambda r: r[0]):
        h.update(f"{url}\t{content}\n".encode("utf-8", "surrogatepass"))
    return h.hexdigest()


def _read_sink(spark, sink: str) -> tuple[dict, list[str]]:
    """(url -> extracted row tuple, urls seen more than once), through
    ``read_extracted``."""
    from go_boilerpipe_spark.plans.extract_job import read_extracted

    t = read_extracted(spark, sink).select(*EXTRACT_COLUMNS).toArrow()
    rows, dups = {}, []
    for row in zip(*(t.column(c).to_pylist() for c in EXTRACT_COLUMNS)):
        if row[0] in rows:
            dups.append(row[0])
        rows[row[0]] = row
    return rows, dups


def _scrub(s):
    """Invalid input bytes come out of the operator as U+FFFD."""
    if s is None:
        return None
    return s.encode("utf-8", "surrogateescape").decode("utf-8", "replace")


def _kernel_pass(payloads) -> tuple[dict, dict]:
    """In-process ``extract_content`` over distinct non-null payloads:
    per-payload expected output, and the kernel figures."""
    from go_boilerpipe_spark.kernel.document import extract_content

    expected, times, ld_times, n_bytes = {}, [], [], 0
    for html in payloads:
        t0 = time.perf_counter()
        title, author, date, content, nb, nc = extract_content(
            html.decode("utf-8", "surrogateescape"))
        dt = time.perf_counter() - t0
        times.append(dt)
        if b"application/ld+json" in html:
            ld_times.append(dt)
        n_bytes += len(html)
        expected[html] = (_scrub(title), _scrub(author), date,
                          _scrub(content), nb, nc)
    times.sort()
    busy = sum(times)
    return expected, {
        "kernel.docs": len(times),
        "kernel.busy_s": busy,
        "kernel.doc_us_p50": _pct(times, 0.50) * 1e6,
        "kernel.doc_us_p99": _pct(times, 0.99) * 1e6,
        "kernel.max_doc_s": times[-1] if times else 0.0,
        "kernel.mb_per_s": n_bytes / busy / 1e6 if busy else 0.0,
        "kernel.ldjson_docs": len(ld_times),
        "kernel.ldjson_busy_s": sum(ld_times),
    }


def _operator_pass(payloads) -> tuple[int, float]:
    """The operator's Arrow function over the payloads in session-sized
    (512-record) input batches, in-process: its output batches and its
    wall time (the kernel plus the Python side of the Arrow boundary,
    without Spark)."""
    from go_boilerpipe_spark.operators.extract import extract_record_batches

    payloads = list(payloads)

    def inputs():
        for k in range(0, len(payloads), 512):
            part = payloads[k:k + 512]
            yield pa.RecordBatch.from_pydict({"url": [""] * len(part),
                                              "html": part})

    t0 = time.perf_counter()
    n = sum(1 for _ in extract_record_batches(inputs()))
    return n, time.perf_counter() - t0


def _check_rows(run: Run, name: str, sink_rows, pages: dict,
                expected: dict) -> None:
    """Gate: the sink holds exactly one row per non-null input url, each
    equal to in-process ``extract_content`` on its page."""
    rows, dups = sink_rows
    bad = [f"{len(dups)} duplicate urls"] if dups else []
    if set(rows) != set(pages):
        bad.append(f"url sets differ: {len(rows)} in sink, {len(pages)} input")
    for url, html in pages.items():
        row = rows.get(url)
        if row is None:
            continue
        title, author, date, content, nb, nc = expected[html]
        if row[7] is not None:
            bad.append(f"{url}: parse_error {row[7]}")
        elif ((row[1], row[2] or "", row[3], row[4], row[5], row[6])
              != (title, author or "", date, content, nb, nc)):
            bad.append(f"{url}: differs from in-process extract_content")
    run.gate(name, not bad, "; ".join(bad[:3]))


def _extract_node_figures(nodes: list[dict]) -> dict:
    """Figures of the extraction operator's MapInArrow node(s)."""
    arrow = [n for n in nodes if n["name"] == "MapInArrow"]
    runs = [n["metrics"].get("time to run Python workers", {}) for n in arrow]
    skews = [m["max"] / m["med"] for m in runs if m.get("med")]
    return {"busy_s": sum(m.get("total", 0.0) for m in runs),
            "task_skew": max(skews) if skews else 1.0,
            "kernel_rows": sum(n["metrics"].get("number of output rows", {})
                               .get("total", 0) for n in arrow)}


def _task_failures(spark) -> int:
    st = spark.sparkContext.statusTracker()
    failed = 0
    for jid in st.getJobIdsForGroup(None):
        info = st.getJobInfo(jid)
        for sid in (info.stageIds if info else []):
            s = st.getStageInfo(sid)
            failed += s.numFailedTasks if s else 0
    return failed


def _spark_layers(run: Run, nodes: list[list[dict]]) -> dict:
    """Exchange, scan and Python-boundary figures from Spark's SQL metrics:
    the median over traced iterations of each folded figure."""
    folded = [tracing.summarize_nodes(n) for n in nodes]
    sql = {k: _median_of(folded, k) for k in (folded[0] if folded else {})}
    run.layer.update({
        "exchange.count": sql.get("exchange_count", 0.0),
        "exchange.shuffle_bytes": sql.get("shuffle_bytes", 0.0),
        "exchange.shuffle_records": sql.get("shuffle_records", 0.0),
        "exchange.fetch_wait_s": sql.get("fetch_wait_s", 0.0),
        "exchange.skew": sql.get("exchange_skew", 1.0),
        "sources.scan_s": sql.get("scan_s", 0.0),
        "sources.scan_bytes": sql.get("scan_bytes", 0.0),
        "python.run_s": sql.get("python_run_s", 0.0),
        "python.bytes_in": sql.get("python_bytes_in", 0.0),
        "python.bytes_out": sql.get("python_bytes_out", 0.0),
        "spark.task_failures": _task_failures(run.spark),
    })
    return sql


def _extract_layers(run: Run, loop: Loop, nodes: list[list[dict]],
                    kernel_stats: dict, payloads) -> None:
    """Per-layer figures of the extraction workload."""
    tr = run.tracer
    sql = _spark_layers(run, nodes)
    ext = [_extract_node_figures(n) for n in nodes]
    busy = _median_of(ext, "busy_s")
    docs_out = loop.med("docs", traced=True)
    n = max(len(loop.traced), 1)
    files = [s["files"] for s in tr.spans if s["name"] == "sources.list"]
    n_batches, op_s = _operator_pass(payloads)
    run.layer.update(kernel_stats)
    # how much of the operator's Python time the kernel itself takes
    run.info["kernel_share_of_python_run"] = (
        kernel_stats["kernel.busy_s"] / busy if busy else 0.0)
    run.layer.update({
        "operators.extract.busy_s": busy,
        "operators.extract.overhead_s": busy - kernel_stats["kernel.busy_s"],
        "operators.extract.batches_out": n_batches,
        "operators.extract.in_process_s": op_s,
        "operators.extract.python_start_s": sql.get("python_start_s", 0.0),
        "operators.extract.python_init_s": sql.get("python_init_s", 0.0),
        "operators.extract.python_run_s": sql.get("python_run_s", 0.0),
        "operators.extract.arrow_bytes_in": sql.get("python_bytes_in", 0.0),
        "operators.extract.arrow_bytes_out": sql.get("python_bytes_out", 0.0),
        "operators.extract.task_skew": _median_of(ext, "task_skew"),
        "operators.extract.kernel_docs_per_doc":
            _median_of(ext, "kernel_rows") / docs_out if docs_out else 0.0,
        "sources.list_s": tr.total("sources.list") / n,
        "sources.files": statistics.median(files) if files else 0,
        "plans.extract_job.run_s": tr.total("plans.extract_job.run") / n,
        "plans.extract_job.chunk_write_s":
            tr.total("plans.extract_job.chunk_write") / n,
        "plans.extract_job.lineage_append_s":
            tr.total("plans.extract_job.lineage_append") / n,
        "plans.extract_job.self_s":
            tr.self_total("plans.extract_job.run") / n,
    })


def _collect_nodes(sm, nodes: list, traced: bool) -> None:
    """Keep the SQL metrics of the iteration that just ended when it was
    traced; skip past them when it was not."""
    if sm is None:
        return
    if traced:
        nodes.append(sm.new_nodes())
    else:
        sm.skip()


# -- crawl_extract -------------------------------------------------------------

def _url_slice(urls) -> list[bool]:
    """The fixed quarter of urls used by the local[1] scaling pass."""
    return [zlib.crc32(u.encode()) % 4 == 0 for u in urls]


def crawl_extract(run: Run, sampler: procstat.TreeSampler) -> None:
    from go_boilerpipe_spark.plans.extract_job import ExtractJob

    with run.phase("gen"):
        table = gen.news_pages(run.seed, CRAWL_PAGES)
        urls = table.column("url").to_pylist()
        src, slice_src = run.path("in"), run.path("slice")
        gen.write_files(table, src, CRAWL_FILES)
        gen.write_files(table.filter(pa.array(_url_slice(urls))), slice_src, 2)
        pages = {u: h for u, h in zip(urls, table.column("html").to_pylist())
                 if h is not None}
    run.info["input"] = {"pages": len(urls),
                         "html_mb": round(sum(map(len, pages.values())) / 1e6, 3)}

    set_up(run)
    spark = run.spark
    sm = tracing.SqlMetrics(spark) if run.traced else None
    # the untimed first pass warms every plan
    warm = run.path("sink_warm")
    with run.phase("warm"):
        ExtractJob(spark, src, warm).run()

    loop, nodes = Loop(run, sampler), []

    def body(traced):
        sink = run.path(f"sink_{len(loop.untraced) + len(loop.traced)}")
        catalog = tracing.TimingCatalog(spark, run.tracer) if traced else None
        with run.span("plans.extract_job.run", traced):
            stats = ExtractJob(spark, src, sink, catalog=catalog).run()
        return {"docs": stats["docs_out"], "errors": stats["parse_errors"],
                "sink": sink}

    def after(rec, traced):
        rec["docs_per_s"] = rec["docs"] / rec["wall_s"]
        _collect_nodes(sm, nodes, traced)

    loop.go(body, after, min_iters=CRAWL_ITERATIONS)
    loop.report()
    for rec in loop.untraced:
        run.attempted += rec["docs"]
        run.failed += rec["errors"]

    with run.phase("check"):
        # the last untraced timed iteration's output is the one checked,
        # and the warm-up job's must equal it
        got = _read_sink(spark, loop.untraced[-1]["sink"])
        expected, kstats = _kernel_pass(pages.values())
        _check_rows(run, "crawl_extract.matches_in_process", got, pages,
                    expected)
        run.gate("crawl_extract.warm_up_output_equal",
                 _read_sink(spark, warm) == got,
                 "the warm-up job's sink differs from the last timed one")
        digest = _digest((u, r[4]) for u, r in got[0].items())
        run.info["content_digest"] = digest
        if run.seed == DEFAULT_SEED:
            want = _expected()["crawl_extract_digest"]
            run.gate("crawl_extract.default_seed_digest", digest == want,
                     f"{digest} != recorded {want}")
    if run.traced:
        _extract_layers(run, loop, nodes, kstats, pages.values())
    finish_setups(run)
    if run.traced:
        _scaling_pass(run, slice_src, urls, pages, got[0])


def _scaling_pass(run: Run, slice_src: str, urls, pages, got) -> None:
    """``scaling_eff``: the local[4] docs/s over four times the docs/s of
    the same job on the fixed url-hash quarter at local[1] (in two files
    where the whole input has eight, so each core reads as many files).
    The local[1] side gets an untimed warm-up job, as the local[4] side
    does, and its docs/s is the median of ``LOCAL1_ITERATIONS`` timed jobs;
    the last one's output must equal the local[4] output for those urls.
    Runs in traced runs only, to keep an untraced run short."""
    from go_boilerpipe_spark.plans.extract_job import ExtractJob

    set_up(run, master="local[1]")
    rates = []
    with run.phase("local[1] jobs"):
        ExtractJob(run.spark, slice_src, run.path("sink_local1_warm")).run()
        for k in range(LOCAL1_ITERATIONS):
            sink = run.path(f"sink_local1_{k}")
            with procstat.Region() as r:
                stats = ExtractJob(run.spark, slice_src, sink).run()
            rates.append(stats["docs_out"] / r.wall_s)
    dps1 = statistics.median(rates)
    run.info["local1_docs_per_s"] = dps1
    run.info["scaling_eff"] = run.e2e["docs_per_s"] / (CORES * dps1)
    run.layer["scaling_eff"] = run.info["scaling_eff"]
    one, dups = _read_sink(run.spark, sink)
    in_slice = {u for u, keep in zip(urls, _url_slice(urls))
                if keep and u in pages}
    d4 = _digest((u, got[u][4]) for u in in_slice if u in got)
    d1 = _digest((u, row[4]) for u, row in one.items())
    run.gate("crawl_extract.scaling_outputs_identical",
             d1 == d4 and set(one) == in_slice and not dups,
             f"{d1} != {d4}")


def _expected() -> dict:
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "expected.json")) as f:
        return json.load(f)


# -- curate_text ---------------------------------------------------------------

def curate_text(run: Run, sampler: procstat.TreeSampler) -> None:
    import pyarrow.parquet as pq

    import __spark_entry__ as entry

    with run.phase("gen"):
        table = gen.documents(run.seed, CURATE_DOCS)
        sf_dir = run.path("sf")
        os.makedirs(sf_dir)
        pq.write_table(table, os.path.join(sf_dir, "documents.parquet"),
                       compression="snappy")
    run.info["input"] = {"documents": table.num_rows}

    queries, oracles = entry.queries(), entry.oracle_sql()
    # The DuckDB twins run in a thread during the first set-up, which pays
    # the JVM launch and is never the median one; DuckDB releases the GIL
    # while it executes. On a 4-core VM this takes the 6.5 s of DuckDB off
    # the run's critical path and makes set-up #1 about 3.5 s longer.
    with ThreadPoolExecutor(1) as pool:
        duck = pool.submit(oracle.oracle_summaries, sf_dir,
                           {n: oracles[n] for n in CURATE_QUERIES})
        set_up(run)
        with run.phase("oracle wait"):
            want = duck.result()
    spark = run.spark
    sm = tracing.SqlMetrics(spark) if run.traced else None
    loop, nodes, got = Loop(run, sampler), [], {}

    def body(traced):
        # Each query's first execution in this JVM is the timed one:
        # planning, code generation and the run, collected to the driver so
        # that the execution timed is the one checked. (A warm second
        # execution would need a separate untimed pass of every query,
        # which the benchmark's time does not allow.)
        walls, failed, results = {}, 0, {}
        for name, metric in CURATE_QUERIES.items():
            t = time.perf_counter()
            with run.span(metric, traced):
                try:
                    results[name] = queries[name](spark, sf_dir).toPandas()
                except Exception as e:  # counted, and fails the run's gate
                    failed += 1
                    traceback.print_exc(file=sys.stderr)
                    run.gate(f"curate_text.ran.{name}", False, repr(e)[:200])
            walls[name] = time.perf_counter() - t
        if not got:
            got.update(results)
        wall = sum(walls.values())
        return {"walls": walls, "failed": failed, "wall_s": wall,
                "docs_per_s": table.num_rows / wall}

    loop.go(body, lambda rec, traced: _collect_nodes(sm, nodes, traced),
            min_iters=1)
    loop.report()
    # only the first pass is cold; a traced run's later passes are warm
    for k in ("wall_s", "cpu_s", "peak_rss_mb", "docs_per_s"):
        run.e2e[k] = loop.untraced[0][k]
    with run.phase("check"):
        for n in CURATE_QUERIES:
            ok, detail = (oracle.compare(oracle.summary(got[n]), want[n])
                          if n in got else (False, "query failed"))
            run.gate(f"curate_text.oracle.{n}", ok, detail)
    run.info["query_walls"] = {n: round(loop.untraced[0]["walls"][n], 3)
                               for n in CURATE_QUERIES}
    for rec in loop.untraced:
        run.attempted += len(rec["walls"])
        run.failed += rec["failed"]

    if run.traced:
        for name, metric in CURATE_QUERIES.items():
            run.layer[metric] = _median_of([r["walls"] for r in loop.traced], name)
        cand = len(got["dedup_minhash_lsh"])
        run.layer["operators.dedup.verify_yield"] = (
            len(got["near_dup_jaccard"]) / cand if cand else 0.0)
        _spark_layers(run, nodes)
    finish_setups(run)


WORKLOADS = {
    "crawl_extract": crawl_extract,
    "curate_text": curate_text,
}
