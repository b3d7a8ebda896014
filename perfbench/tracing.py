"""Outside-in tracing: spans around public calls, a timing catalog, and
Spark's own per-node SQL metrics.

Nothing here reaches into the program. Spans are opened by the benchmark
around calls into each layer's public functions; ``TimingCatalog`` is a
``ParquetCatalog`` handed to ``ExtractJob(catalog=...)`` so the job's own
listing, chunk writes and lineage appends become child spans; and
``SqlMetrics`` reads the per-node metrics Spark keeps in its SQL status
store after each traced job.

Spans stay in memory and are written out once, at the end of a run.
"""

from __future__ import annotations

import json
import re
import time
import uuid
from contextlib import contextmanager

from go_boilerpipe_spark.sources.catalog import ParquetCatalog


class Tracer:
    """Span recorder. Every span carries name, start, end (seconds since
    the tracer was made), its parent span's id and the tracer's run id."""

    def __init__(self):
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "run_id": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter() - self._t0, "end": None}
        rec.update(attrs)
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the part of it its children cover."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out = {}
        for s in self.spans:
            covered, cur_end = 0.0, s["start"]
            for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cur_end), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def self_total(self, name: str) -> float:
        st = self.self_times()
        return sum(st[s["id"]] for s in self.spans if s["name"] == name)

    def dump(self, path: str, extra: dict | None = None):
        st = self.self_times()
        spans = [dict(s, self_s=st[s["id"]]) for s in self.spans]
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": spans,
                       **(extra or {})}, f, indent=1, default=str)


class NullTracer:
    """The untraced stand-in: ``span`` records nothing."""

    @contextmanager
    def span(self, name: str, **attrs):
        yield None


class TimingCatalog(ParquetCatalog):
    """``ParquetCatalog`` whose calls are spans: ``sources.list`` for the
    input listing, ``plans.extract_job.chunk_write`` for the chunk commit
    (the write runs the chunk's whole extraction plan) and
    ``plans.extract_job.lineage_append`` for the lineage rows."""

    def __init__(self, spark, tracer):
        super().__init__(spark)
        self.tracer = tracer

    def list_data_files(self, table: str):
        with self.tracer.span("sources.list") as rec:
            files = super().list_data_files(table)
            rec["files"] = len(files)
            rec["bytes"] = sum(size for _, size in files)
            return files

    def overwrite_partition(self, df, table: str, partition: str):
        with self.tracer.span("plans.extract_job.chunk_write",
                              partition=partition):
            super().overwrite_partition(df, table, partition)

    def append(self, df, table: str):
        with self.tracer.span("plans.extract_job.lineage_append"):
            super().append(df, table)


# -- Spark SQL metrics ---------------------------------------------------------

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
         "TiB": 1 << 40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_NUM = re.compile(r"(-?\d[\d,]*(?:\.\d+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> dict:
    """Parse one formatted SQL metric value into numbers.

    Spark formats sums as ``1,234``, and size and timing metrics as
    ``total (min, med, max (stageId: taskId))\\n12.0 MiB (1.0 MiB, ...)``.
    Sizes come back in bytes and times in seconds; keys ``total`` and,
    where Spark gives them, ``min``, ``med`` and ``max`` per task."""
    body = text.split("\n")[-1]
    body = re.sub(r"\(stage [^)]*\)", "", body)
    vals = []
    for num, unit in _NUM.findall(body):
        x = float(num.replace(",", ""))
        x *= _SIZE.get(unit, _TIME.get(unit, 1.0))
        vals.append(x)
    if not vals:
        return {}
    out = {"total": vals[0]}
    if len(vals) >= 4:
        out.update(min=vals[1], med=vals[2], max=vals[3])
    return out


def _seq(jvm, obj) -> list:
    return list(jvm.scala.jdk.javaapi.CollectionConverters.asJava(obj))


class SqlMetrics:
    """Reads per-node metrics of the SQL executions that finished since the
    last call, from ``sharedState().statusStore()``."""

    def __init__(self, spark):
        self.jvm = spark._jvm
        self.store = spark._jsparkSession.sharedState().statusStore()
        self.seen = {int(e.executionId()) for e in
                     _seq(self.jvm, self.store.executionsList())}

    def _new_executions(self) -> list[int]:
        """Ids of the finished executions not seen before; marks them seen."""
        new = []
        for e in _seq(self.jvm, self.store.executionsList()):
            eid = int(e.executionId())
            if eid not in self.seen and not e.completionTime().isEmpty():
                self.seen.add(eid)
                new.append(eid)
        return new

    def skip(self) -> None:
        """Mark the executions finished so far as seen without reading
        their metrics (each read is many calls into the JVM)."""
        self._new_executions()

    def new_nodes(self) -> list[dict]:
        """One dict per plan node of every new execution: ``name`` and
        ``metrics`` (metric name -> parsed values)."""
        out = []
        for eid in self._new_executions():
            values = self.store.executionMetrics(eid)
            graph = self.store.planGraph(eid)
            for node in _seq(self.jvm, graph.allNodes()):
                metrics = {}
                for m in _seq(self.jvm, node.metrics()):
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        metrics[m.name()] = parse_metric(v.get())
                out.append({"execution": eid, "name": node.name(),
                            "metrics": metrics})
        return out


def summarize_nodes(nodes: list[dict]) -> dict:
    """Fold plan-node metrics into the per-layer figures: the Python
    boundary (MapInArrow, ArrowEvalPython and the other Python and pandas
    UDF nodes), the exchanges and the scans."""

    def tot(node, *names):
        for n in names:
            m = node["metrics"].get(n)
            if m:
                return m.get("total", 0.0)
        return 0.0

    py = [n for n in nodes
          if any(k in n["name"] for k in ("Python", "Arrow", "Pandas"))]
    ex = [n for n in nodes if n["name"].startswith("Exchange")]
    skews = []
    for n in ex:
        m = n["metrics"].get("shuffle bytes written") or {}
        if m.get("med"):
            skews.append(m["max"] / m["med"])
    return {
        "python_start_s": sum(tot(n, "time to start Python workers") for n in py),
        "python_init_s": sum(tot(n, "time to initialize Python workers") for n in py),
        "python_run_s": sum(tot(n, "time to run Python workers",
                                "time spent executing UDFs") for n in py),
        "python_bytes_in": sum(tot(n, "data sent to Python workers") for n in py),
        "python_bytes_out": sum(tot(n, "data returned from Python workers") for n in py),
        "exchange_count": len(ex),
        "shuffle_bytes": sum(tot(n, "shuffle bytes written") for n in ex),
        "shuffle_records": sum(tot(n, "shuffle records written") for n in ex),
        "fetch_wait_s": sum(tot(n, "fetch wait time") for n in ex),
        "exchange_skew": max(skews) if skews else 1.0,
        "scan_s": sum(tot(n, "scan time") for n in nodes),
        "scan_bytes": sum(tot(n, "size of files read") for n in nodes),
    }
