"""Tracing for the benchmark's traced runs.

Two sources of per-layer numbers, both read from outside the engine:

- ``Tracer`` wraps the public functions of the layers under test
  (``sources.tables`` probes, spreads and table loads,
  ``session.one_compute_boundary``, and the ``DataFrameWriter`` calls the
  ``plans`` sinks make) and records a span and a count for each call while
  it is active. Spans are kept in memory and written out at the end.
- ``SparkStats`` reads Spark's own status stores (jobs, stages, SQL
  executions, storage) over py4j, per job group.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from collections import Counter
from contextlib import contextmanager

_WRITER_METHODS = ("save", "parquet", "orc", "json", "csv", "text", "saveAsTable", "insertInto")


def dir_usage(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``; hidden and ``_``-prefixed files
    (``_SUCCESS``, ``.crc``) count toward bytes only."""
    if os.path.isfile(path):
        return os.path.getsize(path), 1
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            try:
                size += os.path.getsize(os.path.join(root, n))
            except OSError:
                continue
            files += not n.startswith(("_", "."))
    return size, files


class Tracer:
    """Spans and counters at the layer boundaries, recorded while active."""

    def __init__(self) -> None:
        self.active = False
        self.spans: list[dict] = []
        self.counts: Counter = Counter()
        self._stack: list[int] = []
        self._in_spread = False
        self._bench_action = False

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.active:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None, "name": name}
        rec.update(attrs)
        self.spans.append(rec)
        self._stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def bench_action(self):
        """The benchmark's own noop sink: not a ``plans`` write."""
        self._bench_action = True
        try:
            yield
        finally:
            self._bench_action = False

    def _add_time(self, name: str, rec_start: float) -> None:
        self.counts[name] += time.perf_counter() - rec_start

    # -- wrappers -----------------------------------------------------------

    def _wrap_load_table(self, fn):
        def load_table(*a, **kw):
            if not self.active:
                return fn(*a, **kw)
            self.counts["sources.load_table_calls"] += 1
            with self.span("sources.load_table"):
                return fn(*a, **kw)

        return load_table

    def _wrap_probe(self, fn):
        def probe(df, *a, **kw):
            if not self.active:
                return fn(df, *a, **kw)
            t0 = time.perf_counter()
            with self.span("sources.probe", fn=fn.__name__):
                out = fn(df, *a, **kw)
            self._add_time("sources.probe_s", t0)
            self.counts["sources.probe_calls"] += 1
            self.counts["sources.probe_files_read"] += len(df.inputFiles())
            return out

        probe.__name__ = fn.__name__
        return probe

    def _wrap_spread(self, fn):
        def spread(df, *a, **kw):
            if not self.active or self._in_spread:
                return fn(df, *a, **kw)
            self._in_spread = True
            try:
                with self.span("sources.spread", fn=fn.__name__):
                    out = fn(df, *a, **kw)
            finally:
                self._in_spread = False
            self.counts["sources.spread_calls"] += 1
            self.counts["sources.spread_fanouts"] += out is not df
            return out

        spread.__name__ = fn.__name__
        return spread

    def _wrap_boundary(self, fn):
        def one_compute_boundary(*a, **kw):
            if self.active:
                self.counts["session.boundary_calls"] += 1
            return fn(*a, **kw)

        return one_compute_boundary

    def _wrap_writer(self, fn):
        tracer = self

        def write(self, *a, **kw):
            if not tracer.active or tracer._bench_action:
                return fn(self, *a, **kw)
            path = kw.get("path", a[0] if a and fn.__name__ != "saveAsTable" else None)
            t0 = time.perf_counter()
            with tracer.span("plans.write", fn=fn.__name__):
                out = fn(self, *a, **kw)
            tracer._add_time("plans.write_s", t0)
            if isinstance(path, str) and os.path.exists(path):
                size, files = dir_usage(path)
                tracer.counts["plans.bytes_written"] += size
                tracer.counts["plans.files_written"] += files
            return out

        write.__name__ = fn.__name__
        return write

    def install(self) -> None:
        """Wrap the layer functions everywhere the engine has bound them."""
        from pyspark.sql.readwriter import DataFrameWriter

        from gvcf_hbase_spark import session
        from gvcf_hbase_spark.sources import tables

        swaps = {
            tables.load_table: self._wrap_load_table(tables.load_table),
            tables.scan_size_bytes: self._wrap_probe(tables.scan_size_bytes),
            tables.scan_raw_bytes: self._wrap_probe(tables.scan_raw_bytes),
            tables.spread: self._wrap_spread(tables.spread),
            tables.spread_heavy: self._wrap_spread(tables.spread_heavy),
            session.one_compute_boundary: self._wrap_boundary(session.one_compute_boundary),
        }
        for name, mod in list(sys.modules.items()):
            if mod is None or not name.startswith("gvcf_hbase_spark"):
                continue
            for attr, value in list(vars(mod).items()):
                if callable(value) and value in swaps:
                    setattr(mod, attr, swaps[value])
        for m in _WRITER_METHODS:
            setattr(DataFrameWriter, m, self._wrap_writer(getattr(DataFrameWriter, m)))

    def dump(self, path: str) -> None:
        """Write the spans with their self times (duration minus the time
        their child spans cover) as one JSON document."""
        child_s: Counter = Counter()
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] += s["end"] - s["start"]
        out = []
        for s in self.spans:
            dur = s["end"] - s["start"]
            out.append(dict(s, dur_s=dur, self_s=dur - child_s[s["id"]]))
        with open(path, "w") as f:
            json.dump({"spans": out}, f)


# -- Spark status stores -----------------------------------------------------

_PY_NODE = re.compile(r"Python|InPandas|InArrow")
_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_SIZE_RE = re.compile(r"([0-9.]+) (B|KiB|MiB|GiB|TiB)")


def _seq(scala_seq):
    return [scala_seq.apply(i) for i in range(scala_seq.length())]


def plan_shape(df) -> dict[str, float]:
    """Time to the executed plan, and its exchange and Python node counts."""
    t0 = time.perf_counter()
    plan = df._jdf.queryExecution().executedPlan()
    plan_s = time.perf_counter() - t0
    shape = {"spark.plan_s": plan_s, "spark.exchanges": 0,
             "spark.single_partition_exchanges": 0, "spark.python_nodes": 0}
    for line in plan.toString().splitlines():
        node = line.lstrip(" :+-*(0123456789)").split(" ", 1)
        head = node[0]
        if "Exchange" in head:
            shape["spark.exchanges"] += 1
            if len(node) > 1 and node[1].startswith("SinglePartition"):
                shape["spark.single_partition_exchanges"] += 1
        elif _PY_NODE.search(head):
            shape["spark.python_nodes"] += 1
    return shape


class SparkStats:
    """Per-job-group executor counters from the application status store."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self._last_exec = -1

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event so far."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def job_ids(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def stage_totals(self, groups: list[str]) -> dict[str, float]:
        """Summed stage metrics of every job started under ``groups``."""
        wanted: set[int] = set()
        n_jobs = 0
        for g in groups:
            for j in self.job_ids(g):
                n_jobs += 1
                info = self.sc.statusTracker().getJobInfo(j)
                if info is not None:
                    wanted.update(int(s) for s in info.stageIds)
        st = self.store
        stages = _seq(
            st.stageList(None, False, False,
                         getattr(st, "stageList$default$4")(),
                         getattr(st, "stageList$default$5")())
        )
        t = Counter({"spark.jobs": n_jobs})
        for s in stages:
            if s.stageId() not in wanted or str(s.status()) not in ("COMPLETE", "FAILED"):
                continue
            t["spark.stages"] += 1
            t["spark.tasks"] += s.numTasks()
            t["spark.failed_tasks"] += s.numFailedTasks()
            t["spark.task_run_s"] += s.executorRunTime() / 1e3
            t["spark.task_cpu_s"] += s.executorCpuTime() / 1e9
            t["spark.gc_s"] += s.jvmGcTime() / 1e3
            t["spark.input_bytes"] += s.inputBytes()
            t["spark.shuffle_write_bytes"] += s.shuffleWriteBytes()
            t["spark.shuffle_read_bytes"] += s.shuffleReadBytes()
            t["spark.spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        return dict(t)

    def python_bytes_since_last(self) -> int:
        """Bytes sent to Python workers by SQL executions started since the
        previous call."""
        total = 0
        for ex in _seq(self.sql_store.executionsList()):
            eid = ex.executionId()
            if eid <= self._last_exec:
                continue
            self._last_exec = max(self._last_exec, eid)
            acc = {m.accumulatorId() for m in _seq(ex.metrics()) if "sent to Python" in m.name()}
            if not acc:
                continue
            it = self.sql_store.executionMetrics(eid).iterator()
            while it.hasNext():
                kv = it.next()
                if kv._1() in acc:
                    total += _parse_size(kv._2())
        return total

    def persisted(self) -> dict[str, float]:
        rdds = _seq(self.store.rddList(True))
        return {
            "session.persisted_rdds_live": self.sc._jsc.getPersistentRDDs().size(),
            "session.persisted_bytes_live": sum(r.memoryUsed() + r.diskUsed() for r in rdds),
        }


def _parse_size(text: str) -> int:
    """Total of a formatted size metric: ``"1.5 MiB"`` or
    ``"total (min, med, max ...)\\n1.5 MiB (...)"``."""
    body = text.split("\n", 1)[-1]
    m = _SIZE_RE.search(body)
    return int(float(m.group(1)) * _SIZE_UNITS[m.group(2)]) if m else 0
