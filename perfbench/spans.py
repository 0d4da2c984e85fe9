"""Layer spans and Spark counters for the traced benchmark run.

Nothing here edits the engine. The tracer wraps the engine's public
functions from outside (module and class attributes are swapped for
timing wrappers), keeps every span in memory, and folds them into
per-layer figures when the run ends. Spark's own counters come from
the driver's status stores (jobs, stages, SQL executions) and from the
``QueryPlanningTracker`` of every executed query, read through a
``QueryExecutionListener``, and of every ``SparkSession.sql`` call.
Jobs, stages and SQL executions are attributed to an operation by time
window, which is exact with one client in a closed loop.
"""

from __future__ import annotations

import functools
import json
import os
import re
import sys
import threading
import time
from contextlib import contextmanager


class Tracer:
    """Spans: name, layer, start, end, parent span id, operation id."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self.op_id: int | None = None
        self.op_span: int | None = None
        self.active = True

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, layer: str, name: str):
        stack = self._stack()
        # a span opened on a server thread hangs under the client's
        # current operation: with one client there is exactly one
        parent = stack[-1] if stack else self.op_span
        with self._lock:
            sid = len(self.spans)
            rec = {"id": sid, "op": self.op_id, "layer": layer, "name": name,
                   "parent": parent, "start": time.time(), "end": None}
            self.spans.append(rec)
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()

    @contextmanager
    def operation(self, op_id: int, name: str):
        self.op_id = op_id
        with self.span("op", name) as rec:
            self.op_span = rec["id"]
            try:
                yield rec
            finally:
                self.op_span = None

    def wrap(self, layer: str, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            with self.span(layer, name):
                return fn(*args, **kwargs)

        return traced

    # -- folding -----------------------------------------------------------
    def layer_totals(self) -> dict[str, dict[str, float]]:
        """Per layer: inclusive seconds of its outermost spans, span
        count, and self seconds (inclusive minus direct children)."""
        child_time = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            d = s["end"] - s["start"]
            t = out.setdefault(s["layer"], {"incl_s": 0.0, "calls": 0, "self_s": 0.0})
            t["calls"] += 1
            t["self_s"] += d - child_time[s["id"]]
            parent = self.spans[s["parent"]] if s["parent"] is not None else None
            if parent is None or parent["layer"] != s["layer"]:
                t["incl_s"] += d
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def _swap(original, replacement, owners) -> None:
    for owner in owners:
        for attr, value in list(vars(owner).items()):
            if value is original:
                setattr(owner, attr, replacement)


def install(tracer: Tracer, planning: "PlanningListener") -> None:
    """Wrap each layer boundary the workloads cross."""
    from pyspark.sql import DataFrameWriter, SparkSession
    from pyspark.sql.classic.dataframe import DataFrame

    from tajo_spark import catalog, engine, rest
    from tajo_spark.operators import similarity
    from tajo_spark.plans import dialect
    from tajo_spark.streaming import ann_ingest

    modules = [m for n, m in list(sys.modules.items())
               if n.startswith("tajo_spark") and m is not None]
    functions = [
        ("plans", dialect, "translate"),
        ("catalog", catalog, "load_table"),
        ("streaming", ann_ingest, "ivf_append_batch"),
        ("streaming", ann_ingest, "maybe_compact"),
        ("operators", similarity, "ivf_q8_shortlist"),
    ]
    for layer, module, name in functions:
        original = getattr(module, name)
        _swap(original, tracer.wrap(layer, name, original), modules)
    methods = [
        ("rest", rest._Handler, "do_POST"),
        ("engine", engine.Engine, "execute_sql"),
        ("spark", DataFrame, "collect"),
        ("spark", DataFrame, "toPandas"),
        ("spark", DataFrame, "count"),
        ("spark", DataFrameWriter, "save"),
        ("spark", DataFrameWriter, "parquet"),
    ]
    for layer, cls, name in methods:
        original = getattr(cls, name)
        setattr(cls, name, tracer.wrap(layer, f"{cls.__name__}.{name}", original))

    # SparkSession.sql parses and analyzes eagerly under a tracker that
    # does not reach the listener when the caller derives a new
    # DataFrame (the REST server adds a limit), so it is read here
    sql = tracer.wrap("catalyst", "SparkSession.sql", SparkSession.sql)

    def traced_sql(self, *args, **kwargs):
        df = sql(self, *args, **kwargs)
        if tracer.active:
            planning.record(df._jdf.queryExecution().tracker())
        return df

    SparkSession.sql = traced_sql


# -- Spark status stores -------------------------------------------------------

_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def _metric_value(text: str) -> float:
    """Parse a formatted SQL metric ('1.2 KiB', '100,000', or the
    'total (min, med, max ...)' form, whose second line leads with the
    total)."""
    line = text.strip().split("\n")[-1]
    m = re.match(r"([\d,.]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


class PlanningListener:
    """QueryExecutionListener: phase times of every executed query's
    QueryPlanningTracker, each tracker counted once."""

    def __init__(self, jvm) -> None:
        self.jvm = jvm
        self.phases: dict[int, dict[str, float]] = {}

    def record(self, tracker) -> None:
        phases = {}
        it = tracker.phases().iterator()
        while it.hasNext():
            kv = it.next()
            phases[kv._1()] = kv._2().durationMs() / 1000.0
        self.phases[self.jvm.System.identityHashCode(tracker)] = phases

    def total(self, *names: str) -> float:
        return sum(p.get(n, 0.0) for p in self.phases.values() for n in names)

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802
        self.record(qe.tracker())

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def listen_planning(spark) -> PlanningListener:
    from pyspark.java_gateway import ensure_callback_server_started

    ensure_callback_server_started(spark.sparkContext._gateway)
    listener = PlanningListener(spark.sparkContext._jvm)
    spark._jsparkSession.listenerManager().register(listener)
    return listener


def unlisten_planning(spark, listener: PlanningListener) -> None:
    drain(spark)
    spark._jsparkSession.listenerManager().unregister(listener)


def drain(spark) -> None:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def spark_records(spark, since_ms: int) -> dict:
    """Jobs, stages and SQL executions submitted at or after ``since_ms``."""
    sc = spark.sparkContext
    gw = sc._gateway
    drain(spark)
    mapper = gw.jvm.com.fasterxml.jackson.databind.ObjectMapper()
    mapper.registerModule(gw.jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
    store = sc._jsc.sc().statusStore()
    jobs = [j for j in json.loads(mapper.writeValueAsString(store.jobsList(None)))
            if (j.get("submissionTime") or 0) >= since_ms]
    wanted = {s for j in jobs for s in j["stageIds"]}
    stages = [
        s for s in json.loads(mapper.writeValueAsString(store.stageList(
            None, False, False, gw.new_array(gw.jvm.double, 0), None)))
        if s["stageId"] in wanted and s["status"] != "SKIPPED"
    ]
    sql_store = spark._jsparkSession.sharedState().statusStore()
    executions = []
    listing = sql_store.executionsList()
    for i in range(listing.size()):
        e = listing.apply(i)
        if e.submissionTime() < since_ms:
            continue
        metrics = json.loads(mapper.writeValueAsString(e.metrics()))
        values = json.loads(mapper.writeValueAsString(
            sql_store.executionMetrics(e.executionId())))
        sums: dict[str, float] = {}
        counts: dict[str, int] = {}
        for m in metrics:
            counts[m["name"]] = counts.get(m["name"], 0) + 1
            v = values.get(str(m["accumulatorId"]))
            if v is not None:
                sums[m["name"]] = sums.get(m["name"], 0.0) + _metric_value(v)
        executions.append({"submit": e.submissionTime(), "sums": sums,
                           "counts": counts})
    return {"jobs": jobs, "stages": stages, "executions": executions}


def _union_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def fold_spark(records: dict, windows: list[tuple[float, float]],
               build_windows: list[tuple[float, float]],
               probe_windows: list[tuple[float, float]], cores: int) -> dict:
    """Spark-side per-layer totals over the operation windows (seconds
    since the epoch); jobs outside every window (warm-up, checks) are
    dropped."""

    def inside(t_ms, wins):
        t = t_ms / 1000.0
        return any(a <= t <= b for a, b in wins)

    jobs = [j for j in records["jobs"] if inside(j["submissionTime"], windows)]
    stage_ids = {s for j in jobs for s in j["stageIds"]}
    stages = [s for s in records["stages"] if s["stageId"] in stage_ids]
    execs = [e for e in records["executions"] if inside(e["submit"], windows)]
    intervals = [(j["submissionTime"] / 1000.0,
                  (j.get("completionTime") or j["submissionTime"]) / 1000.0)
                 for j in jobs]
    op_wall = sum(b - a for a, b in windows)
    gap = sum((b - a) - _union_s(intervals, a, b) for a, b in windows)
    run_s = sum(s["executorRunTime"] for s in stages) / 1000.0

    def esum(name):
        return sum(e["sums"].get(name, 0.0) for e in execs)

    return {
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": sum(s["numCompleteTasks"] + s["numFailedTasks"] for s in stages),
        "spark.job_gap_s": gap,
        "spark.slot_busy_ratio": run_s / (op_wall * cores) if op_wall else 0.0,
        "spark.executor_run_s": run_s,
        "spark.executor_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
        "spark.gc_s": sum(s["jvmGcTime"] for s in stages) / 1000.0,
        "spark.input_bytes": sum(s["inputBytes"] for s in stages),
        "spark.shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in stages),
        "spark.shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
        "spark.spill_bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"]
                                 for s in stages),
        "spark.result_bytes": sum(s["resultSize"] for s in stages),
        "queries.build_jobs": sum(1 for j in jobs
                                  if inside(j["submissionTime"], build_windows)),
        "operators.python_nodes": sum(e["counts"].get("data sent to Python workers", 0)
                                      for e in execs),
        "operators.python_bytes_sent": esum("data sent to Python workers"),
        "operators.python_bytes_received": esum("data returned from Python workers"),
        "operators.probe_files_scanned": sum(
            e["sums"].get("number of files read", 0.0) for e in execs
            if inside(e["submit"], probe_windows)),
    }


# -- filesystem writes (the sources layer) -------------------------------------


def snapshot(root: str) -> dict[str, tuple[int, int]]:
    """path → (size, mtime_ns) of every regular file under ``root``."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def written(before: dict, after: dict) -> tuple[int, int]:
    """(files, bytes) new or rewritten between two snapshots."""
    files = [p for p, v in after.items() if before.get(p) != v]
    return len(files), sum(after[p][0] for p in files)
