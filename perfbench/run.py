#!/usr/bin/env python3
"""Layered benchmark of tajo_spark: one workload per process.

    python3 perfbench/run.py --workload sql_tpch --seed 1 --trace 0
    python3 perfbench/run.py            # every workload, untraced then traced

Workloads (see ``perfbench/layers.json`` for what each stresses):
``sql_tpch`` posts analyst SQL to the REST server; ``curation_ingest``
runs registry callables through the noop sink, then appends
micro-batches to a streaming ANN index beside shortlist probes.

A run generates its tables, sets the workload up ``SETUPS`` times on a
fresh SparkSession (the median is ``setup_s``), warms up with the workload's
``WARM_PASSES``, which also check every output, then times whole
passes for about ``--seconds`` (by default ``run_seconds`` of
BENCHMARK.json), and at least the workload's ``MIN_PASSES``.
``--trace 1`` brackets traced passes, with layer spans and Spark
counters on, between untraced ones, and reports per-layer figures per
traced pass plus the tracing overhead. Everything the run writes
(tables, Spark local dirs, warehouse, Derby log, temporary files) lives
under one temporary directory in the checkout, removed at exit. The
last stdout line is the result object.
"""

from __future__ import annotations

import argparse
import collections
import gc
import json
import logging
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback

import gen
import spans
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SF = 0.001
SETUPS = 3
# figures of the ingest part of curation_ingest; sql_tpch reads 0
INGEST_ONLY = ("write_latency_p50_s", "write_latency_p90_s",
               "ingest_rows_per_s", "stored_bytes_per_user_byte")


def _quantile(values: list[float], q: int) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=10, method="inclusive")[q - 1]


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


class Bench:
    def __init__(self, args, work: str) -> None:
        self.args = args
        self.work = work
        self.tmp = os.path.join(work, "tmp")
        self.data_dir = os.path.join(work, "data")
        self.cores = int(os.environ["SPARK_GRAFT_CPUS"])
        self.seed = args.seed
        self.sf = SF
        self.tracer = None
        self.work_dir = self.tmp
        self.attempted = 0
        self.failed = 0
        self._count = threading.Lock()

    def conf(self) -> dict[str, str]:
        jvm_tmp = os.path.join(self.work, "jvmtmp")
        os.makedirs(jvm_tmp, exist_ok=True)
        return {
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={jvm_tmp} -Dderby.system.home={self.work}",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # keep every job, stage and SQL execution of the run in the
            # status stores the traced run reads back
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
            "spark.ui.showConsoleProgress": "false",
        }

    def _exec(self, op, op_id: int | None = None) -> float:
        """Run one operation; returns its timed wall (s)."""
        with self._count:
            self.attempted += 1
        wall = 0.0
        try:
            op.pre()
            if op_id is not None:
                with self.tracer.operation(op_id, op.name):
                    t0 = time.perf_counter()
                    result = op.run()
                    wall = time.perf_counter() - t0
            else:
                t0 = time.perf_counter()
                result = op.run()
                wall = time.perf_counter() - t0
            if not op.post(result):
                with self._count:
                    self.failed += 1
                print(f"perfbench: {op.name} gave a wrong result", file=sys.stderr)
        except Exception:  # one failed operation must not end the run
            with self._count:
                self.failed += 1
            print(f"perfbench: {op.name} raised\n{traceback.format_exc()}",
                  file=sys.stderr)
        return wall

    def run(self) -> dict:
        import numpy as np
        from pyspark import SparkContext, __version__ as pyspark_version

        from tajo_spark.session import build_spark

        gen.write(self.data_dir, self.sf)
        workload = WORKLOADS[self.args.workload](self)
        rng = np.random.default_rng(self.seed)
        spark, setups, info = None, [], {}
        try:
            for _ in range(SETUPS):
                if spark is not None:
                    workload.teardown()
                    spark.stop()
                t0 = time.perf_counter()
                spark = build_spark(app_name=f"perfbench_{workload.name}",
                                    extra_conf=self.conf())
                workload.setup(spark)
                setups.append(time.perf_counter() - t0)
            info.update(
                java=spark.sparkContext._jvm.System.getProperty("java.version"),
                pyspark=pyspark_version)
            # warm-up passes run one at a time, as the timed ones do: passes
            # run on every core at once gained no time, and left a burst
            # of JIT compilation to the first timed pass
            t0 = time.perf_counter()
            for i in range(workload.WARM_PASSES):
                for op in workload.warm_ops(rng, i == 0):
                    self._exec(op)
            # the warm-up's garbage is collected now, not in a timed pass
            gc.collect()
            spark.sparkContext._jvm.System.gc()
            info["warm_s"] = round(time.perf_counter() - t0, 3)

            passes: list[dict] = []
            listener, trace_from_ms = None, None
            fs = {"files": 0, "bytes": 0, "compaction_bytes": 0}
            # the traced run brackets its traced pass(es) with untraced
            # ones: passes still speed up after the warm-up, and the
            # drift cancels out of the overhead figure
            phases = (False, True, False) if self.args.trace else (False,)
            min_passes = 1 if self.args.trace else workload.MIN_PASSES
            t_start = time.perf_counter()
            for i, traced in enumerate(phases):
                if traced:
                    spans.drain(spark)
                    self.tracer = spans.Tracer()
                    listener = spans.listen_planning(spark)
                    spans.install(self.tracer, listener)
                    trace_from_ms = int(time.time() * 1000)
                elif self.tracer is not None:
                    self.tracer.active = False
                    spans.unlisten_planning(spark, listener)
                phase_end = self.args.seconds * (i + 1) / len(phases)
                # a pass starts only if one more, checks included, fits
                # before the phase ends, so a run measures about --seconds
                took: list[float] = []
                while (len(took) < min_passes
                       or time.perf_counter() - t_start
                       + statistics.median(took) <= phase_end):
                    t0 = time.perf_counter()
                    passes.append(self._pass(workload.ops(rng), traced, fs))
                    took.append(time.perf_counter() - t0)
            info["measured_s"] = round(time.perf_counter() - t_start, 3)
            metrics = self._end_to_end(workload, passes, setups,
                                       SparkContext._gateway)
            if self.tracer is not None:
                metrics.update(self._per_layer(spark, workload, passes, listener,
                                               trace_from_ms, fs))
        finally:
            t0 = time.perf_counter()
            workload.teardown()
            if SparkContext._gateway is not None:
                self._stop(spark, SparkContext._gateway)
            info["stop_s"] = round(time.perf_counter() - t0, 3)
        plain = [p for p in passes if not p["traced"]]
        info.update(setups=[round(s, 3) for s in setups],
                    pass_walls=[round(p["wall"], 3) for p in passes],
                    timed_reads=sum(len(p["reads"]) for p in plain),
                    timed_writes=sum(len(p["writes"]) for p in plain))
        return {"metrics": metrics, "info": info}

    def _pass(self, ops, traced: bool, fs: dict) -> dict:
        """Run one pass: its wall, every read's wall, and per batch the
        wall of its writes (an append plus any compaction at its head)."""
        rec = {"traced": traced, "reads": [], "writes": {}, "wall": 0.0,
               "ops": {}}
        seen: collections.Counter = collections.Counter()
        for op in ops:
            before = spans.snapshot(self.tmp) if traced else None
            wall = self._exec(op, self.attempted if traced else None)
            if traced:
                files, nbytes = spans.written(before, spans.snapshot(self.tmp))
                fs["files"] += files
                fs["bytes"] += nbytes
                if op.name.startswith("compact_"):
                    fs["compaction_bytes"] += nbytes
            rec["wall"] += wall
            # (name, how often the name came before in the pass) keys the
            # same work in every pass
            rec["ops"][op.name, seen[op.name]] = wall
            seen[op.name] += 1
            if op.kind == "read":
                rec["reads"].append(wall)
            else:
                batch = op.name.rsplit("_", 1)[1]
                rec["writes"][batch] = rec["writes"].get(batch, 0.0) + wall
        return rec

    def _end_to_end(self, workload, passes, setups, gateway) -> dict:
        """Latencies pool every timed operation of the untraced passes;
        the pass wall adds up each operation's median over those passes."""
        plain = [p for p in passes if not p["traced"]]
        reads = [w for p in plain for w in p["reads"]]
        writes = [w for p in plain for w in p["writes"].values()]
        out = {
            "setup_s": statistics.median(setups),
            "pass_wall_s": sum(statistics.median(p["ops"][k] for p in plain)
                               for k in plain[0]["ops"]),
            "latency_p50_s": statistics.median(reads),
            "latency_p90_s": _quantile(reads, 9),
            "peak_rss_mb": _rss_mb(os.getpid()) + _rss_mb(gateway.proc.pid),
            "error_rate": self.failed / max(1, self.attempted),
        }
        if not writes:
            out.update(dict.fromkeys(INGEST_ONLY, 0.0))
        else:
            rows = len(writes) * workload.BATCH_ROWS
            live = spans.snapshot(workload.last.index)
            out.update({
                "write_latency_p50_s": statistics.median(writes),
                "write_latency_p90_s": _quantile(writes, 9),
                "ingest_rows_per_s": rows / sum(writes),
                "stored_bytes_per_user_byte":
                    sum(size for size, _ in live.values()) / workload.last.user_bytes,
            })
        return out

    def _per_layer(self, spark, workload, passes, listener, since_ms, fs) -> dict:
        traced = [p for p in passes if p["traced"]]
        n = len(traced)
        recs = self.tracer.spans
        ops = [s for s in recs if s["layer"] == "op" and s["end"]]
        windows = [(s["start"], s["end"]) for s in ops]
        build = [(s["start"], s["end"]) for s in recs
                 if s["layer"] == "queries" and s["end"]]
        probes = [(s["start"], s["end"]) for s in ops
                  if s["name"].startswith("probe_")]
        spark_side = spans.fold_spark(
            spans.spark_records(spark, since_ms), windows, build, probes,
            self.cores)
        layers = self.tracer.layer_totals()

        def lt(layer, key):
            return layers.get(layer, {}).get(key, 0.0)

        from tajo_spark.streaming.ann_ingest import cadence_fires

        def span_s(name):
            return sum(s["end"] - s["start"] for s in recs
                       if s["name"] == name and s["end"])

        index = workload.last.index if hasattr(workload, "last") else None
        appended = fs["bytes"] - fs["compaction_bytes"]
        out = {
            "rest.self_s": lt("rest", "self_s"),
            "plans.translate_s": lt("plans", "incl_s"),
            "plans.translate_calls": lt("plans", "calls"),
            "engine.execute_sql_s": lt("engine", "incl_s"),
            "catalyst.analysis_s": listener.total("parsing", "analysis"),
            "catalyst.optimization_s": listener.total("optimization"),
            "catalyst.planning_s": listener.total("planning"),
            "catalog.load_table_calls": lt("catalog", "calls"),
            "catalog.load_table_s": lt("catalog", "incl_s"),
            "queries.build_s": lt("queries", "incl_s"),
            "spark.action_s": lt("spark", "incl_s"),
            "operators.probe_s": sum(e - s for s, e in probes),
            "streaming.append_s": span_s("ivf_append_batch"),
            "streaming.compaction_s": span_s("maybe_compact"),
            # the post check fails any op where maybe_compact disagrees
            # with the cadence, so this is the count of folds that ran
            "streaming.compactions": sum(
                cadence_fires(int(b), workload.COMPACT_EVERY)
                for p in traced for b in p["writes"]),
            "sources.files_written": fs["files"],
            "sources.bytes_written": fs["bytes"],
            "sources.compaction_bytes_rewritten": fs["compaction_bytes"],
        }
        out.update(spark_side)
        out = {k: v / n for k, v in out.items()}
        out["spark.slot_busy_ratio"] = spark_side["spark.slot_busy_ratio"]
        # bytes written per byte of fresh data: compaction rewrites count
        out["sources.write_amplification"] = (
            fs["bytes"] / appended if appended else 0.0)
        out["sources.live_files"] = len(spans.snapshot(index)) if index else 0
        plain = [p["wall"] for p in passes if not p["traced"]]
        out["trace_overhead_s"] = (statistics.median(p["wall"] for p in traced)
                                   - statistics.mean(plain))
        return out

    def _stop(self, spark, gateway) -> None:
        """Stop Spark, the JVM and its Python workers, and wait for them."""
        if spark is not None:
            spark.stop()
        proc = gateway.proc
        family = [proc.pid] + _descendants(proc.pid)
        # the JVM goes first: closing py4j's callback server while the
        # JVM still holds its connections can block forever; py4j's
        # complaints about the vanished JVM are expected from here on
        logging.getLogger("py4j").setLevel(logging.CRITICAL)
        proc.terminate()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
        deadline = time.time() + 30
        while time.time() < deadline and any(_alive(p) for p in family):
            time.sleep(0.1)
        for p in family:
            if _alive(p):
                try:
                    os.kill(p, 9)
                except OSError:
                    pass


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run_all(args, spec: dict) -> int:
    """Every workload in its own process, untraced then traced; prints
    each one's metrics by name with their units."""
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    ok = True
    for w in (w["name"] for w in spec["workloads"]):
        for trace in (0, 1):
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--workload", w,
                 "--seed", str(args.seed), "--seconds", str(args.seconds),
                 "--trace", str(trace)],
                stdout=subprocess.PIPE, text=True)
            reports = [json.loads(line[len("report "):])
                       for line in proc.stdout.splitlines()
                       if line.startswith("report ")]
            if proc.returncode or not reports:
                print(f"{w} trace={trace}: failed with exit code {proc.returncode}")
                ok = False
                continue
            r = reports[-1]
            ok = ok and r["failed"] == 0
            print(f"{w} trace={trace} attempted={r['attempted']} failed={r['failed']} "
                  + " ".join(f"{k}={v:.6g} {units[k]}"
                             for k, v in r["metrics"].items()), flush=True)
    return 0 if ok else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS),
                    help="run this workload only (default: every workload)")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float,
                    help="measured time per run (default: run_seconds of BENCHMARK.json)")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--spans", help="write the traced run's spans here (JSON lines)")
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "tajo_spark", "__init__.py")):
        print("perfbench: tajo_spark/ not found beside perfbench/; run from the "
              "root of a full checkout", file=sys.stderr)
        return 2
    spec = _spec()
    if args.seconds is None:
        args.seconds = spec["run_seconds"]
    if args.workload is None:
        return run_all(args, spec)

    load_1m = os.getloadavg()[0]
    cpus = len(os.sched_getaffinity(0))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(cpus))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    work = tempfile.mkdtemp(prefix=".perfbench_run_", dir=ROOT)
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # no JVM of the run (launcher, driver) writes /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in ("-XX:-UsePerfData", os.environ.get("JAVA_TOOL_OPTIONS")) if p)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    tempfile.tempdir = None
    sys.path[:0] = [HERE, ROOT]
    cwd = os.getcwd()
    os.chdir(work)  # spark-warehouse/ and derby.log land in the run dir
    bench = Bench(args, work)
    try:
        out = bench.run()
        if args.spans and bench.tracer is not None:
            bench.tracer.dump(os.path.join(cwd, args.spans))
    finally:
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)

    metrics = out["metrics"]
    report = {
        "workload": args.workload, "seed": args.seed, "sf": SF,
        "seconds": args.seconds, "nproc": cpus, "cores": os.cpu_count(),
        "spark_graft_cpus": os.environ["SPARK_GRAFT_CPUS"],
        "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "load_1m_at_start": load_1m, **out["info"],
        "attempted": bench.attempted, "failed": bench.failed,
        "metrics": metrics,
    }
    print("report " + json.dumps(report))
    names = [(m["name"], m["unit"])
             for m in spec["per_layer" if args.trace else "end_to_end"]]
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {n: {"value": metrics[n], "unit": u} for n, u in names},
    }), flush=True)
    return 0


def _terminate(signum, _frame):
    raise SystemExit(128 + signum)  # runs the clean-up in main's finally


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, _terminate)
    code = main()
    sys.stderr.flush()
    # py4j's connection threads to the stopped JVM must not hold the exit
    os._exit(code)
