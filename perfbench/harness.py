"""Measurement machinery: Spark session set-up, the per-layer tracer, and
host context. Nothing here reaches inside the engine: spans wrap the
calls the workloads make into its public functions, and counters are
read from the query executions those calls produce."""

from __future__ import annotations

import os
import statistics
import time
from contextlib import contextmanager

# Counters read from the executed plans of a span's query executions;
# README.md says what each one measures.
QE_KEYS = ("plan_s", "exchanges", "shuffle_write_bytes", "shuffle_records",
           "spill_bytes", "out_rows", "py_rows", "py_bytes",
           "bytes_written", "files_written")


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """(value, percentile, samples) of the highest percentile that has at
    least ten samples beyond it, or None with fewer than 11 samples."""
    n = len(xs)
    if n < 11:
        return None
    s = sorted(xs)
    return s[n - 11], round(100.0 * (n - 10) / n, 1), n


# ------------------------------------------------------------------ session

def start_session(app: str, work_dir: str):
    """The engine's own session factory, then a first job and a first
    Python worker: the point where a client can issue work. Returns
    (spark, set-up seconds, of which the session factory's own seconds).
    Workload-specific warm-up is a separate, untimed pass."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    from datamine_v2_0_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
    })
    factory_s = time.perf_counter() - t0

    @pandas_udf("long")
    def _ident(s):
        return s

    spark.range(64).select(_ident(F.col("id"))).count()
    return spark, time.perf_counter() - t0, factory_s


def stop_session(spark) -> None:
    """Stop the context, then the JVM the Python gateway launched, and wait
    for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


# ---------------------------------------------------------- process memory

def _children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == pid:
            out.append(int(d))
    return out


def engine_pids(spark) -> list[int]:
    """The Spark JVM and every process below it (the Python workers)."""
    root = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    pids, todo = [], [root]
    while todo:
        p = todo.pop()
        pids.append(p)
        todo.extend(_children(p))
    return pids


def collect_garbage(spark) -> None:
    """Python first, since its dead DataFrames pin JVM objects until their
    py4j proxies are freed; then a full JVM collection."""
    import gc

    gc.collect()
    spark.sparkContext._jvm.java.lang.System.gc()


def reset_peak_rss(pids: list[int]) -> None:
    """Restart every process's peak-RSS counter from its current RSS."""
    for p in pids:
        try:
            with open(f"/proc/{p}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of each process's peak resident set (VmHWM), in MiB."""
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024.0


# --------------------------------------------------------------- host info

def calib_sec(spark) -> float:
    """The same fixed CPU probe bench.py reports as ``calib_sec``."""
    t0 = time.perf_counter()
    spark.range(200_000_000).selectExpr(
        "sum(pmod(xxhash64(id), 1000)) AS s"
    ).write.format("noop").mode("overwrite").save()
    return round(time.perf_counter() - t0, 3)


def jvm_times(spark) -> dict:
    """JVM totals so far: seconds in garbage collection and in JIT
    compilation, classes loaded, and Spark's generated-code compilations.
    A pass's share of them tells how much of it went into compiling."""
    jvm = spark.sparkContext._jvm
    mf = jvm.java.lang.management.ManagementFactory
    gcs = mf.getGarbageCollectorMXBeans()
    codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics
    return {
        "jvm_gc_s": sum(gcs.get(i).getCollectionTime()
                        for i in range(gcs.size())) / 1000.0,
        "jvm_jit_s": mf.getCompilationMXBean().getTotalCompilationTime() / 1000.0,
        "jvm_classes": mf.getClassLoadingMXBean().getTotalLoadedClassCount(),
        "jvm_codegen_compiles": codegen.METRIC_COMPILATION_TIME().getCount(),
    }


def steal_s() -> float:
    """CPU seconds the hypervisor has given to other guests since boot,
    summed over this machine's CPUs (0 where not reported)."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def host_context(spark) -> dict:
    return {
        "nproc": os.cpu_count(),
        "master": spark.sparkContext.master,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
    }


# ------------------------------------------------------------------ tracing

class Untraced:
    """The end-to-end mode: calls go straight through."""

    def call(self, layer, fn, *args, **kwargs):
        return fn(*args, **kwargs)

    def act(self, layer, fn):
        return fn()

    def touch(self, layer, df):
        pass

    def count(self, layer, key, make_df):
        pass

    @contextmanager
    def op(self, name):
        yield


class _QEListener:
    """Receives every finished query execution (actions and writes)."""

    def __init__(self):
        self.qes = []

    def onSuccess(self, func_name, qe, duration_ns):
        self.qes.append(qe)

    def onFailure(self, func_name, qe, exception):
        self.qes.append(qe)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def _metric(node, name) -> int:
    m = node.metrics().get(name)
    return int(m.get().value()) if m.isDefined() else 0


def _walk(node, acc: dict) -> None:
    name = node.nodeName()
    if name.startswith("AdaptiveSparkPlan"):
        _walk(node.executedPlan(), acc)
        return
    if name.startswith("ReusedExchange") or name.startswith("InMemoryTableScan"):
        return
    if "QueryStage" in name:
        _walk(node.plan(), acc)
        return
    if name == "Exchange" or name == "BroadcastExchange":
        acc["exchanges"] += 1
    acc["shuffle_write_bytes"] += _metric(node, "shuffleBytesWritten")
    acc["shuffle_records"] += _metric(node, "shuffleRecordsWritten")
    acc["spill_bytes"] += _metric(node, "spillSize")
    acc["py_rows"] += _metric(node, "pythonNumRowsReceived")
    acc["py_bytes"] += (_metric(node, "pythonDataSent")
                        + _metric(node, "pythonDataReceived"))
    acc["bytes_written"] += _metric(node, "numOutputBytes")
    acc["files_written"] += _metric(node, "numFiles")
    if acc["_top_rows"] is None and node.metrics().get("numOutputRows").isDefined():
        acc["_top_rows"] = _metric(node, "numOutputRows")
    children = node.children()
    for i in range(children.size()):
        _walk(children.apply(i), acc)


class Tracer:
    """Spans around each call into a layer, with per-span Spark job groups
    and the executed plans of the query executions that ran inside them.

    Spans are kept in memory as dicts (name, layer, kind, start, end,
    parent, run id, counters) and written out by the caller at the end."""

    def __init__(self, spark, run_id: str):
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark, self.sc, self.run_id = spark, spark.sparkContext, run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._listener = _QEListener()
        ensure_callback_server_started(self.sc._gateway)
        spark._jsparkSession.listenerManager().register(self._listener)

    def close(self) -> None:
        self.spark._jsparkSession.listenerManager().unregister(self._listener)

    def _drain(self) -> list:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        qes, self._listener.qes = self._listener.qes, []
        return qes

    @contextmanager
    def _span(self, name: str, layer: str | None, kind: str):
        self._drain()
        sid = len(self.spans)
        span = {"id": sid, "name": name, "layer": layer, "kind": kind,
                "run": self.run_id,
                "parent": self._stack[-1] if self._stack else None,
                "start": time.time()}
        self.spans.append(span)
        self._stack.append(sid)
        group = f"{self.run_id}-{sid}"
        self.sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            yield span
        finally:
            span["dur"] = time.perf_counter() - t0
            span["end"] = time.time()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(f"{self.run_id}-{self._stack[-1]}", "")
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            jobs = list(self.sc.statusTracker().getJobIdsForGroup(group))
            tasks = 0
            for j in jobs:
                info = self.sc.statusTracker().getJobInfo(j)
                for s in (info.stageIds if info else []):
                    st = self.sc.statusTracker().getStageInfo(s)
                    tasks += st.numCompletedTasks if st else 0
            span["jobs"], span["tasks"] = len(jobs), tasks
            span["qes"] = self._qe_counters(self._drain())

    @staticmethod
    def _qe_counters(qes) -> dict:
        acc = dict.fromkeys(QE_KEYS, 0)
        for qe in qes:
            one = dict.fromkeys(QE_KEYS, 0)
            one["_top_rows"] = None
            _walk(qe.executedPlan(), one)
            one["out_rows"] = one.pop("_top_rows") or 0
            phases = qe.tracker().phases()
            for ph in ("analysis", "optimization", "planning"):
                p = phases.get(ph)
                if p.isDefined():
                    one["plan_s"] += p.get().durationMs() / 1000.0
            for k in acc:
                acc[k] += one[k]
        acc["executions"] = len(qes)
        return acc

    @contextmanager
    def op(self, name):
        """A root span: one pass or one query."""
        with self._span(name, None, "op"):
            yield

    def call(self, layer, fn, *args, **kwargs):
        """A public call that returns a DataFrame: time it and count the
        jobs it starts eagerly (its build)."""
        with self._span(f"{layer}:{getattr(fn, '__name__', 'call')}",
                        layer, "build"):
            return fn(*args, **kwargs)

    def act(self, layer, fn):
        """An action whose work belongs to ``layer``."""
        with self._span(f"{layer}:action", layer, "exec"):
            return fn()

    def touch(self, layer, df):
        """Execute an intermediate DataFrame on its own (traced runs only)
        so its layer's counters can be read; counters are inclusive of the
        upstream layers it is built on."""
        self.act(layer, lambda: df.write.format("noop").mode("overwrite").save())

    def count(self, layer, key, make_df):
        """A counter read with an extra action that is not layer time."""
        with self._span(f"{layer}:{key}", None, "probe") as span:
            span["value"] = make_df().count()
        span["counter"] = (layer, key)

    def layer_totals(self, first_span: int = 0) -> dict[str, dict[str, float]]:
        """Per-layer sums over spans recorded since ``first_span``."""
        out: dict[str, dict[str, float]] = {}
        for s in self.spans[first_span:]:
            if s["kind"] == "probe" and "counter" in s:
                layer, key = s["counter"]
                d = out.setdefault(layer, {})
                d[key] = d.get(key, 0) + s["value"]
            if not s["layer"]:
                continue
            d = out.setdefault(s["layer"], {})
            q = s["qes"]
            if s["kind"] == "build":
                d["build_s"] = d.get("build_s", 0.0) + s["dur"]
                d["build_jobs"] = d.get("build_jobs", 0) + s["jobs"]
            else:
                d["exec_s"] = d.get("exec_s", 0.0) + s["dur"]
                d["jobs"] = d.get("jobs", 0) + s["jobs"]
                d["tasks"] = d.get("tasks", 0) + s["tasks"]
            for k in QE_KEYS:
                d[k] = d.get(k, 0) + q[k]
            plans = out.setdefault("plans", {})
            plans["plan_s"] = plans.get("plan_s", 0.0) + q["plan_s"]
            plans["executions"] = plans.get("executions", 0) + q["executions"]
        return out
