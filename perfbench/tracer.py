"""Span recorder and Spark readers for the traced pass.

Everything here measures ``phoenix_spark`` from the outside:

* ``Tracer.install`` wraps the package's public entry points (module
  attributes and ``ManagedTable`` methods) so each call records a span;
  ``Tracer.uninstall`` puts the originals back.
* ``SparkProbe`` reads Spark's own numbers over py4j with the UI off: stage,
  job and task totals from the ``AppStatusStore``, persisted RDDs, and, via
  a ``QueryExecutionListener``, the Catalyst phase timings and executed-plan
  SQL metrics of every query the operation ran.  It drains the listener bus
  before reading, so no finishing stage or query is dropped.

Spans stay in memory and are written out when the run ends.  A span's self
time is its duration minus the union of its children's intervals.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager

# (owner path, attribute, span name).  Owners are resolved at install time;
# ``engine.classify``/``engine.translate_phoenix_sql`` are the names the
# engine imported, so patching them there is what the engine calls.
ENTRY_POINTS = (
    ("phoenix_spark.engine:Engine", "sql", "engine.sql"),
    ("phoenix_spark.engine", "classify", "sqlfront.classify"),
    ("phoenix_spark.engine", "translate_phoenix_sql", "sqlfront.translate"),
    ("phoenix_spark.catalog", "read_table", "catalog.read_table"),
    ("phoenix_spark.indexes", "choose_index", "indexes.choose_index"),
    ("phoenix_spark.ddl", "parse_upsert", "ddl.parse_upsert"),
    ("phoenix_spark.ddl", "parse_delete", "ddl.parse_delete"),
    ("phoenix_spark.mutations:ManagedTable", "upsert_df", "mutations.upsert_df"),
    ("phoenix_spark.mutations:ManagedTable", "read", "mutations.read"),
    ("phoenix_spark.mutations:ManagedTable", "delete_where", "mutations.delete_where"),
)


def _resolve(path: str):
    import importlib

    mod, _, cls = path.partition(":")
    obj = importlib.import_module(mod)
    return getattr(obj, cls) if cls else obj


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._saved: list[tuple[object, str, object]] = []
        self.enabled = False
        self.op_id: int | None = None

    # -- spans ---------------------------------------------------------------

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        except BaseException as exc:
            rec["error"] = type(exc).__name__
            raise
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            with tracer.span(name) as rec:
                out = fn(*args, **kwargs)
                if name == "indexes.choose_index":
                    rec["hit"] = out is not None
                return out

        wrapper.__perfbench_original__ = fn
        return wrapper

    def install(self) -> None:
        for owner_path, attr, name in ENTRY_POINTS:
            owner = _resolve(owner_path)
            fn = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
            self._saved.append((owner, attr, fn))
            setattr(owner, attr, self._wrap(fn, name))

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, fn = self._saved.pop()
            setattr(owner, attr, fn)

    # -- derived -------------------------------------------------------------

    def self_times(self) -> dict[int, float]:
        """Span id -> self seconds (duration minus union of child intervals)."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out = {}
        for s in self.spans:
            covered, cur_lo, cur_hi = 0.0, None, None
            for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], s["start"]), min(c["end"], s["end"])
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def dump(self, path: str, extra: dict) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            json.dump(
                {
                    **extra,
                    "spans": [{**s, "self": selfs[s["id"]]} for s in self.spans],
                },
                f,
            )


class SparkProbe:
    """Spark-side totals for one operation, read over py4j after it ends."""

    def __init__(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        sc = spark.sparkContext
        self._gw = sc._gateway
        self._jvm = sc._jvm
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()
        self._conv = self._jvm.scala.jdk.javaapi.CollectionConverters
        self._empty = self._jvm.java.util.ArrayList()
        self._no_quantiles = self._gw.new_array(self._jvm.double, 0)
        self.queries: list = []  # QueryExecution objects since begin()
        self._last_stage = self._max_stage()
        self._last_job = self._max_job()
        ensure_callback_server_started(self._gw)
        self._listener = _QueryListener(self)
        self._registered = False

    def _seq(self, scala_seq):
        return list(self._conv.asJava(scala_seq))

    def _stages(self):
        return self._seq(
            self._store.stageList(
                self._empty, False, False, self._no_quantiles, self._empty
            )
        )

    def _jobs(self):
        return self._seq(self._store.jobsList(self._empty))

    def _max_stage(self) -> int:
        return max((s.stageId() for s in self._stages()), default=-1)

    def _max_job(self) -> int:
        return max((j.jobId() for j in self._jobs()), default=-1)

    def drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty(120_000)

    def begin(self) -> None:
        """Start attributing Spark work to a new operation."""
        self.drain()
        self.queries = []
        self._last_stage = self._max_stage()
        self._last_job = self._max_job()
        if not self._registered:
            self.spark._jsparkSession.listenerManager().register(self._listener)
            self._registered = True

    def end(self) -> dict:
        """Totals of every job, stage, task and query since ``begin``."""
        self.drain()
        self.close()
        out = dict.fromkeys(
            [
                "jobs.count", "jobs.stages", "jobs.tasks", "jobs.exec_ms",
                "jobs.executor_cpu_s", "jobs.executor_run_s", "jobs.gc_s",
                "jobs.scheduler_delay_s", "shuffle.write_bytes",
                "shuffle.read_records", "shuffle.spill_bytes",
                "broadcast.bytes", "arrow.rows", "arrow.bytes_sent",
                "arrow.bytes_received", "arrow.boot_ms", "arrow.total_ms",
                "catalyst.analysis_ms", "catalyst.optimization_ms",
                "catalyst.planning_ms",
            ],
            0.0,
        )
        for j in self._jobs():
            if j.jobId() <= self._last_job:
                continue
            out["jobs.count"] += 1
            sub, done = j.submissionTime(), j.completionTime()
            if sub.isDefined() and done.isDefined():
                out["jobs.exec_ms"] += done.get().getTime() - sub.get().getTime()
        for s in self._stages():
            sid = s.stageId()
            if sid <= self._last_stage:
                continue
            out["jobs.stages"] += 1
            out["jobs.tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            out["jobs.executor_cpu_s"] += s.executorCpuTime() / 1e9
            out["jobs.executor_run_s"] += s.executorRunTime() / 1e3
            out["jobs.gc_s"] += s.jvmGcTime() / 1e3
            out["shuffle.write_bytes"] += s.shuffleWriteBytes()
            out["shuffle.read_records"] += s.shuffleReadRecords()
            out["shuffle.spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            if s.numCompleteTasks():
                for t in self._seq(self._store.taskList(sid, s.attemptId(), 1 << 30)):
                    out["jobs.scheduler_delay_s"] += t.schedulerDelay() / 1e3
        for qe in self.queries:
            for k, v in self._plan_metrics(qe).items():
                out[k] += v
        self.queries = []
        self._last_stage = max(self._last_stage, self._max_stage())
        self._last_job = max(self._last_job, self._max_job())
        return out

    def close(self) -> None:
        """Remove the listener; the callback server is pyspark's own."""
        if self._registered:
            self.spark._jsparkSession.listenerManager().unregister(self._listener)
            self._registered = False

    def cache(self) -> dict:
        rdds = self._seq(self._store.rddList(True))
        return {
            "cache.rdds": float(len(rdds)),
            "cache.mem_bytes": float(sum(r.memoryUsed() for r in rdds)),
        }

    # -- executed plans ------------------------------------------------------

    def _plan_metrics(self, qe) -> dict:
        out: dict[str, float] = {}
        phases = self._conv.asJava(qe.tracker().phases())
        for phase in ("analysis", "optimization", "planning"):
            if phases.containsKey(phase):
                out[f"catalyst.{phase}_ms"] = float(phases.get(phase).durationMs())
        stack, seen = [qe.executedPlan()], set()
        while stack:
            node = stack.pop()
            cls = node.getClass().getSimpleName()
            if node.id() in seen:  # a reused exchange appears twice
                continue
            seen.add(node.id())
            if cls == "AdaptiveSparkPlanExec":
                stack.append(node.executedPlan())
                continue
            if cls.endswith("QueryStageExec"):
                stack.append(node.plan())
                continue
            metrics = self._conv.asJava(node.metrics())
            if cls == "BroadcastExchangeExec" and metrics.containsKey("dataSize"):
                out["broadcast.bytes"] = out.get("broadcast.bytes", 0.0) + metrics.get(
                    "dataSize"
                ).value()
            if cls in ("MapInArrowExec", "PythonMapInArrowExec"):
                for src, dst in (
                    ("pythonNumRowsReceived", "arrow.rows"),
                    ("pythonDataSent", "arrow.bytes_sent"),
                    ("pythonDataReceived", "arrow.bytes_received"),
                    ("pythonBootTime", "arrow.boot_ms"),
                    ("pythonTotalTime", "arrow.total_ms"),
                ):
                    if metrics.containsKey(src):
                        out[dst] = out.get(dst, 0.0) + metrics.get(src).value()
            stack.extend(self._conv.asJava(node.children()))
        return out


class _QueryListener:
    """py4j proxy for ``org.apache.spark.sql.util.QueryExecutionListener``."""

    def __init__(self, probe: SparkProbe) -> None:
        self._probe = probe

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java API)
        # only keep the reference: walking the plan here would hold up the
        # listener bus, so ``SparkProbe.end`` walks it after the drain
        self._probe.queries.append(qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802 (Java API)
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]
