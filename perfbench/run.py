#!/usr/bin/env python3
"""End-to-end benchmark of phoenix_spark: three workloads, one process each.

    python3 perfbench/run.py --workload {pipeline_frames,sql_lookup,sql_mutate}
        --seed N --seconds S --trace {0,1}

Run from the repository root.  Load shape: one client thread in a closed loop
(each operation is sent after the previous one returns) against Spark on
``local[nproc]`` with ``nproc`` shuffle partitions.  Tables are generated
once under ``.bench_build/perfbench/data`` (see ``datagen.py``); every run
gets a fresh warehouse and Spark scratch directory, removed at exit.  On
every way out (SIGTERM included) the run stops the Spark JVM and the Python
workers it forked and waits until each has ended.

``--trace 0`` times the workload untraced and prints the end-to-end metrics.
``--trace 1`` traces half the operations of each cycle (each kind is traced
in every other cycle, so both halves see the same warm-up), wraps the package's
public entry points (``tracer.py``), reads Spark's status store and plan
metrics after each traced operation, writes the spans to
``.bench_build/perfbench/traces/`` and prints the per-layer metrics.

Correctness checks run in the same command, untimed; the last stdout line
is ``{"correct", "attempted", "failed", "metrics"}``.  The line before it
(``{"detail": ...}``) holds the workload-specific numbers, sample counts,
the tail percentile and the seed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
SF_TIMED = 0.1
SF_CHECK = 0.01
SETUP_REPEATS = 3
# untimed cycles before the timed ones: a fresh JVM is still compiling the
# hot paths through its first cycles at sf0.1 (the first pipeline_frames
# cycle ran 1.3-1.6x the later ones), and timing them made the runs spread
WARMUP_CYCLES = 1
END_TO_END = {
    "setup_s": "s",
    "cycle_p50_ms": "ms",
    "op_geomean_ms": "ms",
}


# -- helpers --------------------------------------------------------------------


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(latencies_ms: list[float]) -> dict:
    """Highest of p50/p75/p90/p95/p99/p99.9 with >= 10 samples beyond it."""
    n = len(latencies_ms)
    best = None
    for p in (50, 75, 90, 95, 99, 99.9):
        if n * (1 - p / 100) >= 10:
            best = p
    if best is None:
        return {"pct": None, "value_ms": None, "n": n}
    xs = sorted(latencies_ms)
    return {"pct": best, "value_ms": xs[min(n - 1, int(n * best / 100))], "n": n}


def _vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return (_vm_hwm_kb(jvm_pid) + _vm_hwm_kb("self")) / 1024.0


def steal_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole VM from /proc/stat: the share of
    time the hypervisor ran something else explains runs that are slow
    throughout."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals)


def _dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def _proc_stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name, or None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def descendants(pid: int) -> set[tuple[int, str]]:
    """(pid, start time) of every live process below ``pid``; the start
    time tells a process apart from a later one that reuses its pid."""
    children: dict[int, list[tuple[int, str]]] = {}
    for d in os.listdir("/proc"):
        st = _proc_stat(int(d)) if d.isdigit() else None
        if st and st[0] != "Z":
            children.setdefault(int(st[1]), []).append((int(d), st[19]))
    out, todo = set(), [pid]
    while todo:
        for kid in children.get(todo.pop(), []):
            out.add(kid)
            todo.append(kid[0])
    return out


def _alive(proc: tuple[int, str]) -> bool:
    st = _proc_stat(proc[0])
    return bool(st) and st[0] != "Z" and st[19] == proc[1]


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop Spark and wait until the JVM and every process below it ended.

    ``SparkSession.stop`` leaves the gateway JVM running until this process
    exits, and the Python workers the JVM forked (``pyspark.daemon``, in a
    process group of their own) end only after it.  Closing the JVM's stdin
    ends it (PythonGatewayServer exits on EOF); whatever is left after
    ``timeout_s`` is killed.  The benchmark returns only when all are gone."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    procs = descendants(os.getpid())
    try:
        if spark is not None:
            spark.stop()
    finally:
        procs |= descendants(os.getpid())
        jvm = getattr(gw, "proc", None)
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:  # the sockets may already be closed
                pass
            SparkContext._gateway = SparkContext._jvm = None
        if jvm is not None:
            jvm.stdin.close()
            try:
                jvm.wait(timeout_s)
            except Exception:
                jvm.kill()
                jvm.wait()
        deadline = time.monotonic() + timeout_s
        while any(map(_alive, procs)) and time.monotonic() < deadline + 10:
            if time.monotonic() > deadline:
                for pid, _ in filter(_alive, procs):
                    try:
                        os.kill(pid, signal.SIGKILL)
                    except OSError:
                        pass
            time.sleep(0.05)


def _segments(path: str) -> int:
    """Change-log segments of every managed table under a warehouse."""
    n = 0
    for d, dirs, _ in os.walk(path):
        if os.path.basename(d) == "segments":
            n += sum(1 for s in dirs if s.startswith("seg-"))
    return n


class Run:
    """State of one benchmark process: options, Spark, timings, checks."""

    def __init__(self, args, spark, run_dir, data) -> None:
        self.args = args
        self.spark = spark
        self.run_dir = run_dir
        self.data = data  # "timed"/"check" -> table directory
        self.setup_s: list[float] = []
        self.ops: list[dict] = []  # kind, ms, ok, traced, cycle
        self.checks: list[dict] = []
        self.detail: dict = {}
        self.tracer = None
        self.probe = None
        self.layer_ops: list[dict] = []  # per traced op: Spark + cache numbers
        self.kinds: list[str] = []  # the workload's operation kinds, fixed order

    def check(self, name: str, ok: bool, info: str = "") -> None:
        self.checks.append({"name": name, "ok": bool(ok), "info": info[:300]})

    def span(self, name: str, **attrs):
        from contextlib import nullcontext

        return self.tracer.span(name, **attrs) if self.tracer else nullcontext()

    def timed(self, kind: str, cycle: int, fn):
        """Run one operation; a raise counts as a failed operation."""
        traced = (
            bool(self.args.trace) and cycle >= 0 and (cycle + self.kinds.index(kind)) % 2 == 1
        )
        if traced:
            self.probe.begin()
            self.tracer.enabled = True
            self.tracer.op_id = len(self.ops)
        t0 = time.perf_counter()
        out, ok, err = None, True, None
        try:
            with self.span("op", kind=kind):
                out = fn()
        except Exception as exc:  # failure accounting: the run goes on
            ok, err = False, f"{type(exc).__name__}: {exc}"
        ms = (time.perf_counter() - t0) * 1e3
        rec = {"kind": kind, "ms": ms, "ok": ok, "traced": traced, "cycle": cycle}
        if err:
            rec["error"] = err[:300]
            print(f"perfbench: {kind} failed: {err[:300]}", file=sys.stderr)
        if traced:
            self.tracer.enabled = False
            layer = self.probe.end()
            layer.update(self.probe.cache())
            layer["op"] = len(self.ops)
            self.layer_ops.append(layer)
        self.ops.append(rec)
        return out, ok

    def cycles(self):
        """Yield cycle indices until the time budget is spent.

        The ``WARMUP_CYCLES`` warm-up cycles come first, with negative
        indices: untraced and left out of every latency, their operations
        still count in attempted and failed.  The budget starts after them.
        Runs stop at the first cycle boundary past ``--seconds``; traced runs
        only after an even number of cycles, so every kind has as many
        traced as untraced operations."""
        yield from range(-WARMUP_CYCLES, 0)
        t0, (steal0, total0) = time.perf_counter(), steal_ticks()
        c = 0
        while True:
            yield c
            c += 1
            spent = time.perf_counter() - t0 >= self.args.seconds
            if spent and (not self.args.trace or c % 2 == 0):
                self.detail["timed_wall_s"] = time.perf_counter() - t0
                steal, total = steal_ticks()
                self.detail["host_steal_share"] = (steal - steal0) / max(total - total0, 1)
                return

    def setup(self, fn):
        """Run the workload's set-up several times; keep the last result."""
        out = None
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            out = fn()
            self.setup_s.append(time.perf_counter() - t0)
        return out


# -- workloads ------------------------------------------------------------------


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def pipeline_frames(run: Run) -> None:
    import duckdb

    from bench import HEADLINE
    from phoenix_spark.queries import all_oracles, all_queries
    from tests.parity import compare
    from datagen import TABLES
    from workloads import PIPELINE_BUILDERS, pipeline_cycles

    spark, qs = run.spark, all_queries()
    names = [n for n in HEADLINE if n in PIPELINE_BUILDERS]
    # untimed correctness pass at the oracle scale; it also warms codegen/JIT
    oracles = all_oracles()
    con = duckdb.connect()
    check_dir = run.data["check"]
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{check_dir}/{t}.parquet'")
    for name in names:
        spark.catalog.clearCache()
        try:
            got = qs[name](spark, check_dir).toPandas()
            problems = compare(got, con.execute(oracles[name]).fetchdf())
        except Exception as exc:
            problems = [f"{type(exc).__name__}: {exc}"]
        run.check(f"oracle:{name}", not problems, " | ".join(problems))
    con.close()

    timed_dir = run.data["timed"]
    run.kinds = names
    spark.catalog.clearCache()
    run.setup(lambda: [qs[n](spark, timed_dir) for n in names])

    orders = pipeline_cycles(names, run.args.seed)
    for cycle in run.cycles():
        for name in next(orders):
            spark.catalog.clearCache()

            def op(name=name):
                with run.span("queries.build", builder=name):
                    df = qs[name](spark, timed_dir)
                with run.span("action.noop_write"):
                    _force(df)

            run.timed(name, cycle, op)
    # bench.py's headline definition: the sum of per-builder medians
    run.detail["pipeline_wall_s"] = sum(kind_p50(run).values()) / 1e3


def _engine(run: Run, **kw):
    import tempfile

    from phoenix_spark.engine import Engine

    wh = tempfile.mkdtemp(prefix="wh-", dir=run.run_dir)
    return Engine(run.spark, warehouse=wh, **kw), wh


def sql_lookup(run: Run) -> None:
    import duckdb
    import pandas as pd
    import pyarrow.parquet as pq

    from tests.parity import compare
    from workloads import LOOKUP_TEMPLATES, LookupStream

    data = run.data["timed"]
    engines = []

    def setup():
        if engines:  # each set-up starts from an empty warehouse
            shutil.rmtree(engines.pop()[1], ignore_errors=True)
        engines.append(_engine(run, sf_dir=data))

    run.setup(setup)
    eng = engines[-1][0]
    n_orders = pq.ParquetFile(f"{data}/orders.parquet").metadata.num_rows
    stream = LookupStream(run.args.seed, n_orders, n_orders)
    run.kinds = list(LOOKUP_TEMPLATES)
    # warm-up: one statement outside the timed loop (first-statement costs)
    eng.sql("SELECT r_name FROM region WHERE r_regionkey = ?", [0]).collect()

    con = duckdb.connect()
    for t in ("orders", "customer", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    checked: set[str] = set()
    for cycle in run.cycles():
        for op in stream.cycle():

            def call(op=op):
                df = eng.sql(op.sql, op.params)
                with run.span("action.collect"):
                    return df.collect(), df.columns

            out, ok = run.timed(op.kind, cycle, call)
            if ok and op.kind not in checked:  # each template on its first draw
                checked.add(op.kind)
                rows, cols = out
                got = pd.DataFrame([tuple(r) for r in rows], columns=cols)
                problems = compare(got, con.execute(op.duck).fetchdf())
                run.check(f"duckdb:{op.kind}", not problems, " | ".join(problems))
    con.close()
    run.detail["templates_checked"] = sorted(checked)


def sql_mutate(run: Run) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from workloads import MUTATE_DDL, MUTATE_KINDS, WRITE_KINDS, MutateStream

    data = run.data["timed"]
    spark = run.spark
    engines = []

    def setup():
        if engines:
            shutil.rmtree(engines.pop()[1], ignore_errors=True)
        spark.read.parquet(f"{data}/orders.parquet").createOrReplaceTempView("orders")
        eng, wh = _engine(run)
        for stmt in MUTATE_DDL:
            eng.sql(stmt)
        engines.append((eng, wh))

    run.setup(setup)
    eng, wh = engines[-1]
    orders = pq.read_table(
        f"{data}/orders.parquet",
        columns=["o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"],
    ).to_pydict()
    model = {
        k: (c, p, s)
        for k, c, p, s in zip(
            orders["o_orderkey"], orders["o_custkey"], orders["o_totalprice"], orders["o_orderstatus"]
        )
    }
    n_cust = pq.ParquetFile(f"{data}/customer.parquet").metadata.num_rows
    stream = MutateStream(run.args.seed, model, n_cust)
    run.kinds = list(MUTATE_KINDS)
    bytes_before = _dir_bytes(wh)
    user_rows: list[tuple] = []
    bad_reads = 0
    for cycle in run.cycles():
        for op in stream.cycle():

            def call(op=op):
                out = eng.sql(op.sql, op.params)
                if op.kind in ("pk_read", "index_read"):
                    with run.span("action.collect"):
                        return [tuple(r) for r in out.collect()]
                return out

            out, ok = run.timed(op.kind, cycle, call)
            stream.apply(op, ok)
            user_rows += op.rows if ok else []
            if ok and op.kind in ("pk_read", "index_read") and not stream.matches(op, out):
                bad_reads += 1
    run.check("readbacks_match_model", bad_reads == 0, f"{bad_reads} reads disagreed")

    # final table against the model: acknowledged writes readable, deletes gone
    final = eng.sql("SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus FROM bo").collect()
    got = {r[0]: (r[1], r[2], r[3]) for r in final if r[0] not in stream.uncertain}
    want = {k: v for k, v in stream.model.items() if k not in stream.uncertain}
    diff = [k for k in set(got) | set(want) if got.get(k) != want.get(k)]
    run.check("final_table_matches_model", not diff, f"{len(diff)} keys differ, e.g. {sorted(diff)[:5]}")

    live = pa.table(
        {
            "o_orderkey": pa.array(list(want), pa.int64()),
            "o_custkey": pa.array([v[0] for v in want.values()], pa.int64()),
            "o_totalprice": pa.array([v[1] for v in want.values()], pa.float64()),
            "o_orderstatus": [v[2] for v in want.values()],
        }
    )
    live_path = os.path.join(run.run_dir, "live.parquet")
    pq.write_table(live, live_path)
    wh_bytes = _dir_bytes(wh)
    run.detail["storage_amp"] = wh_bytes / os.path.getsize(live_path)
    run.detail["segments"] = _segments(wh)
    if user_rows:
        written = os.path.join(run.run_dir, "written.parquet")
        pq.write_table(
            pa.table({c: [r[i] for r in user_rows] for i, c in enumerate(live.column_names)}),
            written,
        )
        run.detail["bytes_per_user_byte"] = (wh_bytes - bytes_before) / os.path.getsize(written)
    for label, kinds in (("upsert", WRITE_KINDS), ("readback", ("pk_read", "index_read"))):
        lat = [o["ms"] for o in _untraced_ok(run) if o["kind"] in kinds]
        run.detail[f"{label}_p50_ms"] = _median(lat)
        run.detail[f"{label}_tail"] = tail(lat)


WORKLOADS = {
    "pipeline_frames": pipeline_frames,
    "sql_lookup": sql_lookup,
    "sql_mutate": sql_mutate,
}


# -- metrics --------------------------------------------------------------------


def measured(run: Run) -> list[dict]:
    """Operations of the timed cycles (warm-up left out)."""
    return [o for o in run.ops if o["cycle"] >= 0]


def _untraced_ok(run: Run) -> list[dict]:
    return [o for o in measured(run) if not o["traced"] and o["ok"]]


def cycle_latencies(run: Run) -> list[float]:
    """Wall ms of each untraced cycle in which every operation succeeded."""
    cycles: dict[int, list[dict]] = {}
    for o in measured(run):
        if not o["traced"]:
            cycles.setdefault(o["cycle"], []).append(o)
    return [sum(o["ms"] for o in c) for c in cycles.values() if all(o["ok"] for o in c)]


def kind_p50(run: Run) -> dict[str, float]:
    """Median latency (ms) of each operation kind (template, builder)."""
    by_kind: dict[str, list[float]] = {}
    for o in _untraced_ok(run):
        by_kind.setdefault(o["kind"], []).append(o["ms"])
    return {k: _median(v) for k, v in sorted(by_kind.items())}


def end_to_end(run: Run) -> dict:
    p50 = kind_p50(run)
    return {
        "setup_s": _median(run.setup_s),
        "cycle_p50_ms": _median(cycle_latencies(run)),
        "op_geomean_ms": statistics.geometric_mean(p50.values()) if p50 else 0.0,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--sf", type=float, default=SF_TIMED, help="timed scale factor (smoke tests use 0.001)"
    )
    args = ap.parse_args(argv)

    for need in ("phoenix_spark/engine.py", "bench.py", "tests/parity.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found; run from a full checkout", file=sys.stderr)
            return 2

    # a SIGTERM unwinds through the ``finally`` below, which stops Spark
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    nproc = len(os.sched_getaffinity(0))
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    # keep every scratch file inside the checkout
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    # -XX:-UsePerfData: the JVM would otherwise keep a file in /tmp/hsperfdata_*
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={run_dir}/tmp -XX:-UsePerfData' pyspark-shell"
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ.pop("SPARK_GRAFT_UI", None)  # UI off: all reads go over py4j
    sys.path[:0] = [ROOT, HERE]

    import datagen

    data = {
        "timed": datagen.ensure(os.path.join(WORK, "data"), args.sf),
        "check": datagen.ensure(os.path.join(WORK, "data"), min(args.sf, SF_CHECK)),
    }

    from phoenix_spark.session import get_spark

    spark = None
    try:
        spark = get_spark(
            app_name=f"perfbench_{args.workload}",
            master=f"local[{nproc}]",
            shuffle_partitions=nproc,
        )
        spark.sparkContext.setLogLevel("ERROR")
        run = Run(args, spark, run_dir, data)
        if args.trace:
            from tracer import SparkProbe, Tracer

            run.tracer, run.probe = Tracer(), SparkProbe(spark)
            run.tracer.install()
        WORKLOADS[args.workload](run)
        rss = peak_rss_mb(spark)
        if args.trace:
            from layers import per_layer

            metrics, units = per_layer(run)
            trace_dir = os.path.join(WORK, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            run.tracer.dump(
                os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json"),
                {"workload": args.workload, "seed": args.seed, "ops": run.ops, "layer_ops": run.layer_ops},
            )
            run.tracer.uninstall()
            run.probe.close()
        else:
            metrics, units = end_to_end(run), END_TO_END
    finally:
        try:
            stop_spark(spark)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)

    attempted = len(run.ops)
    failed = sum(not o["ok"] for o in run.ops)
    ok_ms = [o["ms"] for o in _untraced_ok(run)]
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": nproc,
        "loop": "closed, 1 client",
        "error_rate": failed / attempted if attempted else 0.0,
        "ops_per_s": len(ok_ms) / run.detail["timed_wall_s"],
        "op_p50_ms": _median(ok_ms),
        "op_tail": tail(ok_ms),
        "kind_p50_ms": kind_p50(run),
        "cycle_ms": cycle_latencies(run),
        "setup_runs_s": run.setup_s,
        "peak_rss_mb": rss,
        "checks": run.checks,
        **run.detail,
    }
    print(json.dumps({"detail": detail}, default=str))
    print(
        json.dumps(
            {
                "correct": all(c["ok"] for c in run.checks) and bool(run.checks),
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
