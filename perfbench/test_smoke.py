"""Smoke test of the benchmark itself: sf0.001, one cycle per run.

    python3 -m pytest perfbench/test_smoke.py -q

Checks the output contract (every named metric present with its unit),
the trace (spans nest, self time >= 0), the teardown (no JVM or PySpark
worker outlives a run), the seeded generators (same seed, same statements;
another seed, same templates with other binds) and the failure accounting
(a raising operation is counted and the run goes on).
It pins no number the program could legitimately change.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import (  # noqa: E402
    LOOKUP_TEMPLATES,
    MUTATE_KINDS,
    LookupStream,
    MutateStream,
    pipeline_cycles,
)

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)
# sql_lookup is runnable but not in BENCHMARK.json (see perfbench/spec.json)
WORKLOADS = [w["name"] for w in BENCH["workloads"]] + ["sql_lookup"]
SEED = 7


def _spark_procs() -> dict[tuple[int, str], str]:
    """Live or unreaped Spark JVMs and PySpark workers on the host, by
    (pid, start time)."""
    from run import _proc_stat

    out = {}
    for d in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{d}/comm") as f:
                comm = f.read().strip()
            with open(f"/proc/{d}/cmdline") as f:
                cmd = f.read().replace("\0", " ")
        except OSError:
            continue
        st = _proc_stat(int(d))
        if st and (comm == "java" or "pyspark" in cmd):
            out[(int(d), st[19])] = cmd[:200] or comm
    return out


def _run(workload: str, trace: int):
    before = _spark_procs()
    proc = subprocess.run(
        [
            sys.executable, "perfbench/run.py", "--workload", workload,
            "--seed", str(SEED), "--seconds", "0", "--trace", str(trace),
            "--sf", "0.001",
        ],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    left = {k: v for k, v in _spark_procs().items() if k not in before}
    assert not left, f"processes left running: {left}"
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2])["detail"], json.loads(lines[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_run_contract(workload, trace):
    detail, res = _run(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"], detail["checks"]
    assert res["attempted"] >= 1 and res["failed"] == 0
    spec = BENCH["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == {
        m["name"]: m["unit"] for m in spec
    }
    for v in res["metrics"].values():
        assert isinstance(v["value"], (int, float))
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())
        return
    path = os.path.join(ROOT, ".bench_build", "perfbench", "traces", f"{workload}-seed{SEED}.json")
    with open(path) as f:
        spans = json.load(f)["spans"]
    assert spans
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        assert s["end"] >= s["start"]
        assert s["self"] >= -1e-9
        if s["parent"] is None:
            assert s["name"] == "op"
            continue
        p = by_id[s["parent"]]
        assert p["start"] <= s["start"] and s["end"] <= p["end"]
        assert p["op"] == s["op"]


def test_lookup_stream_is_seeded():
    a = [(o.kind, o.sql, o.params) for o in LookupStream(1, 1500, 1500).cycle()]
    b = [(o.kind, o.sql, o.params) for o in LookupStream(1, 1500, 1500).cycle()]
    c = [(o.kind, o.sql, o.params) for o in LookupStream(2, 1500, 1500).cycle()]
    assert a == b
    assert sorted(k for k, _, _ in a) == sorted(k for k, _, _ in c) == sorted(LOOKUP_TEMPLATES)
    assert sorted((k, s) for k, s, _ in a) == sorted((k, s) for k, s, _ in c)
    assert dict((k, p) for k, _, p in a) != dict((k, p) for k, _, p in c)


def test_lookup_binds_never_repeat():
    stream = LookupStream(3, 1500, 1500)
    texts = [o.duck for _ in range(20) for o in stream.cycle()]
    assert len(texts) == len(set(texts))


def _mutate_ops(seed: int):
    model = {k: (k % 150, 1000.0 + k, "O") for k in range(1500)}
    stream = MutateStream(seed, model, 150)
    ops = []
    for _ in range(3):
        for op in stream.cycle():
            stream.apply(op, True)
            ops.append((op.kind, op.sql, op.params))
    return ops


def test_mutate_stream_is_seeded():
    a, b, c = _mutate_ops(1), _mutate_ops(1), _mutate_ops(2)
    assert a == b
    assert sorted(k for k, _, _ in a) == sorted(k for k, _, _ in c)
    first_cycle = a[: len(a) // 3]
    assert {k for k, _, _ in first_cycle} == set(MUTATE_KINDS)
    assert [p for _, _, p in a] != [p for _, _, p in c]


def test_pipeline_order_is_seeded():
    from workloads import PIPELINE_BUILDERS

    def first(seed, n=3):
        it = pipeline_cycles(PIPELINE_BUILDERS, seed)
        return [next(it) for _ in range(n)]

    assert first(1) == first(1)
    assert first(1) != first(2)
    assert all(sorted(p) == sorted(PIPELINE_BUILDERS) for p in first(1) + first(2))


def test_failed_operation_is_counted_and_run_goes_on(tmp_path):
    sys.path.insert(0, ROOT)
    from phoenix_spark.engine import Engine
    from run import Run

    # a bind-arity mismatch raises before any Spark call, so no session is needed
    eng = Engine(object(), warehouse=str(tmp_path / "wh"))
    args = argparse.Namespace(workload="sql_mutate", seed=1, seconds=0, trace=0)
    run = Run(args, None, str(tmp_path), {})
    run.kinds = ["pk_read"]
    out, ok = run.timed(
        "pk_read", 0, lambda: eng.sql("SELECT o_orderkey FROM bo WHERE o_orderkey = ?", [])
    )
    assert not ok and out is None
    assert "arity" in run.ops[-1]["error"]
    out, ok = run.timed("pk_read", 0, lambda: 42)
    assert ok and out == 42
    assert [o["ok"] for o in run.ops] == [False, True]
