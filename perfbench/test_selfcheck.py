"""Self-checks of the benchmark's own code.

    python3 -m pytest perfbench/test_selfcheck.py -p no:cacheprovider      # fast
    PERFBENCH_SMOKE=1 python3 -m pytest perfbench/test_selfcheck.py ...    # + smoke

The smoke runs start Spark and a scratch server per workload (about
half a minute each), so they run only when PERFBENCH_SMOKE=1.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import run  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")
BENCH = json.loads((HERE.parent / "BENCHMARK.json").read_text())
# spans every traced run records around the public calls it probes
PROBE_SPANS = {
    "probe.scan_plan", "pg_datasource.schema", "pg_datasource.partitions",
    "probe.read_task", "pgclient.connect", "pgclient.copy_out",
    "pgwire.decode", "pg_datasource.read", "server.copy_devnull",
    "probe.spark_scan", "probe.write", "pg_datasource.spool",
    "pg_datasource.commit", "pgwire_vec.encode", "pgclient.copy_in",
}


def test_benchmark_json_shape():
    assert set(BENCH) == {"command", "paths", "run_seconds", "workloads",
                          "end_to_end", "per_layer"}
    assert BENCH["paths"] == ["perfbench"]
    assert 1 <= BENCH["run_seconds"] <= 60
    assert 2 <= len(BENCH["workloads"]) <= 8
    for w in BENCH["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200
        assert w["name"] in workloads.WORKLOADS
    for m in BENCH["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    bounds = {m["name"]: m["bound"] for m in BENCH["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values())
    for m in BENCH["per_layer"]:
        assert set(m) == {"name", "unit", "better"}


def test_metric_name_grammar():
    names = [w["name"] for w in BENCH["workloads"]]
    for group in ("end_to_end", "per_layer"):
        for m in BENCH[group]:
            assert NAME.fullmatch(m["name"]), m["name"]
            assert UNIT.fullmatch(m["unit"]), m["unit"]
            assert m["better"] in ("lower", "higher")
            names.append(m["name"])
    assert len(names) == len(set(names))


def test_reported_metrics_match_benchmark_json():
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} \
        == run.END_TO_END
    assert {m["name"]: m["unit"] for m in BENCH["per_layer"]} == run.PER_LAYER


def _span(i, parent, start, end):
    return {"id": i, "parent": parent, "start": start, "end": end}


def test_self_time_subtracts_children_once():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),      # overlaps span 2 on [3, 4]
        _span(2, 0, 3.0, 6.0),
        _span(3, 0, 9.0, 12.0),     # runs past its parent: clipped at 10
        _span(4, 1, 1.5, 2.0),
    ]
    self_s = tracing.self_times(spans)
    assert self_s[0] == pytest.approx(10 - (6 - 1) - (10 - 9))
    assert self_s[1] == pytest.approx(3.0 - 0.5)
    assert self_s[2] == pytest.approx(3.0)
    assert self_s[4] == pytest.approx(0.5)


def test_tracer_nesting_and_disabled():
    tr = tracing.Tracer(enabled=True)
    with tr.op("a"):
        with tr.span("b"):
            pass
    with tr.op("c"):
        pass
    a, b, c = tr.spans
    assert b["parent"] == a["id"] and a["parent"] is None
    assert a["trace"] == b["trace"] != c["trace"]
    off = tracing.Tracer(enabled=False)
    with off.op("x"), off.span("y"):
        pass
    assert off.spans == []


def test_overhead_pairs_cancel_linear_drift():
    flags = [run.traced_at(i) for i in range(8)]
    assert flags == [False, True, True, False] * 2
    # every operation 0.5 s faster than the one before, traced ones
    # 0.1 s slower: the ABBA pairs still read the 0.1 s
    times = [10 - 0.5 * i + (0.1 if f else 0) for i, f in enumerate(flags)]
    pairs = run.paired_overheads(times)
    assert len(pairs) == 4
    assert sum(pairs) / len(pairs) == pytest.approx(0.1)


def test_scan_table_is_tiled_test_data():
    import numpy as np
    import inputs
    one = inputs.scan_lineitem(inputs.SMOKE_DIR, 1)
    two = inputs.scan_lineitem(inputs.SMOKE_DIR, 2)
    assert two.num_rows == 2 * one.num_rows
    assert two.slice(0, one.num_rows).equals(one)
    keys = two["l_orderkey"].to_numpy()
    assert len(set(keys[:one.num_rows]) & set(keys[one.num_rows:])) == 0
    # money columns are whole cents / whole percents
    for col in ("l_extendedprice", "l_discount", "l_tax"):
        v = two[col].to_numpy()
        assert np.array_equal(np.round(v * 100) / 100, v)
    a = inputs.permuted(one, np.random.default_rng(1))
    b = inputs.permuted(one, np.random.default_rng(1))
    c = inputs.permuted(one, np.random.default_rng(2))
    assert a.equals(b) and not a.equals(c)


@pytest.mark.skipif(os.environ.get("PERFBENCH_SMOKE") != "1",
                    reason="set PERFBENCH_SMOKE=1 for the smoke runs")
@pytest.mark.parametrize("workload,trace", [
    (w, t) for w in sorted(workloads.WORKLOADS) for t in (0, 1)])
def test_smoke(workload, trace):
    p = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace),
         "--smoke"], cwd=HERE.parent, capture_output=True, text=True,
        timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0, p.stderr[-3000:]
    want = run.PER_LAYER if trace else run.END_TO_END
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    if trace:
        spans = json.loads((HERE.parent / ".perfbench_work" / "results" /
                            f"{workload}-seed7-spans.json").read_text())
        names = {s["name"] for s in spans["spans"]}
        assert PROBE_SPANS <= names, PROBE_SPANS - names
