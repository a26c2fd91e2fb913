#!/usr/bin/env python3
"""Benchmark of the postgres_scan connector and the engine pipeline.

    python3 perfbench/run.py --workload scan_full --seed 1 --seconds 14 --trace 0

Runs from the root of a source checkout: starts a scratch Postgres
server when the workload needs one, loads its inputs and derives its
parameters from --seed, starts Spark at local[nproc], warms up, then runs one
operation after another (closed loop, one client) for --seconds,
checking every result. The last stdout line is one JSON object:

    {"correct": bool, "attempted": int, "failed": int, "metrics": {...}}

--trace 0 reports the end-to-end metrics; --trace 1 runs the same
workload with spans and job-tagged stage metrics, replays the scan and
write layers (layers.py) and reports the per-layer metrics. Details
of every run, spans included, go to .perfbench_work/results/.
See README.md for workloads, metrics and the load shape.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import ExitStack
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

END_TO_END = {"op_s": "s", "rows_per_s": "rows/s", "setup_s": "s",
              "worker_peak_rss_mb": "MB"}
# reported by every traced run, whatever the workload (README.md maps
# each to the end-to-end metric and workload it should move)
PER_LAYER = {
    "pgclient.connect_ms": "ms", "pgclient.copy_out_mb_s": "MB/s",
    "pgclient.copy_out_bytes": "bytes", "pgclient.copy_in_mb_s": "MB/s",
    "pgwire.decode_rows_s": "rows/s", "pgwire.decode_peak_mb": "MB",
    "pgwire_vec.encode_rows_s": "rows/s",
    "pg_datasource.schema_ms": "ms", "pg_datasource.plan_ms": "ms",
    "pg_datasource.tasks": "count",
    "pg_datasource.read_task_s_p50": "s", "pg_datasource.read_task_s_max": "s",
    "pg_datasource.rows_shipped_per_row_kept": "ratio",
    "pg_datasource.read_connect_s": "s", "pg_datasource.read_receive_s": "s",
    "pg_datasource.read_decode_s": "s", "pg_datasource.read_other_s": "s",
    "pg_datasource.spool_s": "s", "pg_datasource.commit_s": "s",
    "server.copy_devnull_s": "s",
    "spark.run_ms": "ms", "spark.cpu_ms": "ms", "spark.gc_ms": "ms",
    "spark.tasks": "count", "spark.max_task_ms": "ms", "spark.ingest_s": "s",
    "host.steal_ms": "ms", "host.membw_gbs": "GB/s",
    "trace.overhead_s": "s",
}


class Failed(Exception):
    """The benchmark cannot produce a result; the message says why."""


def _parse(argv):
    from workloads import WORKLOADS
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="sf0.001 inputs, for the self-check only")
    return ap.parse_args(argv)


def _check_checkout() -> None:
    for rel in ("postgres_scanner_spark/__init__.py", "__spark_entry__.py",
                "tests/oracle_harness.py"):
        if not (ROOT / rel).is_file():
            raise Failed(f"program source {rel} not found under {ROOT}: "
                         "run from the root of a full checkout")


def _configure_env(work: Path) -> None:
    """Keep Spark's scratch space inside the checkout and its console
    quiet; must run before the JVM starts."""
    local = work / "spark-local"
    local.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        "--driver-java-options \"-XX:-UsePerfData "
        f"-Djava.io.tmpdir={local}\" pyspark-shell")
    os.environ.setdefault("SPARK_GRAFT_CACHE", "1")
    sys.path.insert(0, str(ROOT))


def _on_signal(signum, _frame):
    raise SystemExit(128 + signum)


class SparkHandle:
    """Starts the program's Spark session; `stop()` ends the session,
    the JVM and every Python worker it forked, and waits for each."""

    def __init__(self, nproc: int):
        from postgres_scanner_spark import get_spark
        from postgres_scanner_spark.pg_datasource import PostgresScanDataSource
        self.spark = get_spark(cpus=nproc)
        self.spark.dataSource.register(PostgresScanDataSource)

    def stop(self) -> None:
        from pyspark import SparkContext
        import tracing as tr
        from pgserver import alive
        workers = tr.worker_pids(os.getpid())
        gw = SparkContext._gateway
        self.spark.stop()
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()       # the JVM exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
        deadline = time.monotonic() + 15
        for pid in workers:
            while alive(pid) and time.monotonic() < deadline:
                time.sleep(0.05)
            if alive(pid):
                os.kill(pid, signal.SIGKILL)


def _nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


def traced_at(i: int) -> bool:
    """Whether timed operation `i` of a traced run is traced. The order
    is ABBA (untraced, traced, traced, untraced, ...), so a steady
    drift over the run, such as the first few operations after
    warm-up still getting faster, cancels across each pair of pairs."""
    return i % 4 in (1, 2)


def paired_overheads(times: list[float]) -> list[float]:
    """Traced minus untraced time of each pair (0, 1), (2, 3), ... of
    an ABBA sequence of operation times."""
    return [(times[k] - times[k + 1]) * (-1 if traced_at(k + 1) else 1)
            for k in range(0, len(times) - 1, 2)]


def run(args, work: Path) -> dict:
    import inputs
    import tracing as tr
    import workloads as wl
    from pgserver import PgServer, ServerUnavailable

    nproc = _nproc()
    tracer = tr.Tracer(enabled=bool(args.trace))
    ctx = wl.Ctx(seed=args.seed, work=str(work), nproc=nproc, tracer=tracer)
    if args.smoke:
        ctx.data_dir, ctx.scan_copies = inputs.SMOKE_DIR, inputs.SMOKE_SCAN_COPIES
    w = wl.WORKLOADS[args.workload]()
    setup: dict[str, float] = {}
    report = {"workload": w.name, "seed": args.seed, "trace": args.trace,
              "seconds": args.seconds, "setup": setup, "info": ctx.info}

    with ExitStack() as stack:
        need_server = w.needs_server or args.trace
        if need_server:
            try:
                server = stack.enter_context(PgServer())
            except ServerUnavailable as e:
                raise Failed(f"scratch Postgres server unavailable: {e}")
            ctx.dsn = server.dsn
            setup["server_init_s"] = server.init_s
            ctx.scan_table = inputs.scan_lineitem(ctx.data_dir,
                                                  ctx.scan_copies)
            ctx.info["scan_data_key"] = inputs.data_key(
                [ctx.data_dir / "lineitem.parquet"], f"x{ctx.scan_copies}")
            loads = []
            for _ in range(3):             # set-up step repeated: median
                t = time.perf_counter()
                wl.load_table(ctx.dsn, wl.SCAN_TABLE, ctx.scan_table)
                loads.append(time.perf_counter() - t)
            setup["load_s"] = _median(loads)
            ctx.info["postgres"] = server.version
        w.prepare(ctx)                     # inputs + expected answers

        t = time.perf_counter()
        sh = SparkHandle(nproc)
        stack.callback(sh.stop)
        ctx.spark = sh.spark
        ctx.jobs = tr.JobGroupMetrics(ctx.spark)
        setup["spark_start_s"] = time.perf_counter() - t
        if hasattr(w, "session"):
            t = time.perf_counter()
            w.session(ctx)
            setup["tables_warm_s"] = time.perf_counter() - t

        attempted, failed, problems = 0, 0, []

        def one_op(tag: str | None):
            nonlocal attempted, failed
            attempted += 1
            if args.trace:
                tracer.enabled = tag is not None
            t0 = time.perf_counter()
            try:
                if tag is None:
                    res = w.op(ctx)
                else:
                    with tracer.op(f"op.{w.name}", tag=tag), \
                            ctx.jobs.tagged(tag):
                        res = w.op(ctx)
                dt = time.perf_counter() - t0
                bad = w.check(ctx, res)
            except Exception:
                dt = time.perf_counter() - t0
                res, bad = None, [traceback.format_exc(limit=3)]
            if bad:
                failed += 1
                problems.extend(bad[:2])
            return dt, res

        # first operation: pays JIT, worker spin-up and first-touch
        # costs, so it belongs to set-up, not to op_s
        setup["first_op_s"], _ = one_op(None)
        setup_s = sum(setup.values())

        steal0 = tr.steal_jiffies()
        bw = [tr.membw_gbs()]
        times, results = [], []
        deadline = time.perf_counter() + args.seconds
        i = 0
        # at least three timed operations, so neither the first, still
        # warming up, nor one slowed by a burst of host steal sets the
        # median; a traced run ends on a whole ABBA block, so its
        # overhead pairs cancel drift
        min_ops, block = (4, 4) if args.trace else (3, 1)
        while True:
            tag = f"{w.name}-{i}" if args.trace and traced_at(i) else None
            dt, res = one_op(tag)
            times.append(dt)
            results.append((tag, res))
            i += 1
            if (time.perf_counter() >= deadline and i >= min_ops
                    and i % block == 0):
                break
        tracer.enabled = bool(args.trace)      # the layer probes are traced
        peak_rss = tr.worker_peak_rss_bytes(os.getpid())
        bw.append(tr.membw_gbs())
        steal_ms = (tr.steal_jiffies() - steal0) * 10

        op_s = _median(times)
        report.update(op_times=times, host_steal_ms=steal_ms,
                      host_membw_gbs=bw, problems=problems[:10])
        if isinstance(w, wl.Pipeline):
            per_q: dict[str, list[float]] = {}
            for _, res in results:
                for q, (_, _, secs) in (res or {}).items():
                    name = f"{wl.QUERY_MODULE[q[0]]}.{q}_s"
                    per_q.setdefault(name, []).append(secs)
            report["pipeline_query_s"] = {k: _median(v)
                                          for k, v in per_q.items()}
            report["pipeline_query_s"]["tables.warm_s"] = \
                setup["tables_warm_s"]
        metrics = {
            "op_s": op_s,
            "rows_per_s": w.rows_per_op(ctx) / op_s,
            "setup_s": setup_s,
            "worker_peak_rss_mb": peak_rss / 1e6,
        }
        if args.trace:
            metrics = traced_metrics(ctx, w, results, times, steal_ms, bw,
                                     report)
        report["metrics"] = metrics
        report["attempted"], report["failed"] = attempted, failed
        if args.trace:
            tracer.dump(str(work.parent / "results" /
                            f"{w.name}-seed{args.seed}-spans.json"))
    return report


def traced_metrics(ctx, w, results, times, steal_ms, bw, report) -> dict:
    import layers
    import workloads as wl
    stages = [ctx.jobs.collect(tag) for tag, _ in results if tag]
    m = {f"spark.{k}": _median([s[k] for s in stages])
         for k in ("run_ms", "cpu_ms", "gc_ms", "tasks", "max_task_ms")}
    scan = w if isinstance(w, wl.Scan) else wl.ScanFull()
    if scan is not w:
        scan.params(ctx)
    # one tagged Spark run of the probed scan: its scan stage time
    # less the in-process read() time is Spark's ingest
    tag = "probe-scan"
    with ctx.tracer.op("probe.spark_scan"), ctx.jobs.tagged(tag):
        scan.op(ctx)
    scan_stage_s = ctx.jobs.collect(tag)["first_stage_run_ms"] / 1e3
    m.update(layers.scan_layers(ctx, scan.pushed_filters(), scan.kept_rows()))
    m["spark.ingest_s"] = scan_stage_s - m["pg_datasource.read_s"]
    m.update(layers.write_layers(ctx))
    m["host.steal_ms"] = steal_ms
    m["host.membw_gbs"] = min(bw)
    pairs = paired_overheads(times)
    m["trace.overhead_s"] = _median(pairs)
    report["trace_overhead_pairs_s"] = pairs
    report["all_layer_metrics"] = dict(m)
    return {k: m[k] for k in PER_LAYER}


def _meta(report: dict) -> dict:
    import pyspark
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {"nproc": _nproc(), "mem_gib": round(mem_kb / 2**20, 1),
            "pyspark": pyspark.__version__,
            "python": platform.python_version(),
            "postgres": report["info"].get("postgres", "n/a"),
            "data_keys": {k: v for k, v in report["info"].items()
                          if k.endswith("data_key")}}


def main(argv=None) -> int:
    args = _parse(argv)
    signal.signal(signal.SIGTERM, _on_signal)
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    try:
        _check_checkout()
        _configure_env(work)
        (work.parent / "results").mkdir(parents=True, exist_ok=True)
        report = run(args, work)
    except Failed as e:
        print(f"perfbench: error: {e}", file=sys.stderr)
        return 2
    finally:
        shutil.rmtree(work, ignore_errors=True)
    report["meta"] = _meta(report)
    units = END_TO_END if not args.trace else PER_LAYER
    metrics = {k: {"value": float(v), "unit": units[k]}
               for k, v in report["metrics"].items()}
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    (work.parent / "results" / name).write_text(json.dumps(report, indent=1,
                                                           default=str))
    meta = report["meta"]
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"nproc={meta['nproc']} mem={meta['mem_gib']}GiB "
          f"pyspark={meta['pyspark']} postgres={meta['postgres']!r} "
          f"data={meta['data_keys']} "
          f"ops={report['attempted']} failed={report['failed']} "
          f"error_rate={report['failed'] / report['attempted']:.3f}")
    if "trace_overhead_pairs_s" in report:
        print(f"  trace.overhead_s rests on "
              f"{len(report['trace_overhead_pairs_s'])} ABBA pairs: "
              f"{[round(p, 4) for p in report['trace_overhead_pairs_s']]}")
    print(f"  host: steal_ms={report['host_steal_ms']} membw_gbs="
          f"{[round(b, 1) for b in report['host_membw_gbs']]} "
          f"(before/after the timed operations)")
    for k, v in metrics.items():
        print(f"  {k:<44} {v['value']:>16.6g} {v['unit']}")
    for p in report["problems"]:
        print(f"  problem: {p}", file=sys.stderr)
    print(json.dumps({"correct": report["failed"] == 0,
                      "attempted": report["attempted"],
                      "failed": report["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
