"""Fixed-work benchmark for walden_spark.

    python3 perfbench/run.py --workload bi_sql --seed 1 --seconds 15 --trace 0

Run from the repository root. One run is one process, one client and
one engine session (``local[<cpus>]``), in a closed loop:

1. start the session (``session.start_s``);
2. build fresh state ``SETUP_REPS`` times from the seeded inputs and
   keep the last build (``setup_s`` = start + median build time);
3. one untimed warm-up pass over every op type;
4. the timed phase: a fixed, seeded sequence of ops (the count depends
   on ``--seconds`` only, never on how fast the host is);
5. probes (live heap after a full GC, peak RSS), then the correctness
   checks, which run outside the timed phase against DuckDB or the
   benchmark's own model of what it committed.

All state lives in a temporary directory under the checkout that is
deleted at exit. The last stdout line is the JSON result: end-to-end
metrics with ``--trace 0``, per-layer metrics with ``--trace 1`` (the
traced run also writes its spans to ``perfbench/out/``).
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

import numpy as np

from tracing import Jvm, NullTracer, Tracer, vm_hwm_mb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# The maximum JVM heap is pinned, so the collector's default sizing
# (a share of host memory) does not change peak RSS between hosts.
HEAP = "1g"
SETUP_REPS = 3
BETA_GRID = 100_000  # midpoint-rule points for the Harrell-Davis weights
LAYERS = ("session", "queries", "catalog", "timetravel", "operators")

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "op_p50_ms": "ms",
    "op_p90_ms": "ms",
    "peak_rss_mb": "MiB",
    "heap_live_mb": "MiB",
    "ops_ok_pct": "%",
    "stored_bytes_per_user_byte": "ratio",
}

PER_LAYER = {
    "session.start_s": "s",
    "session.sql_ms": "ms",
    "session.gc_ms": "ms",
    "queries.exec_ms": "ms",
    "queries.stages": "count",
    "queries.tasks": "count",
    "queries.shuffle_write_bytes": "bytes",
    "queries.input_bytes": "bytes",
    "catalog.serve_agg_ms": "ms",
    "catalog.mv_hit_ratio": "ratio",
    "catalog.mv_build_s": "s",
    "timetravel.append_ms": "ms",
    "timetravel.upsert_ms": "ms",
    "timetravel.delete_ms": "ms",
    "timetravel.read_ms": "ms",
    "timetravel.scan_ms": "ms",
    "timetravel.read_as_of_ms": "ms",
    "timetravel.live_files_per_read": "count",
    "timetravel.compact_ms": "ms",
    "timetravel.compactions": "count",
    "timetravel.checkpoints": "count",
    "timetravel.write_ms": "ms",
    "timetravel.data_bytes": "bytes",
    "timetravel.metadata_bytes": "bytes",
    **{f"operators.{s}_ms": "ms" for s in (
        "dedup_exact", "text_quality_score", "text_decontaminate",
        "knn_lsh_bucketed", "text_pretrain_pipeline",
    )},
    "operators.rows_in": "count",
    "operators.rows_out": "count",
    "operators.dedup_kept_ratio": "ratio",
    "operators.ann_recall": "ratio",
    **{f"{layer}.self_ms": "ms" for layer in LAYERS},
    "bench.self_ms": "ms",
    "trace.ops_per_s": "1/s",
    "trace.overhead_pct": "%",
}


def percentile(values: list[float], q: float) -> float:
    """Harrell-Davis estimate of the ``q``-th percentile, ``q`` in (0, 100):
    the order statistics weighted by the Beta((n+1)p, (n+1)(1-p)) mass
    on each ``[i/n, (i+1)/n)``. With a few dozen ops it varies about half
    as much between runs as interpolating between the one or two order
    statistics nearest the percentile, as every slow op near it counts."""
    xs = np.sort(np.asarray(values, dtype=float))
    n = len(xs)
    p = q / 100.0
    a, b = (n + 1) * p, (n + 1) * (1 - p)
    t = (np.arange(BETA_GRID) + 0.5) / BETA_GRID
    log_pdf = (a - 1) * np.log(t) + (b - 1) * np.log1p(-t)
    w = np.bincount((t * n).astype(int), weights=np.exp(log_pdf - log_pdf.max()), minlength=n)
    return float(w @ xs / w.sum())


def median_or_zero(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


class Context:
    """What a workload gets: the session, the state directory, the
    tracer and the run's seed."""

    def __init__(self, args, state: str):
        self.args = args
        self.seed = args.seed
        self.state = state
        cpus = len(os.sched_getaffinity(0))
        t0 = time.perf_counter()
        from walden_spark.session import WaldenSession

        self.ws = WaldenSession(
            app_name="perfbench",
            master=f"local[{cpus}]",
            shuffle_partitions=cpus,
            warehouse_dir=f"{state}/warehouse",
            extra_conf={
                "spark.local.dir": f"{state}/spark-local",
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={state}/tmp",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark = self.ws.spark
        self.start_s = time.perf_counter() - t0
        self.jvm = Jvm(self.spark)
        self.tracer = NullTracer()  # set-up and warm-up are never traced
        self.jvm_pid = self.jvm.pid()

    def stop(self) -> None:
        """Stop the session and the JVM process, and wait for it."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.terminate()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def run_workload(ctx: Context, workload) -> dict:
    args = ctx.args
    builds = []
    for rep in range(SETUP_REPS):
        d = f"{ctx.state}/setup{rep}"
        os.makedirs(d)
        t0 = time.perf_counter()
        workload.setup(d)
        builds.append(time.perf_counter() - t0)
    setup_s = ctx.start_s + statistics.median(builds)

    t0 = time.perf_counter()
    workload.warmup()  # an error here aborts the run
    warm_s = time.perf_counter() - t0

    ops = workload.timed_ops(random.Random(f"{args.workload}:{args.seed}"), args.seconds)
    tracer = ctx.tracer = Tracer(ctx.jvm) if args.trace else NullTracer()
    gc0 = ctx.jvm.gc_ms()
    t_start = time.perf_counter()
    for i, op in enumerate(ops):
        tracer.set_op(i)
        t0 = time.perf_counter()
        try:
            op.result = workload.execute(op)
        except Exception as e:  # a failed op is counted, the run goes on
            op.fail(f"{type(e).__name__}: {e}")
        op.seconds = time.perf_counter() - t0
    wall = time.perf_counter() - t_start
    gc_ms = ctx.jvm.gc_ms() - gc0
    heap_live = ctx.jvm.heap_live_mb()
    rss_py, rss_jvm = vm_hwm_mb("self"), vm_hwm_mb(ctx.jvm_pid)
    peak_rss = rss_py + rss_jvm

    t0 = time.perf_counter()
    workload.verify(ops)
    verify_s = time.perf_counter() - t0
    failed = [op for op in ops if not op.ok]
    for op in failed[:5]:
        print(f"failed op ({op.kind}): {op.error}", file=sys.stderr)

    n = len(ops)
    lat_ms = [op.seconds * 1000 for op in ops]
    e2e = {
        "setup_s": setup_s,
        "ops_per_s": n / wall,
        "op_p50_ms": percentile(lat_ms, 50),
        "op_p90_ms": percentile(lat_ms, 90),
        "peak_rss_mb": peak_rss,
        "heap_live_mb": heap_live,
        "ops_ok_pct": 100.0 * (n - len(failed)) / n,
        "stored_bytes_per_user_byte": workload.stored_bytes_per_user_byte(),
    }
    print(f"{args.workload} seed={args.seed} ops={n} wall={wall:.2f}s "
          f"builds={[round(b, 2) for b in builds]} start={ctx.start_s:.2f}s "
          f"warmup={warm_s:.2f}s verify={verify_s:.2f}s rss_py={rss_py:.0f} rss_jvm={rss_jvm:.0f} "
          + " ".join(f"{k}={v:.4g}" for k, v in e2e.items()), file=sys.stderr)

    if not args.trace:
        values = e2e
        units = END_TO_END
    else:
        values = layer_metrics(ctx, workload, ops, wall, gc_ms)
        units = PER_LAYER
        os.makedirs(f"{HERE}/out", exist_ok=True)
        tracer.dump(
            f"{HERE}/out/trace-{args.workload}-seed{args.seed}.json",
            {"workload": args.workload, "seed": args.seed, "end_to_end": e2e,
             "per_layer": values,
             "ops": [{"kind": op.kind, "ms": op.seconds * 1000, "ok": op.ok} for op in ops]},
        )
    return {
        "correct": not failed,
        "attempted": n,
        "failed": len(failed),
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
    }


def layer_metrics(ctx: Context, workload, ops, wall: float, gc_ms: float) -> dict:
    """Per-layer numbers from the traced run's spans and counters."""
    tracer = ctx.tracer
    n = len(ops)
    spans = tracer.spans
    selfs = tracer.self_times()

    def durs(name, pred=lambda s: True):
        return [(s["end"] - s["start"]) * 1000 for s in spans if s["name"] == name and pred(s)]

    top = [s for s in spans if s["parent"] is None]
    m = {k: 0.0 for k in PER_LAYER}
    m["session.start_s"] = ctx.start_s
    m["session.sql_ms"] = median_or_zero(durs("session.sql"))
    m["session.gc_ms"] = gc_ms / n
    m["queries.exec_ms"] = median_or_zero(durs("queries.exec"))
    for key in ("stages", "tasks", "shuffle_write_bytes", "input_bytes"):
        m[f"queries.{key}"] = sum(s[key] for s in top) / n
    m["catalog.serve_agg_ms"] = median_or_zero(durs("catalog.serve_agg"))
    for op_name in ("append", "upsert", "delete", "read", "scan", "read_as_of", "write"):
        m[f"timetravel.{op_name}_ms"] = median_or_zero(durs(f"timetravel.{op_name}"))
    m["timetravel.compact_ms"] = median_or_zero(
        durs("timetravel.maybe_compact", lambda s: s.get("fired")))
    for name in {s["name"] for s in spans if s["name"].startswith("operators.")}:
        m[f"{name}_ms"] = median_or_zero(durs(name))
    for layer in LAYERS:
        m[f"{layer}.self_ms"] = sum(
            st for s, st in zip(spans, selfs) if s["name"].split(".")[0] == layer) * 1000 / n
    covered = sum(s["end"] - s["start"] for s in top) + tracer.overhead_s
    m["bench.self_ms"] = (sum(op.seconds for op in ops) - covered) * 1000 / n
    m["trace.ops_per_s"] = n / wall
    m["trace.overhead_pct"] = 100.0 * tracer.overhead_s / (wall - tracer.overhead_s)
    m.update(workload.layer_metrics(tracer, ops))
    return m


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=15)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import walden_spark.session  # noqa: F401 - the program under test
        from bi_sql import BiSql
        from lake_commits import LakeCommits
    except ImportError as e:
        print(f"cannot import the program under test from {ROOT}: {e}", file=sys.stderr)
        return 2
    workloads = {"bi_sql": BiSql, "lake_commits": LakeCommits}
    if args.workload not in workloads:
        print(f"unknown workload {args.workload!r}; choose from {sorted(workloads)}",
              file=sys.stderr)
        return 2

    # a terminated run still stops the engine and removes its state
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    state = tempfile.mkdtemp(prefix=".perfbench-state-", dir=ROOT)
    os.makedirs(f"{state}/tmp")
    os.environ["TMPDIR"] = f"{state}/tmp"
    os.environ["WALDEN_DRIVER_MEMORY"] = HEAP
    tempfile.tempdir = None
    ctx = None
    try:
        ctx = Context(args, state)
        result = run_workload(ctx, workloads[args.workload](ctx))
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if ctx is not None:
            ctx.stop()
        shutil.rmtree(state, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
