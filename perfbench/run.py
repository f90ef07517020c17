#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload images_validate --seed 1 \\
        --seconds 10 --trace 0

Run from the root of a checkout. Inputs are generated from the seed
(and cached by seed under ``.perfbench/inputs``) before the Spark
session starts. The run then times set-up (process start to session
ready, less the input generation), the cold first operation and warm
operations for ``--seconds`` seconds of operation time (and at least
the workload's ``min_warm_ops``, after its untimed ``warmup_ops``),
and checks every operation's output. ``--trace 1`` enables the Spark
event log, calls each layer's public functions under its own job
group and reports per-layer metrics instead of the end-to-end ones.
Per-run detail (every sample, spans, host diagnostics) goes to
``.perfbench/results/``; the last stdout line is the summary.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import subprocess
import sys
import traceback
from contextlib import contextmanager

import measure as tr

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _new_session(conf: dict):
    from invalid_spark.session import get_spark

    spark = get_spark("perfbench", cores=len(os.sched_getaffinity(0)),
                      extra_conf=conf)
    spark.range(1).count()
    return spark


class Run:
    """The operations of one run, their checks and, when traced, the
    per-layer calls."""

    def __init__(self, wl, spark, tracer, trace: bool) -> None:
        self.wl, self.spark, self.tracer = wl, spark, tracer
        self.sc = spark.sparkContext
        self.trace = trace
        self.op_s: list[float] = []
        self.first_op_s = None
        self.warmup_s: list[float | None] = []
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.rows_out = 0
        self.last_res = None
        self.layer_wall: dict[str, float] = {}
        self.layer_counts: dict[str, dict] = {}
        self.rss: list[float] = []
        self.extra: dict = {}

    def group(self, name: str) -> None:
        self.sc.setJobGroup(name, name)

    def one_op(self, group: str) -> float | None:
        """Time one operation, then check its output (untimed)."""
        self.attempted += 1
        # collect garbage on both sides first, so that no operation
        # pays for the previous one's
        gc.collect()
        self.sc._jvm.System.gc()
        self.group(group)
        with self.tracer.span(group) as s:
            try:
                res = self.wl.op(self.spark)
            except Exception:  # an operation that raises counts as failed
                self.failed += 1
                self.failures.append(traceback.format_exc(limit=5))
                return None
        self.group("bench.check")
        try:
            bad = self.wl.check(self.spark, res)
            self.rows_out = self.wl.rows_out(self.spark, res)
        except Exception:
            bad = ["output check raised:\n" + traceback.format_exc(limit=5)]
        self.failed += bool(bad)
        self.failures.extend(bad)
        if self.last_res is not None:
            self.wl.discard(self.last_res)
        self.last_res = res
        return s.duration

    def ops(self, seconds: float) -> None:
        self.first_op_s = self.one_op("op.cold")
        for _ in range(self.wl.warmup_ops):
            self.warmup_s.append(self.one_op("op.warmup"))
        spent = 0.0
        while spent < seconds or len(self.op_s) < self.wl.min_warm_ops:
            el = self.one_op("op")
            if el is None:
                break
            self.op_s.append(el)
            spent += el
        # the layer calls come last, so that the warm operations run at
        # the same point of the JVM's warm-up as in an untraced run
        if self.trace and self.last_res is not None:
            self.traced_layers()

    def traced_layers(self) -> None:
        @contextmanager
        def layer(name):
            counts: dict = {}
            self.group(name)
            with self.tracer.span(name, kind="layer") as s:
                yield counts
            self.layer_wall[name] = s.duration
            self.layer_counts[name] = counts
            self.rss.append(tr.tree_rss_mb(os.getpid()))
            self.group("bench")

        with self.tracer.span("layers"):
            self.extra = self.wl.layers(self.spark, layer, self.last_res)


def _layer_metrics(run: Run, ev: dict, session_s: float) -> dict[str, float]:
    from workloads import FULL_LAYERS

    def stats(st: tr.GroupStats, scale: float = 1.0) -> dict[str, float]:
        return {
            "task_s": st.task_s * scale, "cpu_s": st.cpu_s * scale,
            "wait_s": st.wait_s * scale, "jobs": st.jobs * scale,
            "shuffle_write_mb": st.shuffle_write_mb * scale,
            "spill_mb": st.spill_mb * scale,
        }

    zero = tr.GroupStats()
    m: dict[str, float] = {}
    for name in FULL_LAYERS:
        for k, v in stats(ev.get(name, zero)).items():
            m[f"{name}.{k}"] = v
        m[f"{name}.wall_s"] = run.layer_wall.get(name, 0.0)
        m[f"{name}.rows_out"] = run.layer_counts.get(name, {}).get("rows_out", 0)

    # runner: one warm operation minus the layers it contains
    op_p50 = tr.median(run.op_s)
    per_op = stats(ev.get("op", zero), 1.0 / len(run.op_s))
    inner = [n for n in run.wl.op_layers if n in run.layer_wall]
    m["runner.wall_s"] = op_p50 - sum(run.layer_wall[n] for n in inner)
    for k, v in per_op.items():
        m[f"runner.{k}"] = v - sum(stats(ev.get(n, zero))[k] for n in inner)
    m["runner.rows_out"] = run.rows_out

    m["session.wall_s"] = session_s
    m["session.peak_rss_mb"] = max(run.rss) if run.rss else 0.0
    m["dsl.wall_s"] = run.layer_wall.get("dsl", 0.0)
    m["io.wall_s"] = run.layer_wall.get("io", 0.0)
    m["io.jobs"] = ev.get("io", zero).jobs
    m["checks.unique.task_skew"] = tr.task_skew(ev.get("checks.unique", zero))
    m["pipeline.dedup.pair_yield"] = run.extra.get("pipeline.dedup.pair_yield", 0.0)
    m["trace.op_p50_s"] = op_p50
    named = set(FULL_LAYERS) | {"dsl", "io", "op", "op.cold", "op.warmup"}
    total = sum(st.task_s for st in ev.values())
    covered = sum(st.task_s for g, st in ev.items() if g in named)
    m["trace.task_coverage"] = covered / total if total else 0.0
    return m


def _stop_jvm() -> None:
    """Stop the Spark gateway JVM and wait until it has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    if not os.path.isfile(os.path.join(ROOT, "invalid_spark", "__init__.py")):
        print("perfbench: run from a checkout of the repository "
              "(invalid_spark/ not found next to perfbench/)", file=sys.stderr)
        return 2
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    sys.path.insert(0, ROOT)
    # Python workers import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import inputs
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, "run", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    evdir = os.path.join(work, "eventlog")
    for d in (tmp, evdir, os.path.join(base, "results")):
        os.makedirs(d, exist_ok=True)
    # keep shuffle, spill and temporary files inside the checkout
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = tmp

    steal0, load0 = tr.steal_jiffies(), tr.loadavg()
    tracer = tr.Tracer()
    conf = {
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + evdir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    try:
        # inputs and their expected outputs are built (or read from the
        # cache) before the session starts, and their time is taken out
        # of set-up
        with tracer.span("inputs") as made:
            root, meta = inputs.ensure(
                os.path.join(base, "inputs"), args.workload, args.seed)
        with tracer.span("session") as session:
            spark = _new_session(conf)
        # what a CLI user waits for: interpreter start, imports, JVM
        # launch and the first job
        setup_s = tr.process_age_s() - made.duration
        wl = WORKLOADS[args.workload](root, meta, work)
        run = Run(wl, spark, tracer, bool(args.trace))
        run.ops(args.seconds)
        app_id = spark.sparkContext.applicationId
        spark.stop()
        _stop_jvm()

        ok_ops = run.op_s
        failed = run.failed
        if args.trace:
            ev = tr.read_event_log(evdir, app_id)
            metrics = _layer_metrics(run, ev, session.duration) if ok_ops else {}
            names = spec["per_layer"]
        else:
            metrics = {}
            if ok_ops and run.first_op_s is not None:
                metrics = {
                    "setup_s": setup_s,
                    "first_op_s": run.first_op_s,
                    "op_p50_s": tr.median(ok_ops),
                    "throughput_rows_per_s": wl.rows_per_op * len(ok_ops) / sum(ok_ops),
                }
            names = spec["end_to_end"]
        tail = tr.tail_percentile(ok_ops)
        detail = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "cores": len(os.sched_getaffinity(0)),
            "steal_jiffies": tr.steal_jiffies() - steal0,
            "loadavg_before": load0, "loadavg_after": tr.loadavg(),
            "input": {k: v for k, v in meta.items() if k != "expected"},
            "inputs_s": made.duration, "setup_s": setup_s,
            "session_s": session.duration,
            "first_op_s": run.first_op_s, "warmup_s": run.warmup_s,
            "op_s": ok_ops,
            "op_tail_s": None if tail is None else dict(
                zip(("value", "percentile", "count"), tail)),
            "attempted": run.attempted, "failed": failed,
            "error_rate": failed / run.attempted if run.attempted else None,
            "failures": run.failures[:20],
            "metrics": metrics,
            "spans": tracer.as_records(),
        }
        out = os.path.join(
            base, "results",
            f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json",
        )
        with open(out, "w", encoding="utf-8") as f:
            json.dump(detail, f, indent=1, default=str)
        print(f"detail: {os.path.relpath(out, ROOT)}")
        summary = {
            "correct": bool(ok_ops) and not run.failures,
            "attempted": run.attempted,
            "failed": failed,
            "metrics": {
                m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                for m in names if m["name"] in metrics
            },
        }
        print(json.dumps(summary))
    finally:
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
