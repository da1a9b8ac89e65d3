"""Closed-loop benchmark of desbordante_spark's validation path.

    python3 perfbench/run.py --workload verify_tpch --seed 1 --seconds 10 --trace 0

Run from the repository root. One client drives one op at a time against a
Spark ``local[nproc]`` session. The run stages its inputs from ``--seed``,
checks every op's result, and prints as its last stdout line one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. End-to-end
times are wall times with the hypervisor's share taken out (``harness.Lap``).
The line before it records the run's settings, versions and per-op times.

Everything the run writes goes under ``.perfbench_work/`` in the current
directory and is removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys

# the benchmark's own modules, then the library from the checkout root
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(1, os.getcwd())

#: setup repetitions; setup_s is session start plus the median staging
SETUP_REPS = 3
#: driver JVM heap; fits a 4-core box next to other tenants
DRIVER_HEAP = "2g"
#: an op's typical length here. The timed-op count is --seconds / OP_S, so
#: it depends on --seconds alone: ops keep getting cheaper as the JIT
#: warms, and faster code must not be measured on more, warmer ops.
OP_S = 5.0


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _start_session(work: str, trace: bool):
    """Spark session through the library's factory, confined to ``work``."""
    from desbordante_spark.session import get_spark
    from harness import event_log_conf

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    conf = {
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions":
            f"-Djava.net.preferIPv4Stack=true -Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf.update(event_log_conf(log_dir))
    return get_spark(app_name="perfbench", extra_conf=conf)


def _stop(spark) -> None:
    """Stop the session, if one was made, and wait for the JVM that
    launched it to exit; the JVM takes its Python workers with it. Also
    right after a session start that failed half-way."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    SparkContext._gateway = SparkContext._jvm = None
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at end of its stdin
        proc.wait(timeout=60)


def _layer_metrics(wl, roots, by_group, timed: set[int]) -> dict:
    """Median over timed ops of every per-layer metric. A traced run reports
    the metrics of every workload, so that each run carries the full set. A
    call this workload never makes took no time, jobs or tasks in it, and
    its counters read 0."""
    from harness import span_counters
    from workloads import UNITS, WORKLOADS

    per_op = {i: {} for i in timed}
    for i, root in roots.items():
        if i not in timed:
            continue
        todo = list(root.children)
        while todo:
            s = todo.pop()
            todo.extend(s.children)
            c = span_counters(s, by_group) if by_group is not None else None
            vals = per_op[i].setdefault(s.name, {})
            for k in ("wall_s", "self_s"):
                vals[k] = vals.get(k, 0.0) + getattr(s, k)
            if c is not None:
                for k in ("jobs", "tasks", "cpu_s", "shuffle_mb", "serial_s",
                          "gc_s"):
                    vals[k] = vals.get(k, 0) + getattr(c, k)
    decls = {}
    for cls in WORKLOADS.values():
        for d in cls.layer_metrics():
            decls.setdefault(d[0], d)
    out = {}
    for name, span, counter in decls.values():
        if span is None:
            vals = [wl.extra.get(i, {}).get(counter, 0.0) for i in timed]
        else:
            vals = [per_op[i].get(span, {}).get(counter, 0.0) for i in timed]
        unit = UNITS[name.rsplit(".", 1)[1]] if span is None else UNITS[counter]
        out[name] = {"value": statistics.median(vals), "unit": unit}
    return out


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    # the library is imported first so a checkout without it fails fast
    import desbordante_spark  # noqa: F401
    import pyarrow
    import pyspark

    from harness import (
        JvmProbe,
        RssSampler,
        Stopwatch,
        Tracer,
        become_subreaper,
        closed_loop,
        find_event_log,
        parse_event_log,
        reap_children,
        tree_cpu_s,
    )
    from workloads import WORKLOADS

    if workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {workload!r}; one of {sorted(WORKLOADS)}")
    cls = WORKLOADS[workload]
    nproc = _nproc()
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_HEAP

    # every process the run starts, orphans included, stays a child of this
    # one, and the run ends only after each has ended
    become_subreaper()
    work = os.path.join(os.getcwd(), ".perfbench_work", f"run-{os.getpid()}")
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    spark = None
    try:
        with RssSampler() as rss:
            watch = Stopwatch()
            spark = _start_session(work, trace)
            session = watch.lap()
            sc = spark.sparkContext
            tracer = Tracer(sc, enabled=trace)
            wl = cls(spark, work, seed, tracer)
            stage = []
            for rep in range(SETUP_REPS):
                watch = Stopwatch()
                wl.stage(rep)
                stage.append(watch.lap())
            wl.prepare()
            rss.reset()  # the peak covers the ops, not staging or references
            jvm = JvmProbe(spark)
            jvm.reset_heap_peak()

            roots, gc_per_op, cpu_per_op = {}, {}, {}
            me = os.getpid()

            def op(i):
                span = tracer.begin("op")
                gc0 = jvm.gc_s() if trace else 0.0
                cpu0 = tree_cpu_s(me)
                try:
                    return wl.op(i)
                finally:
                    cpu_per_op[i] = tree_cpu_s(me) - cpu0
                    tracer.end(span)
                    if trace:
                        gc_per_op[i] = jvm.gc_s() - gc0
                        roots[i] = span

            n_timed = max(2, round(seconds / OP_S))
            timed = set(range(wl.warmup_ops, wl.warmup_ops + n_timed))
            loop = closed_loop(op, wl.check, wl.warmup_ops, n_timed)
            problems = wl.final_check()
            heap_peak = jvm.heap_peak_mb() if trace else None
            versions = {
                "pyspark": pyspark.__version__,
                "pyarrow": pyarrow.__version__,
                "java": sc._jvm.System.getProperty("java.version"),
                "python": sys.version.split()[0],
            }
            master = sc.master
            _stop(spark)
            spark = None

        setup_s = session.own_s + statistics.median(x.own_s for x in stage)
        op_s_p50 = statistics.median(loop.op_s)
        cpu_p50 = statistics.median(cpu_per_op[i] for i in timed)
        if trace:
            by_group = parse_event_log(find_event_log(os.path.join(work, "eventlog")))
            metrics = _layer_metrics(wl, roots, by_group, timed)
            metrics["session.get_spark.wall_s"] = {"value": session.wall_s,
                                                   "unit": "s"}
            metrics["jvm.gc_s"] = {
                "value": statistics.median(gc_per_op[i] for i in timed),
                "unit": "s"}
            metrics["jvm.heap_peak_mb"] = {"value": heap_peak, "unit": "MB"}
            metrics["trace.op_s.p50"] = {"value": op_s_p50, "unit": "s"}
            metrics["trace.op_cpu_s.p50"] = {"value": cpu_p50, "unit": "s"}
        else:
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "op_s.p50": {"value": op_s_p50, "unit": "s"},
                "rows_per_s": {"value": wl.rows_per_op / op_s_p50,
                               "unit": "rows/s"},
                "peak_rss_mb": {"value": rss.peak_bytes / 2**20, "unit": "MB"},
            }
        info = {
            "workload": workload, "seed": seed, "seconds": seconds,
            "trace": trace, "sizes": wl.sizes, "rows_per_op": wl.rows_per_op,
            "nproc": nproc, "master": master, "driver_heap": DRIVER_HEAP,
            "versions": versions,
            "session_wall_s": session.wall_s,
            "session_steal_share": session.steal_share,
            "stage_wall_s": [x.wall_s for x in stage],
            "stage_steal_share": [x.steal_share for x in stage],
            "warmup_op_wall_s": loop.warmup_s, "op_s": loop.op_s,
            "op_wall_s": loop.wall_s, "op_steal_share": loop.steal_share,
            "op_cpu_s": [cpu_per_op[i] for i in sorted(cpu_per_op)],
            "errors": loop.errors,
            "final_check_problems": problems,
        }
        return {
            "info": info,
            "result": {
                "correct": loop.failed == 0 and not problems,
                "attempted": loop.attempted,
                "failed": loop.failed,
                "metrics": metrics,
            },
        }
    finally:
        try:
            _stop(spark)
        finally:
            reap_children()
            shutil.rmtree(work, ignore_errors=True)
            parent = os.path.dirname(work)
            if os.path.isdir(parent) and not os.listdir(parent):
                os.rmdir(parent)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    # a run told to stop still stops its session and children on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    out = run(a.workload, a.seed, a.seconds, bool(a.trace))
    print(json.dumps({"perfbench_run": out["info"]}))
    print(json.dumps(out["result"]), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
