"""Tests for the benchmark's own machinery.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

import pytest

from harness import (
    Lap,
    RssSampler,
    Span,
    Stopwatch,
    Tracer,
    closed_loop,
    event_log_conf,
    find_event_log,
    parse_event_log,
    span_counters,
    tree_rss_bytes,
)


def _span(name, start, end, children=()):
    s = Span(name, name, start, end)
    s.children = list(children)
    return s


def test_self_time_subtracts_children_once():
    # children overlap each other and spill past the parent's end
    kids = [_span("a", 1.0, 3.0), _span("b", 2.0, 4.0), _span("c", 9.0, 12.0)]
    parent = _span("p", 0.0, 10.0, kids)
    assert parent.wall_s == 10.0
    # covered: [1, 4) and [9, 10) -> 4 s
    assert parent.self_s == pytest.approx(6.0)
    assert _span("leaf", 5.0, 7.5).self_s == pytest.approx(2.5)


def test_disabled_tracer_records_nothing():
    tr = Tracer(sc=None, enabled=False)
    with tr.span("x") as s:
        assert s is None
    assert tr.roots == []


def test_nested_spans_and_groups():
    tr = Tracer(sc=None, enabled=True)
    with tr.span("outer") as o:
        with tr.span("inner") as i:
            pass
    assert tr.roots == [o]
    assert o.children == [i] and i.parent is o
    assert o.groups() == [o.group, i.group]
    assert o.group != i.group


def test_rss_sampler_sees_child_processes():
    mb = 200
    child = subprocess.Popen(
        [sys.executable, "-c",
         f"b = bytearray({mb} * 2**20); import time; time.sleep(30)"],
    )
    try:
        deadline = time.monotonic() + 20
        while tree_rss_bytes(os.getpid()) - _own_rss() < mb * 2**20 * 0.9:
            assert time.monotonic() < deadline, "child RSS never showed up"
            time.sleep(0.1)
        with RssSampler(interval_s=0.05) as rss:
            time.sleep(0.2)
        assert rss.peak_bytes >= mb * 2**20
    finally:
        child.kill()
        child.wait(timeout=10)
    assert child.poll() is not None


def test_rss_peak_ignores_a_single_reading():
    rss = RssSampler(root=0)
    for mb in (100, 100, 900, 100, 120, 130, 125):
        rss.observe(mb * 2**20)
    assert rss.peak_bytes == 125 * 2**20  # not the lone 900
    rss = RssSampler(root=0)
    for mb in (100, 900, 900, 100):
        rss.observe(mb * 2**20)
    assert rss.peak_bytes == 900 * 2**20  # two readings in three hold


def _own_rss() -> int:
    from harness import rss_bytes

    return rss_bytes(os.getpid())


def test_steal_share_comes_off_the_wall_time():
    assert Lap(8.0, 0.0).own_s == 8.0
    assert Lap(8.0, 0.25).own_s == pytest.approx(6.0)
    watch = Stopwatch()
    end = time.monotonic() + 0.2
    while time.monotonic() < end:  # keep a CPU busy so the guest is runnable
        pass
    lap = watch.lap()
    assert lap.wall_s >= 0.2
    assert 0.0 <= lap.steal_share < 1.0
    assert lap.own_s <= lap.wall_s


def test_closed_loop_counts_wrong_results_and_errors():
    def op(i):
        if i == 4:
            raise RuntimeError("boom")
        return i

    def check(i, out):
        return "wrong" if out == 2 else None

    r = closed_loop(op, check, warmup_ops=1, timed_ops=5)
    assert r.attempted == 6 and len(r.warmup_s) == 1 and len(r.op_s) == 5
    assert len(r.wall_s) == len(r.steal_share) == 5
    assert all(0 <= own <= wall for own, wall in zip(r.op_s, r.wall_s))
    assert r.failed == 2
    assert any("wrong" in e for e in r.errors)
    assert any("boom" in e for e in r.errors)


def test_wrong_suite_verdict_is_a_failed_op(tmp_path):
    from workloads import SuiteDocs

    wl = SuiteDocs(None, str(tmp_path), 1, Tracer())
    wl.ref = {
        ("doc_id_unique", "p000"): (10, 1, 2, 2 / 90, 0),
        ("span_count_drift", "p000"): (10, 0, None, None, 1),
    }
    right = [
        {"constraint": "doc_id_unique", "partition": "p000", "total_rows": 10,
         "num_violating_clusters": 1, "num_violating_rows": 2,
         "error": 2 / 90, "holds": 0},
        {"constraint": "span_count_drift", "partition": "p000",
         "total_rows": 10, "num_violating_clusters": 0,
         "num_violating_rows": 0, "error": 0.01, "holds": 1},
    ]
    wrong = [dict(right[0], holds=1), right[1]]

    def op(i):
        wl.ckpt = str(tmp_path / f"ckpt_{i}")
        return wrong if i == 1 else right

    r = closed_loop(op, wl.check, warmup_ops=0, timed_ops=3)
    assert (r.attempted, r.failed) == (3, 1)
    assert "doc_id_unique" in r.errors[0]


def test_event_log_counters_per_span(tmp_path):
    from pyspark.sql import SparkSession

    log_dir = tmp_path / "eventlog"
    log_dir.mkdir()
    builder = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-test")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "3")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.local.dir", str(tmp_path))
    )
    for k, v in event_log_conf(str(log_dir)).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    try:
        tr = Tracer(spark.sparkContext, enabled=True)
        with tr.span("outer") as outer:
            spark.range(0, 1000, numPartitions=4).count()
            with tr.span("inner") as inner:
                spark.range(0, 1000, numPartitions=2).selectExpr(
                    "id % 5 AS k"
                ).groupBy("k").count().collect()
        spark.range(10).count()  # outside any span: no group
    finally:
        spark.stop()

    by_group = parse_event_log(find_event_log(str(log_dir)))
    assert set(by_group) == {outer.group, inner.group}
    inner_c = by_group[inner.group]
    assert inner_c.jobs >= 1
    # a 2-task map stage then a 3-partition shuffle stage
    assert inner_c.tasks >= 5
    assert inner_c.shuffle_mb > 0
    outer_own = by_group[outer.group]
    # count(): a 4-task partial count, then a 1-task final count
    assert outer_own.jobs == 1 and outer_own.tasks == 5
    assert outer_own.serial_s > 0
    total = span_counters(outer, by_group)
    assert total.jobs == outer_own.jobs + inner_c.jobs
    assert total.tasks == outer_own.tasks + inner_c.tasks
    assert total.cpu_s >= inner_c.cpu_s > 0


_ORPHAN_SCRIPT = """
import json, subprocess, sys
sys.path.insert(0, {here!r})
from harness import become_subreaper, live_children, reap_children
become_subreaper()
# the shell exits at once; its background sleep is orphaned to this process
sh = subprocess.run(["sh", "-c", "sleep 60 >/dev/null & echo $!"],
                    stdout=subprocess.PIPE, text=True, check=True)
orphan = int(sh.stdout)
before = live_children()
signalled = reap_children(grace_s=0.2)
print(json.dumps({{"orphan": orphan, "before": sorted(before),
                  "signalled": sorted(signalled),
                  "after": sorted(live_children())}}))
"""


def test_reap_children_ends_orphaned_grandchildren():
    import json

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    p = subprocess.run([sys.executable, "-c", _ORPHAN_SCRIPT.format(here=here)],
                       stdout=subprocess.PIPE, text=True, check=True,
                       timeout=60)
    got = json.loads(p.stdout)
    assert got["before"] == [got["orphan"]]
    assert got["signalled"] == [got["orphan"]]
    assert got["after"] == []
    assert not os.path.exists(f"/proc/{got['orphan']}")


def test_duck_rows_leaves_no_child(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from harness import live_children
    from workloads import duck_rows

    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"k": [1, 2, 2, 3]}), path)
    before = live_children()  # e.g. the JVM of another test's session
    got = duck_rows({"t": path}, {"n": "SELECT count(DISTINCT k) FROM t"})
    assert got == {"n": [(3,)]}
    assert live_children() == before
