"""Suite runner: per-partition verdicts, checkpoint/resume, lineage rows
(FIXTURES.md verification-harness contract: re-run after simulated interrupt
skips completed partitions)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from desbordante_spark.plans.runner import Constraint, SuiteRunner
from desbordante_spark.sources.interleaved import (
    generate_documents,
    generate_media_catalog,
)

N_DOCS = 3000
N_MEDIA = 400


def _suite():
    return [
        Constraint("doc_id_unique", "uniqueness", {"columns": ["doc_id"]}),
        Constraint("span_wellformed", "span", {}),
        Constraint(
            "media_refs_resolve",
            "referential",
            {
                "lhs_frame": lambda df: df.select(
                    "part_key", F.explode("spans").alias("s")
                ).select("part_key", F.col("s.media_ref").alias("media_ref")),
                "lhs": ["media_ref"],
                "rhs_table": "media_catalog",
                "rhs": ["media_ref"],
            },
        ),
        Constraint(
            "span_count_drift",
            "drift",
            {
                "value_col": "n_spans",
                "value_expr": F.size("spans"),
                "discrete": True,
                "ks_threshold": 0.2,
            },
        ),
    ]


@pytest.fixture()
def env(spark, tmp_path):
    docs = generate_documents(spark, N_DOCS, dup_pairs=3, n_media=N_MEDIA).cache()
    catalog = generate_media_catalog(spark, N_MEDIA).cache()
    return docs, catalog, str(tmp_path / "ckpt")


def test_suite_per_partition_verdicts(spark, env):
    docs, catalog, ckpt = env
    runner = SuiteRunner(spark, ckpt, snapshot_id="snap1")
    out = runner.run(docs, _suite(), aux={"media_catalog": catalog})
    rows = out.collect()
    # 4 constraints × 16 partitions
    by_c = {}
    for r in rows:
        by_c.setdefault(r["constraint"], []).append(r)
    assert set(by_c) == {"doc_id_unique", "span_wellformed",
                         "media_refs_resolve", "span_count_drift"}
    assert all(len(v) == 16 for v in by_c.values())
    # lineage columns populated
    assert all(r["snapshot_id"] == "snap1" and r["run_id"] for r in rows)
    # duplicates injected → some partition fails uniqueness; totals add up
    ucc = by_c["doc_id_unique"]
    assert sum(r["total_rows"] for r in ucc) == N_DOCS
    assert sum(r["num_violating_rows"] for r in ucc) == 6
    assert any(r["holds"] == 0 for r in ucc)
    # drift fires exactly on the shifted partition
    drift = {r["partition"]: r for r in by_c["span_count_drift"]}
    assert [p for p, r in drift.items() if r["holds"] == 0] == ["p015"]
    # dangling refs → referential failures somewhere
    assert any(r["holds"] == 0 for r in by_c["media_refs_resolve"])


def test_resume_skips_completed(spark, env):
    docs, catalog, ckpt = env
    r1 = SuiteRunner(spark, ckpt, snapshot_id="snapA")
    # simulate an interrupted run: only the uniqueness constraint, only half
    # the partitions
    half = docs.filter(F.col("part_key") < "p008")
    out1 = r1.run(half, [_suite()[0]], aux={"media_catalog": catalog})
    assert out1.count() == 8
    # resumed full run: uniqueness re-verifies ONLY the remaining 8 partitions
    r2 = SuiteRunner(spark, ckpt, snapshot_id="snapA")
    out2 = r2.run(docs, [_suite()[0]], aux={"media_catalog": catalog})
    parts2 = sorted(r["partition"] for r in out2.collect())
    assert len(parts2) == 8
    assert all(p >= "p008" for p in parts2)
    # checkpoint now covers all 16 under snapA
    done = r2.completed_partitions("doc_id_unique").count()
    assert done == 16
    # a NEW snapshot re-verifies everything
    r3 = SuiteRunner(spark, ckpt, snapshot_id="snapB")
    out3 = r3.run(docs, [_suite()[0]], aux={"media_catalog": catalog})
    assert out3.count() == 16


def test_resume_noop_when_complete(spark, env):
    docs, catalog, ckpt = env
    r1 = SuiteRunner(spark, ckpt, snapshot_id="s")
    r1.run(docs, [_suite()[0]], aux={"media_catalog": catalog})
    r2 = SuiteRunner(spark, ckpt, snapshot_id="s")
    out = r2.run(docs, [_suite()[0]], aux={"media_catalog": catalog})
    assert out.count() == 0  # nothing left to verify


def test_runner_fd_and_custom_kinds(spark, env):
    docs, catalog, ckpt = env
    from pyspark.sql import functions as F

    from desbordante_spark.operators.ucc import ucc_metrics_df

    suite = [
        # FD: part_key is derived from doc_id, so doc_id -> part_key holds
        Constraint("docid_determines_part", "fd",
                   {"lhs": ["doc_id"], "rhs": ["part_key"]}),
        Constraint(
            "custom_span_nonempty", "custom",
            {"fn": lambda df, by: ucc_metrics_df(
                df.withColumn("n", F.size("spans")), ["doc_id", "n"], by=by)},
        ),
    ]
    out = SuiteRunner(spark, ckpt + "2", "s2").run(
        docs, suite, aux={"media_catalog": catalog}
    )
    rows = {(r["constraint"], r["partition"]): r for r in out.collect()}
    assert len(rows) == 32
    fd_rows = [r for (c, _), r in rows.items() if c == "docid_determines_part"]
    assert all(r["holds"] == 1 for r in fd_rows)


def _key(r):
    """A verdict row without the per-run fields (run id and timings)."""
    d = r.asDict()
    for k in ("run_id", "wall_ms", "finished_at"):
        d.pop(k)
    return tuple(sorted(d.items()))


def test_resume_reverifies_null_partition_keys(spark, env):
    """Rows with a NULL partition key are never counted as done: a resumed
    run re-verifies them, and only them."""
    docs, catalog, ckpt = env
    nulled = docs.withColumn(
        "part_key",
        F.when(F.col("part_key") == "p003", F.lit(None))
        .otherwise(F.col("part_key")),
    )
    suite = [_suite()[0]]
    first = SuiteRunner(spark, ckpt, "s").run(nulled, suite)
    assert sorted(r["partition"] or "" for r in first.collect()) == (
        [""] + [f"p{i:03d}" for i in range(16) if i != 3]
    )
    again = SuiteRunner(spark, ckpt, "s").run(nulled, suite).collect()
    assert [r["partition"] for r in again] == [None]
    assert again[0]["total_rows"] == docs.filter("part_key = 'p003'").count()


def test_drift_resume_returns_missing_partitions(spark, env):
    """Drift's baseline is the whole table, so a resumed drift run computes
    over the full input but returns only the partitions the checkpoint
    lacks, with the verdicts a fresh run gives them."""
    docs, catalog, ckpt = env
    drift = [_suite()[3]]
    fresh = {
        r["partition"]: _key(r)
        for r in SuiteRunner(spark, ckpt + "_fresh", "s").run(docs, drift)
        .collect()
    }
    half = docs.filter(F.col("part_key") < "p008")
    assert SuiteRunner(spark, ckpt, "s").run(half, drift).count() == 8
    resumed = SuiteRunner(spark, ckpt, "s").run(docs, drift).collect()
    assert sorted(r["partition"] for r in resumed) == [
        f"p{i:03d}" for i in range(8, 16)
    ]
    assert all(_key(r) == fresh[r["partition"]] for r in resumed)
    assert SuiteRunner(spark, ckpt, "s").run(docs, drift).count() == 0


def test_custom_without_cluster_count_writes_null(spark, env):
    """A custom constraint whose frame has no ``num_violating_clusters``
    gets NULL there, in the checkpoint and in the returned frame alike."""
    docs, catalog, ckpt = env

    def fn(df, by):
        return df.groupBy(*by).agg(
            F.count(F.lit(1)).alias("total_rows"),
            F.lit(0).alias("num_violating_rows"),
            F.lit(0.0).alias("error"),
            F.lit(1).alias("holds"),
        )

    runner = SuiteRunner(spark, ckpt, "s")
    out = runner.run(docs, [Constraint("rows", "custom", {"fn": fn})])
    rows = out.collect()
    assert len(rows) == 16
    assert all(r["num_violating_clusters"] is None for r in rows)
    assert sum(r["total_rows"] for r in rows) == N_DOCS
    saved = runner.read_metrics().collect()
    assert sorted(map(_key, saved)) == sorted(map(_key, rows))


def test_suite_rows_same_with_arrow_off(spark, env):
    """The verdict rows do not depend on the session's Arrow conversion
    setting (off by default in a bare spark-submit session)."""
    docs, catalog, ckpt = env
    conf = "spark.sql.execution.arrow.pyspark.enabled"
    aux = {"media_catalog": catalog}
    on = SuiteRunner(spark, ckpt + "_on", "s").run(docs, _suite(), aux=aux)
    want = sorted(map(_key, on.collect()))
    before = spark.conf.get(conf)
    spark.conf.set(conf, "false")
    try:
        off = SuiteRunner(spark, ckpt + "_off", "s").run(docs, _suite(), aux=aux)
        got = sorted(map(_key, off.collect()))
    finally:
        spark.conf.set(conf, before)
    assert len(got) == 64
    assert got == want


def test_run_job_count(spark, tmp_path):
    """A resumed run plus the caller's collect of its frame launches one
    checkpoint scan, each constraint's own jobs and one append per
    constraint — 15 jobs here. Before the resume set moved to the driver it
    took 23: a probe job per constraint, the anti-joins, and a union
    collect that re-ran every appended list frame. A seed no other test
    uses keeps drift's cached sketch from being reused."""
    docs = generate_documents(spark, 200, seed=4242, dup_pairs=1, n_media=50)
    suite = [_suite()[0], _suite()[3]]
    ckpt = str(tmp_path / "ckpt")
    half = docs.filter(F.col("part_key") < "p008")
    SuiteRunner(spark, ckpt, "s").run(half, suite).collect()
    runner = SuiteRunner(spark, ckpt, "s")
    sc = spark.sparkContext
    sc.setJobGroup("runner-jobs", "runner-jobs")
    try:
        out = runner.run(docs, suite).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(out) == 16
    assert len(sc.statusTracker().getJobIdsForGroup("runner-jobs")) == 15
