"""Constraint-suite runner: per-partition verdicts, lineage + metrics rows,
snapshot-aware checkpoint/resume.

North-rule requirements (BASELINE.json): runs are resumable from
snapshot-aware checkpoints carrying per-partition lineage and metrics rows;
shuffle partitioning is explicit per constraint stage.

Reference parity: the load-once / execute-many protocol of
``algos::Algorithm`` (/root/reference/src/core/algorithms/algorithm.cpp:63-85
— data loaded once, many executes with ResetState between) maps to caching
the input DataFrame once and running every constraint against it. The
"dynamic" batch-CRUD re-verification (dynamic_fd_verifier.h:17-38) maps to
snapshot deltas: a new ``snapshot_id`` re-runs only partitions not yet
verified under that snapshot.

Checkpoint layout (``checkpoint_dir``):
- ``metrics/`` — parquet, appended per (constraint, partition) batch:
  ``(snapshot_id, run_id, constraint, partition, total_rows,
  num_violating_clusters, num_violating_rows, error, holds, wall_ms,
  finished_at)``. This is both the lineage record and the resume marker.
- On resume (same snapshot_id): the checkpoint is read ONCE per run into a
  driver-side ``{constraint: {partition}}``. Each constraint's input is
  filtered on the ``cast(partition_col as string)`` value the checkpoint
  stores (drift, whose baseline is the whole table, filters its collected
  rows instead), so a re-run after an interrupt recomputes only the missing
  partitions. A NULL partition key is never done. The checkpoint append and
  the returned frame are built from the collected rows via one Arrow table.

Concurrency: the constraints' actions run side by side on a thread pool of
``min(len(constraints), defaultParallelism)`` workers; each worker inherits
the caller's job group and local properties and describes its jobs with its
constraint's name. The caller appends each constraint's rows and calls
``on_progress`` in list order, so the appends of earlier constraints overlap
the compute of later ones and the checkpoint reads as a sequential run's
would. ``wall_ms`` is each constraint's own elapsed time, which can overlap
other constraints'. A constraint with ``shuffle_partitions`` changes the
session conf every thread shares, so it is a barrier: it runs alone on the
caller thread. If constraint k raises, the run waits for every constraint in
flight, keeps the appends of constraints 0..k-1 and re-raises k's exception.

On a real Iceberg deployment ``snapshot_id`` is the table's snapshot id
(``SELECT snapshot_id()``); here it is caller-provided. The checkpoint is
plain parquet so it works against any filesystem Spark can write.
"""

from __future__ import annotations

import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from itertools import groupby
from typing import Any, Callable

import pyarrow as pa
from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

__all__ = ["Constraint", "SuiteRunner"]


@dataclass
class Constraint:
    """One suite entry. ``kind`` ∈ uniqueness | fd | referential | span |
    drift | custom. ``params`` feed the matching operator; ``custom`` takes a
    callable ``params['fn'](df, by) -> metrics DataFrame`` whose output has
    (by..., total_rows?, num_violating_*, error, holds)."""

    name: str
    kind: str
    params: dict[str, Any] = field(default_factory=dict)
    #: per-stage shuffle partitions override (explicit per constraint stage)
    shuffle_partitions: int | None = None


_METRICS_SCHEMA = T.StructType(
    [
        T.StructField("snapshot_id", T.StringType()),
        T.StructField("run_id", T.StringType()),
        T.StructField("constraint", T.StringType()),
        T.StructField("partition", T.StringType()),
        T.StructField("total_rows", T.LongType()),
        T.StructField("num_violating_clusters", T.LongType()),
        T.StructField("num_violating_rows", T.LongType()),
        T.StructField("error", T.DoubleType()),
        T.StructField("holds", T.IntegerType()),
        T.StructField("wall_ms", T.LongType()),
        T.StructField("finished_at", T.DoubleType()),
    ]
)
# driver-built frames go through a typed Arrow table: a Python list is
# re-pickled through Python workers; pandas with Arrow off NaNs NULL longs
_ARROW_SCHEMA = to_arrow_schema(_METRICS_SCHEMA)


class SuiteRunner:
    def __init__(
        self,
        spark: SparkSession,
        checkpoint_dir: str,
        snapshot_id: str,
        partition_col: str = "part_key",
    ) -> None:
        self.spark = spark
        self.checkpoint_dir = checkpoint_dir.rstrip("/")
        self.snapshot_id = snapshot_id
        self.partition_col = partition_col
        self.run_id = uuid.uuid4().hex[:12]

    # ------------------------------------------------------------ checkpoint

    def _metrics_path(self) -> str:
        return f"{self.checkpoint_dir}/metrics"

    def read_metrics(self) -> DataFrame:
        # Empty-frame fallback ONLY for the path-missing case (first run),
        # asked of the session's Hadoop FileSystem for the path's scheme
        # (a failed read would log a stack trace on every first run).
        # Anything else — corrupt parquet, permission errors — must fail
        # loudly: silently restarting the whole suite on a damaged
        # checkpoint would masquerade as "resume worked".
        jvm = self.spark._jvm
        path = jvm.org.apache.hadoop.fs.Path(self._metrics_path())
        conf = self.spark._jsparkSession.sessionState().newHadoopConf()
        if not path.getFileSystem(conf).exists(path):
            return self._frame([])
        return self.spark.read.schema(_METRICS_SCHEMA).parquet(
            self._metrics_path()
        )

    def _frame(self, rows: list[dict]) -> DataFrame:
        return self.spark.createDataFrame(
            pa.Table.from_pylist(rows, schema=_ARROW_SCHEMA), _METRICS_SCHEMA
        )

    def _done(self) -> dict[str, set[str]]:
        """``{constraint: {partition}}`` verified under this snapshot. A NULL
        partition is never done (in an IN-list it would null every NOT IN)."""
        done: dict[str, set[str]] = {}
        rows = self.read_metrics().filter(
            (F.col("snapshot_id") == self.snapshot_id)
            & F.col("partition").isNotNull()
        ).select("constraint", "partition").collect()
        for r in rows:
            done.setdefault(r["constraint"], set()).add(r["partition"])
        return done

    # ------------------------------------------------------------ dispatch

    def _metrics_for(self, c: Constraint, df: DataFrame,
                     aux: dict[str, DataFrame]) -> DataFrame:
        by = [self.partition_col]
        p = c.params
        if c.kind == "uniqueness":
            from desbordante_spark.operators.ucc import ucc_metrics_df

            m = ucc_metrics_df(
                df, p["columns"],
                is_null_equal_null=p.get("is_null_equal_null", True),
                error_threshold=p.get("error_threshold", 0.0),
                by=by,
            )
        elif c.kind == "fd":
            from desbordante_spark.operators.fd import fd_metrics_df

            m = fd_metrics_df(
                df, p["lhs"], p["rhs"],
                error_threshold=p.get("error_threshold", 0.0),
                is_null_equal_null=p.get("is_null_equal_null", True),
                by=by,
            )
        elif c.kind == "referential":
            from desbordante_spark.operators.ind import ind_metrics_df

            lhs_df = p["lhs_frame"](df) if "lhs_frame" in p else df
            m = (
                ind_metrics_df(
                    lhs_df, p["lhs"], aux[p["rhs_table"]], p["rhs"],
                    error_threshold=p.get("error_threshold", 0.0),
                    by=by,
                )
                .withColumnRenamed("total_distinct", "total_rows")
                .withColumnRenamed("num_missing_values", "num_violating_clusters")
            )
        elif c.kind == "span":
            from desbordante_spark.operators.span_invariant import (
                span_invariant_metrics_df,
            )

            m = span_invariant_metrics_df(
                df, p.get("spans_col", "spans"), by=tuple(by)
            ).withColumn("num_violating_clusters", F.col("num_violating_rows"))
        elif c.kind == "drift":
            from desbordante_spark.operators.drift import (
                drift_metrics,
                histogram_sketch,
            )

            vcol = p["value_col"]
            src = (df if p.get("value_expr") is None
                   else df.withColumn(vcol, p["value_expr"]))
            sketch = histogram_sketch(
                src, vcol, self.partition_col,
                bucket_width=p.get("bucket_width"),
                bins=p.get("bins"),
                discrete=p.get("discrete", False),
            )
            dm = drift_metrics(sketch, ks_threshold=p.get("ks_threshold", 0.1))
            m = dm.select(
                F.col("partition").alias(self.partition_col),
                F.col("n_rows").alias("total_rows"),
                F.lit(0).cast("long").alias("num_violating_clusters"),
                F.when(F.col("drifted") == 1, F.col("n_rows"))
                .otherwise(F.lit(0)).cast("long").alias("num_violating_rows"),
                F.col("ks_stat").alias("error"),
                (1 - F.col("drifted")).cast("int").alias("holds"),
            )
        elif c.kind == "custom":
            m = p["fn"](df, by)
        else:
            raise ValueError(f"unknown constraint kind {c.kind!r}")

        if "num_violating_clusters" not in m.columns:
            m = m.withColumn("num_violating_clusters", F.lit(None))
        return m.select(
            F.lit(self.snapshot_id).alias("snapshot_id"),
            F.lit(self.run_id).alias("run_id"),
            F.lit(c.name).alias("constraint"),
            F.col(self.partition_col).cast("string").alias("partition"),
            F.col("total_rows").cast("long").alias("total_rows"),
            F.col("num_violating_clusters").cast("long")
            .alias("num_violating_clusters"),
            F.col("num_violating_rows").cast("long").alias("num_violating_rows"),
            F.col("error").cast("double").alias("error"),
            F.col("holds").cast("int").alias("holds"),
        )

    # ---------------------------------------------------------------- run

    def _collect(self, c: Constraint, work: DataFrame,
                 aux: dict[str, DataFrame]) -> tuple[list, int, float]:
        """One constraint's verdict rows, its own elapsed ms and its finish
        time. Its Spark jobs carry its name as their description; the
        calling thread's description is restored afterwards."""
        sc = self.spark.sparkContext
        before = sc.getLocalProperty("spark.job.description")
        sc.setJobDescription(c.name)
        t0 = time.monotonic()
        try:
            rows = self._metrics_for(c, work, aux).collect()
        finally:
            sc.setJobDescription(before)
        return rows, int((time.monotonic() - t0) * 1000), time.time()

    def run(
        self,
        df: DataFrame,
        constraints: list[Constraint],
        aux: dict[str, DataFrame] | None = None,
        resume: bool = True,
        on_progress: Callable[[str, int], None] | None = None,
    ) -> DataFrame:
        """Run the suite; returns this run's metrics rows (also appended to
        the checkpoint). With ``resume=True``, partitions already verified
        under this snapshot are skipped per constraint.

        Constraints run concurrently; appends and ``on_progress`` follow
        the list order. A constraint with ``shuffle_partitions`` runs alone.
        If one raises, the constraints before it are appended, nothing
        after it is, and its exception propagates once no job is running.
        """
        aux = aux or {}
        sc_conf = self.spark.conf
        default_sp = sc_conf.get("spark.sql.shuffle.partitions")
        done = self._done() if resume else {}
        key = F.col(self.partition_col).cast("string")
        all_rows: list[dict] = []

        def work(c: Constraint) -> DataFrame:
            skip = done.get(c.name)
            # drift's baseline is the whole input: it drops finished rows instead
            if not skip or c.kind == "drift":
                return df
            return df.filter(key.isNull() | ~key.isin(sorted(skip)))

        def settle(c: Constraint, result: tuple[list, int, float]) -> None:
            collected, wall_ms, now = result
            skip = done.get(c.name, set())
            rows = [{**r.asDict(), "wall_ms": wall_ms, "finished_at": now}
                    for r in collected if r["partition"] not in skip]
            # the append is the resume marker: one per constraint
            self._frame(rows).write.mode("append").parquet(self._metrics_path())
            all_rows.extend(rows)
            if on_progress:
                on_progress(c.name, len(rows))

        # an override sets the session conf every thread shares, so such a
        # constraint is a barrier: it runs alone, on this thread
        for barrier, group in groupby(constraints,
                                      key=lambda c: bool(c.shuffle_partitions)):
            group = list(group)
            if barrier:
                for c in group:
                    sc_conf.set("spark.sql.shuffle.partitions",
                                str(c.shuffle_partitions))
                    try:
                        result = self._collect(c, work(c), aux)
                    finally:
                        sc_conf.set("spark.sql.shuffle.partitions", default_sp)
                    settle(c, result)
                continue
            pool = ThreadPoolExecutor(
                min(len(group), self.spark.sparkContext.defaultParallelism))
            try:
                # wrapped per constraint: each worker gets its own copy of
                # this thread's job group and local properties
                futures = [
                    pool.submit(inheritable_thread_target(self.spark)(
                        self._collect), c, work(c), aux)
                    for c in group
                ]
                for c, fut in zip(group, futures):
                    settle(c, fut.result())
            finally:
                pool.shutdown(wait=True, cancel_futures=True)
        return self._frame(all_rows)
