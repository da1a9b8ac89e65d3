"""The benchmark's workloads. Each one stages its inputs from the seed,
computes its reference answers once (DuckDB over the same parquet, the
generator's injected counts, or a model kept in Python), then runs one op
per call of ``op`` and checks every op against the reference.

Sizes are fixed constants: every run of every seed does the same amount of
work, so op times from different seeds are comparable.
"""

from __future__ import annotations

import math
import os
import pickle
import shutil
import subprocess
import sys
from typing import Any

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from harness import Tracer, dir_mb

#: a span's wall time and the counters the event log gives it
CALL_COUNTERS = ("wall_s", "jobs", "tasks", "cpu_s", "shuffle_mb", "serial_s",
                 "gc_s")
UNITS = {
    "wall_s": "s", "self_s": "s", "cpu_s": "s", "serial_s": "s",
    "gc_s": "s", "jobs": "count", "tasks": "count", "fired": "count",
    "shuffle_mb": "MB", "checkpoint_mb": "MB", "mb": "MB",
}


def _duck_rows(views: dict[str, str], queries: dict[str, str]) -> dict:
    import duckdb

    con = duckdb.connect()
    try:
        for name, src in views.items():
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{src}'")
        return {k: con.execute(q).fetchall() for k, q in queries.items()}
    finally:
        con.close()


#: the child that runs ``_duck_rows``: arguments in, rows out, as pickles
_DUCK_CHILD = (
    "import pickle, sys\n"
    "sys.path.insert(0, {here!r})\n"
    "from workloads import _duck_rows\n"
    "rows = _duck_rows(*pickle.load(sys.stdin.buffer))\n"
    "sys.stdout.buffer.write(pickle.dumps(rows))\n"
)


def duck_rows(views: dict[str, str], queries: dict[str, str]) -> dict:
    """Rows of each query, run by DuckDB over parquet ``views`` in a child
    process, so the reference's memory never counts toward the measured
    process tree's peak RSS. The child is a plain interpreter that has
    ended when this returns: a multiprocessing pool would leave its
    resource-tracker process behind for a while after the run."""
    code = _DUCK_CHILD.format(here=os.path.dirname(os.path.abspath(__file__)))
    p = subprocess.run([sys.executable, "-c", code],
                       input=pickle.dumps((views, queries)),
                       stdout=subprocess.PIPE, check=True)
    return pickle.loads(p.stdout)


class Workload:
    """One closed-loop workload. Subclasses set ``name``, ``warmup_ops``,
    ``rows_per_op`` and ``sizes`` and implement ``stage``, ``prepare``,
    ``op``, ``check`` and ``final_check``."""

    name: str
    warmup_ops: int

    def __init__(self, spark, work: str, seed: int, tracer: Tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tr = tracer
        #: per-op values that are not span counters (op index → name → value)
        self.extra: dict[int, dict[str, float]] = {}

    # Metric declarations: (metric name, span name, counter). The counter
    # is a span counter (``CALL_COUNTERS`` or ``self_s``), or a key of
    # ``extra`` when the span name is None.
    @classmethod
    def layer_metrics(cls) -> list[tuple[str, str | None, str]]:
        return []

    def stage(self, rep: int) -> None:
        raise NotImplementedError

    def prepare(self) -> None:
        """Reference answers; runs once after staging, outside all timing."""

    def op(self, i: int) -> Any:
        raise NotImplementedError

    def check(self, i: int, out: Any) -> str | None:
        """None when op ``i``'s output is right, else what is wrong."""
        raise NotImplementedError

    def final_check(self) -> list[str]:
        """Problems found after the loop (empty when all is well)."""
        return []


def _calls(names, counters, layer="operators"):
    return [(f"{layer}.{n}.{c}", f"{layer}.{n}", c) for n in names for c in counters]


# ============================================================ verify_tpch

N_LINEITEM = 100_000
N_ORDERS = N_LINEITEM // 4
N_PART = N_LINEITEM // 30
N_SUPP = N_LINEITEM // 600
N_CUST = N_ORDERS // 10
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PROFILE_COLS = ["l_quantity", "l_linenumber", "l_extendedprice"]
EVIDENCE_CAP = 100


def make_tpch(seed: int) -> tuple[pa.Table, pa.Table]:
    """TPC-H-shaped ``lineitem`` and ``orders`` with fixed row counts.

    Keys follow TPC-H's shape (1-7 lines per order, four suppliers per part,
    about ten orders per customer). A few faults are injected so every
    verdict has evidence to return: duplicated (l_orderkey, l_linenumber)
    pairs, and line items whose order key no order has."""
    rng = np.random.default_rng(seed)
    okeys = np.arange(N_ORDERS, dtype=np.int64) * 4 + 1
    lines = rng.integers(1, 8, size=N_ORDERS)
    order_idx = np.repeat(np.arange(N_ORDERS), lines)
    if len(order_idx) < N_LINEITEM:  # top up with more 7-line orders
        extra = np.repeat(np.arange(N_ORDERS), 7)
        order_idx = np.sort(np.concatenate([order_idx, extra]))
    order_idx = np.sort(order_idx[:N_LINEITEM])
    starts = np.searchsorted(order_idx, order_idx, side="left")
    linenumber = (np.arange(N_LINEITEM) - starts + 1).astype(np.int32)
    l_orderkey = okeys[order_idx].copy()

    n_fault = N_LINEITEM // 5000
    dup = rng.choice(np.flatnonzero(linenumber > 1), n_fault, replace=False)
    linenumber[dup] -= 1
    dangling = rng.choice(N_LINEITEM, n_fault, replace=False)
    l_orderkey[dangling] = l_orderkey[dangling] + 2  # even offsets: no order

    partkey = rng.integers(1, N_PART + 1, size=N_LINEITEM)
    supp_slot = rng.integers(0, 4, size=N_LINEITEM)
    suppkey = (partkey + supp_slot * (N_SUPP // 4 + 1)) % N_SUPP + 1
    quantity = rng.integers(1, 51, size=N_LINEITEM).astype(np.float64)
    price = 900.0 + (partkey % 20_000) / 10.0
    extended = np.round(quantity * price, 2)
    lineitem = pa.table({
        "l_orderkey": l_orderkey,
        "l_partkey": partkey.astype(np.int64),
        "l_suppkey": suppkey.astype(np.int64),
        "l_linenumber": linenumber,
        "l_quantity": quantity,
        "l_extendedprice": extended,
    })
    orders = pa.table({
        "o_orderkey": okeys,
        "o_custkey": rng.integers(1, N_CUST + 1, size=N_ORDERS).astype(np.int64),
        "o_orderpriority": pa.array(
            np.array(PRIORITIES)[rng.integers(0, 5, size=N_ORDERS)]
        ),
        "o_totalprice": np.round(rng.uniform(900.0, 500_000.0, N_ORDERS), 2),
    })
    return lineitem, orders


_UCC_SQL = """
WITH g AS (SELECT l_orderkey, l_linenumber, count(*) AS c FROM li GROUP BY ALL)
SELECT sum(c), sum(CASE WHEN c > 1 THEN 1 ELSE 0 END),
       sum(CASE WHEN c > 1 THEN c ELSE 0 END),
       CAST(sum(c * (c - 1)) AS DOUBLE) / (sum(c) * (sum(c) - 1))
FROM g"""

_FD_SQL = """
WITH l1 AS (SELECT {lhs} AS x, {rhs} AS y, count(*) AS c FROM {t} GROUP BY ALL),
l2 AS (SELECT x, sum(c) AS n, count(*) AS k, sum(c * (c - 1)) AS eq FROM l1
       GROUP BY x)
SELECT sum(n), sum(CASE WHEN k > 1 THEN 1 ELSE 0 END),
       sum(CASE WHEN k > 1 THEN n ELSE 0 END),
       CAST(sum(n * (n - 1) - eq) AS DOUBLE) / (sum(n) * sum(n) - sum(n))
FROM l2"""

_IND_SQL = """
WITH l AS (SELECT l_orderkey AS k, count(*) AS c FROM li GROUP BY ALL),
j AS (SELECT l.*, o.o_orderkey IS NULL AS miss FROM l
      LEFT JOIN (SELECT DISTINCT o_orderkey FROM od) o ON l.k = o.o_orderkey)
SELECT count(*), sum(CASE WHEN miss THEN 1 ELSE 0 END),
       sum(CASE WHEN miss THEN c ELSE 0 END),
       sum(CASE WHEN miss THEN 1 ELSE 0 END) / count(*)
FROM j"""

_MFD_SQL = """
WITH d AS (SELECT o_custkey, count(*) AS n,
                  max(o_totalprice) - min(o_totalprice) AS diam
           FROM od GROUP BY ALL)
SELECT sum(n), sum(CASE WHEN diam > 50000 THEN 1 ELSE 0 END),
       sum(CASE WHEN diam > 50000 THEN n ELSE 0 END),
       sum(CASE WHEN diam > 50000 THEN 1 ELSE 0 END) / count(*)
FROM d"""

_OD_SQL = """
WITH g AS (SELECT l_orderkey, l_linenumber, count(*) AS n,
                  min(l_quantity) AS lo, max(l_quantity) AS hi
           FROM li GROUP BY ALL),
w AS (SELECT *, max(hi) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev
      FROM g)
SELECT count(*), sum(CASE WHEN prev > lo THEN 1 ELSE 0 END),
       sum(CASE WHEN prev > lo THEN n ELSE 0 END),
       sum(CASE WHEN prev > lo THEN 1 ELSE 0 END) / count(*)
FROM w"""

VERIFY_CALLS = ["ucc_verify", "fd_verify", "afd_verify", "ind_verify",
                "mfd_verify", "od_verify"]


class VerifyTpch(Workload):
    """Ad-hoc verification: a fixed sequence of public verify calls, each
    materializing its capped evidence, plus an approximate profile, over
    single-file, single-row-group TPC-H-shaped inputs."""

    name = "verify_tpch"
    warmup_ops = 3
    rows_per_op = N_LINEITEM + N_ORDERS
    sizes = {"lineitem_rows": N_LINEITEM, "orders_rows": N_ORDERS,
             "row_groups_per_file": 1}

    @classmethod
    def layer_metrics(cls):
        out = _calls(VERIFY_CALLS + ["profile_approx"], CALL_COUNTERS)
        out += [(f"operators.{n}.evidence_s", f"operators.{n}.evidence", "wall_s")
                for n in VERIFY_CALLS]
        out += [("sources.spread.decide_s", "sources.spread", "wall_s"),
                ("sources.spread.fired", None, "sources.spread.fired")]
        return out

    def stage(self, rep: int) -> None:
        d = os.path.join(self.work, f"tpch_{rep}")
        os.makedirs(d)
        li, od = make_tpch(self.seed)
        self.li_path = os.path.join(d, "lineitem.parquet")
        self.od_path = os.path.join(d, "orders.parquet")
        pq.write_table(li, self.li_path, row_group_size=li.num_rows)
        pq.write_table(od, self.od_path, row_group_size=od.num_rows)
        self.li_arrow = li

    def prepare(self) -> None:
        q = {
            "ucc_verify": _UCC_SQL,
            "fd_verify": _FD_SQL.format(lhs="o_custkey", rhs="o_orderpriority",
                                        t="od"),
            "afd_verify": _FD_SQL.format(lhs="l_partkey", rhs="l_suppkey",
                                         t="li"),
            "ind_verify": _IND_SQL,
            "mfd_verify": _MFD_SQL,
            "od_verify": _OD_SQL,
        }
        got = duck_rows({"li": self.li_path, "od": self.od_path}, q)
        self.ref = {}
        for name, rows in got.items():
            n, nvc, nvr, err = rows[0]
            holds = (err <= 0.05) if name == "afd_verify" else nvc == 0
            self.ref[name] = (bool(holds), int(nvc), int(nvr), int(n),
                              float(err), min(EVIDENCE_CAP, int(nvc)))
        self.ref_profile = {}
        for c in PROFILE_COLS:
            v = np.sort(self.li_arrow[c].to_numpy().astype(np.float64))
            self.ref_profile[c] = (len(v), len(np.unique(v)), float(np.mean(v)), v)

    def op(self, i: int):
        import desbordante_spark as ds
        from desbordante_spark.operators.od import od_verify
        from desbordante_spark.operators.stats import profile
        from desbordante_spark.sources.readers import spread_small_input_by

        tr, spark = self.tr, self.spark
        li = spark.read.parquet(self.li_path)
        od = spark.read.parquet(self.od_path)
        with tr.span("sources.spread"):
            fired = sum(
                spread_small_input_by(df, keys) is not df
                for df, keys in ((li, ["l_orderkey"]), (od, ["o_orderkey"]))
            )
        self.extra[i] = {"sources.spread.fired": fired}
        calls = {
            "ucc_verify": lambda: ds.ucc_verify(li, ["l_orderkey", "l_linenumber"]),
            "fd_verify": lambda: ds.fd_verify(od, ["o_custkey"], ["o_orderpriority"]),
            "afd_verify": lambda: ds.fd_verify(li, ["l_partkey"], ["l_suppkey"], 0.05),
            "ind_verify": lambda: ds.ind_verify(li, ["l_orderkey"], od, ["o_orderkey"]),
            "mfd_verify": lambda: ds.mfd_verify(od, ["o_custkey"], ["o_totalprice"],
                                                50000.0),
            "od_verify": lambda: od_verify(li, "l_linenumber", "l_quantity",
                                           context=["l_orderkey"]),
        }
        out = {}
        for name, call in calls.items():
            with tr.span(f"operators.{name}"):
                r = call()
                with tr.span(f"operators.{name}.evidence"):
                    ev = r.violations.limit(EVIDENCE_CAP).collect()
            out[name] = (bool(r.holds), r.num_violating_clusters,
                         r.num_violating_rows, r.total_rows, r.error, len(ev))
        with tr.span("operators.profile_approx"):
            out["profile_approx"] = profile(
                li.select(*PROFILE_COLS), PROFILE_COLS, distinct_mode="approx",
                stats=["count_values", "null_count", "distinct_values",
                       "quantiles", "avg"],
            ).collect()
        return out

    def check(self, i: int, out) -> str | None:
        for name, want in self.ref.items():
            got = out[name]
            if (got[:4] != want[:4] or got[5] != want[5]
                    or not math.isclose(got[4], want[4], rel_tol=1e-9,
                                        abs_tol=1e-15)):
                return f"{name}: got {got}, want {want}"
        rows = {r["column"]: r for r in out["profile_approx"]}
        for c, (n, nd, mean, v) in self.ref_profile.items():
            r = rows[c]
            if (r["count_values"] != n or r["null_count"] != 0
                    or not math.isclose(r["avg"], mean, rel_tol=1e-9)
                    # four standard errors of Spark's HLL++ (rsd 0.05)
                    or abs(r["distinct_values"] - nd) > 0.2 * nd):
                return f"profile {c}: got {r}, want n={n} distinct~{nd} avg={mean}"
            for p, q in zip((0.25, 0.5, 0.75), r["quantiles"]):
                # the sketch's rank error, against the sorted values
                lo = np.searchsorted(v, q, side="left") / n
                hi = np.searchsorted(v, q, side="right") / n
                if not lo - 0.01 <= p <= hi + 0.01:
                    return f"profile {c}: quantile {p} = {q} has rank {lo}..{hi}"
        return None


# ========================================================= interleaved docs

N_SUITE_DOCS = 50_000
N_PART_KEYS = 16
SUITE_FILES = 8
DRIFT_PART = f"p{N_PART_KEYS - 1:03d}"
SUITE_CONSTRAINTS = ["doc_id_unique", "spans_wellformed", "media_refs",
                     "span_count_drift"]


def _stage_docs(spark, n_docs: int, seed: int, path: str, cols=None) -> None:
    from desbordante_spark.sources.interleaved import generate_documents

    df = generate_documents(spark, n_docs, seed=seed, n_partitions=SUITE_FILES,
                            n_part_keys=N_PART_KEYS)
    if cols is not None:
        df = df.select(*cols)
    df.write.parquet(path)


_SUITE_REF_SQL = {
    "doc_id_unique": """
WITH g AS (SELECT part_key, doc_id, count(*) AS c FROM docs GROUP BY ALL)
SELECT part_key, sum(c), sum(CASE WHEN c > 1 THEN 1 ELSE 0 END),
       sum(CASE WHEN c > 1 THEN c ELSE 0 END),
       CAST(sum(c * (c - 1)) AS DOUBLE) / (sum(c) * (sum(c) - 1))
FROM g GROUP BY part_key""",
    "spans_wellformed": """
WITH d AS (SELECT part_key, len(list_filter(list_transform(
             range(1, len(spans) + 1), i -> spans[i]."offset" <> i - 1),
             x -> x)) > 0 AS bad FROM docs)
SELECT part_key, count(*), sum(CASE WHEN bad THEN 1 ELSE 0 END),
       sum(CASE WHEN bad THEN 1 ELSE 0 END),
       sum(CASE WHEN bad THEN 1 ELSE 0 END) / count(*)
FROM d GROUP BY part_key""",
    "media_refs": """
WITH s AS (SELECT part_key, unnest(spans) AS sp FROM docs),
l AS (SELECT part_key, sp.media_ref AS ref, count(*) AS c FROM s
      WHERE sp.media_ref IS NOT NULL GROUP BY ALL),
j AS (SELECT l.*, cat.media_ref IS NULL AS miss FROM l
      LEFT JOIN cat ON l.ref = cat.media_ref)
SELECT part_key, count(*), sum(CASE WHEN miss THEN 1 ELSE 0 END),
       sum(CASE WHEN miss THEN c ELSE 0 END),
       sum(CASE WHEN miss THEN 1 ELSE 0 END) / count(*)
FROM j GROUP BY part_key""",
    "span_count_drift": """
SELECT part_key, count(*), 0, NULL, NULL FROM docs GROUP BY part_key""",
}


class SuiteDocs(Workload):
    """The per-partition constraint suite over a staged, already-parallel
    interleaved-document table: uniqueness, the span invariant, referential
    integrity to the media catalog and span-count drift."""

    name = "suite_docs"
    warmup_ops = 1
    rows_per_op = N_SUITE_DOCS
    sizes = {"docs": N_SUITE_DOCS, "part_keys": N_PART_KEYS,
             "files": SUITE_FILES}

    @classmethod
    def layer_metrics(cls):
        out = [("plans.runner.run.wall_s", "plans.runner.run", "wall_s"),
               ("plans.runner.run.self_s", "plans.runner.run", "self_s"),
               ("plans.runner.run.jobs", "plans.runner.run", "jobs"),
               ("plans.runner.run.checkpoint_mb", None, "checkpoint_mb")]
        out += _calls(SUITE_CONSTRAINTS,
                      ("wall_s", "jobs", "shuffle_mb", "serial_s"),
                      layer="plans.runner")
        return out

    def stage(self, rep: int) -> None:
        from desbordante_spark.sources.interleaved import generate_media_catalog

        d = os.path.join(self.work, f"docs_{rep}")
        self.docs_path = os.path.join(d, "documents")
        self.cat_path = os.path.join(d, "media_catalog")
        _stage_docs(self.spark, N_SUITE_DOCS, self.seed, self.docs_path)
        generate_media_catalog(
            self.spark, max(100, N_SUITE_DOCS // 10), seed=self.seed,
            n_partitions=1,
        ).write.parquet(self.cat_path)

    def prepare(self) -> None:
        got = duck_rows({"docs": f"{self.docs_path}/*.parquet",
                         "cat": f"{self.cat_path}/*.parquet"}, _SUITE_REF_SQL)
        self.ref = {}
        for c, rows in got.items():
            for part, n, nvc, nvr, err in rows:
                holds = (part != DRIFT_PART if c == "span_count_drift"
                         else nvc == 0)
                self.ref[(c, part)] = (int(n), nvc, nvr, err, int(holds))
        # the generator's injected faults (sources/interleaved.py docstring)
        dup_pairs = max(1, N_SUITE_DOCS // 1000)
        uniq = [v for (c, _), v in self.ref.items() if c == "doc_id_unique"]
        if (sum(v[1] for v in uniq) != dup_pairs
                or sum(v[2] for v in uniq) != 2 * dup_pairs
                or sum(v[0] for v in uniq) != N_SUITE_DOCS):
            raise RuntimeError("staged documents lack the injected duplicates")

    def op(self, i: int):
        from pyspark.sql import functions as F

        from desbordante_spark.plans.runner import Constraint, SuiteRunner

        tr, spark = self.tr, self.spark
        docs = spark.read.parquet(self.docs_path)
        cat = spark.read.parquet(self.cat_path)
        self.ckpt = os.path.join(self.work, f"ckpt_{i}")
        runner = SuiteRunner(spark, checkpoint_dir=self.ckpt, snapshot_id="s1")
        constraints = [
            Constraint("doc_id_unique", "uniqueness", {"columns": ["doc_id"]}),
            Constraint("spans_wellformed", "span", {}),
            Constraint(
                "media_refs", "referential",
                {"lhs": ["media_ref"], "rhs": ["media_ref"],
                 "rhs_table": "media_catalog",
                 "lhs_frame": lambda d: d.select(
                     "part_key",
                     F.explode(F.col("spans").getField("media_ref"))
                     .alias("media_ref"))},
            ),
            Constraint(
                "span_count_drift", "drift",
                {"value_col": "n_spans", "value_expr": F.size("spans"),
                 "discrete": True, "ks_threshold": 0.2},
            ),
        ]
        # constraint boundaries come from the runner's progress callback,
        # which also moves the job group on to the next constraint
        pending = iter(SUITE_CONSTRAINTS[1:])
        run_span = tr.begin("plans.runner.run")
        cur = [tr.begin(f"plans.runner.{SUITE_CONSTRAINTS[0]}")]

        def progress(name: str, n: int) -> None:
            tr.end(cur[0])
            nxt = next(pending, None)
            cur[0] = tr.begin(f"plans.runner.{nxt}") if nxt else None

        try:
            rows = runner.run(docs, constraints, aux={"media_catalog": cat},
                              on_progress=progress).collect()
        finally:
            tr.end(cur[0])
            tr.end(run_span)
        self.extra[i] = {"checkpoint_mb": dir_mb(self.ckpt)}
        return rows

    def check(self, i: int, rows) -> str | None:
        shutil.rmtree(self.ckpt, ignore_errors=True)
        if len(rows) != len(self.ref):
            return f"{len(rows)} verdict rows, want {len(self.ref)}"
        for r in rows:
            key = (r["constraint"], r["partition"])
            if key not in self.ref:
                return f"unexpected verdict row {key}"
            n, nvc, nvr, err, holds = self.ref[key]
            bad = r["total_rows"] != n or r["holds"] != holds
            if r["constraint"] != "span_count_drift":
                bad = bad or (
                    r["num_violating_clusters"] != nvc
                    or r["num_violating_rows"] != nvr
                    or not math.isclose(r["error"], err, rel_tol=1e-9,
                                        abs_tol=1e-15))
            if bad:
                return f"{key}: got {r}, want {self.ref[key]}"
        return None


WORKLOADS = {w.name: w for w in (VerifyTpch, SuiteDocs)}
