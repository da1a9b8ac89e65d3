"""``desbordante``-compatible API facade over the Spark engine.

The reference exposes every algorithm through pybind11 as
``desbordante.<family>.algorithms.<Name>`` objects with a three-step
protocol — ``load_data(table=...)`` / ``execute(**options)`` / typed
getters (``get_fds()``, ``ucc_holds()``, …) — documented de facto by
``/root/reference/examples/*.py`` and bound in
``/root/reference/src/python_bindings/``. This module reproduces that
surface so reference scripts port by changing one import::

    import desbordante_spark.compat as desbordante

    algo = desbordante.fd.algorithms.Default()
    algo.load_data(table=('data.csv', ',', True))
    algo.execute()
    for fd in algo.get_fds():
        print(fd)                     # "[Col1 Col2] -> Col3"

``table`` accepts the reference's ``(path, separator, has_header)`` tuple
(read via pandas as strings — cell-for-cell the reference's CSV semantics,
file order preserved, ``NULL``/empty kept verbatim), a pandas DataFrame, or
a Spark DataFrame. The SparkSession is created lazily
(``desbordante_spark.session.get_spark``); pass ``spark=`` to reuse one.

Deviations, documented: results are plain Python dataclasses (not pybind
handles) whose ``__str__`` matches the reference where it is printed in
examples (FD ``Vertical::ToString`` form, fd.cpp:32-38); evidence lists
(highlights, clusters) are capped at ``evidence_cap`` rows like the rest of
the engine — counts stay exact. GFD verification and DataStats keep their
first-class library surfaces (operators/gfd.py, operators/stats.py); they
take DataFrames, not file tuples, so a facade adds nothing.
"""

from __future__ import annotations

from dataclasses import dataclass

_DEFAULT_MAX_LHS = 4


def _spark():
    from desbordante_spark.session import get_spark

    return get_spark(app_name="desbordante-spark-compat")


def _load_pandas(table):
    """Reference table spec → pandas DataFrame of strings (file order)."""
    import pandas as pd

    if isinstance(table, pd.DataFrame):
        return table.astype(object).where(pd.notna(table), None)
    if isinstance(table, tuple):
        path, sep, has_header = table
        pdf = pd.read_csv(
            path, sep=sep, header=0 if has_header else None, dtype=str,
            keep_default_na=False,
        )
        if not has_header:
            pdf.columns = [f"col{i}" for i in range(len(pdf.columns))]
        # the reference's empty cell stays '' and its NULL literal stays
        # 'NULL'; both are "missing" to the type/constraint semantics
        return pdf.where(pdf != "", None)
    raise TypeError(
        "table must be (path, sep, has_header), a pandas DataFrame or "
        "a Spark DataFrame"
    )


def _load_table(table, spark=None):
    """Reference table spec → Spark DataFrame of strings + ordered row ids.

    Returns ``(df, row_id_col, columns)`` — ``row_id_col`` is a 0-based
    file-order id column (None when a Spark DataFrame was passed, since it
    carries no row order)."""
    from pyspark.sql import DataFrame

    if isinstance(table, DataFrame):
        return table, None, list(table.columns)
    pdf = _load_pandas(table).copy()
    pdf["_rid"] = range(len(pdf))
    sp = spark or _spark()
    df = sp.createDataFrame(pdf)
    return df, "_rid", [c for c in df.columns if c != "_rid"]


@dataclass(frozen=True, eq=False)
class FD:
    """A functional dependency; ``__str__`` is the reference's
    ``Vertical::ToString() + " -> " + rhs`` (fd.cpp:32-38). Equality and
    hashing are by (lhs, rhs) ONLY, across FD/AFD alike — the reference's
    typo-mining scenario (examples/mine_typos.py:188-191) set-subtracts
    the exact miner's FDs from the approximate miner's, so an AFD must
    equal the same dependency found exactly."""

    lhs: tuple[str, ...]
    rhs: str
    lhs_indices: tuple[int, ...] = ()
    rhs_index: int = -1

    def __eq__(self, other):
        return (isinstance(other, FD)
                and self.lhs == other.lhs and self.rhs == other.rhs)

    def __hash__(self):
        return hash((self.lhs, self.rhs))

    def __str__(self):
        return f"[{' '.join(self.lhs)}] -> {self.rhs}"


@dataclass(frozen=True, eq=False)
class AFD(FD):
    """AFD result; prints in the reference's plain FD form (README example
    2 output shows "[Id] -> Price" with no error suffix) — the error is the
    ``error`` attribute."""

    error: float = 0.0


class _Algo:
    """load_data/execute skeleton shared by every facade algorithm."""

    def __init__(self):
        self._df = None
        self._rid = None
        self._cols = []

    def load_data(self, table=None, spark=None, **_kw):
        self._df, self._rid, self._cols = _load_table(table, spark)
        return self

    def _names(self, indices):
        return [self._cols[i] for i in indices]

    def _fd_objects(self, pairs):
        # reference Vertical order = schema position, not alphabetical
        pos = {c: i for i, c in enumerate(self._cols)}
        return [
            FD(tuple(sorted(lhs, key=pos.get)), rhs,
               tuple(sorted(pos[c] for c in lhs)), pos[rhs])
            for lhs, rhs in pairs
        ]


# --------------------------------------------------------------- FD mining

class _FdMiner(_Algo):
    _strategy = "hyfd"

    def execute(self, max_lhs: int | None = None, **_kw):
        df = self._df.select(*self._cols)
        k = max_lhs if max_lhs is not None else min(
            _DEFAULT_MAX_LHS, max(1, len(self._cols) - 1)
        )
        if self._strategy == "tane":
            from desbordante_spark.discovery.tane import discover_fds

            fds = discover_fds(df, max_lhs=k)
        elif self._strategy == "hyfd":
            from desbordante_spark.discovery.hyfd import discover_fds_hybrid

            fds = discover_fds_hybrid(df, max_lhs=k)
        elif self._strategy == "dfd":
            from desbordante_spark.discovery.dfd import discover_fds_dfd

            fds = discover_fds_dfd(df, max_lhs=k)
        elif self._strategy == "fdep":
            from desbordante_spark.discovery.fdep import discover_fds_fdep

            fds = discover_fds_fdep(df, max_lhs=k)
        elif self._strategy == "fun":
            from desbordante_spark.discovery.fun import discover_fds_fun

            fds = discover_fds_fun(df, max_lhs=k)
        elif self._strategy == "fastfds":
            from desbordante_spark.discovery.fastfds import (
                discover_fds_fastfds,
            )

            fds = discover_fds_fastfds(df, max_lhs=k)
        elif self._strategy == "depminer":
            from desbordante_spark.discovery.depminer import (
                discover_fds_depminer,
            )

            fds = discover_fds_depminer(df, max_lhs=k)
        elif self._strategy == "fd_mine":
            # the reference FdMine has no max_lhs and returns its raw
            # (non-minimized) closure-derived FD list — same here
            from desbordante_spark.discovery.fd_mine import (
                discover_fds_fdmine,
            )

            fds = discover_fds_fdmine(df)
        elif self._strategy == "pyro":
            # fd.algorithms.Pyro (bind_fd.cpp:57-62): the same bound class
            # as afd.algorithms.Pyro, so it honors execute(error=...,
            # error_measure=...) — at the error=0 default it IS exact
            # minimal-FD discovery (estimate-steered traversal, every
            # classification exact)
            from desbordante_spark.discovery.pyro import discover_afds_pyro

            fds = [
                (lhs, rhs)
                for lhs, rhs, _e in discover_afds_pyro(
                    df, max_lhs=k,
                    max_error=float(_kw.get("error", 0.0)),
                    error_measure=_kw.get("error_measure", "g1"),
                )
            ]
        elif self._strategy == "pfdtane":
            # fd.algorithms.PFDTane: levelwise with an error measure
            from desbordante_spark.discovery.pfdtane import discover_afds

            fds = [
                (lhs, rhs)
                for lhs, rhs, _e in discover_afds(
                    df, max_lhs=k,
                    max_error=float(_kw.get("error", 0.0)),
                    error_measure=_kw.get(
                        "error_measure",
                        _kw.get("pfd_error_measure", "per_tuple"),
                    ),
                )
            ]
        else:  # aid
            # the reference Aid binds ONLY the table option (aid.cpp:7-15
            # MakeOptionsAvailable) — no max_lhs — and its pair schedule
            # depends on file row order, which load_data preserves in
            # _rid; the faithful search replays it exactly. A Spark
            # DataFrame input (no file order) keeps the layout-
            # independent engine sampler instead.
            if self._rid is not None:
                from desbordante_spark.discovery.aid_search import (
                    discover_fds_aid_faithful,
                )

                fds = [
                    (lhs, rhs)
                    for lhs, rhs in discover_fds_aid_faithful(
                        self._df.select(*(self._cols + [self._rid])),
                        columns=self._cols, row_id=self._rid,
                    )
                    if max_lhs is None or len(lhs) <= max_lhs
                ]
            else:
                from desbordante_spark.discovery.aid import discover_fds_aid

                fds = discover_fds_aid(df, max_lhs=k)
        self._fds = self._fd_objects(fds)
        return self

    def get_fds(self):
        return self._fds

    def get_keys(self):
        """``FDAlgorithm::GetKeys`` (fd_algorithm.cpp:49-81): a column is
        a key when its count of minimal unary FDs plus the
        constant-column count plus itself covers the whole schema
        (constant columns can never be a minimal FD's RHS — their
        minimal form is the empty-LHS FD). Returns column names in
        schema order; golden-replayed vs test_algo_interfaces.cpp."""
        n_cols = len(self._cols)
        constants = sum(1 for fd in self._fds if len(fd.lhs) == 0)
        per: dict[str, int] = {}
        for fd in self._fds:
            if len(fd.lhs) == 1:
                per[fd.lhs[0]] = per.get(fd.lhs[0], 0) + 1
        return [
            c for c in self._cols
            if per.get(c, 0) + 1 + constants == n_cols
        ]


class _fd:
    class algorithms:
        class HyFD(_FdMiner):
            _strategy = "hyfd"

        class Tane(_FdMiner):
            _strategy = "tane"

        class DFD(_FdMiner):
            _strategy = "dfd"

        class FDep(_FdMiner):
            _strategy = "fdep"

        class FastFDs(_FdMiner):
            _strategy = "fastfds"

        class Depminer(_FdMiner):
            _strategy = "depminer"

        class FUN(_FdMiner):
            _strategy = "fun"

        class FdMine(_FdMiner):
            _strategy = "fd_mine"

        class Aid(_FdMiner):
            _strategy = "aid"

        class Pyro(_FdMiner):
            _strategy = "pyro"

        class PFDTane(_FdMiner):
            _strategy = "pfdtane"

        Default = HyFD  # algorithm_types.h: Default FD miner is HyFD


class _AfdMiner(_Algo):
    _sample: float | None = None
    _measure = "g1"

    def execute(self, error: float = 0.05, max_lhs: int | None = None,
                error_measure: str | None = None, **_kw):
        from desbordante_spark.discovery.pfdtane import discover_afds

        k = max_lhs if max_lhs is not None else min(
            _DEFAULT_MAX_LHS, max(1, len(self._cols) - 1)
        )
        afds = discover_afds(
            self._df.select(*self._cols), max_lhs=k, max_error=error,
            error_measure=error_measure or self._measure,
            sample_fraction=self._sample,
        )
        pos = {c: i for i, c in enumerate(self._cols)}
        self._fds = [
            AFD(lhs, rhs, tuple(pos[c] for c in lhs), pos[rhs], err)
            for lhs, rhs, err in afds
        ]
        return self

    def get_fds(self):
        return self._fds


class _afd:
    class algorithms:
        class Tane(_AfdMiner):
            pass

        class Pyro(_AfdMiner):
            _sample = 0.5  # sample-estimate + exact-confirm two-phase

        Default = Pyro


class _pfd:
    class algorithms:
        class PFDTane(_AfdMiner):
            _measure = "per_tuple"

        Default = PFDTane


# -------------------------------------------------------------- UCC mining

class _UccMiner(_Algo):
    def _mine(self, df, k):
        from desbordante_spark.discovery.tane import discover_uccs

        return discover_uccs(df, max_size=k)

    def execute(self, max_lhs: int | None = None, **_kw):
        k = max_lhs if max_lhs is not None else min(
            _DEFAULT_MAX_LHS, len(self._cols)
        )
        self._uccs = self._mine(self._df.select(*self._cols), k)
        return self

    def get_uccs(self):
        pos = {c: i for i, c in enumerate(self._cols)}
        return [
            FD(u, "", tuple(pos[c] for c in u)) for u in self._uccs
        ]


class _ucc:
    class algorithms:
        class HyUCC(_UccMiner):
            """The real hybrid strategy (discovery/hyucc.py) — sampled
            negative cover + batched validation; output pinned to the
            levelwise miner's, like the reference pins HyUCC to the
            verifier (test_ucc_verifier.cpp:96-123)."""

            def _mine(self, df, k):
                from desbordante_spark.discovery.hyucc import (
                    discover_uccs_hybrid,
                )

                return discover_uccs_hybrid(df, max_size=k)

        class PyroUCC(_UccMiner):
            """The faithful estimate-guided traversal (discovery/aucc.py::
            discover_auccs_pyro — pyroucc.cpp:18-58 runs ONE Pyro
            SearchSpace with a KeyG1Strategy target). Honors
            ``execute(error=...)`` like the reference's kErrorOpt
            (config/error/option.cpp:9, default 0.0 → exact UCCs)."""

            def execute(self, max_lhs: int | None = None, **_kw):
                from desbordante_spark.discovery.aucc import (
                    discover_auccs_pyro,
                )

                k = max_lhs if max_lhs is not None else min(
                    _DEFAULT_MAX_LHS, len(self._cols)
                )
                err = float(_kw.get("error", 0.0))
                self._uccs = [
                    s for s, _e in discover_auccs_pyro(
                        self._df.select(*self._cols),
                        max_size=k, max_error=err,
                    )
                ]
                return self

        Default = HyUCC


# -------------------------------------------------------------- IND mining

class _MultiTableInd(_Algo):
    """Shared multi-table load_data for the IND family (the reference's
    INDAlgorithm base consumes a table LIST)."""

    def load_data(self, tables=None, table=None, spark=None, **_kw):
        specs = tables if tables is not None else [table]
        self._tables = {}
        for spec in specs:
            df, _rid, cols = _load_table(spec, spark)
            name = (
                spec[0].rsplit("/", 1)[-1].rsplit(".", 1)[0]
                if isinstance(spec, tuple) else f"t{len(self._tables)}"
            )
            # two specs sharing a basename (a/data.csv, b/data.csv)
            # must not silently overwrite each other
            if name in self._tables:
                name = f"{name}_{len(self._tables)}"
            self._tables[name] = df.select(*cols)
        return self

    def get_inds(self):
        return self._inds


class _NaryIndMiner(_MultiTableInd):
    """Mind / Faida (src/python_bindings/ind/bind_ind.cpp — both are
    IndAlgorithm with get_inds). Faida is the HLL-sketch-pruned approx
    path; Mind is exact levelwise."""

    _approx = False

    def execute(self, max_arity: int = 2, error: float = 0.0, **_kw):
        from desbordante_spark.discovery.mind import discover_nary_inds

        self._inds = (
            discover_nary_inds(
                self._tables, max_arity=max_arity, max_error=error,
                approx=self._approx,
            )
            .filter("holds = 1")
            .collect()
        )
        return self


class _ind:
    class algorithms:
        class Spider(_MultiTableInd):
            def execute(self, error: float = 0.0, **_kw):
                from desbordante_spark.discovery.spider import (
                    discover_unary_inds,
                )

                self._inds = discover_unary_inds(
                    self._tables, max_error=error
                ).collect()
                return self

        class Mind(_NaryIndMiner):
            _approx = False

        class Faida(_NaryIndMiner):
            _approx = True

        Default = Spider


class _aind:
    # bind_ind.cpp:41 — define_submodule("aind", {Spider, Mind}); the AIND
    # surface is the same classes driven with error > 0
    class algorithms:
        Spider = _ind.algorithms.Spider
        Mind = _ind.algorithms.Mind
        Default = _ind.algorithms.Spider


# ---------------------------------------------------------------- OD mining

class _od:
    class algorithms:
        class Fastod(_Algo):
            """Canonical set-based OD mining (discovery/fastod.py), printed
            in the reference's exact forms (canonical_od.cpp:17-41 —
            1-based attribute indices): ascending ``{1,3} : 2<= ~ 4<=``,
            descending ``... 2>= ~ 4<=``, simple ``{1} : [] -> 2<=``."""

            def execute(self, **_kw):
                from desbordante_spark.discovery.fastod import (
                    discover_ods_fastod,
                )
                from desbordante_spark.discovery.fastod_encode import (
                    typed_rank_encode,
                )

                # the reference's typed-comparator rank encoding
                # (storage/data_frame.cpp:125-171): deduced-numeric columns
                # rank by parsed value alone ('1' == '1.0' == '01'), string
                # columns byte-wise, mixed columns under the full
                # ValueToString cross-type comparator
                df = typed_rank_encode(
                    self._df.select(*self._cols), self._cols
                )
                self._res = discover_ods_fastod(df, columns=self._cols)
                return self

            @staticmethod
            def _ctx(s):
                return "{" + ",".join(str(i + 1) for i in s) + "}"

            def get_asc_ods(self):
                return [f"{self._ctx(c)} : {a + 1}<= ~ {b + 1}<="
                        for c, a, b in self._res["asc"]]

            def get_desc_ods(self):
                return [f"{self._ctx(c)} : {a + 1}>= ~ {b + 1}<="
                        for c, a, b in self._res["desc"]]

            def get_simple_ods(self):
                return [f"{self._ctx(c)} : [] -> {r + 1}<="
                        for c, r in self._res["simple"]]

        class Order(_Algo):
            def execute(self, **_kw):
                from desbordante_spark.discovery.order import discover_ods

                rows = discover_ods(self._df.select(*self._cols)).collect()
                self._ods = [r for r in rows if r["holds"]]
                return self

            def get_list_ods(self):
                return [f"{r['lhs']} -> {r['rhs']} ({r['direction']})"
                        for r in self._ods]

        Default = Fastod


# ---------------------------------------------------------------- DD mining

@dataclass(frozen=True)
class DD:
    lhs: tuple[tuple[str, float, float], ...]
    rhs_col: str
    lo: float
    hi: float

    def __str__(self):
        left = " ; ".join(f"{c} [{lo:g}, {hi:g}]" for c, lo, hi in self.lhs)
        return f"{left} -> {self.rhs_col} [{self.lo:g}, {self.hi:g}]"


class _dd:
    class algorithms:
        class Split(_Algo):
            """dd.Split (bind_split.cpp:23) — by default this runs the
            FAITHFUL full search (discovery/split_search.py: candidate
            difference spaces from the difference table or the
            ``num_dfs_per_column`` default grid, instance-exclusion
            reduce, redundancy + transitivity removal, split.cpp:71-222).
            ``lhs_bounds=`` keeps the engine's bounded RHS-mining
            extension (discovery/split.py) for corpus-scale use."""

            def execute(self, difference_table=None, lhs_bounds=None,
                        rhs_cols=None, min_pairs: int = 1,
                        num_rows: int = 0, num_columns: int = 0, **_kw):
                if lhs_bounds:
                    return self._execute_rhs_mining(
                        lhs_bounds, rhs_cols, min_pairs
                    )

                import csv as _csv

                from desbordante_spark.discovery.split_search import (
                    discover_dds_split,
                    parse_difference_rows,
                )

                constraints = None
                if difference_table is not None:
                    path, sep, has_header = difference_table
                    with open(path, newline="") as f:
                        rows = list(_csv.reader(f, delimiter=sep))
                    header = (rows[0] if has_header
                              else [f"col{i}" for i in range(len(rows[0]))])
                    body = rows[1:] if has_header else rows
                    # dif-table columns map to table columns BY POSITION
                    # (split.cpp:388: GetColumnData(index) on the dif
                    # relation), so rename to the table's schema
                    header = [
                        self._cols[i] if i < len(self._cols) else c
                        for i, c in enumerate(header)
                    ]
                    constraints = parse_difference_rows(header, body)
                res = discover_dds_split(
                    self._typed_df(), difference_constraints=constraints,
                    row_id=self._rid, num_rows=num_rows,
                    num_columns=num_columns,
                )
                self._dds = res.dds
                return self

            def _typed_df(self):
                """CSV columns arrive as strings; recover numeric columns
                (the reference types them via TypedColumnData before
                computing |a-b| distances — split.cpp:224-251)."""
                from pyspark.sql import functions as F

                from desbordante_spark.operators.schema_infer import (
                    type_profile,
                )

                df = self._df.select(
                    *(self._cols + ([self._rid] if self._rid else []))
                )
                inferred = {
                    r["column"]: r["inferred_type"]
                    for r in type_profile(df.select(*self._cols)).collect()
                }
                casts = []
                for c in self._cols:
                    t = inferred.get(c)
                    if t in ("int", "bigint", "double"):
                        casts.append(F.col(c).cast("double").alias(c))
                    else:
                        casts.append(F.col(c))
                if self._rid:
                    casts.append(F.col(self._rid))
                return df.select(*casts)

            def _execute_rhs_mining(self, lhs_bounds, rhs_cols, min_pairs):
                from desbordante_spark.discovery.split import discover_dds

                rid = self._rid
                df = self._df
                if rid is None:
                    from pyspark.sql import functions as F

                    rid = "_rid"
                    df = df.withColumn(rid, F.monotonically_increasing_id())
                bounds = dict(lhs_bounds)
                cands = rhs_cols or [c for c in self._cols if c not in bounds]
                rows = discover_dds(
                    df, bounds, cands, rid, min_pairs=min_pairs
                ).collect()
                lhs = tuple(
                    (c, lo, hi) for c, (lo, hi) in sorted(bounds.items())
                )
                self._dds = [
                    DD(lhs, r["rhs_col"], r["lo"], r["hi"])
                    for r in rows if r["holds"]
                ]
                return self

            def get_dds(self):
                return self._dds

        Default = Split


# --------------------------------------------------------------- CFD mining

class _cfd:
    class algorithms:
        class FDFirst(_Algo):
            def execute(self, minsup: int = 1, minconf: float = 0.9,
                        max_lhs: int = 2, **_kw):
                from desbordante_spark.discovery.cfd_miner import discover_cfds

                self._cfds = discover_cfds(
                    self._df.select(*self._cols), min_support=minsup,
                    min_confidence=minconf, max_lhs=max_lhs,
                    prune_specializations_of_exact=True,  # reference FDFirst
                ).collect()
                return self

            def get_cfds(self):
                return [f"({r['lhs_pattern']}) -> {r['rhs']}"
                        for r in self._cfds]

        Default = FDFirst


# ---------------------------------------------------------------- AR mining

@dataclass(frozen=True)
class ARule:
    left: list
    right: list
    confidence: float
    support: float = 0.0

    def __str__(self):
        return f"{self.left} -> {self.right} (conf={self.confidence:.3f})"


class _ar:
    class algorithms:
        class Apriori(_Algo):
            def execute(self, minsup: float = 0.1, minconf: float = 0.5,
                        input_format: str = "singular",
                        tid_column_index: int = 0,
                        item_column_index: int = 1, **_kw):
                from desbordante_spark.operators.ar import (
                    mine_association_rules_full,
                    transactions_from,
                )

                df = self._df.select(*self._cols)
                if input_format == "singular":
                    tx = transactions_from(
                        df, "singular",
                        tid_col=self._cols[tid_column_index],
                        item_col=self._cols[item_column_index],
                    )
                else:
                    # build the tid BEFORE projecting away _rid — _tid()
                    # references the loader's row-order column, which
                    # `df` (a plain column projection) no longer carries
                    tx = transactions_from(
                        self._df.withColumn("_tid", self._tid())
                        .select("_tid", *self._cols),
                        "tabular", tid_col="_tid", item_cols=self._cols,
                    )
                # full consequent enumeration — the reference's Apriori
                # emits multi-item consequents (test_apriori.cpp goldens)
                rows = mine_association_rules_full(
                    tx, min_support=minsup, min_confidence=minconf
                ).collect()
                self._ars = [
                    ARule(list(r["antecedent"]), list(r["consequent"]),
                          float(r["confidence"]), float(r["support"]))
                    for r in rows
                ]
                self._items = sorted(
                    {i for r in self._ars for i in r.left + r.right}
                )
                return self

            def _tid(self):
                from pyspark.sql import functions as F

                return (F.col(self._rid) if self._rid
                        else F.monotonically_increasing_id())

            def get_ars(self):
                return self._ars

            def get_itemnames(self):
                return self._items

        Default = Apriori


# ---------------------------------------------------------------- AC mining

@dataclass(frozen=True)
class ACRange:
    """Reference ``ACRanges``: the column pair + its allowed value
    intervals (algebraic_constraints.py example surface)."""

    column_indices: tuple[int, int]
    ranges: list

    def __str__(self):
        return f"{self.column_indices}: {self.ranges}"


@dataclass(frozen=True)
class ACException:
    """Reference ``ACException``: a row whose binop value falls outside
    every allowed range."""

    row_index: int
    column_indices: tuple[int, int]
    value: float


class _ac:
    class algorithms:
        class AcAlgorithm(_Algo):
            def execute(self, bin_operation: str = "+", weight: float = 0.05,
                        ac_seed: int = 42, fuzziness: float | None = None,
                        p_fuzz: float = 0.9, bumps_limit: int = 0,
                        iterations_limit: int = 10,
                        faithful_max_rows: int = 100_000, **_kw):
                """Mines ranges + exceptions for every ordered column pair
                of the loaded table (the reference's behavior — the example
                loads exactly the two columns of interest). Passing
                ``fuzziness`` (the reference's BHUNT sampler knob, even
                0.0 for exact) routes through the FAITHFUL engine
                (discovery/ac_algorithm.py — reference RNG stream, typed
                arithmetic, golden-replayed vs test_ac_algorithm.cpp);
                that path collects the table and is bounded by
                ``faithful_max_rows``. Default (no ``fuzziness``) stays on
                the distributed sampler bounded by
                ``ac.ac_build_ranges(max_sample=)``."""
                from desbordante_spark.operators.ac import (
                    ac_build_ranges,
                    ac_exceptions,
                )

                if fuzziness is not None:
                    return self._execute_faithful(
                        bin_operation, weight, ac_seed, fuzziness, p_fuzz,
                        bumps_limit, iterations_limit, faithful_max_rows,
                    )

                self._ranges = []
                self._exceptions = []
                pairs = [
                    (i, j)
                    for i in range(len(self._cols))
                    for j in range(i + 1, len(self._cols))
                ]
                for i, j in pairs:
                    a, b = self._cols[i], self._cols[j]
                    rng = ac_build_ranges(
                        self._df, a, b, op=bin_operation, weight=weight,
                        seed=ac_seed,
                    )
                    self._ranges.append(ACRange((i, j), rng))
                    exc = ac_exceptions(
                        self._df, a, b, bin_operation, rng
                    ).collect()
                    for r in exc:
                        rid = int(r[self._rid]) if self._rid else -1
                        self._exceptions.append(
                            ACException(rid, (i, j), float(r["binop_value"]))
                        )
                self._exceptions.sort(key=lambda e: e.row_index)
                return self

            def _execute_faithful(self, bin_operation, weight, ac_seed,
                                  fuzziness, p_fuzz, bumps_limit,
                                  iterations_limit, faithful_max_rows):
                from pyspark.sql import functions as F

                from desbordante_spark.discovery.ac_algorithm import (
                    ACFaithful,
                )

                head = self._df.select(
                    *([self._rid] if self._rid else []),
                    *[F.col(c).cast("string") for c in self._cols],
                ).limit(faithful_max_rows + 1).collect()
                if len(head) > faithful_max_rows:
                    raise ValueError(
                        "faithful AC path collects the table; "
                        f"{len(head)}+ rows exceed faithful_max_rows="
                        f"{faithful_max_rows} — use the default "
                        "distributed sampler for tables this size"
                    )
                if self._rid:
                    head.sort(key=lambda r: r[self._rid])
                rows = [[r[c] for c in self._cols] for r in head]
                algo = ACFaithful(
                    rows, bin_operation=bin_operation, fuzziness=fuzziness,
                    p_fuzz=p_fuzz, weight=weight, bumps_limit=bumps_limit,
                    iterations_limit=iterations_limit, seed=ac_seed,
                ).execute()
                self._faithful = algo
                self._ranges = [
                    ACRange((c.lhs, c.rhs), list(c.ranges))
                    for c in algo.collections
                ]
                self._exceptions = []
                for e in algo.collect_exceptions():
                    for pair in e.column_pairs:
                        self._exceptions.append(
                            ACException(
                                e.row, pair,
                                float(algo.binop_value(e.row, *pair)),
                            )
                        )
                return self

            def get_ac_ranges(self):
                return self._ranges

            def get_ac_exceptions(self):
                return self._exceptions

        Default = AcAlgorithm


# ----------------------------------------------------------- DataStats

class _statistics:
    class algorithms:
        class DataStats(_Algo):
            """Per-column statistics (statistics/data_stats.cpp) behind the
            reference getter surface. Columns loaded from CSV arrive as
            strings; the typed-column inference (operators/schema_infer.py)
            recovers numeric columns first, exactly like the reference's
            ``TypedColumnData`` pass. ``get_median`` uses the engine's
            quantile sketch at accuracy 10000 (exact on small tables)."""

            def execute(self, **_kw):
                from pyspark.sql import functions as F

                from desbordante_spark.operators.schema_infer import (
                    type_profile,
                )
                from desbordante_spark.operators.stats import (
                    char_vocab,
                    profile,
                    words_set,
                )

                df = self._df.select(*self._cols)
                inferred = {
                    r["column"]: r["inferred_type"]
                    for r in type_profile(df).collect()
                }
                casts = []
                for c in self._cols:
                    t = inferred.get(c)
                    if t in ("int", "bigint"):
                        casts.append(F.col(c).cast("long").alias(c))
                    elif t == "double":
                        casts.append(F.col(c).cast("double").alias(c))
                    else:
                        casts.append(F.col(c))
                typed = df.select(*casts)
                self._typed = typed
                self._prof = {
                    r["column"]: r.asDict() for r in profile(typed).collect()
                }
                self._vocab_fn = lambda c: char_vocab(typed, c)
                self._words_fn = lambda c: {
                    r["word"] for r in words_set(typed, c).collect()
                }
                return self

            def _col(self, index):
                return self._prof[self._cols[index]]

            def get_average(self, index):
                return self._col(index)["avg"]

            def get_sum_of_squares(self, index):
                return self._col(index)["sum_of_squares"]

            def get_median(self, index):
                q = self._col(index)["quantiles"]
                return q[1] if q else None

            def get_min(self, index):
                return self._col(index)["min_value"]

            def get_max(self, index):
                return self._col(index)["max_value"]

            def get_number_of_distinct(self, index):
                return self._col(index)["distinct_values"]

            def get_corrected_std(self, index):
                return self._col(index)["stddev"]

            def get_min_number_of_chars(self, index):
                return self._col(index)["min_chars"]

            def get_max_number_of_chars(self, index):
                return self._col(index)["max_chars"]

            def get_min_number_of_words(self, index):
                return self._col(index)["min_words"]

            def get_max_number_of_words(self, index):
                return self._col(index)["max_words"]

            def get_number_of_nulls(self, index):
                return self._col(index)["null_count"]

            def get_vocab(self, index):
                return "".join(self._vocab_fn(self._cols[index]))

            def get_words(self, index):
                return self._words_fn(self._cols[index])

            def get_number_of_columns(self):
                return len(self._cols)

            def get_columns_with_null(self):
                return [i for i, c in enumerate(self._cols)
                        if self._prof[c]["null_count"] > 0]

            def get_columns_with_all_unique_values(self):
                total = None
                out = []
                for i, c in enumerate(self._cols):
                    p = self._prof[c]
                    if total is None:
                        total = p["count_values"] + p["null_count"] + \
                            p["empty_count"]
                    if (p["distinct_values"] == p["count_values"]
                            and p["count_values"] == total):
                        out.append(i)
                return out

        Default = DataStats



# --------------------------------------------------------- verification

class _FdVerifierBase(_Algo):
    _default_error = 0.0

    def execute(self, lhs_indices=None, rhs_indices=None, error=None, **_kw):
        from desbordante_spark.operators.fd import fd_verify

        lhs = self._names(lhs_indices or [])
        rhs = self._names(rhs_indices or [])
        thr = error if error is not None else self._default_error
        self._res = fd_verify(
            self._df.select(*self._cols, *([self._rid] if self._rid else [])),
            lhs, rhs, error_threshold=thr,
            row_id=self._rid,
        )
        self._lhs, self._rhs = lhs, rhs
        return self

    def fd_holds(self):
        return self._res.holds

    def get_error(self):
        return self._res.error

    def get_num_error_clusters(self):
        return self._res.num_violating_clusters

    def get_num_error_rows(self):
        return self._res.num_violating_rows

    def get_highlights(self):
        from desbordante_spark.operators.fd import fd_highlights

        if self._rid is None:
            return self._res.violations.collect()
        return fd_highlights(
            self._df, self._lhs, self._rhs, self._rid
        ).collect()


class _fd_verification:
    class algorithms:
        class FDVerifier(_FdVerifierBase):
            pass

        Default = FDVerifier


class _afd_verification:
    class algorithms:
        class FDVerifier(_FdVerifierBase):
            _default_error = 0.05

        Default = FDVerifier


class _UccVerifierBase(_Algo):
    def execute(self, ucc_indices=None, error=None, **_kw):
        from desbordante_spark.operators.ucc import ucc_verify

        cols = self._names(ucc_indices or [])
        self._res = ucc_verify(
            self._df, cols, error_threshold=error or 0.0, row_id=self._rid
        )
        self._clusters = (
            [list(r["row_ids"]) for r in self._res.violations.collect()]
            if self._rid else None
        )
        return self

    def ucc_holds(self):
        return self._res.holds

    def get_error(self):
        return self._res.error

    def get_num_clusters_violating_ucc(self):
        return self._res.num_violating_clusters

    def get_num_rows_violating_ucc(self):
        return self._res.num_violating_rows

    def get_clusters_violating_ucc(self):
        if self._clusters is None:
            raise ValueError(
                "row-level clusters need a file/pandas table (row order); "
                "a bare Spark DataFrame carries none"
            )
        return self._clusters


class _ucc_verification:
    class algorithms:
        class UccVerifier(_UccVerifierBase):
            pass

        Default = UccVerifier


class _aucc_verification:
    class algorithms:
        class UccVerifier(_UccVerifierBase):
            pass

        Default = UccVerifier


class _mfd_verification:
    class algorithms:
        class MetricVerifier(_Algo):
            def execute(self, lhs_indices=None, rhs_indices=None,
                        metric: str = "euclidean", parameter: float = 1.0,
                        metric_algorithm: str = "brute", q: int = 2, **_kw):
                from desbordante_spark.operators.mfd import mfd_verify

                self._res = mfd_verify(
                    self._df, self._names(lhs_indices or []),
                    self._names(rhs_indices or []),
                    parameter=parameter, metric=metric, q=q,
                )
                return self

            def mfd_holds(self):
                return self._res.holds

            def get_highlights(self):
                return self._res.violations.collect()

        Default = MetricVerifier


class _dynamic_fd_verification:
    class algorithms:
        class DynamicFDVerifier(_Algo):
            """CRUD-batch FD verification (operators/dynamic.py): the
            count-state updates are bit-identical to re-verifying the
            mutated table from scratch. Matches the reference protocol
            (examples/dynamic_verifying_fd.py): ``insert=`` new-row
            DataFrame (ids continue after the current max), ``delete=`` a
            set of row ids, ``update=`` a DataFrame INDEXED by the row ids
            to replace (delete old values + insert new). State persists
            across ``execute`` calls."""

            def load_data(self, table=None, spark=None, lhs_indices=None,
                          rhs_indices=None, **_kw):
                import pandas as pd

                pdf = _load_pandas(table).copy()
                pdf.index = range(len(pdf))
                self._pdf = pdf
                self._sp = spark or _spark()
                self._cols = list(pdf.columns)
                self._lhs = self._names(lhs_indices or [])
                self._rhs = self._names(rhs_indices or [])
                from desbordante_spark.operators.dynamic import fd_state_init

                self._state = fd_state_init(
                    self._sp.createDataFrame(pdf), self._lhs, self._rhs
                )
                self._refresh()
                return self

            def _rows_df(self, pdf):
                return self._sp.createDataFrame(
                    pdf[self._cols]
                ) if len(pdf) else None

            def _refresh(self):
                from desbordante_spark.operators.dynamic import (
                    fd_metrics_from_state,
                )

                self._metrics = fd_metrics_from_state(
                    self._state, self._lhs
                ).collect()[0]

            def execute(self, insert=None, delete=None, update=None, **_kw):
                import pandas as pd

                from desbordante_spark.operators.dynamic import state_apply

                del_ids = set(delete or [])
                ins_frames = []
                if update is not None:
                    del_ids |= set(update.index)
                    ins_frames.append(update[self._cols].astype(object))
                if insert is not None:
                    ins_frames.append(insert[self._cols].astype(object))
                deletes = self._rows_df(self._pdf.loc[sorted(del_ids)]) \
                    if del_ids else None
                ins_pdf = (pd.concat(ins_frames, ignore_index=True)
                           if ins_frames else None)
                inserts = self._rows_df(ins_pdf) if ins_frames else None
                self._state = state_apply(
                    self._state, self._lhs + self._rhs,
                    inserts=inserts, deletes=deletes,
                )
                # mirror the mutation on the pandas shadow (row-id ledger):
                # updates keep their ids, inserts continue after the max id
                if update is not None:
                    self._pdf.loc[update.index, self._cols] = \
                        update[self._cols].astype(object).values
                    del_ids -= set(update.index)
                if del_ids:
                    self._pdf = self._pdf.drop(index=sorted(del_ids))
                if insert is not None:
                    nxt = (self._pdf.index.max() + 1
                           if len(self._pdf) else 0)
                    new = insert[self._cols].astype(object).copy()
                    new.index = range(nxt, nxt + len(new))
                    self._pdf = pd.concat([self._pdf, new])
                self._refresh()
                return self

            def fd_holds(self):
                return bool(self._metrics["holds"])

            def get_error(self):
                return float(self._metrics["error"])

            def get_num_error_clusters(self):
                return int(self._metrics["num_violating_clusters"])

            def get_num_error_rows(self):
                return int(self._metrics["num_violating_rows"])

        Default = DynamicFDVerifier


class _gfd_verification:
    class algorithms:
        class EGfdValid(_Algo):
            """File-based GFD validation (examples/verifying_gfd flow):
            ``load_data(gfd=[paths], graph=path)`` / ``execute()`` /
            ``get_gfds()`` returns the SATISFIED dependencies — the
            reference signals "holds" via membership."""

            def load_data(self, gfd=None, graph=None, spark=None, **_kw):
                self._gfd_paths = list(gfd or [])
                self._graph = graph
                self._sp = spark or _spark()
                return self

            def execute(self, **_kw):
                from desbordante_spark.sources.graph_dot import (
                    verify_gfd_files,
                )

                self._satisfied = [
                    p for p in self._gfd_paths
                    if verify_gfd_files(self._sp, self._graph, p).holds
                ]
                return self

            def get_gfds(self):
                return self._satisfied

        GfdValid = EGfdValid
        NaiveGfdValid = EGfdValid
        Default = EGfdValid



fd = _fd
afd = _afd
pfd = _pfd
ucc = _ucc
ind = _ind
aind = _aind
od = _od
dd = _dd
cfd = _cfd
ar = _ar
ac = _ac
statistics = _statistics
gfd_verification = _gfd_verification
fd_verification = _fd_verification
afd_verification = _afd_verification
ucc_verification = _ucc_verification
aucc_verification = _aucc_verification
mfd_verification = _mfd_verification
dynamic_fd_verification = _dynamic_fd_verification

__all__ = [
    "FD", "AFD", "DD", "ARule",
    "fd", "afd", "pfd", "ucc", "ind", "od", "dd", "cfd", "ar", "ac",
    "statistics", "gfd_verification", "fd_verification",
    "afd_verification", "ucc_verification",
    "aucc_verification", "mfd_verification", "dynamic_fd_verification",
]
