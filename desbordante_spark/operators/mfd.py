"""Metric FD verification (FD with tolerance).

Reference semantics (/root/reference/src/core/algorithms/metric/):
- MFD ``X ->_δ Y`` holds iff within every X-cluster all Y points lie within
  distance ``parameter`` of each other (verify loop
  metric_verifier.cpp:224-334).
- Metrics: ``euclidean`` (numeric, 1-D or multi-dim), ``levenshtein``,
  ``cosine`` over q-gram vectors (metric/enums.h:7-12); algorithms ``brute``
  (all pairs), ``approx`` (2-approximation), ``calipers`` (2-D)
  (enums.h:14-23).
- Options mirror metric_verifier.h:32-39: ``lhs/rhs``, ``metric``,
  ``parameter``, ``q``, ``dist_from_null_is_infinity``.

Spark-first strategy per metric:
- **euclidean 1-D** — the cluster diameter IS ``max(Y) − min(Y)``: a single
  ``groupBy(X).agg(min,max)`` hash aggregation. Exact, no pairs, scales to
  any cluster size. (The reference's brute loop is O(c²) per cluster.)
- **euclidean multi-dim** — exact pairwise diameter per cluster via
  ``applyInPandas`` (Arrow-batched NumPy, vectorized pairwise distances)
  over *distinct* Y points; clusters larger than ``max_points`` fall back to
  the reference's 2-approximation (twice the max distance from one anchor
  point; approx flag reported): by the triangle inequality
  ``diameter <= approx <= 2 * diameter``.
- **levenshtein** — pairwise over *distinct* Y strings per cluster using
  Spark's built-in JVM ``levenshtein()`` on a within-cluster self-join —
  stays in codegen, no Python.
- **cosine** — q-gram vectors + pairwise cosine per cluster via
  ``applyInPandas`` (NumPy matmul on the cluster's distinct strings). Over
  ``max_points`` it takes the same anchor fallback as the reference, but
  1 − cosine is not a metric, so only ``approx <= 2 * diameter`` holds:
  the fallback can under-report a diameter (approx flag reported).
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from desbordante_spark.model import as_cols, MFDResult, verdict_fold

__all__ = ["mfd_cluster_diameters", "mfd_highlights", "mfd_verify"]


def _euclid1d_diameters(df, lhs, rhs_col, null_inf):
    v = F.col(rhs_col).cast("double")
    agg = df.groupBy(*lhs).agg(
        F.count(F.lit(1)).alias("cluster_size"),
        F.min(v).alias("_lo"),
        F.max(v).alias("_hi"),
        F.sum(v.isNull().cast("long")).alias("_nulls"),
    )
    diam = F.when(
        F.col("_nulls") > 0,
        F.lit(float("inf")) if null_inf else F.col("_hi") - F.col("_lo"),
    ).otherwise(F.col("_hi") - F.col("_lo"))
    return agg.select(
        *lhs,
        "cluster_size",
        F.coalesce(diam, F.lit(0.0)).alias("diameter"),
        F.lit(False).alias("approximate"),
    )


def _euclid_nd_diameters(df, lhs, rhs, null_inf, max_points):
    # diameter over *distinct* Y points (pairwise distance is invariant to
    # multiplicity); true cluster row counts joined back separately — the
    # distinct-point count is NOT the cluster size (it undercounts whenever
    # Y values repeat), matching the 1-D/levenshtein/cosine paths.
    pts = df.select(*lhs, *rhs).distinct()
    out_schema = ", ".join(
        [f"`{c}` {dict(df.dtypes)[c]}" for c in lhs]
        + ["diameter double", "approximate boolean"]
    )

    def per_group(key, pdf):
        x = pdf[list(rhs)].to_numpy(dtype=float)
        has_null = np.isnan(x).any()
        x = x[~np.isnan(x).any(axis=1)]
        approx = False
        if len(x) == 0:
            d = float("inf") if has_null and null_inf else 0.0
        elif len(x) > max_points:
            anchor = x[0]
            d = 2.0 * float(np.sqrt(((x - anchor) ** 2).sum(axis=1)).max())
            approx = True
        else:
            diff = x[:, None, :] - x[None, :, :]
            d = float(np.sqrt((diff**2).sum(-1)).max())
        if has_null and null_inf:
            d = float("inf")
        return pd.DataFrame(
            [[*key, d, approx]],
            columns=[*lhs, "diameter", "approximate"],
        )

    diam = pts.groupBy(*lhs).applyInPandas(per_group, schema=out_schema).alias("d")
    sizes = df.groupBy(*lhs).agg(F.count(F.lit(1)).alias("cluster_size")).alias("s")
    cond = [F.col(f"s.{c}").eqNullSafe(F.col(f"d.{c}")) for c in lhs]
    return sizes.join(diam, cond, "left").select(
        *[F.col(f"s.{c}").alias(c) for c in lhs],
        F.col("s.cluster_size").alias("cluster_size"),
        F.coalesce(F.col("d.diameter"), F.lit(0.0)).alias("diameter"),
        F.coalesce(F.col("d.approximate"), F.lit(False)).alias("approximate"),
    )


def _levenshtein_diameters(df, lhs, rhs_col, null_inf):
    vals = df.select(*lhs, rhs_col).distinct()
    a = vals.alias("a")
    b = vals.alias("b")
    cond = [F.col(f"a.{c}").eqNullSafe(F.col(f"b.{c}")) for c in lhs]
    pairs = a.join(b, cond, "inner").filter(
        F.col(f"a.{rhs_col}") < F.col(f"b.{rhs_col}")
    )
    dist = F.levenshtein(F.col(f"a.{rhs_col}"), F.col(f"b.{rhs_col}"))
    diam = pairs.groupBy(*[F.col(f"a.{c}").alias(c) for c in lhs]).agg(
        F.max(dist).cast("double").alias("diameter")
    )
    sizes = df.groupBy(*lhs).agg(
        F.count(F.lit(1)).alias("cluster_size"),
        F.sum(F.col(rhs_col).isNull().cast("long")).alias("_nulls"),
    ).alias("s")
    d = diam.alias("d")
    cond2 = [F.col(f"s.{c}").eqNullSafe(F.col(f"d.{c}")) for c in lhs]
    joined = sizes.join(d, cond2, "left")
    diameter = F.coalesce(F.col("d.diameter"), F.lit(0.0))
    if null_inf:
        diameter = F.when(F.col("_nulls") > 0, F.lit(float("inf"))).otherwise(diameter)
    return joined.select(
        *[F.col(f"s.{c}").alias(c) for c in lhs],
        F.col("s.cluster_size").alias("cluster_size"),
        diameter.alias("diameter"),
        F.lit(False).alias("approximate"),
    )


def _cosine_diameters(df, lhs, rhs_col, q, null_inf, max_points):
    vals = df.select(*lhs, rhs_col).distinct()
    out_schema = ", ".join(
        [f"`{c}` {dict(df.dtypes)[c]}" for c in lhs]
        + ["diameter double", "approximate boolean"]
    )

    def qgrams(s: str) -> dict:
        if len(s) < q:
            return {s: 1} if s else {}
        out: dict = {}
        for i in range(len(s) - q + 1):
            g = s[i : i + q]
            out[g] = out.get(g, 0) + 1
        return out

    def per_group(key, pdf):
        strs = pdf[rhs_col]
        has_null = strs.isna().any()
        strs = strs.dropna().tolist()
        approx = False
        if len(strs) < 2:
            d = 0.0
        elif len(strs) > max_points:
            # anchor fallback (the reference's approx algorithm,
            # metric_verifier.cpp, applies it to cosine too): 2 * the max
            # distance from a member point. That is never above 2x the
            # true diameter, but 1 - cosine is not a metric (no triangle
            # inequality), so it is NOT an upper bound on the diameter:
            # capped clusters can under-report. Dict-based sparse dots — no
            # O(c^2 * |vocab|) dense matrix, so a degenerate cluster with
            # millions of distinct strings stays bounded per task. Anchor =
            # lexical min string (deterministic under any partition order).
            anchor = qgrams(min(strs))
            an = float(np.sqrt(sum(v * v for v in anchor.values()))) or 1.0
            dmax = 0.0
            for s in strs:
                gr = qgrams(s)
                n = float(np.sqrt(sum(v * v for v in gr.values()))) or 1.0
                dot = sum(c * anchor.get(g, 0) for g, c in gr.items())
                dmax = max(dmax, 1.0 - dot / (n * an))
            d = 2.0 * dmax
            approx = True
        else:
            grams = [qgrams(s) for s in strs]
            vocab = sorted({g for gr in grams for g in gr})
            if not vocab:
                d = 0.0
            else:
                m = np.zeros((len(strs), len(vocab)))
                gi = {g: i for i, g in enumerate(vocab)}
                for r, gr in enumerate(grams):
                    for g, c in gr.items():
                        m[r, gi[g]] = c
                norms = np.linalg.norm(m, axis=1, keepdims=True)
                norms[norms == 0] = 1.0
                mn = m / norms
                sim = mn @ mn.T
                d = float((1.0 - sim).max())
        if has_null and null_inf:
            d = float("inf")
        return pd.DataFrame([[*key, d, approx]],
                            columns=[*lhs, "diameter", "approximate"])

    diam = vals.groupBy(*lhs).applyInPandas(per_group, schema=out_schema).alias("d")
    sizes = df.groupBy(*lhs).agg(F.count(F.lit(1)).alias("cluster_size")).alias("s")
    cond = [F.col(f"s.{c}").eqNullSafe(F.col(f"d.{c}")) for c in lhs]
    return sizes.join(diam, cond, "left").select(
        *[F.col(f"s.{c}").alias(c) for c in lhs],
        F.col("s.cluster_size").alias("cluster_size"),
        F.coalesce(F.col("d.diameter"), F.lit(0.0)).alias("diameter"),
        F.coalesce(F.col("d.approximate"), F.lit(False)).alias("approximate"),
    )


def mfd_cluster_diameters(
    df: DataFrame,
    lhs: Sequence[str],
    rhs: Sequence[str],
    metric: str = "euclidean",
    q: int = 2,
    dist_from_null_is_infinity: bool = False,
    max_points: int = 2000,
) -> DataFrame:
    """Per-X-cluster Y diameter: ``(X..., cluster_size, diameter, approximate)``."""
    lhs = as_cols(lhs)
    rhs = as_cols(rhs)
    rhs = list(rhs)
    if metric == "euclidean" and len(rhs) == 1:
        return _euclid1d_diameters(df, lhs, rhs[0], dist_from_null_is_infinity)
    if metric == "euclidean":
        return _euclid_nd_diameters(df, lhs, rhs, dist_from_null_is_infinity,
                                    max_points)
    if len(rhs) != 1:
        raise ValueError(f"metric {metric!r} requires a single RHS column")
    if metric == "levenshtein":
        return _levenshtein_diameters(df, lhs, rhs[0], dist_from_null_is_infinity)
    if metric == "cosine":
        return _cosine_diameters(df, lhs, rhs[0], q, dist_from_null_is_infinity,
                                 max_points)
    raise ValueError(f"unknown metric {metric!r}")


def mfd_highlights(
    df: DataFrame,
    lhs: Sequence[str],
    rhs: Sequence[str],
    parameter: float,
    metric: str = "euclidean",
    evidence_cap: int = 100,
) -> DataFrame:
    """Per-point highlights for violating clusters, mirroring the reference's
    ``get_highlights`` (bind_mfd_verification.cpp:21-27, Highlight =
    (data_index, furthest_data_index, max_distance), highlight_calculator.cpp
    :23-48): for every distinct Y point of a cluster whose diameter exceeds
    ``parameter``, the furthest other point and the distance to it.

    Distributed adaptation: points are identified by *value* (row indices
    don't exist in a DataFrame); ties on distance resolve to the min-side
    point exactly as the reference (dist_to_max > dist_to_min picks max).
    Per-cluster evidence is capped at ``evidence_cap`` points (largest
    ``max_distance`` first, then value asc — deterministic).

    Output: ``(X..., point, furthest_point, max_distance, exceeds)``.
    Metrics: ``euclidean`` (1-D — one hash agg + one broadcast-joinable
    grid, no pairs) and ``levenshtein`` (within-cluster distinct-value
    self-join, JVM ``levenshtein()``).
    """
    lhs = as_cols(lhs)
    rhs = as_cols(rhs)
    if metric == "euclidean":
        if len(rhs) != 1:
            raise ValueError("highlights: euclidean supports 1-D RHS")
        y = F.col(rhs[0]).cast("double")
        base = df.filter(y.isNotNull())
        # cluster envelope (one hash agg) joined to the distinct points — no
        # collect_set, so a degenerate cluster with millions of distinct Y
        # values never materializes an array
        env = base.groupBy(*lhs).agg(
            F.min(y).alias("_lo"), F.max(y).alias("_hi")
        ).filter(F.col("_hi") - F.col("_lo") > parameter).alias("e")
        vals = base.select(*lhs, y.alias("point")).distinct().alias("v")
        cond = [F.col(f"v.{c}").eqNullSafe(F.col(f"e.{c}")) for c in lhs]
        p = vals.join(env, cond, "inner").select(
            *[F.col(f"e.{c}").alias(c) for c in lhs], "_lo", "_hi", "point"
        )
        dist_to_max = F.col("_hi") - F.col("point")
        dist_to_min = F.col("point") - F.col("_lo")
        out = p.select(
            *lhs,
            "point",
            F.when(dist_to_max > dist_to_min, F.col("_hi"))
            .otherwise(F.col("_lo")).alias("furthest_point"),
            F.greatest(dist_to_max, dist_to_min).alias("max_distance"),
        )
    elif metric == "levenshtein":
        if len(rhs) != 1:
            raise ValueError("highlights: levenshtein needs a single RHS")
        rhs_col = rhs[0]
        vals = df.filter(F.col(rhs_col).isNotNull()).select(
            *lhs, F.col(rhs_col).alias("point")
        ).distinct()
        a, b = vals.alias("a"), vals.alias("b")
        cond = [F.col(f"a.{c}").eqNullSafe(F.col(f"b.{c}")) for c in lhs]
        pairs = a.join(b, cond, "inner").filter(
            F.col("a.point") != F.col("b.point")
        )
        d = F.levenshtein(F.col("a.point"), F.col("b.point")).cast("double")
        # per point: furthest other point (max distance; ties → min value,
        # deterministic where the reference keeps first-scanned index)
        per_pair = pairs.select(
            *[F.col(f"a.{c}").alias(c) for c in lhs],
            F.col("a.point").alias("point"),
            F.col("b.point").alias("other"),
            d.alias("dist"),
        )
        wpt = Window.partitionBy(*lhs, "point")
        per_pt = (
            per_pair.withColumn("max_distance", F.max("dist").over(wpt))
            .filter(F.col("dist") == F.col("max_distance"))
            .groupBy(*lhs, "point", "max_distance")
            .agg(F.min("other").alias("furthest_point"))
            .select(*lhs, "point", "furthest_point", "max_distance")
        )
        w_diam = Window.partitionBy(*lhs)
        out = (
            per_pt.withColumn("_diam", F.max("max_distance").over(w_diam))
            .filter(F.col("_diam") > parameter)
            .drop("_diam")
        )
    else:
        raise ValueError(
            f"mfd_highlights: metric {metric!r} not supported (use "
            "mfd_cluster_diameters for the verdict path)"
        )
    wcap = Window.partitionBy(*lhs).orderBy(
        F.col("max_distance").desc(), F.col("point").asc()
    )
    return (
        out.withColumn("_rn", F.row_number().over(wcap))
        .filter(F.col("_rn") <= evidence_cap)
        .drop("_rn")
        .withColumn("exceeds", (F.col("max_distance") > parameter).cast("int"))
    )


def mfd_verify(
    df: DataFrame,
    lhs: Sequence[str],
    rhs: Sequence[str],
    parameter: float,
    metric: str = "euclidean",
    q: int = 2,
    dist_from_null_is_infinity: bool = False,
) -> MFDResult:
    """Full MFD verdict (mfd_holds + highlights,
    bind_mfd_verification.cpp:21-27). ``error`` = fraction of clusters whose
    diameter exceeds ``parameter``; violations = those clusters."""
    lhs = as_cols(lhs)
    rhs = as_cols(rhs)
    diam = mfd_cluster_diameters(
        df, lhs, rhs, metric, q, dist_from_null_is_infinity
    )
    viol = F.col("diameter") > parameter
    m = verdict_fold(diam, [], "cluster_size", viol, "clusters").collect()[0]
    return MFDResult.from_verdict(
        m,
        violations=diam.filter(viol),
        lhs=tuple(lhs),
        rhs=tuple(rhs),
        metric=metric,
        parameter=parameter,
        details={"q": q,
                 "dist_from_null_is_infinity": dist_from_null_is_infinity},
    )
